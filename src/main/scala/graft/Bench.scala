package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Timing methodology: each query is forced through the `noop` datasource
  * sink — unlike `count()`, which lets Catalyst prune away every computed
  * column, noop writes materialize the full result, so the numbers reflect
  * real operator cost. A warm-up query absorbs one-time session/codegen
  * startup so per-query numbers are comparable.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.create(s"local[$cpus]", cpus)

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warm-up: JVM/codegen/parquet-footer caches (not counted). The second
    // warm-up exercises the fixpoint driver loop (checkpoint/aggregate/
    // isEmpty round-trips) whose JIT warmth otherwise lands on whichever
    // letrec_* query runs first — measured drift was warm-up, not plan cost.
    try runOnce(SparkEntry.queries("q1_agg")) catch { case _: Throwable => () }
    try {
      import org.apache.spark.sql.functions.col
      val base = spark.range(1).select(col("id").as("n"))
      graft.plans.Recursion.fixpoint(base,
        f => f.select((col("n") + 1).as("n")).filter(col("n") <= 3))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Third warm-up: the 3-term incremental-join delta chain + threshold.
    // incremental_join_delta3's cross-round 1.33-4.48 s spread is pass-1
    // JIT/codegen warmth (per-pass arrays decline monotonically across all
    // clean rounds), the same class of drift the fixpoint warm-up fixed for
    // letrec_* — warm the deltaN/threshold machinery on a 3-row fixture.
    try {
      import org.apache.spark.sql.functions.col
      import graft.streaming.{Changelog, IncrementalJoin}
      def rel(c: String) = spark.range(3).select(col("id").as("k"), col("id").as(c))
      val states = Seq(Changelog.fromRows(rel("a")),
        Changelog.fromRows(rel("b").withColumnRenamed("k", "k2")
          .select(col("k2").as("k"), col("b"), col("k2"))),
        Changelog.fromRows(rel("c").withColumnRenamed("k", "k2")))
      val deltas = states.map(Changelog.negate)
      val stepKeys = Seq(Seq("k"), Seq("k2"))
      Changelog.threshold(Changelog.unionAll(
          IncrementalJoin.joinChain(states, stepKeys),
          IncrementalJoin.deltaN(states, deltas, stepKeys)))
        .groupBy(col("k"))
        .agg(org.apache.spark.sql.functions.sum(col(Changelog.DiffCol)).as("n"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    // --- machine calibration ------------------------------------------------
    // Three rounds of ~9% total drift with untouched hot paths (r10-r13) were
    // adjudicated as noise but never attributed. These two probes are
    // code-independent — their cost cannot change when engine code changes —
    // so if they drift round-over-round in step with the totals, the cause is
    // the machine (co-tenant load / CPU frequency / page cache), not a plan
    // regression. calib_cpu: single-threaded xorshift64 loop. calib_spark: a
    // fixed shuffle+agg over spark.range (no engine operators involved).
    val loadStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    def timeS(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val calibCpu = {
      def lap(): Double = timeS {
        var x = 0x9e3779b97f4a7c15L; var i = 0L
        while (i < 400000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) println("") // defeat dead-code elimination
      }
      lap(); math.min(lap(), lap()) // first lap warms JIT; min-of-2 after
    }
    val calibSpark = {
      def lap(): Double = timeS {
        spark.range(0, 50000000L, 1, 32)
          .selectExpr("id % 97 AS k", "id AS v")
          .groupBy("k").sum("v")
          .write.format("noop").mode("overwrite").save()
      }
      lap(); math.min(lap(), lap())
    }

    // optional arg: time only queries whose name contains the filter
    // (local iteration; the driver passes no args and times everything)
    val nameFilter: String => Boolean =
      if (args.nonEmpty) (n: String) => n.contains(args(0)) else (_: String) => true

    // A query that throws is recorded with an explicit error marker — never
    // as a fast success (its elapsed time is still reported for context).
    // Each query is timed over three passes and the MIN is reported: a single
    // pass is vulnerable to transient sandbox load (a co-tenant stealing
    // cores inflated one round's artifact 2×), and min-of-3 recovers the
    // un-contended cost without hiding real plan regressions.
    val passes = 3
    // all pass durations per query, kept for the detail file: pass1 >> pass3
    // everywhere = warmth; random spikes across passes = contention
    val passTimes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // (name, min seconds, first error if ALL passes failed, count of failed passes)
    val results = SparkEntry.queries.toSeq.filter(q => nameFilter(q._1))
      .sortBy(_._1).map { case (name, fn) =>
      val timed = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val err = try { runOnce(fn); None } catch {
          case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(160))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      passTimes(name) = timed.map(_._1)
      val ok = timed.filter(_._2.isEmpty)
      val nFail = timed.count(_._2.nonEmpty)
      if (ok.nonEmpty) (name, ok.map(_._1).min, None, nFail)
      else (name, timed.map(_._1).min, timed.head._2, nFail)
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def jstr(s: String): String = om.writeValueAsString(s)
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qmap(rs: Seq[(String, Double, Option[String], Int)]): String =
      rs.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => "\"" + k + "\":" + jstr(e) }
      .mkString("{", ",", "}")
    // A query that failed some-but-not-all passes is flaky, not clean: surface
    // the pass-level failure count instead of letting min-of-passes hide it.
    val flaky = results.collect { case (k, _, None, n) if n > 0 => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.filter(_._3.isEmpty).map(_._2).sum
    // System load average over the bench window: lets a reader distinguish a
    // plan regression from sandbox contention (co-tenant load inflated the
    // r4/r6 artifacts; the same queries ran 4-7x faster on an idle box).
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    def jsonFor(qs: Seq[(String, Double, Option[String], Int)], detail: String): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_ok":${results.count(_._3.isEmpty)},"n_err":${results.count(_._3.nonEmpty)},"loadavg":${r3(load)},"loadavg_start":${r3(loadStart)},"calib_cpu":${r3(calibCpu)},"calib_spark":${r3(calibSpark)},"errors":$errs,"flaky":$flaky,"queries":${qmap(qs)},"sf":${jstr(sfDir)}$detail}"""
    val passesJson = passTimes
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map(r3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val full = jsonFor(results, s""","passes":$passesJson""")
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/BENCH.json")).toAbsolutePath
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, full)
    // The driver keeps only the last ~2000 chars of stdout; the full per-query
    // map (~3.5 KB) overflows that, so print a compact line holding the
    // slowest queries (the ones worth grading) + the detail path. The line
    // must be the LAST thing this process writes, must be well under the tail
    // window even after the errors object grows, and (build.sbt
    // run/outputStrategy) must reach stdout without sbt's "[info] " prefix —
    // all three failed at some point in rounds 1-19 and the driver never
    // parsed the line (every BENCH_r*.json: parsed=null).
    val line =
      if (full.length <= 1500) full
      else jsonFor(results.sortBy(-_._2).take(15).sortBy(_._1), s""","detail":${jstr(out.toString)}""")
    println(s"BENCH_JSON_PATH=$out")
    println(line)
    System.out.flush()
    spark.stop()
  }
}
