package mvbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import graft.GraftSession

/** Engine-side harness of the benchmark. It runs one workload in this JVM,
  * on the session every library user gets (`GraftSession.create`), and
  * writes raw timings, spans and check material for `run.py`, which turns
  * them into metrics and checks them against the model and the oracle.
  *
  * Usage: `mvbench.Main --plan <plan.json> --work <dir> --seconds <s>
  * --trace <0|1>`
  */
object Main {
  val mapper = new ObjectMapper()
  val Master = "local[4]"

  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  /** A result cell as a JSON-friendly value. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case x: Long => x
    case x: Int => x.toLong
    case x: Double => x
    case x => x.toString
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Files under the catalog: path -> bytes. */
  private def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.map(f => f.toString -> (if (Files.isRegularFile(f)) Files.size(f) else -1L)).toMap
      finally s.close()
    }

  /** Deltas merged on read of `view` at `version`: versions above the
    * nearest full snapshot at or below it, from the directory listing. */
  private def chainLen(catalog: Path, view: String, version: Long): Long = {
    val d = catalog.resolve(view)
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.list(d)
      val bases = try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).filter(_ <= version).toSeq
      finally s.close()
      if (bases.isEmpty) 0L else version - bases.max
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val plan = mapper.readTree(Paths.get(opt("plan")).toFile)
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val workload = plan.get("workload").asText
    val out = Files.createDirectories(work.resolve("out"))

    // ---- set-up, from JVM start (epoch ms, moved onto the monotonic clock)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = jvmStartMs * 1000000L - (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val s0 = System.nanoTime()
    val spark = GraftSession.create(Master)
    val s1 = System.nanoTime()
    val tracer = new Tracer(spark.sparkContext)
    val catalog = work.resolve("catalog")
    val wl = Workload(workload, spark, plan, catalog, tracer)
    wl.createViews()
    val s2 = System.nanoTime()
    val setup = Map("session_s" -> (s1 - s0) / 1e9, "views_s" -> (s2 - s1) / 1e9,
      "total_s" -> (s2 - t0) / 1e9)
    val errors = mutable.ArrayBuffer.empty[String]
    val w0 = System.nanoTime()
    val warm = wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    warm.failed.foreach(e => errors += s"warm-up: $e")
    val heap = mutable.ArrayBuffer(Counters.liveHeapMb())

    // ---- timed phases ----------------------------------------------------
    var exhausted = false
    val spanOut = mutable.ArrayBuffer.empty[Map[String, Any]]

    def phase(trace: Boolean): Map[String, Any] = {
      val events = if (trace) SparkEvents.attach(spark) else null
      tracer.enabled = trace
      val recs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
      val rootOf = mutable.Map.empty[Int, Int] // op span id -> record index
      // stop at the cycle boundary nearest the deadline, after at least one
      val start = System.nanoTime()
      val cycle = wl.cycle
      def done(n: Int): Boolean = n > 0 && n % cycle == 0 && {
        val elapsed = (System.nanoTime() - start) / 1e9
        elapsed + elapsed / (n / cycle) / 2 >= seconds
      }
      var loopNs = 0L
      var more = true
      while (more && !done(recs.size)) {
        wl.nextOp() match {
          case None => exhausted = true; more = false
          case Some(op) =>
            val before = if (trace) listing(catalog) else Map.empty[String, Long]
            val gc0 = Counters.gcCount; val gcMs0 = Counters.gcMs
            val cg0 = Counters.codegenCompiles; val cgNs0 = Counters.codegenNs
            val chain = if (trace) op.reads.map { case (v, ver) => chainLen(catalog, v, ver) } else None
            val spanId = tracer.spans.size
            val startUs = Clock.nowUs()
            val t0 = System.nanoTime()
            val res = try Right(tracer.span(op.kind)(op.run())) catch { case NonFatal(e) => Left(e) }
            val dt = System.nanoTime() - t0
            loopNs += dt
            val rec = mutable.Map[String, Any]("kind" -> op.kind, "name" -> op.name,
              "primary" -> op.primary, "start_us" -> startUs,
              "dur_ms" -> dt / 1e6, "ok" -> res.isRight)
            res.left.foreach(e => errors += s"${op.kind}/${op.name}: $e")
            if (trace) {
              val after = listing(catalog)
              val added = after.keySet -- before.keySet
              val deltaDirs = after.keySet.filter(_.contains("/delta="))
              rec ++= Map(
                "jvm.gc_count" -> (Counters.gcCount - gc0), "jvm.gc_ms" -> (Counters.gcMs - gcMs0),
                "spark.codegen_compiles" -> (Counters.codegenCompiles - cg0),
                "spark.codegen_ms" -> (Counters.codegenNs - cgNs0) / 1e6,
                "views.commit_files" -> added.count(p => after(p) >= 0),
                "views.commit_mb" -> added.toSeq.map(after(_)).filter(_ >= 0).sum / 1048576.0,
                "views.compactions" -> added.count { p =>
                  after(p) < 0 && p.matches(".*/v=\\d+$") &&
                    deltaDirs.contains(p.replaceAll("/v=(\\d+)$", "/delta=$1"))
                },
                "views.chain_len" -> chain.getOrElse(0L))
              rootOf(spanId) = recs.size
            }
            recs += rec
            op.after(res)
        }
      }
      if (trace) {
        SparkEvents.detach(spark, events)
        tracer.enabled = false
        attribute(tracer, events, recs, rootOf)
        spanOut ++= spansJson(tracer, events)
      }
      heap += Counters.liveHeapMb()
      Map("traced" -> trace, "loop_s" -> loopNs / 1e9, "ops" -> recs.map(_.toMap))
    }

    // the JIT is still warming in the first loop (later loops ran 10-30%
    // faster), so the traced loop is compared with the untraced loop after it
    val phases = (if (traced) Seq(false, true, false) else Seq(false)).map(phase)
    val catalogBytes = dirBytes(catalog)
    try wl.dump(out)
    catch { case NonFatal(e) => errors += s"dump: $e" }
    val result = Map(
      "workload" -> workload, "setup" -> setup, "warmup_s" -> warmupS,
      "warmup_ops" -> warm.ops, "warmup_failed" -> warm.failed.size, "phases" -> phases,
      "heap_live_mb" -> heap, "catalog_bytes" -> catalogBytes,
      "jvm_failures" -> wl.failures, "errors" -> errors, "exhausted" -> exhausted)
    Files.write(out.resolve("result.json"), mapper.writeValueAsBytes(toJava(result)))
    if (traced) Files.write(out.resolve("spans.json"), mapper.writeValueAsBytes(toJava(spanOut)))
    wl.close()
    spark.stop()
  }

  private val ChildTimers = Seq("sql.statement", "views.apply", "views.refresh",
    "views.read", "views.fetch")

  /** Fold child spans, Spark jobs and tasks, and Catalyst phases into the
    * operation records they belong to. */
  private def attribute(tr: Tracer, ev: SparkEvents,
      recs: mutable.ArrayBuffer[mutable.Map[String, Any]], rootOf: mutable.Map[Int, Int]): Unit = {
    def add(span: Int, key: String, v: Double): Unit =
      rootOf.get(tr.root(span)).foreach { i =>
        val r = recs(i)
        r(key) = r.getOrElse(key, 0.0).asInstanceOf[Number].doubleValue + v
      }
    recs.foreach { r =>
      (ChildTimers.map(_ + "_ms") ++ Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "catalyst.executions", "tables.files_read", "tables.scan_mb",
        "spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.shuffle_write_mb",
        "spark.shuffle_read_mb", "spark.spill_mb")).foreach(k => r(k) = 0.0)
    }
    tr.spans.foreach { s =>
      if (s.parent >= 0 && ChildTimers.contains(s.name)) add(s.id, s.name + "_ms", (s.endUs - s.startUs) / 1000.0)
    }
    val jobsByOp = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    ev.jobs.values.asScala.foreach { j =>
      add(j.span, "spark.jobs", 1)
      rootOf.get(tr.root(j.span)).foreach(i =>
        jobsByOp.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += (j.startMs -> j.endMs))
    }
    ev.tasks.asScala.foreach { case (span, a) =>
      add(span, "spark.tasks", a(0).toDouble); add(span, "spark.task_cpu_s", a(1) / 1e9)
      add(span, "spark.shuffle_write_mb", a(2) / 1048576.0)
      add(span, "spark.shuffle_read_mb", a(3) / 1048576.0)
      add(span, "spark.spill_mb", a(4) / 1048576.0)
    }
    ev.executions.asScala.foreach { e =>
      e.phases.foreach { case (phase, (s, t)) =>
        if (phase != "parsing") tr.innermostAt(s).foreach(add(_, s"catalyst.${phase}_ms", (t - s).toDouble))
      }
      e.phases.get("planning").orElse(e.phases.get("analysis")).flatMap(p => tr.innermostAt(p._1))
        .foreach { sp =>
          add(sp, "catalyst.executions", 1)
          add(sp, "tables.files_read", e.files.toDouble)
          add(sp, "tables.scan_mb", e.bytes / 1048576.0)
        }
    }
    // wall time of the operation that none of its jobs covers
    recs.zipWithIndex.foreach { case (r, i) =>
      val start = r("start_us").asInstanceOf[Long] / 1000.0
      val end = start + r("dur_ms").asInstanceOf[Double]
      val iv = jobsByOp.getOrElse(i, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a.toDouble, start), math.min(b.toDouble, end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curE.isNaN || a > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curE.isNaN) covered += curE - curS
      r("spark.driver_ms") = math.max(0.0, r("dur_ms").asInstanceOf[Double] - covered)
    }
  }

  /** Every span of the traced phase, with Spark jobs and Catalyst phases as
    * child spans of the benchmark span they ran under. */
  private def spansJson(tr: Tracer, ev: SparkEvents): Seq[Map[String, Any]] = {
    var next = tr.spans.size
    def mk(parent: Int, name: String, s: Long, e: Long) = {
      next += 1
      Map("id" -> (next - 1), "parent" -> parent, "name" -> name, "start_us" -> s, "end_us" -> e)
    }
    tr.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs)) ++
      ev.jobs.values.asScala.toSeq.map(j => mk(j.span, "spark.job", j.startMs * 1000, j.endMs * 1000)) ++
      ev.executions.asScala.toSeq.flatMap(_.phases.toSeq.flatMap { case (p, (s, e)) =>
        tr.innermostAt(s).map(sp => mk(sp, s"catalyst.$p", s * 1000, e * 1000))
      })
  }
}
