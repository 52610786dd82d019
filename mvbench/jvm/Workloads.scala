package mvbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.sql.GraftSqlCatalog
import graft.streaming.Changelog
import graft.views.{MaintainedJoin, ViewCatalog}

/** One timed operation. `primary` operations are the ones the end-to-end
  * latency is about (a read, a query; not a commit); `reads` names the view
  * and version a read resolves, for the chain-length count. */
final case class Op(kind: String, name: String, primary: Boolean,
    run: () => Any, reads: Option[(String, Long)] = None,
    after: Either[Throwable, Any] => Unit = _ => ())

/** What the untimed warm-up did: operations run and the errors of those
  * that threw. Wrong answers are caught by the checks after the run. */
final case class Warmup(ops: Int, failed: Seq[String])

abstract class Workload(val spark: SparkSession, val plan: JsonNode,
    val catalogDir: Path, val tracer: Tracer) {
  val dir: String = plan.get("dir").asText
  /** Creates the views (or registers the tables) the workload reads. */
  def createViews(): Unit
  /** Untimed operations after set-up, so timing starts warm. */
  def warmup(): Warmup
  /** Operations in one repetition of the workload's mix; the timed loop
    * runs whole cycles so every run measures the same composition. */
  def cycle: Int
  def nextOp(): Option[Op]
  /** Writes what the correctness model needs; runs after timing. */
  def dump(out: Path): Unit
  /** Mismatches the JVM itself found (result drift between passes). */
  def failures: Int = 0
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, plan: JsonNode, catalogDir: Path,
      tracer: Tracer): Workload = name match {
    case "mv_serve" => new MvServe(spark, plan, catalogDir, tracer)
    case "sql_adhoc" => new SqlAdhoc(spark, plan, catalogDir, tracer)
  }

  def json(v: Any): String = Main.mapper.writeValueAsString(Main.toJava(v))

  /** Runs `ops` untimed, each with its `after` hook, and tallies them. */
  def runUntimed(ops: Seq[Op]): Warmup = {
    val failed = ops.flatMap { x =>
      val r = scala.util.Try(x.run()).toEither
      x.after(r)
      r.left.toOption.map(e => s"${x.kind}/${x.name}: $e")
    }
    Warmup(ops.size, failed)
  }
}

import Workload._

/** Read-heavy serving over two views that share one catalog: an
  * accumulable aggregate created through SQL and a binary MaintainedJoin of
  * an orders-like and a lineitem-like changelog. Reads are SQL point lookups
  * on the aggregate, a SQL range aggregate over the join output, AS OF reads
  * at a pinned global timestamp and FETCH from an open SUBSCRIBE. Every
  * twelve reads one changelog batch commits to both views, so reads see
  * delta chains of length 0 to 3. Every operation and its result goes
  * to a log the correctness model replays. */
final class MvServe(spark: SparkSession, plan: JsonNode, catalogDir: Path,
    tracer: Tracer) extends Workload(spark, plan, catalogDir, tracer) {
  private val batches = plan.get("batches").asScala.toIndexedSeq
  private val script = plan.get("script").asScala.toIndexedSeq
  private val warm = plan.get("warmup_commits").asInt
  private def longSchema(cols: String*) = StructType(cols.map(StructField(_, LongType)))
  private val aSchema = longSchema("okey", "ckey", "oval", Changelog.DiffCol)
  private val bSchema = longSchema("okey", "lid", "pkey", "qty", "price", Changelog.DiffCol)
  private val aggCols = Seq("pkey", "support", "sum_qty", "sum_price").map(col)
  private var cat: ViewCatalog = _
  private var join: MaintainedJoin = _
  private var pos = 0
  // global read timestamp and aggregate version after each commit; entry 0
  // is the state right after the views were created
  private val commitTs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val commitVer = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val log = scala.collection.mutable.ArrayBuffer.empty[String]

  def createViews(): Unit = {
    spark.conf.set("spark.graft.viewDir", catalogDir.toString)
    val orders = Tables.load(spark, dir, "orders")
    val lines = Tables.load(spark, dir, "lineitem")
    lines.createOrReplaceTempView("lineitem")
    spark.sql("""CREATE MATERIALIZED VIEW pagg AS
      |SELECT pkey, count(*) AS support, sum(qty) AS sum_qty, sum(price) AS sum_price
      |FROM lineitem GROUP BY pkey""".stripMargin).collect()
    cat = GraftSqlCatalog.forSession(spark)
    join = new MaintainedJoin(cat, "oj", Seq("okey"))
    join.initialize(orders, lines)
    // the join's consolidated changelog, re-bound to SQL on every commit
    cat.exposeAsTempView("oj__out")
    spark.sql("SUBSCRIBE pagg WITH (SNAPSHOT)").collect()
    commitTs += cat.globalReadTs()
    commitVer += cat.currentVersion("pagg").get
  }

  private def commit(i: Int): Unit = {
    val b = batches(i)
    val a = spark.read.schema(aSchema).parquet(s"$dir/${b.get("a").asText}")
    val l = spark.read.schema(bSchema).parquet(s"$dir/${b.get("b").asText}")
    tracer.span("views.apply") { join.applyBatch(a, l, i.toLong) }
    tracer.span("views.refresh") {
      cat.refreshIncrementalAccumulable("pagg", l, Seq("pkey"),
        Map("sum_qty" -> "qty", "sum_price" -> "price"))
    }
    commitTs += cat.globalReadTs()
    commitVer += cat.currentVersion("pagg").get
  }

  private def sqlRead(text: String): Array[Row] = {
    val df = tracer.span("sql.statement") { spark.sql(text) }
    tracer.span("collect") { df.collect() }
  }

  private def logRead(o: JsonNode, extra: Map[String, Any])(r: Either[Throwable, Any]): Unit =
    log += json(Map("k" -> o.get("k").asText, "commits" -> (commitTs.size - 1),
      "op" -> Main.mapper.convertValue(o, classOf[java.util.Map[String, Any]]),
      "ok" -> r.isRight,
      "rows" -> r.toOption.map(_.asInstanceOf[Array[Row]].toSeq
        .map(_.toSeq.map(Main.cell))).getOrElse(Nil)) ++ extra)

  private def op(o: JsonNode): Op = o.get("k").asText match {
    case "commit" =>
      val b = warm + o.get("batch").asInt
      Op("commit", "commit", primary = false, () => commit(b), after = _ => log += json(Map("k" -> "commit", "batch" -> b)))
    case k @ ("pt" | "rng") =>
      val view = if (k == "pt") "pagg" else "oj__out"
      Op("read", k, primary = true, () => sqlRead(o.get("sql").asText),
        reads = cat.currentVersion(view).map(view -> _), after = logRead(o, Map.empty))
    case "asof" =>
      val pin = math.max(0, commitTs.size - 1 - o.get("lag").asInt)
      val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
      Op("read", "asof", primary = true, () => {
        val df = tracer.span("views.read") { cat.tableAtTime("pagg", commitTs(pin)) }
        tracer.span("collect") { df.filter(col("pkey").between(lo, hi)).select(aggCols: _*).collect() }
      }, reads = Some("pagg" -> commitVer(pin)), after = logRead(o, Map("pin" -> pin)))
    case "fetch" =>
      Op("read", "fetch", primary = true,
        () => tracer.span("views.fetch") { spark.sql("FETCH pagg").collect() },
        after = logRead(o, Map.empty))
  }

  // one commit and the reads that follow it
  private def commitCycle: Int = script.indexWhere(_.get("k").asText == "commit", 1)

  // the aggregate writes a full snapshot every fourth commit (the catalog's
  // default compaction period), so four commit cycles see every delta-chain
  // length from 0 to 3 once
  def cycle: Int = 4 * commitCycle

  /** The warm-up commits, then the 12 reads of the script's last commit
    * cycle, which the timed loop never reaches, so no timed read repeats a
    * warm-up text. */
  def warmup(): Warmup = {
    val commits = (0 until warm).map { b =>
      Op("commit", "commit", primary = false, () => commit(b),
        after = _ => log += json(Map("k" -> "commit", "batch" -> b)))
    }
    val c = runUntimed(commits)
    // read ops are built after the commits ran: AS OF pins to commit times
    val r = runUntimed(script.takeRight(commitCycle)
      .filter(_.get("k").asText != "commit").map(op))
    Warmup(c.ops + r.ops, c.failed ++ r.failed)
  }

  def nextOp(): Option[Op] =
    if (pos >= script.size) None
    else { pos += 1; Some(op(script(pos - 1))) }

  def dump(out: Path): Unit =
    Files.write(out.resolve("serve_log.jsonl"), log.asJava)

  override def close(): Unit = spark.sql("CLOSE pagg").collect()
}

/** Batch analytics: a fixed mix of SQL texts over generated TPC-H-style
  * tables, run pass after pass. The first pass's results go to the DuckDB
  * oracle; every later pass must return the same rows. */
final class SqlAdhoc(spark: SparkSession, plan: JsonNode, catalogDir: Path,
    tracer: Tracer) extends Workload(spark, plan, catalogDir, tracer) {
  private val queries = plan.get("queries").asScala.toIndexedSeq
    .map(q => q.get("name").asText -> q.get("sql").asText)
  private var i = 0
  private val first = scala.collection.mutable.Map.empty[String, (Seq[String], Array[Row])]
  private var drift = 0

  def createViews(): Unit =
    plan.get("tables").asScala.map(_.asText).foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }

  private def run(sql: String): (Seq[String], Array[Row]) = {
    val df = tracer.span("sql.statement") { spark.sql(sql) }
    (df.columns.toSeq, tracer.span("collect") { df.collect() })
  }

  /** Row multiset in a form that ignores row order and float rounding in
    * the last digits (partial aggregates may merge in any order). */
  private def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.9e"
      case b: java.math.BigDecimal => f"${b.doubleValue}%.9e"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def check(name: String)(r: Either[Throwable, Any]): Unit = r match {
    case Right((cols: Seq[String] @unchecked, rows: Array[Row] @unchecked)) =>
      first.get(name) match {
        case None => first(name) = (cols, rows)
        case Some((_, r0)) => if (canon(r0) != canon(rows)) drift += 1
      }
    case _ =>
  }

  // three passes: with one pass per cycle a 20 s loop ran two passes on
  // some runs and three on others (a pass takes about 8 s), and since the
  // first timed pass is still the slowest, the pass count alone moved the
  // per-query means by about 10%
  def cycle: Int = 3 * queries.size

  /** Two passes: the first compiles every query's code, the second lets
    * the JIT settle. The first pass's results go to the oracle. */
  def warmup(): Warmup = runUntimed(for (_ <- 1 to 2; (n, sql) <- queries)
    yield Op("query", n, primary = true, () => run(sql), after = check(n)))

  def nextOp(): Option[Op] = {
    val (n, sql) = queries(i % queries.size)
    val pass = i / queries.size
    i += 1
    Some(Op("query", s"$n#$pass", primary = true, () => run(sql), after = check(n)))
  }

  def dump(out: Path): Unit = {
    val res = first.map { case (n, (cols, rows)) =>
      n -> Map("columns" -> cols, "rows" -> rows.toSeq.map(_.toSeq.map(Main.cell)))
    }
    Files.write(out.resolve("adhoc_results.json"), json(res.toMap).getBytes)
  }

  override def failures: Int = drift
}
