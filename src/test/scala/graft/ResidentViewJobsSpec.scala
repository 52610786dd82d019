package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sql.GraftSqlCatalog
import graft.streaming.Changelog
import graft.views.ViewCatalog

/** Reads of a view's recent versions are served from driver memory and run
  * no Spark job: the SQL point lookup through the view's temp name, and
  * AS OF reads of the last four versions. Older versions still scan
  * parquet, and so does a view that does not fit the catalog's row
  * budget. A catalog opened over an existing directory builds those
  * persist reads without a job too: it knows each view's schema. */
class ResidentViewJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `f` with `listener` seeing the Spark jobs it launches from this
    * thread: `mine` tells whether a job-start event is one of them. */
  private def probing(f: => Unit)(listener: (SparkListenerJobStart => Boolean) => SparkListener): Unit = {
    val sc = spark.sparkContext
    val probe = "resident-jobs-" + System.nanoTime()
    val l = listener(e => e.properties != null && e.properties.getProperty("graft.probe") == probe)
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.probe", probe)
    try f
    finally {
      sc.setLocalProperty("graft.probe", null)
      TestListenerBus.drain(sc)
      sc.removeSparkListener(l)
    }
  }

  /** Spark jobs `f` launches from this thread. */
  private def jobsOf(f: => Unit): Int = {
    val jobs = new AtomicInteger
    probing(f)(mine => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (mine(e)) jobs.incrementAndGet()
    })
    jobs.get
  }

  /** Bytes of task results the jobs `f` launches send to the driver. */
  private def resultBytesOf(f: => Unit): Long = {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    probing(f)(mine => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e)) e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    })
    bytes.get
  }

  private def refresh(cat: ViewCatalog, view: String, rows: (Long, Long)*): Long =
    cat.refreshIncrementalAccumulable(view, Changelog.fromRows(rows.toDF("pkey", "qty")),
      Seq("pkey"), Map("sum_qty" -> "qty"))

  test("a SQL point lookup on a maintained view runs no job after an incremental refresh") {
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("pkey", "qty")
      .createOrReplaceTempView("resjobs_base")
    spark.sql("""CREATE OR REPLACE MATERIALIZED VIEW resjobs_agg AS
      |SELECT pkey, count(*) AS support, sum(qty) AS sum_qty
      |FROM resjobs_base GROUP BY pkey""".stripMargin)
    val cat = GraftSqlCatalog.forSession(spark)
    refresh(cat, "resjobs_agg", (2L, 5L), (4L, 7L))
    var got: Array[Row] = null
    val jobs = jobsOf {
      got = spark.sql("SELECT pkey, support, sum_qty FROM resjobs_agg WHERE pkey = 2").collect()
    }
    assert(jobs == 0)
    assert(got.toSeq == Seq(Row(2L, 2L, 25L)))
    spark.sql("DROP MATERIALIZED VIEW resjobs_agg")
  }

  test("AS OF reads inside the four-version window run no job; older ones scan parquet") {
    val cat = new ViewCatalog(spark, tempDir("graft-resident-jobs").toString)
    cat.createMaterializedView("asof_agg", _ =>
      Seq((1L, 1L, 10L), (2L, 1L, 20L)).toDF("pkey", "support", "sum_qty"))
    val ts = scala.collection.mutable.ArrayBuffer(cat.globalReadTs())
    (1 to 6).foreach { i =>
      refresh(cat, "asof_agg", (1L, i.toLong), (10L + i, 1L))
      ts += cat.globalReadTs()
    }
    def read(v: Int): Array[Row] =
      cat.tableAtTime("asof_agg", ts(v)).filter(col("pkey").between(1L, 2L))
        .select("pkey", "sum_qty").collect()
    (3 to 6).foreach { v =>
      var got: Array[Row] = null
      assert(jobsOf { got = read(v) } == 0, s"version $v")
      assert(got.toSet == Set(Row(1L, 10L + (1 to v).sum), Row(2L, 20L)), s"version $v")
    }
    val old = cat.tableAtTime("asof_agg", ts(2))
    assert(old.inputFiles.exists(_.contains("v=0")), "version 2 must read persist")
    var got: Array[Row] = null
    assert(jobsOf { got = read(2) } > 0)
    assert(got.toSet == Set(Row(1L, 13L), Row(2L, 20L)))
  }

  test("a catalog opened over an existing directory builds merge-on-read reads without a job") {
    val dir = tempDir("graft-resident-reopen").toString
    val live = new ViewCatalog(spark, dir)
    live.createMaterializedView("reopen_agg", _ =>
      Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L)).toDF("pkey", "support", "sum_qty"))
    (1 to 3).foreach(i => refresh(live, "reopen_agg", (1L, i.toLong), (10L + i, 1L)))
    // version 3 is v=0 plus delta=1..3; nothing of it is resident in a new catalog
    val reopened = new ViewCatalog(spark, dir)
    var table: org.apache.spark.sql.DataFrame = null
    var delta: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { table = reopened.tableAt("reopen_agg", 3L) } == 0)
    assert(jobsOf { delta = reopened.deltaAt("reopen_agg", 2L) } == 0)
    assert(table.inputFiles.exists(_.contains("v=0")), "version 3 must read persist")
    assert(table.collect().toSet == live.tableAt("reopen_agg", 3L).collect().toSet)
    assert(delta.collect().toSet == live.deltaAt("reopen_agg", 2L).collect().toSet)
    assert(delta.collect().toSet == Set(Row(1L, 2L, 11L, -1L), Row(1L, 3L, 13L, 1L),
      Row(12L, 1L, 1L, 1L)))
  }

  test("a retraction of -0.0 cancels a stored 0.0 without evicting the view") {
    val cat = new ViewCatalog(spark, tempDir("graft-resident-zero").toString)
    cat.commitState("zeros", Seq((1L, 0.0), (2L, Double.NaN), (3L, 1.5)).toDF("k", "x"))
    // the first delta commit seeds the resident copy
    cat.commitState("zeros", cat.table("zeros").unionByName(Seq((4L, 2.0)).toDF("k", "x")),
      Some(Changelog.fromRows(Seq((4L, 2.0)).toDF("k", "x"))))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    cat.commitState("zeros", cat.table("zeros").filter(col("k") > 2), Some(Changelog.negate(
      Changelog.fromRows(Seq((1L, -0.0), (2L, otherNaN)).toDF("k", "x")))))
    var got: Array[Row] = null
    assert(jobsOf { got = cat.table("zeros").collect() } == 0, "the view was evicted")
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("a snapshot holding 0.0 and -0.0 is not served from memory") {
    // one resident row per SQL value cannot give back both float forms
    val cat = new ViewCatalog(spark, tempDir("graft-resident-forms").toString)
    cat.commitState("forms", Seq((1L, 0.0), (1L, -0.0)).toDF("k", "x"))
    cat.commitState("forms", Seq((1L, 0.0), (1L, -0.0), (2L, 1.0)).toDF("k", "x"),
      Some(Changelog.fromRows(Seq((2L, 1.0)).toDF("k", "x"))))
    assert(cat.tableAt("forms", 0L).inputFiles.nonEmpty, "version 0 is served from memory")
    val bits = cat.tableAt("forms", 0L).collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(bits.sorted.toSeq == Seq(-0.0, 0.0).map(java.lang.Double.doubleToRawLongBits).sorted)
  }

  // ResidentZSet.RowBudget: rows all resident versions of a catalog hold
  private val budget = 50000L

  // rows whose doubles do not compress, so collecting them would show in
  // the task result bytes: about 400 KB per budget's worth
  private def xs(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("k"), (hash(col("id")) / 7.0).as("x"))

  test("a delta over the row budget evicts the view without reaching the driver") {
    val cat = new ViewCatalog(spark, tempDir("graft-resident-big").toString)
    cat.commitState("grow", xs(0L, 2L))
    cat.commitState("grow", xs(0L, 3L), Some(Changelog.fromRows(xs(2L, 3L))))
    assert(cat.table("grow").inputFiles.isEmpty, "the view is resident")
    val bytes = resultBytesOf {
      cat.commitState("grow", xs(0L, 4L + budget), Some(Changelog.fromRows(xs(3L, 4L + budget))))
    }
    assert(bytes < 100000L, s"the commit sent $bytes bytes of results to the driver")
    assert(cat.table("grow").inputFiles.nonEmpty, "the view stayed resident")
    assert(cat.tableAt("grow", 1L).inputFiles.nonEmpty, "an older version stayed resident")
    assert(cat.table("grow").count() == 4L + budget)
    // persist-only until its next incarnation, however small the next delta
    cat.commitState("grow", xs(1L, 4L + budget),
      Some(Changelog.negate(Changelog.fromRows(xs(0L, 1L)))))
    assert(cat.table("grow").inputFiles.nonEmpty)
    assert(cat.tableAt("grow", 3L).filter(col("k") < 2L).collect().toSeq == xs(1L, 2L).collect().toSeq)
  }

  test("the row budget is shared by every view of the catalog") {
    val cat = new ViewCatalog(spark, tempDir("graft-resident-shared").toString)
    val rows = budget * 3 / 5
    def grow(v: String): Unit =
      cat.commitState(v, xs(0L, rows + 1), Some(Changelog.fromRows(xs(rows, rows + 1))))
    Seq("first", "second").foreach(v => cat.commitState(v, xs(0L, rows)))
    grow("first")
    val bytes = resultBytesOf(grow("second"))
    assert(cat.table("first").inputFiles.isEmpty, "the first view is not resident")
    assert(cat.table("second").inputFiles.nonEmpty, "the second view is resident beside the first")
    assert(bytes < 100000L, s"the second view's snapshot reached the driver ($bytes bytes)")
    assert(cat.table("second").count() == rows + 1)
  }
}
