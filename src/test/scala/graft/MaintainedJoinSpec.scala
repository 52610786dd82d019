package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sql.{GraftSqlCatalog, SubscribeFrame}
import graft.streaming.Changelog
import graft.views.{MaintainedJoin, ViewCatalog}

class MaintainedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("maintained join view advances by delta batches and matches full recompute") {
    val cat = new ViewCatalog(spark, tempDir("graft-mj").toString)
    val mj = new MaintainedJoin(cat, "oc", Seq("k"))

    val a0 = Seq((1, "a1"), (2, "a2"), (3, "a3")).toDF("k", "av")
    val b0 = Seq((1, "b1"), (2, "b2")).toDF("k", "bv")
    mj.initialize(a0, b0)
    assert(mj.output.select("k", "av", "bv").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2))).toSet ==
      Set((1, "a1", "b1"), (2, "a2", "b2")))

    // batch 1: retract a2, insert b3 (k=3) — join gains (3,a3,b3), loses (2,..)
    mj.applyBatch(
      Changelog.negate(Changelog.fromRows(Seq((2, "a2")).toDF("k", "av"))),
      Changelog.fromRows(Seq((3, "b3")).toDF("k", "bv")))
    assert(mj.output.select("k", "av", "bv").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2))).toSet ==
      Set((1, "a1", "b1"), (3, "a3", "b3")))

    // batch 2: double-insert a1 (multiplicity 2) and retract b1 entirely
    mj.applyBatch(
      Changelog.fromRows(Seq((1, "a1")).toDF("k", "av")),
      Changelog.negate(Changelog.fromRows(Seq((1, "b1")).toDF("k", "bv"))))
    val out = mj.output.select(col("k"), col("av"), col("bv"), col(Changelog.DiffCol)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(out == Set((3, "a3", "b3", 1L)))

    // history preserved: three committed output versions
    assert(mj.outputVersion.contains(2L))
  }

  test("replayed batchId is a no-op; refreshFull never double-applies a delta") {
    val cat = new ViewCatalog(spark, tempDir("graft-mj2").toString)
    val mj = new MaintainedJoin(cat, "idem", Seq("k"))
    mj.initialize(Seq((1, "a1"), (2, "a2")).toDF("k", "av"), Seq((1, "b1")).toDF("k", "bv"))

    def snapshot(): Set[(Int, String, String, Long)] =
      mj.output.select(col("k"), col("av"), col("bv"), col(Changelog.DiffCol)).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

    val emptyA = Changelog.fromRows(Seq.empty[(Int, String)].toDF("k", "av"))
    val delta = Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv"))
    assert(mj.applyBatch(emptyA, delta, batchId = 0L), "first delivery must apply")
    val after = snapshot()
    assert(after == Set((1, "a1", "b1", 1L), (2, "a2", "b2", 1L)))

    // exactly-once: a replayed foreachBatch with the same batchId is a no-op
    assert(!mj.applyBatch(emptyA, delta, batchId = 0L))
    assert(snapshot() == after)
    assert(cat.lastBatchId("idem") == 0L)

    // the registered definition recomputes from live inputs — a full refresh
    // after the batch must NOT re-apply the captured delta (round-2 defect)
    cat.refreshFull("idem__out")
    assert(snapshot() == after)
  }

  test("torn commit is invisible: orphan version dirs without a manifest flip") {
    val base = tempDir("graft-mj3").toString
    val cat = new ViewCatalog(spark, base)
    val mj = new MaintainedJoin(cat, "torn", Seq("k"))
    mj.initialize(Seq((1, "a1")).toDF("k", "av"), Seq((1, "b1")).toDF("k", "bv"))
    val seq0 = cat.currentGroupSeq("torn").get

    // simulate a crash mid-commit: a new version dir for ONE member got
    // written, but the group manifest never flipped
    Seq((9, "a9", 1L)).toDF("k", "av", Changelog.DiffCol)
      .write.mode("overwrite").parquet(s"$base/torn__in0/v=1")
    assert(cat.currentGroupSeq("torn").contains(seq0)) // pointer unmoved
    assert(cat.table("torn__in0").select("k").collect().map(_.getInt(0)).toSet == Set(1))

    // the replayed batch overwrites the orphan and commits atomically
    assert(mj.applyBatch(
      Changelog.fromRows(Seq((2, "a2")).toDF("k", "av")),
      Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv")), batchId = 0L))
    assert(mj.output.select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(cat.table("torn__in0").select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("a group commit whose second member fails to write changes nothing; its retry applies") {
    val base = tempDir("graft-mj-fail").toString
    val cat = new ViewCatalog(spark, base)
    val mj = new MaintainedJoin(cat, "gf", Seq("k"))
    mj.initialize(Seq((1, "a1"), (2, "a2")).toDF("k", "av"), Seq((1, "b1")).toDF("k", "bv"))
    assert(mj.applyBatch(Changelog.fromRows(Seq((3, "a3")).toDF("k", "av")),
      Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv")), batchId = 0L))
    val members = Seq("gf__in0", "gf__in1", "gf__out")
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    def state: Seq[(Option[Long], Set[Seq[Any]])] =
      members.map(n => (cat.currentVersion(n), rows(cat.table(n))))
    val seq = mj.currentSeq.get
    val before = state
    val asOf = members.map(n => rows(cat.tableAtTime(n, seq)))

    // the first input's new version is written, then the second input's
    // write raises: the group's timeline entry is never renamed in
    val aDelta = Changelog.fromRows(Seq((4, "a4")).toDF("k", "av"))
    val failing = Changelog.fromRows(Seq(4).toDF("k")
      .select(col("k"), raise_error(lit("boom")).cast("string").as("bv")))
    intercept[Exception](mj.applyBatch(aDelta, failing, batchId = 1L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base, "gf__in0", "v=2")))
    assert(state == before)
    assert(members.map(n => rows(cat.tableAtTime(n, seq))) == asOf)
    assert(mj.currentSeq.contains(seq) && cat.lastBatchId("gf") == 0L)

    // the retry of the same batch applies and equals a recompute
    val bDelta = Changelog.fromRows(Seq((4, "b4")).toDF("k", "bv"))
    assert(mj.applyBatch(aDelta, bDelta, batchId = 1L))
    assert(members.map(cat.currentVersion) == Seq.fill(3)(Some(2L)))
    assert(cat.lastBatchId("gf") == 1L)
    val a = Seq((1, "a1"), (2, "a2"), (3, "a3"), (4, "a4")).toDF("k", "av")
    val b = Seq((1, "b1"), (2, "b2"), (4, "b4")).toDF("k", "bv")
    assert(rows(mj.output.select("k", "av", "bv")) == rows(a.join(b, "k").select("k", "av", "bv")))
    assert(rows(mj.output.select("k", "av", "bv")).size == 3)
  }

  test("AS OF a group seq reads a mutually consistent pre-batch snapshot") {
    val cat = new ViewCatalog(spark, tempDir("graft-mj4").toString)
    val mj = new MaintainedJoin(cat, "asof", Seq("k"))
    mj.initialize(Seq((1, "a1")).toDF("k", "av"), Seq((1, "b1")).toDF("k", "bv"))
    val seq0 = mj.currentSeq.get
    mj.applyBatch(
      Changelog.fromRows(Seq((2, "a2")).toDF("k", "av")),
      Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv")), batchId = 0L)
    assert(mj.currentSeq.get == seq0 + 1)
    // pre-batch: inputs and output all at the OLD versions together
    assert(mj.outputAsOf(seq0).select("k").collect().map(_.getInt(0)).toSet == Set(1))
    assert(mj.inputAsOf(seq0, 0).select("k").collect().map(_.getInt(0)).toSet == Set(1))
    // current: all advanced together
    assert(mj.outputAsOf(seq0 + 1).select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("streaming drive: tagged changelog stream advances the maintained join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = new ViewCatalog(spark, tempDir("graft-mjs").toString)
    val mj = new MaintainedJoin(cat, "ocs", Seq("k"))
    mj.initialize(
      Seq((1, "a1"), (2, "a2")).toDF("k", "av"),
      Seq((1, "b1")).toDF("k", "bv"))

    // tagged union schema: (__src, k, av, bv, diff)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int, String, String, Long)]
    val query = mj.attachStream(
      input.toDS().toDF("__src", "k", "av", "bv", Changelog.DiffCol),
      "mj_stream", Seq("k", "av", Changelog.DiffCol), Seq("k", "bv", Changelog.DiffCol))
    try {
      // one micro-batch: insert b2 (k=2), retract a1
      input.addData(("b", 2, null, "b2", 1L), ("a", 1, "a1", null, -1L))
      query.processAllAvailable()
      val out = mj.output.select(col("k"), col("av"), col("bv")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(out == Set((2, "a2", "b2")))
    } finally query.stop()
  }

  private def ins(df: DataFrame) = Changelog.fromRows(df)
  private def ret(df: DataFrame) = Changelog.negate(Changelog.fromRows(df))

  test("3-ary maintained join: batches on all inputs match recompute") {
    def li(rows: (Int, Int)*): DataFrame = rows.toDF("okey", "qty")
    def ord(rows: (Int, Int)*): DataFrame = rows.toDF("okey", "ckey")
    def cust(rows: (Int, String)*): DataFrame = rows.toDF("ckey", "cname")
    val cat = new ViewCatalog(spark, tempDir("graft-mjn").toString)
    val mj = MaintainedJoin.chain(cat, "loc", Seq(Seq("okey"), Seq("ckey")))

    var liRows = Seq((1, 10), (2, 20), (3, 30))
    var ordRows = Seq((1, 100), (2, 200), (3, 100))
    var custRows = Seq((100, "alice"), (200, "bob"))
    mj.initialize(Seq(li(liRows: _*), ord(ordRows: _*), cust(custRows: _*)))

    def expected(): Set[(Int, Int, Int, String)] =
      li(liRows: _*).join(ord(ordRows: _*), "okey").join(cust(custRows: _*), "ckey")
        .select(col("okey"), col("qty"), col("ckey"), col("cname"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    def actual(): Set[(Int, Int, Int, String)] =
      mj.output.select(col("okey"), col("qty"), col("ckey"), col("cname"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet

    assert(actual() == expected())
    val initSeq = mj.currentSeq.get
    val initOut = actual()

    // batch 0: changes on ALL THREE inputs at once — new lineitem, retracted
    // order (kills okey=2 rows), new customer that okey=4 routes to
    mj.applyBatch(Seq(
      ins(li((4, 40))),
      ret(ord((2, 200))).unionByName(ins(ord((4, 300)))),
      ins(cust((300, "carol")))), batchId = 0L)
    liRows :+= ((4, 40)); ordRows = ordRows.filterNot(_ == ((2, 200))) :+ ((4, 300))
    custRows :+= ((300, "carol"))
    assert(actual() == expected())

    // replay of batch 0 is a no-op
    assert(!mj.applyBatch(Seq(ins(li((4, 40))),
      ins(ord((9, 900))), ins(cust((9, "x")))), batchId = 0L))
    assert(actual() == expected())

    // batch 1: retract a batch-0 row + touch only one input
    mj.applyBatch(Seq(ret(li((4, 40))),
      ins(ord()).filter(lit(false)), ins(cust()).filter(lit(false))), batchId = 1L)
    liRows = liRows.filterNot(_ == ((4, 40)))
    assert(actual() == expected())

    // AS OF: the pre-batch snapshot is still readable and consistent
    assert(mj.outputAsOf(initSeq).select(col("okey"), col("qty"), col("ckey"), col("cname"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      == initOut)
    assert(mj.inputAsOf(initSeq, 0).count() == 3)
  }

  test("SUBSCRIBE and deltaAt carry a join collection's multiplicities") {
    val cat = GraftSqlCatalog.forSession(spark)
    val mj = new MaintainedJoin(cat, "zsj", Seq("k"))
    mj.initialize(Seq((1, "a1"), (2, "a2")).toDF("k", "av"),
      Seq((1, "b1"), (2, "b2")).toDF("k", "bv"))
    // one batch: a second copy of (1, a1) and a retraction of (2, a2)
    mj.applyBatch(
      Changelog.unionAll(ins(Seq((1, "a1")).toDF("k", "av")),
        ret(Seq((2, "a2")).toDF("k", "av"))),
      ins(Seq.empty[(Int, String)].toDF("k", "bv")))
    def rows(df: DataFrame, diff: String) =
      df.select(col("k"), col("av"), col("bv"), col(diff)).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(cat.table("zsj__out"), Changelog.DiffCol) == Set((1, "a1", "b1", 2L)))
    assert(rows(cat.deltaAt("zsj__out", 1L), Changelog.DiffCol) ==
      Set((1, "a1", "b1", 1L), (2, "a2", "b2", -1L)))

    // the batch frame replays to the multiplicities of version 1
    val frame = SubscribeFrame(cat, "zsj__out", Some(0L))
    assert(!frame.columns.contains(Changelog.DiffCol))
    assert(rows(frame.groupBy("k", "av", "bv").agg(sum("mz_diff").as("m"))
      .filter(col("m") =!= 0), "m") == Set((1, "a1", "b1", 2L)))

    // the continuous cursor: snapshot at multiplicity 2, then the next delta
    spark.sql("SUBSCRIBE zsj__out WITH (SNAPSHOT)")
    try {
      val snap = spark.sql("FETCH zsj__out")
      assert(!snap.columns.contains(Changelog.DiffCol))
      assert(rows(snap, "mz_diff") == Set((1, "a1", "b1", 2L)))
      mj.applyBatch(ret(Seq((1, "a1")).toDF("k", "av")),
        ins(Seq.empty[(Int, String)].toDF("k", "bv")))
      assert(rows(spark.sql("FETCH zsj__out"), "mz_diff") == Set((1, "a1", "b1", -1L)))
    } finally spark.sql("CLOSE zsj__out")
  }
}
