package graft

import org.apache.spark.sql.functions._
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
      .write.mode("overwrite").parquet(s"$base/torn__a/v=1")
    assert(cat.currentGroupSeq("torn").contains(seq0)) // pointer unmoved
    assert(cat.table("torn__a").select("k").collect().map(_.getInt(0)).toSet == Set(1))

    // the replayed batch overwrites the orphan and commits atomically
    assert(mj.applyBatch(
      Changelog.fromRows(Seq((2, "a2")).toDF("k", "av")),
      Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv")), batchId = 0L))
    assert(mj.output.select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(cat.table("torn__a").select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
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
    assert(mj.inputAsOf(seq0, "a").select("k").collect().map(_.getInt(0)).toSet == Set(1))
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
}
