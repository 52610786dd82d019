package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Changelog, IncrementalJoin}

class IncrementalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("diff product rule: multiplicities multiply through the join") {
    val l = Seq((1, "l1", 2L), (2, "l2", 1L)).toDF("k", "lv", Changelog.DiffCol)
    val r = Seq((1, "r1", 3L), (2, "r2", -1L)).toDF("k", "rv", Changelog.DiffCol)
    val out = IncrementalJoin.joinChangelogs(l, r, Seq("k"))
      .select(col("k"), col("lv"), col("rv"), col(Changelog.DiffCol))
      .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3))).toSet
    assert(out == Set((1, "l1", "r1", 6L), (2, "l2", "r2", -1L)))
  }

  test("delta rule maintains A join B exactly under simultaneous two-sided retractions") {
    val a0 = Seq((1, "a1"), (1, "a1b"), (2, "a2"), (3, "a3")).toDF("k", "av")
    val b0 = Seq((1, "b1"), (2, "b2"), (3, "b3")).toDF("k", "bv")
    // One batch: retract a1 and b3; insert a4 (k=2) and retract b1... also
    // retract (k=1) row pairs so the dAxdB term must fire.
    val aDelta = Changelog.unionAll(
      Changelog.negate(Changelog.fromRows(Seq((1, "a1"), (3, "a3")).toDF("k", "av"))),
      Changelog.fromRows(Seq((2, "a4")).toDF("k", "av")))
    val bDelta = Changelog.negate(Changelog.fromRows(Seq((1, "b1"), (3, "b3")).toDF("k", "bv")))

    val aState = Changelog.fromRows(a0)
    val bState = Changelog.fromRows(b0)
    val maintained = Changelog.threshold(Changelog.unionAll(
      IncrementalJoin.joinChangelogs(aState, bState, Seq("k")),
      IncrementalJoin.deltaN(Seq(aState, bState), Seq(aDelta, bDelta), Seq(Seq("k")))))
      .select(col("k"), col("av"), col("bv"), col(Changelog.DiffCol))

    // Ground truth: join of the post-batch collections.
    // A' = {a1b(1), a2(2), a4(2)};  B' = {b2(2)}  (b1, b3 retracted)
    val got = maintained.collect().map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3))).toSet
    assert(got == Set((2, "a2", "b2", 1L), (2, "a4", "b2", 1L)))
  }
}
