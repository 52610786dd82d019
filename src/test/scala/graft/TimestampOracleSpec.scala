package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Changelog
import graft.views.{MaintainedJoin, ViewCatalog}

/** The catalog's timestamp authority ([[graft.views.CommitTimeline]]): one
  * global clock serializes every commit in a catalog, so a reader that pins
  * `globalReadTs()` once sees a consistent cut across views that share no
  * commit group, and a catalog reopened over its directory continues from
  * the timeline alone. (Reference `src/timestamp-oracle/src/lib.rs:46`.)
  */
class TimestampOracleSpec extends SparkSpec {
  import spark.implicits._

  test("pinned timestamp reads a consistent cut across independent views") {
    val cat = new ViewCatalog(spark, tempDir("graft-tso").toString)
    var cut = 3
    cat.createMaterializedView("va", s =>
      Tables.load(s, Sf, "nation").filter(col("n_nationkey") < cut))   // commit ts=1
    cat.createMaterializedView("vb", s =>
      Tables.load(s, Sf, "region").select(col("r_regionkey")))         // commit ts=2
    val t = cat.globalReadTs()
    cut = 10
    cat.refreshFull("va")                                              // commit ts=3
    // current read sees the refresh; the pinned cut does not
    assert(cat.table("va").count() == 10)
    assert(cat.tableAtTime("va", t).count() == 3)
    assert(cat.tableAtTime("vb", t).count() == 5)
    // a cut pinned before vb existed refuses to serve it
    intercept[IllegalArgumentException](cat.tableAtTime("vb", 1L))
    assert(cat.tableAtTime("va", 1L).count() == 3)
  }

  test("group commits and singleton commits share one serialization order") {
    val cat = new ViewCatalog(spark, tempDir("graft-tso3").toString)
    cat.createMaterializedView("solo", s =>
      Tables.load(s, Sf, "region").select(col("r_regionkey")))          // ts=1
    cat.commitGroup("g", -1L, Map(
      "m1" -> Tables.load(spark, Sf, "nation").select(col("n_nationkey")),
      "m2" -> Tables.load(spark, Sf, "region").select(col("r_name")))) // ts=2
    val t = cat.globalReadTs()
    // both group members resolve at the pinned time alongside the singleton
    assert(cat.tableAtTime("m1", t).count() == 25)
    assert(cat.tableAtTime("m2", t).count() == 5)
    assert(cat.tableAtTime("solo", t).count() == 5)
    // before the group committed, its members are unreadable at time 1
    intercept[IllegalArgumentException](cat.tableAtTime("m1", 1L))
  }

  test("a reopened catalog keeps every commit, group batch and drop") {
    val dir = tempDir("graft-reopen").toString
    val cat = new ViewCatalog(spark, dir)
    val mj = new MaintainedJoin(cat, "j", Seq("k"))
    mj.initialize(Seq((1, "a1"), (2, "a2")).toDF("k", "av"), Seq((1, "b1")).toDF("k", "bv"))
    val noA = Changelog.fromRows(Seq.empty[(Int, String)].toDF("k", "av"))
    val bDelta = Changelog.fromRows(Seq((2, "b2")).toDF("k", "bv"))
    assert(mj.applyBatch(noA, bDelta, batchId = 0L))
    cat.createMaterializedView("solo", s =>
      Tables.load(s, Sf, "region").select(col("r_regionkey")))
    val pinned = cat.globalReadTs()
    cat.createMaterializedView("gone", s =>
      Tables.load(s, Sf, "nation").select(col("n_nationkey")))
    cat.dropView("gone")

    def rows(df: DataFrame): Set[(Int, String, String)] =
      df.select("k", "av", "bv").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val views = Seq("j__in0", "j__in1", "j__out", "solo")
    val versions = views.map(cat.currentVersion)
    val joined = rows(mj.output)
    val readTs = cat.globalReadTs()
    assert(versions == Seq(Some(1L), Some(1L), Some(1L), Some(0L)))
    assert(joined == Set((1, "a1", "b1"), (2, "a2", "b2")))

    val reopened = new ViewCatalog(spark, dir)
    val mj2 = new MaintainedJoin(reopened, "j", Seq("k"))
    assert(views.map(reopened.currentVersion) == versions)
    assert(rows(mj2.output) == joined)
    assert(mj2.currentSeq == mj.currentSeq)
    // exactly-once across the reopen: batch 0 is already applied
    assert(!mj2.applyBatch(noA, bDelta, batchId = 0L))
    assert(rows(mj2.output) == joined)
    // the tombstone keeps the dropped view dropped
    assert(reopened.currentVersion("gone").isEmpty && !reopened.isDefined("gone"))
    intercept[IllegalArgumentException](reopened.table("gone"))
    // a timestamp pinned before the reopen reads the same cut
    assert(reopened.tableAtTime("solo", pinned).count() == 5)
    assert(rows(mj2.outputAsOf(pinned)) == joined)
    // the clock continues strictly after every pre-reopen commit
    assert(reopened.globalReadTs() == readTs)
    reopened.commitState("solo", Tables.load(spark, Sf, "region").select(col("r_regionkey")))
    assert(reopened.globalReadTs() > readTs)
    assert(reopened.currentVersion("solo").contains(1L))
  }
}
