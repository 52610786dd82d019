package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Changelog
import graft.views.{MaintainedJoinN, ViewCatalog}

class MaintainedJoinNSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: (Int, Int)*): DataFrame = rows.toDF("okey", "qty")
  private def ord(rows: (Int, Int)*): DataFrame = rows.toDF("okey", "ckey")
  private def cust(rows: (Int, String)*): DataFrame = rows.toDF("ckey", "cname")

  private def ins(df: DataFrame) = Changelog.fromRows(df)
  private def ret(df: DataFrame) = Changelog.negate(Changelog.fromRows(df))

  test("3-ary maintained join: delta batches with shared arrangements match recompute") {
    val cat = new ViewCatalog(spark, tempDir("graft-mjn").toString)
    val mj = new MaintainedJoinN(cat, "loc", 3, Seq(Seq("okey"), Seq("ckey")))

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
}
