package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Changelog, IncrementalReduce}

class IncrementalReduceSpec extends SparkSpec {
  import spark.implicits._

  test("batch accumulable aggregates respect retractions") {
    val chg = Seq(
      ("a", 10.0, 1L), ("a", 20.0, 1L), ("a", 10.0, -1L),
      ("b", 5.0, 1L), ("b", 5.0, -1L))
      .toDF("k", "v", Changelog.DiffCol)
    val out = IncrementalReduce.accumulable(chg, Seq("k"), "v")
      .select("k", "support", "sum_val", "avg_val")
      .as[(String, Long, Double, Double)].collect().toMap2
    assert(out == Map("a" -> (1L, 20.0, 20.0)))
  }

  test("streaming accumulable state updates across delta batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val query = IncrementalReduce.accumulableChangelogStream(input.toDS())
      .writeStream.format("memory").queryName("inc_out").outputMode("append").start()
    try {
      input.addData(("a", 10.0, 1L), ("a", 20.0, 1L))
      query.processAllAvailable()
      input.addData(("a", 10.0, -1L), ("b", 7.0, 1L))
      query.processAllAvailable()
      val rows = spark.table("inc_out").as[(String, Long, Double, Long)].collect()
      // the emitted changelog sums to the current state
      val net = rows.groupMapReduce(r => (r._1, r._2, r._3))(_._4)(_ + _).filter(_._2 != 0L)
      assert(net == Map(("a", 1L, 20.0) -> 1L, ("b", 1L, 7.0) -> 1L))
    } finally query.stop()
  }

  private implicit class MapOps(rows: Array[(String, Long, Double, Double)]) {
    def toMap2: Map[String, (Long, Double, Double)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
