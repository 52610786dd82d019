package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.ExactlyOnceSink

class ExactlyOnceSinkSpec extends SparkSpec {
  import spark.implicits._

  test("replayed batches commit exactly once (idempotent atomic rename)") {
    val dir = tempDir("graft-eos").toString
    val batch = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(ExactlyOnceSink.writeBatch(batch, dir, 0L))   // first delivery writes
    assert(!ExactlyOnceSink.writeBatch(batch, dir, 0L))  // replay is a no-op
    assert(spark.read.parquet(dir).count() == 2)         // not 4
  }

  test("crash after rename but before marker re-drives the batch") {
    val dir = tempDir("graft-eos3").toString
    val batch = Seq((1, "a")).toDF("k", "v")
    assert(ExactlyOnceSink.writeBatch(batch, dir, 0L))
    // simulate the crash window: data dir renamed, marker never written
    Files.delete(java.nio.file.Paths.get(dir, "_committed_0"))
    assert(ExactlyOnceSink.writeBatch(batch, dir, 0L)) // re-drives, still once
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("streaming batches land as committed batch dirs, readable together") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-eos2").toString
    val input = MemoryStream[(Int, String)]
    val query = ExactlyOnceSink.start(input.toDS().toDF("k", "v"), dir, "eos_out")
    try {
      input.addData((1, "a"))
      query.processAllAvailable()
      input.addData((2, "b"), (3, "c"))
      query.processAllAvailable()
      val back = spark.read.parquet(dir)
      assert(back.count() == 3)
      assert(back.select("k").collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
    } finally query.stop()
  }
}
