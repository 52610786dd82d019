package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, raise_error}
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

  test("a failed batch write leaves no staging dir behind") {
    val dir = tempDir("graft-eos4").toString
    val batch = Seq((1, "a")).toDF("k", "v")
    assert(ExactlyOnceSink.writeBatch(batch, dir, 0L))
    // the write's own tasks fail, after the committer has set up its output
    // (over a local relation the optimizer would raise the error before)
    intercept[Exception](ExactlyOnceSink.writeBatch(
      spark.range(1).withColumn("boom", raise_error(lit("injected"))), dir, 1L))
    assert(ExactlyOnceSink.writeBatch(batch, dir, 2L))
    val left = new java.io.File(dir).list().filter(_.startsWith(".staging-"))
    assert(left.isEmpty, left.mkString(", "))
    assert(ExactlyOnceSink.lastCommitted(dir, spark.sessionState.newHadoopConf()) == 2L)
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
