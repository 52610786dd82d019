package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CryptoImpl
import graft.sources.WebhookSource
import graft.streaming.Changelog

class WebhookSourceSpec extends SparkSpec {
  import spark.implicits._

  private val secret = "spec-secret"
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def sig(body: String): String =
    CryptoImpl.hmacSha256Hex(
      UTF8String.fromString(secret), UTF8String.fromString(body)).toString

  private def req(key: String, body: String, signature: String): (Map[String, String], String) =
    (Map(WebhookSource.IdempotencyHeader -> key,
      WebhookSource.SignatureHeader -> signature), body)

  test("batch ingest validates, rejects, and dedups") {
    val dir = tempDir("webhook_spec_").toString
    val good1 = """{"id":1,"v":"a"}"""
    val good2 = """{"id":2,"v":"b"}"""
    val notJson = """{"id":"""
    Seq(
      req("k1", good1, sig(good1)),
      req("k1", good1, sig(good1)), // retry: dedup
      req("k2", good2, "deadbeef"), // bad signature
      req("k3", notJson, sig(notJson)), // valid sig, unparseable body
      (Map(WebhookSource.SignatureHeader -> sig(good2)), good2)) // no idempotency key
      .toDF("headers", "body")
      .write.mode("overwrite").json(dir)

    val (accepted, rejected) = WebhookSource.ingest(spark, dir, schema, secret)
    assert(Changelog.toRows(accepted).as[(Long, String)].collect().toSet ==
      Set((1L, "a")))
    assert(rejected.select("reason").as[String].collect().sorted.toSeq ==
      Seq("invalid JSON body", "missing idempotency key", "validation failed"))
  }

  test("streaming ingest dedups by idempotency key ACROSS micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Map[String, String], String)]
    val out = WebhookSource.ingestStream(
      input.toDS().toDF("headers", "body"), schema, secret)
    val query = out.writeStream.format("memory").queryName("webhook_out")
      .outputMode("append").start()
    try {
      val b1 = """{"id":10,"v":"x"}"""
      val b2 = """{"id":20,"v":"y"}"""
      val b3 = """{"id":30,"v":"z"}"""
      input.addData(req("a", b1, sig(b1)), req("b", b2, sig(b2)))
      query.processAllAvailable()
      // key "a" retried in a LATER batch (state must remember it) + new key
      input.addData(req("a", b1, sig(b1)), req("c", b3, sig(b3)))
      query.processAllAvailable()
      val rows = spark.table("webhook_out")
        .select(col("id"), col("v"), col(Changelog.DiffCol)).as[(Long, String, Long)]
        .collect().toSet
      assert(rows == Set((10L, "x", 1L), (20L, "y", 1L), (30L, "z", 1L)))
    } finally query.stop()
  }
}
