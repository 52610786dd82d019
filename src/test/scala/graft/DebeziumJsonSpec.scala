package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.DebeziumJson
import graft.streaming.Changelog

class DebeziumJsonSpec extends SparkSpec {

  private val rowSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private val fixture = Seq(
    // snapshot (op r), then updates and a delete, offsets define order
    """{"op":"r","ts_ms":1000,"before":null,"after":{"id":1,"name":"alpha"}}""" -> 0L,
    """{"op":"r","ts_ms":1000,"before":null,"after":{"id":2,"name":"beta"}}""" -> 1L,
    """{"op":"c","ts_ms":2000,"before":null,"after":{"id":3,"name":"gamma"}}""" -> 2L,
    """{"op":"u","ts_ms":3000,"before":{"id":1,"name":"alpha"},"after":{"id":1,"name":"ALPHA"}}""" -> 3L,
    """{"op":"d","ts_ms":4000,"before":{"id":2,"name":"beta"},"after":null}""" -> 4L)

  test("batch: snapshot + updates + delete replay to the expected changelog and state") {
    import spark.implicits._
    val raw = fixture.toDF("value", "offset")
    val changelog = DebeziumJson.toChangelog(raw, rowSchema, Seq("id"))
      .toDF("k", "v", Changelog.DiffCol)

    // Exact changelog: alpha inserted then retracted+replaced; beta inserted
    // then retracted; gamma inserted.
    val cl = changelog.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(cl == Set(
      ("""{"id":1}""", """{"id":1,"name":"alpha"}""", 1L),
      ("""{"id":1}""", """{"id":1,"name":"alpha"}""", -1L),
      ("""{"id":1}""", """{"id":1,"name":"ALPHA"}""", 1L),
      ("""{"id":2}""", """{"id":2,"name":"beta"}""", 1L),
      ("""{"id":2}""", """{"id":2,"name":"beta"}""", -1L),
      ("""{"id":3}""", """{"id":3,"name":"gamma"}""", 1L)))

    // Final state via Threshold = {ALPHA, gamma}.
    val state = Changelog.threshold(changelog)
      .select(from_json(col("v"), rowSchema).as("r"))
      .select(col("r.id"), col("r.name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((1L, "ALPHA"), (3L, "gamma")))
  }

  test("file stream: same envelope files through readStream reach the same state") {
    import spark.implicits._
    val dir = tempDir("graft-cdc")
    // Two files = two micro-batches worth of data (one stream discovery pass).
    Files.write(Paths.get(dir.toString, "part-0.json"),
      fixture.take(3).map { case (v, o) => s"""{"o":$o,"env":${v}}""" }
        .mkString("\n").getBytes)
    Files.write(Paths.get(dir.toString, "part-1.json"),
      fixture.drop(3).map { case (v, o) => s"""{"o":$o,"env":${v}}""" }
        .mkString("\n").getBytes)

    val fileSchema = StructType(Seq(
      StructField("o", LongType),
      StructField("env", DebeziumJson.envelopeSchema(rowSchema))))
    val raw = spark.readStream.schema(fileSchema).json(dir.toString)
      .select(to_json(col("env")).as("value"), col("o").as("offset"))

    val changelog = DebeziumJson.toChangelog(raw, rowSchema, Seq("id"))
      .toDF("k", "v", Changelog.DiffCol)
    val query = changelog.writeStream.format("memory")
      .queryName("cdc_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val state = Changelog.threshold(spark.table("cdc_out"))
        .select(from_json(col("v"), rowSchema).as("r"))
        .select(col("r.id"), col("r.name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(state == Set((1L, "ALPHA"), (3L, "gamma")))
    } finally query.stop()
  }
}
