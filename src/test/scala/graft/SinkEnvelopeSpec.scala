package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{DebeziumJson, FileEnvelopeSink, SinkEnvelopes}
import graft.streaming.Changelog
import graft.views.ViewCatalog

/** Envelope-emitting sinks: UPSERT/Avro and DEBEZIUM/JSON framing of a
  * view's commit changelog, replayed through the engine's OWN decoders
  * (reference `src/interchange/src/envelopes.rs`,
  * `src/storage/src/sink/kafka.rs` over the file transport). */
class SinkEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private def newCatalog(): ViewCatalog =
    new ViewCatalog(spark, tempDir("graft-env").toString)

  test("debezium frames round-trip through the engine's own CDC decoder") {
    // commit changelog: k=1 updated, k=2 deleted, k=3 created
    val delta = Changelog.unionAll(
      Changelog.negate(Changelog.fromRows(Seq((1L, "old"), (2L, "gone")).toDF("k", "v"))),
      Changelog.fromRows(Seq((1L, "new"), (3L, "fresh")).toDF("k", "v")))
    val frames = SinkEnvelopes.debeziumJsonFrames(
      Changelog.consolidate(delta), Seq("k"), version = 7L)
    val collected = frames.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(collected.size == 3)

    // ops are derivable from the value JSON
    val ops = frames.select(get_json_object(col("value"), "$.op").as("op"))
      .as[String].collect().sorted.toSeq
    assert(ops == Seq("c", "d", "u"))

    // the emitted envelope is EXACTLY what DebeziumJson.decode consumes:
    // append offsets and run the engine's CDC pipeline over its own output
    val raw = frames.select(col("value"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("key"))).cast("long").as("offset"))
    val rowSchema = StructType.fromDDL("k BIGINT, v STRING")
    val changelog = DebeziumJson.toChangelog(raw, rowSchema, Seq("k"))
      .filter(_._3 > 0) // surviving rows
      .map { case (_, v, _) => v }.collect().toSet
    assert(changelog == Set("""{"k":1,"v":"new"}""", """{"k":3,"v":"fresh"}"""))
  }

  test("upsert avro frames: update + tombstone semantics via the sink hook") {
    val cat = newCatalog()
    val path = tempDir("graft-envu").resolve("t").toString
    cat.commitState("ev", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")) // v0
    FileEnvelopeSink.create(spark, cat.table("ev"), path, Seq("k"), "UPSERT", 0L)
    // v1: update k=1, delete k=2, insert k=3
    val newState = Seq((1L, 11.0), (3L, 30.0)).toDF("k", "x")
    cat.commitState("ev", newState, Some(
      Changelog.consolidate(Changelog.unionAll(
        Changelog.fromRows(newState),
        Changelog.negate(Changelog.fromRows(cat.tableAt("ev", 0L)))))))
    FileEnvelopeSink.applyCommit(spark, cat, "ev", path, Seq("k"), "UPSERT", 1L)

    graft.sources.ConfluentFunctions.register(spark,
      graft.sources.Confluent.registryFromFile(s"$path/_registry.tsv"))
    val latest = FileEnvelopeSink.readFrames(spark, path)
      .groupBy(col("key"))
      .agg(expr("max_by(struct(value), batch)").getField("value").as("value"))
    // k=2's latest frame is the tombstone
    assert(latest.filter(col("value").isNull).count() == 1)
    val rows = latest.filter(col("value").isNotNull)
      .select(expr("registry_decode(value, 'k BIGINT, x DOUBLE')").as("d"))
      .select(col("d.r.k"), col("d.r.x")).as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 11.0), (3L, 30.0)))
    // and the KEY frames decode too (key schema id 1 in the registry)
    val keys = FileEnvelopeSink.readFrames(spark, path)
      .select(expr("registry_decode(key, 'k BIGINT')").as("d"))
      .select(col("d.r.k")).as[Long].collect().toSet
    assert(keys == Set(1L, 2L, 3L))
  }

  test("envelope sink self-heals a skipped version from its batch dirs") {
    val cat = newCatalog()
    val path = tempDir("graft-envh").resolve("t").toString
    cat.commitState("eh", Seq((1L, "a")).toDF("k", "v"))
    FileEnvelopeSink.create(spark, cat.table("eh"), path, Seq("k"), "UPSERT", 0L)
    // v1 (hook failed — never delivered): insert k=2
    cat.commitState("eh", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Some(Changelog.fromRows(Seq((2L, "b")).toDF("k", "v"))))
    // v2: insert k=3; the hook for v2 must fold in v1's delta too
    cat.commitState("eh", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      Some(Changelog.fromRows(Seq((3L, "c")).toDF("k", "v"))))
    FileEnvelopeSink.applyCommit(spark, cat, "eh", path, Seq("k"), "UPSERT", 2L)
    assert(FileEnvelopeSink.resumeUpper(path) == 2L)
    graft.sources.ConfluentFunctions.register(spark,
      graft.sources.Confluent.registryFromFile(s"$path/_registry.tsv"))
    val rows = FileEnvelopeSink.readFrames(spark, path)
      .groupBy(col("key"))
      .agg(expr("max_by(struct(value), batch)").getField("value").as("value"))
      .filter(col("value").isNotNull)
      .select(expr("registry_decode(value, 'k BIGINT, v STRING')").as("d"))
      .select(col("d.r.k"), col("d.r.v")).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // replayed version 2 is a no-op
    FileEnvelopeSink.applyCommit(spark, cat, "eh", path, Seq("k"), "UPSERT", 2L)
    assert(FileEnvelopeSink.resumeUpper(path) == 2L)
  }

  test("a failed frame write leaves the position at v-1 and the next commit delivers v") {
    val cat = newCatalog()
    val path = tempDir("graft-envf").resolve("t").toString
    cat.commitState("ef", Seq((1L, "a")).toDF("k", "v"))
    FileEnvelopeSink.create(spark, cat.table("ef"), path, Seq("k"), "UPSERT", 0L)
    cat.commitState("ef", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Some(Changelog.fromRows(Seq((2L, "b")).toDF("k", "v"))))
    // the frame write's tasks fail after Spark's committer set up its
    // output: for this one call, parquet's writer asks for a codec absent
    // from the classpath
    val codec = "spark.sql.parquet.compression.codec"
    spark.conf.set(codec, "brotli")
    try intercept[Exception](
      FileEnvelopeSink.applyCommit(spark, cat, "ef", path, Seq("k"), "UPSERT", 1L))
    finally spark.conf.unset(codec)
    assert(FileEnvelopeSink.resumeUpper(path) == 0L)
    assert(FileEnvelopeSink.readFrames(spark, path).filter(col("batch") === 1L).isEmpty)

    FileEnvelopeSink.applyCommit(spark, cat, "ef", path, Seq("k"), "UPSERT", 1L)
    assert(FileEnvelopeSink.resumeUpper(path) == 1L)
    graft.sources.ConfluentFunctions.register(spark,
      graft.sources.Confluent.registryFromFile(s"$path/_registry.tsv"))
    val delivered = FileEnvelopeSink.readFrames(spark, path).filter(col("batch") === 1L)
      .select(expr("registry_decode(value, 'k BIGINT, v STRING')").as("d"))
      .select(col("d.r.k"), col("d.r.v")).as[(Long, String)].collect().toSet
    assert(delivered == Set((2L, "b")))
  }
}
