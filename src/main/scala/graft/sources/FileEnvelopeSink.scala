package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Changelog
import graft.views.ViewCatalog

/** Envelope-framed sink over the file transport (reference
  * `src/storage/src/sink/kafka.rs` with the topic replaced by a directory —
  * the transport swap the ARCHITECTURE.md connector contract documents).
  *
  * Layout: [[ExactlyOnceSink]]'s. Each commit's framed key/value messages
  * are staged, renamed to `<path>/batch=<viewVersion>/` and then marked
  * `_committed_<viewVersion>`; Spark's partition discovery exposes `batch`
  * as a column and hides the `_`/`.`-prefixed entries, so a reader gets
  * `(key, value, batch)` — offset order — of the renamed batches from one
  * scan of the root. `_registry.tsv` (Avro envelope only) carries the
  * key/value writer schemas under their Confluent ids, so the engine's own
  * `registry_decode` replays the frames.
  *
  * Position = the highest commit marker (the Kafka sink's progress
  * record): a replayed view version is a no-op, and a commit whose frame
  * write failed leaves the position where it was, so the next commit
  * frames the view's changes since the position
  * ([[ViewCatalog.changesSince]]) as one batch — always ∝ |delta|.
  */
object FileEnvelopeSink {

  val KeySchemaId = 1
  val ValueSchemaId = 2

  /** Last view version this sink committed, from its commit markers. */
  def resumeUpper(path: String): Long =
    ExactlyOnceSink.lastCommitted(path, SparkSession.active.sessionState.newHadoopConf())

  /** Seed the sink: registry file (avro) + the snapshot as an all-insert
    * frame batch at the seeded view version. */
  def create(spark: SparkSession, snapshot: DataFrame, path: String,
      keys: Seq[String], envelope: String, version: Long): Unit = {
    require(resumeUpper(path) < 0, s"envelope sink already exists at $path")
    Files.createDirectories(Paths.get(path))
    if (envelope == "UPSERT") {
      val keyDdl = snapshot.select(keys.map(org.apache.spark.sql.functions.col): _*)
        .schema.toDDL
      Confluent.writeRegistryFile(Paths.get(path, "_registry.tsv").toString, Seq(
        (KeySchemaId, "avro", keyDdl), (ValueSchemaId, "avro", snapshot.schema.toDDL)))
    }
    Files.write(Paths.get(path, "_envelope"),
      s"$envelope\n${keys.mkString(",")}\n".getBytes(StandardCharsets.UTF_8))
    writeBatch(spark, Changelog.fromRows(snapshot), path, keys, envelope, version)
  }

  /** The commit hook body: frame the view's changes since the sink's
    * position as one batch at `version`. */
  def applyCommit(spark: SparkSession, cat: ViewCatalog, view: String, path: String,
      keys: Seq[String], envelope: String, version: Long): Unit = {
    val resume = resumeUpper(path)
    if (resume < version)
      writeBatch(spark, cat.changesSince(view, resume, version), path, keys, envelope, version)
  }

  private def writeBatch(spark: SparkSession, delta: DataFrame, path: String,
      keys: Seq[String], envelope: String, version: Long): Unit = {
    val frames = envelope match {
      case "UPSERT" =>
        val (inserts, goneKeys) = SinkEnvelopes.changes(delta, keys)
        SinkEnvelopes.upsertAvroFrames(spark, inserts, goneKeys, keys,
          KeySchemaId, ValueSchemaId)
      case "DEBEZIUM" =>
        SinkEnvelopes.debeziumJsonFrames(Changelog.consolidate(delta), keys, version)
      case other => throw new IllegalArgumentException(s"unknown ENVELOPE $other")
    }
    ExactlyOnceSink.writeBatch(frames, path, version)
    ()
  }

  /** All frames in offset order: `(key, value, batch)` from one root scan.
    * The frame schema is fixed by the envelope recorded at create time
    * (UPSERT/AVRO frames are binary, DEBEZIUM/JSON frames are strings), so
    * state it instead of paying a schema-inference job per read; `batch` is
    * the partition column the dir layout carries. */
  def readFrames(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val envFile = Paths.get(path, "_envelope")
    val frameType: DataType =
      if (Files.exists(envFile) &&
        new String(Files.readAllBytes(envFile), StandardCharsets.UTF_8)
          .linesIterator.next().trim == "DEBEZIUM") StringType
      else BinaryType
    spark.read.schema(StructType(Seq(
        StructField("key", frameType), StructField("value", frameType),
        StructField("batch", LongType))))
      .parquet(path)
  }
}
