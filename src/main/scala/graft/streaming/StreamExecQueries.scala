package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSession, Q, Tables}
import graft.sources.ExactlyOnceSink

/** STREAMING executions surfaced as driver-checked CORRECTNESS rows — the
  * batch analogs of these operators are verified elsewhere; these rows run
  * the actual Structured Streaming path (file-stream source → stateful
  * operator → sink) end to end inside the query function, then hand the
  * materialized final state to the oracle compare.
  *
  * Determinism: the input is written as K single-file chunks whose names and
  * modification times strictly increase in replay order, and the stream reads
  * with `maxFilesPerTrigger=1`, so the micro-batch sequence is exactly the
  * chunk sequence on every run. Chunk assignment ascends with each key's
  * upsert offset, so cross-batch delivery respects per-key offset order —
  * the same contract a Kafka partition gives the reference's upsert source
  * (`src/storage-types/src/sources/kafka.rs`; envelope
  * `src/storage-types/src/sources/envelope.rs:24-35`).
  */
object StreamExecQueries {

  /** Write `df` (already carrying a `__chunk` column in 1..chunks) as one
    * parquet file per chunk with replay-ordered names and mtimes; returns the
    * streaming-readable directory. */
  private def writeReplayChunks(df: DataFrame, dir: String, chunks: Int): Unit = {
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val stage = base.resolve(".stage")
    // ONE shuffle+write job for every chunk (r19: was an eager checkpoint
    // plus one filtered coalesce(1) write job PER chunk): repartitioning by
    // __chunk puts each chunk's rows in exactly one task, partitionBy splits
    // them into __chunk=<i>/ dirs — still exactly one part file per chunk.
    df.repartition(chunks, col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(stage.toString)
    for (i <- 1 to chunks) {
      val cdir = stage.resolve(s"__chunk=$i")
      // a chunk value with no rows writes no __chunk=<i> directory (possible
      // on small/sparse fixtures): skip it — the i-based mtimes below keep
      // the surviving sequence strictly increasing, which is all replay
      // determinism needs
      if (Files.exists(cdir)) {
        val listing = Files.list(cdir)
        val part = try listing.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $cdir"))
        finally listing.close()
        val target = base.resolve(f"chunk-$i%03d.parquet")
        Files.move(part, target)
        // strictly increasing mtimes: FileStreamSource admits files in
        // (modTime, path) order, so replay order is pinned even if listing
        // order varies
        Files.setLastModifiedTime(target, FileTime.fromMillis(
          (System.currentTimeMillis() / 60000L) * 60000L + i * 60000L))
      }
    }
    FileUtils.deleteDirectory(stage.toFile)
  }

  /** The events table as an upsert stream `(_1 key, _2 value, _3 offset)`
    * plus `__chunk`: offset is the per-user position in `(ts, event_id)`
    * order; chunks ascend with offset so batch order respects offset order.
    */
  private def upsertInput(s: SparkSession, dir: String, value: Column,
      chunks: Int): DataFrame = {
    val perKey = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // replay-chunk assignment is PER-KEY (partitioned window + ceil over the
    // key's offset range): each key's offsets ascend with its chunk number,
    // which is all replay order needs — no global single-partition sort in
    // the fixture prep (the old Window.orderBy-with-no-partition here was
    // the source of the bench tail's "No Partition Defined" warnings).
    // Both windows partition by user_id IN THE SAME SELECT, so they share
    // one exchange (r19: the count window used to run over the renamed `_1`
    // alias a projection later, costing a second shuffle).
    val perKeyAll = Window.partitionBy(col("user_id"))
    // a deterministic user subset: the row verifies the STREAMING PATH
    // (micro-batch replay, state, sink commits) — volume adds nothing here
    // and the batch analogs already run the operators at full scale
    Tables.load(s, dir, "events")
      .filter(col("user_id") % 5 === 0)
      .select(col("user_id").as("_1"), value.as("_2"),
        row_number().over(perKey).cast("long").as("_3"),
        count(lit(1)).over(perKeyAll).as("__n"))
      .withColumn("__chunk",
        ceil(col("_3") * chunks / col("__n")).cast("int"))
      .drop("__n")
  }

  /** A child session for the streaming part: shares the SparkContext but
    * pins a small shuffle/state partition count — per-micro-batch overhead
    * (state store instances, checkpoint delta files) scales with state
    * partitions, and a bounded replay has no use for 32 of them. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.session.timeZone", "UTC")
    ss
  }

  private def streamSource(s: SparkSession, inDir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inDir)

  val defs: Seq[Q] = Seq(

    // ENVELOPE UPSERT run on the real streaming path: file-stream →
    // flatMapGroupsWithState (offset-watermarked upsert state) →
    // exactly-once sink, replayed as 4 deterministic micro-batches; the
    // committed changelog is consolidated to final state. 'error' events are
    // tombstones — a user whose last event errored has no state. A
    // duplicate commit of an already-committed batch id is attempted after
    // the run and must be a no-op (else extra rows break the oracle match).
    Q("stream_upsert_replay",
      """SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT user_id, event_id, value, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 5 = 0)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, dir) =>
      val work = GraftSession.tempDir("graft_stream_upsert_").toString
      val (in, out, ckpt) = (s"$work/in", s"$work/out", s"$work/ckpt")
      val chunks = 3
      val input = upsertInput(s, dir,
        when(col("event_type") === "error", lit(null))
          .otherwise(struct(col("event_id").as("_1"), col("value").as("_2"))).as("v"),
        chunks)
      writeReplayChunks(input, in, chunks)

      val ss = streamSession(s)
      import ss.implicits._
      val upserts = streamSource(ss, in, input.drop("__chunk").schema)
        .as[(Long, Option[(Long, Double)], Long)]
      val changelog = UpsertEnvelope.toChangelog(upserts)
      val q = changelog.writeStream
        .queryName("stream_upsert_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, (Long, Double), Long)], id: Long) =>
          ExactlyOnceSink.writeBatch(b.toDF(), out, id); ()
        }
        .start()
      q.awaitTermination()

      // schema is the changelog's own plus the batch partition column —
      // stating it skips the per-read footer schema-inference job
      val committed = s.read.schema(graft.Schemas.nullable(changelog.schema)
          .add("batch", org.apache.spark.sql.types.LongType)).parquet(out)
      // replay guard: re-committing batch 0 with different content must be
      // rejected — were it applied, these rows would corrupt the oracle match
      if (ExactlyOnceSink.writeBatch(committed.limit(5), out, 0L))
        throw new IllegalStateException("replayed batch id was re-committed")

      committed.groupBy(col("_1"), col("_2"))
        .agg(sum(col("_3")).as("net")).filter(col("net") > 0)
        .select(col("_1").as("user_id"), col("_2._1").as("last_event_id"),
          col("_2._2").as("last_value"))
    },

    // SUBSCRIBE run on the real streaming path: the upsert changelog
    // (value = event_type) is tailed batch-by-batch; each stamped batch
    // lands in the exactly-once sink keyed by its mz_ts. The oracle models
    // the full emitted insert/retract history per user — transitions in
    // (ts, event_id) order with no-op updates consolidated away — not just
    // the final state, so a wrong emission sequence fails the row.
    Q("stream_subscribe_tail",
      """WITH sub AS (SELECT * FROM events WHERE user_id % 5 = 0),
        |ordered AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM sub),
        |chg AS (
        |  SELECT user_id,
        |    count(*) FILTER (WHERE prev IS NULL OR prev <> event_type) AS n_inserts
        |  FROM ordered GROUP BY user_id),
        |last AS (
        |  SELECT user_id, event_type AS last_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM sub) WHERE rn = 1)
        |SELECT c.user_id, n_inserts, n_inserts - 1 AS n_retracts, last_type
        |FROM chg c JOIN last l ON c.user_id = l.user_id""".stripMargin) { (s, dir) =>
      val work = GraftSession.tempDir("graft_stream_subscribe_").toString
      val (in, out) = (s"$work/in", s"$work/out")
      val chunks = 3
      val input = upsertInput(s, dir, col("event_type"), chunks)
      writeReplayChunks(input, in, chunks)

      val ss = streamSession(s)
      import ss.implicits._
      val upserts = streamSource(ss, in, input.drop("__chunk").schema)
        .as[(Long, Option[String], Long)]
      val changelog = UpsertEnvelope.toChangelog(upserts)
        .toDF("user_id", "event_type", Changelog.DiffCol)
      val q = Subscribe.start(changelog, "stream_subscribe_tail",
        Some(Trigger.AvailableNow())) { (ts, stamped) =>
        ExactlyOnceSink.writeBatch(stamped, out, ts); ()
      }
      q.awaitTermination()

      // stamped frame schema: (mz_ts, mz_diff, row...) + the batch partition
      // column — stating it skips the per-read footer schema-inference job
      val stSchema = {
        import org.apache.spark.sql.types._
        val rest = changelog.schema.fields.filterNot(_.name == Changelog.DiffCol)
        graft.Schemas.nullable(StructType(StructField(Subscribe.TsCol, LongType) +:
          StructField(Subscribe.DiffCol, LongType) +: rest.toIndexedSeq))
          .add("batch", LongType)
      }
      val st = s.read.schema(stSchema).parquet(out)
      val counts = st.groupBy(col("user_id")).agg(
        count(when(col(Subscribe.DiffCol) > 0, true)).as("n_inserts"),
        count(when(col(Subscribe.DiffCol) < 0, true)).as("n_retracts"))
      val lastType = st.groupBy(col("user_id"), col("event_type"))
        .agg(sum(col(Subscribe.DiffCol)).as("net")).filter(col("net") > 0)
        .select(col("user_id"), col("event_type").as("last_type"))
      counts.join(lastType, Seq("user_id"))
    }
  )
}
