package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once file sink — the transactional-sink pattern of the
  * reference's Kafka sink (`src/storage/src/sink/kafka.rs`: transactional
  * writes + a progress topic recording the last committed batch).
  *
  * Spark-first: `foreachBatch` gives at-least-once batch delivery with a
  * stable `batchId`; exactly-once follows from IDEMPOTENT commits — each
  * batch writes to a staging dir, renames it to `<dir>/batch=<id>`, then
  * creates a zero-byte `_committed_<id>` marker. The MARKER is the progress
  * record (the Kafka sink's progress-topic analog): a replayed batch
  * (restart/retry) finds its marker and skips; a crash after the rename but
  * before the marker replays the whole write (staging + rename are
  * re-driven from scratch), so half-visible renames on stores without
  * atomic directory rename (S3-style) still converge to exactly one
  * committed copy.
  *
  * All paths go through the Hadoop `FileSystem` API resolved from the sink
  * URI, so the same code runs on local FS, HDFS, or object stores — NIO
  * would silently operate on the driver's local disk for non-file URIs.
  * Underscore/dot-prefixed staging and marker files are invisible to
  * `spark.read.parquet(dir)`, so readers see only complete batch dirs.
  */
object ExactlyOnceSink {

  /** Idempotent commit of one batch; returns true if this call wrote it,
    * false if the batch was already committed (replay). */
  def writeBatch(batch: DataFrame, dir: String, batchId: Long): Boolean = {
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    val base = new Path(dir)
    val fs: FileSystem = base.getFileSystem(conf)
    val marker = new Path(base, s"_committed_$batchId")
    if (fs.exists(marker)) false
    else {
      val staging = new Path(base, s".staging-$batchId")
      val target = new Path(base, s"batch=$batchId")
      // re-drive any partial earlier attempt from scratch
      if (fs.exists(staging)) fs.delete(staging, true)
      if (fs.exists(target)) fs.delete(target, true)
      // a failed write leaves no staging dir behind: a later batch id would
      // never overwrite, and so never reclaim, this one
      try batch.write.mode("overwrite").parquet(staging.toString)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
      fs.mkdirs(base)
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"rename $staging -> $target failed")
      fs.create(marker, true).close()
      true
    }
  }

  /** The highest batch id with a `_committed_<id>` marker under `dir`, -1
    * if none: the progress record, never the data directories, which a
    * failed write can leave behind. */
  def lastCommitted(dir: String, conf: Configuration): Long = {
    val base = new Path(dir)
    Option(base.getFileSystem(conf).globStatus(new Path(base, "_committed_*")))
      .fold(-1L)(_.map(_.getPath.getName.stripPrefix("_committed_").toLong)
        .foldLeft(-1L)(math.max))
  }

  /** Attach the sink to a streaming DataFrame. */
  def start(df: DataFrame, dir: String, name: String): StreamingQuery =
    df.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        writeBatch(b.toDF(), dir, id); ()
      }
      .start()
}
