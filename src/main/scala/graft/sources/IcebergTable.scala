package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style versioned table sink — the snapshot/manifest table format
  * the reference grew for its Iceberg sink (reference
  * `src/storage/src/sink/iceberg.rs`, sink kind
  * `src/storage-types/src/sinks.rs:137`), re-expressed Spark-first over
  * plain parquet + JSON metadata (the container's frozen dependency set has
  * no Iceberg runtime; the manifest schema mirrors Iceberg v2 field-for-field
  * so a writer with the real libraries would be a serialization swap —
  * Iceberg encodes manifests as Avro OCF, this layout as JSON lines).
  *
  * Semantics carried over from the reference sink:
  *  - **Snapshot commits**: each commit writes immutable data files plus a
  *    complete manifest, then atomically flips `version-hint.text`. A torn
  *    commit (crash before the flip) leaves orphan files no reader resolves
  *    — the "commit to iceberg" single-committer step in iceberg.rs.
  *  - **Exactly-once via resume upper**: `append(df, batchId)` is a no-op
  *    when `batchId <= resume-upper` recorded in the table metadata — the
  *    sink's "determines resume upper" handshake that makes replayed
  *    streaming batches idempotent.
  *  - **Merge-on-read upserts**: `upsertByKey` writes equality-delete files
  *    (Iceberg v2): a delete at sequence N hides matching rows in data files
  *    with sequence < N; readers apply deletes as an anti-join, `compact()`
  *    folds them away — no read-modify-write of data files at commit time.
  *  - **Time travel**: every snapshot's manifest is complete, so
  *    `read(asOf = Some(s))` reconstructs exactly snapshot `s`.
  *  - **File pruning**: per-file, per-column min/max bounds are recorded in
  *    the manifest (Iceberg's `lower_bounds`/`upper_bounds`); `scanPruned`
  *    drops files whose bounds cannot satisfy a range predicate before Spark
  *    ever opens them — the planning-time skip that makes a 100 TB table
  *    readable with a narrow filter.
  *
  * Scale shape: data files are written by ordinary distributed parquet jobs;
  * per-file bounds come from ONE distributed aggregation over just the stats
  * columns (column-pruned scan; with object-store listings a real deployment
  * would lift the same numbers straight from the parquet footers the write
  * produced). Only the manifest — O(#files) metadata, not data — passes
  * through the driver, which is precisely Iceberg's own planning model.
  */
final class IcebergTable(spark: SparkSession, tablePath: String) {

  import IcebergTable._

  private val root = Paths.get(tablePath)
  private def metaDir: Path = root.resolve("metadata")
  private def hintFile: Path = metaDir.resolve("version-hint.text")
  private def dataDir(seq: Long): Path = root.resolve("data").resolve(s"snap-$seq")
  private def deleteDir(seq: Long): Path = root.resolve("data").resolve(s"deletes-$seq")

  // ---- metadata ------------------------------------------------------------

  /** Current metadata version from the atomically-flipped hint, if the table
    * has ever committed. */
  def currentVersion: Option[Long] =
    if (Files.exists(hintFile))
      Some(new String(Files.readAllBytes(hintFile), StandardCharsets.UTF_8).trim.toLong)
    else None

  def metadata: TableMetadata = metadataAt(
    currentVersion.getOrElse(throw new IllegalStateException(s"no committed table at $tablePath")))

  def metadataAt(version: Long): TableMetadata = {
    val f = metaDir.resolve(s"v$version.metadata.json")
    TableMetadata.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
  }

  def schema: StructType =
    DataType.fromJson(metadata.schemaJson).asInstanceOf[StructType]

  // ---- commits -------------------------------------------------------------

  /** Create the table: snapshot 0 holds `df`. `statsCols` are the columns
    * whose per-file bounds every subsequent commit records. `batchId >= 0`
    * records the seed position in the resume upper (a continuously-
    * maintained sink seeds from a view version and resumes from there). */
  def create(df: DataFrame, statsCols: Seq[String] = Nil, batchId: Long = -1L): Long = {
    require(currentVersion.isEmpty, s"table already exists at $tablePath")
    Files.createDirectories(metaDir)
    commit(df, statsCols = statsCols, op = "append", deletes = None, batchId = batchId,
      base = TableMetadata(df.schema.json, statsCols, -1L, -1L, Nil)).get
  }

  /** Append a snapshot. `batchId >= 0` marks a replayable streaming batch:
    * ids at or below the recorded resume upper are no-ops returning None —
    * the reference sink's resume-upper handshake. */
  def append(df: DataFrame, batchId: Long = -1L): Option[Long] = {
    val m = metadata
    requireSameSchema(df, m)
    if (batchId >= 0 && batchId <= m.resumeUpper) None
    else commit(df, m.statsCols, "append", None, batchId, m)
  }

  /** Merge-on-read upsert: rows in `df` replace rows with equal `keys`
    * already in the table. One commit writes an equality-delete file (the
    * key projection of `df`) plus `df` as new data files. Keys must be
    * non-null (Iceberg equality deletes carry the same restriction). */
  def upsertByKey(df: DataFrame, keys: Seq[String], batchId: Long = -1L): Option[Long] = {
    require(keys.nonEmpty, "upsertByKey needs at least one key column")
    val m = metadata
    requireSameSchema(df, m)
    if (batchId >= 0 && batchId <= m.resumeUpper) None
    else commit(df, m.statsCols, "overwrite", Some(df.select(keys.map(col): _*)), batchId, m)
  }

  /** One commit applying a general change set: `newRows` are inserted (and
    * replace any older rows sharing their `keys`), `deletedKeys` (a
    * keys-only DataFrame) are removed outright. This is the shape a
    * continuously-maintained sink emits per view refresh — work ∝ delta,
    * never a table rewrite (reference iceberg.rs: the DeltaWriter's
    * data-file + position-delete pair per batch). */
  def applyChangeSet(newRows: DataFrame, deletedKeys: DataFrame, keys: Seq[String],
      batchId: Long = -1L): Option[Long] = {
    require(keys.nonEmpty, "applyChangeSet needs key columns")
    val m = metadata
    requireSameSchema(newRows, m)
    require(deletedKeys.columns.toSeq == keys,
      s"deletedKeys must have exactly the key columns $keys, got ${deletedKeys.columns.toSeq}")
    if (batchId >= 0 && batchId <= m.resumeUpper) None
    else {
      val allDeleteKeys = newRows.select(keys.map(col): _*)
        .unionByName(deletedKeys).distinct()
      commit(newRows, m.statsCols, "overwrite", Some(allDeleteKeys), batchId, m)
    }
  }

  /** Rewrite the merged current state as one fresh snapshot with no delete
    * files — Iceberg's data-compaction maintenance action. */
  def compact(): Long = {
    val m = metadata
    commit(read(), m.statsCols, "replace", None, -1L, m, replaceAll = true).get
  }

  /** Drop data/delete directories no live snapshot references (expire
    * snapshots + vacuum): retains only the current snapshot's files. */
  def vacuum(): Unit = {
    val live = metadata.entries.map(e => Paths.get(e.path).getParent.normalize).toSet
    val dataRoot = root.resolve("data")
    if (Files.exists(dataRoot)) {
      val listing = Files.list(dataRoot)
      try listing.iterator().forEachRemaining { d =>
        if (!live.contains(d.normalize)) FileUtils.deleteDirectory(d.toFile)
      } finally listing.close()
    }
  }

  private def requireSameSchema(df: DataFrame, m: TableMetadata): Unit = {
    val want = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(df.schema.fields.map(f => (f.name, f.dataType)).sameElements(
        want.fields.map(f => (f.name, f.dataType))),
      s"schema mismatch: table has ${want.simpleString}, got ${df.schema.simpleString}")
  }

  /** The single-committer step: write data (and delete) files for the next
    * sequence number, stat them, extend (or replace) the manifest, write
    * vN.metadata.json, flip the hint. */
  private def commit(df: DataFrame, statsCols: Seq[String], op: String,
      deletes: Option[DataFrame], batchId: Long, base: TableMetadata,
      replaceAll: Boolean = false): Option[Long] = {
    val seq = base.lastSequence + 1
    val dDir = dataDir(seq)
    df.write.mode("overwrite").parquet(dDir.toString)
    val dataEntries = statFiles(dDir, "data", seq, statsCols, Nil, df.schema)
    val deleteEntries = deletes match {
      case Some(keyDf) =>
        val keys = keyDf.columns.toSeq
        keyDf.write.mode("overwrite").parquet(deleteDir(seq).toString)
        statFiles(deleteDir(seq), "equality-deletes", seq, Nil, keys, keyDf.schema)
      case None => Nil
    }
    val entries = (if (replaceAll) Nil else base.entries) ++ deleteEntries ++ dataEntries
    val version = currentVersion.fold(0L)(_ + 1)
    val meta = TableMetadata(
      schemaJson = base.schemaJson, statsCols = statsCols,
      resumeUpper = if (batchId >= 0) batchId else base.resumeUpper,
      lastSequence = seq,
      snapshots = base.snapshots :+ Snapshot(seq, op),
      entriesOverride = Some(entries))
    val tmp = Files.createTempFile(metaDir, "tmp-meta", ".json")
    Files.write(tmp, meta.toJson.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaDir.resolve(s"v$version.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val tmpHint = Files.createTempFile(metaDir, "tmp-hint", ".text")
    Files.write(tmpHint, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmpHint, hintFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Some(seq)
  }

  /** Per-file record counts and min/max bounds for every file just written
    * under `dir`. When no bounds are requested (statsCols empty — every
    * commit except a stats-carrying create), the parquet FOOTERS the write
    * just produced already hold the row counts: read O(#files) metadata on
    * the driver — exactly Iceberg's planning model, where writers lift
    * stats from task commit messages — instead of launching a whole Spark
    * re-scan job per commit. Bounds-requesting commits keep the one
    * distributed, column-pruned aggregation. */
  private def statFiles(dir: Path, content: String, seq: Long,
      statsCols: Seq[String], equalityFields: Seq[String],
      writtenSchema: StructType): Seq[FileEntry] = {
    if (statsCols.isEmpty) {
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      val files = {
        val l = Files.list(dir)
        try l.iterator().asScala.toSeq.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }.sortBy(_.getFileName.toString)
        finally l.close()
      }
      def entryOf(p: Path): FileEntry = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n =
          try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          finally reader.close()
        FileEntry(p.toAbsolutePath.toString, content, seq, n, equalityFields, Map.empty)
      }
      // footer reads are independent driver I/O: past a handful, read them
      // concurrently (a 10³-file commit would otherwise serialize its stat
      // step); encounter order — and so manifest order — is preserved
      return {
        if (files.length <= 16) files.map(entryOf)
        else {
          val jl = new java.util.ArrayList[Path](files.length)
          files.foreach(jl.add)
          jl.parallelStream().map[FileEntry](p => entryOf(p))
            .collect(java.util.stream.Collectors.toList[FileEntry]).asScala.toSeq
        }
      }
    }
    val scan = spark.read.schema(graft.Schemas.nullable(writtenSchema)).parquet(dir.toString)
    val present = statsCols.filter(scan.columns.contains)
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: present.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val rows = scan
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // O(#files) manifest metadata — the Iceberg planning model
    rows.toSeq.map { r =>
      val bounds = present.map { c =>
        c -> ColumnBounds(Option(r.getAs[String](s"__min_$c")), Option(r.getAs[String](s"__max_$c")))
      }.toMap
      FileEntry(stripScheme(r.getAs[String]("__file")), content, seq,
        r.getAs[Long]("__n"), equalityFields, bounds)
    }
  }

  // ---- reads ---------------------------------------------------------------

  /** Current table state (or a past snapshot via `asOf` = sequence number):
    * live data files minus rows hidden by newer equality deletes. */
  def read(asOf: Option[Long] = None): DataFrame = readEntries(entriesAt(asOf))

  /** Manifest entries live at a snapshot (defaults to current). Each
    * metadata version carries the COMPLETE live file list as of its commit
    * (a compaction's metadata lists only the rewritten files), so time
    * travel is a metadata lookup, never a log replay. */
  def entriesAt(asOf: Option[Long] = None): Seq[FileEntry] = asOf match {
    case None => metadata.entries
    case Some(s) =>
      val cur = currentVersion.getOrElse(
        throw new IllegalStateException(s"no committed table at $tablePath"))
      // versions and sequence numbers advance in lockstep today, but resolve
      // by recorded sequence so the invariant is checked, not assumed
      (0L to cur).reverse.iterator.map(metadataAt)
        .find(_.lastSequence == s)
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot $s at $tablePath (latest ${metadata.lastSequence})"))
        .entries
  }

  /** Range-pruned scan: files whose recorded bounds cannot overlap
    * `[lo, hi]` on `column` are never opened; the residual predicate is
    * still applied to surviving files (bounds are coarse). Pass `None` for
    * an open end. Returns the pruned DataFrame plus (scanned, total) file
    * counts so callers can assert pruning happened. */
  def scanPruned(column: String, lo: Option[String], hi: Option[String],
      asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val entries = entriesAt(asOf)
    val dt = schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column")).dataType
    def keep(e: FileEntry): Boolean = e.content != "data" || {
      e.bounds.get(column) match {
        case Some(b) =>
          // survive unless max < lo or min > hi (null bound = unknown → keep)
          val belowLo = (for (mx <- b.max; l <- lo) yield ltTyped(mx, l, dt)).getOrElse(false)
          val aboveHi = (for (mn <- b.min; h <- hi) yield ltTyped(h, mn, dt)).getOrElse(false)
          !(belowLo || aboveHi)
        case None => true
      }
    }
    val total = entries.count(_.content == "data")
    val kept = entries.filter(keep)
    val df0 = readEntries(kept)
    val c = col(column)
    val filtered = (lo, hi) match {
      case (Some(l), Some(h)) => df0.filter(c >= lit(l).cast(dt) && c <= lit(h).cast(dt))
      case (Some(l), None) => df0.filter(c >= lit(l).cast(dt))
      case (None, Some(h)) => df0.filter(c <= lit(h).cast(dt))
      case _ => df0
    }
    (filtered, kept.count(_.content == "data"), total)
  }

  /** Typed bound comparison on the driver over manifest strings: re-parse
    * both sides with the column's Spark type so timestamps/decimals order
    * correctly (string collation would misorder e.g. numerics). Pure
    * expression eval — planning-time pruning must not launch jobs. */
  private def ltTyped(a: String, b: String, dt: DataType): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, LessThan, Literal}
    val cmp = LessThan(
      Cast(Literal(a), dt, Some("UTC")), Cast(Literal(b), dt, Some("UTC")))
    // an unparseable bound casts to null → unknown → not provably less
    Option(cmp.eval(null)).exists(_.asInstanceOf[Boolean])
  }

  private def readEntries(entries: Seq[FileEntry]): DataFrame = {
    val dataFiles = entries.filter(_.content == "data")
    val delEntries = entries.filter(_.content == "equality-deletes")
    // every live file pruned (or an empty table): a well-typed empty scan
    if (dataFiles.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // the manifest metadata already records the table schema, so reads pass
    // it explicitly — an un-schema'd spark.read.parquet launches a footer
    // schema-inference job per call (asNullable: inference over parquet
    // always yields nullable fields, so the stated schema must match it)
    val tblSchema = graft.Schemas.nullable(schema)
    // sequence number is recoverable from the immutable snapshot directory
    // name, so ONE multi-file scan covers every sequence — no per-snapshot
    // union of reads
    val data = spark.read.schema(tblSchema).parquet(dataFiles.map(_.path): _*)
      .withColumn(SeqCol,
        regexp_extract(input_file_name(), "snap-(\\d+)/", 1).cast("long"))
    val out =
      if (delEntries.isEmpty) data
      else {
        val keys = delEntries.head.equalityFields
        require(delEntries.forall(_.equalityFields == keys),
          "mixed equality-delete key sets are not supported")
        val delSchema = StructType(keys.map(k => tblSchema(k)))
        val dels = spark.read.schema(delSchema).parquet(delEntries.map(_.path): _*)
          .withColumn(DelSeqCol,
            regexp_extract(input_file_name(), "deletes-(\\d+)/", 1).cast("long"))
        // Iceberg v2 rule: an equality delete at sequence N hides matching
        // rows only in data files with sequence < N. Equi-join on the keys
        // (hash-partitioned at scale) with the sequence comparison as the
        // residual condition.
        val cond = keys.map(k => data(k) <=> dels(k)).reduce(_ && _) &&
          data(SeqCol) < dels(DelSeqCol)
        data.join(dels, cond, "left_anti")
      }
    out.drop(SeqCol)
  }

  private def stripScheme(uri: String): String =
    if (uri.contains(":/")) new java.net.URI(uri).getPath else uri
}

object IcebergTable {
  val SeqCol = "__graft_seq"
  val DelSeqCol = "__graft_del_seq"

  /** Continuous ingestion into the table — the reference sink's dataflow
    * tail (iceberg.rs "commit to iceberg" operator): every micro-batch
    * becomes one snapshot commit keyed by its batchId, so a replayed batch
    * after restart is dropped by the resume upper and the table observes
    * each batch exactly once. `keys` non-empty switches the commit to
    * merge-on-read upserts (the reference's DiffPair upsert path). */
  def startStream(df: DataFrame, table: IcebergTable, checkpoint: String,
      keys: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (keys.isEmpty) table.append(batch, batchId = id)
        else table.upsertByKey(batch, keys, batchId = id)
        ()
      }
      .start()

  /** Min/max bounds of one column in one file (Iceberg manifest
    * `lower_bounds`/`upper_bounds`), serialized as strings of the column's
    * Spark-SQL cast — re-parsed with the column type at prune time. */
  final case class ColumnBounds(min: Option[String], max: Option[String])

  /** One manifest entry (Iceberg `manifest_entry`/`data_file`): content is
    * `data` or `equality-deletes`; `sequence` is the commit that wrote the
    * file (Iceberg's data sequence number). */
  final case class FileEntry(path: String, content: String, sequence: Long,
      recordCount: Long, equalityFields: Seq[String], bounds: Map[String, ColumnBounds])

  final case class Snapshot(sequence: Long, operation: String)

  /** Table metadata (Iceberg `TableMetadata`): schema, snapshot log, live
    * manifest, plus the sink's resume upper for exactly-once appends. */
  final case class TableMetadata(schemaJson: String, statsCols: Seq[String],
      resumeUpper: Long, lastSequence: Long, snapshots: Seq[Snapshot],
      entriesOverride: Option[Seq[FileEntry]] = None) {
    def entries: Seq[FileEntry] = entriesOverride.getOrElse(Nil)

    def toJson: String = {
      val j = JObject(
        "format-version" -> JInt(2),
        "schema" -> JsonMethods.parse(schemaJson),
        "stats-columns" -> JArray(statsCols.map(JString(_)).toList),
        "graft-resume-upper" -> JInt(resumeUpper),
        "last-sequence-number" -> JInt(lastSequence),
        "snapshots" -> JArray(snapshots.map(s => JObject(
          "sequence-number" -> JInt(s.sequence),
          "operation" -> JString(s.operation))).toList),
        "manifest" -> JArray(entries.map(e => JObject(
          "path" -> JString(e.path),
          "content" -> JString(e.content),
          "sequence-number" -> JInt(e.sequence),
          "record-count" -> JInt(e.recordCount),
          "equality-fields" -> JArray(e.equalityFields.map(JString(_)).toList),
          "bounds" -> JObject(e.bounds.toList.map { case (c, b) =>
            c -> JObject(
              "min" -> b.min.map(JString(_)).getOrElse(JNull),
              "max" -> b.max.map(JString(_)).getOrElse(JNull))
          }))).toList))
      JsonMethods.pretty(JsonMethods.render(j))
    }
  }

  object TableMetadata {
    def fromJson(s: String): TableMetadata = {
      val j = JsonMethods.parse(s)
      def str(v: JValue): Option[String] = v match {
        case JString(x) => Some(x); case _ => None
      }
      def long(v: JValue): Long = v match {
        case JInt(x) => x.toLong; case JLong(x) => x
        case _ => throw new IllegalArgumentException(s"expected int, got $v")
      }
      val entries = (j \ "manifest").asInstanceOf[JArray].arr.map { e =>
        FileEntry(
          str(e \ "path").get, str(e \ "content").get,
          long(e \ "sequence-number"), long(e \ "record-count"),
          (e \ "equality-fields").asInstanceOf[JArray].arr.flatMap(str),
          (e \ "bounds") match {
            case JObject(fields) => fields.map { case (c, b) =>
              c -> ColumnBounds(str(b \ "min"), str(b \ "max"))
            }.toMap
            case _ => Map.empty[String, ColumnBounds]
          })
      }
      TableMetadata(
        JsonMethods.compact(JsonMethods.render(j \ "schema")),
        (j \ "stats-columns").asInstanceOf[JArray].arr.flatMap(str),
        long(j \ "graft-resume-upper"),
        long(j \ "last-sequence-number"),
        (j \ "snapshots").asInstanceOf[JArray].arr.map(sn =>
          Snapshot(long(sn \ "sequence-number"), str(sn \ "operation").get)),
        Some(entries))
    }
  }
}
