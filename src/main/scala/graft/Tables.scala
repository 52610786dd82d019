package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * Mirrors the reference's `Get{id}` relational operator (reference
  * `src/expr/src/relation.rs:116-127`): every named collection resolves to a
  * schema'd DataFrame. Registration is temp-view-based so both the DataFrame
  * API and `spark.sql` entry points see the same catalog.
  *
  * Scale notes: tables are plain parquet reads — Spark's DataSource V2 gives
  * min/max pruning, predicate pushdown and column pruning for free, which is
  * the analog of the reference's persist filter pushdown
  * (`src/expr/src/interpret.rs`). At 100 TB the same code path applies; only
  * `spark.sql.files.maxPartitionBytes` tuning differs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema per table file version, inferred once per JVM. Without
    * a user-supplied schema EVERY `spark.read.parquet` call launches a footer
    * schema-inference job (~30-80 ms of job+driver latency) — per table,
    * per query, per bench pass. The schema is catalog metadata (exactly what
    * a metastore would hold), so infer it once and pass it explicitly
    * afterwards. The key carries the path's modification time and length, so
    * a table rewritten in place (possibly with another schema) is inferred
    * afresh. Data is still read from parquet on every query — this caches
    * no rows, no results. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), org.apache.spark.sql.types.StructType]

  /** Spark has no nanosecond timestamp type; the `events` table stores
    * TIMESTAMP(NANOS) which Spark refuses to read natively. With
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by [[GraftSession]])
    * the column arrives as epoch-nanos LongType and is losslessly converted
    * here (the data is µs-aligned) — the analog of the reference widening
    * its `MzTimestamp` to the engine timeline (`src/repr/src/timestamp.rs`). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    val st = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp)
    val schema = schemaCache.getOrElseUpdate((path, st.getModificationTime, st.getLen),
      spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // parquet timestamp[us] isAdjustedToUTC=false arrives as TIMESTAMP_NTZ;
        // the session timezone is UTC so the cast to session-zoned TIMESTAMP
        // preserves every value while restoring the type the engine's
        // timestamp-aware expressions (unix_micros, date_bin, Avro codec) expect.
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** [[load]] plus a scale-adaptive fan-out for CPU-heavy per-row
    * derivations (md5 shingling, token explosion, codec decode): at the
    * bench scale factors a whole table is ONE parquet split (splits cannot
    * cross row groups), so the derivation would serialize on a single core
    * with the rest of the cluster idle — the "input skew / unsplittable
    * input" case of the optimization guide (§2.5): repartition immediately
    * after the read. The repartition fires only when the file fits in one
    * scan split, so the moved bytes are bounded by one split and the
    * multiplying work downstream (shingles, 60-way bit sums, decoded
    * rasters) is what gets parallelized; at production scale the scan has
    * ≥ cores splits and this is the identity — no shuffle is added. */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    // regular-file check: for a directory-shaped table Files.size returns the
    // directory-entry size (a few KB), which would mis-classify an arbitrarily
    // large table as single-split and repartition it at production scale
    val p = java.nio.file.Paths.get(sfDir, s"$name.parquet")
    val singleSplit = try {
      java.nio.file.Files.isRegularFile(p) &&
        java.nio.file.Files.size(p) <= spark.sessionState.conf.filesMaxPartitionBytes
    } catch { case scala.util.control.NonFatal(_) => false }
    if (singleSplit) df.repartition(spark.sparkContext.defaultParallelism) else df
  }

  /** Register every table as a temp view; idempotent and metadata-only. */
  def register(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** The one session factory: specs, Verify, Bench, the benchmark harness and
  * library users all get this configuration, so every entry point runs the
  * same semantics and plans. Entry points differ only in `master` and
  * `partitions` (spark.sql.shuffle.partitions): the specs and mvbench keep
  * 32, Verify and Bench pass their core count. NOT the 200 default — at
  * real cluster scale this becomes a function of input size, and AQE
  * coalescing handles the rest.
  */
object GraftSession {
  def create(master: String, partitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      // custom optimizer rules + the SQL DDL surface (GraftExtensions)
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // fresh warehouse per JVM: managed-table locations from a crashed run
      // otherwise collide with a new session's empty in-memory catalog
      // (CREATE TABLE → LOCATION_ALREADY_EXISTS in the SLT corpus)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Hive-style ${...} variable substitution would swallow Rust-regex
      // ${N} replacement groups inside string literals
      .config("spark.sql.variable.substitute", "false")
      // mz map constructors keep the LAST duplicate key (reference
      // adt/map.rs); Spark's default raises DUPLICATED_MAP_KEY
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Join-strategy baseline (optimization guide §3.1/§9): allow the
      // planner to pick shuffled-hash over sort-merge when its size
      // conditions hold (no sort, same shuffle), let AQE rewrite SMJ→SHJ at
      // runtime when every post-shuffle partition fits the local-map
      // threshold, and raise the broadcast ceiling from 10 MB — dimension
      // sides stay broadcastable at any SF since they grow sub-linearly vs
      // facts, and a 64 MB relation is trivially held by executors sized
      // for this workload.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
