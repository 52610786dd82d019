package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.IcebergTable

/** Iceberg-style sink semantics (reference `src/storage/src/sink/iceberg.rs`):
  * snapshot commits, resume-upper idempotence, merge-on-read equality
  * deletes, time travel, compaction, bounds-based file pruning, torn-commit
  * invisibility.
  */
class IcebergTableSpec extends SparkSpec {

  private def freshDir(): String =
    tempDir("graft-iceberg").resolve("t").toString

  private def orders: DataFrame =
    Tables.load(spark, Sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"))

  test("create + append + read round-trips; snapshots accumulate") {
    val t = new IcebergTable(spark, freshDir())
    val (even, odd) = (orders.filter(col("k") % 2 === 0), orders.filter(col("k") % 2 === 1))
    t.create(even)
    assert(t.read().count() == even.count())
    t.append(odd)
    assert(t.read().count() == orders.count())
    assert(t.metadata.snapshots.map(_.sequence) == Seq(0L, 1L))
    // time travel: snapshot 0 is still exactly the even half
    assert(t.read(asOf = Some(0L)).count() == even.count())
  }

  test("append with a replayed batchId is a no-op (resume upper)") {
    val t = new IcebergTable(spark, freshDir())
    t.create(orders.limit(0))
    assert(t.append(orders.filter(col("k") % 2 === 0), batchId = 7L).isDefined)
    val before = t.read().count()
    assert(t.append(orders.filter(col("k") % 2 === 0), batchId = 7L).isEmpty)
    assert(t.append(orders, batchId = 3L).isEmpty) // older batch also dropped
    assert(t.read().count() == before)
    assert(t.append(orders.filter(col("k") % 2 === 1), batchId = 8L).isDefined)
    assert(t.read().count() == orders.count())
  }

  test("upsertByKey hides older rows via equality deletes; compact folds them") {
    val t = new IcebergTable(spark, freshDir())
    t.create(orders)
    val replaced = orders.filter(col("k") % 10 === 3)
      .withColumn("price", -col("price"))
    t.upsertByKey(replaced, Seq("k"))
    val got = t.read()
    assert(got.count() == orders.count()) // replacement, not duplication
    val negatives = got.filter(col("price") < 0).count()
    assert(negatives == replaced.count() && negatives > 0)
    // delete files present pre-compaction, gone after
    assert(t.entriesAt().exists(_.content == "equality-deletes"))
    t.compact()
    assert(!t.entriesAt().exists(_.content == "equality-deletes"))
    assert(t.read().filter(col("price") < 0).count() == negatives)
    assert(t.read().count() == orders.count())
  }

  test("upsert keys arriving in the same commit are NOT deleted by it") {
    val t = new IcebergTable(spark, freshDir())
    t.create(orders.filter(col("k") <= 100))
    // rows whose keys do not yet exist: plain insert through the upsert path
    val novel = orders.filter(col("k") > 100 && col("k") <= 200)
    t.upsertByKey(novel, Seq("k"))
    assert(t.read().count() ==
      orders.filter(col("k") <= 200).count())
  }

  test("time travel reconstructs pre-upsert and pre-compaction states") {
    val t = new IcebergTable(spark, freshDir())
    t.create(orders) // seq 0
    t.upsertByKey(orders.filter(col("k") % 10 === 3).withColumn("price", -col("price")),
      Seq("k")) // seq 1
    t.compact() // seq 2
    assert(t.read(asOf = Some(0L)).filter(col("price") < 0).count() == 0)
    val n = orders.filter(col("k") % 10 === 3).count()
    assert(t.read(asOf = Some(1L)).filter(col("price") < 0).count() == n)
    assert(t.read(asOf = Some(2L)).filter(col("price") < 0).count() == n)
  }

  test("scanPruned skips files whose bounds exclude the range") {
    val dir = freshDir()
    val t = new IcebergTable(spark, dir)
    // range-partition on k so each file has a tight, disjoint key range
    t.create(orders.repartitionByRange(8, col("k")), statsCols = Seq("k"))
    val (df, scanned, total) = t.scanPruned("k", Some("1"), Some("500"))
    assert(total == 8)
    assert(scanned < total, s"expected pruning, scanned $scanned of $total")
    val expect = orders.filter(col("k") >= 1 && col("k") <= 500).count()
    assert(df.count() == expect)
    // open-ended ranges prune too and stay correct (keys are dense 0..1499)
    val (hiDf, hiScanned, _) = t.scanPruned("k", Some("1200"), None)
    assert(hiScanned < total)
    assert(hiDf.count() == orders.filter(col("k") >= 1200).count())
    // a range beyond every bound prunes ALL files → well-typed empty result
    val (noneDf, noneScanned, _) = t.scanPruned("k", Some("99999"), None)
    assert(noneScanned == 0 && noneDf.count() == 0)
    assert(noneDf.columns.toSeq == Seq("k", "pri", "price"))
  }

  test("pruning on timestamp bounds re-parses with the column type") {
    val t = new IcebergTable(spark, freshDir())
    val li = Tables.load(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
    t.create(li.repartitionByRange(8, col("l_shipdate")), statsCols = Seq("l_shipdate"))
    val (df, scanned, total) = t.scanPruned(
      "l_shipdate", Some("1996-01-01 00:00:00"), Some("1996-12-31 23:59:59"))
    assert(scanned < total)
    val expect = li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") <= lit("1996-12-31 23:59:59").cast("timestamp")).count()
    assert(df.count() == expect)
  }

  test("torn commit is invisible: data written but hint not flipped") {
    val dir = freshDir()
    val t = new IcebergTable(spark, dir)
    t.create(orders)
    val v0 = t.currentVersion.get
    // simulate a crash after file writes but before the atomic hint flip:
    // write a stray metadata file + data dir with no hint update
    orders.limit(5).write.parquet(Paths.get(dir, "data", "snap-99").toString)
    Files.writeString(Paths.get(dir, "metadata", "v99.metadata.json"), "{bogus")
    assert(t.currentVersion.contains(v0))
    assert(t.read().count() == orders.count()) // reader sees only snapshot 0
  }

  test("schema mismatch on append is rejected") {
    val t = new IcebergTable(spark, freshDir())
    t.create(orders)
    intercept[IllegalArgumentException] {
      t.append(orders.withColumn("extra", lit(1)))
    }
  }

  test("streaming ingestion commits one snapshot per micro-batch, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val t = new IcebergTable(spark, dir)
    t.create(Seq.empty[(Long, String)].toDF("id", "tag"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IcebergTable.startStream(input.toDF().toDF("id", "tag"), t,
      tempDir("graft-ice-ckpt").toString)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      assert(t.read().count() == 3)
      // one snapshot per non-empty micro-batch, after the create
      assert(t.metadata.snapshots.size >= 3)
      // a replayed batchId (restart replay) is dropped by the resume upper
      val resume = t.metadata.resumeUpper
      assert(t.append(Seq((9L, "dup")).toDF("id", "tag"), batchId = resume).isEmpty)
      assert(t.read().count() == 3)
    } finally q.stop()
  }

  test("vacuum drops directories no longer referenced by the live manifest") {
    val dir = freshDir()
    val t = new IcebergTable(spark, dir)
    t.create(orders)
    t.upsertByKey(orders.filter(col("k") % 10 === 3).withColumn("price", -col("price")),
      Seq("k"))
    t.compact()
    val dataRoot = Paths.get(dir, "data")
    val before = Files.list(dataRoot).count()
    t.vacuum()
    val after = Files.list(dataRoot).count()
    assert(after < before)
    assert(t.read().count() == orders.count()) // current state untouched
  }

  test("footer-stats commit over many files records exact per-file counts") {
    // > the sequential threshold, so this exercises the parallel footer path
    val t = new IcebergTable(spark, freshDir())
    t.create(orders.repartition(24)) // 24 data files in one commit
    val entries = t.metadata.entries.filter(_.content == "data")
    assert(entries.length == 24)
    assert(entries.map(_.recordCount).sum == orders.count())
    // manifest order matches the on-disk part-file order (encounter order
    // must survive the parallel stat step)
    assert(entries.map(_.path) == entries.map(_.path).sorted)
    assert(t.read().count() == orders.count())
  }
}
