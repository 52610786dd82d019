package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IcebergTable, IcebergViewSink}
import graft.sql.SubscribeFrame
import graft.streaming.Changelog
import graft.views.ViewCatalog

/** The delta-fed commit pipeline: commits persist their consolidated
  * changelog beside the version dir, hooks consume the STORED delta (never a
  * snapshot diff), SUBSCRIBE reads stored deltas, and the Iceberg view sink
  * self-heals from its own resume position after a failed hook (reference
  * `src/compute/src/sink/materialized_view.rs` — the persist sink writes the
  * changelog; `src/storage/src/sink/iceberg.rs` retrieve_upper_from_snapshots).
  */
class DeltaFeedSpec extends SparkSpec {
  import spark.implicits._

  private def newCatalog(): ViewCatalog =
    new ViewCatalog(spark, tempDir("graft-delta").toString)

  private def base(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"), (col("id") % 7).as("v"))

  test("incremental refresh hands hooks a delta whose plan scans ONLY the stored delta") {
    val cat = newCatalog()
    val rows = base(1000)
    cat.createMaterializedView("acc", _ =>
      Changelog.fromRows(rows).groupBy(col("v"))
        .agg(sum(col(Changelog.DiffCol)).as("support"),
          sum(col("k") * col(Changelog.DiffCol)).as("sum_k")))

    var seen: Option[(Seq[String], Long)] = None
    cat.addCommitHook("acc", "probe", { version =>
      seen = Some((cat.changesSince("acc", version - 1, version).inputFiles.toSeq, version))
    })
    // delta touches two of the seven groups
    val delta = Changelog.fromRows(Seq((5000L, 3L), (5001L, 4L)).toDF("k", "v"))
    cat.refreshIncrementalAccumulable("acc", delta, Seq("v"), Map("sum_k" -> "k"))

    val (files, version) = seen.getOrElse(fail("hook did not run"))
    assert(version == 1L)
    assert(files.nonEmpty && files.forall(_.contains("delta=1")),
      s"hook delta must read the stored delta only, scanned: $files")
    assert(files.forall(f => !f.contains("v=0") && !f.contains("v=1")),
      s"hook delta must not scan any snapshot version, scanned: $files")
    // the stored delta is changed-groups only: retract+insert for v∈{3,4}
    val d = cat.deltaAt("acc", 1L)
    assert(d.select("v").distinct().as[Long].collect().toSet == Set(3L, 4L))
  }

  test("10-version SUBSCRIBE reads only the as-of base snapshot plus stored deltas") {
    val cat = newCatalog()
    cat.commitState("ticks", base(50))
    (1 to 10).foreach { i =>
      val old = cat.table("ticks")
      // state-only commit with a known delta: one inserted row per version
      val ins = Seq((1000L + i, i.toLong)).toDF("k", "v")
      cat.commitState("ticks", old.unionByName(ins),
        Some(Changelog.fromRows(ins)))
    }
    val frame = SubscribeFrame(cat, "ticks", Some(0L))
    val files = frame.inputFiles.toSeq
    assert(files.exists(_.contains("/v=0/")), "as-of base snapshot must be read")
    ((1 to 10)).foreach { i =>
      assert(files.exists(_.contains(s"delta=$i")), s"stored delta $i must be read")
    }
    assert(files.forall(f => !(2 to 10).exists(i => f.contains(s"/v=$i/")) &&
        !f.contains("/v=1/")),
      s"no full snapshot beyond the as-of base may be scanned: $files")
    // and the frame is semantically right: 50 base rows + 10 single-row steps
    assert(frame.count() == 60)
    assert(frame.filter(col("mz_ts") === 7L).count() == 1)
  }

  test("iceberg view sink self-heals a missed version from its resume upper") {
    val cat = newCatalog()
    val path = tempDir("graft-heal").resolve("t").toString
    cat.commitState("mv", base(100))                         // version 0
    new IcebergTable(spark, path).create(cat.table("mv"), statsCols = Seq("k"), batchId = 0L)

    // version 1: hook "fails" — the sink never sees it
    val ins1 = Seq((900L, 1L)).toDF("k", "v")
    cat.commitState("mv", cat.table("mv").unionByName(ins1),
      Some(Changelog.fromRows(ins1)))
    // version 2: drop k=0..9, insert one more row
    val old = cat.table("mv")
    val gone = old.filter(col("k") < 10)
    val ins2 = Seq((901L, 2L)).toDF("k", "v")
    cat.commitState("mv", old.filter(col("k") >= 10).unionByName(ins2),
      Some(Changelog.unionAll(
        Changelog.negate(Changelog.fromRows(gone)), Changelog.fromRows(ins2))))

    // the hook for version 2 runs; resumeUpper=0 forces the catch-up union
    // of stored deltas (0, 2]
    IcebergViewSink.applyCommit(spark, cat, "mv", path, Seq("k"), 2L)

    val sinkRows = new IcebergTable(spark, path).read()
    val want = cat.table("mv")
    assert(sinkRows.exceptAll(want).isEmpty && want.exceptAll(sinkRows).isEmpty,
      "sink must equal the view after catch-up")
    // a replayed version-2 hook is a recorded no-op
    IcebergViewSink.applyCommit(spark, cat, "mv", path, Seq("k"), 2L)
    assert(new IcebergTable(spark, path).read().count() == want.count())
  }
}
