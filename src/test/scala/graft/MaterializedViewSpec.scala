package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.Changelog
import graft.views.ViewCatalog

class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def newCatalog(): ViewCatalog =
    new ViewCatalog(spark, tempDir("graft-mv").toString)

  test("create + read serves the committed snapshot") {
    val cat = newCatalog()
    cat.createMaterializedView("top_nations",
      s => Tables.load(s, Sf, "nation").filter(col("n_nationkey") < 5)
        .select(col("n_nationkey"), col("n_name")))
    assert(cat.currentVersion("top_nations").contains(0L))
    assert(cat.table("top_nations").count() == 5)
  }

  test("full refresh commits a new version; readers flip atomically") {
    val cat = newCatalog()
    var limit = 5
    cat.createMaterializedView("nat", s =>
      Tables.load(s, Sf, "nation").filter(col("n_nationkey") < limit))
    val before = cat.table("nat") // resolves v=0 NOW; stays readable after flip
    limit = 10
    cat.refreshFull("nat")
    assert(cat.currentVersion("nat").contains(1L))
    assert(before.count() == 5)            // old snapshot still consistent
    assert(cat.table("nat").count() == 10) // new reads see the new version
    assert(cat.tableAt("nat", 0L).count() == 5) // AS OF old version
  }

  test("incremental accumulable refresh == full recompute after delta batch") {
    val cat = newCatalog()
    val orders = Tables.load(spark, Sf, "orders")
      .select(col("o_orderpriority"), col("o_totalprice").cast("decimal(18,2)").as("price"))

    // MV = accumulable state (key, support, sum_price) over the base table.
    cat.createMaterializedView("rev_by_prio", _ =>
      Changelog.fromRows(orders)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col(Changelog.DiffCol)).as("support"),
          sum(col("price") * col(Changelog.DiffCol)).as("sum_price")))

    // Delta: retract every order below 50k, insert two synthetic orders.
    val retractions = Changelog.negate(Changelog.fromRows(orders.filter(col("price") < 50000)))
    val inserts = Changelog.fromRows(
      Seq(("1-URGENT", BigDecimal(123.45)), ("9-SYNTH", BigDecimal(67.89)))
        .toDF("o_orderpriority", "price")
        .select(col("o_orderpriority"), col("price").cast("decimal(18,2)").as("price")))
    val delta = Changelog.unionAll(retractions, inserts)

    cat.refreshIncrementalAccumulable("rev_by_prio", delta,
      Seq("o_orderpriority"), Map("sum_price" -> "price"))

    // Oracle: full recompute over the post-delta collection.
    val expected = orders.filter(col("price") >= 50000)
      .unionByName(inserts.drop(Changelog.DiffCol))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("support"), sum(col("price")).as("sum_price"))
      .collect().map(r => (r.getString(0), r.getLong(0 + 1), r.getDecimal(2)))
      .toSet
    val got = cat.table("rev_by_prio")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .toSet
    assert(got == expected)
  }

  test("delta-structured persist: incremental commits write |delta| batches, compaction bounds the chain") {
    val dir = tempDir("graft-mv-delta")
    val cat = new ViewCatalog(spark, dir.toString)
    val base = spark.range(0, 10000)
      .select((col("id") % 5000).as("k"), lit(1.0).as("v"))
    cat.createMaterializedView("acc", _ =>
      Changelog.fromRows(base).groupBy(col("k"))
        .agg(sum(col(Changelog.DiffCol)).as("support"),
          sum(col("v") * col(Changelog.DiffCol)).as("sv")))
    for (i <- 1 to 5) {
      val delta = Changelog.fromRows(
        Seq((100000L + i, 2.0), (0L, 3.0)).toDF("k", "v"))
      cat.refreshIncrementalAccumulable("acc", delta, Seq("k"), Map("sv" -> "v"))
    }
    // versions 1-3 and 5 persist ONLY their delta batch — the write job
    // touches ∝|delta|, never |view|; version 4 is the compaction event
    // (compactEvery = 4) that re-materializes a full snapshot
    Seq(1L, 2L, 3L, 5L).foreach { v =>
      assert(!Files.exists(dir.resolve(s"acc/v=$v")), s"v=$v must be delta-only")
      assert(Files.exists(dir.resolve(s"acc/delta=$v")), s"delta=$v missing")
    }
    assert(Files.exists(dir.resolve("acc/v=4")), "compaction snapshot expected")
    // the persisted batch is the per-key retract+insert pairs: 3 rows here
    // (key 0: retract+insert; the fresh key: insert only), not 5000
    assert(spark.read.parquet(dir.resolve("acc/delta=1").toString).count() == 3)
    def bytes(p: java.nio.file.Path): Long = {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum
      finally s.close()
    }
    assert(bytes(dir.resolve("acc/delta=1")) < bytes(dir.resolve("acc/v=0")),
      "delta batch must be smaller than the snapshot")
    // merge-on-read serves the exact state, current and historical
    assert(cat.table("acc").filter(col("k") === 0L).select("sv")
      .as[Double].head() == 2.0 + 5 * 3.0)
    assert(cat.table("acc").count() == 5005)
    assert(cat.tableAt("acc", 2L).count() == 5002)
    // vacuum keeps the compaction base the current (delta-only) version needs
    cat.vacuum("acc")
    assert(Files.exists(dir.resolve("acc/v=4")))
    assert(cat.table("acc").count() == 5005)
  }

  test("vacuum drops superseded versions, keeps current") {
    val cat = newCatalog()
    cat.createMaterializedView("n", s => Tables.load(s, Sf, "nation"))
    cat.refreshFull("n")
    cat.refreshFull("n")
    cat.vacuum("n")
    assert(cat.currentVersion("n").contains(2L))
    assert(cat.table("n").count() == 25)
  }
}
