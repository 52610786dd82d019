package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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

  test("an incremental refresh commits in the view's types: a decimal sum keeps its precision") {
    val dir = tempDir("graft-mv-decimal").toString
    val cat = new ViewCatalog(spark, dir)
    def rows(xs: (String, String)*) =
      xs.toDF("k", "x").select(col("k"), col("x").cast("decimal(18,2)").as("x"))
    // sum(decimal(18,2)) is decimal(28,2); the refresh's diff-weighted sum
    // of decimal(18,2) * bigint is decimal(38,2)
    cat.createMaterializedView("mv_spec_dec", _ => rows("a" -> "1.25", "b" -> "2.50")
      .groupBy(col("k")).agg(count(lit(1)).as("support"), sum(col("x")).as("sum_x")))
    cat.exposeAsTempView("mv_spec_dec")
    (1 to 5).foreach { i =>
      cat.refreshIncrementalAccumulable("mv_spec_dec", Changelog.fromRows(rows("a" -> s"$i.10")),
        Seq("k"), Map("sum_x" -> "x"))
    }
    val reopened = new ViewCatalog(spark, dir)
    (0L to 5L).foreach { v =>
      assert(cat.tableAt("mv_spec_dec", v).schema("sum_x").dataType == DecimalType(28, 2), s"version $v")
      assert(reopened.tableAt("mv_spec_dec", v).schema("sum_x").dataType == DecimalType(28, 2), s"version $v")
    }
    assert(spark.table("mv_spec_dec").schema("sum_x").dataType == DecimalType(28, 2))
    assert(cat.table("mv_spec_dec").inputFiles.isEmpty, "the view was evicted from memory")
    assert(cat.table("mv_spec_dec").filter(col("k") === "a").select("sum_x").as[BigDecimal].head() ==
      BigDecimal("16.75"))
  }

  test("a commit with another schema fails and writes nothing") {
    val dir = tempDir("graft-mv-schema")
    val cat = new ViewCatalog(spark, dir.toString)
    cat.commitState("s", Seq((1L, "a")).toDF("k", "v"))
    def listing: Seq[String] = {
      val l = Files.list(dir.resolve("s"))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally l.close()
    }
    val before = listing
    val next = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Seq(
      () => cat.commitState("s", Seq((1L, 2L)).toDF("k", "v")),
      () => cat.commitState("s", Seq(("a", 1L)).toDF("v", "k")),
      () => cat.commitState("s", Seq((1L, "a", 1L)).toDF("k", "v", "w")),
      () => cat.commitState("s", next, Some(Changelog.fromRows(Seq(2L).toDF("k")))),
      () => cat.commitGroup("g", -1L, Map("t" -> next, "s" -> next.select("v", "k")))
    ).foreach(c => intercept[IllegalArgumentException](c()))
    assert(cat.currentVersion("s").contains(0L))
    assert(cat.currentVersion("t").isEmpty && !Files.exists(dir.resolve("t")))
    assert(listing == before)
    // nullability is not part of the schema
    cat.commitState("s", Seq((Option(2L), "b")).toDF("k", "v"))
    assert(cat.table("s").as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("CREATE OR REPLACE starts an incarnation with a new schema") {
    val dir = tempDir("graft-mv-replace").toString
    val cat = new ViewCatalog(spark, dir)
    cat.createMaterializedView("r", _ => Seq((1L, "a")).toDF("k", "v"))
    cat.commitState("r", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    cat.createMaterializedView("r", _ => Seq((1.5, 1L), (2.5, 2L)).toDF("x", "y"))
    cat.refreshFull("r")
    assert(cat.currentVersion("r").contains(1L))
    intercept[IllegalArgumentException](cat.commitState("r", Seq((1L, "a")).toDF("k", "v")))
    val reopened = new ViewCatalog(spark, dir)
    assert(reopened.table("r").as[(Double, Long)].collect().toSet == Set((1.5, 1L), (2.5, 2L)))
    assert(reopened.deltaAt("r", 1L).count() == 0L)
  }

  test("a CREATE OR REPLACE whose query fails leaves the committed view as it was") {
    val dir = tempDir("graft-mv-replace-fail").toString
    val cat = new ViewCatalog(spark, dir)
    val two = Seq((1L, "a"), (2L, "b"))
    val three = two :+ ((3L, "c"))
    cat.createMaterializedView("v", _ => two.toDF("k", "s"))
    cat.commitState("v", three.toDF("k", "s"))
    def rows(c: ViewCatalog): Set[(Long, String)] = c.table("v").as[(Long, String)].collect().toSet
    intercept[Exception](cat.createMaterializedView("v", s =>
      s.range(3).select(col("id").as("k"), raise_error(lit("boom")).cast("string").as("s"))))
    assert(cat.currentVersion("v").contains(1L))
    assert(rows(cat) == three.toSet)
    assert(rows(new ViewCatalog(spark, dir)) == three.toSet)
    // the old incarnation still takes commits, and a later replace works
    val four = three :+ ((4L, "d"))
    assert(cat.commitState("v", four.toDF("k", "s")) == 2L)
    assert(rows(cat) == four.toSet && rows(new ViewCatalog(spark, dir)) == four.toSet)
    cat.createMaterializedView("v", _ => Seq((1.5, 1L)).toDF("x", "y"))
    assert(cat.currentVersion("v").contains(0L))
    assert(new ViewCatalog(spark, dir).table("v").as[(Double, Long)].collect().toSeq ==
      Seq((1.5, 1L)))
  }

  test("each incarnation has its own directory, deleted once the next one commits") {
    val base = tempDir("graft-mv-incarnations")
    val cat = new ViewCatalog(spark, base.toString)
    def children(p: java.nio.file.Path): Set[String] = {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val v = base.resolve("v")
    cat.createMaterializedView("v", _ => Seq(1L, 2L).toDF("k"))
    cat.commitState("v", Seq(1L, 2L, 3L).toDF("k"))
    assert(children(base) == Set("_timeline", "v"))
    assert(children(v) == Set("v=0", "delta=1"))
    // a failed replace writes only its own attempt's directory
    def data(p: java.nio.file.Path) = children(p).filterNot(_.startsWith("attempt-"))
    intercept[Exception](cat.createMaterializedView("v", s =>
      s.range(1).select(raise_error(lit("boom")).cast("string").as("s"))))
    assert(data(v) == Set("v=0", "delta=1"))
    cat.createMaterializedView("v", _ => Seq("a").toDF("s"))
    assert(data(v) == Set("i=1") && children(base) == Set("_timeline", "v"))
    cat.commitState("v", Seq("a", "b").toDF("s"))
    assert(new ViewCatalog(spark, base.toString).table("v").as[String].collect().toSet ==
      Set("a", "b"))
    // what a crash between a replace's rename and its clean-up would leave
    // of the old incarnation, and the failed attempt, go at the next vacuum
    Files.createDirectories(v.resolve("v=0"))
    cat.vacuum("v")
    assert(children(v) == Set("i=1"))
    cat.createMaterializedView("v", _ => Seq(7L).toDF("k"))
    assert(children(v) == Set("i=2"))
    // a drop ends the numbering: the re-created view is a first incarnation
    cat.dropView("v")
    cat.createMaterializedView("v", _ => Seq(8L).toDF("k"))
    assert(children(v) == Set("v=0"))
    assert(new ViewCatalog(spark, base.toString).table("v").as[Long].collect().toSeq == Seq(8L))
  }

  test("a failed SQL CREATE OR REPLACE MATERIALIZED VIEW keeps the old incarnation") {
    val dir = tempDir("graft-mv-replace-sql").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.viewDir", dir)
    s.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS s").createOrReplaceTempView("rf_base")
    s.sql("CREATE MATERIALIZED VIEW rf AS SELECT k, s FROM rf_base")
    s.sql("REFRESH MATERIALIZED VIEW rf")
    val cat = graft.sql.GraftSqlCatalog.forSession(s)
    val old = Set((0L, "0"), (1L, "1"), (2L, "2"))
    def sqlRows: Set[(Long, String)] = s.sql("SELECT k, s FROM rf").as[(Long, String)].collect().toSet
    intercept[Exception](s.sql("CREATE OR REPLACE MATERIALIZED VIEW rf AS " +
      "SELECT k, CAST(raise_error('boom') AS STRING) AS s FROM rf_base"))
    assert(cat.currentVersion("rf").contains(1L))
    assert(cat.table("rf").as[(Long, String)].collect().toSet == old)
    assert(sqlRows == old)
    assert(new ViewCatalog(spark, dir).table("rf").as[(Long, String)].collect().toSet == old)
    // REFRESH re-runs the old definition; a valid replace then works
    s.sql("REFRESH MATERIALIZED VIEW rf")
    assert(cat.currentVersion("rf").contains(2L) && sqlRows == old)
    s.sql("CREATE OR REPLACE MATERIALIZED VIEW rf AS SELECT k * 10 AS k10 FROM rf_base")
    assert(cat.currentVersion("rf").contains(0L))
    assert(s.sql("SELECT k10 FROM rf").as[Long].collect().toSet == Set(0L, 10L, 20L))
    s.sql("DROP MATERIALIZED VIEW rf")
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
