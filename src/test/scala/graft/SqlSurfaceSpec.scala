package graft

import org.apache.spark.sql.functions._

import graft.sql.GraftSqlCatalog
import graft.streaming.Subscribe

/** The reference's SQL entry path, end-to-end through `spark.sql` text only:
  * create → read → refresh → AS OF → SUBSCRIBE → COPY TO → drop
  * (parser `src/sql-parser/src/parser.rs:140`,
  * `doc/developer/life-of-a-query.md`). */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("materialized view lifecycle driven purely by SQL text") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlsurf_base")

    // CREATE — runs the query, persists v0, readable as a plain table
    val created = spark.sql(
      """CREATE MATERIALIZED VIEW sqlsurf_mv AS
        |SELECT grp, count(*) AS cnt, sum(v) AS total
        |FROM sqlsurf_base GROUP BY grp""".stripMargin).collect()
    assert(created.head.getString(0) == "sqlsurf_mv" && created.head.getLong(1) == 0L)
    assert(spark.sql("SELECT grp, cnt, total FROM sqlsurf_mv ORDER BY grp")
      .as[(String, Long, Double)].collect().toSeq ==
      Seq(("a", 2L, 40.0), ("b", 1L, 20.0)))

    // base changes; REFRESH recomputes against live inputs → v1
    Seq((1L, "a", 10.0), (4L, "c", 5.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlsurf_base")
    val refreshed = spark.sql("REFRESH MATERIALIZED VIEW sqlsurf_mv").collect()
    assert(refreshed.head.getLong(1) == 1L)
    assert(spark.sql("SELECT grp, cnt FROM sqlsurf_mv ORDER BY grp")
      .as[(String, Long)].collect().toSeq == Seq(("a", 1L), ("c", 1L)))

    // AS OF reads the pinned earlier version
    assert(spark.sql("SELECT grp, cnt, total FROM sqlsurf_mv ORDER BY grp AS OF 0")
      .as[(String, Long, Double)].collect().toSeq ==
      Seq(("a", 2L, 40.0), ("b", 1L, 20.0)))

    // SUBSCRIBE AS OF 0: snapshot at ts=0, then the v0→v1 delta at ts=1
    // with retractions (mz_diff = -1) for rows that changed or vanished
    val tail = spark.sql("SUBSCRIBE sqlsurf_mv AS OF 0")
      .select(col(Subscribe.TsCol), col(Subscribe.DiffCol), col("grp"), col("cnt"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(tail == Set(
      (0L, 1L, "a", 2L), (0L, 1L, "b", 1L), // snapshot
      (1L, -1L, "a", 2L), (1L, 1L, "a", 1L), // a: 2 -> 1
      (1L, -1L, "b", 1L), (1L, 1L, "c", 1L))) // b gone, c new

    // SUBSCRIBE with no AS OF = current snapshot only
    val cur = spark.sql("SUBSCRIBE TO sqlsurf_mv")
      .select(col(Subscribe.TsCol), col(Subscribe.DiffCol), col("grp"))
      .as[(Long, Long, String)].collect().toSet
    assert(cur == Set((1L, 1L, "a"), (1L, 1L, "c")))

    // COPY TO exports through the DataFrame writer
    val out = tempDir("graft_sqlcopy_").toString
    spark.sql(s"COPY sqlsurf_mv TO '$out/mv' WITH (FORMAT parquet)")
    assert(spark.read.parquet(s"$out/mv").count() == 2)
    spark.sql(s"COPY (SELECT grp FROM sqlsurf_mv WHERE cnt = 1) TO '$out/q' WITH (FORMAT json)")
    assert(spark.read.json(s"$out/q").count() == 2)

    // DROP removes catalog entry and the SQL-visible name
    spark.sql("DROP MATERIALIZED VIEW sqlsurf_mv")
    assert(!GraftSqlCatalog.forSession(spark).isDefined("sqlsurf_mv"))
    assert(intercept[Exception](spark.sql("SELECT * FROM sqlsurf_mv").collect())
      .getMessage.toLowerCase.contains("sqlsurf_mv"))
  }

  test("plain CREATE on an existing view errors; OR REPLACE overwrites") {
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("sqlsurf_dup_base")
    spark.sql("CREATE MATERIALIZED VIEW sqlsurf_dup AS SELECT * FROM sqlsurf_dup_base")
    val e = intercept[Exception](
      spark.sql("CREATE MATERIALIZED VIEW sqlsurf_dup AS SELECT 1 AS one"))
    assert(e.getMessage.contains("already exists"))
    spark.sql("CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_dup AS SELECT 2 AS two")
    assert(spark.sql("SELECT * FROM sqlsurf_dup").columns.toSeq == Seq("two"))
    // IF NOT EXISTS on an existing name is a no-op, not an overwrite
    spark.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS sqlsurf_dup AS SELECT 3 AS three")
    assert(spark.sql("SELECT * FROM sqlsurf_dup").columns.toSeq == Seq("two"))
    spark.sql("DROP MATERIALIZED VIEW sqlsurf_dup")
  }

  test("cloned sessions resolve to the parent's catalog, not a fresh one") {
    Seq((7, "z")).toDF("id", "s").createOrReplaceTempView("sqlsurf_clone_base")
    spark.sql("CREATE MATERIALIZED VIEW sqlsurf_clone AS SELECT id, s FROM sqlsurf_clone_base")
    // newSession() shares sharedState and inherits the conf: it must see the
    // same ViewCatalog (the foreachBatch-cloned-session case from streaming)
    val clone = spark.newSession()
    val cat = GraftSqlCatalog.forSession(clone)
    assert(cat eq GraftSqlCatalog.forSession(spark))
    assert(cat.isDefined("sqlsurf_clone"))
    assert(cat.table("sqlsurf_clone").count() == 1)
    spark.sql("DROP MATERIALIZED VIEW sqlsurf_clone")
  }

  test("non-DDL statements delegate verbatim to Spark's parser") {
    assert(spark.sql("SELECT 1 + 1 AS x").as[Int].head() == 2)
    // 'AS OF <n>' text that does not reference a catalog view is untouched
    // (here: a column alias plus a LIMIT — parses through the delegate)
    assert(spark.sql("SELECT 5 AS of_col").columns.toSeq == Seq("of_col"))
    val e = intercept[Exception](spark.sql("SELECT * FROM nonexistent_tbl_xyz AS OF 3"))
    assert(e.getMessage.nonEmpty) // delegate's parse/analysis error, not ours
  }

  test("CREATE SOURCE: load generators and files become named relations") {
    // counter generator with a bound
    spark.sql("CREATE SOURCE sqlsurf_ctr FROM LOAD GENERATOR COUNTER (UP TO 5)")
    assert(spark.sql("SELECT sum(counter) FROM sqlsurf_ctr").as[Long].head() == 10L)
    // auction generator matches the Scala API's output exactly
    spark.sql("CREATE SOURCE sqlsurf_auc FROM LOAD GENERATOR AUCTION (UP TO 100)")
    assert(spark.sql("SELECT count(DISTINCT item) FROM sqlsurf_auc").as[Long].head() == 8L)
    // file source: csv with header
    val dir = tempDir("graft-src-csv").toString + "/f"
    Seq((1, "x"), (2, "y")).toDF("id", "tag").write.option("header", "true").csv(dir)
    spark.sql(s"CREATE SOURCE sqlsurf_csv FROM FILE '$dir' FORMAT CSV")
    assert(spark.sql("SELECT count(*) FROM sqlsurf_csv").as[Long].head() == 2L)
    // duplicate create errors; IF NOT EXISTS is a no-op
    val e = intercept[IllegalArgumentException](
      spark.sql("CREATE SOURCE sqlsurf_ctr FROM LOAD GENERATOR COUNTER (UP TO 9)"))
    assert(e.getMessage.contains("already exists"))
    spark.sql("CREATE SOURCE IF NOT EXISTS sqlsurf_ctr FROM LOAD GENERATOR COUNTER (UP TO 9)")
    assert(spark.sql("SELECT count(*) FROM sqlsurf_ctr").as[Long].head() == 5L)
    // SHOW SOURCES lists them; DROP removes name + registry entry
    val shown = spark.sql("SHOW SOURCES").as[(String, String)].collect().toMap
    assert(shown.contains("sqlsurf_ctr") && shown("sqlsurf_auc").contains("auction"))
    spark.sql("DROP SOURCE sqlsurf_csv")
    assert(!spark.sql("SHOW SOURCES").as[(String, String)].collect().toMap.contains("sqlsurf_csv"))
    intercept[Exception](spark.sql("SELECT * FROM sqlsurf_csv").collect())
  }

  test("SHOW MATERIALIZED VIEWS lists catalog views with current versions") {
    Seq((1L, "a")).toDF("id", "grp").createOrReplaceTempView("sqlsurf_show_base")
    spark.sql(
      "CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_show_mv AS SELECT * FROM sqlsurf_show_base")
    val rows = spark.sql("SHOW MATERIALIZED VIEWS").collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    assert(rows.contains("sqlsurf_show_mv"))
    assert(rows("sqlsurf_show_mv").asInstanceOf[Long] >= 0L)
  }

  test("CREATE SINK maintains an Iceberg table across view refreshes") {
    import graft.sources.IcebergTable
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("snk_base")
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW snk_mv AS
        |SELECT grp, sum(v) AS total FROM snk_base GROUP BY grp""".stripMargin)
    val path = tempDir("graft-snk-spec").resolve("t").toString
    spark.sql(s"CREATE SINK snk_ice FROM snk_mv INTO ICEBERG '$path' KEY (grp)")
    val t = new IcebergTable(spark, path)
    assert(t.read().as[(String, Double)].collect().toSet ==
      Set(("a", 10.0), ("b", 20.0), ("c", 30.0)))

    // b changes, c vanishes, d appears → one incremental change-set commit
    Seq((1L, "a", 10.0), (2L, "b", 25.0), (4L, "d", 40.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("snk_base")
    spark.sql("REFRESH MATERIALIZED VIEW snk_mv")
    assert(t.read().as[(String, Double)].collect().toSet ==
      Set(("a", 10.0), ("b", 25.0), ("d", 40.0)))
    assert(t.metadata.snapshots.size == 2) // seed + one delta commit

    // SHOW SINKS lists it; DROP SINK detaches the hook
    val shown = spark.sql("SHOW SINKS").collect().map(_.getString(0)).toSet
    assert(shown.contains("snk_ice"))
    spark.sql("DROP SINK snk_ice")
    spark.sql("REFRESH MATERIALIZED VIEW snk_mv")
    assert(t.metadata.snapshots.size == 2) // no further commits
  }

  test("a MATERIALIZED VIEW composes on a CREATE SOURCE relation") {
    spark.sql("CREATE SOURCE IF NOT EXISTS sqlsurf_auc2 FROM LOAD GENERATOR AUCTION (UP TO 200)")
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_auc_mv AS
        |SELECT item, count(*) AS n FROM sqlsurf_auc2 GROUP BY item""".stripMargin)
    val total = spark.sql("SELECT sum(n) FROM sqlsurf_auc_mv").as[Long].head()
    assert(total == 200L)
  }

  test("CREATE INDEX arranges the relation; indexed joins plan exchange-free") {
    Tables.load(spark, Sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .createOrReplaceTempView("sqlidx_orders")
    Tables.load(spark, Sf, "lineitem")
      .selectExpr("l_orderkey AS o_orderkey", "l_quantity")
      .createOrReplaceTempView("sqlidx_lineitem")
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_o ON sqlidx_orders (o_orderkey) WITH (BUCKETS 8)")
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_l ON sqlidx_lineitem (o_orderkey) WITH (BUCKETS 8)")
    // SHOW INDEXES lists both
    val shown = spark.sql("SHOW INDEXES").collect().map(_.getString(0)).toSet
    assert(Set("sqlidx_o", "sqlidx_l").subsetOf(shown))
    // a plain SQL join on the indexed relations: zero shuffle exchanges
    val joined = spark.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM sqlidx_orders JOIN sqlidx_lineitem USING (o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin)
    joined.collect() // finalize the adaptive plan
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = finalPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty,
      s"expected exchange-free indexed join, found:\n$finalPlan")
    // re-create IF NOT EXISTS is a no-op; plain re-create errors
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_o ON sqlidx_orders (o_orderkey) WITH (BUCKETS 8)")
    val e = intercept[Exception](
      spark.sql("CREATE INDEX sqlidx_o ON sqlidx_orders (o_orderkey)"))
    assert(e.getMessage.contains("already exists"))
    spark.sql("DROP INDEX sqlidx_o")
    spark.sql("DROP INDEX sqlidx_l")
    // DROP INDEX restores the pre-index binding: the relation still answers
    val after = spark.sql("SELECT count(*) FROM sqlidx_orders").as[Long].head()
    assert(after > 0L, "relation must survive DROP INDEX")
  }

  test("CREATE INDEX IF NOT EXISTS rejects a conflicting redefinition") {
    Seq((1L, "x"), (2L, "y")).toDF("k", "s").createOrReplaceTempView("sqlidx_a")
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("sqlidx_b")
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_conf ON sqlidx_a (k) WITH (BUCKETS 4)")
    // same definition: no-op
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_conf ON sqlidx_a (k) WITH (BUCKETS 4)")
    // different relation: must error, never rebind sqlidx_b to a's data
    val e = intercept[Exception](
      spark.sql("CREATE INDEX IF NOT EXISTS sqlidx_conf ON sqlidx_b (k) WITH (BUCKETS 4)"))
    assert(e.getMessage.contains("different definition"))
    assert(spark.sql("SELECT s FROM sqlidx_a WHERE k = 2").as[String].head() == "y")
    spark.sql("DROP INDEX sqlidx_conf")
    // the temp view's own plan is restored
    assert(spark.sql("SELECT count(*) FROM sqlidx_a").as[Long].head() == 2L)
  }

  test("an index over a maintained view rebuilds on commit") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlidxmv_base")
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW sqlidxmv AS
        |SELECT grp, sum(v) AS total FROM sqlidxmv_base GROUP BY grp""".stripMargin)
    spark.sql("CREATE INDEX IF NOT EXISTS sqlidxmv_i ON sqlidxmv (grp) WITH (BUCKETS 4)")
    assert(spark.sql("SELECT total FROM sqlidxmv WHERE grp = 'a'").as[Double].head() == 10.0)
    // a commit refreshes the arrangement: the indexed name serves NEW data
    Seq((1L, "a", 11.0), (3L, "c", 7.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlidxmv_base")
    spark.sql("REFRESH MATERIALIZED VIEW sqlidxmv")
    val got = spark.sql("SELECT grp, total FROM sqlidxmv")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("a", 11.0), ("c", 7.0)), s"stale index after commit: $got")
    // and it still reads the bucketed arrangement (the managed table's files)
    val files = spark.table("sqlidxmv").inputFiles
    assert(files.nonEmpty && files.forall(_.contains("sqlidxmv_i")),
      s"expected arrangement scan, read: ${files.take(3).mkString(", ")}")
    spark.sql("DROP INDEX sqlidxmv_i")
    // dropping the index re-binds the maintained view's live snapshot
    val after = spark.sql("SELECT grp, total FROM sqlidxmv")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(after == Set(("a", 11.0), ("c", 7.0)))
  }

  test("continuous SUBSCRIBE ... WITH (SNAPSHOT, PROGRESS) + FETCH + CLOSE") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlsub_base")
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW sqlsub_mv AS
        |SELECT grp, sum(v) AS total FROM sqlsub_base GROUP BY grp""".stripMargin)
    spark.sql("SUBSCRIBE sqlsub_mv WITH (SNAPSHOT, PROGRESS)")
    // a COUNTED fetch takes at most n rows, leaving the rest queued
    val one = spark.sql("FETCH 1 sqlsub_mv").collect()
    assert(one.length == 1)
    // the remaining snapshot rows + the progress row still drain
    val first = one ++ spark.sql("FETCH ALL sqlsub_mv").collect()
    assert(first.count(r => !r.isNullAt(2) && r.getBoolean(2)) == 1) // progress
    assert(first.filter(r => !r.getBoolean(2)).map(r =>
      (r.getString(3), r.getDouble(4))).toSet == Set(("a", 10.0), ("b", 20.0)))
    // a refresh delivers ONLY the delta, stamped with the new version
    Seq((1L, "a", 10.0), (2L, "b", 25.0), (3L, "c", 7.0))
      .toDF("id", "grp", "v").createOrReplaceTempView("sqlsub_base")
    spark.sql("REFRESH MATERIALIZED VIEW sqlsub_mv")
    val second = spark.sql("FETCH sqlsub_mv").collect()
    val data = second.filter(r => !r.getBoolean(2))
      .map(r => (r.getLong(1), r.getString(3), r.getDouble(4))).toSet
    assert(data == Set((-1L, "b", 20.0), (1L, "b", 25.0), (1L, "c", 7.0)),
      s"delta must be retract(b,20) + insert(b,25) + insert(c,7), got $data")
    assert(second.exists(r => !r.isNullAt(2) && r.getBoolean(2)))
    // an empty FETCH drains nothing; CLOSE ends the subscription
    assert(spark.sql("FETCH sqlsub_mv").collect().isEmpty)
    spark.sql("CLOSE sqlsub_mv")
    val e = intercept[Exception](spark.sql("FETCH sqlsub_mv"))
    assert(e.getMessage.contains("no open subscription"))
    spark.sql("DROP MATERIALIZED VIEW sqlsub_mv")
  }

  test("DROP and CREATE OR REPLACE refuse a view a sink, cursor or index consumes") {
    val create = """CREATE OR REPLACE MATERIALIZED VIEW cons_mv AS
      |SELECT grp, sum(v) AS total FROM cons_base GROUP BY grp""".stripMargin
    val path = tempDir("graft-cons").resolve("t").toString
    Seq(
      ("sink:cons_ice", s"CREATE SINK cons_ice FROM cons_mv INTO ICEBERG '$path' KEY (grp)",
        "DROP SINK cons_ice"),
      ("subscribe:cons_mv", "SUBSCRIBE cons_mv WITH (SNAPSHOT)", "CLOSE cons_mv"),
      ("graft.index.cons_i", "CREATE INDEX cons_i ON cons_mv (grp) WITH (BUCKETS 2)",
        "DROP INDEX cons_i")
    ).foreach { case (hook, attach, detach) =>
      Seq(("a", 5.0), ("b", 2.0)).toDF("grp", "v").createOrReplaceTempView("cons_base")
      spark.sql(create)
      spark.sql(attach)
      Seq(("x", 9.0), ("y", 1.0)).toDF("grp", "v").createOrReplaceTempView("cons_base")
      Seq(create, "DROP MATERIALIZED VIEW cons_mv").foreach { stmt =>
        val e = intercept[Exception](spark.sql(stmt))
        assert(e.getMessage.contains(hook), s"$stmt: ${e.getMessage}")
      }
      // the refused statements changed nothing: same incarnation, same rows
      assert(GraftSqlCatalog.forSession(spark).currentVersion("cons_mv").contains(0L))
      assert(spark.sql("SELECT grp, total FROM cons_mv").as[(String, Double)].collect().toSet ==
        Set(("a", 5.0), ("b", 2.0)))
      spark.sql(detach)
      spark.sql(create)
      assert(spark.sql("SELECT grp, total FROM cons_mv").as[(String, Double)].collect().toSet ==
        Set(("x", 9.0), ("y", 1.0)))
      spark.sql("DROP MATERIALIZED VIEW cons_mv")
    }
  }

  test("an Iceberg sink never holds a replaced view's rows") {
    import graft.sources.IcebergTable
    val create = """CREATE OR REPLACE MATERIALIZED VIEW repl_mv AS
      |SELECT grp, sum(v) AS total FROM repl_base GROUP BY grp""".stripMargin
    def view = spark.sql("SELECT grp, total FROM repl_mv").as[(String, Double)].collect().toSet
    Seq(("a", 4.0), ("b", 2.0)).toDF("grp", "v").createOrReplaceTempView("repl_base")
    spark.sql(create)
    val path = tempDir("graft-repl").resolve("t").toString
    spark.sql(s"CREATE SINK repl_ice FROM repl_mv INTO ICEBERG '$path' KEY (grp)")
    val sink = new IcebergTable(spark, path)
    def sinkRows = sink.read().as[(String, Double)].collect().toSet
    Seq(("a", 5.0), ("b", 2.0)).toDF("grp", "v").createOrReplaceTempView("repl_base")
    spark.sql("REFRESH MATERIALIZED VIEW repl_mv")
    assert(sinkRows == Set(("a", 5.0), ("b", 2.0)))
    // a new incarnation over other rows: refused while the sink is attached
    Seq(("x", 9.0), ("y", 1.0)).toDF("grp", "v").createOrReplaceTempView("repl_base")
    scala.util.Try(spark.sql(create))
    spark.sql("REFRESH MATERIALIZED VIEW repl_mv")
    assert(sinkRows == view, s"sink ${sinkRows} != view ${view}")
    spark.sql("DROP SINK repl_ice")
    spark.sql(create)
    assert(view == Set(("x", 9.0), ("y", 1.0)))
    spark.sql("DROP MATERIALIZED VIEW repl_mv")
  }

  test("EXPLAIN as a statement: plan stages, filter pushdown, timestamp") {
    Tables.load(spark, Sf, "orders").createOrReplaceTempView("sqlexp_orders")
    val formatted = spark.sql(
      "EXPLAIN PLAN FOR SELECT o_orderkey FROM sqlexp_orders WHERE o_orderkey = 7")
      .collect().map(_.getString(0)).mkString("\n")
    assert(formatted.contains("Physical Plan"), s"formatted plan:\n$formatted")
    val opt = spark.sql(
      "EXPLAIN OPTIMIZED PLAN FOR SELECT count(*) AS n FROM sqlexp_orders")
      .collect().map(_.getString(0)).mkString("\n")
    assert(opt.contains("Aggregate"), s"optimized plan:\n$opt")
    // the pushdown report shows the filter reaching the parquet scan
    val push = spark.sql(
      "EXPLAIN FILTER PUSHDOWN FOR SELECT o_orderkey FROM sqlexp_orders WHERE o_orderkey = 7")
      .collect().map(_.getString(0)).mkString("\n")
    assert(push.contains("o_orderkey"), s"pushdown report:\n$push")
    val ts = spark.sql("EXPLAIN TIMESTAMP FOR SELECT 1").collect().head.getString(0)
    assert(ts.startsWith("query timestamp:"))
    // EXPLAIN of CREATE MATERIALIZED VIEW explains the defining query —
    // and creates nothing
    val mv = spark.sql(
      """EXPLAIN RAW PLAN FOR CREATE MATERIALIZED VIEW sqlexp_mv AS
        |SELECT count(*) AS n FROM sqlexp_orders""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(mv.toLowerCase.contains("aggregate") || mv.toLowerCase.contains("count"))
    intercept[Exception](spark.sql("SELECT * FROM sqlexp_mv"))
  }

  test("SUBSCRIBE ENVELOPE UPSERT/DEBEZIUM round-trip through upsert decode") {
    Seq((1L, 2.0), (2L, 4.0)).toDF("k", "v").createOrReplaceTempView("subup_base")
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW subup_mv AS
        |SELECT k, sum(v) AS v FROM subup_base GROUP BY k""".stripMargin)
    // v1: update k=1, delete k=2, insert k=3
    Seq((1L, 10.0), (3L, 6.0)).toDF("k", "v").createOrReplaceTempView("subup_base")
    spark.sql("REFRESH MATERIALIZED VIEW subup_mv")
    val env = spark.sql("SUBSCRIBE subup_mv ENVELOPE UPSERT (KEY (k)) AS OF 0").collect()
    val byTs = env.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(byTs == Set(
      (0L, "upsert", 1L, 2.0), (0L, "upsert", 2L, 4.0),
      (1L, "upsert", 1L, 10.0), (1L, "delete", 2L, null),
      (1L, "upsert", 3L, 6.0)), s"unexpected envelope: $byTs")
    // round trip: replaying the envelope through upsert semantics (last
    // state per key; delete removes) reconstructs the final snapshot
    val decoded = env.groupBy(_.getLong(2)).map { case (_, rows) =>
      rows.maxBy(_.getLong(0))
    }.filter(_.getString(1) == "upsert").map(r => (r.getLong(2), r.getDouble(3))).toSet
    val snap = spark.sql("SELECT k, v FROM subup_mv")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(decoded == snap, s"round-trip mismatch: $decoded vs $snap")
    // DEBEZIUM carries the prior state: before/after pairs per key
    val dbz = spark.sql("SUBSCRIBE subup_mv ENVELOPE DEBEZIUM (KEY (k)) AS OF 0")
      .filter(col("mz_ts") === 1L).collect()
      .map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSet
    assert(dbz == Set(
      ("upsert", 1L, 2.0, 10.0), ("delete", 2L, 4.0, null),
      ("insert", 3L, null, 6.0)), s"unexpected debezium envelope: $dbz")
    // the continuous cursor serves the same envelope through FETCH
    Seq((1L, 10.0), (3L, 6.0), (4L, 8.0)).toDF("k", "v")
      .createOrReplaceTempView("subup_base")
    spark.sql("SUBSCRIBE subup_mv ENVELOPE UPSERT (KEY (k)) WITH (SNAPSHOT)")
    spark.sql("FETCH subup_mv").collect() // drain the snapshot
    spark.sql("REFRESH MATERIALIZED VIEW subup_mv")
    val fetched = spark.sql("FETCH subup_mv").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(fetched == Set(("upsert", 4L, 8.0)), s"unexpected FETCH: $fetched")
    spark.sql("CLOSE subup_mv")
    spark.sql("DROP MATERIALIZED VIEW subup_mv")
  }

  test("mz_now() temporal filter in CREATE MATERIALIZED VIEW + ADVANCE") {
    Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-10 00:00:00"),
        (3L, "2024-01-20 00:00:00"))
      .toDF("id", "ts_s").selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("sqlsurf_ttl_base")
    spark.conf.set("spark.graft.mz_now", "2024-01-02 00:00:00")
    try {
      spark.sql(
        """CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_ttl AS
          |SELECT id, ts FROM sqlsurf_ttl_base
          |WHERE id < 100 AND mz_now() <= ts + INTERVAL 2 DAY""".stripMargin)
      // pinned clock 01-02: all three rows' deadlines (ts + 2d) are >= clock
      assert(spark.sql("SELECT id FROM sqlsurf_ttl").as[Long].collect().toSet
        == Set(1L, 2L, 3L))
      // advance past id=1's deadline (01-03): exactly that row retracts
      spark.sql("ADVANCE MATERIALIZED VIEW sqlsurf_ttl TO TIMESTAMP '2024-01-05 00:00:00'")
      assert(spark.sql("SELECT id FROM sqlsurf_ttl").as[Long].collect().toSet
        == Set(2L, 3L))
      // the retraction is visible in the SUBSCRIBE changelog as mz_diff = -1
      val frame = spark.sql("SUBSCRIBE sqlsurf_ttl AS OF 0")
      val retracted = frame.filter(col("mz_diff") === -1L).select("id").as[Long].collect()
      assert(retracted.toSeq == Seq(1L))
      // lower bound (scheduled future insertion): rows appear only once the
      // clock reaches their ts — created at the pinned clock 2024-01-02,
      // only id=1 (ts 01-01) is visible; the others wait in pending state
      spark.sql(
        """CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_delayed AS
          |SELECT id, ts FROM sqlsurf_ttl_base WHERE mz_now() >= ts""".stripMargin)
      assert(spark.sql("SELECT id FROM sqlsurf_delayed").as[Long].collect().toSet
        == Set(1L))
      spark.sql("ADVANCE MATERIALIZED VIEW sqlsurf_delayed TO TIMESTAMP '2024-01-15 00:00:00'")
      assert(spark.sql("SELECT id FROM sqlsurf_delayed").as[Long].collect().toSet
        == Set(1L, 2L)) // id=2 appeared; id=3 (ts 01-20) still pending
      val f2 = spark.sql("SUBSCRIBE sqlsurf_delayed AS OF 0")
      assert(f2.filter(col("mz_diff") === 1L && col("mz_ts") === 1L)
        .select("id").as[Long].collect().toSeq == Seq(2L))
      // strict mz_now() shapes are still rejected, not mis-compiled
      val e = intercept[Exception](spark.sql(
        """CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_ttl_bad AS
          |SELECT id, ts FROM sqlsurf_ttl_base WHERE mz_now() < ts""".stripMargin))
      assert(e.getMessage.contains("mz_now"))
      spark.sql("DROP MATERIALIZED VIEW sqlsurf_delayed")
      spark.sql("DROP MATERIALIZED VIEW sqlsurf_ttl")
    } finally spark.conf.unset("spark.graft.mz_now")
  }

  test("SHOW statement family: CREATE VIEW / COLUMNS / TABLES / VIEWS") {
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "grp", "v")
      .createOrReplaceTempView("sqlsurf_show_base")
    spark.sql(
      "CREATE OR REPLACE MATERIALIZED VIEW sqlsurf_show_mv AS SELECT grp, sum(v) AS s FROM sqlsurf_show_base GROUP BY grp")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW sqlsurf_show_v AS SELECT id FROM sqlsurf_show_base")
    try {
      // SHOW CREATE MATERIALIZED VIEW: (name, create_sql), the stored text
      val mv = spark.sql("SHOW CREATE MATERIALIZED VIEW sqlsurf_show_mv").collect().head
      assert(mv.getString(0) == "sqlsurf_show_mv")
      assert(mv.getString(1).startsWith("CREATE MATERIALIZED VIEW sqlsurf_show_mv AS"))
      assert(mv.getString(1).contains("GROUP BY grp"))
      // SHOW CREATE VIEW rejects the materialized view and answers the plain one
      intercept[Exception](spark.sql("SHOW CREATE VIEW sqlsurf_show_mv").collect())
      val pv = spark.sql("SHOW CREATE VIEW sqlsurf_show_v").collect().head
      assert(pv.getString(1).contains("TEMPORARY VIEW sqlsurf_show_v"))
      // SHOW COLUMNS: (name, nullable, type, comment) in position order
      val cols = spark.sql("SHOW COLUMNS FROM sqlsurf_show_mv").collect()
        .map(r => (r.getString(0), r.getString(2))).toSeq
      assert(cols == Seq(("grp", "text"), ("s", "double precision")))
      // SHOW VIEWS lists the plain temp view but not the MV under its name;
      // unknown relations still error
      val views = spark.sql("SHOW VIEWS").collect().map(_.getString(0)).toSet
      assert(views.contains("sqlsurf_show_v"))
      assert(!views.contains("sqlsurf_show_mv"))
      intercept[Exception](spark.sql("SHOW CREATE VIEW no_such_view_xyz").collect())
      // SHOW CREATE TABLE answers with the reference's canonical rendering:
      // fully-qualified materialize.public.* name (show.rs ShowCreate); a
      // statement outside the canonical regime (USING parquet) falls back
      // to the recorded user text
      spark.sql("DROP TABLE IF EXISTS sqlsurf_show_t")
      spark.sql("CREATE TABLE sqlsurf_show_t (id BIGINT, v DOUBLE) USING parquet")
      try {
        val ct = spark.sql("SHOW CREATE TABLE sqlsurf_show_t").collect().head
        assert(ct.getString(0) == "materialize.public.sqlsurf_show_t")
        assert(ct.getString(1).startsWith("CREATE TABLE sqlsurf_show_t"))
      } finally spark.sql("DROP TABLE IF EXISTS sqlsurf_show_t")
    } finally {
      spark.sql("DROP MATERIALIZED VIEW sqlsurf_show_mv")
      spark.catalog.dropTempView("sqlsurf_show_v")
    }
  }
}
