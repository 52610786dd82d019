package graft

/** generate_series (scalar + FROM position, pg empty-set semantics) and the
  * SLT runner's UPDATE/DELETE emulation + ARRAY[...] literal rewrite. */
class SeriesAndMutationSpec extends SparkSpec {
  import spark.implicits._

  test("generate_series works in scalar and FROM position with pg semantics") {
    assert(spark.sql("SELECT generate_series(1, 4)").as[Long].collect().toSeq
      == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql("SELECT * FROM generate_series(2, 5)").as[Long].collect().toSeq
      == Seq(2L, 3L, 4L, 5L))
    // pg: start > stop with implicit step → EMPTY, not auto-reversed
    assert(spark.sql("SELECT generate_series(5, 1)").collect().isEmpty)
    // explicit negative step descends
    assert(spark.sql("SELECT generate_series(5, 3, -1)").as[Long].collect().toSeq
      == Seq(5L, 4L, 3L))
  }

  test("generate_series over timestamps steps iteratively with pg month clamping") {
    def run(q: String): Seq[String] =
      spark.sql(q).collect().toSeq.map(r => String.valueOf(r.get(0)))
    // plain hourly series through spark.sql (SQL-surface path)
    assert(run("SELECT * FROM generate_series(CAST('2021-01-01 00:00:00' AS TIMESTAMP), " +
      "CAST('2021-01-01 02:00:00' AS TIMESTAMP), '1 hour') ORDER BY 1")
      == Seq("2021-01-01 00:00:00.0", "2021-01-01 01:00:00.0", "2021-01-01 02:00:00.0"))
    // pg ITERATIVE month stepping: Jan 31 → Feb 28 → Mar 28 (NOT Mar 31)
    assert(run("SELECT * FROM generate_series(CAST('2021-01-31 03:00:00' AS TIMESTAMP), " +
      "CAST('2021-04-30 00:00:00' AS TIMESTAMP), '1 month') ORDER BY 1")
      == Seq("2021-01-31 03:00:00.0", "2021-02-28 03:00:00.0",
        "2021-03-28 03:00:00.0", "2021-04-28 03:00:00.0"))
    // wrong-direction step → pg empty set
    assert(run("SELECT generate_series(CAST('2021-01-03' AS TIMESTAMP), " +
      "CAST('2021-01-01' AS TIMESTAMP), '1 day')").isEmpty)
    // descending
    assert(run("SELECT generate_series(CAST('2021-01-01 03:00:00' AS TIMESTAMP), " +
      "CAST('2021-01-01 00:00:00' AS TIMESTAMP), '-1 hour') ORDER BY 1")
      == Seq("2021-01-01 00:00:00.0", "2021-01-01 01:00:00.0",
        "2021-01-01 02:00:00.0", "2021-01-01 03:00:00.0"))
  }

  test("SLT shim: ARRAY[...] literals become array(...) calls") {
    assert(graft.slt.SltRunner.shim("SELECT ARRAY[1, 2, 3]", crdb = false)
      .contains("array(1, 2, 3)"))
    val nested = graft.slt.SltRunner.shim(
      "SELECT ARRAY[ARRAY[1], ARRAY[2]] , x[1]", crdb = false)
    assert(nested.contains("array(array(1), array(2))")
      && nested.contains("pg_subscript(x, 1)"))
    // quoted content untouched
    assert(graft.slt.SltRunner.shim("SELECT 'ARRAY[1]'", crdb = false)
      .contains("'ARRAY[1]'"))
  }

  test("SLT shim: pg subscripts become pg_subscript; non-subscripts stay") {
    def s(q: String) = graft.slt.SltRunner.shim(q, crdb = false)
    assert(s("SELECT ARRAY[1,2,3][2]").contains("pg_subscript(array(1,2,3), 2)"))
    assert(s("SELECT (SELECT ARRAY[1,2])[1]")
      .contains("pg_subscript((SELECT array(1,2)), 1)"))
    assert(s("SELECT f(a)[3]").contains("pg_subscript(f(a), 3)"))
    assert(s("SELECT t.a[1] FROM t").contains("pg_subscript(t.a, 1)"))
    // chained subscripts flatten into ONE call (pg multi-dim access is a
    // single operation; under-indexed access is NULL)
    assert(s("SELECT x[1][2]").contains("pg_subscript(x, 1, 2)"))
    // type names, string keys, empty brackets stay native
    assert(s("SELECT x::int[]").contains("::array<int>"))
    assert(s("SELECT m['k']").contains("m['k']"))
    // slices are list-only in the reference: a LIST-typed operand takes mz
    // slice semantics; anything else is the plan-time rejection ('array
    // subscript does not support slices')
    assert(s("SELECT mz_list_tag(array(1,2,3))[1:2]")
      .contains("mz_list_slice(mz_list_tag(array(1,2,3)), 1, 2)"))
    assert(s("SELECT a[1:2]").contains("mz_slice_reject(a, 1, 2)"))
    assert(s("SELECT a[2:]").contains("mz_slice_reject(a, 2, 9223372036854775807)"))
  }

  test("SLT shim: multiple SRFs in one select list zip in lockstep") {
    def s(q: String) = graft.slt.SltRunner.shim(q, crdb = false)
    // the rewrite itself
    assert(s("SELECT generate_series(1, 2), generate_series(3, 4)")
      .contains("arrays_zip(graft_series_array(1, 2), graft_series_array(3, 4))"))
    def pairs(q: String): Seq[(Any, Any)] =
      spark.sql(s(q)).collect().toSeq.map(r =>
        (Option(r.get(0)).map(_.toString).orNull, Option(r.get(1)).map(_.toString).orNull))
    // execution: lockstep, not cross product
    assert(pairs("SELECT generate_series(1, 2), generate_series(3, 4)")
      == Seq(("1", "3"), ("2", "4")))
    // unequal lengths pad with NULL (pg)
    assert(pairs("SELECT generate_series(1, 3), generate_series(1, 2)")
      == Seq(("1", "1"), ("2", "2"), ("3", null)))
    // aliases + ORDER BY survive
    assert(pairs("SELECT generate_series(1,2) x, generate_series(1,2) ORDER BY 1 NULLS LAST")
      == Seq(("1", "1"), ("2", "2")))
    // single SRF stays the plain generator (flatMap over input rows)
    assert(s("SELECT x, generate_series(1, 3) FROM t").contains("generate_series(1, 3)"))
  }

  test("SLT shim: comma-separated FROM items with JOINs get pg grouping") {
    val q = graft.slt.SltRunner.shim(
      "SELECT a3.f1 FROM t2 AS a1 JOIN t1 AS a2 USING (f1), t2 AS a3 JOIN t1 AS a4 USING (f1)",
      crdb = false)
    assert(q.contains("(t2 AS a1 JOIN t1 AS a2 USING (f1)),"))
    assert(q.contains("(t2 AS a3 JOIN t1 AS a4 USING (f1))"))
    // plain comma FROM untouched
    assert(graft.slt.SltRunner.shim("SELECT 1 FROM a, b WHERE a.x = b.x", crdb = false)
      .contains("FROM a, b WHERE"))
  }

  test("pg array semantics: subscript, remove, position, series direction") {
    import org.apache.spark.sql.Row
    // 1-based subscript; NULL on OOB / 0 / negative / NULL index
    assert(spark.sql("SELECT pg_subscript(array(10,20,30), 2)").first.get(0) == 20)
    assert(spark.sql("SELECT pg_subscript(array(10), 1)").first.get(0) == 10)
    assert(spark.sql("SELECT pg_subscript(array(10,20,30), 0)").first.get(0) == null)
    assert(spark.sql("SELECT pg_subscript(array(10,20,30), -1)").first.get(0) == null)
    assert(spark.sql("SELECT pg_subscript(array(10,20,30), 4)").first.get(0) == null)
    assert(spark.sql("SELECT pg_subscript(array(10), NULL)").first.get(0) == null)
    // array_remove strips NOT-DISTINCT matches, keeps other NULLs
    assert(spark.sql("SELECT array_remove(array(1, NULL, 2, NULL), NULL)")
      .first.getSeq[Int](0) == Seq(1, 2))
    assert(spark.sql("SELECT array_remove(array(1, NULL, 2), 2)")
      .first.getSeq[Any](0) == Seq(1, null))
    // array_position: NULL when absent, 1-based when found
    assert(spark.sql("SELECT array_position(array('a','b'), 'x')").first.get(0) == null)
    assert(spark.sql("SELECT array_position(array('a','b'), 'b')").first.get(0) == 2L)
    // fractional subscript → NULL (pg), not a truncated-index hit
    assert(spark.sql("SELECT pg_subscript(array('a','b','c'), 3.5)").first.get(0) == null)
    // 3-arg array_position: search from a start offset; sub-1 scans all
    assert(spark.sql("SELECT array_position(array('s','m','t','s'), 's', 2)")
      .first.get(0) == 4L)
    assert(spark.sql("SELECT array_position(array('s','m'), 'm', -3)").first.get(0) == 2L)
    assert(spark.sql("SELECT array_position(array('s','m'), 's', 2)").first.get(0) == null)
    assert(spark.sql("SELECT array_position(array('s'), NULL, NULL)").first.get(0) == null)
    // wrong-direction explicit step → empty series, not an error
    assert(spark.sql("SELECT generate_series(11, 2, 3)").collect().isEmpty)
    assert(spark.sql("SELECT generate_series(2, 11, -3)").collect().isEmpty)
    // integral series spanning more than Long.MaxValue (Spark's sequence
    // length math overflows; the decimal path must not)
    assert(spark.sql(
      "SELECT count(*) AS n FROM generate_series(-5000000000000000000, 5000000000000000000, 1000000000000000000)")
      .first.getLong(0) == 11L)
    assert(spark.sql("SELECT generate_series(1, 7, 3)").as[Long].collect().toSeq
      == Seq(1L, 4L, 7L))
    // temporal series still work through the sequence fallback
    assert(spark.sql(
      "SELECT count(*) AS n FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-05', INTERVAL '1' DAY)")
      .first.getLong(0) == 5L)
    // quote_ident: reference can_be_printed_bare rules
    assert(spark.sql("SELECT quote_ident('xyz')").first.getString(0) == "xyz")
    assert(spark.sql("SELECT quote_ident('xyZ')").first.getString(0) == "\"xyZ\"")
    assert(spark.sql("SELECT quote_ident('\"')").first.getString(0) == "\"\"\"\"")
    assert(spark.sql("SELECT quote_ident('with')").first.getString(0) == "\"with\"")
    assert(spark.sql("SELECT quote_ident('materialize')").first.getString(0) == "materialize")
    assert(spark.sql("SELECT quote_ident('map')").first.getString(0) == "map")
    assert(spark.sql("SELECT quote_ident('list')").first.getString(0) == "\"list\"")
    assert(spark.sql("SELECT quote_ident(NULL)").first.get(0) == null)
    // pg_size_pretty: unit thresholds with half-up rounding, decimal-exact
    assert(spark.sql("SELECT pg_size_pretty(10239::bigint)").first.getString(0) == "10239 bytes")
    assert(spark.sql("SELECT pg_size_pretty(10240::bigint)").first.getString(0) == "10 kB")
    assert(spark.sql("SELECT pg_size_pretty(10485247::bigint)").first.getString(0) == "10239 kB")
    assert(spark.sql("SELECT pg_size_pretty(10485248::bigint)").first.getString(0) == "10 MB")
    assert(spark.sql("SELECT pg_size_pretty(-1000000::bigint)").first.getString(0) == "-977 kB")
    assert(spark.sql("SELECT pg_size_pretty(10.5)").first.getString(0) == "10.5 bytes")
    assert(spark.sql("SELECT pg_size_pretty(11528652096115048447)").first.getString(0)
      == "10239 PB")
    assert(spark.sql("SELECT pg_size_pretty(11528652096115048448)").first.getString(0)
      == "10240 PB")
    val _ = Row // silence unused import warning
  }

  test("SLT runner UPDATE/DELETE emulation matches pg snapshot semantics") {
    spark.sql("DROP TABLE IF EXISTS mut_t")
    spark.sql("CREATE TABLE mut_t (k BIGINT, v STRING, n BIGINT) USING parquet")
    spark.sql("INSERT INTO mut_t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    // UPDATE with WHERE: SET expressions read the OLD row
    assert(graft.slt.SltRunner.applyMutation(spark, "UPDATE mut_t SET n = n + k WHERE k < 3"))
    assert(spark.sql("SELECT n FROM mut_t ORDER BY k").as[Long].collect().toSeq
      == Seq(11L, 22L, 30L))
    // DELETE with 3VL: NULL predicate keeps the row; n is now (11, 22, 30)
    spark.sql("INSERT INTO mut_t VALUES (4, NULL, NULL)")
    assert(graft.slt.SltRunner.applyMutation(spark, "DELETE FROM mut_t WHERE n > 20"))
    assert(spark.sql("SELECT k FROM mut_t ORDER BY k").as[Long].collect().toSeq
      == Seq(1L, 4L))
    // UPDATE ... FROM: SET reads the matching joined row (pg join-update)
    spark.sql("DROP TABLE IF EXISTS mut_o")
    spark.sql("CREATE TABLE mut_o (k BIGINT, add BIGINT) USING parquet")
    spark.sql("INSERT INTO mut_o VALUES (1, 100), (9, 900)")
    assert(graft.slt.SltRunner.applyMutation(spark,
      "UPDATE mut_t SET n = n + mut_o.add FROM mut_o WHERE mut_t.k = mut_o.k"))
    assert(spark.sql("SELECT k, n FROM mut_t ORDER BY k")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((1L, 111L), (4L, -1L))) // only k=1 matched; k=4 untouched
    // DELETE ... USING: rows with a matching USING row leave
    assert(graft.slt.SltRunner.applyMutation(spark,
      "DELETE FROM mut_t USING mut_o WHERE mut_t.k = mut_o.k"))
    assert(spark.sql("SELECT k FROM mut_t").as[Long].collect().toSeq == Seq(4L))
    // the reference rejects UPDATE ... RETURNING — the emulation must too
    val e = intercept[IllegalArgumentException](
      graft.slt.SltRunner.applyMutation(spark, "UPDATE mut_t SET n = 1 RETURNING n"))
    assert(e.getMessage.contains("UNSUPPORTED"))
    // non-mutations are left alone
    assert(!graft.slt.SltRunner.applyMutation(spark, "SELECT 1"))
    spark.sql("DROP TABLE mut_t")
    spark.sql("DROP TABLE mut_o")
  }
}
