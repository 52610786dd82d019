package graft.slt

import graft.SparkSpec

/** Unit coverage for shim edge cases fixed in round 14: the
  * INSERT-with-scalar-subquery rewrite must still receive per-cell ingest
  * canonicalization, and E-string escapes that decode to a quote must be
  * re-doubled inside the rebuilt literal. */
class SltShimSpec extends SparkSpec {

  test("E-string octal/unicode escapes decoding to a quote stay balanced") {
    val oct = SltRunner.testShim("""SELECT E'a\047b'""", crdb = false)
    assert(oct.count(_ == '\'') % 2 == 0, s"unbalanced quotes in: $oct")
    val uni = SltRunner.testShim("SELECT E'a\\u0027b'", crdb = false)
    assert(uni.count(_ == '\'') % 2 == 0, s"unbalanced quotes in: $uni")
  }

  test("INSERT VALUES with scalar subquery keeps ingest canonicalization") {
    spark.sql("DROP TABLE IF EXISTS shim_jsonb_t")
    spark.sql(
      "CREATE TABLE shim_jsonb_t (k INT, j STRING COMMENT 'graft_jsonb') USING parquet")
    try {
      // the parse-time shim turns the VALUES row into SELECT ... UNION ALL
      val shimmed = SltRunner.testShim(
        "INSERT INTO shim_jsonb_t VALUES (1, (SELECT '{\"b\":2,\"a\":1}')), (2, '{\"z\": 0}')",
        crdb = false)
      assert(shimmed.toUpperCase.contains("UNION ALL"), shimmed)
      // ...and the exec-time canonicalizer must still wrap the jsonb cell
      val canon = SltRunner.testCanonInsert(spark, shimmed)
      assert(canon.contains("jsonb_canon"), canon)
      spark.sql(canon)
      val got = spark.sql("SELECT j FROM shim_jsonb_t ORDER BY k")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("""{"a":1,"b":2}""", """{"z":0}"""), got)
    } finally spark.sql("DROP TABLE IF EXISTS shim_jsonb_t")
  }

  test("reversed window frames rewrite to the empty frame") {
    val s = SltRunner.testShim(
      "SELECT first_value(x) OVER (ORDER BY x ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING) FROM t",
      crdb = false)
    assert(s.toUpperCase.contains("ROWS BETWEEN CURRENT ROW AND 1 PRECEDING"), s)
    // a well-ordered frame is untouched
    val ok = SltRunner.testShim(
      "SELECT first_value(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING) FROM t",
      crdb = false)
    assert(ok.toUpperCase.contains("ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING"), ok)
  }

  test("implicit pg output name rescues bare ORDER BY references") {
    val got = SltRunner.testAliasImplicit(
      "WITH t (x, y) AS (VALUES ('a', 1)) SELECT lead(x) OVER (PARTITION BY y ORDER BY x), x FROM t ORDER BY x, lead")
    assert(got.exists(_.contains("AS lead")), got)
    // item at the END of the select list keeps a space before FROM
    val tail = SltRunner.testAliasImplicit(
      "WITH t (x, y) AS (VALUES ('a', 1)) SELECT x, last_value(x) OVER (PARTITION BY y ORDER BY x) FROM t ORDER BY last_value")
    assert(tail.exists(_.matches("(?s).*AS last_value\\s+FROM.*")), tail)
    // no unaliased matching item -> no rewrite
    assert(SltRunner.testAliasImplicit("SELECT x FROM t ORDER BY x").isEmpty)
  }

  test("window array_agg wraps per-expression, value-sorted") {
    val s = SltRunner.testShim(
      "SELECT array_agg(v) OVER (ORDER BY o1) FROM t8", crdb = true)
    assert(s.contains("OVER (ORDER BY o1"), s)
    assert(s.contains("array_sort"), s)
    assert(!s.contains("END OVER"), s)
  }

  test("OPERATOR(op) syntax: lowest precedence, left-assoc; bad schema errors") {
    val s = SltRunner.testShim("select 2 OPERATOR(*) 2 + 2;", crdb = false)
    assert(spark.sql(s.stripSuffix(";")).collect().head.get(0).toString.toDouble == 8.0, s)
    val s2 = SltRunner.testShim("select 2 OPERATOR(*) 2 OPERATOR(+) 2;", crdb = false)
    assert(spark.sql(s2.stripSuffix(";")).collect().head.get(0).toString.toDouble == 6.0, s2)
    val s3 = SltRunner.testShim("select 2 OPERATOR(mz_catalog.*) 2;", crdb = false)
    assert(s3.contains("raise_error"), s3)
  }

  test("map literals, operators, constructors") {
    def q(sql: String): String =
      spark.sql(SltRunner.testShim(sql, crdb = false).stripSuffix(";"))
        .collect().head.get(0).toString
    assert(q("SELECT ('{  c  =>3, a=>     2, a => 1 }'::map[text=>int])::text") == "{a=>1,c=>3}")
    assert(q("SELECT '{a=>1, b=>2}'::map[text=>int] ? 'b'") == "true")
    assert(q("SELECT '{a=>1, b=>2}'::map[text=>int] ?& array('a','b')") == "true")
    assert(q("SELECT '{a=>1, b=>2}'::map[text=>int] ?| array('c')") == "false")
    assert(q("SELECT (MAP['b' => 2, 'a' => 1])::text") == "{a=>1,b=>2}")
    val bad = SltRunner.testShim("SELECT '{1=>true}'::map[int=>bool]", crdb = false)
    assert(bad.contains("raise_error"), bad)
  }

  test("pg timestamp input grammar on plain-timestamp ingest") {
    spark.sql("DROP TABLE IF EXISTS shim_ts_t")
    spark.sql("CREATE TABLE shim_ts_t (ts timestamp) USING parquet")
    try {
      val ins = SltRunner.testCanonInsert(spark,
        "INSERT INTO shim_ts_t VALUES ('Mon Feb 10 17:32:01.5 1997 PST'), ('19970210 173201 -0800')")
      assert(ins.contains("pg_ts_in"), ins)
      spark.sql(ins)
      val got = spark.sql("SELECT ts FROM shim_ts_t ORDER BY ts")
        .collect().map(_.get(0).toString).toSeq
      // pg DISCARDS zones on timestamp-without-time-zone input
      assert(got == Seq("1997-02-10 17:32:01.0", "1997-02-10 17:32:01.5"), got)
    } finally spark.sql("DROP TABLE IF EXISTS shim_ts_t")
  }

  test("timestamptz literal casts: +00 display, timestamp value in comparisons") {
    val s = SltRunner.testShim("SELECT '2007-02-01 15:04:05+06'::timestamptz;", crdb = false)
    assert(spark.sql(s.stripSuffix(";")).collect().head.getString(0)
      == "2007-02-01 09:04:05+00", s)
    val c = SltRunner.testShim(
      "SELECT '2001-01-01 05:00:00'::timestamp = '2001-01-01 01:00:00-4'::timestamptz", crdb = false)
    assert(spark.sql(c).collect().head.getBoolean(0))
  }

  test("mz_timestamp coercion needs mz_now lineage: unrelated bigint keeps pg's rejection") {
    spark.sql("DROP TABLE IF EXISTS shim_mzts_t")
    spark.sql("CREATE TABLE shim_mzts_t (b BIGINT) USING parquet")
    val pgCastKey = "spark.graft.pgNumericCasts"
    val prior = spark.conf.getOption(pgCastKey)
    spark.conf.set(pgCastKey, "true")
    try {
      spark.sql("INSERT INTO shim_mzts_t VALUES (5)")
      // RELATED operand: an mz_now()-carrying comparison coerces the
      // date-shaped string as mz_timestamp (accepted, evaluates)
      val ok = spark.sql(SltRunner.testShim(
        "SELECT mz_now() < '3000-01-01' FROM shim_mzts_t", crdb = false).stripSuffix(";"))
      assert(ok.collect().head.getBoolean(0))
      // UNRELATED operand: mz_now() elsewhere in the query must not flip
      // the plain bigint column's comparison into mz_timestamp coercion —
      // the reference still raises pg's invalid-input rejection for
      // bigint-vs-date-string (lineage tracking, ListTextCastRule)
      val bad = intercept[Exception] {
        spark.sql(SltRunner.testShim(
          "SELECT mz_now() < '3000-01-01', b < '2023-01-01' FROM shim_mzts_t",
          crdb = false).stripSuffix(";")).collect()
      }
      val msg = Option(bad.getMessage).getOrElse(bad.toString).toLowerCase
      assert(msg.contains("invalid input") || msg.contains("cannot be cast") ||
        msg.contains("invalid_input"), bad.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS shim_mzts_t")
      prior match {
        case Some(v) => spark.conf.set(pgCastKey, v)
        case None => spark.conf.unset(pgCastKey)
      }
    }
  }

  test("plain INSERT VALUES canonicalization is unchanged") {
    spark.sql("DROP TABLE IF EXISTS shim_jsonb_p")
    spark.sql(
      "CREATE TABLE shim_jsonb_p (k INT, j STRING COMMENT 'graft_jsonb') USING parquet")
    try {
      val canon = SltRunner.testCanonInsert(spark,
        "INSERT INTO shim_jsonb_p VALUES (1, '{\"b\":2, \"a\":1}')")
      assert(canon.contains("jsonb_canon"), canon)
      spark.sql(canon)
      val got = spark.sql("SELECT j FROM shim_jsonb_p").collect().head.getString(0)
      assert(got == """{"a":1,"b":2}""", got)
    } finally spark.sql("DROP TABLE IF EXISTS shim_jsonb_p")
  }

  test("runFiles drops a materialized view that an index, sink and SUBSCRIBE consume") {
    // a session of its own, with its own view catalog: runFiles drops
    // every view and temp view of the session it runs in
    val s = spark.newSession()
    s.conf.set("spark.graft.viewDir", tempDir("graft-sltviews").toString)
    import s.implicits._
    val create = "CREATE MATERIALIZED VIEW sltfiles_mv AS " +
      "SELECT k, sum(v) AS total FROM sltfiles_base GROUP BY k"
    Seq(("a", 1.0)).toDF("k", "v").createOrReplaceTempView("sltfiles_base")
    s.sql(create)
    s.sql("CREATE INDEX sltfiles_idx ON sltfiles_mv (k)")
    val sinkPath = tempDir("graft-sltsink").resolve("t").toString
    s.sql(s"CREATE SINK sltfiles_sink FROM sltfiles_mv INTO ICEBERG '$sinkPath' KEY (k)")
    s.sql("SUBSCRIBE sltfiles_mv WITH (SNAPSHOT)")
    val empty = tempDir("graft-sltfiles").resolve("empty.slt")
    java.nio.file.Files.write(empty, Array.emptyByteArray)
    SltRunner.runFiles(s, Seq(empty.toString))
    assert(!graft.sql.GraftSqlCatalog.forSession(s).isDefined("sltfiles_mv"))
    // the next file can create the name again, and drop it
    Seq(("b", 2.0)).toDF("k", "v").createOrReplaceTempView("sltfiles_base")
    s.sql(create)
    assert(s.sql("SELECT k, total FROM sltfiles_mv").as[(String, Double)].collect().toSeq ==
      Seq(("b", 2.0)))
    s.sql("DROP MATERIALIZED VIEW sltfiles_mv")
  }
}
