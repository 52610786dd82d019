package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `WITH MUTUALLY RECURSIVE` SQL surface (reference
  * `doc/user/content/sql/select/recursive-ctes.md`,
  * `test/sqllogictest/with_mutually_recursive.slt`): the statements below
  * mirror the reference's own documented examples and expected values.
  */
class MutualRecursionSqlSpec extends SparkSpec {
  import spark.implicits._

  test("single recursive binding reaches its fixpoint") {
    val n = spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  t (n int) AS (
        |    VALUES (1)
        |    UNION ALL
        |    SELECT n+1 FROM t WHERE n < 100
        |  )
        |SELECT sum(n) FROM t""".stripMargin).as[Long].head()
    assert(n == 5050L)
  }

  test("RETURN AT RECURSION LIMIT yields the state at the limit") {
    val n = spark.sql(
      """WITH MUTUALLY RECURSIVE (RETURN AT RECURSION LIMIT 100)
        |  t (n int) AS (
        |    VALUES (1)
        |    UNION ALL
        |    SELECT n+1 FROM t
        |  )
        |SELECT sum(n) FROM t""".stripMargin).as[Long].head()
    assert(n == 5050L)
  }

  test("ERROR AT RECURSION LIMIT raises when not converged") {
    val e = intercept[Exception](spark.sql(
      """WITH MUTUALLY RECURSIVE (ERROR AT RECURSION LIMIT 10)
        |  t (n int) AS (
        |    VALUES (1)
        |    UNION ALL
        |    SELECT n+1 FROM t
        |  )
        |SELECT sum(n) FROM t""".stripMargin).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("mutually recursive bindings (the reference's evens/odds example)") {
    val n = spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  evens (n int) AS (
        |    VALUES (1)
        |    UNION ALL
        |    SELECT n+1 FROM odds WHERE n < 100
        |  ),
        |  odds (n int) AS (
        |    VALUES (0)
        |    UNION ALL
        |    SELECT n+1 FROM evens
        |  ),
        |  both (n int) AS (
        |    SELECT * FROM evens
        |    UNION ALL
        |    SELECT * FROM odds
        |  )
        |SELECT sum(n) FROM both""".stripMargin).as[Long].head()
    assert(n == 10100L)
  }

  test("unconverged WMR without a declared limit raises at the safety cap") {
    val e = intercept[Exception](spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  t (n bigint) AS (
        |    VALUES (CAST(1 AS bigint))
        |    UNION ALL
        |    SELECT n+1 FROM t
        |  )
        |SELECT count(*) FROM t""".stripMargin).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("WMR as a materialized-view definition") {
    spark.sql(
      """CREATE OR REPLACE MATERIALIZED VIEW wmr_mv AS
        |WITH MUTUALLY RECURSIVE
        |  t (n int) AS (
        |    VALUES (1) UNION ALL SELECT n+1 FROM t WHERE n < 10
        |  )
        |SELECT sum(n) AS total FROM t""".stripMargin)
    assert(spark.sql("SELECT total FROM wmr_mv").as[Long].head() == 55L)
    spark.sql("DROP MATERIALIZED VIEW wmr_mv")
  }

  test("binding temp views do not leak into the session") {
    spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  wmr_scope_probe (n int) AS (VALUES (1))
        |SELECT * FROM wmr_scope_probe""".stripMargin).collect()
    assert(!spark.catalog.tableExists("wmr_scope_probe"))
  }

  /** Spark jobs `f` launches from this thread. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val probe = "wmr-jobs-" + System.nanoTime()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.probe") == probe)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.probe", probe)
    try f
    finally {
      sc.setLocalProperty("graft.probe", null)
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("spark.sql and EXPLAIN of a WMR run no job; collect runs the fixpoint") {
    val wmr =
      """WITH MUTUALLY RECURSIVE
        |  t (n int) AS (VALUES (1) UNION ALL SELECT n+1 FROM t WHERE n < 10)
        |SELECT sum(n) AS total FROM t""".stripMargin
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = spark.sql(wmr) } == 0)
    var plan = ""
    assert(jobsOf {
      plan = spark.sql(s"EXPLAIN PHYSICAL PLAN FOR $wmr").as[String].collect().mkString("\n")
    } == 0)
    assert(plan.contains("LetRec"), plan)
    assert(jobsOf(spark.sql(s"EXPLAIN PLAN FOR $wmr").collect()) == 0)
    var total = 0L
    assert(jobsOf { total = df.as[Long].head() } > 0)
    assert(total == 55L)
  }

  test("a session temp view named like a binding keeps its own rows") {
    Seq(42).toDF("n").createOrReplaceTempView("wmr_shadowed")
    try {
      val total = spark.sql(
        """WITH MUTUALLY RECURSIVE
          |  wmr_shadowed (n int) AS (
          |    VALUES (1) UNION ALL SELECT n+1 FROM wmr_shadowed WHERE n < 5
          |  )
          |SELECT sum(n) FROM wmr_shadowed""".stripMargin).as[Long].head()
      assert(total == 15L)
      assert(spark.table("wmr_shadowed").as[Int].collect().toSeq == Seq(42))
    } finally spark.catalog.dropTempView("wmr_shadowed")
  }

  test("bindings resolve inside subqueries; an inner WITH keeps its own name") {
    val row = spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  t (n int) AS (
        |    VALUES (1)
        |    UNION ALL
        |    SELECT n+1 FROM t WHERE n < 5 AND n IN (SELECT n FROM t)
        |  )
        |SELECT (SELECT count(*) FROM t) AS c,
        |       (WITH t AS (SELECT 100 AS n) SELECT max(n) FROM t) AS inner_t""".stripMargin)
      .as[(Long, Int)].head()
    assert(row == ((5L, 100)))
  }

  test("a WMR nested in a binding reads the outer bindings") {
    val n = spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  outer_t (n int) AS (
        |    WITH MUTUALLY RECURSIVE
        |      inner_t (m int) AS (SELECT 1 UNION SELECT n + 1 FROM outer_t WHERE n < 5)
        |    SELECT m FROM inner_t
        |  )
        |SELECT sum(n) FROM outer_t""".stripMargin).as[Long].head()
    assert(n == 15L)
  }

  test("a text binding declared numeric fails in spark.sql, not at collect") {
    val e = intercept[IllegalArgumentException](spark.sql(
      """WITH MUTUALLY RECURSIVE
        |  t (n bigint) AS (SELECT 'a')
        |SELECT * FROM t""".stripMargin))
    assert(e.getMessage.contains("declared types (bigint), but query returns types (text)"))
  }
}
