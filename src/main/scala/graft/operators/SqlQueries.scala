package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.Recursion

/** SQL-layer features the reference compiles away during HIR→MIR lowering —
  * subqueries/decorrelation (reference `src/sql/src/plan/lowering.rs:13-35,
  * 964-996`), CTEs (`Let`, relation.rs:131-138), GROUPING SETS, and
  * `WITH MUTUALLY RECURSIVE` (`LetRec`, relation.rs:154-166). Catalyst's
  * analyzer/optimizer does the decorrelation natively
  * (`RewriteCorrelatedScalarSubquery`, `RewritePredicateSubquery`), so these
  * run as dialect-neutral SQL through `spark.sql` — same text the DuckDB
  * oracle runs.
  */
object SqlQueries {

  /** Dialect-neutral SQL: same text runs on Spark and the DuckDB oracle. */
  private def sqlQ(name: String, sql: String): Q =
    Q(name, sql) { (s, dir) => Tables.register(s, dir); s.sql(sql) }

  val defs: Seq[Q] = Seq(

    sqlQ("subquery_scalar",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT 1.8 * avg(o_totalprice) FROM orders)""".stripMargin),

    sqlQ("subquery_in",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)""".stripMargin),

    sqlQ("subquery_exists_corr",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '2001-06-01')""".stripMargin),

    sqlQ("subquery_not_in",
      """SELECT s_suppkey FROM supplier
        |WHERE s_suppkey NOT IN
        |  (SELECT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-09-01')""".stripMargin),

    sqlQ("having",
      """SELECT o_custkey, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin),

    // Let / shared subplan (relation.rs:131-138): CTE consumed twice —
    // TPC-H Q15 shape. Materialize's `Let` binds the subplan ONCE; the
    // scalar-subquery formulation made Spark scan+aggregate lineitem twice
    // (two AdaptiveSparkPlans, no ReusedExchange — round-1 plan audit), so
    // the max is taken as `max() OVER ()` on the single aggregated CTE:
    // one lineitem scan, one tiny window over ~supplier-count rows.
    sqlQ("cte_shared",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2000-04-01'
        |  GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT supplier_no, total_revenue,
        |    max(total_revenue) OVER () AS max_revenue
        |  FROM revenue)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, ranked
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = max_revenue""".stripMargin),

    sqlQ("grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
        |  count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    sqlQ("rollup",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),

    // Pivot expressed as conditional aggregation in the oracle; Spark side
    // uses the native relational pivot with pinned values.
    Q("pivot_segments",
      """SELECT c_nationkey,
        |  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS AUTOMOBILE,
        |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS BUILDING,
        |  CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS FURNITURE,
        |  CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS HOUSEHOLD,
        |  CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS MACHINERY
        |FROM customer GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"))
    },

    // The LetRec loop reached purely through SQL text — the reference's
    // WITH MUTUALLY RECURSIVE statement (plan_mutually_recursive,
    // src/sql/src/plan/query.rs; graft.sql.MutualRecursionSql). The oracle
    // states the fixpoint's closed form.
    Q("sql_surface_wmr",
      "SELECT CAST(sum(n) AS BIGINT) AS total FROM generate_series(1, 24) t(n)") {
      (s, _) =>
      s.sql(
        """WITH MUTUALLY RECURSIVE
          |  t (n int) AS (
          |    VALUES (1)
          |    UNION ALL
          |    SELECT n+1 FROM t WHERE n < 24
          |  )
          |SELECT CAST(sum(n) AS BIGINT) AS total FROM t""".stripMargin)
    },

    // LetRec with MUTUAL recursion (relation.rs:154-166, N bindings):
    // evens/odds defined in terms of each other, iterated jointly (Jacobi
    // rounds, set semantics) to the fixed point by Recursion.letRec. The
    // oracle states the closed form.
    Q("letrec_mutual",
      """SELECT 'even' AS side, n FROM (SELECT unnest(generate_series(0, 8, 2)) AS n)
        |UNION ALL
        |SELECT 'odd' AS side, n FROM (SELECT unnest(generate_series(1, 8, 2)) AS n)""".stripMargin) { (s, _) =>
      import s.implicits._
      val even0 = Seq(0L).toDF("n")
      val odd0 = s.emptyDataFrame.select(lit(0L).as("n")).limit(0)
      val (Seq(evens, odds), _) = Recursion.letRec(
        Seq(even0, odd0),
        { case Seq(e, o) =>
          Seq(
            Seq(0L).toDF("n").unionByName(o.select((col("n") + 1).as("n"))).filter(col("n") <= 8),
            e.select((col("n") + 1).as("n")).filter(col("n") <= 8))
            .map(_.distinct().localCheckpoint(false))
        })
      evens.select(lit("even").as("side"), col("n"))
        .unionByName(odds.select(lit("odd").as("side"), col("n")))
    },

    // LetRec (relation.rs:154-166): reachability over a derived edge table
    // (u → 2u, u → 3u up to 1000) from {1} — the 3-smooth numbers. Runs as a
    // driver-side semi-naive fixpoint (graft.plans.Recursion).
    Q("letrec_reachability",
      """WITH RECURSIVE r(n) AS (
        |  SELECT CAST(1 AS BIGINT)
        |  UNION
        |  SELECT e.v FROM r JOIN (
        |    SELECT u, u * 2 AS v FROM (SELECT unnest(generate_series(1, 1000)) AS u)
        |      WHERE u * 2 <= 1000
        |    UNION ALL
        |    SELECT u, u * 3 AS v FROM (SELECT unnest(generate_series(1, 1000)) AS u)
        |      WHERE u * 3 <= 1000) e
        |  ON e.u = r.n)
        |SELECT n FROM r""".stripMargin) { (s, _) =>
      import s.implicits._
      val u = s.range(1, 1001).select(col("id").as("u"))
      val edges = graft.plans.Arrangement.arrangeBy(
        u.select(col("u"), (col("u") * 2).as("v"))
          .unionAll(u.select(col("u"), (col("u") * 3).as("v")))
          .filter(col("v") <= 1000),
        "u")
      val base = Seq(1L).toDF("n")
      // Release the pinned arrangement once the fixpoint result is
      // lineage-independent (localCheckpoint inside fixpoint) — otherwise the
      // cached partitions stay pinned for the rest of the 70-query session.
      try
        Recursion.fixpoint(base,
          // linear step (frontier ⋈ static edges), as fixpoint requires
          frontier => frontier.join(edges, frontier("n") === edges("u")).select(col("v").as("n")))
      finally graft.plans.Arrangement.release(edges)
    }
  )
}
