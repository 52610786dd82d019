package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Batch-verifiable analogs of the reference's streaming semantics over the
  * `events` table. The reference has no window/watermark API — tumbling
  * windows are `date_bin` + temporal filters
  * (`doc/user/content/transform-data/patterns/temporal-filters.md`), upsert
  * is an envelope (envelope.rs:24-35). The same *semantics* run here as
  * batch queries with DuckDB oracles; the streaming execution path of the
  * identical operators is covered by the ScalaTest MemoryStream specs
  * (UpsertEnvelopeSpec etc.).
  */
object StreamingQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  val defs: Seq[Q] = Seq(

    // Tumbling window aggregation — reference pattern: date_bin + temporal
    // filter; Spark: window(ts, "15 minutes") (→ watermarked in streaming).
    Q("events_tumbling_15m",
      """SELECT event_type,
        |  strftime(time_bucket(INTERVAL 15 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, bucket_start""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "15 minutes").getField("start").as("w_start"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("event_type"),
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("n"), col("sum_value"))
    },

    // Sessionization (gaps-and-islands): the reference has no session-window
    // primitive at all (SURVEY §2.6) — this is the relational formulation
    // both engines agree on; streaming Spark additionally offers
    // session_window() natively.
    Q("events_sessionize",
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 600
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 50
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
        |FROM sessions GROUP BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).filter(col("user_id") < 50)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull
            || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 600, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .as("duration_s"))
        .select(col("user_id"), col("session_id"), col("n_events"), col("duration_s"))
    },

    // Upsert-envelope batch analog: latest value per key (the state the
    // UpsertEnvelope operator would hold after ingesting the whole stream).
    Q("upsert_latest",
      """SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value"))
    },

    // Changelog round-trip exercising fromRows → Negate → multiset Union →
    // consolidate/Threshold → RepeatRow expansion (reference
    // `src/expr/src/relation.rs:278-297`; RepeatRow func.rs:3611-3614):
    // nation + (− nations ≥ 15) + (extra copy of nations < 5) ⇒ nations < 15,
    // with < 5 at multiplicity 2 — the oracle states exactly that.
    Q("changelog_repeat_row",
      """SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15
        |UNION ALL
        |SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      Changelog.toRows(Changelog.unionAll(
        Changelog.fromRows(n),
        Changelog.negate(Changelog.fromRows(n.filter(col("n_nationkey") >= 15))),
        Changelog.fromRows(n.filter(col("n_nationkey") < 5))))
    },

    // IncrementalReduce.accumulable in its batch form (reference
    // `ReductionType::Accumulable`, plan/reduce.rs:89-102): diff-weighted
    // sums over a changelog that retracts every 'F' order — net result must
    // equal the plain aggregate over non-'F' rows. Decimal sums keep the two
    // engines bit-identical; final projection widens to double.
    Q("incremental_reduce_batch",
      """SELECT o_orderpriority,
        |  count(*) AS support,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_val
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      val changelog = Changelog.unionAll(
        Changelog.fromRows(o),
        Changelog.negate(Changelog.fromRows(o.filter(col("o_orderstatus") === "F"))))
        .drop("o_orderstatus")
      IncrementalReduce.accumulable(changelog, Seq("o_orderpriority"), "price")
        .select(col("o_orderpriority"), col("support"),
          col("sum_val").cast("double").as("sum_val"),
          (col("sum_val").cast("double") / col("support")).as("avg_val"))
    },

    // Incremental join delta rule (reference `src/compute/src/render/join/`):
    // δ(A⋈B) = δA⋈B ∪ A'⋈δB with multiplied diffs (A' = A ∪ δA). States:
    // orders ⋈ customer; deltas retract cheap orders AND negative-balance
    // customers — a retraction meeting a retraction inside A'⋈δB yields the
    // +1 inclusion-exclusion correction, so the maintained output must
    // equal the join of the updated inputs.
    Q("incremental_join_delta",
      """SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice >= 50000 AND c_acctbal >= 0""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_acctbal"))
      val aState = Changelog.fromRows(orders)
      val bState = Changelog.fromRows(cust)
      val aDelta = Changelog.negate(Changelog.fromRows(orders.filter(col("o_totalprice") < 50000)))
      val bDelta = Changelog.negate(Changelog.fromRows(cust.filter(col("c_acctbal") < 0)))
      val keys = Seq("o_custkey")
      val maintained = Changelog.unionAll(
        IncrementalJoin.joinChangelogs(aState, bState, keys),
        IncrementalJoin.deltaN(Seq(aState, bState), Seq(aDelta, bDelta), Seq(keys)))
      Changelog.threshold(maintained).select(col("o_orderkey"), col("c_name"))
    },

    // N-ary delta-query join (reference JoinPlan::Delta, plan/join.rs:46-51):
    // lineitem ⋈ orders ⋈ customer maintained through one batch that
    // retracts on ALL THREE inputs simultaneously — every telescoping term
    // (including the multi-delta corrections via updated prefixes) must fire
    // for the maintained output to equal the join of the updated inputs.
    Q("incremental_join_delta3",
      """SELECT c.c_custkey, count(*) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_quantity >= 10 AND o.o_totalprice >= 100000 AND c.c_acctbal >= 0
        |GROUP BY c.c_custkey""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_custkey"), col("c_acctbal"))
      val states = Seq(
        Changelog.fromRows(li),
        Changelog.fromRows(orders),
        Changelog.fromRows(cust))
      val deltas = Seq(
        Changelog.negate(Changelog.fromRows(li.filter(col("l_quantity") < 10))),
        Changelog.negate(Changelog.fromRows(orders.filter(col("o_totalprice") < 100000))),
        Changelog.negate(Changelog.fromRows(cust.filter(col("c_acctbal") < 0))))
      val stepKeys = Seq(Seq("l_orderkey"), Seq("o_custkey"))
      val maintained = Changelog.threshold(Changelog.unionAll(
        IncrementalJoin.joinChain(states, stepKeys),
        IncrementalJoin.deltaN(states, deltas, stepKeys)))
      maintained
        .groupBy(col("c_custkey"))
        .agg(sum(col(Changelog.DiffCol)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)") * col(Changelog.DiffCol))
            .cast("double").as("qty"))
    },

    // Hierarchical min/max over a retraction-bearing changelog (reference
    // ReductionType::Hierarchical, plan/reduce.rs:89-102): Threshold
    // resolves the net multiset, extrema recompute over survivors. The
    // retracted 'F' orders include per-priority extrema, so a wrong net
    // multiset shifts min/max visibly.
    Q("incremental_minmax_batch",
      """SELECT o_orderpriority, min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price, count(*) AS n
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))
      val changelog = Changelog.unionAll(
        Changelog.fromRows(o),
        Changelog.negate(Changelog.fromRows(o.filter(col("o_orderstatus") === "F"))))
      Changelog.threshold(changelog)
        .drop("o_orderstatus")
        .groupBy(col("o_orderpriority"))
        .agg(min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col(Changelog.DiffCol)).as("n")) // multiplicity-weighted count
    },

    // Retraction-capable TopK maintenance in its batch form (reference
    // TopKPlan::Basic, plan/top_k.rs:34,85): the changelog inserts every
    // order, RETRACTS all 'F' orders (which include per-priority maxima, so
    // a wrong net multiset shifts the top set) and double-inserts 'O'
    // orders (multiplicity 2 must consume two top-k slots). Net top-3 per
    // priority by (price DESC, key ASC — total order). The streaming
    // execution of the same operator is BasicTopKSpec.
    Q("topk_under_retraction",
      """WITH base AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderpriority, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O'),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM base)
        |SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM ranked WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val changelog = Changelog.unionAll(
        Changelog.fromRows(o),
        Changelog.negate(Changelog.fromRows(o.filter(col("o_orderstatus") === "F"))),
        Changelog.fromRows(o.filter(col("o_orderstatus") === "O")))
        .drop("o_orderstatus")
      BasicTopK.maintainBatch(changelog, Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
    },

    // Temporal-filter TTL semantics (MfpPlan::extract_temporal,
    // linear.rs:411-470): `mz_now() <= ts + INTERVAL '30 days'` at a pinned
    // logical "now" — batch-evaluated exactly as the reference would at one
    // timestamp; in streaming this is the watermark expiry.
    Q("temporal_filter_ttl",
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE TIMESTAMP '2024-01-10 00:00:00' <= ts + INTERVAL 3 DAY
        |  AND ts <= TIMESTAMP '2024-01-10 00:00:00'""".stripMargin) { (s, dir) =>
      val logicalNow = lit("2024-01-10 00:00:00").cast("timestamp")
      events(s, dir)
        .filter(logicalNow <= col("ts") + expr("INTERVAL 3 DAYS")
          && col("ts") <= logicalNow)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }
  )
}
