package graft.views

import org.apache.spark.sql.functions._

import graft.{GraftSession, Q, Tables}
import graft.streaming.Changelog

/** Driver-checked queries exercising the materialized-view lifecycle end to
  * end: create → delta batch → incremental refresh → snapshot read, with a
  * DuckDB oracle recomputing the post-delta collection from scratch
  * (reference `src/compute/src/sink/materialized_view.rs` semantics: the MV
  * contents equal the query over the updated inputs at the new timestamp).
  */
object ViewQueries {

  val defs: Seq[Q] = Seq(

    Q("mv_incremental_refresh",
      """SELECT o_orderpriority, count(*) AS support,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM (
        |  SELECT o_orderpriority, o_totalprice FROM orders WHERE o_totalprice >= 100000
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_totalprice >= 100000 AND o_orderstatus = 'P')
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val cat = new ViewCatalog(s, GraftSession.tempDir("graft-mv-q").toString)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      val rows = orders.drop("o_orderstatus")

      // CREATE MATERIALIZED VIEW rev AS accumulable state over orders.
      cat.createMaterializedView("rev", _ =>
        Changelog.fromRows(rows)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col(Changelog.DiffCol)).as("support"),
            sum(col("price") * col(Changelog.DiffCol)).as("sum_price")))

      // Delta batch: retract every order below 100k; double-insert the
      // 'P'-status orders that remain.
      val delta = Changelog.unionAll(
        Changelog.negate(Changelog.fromRows(rows.filter(col("price") < 100000))),
        Changelog.fromRows(orders
          .filter(col("price") >= 100000 && col("o_orderstatus") === "P")
          .drop("o_orderstatus")))
      cat.refreshIncrementalAccumulable("rev", delta,
        Seq("o_orderpriority"), Map("sum_price" -> "price"))

      // Snapshot read of the refreshed view.
      cat.table("rev").select(col("o_orderpriority"), col("support"),
        col("sum_price").cast("double").as("sum_val"))
    },

    // Cross-view timestamp oracle (reference
    // src/timestamp-oracle/src/lib.rs:46): two INDEPENDENT views (no shared
    // commit group) commit in one global serialization order; a reader pins
    // globalReadTs() once and reads both — the cut shows va's pre-refresh
    // version even though a newer one exists, alongside vb. The oracle
    // recomputes the cut from scratch.
    Q("mv_consistent_cut",
      """SELECT 'va' AS src, o_orderpriority AS k, count(*) AS cnt
        |FROM orders WHERE o_totalprice >= 100000 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'vb' AS src, o_orderstatus AS k, count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val cat = new ViewCatalog(s, GraftSession.tempDir("graft-cut-q").toString)
      var floor = 100000
      cat.createMaterializedView("va", sess =>
        Tables.load(sess, dir, "orders")
          .filter(col("o_totalprice") >= floor)
          .groupBy(col("o_orderpriority").as("k")).agg(count(lit(1)).as("cnt")))
      cat.createMaterializedView("vb", sess =>
        Tables.load(sess, dir, "orders")
          .groupBy(col("o_orderstatus").as("k")).agg(count(lit(1)).as("cnt")))
      val t = cat.globalReadTs()
      floor = 50000
      cat.refreshFull("va") // newer va exists; the pinned cut must not see it
      cat.tableAtTime("va", t).select(lit("va").as("src"), col("k"), col("cnt"))
        .unionByName(cat.tableAtTime("vb", t)
          .select(lit("vb").as("src"), col("k"), col("cnt")))
    },

    // Temporal filter as scheduled retractions on a maintained view
    // (MfpPlan::extract_temporal, reference src/expr/src/linear.rs:411-470):
    // the view keeps events while `mz_now() <= ts + INTERVAL 2 DAY`; each
    // clock advance retracts exactly the rows whose deadline passed, visible
    // as mz_diff = -1 in the subscribe frame, while AS OF 0 still reads the
    // original snapshot. The oracle recomputes snapshot + per-step expiry
    // sets from scratch.
    Q("temporal_mv_retraction",
      """WITH base AS (
        |  SELECT event_id, user_id, ts + INTERVAL 2 DAY AS dl
        |  FROM events WHERE user_id < 20)
        |SELECT CAST(0 AS BIGINT) AS mz_ts, CAST(1 AS BIGINT) AS mz_diff,
        |  event_id, user_id
        |FROM base WHERE dl >= TIMESTAMP '2024-01-05 00:00:00'
        |UNION ALL
        |SELECT 1, -1, event_id, user_id FROM base
        |WHERE dl >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND dl < TIMESTAMP '2024-01-15 00:00:00'
        |UNION ALL
        |SELECT 2, -1, event_id, user_id FROM base
        |WHERE dl >= TIMESTAMP '2024-01-15 00:00:00'
        |  AND dl < TIMESTAMP '2024-01-25 00:00:00'""".stripMargin) { (s, dir) =>
      val cat = new ViewCatalog(s, GraftSession.tempDir("graft-ttl-q").toString)
      val tv = new TemporalView(cat, "ttl_events",
        sess => Tables.load(sess, dir, "events")
          .filter(col("user_id") < 20)
          .select(col("event_id"), col("user_id"), col("ts")),
        col("ts") + expr("INTERVAL 2 DAYS"))
      tv.create(s, "2024-01-05 00:00:00")
      tv.advance("2024-01-15 00:00:00")
      tv.advance("2024-01-25 00:00:00")
      graft.sql.SubscribeFrame(cat, "ttl_events", Some(0L))
        .select(col("mz_ts"), col("mz_diff"), col("event_id"), col("user_id"))
    },

    // mz_now() temporal filter driven PURELY through SQL text (reference
    // user surface doc/user/content/transform-data/patterns/temporal-filters.md;
    // MfpPlan::extract_temporal src/expr/src/linear.rs:411-470): the CREATE
    // statement's `mz_now() <= ts + INTERVAL 2 DAY` predicate compiles to a
    // TemporalView, ADVANCE retracts expired rows as a state-only commit,
    // and SUBSCRIBE shows them at mz_diff = -1. The oracle recomputes the
    // snapshot + expiry set from scratch.
    Q("sql_surface_temporal",
      """WITH base AS (
        |  SELECT event_id, user_id, ts + INTERVAL 2 DAY AS dl
        |  FROM events WHERE user_id < 20)
        |SELECT CAST(0 AS BIGINT) AS mz_ts, CAST(1 AS BIGINT) AS mz_diff,
        |  event_id, user_id
        |FROM base WHERE dl >= TIMESTAMP '2024-01-05 00:00:00'
        |UNION ALL
        |SELECT 1, -1, event_id, user_id FROM base
        |WHERE dl >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND dl < TIMESTAMP '2024-01-15 00:00:00'""".stripMargin) { (s, dir) =>
      graft.Tables.register(s, dir)
      s.conf.set("spark.graft.mz_now", "2024-01-05 00:00:00")
      try {
        s.sql(
          """CREATE OR REPLACE MATERIALIZED VIEW ttl_sql AS
            |SELECT event_id, user_id, ts FROM events
            |WHERE user_id < 20 AND mz_now() <= ts + INTERVAL 2 DAY""".stripMargin)
        s.sql("ADVANCE MATERIALIZED VIEW ttl_sql TO TIMESTAMP '2024-01-15 00:00:00'")
        s.sql("SUBSCRIBE ttl_sql AS OF 0")
          .select(col("mz_ts"), col("mz_diff"), col("event_id"), col("user_id"))
      } finally s.conf.unset("spark.graft.mz_now")
    },

    // BOTH temporal bounds through one SQL view (reference extracts
    // lower_bounds AND upper_bounds, src/expr/src/linear.rs:1727-1730):
    // `mz_now() >= ts` delays a row's APPEARANCE until the clock reaches its
    // event time, `mz_now() <= ts + 2d` expires it two days later. The
    // SUBSCRIBE frame shows the v0 snapshot, then ADVANCE delivers +1 for
    // rows whose appearance bound was crossed and -1 for expiries — all
    // state-only commits. The oracle recomputes each step from scratch.
    Q("temporal_lower_bound",
      """WITH base AS (
        |  SELECT event_id, user_id, ts, ts + INTERVAL 2 DAY AS dl
        |  FROM events WHERE user_id < 20)
        |SELECT CAST(0 AS BIGINT) AS mz_ts, CAST(1 AS BIGINT) AS mz_diff,
        |  event_id, user_id
        |FROM base WHERE ts <= TIMESTAMP '2024-01-05 00:00:00'
        |  AND dl >= TIMESTAMP '2024-01-05 00:00:00'
        |UNION ALL
        |SELECT 1, 1, event_id, user_id FROM base
        |WHERE ts > TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-10 00:00:00'
        |  AND dl >= TIMESTAMP '2024-01-10 00:00:00'
        |UNION ALL
        |SELECT 1, -1, event_id, user_id FROM base
        |WHERE ts <= TIMESTAMP '2024-01-05 00:00:00'
        |  AND dl >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND dl < TIMESTAMP '2024-01-10 00:00:00'""".stripMargin) { (s, dir) =>
      graft.Tables.register(s, dir)
      s.conf.set("spark.graft.mz_now", "2024-01-05 00:00:00")
      try {
        s.sql(
          """CREATE OR REPLACE MATERIALIZED VIEW delayed_sql AS
            |SELECT event_id, user_id, ts FROM events
            |WHERE user_id < 20 AND mz_now() >= ts
            |  AND mz_now() <= ts + INTERVAL 2 DAY""".stripMargin)
        s.sql("ADVANCE MATERIALIZED VIEW delayed_sql TO TIMESTAMP '2024-01-10 00:00:00'")
        s.sql("SUBSCRIBE delayed_sql AS OF 0")
          .select(col("mz_ts"), col("mz_diff"), col("event_id"), col("user_id"))
      } finally s.conf.unset("spark.graft.mz_now")
    },

    // SUBSCRIBE with the UPSERT output envelope (reference
    // doc/user/content/sql/subscribe.md:34-57): the changelog frame is
    // reshaped per (timestamp, key) — the v0 snapshot arrives as `upsert`
    // rows, a refresh delivers `upsert` for keys whose value changed and
    // `delete` (NULL value) for keys that vanished. WITHIN TIMESTAMP ORDER
    // BY fixes the in-timestamp presentation order. The oracle recomputes
    // both versions from scratch and derives the same keyed envelope.
    Q("subscribe_envelope_upsert",
      """WITH a AS (SELECT user_id, count(*) AS n FROM events
        |           WHERE user_id < 30 GROUP BY user_id),
        |b AS (SELECT user_id, count(*) AS n FROM events
        |      WHERE user_id < 25 AND event_id % 2 = 0 GROUP BY user_id)
        |SELECT CAST(0 AS BIGINT) AS mz_ts, 'upsert' AS mz_state, user_id, n FROM a
        |UNION ALL
        |SELECT 1, 'delete', a.user_id, CAST(NULL AS BIGINT)
        |FROM a LEFT JOIN b ON a.user_id = b.user_id WHERE b.user_id IS NULL
        |UNION ALL
        |SELECT 1, 'upsert', b.user_id, b.n
        |FROM b JOIN a ON a.user_id = b.user_id WHERE b.n <> a.n
        |UNION ALL
        |SELECT 1, 'upsert', b.user_id, b.n
        |FROM b LEFT JOIN a ON a.user_id = b.user_id WHERE a.user_id IS NULL""".stripMargin) { (s, dir) =>
      graft.Tables.register(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW subenv_base AS
              |SELECT * FROM events WHERE user_id < 30""".stripMargin)
      s.sql("""CREATE OR REPLACE MATERIALIZED VIEW subenv_mv AS
              |SELECT user_id, count(*) AS n FROM subenv_base GROUP BY user_id""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW subenv_base AS
              |SELECT * FROM events WHERE user_id < 25 AND event_id % 2 = 0""".stripMargin)
      s.sql("REFRESH MATERIALIZED VIEW subenv_mv")
      s.sql("""SUBSCRIBE subenv_mv ENVELOPE UPSERT (KEY (user_id))
              |WITHIN TIMESTAMP ORDER BY user_id AS OF 0""".stripMargin)
    },

    // The SQL entry path end-to-end (reference
    // `doc/developer/life-of-a-query.md`): the whole lifecycle — create,
    // full refresh, versioned AS OF read — is driven by SQL text through
    // graft.sql.GraftSqlParser, no Scala API calls. AS OF 1 pins the
    // post-refresh version, so a broken refresh or version bookkeeping
    // mismatches the oracle.
    Q("sql_surface_mv",
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.register(s, dir)
      // OR REPLACE: the bench times each query over several passes in one
      // session; plain CREATE on the existing name would (correctly) throw
      s.sql(
        """CREATE OR REPLACE MATERIALIZED VIEW sql_surface_rev AS
          |SELECT o_orderstatus, count(*) AS cnt,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus""".stripMargin)
      s.sql("REFRESH MATERIALIZED VIEW sql_surface_rev")
      s.sql("SELECT o_orderstatus, cnt, total FROM sql_surface_rev AS OF 1")
    }
  )
}
