package graft.sources

import org.apache.spark.sql.functions._

import graft.{GraftSession, Q, Tables}

/** Driver-checked queries for the Iceberg-style table sink (reference
  * `src/storage/src/sink/iceberg.rs`): the full commit lifecycle — create,
  * idempotent append (a replayed batchId in the measured path must be a
  * no-op), merge-on-read upsert — and bounds-based file pruning, each
  * verified against a DuckDB oracle computing the same final state
  * relationally from the raw table.
  */
object SinkQueries {

  val defs: Seq[Q] = Seq(

    // create → append(batch 1) → replay of batch 1 (dropped by the resume
    // upper) → equality-delete upsert; the read is the merged state.
    Q("sink_iceberg_upsert_read",
      """SELECT o_orderkey AS k, o_orderpriority AS pri,
        |  CASE WHEN o_orderkey % 10 = 3 THEN -o_totalprice ELSE o_totalprice END AS price
        |FROM orders""".stripMargin) { (s, dir) =>
      val t = new IcebergTable(s,
        GraftSession.tempDir("graft-iceq").resolve("t").toString)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
          col("o_totalprice").as("price"))
      t.create(orders.filter(col("k") % 2 === 0))
      t.append(orders.filter(col("k") % 2 === 1), batchId = 1L)
      assert(t.append(orders.filter(col("k") % 2 === 1), batchId = 1L).isEmpty,
        "replayed batch must be dropped by the resume upper")
      t.upsertByKey(
        orders.filter(col("k") % 10 === 3).withColumn("price", -col("price")),
        Seq("k"))
      t.read()
    },

    // CREATE SINK end-to-end through SQL (reference Plan::CreateSink +
    // iceberg.rs): the MV's snapshot seeds the table, a base change +
    // REFRESH flows through the commit hook as an incremental change set,
    // and the final table state must equal the view recomputed from
    // scratch — which is exactly what the oracle does.
    Q("sink_view_maintained",
      """SELECT o_orderstatus AS st, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice >= 50000 GROUP BY o_orderstatus""".stripMargin) {
      (s, dir) =>
      graft.Tables.register(s, dir)
      s.sql("""CREATE OR REPLACE TEMP VIEW sink_base AS
        |SELECT * FROM orders WHERE o_totalprice >= 100000""".stripMargin)
      s.sql("""CREATE OR REPLACE MATERIALIZED VIEW sink_mv AS
        |SELECT o_orderstatus AS st, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM sink_base GROUP BY o_orderstatus""".stripMargin)
      val path = GraftSession.tempDir("graft-snk").resolve("t").toString
      s.sql(s"CREATE SINK sink_ice FROM sink_mv INTO ICEBERG '$path' KEY (st)")
      // widen the base: every group's aggregates change through the sink
      s.sql("""CREATE OR REPLACE TEMP VIEW sink_base AS
        |SELECT * FROM orders WHERE o_totalprice >= 50000""".stripMargin)
      s.sql("REFRESH MATERIALIZED VIEW sink_mv")
      s.sql("DROP SINK sink_ice") // keep repeated passes in one session clean
      new IcebergTable(s, path).read()
    },

    // Sink envelope emission round-trip (reference
    // src/interchange/src/envelopes.rs + src/storage/src/sink/kafka.rs over
    // the file transport): an MV feeds CREATE SINK ... ENVELOPE UPSERT
    // FORMAT AVRO; the seed batch and the refresh delta batch are framed
    // key/value messages (Confluent header + Avro payload, NULL value =
    // tombstone). The engine then decodes ITS OWN frames back through
    // registry_decode and applies compacted-topic semantics (latest frame
    // per key wins, tombstones delete) — the result must equal the view
    // recomputed from scratch, which is what the oracle does.
    Q("sink_envelope_roundtrip",
      """SELECT o_orderstatus AS st, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice >= 50000 GROUP BY o_orderstatus""".stripMargin) {
      (s, dir) =>
      graft.Tables.register(s, dir)
      s.sql("""CREATE OR REPLACE TEMP VIEW envsink_base AS
        |SELECT * FROM orders WHERE o_totalprice >= 100000""".stripMargin)
      s.sql("""CREATE OR REPLACE MATERIALIZED VIEW envsink_mv AS
        |SELECT o_orderstatus AS st, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM envsink_base GROUP BY o_orderstatus""".stripMargin)
      val path = GraftSession.tempDir("graft-envsnk").resolve("t").toString
      s.sql(s"CREATE SINK envsink_s FROM envsink_mv INTO FILE '$path' " +
        "KEY (st) ENVELOPE UPSERT FORMAT AVRO")
      // widen the base: every group's aggregates change through the sink
      s.sql("""CREATE OR REPLACE TEMP VIEW envsink_base AS
        |SELECT * FROM orders WHERE o_totalprice >= 50000""".stripMargin)
      s.sql("REFRESH MATERIALIZED VIEW envsink_mv")
      s.sql("DROP SINK envsink_s") // keep repeated passes in one session clean
      // replay the emitted frames through the engine's own decoder
      ConfluentFunctions.register(s,
        Confluent.registryFromFile(s"$path/_registry.tsv"))
      FileEnvelopeSink.readFrames(s, path)
        .groupBy(col("key"))
        .agg(expr("max_by(struct(value), batch)").getField("value").as("value"))
        .filter(col("value").isNotNull) // tombstoned keys stay deleted
        .select(expr("registry_decode(value, 'st STRING, cnt BIGINT, total DOUBLE')")
          .as("d"))
        .select(col("d.r.*"))
    },

    // Bounds-recorded write (range-partitioned so file bounds are tight),
    // then a pruned range scan: files outside the year are never opened;
    // the aggregate must still equal the full-table filter.
    Q("sink_iceberg_prune",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1996-12-31 23:59:59'""".stripMargin) { (s, dir) =>
      val t = new IcebergTable(s,
        GraftSession.tempDir("graft-icep").resolve("t").toString)
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      t.create(li.repartitionByRange(16, col("l_shipdate")),
        statsCols = Seq("l_shipdate"))
      val (df, scanned, total) = t.scanPruned(
        "l_shipdate", Some("1996-01-01 00:00:00"), Some("1996-12-31 23:59:59"))
      assert(scanned < total, s"pruning must skip files ($scanned of $total scanned)")
      df.agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
    })
}
