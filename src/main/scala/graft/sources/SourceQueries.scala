package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Q, Tables}
import graft.streaming.Changelog

/** Driver-checked CDC ingestion: the events table is re-encoded as Debezium
  * envelope JSON in-query (op `d` for low values, `u` otherwise, offset =
  * event_id), then decoded → upsert envelope → changelog → final state. The
  * oracle computes the same final state relationally: the latest-by-offset
  * per key, dropped when the latest op is a delete. The file-stream
  * transport of the identical pipeline is covered by DebeziumJsonSpec.
  */
object SourceQueries {

  private val cdcRowSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  val defs: Seq[Q] = Seq(

    // Load-generator source (reference sources/load_generator.rs): the
    // oracle recomputes every generated column from the row id.
    Q("source_load_generator",
      """SELECT id,
        |  CAST('0x' || substr(md5('slr' || id), 1, 15) AS BIGINT) % 1000 AS seller,
        |  (CAST('0x' || substr(md5('amt' || id), 1, 15) AS BIGINT) % 100000) / 100.0 AS amount,
        |  (['book','car','gem','art','toy','wine','coin','map'])[
        |    CAST(CAST('0x' || substr(md5('itm' || id), 1, 15) AS BIGINT) % 8 AS INT) + 1] AS item,
        |  1704067200 + (id * 7919) % 604800 AS bid_s
        |FROM range(1000) t(id)""".stripMargin) { (s, _) =>
      LoadGenerator.auctionsBatch(s, 1000)
    },

    // The same generator driven purely through the SQL entry path (reference
    // CREATE SOURCE, `src/sql/src/plan.rs:134`): CREATE SOURCE registers the
    // collection, plain SQL aggregates it. IF NOT EXISTS keeps repeated
    // passes in one session idempotent.
    Q("sql_surface_source",
      """SELECT item, count(*) AS n,
        |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |FROM (
        |  SELECT (['book','car','gem','art','toy','wine','coin','map'])[
        |      CAST(CAST('0x' || substr(md5('itm' || id), 1, 15) AS BIGINT) % 8 AS INT) + 1] AS item,
        |    (CAST('0x' || substr(md5('amt' || id), 1, 15) AS BIGINT) % 100000) / 100.0 AS amount
        |  FROM range(15000) t(id))
        |GROUP BY item""".stripMargin) { (s, _) =>
      s.sql("CREATE SOURCE IF NOT EXISTS auction_sql_src FROM LOAD GENERATOR AUCTION (UP TO 15000)")
      s.sql("""SELECT item, count(*) AS n,
        |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |FROM auction_sql_src GROUP BY item""".stripMargin)
    },

    Q("cdc_debezium_upsert",
      """SELECT user_id, last_value FROM (
        |  SELECT user_id, value AS last_value,
        |    CASE WHEN value < 10 THEN 'd' ELSE 'u' END AS op,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND op <> 'd'""".stripMargin) { (s, dir) =>
      // loadSpread: the envelope encode/decode is per-row JSON work and the
      // events table is one parquet split at bench SFs (guide §2.5)
      val ev = Tables.loadSpread(s, dir, "events")
      // Encode each event as a Debezium envelope (what a Kafka topic would
      // carry): value<10 → tombstone-style delete of the key.
      val isDelete = col("value") < 10
      val image = struct(col("user_id"), col("value"))
      val raw = ev.select(
        to_json(struct(
          when(isDelete, lit("d")).otherwise(lit("u")).as("op"),
          (unix_timestamp(col("ts")) * 1000).as("ts_ms"),
          when(isDelete, image).as("before"),
          when(!isDelete, image).as("after"))).as("value"),
        col("event_id").cast("long").as("offset"))

      val changelog = DebeziumJson.toChangelog(raw, cdcRowSchema, Seq("user_id"))
        .toDF("k", "v", Changelog.DiffCol)

      // Final state = net-positive rows of the changelog, re-typed.
      Changelog.threshold(changelog)
        .select(from_json(col("v"), cdcRowSchema).as("r"))
        .select(col("r.user_id").as("user_id"), col("r.value").as("last_value"))
    },

    // Webhook push-source analog (reference src/adapter/src/webhook.rs):
    // nation rows are re-encoded as pushed requests — body JSON + headers
    // carrying an idempotency key and an HMAC signature. Keys < 5 are pushed
    // TWICE (client retry: must dedup), keys >= 20 arrive with a tampered
    // signature (must be rejected). If validation were skipped the tampered
    // bodies would parse fine and surface as extra rows; if dedup broke the
    // retries would double rows — either way the oracle mismatches.
    Q("source_webhook_drop",
      "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 20") { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val work = GraftSession.tempDir("graft_webhook_").toString
      val secret = "graft-webhook-secret"
      val bodySchema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType)))

      val base = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("k"),
          to_json(struct(col("n_nationkey"), col("n_name"))).as("body"))
      def requests(df: org.apache.spark.sql.DataFrame, goodSig: Boolean) =
        df.withColumn("headers", map(
          lit(WebhookSource.IdempotencyHeader), concat(lit("req-"), col("k")),
          lit(WebhookSource.SignatureHeader),
          if (goodSig) expr(s"hmac_sha256('$secret', body)") else lit("deadbeef")))
          .select(col("headers"), col("body"))
      requests(base.filter(col("k") < 20), goodSig = true)
        .unionByName(requests(base.filter(col("k") < 5), goodSig = true)) // retries
        .unionByName(requests(base.filter(col("k") >= 20), goodSig = false)) // tampered
        .repartition(3).write.mode("overwrite").json(work)

      val (accepted, _) = WebhookSource.ingest(s, work, bodySchema, secret)
      graft.streaming.Changelog.toRows(accepted)
    },

    // Avro binary interchange (reference src/interchange/src/avro.rs:1-184):
    // every events row is encoded as a standard Avro binary record (zigzag
    // varints, union["null",T] nullables, IEEE-LE doubles — wire format
    // pinned by AvroBinarySpec's golden bytes) and decoded back against the
    // DDL writer schema; the oracle is the untouched table, so any
    // asymmetry or value corruption in the codec mismatches.
    Q("source_avro_decode",
      "SELECT event_id, ts, user_id, event_type, value, props FROM events") { (s, dir) =>
      AvroFunctions.register(s)
      Tables.load(s, dir, "events")
        .select(expr(
          """avro_decode(
            |  avro_encode(struct(event_id, ts, user_id, event_type, value, props)),
            |  'event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING')""".stripMargin)
          .as("r"))
        .select(col("r.*"))
    },

    // Protobuf interchange (reference src/interchange/src/protobuf.rs:1-240):
    // orders rows round-trip through proto3 binary messages (wire format
    // pinned by ProtobufBinarySpec's golden bytes, including the canonical
    // 08 96 01 example). Orders columns are never proto3 defaults, so the
    // default-omission semantics cannot mask value corruption here.
    Q("source_protobuf_decode",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority FROM orders""".stripMargin) { (s, dir) =>
      ProtobufFunctions.register(s)
      // o_orderdate is parquet timestamp[ms] without UTC adjustment, which
      // Spark reads as TIMESTAMP_NTZ; cast to the session-zoned TIMESTAMP so
      // the decoded schema matches the oracle's (same pattern as
      // `source_avro_decode` and events.ts).
      Tables.load(s, dir, "orders")
        .select(expr(
          """protobuf_decode(
            |  protobuf_encode(struct(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |                         CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
            |                         o_orderpriority)),
            |  'o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING')""".stripMargin)
          .as("r"))
        .select(col("r.*"))
    },

    // Confluent-style registry envelope (reference
    // src/interchange/src/confluent.rs: magic 0x00 + 4-byte BE schema id +
    // payload). Part rows are framed under three ids, like a topic whose
    // writer schema evolved: id 1 = avro at the reader schema, id 2 =
    // protobuf with an extra p_brand field the reader must skip, id 7 =
    // never registered. The reader decodes all three streams with ONE
    // registry_decode call; unknown ids surface via the error-as-data
    // convention (null row + tagged err), mirroring fn_error_as_data.
    Q("source_registry_decode",
      """SELECT p_partkey AS k,
        |  CASE WHEN p_partkey % 3 = 2 THEN NULL ELSE p_partkey END AS r_partkey,
        |  CASE WHEN p_partkey % 3 = 2 THEN NULL ELSE p_name END AS r_name,
        |  CASE WHEN p_partkey % 3 = 2 THEN NULL ELSE p_retailprice END AS r_price,
        |  CASE WHEN p_partkey % 3 = 2 THEN 'unknown schema id 7' END AS err
        |FROM part""".stripMargin) { (s, dir) =>
      AvroFunctions.register(s)
      ProtobufFunctions.register(s)
      val readerDdl = "p_partkey BIGINT, p_name STRING, p_retailprice DOUBLE"
      val writerV2Ddl = readerDdl + ", p_brand STRING"
      val regFile = GraftSession.tempDir("graft_registry_").resolve("registry.tsv")
      Confluent.writeRegistryFile(regFile.toString, Seq(
        (1, "avro", readerDdl), (2, "protobuf", writerV2Ddl)))
      ConfluentFunctions.register(s, Confluent.registryFromFile(regFile.toString))

      Tables.load(s, dir, "part")
        .select(col("p_partkey").as("k"),
          expr(
            """CASE
              |  WHEN p_partkey % 3 = 1 THEN confluent_wrap(2,
              |    protobuf_encode(struct(p_partkey, p_name, p_retailprice, p_brand)))
              |  WHEN p_partkey % 3 = 2 THEN confluent_wrap(7,
              |    avro_encode(struct(p_partkey, p_name, p_retailprice)))
              |  ELSE confluent_wrap(1,
              |    avro_encode(struct(p_partkey, p_name, p_retailprice)))
              |END""".stripMargin).as("msg"))
        .select(col("k"), expr(s"registry_decode(msg, '$readerDdl')").as("d"))
        .select(col("k"),
          col("d.r.p_partkey").as("r_partkey"),
          col("d.r.p_name").as("r_name"),
          col("d.r.p_retailprice").as("r_price"),
          col("d.err").as("err"))
    }
  )
}
