package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{AvroBinary, AvroFunctions, Confluent, ConfluentFunctions, ProtobufBinary, ProtobufFunctions}

/** Confluent registry envelope (reference `src/interchange/src/confluent.rs`):
  * the 5-byte header is pinned as golden bytes; decode covers id resolution,
  * writer→reader projection, and every error-as-data branch. */
class ConfluentSpec extends SparkSpec {
  import spark.implicits._

  private val reader = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType)))
  private val writerV2 = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType),
    StructField("extra", DoubleType)))
  private def registry = new Confluent.Registry(Map(
    1 -> Confluent.Entry("avro", reader),
    2 -> Confluent.Entry("protobuf", writerV2)))

  private def row(vs: Any*): InternalRow = InternalRow.fromSeq(vs.toIndexedSeq)

  test("golden header: magic 0x00 + big-endian id + payload") {
    val framed = Confluent.wrap(0x01020304, Array[Byte](0x2A))
    assert(framed.toSeq == Seq[Byte](0x00, 0x01, 0x02, 0x03, 0x04, 0x2A))
  }

  test("decode resolves the id and projects writer onto reader by name") {
    val p1 = AvroBinary.encode(row(7L, UTF8String.fromString("x")), reader)
    val d1 = Confluent.decode(Confluent.wrap(1, p1), registry, reader)
    assert(d1.isNullAt(1)) // no error
    val r1 = d1.getStruct(0, 2)
    assert(r1.getLong(0) == 7L && r1.getUTF8String(1).toString == "x")

    // writer has an extra field the reader never sees
    val p2 = ProtobufBinary.encode(
      row(8L, UTF8String.fromString("y"), 2.5), writerV2)
    val d2 = Confluent.decode(Confluent.wrap(2, p2), registry, reader)
    assert(d2.isNullAt(1))
    val r2 = d2.getStruct(0, 2)
    assert(r2.getLong(0) == 8L && r2.getUTF8String(1).toString == "y")

    // reader asking for a field the writer lacks → null, not an error
    val wide = StructType(reader.fields :+ StructField("missing", LongType))
    val d3 = Confluent.decode(Confluent.wrap(1, p1), registry, wide)
    assert(d3.isNullAt(1) && d3.getStruct(0, 3).isNullAt(2))
  }

  test("error-as-data: unknown id, bad magic, short frame, corrupt payload, type clash") {
    def errOf(bytes: Array[Byte], rdr: StructType = reader): String = {
      val d = Confluent.decode(bytes, registry, rdr)
      assert(d.isNullAt(0), "payload must be null when err is set")
      d.getUTF8String(1).toString
    }
    val good = AvroBinary.encode(row(7L, UTF8String.fromString("x")), reader)
    assert(errOf(Confluent.wrap(9, good)) == "unknown schema id 9")
    assert(errOf(Array[Byte](1, 0, 0, 0, 1, 0)).startsWith("bad magic"))
    assert(errOf(Array[Byte](0, 0)).startsWith("frame too short"))
    assert(errOf(Confluent.wrap(1, good.dropRight(1))).startsWith("schema id 1:"))
    val clashReader = StructType(Seq(StructField("a", StringType)))
    assert(errOf(Confluent.wrap(1, good), clashReader).contains("reader wants string"))
  }

  test("file-backed registry round-trips and rejects bad lines") {
    val f = tempDir("graft_reg_").resolve("registry.tsv")
    Confluent.writeRegistryFile(f.toString, Seq(
      (1, "avro", "a BIGINT, s STRING"), (2, "protobuf", "a BIGINT")))
    val reg = Confluent.registryFromFile(f.toString)
    assert(reg.entries(1).schema == StructType.fromDDL("a BIGINT, s STRING"))
    assert(reg.entries(2).format == "protobuf")
    intercept[IllegalArgumentException](Confluent.Entry("json", reader))
  }

  test("SQL surface: mixed-schema frames through one registry_decode call") {
    AvroFunctions.register(spark)
    ProtobufFunctions.register(spark)
    // Avro nullability IS wire format (the union branch byte), so the
    // registry's writer schemas must carry the writer's actual nullability —
    // range()-derived columns are non-nullable, unlike parquet-sourced ones.
    def nn(fs: (String, DataType)*) = StructType(
      fs.map { case (n, t) => StructField(n, t, nullable = false) })
    ConfluentFunctions.register(spark, new Confluent.Registry(Map(
      1 -> Confluent.Entry("avro", nn("a" -> LongType, "s" -> StringType)),
      2 -> Confluent.Entry("protobuf",
        nn("a" -> LongType, "s" -> StringType, "extra" -> DoubleType)))))
    val out = spark.range(0, 6)
      .select(col("id").as("a"), concat(lit("s"), col("id")).as("s"),
        (col("id") * 1.5).as("extra"))
      .select(col("a"), expr(
        """CASE WHEN a % 3 = 0 THEN confluent_wrap(1, avro_encode(struct(a, s)))
          |     WHEN a % 3 = 1 THEN confluent_wrap(2, protobuf_encode(struct(a, s, extra)))
          |     ELSE confluent_wrap(5, avro_encode(struct(a, s))) END""".stripMargin).as("msg"))
      .select(col("a"), expr("registry_decode(msg, 'a BIGINT, s STRING')").as("d"))
      .select(col("a"), col("d.r.s").as("s"), col("d.err").as("err"))
      .as[(Long, Option[String], Option[String])].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, Some("s0"), None), (1L, Some("s1"), None),
      (2L, None, Some("unknown schema id 5")),
      (3L, Some("s3"), None), (4L, Some("s4"), None),
      (5L, None, Some("unknown schema id 5"))))
  }
}
