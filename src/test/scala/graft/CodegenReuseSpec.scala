package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.plans.ParamLiteral
import graft.tpch.TpchQueries

/** A query's generated code depends on its shape, not its constants, and the
  * session's codegen cache holds a working set larger than Spark's default
  * 100 classes. Compiles are counted with Spark's own codegen metric; codegen
  * fallback is off here, so a broken `doGenCode` fails the query instead of
  * running interpreted. */
class CodegenReuseSpec extends SparkSpec with BeforeAndAfterAll {
  private val strictCodegen = Seq(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private var saved: Seq[(String, Option[String])] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = strictCodegen.map { case (k, _) => k -> spark.conf.getOption(k) }
    strictCodegen.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  override def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    super.afterAll()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles made while running `f`. */
  private def compilesDuring(f: => Unit): Long = {
    val before = compiles
    f
    compiles - before
  }

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("f", FloatType), StructField("s", ShortType),
    StructField("b", ByteType), StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("tn", TimestampNTZType)))

  private def date(s: String) = java.time.LocalDate.parse(s)
  private def ts(s: String) = java.time.Instant.parse(s.replace(' ', 'T') + "Z")
  private def ntz(s: String) = java.time.LocalDateTime.parse(s)

  private val data = Seq(
    Row(0, Int.MinValue, Long.MinValue, Double.NaN, Float.NaN, Short.MinValue, Byte.MinValue,
      date("0001-01-01"), ts("0001-01-01 00:00:00"), ntz("0001-01-01T00:00:00")),
    Row(1, Int.MaxValue, Long.MaxValue, Double.PositiveInfinity, Float.PositiveInfinity,
      Short.MaxValue, Byte.MaxValue, date("9999-12-31"), ts("9999-12-31 23:59:59.999999"),
      ntz("9999-12-31T23:59:59.999999")),
    Row(2, 0, 0L, Double.NegativeInfinity, Float.NegativeInfinity, 0.toShort, 0.toByte,
      date("1970-01-01"), ts("1970-01-01 00:00:00"), ntz("1970-01-01T00:00:00")),
    Row(3, -1, -1L, -0.0, -0.0f, (-1).toShort, (-1).toByte,
      date("2024-02-29"), ts("2024-02-29 12:34:56.789012"), ntz("2024-02-29T12:34:56.789012")),
    Row(4, 7, 7L, 1.5, 1.5f, 7.toShort, 7.toByte,
      date("1582-10-15"), ts("1900-01-01 00:00:00"), ntz("1900-01-01T00:00:00")))

  private lazy val table: String = {
    val dir = tempDir("graft-codegen").toString
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet").createOrReplaceTempView("codegen_t")
    "codegen_t"
  }

  /** The table's rows as Spark returns them, by key. */
  private lazy val stored: Map[Int, Row] = spark.table(table).collect().map(r => r.getInt(0) -> r).toMap

  /** Rows as text, so NaN and -0.0 compare exactly. */
  private def text(rows: Seq[Row]): Set[String] = rows.map(_.mkString("|")).toSet

  test("(a) running the same text twice compiles nothing the second time") {
    val q = s"SELECT b, count(*) AS n, sum(l % 1000) AS s FROM $table WHERE i > -5 GROUP BY b"
    val first = spark.sql(q).collect().toSeq
    var again: Seq[Row] = Nil
    assert(compilesDuring { again = spark.sql(q).collect().toSeq } == 0)
    assert(text(again) == text(first))
  }

  /** Per column: the SQL text of each constant, and the keys of the rows it
    * selects (Spark compares NaN = NaN and -0.0 = 0.0 as equal). A column's
    * constants share one spelling: a nullable `CAST('NaN' AS DOUBLE)` and a
    * non-null `-0.0D` give the result different schemas, hence other code. */
  private val cases: Seq[(String, Seq[(String, Set[Int])])] = Seq(
    "i" -> Seq("-2147483648" -> Set(0), "2147483647" -> Set(1), "0" -> Set(2), "-1" -> Set(3),
      "7" -> Set(4), "8" -> Set()),
    "l" -> Seq("-9223372036854775808L" -> Set(0), "9223372036854775807L" -> Set(1),
      "0L" -> Set(2), "-1L" -> Set(3), "7L" -> Set(4)),
    "d" -> Seq("NaN" -> Set(0), "Infinity" -> Set(1), "-Infinity" -> Set(2), "-0.0" -> Set(3),
      "0.0" -> Set(3), "1.5" -> Set(4), "4.9E-324" -> Set.empty[Int]).map { case (v, k) => s"CAST('$v' AS DOUBLE)" -> k },
    "f" -> Seq("NaN" -> Set(0), "Infinity" -> Set(1), "-Infinity" -> Set(2), "-0.0" -> Set(3),
      "1.5" -> Set(4)).map { case (v, k) => s"CAST('$v' AS FLOAT)" -> k },
    "s" -> Seq("-32768S" -> Set(0), "32767S" -> Set(1), "0S" -> Set(2), "7S" -> Set(4)),
    "b" -> Seq("-128Y" -> Set(0), "127Y" -> Set(1), "-1Y" -> Set(3), "7Y" -> Set(4)),
    "dt" -> Seq("DATE'0001-01-01'" -> Set(0), "DATE'9999-12-31'" -> Set(1),
      "DATE'1970-01-01'" -> Set(2), "DATE'1582-10-15'" -> Set(4), "DATE'2000-01-01'" -> Set()),
    "ts" -> Seq("TIMESTAMP'0001-01-01 00:00:00'" -> Set(0),
      "TIMESTAMP'9999-12-31 23:59:59.999999'" -> Set(1), "TIMESTAMP'1970-01-01 00:00:00'" -> Set(2),
      "TIMESTAMP'2024-02-29 12:34:56.789012'" -> Set(3), "TIMESTAMP'1900-01-01 00:00:00'" -> Set(4)),
    "tn" -> Seq("TIMESTAMP_NTZ'0001-01-01 00:00:00'" -> Set(0),
      "TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'" -> Set(1),
      "TIMESTAMP_NTZ'2024-02-29 12:34:56.789012'" -> Set(3),
      "TIMESTAMP_NTZ'1900-01-01 00:00:00'" -> Set(4)))

  test("(b) texts differing only in a constant compile once per type and return the right rows") {
    cases.foreach { case (col, consts) =>
      // the constant sits in both the filter and the projection
      def run(c: String): Seq[Row] = spark.sql(
        s"SELECT k, $col, $c AS c, k + 1 AS k1 FROM $table WHERE $col = $c AND k >= 0").collect().toSeq
      def check(c: String, keys: Set[Int], rows: Seq[Row]): Unit = {
        val constant = spark.sql(s"SELECT $c").head().get(0)
        val expected = keys.toSeq.map(k => Row(k, stored(k).get(schema.fieldIndex(col)), constant, k + 1))
        assert(text(rows) == text(expected), s"$col = $c")
      }
      val (c0, keys0) = consts.head
      check(c0, keys0, run(c0))
      consts.tail.foreach { case (c, keys) =>
        var rows: Seq[Row] = Nil
        assert(compilesDuring { rows = run(c) } == 0, s"$col = $c compiled new code")
        check(c, keys, rows)
      }
    }
  }

  test("(b) -0.0 and 0.0 in one projection stay distinct") {
    val row = spark.sql(s"SELECT d * 0.0D AS p, d * -0.0D AS n FROM $table WHERE k = 4").head()
    assert(row.getDouble(0).toString == "0.0" && row.getDouble(1).toString == "-0.0", row)
  }

  test("(c) a cycle of more than 100 classes compiles nothing on its second pass") {
    Tables.register(spark, Sf)
    def pass(): Unit = TpchQueries.sql.keys.toSeq.sorted.foreach(q => spark.sql(TpchQueries.sql(q)).collect())
    // a cold pass compiles each distinct class once; Spark's default cache
    // holds 100, which would evict the cycle's own code before reuse
    val first = compilesDuring(pass())
    assert(first > 100, s"first pass compiled $first classes")
    assert(compilesDuring(pass()) == 0)
  }

  test("(d) scans still push the constant; EXPLAIN text is unchanged") {
    val q = s"SELECT k FROM $table WHERE l = 7L AND d > 1.0D"
    val qe = spark.sql(q).queryExecution
    val filters = qe.executedPlan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty && filters.forall(_.condition.exists(_.isInstanceOf[ParamLiteral])),
      qe.executedPlan.treeString)
    // the planned (pre-rule) filter prints exactly what the executed one does
    val planned = qe.sparkPlan.collect { case f: FilterExec => f.condition.toString }
    assert(filters.map(_.condition.toString) == planned)
    val pushdown = spark.sql(s"EXPLAIN FILTER PUSHDOWN FOR $q").collect().map(_.getString(0)).toSeq
    assert(pushdown.exists(l => l.contains("EqualTo(l,7)") && l.contains("GreaterThan(d,1.0)")),
      pushdown.mkString("\n"))
    assert(pushdown.filter(_.startsWith("residual=")) == planned.map(c => s"residual= ${c.take(200)}"))
    // toString and sql match Literal's for every covered type and edge value
    data.flatMap(r => schema.fields.indices.map(i =>
        Literal.create(r.get(i), schema(i).dataType))).foreach { lit =>
      val p = ParamLiteral(lit.value, lit.dataType)
      assert(p.toString == lit.toString && p.sql == lit.sql, lit)
    }
  }
}
