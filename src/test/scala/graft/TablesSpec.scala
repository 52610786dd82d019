package graft

import java.nio.file.Files

class TablesSpec extends SparkSpec {

  test("load reads a table rewritten in place with its new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS k").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k"))

    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.mode("overwrite").parquet(path)
    val t = Tables.load(spark, dir, "t")
    assert(t.columns.toSeq == Seq("k", "v"))
    assert(t.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 2L), (2L, 4L)))
  }
}
