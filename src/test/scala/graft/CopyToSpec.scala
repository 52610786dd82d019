package graft

import org.apache.spark.sql.functions._
import graft.sources.CopyTo

class CopyToSpec extends SparkSpec {

  test("COPY TO csv round-trips through COPY FROM") {
    val dir = tempDir("graft-copyto").toString + "/out"
    val nation = Tables.load(spark, Sf, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    CopyTo.csv(nation, dir)
    val back = CopyTo.fromCsv(spark, dir)
    assert(back.count() == 25)
    assert(back.columns.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
    val names = back.select("n_name").collect().map(_.getString(0)).toSet
    assert(names == nation.select("n_name").collect().map(_.getString(0)).toSet)
  }

  test("COPY TO parquet preserves exact types and values") {
    val dir = tempDir("graft-copyto2").toString + "/out"
    val src = Tables.load(spark, Sf, "region")
    CopyTo.parquet(src, dir)
    val back = spark.read.parquet(dir)
    assert(back.schema == src.schema)
    assert(back.collect().toSet == src.collect().toSet)
  }
}
