package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: run only queries whose name contains the filter
    val nameFilter: String => Boolean =
      if (args.length > 2) (n: String) => n.contains(args(2)) else (_: String) => true
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.toString.take(500)}")
        errors(name) = e.toString.take(1000)
        // Failures must not vanish from the report: write a 1-row parquet
        // whose single `_error` column carries the exception, so the driver's
        // compare produces a loud red row (schema+hash mismatch) instead of
        // silently dropping the query from CORRECTNESS_r{N}.
        try {
          import spark.implicits._
          Seq(e.toString.take(1000)).toDF("_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      om.writeValueAsString(SparkEntry.oracleSql.asJava))
    Files.writeString(Paths.get(s"$outDir/errors.json"), om.writeValueAsString(errors.asJava))
    spark.stop()
  }
}
