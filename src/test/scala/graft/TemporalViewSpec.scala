package graft

import org.apache.spark.sql.functions._

import graft.sql.SubscribeFrame
import graft.views.{TemporalView, ViewCatalog}

/** Scheduled-retraction maintenance for temporal filters
  * ([[graft.views.TemporalView]]): advancing the view's logical clock
  * retracts exactly the rows whose deadline passed — without re-running the
  * defining query — while earlier versions stay readable AS OF.
  * (Reference `MfpPlan::extract_temporal`, src/expr/src/linear.rs:411-470.)
  */
class TemporalViewSpec extends SparkSpec {
  import spark.implicits._

  private def newView(): (ViewCatalog, TemporalView) = {
    val cat = new ViewCatalog(spark, tempDir("graft-tv").toString)
    val tv = new TemporalView(cat, "tv",
      s => {
        import s.implicits._
        Seq((1L, "2024-01-02 00:00:00"), (2L, "2024-01-06 00:00:00"),
          (3L, "2024-01-09 00:00:00"), (4L, "2024-01-20 00:00:00"))
          .toDF("id", "t").select(col("id"), col("t").cast("timestamp").as("t"))
      },
      col("t") + expr("INTERVAL 2 DAYS")) // deadlines: Jan 4, 8, 11, 22
    (cat, tv)
  }

  test("advance retracts exactly the rows whose deadline passed") {
    val (cat, tv) = newView()
    tv.create(spark, "2024-01-05 00:00:00") // id=1 (dl Jan 4) already expired
    assert(tv.snapshot().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))

    tv.advance("2024-01-10 00:00:00") // id=2 (dl Jan 8) expires
    assert(tv.snapshot().select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    // the changelog frame shows the expiry as a retraction at version 1
    val frame = SubscribeFrame(cat, "tv", Some(0L))
      .select(col("mz_ts"), col("mz_diff"), col("id")).as[(Long, Long, Long)]
      .collect().toSet
    assert(frame == Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 1L, 4L), (1L, -1L, 2L)))
  }

  test("AS OF an earlier version still shows since-expired rows") {
    val (cat, tv) = newView()
    tv.create(spark, "2024-01-05 00:00:00")
    tv.advance("2024-01-12 00:00:00") // ids 2 and 3 expire
    assert(cat.tableAt("tv", 0L).select("id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L, 4L))
    assert(cat.tableAt("tv", 1L).select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("advance is state-only: defining query does not re-run") {
    var evals = 0
    val cat = new ViewCatalog(spark, tempDir("graft-tv").toString)
    val tv = new TemporalView(cat, "tv2",
      s => {
        evals += 1
        import s.implicits._
        Seq((1L, "2024-01-06 00:00:00")).toDF("id", "t")
          .select(col("id"), col("t").cast("timestamp").as("t"))
      },
      col("t") + expr("INTERVAL 2 DAYS"))
    tv.create(spark, "2024-01-05 00:00:00")
    val after = evals // create evaluates the source (once, possibly lazily)
    tv.advance("2024-01-07 00:00:00")
    tv.advance("2024-01-09 00:00:00")
    assert(evals == after)
  }

  test("clock must advance monotonically") {
    val (_, tv) = newView()
    tv.create(spark, "2024-01-05 00:00:00")
    intercept[IllegalArgumentException](tv.advance("2024-01-04 00:00:00"))
  }
}
