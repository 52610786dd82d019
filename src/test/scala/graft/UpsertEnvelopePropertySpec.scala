package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.util.Pretty

import graft.streaming.UpsertEnvelope

/** The upsert envelope's order law: each row's offset, not its arrival
  * order, decides which row of a key wins. Over generated keyed rows
  * (values and tombstones, unique offsets), any permutation of the rows,
  * in one batch or split across streaming batches, sums to
  * `{(k, value at k's max offset, +1)}`, leaving out keys whose last row is
  * a tombstone. The seed is fixed, so a failure reproduces. */
class UpsertEnvelopePropertySpec extends SparkSpec {
  import UpsertEnvelopePropertySpec._
  import spark.implicits._

  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withWorkers(1).withInitialSeed(20261021L)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(1)))
  }

  test("batch: any permutation of the rows consolidates to each key's last value") {
    check(50)(forAllNoShrink(rowsGen, Gen.long) { (rows, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val got = consolidated(UpsertEnvelope.toChangelog(shuffled.toDS()).collect().toSeq)
      (got == lastValues(rows)) :| s"rows $shuffled: got $got, want ${lastValues(rows)}"
    })
  }

  test("streaming: rows shuffled across batches sum to each key's last value, " +
    "each key held at multiplicity 0 or 1") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = Gen.listOfN(4, Gen.zip(rowsGen, Gen.long, Gen.listOfN(3, Gen.choose(0, 12))))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261021L))
    samples.zipWithIndex.foreach { case ((rows, seed, cuts), run) =>
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val bounds = (0 +: cuts.map(_.min(shuffled.size)).sorted :+ shuffled.size).distinct
      val batches = bounds.sliding(2).map { case Seq(a, b) => shuffled.slice(a, b) }.toSeq
      val input = MemoryStream[Row]
      val name = s"upsert_law_$run"
      val q = UpsertEnvelope.toChangelog(input.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try batches.foreach { batch =>
        input.addData(batch: _*)
        q.processAllAvailable()
        val emitted = spark.table(name).as[(String, Int, Long)].collect().toSeq
        val held = consolidated(emitted)
        assert(held.values.forall(_ == 1L), s"after $batch of $batches: $held")
        assert(held.keys.groupBy(_._1).values.forall(_.size == 1),
          s"a key holds two values after $batch of $batches: $held")
      } finally q.stop()
      val got = consolidated(spark.table(name).as[(String, Int, Long)].collect().toSeq)
      assert(got == lastValues(rows), s"batches $batches")
    }
  }
}

object UpsertEnvelopePropertySpec {
  /** `(key, value or tombstone, offset)`. */
  type Row = (String, Option[Int], Long)

  /** One to 12 rows over keys a–d, a quarter of them tombstones, with
    * offsets unique across the rows. */
  val rowsGen: Gen[Seq[Row]] = for {
    n <- Gen.choose(1, 12)
    keys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    values <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(Option.empty[Int]),
      3 -> Gen.choose(0, 3).map(Option(_))))
    offsets <- Gen.pick(n, 0L until 40L)
  } yield keys.lazyZip(values).lazyZip(offsets.toSeq).toSeq

  /** The envelope's meaning: per key, the row at its highest offset, unless
    * that row is a tombstone. */
  def lastValues(rows: Seq[Row]): Map[(String, Int), Long] =
    rows.groupBy(_._1).values.map(_.maxBy(_._3)).collect {
      case (k, Some(v), _) => (k, v) -> 1L
    }.toMap

  /** Emitted `(key, value, diff)` rows summed per `(key, value)`, zeros left
    * out. */
  def consolidated(emitted: Seq[(String, Int, Long)]): Map[(String, Int), Long] =
    emitted.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _).filter(_._2 != 0L)
}
