package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max, min}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec

/** The reduction law for every streaming reducer: the changelog the keyed
  * operator emits, summed over the batches so far, equals the reducer's
  * meaning over the rows so far. Checked on [[KeyedReduce.step]] against a
  * plain-Scala multiset model, and on one streaming run per reducer against
  * its Spark batch form. Values come from {0, …, 4}, so rows repeat and the
  * accumulable sums stay exact; the seed is fixed, so a failure reproduces. */
class KeyedReducePropertySpec extends SparkSpec {
  import KeyedReducePropertySpec._
  import spark.implicits._

  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withWorkers(1).withInitialSeed(20261020L)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(1)))
  }

  for (law <- laws)
    test(s"${law.name}: the summed emitted changelog equals the meaning after every batch") {
      check(300)(law.prop)
    }

  /** Rows of two keys, `a` and `b`, for three generated batches, each key's
    * retractions resolved against its own rows so far. */
  private def generated(law: Law[_, _]): Seq[Seq[In]] = {
    val perKey = Seq("a" -> 1L, "b" -> 2L).map { case (key, seed) =>
      val intents = Gen.listOfN(3, law.batch).pureApply(Gen.Parameters.default, Seed(seed))
      intents.scanLeft((Map.empty[Double, Long], Seq.empty[(Double, Long)])) {
        case ((model, _), b) => val rows = resolve(model, b); (plus(model, rows), rows)
      }.tail.map(_._2.map { case (v, d) => (key, v, d) })
    }
    perKey.transpose.map(_.flatten).filter(_.nonEmpty)
  }

  /** Feed `batches` to `stream` and, after every batch, compare its summed
    * emitted rows `(row..., diff)` with `batchForm` over the rows so far. */
  private def streamingRun(query: String, batches: Seq[Seq[In]])(
      stream: Dataset[In] => Dataset[_])(batchForm: DataFrame => DataFrame): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[In]
    val q = stream(input.toDS()).writeStream.format("memory").queryName(query)
      .outputMode("append").start()
    try batches.indices.foreach { i =>
      input.addData(batches(i): _*)
      q.processAllAvailable()
      val rows = batches.take(i + 1).flatten
      val got = plus(Map.empty[Seq[Any], Long],
        spark.table(query).collect().toSeq.map(r => (r.toSeq.init, r.getLong(r.size - 1))))
      val want = plus(Map.empty[Seq[Any], Long],
        batchForm(rows.toDF("k", "v", Changelog.DiffCol)).collect().toSeq.map(r => (r.toSeq, 1L)))
      assert(got == want, s"after batch $i of $batches: stream $got, batch form $want")
    } finally q.stop()
  }

  private def extremaBatch(chg: DataFrame): DataFrame =
    Changelog.threshold(chg).groupBy("k").agg(min("v"), max("v"))

  private def topBatch(chg: DataFrame): DataFrame =
    BasicTopK.maintainBatch(chg, Seq("k"), Seq(col("v").desc), K)

  test("accumulableChangelogStream equals accumulable after every batch") {
    // a retraction ahead of its insertion: the pair cancels, b alone remains
    val probe = Seq(Seq(("a", 5.0, -1L)), Seq(("a", 5.0, 1L)), Seq(("b", 2.0, 1L)))
    streamingRun("kr_sums", probe ++ generated(laws(0)))(
      IncrementalReduce.accumulableChangelogStream(_))(
      IncrementalReduce.accumulable(_, Seq("k"), "v").select("k", "support", "sum_val"))
  }

  test("minMaxChangelogStream equals threshold + groupBy min/max after every batch") {
    streamingRun("kr_extrema", generated(laws(1)))(
      HierarchicalMinMax.minMaxChangelogStream(_))(extremaBatch)
  }

  test("BasicTopK.topKChangelogStream equals maintainBatch after every batch") {
    streamingRun("kr_top", generated(laws(2)))(BasicTopK.topKChangelogStream(_, K))(topBatch)
  }

  test("monotonicMinMaxStream equals threshold + groupBy min/max after every batch") {
    streamingRun("kr_mono_extrema", generated(laws(3)))(
      HierarchicalMinMax.monotonicMinMaxStream(_))(extremaBatch)
  }

  test("MonotonicTopK.topKChangelogStream equals maintainBatch after every batch") {
    // a row of multiplicity 2 takes two of the k slots
    val probe = Seq(Seq(("k", 5.0, 2L), ("k", 1.0, 1L)))
    streamingRun("kr_mono_top", probe ++ generated(laws(4)))(
      MonotonicTopK.topKChangelogStream(_, K))(topBatch)
  }
}

object KeyedReducePropertySpec {
  type In = (String, Double, Long)
  /** A consolidated multiset of one key's values: value -> multiplicity
    * (never 0). */
  type Multiset = Map[Double, Long]

  val K = 2

  def plus[A](m: Map[A, Long], rows: Seq[(A, Long)]): Map[A, Long] =
    rows.foldLeft(m) { case (acc, (a, d)) =>
      val n = acc.getOrElse(a, 0L) + d
      if (n == 0L) acc - a else acc.updated(a, n)
    }

  /** One key's batch: insert `ins`, then retract `d` copies (at most all)
    * of the live value at position `pos` (mod the live values), for each
    * `(pos, d)` in `retract`. A `cancel` batch inserts `ins` and retracts
    * it again, so its rows sum to nothing. */
  final case class Intent(ins: List[(Double, Long)], retract: List[(Int, Long)], cancel: Boolean)

  def resolve(model: Multiset, b: Intent): Seq[(Double, Long)] =
    if (b.cancel) b.ins ++ b.ins.map { case (v, d) => (v, -d) }
    else {
      var ms = plus(model, b.ins)
      b.ins ++ b.retract.flatMap { case (pos, d) =>
        val live = ms.toSeq.filter(_._2 > 0L).sortBy(_._1)
        if (live.isEmpty) Nil
        else {
          val (v, n) = live(pos % live.size)
          val row = v -> -math.min(d, n)
          ms = plus(ms, Seq(row))
          Seq(row)
        }
      }
    }

  private val values = Gen.choose(0, 4).map(_.toDouble)

  private def intent(diffs: Gen[Long], retracts: Boolean, cancels: Boolean): Gen[Intent] = for {
    ins <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(values, diffs)))
    retract <-
      if (retracts) Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0, 9), Gen.oneOf(1L, 2L))))
      else Gen.const(Nil)
    cancel <- if (cancels) Gen.frequency(1 -> true, 3 -> false) else Gen.const(false)
  } yield Intent(ins, retract, cancel)

  /** Arbitrary diffs: the key's multiplicities may go negative. */
  val anyDiffs: Gen[Intent] = intent(Gen.oneOf(-2L, -1L, 1L, 2L), retracts = false, cancels = true)
  /** Retractions of live rows only: multiplicities stay ≥ 0. */
  val nonNegative: Gen[Intent] = intent(Gen.oneOf(1L, 2L), retracts = true, cancels = true)
  /** Insertions only, of multiplicity 1 or 2. */
  val appendOnly: Gen[Intent] = intent(Gen.oneOf(1L, 2L), retracts = false, cancels = false)

  def sumsOf(ms: Multiset): Map[(Long, Double), Long] = {
    val support = ms.values.sum
    if (support > 0L) Map((support, ms.map { case (v, n) => v * n }.sum) -> 1L) else Map.empty
  }

  def extremaOf(ms: Multiset): Map[(Double, Double), Long] =
    if (ms.isEmpty) Map.empty else Map((ms.keys.min, ms.keys.max) -> 1L)

  def topOf(ms: Multiset): Map[Double, Long] =
    plus(Map.empty[Double, Long],
      ms.toSeq.sortBy(-_._1).flatMap { case (v, n) => Seq.fill(n.toInt)(v) }.take(K).map(_ -> 1L))

  /** `reducer` under batch sequences of `batch`, against `meaning` over the
    * model of the rows so far. */
  final case class Law[S, O](name: String, reducer: Reducer[S, Double, O], batch: Gen[Intent],
      meaning: Multiset => Map[O, Long]) {

    def prop: Prop = forAllNoShrink(Gen.choose(1, 6).flatMap(Gen.listOfN(_, batch))) { bs =>
      var state = reducer.empty
      var model: Multiset = Map.empty
      var net = Map.empty[O, Long]
      val wrong = bs.zipWithIndex.flatMap { case (b, i) =>
        val rows = resolve(model, b)
        val before = meaning(model)
        val (next, out) = KeyedReduce.step(reducer, state, rows.iterator)
        val (retractions, insertions) = out.span(_._2 < 0L)
        val ordered = inOrder(retractions.map(_._1), reducer.view(state).map(_._1)) &&
          inOrder(insertions.map(_._1), reducer.view(next).map(_._1))
        state = next
        model = plus(model, rows)
        net = plus(net, out)
        val after = meaning(model)
        Seq(
          s"summed changelog $net, meaning $after" -> (net != after),
          s"emitted $out, the meaning stayed $after" -> (before == after && out.nonEmpty),
          s"emitted $out: not retractions in view(old) order, then insertions in " +
            "view(new) order, each value once" ->
            !(ordered && insertions.forall(_._2 > 0L) && out.map(_._1).distinct.size == out.size)
        ).collect { case (msg, true) => s"batch $i $rows: $msg" }
      }
      wrong.isEmpty :| s"$name, batches $bs: ${wrong.mkString("; ")}"
    }
  }

  /** `xs` appear in `order`, in that order. */
  private def inOrder[A](xs: Seq[A], order: Seq[A]): Boolean = {
    val at = xs.map(order.indexOf(_))
    at.forall(_ >= 0) && at == at.sorted
  }

  val laws: Seq[Law[_, _]] = Seq(
    Law("IncrementalReduce.sums", IncrementalReduce.sums, anyDiffs, sumsOf),
    Law("HierarchicalMinMax.extrema", HierarchicalMinMax.extrema, nonNegative, extremaOf),
    Law("BasicTopK.top", BasicTopK.top(K), nonNegative, topOf),
    Law("HierarchicalMinMax.monotonicExtrema", HierarchicalMinMax.monotonicExtrema, appendOnly,
      extremaOf),
    Law("MonotonicTopK.topList", MonotonicTopK.topList(K), appendOnly, topOf))
}
