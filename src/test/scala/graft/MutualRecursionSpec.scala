package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Recursion
import graft.plans.Recursion.LetRecLimit

class MutualRecursionSpec extends SparkSpec {
  import spark.implicits._

  private def evens0 = Seq(0L).toDF("n")
  private def odds0 = spark.emptyDataFrame.select(lit(0L).as("n")).limit(0)

  /** Jacobi evens/odds up to 20 under set semantics. */
  private val evenOdd: Seq[DataFrame] => Seq[DataFrame] = { case Seq(e, o) =>
    Seq(
      Seq(0L).toDF("n").unionByName(o.select((col("n") + 1).as("n"))).filter(col("n") <= 20),
      e.select((col("n") + 1).as("n")).filter(col("n") <= 20))
      .map(_.distinct().localCheckpoint(false))
  }

  private def sorted(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  /** `letRec` one round per call, so every round's result is checked:
    * the reference the batched loop must agree with. */
  private def roundByRound(
      inits: Seq[DataFrame],
      round: Seq[DataFrame] => Seq[DataFrame],
      limits: Seq[Option[LetRecLimit]]): Seq[DataFrame] = {
    var cur = inits
    var r = 0
    var converged = false
    while (!converged) {
      val (next, c) = Recursion.letRec(cur, round,
        limits.map(_.map(l => LetRecLimit(l.maxIters - r))), maxIter = 1)
      cur = next
      converged = c
      r += 1
    }
    cur
  }

  test("mutually recursive evens/odds reach the joint fixpoint") {
    val (Seq(evens, odds), converged) = Recursion.letRec(Seq(evens0, odds0), evenOdd)
    assert(converged)
    assert(sorted(evens) == (0L to 20L by 2))
    assert(sorted(odds) == (1L to 20L by 2))
  }

  test("per-binding LetRecLimit freezes one binding while the other continues") {
    val (Seq(evens, odds), _) = Recursion.letRec(Seq(evens0, odds0), evenOdd,
      limits = Seq(Some(LetRecLimit(4)), None))
    // evens froze after 4 rounds: {0} ∪ odds≤3 + 1 = {0, 2, 4} at most
    val e = sorted(evens)
    assert(e.max <= 4 && e.contains(0L))
    // odds kept iterating but can only chase the frozen evens one step ahead
    val o = sorted(odds)
    assert(o.max <= e.max + 1)
  }

  test("batched rounds reach the same fixpoint as round by round") {
    val Seq(evens, odds) = roundByRound(Seq(evens0, odds0), evenOdd, Seq(None, None))
    val (Seq(be, bo), _) = Recursion.letRec(Seq(evens0, odds0), evenOdd)
    assert(sorted(be) == sorted(evens))
    assert(sorted(bo) == sorted(odds))
  }

  test("per-binding limits give the same result batched as round by round") {
    val limits = Seq(Some(LetRecLimit(4)), None)
    val Seq(evens, odds) = roundByRound(Seq(evens0, odds0), evenOdd, limits)
    val (Seq(be, bo), converged) =
      Recursion.letRec(Seq(evens0, odds0), evenOdd, limits = limits)
    assert(converged)
    assert(sorted(evens) == Seq(0L, 2L, 4L) && sorted(odds) == Seq(1L, 3L, 5L))
    assert(sorted(be) == sorted(evens))
    assert(sorted(bo) == sorted(odds))
  }
}
