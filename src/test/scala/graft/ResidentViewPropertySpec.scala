package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.util.Pretty

import graft.streaming.Changelog
import graft.views.ViewCatalog

/** Resident versions equal persist. Random sequences of incremental and
  * full refreshes, known-delta commits, compactions, vacuums, drops and
  * re-creates run against a live catalog; after every step each version of
  * the touched view is read from the live catalog, which serves its recent
  * versions from driver memory, and from a catalog newly opened over the
  * same directory, which has nothing resident and reads persist. The two
  * must be equal multisets, float bits included (-0.0 is not 0.0), or both
  * fail. Rows carry doubles with -0.0 and NaN and repeat, and retractions
  * name -0.0 for a stored 0.0.
  *
  * About 39 s of test time (35.3 s and 4.1 s) on a 4-core host at load
  * about 1, in a run where it started the Spark session (about 13 s of
  * the first test); 41.6 s (37.0 s and 4.6 s) in the same run shape
  * before a reopened catalog knew each view's schema, when each parquet
  * dir a read touched cost a schema-inference job. Most of the time is
  * the persist side's merge-on-read jobs, since a step reads every
  * version; samples are few for that reason. The racing-reader test adds
  * compaction commits. */
class ResidentViewPropertySpec extends SparkSpec {
  import ResidentViewPropertySpec._
  import spark.implicits._

  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withWorkers(1).withInitialSeed(20261019L)
      .withMinSize(4).withMaxSize(8)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(1)))
  }

  private val xs = Gen.oneOf(0.0, -0.0, Double.NaN, 1.5, -2.25)
  private val bagRows = Gen.listOf(Gen.zip(Gen.choose(0L, 3L), xs)).map(_.take(6))
  private val picks = Gen.listOf(Gen.choose(0, 20)).map(_.take(3))

  private val steps: Gen[Step] = Gen.frequency(
    4 -> Gen.zip(bagRows, picks).map { case (i, r) => KnownBag(i, r) },
    4 -> Gen.zip(Gen.listOf(Gen.zip(xs, Gen.choose(1L, 9L))).map(_.take(4)), picks)
      .map { case (i, r) => IncAcc(i, r) },
    2 -> bagRows.map(FullBag(_)),
    1 -> Gen.const(FullAcc),
    1 -> Gen.oneOf("bag", "acc").map(Vacuum(_)),
    1 -> Gen.oneOf("bag", "acc").map(Recreate(_)))

  /** One sample: both views, their sources and the catalog under test. */
  private final class Run(dir: String) {
    val cat = new ViewCatalog(spark, dir)
    var bagSrc: Seq[(Long, Double)] = Seq((0L, 0.0), (0L, 0.0), (1L, Double.NaN), (2L, 1.5))
    var accSrc: Seq[(Double, Long)] = Seq((0.0, 1L), (-0.0, 2L), (Double.NaN, 3L), (1.5, 4L))

    private def bagDef: DataFrame = bagSrc.toDF("k", "x")
    private def accDef: DataFrame =
      Changelog.fromRows(accSrc.toDF("g", "v")).groupBy(col("g"))
        .agg(sum(col(Changelog.DiffCol)).as("support"),
          sum(col("v") * col(Changelog.DiffCol)).as("sum_v"))

    def create(view: String): Unit =
      if (view == "bag") cat.createMaterializedView("bag", _ => bagDef)
      else cat.createMaterializedView("acc", _ => accDef)

    /** Apply `s`; returns the view it touched. */
    def apply(s: Step): String = s match {
      case KnownBag(ins, retract) =>
        val (gone, kept) = split(bagSrc, retract)
        bagSrc = kept ++ ins
        // a retraction names the zero with the other sign: equal under SQL
        // equality, different bytes
        val named = gone.map { case (k, x) => (k, if (x == 0.0) -x else x) }
        cat.commitState("bag", bagDef, Some(Changelog.unionAll(
          Changelog.fromRows(ins.toDF("k", "x")),
          Changelog.negate(Changelog.fromRows(named.toDF("k", "x"))))))
        "bag"
      case IncAcc(ins, retract) =>
        val (gone, kept) = split(accSrc, retract)
        accSrc = kept ++ ins
        cat.refreshIncrementalAccumulable("acc", Changelog.unionAll(
          Changelog.fromRows(ins.toDF("g", "v")),
          Changelog.negate(Changelog.fromRows(gone.toDF("g", "v")))),
          Seq("g"), Map("sum_v" -> "v"))
        "acc"
      case FullBag(rows) =>
        bagSrc = rows
        cat.refreshFull("bag")
        "bag"
      case FullAcc =>
        cat.refreshFull("acc")
        "acc"
      case Vacuum(v) =>
        cat.vacuum(v)
        v
      case Recreate(v) =>
        cat.dropView(v)
        create(v)
        v
    }
  }

  /** Versions 0…cur of `view` as multisets, or the failure of the read;
    * the readable ones are collected in one union, one Spark action. */
  private def everyVersion(cat: ViewCatalog, view: String,
      cur: Long): Map[Long, Try[Map[Seq[Any], Int]]] = {
    val reads = (0L to cur).map(v => v -> Try(cat.tableAt(view, v)))
    residentReads += reads.count(_._2.toOption.exists(_.inputFiles.isEmpty))
    val tagged = reads.collect { case (v, util.Success(df)) => df.withColumn("__v", lit(v)) }
    val rows = if (tagged.isEmpty) Map.empty[Long, Seq[Row]]
      else tagged.reduce(_.unionByName(_)).collect().toSeq
        .groupBy(r => r.getLong(r.length - 1)).map { case (v, rs) =>
          v -> rs.map(r => Row.fromSeq(r.toSeq.init)) }
    reads.map { case (v, t) =>
      v -> t.map(_ => multiset(rows.getOrElse(v, Nil)))
    }.toMap
  }

  // reads the live catalog served from memory (a plan without input files)
  private var residentReads = 0

  test("every version reads the same from memory as from persist") {
    residentReads = 0
    check(2)(forAllNoShrink(Gen.listOfN(7, steps)) { script =>
      val dir = tempDir("graft-resident-prop").toString
      val run = new Run(dir)
      run.create("bag")
      run.create("acc")
      val bad = script.iterator.map { s =>
        val view = run(s)
        val cur = run.cat.currentVersion(view).get
        val live = everyVersion(run.cat, view, cur)
        val stored = everyVersion(new ViewCatalog(spark, dir), view, cur)
        (0L to cur).flatMap { v =>
          val same = (live(v).isFailure && stored(v).isFailure) ||
            live(v).toOption == stored(v).toOption
          if (same) None else Some(s"after $s, $view@$v: memory ${live(v)}, persist ${stored(v)}")
        }
      }.find(_.nonEmpty)
      bad.isEmpty :| s"script $script: ${bad.getOrElse(Nil).mkString("; ")}"
    })
    assert(residentReads > 0, "no read was served from memory")
  }

  test("a reader racing commits only sees versions persist also serves") {
    val dir = tempDir("graft-resident-race").toString
    val cat = new ViewCatalog(spark, dir)
    var rows: Seq[(Long, Double)] = (0L until 20L).map(k => (k % 5, (k % 3).toDouble))
    cat.commitState("live", rows.toDF("k", "x"))
    val seen = new ConcurrentLinkedQueue[(Long, Map[Seq[Any], Int])]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() =>
      while (!stop) {
        try cat.currentVersion("live").foreach(v => seen.add(v -> multiset(cat.tableAt("live", v))))
        catch { case e: Throwable => failures.add(e); stop = true }
      })
    reader.start()
    try (1 to 6).foreach { i =>
      val ins = Seq((100L + i, -0.0), (i % 5L, i * 0.5))
      val gone = rows.take(2)
      rows = rows.drop(2) ++ ins
      cat.commitState("live", rows.toDF("k", "x"), Some(Changelog.unionAll(
        Changelog.fromRows(ins.toDF("k", "x")),
        Changelog.negate(Changelog.fromRows(gone.toDF("k", "x"))))))
    } finally {
      stop = true
      reader.join()
    }
    assert(failures.isEmpty, s"reader failed: ${failures.asScala.headOption}")
    assert(cat.table("live").inputFiles.isEmpty, "the view was evicted")
    val persist = new ViewCatalog(spark, dir)
    val byVersion = seen.asScala.toSeq.distinct.groupBy(_._1)
    assert(byVersion.size > 1, s"the reader saw only versions ${byVersion.keys}")
    byVersion.foreach { case (v, reads) =>
      val want = multiset(persist.tableAt("live", v))
      reads.foreach { case (_, got) => assert(got == want, s"version $v: $got vs persist $want") }
    }
  }
}

object ResidentViewPropertySpec {
  sealed trait Step
  /** Insert rows into the bag and retract the picked ones, delta known. */
  final case class KnownBag(ins: List[(Long, Double)], retract: List[Int]) extends Step
  /** Incremental refresh of the accumulable view by a source changelog. */
  final case class IncAcc(ins: List[(Double, Long)], retract: List[Int]) extends Step
  /** Replace the bag's source and refresh it fully (the generic diff). */
  final case class FullBag(rows: List[(Long, Double)]) extends Step
  case object FullAcc extends Step
  final case class Vacuum(view: String) extends Step
  /** Drop the view and create it again: a new incarnation at version 0. */
  final case class Recreate(view: String) extends Step

  /** `xs` split into the elements at the positions `idx` names (modulo
    * its size) and the rest — by position, since NaN equals nothing. */
  private def split[A](xs: Seq[A], idx: Seq[Int]): (Seq[A], Seq[A]) = {
    val at = if (xs.isEmpty) Set.empty[Int] else idx.map(_ % xs.size).toSet
    val (gone, kept) = xs.zipWithIndex.partition { case (_, i) => at(i) }
    (gone.map(_._1), kept.map(_._1))
  }

  /** Rows as a multiset, doubles compared by their bits: -0.0 and 0.0
    * differ, as do NaNs of different payloads. */
  def multiset(df: DataFrame): Map[Seq[Any], Int] = multiset(df.collect().toSeq)

  def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(canonical).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def canonical(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("double bits", java.lang.Double.doubleToRawLongBits(d))
    case v => v
  }
}
