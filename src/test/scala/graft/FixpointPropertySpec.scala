package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.util.Pretty

import graft.plans.Recursion
import graft.plans.Recursion.LetRecLimit

/** Fixpoint laws on random graphs of up to 30 nodes. Every property
  * compares an engine loop against a plain-Scala model — BFS, or the same
  * rounds iterated one at a time over Scala multisets — never against
  * another engine path. Samples are few (each runs Spark jobs) and the
  * seed is fixed, so a failure reproduces. */
class FixpointPropertySpec extends SparkSpec {
  import FixpointPropertySpec._
  import spark.implicits._

  private def edgesOf(g: Graph): DataFrame = g.edges.toDF("u", "v")

  private val graphs: Gen[Graph] = for {
    n <- Gen.choose(1, 30)
    m <- Gen.choose(0, 2 * n)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    start <- Gen.choose(0L, n - 1L)
  } yield Graph(n, edges, start)

  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withWorkers(1).withInitialSeed(20241018L)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(1)))
  }

  private def bag(xs: Iterable[Long]): Bag = xs.groupBy(identity).map { case (k, v) => k -> v.size }
  private def bag(df: DataFrame): Bag = bag(df.as[Long].collect())

  test("fixpoint equals BFS transitive closure") {
    check(8)(forAllNoShrink(graphs) { g =>
      val edges = edgesOf(g)
      val got = Recursion.fixpoint(Seq(g.start).toDF("n"),
        f => f.join(edges, col("n") === col("u")).select(col("v").as("n")))
        .as[Long].collect().toSet
      (got == g.bfs) :| s"$g: engine $got, BFS ${g.bfs}"
    })
  }

  // Two bindings over a graph: `a` is a set (start ∪ succ(a) ∪ b), `b` a
  // multiset (one row per edge leaving `a`). Jacobi rounds read only the
  // previous round; sequential rounds let `b` read this round's `a`.
  private def roundsOf(g: Graph, sequential: Boolean): Seq[DataFrame] => Seq[DataFrame] = {
    val edges = edgesOf(g)
    def succ(x: DataFrame) = x.join(edges, col("n") === col("u")).select(col("v").as("n"))
    cur => {
      val Seq(a0, b0) = cur
      val a1 = Seq(g.start).toDF("n").union(succ(a0)).union(b0).distinct()
        .localCheckpoint(false)
      Seq(a1, succ(if (sequential) a1 else a0).localCheckpoint(false))
    }
  }

  private def modelRoundsOf(g: Graph, sequential: Boolean): Seq[Bag] => Seq[Bag] = {
    def succ(x: Bag) = bag(x.toSeq.flatMap { case (k, c) => Seq.fill(c)(g.succ(Seq(k))).flatten })
    cur => {
      val Seq(a0, b0) = cur
      val a1 = bag(((g.start +: g.succ(a0.keys)) ++ b0.keys).distinct)
      Seq(a1, succ(if (sequential) a1 else a0))
    }
  }

  /** letRec's contract, one round at a time: binding j takes round i's
    * value while i <= limits(j); stop when a round changes nothing or
    * after maxIter rounds. */
  private def modelLetRec(inits: Seq[Bag], round: Seq[Bag] => Seq[Bag],
      limits: Seq[Option[Int]], maxIter: Int): (Seq[Bag], Boolean) = {
    var cur = inits
    var i = 0
    while (i < maxIter) {
      i += 1
      val next = round(cur).zipWithIndex.map { case (x, j) =>
        if (limits(j).exists(_ < i)) cur(j) else x
      }
      if (next == cur) return (cur, true)
      cur = next
    }
    (cur, false)
  }

  private val letRecCases = for {
    g <- graphs
    limits <- Gen.listOfN(2, Gen.option(Gen.choose(0, 6)))
    maxIter <- Gen.choose(1, 20)
  } yield (g, limits, maxIter)

  for (sequential <- Seq(false, true)) {
    val kind = if (sequential) "sequential" else "Jacobi"
    test(s"letRec equals round-by-round Scala iteration ($kind rounds, limits, maxIter)") {
      check(6)(forAllNoShrink(letRecCases) { case (g, limits, maxIter) =>
        val (got, converged) = Recursion.letRec(
          Seq(Seq(g.start).toDF("n"), Seq.empty[Long].toDF("n")),
          roundsOf(g, sequential), limits.map(_.map(LetRecLimit)), maxIter)
        val (want, wantConverged) = modelLetRec(Seq(bag(Seq(g.start)), Map.empty),
          modelRoundsOf(g, sequential), limits, maxIter)
        val gotBags = got.map(bag)
        (gotBags == want && converged == wantConverged) :|
          s"$g limits=$limits maxIter=$maxIter: engine ($gotBags, $converged), " +
            s"model ($want, $wantConverged)"
      })
    }
  }

  private def withEdges[T](g: Graph)(f: => T): T = {
    edgesOf(g).createOrReplaceTempView("prop_edges")
    try f finally spark.catalog.dropTempView("prop_edges")
  }

  test("SQL WMR reachability equals BFS") {
    check(5)(forAllNoShrink(graphs) { g =>
      val got = withEdges(g)(spark.sql(
        s"""WITH MUTUALLY RECURSIVE
           |  reach (node bigint) AS (
           |    SELECT CAST(${g.start} AS BIGINT)
           |    UNION
           |    SELECT e.v FROM reach r JOIN prop_edges e ON r.node = e.u
           |  )
           |SELECT node FROM reach""".stripMargin).as[Long].collect().toSet)
      (got == g.bfs) :| s"$g: engine $got, BFS ${g.bfs}"
    })
  }

  test("SQL RETURN AT RECURSION LIMIT n equals n Scala rounds (sequential bindings)") {
    val cases = for { g <- graphs; n <- Gen.choose(1, 12) } yield (g, n)
    check(5)(forAllNoShrink(cases) { case (g, n) =>
      // b reads this round's a: the reference's sequential-update rule
      val got = withEdges(g)(bag(spark.sql(
        s"""WITH MUTUALLY RECURSIVE (RETURN AT RECURSION LIMIT $n)
           |  a (node bigint) AS (
           |    SELECT CAST(${g.start} AS BIGINT)
           |    UNION
           |    SELECT e.v FROM b JOIN prop_edges e ON b.node = e.u
           |  ),
           |  b (node bigint) AS (SELECT node FROM a)
           |SELECT node FROM a UNION ALL SELECT node FROM b""".stripMargin)))
      var a: Set[Long] = Set.empty
      var b: Set[Long] = Set.empty
      (1 to n).foreach { _ =>
        a = (g.succ(b) :+ g.start).toSet
        b = a
      }
      val want = bag(a.toSeq ++ b.toSeq)
      (got == want) :| s"$g n=$n: engine $got, model $want"
    })
  }
}

object FixpointPropertySpec {
  /** A multiset of node ids: id -> multiplicity (never 0). */
  type Bag = Map[Long, Int]

  final case class Graph(nodes: Int, edges: Seq[(Long, Long)], start: Long) {
    def succ(xs: Iterable[Long]): Seq[Long] =
      xs.toSeq.flatMap(x => edges.collect { case (u, v) if u == x => v })
    def bfs: Set[Long] = {
      var seen = Set(start)
      var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = succ(frontier).toSet -- seen
        seen ++= frontier
      }
      seen
    }
  }
}
