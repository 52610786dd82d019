package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.util.Pretty

import graft.streaming.{Changelog, IncrementalJoin}
import graft.views.{MaintainedJoin, ViewCatalog}

/** The join delta rule on generated Z-sets, for chains of 2 and 3 inputs.
  * Every property compares the engine against a plain-Scala model of the
  * join of the updated inputs. Values come from {0, 1, 2}, so keys match
  * often and rows repeat; deltas retract as well as insert. Samples are few
  * (each runs Spark jobs) and the seed is fixed, so a failure reproduces. */
class JoinDeltaPropertySpec extends SparkSpec {
  import JoinDeltaPropertySpec._

  private val shapes = Seq(
    Shape(Seq(Seq("k", "a"), Seq("k", "b")), Seq(Seq("k"))),
    Shape(Seq(Seq("k", "a"), Seq("k", "j", "b"), Seq("j", "c")), Seq(Seq("k"), Seq("j"))))

  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withWorkers(1).withInitialSeed(20261019L)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(1)))
  }

  /** Up to six `(row, diff)` entries; a row may appear more than once. */
  private def entries(width: Int, diffs: Gen[Long]): Gen[Entries] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.zip(Gen.listOfN(width, Gen.choose(0, 2)), diffs)))

  private def inputs(shape: Shape, diffs: Gen[Long]): Gen[Seq[Entries]] =
    Gen.sequence[Seq[Entries], Entries](shape.cols.map(c => entries(c.size, diffs)))

  private def changelog(cols: Seq[String], es: Entries): DataFrame =
    spark.createDataFrame(es.map { case (r, d) => Row.fromSeq(r :+ d) }.asJava,
      StructType(cols.map(StructField(_, IntegerType)) :+
        StructField(Changelog.DiffCol, LongType)))

  private def zsetOf(shape: Shape, df: DataFrame): ZSet =
    zset(df.select((shape.outCols :+ Changelog.DiffCol).map(df.col): _*).collect()
      .map(r => (shape.outCols.indices.map(r.getInt), r.getLong(shape.outCols.size))).toSeq)

  for (shape <- shapes) {
    val n = shape.cols.size
    test(s"consolidate(joinChain(S) + deltaN(S, D)) = joinChain(S + D), n = $n") {
      val cases = Gen.zip(inputs(shape, Gen.oneOf(1L, 2L)), inputs(shape, Gen.oneOf(-2L, -1L, 1L, 2L)))
      check(5)(forAllNoShrink(cases) { case (s, d) =>
        val states = shape.cols.zip(s).map { case (c, es) => changelog(c, es) }
        val deltas = shape.cols.zip(d).map { case (c, es) => changelog(c, es) }
        val updated = states.zip(deltas).map { case (x, y) => Changelog.unionAll(x, y) }
        val maintained = zsetOf(shape, Changelog.consolidate(Changelog.unionAll(
          IncrementalJoin.joinChain(states, shape.stepKeys),
          IncrementalJoin.deltaN(states, deltas, shape.stepKeys))))
        val recomputed = zsetOf(shape, IncrementalJoin.joinChain(updated, shape.stepKeys))
        val want = shape.join(s.zip(d).map { case (x, y) => zset(x ++ y) })
        (maintained == want && recomputed == want) :|
          s"S=$s D=$d: maintained $maintained, joinChain(S + D) $recomputed, model $want"
      })
    }
  }

  private def batches(shape: Shape): Gen[List[Batch]] = Gen.listOfN(3, for {
    retract <- Gen.listOfN(shape.cols.size, Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 99))))
    ins <- Gen.sequence[Seq[List[List[Int]]], List[List[Int]]](shape.cols.map(c =>
      Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.listOfN(c.size, Gen.choose(0, 2))))))
  } yield Batch(retract, ins))

  for (shape <- shapes) {
    val n = shape.cols.size
    test(s"MaintainedJoin equals a recompute at every version and AS OF timestamp, n = $n") {
      val cases = Gen.zip(inputs(shape, Gen.const(1L)), batches(shape))
      // one sample per shape: each runs about 20 Spark actions, and the
      // rule itself is covered by the law above
      check(1)(forAllNoShrink(cases) { case (init, bs) =>
        val cat = new ViewCatalog(spark, tempDir("graft-mjprop").toString)
        val name = s"p$n"
        val mj =
          if (n == 2) new MaintainedJoin(cat, name, shape.stepKeys.head)
          else MaintainedJoin.chain(cat, name, shape.stepKeys)
        mj.initialize(shape.cols.zip(init).map { case (c, es) =>
          changelog(c, es).drop(Changelog.DiffCol)
        })
        var model = init.map(zset)
        val history = scala.collection.mutable.ArrayBuffer(mj.currentSeq.get -> model)
        bs.zipWithIndex.foreach { case (b, id) =>
          val deltas = model.indices.map { i =>
            val rows = model(i).toSeq.sortBy(_._1.mkString(","))
              .flatMap { case (r, m) => Seq.fill(m.toInt)(r) }
            val gone = if (rows.isEmpty) Nil else b.retract(i).map(_ % rows.size).distinct.map(rows)
            gone.map(_ -> -1L) ++ b.ins(i).map(_ -> 1L)
          }
          assert(mj.applyBatch(shape.cols.zip(deltas).map { case (c, es) => changelog(c, es) },
            id.toLong))
          model = model.zip(deltas).map { case (m, d) => zset(m.toSeq ++ d) }
          history += mj.currentSeq.get -> model
        }
        // a replayed batch is a no-op; every commit is a new output version,
        // so the AS OF reads below visit every version
        val replayed = mj.applyBatch(shape.cols.map(c => changelog(c, Nil)), bs.size - 1L)
        val versions = mj.outputVersion
        val wrong = history.flatMap { case (seq, m) =>
          (s"out AS OF $seq" -> (zsetOf(shape, mj.outputAsOf(seq)), shape.join(m))) +:
            m.indices.map { i =>
              val cols = shape.cols(i)
              val got = zset(mj.inputAsOf(seq, i).collect()
                .map(r => (cols.indices.map(r.getInt), r.getLong(cols.size))).toSeq)
              s"in$i AS OF $seq" -> (got, m(i))
            }
        }.filter { case (_, (got, want)) => got != want }
        (!replayed && versions.contains(bs.size.toLong) && wrong.isEmpty) :|
          s"init=$init batches=$bs: replay applied=$replayed, " +
            s"versions=$versions, wrong: $wrong"
      })
    }
  }
}

object JoinDeltaPropertySpec {
  type Entries = Seq[(Seq[Int], Long)]
  /** A consolidated Z-set: row -> multiplicity (never 0). */
  type ZSet = Map[Seq[Int], Long]

  /** One batch per input: retract the current rows at positions `retract`
    * (of the state expanded to one row per unit of multiplicity), then
    * insert `ins`. */
  final case class Batch(retract: Seq[List[Int]], ins: Seq[List[List[Int]]])

  def zset(es: Entries): ZSet =
    es.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0L)

  /** A join chain: input `j+1` has columns `cols(j+1)` and joins the prefix
    * on `stepKeys(j)`. */
  final case class Shape(cols: Seq[Seq[String]], stepKeys: Seq[Seq[String]]) {
    val outCols: Seq[String] = cols.flatten.distinct

    /** The model: nested loops over the consolidated inputs, multiplicities
      * multiplied, rows in `outCols` order. */
    def join(parts: Seq[ZSet]): ZSet = {
      def named(i: Int) = parts(i).toSeq.map { case (r, d) => (cols(i).zip(r).toMap, d) }
      val joined = stepKeys.zipWithIndex.foldLeft(named(0)) { case (acc, (keys, j)) =>
        for ((l, dl) <- acc; (r, dr) <- named(j + 1) if keys.forall(k => l(k) == r(k)))
          yield (l ++ r, dl * dr)
      }
      zset(joined.map { case (row, d) => (outCols.map(row), d) })
    }
  }
}
