package graft.views

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

import graft.streaming.Changelog

/** One version of a snapshot-valued view held in driver memory: the Z-set
  * `row -> multiplicity` — the in-memory arrangement the reference serves
  * fast-path peeks from (`FastPathPlan::PeekExisting`,
  * `src/adapter/src/coord/peek.rs:171-182`).
  *
  * The map is immutable, so consecutive versions share every entry a commit
  * did not touch: a window of versions costs about |view| + Σ|delta|. Keys
  * are float-normalized `UnsafeRow`s (Spark's `NormalizeFloatingNumbers`:
  * -0.0 becomes 0.0, every NaN one NaN), so byte equality is the row
  * equality [[Changelog.consolidate]]'s groupBy applies on the persist path
  * and a retraction of -0.0 finds a stored 0.0. Each key also keeps the row
  * as it was inserted (`raw`, the key itself when the two are the same
  * bytes).
  *
  * A version reads the way persist reads it: `stored` versions (a `v=<n>`
  * snapshot exists or is written from this copy) as the raw rows, the
  * others (persist merges them through `consolidate`) as the normalized
  * keys. */
private[views] final class ResidentZSet private (
    val schema: StructType, rows: HashMap[UnsafeRow, ResidentZSet.Held],
    val size: Long, val added: Long, stored: Boolean) {
  import ResidentZSet._

  // every row repeated by its multiplicity, built on the first read
  private lazy val data: Seq[InternalRow] =
    rows.iterator.flatMap { case (k, h) => Iterator.fill(h.n.toInt)(if (stored) h.raw else k) }
      .toVector

  /** The version as a DataFrame over a `LocalRelation`. Spark's own
    * `ConvertToLocalRelation` folds filters, projections and limits over
    * it at optimization time, so such reads run no Spark job. */
  def toDF(spark: SparkSession): DataFrame =
    GraftPlanBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), data))

  /** This version, read as the raw rows a `v=<n>` snapshot of it holds. */
  def asStored: ResidentZSet = new ResidentZSet(schema, rows, size, added, stored = true)

  /** `this ⊎ delta` for rows of the view's columns followed by their
    * `diff: bigint`. None — the caller evicts — when a column type has no
    * byte-canonical row form (maps, variants, user-defined types), when a
    * multiplicity would go negative (the delta retracts a row the version
    * does not hold), or when an insert's bytes differ from the held row of
    * the same SQL value (-0.0 for a held 0.0: one key cannot serve both
    * forms as persist stores them). */
  def plus(delta: Array[Row]): Option[ResidentZSet] = {
    val diffAt = schema.length
    projections(schema).flatMap { case (rawOf, keyOf) =>
      val encode = ExpressionEncoder(schema.add(Changelog.DiffCol, LongType)).createSerializer()
      var m = rows
      var n = size
      var ok = true
      val it = delta.iterator
      while (ok && it.hasNext) {
        val r = it.next()
        ok = !r.isNullAt(diffAt)
        if (ok) {
          val d = r.getLong(diffAt)
          val in = encode(r)
          val raw = rawOf(in).copy()
          val k = keyOf(in).copy()
          val held = m.get(k)
          val c = held.fold(0L)(_.n) + d
          ok = c >= 0 && (d <= 0 || held.forall(_.raw == raw))
          m = if (c == 0L) m.removed(k)
            else m.updated(k, new Held(held.fold(if (raw == k) k else raw)(_.raw), c))
          n += d
        }
      }
      if (ok) Some(new ResidentZSet(schema, m, n, delta.length, stored = false)) else None
    }
  }
}

private[views] object ResidentZSet {

  /** Rows every resident window of one catalog may hold together, counted
    * as the oldest version's rows plus the delta rows of the later ones (an
    * upper bound on the window's distinct map entries). A window that would
    * take the total past it is not installed: its view reads persist. At
    * about 180 bytes of heap a row of four longs (CHANGES.md gives the
    * probe), all resident versions of a catalog hold at most ≈ 9 MB. */
  val RowBudget = 50000L

  /** Rows a window of consecutive versions holds, as [[RowBudget]] counts. */
  def held(window: Iterable[ResidentZSet]): Long =
    window.headOption.fold(0L)(_.size) + window.iterator.drop(1).map(_.added).sum

  /** A `stored` version from a snapshot's rows (each at multiplicity 1):
    * the empty Z-set plus the snapshot as an all-inserts delta, so None
    * when [[plus]] refuses it (the snapshot holds one SQL value in two
    * byte forms, or a column cannot be a key). */
  def of(schema: StructType, snapshot: Array[Row]): Option[ResidentZSet] =
    new ResidentZSet(graft.Schemas.nullable(schema), HashMap.empty, 0L, 0L, stored = true)
      .plus(snapshot.map(r => Row.fromSeq(r.toSeq :+ 1L))).map(_.asStored)

  /** A row as inserted and its multiplicity. */
  final class Held(val raw: UnsafeRow, val n: Long)

  /** Projections from `(column..., diff)` rows to the raw and to the
    * normalized rows of `view`'s columns; None if a column cannot be a
    * key. */
  private def projections(view: StructType): Option[(UnsafeProjection, UnsafeProjection)] =
    Option.when(view.fields.forall(f => keyable(f.dataType))) {
      val bound = view.fields.toSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, true) }
      (UnsafeProjection.create(bound),
        UnsafeProjection.create(bound.map(GraftPlanBridge.normalizeFloats)))
    }

  private def keyable(t: DataType): Boolean = t match {
    case s: StructType => s.fields.forall(f => keyable(f.dataType))
    case a: ArrayType => keyable(a.elementType)
    case _: MapType | _: VariantType | _: UserDefinedType[_] => false
    case _ => true
  }
}
