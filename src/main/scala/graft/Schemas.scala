package graft

import org.apache.spark.sql.types._

/** Schema helpers for stating a known schema on parquet reads (skipping the
  * per-read footer schema-inference job). */
object Schemas {
  /** Every field (recursively) nullable — what parquet schema inference
    * would report, so a stated schema never claims non-nullability the file
    * format does not guarantee. (StructType.asNullable is private[sql].) */
  def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  /** `dt` with every nested field, element and value nullable. */
  def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => nullable(s)
    case a: ArrayType => a.copy(elementType = nullableType(a.elementType), containsNull = true)
    case m: MapType => m.copy(keyType = nullableType(m.keyType),
      valueType = nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
