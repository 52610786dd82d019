package graft.sql

import graft.functions.FormatTypeExpression

/** The pg type table the engine's type functions read: `format_type`, the
  * regtype casts and the regclass oid fallback (reference
  * `src/catalog/src/builtin.rs` PG_TYPE rows).
  *
  * Static type rows use the wire-protocol pg OIDs (public pg_type.dat
  * knowledge, shared with [[FormatTypeExpression]]); internal `typname`
  * spellings (`int4`, `_text`, ...) follow pg. User objects get oids >=
  * 20000, matching the reference's user-oid allocation floor (corpus
  * `list.slt:2022` asserts `oid >= 20000`).
  *
  * The pg_catalog / mz_catalog relations built over this table are
  * session emulation for the sqllogictest harness and live with it, in
  * the test tree (`graft.sql.PgCatalogViews`).
  */
object PgCatalogRelations {

  /** Oid -> internal typname (regtype::text rendering; mz spells type
    * names the pg-internal way: int4, timestamptz, ...). */
  val typnameOfOid: Map[Int, String] = {
    val names = Map( // oid -> internal typname (pg_type.dat)
      16 -> "bool", 17 -> "bytea", 18 -> "char", 19 -> "name", 20 -> "int8",
      21 -> "int2", 23 -> "int4", 24 -> "regproc", 25 -> "text", 26 -> "oid",
      114 -> "json", 700 -> "float4", 701 -> "float8", 1042 -> "bpchar",
      1043 -> "varchar", 1082 -> "date", 1083 -> "time", 1114 -> "timestamp",
      1184 -> "timestamptz", 1186 -> "interval", 1700 -> "numeric",
      2205 -> "regclass", 2206 -> "regtype", 2249 -> "record",
      2950 -> "uuid", 3802 -> "jsonb", 3904 -> "int4range",
      3906 -> "numrange", 3908 -> "tsrange", 3910 -> "tstzrange",
      3912 -> "daterange", 3926 -> "int8range")
    val arrays = FormatTypeExpression.arrayElem.collect {
      case (arrOid, elemOid) if names.contains(elemOid) => arrOid -> ("_" + names(elemOid))
    }
    // the anonymous list/map pseudo-types (reference mz_types)
    names ++ arrays ++ Map(16_010 -> "list", 16_011 -> "map")
  }

  /** Internal typname -> oid, for resolving custom list element types. */
  val oidOfTypname: Map[String, Int] = {
    val alias = Map(
      "boolean" -> "bool", "smallint" -> "int2", "int" -> "int4",
      "integer" -> "int4", "bigint" -> "int8", "real" -> "float4",
      "float" -> "float8", "double" -> "float8", "double precision" -> "float8",
      "decimal" -> "numeric", "string" -> "text", "character varying" -> "varchar")
    val base = typnameOfOid.map(_.swap)
    base ++ alias.flatMap { case (a, n) => base.get(n).map(a -> _) }
  }

  /** Deterministic user oid >= 20000 (reference user-oid floor). */
  def userOid(name: String): Int =
    20000 + (scala.util.hashing.MurmurHash3.stringHash(name) & 0x7fffffff) % 979983
}
