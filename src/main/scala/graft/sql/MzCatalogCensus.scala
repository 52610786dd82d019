package graft.sql

/** The reference's ambient (builtin) catalog census: every mz_catalog /
  * mz_internal / mz_introspection / mz_unsafe relation with its ordered
  * column list — name, pg-facing type name, nullability, and the
  * documentation comment surfaced through `mz_internal.mz_comments`.
  *
  * The inventory is a generated resource
  * (`graft/mz_builtin_columns.tsv`, built by
  * `scripts/gen_mz_catalog_census.py` from the reference's
  * `src/catalog/src/builtin rs files` relation definitions — the same source
  * its own `test/sqllogictest/autogenerated/mz_*.slt` census files are
  * generated from). Loaded once per JVM. The engine reads it for the
  * regclass oid of a builtin relation; the mz_objects / mz_columns /
  * mz_comments rows built from it are the sqllogictest harness's session
  * emulation and live with it, in the test tree
  * (`graft.sql.MzCensusViews`).
  */
object MzCatalogCensus {

  final case class CensusCol(schema: String, obj: String, position: Int,
      column: String, colType: String, nullable: Boolean, comment: String,
      oid: Int, kind: String)

  lazy val columns: Seq[CensusCol] = {
    val in = getClass.getResourceAsStream("/graft/mz_builtin_columns.tsv")
    require(in != null, "mz_builtin_columns.tsv resource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map { l =>
      val f = l.split("\t", -1)
      CensusCol(f(0), f(1), f(2).toInt, f(3), f(4), f(5) == "t",
        if (f.length > 6) f(6) else "",
        if (f.length > 7 && f(7).nonEmpty) f(7).toInt else 0,
        if (f.length > 8 && f(8).nonEmpty) f(8) else "view")
    }.toVector
    finally src.close()
  }

  /** The reference's pg-compatible oid per builtin relation
    * (pgrepr-consts oid.rs constants, carried through the census). */
  lazy val objectOids: Map[(String, String), Int] =
    columns.map(c => (c.schema, c.obj) -> c.oid).toMap
}
