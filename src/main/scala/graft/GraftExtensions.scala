package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The one extensions bundle every entry point installs (through
  * GraftSession): custom optimizer rules + the SQL DDL surface. Usable
  * directly as `spark.sql.extensions=graft.GraftExtensions` on a real
  * cluster, or via `.withExtensions(GraftExtensions)` locally.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftExtensions(e)
}

object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.ReduceElisionRule)
    // filter/project constants become generated-class references, so texts
    // that differ only in a constant share one compiled class
    e.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.ParamLiterals
    })
    // list/array ::text renders the mz {..} form, not Spark's [..]
    e.injectResolutionRule(_ => graft.plans.ListTextCastRule)
    // pg: a FROM-position SRF's table alias names its output column
    e.injectResolutionRule(_ => graft.plans.SrfAliasRule)
    // (unordered ranking windows are normalized at parse time inside
    // GraftSqlParser — Spark's ResolveWindowOrder throws before injected
    // resolution rules run, so a resolution rule cannot catch them)
    e.injectParser((session, delegate) => new graft.sql.GraftSqlParser(session, delegate))
    // the parser's WITH MUTUALLY RECURSIVE leaf runs its fixpoint here
    e.injectPlannerStrategy(_ => graft.sql.LetRecStrategy)
    // generate_series in both scalar position (SELECT generate_series(..))
    // and FROM position — the reference's core table function
    e.injectFunction(graft.functions.SeriesFunctions.scalarFunction)
    e.injectTableFunction(graft.functions.SeriesFunctions.tableFunction)
    e.injectTableFunction(graft.functions.SeriesFunctions.unnestTableFunction)
    e.injectFunction(graft.functions.SeriesFunctions.arrayFunction)
    // pg-semantic array accessors: 1-based NULL-safe subscript, NOT
    // DISTINCT FROM removal, NULL-when-absent position
    graft.functions.PgArrayFunctions.functions.foreach(e.injectFunction)
    // pg array_fill (bounds-carrying arrays ride a struct type)
    graft.functions.GraftArrayFill.functions.foreach(e.injectFunction)
    // pg text/format functions: quote_ident, pg_size_pretty
    graft.functions.PgTextFunctions.functions.foreach(e.injectFunction)
    // jsonb family: canonical pg rendering, accessors, containment,
    // builders, and the element/key table functions
    graft.functions.JsonbFunctions.functions.foreach(e.injectFunction)
    graft.functions.JsonbFunctions.scalarSrfs.foreach(e.injectFunction)
    graft.functions.JsonbFunctions.tableFunctions.foreach(e.injectTableFunction)
    // pg range types: casts, constructors, set ops, predicates, accessors
    graft.functions.RangeFunctions.functions.foreach(e.injectFunction)
    // unsigned ints as checked widening casts (uint2/4/8)
    graft.functions.UintFunctions.functions.foreach(e.injectFunction)
    // pg catalog introspection: format_type(oid, typmod)
    graft.functions.FormatTypeExpression.functions.foreach(e.injectFunction)
    // pg interval text forms: parse + canonical rendering, checked +/-
    graft.functions.MzIntervalFunctions.functions.foreach(e.injectFunction)
    // pg regexp_replace semantics (first-match default, 'g'/'i' flags)
    graft.functions.PgRegexpFunctions.functions.foreach(e.injectFunction)
    // session identity constants (current_database/current_user = mz's)
    graft.functions.SessionIdentity.functions.foreach(e.injectFunction)
    // pg to_char timestamp template rendering
    graft.functions.PgDateTimeFormat.functions.foreach(e.injectFunction)
    // pg float-typed ceil/floor
    graft.functions.PgNumericFunctions.functions.foreach(e.injectFunction)
    // pgcrypto digest/hmac (bytea-returning)
    graft.functions.PgCryptoFunctions.functions.foreach(e.injectFunction)
    // pg binary-text codecs: encode/decode (hex, base64, escape)
    graft.functions.PgEncodingFunctions.functions.foreach(e.injectFunction)
    // pg timestamp(p)/timestamptz(p) fractional-second rounding
    graft.functions.PgTimestampPrecision.functions.foreach(e.injectFunction)
    // mz LIST type text boundary (parse / canonical render / length_max)
    graft.functions.MzListExpressions.functions.foreach(e.injectFunction)
    // mz MAP type text boundary
    graft.functions.MzMapExpressions.functions.foreach(e.injectFunction)
  }
}
