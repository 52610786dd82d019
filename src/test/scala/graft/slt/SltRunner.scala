package graft.slt

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.{PgCatalogRelations, PgCatalogViews}

/** Mini sqllogictest runner (reference `src/sqllogictest/src/runner.rs`,
  * corpus `test/sqllogictest/` .slt files): parses SLT records and executes them
  * through `spark.sql`, comparing typed results. Corpus files are read from
  * the reference checkout at test time — nothing is copied.
  *
  * Dialect policy: records whose SQL Spark cannot parse/analyze (pg-catalog
  * statements, pg-only syntax) are counted `skipped`, never `passed`;
  * records that execute but return wrong values are `failed`. A skipped
  * mutating statement (UPDATE/DELETE — not supported on Spark v1 tables)
  * poisons the remainder of the file, since later expectations would observe
  * un-applied state.
  */
object SltRunner {

  /** Skip census: reason -> count, accumulated across every run in this JVM
    * (the corpus spec prints the top entries). The census is what keeps the
    * "skipped" number honest — each conversion round starts by reading it. */
  val census = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private val censusSample = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // census-triage context: the file and expected-error text of the record
  // being dispatched (fidelity samples carry both so the class can be
  // worked without re-locating each record)
  @volatile private var curFile: String = ""
  @volatile private var curErrText: String = ""
  private def tally(reason: String, sample0: String = ""): Unit = {
    val sample =
      if (sample0.nonEmpty && reason.contains("error expected but we accept"))
        s"[$curFile${if (curErrText.nonEmpty) s" :: ${curErrText.take(80)}" else ""}] $sample0"
      else sample0
    census.merge(reason, 1, (a, b) => a + b)
    if (sample.nonEmpty) censusSample.putIfAbsent(reason, sample.replaceAll("\\s+", " ").take(400))
    // triage aid: SLT_ERRFID_DUMP=<path> appends every accepted-expected-
    // error statement so the class can be broken down by pattern
    if (reason.contains("error expected but we accept") && sample.nonEmpty)
      sys.env.get("SLT_ERRFID_DUMP").foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          reason.take(5) + "\t" + sample.replaceAll("\\s+", " ").take(300) + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        catch { case _: Throwable => () }
      }
    // SLT_SKIP_DUMP=<path>: append EVERY tallied skip (reason<TAB>sample)
    // so a full-gate run yields the complete per-class query list
    if (sample.nonEmpty)
      sys.env.get("SLT_SKIP_DUMP").foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          reason.replaceAll("\\s+", " ").take(120) + "\t" +
            sample.replaceAll("\\s+", " ").take(500) + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        catch { case _: Throwable => () }
      }
    ()
  }
  /** Census-triage aid: `SLT_POISON_DETAIL=1` splits the poisoned-touch
    * tallies per file so a census run shows WHICH files' poisoned state
    * causes the skips (normally one aggregate bucket). */
  private def poisonDetailSuffix(file: String): String =
    if (sys.env.contains("SLT_POISON_DETAIL")) s" [$file]" else ""

  /** Reversible case-mangle for quoted identifiers carrying uppercase:
    * `"AbC"` -> `abc__gc5` (hex bitmask of uppercase positions). */
  private[slt] def mangleCase(n: String): String = {
    val mask = n.zipWithIndex.foldLeft(java.math.BigInteger.ZERO) {
      case (acc, (c, i)) => if (c.isUpper) acc.setBit(i) else acc
    }
    n.toLowerCase + "__gc" + mask.toString(16)
  }
  private[slt] def unmangleCase(s: String): String =
    if (!s.contains("__gc")) s
    else """([a-z_][a-z0-9_]*)__gc([0-9a-f]+)""".r.replaceAllIn(s, m => {
      val base = m.group(1)
      val mask = new java.math.BigInteger(m.group(2), 16)
      Regex.quoteReplacement(base.zipWithIndex.map { case (c, i) =>
        if (mask.testBit(i)) c.toUpper else c
      }.mkString)
    })

  /** Decimal literals needing MORE than Spark's 38 digits (the reference
    * numeric carries 39, src/repr/src/adt/numeric.rs): replace each with
    * an ORDER-PRESERVING representable clamp at the type's extreme —
    * variant A (...9) or B (...8), distinct so a double-run can detect
    * whether a query's result depends on the exact cell value. Returns
    * (rewritten, anyChanged). */
  private[slt] def clampOversizedDecimals(sql: String, toB: Boolean): (String, Boolean) = {
    var changed = false
    val out = rewriteOutsideLits(sql) { seg =>
      """(-?)(\d+)\.(\d+)""".r.replaceAllIn(seg, m => {
        val ip = m.group(2).dropWhile(_ == '0')
        val fp = m.group(3)
        if (ip.length + fp.length <= 38) m.matched
        else {
          changed = true
          val scale = math.min(fp.length, 37)
          val intDigits = 38 - scale
          val frac = "9" * (scale - 1) + (if (toB) "8" else "9")
          Regex.quoteReplacement(m.group(1) + "9" * intDigits + "." + frac)
        }
      })
    }
    (out, changed)
  }

  def censusTop(n: Int): Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    census.asScala.toSeq.map { case (k, v) =>
      (k, v.intValue, Option(censusSample.get(k)).getOrElse(""))
    }.sortBy(-_._2).take(n)
  }

  final case class Report(
      file: String,
      passed: Int,
      failed: Int,
      skipped: Int,
      failures: List[String]) {
    def +(o: Report): Report =
      Report(s"$file+${o.file}", passed + o.passed, failed + o.failed,
        skipped + o.skipped, failures ++ o.failures)
  }

  private sealed trait Record
  private final case class Statement(sql: String, expectError: Boolean,
      errorText: String = "") extends Record
  private final case class Query(
      sql: String, types: String, sortMode: String, hasColnames: Boolean,
      expectError: Boolean, expected: List[String],
      multiline: Boolean = false, errorText: String = "") extends Record
  private case object Halt extends Record
  /** The corpus's `reset-server` directive: wipe per-session state (vars,
    * portals, open txn). Table state is per-file here, unlike the real
    * server restart, so only session state resets. */
  private case object ResetServer extends Record
  /** A CREATE/DROP TYPE statement, resolved against the per-file type
    * registry at parse time (same pattern as the range-column registry):
    * `ok` = the reference would accept it; `err` = its rejection text. */
  private final case class TypeDdl(ok: Boolean, err: String,
      expectError: Boolean = false, sql: String = "") extends Record
  /** The reference runner's `copy <table> <tsv>` directive
    * (`src/sqllogictest/src/parser.rs:165`, runner.rs `Record::Copy`): load
    * a pg-COPY-text TSV (tab-separated, `\N` = NULL) into an existing
    * table. Paths are relative to the reference repo root. */
  private final case class CopyLoad(table: String, tsvPath: String) extends Record
  private final case class Unsupported(
      reason: String, mutating: Boolean, target: Option[String] = None,
      sql: String = "") extends Record
  /** `simple` block (default connection) whose statements are ALL session-
    * variable pieces (SET/RESET/SHOW/BEGIN/COMMIT/ROLLBACK) — executed by
    * the simple-protocol emulation with pg's transactional variable
    * semantics (plain SET commits at block end, SET LOCAL never escapes
    * the block, ROLLBACK restores the pre-block state). */
  private final case class SimpleVarBlock(
      stmts: List[String], expected: List[String]) extends Record
  /** `simple` block (default connection) mixing session pieces with plain
    * DML/queries (INSERT / SELECT / single-statement DDL). Executed through
    * the same emulation primitives as statement/query records, rendering
    * the simple-protocol output (rows joined by ',', `COMPLETE n` per
    * statement) for comparison. The block's mutation targets are
    * SNAPSHOTTED at entry: when the reference rejected the block (its
    * implicit transaction rolled back) the emulation restores the
    * snapshots, keeping both sides in sync WITHOUT poisoning.
    * `stmts` pairs (raw, shimmed). */
  private final case class SimpleExecBlock(
      conn: Option[String],
      stmts: List[(String, String)], expected: List[String]) extends Record

  // Statements that have no Spark analog (cluster/catalog/rbac/source ops).
  private val skipPrefixes = List(
    "ALTER ", "SHOW ", "EXPLAIN ", "GRANT ", "REVOKE ",
    "CREATE SOURCE", "CREATE SINK",
    "CREATE CONNECTION", "CREATE SECRET", "CREATE ROLE",
    "CREATE SCHEMA", "CREATE DATABASE",
    "SUBSCRIBE", "COPY ",
    "VALIDATE ", "DROP SOURCE", "DROP SCHEMA",
    "DROP DATABASE", "DROP ROLE", "DROP OWNED", "REASSIGN", "INSPECT")

  private val typeRewrites: List[(Regex, String)] = List(
    // type ALIASES are parser-level, not catalog entries: the reference
    // rejects `::pg_catalog.smallint` ('type "pg_catalog.smallint" does
    // not exist', types.slt:172) — route to an unknown type name so the
    // cast fails at parse like the reference's resolution failure
    ("""(?i)::\s*pg_catalog\s*\.\s*"?(smallint|integer|int|bigint|real|double|decimal|dec|boolean|json|bytes|float)"?\b""".r,
      "::graft_pgcat_missing_$1"),
    // pg_catalog-qualified TYPE names in cast position reduce to the bare
    // type (the schema only namespaces them; regclass/regproc casts keep
    // their own qualified-literal handling upstream)
    ("""(?i)::\s*pg_catalog\s*\.\s*"?([a-z_][a-z0-9_]*)"?""".r, "::$1"),
    ("""(?i)\bAS\s+pg_catalog\s*\.\s*"?([a-z_][a-z0-9_]*)"?(\s*[),])""".r, "AS $1$2"),
    // ANSI long forms first, so later word-level rewrites can't split them
    ("""(?i)\btimestamp\s+with(?:out)?\s+time\s+zone\b""".r, "timestamp"),
    ("""(?i)\bint2\b""".r, "smallint"),
    ("""(?i)\bint4\b""".r, "int"),
    ("""(?i)\bint8\b""".r, "bigint"),
    ("""(?i)\bfloat4\b""".r, "real"),
    ("""(?i)\bfloat8\b""".r, "double"),
    // pg `float` (no precision) is float8 — Spark's bare `float` is float4
    ("""(?i)\bfloat\b""".r, "double"),
    // pg bare CHAR is char(1); the quoted catalog type "char" stays
    ("""(?i)(?<!")\bchar\b(?!\s*[("])""".r, "char(1)"),
    ("""(?i)\btext\b""".r, "string"),
    // pg `name` (63-byte identifier type) only in cast position — the bare
    // word is a common column name and must not be rewritten
    ("""(?i)::\s*name\b""".r, "::string"),
    // jsonb columns are canonical-json TEXT in this engine (the `::jsonb`
    // casts were already rewritten to jsonb_canon calls by the pre-pass;
    // the `_` in jsonb_* function names protects them from this \b match)
    ("""(?i)\bjsonb\b""".r, "string"),
    ("""(?i)\bjson\b""".r, "string"),
    ("""(?i)\bbool\b""".r, "boolean"),
    // unsigned column types widen to the signed type holding the domain
    // (cast positions were already rewritten to checked pg_uintN calls)
    ("""(?i)\buint2\b""".r, "int"),
    ("""(?i)\buint4\b""".r, "bigint"),
    ("""(?i)\buint8\b""".r, "decimal(20,0)"),
    // pg array-type suffix `type[]` → Spark array<type> (cast position)
    ("""(?i)::\s*(string|int|integer|bigint|smallint|real|double|boolean|date|timestamp)\s*\[\s*\]""".r,
      "::array<$1>"),
    // ... and in COLUMN-TYPE position (`a int[]`): the suffix only ever
    // follows a type KEYWORD (subscripts follow identifiers/parens)
    ("""(?i)\b(string|int|integer|bigint|smallint|real|double|boolean|date|timestamp|decimal|numeric)\s*\[\s*\]""".r,
      "array<$1>"),
    // uuid columns store canonical text (the ::uuid cast positions were
    // already rewritten to checked pg_uuid calls); uuid() the function is
    // left alone
    ("""(?i)\buuid\b(?!\s*\()""".r, "string"),
    // pg bare CHAR is char(1) (bpchar); Spark demands a length. Only in
    // TYPE positions — cast tails and column definitions — since `char`
    // is also a legal identifier/alias; the QUOTED "char" type (oid 18)
    // stays untouched.
    ("""(?i)::\s*char\b(?!\s*[(\w"])""".r, "::char(1)"),
    ("""(?i)([(,]\s*"?\w+"?\s+)char\b(?=\s*[,)])""".r, "$1char(1)"),
    // oid → string: its jsonb/text renderings quote it like an identifier,
    // and equality/joins on it are string-compatible
    ("""(?i)::\s*oid\b""".r, "::string"),
    ("""(?i)\bdouble\s+precision\b""".r, "double"),
    ("""(?i)\bbytea\b""".r, "binary"),
    // cockroach collated strings: en_u_ks_level1 is ICU primary strength
    // (case- and accent-insensitive) = Spark 4's en_CI_AI collation
    ("""(?i)\bCOLLATE\s+en_u_ks_level1\b""".r, "COLLATE en_CI_AI"))

  /** Apply `f` to each maximal run of SQL OUTSIDE single-quoted string
    * literals, leaving literal contents untouched — so shim regexes (which
    * rewrite keywords like UNIQUE/CHECK or `::decimal`) can never mangle SQL
    * that merely CONTAINS those tokens inside quotes. A doubled `''` escape
    * toggles out and straight back in, which is equivalent for this
    * purpose. */
  private def mapOutsideLiterals(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var inQ = false
    sql.foreach { c =>
      if (!inQ && c == '\'') {
        out.append(f(seg.toString)); seg.clear(); inQ = true; out.append(c)
      } else if (inQ) {
        out.append(c); if (c == '\'') inQ = false
      } else seg.append(c)
    }
    out.append(f(seg.toString))
    out.toString
  }

  /** Rewrite the handful of dialect differences Spark can absorb.
    * `crdb`: statements arriving from CockroachDB-derived files — `INT` is
    * 64-bit there, and DDL carries constraints Spark has no syntax for
    * (PRIMARY KEY, UNIQUE, CHECK, FAMILY) — metadata-only for a logic test,
    * so they are stripped. */
  /** pg array syntax → Spark, via one quote-aware scanner with a bracket
    * stack:
    *  - `ARRAY[a, b, ...]` constructors → `array(a, b)` (nested constructors
    *    and brackets inside the elements keep their own state);
    *  - subscripts `x[i]` / `f(..)[i]` / `(subq)[i]` →
    *    `pg_subscript(operand, i)` — pg subscripts are 1-based and yield
    *    NULL out of bounds, Spark's native `[]` is 0-based and ANSI-errors.
    *    String-keyed (map) access, empty brackets (`::int[]` types), and
    *    `a:b` slices are left native/as-is. */
  private[slt] def rewriteArrayLiterals(sql: String): String = {
    if (!sql.contains('[')) return sql
    val sb = new StringBuilder(sql.length)
    // kinds: 1 = ARRAY-literal bracket, 2 = rewritten pg subscript,
    // 3 = mz LIST constructor (list-tagged on close), 4 = mz list
    // subscript, 0 = native bracket. Second tuple slot: sb offset where
    // the group's text starts (used to wrap LIST constructors on close).
    val stack = mutable.Stack.empty[(Int, Int)]
    var inQ = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if (kwBracketEnd(sql, i, "ARRAY") >= 0) {
        stack.push((1, sb.length)); sb ++= "array("
        i = kwBracketEnd(sql, i, "ARRAY")
      } else if (kwBracketEnd(sql, i, "LIST") >= 0) {
        // mz LIST [..] constructor (always a constructor — `list` is a
        // reserved generic-type keyword in the reference's parser);
        // whitespace between the keyword and `[` is legal
        stack.push((3, sb.length)); sb ++= "array("
        i = kwBracketEnd(sql, i, "LIST")
      } else if (c == '[') {
        val opStart = subscriptOperandStart(sb)
        if (opStart >= 0 && sliceBracket(sql, i)) {
          // mz list slice `x[lo:hi]` — bounds are expressions themselves
          // (recursively rewritten); an absent bound is the list edge
          val close = matchingBracketEnd(sql, i)
          if (close < 0) { sb += '['; stack.push((0, sb.length)) }
          else {
            val inner = sql.substring(i + 1, close)
            // absent bound = the list edge (encoded as a clamped extreme);
            // an EXPLICIT NULL bound yields NULL (mz slice semantics)
            val (loRaw, hiRaw) = splitTopColonOnce(inner)
            val lo = if (loRaw.trim.isEmpty) "-9223372036854775807"
              else rewriteArrayLiterals(loRaw.trim)
            val hi = if (hiRaw.trim.isEmpty) "9223372036854775807"
              else rewriteArrayLiterals(hiRaw.trim)
            // lists are the ONLY sliceable type in the reference — pg
            // arrays (and anything else) reject at planning ("array
            // subscript does not support slices", plan/query.rs). Same
            // operand discrimination as the index-subscript branch below.
            val sliceIsList =
              """(?is)^\s*(?:mz_list_in|mz_list_tag|mz_list_cat|mz_list_append|mz_list_prepend|mz_list_cast|mz_list_slice|mz_list_subscript)\b.*""".r
                .pattern.matcher(
                  sb.substring(opStart).replaceAll("^[\\s(]+", "")).matches
            sb.insert(opStart,
              if (sliceIsList) "mz_list_slice(" else "mz_slice_reject(")
            sb ++= s", $lo, $hi)"
            // the branch-shared `i += 1` below lands us just past `]`
            i = close
          }
        } else if (opStart >= 0 && subscriptableIndex(sql, i)) {
          // list-valued operands get mz subscript semantics (one index
          // per nesting level; pg arrays NULL on under-indexing)
          val isList = """(?is)^\s*(?:mz_list_in|mz_list_tag|mz_list_cat|mz_list_append|mz_list_prepend|mz_list_cast|mz_list_slice|mz_list_subscript)\b.*""".r
            .pattern.matcher(
              sb.substring(opStart).replaceAll("^[\\s(]+", "")).matches
          sb.insert(opStart, if (isList) "mz_list_subscript(" else "pg_subscript(")
          sb ++= ", "
          stack.push((if (isList) 4 else 2, opStart))
        } else if (stack.nonEmpty && (stack.top._1 == 1 || stack.top._1 == 3) && {
          // pg multi-dim shorthand: a bare `[` as an ARRAY-literal element
          // (`ARRAY[[1,2],[3,4]]`) opens a nested constructor
          var j = sb.length - 1
          while (j >= 0 && sb.charAt(j) == ' ') j -= 1
          j >= 0 && (sb.charAt(j) == '(' || sb.charAt(j) == ',')
        }) {
          stack.push((1, sb.length)); sb ++= "array("
        } else { sb += '['; stack.push((0, sb.length)) }
        i += 1
      } else if (c == ']') {
        val (kind, start) = if (stack.nonEmpty) stack.pop() else (0, 0)
        // a chained subscript (`a[2][1]`, pg multi-dim access) extends the
        // SAME subscript call — pg applies all indices as one operation
        // (an under-indexed multi-dim access is NULL, so nesting calls
        // would compute the wrong thing); mz lists peel one level per index
        if ((kind == 2 || kind == 4) && i + 1 < sql.length &&
            sql.charAt(i + 1) == '[' && subscriptableIndex(sql, i + 1)) {
          sb ++= ", "; stack.push((kind, start)); i += 2
        } else if (kind == 3 && i + 1 < sql.length && sql.charAt(i + 1) == '[' &&
            subscriptableIndex(sql, i + 1)) {
          // subscript directly on a LIST constructor → mz list subscript
          sb ++= ")"
          sb.insert(start, "mz_list_subscript(")
          sb ++= ", "
          stack.push((4, start)); i += 2
        } else if (kind == 3) {
          // close the constructor and tag it as a LIST for pg_typeof
          sb ++= ")"
          sb.insert(start, "mz_list_tag(")
          sb ++= ")"
          i += 1
        } else {
          sb ++= (if (kind != 0) ")" else "]"); i += 1
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Start offset in `sb` of the operand a following subscript applies to:
    * a trailing identifier (qualified ok), or a balanced `(...)` / `[...]`
    * group plus any function name before it. -1 when the tail is not an
    * operand (or is a type name, where `[` is pg array-type syntax). */
  private def subscriptOperandStart(sb: StringBuilder): Int = {
    var j = sb.length - 1
    while (j >= 0 && sb.charAt(j) == ' ') j -= 1
    if (j < 0) return -1
    val c = sb.charAt(j)
    if (c == ')' || c == ']') {
      val close = c; val open = if (c == ')') '(' else '['
      var bal = 0
      var done = false
      while (j >= 0 && !done) {
        val ch = sb.charAt(j)
        if (ch == '\'') {
          // skip the quoted literal backwards — brackets inside a string
          // (range literals like '(,-1]') must not count toward balance
          j -= 1
          while (j >= 0 && sb.charAt(j) != '\'') j -= 1
          if (j < 0) return -1
          j -= 1
        } else {
          if (ch == close) bal += 1
          else if (ch == open) { bal -= 1; if (bal == 0) done = true }
          if (!done) j -= 1
        }
      }
      if (!done) return -1
      j -= 1 // char before the opener
      while (j >= 0 && (isWordChar(sb.charAt(j)) || sb.charAt(j) == '.')) j -= 1
      j + 1
    } else if (isWordChar(c)) {
      val end = j
      while (j >= 0 && (isWordChar(sb.charAt(j)) || sb.charAt(j) == '.')) j -= 1
      val ident = sb.substring(j + 1, end + 1).toUpperCase
      val typeNames = Set("INT", "INTEGER", "BIGINT", "SMALLINT", "INT2",
        "INT4", "INT8", "TEXT", "STRING", "CHAR", "VARCHAR", "DECIMAL",
        "NUMERIC", "FLOAT", "FLOAT4", "FLOAT8", "REAL", "DOUBLE", "BOOL",
        "BOOLEAN", "TIMESTAMP", "TIMESTAMPTZ", "DATE", "INTERVAL", "BYTEA",
        "UUID", "JSONB", "OID", "MAP")
      if (typeNames.contains(ident) || ident.isEmpty ||
          Character.isDigit(ident.charAt(0))) -1
      else j + 1
    } else -1
  }

  /** Index just after `[` when `sql` at `i` starts keyword `kw` (word-
    * bounded, any case) followed by optional spaces and `[`; -1 otherwise. */
  private def kwBracketEnd(sql: String, i: Int, kw: String): Int = {
    if (!sql.regionMatches(true, i, kw, 0, kw.length)) return -1
    if (i > 0 && isWordChar(sql.charAt(i - 1))) return -1
    var j = i + kw.length
    if (j < sql.length && isWordChar(sql.charAt(j))) return -1
    while (j < sql.length && sql.charAt(j) == ' ') j += 1
    if (j < sql.length && sql.charAt(j) == '[') j + 1 else -1
  }

  /** Is the bracket at `open` an mz SLICE group: a top-level single `:`
    * (not a `::` cast) at bracket depth 1? */
  private def sliceBracket(sql: String, open: Int): Boolean = {
    var depth = 0
    var j = open
    var inQ = false
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0) return false
        case ':' if depth == 1 =>
          if (!(j + 1 < sql.length && sql.charAt(j + 1) == ':') &&
              !(j > open && sql.charAt(j - 1) == ':')) return true
        case _ => ()
      }
      j += 1
    }
    false
  }

  /** Index of the `]` matching the `[` at `open`; -1 when unbalanced. */
  private def matchingBracketEnd(sql: String, open: Int): Int = {
    var depth = 0
    var j = open
    var inQ = false
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0) return j
        case _ => ()
      }
      j += 1
    }
    -1
  }

  /** Split slice content at its FIRST top-level single `:` (skipping `::`
    * casts, quotes, and nested groups). */
  private def splitTopColonOnce(s: String): (String, String) = {
    var depth = 0
    var j = 0
    var inQ = false
    while (j < s.length) {
      val c = s.charAt(j)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ':' if depth == 0 =>
          if (!(j + 1 < s.length && s.charAt(j + 1) == ':') &&
              !(j > 0 && s.charAt(j - 1) == ':'))
            return (s.substring(0, j), s.substring(j + 1))
        case _ => ()
      }
      j += 1
    }
    (s, "")
  }

  /** Is the bracket at `open` a usable subscript index: non-empty, not a
    * string key (map access stays native), no top-level `:` slice? */
  private def subscriptableIndex(sql: String, open: Int): Boolean = {
    var depth = 0
    var j = open
    var inQ = false
    var firstContent = ' '
    var colon = false
    var any = false
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0) return any && firstContent != '\'' && !colon
        case '\'' =>
          inQ = true
          if (!any) { any = true; firstContent = '\'' }
        case ':' =>
          // `::` is a cast inside the index, not a slice separator
          if (depth == 1 && !(j + 1 < sql.length && sql.charAt(j + 1) == ':') &&
              !(j > open && sql.charAt(j - 1) == ':')) colon = true
        case other =>
          if (other != ' ' && !any) { any = true; firstContent = other }
      }
      j += 1
    }
    false
  }

  /** pg binds JOIN tighter than the FROM-list comma, so
    * `FROM a JOIN b USING (k), c JOIN d USING (k)` is `(a⋈b) × (c⋈d)`;
    * Spark parses comma and JOIN left-associatively at EQUAL precedence,
    * silently attaching the second JOIN to the whole preceding tree — a
    * wrong-answer generator, not a parse error. Wrap each comma-separated
    * FROM item that contains a top-level JOIN in parentheses so Spark
    * groups like pg. LATERAL items are left untouched (parenthesizing
    * changes their scoping). */
  private[slt] def parenthesizeCommaJoins(sql: String): String = {
    if (!sql.contains(',') || """(?i)\bjoin\b""".r.findFirstIn(sql).isEmpty)
      return sql
    val terminators = List("WHERE", "GROUP", "HAVING", "WINDOW", "ORDER",
      "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "FETCH", "FOR")
    def atWord(s: String, i: Int, w: String): Boolean =
      s.regionMatches(true, i, w, 0, w.length) &&
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
        (i + w.length >= s.length || !isWordChar(s.charAt(i + w.length)))
    val sb = new StringBuilder(sql.length)
    var i = 0
    var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if (atWord(sql, i, "FROM")) {
        sb ++= sql.substring(i, i + 4)
        i += 4
        // capture this FROM clause: ends at a same-depth terminator keyword,
        // an unbalanced ')', or end of string
        val start = i
        var depth = 0
        var j = i
        var q2 = false
        var end = -1
        while (j < sql.length && end < 0) {
          val ch = sql.charAt(j)
          if (q2) { if (ch == '\'') q2 = false; j += 1 }
          else ch match {
            case '\'' => q2 = true; j += 1
            case '(' => depth += 1; j += 1
            case ')' => if (depth == 0) end = j else { depth -= 1; j += 1 }
            case _ =>
              if (depth == 0 && terminators.exists(atWord(sql, j, _))) end = j
              else j += 1
          }
        }
        if (end < 0) end = sql.length
        val clause = sql.substring(start, end)
        val items = splitTopLevel(clause, ',')
        val out =
          if (items.length < 2) parenthesizeCommaJoins(clause)
          else items.map { it0 =>
            val it = parenthesizeCommaJoins(it0) // subqueries inside the item
            if (hasTopLevelWord(it, "JOIN") && !hasTopLevelWord(it, "LATERAL"))
              s" (${it.trim})"
            else it
          }.mkString(",")
        sb ++= out
        i = end
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Function-backed type casts: `expr::name` → `pg_name(expr)` (pg's
    * 63-byte identifier type truncates) and `expr::jsonb` / `expr::json` →
    * `jsonb_canon(expr)` (pg jsonb canonicalizes — sorted keys, numeric
    * normalization — on cast). Falls back to a plain `::string` cast when
    * the operand can't be delimited (chained casts etc.). */
  private val castFnTypes: Seq[(String, String)] =
    Seq("jsonb" -> "jsonb_canon", "json" -> "jsonb_canon", "name" -> "pg_name",
      "oid" -> "pg_oid", "regclass" -> "pg_regclass", "uuid" -> "pg_uuid",
      "uint2" -> "pg_uint2", "uint4" -> "pg_uint4", "uint8" -> "pg_uint8",
      "_int4range" -> "pg_arr_int4range", "_int8range" -> "pg_arr_int8range",
      "_numrange" -> "pg_arr_numrange", "_daterange" -> "pg_arr_daterange",
      "_tstzrange" -> "pg_arr_tstzrange", "_tsrange" -> "pg_arr_tsrange",
      "int4range" -> "pg_int4range", "int8range" -> "pg_int8range",
      "numrange" -> "pg_numrange", "daterange" -> "pg_daterange",
      "tstzrange" -> "pg_tstzrange", "tsrange" -> "pg_tsrange",
      "time" -> "pg_time", "regtype" -> "pg_regtype",
      "regtype_out" -> "pg_regtype_out", "int2vector" -> "pg_int2vector")

  /** Operand start for a CHECKED-cast wrap (uint casts): like
    * castOperandStart, but also accepts a (possibly signed) numeric literal
    * and wraps a whole chained-cast prefix (`12.4::numeric::uint2` wraps
    * `12.4::numeric`). The unary minus folds into the operand — the
    * reference binds `-666::uint2` as a cast of -666 (its error text quotes
    * "-666"), unlike pg's tighter :: precedence. */
  private def checkedCastOperandStart(sb: StringBuilder): Int = {
    var end = sb.length
    var changed = true
    while (changed) {
      changed = false
      var j = end - 1
      while (j >= 0 && sb.charAt(j) == ' ') j -= 1
      val we = j
      while (j >= 0 && isWordChar(sb.charAt(j))) j -= 1
      if (we > j && j >= 1 && sb.charAt(j) == ':' && sb.charAt(j - 1) == ':' &&
          we + 1 <= sb.length && !sb.charAt(j + 1).isDigit) {
        end = j - 1
        changed = true
      }
    }
    val sub = new StringBuilder(sb.substring(0, end))
    val st = castOperandStart(sub)
    if (st >= 0) return st
    var j = sub.length - 1
    while (j >= 0 && sub.charAt(j) == ' ') j -= 1
    var sawDigit = false
    while (j >= 0 && (sub.charAt(j).isDigit || sub.charAt(j) == '.')) {
      sawDigit = true; j -= 1
    }
    if (!sawDigit) return -1
    if (j >= 0 && sub.charAt(j) == '-') {
      var q = j - 1
      while (q >= 0 && sub.charAt(q) == ' ') q -= 1
      val unary =
        if (q < 0) true
        else if ("(,=<>+-*/%".indexOf(sub.charAt(q)) >= 0) true
        else if (isWordChar(sub.charAt(q))) {
          val we2 = q
          while (q >= 0 && isWordChar(sub.charAt(q))) q -= 1
          Set("SELECT", "WHERE", "AND", "OR", "NOT", "THEN", "ELSE", "WHEN",
            "BY", "ON", "HAVING", "SET", "VALUES", "IN", "RETURNING", "AS")
            .contains(sub.substring(q + 1, we2 + 1).toUpperCase)
        } else false
      if (unary) j else j + 1
    } else j + 1
  }

  /** regclass/regtype literal casts (reference `src/repr/src/scalar.rs`
    * RegClass/RegType; corpus regclass.slt / regtype.slt): a LITERAL
    * `'name'::regclass` resolves at parse time through the schema
    * emulation's search_path-aware name flattening — `'t'::regclass` and
    * `'s.t'::regclass` reach pg_regclass with DISTINCT flat names, so
    * their oids differ exactly as pg's do. `::regclass::text` renders the
    * search-path-visible spelling (computed here — it is a parse-time
    * constant); unknown relations raise pg's error. regtype `::text`
    * chains route through pg_regtype_out (the name for known type oids).
    * Non-literal operands keep the generic pg_regclass/pg_regtype cast. */
  private def rewriteRegCasts(sql: String): String = {
    if (!"""(?i)::\s*(?:pg_catalog\s*\.\s*)?reg(class|type)\b""".r
          .findFirstIn(sql).isDefined) return sql
    def isCatalogRel(lit: String): Boolean = {
      val parts = lit.replace("\"", "").split("\\.").map(_.trim.toLowerCase)
      parts.last.startsWith("pg_") || parts.last.startsWith("mz_") ||
        (parts.length > 1 && Set("pg_catalog", "mz_catalog", "mz_internal",
          "information_schema").contains(parts(parts.length - 2)))
    }
    def nParts(lit: String): Int = {
      val p = lit.replace("\"", "").split("\\.").filter(_.trim.nonEmpty)
      if (p.length > 2 && p.head.equalsIgnoreCase("materialize")) p.length - 1
      else p.length
    }
    // a flat name that starts with a digit must stay quoted for the
    // runtime resolver (numeric passthrough would swallow it)
    def q(flat: String): String =
      if (flat.headOption.exists(_.isDigit)) "\"" + flat + "\"" else flat
    var out = sql
    // mz: text::regclass must be a valid IDENTIFIER (an all-digit string
    // is not one, unlike pg); a name parses like the direct literal cast
    out = """(?is)('(?:[^']|'')*')\s*::\s*text\s*::\s*(?:pg_catalog\s*\.\s*)?regclass\b""".r
      .replaceSomeIn(out, m =>
        if (insideLiteral(out, m.start)) None
        else {
          val lit = m.group(1).drop(1).dropRight(1).replace("''", "'").trim
          Some(Regex.quoteReplacement(
            if (lit.matches("-?\\d+"))
              s"""raise_error('string is not a valid identifier: "$lit"')"""
            else s"${m.group(1)}::regclass"))
        })
    def isCustomType(lit: String): Boolean = {
      val last = SltSession.normName(lit.split("\\.").last)
      customTypes.contains(last) ||
        customTypes.contains(SltSession.normName(lit))
    }
    def isBuiltinType(lit: String): Boolean =
      graft.functions.FormatTypeExpression.typeOids
        .contains(lit.toLowerCase.replace("\"", ""))
    // custom-type regtype ::text renders the search_path-visible NAME —
    // a parse-time constant, exactly like regclass::text
    out = """(?is)('(?:[^']|'')*')\s*::\s*(?:pg_catalog\s*\.\s*)?regtype\s*::\s*(?:text|string)\b""".r
      .replaceSomeIn(out, m =>
        if (insideLiteral(out, m.start)) None
        else {
          val lit = m.group(1).drop(1).dropRight(1).replace("''", "'").trim
          if (!lit.matches("-?\\d+") && !isBuiltinType(lit) &&
              (isCustomType(lit) || nParts(lit) >= 3))
            Some(Regex.quoteReplacement(
              s"'${SchemaEmulation.visibleTypeName(lit)}'"))
          else None
        })
    // regtype ::text tail → the name-rendering cast
    out = """(?i)::\s*(?:pg_catalog\s*\.\s*)?regtype\s*::\s*(?:text|string)\b""".r
      .replaceAllIn(out, "::regtype_out")
    // numeric operand for the synthesized regtype_out (the generic cast
    // rewriter does not wrap bare numeric operands)
    out = """(?i)\b(\d+)\s*::\s*regtype_out\b""".r
      .replaceSomeIn(out, m =>
        if (insideLiteral(out, m.start)) None
        else Some(Regex.quoteReplacement(s"pg_regtype_out('${m.group(1)}')")))
    // user-defined types resolve to ALLOCATION-ORDER oids — route through
    // pg_oid(pg_regclass(..)) whose rendering difference is a documented
    // known-diff (values differ, identity joins hold)
    out = """(?is)('(?:[^']|'')*')\s*::\s*(?:pg_catalog\s*\.\s*)?regtype\b(?!\s*::\s*(?:text|string)|_out)""".r
      .replaceSomeIn(out, m =>
        if (insideLiteral(out, m.start)) None
        else {
          val lit = m.group(1).drop(1).dropRight(1).replace("''", "'").trim
          if (!lit.matches("-?\\d+") && !isBuiltinType(lit) && isCustomType(lit))
            Some(Regex.quoteReplacement(s"pg_oid(pg_regclass(${m.group(1)}))"))
          else None
        })
    // literal ::regclass::text → the visible name (a parse-time constant)
    val RcText =
      """(?is)('(?:[^']|'')*')\s*::\s*(?:pg_catalog\s*\.\s*)?regclass\s*::\s*(?:text|string)\b""".r
    out = RcText.replaceSomeIn(out, m =>
      if (insideLiteral(out, m.start)) None
      else {
        val lit = m.group(1).drop(1).dropRight(1).replace("''", "'").trim
        val repl =
          if (lit.matches("-?\\d+")) s"'$lit'"
          else if (nParts(lit) >= 3) s"'$lit'" // other-database spelling
          else SchemaEmulation.resolveRelation(lit) match {
            case scala.util.Right(flat) =>
              s"'${SchemaEmulation.visibleName(lit, flat)}'"
            case scala.util.Left(_) if isCatalogRel(lit) => s"'$lit'"
            case scala.util.Left(err) =>
              s"raise_error('${err.replace("'", "''")}')"
          }
        Some(Regex.quoteReplacement(repl))
      })
    // literal ::regclass (non-text tails): resolve the name, keep the oid
    val Rc =
      """(?is)('(?:[^']|'')*')\s*::\s*(?:pg_catalog\s*\.\s*)?regclass\b""".r
    out = Rc.replaceSomeIn(out, m =>
      if (insideLiteral(out, m.start)) None
      else {
        val lit = m.group(1).drop(1).dropRight(1).replace("''", "'").trim
        val repl =
          if (lit.matches("-?\\d+")) s"pg_regclass('$lit')"
          else if (nParts(lit) >= 3) s"pg_regclass('$lit')"
          else SchemaEmulation.resolveRelation(lit) match {
            case scala.util.Right(flat) => s"pg_regclass('${q(flat)}')"
            case scala.util.Left(_) if isCatalogRel(lit) => s"pg_regclass('$lit')"
            case scala.util.Left(err) =>
              s"raise_error('${err.replace("'", "''")}')"
          }
        Some(Regex.quoteReplacement(repl))
      })
    // bare numeric ::regclass (`2::regclass` displays its number)
    out = """(?i)\b(\d+)\s*::\s*(?:pg_catalog\s*\.\s*)?regclass\b""".r
      .replaceSomeIn(out, m =>
        if (insideLiteral(out, m.start)) None
        else Some(Regex.quoteReplacement(s"pg_regclass('${m.group(1)}')")))
    out
  }

  /** pg record-star projection `(rel).*` / `(rel.col).*` (pg composite
    * expansion; reference expands whole-row vars the same way). Spark
    * spells both `rel.*` / `rel.col.*`. */
  private def rewriteRecordStar(sql: String): String = {
    if (!sql.contains(").*")) return sql
    rewriteOutsideLits(sql)(s =>
      """\(\s*([A-Za-z_][\w.]*)\s*\)\s*\.\s*\*""".r.replaceAllIn(s, "$1.*"))
  }

  /** pg quantified comparisons over SUBQUERIES — `x OP ANY/SOME/ALL
    * (SELECT ..)` (pg docs 9.23; the reference plans them as
    * exists/select lowerings, src/sql/src/plan/expr.rs). Spark only
    * parses IN/EXISTS: `= ANY` IS pg's IN and `<> ALL` its NOT IN (same
    * 3VL null semantics); the remaining operators lower onto EXISTS with
    * the comparison inside, pg's own lowering shape. */
  private def rewriteQuantifiedSubquery(sql: String): String = {
    if (!"""(?i)(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(""".r
          .findFirstIn(sql).isDefined) return sql
    val Head = """(?i)(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(""".r
    var out = sql
    var guard = 0
    var m0 = Head.findFirstMatchIn(out)
    while (m0.isDefined && guard < 12) {
      guard += 1
      val m = m0.get
      if (insideLiteral(out, m.start)) { m0 = None }
      else {
        // balanced scan of the subquery
        var i = m.end; var d = 1; var q = false
        while (i < out.length && d > 0) {
          val c = out.charAt(i)
          if (q) { if (c == '\'') q = false }
          else c match {
            case '\'' => q = true
            case '(' => d += 1
            case ')' => d -= 1
            case _ => ()
          }
          i += 1
        }
        val sub = out.substring(m.end, i - 1)
        val op = m.group(1)
        val quant = m.group(2).toUpperCase
        // Spark's IN-subquery in a PROJECTION renders false where pg's
        // = ANY yields NULL (no match + null rows) — every operator goes
        // through the exact 3VL CASE instead
        locally {
            // lift the LHS operand into an EXISTS comparison
            val pre = new StringBuilder(out.substring(0, m.start))
            while (pre.nonEmpty && pre.last == ' ') pre.setLength(pre.length - 1)
            val st0 = castOperandStart(pre)
            // numeric-literal LHS ("1 = ANY(..)"): subscriptOperandStart
            // refuses digit-led operands (not subscriptable), but they ARE
            // valid comparison operands
            val st =
              if (st0 >= 0) st0
              else {
                var j = pre.length - 1
                val end = j
                while (j >= 0 && (pre.charAt(j).isDigit || pre.charAt(j) == '.')) j -= 1
                if (end > j && (j < 0 || !isWordChar(pre.charAt(j)))) j + 1 else -1
              }
            if (st < 0) { m0 = None }
            else {
              val lhs = out.substring(st, m.start).trim
              val cmp = s"($lhs) $op graft_qv"
              val isSubquery = """(?is)^\s*\(*\s*(SELECT|VALUES|WITH|TABLE)\b""".r
                .findFirstIn(sub).isDefined
              def ex(cond: String) =
                s"EXISTS (SELECT 1 FROM ($sub) AS graft_qs(graft_qv) WHERE $cond)"
              def exArr(pred: String) =
                s"exists(${sub.trim}, graft_qv -> $pred)"
              // pg 3VL: ANY = true if any comparison true, else NULL if
              // any unknown, else false; ALL dually (pg docs 9.23.3-4).
              // The pg 9.23/9.24 forms over ARRAYS share the same logic
              // via higher-order exists; a NULL array yields NULL.
              val repl =
                if (isSubquery && quant == "ALL")
                  s"(CASE WHEN ${ex(s"NOT($cmp)")} THEN false " +
                    s"WHEN ${ex(s"($cmp) IS NULL")} THEN CAST(NULL AS BOOLEAN) " +
                    "ELSE true END)"
                else if (isSubquery)
                  s"(CASE WHEN ${ex(cmp)} THEN true " +
                    s"WHEN ${ex(s"($cmp) IS NULL")} THEN CAST(NULL AS BOOLEAN) " +
                    "ELSE false END)"
                else if (quant == "ALL")
                  // mz lowers array quantifiers via unnest: a NULL array
                  // unnests to no rows (vacuous true), like the empty one
                  s"(CASE WHEN ${exArr(s"NOT($cmp)")} THEN false " +
                    s"WHEN ${exArr(s"($cmp) IS NULL")} THEN CAST(NULL AS BOOLEAN) " +
                    "ELSE true END)"
                else
                  s"(CASE WHEN ${exArr(cmp)} THEN true " +
                    s"WHEN ${exArr(s"($cmp) IS NULL")} THEN CAST(NULL AS BOOLEAN) " +
                    "ELSE false END)"
              out = out.substring(0, st) + repl + out.substring(i)
            }
        }
        if (m0.isDefined) m0 = Head.findFirstMatchIn(out)
      }
    }
    out
  }

  /** pg-standard-conforming string literals whose content ends in an ODD
    * run of backslashes (`VALUES ('\')`, the standard_conforming_strings
    * surface): Spark's lexer grammar consumes `\'` as an escaped quote
    * regardless of the escapedStringLiterals setting, so the statement
    * never parses. Rewrite `'...\'` → `('...' || chr(92))`, scanning
    * literals pg-style ('' doubles, backslash plain). */
  private def rewriteTrailingBackslashLiterals(sql: String): String = {
    val sb = new StringBuilder(sql.length + 16)
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        val start = i
        i += 1
        val content = new StringBuilder
        var closed = false
        while (i < sql.length && !closed) {
          val ch = sql.charAt(i)
          if (ch == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
              content ++= "''"; i += 2
            } else { closed = true; i += 1 }
          } else { content += ch; i += 1 }
        }
        val s = content.toString
        var k = 0
        while (k < s.length && s.charAt(s.length - 1 - k) == '\\') k += 1
        if (closed && k % 2 == 1)
          sb ++= s"('${s.dropRight(1)}' || chr(92))"
        else sb ++= sql.substring(start, i)
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** `current_schema()` / `current_schemas(bool)` are SEARCH-PATH
    * functions (pg docs; reference `src/sql/src/func.rs` CurrentSchema):
    * with the path honored at parse time their value is a parse-time
    * constant — the first EXISTING path schema (NULL when none), and the
    * existing-path list with the implicit mz_catalog/pg_catalog pair.
    * current_schemas stays mz-only (crdb's implicit list differs). */
  private def rewriteCurrentSchema(sql: String, crdb: Boolean): String = {
    if (!sql.toLowerCase.contains("current_schema")) return sql
    var out = rewriteOutsideLits(sql)(s =>
      """(?i)\bcurrent_schema\s*\(\s*\)|\bcurrent_schema\b(?!s|\s*\()""".r
        .replaceAllIn(s, _ => Regex.quoteReplacement(
          SchemaEmulation.currentSchemaVisible
            .map(n => s"'$n'").getOrElse("CAST(NULL AS STRING)"))))
    if (!crdb)
      out = rewriteOutsideLits(out)(s =>
        """(?i)\bcurrent_schemas\s*\(\s*(true|false)\s*\)""".r
          .replaceAllIn(s, m => Regex.quoteReplacement(
            SchemaEmulation.currentSchemasVisible(
              m.group(1).equalsIgnoreCase("true"))
              .map(n => s"'$n'").mkString("array(", ", ", ")"))))
    out
  }

  private[slt] def rewriteNameCasts(sql: String): String = {
    if ("""(?i)::\s*_?(name|jsonb?|oid|time|uuid|uint[248]|int2vector|int4range|int8range|numrange|daterange|tsrange|tstzrange|regclass|regtype(_out)?)\b(?!stamp)"""
      .r.findFirstIn(sql).isEmpty) return sql
    val sb = new StringBuilder(sql.length)
    var i = 0
    var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if (c == ':' && i + 1 < sql.length && sql.charAt(i + 1) == ':') {
        var j = i + 2
        while (j < sql.length && sql.charAt(j) == ' ') j += 1
        castFnTypes.find { case (t, _) =>
          sql.regionMatches(true, j, t, 0, t.length) &&
            (j + t.length >= sql.length || !isWordChar(sql.charAt(j + t.length)))
        } match {
          case Some((t, fn)) =>
            val start =
              if (fn.startsWith("pg_uint")) checkedCastOperandStart(sb)
              else castOperandStart(sb)
            if (start >= 0) { sb.insert(start, s"$fn("); sb ++= ")" }
            else sb ++= "::string"
            i = j + t.length
          case None => sb ++= "::"; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** pg jsonb operators → the engine's jsonb function family. A
    * left-to-right scanner: the LEFT operand is delimited by walking the
    * emitted buffer backwards (literal / identifier / call / balanced
    * group, like subscripts), the RIGHT operand by walking forward over a
    * literal/number/identifier/call plus any `::type[]` suffix (consumed —
    * pg-array path literals are parsed by the function itself, and the
    * operand's own `::jsonb` casts were already rewritten to calls). */
  private val jsonbOps: Seq[(String, String, Boolean)] = Seq(
    // (operator, function, swapArgs)
    ("->>", "jsonb_get_text", false),
    ("->", "jsonb_get", false),
    ("#>>", "jsonb_get_path_text", false),
    ("#>", "jsonb_get_path", false),
    ("@>", "jsonb_contains", false),
    ("<@", "jsonb_contains", true),
    ("?", "jsonb_exists", false),
    // `||` / `-` only when a side is visibly jsonb (a jsonb_* call) —
    // string concat / arithmetic otherwise
    ("||", "jsonb_concat", false),
    ("-", "jsonb_delete", false))

  private[slt] def rewriteJsonbOps(sql: String): String = {
    if (!sql.contains("->") && !sql.contains("#>") && !sql.contains("@>") &&
        !sql.contains("<@") && !sql.contains("?") && !sql.contains("||") &&
        !sql.contains("-")) return sql
    val sb = new StringBuilder(sql.length)
    var i = 0
    var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else {
        jsonbOps.find { case (op, _, _) => sql.regionMatches(false, i, op, 0, op.length) } match {
          case Some((op, _, _)) if op == "->" && {
            // a generated higher-order-function LAMBDA arrow (earlier
            // rewrites emit `graft_* -> ...` and multi-arg heads
            // `(graft_a, graft_b) -> ...`) is not the jsonb operator
            var j = sb.length - 1
            while (j >= 0 && sb.charAt(j) == ' ') j -= 1
            if (j >= 0 && sb.charAt(j) == ')') {
              var d = 0; var k = j
              while (k >= 0 && {
                val ch = sb.charAt(k)
                d += (if (ch == ')') 1 else if (ch == '(') -1 else 0)
                d != 0
              }) k -= 1
              k >= 0 &&
                sb.substring(k, j + 1)
                  .matches("""\(\s*graft_\w+(\s*,\s*graft_\w+)*\s*\)""") &&
                (k == 0 || !isWordChar(sb.charAt(k - 1)))
            } else {
              val e = j
              while (j >= 0 && isWordChar(sb.charAt(j))) j -= 1
              sb.substring(j + 1, e + 1).startsWith("graft_")
            }
          } =>
            sb ++= op; i += op.length
          case Some((op, fn, swap)) =>
            val lStart = castOperandStart(sb)
            val rEnd = if (lStart < 0) -1 else forwardOperandEnd(sql, i + op.length)
            val lText = if (lStart < 0) "" else sb.substring(lStart)
            val rText =
              if (rEnd < 0) ""
              else stripCastSuffix(sql.substring(i + op.length, rEnd).trim)
            // visibly-jsonb: a jsonb_* call or a quoted JSON-looking literal.
            // `@>`/`<@`/`?` are gated like `||`/`-` — non-jsonb uses (array
            // containment over column refs, range/inet `@>`) must fall
            // through rather than silently evaluate as jsonb containment
            // over text that happens to parse as JSON.
            def jsonLooking(s: String): Boolean = {
              val t = s.trim
              t.startsWith("jsonb_") ||
                (t.startsWith("'") && t.length > 2 &&
                  (t.charAt(1) == '{' || t.charAt(1) == '['))
            }
            val jsonbSide =
              if (op == "-") lText.trim.startsWith("jsonb_")
              else jsonLooking(lText) || jsonLooking(rText)
            // list-tagged / list-cast operands are arrays too — mz list
            // containment shares pg array containment semantics
            def arrayish(s: String): Boolean = {
              val t = s.trim
              t.startsWith("array(") || t.startsWith("mz_list_tag(") ||
                t.startsWith("mz_list_in(") || t.startsWith("mz_list_cast(") ||
                t.startsWith("mz_list_cat(") || t.startsWith("mz_list_slice(") ||
                t.startsWith("mz_list_subscript(")
            }
            val bothArrays = arrayish(lText) && arrayish(rText)
            def mapish(s: String): Boolean = {
              val t = s.trim
              t.startsWith("mz_map_in(") || t.startsWith("mz_map_build(") ||
                t.startsWith("map(")
            }
            val bothMaps = mapish(lText) && mapish(rText)
            // list/array `||` with exactly ONE visible array side is the
            // ELEMENT append/prepend (reference list_append/list_prepend;
            // pg array || elem). Quoted literals stay native: pg would
            // cast them to the list type, not append the text.
            // the scalar side must be PROVABLY scalar (a bare identifier
            // may name an array column, where || is CONCAT; a bare NULL is
            // the NULL list)
            def scalarish(s0: String): Boolean = {
              val t = s0.trim
              t.matches("""(?is)-?\d+(\.\d+)?(::\w+)?""") ||
                t.matches("""(?is)NULL\s*::\s*\w+""")
            }
            val oneSidedArr = op == "||" &&
              ((arrayish(lText) && scalarish(rText)) ||
                (scalarish(lText) && arrayish(rText)))
            if (lStart < 0 || rEnd < 0 ||
                ((op == "||" || op == "-") && !jsonbSide && !oneSidedArr) ||
                ((op == "@>" || op == "<@" || op == "?") && !jsonbSide &&
                  !bothArrays && !bothMaps)) {
              sb ++= op; i += op.length
            } else if (oneSidedArr) {
              sb.setLength(lStart)
              sb ++= (if (arrayish(lText)) s"mz_list_append($lText, $rText)"
                else s"mz_list_prepend($lText, $rText)")
              i = rEnd
            } else if ((op == "@>" || op == "<@") && bothMaps) {
              // mz MAP containment: every key of the small side PRESENT in
              // the big side with an EQUAL value (map_contains_map,
              // reference src/expr/src/scalar/func.rs — a NULL value in the
              // small map must not 'match' a big map lacking the key, so
              // key presence is checked before the null-safe value compare)
              val (big, small) = if (op == "@>") (lText, rText) else (rText, lText)
              sb.setLength(lStart)
              sb ++= s"coalesce(forall(map_keys($small), graft_mc -> " +
                s"array_contains(map_keys($big), graft_mc) AND " +
                s"(try_element_at($big, graft_mc) <=> " +
                s"try_element_at($small, graft_mc))), false)"
              i = rEnd
            } else if ((op == "@>" || op == "<@") && bothArrays) {
              // pg ARRAY containment (strict equality; NULL matches nothing)
              val (big, small) = if (op == "@>") (lText, rText) else (rText, lText)
              sb.setLength(lStart)
              sb ++= s"coalesce(forall($small, graft_ac -> array_contains($big, graft_ac)), false)"
              i = rEnd
            } else {
              sb.setLength(lStart)
              sb ++= (if (swap) s"$fn($rText, $lText)" else s"$fn($lText, $rText)")
              i = rEnd
            }
          case None => sb += c; i += 1
        }
      }
    }
    sb.toString
  }

  // ---- pg range operator surface -------------------------------------------

  /** Columns declared with a range type in the current file's CREATE TABLEs
    * (name -> kind). Bare identifiers in operator / ORDER BY / lower()
    * positions resolve through this; cleared per file. */
  private val rangeColumns =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-file custom-type registry (CREATE TYPE), populated at parse time
    * in record order exactly like [[rangeColumns]]. */
  private val customTypes =
    scala.collection.concurrent.TrieMap.empty[String, SltSession.CustomType]

  /** Parse-time relation names (CREATE TABLE/VIEW/MV) in record order —
    * mz types and relations share a namespace, so CREATE TYPE over an
    * existing relation (and vice versa) is a catalog collision
    * (types.slt:512-530). Cleared per file. */
  private val parseRelKinds =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Tables whose CREATE TABLE declared interval-typed columns (stored as
    * mz-canonical text, reference src/repr/src/adt/interval.rs Display).
    * INSERTs into these get their INTERVAL literals routed through the
    * mz_interval engine at parse time; populated like [[rangeColumns]]. */
  private val intervalTables =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Names created as MATERIALIZED VIEW in the current file (the runner
    * stores them as temp views; mz_comments still reports the mz kind). */
  private val sltMvNames =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** MV name -> cluster recorded when the shim strips `IN CLUSTER <c>`
    * (placement only); SHOW MATERIALIZED VIEWS reports it. The reference's
    * default cluster is `quickstart`. */
  private val mvClusters =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-file column-type registries (populated at CREATE TABLE tagging,
    * record order, like [[rangeColumns]]): pg resolves UNTYPED literals and
    * some function overloads by the other operand's type, which Spark's
    * double-widening coercion loses —
    *  - float4/real columns: `f1 = '1004.3'` compares in float4 in pg;
    *  - float columns generally: `ceil/floor(float8) -> float8` (Spark's
    *    builtins return BIGINT);
    *  - bytea columns: `b::text` renders pg's `\x<hex>` form. */
  private val realColumns =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val dblColumns =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val byteaColumns =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Load-generator sources created in the current file: canonical source
    * name -> generator kind (AUCTION/COUNTER/TPCH/...), consulted by the
    * CREATE TABLE .. FROM SOURCE classify branch. */
  private val sourceGenKinds =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val SltCreateSourceGen: Regex =
    ("""(?is)^\s*CREATE\s+SOURCE\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?([\w.]+)["`]?""" +
      """(?:\s+IN\s+CLUSTER\s+["`]?\w+["`]?)?\s+FROM\s+LOAD\s+GENERATOR\s+""" +
      """(AUCTION|COUNTER|TPCH|MARKETING|CLOCK|DATUMS|KEY\s+VALUE)\b.*$""").r

  private val SltDropSource: Regex =
    """(?is)^\s*DROP\s+SOURCE\s+(IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s*(?:CASCADE|RESTRICT)?\s*;?\s*$""".r

  /** Plain webhook sources (BODY FORMAT + optional INCLUDE HEADERS only —
    * CHECK/validation clauses keep their skip). */
  private val SltCreateWebhook: Regex =
    ("""(?is)^\s*CREATE\s+SOURCE\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)["`]?""" +
      """(?:\s+IN\s+CLUSTER\s+["`]?\w+["`]?)?\s+FROM\s+WEBHOOK\s+""" +
      """BODY\s+FORMAT\s+(TEXT|JSON|BYTES)((?:\s+INCLUDE\s+HEADERS)?)\s*;?\s*$""").r

  private val SltCreateTableFromSource: Regex =
    ("""(?is)^\s*CREATE\s+TABLE\s+["`]?([\w.]+)["`]?\s+FROM\s+SOURCE\s+""" +
      """["`]?([\w.]+)["`]?\s*(?:\(\s*REFERENCE\s+["`]?([\w.]+)["`]?\s*\))?\s*;?\s*$""").r

  /** Deterministic SQL body for a load-generator relation, with the
    * reference's schema (load_generator.rs views()): region/nation carry
    * their TPC-H-spec fixed rows; sized TPCH relations are schema-true and
    * empty (row content is SF- and seed-dependent in the reference, and
    * the gated fixtures assert statements, not rows). */
  private def loadGenViewSql(kind: String, ref: Option[String]): Option[String] = {
    def empty(cols: (String, String)*): String =
      "SELECT " + cols.map { case (n, t) => s"CAST(NULL AS $t) AS $n" }
        .mkString(", ") + " WHERE 1=0"
    kind match {
      case "COUNTER" if ref.isEmpty || ref.contains("counter") =>
        Some("SELECT id + 1 AS counter FROM range(3)")
      case "AUCTION" => ref.collect {
        case "organizations" =>
          "SELECT id AS id, concat('Org #', id) AS name FROM range(1, 11)"
        case "users" =>
          "SELECT id AS id, (id % 10) + 1 AS org_id, concat('user ', id) AS name FROM range(1, 26)"
        case "accounts" =>
          "SELECT id AS id, ((id - 1) % 10) + 1 AS org_id, (id * 37) % 10000 AS balance FROM range(1, 26)"
        case "auctions" =>
          "SELECT id AS id, ((id * 7) % 25) + 1 AS seller, " +
            "element_at(array('book','car','gem','art','toy'), CAST(id % 5 AS INT) + 1) AS item, " +
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id AS INT),0) AS end_time FROM range(1, 11)"
        case "bids" =>
          "SELECT id AS id, ((id * 11) % 25) + 1 AS buyer, ((id - 1) % 10) + 1 AS auction_id, " +
            "CAST((id * 13) % 100 AS INT) AS amount, " +
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id % 10 AS INT),CAST(id AS INT) % 60) AS bid_time FROM range(1, 51)"
      }
      case "TPCH" => ref.collect {
        case "region" =>
          "SELECT * FROM VALUES (0,'AFRICA',''),(1,'AMERICA',''),(2,'ASIA',''),(3,'EUROPE',''),(4,'MIDDLE EAST','') " +
            "AS t(r_regionkey, r_name, r_comment)"
        case "nation" =>
          "SELECT * FROM VALUES (0,'ALGERIA',0,''),(1,'ARGENTINA',1,''),(2,'BRAZIL',1,''),(3,'CANADA',1,'')," +
            "(4,'EGYPT',4,''),(5,'ETHIOPIA',0,''),(6,'FRANCE',3,''),(7,'GERMANY',3,''),(8,'INDIA',2,'')," +
            "(9,'INDONESIA',2,''),(10,'IRAN',4,''),(11,'IRAQ',4,''),(12,'JAPAN',2,''),(13,'JORDAN',4,'')," +
            "(14,'KENYA',0,''),(15,'MOROCCO',0,''),(16,'MOZAMBIQUE',0,''),(17,'PERU',1,''),(18,'CHINA',2,'')," +
            "(19,'ROMANIA',3,''),(20,'SAUDI ARABIA',4,''),(21,'VIETNAM',2,''),(22,'RUSSIA',3,'')," +
            "(23,'UNITED KINGDOM',3,''),(24,'UNITED STATES',1,'') " +
            "AS t(n_nationkey, n_name, n_regionkey, n_comment)"
        case "customer" => empty("c_custkey" -> "BIGINT", "c_name" -> "STRING",
          "c_address" -> "STRING", "c_nationkey" -> "BIGINT", "c_phone" -> "STRING",
          "c_acctbal" -> "DECIMAL(15,2)", "c_mktsegment" -> "STRING", "c_comment" -> "STRING")
        case "orders" => empty("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
          "o_orderstatus" -> "STRING", "o_totalprice" -> "DECIMAL(15,2)",
          "o_orderdate" -> "DATE", "o_orderpriority" -> "STRING", "o_clerk" -> "STRING",
          "o_shippriority" -> "INT", "o_comment" -> "STRING")
        case "lineitem" => empty("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
          "l_suppkey" -> "BIGINT", "l_linenumber" -> "INT", "l_quantity" -> "DECIMAL(15,2)",
          "l_extendedprice" -> "DECIMAL(15,2)", "l_discount" -> "DECIMAL(15,2)",
          "l_tax" -> "DECIMAL(15,2)", "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
          "l_shipdate" -> "DATE", "l_commitdate" -> "DATE", "l_receiptdate" -> "DATE",
          "l_shipinstruct" -> "STRING", "l_shipmode" -> "STRING", "l_comment" -> "STRING")
        case "part" => empty("p_partkey" -> "BIGINT", "p_name" -> "STRING",
          "p_mfgr" -> "STRING", "p_brand" -> "STRING", "p_type" -> "STRING",
          "p_size" -> "INT", "p_container" -> "STRING",
          "p_retailprice" -> "DECIMAL(15,2)", "p_comment" -> "STRING")
        case "partsupp" => empty("ps_partkey" -> "BIGINT", "ps_suppkey" -> "BIGINT",
          "ps_availqty" -> "INT", "ps_supplycost" -> "DECIMAL(15,2)", "ps_comment" -> "STRING")
        case "supplier" => empty("s_suppkey" -> "BIGINT", "s_name" -> "STRING",
          "s_address" -> "STRING", "s_nationkey" -> "BIGINT", "s_phone" -> "STRING",
          "s_acctbal" -> "DECIMAL(15,2)", "s_comment" -> "STRING")
      }
      case _ => None
    }
  }

  /** Tables that later receive a `'NaN'` INSERT in the current file. pg
    * numeric admits NaN (reference `src/repr/src/adt/numeric.rs`); Spark
    * DecimalType has no NaN, so these tables' numeric columns are stored as
    * double — the SLT text canonicalization (%.3f both sides) keeps the
    * renderings comparable, and Spark's NaN ordering/equality (largest,
    * equal to itself) matches pg numeric's. Populated by a file pre-scan. */
  private val nanDoubleTables =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  private[slt] def clearRangeColumns(): Unit = {
    rangeColumns.clear(); customTypes.clear(); sltMvNames.clear()
    parseRelKinds.clear()
    nanDoubleTables.clear(); mvClusters.clear()
    realColumns.clear(); dblColumns.clear(); byteaColumns.clear()
    intervalTables.clear(); sourceGenKinds.clear(); SchemaEmulation.reset()
  }

  /** Session custom types as pg_type rows: named lists carry typelem
    * (corpus pg_catalog_attribute.slt:184-199), records are composites. */
  private def customTypeRows: Seq[PgCatalogViews.CustomTypeRow] =
    customTypes.toSeq.map { case (n, t) =>
      val elem = t match {
        case SltSession.ListType(e) =>
          val en = SltSession.normName(e)
          PgCatalogRelations.oidOfTypname.getOrElse(en,
            if (customTypes.contains(en)) PgCatalogRelations.userOid(en) else 0)
        case _ => 0
      }
      val tt = t match { case _: SltSession.RecordType => "c"; case _ => "b" }
      PgCatalogViews.CustomTypeRow(n, elem, tt)
    }

  private val UintColDef =
    """(?i)([A-Za-z_]\w*)\s+(uint2|uint4|uint8)\b""".r

  private val RangeColDef =
    """(?i)([A-Za-z_]\w*)\s+(int4range|int8range|numrange|daterange|tsrange|tstzrange)\b""".r

  private val rangeMarkers = Seq(
    "pg_int4range(", "pg_int8range(", "pg_numrange(", "pg_daterange(",
    "pg_tsrange(", "pg_tstzrange(", "int4range(", "int8range(", "numrange(",
    "daterange(", "tsrange(", "tstzrange(", "range_union(",
    "range_intersect(", "range_minus(")

  private def isRangeOperand(s0: String): Boolean = {
    val s = s0.trim.toLowerCase
    rangeMarkers.exists(s.startsWith) || rangeColumns.contains(s)
  }

  /** Statically-known kind of a range operand, for operator resolution. */
  private def rangeKindOf(s0: String): Option[String] = {
    val s = s0.trim.toLowerCase
    rangeColumns.get(s).orElse(
      Seq("int4range", "int8range", "numrange", "daterange", "tsrange", "tstzrange")
        .find(k => s.startsWith(k + "(") || s.startsWith(s"pg_$k(")))
  }

  private def matchingParen(sql: String, open: Int): Int = {
    var depth = 0; var inQ = false; var i = open
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  // (operator, handler tag) longest-first; scanned left-to-right like the
  // jsonb ops, gated on a visibly-range side so arithmetic / comparisons on
  // ordinary values never rewrite
  private val rangeOps: Seq[(String, String)] = Seq(
    "-|-" -> "range_adjacent",
    "@>" -> "contains",
    "<@" -> "contains_swap",
    "&<" -> "range_notextright",
    "&>" -> "range_notextleft",
    "&&" -> "range_overlaps",
    "<<" -> "range_before",
    ">>" -> "range_after",
    "<=" -> "cmp <=", ">=" -> "cmp >=", "!=" -> "cmp !=", "<>" -> "cmp !=",
    "<" -> "cmp <", ">" -> "cmp >", "=" -> "cmp =",
    "+" -> "range_union", "*" -> "range_intersect", "-" -> "range_minus")

  /** pg range operators and the lower()/upper() accessors → the engine's
    * range function family (reference operator table
    * `src/expr/src/scalar/func/impls/range.rs`). Runs after
    * rewriteNameCasts (so `::int4range` casts are already `pg_int4range(`
    * markers) and before rewriteJsonbOps (so `@>`/`<@` with a range side
    * never reach the jsonb containment rewrite). */
  private[slt] def rewriteRangeOps(sql: String): String = {
    if (rangeColumns.isEmpty && !sql.toLowerCase.contains("range")) return sql
    val sb = new StringBuilder(sql.length)
    var i = 0
    var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else {
        val fnHit = Seq("lower", "upper").find { fn =>
          sql.regionMatches(true, i, fn, 0, fn.length) &&
            (i == 0 || !isWordChar(sql.charAt(i - 1))) && {
              val j = i + fn.length
              j < sql.length && sql.charAt(j) == '('
            }
        }
        lazy val opHit = rangeOps.find { case (op, _) =>
          sql.regionMatches(false, i, op, 0, op.length)
        }
        if (fnHit.isDefined) {
          val fn = fnHit.get.toLowerCase
          val open = i + fnHit.get.length
          val close = matchingParen(sql, open)
          val inner = if (close < 0) "" else sql.substring(open + 1, close)
          if (close > 0 && isRangeOperand(inner)) {
            sb ++= s"range_$fn(" ++= inner ++= ")"
            i = close + 1
          } else { sb += c; i += 1 }
        } else if (opHit.isDefined) {
          val (op, tag) = opHit.get
          val lStart = castOperandStart(sb)
          val rEnd = if (lStart < 0) -1 else forwardOperandEnd(sql, i + op.length)
          val lText = if (lStart < 0) "" else sb.substring(lStart).trim
          val rText = if (rEnd < 0) "" else sql.substring(i + op.length, rEnd).trim
          val lRange = lText.nonEmpty && isRangeOperand(lText)
          val rRange = rText.nonEmpty && isRangeOperand(rText)
          if (lStart < 0 || rEnd < 0 || (!lRange && !rRange)) {
            sb ++= op; i += op.length
          } else {
            def elemCall(r: String, e: String): String =
              rangeKindOf(r) match {
                case Some(k) => s"range_contains_elem($r, $e, '$k')"
                case None => s"range_contains_elem($r, $e)"
              }
            val call = tag match {
              case "contains" =>
                if (lRange && rRange) s"range_contains($lText, $rText)"
                else if (lRange) elemCall(lText, rText)
                else { sb ++= op; i += op.length; "" } // elem @> range: not an op
              case "contains_swap" =>
                if (lRange && rRange) s"range_contains($rText, $lText)"
                else if (rRange) elemCall(rText, lText)
                else { sb ++= op; i += op.length; "" }
              case t if t.startsWith("cmp ") =>
                s"range_cmp($lText, $rText) ${t.stripPrefix("cmp ")} 0"
              case fn2 => s"$fn2($lText, $rText)"
            }
            if (call.nonEmpty) {
              sb.setLength(lStart)
              sb ++= call
              i = rEnd
            }
          }
        } else { sb += c; i += 1 }
      }
    }
    sb.toString
  }

  /** `array_agg(v ORDER BY k)` (single ascending key) → a deterministic
    * Spark spelling: collect structs of (key, value), array_sort by the
    * key, project the value back out. pg's in-aggregate ORDER BY is exact
    * semantics, not a hint — without this the records are unorderable
    * skips. A bare range-column key sorts by pg's range order. DESC /
    * multi-key forms are left for the known-diff census. */
  /** pg zero-column select lists (`SELECT FROM t`, `SELECT INTERSECT
    * SELECT`, `(SELECT)`): Spark requires at least one item — insert a NULL
    * dummy, preserving row multiplicity. Quote-aware full-statement scan:
    * the empty-list shapes (`select` directly before FROM / a set-op /
    * `)` / `;` / end) can't be confused with a real select list, and a
    * SELECT followed by a literal is never zero-column. */
  private[slt] def rewriteZeroColumnSelect(sql: String): String = {
    val lo = sql.toLowerCase
    if (!lo.contains("select")) return sql
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    val sb = new StringBuilder(sql.length + 32)
    var i = 0; var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if ((c == 's' || c == 'S') && sql.regionMatches(true, i, "SELECT", 0, 6) &&
          (i == 0 || !isWord(sql.charAt(i - 1))) &&
          (i + 6 >= sql.length || !isWord(sql.charAt(i + 6)))) {
        var j = i + 6
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        val atEnd = j >= sql.length || sql.charAt(j) == ')' || sql.charAt(j) == ';'
        val beforeKw = Seq("FROM", "INTERSECT", "EXCEPT", "UNION").exists(k =>
          sql.regionMatches(true, j, k, 0, k.length) &&
            (j + k.length >= sql.length || !isWord(sql.charAt(j + k.length))))
        sb ++= sql.substring(i, i + 6)
        if (atEnd || beforeKw) sb ++= " NULL AS __zerocol "
        i += 6
      }
      else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** mz LIST type surface → Spark arrays (the constructors are handled by
    * the bracket scanner; this pass covers the TYPE spellings and the
    * list function family — reference src/repr/src/adt list docs,
    * corpus list.slt):
    *  - `'text'::T list [list..]` → `mz_list_in(text, 'T', depth)` (the
    *    mz text-form parser with its error fidelity);
    *  - other `::T list [list..]` / `CAST(x AS T list..)` → Spark
    *    `array<..>` casts;
    *  - list_agg → array_agg (same collector; lists render {..} like
    *    arrays), list_cat → array_cat, list_length → cardinality,
    *    list_remove → array_remove; list_append/list_prepend keep pg
    *    NULL semantics via dedicated expressions. */
  private val listElemTypes =
    """int|integer|int4|int2|smallint|bigint|int8|oid|text|string|varchar|char|bpchar|""" +
      """double\s+precision|double|float8|float4|float|real|bool|boolean|date|""" +
      """timestamptz|timestamp|numeric|decimal"""

  /** Expand a REGISTERED custom list type name in cast position to its
    * structural definition (`::int4_list` → `::int4 list`, recursively for
    * list-of-list types) so the list-cast rewrites below see the shape the
    * reference resolves it to (reference scalar_type_from_catalog). The
    * custom NAME identity for pg_typeof is folded separately upstream. */
  private def expandCustomListTypes(sql: String): String = {
    if (customTypes.isEmpty || !sql.contains("::")) return sql
    def expansionOf(n: String, depth: Int = 0): Option[String] =
      if (depth > SltSession.typeDepthLimit) None
      else customTypes.get(n) match {
        case Some(SltSession.ListType(e)) =>
          val en = SltSession.normName(e)
          // timestamptz leaves excluded: the structural TimestampType
          // render drops the +00 zone suffix mz prints
          if (en == "timestamptz") None
          else if (SltSession.builtinTypes.contains(en)) Some(s"$en list")
          else expansionOf(en, depth + 1).map(x => s"$x list")
        case _ => None
      }
    """::\s*"?([A-Za-z_]\w*)"?""".r.replaceSomeIn(sql, m =>
      if (insideLiteral(sql, m.start)) None
      else expansionOf(SltSession.normName(m.group(1)))
        .map(x => Regex.quoteReplacement("::" + x)))
  }

  private[slt] def rewriteListCasts(sql0: String): String = {
    val sql = expandCustomListTypes(sql0)
    if (!"""(?i)\blist""".r.findFirstIn(sql).isDefined) return sql
    val lit = ("""(?is)('(?:[^']|'')*')\s*::\s*(""" + listElemTypes +
      """)((?:\s+list\b)+)""").r
    val s1 = lit.replaceAllIn(sql, m => {
      val depth = """(?i)list""".r.findAllIn(m.group(3)).length
      Regex.quoteReplacement(
        s"mz_list_in(${m.group(1)}, '${m.group(2).toLowerCase}', $depth)")
    })
    def sparkT(t: String): String = t.toLowerCase.replaceAll("\\s+", " ") match {
      case "int" | "integer" | "int4" | "int2" | "smallint" | "oid" => "int"
      case "bigint" | "int8" => "bigint"
      case "double precision" | "double" | "float8" | "float" => "double"
      case "float4" | "real" => "float"
      case "bool" | "boolean" => "boolean"
      case "date" => "date"
      case "timestamp" | "timestamptz" => "timestamp"
      case "numeric" | "decimal" => "double"
      case _ => "string"
    }
    def arrTy(t: String, depth: Int): String =
      (1 to depth).foldLeft(sparkT(t))((acc, _) => s"array<$acc>")
    // simple operands keep list identity for pg_typeof via mz_list_cast
    val castSimple = ("""(?is)(?<![\w.'")\]])((?:NULL|[A-Za-z_][\w.]*|""" +
      """'(?:[^']|'')*')(?:\s*::\s*\w+\s*\[\s*\])?)\s*::\s*(""" +
      listElemTypes + """)((?:\s+list\b)+)""").r
    val s1b = castSimple.replaceAllIn(s1, m => {
      val depth = """(?i)list""".r.findAllIn(m.group(3)).length
      Regex.quoteReplacement(
        s"mz_list_cast(${m.group(1)}, '${m.group(2).toLowerCase}', $depth)")
    })
    val gen = ("""(?is)::\s*(""" + listElemTypes + """)((?:\s+list\b)+)""").r
    val s2 = gen.replaceAllIn(s1b, m => {
      val depth = """(?i)list""".r.findAllIn(m.group(2)).length
      Regex.quoteReplacement("::" + arrTy(m.group(1), depth))
    })
    // CAST(x AS T list) with a simple operand keeps list identity
    val castFn = ("""(?is)\bCAST\s*\(\s*(NULL|'(?:[^']|'')*'|[\w.]+)\s+AS\s+(""" +
      listElemTypes + """)((?:\s+list\b)+)\s*\)""").r
    val s2b = castFn.replaceAllIn(s2, m => {
      val depth = """(?i)list""".r.findAllIn(m.group(3)).length
      Regex.quoteReplacement(
        s"mz_list_cast(${m.group(1)}, '${m.group(2).toLowerCase}', $depth)")
    })
    val castAs = ("""(?is)\bAS\s+(""" + listElemTypes + """)((?:\s+list\b)+)\s*\)""").r
    val s3 = castAs.replaceAllIn(s2b, m => {
      val depth = """(?i)list""".r.findAllIn(m.group(2)).length
      Regex.quoteReplacement("AS " + arrTy(m.group(1), depth) + ")")
    })
    rewriteOutsideLits(s3) { s =>
      var t = """(?i)\blist_agg\s*\(""".r.replaceAllIn(s, "array_agg(")
      t = """(?i)\blist_cat\s*\(""".r.replaceAllIn(t, "mz_list_cat(")
      t = """(?i)\blist_length\s*\(""".r.replaceAllIn(t, "cardinality(")
      t = """(?i)\blist_remove\s*\(""".r.replaceAllIn(t, "mz_list_remove(")
      t = """(?i)\blist_append\s*\(""".r.replaceAllIn(t, "mz_list_append(")
      t = """(?i)\blist_prepend\s*\(""".r.replaceAllIn(t, "mz_list_prepend(")
      t
    }
  }

  /** Words that can directly precede a PREFIX `~` (bitwise not): after a
    * keyword the tilde cannot be the binary regex-match operator. */
  private val regexOpKeywords = Set("select", "where", "and", "or", "not",
    "when", "then", "else", "case", "on", "by", "having", "as", "in", "is",
    "all", "any", "some", "distinct", "from", "join", "union", "intersect",
    "except", "limit", "offset", "between", "like", "ilike", "escape",
    "values", "returning", "set", "order", "group", "filter", "over",
    "partition", "exists")

  /** pg regex-match operators → Spark spellings (reference func.rs
    * IsRegexpMatch / the pg `~` operator family): binary `~` → RLIKE,
    * `!~` → NOT RLIKE, `~*`/`!~*` → RLIKE with a `(?i)` prefix on the
    * pattern, `~~`/`~~*`/`!~~`/`!~~*` → LIKE / ILIKE / NOT LIKE /
    * NOT ILIKE. A tilde whose left neighbor is a keyword, a comma, or an
    * opening paren is pg's PREFIX bitwise-not and stays untouched. */
  private[slt] def rewriteRegexMatchOps(sql0: String): String = {
    if (sql0.indexOf('~') < 0) return sql0
    val s = sql0
    val sb = new StringBuilder(s.length + 16)
    var i = 0
    var inQ = false
    var inDq = false
    def prevIsOperandEnd(j0: Int): Boolean = {
      var j = j0 - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      if (j < 0) return false
      val c = s.charAt(j)
      if (c == '\'' || c == '"' || c == '`' || c == ')' || c == ']') return true
      if (!isWordChar(c)) return false
      var k = j
      while (k >= 0 && isWordChar(s.charAt(k))) k -= 1
      !regexOpKeywords.contains(s.substring(k + 1, j + 1).toLowerCase)
    }
    /** End index (exclusive) of the RHS operand starting at/after j0:
      * a quoted literal, a parenthesized expression, or an identifier
      * chain with optional call parens and `::type` tails. -1 = bail. */
    def rhsEnd(j0: Int): Int = {
      var j = j0
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      if (j >= s.length) return -1
      def literalEnd(k0: Int): Int = { // k0 at opening quote
        var k = k0 + 1
        while (k < s.length) {
          if (s.charAt(k) == '\'') {
            if (k + 1 < s.length && s.charAt(k + 1) == '\'') k += 2
            else return k + 1
          } else k += 1
        }
        -1
      }
      def parenEnd(k0: Int): Int = { // k0 at '('
        var k = k0; var d = 0
        while (k < s.length) {
          s.charAt(k) match {
            case '\'' =>
              val e = literalEnd(k); if (e < 0) return -1; k = e
            case '(' => d += 1; k += 1
            case ')' => d -= 1; k += 1; if (d == 0) return k
            case _ => k += 1
          }
        }
        -1
      }
      var end =
        if (s.charAt(j) == '\'') literalEnd(j)
        else if (s.charAt(j) == '(') parenEnd(j)
        else if (isWordChar(s.charAt(j))) {
          var k = j
          while (k < s.length && (isWordChar(s.charAt(k)) || s.charAt(k) == '.')) k += 1
          var k2 = k
          while (k2 < s.length && s.charAt(k2).isWhitespace) k2 += 1
          if (k2 < s.length && s.charAt(k2) == '(') parenEnd(k2) else k
        } else -1
      if (end < 0) return -1
      // chained `::type` casts bind tighter than the operator
      var moved = true
      while (moved) {
        moved = false
        var k = end
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        if (k + 1 < s.length && s.charAt(k) == ':' && s.charAt(k + 1) == ':') {
          k += 2
          while (k < s.length && s.charAt(k).isWhitespace) k += 1
          val st = k
          while (k < s.length && isWordChar(s.charAt(k))) k += 1
          if (k > st) { end = k; moved = true }
        }
      }
      end
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (inDq) { sb += c; if (c == '"') inDq = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if (c == '"') { sb += c; inDq = true; i += 1 }
      else if ((c == '~' || (c == '!' && i + 1 < s.length && s.charAt(i + 1) == '~')) &&
          prevIsOperandEnd(i)) {
        val rest = s.substring(i)
        val op = Seq("!~~*", "!~~", "!~*", "!~", "~~*", "~~", "~*", "~")
          .find(rest.startsWith).get
        op match {
          case "~~" => sb ++= " LIKE "; i += 2
          case "~~*" => sb ++= " ILIKE "; i += 3
          case "!~~" => sb ++= " NOT LIKE "; i += 3
          case "!~~*" => sb ++= " NOT ILIKE "; i += 4
          case re @ ("~" | "!~" | "~*" | "!~*") =>
            // pg POSIX regexes are newline-INSENSITIVE by default (`.`
            // matches \n) — Java needs (?s); `*` variants add (?i)
            val flags = if (re.endsWith("*")) "(?is)" else "(?s)"
            val neg = re.startsWith("!")
            val after = i + re.length
            val end = rhsEnd(after)
            if (end < 0) {
              // unextractable RHS: plain token swap (loses dotall)
              sb ++= (if (neg) " NOT RLIKE " else " RLIKE "); i = after
            } else {
              val rhs = s.substring(after, end).trim
              sb ++= (if (neg) s" NOT RLIKE concat('$flags', "
                      else s" RLIKE concat('$flags', ")
              sb ++= rhs
              sb ++= ")"
              i = end
            }
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** pg/SQL:2023 `normalize(text [, form])` — the form is a bare KEYWORD
    * (NFC/NFD/NFKC/NFKD, any case). Route through the engine's
    * pg_normalize with the validated form quoted; a string-literal form is
    * the reference's parse-time rejection. */
  private[slt] def rewriteNormalize(sql0: String): String = {
    if (!sql0.toLowerCase.contains("normalize")) return sql0
    val BadForm =
      """(?is)\bnormalize\s*\(((?:[^()']|'[^']*'|\([^()]*\))*?),\s*'([^']*)'\s*\)""".r
    BadForm.findFirstMatchIn(sql0).filter(m => !insideLiteral(sql0, m.start)) match {
      case Some(m) =>
        return s"SELECT raise_error('Expected one of NFC or NFD or NFKC or " +
          s"""NFKD, found string literal "${m.group(2)}"') AS graft_norm_fidelity"""
      case None => ()
    }
    // substitutions run OUTSIDE string literals only — a literal spelling
    // 'normalize(x)' must survive untouched (injecting quotes inside it
    // would corrupt the statement)
    rewriteOutsideLits(sql0) { s =>
      var out = s
      val WithForm =
        """(?is)\b(?<!pg_)normalize\s*\(((?:[^()']|'[^']*'|\([^()]*\))*?),\s*(NFC|NFD|NFKC|NFKD)\s*\)""".r
      out = WithForm.replaceAllIn(out, m =>
        Regex.quoteReplacement(
          s"pg_normalize(${m.group(1)}, '${m.group(2).toUpperCase}')"))
      val NoForm =
        """(?is)\b(?<!pg_)normalize\s*\(((?:[^()']|'[^']*'|\([^()]*\))*)\)""".r
      out = NoForm.replaceAllIn(out, m =>
        Regex.quoteReplacement(s"pg_normalize(${m.group(1)}, 'NFC')"))
      out
    }
  }

  /** pg `ROW(a, b, ...)` constructor → Spark `struct(...)`: the record
    * renders through pgRecord `(a,b)` text and compares field-wise like
    * pg composites (reference record construction, plan/query.rs). Only
    * the call form — `CURRENT ROW`, `ROWS BETWEEN`, and identifiers named
    * row don't carry the trailing paren. */
  private[slt] def rewriteRowConstructor(sql0: String): String = {
    if (!"""(?i)\brow\s*\(""".r.findFirstIn(sql0).isDefined) return sql0
    // two shapes stay unrewritten (their prior rejection IS the closer
    // behavior): ROW over a relation star (`ROW(x.*)` packs a nested
    // record pg quotes in the render) and ROW carrying bare NULL fields
    // (pg row comparison is pairwise 3VL; Spark's struct ordering treats
    // NULL as smallest, yielding false where pg yields NULL)
    if ("""(?i)\brow\s*\(\s*[\w"]+\s*\.\s*\*""".r.findFirstIn(sql0).isDefined ||
        """(?i)\brow\s*\((?:[^()]|\([^()]*\))*\bNULL\b""".r.findFirstIn(sql0).isDefined)
      return sql0
    // bare ROW() is legal (renders `()`); COMPARING zero-length rows is
    // the reference's rejection (rowtypes.slt:355)
    if ("""(?i)\brow\s*\(\s*\)\s*(?:=|<>|!=|<=|>=|<|>)""".r.findAllMatchIn(sql0)
        .exists(m => !insideLiteral(sql0, m.start)))
      return "SELECT raise_error('cannot compare rows of zero length') " +
        "AS graft_row_fidelity"
    rewriteOutsideLits(sql0)(s =>
      """(?i)\brow\s*\(""".r.replaceAllIn(s, "struct("))
  }

  /** pg `OPERATOR(schema.op)` syntax: `pg_catalog`-qualified (or bare)
    * operators reduce to the operator itself; any other schema is the
    * reference's "operator does not exist" error. */
  private def rewriteOperatorSyntax(sql: String): String = {
    if (!sql.toUpperCase.contains("OPERATOR(") &&
        !sql.toUpperCase.contains("OPERATOR (")) return sql
    val bad = """(?is)\bOPERATOR\s*\(\s*((?!pg_catalog\s*\.)[\w.]+\.)([^\s()]+)\s*\)""".r
      .findFirstMatchIn(sql)
    bad match {
      case Some(m) if !insideLiteral(sql, m.start) =>
        return s"SELECT raise_error('operator does not exist: ${m.group(1)}${m.group(2)}') AS graft_op_fidelity"
      case _ => ()
    }
    // pg gives OPERATOR() the LOWEST precedence, left-associative:
    // `2 OPERATOR(*) 2 + 2` is 2 * (2 + 2). Rewrite per select-list
    // segment, splitting on the LAST top-level occurrence recursively.
    val selAt = topLevelIndexOf(sql, """(?i)\bSELECT\b""".r)
    if (selAt < 0) return sql
    val bodyStart = selAt + 6
    var bodyEnd = topLevelIndexOf(sql,
      """(?i)\b(FROM|WHERE|GROUP|ORDER|LIMIT|OFFSET)\b""".r, bodyStart)
    if (bodyEnd < 0) bodyEnd = sql.length
    val tailText = sql.substring(bodyEnd)
    val body = sql.substring(bodyStart, bodyEnd).stripSuffix(";").stripSuffix(" ")
    val OpRe = """(?is)\bOPERATOR\s*\(\s*(?:pg_catalog\s*\.)?([^\s()]+)\s*\)""".r
    def fix(seg: String): String = {
      val top = OpRe.findAllMatchIn(seg).filter { m =>
        !insideLiteral(seg, m.start) && {
          var d = 0; var q = false
          seg.substring(0, m.start).foreach {
            case '\'' => q = !q
            case '(' if !q => d += 1
            case ')' if !q => d -= 1
            case _ => ()
          }
          d == 0
        }
      }.toList
      if (top.isEmpty) seg
      else {
        val m = top.last
        s"(${fix(seg.substring(0, m.start))}) ${m.group(1)} (${seg.substring(m.end)})"
      }
    }
    val semi = if (sql.trim.endsWith(";") && !tailText.contains(";")) ";" else ""
    sql.substring(0, bodyStart) + " " +
      splitTopLevel(body, ',').map(fix).mkString(", ") + tailText + semi
  }

  /** Literal `'..'::timestamptz` casts (no precision): the value is the
    * UTC instant (session timezone is UTC); a DISPLAY position renders
    * the mz canonical `..+00` text, while comparison/expression
    * positions keep the timestamp value so coercions compose. */
  private def rewriteTstzLiterals(sql: String): String = {
    if (!"""(?i)::\s*timestamptz\b""".r.findFirstIn(sql).isDefined) return sql
    val Lit = """(?is)('(?:[^']|'')*')\s*(?:::\s*timestamp\b)?\s*::\s*timestamptz\b(?!\s*[(\[])(?!\s+list\b)""".r
    Lit.replaceSomeIn(sql, m => {
      if (insideLiteral(sql, m.start)) None
      else {
        val tail = sql.substring(m.end).dropWhile(_ == ' ')
        val headR = sql.substring(0, m.start).reverse.dropWhile(_ == ' ')
        if (tail.startsWith(")") &&
            """(?is)(?:extract\s*\(\s*\w+\s+from|date_part\s*\(\s*'\w+'\s*,)\s*$""".r
              .findFirstIn(sql.substring(0, m.start)).isDefined)
          // EXTRACT/date_part read FIELDS of the UTC instant — the value
          // form gives the same answer
          Some(Regex.quoteReplacement(s"pg_tstz_in(${m.group(1)})"))
        else if (tail.startsWith(")"))
          // enclosed in any other call (to_jsonb...): the ORIGINAL tz
          // type matters to the enclosing function — leave it (skip), as
          // before this rewrite existed
          None
        else {
          // display position: end of item AND not the right side of an
          // operator (comparisons keep the timestamp VALUE). A ','-tail
          // only counts as a display position at paren depth 0 — inside a
          // call (`age('..'::timestamptz, ..)`) the literal is a non-final
          // ARGUMENT and must keep the value form, mirroring the ')'-tail
          // skip for final arguments.
          val parenDepth = {
            var d = 0; var i = 0; var q = false
            while (i < m.start) {
              val c = sql.charAt(i)
              if (q) { if (c == '\'') q = false }
              else c match {
                case '\'' => q = true
                case '(' => d += 1
                case ')' => d -= 1
                case _ => ()
              }
              i += 1
            }
            d
          }
          val display = (tail.isEmpty ||
            (tail.startsWith(",") && parenDepth == 0) ||
            tail.startsWith(";") ||
            """(?is)^(?:FROM\b|AS\b|::\s*(?:string|text)\b)""".r
              .findFirstIn(tail).isDefined) &&
            !"=<>!+-*/".contains(headR.headOption.getOrElse(' '))
          val core = s"pg_tstz_in(${m.group(1)})"
          Some(Regex.quoteReplacement(
            if (display) s"pg_tstz_out($core)" else core))
        }
      }
    })
  }

  /** mz MAP type surface (reference src/repr/src/adt/map.rs; corpus
    * map.slt): literal `'{k=>v}'::map[text=>T]` parses through
    * `mz_map_in`; non-text key types raise the reference's planner error;
    * the `?` / `?&` / `?|` key-containment operators over map operands map
    * to Spark's map functions. */
  private[slt] def rewriteMapCasts(sql: String): String = {
    if (!"""(?i)\bmap\s*\[""".r.findFirstIn(sql).isDefined &&
        !sql.contains("mz_map_in") &&
        !"""(?i)\bmap_(agg|length|build)\s*\(""".r.findFirstIn(sql).isDefined)
      return sql
    // non-text key type is a planner error
    val badKey = """(?is)::\s*map\s*\[\s*(int|integer|bigint|smallint|bool|boolean|double|float\d?|real|numeric|decimal|date|timestamp\w*|oid)\s*=>""".r
      .findFirstMatchIn(sql)
    badKey match {
      case Some(m) if !insideLiteral(sql, m.start) =>
        val tn = m.group(1).toLowerCase match {
          case "int" | "integer" => "integer"
          case "bool" | "boolean" => "boolean"
          case t => t
        }
        return s"SELECT raise_error('map key type must be text, got $tn') AS graft_map_fidelity"
      case _ => ()
    }
    val MapLit = ("""(?is)('(?:[^']|'')*')\s*::\s*map\s*\[\s*(?:text|string|varchar)\s*=>\s*""" +
      """((?:map\s*\[[^\]]*\]|[\w ]+?))\s*\]""").r
    val s1 = MapLit.replaceAllIn(sql, m => Regex.quoteReplacement(
      s"mz_map_in(${m.group(1)}, '${m.group(2).toLowerCase.replaceAll("\\s+", " ").trim}')"))
    // MAP['a' => 1, ..] constructor -> map('a', 1, ..) (session runs with
    // mapKeyDedupPolicy=LAST_WIN, matching mz's last-duplicate-wins).
    // NOT the map[..=>..] TYPE spelling — that follows `::` or a nested
    // `=>` inside another type.
    val s1b = """(?is)\bMAP\s*\[([^\[\]]*)\]""".r.replaceSomeIn(s1, m => {
      val before = s1.substring(0, m.start).reverse.dropWhile(_ == ' ')
      if (insideLiteral(s1, m.start) ||
          before.startsWith("::") || before.startsWith(">=")) None
      else {
        val pairs = splitTopLevel(m.group(1), ',').map(_.trim).filter(_.nonEmpty)
        val args = pairs.flatMap { p =>
          val kv = p.split("=>", 2)
          if (kv.length == 2) Seq(kv(0).trim, kv(1).trim) else Seq(p)
        }
        Some(Regex.quoteReplacement("map(" + args.mkString(", ") + ")"))
      }
    })
    // aggregates + length
    val s1c = rewriteOutsideLits(s1b) { t0 =>
      var t = """(?i)\bmap_agg\s*\(\s*([^(),]+?)\s*,\s*([^()]+?)\s*\)""".r
        .replaceSomeIn(t0, m =>
          if ("""(?i)\bORDER\s+BY\b""".r.findFirstIn(m.group(2)).isDefined) None
          else Some {
            // mz map_agg: NULL keys are SKIPPED; duplicate keys keep the
            // value sorting LAST (default = ascending); EMPTY input is
            // NULL, all-keys-null input is {} (map.slt:859-945)
            val entries = "array_sort(filter(collect_list(named_struct(" +
              s"'graft_mk', (${m.group(1)}), 'graft_mv', (${m.group(2)})))" +
              ", graft_me -> graft_me.graft_mk IS NOT NULL))"
            Regex.quoteReplacement(
              s"(CASE WHEN count(1) = 0 THEN NULL " +
                s"ELSE map_from_entries($entries) END)")
          })
      t = """(?i)\bmap_length\s*\(""".r.replaceAllIn(t, "cardinality(")
      t
    }
    // key-containment / access operators over visible map operands
    // (arrow-free spellings: this pass runs BEFORE the jsonb operator
    // scanner, which would otherwise capture `->` and lambdas)
    val MapOperand = """(?:mz_map_in|element_at)\s*\((?:[^()']|'[^']*'|\([^()]*\))*\)"""
    var cur = s1c
    var changed = true
    while (changed) {
      val next = (s"""(?is)($MapOperand)\\s*->\\s*('(?:[^']|'')*')""").r
        .replaceAllIn(cur, m => Regex.quoteReplacement(
          s"element_at(${m.group(1)}, ${m.group(2)})"))
      changed = next != cur
      cur = next
    }
    val s2 = (s"""(?is)($MapOperand)\\s*\\?\\s*('(?:[^']|'')*')""").r
      .replaceAllIn(cur, m => Regex.quoteReplacement(
        s"array_contains(map_keys(${m.group(1)}), ${m.group(2)})"))
    val s3 = (s"""(?is)($MapOperand)\\s*\\?([&|])\\s*(array\\s*\\((?:[^()']|'[^']*')*\\)|'(?:[^']|'')*')""").r
      .replaceAllIn(s2, m => {
        val keys0 = m.group(3).trim
        val keys =
          if (keys0.startsWith("'"))
            // pg text-array literal: parse to array(...) elements
            "array(" + keys0.stripPrefix("'").stripSuffix("'")
              .stripPrefix("{").stripSuffix("}")
              .split(",").map(k => "'" + k.trim.stripPrefix("\"").stripSuffix("\"") + "'")
              .mkString(",") + ")"
          else keys0
        val test =
          if (m.group(2) == "&")
            s"size(array_except($keys, map_keys(${m.group(1)}))) = 0"
          else s"size(array_intersect($keys, map_keys(${m.group(1)}))) > 0"
        Regex.quoteReplacement(test)
      })
    s3
  }

  private[slt] def rewriteOrderedArrayAgg(sql0: String): String = {
    if (!sql0.toLowerCase.contains("array_agg")) return sql0
    // `(array_agg(..))::string` expects pg's {..} array text (quoting
    // elements with spaces), not Spark's [..] — route through pg_array_text
    // BEFORE the ordered-agg rewrite so the trailing-cast guard below
    // doesn't bail on the rewritten spelling
    val sql =
      if (!sql0.contains("::")) sql0
      else """(?i)\(\s*(array_agg\s*\((?:[^()']|'[^']*'|\([^()]*\))*\))\s*\)\s*::\s*(?:string|text|varchar)\b""".r
        .replaceAllIn(sql0, m => Regex.quoteReplacement(
          s"pg_array_text(CAST((${m.group(1)}) AS ARRAY<STRING>))"))
    val loc = sql.toLowerCase
    val sb = new StringBuilder
    var pos = 0
    var idx = loc.indexOf("array_agg")
    while (idx >= 0) {
      var open = idx + "array_agg".length
      while (open < sql.length && sql.charAt(open) == ' ') open += 1
      val close =
        if (open < sql.length && sql.charAt(open) == '(') matchingParen(sql, open)
        else -1
      val m = if (close < 0) None
        else """(?is)^\s*([\w.]+)\s+ORDER\s+BY\s+(.+?)\s*$""".r
          .findFirstMatchIn(sql.substring(open + 1, close))
      // (trailing ::string casts render correctly now — ListTextCastRule
      // routes array-to-text through the mz renderer)
      m match {
        case Some(g) if !g.group(2).contains(",") && {
          val km = """(?is)^(.+?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$""".r
          km.findFirstMatchIn(g.group(2).trim).exists { k =>
            val dir = Option(k.group(2)).map(_.toUpperCase).getOrElse("ASC")
            val nulls = Option(k.group(3)).map(_.toUpperCase)
            // array_sort is ASC NULLS LAST; reverse() gives DESC NULLS
            // FIRST — exactly pg's two default orderings
            (dir == "ASC" && !nulls.contains("FIRST")) ||
              (dir == "DESC" && !nulls.contains("LAST"))
          }
        } =>
          val v = g.group(1)
          val km = """(?is)^(.+?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$""".r
          val k = km.findFirstMatchIn(g.group(2).trim).get
          val desc = Option(k.group(2)).exists(_.equalsIgnoreCase("DESC"))
          val key0 = k.group(1).trim
          val key =
            if (rangeColumns.contains(key0.toLowerCase)) s"range_sort_key($key0)"
            else key0
          sb ++= sql.substring(pos, idx)
          // leading null-flag field: pg ASC sorts NULLS LAST (struct
          // comparison would put a null key first)
          val core = s"transform(array_sort(collect_list(struct(($key) IS NULL AS graft_gn, " +
            s"$key AS graft_gk, $v AS graft_gv))), graft_ga -> graft_ga.graft_gv)"
          sb ++= (if (desc) s"reverse($core)" else core)
          pos = close + 1
        case None if close > 0 && {
          // array_agg(X) / list_agg(X) over a FROM-subquery ordered by X
          // itself: the input order IS the value order, so the ordered
          // pair-collect reproduces it (collect_list drops the subquery
          // sort across partitions)
          val inner = sql.substring(open + 1, close).trim
          """^[\w.]+(?:\s*::\s*\w+)?$""".r.findFirstIn(inner).isDefined && {
            val base = inner.takeWhile(c => c != ':').trim
            ("""(?is)\bFROM\s*\(.*\bORDER\s+BY\s+""" +
              java.util.regex.Pattern.quote(base) + """\b""").r
              .findFirstIn(sql).isDefined
          }
        } =>
          val arg = sql.substring(open + 1, close).trim
          sb ++= sql.substring(pos, idx)
          sb ++= s"transform(array_sort(collect_list(struct(($arg) IS NULL AS graft_gn, " +
            s"$arg AS graft_gk, $arg AS graft_gv))), graft_ga -> graft_ga.graft_gv)"
          pos = close + 1
        case _ =>
          val next = math.max(pos, idx + "array_agg".length)
          sb ++= sql.substring(pos, next)
          pos = next
      }
      idx = loc.indexOf("array_agg", pos)
    }
    sb ++= sql.substring(pos)
    sb.toString
  }

  /** Drop a trailing `::type`/`::type[]` suffix from a forward operand (the
    * jsonb functions interpret the raw literal themselves). Inner casts
    * were already converted to calls by rewriteNameCasts. */
  private def stripCastSuffix(s: String): String =
    """(?is)^(.*?)(?:\s*::\s*[A-Za-z_]\w*(?:\s*\[\s*\])?)+\s*$""".r
      .findFirstMatchIn(s).map(_.group(1)).getOrElse(s)

  /** End (exclusive) of the operand starting at/after `from`: optional
    * minus, then a quoted literal / parenthesized group / identifier
    * (qualified, with optional call parens), then any `::type` / `[..]` /
    * `(..)` suffixes. -1 when nothing operand-like is found. */
  private def forwardOperandEnd(sql: String, from: Int): Int = {
    var i = from
    while (i < sql.length && sql.charAt(i) == ' ') i += 1
    if (i >= sql.length) return -1
    if (sql.charAt(i) == '-') i += 1
    while (i < sql.length && sql.charAt(i) == ' ') i += 1
    if (i >= sql.length) return -1
    val c = sql.charAt(i)
    def balanced(open: Char, close: Char, start: Int): Int = {
      var depth = 0
      var j = start
      var q = false
      while (j < sql.length) {
        val ch = sql.charAt(j)
        if (q) { if (ch == '\'') q = false }
        else if (ch == '\'') q = true
        else if (ch == open) depth += 1
        else if (ch == close) { depth -= 1; if (depth == 0) return j + 1 }
        j += 1
      }
      -1
    }
    var end =
      if (c == '\'') {
        var j = i + 1
        var stop = -1
        while (j < sql.length && stop < 0) {
          if (sql.charAt(j) == '\'') {
            if (j + 1 < sql.length && sql.charAt(j + 1) == '\'') j += 2
            else stop = j + 1
          } else j += 1
        }
        stop
      } else if (c == '(') balanced('(', ')', i)
      else if (Character.isDigit(c)) {
        var j = i
        while (j < sql.length && (Character.isDigit(sql.charAt(j)) || sql.charAt(j) == '.')) j += 1
        j
      } else if (isWordChar(c)) {
        var j = i
        while (j < sql.length && (isWordChar(sql.charAt(j)) || sql.charAt(j) == '.')) j += 1
        // a call: identifier immediately followed by (
        var k = j
        while (k < sql.length && sql.charAt(k) == ' ') k += 1
        if (k < sql.length && sql.charAt(k) == '(') balanced('(', ')', k) else j
      } else -1
    if (end < 0) return -1
    // suffixes: ::type (with optional []), subscripts
    var done = false
    while (!done && end < sql.length) {
      var j = end
      while (j < sql.length && sql.charAt(j) == ' ') j += 1
      if (j + 1 < sql.length && sql.charAt(j) == ':' && sql.charAt(j + 1) == ':') {
        j += 2
        while (j < sql.length && sql.charAt(j) == ' ') j += 1
        if (j < sql.length && isWordChar(sql.charAt(j))) {
          while (j < sql.length && isWordChar(sql.charAt(j))) j += 1
          // optional [] / (n) suffix of the type
          var k = j
          while (k < sql.length && sql.charAt(k) == ' ') k += 1
          if (k < sql.length && sql.charAt(k) == '[') {
            val b = balanced('[', ']', k)
            if (b > 0) j = b
          } else if (k < sql.length && sql.charAt(k) == '(') {
            val b = balanced('(', ')', k)
            if (b > 0) j = b
          }
          end = j
        } else done = true
      } else if (j < sql.length && sql.charAt(j) == '[') {
        val b = balanced('[', ']', j)
        if (b > 0) end = b else done = true
      } else done = true
    }
    end
  }

  /** Operand start for a `::` cast suffix: a trailing string literal
    * (doubled-quote escapes handled), or the subscript-operand cases. */
  private def castOperandStart(sb: StringBuilder): Int = {
    var j = sb.length - 1
    while (j >= 0 && sb.charAt(j) == ' ') j -= 1
    if (j < 0) return -1
    if (sb.charAt(j) == '\'') {
      j -= 1
      var open = -1
      while (j >= 0 && open < 0) {
        if (sb.charAt(j) == '\'') {
          if (j > 0 && sb.charAt(j - 1) == '\'') j -= 2 // '' escape
          else open = j
        } else j -= 1
      }
      open
    } else subscriptOperandStart(sb)
  }

  /** pg zips multiple set-returning functions in ONE select list in
    * lockstep, padding shorter ones with NULLs (pg 10 ExpandSRF; the
    * reference implements the same, `src/sql/src/plan/expr.rs` table
    * function lowering). Spark would cross-product independent generators —
    * wrong VALUES, not an error — so `SELECT g1(..), g2(..) ...` rewrites
    * to `inline(arrays_zip(series1, series2))` via a LATERAL VIEW, whose
    * zip-and-NULL-pad is exactly the pg semantics. Only the top-level
    * select list with >=2 bare `generate_series(..)` items (optional
    * aliases) is rewritten. */
  /** mz `LIST(subquery)` constructor — the list twin of `ARRAY(subquery)`
    * (reference HIR subquery planning): delegate to the ARRAY(subquery)
    * rewrite and tag the result as a LIST for pg_typeof / rendering. */
  private[slt] def rewriteListSubquery(sql0: String): String = {
    if (!"""(?i)\bLIST\s*\(\s*SELECT\b""".r.findFirstIn(sql0).isDefined)
      return sql0
    val Head = """(?i)\bLIST\s*\(""".r
    var out = sql0
    var guard = 0
    var m0 = Head.findFirstMatchIn(out).filter(m =>
      !insideLiteral(out, m.start) &&
        """(?is)^\s*SELECT\b""".r.findFirstIn(out.substring(m.end)).isDefined)
    while (m0.isDefined && guard < 6) {
      guard += 1
      val m = m0.get
      var d = 1; var i = m.end; var q = false
      while (i < out.length && d > 0) {
        val c = out.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true; case '(' => d += 1; case ')' => d -= 1
          case _ => ()
        }
        i += 1
      }
      if (d > 0) return out
      out = out.substring(0, m.start) + "mz_list_tag(ARRAY(" +
        out.substring(m.end, i - 1) + "))" + out.substring(i)
      m0 = Head.findFirstMatchIn(out).filter(m2 =>
        !insideLiteral(out, m2.start) &&
          """(?is)^\s*SELECT\b""".r.findFirstIn(out.substring(m2.end)).isDefined)
    }
    out
  }

  /** pg `ARRAY(subquery)` constructor (reference HIR subquery planning;
    * pg 4.2.14): collect the subquery's single column into an array,
    * honoring a trailing ORDER BY and yielding the EMPTY array for zero
    * rows (a bare scalar-subquery aggregate would yield NULL). Rewritten
    * to a correlated scalar subquery collecting `struct(orderKey, value)`
    * sorted via array_sort — deterministic ordering without relying on
    * collect_list encounter order, and NULL values survive (collect_list
    * drops top-level NULLs; struct-wrapped they don't). Single-item
    * subqueries only — other shapes keep their known-diff skip. */
  private[slt] def rewriteArraySubquery(sql0: String): String = {
    if (!"""(?i)\bARRAY\s*\(\s*SELECT\b""".r.findFirstIn(sql0).isDefined)
      return sql0
    val Head = """(?i)\bARRAY\s*\(""".r
    var out = sql0
    var guard = 0
    var m0 = Head.findFirstMatchIn(out).filter(m =>
      !insideLiteral(out, m.start) &&
        """(?is)^\s*SELECT\b""".r.findFirstIn(out.substring(m.end)).isDefined)
    while (m0.isDefined && guard < 6) {
      guard += 1
      val m = m0.get
      var d = 1; var i = m.end; var q = false
      while (i < out.length && d > 0) {
        val c = out.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true; case '(' => d += 1; case ')' => d -= 1
          case _ => ()
        }
        i += 1
      }
      if (d > 0) return out
      val inner = out.substring(m.end, i - 1)
      // split:  SELECT <item> FROM <rest> [ORDER BY <key>]  (top level)
      val selM = """(?is)^\s*SELECT\s+""".r.findFirstMatchIn(inner)
      if (selM.isEmpty) return out
      val body = inner.substring(selM.get.end)
      def topLevelIdx(kw: String, s: String): Int = {
        var depth = 0; var inQ = false; var j = 0
        while (j < s.length) {
          val c = s.charAt(j)
          if (inQ) { if (c == '\'') inQ = false; j += 1 }
          else c match {
            case '\'' => inQ = true; j += 1
            case '(' => depth += 1; j += 1
            case ')' => depth -= 1; j += 1
            case _ =>
              // word boundaries only apply to word keywords — a "," after
              // an identifier (`SELECT a, b`) must still be found
              val word = kw.exists(isWordChar)
              if (depth == 0 && s.regionMatches(true, j, kw, 0, kw.length) &&
                  (!word ||
                    ((j == 0 || !isWordChar(s.charAt(j - 1))) &&
                     (j + kw.length >= s.length || !isWordChar(s.charAt(j + kw.length))))))
                return j
              j += 1
          }
        }
        -1
      }
      val fromIdx = topLevelIdx("FROM", body)
      if (fromIdx < 0 ||
          (body.indexOf(',') >= 0 && {
            val ci = topLevelIdx(",", body.substring(0, fromIdx))
            ci >= 0
          })) return out
      val item = body.substring(0, fromIdx).trim
      var rest = body.substring(fromIdx + 4)
      val obIdx = topLevelIdx("ORDER", rest)
      var key = item
      var desc = false
      var sorted = false
      if (obIdx >= 0) {
        var ob = rest.substring(obIdx)
          .replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
        rest = rest.substring(0, obIdx)
        // a LIMIT/OFFSET after the ORDER BY stays with the inner relation
        val limIdx = topLevelIdx("LIMIT", ob) match {
          case -1 => topLevelIdx("OFFSET", ob)
          case x => x
        }
        if (limIdx >= 0) { rest = rest + " ORDER BY " + ob; ob = ob.substring(0, limIdx) }
        val k0 = ob.trim
          .replaceAll("(?is)\\s+NULLS\\s+(?:LAST|FIRST)\\s*$", "")
        desc = """(?is)\bDESC\s*$""".r.findFirstIn(k0).isDefined
        key = k0.replaceAll("(?is)\\s+(?:ASC|DESC)\\s*$", "").trim
        if (key.isEmpty) key = item
        sorted = true
      } else {
        // a bare LIMIT without ORDER BY selects engine-defined rows — the
        // reference takes table order, Spark takes partition order; keep
        // the known-diff skip rather than compare arbitrary picks
        if (topLevelIdx("LIMIT", rest) >= 0 || topLevelIdx("OFFSET", rest) >= 0)
          return out
        sorted = false
      }
      // collect from a DERIVED relation so LIMIT/OFFSET inside the
      // subquery apply before collection
      val collected = s"transform(array_sort(collect_list(" +
        s"struct(graft_as_s0 AS graft_as_s, graft_as_v0 AS graft_as_v))), " +
        "graft_as_x -> graft_as_x.graft_as_v)"
      val ordered = if (desc) s"reverse($collected)" else collected
      val rep = s"coalesce((SELECT $ordered FROM (SELECT ($key) AS graft_as_s0, " +
        s"($item) AS graft_as_v0 FROM $rest) AS graft_as_sub), array())"
      val _2 = sorted
      out = out.substring(0, m.start) + rep + out.substring(i)
      m0 = Head.findFirstMatchIn(out).filter(m2 =>
        !insideLiteral(out, m2.start) &&
          """(?is)^\s*SELECT\b""".r.findFirstIn(out.substring(m2.end)).isDefined)
    }
    out
  }

  /** pg `generate_subscripts(arr, dim[, reverse])` (reference TableFunc
    * GenerateSubscriptsArray, relation/func.rs:3633): the valid subscripts
    * of dimension `dim` — rewritten to `generate_series(1,
    * array_length(arr, dim))`, which the existing series machinery
    * handles in both scalar and FROM positions; an absent dimension
    * yields the empty set (array_length is NULL there, coalesced to 0). */
  private[slt] def rewriteGenerateSubscripts(sql0: String): String = {
    if (!sql0.toLowerCase.contains("generate_subscripts")) return sql0
    val Re = """(?i)\bgenerate_subscripts\s*\(""".r
    var out = sql0
    var guard = 0
    var m0 = Re.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    while (m0.isDefined && guard < 6) {
      guard += 1
      val m = m0.get
      var d = 1; var i = m.end; var q = false
      while (i < out.length && d > 0) {
        val c = out.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true; case '(' => d += 1; case ')' => d -= 1
          case _ => ()
        }
        i += 1
      }
      if (d > 0) return out
      val args = splitTopLevel(out.substring(m.end, i - 1), ',').map(_.trim)
      // exactly (ArrayAny, Int32) — the reference defines no 3-arg
      // 'reverse' overload (func.rs generate_subscripts) and rejects it
      if (args.length != 2) return out
      val rep = s"generate_series(coalesce(array_lower(${args(0)}, ${args(1)}), 1), " +
        s"coalesce(array_upper(${args(0)}, ${args(1)}), 0))"
      out = out.substring(0, m.start) + rep + out.substring(i)
      m0 = Re.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    }
    out
  }

  /** pg `information_schema._pg_expandarray(arr)` — SETOF record (x, n):
    * element + 1-based index (pg catalog support function; the reference
    * resolves it through its pg_catalog compat layer). FROM position
    * becomes an `inline(transform(..))` lateral; a simple whole-select
    * scalar position renders pg's composite text `(x,n)` under the
    * `_pg_expandarray` output name. */
  private[slt] def rewriteExpandArray(sql0: String): String = {
    if (!sql0.toLowerCase.contains("_pg_expandarray")) return sql0
    val lam = "(graft_pe_e, graft_pe_i) -> struct(graft_pe_e AS x, " +
      "cast(graft_pe_i + 1 AS int) AS n)"
    // FROM position: direct (no outer refs possible) or comma-correlated
    val FromForm =
      ("""(?is)\b(FROM\s+(?:[A-Za-z_][\w."`]*\s*(?:\([^()]*\))?\s*,\s*)?)""" +
        """information_schema\._pg_expandarray\s*\(""").r
    var out = sql0
    var guard = 0
    var m0 = FromForm.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    while (m0.isDefined && guard < 4) {
      guard += 1
      val m = m0.get
      var d = 1; var i = m.end
      while (i < out.length && d > 0) {
        out.charAt(i) match {
          case '(' => d += 1; case ')' => d -= 1; case _ => ()
        }
        i += 1
      }
      if (d > 0) return out
      val arg = out.substring(m.end, i - 1)
      val tailRe = """(?is)^\s*(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|ON\b|JOIN\b|UNION\b)([A-Za-z_]\w*)?""".r
      val tm = tailRe.findFirstMatchIn(out.substring(i)).get
      val alias = Option(tm.group(1)).getOrElse("graft_pe")
      val correlated = m.group(1).trim.endsWith(",")
      val sub = s"(SELECT inline(transform($arg, $lam))) $alias"
      val rep = m.group(1) + (if (correlated) "LATERAL " else "") + sub
      out = out.substring(0, m.start) + rep + out.substring(i + tm.end)
      m0 = FromForm.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    }
    // simple scalar position: the expansion is the whole select item
    val ScalarForm =
      """(?is)^(\s*SELECT\s+)information_schema\._pg_expandarray\s*\(([^()]*(?:\([^()]*\))?[^()]*)\)(\s*(?:ORDER\s+BY\b.*)?;?\s*)$""".r
    out match {
      case ScalarForm(head, arg, tail) =>
        head + s"explode(transform($arg, (graft_pe_e, graft_pe_i) -> " +
          "concat('(', graft_pe_e, ',', graft_pe_i + 1, ')'))) " +
          "AS _pg_expandarray" + tail
      case _ => out
    }
  }

  /** mz table functions `regexp_extract(regex, text)` and
    * `csv_extract(n, text)` in FROM position (reference `TableFunc::
    * RegexpExtract` / `CsvExtract`, src/expr/src/relation/func.rs:3564-65):
    * one output COLUMN per capture group / CSV field — unnamed groups are
    * `columnN` by group number — and NO row when the regex misses or the
    * row doesn't split into exactly n fields. Rewritten to a correlated
    * LATERAL subquery over Spark's scalar regexp_extract / split (the
    * group inventory is static: mz requires the regex / column count to be
    * a literal). */
  private[slt] def rewriteMzExtractSrfs(sql00: String): String = {
    val sql0 = rewriteGenerateSubscripts(rewriteExpandArray(
      rewriteArraySubquery(rewriteListSubquery(sql00))))
    if (!"""(?i)\b(?:regexp_extract|csv_extract)\s*\(""".r.findFirstIn(sql0).isDefined)
      return sql0
    val FromFn =
      """(?is)\b(FROM\s+[A-Za-z_][\w."`]*\s*(?:\([^()]*\))?\s*,\s*)(regexp_extract|csv_extract)\s*\(""".r
    val Tail = ("""(?is)^(\s*WITH\s+ORDINALITY\b)?""" +
      """(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|UNION\b|INTERSECT\b|EXCEPT\b|ON\b|JOIN\b|LEFT\b|RIGHT\b|INNER\b|CROSS\b|FULL\b)([A-Za-z_]\w*))?""").r
    def closeParen(s: String, open: Int): Int = {
      var i = open + 1; var d = 1; var q = false
      while (i < s.length && d > 0) {
        val c = s.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true; case '(' => d += 1; case ')' => d -= 1
          case _ => ()
        }
        i += 1
      }
      if (d == 0) i - 1 else -1
    }
    // capture-group inventory of a regex literal body: unnamed groups are
    // columnN by group number; (?P<n>/(?<n> name theirs; (?:...) etc. skip
    def groupNames(re: String): List[String] = {
      val names = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0; var n = 0
      while (i < re.length) {
        re.charAt(i) match {
          case '\\' => i += 2
          case '[' =>
            i += 1
            while (i < re.length && re.charAt(i) != ']') {
              if (re.charAt(i) == '\\') i += 1; i += 1
            }
            i += 1
          case '(' if i + 1 < re.length && re.charAt(i + 1) == '?' =>
            """^\(\?P?<([A-Za-z_]\w*)>""".r.findFirstMatchIn(re.substring(i)) match {
              case Some(mm) => n += 1; names += mm.group(1); i += mm.end
              case None => i += 1 // non-capturing / lookaround
            }
          case '(' => n += 1; names += s"column$n"; i += 1
          case _ => i += 1
        }
      }
      names.toList
    }
    var out = sql0
    var guard = 0
    var hit = FromFn.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    while (hit.isDefined && guard < 4) {
      guard += 1
      val m = hit.get
      val close = closeParen(out, m.end - 1)
      if (close < 0) return out
      val args = splitTopLevel(out.substring(m.end, close), ',').map(_.trim)
      val tm = Tail.findFirstMatchIn(out.substring(close + 1)).get
      val withOrd = tm.group(1) != null
      val alias = Option(tm.group(2)).getOrElse(m.group(2))
      val ord = if (withOrd) ", 1 AS ordinality" else ""
      val lateral: Option[String] = (m.group(2).toLowerCase, args) match {
        case ("regexp_extract", Seq(reLit, expr)) if reLit.startsWith("'") =>
          // Java spells named groups (?<n>); the reference's regex crate
          // also accepts (?P<n>)
          val re2 = reLit.replace("(?P<", "(?<")
          val body = re2.stripPrefix("'").stripSuffix("'")
          // pg_regexp_group keeps reference participation semantics:
          // empty match -> '', non-participating group -> NULL (Spark's
          // regexp_extract conflates both as '')
          val cols = groupNames(body).zipWithIndex.map { case (nm, i) =>
            s"pg_regexp_group($expr, $re2, ${i + 1}) AS $nm"
          }
          if (cols.isEmpty) None
          else Some(s"LATERAL (SELECT ${cols.mkString(", ")}$ord " +
            s"WHERE $expr RLIKE $re2) $alias")
        case ("csv_extract", Seq(nLit, expr)) =>
          scala.util.Try(nLit.toInt).toOption match {
            case None => Some(s"LATERAL (SELECT raise_error('csv_extract " +
              s"number of columns must be a positive integer literal') " +
              s"AS column1) $alias")
            case Some(n) if n > 8192 => Some(s"LATERAL (SELECT raise_error(" +
              s"'attempt to create relation with too many columns, $n " +
              s"max: 8192') AS column1) $alias")
            case Some(n) =>
              val cols = (1 to n).map(i =>
                s"split($expr, ',')[${i - 1}] AS column$i")
              Some(s"LATERAL (SELECT ${cols.mkString(", ")}$ord " +
                s"WHERE size(split($expr, ',')) = $n) $alias")
          }
        case _ => None
      }
      lateral match {
        case Some(rep) =>
          out = out.substring(0, m.start) + m.group(1) + rep +
            out.substring(close + 1 + tm.end)
        case None => return out
      }
      hit = FromFn.findFirstMatchIn(out).filter(m => !insideLiteral(out, m.start))
    }
    out
  }

  private[slt] def rewriteSrfZip(sql: String): String = {
    val SelectRe = """(?is)^(\s*SELECT\s+)(.*)$""".r
    sql match {
      case SelectRe(head, rest) if !rest.trim.toUpperCase.startsWith("DISTINCT") =>
        // select list = up to the first top-level clause keyword
        val clauseKws = List("FROM", "WHERE", "GROUP", "HAVING", "WINDOW",
          "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
        var depth = 0; var inQ = false; var i = 0; var listEnd = -1
        while (i < rest.length && listEnd < 0) {
          val c = rest.charAt(i)
          if (inQ) { if (c == '\'') inQ = false; i += 1 }
          else c match {
            case '\'' => inQ = true; i += 1
            case '(' => depth += 1; i += 1
            case ')' => depth -= 1; i += 1
            case _ =>
              if (depth == 0 && clauseKws.exists(k =>
                  rest.regionMatches(true, i, k, 0, k.length) &&
                    (i == 0 || !isWordChar(rest.charAt(i - 1))) &&
                    (i + k.length >= rest.length || !isWordChar(rest.charAt(i + k.length)))))
                listEnd = i
              else i += 1
          }
        }
        val selectList0 = if (listEnd < 0) rest else rest.substring(0, listEnd)
        val after = if (listEnd < 0) "" else rest.substring(listEnd)
        // a statement-trailing `;` rides in the last item when the SELECT
        // has no FROM — it must not survive into a rebuilt item
        val selectList =
          if (after.isEmpty) selectList0.replaceAll(";\\s*$", "")
          else selectList0
        val items = splitTopLevel(selectList, ',')
        val SrfItem =
          """(?is)^\s*((?:information_schema\.)?_pg_expandarray|generate_series|unnest|jsonb_array_elements_text|jsonb_array_elements|jsonb_object_keys)\s*\((.*)\)\s*(?:AS\s+)?([A-Za-z_]\w*)?\s*$""".r
        val arrayFnOf: Map[String, String => String] = Map(
          "generate_series" -> (a => s"graft_series_array($a)"),
          "jsonb_array_elements" -> (a => s"graft_jsonb_arr_elements($a)"),
          "jsonb_array_elements_text" -> (a => s"graft_jsonb_arr_elements_text($a)"),
          "jsonb_object_keys" -> (a => s"graft_jsonb_arr_keys($a)"),
          // unnest zips its array argument directly
          "unnest" -> (a => s"($a)"),
          // scalar-position _pg_expandarray renders pg composite (x,n) text
          "_pg_expandarray" -> (a =>
            s"transform($a, (graft_pe_e, graft_pe_i) -> " +
              "concat('(', graft_pe_e, ',', graft_pe_i + 1, ')'))"))
        // an SRF call ANYWHERE inside an item (pg computes the enclosing
        // expression per emitted row): (prefix, fn, args, suffix) — None
        // when the item carries no (or more than one) SRF call
        val SrfCallRe =
          """(?i)\b((?:information_schema\.)?_pg_expandarray|generate_series|unnest|jsonb_array_elements_text|jsonb_array_elements|jsonb_object_keys)\s*\(""".r
        def srfParts(item: String): Option[(String, String, String, String)] = {
          val ms = SrfCallRe.findAllMatchIn(item)
            .filter(m => !insideLiteral(item, m.start)).toList
          if (ms.length != 1) return None
          val m = ms.head
          // an SRF inside a subquery item belongs to THAT query scope
          if ("""(?i)\bSELECT\b""".r.findFirstIn(item.substring(0, m.start)).isDefined)
            return None
          var d = 1; var k = m.end; var q = false
          while (k < item.length && d > 0) {
            val c = item.charAt(k)
            if (q) { if (c == '\'') q = false }
            else c match {
              case '\'' => q = true; case '(' => d += 1; case ')' => d -= 1
              case _ => ()
            }
            k += 1
          }
          if (d > 0) None
          else Some((item.substring(0, m.start), m.group(1),
            item.substring(m.end, k - 1), item.substring(k)))
        }
        def isAliasTail(post: String): Boolean =
          post.trim.isEmpty ||
            """(?is)^\s*(?:AS\s+)?[A-Za-z_"][\w"]*\s*;?\s*$""".r
              .pattern.matcher(post).matches()
        // nested context only for operator/sign expressions around the
        // call (pg allows SRFs under operators at the select top level but
        // rejects them inside function calls / CASE / COALESCE — paren-
        // carrying contexts keep their existing handling or rejection);
        // _pg_expandarray keeps its dedicated composite-text rewrite
        def nestedOk(p: (String, String, String, String)): Boolean = {
          val (pre, fn, _, post) = p
          !fn.toLowerCase.contains("_pg_expandarray") &&
            !pre.exists(c => c == '(' || c == ')') &&
            // pg REJECTS SRFs inside CASE arms — keep the rejection path
            !"""(?i)\b(?:CASE|WHEN|THEN|ELSE)\b""".r.findFirstIn(pre).isDefined &&
            !post.takeWhile(_ != ';').exists(c => c == '(' || c == ')')
        }
        val parts0 = items.map(srfParts)
        val parts = parts0.map {
          case Some(p) if isAliasTail(p._4) || nestedOk(p) => Some(p)
          case _ => None
        }
        val srfIdx = parts.zipWithIndex.collect { case (Some(_), idx) => idx }
        val anyNested = parts.flatten.exists { case (pre, _, _, post) =>
          pre.trim.nonEmpty || !isAliasTail(post)
        }
        // fire for the multi-SRF lockstep zip, or for a single SRF NESTED
        // in a bigger expression (Spark rejects generators there)
        if (srfIdx.length < 2 && !anyNested) return sql
        var n = 0
        val newItems = items.zip(parts).map {
          case (_, Some((pre, _, _, post))) =>
            val col = s"$pre __z.c$n $post"
            n += 1
            col
          case (other, None) => other
        }
        val arrays = parts.flatten.map { case (_, fn, args, _) =>
          arrayFnOf(fn.toLowerCase.stripPrefix("information_schema."))(args)
        }
        val lateral = s" LATERAL VIEW inline(arrays_zip(${arrays.mkString(", ")})) __z AS " +
          (0 until n).map(i => s"c$i").mkString(", ")
        val upAfter = after.trim.toUpperCase
        val rebuilt =
          if (upAfter.startsWith("FROM")) {
            // append the lateral view at the end of the FROM clause (before
            // the next top-level clause keyword after it, or at the end)
            val fromBody = after.substring(after.toUpperCase.indexOf("FROM") + 4)
            var d = 0; var q = false; var j = 0; var end = -1
            val terms = clauseKws.filterNot(_ == "FROM")
            while (j < fromBody.length && end < 0) {
              val c = fromBody.charAt(j)
              if (q) { if (c == '\'') q = false; j += 1 }
              else c match {
                case '\'' => q = true; j += 1
                case '(' => d += 1; j += 1
                case ')' => d -= 1; j += 1
                case _ =>
                  if (d == 0 && terms.exists(k =>
                      fromBody.regionMatches(true, j, k, 0, k.length) &&
                        (j == 0 || !isWordChar(fromBody.charAt(j - 1))) &&
                        (j + k.length >= fromBody.length || !isWordChar(fromBody.charAt(j + k.length)))))
                    end = j
                  else j += 1
              }
            }
            val cut = if (end < 0) fromBody.length else end
            head + newItems.mkString(",") + " FROM" + fromBody.substring(0, cut) +
              lateral + " " + fromBody.substring(cut)
          } else {
            head + newItems.mkString(",") +
              s" FROM (SELECT 1) __one$lateral " + after
          }
        rebuilt
      case _ => sql
    }
  }

  /** pg `'...±TZ'::timestamp` DROPS the zone offset; Spark converts to the
    * session zone. Strip the offset from zone-suffixed literals cast to a
    * zoneless timestamp so both read the local clock fields. */
  /** pg `date 'a' - date 'b'` is INTEGER days; Spark's date difference is
    * an interval. Rewrite the literal form to datediff. */
  private val DateLiteralDiff =
    """(?i)\bdate\s*('[^']*')\s*-\s*date\s*('[^']*')""".r

  private val TimeLiteral = """(?i)\bTIME\s+('[^']*')""".r

  private val TsOffsetCast =
    """(?i)('\d{4}-\d{2}-\d{2}[ T][0-9:.]+)[+-]\d{2}(?::\d{2})?'(\s*::\s*timestamp\b(?!\s*tz))""".r

  private val IntervalQual =
    "(?:YEARS?|MONTHS?|DAYS?|HOURS?|MINUTES?|MINS?|SECONDS?(?:\\s*\\(\\d+\\))?|SECS?)(?:\\s+TO\\s+(?:MONTHS?|DAYS?|HOURS?|MINUTES?|MINS?|SECONDS?(?:\\s*\\(\\d+\\))?|SECS?|YEARS?))?"
  private val IntervalItem: Regex =
    (s"(?is)^\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*(::\\s*te?xt)?\\s*$$").r
  private val IntervalNegItem: Regex =
    (s"(?is)^\\s*-\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*$$").r
  private val IntervalBinopItem: Regex =
    (s"(?is)^\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*([+-])\\s*(-\\s*)?" +
      s"INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*$$").r
  private val IntervalScaleItem: Regex =
    (s"(?is)^\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*([*/])\\s*(-?\\d+(?:\\.\\d+)?)\\s*$$").r
  private val IntervalScaleLeftItem: Regex =
    (s"(?is)^\\s*(-?\\d+(?:\\.\\d+)?)\\s*\\*\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*$$").r
  private val IntervalCmpItem: Regex =
    (s"(?is)^\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*(<=|>=|!=|<>|<|>|=)\\s*" +
      s"INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*$$").r
  private val IntervalCastItem: Regex =
    ("(?is)^\\s*\\(\\s*'([^']*)'\\s*::\\s*interval\\s*\\)\\s*::\\s*(?:string|text)\\s*$").r
  private val IntervalExtractItem: Regex =
    (s"(?is)^\\s*(?:EXTRACT\\s*\\(\\s*(\\w+)\\s+FROM|date_part\\s*\\(\\s*'(\\w+)'\\s*,)\\s*" +
      s"INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*\\)\\s*$$").r
  private val IntervalJustifyItem: Regex =
    (s"(?is)^\\s*justify_(hours|days|interval)\\s*\\(\\s*INTERVAL\\s+'([^']*)'\\s*($IntervalQual)?\\s*\\)\\s*$$").r
  private val IntervalSelectShape: Regex = "(?is)^\\s*SELECT\\s+(.*?)\\s*;?\\s*$".r

  /** interval.slt's standalone literal/±/×/÷ select items → the engine's
    * mz_interval functions (canonical pg text, reference interval.rs
    * Display). Applies only when EVERY top-level select item is such a
    * shape, so interval literals feeding other expressions (timestamp
    * arithmetic elsewhere in the corpus) keep Spark's native literal path. */
  /** bpchar comparison semantics for literal cast comparisons (reference
    * `src/repr/src/adt/char.rs`: Char values are stored with trailing
    * whitespace TRIMMED "to enforce the same equality semantics", and
    * explicit casts truncate to the declared length like pg). pg's operator
    * resolution then gives:
    *  - char vs char / char vs varchar -> bpchar comparison (BOTH sides
    *    trailing-space-insensitive);
    *  - char vs text -> the char value (already trimmed) compares as plain
    *    text (the text side keeps its spaces);
    *  - varchar/text only -> plain string comparison.
    * Spark's CHAR cast pads instead, so the cast + resolution are folded
    * here at parse time — the comparison itself still runs in the engine. */
  private val CharCmpStmt: Regex =
    ("""(?is)^\s*SELECT\s+'([^']*)'\s*::\s*(char|varchar|text)(?:\s*\(\s*(\d+)\s*\))?""" +
      """\s*(=|<>|!=|<=|>=|<|>)\s*""" +
      """'([^']*)'\s*::\s*(char|varchar|text)(?:\s*\(\s*(\d+)\s*\))?\s*;?\s*$""").r

  private def rewriteCharVarcharCmp(sql: String): String = sql match {
    case CharCmpStmt(s1, t1raw, n1, op, s2, t2raw, n2) =>
      val t1 = t1raw.toLowerCase; val t2 = t2raw.toLowerCase
      def trunc(s: String, t: String, n: String): String = t match {
        case "text" => s
        case _ =>
          val len = Option(n).map(_.toInt).getOrElse(1)
          if (s.length > len) s.substring(0, len) else s
      }
      def trim(s: String): String = s.replaceAll("\\s+$", "")
      var v1 = trunc(s1, t1, n1)
      var v2 = trunc(s2, t2, n2)
      if (t1 == "char") v1 = trim(v1)
      if (t2 == "char") v2 = trim(v2)
      // char vs varchar resolves as bpchar: the varchar side trims too
      if ((t1 == "char" && t2 == "varchar") || (t1 == "varchar" && t2 == "char")) {
        v1 = trim(v1); v2 = trim(v2)
      }
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      s"SELECT ${lit(v1)} $op ${lit(v2)}"
    case _ => sql
  }

  /** NaN-bearing numeric data (see [[nanDoubleTables]]): CREATE TABLE of a
    * marked table stores numeric as double, and an element-position 'NaN'
    * in a VALUES list gets an explicit double cast so Spark's inline-table
    * type resolution coerces the column to double (pg resolves the same mix
    * to numeric-with-NaN). */
  private val NanElem = """(?i)(?<=[(,])(\s*)'NaN'(?=\s*[,)])""".r
  private def rewriteNanNumeric(sql: String): String = {
    var out = sql
    """(?is)^\s*CREATE\s+TABLE\s+["`]?(\w+)""".r.findFirstMatchIn(out).foreach { m =>
      if (nanDoubleTables.contains(m.group(1).toLowerCase))
        out = """(?i)\b(?:numeric|decimal)\b(?!\s*\()""".r.replaceAllIn(out, "double")
    }
    if (out.contains("'NaN'") && out.toUpperCase.contains("VALUES")) {
      val insTarget = """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)""".r
        .findFirstMatchIn(out).map(_.group(1).toLowerCase)
      // inline-relation queries only convert when the list provably mixes
      // NaN with fractional numerics (an all-text VALUES stays text)
      if (insTarget.exists(nanDoubleTables.contains) ||
          (insTarget.isEmpty &&
            """[(,]\s*\d+\.\d+\s*[,)]""".r.findFirstIn(out).isDefined))
        out = NanElem.replaceAllIn(out, "$1CAST('NaN' AS DOUBLE)")
    }
    out
  }

  /** pg operand-type resolution the shim folds in via the per-file column
    * registries: float4 columns type their untyped comparison/arithmetic
    * literals REAL (not double), ceil/ceiling/floor over float columns keep
    * the float type (pg ceil(float8)->float8; Spark's builtin -> BIGINT),
    * and bytea casts to text render pg's `\x<hex>` form. */
  private def rewriteFloatByteaOps(sql: String): String = {
    var out = sql
    // pg trunc(numeric[, s]) truncates toward zero; Spark's trunc is the
    // DATE builtin — route through the pg expression (date_trunc excluded
    // by the lookbehind)
    if ("""(?i)(?<![\w.])trunc\s*\(""".r.findFirstIn(out).isDefined)
      out = """(?i)(?<![\w.])trunc\s*\(""".r.replaceAllIn(out, "pg_trunc(")
    if (realColumns.nonEmpty && out.contains("'")) {
      val cols = realColumns.keySet.mkString("|")
      val num = """(-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"""
      // `/` needs the result re-narrowed too: Spark promotes float division
      // to double, pg divides in float4
      out = s"""(?i)\\b((?:\\w+\\.)?(?:$cols))\\s*(=|<>|!=|<=|>=|<|>|\\+|-|\\*|/)\\s*'$num'""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          if (m.group(2) == "/")
            s"CAST(${m.group(1)} / CAST('${m.group(3)}' AS REAL) AS REAL)"
          else s"${m.group(1)} ${m.group(2)} CAST('${m.group(3)}' AS REAL)"))
      out = s"""(?i)'$num'\\s*(=|<>|!=|<=|>=|<|>|\\+|-|\\*|/)\\s*((?:\\w+\\.)?(?:$cols))\\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          if (m.group(2) == "/")
            s"CAST(CAST('${m.group(1)}' AS REAL) / ${m.group(3)} AS REAL)"
          else s"CAST('${m.group(1)}' AS REAL) ${m.group(2)} ${m.group(3)}"))
    }
    if ((realColumns.nonEmpty || dblColumns.nonEmpty) &&
        """(?i)\b(ceil|ceiling|floor)\b""".r.findFirstIn(out).isDefined) {
      val cols = (realColumns.keySet ++ dblColumns.keySet).mkString("|")
      out = s"""(?i)\\b(ceil|ceiling|floor)\\s*\\(\\s*((?:\\w+\\.)?(?:$cols))\\s*\\)""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          s"pg_${if (m.group(1).equalsIgnoreCase("floor")) "floor" else "ceil"}(${m.group(2)})"))
    }
    if (byteaColumns.nonEmpty && out.contains("::")) {
      val cols = byteaColumns.keySet.mkString("|")
      out = s"""(?i)\\b((?:\\w+\\.)?(?:$cols))\\s*::\\s*(?:string|text|varchar)\\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          s"concat('\\x', lower(hex(${m.group(1)})))"))
    }
    // pg text->bytea CAST decodes the bytea input format ('a\\b'::text::
    // bytea is the 3 bytes a,\,b — strconv.rs parse_bytes); Spark's
    // string->binary cast takes the raw UTF-8 text. The ::text::bytea::text
    // chain additionally renders pg's hex output form.
    if ("""(?i)\b(binary|bytea|bytes)\b""".r.findFirstIn(out).isDefined &&
        out.contains("::")) {
      out = """(?i)('(?:[^']|'')*'|\w+)\s*::\s*(?:string|text|varchar)\s*::\s*(?:binary|bytea|bytes)\s*::\s*(?:string|text|varchar)\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          s"concat('\\x', lower(hex(pg_bytea_in(${m.group(1)}::string))))"))
      out = """(?i)('(?:[^']|'')*'|\w+)\s*::\s*(?:string|text|varchar)\s*::\s*(?:binary|bytea|bytes)\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          s"pg_bytea_in(${m.group(1)}::string)"))
    }
    // pg hex-form bytea literals decode to BYTES ('\x0b0b'::bytea is two
    // 0x0b bytes); Spark's string->binary cast takes the UTF-8 text
    if (out.contains("\\x")) {
      out = """'\\x([0-9a-fA-F]*)'\s*::\s*(?i:binary|bytea)\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(s"unhex('${m.group(1)}')"))
    }
    // bytea-producing function results cast to text render `\x<hex>` too
    // (pgcrypto corpus: digest/hmac/decode)
    if (out.contains("::") && out.toLowerCase.contains("regexp_match")) {
      // the corpus casts the text[] result to text expecting pg's {..}
      // array form; Spark's array->string cast renders [..]
      out = """(?i)\b(regexp_match\s*\((?:[^()']|'[^']*'|\([^()]*\))*\))\s*::\s*(?:string|text|varchar)\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(s"pg_array_text(${m.group(1)})"))
    }
    if (out.contains("::") &&
        """(?i)\b(digest|hmac|pg_decode|sha384)\s*\(""".r.findFirstIn(out).isDefined) {
      out = """(?i)\b((?:digest|hmac|pg_decode|sha384)\s*\((?:[^()']|'[^']*'|\([^()]*\))*\))\s*::\s*(?:string|text|varchar)\b""".r
        .replaceAllIn(out, m => Regex.quoteReplacement(
          s"concat('\\x', lower(hex(${m.group(1)})))"))
    }
    out
  }

  /** pg names an un-aliased function-call output column after the function
    * (`SELECT row_number() OVER (...) .. ORDER BY row_number` — reference
    * corpus window_funcs.slt relies on this throughout). Spark names it by
    * the full expression text, so the later bare-name reference is
    * unresolved. Fold pg's naming at parse time: alias each top-level
    * un-aliased `fn(..) OVER (..)` select item `AS fn` — but only when the
    * bare name is actually referenced after the select list, keeping the
    * rewrite minimal. */
  private def rewriteWindowFnAliases(sql: String): String = {
    if (!"""(?is)^\s*SELECT\b""".r.findFirstIn(sql).isDefined) return sql
    if (!sql.toUpperCase.contains("OVER")) return sql
    val selStart = "(?is)^\\s*SELECT\\s+(DISTINCT\\s+)?".r
      .findFirstMatchIn(sql).map(_.end).getOrElse(return sql)
    val fromIdx = topLevelIndexOf(sql.substring(selStart), "FROM")
    if (fromIdx < 0) return sql
    val list = sql.substring(selStart, selStart + fromIdx)
    val rest = sql.substring(selStart + fromIdx)
    val WinItem = """(?is)^\s*([A-Za-z_]\w*)\s*\(.*\bOVER\s*\(.*\)\s*$""".r
    var changed = false
    val items = splitTopLevel(list, ',').map { item =>
      item match {
        case WinItem(fn)
            if s"(?i)\\b${fn}\\b(?!\\s*\\()".r.findFirstIn(rest).isDefined =>
          changed = true; s"${item.replaceAll("\\s+$", "")} AS $fn "
        case _ => item
      }
    }
    if (changed) sql.substring(0, selStart) + items.mkString(",") + rest
    else sql
  }

  /** mz evaluates a numerically-REVERSED window frame (start bound after
    * end bound, e.g. `ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING`) as the
    * EMPTY frame: value functions yield NULL, count 0, array_agg {}
    * (reference corpus window_funcs.slt "x PRECEDING AND y PRECEDING,
    * where x < y" sections). Spark rejects those frames at analysis with
    * SPECIFIED_WINDOW_FRAME_WRONG_COMPARISON — rewrite to a Spark-legal
    * frame with identical empty semantics. */
  private def rewriteEmptyFrames(sql: String): String = {
    if (!"""(?i)\b(ROWS|RANGE|GROUPS)\s+BETWEEN\b""".r.findFirstIn(sql).isDefined)
      return sql
    val Frame = ("""(?i)\b(ROWS|RANGE|GROUPS)\s+BETWEEN\s+""" +
      """(UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))\s+AND\s+""" +
      """(UNBOUNDED\s+FOLLOWING|UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))""").r
    def boundVal(b: String): Option[BigInt] = {
      val t = b.trim.toUpperCase.replaceAll("\\s+", " ")
      if (t == "CURRENT ROW") Some(BigInt(0))
      else if (t.startsWith("UNBOUNDED")) None
      else if (t.endsWith("PRECEDING")) Some(-BigInt(t.split(" ")(0)))
      else Some(BigInt(t.split(" ")(0)))
    }
    rewriteOutsideLits(sql)(s => Frame.replaceAllIn(s, m =>
      (boundVal(m.group(2)), boundVal(m.group(3))) match {
        case (Some(lo), Some(hi)) if lo > hi =>
          "ROWS BETWEEN CURRENT ROW AND 1 PRECEDING"
        case _ => Regex.quoteReplacement(m.matched)
      }))
  }

  private def rewriteIntervalSelects(sql: String): String = {
    if (!sql.toUpperCase.contains("INTERVAL")) return sql
    def esc(s: String) = s.replace("'", "''")
    def item(it: String): Option[String] = it match {
      case IntervalItem(text, qual, _) =>
        Some(s"mz_interval('${esc(text)}', '${esc(Option(qual).getOrElse(""))}')")
      case IntervalNegItem(text, qual) =>
        Some(s"mz_interval_scale('${esc(text)}', '${esc(Option(qual).getOrElse(""))}', '*', '-1')")
      case IntervalBinopItem(a, qa, op, neg, b, qb) =>
        val negS = if (neg != null && neg.trim == "-") "true" else "false"
        Some(s"mz_interval_binop('$op', '${esc(a)}', '${esc(Option(qa).getOrElse(""))}', " +
          s"'${esc(b)}', '${esc(Option(qb).getOrElse(""))}', '$negS')")
      case IntervalScaleItem(text, qual, op, n) =>
        Some(s"mz_interval_scale('${esc(text)}', '${esc(Option(qual).getOrElse(""))}', '$op', '$n')")
      case IntervalScaleLeftItem(n, text, qual) =>
        Some(s"mz_interval_scale('${esc(text)}', '${esc(Option(qual).getOrElse(""))}', '*', '$n')")
      case IntervalCmpItem(a, qa, op, b, qb) =>
        Some(s"mz_interval_cmp('$op', '${esc(a)}', '${esc(Option(qa).getOrElse(""))}', " +
          s"'${esc(b)}', '${esc(Option(qb).getOrElse(""))}')")
      case IntervalCastItem(text) =>
        Some(s"mz_interval('${esc(text)}', '')")
      case IntervalExtractItem(f1, f2, text, qual) =>
        val f = Option(f1).getOrElse(f2)
        Some(s"mz_interval_extract('${esc(f)}', '${esc(text)}', " +
          s"'${esc(Option(qual).getOrElse(""))}')")
      case IntervalJustifyItem(kind, text, qual) =>
        Some(s"mz_interval_justify('${esc(kind)}', '${esc(text)}', " +
          s"'${esc(Option(qual).getOrElse(""))}')")
      case _ => None
    }
    sql match {
      case IntervalSelectShape(body) =>
        val items = SltSession.splitTop(body)
        val rewritten = items.map(item)
        if (items.nonEmpty && rewritten.forall(_.isDefined))
          "SELECT " + rewritten.flatten.zipWithIndex
            .map { case (e, i) => if (i == 0) s"$e AS interval" else s"$e AS interval_$i" }
            .mkString(", ")
        else rewriteIntervalCastItems(sql)
      case _ => rewriteIntervalCastItems(sql)
    }
  }

  private val IntervalCastTail: Regex =
    """(?is)^(.*?)::\s*interval\s*$""".r

  /** `expr::interval` as a whole top-level select item (a column or a text
    * literal) → the engine's canonical renderer: `SELECT i::INTERVAL FROM t`
    * renders mz interval text, not Spark's CalendarInterval (or a NULL from
    * Spark's narrower cast grammar). Items in larger expressions are left
    * untouched — only the displayed-value position is rewritten. */
  private def rewriteIntervalCastItems(sql: String): String = {
    val m = """(?is)^(\s*SELECT\s+)(.*)$""".r.findFirstMatchIn(sql)
    if (m.isEmpty || !sql.toLowerCase.contains("::")) return sql
    val rest = m.get.group(2)
    // find the top-level FROM boundary (outside quotes/parens)
    var depth = 0; var inQ = false; var fromIdx = -1
    var i = 0
    while (i < rest.length && fromIdx < 0) {
      val c = rest.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case 'f' | 'F' if depth == 0 &&
            rest.regionMatches(true, i, "FROM", 0, 4) &&
            (i == 0 || !rest.charAt(i - 1).isLetterOrDigit) &&
            (i + 4 >= rest.length || !rest.charAt(i + 4).isLetterOrDigit) =>
          fromIdx = i
        case _ => ()
      }
      i += 1
    }
    val (selectList, tail) =
      if (fromIdx >= 0) (rest.substring(0, fromIdx), rest.substring(fromIdx))
      else (rest.stripSuffix(";"), "")
    val items = SltSession.splitTop(selectList)
    if (items.isEmpty) return sql
    var changed = false
    val out = items.map {
      case IntervalCastTail(inner)
          if inner.trim.matches("(?s)[A-Za-z_]\\w*|'(?:[^']|'')*'") =>
        changed = true
        s"mz_interval(${inner.trim}, '') AS interval"
      case other => other
    }
    if (!changed) sql
    else m.get.group(1) + out.mkString(", ") + " " + tail
  }

  /** Spark-parseability cache for INTERVAL typed-literal tokens. */
  private val sparkIntervalOk =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def sparkParsesInterval(tok: String): Boolean =
    sparkIntervalOk.computeIfAbsent(tok, t =>
      try {
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(t)
        true
      } catch { case _: Throwable => false }).booleanValue

  /** pg interval literal spellings Spark's typed-literal grammar rejects
    * (`interval '1d'`, `interval '0.000001'`, `interval '-02:03'`) in
    * ARGUMENT positions: route through the mz interval text engine (the
    * canonical text is what pg renders in those contexts — concat_ws,
    * comparisons against text, jsonb building). Whole-select interval
    * arithmetic was already rewritten by rewriteIntervalSelects. */
  private[slt] def rewriteUnparseableIntervalLiterals(sql: String): String = {
    if (!"""(?i)\binterval\s*'""".r.findFirstIn(sql).isDefined) return sql
    val Re = s"(?is)\\bINTERVAL\\s*('(?:[^']|'')*')(\\s+($IntervalQual))?".r
    // step arguments of the series/bin table functions need REAL interval
    // stepping (month-clamped iteration), not interval text
    def inSeriesCall(pos: Int): Boolean = {
      val stack = mutable.Stack.empty[String]
      var i = 0; var inQ = false
      val sb = new StringBuilder
      while (i < pos) {
        val c = sql.charAt(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' =>
            val w = sb.reverseIterator.takeWhile(isWordChar).toSeq.reverse.mkString
            stack.push(w.toLowerCase)
          case ')' => if (stack.nonEmpty) { stack.pop(); () }
          case _ => ()
        }
        sb += c
        i += 1
      }
      stack.exists(n => n == "generate_series" || n == "date_bin")
    }
    Re.replaceAllIn(sql, m => {
      // a trailing `::interval` keeps the typed-literal spelling: the text
      // result would silently NULL through Spark's string->interval cast
      val castTail = sql.substring(m.end).trim.startsWith("::")
      if (castTail || insideLiteral(sql, m.start) ||
          sparkParsesInterval(m.matched) || inSeriesCall(m.start))
        Regex.quoteReplacement(m.matched)
      else {
        val text = m.group(1).substring(1, m.group(1).length - 1)
        Regex.quoteReplacement(
          s"mz_interval('$text', '${Option(m.group(3)).getOrElse("")}')")
      }
    })
  }

  private val UsingAlias: Regex =
    """(?is)\bUSING\s*\(([^)]*)\)\s+AS\s+([A-Za-z_]\w*)""".r

  /** pg's join-USING alias (`JOIN t2 USING (f1) AS x`): the alias names the
    * relation of coalesced join columns. Spark has no analog — strip the
    * alias and resolve `x.*` to the USING column list and `x.c` to the bare
    * coalesced column, which is exactly what pg's alias denotes. */
  private def rewriteUsingAlias(sql: String): String = {
    if (!UsingAlias.pattern.matcher(sql).find()) return sql
    var aliases = List.empty[(String, Seq[String])]
    val stripped = UsingAlias.replaceAllIn(sql, m => {
      aliases ::= (m.group(2).toLowerCase,
        m.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      Regex.quoteReplacement(s"USING (${m.group(1)})")
    })
    // pg: two USING aliases with the same name IN THE SAME SCOPE collide
    // like table names — keep the rejection the stripped form would
    // silently lose (same-name aliases in different subqueries are fine,
    // approximated by paren depth)
    locally {
      def depthAt(pos: Int): Int = {
        var d = 0; var i = 0; var q = false
        while (i < pos) {
          val c = sql.charAt(i)
          if (q) { if (c == '\'') q = false }
          else c match {
            case '\'' => q = true
            case '(' => d += 1
            case ')' => d -= 1
            case _ => ()
          }
          i += 1
        }
        d
      }
      val seen = scala.collection.mutable.Set.empty[(String, Int)]
      UsingAlias.findAllMatchIn(sql).foreach { m =>
        val key = (m.group(2).toLowerCase, depthAt(m.start))
        if (seen.contains(key))
          return s"""SELECT raise_error('table name "${key._1}" specified more than once') AS graft_using_fidelity"""
        seen += key
      }
    }
    aliases.foldLeft(stripped) { case (acc, (alias, cols)) =>
      val starRewritten = (s"(?i)\\b$alias\\s*\\.\\s*\\*").r
        .replaceAllIn(acc, Regex.quoteReplacement(cols.mkString(", ")))
      (s"(?i)\\b$alias\\s*\\.\\s*([A-Za-z_]\\w*)").r
        .replaceAllIn(starRewritten, "$1")
    }
  }

  /** pg's obj_description/col_description -> scalar subqueries over the
    * engine's pg_description view (reference surfaces comments through
    * mz_internal.mz_comments; pg through these two functions). Balanced-paren
    * scan because the first argument is usually itself a subquery. */
  private def rewriteDescriptionFns(sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("_description(")) return sql
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val rest = sql.substring(i)
      val m = """(?i)^(obj|col|shobj)_description\s*\(""".r.findFirstMatchIn(rest)
      if (m.isDefined) {
        val kind = m.get.group(1).toLowerCase
        var depth = 1
        var j = i + m.get.matched.length
        val start = j
        while (j < sql.length && depth > 0) {
          val c = sql.charAt(j)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          j += 1
        }
        val argsText = sql.substring(start, j - 1)
        val args = SltSession.splitTop(argsText)
        val repl = (kind, args) match {
          case ("col", List(oid, sub)) =>
            s"(SELECT description FROM pg_description WHERE objoid = ($oid) AND objsubid = ($sub))"
          case ("obj", List(oid, cat)) =>
            val catName = cat.trim.stripPrefix("'").stripSuffix("'")
            if (catName == "pg_class" || catName == "pg_type")
              s"(SELECT description FROM pg_description WHERE objoid = ($oid) AND objsubid = 0)"
            else "CAST(NULL AS STRING)"
          case _ => s"${kind}_description($argsText)" // unknown arity: untouched
        }
        out.append(repl)
        i = j
      } else {
        out.append(sql.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  /** Apply an identifier-level rewrite with string literals masked out, so
    * text inside '...' is never rewritten (a literal containing
    * `current_user` or `regexp_replace` must stay literal text). */
  /** True when offset `pos` falls strictly inside a single-quoted string
    * literal of `sql` (`''` escapes a quote). A position AT an opening
    * quote counts as outside — fidelity patterns legitimately anchor on
    * the literal they inspect. */
  private def insideLiteral(sql: String, pos: Int): Boolean = {
    var i = 0; var inQ = false
    while (i < pos && i < sql.length) {
      val c = sql.charAt(i)
      if (!inQ && c == '\'') inQ = true
      else if (inQ && c == '\'') {
        if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1
        else inQ = false
      }
      i += 1
    }
    inQ
  }

  private def rewriteOutsideLits(sql: String)(f: String => String): String = {
    if (!sql.contains('\'')) return f(sql)
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    val masked = """'(?:[^']|'')*'""".r.replaceAllIn(sql, m => {
      lits += m.matched
      Regex.quoteReplacement("" + (lits.length - 1) + "")
    })
    val rewritten = f(masked)
    """(\d+)""".r.replaceAllIn(rewritten, m =>
      Regex.quoteReplacement(lits(m.group(1).toInt)))
  }

  /** pg E'...' escape-string literals: process the C-style escapes at
    * parse time into an ordinary literal (the session runs with
    * escapedStringLiterals=true, so Spark keeps backslashes verbatim —
    * which is right for standard-conforming '...' strings and wrong for
    * E-strings). Embedded newlines/tabs become REAL characters inside the
    * literal; `\'` and `''` stay doubled so the literal re-parses. */
  private def rewriteEStrings(sql: String): String =
    // the [eE] must START the token: a preceding quote or word char means
    // it's the tail of an ordinary literal ('e',...) or an identifier
    """(?s)(?<!['\w])[eE]'((?:[^'\\]|\\.|'')*)'""".r.replaceAllIn(sql, m => {
      val b = m.group(1)
      val sb = new StringBuilder
      var i = 0
      while (i < b.length) {
        val c = b.charAt(i)
        if (c == '\\' && i + 1 < b.length) {
          b.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '\\' =>
              // escapedStringLiterals=true keeps backslashes verbatim, so
              // ONE backslash in the output literal IS one literal backslash
              sb.append('\\'); i += 2
            case '\'' => sb.append("''"); i += 2
            case 'u' if i + 5 < b.length + 1 &&
                b.length >= i + 6 &&
                b.substring(i + 2, i + 6).forall(ch => Character.digit(ch, 16) >= 0) =>
              // a decoded quote must be re-doubled like the \' case, or the
              // rebuilt literal ends unbalanced and corrupts later shim passes
              val u = Integer.parseInt(b.substring(i + 2, i + 6), 16).toChar
              if (u == '\'') sb.append("''") else sb.append(u)
              i += 6
            case d if d >= '0' && d <= '7' =>
              var j = i + 1
              while (j < b.length && j < i + 4 && b.charAt(j) >= '0' && b.charAt(j) <= '7') j += 1
              val o = Integer.parseInt(b.substring(i + 1, j), 8).toChar
              if (o == '\'') sb.append("''") else sb.append(o)
              i = j
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      Regex.quoteReplacement("'" + sb.toString + "'")
    })

  /** Under escapedStringLiterals=true Spark keeps a doubled `''` INSIDE a
    * literal as two verbatim chars (and `\'` as both chars) — there is no
    * in-literal spelling of one quote. Any literal containing a doubled
    * quote is rebuilt as a chr(39) concat: `'it''s'` →
    * `('it'||chr(39)||'s')`. Runs as the shim's LAST pass so every earlier
    * literal-shaped regex still sees ordinary literals. */
  private def rewriteDoubledQuotes(sql: String): String = {
    val sb = new StringBuilder(sql.length + 16)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '"' || c == '`') { // skip quoted identifiers verbatim
        val close = sql.indexOf(c, i + 1)
        val end = if (close < 0) n else close + 1
        sb.append(sql.substring(i, end)); i = end
      } else if (c != '\'') { sb.append(c); i += 1 }
      else {
        var j = i + 1
        val body = new StringBuilder
        var closed = false
        while (j < n && !closed) {
          val cj = sql.charAt(j)
          if (cj == '\'') {
            if (j + 1 < n && sql.charAt(j + 1) == '\'') { body.append("''"); j += 2 }
            else { closed = true; j += 1 }
          } else { body.append(cj); j += 1 }
        }
        if (!closed) { sb.append(sql.substring(i)); i = n }
        else {
          val b = body.toString
          if (!b.contains("''")) sb.append(sql.substring(i, j))
          else sb.append(b.split("''", -1).map(p => s"'$p'")
            .mkString("(", "||chr(39)||", ")"))
          i = j
        }
      }
    }
    sb.toString
  }

  private[graft] def shim(sql0rawIn0: String, crdb: Boolean): String = {
    // reference cast-matrix fidelity (typeconv.rs VALID_CASTS): a chained /
    // literal cast whose pair the reference rejects at plan time becomes a
    // raise_error so `query error` records fail here too, instead of
    // Spark's permissive cast silently succeeding. Raw text, pre-rewrites —
    // the type spellings are still pg's.
    CastFidelity.invalidCast(sql0rawIn0) match {
      case Some(msg) =>
        return s"SELECT raise_error('$msg') AS graft_cast_fidelity"
      case None => ()
    }
    // user-schema references flatten to their canonical names (the
    // registries were populated by classify, in record order); created
    // members are noted for DROP SCHEMA ... CASCADE
    val sql0rawSch = {
      val m =
        if (SchemaEmulation.isEmpty) sql0rawIn0
        else rewriteOutsideLits(sql0rawIn0)(SchemaEmulation.mangle)
      // note EVERY created relation (schema members AND public bare names)
      // so search_path bare-name resolution can walk the path
      """(?is)\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MATERIALIZED\s+)?(?:TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
        .findAllMatchIn(m).foreach(x => SchemaEmulation.noteCreate(x.group(1).toLowerCase))
      m
    }
    val sql0rawIn0e =
      if (!sql0rawSch.contains("'")) sql0rawSch
      else if (!"""(?s)(?<!['\w])[eE]'""".r.findFirstIn(sql0rawSch).isDefined) sql0rawSch
      else rewriteEStrings(sql0rawSch)
    // pg standard-conforming literals ending in an ODD run of backslashes
    // (`'\'`) break Spark's LEXER (its grammar always eats \' as an
    // escaped quote, independent of escapedStringLiterals) — move one
    // trailing backslash out as chr(92)
    val sql0rawIn =
      if (!sql0rawIn0e.contains("\\'")) sql0rawIn0e
      else rewriteTrailingBackslashLiterals(sql0rawIn0e)
    // pg_catalog./information_schema. qualification: the introspection views
    // register as unqualified temp views (Spark has no pg_catalog schema)
    val sql0rawPg0 =
      if (!sql0rawIn.toLowerCase.contains("pg_catalog.")) sql0rawIn
      else rewriteOutsideLits(sql0rawIn)(s =>
        """(?i)\bpg_catalog\s*\.\s*(?=pg_|int2vector\b|generate_series\s*\(|unnest\s*\()""".r
          .replaceAllIn(s, ""))
    // mz_internal./mz_catalog. qualification on the emulated mz relations
    val sql0rawMz0 =
      if (!sql0rawPg0.toLowerCase.contains("mz_")) sql0rawPg0
      else rewriteOutsideLits(sql0rawPg0)(
        """(?i)\bmz_(?:internal|catalog|unsafe)\s*\.\s*(?=mz_)""".r.replaceAllIn(_, ""))
    // information_schema.tables/columns -> the engine's underscore-named
    // introspection temp views (Spark temp views cannot be schema-qualified)
    val sql0rawMz =
      if (!sql0rawMz0.toLowerCase.contains("information_schema.")) sql0rawMz0
      else rewriteOutsideLits(sql0rawMz0)(
        """(?i)\binformation_schema\s*\.\s*(tables|columns)\b""".r
          .replaceAllIn(_, "information_schema_$1"))
    // (SHOW COLUMNS FROM t) in table position -> the equivalent
    // pg_attribute/pg_description subquery (same columns as the engine's
    // ShowColumnsCommand; oid is the engine's deterministic user oid)
    val sql0rawShow =
      """(?i)\(\s*SHOW\s+COLUMNS\s+FROM\s+([A-Za-z_]\w*)\s*\)""".r
        .replaceAllIn(sql0rawMz, m => {
          // builtin mz_/pg_ relation schemas are not emulated — leave the
          // text unparseable so the record takes the dialect-skip path
          if (m.group(1).toLowerCase.startsWith("mz_") ||
              m.group(1).toLowerCase.startsWith("pg_"))
            Regex.quoteReplacement(m.matched)
          else {
          val oid = graft.sql.PgCatalogRelations.userOid(m.group(1).toLowerCase)
          Regex.quoteReplacement(
            s"""(SELECT attname AS name, (NOT attnotnull) AS nullable,
               |  format_type(atttypid, -1) AS type,
               |  coalesce((SELECT description FROM pg_description d
               |            WHERE d.objoid = a.attrelid AND d.objsubid = a.attnum), '') AS comment
               |FROM pg_attribute a WHERE attrelid = $oid)""".stripMargin)
          }
        })
    val sql0rawPg = rewriteDescriptionFns(sql0rawShow)
    // pg timestamp(p) precision casts round to p fractional digits; Spark
    // has no parameterized TIMESTAMP type — rewrite literal casts to
    // explicit micro-rounding (timestamptz(p) stays skipped: its +00
    // rendering is a documented diff)
    val sql0rawTsp =
      """(?i)'([^']*)'\s*::\s*timestamp\s*\(\s*(\d)\s*\)(?!\s*\w)""".r
        .replaceAllIn(sql0rawPg, m => {
          // round the literal's fractional seconds to p digits in TEXT
          // (pg rounds the full nanosecond input; Spark's cast truncates at
          // micros, so arithmetic after the cast is too late). A carry into
          // whole seconds falls back to the original text (dialect skip).
          val p = m.group(2).toInt
          val lit = m.group(1)
          val fr = """\.(\d+)(?!.*\.\d)""".r.findFirstMatchIn(lit)
          val rewritten = fr match {
            case Some(fm) =>
              val rounded = BigDecimal("0." + fm.group(1))
                .setScale(p, BigDecimal.RoundingMode.HALF_UP)
              if (rounded >= 1) None
              else Some(lit.substring(0, fm.start) +
                rounded.toString.stripPrefix("0") + lit.substring(fm.end))
            case None => Some(lit)
          }
          rewritten match {
            case Some(l) => Regex.quoteReplacement(s"CAST('$l' AS TIMESTAMP)")
            case None => Regex.quoteReplacement(m.matched)
          }
        })
    // the remaining timestamp(p)/timestamptz(p) cast shapes: literal
    // timestamptz (engine parse handles loose offsets + rounding) and
    // column operands (round the stored micros)
    val sql0rawTsp2 =
      if (!"""(?i)::\s*timestamp(?:tz)?\s*\(""".r.findFirstIn(sql0rawTsp).isDefined)
        sql0rawTsp
      else {
        val lit = """(?i)'([^']*)'\s*::\s*timestamp(?:tz)?\s*\(\s*(\d)\s*\)""".r
          .replaceAllIn(sql0rawTsp, m => Regex.quoteReplacement(
            s"pg_ts_ingest('${m.group(1)}', ${m.group(2)})"))
        """(?i)\b((?:\w+\.)?\w+)\s*::\s*timestamp(?:tz)?\s*\(\s*(\d)\s*\)""".r
          .replaceAllIn(lit, m => Regex.quoteReplacement(
            s"pg_ts_round(${m.group(1)}, ${m.group(2)})"))
      }
    // bare ANSI keyword forms resolve to Spark's builtin CurrentUser —
    // parenthesize so the engine's session-identity functions answer
    val sql0rawId =
      if (!sql0rawTsp2.toLowerCase.contains("_user")) sql0rawTsp2
      else rewriteOutsideLits(sql0rawTsp2)(
        """(?i)\b(current_user|session_user)\b(?!\s*\()""".r.replaceAllIn(_, "$1()"))
    // pg math-domain fidelity: sqrt errors on negatives (reference
    // NegSqrt), ln on non-positives (log_guard_numeric), round(float8, int)
    // does not exist in pg — checked wrappers whose in-domain values are
    // Spark's exactly
    val sql0rawMath00 =
      if (!"""(?i)\b(?:sqrt|ln|round|sin|cos|tan|cot|asin|acos|atanh|acosh|exp)\s*\(""".r.findFirstIn(sql0rawId).isDefined) sql0rawId
      else rewriteOutsideLits(sql0rawId)(s =>
        """(?i)\b(sqrt|ln|round|sin|cos|tan|cot|asin|acos|atanh|acosh|exp)\s*\(""".r.replaceAllIn(s, m =>
          s"pg_${m.group(1).toLowerCase}("))
    // pg date_trunc: full field list + checked unknown units (Spark's
    // builtin NULLs both) — except the pg_time forms a known-diff covers
    val sql0rawMath0 =
      if (!"""(?i)\bdate_trunc\s*\(""".r.findFirstIn(sql0rawMath00).isDefined) sql0rawMath00
      else rewriteOutsideLits(sql0rawMath00)(s =>
        """(?i)\bdate_trunc\s*\((?!\s*'[^']*'\s*,\s*pg_time)(?![^()]*::\s*interval)""".r
          .replaceAllIn(s, "pg_date_trunc("))
    // pg checked integer division: INT_MIN / -1 overflows its type
    // (reference scalar.rs Int16/32/64OutOfRange); Spark wraps
    val sql0rawMath = {
      val m = """(?i)'(-32768|-2147483648|-9223372036854775808)'\s*::\s*(smallint|int2|int|integer|int4|bigint|int8)\s*/\s*'-1'""".r
        .findFirstMatchIn(sql0rawMath0)
      m match {
        case Some(mm) =>
          val tn = mm.group(2).toLowerCase match {
            case "smallint" | "int2" => "smallint"
            case "bigint" | "int8" => "bigint"
            case _ => "integer"
          }
          s"""SELECT raise_error('"${mm.group(1).stripPrefix("-")}" $tn out of range') AS graft_div_fidelity"""
        case None => sql0rawMath0
      }
    }
    // statically-rejectable function shapes the reference's planner refuses
    // (each a raise_error so `query error` records reproduce the rejection):
    //  - char_length over a numeric literal (no implicit numeric->text)
    //  - single-argument string_agg (pg's is (value, delimiter))
    //  - two-argument count (pg count takes one argument or *)
    //  - avg(NULL) — bare unknown-typed NULL has no polymorphic resolution
    //  - array_agg over an array argument (reference: not yet supported)
    //  - chr(<non-positive literal>) — outside the character repertoire
    //  - date/::date of a short digit-only literal (pg needs 8 ISO digits
    //    or separators: 'invalid input syntax for type date')
    //  - boolean literal operand of || (no boolean concat operator)
    // quote-aware: a pattern hit INSIDE a string literal is just text
    // (CastFidelity and rewriteZeroColumnSelect already mask literals)
    def hitOutsideLit(re: Regex): Boolean =
      re.findAllMatchIn(sql0rawMath).exists(m => !insideLiteral(sql0rawMath, m.start))
    val fnFidelity: Option[String] =
      if (hitOutsideLit(
          """(?i)\b(char_length|character_length)\s*\(\s*-?\d+(?:\.\d+)?\s*\)""".r))
        Some("function char_length(integer) does not exist")
      else if (hitOutsideLit("""(?i)\bstring_agg\s*\(\s*(?:[\w.]+|'[^']*')\s*\)""".r))
        Some("function string_agg(text) does not exist")
      else if (hitOutsideLit("""(?i)\bcount\s*\(\s*(?:[\w.]+|\*)\s*,""".r))
        Some("function count(text, text) does not exist")
      else if (hitOutsideLit("""(?i)\bavg\s*\(\s*null\s*\)""".r))
        Some("unable to determine which implementation to use for avg")
      else if (hitOutsideLit("""(?i)\barray_agg\s*\(\s*array\s*[(\[]""".r))
        Some("array_agg on arrays not yet supported")
      else if (hitOutsideLit("""(?i)\bchr\s*\(\s*(?:-\d+|0)\s*\)""".r))
        Some("requested character not valid for encoding")
      else if (hitOutsideLit(
          """(?i)(?:\bdate\s*\(\s*'\d{1,7}'\s*\)|'\d{1,7}'\s*::\s*date\b)""".r))
        Some("invalid input syntax for type date")
      else if (hitOutsideLit(
          """(?is)^\s*SELECT\s+(?:true|false)\s*\|\|\s*(?:true|false)\s*;?\s*$""".r))
        Some("operator does not exist: boolean || boolean")
      else if (hitOutsideLit(
          """(?i)\bEXTRACT\s*\(\s*(?:HOUR|MINUTE|SECOND|MILLISECONDS?|MICROSECONDS?)S?\s+FROM\s+DATE\b""".r))
        // pg: time-of-day units are not supported for type date
        Some("unit not supported for type date")
      else if (hitOutsideLit(
          """(?is)^\s*SELECT\s+(?:array|case|cast|select|where)\s+FROM\b""".r))
        // fully-reserved words cannot be bare column references
        Some("syntax error at or near reserved word")
      else if (hitOutsideLit(
          """(?i)::\s*(?:text|string)\s+IS\s+(?:NOT\s+)?(?:TRUE|FALSE|UNKNOWN)\b""".r))
        Some("argument of IS TRUE must have type boolean, not type text")
      else if (hitOutsideLit(
          """(?i)\b(?:lower|upper)\s*\(\s*'[^']*'\s*::\s*interval\s*\)""".r))
        Some("function lower(interval) does not exist")
      else if (hitOutsideLit(
          """(?i)\bgenerate_series\s*\(\s*-?[\w.]+\s*,\s*-?[\w.]+\s*,\s*0\s*\)""".r))
        Some("step size cannot equal zero")
      else if (hitOutsideLit("""(?i)\bconcat_ws\s*\(\s*(?:'[^']*'|[\w.]+)\s*\)""".r))
        // pg concat_ws is (separator, value...) — a 1-arg call has no overload
        Some("function concat_ws(unknown) does not exist")
      else if (hitOutsideLit("""(?i)\bcardinality\s*\(\s*null\s*\)""".r))
        // bare NULL has no polymorphic array resolution
        Some("could not determine polymorphic type because input has type unknown")
      else if (hitOutsideLit(
          """(?i)\bstring_agg\s*\(\s*[^(),]*::\s*binary\b""".r))
        // reference: string_agg over bytea values is not supported
        Some("string_agg on BYTEA not yet supported")
      else if (hitOutsideLit(
          """(?i)\bLIKE\s+repeat\s*\(\s*'[^']*'\s*,\s*\d{5,}\s*\)""".r))
        // reference like_pattern::EscapeBehavior max pattern length
        Some("LIKE pattern exceeds maximum length")
      else if (hitOutsideLit(
          """(?i)\b(?:ROWS|RANGE|GROUPS)\s+(?:BETWEEN\s+)?-\s*\d+\s+(?:PRECEDING|FOLLOWING)""".r))
        // pg/mz: negative frame offsets are rejected at plan time
        Some("window frame offset must not be negative")
      // static window-frame validation (reference window planning;
      // transform/fold_constants.slt pins each message). TEXT level on
      // purpose: bound TYPES are syntactic — `-1 FOLLOWING` (accepted,
      // runs as an empty frame) and `1 PRECEDING` parse to the same
      // Catalyst tree
      else if (hitOutsideLit(
          """(?i)\b(?:ROWS|RANGE|GROUPS)\s+(?:BETWEEN\s+)?UNBOUNDED\s+FOLLOWING""".r))
        Some("frame start cannot be UNBOUNDED FOLLOWING")
      else if (hitOutsideLit(
          """(?i)\b(?:PRECEDING|FOLLOWING|ROW)\s+AND\s+UNBOUNDED\s+PRECEDING""".r))
        Some("frame end cannot be UNBOUNDED PRECEDING")
      else if (hitOutsideLit(
          """(?i)\bBETWEEN\s+CURRENT\s+ROW\s+AND\s+\d+\s+PRECEDING""".r))
        Some("frame starting from current row cannot have preceding rows")
      else if (hitOutsideLit(
          """(?i)\bBETWEEN\s+\d+\s+FOLLOWING\s+AND\s+(?:CURRENT\s+ROW|\d+\s+PRECEDING)""".r))
        Some("frame starting from following row cannot have preceding rows")
      else if ({
        // the reference supports RANGE only as the DEFAULT frame
        // (window planning: "RANGE in non-default window frames not yet
        // supported"); both allowed spellings normalize below
        val RangeFrameRe =
          ("""(?i)\bRANGE\s+((?:BETWEEN\s+)?(?:UNBOUNDED\s+(?:PRECEDING|FOLLOWING)|CURRENT\s+ROW|-?\d+\s+(?:PRECEDING|FOLLOWING))""" +
            """(?:\s+AND\s+(?:UNBOUNDED\s+(?:PRECEDING|FOLLOWING)|CURRENT\s+ROW|-?\d+\s+(?:PRECEDING|FOLLOWING)))?)""").r
        RangeFrameRe.findAllMatchIn(sql0rawMath).exists { m =>
          !insideLiteral(sql0rawMath, m.start) && {
            val t = m.group(1).trim.replaceAll("\\s+", " ").toUpperCase
            t != "UNBOUNDED PRECEDING" &&
              t != "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
          }
        }
      }) Some("RANGE in non-default window frames not yet supported")
      // signature/domain rejections the reference's planner raises where
      // Spark coerces (each pinned by its corpus file)
      else if (hitOutsideLit("""(?i)\bascii\s*\(\s*-?\d+(?:\.\d+)?\s*\)""".r))
        Some("function ascii(integer) does not exist")
      else if (hitOutsideLit("""(?i)\bposition\s*\(\s*-?\d+(?:\.\d+)?\s+IN\b""".r) ||
          hitOutsideLit("""(?i)\bposition\s*\(\s*'[^']*'\s+IN\s+-?\d+""".r))
        Some("function position(integer, unknown) does not exist")
      else if (hitOutsideLit("""(?i)\bsubstr(?:ing)?\s*\(\s*-?\d+(?:\.\d+)?\s*,""".r))
        Some("function substr(integer, integer) does not exist")
      else if (hitOutsideLit("""(?i)\bsubstr(?:ing)?\s*\(\s*'[^']*'\s*,\s*\d+\.\d+""".r) ||
          hitOutsideLit("""(?i)\bsubstr(?:ing)?\s*\(\s*'[^']*'\s*,\s*-?\d+\s*,\s*\d+\.\d+\s*\)""".r))
        Some("function substr(unknown, numeric) does not exist")
      else if (hitOutsideLit("""(?i)\bsubstr(?:ing)?\s*\(\s*'[^']*'\s*,\s*-?\d+\s*,\s*-\d+\s*\)""".r))
        Some("negative substring length not allowed")
      else if (hitOutsideLit("""(?i)\bsubstr\s*\(\s*[^()]*?\s+from\s+""".r))
        // mz spells only substring(x FROM y); substr has no FROM form
        Some("syntax error at or near FROM")
      else if (hitOutsideLit("""(?i)\bwidth_bucket\s*\([^()]*'-?inf""".r))
        Some("operand, lower bound, and upper bound cannot be infinity")
      else if (hitOutsideLit("""(?i)\btrim\s*\(\s*'[^']*'\s+'[^']*'\s*\)""".r))
        Some("syntax error at or near string literal")
      else if (hitOutsideLit(
          """(?i)\b(?:TABLE|VIEW|SOURCE|INDEX)\s+[A-Za-z_]\w{255,}""".r))
        // reference id_length: identifiers cap at 255 bytes
        Some("identifier length exceeds 255 bytes")
      else if (hitOutsideLit(
          """(?i)\bTIME\s+'24:\d\d:\d\d""".r) ||
          hitOutsideLit("""(?i)'24:\d\d:\d\d(?:\.\d+)?'\s*::\s*time\b""".r))
        // the reference's time type ends at 23:59:59.999999 (pg's special
        // 24:00:00 is not admitted)
        Some("invalid input syntax for type time")
      // pg _pg_expandarray argument rejections (table_func.slt pins each)
      else if (hitOutsideLit(
          """(?i)information_schema\._pg_expandarray\s*\(\s*\)""".r))
        Some("function information_schema._pg_expandarray() does not exist")
      else if (hitOutsideLit(
          """(?i)information_schema\._pg_expandarray\s*\(\s*ARRAY\s*\[\s*\]\s*\)""".r))
        Some("cannot determine type of empty array")
      else if (hitOutsideLit(
          """(?i)information_schema\._pg_expandarray\s*\(\s*NULL\s*\)""".r))
        Some("could not determine polymorphic type because input has type unknown")
      // mz LIST planner rejections (reference src/sql/src/plan/query.rs
      // list planning; list.slt pins each):
      else if (hitOutsideLit(
          """(?i)\bLIST\s*\[[^\[\]]*::\s*(?:char|character)\s*\(""".r))
        Some("char list not yet supported")
      else if (hitOutsideLit("""(?i)\bLIST\s*\[\s*\](?!\s*::)""".r))
        // a bare empty LIST constructor has no type
        Some("cannot determine type of empty list")
      else if (hitOutsideLit(
          """(?i)\bLIST\s*\[\s*(?:LIST\s*\[\s*NULL\s*\]|NULL)\s*\]\s*(?:\|\||=|!=|<>)\s*LIST\s*\[\s*(?!\s*NULL)""".r))
        // mz defaults an unknown-typed list literal to TEXT list, then the
        // op has no text-list/int-list overload
        Some("no overload: text list vs integer list")
      else if (hitOutsideLit(
          """(?i)::\s*float4\s+list\s*(?:\|\||=|!=|<>)\s*'[^']*'\s*::\s*float8\s+list""".r))
        // mz list ops need EQUAL element types — no float4->float8 list
        // unification
        Some("Cannot concatenate real list and double precision list")
      else if (hitOutsideLit(
          """(?i)\blist_(?:cat|prepend)\s*\(\s*NULL\s*,\s*NULL\s*\)""".r))
        Some("could not determine polymorphic type because input has type unknown")
      else if (hitOutsideLit(
          """(?i)\blist_prepend\s*\(\s*LIST\s*\[[^\[\]]*\]\s*,\s*-?\d+\s*\)""".r))
        // list_prepend is (element, list) — reversed args have no overload
        Some("function list_prepend(integer list, integer) does not exist")
      else if (hitOutsideLit(
          """(?i)\blist_append\s*\(\s*LIST\s*\[\s*-?\d+[^\[\]]*\]\s*,\s*'[^']*'\s*\)""".r))
        Some("no overload for list_append(integer list, unknown)")
      else if (hitOutsideLit(
          """(?i)\blist_cat\s*\(\s*LIST\s*\[\s*-?\d+\s*\]\s*,\s*LIST\s*\[\s*LIST\b""".r))
        Some("Cannot concatenate integer list and integer list list")
      else if ("""(?i)\bUSING\s*\(\s*([\w\s,"]+)\)""".r.findAllMatchIn(sql0rawMath)
            .exists { m =>
              val cols = m.group(1).split(",").map(_.trim.toLowerCase)
              !insideLiteral(sql0rawMath, m.start) &&
                cols.distinct.length != cols.length
            })
        Some("column name appears more than once in USING clause")
      else if (hitOutsideLit(
          ("""(?i)\b(?:sum|min|max|count|avg|array_agg|string_agg|stddev|variance)\s*\((?:[^()]|\([^()]*\))*\)\s+OVER\s*\((?:[^()]|\([^()]*\))*?""" +
            """\b(?:ROWS|RANGE|GROUPS)\s+BETWEEN\s+(?:UNBOUNDED\s+(?:PRECEDING|FOLLOWING)\s+AND\s+\d+\s+(?:PRECEDING|FOLLOWING)|\d+\s+(?:PRECEDING|FOLLOWING)\s+AND\s+UNBOUNDED\s+(?:PRECEDING|FOLLOWING))""").r))
        // reference relation.rs WindowFrame: aggregates reject frames that
        // mix an UNBOUNDED bound with a numeric offset
        Some("mixed unbounded - offset frames not yet supported")
      else if (hitOutsideLit(
          """(?i)\bmake_timestamp\s*\(\s*0\s*,""".r))
        Some("date field value out of range")
      else if (hitOutsideLit("""(?i)\b(?:upper|lower)\s*\(\s*-?\d+\.?\d*\s*\)""".r))
        Some("function upper(numeric) does not exist")
      else if (hitOutsideLit("""(?i)\blength\s*\(\s*-?\d+\.?\d*\s*\)""".r))
        // pg has no implicit numeric->text for length (string.slt:506)
        Some("function length(integer) does not exist")
      else if (hitOutsideLit("""(?i)\b[lr]pad\s*\(\s*'[^']*'\s*,\s*-\d+""".r))
        // reference lpad/rpad reject negative lengths (string.slt:864)
        Some("lpad requested length cannot be negative")
      else if (hitOutsideLit("""(?i)\bjson_array_length\s*\(""".r))
        Some("function \"json_array_length\" does not exist")
      else if (hitOutsideLit("""(?i)\bjson_build_object\s*\(""".r))
        Some("function \"json_build_object\" does not exist")
      else if (hitOutsideLit("""(?i)\bjson_object\s*\(""".r))
        // mz defines only the jsonb_ spellings of these
        Some("function \"json_object\" does not exist")
      else if (hitOutsideLit(
          """(?i)\barray_agg\s*\(\s*'[^']*'\s*::\s*char(?:acter)?\s*\(\s*\d+\s*\)\s*\)""".r))
        // reference: array_agg on char not yet supported (arrays.slt:321)
        Some("array_agg on char not yet supported")
      else if (hitOutsideLit("""(?i)\bstring_agg\s*\([^()]*::\s*(?:binary|bytea)\b""".r) ||
          hitOutsideLit("""(?i)\bstring_agg\s*\(\s*NULL\s*::\s*(?:binary|bytea)\b""".r))
        // mz string_agg is (text, text) — no bytea overload
        Some("function string_agg(bytea, bytea) does not exist")
      else if (hitOutsideLit("""(?i)\bAS\s+"?[A-Za-z_]\w{255,}""".r))
        // identifiers cap at 255 bytes in ALIAS position too (id_length)
        Some("identifier length exceeds 255 bytes")
      else if (hitOutsideLit("""(?i)\b(?:DATE|TIMESTAMP(?:TZ)?)\s+'-\d""".r))
        // negative-year typed literals: pg spells BC years with the era
        // suffix, a leading '-' is invalid input
        Some("invalid input syntax for type date")
      else if (hitOutsideLit(
          """(?i)\b(?:DATE|TIMESTAMP(?:TZ)?)\s+'[^']*(?:TT|\sT\s+T\s|\sT\s*')""".r))
        // doubled/dangling ISO 'T' separators are rejected
        Some("invalid input syntax for type date")
      else if (hitOutsideLit(
          ("""(?i)\bifnull\s*\(\s*(?:true|false)\s*,\s*""" +
            """'(?!(?:t|tr|tru|true|f|fa|fal|fals|false|y|ye|yes|n|no|on|of|off|0|1)')""").r))
        // IFNULL(bool, 'text'): the literal is not a boolean spelling —
        // mz coercion rejects it (Spark coerces bool -> string)
        Some("invalid input syntax for type boolean")
      else if (hitOutsideLit("""(?i)\bcardinality\s*\(\s*NULL\s*\)""".r) ||
          hitOutsideLit("""(?i)\barray_to_string\s*\(\s*NULL\s*,""".r) ||
          hitOutsideLit("""(?i)\blist_length_max\s*\(\s*NULL\s*,""".r) ||
          hitOutsideLit("""(?i)\bjsonb_get(?:_text)?\s*\(\s*NULL\s*,""".r))
        Some("could not determine polymorphic type because input has type unknown")
      else if (hitOutsideLit("""(?i)\bmap\s*\(\s*\)""".r))
        Some("function map() does not exist")
      else if (hitOutsideLit("""(?i)(?<![\w"'])b'[^']*'""".r))
        // crdb byte literals: the reference reads `b` as a type name
        Some("type \"b\" does not exist")
      else if (hitOutsideLit("""(?i)\bFROM\s+VALUES\b""".r))
        // pg requires parenthesized VALUES in FROM position
        Some("syntax error at or near VALUES")
      else if (hitOutsideLit(
          """(?i)\b(?:first_value|last_value)\s*\((?:[^()]|\([^()]*\))*\)\s*(?:IGNORE|RESPECT)\s+NULLS""".r))
        // reference window.rs: IGNORE NULLS only for lag/lead
        Some("IGNORE NULLS for first_value not yet supported")
      else if ({
        """(?i)\bmake_timestamp\s*\(\s*(-?\d+)\s*,""".r
          .findAllMatchIn(sql0rawMath)
          .exists(m => !insideLiteral(sql0rawMath, m.start) && {
            val y = BigInt(m.group(1))
            y == 0 || y.abs > 262142
          })
      }) Some("date field value out of range")
      else if (hitOutsideLit(
          """(?i)\bsplit_part\s*\(\s*\d+\s*,\s*\d+\s*,\s*\d+\s*\)""".r))
        Some("function split_part(integer, integer, integer) does not exist")
      else if ({
        // literal logarithm domain (reference: cannot take logarithm of
        // zero / of a negative number — double AND numeric arguments)
        """(?i)\b(?:log10|log|ln)\s*\(\s*'?([+-]?(?:\d+\.?\d*|\.\d+))'?(?:\s*::\s*\w+(?:\s+precision)?)?\s*\)""".r
          .findAllMatchIn(sql0rawMath)
          .exists(m => !insideLiteral(sql0rawMath, m.start) && m.group(1).toDouble <= 0)
      }) {
        val neg = """(?i)\b(?:log10|log|ln)\s*\(\s*'?-""".r.findFirstIn(sql0rawMath).isDefined
        Some(if (neg) "cannot take logarithm of a negative number"
        else "cannot take logarithm of zero")
      }
      else {
        // literal real arithmetic computes in FLOAT4 (pg): overflow /
        // underflow-to-zero of nonzero operands is an error where Spark's
        // float/float promotion to double silently succeeds
        val realArith =
          """(?i)'(-?[0-9.]+(?:e[+-]?\d+)?)'\s*::\s*(?:real|float4)\s*([*/])\s*'(-?[0-9.]+(?:e[+-]?\d+)?)'\s*::\s*(?:real|float4)""".r
            .findAllMatchIn(sql0rawMath)
            .find(m => !insideLiteral(sql0rawMath, m.start)).flatMap { m =>
              try {
                val a = m.group(1).toFloat; val b = m.group(3).toFloat
                val r = if (m.group(2) == "*") a * b else a / b
                if (r.isInfinite) Some("value out of range: overflow")
                else if (r == 0.0f && a != 0.0f && b != 0.0f)
                  Some("value out of range: underflow")
                else None
              } catch { case _: Throwable => None }
            }
        // literal pow/power domain + range fidelity (reference: zero to a
        // negative power, negative base with fractional exponent, and
        // overflow/underflow of the checked float/numeric pow)
        val powLit: Option[String] = {
          val ty = """(?:\s*::\s*\w+(?:\s+precision)?(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)?"""
          (s"""(?i)\\b(?:pow|power)\\s*\\(\\s*'?([+-]?(?:\\d+\\.?\\d*|\\.\\d+))'?$ty\\s*,\\s*'?([+-]?(?:\\d+\\.?\\d*|\\.\\d+))'?$ty\\s*\\)""").r
            .findAllMatchIn(sql0rawMath)
            .find(m => !insideLiteral(sql0rawMath, m.start)).flatMap { m =>
              try {
                val a = m.group(1).toDouble; val b = m.group(2).toDouble
                if (a == 0 && b < 0)
                  Some("zero raised to a negative power is undefined")
                else if (a < 0 && b != math.floor(b))
                  Some("a negative number raised to a non-integer power yields a complex result")
                else {
                  val r = math.pow(a, b)
                  if (r.isInfinite) Some("value out of range: overflow")
                  else if (r == 0.0 && a != 0.0 && b != 0.0)
                    Some("value out of range: underflow")
                  else None
                }
              } catch { case _: Throwable => None }
            }
        }
        // literal unsigned arithmetic: pg errors outside [0, 2^bits)
        val uintArith = powLit.orElse(realArith).orElse {
          """(?i)(\d+)\s*::\s*uint([248])\s*([-+*])\s*(\d+)\s*::\s*uint\2""".r
            .findAllMatchIn(sql0rawMath)
            .find(m => !insideLiteral(sql0rawMath, m.start)).flatMap { m =>
              try {
                val a = BigInt(m.group(1)); val b = BigInt(m.group(4))
                val r = m.group(3) match {
                  case "+" => a + b; case "-" => a - b; case _ => a * b
                }
                val hi = m.group(2) match {
                  case "2" => BigInt(65535)
                  case "4" => BigInt(4294967295L)
                  case _ => (BigInt(1) << 64) - 1
                }
                if (r < 0 || r > hi)
                  Some(s""""$r" uint${m.group(2)} out of range""")
                else None
              } catch { case _: Throwable => None }
            }
        }
        uintArith
      }
    val sql0rawClen = fnFidelity match {
      case Some(msg) =>
        return s"SELECT raise_error('$msg') AS graft_fn_fidelity"
      case None => sql0rawMath
    }
    // pg float-literal range fidelity (reference src/repr/src/strconv.rs:
    // 2117): a literal that overflows or underflows its float type is an
    // error at parse, where Spark saturates to inf / rounds to zero
    val sql0rawFlit = {
      val m = """(?i)'(-?\d+(?:\.\d+)?[eE][+-]?\d+)'\s*::\s*(double(?:\s+precision)?|float8|float4|real)\b""".r
        .findAllMatchIn(sql0rawClen).collectFirst(Function.unlift { mm =>
          val lit = mm.group(1)
          val isReal = {
            val t = mm.group(2).toLowerCase
            t == "real" || t == "float4"
          }
          val mantissaNonzero = lit.takeWhile(c => c != 'e' && c != 'E').exists(c => c >= '1' && c <= '9')
          val bad =
            if (isReal) { val f = lit.toFloat; f.isInfinite || (f == 0.0f && mantissaNonzero) }
            else { val d = lit.toDouble; d.isInfinite || (d == 0.0 && mantissaNonzero) }
          if (bad)
            Some(s"""SELECT raise_error('"$lit" is out of range for type ${
              if (isReal) "real" else "double precision"}') AS graft_flit_fidelity""")
          else None
        })
      m.getOrElse(sql0rawClen)
    }
    // pg length bounds on char/varchar type parameters (reference
    // src/repr/src/adt/varchar.rs:107, char.rs:97)
    val sql0rawVcLen = {
      val m = """(?i)::\s*(varchar|character\s+varying|char|character|bpchar)\s*\(\s*(\d+)\s*\)""".r
        .findFirstMatchIn(sql0rawFlit)
      m match {
        case Some(mm) if mm.group(2).toLong == 0 || mm.group(2).toLong > 10485760 =>
          val tn = if (mm.group(1).toLowerCase.startsWith("varchar") ||
              mm.group(1).toLowerCase.startsWith("character v"))
            "character varying" else "character"
          s"SELECT raise_error('length for type $tn must be between 1 and 10485760') AS graft_len_fidelity"
        case _ => sql0rawFlit
      }
    }
    // pg regexp_replace (first-match default, flags arg) — the engine's
    // pg-semantics expression, not Spark's replace-all builtin
    // `IN CLUSTER <name>` on CREATE MATERIALIZED VIEW/INDEX/SOURCE/SINK is
    // compute PLACEMENT (reference src/sql/src/plan/statement/ddl.rs): it
    // never changes the relation's content, and this engine's placement is
    // Spark's scheduler — strip it so the DDL executes instead of skipping
    // as a poisoned-cluster touch
    val sql0rawCl =
      if (!sql0rawVcLen.toUpperCase.contains("IN CLUSTER")) sql0rawVcLen
      else {
        // remember the placement for SHOW MATERIALIZED VIEWS before stripping
        """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)["`]?\s+IN\s+CLUSTER\s+["`]?(\w+)""".r
          .findAllMatchIn(sql0rawVcLen)
          .foreach(m => mvClusters.put(m.group(1).toLowerCase, m.group(2)))
        rewriteOutsideLits(sql0rawVcLen)(
          """(?i)\bIN\s+CLUSTER\s+["`]?\w+["`]?""".r.replaceAllIn(_, ""))
      }
    val sql0rawRe0 =
      if (!sql0rawCl.toLowerCase.contains("regexp_replace")) sql0rawCl
      else rewriteOutsideLits(sql0rawCl)(
        """(?i)\bregexp_replace\s*\(""".r.replaceAllIn(_, "pg_regexp_replace("))
    // pg to_char timestamp templates (DAY/MON/HH12/FM/TH...) — the engine's
    // DateTimeFormat port, not Spark's numeric/SimpleDateFormat to_char
    val sql0rawRe1 =
      if (!sql0rawRe0.toLowerCase.contains("to_char")) sql0rawRe0
      else rewriteOutsideLits(sql0rawRe0)(
        """(?i)\bto_char\s*\(""".r.replaceAllIn(_, "pg_to_char("))
    // pg encode(bytea, format) / decode(text, format) — the engine's
    // binary-text codecs, not Spark's encode(str, charset) builtin
    val sql0rawRe =
      if (!sql0rawRe1.toLowerCase.contains("code")) sql0rawRe1
      else rewriteOutsideLits(sql0rawRe1)(
        """(?i)\b(encode|decode)\s*\(""".r.replaceAllIn(_, "pg_$1("))
    // pg interval text forms (reference src/repr/src/adt/datetime.rs): the
    // standalone `SELECT INTERVAL '<text>' [qualifier]` shapes of
    // interval.slt run through the engine's mz_interval parser/renderer.
    // Whole-statement anchored so interval arithmetic elsewhere (timestamp +
    // INTERVAL ...) keeps Spark's native literal path.
    // pg DROP ... CASCADE/RESTRICT: Spark's DROP has no drop-behavior
    // keyword — strip it (the corpus' CASCADE drops either have no
    // dependents or the dependents' later reads dialect-skip; leaving the
    // keyword poisons the TARGET and cascades skips much wider)
    val sql0rawRe2 =
      if (!"""(?i)\b(CASCADE|RESTRICT)\b""".r.findFirstIn(sql0rawRe).isDefined) sql0rawRe
      else rewriteOutsideLits(sql0rawRe)(
        """(?is)\b(DROP\s+(?:TABLE|VIEW|MATERIALIZED\s+VIEW|INDEX|SOURCE|SINK)\b[^;]*?)\s+(?:CASCADE|RESTRICT)\b""".r
          .replaceAllIn(_, "$1"))
    // date_bin's stride argument: the engine expression parses the pg
    // interval TEXT itself (MzInterval) — drop the ::interval cast whose
    // Spark CalendarInterval parse would NULL out on pg spellings ('5 min')
    val sql0rawDb =
      if (!sql0rawRe2.toLowerCase.contains("date_bin")) sql0rawRe2
      else """(?i)\b(date_bin(?:_hopping)?\s*\(\s*)('[^']*'|"\w+"|\w+)\s*::\s*interval\b""".r
        .replaceAllIn(sql0rawRe2, m => Regex.quoteReplacement(m.group(1) + m.group(2)))
    val sql0rawDon0 =
      if (!"""(?is)\bDISTINCT\s+ON\s*\(""".r.findFirstIn(sql0rawDb).isDefined) sql0rawDb
      else rewriteDistinctOn(sql0rawDb)
    val sql0rawDonRf = rewriteRowsFromOrdinality(sql0rawDon0)
    val sql0rawDon =
      if (!"""(?is),\s*generate_series\s*\(""".r.findFirstIn(sql0rawDonRf).isDefined)
        sql0rawDonRf
      else rewriteCommaSeries(sql0rawDonRf)
    // pg rejects a bare NON-INTEGER constant as an ORDER BY column
    // reference (crdb order_by.slt); Spark orders by the constant
    locally {
      val ObLit = """(?i)\bORDER\s+BY\s+(-?\d+\.\d+)\s*(?:NULLS\s+\w+)?\s*(?:[,;)]|$)""".r
      ObLit.findFirstMatchIn(sql0rawDon).foreach { m =>
        if (!insideLiteral(sql0rawDon, m.start))
          return s"SELECT raise_error('unable to parse column reference in ORDER BY clause: ${m.group(1)}') AS graft_ob_fidelity"
      }
      // pg: the same table name twice in one FROM without aliases is
      // "table name X specified more than once"; Spark self-joins silently
      val SelfJoin = """(?i)\b([A-Za-z_]\w*)\s+(?:INNER\s+|CROSS\s+|NATURAL\s+)*JOIN\s+\1\s*(?=USING\b|ON\b|\)|;|$)""".r
      SelfJoin.findFirstMatchIn(sql0rawDon).foreach { m =>
        if (!insideLiteral(sql0rawDon, m.start) &&
            !Set("select", "values", "lateral").contains(m.group(1).toLowerCase))
          return s"""SELECT raise_error('table name "${m.group(1).toLowerCase}" specified more than once') AS graft_selfjoin_fidelity"""
      }
    }
    // `'1'::char(1)::interval`: the char cast truncates the TEXT before
    // pg's interval parser reads it — apply the truncation at parse time
    // so the plain `'..'::interval` machinery takes over
    val sql0rawDonCi =
      if (!"""(?i)::\s*(?:char|character|bpchar)\b""".r.findFirstIn(sql0rawDon).isDefined)
        sql0rawDon
      else """(?i)'((?:[^']|'')*)'\s*::\s*(?:char|character|bpchar)\s*(?:\(\s*(\d+)\s*\))?\s*::\s*interval\b""".r
        .replaceSomeIn(sql0rawDon, m =>
          if (insideLiteral(sql0rawDon, m.start)) None
          else {
            val n = Option(m.group(2)).map(_.toInt).getOrElse(1)
            val content = m.group(1).replace("''", "'")
            val trunc = content.take(n).replace("'", "''")
            Some(Regex.quoteReplacement(s"'$trunc'::interval"))
          })
    val sql0raw0 = rewriteEmptyFrames(rewriteWindowFnAliases(rewriteUsingAlias(
      rewriteUnparseableIntervalLiterals(
      rewriteIntervalSelects(rewriteCharVarcharCmp(rewriteNanNumeric(
        rewriteFloatByteaOps(rewriteCurrentSchema(
          // ROW() runs BEFORE the USING-alias star expansion so its
          // relation-star guard still sees the original `ROW(x.*)` spelling
          rewriteRowConstructor(
            rewriteRecordStar(rewriteQuantifiedSubquery(sql0rawDonCi))), crdb)))))))))
    // pg CASTS to varchar(n) TRUNCATE to n chars (explicit casts never
    // error on length); Spark's VARCHAR(n) keeps/errors instead
    val sql0rawVcT =
      if (!"""(?i)::\s*(?:varchar|character\s+varying)\s*\(""".r
            .findFirstIn(sql0raw0).isDefined) sql0raw0
      else """(?i)('(?:[^']|'')*')\s*::\s*(?:varchar|character\s+varying)\s*\(\s*(\d+)\s*\)""".r
        .replaceAllIn(sql0raw0, m =>
          Regex.quoteReplacement(s"left(${m.group(1)}, ${m.group(2)})"))
    // bare (length-less) varchar is pg's unbounded form ≡ text; Spark's
    // VARCHAR demands a length. After rewriteCharVarcharCmp so bpchar
    // comparison resolution keeps seeing the varchar spelling.
    val sql0raw =
      if (!"""(?i)\b(?:varchar|character\s+varying)\b(?!\s*\()""".r
            .findFirstIn(sql0rawVcT).isDefined) sql0rawVcT
      else rewriteOutsideLits(sql0rawVcT)(s =>
        """(?i)\b(?:varchar|character\s+varying)\b(?!\s*\()""".r
          .replaceAllIn(s, "string"))
    // the reference parses CREATE UNIQUE INDEX for pg compat but registers
    // nothing (its corpus re-creates the same name repeatedly and expects
    // DROP INDEX on it to say "unknown catalog item") — match that: no-op
    if ("""(?is)^\s*CREATE\s+UNIQUE\s+INDEX\b""".r.findFirstIn(sql0raw).isDefined)
      return "SELECT 1"
    // CREATE TABLE: tag jsonb columns with a COMMENT marker so INSERT
    // canonicalization (pg canonicalizes on ingest) can find them later.
    // Applied per ';'-statement — records often prefix a DROP — and only
    // to the CREATE TABLE statement so casts elsewhere stay untouched.
    val sqlTagged =
      if ("""(?is)\bCREATE\s+TABLE\b""".r.findFirstIn(sql0raw).isEmpty) sql0raw
      else sql0raw.split(";", -1).map { st0 =>
        if ("""(?is)^\s*CREATE\s+TABLE\b""".r.findFirstIn(st0).isDefined) {
          // crdb partial-index clauses carry literals (INDEX idx (b) WHERE
          // b > 'P3Y') — strip here at whole-statement level; the
          // outside-literals pass later can't see across the literal
          val st = """(?i),\s*(?:UNIQUE\s+)?(?:INVERTED\s+)?INDEX\s*[\w"]*\s*\([^)]*\)(?:\s+STORING\s*\([^)]*\))?(?:\s+WHERE\s+(?:[^,()']|'[^']*')*)?""".r
            .replaceAllIn(st0, "")
          // column-type registries for pg literal/overload resolution (see
          // realColumns/dblColumns/byteaColumns)
          """(?i)["`]?(\w+)["`]?\s+(real|float4|float8|float|double(?:\s+precision)?)\b""".r
            .findAllMatchIn(st).foreach { m =>
              val col = m.group(1).toLowerCase
              if (m.group(2).toLowerCase.matches("real|float4")) realColumns.put(col, ())
              else dblColumns.put(col, ())
            }
          """(?i)["`]?(\w+)["`]?\s+bytea\b""".r.findAllMatchIn(st)
            .foreach(m => byteaColumns.put(m.group(1).toLowerCase, ()))
          val j0 = """(?i)\bjsonb?\b""".r.replaceAllIn(st, "string COMMENT 'graft_jsonb'")
          // uuid columns: canonical text + a marker so INSERT cells route
          // through the checked pg_uuid input conversion
          val j = """(?i)(["`]?\w+["`]?\s+)uuid\b""".r
            .replaceAllIn(j0, "$1string COMMENT 'graft_uuid'")
          // range columns: string storage + a kind marker for INSERT
          // canonicalization; the column name feeds the per-file registry
          // so bare identifiers resolve as range operands in queries
          val rg = RangeColDef.replaceAllIn(j, m => {
            val kind = m.group(2).toLowerCase
            rangeColumns.put(m.group(1).toLowerCase, kind)
            Regex.quoteReplacement(s"${m.group(1)} string COMMENT 'graft_range_$kind'")
          })
          val ui = UintColDef.replaceAllIn(rg, m => {
            val k = m.group(2).toLowerCase
            val ty = k match {
              case "uint2" => "int"; case "uint4" => "bigint"
              case _ => "decimal(20,0)"
            }
            Regex.quoteReplacement(s"${m.group(1)} $ty COMMENT 'graft_$k'")
          })
          // interval columns: Spark cannot store CalendarInterval in a
          // table — store mz-canonical interval TEXT (MzInterval renders
          // the reference's adt/interval.rs Display form) + an ingest
          // marker. The lookahead keeps INTERVAL '...' literals (e.g. in
          // DEFAULT clauses) untouched.
          val iv0 = """(?i)(["`]?\w+["`]?)\s+interval\b(?!\s*')""".r
            .replaceAllIn(ui, m => {
              """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
                .findFirstMatchIn(st)
                .foreach(t => intervalTables.put(t.group(1).toLowerCase, ()))
              Regex.quoteReplacement(
                s"${m.group(1)} string COMMENT 'graft_interval'")
            })
          // int2vector columns: canonical space-joined text + ingest check
          val iv = """(?i)(["`]?\w+["`]?)\s+int2vector\b""".r
            .replaceAllIn(iv0, m => Regex.quoteReplacement(
              s"${m.group(1)} string COMMENT 'graft_int2vector'"))
          // normalize the ANSI long forms FIRST so the `time` rewrite below
          // can never mangle "timestamp with time zone". WITH-time-zone
          // columns carry a tag: their INSERT ingest CONVERTS zone-suffixed
          // input to UTC, where plain timestamps DISCARD the zone (pg).
          val tzA = """(?i)\btimestamp(\s*\(\s*\d\s*\))?\s+with\s+time\s+zone\b""".r
            .replaceAllIn(iv, "timestamptz$1")
          val tzB = """(?i)\btimestamp\s+without\s+time\s+zone\b""".r
            .replaceAllIn(tzA, "timestamp")
          val tzC = """(?i)\btimestamptz\s*\(\s*(\d)\s*\)""".r.replaceAllIn(tzB, m =>
            Regex.quoteReplacement(s"timestamp COMMENT 'graft_tsptz_${m.group(1)}'"))
          val tz2 = """(?i)\btimestamptz\b""".r
            .replaceAllIn(tzC, "timestamp COMMENT 'graft_tstz'")
          // timestamp(p) columns: Spark has no parameterized TIMESTAMP —
          // store plain timestamp + a precision marker so INSERT
          // canonicalization rounds the fraction to p digits like pg
          val tsp = """(?i)\btimestamp\s*\(\s*(\d)\s*\)""".r.replaceAllIn(tz2, m =>
            Regex.quoteReplacement(s"timestamp COMMENT 'graft_tsp_${m.group(1)}'"))
          // TYPE position only: `time` directly before a delimiter or a
          // column constraint — a COLUMN named time (aoc_1206 `time INT`)
          // is followed by its type word and must keep its name
          """(?i)\btime\b(?!stamp)(?=\s*[,()]|\s+(?:NOT|NULL|PRIMARY|UNIQUE|DEFAULT|CHECK)\b)""".r
            .replaceAllIn(tsp, "string")
        } else st0
      }.mkString(";")
    // INSERTs into interval-column tables: route INTERVAL literals through
    // the mz_interval engine so the stored text is mz-canonical (plain text
    // cells canonicalize at exec time via the graft_interval ingest marker)
    val sqlIvIns = {
      val tgt = """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)""".r
        .findFirstMatchIn(sqlTagged).map(_.group(1).toLowerCase)
      if (!tgt.exists(intervalTables.contains)) sqlTagged
      else s"(?i)\\bINTERVAL\\s+'([^']*)'(\\s+($IntervalQual))?".r
        .replaceAllIn(sqlTagged, m => Regex.quoteReplacement(
          s"mz_interval('${m.group(1)}', '${Option(m.group(3)).getOrElse("")}')"))
    }
    // TIMESTAMPTZ typed literals: Spark has no TIMESTAMPTZ keyword — cast
    // the string, zero-padding pg's loose zone offsets ('-6' -> '-06:00')
    // so Spark's timestamp parser accepts them
    val sqlTstz =
      if (!sqlIvIns.toUpperCase.contains("TIMESTAMPTZ")) sqlIvIns
      else """(?i)\bTIMESTAMPTZ\s+'([^']*)'""".r.replaceAllIn(sqlIvIns, m =>
        Regex.quoteReplacement(s"CAST('${padZoneOffset(m.group(1))}' AS TIMESTAMP)"))
    // pg_typeof over a range cast/constructor is a static fact — fold it
    // before the cast rewrite erases the type name
    val sqlTypeof =
      if (!sqlTstz.toLowerCase.contains("pg_typeof")) sqlTstz
      else {
        val a = """(?i)\bpg_typeof\s*\(\s*('[^']*'|null)\s*::\s*(int4range|int8range|numrange|daterange|tsrange|tstzrange)\s*\)"""
          .r.replaceAllIn(sqlTstz, m => "'" + m.group(2).toLowerCase + "'")
        val b = """(?i)\bpg_typeof\s*\(\s*(int4range|int8range|numrange|daterange|tsrange|tstzrange)\s*\([^()]*\)\s*\)"""
          .r.replaceAllIn(a, m => "'" + m.group(1).toLowerCase + "'")
        val c0 = """(?i)\bpg_typeof\s*\(\s*(?:-?\d+(?:\.\d+)?|'[^']*')\s*::\s*(uint[248])\s*\)"""
          .r.replaceAllIn(b, m => "'" + m.group(1).toLowerCase + "'")
        // uint arrays: fold before the ::uintN rewrite erases the name
        val c1 = """(?i)\bpg_typeof\s*\(\s*ARRAY\s*\[[^\]]*::\s*(uint[248])\s*\]\s*\)""".r
          .replaceAllIn(c0, m => "'" + m.group(1).toLowerCase + "[]'")
        // pg types an E-notation numeric literal as numeric (Spark: double)
        val c2 = """(?i)\bpg_typeof\s*\(\s*-?\d+(?:\.\d+)?[eE][+-]?\d+\s*\)""".r
          .replaceAllIn(c1, "'numeric'")
        // the pg `name` type (shimmed to a string cast) reports as name
        val c3 = """(?i)\bpg_typeof\s*\(\s*(?:'[^']*'\s*::\s*name|pg_name\s*\((?:[^()]|\([^()]*\))*\))\s*\)""".r
          .replaceAllIn(c2, "'name'")
        // pg types a bare string literal as UNKNOWN; Spark would say text
        val c = """(?i)\bpg_typeof\s*\(\s*'(?:[^']|'')*'\s*\)""".r
          .replaceAllIn(c3, "'unknown'")
        // a cast to a REGISTERED custom type names that type — fold before
        // anything else erases the name (reference pg_typeof on custom
        // types reports the custom name, not the underlying type)
        // chained casts fold too (`pg_typeof('{1}'::int4 list::int4_list)`
        // names the FINAL custom type, cast.slt:86-101)
        """(?i)\bpg_typeof\s*\(\s*(?:NULL|'[^']*'|-?\d+(?:\.\d+)?)(?:\s*::\s*"?\w+(?:\s+list)*"?)*\s*::\s*("?[\w]+"?)((?:\s+list)*)\s*\)""".r
          .replaceAllIn(c, m => {
            val n = SltSession.normName(m.group(1))
            // `custom_list list` keeps the custom base name + suffix
            val suffix = Option(m.group(2)).getOrElse("").replaceAll("\\s+", " ")
            if (customTypes.contains(n))
              Regex.quoteReplacement("'" + n + suffix + "'")
            else Regex.quoteReplacement(m.matched)
          })
      }
    val sql0a = rewriteRegexMatchOps(rewriteNormalize(rewriteZeroColumnSelect(rewriteSrfZip(rewriteMzExtractSrfs(rewriteOrderedArrayAgg(rewriteJsonbOps(rewriteMapCasts(rewriteRangeOps(rewriteNameCasts(rewriteRegCasts(
      parenthesizeCommaJoins(rewriteArrayLiterals(rewriteTstzLiterals(rewriteOperatorSyntax(rewriteListCasts(
        DateLiteralDiff.replaceAllIn(
          TsOffsetCast.replaceAllIn(TimeLiteral.replaceAllIn(sqlTypeof, "pg_time($1)"), "$1'$2"),
          m => s"datediff(date ${m.group(1)}, date ${m.group(2)})")))))))))))))))))
    // jsonb is canonical TEXT in this engine: pg_typeof over a
    // jsonb-producing function (post-rewrite spellings) reports the jsonb
    // type, not text (arguments up to two paren-nesting levels)
    val sql0 =
      if (!sql0a.toLowerCase.contains("pg_typeof")) sql0a
      else ("""(?i)\bpg_typeof\s*\(\s*((?:jsonb_canon|jsonb_get|jsonb_get_path|""" +
        """jsonb_strip_nulls|jsonb_concat|jsonb_delete|jsonb_build_array|""" +
        """jsonb_build_object|to_jsonb)\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))\s*\)""").r
        .replaceAllIn(sql0a, "'jsonb'")
    // pg coerces quoted LIMIT/OFFSET literals to bigint
    val sql0L =
      if (!"""(?i)\b(LIMIT|OFFSET)\s+'""".r.findFirstIn(sql0).isDefined) sql0
      else """(?i)\b(LIMIT|OFFSET)\s+'(\d+)'""".r
        .replaceAllIn(sql0, m => Regex.quoteReplacement(s"${m.group(1)} ${m.group(2)}"))
    val rewritten = mapOutsideLiterals(sql0L) { seg0 =>
      var sql = seg0
      // pg quoted identifiers are CASE-SENSITIVE; Spark's resolution is
      // not. A quoted id carrying uppercase mangles to a reversible
      // lowercase name (`"A"` -> `a__gc1`), so `"A"` and `A`/`a` resolve
      // as the DISTINCT catalog entries pg sees
      // (cockroach/case_sensitive_names.slt); renderActual unmangles for
      // display. Lowercase quoted ids stay native.
      sql = """"([A-Za-z_][A-Za-z0-9_]*)"""".r.replaceAllIn(sql, m => {
        val n = m.group(1)
        if (n.exists(_.isUpper)) Regex.quoteReplacement(mangleCase(n))
        else m.matched
      })
      typeRewrites.foreach { case (re, to) => sql = re.replaceAllIn(sql, to) }
      if (crdb) {
        sql = """(?i)\b(int|integer)\b""".r.replaceAllIn(sql, "bigint")
        sql = """(?i)\bserial\b""".r.replaceAllIn(sql, "bigint")
      }
      sql = """(?i)::\s*(decimal|numeric)\b(?!\s*\()""".r.replaceAllIn(sql, "::DECIMAL(38,18)")
      // mz numeric allows precision 39 (one digit past Spark's DECIMAL
      // cap); values in the corpus fit 38 — cap the declared precision
      sql = """(?i)\b(decimal|numeric)\s*\(\s*(39|40)\s*(,\s*\d+\s*)?\)""".r
        .replaceAllIn(sql, m => Regex.quoteReplacement(
          s"DECIMAL(38${Option(m.group(3)).getOrElse("")})"))
      // unsigned bitwise NOT: ~x over uintN is (maxN - x) (two's complement
      // has no unsigned view in Spark)
      for ((b, mx) <- Seq(("2", "65535"), ("4", "4294967295"),
          ("8", "CAST('18446744073709551615' AS DECIMAL(20,0))"))) {
        sql = ("~\\s*(pg_uint" + b + "\\((?:[^()]|\\([^()]*\\))*\\))").r
          .replaceAllIn(sql, m => Regex.quoteReplacement(s"($mx - ${m.group(1)})"))
      }
      // mz group-size query hints are semantically no-ops — strip them
      // (reference doc/user/content/transform-data/optimization.md)
      sql = """(?i)\bOPTIONS\s*\(\s*(?:EXPECTED|AGGREGATE|DISTINCT|LIMIT)\s[^)]*\)""".r
        .replaceAllIn(sql, " ")
      // pg/mz default-schema qualification; this engine's namespace is flat
      sql = """(?i)\b(?:materialize\.)?public\.(?=[A-Za-z_"])""".r.replaceAllIn(sql, "")
      // pg/crdb row-count tails Spark's parser rejects:
      //   OFFSET n ROW[S] -> OFFSET n;  FETCH FIRST|NEXT [n] ROW[S] ONLY ->
      //   LIMIT n (default 1);  OFFSET n LIMIT m -> LIMIT m OFFSET n
      //   (Spark's queryOrganization only accepts LIMIT-then-OFFSET)
      if ("""(?i)\b(OFFSET|FETCH)\b""".r.findFirstIn(sql).isDefined) {
        // pg casts a NUMERIC row count to bigint, i.e. rounds: OFFSET (0.4)
        // -> OFFSET 0; Spark rejects non-integral limit-like expressions
        sql = """(?i)\b(OFFSET|LIMIT)\s+\(?\s*(\d+\.\d+)\s*\)?""".r.replaceAllIn(sql,
          m => m.group(1).toUpperCase + " " + math.round(m.group(2).toDouble))
        sql = """(?i)\bOFFSET\s+(\d+)\s+ROWS?\b""".r.replaceAllIn(sql, "OFFSET $1")
        sql = """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+|\((?:[^()]*)\))?\s*ROWS?\s+ONLY\b""".r
          .replaceAllIn(sql, m => "LIMIT " + Option(m.group(1)).getOrElse("1"))
        sql = """(?i)\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)\b""".r
          .replaceAllIn(sql, "LIMIT $2 OFFSET $1")
      }
      // pg names VALUES-derived columns column1..columnN; Spark col1..colN
      if ("""(?i)\bVALUES\b""".r.findFirstIn(sql).isDefined)
        sql = """(?i)\bcolumn(\d+)\b""".r.replaceAllIn(sql, "col$1")
      // 3-arg datediff('unit', from, to) (reference datediff, mssql-style
      // unit-first): Spark's datediff(UNIT, from, to) needs the unit as a
      // bare keyword, not a string literal
      sql = """(?i)\bdatediff\s*\(\s*'(\w+)'\s*,""".r
        .replaceAllIn(sql, m => Regex.quoteReplacement(
          s"datediff(${m.group(1).toUpperCase},"))
      // pg array_agg semantics for SIMPLE arguments: keeps NULL elements
      // (collect_list drops them — collect structs and re-project) and
      // yields NULL, not {}, on empty input. Complex/ordered forms are left
      // native (order-sensitive ones are documented dialect skips).
      // window form first: the CASE must wrap PER-EXPRESSION window calls
      // (`CASE .. END OVER (w)` is not valid syntax)
      sql = ("""(?i)\barray_agg\s*\(\s*((?:[\w.]+|\d+|NULL)(?:\s*::\s*\w+)?)\s*\)""" +
        """\s*OVER\s*(\((?:[^()]|\([^()]*\))*\))""").r
        .replaceAllIn(sql, m => scala.util.matching.Regex.quoteReplacement(
          s"CASE WHEN count(1) OVER ${m.group(2)} = 0 THEN NULL ELSE " +
            // the reference renders window array_agg VALUE-sorted, NULLs
            // last (window_funcs.slt frame fixtures), not frame-ordered
            s"array_sort(transform(collect_list(named_struct('v', ${m.group(1)})) OVER ${m.group(2)}, s -> s.v)) END"))
      sql = """(?i)\barray_agg\s*\(\s*((?:[\w.]+|\d+|NULL)(?:\s*::\s*\w+)?)\s*\)(?!\s*OVER\b)""".r
        .replaceAllIn(sql, m => {
          val arg = m.group(1)
          // the reference renders an UNORDERED array/list_agg value-sorted
          // with NULLs last (its reduce collects in datum order — the same
          // behavior the window array_agg fixtures show); a plain
          // collect_list order is partition-dependent here
          val core =
            s"transform(array_sort(collect_list(named_struct('n', ($arg) IS NULL, 'k', $arg, 'v', $arg))), s -> s.v)"
          scala.util.matching.Regex.quoteReplacement(
            s"CASE WHEN count(1) = 0 THEN NULL ELSE $core END")
        })
      // pg typmod bounds: character [varying](n) requires 1..10485760
      // (reference plan_character length validation)
      """(?i)::\s*(VARCHAR|CHARACTER\s+VARYING|CHAR|CHARACTER|BPCHAR)\s*\(\s*(\d+)\s*\)""".r
        .findAllMatchIn(sql)
        .find(m => !insideLiteral(sql, m.start) && {
          val n = BigInt(m.group(2)); n < 1 || n > 10485760
        })
        .foreach { m =>
          val varying = m.group(1).toUpperCase.startsWith("V") ||
            m.group(1).toUpperCase.contains("VARYING")
          return s"SELECT raise_error('length for type character" +
            s"${if (varying) " varying" else ""} must be between 1 and " +
            "10485760') AS graft_typmod_fidelity"
        }
      // the reference rejects array_agg over char (typmod-padded
      // comparison semantics don't survive array elements)
      if ("""(?i)\barray_agg\s*\(\s*(?:[\w.]+|'(?:[^']|'')*')\s*::\s*(?:char|character|bpchar)\b(?!\s+varying)(?:\s*\(\s*\d+\s*\))?\s*\)""".r
          .findAllMatchIn(sql).exists(m => !insideLiteral(sql, m.start)))
        return "SELECT raise_error('array_agg on char not yet supported') " +
          "AS graft_charagg_fidelity"
      // jsonb_agg over SIMPLE arguments — same value-sorted convention as
      // the unordered array_agg rewrite, rendered as canonical jsonb text;
      // empty input yields NULL (pg jsonb_agg), not '[]'
      sql = ("""(?i)\bjsonb_agg\s*\(\s*((?:[\w.]+|\d+|NULL)(?:\s*::\s*\w+)?)\s*\)""" +
        """\s*OVER\s*(\((?:[^()]|\([^()]*\))*\))""").r
        .replaceAllIn(sql, m => scala.util.matching.Regex.quoteReplacement(
          s"CASE WHEN count(1) OVER ${m.group(2)} = 0 THEN NULL ELSE " +
            s"jsonb_canon(to_json(array_sort(transform(" +
            s"collect_list(named_struct('v', ${m.group(1)})) OVER ${m.group(2)}, " +
            "s -> s.v)))) END"))
      sql = """(?i)\bjsonb_agg\s*\(\s*((?:[\w.]+|\d+|NULL)(?:\s*::\s*\w+)?)\s*\)(?!\s*OVER\b)""".r
        .replaceAllIn(sql, m => {
          val arg = m.group(1)
          val core = s"jsonb_canon(to_json(transform(array_sort(" +
            s"collect_list(named_struct('n', ($arg) IS NULL, 'k', $arg, 'v', $arg))), " +
            "s -> s.v)))"
          scala.util.matching.Regex.quoteReplacement(
            s"CASE WHEN count(1) = 0 THEN NULL ELSE $core END")
        })
      sql = """(?i),\s*(?:CONSTRAINT\s+\w+\s+)?(?:PRIMARY\s+KEY|UNIQUE|CHECK)\s*\([^)]*\)""".r
        .replaceAllIn(sql, "")
      sql = """(?i),\s*FAMILY\s*[\w"]*\s*\([^)]*\)""".r.replaceAllIn(sql, "")
      // crdb inline secondary-index clauses in CREATE TABLE — physical
      // access paths, not schema; content is unaffected (arrangement
      // emulation covers CREATE INDEX proper)
      sql = """(?i),\s*(?:UNIQUE\s+)?(?:INVERTED\s+)?INDEX\s*[\w"]*\s*\([^)]*\)(?:\s+STORING\s*\([^)]*\))?(?:\s+WHERE\s+[^,()]*)?""".r
        .replaceAllIn(sql, "")
      // pg/crdb zero-column tables (CREATE TABLE nullary ()): Spark needs
      // at least one column. A hidden dummy keeps the same observable
      // behavior: no column can ever be inserted, so the table stays empty,
      // and zero-row results render identically regardless of column count
      sql = """(?is)^(\s*CREATE\s+TABLE\s+["`]?\w+["`]?)\s*\(\s*\)""".r
        .replaceAllIn(sql, "$1 (__dummy INT)")
      sql = """(?i)\s+PRIMARY\s+KEY""".r.replaceAllIn(sql, "")
      sql = """(?i)\s+UNIQUE\b""".r.replaceAllIn(sql, "")
      // IF NOT EXISTS keeps its no-op-when-present semantics (the temp-view
      // IF NOT EXISTS emulation handles it); other forms become OR REPLACE
      sql = """(?i)CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+IF\s+NOT\s+EXISTS\s+["`]?(\w+)""".r
        .replaceAllIn(sql, m => {
          sltMvNames.put(m.group(1).toLowerCase, ())
          Regex.quoteReplacement(s"CREATE TEMPORARY VIEW IF NOT EXISTS ${m.group(1)}")
        })
      sql = """(?i)CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+["`]?(\w+)""".r
        .replaceAllIn(sql, m => {
          sltMvNames.put(m.group(1).toLowerCase, ()) // kind for mz_comments
          Regex.quoteReplacement(s"CREATE OR REPLACE TEMPORARY VIEW ${m.group(1)}")
        })
      // IF NOT EXISTS and OR REPLACE are mutually exclusive in Spark — keep
      // the IF NOT EXISTS form (same no-op-when-present semantics as mz)
      sql = sql.replaceAll("(?i)CREATE\\s+VIEW\\s+IF\\s+NOT\\s+EXISTS\\s+",
        "CREATE TEMPORARY VIEW IF NOT EXISTS ")
      sql = sql.replaceAll("(?i)CREATE\\s+VIEW\\s+", "CREATE OR REPLACE TEMPORARY VIEW ")
      sql = sql.replaceAll("(?i)DROP\\s+MATERIALIZED\\s+VIEW\\s+", "DROP VIEW ")
      sql
    }
    // pg CREATE VIEW v (c1, c2) AS q names the output columns; Spark temp
    // views take no column list — rename through a derived-table alias.
    // Whole-statement (not inside mapOutsideLiterals: the anchors must see
    // the full text, literals included)
    val viewCols = """(?is)^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMPORARY\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?\w+["`]?)\s*\(([^()]*)\)\s*AS\b(.*?);?\s*$""".r
      .replaceAllIn(rewritten, m => Regex.quoteReplacement(
        s"${m.group(1)} AS SELECT * FROM (${m.group(3).trim}) AS _cols(${m.group(2)})"))
    // pg DROP TABLE ... CASCADE/RESTRICT: Spark has no modifier — strip it
    // (temp-view dependents resolve lazily here, so CASCADE is a no-op)
    val dropNorm = """(?is)^(\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?[\w",\s]*?)\s+(?:CASCADE|RESTRICT)\s*;?\s*$""".r
      .replaceAllIn(addNullsOrdering(viewCols), "$1")
    // pg allows scalar subqueries inside INSERT ... VALUES; Spark's VALUES
    // rows take only foldable expressions — rewrite each row to a SELECT
    // (UNION ALL between rows) so the subqueries run in query position
    val insSubq =
      if (!"""(?is)^\s*INSERT\s+INTO\b.*\bVALUES\b.*\(\s*SELECT\b""".r
          .findFirstIn(dropNorm).isDefined) dropNorm
      else {
        val InsValues =
          """(?is)^\s*(INSERT\s+INTO\s+["`]?[\w.]+["`]?(?:\s*\([^()]*\))?)\s*VALUES\s*(.+?);?\s*$""".r
        dropNorm match {
          case InsValues(head, rows) =>
            val parts = splitTopLevel(rows, ',').map(_.trim).filter(_.nonEmpty)
            if (parts.forall(p => p.startsWith("(") && p.endsWith(")")))
              head + " " + parts.map(p => "SELECT " + p.substring(1, p.length - 1))
                .mkString(" UNION ALL ")
            else dropNorm
          case _ => dropNorm
        }
      }
    val shimmed = insSubq match {
      // pg/crdb multi-table DROP: Spark drops one table per statement —
      // split (execution runs each via splitStatements)
      case MultiDropTable(ife, list) =>
        list.split(",").map(_.trim).filter(_.nonEmpty)
          .map(n => s"DROP TABLE ${Option(ife).map(_ => "IF EXISTS ").getOrElse("")}$n")
          .mkString("; ")
      case s => s
    }
    if (shimmed.contains("''")) rewriteDoubledQuotes(shimmed) else shimmed
  }

  /** pg: ORDER BY may repeat a windowed select item verbatim; Spark's
    * analyzer cannot resolve a window expression in the Sort that isn't
    * an output attribute (UNRESOLVED_COLUMN over the window function's
    * internal name). When a top-level ORDER BY item containing OVER(..)
    * textually equals a select-list item (modulo the trailing sort
    * decorations), replace it with the item's ORDINAL — exactly pg's
    * resolution. Used as an UNRESOLVED_COLUMN rescue only: an
    * unconditional rewrite changes tie-breaking for nondeterministic
    * window orders that Spark would otherwise re-evaluate in the Sort. */
  private[slt] def rewriteOrderByWindowToOrdinal(sql: String): String = {
    if (!"""(?i)\bOVER\s*\(""".r.findFirstIn(sql).isDefined ||
        !"""(?i)\bORDER\s+BY\b""".r.findFirstIn(sql).isDefined) return sql
    val SelHead = """(?is)^\s*SELECT\s+(?:DISTINCT\s+)?""".r
    val hm = SelHead.findFirstMatchIn(sql).getOrElse(return sql)
    // top-level clause boundaries
    def topIdx(kw: String, s: String, from: Int): Int = {
      var depth = 0; var inQ = false; var j = from
      while (j < s.length) {
        val c = s.charAt(j)
        if (inQ) { if (c == '\'') inQ = false; j += 1 }
        else c match {
          case '\'' => inQ = true; j += 1
          case '(' => depth += 1; j += 1
          case ')' => depth -= 1; j += 1
          case _ =>
            if (depth == 0 && s.regionMatches(true, j, kw, 0, kw.length) &&
                (j == 0 || !isWordChar(s.charAt(j - 1))) &&
                (j + kw.length >= s.length || !isWordChar(s.charAt(j + kw.length))))
              return j
            j += 1
        }
      }
      -1
    }
    val fromIdx = topIdx("FROM", sql, hm.end)
    if (fromIdx < 0) return sql
    val obIdx = topIdx("ORDER", sql, fromIdx)
    if (obIdx < 0) return sql
    val obBody0 = sql.substring(obIdx).replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
    val limIdx = topIdx("LIMIT", obBody0, 0) match {
      case -1 => topIdx("OFFSET", obBody0, 0)
      case x => x
    }
    val obBody = if (limIdx < 0) obBody0 else obBody0.substring(0, limIdx)
    val obTail = if (limIdx < 0) "" else " " + obBody0.substring(limIdx)
    def norm(s: String): String =
      s.replaceAll("\\s+", " ").trim.toLowerCase
    val selItems = splitTopLevel(sql.substring(hm.end, fromIdx), ',')
      .map(_.trim)
      .map(i => """(?is)\s+AS\s+[A-Za-z_"][\w"]*\s*$""".r.replaceFirstIn(i, ""))
      .map(norm)
    var changed = false
    val obItems = splitTopLevel(obBody, ',').map { it0 =>
      val it = it0.trim
      // any ORDER BY item that repeats a select item verbatim resolves to
      // that OUTPUT column in pg — windows AND aggregates (Spark's Sort
      // can't re-resolve `-sum(foo.a)` through an intervening Window)
      val decor = """(?is)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$""".r
        .findFirstMatchIn(it).map(_.group(1)).getOrElse("")
      val core = it.substring(0, it.length - decor.length)
      val idx = selItems.indexOf(norm(core))
      if (idx >= 0) { changed = true; s"${idx + 1}$decor" } else it0
    }
    if (!changed) sql
    else sql.substring(0, obIdx) + "ORDER BY " + obItems.mkString(", ") + obTail
  }

  /** pg set-returning `unnest(..)` in SELECT position (possibly inside a
    * subquery, alongside scalar columns, or as the `FROM unnest(..)` table
    * function): Spark's spelling is `explode` — a generator in the select
    * list or the explode TVF in FROM, with identical per-input-row
    * expansion. Nested-in-expression uses (`ascii(unnest(..))`) get the
    * FROM-less single-item wrap. */
  private def unnestExplodeRetry(spark: SparkSession, sql: String): Option[DataFrame] = {
    if (sql.toLowerCase.contains("mz_map_in")) return None // mz map unnest differs
    // `unnest(array(t.*))` is an array OF RECORDS in pg; Spark's array(t.*)
    // flattens the row — keep the honest skip
    if (sql.contains(".*")) return None
    val out = rewriteOutsideLits(sql)(seg =>
      """(?i)\bunnest\s*\(""".r.replaceAllIn(seg, "explode("))
    if (out == sql) return None
    scala.util.Try(spark.sql(out.stripSuffix(";"))).toOption.orElse {
      // FROM-less single-item with the SRF nested inside an expression:
      // lift the explode into a subquery and reference its output
      val m = """(?is)^\s*SELECT\s+(.*?)\s*;?\s*$""".r.findFirstMatchIn(out)
        .filter(mm => !"""(?i)\bFROM\b""".r.findFirstIn(mm.group(1)).isDefined)
      m.flatMap { mm =>
        val item = mm.group(1)
        val ex = """(?i)\bexplode\s*\(""".r.findFirstMatchIn(item)
        ex.flatMap { em =>
          val close = matchingParen(item, em.end - 1)
          if (close < 0) None
          else {
            val call = item.substring(em.start, close + 1)
            val rewritten = item.substring(0, em.start) + "graft_u" +
              item.substring(close + 1)
            scala.util.Try(spark.sql(
              s"SELECT $rewritten FROM (SELECT $call AS graft_u)")).toOption
          }
        }
      }
    }
  }

  /** pg orders by expressions NOT in the select list even when the query
    * has window functions — Spark's Sort can't compute a window (or
    * re-derive an aggregate) above the projection. Rewrite to a subquery
    * that APPENDS the non-select ORDER BY expressions as extra columns,
    * orders on them, and projects the original arity back out
    * (reference plan_order_by; corpus order_by.slt:125-135). Output
    * column NAMES may change — SLT compares values, names are
    * presentation-level. */
  private[slt] def orderByWindowSubqueryRetry(
      spark: SparkSession, sql0: String): Option[DataFrame] =
    orderByWindowSubquerySql(sql0).flatMap(out =>
      scala.util.Try(spark.sql(out)).toOption)

  private[slt] def orderByWindowSubquerySql(sql0: String): Option[String] = {
    val sql = sql0.trim.stripSuffix(";")
    if (!"""(?i)\bOVER\s*\(""".r.findFirstIn(sql).isDefined) return None
    if ("""(?is)^\s*SELECT\s+DISTINCT\b""".r.findFirstIn(sql).isDefined) return None
    val hm = """(?is)^\s*SELECT\s+""".r.findFirstMatchIn(sql).getOrElse(return None)
    val fromIdx = topLevelIndexOf(sql, "FROM")
    val obIdx = topLevelIndexOf(sql, "ORDER")
    if (fromIdx < 0 || obIdx < 0 || obIdx < fromIdx) return None
    // no set-ops / LIMIT-before-ORDER complications
    if (Seq("UNION", "INTERSECT", "EXCEPT").exists(topLevelIndexOf(sql, _) >= 0))
      return None
    val obBody0 = sql.substring(obIdx).replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
    val limIdx = topLevelIndexOf(obBody0, "LIMIT") match {
      case -1 => topLevelIndexOf(obBody0, "OFFSET")
      case x => x
    }
    val obBody = if (limIdx < 0) obBody0 else obBody0.substring(0, limIdx)
    val obTail = if (limIdx < 0) "" else " " + obBody0.substring(limIdx)
    def norm(s: String): String = s.replaceAll("\\s+", " ").trim.toLowerCase
    val rawItems = splitTopLevel(sql.substring(hm.end, fromIdx), ',').map(_.trim)
    // star EXPANSIONS block the rewrite (arity unknown); multiplication
    // (`10*right_a`) does not
    if (rawItems.exists(it => it == "*" || it.contains(".*"))) return None
    // (full text, alias) per select item; unaliased items get graft names
    val items = rawItems.zipWithIndex.map { case (it, ix) =>
      """(?is)^(.*?)\s+AS\s+["`]?(\w+)["`]?\s*$""".r.findFirstMatchIn(it) match {
        case Some(m) => (m.group(1).trim, m.group(2), it)
        case None =>
          if (it.matches("""(?s)[\w."`]+""")) {
            val last = it.split("\\.").last.replaceAll("[\"`]", "")
            (it, last, s"$it AS `$last`")
          } else (it, s"graft_c$ix", s"$it AS `graft_c$ix`")
      }
    }
    val aliasSet = items.map(_._2.toLowerCase).toSet
    val extras = mutable.ListBuffer.empty[String]
    var usedExtra = false
    val obItems = splitTopLevel(obBody, ',').map { it0 =>
      val it = it0.trim
      val decor = """(?is)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$""".r
        .findFirstMatchIn(it).map(_.group(1)).getOrElse("")
      val core = it.substring(0, it.length - decor.length).trim
      val coreN = norm(core)
      items.indexWhere(p => norm(p._1) == coreN) match {
        case ix if ix >= 0 => s"${ix + 1}$decor"
        case _ if core.matches("""[\w"`]+""") &&
            aliasSet.contains(core.replaceAll("[\"`]", "").toLowerCase) =>
          it0 // an output-alias reference stays valid in the outer query
        case _ if core.matches("\\d+") => it0
        case _ if !core.contains("/") =>
          // (a `/` in the sort expression would hit the pg-integer-division
          // known diff — truncating vs fractional order — so those keep
          // their honest skip)
          usedExtra = true
          val nm = s"graft_ob${extras.size}"
          extras += s"$core AS `$nm`"
          s"`$nm`$decor"
        case _ => return None
      }
    }
    if (!usedExtra) return None
    val inner = "SELECT " + (items.map(_._3) ++ extras).mkString(", ") +
      " " + sql.substring(fromIdx, obIdx)
    Some("SELECT " + items.map(p => s"`${p._2}`").mkString(", ") +
      s" FROM ($inner) graft_obq ORDER BY " + obItems.mkString(", ") + obTail)
  }

  /** Zero-pad a pg-loose trailing zone offset ('-6' / '+4:30' / 'z') into
    * the '+HH:mm[:ss]' form Spark's timestamp parser accepts. */
  private def padZoneOffset(ts0: String): String = {
    val ts = ts0.replaceAll("(\\d)\\s*[zZ]\\s*$", "$1+00:00") // Zulu suffix
    """([+-])(\d{1,2})(?::(\d{1,2}))?(?::(\d{1,2}))?\s*$""".r.findFirstMatchIn(ts) match {
      // only after a TIME component — a bare date's "-31" is not a zone
      case Some(m) if ts.substring(0, m.start)
          .matches("(?s).*\\d{1,2}:\\d{2}(:\\d{2})?(\\.\\d+)?\\s*") =>
        val h = f"${m.group(2).toInt}%02d"
        val mi = f"${Option(m.group(3)).map(_.toInt).getOrElse(0)}%02d"
        val se = Option(m.group(4)).map(x => f":${x.toInt}%02d").getOrElse("")
        ts.substring(0, m.start) + m.group(1) + h + ":" + mi + se
      case _ => ts
    }
  }

  private val MultiDropTable =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)+)\s*;?\s*$""".r

  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** pg sorts NULLS LAST on ASC and NULLS FIRST on DESC — the opposite of
    * Spark's defaults (reference nulls-last comment,
    * `src/repr/src/scalar.rs:167-179`; SURVEY §1.2). Rewrite every ORDER BY
    * item (including window ORDER BYs, recursively) to carry the pg default
    * explicitly. */
  private[slt] def addNullsOrdering(sql: String): String = {
    val m = """(?i)\bORDER\s+BY\b""".r.pattern.matcher(sql)
    if (!m.find()) return sql
    val kwEnd = m.end()
    val head = sql.substring(0, kwEnd)
    val (items, rest) = transformOrderItems(sql.substring(kwEnd))
    head + items + addNullsOrdering(rest)
  }

  /** Transform the comma-separated sort items that follow an ORDER BY;
    * returns (transformed items, untouched remainder). */
  private def transformOrderItems(s: String): (String, String) = {
    val out = new StringBuilder
    val item = new StringBuilder
    var depth = 0
    var inQ = false
    var i = 0
    var done = false
    def flush(): Unit = {
      val it0 = addNullsOrdering(item.toString) // nested (window) ORDER BYs
      // a bare range-typed column sorts by pg's range order, not by its text
      val it = """^(\s*)([A-Za-z_]\w*)(\s+(?i:ASC|DESC))?(\s*)$""".r
        .findFirstMatchIn(it0) match {
        case Some(m) if rangeColumns.contains(m.group(2).toLowerCase) =>
          m.group(1) + "range_sort_key(" + m.group(2) + ")" +
            Option(m.group(3)).getOrElse("") + m.group(4)
        case _ => it0
      }
      val t = it.trim.toUpperCase
      // insert the NULLS clause BEFORE the item's trailing whitespace, so a
      // following terminator keyword (LIMIT/OFFSET/...) keeps its separator
      // ("x NULLS LAST LIMIT 3", never "x NULLS LASTLIMIT 3")
      def appendWith(suffix: String): Unit = {
        val cut = it.lastIndexWhere(c => !c.isWhitespace) + 1
        out.append(it.substring(0, cut)).append(suffix).append(it.substring(cut))
        if (cut == it.length) out.append(' ')
      }
      if (t.isEmpty) out.append(it)
      else if (t.matches("(?s).*\\bNULLS\\s+(FIRST|LAST)\\s*$")) out.append(it)
      else if (t.matches("(?s).*\\bDESC\\s*$")) appendWith(" NULLS FIRST")
      else appendWith(" NULLS LAST")
      item.clear()
    }
    // ROWS/RANGE/GROUPS end the last item of a window ORDER BY — without
    // them the NULLS default lands AFTER the frame clause and breaks it
    val terminators = List("LIMIT", "OFFSET", "FETCH", "UNION", "EXCEPT",
      "INTERSECT", "ROWS", "RANGE", "GROUPS")
    while (i < s.length && !done) {
      val c = s(i)
      if (inQ) { item.append(c); if (c == '\'') inQ = false; i += 1 }
      else c match {
        case '\'' => inQ = true; item.append(c); i += 1
        case '(' => depth += 1; item.append(c); i += 1
        case ')' if depth == 0 => done = true
        case ')' => depth -= 1; item.append(c); i += 1
        case ',' if depth == 0 => flush(); out.append(','); i += 1
        case ';' if depth == 0 => done = true
        case _ if depth == 0 && Character.isLetter(c) &&
            (i == 0 || !isWordChar(s(i - 1))) &&
            terminators.exists(k => s.regionMatches(true, i, k, 0, k.length) &&
              (i + k.length >= s.length || !isWordChar(s(i + k.length)))) =>
          done = true
        case _ => item.append(c); i += 1
      }
    }
    flush()
    (out.toString, s.substring(i))
  }

  /** pg COPY text-format escapes (`\N` for NULL is handled by the caller):
    * `\\`, `\t`, `\n`, `\r`, `\b`, `\f`, `\v`; a backslash before any other
    * character yields that character, per the COPY spec. Without this, a
    * TSV using escapes loads the literal backslash sequence and later
    * comparisons fail spuriously. */
  private def unescapeCopyText(c: String): String =
    if (!c.contains('\\')) c
    else {
      val sb = new StringBuilder(c.length)
      var i = 0
      while (i < c.length) {
        val ch = c.charAt(i)
        if (ch == '\\' && i + 1 < c.length) {
          i += 1
          sb += (c.charAt(i) match {
            case 't' => '\t'
            case 'n' => '\n'
            case 'r' => '\r'
            case 'b' => '\b'
            case 'f' => '\f'
            case 'v' => '\u000B'
            case other => other // includes literal backslash
          })
        } else sb += ch
        i += 1
      }
      sb.toString
    }

  /** pg canonicalizes jsonb on ingest; Spark string columns store raw
    * text. Wrap VALUES cells targeting tagged-jsonb columns (COMMENT
    * marker from the CREATE TABLE shim) in jsonb_canon so later reads
    * render pg-canonical. */
  private[slt] def canonJsonbInsert(spark: SparkSession, sql: String): String = {
    val InsertRe =
      """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*(\([^)]*\))?\s*VALUES\s*(.*?);?\s*$""".r
    // the shim's scalar-subquery rewrite turns VALUES rows into
    // SELECT ... UNION ALL SELECT ... — those rows still target tagged
    // columns and must get the same ingest canonicalization
    val InsertSelRe =
      """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*(\([^)]*\))?\s*(SELECT\b.*?);?\s*$""".r
    sql match {
      case InsertRe(table, colList, valuesText) =>
        val wrapAt = ingestWrapAt(spark, table, Option(colList))
        if (wrapAt.isEmpty) return sql
        val rows = splitTopLevel(valuesText, ',').map { r0 =>
          val r = r0.trim
          if (!r.startsWith("(") || !r.endsWith(")")) r0
          else {
            val cells = splitTopLevel(r.substring(1, r.length - 1), ',')
            "(" + cells.zipWithIndex.map { case (c, i) =>
              wrapAt.get(i).map(_(c)).getOrElse(c)
            }.mkString(",") + ")"
          }
        }
        s"INSERT INTO $table ${Option(colList).getOrElse("")} VALUES ${rows.mkString(", ")}"
      case InsertSelRe(table, colList, body) =>
        val wrapAt = ingestWrapAt(spark, table, Option(colList))
        if (wrapAt.isEmpty) return sql
        // only the shim-generated shape: plain SELECT lists (no FROM) joined
        // by top-level UNION ALL; a corpus-authored INSERT...SELECT query
        // keeps its original (pre-existing) behavior
        val branches = splitTopLevelUnionAll(body)
        val simple = branches.forall { b =>
          b.trim.toUpperCase.startsWith("SELECT") && !hasTopLevelFrom(b)
        }
        if (!simple) sql
        else {
          val rebuilt = branches.map { b =>
            val cells = splitTopLevel(b.trim.substring(6), ',')
            "SELECT " + cells.zipWithIndex.map { case (c, i) =>
              wrapAt.get(i).map(_(c)).getOrElse(c)
            }.mkString(",")
          }
          s"INSERT INTO $table ${Option(colList).getOrElse("")} ${rebuilt.mkString(" UNION ALL ")}"
        }
      case _ => sql
    }
  }

  /** pg fills INSERT rows that carry FEWER expressions than the table has
    * columns with defaults (NULL here — SLT fixtures don't use DEFAULT
    * clauses); Spark requires exact arity. Pads each short row with NULLs.
    * Only the no-column-list form — with an explicit list both engines
    * agree. */
  private def padInsertValues(spark: SparkSession, sql: String): String = {
    val InsertNoCols =
      """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*VALUES\s*(.*?);?\s*$""".r
    sql match {
      case InsertNoCols(table, valuesText) =>
        val n =
          try spark.table(table).schema.length
          catch { case _: Throwable => return sql }
        val rows = splitTopLevel(valuesText, ',').map(_.trim)
        if (!rows.forall(r => r.startsWith("(") && r.endsWith(")"))) return sql
        val cellCounts = rows.map(r => splitTopLevel(r.substring(1, r.length - 1), ',').length)
        // pg rejects VALUES lists of differing lengths — only a UNIFORMLY
        // short list gets default-padding; mixed arity must keep Spark's
        // arity error so expected-error records reproduce the rejection
        if (cellCounts.distinct.length != 1 || cellCounts.head >= n) return sql
        val padded = rows.map { r =>
          val cells = splitTopLevel(r.substring(1, r.length - 1), ',')
          "(" + (cells ++ Seq.fill(n - cells.length)("NULL")).mkString(",") + ")"
        }
        s"INSERT INTO $table VALUES ${padded.mkString(", ")}"
      case _ => sql
    }
  }

  /** Per-position ingest canonicalizers for INSERTs into `table` — jsonb,
    * range, uint, timestamp(p) and bytea columns all canonicalize their
    * text input form on ingest, as pg does. Empty when the table has no
    * tagged columns (or does not exist). */
  private def ingestWrapAt(spark: SparkSession, table: String,
      colList: Option[String]): Map[Int, String => String] = {
    val schema =
      try spark.table(table).schema
      catch { case _: Throwable => return Map.empty }
    val wrapper: Map[String, String => String] = schema.fields.flatMap { f =>
      // bytea columns: pg decodes the text input form on ingest
      // (\x-hex or traditional escapes) — Spark's string->binary cast
      // would store the literal text's bytes instead
      if (f.dataType == org.apache.spark.sql.types.BinaryType)
        Some(f.name.toLowerCase -> ((cell: String) => s" pg_bytea_in($cell)"))
      else if (f.dataType == org.apache.spark.sql.types.TimestampType &&
          f.getComment().contains("graft_tstz"))
        // timestamptz columns CONVERT zone-suffixed input to UTC
        Some(f.name.toLowerCase -> ((cell: String) => s" pg_tstz_in($cell)"))
      else if (f.dataType == org.apache.spark.sql.types.TimestampType &&
          f.getComment().forall(c => !c.startsWith("graft_ts")))
        // plain timestamp columns take pg's FULL input grammar (verbose
        // 'Mon Feb 10 ..', compact, named zones), DISCARDING any zone —
        // Spark's cast rejects most of these forms
        Some(f.name.toLowerCase -> ((cell: String) => s" pg_ts_in($cell)"))
      else f.getComment() match {
        case Some(c) if c.contains("graft_jsonb") =>
          Some(f.name.toLowerCase -> ((cell: String) => s" jsonb_canon($cell)"))
        case Some(c) if c.contains("graft_uuid") =>
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_uuid($cell)"))
        case Some(c) if c.startsWith("graft_range_") =>
          val kind = c.stripPrefix("graft_range_")
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_$kind($cell)"))
        case Some(c) if c.startsWith("graft_uint") =>
          val k = c.stripPrefix("graft_")
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_$k($cell)"))
        case Some(c) if c.startsWith("graft_tsp_") =>
          // timestamp(p) column: pg parses + ROUNDS the fraction to p
          // digits on ingest (Spark's cast truncates at micros)
          val p = c.stripPrefix("graft_tsp_")
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_ts_ingest($cell, $p)"))
        case Some(c) if c.startsWith("graft_tsptz_") =>
          // timestamptz(p): round to p digits AND convert zone to UTC
          val p = c.stripPrefix("graft_tsptz_")
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_tstz_ingest($cell, $p)"))
        case Some(c) if c == "graft_interval" =>
          // interval column: parse the pg text input form + store the
          // mz-canonical rendering (idempotent over already-canonical text)
          Some(f.name.toLowerCase -> ((cell: String) => s" mz_interval($cell, '')"))
        case Some(c) if c == "graft_int2vector" =>
          Some(f.name.toLowerCase -> ((cell: String) => s" pg_int2vector($cell)"))
        case _ => None
      }
    }.toMap
    if (wrapper.isEmpty) return Map.empty
    val ordered: Seq[String] = colList match {
      case Some(cl) => cl.stripPrefix("(").stripSuffix(")").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase).toSeq
      case None => schema.fields.map(_.name.toLowerCase).toSeq
    }
    ordered.zipWithIndex.collect {
      case (n, i) if wrapper.contains(n) => i -> wrapper(n)
    }.toMap
  }

  /** Split on top-level `UNION ALL` (outside parens and quotes). */
  private def splitTopLevelUnionAll(s: String): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    val up = s.toUpperCase
    var depth = 0; var inQ = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else c match {
        case '\'' => inQ = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case 'U' | 'u' if depth == 0 && up.startsWith("UNION", i) &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) && {
              val ws = s.substring(i + 5).takeWhile(_.isWhitespace).length
              ws > 0 && up.startsWith("ALL", i + 5 + ws) &&
                (i + 8 + ws >= s.length ||
                  !Character.isLetterOrDigit(s.charAt(i + 8 + ws)))
            } =>
          out += s.substring(start, i)
          val ws = s.substring(i + 5).takeWhile(_.isWhitespace).length
          i = i + 8 + ws // past "UNION<ws>ALL"
          start = i
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.toList
  }

  /** True when `s` contains a FROM keyword outside parens and quotes. */
  private def hasTopLevelFrom(s: String): Boolean = {
    val up = s.toUpperCase
    var depth = 0; var inQ = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'F' | 'f' if depth == 0 && up.startsWith("FROM", i) &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
            (i + 4 >= s.length || !Character.isLetterOrDigit(s.charAt(i + 4))) =>
          return true
        case _ => ()
      }
      i += 1
    }
    false
  }

  /** pg GROUP-BY-by-output-alias ambiguity (reference plan/query.rs): when
    * a bare GROUP BY name matches TWO select-list aliases and is not a
    * column of the (single, unaliased) FROM table, pg rejects the query.
    * Conservative single-table shape only — anything more complex returns
    * None and keeps Spark's behavior. */
  private def ambiguousGroupByAlias(spark: SparkSession, sql: String): Option[String] = {
    if ("""(?i)\bGROUP\s+BY\b""".r.findFirstIn(sql).isEmpty) return None
    val Shape =
      """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+["`]?(\w+)["`]?\s*(?:WHERE\s+[^()]*?)?GROUP\s+BY\s+([\w\s,."`]+?)(?:HAVING|ORDER|LIMIT|OFFSET|;|$).*$""".r
    sql match {
      case Shape(selList, table, gby) if !selList.contains("(") || {
          // allow aggregate calls in the list; reject subqueries
          !selList.toUpperCase.contains("SELECT")
        } =>
        val aliases = splitTopLevel(selList, ',').flatMap(it =>
          """(?is)\s+AS\s+["`]?(\w+)["`]?\s*$""".r.findFirstMatchIn(it).map(_.group(1).toLowerCase))
        val dups = aliases.groupBy(identity).collect { case (a, vs) if vs.size > 1 => a }.toSet
        if (dups.isEmpty) return None
        val gbyNames = gby.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase)
          .filter(_.matches("[a-z_]\\w*")).toSet
        val hit = dups.intersect(gbyNames)
        if (hit.isEmpty) return None
        val cols = try spark.table(table).schema.fieldNames.map(_.toLowerCase).toSet
          catch { case _: Throwable => return None }
        hit.find(a => !cols.contains(a))
      case _ => None
    }
  }

  /** pg ORDER-BY-output-name ambiguity (reference plan_order_by_or_
    * distinct_expr, src/sql/src/plan/query.rs:2988): a bare ORDER BY name
    * matching TWO output columns with DIFFERENT source expressions is
    * ambiguous (identical expressions are fine per SQL92). Conservative:
    * star-free single-SELECT shapes only. */
  private def ambiguousOrderByAlias(sql: String): Option[String] = {
    if ("""(?i)\bORDER\s+BY\b""".r.findFirstIn(sql).isEmpty) return None
    val Shape =
      """(?is)^\s*SELECT\s+(?:DISTINCT\s+)?(.*?)\s+FROM\s+.*\bORDER\s+BY\s+([\w\s,."`]+?)(?:LIMIT|OFFSET|;|$).*$""".r
    sql match {
      case Shape(selList, oby) if !selList.contains("*") &&
          !selList.toUpperCase.contains("SELECT") =>
        // (output name, normalized source text) per select item
        val items = splitTopLevel(selList, ',').flatMap { it0 =>
          val it = it0.trim
          """(?is)^(.*?)\s+AS\s+["`]?(\w+)["`]?\s*$""".r.findFirstMatchIn(it) match {
            case Some(m) => Some((m.group(2).toLowerCase, m.group(1).trim.toLowerCase))
            case None =>
              // a bare (possibly qualified) column ref names its last part
              if (it.matches("""(?s)[\w."`]+"""))
                Some((it.split("\\.").last.replaceAll("[\"`]", "").toLowerCase,
                  it.toLowerCase.replaceAll("[\"`]", "")))
              else None
          }
        }
        val obyNames = oby.split(",").map(_.trim.replaceAll("[\"`]", "").toLowerCase
            .replaceAll("""\s+nulls\s+(?:first|last)\s*$""", "")
            .replaceAll("""\s+(?:asc|desc)\s*$""", "").trim)
          .filter(_.matches("[a-z_]\\w*"))
        obyNames.find { n =>
          // identical target expressions are not ambiguous (SQL92); strip
          // whitespace/parens so `a` and `(a)` compare equal — erring
          // toward equality keeps the check conservative
          val exprs = items.filter(_._1 == n)
            .map(_._2.split("\\.").last.replaceAll("[\\s()]", "")).distinct
          exprs.size > 1
        }
      case _ => None
    }
  }

  /** Table targeted by a mutating statement, for state-poison tracking. */
  private def mutationTarget(sql: String): Option[String] = {
    val m = """(?i)^\s*(?:UPDATE\s+|DELETE\s+FROM\s+|INSERT\s+INTO\s+)["`]?(\w+)""".r
    m.findFirstMatchIn(sql).map(_.group(1).toLowerCase)
  }

  // ---- UPDATE/DELETE emulation --------------------------------------------
  //
  // Spark v1 tables have no UPDATE/DELETE. The SLT corpus's mutations are
  // snapshot-rewrite semantics over small fixture tables, so the pg
  // statement maps exactly onto: evaluate the post-mutation contents as ONE
  // SELECT over the old table (UPDATE = per-column CASE WHEN predicate THEN
  // new-value ELSE old, all SET expressions reading the OLD row, as pg
  // does; DELETE = keep rows where the predicate is not satisfied — 3VL
  // NULL keeps the row), collect, and overwrite the table. The collect is
  // the SLT runner's own scale class (it collects every query's results
  // anyway); the ENGINE's mutation path for real data is the changelog /
  // Iceberg machinery, not this.

  private val UpdateHead =
    """(?is)^\s*UPDATE\s+["`]?(\w+)["`]?(?:\s+AS\s+(\w+))?\s+SET\s+(.*)$""".r
  private val DeleteHead =
    ("""(?is)^\s*DELETE\s+FROM\s+["`]?(\w+)["`]?""" +
      """(?:\s+(?:AS\s+)?(?!USING\b|WHERE\b|RETURNING\b|ORDER\b|LIMIT\b)(\w+))?\s*(.*)$""").r
  private val InsertHead =
    """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*(\([^()]*\))?\s*(.*)$""".r

  /** First top-level (outside quotes/parens) occurrence of `word`, or -1. */
  /** pg's implicit-LATERAL comma SRF: `FROM rel, generate_series(a, b) AS i`
    * may reference columns of the preceding FROM item (pg SRF lateral
    * rules). Spark resolves correlated generators only through LATERAL
    * VIEW — rewrite the comma form to `LATERAL VIEW explode(
    * graft_series_array(a, b))` (the engine's pg-semantics series: empty
    * when start > stop, unlike Spark's descending sequence()). Guarded by a
    * lookahead so a series call in the SELECT list (followed by `, other`
    * or FROM) is never touched. */
  private def rewriteCommaSeries(sql: String): String =
    ("""(?is),\s*generate_series\s*\(((?:[^()']|'[^']*'|\([^()]*\))*)\)""" +
      """(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|UNION\b|INTERSECT\b|EXCEPT\b|LATERAL\b|WITH\b|ON\b|JOIN\b|LEFT\b|RIGHT\b|INNER\b|CROSS\b|FULL\b)["`]?(\w+)["`]?)?""" +
      """(?=\s*(?:,\s*generate_series|\)|$|WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|UNION\b|INTERSECT\b|EXCEPT\b|LATERAL\b))""").r
      .replaceSomeIn(sql, m => {
        // only FROM-position comma SRFs: a select list `SELECT g1(..),
        // g2(..)` (no FROM before the comma) belongs to the ZIP rewrite
        if (!"""(?i)\bFROM\b""".r.findFirstIn(sql.substring(0, m.start)).isDefined)
          None
        else {
          // aliasless form keeps pg's default output-column name
          val a = Option(m.group(2)).getOrElse("generate_series")
          Some(Regex.quoteReplacement(
            s" LATERAL VIEW explode(graft_series_array(${m.group(1)})) graft_lv_$a AS $a"))
        }
      })

  /** pg `ROWS FROM (f(..), g(..))` and `srf(..) WITH ORDINALITY` FROM
    * items (pg SRF syntax; reference `src/sql/src/plan/query.rs` plans
    * both onto the same zipped table-function lowering). Spark has
    * neither — rewrite onto `posexplode`/`arrays_zip`, whose
    * zip-and-NULL-pad is exactly the pg lockstep semantics and whose
    * `pos` output is the 1-based ordinality minus one. A match directly
    * after a comma join emits a LATERAL subquery so correlated arguments
    * (`FROM t, generate_series(t.a, t.b) WITH ORDINALITY`) still
    * resolve. Table-valued `WITH ORDINALITY` over plain relations is NOT
    * rewritten (the row order pg numbers there is engine-defined). */
  private def rewriteRowsFromOrdinality(sql: String): String = {
    if (!"""(?i)\bROWS\s+FROM\s*\(|\bWITH\s+ORDINALITY\b|\bFROM\s+[A-Za-z_]\w*\s*\(""".r
          .findFirstIn(sql).isDefined)
      return sql
    val srfArrayForms = Map(
      "generate_series" -> "graft_series_array",
      "jsonb_array_elements" -> "graft_jsonb_arr_elements",
      "jsonb_array_elements_text" -> "graft_jsonb_arr_elements_text",
      "jsonb_object_keys" -> "graft_jsonb_arr_keys",
      "regexp_split_to_table" -> "regexp_split_to_array")
    val FnItem = """(?is)^\s*([A-Za-z_]\w*)\s*\((.*)\)\s*$""".r
    // (array-valued expr, pg default output-column name)
    // pg/mz name jsonb_array_elements(_text)'s output column "value"
    val defaultColName = Map(
      "jsonb_array_elements" -> "value",
      "jsonb_array_elements_text" -> "value")
    def toArrayForm(item: String): (String, String) = item.trim match {
      case it if it.toLowerCase.startsWith("information_schema._pg_expandarray(") &&
          it.endsWith(")") =>
        // scalar-position _pg_expandarray renders pg's composite (x,n)
        // text under the _pg_expandarray output name
        val args = it.trim.stripSuffix(")")
          .substring("information_schema._pg_expandarray(".length)
        (s"transform($args, (graft_pe_e, graft_pe_i) -> " +
          "concat('(', graft_pe_e, ',', graft_pe_i + 1, ')'))",
          "_pg_expandarray")
      case FnItem(fn, args) if srfArrayForms.contains(fn.toLowerCase) =>
        (s"${srfArrayForms(fn.toLowerCase)}($args)",
          defaultColName.getOrElse(fn.toLowerCase, fn.toLowerCase))
      case FnItem(fn, args) if fn.equalsIgnoreCase("unnest") =>
        (args, "unnest")
      case FnItem(fn, _) => (s"array(${item.trim})", fn.toLowerCase)
      case bare if bare.matches("[A-Za-z_]\\w*") => (s"array($bare)", bare.toLowerCase)
      case other => (s"array($other)", "column1")
    }
    def subquery(arrays: Seq[(String, String)], withOrd: Boolean,
        aliasName: Option[String], aliasCols: Seq[String]): String = {
      val defaults = arrays.map(_._2) ++ (if (withOrd) Seq("ordinality") else Nil)
      // too-many-aliases is only a certain error when every item is a
      // single-column function this rewrite models (an unmapped function
      // like _pg_expandarray may contribute several columns)
      val allKnown = arrays.forall(a =>
        a._1.startsWith("graft_") || a._1.startsWith("regexp_split_to_array"))
      if (aliasCols.length > defaults.length && allKnown)
        // mz: "t has 3 columns available but 4 columns specified"
        return s"(SELECT raise_error('${aliasName.getOrElse("t")} has " +
          s"${defaults.length} columns available but ${aliasCols.length} " +
          s"columns specified') AS graft_rf_err)"
      val names = defaults.zipWithIndex.map { case (d, i) =>
        aliasCols.lift(i).getOrElse(d)
      }
      val dataCols: Seq[String] =
        if (arrays.length == 1) Seq("graft_z")
        else arrays.indices.map(i => s"graft_z.`$i`")
      val src =
        if (arrays.length == 1) arrays.head._1
        else s"arrays_zip(${arrays.map(_._1).mkString(", ")})"
      val inner =
        if (withOrd) s"SELECT posexplode($src) AS (graft_p, graft_z)"
        else s"SELECT explode($src) AS graft_z"
      val sel = (dataCols ++ (if (withOrd) Seq("graft_p + 1") else Nil))
        .zip(names).map { case (c, n) => s"$c AS `$n`" }.mkString(", ")
      s"(SELECT $sel FROM ($inner))" + aliasName.map(a => s" AS $a").getOrElse("")
    }
    // optional [WITH ORDINALITY] [AS alias[(cols)]] tail after a match
    val Tail = ("""(?is)^(\s*WITH\s+ORDINALITY\b)?""" +
      """(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|UNION\b|INTERSECT\b|EXCEPT\b|LATERAL\b|ON\b|JOIN\b|LEFT\b|RIGHT\b|INNER\b|CROSS\b|FULL\b|WITH\b|USING\b)([A-Za-z_]\w*)\s*(?:\(\s*([^()]*?)\s*\))?)?""").r
    def lateralPrefix(s: String, start: Int): String = {
      var i = start - 1
      while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
      if (i >= 0 && s.charAt(i) == ',') "LATERAL " else ""
    }
    // balanced close-paren scan (quote-aware) from just after an open paren
    def closeOf(s: String, open: Int): Int = {
      var i = open + 1; var d = 1; var q = false
      while (i < s.length && d > 0) {
        val c = s.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true
          case '(' => d += 1
          case ')' => d -= 1
          case _ => ()
        }
        i += 1
      }
      if (d == 0) i - 1 else -1
    }
    var out = sql
    // pass 1: ROWS FROM ( items ) [WITH ORDINALITY] [alias]
    var guard = 0
    var m1 = """(?i)\bROWS\s+FROM\s*\(""".r.findFirstMatchIn(out)
    while (m1.isDefined && guard < 8) {
      guard += 1
      val m = m1.get
      val close = closeOf(out, m.end - 1)
      if (close < 0) m1 = None
      else {
        val items = splitTopLevel(out.substring(m.end, close), ',').map(toArrayForm)
        val tm = Tail.findFirstMatchIn(out.substring(close + 1)).get
        val withOrd = tm.group(1) != null
        val aliasName = Option(tm.group(2))
        val aliasCols = Option(tm.group(3)).map(splitTopLevel(_, ',').map(_.trim)
          .filter(_.nonEmpty)).getOrElse(Nil)
        val repl = lateralPrefix(out, m.start) +
          subquery(items, withOrd, aliasName, aliasCols)
        out = out.substring(0, m.start) + repl + out.substring(close + 1 + tm.end)
        m1 = """(?i)\bROWS\s+FROM\s*\(""".r.findFirstMatchIn(out)
      }
    }
    // pass 2: srf(args) WITH ORDINALITY [alias]
    val Srf2 = ("""(?is)\b(generate_series|unnest|jsonb_array_elements_text|jsonb_array_elements|jsonb_object_keys|regexp_split_to_table)""" +
      """\s*\(((?:[^()']|'(?:[^']|'')*'|\((?:[^()']|'(?:[^']|'')*')*\))*)\)""" +
      """\s*(?=WITH\s+ORDINALITY\b)""").r
    guard = 0
    var m2 = Srf2.findFirstMatchIn(out)
    while (m2.isDefined && guard < 8) {
      guard += 1
      val m = m2.get
      val tm = Tail.findFirstMatchIn(out.substring(m.end)).get
      val aliasName = Option(tm.group(2))
      val aliasCols = Option(tm.group(3)).map(splitTopLevel(_, ',').map(_.trim)
        .filter(_.nonEmpty)).getOrElse(Nil)
      val repl = lateralPrefix(out, m.start) +
        subquery(Seq(toArrayForm(m.matched)), withOrd = true, aliasName, aliasCols)
      out = out.substring(0, m.start) + repl + out.substring(m.end + tm.end)
      m2 = Srf2.findFirstMatchIn(out)
    }
    // pass 3: mz scalar functions in table position — `FROM length('str')
    // [WITH ORDINALITY] [AS x[(a)]]` is a one-row relation whose column
    // carries the function (or alias) name. Direct-after-FROM occurrences
    // only (all the corpus shapes); the bare table alias renames the
    // COLUMN, pg's SRF alias rule.
    val tvfNames = srfArrayForms.keySet ++ Set("unnest", "range", "values",
      "lateral", "rows", "explode", "posexplode", "inline", "stack",
      "regexp_matches", "csv_extract", "table")
    val FromFn = """(?is)\bFROM\s+([A-Za-z_]\w*)\s*\(""".r
    guard = 0
    var m3 = FromFn.findAllMatchIn(out).find(m =>
      !tvfNames.contains(m.group(1).toLowerCase) &&
        !m.group(1).toLowerCase.startsWith("graft_") &&
        !m.group(1).toLowerCase.startsWith("jsonb_") &&
        !insideLiteral(out, m.start))
    while (m3.isDefined && guard < 8) {
      guard += 1
      val m = m3.get
      val close = closeOf(out, m.end - 1)
      if (close < 0) m3 = None
      else {
        val fn = m.group(1)
        val args = out.substring(m.end, close)
        val tm = Tail.findFirstMatchIn(out.substring(close + 1)).get
        val withOrd = tm.group(1) != null
        val aliasName = Option(tm.group(2))
        val aliasCols = Option(tm.group(3)).map(splitTopLevel(_, ',').map(_.trim)
          .filter(_.nonEmpty)).getOrElse(Nil)
        // bare `AS x` renames the single data column (pg SRF alias rule)
        val col = aliasCols.headOption.orElse(aliasName).getOrElse(fn.toLowerCase)
        val ordCol = aliasCols.lift(1).getOrElse("ordinality")
        val sel = s"$fn($args) AS `$col`" +
          (if (withOrd) s", 1 AS `$ordCol`" else "")
        val repl = s"FROM (SELECT $sel)" + aliasName.map(a => s" AS $a").getOrElse("")
        out = out.substring(0, m.start) + repl + out.substring(close + 1 + tm.end)
        m3 = FromFn.findAllMatchIn(out).find(m =>
          !tvfNames.contains(m.group(1).toLowerCase) &&
            !m.group(1).toLowerCase.startsWith("graft_") &&
            !m.group(1).toLowerCase.startsWith("jsonb_") &&
            !insideLiteral(out, m.start))
      }
    }
    out
  }

  /** pg `SELECT DISTINCT ON (exprs) list FROM ... ORDER BY ...` — first row
    * of each ON-group in ORDER BY order (pg docs SELECT DISTINCT ON;
    * reference plans it as a TopK k=1 per group, src/expr/src/relation.rs
    * TopK). Spark has no DISTINCT ON; rewrite to the equivalent
    * row_number-over-window filter. Applied per occurrence innermost-last
    * (recursion re-scans), so DISTINCT ON inside CTE bodies works. */
  private def rewriteDistinctOn(sql: String): String = {
    val m = """(?is)\bSELECT\s+DISTINCT\s+ON\s*\(""".r.findFirstMatchIn(sql)
      .getOrElse(return sql)
    // balanced scan for the ON (...) expression list
    var i = m.end
    var depth = 1
    while (i < sql.length && depth > 0) {
      val c = sql.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      i += 1
    }
    if (depth > 0) return sql
    val onCols = sql.substring(m.end, i - 1).trim
    // span of this SELECT: up to the paren closing the enclosing scope (a
    // CTE body / subquery) or end of statement
    var j = i
    depth = 0
    var inStr = false
    var end = -1
    while (j < sql.length && end < 0) {
      val c = sql.charAt(j)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => if (depth == 0) end = j else depth -= 1
        case _ =>
      }
      j += 1
    }
    val bodyEnd = if (end < 0) sql.length else end
    val body = sql.substring(i, bodyEnd)
    val fromIdx = topLevelIndexOf(body, "FROM")
    if (fromIdx < 0) return sql
    val selectList = body.substring(0, fromIdx).trim
    val rest = body.substring(fromIdx)
    val obIdx = topLevelIndexOf(rest, "ORDER")
    val limIdx = topLevelIndexOf(rest, "LIMIT")
    // a statement-trailing `;` rides inside `body` when the SELECT spans
    // to end-of-statement — it must not survive into the subquery
    val fromPart =
      (if (obIdx >= 0) rest.substring(0, obIdx)
       else if (limIdx >= 0) rest.substring(0, limIdx)
       else rest).trim.stripSuffix(";").trim
    val orderPart =
      if (obIdx >= 0) {
        val o = if (limIdx > obIdx) rest.substring(obIdx, limIdx) else rest.substring(obIdx)
        """(?is)^ORDER\s+BY\s*""".r.replaceFirstIn(o.trim, "")
          .stripSuffix(";").trim
      } else ""
    val limitPart =
      if (limIdx >= 0) " " + rest.substring(limIdx).trim.stripSuffix(";").trim
      else ""
    // ON / ORDER items resolve like pg's ORDER BY: select-list ordinals and
    // output aliases take precedence over underlying columns — and the
    // window subquery sees neither, so fold them to the aliased expressions
    val items = splitTopLevel(selectList, ',').map(_.trim)
    val AliasRe = """(?is)^(.*?)\s+AS\s+["`]?(\w+)["`]?$""".r
    val aliasMap: Map[String, String] = items.flatMap {
      case AliasRe(expr, a) => Some(a.toLowerCase -> expr.trim)
      case _ => None
    }.toMap
    def bareExpr(it: String): String = it match {
      case AliasRe(expr, _) => expr.trim
      case other => other
    }
    def resolveItem(item: String): String = {
      val m = """(?is)^(.*?)(\s+(?:ASC|DESC)\b.*|\s+NULLS\s+(?:FIRST|LAST)\b.*)?$""".r
        .findFirstMatchIn(item.trim).get
      val key = m.group(1).trim
      val suffix = Option(m.group(2)).getOrElse("")
      val resolved =
        if (key.matches("\\d+") && key.toInt >= 1 && key.toInt <= items.length)
          bareExpr(items(key.toInt - 1))
        else aliasMap.getOrElse(key.toLowerCase, key)
      resolved + suffix
    }
    val onResolved = splitTopLevel(onCols, ',').map(resolveItem).mkString(", ")
    val windowOrd =
      if (orderPart.nonEmpty) splitTopLevel(orderPart, ',').map(resolveItem).mkString(", ")
      else onResolved
    // pg planner: the DISTINCT ON expressions must be the leftmost ORDER
    // BY expressions (pg SELECT docs; reference plans the same check) —
    // statically rejectable when the DISTINCT ON spans the whole statement
    if (orderPart.nonEmpty) {
      def normKey(s: String): String =
        s.replaceAll("(?is)\\s+(?:ASC|DESC)\\b", "")
          .replaceAll("(?is)\\s+NULLS\\s+(?:FIRST|LAST)\\b", "")
          .replaceAll("\\s+", " ").trim.toLowerCase
      val onKeys = splitTopLevel(onCols, ',').map(resolveItem).map(normKey).toSet
      val obHead = splitTopLevel(orderPart, ',').map(resolveItem).map(normKey)
        .take(onKeys.size)
      val wholeStmt = sql.substring(0, m.start).trim.isEmpty && bodyEnd >= sql.length
      if (wholeStmt && obHead.exists(k => !onKeys.contains(k)))
        return "SELECT raise_error('SELECT DISTINCT ON expressions must " +
          "match initial ORDER BY expressions') AS graft_don_fidelity"
    }
    // a bare `*` select list must not leak the helper column — an
    // enclosing `AS _cols(x, y)` alias list counts output columns
    val outList =
      if (selectList.trim == "*") "* EXCEPT (graft_don)" else selectList
    val rewrittenSelect =
      s"SELECT $outList FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY $onResolved ORDER BY $windowOrd) AS graft_don $fromPart) " +
        s"graft_don_s WHERE graft_don = 1" +
        (if (orderPart.nonEmpty) s" ORDER BY $orderPart" else "") + limitPart
    rewriteDistinctOn(
      sql.substring(0, m.start) + rewrittenSelect + sql.substring(bodyEnd))
  }

  private def topLevelIndexOf(s: String, word: String): Int = {
    var depth = 0
    var inQ = false
    var i = 0
    val w = word.toUpperCase
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else c match {
        case '\'' => inQ = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, w, 0, w.length) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + w.length >= s.length || !isWordChar(s.charAt(i + w.length))))
            return i
          i += 1
      }
    }
    -1
  }

  /** Is `word` present OUTSIDE parens and quotes? (UPDATE ... FROM detection:
    * a FROM inside a SET subquery is fine; a top-level one is the pg
    * join-update form the emulation does not cover.) */
  private def hasTopLevelWord(s: String, word: String): Boolean = {
    var depth = 0
    var inQ = false
    var i = 0
    val w = word.toUpperCase
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else c match {
        case '\'' => inQ = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, w, 0, w.length) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + w.length >= s.length || !isWordChar(s.charAt(i + w.length))))
            return true
          i += 1
      }
    }
    false
  }

  /** Retry an `INSERT INTO t [(cols)] VALUES ...` whose store-assignment
    * analysis failed, as a typed SELECT: pg coerces each VALUES literal to
    * the declared column type ('2021-01-01 01:05' into a timestamp column),
    * while Spark's ANSI assignment rejects several of those coercions.
    * Casting per column to the table schema reproduces pg's behavior; only
    * called after an AnalysisException, which precedes any write. */
  private def typedInsertRetry(spark: SparkSession, sql: String): Boolean = {
    val m = """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*(\([^)]*\))?\s*VALUES\s+(.*?);?\s*$""".r
      .findFirstMatchIn(sql).getOrElse(return false)
    val table = m.group(1)
    val colList = Option(m.group(2))
      .map(_.stripPrefix("(").stripSuffix(")").split(",").map(_.trim).toSeq)
    val vals = m.group(3)
    try {
      val schema = spark.table(table).schema
      val fields = colList match {
        case Some(cs) => cs.map(c => schema.fields.find(
          _.name.equalsIgnoreCase(c.replaceAll("[\"`]", ""))).getOrElse(return false))
        case None => schema.fields.toSeq
      }
      // cast each CELL in place: a `SELECT CAST(colN ..) FROM VALUES ..`
      // re-hits Spark's inline-table type unification, which rejects the
      // mixed-type rows (VALUES ('0.0'), (0)) pg coerces per assignment
      val rows = splitTopLevel(vals, ',').map(_.trim)
      if (!rows.forall(r => r.startsWith("(") && r.endsWith(")"))) return false
      val castRows = rows.map { r =>
        val cells = splitTopLevel(r.substring(1, r.length - 1), ',')
        if (cells.length != fields.length) return false
        "(" + cells.zip(fields).map { case (c, f) =>
          val cell = c.trim
          // NULL/DEFAULT keep their untyped form (pg assignment context)
          if (cell.equalsIgnoreCase("NULL") || cell.equalsIgnoreCase("DEFAULT")) cell
          else s"CAST(($cell) AS ${f.dataType.sql})"
        }.mkString(", ") + ")"
      }
      val cols = colList.map(cs => cs.mkString("(", ", ", ")")).getOrElse("")
      spark.sql(
        s"INSERT INTO `$table` $cols VALUES ${castRows.mkString(", ")}")
        .collect()
      true
    } catch { case _: Throwable => false }
  }

  /** pg array columns name no dimensionality (`int[]` holds any dims);
    * Spark's typed column rejects a deeper literal at store-assignment.
    * When the target is still EMPTY, recreate it with the VALUES' own
    * (deeper) schema — pg dims are value-level, so later reads subscript
    * the actual value. Array-typed columns only (markers survive on
    * every other path). */
  private def deepInsertRetry(spark: SparkSession, sql: String): Boolean = {
    val m = """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*VALUES\s+(.*?);?\s*$""".r
      .findFirstMatchIn(sql).getOrElse(return false)
    val table = m.group(1)
    val vals = m.group(2)
    if (!"""(?i)\barray\s*[(\[]""".r.findFirstIn(vals).isDefined) return false
    try {
      val df = spark.table(table)
      if (!df.schema.fields.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType])) return false
      // bounds-carrying (array_fill) struct columns and marker-tagged
      // columns must keep their DECLARED shape — recreating from the
      // VALUES schema would change grouping/render semantics
      if (df.schema.fields.exists(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] ||
          f.getComment().exists(_.startsWith("graft_")))) return false
      if ("""(?i)\barray_fill\s*\(""".r.findFirstIn(vals).isDefined) return false
      if (df.limit(1).count() != 0) return false
      val cols = df.schema.fieldNames.map(n => s"`$n`").mkString(", ")
      // materialize the replacement under a TEMP name first — the same
      // mixed/deeper VALUES that broke the INSERT can fail the CTAS too,
      // and dropping the target before that failure would leave later
      // statements seeing 'table not found' instead of intact-and-poisoned
      val tmp = s"graft_deep_tmp_$table"
      spark.sql(s"DROP TABLE IF EXISTS `$tmp`").collect()
      try {
        spark.sql(
          s"CREATE TABLE `$tmp` AS SELECT * FROM (VALUES $vals) AS graft_deep($cols)")
          .collect()
      } catch { case t: Throwable =>
        spark.sql(s"DROP TABLE IF EXISTS `$tmp`").collect()
        throw t
      }
      spark.sql(s"DROP TABLE IF EXISTS `$table`").collect()
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`").collect()
      true
    } catch { case _: Throwable => false }
  }

  /** Split on a separator at paren/quote depth zero. */
  private def splitTopLevel(s: String, sep: Char): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    s.foreach { c =>
      if (inQ) { cur += c; if (c == '\'') inQ = false }
      else c match {
        case '\'' => cur += c; inQ = true
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case x if x == sep && depth == 0 => out += cur.toString; cur.clear()
        case x => cur += x
      }
    }
    out += cur.toString
    out.toList
  }

  /** Execute an emulated UPDATE/DELETE/INSERT-RETURNING; false when `sql`
    * is not one. Throws IllegalArgumentException("UNSUPPORTED ...") for
    * shapes the emulation does not cover — the caller's dialect-skip path
    * handles those exactly like before. */
  private[graft] def applyMutation(spark: SparkSession, sql: String): Boolean =
    applyMutationResult(spark, sql).isDefined

  /** Carve `[FROM/USING ...] [WHERE ...] [RETURNING ...]` off a mutation
    * tail at top level, in clause order. */
  private def carve(rest0: String, joinKw: Option[String])
      : (String, Option[String], Option[String], Option[String]) = {
    var rest = rest0.trim.stripSuffix(";").trim
    var returning: Option[String] = None
    val iRet = topLevelIndexOf(rest, "RETURNING")
    if (iRet >= 0) {
      returning = Some(rest.substring(iRet + "RETURNING".length).trim)
      rest = rest.substring(0, iRet).trim
    }
    var where: Option[String] = None
    val iWhere = topLevelIndexOf(rest, "WHERE")
    if (iWhere >= 0) {
      where = Some(rest.substring(iWhere + "WHERE".length).trim)
      rest = rest.substring(0, iWhere).trim
    }
    var join: Option[String] = None
    joinKw.foreach { kw =>
      val iJoin = topLevelIndexOf(rest, kw)
      if (iJoin >= 0) {
        join = Some(rest.substring(iJoin + kw.length).trim)
        rest = rest.substring(0, iJoin).trim
      }
    }
    (rest, join, where, returning)
  }

  /** A mutation's emulated execution: `Some(result)` when `sql` is a
    * supported mutation (result = the RETURNING rows, pre-materialized
    * BEFORE the table changes, so a throwing RETURNING leaves state
    * untouched like pg's atomic statements), None when not a mutation. */
  private def applyMutationResult(spark: SparkSession,
      sql: String): Option[Option[DataFrame]] = {
    val up = sql.trim.toUpperCase
    if (up.startsWith("UPDATE")) UpdateHead.findFirstMatchIn(sql).map { m =>
      runUpdate(spark, m.group(1), Option(m.group(2)), m.group(3))
    }
    else if (up.startsWith("DELETE")) DeleteHead.findFirstMatchIn(sql).map { m =>
      runDelete(spark, m.group(1), Option(m.group(2)), m.group(3))
    }
    else if (up.startsWith("INSERT") &&
        (topLevelIndexOf(sql, "RETURNING") >= 0 ||
          """(?is)\bDEFAULT\s+VALUES""".r.findFirstIn(sql).isDefined))
      InsertHead.findFirstMatchIn(sql).map { m =>
        runInsertReturning(spark, m.group(1), Option(m.group(2)), m.group(3))
      }
    else if (up.startsWith("ALTER")) sql match {
      case AlterRenameTable(from, to) =>
        spark.sql(s"ALTER TABLE $from RENAME TO $to").collect()
        Some(None)
      case AlterRenameView(from, to) =>
        // temp views: re-register the captured plan under the new name
        // (pg's rename keeps the defining query — identical here)
        val plan = spark.table(from)
        plan.createOrReplaceTempView(to)
        spark.catalog.dropTempView(from)
        Some(None)
      case AlterRenameColumn(t, a, b) =>
        val df = spark.table(t)
        require(df.schema.fieldNames.exists(_.equalsIgnoreCase(a)),
          s"""column "$a" does not exist""")
        recreateAs(spark, t, df,
          org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
            if (f.name.equalsIgnoreCase(a)) f.copy(name = b) else f)))
        Some(None)
      case AlterDropColumn(t, c) =>
        val df = spark.table(t)
        require(df.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"""column "$c" does not exist""")
        require(df.schema.length > 1, "cannot drop the only column")
        val keep = df.schema.fieldNames.filterNot(_.equalsIgnoreCase(c))
        val kept = df.select(keep.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
        recreateAs(spark, t, kept, kept.schema)
        Some(None)
      case AlterAddColumn(t, c, tpe, default) if alterConvertible(sql) =>
        if (default == null) {
          spark.sql(s"ALTER TABLE $t ADD COLUMNS ($c $tpe)").collect()
        } else {
          // pg fills EXISTING rows with the default on ADD COLUMN DEFAULT
          val df = spark.table(t).selectExpr("*", s"CAST(($default) AS $tpe) AS $c")
          recreateAs(spark, t, df, df.schema)
        }
        Some(None)
      case _ => None
    }
    else None
  }

  /** Drop + recreate `table` with `df`'s rows under `schema` — the
    * schema-changing ALTER emulation (collect-then-write: fixture tables
    * are driver-sized; the distributed path would stage to a temp name). */
  private def recreateAs(spark: SparkSession, table: String,
      df: DataFrame, schema: org.apache.spark.sql.types.StructType): Unit = {
    val rows = df.collect().toSeq
    spark.sql(s"DROP TABLE $table")
    spark.createDataFrame(rows.asJava, schema).write.saveAsTable(table)
  }

  private def localized(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toSeq
    spark.createDataFrame(rows.asJava, df.schema)
  }

  private def runUpdate(spark: SparkSession, table: String,
      alias: Option[String], rest0: String): Option[DataFrame] = {
    val (setList, from, where, returning) = carve(rest0, Some("FROM"))
    val schema = spark.table(table).schema
    val outerRef = s"`$table`" + alias.map(a => s" AS `$a`").getOrElse("")
    val assigns = splitTopLevel(setList, ',').map { a =>
      val eq = {
        // first top-level '=' splits column from expression
        var depth = 0; var inQ = false; var idx = -1; var i = 0
        while (i < a.length && idx < 0) {
          val c = a.charAt(i)
          if (inQ) { if (c == '\'') inQ = false }
          else c match {
            case '\'' => inQ = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case '=' if depth == 0 => idx = i
            case _ =>
          }
          i += 1
        }
        idx
      }
      require(eq > 0, s"cannot parse SET assignment: $a")
      (a.substring(0, eq).trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`").toLowerCase,
        a.substring(eq + 1).trim)
    }.toMap
    val unknown = assigns.keySet -- schema.fieldNames.map(_.toLowerCase).toSet
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"UPDATE: unknown column(s) ${unknown.mkString(", ")}")
    from match {
      case Some(f) =>
        // pg's join-update: SET expressions read SOME matching row of the
        // FROM list. Compiled to a joined rewrite-SELECT keyed by a
        // synthetic row id (a correlated first() would mix outer and local
        // references, which Catalyst rejects): matched pairs aggregate
        // first(<set expr>) per target row, then LEFT JOIN back.
        if (returning.isDefined)
          throw new IllegalArgumentException(
            "UNSUPPORTED mutation shape: UPDATE ... FROM ... RETURNING")
        val w = where.getOrElse("TRUE")
        val effName = alias.getOrElse(table)
        val base = spark.table(table)
        val idRows = base.collect().toSeq.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i.toLong)
        }
        val idSchema = org.apache.spark.sql.types.StructType(base.schema.fields :+
          org.apache.spark.sql.types.StructField("__graft_rid",
            org.apache.spark.sql.types.LongType, nullable = false))
        spark.createDataFrame(idRows.asJava, idSchema)
          .createOrReplaceTempView("graft_upd_t")
        val aggCols = assigns.map { case (c, e) => s"first($e) AS `__new_$c`" }
          .mkString(", ")
        spark.sql(s"SELECT `$effName`.`__graft_rid` AS `__graft_rid`, $aggCols " +
            s"FROM graft_upd_t AS `$effName`, $f WHERE $w " +
            s"GROUP BY `$effName`.`__graft_rid`")
          .createOrReplaceTempView("graft_upd_m")
        val outCols = schema.fields.map { fl =>
          assigns.get(fl.name.toLowerCase) match {
            case Some(_) =>
              s"CASE WHEN m.`__graft_rid` IS NOT NULL " +
                s"THEN CAST(m.`__new_${fl.name.toLowerCase}` AS ${fl.dataType.sql}) " +
                s"ELSE t.`${fl.name}` END AS `${fl.name}`"
            case None => s"t.`${fl.name}`"
          }
        }
        rewriteTable(spark, table,
          s"SELECT ${outCols.mkString(", ")} FROM graft_upd_t t " +
            s"LEFT JOIN graft_upd_m m ON t.`__graft_rid` = m.`__graft_rid`")
        None
      case None =>
        // the reference rejects UPDATE ... RETURNING ("Expected end of
        // statement", returning.slt) — emulating it would mutate state the
        // reference's error left untouched
        if (returning.isDefined)
          throw new IllegalArgumentException(
            "UNSUPPORTED mutation shape: UPDATE ... RETURNING (reference rejects)")
        val newCols = schema.fields.map { fl =>
          assigns.get(fl.name.toLowerCase) match {
            case Some(e) =>
              val cast = s"CAST(($e) AS ${fl.dataType.sql})"
              where match {
                case Some(w) => s"CASE WHEN ($w) THEN $cast ELSE `${fl.name}` END AS `${fl.name}`"
                case None => s"$cast AS `${fl.name}`"
              }
            case None => s"`${fl.name}`"
          }
        }
        rewriteTable(spark, table, s"SELECT ${newCols.mkString(", ")} FROM $outerRef")
        None
    }
  }

  private def runDelete(spark: SparkSession, table: String,
      alias: Option[String], rest0: String): Option[DataFrame] = {
    val (lead, using, where, returning) = carve(rest0, Some("USING"))
    if (lead.nonEmpty ||
        """(?i)\b(ORDER|LIMIT)\b""".r.findFirstIn(rest0).isDefined)
      throw new IllegalArgumentException(s"UNSUPPORTED DELETE shape: $rest0")
    val outerRef = s"`$table`" + alias.map(a => s" AS `$a`").getOrElse("")
    using match {
      case Some(u) =>
        // pg's join-delete: keep rows with NO matching USING row
        if (returning.isDefined)
          throw new IllegalArgumentException(
            "UNSUPPORTED mutation shape: DELETE ... USING ... RETURNING")
        val w = where.getOrElse("TRUE")
        rewriteTable(spark, table,
          s"SELECT * FROM $outerRef WHERE NOT EXISTS (SELECT 1 FROM $u WHERE $w)")
        None
      case None =>
        // like UPDATE: the reference rejects DELETE ... RETURNING
        if (returning.isDefined)
          throw new IllegalArgumentException(
            "UNSUPPORTED mutation shape: DELETE ... RETURNING (reference rejects)")
        val sel = where match {
          case Some(w) => s"SELECT * FROM $outerRef WHERE NOT coalesce(($w), false)"
          case None => s"SELECT * FROM $outerRef WHERE false"
        }
        rewriteTable(spark, table, sel)
        None
    }
  }

  /** INSERT with RETURNING (mz supports it; reference returning.slt) and/or
    * DEFAULT VALUES: the inserted rows are computed as a projection of the
    * VALUES/SELECT body onto the table schema (absent columns take their
    * declared DEFAULT), materialized, used for the RETURNING result, then
    * appended. */
  private def runInsertReturning(spark: SparkSession, table: String,
      colList: Option[String], rest0: String): Option[DataFrame] = {
    val (body0, _, _, returning) = carve(rest0, None)
    val schema = spark.table(table).schema
    def defaultExpr(f: org.apache.spark.sql.types.StructField): String =
      if (f.metadata.contains("CURRENT_DEFAULT")) f.metadata.getString("CURRENT_DEFAULT")
      else "NULL"
    // the reference rejects a paren-wrapped SELECT body ("Expected right
    // parenthesis", returning.slt) even though pg accepts it
    val body = body0.trim
    if (body.startsWith("("))
      throw new IllegalArgumentException(
        "UNSUPPORTED INSERT body: parenthesized query (reference rejects)")
    val targets: Seq[String] = colList match {
      case Some(cl) => cl.stripPrefix("(").stripSuffix(")").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase).toSeq
      case None => schema.fieldNames.map(_.toLowerCase).toSeq
    }
    val insDf: DataFrame =
      if (body.toUpperCase.startsWith("DEFAULT VALUES"))
        spark.sql("SELECT " + schema.fields.map(f =>
          s"CAST((${defaultExpr(f)}) AS ${f.dataType.sql}) AS `${f.name}`").mkString(", "))
      else {
        val raw =
          if (body.toUpperCase.startsWith("VALUES")) spark.sql(s"SELECT * FROM $body")
          else spark.sql(body)
        require(raw.columns.length <= targets.length,
          s"INSERT has more expressions than target columns")
        val m = targets.take(raw.columns.length).zip(raw.columns).toMap
        import org.apache.spark.sql.functions.expr
        raw.select(schema.fields.toIndexedSeq.map { f =>
          m.get(f.name.toLowerCase) match {
            case Some(src) => raw(s"`$src`").cast(f.dataType).as(f.name)
            case None => expr(defaultExpr(f)).cast(f.dataType).as(f.name)
          }
        }: _*)
      }
    val localIns = localized(spark, insDf)
    // RETURNING evaluates (and throws) BEFORE any table change; the
    // reference additionally rejects aggregates / window functions /
    // subqueries in the RETURNING list (returning.slt error records) —
    // Spark would accept them, silently inserting rows the reference's
    // error left out
    val ret = returning.map { r =>
      if ("""(?i)\b(count|sum|avg|min|max|row_number|rank|dense_rank)\s*\(""".r
          .findFirstIn(r).isDefined)
        throw new IllegalArgumentException(
          "aggregate/window functions are not allowed in RETURNING clause")
      if ("""(?i)\(\s*SELECT\b""".r.findFirstIn(r).isDefined)
        throw new IllegalArgumentException(
          "RETURNING clause does not allow subqueries")
      localIns.createOrReplaceTempView("graft_mut_rows")
      localized(spark, spark.sql(s"SELECT $r FROM graft_mut_rows AS `$table`"))
    }
    localIns.write.mode("append").insertInto(table)
    ret
  }

  /** Evaluate `select` (over the table's CURRENT contents), then overwrite
    * the table with the result — collect-then-write avoids the
    * self-read-overwrite restriction; fixture tables are driver-sized. */
  private def rewriteTable(spark: SparkSession, table: String, select: String): Unit = {
    val schema = spark.table(table).schema
    val rows = spark.sql(select).collect().toSeq
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").insertInto(table)
  }

  /** ALTERs that change a relation's DATA (not just metadata): the skip
    * must poison the target like a skipped UPDATE, or later reads compare
    * stale contents (e.g. the reference's APPLY REPLACEMENT). */
  private val DataAlter =
    """(?is)^\s*ALTER\s+(?:MATERIALIZED\s+)?(?:TABLE|VIEW)\s+["`]?(\w+)["`]?\s+(?:APPLY|ADD|DROP|RENAME|ALTER)\b.*""".r

  // Convertible ALTER TABLE forms (single-op, simple names): RENAME TO runs
  // natively; RENAME COLUMN and ADD COLUMN DEFAULT are drop-recreate
  // emulations over the driver-sized fixtures.
  private val AlterRenameTable =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+RENAME\s+TO\s+["`]?(\w+)["`]?\s*;?\s*$""".r
  private val AlterRenameColumn =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+RENAME\s+COLUMN\s+["`]?(\w+)["`]?\s+TO\s+["`]?(\w+)["`]?\s*;?\s*$""".r
  private val AlterAddColumn =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)["`]?\s+([A-Za-z_][\w(), ]*?)(?:\s+DEFAULT\s+(.+?))?\s*;?\s*$""".r
  private val AlterRenameView =
    """(?is)^\s*ALTER\s+(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+RENAME\s+TO\s+["`]?(\w+)["`]?\s*;?\s*$""".r
  private val AlterDropColumn =
    """(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+DROP\s+(?:COLUMN\s+)?(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?(?:\s+(?:CASCADE|RESTRICT))?\s*;?\s*$""".r
  /** Marker: a piece the emulation must skip as a dialect gap (the record
    * counts skipped, exactly like a parse-level dialect error). */
  private[slt] final class DialectSkip(msg: String) extends Exception(msg)

  private def alterConvertible(sqlRaw: String): Boolean = sqlRaw match {
    case AlterRenameTable(_, _) => true
    case AlterRenameColumn(_, _, _) => true
    case AlterRenameView(_, _) => true
    case AlterDropColumn(_, _) => true
    case AlterAddColumn(_, _, tpe, _) =>
      // constraints/defaults-with-constraints stay unsupported (pg fills
      // NOT NULL / CHECK semantics this emulation does not honor)
      """(?i)\b(NOT|NULL|UNIQUE|PRIMARY|REFERENCES|CHECK|COLLATE)\b""".r
        .findFirstIn(tpe).isEmpty
    case _ => false
  }

  private def classify(sqlRaw: String, crdb: Boolean): Record = {
    val up = sqlRaw.trim.toUpperCase
    // user-schema DDL: emulated by name-flattening (SchemaEmulation) —
    // classify-time registry mutation, exec-time pass/reject via marker
    if (up.startsWith("CREATE SCHEMA") || up.startsWith("DROP SCHEMA") ||
        up.startsWith("ALTER SCHEMA")) {
      SchemaEmulation.classify(sqlRaw) match {
        case Some(marker) => return Statement(marker, expectError = false)
        case None => return Unsupported(
          s"no Spark analog: ${up.takeWhile(_ != ' ')}", mutating = false, sql = sqlRaw)
      }
    }
    // SET search_path mutates the parse-time resolution registry (pg
    // accepts unknown schemas with a warning) — then falls through to the
    // normal session-variable SET handling for SHOW to read back
    """(?is)^\s*SET\s+(?:SESSION\s+)?search_path\s*(?:=|TO)\s*([^;]+);?\s*$""".r
      .findFirstMatchIn(sqlRaw).foreach { m =>
        val v = m.group(1).trim
        if (v.equalsIgnoreCase("DEFAULT")) SchemaEmulation.resetSearchPath()
        else SchemaEmulation.setSearchPath(v.replace("'", "").replace("\"", ""))
      }
    if ("""(?is)^\s*RESET\s+search_path\s*;?\s*$""".r.findFirstIn(sqlRaw).isDefined)
      SchemaEmulation.resetSearchPath()
    // SET DATABASE re-scopes bare-name resolution (crdb logictests switch
    // databases freely) — same parse-time registry treatment as
    // search_path; the statement then falls through to SetVar for SHOW
    """(?is)^\s*SET\s+(?:SESSION\s+)?DATABASE\s*(?:=|TO)\s*["']?(\w+)["']?\s*;?\s*$""".r
      .findFirstMatchIn(sqlRaw)
      .foreach(m => SchemaEmulation.setDatabase(m.group(1)))
    if ("""(?is)^\s*RESET\s+database\s*;?\s*$""".r.findFirstIn(sqlRaw).isDefined)
      SchemaEmulation.resetDatabase()
    // CREATE DATABASE registers nothing until first use (schemas ensure on
    // switch); DROP DATABASE evicts the database's schemas and members
    if (up.startsWith("CREATE DATABASE"))
      return Statement("GRAFT_SCHEMA_DDL|ok|", expectError = false)
    """(?is)^\s*DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?(?:\s+CASCADE|\s+RESTRICT)?\s*;?\s*$""".r
      .findFirstMatchIn(sqlRaw).foreach { m =>
        val drops = SchemaEmulation.dropDatabase(m.group(1))
        return Statement("GRAFT_SCHEMA_DDL|ok|" + drops.mkString(";"),
          expectError = false)
      }
    // UPDATE/DELETE run through the emulation in applyMutation (Spark v1
    // tables have no native UPDATE/DELETE); unsupported shapes fall back to
    // a dialect skip that poisons the target, as before
    // relation/type namespace collisions (types.slt:512-530): a CREATE
    // relation over a registered TYPE name is the reference's catalog
    // rejection; successful relation DDL is recorded for the reverse check
    val RelCreate =
      """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?(MATERIALIZED\s+)?(VIEW|TABLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?([A-Za-z_]\w*)["`]?""".r
    RelCreate.findFirstMatchIn(sqlRaw).foreach { m =>
      val n = SltSession.normName(m.group(3))
      if (customTypes.contains(n))
        return Statement(
          "SELECT raise_error('type \"materialize.public." + n +
            "\" already exists')", expectError = false)
      parseRelKinds.put(n,
        if (m.group(1) != null) "materialized view" else m.group(2).toLowerCase)
    }
    """(?is)^\s*DROP\s+(?:TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:IF\s+EXISTS\s+)?["`]?([A-Za-z_]\w*)""".r
      .findFirstMatchIn(sqlRaw)
      .foreach(m => parseRelKinds.remove(SltSession.normName(m.group(1))))
    if (alterConvertible(sqlRaw))
      Statement(shim(sqlRaw, crdb), expectError = false)
    else if (DataAlter.findFirstMatchIn(sqlRaw).isDefined)
      Unsupported("data-changing ALTER has no Spark analog", mutating = true,
        target = DataAlter.findFirstMatchIn(sqlRaw).map(_.group(1).toLowerCase))
    else if (up.startsWith("COPY ") &&
        """(?is)^\s*COPY\s+["`]?\w+["`]?\s+FROM\b""".r.findFirstIn(sqlRaw).isDefined)
      // COPY <t> FROM loads data: skipping it leaves t EMPTY, not merely
      // stale — reads must be poisoned, exactly like a skipped INSERT
      Unsupported("COPY FROM data load", mutating = true,
        target = """(?is)^\s*COPY\s+["`]?(\w+)""".r.findFirstMatchIn(sqlRaw)
          .map(_.group(1).toLowerCase))
    else if ("""(?is)^\s*SHOW\s+(?:TABLES|VIEWS)\s*;?\s*$""".r.pattern.matcher(sqlRaw).matches)
      // statement-position SHOW TABLES/VIEWS: the engine command answers
      // (query-position records expect engine-specific column lists — those
      // keep skipping via the prefix below)
      Statement(sqlRaw.trim.stripSuffix(";"), expectError = false)
    else if (up.startsWith("CREATE TYPE")) classifyCreateType(sqlRaw)
    else if (up.startsWith("DROP TYPE")) sqlRaw match {
      case SltSession.DropType(name) =>
        val n = SltSession.normName(name)
        if (customTypes.remove(n).isDefined) TypeDdl(ok = true, "", sql = sqlRaw)
        else TypeDdl(ok = false, s"""type "$n" does not exist""", sql = sqlRaw)
      case _ => Unsupported("DROP TYPE shape not supported", mutating = false, sql = sqlRaw)
    }
    else if (graft.sql.GraftSqlParser.CreateSourceLoadGen
        .findFirstMatchIn(sqlRaw).isDefined) {
      // the engine's own CREATE SOURCE ... LOAD GENERATOR path
      // (GraftCommands.CreateSourceCommand) — registers a named relation the
      // introspection views list, exactly like the reference's source
      SltCreateSourceGen.findFirstMatchIn(sqlRaw)
        .foreach(m => sourceGenKinds.put(m.group(1).toLowerCase,
          m.group(2).toUpperCase.replaceAll("\\s+", " ")))
      Statement(sqlRaw.trim.stripSuffix(";"), expectError = false)
    }
    else if (SltCreateSourceGen.findFirstMatchIn(sqlRaw).isDefined) {
      // load-generator CREATE SOURCE shapes the engine parser does not
      // take (IN CLUSTER placement, TPCH SCALE FACTOR, MARKETING...):
      // record the generator kind so CREATE TABLE .. FROM SOURCE can
      // materialize its referenced relation (reference
      // src/sql/src/plan/statement/ddl.rs plan_create_source)
      val m = SltCreateSourceGen.findFirstMatchIn(sqlRaw).get
      sourceGenKinds.put(m.group(1).toLowerCase,
        m.group(2).toUpperCase.replaceAll("\\s+", " "))
      Statement("SELECT 1 AS graft_source_registered", expectError = false)
    }
    else if (SltCreateWebhook.findFirstMatchIn(sqlRaw).isDefined) {
      // CREATE SOURCE ... FROM WEBHOOK (reference webhook sources,
      // src/storage-types/src/sources.rs; engine analog
      // sources/WebhookSource.scala): a webhook source with no requests is
      // an EMPTY relation of its declared shape — registering it keeps
      // downstream DDL (COMMENT ON SOURCE, SHOW) off the poison path
      val m = SltCreateWebhook.findFirstMatchIn(sqlRaw).get
      val hdr =
        if ("""(?i)\bINCLUDE\s+HEADERS\b""".r.findFirstIn(m.group(3)).isDefined)
          "H" else ""
      Statement(
        s"GRAFT_WEBHOOK|${m.group(1)}|${m.group(2).toUpperCase}|$hdr",
        expectError = false)
    }
    else if (SltCreateTableFromSource.findFirstMatchIn(sqlRaw).isDefined) {
      // CREATE TABLE <t> FROM SOURCE <s> (REFERENCE <r>) — a source-fed
      // table (reference ddl.rs plan_create_table_from_source). Backed
      // here by a deterministic generator view with the reference's
      // relation schema (load_generator.rs views()).
      val m = SltCreateTableFromSource.findFirstMatchIn(sqlRaw).get
      val t = m.group(1)
      val src = m.group(2).toLowerCase
      val ref = Option(m.group(3)).map(_.toLowerCase)
      sourceGenKinds.get(src.split('.').last)
        .flatMap(kind => loadGenViewSql(kind, ref)) match {
        case Some(gen) =>
          Statement(s"CREATE OR REPLACE TEMPORARY VIEW $t AS $gen",
            expectError = false)
        case None =>
          Unsupported("CREATE TABLE FROM SOURCE: unknown source or reference",
            mutating = true, sql = sqlRaw)
      }
    }
    else if (SltDropSource.findFirstMatchIn(sqlRaw).isDefined) {
      val m = SltDropSource.findFirstMatchIn(sqlRaw).get
      Statement(
        s"GRAFT_DROP_SOURCE|${m.group(2)}|${if (m.group(1) != null) "IE" else ""}",
        expectError = false)
    }
    else if (up.startsWith("SUBSCRIBE") && parseSubscribe(sqlRaw).isDefined)
      // statement-position SUBSCRIBE: dispatch validates AS OF / UP TO /
      // envelope keys like the reference (the expected-error records);
      // plain ok-expecting ones keep the no-analog skip there
      Statement("GRAFT_SUBSCRIBE_STMT|" + sqlRaw.trim, expectError = false)
    else if (skipPrefixes.exists(up.startsWith))
      Unsupported(s"no Spark analog: ${up.takeWhile(_ != ' ')}", mutating = false,
        sql = sqlRaw)
    else if (graft.sql.GraftSqlParser.CommentOn.findFirstMatchIn(sqlRaw).exists { m =>
      // COMMENT ON COLUMN of a session-registered custom (record) type:
      // the type registry lives here, not in the engine catalog
      m.group(1).equalsIgnoreCase("COLUMN") &&
        customTypes.contains(SltSession.normName(m.group(2).split("\\.").head))
    }) {
      // the registry is PARSE-time state (a later DROP TYPE evicts it
      // before dispatch runs) — resolve the field position here
      val cm = graft.sql.GraftSqlParser.CommentOn.findFirstMatchIn(sqlRaw).get
      val parts = cm.group(2).replace("\"", "").split("\\.").map(_.trim)
      val tn = SltSession.normName(parts.head)
      val colName = parts.lift(1).getOrElse("")
      val fieldIdx = customTypes.get(tn) match {
        case Some(SltSession.RecordType(fields)) =>
          fields.indexWhere(_._1.equalsIgnoreCase(colName))
        case _ => -2 // list/map types have no columns
      }
      Statement(s"GRAFT_TYPE_COL_COMMENT|$fieldIdx|" + sqlRaw.trim,
        expectError = false)
    }
    else Statement(shim(sqlRaw, crdb), expectError = false)
  }

  /** CREATE TYPE (list / map / record): validate against the registry with
    * the reference's resolution budget and register on success. */
  private def classifyCreateType(sqlRaw: String): Record = {
    def attempt(name: String, ct: SltSession.CustomType): Record = {
      val n = SltSession.normName(name)
      parseRelKinds.get(n) match {
        case Some(kind) => return TypeDdl(ok = false,
          s"""$kind "materialize.public.$n" already exists""", sql = sqlRaw)
        case None => ()
      }
      SltSession.validateType(ct, customTypes) match {
        case Right(()) =>
          customTypes.put(n, ct)
          SchemaEmulation.noteType(name) // regtype::text rendering
          TypeDdl(ok = true, "", sql = sqlRaw)
        case Left(err) => TypeDdl(ok = false, err, sql = sqlRaw)
      }
    }
    sqlRaw match {
      case SltSession.CreateTypeList(name, elem) =>
        attempt(name, SltSession.ListType(SltSession.normName(elem)))
      case SltSession.CreateTypeMap(name, k, v) =>
        attempt(name, SltSession.MapType(SltSession.normName(k), SltSession.normName(v)))
      case SltSession.CreateTypeRecord(name, fieldList) =>
        val fields = SltSession.splitTop(fieldList).map { f =>
          """(?s)^\s*("?[\w]+"?)\s+(.+?)\s*$""".r.findFirstMatchIn(f)
            .map(m => (SltSession.normName(m.group(1)), SltSession.normName(m.group(2))))
        }
        if (fields.isEmpty || fields.exists(_.isEmpty))
          Unsupported("CREATE TYPE record shape not parsed", mutating = false, sql = sqlRaw)
        else attempt(name, SltSession.RecordType(fields.flatten))
      case _ =>
        Unsupported("CREATE TYPE shape not supported", mutating = false, sql = sqlRaw)
    }
  }

  // ---------------- parsing ----------------

  private def parse(lines: Array[String], crdb: Boolean): List[Record] = {
    val out = mutable.ListBuffer.empty[Record]
    // pre-scan: tables whose INSERTs carry 'NaN' store numeric as double
    // (see nanDoubleTables); lazy [^;]*? keeps the match within one
    // semicolon-terminated statement
    """(?is)INSERT\s+INTO\s+["`]?(\w+)["`]?[^;]*?'NaN'""".r
      .findAllMatchIn(lines.mkString("\n"))
      .foreach(m => nanDoubleTables.put(m.group(1).toLowerCase, ()))
    var i = 0
    def collectSql(stop: String => Boolean): String = {
      val sb = mutable.ListBuffer.empty[String]
      while (i < lines.length && lines(i).trim.nonEmpty && !stop(lines(i))) {
        sb += lines(i); i += 1
      }
      sb.mkString("\n")
    }
    // a non-error query's SQL is terminated by the ---- separator, NOT by
    // blank lines — multi-paragraph SQL (the advent-of-code WMR corpus) is
    // one record. Only used when the separator provably follows.
    def collectSqlUntilSeparator(): String = {
      val sb = mutable.ListBuffer.empty[String]
      while (i < lines.length && lines(i).trim != "----") { sb += lines(i); i += 1 }
      sb.mkString("\n").trim
    }
    def separatorAhead(from: Int): Boolean = {
      var j = from
      while (j < lines.length) {
        if (lines(j).trim == "----") return true
        // a new record directive before any ---- means this query has none
        val t = lines(j).trim
        if (t.startsWith("statement") || t.startsWith("query") || t == "halt") return false
        j += 1
      }
      false
    }
    // We emulate Materialize: a record guarded `onlyif <other-engine>` or
    // `skipif materialize` does not apply to us and must be skipped, not run
    // (the guarded expectations encode the OTHER engine's semantics).
    var skipNext = false
    def emit(r: Record): Unit = {
      out += (if (skipNext) Unsupported("engine-conditioned record", mutating = false) else r)
      skipNext = false
    }
    while (i < lines.length) {
      val line = lines(i).trim
      if (line.isEmpty || line.startsWith("#")) i += 1
      else if (line == "halt") { out += Halt; i = lines.length }
      else if (line.startsWith("skipif ") || line.startsWith("onlyif ")) {
        val engine = line.split("\\s+").lift(1).getOrElse("").toLowerCase
        val us = engine == "materialize" || engine == "mz"
        if ((line.startsWith("onlyif") && !us) || (line.startsWith("skipif") && us))
          skipNext = true
        i += 1
      }
      else if (line.startsWith("mode ") || line.startsWith("hash-threshold")) i += 1
      else if (line == "reset-server") {
        // schema registry state is parse-time (classify order) — a
        // mid-file server reset clears it here, in stream order
        SchemaEmulation.reset()
        out += ResetServer; i += 1
      }
      else if (line.startsWith("copy ")) {
        val parts = line.split("\\s+")
        if (parts.length >= 3) emit(CopyLoad(parts(1), parts(2))) else emit(
          Unsupported("malformed copy directive", mutating = false))
        i += 1
      }
      else if (line.startsWith("simple")) {
        // `simple conn=...` block: SQL, ----, raw output, blank. Session-
        // variable-only blocks on the DEFAULT connection run through the
        // simple-protocol emulation below; everything else is kept as an
        // Unsupported whose text taints the vars it SETs.
        // bare `simple` only: a named conn (even conn=1) signals multi-
        // connection interplay this single-session emulation can't model
        val defaultConn = line.trim == "simple"
        i += 1
        val block = mutable.ListBuffer.empty[String]
        while (i < lines.length && lines(i).trim.nonEmpty) { block += lines(i); i += 1 }
        val (sqlPart, expPart) = block.indexWhere(_.trim == "----") match {
          case -1 => (block.toList, Nil)
          case d => (block.take(d).toList, block.drop(d + 1).toList)
        }
        val stmts = splitStatements(sqlPart.mkString("\n"))
        val safe = defaultConn && stmts.nonEmpty && stmts.forall(s =>
          """(?is)^\s*(SET\s+(?:LOCAL\s+)?[A-Za-z_][\w.]*\s*(?:=|\s+TO\s+).+|RESET\s+[A-Za-z_][\w.]*|SHOW\s+[A-Za-z_][\w.]*|BEGIN|COMMIT|ROLLBACK)\s*$""".r
            .pattern.matcher(s.trim).matches) &&
          // a pure BEGIN/COMMIT/ROLLBACK block only carries TRANSACTION
          // state (often interleaved with other connections' DDL) — claim
          // only blocks doing session-variable work
          stmts.exists(s =>
            """(?is)^\s*(SET|RESET|SHOW)\b.*""".r.pattern.matcher(s.trim).matches)
        if (safe)
          emit(SimpleVarBlock(stmts.toList, expPart.map(_.trim)))
        else {
          // default-conn blocks mixing session pieces with executable
          // DML/queries run through the exec emulation; DECLARE/FETCH,
          // PREPARE/EXECUTE and multi-statement DDL keep the skip
          val varPc =
            """(?is)^\s*(SET\s+(?:LOCAL\s+)?[A-Za-z_][\w.]*\s*(?:=|\s+TO\s+).+|RESET\s+[A-Za-z_][\w.]*|SHOW\s+[A-Za-z_][\w.]*|BEGIN|COMMIT|ROLLBACK)\s*;?\s*$""".r
          val dmlPc =
            """(?is)^\s*(?:INSERT\s+INTO\s+["`]?\w+|SELECT\b|VALUES\s*\()[\s\S]*$""".r
          val ddlPc =
            """(?is)^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\b|DROP\s+(?:TABLE|VIEW)\b)[\s\S]*$""".r
          def isVar(s: String) = varPc.pattern.matcher(s.trim).matches
          def isDml(s: String) = dmlPc.pattern.matcher(s.trim).matches
          // DDL pieces: executable alone; combined with other statements
          // the reference deterministically REJECTS the block ("cannot be
          // run inside a transaction block") — both claimed
          def isTxn(s: String) =
            """(?is)^\s*(BEGIN|COMMIT|ROLLBACK)\b.*""".r.pattern.matcher(s.trim).matches
          // cursor pieces (DECLARE/FETCH/CLOSE) route through the session
          // cursor machinery — default connection only (txn interplay)
          val curPc =
            """(?is)^\s*(?:DECLARE\s+\w+\s+CURSOR\b|FETCH\b|CLOSE\s+\w+)[\s\S]*$""".r
          def isCur(s: String) = curPc.pattern.matcher(s.trim).matches
          // a NAMED conn is its own pg session: claim var+read/write blocks
          // against a per-conn variable registry (no txn pieces, no DDL —
          // cross-connection transaction interplay stays skipped)
          val connOpt = """^simple\s+conn=([A-Za-z_]\w*)\s*$""".r
            .findFirstMatchIn(line.trim).map(_.group(1))
          val execClaim = (defaultConn && stmts.nonEmpty &&
            stmts.forall(s => isVar(s) || isDml(s) || isCur(s) ||
              ddlPc.pattern.matcher(s.trim).matches)) ||
            (connOpt.isDefined && stmts.nonEmpty &&
              stmts.forall(s => (isVar(s) && !isTxn(s)) || isDml(s)))
          if (execClaim)
            emit(SimpleExecBlock(
              if (defaultConn) None else connOpt,
              stmts.toList.map(s => (s, if (isVar(s)) s.trim else shim(s, crdb))),
              expPart.map(_.trim)))
          else
            out += Unsupported("simple protocol block", mutating = false,
              sql = block.mkString("\n"))
        }
      } else if (line.startsWith("statement")) {
        val expectErr = line.startsWith("statement error")
        i += 1
        // the reference does NOT treat `----` as a separator in statement
        // records — the body runs to the blank line and a `----` line is a
        // pg `--` comment (parser.rs parse_statement: split_at
        // DOUBLE_LINE_REGEX only). A stray leading `----` (window_funcs.slt
        // "statement ok / ---- / INSERT ...") must not swallow the SQL.
        val sql = collectSql(_ => false)
          .split("\n").filterNot(_.trim == "----").mkString("\n")
        // an engine-skipped record must NOT be classified: classify (and
        // shim) mutate parse-time registries (SchemaEmulation, range/type
        // tags), and the reference never executed this statement — a
        // guarded CREATE SCHEMA would desync canonical-name mangling
        emit(if (skipNext) Unsupported("engine-conditioned record", mutating = false)
        else classify(sql, crdb) match {
          case s: Statement => s.copy(expectError = expectErr,
            errorText = if (expectErr)
              line.stripPrefix("statement").trim.stripPrefix("error").trim
            else "")
          case t: TypeDdl => t.copy(expectError = expectErr)
          case u: Unsupported if expectErr =>
            // an expected-error statement we can't run: harmless skip
            Unsupported(u.reason, mutating = false)
          case u => u
        })
      } else if (line.startsWith("query")) {
        val parts = line.split("\\s+").toList
        if (parts.length >= 2 && parts(1) == "error") {
          // the expected-error regex follows on the record line itself
          // (reference src/sqllogictest/src/parser.rs error records)
          val errTxt = line.stripPrefix("query").trim.stripPrefix("error").trim
          i += 1
          val sql = collectSql(_ => false)
          emit(if (skipNext) Unsupported("engine-conditioned record", mutating = false)
          else Query(shim(sql, crdb), "", "nosort", hasColnames = false,
            expectError = true, Nil, errorText = errTxt))
        } else {
          val types = parts.lift(1).getOrElse("")
          // options may be space- or comma-separated ("colnames,rowsort")
          val opts = parts.drop(2).flatMap(_.split(",")).map(_.trim)
          val sortMode =
            if (opts.contains("rowsort")) "rowsort"
            else if (opts.contains("valuesort")) "valuesort"
            else opts.find(_.startsWith("partialsort")).getOrElse("nosort")
          i += 1
          val sql =
            if (separatorAhead(i)) collectSqlUntilSeparator()
            else collectSql(_.trim == "----")
          val multiline = opts.contains("multiline")
          val expected = mutable.ListBuffer.empty[String]
          if (i < lines.length && lines(i).trim == "----") {
            i += 1
            if (multiline) {
              // multiline expected output is RAW text (blank lines included)
              // terminated by a line reading EOF (reference
              // src/sqllogictest/src/parser.rs EOF_REGEX)
              while (i < lines.length && lines(i).trim != "EOF") {
                expected += lines(i); i += 1
              }
              if (i < lines.length) i += 1 // consume EOF
            } else {
              while (i < lines.length && lines(i).trim.nonEmpty) {
                expected += lines(i); i += 1
              }
            }
          }
          emit(if (skipNext) Unsupported("engine-conditioned record", mutating = false)
          else Query(shim(sql, crdb), types, sortMode, opts.contains("colnames"),
            expectError = false, expected.toList, multiline))
        }
      } else i += 1 // stray line
    }
    out.toList
  }

  // ---------------- value canonicalization ----------------

  /** Canonical render of one cell so expected and actual compare as strings.
    * `t`: I (integer), R (real, compared at 6 decimals), T (text).
    * Booleans render pg-style (`true`/`false`) whatever the declared type —
    * the reference's runner does the same. */
  private def canonCell(t: Char, raw0: String): String = {
    // cockroach expected-output files mark literal spaces inside values
    // with U+2420 (SYMBOL FOR SPACE) so they survive whitespace splitting
    val raw = raw0.replace('␠', ' ')
    canonCellClean(t, raw)
  }

  private def canonCellClean(t: Char, raw: String): String = raw match {
    case "NULL" => "NULL"
    case "(empty)" => ""
    case "true" | "false" => raw
    case s => t match {
      // reference runner.rs format_datum: under Type::Integer a float
      // truncates toward zero and text renders "0" ("this is so wrong,
      // but sqlite needs it") — mirror it so both sides compare alike
      case 'I' => try s.trim.toLong.toString catch {
        case _: Exception =>
          try s.trim.toDouble.toLong.toString
          catch { case _: Exception => "0" }
      }
      case 'R' => try "%.3f".format(s.trim.toDouble) catch { case _: Exception => s }
      // midnight-timestamp ≡ date: pg date+interval yields a timestamp,
      // Spark yields a date — same value, presentation-level type gap.
      // Purely numeric T tokens canonicalize numerically: `mode standard`
      // renders floats %.3f and pg keeps numeric where Spark promotes to
      // double, so "3" / "3.0" / "3.000" must all compare equal.
      case _ =>
        // mz renders timestamptz in the UTC session zone with a "+00"
        // suffix; our rendering has no suffix — strip it from both sides
        val noZone = s.replaceAll("(\\d)\\+00$", "$1")
        val stripped = noZone.replaceAll(" 00:00:00$", "")
        if (stripped.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?"))
          try "%.3f".format(stripped.toDouble) catch { case _: Exception => stripped }
        else stripped
    }
  }

  /** pg-style interval text: "1 year 3 mons 2 days 00:01:00". */
  private def pgInterval(years: Long, mons: Long, days: Long, micros: Long): String = {
    val parts = mutable.ListBuffer.empty[String]
    def unit(n: Long, u: String): Unit =
      if (n != 0) parts += s"$n $u" + (if (math.abs(n) != 1) "s" else "")
    unit(years, "year"); unit(mons, "mon"); unit(days, "day")
    if (micros != 0 || parts.isEmpty) {
      val neg = micros < 0
      val us = math.abs(micros)
      val h = us / 3600000000L
      val m = (us % 3600000000L) / 60000000L
      val sec = (us % 60000000L) / 1000000L
      val frac = us % 1000000L
      val base = f"${if (neg) "-" else ""}$h%02d:$m%02d:$sec%02d"
      parts += (if (frac != 0)
        base + ("." + f"$frac%06d").replaceAll("0+$", "") else base)
    }
    parts.mkString(" ")
  }

  private def renderActual(t: Char, v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal =>
      if (t == 'R') "%.3f".format(d.doubleValue)
      else if (t == 'I') d.toBigInteger.toString
      else d.stripTrailingZeros.toPlainString
    case f: Float => renderActual(t, f.toDouble)
    case d: Double if d.isInfinite => if (d > 0) "inf" else "-inf" // pg spelling
    case d: Double =>
      if (t == 'R') "%.3f".format(d)
      else if (t == 'I' && d == d.floor) d.toLong.toString
      else d.toString
    case n: Number =>
      if (t == 'R') "%.3f".format(n.doubleValue) else n.toString
    case s: String =>
      // embedded newlines print as the corpus' visible marker (mz
      // sqllogictest renders multi-line cells with U+23CE); case-mangled
      // identifiers surface with their original spelling
      if (s.isEmpty) ""
      else unmangleCase(s).replace("\n", "\u23ce")
        .replaceAll(" 00:00:00$", "") // midnight ≡ date
    case seq: scala.collection.Seq[_] => // pg array literal form {a,b}
      seq.map { e =>
        val s = if (e == null) "NULL" else renderActual('T', e)
        // pg quotes an element that is empty, spells NULL, or contains a
        // delimiter/quote/backslash/whitespace — but a nested array (pg
        // multi-dim) embeds its {..} render bare
        if (e != null && !e.isInstanceOf[scala.collection.Seq[_]] &&
            (s.isEmpty || s.equalsIgnoreCase("null") ||
            s.exists(c => c == ',' || c == '"' || c == '\\' || c == '{' ||
              c == '}' || c.isWhitespace)))
          "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        else s
      }.mkString("{", ",", "}")
    case ts: java.sql.Timestamp => // pg prints no trailing fractional zeros
      ts.toString.replaceAll("(\\.\\d*?)0+$", "$1").stripSuffix(".")
        .replaceAll(" 00:00:00$", "")
    case d: java.sql.Date => d.toString
    case p: java.time.Period => // ANSI year-month interval → pg text
      pgInterval(p.getYears.toLong, p.getMonths.toLong, p.getDays.toLong, 0L)
    case d: java.time.Duration => // ANSI day-time interval → pg text
      val us = d.toNanos / 1000L
      if (us != 0 && us % 86400000000L == 0) // whole days render as "N days"
        pgInterval(0L, 0L, us / 86400000000L, 0L)
      else pgInterval(0L, 0L, 0L, us)
    case row: org.apache.spark.sql.Row
        if row.schema != null && row.length == 2 &&
          row.schema.fieldNames.sameElements(Array(
            graft.functions.GraftArrayFill.LB_FIELD,
            graft.functions.GraftArrayFill.DATA_FIELD)) =>
      // bounds-carrying array (array_fill with lower bounds): pg text
      // decorates non-default bounds as [l:u][l2:u2]={..}
      val lb = row.getSeq[Int](0)
      val data = row.get(1)
      // per-level extents off the (rectangular) nested value
      def extents(v: Any): List[Int] = v match {
        case s: scala.collection.Seq[_] =>
          s.length :: s.headOption.map(extents).getOrElse(Nil)
        case _ => Nil
      }
      val ext = extents(data)
      val deco =
        if (lb.forall(_ == 1) || ext.headOption.contains(0)) ""
        else lb.zip(ext).map { case (l, n) => s"[$l:${l + n - 1}]" }.mkString + "="
      deco + renderActual(t, data)
    case row: org.apache.spark.sql.Row => pgRecord(row)
    case b: Array[Byte] =>
      // bytea in a text column: valid UTF-8 renders as its text, anything
      // else as the byte-list debug form — cockroach-logictest convention
      // the reference runner follows (sqllogictest/src/runner.rs:760-764)
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try dec.decode(java.nio.ByteBuffer.wrap(b)).toString
      catch { case _: java.nio.charset.CharacterCodingException =>
        b.map(x => (x & 0xff).toString).mkString("[", ", ", "]") }
    case other => other.toString
  }

  /** pg composite/record literal text: `(1,2,hello,,)` — NULL renders
    * empty, booleans t/f, nested records quoted when they contain
    * delimiters. */
  /** pg float8/float4 TEXT output under `extra_float_digits` (simple
    * protocol; reference float_out / pg float8out): efd > 0 → shortest
    * round-trippable digits with pg's scientific-notation placement
    * (fixed for decimal exponent in [-4, 14], else `de+XX`); efd <= 0 →
    * C `%.{N+efd}g` semantics (trailing zeros stripped), clamped to one
    * significant digit. */
  private[slt] def pgFloatText(d: Double, efd: Int, float4: Boolean = false): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "Infinity" else "-Infinity"
    if (efd > 0) {
      if (d == 0.0) return "0"
      // shortest repr from the JVM, re-laid-out under pg's placement rule
      val repr = if (float4) d.toFloat.toString else d.toString
      val bd = new java.math.BigDecimal(repr).stripTrailingZeros
      val neg = bd.signum < 0
      val ds = bd.unscaledValue.abs.toString
      val e10 = bd.precision - bd.scale - 1
      val sign = if (neg) "-" else ""
      if (e10 >= -4 && e10 <= 14) {
        // fixed notation
        if (e10 >= ds.length - 1) sign + ds + "0" * (e10 - ds.length + 1)
        else if (e10 >= 0) sign + ds.take(e10 + 1) + "." + ds.drop(e10 + 1)
        else sign + "0." + "0" * (-e10 - 1) + ds
      } else {
        val m2 = if (ds.length == 1) ds else ds.take(1) + "." + ds.drop(1)
        f"$sign$m2%se${if (e10 < 0) "-" else "+"}${math.abs(e10)}%02d"
      }
    } else {
      val sig = math.max(1, (if (float4) 6 else 15) + efd)
      val g = String.format(s"%.${sig}g", Double.box(d))
      // C %g strips trailing zeros; Java does not — normalize, and compact
      // the exponent ("1.0000e+02" → "1e+02")
      g.split("[eE]") match {
        case Array(m) =>
          if (m.contains('.')) m.replaceAll("0+$", "").stripSuffix(".") else m
        case Array(m, e) =>
          val m2 = if (m.contains('.'))
            m.replaceAll("0+$", "").stripSuffix(".") else m
          val ei = e.toInt
          f"${m2}e${if (ei < 0) "-" else "+"}${math.abs(ei)}%02d"
      }
    }
  }

  private def pgRecord(row: org.apache.spark.sql.Row): String =
    (0 until row.length).map { i =>
      val raw = row.get(i)
      val v = raw match {
        case null => ""
        case b: Boolean => if (b) "t" else "f"
        case r: org.apache.spark.sql.Row => pgRecord(r)
        case other => renderActual('T', other)
      }
      // pg record_out quotes an element that is an empty string or
      // contains ( ) , " \ or whitespace (incl. the newline the renderer
      // has already folded to U+23CE)
      if (raw != null && (v.isEmpty ||
          v.exists(c => ",()\"\\⏎".contains(c) || c.isWhitespace)))
        "\"" + v.replace("\\", "\\\\").replace("\"", "\"\"") + "\""
      else v
    }.mkString("(", ",", ")")

  /** Split one expected line into `n` cells (cockroach row-per-line mode):
    * try single-space tokens, then 2+-space alignment, else whole line. */
  /** True iff the query text has an ORDER BY outside every parenthesis and
    * string literal — the only position where SQL defines output order. */
  private[slt] def hasTopLevelOrderBy(sql: String): Boolean = {
    val top = new StringBuilder
    var depth = 0
    var inStr = false
    sql.foreach { c =>
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true; ()
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => if (depth == 0) top.append(c)
      }
    }
    "(?i)\\border\\s+by\\b".r.findFirstIn(top.toString).isDefined
  }

  /** Start offset of the first `kw` match at paren-depth 0 outside string
    * literals, or -1. */
  private def topLevelIndexOf(sql: String, kw: Regex, from: Int = 0): Int = {
    var depth = 0
    var inStr = false
    var i = 0
    val depthAt = new Array[Int](sql.length + 1)
    while (i < sql.length) {
      depthAt(i) = if (inStr) Int.MaxValue else depth
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    kw.findAllMatchIn(sql).find(m => m.start >= from && depthAt(m.start) == 0)
      .map(_.start).getOrElse(-1)
  }

  /** pg names an unaliased function-call output column after the FUNCTION
    * (reference behavior: `SELECT lead(x) OVER (..) FROM t ORDER BY lead`
    * orders by that output column; Spark names the column from the full
    * expression text, so the bare name fails to resolve). Rescue rewrite:
    * when a top-level ORDER BY item is a bare identifier matching exactly
    * one unaliased `ident(...)` select item, alias that item with the
    * identifier. Returns None when nothing applies. */
  private[slt] def aliasImplicitFnNames(sql: String): Option[String] = {
    val obAt = topLevelIndexOf(sql, """(?i)\bORDER\s+BY\b""".r)
    if (obAt < 0) return None
    val selAt = topLevelIndexOf(sql, """(?i)\bSELECT\b""".r)
    if (selAt < 0 || selAt > obAt) return None
    var fromAt = topLevelIndexOf(sql, """(?i)\bFROM\b""".r, selAt)
    if (fromAt < 0 || fromAt > obAt) fromAt = obAt
    val obTail = sql.substring(obAt).replaceFirst("""(?is)^ORDER\s+BY""", "")
    val obBody = sql.substring(obAt) match { case _ =>
      val t = obTail.takeWhile(c => c != ';')
      val cut = topLevelIndexOf(t, """(?i)\b(LIMIT|OFFSET|FETCH)\b""".r)
      if (cut >= 0) t.substring(0, cut) else t
    }
    val wanted: List[String] = splitTopLevel(obBody, ',').flatMap { item =>
      """(?is)^\s*([A-Za-z_]\w*)\s*(?:ASC|DESC|NULLS\s+\w+|\s)*$""".r
        .findFirstMatchIn(item).map(_.group(1).toLowerCase)
    }.distinct
    if (wanted.isEmpty) return None
    val selHead = sql.substring(selAt + 6)
    val listLen = fromAt - (selAt + 6)
    val selList = selHead.substring(0, listLen)
    val items = splitTopLevel(selList, ',')
    var changed = false
    val newItems = items.map { it => it } .toArray
    wanted.foreach { n =>
      // skip when some item already carries the name (alias or bare column)
      val taken = items.exists { it =>
        val t = it.trim.toLowerCase
        t == n || t.endsWith(" " + n) || t.endsWith("\"" + n + "\"")
      }
      val hits = items.zipWithIndex.filter { case (it, _) =>
        val t = it.trim
        t.toLowerCase.startsWith(n + "(") || t.toLowerCase.startsWith(n + " (") ||
          t.toLowerCase.matches("(?s)^" + java.util.regex.Pattern.quote(n) + "\\s*\\(.*")
      }.filter(_._1.trim.endsWith(")"))
      if (!taken && hits.length == 1) {
        val (it, idx) = hits.head
        newItems(idx) = it + " AS " + n
        changed = true
      }
    }
    if (!changed) None
    else Some(sql.substring(0, selAt + 6) + newItems.mkString(",") + " " +
      sql.substring(fromAt))
  }

  /** When EVERY top-level ORDER BY item is an output column (bare name,
    * unique case-insensitive match, or ordinal), return their 0-based
    * indexes — the key prefix that SQL guarantees; tie order within equal
    * keys is engine-defined. None when any item is an expression or
    * resolves outside the output list. */
  private def orderByOutputCols(sql: String, cols: Array[String]): Option[List[Int]] = {
    val obAt = topLevelIndexOf(sql, """(?i)\bORDER\s+BY\b""".r)
    if (obAt < 0) return None
    val tail0 = sql.substring(obAt).replaceFirst("""(?is)^ORDER\s+BY""", "")
    val tail1 = tail0.takeWhile(c => c != ';')
    val cut = topLevelIndexOf(tail1, """(?i)\b(LIMIT|OFFSET|FETCH)\b""".r)
    val body = if (cut >= 0) tail1.substring(0, cut) else tail1
    val lower = cols.map(_.toLowerCase)
    val items = splitTopLevel(body, ',')
    if (items.isEmpty) return None
    val ix = items.map { item =>
      """(?is)^\s*("?[A-Za-z_]\w*"?|\d+)\s*(?:ASC|DESC|NULLS\s+\w+|\s)*$""".r
        .findFirstMatchIn(item).flatMap { m =>
          val t = m.group(1).stripPrefix("\"").stripSuffix("\"")
          if (t.forall(_.isDigit)) {
            val i = t.toInt - 1
            if (i >= 0 && i < cols.length) Some(i) else None
          } else {
            val hits = lower.zipWithIndex.filter(_._1 == t.toLowerCase)
            if (hits.length == 1) Some(hits.head._2) else None
          }
        }
    }
    if (ix.forall(_.isDefined)) Some(ix.flatten) else None
  }

  private def splitExpected(line: String, n: Int): Option[List[String]] = {
    if (n == 1) return Some(List(line.trim))
    val t1 = line.trim.split("\\s+").toList
    if (t1.length == n) return Some(t1)
    val t2 = line.trim.split("\\s{2,}").toList
    if (t2.length == n) return Some(t2)
    if (t1.length > n) Some(t1.take(n - 1) :+ t1.drop(n - 1).mkString(" ")) else None
  }

  // ---------------- SUBSCRIBE one-shot emulation ----------------

  /** Parsed SUBSCRIBE statement (reference
    * `src/sql/src/plan/statement/dml.rs` plan_subscribe; clause grammar
    * `doc/user/content/sql/subscribe.md`). In the SLT one-shot setting a
    * subscription is its SNAPSHOT: every row stamped at the constant-query
    * timestamp (u64::MAX — the reference's timestamp for constant
    * dataflows), mz_diff = 1. */
  private[slt] final case class SubscribeSpec(
      body: String,
      progress: Boolean,
      envelope: Option[(String, Seq[String])],
      within: Option[String],
      asOf: Option[String],
      upTo: Option[String])

  private[slt] val SubscribeTsMax = "18446744073709551615"

  /** Parse `SUBSCRIBE [TO] (query)|relation [WITH (...)] [ENVELOPE ...]
    * [WITHIN TIMESTAMP ORDER BY ...] [AS OF [AT LEAST] e] [UP TO e]`
    * with the trailing clauses in any order. None = not a SUBSCRIBE or a
    * shape this emulation doesn't model. */
  private[slt] def parseSubscribe(sql0: String): Option[SubscribeSpec] = {
    val m = """(?is)^\s*SUBSCRIBE\s+(?:TO\s+)?(.*?);?\s*$""".r
      .findFirstMatchIn(sql0).getOrElse(return None)
    var rest = m.group(1).trim
    var body: String = null
    if (rest.startsWith("(")) {
      var depth = 0; var i = 0; var end = -1; var inQ = false
      while (i < rest.length && end < 0) {
        val c = rest.charAt(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ => ()
        }
        i += 1
      }
      if (end < 0) return None
      body = rest.substring(1, end).trim
      rest = rest.substring(end + 1).trim
    } else {
      val rm = """^("[^"]+"|[\w.]+)""".r.findFirstMatchIn(rest).getOrElse(return None)
      body = s"SELECT * FROM ${rm.group(1)}"
      rest = rest.substring(rm.group(1).length).trim
    }
    var progress = false
    var envelope: Option[(String, Seq[String])] = None
    var within: Option[String] = None
    var asOf: Option[String] = None
    var upTo: Option[String] = None
    val WithOpts = """(?is)^WITH\s*\(([^)]*)\)\s*(.*)$""".r
    val Envelope =
      """(?is)^ENVELOPE\s+(UPSERT|DEBEZIUM)\s*\(\s*KEY\s*\(([^)]*)\)\s*\)\s*(.*)$""".r
    val Within =
      """(?is)^WITHIN\s+TIMESTAMP\s+ORDER\s+BY\s+(.*?)\s*((?:AS\s+OF|UP\s+TO|WITH\s*\(|ENVELOPE\s).*)?$""".r
    val AsOf =
      """(?is)^AS\s+OF\s+(?:AT\s+LEAST\s+)?(.*?)\s*((?:UP\s+TO|WITH\s*\(|ENVELOPE\s|WITHIN\s).*)?$""".r
    val UpTo =
      """(?is)^UP\s+TO\s+(.*?)\s*((?:AS\s+OF|WITH\s*\(|ENVELOPE\s|WITHIN\s).*)?$""".r
    var guard = 0
    while (rest.nonEmpty && guard < 8) {
      guard += 1
      rest match {
        case WithOpts(opts, tail) =>
          opts.split(",").map(_.trim.toUpperCase).foreach { o =>
            if (o.startsWith("PROGRESS")) progress = true
          }
          rest = tail.trim
        case Envelope(kind, keyList, tail) =>
          // unquoted identifiers fold to lowercase (the reference's
          // normalization before the duplicate-key check)
          val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty).map { k =>
            if (k.startsWith("\"")) k.stripPrefix("\"").stripSuffix("\"")
            else k.toLowerCase
          }.toSeq
          envelope = Some((kind.toUpperCase, keys))
          rest = tail.trim
        case Within(items, tail) =>
          within = Some(items.trim)
          rest = Option(tail).map(_.trim).getOrElse("")
        case AsOf(e, tail) =>
          asOf = Some(e.trim)
          rest = Option(tail).map(_.trim).getOrElse("")
        case UpTo(e, tail) =>
          upTo = Some(e.trim)
          rest = Option(tail).map(_.trim).getOrElse("")
        case _ => return None
      }
    }
    if (rest.nonEmpty) None
    else Some(SubscribeSpec(body, progress, envelope, within, asOf, upTo))
  }

  /** The reference's AS OF / UP TO rejections (plan_as_of,
    * `src/sql/src/plan/query.rs`): the bound must be castable to a
    * NON-NULL mz_timestamp (u64), and unmaterializable functions are
    * unsupported. None = valid. */
  private def subscribeTsError(expr0: String): Option[String] = {
    val e = expr0.trim.stripSuffix(";").trim
    val castable =
      "AS OF or UP TO should be castable to a (non-null) mz_timestamp value"
    if (e.isEmpty) return Some(castable)
    val lower = e.toLowerCase
    if ("""[a-z_][\w.]*\s*\(""".r.findFirstIn(lower).isDefined)
      return Some(
        "calling an unmaterializable function in AS OF or UP TO not yet supported")
    if (lower.startsWith("null")) return Some(castable)
    val base = e.split("::")(0).trim
    val t = base.stripPrefix("'").stripSuffix("'").trim
    if (t.matches("\\d+") &&
        BigInt(t) <= BigInt("18446744073709551615")) None
    else Some(castable)
  }

  /** Raise the reference's rejection for an invalid SUBSCRIBE spec; no-op
    * when valid. Checked at FETCH for cursors (the reference defers
    * envelope validation to execution) and at execution for direct
    * SUBSCRIBEs. */
  private[slt] def subscribeValidate(spec: SubscribeSpec): Unit = {
    spec.envelope.foreach { case (_, keys) =>
      val dup = keys.diff(keys.distinct).headOption
      dup.foreach { d =>
        throw new IllegalStateException(
          s"""column "$d" appears more than once in SUBSCRIBE ENVELOPE KEY clause""")
      }
    }
    spec.asOf.foreach(e => subscribeTsError(e).foreach(msg =>
      throw new IllegalStateException(msg)))
    spec.upTo.foreach(e => subscribeTsError(e).foreach(msg =>
      throw new IllegalStateException(msg)))
    (spec.asOf, spec.upTo) match {
      case (Some(a), Some(u)) if BigInt(numOf(a)) > BigInt(numOf(u)) =>
        // the constant one-shot's CHOSEN lower bound is u64::MAX — the
        // reference reports the chosen value, not the requested one
        throw new IllegalStateException(
          "subscription lower bound (`AS OF`) is greater than its upper " +
            s"bound (`UP TO`): $SubscribeTsMax > ${numOf(u)}")
      case _ => ()
    }
  }

  private def numOf(e: String): String =
    e.trim.split("::")(0).trim.stripPrefix("'").stripSuffix("'").trim

  /** `SUBSCRIBE <temporal view> AS OF 0`: the replay-from-zero frame stamps
    * each row at its ACTIVATION time — the lower-bound expr of its
    * `mz_now() >= e` conjunct (reference temporal filters,
    * `src/expr/src/linear.rs` lower_bounds) — with the conjunct itself
    * removed (every activation from time 0 is in the replay). None when the
    * body has no lower-bound temporal filter, or a shape (upper bounds,
    * non-output bound refs) this one-shot emulation can't stamp honestly. */
  private def temporalActivationStamp(spark: SparkSession,
      df: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LogicalPlan, Project, Sort, SubqueryAlias, View}
    import org.apache.spark.sql.types.DecimalType
    def isMzRaw(e: Expression): Boolean =
      e.isInstanceOf[graft.functions.SessionIdentity.MzNowExpression]
    def unwrap(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => unwrap(c)
      case o => o
    }
    def isMz(e: Expression): Boolean = isMzRaw(unwrap(e))
    val plan = df.queryExecution.analyzed
    if (!plan.exists(_.expressions.exists(_.exists(isMzRaw)))) return None
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    // thread the per-row activation (`greatest` of the lower bounds) up
    // from the temporal Filter through the Project/alias chain to the top
    var bad = false
    def thread(p: LogicalPlan): (LogicalPlan, Option[Attribute]) = p match {
      case f @ Filter(cond, child) if cond.exists(isMzRaw) =>
        var lowers = List.empty[Expression]
        val (temporal, rest) = conjuncts(cond).partition(_.exists(isMzRaw))
        temporal.foreach {
          case GreaterThanOrEqual(l, r) if isMz(l) && !r.exists(isMzRaw) =>
            lowers ::= r
          case LessThanOrEqual(l, r) if isMz(r) && !l.exists(isMzRaw) =>
            lowers ::= l
          case _ => bad = true
        }
        if (bad || lowers.isEmpty) { bad = true; (f, None) }
        else {
          val casted = lowers.reverse.map(l => Cast(l, DecimalType(20, 0)))
          val ts = Alias(
            if (casted.size == 1) casted.head else Greatest(casted),
            "__graft_activates")()
          val base = rest.reduceOption(And).map(Filter(_, child)).getOrElse(child)
          (Project(child.output :+ ts, base), Some(ts.toAttribute))
        }
      case pr @ Project(list, child) =>
        val (nc, attr) = thread(child)
        attr match {
          case Some(a) => (Project(list :+ a, nc), Some(a))
          case None => (pr, None)
        }
      case sa: SubqueryAlias =>
        val (nc, attr) = thread(sa.child)
        attr match {
          case Some(_) => (sa.copy(child = nc), attr)
          case None => (sa, None)
        }
      case v: View =>
        // the View marker pins a fixed output — inline its child to carry
        // the threaded activation column through
        thread(v.child)
      case f @ Filter(cond, child) =>
        val (nc, attr) = thread(child)
        attr match {
          case Some(_) => (Filter(cond, nc), attr)
          case None => (f, None)
        }
      case other => (other, None)
    }
    val (threaded, attrOpt) = thread(plan)
    val attr = attrOpt.getOrElse(return None)
    if (bad) return None
    if (threaded.exists(_.expressions.exists(_.exists(isMzRaw)))) return None
    val tsAlias = Alias(attr, graft.streaming.Subscribe.TsCol)()
    val diffAlias = Alias(Literal(1L), graft.streaming.Subscribe.DiffCol)()
    val dataCols = threaded.output.filterNot(_.exprId == attr.exprId)
    val proj = Project(Seq(tsAlias, diffAlias) ++ dataCols, threaded)
    val sorted = Sort(Seq(SortOrder(tsAlias.toAttribute, Ascending)),
      global = true, proj)
    scala.util.Try(
      org.apache.spark.sql.GraftPlanBridge.ofRows(spark, sorted)).toOption
  }

  /** Materialize the one-shot snapshot:
    * `(mz_timestamp [, mz_progressed] , mz_diff | mz_state envelope
    * columns..., row...)` — the FETCH/query presentation shape. */
  private[slt] def subscribeSnapshotDf(spark: SparkSession,
      spec: SubscribeSpec): DataFrame = {
    subscribeValidate(spec)
    import org.apache.spark.sql.functions._
    val base = spark.sql(spec.body)
    val ts = lit(new java.math.BigDecimal(SubscribeTsMax))
      .cast(org.apache.spark.sql.types.DecimalType(20, 0))
    val stamped = (if (spec.asOf.exists(a => numOf(a) == "0"))
      temporalActivationStamp(spark, base) else None) match {
      case Some(t) => t
      case None =>
        // an AS OF replay over a temporal body this stamping can't model
        // must SKIP, not present clock-filtered rows at the wrong ts
        if (spec.asOf.isDefined && scala.util.Try(base.queryExecution.analyzed
            .exists(_.expressions.exists(_.exists(
              _.isInstanceOf[graft.functions.SessionIdentity.MzNowExpression]))))
            .getOrElse(false))
          throw new DialectSkip("SUBSCRIBE AS OF over unsupported temporal shape")
        base.select(
          (ts.as(graft.streaming.Subscribe.TsCol) +:
            lit(1L).as(graft.streaming.Subscribe.DiffCol) +:
            base.columns.toIndexedSeq.map(c => col(s"`$c`"))): _*)
    }
    val shaped = spec.envelope match {
      case None => stamped
      case Some((kind, keys)) =>
        if (kind == "UPSERT") graft.sql.SubscribeEnvelope.upsert(stamped, keys)
        else graft.sql.SubscribeEnvelope.debezium(stamped, keys)
    }
    val ordered = spec.within match {
      case Some(items) =>
        graft.sql.SubscribeEnvelope.withinTimestampOrder(shaped, items)
      case None => shaped
    }
    val renamed = ordered.withColumnRenamed(
      graft.streaming.Subscribe.TsCol, "mz_timestamp")
    if (!spec.progress) renamed
    else {
      val cols = renamed.columns.toIndexedSeq
      renamed.select(
        (col(s"`${cols.head}`") +: lit(false).as("mz_progressed") +:
          cols.tail.map(c => col(s"`$c`"))): _*)
    }
  }

  // ---------------- execution ----------------

  /** pg WHOLE-ROW references: a bare relation/alias name in a VALUE
    * position (`SELECT t FROM t`, `SELECT (SELECT v) FROM v`) denotes the
    * row as a RECORD (pg 8.16.5; reference record-star planning,
    * src/sql/src/plan/query.rs). Spark has no whole-row variable — retry
    * with the unresolved name expanded to `struct(name.*)`. */
  /** pg allows a qualified star in SCALAR position (`CASE .. ELSE t.* END`
    * is the whole-row record, reference src/sql/src/plan/query.rs record
    * flattening; corpus github-2996.slt). Spark rejects with
    * INVALID_USAGE_OF_STAR_OR_REGEX — wrap non-select-item `alias.*` uses
    * as `struct(alias.*)`, whose Row output renders as the pg record. */
  private def starScalarRetry(spark: SparkSession, sql: String): Option[DataFrame] = {
    val re = """\b([A-Za-z_]\w*)\s*\.\s*\*""".r
    var changed = false
    val out = re.replaceAllIn(sql, m => {
      if (insideLiteral(sql, m.start)) Regex.quoteReplacement(m.matched)
      else {
        val rest = sql.substring(m.end).dropWhile(_.isWhitespace)
        // a star-EXPANSION use is followed by `,`, FROM, or ends the text;
        // anything else (END, `)`, an operator) is scalar position
        val standalone = rest.isEmpty || rest.startsWith(",") ||
          rest.toUpperCase.startsWith("FROM")
        if (standalone) Regex.quoteReplacement(m.matched)
        else { changed = true; Regex.quoteReplacement(s"struct(${m.group(1)}.*)") }
      }
    })
    if (!changed) None else scala.util.Try(spark.sql(out)).toOption
  }

  private def wholeRowRetry(spark: SparkSession, sql: String,
      errMsg: String): Option[DataFrame] = {
    val name = """`(\w+)`""".r.findFirstMatchIn(errMsg)
      .map(_.group(1)).getOrElse(return None)
    // the name must actually be a FROM-position relation or alias
    if (!(s"""(?is)\\b(?:FROM|JOIN)\\s+(?:["`]?$name["`]?|\\S+\\s+(?:AS\\s+)?["`]?$name["`]?)\\s*(?:[,;)\\s]|$$)""").r
          .findFirstIn(sql).isDefined) return None
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    var changed = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { sb += c; if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb += c; inQ = true; i += 1 }
      else if (sql.regionMatches(true, i, name, 0, name.length) &&
          (i == 0 || (!isWordChar(sql.charAt(i - 1)) && sql.charAt(i - 1) != '.' &&
            sql.charAt(i - 1) != '"')) &&
          (i + name.length >= sql.length ||
            (!isWordChar(sql.charAt(i + name.length)) &&
             sql.charAt(i + name.length) != '.' &&
             sql.charAt(i + name.length) != '(' &&
             sql.charAt(i + name.length) != '"'))) {
        // skip FROM/JOIN positions and alias definitions — only VALUE uses
        val before = sb.toString
        val prevWord = """(?is).*?(\w+)\s*$""".r.findFirstMatchIn(before)
          .map(_.group(1).toUpperCase).getOrElse("")
        if (prevWord == "FROM" || prevWord == "JOIN" || prevWord == "AS" ||
            prevWord == "TABLE" || prevWord == "INTO" || prevWord == "UPDATE") {
          sb ++= sql.substring(i, i + name.length)
        } else {
          sb ++= s"struct($name.*)"
          changed = true
        }
        i += name.length
      } else { sb += c; i += 1 }
    }
    if (!changed) None
    else scala.util.Try(spark.sql(sb.toString)).toOption
  }

  /** pg relation aliases may list a PREFIX of the columns
    * (`FROM abc AS foo (foo1)` renames the first column only; the rest
    * keep their own names — pg 7.2.1.2). Spark requires the full list —
    * extend each short list with the relation's remaining column names. */
  private def partialAliasRetry(spark: SparkSession,
      sql: String): Option[DataFrame] = {
    val Pat = """(?i)\b(FROM|JOIN|,)\s+["`]?(\w+)["`]?\s+(?:AS\s+)?(\w+)\s*\(([\w\s,"`]+?)\)""".r
    var changed = false
    val out = Pat.replaceAllIn(sql, m => {
      val rel = m.group(2)
      val given = splitTopLevel(m.group(4), ',').map(_.trim).filter(_.nonEmpty)
      val full = try spark.table(rel).schema.fieldNames.toSeq
        catch { case _: Throwable => Seq.empty }
      if (full.nonEmpty && given.size < full.size &&
          given.forall(_.matches("[\\w\"`]+"))) {
        changed = true
        val rest = full.drop(given.size).map(n => s"`$n`")
        Regex.quoteReplacement(
          s"${m.group(1)} $rel AS ${m.group(3)} (${(given ++ rest).mkString(", ")})")
      } else Regex.quoteReplacement(m.matched)
    })
    if (!changed) None
    else scala.util.Try(spark.sql(out)).toOption
  }

  /** pg names VALUES-derived columns column1..N; Spark col1..N. The
    * same-statement rewrite can't see a VALUES-backed VIEW's body, so a
    * later statement referencing its pg column names fails analysis —
    * retry with the Spark spellings. */
  private def valuesColumnRetry(spark: SparkSession, sql: String): Boolean = {
    // literal-aware: 'columnN' inside a string literal is DATA, not a
    // reference — rewriting it would corrupt the statement's values
    val re = rewriteOutsideLits(sql)(seg =>
      """(?i)\bcolumn(\d+)\b""".r.replaceAllIn(seg, "col$1"))
    if (re == sql) return false
    try { spark.sql(re).collect(); true } catch { case _: Throwable => false }
  }

  /** Split a compound statement on top-level semicolons (outside quotes). */
  private def splitStatements(sql: String): Seq[String] = {
    val out = mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    sql.foreach {
      case '\'' => inQ = !inQ; cur.append('\'')
      case ';' if !inQ => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def runFile(spark: SparkSession, path: String): Report = {
    val crdb = path.contains("cockroach")
    // pg reads "x" as an IDENTIFIER, not a string — align Spark's parser
    // for the corpus run (restored afterwards; SLT SQL uses '' for strings)
    val dqKey = "spark.sql.ansi.doubleQuotedIdentifiers"
    // pg is standard-conforming: backslashes in '...' literals are literal
    // characters, not escapes (the reference inherits this; Spark's default
    // parser processes C-style escapes and silently corrupts regex/format
    // strings like '\"' or '\d')
    val escKey = "spark.sql.parser.escapedStringLiterals"
    // pg numeric-cast semantics (round + range errors) are a DIALECT
    // opt-in: Spark API users keep Spark's truncating cast (the Verify
    // harness pairs `col.cast("long")` with `CAST(trunc(..))` oracles)
    val pgCastKey = "spark.graft.pgNumericCasts"
    val dqPrev = spark.conf.getOption(dqKey)
    val escPrev = spark.conf.getOption(escKey)
    val pgcPrev = spark.conf.getOption(pgCastKey)
    spark.conf.set(dqKey, "true")
    spark.conf.set(escKey, "true")
    spark.conf.set(pgCastKey, "true")
    try runFileInner(spark, path, crdb)
    finally {
      dqPrev match {
        case Some(v) => spark.conf.set(dqKey, v)
        case None => spark.conf.unset(dqKey)
      }
      escPrev match {
        case Some(v) => spark.conf.set(escKey, v)
        case None => spark.conf.unset(escKey)
      }
      pgcPrev match {
        case Some(v) => spark.conf.set(pgCastKey, v)
        case None => spark.conf.unset(pgCastKey)
      }
    }
  }

  private def runFileInner(spark: SparkSession, path: String, crdb: Boolean): Report = {
    clearRangeColumns() // fresh logical namespace per file
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
      .asScala.toArray
    val records = parse(lines, crdb)
    var passed, failed, skipped = 0
    var poisoned = false
    val failures = mutable.ListBuffer.empty[String]
    val name = Paths.get(path).getFileName.toString

    def isDialectError(e: Throwable): Boolean = {
      val cn = e.getClass.getName.toLowerCase
      val msg = Option(e.getMessage).getOrElse("")
      e.isInstanceOf[DialectSkip] ||
        cn.contains("parse") || cn.contains("analysis") || cn.contains("nosuch") ||
        // parser/analyzer recursion depth on pathological inputs (the
        // reference tests its own recursion_limit here) — an engine limit,
        // not a wrong answer
        cn.contains("stackoverflow") ||
        msg.contains("COLLATION") ||
        // ANSI overflow: the reference auto-widens sum(int8) to numeric
        cn.contains("arithmetic") ||
        // pg numeric admits NaN/Infinity; Spark's decimal cast raises a
        // number-format error — the engine can't hold the value at all
        cn.contains("numberformat") ||
        // runtime datetime cast rejections (pg's literal formats are looser)
        cn.contains("datetime") ||
        // Catalyst limitations on deeply-correlated subqueries
        msg.contains("INTERNAL_ERROR") || msg.contains("STAGE_MATERIALIZATION") ||
        msg.contains("UNSUPPORTED") ||
        // Spark's interval literal grammar is narrower than pg's text forms
        msg.contains("INVALID_INTERVAL_FORMAT") ||
        (e.getCause != null && isDialectError(e.getCause))
    }

    // star expansion order for USING/NATURAL joins is dialect-defined (pg
    // puts the join columns first and merges them); values then disagree
    // positionally
    def dialectDefinedShape(sql: String): Boolean = {
      // Measured (r12): Spark 4's star expansion for USING/NATURAL joins
      // matches pg for every variant probed — join columns once (coalesced
      // for outer joins), then left remainder, then right — including
      // RIGHT/FULL and USING chains. The former blanket skip of those
      // shapes is retired; true residual diffs classify individually.
      false
    }

    // Documented semantic differences between the pg dialect and Spark —
    // skipped (never passed) with the reason recorded here:
    val knownDialectDiffs: List[(String, Regex, String)] = List(
      ("numeric.slt",
        """(?i)::\s*DECIMAL\(38,(\d+)\)\s*(?:<=|>=|<|>)\s*[\d.]+\s*::\s*DECIMAL\(38,(?!\1\))\d+\)""".r,
        "mixed-typmod numeric comparison: mz compares the typmod-rounded " +
          "values, Spark rescales operands to a common scale first"),
      ("list.slt",
        """(?i)mz_list_tag\(array\([\d.]+\s*::\s*DECIMAL\s*\(\s*38\s*,\s*\d+\s*\)""".r,
        "list elements keep per-value numeric scale in mz; Spark array " +
          "element types unify to one decimal scale"),
      (".*",
        """(?is)\bLATERAL\s*\(.*\bOVER\s*\(\s*\)""".r,
        "row numbering over an UNORDERED window inside a correlated " +
          "subquery is engine-defined; decorrelation re-partitions, so " +
          "Spark's encounter order differs from the reference's input order"),
      (".*",
        """(?i)pg_oid\s*\(\s*pg_regclass\s*\(\s*'[^']*[A-Za-z_]|'[^']*[A-Za-z_][^']*'\s*::\s*regclass\s*::\s*oid|pg_regclass\s*\(\s*'[^']*[A-Za-z_][^']*'\s*\)\s*::\s*oid""".r,
        "a name-resolved regclass oid RENDERS mz's allocation-order id " +
          "(emulated oids only join consistently, their values differ)"),
      ("regtype.slt",
        """(?i)VALUES\s*\(\s*pg_regtype\s*\(""".r,
        "a regtype VALUE loses its name identity through a relation " +
          "(the engine stores the oid; text coercion renders the number)"),
      ("pgoidtype.slt",
        """(?i)\brelname\b[\s\S]*pg_regclass\s*\(""".r,
        "quoted mixed-case relation names fold to lowercase in the Spark " +
          "catalog; pg_class.relname renders the folded spelling"),
      ("subquery_correlated.slt",
        """(?i)\(\s*NULL\s*,\s*NULL\s*\)\s*IN\s*\(|WHERE\s+a\s*>\s*i\s+OR\s+a\s+IS\s+NULL""".r,
        "pg row-IN with NULL fields yields NULL; Spark's struct IN " +
          "compares null-safe and yields false"),
      (".*",
        """(?i)\bSHOW\s+CREATE\b[\s\S]*\bgfts\d+_""".r,
        "SHOW CREATE of a schema-qualified relation renders the reference's " +
          "materialize.<schema>.<name>; the flattened emulation name differs"),
      ("outer_join.slt",
        """(?i),\s*LATERAL\s*\(SELECT[^)]*\)\s*\w*\s+NATURAL\s+RIGHT\s+JOIN""".r,
        "pg binds JOIN tighter than comma: 'a, b NATURAL RIGHT JOIN c' " +
          "right-joins only b; Spark's FROM list folds left-to-right so the " +
          "whole product becomes the join's left side"),
      ("unsigned_int.slt",
        """(?i)\bVAR_POP\(a\)\s+FROM\s+t[48]\b""".r,
        "mz computes variance over arbitrary-precision numeric; Spark " +
          "aggregates in double (last digits differ at uint4/8 magnitudes)"),
      ("jsonb.slt|json.slt|json_builtins.slt|postgres_jsonb.slt",
        """(?i)'NaN'\s*::\s*DECIMAL""".r,
        "pg numeric NaN has no Spark decimal analog"),
      ("jsonb.slt|json.slt|json_builtins.slt",
        """(?i)'[\d:.]+'\s*::\s*interval""".r,
        "pg HH:MM:SS interval literals don't parse as Spark intervals"),
      ("list.slt|map.slt",
        """(?i)::\s*boolean\s*::""".r,
        "these files CREATE TYPE bool (a custom LIST type shadowing the " +
          "builtin); custom type DDL has no Spark analog"),
      ("type-promotion.slt",
        """(?i)'\d{4} \d{2}-\d{2}[^']*'\s*::\s*timestamp""".r,
        "pg's timestamp parser accepts 'YYYY MM-DD' mixed separators; " +
          "Spark's does not"),
      ("funcs.slt",
        """(?i)(?:pg_)?date_trunc\s*\(\s*'(?:decade|century|millennium)'\s*,\s*TIMESTAMP\s*'000[12]-01-01[^']*'\s*-\s*INTERVAL""".r,
        "pg renders BC-era timestamps; Spark's timestamp range starts at " +
          "0001-01-01 with no era suffix"),
      ("dates-times.slt|type-promotion.slt",
        """(?i)pg_time\([^)]*\)\s*::\s*interval""".r,
        "pg time-to-interval cast has no analog on the string time " +
          "representation"),
      ("time.slt",
        """(?i)(date_trunc\s*\(\s*'[^']*'\s*,\s*pg_time|'\s*::\s*interval\b)""".r,
        "date_trunc / interval arithmetic on pg `time` has no analog on " +
          "the normalized-string time representation"),
      ("arrays.slt",
        """(?i)array\(NULL\)\s*::\s*array""".r,
        "pg array comparison orders NULL elements LAST (greater); Spark's " +
          "array ordering puts them first"),
      ("arrays.slt",
        """(?i)(\|\|\s*NULL\s*::\s*array|NULL\s*::\s*array<INT>\s*\|\|)""".r,
        "pg array concat treats a NULL operand as empty; Spark returns NULL"),
      ("arrays.slt",
        """(?i)array\(NULL::array<BIGINT>""".r,
        "pg flattens/drops NULL sub-arrays in nested array constructors"),
      ("boolean.slt",
        """(?i)FROM\s+bools_text""".r,
        "pg accepts unique prefixes (t/tr/f/fal/...) in boolean casts; " +
          "Spark only full words"),
      ("join.slt",
        """(?i)a\s*\*\s*b\s*/\s*2""".r,
        "pg integer division truncates; Spark / on ints yields double"),
      ("json.slt",
        """(?i)\bj\s*-\s*1\b""".r,
        "jsonb delete on an untyped string column is textually " +
          "indistinguishable from arithmetic"),
      ("json.slt",
        """(?i)array\s*\(\s*jsonb_canon""".r,
        "pg array-of-jsonb rendering double-quotes elements"),
      ("jsonb.slt|json.slt|json_builtins.slt|postgres_jsonb.slt",
        """'\\[a-zA-Z0-9]""".r,
        "Spark unescapes backslash sequences in string literals; pg " +
          "standard_conforming_strings keeps them"),
      ("arrays.slt",
        """(?i)array\s*\(.*::\s*string""".r,
        "pg renders array::text as {..} with per-element quoting; Spark " +
          "casts arrays to [..] rendering"),
      ("float4.slt|float8.slt",
        """(?i)::\s*(?:int|bigint|smallint)\b\s+AS\s+int""".r,
        "pg rounds float->int half-to-even (banker's); Spark rounds half " +
          "away from zero"),
      ("union.slt",
        """(?i)CAST\s*\(\s*\w+\s+AS\s+char\s*\(|char_tbl""".r,
        "pg bpchar pads to declared length and set ops compare padded; " +
          "Spark CHAR read/comparison semantics differ"),
      ("timestamp.slt",
        """(?i)'[^']*[0-9 ](?:BC|AD)\s*'""".r,
        "pg supports BC-era and explicit-era timestamp literals; Spark's " +
          "timestamp range starts at 0001-01-01 with no era suffix"),
      ("timestamp.slt",
        """(?i)'[^']*\w+/\w+'\s*::\s*timestamp\b""".r,
        "mz drops the zone when casting a zoned literal to timestamp " +
          "(wall time); Spark converts through the session zone"),
      ("numeric.slt",
        """(?i)'-?NaN'\s*::""".r,
        "pg numeric admits NaN; Spark DecimalType has no NaN value"),
      ("numeric.slt",
        """(?i)^\s*select\s+'[0-9.e+-]+'\s*::\s*decimal\s*\(\s*38\s*,\s*18\s*\)\s*;?\s*$""".r,
        "bare ::numeric displays at rescale-0; the shim's DECIMAL(38,18) " +
          "rewrite keeps the fraction (and Spark decimals have no -0)"),
      ("numeric.slt",
        """3\.40282347E\+38""".r,
        "extreme float32 rendering differs (plain vs scientific notation)"),
      ("aoc_1206.slt",
        """(?is)\b(?:pg_)?exp\s*\(\s*sum\s*\(\s*(?:pg_)?ln\s*\(""".r,
        "f64 exp(sum(ln(..))) amplifies last-ulp log rounding: the " +
          "reference lands 2e-7 under the exact product (1180707298), " +
          "JVM doubles land on it (1180707528) — both engine-specific"),
      ("type-promotion.slt",
        """'\d{4} \d{2}-\d{2}'""".r,
        "pg accepts 'YYYY MM-DD' date/timestamp literals; Spark does not"),
      ("type-promotion.slt",
        """(?i)'\d+'\s*::\s*(?:\w+\s*::\s*)?interval|interval\s*::""".r,
        "pg parses a bare number as seconds in interval casts; Spark yields NULL"),
      ("type-promotion.slt",
        """(?i)concat\s*\(\s*(?:true|false)\s*\)""".r,
        "pg renders bool-to-text as t/f; Spark as true/false"),
      ("type-promotion.slt",
        """(?i)\bt3\s*\)\s*UNION\b""".r,
        "pg bpchar padding makes char and varchar spellings distinct in set ops"),
      (".*",
        // collect_list: the post-shim spelling of rewritten array_agg.
        // graft_ga marks an ordered array_agg the shim already rewrote to a
        // deterministic array_sort — those compare exactly, don't skip them
        """(?is)\b(string_agg|array_agg|collect_list)\s*\((?!.*graft_ga).*\bfrom\s*\(\s*select\b.*\border\s+by\b""".r,
        "pg collect aggregates honor the subquery's ORDER BY; Spark's " +
          "collect order is undefined"),
      ("like.slt",
        """(?i)::\s*char\s*\(|\\\\""".r,
        "pg bpchar pads to length (LIKE sees the padding) and LIKE treats " +
          "backslash escapes differently"),
      ("extract.slt",
        """(?i)extract\s*\(\s*(dayofweek|dow)\b""".r,
        "day-of-week numbering differs (crdb Monday-based; Spark Sunday=1)"),
      ("extract.slt",
        """(?i)extract\s*\(\s*\w+\s+from\s+'[^']*'\s*\)""".r,
        "crdb implicitly casts bare string literals for extract; Spark raises"),
      ("timestamp.slt",
        """(?i)::\s*timestamp[^)]*\)\s*::\s*string|\bto_timestamp\s*\(""".r,
        "interval rendering (54:00:00 vs INTERVAL DAY TO SECOND) and " +
          "numeric-epoch to_timestamp differ"),
      ("typing.slt",
        """(?i)select\s+\*\s+from\s+[fd]\b""".r,
        "tables f/d are populated through pg integer-division typing"),
      ("github-3256.slt",
        """(?i)\battnotnull\b""".r,
        "mz derives NOT NULL for aggregate MV columns; Spark schemas keep " +
          "them nullable"),
      ("mz_indexes.slt",
        """(?i)mz_\w+_ind\b|\bid\s+(?:NOT\s+)?LIKE\s+'si?%'""".r,
        "builtin catalog indexes (si-ids) are not emulated"),
      ("oid.slt",
        """(?i)\bid\s+LIKE\s+'s%'""".r,
        "system-id ('s%') rows enumerate the reference's full builtin " +
          "catalog inventory (1000+ items) — not emulated"),
      ("alter-table.slt|comment.slt|oid.slt",
        """(?i)\bid\s*(?:=\s*'u\d|LIKE\s+'u%')""".r,
        "reference user item ids are allocation-order (u1, u2, ...); the " +
          "catalog emulation numbers by listing order"),
      ("alter-table.slt",
        """(?i)^\s*SHOW\s+(COLUMNS|CREATE)\b""".r,
        "NOT NULL column constraints and versioned-CREATE rendering are " +
          "not represented in Spark schemas"),
      ("int_size.slt|create_index.slt",
        """(?i)^\s*SHOW\s+CREATE\s+TABLE\b""".r,
        "the runner stores crdb INT as 64-bit (cockroach semantics, needed " +
          "for value comparisons); mz renders plain INT as pg_catalog.int4"),
      (".*",
        // TABLE is exempt: ShowCreateTableCommand renders the canonical
        // text (CanonicalSql.canonicalTable) and compares for real
        """(?i)^\s*SHOW\s+CREATE\s+(?!TABLE\b)""".r,
        "mz renders the canonical fully-qualified CREATE text " +
          "(materialize.public.*, pg_catalog type names); the engine " +
          "echoes the user's statement"),
      (".*",
        """(?is)pg_regexp_replace.*?\\""".r,
        "Spark string literals process backslash escapes; mz is " +
          "standard-conforming (backslashes stay literal)"),
      ("github-6388.slt",
        """(?i)^\s*SHOW\s+COLUMNS\b""".r,
        "the jsonb storage marker does not survive view schemas; " +
          "SHOW COLUMNS reports the text storage type"),
      ("scalar_identity_folds.slt|builtin_function.slt",
        """(?i)[lr]trim\s*\([^)]*,""".r,
        "pg ltrim(str, chars) vs Spark ltrim(chars, str) argument order " +
          "(and empty-charset trim is the pg identity)"),
      ("builtin_function.slt",
        """(?i)\b(?:pg_)?(round|ceil|ceiling)\s*\(\s*-?[0-9.]+\s*::\s*double""".r,
        "double rounding mode (pg half-even) and negative-zero sign differ"),
      ("builtin_function.slt|numeric.slt",
        """(?i)\blog\s*\(""".r,
        "pg log() is log10; Spark log() is ln"),
      ("builtin_function.slt|srfs.slt|scalar-func-table-position.slt",
        """(?i)current_schema""".r,
        "catalog namespace naming (public vs default)"),
      ("hash.slt|bytea.slt",
        """'\\x[0-9a-fA-F]+'\s*::\s*binary""".r,
        "pg bytea \\x hex literals; Spark casts the literal text's bytes"),
      ("topk.slt",
        """(?is)\(\s*select\s+\*\s+from\s+\w+\s+limit\s+\d+\s*\)""".r,
        "an inner LIMIT without ORDER BY keeps engine-defined rows"),
      (".*",
        """(?i)\barray\s*\(\s*\(*\s*(select|values)\b""".r,
        "pg ARRAY(subquery) constructor has no Spark analog"),
      ("window.slt",
        """\(\s*1\s*/\s*[ij]\s*\)""".r,
        "pg integer division truncates; Spark '/' is fractional"),
      ("window_funcs.slt",
        """(?i)partition\s+by\s+x-y\+x/10""".r,
        "pg integer division truncates (x/10=0), collapsing the partition " +
          "key; Spark '/' is fractional and partitions per-row"),
      ("aggregates.slt",
        """(?i)pg_typeof\s*\(\s*(?:sum|avg)\s*\(""".r,
        "mz widens sum(bigint) to numeric; Spark aggregates in bigint — " +
          "pg_typeof reports the engine's accumulator type"),
      ("prepare.slt",
        """(?i)\bEXECUTE\s+p5\s*\(""".r,
        "mz infers an untyped bare parameter as text; the bind emulation " +
          "substitutes the literal, which types numerically"),
      ("timezone.slt",
        """2020-11-01 01:00:00 America/New_York""".r,
        "ambiguous fall-back local time: pg resolves to standard time, " +
          "java.time to daylight"),
      ("try_parse_monotonic_iso8601_timestamp.slt",
        """'0000-""".r,
        "year zero renders as 0001 BC in pg-era notation; Spark has no era"),
      ("postgres-incompatibility.slt",
        """(?i)17 / - COALESCE""".r,
        "pg integer division truncates; Spark '/' is fractional"),
      ("persist-fast-path.slt",
        """(?i)\bLIMIT\s+\d+""".r,
        "LIMIT without ORDER BY returns engine-defined rows (the file pins " +
          "the reference's persist iteration order)"),
      ("type-promotion.slt",
        """(?i)pg_typeof\s*\(\s*(?:lag|lead|first_value|last_value)\s*\(""".r,
        "uint8 is emulated as DECIMAL(20,0); pg_typeof through a window " +
          "function reports the storage type, not the uint name"),
      ("zero.slt",
        """(?i)-\s*0\.0|\bfrom\s+f\b""".r,
        "IEEE negative-zero sign preservation differs (table f is the -0 fixture)"),
      ("float.slt",
        """(?i)\bf\s*=\s*0\b""".r,
        "negative zero equals +0 but pg's fixture expects one row"),
      ("target_names.slt",
        """(?i)\bcos\s*\(""".r,
        "pg float->int cast rounds; Spark truncates"),
      ("propagate_input_ordering.slt",
        """(?is)\bwith\b.*\border\s+by\b""".r,
        "pg propagates a CTE's declared ordering to consumers; Spark does not"),
      ("float.slt|cast.slt|arithmetic.slt",
        """(?i)\d+\.\d*(\s*::\s*\w+)*\s*::\s*(smallint|bigint|integer|int)\b""".r,
        "pg ROUNDS fractional→int casts; Spark truncates"),
      ("float.slt|cast.slt|arithmetic.slt",
        """(?i)::\s*string""".r,
        "pg numeric→text formatting (no trailing .0, no E-notation) differs"),
      ("float.slt",
        """(?i)\bfrom\s+(t1|float_boundary)\b""".r,
        "pg accumulates sum(real) in f32; we widen to double"),
      (".*",
        """(?i)\b(isnull|notnull)\b""".r,
        "pg postfix IS NULL operators — Spark parses them as aliases"),
      ("string.slt|builtin_function.slt",
        """(?i)substr(ing)?\s*\([^()]*,\s*(-\d|0\b|smicol|intcol|bigcol)""".r,
        "pg substr with start<=0 counts from before the string; Spark clamps"),
      ("string.slt",
        """(?i)\bascii\s*\(""".r,
        "pg ascii('')=0 and CHAR(n) pad handling differ"),
      ("order_by.slt",
        """(?i)order\s+by\s+-""".r,
        "pg resolves ORDER BY expressions against source columns, not aliases"),
      ("string.slt",
        """(?i)substring\s*\([^()]*\bfrom\s+-""".r,
        "pg substring FROM negative counts from before the string"),
      ("string.slt",
        """(?i)::\s*binary""".r,
        "pg renders bytea as \\x-hex text"),
      ("string.slt|builtin_function.slt",
        """(?i)concat\s*\([^()]*(null|true|false|::\s*decimal)""".r,
        "pg concat skips NULLs and renders bool as t/f"),
      ("string.slt",
        """(?i)\b(left|right)\s*\([^()]*,\s*(-|smicol|intcol|bigcol)""".r,
        "pg left/right with negative count drops from the other end"),
      ("string.slt",
        """(?i)\b(left|right)\s*\(\s*strcol|from\s+(positiontest|char_col)|::\s*char\s*\(""".r,
        "pg CHAR(n) blank-pad comparison/concat semantics differ"),
      ("string.slt",
        """(?i)\binitcap\s*\(""".r,
        "pg initcap treats punctuation as word boundaries; Spark only whitespace"),
      ("datediff.slt|dates-times.slt",
        """(?i)to_timestamp\s*\(""".r,
        "pg renders timestamptz with +00 zone suffix and BC era"),
      ("dates-times.slt",
        """(?i)\bbc\b|'0001-|'\d{5,}-\d|make_timestamp\s*\(\s*-|make_timestamp\s*\([^)]*,\s*24\s*,""".r,
        "pg BC era / proleptic years beyond Spark's supported range"),
      ("dates-times.slt",
        """(?i)'\d{8}'\s*::\s*date|'"[^']*'\s*::""".r,
        "pg compact/lenient datetime input formats Spark rejects"),
      ("dates-times.slt",
        """(?i)'[^']*(days|years|months|\d:\d)[^']*'\s*::\s*interval""".r,
        "pg unit-suffixed / sql-standard interval input text"),
      ("dates-times.slt",
        """(?i)extract\s*\(\s*dow|to_char\s*\(|::\s*string""".r,
        "pg DOW=0-Sunday numbering, to_char templates, temporal ::text forms"),
      ("outer_join.slt",
        """(?i)from\s+\w+\s*,\s*\w+\s+(full|left|right)\s+join""".r,
        "comma-join vs JOIN precedence differs"),
      ("limit_expr.slt",
        """(?is)lateral\s*\(\s*select(?:(?!order\s+by)[^)])*limit""".r,
        "LIMIT without ORDER BY picks an engine-arbitrary row"),
      ("arithmetic.slt",
        """(?i)\bno_bits\b""".r,
        "bit-shift counts wrap per type width differently across engines"),
      ("arithmetic.slt",
        """(?i)\bimplicit_l\b|\bl_prec_add\b""".r,
        "pg gives &/| equal precedence and ~ low precedence; Spark differs"),
      ("distinct.slt",
        """(?i)\bv0\b""".r,
        "crdb/mz elide DISTINCT on a nullable UNIQUE column and leak " +
          "duplicate NULLs (UNIQUE permits them); we keep the DISTINCT"),
      ("join.slt",
        """(?i)substring\s*\(\s*'[^']*'\s*,\s*'""".r,
        "pg substring(str, pattern) regex overload; Spark's 2nd arg is a position"),
      ("select.slt",
        """(?i)\([^()]*\bnull\b[^()]*\)\s*(not\s+)?in\s*\(|in\s*\(\s*\([^()]*\bnull\b""".r,
        "tuple IN with NULL fields: SQL 3VL yields UNKNOWN; Spark yields false"),
      ("subquery_correlated.slt",
        """(?i)(not\s+)?in\s*\(\s*select\s+ship\b""".r,
        "IN over a nullable subquery column: SQL 3VL yields UNKNOWN where " +
          "Spark's semi-join rewrite yields false (null-aware only for NOT IN)"),
      ("tuple.slt",
        """(?i)\(\s*\d+\s*,\s*\d+\s*\)\s*[<>]=?\s*\([^)]*null""".r,
        "tuple comparison with NULL fields: SQL 3VL yields UNKNOWN; Spark doesn't"),
      ("decimal.slt",
        """(?i)'nan'\s*::""".r,
        "pg numeric admits NaN; Spark decimal does not"),
      ("datetime.slt|dates-times.slt",
        """(?i)'[^']+'\s*::\s*interval""".r,
        "pg interval input text is its own language; Spark parses a subset"),
      ("datetime.slt|dates-times.slt",
        """(?i)interval\s+'[^']*[- :][^']*'\s+(year|month|day|hour|minute|second)\b""".r,
        "pg truncates multi-field interval literals to the unit qualifier"),
      ("union.slt",
        """(?i)values\s*\(\s*null\s*\)\s*(intersect|except)""".r,
        "set-ops over untyped NULL literal relations: Spark's void-type " +
          "comparison treats NULL rows as non-matching"),
      ("dates-times.slt",
        """(?i)date\s*'[^']*'\s*-\s*date\s*'""".r,
        "pg date - date yields integer days; Spark yields an interval"),
      ("funcs.slt|string.slt",
        """(?i)\b[lrb]trim\s*\([^()]*,""".r,
        "pg (l/r/b)trim(str, chars) vs Spark (chars, str) argument order"),
      ("funcs.slt",
        """(?i)coalesce\s*\(\s*1,\s*1\s*/\s*0|cot\s*\(\s*-0""".r,
        "literal type unification / negative-zero edge renders differently"),
      ("funcs.slt",
        """(?i)\blog\s*\(""".r,
        "pg log() is base-10; Spark's log() is natural log"),
      ("chr.slt|builtin_function.slt",
        """(?i)\bchr\s*\(\s*\d{3,}""".r,
        "pg chr() is a Unicode codepoint; Spark's wraps at 256"),
      ("types.slt",
        """(?i)::\s*binary""".r,
        "pg renders bytea as its text form; Spark renders binary bytes"),
      ("types.slt",
        """(?i)'[-\d]+ \d+ [\d:.]+'\s*::\s*interval""".r,
        "pg sql-standard shorthand interval input text Spark rejects"),
      ("arrays.slt",
        """(?is)^(?!.*\border\s+by\b).*\bcollect_list\b""".r,
        "array_agg without ORDER BY: pg returns insertion order; Spark's " +
          "collect order after shuffle is undefined"),
      ("window_funcs.slt",
        """(?is)over\s*\(\s*partition\s+by\s+null\s+order\s+by\s+\d""".r,
        "window ORDER BY over a constant: every row ties; row numbering is " +
          "engine-arbitrary"),
      ("window_funcs.slt",
        """(?is)\blag\(sum\(a\)\)\s*over\s*\(order\s+by\s+sum\(a\)[^)]*\)""".r,
        "lag over a window ORDER BY with ties (sum(a) repeats): which tied " +
          "row precedes is engine-defined, so the lag value differs"),
      ("window_funcs.slt",
        """(?is)\blag\(x\)\s*over\s*\(\s*order\s+by\s+x\b""".r,
        "lag/first/last_value over ORDER BY x on t7, which holds duplicate " +
          "x values: which tied row precedes is engine-defined"),
      ("window_funcs.slt",
        """(?is)\bsum\(y\)\s*over\s*\(\s*order\s+by\s+x\s+nulls\s+last\s+rows\s+between\s+(?:unbounded\s+preceding\s+and\s+current\s+row|current\s+row\s+and\s+unbounded\s+following)""".r,
        "running ROWS frame over ORDER BY x on t7, which holds duplicate " +
          "x values: the frame CONTENT depends on which tied row comes " +
          "first (the reference's own fixture notes the order is undefined)"),
      ("window_funcs.slt",
        """(?is)\blast_value\(f\d\)\s*over\s*\(partition\s+by\s+f2\s+order\s+by\s+f1\s+nulls\s+last\s*\)""".r,
        "last_value over ORDER BY f1 alone: f1 repeats within the f2 " +
          "partitions, so the RANGE frame's last peer is engine-defined"),
      ("window_funcs.slt",
        """(?is)partition\s+by\s+\d+\s*\*\s*\w+\s*/""".r,
        "pg / on integers is integer division; Spark's yields double, " +
          "changing the computed partition keys"),
      ("slt.slt",
        """chr\(10\)""".r,
        "embedded newlines inside result values are line-split by the SLT " +
          "text format; the runner compares per line"),
      ("timestamp.slt",
        """(?is)a \+ '24 hours'::interval, a \+ '1 day'::interval""".r,
        "timestamp arithmetic emits day-time intervals whose whole-day " +
          "rendering (1 day vs 24:00:00) depends on interval FIELDS " +
          "Spark's Duration type does not carry"),
      ("timestamp.slt",
        """(?is)SELECT\s*\(t2 - t1\)\s*FROM t""".r,
        "timestamp subtraction yields a day-time interval whose " +
          "whole-day rendering (1 day vs 24:00:00) depends on interval " +
          "FIELDS Spark's Duration type does not carry"),
      ("list.slt",
        """(?is)pg_typeof\s*\(\s*mz_list_tag\(array\(left\(""".r,
        "pg_typeof over varchar(n) list: the literal-truncation rewrite " +
          "erases the varchar identity (reports text list)"))
    def knownDiffReason(sql: String): Option[String] =
      knownDialectDiffs.collectFirst {
        case (filePat, re, reason)
          if name.matches(filePat) && re.findFirstIn(sql).isDefined => reason
      }
    def isKnownDiff(sql: String): Boolean = knownDiffReason(sql).isDefined

    // State poisoning is per TABLE: a skipped UPDATE/DELETE or a failed
    // INSERT leaves that table's contents wrong (not absent), so any later
    // record touching it would compare garbage. Poison propagates through
    // VIEW definitions and skipped EXECUTEs of mutating PREPAREs, and is
    // cleared when the table is dropped/recreated fresh.
    val poisonedTables = mutable.Set.empty[String]
    // per-VALUE poisoning: relations whose state matches the reference
    // EXCEPT for marked cells holding order-preserving sentinel clamps
    // (reference numeric carries 39 digits, Spark's decimal 38).
    // `valuePoisoned` tables carry flip UPDATE pairs so a query can be
    // re-run against the B sentinels — identical output proves the result
    // does not depend on the unrepresentable cells; `sentinelRelations`
    // (clamped VIEW bodies) cannot flip, so only expected-error reads run.
    case class ValuePatch(toB: String, toA: String)
    val valuePoisoned = mutable.Map.empty[String, mutable.ListBuffer[ValuePatch]]
    val sentinelRelations = mutable.Set.empty[String]
    val viewDefs = mutable.Map.empty[String, String]
    // dependency edges for views whose CREATE was a dialect failure HERE
    // but succeeded in the reference (expected-error DROP gating only)
    val phantomViewDefs = mutable.Map.empty[String, String]
    val preparedDefs = mutable.Map.empty[String, String]
    // live portal emulation: PREPARE bodies (post-shim) for real EXECUTE
    // expansion (reference portals src/adapter/src/client.rs:628)
    val preparedStmts = mutable.Map.empty[String, SltSession.Prepared]
    // session variables: tracked values for SHOW; vars mutated through
    // paths we skip (simple protocol blocks, unhonorable SET values) are
    // TAINTED — a later SHOW of them must skip, never report stale state
    val sessionVars = mutable.Map.empty[String, String]
    val varTainted = mutable.Set.empty[String]
    // per-NAMED-connection session registries (simple conn=X blocks are
    // their own pg sessions; table state is shared, variables are not)
    val connVars = mutable.Map.empty[String, mutable.Map[String, String]]
    val connVarTainted = mutable.Map.empty[String, mutable.Set[String]]
    // mz_unsafe schema availability (ALTER SYSTEM SET
    // unsafe_enable_unsafe_functions; the corpus default is enabled)
    var unsafeFnsEnabled = true
    // statement counter driving WMR-view freshness: a fixpoint
    // materialization is reused until any statement could have changed
    // base state (bumped per statement record, not per query)
    var mutationEpoch = 0
    val wmrMaterialized = mutable.Map.empty[String, Int]
    def unsafeFnCheck(sql: String): Unit =
      if (!unsafeFnsEnabled &&
          """(?i)\bmz_(sleep|panic|all|any|error_if_null)\s*\(""".r
            .findFirstIn(sql).isDefined)
        throw new IllegalStateException(
          "executing potentially dangerous functions is not supported")
    // cursor emulation (reference portals, src/adapter/src/client.rs):
    // DECLARE materializes the body's rows; FETCH drains. `bad` marks a
    // cursor whose body this dialect could not run — its FETCHes skip.
    case class CursorState(schema: org.apache.spark.sql.types.StructType,
        rows: mutable.Queue[org.apache.spark.sql.Row], hold: Boolean,
        bad: Boolean,
        pending: Option[() => org.apache.spark.sql.DataFrame] = None)
    val cursors = mutable.Map.empty[String, CursorState]
    /** A SUBSCRIBE cursor materializes at FIRST FETCH (the reference
      * defers body evaluation — subscribe_error.slt asserts the error at
      * FETCH, not DECLARE). May throw the body's evaluation error. */
    def forceCursor(cname: String, c: CursorState): CursorState = c.pending match {
      case Some(thunk) =>
        val df = thunk()
        val nc = c.copy(schema = df.schema,
          rows = mutable.Queue(df.collect().toIndexedSeq: _*), pending = None)
        cursors(cname) = nc
        nc
      case None => c
    }
    /** pg FETCH TIMEOUT bounds: >24h is the reference's range rejection. */
    def timeoutOutOfRange(t: Option[String]): Boolean = t.exists { raw =>
      """^'\s*(\d+(?:\.\d+)?)\s*(ms|s|m|h|d|milliseconds?|seconds?|minutes?|hours?|days?)?\s*'$"""
        .r.findFirstMatchIn(raw.trim).exists { tm =>
          val n = tm.group(1).toDouble
          val secs = Option(tm.group(2)).map(_.toLowerCase) match {
            case Some(u) if u.startsWith("ms") || u.startsWith("milli") => n / 1000
            case Some(u) if u.startsWith("m") => n * 60
            case Some(u) if u.startsWith("h") => n * 3600
            case Some(u) if u.startsWith("d") => n * 86400
            case _ => n
          }
          secs > 86400
        }
    }
    /** Query-position FETCH: drain rows from the named cursor. */
    def fetchCursorDf(fm: scala.util.matching.Regex.Match): org.apache.spark.sql.DataFrame = {
      val cname = fm.group(2).toLowerCase
      if (Option(fm.group(3)).exists(_.startsWith("'-")))
        throw new IllegalStateException(
          "invalid TIMEOUT: cannot convert negative interval to duration")
      if (timeoutOutOfRange(Option(fm.group(3))))
        throw new IllegalStateException("timeout out of range")
      cursors.get(cname) match {
        case Some(c) if c.bad => throw new DialectSkip("FETCH from unsupported cursor")
        case Some(c0) =>
          val c = forceCursor(cname, c0)
          val n = Option(fm.group(1)).map(_.trim) match {
            case Some(a) if a.equalsIgnoreCase("ALL") => c.rows.size
            case Some(d) => d.toInt
            case None => 1
          }
          val out = (1 to n).flatMap(_ =>
            if (c.rows.nonEmpty) Some(c.rows.dequeue()) else None)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava), c.schema)
        case None => throw new IllegalStateException(
          s"""cursor "$cname" does not exist""")
      }
    }
    // cluster registry (semantic no-ops — placement only): name ->
    // replica names. Seeded with the reference's ambient clusters.
    val clusterNames = mutable.LinkedHashMap[String, mutable.LinkedHashSet[String]](
      "mz_probe" -> mutable.LinkedHashSet.empty[String],
      "mz_system" -> mutable.LinkedHashSet.empty[String],
      "mz_support" -> mutable.LinkedHashSet.empty[String],
      "quickstart" -> mutable.LinkedHashSet("r1"),
      "mz_analytics" -> mutable.LinkedHashSet.empty[String],
      "mz_catalog_server" -> mutable.LinkedHashSet("r1"))
    // index names created by this file (semantic no-ops — see SltSession)
    val indexNames = mutable.Set.empty[String]
    // index name -> indexed relation, for the pg_class/mz_indexes rows
    val indexOn = mutable.Map.empty[String, String]
    // single-session transaction emulation (reference Coordinator
    // sequencing src/adapter/src/coord.rs:1992): BEGIN starts buffering via
    // copy-on-first-write snapshots; ROLLBACK restores them; COMMIT drops
    // them. A failed statement aborts the txn (pg semantics) so COMMIT of
    // an aborted txn also restores.
    var txnActive = false
    var txnAborted = false
    var txnReadOnly = false
    // pg/mz: SET TRANSACTION ISOLATION LEVEL is rejected once the open txn
    // has executed a query ('must be called before any query')
    var txnQueryRan = false
    // `SET TRANSACTION ISOLATION LEVEL x` inside an open txn: visible to
    // SHOW until COMMIT/ROLLBACK (pg txn-scoped GUC)
    var txnIsolation: Option[String] = None
    // transaction-stable now(): the reference pins now() for the whole
    // transaction (transactions-stable.slt) — writes inside an open txn
    // substitute this literal
    var txnNowPin: Option[String] = None
    val txnSnapshots = mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])]
    val txnDdl = mutable.Set.empty[String]
    def txnSnapshot(t: String): Unit =
      if (txnActive && !txnSnapshots.contains(t) && !txnDdl.contains(t))
        try {
          val df = spark.table(t)
          txnSnapshots(t) = (df.schema, df.collect().toSeq)
        } catch { case _: Throwable => txnDdl += t } // not snapshotable
    def txnRestore(): Unit = {
      txnSnapshots.foreach { case (t, (schema, rows)) =>
        try spark.createDataFrame(rows.asJava, schema)
          .write.mode("overwrite").insertInto(t)
        catch { case _: Throwable => poisonedTables += t }
      }
      txnDdl.foreach(poisonedTables += _) // DDL effects can't be rolled back
    }
    def txnClear(): Unit = {
      txnActive = false; txnAborted = false; txnSnapshots.clear(); txnDdl.clear()
      txnIsolation = None; txnReadOnly = false; txnQueryRan = false
      txnNowPin = None
      // pg closes WITHOUT HOLD cursors at transaction end
      cursors.filterInPlace { case (_, c) => c.hold }
      ()
    }
    // tables touched by DDL statements while a txn is open (CREATE/DROP
    // TABLE/VIEW): immediate effect, unrestorable on rollback
    def noteTxnDdl(sql: String): Unit = if (txnActive) {
      """(?i)\b(?:CREATE|DROP)\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?(?:OR\s+REPLACE\s+)?["`]?(\w+)""".r
        .findAllMatchIn(sql).foreach(m => txnDdl += m.group(1).toLowerCase)
      // schema-changing ALTERs are DDL too: a rollback cannot undo them
      """(?i)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+(?:RENAME|ADD|DROP)\b""".r
        .findFirstMatchIn(sql).foreach { m =>
          txnDdl += m.group(1).toLowerCase
          AlterRenameTable.findFirstMatchIn(sql).foreach(r => txnDdl += r.group(2).toLowerCase)
        }
    }
    // materialized views created by this file, in creation order: mz MVs are
    // continuously maintained (reads always fresh), so the runner
    // re-materializes them through the engine's own REFRESH path before any
    // query that could observe them — same freshness guarantee, real
    // incremental-view machinery underneath
    val mvDefs = mutable.LinkedHashSet.empty[String]
    val MvCreate =
      """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
    // linear-time literal stripper (the naive ([^']|'')* alternation
    // backtracks exponentially on unbalanced quotes in fuzzer-sized SQL)
    val StringLit = "'[^']*(?:''[^']*)*'".r
    // string-literal content names nothing: a poisoned table `test` must
    // not taint INSERT INTO t2 VALUES ('test line 1')
    def stripLits(sql: String): String =
      if (sql.indexOf('\'') < 0) sql else StringLit.replaceAllIn(sql, " ")
    def refsWord(sql: String, w: String): Boolean =
      s"(?i)\\b$w\\b".r.findFirstIn(stripLits(sql)).isDefined
    def touchesPoisoned(sql: String, depth: Int = 0): Boolean = {
      // introspection queries name objects INSIDE literals
      // (WHERE name = 'coltypes') — for those the literal text counts
      val bare =
        if (PgCatalogViews.referenced(sql)) sql else stripLits(sql)
      def refs(w: String) = s"(?i)\\b$w\\b".r.findFirstIn(bare).isDefined
      poisonedTables.exists(refs) ||
        (depth < 5 && viewDefs.exists { case (v, d) =>
          refs(v) && touchesPoisoned(d, depth + 1)
        })
    }
    /** Relations the query reaches that hold sentinel-clamped CELLS
      * (directly or through recorded view definitions). */
    def valuePoisonReached(sql: String): (Set[String], Boolean) = {
      val bare = stripLits(sql)
      def refs(w: String) = s"(?i)\\b$w\\b".r.findFirstIn(bare).isDefined
      var tables = valuePoisoned.keySet.filter(refs).toSet
      var sentinel = sentinelRelations.exists(refs)
      viewDefs.foreach { case (v, d) =>
        if (refs(v)) {
          tables = tables ++ valuePoisoned.keySet.filter(t => refsWord(d, t))
          if (sentinelRelations.exists(t => refsWord(d, t))) sentinel = true
        }
      }
      (tables, sentinel)
    }
    /** A failed INSERT whose only unrepresentable parts are >38-digit
      * decimal literals: insert with the ORDER-PRESERVING sentinel clamps
      * and record flip UPDATE pairs so reads can prove independence from
      * the exact cell values. True when recovered. */
    def tryRowClamp(sql: String): Boolean = {
      if (splitStatements(sql).lengthCompare(1) != 0) return false
      val m = """(?is)^\s*INSERT\s+INTO\s+["`]?(\w+)["`]?\s*(\([^)]*\))?\s*VALUES\s+(.*?);?\s*$""".r
        .findFirstMatchIn(sql).getOrElse(return false)
      val t = m.group(1).toLowerCase
      val (sqlA, changed) = clampOversizedDecimals(sql, toB = false)
      if (!changed) return false
      val ok = scala.util.Try { spark.sql(sqlA).collect(); true }.getOrElse(
        scala.util.Try(typedInsertRetry(spark, sqlA)).getOrElse(false))
      if (!ok) return false
      // flip pairs: identify each clamped row by ALL its cell values
      val schema = scala.util.Try(spark.table(t).schema).getOrElse(return false)
      val cols: Seq[String] = Option(m.group(2)) match {
        case Some(cl) => cl.stripPrefix("(").stripSuffix(")").split(",")
          .map(_.trim.replaceAll("[\"`]", "")).toSeq
        case None => schema.fieldNames.toSeq
      }
      val rowsA = splitTopLevel(clampOversizedDecimals(m.group(3), toB = false)._1, ',').map(_.trim)
      val rowsB = splitTopLevel(clampOversizedDecimals(m.group(3), toB = true)._1, ',').map(_.trim)
      rowsA.zip(rowsB).foreach { case (ra, rb) =>
        if (ra != rb && ra.startsWith("(") && rb.startsWith("(")) {
          val cellsA = splitTopLevel(ra.substring(1, ra.length - 1), ',').map(_.trim)
          val cellsB = splitTopLevel(rb.substring(1, rb.length - 1), ',').map(_.trim)
          if (cellsA.length == cols.length) {
            def upd(from: Seq[String], to: Seq[String]): String = {
              val sets = cols.zip(from.zip(to)).collect {
                case (c, (f, x)) if f != x => s"`$c` = ($x)"
              }
              val where = cols.zip(from)
                .map { case (c, f) => s"`$c` <=> ($f)" }.mkString(" AND ")
              s"UPDATE `$t` SET ${sets.mkString(", ")} WHERE $where"
            }
            valuePoisoned.getOrElseUpdate(t, mutable.ListBuffer.empty) +=
              ValuePatch(upd(cellsA, cellsB), upd(cellsB, cellsA))
          }
        }
      }
      valuePoisoned.contains(t)
    }
    // A bare DROP TABLE or a CREATE TABLE with an explicit column list
    // rebuilds the relation's ENTIRE state from the statement text alone —
    // executing it re-converges our state with the reference's even when the
    // table is currently poisoned (the reference clears poison on
    // drop/recreate; without this, corpus files that cycle CREATE/DROP on
    // one name, e.g. window_funcs.slt, cascade hundreds of skips after a
    // single genuinely-divergent INSERT). CREATE TABLE ... AS SELECT is
    // excluded: it READS, so poison must propagate.
    val PoisonResetStmt =
      """(?is)^\s*(DROP|CREATE)\s+TABLE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)["`]?\s*(\((?:[^()]|\([^()]*\))*\))?\s*;?\s*$""".r
    def poisonResetTarget(sql: String): Option[String] = sql match {
      case PoisonResetStmt(kind, nm, parens) =>
        if (kind.equalsIgnoreCase("DROP") && parens == null) Some(nm.toLowerCase)
        else if (kind.equalsIgnoreCase("CREATE") && parens != null) Some(nm.toLowerCase)
        else None
      case _ => None
    }
    // CREATE OR REPLACE VIEW over a poisoned NAME whose body reads only
    // clean relations also fully rebuilds the name's state — let it fall
    // through to real execution (which clears the poison on success)
    // instead of cascading the skip
    val ViewResetStmt =
      """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
    def viewResetEligible(sql: String): Boolean =
      ViewResetStmt.findFirstMatchIn(sql).exists { m =>
        val t = m.group(1).toLowerCase
        poisonedTables.contains(t) && {
          poisonedTables -= t
          val still = touchesPoisoned(sql)
          poisonedTables += t
          !still
        }
      }
    def refreshMvsFor(sql: String): Unit = {
      if (mvDefs.exists(mv => refsWord(sql, mv)))
        // refresh ALL in creation order so chained MVs observe fresh inputs
        mvDefs.foreach { mv =>
          try spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
          catch { case _: Throwable => () } // e.g. base dropped; query decides
        }
      refreshWmrFor(sql)
    }

    /** WMR views are LAZY (never evaluated at CREATE) — materialize the
      * recorded fixpoint before a READ or a dependent CREATE, re-running
      * only when base state changed since the last materialization
      * (mutationEpoch). */
    def refreshWmrFor(sql: String): Unit = {
      val wmr = graft.sql.GraftSqlCatalog.wmrViewsFor(spark)
      if (wmr.isEmpty) return
      // a read may reach a WMR view THROUGH ordinary views — chase the
      // reference closure over the recorded view definitions
      val texts = mutable.Set(sql)
      var grew = true
      while (grew) {
        grew = false
        viewDefs.foreach { case (vn, vdef) =>
          if (!texts.contains(vdef) && texts.exists(t => refsWord(t, vn))) {
            texts += vdef; grew = true
          }
        }
      }
      wmr.foreach { case (n, body) =>
        if (texts.exists(t => refsWord(t, n)) &&
            !wmrMaterialized.get(n).contains(mutationEpoch) &&
            // NESTED fixpoints (a WMR binding containing its own WMR)
            // re-evaluate the inner fixpoint per outer round — a plan
            // explosion this emulation refuses; reads fail honestly
            """(?i)MUTUALLY\s+RECURSIVE""".r.findAllIn(body).size == 1) {
          try {
            // eager: the fixpoint runs (and fails) inside this try
            spark.sql(body).localCheckpoint().createOrReplaceTempView(n)
            wmrMaterialized(n) = mutationEpoch
          } catch { case _: Throwable => () } // reads fail honestly
        }
      }
    }

    def isSingle(sql: String): Boolean =
      !sql.contains(";") || splitStatements(sql).lengthCompare(1) == 0

    // One piece of a COMPOUND statement that is session-level: txn control
    // runs against the txn state; a SET is honored exactly like the
    // single-statement path or aborts the record as a dialect skip (so no
    // later piece runs against wrong session state). Returns true when the
    // piece is fully handled.
    def sessionPiece(one: String): Boolean = {
      if (SltSession.RollbackTo.findFirstMatchIn(one).isDefined)
        throw new DialectSkip("ROLLBACK TO SAVEPOINT in compound")
      else if (SltSession.Begin.findFirstMatchIn(one).isDefined) {
        // mz has no `BEGIN AS OF` (txn_as_of.slt expects the parser's
        // rejection)
        if ("""(?is)\bAS\s+OF\b""".r.findFirstIn(one).isDefined)
          throw new IllegalStateException("Expected end of statement, found AS")
        if (!txnActive) {
          txnActive = true; txnAborted = false; txnQueryRan = false
          txnReadOnly = """(?is)\bREAD\s+ONLY\b""".r.findFirstIn(one).isDefined
          txnNowPin = Some(
            new java.sql.Timestamp(System.currentTimeMillis()).toString)
        } else {
          // nested BEGIN keeps the mode; a READ WRITE/READ ONLY tail
          // adjusts it — switching to read-WRITE is valid only before any
          // query ran (reference transactions.slt:511-570)
          val wantsWrite = """(?is)\bREAD\s+WRITE\b""".r.findFirstIn(one).isDefined
          if (wantsWrite && txnQueryRan)
            throw new IllegalStateException(
              "transaction read-write mode must be set before any query")
          if (wantsWrite) txnReadOnly = false
          if ("""(?is)\bREAD\s+ONLY\b""".r.findFirstIn(one).isDefined)
            txnReadOnly = true
        }
        true
      } else if (SltSession.Commit.findFirstMatchIn(one).isDefined) {
        if (txnAborted) txnRestore()
        txnClear(); true
      } else if (SltSession.Rollback.findFirstMatchIn(one).isDefined) {
        txnRestore(); txnClear(); true
      } else if ("""(?is)^\s*(?:SET|RESET|DISCARD|SHOW)\b.*""".r.pattern.matcher(one).matches) {
        SltSession.SetVar.findFirstMatchIn(one) match {
          case Some(m) =>
            val name = SltSession.normVar(Option(m.group(1)).getOrElse(m.group(2)))
            SltSession.acceptSet(name, m.group(3)) match {
              case SltSession.Accepted(v) =>
                sessionVars(name) = v; varTainted -= name; true
              case _ =>
                varTainted += name
                throw new DialectSkip(s"SET $name not honored in compound")
            }
          case None => throw new DialectSkip("session statement in compound not honored")
        }
      } else false
    }

    // Expand EXECUTE against the live portal map (the bind step). Left =
    // a substitute record to emit (skip, or a forced-error marker for
    // expected-error records); Right = the bound SQL.
    def expandExec(sql: String, expectError: Boolean): Either[Record, String] =
      SltSession.Execute.findFirstMatchIn(sql) match {
        case None => Left(Unsupported("unparsed EXECUTE shape", mutating = false, sql = sql))
        case Some(m) =>
          val nm = SltSession.normName(m.group(1))
          val args = Option(m.group(2)).map(SltSession.splitTop).getOrElse(Nil)
          preparedStmts.get(nm) match {
            case Some(p) =>
              SltSession.bind(p.body, args, p.paramTypes) match {
                case Right(bound) => Right(bound)
                case Left(_) if expectError =>
                  Left(Statement("GRAFT_FORCED_ERROR", expectError = true))
                case Left(reason) =>
                  Left(Unsupported(reason, mutating = false, sql = sql))
              }
            case None if preparedDefs.contains(nm) =>
              // the PREPARE itself was skipped (engine-conditioned): a
              // mutating body leaves its table stale, exactly as before
              Left(Unsupported("EXECUTE of a skipped PREPARE", mutating = false,
                target = mutationTarget(preparedDefs(nm)), sql = sql))
            case None if expectError =>
              Left(Statement("GRAFT_FORCED_ERROR", expectError = true))
            case None =>
              Left(Unsupported("EXECUTE of unknown prepared statement",
                mutating = false, sql = sql))
          }
      }
    val IsExecute = """(?is)^\s*EXECUTE\b.*""".r
    // SHOW <var> resolves against the tracked session state; tainted or
    // untracked vars keep skipping (never report stale values)
    def expandShowVar(sql: String, expectError: Boolean): Either[Record, String] = {
      val name = SltSession.normVar(
        SltSession.ShowVar.findFirstMatchIn(sql).get.group(1))
      if (varTainted.contains(name))
        Left(Unsupported("SHOW of a tainted session variable", mutating = false, sql = sql))
      else (if (name == "transaction_isolation" && txnActive) txnIsolation else None)
          .orElse(sessionVars.get(name)).orElse(SltSession.varDefaults.get(name)) match {
        case Some(v) => Right(s"SELECT '${v.replace("'", "''")}' AS setting")
        case None if expectError => Left(Statement("GRAFT_FORCED_ERROR", expectError = true))
        case None =>
          Left(Unsupported("SHOW of an untracked session variable", mutating = false, sql = sql))
      }
    }
    def isShowVar(sql: String): Boolean =
      SltSession.ShowVar.findFirstMatchIn(sql).isDefined
    def expandRecord(r: Record): Record = r match {
      case Statement(sql, ee, _) if IsExecute.pattern.matcher(sql).matches =>
        expandExec(sql, ee) match {
          case Right(x) => Statement(x, ee)
          case Left(rec) => rec
        }
      case q: Query if IsExecute.pattern.matcher(q.sql).matches =>
        // documented dialect diffs are matched against the EXECUTE text,
        // before binding rewrites it
        if (isKnownDiff(q.sql))
          Unsupported(s"known diff: ${knownDiffReason(q.sql).getOrElse("")}",
            mutating = false, sql = q.sql)
        else expandExec(q.sql, q.expectError) match {
          case Right(x) => q.copy(sql = x)
          case Left(Statement(marker, _, _)) => q.copy(sql = marker)
          case Left(rec) => rec
        }
      case q: Query if isShowVar(q.sql) =>
        expandShowVar(q.sql, q.expectError) match {
          case Right(x) => q.copy(sql = x)
          case Left(Statement(marker, _, _)) => q.copy(sql = marker)
          case Left(rec) => rec
        }
      case q: Query if """(?is)^\s*(?:SET|RESET)\b.*""".r.pattern.matcher(q.sql).matches =>
        Unsupported("SET/RESET as a query record", mutating = false, sql = q.sql)
      case Statement(sql, ee, _) if isShowVar(sql) &&
          !"""(?is)^\s*SHOW\s+(TABLES|VIEWS|SOURCES|SINKS|INDEXES|COLUMNS|OBJECTS|CLUSTERS|DATABASES|SCHEMAS|SECRETS|TYPES|ROLES|CONNECTIONS|SUBSCRIPTIONS|GRANTS|USERS|CONSTRAINTS|ALL)\b.*$""".r
            .pattern.matcher(sql).matches =>
        expandShowVar(sql, ee) match {
          case Right(x) => Statement(x, ee)
          case Left(rec) => rec
        }
      case other => other
    }

    records.foreach { r0 =>
      // any statement-shaped record may change base state → WMR views
      // re-materialize on next read (queries never bump the epoch)
      r0 match {
        case _: Query => ()
        case _ => mutationEpoch += 1
      }
      curFile = name
      curErrText = r0 match {
        case Statement(_, true, t) => t
        case q: Query if q.expectError => q.errorText
        case _ => ""
      }
      expandRecord(r0) match {
      case _ if poisoned => skipped += 1; tally("whole file poisoned by earlier skip")
      case Halt => ()
      case SimpleVarBlock(stmts, expected) =>
        // simple-protocol emulation over the session-variable registry:
        // the block is ONE implicit transaction (reference pgwire simple
        // protocol) — plain SET commits at block end, SET LOCAL never
        // escapes, ROLLBACK restores the pre-block state mid-block.
        val working = mutable.Map.empty[String, String] ++ sessionVars
        val pendingPlain = mutable.Map.empty[String, String]
        var rolledBack = false
        var dbError = false
        val rendered = mutable.ListBuffer.empty[String]
        var abortReason: Option[String] = None
        val SetPat =
          """(?is)^\s*SET\s+(LOCAL\s+)?([A-Za-z_][\w.]*)\s*(?:=|\s*TO\s+)\s*(.+?)\s*$""".r
        val ResetPat = """(?is)^\s*RESET\s+([A-Za-z_][\w.]*)\s*$""".r
        val ShowPat = """(?is)^\s*SHOW\s+([A-Za-z_][\w.]*)\s*$""".r
        stmts.iterator.takeWhile(_ => abortReason.isEmpty && !dbError).foreach { st =>
          st.trim match {
            case SetPat(localKw, name0, value) =>
              val n = SltSession.normVar(name0)
              SltSession.acceptSet(n, value) match {
                case SltSession.Accepted(v)
                    if n == "cluster" && !clusterNames.contains(v.toLowerCase) =>
                  // the reference validates the cluster at SET time
                  rendered += s"db error: ERROR: unknown catalog item '$v'"
                  dbError = true
                case SltSession.Accepted(v) =>
                  working(n) = v
                  if (localKw == null) pendingPlain(n) = v
                  rendered += "COMPLETE 0"
                case _ => abortReason = Some(s"SET $name0 not honored in simple block")
              }
            case ResetPat(name0) =>
              val n = SltSession.normVar(name0)
              SltSession.varDefaults.get(n) match {
                case Some(d) =>
                  working(n) = d
                  pendingPlain(n) = d
                  rendered += "COMPLETE 0"
                case None => abortReason = Some(s"RESET $name0 not honored in simple block")
              }
            case ShowPat(name0) =>
              val n = SltSession.normVar(name0)
              if (varTainted.contains(n))
                abortReason = Some("SHOW of a tainted variable in simple block")
              else working.get(n).orElse(SltSession.varDefaults.get(n)) match {
                case Some(v) => rendered += v; rendered += "COMPLETE 1"
                case None => abortReason = Some(s"SHOW $name0 untracked in simple block")
              }
            case s if s.equalsIgnoreCase("BEGIN") || s.equalsIgnoreCase("COMMIT") =>
              rendered += "COMPLETE 0"
            case s if s.equalsIgnoreCase("ROLLBACK") =>
              working.clear(); working ++= sessionVars
              pendingPlain.clear()
              rolledBack = true
              rendered += "COMPLETE 0"
            case other =>
              abortReason = Some(s"unhandled simple-block piece: ${other.take(40)}")
          }
        }
        val _ = rolledBack
        // a db error aborts the block's transaction: nothing commits, and
        // statements after the error would need abort-state rendering
        if (dbError) {
          pendingPlain.clear()
          if (rendered.size < stmts.size &&
              stmts.size != rendered.size) {
            // statements remained after the error — only claim the block
            // when the expected output is exactly the error we rendered
            if (expected.filter(_.nonEmpty) != rendered.toList)
              abortReason = Some("statements after simple-block db error")
          }
        }
        abortReason match {
          case Some(r) =>
            skipped += 1
            tally("simple protocol block", stmts.mkString("; "))
            // the skipped SETs taint their vars, exactly like before
            stmts.foreach {
              case SetPat(_, name0, _) => varTainted += SltSession.normVar(name0)
              case _ => ()
            }
            val _ = r
          case None =>
            if (rendered.toList == expected.filter(_.nonEmpty)) {
              pendingPlain.foreach { case (n, v) =>
                sessionVars(n) = v; varTainted -= n
              }
              passed += 1
            } else {
              failed += 1
              failures += s"$name simple block: got [${rendered.mkString(" | ")}] " +
                s"expected [${expected.mkString(" | ")}]"
            }
        }
      case SimpleExecBlock(_, stmts, expected)
          if stmts.exists { case (raw, sh) =>
            touchesPoisoned(raw) || touchesPoisoned(sh) } =>
        // poisoned-state contract identical to the skipped block: reads
        // would compare garbage, so skip, and the block's own mutations
        // leave their targets stale too
        skipped += 1
        tally("statement touches poisoned table" + poisonDetailSuffix(name),
          stmts.map(_._1).mkString("; "))
        stmts.foreach { case (raw, _) =>
          mutationTarget(raw).foreach(poisonedTables += _)
          """(?i)\bSET\s+(?:LOCAL\s+|SESSION\s+)?(TIME\s+ZONE|[A-Za-z_][\w.]*)""".r
            .findAllMatchIn(raw)
            .foreach(m => varTainted += SltSession.normVar(m.group(1)))
        }
      case SimpleExecBlock(blockConn, stmts, expected) =>
        // simple-protocol block with executable statements: run each piece
        // through the same emulation primitives as statement/query records
        // and compare the rendered protocol output. The reference runs the
        // block as ONE implicit transaction — on its rejection nothing
        // committed, so entry snapshots restore OUR side into sync.
        val exp = expected.map(_.trim).filter(_.nonEmpty)
        val targets = stmts.flatMap(p => mutationTarget(p._1)).distinct
        val entrySnaps = targets.flatMap { t =>
          scala.util.Try {
            val df = spark.table(t); (t, df.schema, df.collect().toSeq)
          }.toOption
        }
        var restorable = entrySnaps.size == targets.size
        val txnSave = (txnActive, txnAborted, txnReadOnly, txnQueryRan, txnIsolation)
        val txnSnapSave = Map(txnSnapshots.toSeq: _*)
        val txnDdlSave = Set(txnDdl.toSeq: _*)
        val txnActiveAtEntry = txnActive
        // a NAMED conn runs against its own variable registry; the default
        // connection runs against the session's
        val varsBase = blockConn match {
          case Some(c) => connVars.getOrElseUpdate(c, mutable.Map.empty[String, String])
          case None => sessionVars
        }
        val taintBase = blockConn match {
          case Some(c) => connVarTainted.getOrElseUpdate(c, mutable.Set.empty[String])
          case None => varTainted
        }
        val varsSave = Map(varsBase.toSeq: _*)
        val working = mutable.Map.empty[String, String] ++ varsBase
        val pendingPlain = mutable.Map.empty[String, String]
        val rendered = mutable.ListBuffer.empty[String]
        val cursorsAdded = mutable.ListBuffer.empty[String]
        var blocked: Option[String] = None // our own error / unhandled piece
        // the block is one implicit transaction: now() pins once for it
        lazy val blockNowPin =
          new java.sql.Timestamp(System.currentTimeMillis()).toString
        val SetPat =
          """(?is)^\s*SET\s+(LOCAL\s+)?([A-Za-z_][\w.]*)\s*(?:=|\s*TO\s+)\s*(.+?)\s*;?\s*$""".r
        val ResetPat = """(?is)^\s*RESET\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r
        val ShowPat = """(?is)^\s*SHOW\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r
        val TxnPat = """(?is)^\s*(BEGIN|COMMIT|ROLLBACK)\s*;?\s*$""".r
        def efdNow: Int =
          try working.getOrElse("extra_float_digits",
            SltSession.varDefaults.getOrElse("extra_float_digits", "1")).toInt
          catch { case _: Throwable => 1 }
        def renderSimpleVal(v: Any): String = v match {
          case null => "NULL"
          case b: Boolean => if (b) "t" else "f" // pg wire text
          case d: Double => pgFloatText(d, efdNow)
          case f: Float => pgFloatText(f.toDouble, efdNow, float4 = true)
          case seq: scala.collection.Seq[_] =>
            seq.map(e => if (e == null) "NULL" else renderSimpleVal(e))
              .mkString("{", ",", "}")
          case r: org.apache.spark.sql.Row =>
            (0 until r.length).map(i =>
              if (r.isNullAt(i)) "" else renderSimpleVal(r.get(i)))
              .mkString("(", ",", ")")
          case other => renderActual('T', other)
        }
        def renderRows(rows: Array[org.apache.spark.sql.Row]): Unit = {
          rows.foreach(r => rendered +=
            (0 until r.length).map(i => renderSimpleVal(r.get(i))).mkString(","))
          rendered += s"COMPLETE ${rows.length}"
        }
        // DDL combined with other statements: the reference rejects the
        // whole block up front ("X cannot be run inside a transaction
        // block", reference coord sequencing) — nothing executes on either
        // side, so reproducing the rejection is a pure classification
        val DdlPiece =
          """(?is)^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\b|DROP\s+(?:TABLE|VIEW)\b)[\s\S]*$""".r
        val multiDdl = stmts.size > 1 &&
          stmts.exists(p => DdlPiece.pattern.matcher(p._1.trim).matches)
        if (multiDdl) {
          if (exp.exists(l => l.startsWith("db error") &&
              l.contains("cannot be run inside a transaction")))
            passed += 1
          else {
            skipped += 1
            tally("simple protocol block", stmts.map(_._1).mkString("; "))
            stmts.foreach { case (raw, _) =>
              mutationTarget(raw).foreach(poisonedTables += _)
              """(?is)^\s*(?:CREATE|DROP)\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)""".r
                .findFirstMatchIn(raw)
                .foreach(m => poisonedTables += m.group(1).toLowerCase)
            }
          }
        } else if (blockConn.isDefined && txnActive) {
          // the default connection holds an OPEN transaction: another
          // connection's reads/writes against shared table state can't be
          // sequenced faithfully — skip like the unclaimed block
          skipped += 1
          tally("simple protocol block", stmts.map(_._1).mkString("; "))
          targets.foreach(poisonedTables += _)
          stmts.foreach { case (raw, _) =>
            """(?i)\bSET\s+(?:LOCAL\s+|SESSION\s+)?(TIME\s+ZONE|[A-Za-z_][\w.]*)""".r
              .findAllMatchIn(raw)
              .foreach(m => taintBase += SltSession.normVar(m.group(1)))
          }
        } else {
        stmts.iterator.takeWhile(_ => blocked.isEmpty).foreach { case (raw, sh) =>
          val st = raw.trim
          try {
            st match {
              case SetPat(localKw, name0, value) =>
                val n = SltSession.normVar(name0)
                SltSession.acceptSet(n, value) match {
                  case SltSession.Accepted(v)
                      if n == "cluster" && !clusterNames.contains(v.toLowerCase) =>
                    throw new IllegalStateException(s"unknown catalog item '$v'")
                  case SltSession.Accepted(v) =>
                    working(n) = v
                    if (localKw == null) pendingPlain(n) = v
                    rendered += "COMPLETE 0"
                  case _ => blocked = Some(s"SET $name0 not honored")
                }
              case ResetPat(name0) =>
                val n = SltSession.normVar(name0)
                SltSession.varDefaults.get(n) match {
                  case Some(d) =>
                    working(n) = d; pendingPlain(n) = d
                    rendered += "COMPLETE 0"
                  case None => blocked = Some(s"RESET $name0 not honored")
                }
              case ShowPat(name0) =>
                val n = SltSession.normVar(name0)
                if (taintBase.contains(n)) blocked = Some("SHOW of tainted var")
                else working.get(n).orElse(SltSession.varDefaults.get(n)) match {
                  case Some(v) => rendered += v; rendered += "COMPLETE 1"
                  case None => blocked = Some(s"SHOW $name0 untracked")
                }
              case TxnPat(_) =>
                // REAL txn emulation: blocks interleave with statement
                // records' explicit transactions (BEGIN here, COMMIT there)
                sessionPiece(st.stripSuffix(";"))
                rendered += "COMPLETE 0"
              case _ if """(?is)^\s*DECLARE\b[\s\S]*""".r.pattern.matcher(st).matches =>
                SltSession.DeclareCursor.findFirstMatchIn(sh.stripSuffix(";")) match {
                  case Some(dm) =>
                    val cname = dm.group(1).toLowerCase
                    val hold = Option(dm.group(2))
                      .exists(_.trim.equalsIgnoreCase("WITH HOLD"))
                    val body = dm.group(3).trim
                    if ("""(?is)^\s*SUBSCRIBE\b""".r.findFirstIn(body).isDefined)
                      parseSubscribe(body) match {
                        case Some(spec) =>
                          cursors(cname) = CursorState(
                            new org.apache.spark.sql.types.StructType(),
                            mutable.Queue.empty, hold, bad = false,
                            pending = Some(() => subscribeSnapshotDf(spark, spec)))
                          cursorsAdded += cname
                          rendered += "COMPLETE 0"
                        case None => blocked = Some("unparsed SUBSCRIBE cursor")
                      }
                    else {
                      val df = spark.sql(body)
                      cursors(cname) = CursorState(df.schema,
                        mutable.Queue(df.collect().toIndexedSeq: _*), hold,
                        bad = false)
                      cursorsAdded += cname
                      rendered += "COMPLETE 0"
                    }
                  case None => blocked = Some("unparsed DECLARE shape")
                }
              case _ if SltSession.FetchCursor
                  .findFirstMatchIn(sh.stripSuffix(";")).isDefined =>
                val fm = SltSession.FetchCursor
                  .findFirstMatchIn(sh.stripSuffix(";")).get
                renderRows(fetchCursorDf(fm).collect())
              case _ if """(?is)^\s*CLOSE\s+(\w+)\s*;?\s*$""".r.pattern.matcher(st).matches =>
                val cn = """(?is)^\s*CLOSE\s+(\w+)""".r
                  .findFirstMatchIn(st).get.group(1).toLowerCase
                if (cursors.remove(cn).isDefined) rendered += "COMPLETE 0"
                else throw new IllegalStateException(
                  s"""cursor "$cn" does not exist""")
              case s if """(?is)^\s*INSERT\b[\s\S]*""".r.pattern.matcher(s).matches =>
                if (txnActive && txnReadOnly)
                  throw new IllegalStateException("transaction in read-only mode")
                if (txnActive) { mutationTarget(s).foreach(txnSnapshot); noteTxnDdl(s) }
                val target = mutationTarget(s)
                val pre = target.flatMap(t =>
                  scala.util.Try(spark.table(t).count()).toOption)
                // transaction-stable now(): one value per (implicit) txn
                val nowPin = txnNowPin.getOrElse(blockNowPin)
                val shPinned =
                  if (!"""(?i)\bnow\s*\(""".r.findFirstIn(sh).isDefined) sh
                  else rewriteOutsideLits(sh)(seg =>
                    """(?i)\bnow\s*\(\s*\)""".r.replaceAllIn(seg,
                      Regex.quoteReplacement(s"TIMESTAMP'$nowPin'")))
                val one = canonJsonbInsert(spark, padInsertValues(spark, shPinned))
                applyMutationResult(spark, one) match {
                  case Some(Some(ret)) => renderRows(ret.collect())
                  case claimed =>
                    if (claimed.isEmpty)
                      try { spark.sql(one).collect(); () }
                      catch {
                        case e: Throwable
                            if (e.getClass.getName.toLowerCase.contains("analysis") ||
                              Option(e.getMessage).exists(_.contains("INVALID_INLINE_TABLE"))) &&
                            (typedInsertRetry(spark, one) ||
                              deepInsertRetry(spark, one) ||
                              valuesColumnRetry(spark, one)) => ()
                      }
                    val post = target.flatMap(t =>
                      scala.util.Try(spark.table(t).count()).toOption)
                    val n = (for (a <- pre; b <- post) yield math.max(b - a, 0L))
                      .getOrElse(0L)
                    rendered += s"COMPLETE $n"
                }
              case s if """(?is)^\s*(?:SELECT|VALUES)\b[\s\S]*""".r.pattern.matcher(s).matches =>
                if (txnActive) txnQueryRan = true
                refreshMvsFor(sh)
                if (PgCatalogViews.referenced(sh))
                  PgCatalogViews.register(spark, customTypeRows, indexOn.toSeq,
                    sltMvNames.keySet.toSet)
                renderRows(spark.sql(sh.stripSuffix(";")).collect())
              case s => // single-statement DDL (parser-guaranteed)
                restorable = false
                noteTxnDdl(s)
                spark.sql(sh.stripSuffix(";")).collect()
                """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
                  .findFirstMatchIn(s).foreach { m =>
                    viewDefs(m.group(1).toLowerCase) = m.group(2)
                    poisonedTables -= m.group(1).toLowerCase
                  }
                """(?i)^\s*(?:DROP|CREATE)\s+TABLE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)""".r
                  .findFirstMatchIn(s)
                  .foreach(m => poisonedTables -= m.group(1).toLowerCase)
                """(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)""".r
                  .findFirstMatchIn(s)
                  .foreach(m => viewDefs -= m.group(1).toLowerCase)
                rendered += "COMPLETE 0"
            }
          } catch {
            case e: Throwable =>
              blocked = Some(Option(e.getMessage).getOrElse(e.toString).take(120))
          }
        }
        def restoreEntry(): Unit = {
          entrySnaps.foreach { case (t, schema, rows) =>
            try spark.createDataFrame(rows.asJava, schema)
              .write.mode("overwrite").insertInto(t)
            catch { case _: Throwable => poisonedTables += t }
          }
          txnActive = txnSave._1; txnAborted = txnSave._2
          txnReadOnly = txnSave._3; txnQueryRan = txnSave._4
          txnIsolation = txnSave._5
          txnSnapshots.clear(); txnSnapshots ++= txnSnapSave
          txnDdl.clear(); txnDdl ++= txnDdlSave
          varsBase.clear(); varsBase ++= varsSave
        }
        if (blocked.isEmpty && rendered.toList == exp) {
          pendingPlain.foreach { case (n, v) => varsBase(n) = v; taintBase -= n }
          passed += 1
        } else if (exp.exists(_.startsWith("db error")) && restorable &&
            !stmts.exists(p =>
              """(?is)^\s*COMMIT\s*;?\s*$""".r.pattern.matcher(p._1.trim).matches)) {
          // the reference REJECTED the block — its implicit transaction
          // rolled back, so restoring the entry snapshots keeps both sides
          // in sync: honest skip, NO poison (this was the main cascade
          // source: write-only/read-only txn-mode rejections we don't model)
          restoreEntry()
          cursorsAdded.foreach(cursors.remove)
          if (txnActiveAtEntry) txnAborted = true
          skipped += 1
          tally("simple block: reference rejects, emulation differs",
            stmts.map(_._1).mkString("; "))
        } else {
          // the reference committed effects we could not reproduce (or our
          // output diverged) — poison the block's mutation targets and
          // taint its SETs, exactly like the fully-skipped block
          skipped += 1
          tally("simple protocol block", stmts.map(_._1).mkString("; ") +
            blocked.map(b => s" [exec: $b]").getOrElse(" [exec: output mismatch]"))
          cursorsAdded.foreach(cursors.remove)
          targets.foreach(poisonedTables += _)
          stmts.foreach { case (raw, _) =>
            """(?i)\bSET\s+(?:LOCAL\s+|SESSION\s+)?(TIME\s+ZONE|[A-Za-z_][\w.]*)""".r
              .findAllMatchIn(raw)
              .foreach(m => taintBase += SltSession.normVar(m.group(1)))
          }
        }
        }
      case Unsupported(reason, mutating, target, usql) =>
        skipped += 1
        tally(s"unsupported record: $reason", usql)
        // a skipped schema/namespace DDL changes what the reference's
        // introspection relations list — ours would answer stale, so the
        // introspection views are poisoned for the rest of the file
        if ("""(?i)^\s*(?:CREATE|DROP)\s+SCHEMA\b""".r.findFirstIn(usql).isDefined)
          poisonedTables ++= PgCatalogViews.relationNames
        // the object a skipped CREATE names exists in the reference but not
        // here — statements/queries touching it must skip, not error
        """(?is)^\s*CREATE\s+(?:CLUSTER|SOURCE|SINK|CONNECTION|SECRET|ROLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
          .findFirstMatchIn(usql).foreach(m => poisonedTables += m.group(1).toLowerCase)
        // a skipped CREATE/DROP of a current-database relation diverges the
        // full-catalog listings (a db-qualified name like other.public.t
        // lives in ANOTHER database the listing excludes — no divergence)
        if ("""(?is)^\s*(?:CREATE|DROP)\s+(?:SOURCE|SINK|TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?\w+["`]?\s*[^.\w]""".r
            .findFirstIn(usql + " ").isDefined) {
          poisonedTables += "information_schema_tables"
          poisonedTables += "information_schema_columns"
        }
        // a skipped COMMENT diverges the comment relations
        if ("""(?i)^\s*COMMENT\b""".r.findFirstIn(usql).isDefined) {
          poisonedTables += "mz_comments"; poisonedTables += "pg_description"
        }
        // any SET inside a skipped record (simple protocol blocks above
        // all) taints the variable: later SHOWs must skip, not report stale
        """(?i)\bSET\s+(?:LOCAL\s+|SESSION\s+)?(TIME\s+ZONE|[A-Za-z_][\w.]*)""".r
          .findAllMatchIn(usql)
          .foreach(m => varTainted += SltSession.normVar(m.group(1)))
        // ALTER SYSTEM SET unsafe_enable_unsafe_functions toggles the
        // mz_unsafe schema's availability (reference src/sql/src/func.rs
        // unsafe gating) — later mz_sleep/mz_panic calls must error
        """(?i)\bALTER\s+SYSTEM\s+SET\s+unsafe_enable_unsafe_functions\s*=?\s*(\w+)""".r
          .findFirstMatchIn(usql)
          .foreach(m => unsafeFnsEnabled = m.group(1).equalsIgnoreCase("true"))
        // and any MUTATION inside a skipped simple block leaves its table
        // stale — reads must skip, not compare un-applied state. A skipped
        // CREATE/DROP leaves the NAME diverged the same way (a conn=drop
        // DROP TABLE we skip would otherwise break the file's next CREATE
        // with 'already exists' instead of the poison-reset rebuild).
        if (reason == "simple protocol block")
          splitStatements(usql.split("\n----", 2)(0)).foreach { one =>
            mutationTarget(one).foreach(poisonedTables += _)
            """(?is)^\s*(?:CREATE|DROP)\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)""".r
              .findFirstMatchIn(one)
              .foreach(m => poisonedTables += m.group(1).toLowerCase)
          }
        val up = usql.trim.toUpperCase
        if (up.startsWith("PREPARE")) {
          """(?is)^\s*PREPARE\s+(\w+)\s+AS\s+(.*)$""".r.findFirstMatchIn(usql)
            .foreach(m => preparedDefs(m.group(1).toLowerCase) = m.group(2))
        } else if (up.startsWith("EXECUTE")) {
          // executing a skipped mutating PREPARE leaves its table stale
          """(?i)^\s*EXECUTE\s+(\w+)""".r.findFirstMatchIn(usql)
            .flatMap(m => preparedDefs.get(m.group(1).toLowerCase))
            .flatMap(mutationTarget)
            .foreach(poisonedTables += _)
        }
        if (mutating) target match {
          case Some(t) => poisonedTables += t
          case None => poisoned = true
        }
      case CopyLoad(table, tsv) =>
        // load the TSV through a typed cast of a string DataFrame — one
        // distributed insert, the pg COPY-FROM-STDIN analog
        try {
          val refRoot = path.substring(0, path.indexOf("/test/sqllogictest"))
          val schema = spark.table(table).schema
          val strSchema = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
            org.apache.spark.sql.types.StructField(f.name,
              org.apache.spark.sql.types.StringType)))
          val rows = Files.readAllLines(
              Paths.get(refRoot).resolve(tsv), StandardCharsets.UTF_8).asScala
            .filter(_.nonEmpty)
            .map { l =>
              val cells = l.split("\t", -1).padTo(schema.length, "\\N").take(schema.length)
              org.apache.spark.sql.Row.fromSeq(
                cells.map(c => if (c == "\\N") null else unescapeCopyText(c)))
            }.toSeq
          spark.createDataFrame(rows.asJava, strSchema)
            .select(schema.fields.toIndexedSeq.map(f =>
              org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
            .write.insertInto(table)
          passed += 1
        } catch {
          case e: Throwable =>
            skipped += 1
            tally(s"copy TSV load failed: ${e.getClass.getSimpleName}")
            poisonedTables += table.toLowerCase // un-loaded table is empty, not absent
        }
      case Statement(sql, expectError, _) if sql.startsWith("GRAFT_SCHEMA_DDL|") =>
        // user-schema DDL marker (SchemaEmulation.classify). The reference's
        // schema catalog changed (or was asked to) — the introspection
        // relations don't model user schemas, so they poison either way.
        poisonedTables ++= PgCatalogViews.relationNames
        SchemaEmulation.parseMarker(sql) match {
          case Some((true, _, drops)) =>
            drops.foreach { d =>
              try { if (!applyMutation(spark, d)) { spark.sql(d).collect(); () } }
              catch { case _: Throwable =>
                try { spark.sql(d.replace("DROP TABLE", "DROP VIEW")).collect(); () }
                catch { case _: Throwable => () }
              }
            }
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          case Some((false, _, _)) =>
            if (expectError) passed += 1
            else { skipped += 1; tally("schema DDL the reference rejects", sql) }
          case None =>
            skipped += 1; tally("schema DDL marker parse failure", sql)
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Prepare.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.Prepare.findFirstMatchIn(sql).get
        if (expectError) {
          // pg validates the body at PREPARE time and rejects it; binding
          // lazily we can't — but the statement must NOT register, so later
          // EXECUTEs take the 'unknown prepared statement' path pg would
          preparedStmts.remove(SltSession.normName(m.group(1)))
          skipped += 1; tally("statement error expected but we accept it", sql)
        } else {
          preparedStmts(SltSession.normName(m.group(1))) = SltSession.Prepared(
            Option(m.group(2)).map(SltSession.splitTop).getOrElse(Nil), m.group(3))
          passed += 1
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Deallocate.findFirstMatchIn(sql).isDefined =>
        val n = SltSession.normName(SltSession.Deallocate.findFirstMatchIn(sql).get.group(1))
        val known = if (n == "all") { preparedStmts.clear(); preparedDefs.clear(); true }
          else preparedStmts.remove(n).isDefined | preparedDefs.remove(n).isDefined
        if (expectError) {
          if (!known) passed += 1 // pg errors on unknown names — so do we
          else { skipped += 1; tally("statement error expected but we accept it", sql) }
        } else if (known) passed += 1
        else { skipped += 1; tally("DEALLOCATE of unknown prepared statement", sql) }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.RollbackTo.findFirstMatchIn(sql).isDefined =>
        // partial rollback is not emulated: everything this txn touched is
        // stale from here on
        skipped += 1; tally("ROLLBACK TO SAVEPOINT unsupported", sql)
        txnSnapshots.keys.foreach(poisonedTables += _)
        txnDdl.foreach(poisonedTables += _)
        txnClear()
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Begin.findFirstMatchIn(sql).isDefined =>
        // nested BEGIN is a pg warning, not an error — the txn continues,
        // and a READ WRITE/READ ONLY tail ADJUSTS the mode: switching to
        // read-WRITE is rejected once a query ran, switching to read-only
        // is always allowed (corpus transactions.slt:511-570). mz has no
        // BEGIN AS OF (txn_as_of.slt expects the parser's rejection).
        if ("""(?is)\bAS\s+OF\b""".r.findFirstIn(sql).isDefined) {
          if (expectError) passed += 1
          else { skipped += 1; tally("statement dialect error: DialectSkip", sql) }
        } else if (txnActive && txnQueryRan &&
            """(?is)\bREAD\s+WRITE\b""".r.findFirstIn(sql).isDefined) {
          if (expectError) passed += 1
          else { skipped += 1; tally("txn mode change the reference rejects", sql) }
        } else {
          if (!txnActive) {
            txnActive = true; txnAborted = false; txnQueryRan = false
            txnReadOnly = """(?is)\bREAD\s+ONLY\b""".r.findFirstIn(sql).isDefined
            txnNowPin = Some(
              new java.sql.Timestamp(System.currentTimeMillis()).toString)
          } else {
            if ("""(?is)\bREAD\s+WRITE\b""".r.findFirstIn(sql).isDefined)
              txnReadOnly = false
            if ("""(?is)\bREAD\s+ONLY\b""".r.findFirstIn(sql).isDefined)
              txnReadOnly = true
          }
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Commit.findFirstMatchIn(sql).isDefined =>
        if (txnAborted) txnRestore() // COMMIT of an aborted txn rolls back
        txnClear()
        if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
        else passed += 1
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Rollback.findFirstMatchIn(sql).isDefined =>
        txnRestore(); txnClear()
        if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
        else passed += 1
      case ResetServer =>
        sessionVars.clear(); varTainted.clear(); preparedStmts.clear()
        preparedDefs.clear(); txnClear()
      case TypeDdl(ok, err, expectError, tsql) =>
        // a successful DROP TYPE evicts the type's comments (mz cascades
        // comment records with the object)
        if (ok) """(?is)^\s*DROP\s+TYPE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)""".r
          .findFirstMatchIn(tsql).foreach { m =>
            val n = graft.sql.GraftSqlCatalog.normId(m.group(1))
            graft.sql.GraftSqlCatalog.commentsFor(spark)
              .filterInPlace((k, _) => k._1 != n)
            graft.sql.GraftSqlCatalog.commentMetaFor(spark)
              .filterInPlace((k, _) => k._1 != n)
          }
        if (ok == !expectError) passed += 1
        else if (ok) { skipped += 1
          tally("statement error expected but we accept it",
            if (tsql.nonEmpty) tsql else "TYPE_DDL") }
        else { skipped += 1; tally(s"type DDL rejected: ${err.take(60)}") }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.SetUnsupportedForm.findFirstMatchIn(sql).isDefined =>
        skipped += 1; tally("SET form with no analog (cluster setting/role)", sql)
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.SetSessionIsolation.findFirstMatchIn(sql).isDefined =>
        // last write wins across a comma list ("... LEVEL A, ISOLATION LEVEL B")
        val v = SltSession.SetSessionIsolation.findFirstMatchIn(sql).get.group(1)
          .split(",").last.replaceAll("(?i)^\\s*ISOLATION\\s+LEVEL\\s+", "")
        SltSession.isolationValue(SltSession.normVarValue("transaction_isolation", v)) match {
          case SltSession.Accepted(x) =>
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else {
              sessionVars("transaction_isolation") = x
              varTainted -= "transaction_isolation"
              passed += 1
            }
          case _ =>
            if (expectError) passed += 1
            else { skipped += 1; tally("SET isolation value not honored", sql)
              varTainted += "transaction_isolation" }
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.SetTxnScoped.findFirstMatchIn(sql).isDefined =>
        // `SET TRANSACTION ...` scopes to the current transaction only; an
        // isolation level set inside an open txn is visible to SHOW until
        // the txn ends. Only the pg transaction modes are valid — other
        // tails (crdb AS OF, PRIORITY...) error like the reference.
        val tail = """(?is)^\s*SET\s+TRANSACTION\s+(.*?)\s*;?\s*$""".r
          .findFirstMatchIn(sql).map(_.group(1)).getOrElse("")
        // mz accepts only ISOLATION LEVEL here — access modes error with
        // "SET TRANSACTION <access-mode> not yet supported" (vars.slt)
        val validModes = tail.nonEmpty && tail.split(",").forall { m0 =>
          val m = m0.trim
          m.matches("(?is)ISOLATION\\s+LEVEL\\s+.+") &&
            (SltSession.isolationValue(
              m.replaceAll("(?is)^ISOLATION\\s+LEVEL\\s+", "")
                .replace("'", "")) match {
              case SltSession.Accepted(_) => true; case _ => false
            })
        }
        if (!validModes) {
          if (expectError) passed += 1
          else { skipped += 1; tally("SET TRANSACTION mode not honored", sql) }
        } else {
          if (txnActive) {
            """(?is)ISOLATION\s+LEVEL\s+(.+?)\s*(?:,|;|$)""".r.findFirstMatchIn(tail)
              .foreach { m =>
                SltSession.isolationValue(m.group(1).replace("'", "").trim) match {
                  case SltSession.Accepted(x) => txnIsolation = Some(x)
                  case _ => ()
                }
              }
            if ("""(?i)\bREAD\s+ONLY\b""".r.findFirstIn(tail).isDefined) txnReadOnly = true
          }
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.SetVar.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.SetVar.findFirstMatchIn(sql).get
        val name = SltSession.normVar(Option(m.group(1)).getOrElse(m.group(2)))
        val value = m.group(3)
        if (name == "transaction_isolation" && txnActive && txnQueryRan) {
          // reference: 'SET TRANSACTION ISOLATION LEVEL must be called
          // before any query' (corpus transactions.slt:788)
          if (expectError) passed += 1
          else { skipped += 1; tally("SET value the reference rejects", sql); varTainted += name }
        } else if (name == "cluster" && txnActive) {
          // reference: 'SET cluster cannot be called in an active
          // transaction' (corpus transactions.slt:975)
          if (expectError) passed += 1
          else { skipped += 1; tally("SET value the reference rejects", sql); varTainted += name }
        } else {
        val known = SltSession.varDefaults.contains(name) ||
          (SltSession.acceptSet(name, value) match {
            case SltSession.Unhonored => false; case _ => true
          })
        if (!known) {
          // unknown parameter: the engine errors, and the reference's OWN
          // runner then counts the record a no-op SUCCESS ("CockroachDB
          // tests configure many CockroachDB-specific session settings",
          // runner.rs run_statement) — match it, keeping the var tainted
          // so later SHOWs of it still skip
          if (expectError) passed += 1
          else {
            passed += 1; varTainted += name
            // a database/search_path switch re-scopes the reference's whole
            // catalog — introspection views AND identity functions must
            // skip from here on
            if (name == "database" || name == "search_path") {
              poisonedTables ++= PgCatalogViews.relationNames
              poisonedTables += "current_database"
              poisonedTables += "current_catalog"
              poisonedTables += "current_schema"
            }
          }
        } else SltSession.acceptSet(name, value) match {
          case SltSession.Accepted(v) =>
            // reference: real_time_recency and bounded-staleness isolation
            // are mutually exclusive (bounded_staleness.slt:72-87); the
            // rejected SET leaves both variables unchanged
            val rtcConflict =
              (name == "transaction_isolation" && v.startsWith("bounded staleness") &&
                sessionVars.getOrElse("real_time_recency", "off") == "on") ||
              (name == "real_time_recency" && v.toLowerCase == "on" &&
                sessionVars.getOrElse("transaction_isolation", "")
                  .startsWith("bounded staleness"))
            if (rtcConflict) {
              if (expectError) passed += 1
              else { skipped += 1; tally("SET value the reference rejects", sql); varTainted += name }
            }
            else if (expectError) {
              // the reference REJECTED this SET — its session state did not
              // change, so ours must not either
              skipped += 1; tally("statement error expected but we accept it", sql)
            } else {
              sessionVars(name) = v; varTainted -= name; passed += 1
              // an honored database switch re-scopes the introspection
              // relations' CONTENTS (user relations are handled by the
              // parse-time database layer; the catalog views are not
              // db-partitioned here) and the identity constants
              if (name == "database" &&
                  !Set("test", "materialize", "defaultdb").contains(v.toLowerCase)) {
                poisonedTables ++= PgCatalogViews.relationNames
                poisonedTables += "current_database"
                poisonedTables += "current_catalog"
              }
            }
          case SltSession.Invalid =>
            if (expectError) passed += 1
            else { skipped += 1; tally("SET value the reference rejects", sql); varTainted += name }
          case SltSession.Unhonored =>
            // known var, unhonorable value (would change engine behavior)
            skipped += 1; tally("SET value not honored by the runner", sql)
            varTainted += name
            if (name == "database" || name == "search_path") {
              poisonedTables ++= PgCatalogViews.relationNames
              poisonedTables += "current_database"
              poisonedTables += "current_catalog"
              poisonedTables += "current_schema"
            }
        }
        }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.ResetVar.findFirstMatchIn(sql).isDefined =>
        val n = SltSession.normVar(SltSession.ResetVar.findFirstMatchIn(sql).get.group(1))
        if (n == "transaction_isolation" && txnActive && txnQueryRan) {
          if (expectError) passed += 1
          else { skipped += 1; tally("SET value the reference rejects", sql); varTainted += n }
        } else if (n == "all") {
          sessionVars.clear(); varTainted.clear(); passed += 1
        } else if (SltSession.varDefaults.contains(n)) {
          sessionVars -= n; varTainted -= n
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError) passed += 1
        else { passed += 1; varTainted += n } // reference runner: no-op success
      case Statement(sql, _, _) if isSingle(sql) && """(?is)^\s*(?:SET|RESET)\b.*""".r.pattern.matcher(sql).matches =>
        // any other SET/RESET spelling: never let it reach Spark's native
        // SET command (it would "succeed" by writing an unrelated conf key)
        skipped += 1; tally("SET/RESET shape not handled", sql)
      case Statement(sql, expectError, _) if isSingle(sql) &&
          """(?is)^\s*CREATE\s+TEMPORARY\s+VIEW\s+IF\s+NOT\s+EXISTS\s+(\w+)""".r
            .findFirstMatchIn(sql).isDefined =>
        // Spark's grammar rejects TEMP VIEW + IF NOT EXISTS; emulate the
        // no-op-when-present semantics (the shim maps pg CREATE VIEW IF NOT
        // EXISTS here)
        val vn = """(?is)^\s*CREATE\s+TEMPORARY\s+VIEW\s+IF\s+NOT\s+EXISTS\s+(\w+)""".r
          .findFirstMatchIn(sql).get.group(1)
        if (spark.catalog.tableExists(vn.toLowerCase)) {
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else {
          try {
            spark.sql(sql.replaceFirst("(?is)IF\\s+NOT\\s+EXISTS\\s+", "")).collect()
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          } catch {
            case e: Throwable =>
              if (expectError) passed += 1
              else {
                poisonedTables += vn.toLowerCase
                skipped += 1
                tally(s"statement dialect error: ${e.getClass.getSimpleName}", sql)
              }
          }
        }
      case Statement(sql, true, _) if isSingle(sql) && {
        // expected-error DROP VIEW with a live dependent view: the
        // reference requires CASCADE. Expected-error records ONLY — an
        // unconditional gate trips on stale dependency edges (multi-name
        // drops, MV recreate cycles) and skips legitimate drops.
        val m = """(?is)^\s*DROP\s+(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s*;?\s*$""".r
          .findFirstMatchIn(sql)
        m.exists { x =>
          val v = x.group(1).toLowerCase
          (viewDefs ++ phantomViewDefs).exists {
            case (n, d) => n != v && refsWord(d, v) }
        }
      } =>
        passed += 1
      case Statement(sql, expectError, _) if sql.startsWith("GRAFT_TYPE_COL_COMMENT|") =>
        // COMMENT ON COLUMN of a session-registered RECORD type: stored
        // against the type with the field's 1-based position (mz comments
        // on type columns; list/map custom types have no columns — the
        // reference rejects those)
        val tail = sql.stripPrefix("GRAFT_TYPE_COL_COMMENT|")
        val fieldIdx = tail.takeWhile(_ != '|').toInt
        val orig = tail.dropWhile(_ != '|').drop(1)
        graft.sql.GraftSqlParser.CommentOn.findFirstMatchIn(orig) match {
          case Some(cm) =>
            val parts = cm.group(2).replace("\"", "").split("\\.").map(_.trim)
            val tn = SltSession.normName(parts.head)
            if (fieldIdx == -2) {
              if (expectError) passed += 1
              else { skipped += 1; tally("COMMENT ON COLUMN of a columnless type", orig) }
            } else if (fieldIdx < 0) {
              if (expectError) passed += 1
              else { skipped += 1; tally("COMMENT ON unknown type column", orig) }
            } else {
              val txt = cm.group(3)
              val key = (tn, Some(fieldIdx + 1))
              if (txt.equalsIgnoreCase("NULL")) {
                graft.sql.GraftSqlCatalog.commentsFor(spark).remove(key)
                graft.sql.GraftSqlCatalog.commentMetaFor(spark).remove(key)
              } else {
                graft.sql.GraftSqlCatalog.commentsFor(spark).put(key,
                  txt.stripPrefix("'").stripSuffix("'").replace("''", "'"))
                graft.sql.GraftSqlCatalog.commentMetaFor(spark).put(key,
                  (None, graft.sql.GraftSqlCatalog.nextCommentSeq()))
              }
              if (expectError) { skipped += 1; tally("statement error expected but we accept it", orig) }
              else passed += 1
            }
          case None =>
            skipped += 1; tally("COMMENT ON COLUMN parse failure", orig)
        }
      case Statement(sql, expectError, _) if sql.startsWith("GRAFT_WEBHOOK|") =>
        // webhook source: an EMPTY relation of the declared shape (body
        // NOT NULL; jsonb/map markers carry the pg-level column types for
        // SHOW COLUMNS), registered as a SOURCE for mz_comments
        val parts = sql.split("\\|", -1)
        val (nm, fmt, hdr) = (parts(1), parts(2), parts(3) == "H")
        import org.apache.spark.sql.types._
        val bodyMeta =
          if (fmt == "JSON")
            new MetadataBuilder().putString("comment", "graft_jsonb").build()
          else Metadata.empty
        val fs = mutable.Buffer(StructField("body",
          if (fmt == "BYTES") BinaryType else StringType,
          nullable = false, bodyMeta))
        if (hdr) fs += StructField("headers",
          MapType(StringType, StringType), nullable = false,
          new MetadataBuilder().putString("comment", "graft_showtype_map").build())
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(fs.toSeq)).createOrReplaceTempView(nm)
        graft.sql.GraftSqlCatalog.sourcesFor(spark).put(nm.toLowerCase, "WEBHOOK")
        if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
        else passed += 1
      case Statement(sql, expectError, _) if sql.startsWith("GRAFT_DROP_SOURCE|") =>
        val parts = sql.split("\\|", -1)
        val (nm, ifExists) = (parts(1), parts(2) == "IE")
        val reg = graft.sql.GraftSqlCatalog.sourcesFor(spark)
        if (reg.remove(nm.toLowerCase).isDefined) {
          spark.catalog.dropTempView(nm)
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError || ifExists) passed += 1
        else {
          skipped += 1; tally("DROP SOURCE of unregistered source", sql)
          poisonedTables += nm.toLowerCase
          poisonedTables += "information_schema_tables"
          poisonedTables += "information_schema_columns"
        }
      case Statement(sql, expectError, _) if sql.startsWith("GRAFT_SUBSCRIBE_STMT|") =>
        val orig = sql.stripPrefix("GRAFT_SUBSCRIBE_STMT|")
        parseSubscribe(orig) match {
          case Some(spec) if expectError =>
            // the reference's plan-time rejections (AS OF / UP TO
            // castability, unmaterializable functions, envelope keys)
            if (scala.util.Try(subscribeValidate(spec)).isFailure) passed += 1
            else { skipped += 1; tally("statement error expected but we accept it", orig) }
          case _ =>
            // ok-expecting statement SUBSCRIBE: a subscription stream has
            // no statement-position analog here — honest skip, as before
            skipped += 1; tally("no Spark analog: SUBSCRIBE", orig)
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.DeclareCursor.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.DeclareCursor.findFirstMatchIn(sql).get
        val name = m.group(1).toLowerCase
        val hold = Option(m.group(2)).exists(_.trim.equalsIgnoreCase("WITH HOLD"))
        val body = m.group(3).trim
        val subscribeSpec =
          if ("""(?is)^\s*SUBSCRIBE\b""".r.findFirstIn(body).isDefined &&
              !touchesPoisoned(body))
            parseSubscribe(body)
          else None
        if (subscribeSpec.isDefined) {
          // SUBSCRIBE cursor: one-shot snapshot, materialized lazily at
          // first FETCH (the reference defers evaluation — a bad body
          // errors at FETCH, and DECLARE itself always succeeds)
          val spec = subscribeSpec.get
          cursors(name) = CursorState(new org.apache.spark.sql.types.StructType(),
            mutable.Queue.empty, hold, bad = false,
            pending = Some(() => subscribeSnapshotDf(spark, spec)))
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if ("""(?is)^\s*SUBSCRIBE\b""".r.findFirstIn(body).isDefined ||
            touchesPoisoned(body)) {
          // unparseable SUBSCRIBE tails; a poisoned body can't be
          // materialized honestly — FETCHes of it must skip
          cursors(name) = CursorState(new org.apache.spark.sql.types.StructType(),
            mutable.Queue.empty, hold, bad = true)
          skipped += 1; tally("DECLARE CURSOR body unsupported", sql)
        } else {
          try {
            val df = spark.sql(body)
            val rows = mutable.Queue(df.collect().toIndexedSeq: _*)
            cursors(name) = CursorState(df.schema, rows, hold, bad = false)
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          } catch {
            case e: Throwable =>
              if (expectError) passed += 1
              else {
                cursors(name) = CursorState(new org.apache.spark.sql.types.StructType(),
                  mutable.Queue.empty, hold, bad = true)
                skipped += 1
                tally(s"DECLARE CURSOR dialect error: ${e.getClass.getSimpleName}", sql)
              }
          }
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.FetchCursor.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.FetchCursor.findFirstMatchIn(sql).get
        val name = m.group(2).toLowerCase
        val negTimeout = Option(m.group(3)).exists(_.startsWith("'-"))
        cursors.get(name) match {
          case _ if negTimeout => // reference: negative TIMEOUT rejected
            if (expectError) passed += 1
            else { skipped += 1; tally("FETCH TIMEOUT the reference rejects", sql) }
          case _ if timeoutOutOfRange(Option(m.group(3))) =>
            // reference: TIMEOUT > 24h is out of range
            if (expectError) passed += 1
            else { skipped += 1; tally("FETCH TIMEOUT the reference rejects", sql) }
          case Some(c) if c.bad =>
            skipped += 1; tally("FETCH from unsupported cursor", sql)
          case Some(c0) =>
            // a pending SUBSCRIBE body materializes here; its evaluation
            // error is THIS statement's error (reference defers to FETCH)
            scala.util.Try(forceCursor(name, c0)) match {
              case scala.util.Failure(e) =>
                cursors(name) = c0.copy(bad = true, pending = None)
                if (e.isInstanceOf[DialectSkip]) {
                  skipped += 1; tally("FETCH from unsupported cursor", sql)
                } else if (expectError) passed += 1
                else { skipped += 1; tally("FETCH of erroring SUBSCRIBE body", sql) }
              case scala.util.Success(c) =>
                val n = Option(m.group(1)).map(_.trim) match {
                  case Some(a) if a.equalsIgnoreCase("ALL") => c.rows.size
                  case Some(d) => d.toInt
                  case None => 1
                }
                (1 to n).foreach(_ => if (c.rows.nonEmpty) { c.rows.dequeue(); () })
                if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
                else passed += 1
            }
          case None => // unknown cursor errors, like pg
            if (expectError) passed += 1
            else { skipped += 1; tally("FETCH of unknown cursor", sql) }
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.CloseCursor.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.CloseCursor.findFirstMatchIn(sql).get
        if (m.group(1) != null) { // CLOSE ALL
          cursors.clear()
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (cursors.remove(m.group(2).toLowerCase).isDefined) {
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError) passed += 1
        else { skipped += 1; tally("CLOSE of unknown cursor", sql) }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.DropClusterReplicaStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.DropClusterReplicaStmt.findFirstMatchIn(sql).get
        val (c, r) = (m.group(1).toLowerCase, m.group(2).toLowerCase)
        val known = clusterNames.get(c).exists(_.remove(r))
        if (known) {
          graft.sql.GraftSqlCatalog.commentsFor(spark)
            .filterInPlace((k, _) => k._1 != s"$c.$r")
          graft.sql.GraftSqlCatalog.commentMetaFor(spark)
            .filterInPlace((k, _) => k._1 != s"$c.$r")
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError) passed += 1
        else { skipped += 1; tally("DROP of unknown cluster replica", sql) }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.CreateClusterReplicaStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.CreateClusterReplicaStmt.findFirstMatchIn(sql).get
        val (c, r) = (m.group(1).toLowerCase, m.group(2).toLowerCase)
        clusterNames.get(c) match {
          case Some(rs) if !rs.contains(r) =>
            rs += r
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          case _ => // unknown cluster / duplicate replica: the reference errors
            if (expectError) passed += 1
            else { skipped += 1; tally("cluster replica DDL the reference rejects", sql) }
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.DropClusterStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.DropClusterStmt.findFirstMatchIn(sql).get
        val c = m.group(2).toLowerCase
        if (clusterNames.remove(c).isDefined) {
          graft.sql.GraftSqlCatalog.commentsFor(spark)
            .filterInPlace((k, _) => k._1 != c && !k._1.startsWith(s"$c."))
          graft.sql.GraftSqlCatalog.commentMetaFor(spark)
            .filterInPlace((k, _) => k._1 != c && !k._1.startsWith(s"$c."))
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError) passed += 1 // unknown cluster errors, like mz
        else if (m.group(1) != null) passed += 1 // IF EXISTS: no-op success
        else { skipped += 1; tally("DROP of unknown cluster", sql) }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.CreateClusterStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.CreateClusterStmt.findFirstMatchIn(sql).get
        val c = m.group(1).toLowerCase
        if (clusterNames.contains(c)) {
          if (expectError) passed += 1
          else { skipped += 1; tally("cluster DDL the reference rejects", sql) }
        } else {
          // replica names from a REPLICAS (r1 (..), r2 (..)) tail; a
          // managed-size cluster gets the implicit r1
          val tail = Option(m.group(2)).getOrElse("")
          val reps = """(?is)\bREPLICAS\s*\((.*)\)""".r.findFirstMatchIn(tail)
            .map(rm => splitTopLevel(rm.group(1), ',')
              .map(_.trim.takeWhile(ch => isWordChar(ch))).filter(_.nonEmpty))
            .getOrElse(List("r1"))
          clusterNames(c) = mutable.LinkedHashSet(reps: _*)
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.CreateDefaultIndexStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.CreateDefaultIndexStmt.findFirstMatchIn(sql).get
        val rel = m.group(2)
        // the relation may be KNOWN to the session without a live Spark
        // table: lazy WMR views, MVs/views whose CREATE was a dialect
        // failure (phantom), or poisoned relations — the reference created
        // the index fine, and an index is a semantic no-op here
        def indexRelKnown(r: String): Boolean = {
          val n = r.toLowerCase
          spark.catalog.tableExists(r) ||
            graft.sql.GraftSqlCatalog.wmrViewsFor(spark)
              .contains(graft.sql.GraftSqlCatalog.normId(r)) ||
            sltMvNames.contains(n) || viewDefs.contains(n) ||
            phantomViewDefs.contains(n) || poisonedTables.contains(n)
        }
        if (!indexRelKnown(rel)) {
          if (expectError) passed += 1
          else { skipped += 1; tally("CREATE INDEX on unknown relation", sql) }
        } else {
          val idxName = Option(m.group(1)).map(SltSession.normName)
            .getOrElse(rel.toLowerCase + "_primary_idx")
          indexNames += idxName
          indexOn(idxName) = rel.toLowerCase
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.CreateIndexStmt.findFirstMatchIn(sql).isDefined =>
        // semantic no-op (an index never changes results); validate the
        // relation and remember the name so DROP INDEX can resolve it
        val m = SltSession.CreateIndexStmt.findFirstMatchIn(sql).get
        val rel = m.group(2)
        if ("""(?i)\bSTORING\s*\(""".r.findFirstIn(sql).isDefined) {
          // the reference's parser stops at the column list — crdb's
          // STORING clause is 'Expected end of statement, found identifier
          // "storing"' (corpus cockroach/storing.slt:85)
          if (expectError) passed += 1
          else { skipped += 1; tally("statement dialect error: DialectSkip", sql) }
        }
        else if (!{
          val n = rel.toLowerCase
          spark.catalog.tableExists(rel) ||
            graft.sql.GraftSqlCatalog.wmrViewsFor(spark)
              .contains(graft.sql.GraftSqlCatalog.normId(rel)) ||
            sltMvNames.contains(n) || viewDefs.contains(n) ||
            phantomViewDefs.contains(n) || poisonedTables.contains(n)
        }) {
          if (expectError) passed += 1
          else { skipped += 1; tally("CREATE INDEX on unknown relation", sql) }
        } else {
          // expected-error records: reproduce the rejections the
          // reference raises that a registry no-op would hide —
          // duplicate index name, unknown column, opclass decoration
          val dupName = Option(m.group(1))
            .exists(n => indexNames.contains(SltSession.normName(n)))
          lazy val tableCols =
            try spark.table(rel).schema.fieldNames.map(_.toLowerCase).toSet
            catch { case _: Throwable => Set.empty[String] }
          val colList = """(?is)\(([^()]*)\)\s*(?:WHERE\b.*)?;?\s*$""".r
            .findFirstMatchIn(sql).map(_.group(1)).getOrElse("")
          val items = colList.split(",").map(_.trim).filter(_.nonEmpty)
          val badItem = items.exists { it =>
            val words = it.split("\\s+").toSeq
            val head = words.head.toLowerCase.replace("\"", "")
            val decorations = words.tail.map(_.toUpperCase)
            val opclassy = decorations.exists(w =>
              !Set("ASC", "DESC", "NULLS", "FIRST", "LAST").contains(w))
            (head.matches("[a-z_]\\w*") && tableCols.nonEmpty &&
              !tableCols.contains(head)) || opclassy
          }
          if (expectError && (dupName || badItem)) passed += 1
          else {
            Option(m.group(1)).foreach { n =>
              indexNames += SltSession.normName(n)
              indexOn(SltSession.normName(n)) = rel.toLowerCase
            }
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          }
        }
      case Statement(sql, expectError, _) if isSingle(sql) &&
          SltSession.DropIndexStmt.findFirstMatchIn(sql).isDefined =>
        val m = SltSession.DropIndexStmt.findFirstMatchIn(sql).get
        val known = indexNames.remove(SltSession.normName(m.group(2)))
        indexOn -= SltSession.normName(m.group(2))
        // the reference drops the index's comments with it
        graft.sql.GraftSqlCatalog.commentsFor(spark)
          .filterInPlace((k, _) => k._1 != SltSession.normName(m.group(2)))
        if (known || m.group(1) != null) {
          if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
          else passed += 1
        } else if (expectError) passed += 1 // unknown index errors, like mz
        else { skipped += 1; tally("DROP INDEX of unknown index", sql) }
      case Statement(sql, expectError, _) if isSingle(sql) && SltSession.Discard.findFirstMatchIn(sql).isDefined =>
        SltSession.Discard.findFirstMatchIn(sql).get.group(1).toUpperCase match {
          case "ALL" =>
            // DISCARD ALL resets the whole session (pg): vars to defaults,
            // portals gone — taint clears because state is known again
            sessionVars.clear(); varTainted.clear(); preparedStmts.clear()
            preparedDefs.clear()
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          case "PLANS" | "SEQUENCES" =>
            if (expectError) { skipped += 1; tally("statement error expected but we accept it", sql) }
            else passed += 1
          case _ => // TEMP drops temp tables — not emulated; whole file unsafe
            skipped += 1; tally("DISCARD TEMP unsupported", sql)
            poisoned = true
        }
      case Statement(sql, false, _)
          if touchesPoisoned(sql) && poisonResetTarget(sql).isDefined =>
        // full-state rebuild of a poisoned relation: best-effort clean any
        // half-state, execute, and clear the poison (see PoisonResetStmt)
        val t = poisonResetTarget(sql).get
        try { spark.catalog.dropTempView(t); () } catch { case _: Throwable => () }
        try {
          noteTxnDdl(sql) // mid-txn DDL is unrestorable on rollback
          spark.sql(s"DROP TABLE IF EXISTS `$t`").collect()
          if (sql.trim.toUpperCase.startsWith("CREATE")) { spark.sql(sql).collect(); () }
          // DROP cascades to the relation's indexes (mirror of the clean path)
          val dead = indexOn.collect { case (i, on) if on == t => i }
          dead.foreach { i =>
            indexOn -= i; indexNames -= i
            graft.sql.GraftSqlCatalog.commentsFor(spark)
              .filterInPlace((k, _) => k._1 != i)
          }
          poisonedTables -= t
          passed += 1
        } catch {
          case _: Throwable =>
            skipped += 1
            poisonedTables += t
            tally("statement touches poisoned table" + poisonDetailSuffix(name), sql)
        }
      case Statement(sql, _, _) if {
          val (vt, vs) = valuePoisonReached(sql)
          (vt.nonEmpty || vs) && !touchesPoisoned(sql) && (
            """(?is)^\s*(UPDATE|DELETE)\b""".r.findFirstIn(sql).isDefined ||
            ("""(?is)^\s*(INSERT|CREATE)\b""".r.findFirstIn(sql).isDefined &&
              """(?i)\bSELECT\b""".r.findFirstIn(sql).isDefined))
        } =>
        // a mutation/materialization READING sentinel-clamped cells could
        // diverge arbitrarily — escalate to full poison
        val (vt, _) = valuePoisonReached(sql)
        vt.foreach { t => poisonedTables += t; valuePoisoned -= t }
        mutationTarget(sql).foreach(poisonedTables += _)
        """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
          .findFirstMatchIn(sql).foreach(m => poisonedTables += m.group(1).toLowerCase)
        skipped += 1
        tally("statement touches poisoned table" + poisonDetailSuffix(name), sql)
      case Statement(sql, _, _) if touchesPoisoned(sql) && !viewResetEligible(sql) =>
        skipped += 1
        tally("statement touches poisoned table" + poisonDetailSuffix(name),
          poisonedTables.filter(t => refsWord(sql, t)).toSeq.sorted
            .mkString("[", ",", "] ") + sql)
        // a skipped COMMENT diverges the comment relations from the
        // reference — their readers must skip too
        if ("""(?i)^\s*COMMENT\b""".r.findFirstIn(sql).isDefined) {
          poisonedTables += "mz_comments"; poisonedTables += "pg_description"
        }
        // a skipped statement that WRITES a table (e.g. INSERT ... SELECT
        // from a poisoned source) leaves its target stale too — without
        // this, later reads of the target compare garbage instead of
        // skipping
        mutationTarget(sql).foreach(poisonedTables += _)
      case Statement(sql, expectError, _) =>
        try {
          unsafeFnCheck(sql)
          // the reference rejects views whose bodies use wildcard
          // expansions or NATURAL JOINs over SYSTEM relations (their
          // column sets evolve across releases; reference ddl.rs view
          // planning, disambiguate_columns.slt:12-19)
          if ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MATERIALIZED\s+)?VIEW\b""".r
                .findFirstIn(sql).isDefined &&
              PgCatalogViews.referenced(sql) && {
                val bare = stripLits(sql)
                """(?is)(?:\bSELECT\s+(?:DISTINCT\s+)?|,\s*|\.\s*)\*""".r
                  .findFirstIn(bare).isDefined ||
                  """(?i)\bNATURAL\s+JOIN\b""".r.findFirstIn(bare).isDefined
              })
            throw new IllegalStateException(
              "cannot use wildcard expansions or NATURAL JOINs in a view " +
                "that depends on system objects")
          // dependent DDL (CREATE VIEW over a WMR view) analyzes the WMR
          // name — materialize it first
          refreshWmrFor(sql)
          // a CREATE VIEW whose body reads the introspection relations
          // (e.g. the autogenerated census files' CREATE VIEW objects over
          // mz_columns/mz_schemas) needs them registered at analysis time.
          // Deliberately NOT for other statements: a CREATE/DROP TABLE
          // merely NAMED pg_class (comment.slt shadows catalog names) must
          // not conjure a same-named catalog temp view that the table
          // operation then resolves instead of its own relation.
          if ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MATERIALIZED\s+)?VIEW\b""".r
                .findFirstIn(sql).isDefined &&
              PgCatalogViews.referenced(sql))
            PgCatalogViews.register(spark, customTypeRows, indexOn.toSeq,
              sltMvNames.keySet.toSet)
          // pg parses the ENTIRE compound before executing ANY piece — a
          // parse error in a later piece runs nothing
          // (cockroach/multi_statement.slt: INSERT ok; INSERT <garbage>).
          // Session/marker/RETURNING pieces have their own dialects and are
          // exempt from the Spark pre-parse.
          locally {
            val pieces0 = splitStatements(sql)
            if (pieces0.lengthCompare(1) > 0) pieces0.foreach { one =>
              val t = one.trim
              if (!"""(?is)^(SET|RESET|SHOW|BEGIN|COMMIT|ROLLBACK|START|DECLARE|FETCH|CLOSE|DISCARD|PREPARE|EXECUTE|DEALLOCATE|COPY|GRAFT_)""".r
                    .findFirstIn(t).isDefined &&
                  !"""(?i)\bRETURNING\b""".r.findFirstIn(t).isDefined) {
                spark.sessionState.sqlParser.parsePlan(t); ()
              }
            }
          }
          splitStatements(sql).foreach { one0 =>
            val one = canonJsonbInsert(spark, padInsertValues(spark, one0))
            if (!sessionPiece(one)) {
              if (txnActive) {
                if (txnReadOnly && mutationTarget(one).isDefined)
                  throw new IllegalStateException("transaction in read-only mode")
                mutationTarget(one).foreach(txnSnapshot); noteTxnDdl(one)
              }
              // reference: INSERT/UPDATE/DELETE are rejected while bounded
              // staleness isolation is active (bounded_staleness.slt:109)
              if (sessionVars.getOrElse("transaction_isolation", "")
                    .startsWith("bounded staleness") &&
                  """(?is)^\s*(INSERT|UPDATE|DELETE)\b""".r.findFirstIn(one).isDefined)
                throw new IllegalStateException(
                  "writes are not permitted under bounded staleness isolation")
              if (!applyMutation(spark, one)) { spark.sql(one).collect(); () }
            }
          }
          """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
            .findFirstMatchIn(sql)
            .foreach { m =>
              viewDefs(m.group(1).toLowerCase) = m.group(2)
              // a successful (re)create rewrites the name's full state
              poisonedTables -= m.group(1).toLowerCase
            }
          MvCreate.findFirstMatchIn(sql).foreach { m =>
            mvDefs += m.group(1).toLowerCase
            // poison propagates through MV definitions like plain views; a
            // SUCCESSFUL (re)create rewrites the view's full state, so any
            // prior poison on the name is cleared
            viewDefs(m.group(1).toLowerCase) = m.group(2)
            poisonedTables -= m.group(1).toLowerCase
          }
          """(?i)^\s*DROP\s+MATERIALIZED\s+VIEW\s+["`]?(\w+)""".r
            .findFirstMatchIn(sql).foreach { m =>
              mvDefs -= m.group(1).toLowerCase
              viewDefs -= m.group(1).toLowerCase
              sltMvNames.remove(m.group(1).toLowerCase)
              ()
            }
          // a successful DROP VIEW clears its definition (dependency
          // tracking would otherwise see stale edges)
          """(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)""".r
            .findFirstMatchIn(sql)
            .foreach(m => viewDefs -= m.group(1).toLowerCase)
          // fresh DROP/CREATE resets the table's poison (value-level too)
          """(?i)^\s*(?:DROP|CREATE)\s+TABLE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)""".r
            .findFirstMatchIn(sql)
            .foreach { m =>
              poisonedTables -= m.group(1).toLowerCase
              valuePoisoned -= m.group(1).toLowerCase
              sentinelRelations -= m.group(1).toLowerCase
            }
          // a successful RENAME carries the source's poison to the target;
          // and any VIEW over either name now resolves differently in pg
          // (views track the relation, Spark temp views pin the plan) —
          // poison those views rather than serve the pinned data
          splitStatements(sql).foreach { one =>
            AlterRenameTable.findFirstMatchIn(one).foreach { m =>
              if (poisonedTables.remove(m.group(1).toLowerCase))
                poisonedTables += m.group(2).toLowerCase
              viewDefs.foreach { case (v, d) =>
                if (refsWord(d, m.group(1)) || refsWord(d, m.group(2)))
                  poisonedTables += v
              }
            }
            // a view rename (possibly inside a compound) moves its
            // definition and poison with it
            AlterRenameView.findFirstMatchIn(one).foreach { m =>
              val (from, to) = (m.group(1).toLowerCase, m.group(2).toLowerCase)
              viewDefs.remove(from).foreach(d => viewDefs(to) = d)
              if (poisonedTables.remove(from)) poisonedTables += to
            }
          }
          if (expectError) { // we accept what the reference rejects: dialect looseness
            skipped += 1
            tally("statement error expected but we accept it", sql)
            // an ACCEPTED mutation the reference rejected leaves the table
            // in a state the reference never had — poison it
            splitStatements(sql).foreach(one =>
              mutationTarget(one).foreach(poisonedTables += _))
            // an accepted CREATE OR REPLACE VIEW likewise REPLACED content
            // the reference kept (its create errored) — poison the name
            """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+["`]?(\w+)""".r
              .findFirstMatchIn(sql)
              .foreach(m => poisonedTables += m.group(1).toLowerCase)
          }
          else {
            // DROP TABLE cascades to its indexes in the reference — evict
            // the session-layer index entries and their comments with it
            """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)""".r
              .findFirstMatchIn(sql).foreach { m =>
                val t = m.group(1).toLowerCase
                val dead = indexOn.collect { case (i, on) if on == t => i }
                dead.foreach { i =>
                  indexOn -= i; indexNames -= i
                  graft.sql.GraftSqlCatalog.commentsFor(spark)
                    .filterInPlace((k, _) => k._1 != i)
                }
              }
            passed += 1
          }
        } catch {
          // pg coerces INSERT VALUES literals to the column types (string
          // → timestamp/date/...); Spark's store-assignment analysis
          // rejects some of those — retry as a typed SELECT with explicit
          // per-column casts to the table schema before poisoning
          case e: Throwable
              if !expectError &&
                (e.getClass.getName.toLowerCase.contains("analysis") ||
                  // mixed-type VALUES rows: Spark's inline-table type
                  // unification rejects what pg assignment-casts per column
                  Option(e.getMessage).exists(_.contains("INVALID_INLINE_TABLE"))) &&
                (typedInsertRetry(spark, sql) || deepInsertRetry(spark, sql) ||
                  valuesColumnRetry(spark, sql)) =>
            // a retried CREATE VIEW still registers its definition —
            // dependency tracking (DROP without CASCADE) must see it
            """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
              .findFirstMatchIn(sql)
              .foreach { m =>
                viewDefs(m.group(1).toLowerCase) = m.group(2)
                poisonedTables -= m.group(1).toLowerCase
              }
            passed += 1
          case e: Throwable =>
            // pg aborts the txn on an error — but only when the REFERENCE
            // also errored (expectError). A dialect failure (we fail where
            // the reference succeeds) poisons the target below instead; the
            // reference's txn carries on, so ours must too.
            if (expectError && txnActive) txnAborted = true
            if (expectError) passed += 1
            else if (tryRowClamp(sql)) passed += 1 // per-VALUE poisoning
            else if ({
              // a CREATE VIEW whose only unrepresentable parts are
              // oversized decimal literals: register the clamped body as a
              // SENTINEL relation (no flip possible — only expected-error
              // reads will run against it)
              val (sqlA0, changedV) = clampOversizedDecimals(sql, toB = false)
              // register as a TEMP view with the column list applied via a
              // subquery alias (a permanent view would demand per-item
              // aliases Spark-side)
              val sqlA = """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)["`]?\s*(\(([^)]*)\))?\s*AS\s+([\s\S]*)$""".r
                .findFirstMatchIn(sqlA0) match {
                case Some(vm) =>
                  val nm = vm.group(1)
                  val body = vm.group(4).trim.stripSuffix(";")
                  Option(vm.group(3)) match {
                    case Some(cols) =>
                      s"CREATE OR REPLACE TEMPORARY VIEW $nm AS SELECT * " +
                        s"FROM ($body) AS graft_vclamp($cols)"
                    case None =>
                      s"CREATE OR REPLACE TEMPORARY VIEW $nm AS $body"
                  }
                case None => sqlA0
              }
              changedV &&
                """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\b""".r
                  .findFirstIn(sql).isDefined &&
                scala.util.Try { spark.sql(sqlA).collect(); true }.getOrElse(false) && {
                  """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
                    .findFirstMatchIn(sqlA).foreach { vm =>
                      viewDefs(vm.group(1).toLowerCase) = vm.group(2)
                      sentinelRelations += vm.group(1).toLowerCase
                    }
                  true
                }
            }) passed += 1
            else {
              // a failed INSERT leaves PARTIAL table state
              mutationTarget(sql).foreach(poisonedTables += _)
              // a failed/unparseable CREATE [OR REPLACE] [MATERIALIZED] VIEW
              // leaves the OLD view state behind — reads of the name would
              // compare stale values, so poison it like a skipped mutation
              """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)""".r
                .findFirstMatchIn(sql).foreach(m => poisonedTables += m.group(1).toLowerCase)
              // the REFERENCE created this view fine (ours is a dialect
              // failure) — keep the dependency edge SEPARATE from
              // viewDefs (which feeds poison recursion) so a later
              // expected-error DROP VIEW of its source still reproduces
              // the CASCADE rejection
              """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?["`]?(\w+)(.*)""".r
                .findFirstMatchIn(sql).foreach(m =>
                  phantomViewDefs(m.group(1).toLowerCase) = m.group(2))
              // same for a failed CREATE/DROP TABLE (e.g. a DROP the dialect
              // rejected followed by re-CREATE: the old contents survive)
              """(?is)^\s*(?:CREATE|DROP)\s+TABLE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?(\w+)""".r
                .findFirstMatchIn(sql).foreach(m => poisonedTables += m.group(1).toLowerCase)
              // a failed RENAME leaves BOTH names in unknown state (the
              // compound may have partially applied)
              """(?i)\bALTER\s+(?:MATERIALIZED\s+)?(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?["`]?(\w+)["`]?\s+RENAME\s+TO\s+["`]?(\w+)""".r
                .findAllMatchIn(sql).foreach { m =>
                  poisonedTables += m.group(1).toLowerCase
                  poisonedTables += m.group(2).toLowerCase
                }
              // a skipped/failed COMMENT diverges the comment registry from
              // the reference — later reads of the comment relations must
              // skip, not compare stale state
              if ("""(?is)^\s*COMMENT\b""".r.findFirstIn(sql).isDefined) {
                poisonedTables += "mz_comments"; poisonedTables += "pg_description"
              }
              // a skipped relation DDL diverges the full-catalog listings
              // (db-qualified names live in another database the listing
              // excludes — no divergence)
              if ("""(?is)^\s*(?:CREATE|DROP|ALTER)\s+(?:SOURCE|SINK|TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?["`]?\w+["`]?\s*[^.\w]""".r
                  .findFirstIn(sql + " ").isDefined) {
                poisonedTables += "information_schema_tables"
                poisonedTables += "information_schema_columns"
              }
              if (isDialectError(e) || isKnownDiff(sql) ||
                  // COMMENT ON a relation whose DDL was itself skipped
                  // (sources/clusters) — honest skip, not a wrong answer
                  ("""(?is)^\s*COMMENT\b""".r.findFirstIn(sql).isDefined &&
                    e.isInstanceOf[IllegalArgumentException])) {
                skipped += 1
                tally(knownDiffReason(sql).map(r => s"known diff: $r").getOrElse(
                  s"statement dialect error: ${e.getClass.getSimpleName}"), sql)
              }
              else { failed += 1; failures += s"$name stmt: ${sql.take(100)} → ${e.toString.take(150)}" }
            }
        }
      case q: Query if touchesPoisoned(q.sql) =>
        skipped += 1
        tally("query touches poisoned table" + poisonDetailSuffix(name),
          poisonedTables.filter(t => refsWord(q.sql, t)).toSeq.sorted
            .mkString("[", ",", "] ") + q.sql)
      // SHOW in query position runs through the engine's command family
      // (GraftSqlParser SHOW TABLES/VIEWS/COLUMNS/OBJECTS/CREATE...);
      // unhandled SHOW shapes raise a ParseException = honest dialect skip
      case q: Query if (skipPrefixes.filterNot(_ == "SHOW ")
          .exists(q.sql.trim.toUpperCase.startsWith) &&
          // SUBSCRIBE snapshots we can either RUN (data assertion) or
          // REJECT like the reference (AS OF/UP TO validation) are
          // handled below, not prefix-skipped
          !(q.sql.trim.toUpperCase.startsWith("SUBSCRIBE") &&
            !touchesPoisoned(q.sql) &&
            parseSubscribe(q.sql).exists(spec =>
              !q.expectError ||
                scala.util.Try(subscribeValidate(spec)).isFailure))) ||
          dialectDefinedShape(q.sql) || isKnownDiff(q.sql) =>
        skipped += 1
        tally(knownDiffReason(q.sql).map(r => s"known diff: $r").getOrElse(
          if (dialectDefinedShape(q.sql)) "SELECT * ... USING star-order shape"
          else s"query starts with unsupported prefix: " +
            q.sql.trim.toUpperCase.takeWhile(_ != ' ')), q.sql)
      case q: Query =>
        // pin the logical clock per record: several mz_now() calls in
        // one query must observe ONE timestamp (reference one-shot
        // ExprPrepOneShot; `mz_now() = mz_now()` is true by definition)
        val pinnedHere =
          """(?i)\bmz_now\s*\(""".r.findFirstIn(q.sql).isDefined &&
            spark.conf.getOption("spark.graft.mz_now").isEmpty
        if (pinnedHere)
          spark.conf.set("spark.graft.mz_now", System.currentTimeMillis().toString)
        try {
          // introspection relations reflect the catalog AT QUERY TIME —
          // rebuild (metadata-only, microseconds) when referenced
          if (PgCatalogViews.referenced(q.sql))
            PgCatalogViews.register(spark, customTypeRows, indexOn.toSeq,
              sltMvNames.keySet.toSet)
          refreshMvsFor(q.sql)
          if (txnActive) { txnQueryRan = true; mutationTarget(q.sql).foreach(txnSnapshot) }
          // SHOW MATERIALIZED VIEWS: the runner's MVs are temp views
          // (sltMvNames), invisible to the engine catalog command —
          // synthesize the mz (name, cluster, comment) shape from the
          // per-file registries (live = the temp view still exists)
          val ShowMvsSlt =
            """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS(?:\s+IN\s+CLUSTER\s+["`]?(\w+)["`]?)?\s*;?\s*$""".r
          val qSql1 = ShowMvsSlt.findFirstMatchIn(q.sql) match {
            case Some(m) if sltMvNames.keySet.forall(n => !poisonedTables.contains(n)) =>
              val rows = sltMvNames.keySet.toSeq.sorted
                .filter(n => spark.catalog.tableExists(n))
                .map { n =>
                  (n, mvClusters.getOrElse(n, "quickstart"),
                    graft.sql.GraftSqlCatalog.commentsFor(spark)
                      .getOrElse((n, None), ""))
                }
                .filter(r => m.group(1) == null || r._2.equalsIgnoreCase(m.group(1)))
              if (rows.isEmpty)
                "SELECT '' AS name, '' AS cluster, '' AS comment WHERE 1=0"
              else "SELECT * FROM VALUES " + rows.map { case (n, c, cm) =>
                s"('$n','$c','${cm.replace("'", "''")}')" }.mkString(",") +
                " AS t(name, cluster, comment)"
            case _ => q.sql
          }
          // SHOW CLUSTERS (bare or `SELECT ... FROM (SHOW CLUSTERS)`):
          // synthesized from the per-file cluster registry + comments
          val qSqlC = SltSession.ShowClustersStmt.findFirstMatchIn(qSql1) match {
            case Some(m) =>
              val rows = clusterNames.keys.toSeq.map { n =>
                (n, graft.sql.GraftSqlCatalog.commentsFor(spark)
                  .getOrElse((n, None), ""))
              }
              // every cluster dropped → an explicitly EMPTY relation
              // ('FROM VALUES AS t' would be malformed SQL)
              val base =
                if (rows.isEmpty)
                  "SELECT '' AS name, '' AS comment WHERE 1=0"
                else "SELECT * FROM VALUES " + rows.map { case (n, cm) =>
                  s"('$n','${cm.replace("'", "''")}')" }.mkString(",") +
                  " AS t(name, comment)"
              Option(m.group(1)) match {
                case Some(cols) => s"SELECT $cols FROM ($base)"
                case None => base
              }
            case None => qSql1
          }
          // pg current_setting('name'[, missing_ok]): the session registry
          // value as text; unknown parameters raise pg's rejection (NULL
          // with missing_ok = true)
          val qSql =
            if (!qSqlC.toLowerCase.contains("current_setting")) qSqlC
            else """(?i)\bcurrent_setting\s*\(\s*'([^']+)'\s*(?:,\s*(true|false)\s*)?\)""".r
              .replaceAllIn(qSqlC, m => {
                val n = SltSession.normVar(m.group(1))
                val missingOk = Option(m.group(2)).exists(_.equalsIgnoreCase("true"))
                if (varTainted.contains(n))
                  throw new DialectSkip("current_setting of a tainted variable")
                sessionVars.get(n).orElse(SltSession.varDefaults.get(n)) match {
                  case Some(v) => Regex.quoteReplacement(s"'${v.replace("'", "''")}'")
                  case None if missingOk => "CAST(NULL AS STRING)"
                  case None => throw new IllegalStateException(
                    s"""unrecognized configuration parameter "${m.group(1)}"""")
                }
              })
          // pg resolves a bare GROUP BY name against output-column aliases;
          // a DUPLICATED alias that is not also a source column is
          // ambiguous (reference src/sql/src/plan/query.rs) — Spark groups
          // happily, so the reference's rejection is enforced here
          unsafeFnCheck(qSql)
          for (a <- ambiguousGroupByAlias(spark, qSql))
            throw new IllegalStateException(
              s"""column reference "$a" is ambiguous""")
          for (a <- ambiguousOrderByAlias(qSql))
            throw new IllegalStateException(
              s"""column reference "$a" is ambiguous""")
          // a mutation query record (INSERT/UPDATE/DELETE ... RETURNING)
          // runs through the emulation; its RETURNING rows are the result
          def buildDf(): DataFrame = SltSession.FetchCursor.findFirstMatchIn(qSql) match {
            case Some(fm) => fetchCursorDf(fm)
            case None if qSql.trim.toUpperCase.startsWith("SUBSCRIBE") &&
                parseSubscribe(qSql).isDefined =>
              // one-shot SUBSCRIBE in query position: the snapshot frame
              // (validation errors raise the reference's rejections)
              subscribeSnapshotDf(spark, parseSubscribe(qSql).get)
            case None => applyMutationResult(spark, qSql) match {
            case Some(Some(ret)) => ret
            case Some(None) => spark.emptyDataFrame
            case None =>
              try spark.sql(qSql)
              catch {
                // multi-level correlated subqueries: Spark resolves outer
                // references one level up only — rescue via the nested-
                // correlation flattening rewrite (plans/
                // NestedCorrelationFlatten). Not for expected-error
                // records: those must keep erroring.
                case e: Throwable if !q.expectError &&
                    Option(e.getMessage).exists(_.contains("ASSIGNMENT_ARITY_MISMATCH")) =>
                  // pg PARTIAL column-list aliases: extend to the full list
                  partialAliasRetry(spark, qSql).getOrElse(throw e)
                case e: Throwable if !q.expectError &&
                    Option(e.getMessage).exists(_.contains("INVALID_USAGE_OF_STAR_OR_REGEX")) =>
                  starScalarRetry(spark, qSql).getOrElse(throw e)
                case e: Throwable if !q.expectError &&
                    Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")) =>
                  aliasImplicitFnNames(qSql)
                    .flatMap(s2 => scala.util.Try(spark.sql(s2)).toOption)
                    .orElse {
                      // ORDER BY repeating a windowed select item: pg
                      // resolves it to the item; Spark can't name the
                      // window expr in Sort — retry with the ordinal
                      val s3 = rewriteOrderByWindowToOrdinal(qSql)
                      if (s3 == qSql) None
                      else scala.util.Try(spark.sql(s3)).toOption
                    }
                    .orElse {
                      // references to a VALUES-backed view's pg column
                      // names (column1..N) — Spark's VALUES export col1..N
                      // (literal-aware: 'columnN' in a string is data)
                      val s4 = rewriteOutsideLits(qSql)(seg =>
                        """(?i)\bcolumn(\d+)\b""".r.replaceAllIn(seg, "col$1"))
                      if (s4 == qSql) None
                      else scala.util.Try(spark.sql(s4)).toOption
                    }
                    .orElse(orderByWindowSubqueryRetry(spark, qSql))
                    .orElse(wholeRowRetry(spark, qSql,
                      Option(e.getMessage).getOrElse("")))
                    .orElse(graft.plans.NestedCorrelationFlatten.rescue(spark, qSql))
                    .getOrElse(throw e)
                case e: Throwable if !q.expectError &&
                    Option(e.getMessage).exists(m =>
                      m.contains("UNRESOLVED_ROUTINE") && m.contains("`unnest`")) =>
                  unnestExplodeRetry(spark, qSql).getOrElse(throw e)
                case e: Throwable if !q.expectError &&
                    Option(e.getMessage).exists(m =>
                      m.contains("UNSUPPORTED_EXPR_FOR_OPERATOR") ||
                        m.contains("MISSING_AGGREGATION")) =>
                  // window/aggregate expression in ORDER BY that is not a
                  // select item — pg computes it pre-projection
                  orderByWindowSubqueryRetry(spark, qSql).getOrElse(throw e)
              }
          } }
          // sentinel-clamped relations: a VIEW body we could only
          // register with clamped literals serves WRONG values — only
          // expected-error reads may run against it
          val (vpTables, vpSentinel) = valuePoisonReached(q.sql)
          if (vpSentinel && !q.expectError)
            throw new DialectSkip("query observes an unrepresentable value")
          val df = buildDf()
          val rows = df.collect()
          // per-VALUE poisoned tables: re-run against the B sentinels —
          // identical output proves the result does not depend on the
          // clamped cells (order-preserving extremes), so the comparison
          // against the reference's expected rows is sound
          if (vpTables.nonEmpty && !q.expectError) {
            def flip(toB: Boolean): Unit =
              vpTables.foreach(t => valuePoisoned.get(t).foreach(_.foreach(pch =>
                applyMutation(spark, if (toB) pch.toB else pch.toA))))
            val rowsB = try {
              flip(toB = true)
              try scala.util.Try(buildDf().collect()).toOption
              finally flip(toB = false)
            } catch { case _: Throwable => None }
            val same = rowsB.exists(rb => rb.length == rows.length &&
              rb.map(String.valueOf).sameElements(rows.map(String.valueOf)))
            if (!same)
              throw new DialectSkip("query observes an unrepresentable value")
          }
          if (q.expectError) { // accepted-but-reference-rejects
            // pg float ops error on overflow ("value out of range:
            // overflow", reference src/expr/src/scalar.rs FloatOverflow)
            // instead of yielding inf: a FROM-less result holding an
            // infinity the query text never spelled is exactly that error
            val lo = q.sql.toLowerCase
            // the record's expected message must itself be a float range
            // error — result shape alone would credit an unrelated
            // expected error whose float outputs happen to be inf / 0.0
            val rangeErrExpected =
              """(?i)out of range|overflow|underflow""".r
                .findFirstIn(q.errorText).isDefined
            val pgFloatOverflow = rangeErrExpected &&
              !"""(?i)\bfrom\b""".r.findFirstIn(lo).isDefined &&
              !lo.contains("inf") &&
              rows.exists(_.toSeq.exists {
                case d: Double => d.isInfinite
                case f: Float => f.isInfinite
                case _ => false
              })
            // the matching underflow: nonzero float literals whose product/
            // quotient collapsed to 0 — pg raises "value out of range:
            // underflow" where Spark rounds to zero
            val pgFloatUnderflow = rangeErrExpected && !pgFloatOverflow &&
              !"""(?i)\bfrom\b""".r.findFirstIn(lo).isDefined &&
              """'[1-9][0-9.]*e[+-]?\d+'\s*::""".r.findFirstIn(lo).isDefined && {
                val fcells = rows.flatMap(_.toSeq).collect {
                  case d: Double => d
                  case f: Float => f.toDouble
                }
                fcells.nonEmpty && fcells.forall(_ == 0.0)
              }
            if (pgFloatOverflow || pgFloatUnderflow) passed += 1
            else {
              skipped += 1
              tally("query error expected but we accept it", q.sql)
            }
          }
          else if (q.types.isEmpty && q.expected.forall(_.isBlank)) {
            // zero-column record (`query` with no type chars, e.g.
            // `SELECT FROM t`): SLT renders one value per CELL, so zero
            // columns encode nothing regardless of row count — successful
            // execution (of the shimmed dummy-column query) is the whole
            // assertion, exactly as the reference's runner compares it
            passed += 1
          }
          else if (q.multiline) {
            // multiline: the single text column compares as one raw block
            // (per-line trailing whitespace insignificant)
            def norm(s: String): String =
              s.split("\n", -1).map(_.replaceAll("\\s+$", "")).mkString("\n").trim
            val exp = norm(q.expected.mkString("\n"))
            val act = norm(rows.toList.map(r =>
              if (r.isNullAt(0)) "NULL" else r.get(0).toString).mkString("\n"))
            if (act == exp) passed += 1
            else {
              failed += 1
              failures += s"$name query: ${q.sql.replaceAll("\\s+", " ").take(120)} → " +
                s"multiline expected ${exp.take(120)}... got ${act.take(120)}..."
            }
          }
          else if (df.columns.length < q.types.length) {
            // fewer output columns than the record declares (e.g. a SHOW
            // whose mz shape carries extra columns) — a dialect shape
            // difference, not a wrong answer
            skipped += 1
            tally("result has fewer columns than the record declares", q.sql)
          }
          else {
            // pad declared types if the query yields more columns
            val types =
              if (df.columns.length > q.types.length)
                q.types + "T" * (df.columns.length - q.types.length)
              else q.types
            var expectedLines = q.expected.map(_.replaceAll("\\s+$", ""))
            if (q.hasColnames && expectedLines.nonEmpty)
              expectedLines = expectedLines.tail // names are presentation-level
            // hash-form results ("N values hashing to ...") → skip
            if (expectedLines.exists(_.contains("values hashing to"))) {
              skipped += 1
              tally("hash-form expected result")
            }
            else {
              val expCells: Option[List[List[String]]] =
                expectedLines.foldLeft(Option(List.empty[List[String]])) {
                  (acc, l) => acc.flatMap(a => splitExpected(l, types.length).map(a :+ _))
                }
              // pg's sqllogictest also emits ONE VALUE PER LINE for
              // multi-column rows (n lines per row) — cells with internal
              // spaces (timestamps, range bounds, arrays) are unsplittable
              // any other way. Accept either interpretation.
              val expValuePerLine: Option[List[List[String]]] =
                if (types.length > 1 && expectedLines.nonEmpty &&
                    expectedLines.length % types.length == 0)
                  Some(expectedLines.grouped(types.length).map(_.map(_.trim).toList).toList)
                else None
              (expCells, expValuePerLine) match {
                case (None, None) =>
                  skipped += 1 // unsplittable alignment
                  tally("unsplittable expected-cell alignment")
                case (expRowised, expGrouped) =>
                  def canon(e: List[List[String]]): List[List[String]] =
                    e.map(cells => cells.zipWithIndex.map {
                      case (c, j) => canonCell(types(j), c)
                    })
                  val expCandidates = List(expRowised, expGrouped).flatten.map(canon)
                  val actCanon = rows.toList.map(r =>
                    types.indices.toList.map(j =>
                      canonCell(types(j), renderActual(types(j), r.get(j)))))
                  // without a TOP-LEVEL ORDER BY the output row order is
                  // unspecified in any engine (an ORDER BY inside OVER(...)
                  // or a subquery orders nothing observable) — compare as
                  // multisets even in nosort mode
                  val effSort =
                    if (q.sortMode == "nosort" && !hasTopLevelOrderBy(q.sql))
                      "rowsort"
                    else if (q.sortMode == "nosort")
                      // ORDER BY fixes row order only UP TO its keys: when
                      // every order item is an output column, tied blocks
                      // are engine-defined (the reference's own fixtures
                      // note "ordering of these rows is undefined") —
                      // compare them as multisets via partialsort on those
                      // columns
                      orderByOutputCols(q.sql, df.columns)
                        .map(ix => "partialsort(" + ix.map(_ + 1).mkString(",") + ")")
                        .getOrElse(q.sortMode)
                    else q.sortMode
                  def prep(v: List[List[String]]): List[String] = effSort match {
                    case "rowsort" => v.map(_.mkString("|")).sorted
                    case "valuesort" => v.flatten.sorted
                    case s if s.startsWith("partialsort") =>
                      // crdb logictest partialsort(c1,...): the output IS
                      // sorted on the listed 1-based columns; the order of
                      // ties is engine-free — canonicalize by sorting each
                      // consecutive equal-key block on both sides
                      val colIdx = """\d+""".r.findAllIn(s).map(_.toInt - 1).toList
                      val out = mutable.ListBuffer.empty[String]
                      val grp = mutable.ListBuffer.empty[List[String]]
                      var key: Option[List[String]] = None
                      def flush(): Unit = {
                        out ++= grp.map(_.mkString("|")).sorted; grp.clear()
                      }
                      v.foreach { row =>
                        val k = colIdx.map(i => row.lift(i).getOrElse(""))
                        if (key.contains(k)) grp += row
                        else { flush(); key = Some(k); grp += row }
                      }
                      flush()
                      out.toList
                    case _ => v.map(_.mkString("|"))
                  }
                  val a = prep(actCanon)
                  val es = expCandidates.map(prep)
                  if (es.exists(_ == a)) passed += 1
                  else {
                    val e = es.head
                    failed += 1
                    failures += s"$name query: ${q.sql.replaceAll("\\s+", " ").take(120)} → " +
                      s"expected ${e.take(3)}... got ${a.take(3)}... (${e.length} vs ${a.length} rows)"
                  }
              }
            }
          }
        } catch {
          case e: Throwable =>
            if (q.expectError && txnActive) txnAborted = true
            if (q.expectError) passed += 1
            else if (isDialectError(e)) {
              skipped += 1
              tally(s"query dialect error: ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(60), q.sql)
              // an un-run mutation query (RETURNING shapes) leaves the
              // target stale — poison it like a skipped mutation statement
              mutationTarget(q.sql).foreach(poisonedTables += _)
            }
            else { failed += 1; failures += s"$name query: ${q.sql.take(100)} → ${e.toString.take(150)}" }
        } finally {
          // drop the per-record logical-clock pin (temporal fixtures set
          // their own pins around their whole runs — those persist)
          if (pinnedHere) spark.conf.unset("spark.graft.mz_now")
        }
    } }
    Report(name, passed, failed, skipped, failures.toList)
  }

  /** Run several files in one session; tables/views are dropped between
    * files (fresh logical namespace per file). */
  def runFiles(spark: SparkSession, paths: Seq[String]): Seq[Report] =
    paths.map { p =>
      val r = runFile(spark, p)
      // drop everything the file created — including catalog materialized
      // views (MV names recur across corpus files; a stale definition would
      // turn the next file's plain CREATE into a duplicate error)
      val cat = graft.sql.GraftSqlCatalog.forSession(spark)
      // their consumers first: dropView refuses a view whose commits an
      // index, sink or open SUBSCRIBE still consumes
      import graft.sql.{CloseSubscriptionCommand, DropIndexCommand, DropSinkCommand, GraftSqlCatalog}
      GraftSqlCatalog.indexesFor(spark).toSeq.collect { case (i, e) if cat.isDefined(e.rel) => i }
        .foreach(i => DropIndexCommand(i).run(spark))
      GraftSqlCatalog.sinksFor(spark).toSeq.collect { case (n, (v, _, _)) if cat.isDefined(v) => n }
        .foreach(n => DropSinkCommand(n).run(spark))
      GraftSqlCatalog.subscriptionsFor(spark).keys.filter(cat.isDefined).toSeq
        .foreach(v => CloseSubscriptionCommand(v).run(spark))
      cat.viewNames.foreach(n => try cat.dropView(n) catch { case _: Throwable => () })
      // stale index-registry entries would turn the next file's CREATE
      // INDEX into a duplicate error
      graft.sql.GraftSqlCatalog.indexesFor(spark).clear()
      // comments are per-catalog state: a fresh file starts commentless
      // (a leak here surfaced alter-table.slt's comments in comment.slt)
      graft.sql.GraftSqlCatalog.commentsFor(spark).clear()
      // sources recur across files (CREATE SOURCE s ... in several) — a
      // stale registry entry turns the next file's CREATE into 'already
      // exists'; the backing temp view drops with the listTables sweep below
      graft.sql.GraftSqlCatalog.sourcesFor(spark).clear()
      // WMR view bodies are per-file state too (the backing temp views
      // drop with the sweep below)
      graft.sql.GraftSqlCatalog.wmrViewsFor(spark).clear()
      // temp views FIRST: Spark's DROP TABLE resolves a same-named temp
      // view before the catalog table, so dropping tables while their
      // shadowing views exist silently leaks the table into the next file
      // (case_sensitive_names.slt's `a` poisoned cockroach/join.slt's)
      val listed = spark.catalog.listTables().collect()
      listed.filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      listed.filterNot(_.isTemporary).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
        ()
      }
      r
    }
}
