package graft.slt

import graft.SparkSpec

/** mz LIST text boundary (functions/MzListExpressions) + the list shim
  * surface (constructors via the bracket scanner, type spellings, the
  * list function family) against fixtures lifted from the reference's
  * corpus (test/sqllogictest/list.slt). */
class MzListSpec extends SparkSpec {

  private def q(sql: String): String = {
    val r = spark.sql(sql).collect().head
    if (r.isNullAt(0)) "NULL" else r.get(0).toString
  }

  test("text form parse + canonical render roundtrip") {
    assert(q("SELECT mz_list_out(mz_list_in('{1,2,3}', 'int', 1))") == "{1,2,3}")
    assert(q("SELECT mz_list_out(mz_list_in('{{1},{2,3}}', 'int', 2))") == "{{1},{2,3}}")
    assert(q("SELECT mz_list_out(mz_list_in('{1, null}', 'int', 1))") == "{1,NULL}")
    // quoting: specials, empties, NULL spellings
    assert(q("SELECT mz_list_out(mz_list_in('{foo, \"f}o\", null, nUlL}', 'text', 1))")
      == "{foo,\"f}o\",NULL,NULL}")
    assert(q("""SELECT mz_list_out(mz_list_in('{"", "null", "NULL"}', 'text', 1))""")
      == "{\"\",\"null\",\"NULL\"}")
  }

  test("escape semantics: escaped whitespace is content, unescaped trims") {
    assert(q("""SELECT mz_list_out(mz_list_in('{\\ a}', 'text', 1))""") == "{\" a\"}")
    assert(q("""SELECT mz_list_out(mz_list_in('{a \\ }', 'text', 1))""") == "{\"a  \"}")
    assert(q("""SELECT mz_list_out(mz_list_in('{ \\a }', 'text', 1))""") == "{a}")
    assert(q("""SELECT mz_list_out(mz_list_in('{N\\ULL}', 'text', 1))""") == "{\"NULL\"}")
  }

  test("quoted element at list depth re-parses as nested list") {
    assert(q("""SELECT mz_list_out(mz_list_in('{{a}, "{b, c}"}', 'text', 2))""")
      == "{{a},{b,c}}")
  }

  test("malformed literals raise") {
    intercept[Throwable](q("SELECT mz_list_in('{a\"b\"}', 'text', 1)"))
    intercept[Throwable](q("SELECT mz_list_in('{a}b}', 'text', 1)"))
    intercept[Throwable](q("SELECT mz_list_in('{a{b}', 'text', 1)"))
  }

  test("shim: LIST constructor, type casts, functions") {
    
    val s1 = SltRunner.shim("SELECT (LIST[1,2,3])::text", crdb = false)
    assert(s1.contains("array(1,2,3)"), s1)
    val s2 = SltRunner.shim("SELECT '{1,2}'::int list", crdb = false)
    assert(s2.contains("mz_list_in('{1,2}', 'int', 1)"), s2)
    val s3 = SltRunner.shim("SELECT '{{1}}'::INT LIST LIST", crdb = false)
    assert(s3.contains("'int', 2)"), s3)
    val s4 = SltRunner.shim("SELECT NULL::INT LIST || NULL::INT LIST", crdb = false)
    assert(s4.contains("mz_list_cast(NULL, 'int', 1)"), s4)
    val s5 = SltRunner.shim("SELECT list_length(LIST[1,2])", crdb = false)
    assert(s5.contains("cardinality(mz_list_tag(array(1,2)))"), s5)
    val s6 = SltRunner.shim("SELECT LIST[1,2,3][1.5]", crdb = false)
    assert(s6.contains("mz_list_subscript(array(1,2,3), 1.5)"), s6)
  }

  test("cast rule renders arrays as {..} text") {
    assert(q("SELECT CAST(array(1,2) AS STRING)") == "{1,2}")
    assert(q("SELECT CAST(array('a b', 'c') AS STRING)") == "{\"a b\",c}")
  }

  test("list_append / list_prepend pg NULL semantics") {
    assert(q("SELECT mz_list_out(mz_list_append(CAST(NULL AS array<int>), 1))") == "{1}")
    assert(q("SELECT mz_list_out(mz_list_append(array(1), CAST(NULL AS int)))") == "{1,NULL}")
    assert(q("SELECT mz_list_out(mz_list_prepend(0, array(1,2)))") == "{0,1,2}")
  }

  test("list_length_max over nested lists") {
    assert(q("SELECT list_length_max(mz_list_in('{{1},{2,3}}', 'int', 2), 2)") == "2")
    assert(q("SELECT list_length_max(mz_list_in('{{1},{2,3}}', 'int', 2), 1)") == "2")
  }
}
