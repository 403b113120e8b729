package graft

import graft.index._
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Field-filter grammar edges: the compiled SQL gate selects exactly
  * the rows its in-memory twin (`FieldFilter.matches`) accepts, also for
  * values with backslashes and quotes; range atoms start at a token
  * boundary. */
class FieldFilterEdgeSpec extends AnyFunSuite with SparkSessionFixture {

  test("predicateSql == matches on backslash and quote values") {
    import spark.implicits._
    val paths = Seq("""src\file.scala""", """src\\file.scala""", """dir\n""",
      """trail\""", "o'brien", """o\'brien""", "src/file.scala", "plain")
    val df = paths.toDF("path")
    for {
      v <- paths
      f <- Seq(FieldFilter("path", neg = false, Some(v), None, None),
        FieldFilter("path", neg = true, Some(v), None, None),
        FieldFilter("path", neg = false, None, Some(v), None, loInc = false))
    } {
      val viaSql = df.where(expr(f.predicateSql)).as[String].collect().toSet
      assert(viaSql === paths.filter(f.matches).toSet, s"${f.predicateSql}")
    }
  }

  test("a range atom starts at a token boundary") {
    // not the term `foo` plus a negated `id` range: one text word
    val (res, fs) = QueryParser.splitFieldFilters("foo-id:[1 TO 2]")
    assert(fs.isEmpty && res === "foo-id:[1 TO 2]")
    val g = QueryParser.parseGroups("merge foo-id:[1 TO 2]").head
    assert(g.fields.isEmpty && Seq("merge", "foo", "id").forall(g.terms.contains))
    // ranges at a token start still parse, negated or not
    assert(QueryParser.splitFieldFilters("foo -id:[1 TO 2]")._2
      .map(f => (f.field, f.neg)) === Seq(("id", true)))
    assert(QueryParser.splitFieldFilters("id:{1 TO *] foo") ===
      (("foo", Seq(FieldFilter("id", neg = false, None, Some("1"), None,
        loInc = false)))))
    assert(QueryParser.parseGroups("merge\tid:[1 TO 2]").head.fields.size === 1)
  }
}
