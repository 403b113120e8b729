package graft

import graft.corpus.CorpusDoc
import graft.index._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Every query entry point answers identically on the three execution
  * paths of QueryEngine's driver-or-distributed split:
  *  - driver: `driverPathMaxPostings = Long.MaxValue`, every scan collects;
  *  - distributed: `driverPathMaxPostings = 0`, every scan groups or
  *    cogroups by shard on the executors;
  *  - gate-overflow: a threshold exactly at the query's postings, which
  *    is below its field gates' allowed-set size, so the postings fit the
  *    driver path while the gate collect overflows and the query falls
  *    through to the cogrouped path. Ungated entry points run this engine
  *    too (the driver side of the boundary).
  *
  * The corpus is a Zipf vocabulary of plain words with a planted
  * two-word phrase, built as two segments, so dictionary dfs are small
  * enough for the gate-overflow threshold to exist and every
  * (shard, term) has sub-lists from both segments. */
class QueryPathParitySpec extends AnyFunSuite with SparkSessionFixture {

  private val nDocs = 800
  private val Langs = Array("scala", "scala", "java", "py", "md")

  /** Vocabulary word of Zipf rank `r`: lower-case letters only, so the
    * analyzer keeps it as exactly one term. */
  private def w(r: Int): String = {
    val sb = new StringBuilder("zq")
    var x = r
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  private lazy val zipfCdf: Array[Double] = {
    val ws = Array.tabulate(400)(r => 1.0 / (r + 1))
    val total = ws.sum
    var acc = 0.0
    ws.map { x => acc += x; acc / total }
  }

  private def doc(i: Int): CorpusDoc = {
    val rng = new graft.corpus.CorpusGen.Rng(7919L * i + 17)
    val words = Seq.fill(12 + rng.nextInt(19)) {
      val j = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
      w(math.min(399, if (j >= 0) j else -j - 1))
    }
    val planted =
      if (i % 10 == 0) Seq("zqsalt", "zqpepper")
      else if (i % 10 == 5) Seq("zqpepper", "zqsalt")
      else Nil
    val lang = Langs(rng.nextInt(Langs.length))
    CorpusDoc(s"repo-${i % 7}", s"src/file_$i.$lang", f"${i * 2654435761L}%040x",
      lang, (words ++ planted).mkString(" "))
  }

  private lazy val root: String = {
    import spark.implicits._
    val r = Files.createTempDirectory(
      Paths.get("target").toAbsolutePath, "pathparity").toString + "/index"
    val idOf = Some((d: CorpusDoc) =>
      d.path.replaceAll(""".*file_([0-9]+)\..*""", "$1").toLong)
    Seq((0, 0 until 600), (1, 600 until nDocs)).foreach { case (batch, ids) =>
      IndexBuilder.build(spark, spark.createDataset(ids.map(doc)), r, 4,
        batch = batch, tableIdOf = idOf)
    }
    r
  }

  private lazy val driver = new QueryEngine(spark, root, Long.MaxValue)
  private lazy val distributed = new QueryEngine(spark, root, 0L)
  private lazy val dfOf: Map[String, Long] = {
    import spark.implicits._
    driver.dict.select("term", "df").as[(String, Long)].collect().toMap
  }

  /** Postings the query reads, summed over the terms it names. */
  private def postings(terms: Seq[String]): Long =
    terms.map(t => dfOf.getOrElse(t, 0L)).sum

  /** Rows of the allowed sets the query's distinct gate predicates yield. */
  private def allowedRows(preds: Seq[String]): Long =
    preds.distinct.map(p => driver.docmeta.where(expr(p)).count()).sum

  /** The gate-overflow engine for a query: the limit is exactly its
    * postings, so they fit while the gate collect is cut short. */
  private def overflow(terms: Seq[String], preds: Seq[String]): QueryEngine = {
    val p = postings(terms)
    val a = allowedRows(preds)
    assert(p > 0 && p < a, s"postings $p must be below the allowed rows $a")
    at(p)
  }

  /** Runs `run` on all three engines, checks the results are equal and
    * non-empty, and returns the driver's. */
  private def parity[T](label: String, third: QueryEngine,
                        nonEmpty: Boolean = true)(run: QueryEngine => T): T = {
    val d = run(driver)
    assert(!nonEmpty || d.asInstanceOf[Iterable[_]].nonEmpty,
      s"$label: empty result proves nothing")
    assert(run(distributed) == d, s"$label: distributed != driver")
    assert(run(third) == d, s"$label: gate-overflow != driver")
    d
  }

  private val scoredTerms = Seq(w(29), w(59), w(99))
  private val scoredQ = scoredTerms.mkString(" ")
  /** An engine whose driver-path limit is exactly `limit` postings. */
  private def at(limit: Long): QueryEngine = new QueryEngine(spark, root, limit)

  test("scored entry points: topK, topKAfter, topKMin") {
    val third = at(postings(scoredTerms))
    val page1 = parity("topK", third)(_.topK(scoredQ, 5))
    val cur = page1.last
    parity("topKAfter", third)(_.topKAfter(scoredQ, 8, cur.score, cur.docId))
    parity("topKMin", third)(_.topKMin(scoredQ, 10, 2))
    // minMatch really gates: fewer docs hold two of the three terms
    val two = driver.topKMin(scoredQ, 1000, 2).map(_.docId).toSet
    assert(two.size < driver.topK(scoredQ, 1000).size)
  }

  test("field-gated scored entry points: topKQS, topKQSAfter, topKFiltered") {
    val qs = s"$scoredQ lang:scala id:[0 TO 700]"
    val pred = QueryParser.compileFields(QueryParser.splitFieldFilters(qs)._2)
    val third = overflow(scoredTerms, Seq(pred))
    val page1 = parity("topKQS", third)(_.topKQS(qs, 5))
    val cur = page1.last
    parity("topKQSAfter", third)(_.topKQSAfter(qs, 8, cur.score, cur.docId))
    // the plain-query form of topKQS is topK
    assert(driver.topKQS(scoredQ, 7) === driver.topK(scoredQ, 7))
    val filt = "lang <> 'md'"
    val thirdF = overflow(scoredTerms, Seq(filt))
    parity("topKFiltered", thirdF)(_.topKFiltered(scoredQ, 10, filt))
    val mm = parity("topKFiltered minMatch", thirdF)(
      _.topKFiltered(scoredQ, 10, filt, minMatch = 2))
    parity("topKFiltered after+minMatch", thirdF)(
      _.topKFiltered(scoredQ, 10, filt, after = Some((mm.head.score, mm.head.docId)),
        minMatch = 2))
  }

  // one group with a phrase, a negated term and a negated field gate; one
  // with a range gate; both gates are distinct predicates
  private val boolQ =
    s""""zqsalt zqpepper" ${w(39)} -${w(69)} -lang:md, ${w(24)} ${w(49)} id:[0 TO 500]"""
  private val boolTerms = Seq("zqsalt", "zqpepper", w(39), w(69), w(24), w(49))
  private val boolPreds = Seq("(NOT (lang = 'md'))", "(tableId >= 0 AND tableId <= 500)")

  test("booleanTopK with field gates, a phrase and a negation") {
    val groups = QueryParser.parseGroups(boolQ)
    assert(groups.map(g => QueryParser.compileFields(g.fields)) === boolPreds)
    assert(groups.head.phrases.nonEmpty && groups.head.negTerms.nonEmpty)
    val third = overflow(boolTerms, boolPreds)
    val hits = parity("booleanTopK", third)(_.booleanTopK(boolQ, 50))
    // both groups contribute
    val g2 = driver.booleanTopK(boolQ.split(", ")(1), 50).map(_.docId).toSet
    assert(hits.exists(h => !g2.contains(h.docId)) && hits.exists(h => g2.contains(h.docId)))
  }

  test("matchingDocIds with field gates") {
    val third = overflow(boolTerms, boolPreds)
    val ids = parity("matchingDocIds", third)(
      _.matchingDocIds(boolQ).collect().map(_.getLong(0)).sorted.toSeq)
    assert(ids === driver.booleanTopK(boolQ, 100000).map(_.docId).sorted)
    // an ungated phrase query too, where the driver split decides alone
    val phrase = "\"zqsalt zqpepper\""
    val thirdP = at(postings(Seq("zqsalt", "zqpepper")))
    val pIds = parity("matchingDocIds phrase", thirdP)(
      _.matchingDocIds(phrase).collect().map(_.getLong(0)).sorted.toSeq)
    assert(pIds.size === nDocs / 10)
  }

  test("point lookups: explainScore and highlight") {
    val third = at(postings(scoredTerms))
    val docs = driver.topK(scoredQ, 3).map(_.docId) :+
      driver.topK(w(0), 1).head.docId
    docs.zipWithIndex.foreach { case (id, i) =>
      // the last doc holds no query term: its breakdown is empty
      val ex = parity(s"explainScore $id", third, nonEmpty = i < 3)(
        _.explainScore(scoredQ, id))
      val score = driver.topK(scoredQ, 1000).find(_.docId == id).map(_.score)
      if (score.isDefined)
        assert(ex.map(_.contribution).foldLeft(0.0)(_ + _) == score.get)
      parity(s"highlight $id", third, nonEmpty = i < 3)(
        _.highlight(s"$scoredQ zqsalt", id))
    }
  }
}
