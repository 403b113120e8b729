package graftbench

import graft.corpus.CorpusDoc
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Exact result comparison: same docIds, bit-identical scores, same order. */
object Same {
  def hits(a: Seq[ScoredDoc], b: Seq[ScoredDoc]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId &&
        java.lang.Double.doubleToLongBits(x.score) == java.lang.Double.doubleToLongBits(y.score)
    }
}

/** Outside BM25 oracle over one engine snapshot: decodes the query terms'
  * posting rows with `Codec.decodeAll`, scores every document with
  * `Bm25.score` in query-term order, and ranks (score desc, docId asc).
  * Shares no scoring code with `WandScorer`. */
final class Oracle(spark: SparkSession, engine: QueryEngine) {
  import spark.implicits._
  private val lists = mutable.HashMap.empty[String, (Array[Long], Array[Int], Array[Int])]
  private lazy val langOf: Map[Long, String] =
    engine.docmeta.select("docId", "lang").as[(Long, String)].collect().toMap

  def resolve(q: String): Seq[(String, Double)] =
    QueryParser.resolveScoredW(QueryParser.parseScored(q),
      engine.expandPrefix(_)._1, engine.expandFuzzy(_, _)._1)

  /** Loads (one Spark job) every not-yet-loaded term of these queries. */
  def load(queries: Seq[String]): Unit = {
    val missing = queries.flatMap(q => resolve(QueryParser.splitFieldFilters(q)._1))
      .map(_._1).distinct.filterNot(lists.contains)
    if (missing.isEmpty) return
    val rows = engine.postings.where(col("term").isin(missing: _*))
      .as[PostingRow].collect()
    rows.groupBy(_.term).foreach { case (t, rs) =>
      val dec = rs.sortBy(_.skips.head.firstDoc).map(r => Codec.decodeAll(Bench.encoded(r)))
      lists(t) = (dec.flatMap(_._1), dec.flatMap(_._2), dec.flatMap(_._3))
    }
    missing.filterNot(lists.contains).foreach(t => lists(t) = (Array.empty, Array.empty, Array.empty))
  }

  /** Expected top-k of a scored query, with `lang:` gates honoured. */
  def topK(query: String, k: Int): Seq[ScoredDoc] = {
    val (residual, fields) = QueryParser.splitFieldFilters(query)
    load(Seq(query))
    require(fields.forall(f => f.field == "lang" && !f.neg && f.eq.isDefined),
      s"the oracle handles lang:value gates only: $query")
    val langs = fields.flatMap(_.eq)
    val gate: Long => Boolean =
      if (langs.isEmpty) _ => true
      else d => langs.forall(l => langOf.get(d).contains(l))
    val bm = engine.bm25
    val acc = mutable.LinkedHashMap.empty[Long, Double]
    resolve(residual).foreach { case (t, w) =>
      val (docs, tfs, dls) = lists(t)
      if (docs.nonEmpty) {
        val idf = bm.idf(docs.length.toLong) * w
        var i = 0
        while (i < docs.length) {
          val d = docs(i)
          acc(d) = acc.getOrElse(d, 0.0) + bm.score(idf, tfs(i), dls(i))
          i += 1
        }
      }
    }
    acc.iterator.filter(e => gate(e._1)).map { case (d, s) => ScoredDoc(d, s) }
      .toSeq.sorted(ScoredDoc.betterOrdering).take(k)
  }
}

/** A committed build matches its input: the manifest's doc count, and the
  * docmeta row (repo, path, commit, sha256) of each sampled input doc. */
object BuildCheck {
  type MetaRow = (String, String, String, String)

  def apply(spark: SparkSession, root: String, numDocs: Long, sample: Seq[CorpusDoc]): Boolean = {
    import spark.implicits._
    val m = new IcebergLite(root).currentManifest()
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    val rows = new QueryEngine(spark, root).docmeta
      .where(col("path").isin(sample.map(_.path): _*))
      .select("repo", "path", "commit", "sha256").as[MetaRow]
      .collect().map(r => r._2 -> r).toMap
    docs(m.numDocs, numDocs) && meta(rows, sample)
  }

  def docs(got: Long, want: Long): Boolean = got == want

  def meta(rows: Map[String, MetaRow], sample: Seq[CorpusDoc]): Boolean =
    sample.forall(d => rows.get(d.path).contains(expected(d)))

  def expected(d: CorpusDoc): MetaRow = (d.repo, d.path, d.commit, IndexBuilder.sha256Hex(d.content))
}

/** Shows that each correctness check fails on a corrupted result. */
object SelfTest {
  /** Every corruption of a non-trivial checked result must be caught. */
  def hitsCheck(good: Seq[ScoredDoc]): Boolean = {
    require(good.size >= 2, "self-test needs a result with two hits")
    val perturbed = good.updated(0, good.head.copy(score = Math.nextUp(good.head.score)))
    val dropped = good.init
    val reordered = good(1) +: good.head +: good.drop(2)
    Same.hits(good, good) &&
      Seq(perturbed, dropped, reordered).forall(bad => !Same.hits(good, bad))
  }

  /** A wrong doc count and an altered docmeta row must both be caught. */
  def buildCheck(n: Long, sample: Seq[CorpusDoc]): Boolean = {
    val good = sample.map(d => d.path -> BuildCheck.expected(d)).toMap
    val altered = good.updated(sample.head.path, good(sample.head.path).copy(_4 = "0" * 64))
    BuildCheck.docs(n, n) && !BuildCheck.docs(n + 1, n) &&
      BuildCheck.meta(good, sample) && !BuildCheck.meta(altered, sample)
  }
}
