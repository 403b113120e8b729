package graftbench

import graft.corpus.{CorpusDoc, CorpusGen}
import graft.index.ReferenceQueries

/** Seeded benchmark inputs: documents and query mixes. Pure functions of
  * (seed, index), so the same seed always yields the same inputs. */
object Inputs {
  /** Size of the synthetic identifier vocabulary of the Zipf tail. */
  val TailVocab = 100000
  /** Identifiers appended to every document. */
  val TailPerDoc = 24
  private val ZipfS = 1.0

  /** Cumulative Zipf(s) distribution over ranks 1..TailVocab. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(TailVocab)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(TailVocab - 1, if (i >= 0) i else -i - 1)
  }

  /** Tail identifier for a Zipf rank: lower-case letters only, so the
    * analyzer emits it as exactly one term that is never a stopword and
    * never collides with a CorpusGen term. */
  def tailTerm(rank: Int): String = {
    val sb = new StringBuilder("zq")
    var r = rank
    do { sb.append(('a' + r % 26).toChar); r /= 26 } while (r > 0)
    sb.toString
  }

  /** CorpusGen content plus a trailing comment line of Zipf-drawn
    * identifiers, which spreads document frequency from one doc to all. */
  def doc(seed: Long, i: Long): CorpusDoc = {
    val base = CorpusGen.doc(seed, i)
    val rng = new CorpusGen.Rng(seed * 0x2545f4914f6cdd1dL ^ (i + 0x632be59bd9b4e019L))
    val sb = new java.lang.StringBuilder(base.content.length + TailPerDoc * 8)
    sb.append(base.content).append("// refs:")
    var t = 0
    while (t < TailPerDoc) {
      sb.append(' ').append(tailTerm(zipfRank(rng.nextDouble())))
      t += 1
    }
    sb.append('\n')
    base.copy(content = sb.toString)
  }

  def docs(seed: Long, from: Long, n: Int): Array[CorpusDoc] =
    Array.tabulate(n)(j => doc(seed, from + j))

  /** Frozen reference queries with the engine entry point of their kind:
    * scored kinds run `topK`, the boolean kinds `booleanTopK`. The file
    * lists the kinds in runs; here they are taken round-robin, scored kinds
    * first, so any stretch of a walk through them mixes kinds, and the
    * first few include the prefix and fuzzy queries whose expansion a
    * traced run replays. */
  lazy val frozen: IndexedSeq[Query] = {
    val scored = Set("", "prefix", "fuzzy")
    val es = ReferenceQueries.entries
    val byKind = es.groupBy(_._4).toSeq
      .sortBy { case (kind, xs) => (!scored(kind), es.indexOf(xs.head)) }
      .map { case (kind, xs) =>
        xs.map { case (_, q, k, _) => Query(if (scored(kind)) Kind.TopK else Kind.Bool, q, k) }
      }
    (0 until byKind.map(_.size).max).flatMap(r => byKind.flatMap(_.lift(r)))
  }

  /** Dense code terms: every CorpusGen keyword and identifier part that is
    * kept by the analyzer; each occurs in nearly every document. */
  private val Dense: Array[String] = (Seq("def", "return", "val", "var",
    "class", "object", "import", "private", "public", "static", "final",
    "void", "int", "string", "match", "case", "while", "else", "try",
    "catch", "new", "extends", "override") ++
    Seq("computeHashValue", "maxRetryCount", "inputBuffer", "parseJsonRecord",
      "HTTPServerConfig", "readBlockOffset", "mergeSortedRuns", "openFileChannel",
      "flushWriteAheadLog", "scanTokenStream", "buildPostingList", "queryTopDocs",
      "shardRouterTable", "checkpointManager", "deltaEncodeBlock", "varintDecoder",
      "skipPointerIndex", "termDictionary", "docFreqCounter", "avgFieldLength",
      "block_max_score", "posting_reader", "segment_writer", "doc_id_base",
      "term_hash_bucket", "merge_policy_tier", "commit_snapshot_id",
      "partition_offset", "field_norm_cache", "token_filter_chain",
      "stop_word_set", "shuffle_salt_key", "lineage_record")
      .flatMap(graft.analyze.CodeAnalyzer.analyze)).distinct.toArray
  private val Langs = Array("scala", "java", "py", "go", "md")

  /** Query classes of the search mix. Every class gets an equal share:
    * no trace of real traffic exists to weight them, so the mix is an
    * assumption. Per-class medians are reported on the detail line, so
    * any other weighting can be computed from a run. */
  val MixClasses: Seq[String] = Seq("frozen", "rare+dense", "lang-gated", "search", "sql", "broad")

  private def rareTerm(rng: CorpusGen.Rng): String =
    // ranks 100..1100: each in about 0.2% to 2% of the docs. Rarer ranks
    // are absent from some corpora, which changes a query's cost with the
    // seed.
    tailTerm(100 + rng.nextInt(1000))

  /** A fixed shape, two tail terms and one dense term, so that queries of
    * a class cost about the same and a run's class medians are steady. */
  private def generated(rng: CorpusGen.Rng): String =
    Seq(rareTerm(rng), rareTerm(rng), Dense(rng.nextInt(Dense.length))).mkString(" ")

  /** Queries per block of a client's stream: one of each class, in seeded
    * order, so a stream cut at a block boundary holds every class equally. */
  val BlockSize: Int = MixClasses.size

  /** One client's seeded query stream over the search mix. Frozen queries
    * are walked in a fixed rotation from `frozenStart`, so runs of
    * different seeds replay the same frozen queries in the same order. */
  def mixStream(rng: CorpusGen.Rng, frozenStart: Int): Iterator[(String, Query)] = {
    var nextFrozen = frozenStart
    Iterator.continually {
      shuffled(MixClasses.toArray, rng).iterator.map { c =>
        val q = if (c != "frozen") query(c, rng) else {
          nextFrozen += 1
          frozen((nextFrozen - 1) % frozen.size)
        }
        (c, q)
      }
    }.flatten
  }

  /** A query of one mix class. */
  def query(cls: String, rng: CorpusGen.Rng): Query = cls match {
    case "frozen" => frozen(rng.nextInt(frozen.size))
    case "rare+dense" => Query(Kind.TopK, generated(rng), 10)
    case "lang-gated" => Query(Kind.TopKQS,
      s"lang:${Langs(rng.nextInt(Langs.length))} ${generated(rng)}", 10)
    case "search" => Query(Kind.Search, generated(rng), 10)
    case "sql" => Query(Kind.Sql, generated(rng), 10)
    case "broad" =>
      // every dense term, in a seeded order, plus a rare one
      Query(Kind.TopK, (shuffled(Dense.clone(), rng).toSeq :+ rareTerm(rng)).mkString(" "), 10)
  }

  /** Seeded Fisher-Yates shuffle, in place. */
  private def shuffled[A](xs: Array[A], rng: CorpusGen.Rng): Array[A] = {
    for (i <- xs.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs
  }

  /** A plain scored query mixing rare tail terms with dense code terms. */
  def plainQuery(rng: CorpusGen.Rng): Query = Query(Kind.TopK, generated(rng), 10)
}

object Kind extends Enumeration {
  val TopK, Bool, TopKQS, Search, Sql = Value
}

final case class Query(kind: Kind.Value, text: String, k: Int)
