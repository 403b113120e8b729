package graftbench

import graft.GraftSql
import graft.corpus.CorpusGen
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import Bench.{median, pct, timed}

/** One executed operation of a query stream. */
final case class Exec(cls: String, q: Query, res: Either[Throwable, Seq[ScoredDoc]], ms: Double,
                      traced: Boolean = false)

/** Query path under a seeded closed-loop mix on one warm engine: first one
  * client (latency), then one client per two cores (throughput). */
object SearchWorkload {
  /** Corpus size: enough that a broad query (every dense term, ~131
    * postings per doc) exceeds the engine's 500k driver-path limit. */
  val Docs = 4000
  val Setups = 3
  /** Warm-up before the window: the frozen queries the single client
    * walks first (one of each kind) and a query of every other class. */
  val WarmFrozen = 8
  /** Input docs whose docmeta row each set-up build is checked against. */
  val ShaSample = 16
  /** Frozen queries re-run per run on engines forced to each path. */
  val AgreementQueries = 4

  def hitsOf(rows: Array[Row]): Seq[ScoredDoc] =
    rows.map(r => ScoredDoc(r.getAs[Long]("docId"), r.getAs[Double]("score"))).toSeq

  def exec(ctx: Ctx, eng: QueryEngine, root: String, q: Query): Seq[ScoredDoc] = q.kind match {
    case Kind.TopK => eng.topK(q.text, q.k)
    case Kind.Bool => eng.booleanTopK(q.text, q.k)
    case Kind.TopKQS => eng.topKQS(q.text, q.k)
    case Kind.Search => hitsOf(eng.search(q.text, q.k).collect())
    case Kind.Sql =>
      val df = GraftSql.search(ctx.spark, root, q.text, q.k)
      Tracer.span("plans.planning")(df.queryExecution.executedPlan)
      hitsOf(df.collect())
  }

  /** Closed loop: each client issues its next query when the last ends.
    * `wholeBlocks` stops only at a block boundary, so the latency sample
    * holds every mix class in its exact share. `paired` (one client only)
    * runs every query twice, untraced and traced in alternating order, for
    * the tracing overhead. Returns the executed operations and the
    * throughput: the sum over clients of queries completed per second of
    * that client's own run, so a query still running at the deadline
    * does not dilute it. */
  def clients(ctx: Ctx, eng: QueryEngine, root: String, n: Int, seconds: Double,
              seedOf: Int => Long, wholeBlocks: Boolean = false, paired: Boolean = false,
              after: Exec => Unit = _ => ())
      : (Seq[Exec], Double) = {
    require(!paired || n == 1, "paired runs toggle the global tracer: one client only")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val rates = new Array[Double](n)
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val stream = Inputs.mixStream(new CorpusGen.Rng(seedOf(c)), c * Inputs.frozen.size / n)
        var i = 0
        while (System.nanoTime() < deadline || (wholeBlocks && i % Inputs.BlockSize != 0)) {
          val (cls, q) = stream.next()
          val order = if (!paired) Seq(Tracer.enabled) else Seq(i % 2 == 1, i % 2 == 0)
          order.foreach { traced =>
            Tracer.enabled = traced
            val (r, ms) = ctx.op(cls)(exec(ctx, eng, root, q))
            val e = Exec(cls, q, r, ms, traced)
            out.add(e)
            after(e)
          }
          i += 1
        }
        rates(c) = i / ((System.nanoTime() - t0) / 1e9)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (scala.jdk.CollectionConverters.IterableHasAsScala(out).asScala.toSeq, rates.sum)
  }

  /** `topK`'s driver-path phases replayed from outside with public calls
    * only: the hits, postings and bytes read, and the wall time up to the
    * docmeta fetch. Which path the engine took is read afterwards from
    * the listener (a distributed-path query shuffles). */
  def replay(eng: QueryEngine, dict: Map[String, Long], q: String, k: Int)
      : (Seq[ScoredDoc], Long, Long, Double) = {
    val t0 = System.nanoTime()
    import eng.docmeta.sparkSession.implicits._
    val weighted = Tracer.span("query.parse") {
      QueryParser.resolveScoredW(QueryParser.parseScored(q),
        p => Tracer.span("query.expand")(eng.expandPrefix(p)._1),
        (s, d) => Tracer.span("query.expand")(eng.expandFuzzy(s, d)._1))
    }
    val dfs = weighted.flatMap { case (t, _) => dict.get(t).map(t -> _) }.toMap
    val present = weighted.map(_._1).filter(dfs.contains)
    if (present.isEmpty) return (Nil, 0L, 0L, (System.nanoTime() - t0) / 1e6)
    val weights = weighted.filter(_._2 != 1.0).toMap
    val ds = Tracer.span("query.plan") {
      eng.postings.where(col("term").isin(present: _*)).as[PostingRow]
    }
    val rows = Tracer.span("query.scan")(ds.collect())
    val hits = Tracer.span("query.wand") {
      rows.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
        val cursors = rs.toSeq.groupBy(_.term).map { case (t, subs) =>
          t -> new PostingCursor(t, eng.bm25.idf(dfs(t)) * weights.getOrElse(t, 1.0),
            subs.sortBy(_.skips.head.firstDoc).map(r => (r.blocks, r.skips, Seq.empty[Array[Byte]])),
            eng.bm25)
        }
        WandScorer.topK(present, cursors, k)
      }.sorted(ScoredDoc.betterOrdering).take(k)
    }
    val topKMs = (System.nanoTime() - t0) / 1e6
    Tracer.span("query.meta_fetch") {
      if (hits.nonEmpty) eng.docmeta.where(col("docId").isin(hits.map(_.docId): _*)).collect()
    }
    (hits, rows.map(_.df).sum, rows.map(_.bytes).sum, topKMs)
  }

  /** Returns the set-up time: the median program set-up plus the warm-up.
    * Input generation is the benchmark's own work and is reported apart. */
  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val warmRng = new CorpusGen.Rng(ctx.seed * 7919 + 3)
    var prevDir: Option[String] = None
    val sampleRng = new CorpusGen.Rng(ctx.seed * 131 + 7)
    val sample = Seq.fill(ShaSample)(Inputs.doc(ctx.seed, sampleRng.nextInt(Docs).toLong))
    // the input is generated once; the program's set-up (build, engine
    // open, warm-up) repeats, and the last one's index serves the run
    val ((input, inBytes), inputS) = timed(Bench.writeInput(spark, ctx.seed, 0, Docs, s"${ctx.runDir}/input"))
    var served: QueryEngine = null
    // (build, manifest read, engine open, first query) seconds, and the whole set-up
    val setups = (0 until Setups).map { r =>
      val root = s"${ctx.runDir}/search-$r"
      val (v, s) = timed {
        val (_, buildS) = ctx.build(input, root)
        val (_, manifestS) = timed(new IcebergLite(root).currentManifest())
        val (eng, openS) = timed(Tracer.span("query.engine_open")(new QueryEngine(spark, root)))
        val (_, firstS) = timed(eng.topK(Inputs.frozen.head.text, 10))
        served = eng
        (buildS, manifestS, openS, firstS)
      }
      prevDir.foreach(Bench.deleteDir)
      prevDir = Some(root)
      Bench.log(f"search set-up $r: $s%.2f s (build ${v._1}%.2f s)")
      (v, s)
    }
    val eng = served
    val root = prevDir.get
    // the serving engine runs every query kind before the window, so no
    // timed query runs cold code
    val (_, warmS) = timed {
      Inputs.frozen.take(WarmFrozen).foreach(q => exec(ctx, eng, root, q))
      Inputs.MixClasses.filter(_ != "frozen")
        .foreach(c => exec(ctx, eng, root, Inputs.query(c, warmRng)))
    }
    // builds after the first, which runs cold code
    val warmBuilds = setups.drop(1).map(_._1._1)
    ctx.put("e2e", "live_heap_mb", Bench.liveHeapMb(), "MB")
    ctx.attempted += 1
    if (!BuildCheck(spark, root, Docs, sample)) ctx.failed += 1
    // share of the window for the single client; the rest is multi-client
    val singleS = ctx.seconds * 0.6
    val multiS0 = ctx.seconds - singleS

    // one client: latency; traced runs pair every query with an untraced
    // run (tracing overhead) and replay traced plain topK queries
    val streamSeed = (_: Int) => ctx.seed * 31 + 1
    // (request id, replay gap ms, postings, bytes, same result as topK)
    val replays = mutable.ArrayBuffer.empty[(Long, Double, Long, Long, Boolean)]
    val sqlOverheads = mutable.ArrayBuffer.empty[Double]
    // the replay's term dictionary, loaded once like the engine's own
    val dict: Map[String, Long] =
      if (!ctx.traced) Map.empty
      else eng.dict.select("term", "df").as[(String, Long)](
        spark.implicits.newProductEncoder[(String, Long)]).collect().toMap
    val (single, _) = clients(ctx, eng, root, 1, singleS, streamSeed, wholeBlocks = true,
        paired = ctx.traced, after = e => {
      if (e.traced && e.q.kind == Kind.TopK && e.res.isRight)
        Tracer.span("query.replay") {
          val (hits, postings, bytes, topKMs) = replay(eng, dict, e.q.text, e.q.k)
          replays += ((Tracer.request, topKMs - e.ms, postings, bytes, Same.hits(hits, e.res.toOption.get)))
        }
      if (e.traced && e.q.kind == Kind.Sql && e.res.isRight) {
        val (_, s) = timed(eng.search(e.q.text, e.q.k).collect())
        sqlOverheads += e.ms - s * 1000
      }
    })
    Tracer.enabled = ctx.traced
    // closed-loop clients on the same warm engine, one per two cores: each
    // query's driver-side work runs on its client thread beside the
    // executor threads, so one client per core oversubscribes the cores
    val (multi, qps) = clients(ctx, eng, root, math.max(1, ctx.clients / 2), multiS0, wholeBlocks = true, seedOf =
      c => ctx.seed * 1000003 + 17 * c)

    Bench.log(s"search window done: ${single.size} single-client, ${multi.size} multi-client queries")
    // correctness: outside BM25 oracle on every scored operation
    val all = single ++ multi
    val oracle = new Oracle(spark, eng)
    val scored = all.filter(_.q.kind != Kind.Bool)
    oracle.load(scored.map(_.q.text).distinct)
    val expected = scored.map(e => (e.q.text, e.q.k)).distinct
      .map(key => key -> oracle.topK(key._1, key._2)).toMap
    // indices into `all` of the failed operations
    val bad = mutable.Set.empty[Int]
    all.indices.foreach { i =>
      val e = all(i)
      val ok = e.res match {
        case Right(h) => e.q.kind == Kind.Bool || Same.hits(h, expected((e.q.text, e.q.k)))
        case Left(err) => Bench.log(s"${e.cls} '${e.q.text}' threw $err"); false
      }
      if (!ok) bad += i
    }
    // correctness: engines forced to the driver and to the distributed
    // path agree on a seed-rotated slice of the frozen set, and with the
    // run's own results for those queries
    val dEng = new QueryEngine(spark, root, Long.MaxValue)
    val xEng = new QueryEngine(spark, root, 0L)
    val start = (ctx.seed % Inputs.frozen.size).toInt
    val slice = (0 until AgreementQueries).map(i => Inputs.frozen((start + i) % Inputs.frozen.size))
    var agreementFailed = 0
    slice.foreach { q =>
      val d = exec(ctx, dEng, root, q)
      val x = exec(ctx, xEng, root, q)
      if (!Same.hits(d, x)) agreementFailed += 1
      bad ++= all.indices.filter(i => all(i).q == q && all(i).res.exists(h => !Same.hits(h, d)))
    }
    val replayBad = replays.count(!_._5)
    ctx.attempted += all.size + slice.size + replays.size
    ctx.failed += bad.size + agreementFailed + replayBad
    val probe = expected.values.find(_.size >= 2)
      .getOrElse(throw new IllegalStateException("no checked result with two hits"))
    ctx.selfTestOk = SelfTest.hitsCheck(probe) && SelfTest.buildCheck(Docs, sample)

    Bench.log("search checks done")
    val lat = single.map(_.ms)
    // class-balanced median: the geometric mean of the per-class medians,
    // so a change in any class moves it by the same share. The pooled
    // median of equal class shares falls between two classes and follows
    // their tails.
    val classMedians = Inputs.MixClasses.map(c => median(single.filter(_.cls == c).map(_.ms)))
    ctx.put("e2e", "op_p50_ms", math.exp(Bench.mean(classMedians.map(math.log))), "ms")
    ctx.put("e2e", "ops_per_s", qps, "1/s")
    ctx.put("detail", "build_docs_per_s", Docs / median(warmBuilds), "docs/s")
    ctx.put("e2e", "index_bytes_per_input_byte", Bench.committedBytes(root).toDouble / inBytes, "ratio")
    ctx.put("detail", "query_p50_ms", median(lat), "ms")
    ctx.put("detail", "query_p95_ms", pct(lat, 0.95), "ms")
    ctx.put("detail", "query_qps", qps, "1/s")
    ctx.put("detail", "single_client_queries", lat.size, "count")
    Inputs.MixClasses.foreach { cls =>
      val xs = single.filter(_.cls == cls).map(_.ms)
      if (xs.nonEmpty) ctx.put("detail", s"p50_ms.$cls", median(xs), "ms")
    }

    if (ctx.traced) {
      Tracer.enabled = false
      ctx.listener.get.settle()
      // the phase split covers the replays of driver-path queries; a
      // distributed-path query's jobs shuffle
      val shuffled = ctx.listener.get.all.filter(_.shuffleWrite > 0).map(_.group).toSet
      val driverReplays = replays.filterNot(r => shuffled.exists(_.startsWith(s"req-${r._1}-")))
      val driverReqs = driverReplays.map(_._1).toSet
      val self = Tracer.selfTimes(s => s.name == "plans.planning" || driverReqs(s.req))
      def perCall(n: String, scale: Double): Double =
        self.get(n).map { case (c, _, s) => s * scale / c }.getOrElse(0.0)
      ctx.put("layer", "query.parse_us", perCall("query.parse", 1e6), "us")
      ctx.put("layer", "query.expand_ms",
        self.get("query.expand").map(_._2 * 1000).getOrElse(0.0) / math.max(1, driverReplays.size), "ms")
      ctx.put("layer", "query.plan_ms", perCall("query.plan", 1000), "ms")
      ctx.put("layer", "query.scan_ms", perCall("query.scan", 1000), "ms")
      ctx.put("layer", "query.wand_ms", perCall("query.wand", 1000), "ms")
      ctx.put("layer", "query.meta_fetch_ms", perCall("query.meta_fetch", 1000), "ms")
      ctx.put("layer", "query.postings_read", Bench.mean(driverReplays.map(_._3.toDouble).toSeq), "count")
      ctx.put("layer", "query.bytes_read", Bench.mean(driverReplays.map(_._4.toDouble).toSeq), "B")
      ctx.put("layer", "query.replay_gap_ms", Bench.medianOr0(driverReplays.map(_._2).toSeq), "ms")
      ctx.put("detail", "replays", replays.size, "count")
      ctx.put("detail", "driver_path_replays", driverReplays.size, "count")
      ctx.put("layer", "query.engine_open_ms", median(setups.map(_._1._3 * 1000)), "ms")
      ctx.put("layer", "query.first_query_ms", median(setups.map(_._1._4 * 1000)), "ms")
      ctx.put("layer", "table.manifest_read_ms", median(setups.map(_._1._2 * 1000)), "ms")
      ctx.put("layer", "table.segments", eng.manifest.segments.size, "count")
      ctx.put("layer", "plans.sql_overhead_ms", Bench.medianOr0(sqlOverheads.toSeq), "ms")
      ctx.put("layer", "plans.planning_ms", perCall("plans.planning", 1000), "ms")
      val pairs = single.grouped(2).filter(_.size == 2).map { p =>
        p.find(_.traced).get.ms / p.find(!_.traced).get.ms }.toSeq
      ctx.put("layer", "trace.overhead_share", median(pairs) - 1, "ratio")
      Bench.queryJobLayers(ctx, "")
      Bench.buildLayers(ctx, ctx.buildCalls.toSeq)
      Bench.analyzeProbe(ctx, Inputs.docs(ctx.seed, 0, 300).toSeq)
      import spark.implicits._
      val terms = scored.flatMap(e => oracle.resolve(QueryParser.splitFieldFilters(e.q.text)._1))
        .map(_._1).distinct
      Bench.codecProbe(ctx, eng.postings.where(col("term").isin(terms: _*)).as[PostingRow].collect().toSeq)
    }
    ctx.put("detail", "input_s", inputS, "s")
    median(setups.map(_._2)) + warmS
  }
}
