package graftbench

import graft.corpus.CorpusGen
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import Bench.{median, pct, timed}

/** Micro-batch appends beside reads: each append is the
  * `IndexBuilder.build(batch = i, resume = false)` call `StreamIngest`
  * makes, followed by a fresh `QueryEngine` on the new snapshot and a few
  * queries. The window runs in whole rounds of `MergeEvery` appends and a
  * tiered merge, so every run has the same share of merge stalls; `gc`
  * runs once at the end. The sizes are assumed, not taken from a trace. */
object IngestWorkload {
  val BaseDocs = 1000
  val BatchDocs = 500
  val QueriesPerAppend = 5
  val MergeEvery = 4
  val MaxSegments = 3
  val Setups = 3
  val WarmQueries = 3

  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    import spark.implicits._
    var prevDir: Option[String] = None
    val warmRng = new CorpusGen.Rng(ctx.seed * 7919 + 5)
    // the base input is generated once; the program's set-up (bulk build,
    // engine open, warm-up) repeats, and the last one's index serves the run
    val ((input, baseBytes), inputS) =
      timed(Bench.writeInput(spark, ctx.seed, 0, BaseDocs, s"${ctx.runDir}/input"))
    // each set-up also makes one append cycle (batch 1), so the window's
    // first append runs no cold code
    val warmBatch = Inputs.docs(ctx.seed, BaseDocs, BatchDocs)
    // traced runs report no set-up time and also make the operator pass,
    // so they set up once
    val setups = (0 until (if (ctx.traced) 1 else Setups)).map { r =>
      val dir = s"${ctx.runDir}/ingest-$r"
      val s = timed {
        ctx.build(input, dir)
        val eng = new QueryEngine(spark, dir)
        (1 to WarmQueries).foreach(_ => eng.topK(Inputs.plainQuery(warmRng).text, 10))
        ctx.build(spark.createDataset(warmBatch.toSeq), dir, batch = 1)
        new QueryEngine(spark, dir).topK(Inputs.plainQuery(warmRng).text, 10)
      }._2
      prevDir.foreach(Bench.deleteDir)
      prevDir = Some(dir)
      Bench.log(f"ingest set-up $r: $s%.2f s")
      s
    }
    val root = prevDir.get
    ctx.put("e2e", "live_heap_mb", Bench.liveHeapMb(), "MB")
    var inBytes = baseBytes + warmBatch.map(_.content.length.toLong).sum
    ctx.buildCalls.clear()

    val rng = new CorpusGen.Rng(ctx.seed * 4099 + 11)
    val probeQueries = Seq.fill(3)(Inputs.plainQuery(rng))
    val appendMs, openMs, firstMs, cycleMs, manifestMs, queryMs = mutable.ArrayBuffer.empty[Double]
    val segmentsAtQuery = mutable.ArrayBuffer.empty[Double]
    val tracedCycle = mutable.ArrayBuffer.empty[(Boolean, Double)]
    // (engine snapshot, query, result) for the oracle after the run
    val answered = mutable.ArrayBuffer.empty[(QueryEngine, Query, Either[Throwable, Seq[ScoredDoc]])]
    val mergePasses = mutable.ArrayBuffer.empty[Double]
    var rewritten = 0L
    var ingestedSegBytes = 0L
    var appended = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    // batches committed so far, the set-up's warm batch included
    var i = 1
    var lastEng: Option[QueryEngine] = None
    def append(): Unit = {
      i += 1
      // traced runs alternate traced and untraced appends (tracing overhead)
      Tracer.enabled = ctx.traced && i % 2 == 0
      val docs = Inputs.docs(ctx.seed, BaseDocs + (i - 1L) * BatchDocs, BatchDocs)
      inBytes += docs.map(_.content.length.toLong).sum
      val batch = spark.createDataset(docs.toSeq)
      val q0 = Inputs.plainQuery(rng)
      val (r, ms) = ctx.op("append") {
        val (rep, aS) = ctx.build(batch, root, batch = i)
        val (eng, oS) = timed(Tracer.span("query.engine_open")(new QueryEngine(spark, root)))
        val (hits, fS) = timed(eng.topK(q0.text, q0.k))
        (rep, eng, hits, aS, oS, fS)
      }
      ctx.attempted += 1
      r match {
        case Left(e) =>
          Bench.log(s"append $i threw $e"); ctx.failed += 1
        case Right((rep, eng, hits, aS, oS, fS)) =>
          lastEng = Some(eng)
          appended += rep.docs
          appendMs += aS * 1000; openMs += oS * 1000; firstMs += fS * 1000; cycleMs += ms
          tracedCycle += ((Tracer.enabled, ms))
          queryMs += fS * 1000
          ingestedSegBytes += rep.segment.map(_.metrics.bytes).getOrElse(0L)
          answered += ((eng, q0, Right(hits)))
          manifestMs += timed(new IcebergLite(root).currentManifest())._2 * 1000
          segmentsAtQuery += eng.manifest.segments.size
          (1 until QueriesPerAppend).foreach { _ =>
            val q = Inputs.plainQuery(rng)
            val (qr, qms) = ctx.op("query")(eng.topK(q.text, q.k))
            ctx.attempted += 1
            if (qr.isLeft) ctx.failed += 1 else queryMs += qms
            answered += ((eng, q, qr))
            segmentsAtQuery += eng.manifest.segments.size
          }
      }
    }
    def merge(): Unit = {
      // results must be identical before and after the merge
      val eng = lastEng.getOrElse(new QueryEngine(spark, root))
      val before = probeQueries.map(q => eng.topK(q.text, q.k))
      val pre = eng.manifest
      val (mr, mS) = timed(Tracer.span("merge.tiered")(
        SegmentMerge.tiered(spark, root, MaxSegments)))
      mergePasses += mS
      val kept = pre.segments.map(_.name).toSet
      rewritten += mr.segments.filterNot(s => kept(s.name)).map(_.metrics.bytes).sum
      val after = new QueryEngine(spark, root)
      ctx.attempted += 1
      if (!before.zip(probeQueries).forall { case (b, q) => Same.hits(b, after.topK(q.text, q.k)) })
        ctx.failed += 1
    }
    while (System.nanoTime() < deadline) {
      (1 to MergeEvery).foreach(_ => append())
      merge()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Bench.log(s"ingest window done: ${i - 1} appends, ${mergePasses.size} merges")
    Tracer.enabled = ctx.traced

    // correctness: the outside BM25 oracle on every answered query, on the
    // snapshot that answered it (old segments stay until gc)
    answered.groupBy(_._1).foreach { case (eng, xs) =>
      val oracle = new Oracle(spark, eng)
      oracle.load(xs.map(_._2.text).toSeq)
      xs.foreach { case (_, q, res) =>
        if (res.isRight && !Same.hits(res.toOption.get, oracle.topK(q.text, q.k))) ctx.failed += 1
      }
    }
    // self-test: the oracle comparison and the merge comparison both use
    // Same.hits, which must reject corrupted results
    val probe = answered.iterator.flatMap(_._3.toOption).find(_.size >= 2)
      .getOrElse(throw new IllegalStateException("no answered query with two hits"))
    // every appended doc is committed: the doc count, and the docmeta rows
    // of a sample from the base and from each batch (warm batch included)
    val sample = (0 until i).map(b => Inputs.doc(ctx.seed, BaseDocs + b.toLong * BatchDocs + rng.nextInt(BatchDocs))) :+
      Inputs.doc(ctx.seed, rng.nextInt(BaseDocs).toLong)
    ctx.attempted += 1
    val committed = BaseDocs + BatchDocs + appended
    if (!BuildCheck(spark, root, committed, sample)) ctx.failed += 1
    ctx.selfTestOk = SelfTest.hitsCheck(probe) && SelfTest.buildCheck(committed, sample)
    Bench.log("ingest checks done")

    // final compaction and gc, then the committed size per input byte
    val (_, fmS) = timed(SegmentMerge.tiered(spark, root, 1))
    val (deleted, gcS) = timed(Tracer.span("table.gc")(new IcebergLite(root).gc()))
    val ratio = Bench.committedBytes(root).toDouble / inBytes

    ctx.put("e2e", "op_p50_ms", median(cycleMs.toSeq), "ms")
    ctx.put("e2e", "ops_per_s", cycleMs.size / wallS, "1/s")
    ctx.put("detail", "build_docs_per_s", BatchDocs / (median(appendMs.toSeq) / 1000), "docs/s")
    ctx.put("e2e", "index_bytes_per_input_byte", ratio, "ratio")
    ctx.put("detail", "op_p95_ms", pct(cycleMs.toSeq, 0.95), "ms")
    ctx.put("detail", "append_p50_ms", median(appendMs.toSeq), "ms")
    ctx.put("detail", "fresh_query_p50_ms",
      median(openMs.zip(firstMs).map { case (a, b) => a + b }.toSeq), "ms")
    ctx.put("detail", "query_p50_ms", median(queryMs.toSeq), "ms")
    ctx.put("detail", "query_p95_ms", pct(queryMs.toSeq, 0.95), "ms")
    ctx.put("detail", "merge_s", mergePasses.sum, "s")
    ctx.put("detail", "appends", cycleMs.size, "count")
    ctx.put("detail", "merges", mergePasses.size, "count")

    if (ctx.traced) {
      ctx.listener.get.settle()
      ctx.put("layer", "query.engine_open_ms", Bench.medianOr0(openMs.toSeq), "ms")
      ctx.put("layer", "query.first_query_ms", Bench.medianOr0(firstMs.toSeq), "ms")
      ctx.put("layer", "table.manifest_read_ms", Bench.medianOr0(manifestMs.toSeq), "ms")
      ctx.put("layer", "table.segments", Bench.mean(segmentsAtQuery.toSeq), "count")
      ctx.put("layer", "table.gc_s", gcS, "s")
      ctx.put("layer", "table.files_deleted", deleted.size, "count")
      ctx.put("layer", "merge.pass_s", Bench.mean(mergePasses.toSeq), "s")
      ctx.put("layer", "merge.bytes_rewritten_per_ingested_byte",
        rewritten.toDouble / math.max(1L, ingestedSegBytes), "ratio")
      val (tr, un) = tracedCycle.partition(_._1)
      if (tr.nonEmpty && un.nonEmpty)
        ctx.put("layer", "trace.overhead_share", median(tr.map(_._2).toSeq) / median(un.map(_._2).toSeq) - 1, "ratio")
      Bench.queryJobLayers(ctx, "query")
      Bench.buildLayers(ctx, ctx.buildCalls.toSeq)
      Bench.analyzeProbe(ctx, Inputs.docs(ctx.seed, BaseDocs, 300).toSeq)
      val terms = answered.flatMap(a => QueryParser.parseScored(a._2.text).collect {
        case TermAtom(t, _) => t }).distinct.toSeq
      Bench.codecProbe(ctx, new QueryEngine(spark, root).postings
        .where(col("term").isin(terms: _*)).as[PostingRow].collect().toSeq)
      ctx.put("detail", "final_merge_s", fmS, "s")
    }
    ctx.put("detail", "input_s", inputS, "s")
    median(setups)
  }
}
