package graftbench

import graft.analyze.CodeAnalyzer
import graft.corpus.CorpusDoc
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** State shared by one benchmark run: session, seed, counters, metrics. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val runDir: String, val clients: Int,
                var listener: Option[JobListener]) {
  val sc = spark.sparkContext
  var attempted = 0L
  var failed = 0L
  /** Whether every correctness check failed on its corrupted inputs. */
  var selfTestOk = false
  /** Reported metrics by section: "e2e", "layer" and "detail". */
  val metrics = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, (Double, String)]]
  def put(section: String, name: String, value: Double, unit: String): Unit =
    metrics.getOrElseUpdate(section, mutable.LinkedHashMap.empty)(name) = (value, unit)
  /** Wall-clock windows of the benchmark's `IndexBuilder.build` calls. */
  val buildCalls = mutable.ArrayBuffer.empty[(Long, Long)]
  private val reqs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Runs one operation under its own job group and request id; returns
    * the result (or the exception) and the wall time in ms. */
  def op[A](name: String)(body: => A): (Either[Throwable, A], Double) = {
    val req = reqs.incrementAndGet()
    sc.setJobGroup(s"req-$req-$name", name, interruptOnCancel = false)
    Tracer.setRequest(req)
    val t0 = System.nanoTime()
    val r = try Right(Tracer.span(name)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    (r, ms)
  }

  /** A build call, timed and remembered for the listener's job split. */
  def build(corpus: Dataset[CorpusDoc], root: String, batch: Int = 0): (BuildReport, Double) = {
    val t0 = System.currentTimeMillis()
    val (r, s) = Bench.timed(Tracer.span("build.call") {
      IndexBuilder.build(spark, corpus, root, Bench.Shards, batch = batch, resume = batch == 0)
    })
    buildCalls += ((t0, System.currentTimeMillis()))
    (r, s)
  }
}

object Bench {
  /** Document shards of every index the benchmark builds (fixed, not
    * derived from the core count, so plans match across hosts). */
  val Shards = 4

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Median of a layer sample that may be empty (0 when it is). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def encoded(r: PostingRow): EncodedPostings =
    EncodedPostings(r.blocks.toArray,
      r.skips.map(s => Skip(s.firstDoc, s.lastDoc, s.maxTf, s.minDl)).toArray, r.df)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  /** Heap in use after a full collection, in MB: the program's live
    * data. Unlike the resident set it does not depend on how much of the
    * fixed-size heap the collector has touched. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes of the segment and dictionary directories the current
    * manifest references: the committed index size. */
  def committedBytes(root: String): Long = {
    val m = new IcebergLite(root).currentManifest()
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    (m.segments.map(_.name) ++ m.dict).map { d =>
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(s"$root/$d"))
    }.sum
  }

  def deleteDir(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** Writes `n` generated docs from `from` as a parquet table and returns
    * it with its content bytes. */
  def writeInput(spark: SparkSession, seed: Long, from: Long, n: Int, dir: String)
      : (Dataset[CorpusDoc], Long) = {
    import spark.implicits._
    spark.range(from, from + n, 1, 8).map(i => Inputs.doc(seed, i))
      .write.mode("overwrite").parquet(dir)
    val ds = spark.read.parquet(dir).as[CorpusDoc]
    val bytes = ds.selectExpr("sum(length(content))").as[Long].head()
    (ds, bytes)
  }

  /** Analyzer layer probe: single-thread `termPositionsSorted` over a
    * seeded document sample, warm. */
  def analyzeProbe(ctx: Ctx, sample: Seq[CorpusDoc]): Unit = {
    sample.foreach(d => CodeAnalyzer.termPositionsSorted(d.content))
    var distinct = 0L
    val (_, s) = timed(Tracer.span("analyze.termPositionsSorted") {
      sample.foreach(d => distinct += CodeAnalyzer.termPositionsSorted(d.content)._1.length)
    })
    ctx.put("layer", "analyze.us_per_doc", s * 1e6 / sample.size, "us")
    ctx.put("layer", "analyze.distinct_terms_per_doc", distinct.toDouble / sample.size, "count")
  }

  /** Codec layer probe over posting rows: `decodeAll` and re-`encode`,
    * timed over several passes. */
  def codecProbe(ctx: Ctx, rows: Seq[PostingRow]): Unit = {
    require(rows.nonEmpty, "codec probe needs posting rows")
    val enc = rows.map(encoded)
    val postings = enc.map(_.count).sum.toDouble
    val bytes = enc.map(_.blocks.map(_.length.toLong).sum).sum.toDouble
    val decoded = enc.map(Codec.decodeAll)
    val passes = 5
    val (_, dS) = timed(Tracer.span("codec.decodeAll") {
      (1 to passes).foreach(_ => enc.foreach(Codec.decodeAll))
    })
    val (_, eS) = timed(Tracer.span("codec.encode") {
      (1 to passes).foreach(_ => decoded.foreach { case (d, t, l) => Codec.encode(d, t, l) })
    })
    ctx.put("layer", "codec.decode_ns_per_posting", dS * 1e9 / (postings * passes), "ns")
    // three ints (docId, tf, dl) per posting, as FastLanes counts decode
    ctx.put("layer", "codec.decode_ints_per_s", 3 * postings * passes / dS, "1/s")
    ctx.put("layer", "codec.encode_ns_per_posting", eS * 1e9 / (postings * passes), "ns")
    ctx.put("layer", "codec.bytes_per_posting", bytes / postings, "B")
  }

  /** Build-layer split from the listener: the described jobs of the
    * benchmark's build calls, and the remainder of their wall time. */
  def buildLayers(ctx: Ctx, calls: Seq[(Long, Long)]): Unit = {
    val jobs = ctx.listener.get.all.filter(_.desc.startsWith("graft-build"))
    def inCall(j: JobRec, c: (Long, Long)) = j.startMs >= c._1 && j.startMs <= c._2
    val per = calls.map { c =>
      val js = jobs.filter(inCall(_, c))
      def phase(p: String) = js.filter(_.desc.endsWith(s": $p")).map(_.wallS).sum
      val covered = Tracer.union(js.map(j => (j.startMs, j.endMs))) / 1000.0
      (phase("analyze"), phase("docmeta"), phase("postings"),
        (c._2 - c._1) / 1000.0 - covered, js)
    }
    val n = math.max(1, per.size).toDouble
    val js = per.flatMap(_._5)
    ctx.put("layer", "build.analyze_job_s", per.map(_._1).sum / n, "s")
    ctx.put("layer", "build.docmeta_job_s", per.map(_._2).sum / n, "s")
    ctx.put("layer", "build.postings_job_s", per.map(_._3).sum / n, "s")
    ctx.put("layer", "build.other_s", per.map(_._4).sum / n, "s")
    ctx.put("layer", "build.task_cpu_s", js.map(_.cpuNs).sum / 1e9 / n, "s")
    ctx.put("layer", "build.shuffle_write_bytes", js.map(_.shuffleWrite).sum / n, "B")
    ctx.put("layer", "build.spill_bytes", js.map(_.spill).sum / n, "B")
    ctx.put("layer", "build.gc_s", js.map(_.gcMs).sum / 1000.0 / n, "s")
  }

  /** Query-layer listener stats over the operations' job groups. */
  def queryJobLayers(ctx: Ctx, groupPrefix: String): Unit = {
    val byReq = ctx.listener.get.all.filter(_.group.startsWith("req-"))
      .filter(_.group.contains(groupPrefix)).groupBy(_.group)
    val n = math.max(1, byReq.size).toDouble
    val jobs = byReq.values.flatten.toSeq
    ctx.put("layer", "query.spark_jobs", jobs.size / n, "count")
    ctx.put("layer", "query.spark_tasks", jobs.map(_.tasks).sum / n, "count")
    ctx.put("layer", "query.shuffle_bytes", jobs.map(_.shuffleWrite).sum / n, "B")
    ctx.put("layer", "query.distributed_share",
      byReq.values.count(_.exists(_.shuffleWrite > 0)) / n, "ratio")
    val waits = jobs.filter(_.firstLaunchMs != Long.MaxValue)
      .map(j => (j.firstLaunchMs - j.startMs).toDouble)
    ctx.put("layer", "query.task_wait_ms", mean(waits), "ms")
  }

  /** Every per-layer metric, zero where the workload does not reach the
    * layer; workloads overwrite what they measure. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "analyze.us_per_doc" -> "us", "analyze.distinct_terms_per_doc" -> "count",
    "codec.encode_ns_per_posting" -> "ns", "codec.decode_ns_per_posting" -> "ns",
    "codec.decode_ints_per_s" -> "1/s", "codec.bytes_per_posting" -> "B",
    "build.analyze_job_s" -> "s", "build.docmeta_job_s" -> "s",
    "build.postings_job_s" -> "s", "build.other_s" -> "s", "build.task_cpu_s" -> "s",
    "build.shuffle_write_bytes" -> "B", "build.spill_bytes" -> "B", "build.gc_s" -> "s",
    "table.manifest_read_ms" -> "ms", "table.segments" -> "count",
    "table.gc_s" -> "s", "table.files_deleted" -> "count",
    "merge.pass_s" -> "s", "merge.bytes_rewritten_per_ingested_byte" -> "ratio",
    "query.engine_open_ms" -> "ms", "query.first_query_ms" -> "ms",
    "query.parse_us" -> "us", "query.expand_ms" -> "ms", "query.plan_ms" -> "ms",
    "query.scan_ms" -> "ms", "query.wand_ms" -> "ms", "query.meta_fetch_ms" -> "ms",
    "query.postings_read" -> "count", "query.bytes_read" -> "B",
    "query.spark_jobs" -> "count", "query.spark_tasks" -> "count",
    "query.shuffle_bytes" -> "B", "query.distributed_share" -> "ratio",
    "query.task_wait_ms" -> "ms", "query.replay_gap_ms" -> "ms",
    "plans.sql_overhead_ms" -> "ms", "plans.planning_ms" -> "ms",
    "trace.overhead_share" -> "ratio") ++
    AnalyticsPass.Modules.map(m => s"ops.${m}_s" -> "s") ++
    Seq("ops.shuffle_bytes" -> "B", "ops.spill_bytes" -> "B")

  def session(clients: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$clients]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Shards.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not finite: $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = a("run-dir")
    val clients = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(clients)
    val ctx = new Ctx(spark, seed, seconds, traced, runDir, clients, None)
    // session start: JVM start to a ready session. It runs once and no
    // program code runs in it, so it is reported apart from setup_s.
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    ctx.listener = listener
    Tracer.enabled = traced
    if (traced) LayerUnits.foreach { case (n, u) => ctx.put("layer", n, 0.0, u) }
    try {
      val setupS = workload match {
        case "search" => SearchWorkload.run(ctx)
        case "ingest" => IngestWorkload.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      // traced runs given the seeded tables also time the operator pass
      a.get("tables").foreach { t =>
        require(traced, "the operator pass runs in traced runs only")
        AnalyticsPass.run(ctx, t, a("ops-out"))
        Bench.log("operator pass done")
      }
      ctx.put("e2e", "setup_s", setupS, "s")
      ctx.put("detail", "session_start_s", sessionS, "s")
      ctx.put("e2e", "peak_rss_mb", peakRssMb(), "MB")
      ctx.put("detail", "failed_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
      if (traced) {
        val spans = java.nio.file.Paths.get(a("spans"))
        Tracer.write(spans)
        println(s"PERFBENCH_SPANS $spans")
        val selfJson = Tracer.selfTimes().toSeq.sortBy(_._1).map { case (n, (c, t, s)) =>
          s""""$n":{"calls":$c,"total_s":$t,"self_s":$s}"""
        }.mkString("{", ",", "}")
        println(s"PERFBENCH_SELF $selfJson")
      }
      println(s"PERFBENCH_DETAIL ${json(ctx.metrics("detail"))}")
      val out = if (traced) ctx.metrics("layer") else ctx.metrics("e2e")
      println(s"""PERFBENCH_RESULT {"correct":${ctx.failed == 0 && ctx.selfTestOk},"attempted":${ctx.attempted},""" +
        s""""failed":${ctx.failed},"metrics":${json(out)}}""")
    } finally spark.stop()
  }
}
