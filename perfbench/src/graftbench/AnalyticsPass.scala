package graftbench

import graft.SparkEntry
import scala.collection.mutable

/** One timed pass over every `SparkEntry.queries` operator on the seeded
  * tables (perfbench/tables.py), each materialized the way `graft.Bench`
  * does it: `coalesce(1).write.parquet`. The written results and the
  * oracle SQL are compared with DuckDB after the run (tools/verify_local.py,
  * called from run.py). */
object AnalyticsPass {
  /** Module of an operator, by the numbered groups `SparkEntry.queries`
    * lists them in. */
  def module(name: String): String = {
    val n = name.drop(1).takeWhile(_.isDigit).toInt
    if (n <= 19 || n == 38) "dashboard"
    else if (n <= 23 || (30 to 37).contains(n)) "text"
    else if (n <= 28) "sentiment"
    else if ((40 to 49).contains(n)) "dedup"
    else if ((50 to 56).contains(n) || n == 77) "ann"
    else if ((70 to 73).contains(n)) "multimodal"
    else "search"
  }
  val Modules = Seq("dashboard", "text", "sentiment", "dedup", "ann", "search", "multimodal")

  /** Operators run untimed first: they build the doc index and the ANN
    * stores that the other search and ANN operators reuse. */
  private val Warm = Seq("q60_bm25_topk", "q53_ann_lsh_topk", "q55_ann_ivf_topk")

  def run(ctx: Ctx, tables: String, out: String): Unit = {
    val spark = ctx.spark
    val sc = ctx.sc
    def materialize(name: String, dir: String): Double = {
      val df = SparkEntry.queries(name)(spark, tables)
      val (_, planS) = Bench.timed(Tracer.span("plans.planning")(df.queryExecution.executedPlan))
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      planS
    }
    Warm.foreach(n => materialize(n, s"$out-warm/$n"))
    Bench.deleteDir(s"$out-warm")
    // seeded operator order
    val rng = new graft.corpus.CorpusGen.Rng(ctx.seed * 977 + 13)
    val names = SparkEntry.queries.keys.toSeq.sorted.map(n => (rng.nextDouble(), n)).sortBy(_._1).map(_._2)
    val wall = mutable.LinkedHashMap.empty[String, Double]
    val planning = mutable.ArrayBuffer.empty[Double]
    names.foreach { n =>
      sc.setJobGroup(s"ops-$n", n, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        planning += Tracer.span(s"ops.${module(n)}")(materialize(n, s"$out/$n")) * 1000
        wall(n) = (System.nanoTime() - t0) / 1e9
      } catch {
        // an operator with an oracle is counted by the DuckDB comparison,
        // which finds no output for it
        case e: Exception => Bench.log(s"operator $n threw $e")
      }
      sc.clearJobGroup()
      if (!SparkEntry.oracleSql.contains(n)) {
        ctx.attempted += 1
        if (!wall.contains(n)) ctx.failed += 1
      }
    }
    writeOracles(s"$out/oracle_sql.json", names)
    ctx.listener.get.settle()
    val jobs = ctx.listener.get.all.filter(_.group.startsWith("ops-"))
    Modules.foreach { m =>
      ctx.put("layer", s"ops.${m}_s", wall.filter(w => module(w._1) == m).values.sum, "s")
    }
    ctx.put("layer", "ops.shuffle_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "B")
    ctx.put("layer", "ops.spill_bytes", jobs.map(_.spill).sum.toDouble, "B")
    ctx.put("layer", "plans.planning_ms", Bench.mean(planning.toSeq), "ms")
    ctx.put("detail", "ops_total_s", wall.values.sum, "s")
    ctx.put("detail", "ops_op_p50_ms", Bench.median(wall.values.map(_ * 1000).toSeq), "ms")
    ctx.put("detail", "ops_operators", wall.size, "count")
  }

  /** The oracle SQL of the run operators as one JSON object. */
  private def writeOracles(path: String, names: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
