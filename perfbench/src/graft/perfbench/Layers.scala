package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MinHashSig, ShingleKernels}
import graft.operators.CorpusOps

/** Per-layer metrics of a traced run, each a per-operation mean over the
  * traced operations unless its name says otherwise. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }

  /** Median of three timed runs of `f`, in seconds. */
  private def floor(f: => Unit): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  })
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, w: Workload, done: Seq[Done],
      listener: TraceListener, plans: PlanPhases, spans: Spans,
      sessionStartS: Double): Map[String, Double] = {
    listener.countPlans()
    val traced = done.filter(_.traced)
    val n = math.max(traced.length, 1).toDouble
    // each executed query's Catalyst phases, attributed to the traced
    // operation whose interval holds their start
    val planS = Array.fill(done.map(_.index).max + 1)(0.0)
    plans.seen.foreach { case (start, end, dur) =>
      traced.find(d => d.startMs - 1 <= start && start <= d.startMs + d.wallS * 1000)
        .foreach { d =>
          planS(d.index) += dur
          spans.add(-2, d.index, "plan", "catalyst", start, end)
        }
    }
    spans.resolve()
    val c = traced.map(d => listener.counters(d.index))
    def per(f: OpCounters => Double): Double = c.map(f).sum / n
    def spanS(name: String): Seq[Double] =
      spans.all.filter(s => s.name == name && traced.exists(_.index == s.op))
        .map(s => (s.endMs - s.startMs) / 1000.0).toSeq
    val construct = spans.all.filter(_.name == "construct").map(_.id).toSet
    val eagerJobs = spans.all.count(s => s.name.startsWith("job") && construct(s.parent))
    val sinkOps = traced.filter(_.op.sink.isInstanceOf[Parquet])
    val sinkFiles = sinkOps.map { d =>
      val p = d.op.sink.asInstanceOf[Parquet].path
      Option(new File(p).listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
    }
    val untracedP50 = median(done.filterNot(_.traced).map(_.wallS))

    // floors over the workload's own inputs, through the engine's loaders
    // and kernels, each to a noop sink
    val t = Tables(spark, w.base)
    val scanFloor = floor(Seq(t.region, t.nation, t.customer, t.supplier,
      t.part, t.orders, t.lineitem, t.events, t.documents, t.embeddings)
      .foreach(noop))
    val words = t.documents
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
    def kernel(f: => DataFrame) = floor(noop(f))

    Map(
      "session.start_s" -> sessionStartS / 1000.0,
      "tables.scan_floor_s" -> scanFloor,
      "tables.read_mb" -> per(_.inputBytes / 1e6),
      "tables.rows_read" -> per(_.inputRecords.toDouble),
      "operators.construct_s" -> spanS("construct").sum / n,
      "operators.eager_jobs" -> eagerJobs / n,
      "catalyst.plan_s" -> traced.map(d => planS(d.index)).sum / n,
      "catalyst.exchanges" -> per(_.exchanges.toDouble),
      "catalyst.codegen_stages" -> per(_.codegenStages.toDouble),
      "exec.run_s" -> (spanS("exec") ++ spanS("sink")).sum / n,
      "exec.task_cpu_s" -> per(_.cpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1000.0),
      "exec.jobs" -> per(_.jobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.sched_delay_s" -> per(_.schedMs / 1000.0),
      "exec.task_skew" -> median(c.map(_.skew)),
      "exchange.write_mb" -> per(_.shuffleWrite / 1e6),
      "exchange.read_mb" -> per(_.shuffleRead / 1e6),
      "exchange.fetch_wait_s" -> per(_.fetchWaitMs / 1000.0),
      "exchange.spill_mb" -> per(_.spill / 1e6),
      "cache.builds" -> traced.map(_.builds).sum / n,
      "cache.evictions" -> traced.map(_.evictions).sum / n,
      "cache.reuse_ratio" -> traced.count(_.builds == 0) / n,
      "cache.mb" -> CacheState.mb(spark),
      "functions.word_grams_arr_s" -> kernel(words.select(
        explode(ShingleKernels.word_grams_arr(col("w"), 3)))),
      "functions.char_shingles_s" -> kernel(words.select(
        explode(ShingleKernels.char_shingles(col("text"), 8)))),
      "functions.minhash_sig_s" -> kernel(words
        .select(col("doc_id"), explode(ShingleKernels.char_shingles(col("text"), 8)).as("sh"))
        .groupBy(col("doc_id")).agg(MinHashSig.minhash_sig(col("sh"), 64))),
      "functions.chunk_windows_s" -> kernel(
        CorpusOps.chunkWindowArrays(t.documents)),
      "sink.write_s" -> (if (sinkOps.isEmpty) 0.0 else spanS("sink").sum / sinkOps.length),
      "sink.write_mb" -> (if (sinkOps.isEmpty) 0.0
        else sinkOps.map(d => listener.counters(d.index).outputBytes).sum / 1e6 / sinkOps.length),
      "sink.files" -> (if (sinkOps.isEmpty) 0.0 else sinkFiles.sum.toDouble / sinkOps.length),
      "trace.overhead_ratio" -> (if (untracedP50 > 0) median(traced.map(_.wallS)) / untracedP50 else 0.0))
  }
}
