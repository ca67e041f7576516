package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Where an operation's result goes. */
sealed trait Sink
/** `noop` format: runs the whole plan and keeps nothing (graft.Bench's action). */
case object Discard extends Sink
/** `collect`: the rows go back to the caller, as a serving client gets them. */
case object Fetch extends Sink
/** Parquet files under `path`: the batch job's output. */
final case class Parquet(path: String) extends Sink

/** One operation. `check` judges fetched rows after the timed phase. */
final case class Op(name: String, input: String, build: () => DataFrame,
    sink: Sink, check: Option[Seq[Row] => Option[String]] = None)

/** A Verify-layout output (parquet + oracle_sql.json) for scripts/check.py:
  * the `names` results of `input`, written under `out`. */
final case class CheckGroup(input: String, out: String, names: Seq[String])

/** A finished operation. `warm` marks the warm-up cycles; `builds` and
  * `evictions` count the persisted relations it added and removed (traced
  * runs only). */
final case class Done(op: Op, index: Int, warm: Boolean, traced: Boolean,
    startMs: Double, wallS: Double, error: Option[String], rows: Seq[Row],
    builds: Int, evictions: Int)

/** Runs one workload in one process and writes its measurements as JSON.
  *
  * Arguments: `<manifest.json> <out-dir> <seconds> <trace 0|1> <seed>
  * <cpus> <launch epoch ms> <result.json> <spans.json>`. The manifest is
  * written by perfbench/gen.py and names the generated input directories.
  */
object Main {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(manifestPath, outDir, secondsArg, traceArg, seedArg, cpus,
      launchArg, resultPath, spansPath) = args
    val man = new ObjectMapper().readTree(new File(manifestPath))
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val seed = seedArg.toLong
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = nowMs

    val workload = man.get("workload").asText() match {
      case "olap_ladder" => new OlapLadder(spark, man, outDir)
      case "corpus_clean" => new CorpusClean(spark, man, outDir)
      case "graph_routing" => new GraphRouting(spark, man, outDir)
      case "rag_serve" => new RagServe(spark, man, outDir)
      case w => sys.error(s"unknown workload $w")
    }
    workload.setup()
    System.err.println(f"[perfbench] session ${(sessionReadyMs - launchArg.toDouble) / 1000}%.1f s, " +
      f"set-up ${(nowMs - sessionReadyMs) / 1000}%.1f s")

    val spans = new Spans
    val tracedOps = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new TraceListener(spans, i => tracedOps.contains(i))
    val plans = new PlanPhases
    val rnd = new scala.util.Random(seed)
    val done = mutable.ArrayBuffer.empty[Done]
    val sc = spark.sparkContext
    val bean = os.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def run(op: Op, traced: Boolean, warm: Boolean = false): Unit = {
      val idx = done.length
      if (traced) tracedOps.add(idx)
      val before = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
      sc.setJobGroup(s"op-$idx", op.name, interruptOnCancel = false)
      val t0 = nowMs
      var rows: Seq[Row] = Nil
      var t1 = t0
      val error = try {
        val df = op.build()
        t1 = nowMs
        op.sink match {
          case Discard => df.write.format("noop").mode("overwrite").save()
          case Fetch => rows = df.collect().toSeq
          case Parquet(p) => df.write.mode("overwrite").parquet(p)
        }
        None
      } catch {
        case t: Throwable =>
          Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
      }
      val t2 = nowMs
      sc.clearJobGroup()
      if (traced) {
        val root = spans.add(-1, idx, op.name, "op", t0, t2)
        spans.add(root, idx, "construct", "operators", t0, t1)
        val (name, layer) = op.sink match {
          case Parquet(_) => ("sink", "sink")
          case _ => ("exec", "exec")
        }
        spans.add(root, idx, name, layer, t1, t2)
      }
      val after = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
      done += Done(op, idx, warm, traced, t0, (t2 - t0) / 1000.0, error,
        if (op.check.isDefined) rows else Nil, (after -- before).size,
        (before -- after).size)
    }

    // The last step of set-up: `warmCycles` cycles on fresh inputs, so the
    // timed phase does not start on code paths run only once. Their outputs
    // are checked like every other.
    val warmCycles = 1
    (0 until warmCycles).foreach { c =>
      rnd.shuffle(workload.cycle(c)).foreach(run(_, traced = false, warm = true))
    }

    // Whole cycles only, so every run holds the same mix of operations.
    // A traced run alternates untraced and traced cycles for twice as long,
    // so trace.overhead_ratio compares operations of the same run. The
    // listeners are registered for the traced cycles only, and removed once
    // the bus has delivered their events, so untraced cycles carry none of
    // the tracing work.
    val budget = if (trace) 2 * seconds else seconds
    val firstOpMs = nowMs
    val cpu0 = bean.getProcessCpuTime
    var cycle = warmCycles
    var more = workload.hasCycle(cycle)
    while (more) {
      val traced = trace && (cycle - warmCycles) % 2 == 1
      if (traced) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(plans)
      }
      rnd.shuffle(workload.cycle(cycle)).foreach(run(_, traced))
      if (traced) {
        org.apache.spark.perfbench.Drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(plans)
      }
      cycle += 1
      more = workload.hasCycle(cycle) &&
        ((nowMs - firstOpMs) / 1000.0 < budget || (trace && cycle < warmCycles + 2))
    }
    val timedS = (nowMs - firstOpMs) / 1000.0
    val postMs = nowMs
    val cpuS = (bean.getProcessCpuTime - cpu0) / 1e9
    val cacheMb = CacheState.mb(spark)

    // Fetched rows are judged after the timed phase, against references
    // the workload computes once.
    val verdicts = done.map { d =>
      d.error.orElse(d.op.check.flatMap { c =>
        try c(d.rows) catch { case t: Throwable => Some(s"check failed: $t") }
      })
    }
    System.err.println(
      f"[perfbench] timed $timedS%.1f s, references ${(nowMs - postMs) / 1000}%.1f s")
    val groups = workload.checkGroups
    groups.foreach { g =>
      Files.writeString(Paths.get(g.out, "oracle_sql.json"),
        Json.write(g.names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    }

    val layers =
      if (!trace) Map.empty[String, Double]
      else Layers.measure(spark, workload, done.filterNot(_.warm).toSeq,
        listener, plans, spans, sessionReadyMs - launchArg.toDouble)
    if (trace) Files.writeString(Paths.get(spansPath), Json.write(spans.all))

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_n" -> cpus.toInt,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "loadavg_before" -> loadBefore,
      "loadavg_after" -> os.getSystemLoadAverage)
    val ops = done.zip(verdicts).map { case (d, v) =>
      Map("name" -> d.op.name, "input" -> d.op.input, "warm" -> d.warm,
        "traced" -> d.traced, "wall_s" -> d.wallS, "error" -> v)
    }
    val result = Json.write(Map(
      "env" -> env,
      "session_ready_ms" -> sessionReadyMs,
      "first_op_ms" -> firstOpMs,
      "timed_s" -> timedS,
      "cpu_s" -> cpuS,
      "cache_mb" -> cacheMb,
      "cycles" -> (cycle - warmCycles),
      "ops" -> ops,
      "checks" -> groups,
      "layers" -> layers))
    Files.writeString(Paths.get(resultPath), result)
    spark.stop()
  }
}

/** Memory plus disk, in MB, held by the persisted blocks Spark holds:
  * DataFrame persists, the engine's cache slots and GraphX's cached graph
  * alike. Read once unpersists issued without blocking have settled. */
object CacheState {
  def mb(spark: SparkSession): Double = {
    def read() = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    var (last, now, polls) = (-1.0, read(), 0)
    while (now != last && polls < 20) {
      Thread.sleep(100)
      last = now; now = read(); polls += 1
    }
    now
  }
}

/** Catalyst phase times of every executed query, by start time. */
final class PlanPhases extends QueryExecutionListener {
  val seen = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      seen += ((ph.map(_.startTimeMs).min.toDouble,
        ph.map(_.endTimeMs).max.toDouble, ph.map(_.durationMs).sum / 1000.0))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
