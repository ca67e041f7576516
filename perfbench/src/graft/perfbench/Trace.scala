package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One traced interval. `parent` is -1 for an operation's root span and
  * -2 for a Spark job or stage whose parent is found by time at the end. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startMs: Double, endMs: Double)

/** Spans kept in memory and written once, when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, op: Int, name: String, layer: String,
      startMs: Double, endMs: Double): Int = synchronized {
    val id = all.length
    all += Span(id, parent, op, name, layer, startMs, endMs)
    id
  }

  /** Hang each plan and job under the phase span (construct, exec or sink)
    * of its operation that contains its start, and each stage under the
    * job that contains its start. */
  def resolve(): Unit = synchronized {
    def inside(s: Span, c: Span) = c.startMs <= s.startMs && s.startMs <= c.endMs
    val phaseNames = Set("construct", "exec", "sink")
    for (kind <- Seq("plan", "job", "stage"); i <- all.indices) {
      val s = all(i)
      if (s.parent == -2 && s.name.startsWith(kind)) {
        val ops = all.filter(_.op == s.op)
        val jobs = ops.filter(c => c.name.startsWith("job") && c.parent != -2)
        val parent = (if (kind == "stage") jobs.find(inside(s, _)) else None)
          .orElse(ops.find(c => phaseNames(c.name) && inside(s, c)))
          .orElse(ops.find(_.parent == -1))
        all(i) = s.copy(parent = parent.map(_.id).getOrElse(-1))
      }
    }
  }
}

/** What Spark did for one operation, summed over its jobs and stages. */
final class OpCounters {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L
  var exchanges = 0; var codegenStages = 0
  /** max / median task time of the operation's slowest stage. */
  var skew = 1.0
  private var slowestStageMs = -1L
  def stage(durMs: Long, taskMs: Seq[Long]): Unit =
    if (durMs > slowestStageMs && taskMs.nonEmpty) {
      slowestStageMs = durMs
      val s = taskMs.sorted
      skew = s.last.toDouble / math.max(s(s.length / 2), 1L)
    }
}

/** Listener the benchmark registers in a traced run. Jobs carry the job
  * group the benchmark sets per operation (`op-<index>`); stages, tasks and
  * SQL executions are attributed to the operation through their job. */
final class TraceListener(spans: Spans, traced: Int => Boolean)
    extends SparkListener {
  val byOp = mutable.HashMap.empty[Int, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Double)]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execOp = mutable.HashMap.empty[Long, Int]
  private val execPlan = mutable.HashMap.empty[Long, SparkPlanInfo]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).filter(traced)

  def counters(op: Int): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      counters(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobSpan(e.jobId) = (op, e.time.toDouble)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execOp(x.toLong) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (op, start) =>
      spans.add(-2, op, s"job ${e.jobId}", "exec", start, e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      val i = e.taskInfo
      c.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        i.duration
      Option(e.taskMetrics).foreach { m =>
        c.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stageOp.remove(s.stageId).foreach { op =>
        val c = counters(op)
        c.stages += 1
        val m = s.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
        val start = s.submissionTime.getOrElse(0L)
        val end = s.completionTime.getOrElse(start)
        val tasks = stageTasks.remove(s.stageId).map(_.toSeq).getOrElse(Nil)
        c.stage(end - start, tasks)
        spans.add(-2, op, s"stage ${s.stageId}", "exec",
          start.toDouble, end.toDouble)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execPlan(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }

  /** Exchanges and whole-stage-codegen stages of each operation's final
    * physical plans, read from the plan trees Spark posts per execution. */
  def countPlans(): Unit = synchronized {
    def walk(p: SparkPlanInfo, c: OpCounters): Unit = {
      if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange")
        c.exchanges += 1
      if (p.nodeName.startsWith("WholeStageCodegen")) c.codegenStages += 1
      p.children.foreach(walk(_, c))
    }
    execPlan.foreach { case (x, plan) =>
      execOp.get(x).foreach(op => walk(plan, counters(op)))
    }
    execPlan.clear()
  }
}
