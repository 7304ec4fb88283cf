package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Cost of one job label inside one timed operation. */
final class LabelCost {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var recordsIn = 0L
  var recordsOut = 0L
  var outputB = 0L
  var maxTaskMs = 0L
  var maxStageTasks = 0
  /** wall time attributed by [[Trace.attribute]] */
  var wallMs = 0.0
}

/** A finished job: its label, its span (epoch ms), the name of its last
  * stage (the call site of the action for non-adaptive jobs), and whether
  * that stage is a result stage. */
final case class JobSpan(label: String, startMs: Long, endMs: Long, stageName: String,
                         resultJob: Boolean)

/** Per-operation trace: label -> cost (the rows "unlabeled" and "gap" are
  * the benchmark's own), the operation's jobs, and its wall time. */
final case class OpTrace(labels: Map[String, LabelCost], spans: Seq[JobSpan], wallMs: Double) {
  def gapMs: Double = labels.get(Trace.Gap).map(_.wallMs).getOrElse(0.0)
}

/** The benchmark's Spark listener.
  *
  * Always on: summed task CPU and shuffle bytes written, read as before/after
  * differences around an operation.
  *
  * Detailed (traced runs): every job is tagged at its start with the label
  * its `spark.job.description` names and with the operation that was running
  * then; its stages inherit both tags, so task costs are charged through the
  * tags captured at job start, never through a phase buffer that would have
  * to be cleared at a boundary. Entries are dropped as they complete: stage
  * tags on stage completion, job tags on job end; [[take]] removes an
  * operation's finished costs and spans. */
final class Trace extends SparkListener {
  @volatile var detailed = false
  @volatile private var op = -1

  private var cpuNs = 0L
  private var shuffleWriteB = 0L
  /** time spent in the detailed bookkeeping: the tracing overhead */
  private var busyNs = 0L
  private final case class JobTag(op: Int, label: String, start: Long, stageName: String,
                                  stages: Seq[Int], result: Boolean)
  private val jobs = mutable.HashMap.empty[Int, JobTag]
  private val stages = mutable.HashMap.empty[Int, (Int, String)]
  private val costs = mutable.HashMap.empty[(Int, String), LabelCost]
  private val spans = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobSpan]]

  def begin(opId: Int): Unit = op = opId
  def end(): Unit = op = -1
  def totals: (Long, Long) = synchronized((cpuNs, shuffleWriteB))
  def busy: Long = synchronized(busyNs)

  private def bookkeeping(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  private def cost(o: Int, label: String): LabelCost =
    costs.getOrElseUpdate((o, label), new LabelCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized(bookkeeping {
    val props = Option(e.properties)
    val label = Trace.labelOf(props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull)
    val last = e.stageInfos.maxByOption(_.stageId)
    val tag = JobTag(op, label, e.time, last.map(_.name).getOrElse(""), e.stageIds,
      last.exists(org.apache.spark.perfbenchbus.Bus.isResultStage))
    jobs(e.jobId) = tag
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = (op, label))
    cost(op, label).jobs += 1
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      if (detailed) bookkeeping(stages.get(e.stageId).foreach { case (o, label) =>
        val c = cost(o, label)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled + m.memoryBytesSpilled
        c.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        c.recordsOut += m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        c.outputB += m.outputMetrics.bytesWritten
        c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
      })
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) synchronized(bookkeeping {
    stages.remove(e.stageInfo.stageId).foreach { case (o, label) =>
      val c = cost(o, label)
      c.maxStageTasks = math.max(c.maxStageTasks, e.stageInfo.numTasks)
    }
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(bookkeeping {
    jobs.remove(e.jobId).foreach { t =>
      spans.getOrElseUpdate(t.op, mutable.ArrayBuffer.empty) +=
        JobSpan(t.label, t.start, e.time, t.stageName, t.result)
      t.stages.foreach(s => if (stages.get(s).exists(_._1 == t.op)) stages.remove(s))
    }
  })

  /** Removes and returns operation `opId`'s costs and job spans, with wall
    * time attributed over [w0, w1] (epoch ms). Call after draining the bus. */
  def take(opId: Int, w0: Long, w1: Long): OpTrace = synchronized {
    val mine = costs.keys.filter(_._1 == opId).toList
    val labels = mine.map(k => k._2 -> costs.remove(k).get).toMap
    val sp = spans.remove(opId).map(_.toList).getOrElse(Nil)
    val all = Trace.attribute(labels, sp, w0, w1)
    OpTrace(all, sp, (w1 - w0).toDouble)
  }
}

object Trace {
  val Unlabeled = "unlabeled"
  val Gap = "gap"
  val Output = "perfbench: output"
  val Pipeline = "perfbench: pipeline"

  /** A job's label: the program's own `graft: ...` description, the
    * benchmark's output label, or "unlabeled" for every other job (the
    * pipeline jobs the program leaves without a label of its own carry the
    * benchmark's outer description). */
  def labelOf(desc: String): String =
    if (desc == null) Unlabeled
    else if (desc.startsWith("graft: ") || desc == Output) desc
    else Unlabeled

  /** Splits the window [w0, w1] over the labels of the jobs running in each
    * instant, equally among the distinct labels running; instants with no
    * job go to the "gap" row. The label rows and the gap therefore add up to
    * the window exactly. */
  def attribute(labels: Map[String, LabelCost], spans: Seq[JobSpan],
                w0: Long, w1: Long): Map[String, LabelCost] = {
    val out = mutable.HashMap.empty[String, LabelCost] ++= labels
    labels.values.foreach(_.wallMs = 0.0)
    val evs = spans.flatMap { s =>
      val a = math.max(w0, math.min(w1, s.startMs)); val b = math.max(w0, math.min(w1, s.endMs))
      Seq((a, 1, s.label), (b, -1, s.label))
    }.sortBy(e => (e._1, e._2))
    val running = mutable.HashMap.empty[String, Int]
    var t = w0
    def charge(until: Long): Unit = if (until > t) {
      val active = running.collect { case (l, n) if n > 0 => l }
      val dt = (until - t).toDouble
      if (active.isEmpty) out.getOrElseUpdate(Gap, new LabelCost).wallMs += dt
      else active.foreach(l => out.getOrElseUpdate(l, new LabelCost).wallMs += dt / active.size)
      t = until
    }
    evs.foreach { case (time, d, l) =>
      charge(time)
      running(l) = running.getOrElse(l, 0) + d
    }
    charge(w1)
    out.toMap
  }
}
