package hdbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Sums one counter: the task result bytes shipped to the driver. Cheap
  * enough to stay attached in untraced runs. */
final class ResultBytes extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
}

/** Charges every Spark job to the engine layer on its call site.
  *
  * A job's layer is the innermost frame of its call stack that belongs to
  * a named layer (a module, or one method of `Hdbscan`). The call stack is
  * looked up in order:
  *   1. the job's own stages (`StageInfo.details`: the stack of the thread
  *      that submitted the job);
  *   2. the SQL execution the job runs under (`spark.sql.execution.id`),
  *      whose start event carries the stack of the thread that began it;
  *   3. that execution's root execution (`spark.sql.execution.root.id`),
  *      for executions nested inside another one.
  * Jobs that adaptive query execution, broadcast exchanges and checkpoint
  * materialization submit from pool threads carry none of these: their
  * stack is the pool thread's, and the work started from a plain RDD action
  * (as `GraftShim.materialize` does) runs under no SQL execution at all.
  * The caller thread is blocked in the action that needs them, and that
  * action's own result job is submitted from the caller thread once they
  * finish. So a job with no engine or benchmark frame anywhere is charged
  * to the next job that has one; only jobs with no such successor stay
  * unattributed. The stages so placed are counted apart (`inferredStages`):
  * a charge by order alone can be wrong, and their share shows how much of
  * the attribution rests on it. As a cross-check, the tracer samples the
  * stack of `caller` (the thread that runs the workload) when it sees such
  * a job start; the stages of inferred jobs whose sampled layer differs
  * from the charge are counted too (`mismatchStages`). The sample is taken
  * on the listener thread, after the job started, so it is only a check:
  * the caller may have moved on by then.
  *
  * A job placed in engine code outside the named layers (for example the
  * input count in `Hdbscan.fit`) is charged to `other`, one submitted by the
  * benchmark itself (output materialization) to `bench`. */
final class LayerTracer(caller: Thread) extends SparkListener {
  import LayerTracer._

  private final class Job(val stageIds: Seq[Int], val layer: Option[String],
      val sampled: Option[String])
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, Acc]
  private val execStack = mutable.HashMap.empty[Long, String]
  private val execRoot = mutable.HashMap.empty[Long, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (start, end) wall-clock ms of every job, for the driver-gap figure. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStack(s.executionId) = s.details
      s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[Long] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong)
    val exec = prop("spark.sql.execution.id")
    val root = prop("spark.sql.execution.root.id").orElse(exec.flatMap(execRoot.get))
    val stacks = e.stageInfos.map(_.details) ++
      exec.flatMap(execStack.get) ++ root.flatMap(execStack.get)
    val layer = stacks.iterator.map(layerOf).collectFirst { case Some(l) => l }
    val sampled =
      if (layer.isDefined) None else layerOf(caller.getStackTrace.mkString("\n"))
    jobs += new Job(e.stageIds, layer, sampled)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new Acc).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new Acc)
    a.tasks += 1
    if (e.taskInfo != null && (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful))
      a.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      a.busyMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.resultBytes += m.resultSize
    }
  }

  /** Per-layer totals, jobs resolved as described above. */
  def layers: Map[String, Acc] = synchronized {
    val resolved = new Array[String](jobs.length)
    var next = Unattributed
    for (i <- jobs.indices.reverse) {
      jobs(i).layer.foreach(next = _)
      resolved(i) = jobs(i).layer.getOrElse(next)
    }
    val out = mutable.HashMap.empty[String, Acc]
    val charged = mutable.HashSet.empty[Int]
    for ((job, layer) <- jobs.zip(resolved)) {
      val acc = out.getOrElseUpdate(layer, new Acc)
      acc.jobs += 1
      // a stage shared by several jobs (a reused shuffle) is charged once,
      // to the first job that ran it
      val own = job.stageIds.filter(charged.add).flatMap(stages.get)
      own.foreach(acc.add)
      if (job.layer.isEmpty && layer != Unattributed) {
        val n = own.map(_.stages).sum
        acc.inferredStages += n
        if (job.sampled.exists(_ != layer)) acc.mismatchStages += n
      }
    }
    out.toMap
  }

  /** Wall-clock ms inside [t0, t1] during which no job was running. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    var covered = 0L
    var end = t0
    jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }
}

object LayerTracer {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var busyMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
    var retries = 0L
    /** Stages placed by the next-job fallback rather than by a stack. */
    var inferredStages = 0L
    /** Inferred stages whose caller-thread sample names another layer. */
    var mismatchStages = 0L
    def add(o: Acc): Unit = {
      stages += o.stages; tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
      resultBytes += o.resultBytes; retries += o.retries
    }
  }

  val Unattributed = "unattributed"
  val Other = "other"
  val Bench = "bench"

  /** The named layers, in report order. */
  val Layers: Seq[String] = Seq(
    "Hdbscan.voronoiSplit", "Hdbscan.exactGlobal", "Hdbscan.exactDistributed",
    "Hdbscan.bubbleGlobal", "BoruvkaMst", "ConnectedComponents",
    "DistributedDendrogram", "BubbleSketchGraph", "Dedup")

  private val HdbscanMethod =
    """graft\.hdbscan\.Hdbscan\.\S*?(voronoiSplit|exactGlobal|exactDistributed|bubbleGlobal)""".r
  private val Module =
    """graft\.(?:operators|hdbscan)\.(BoruvkaMst|ConnectedComponents|DistributedDendrogram|BubbleSketchGraph|Dedup)[.$]""".r
  private val EngineFrame = """(?m)^\s*(?:at\s+)?graft\.""".r
  private val BenchFrame = """(?m)^\s*(?:at\s+)?hdbench\.""".r

  /** The layer of the innermost matching frame of one call stack (one frame
    * per line); `other` for a stack with engine frames but no named layer,
    * `bench` for one with benchmark frames only, None for neither. */
  def layerOf(stack: String): Option[String] =
    if (stack == null) None
    else stack.linesIterator.map { line =>
      HdbscanMethod.findFirstMatchIn(line).map("Hdbscan." + _.group(1))
        .orElse(Module.findFirstMatchIn(line).map(_.group(1)))
    }.collectFirst { case Some(l) => l }
      .orElse(EngineFrame.findFirstIn(stack).map(_ => Other))
      .orElse(BenchFrame.findFirstIn(stack).map(_ => Bench))
}
