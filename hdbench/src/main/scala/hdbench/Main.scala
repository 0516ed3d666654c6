package hdbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.kernel.HdbscanKernel

/** Benchmark entry point:
  * `hdbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Set-up, then passes of the workload's timed calls for `seconds`, each
  * preceded by the ambient control job and followed by an output check.
  * The last stdout line is one JSON object: with `--trace 0` the end-to-end
  * metrics, with `--trace 1` the per-layer metrics of traced passes. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace takes 0 or 1, not $trace")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1")
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def now: Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The `q_bench_control` shape: fixed work on a literal range, so its time
    * reads the machine, never the data. Returns seconds, checked. */
  def control(spark: SparkSession): Double = {
    val t0 = now
    val r = spark.range(0L, 5000000L)
      .select((col("id") % 9973L).as("k"), col("id").as("v"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_rows"),
        sum(col("sv") % 1000003L).as("checksum"))
      .head()
    val t = now - t0
    require(r.getLong(0) == 9973L && r.getLong(1) == 5000000L, s"control job returned $r")
    t
  }

  /** One timed pass: wall, process CPU, JVM GC and driver result bytes of
    * the workload's calls (started at `startMs`), then the untimed output
    * check. */
  final case class Pass(wall: Double, cpu: Double, gc: Double, resultMb: Double,
      startMs: Long, checked: Checked)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val tSession = now
    val spark = GraftSession.localBuilder("hdbench", cores)
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = now - tSession
    try bench(spark, opts, cores, sessionS)
    catch { case e: Exception => e.printStackTrace(); spark.stop(); sys.exit(1) }
    spark.stop()
    sys.exit(0)
  }

  def bench(spark: SparkSession, opts: Opts, cores: Int, sessionS: Double): Unit = {
    val wl = Workload(opts.workload, cores)

    // ---- set-up: generate (three times: the fingerprint self-check), load,
    // untimed warm-up runs ----
    val genTimes = mutable.ArrayBuffer.empty[Double]
    def timedGen(seed: Long): String = { val t = now; val f = wl.generate(seed); genTimes += now - t; f }
    val other = timedGen(opts.seed + 1)
    val again = timedGen(opts.seed)
    val fingerprint = timedGen(opts.seed)
    val fingerprintOk = fingerprint == again && fingerprint != other
    val tLoad = now
    wl.load(spark)
    val loadS = now - tLoad
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    def release(): Unit = spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!baseline(id)) rdd.unpersist(blocking = true) }
    val tWarm = now
    val warm = (1 to wl.warmUps).flatMap { _ =>
      val c =
        try wl.check(wl.run(spark))
        catch { case e: Exception => Checked(Double.NaN, Double.NaN, Seq(e.toString)) }
      release()
      c.problems
    }
    val warmS = now - tWarm
    val setupS = sessionS + median(genTimes.toSeq) + loadS + warmS

    val resultBytes = new ResultBytes
    spark.sparkContext.addSparkListener(resultBytes)
    val controls = mutable.ArrayBuffer.empty[Double]
    val probeTimes = mutable.ArrayBuffer.empty[Double]
    def pass(tracer: Option[LayerTracer]): Either[String, Pass] = {
      controls += control(spark)
      // the control job's queued events must not reach the tracer
      GraftShim.drainListenerBus(spark)
      tracer.foreach(spark.sparkContext.addSparkListener)
      val bytes0 = resultBytes.bytes.get
      val (c0, g0, ms0, t0) = (cpuS, gcS, System.currentTimeMillis(), now)
      val res =
        try {
          val outs = wl.run(spark)
          val (wall, cpu, gc) = (now - t0, cpuS - c0, gcS - g0)
          GraftShim.drainListenerBus(spark)
          val mb = (resultBytes.bytes.get - bytes0) / 1e6
          val probed = if (tracer.isEmpty) Nil else {
            val tp = now
            val p = wl.probe(spark)
            probeTimes += now - tp
            GraftShim.drainListenerBus(spark)
            p
          }
          tracer.foreach(spark.sparkContext.removeSparkListener)
          val checked = wl.check(outs)
          val problems = checked.problems ++ wl.checkProbe(probed)
          Right(Pass(wall, cpu, gc, mb, ms0, checked.copy(problems = problems)))
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      tracer.foreach(spark.sparkContext.removeSparkListener)
      release()
      res
    }

    val untraced = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[(Pass, LayerTracer)]
    val errors = mutable.ArrayBuffer.empty[String]
    var measured = 0.0
    var attempted = 0
    // at least three passes (the median then leaves out the slow first
    // one), then until the timed calls alone have run `seconds`: counting
    // only timed time keeps the pass count, and so the median's sample
    // size, the same from run to run. Traced passes alternate with
    // untraced ones, starting and ending untraced, so each traced pass is
    // compared with the untraced passes on either side
    val minPasses = 3
    while (attempted < minPasses || measured < opts.seconds ||
        (opts.trace && attempted % 2 == 0)) {
      val tracer =
        if (opts.trace && attempted % 2 == 1) Some(new LayerTracer(Thread.currentThread))
        else None
      attempted += 1
      (pass(tracer), tracer) match {
        case (Right(r), Some(t)) => traced += ((r, t)); measured += r.wall
        case (Right(r), None) => untraced += r; measured += r.wall
        case (Left(e), _) => errors += e; measured = math.max(measured, opts.seconds)
      }
    }
    val passes = untraced.toSeq ++ traced.map(_._1)
    val failedChecks = passes.filter(_.checked.problems.nonEmpty)
    val failed = errors.size + failedChecks.size
    (errors ++ failedChecks.flatMap(_.checked.problems) ++ warm.map("warm-up: " + _))
      .distinct.foreach(p => System.err.println(s"[hdbench] check failed: $p"))
    if (!fingerprintOk) System.err.println("[hdbench] input fingerprint self-check failed")

    traced.headOption.foreach { case (_, t) =>
      t.layers.toSeq.sortBy(_._1).foreach { case (l, a) =>
        System.err.println(f"[hdbench] layer $l%-26s jobs ${a.jobs}%4d stages ${a.stages}%4d " +
          f"(inferred ${a.inferredStages}%4d, sampled elsewhere ${a.mismatchStages}%4d) tasks ${a.tasks}%5d busy ${a.busyMs / 1e3}%7.3f s")
      }
    }
    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) endToEnd(untraced.toSeq, setupS)
      else perLayer(traced.toSeq, untraced.toSeq, controls.toSeq, opts.seed)
    val correct = failed == 0 && warm.isEmpty && fingerprintOk
    println(Seq(s"# workload=${opts.workload}", s"seed=${opts.seed}", s"input=$fingerprint",
      s"wall_s=${passes.map(r => fmt(r.wall)).mkString(",")}",
      s"control_s=${controls.map(fmt).mkString(",")}",
      s"probe_s=${probeTimes.map(fmt).mkString(",")}",
      s"setup_s=session ${fmt(sessionS)} + gen ${fmt(median(genTimes.toSeq))} " +
        s"+ load ${fmt(loadS)} + warm-up ${fmt(warmS)}").mkString(" "))
    println(json(correct, attempted, failed, metrics))
  }

  def endToEnd(passes: Seq[Pass], setupS: Double): Seq[(String, Double, String)] = Seq(
    ("wall_s", median(passes.map(_.wall)), "s"),
    ("cpu_s", median(passes.map(_.cpu)), "s"),
    ("driver_result_mb", median(passes.map(_.resultMb)), "MB"),
    ("ari", median(passes.map(_.checked.ari)), "ratio"),
    ("recall", median(passes.map(_.checked.recall)), "ratio"),
    ("setup_s", setupS, "s"))

  def perLayer(traced: Seq[(Pass, LayerTracer)], untraced: Seq[Pass],
      controls: Seq[Double], seed: Long): Seq[(String, Double, String)] = {
    val resolved = traced.map(_._2.layers)
    def med(f: Map[String, LayerTracer.Acc] => Double): Double = median(resolved.map(f))
    val layers = LayerTracer.Layers.flatMap { l =>
      def of(f: LayerTracer.Acc => Double): Double =
        med(t => t.get(l).map(f).getOrElse(0.0))
      Seq(
        (s"$l.jobs", of(_.jobs.toDouble), "count"),
        (s"$l.tasks", of(_.tasks.toDouble), "count"),
        (s"$l.busy_s", of(_.busyMs / 1e3), "s"),
        (s"$l.cpu_s", of(_.cpuNs / 1e9), "s"),
        (s"$l.shuffle_mb", of(_.shuffleBytes / 1e6), "MB"),
        (s"$l.spill_mb", of(_.spillBytes / 1e6), "MB"),
        (s"$l.result_mb", of(_.resultBytes / 1e6), "MB"))
    }
    val tracedWall = median(traced.map(_._1.wall))
    val (evals, evalsPerS) = kernelSpan(seed)
    layers ++ Seq(
      ("driver.gap_s", median(traced.map { case (r, t) =>
        t.idleMs(r.startMs, r.startMs + math.round(r.wall * 1e3)) / 1e3 }), "s"),
      ("gc_s", median(traced.map(_._1.gc)), "s"),
      ("task_retries", med(_.values.map(_.retries).sum.toDouble), "count"),
      ("unattributed_share", med { t =>
        val all = t.values.map(_.stages).sum
        if (all == 0) 0.0
        else t.get(LayerTracer.Unattributed).map(_.stages).getOrElse(0L).toDouble / all
      }, "ratio"),
      ("inferred_share", med { t =>
        val all = t.values.map(_.stages).sum
        if (all == 0) 0.0 else t.values.map(_.inferredStages).sum.toDouble / all
      }, "ratio"),
      ("inferred_mismatch_share", med { t =>
        val all = t.values.map(_.stages).sum
        if (all == 0) 0.0 else t.values.map(_.mismatchStages).sum.toDouble / all
      }, "ratio"),
      ("kernel.dist_evals", evals, "count"),
      ("kernel.evals_per_s", evalsPerS, "1/s"),
      ("control_s", median(controls), "s"),
      ("trace.wall_s", tracedWall, "s"),
      ("trace.overhead_share", tracedWall / median(untraced.map(_.wall)) - 1.0, "ratio"))
  }

  /** The per-cell exact kernel alone: public `HdbscanKernel.coreDistances`
    * and `primMst` on one fixed 4096-point cell of the generator. The
    * distance count comes from an instrumented pass; the rate from three
    * uninstrumented ones. */
  def kernelSpan(seed: Long): (Double, Double) = {
    val cell = Gen.blobs(4096, 8, k = 16, noiseFrac = 0.02, seed).feats
    val minPts = 4
    var evals = 0L
    val counting: HdbscanKernel.Dist = (a, b) => { evals += 1; HdbscanKernel.euclidean(a, b) }
    HdbscanKernel.primMst(cell, HdbscanKernel.coreDistances(cell, minPts, counting), counting)
    val secs = (1 to 3).map { _ =>
      val t0 = now
      HdbscanKernel.primMst(cell,
        HdbscanKernel.coreDistances(cell, minPts, HdbscanKernel.euclidean), HdbscanKernel.euclidean)
      now - t0
    }
    (evals.toDouble, evals / median(secs))
  }

  def fmt(x: Double): String = f"$x%.3f"

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
