package graft.hdbscan

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkTestBase

/** The seeded Voronoi split: pinned fit outputs on three routes, and the
  * split's job structure (one seed collect and one oversized-cell count
  * per round, nothing materialized before round 1). */
class VoronoiSplitSpec extends SparkTestBase {

  /** 6000 points in 6 dims: 12 Gaussian blobs (σ 0.5, 1, 1.5) plus 2%
    * uniform noise, in 4 fixed input partitions so the layout does not
    * depend on the host. */
  private lazy val points: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(805)
    val dim = 6
    val centers = Array.fill(12, dim)(rng.nextDouble() * 40.0)
    val rows = (0 until 6000).map { i =>
      val v =
        if (i % 50 == 49) Array.fill(dim)(rng.nextDouble() * 40.0)
        else {
          val b = i % 12
          val sigma = 0.5 * (1 + b % 3)
          centers(b).map(_ + rng.nextGaussian() * sigma)
        }
      (i.toLong, v)
    }
    spark.sparkContext.parallelize(rows, 4).toDF("id", "features").cache()
  }

  private val base = Hdbscan(minPts = 5, minClusterSize = 30)
  /** Exact, driver Kruskal merge: 6000 ≤ maxExactPoints. */
  private val exactKruskal = base.setMode("exact").setMaxLocalSize(60)
  /** Bubbles, matrix-free hierarchy: 271 bubbles, past bubbleMatrixCap. */
  private val bubbles = base.setMode("bubbles").setSampleCap(600).setBubbleMatrixCap(64)
  /** Exact, distributed Borůvka merge and distributed dendrogram. */
  private val distributed = base.setMode("exact").setMaxLocalSize(300)
    .setMaxExactPoints(0).setDendrogramDriverCap(0)

  /** SHA-256 prefix of the id-sorted (id, label, score bits, core bits). */
  private def digest(out: DataFrame): String = {
    import spark.implicits._
    val rows = out.select("id", "label", "outlier_score", "core_dist")
      .as[(Long, Int, Double, Double)].collect().sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(28)
    rows.foreach { case (id, label, score, core) =>
      buf.clear()
      buf.putLong(id).putInt(label)
        .putLong(java.lang.Double.doubleToRawLongBits(score))
        .putLong(java.lang.Double.doubleToRawLongBits(core))
      md.update(buf.array())
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  test("fit outputs are pinned bit for bit on all three split consumers") {
    // captured from the split loop that materialized every round eagerly;
    // how the split schedules its jobs must not move a single output bit
    val got = Seq(
      "exact-kruskal" -> digest(exactKruskal.fit(points)),
      "bubbles-matrix-free" -> digest(bubbles.fit(points)),
      "exact-distributed" -> digest(distributed.fit(points)))
    val pinned = Seq(
      "exact-kruskal" -> "85ab13d1964851db",
      "bubbles-matrix-free" -> "cbda586bf5d5190f",
      "exact-distributed" -> "abd628c852cdf548")
    assert(got == pinned)
  }

  test("each split round runs one seed collect and one count, nothing before round 1") {
    points.count()
    for ((name, h) <- Seq("exact-kruskal" -> exactKruskal, "bubbles" -> bubbles)) {
      val listener = new SplitJobListener
      spark.sparkContext.addSparkListener(listener)
      try {
        h.fit(points).write.format("noop").mode("overwrite").save()
        GraftShim.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      val actions = listener.splitActions()
      val shape = actions.map(a => s"${a.kind}×${a.jobs}").mkString(" ")
      info(s"$name split actions: $shape")
      // a round is a seed collect followed by the count that decides the
      // next round; a plain RDD action (an eager materialize) is never one
      assert(actions.nonEmpty && actions.length % 2 == 0, shape)
      actions.grouped(2).foreach { case Seq(seed, cnt) =>
        assert(seed.kind == "seed" && seed.jobs == 1, shape)
        assert(cnt.kind == "count" && cnt.jobs <= 2, shape)
      }
      val rounds = actions.length / 2
      assert(actions.map(_.jobs).sum <= 3 * rounds, shape)
    }
  }
}

/** One action of the split: `kind` is "seed" (a plain collect), "count"
  * (an aggregate collect) or "rdd" (a job outside any SQL execution, as an
  * eager materialize runs); `jobs` is how many jobs it ran. */
private final case class SplitAction(kind: String, jobs: Int)

/** Collects the jobs whose call site lies in `Hdbscan.voronoiSplit`: either
  * the submitting thread's stack (stage details) or the stack of the SQL
  * execution the job runs under names it. */
private final class SplitJobListener extends SparkListener {
  private final class Job(val exec: Option[Long], val stack: String)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val execs = mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.details, s.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs += new Job(exec, e.stageInfos.map(_.details).mkString("\n"))
  }

  def splitActions(): Seq[SplitAction] = synchronized {
    def inSplit(j: Job): Boolean =
      (j.stack +: j.exec.flatMap(execs.get).map(_._1).toSeq).exists(_.contains("voronoiSplit"))
    val out = mutable.ArrayBuffer.empty[(Option[Long], String, Int)]
    jobs.filter(inSplit).foreach { j =>
      out.lastOption match {
        case Some((e, k, n)) if j.exec.isDefined && e == j.exec =>
          out(out.length - 1) = (e, k, n + 1)
        case _ =>
          val kind = j.exec.flatMap(execs.get) match {
            case None => "rdd"
            case Some((_, plan)) => if (plan.contains("HashAggregate")) "count" else "seed"
          }
          out += ((j.exec, kind, 1))
      }
    }
    out.map { case (_, k, n) => SplitAction(k, n) }.toSeq
  }
}
