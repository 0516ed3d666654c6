package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.hdbscan.Hdbscan
import graft.operators.Dedup

/** Child-process entry point for [[graft.CodegenReuseSpec]]: counts the
  * generated classes Spark compiles in each of several identical passes.
  *
  * Spark's generated-class cache is sized once per JVM, when code is first
  * generated, so the count only means something in a fresh JVM whose
  * session came from [[graft.GraftSession]]. One pass is a small
  * partitioned-exact fit (driver Kruskal), a bubble fit and an n-gram
  * Jaccard self-join, every output materialized. A compile is one sample of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`.
  *
  * Args: `[passes]` (default 3). Prints one line, `compiles=<p1>,<p2>,...`.
  * Run as: `sbt "runMain graft.tools.CodegenPasses 3"`.
  */
object CodegenPasses {

  def main(args: Array[String]): Unit = {
    val passes = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local("graft-codegen-passes", 4)
    spark.sparkContext.setLogLevel("ERROR")
    try println(s"compiles=${run(spark, passes).mkString(",")}")
    finally spark.stop()
  }

  /** Janino compiles per pass, in pass order. */
  def run(spark: SparkSession, passes: Int): Seq[Long] = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(6, 4)(rnd.nextDouble() * 60.0)
    val points = (0 until 3000).map { i =>
      (i.toLong, centers(i % 6).map(_ + rnd.nextGaussian()))
    }.toDF("id", "features").cache()
    // hex-token documents; every 10th is followed by a one-token edit of it
    val docs = {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      while (texts.size < 400) {
        val words = Array.fill(20)(f"${rnd.nextInt(1 << 16)}%04x")
        texts += words.mkString(" ")
        if (texts.size % 10 == 1) { words(7) = "edit"; texts += words.mkString(" ") }
      }
      texts.zipWithIndex.map { case (t, i) => (0, i.toLong, t) }.toSeq
    }.toDF("block", "doc_id", "text").cache()
    points.count(); docs.count()

    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // every pass starts from the same cached inputs: what a pass persists,
    // it releases
    val inputs = spark.sparkContext.getPersistentRDDs.keySet
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    (1 to passes).map { _ =>
      val before = compiles.getCount
      materialize(Hdbscan().setMode("exact").setMinClusterSize(20).setMaxLocalSize(500)
        .fit(points))
      materialize(Hdbscan().setMode("bubbles").setMinClusterSize(50).setSampleCap(200)
        .fit(points))
      materialize(Dedup.ngramJaccardPairsPrefix(docs, "block", n = 5, threshold = 0.5))
      val compiled = compiles.getCount - before
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!inputs(id)) rdd.unpersist(blocking = true) }
      compiled
    }
  }
}
