package hdbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.hdbscan.Hdbscan
import graft.operators.Dedup

/** Outcome of one output check. `problems` is empty when the output passed. */
final case class Checked(ari: Double, recall: Double, problems: Seq[String])

/** One benchmark workload: seeded inputs, the timed calls into the engine's
  * public API, and a check of their outputs. */
trait Workload {
  /** Generate the inputs for `seed` on the driver; returns their fingerprint. */
  def generate(seed: Long): String
  /** Hand the generated inputs to Spark as persisted frames. */
  def load(spark: SparkSession): Unit
  /** The timed call(s), with every output materialized. */
  def run(spark: SparkSession): Seq[DataFrame]
  /** Untimed: verify what [[run]] returned. */
  def check(outputs: Seq[DataFrame]): Checked
  /** Traced passes only, after the timed calls and outside every end-to-end
    * figure: calls that reach layers the timed calls do not, with every
    * output materialized. */
  def probe(spark: SparkSession): Seq[DataFrame] = Nil
  /** Untimed and untraced: the problems found in what [[probe]] returned. */
  def checkProbe(outputs: Seq[DataFrame]): Seq[String] = Nil
  /** Untimed, checked runs in set-up, before the first timed pass. */
  def warmUps: Int = 1
}

object Workload {
  def apply(name: String, cores: Int): Workload = name match {
    // The same seeded blobs through the two fit routes that keep the merge
    // on the driver: the partitioned-exact route (per-cell exact kernels,
    // driver Kruskal, below maxExactPoints) and the bubble sketch past
    // bubbleMatrixCap (about 500 bubbles against a cap of 256: deep Voronoi
    // split, CF shuffle, matrix-free sketch graph). The sketch's
    // minClusterSize sits far above one bubble's mass (~40 points), or every
    // bubble qualifies as a cluster of its own.
    //
    // The probe takes the global-merge route instead: the first 2000 points
    // (a uniform sample, the ids being shuffled) in 4+ cells, merged by
    // distributed Boruvka and the distributed dendrogram, both forced on by
    // zero caps. Its few hundred small jobs track the host's load too
    // closely for a timed figure, so only traced passes run it: its job,
    // task, shuffle and result counts are what the per-layer metrics read.
    case "exact_and_sketch" => new Clustering(n = 20000, cores, ariFloor = 0.85, Seq(
      Hdbscan().setMode("exact").setMinClusterSize(50),
      Hdbscan().setMode("bubbles").setMinClusterSize(200)
        .setSampleCap(1024).setBubbleMatrixCap(256)),
      probeFit = Some(2000 -> Hdbscan().setMode("exact").setMinClusterSize(20)
        .setMaxLocalSize(500).setMaxExactPoints(0).setDendrogramDriverCap(0)))
    case "dedup_allpairs" => new Dedupe(docs = 2500, deltaShare = 0.2)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** HDBSCAN fits of seeded Gaussian blobs with uniform noise, one per model,
  * in order; the probe fit, if any, fits its model to the first `points` ids.
  * Every fit is held to the same output contract; `ari` and `recall` report
  * the weaker timed fit. */
final class Clustering(n: Int, cores: Int, ariFloor: Double, models: Seq[Hdbscan],
    probeFit: Option[(Int, Hdbscan)] = None) extends Workload {
  private var data: Gen.Blobs = _
  private var input: DataFrame = _
  private var probeInput: DataFrame = _

  def generate(seed: Long): String = {
    data = Gen.blobs(n, d = 8, k = 16, noiseFrac = 0.02, seed)
    data.fingerprint
  }

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = data.feats.indices.map(i => (i.toLong, data.feats(i)))
    input = spark.sparkContext.parallelize(rows, 2 * cores).toDF("id", "features")
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    probeFit.foreach { case (points, _) =>
      probeInput = input.filter(col("id") < points).persist(StorageLevel.MEMORY_ONLY)
      probeInput.count()
    }
  }

  def run(spark: SparkSession): Seq[DataFrame] = models.map { m =>
    val out = m.fit(input)
    out.write.format("noop").mode("overwrite").save()
    out
  }

  def check(outputs: Seq[DataFrame]): Checked = {
    val each = outputs.map(checkOne(_, n))
    Checked(each.map(_.ari).min, each.map(_.recall).min, each.flatMap(_.problems))
  }

  override def probe(spark: SparkSession): Seq[DataFrame] = probeFit.toSeq.map {
    case (_, model) =>
      val out = model.fit(probeInput)
      out.write.format("noop").mode("overwrite").save()
      out
  }

  override def checkProbe(outputs: Seq[DataFrame]): Seq[String] =
    outputs.zip(probeFit).flatMap { case (out, (points, _)) =>
      checkOne(out, points).problems.map("distributed-merge probe: " + _)
    }

  /** Check one fit of the first `n` ids. */
  private def checkOne(output: DataFrame, n: Int): Checked = {
    val rows = output.select(col("id"), col("label"), col("outlier_score"),
      col("core_dist")).collect()
    val problems = Seq.newBuilder[String]
    if (rows.length != n) problems += s"${rows.length} output rows for $n input rows"
    val pred = Array.fill(n)(Int.MinValue)
    var badIds = 0; var badLabels = 0; var badScores = 0; var badCores = 0
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id < 0 || id >= n || pred(id.toInt) != Int.MinValue) badIds += 1
      else pred(id.toInt) = r.getInt(1)
      if (r.getInt(1) < 0) badLabels += 1
      val s = r.getDouble(2)
      if (!(s >= 0.0 && s <= 1.0)) badScores += 1
      val c = r.getDouble(3)
      if (!(c >= 0.0 && !c.isInfinite)) badCores += 1
    }
    val missing = pred.count(_ == Int.MinValue)
    if (badIds > 0 || missing > 0)
      problems += s"id set differs from input: $badIds unknown or repeated, $missing missing"
    if (badLabels > 0) problems += s"$badLabels negative labels"
    if (badScores > 0) problems += s"$badScores outlier scores outside [0,1]"
    if (badCores > 0) problems += s"$badCores negative or non-finite core distances"
    // noise is its own class on both sides: generating label -1, engine label 0
    val a = Score.agreement(data.labels.take(n), pred)
    if (!(a.ari >= ariFloor)) problems += f"ari ${a.ari}%.4f below floor $ariFloor"
    Checked(a.ari, a.pairRecall, problems.result())
  }
}

/** Exact n-gram Jaccard self-join, duplicate groups, and a delta join. */
final class Dedupe(docs: Int, deltaShare: Double) extends Workload {
  // the JVM is still compiling the join's generated code after one run
  override def warmUps: Int = 2
  private val shingle = 5
  private val threshold = 0.5
  private var corpus: Gen.Corpus = _
  private var all: DataFrame = _
  private var history: DataFrame = _
  private var delta: DataFrame = _
  private def cut: Long = math.round(docs * (1.0 - deltaShare))

  def generate(seed: Long): String = {
    corpus = Gen.corpus(docs, tokens = 20, seed)
    corpus.fingerprint
  }

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = corpus.texts.indices.map(i => (0, i.toLong, corpus.texts(i)))
    all = spark.sparkContext.parallelize(rows, 8).toDF("block", "doc_id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    history = all.filter(col("doc_id") < cut).persist(StorageLevel.MEMORY_ONLY)
    delta = all.filter(col("doc_id") >= cut).persist(StorageLevel.MEMORY_ONLY)
    Seq(all, history, delta).foreach(_.count())
  }

  def run(spark: SparkSession): Seq[DataFrame] = {
    val pairs = Dedup.ngramJaccardPairsPrefix(all, "block", n = shingle,
      threshold = threshold)
    val groups = Dedup.dedupClusters(spark, pairs)
    groups.write.format("noop").mode("overwrite").save()
    val deltaPairs = Dedup.ngramJaccardDelta(history, delta, "block", n = shingle,
      threshold = threshold)
    Seq(pairs, groups, deltaPairs)
  }

  def check(outputs: Seq[DataFrame]): Checked = {
    val Seq(pairs, groups, deltaPairs) = outputs
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = corpus.planted
    val found = pairSet(pairs)
    val problems = Seq.newBuilder[String]
    val missed = planted -- found
    val extra = found -- planted
    if (missed.nonEmpty) problems += s"self-join missed ${missed.size} planted pairs"
    if (extra.nonEmpty) problems += s"self-join returned ${extra.size} unplanted pairs"
    val plantedDelta = planted.filter(_._2 >= cut)
    val foundDelta = pairSet(deltaPairs)
    if (foundDelta != plantedDelta)
      problems += s"delta join: ${(plantedDelta -- foundDelta).size} planted pairs " +
        s"missed, ${(foundDelta -- plantedDelta).size} unplanted returned"
    // documents outside every group are singletons: label each by its own id
    val group = Array.tabulate(docs)(_.toLong)
    groups.select(col("doc_id"), col("group_id")).collect()
      .foreach(r => group(r.getLong(0).toInt) = r.getLong(1))
    val truth = Array.tabulate(docs)(i => if (i % 10 == 1) i - 1 else i)
    val relabel = group.distinct.zipWithIndex.toMap
    val a = Score.agreement(truth, group.map(relabel))
    if (a.ari != 1.0) problems += f"duplicate groups differ from planted: ari ${a.ari}%.4f"
    Checked(a.ari, (planted.size - missed.size).toDouble / planted.size, problems.result())
  }
}
