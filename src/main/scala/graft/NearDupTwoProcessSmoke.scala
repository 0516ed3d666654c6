package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TWO-PROCESS concurrency smoke for the persisted near-dup index
  * (VERDICT r15 #3 / r16 #7): the in-process concurrency spec
  * (NearDupIndexConcurrencySpec) interleaves an ingest with a rebuild via
  * failpoints inside one JVM — precise, but it shares one filesystem
  * client, one manifest cache-coherence domain, and one Spark session, so
  * it cannot catch a protocol bug that only exists ACROSS processes (lock
  * file created by another JVM, manifest rename visibility, a second
  * session reading this one's un-finalized appends). This smoke spawns a
  * genuinely separate JVM ([[graft.tools.NearDupProcs]], its own local
  * Spark session) at each of the two commit-race windows and proves the
  * emitted pair set is still exactly the one-shot all-pairs truth:
  *
  *   1. '''rebuild-in-child races a live ingest commit''': the parent's
  *      third ingest pauses at its pre-commit failpoint, a child process
  *      runs [[operators.NearDupIndex.maintain]] (growth policy fires,
  *      epoch swaps under the cross-process lock), then the parent's
  *      commit observes the moved epoch and re-ranks its delta into the
  *      child's new epoch — the detached-maintenance production shape,
  *      with the maintenance job in a DIFFERENT JVM, as deployed.
  *   2. '''ingest-in-child commits mid-rebuild''': the parent's
  *      [[operators.NearDupIndex.rebuildOrder]] pauses at its pre-commit
  *      failpoint, a child process ingests a third shard (appends under
  *      the old epoch, advances nextSeq through the same lock), then the
  *      parent's catch-up pass must fold that committed-during-rebuild
  *      ingest into the fresh epoch before swapping.
  *
  * Asserts, per scenario: union of all emitted pairs (parent's and, in
  * scenario 2, the child's pairs table) ≡
  * [[operators.Dedup.ngramJaccardPairsPrefix]] on the full slice; the
  * live posting-row count equals a serially-folded control index's
  * (posting rows are order-independent — prefix LENGTH does not depend on
  * the frozen order); exactly one epoch swap happened. Failpoints live
  * only in the PARENT — the child runs unmodified production entry
  * points.
  *
  * Gated in [[SmokeSuite]] behind GRAFT_RUN_SMOKES like the 1M smokes
  * (spawning JVMs from a unit test is not default-suite material);
  * standalone: `sbt "runMain graft.NearDupTwoProcessSmoke [sfDir]"`.
  */
object NearDupTwoProcessSmoke {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-ndi-2proc", 8)
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")))
  }

  // the forked JVM needs the same module opens the parent got from sbt's
  // javaOptions (Spark 4 on JDK 17 outside spark-submit)
  private[graft] val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Spawn `graft.tools.NearDupProcs args…` as a separate JVM on this
    * JVM's classpath, stream its output through, and fail loudly on a
    * nonzero exit or a hung child (the smoke must never pass vacuously
    * because the child died before touching the index). */
  private def runChild(what: String, args: Seq[String]): Unit = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.NearDupProcs") ++ args
    val t0 = System.nanoTime()
    val p = new ProcessBuilder(cmd: _*).inheritIO().start()
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); sys.error(s"child $what hung (>300s)") }
    require(p.exitValue() == 0, s"child $what exited ${p.exitValue()}")
    println(f"  [2proc] child $what: ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def collectPairs(df: DataFrame): Seq[(String, Long, Long, Double)] =
    df.select("block", "id_a", "id_b", "jaccard")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq

  def run(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.{Dedup, NearDupIndex}
    val slice = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 300)
    def shard(lo: Long, hi: Long) =
      slice.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val want = collectPairs(Dedup.ngramJaccardPairsPrefix(slice, "source"))
    require(want.nonEmpty, s"no true pairs in the $sfDir slice — vacuous smoke")

    // serial control: posting-row count is frozen-order-independent, so a
    // plain fold gives the exact expected count for any interleaving
    val control = new NearDupIndex(spark, NearDupIndex.tempDir())
    Seq(shard(0, 100), shard(100, 200), shard(200, 300)).foreach(control.ingest)
    val controlPostings = control.stats()._2
    control.release()

    // ---- scenario 1: child maintain() swaps the epoch while the parent's
    // ingest is between its appends and its commit ----
    val dirA = NearDupIndex.tempDir()
    val idxA = new NearDupIndex(spark, dirA)
    val outA1 = collectPairs(idxA.ingest(shard(0, 100)))
    val outA2 = collectPairs(idxA.ingest(shard(100, 200)))
    require(idxA.epoch == 0, s"premature epoch swap: ${idxA.epoch}")
    idxA.onBeforeIngestCommit = () => {
      runChild("maintain", Seq("maintain", dirA, "1.5"))
      require(idxA.epoch == 1,
        s"child maintain did not swap the epoch (still ${idxA.epoch})")
    }
    val outA3 = try collectPairs(idxA.ingest(shard(200, 300)))
      finally idxA.onBeforeIngestCommit = () => ()
    require((outA1 ++ outA2 ++ outA3).sorted == want,
      s"scenario 1 pair set diverged: got ${(outA1 ++ outA2 ++ outA3).size}, " +
        s"want ${want.size}")
    require(idxA.stats()._2 == controlPostings,
      s"scenario 1 postings ${idxA.stats()._2} != control $controlPostings")
    idxA.release()
    println(s"  [2proc] scenario 1 (cross-process maintain vs live ingest): " +
      s"${outA3.size} pairs in the raced ingest, set exact")

    // ---- scenario 2: child ingest commits while the parent's rebuild is
    // between its table writes and its catch-up + swap ----
    val dirB = NearDupIndex.tempDir()
    val pairsOut = NearDupIndex.tempDir() + "/pairs"
    val idxB = new NearDupIndex(spark, dirB)
    val outB1 = collectPairs(idxB.ingest(shard(0, 100)))
    val outB2 = collectPairs(idxB.ingest(shard(100, 200)))
    idxB.onBeforeRebuildCommit = () =>
      runChild("ingest", Seq("ingest", dirB, sfDir, "200", "300", pairsOut))
    try idxB.rebuildOrder() finally idxB.onBeforeRebuildCommit = () => ()
    require(idxB.epoch == 1, s"rebuild did not swap (epoch ${idxB.epoch})")
    val outB3 = collectPairs(spark.read.parquet(pairsOut))
    require((outB1 ++ outB2 ++ outB3).sorted == want,
      s"scenario 2 pair set diverged: got ${(outB1 ++ outB2 ++ outB3).size}, " +
        s"want ${want.size}")
    require(idxB.stats()._2 == controlPostings,
      s"scenario 2 postings ${idxB.stats()._2} != control $controlPostings " +
        "(catch-up pass missed the child's committed ingest?)")
    idxB.release()
    println(s"  [2proc] scenario 2 (cross-process ingest vs live rebuild): " +
      s"${outB3.size} pairs from the child, catch-up exact")
    println(s"  [2proc] PASS: ${want.size} pairs, $controlPostings postings, " +
      "both cross-process interleavings exact")
  }
}
