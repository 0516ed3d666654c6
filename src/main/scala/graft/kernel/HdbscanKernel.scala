package graft.kernel

import scala.collection.mutable

/** Exact single-node HDBSCAN* kernel — pure Scala over primitive arrays, no
  * Spark dependency, unit-testable in isolation. Runs inside
  * `mapPartitions`/`flatMapGroups` on bounded subsets (the engine's
  * `maxPointsPerLocalModel` knob, reference `processing_units`).
  *
  * Semantics follow the published HDBSCAN* algorithm (Campello, Moulavi,
  * Zimek, Sander) that the reference embodies:
  *   - core distances: `hdbscanstar/HDBSCANStar.java:71-106`
  *   - Prim MST over mutual reachability: `HDBSCANStar.java:124-205`
  *   - hierarchy/stability: `HDBSCANStar.java:208-540` (commented-out in the
  *     reference but the declared capability), `hdbscanstar/Cluster.java:80-142`
  *   - GLOSH outlier scores: `HDBSCANStar.java:653-686`
  *
  * We build the hierarchy bottom-up (single-linkage merge tree → condensed
  * tree → excess-of-mass selection) rather than the reference's top-down
  * repeated edge removal; with ties processed at equal weight the two are
  * equivalent, and bottom-up is O(n α(n)) after the sort instead of O(n²).
  */
object HdbscanKernel {

  type Dist = (Array[Double], Array[Double]) => Double

  val euclidean: Dist = (a, b) => {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }
  val manhattan: Dist = (a, b) => {
    var s = 0.0; var i = 0
    while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
    s
  }
  val supremum: Dist = (a, b) => {
    var m = 0.0; var i = 0
    while (i < a.length) { val d = math.abs(a(i) - b(i)); if (d > m) m = d; i += 1 }
    m
  }
  val cosine: Dist = (a, b) => {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }
  val pearson: Dist = (a, b) => {
    val n = a.length
    var ma = 0.0; var mb = 0.0; var i = 0
    while (i < n) { ma += a(i); mb += b(i); i += 1 }
    ma /= n; mb /= n
    var cov = 0.0; var va = 0.0; var vb = 0.0
    i = 0
    while (i < n) {
      val da = a(i) - ma; val db = b(i) - mb
      cov += da * db; va += da * da; vb += db * db; i += 1
    }
    1.0 - cov / (math.sqrt(va) * math.sqrt(vb))
  }

  def distByName(name: String): Dist = name match {
    case "euclidean" => euclidean
    case "manhattan" => manhattan
    case "supremum" | "chebyshev" => supremum
    case "cosine"    => cosine
    case "pearson"   => pearson
    case other => throw new IllegalArgumentException(s"unknown distance: $other")
  }

  /** Core distance of each point: distance to its (k-1)-th nearest *other*
    * point (k includes the point itself, matching the reference's
    * `calculateCoreDistances(dataSet, k, ...)` with `numNeighbors = k - 1`).
    * O(n^2 d) with a bounded insertion sort per point. k=1 → all zeros.
    *
    * Each unordered pair is evaluated once and its distance offered to both
    * points' buffers: every [[Dist]] here is symmetric bit for bit, and
    * point p still receives its distances in q order (q < p from earlier
    * rows, then q > p), so the result equals the two-sided loop's exactly.
    * Costs n·min(k-1, n-1) doubles of buffer.
    */
  def coreDistances(points: Array[Array[Double]], k: Int, dist: Dist): Array[Double] = {
    val n = points.length
    val out = new Array[Double](n)
    val numNeighbors = k - 1
    if (numNeighbors <= 0) return out
    // point p's kNN distances: ascending insertion buffer knn(p*w until p*w+w)
    val w = math.min(numNeighbors, math.max(n - 1, 1))
    val knn = Array.fill(n * w)(Double.MaxValue)
    // insert d if smaller than p's current worst
    def offer(p: Int, d: Double): Unit = {
      val lo = p * w
      var i = lo + w - 1
      if (d < knn(i)) {
        while (i > lo && d < knn(i - 1)) { knn(i) = knn(i - 1); i -= 1 }
        knn(i) = d
      }
    }
    var p = 0
    while (p < n) {
      var q = p + 1
      while (q < n) {
        val d = dist(points(p), points(q))
        offer(p, d); offer(q, d)
        q += 1
      }
      // p's buffer is complete: rows q < p offered theirs already
      out(p) = knn(p * w + w - 1)
      if (out(p) == Double.MaxValue) out(p) = 0.0 // degenerate: fewer points than k
      p += 1
    }
    out
  }

  /** One undirected weighted edge. */
  final case class Edge(src: Int, dst: Int, weight: Double)

  /** Prim's MST over the implicit complete mutual-reachability graph:
    * w(a,b) = max(dist(a,b), core(a), core(b)). O(n^2). Returns n-1 edges.
    * Vertices are local indices 0..n-1.
    */
  def primMst(points: Array[Array[Double]], core: Array[Double], dist: Dist): Array[Edge] = {
    val n = points.length
    if (n <= 1) return Array.empty
    val inTree = new Array[Boolean](n)
    val nearestDist = Array.fill(n)(Double.MaxValue)
    val nearestVertex = new Array[Int](n)
    val edges = new mutable.ArrayBuffer[Edge](n - 1)
    var current = 0
    inTree(current) = true
    var added = 1
    while (added < n) {
      var best = -1
      var bestD = Double.MaxValue
      var v = 0
      while (v < n) {
        if (!inTree(v)) {
          val d = dist(points(current), points(v))
          val mrd = math.max(d, math.max(core(current), core(v)))
          if (mrd < nearestDist(v)) { nearestDist(v) = mrd; nearestVertex(v) = current }
          if (nearestDist(v) < bestD || (nearestDist(v) == bestD && v < best)) {
            bestD = nearestDist(v); best = v
          }
        }
        v += 1
      }
      edges += Edge(nearestVertex(best), best, bestD)
      inTree(best) = true
      current = best
      added += 1
    }
    edges.toArray
  }

  /** E7 bubble-distance matrix over collected bubble sketches: for i ≠ j,
    * gap = dist(rep_i, rep_j) − (extent_i + extent_j); gap ≥ 0 →
    * gap + nnDist_i + nnDist_j, else max(nnDist_i, nnDist_j). Diagonal 0.
    * Reference: `databubbles/HdbscanDataBubbles.java:592-600`. */
  def bubbleDistanceMatrix(reps: Array[Array[Double]], extents: Array[Double],
      nnDists: Array[Double], dist: Dist): Array[Array[Double]] =
    Array.tabulate(reps.length, reps.length) { (i, j) =>
      if (i == j) 0.0
      else bubbleDistance(reps(i), extents(i), nnDists(i),
        reps(j), extents(j), nnDists(j), dist)
    }

  /** E7 for one bubble pair — the matrix-free form of
    * [[bubbleDistanceMatrix]] (same formula; the distributed bubble graph
    * evaluates it per scanned pair instead of materializing m×m). */
  def bubbleDistance(repI: Array[Double], extentI: Double, nnI: Double,
      repJ: Array[Double], extentJ: Double, nnJ: Double, dist: Dist): Double = {
    val gap = dist(repI, repJ) - (extentI + extentJ)
    // gap + (nnI + nnJ), NOT gap + nnI + nnJ: IEEE addition is commutative
    // but not associative, so only the parenthesized form guarantees
    // bd(i,j) == bd(j,i) bit-exactly — the matrix-free routes evaluate the
    // pair from whichever endpoint scans it
    if (gap >= 0) gap + (nnI + nnJ)
    else math.max(nnI, nnJ)
  }

  /** E11 bubble core distance (paper semantics; the reference's index
    * bookkeeping bugs at `HdbscanDataBubbles.java:75-146` are documented in
    * SURVEY §3.3 and not replicated): a bubble holding ≥ minPts mass is
    * self-sufficient (core = its expected kNN distance); otherwise walk
    * bubbles in bubble-distance order — STABLE on ties, so equal distances
    * resolve by ascending index — accumulating mass until minPts is
    * reached; core = the distance to the bubble that crossed the
    * threshold (or to the farthest bubble if total mass < minPts). */
  def bubbleCoreDistances(bd: Array[Array[Double]], mass: Array[Double],
      nnDists: Array[Double], minPts: Double): Array[Double] =
    Array.tabulate(bd.length) { i =>
      if (mass(i) >= minPts) nnDists(i)
      else {
        val order = (0 until bd.length).sortBy(j => bd(i)(j))
        var cum = 0.0; var cd = 0.0; var k = 0
        while (k < bd.length && cum < minPts) {
          cum += mass(order(k)); cd = bd(i)(order(k)); k += 1
        }
        cd
      }
    }

  /** MST over an explicit pairwise-distance matrix (bubble mode). */
  def primMstMatrix(w: Array[Array[Double]]): Array[Edge] = {
    val n = w.length
    if (n <= 1) return Array.empty
    val inTree = new Array[Boolean](n)
    val nearestDist = Array.fill(n)(Double.MaxValue)
    val nearestVertex = new Array[Int](n)
    val edges = new mutable.ArrayBuffer[Edge](n - 1)
    inTree(0) = true
    var current = 0
    var added = 1
    while (added < n) {
      var best = -1; var bestD = Double.MaxValue
      var v = 0
      while (v < n) {
        if (!inTree(v)) {
          if (w(current)(v) < nearestDist(v)) { nearestDist(v) = w(current)(v); nearestVertex(v) = current }
          if (nearestDist(v) < bestD || (nearestDist(v) == bestD && v < best)) {
            bestD = nearestDist(v); best = v
          }
        }
        v += 1
      }
      edges += Edge(nearestVertex(best), best, bestD)
      inTree(best) = true
      current = best
      added += 1
    }
    edges.toArray
  }

  /** One node of the condensed cluster tree.
    * Levels are epsilon (distance) values; lambda = 1/eps.
    * `stability` = sum over members mass*(lambda_out - lambda_birth).
    */
  final case class ClusterNode(
      id: Int,
      parent: Int,               // -1 for root
      birthEps: Double,          // eps at which this cluster appears (split level)
      var deathEps: Double,      // eps at which it fully dissolves
      var stability: Double,
      var childClusters: List[Int],
      var size: Double           // total point mass
  )

  /** Result of the hierarchy extraction. */
  final case class Hierarchy(
      clusters: Array[ClusterNode],          // index = cluster id; 0 = root
      pointCluster: Array[Int],              // deepest condensed cluster per point
      pointFallOutEps: Array[Double],        // eps at which point left pointCluster
      selected: Array[Int],                  // ids of flat-solution clusters
      labels: Array[Int],                    // flat label per point; 0 = noise
      outlierScores: Array[Double]           // GLOSH per point
  )

  /** Build the condensed hierarchy from MST edges and extract the flat
    * partition + GLOSH scores.
    *
    * @param n          number of vertices
    * @param mstEdges   n-1 single-linkage edges (mutual reachability weights)
    * @param coreDist   per-vertex core distance (eps at which a vertex can
    *                   last exist in any cluster; self-edge semantics of
    *                   `HDBSCANStar.java:196-203`)
    * @param minClusterSize minimum member mass for a split side to be a cluster
    * @param mass       per-vertex point mass (1.0 for points; bubble n in
    *                   bubble mode, cf. `HdbscanDataBubbles.java:330-337`)
    * @param allowSingleCluster if true, the root may win excess-of-mass
    *                   selection (the single-cluster solution). Default
    *                   false = reference behavior: `Cluster.propagate()` is
    *                   a no-op when parent==null and findProminentClusters
    *                   reads only the root's propagatedDescendants
    *                   (`HDBSCANStar.java:505-540`, `Cluster.java:80-120`),
    *                   so the root itself is never selectable.
    * @param constraints instance-level constraints (vertexA, vertexB,
    *                   isMustLink). When non-empty, flat extraction follows
    *                   the reference's constraint-driven propagateTree
    *                   (`Cluster.java:98-142`, `HDBSCANStar.java:738-789`):
    *                   each cluster is credited at its birth — +2 per
    *                   must-link with both endpoints inside, +1 per
    *                   cannot-link endpoint inside whose partner is outside
    *                   (noise partners credit the deepest cluster still
    *                   holding the point, the reference's virtual child) —
    *                   and selection prefers more satisfied constraints,
    *                   breaking ties by stability (parent wins stability
    *                   ties, reference `>=`).
    */
  def hierarchy(
      n: Int,
      mstEdges: Array[Edge],
      coreDist: Array[Double],
      minClusterSize: Double,
      mass: Array[Double],
      allowSingleCluster: Boolean = false,
      constraints: Array[(Int, Int, Boolean)] = Array.empty
  ): Hierarchy = {
    require(mstEdges.length == n - 1 || n <= 1, s"expected ${n - 1} MST edges, got ${mstEdges.length}")

    // ---- single-linkage merge tree (Kruskal over sorted edges) ----
    // nodes 0..n-1 = points, n..2n-2 = internal merges at increasing weight
    val sorted = mstEdges.sortBy(e => (e.weight, math.min(e.src, e.dst), math.max(e.src, e.dst)))
    val parentOf = new Array[Int](2 * n - 1)   // merge-tree parent
    java.util.Arrays.fill(parentOf, -1)
    val mergeEps = new Array[Double](2 * n - 1)
    val subtreeMass = new Array[Double](2 * n - 1)
    System.arraycopy(mass, 0, subtreeMass, 0, n)
    val uf = new UnionFind(2 * n - 1)          // maps to current top node
    val top = Array.tabulate(2 * n - 1)(identity)
    var next = n
    var i = 0
    while (i < sorted.length) {
      val e = sorted(i)
      val ra = top(uf.find(e.src)); val rb = top(uf.find(e.dst))
      parentOf(ra) = next; parentOf(rb) = next
      mergeEps(next) = e.weight
      subtreeMass(next) = subtreeMass(ra) + subtreeMass(rb)
      val r = uf.union(e.src, e.dst)
      top(r) = next
      next += 1
      i += 1
    }
    val root = if (n == 1) 0 else 2 * n - 2

    // children of each internal node
    val childA = new Array[Int](2 * n - 1); val childB = new Array[Int](2 * n - 1)
    java.util.Arrays.fill(childA, -1); java.util.Arrays.fill(childB, -1)
    var v = 0
    while (v < 2 * n - 2) {
      val p = parentOf(v)
      if (p >= 0) { if (childA(p) < 0) childA(p) = v else childB(p) = v }
      v += 1
    }

    // ---- condense: top-down, minClusterSize pruning ----
    val clusters = mutable.ArrayBuffer[ClusterNode]()
    clusters += ClusterNode(0, -1, if (n == 1) 0.0 else mergeEps(root), 0.0, 0.0, Nil, subtreeMass(root))
    val pointCluster = new Array[Int](n)
    val pointFallOutEps = new Array[Double](n)

    // Each point's fall-out eps within its condensed cluster must respect its
    // core distance (the reference's self-edges): a point cannot be part of
    // any cluster below eps = coreDist(p).
    def emitPoints(node: Int, cluster: Int, eps: Double): Unit = {
      // all leaf points under `node` fall out of `cluster` at `eps`
      val stack = mutable.ArrayBuffer(node)
      while (stack.nonEmpty) {
        val x = stack.remove(stack.length - 1)
        if (x < n) {
          pointCluster(x) = cluster
          pointFallOutEps(x) = math.max(eps, coreDist(x))
        } else { stack += childA(x); stack += childB(x) }
      }
    }

    // Effective children of an internal node: equal-weight merge chains are
    // flattened so all edges at one weight are removed as ONE hierarchy level
    // — the reference's tied-edge semantics (HdbscanDataBubbles.java:284,
    // FilterTiedEdges F3).
    def effectiveChildren(node: Int): List[Int] = {
      val eps = mergeEps(node)
      val out = List.newBuilder[Int]
      val stack = mutable.ArrayBuffer(childA(node), childB(node))
      while (stack.nonEmpty) {
        val x = stack.remove(stack.length - 1)
        if (x >= n && mergeEps(x) == eps) { stack += childA(x); stack += childB(x) }
        else out += x
      }
      out.result()
    }

    // walk internal nodes top-down: (mergeNode, condensedClusterId)
    val work = mutable.ArrayBuffer[(Int, Int)]()
    def descend(child: Int, cluster: Int, eps: Double): Unit = {
      if (child < n) {
        // single point remaining: it leaves when it stops being core (the
        // reference's self-edge, HDBSCANStar.java:196-203); coreDist <= eps
        // always holds since adjacent MRD edges bound it from above
        pointCluster(child) = cluster
        pointFallOutEps(child) = math.min(math.max(coreDist(child), 0.0), eps)
      } else work += ((child, cluster))
    }
    if (n == 1) { pointCluster(0) = 0; pointFallOutEps(0) = math.max(0.0, coreDist(0)) }
    else work += ((root, 0))
    while (work.nonEmpty) {
      val (node, cid) = work.remove(work.length - 1)
      val eps = mergeEps(node)
      val kids = effectiveChildren(node)
      val (big, small) = kids.partition(k =>
        (if (k < n) mass(k) else subtreeMass(k)) >= minClusterSize)
      small.foreach(k => emitPoints(k, cid, eps))
      big match {
        case Nil => // cluster dissolves entirely at this level
        case one :: Nil => descend(one, cid, eps) // continues as same cluster
        case many =>
          many.foreach { k =>
            val c = clusters.length
            clusters += ClusterNode(c, cid, eps, 0.0, 0.0, Nil,
              if (k < n) mass(k) else subtreeMass(k))
            clusters(cid).childClusters = c :: clusters(cid).childClusters
            descend(k, c, eps)
          }
      }
    }

    // ---- stability: sum mass*(1/epsOut - 1/epsBirth); child-cluster births count too ----
    var p = 0
    while (p < n) {
      val c = pointCluster(p)
      val epsOut = pointFallOutEps(p)
      val lamOut = if (epsOut > 0) 1.0 / epsOut else Double.PositiveInfinity
      val birth = clusters(c).birthEps
      val lamBirth = if (birth > 0) 1.0 / birth else Double.PositiveInfinity
      clusters(c).stability += mass(p) * (lamOut - lamBirth)
      p += 1
    }
    // members that leave via a child split contribute up to the split level
    for (c <- clusters if c.id != 0) {
      val par = clusters(c.parent)
      val lamSplit = if (c.birthEps > 0) 1.0 / c.birthEps else Double.PositiveInfinity
      val lamBirth = if (par.birthEps > 0) 1.0 / par.birthEps else Double.PositiveInfinity
      par.stability += c.size * (lamSplit - lamBirth)
    }
    // death eps of a cluster = lowest event level among its direct members
    // (point fall-outs and child-cluster births)
    for (c <- clusters) c.deathEps = Double.PositiveInfinity
    var q = 0
    while (q < n) {
      val c = clusters(pointCluster(q))
      if (pointFallOutEps(q) < c.deathEps) c.deathEps = pointFallOutEps(q)
      q += 1
    }
    for (c <- clusters if c.id != 0) {
      val par = clusters(c.parent)
      if (c.birthEps < par.deathEps) par.deathEps = c.birthEps
    }
    for (c <- clusters if c.deathEps.isInfinite) c.deathEps = c.birthEps

    // ---- excess-of-mass flat extraction (propagateTree semantics,
    // HDBSCANStar.java:505-540). The root participates only when
    // allowSingleCluster — in the reference the root is never selectable
    // (its propagate() is a no-op), so diffuse data yields child clusters +
    // noise, not one all-enclosing cluster. ----
    val selected: Array[Int] =
      if (constraints.isEmpty) {
        val propagated = new Array[Double](clusters.length)
        val selectedSet = mutable.LinkedHashSet[Int]()
        // process deepest-first: children have higher id than parents by construction
        for (c <- clusters.reverseIterator) {
          val selectable = c.id != 0 || allowSingleCluster
          if (c.childClusters.isEmpty) {
            propagated(c.id) = c.stability
            if (selectable) selectedSet += c.id
          } else {
            val childSum = c.childClusters.map(propagated).sum
            if (selectable && c.stability > childSum && c.stability.isFinite) {
              propagated(c.id) = c.stability
              // deselect all descendants, select this
              def drop(x: Int): Unit = {
                selectedSet -= x
                clusters(x).childClusters.foreach(drop)
              }
              drop(c.id); selectedSet += c.id
            } else {
              propagated(c.id) = childSum
            }
          }
        }
        selectedSet.toArray.sorted
      } else {
        // ---- constraint-driven propagateTree (Cluster.java:98-142) ----
        // satisfied(c): credited once, at c's birth. inC(p, c) ⇔ c is an
        // ancestor-or-self of p's deepest condensed cluster ⇔ p was a member
        // of c when c was created.
        val satisfied = new Array[Long](clusters.length)
        def ancestors(p0: Int): Set[Int] = {
          var c = pointCluster(p0)
          val out = mutable.Set[Int]()
          while (c >= 0) { out += c; c = clusters(c).parent }
          out.toSet
        }
        constraints.foreach { case (a, b, isMl) =>
          val ancA = ancestors(a); val ancB = ancestors(b)
          if (isMl) (ancA & ancB).foreach(satisfied(_) += 2)
          else {
            (ancA -- ancB).foreach(satisfied(_) += 1)
            (ancB -- ancA).foreach(satisfied(_) += 1)
          }
        }
        // deepest-first propagation: each cluster sends up either itself or
        // its children's winner set, preferring more satisfied constraints,
        // then stability (self wins stability ties — reference `>=`). The
        // root never competes (its propagate() is a no-op in the reference);
        // the final selection is what the root's children sent up.
        val propSat = new Array[Long](clusters.length)
        val propStab = new Array[Double](clusters.length)
        val propSet = Array.fill(clusters.length)(List.empty[Int])
        for (c <- clusters.reverseIterator) {
          if (c.childClusters.isEmpty) {
            propSat(c.id) = satisfied(c.id)
            propStab(c.id) = c.stability
            propSet(c.id) = List(c.id)
          } else {
            val kids = c.childClusters
            val childSat = kids.map(propSat).sum
            val childStab = kids.map(propStab).sum
            val selfWins = c.id != 0 &&
              (satisfied(c.id) > childSat ||
                (satisfied(c.id) == childSat && c.stability >= childStab))
            if (selfWins) {
              propSat(c.id) = satisfied(c.id)
              propStab(c.id) = c.stability
              propSet(c.id) = List(c.id)
            } else {
              propSat(c.id) = childSat
              propStab(c.id) = childStab
              propSet(c.id) = kids.flatMap(propSet)
            }
          }
        }
        // degenerate single-cluster tree: the root leaf-propagates itself,
        // but the root is never selectable — everything is noise
        propSet(0).filter(_ != 0).toArray.sorted
      }

    // ---- labels: point → nearest selected ancestor of its condensed cluster ----
    val labelOf = new Array[Int](clusters.length)
    java.util.Arrays.fill(labelOf, 0)
    selected.zipWithIndex.foreach { case (cid, idx) => labelOf(cid) = idx + 1 }
    // propagate selected label down to descendants (parents precede children
    // in id order, so one forward pass suffices)
    for (c <- clusters) {
      if (c.id != 0 && labelOf(c.id) == 0) {
        val pl = labelOf(c.parent)
        if (pl != 0) labelOf(c.id) = pl
      }
    }
    val labels = Array.tabulate(n)(p0 => labelOf(pointCluster(p0)))

    // ---- GLOSH: 1 - epsMax(subtree)/eps(p), eps(p) = fall-out eps ----
    // epsMax per cluster = lowest eps reached in its subtree
    val epsMin = new Array[Double](clusters.length)
    for (c <- clusters) epsMin(c.id) = c.deathEps
    var r = 0
    while (r < n) {
      val c = pointCluster(r)
      if (pointFallOutEps(r) < epsMin(c)) epsMin(c) = pointFallOutEps(r)
      r += 1
    }
    for (c <- clusters.reverseIterator if c.id != 0)
      epsMin(c.parent) = math.min(epsMin(c.parent), epsMin(c.id))
    val scores = Array.tabulate(n) { p0 =>
      val eps = pointFallOutEps(p0)
      if (eps <= 0) 0.0 else 1.0 - epsMin(pointCluster(p0)) / eps
    }

    Hierarchy(clusters.toArray, pointCluster, pointFallOutEps, selected, labels, scores)
  }

  /** Cluster-tree rows in the reference's *_tree.csv shape
    * (`Main.java:566-571`): rendered label = cluster id + 1 (0 is reserved
    * for noise), parent 0 for the root. `flat_label` is the flat-partition
    * label when the cluster is part of the selected solution, else 0.
    */
  def clusterTreeRows(h: Hierarchy): Array[(Int, Int, Double, Double, Double, Double, Int)] = {
    val flat = h.selected.zipWithIndex.map { case (cid, i) => cid -> (i + 1) }.toMap
    h.clusters.map(c => (c.id + 1, if (c.parent < 0) 0 else c.parent + 1,
      c.birthEps, c.deathEps, c.stability, c.size, flat.getOrElse(c.id, 0)))
  }

  /** Render hierarchy levels (the reference's *_hierarchy.csv,
    * `Main.java:558-563`): one row per event epsilon (descending), with each
    * point's cluster id (+1; 0 = noise) at that level. A point is in cluster
    * a at eps iff a is the deepest ancestor of its condensed cluster with
    * birthEps >= eps and eps > fallOutEps(point). O(#levels * n).
    *
    * @param compact only levels where new clusters are born (+ the final
    *        all-noise level) — the reference's compact-hierarchy switch
    *        (`HDBSCANStar.java:394`, writes a line only on new clusters /
    *        significant levels). Full mode (default) also emits every
    *        point-fall-out level.
    */
  def renderLevels(h: Hierarchy, compact: Boolean = false): Array[(Double, Array[Int])] = {
    val n = h.pointCluster.length
    // ancestor chains root→leaf per condensed cluster
    val chains = h.clusters.map { c =>
      var chain = List(c.id)
      var cur = c
      while (cur.parent >= 0) { cur = h.clusters(cur.parent); chain = cur.id :: chain }
      chain.toArray // root first, deepest last
    }
    val fullEps = (h.clusters.map(_.birthEps) ++ h.pointFallOutEps).distinct
    val eventEps = (if (compact && fullEps.nonEmpty)
        (h.clusters.map(_.birthEps) :+ fullEps.min).distinct
      else fullEps)
      .sorted(Ordering[Double].reverse)
    eventEps.map { eps =>
      val labels = Array.tabulate(n) { p =>
        if (h.pointFallOutEps(p) >= eps) 0
        else {
          val chain = chains(h.pointCluster(p))
          var lbl = 0
          var i = 0
          while (i < chain.length && h.clusters(chain(i)).birthEps >= eps) {
            lbl = chain(i) + 1; i += 1
          }
          lbl
        }
      }
      (eps, labels)
    }
  }

  /** G8: noise reattachment — every noise vertex (label 0) takes the label
    * of its nearest labeled vertex under the given distance matrix. The
    * reference intends this for noise bubbles at
    * `HdbscanDataBubbles.java:485-503`, but its scan assigns the FIRST
    * labeled neighbor it meets (the `flat[point][1] == 0` guard goes false
    * after one assignment); this is the intended argmin. Assignments read
    * the ORIGINAL labels only, so reattachment never chains. */
  def reattachNoise(labels: Array[Int], d: Array[Array[Double]]): Array[Int] = {
    val out = labels.clone()
    if (!labels.exists(_ != 0)) return out
    val m = labels.length
    var i = 0
    while (i < m) {
      if (labels(i) == 0) {
        var bestJ = -1
        var bestD = Double.MaxValue
        var j = 0
        while (j < m) {
          if (labels(j) != 0 && d(i)(j) < bestD) { bestD = d(i)(j); bestJ = j }
          j += 1
        }
        if (bestJ >= 0) out(i) = labels(bestJ)
      }
      i += 1
    }
    out
  }

  /** End-to-end exact HDBSCAN* on one in-memory subset.
    * Returns (label, outlierScore, coreDistance) per point, in input order.
    */
  def fitLocal(
      points: Array[Array[Double]],
      minPts: Int,
      minClusterSize: Int,
      dist: Dist = euclidean,
      allowSingleCluster: Boolean = false,
      constraints: Array[(Int, Int, Boolean)] = Array.empty
  ): Array[(Int, Double, Double)] = {
    val n = points.length
    if (n == 0) return Array.empty
    val core = coreDistances(points, minPts, dist)
    if (n == 1) return Array((0, 0.0, core(0)))
    val mst = primMst(points, core, dist)
    val h = hierarchy(n, mst, core, minClusterSize.toDouble, Array.fill(n)(1.0),
      allowSingleCluster, constraints)
    Array.tabulate(n)(i => (h.labels(i), h.outlierScores(i), core(i)))
  }
}

/** Array-based union-find with path compression + union by rank.
  * (Reference: eager-relabel UF `datastructure/UF.java:12-48`; ours is the
  * standard near-O(1) variant.)
  */
final class UnionFind(n: Int) {
  private val parent = Array.tabulate(n)(identity)
  private val rank = new Array[Byte](n)
  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
    r
  }
  /** Union; returns the new root. */
  def union(a: Int, b: Int): Int = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) ra
    else if (rank(ra) < rank(rb)) { parent(ra) = rb; rb }
    else if (rank(ra) > rank(rb)) { parent(rb) = ra; ra }
    else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte; ra }
  }
  def connected(a: Int, b: Int): Boolean = find(a) == find(b)
}
