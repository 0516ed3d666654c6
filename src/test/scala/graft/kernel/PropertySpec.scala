package graft.kernel

import org.scalacheck.{Gen, Prop, Properties}
import graft.operators.{CF, CFAggregator}

/** Property tests (SURVEY §5 test plan): metric axioms for the distance
  * kernels within fp tolerance, and commutativity/associativity of the CF
  * merge — exactly the property the reference's reduce-side fold (A4)
  * violates. Runs under sbt's native ScalaCheck framework support.
  */
object PropertySpec extends Properties("HdbscanKernel") {

  private val dim = 8
  private val vecGen: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](dim, Gen.choose(-100.0, 100.0))

  private val metrics = Seq[(String, HdbscanKernel.Dist)](
    ("euclidean", HdbscanKernel.euclidean),
    ("manhattan", HdbscanKernel.manhattan),
    ("supremum", HdbscanKernel.supremum))

  property("metric axioms") = Prop.forAll(vecGen, vecGen, vecGen) { (a, b, c) =>
    metrics.forall { case (_, d) =>
      d(a, b) >= 0.0 &&
        math.abs(d(a, a)) < 1e-9 &&
        math.abs(d(a, b) - d(b, a)) < 1e-9 &&
        d(a, c) <= d(a, b) + d(b, c) + 1e-9
    }
  }

  property("cosine distance range + symmetry") =
    Prop.forAll(vecGen.suchThat(_.exists(_ != 0.0)), vecGen.suchThat(_.exists(_ != 0.0))) { (a, b) =>
      val d = HdbscanKernel.cosine(a, b)
      d >= -1e-9 && d <= 2.0 + 1e-9 &&
        math.abs(d - HdbscanKernel.cosine(b, a)) < 1e-9 &&
        math.abs(HdbscanKernel.cosine(a, a)) < 1e-9
    }

  property("mutual reachability dominates inputs") =
    Prop.forAll(vecGen, vecGen, Gen.choose(0.0, 50.0), Gen.choose(0.0, 50.0)) { (a, b, ca, cb) =>
      val d = HdbscanKernel.euclidean(a, b)
      val mr = math.max(d, math.max(ca, cb))
      mr >= d && mr >= ca && mr >= cb
    }

  private val cfGen: Gen[CF] = Gen.nonEmptyListOf(vecGen).map(vs =>
    vs.foldLeft(CFAggregator.zero)((b, v) => CFAggregator.reduce(b, v)))

  private def cfEq(x: CF, y: CF): Boolean =
    x.n == y.n &&
      x.ls.zip(y.ls).forall { case (p, q) => math.abs(p - q) < 1e-6 } &&
      x.ss.zip(y.ss).forall { case (p, q) => math.abs(p - q) < 1e-6 }

  private def copy(c: CF) = CF(c.n, c.ls.clone(), c.ss.clone())

  property("CF merge commutative + associative (modulo fp)") =
    Prop.forAll(cfGen, cfGen, cfGen) { (x, y, z) =>
      cfEq(copy(x).merge(copy(y)), copy(y).merge(copy(x))) &&
        cfEq(copy(x).merge(copy(y)).merge(copy(z)), copy(x).merge(copy(y).merge(copy(z))))
    }

  property("coreDistances monotone in k") =
    Prop.forAll(Gen.listOfN(20, vecGen)) { vs =>
      val pts = vs.toArray
      val c2 = HdbscanKernel.coreDistances(pts, 2, HdbscanKernel.euclidean)
      val c4 = HdbscanKernel.coreDistances(pts, 4, HdbscanKernel.euclidean)
      pts.indices.forall(i => c2(i) <= c4(i) + 1e-12)
    }

  private val allDists = Seq("euclidean", "manhattan", "supremum", "cosine", "pearson")
    .map(HdbscanKernel.distByName)

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  // coarse integer coordinates: duplicate points and tied distances are
  // common, and zero or constant vectors give cosine/pearson their NaNs
  private val coarseVec: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](3, Gen.choose(-2, 2).map(_.toDouble))

  property("all five distances symmetric bit for bit") =
    Prop.forAll(Gen.oneOf(Gen.zip(vecGen, vecGen), Gen.zip(coarseVec, coarseVec))) {
      case (a, b) => allDists.forall(d => bits(d(a, b)) == bits(d(b, a)))
    }

  /** The two-sided core-distance loop: every ordered pair (p, q), q ≠ p. */
  private def twoSidedCoreDistances(points: Array[Array[Double]], k: Int,
      dist: HdbscanKernel.Dist): Array[Double] = {
    val n = points.length
    val numNeighbors = k - 1
    Array.tabulate(n) { p =>
      if (numNeighbors <= 0) 0.0 else {
        val knn = Array.fill(math.min(numNeighbors, math.max(n - 1, 1)))(Double.MaxValue)
        for (q <- 0 until n if q != p) {
          val d = dist(points(p), points(q))
          if (d < knn(knn.length - 1)) {
            var i = knn.length - 1
            while (i > 0 && d < knn(i - 1)) { knn(i) = knn(i - 1); i -= 1 }
            knn(i) = d
          }
        }
        val c = if (n - 1 < numNeighbors) knn(knn.length - 1) else knn(numNeighbors - 1)
        if (c == Double.MaxValue) 0.0 else c
      }
    }
  }

  property("coreDistances equals the two-sided loop bit for bit") =
    Prop.forAll(Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(coarseVec, coarseVec,
      Gen.containerOfN[Array, Double](3, Gen.choose(-5.0, 5.0))))), Gen.choose(1, 9)) { (vs, k) =>
      val pts = vs.toArray
      allDists.forall { d =>
        HdbscanKernel.coreDistances(pts, k, d).map(bits).sameElements(
          twoSidedCoreDistances(pts, k, d).map(bits))
      }
    }

  property("MST total weight invariant under vertex relabeling") =
    Prop.forAll(Gen.listOfN(15, vecGen), Gen.choose(0L, Long.MaxValue)) { (vs, s) =>
      vs.size <= 2 || {
        val pts = vs.toArray
        val core = HdbscanKernel.coreDistances(pts, 3, HdbscanKernel.euclidean)
        val w1 = HdbscanKernel.primMst(pts, core, HdbscanKernel.euclidean).map(_.weight).sum
        val perm = new scala.util.Random(s).shuffle(pts.indices.toList).toArray
        val pts2 = perm.map(pts)
        val core2 = HdbscanKernel.coreDistances(pts2, 3, HdbscanKernel.euclidean)
        val w2 = HdbscanKernel.primMst(pts2, core2, HdbscanKernel.euclidean).map(_.weight).sum
        math.abs(w1 - w2) < 1e-6 * math.max(1.0, w1)
      }
    }
}
