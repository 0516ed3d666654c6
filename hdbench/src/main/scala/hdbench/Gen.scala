package hdbench

import java.util.SplittableRandom

/** Seeded input generators. The workload seed is the only source of
  * randomness, so one seed always yields byte-identical inputs; the engine
  * sees only the generated frames, never the generating labels. */
object Gen {

  /** Points with their generating class: blob index, or -1 for noise. */
  final case class Blobs(feats: Array[Array[Double]], labels: Array[Int]) {
    def fingerprint: String = {
      val h = new Fnv
      var i = 0
      while (i < feats.length) {
        h.add(labels(i).toLong)
        feats(i).foreach(v => h.add(java.lang.Double.doubleToLongBits(v)))
        i += 1
      }
      h.hex
    }
  }

  /** `k` Gaussian blobs in `d` dimensions plus a uniform-noise fraction.
    * Blob sizes and spreads follow a fixed pattern (so every seed costs the
    * same work); the seed moves the centers and samples the points. Blob
    * spreads vary 2× across blobs (in 8 dimensions a 2^8× density range),
    * and center spacing is only a few spreads, so neighbouring blobs can
    * overlap in their tails. */
  def blobs(n: Int, d: Int, k: Int, noiseFrac: Double, seed: Long): Blobs = {
    val rnd = new SplittableRandom(seed)
    val nNoise = math.round(n * noiseFrac).toInt
    val weights = Array.tabulate(k)(i => 1.0 + (i % 4))
    val sizes = {
      val s = weights.map(w => math.floor((n - nNoise) * w / weights.sum).toInt)
      s(0) += (n - nNoise) - s.sum
      s
    }
    val sigmas = Array.tabulate(k)(i => 1.0 + 0.5 * (i % 3))
    val side = 100.0
    val centers = new Array[Array[Double]](k)
    var placed = 0
    while (placed < k) {
      val c = Array.fill(d)(rnd.nextDouble() * side)
      val ok = (0 until placed).forall { j =>
        dist(c, centers(j)) >= 4.0 * (sigmas(placed) + sigmas(j))
      }
      if (ok) { centers(placed) = c; placed += 1 }
    }
    val feats = new Array[Array[Double]](n)
    val labels = new Array[Int](n)
    var i = 0
    for (b <- 0 until k; _ <- 0 until sizes(b)) {
      feats(i) = Array.tabulate(d)(j => centers(b)(j) + sigmas(b) * gaussian(rnd))
      labels(i) = b
      i += 1
    }
    while (i < n) {
      feats(i) = Array.fill(d)(rnd.nextDouble() * side)
      labels(i) = -1
      i += 1
    }
    // interleave classes so ids and partitions carry no label order
    shuffle(rnd, feats, labels)
    Blobs(feats, labels)
  }

  /** A corpus of open-vocabulary documents: each token is 8 random hex
    * characters, so almost every character shingle occurs in one document
    * only (df ≈ 1). After every 10th document (ids 0, 10, 20, ...) the next
    * id is a planted near-duplicate: the same tokens with one substituted. */
  final case class Corpus(texts: Array[String]) {
    def n: Int = texts.length
    def planted: Set[(Long, Long)] =
      (0L until n.toLong by 10L).filter(_ + 1 < n).map(a => (a, a + 1)).toSet
    def fingerprint: String = {
      val h = new Fnv
      texts.foreach(t => t.foreach(c => h.add(c.toLong)))
      h.hex
    }
  }

  def corpus(n: Int, tokens: Int, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    def token(): String = f"${rnd.nextInt() & 0xffffffffL}%08x"
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      if (i % 10 == 1) {
        val toks = texts(i - 1).split(' ')
        toks(rnd.nextInt(tokens)) = token()
        texts(i) = toks.mkString(" ")
      } else texts(i) = Array.fill(tokens)(token()).mkString(" ")
      i += 1
    }
    Corpus(texts)
  }

  private def dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * rnd.nextDouble())
  }

  private def shuffle(rnd: SplittableRandom, feats: Array[Array[Double]],
      labels: Array[Int]): Unit = {
    var i = feats.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val f = feats(i); feats(i) = feats(j); feats(j) = f
      val l = labels(i); labels(i) = labels(j); labels(j) = l
      i -= 1
    }
  }

  /** 64-bit FNV-1a over longs: the input fingerprint. */
  final class Fnv {
    private var h = 0xcbf29ce484222325L
    def add(v: Long): Unit = {
      var x = v; var i = 0
      while (i < 8) { h = (h ^ (x & 0xff)) * 0x100000001b3L; x >>>= 8; i += 1 }
    }
    def hex: String = f"$h%016x"
  }
}
