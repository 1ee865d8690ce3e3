package graft.index

/** In-process Lloyd's k-means (Lloyd, IEEE TIT 1982) for codebook fits:
  * the IVF coarse quantizer and every PQ block. Training data is a
  * bounded sample already on the driver ([[Sampling.collectSample]]), so
  * a fit is plain loops over one packed float array — no Spark job per
  * iteration — and its result depends only on the sample's order, which
  * the sampler fixes independently of partitioning.
  *
  * Semantics:
  *  - seeding is greedy k-means++ (Arthur & Vassilvitskii, SODA 2007,
  *    with the greedy step of scikit-learn's `_kmeans_plusplus`): the
  *    first centre is a uniform pick, each later one the best of
  *    `2 + ⌊ln k⌋` D²-weighted candidates by resulting potential, all
  *    drawn from one `java.util.Random(seed)`;
  *  - assignment is squared euclidean in double over float data, ties to
  *    the lower centroid id (the [[graft.functions.ArgMinDistExpr]] rule);
  *  - an empty cluster keeps its centre;
  *  - iteration stops after `maxIter` rounds or once every centre moved
  *    less than [[Tolerance]] (MLlib's `KMeans` stopping rule).
  *
  * Points are packed row-major: point `i` is `points(i*dim until (i+1)*dim)`.
  */
object LocalKMeans {

  /** Convergence threshold on each centre's euclidean move (MLlib's default). */
  val Tolerance = 1e-4

  /** Columns `[from, from + dim)` of every row, packed row-major. */
  private[index] def pack(rows: Array[Array[Float]], from: Int, dim: Int): Array[Float] = {
    val out = new Array[Float](rows.length * dim)
    var i = 0
    while (i < rows.length) { System.arraycopy(rows(i), from, out, i * dim, dim); i += 1 }
    out
  }

  /** `k` centres fitted to the packed points: [[seedCenters]] then [[lloyd]]. */
  def fit(points: Array[Float], dim: Int, k: Int, maxIter: Int, seed: Long): Array[Array[Float]] =
    lloyd(points, dim, seedCenters(points, dim, k, seed), maxIter)

  /** Greedy k-means++ seeding: `k` data points. Once every point is a
    * centre (zero potential) later picks repeat one. */
  private[index] def seedCenters(points: Array[Float], dim: Int, k: Int, seed: Long): Array[Array[Float]] = {
    val n = points.length / dim
    require(k >= 1 && k <= n, s"k must be in [1, $n], got $k")
    val rnd = new java.util.Random(seed)
    val trials = 2 + math.log(k.toDouble).toInt
    val chosen = new Array[Int](k)
    chosen(0) = rnd.nextInt(n)
    var closest = Array.tabulate(n)(i => bounded(points, i * dim, points, chosen(0) * dim, dim,
      Double.PositiveInfinity))
    var pot = closest.sum
    val cumulative = new Array[Double](n)
    var trial = new Array[Double](n)
    var best = new Array[Double](n)
    var c = 1
    while (c < k) {
      var acc = 0.0; var i = 0
      while (i < n) { acc += closest(i); cumulative(i) = acc; i += 1 }
      var bestPot = Double.PositiveInfinity; var bestId = -1
      var t = 0
      while (t < trials) {
        val id = math.min(firstAtLeast(cumulative, rnd.nextDouble() * pot), n - 1)
        var candPot = 0.0; i = 0
        while (i < n) {
          val d = math.min(closest(i), bounded(points, i * dim, points, id * dim, dim, closest(i)))
          trial(i) = d; candPot += d; i += 1
        }
        if (candPot < bestPot) {
          bestPot = candPot; bestId = id
          val tmp = best; best = trial; trial = tmp
        }
        t += 1
      }
      chosen(c) = bestId
      val tmp = closest; closest = best; best = tmp
      pot = bestPot
      c += 1
    }
    chosen.map(id => java.util.Arrays.copyOfRange(points, id * dim, id * dim + dim))
  }

  /** Lloyd iterations from `init`; returns the final centres. */
  private[index] def lloyd(points: Array[Float], dim: Int, init: Array[Array[Float]],
      maxIter: Int): Array[Array[Float]] = {
    val n = points.length / dim
    val k = init.length
    val centers = new Array[Double](k * dim)
    for (c <- 0 until k; j <- 0 until dim) centers(c * dim + j) = init(c)(j).toDouble
    val sums = new Array[Double](k * dim)
    val counts = new Array[Long](k)
    val tol2 = Tolerance * Tolerance
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      java.util.Arrays.fill(sums, 0.0)
      java.util.Arrays.fill(counts, 0L)
      var i = 0
      while (i < n) {
        val c = nearest(points, i * dim, centers, k, dim)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c * dim + j) += points(i * dim + j); j += 1 }
        i += 1
      }
      converged = true
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var moved = 0.0; var j = 0
          while (j < dim) {
            val o = c * dim + j
            val m = sums(o) / counts(c)
            val d = m - centers(o); moved += d * d
            centers(o) = m; j += 1
          }
          if (moved > tol2) converged = false
        }
        c += 1
      }
      iter += 1
    }
    Array.tabulate(k)(c => Array.tabulate(dim)(j => centers(c * dim + j).toFloat))
  }

  /** The k-means objective: summed squared distance of each point to its
    * nearest centre. */
  private[index] def cost(points: Array[Float], dim: Int, centers: Array[Array[Float]]): Double = {
    val flat = centers.flatMap(_.map(_.toDouble))
    (0 until points.length / dim).map { i =>
      val c = nearest(points, i * dim, flat, centers.length, dim)
      var s = 0.0; var j = 0
      while (j < dim) { val d = points(i * dim + j) - flat(c * dim + j); s += d * d; j += 1 }
      s
    }.sum
  }

  /** Nearest centre of the point at `off`, ties to the lower id. A centre's
    * partial sum stops once it reaches the best so far, which cannot
    * change the strict-`<` winner. */
  private def nearest(points: Array[Float], off: Int, centers: Array[Double],
      k: Int, dim: Int): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val co = c * dim
      var s = 0.0; var j = 0
      while (j < dim && s < bestD) { val d = points(off + j) - centers(co + j); s += d * d; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Squared distance between two packed float points; stops early (with
    * a value ≥ `limit`) once the partial sum reaches `limit`. */
  private def bounded(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int,
      limit: Double): Double = {
    var s = 0.0; var j = 0
    while (j < dim && s < limit) { val d = a(ao + j).toDouble - b(bo + j); s += d * d; j += 1 }
    s
  }

  /** Smallest index whose value is ≥ `x` in an ascending array (`n` when none). */
  private def firstAtLeast(sorted: Array[Double], x: Double): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}
