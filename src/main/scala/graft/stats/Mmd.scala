package graft.stats

/** Maximum Mean Discrepancy with RBF kernel + seeded permutation test.
  *
  * From-scratch implementation of the statistic the reference delegates to
  * frouros (`frouros.detectors.data_drift.MMD` with
  * `frouros.utils.kernels.rbf_kernel`, reference ml/training.py:131-147;
  * compare at detector_api/app/detector.py:58-60). Operates on bounded
  * samples — exactly like the reference, which fits on a 6,000-row reference
  * window (ml/training.py:252) and compares 10,000-row batches
  * (ml/testing.py:61). At 100 TB scale the *sampling* is distributed (Spark
  * side); this math runs on the bounded per-partition samples, and the
  * permutation fan-out is distributed as Spark tasks (`DriftChecks.mmd`).
  */
object Mmd {

  /** RBF kernel k(x,y) = exp(-||x-y||² / (2σ²)). */
  @inline def rbf(x: Array[Double], y: Array[Double], sigma: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    math.exp(-s / (2.0 * sigma * sigma))
  }

  @inline private def sqDist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }

  /** Median pairwise euclidean distance — the σ heuristic
    * (reference ml/training.py:123-129: `sigma = median(pdist(X_ref))`).
    * Exact median over the given (bounded, pre-sampled) rows. */
  def medianHeuristicSigma(x: Array[Array[Double]], maxRows: Int = 2000): Double = {
    val xs = if (x.length > maxRows) x.take(maxRows) else x
    val n = xs.length
    if (n < 2) return 1.0
    val dists = new Array[Double](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        dists(k) = math.sqrt(sqDist(xs(i), xs(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(dists)
    val m = dists.length
    val med = if (m % 2 == 1) dists(m / 2) else 0.5 * (dists(m / 2 - 1) + dists(m / 2))
    if (med <= 0) 1.0 else med
  }

  /** Unbiased MMD² estimator between samples X (ref) and Y (prod):
    * 1/(m(m-1)) Σ_{i≠j} k(xi,xj) + 1/(n(n-1)) Σ_{i≠j} k(yi,yj) − 2/(mn) Σ k(xi,yj).
    * Floored at 0 for the reported distance (can be slightly negative). */
  def mmd2(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double): Double = {
    val m = x.length
    val n = y.length
    if (m < 2 || n < 2) return 0.0
    var kxx = 0.0
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) { kxx += rbf(x(i), x(j), sigma); j += 1 }
      i += 1
    }
    var kyy = 0.0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { kyy += rbf(y(i), y(j), sigma); j += 1 }
      i += 1
    }
    var kxy = 0.0
    i = 0
    while (i < m) {
      var j = 0
      while (j < n) { kxy += rbf(x(i), y(j), sigma); j += 1 }
      i += 1
    }
    2.0 * kxx / (m.toDouble * (m - 1)) +
      2.0 * kyy / (n.toDouble * (n - 1)) -
      2.0 * kxy / (m.toDouble * n)
  }

  /** MMD distance (sqrt of max(mmd², 0)) — reported like frouros's
    * `DistanceResult.distance`. */
  def distance(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double): Double =
    math.sqrt(math.max(0.0, mmd2(x, y, sigma)))

  /** Partial kernel sum over a block pair — the unit of work for the
    * distributed EXACT (unsampled) MMD path (DriftChecks.mmdExactDistance):
    * Σ k(a_i, b_j) for i ∈ [i0,i1), j ∈ [j0,j1). With `strictUpper` (same
    * array on both sides) only pairs with i < j count, so summing all block
    * pairs (bi ≤ bj) yields exactly the strict upper triangle. Pure math —
    * no Spark dependency (this object stays Spark-free). */
  def kernelBlockSum(a: Array[Array[Double]], i0: Int, i1: Int,
                     b: Array[Array[Double]], j0: Int, j1: Int,
                     sigma: Double, strictUpper: Boolean): Double = {
    var s = 0.0
    var i = i0
    while (i < i1) {
      var j = if (strictUpper) math.max(j0, i + 1) else j0
      while (j < j1) { s += rbf(a(i), b(j), sigma); j += 1 }
      i += 1
    }
    s
  }

  /** Unbiased MMD² from precomputed pair sums (sxx/syy strict-upper within
    * X/Y, sxy over the full X×Y rectangle). */
  def mmd2FromSums(sxx: Double, syy: Double, sxy: Double, m: Int, n: Int): Double =
    2.0 * sxx / (m.toDouble * (m - 1)) +
      2.0 * syy / (n.toDouble * (n - 1)) -
      2.0 * sxy / (m.toDouble * n)

  /** Full pooled kernel matrix (float, symmetric, row-major, unit diagonal).
    * Built once per part and reindexed per permutation, so the permutation
    * test costs additions only (`statsBatchFromMatrix`). n² floats: 64 MB at
    * a 4000-row pool — callers keep it no longer than the part it serves. */
  def kernelMatrix(pool: Array[Array[Double]], sigma: Double): Array[Float] = {
    val n = pool.length
    val k = new Array[Float](n * n)
    var i = 0
    while (i < n) {
      k(i * n + i) = 1.0f
      var j = i + 1
      while (j < n) {
        val v = rbf(pool(i), pool(j), sigma).toFloat
        k(i * n + j) = v
        k(j * n + i) = v
        j += 1
      }
      i += 1
    }
    k
  }

  /** Sum of the strict upper triangle of the pooled kernel matrix — a
    * permutation invariant: for ANY split of the pool into (X, Y),
    * sxx + syy + sxy = this total. One sequential pass. Each row tail is
    * summed on its own first: one running sum over all n²/2 terms rounds
    * enough to move the MMD distance in its 12th digit at a 4000-row pool,
    * because the within-side sums are derived from this total by
    * subtracting nearly equal sums. */
  def upperTriangleSum(k: Array[Float], nPool: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < nPool) {
      val row = i * nPool
      var r = 0.0
      var j = i + 1
      while (j < nPool) { r += k(row + j); j += 1 }
      s += r
      i += 1
    }
    s
  }

  /** Permutations whose accumulators share one read of the matrix rows:
    * 16 × nPool doubles (512 KB at a 4000-row pool) stay cache-resident. */
  private val PermGroup = 16

  /** MMD distance for each permutation in `perms`, matching `statFromMatrix`.
    *
    * Row-sum identity: let A be the smaller side (X when m ≤ nPool − m, else
    * Y), B the other, r_i = Σ_{j≠i} k_ij, R_A = Σ_{i∈A} r_i and S = `sTotal`.
    * Then s_AB = R_A − 2·s_AA and s_BB = S − R_A + s_AA, so only s_AA needs
    * O(n²) work. It is accumulated densely: for every i ∈ A the row tail
    * k(i, i+1..n) is added into a per-permutation accumulator acc, and
    * s_AA = Σ_{j∈A} acc(j). Permutations run in groups of `PermGroup`, so each
    * matrix row is read once per group and its adds are contiguous.
    *
    * Grouping invariance: every sum a permutation's value depends on is taken
    * in ascending pool-index order, so its value is bit-identical whichever
    * other permutations share the call (callers split permutation ids into
    * calls differently and must agree bit for bit).
    *
    * `perms(b)` = the permuted index order (first m entries form X_b). */
  def statsBatchFromMatrix(k: Array[Float], nPool: Int, m: Int, sTotal: Double,
                           perms: Array[Array[Int]]): Array[Double] = {
    val nb = perms.length
    val n2 = nPool - m
    if (nb == 0 || m < 2 || n2 < 2) return Array.fill(nb)(0.0)
    val aIsX = m <= n2
    val r = new Array[Double](nPool)
    var i = 0
    while (i < nPool) {
      val row = i * nPool
      var s = 0.0
      var j = 0
      while (j < i) { s += k(row + j); j += 1 }
      j = i + 1
      while (j < nPool) { s += k(row + j); j += 1 }
      r(i) = s
      i += 1
    }
    val out = new Array[Double](nb)
    val inA = new Array[Int](nPool) // bit t: pool index is in A under group member t
    val acc = new Array[Double](PermGroup * nPool)
    var g0 = 0
    while (g0 < nb) {
      val g = math.min(PermGroup, nb - g0)
      java.util.Arrays.fill(inA, 0)
      java.util.Arrays.fill(acc, 0, g * nPool, 0.0)
      var t = 0
      while (t < g) {
        val p = perms(g0 + t)
        val bit = 1 << t
        var q = if (aIsX) 0 else m
        val qEnd = if (aIsX) m else nPool
        while (q < qEnd) { inA(p(q)) |= bit; q += 1 }
        t += 1
      }
      i = 0
      while (i < nPool) {
        val row = i * nPool
        var w = inA(i)
        while (w != 0) {
          val off = Integer.numberOfTrailingZeros(w) * nPool
          var j = i + 1
          while (j < nPool) { acc(off + j) += k(row + j); j += 1 }
          w &= w - 1
        }
        i += 1
      }
      t = 0
      while (t < g) {
        val off = t * nPool
        var sAA = 0.0
        var rA = 0.0
        var j = 0
        while (j < nPool) {
          if ((inA(j) >>> t & 1) != 0) { sAA += acc(off + j); rA += r(j) }
          j += 1
        }
        val sAB = rA - 2.0 * sAA
        val sBB = sTotal - rA + sAA
        val (sxx, syy) = if (aIsX) (sAA, sBB) else (sBB, sAA)
        val mmd2 = mmd2FromSums(sxx, syy, sAB, m, n2)
        out(g0 + t) = math.sqrt(math.max(0.0, mmd2))
        t += 1
      }
      g0 += g
    }
    out
  }

  /** MMD distance from a precomputed pooled kernel matrix and an index
    * permutation: first m permuted indices = X, rest = Y. Double accumulators
    * over float entries. */
  def statFromMatrix(k: Array[Float], nPool: Int, m: Int, idx: Array[Int]): Double = {
    val n2 = nPool - m
    if (m < 2 || n2 < 2) return 0.0
    var sxx = 0.0
    var i = 0
    while (i < m) {
      val ri = idx(i) * nPool
      var j = i + 1
      while (j < m) { sxx += k(ri + idx(j)); j += 1 }
      i += 1
    }
    var syy = 0.0
    i = m
    while (i < nPool) {
      val ri = idx(i) * nPool
      var j = i + 1
      while (j < nPool) { syy += k(ri + idx(j)); j += 1 }
      i += 1
    }
    var sxy = 0.0
    i = 0
    while (i < m) {
      val ri = idx(i) * nPool
      var j = m
      while (j < nPool) { sxy += k(ri + idx(j)); j += 1 }
      i += 1
    }
    val mmd2 = 2.0 * sxx / (m.toDouble * (m - 1)) +
      2.0 * syy / (n2.toDouble * (n2 - 1)) -
      2.0 * sxy / (m.toDouble * n2)
    math.sqrt(math.max(0.0, mmd2))
  }

  /** One permutation's statistic: pool = ref ++ prod rows, shuffled with a
    * seed derived from (randomState, permId), re-split at the original sizes.
    * Deterministic regardless of task placement. */
  def permutedStat(pool: Array[Array[Double]], m: Int, sigma: Double,
                   randomState: Long, permId: Long): Double = {
    val seed = randomState * 0x9E3779B97F4A7C15L + permId
    val idx = StatMath.permutation(pool.length, seed)
    val px = new Array[Array[Double]](m)
    val py = new Array[Array[Double]](pool.length - m)
    var i = 0
    while (i < m) { px(i) = pool(idx(i)); i += 1 }
    while (i < pool.length) { py(i - m) = pool(idx(i)); i += 1 }
    distance(px, py, sigma)
  }

  /** Full permutation test run locally (used in unit tests and for tiny
    * partition counts; the engine fans permutations out over spark.range).
    * p = #{perm >= observed} / P — the plain proportion, matching the
    * reference's semantics (frouros PermutationTestDistanceBased with 100
    * perms trips verdicts at α=0.01 in ml/testing.py:183, which requires p
    * to reach below 1/(P+1); seed 31 per ml/training.py:535-537). */
  def permutationTest(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double,
                      numPermutations: Int = 100, randomState: Long = 31L): (Double, Double) = {
    val obs = distance(x, y, sigma)
    val pool = x ++ y
    var ge = 0
    var p = 0
    while (p < numPermutations) {
      if (permutedStat(pool, x.length, sigma, randomState, p.toLong) >= obs) ge += 1
      p += 1
    }
    (obs, ge.toDouble / numPermutations)
  }
}
