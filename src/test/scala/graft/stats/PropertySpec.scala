package graft.stats

import org.scalatest.funsuite.AnyFunSuite

/** Property-style invariants (SURVEY.md §5.2), checked over seeded random
  * sweeps (deterministic — no flaky CI). */
class PropertySpec extends AnyFunSuite {
  private val rng = new StatMath.SplitMix64(987654321L)
  private def counts(n: Int): Array[Long] = Array.fill(n)(rng.nextInt(5000).toLong)
  private def vecs(n: Int, d: Int): Array[Array[Double]] =
    Array.fill(n)(Array.fill(d)(rng.nextDouble() * 4.0 - 2.0))

  test("chi2TwoSample: p in [0,1], stat >= 0; self-comparison p = 1") {
    (1 to 200).foreach { _ =>
      val a = counts(4)
      val b = counts(4)
      val (stat, p) = StatMath.chi2TwoSample(a, b)
      assert(p >= 0.0 && p <= 1.0 && stat >= 0.0)
      if (a.count(_ > 0) >= 2) {
        val (s2, p2) = StatMath.chi2TwoSample(a, a)
        assert(s2 < 1e-9 && p2 > 0.999999) // FP residue only
      }
    }
  }

  test("psi: non-negative, zero on identical distributions") {
    (1 to 200).foreach { _ =>
      def props(): Array[Double] = {
        val xs = Array.fill(5)(rng.nextDouble() + 0.01)
        val s = xs.sum
        xs.map(_ / s)
      }
      val p = props(); val q = props()
      assert(StatMath.psi(p, q) >= -1e-12)
      assert(math.abs(StatMath.psi(p, p)) < 1e-12)
    }
  }

  test("kolmogorovSf: monotone non-increasing on [0, 3]") {
    (1 to 200).foreach { _ =>
      val x = rng.nextDouble() * 2.9
      val d = rng.nextDouble() * 0.1 + 0.01
      assert(StatMath.kolmogorovSf(x) >= StatMath.kolmogorovSf(x + d) - 1e-12)
    }
  }

  test("permutation: always a bijection, seed-deterministic") {
    (1 to 200).foreach { _ =>
      val n = rng.nextInt(200) + 1
      val seed = rng.nextLong()
      val p = StatMath.permutation(n, seed)
      assert(p.sorted.sameElements(Array.tabulate(n)(identity)))
      assert(p.sameElements(StatMath.permutation(n, seed)))
    }
  }

  test("mmd2 symmetry: mmd2(x,y) == mmd2(y,x)") {
    (1 to 50).foreach { _ =>
      val x = vecs(8, 3); val y = vecs(8, 3)
      assert(math.abs(Mmd.mmd2(x, y, 1.0) - Mmd.mmd2(y, x, 1.0)) < 1e-12)
    }
  }

  test("kernel-matrix statistic agrees with direct computation (identity split)") {
    (1 to 50).foreach { _ =>
      val x = vecs(10, 3); val y = vecs(12, 3)
      val direct = Mmd.distance(x, y, 1.0)
      val pool = x ++ y
      val k = Mmd.kernelMatrix(pool, 1.0)
      val viaMatrix = Mmd.statFromMatrix(k, pool.length, x.length,
        Array.tabulate(pool.length)(identity))
      assert(math.abs(direct - viaMatrix) < 1e-4, s"$direct vs $viaMatrix")
    }
  }

  test("permutation batches match per-permutation path, whatever the grouping") {
    // m < nPool − m (X is the smaller side), m > nPool − m (Y is), and a tie
    for ((mx, my) <- Seq((20, 25), (31, 14), (18, 18)); round <- 1 to 4) {
      val pool = vecs(mx, 3) ++ vecs(my, 3)
      val n = pool.length
      val k = Mmd.kernelMatrix(pool, 1.0)
      val sTotal = Mmd.upperTriangleSum(k, n)
      val perms = Array.tabulate(64) { b =>
        if (b == 0) Array.tabulate(n)(identity)
        else StatMath.permutation(n, round * 1000L + mx * 100L + b)
      }
      val batch = Mmd.statsBatchFromMatrix(k, n, mx, sTotal, perms)
      perms.zipWithIndex.foreach { case (p, b) =>
        val single = Mmd.statFromMatrix(k, n, mx, p)
        assert(math.abs(batch(b) - single) < 1e-9,
          s"m=$mx round=$round b=$b ${batch(b)} vs $single")
      }
      val split = Mmd.statsBatchFromMatrix(k, n, mx, sTotal, perms.take(63)) ++
        Mmd.statsBatchFromMatrix(k, n, mx, sTotal, perms.drop(63))
      val oneByOne = perms.map(p => Mmd.statsBatchFromMatrix(k, n, mx, sTotal, Array(p))(0))
      assert(split.sameElements(batch) && oneByOne.sameElements(batch),
        s"m=$mx round=$round: grouping changed a value")
    }
  }

  test("kernelBlockSum block decomposition reproduces mmd2 exactly") {
    val rng = new StatMath.SplitMix64(99L)
    val x = Array.fill(23, 4)(rng.nextDouble())
    val y = Array.fill(57, 4)(rng.nextDouble())
    val sigma = 0.8
    val bs = 10
    val nb = (y.length + bs - 1) / bs
    var syy = 0.0
    for (i <- 0 until nb; j <- i until nb)
      syy += Mmd.kernelBlockSum(y, i * bs, math.min((i + 1) * bs, y.length),
        y, j * bs, math.min((j + 1) * bs, y.length), sigma, strictUpper = true)
    var sxy = 0.0
    for (j <- 0 until nb)
      sxy += Mmd.kernelBlockSum(x, 0, x.length,
        y, j * bs, math.min((j + 1) * bs, y.length), sigma, strictUpper = false)
    val sxx = Mmd.kernelBlockSum(x, 0, x.length, x, 0, x.length, sigma, strictUpper = true)
    val got = Mmd.mmd2FromSums(sxx, syy, sxy, x.length, y.length)
    assert(math.abs(got - Mmd.mmd2(x, y, sigma)) < 1e-12)
  }

  test("sketch merge: KLL merge associativity within rank error") {
    val spark = graft.SparkTestBase.spark
    import org.apache.datasketches.kll.KllDoublesSketch
    val a = KllDoublesSketch.newHeapInstance(200)
    val b = KllDoublesSketch.newHeapInstance(200)
    val c = KllDoublesSketch.newHeapInstance(200)
    (1 to 10000).foreach { i => a.update(i.toDouble) }
    (10001 to 20000).foreach { i => b.update(i.toDouble) }
    (20001 to 30000).foreach { i => c.update(i.toDouble) }
    val ab_c = KllDoublesSketch.newHeapInstance(200)
    ab_c.merge(a); ab_c.merge(b); ab_c.merge(c)
    val c_ba = KllDoublesSketch.newHeapInstance(200)
    c_ba.merge(c); c_ba.merge(b); c_ba.merge(a)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val d = math.abs(ab_c.getQuantile(q) - c_ba.getQuantile(q))
      assert(d < 30000 * 0.035, s"q=$q diff=$d") // ~2x KLL k=200 rank error
    }
    assert(ab_c.getN == 30000 && c_ba.getN == 30000)
  }
}
