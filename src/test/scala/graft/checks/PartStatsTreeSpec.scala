package graft.checks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.DocsGen

/** The two-level ("tree") merge of PartStats.computeFusedTree must produce
  * the SAME per-part summaries and samples as the direct single-collect path
  * — the stage-2 pre-merge only changes how results travel to the driver
  * (one bounded range row at a time instead of one all-parts collect). */
class PartStatsTreeSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  test("tree merge == direct path on a many-part manifest (single input " +
    "partition: byte-identical digests)") {
    // one input partition -> one stage-1 partial per part -> every digest is
    // bit-deterministic, so we can assert FULL equality including KLL bytes
    val docs = DocsGen.docs(spark, 1200, DocsGen.cleanScenario(120)).repartition(1)
    val (sumDirect, samDirect) = PartStats.computeFused(docs, maxSample = 20)
    val (sumTree, samTree) = PartStats.computeFusedTree(docs, maxSample = 20, fanIn = 16)
    assert(sumTree.keySet == sumDirect.keySet && sumTree.size == 120)
    sumDirect.foreach { case (p, d) =>
      val t = sumTree(p)
      assert(t.nDocs == d.nDocs && t.nSpans == d.nSpans &&
        t.kindHist == d.kindHist && t.nullKindSpans == d.nullKindSpans &&
        t.ordViolationDocs == d.ordViolationDocs && t.nullKindDocs == d.nullKindDocs)
      assert(t.offsetKll.sameElements(d.offsetKll), s"part $p KLL bytes differ")
      assert(samTree(p).map(_.toSeq).toSeq == samDirect(p).map(_.toSeq).toSeq)
    }
  }

  test("tree merge == direct path under real parallelism (decoded fields + samples)") {
    // multiple input partitions: partial-merge order inside a part may vary,
    // so compare the DECODED summaries (all exact counters), the KLL row
    // count, and the deterministic min-hash samples as sets
    val docs = DocsGen.docs(spark, 3000, DocsGen.goldenScenario)
    val (sumDirect, samDirect) = PartStats.computeFused(docs, maxSample = 30)
    val (sumTree, samTree) = PartStats.computeFusedTree(docs, maxSample = 30, fanIn = 4)
    assert(sumTree.keySet == sumDirect.keySet && sumTree.size == 18)
    sumDirect.foreach { case (p, d) =>
      val t = sumTree(p)
      assert(t.nDocs == d.nDocs && t.nSpans == d.nSpans && t.kindHist == d.kindHist &&
        t.nullKindSpans == d.nullKindSpans &&
        t.ordViolationDocs == d.ordViolationDocs && t.nullKindDocs == d.nullKindDocs &&
        t.danglingRefSpans == d.danglingRefSpans)
      assert(graft.sketch.KllOps.n(t.offsetKll) == graft.sketch.KllOps.n(d.offsetKll))
      assert(samTree(p).map(_.toSeq).toSet == samDirect(p).map(_.toSeq).toSet,
        s"part $p samples differ")
    }
  }
}

class MmdExactGuardSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("mmdExactDistance fails loudly BEFORE materializing an over-sized batch") {
    val docs = DocsGen.docs(spark, 600, DocsGen.cleanScenario(3))
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 30)
    val ex = intercept[IllegalArgumentException] {
      DriftChecks.mmdExactDistance(spark, docs, ref, maxRows = 100)
    }
    assert(ex.getMessage.contains("maxRows"))
    // and within the bound the exact path still works
    val ok = DriftChecks.mmdExactDistance(spark, docs, ref, maxRows = 1000)
    assert(ok.size == 3 && ok.values.forall(d => !d.isNaN))
  }
}

class TreeMergeRunSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("full run with treeMergeFanIn produces the same verdicts as the direct path") {
    val docs = DocsGen.docs(spark, 900, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 50)
    def verd(cfg: graft.engine.RunConfig) =
      graft.engine.ValidationRun.run(docs, media, ref, cfg).verdicts.collect()
        .map(v => (v.part, v.check_id, v.distance, v.p_value, v.is_drift, v.passed))
        .sortBy(t => (t._1, t._2))
    val direct = verd(graft.engine.RunConfig(runId = "direct", maxSample = 50))
    val tree = verd(graft.engine.RunConfig(runId = "tree", maxSample = 50,
      treeMergeFanIn = Some(4)))
    assert(direct.length == tree.length)
    direct.zip(tree).foreach { case (d, t) =>
      assert(d._1 == t._1 && d._2 == t._2 && d._5 == t._5 && d._6 == t._6, s"$d vs $t")
      // ks/psi used to compare loosely here (KLL compaction depends on merge
      // arrival order); the exact-CDF grid made every check's numbers
      // integer-sum-derived, so tree ≡ direct is exact across the board
      assert(math.abs(d._3 - t._3) < 1e-9 && math.abs(d._4 - t._4) < 1e-9,
        s"$d vs $t")
    }
  }
}

/** The fully-distributed MMD path must produce verdicts IDENTICAL to the
  * collect-broadcast path: same bounded sample selection
  * (DocStatsBuffer.SampleOrd), same (randomState, part, permId) seeds, same
  * `Mmd.statsBatchFromMatrix` estimator — only the execution shape differs (samples
  * never transit the driver). */
class MmdDistributedSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("mmdDistributed verdicts == collect-broadcast mmd verdicts, exactly") {
    val docs = DocsGen.docs(spark, 1800, DocsGen.goldenScenario)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 7L, maxSample = 80)
    val samples = PartStats.computeFused(docs, maxSample = 80,
      graft.sketch.DocStatsAgg.ModeSample)._2
    val viaDriver = DriftChecks.mmd(spark, "a", 0.01, ref, samples)
      .map(v => (v.part, v.distance, v.p_value, v.metrics("n_prod")))
    val distributed = DriftChecks.mmdDistributed(spark, docs, ref, "b", 0.01,
        maxSample = 80)
      .map(v => (v.part, v.distance, v.p_value, v.metrics("n_prod")))
    assert(viaDriver.nonEmpty && viaDriver == distributed,
      s"driver=${viaDriver.take(3)} dist=${distributed.take(3)}")
  }

  test("run(distributedMmd = true): same mmd verdicts as the default run") {
    val docs = DocsGen.docs(spark, 900, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 50)
    def mmdVerd(cfg: graft.engine.RunConfig) =
      graft.engine.ValidationRun.run(docs, media, ref, cfg).verdicts.collect()
        .filter(_.check_id == "mmd_features")
        .map(v => (v.part, v.distance, v.p_value)).sortBy(_._1).toSeq
    val a = mmdVerd(graft.engine.RunConfig(runId = "dflt", maxSample = 50))
    val b = mmdVerd(graft.engine.RunConfig(runId = "dist", maxSample = 50,
      distributedMmd = true))
    assert(a.nonEmpty && a == b)
  }
}

/** Verdict input-echo option — parity with the reference's
  * `return_input_values` (detector_api/app/schemas/drift.py:13,
  * app/api.py:41-42): when enabled, each MMD verdict carries the bounded
  * feature batch it consumed; all other verdicts echo nothing. */
class VerdictEchoSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("echoInputValues attaches the MMD sample to mmd verdicts only") {
    val docs = DocsGen.docs(spark, 900, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 50)
    val res = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "echo", maxSample = 50, echoInputValues = true))
    val verdicts = res.verdicts.collect()
    val mmd = verdicts.filter(_.check_id == "mmd_features")
    assert(mmd.nonEmpty)
    mmd.foreach { v =>
      val echoed = v.input_values.getOrElse(fail(s"part ${v.part}: no echo"))
      assert(echoed.nonEmpty && echoed.size <= 50)
      assert(echoed.forall(_.size == echoed.head.size)) // fixed feature width
      assert(echoed.size.toDouble == v.metrics("n_prod"))
    }
    verdicts.filterNot(_.check_id == "mmd_features")
      .foreach(v => assert(v.input_values.isEmpty, s"${v.check_id} echoed"))
    // default: off — no verdict echoes anything
    val res2 = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "noecho", maxSample = 50))
    res2.verdicts.collect().foreach(v => assert(v.input_values.isEmpty))
  }
}

/** DriftChecks.mmd cuts each part's permutations into `permsPerTask` chunks;
  * every task builds its own kernel matrix for the parts it reaches, so a
  * part whose chunks land in two tasks is evaluated twice over. The verdicts
  * must not depend on the chunk size and must equal the permutation test
  * recomputed on the driver straight from the stats layer. */
class MmdChunkSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("mmd verdicts are the same for every permsPerTask and match a driver recomputation") {
    val docs = DocsGen.docs(spark, 1800, DocsGen.goldenScenario)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 3L, maxSample = 60)
    val samples = PartStats.computeFused(docs, maxSample = 40,
      graft.sketch.DocStatsAgg.ModeSample)._2
    // createDataset cuts the chunk list into defaultParallelism contiguous
    // slices; at 7 perms per task some slice boundary must split a part
    val slices = spark.sparkContext.defaultParallelism
    val chunksPerPart = (100 + 1 + 6) / 7 // permIds 0..100 in chunks of 7
    val nChunks = samples.size * chunksPerPart
    assert((1 until slices).exists(i => (i.toLong * nChunks / slices) % chunksPerPart != 0))
    def run(permsPerTask: Int) =
      DriftChecks.mmd(spark, "c", 0.01, ref, samples, permsPerTask = permsPerTask)
        .map(v => (v.part, v.distance, v.p_value, v.is_drift))
    val base = run(64)
    assert(base.size == samples.size && base.exists(_._4) && base.exists(!_._4))
    assert(run(7) == base && run(101) == base)
    val m = ref.refSample.length
    base.foreach { case (part, dist, p, _) =>
      val pool = ref.refSample ++ samples(part)
      val k = graft.stats.Mmd.kernelMatrix(pool, ref.sigma)
      val sT = graft.stats.Mmd.upperTriangleSum(k, pool.length)
      val obs = graft.stats.Mmd.statsBatchFromMatrix(k, pool.length, m, sT,
        Array(Array.tabulate(pool.length)(identity)))(0)
      val stats = (1 to 100).grouped(64).flatMap { grp =>
        graft.stats.Mmd.statsBatchFromMatrix(k, pool.length, m, sT, grp.map(id =>
          graft.stats.StatMath.permutation(pool.length,
            (31L * 1000003L + part) * 0x9E3779B97F4A7C15L + (id - 1))).toArray)
      }.toSeq
      assert(dist == obs && p == stats.count(_ >= obs) / 100.0, s"part $part")
    }
  }
}
