package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.{ConstraintChecks, DriftChecks, Fit, PartStats, RefState}
import graft.engine.{RunConfig, SnapshotCatalog, ValidationRun, Wap}
import graft.model.{DocsGen, DocsGenFast, PartSpec}
import graft.sketch.DocStatsAgg
import graft.stats.{Mmd, StatMath}

/** What one operation produced, read back after its timer stopped. */
final case class Observed(docs: Long, writeBytes: Long, kind: String, fields: Map[String, Any])

/** One benchmark workload. `setup` builds the program's inputs (called
  * `setupReps` times, each into a fresh directory; the last one is used),
  * `prepare` stages the caller's input for operation i (untimed), `op` is
  * the timed operation, `observe` reads its outputs back for the checker
  * (untimed). `decomposed` runs only in the traced run, after each traced op. */
abstract class Workload(spark: SparkSession, work: Path, tr: Tracer) {
  /** What callers get: every RunConfig knob at its default. */
  val cfg: RunConfig = RunConfig(runId = "perfbench")
  val out: Path = work.resolve("out")

  def setup(rep: Int): Map[String, Double]
  /** Set-up repetitions per run; the first pays the JIT warm-up, so the
    * reported median is taken over enough reps to land on a warm one. */
  def setupReps: Int = 3
  def prepare(i: Int): Unit = ()
  def op(i: Int): Unit
  def observe(i: Int): Observed
  /** Untimed operations before measuring (JIT, codegen cache, heap growth). */
  def warmupOps: Int = 2
  /** The fitted reference of the last set-up. */
  protected var ref: RefState = _

  /** Compile the MMD kernel before the warm-up ops: every workload spends
    * most of its CPU there, and a cold kernel keeps ops slowing down for
    * several passes. Runs the stats-layer test on the driver, once per core. */
  def prewarm(cores: Int): Unit = {
    val threads = Seq.fill(cores)(new Thread(() => (0 until 2).foreach(_ =>
      Workload.mmdOnDriver(ref, ref.refSample, 0, cfg))))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
  def hasDecomposed: Boolean = false
  def decomposed(i: Int): Unit = ()
  def expect: Map[String, Any]

  protected def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A fresh directory for set-up repetition `rep`; the previous one is removed. */
  protected def setupDir(rep: Int): Path = {
    if (rep > 0) Workload.rm(work.resolve(s"setup${rep - 1}"))
    Files.createDirectories(work.resolve(s"setup$rep"))
  }

  protected def media(dir: Path): DataFrame = spark.read.parquet(dir.resolve("media").toString)

  /** Generate `nDocs` docs over `specs` plus the media catalog into staging
    * parquet, then commit the docs as the table's first snapshot. */
  protected def genAndCommit(dir: Path, nDocs: Long, specs: Seq[PartSpec])
      : (String, Long, Map[String, Double]) = {
    val staged = dir.resolve("staged").toString
    val (_, gen) = timed {
      DocsGenFast.docs(spark, nDocs, specs).write.parquet(staged)
      DocsGen.media(spark).write.parquet(dir.resolve("media").toString)
    }
    val table = dir.resolve("docs").toString
    val (snap, commit) = timed(SnapshotCatalog.commit(table, spark.read.parquet(staged)))
    (table, snap.snapshotId, Map("model.gen_s" -> gen, "engine.catalog.commit_s" -> commit))
  }

  protected def fit(refDocs: DataFrame, snapshotId: Long): (RefState, Double) =
    timed(Fit.fit(refDocs, snapshotId = snapshotId))

  /** Count violation rows per check of the parquet written at `path`. */
  protected def violationCounts(path: Path): Map[String, Long] =
    spark.read.parquet(path.toString).groupBy("check_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

object Workload {
  val ConstraintChecks: Seq[String] = Seq("unique_doc_id", "ref_media", "span_order", "null_kind")

  def rm(p: Path): Unit = graft.util.PidPaths.deleteRecursively(p.toString)

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val files = Files.walk(p)
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally files.close()
    }

  /** The constraint checks a part's generation parameters must fail. */
  def planted(specs: Seq[PartSpec]): Map[String, Seq[Int]] = Map(
    "unique_doc_id" -> specs.filter(_.dupEvery > 1).map(_.part),
    "ref_media" -> specs.filter(_.danglingRate > 0).map(_.part),
    "span_order" -> specs.filter(_.swapProb > 0).map(_.part),
    "null_kind" -> specs.filter(_.nullKindRate > 0).map(_.part))

  /** The MMD permutation test of DriftChecks.mmd for one part, computed on the
    * driver with the stats layer directly: (observed statistic, p-value). */
  def mmdOnDriver(ref: RefState, sample: Array[Array[Double]], part: Int, cfg: RunConfig)
      : (Double, Double) = {
    val pool = ref.refSample ++ sample
    val m = ref.refSample.length
    val k = Mmd.kernelMatrix(pool, ref.sigma)
    val sT = Mmd.upperTriangleSum(k, pool.length)
    val obs = Mmd.statsBatchFromMatrix(k, pool.length, m, sT,
      Array(Array.tabulate(pool.length)(identity)))(0)
    var ge = 0
    (1 to cfg.numPermutations).grouped(64).foreach { grp =>
      val perms = grp.map(id => StatMath.permutation(pool.length,
        (cfg.randomState * 1000003L + part) * 0x9E3779B97F4A7C15L + (id - 1))).toArray
      Mmd.statsBatchFromMatrix(k, pool.length, m, sT, perms).foreach(st => if (st >= obs) ge += 1)
    }
    (obs, ge.toDouble / cfg.numPermutations)
  }
}

/** One full validation pass over a committed golden-scenario snapshot, plus
  * the caller's write of the verdicts and the violation rows. */
final class FullGolden(spark: SparkSession, work: Path, tr: Tracer)
    extends Workload(spark, work, tr) {
  import spark.implicits._

  /** 18 parts of 10k docs. The MMD fan-out over 18 parts at the default
    * maxSample (2000 rows a side) costs about 20 executor CPU-s whatever the
    * part size, so larger tables add set-up time faster than they add
    * table-sized work: on 4 cores a run took 60 s at 54k docs, 65-74 s at
    * 270k and 73 s at 540k, and 48 runs must fit in the run budget. */
  val Docs = 180000L
  override def warmupOps: Int = 1
  private val specs = DocsGen.goldenScenario
  private var dir: Path = _
  private var table = ""
  private var snapId = 0L
  private var res: ValidationRun.Results = _

  def setup(rep: Int): Map[String, Double] = {
    dir = setupDir(rep)
    val (t, id, times) = genAndCommit(dir, Docs, specs)
    table = t
    snapId = id
    val (r, fitS) = fit(SnapshotCatalog.read(spark, table, snapId).filter($"part" === 0), snapId)
    ref = r
    times + ("checks.fit_s" -> fitS)
  }

  /** ConstraintChecks.referential caches its dangling-ref frame and never
    * releases it, so a second pass over the same snapshot would read that
    * cache instead of rescanning. Dropping it makes every pass pay what a
    * caller validating a new snapshot pays. */
  override def prepare(i: Int): Unit = spark.catalog.clearCache()

  def op(i: Int): Unit = {
    val catalog = media(dir)
    val docs = tr("engine.catalog.read")(SnapshotCatalog.read(spark, table, snapId))
    res = tr("engine.run")(ValidationRun.run(docs, catalog, ref, cfg))
    tr("write") {
      res.verdicts.write.mode("overwrite").parquet(out.resolve("verdicts").toString)
      res.violations.write.mode("overwrite").parquet(out.resolve("violations").toString)
    }
  }

  def observe(i: Int): Observed = {
    val vs = res.verdicts.collect()
    val failing = Workload.ConstraintChecks.map(c =>
      c -> vs.filter(v => v.check_id == c && !v.passed).map(_.part).sorted.toSeq).toMap
    val flags = vs.map(v => s"${v.part}/${v.check_id}/${v.passed}/${v.is_drift}").sorted
    Observed(res.summaries.values.map(_.nDocs).sum, Workload.bytes(out), "pass", Map(
      "failing" -> failing, "flags" -> flags.mkString(";"),
      "violations" -> violationCounts(out.resolve("violations"))))
  }

  def expect: Map[String, Any] = Map("failing" -> Workload.planted(specs),
    "snapshot_bytes" -> Workload.bytes(Paths.get(table, "data")))

  override def hasDecomposed: Boolean = true

  /** The default run() path, one layer call at a time (traced run only): the
    * sum of these self times is compared with one orchestrated pass. */
  override def decomposed(i: Int): Unit = {
    spark.catalog.clearCache()
    val catalog = media(dir)
    val docs = tr("engine.catalog.read")(SnapshotCatalog.read(spark, table, snapId))
    val dec = out.resolve("decomposed")
    val (sm, _) = tr("checks.scan")(PartStats.computeFused(docs, cfg.maxSample,
      DocStatsAgg.ModeStats, None, edges = ref.offsetEdges.toSeq))
    val (_, samples) = tr("checks.scan")(PartStats.computeFused(docs, cfg.maxSample,
      DocStatsAgg.ModeSample, None))
    tr("checks.uniqueness") {
      val (v, _) = ConstraintChecks.uniquenessAuto(docs, cfg.runId, cfg.salts)
      v.write.mode("overwrite").parquet(dec.resolve("unique").toString)
    }
    tr("checks.referential") {
      val (v, _) = ConstraintChecks.referential(docs, catalog, cfg.runId)
      v.write.mode("overwrite").parquet(dec.resolve("ref").toString)
    }
    tr("checks.integrity") {
      val dirty = sm.collect { case (p, s) if s.ordViolationDocs > 0 || s.nullKindDocs > 0 => p }
      ConstraintChecks.spanIntegrityRows(docs.filter($"part".isin(dirty.toSeq: _*)), cfg.runId)
        .write.mode("overwrite").parquet(dec.resolve("integrity").toString)
    }
    tr("checks.drift") {
      Seq(DriftChecks.ks _, DriftChecks.chi2 _, DriftChecks.emd _, DriftChecks.jsd _,
        DriftChecks.novelKind _).flatMap(_(cfg.runId, cfg.alpha, ref, sm)) ++
        DriftChecks.psi(cfg.runId, cfg.alpha, ref, sm)
    }
    tr("checks.mmd") {
      tr.attr("parts", samples.size)
      DriftChecks.mmd(spark, cfg.runId, cfg.alpha, ref, samples, cfg.numPermutations, cfg.randomState)
    }
    // the kernel arithmetic of one part (rotating), with no Spark around it
    val part = samples.keys.toSeq.sorted.apply(i % samples.size)
    tr("stats.mmd")(Workload.mmdOnDriver(ref, samples(part), part, cfg))
  }
}

/** Write-audit-publish of small append batches of 2 new parts; every fourth
  * batch (phase chosen by the seed) carries duplicate doc ids and must be
  * rejected and rolled back. */
final class WapIngest(spark: SparkSession, work: Path, seed: Long, tr: Tracer)
    extends Workload(spark, work, tr) {
  import spark.implicits._

  val BaseDocs = 8000L
  val BatchDocs = 4000L
  /** A set-up takes about 2.5 s once warm, so one rep more is cheap, and
    * the median of four averages the two middle, warmer reps. */
  override def setupReps: Int = 4
  /** Batch latency keeps falling for several batches (JIT, codegen);
    * timing closer to the plateau keeps the median steadier run to run. */
  override def warmupOps: Int = 3
  /** Batch part ids start above the base table's parts (0 and 1). */
  val FirstBatchPart = 100
  private val rng = new scala.util.Random(seed)
  private val dirtyPhase = rng.nextInt(4)
  private val dirtySlot = rng.nextInt(2)
  private var dir: Path = _
  private var table = ""
  private var priorParts: Seq[Int] = Nil
  private var tableBytesBefore = 0L
  private var result: Wap.WapResult = _

  def setup(rep: Int): Map[String, Double] = {
    dir = setupDir(rep)
    val (t, id, times) = genAndCommit(dir, BaseDocs, Seq(PartSpec(0), PartSpec(1)))
    table = t
    val (r, fitS) = fit(SnapshotCatalog.read(spark, table, id).filter($"part" === 0), id)
    ref = r
    times + ("checks.fit_s" -> fitS)
  }

  private def dirty(i: Int): Boolean = i % 4 == dirtyPhase
  private def staged(i: Int): String = dir.resolve(s"batch$i").toString

  override def prepare(i: Int): Unit = {
    val (a, b) = (FirstBatchPart + 2 * i, FirstBatchPart + 2 * i + 1)
    val specs = Seq(PartSpec(a), PartSpec(b)).zipWithIndex.map {
      case (s, slot) if dirty(i) && slot == dirtySlot => s.copy(dupEvery = 5)
      case (s, _) => s
    }
    DocsGenFast.docs(spark, BatchDocs, specs).write.parquet(staged(i))
    if (i > 0) Workload.rm(Paths.get(staged(i - 1)))
    priorParts = currentParts()
    tableBytesBefore = Workload.bytes(Paths.get(table))
  }

  private def currentParts(): Seq[Int] =
    SnapshotCatalog.readManifest(table, SnapshotCatalog.currentSnapshotId(table).get).parts

  def op(i: Int): Unit = {
    val batch = spark.read.parquet(staged(i))
    val catalog = media(dir)
    result =
      if (tr.enabled && i % 2 == 1) publishStepwise(batch, catalog)
      else tr("engine.wap")(Wap.validateAndPublish(spark, table, batch, catalog, ref, cfg))
    tr("write")(result.results.violations.write.mode("overwrite")
      .parquet(out.resolve("violations").toString))
  }

  /** Wap.validateAndPublish's steps as separate layer calls (traced run only),
    * so the catalog and gate costs get spans of their own. */
  private def publishStepwise(batch: DataFrame, catalog: DataFrame): Wap.WapResult = {
    val prior = tr("engine.catalog.read_manifest") {
      SnapshotCatalog.currentSnapshotId(table).map(id => id -> SnapshotCatalog.readManifest(table, id))
    }
    val snap = tr("engine.catalog.commit")(SnapshotCatalog.commit(table, batch))
    val newParts = (snap.parts.toSet -- prior.map(_._2.parts).getOrElse(Nil)).toSeq.sorted
    val newDocs = tr("engine.catalog.read")(SnapshotCatalog.read(spark, table, snap.snapshotId)
      .filter($"part".isin(newParts: _*)))
    val res = tr("engine.run")(ValidationRun.run(newDocs, catalog,
      ref.copy(snapshotId = snap.snapshotId), cfg))
    val failing = tr("engine.wap.gate")(res.verdicts.collect()
      .filter(v => Wap.DefaultGate.contains(v.check_id) && !v.passed).toSeq)
    if (failing.isEmpty) Wap.WapResult(published = true, snap.snapshotId, snap.snapshotId, failing, res)
    else {
      val rolled = tr("engine.catalog.rollback")(SnapshotCatalog.rollbackTo(table, prior.get._1))
      Wap.WapResult(published = false, snap.snapshotId, rolled.snapshotId, failing, res)
    }
  }

  def observe(i: Int): Observed = {
    val committed = Workload.bytes(Paths.get(table)) - tableBytesBefore
    val audited = SnapshotCatalog.readManifest(table, result.auditedSnapshotId).parts
    Observed(result.results.summaries.values.map(_.nDocs).sum, committed + Workload.bytes(out),
      if (dirty(i)) "dirty" else "clean", Map("commit_bytes" -> committed,
        "published" -> result.published,
        "failing" -> result.failing.map(_.check_id).distinct.sorted,
        "prior_parts" -> priorParts, "audited_parts" -> audited,
        "current_parts" -> currentParts()))
  }

  def expect: Map[String, Any] = Map("dirty_phase" -> dirtyPhase, "dirty_slot" -> dirtySlot)
}

/** The analogue of the paper's per-request drift check: one 500-row batch of
  * feature vectors through DriftChecks.mmd against the fitted reference.
  * Requests alternate between control batches (part 0 rows outside the
  * reference window) and strongly shifted parts. */
final class DriftRequests(spark: SparkSession, work: Path, seed: Long, tr: Tracer)
    extends Workload(spark, work, tr) {
  import spark.implicits._

  val WindowDocs = 1000
  val BatchRows = 500
  /** Windows per part; part 0's first RefWindows are the reference window. */
  val Windows = 12
  val RefWindows = 4
  val ControlPart = 0
  /** The golden-scenario parts the MMD check must flag (GoldenScenarioSpec). */
  val ShiftedParts: Seq[Int] = Seq(5, 9, 10, 14)
  private val rng = new scala.util.Random(seed)
  private var pools: Map[Int, Array[Array[Double]]] = Map.empty
  private var request: (String, Int, Int) = _
  private var verdict: graft.checks.Verdict = _

  def setup(rep: Int): Map[String, Double] = {
    val dir = setupDir(rep)
    val parts = ControlPart +: ShiftedParts
    val specs = DocsGen.goldenScenario.filter(s => parts.contains(s.part))
    val (table, id, times) = genAndCommit(dir, parts.size.toLong * Windows * WindowDocs, specs)
    val docs = SnapshotCatalog.read(spark, table, id)
      .withColumn("window", (substring($"doc_id", 9, 9).cast("long") / WindowDocs).cast("int"))
    val (r, fitS) = fit(docs.filter($"part" === ControlPart && $"window" < RefWindows)
      .drop("window"), id)
    ref = r
    // one BatchRows-row feature batch per (part, window), keyed part * 1000 + window
    val (p, scanS) = timed(PartStats.computeFused(
      docs.withColumn("part", $"part" * 1000 + $"window").drop("window"),
      BatchRows, DocStatsAgg.ModeSample)._2)
    pools = p
    times ++ Map("checks.fit_s" -> fitS, "checks.scan_s" -> scanS)
  }

  override def prepare(i: Int): Unit = {
    request =
      if (i % 2 == 0) ("control", ControlPart, RefWindows + rng.nextInt(Windows - RefWindows))
      else ("shifted", ShiftedParts(rng.nextInt(ShiftedParts.size)), rng.nextInt(Windows))
  }

  private def batch: Array[Array[Double]] = pools(request._2 * 1000 + request._3)

  def op(i: Int): Unit = {
    verdict = tr("checks.mmd")(DriftChecks.mmd(spark, cfg.runId, cfg.alpha, ref,
      Map(0 -> batch), cfg.numPermutations, cfg.randomState)).head
    val v = verdict
    val response = s"""{"alpha":${v.alpha},"datetime":"${v.datetime}","is_drift":${v.is_drift},""" +
      s""""p_value":${v.p_value},"values":null,"distance":${v.distance}}"""
    Files.createDirectories(out)
    Files.write(out.resolve("response.json"), response.getBytes(StandardCharsets.UTF_8))
  }

  def observe(i: Int): Observed =
    Observed(batch.length, Files.size(out.resolve("response.json")), request._1, Map(
      "part" -> request._2, "window" -> request._3, "is_drift" -> verdict.is_drift,
      "p_value" -> verdict.p_value, "distance" -> verdict.distance))

  override def hasDecomposed: Boolean = true

  /** The same permutation test on the driver, with no Spark around it. */
  override def decomposed(i: Int): Unit = {
    tr("stats.mmd") {
      val (obs, p) = Workload.mmdOnDriver(ref, batch, 0, cfg)
      tr.attr("distance", obs)
      tr.attr("p_value", p)
    }
  }

  def expect: Map[String, Any] = Map("batch_rows" -> BatchRows,
    "ref_rows" -> ref.refSample.length)
}
