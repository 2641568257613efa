package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up one workload, runs it as a closed loop with one
  * caller for a fixed time, and writes a raw report (per-op observations,
  * set-up timings and, in the traced run, spans plus Spark task records).
  * perfbench/judge.py turns the report into checked metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --cores N
  * --work DIR --report FILE. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    val spark = session(cores, work)
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def mark(name: String): Unit =
      phases(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - phases.values.sum
    mark("start_s")
    try {
      val tracer = new Tracer(enabled = false)
      val wl: Workload = name match {
        case "full_golden" => new FullGolden(spark, work, tracer)
        case "wap_ingest" => new WapIngest(spark, work, seed, tracer)
        case "drift_requests" => new DriftRequests(spark, work, seed, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val setups = (0 until wl.setupReps).map { rep =>
        val t0 = System.nanoTime()
        val parts = wl.setup(rep)
        parts + ("setup_s" -> (System.nanoTime() - t0) / 1e9)
      }
      mark("setup_s")
      var next = 0
      /** Run ops while `more(ops done, seconds elapsed)` holds. */
      def runOps(phase: String, more: (Int, Double) => Boolean): Seq[Map[String, Any]] = {
        val t0 = System.nanoTime()
        val out = Seq.newBuilder[Map[String, Any]]
        var done = 0
        while (more(done, (System.nanoTime() - t0) / 1e9)) {
          out += runOp(wl, tracer, next, phase)
          next += 1
          done += 1
        }
        out.result()
      }
      wl.prewarm(cores)
      mark("prewarm_s")
      val warm = runOps("warmup", (done, _) => done < wl.warmupOps)
      mark("warmup_s")
      val (measured, trace) =
        if (!traced) (runOps("timed", (_, t) => t < seconds), Map.empty[String, Any])
        else {
          // the first half runs untraced so the report carries its own
          // tracing-overhead baseline; the listener is attached only after
          val plain = runOps("untraced", (_, t) => t < seconds / 2)
          val ledger = new TaskLedger
          spark.sparkContext.addSparkListener(ledger)
          tracer.enabled = true
          val spanned = runOps("traced", (_, t) => t < seconds / 2)
          tracer.enabled = false
          ledger.drain(spark.sparkContext)
          (plain ++ spanned, Map("spans" -> tracer.toJson) ++ ledger.toJson)
        }
      mark("measure_s")
      val liveMb = HeapWatch.liveMb()
      val report = Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "phases" -> phases, "setups" -> setups, "ops" -> (warm ++ measured),
        "heap_live_mb" -> liveMb,
        "expect" -> wl.expect) ++ trace
      Files.writeString(Paths.get(opt("report")), Json(report))
    } finally spark.stop()
  }

  private def runOp(wl: Workload, tracer: Tracer, i: Int, phase: String): Map[String, Any] = {
    wl.prepare(i)
    val gc0 = HeapWatch.gcMs()
    val cpu0 = graft.tools.ProcStat.cpuSec()
    tracer.op = i
    val t0 = System.nanoTime()
    val error =
      try { tracer("op")(wl.op(i)); None }
      catch { case e: Exception => Some(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = graft.tools.ProcStat.cpuSec() - cpu0
    val gcMs = HeapWatch.gcMs() - gc0
    val obs = error match {
      case None =>
        try wl.observe(i)
        catch { case e: Exception => Observed(0, 0, "", Map("error" -> e.toString)) }
      case Some(e) => Observed(0, 0, "", Map("error" -> e))
    }
    if (phase == "traced" && wl.hasDecomposed) tracer("op.decomposed")(wl.decomposed(i))
    Map("i" -> i, "phase" -> phase, "kind" -> obs.kind, "wall_s" -> wall, "cpu_s" -> cpu,
      "gc_s" -> gcMs / 1000.0, "docs" -> obs.docs,
      "write_bytes" -> obs.writeBytes, "obs" -> obs.fields)
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Heap and GC accounting of the benchmark JVM (driver and executors alike). */
object HeapWatch {
  /** Heap still in use once full collections stop freeing memory: what the
    * timed operations left live. Spark's ContextCleaner drops broadcast and
    * shuffle blocks only after a collection found their handles unreachable,
    * so one collection is not enough; repeat until the heap settles. Called
    * once, after the last timed operation, so no operation starts on a
    * freshly collected heap. */
  def liveMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 1)
    while (prev - cur > 1.0 && rounds < 10) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** Minimal JSON writer for the report (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
