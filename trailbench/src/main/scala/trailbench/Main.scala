package trailbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, out: String, tiny: Boolean, corrupt: Boolean) {
  /** Set-up repetitions per run; `setup_s` takes their median. */
  def reps: Int = 3
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("cores", "4").toInt, need("work"), need("out"),
      m.get("scale").contains("tiny"), m.get("corrupt").contains("1"))
  }
}

/** One workload: set-up repetitions, a closed-loop operation, output
  * checks, and the figures it reports.
  */
abstract class Workload(opts: Opts) {
  /** Sample name whose median is the run's `op_p50_s`. */
  def primary: String
  /** One set-up repetition, its output checks counted into `rec`; the
    * run reports the median time over them.
    */
  def prepare(rep: Int, rec: Recorder): Unit
  /** Set-up done once, after the repetitions; its time is part of
    * `setup_s`.
    */
  def prepareOnce(rec: Recorder): Unit = ()
  /** One closed-loop operation, timed and checked into `rec`. */
  def op(i: Long, rec: Recorder): Unit
  /** Output checks that need the whole run (after measuring). */
  def finish(rec: Recorder): Unit
  def close(): Unit
  /** This workload's named end-to-end figures, for the printed table. */
  def figures(rec: Recorder): Seq[Figure]
  /** Per-layer figures of a traced phase, each with the end-to-end metric
    * it is expected to move.
    */
  def layers(rec: Recorder, facts: Seq[OpFacts]): Seq[(Figure, String)]

  private var corrupted = false

  /** True once, for the self-check's deliberately corrupted output: on
    * the first measured operation (or the first call of any phase when
    * `anyPhase`).
    */
  protected def corruptNow(rec: Recorder, anyPhase: Boolean = false): Boolean =
    if (opts.corrupt && !corrupted && (rec.measuring || anyPhase)) { corrupted = true; true }
    else false
}

/** Runs one workload for `--seconds` and prints its figures; the last
  * stdout line is the JSON result. A workload is one or more parts: each
  * set-up step and each operation calls every part in turn. The first
  * part's operation is the gated one. Usage (normally through run.py):
  * `trailbench.Main --workload trail_batch --seed 1 --seconds 14
  *  --trace 0 --cores 4 --work DIR --out DIR [--scale tiny] [--corrupt 1]`
  */
object Main {
  /** Every per-layer metric of the JSON result, in the order of
    * BENCHMARK.json. Layers a workload never calls report 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipelines.e2e_s" -> "s",
    "weather_model.project_s" -> "s", "weather_model.scan_bytes" -> "bytes",
    "weather_model.scan_rows" -> "rows",
    "trail_classifier.classify_s" -> "s", "trail_classifier.shuffle_bytes" -> "bytes",
    "merge_table.commit_s" -> "s", "merge_table.jobs_per_commit" -> "count",
    "merge_table.files_added" -> "count", "merge_table.files_removed" -> "count",
    "merge_table.rewrite_ratio" -> "ratio", "merge_table.live_files" -> "count",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "graft_source.read_s" -> "s", "graft_source.files_read_ratio" -> "ratio",
    "graft_source.rows_read_ratio" -> "ratio",
    "driver.analysis_ms" -> "ms", "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.self_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_wait_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_mb" -> "MB", "spark.codegen_fallbacks" -> "count",
    "similarity.build_s" -> "s", "similarity.query_s" -> "s",
    "similarity.knn_graph_s" -> "s", "similarity.recall" -> "ratio",
    "similarity.shuffle_bytes" -> "bytes",
    "tracing.untraced_op_p50_s" -> "s", "tracing.traced_op_p50_s" -> "s",
    "tracing.overhead_s" -> "s")

  /** Median machine-speed probe of the 4-vCPU virtual machine the bounds
    * were set on (4 threads); `setup_s` is reported at this speed.
    */
  val RefProbeS = 0.14

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    // the probe's own code is compiled before it is first trusted
    val calibration = new Calibration(opts.cores)
    (1 to 5).foreach(_ => calibration.probe())
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(opts.cores, "trailbench")
    val bootS = (System.nanoTime() - t0) / 1e9
    val parts: Seq[Workload] = opts.workload match {
      case "trail_batch" => Seq(new TrailBatch(spark, opts))
      case "store_rw" => Seq(new StoreRw(spark, opts), new AnnIndex(spark, opts))
      case other => sys.error(s"unknown workload $other")
    }
    val json = try run(spark, opts, parts, calibration, bootS)
      finally { parts.foreach(_.close()); spark.stop(); calibration.close() }
    println(json)
  }

  private def log(s: String): Unit = System.err.println(s"[trailbench] $s")

  private def run(spark: SparkSession, opts: Opts, parts: Seq[Workload],
      calibration: Calibration, bootS: Double): String = {
    val wl = parts.head
    val setup = new Recorder(measuring = false)
    val prepS = (0 until opts.reps).map { r =>
      val t = System.nanoTime()
      parts.foreach(_.prepare(r, setup))
      (System.nanoTime() - t) / 1e9
    }
    val onceT = System.nanoTime()
    parts.foreach(_.prepareOnce(setup))
    val onceS = (System.nanoTime() - onceT) / 1e9
    log(f"boot $bootS%.2f s, set-up repetitions ${prepS.map(s => f"$s%.2f").mkString(" ")} s" +
      f", once $onceS%.2f s")

    // warm-up: the set-up repetitions compile most of the engine; the
    // operation's own path keeps speeding up for a few more seconds, so
    // warm up for at least 5 s, then until an operation lands within 10 %
    // of the one before it, for at most 8 s
    val warm = new Recorder(measuring = false)
    val warmT = System.nanoTime()
    val warmTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0L
    def warmElapsed = (System.nanoTime() - warmT) / 1e9
    def steady = warmTimes.size >= 2 &&
      math.abs(warmTimes.last - warmTimes(warmTimes.size - 2)) <= 0.10 * warmTimes.last
    val warmMin = if (opts.tiny) 0.0 else 5.0
    while (warmTimes.size < 40 && warmElapsed < (if (opts.tiny) 0.0 else 8.0) &&
        !(steady && warmElapsed >= warmMin)) {
      val t = System.nanoTime()
      parts.foreach(_.op(i, warm))
      warmTimes += (System.nanoTime() - t) / 1e9
      i += 1
    }
    val warmS = warmElapsed
    log(s"warm-up ${warmTimes.size} operations: ${warmTimes.map(s => f"$s%.2f").mkString(" ")} s")
    val rawSetupS = bootS + Stats.median(prepS) + onceS

    def measure(seconds: Double): Recorder = {
      val rec = new Recorder(measuring = true, () => calibration.probe())
      val t = System.nanoTime()
      while (rec.attempted == 0 || (System.nanoTime() - t) / 1e9 < seconds) {
        parts.foreach(_.op(i, rec))
        i += 1
      }
      rec
    }

    val (rec, traced) =
      if (!opts.trace) (measure(opts.seconds), None)
      else {
        // half the window untraced, half traced: their difference is the
        // tracing overhead
        val plain = measure(opts.seconds / 2.0)
        val trace = new Trace(spark)
        Trace.install(trace)
        val tr = try measure(opts.seconds / 2.0) finally Trace.uninstall()
        (plain, Some((trace, tr)))
      }
    parts.foreach { p =>
      log(s"${p.primary} samples: ${rec.get(p.primary).map(s => f"$s%.3f").mkString(" ")}")
    }
    log(s"calibration samples: ${rec.get("calibration").map(s => f"$s%.3f").mkString(" ")}")
    parts.foreach(_.finish(rec))
    val attempted = setup.attempted + warm.attempted + rec.attempted +
      traced.map(_._2.attempted).getOrElse(0L)
    val failed = setup.failed + warm.failed + rec.failed + traced.map(_._2.failed).getOrElse(0L)
    // set-up time at the reference machine speed: the machine's speed
    // drifts by 15-65 % over minutes, which the run's median probe tracks
    val probeS = Stats.median(rec.get("calibration"))
    val setupS = rawSetupS * RefProbeS / probeS
    val rssMb = peakRssMb()

    val common = Seq(
      Figure("setup_s", setupS, "s", f"raw set-up $rawSetupS%.2f s x reference probe " +
        f"$RefProbeS%.2f s / this run's median probe $probeS%.4f s"),
      Figure("setup_raw_s", rawSetupS, "s", f"boot $bootS%.2f + median set-up repetition " +
        f"${Stats.median(prepS)}%.2f (of ${prepS.size}) + once $onceS%.2f; " +
        f"then warm-up $warmS%.2f"),
      Figure("op_p50_rel", Stats.median(rec.get("op_rel")), "ratio",
        s"median of ${wl.primary} time / the calibration probe run just before it; " +
          s"n=${rec.get("op_rel").size}"),
      Figure("rss_peak_mb", rssMb, "MB", s"heap pinned at ${heapMb()} MB, ${opts.cores} cores"),
      Figure("fail_ratio", failed.toDouble / attempted, "ratio",
        s"$failed failed of $attempted operations"),
      Figure("op_p50_s", Stats.median(rec.get(wl.primary)), "s",
        s"median ${wl.primary} time; n=${rec.get(wl.primary).size}"),
      Figure("calibration_s", Stats.median(rec.get("calibration")), "s",
        s"median machine-speed probe, ${opts.cores} threads; n=${rec.get("calibration").size}"))
    println(s"== ${opts.workload} seed ${opts.seed}: ${opts.seconds} s closed loop, " +
      s"local[${opts.cores}], heap ${heapMb()} MB ==")
    (common ++ parts.flatMap(_.figures(rec))).foreach(printFigure("e2e", _))

    val metrics: Seq[(String, Figure)] = traced match {
      case None =>
        val gated = Set("setup_s", "op_p50_rel", "rss_peak_mb")
        common.filter(f => gated(f.name)).map(f => f.name -> f)
      case Some((trace, tr)) =>
        val (facts, spans) = trace.facts()
        val path = s"${opts.out}/trace-${opts.workload}-${opts.seed}.jsonl"
        val self = trace.write(path, facts, spans)
        val layerFigs = parts.flatMap(_.layers(tr, facts)) ++ engineLayers(facts) ++ {
          val plain = Stats.median(rec.get(wl.primary))
          val withTrace = Stats.median(tr.get(wl.primary))
          println(f"== tracing: ${wl.primary} p50 untraced $plain%.4f s (n=${rec.get(wl.primary).size})" +
            f" | traced $withTrace%.4f s (n=${tr.get(wl.primary).size}) ==")
          Seq(Figure("tracing.untraced_op_p50_s", plain, "s") -> "reference",
            Figure("tracing.traced_op_p50_s", withTrace, "s") -> "reference",
            Figure("tracing.overhead_s", withTrace - plain, "s") -> "none (measurement cost)")
        }
        val byName = layerFigs.map { case (f, moves) => f.name -> (f, moves) }.toMap
        val json = PerLayer.map { case (name, unit) =>
          name -> byName.getOrElse(name,
            (Figure(name, 0.0, unit), s"nothing: not called by ${opts.workload}"))
        }
        val extra = layerFigs.filterNot { case (f, _) => PerLayer.exists(_._1 == f.name) }
        (json.map(_._2) ++ extra).foreach { case (f, moves) =>
          printFigure("layer", f.copy(note = s"moves $moves"))
        }
        println(s"== self time per layer (s), spans in $path ==")
        self.toSeq.sortBy(-_._2).foreach { case (l, s) => println(f"[self] $l%-18s $s%.4f") }
        json.map { case (name, (f, _)) => name -> f }
    }
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, f) =>
        k -> Json.obj(Seq("value" -> Json.num(f.value), "unit" -> Json.str(f.unit)))
      })))
  }

  /** The engine-wide layers (`driver`, `spark`), per traced operation. */
  private def engineLayers(facts: Seq[OpFacts]): Seq[(Figure, String)] = {
    def mean(f: OpFacts => Double) = if (facts.isEmpty) 0.0 else facts.map(f).sum / facts.size
    def med(f: OpFacts => Double) = if (facts.isEmpty) 0.0 else Stats.median(facts.map(f))
    val short = "read_p50_s, write_p50_s on store_rw (short operations)"
    val mem = "rss_peak_mb on every workload"
    Seq(
      Figure("driver.analysis_ms", med(_.phaseMs.getOrElse("analysis", 0.0)), "ms") -> short,
      Figure("driver.optimization_ms", med(_.phaseMs.getOrElse("optimization", 0.0)), "ms") ->
        short,
      Figure("driver.planning_ms", med(_.phaseMs.getOrElse("planning", 0.0)), "ms") -> short,
      Figure("driver.self_s", med(_.jobsOutsideMs / 1000), "s") -> short,
      Figure("spark.jobs", mean(_.jobs), "count") -> "op_p50_s on every workload",
      Figure("spark.stages", mean(_.stages), "count") -> "op_p50_s on every workload",
      Figure("spark.tasks", mean(_.tasks), "count") -> "op_p50_s on every workload",
      Figure("spark.task_s", mean(_.taskS), "s") -> "op_p50_s, rows_per_s on every workload",
      Figure("spark.task_wait_s", mean(_.waitS), "s") -> "op_p50_s on every workload",
      Figure("spark.gc_s", mean(_.gcS), "s") -> mem,
      Figure("spark.shuffle_write_bytes", mean(_.shuffleWriteBytes.toDouble), "bytes") ->
        "op_p50_s on every workload",
      Figure("spark.spill_bytes", mean(_.spillBytes.toDouble), "bytes") ->
        "op_p50_s on every workload",
      Figure("spark.peak_exec_mem_mb",
        if (facts.isEmpty) 0.0 else facts.map(_.peakExecMemBytes).max / 1048576.0, "MB") -> mem,
      Figure("spark.codegen_fallbacks", mean(_.codegenFallbacks.toDouble), "count") ->
        "op_p50_s on every workload")
  }

  private def printFigure(kind: String, f: Figure): Unit =
    println(f"[$kind] ${f.name}%-32s ${f.value}%14.6f ${f.unit}%-6s ${f.note}")

  private def heapMb(): Long = Runtime.getRuntime.maxMemory() / 1048576

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    status.asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }
}
