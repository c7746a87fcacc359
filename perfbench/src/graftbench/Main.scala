package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(
  val spark: SparkSession,
  val seed: Long,
  val runDir: File,
  val tracer: Tracer,
  val counters: Option[SparkCounters]
) {
  def traced: Boolean = tracer.enabled
  def dataDir(rep: Int): String = new File(runDir, s"data$rep").getAbsolutePath

  /** Per-operation averages of the Spark counters over `ops` operations. */
  def sparkPerOp(before: Map[String, Long], ops: Long): Map[String, Double] =
    counters.map(_.snapshot).getOrElse(Map.empty).map { case (k, v) =>
      k -> (v - before.getOrElse(k, 0L)).toDouble / math.max(ops, 1L)
    }
  def sparkNow: Map[String, Long] = counters.map(_.snapshot).getOrElse(Map.empty)
}

/** What a timed phase hands back to the harness. Failed operations are
  * in `latenciesMs` as +∞ so they count as missing every percentile.
  */
final case class Outcome(
  latenciesMs: Seq[Double],
  throughputPerS: Double,
  attempted: Long,
  failed: Long,
  checks: Seq[(String, Boolean)],
  record: Map[String, Any],
  layers: Map[String, Double]
)

trait Workload {
  /** One complete set-up of the workload's inputs for repetition `rep`. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed warm-up against the last set-up (JIT, codegen caches). */
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Outcome
}

/** Entry point:
  * `graftbench.Main --workload <viewer|ingest|curation> --seed <n>
  *  --seconds <s> --trace <0|1> --out <record.json> --work <dir>`.
  *
  * Prints exactly one line on stdout: the summary JSON object
  * (`correct`, `attempted`, `failed`, `metrics`). The full record — box
  * stamp, per-kind figures, checks and, when traced, spans and per-layer
  * metrics — goes to `--out`. Exits 1 when any output check fails.
  */
object Main {
  val SetupReps = 3

  private val EndToEnd = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s", "heap_retained_mb" -> "MB"
  )
  val PerLayer: Seq[(String, String)] = Seq(
    "build_df_ms" -> "ms", "plan.analysis_ms" -> "ms", "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms", "exec_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.sched_wait_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "functions.butterworth_ns_per_sample" -> "ns", "sources.blob_decode_ns_per_sample" -> "ns",
    "sources.wire_encode_ns_per_point" -> "ns"
  )

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workloadName = need("workload")
    val workload: Workload = workloadName match {
      case "viewer" => Viewer
      case "ingest" => Ingest
      case "curation" => CurationPasses
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val code =
      try run(workloadName, workload, need("seed").toLong, need("seconds").toDouble,
        need("trace") == "1", new File(need("out")), new File(need("work")))
      catch {
        case t: Throwable =>
          System.err.println(s"[graftbench] FAILED: $t")
          t.printStackTrace()
          3
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(name: String, w: Workload, seed: Long, seconds: Double, trace: Boolean,
    out: File, work: File): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val runDir = new File(work, s"$name-$seed")
    Files.deleteRun(runDir)
    runDir.mkdirs()
    val spark = graft.GraftSession
      .builder(cores)
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(trace)
    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, runDir, tracer, counters)

    val setupRepS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("setup")(w.setup(ctx, rep))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    tracer.span("warmup")(w.warmup(ctx))
    val warmupS = (System.nanoTime() - t0) / 1e9
    // setup_s: session build + the median of SetupReps input builds +
    // warm-up. The median keeps one slow build from moving the gate; the
    // whole wall time, cold first build included, is in the record as
    // jvm_start_to_first_timed_op_s.
    val setupS = sessionS + Stats.median(setupRepS) + warmupS

    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val o = w.measure(ctx, seconds)

    // three collections 200 ms apart, so the ContextCleaner can release
    // what the earlier ones made unreachable
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val kernels = if (trace) Kernels.measure() else Map.empty[String, Double]
    val finite = o.latenciesMs.filterNot(_.isInfinite)
    val metrics = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.pct(o.latenciesMs, 0.5),
      "latency_p90_ms" -> Stats.pct(o.latenciesMs, 0.9),
      "throughput_per_s" -> o.throughputPerS,
      "heap_retained_mb" -> heapMb
    )
    val layers = o.layers ++ kernels
    val checksOk = o.checks.forall(_._2) && o.failed == 0 && o.attempted > 0
    val shown =
      if (trace) PerLayer.map { case (k, u) => k -> (layers.getOrElse(k, Double.NaN), u) }
      else EndToEnd.map { case (k, u) => k -> (metrics(k), u) }
    val summary = Map(
      "correct" -> checksOk,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    )
    val record = Map(
      "workload" -> name,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "summary" -> summary,
      "end_to_end" -> metrics,
      "latency_samples" -> o.latenciesMs.size,
      "latency_samples_beyond_p90" -> finite.count(_ > metrics("latency_p90_ms")),
      "failed_ratio" -> o.failed.toDouble / math.max(o.attempted, 1L),
      "setup" -> Map("session_s" -> sessionS, "input_build_s" -> setupRepS, "warmup_s" -> warmupS,
        "jvm_start_to_first_timed_op_s" -> firstOpS),
      "checks" -> o.checks.map { case (k, ok) => Map("check" -> k, "ok" -> ok) },
      "box" -> Box.stamp(spark, cores, seed),
      "workload_record" -> o.record,
      "per_layer" -> layers,
      "self_times" -> tracer.selfTimes,
      "spans" -> (if (trace) tracer.spansJson else Nil)
    )
    out.getAbsoluteFile.getParentFile.mkdirs()
    java.nio.file.Files.writeString(out.toPath, Json.render(record) + "\n")
    o.checks.filterNot(_._2).foreach { case (k, _) => System.err.println(s"[graftbench] CHECK FAILED: $k") }
    spark.stop()
    Files.deleteRun(runDir)
    println(Json.render(summary))
    if (checksOk) 0 else 1
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Delete a run directory and the layout / blob-store copies the
    * engine caches for its data directories under `target/`.
    */
  def deleteRun(runDir: File): Unit = {
    delete(runDir)
    val prefix = runDir.getAbsolutePath.replaceAll("[^A-Za-z0-9.]", "_")
    for {
      base <- Seq("target/ts_layout", "target/ts_blobs")
      entries <- Option(new File(base).listFiles()).toSeq
      e <- entries if e.getName.startsWith(prefix)
    } delete(e)
  }
}

/** Box stamp: recorded with every run, never used as a gate. */
object Box {
  /** Fixed single-thread splitmix64 loop; its wall time is the stamp. */
  def calibrationS(): Double = {
    val t0 = System.nanoTime()
    val r = new SplitMix(1L)
    var acc = 0L
    var i = 0
    while (i < 100000000) { acc ^= r.nextLong(); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("calibration sentinel")
    s
  }

  def stamp(spark: SparkSession, cores: Int, seed: Long): Map[String, Any] = {
    val bootId =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id"))).trim
      catch { case _: Throwable => "unknown" }
    Map(
      "nproc" -> cores,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "boot_id" -> bootId,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "seed" -> seed,
      "calibration_s" -> calibrationS()
    )
  }
}

/** Kernel microbenchmarks on seeded arrays: the per-sample cost of the
  * `functions` and `sources` kernels, apart from any Spark overhead.
  */
object Kernels {
  private def nsPer(units: Long)(body: => Unit): Double = {
    val times = (0 until 7).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / units
    }
    Stats.median(times.drop(2))
  }

  def measure(): Map[String, Double] = {
    val r = new SplitMix(7L)
    val n = 200000
    val data = Array.fill(n)(r.nextDouble() * 100.0)
    val cascade = graft.operators.Filtering.FixedCascade
    val pad = graft.operators.Filtering.FixedPad
    var sink = 0.0
    val bw = nsPer(n) { sink += graft.functions.Butterworth.filterBlock(cascade, data, pad)(n - 1) }
    val tmp = java.io.File.createTempFile("graftbench", ".bin")
    graft.sources.BinarySegments.writeBlob(tmp.getPath, data)
    val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
    tmp.delete()
    val dec = nsPer(n) { sink += graft.sources.BinarySegments.decodeBlob(bytes)(n - 1) }
    val pts = 1000
    val seg = graft.streaming.RealtimeResample.Segment("click<->view", 0L, 3.6e9, 3600000000L,
      isMinMax = true, "continuous", pts, data.take(2 * pts).toSeq)
    val enc = nsPer(pts * 200L) {
      var i = 0
      while (i < 200) { sink += graft.sources.SegmentProto.encodeTimeSeriesMessage(seg).length; i += 1 }
    }
    if (sink == 42.0) System.err.println("kernel sentinel")
    Map(
      "functions.butterworth_ns_per_sample" -> bw,
      "sources.blob_decode_ns_per_sample" -> dec,
      "sources.wire_encode_ns_per_point" -> enc
    )
  }
}
