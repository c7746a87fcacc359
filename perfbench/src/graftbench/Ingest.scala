package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{Filtering, Timeseries}
import graft.sources.{SegmentSink, SegmentProto, TsLayout}
import graft.streaming.RealtimeServe
import graft.streaming.RealtimeServe.{Frame, Sample}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `ingest`: a seeded replay of `events` into `RealtimeServe.serve`
  * through a `MemoryStream`, one frame per 4-bucket pixel.
  *
  *  - Phase A, open loop (first half of the run): one generator thread
  *    sends rows at [[RateHz]]. A frame's latency runs from when the
  *    last row it needed was due to when it reaches the sink.
  *  - Phase B, closed loop (second half): [[BatchRows]]-row micro-batches
  *    back to back; rows per median batch time is the saturation
  *    throughput.
  *
  * The replay window is read from the partitioned layout with channel
  * and time predicates only, so `DeriveBucketFilter` prunes it.
  */
object Ingest extends Workload {
  import Calls._

  val PixelUs: Long = 4L * Timeseries.BucketUs
  /** One pixel per frame, so every closed pixel leaves at once. */
  val Cap = 1
  val RateHz = 2500.0
  val TickMs = 25L
  val BatchRows = 2000
  val WindowDays = 12
  /** Weekly layout buckets: 25 partition directories instead of the
    * registry's 150 daily ones keep the three timed input builds short;
    * `DeriveBucketFilter` reads the width from the layout's marker.
    */
  val LayoutBucketUs: Long = 7L * Data.DayUs
  /** Rows of the window fed before timing: they warm the filter state
    * past its padLength prewarm (95 grid samples, about 4 days).
    */
  val WarmDays = 5

  @volatile private var window: Array[Sample] = Array.empty
  @volatile private var windowStartUs = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dataDir(rep)
    if (rep == 0) Data.checkEvents(spark)
    Data.writeEvents(dir)
    val layout = new java.io.File(dir, "ts_layout").getAbsolutePath
    call(ctx, "TsLayout.write", -1)(
      TsLayout.write(graft.Tables.ts(spark, dir).select(col("channel"), col("t"), col("v")), layout, LayoutBucketUs))
    val startDay = new SplitMix(ctx.seed).nextInt(Data.Days - WindowDays + 1)
    val start = Data.StartUs + startDay * Data.DayUs
    val end = start + WindowDays * Data.DayUs
    val read = call(ctx, "TsLayout.read", -1)(
      TsLayout.read(spark, layout)
        .filter(col("channel").isin(Data.Channels: _*) && col("t") >= start && col("t") < end)
        .select(col("channel"), col("t"), col("v")))
    val t0 = System.nanoTime()
    val samples = read.as[Sample]
    window = samples.collect().sortBy(s => (s.t, s.channel, s.v))
    if (ctx.traced && rep == 0) {
      // partitions that hold requested rows: every (channel, week) the window touches
      val touched = (end - 1) / LayoutBucketUs - start / LayoutBucketUs + 1
      val (files, parts) = scanCounts(samples)
      sourcesLayer = Map(
        "sources.read_ms" -> (System.nanoTime() - t0) / 1e6,
        "sources.files_read" -> files.toDouble,
        "sources.partitions_read" -> parts.toDouble,
        "sources.prune_yield" -> Data.Channels.size * touched / math.max(parts, 1L).toDouble
      )
    }
    windowStartUs = start
  }
  @volatile private var sourcesLayer = Map.empty[String, Double]

  /** Row `j` of the endless replay: the window, repeated with each lap
    * shifted past the previous one, so per-channel time order holds.
    */
  private def row(j: Long): Sample = {
    val s = window((j % window.length).toInt)
    s.copy(t = s.t + (j / window.length) * WindowDays * Data.DayUs)
  }
  private def rows(from: Long, until: Long): Seq[Sample] = (from until until).map(row)

  // live query state, (re)built by warmup
  private var mem: MemoryStream[Sample] = _
  private var query: StreamingQuery = _
  private val arrivals = new ConcurrentLinkedQueue[(Frame, Long)]()
  private val planPhases = new ConcurrentLinkedQueue[Map[String, Long]]()
  private var progress: Option[ProgressLog] = None
  private var sent = 0L

  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    if (ctx.traced) {
      val p = new ProgressLog
      spark.streams.addListener(p)
      progress = Some(p)
    }
    mem = MemoryStream[Sample]
    val frames = call(ctx, "RealtimeServe.serve", -1)(
      RealtimeServe.serve(mem.toDS(), Timeseries.MontagePairs, Timeseries.BucketUs, PixelUs,
        Filtering.FixedCascade, Filtering.FixedPad, Cap))
    val traced = ctx.traced
    val sink: (Dataset[Frame], Long) => Unit = (ds, _) => {
      if (traced) planPhases.add(batchPlanPhases())
      val got = ds.collect()
      val now = System.nanoTime()
      got.foreach(f => arrivals.add(f -> now))
    }
    query = frames.writeStream
      .outputMode("append")
      .option("checkpointLocation", new java.io.File(ctx.runDir, "checkpoint").getAbsolutePath)
      .foreachBatch(sink)
      .start()
    val warmRows = window.count(_.t < windowStartUs + WarmDays * Data.DayUs).toLong
    while (sent < warmRows) {
      val n = math.min(BatchRows.toLong, warmRows - sent)
      mem.addData(rows(sent, sent + n): _*)
      sent += n
      query.processAllAvailable()
    }
  }

  /** Analysis / optimization / planning ms of the batch being written. */
  private def batchPlanPhases(): Map[String, Long] =
    query match {
      case w: StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
          .getOrElse(Map.empty)
      case _ => Map.empty
    }

  def measure(ctx: Ctx, seconds: Double): Outcome = {
    val half = seconds / 2
    val sparkBefore = ctx.sparkNow
    val progressBefore = progress.map(_.events.size).getOrElse(0)
    val planBefore = planPhases.size

    // phase A: open loop at RateHz
    val aFirst = sent
    val nA = (RateHz * half).toLong
    val lags = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var aSent = 0L
    var tick = 0L
    while (aSent < nA) {
      // sends go out every TickMs: MemoryStream makes one input
      // partition per addData call, so per-row sends would turn each
      // micro-batch into thousands of tasks
      tick += 1
      val wake = t0 + tick * TickMs * 1000000L
      val sleepNs = wake - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      val now = System.nanoTime()
      val due = math.min(nA, ((now - t0) / 1e9 * RateHz).toLong)
      if (due > aSent) {
        mem.addData(rows(aFirst + aSent, aFirst + due): _*)
        // lateness of the earliest row in this send
        lags += (now - (t0 + (aSent / RateHz * 1e9).toLong)) / 1e6
        aSent = due
      }
    }
    sent = aFirst + nA
    val aEnd = System.nanoTime()
    query.processAllAvailable()
    val progressA = progress.map(_.events.size).getOrElse(0)

    // phase B: closed loop, back-to-back batches
    val batchS = scala.collection.mutable.ArrayBuffer[Double]()
    val tB = System.nanoTime()
    val deadline = tB + (half * 1e9).toLong
    while (batchS.isEmpty || System.nanoTime() < deadline) {
      val s = System.nanoTime()
      mem.addData(rows(sent, sent + BatchRows): _*)
      sent += BatchRows
      query.processAllAvailable()
      batchS += (System.nanoTime() - s) / 1e9
    }
    val rowsPerS = BatchRows / Stats.median(batchS.toSeq)
    query.stop()

    // the batch twin over every consumed row, with the serve's cap
    val spark = ctx.spark
    import spark.implicits._
    val consumed = rows(0L, sent)
    val twin = {
      val df = consumed.toDF()
      val virt = Timeseries.montageAlignedGrid(spark, df, Timeseries.MontagePairs, Timeseries.BucketUs)
      val filtered = Filtering.applyCascade(spark, virt, Filtering.FixedCascade, Filtering.FixedPad,
        gapUs = Timeseries.BucketUs).select(col("channel"), col("t"), round(col("fv"), 6).as("v"))
      SegmentSink
        .toSegments(spark, Timeseries.downsample(filtered, PixelUs), PixelUs, maxPointsPerSegment = Cap,
          fillContinuity = true)
        .collect()
        .map(s => (s.source, s.startTs) -> SegmentProto.encodeTimeSeriesMessage(s))
        .toMap
    }
    val got = arrivals.asScala.toSeq
    val byteEqual = got.forall { case (f, _) => twin.get((f.channel, f.startTs)).exists(_.sameElements(f.wire)) }
    val decodes = got.forall { case (f, _) =>
      try { SegmentProto.decodeTimeSeriesMessage(f.wire); true } catch { case _: Throwable => false }
    }
    // the stream's frames are exactly the twin's, up to each channel's last emitted pixel
    val prefix = got.groupBy(_._1.channel).forall { case (ch, fs) =>
      val last = fs.map(_._1.startTs).max
      fs.map(_._1.startTs).toSet == twin.keySet.collect { case (c, s) if c == ch && s <= last => s }
    }

    // phase A latencies, per frame: from when the last row the frame
    // needed was due to when the frame reached the sink. With one pixel
    // per frame, pixel P leaves once P + 1 closes, i.e. once the first
    // grid bucket of P + 2 is fed — when both sides of the virtual
    // channel have seen a row in a later bucket. That row's time is
    // the frame's "last contributing event"; the pixel's own length is
    // event time, not engine time, and is left out.
    val arrival: Map[(String, Long), Long] = got
      .flatMap { case (f, at) => (0 until f.nrPoints).map(i => (f.channel, f.startTs / PixelUs + i) -> at) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val byChannel: Map[String, (Array[Long], Array[Long])] = consumed.zipWithIndex
      .groupBy(_._1.channel)
      .map { case (ch, xs) => ch -> ((xs.map(_._1.t).toArray, xs.map(_._2.toLong).toArray)) }
    def firstAtOrAfter(ch: String, t: Long): Option[Long] = byChannel.get(ch).flatMap { case (ts, idx) =>
      val i = java.util.Arrays.binarySearch(ts, t)
      val at = if (i >= 0) { var k = i; while (k > 0 && ts(k - 1) == t) k -= 1; k } else -i - 1
      if (at < ts.length) Some(idx(at)) else None
    }
    val bucketsPerPixel = PixelUs / Timeseries.BucketUs
    val lat = (twin.keySet ++ arrival.keySet.map { case (c, p) => (c, p * PixelUs) }).toSeq.flatMap {
      case (vch, startTs) =>
        val Array(a, b) = vch.split("<->")
        val tClose = (bucketsPerPixel * (startTs / PixelUs + 2) + 1) * Timeseries.BucketUs
        val enabling = for (ia <- firstAtOrAfter(a, tClose); ib <- firstAtOrAfter(b, tClose)) yield math.max(ia, ib)
        enabling.filter(j => j >= aFirst && j < aFirst + nA).map { j =>
          val due = t0 + ((j - aFirst) / RateHz * 1e9).toLong
          arrival.get((vch, startTs / PixelUs)).map(at => (at - due) / 1e6).getOrElse(Double.PositiveInfinity)
        }
    }
    val unserved = lat.count(_.isInfinite)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val evs = progress.map(_.events.asScala.toSeq.drop(progressBefore)).getOrElse(Nil)
        val evA = evs.take(progressA - progressBefore)
        def dur(k: String) = Stats.median(evs.map(_.durationMs.getOrDefault(k, 0L).toDouble))
        val phases = planPhases.asScala.toSeq.drop(planBefore)
        def phase(k: String) = Stats.mean(phases.map(_.getOrElse(k, 0L).toDouble))
        val state = evs.last.stateOperators.headOption
        Map(
          "plan.analysis_ms" -> phase("analysis"),
          "plan.optimize_ms" -> phase("optimization"),
          "plan.physical_ms" -> phase("planning"),
          "exec_ms" -> dur("addBatch"),
          "build_df_ms" -> ctx.tracer.all.filter(_.name == "call RealtimeServe.serve").map(_.ms).sum,
          "ingest.trigger_ms" -> dur("triggerExecution"),
          "ingest.add_batch_ms" -> dur("addBatch"),
          "ingest.query_planning_ms" -> dur("queryPlanning"),
          "ingest.wal_commit_ms" -> dur("walCommit"),
          "ingest.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "ingest.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
          "ingest.backlog_rows_max" -> evA.map(_.numInputRows.toDouble).maxOption.getOrElse(0.0),
          "ingest.generator_lag_ms" -> lags.max,
          "ingest.batches" -> evs.size.toDouble
        ) ++ ctx.sparkPerOp(sparkBefore, evs.size) ++ sourcesLayer
      }
    Outcome(
      latenciesMs = lat,
      throughputPerS = rowsPerS,
      attempted = lat.size + batchS.size,
      failed = unserved,
      checks = Seq(
        "ingest frames decode" -> decodes,
        "ingest frames byte-equal to the batch hot-path chain on the consumed prefix" -> byteEqual,
        "ingest frames cover the twin's frames up to the last emitted pixel" -> prefix,
        "ingest every frame enabled in phase A served, never before its last row was due" ->
          (unserved == 0 && lat.nonEmpty && lat.forall(_ > 0))
      ),
      record = Map(
        "rate_rows_per_s" -> RateHz,
        "phase_a_rows" -> nA,
        "phase_a_s" -> (aEnd - t0) / 1e9,
        "generator_lag_ms" -> Map("p50" -> Stats.median(lags.toSeq), "max" -> lags.max),
        "phase_b_batch_rows" -> BatchRows,
        "phase_b_batch_ms" -> batchS.map(_ * 1000.0),
        "rows_per_s" -> rowsPerS,
        "frames" -> got.size,
        "consumed_rows" -> sent,
        "window_start_us" -> windowStartUs,
        "window_rows" -> window.length,
        "latency_ms_by_decile" -> (0 to 10).map(i => Stats.pct(lat, i / 10.0)),
        "batches" -> progress.map(_.events.asScala.toSeq.drop(progressBefore).map(e =>
          Map("rows" -> e.numInputRows, "trigger_ms" -> e.durationMs.getOrDefault("triggerExecution", 0L),
            "ts" -> e.timestamp))).getOrElse(Nil)
      ),
      layers = layers
    )
  }
}
