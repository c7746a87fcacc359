package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.operators.{Filtering, Timeseries, UnitHotpath}
import graft.sources.{BinarySegments, BlobStore, SegmentProto, TsLayout}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `viewer`: a closed loop of 2 clients sending seeded page requests
  * against the partitioned `events` layout and the blob store.
  */
object Viewer extends Workload {
  import Calls._

  val Clients = 2
  /** Fixed request mix, cycled in order: the mix never depends on the seed. */
  val Mix: Vector[String] = Vector("raw", "hot", "raw", "unit", "raw", "blob")
  /** Nominal per-channel event rate (Hz), for the raw branch's shouldResample. */
  val ChannelRateHz: Double = Data.NEvents.toDouble / Data.Channels.size / (Data.SpanUs / 1e6)
  private val HotPixels = Seq(1L, 2L, 3L, 4L, 6L, 8L).map(_ * Timeseries.BucketUs)
  private val RawPixels = Seq(60L, 300L, 900L, 3600L, 14400L).map(_ * 1000000L)
  private val UnitPixels = Seq(1L, 2L).map(_ * Timeseries.BucketUs)

  final case class Req(id: Long, kind: String, startUs: Long, endUs: Long, pixelUs: Long, channels: Seq[String])

  /** Request `i` of the stream for `seed`: windows of 1-29 days. */
  def request(seed: Long, i: Long): Req = {
    val r = new SplitMix(seed * 1000003L + i)
    val kind = Mix((i % Mix.size).toInt)
    val days = 1 + r.nextInt(29)
    val hours = (Data.Days - days) * 24
    val start = Data.StartUs + r.nextInt(hours + 1).toLong * 3600000000L
    val end = start + days * Data.DayUs
    def chans(max: Int) = r.shuffle(Data.Channels.toIndexedSeq).take(1 + r.nextInt(max)).sorted
    kind match {
      case "hot" => Req(i, kind, start, end, HotPixels(r.nextInt(HotPixels.size)), Data.Channels)
      case "raw" => Req(i, kind, start, end, RawPixels(r.nextInt(RawPixels.size)), chans(3))
      case "unit" => Req(i, kind, start, end, UnitPixels(r.nextInt(UnitPixels.size)), chans(2))
      case _ => Req(i, kind, start, end, 0L, chans(3))
    }
  }

  @volatile private var dataDir: String = _
  @volatile private var layout: String = _
  @volatile private var blobRoot: String = _
  @volatile private var blobIndex: Seq[(String, Long, Long, Long, Double)] = Nil

  def setup(ctx: Ctx, rep: Int): Unit = {
    val dir = ctx.dataDir(rep)
    if (rep == 0) Data.checkEvents(ctx.spark)
    Data.writeEvents(dir)
    layout = call(ctx, "TsLayout.layoutFor", -1)(TsLayout.layoutFor(ctx.spark, dir))
    val (root, index) = call(ctx, "BlobStore.storeFor", -1)(BlobStore.storeFor(ctx.spark, dir))
    blobRoot = root
    blobIndex = index
    dataDir = dir
  }

  /** The response in a comparable form: sorted rows rendered as text. */
  private def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  private def rawOrDown(ts: DataFrame, q: Req): DataFrame =
    if (Timeseries.shouldResample(ChannelRateHz, q.pixelUs)) Timeseries.downsample(ts, q.pixelUs)
    else ts

  /** Build the request's DataFrame through the layout / blob route. */
  private def build(ctx: Ctx, q: Req): DataFrame = {
    val spark = ctx.spark
    lazy val range = call(ctx, "TsLayout.rangeQuery", q.id)(
      TsLayout.rangeQuery(TsLayout.read(spark, layout), q.channels, q.startUs, q.endUs))
    q.kind match {
      case "hot" =>
        call(ctx, "Filtering.hotPathWire", q.id)(
          Filtering.hotPathWire(spark, range, Timeseries.MontagePairs, Timeseries.BucketUs, q.pixelUs))
      case "raw" => call(ctx, "Timeseries.downsample", q.id)(rawOrDown(range, q))
      case "unit" =>
        val full = call(ctx, "TsLayout.read", q.id)(
          TsLayout.read(spark, layout).filter(col("p_channel").isin(q.channels: _*))
            .select(col("channel"), col("t"), col("v")))
        call(ctx, "UnitHotpath.unitHotPathWire", q.id)(
          UnitHotpath.unitHotPathWire(spark, full, q.startUs, q.endUs, q.pixelUs,
            UnitHotpath.UnitSpikeDataPointCount, UnitHotpath.UnitSpikeDurationUs))
      case "blob" =>
        import spark.implicits._
        val idx = blobIndex.filter(x => q.channels.contains(x._1))
          .toDF("channel", "bucket", "start_us", "end_us", "rate")
        call(ctx, "BinarySegments.readRangePartitioned", q.id)(
          BinarySegments.readRangePartitioned(spark, blobRoot, idx, q.startUs, q.endUs, BlobStore.DayUs))
    }
  }

  /** The same request through the flat `events` table and the flat
    * blob index: the independent route every sampled response must equal.
    */
  private def buildFlat(ctx: Ctx, q: Req): DataFrame = {
    val spark = ctx.spark
    val flat = Tables.ts(spark, dataDir).select(col("channel"), col("t"), col("v"))
    def range = flat.filter(col("channel").isin(q.channels: _*) && col("t") >= q.startUs && col("t") < q.endUs)
    q.kind match {
      case "hot" => Filtering.hotPathWire(spark, range, Timeseries.MontagePairs, Timeseries.BucketUs, q.pixelUs)
      case "raw" => rawOrDown(range, q)
      case "unit" =>
        UnitHotpath.unitHotPathWire(spark, flat.filter(col("channel").isin(q.channels: _*)), q.startUs,
          q.endUs, q.pixelUs, UnitHotpath.UnitSpikeDataPointCount, UnitHotpath.UnitSpikeDurationUs)
      case "blob" =>
        import spark.implicits._
        val idx = blobIndex.filter(x => q.channels.contains(x._1))
          .map { case (ch, b, s, e, rate) => (ch, s"channel=$ch/bucket=$b/data.bin", s, e, rate) }
          .toDF("channel", "file", "start_us", "end_us", "rate")
        BinarySegments.readRange(spark, blobRoot, idx, q.startUs, q.endUs)
    }
  }

  /** Frames every wire-producing request returns must decode. */
  private def framesDecode(q: Req, rows: Array[Row]): Boolean = q.kind match {
    case "hot" | "unit" =>
      rows.forall { r =>
        val w = r.getAs[Array[Byte]]("wire")
        try { SegmentProto.decodeTimeSeriesMessage(w); true }
        catch { case _: Throwable => false }
      }
    case _ => true
  }

  def warmup(ctx: Ctx): Unit =
    (0L until 2L * Mix.size).foreach(i => build(ctx, request(ctx.seed ^ 0x5eedL, i)).collect(): Unit)

  final case class Done(q: Req, ms: Double, ok: Boolean, rows: Array[Row], endNs: Long)

  def measure(ctx: Ctx, seconds: Double): Outcome = {
    val next = new AtomicLong(0L)
    val done = new ConcurrentLinkedQueue[Done]()
    val extras = new ConcurrentLinkedQueue[(String, Double)]()
    val sparkBefore = ctx.sparkNow
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // responses of the first two mix cycles are kept for the route check
    val keep = Mix.indices.map(_.toLong).toSet ++ Mix.indices.map(_.toLong + Mix.size)
    val clients = (0 until Clients).map { c =>
      val th = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = request(ctx.seed, next.getAndIncrement())
          val s = System.nanoTime()
          val res =
            try {
              ctx.tracer.span(s"request.${q.kind}", q.id) {
                val df = build(ctx, q)
                val rows = exec(ctx, df, q.id)(_.collect())
                if (ctx.traced) recordSources(ctx, q, df, rows, extras)
                Some(rows)
              }
            } catch {
              case t: Throwable =>
                System.err.println(s"[viewer] request ${q.id} (${q.kind}) failed: $t")
                None
            }
          val e = System.nanoTime()
          val ok = res.exists(rows => framesDecode(q, rows))
          done.add(Done(q, (e - s) / 1e6, ok, if (keep(q.id)) res.orNull else null, e))
        }
      }, s"viewer-client-$c")
      th.start()
      th
    }
    clients.foreach(_.join())
    val ds = done.asScala.toSeq.sortBy(_.q.id)
    val lastEnd = ds.map(_.endNs).max
    val lat = ds.map(d => if (d.ok) d.ms else Double.PositiveInfinity)

    // route check: the kept responses against the flat route
    val routeChecks = ds.filter(d => d.rows != null && d.ok).groupBy(_.q.kind).toSeq.sortBy(_._1).map {
      case (kind, xs) =>
        val same = xs.forall(d => canon(d.rows) == canon(buildFlat(ctx, d.q).collect()))
        s"viewer.$kind layout route equals flat route (${xs.size} sampled)" -> same
    }
    val decodeOk = ds.forall(d => d.ok || d.rows == null)
    val kinds = Mix.distinct
    val perKind = kinds.map { k =>
      val ms = ds.filter(d => d.q.kind == k && d.ok).map(_.ms)
      k -> Map("count" -> ms.size, "p50_ms" -> (if (ms.isEmpty) Double.NaN else Stats.median(ms)))
    }.toMap
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val ex = extras.asScala.toSeq.groupBy(_._1).view.mapValues(v => Stats.mean(v.map(_._2))).toMap
        layersFromSpans(ctx, ds.size, sparkBefore, t0) ++ ex ++
          perKind.map { case (k, m) => s"viewer.${k}_p50_ms" -> m("p50_ms").asInstanceOf[Double] }
      }
    Outcome(
      latenciesMs = lat,
      throughputPerS = ds.size / ((lastEnd - t0) / 1e9),
      attempted = ds.size,
      failed = ds.count(!_.ok),
      checks = routeChecks ++ Seq(
        "viewer every request served and every frame decodes" -> decodeOk,
        "viewer all four request kinds sampled" -> (routeChecks.size == kinds.size)
      ),
      record = Map("clients" -> Clients, "mix" -> Mix, "per_kind" -> perKind, "requests_per_s" -> ds.size / ((lastEnd - t0) / 1e9)),
      layers = layers
    )
  }

  /** Traced runs only: the `sources` layer of one request. */
  private def recordSources(ctx: Ctx, q: Req, df: DataFrame, rows: Array[Row],
    out: ConcurrentLinkedQueue[(String, Double)]): Unit = {
    val (files, parts) = scanCounts(df)
    out.add("sources.files_read" -> files.toDouble)
    out.add("sources.partitions_read" -> parts.toDouble)
    if (q.kind == "hot" || q.kind == "raw") {
      // partitions that hold requested rows: every (channel, day) the window touches
      val days = (q.endUs - 1) / Data.DayUs - q.startUs / Data.DayUs + 1
      if (parts > 0) out.add("sources.prune_yield" -> q.channels.size * days / parts.toDouble)
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.range_read", q.id) {
        TsLayout.rangeQuery(TsLayout.read(ctx.spark, layout), q.channels, q.startUs, q.endUs)
          .queryExecution.toRdd.count(): Unit
      }
      out.add("sources.read_ms" -> (System.nanoTime() - t0) / 1e6)
    }
    if (q.kind == "hot" || q.kind == "unit")
      out.add("sources.wire_bytes" -> rows.map(_.getAs[Array[Byte]]("wire").length.toLong).sum.toDouble)
  }
}
