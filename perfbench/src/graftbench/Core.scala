package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/** splitmix64: the benchmark's only source of randomness. Every input a
  * run generates derives from one of these, seeded from `--seed`; the
  * tables themselves are committed and fixed.
  */
final class SplitMix(seed: Long) {
  private var x = seed
  def nextLong(): Long = {
    x += 0x9e3779b97f4a7c15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for the records this benchmark writes. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d).replace("E", "e")
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** In-memory spans around every call the benchmark makes into an
  * engine module, plus the Spark and streaming counters taken at the
  * same boundaries. Disabled (a plain call-through) unless the run is
  * traced.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, req: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class Value(name: String, req: Long, atNs: Long, v: Double)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val values = new ConcurrentLinkedQueue[Value]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val origin: Long = System.nanoTime()

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** A figure taken at a boundary rather than timed by a span. */
  def value(name: String, req: Long, v: Double): Unit =
    if (enabled) values.add(Value(name, req, System.nanoTime(), v))
  def allValues: Seq[Value] = values.asScala.toSeq.sortBy(_.atNs)

  /** Per span name: count, total ms and self ms (duration minus the
    * time its child spans cover; children run on the parent's thread,
    * so they never overlap one another).
    */
  def selfTimes: Map[String, Map[String, Any]] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    ss.groupBy(_.name).map { case (name, xs) =>
      val total = xs.map(_.ms).sum
      val self = xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      name -> Map("count" -> xs.size, "total_ms" -> total, "self_ms" -> self, "self_ms_per_call" -> self / xs.size)
    }
  }

  def spansJson: Seq[Map[String, Any]] = all.map { s =>
    Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6
    )
  }
}

/** SparkListener roll-up: jobs, stages, tasks, task time, scheduler
  * delay, shuffle bytes, spill and executor GC — the execution layer
  * beneath every span.
  */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, busyMs, schedMs, shuffleWrite, shuffleRead, spill, gcMs = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      // the UI's scheduler delay: wall time not spent deserializing,
      // running, serializing or fetching the result
      val info = e.taskInfo
      val other = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
        info.gettingResultTime
      schedMs.add(math.max(0L, info.duration - other))
    }
  }
  def snapshot: Map[String, Long] = Map(
    "spark.jobs" -> jobs.sum, "spark.stages" -> stages.sum, "spark.tasks" -> tasks.sum,
    "spark.task_busy_ms" -> busyMs.sum, "spark.sched_wait_ms" -> schedMs.sum,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum, "spark.shuffle_read_bytes" -> shuffleRead.sum,
    "spark.spill_bytes" -> spill.sum, "spark.gc_ms" -> gcMs.sum
  )
}

/** StreamingQueryListener keeping every progress event. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Calls into engine modules, each wrapped in a span when traced. */
object Calls extends AdaptiveSparkPlanHelper {
  def call[T](ctx: Ctx, name: String, req: Long)(body: => T): T = ctx.tracer.span(s"call $name", req)(body)

  /** Force analysis, the optimizer and physical planning in turn
    * (traced runs only, on the same QueryExecution the action then
    * uses), then run the action. Building the DataFrame inside [[call]]
    * already analyzed it, and that call may also have run Spark jobs of
    * its own; so analysis time is read from the plan's
    * QueryPlanningTracker, not from the call's span.
    */
  def exec[T](ctx: Ctx, df: DataFrame, req: Long)(action: DataFrame => T): T = {
    if (ctx.traced) {
      val qe = df.queryExecution
      qe.analyzed
      ctx.tracer.value("plan.analysis_ms", req,
        qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      ctx.tracer.span("plan.optimize", req)(qe.optimizedPlan)
      ctx.tracer.span("plan.physical", req)(qe.executedPlan)
    }
    ctx.tracer.span("exec", req)(action(df))
  }

  /** (files read, partitions read) over every file scan of an executed plan. */
  def scanCounts(ds: Dataset[_]): (Long, Long) = {
    val scans = collect(ds.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numPartitions")).sum)
  }

  /** Generic per-layer figures from the spans and values of the timed
    * phase (those starting at or after `sinceNs`), per operation.
    * `build_df_ms` is the time spent in the module calls that build an
    * operation's DataFrame: analysis, plus any Spark jobs they run eagerly.
    */
  def layersFromSpans(ctx: Ctx, ops: Long, sparkBefore: Map[String, Long], sinceNs: Long): Map[String, Double] = {
    val ss = ctx.tracer.all.filter(_.startNs >= sinceNs)
    def per(p: String => Boolean) = ss.filter(s => p(s.name)).map(_.ms).sum / math.max(ops, 1L)
    val analysis = ctx.tracer.allValues.filter(v => v.atNs >= sinceNs && v.name == "plan.analysis_ms")
    Map(
      "build_df_ms" -> per(_.startsWith("call ")),
      "plan.analysis_ms" -> analysis.map(_.v).sum / math.max(ops, 1L),
      "plan.optimize_ms" -> per(_ == "plan.optimize"),
      "plan.physical_ms" -> per(_ == "plan.physical"),
      "exec_ms" -> per(_ == "exec")
    ) ++ ctx.sparkPerOp(sparkBefore, ops)
  }
}
