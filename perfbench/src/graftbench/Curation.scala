package graftbench

import java.math.{MathContext, RoundingMode}

import graft.SparkEntry
import graft.operators.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** The order-insensitive table digest of `tools/compare.py`: rows
  * rendered with columns in name order, values canonicalized the way
  * Python renders DuckDB's results, lines sorted, SHA-256 over
  * `line + "\n"`.
  */
object Canon {
  /** Python's `repr(float)`: shortest round-trip digits, exponent form
    * when the decimal point falls outside (-4, 16].
    */
  def pyRepr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0.0" else "0.0")
    else {
      val exact = new java.math.BigDecimal(d)
      var p = 1
      var r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
      while (r.doubleValue != d) { p += 1; r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN)) }
      val s = r.stripTrailingZeros
      val digits = s.unscaledValue.abs.toString
      val decpt = digits.length - s.scale
      val sign = if (d < 0) "-" else ""
      if (decpt > -4 && decpt <= 16) {
        val body =
          if (decpt <= 0) "0." + "0" * -decpt + digits
          else if (decpt >= digits.length) digits + "0" * (decpt - digits.length) + ".0"
          else digits.take(decpt) + "." + digits.drop(decpt)
        sign + body
      } else {
        val mant = if (digits.length == 1) digits else digits.head.toString + "." + digits.tail
        val e = decpt - 1
        sign + mant + "e" + (if (e < 0) "-" else "+") + f"${math.abs(e)}%02d"
      }
    }

  def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else pyRepr(d)
    case f: Float => if (f.isNaN) "NaN" else pyRepr(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.toString
    case bd: scala.math.BigDecimal => bd.bigDecimal.toString
    case other => other.toString
  }

  def line(r: Row, order: Array[Int]): String = order.map(i => value(r.get(i))).mkString("|")

  def digest(lines: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { ln => md.update(ln.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** `curation`: repeated cold passes of a fixed 10-stage training-data
  * pipeline over a seeded row permutation of a fixed corpus. Each pass
  * runs in a fresh `spark.newSession()`, so `(SparkSession, dir)` memos
  * cannot hand later passes free work.
  */
object CurationPasses extends Workload {
  import Calls._

  val Stages: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash", "dedup_clusters", "dedup_containment", "dedup_semantic",
    "quality_gopher", "text_decontam", "tokenize_bpe", "pack_sequences", "train_mix"
  )
  val DigestFile = "perfbench/expected/curation_digests.json"

  @volatile private var dataDir: String = _
  @volatile private var nDocs = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    val dir = ctx.dataDir(rep)
    nDocs = Data.writeDocuments(ctx.spark, dir, ctx.seed)
    Data.writeEmbeddings(dir)
    dataDir = dir
  }

  /** Run one stage. The clock covers building the DataFrame and running
    * its plan to rows on the driver; rendering and digesting the rows
    * for the check come after it. Returns (seconds, digest, rows).
    */
  private def stage(ctx: Ctx, s: SparkSession, name: String, req: Long): (Double, String, Long) = {
    val t0 = System.nanoTime()
    val df = call(ctx, s"SparkEntry.queries($name)", req)(SparkEntry.queries(name)(s, dataDir))
    val rows = exec(ctx, df, req)(_.queryExecution.toRdd.map(_.copy()).collect())
    val secs = (System.nanoTime() - t0) / 1e9
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
    val lines = rows.map(r => Canon.line(conv(r).asInstanceOf[Row], order))
    (secs, Canon.digest(lines), lines.length.toLong)
  }

  final case class Pass(stageS: Seq[Double], digests: Seq[String], rows: Seq[Long], storageBytes: Long) {
    def totalS: Double = stageS.sum
  }

  private def pass(ctx: Ctx, k: Int): Pass = ctx.tracer.span("pass", k.toLong) {
    val s = ctx.spark.newSession()
    val res = Stages.map(n => ctx.tracer.span(s"stage.$n", k.toLong)(stage(ctx, s, n, k.toLong)))
    val storage = ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    Pass(res.map(_._1), res.map(_._2), res.map(_._3), storage)
  }

  @volatile private var warm: Pass = _

  def warmup(ctx: Ctx): Unit = warm = pass(ctx, 0)

  def expected(): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(DigestFile)), "UTF-8")
    "\"([a-z_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  def measure(ctx: Ctx, seconds: Double): Outcome = {
    val sparkBefore = ctx.sparkNow
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    var failed = 0L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      try passes += pass(ctx, passes.size + 1)
      catch {
        case t: Throwable =>
          System.err.println(s"[curation] pass ${passes.size + 1} failed: $t")
          failed += 1
          if (failed > 2) throw t
      }
    }
    val want = expected()
    val first = passes.head
    val checks =
      Stages.indices.map { i =>
        s"curation.${Stages(i)} digest equals the oracle's" ->
          want.get(Stages(i)).contains(first.digests(i))
      } ++ Seq(
        s"curation every pass's digests, the warm-up's included, equal pass 1's (${passes.size + 1} passes)" ->
          (warm +: passes.toSeq).forall(_.digests == first.digests)
      )
    val stageMedians = Stages.indices.map(i => Stages(i) -> Stats.median(passes.toSeq.map(_.stageS(i)))).toMap
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else
        layersFromSpans(ctx, passes.size, sparkBefore, t0) ++
          stageMedians.map { case (n, s) => s"curation.${n}_s" -> s } ++
          minhashYield(ctx) ++
          Map("curation.storage_retained_bytes" -> passes.last.storageBytes.toDouble)
    Outcome(
      // one sample per stage, its median over the run's passes: a run
      // fits one or two passes, and the percentiles must not depend on which
      latenciesMs = Stages.map(stageMedians).map(_ * 1000.0) ++
        Seq.fill(failed.toInt * Stages.size)(Double.PositiveInfinity),
      throughputPerS = nDocs / Stats.median(passes.toSeq.map(_.totalS)),
      attempted = (passes.size + failed) * Stages.size,
      failed = failed * Stages.size,
      checks = checks,
      record = Map(
        "documents" -> nDocs,
        "passes" -> passes.size,
        "pipeline_s" -> Stats.median(passes.map(_.totalS).toSeq),
        "stage_median_s" -> stageMedians,
        "stage_rows" -> Stages.zip(first.rows).toMap,
        "warmup_pass_s" -> warm.totalS,
        "storage_retained_bytes_after_pass" -> (warm +: passes.toSeq).map(_.storageBytes)
      ),
      layers = layers
    )
  }

  /** LSH candidate pairs vs pairs verified at the stage's tau of 0.5,
    * from `Dedup.lshCandidates` and `Dedup.minhashJaccard` called
    * separately on the corpus (without the stage's planted near-dups).
    */
  private def minhashYield(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark.newSession()
    val docs = graft.Tables.documents(s, dataDir)
    val sigs = call(ctx, "Dedup.minhashSignatures", -2)(Dedup.minhashSignatures(docs.select("doc_id", "text"), 3))
    val cand = call(ctx, "Dedup.lshCandidates", -2)(Dedup.lshCandidates(sigs, 16, 64)).count()
    val verified = call(ctx, "Dedup.minhashJaccard", -2)(Dedup.minhashJaccard(docs))
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5).count()
    Map(
      "curation.minhash_candidates" -> cand.toDouble,
      "curation.minhash_verified" -> verified.toDouble,
      "curation.minhash_yield" -> (if (cand > 0) verified.toDouble / cand else 0.0)
    )
  }
}

/** `EmitOracleSql <file>`: writes the curation stages' oracle SQL
  * (`SparkEntry.oracleSql`) as JSON, for `perfbench/make_digests.py`.
  */
object EmitOracleSql {
  def main(args: Array[String]): Unit = {
    val sql = CurationPasses.Stages.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), Json.render(sql))
  }
}
