package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The engine's sf0.1 tables, committed under [[Dir]]: `events` and
  * `embeddings` byte for byte, `documents` as the fixed sample
  * `perfbench/make_corpus.py` writes. Their content is fixed, so
  * the committed curation digests hold for every run; the run's
  * `--seed` permutes the documents' row order and drives the replay
  * window and the viewer's requests.
  */
object Data {
  val Dir = "perfbench/data"
  // facts of the committed `events` table, checked by checkEvents
  val Channels: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val StartUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val DayUs = 86400000000L
  val Days = 30
  val SpanUs: Long = Days * DayUs
  val NEvents = 100000

  private def copy(name: String, dir: String): Unit = {
    val to = Paths.get(dir, s"$name.parquet")
    Files.createDirectories(to.getParent)
    Files.copy(Paths.get(Dir, s"$name.parquet"), to)
  }

  def writeEvents(dir: String): Unit = copy("events", dir)
  def writeEmbeddings(dir: String): Unit = copy("embeddings", dir)

  /** Documents in a `permSeed`-permuted row order (content unchanged). */
  def writeDocuments(spark: SparkSession, dir: String, permSeed: Long): Long = {
    val src = spark.read.parquet(s"$Dir/documents.parquet")
    val rows = new SplitMix(permSeed).shuffle(src.collect().toIndexedSeq)
    spark
      .createDataFrame(java.util.Arrays.asList(rows: _*), src.schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    rows.size.toLong
  }

  /** Fail loudly if the committed `events` no longer match the constants
    * the request and replay generators are built from.
    */
  def checkEvents(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val r = graft.Tables.ts(spark, Dir)
      .agg(count(lit(1)), min(col("t")), max(col("t")), sort_array(collect_set(col("channel"))))
      .head()
    require(r.getLong(0) == NEvents && r.getLong(1) >= StartUs && r.getLong(2) < StartUs + SpanUs &&
      r.getSeq[String](3) == Channels, s"$Dir/events.parquet does not match graftbench.Data: $r")
  }
}
