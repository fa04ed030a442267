package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.spark.{DecodeJob, EncodeConfig, EncodeJob, Page}

/** The point-read calls, forced the way a user consumes them, and the
  * DecodeJob read-path per-layer metrics.
  */
object Reads {
  def lookup(spark: SparkSession, dir: String, url: String): Array[Page] =
    DecodeJob.lookupUrls(spark, dir, Seq(url)).collect()

  def prefix(spark: SparkSession, dir: String, host: String): Array[Page] =
    DecodeJob.decodeUrlPrefix(spark, dir, host).collect()

  def projected(spark: SparkSession, dir: String): Array[(String, Long, String)] =
    DecodeJob.decodeProjected(spark, dir, Seq("lang", "warc_ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))

  /** Lookup, prefix and projected-scan metrics of the traced window. Rows
    * read per hit: the rows of every chunk a hit decodes (its home
    * partition's chunks whose url range covers the url, from chunk
    * metadata) ÷ rows returned.
    */
  def layers(ctx: Ctx, t: TraceData, dir: String, urls: Seq[(String, Int)]): Map[String, Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def inputBytes(name: String) = med(t.named(name).map(t.tasksOf(_).map(_.inputBytes).sum.toDouble))
    val lookups = t.named("DecodeJob.lookup")
    val meta = EncodeJob.readMeta(spark, dir).get
    val cfg = EncodeConfig(numPartitions = meta.numPartitions, saltFactor = meta.saltFactor)
    val chunks = spark.read.parquet(EncodeJob.chunksPath(dir)).select("part_id", "url_min", "url_max", "n_rows")
    val hits = urls.filter(_._2 > 0)
    val read = hits.map(_._1).toDF("url").withColumn("home", EncodeJob.partIdCol(cfg))
      .join(chunks, col("home") === col("part_id") && col("url_min") <= col("url") && col("url_max") >= col("url"))
      .agg(sum("n_rows")).head()
    val rowsRead = if (read.isNullAt(0)) 0L else read.getLong(0)
    val base = Map(
      "DecodeJob.lookup.head_ms" -> Metric(med(lookups.map(t.headMs)), "ms"),
      "DecodeJob.lookup.jobs" -> Metric(med(lookups.map(t.jobsOf(_).size.toDouble)), "count"),
      "DecodeJob.lookup.driver_gap_ms" -> Metric(med(lookups.map(t.driverGapMs)), "ms"),
      "DecodeJob.lookup.input_bytes" -> Metric(inputBytes("DecodeJob.lookup"), "bytes"),
      "DecodeJob.lookup.rows_read_per_hit" -> Metric(rowsRead.toDouble / math.max(1, hits.map(_._2).sum), "ratio"))
    val prefixes = t.named("DecodeJob.prefix")
    if (prefixes.isEmpty) base
    else base ++ Map(
      "DecodeJob.prefix.input_bytes" -> Metric(inputBytes("DecodeJob.prefix"), "bytes"),
      "DecodeJob.prefix.tasks" -> Metric(med(prefixes.map(t.tasksOf(_).size.toDouble)), "count"),
      "DecodeJob.projected.input_bytes" -> Metric(inputBytes("DecodeJob.projected"), "bytes"))
  }
}
