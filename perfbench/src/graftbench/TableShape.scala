package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.spark.EncodeJob

/** What an encoded table looks like on disk, read from outside: file
  * sizes from the filesystem, per-column bytes and codecs from the chunk
  * metadata columns (nested-column pruning leaves the payloads unread).
  */
object TableShape {
  val Columns = Seq("url", "warc_ts", "html", "text", "lang")

  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** (bytes, data files) per partition directory of the chunks table. */
  def partitions(spark: SparkSession, dir: String): Seq[(Long, Int)] = {
    val root = new Path(EncodeJob.chunksPath(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.filter(s => s.isDirectory && s.getPath.getName.startsWith("part_id=")).map { d =>
      val files = fs.listStatus(d.getPath).filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      (files.map(_.getLen).sum, files.length)
    }
  }

  /** Σ bytes_out ÷ Σ bytes_in over the `_lineage` table. */
  def lineageRatio(spark: SparkSession, dir: String): Double = {
    val r = spark.read.parquet(EncodeJob.lineagePath(dir)).agg(sum("bytes_out"), sum("bytes_in")).head()
    r.getLong(0).toDouble / r.getLong(1)
  }

  /** Table rows per the `_lineage` table. */
  def lineageRows(spark: SparkSession, dir: String): Long =
    spark.read.parquet(EncodeJob.lineagePath(dir)).agg(sum("n_rows")).head().getLong(0)

  /** Per-column ratio, share of bytes_out and codec mix, plus partition skew
    * and files per partition: the storage layer's per-layer metrics. The
    * codec mix is reported as the number of distinct codecs (a metric) and
    * as `codec:chunks` text (the report).
    */
  def report(spark: SparkSession, dir: String): (Map[String, Metric], Map[String, String]) = {
    val chunks = spark.read.parquet(EncodeJob.chunksPath(dir))
    val perCol = Columns.map { c =>
      val rows = chunks.groupBy(col(s"$c.codec").as("codec"))
        .agg(count(lit(1)), sum(s"$c.bytes_in"), sum(s"$c.bytes_out"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      c -> rows
    }.toMap
    val totalOut = perCol.values.flatten.map(_._4).sum.toDouble
    val metrics = perCol.toSeq.flatMap { case (c, rows) =>
      val in = rows.map(_._3).sum.toDouble
      val out = rows.map(_._4).sum.toDouble
      Seq(
        s"storage.col.$c.ratio" -> Metric(out / in, "ratio"),
        s"storage.col.$c.share" -> Metric(out / totalOut, "ratio"),
        s"storage.col.$c.codec_mix" -> Metric(rows.length.toDouble, "count"))
    }.toMap
    val parts = partitions(spark, dir)
    val bytes = parts.map(_._1.toDouble)
    val shape = Map(
      "storage.partition_skew" -> Metric(bytes.max / Stats.median(bytes), "ratio"),
      "storage.files_per_partition" -> Metric(parts.map(_._2).sum.toDouble / parts.size, "count"))
    val mix = perCol.map { case (c, rows) =>
      c -> rows.sortBy(-_._2).map { case (codec, n, _, _) => s"$codec:$n" }.mkString(",")
    }
    (metrics ++ shape, mix)
  }
}
