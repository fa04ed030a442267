package graftbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.spark.{DecodeJob, EncodeJob, Page}

/** The bulk-load ops: each round encodes the seeded PagesGen table with
  * `EncodeJob.run` into a fresh table, decodes all of it with
  * `DecodeJob.run` (its digest must equal the input's), then serves point
  * reads from that table: single-url `lookupUrls` (about 10 % for absent
  * urls), one host-prefix `decodeUrlPrefix` of a host outside the hot 5 %
  * and one `decodeProjected(lang, warc_ts)` scan, each compared byte for
  * byte with the generator. `skew` puts 80 % of the pages on 5 % of hosts.
  */
final class BulkLoad(nPages: Int, skew: Boolean) extends Part {
  private val LookupsPerRep = 3
  private var pages: Dataset[Page] = _
  private var rawBytes = 0L
  private var inputDigest: Checks.Digest = _
  private var byUrl: Map[String, Page] = Map.empty
  private var byHost: Map[String, Map[String, Page]] = Map.empty
  private var lastDir: Option[String] = None
  private var lastDecoded: Dataset[Page] = _
  private var lastHit: (Page, Array[Page]) = _
  private val lookupUrls = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
  private var rng: Rng = _
  private var expectedScan: Map[String, (Long, String)] = Map.empty
  private var ratio = 0.0
  private var enc, dec, lookups, prefixes, scans: Samples = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    pages = Pages.generate(spark, ctx.seed, nPages, skew).persist(StorageLevel.MEMORY_ONLY)
    rawBytes = pages.agg(sum(octet_length(col("url")) + octet_length(col("html")) +
      octet_length(col("text")) + octet_length(col("lang")) + 8)).head().getLong(0)
    inputDigest = Checks.digest(pages.toDF())
    val all = (0L until nPages).map(Pages.page(ctx.seed, _, skew))
    byUrl = all.map(p => p.url -> p).toMap
    byHost = all.groupBy(p => Pages.hostPrefixOf(p.url)).map { case (h, ps) => h -> ps.map(p => p.url -> p).toMap }
    expectedScan = byUrl.map { case (u, p) => u -> (p.warc_ts.getTime * 1000L, p.lang) }
    rng = new Rng(ctx.seed ^ 0x100C0L)
  }

  def begin(ctx: Ctx): Unit = {
    enc = new Samples; dec = new Samples; lookups = new Samples; prefixes = new Samples; scans = new Samples
    lookupUrls.clear()
  }

  def rep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    lastDir.foreach(ctx.delete)
    val dir = ctx.freshDir("bulk")
    lastDir = Some(dir)
    ctx.op("EncodeJob.run", "EncodeJob", enc)(EncodeJob.run(spark, pages, dir)) { _ =>
      ratio = TableShape.lineageRatio(spark, dir)
      TableShape.lineageRows(spark, dir) == nPages
    }
    // the digest both forces the full decode and is its check
    ctx.op("DecodeJob.run", "DecodeJob", dec)(Checks.digest(DecodeJob.run(spark, dir).toDF())) { got =>
      lastDecoded = DecodeJob.run(spark, dir)
      got == inputDigest
    }
    (0 until LookupsPerRep).foreach { _ =>
      val present = rng.nextInt(10) != 0
      val url = Pages.page(ctx.seed, rng.nextInt(nPages).toLong + (if (present) 0 else nPages), skew).url
      ctx.op("DecodeJob.lookup", "DecodeJob", lookups)(Reads.lookup(spark, dir, url)) { got =>
        lookupUrls += ((url, got.length))
        if (present) lastHit = (byUrl(url), got)
        Checks.lookupOk(byUrl.get(url), got)
      }
    }
    val host = Pages.hostPrefix(Pages.HotHosts + rng.nextInt(Pages.NumHosts - Pages.HotHosts))
    ctx.op("DecodeJob.prefix", "DecodeJob", prefixes)(Reads.prefix(spark, dir, host))(
      Checks.prefixOk(byHost.getOrElse(host, Map.empty), _))
    ctx.op("DecodeJob.projected", "DecodeJob", scans)(Reads.projected(spark, dir))(
      Checks.projectedOk(expectedScan, _))
  }

  def metrics: Map[String, Metric] = {
    val mb = rawBytes / 1e6
    Map(
      "encode_mb_per_s" -> Metric(mb / (enc.p50 / 1000), "MB/s"),
      "decode_mb_per_s" -> Metric(mb / (dec.p50 / 1000), "MB/s"),
      "bytes_ratio" -> Metric(ratio, "ratio"),
      "lookup_p50_ms" -> Metric(lookups.p50, "ms"),
      "range_p50_ms" -> Metric(prefixes.p50, "ms"),
      "projected_scan_ms" -> Metric(scans.p50, "ms"))
  }

  def opSpans: Map[String, Seq[String]] = Map(
    "encode_mb_per_s" -> Seq("EncodeJob.run"), "decode_mb_per_s" -> Seq("DecodeJob.run"),
    "lookup_p50_ms" -> Seq("DecodeJob.lookup"), "range_p50_ms" -> Seq("DecodeJob.prefix"),
    "projected_scan_ms" -> Seq("DecodeJob.projected"))

  def layers(ctx: Ctx, t: TraceData): Map[String, Metric] = {
    val spark = ctx.spark
    val dir = lastDir.get
    val encodes = t.named("EncodeJob.run")
    val decodes = t.named("DecodeJob.run")
    def med(xs: Seq[Double]) = Stats.median(xs)
    def stageTaskMs(st: StageRec) = t.tasksOfStage(st).map(_.durationMs).sum
    // the encode's map stage: the shuffle-writing stage with the most task time
    val mapStages = encodes.map { s =>
      t.stagesOf(s).filter(st => t.tasksOfStage(st).exists(_.shuffleWriteBytes > 0)).maxBy(stageTaskMs)
    }
    val decodeStages = decodes.map(s => t.stagesOf(s).maxBy(stageTaskMs))
    val (shape, mix) = TableShape.report(spark, dir)
    codecMix = mix
    val sample = (0 until 1024).map(i => Pages.page(ctx.seed, i.toLong, skew))
    Map(
      "EncodeJob.run.jobs" -> Metric(med(encodes.map(t.jobsOf(_).size.toDouble)), "count"),
      "EncodeJob.run.driver_gap_ms" -> Metric(med(encodes.map(t.driverGapMs)), "ms"),
      "spark.encode_map.core_util" -> Metric(med(mapStages.map(st => t.coreUtil(Seq(st), ctx.nproc))), "ratio"),
      "spark.encode_map.task_skew" -> Metric(med(mapStages.map(t.taskSkew)), "ratio"),
      "spark.encode.shuffle_write_bytes" ->
        Metric(med(encodes.map(t.tasksOf(_).map(_.shuffleWriteBytes).sum.toDouble)), "bytes"),
      "spark.encode.spill_bytes" -> Metric(med(encodes.map(t.tasksOf(_).map(_.spillBytes).sum.toDouble)), "bytes"),
      "DecodeJob.run.core_util" -> Metric(med(decodes.map(s => t.coreUtil(t.stagesOf(s), ctx.nproc))), "ratio"),
      "DecodeJob.run.task_skew" -> Metric(med(decodeStages.map(t.taskSkew)), "ratio"),
      "storage.write_amp" -> Metric(TableShape.dirBytes(spark, dir).toDouble / rawBytes, "ratio")
    ) ++ Reads.layers(ctx, t, dir, lookupUrls.toSeq) ++ shape ++ Kernels.metrics(sample) ++ Spark.health(t)
  }

  private var codecMix: Map[String, String] = Map.empty
  override def notes: Map[String, Any] = Map("codec_mix" -> codecMix, "raw_bytes" -> rawBytes, "pages" -> nPages)

  def teardown(ctx: Ctx): Unit = {
    lastDir.foreach(ctx.delete)
    lastDir = None
    if (pages != null) pages.unpersist(blocking = true)
  }

  def negativeControls(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val victim = lastDecoded.orderBy("url").head().url
    val flipped = lastDecoded.map { p =>
      if (p.url != victim) p
      else { val h = p.html.clone(); h(h.length / 2) = (h(h.length / 2) ^ 1).toByte; p.copy(html = h) }
    }
    val (want, got) = lastHit
    val flippedHit = got.map { p => val h = p.html.clone(); h(0) = (h(0) ^ 1).toByte; p.copy(html = h) }
    val absent = Pages.page(ctx.seed, nPages.toLong, skew).url
    Seq(
      "bulk ops: decode with one flipped byte" -> (Checks.digest(flipped.toDF()) != inputDigest),
      "bulk ops: lookup hit with one flipped byte" -> !Checks.lookupOk(Some(want), flippedHit),
      "bulk ops: lookup miss returning a row" -> !Checks.lookupOk(byUrl.get(absent), Array(want)))
  }
}

/** Cluster-health per-layer metrics of a traced run. */
object Spark {
  def health(t: TraceData): Map[String, Metric] = Map(
    "spark.gc_ms" -> Metric(t.tasks.map(_.gcMs).sum.toDouble, "ms"),
    "spark.task_failures" -> Metric(t.tasks.count(x => !x.ok || x.attempt > 0).toDouble, "count"))
}
