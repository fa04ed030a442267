package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Dataset

import graft.spark.{DecodeJob, EncodeJob, Page}

/** lifecycle: from a freshly built base table, seeded cycles of append a
  * batch, single-url lookups on the now-fragmented table, delete a set of
  * takedown urls, upsert refreshed pages; then one compact. The final full
  * decode must equal the driver-side model: base + appends - deletes, with
  * upserts applied.
  */
final class Lifecycle(nBase: Int, tiny: Boolean) extends Workload {
  private val MinCycles = 2
  private val (batch, lookupsPerCycle, takedowns, refreshes) = if (tiny) (30, 2, 3, 3) else (30, 3, 3, 3)
  private var dir: String = _
  private val model = mutable.LinkedHashMap.empty[String, Page]
  private var nextId = 0L
  private var writeAmp = (0L, 0L) // (bytes added to the table dir, raw bytes written)
  private var filesAfterAppends: Metric = _
  private val lookupUrls = mutable.ArrayBuffer.empty[(String, Int)]
  private var lastDecoded: Dataset[Page] = _
  private var modelDigest: Checks.Digest = _

  /** Every op once, on a small table of another seed. */
  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (seed, dir) = (ctx.seed + 1, ctx.freshDir("warm"))
    EncodeJob.run(spark, Pages.generate(spark, seed, 100), dir)
    EncodeJob.append(spark, Pages.range(spark, seed, 100, 110), dir)
    Reads.lookup(spark, dir, Pages.page(seed, 0).url)
    EncodeJob.delete(spark, dir, Seq(Pages.page(seed, 1).url))
    EncodeJob.upsert(spark, spark.createDataset(Seq(Pages.refreshed(seed, 2, 1))), dir)
    EncodeJob.compact(spark, dir)
    Checks.digest(DecodeJob.run(spark, dir).toDF())
    ctx.delete(dir)
  }

  def setup(ctx: Ctx): Unit = {
    dir = ctx.freshDir("life")
    EncodeJob.run(ctx.spark, Pages.generate(ctx.spark, ctx.seed, nBase), dir)
    model.clear()
    (0L until nBase).foreach { id => val p = Pages.page(ctx.seed, id); model(p.url) = p }
    nextId = nBase
  }

  def window(ctx: Ctx, seconds: Int): Map[String, Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val rng = new Rng(ctx.seed ^ 0x11FEL)
    val appends, rewrites, compacts, lookups, finals = new Samples
    writeAmp = (0L, 0L)
    lookupUrls.clear()
    def live(): String = model.keysIterator.drop(rng.nextInt(model.size)).next()
    def write(name: String, samples: Samples, raw: Long)(call: => Any): Unit = {
      val before = TableShape.dirBytes(spark, dir)
      ctx.op(name, "EncodeJob", samples)(call)(_ => true) // the final decode checks every write
      writeAmp = (writeAmp._1 + TableShape.dirBytes(spark, dir) - before, writeAmp._2 + raw)
    }

    val t0 = System.nanoTime()
    var cycles = 0
    while (cycles < MinCycles || System.nanoTime() - t0 < seconds * 1e9) {
      val (lo, hi) = (nextId, nextId + batch)
      nextId = hi
      val added = (lo until hi).map(Pages.page(ctx.seed, _))
      write("EncodeJob.append", appends, added.map(Pages.rawBytes).sum)(
        EncodeJob.append(spark, Pages.range(spark, ctx.seed, lo, hi), dir))
      added.foreach(p => model(p.url) = p)

      (0 until lookupsPerCycle).foreach { _ =>
        val id = rng.nextInt(nextId.toInt).toLong + (if (rng.nextInt(10) == 0) nextId else 0L)
        val url = Pages.page(ctx.seed, id).url
        ctx.op("DecodeJob.lookup", "DecodeJob", lookups)(Reads.lookup(spark, dir, url)) { got =>
          lookupUrls += ((url, got.length))
          Checks.lookupOk(model.get(url), got)
        }
      }

      val gone = Seq.fill(takedowns)(live()).distinct
      write("EncodeJob.delete", rewrites, 0L)(EncodeJob.delete(spark, dir, gone))
      gone.foreach(model.remove)

      val fresh = Seq.fill(refreshes)(live()).distinct.map { u =>
        Pages.refreshed(ctx.seed, Pages.docId(u), cycles + 1)
      }
      write("EncodeJob.upsert", rewrites, fresh.map(Pages.rawBytes).sum)(
        EncodeJob.upsert(spark, spark.createDataset(fresh), dir))
      fresh.foreach(p => model(p.url) = p)
      cycles += 1
    }
    filesAfterAppends = TableShape.report(spark, dir)._1("storage.files_per_partition")

    ctx.op("EncodeJob.compact", "EncodeJob", compacts)(EncodeJob.compact(spark, dir))(_ => true)
    modelDigest = Checks.digest(spark.createDataset(model.values.toSeq).toDF())
    lastDecoded = DecodeJob.run(spark, dir)
    ctx.op("DecodeJob.run", "DecodeJob", finals)(Checks.digest(lastDecoded.toDF()))(_ == modelDigest)
    val liveRaw = model.valuesIterator.map(Pages.rawBytes).sum
    Map(
      "append_p50_ms" -> Metric(appends.p50, "ms"),
      "rewrite_p50_ms" -> Metric(rewrites.p50, "ms"),
      "compact_ms" -> Metric(compacts.p50, "ms"),
      "frag_lookup_p50_ms" -> Metric(lookups.p50, "ms"),
      "space_amp" -> Metric(TableShape.dirBytes(spark, dir).toDouble / liveRaw, "ratio"))
  }

  def opSpans: Map[String, Seq[String]] = Map(
    "append_p50_ms" -> Seq("EncodeJob.append"),
    "rewrite_p50_ms" -> Seq("EncodeJob.delete", "EncodeJob.upsert"),
    "compact_ms" -> Seq("EncodeJob.compact"),
    "frag_lookup_p50_ms" -> Seq("DecodeJob.lookup"))

  def layers(ctx: Ctx, t: TraceData): Map[String, Metric] = {
    def med(xs: Seq[Double]) = Stats.median(xs)
    val ops = Seq("append", "delete", "upsert", "compact").flatMap { op =>
      val spans = t.named(s"EncodeJob.$op")
      Seq(
        s"EncodeJob.$op.head_ms" -> Metric(med(spans.map(t.headMs)), "ms"),
        s"EncodeJob.$op.tail_ms" -> Metric(med(spans.map(t.tailMs)), "ms"),
        s"EncodeJob.$op.jobs" -> Metric(med(spans.map(t.jobsOf(_).size.toDouble)), "count"))
    }.toMap
    val (shape, mix) = TableShape.report(ctx.spark, dir)
    notesMix = mix
    val sample = (0 until 1024).map(i => Pages.page(ctx.seed, i.toLong))
    val kernels = Kernels.metrics(sample).filter { case (k, _) =>
      k == "codec.sais_ns_per_byte" || k == "codec.text_encode_ns_per_byte"
    }
    ops ++ Reads.layers(ctx, t, dir, lookupUrls.toSeq) ++ shape ++ kernels ++ Spark.health(t) ++ Map(
      "storage.write_amp" -> Metric(writeAmp._1.toDouble / writeAmp._2, "ratio"),
      "storage.files_per_partition" -> filesAfterAppends)
  }

  private var notesMix: Map[String, String] = Map.empty
  override def notes: Map[String, Any] = Map("codec_mix_after_compact" -> notesMix, "live_rows" -> model.size)

  def teardown(ctx: Ctx): Unit = if (dir != null) ctx.delete(dir)

  def negativeControls(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val victim = model.head._1
    val flipped = lastDecoded.map { p =>
      if (p.url != victim) p else p.copy(text = p.text.updated(0, (p.text.charAt(0) ^ 1).toChar))
    }
    val dropped = lastDecoded.filter(p => p.url != victim)
    Seq(
      "lifecycle: final decode with one flipped byte" -> (Checks.digest(flipped.toDF()) != modelDigest),
      "lifecycle: final decode missing one row" -> (Checks.digest(dropped.toDF()) != modelDigest))
  }
}
