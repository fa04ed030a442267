package graftbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Dedup
import graft.spark.IndexJob

/** The curation ops on a seeded documents corpus with planted duplicate
  * clusters, whose FM index `IndexJob.build` makes in set-up. Each round
  * runs single-pattern `IndexJob.search` calls, whose counts must equal
  * naive substring counts, and one `Dedup.minHashPairs`, which must report
  * every planted exact-duplicate pair. `wordSkew` shapes the corpus' word
  * frequencies (see `Corpus.generate`).
  */
final class CurateSearch(baseDocs: Int, wordSkew: Double) extends Part {
  private val SearchesPerRep = 3
  private var corpus: Corpus = _
  private var docs: Dataset[(Long, String)] = _
  private var indexDir: String = _
  private var buildMs = 0.0
  private var lastHits: (Map[Long, Long], Array[(Long, Long)]) = _
  private var lastPairs: Set[(Long, Long)] = Set.empty
  private var recall = 0.0
  private var patterns: IndexedSeq[String] = _
  private var searchIx = 0
  private var searches, dedups: Samples = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Corpus.generate(ctx.seed, baseDocs, clusters = math.max(4, baseDocs / 50), wordSkew)
    docs = spark.createDataset(corpus.docs.toSeq).repartition(ctx.nproc).persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    indexDir = ctx.freshDir("fm")
    buildMs = Clock.timed(ctx.span("IndexJob.build", "IndexJob")(
      IndexJob.build(spark, docs.map { case (k, t) => (k.toString, t) }, indexDir)))._2
    patterns = Corpus.patterns(corpus, ctx.seed, 1000)
    searchIx = 0
  }

  private def search(ctx: Ctx, pattern: String): Array[(Long, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    IndexJob.search(spark, indexDir, Seq(pattern)).filter(_.cnt > 0)
      .map(h => (h.doc_key.toLong, h.cnt)).collect()
  }

  def begin(ctx: Ctx): Unit = { searches = new Samples; dedups = new Samples }

  def rep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    (0 until SearchesPerRep).foreach { _ =>
      val p = patterns(searchIx % patterns.size)
      searchIx += 1
      ctx.op("IndexJob.search", "IndexJob", searches)(search(ctx, p)) { got =>
        val want = Checks.fmExpected(corpus.docs, p)
        if (got.nonEmpty) lastHits = (want, got)
        Checks.fmOk(want, got)
      }
    }
    val planted = corpus.exactPairs ++ corpus.nearPairs
    ctx.op("Dedup.minHashPairs", "Dedup", dedups)(
      Dedup.minHashPairs(spark, docs).select("id_a", "id_b").as[(Long, Long)].collect().toSet) { found =>
      lastPairs = found
      recall = planted.count(found).toDouble / planted.size
      Checks.pairsOk(corpus.exactPairs, found)
    }
  }

  def metrics: Map[String, Metric] = Map(
    "fm_search_p50_ms" -> Metric(searches.p50, "ms"),
    "dedup_s" -> Metric(dedups.p50 / 1000, "s"))

  def opSpans: Map[String, Seq[String]] = Map(
    "fm_search_p50_ms" -> Seq("IndexJob.search"), "dedup_s" -> Seq("Dedup.minHashPairs"))

  def layers(ctx: Ctx, t: TraceData): Map[String, Metric] = {
    val spark = ctx.spark
    def med(xs: Seq[Double]) = Stats.median(xs)
    val searches = t.named("IndexJob.search")
    val dedups = t.named("Dedup.minHashPairs")
    val idx = spark.read.parquet(indexDir).agg(sum("index_bytes"), sum("n_bytes")).head()
    val dedupStages = dedups.map(t.stagesOf)
    Map(
      "IndexJob.build_ms" -> Metric(buildMs, "ms"),
      "IndexJob.index_bytes_per_text_byte" -> Metric(idx.getLong(0).toDouble / idx.getLong(1), "ratio"),
      "IndexJob.search.driver_gap_ms" -> Metric(med(searches.map(t.driverGapMs)), "ms"),
      "IndexJob.search.input_bytes" -> Metric(med(searches.map(t.tasksOf(_).map(_.inputBytes).sum.toDouble)), "bytes"),
      "Dedup.pairs_out" -> Metric(lastPairs.size.toDouble, "count"),
      "Dedup.planted_recall" -> Metric(recall, "ratio"),
      "spark.dedup.jobs" -> Metric(med(dedups.map(t.jobsOf(_).size.toDouble)), "count"),
      "spark.dedup.shuffle_stages" ->
        Metric(med(dedupStages.map(_.count(st => t.tasksOfStage(st).exists(_.shuffleWriteBytes > 0)).toDouble)), "count"),
      "spark.dedup.shuffle_write_bytes" ->
        Metric(med(dedups.map(t.tasksOf(_).map(_.shuffleWriteBytes).sum.toDouble)), "bytes"),
      "spark.dedup.core_util" -> Metric(med(dedupStages.map(t.coreUtil(_, ctx.nproc))), "ratio")
    ) ++ Spark.health(t)
  }

  override def notes: Map[String, Any] = Map(
    "docs" -> corpus.docs.length, "text_bytes" -> corpus.textBytes,
    "planted_exact_pairs" -> corpus.exactPairs.size, "planted_near_pairs" -> corpus.nearPairs.size)

  def teardown(ctx: Ctx): Unit = {
    if (indexDir != null) ctx.delete(indexDir)
    if (docs != null) docs.unpersist(blocking = true)
  }

  def negativeControls(ctx: Ctx): Seq[(String, Boolean)] = {
    val (want, got) = lastHits
    val offByOne = got.zipWithIndex.map { case ((d, n), i) => if (i == 0) (d, n + 1) else (d, n) }
    val dropped = lastPairs - corpus.exactPairs.head
    Seq(
      "curation ops: one FM count off by one" -> !Checks.fmOk(want, offByOne),
      "curation ops: one planted pair dropped" -> !Checks.pairsOk(corpus.exactPairs, dropped))
  }
}
