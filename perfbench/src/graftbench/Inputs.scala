package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.spark.{Page, PagesGen}

/** Seeded pages: PagesGen rows on a host-skewed crawl (80 % of pages on
  * 5 % of hosts) unless `skew` is false, plus the refreshed versions the
  * lifecycle upserts.
  */
object Pages {
  val NumHosts = 100
  val HotHosts = NumHosts / 20 // hosts 0..4 hold 80 % of the pages

  def page(seed: Long, id: Long, skew: Boolean = true): Page = PagesGen.page(seed, id, NumHosts, skew)

  def generate(spark: SparkSession, seed: Long, n: Long, skew: Boolean = true): Dataset[Page] =
    PagesGen.generate(spark, n, seed, NumHosts, skew)

  /** Pages for doc ids [lo, hi): PagesGen.generate always starts at id 0. */
  def range(spark: SparkSession, seed: Long, lo: Long, hi: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(lo, hi, 1, math.max(1, spark.sparkContext.defaultParallelism))
      .map(id => page(seed, id))
  }

  /** Version `v` of a page: same url, a later crawl time, different body. */
  def refreshed(seed: Long, id: Long, v: Int): Page = {
    val p = page(seed, id)
    val body = page(seed ^ (0x5EEDL * v), id)
    Page(p.url, new java.sql.Timestamp(p.warc_ts.getTime + v * 86400000L), body.html, body.text, body.lang)
  }

  def rawBytes(p: Page): Long =
    p.url.getBytes(UTF_8).length.toLong + p.html.length + p.text.getBytes(UTF_8).length +
      p.lang.getBytes(UTF_8).length + 8

  def docId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong
  def hostPrefix(h: Int): String = s"https://host$h.example/"
  def hostPrefixOf(url: String): String = url.substring(0, url.indexOf('/', "https://".length) + 1)
}

/** A documents corpus for dedup and FM search: words from a large seeded
  * vocabulary (unrelated documents share few 5-byte shingles), plus
  * planted clusters of exact and near duplicates. `wordSkew` shapes the
  * word frequencies: 1 draws every word alike, larger values favour the
  * low word indices.
  */
final case class Corpus(
    docs: Array[(Long, String)],
    exactPairs: Set[(Long, Long)], // every pair of byte-identical documents
    nearPairs: Set[(Long, Long)] // (origin, near copy with ~4 % of words replaced)
) {
  def textBytes: Long = docs.iterator.map(_._2.length.toLong).sum
}

object Corpus {
  def generate(seed: Long, baseDocs: Int, clusters: Int, wordSkew: Double, vocabSize: Int = 50000): Corpus = {
    val rng = new Rng(seed ^ 0xC0A9L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(vocabSize) {
      val len = 3 + rng.nextInt(7)
      val sb = new StringBuilder(len)
      (0 until len).foreach(_ => sb += letters(rng.nextInt(letters.length)))
      sb.toString
    }
    // at most as skewed as natural text, so that two unrelated documents
    // stay far below any dedup threshold
    def word(): String = vocab(math.min(vocabSize - 1, (vocabSize * math.pow(rng.nextDouble(), wordSkew)).toInt))
    def words(n: Int): Array[String] = Array.fill(n)(word())

    val bodies = Array.fill(baseDocs)(words(150 + rng.nextInt(450)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    bodies.zipWithIndex.foreach { case (w, i) => docs += ((i.toLong, w.mkString(" "))) }
    val exact = scala.collection.mutable.Set.empty[(Long, Long)]
    val near = scala.collection.mutable.Set.empty[(Long, Long)]
    var nextId = baseDocs.toLong
    (0 until clusters).foreach { c =>
      val origin = (c.toLong * baseDocs / clusters) // spread over the corpus, distinct
      val members = scala.collection.mutable.ArrayBuffer(origin)
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        docs += ((nextId, docs(origin.toInt)._2)); members += nextId; nextId += 1
      }
      for (a <- members; b <- members if a < b) exact += ((a, b))
      val w = bodies(origin.toInt).clone()
      w.indices.foreach(i => if (rng.nextInt(25) == 0) w(i) = word())
      docs += ((nextId, w.mkString(" "))); near += ((origin, nextId)); nextId += 1
    }
    Corpus(docs.toArray, exact.toSet, near.toSet)
  }

  /** Search patterns: single words and two-word phrases of the corpus,
    * plus strings that occur nowhere.
    */
  def patterns(c: Corpus, seed: Long, n: Int): IndexedSeq[String] = {
    val rng = new Rng(seed ^ 0x5EA4C4L)
    (0 until n).map { i =>
      val (_, text) = c.docs(rng.nextInt(c.docs.length))
      val ws = text.split(' ')
      val j = rng.nextInt(ws.length - 1)
      i % 5 match {
        case 0 => ws(j) + " " + ws(j + 1)
        case 4 => "qz" + rng.nextLong().toHexString // digits never occur in the corpus
        case _ => ws(j)
      }
    }
  }

  /** Occurrences of `p` in `t`, overlapping ones included: the ground truth
    * an FM-index count must equal.
    */
  def naiveCount(t: String, p: String): Long = {
    var n = 0L
    var i = t.indexOf(p)
    while (i >= 0) { n += 1; i = t.indexOf(p, i + 1) }
    n
  }
}
