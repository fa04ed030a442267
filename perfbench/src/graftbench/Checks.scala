package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.spark.Page

/** Output checks. Each is a pure function of an output and its expected
  * value, so the negative controls can feed it corrupted outputs.
  */
object Checks {

  /** Order-independent digest of a pages table: row count, and the sum and
    * xor of a per-row 64-bit hash over all five columns.
    */
  final case class Digest(rows: Long, sum: BigDecimal, xor: Long)

  def digest(df: DataFrame): Digest = {
    val h = xxhash64(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    if (r.getLong(0) == 0) Digest(0, BigDecimal(0), 0L)
    else Digest(r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
  }

  def samePage(a: Page, b: Page): Boolean =
    a.url.getBytes(UTF_8).sameElements(b.url.getBytes(UTF_8)) &&
      a.warc_ts.equals(b.warc_ts) &&
      java.util.Arrays.equals(a.html, b.html) &&
      a.text.getBytes(UTF_8).sameElements(b.text.getBytes(UTF_8)) &&
      a.lang.getBytes(UTF_8).sameElements(b.lang.getBytes(UTF_8))

  /** A point lookup returns exactly the expected page, or nothing for a miss. */
  def lookupOk(expected: Option[Page], got: Array[Page]): Boolean = expected match {
    case None => got.isEmpty
    case Some(p) => got.length == 1 && samePage(p, got(0))
  }

  /** A host-prefix read returns exactly the host's pages. */
  def prefixOk(expected: Map[String, Page], got: Array[Page]): Boolean =
    got.length == expected.size && got.forall(p => expected.get(p.url).exists(samePage(_, p)))

  /** A projected scan returns every (url, warc_ts micros, lang) once. */
  def projectedOk(expected: Map[String, (Long, String)], got: Array[(String, Long, String)]): Boolean =
    got.length == expected.size && got.map(_._1).distinct.length == got.length &&
      got.forall { case (u, ts, l) => expected.get(u).contains((ts, l)) }

  /** FM search hits (doc, count) equal naive substring counts over every
    * document; documents without an occurrence must not appear.
    */
  def fmOk(expected: Map[Long, Long], got: Array[(Long, Long)]): Boolean =
    got.length == expected.size && got.forall { case (d, n) => expected.get(d).contains(n) }

  def fmExpected(docs: Array[(Long, String)], pattern: String): Map[Long, Long] =
    docs.iterator.map { case (k, t) => k -> Corpus.naiveCount(t, pattern) }.filter(_._2 > 0).toMap

  /** Dedup reports every planted exact-duplicate pair. */
  def pairsOk(planted: Set[(Long, Long)], found: Set[(Long, Long)]): Boolean = planted.subsetOf(found)
}
