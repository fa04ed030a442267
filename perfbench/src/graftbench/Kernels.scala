package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.{ColumnCodec, Pipelines, SuffixArrays}
import graft.spark.Page

/** Single-thread codec kernel rates on a sample of the workload's own
  * values: the codec layer's per-layer metrics.
  */
object Kernels {

  /** ns per input byte of `f` over `values`: one warm-up pass, then the
    * median of at least 3 passes lasting 300 ms in total.
    */
  def nsPerByte[T](values: Seq[T], bytes: Long)(f: T => Any): Double = {
    values.foreach(f)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < 3 || System.nanoTime() - t0 < 300e6) {
      val (_, ms) = Clock.timed(values.foreach(f))
      passes += ms * 1e6 / bytes
    }
    Stats.median(passes.toSeq)
  }

  def metrics(sample: Seq[Page], bodyDocs: Int = 48): Map[String, Metric] = {
    val bodies = sample.take(bodyDocs).flatMap(p => Seq(p.html, p.text.getBytes(UTF_8)))
    val bodyBytes = bodies.map(_.length.toLong).sum
    val encoded = bodies.map(Pipelines.textEncode)

    val sorted = sample.sortBy(_.url)
    val chunks = sorted.grouped(1024).toSeq
    val urls = chunks.map(_.map(_.url.getBytes(UTF_8)).toArray)
    val langs = chunks.map(_.map(_.lang.getBytes(UTF_8)).toArray)
    val ts = chunks.map(_.map(_.warc_ts.getTime * 1000L).toArray)
    val colBytes = urls.flatten.map(_.length.toLong).sum + langs.flatten.map(_.length.toLong).sum + 8L * sample.size
    def encodeCols(i: Int) =
      (ColumnCodec.encodeBinary(urls(i)), ColumnCodec.encodeBinaryNullable(langs(i)), ColumnCodec.encodeLong(ts(i)))
    val colPayloads = chunks.indices.map(encodeCols)

    Map(
      "codec.sais_ns_per_byte" -> nsPerByte(bodies, bodyBytes)(SuffixArrays.build),
      "codec.text_encode_ns_per_byte" -> nsPerByte(bodies, bodyBytes)(Pipelines.textEncode),
      "codec.text_decode_ns_per_byte" -> nsPerByte(encoded, bodyBytes)(Pipelines.textDecode),
      "codec.column_encode_ns_per_byte" -> nsPerByte(chunks.indices, colBytes)(encodeCols),
      "codec.column_decode_ns_per_byte" -> nsPerByte(colPayloads, colBytes) { case (u, l, t) =>
        (ColumnCodec.decodeBinary(u), ColumnCodec.decodeBinaryNullable(l), ColumnCodec.decodeLong(t))
      }
    ).map { case (k, v) => k -> Metric(v, "ns/B") }
  }
}
