package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.{SynonymDict, TextExtract, Tokenizer}
import graft.codec.VarByte
import graft.functions.GraftRuntime
import graft.index.{IndexStore, WebtextGen}

/** Single-thread probes of the analysis and codec layers, timed from
  * outside through their public functions. Each probe repeats its pass
  * until `minMs` has elapsed and reports the median pass rate. */
object Layers {

  private def rate(minMs: Double, units: Double)(pass: => Unit): Double = {
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (minMs * 1e6).toLong
    while (rates.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      pass
      rates += units / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates.toSeq)
  }

  /** analysis.extract/tokenize/synonym in input MB/s over `n` pages of
    * the workload's corpus. */
  def analysis(seed: Long, n: Int, dict: SynonymDict,
               minMs: Double): Map[String, (Double, String)] = {
    val pages = WebtextGen.pages(seed, n)
    val html = pages.map(_.html).toArray
    val htmlMb = html.map(_.length.toLong).sum / 1e6
    val texts = html.map(h => UTF8String.fromString(TextExtract.extractText(h)))
    val textMb = texts.map(_.numBytes().toLong).sum / 1e6
    val toks = texts.map(t => GraftRuntime.tokensU8(t, Tokenizer.Text))
    var sink = 0L
    val extract = rate(minMs, htmlMb) {
      var i = 0
      while (i < html.length) { sink += TextExtract.extractText(html(i)).length; i += 1 }
    }
    val tokenize = rate(minMs, textMb) {
      var i = 0
      while (i < texts.length) { sink += GraftRuntime.tokensU8(texts(i), Tokenizer.Text).length; i += 1 }
    }
    val synonym = rate(minMs, textMb) {
      var i = 0
      while (i < toks.length) { sink += dict.expandU8(toks(i)).length; i += 1 }
    }
    if (sink == 42L) println("") // keeps the passes observable to the JIT
    Map("analysis.extract_mb_per_s" -> (extract, "MB/s"),
      "analysis.tokenize_mb_per_s" -> (tokenize, "MB/s"),
      "analysis.synonym_mb_per_s" -> (synonym, "MB/s"))
  }

  /** codec encode/decode in postings/s over the posting blobs of the
    * given segment, at v3 (the default format) and v2. */
  def codec(spark: SparkSession, root: String, seg: String,
            minMs: Double): Map[String, (Double, String)] = {
    import spark.implicits._
    val blobs = IndexStore.readPostingsOrEmpty(spark, root, seg)
      .select("blob").as[Array[Byte]].collect()
    val decoded = blobs.map(VarByte.decode)
    val postings = decoded.map(_._1.length.toLong).sum.toDouble
    val bytes = blobs.map(_.length.toLong).sum.toDouble
    var sink = 0L
    def encodeAll(v: Int): Array[Array[Byte]] =
      decoded.map { case (ids, tfs, dls) => VarByte.encode(ids, tfs, dls, version = v) }
    def cursorAll(bs: Array[Array[Byte]]): Unit = {
      var i = 0
      while (i < bs.length) {
        val c = new VarByte.Cursor(bs(i))
        while (c.hasNext) { c.advance(); sink += c.tf }
        i += 1
      }
    }
    val v2 = encodeAll(VarByte.FormatV2)
    def decodeAll(bs: Array[Array[Byte]]): Unit =
      bs.foreach(b => sink += VarByte.decode(b)._1.length)
    val out = Map(
      "codec.encode_postings_per_s" ->
        (rate(minMs, postings)(sink += encodeAll(VarByte.FormatV3).length), "1/s"),
      "codec.encode_postings_per_s_v2" ->
        (rate(minMs, postings)(sink += encodeAll(VarByte.FormatV2).length), "1/s"),
      "codec.decode_postings_per_s" -> (rate(minMs, postings)(decodeAll(blobs)), "1/s"),
      "codec.decode_postings_per_s_v2" -> (rate(minMs, postings)(decodeAll(v2)), "1/s"),
      "codec.cursor_postings_per_s" -> (rate(minMs, postings)(cursorAll(blobs)), "1/s"),
      "codec.cursor_postings_per_s_v2" -> (rate(minMs, postings)(cursorAll(v2)), "1/s"),
      "codec.bytes_per_posting" -> (bytes / math.max(1.0, postings), "bytes"),
      "codec.bytes_per_posting_v2" ->
        (v2.map(_.length.toLong).sum / math.max(1.0, postings), "bytes"))
    if (sink == 42L) println("")
    out
  }
}
