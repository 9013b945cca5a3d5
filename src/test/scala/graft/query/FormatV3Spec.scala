package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.codec.VarByte
import graft.golden.GoldenBM25
import graft.index.{IndexBuilder, IndexStore, WebtextGen}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Posting format v3 (FoR/bitpacked block bodies) through the WHOLE
  * engine: golden identity at v3, mixed-version serving, and the
  * compaction gates (uniform v3 ⇒ blob-level compact; mixed v2+v3 ⇒
  * rebuild fallback). SURVEY §8 round-5 headline; the codec-level
  * round-trips live in VarByteSpec. */
class FormatV3Spec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val NDocs = 600
  private val K = 10

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))
  private def cfg(ver: Int) = IndexBuilder.IndexConfig(
    numParts = 8, rangeParts = 4, saltDf = 200, saltFanout = 4,
    formatVersion = ver)

  private lazy val rootV3: String = {
    val dir = tmpDir("graft-v3-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, NDocs), dict,
      dir, cfg(3), "v3-golden")
    dir
  }
  private lazy val searcherV3 = new Searcher(spark, rootV3, dict)
  private lazy val golden =
    new GoldenBM25.Model(GoldenBM25.docsFromWebtext(Seed, NDocs, dict))

  private def topK(s: Searcher, q: String, conj: Boolean,
                   wand: Boolean): Seq[(Long, Double)] =
    (if (wand) s.searchWand(q, K, conjunctive = conj, wandMinDf = 0)
     else s.search(q, K, conjunctive = conj))
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("v3 index: exact and WAND paths are rank-identical with " +
    "bit-identical scores vs the golden model") {
    val qs = resourceLines("/queries.txt")
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).filter(f => f(3) == "-").take(12)
    assert(IndexStore.readSegmentConfig(spark, rootV3, "seg-000000")
      .formatVersion == 3)
    // and the blobs themselves really are v3 (not just the config)
    val aBlob = searcherV3.postings.select("blob").head()
      .getAs[Array[Byte]](0)
    assert(VarByte.formatVersionOf(aBlob) == 3)
    val failures = qs.flatMap { f =>
      val (name, query, conj) = (f(0), f(1), f(2) == "AND")
      val g = golden.topK(golden.analyze(query, dict), K, conjunctive = conj)
        .map(h => (h.docId, h.score))
      Seq(
        (topK(searcherV3, query, conj, wand = false), "exact"),
        (topK(searcherV3, query, conj, wand = true), "wand")
      ).collect { case (e, path) if e != g => s"$name/$path" }
    }
    assert(failures.isEmpty, failures.mkString(","))
  }

  test("v3 positional index serves phrase + slop queries identically to " +
    "a v2 twin") {
    val pages = WebtextGen.df(spark, 77L, 250)
    def build(ver: Int): String = {
      val dir = tmpDir(s"graft-v3pos$ver-")
      IndexBuilder.buildFull(spark, pages, dict, dir,
        cfg(ver).copy(indexPositions = true), s"v$ver-pos")
      dir
    }
    val s2 = new Searcher(spark, build(2), dict)
    val s3 = new Searcher(spark, build(3), dict)
    try {
      for (phrase <- Seq("spark index", "search engine", "data data");
           slop <- Seq(0, 1)) {
        def page(s: Searcher) =
          s.searchPhrase(phrase, K, slop = slop).select("doc_id", "score")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(page(s3) == page(s2), s"'$phrase' slop=$slop")
      }
    } finally { s2.close(); s3.close() }
  }

  test("mixed v2 base + v3 append SERVES correctly (blobs self-describe); " +
    "mergeCompact on the mixed root falls back to the rebuild merge and " +
    "upgrades to v3 (never downgrades)") {
    val root = tmpDir("graft-v3mixed-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 5L, 200), dict,
      root, cfg(2), "mixed-base")
    val extra = WebtextGen.df(spark, 6L, 100)
      .withColumn("url", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("x-"), col("url")))
    IndexBuilder.appendSegment(spark, extra, dict, root, cfg(3), "mixed-delta")
    val s = new Searcher(spark, root, dict)
    val before = try {
      assert(s.docCount == 300L)
      val hits = topK(s, "spark index", conj = true, wand = false)
      assert(hits.nonEmpty)
      hits
    } finally s.close()
    // mixed versions must NOT blob-compact: the fallback is the rebuild
    // (its report carries the analysis phases, not the blob-merge one)
    val rep = IndexBuilder.mergeCompact(spark, root, dict, cfg(2))
    assert(rep.phases.exists(_._1 == "sort_dedup_assign"),
      s"expected rebuild fallback, got phases=${rep.phases.map(_._1)}")
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap.segments.size == 1)
    // rebuild upgraded to the max supported version present (v3) even
    // though the passed cfg said v2 — merges never downgrade
    assert(IndexStore.readSegmentConfig(spark, root, snap.segments.head)
      .formatVersion == 3)
    val s2 = new Searcher(spark, root, dict)
    try {
      // ids re-assign under rebuild, so compare (url, score) views
      def view(x: Seq[(Long, Double)], sr: Searcher) = {
        val urls = sr.docstore.select("doc_id", "url").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        x.map { case (id, sc) => (urls(id), sc) }.toSet
      }
      val after = topK(s2, "spark index", conj = true, wand = false)
      assert(view(after, s2).map(_._2) == before.map(_._2).toSet)
    } finally s2.close()
  }

  test("uniform v3 lifecycle: append + delete + BLOB-LEVEL compact keep " +
    "v3 and stay search-identical to a fresh v3 build of the live corpus") {
    val root = tmpDir("graft-v3life-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 9L, 200), dict,
      root, cfg(3), "v3-life")
    val extra = WebtextGen.df(spark, 10L, 80)
      .withColumn("url", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("y-"), col("url")))
    IndexBuilder.appendSegment(spark, extra, dict, root, cfg(3), "v3-delta")
    val victims = WebtextGen.pages(9L, 200).map(_.url).sorted.take(20)
    IndexBuilder.deleteByPk(spark, root, victims)
    val rep = IndexBuilder.mergeCompact(spark, root, dict, cfg(3))
    assert(rep.phases.exists(_._1 == "postings_blob_merge_write"),
      s"expected blob-level compact, got phases=${rep.phases.map(_._1)}")
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(IndexStore.readSegmentConfig(spark, root, snap.segments.head)
      .formatVersion == 3)

    val twinRoot = tmpDir("graft-v3twin-")
    val vset = victims.toSet
    val live = (WebtextGen.pages(9L, 200).filterNot(p => vset.contains(p.url))
      ++ WebtextGen.pages(10L, 80).map(p => p.copy(url = s"y-${p.url}")))
    val sp = spark
    import sp.implicits._
    IndexBuilder.buildFull(spark, live.toDF(), dict, twinRoot, cfg(3), "twin")
    val sA = new Searcher(spark, root, dict)
    val sB = new Searcher(spark, twinRoot, dict)
    try {
      assert(sA.numDocs == sB.numDocs)
      def byUrl(s: Searcher, q: String) = {
        val urls = s.docstore.select("doc_id", "url").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        topK(s, q, conj = true, wand = true)
          .map { case (id, sc) => (urls(id), sc) }.toSet
      }
      for (q <- Seq("spark index", "data search", "engine"))
        assert(byUrl(sA, q) == byUrl(sB, q), s"'$q'")
    } finally { sA.close(); sB.close() }
  }

  override def afterAll(): Unit = {
    searcherV3.close()
    super.afterAll()
  }
}
