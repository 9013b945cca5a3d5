package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, IndexStore}
import graft.query.Searcher
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingestion (SURVEY.md §2.10): micro-batches become index
  * segments with an atomic snapshot flip per batch; upserted urls resolve
  * latest-wins at query time; batch re-delivery is idempotent. */
class StreamIndexerSpec extends AnyFunSuite with SparkTestBase {

  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(
    numParts = 4, rangeParts = 2, saltDf = 1000, saltFanout = 2)

  private def page(url: String, ts: Long, text: String) =
    (url, new Timestamp(1767225600000L + ts * 1000), null: Array[Byte],
      text, "en")

  test("micro-batches append segments, searcher sees the merged view " +
    "with latest-wins upserts") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = tmpDir("graft-stream-")
    val input = MemoryStream[(String, Timestamp, Array[Byte], String, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "html", "text", "lang")
    val q = StreamIndexer.start(spark, pages, dict, root, cfg,
      Some(tmpDir("graft-stream-ckpt-")))
    try {
      input.addData(page("https://a/1", 1, "spark engine alpha"),
        page("https://a/2", 1, "lucene index beta"))
      q.processAllAvailable()
      input.addData(page("https://a/3", 2, "spark shuffle gamma"),
        page("https://a/1", 5, "updated spark document")) // upsert of a/1
      q.processAllAvailable()
    } finally q.stop()

    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap.segments == Seq("seg-b000000", "seg-b000001"))

    val s = new Searcher(spark, root, dict)
    try {
      assert(s.maxDoc == 4 && s.numDocs == 3) // a/1 v1 is a dead doc
      val hits = s.search("spark", 10)
        .select("url", "text").collect().map(r => (r.getString(0), r.getString(1)))
      assert(hits.map(_._1).toSet == Set("https://a/1", "https://a/3"))
      assert(hits.toMap.apply("https://a/1") == "updated spark document")
      // term only present in the superseded version no longer matches
      assert(s.search("alpha", 10).count() == 0)
      // term from batch 2 matches
      assert(s.search("gamma", 10).count() == 1)
    } finally s.close()
  }

  test("streamed POSITIONAL segments serve phrase queries with dead-doc " +
    "(upsert) exclusion") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = tmpDir("graft-streampos-")
    val input = MemoryStream[(String, Timestamp, Array[Byte], String, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "html", "text", "lang")
    val q = StreamIndexer.start(spark, pages, dict, root,
      cfg.copy(indexPositions = true), Some(tmpDir("graft-streampos-ckpt-")))
    try {
      input.addData(page("https://p/1", 1, "spark engine fast"),
        page("https://p/2", 1, "engine spark reversed"))
      q.processAllAvailable()
      input.addData( // upsert p/1: loses the "spark engine" adjacency
        page("https://p/1", 9, "spark fast engine now split"))
      q.processAllAvailable()
    } finally q.stop()
    val s = new Searcher(spark, root, dict)
    try {
      assert(s.positionsIndexed)
      // only the live version of p/1 counts: phrase no longer matches it,
      // and p/2 has the terms but not the adjacency
      assert(s.searchPhrase("spark engine", 10).count() == 0)
      assert(s.searchPhrase("engine spark", 10)
        .select("url").collect().map(_.getString(0)).toSeq ==
        Seq("https://p/2"))
      assert(s.searchPhrase("fast engine", 10)
        .select("url").collect().map(_.getString(0)).toSeq ==
        Seq("https://p/1"))
    } finally s.close()
  }

  test("tiered compaction collapses 21 micro-batch segments with a " +
    "bounded fan-in per pass, ending rank-identical to a fresh build of " +
    "the live corpus") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("graft-tiered-")
    // 21 micro-batches: one fresh url each + an upsert of m/u every batch
    (0 until 21).foreach { b =>
      val df = Seq(
        page(s"https://m/$b", b * 10, s"spark doc number$b common"),
        page("https://m/u", b * 10 + 1, s"upserted version$b spark"))
        .toDF("url", "warc_ts", "html", "text", "lang")
      StreamIndexer.indexBatch(spark, df, dict, root, cfg, b.toLong)
    }
    IndexBuilder.deleteByPk(spark, root, Seq("https://m/3", "https://m/7"))
    assert(IndexStore.readLatestSnapshot(spark, root).get.segments.size == 21)

    val reps = IndexBuilder.mergeCompactTiered(spark, root, dict, cfg,
      tierFanin = 4)
    // 21 → 18 → 15 → 12 → 9 → 6 → 3 tier passes, then the final full pass
    assert(reps.size == 7, s"passes=${reps.map(_.segment)}")
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap.segments.size == 1 && snap.tombstones.isEmpty)

    // twin: ONE fresh build over the logical live corpus — same urls,
    // same stats, so scores must be bit-identical
    val live = (0 until 21).filterNot(b => b == 3 || b == 7)
      .map(b => page(s"https://m/$b", b * 10, s"spark doc number$b common")) :+
      page("https://m/u", 201, "upserted version20 spark")
    val root2 = tmpDir("graft-tieredtwin-")
    IndexBuilder.buildFull(spark,
      live.toDF("url", "warc_ts", "html", "text", "lang"), dict, root2, cfg)
    def view(rt: String): (Long, Set[(String, String, Double)]) = {
      val s = new Searcher(spark, rt, dict)
      try (s.numDocs, s.search("spark", 100).select("url", "text", "score")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet)
      finally s.close()
    }
    val (nA, vA) = view(root)
    val (nB, vB) = view(root2)
    assert(nA == 20L && nA == nB)
    assert(vA.nonEmpty && vA == vB)
    assert(vA.exists(_._2 == "upserted version20 spark"))
  }

  test("automatic snapshot retention: a long run holds <= keep snapshots, " +
    "the latest view stays intact, retained ids time-travel, expired fail") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val root = tmpDir("graft-streamret-")
    val input = MemoryStream[(String, Timestamp, Array[Byte], String, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "html", "text", "lang")
    val q = StreamIndexer.start(spark, pages, dict, root, cfg,
      Some(tmpDir("graft-streamret-ckpt-")), keepSnapshots = Some(2))
    try {
      (0 until 6).foreach { b =>
        input.addData(page(s"https://r/$b", b.toLong, s"spark retained doc$b"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val ids = IndexStore.listSnapshots(spark, root)
    assert(ids.size <= 2, s"retained $ids")
    assert(ids == Seq(4L, 5L))
    // latest view: every batch's doc is still served (segments are shared
    // across snapshots — expiry trims pointers, not live segments)
    val s = new Searcher(spark, root, dict)
    try {
      assert(s.numDocs == 6L)
      assert(s.search("spark", 10).count() == 6)
    } finally s.close()
    // a retained non-latest snapshot still time-travels; expired ids fail
    val s4 = new Searcher(spark, root, dict, snapshotId = Some(4L))
    try assert(s4.numDocs == 5L) finally s4.close()
    intercept[RuntimeException](
      new Searcher(spark, root, dict, snapshotId = Some(0L)))
  }

  test("micro-batch ids never collide after a compaction leaves gappy " +
    "doc_ids (append base = max id_ceiling, not a doc_count sum)") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("graft-streamgap-")
    // 3 batches, each upserting the same url → 2 dead versions; compaction
    // drops them and keeps original (now gappy) ids
    (0 until 3).foreach { b =>
      val df = Seq(
        page(s"https://g/$b", b * 10, s"spark gap doc$b"),
        page("https://g/u", b * 10 + 1, s"spark upsert v$b"))
        .toDF("url", "warc_ts", "html", "text", "lang")
      StreamIndexer.indexBatch(spark, df, dict, root, cfg, b.toLong)
    }
    IndexBuilder.mergeCompact(spark, root, dict, cfg)
    // post-compact: 4 live docs, max id 5 → a count-sum base (4) would
    // collide with ids 4 and 5
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(IndexBuilder.nextAppendBase(spark, root, snap) == 6L)
    StreamIndexer.indexBatch(spark,
      Seq(page("https://g/new", 99, "spark fresh post compact"))
        .toDF("url", "warc_ts", "html", "text", "lang"),
      dict, root, cfg, 3L)
    val s = new Searcher(spark, root, dict)
    try {
      val idsAll = s.docstore.select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(idsAll.distinct.size == idsAll.size, s"colliding ids: $idsAll")
      assert(s.numDocs == 5L)
      assert(s.search("fresh", 10).count() == 1)
    } finally s.close()
  }

  test("batch re-delivery is idempotent (exactly-once append)") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("graft-stream2-")
    val batch = Seq(page("https://b/1", 1, "hello world")).toDF(
      "url", "warc_ts", "html", "text", "lang")
    StreamIndexer.indexBatch(spark, batch, dict, root, cfg, 0L)
    val snap1 = IndexStore.readLatestSnapshot(spark, root).get
    StreamIndexer.indexBatch(spark, batch, dict, root, cfg, 0L) // re-delivery
    val snap2 = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap1 == snap2 && snap2.segments == Seq("seg-b000000"))
  }
}
