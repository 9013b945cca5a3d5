package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import org.scalatest.funsuite.AnyFunSuite

/** Serving-layer parity (SURVEY.md Q13/S8/Q10): result + doc LRU caches
  * and job-group search timeout. */
class ServingSpec extends AnyFunSuite with SparkTestBase {

  private lazy val root: String = {
    val dir = tmpDir("graft-serving-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 7L, 400),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "serving")
    dir
  }
  private lazy val searcher = new Searcher(spark, root)

  test("query-result LRU returns identical rows and actually hits (Q13)") {
    val a = searcher.searchCached("spark index", 10)
    val missesAfterFirst = searcher.queryResultCache.misses
    val b = searcher.searchCached("spark index", 10)
    assert(a.toSeq == b.toSeq)
    assert(searcher.queryResultCache.hits >= 1)
    assert(searcher.queryResultCache.misses == missesAfterFirst)
    // opt-out recomputes but agrees
    val c = searcher.searchCached("spark index", 10, useCache = false)
    assert(c.toSeq == a.toSeq)
  }

  test("document LRU caches stored-field fetches (S8)") {
    val ids = searcher.searchCached("spark", 3).map(_.getLong(0)).toSeq
    val d1 = searcher.docCached(ids)
    assert(d1.map(_.getLong(0)) == ids)
    val h0 = searcher.documentCache.hits
    val d2 = searcher.docCached(ids)
    assert(d2.map(_.getLong(0)) == ids)
    assert(searcher.documentCache.hits >= h0 + ids.size)
  }

  test("search timeout: generous deadline completes, ~zero deadline " +
    "cancels (Q10)") {
    val ok = searcher.searchWithTimeout("spark", 5, timeoutMs = 120000)
    assert(ok.isDefined && ok.get.nonEmpty)
    assert(ok.get.toSeq == searcher.search("spark", 5).collect().toSeq)
    val timedOut = searcher.searchWithTimeout("index engine data", 5,
      timeoutMs = 1)
    assert(timedOut.isEmpty)
  }

  test("reopen after append reuses old segments + doc LRU and serves " +
    "the new view (openIfChanged analog)") {
    val dir = tmpDir("graft-reopen-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 11L, 300),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "reopen")
    val s1 = new Searcher(spark, dir)
    val before = s1.search("spark data", 10).collect()
    assert(before.nonEmpty)
    // warm the doc LRU so carry-over is observable
    s1.docCached(before.take(3).map(_.getLong(0)).toSeq)
    IndexBuilder.appendSegment(spark, WebtextGen.df(spark, 12L, 100),
      SynonymDict.empty, dir)
    val s2 = s1.reopen()
    try {
      assert(s2.snapshot.segments.size == 2)
      assert(s2.reusedSegmentCount == 1) // the original segment carried
      assert(s2.documentCache eq s1.documentCache) // pure append: ids immutable
      assert(s2.docCount == 400 && s2.docCount == s1.docCount + 100)
      // the refreshed view is bit-identical to a cold open
      val cold = new Searcher(spark, dir)
      try {
        assert(s2.search("spark data", 10).collect().toSeq ==
          cold.search("spark data", 10).collect().toSeq)
      } finally cold.close()

      // a rebuild merge replaces segments and re-assigns dense ids:
      // reopen across it must NOT reuse relations or the doc cache
      IndexBuilder.merge(spark, dir, SynonymDict.empty,
        IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
      val s3 = s2.reopen()
      try {
        assert(s3.snapshot.segments.size == 1)
        assert(s3.reusedSegmentCount == 0)
        assert(!(s3.documentCache eq s2.documentCache))
        assert(s3.search("spark data", 10).collect().nonEmpty)
      } finally s3.close()
    } finally { s2.close(); s1.close() }
  }

  test("warmup capture + reopenWarm replay + file-sourced warmup (Q14)") {
    val dir = tmpDir("graft-warm-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 17L, 300),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        indexPositions = true), "warm")
    val s1 = new Searcher(spark, dir)
    // top-level requests capture, in least- to most-recent order, deduped
    s1.searchWand("spark data", 10, conjunctive = false).collect()
    s1.search("index model", 5, conjunctive = false,
      notQuery = Some("zebra")).collect()
    s1.searchPhrase("spark data", 10, slop = 1).collect()
    s1.searchWand("spark data", 10, conjunctive = false).collect() // re-run
    val captured = s1.warmupQueries
    assert(captured.size == 3, s"dedup failed: $captured")
    assert(captured.map(_.mode) == Seq("exact", "phrase", "wand"),
      "recency order: the re-run wand query must be most recent")
    assert(captured.last ==
      Searcher.WarmupQuery("spark data", "wand", conjunctive = false,
        10, 0, 0, None, 0))
    // filtered queries are NOT captured (Column has no replay form)
    s1.searchWand("spark", 10, conjunctive = false,
      filter = Some(org.apache.spark.sql.functions.col("lang") === "en"))
      .collect()
    assert(s1.warmupQueries.size == 3)

    // reopenWarm: successor is pre-warmed with the captured set and
    // serves identically to a cold open
    IndexBuilder.appendSegment(spark, WebtextGen.df(spark, 18L, 50),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        indexPositions = true))
    val s2 = s1.reopenWarm()
    val cold = new Searcher(spark, dir)
    try {
      assert(s2.totalSearchCount == 3, "replay must run the captured set")
      assert(s2.warmupQueries.toSet == captured.toSet,
        "replay re-captures so the set survives swap chains")
      assert(s2.searchWand("spark data", 10, conjunctive = false)
        .collect().toSeq ==
        cold.searchWand("spark data", 10, conjunctive = false)
          .collect().toSeq)
    } finally { cold.close(); s2.close() }

    // file-sourced warmup: parse + replay; malformed lines fail loudly
    val wf = java.nio.file.Paths.get(tmpDir("graft-warmfile-"), "w.tsv")
    java.nio.file.Files.writeString(wf,
      "# comment\nspark data\twand\tfalse\n" +
        "spark data\tphrase\ttrue\t5\t0\t1\n" +
        "index model\texact\tfalse\t10\t0\t0\tzebra\t0\n")
    val s3 = new Searcher(spark, dir)
    try {
      assert(s3.warmupFromFile(wf.toString) == 3)
      assert(s3.warmupQueries.size == 3)
      intercept[IllegalArgumentException](
        Searcher.WarmupQuery.parse("query-without-mode"))
      intercept[IllegalArgumentException](
        Searcher.WarmupQuery.parse("q\tbogus-mode"))
    } finally s3.close()
    s1.close()
  }

  test("graceful close drains in-flight searches and rejects new ones") {
    val dir = tmpDir("graft-close-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 13L, 300),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "close")
    val s = new Searcher(spark, dir)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val t = new Thread(() => {
      rows = s.searchCached("spark index data", 10); done.set(true)
    })
    t.start()
    // a cold query runs for ~seconds; observe it in flight, then close
    val deadline = System.nanoTime + 30L * 1000000000L
    while (s.activeSearchCount == 0 && !done.get &&
      System.nanoTime < deadline) Thread.sleep(1)
    s.close(drainMs = 60000L)
    t.join(60000L)
    // close waited: the in-flight query completed, was never cancelled
    assert(done.get && rows.nonEmpty)
    assert(s.isClosed && s.isClosePossible)
    // new searches are rejected LOUDLY after close, cached pages too
    intercept[IllegalArgumentException](s.search("spark", 5))
    intercept[IllegalArgumentException](s.searchCached("spark index data", 10))
    // idempotent second close
    s.close()
  }

  test("concurrent serving: N threads on one searcher return exactly " +
    "the sequential results (one serving session, shared caches)") {
    val queries = Seq("spark index" -> true, "data search" -> false,
      "lucene engine" -> false, "query model" -> false)
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val sequential = queries.map { case (q, conj) =>
      searcher.searchWand(q, 10, conjunctive = conj).collect().toSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // 3 rounds × 4 queries racing on the same searcher
      val futs = (1 to 3).flatMap(_ => queries).map { case (q, conj) =>
        pool.submit(new java.util.concurrent.Callable[(String, Seq[org.apache.spark.sql.Row])] {
          def call() = q -> searcher.searchWand(q, 10, conjunctive = conj)
            .collect().toSeq
        })
      }
      val byQuery = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      byQuery.foreach { case (q, rows) =>
        val want = sequential(queries.indexWhere(_._1 == q))
        assert(rows == want, s"concurrent result diverged for '$q'")
      }
      // serving never wrote the caller session's conf
      assert(spark.conf.getOption("spark.sql.adaptive.enabled") == prevAqe)
    } finally pool.shutdown()
  }

  test("LRU eviction respects capacity") {
    val c = new LruCache[Int, Int](2)
    c.put(1, 1); c.put(2, 2)
    c.get(1) // touch 1 → 2 is eldest
    c.put(3, 3)
    assert(c.get(2).isEmpty && c.get(1).contains(1) && c.get(3).contains(3))
  }

  override def afterAll(): Unit = {
    searcher.close()
    super.afterAll()
  }
}
