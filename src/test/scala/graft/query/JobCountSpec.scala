package graft.query

import graft.SparkTestBase
import graft.analysis.{SynonymDict, Tokenizer}
import graft.index.{FieldedIndex, IndexBuilder, IndexStore, WebtextGen}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Per-query latency is job-count-bound in local mode (invariant 7),
  * so the Spark jobs each warm serving call runs are pinned here. Every
  * call runs once to warm the searcher (persisted frames, dead-doc
  * count, term dictionaries, document LRU) and is counted on its second
  * run. The pins are the measured counts and upper bounds: a change may
  * lower them, never raise them. On the write path, `buildFull` and
  * `appendSegment` are pinned to absolute counts, and `appendSegment`
  * and `reopen` to job counts that do not grow with the root's segments
  * and deletion batches (invariant 26). */
class JobCountSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))

  private lazy val searcher: Searcher = {
    val dir = tmpDir("graft-jobs-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 42L, 600), dict, dir,
      IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4, saltDf = 200,
        saltFanout = 4, indexPositions = true), "jobs")
    new Searcher(spark, dir, dict)
  }

  /** Two fields (text, url) over one corpus. */
  private lazy val fielded: FieldedIndex.FieldedSearcher = {
    val dir = tmpDir("graft-jobs-fielded-")
    val fields = Seq(FieldedIndex.FieldSpec("text", col("text")),
      FieldedIndex.FieldSpec("url", col("url"),
        analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 43L, 300), fields,
      dir, IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
    new FieldedIndex.FieldedSearcher(spark, dir, fields)
  }

  private object Jobs extends SparkListener {
    @volatile var n = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val before = Jobs.n
    f
    ListenerBusDrain.drain(sc)
    Jobs.n - before
  }

  private def warmJobs(f: => Unit): Int = { jobsOf(f); jobsOf(f) }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Jobs)
  }

  test("warm serving calls run no more Spark jobs than pinned") {
    val K = 10
    val en = Some(col("lang") === "en")
    // exact paths: the page collect (warm pages fetch no stored
    // fields; every term — literal or expanded — resolves in the
    // driver-side dictionaries, no job), plus one broadcast per NOT set /
    // filter side, so an expansion query costs what a literal `search`
    // costs. Per-query term frames are lookups and start no job. The
    // suggesters rank on the driver and return a driver-local frame, so
    // their collect runs none. searchWand's
    // exact fallbacks (below wandMinDf, restricted single term) cost
    // what `search` costs; its WAND pipeline is candidates +
    // rescore/page (AND) and θ seed + the candidates' distinct().take
    // (2) + rescore/page (OR)
    val pinned = Seq(
      "search AND" -> (() => searcher.search("spark index", K), 1),
      "search OR" -> (() => searcher.search("spark index", K,
        conjunctive = false), 1),
      "search NOT" -> (() => searcher.search("spark index", K,
        notQuery = Some("fast")), 2),
      "search filter" -> (() => searcher.search("spark index", K,
        filter = en), 2),
      "searchBoolean" -> (() => searcher.searchBoolean("spark",
        "index fast", K), 1),
      "searchPrefix" -> (() => searcher.searchPrefix("IND", K), 1),
      "searchFuzzy" -> (() => searcher.searchFuzzy("INDEX", K), 1),
      "searchRegexp" -> (() => searcher.searchRegexp(".*NDE.*", K), 1),
      "searchTermRange" -> (() => searcher.searchTermRange(Some("IN"),
        Some("IZ"), K), 1),
      "searchWildcard" -> (() => searcher.searchWildcard("%NDE%", K), 1),
      "FieldedSearcher.searchQuery literal" -> (() => fielded.searchQuery(
        "text:index url:example", "text", K), 1),
      "FieldedSearcher.searchQuery prefix" -> (() => fielded.searchQuery(
        "text:ind* url:exa*", "text", K), 1),
      "suggest" -> (() => searcher.suggest("IN", K), 0),
      "suggestSpelling" -> (() => searcher.suggestSpelling("INDEKS", K), 0),
      "searchPhrase" -> (() => searcher.searchPhrase("spark index", K), 1),
      "searchQuery" -> (() => searcher.searchQuery("+spark index -fast", K),
        2),
      "searchWand term" -> (() => searcher.searchWand("spark", K), 1),
      "searchWand AND exact" -> (() => searcher.searchWand("spark index", K),
        1),
      "searchWand OR exact" -> (() => searcher.searchWand("spark index", K,
        conjunctive = false), 1),
      "searchWand NOT" -> (() => searcher.searchWand("spark index", K,
        notQuery = Some("fast")), 2),
      "searchWand filter" -> (() => searcher.searchWand("spark index", K,
        filter = en), 2),
      "searchWand AND pipeline" -> (() => searcher.searchWand("spark index",
        K, wandMinDf = 0L), 2),
      "searchWand OR pipeline" -> (() => searcher.searchWand("spark index",
        K, conjunctive = false, wandMinDf = 0L), 4),
      "searchWand AND filter pipeline" -> (() => searcher.searchWand(
        "spark index", K, filter = en, wandMinDf = 0L), 3),
      "searchWand OR NOT pipeline" -> (() => searcher.searchWand(
        "spark index", K, conjunctive = false, wandMinDf = 0L,
        notQuery = Some("fast")), 6))
    val over = pinned.flatMap { case (name, (call, max)) =>
      val n = warmJobs(call().collect())
      info(s"$name: $n jobs (pinned $max)")
      if (n > max) Some(s"$name ran $n jobs, pinned at most $max") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("a document LRU miss fetches the page in exactly one job") {
    val ids = searcher.search("spark index", 20, conjunctive = false)
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size >= 4, s"degenerate corpus: ${ids.size} matches")
    val (warm, cold) = ids.splitAt(ids.size / 2)
    searcher.documentCache.clear()
    searcher.docCached(warm)
    assert(jobsOf(searcher.docCached(cold)) == 1)
  }

  test("a literal-only query plans without a Spark job") {
    // building the scored frame resolves its terms and nothing else (the
    // scoring plan is lazy): warm, the lookups run on the driver's term
    // dictionaries and start no job
    assert(warmJobs(searcher.score("spark index data")) == 0)
    assert(warmJobs(searcher.scoreParsed(
      QueryParser.parse("spark +index -data"))) == 0)
  }

  test("an expansion query plans without a Spark job") {
    // the expansions scan the driver's term dictionaries: no probe job
    assert(warmJobs(searcher.scoreParsed(QueryParser.parse(
      "ind* spork~1 /.*ARK/ [DATA TO INDEX] -fas*"))) == 0)
  }

  test("AND and OR score plans fold on the pivot shape (no collect_list)") {
    for (conj <- Seq(true, false)) {
      val plan = searcher.score("spark index data", conjunctive = conj)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("collect_list"), s"conjunctive=$conj: $plan")
    }
  }

  // --- write path: bookkeeping reads are one read per call, never one
  // per segment or per batch, so their job counts do not grow with the
  // root's history ---

  private val writeCfg = IndexBuilder.IndexConfig(numParts = 8,
    rangeParts = 4, saltDf = 200, saltFanout = 4)
  private lazy val basePages = WebtextGen.pages(71L, 200)

  /** 40 fresh urls (tagged `tag`) plus 10 base urls re-crawled `day`
    * days later: every append upserts, so every append writes a dead
    * batch. */
  private def batch(tag: String, day: Int): DataFrame = {
    val upserts = basePages.zipWithIndex.collect {
      case (p, i) if i % 20 == 0 =>
        p.copy(warc_ts = new java.sql.Timestamp(
          p.warc_ts.getTime + day * 86400000L))
    }
    val fresh = (0 until 40).map { i =>
      val p = WebtextGen.page(72L + day, i.toLong)
      p.copy(url = s"https://$tag.example/page/$i")
    }
    toDf(upserts ++ fresh)
  }

  private def toDf(pages: Seq[WebtextGen.Page]): DataFrame = {
    import spark.implicits._
    pages.toDF()
  }

  /** A root of `1 + cycles` segments and `2 × cycles` deletion batches:
    * each cycle appends a [[batch]] and deletes 5 base urls. */
  private def churnedRoot(cycles: Int): String = {
    val root = tmpDir("graft-jobs-write-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, writeCfg)
    (1 to cycles).foreach { c =>
      IndexBuilder.appendSegment(spark, batch(s"cycle$c", c), dict, root,
        writeCfg)
      IndexBuilder.deleteByPk(spark, root, basePages.zipWithIndex.collect {
        case (p, i) if i % 20 == 1 + c => p.url
      }.take(5))
    }
    root
  }

  test("buildFull and appendSegment run no more jobs than pinned") {
    // the 200-doc build salts (saltDf = 200), the 50-doc append does not
    val root = tmpDir("graft-jobs-build-")
    val build = jobsOf(IndexBuilder.buildFull(spark, toDf(basePages), dict,
      root, writeCfg))
    val append = jobsOf(IndexBuilder.appendSegment(spark, batch("pin", 9),
      dict, root, writeCfg))
    info(s"buildFull: $build jobs, appendSegment: $append jobs")
    assert(build <= 14 && append <= 19, s"build $build, append $append")
  }

  test("an append of fewer docs than saltDf runs fewer jobs than one " +
    "that salts") {
    val under = tmpDir("graft-jobs-salt-under-")
    val all = tmpDir("graft-jobs-salt-all-")
    Seq(under, all).foreach(r =>
      IndexBuilder.buildFull(spark, toDf(basePages), dict, r, writeCfg))
    val n = batch("salt", 9).count()
    assert(n < writeCfg.saltDf, s"batch of $n docs")
    val below = jobsOf(IndexBuilder.appendSegment(spark, batch("salt", 9),
      dict, under, writeCfg))
    val salted = jobsOf(IndexBuilder.appendSegment(spark, batch("salt", 9),
      dict, all, writeCfg.copy(saltDf = 1)))
    info(s"append of $n docs: $below jobs below saltDf, $salted at saltDf = 1")
    assert(below < salted)
  }

  test("appendSegment runs as many jobs on a 4-segment root with 6 " +
    "deletion batches as on a 1-segment root") {
    val fresh = churnedRoot(0)
    val churned = churnedRoot(3)
    val snap = IndexStore.readLatestSnapshot(spark, churned).get
    assert(snap.segments.size == 4 &&
      snap.deadBatches.size + snap.tombstones.size == 6, snap)
    val onFresh = jobsOf(IndexBuilder.appendSegment(spark,
      batch("last", 9), dict, fresh, writeCfg))
    val onChurned = jobsOf(IndexBuilder.appendSegment(spark,
      batch("last", 9), dict, churned, writeCfg))
    info(s"appendSegment: $onFresh jobs on 1 segment, $onChurned on 4")
    assert(onChurned == onFresh)
  }

  test("reopen after one append runs at most one job, whatever the " +
    "number of segments and batches") {
    val counts = Seq(0, 3).map { cycles =>
      val root = churnedRoot(cycles)
      val s = new Searcher(spark, root, dict)
      try {
        s.search("spark index", 10).collect()
        IndexBuilder.appendSegment(spark, batch("next", 9), dict, root,
          writeCfg)
        var next: Searcher = null
        val n = jobsOf { next = s.reopen() }
        try {
          info(s"reopen on ${cycles + 1} segment(s): $n jobs")
          assert(next.reusedSegmentCount == cycles + 1)
        } finally next.close()
        cycles + 1 -> n
      } finally s.close()
    }
    assert(counts.forall(_._2 <= 1), s"(segments, jobs): $counts")
  }

  test("after an append and a reopen, the first literal query loads the " +
    "new segment's dictionary in one job and the second runs none") {
    val root = churnedRoot(1)
    val s = new Searcher(spark, root, dict)
    try {
      s.search("spark index", 10).collect()
      IndexBuilder.appendSegment(spark, batch("next", 9), dict, root,
        writeCfg)
      val next = s.reopen()
      try {
        val added = next.snapshot.segments.filterNot(s.snapshot.segments.contains)
        assert(added.size == 1, next.snapshot.segments)
        // the new dead batch and segment only, against the tombstones,
        // in one job: the tombstone semi-join is shuffled, not broadcast
        assert(jobsOf(next.numDeletedDocs) == 1)
        assert(jobsOf(next.score("spark index")) == 1)
        assert(next.termDictSegmentsRead == added)
        assert(jobsOf(next.score("spark index")) == 0)
      } finally next.close()
    } finally s.close()
  }

  test("a warm search runs one job on a root with dead and tombstone " +
    "batches, as on a clean root") {
    val counts = Seq(0, 3).map { cycles =>
      val s = new Searcher(spark, churnedRoot(cycles), dict)
      try {
        assert((s.numDeletedDocs > 0) == (cycles > 0))
        warmJobs(s.search("spark index", 10).collect())
      } finally s.close()
    }
    assert(counts == Seq(1, 1), s"(clean, churned) jobs: $counts")
  }

  test("reopen plus numDeletedDocs after an append reads only the new " +
    "segment's docstore; after an append and a delete, every docstore " +
    "against the tombstones") {
    val root = churnedRoot(3)
    var s = new Searcher(spark, root, dict)
    try {
      s.numDeletedDocs
      def cycle(delete: Boolean): (Int, Seq[String], Seq[String]) = {
        IndexBuilder.appendSegment(spark, batch(s"next$delete", 9), dict,
          root, writeCfg)
        if (delete) IndexBuilder.deleteByPk(spark, root,
          basePages.take(3).map(_.url))
        var next: Searcher = null
        val n = jobsOf { next = s.reopen(); next.numDeletedDocs }
        s.close()
        s = next
        val added = next.snapshot.segments.last
        (n, next.liveDocs.docstoresRead,
          next.snapshot.segments.filterNot(_ == added))
      }
      val (appendJobs, appendRead, _) = cycle(delete = false)
      info(s"append: $appendJobs jobs, read $appendRead")
      assert(appendJobs <= 2)
      assert(appendRead == Seq(s.snapshot.segments.last))
      val (deleteJobs, deleteRead, carried) = cycle(delete = true)
      info(s"append + delete: $deleteJobs jobs, read $deleteRead")
      assert(deleteJobs <= 2)
      assert(carried.forall(deleteRead.contains))
    } finally s.close()
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Jobs)
    searcher.close()
    fielded.close()
    super.afterAll()
  }
}
