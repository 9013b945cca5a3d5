package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, IndexStore, WebtextGen}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The per-segment term dictionaries a Searcher holds on the driver
  * answer every literal term lookup: they must agree with the global
  * term_stats frame (Σ df, max max_tf, min min_dl across segments) on
  * every root shape the write path produces, load once however many
  * callers race the first lookup, and refuse a segment that holds a
  * term twice. */
class TermDictionarySpec extends AnyFunSuite with SparkTestBase {

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))
  private val cfg = IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
    saltDf = 200, saltFanout = 4)
  private lazy val basePages = WebtextGen.pages(81L, 200)

  private def toDf(pages: Seq[WebtextGen.Page]): DataFrame = {
    import spark.implicits._
    pages.toDF()
  }

  /** 30 fresh urls plus 10 base urls re-crawled `day` days later. */
  private def upsertBatch(day: Int): DataFrame = {
    val upserts = basePages.zipWithIndex.collect {
      case (p, i) if i % 20 == day =>
        p.copy(warc_ts = new java.sql.Timestamp(
          p.warc_ts.getTime + day * 86400000L))
    }
    val fresh = (0 until 30).map { i =>
      WebtextGen.page(82L + day, i.toLong)
        .copy(url = s"https://day$day.example/page/$i")
    }
    toDf(upserts ++ fresh)
  }

  private def deleteSome(root: String, day: Int): Unit =
    IndexBuilder.deleteByPk(spark, root, basePages.zipWithIndex.collect {
      case (p, i) if i % 20 == 10 + day => p.url
    })

  /** Every term of the frame looks up to the frame's aggregate row, and
    * terms the frame lacks look up to nothing. */
  private def assertMatchesFrame(s: Searcher, label: String): Unit = {
    val frame = s.termStats.select("term", "df", "max_tf", "min_dl")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    assert(frame.size > 100, s"$label: degenerate vocabulary ${frame.size}")
    val looked = s.termIdfs(frame.keys.toSeq)
      .map(i => i.term -> ((i.df, i.maxTf, i.minDl))).toMap
    val wrong = frame.filter { case (t, v) => !looked.get(t).contains(v) }
    assert(wrong.isEmpty && looked.size == frame.size, s"$label: " +
      s"${wrong.take(5).map { case (t, v) => s"$t frame=$v dict=${looked.get(t)}" }}")
    val absent = (frame.keys.take(50).map(_ + "#") ++
      Seq("NOTATERMANYWHERE", "", "\u0000")).filterNot(frame.contains).toSeq
    assert(s.termIdfs(absent).isEmpty, s"$label: absent terms found")
  }

  test("dictionary lookups equal the term_stats aggregate across " +
    "appends, deletes, a tiered and a full mergeCompact") {
    val root = tmpDir("graft-dict-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, cfg)
    IndexBuilder.appendSegment(spark, upsertBatch(1), dict, root, cfg)
    deleteSome(root, 1)
    var s = new Searcher(spark, root, dict)
    def step(label: String)(write: => Unit): Unit = {
      write
      val next = s.reopen()
      s.close()
      s = next
      assertMatchesFrame(s, label)
    }
    try {
      assertMatchesFrame(s, "2 segments, upserted and deleted")
      step("3 segments after a reopen") {
        IndexBuilder.appendSegment(spark, upsertBatch(2), dict, root, cfg)
      }
      step("tiered mergeCompact") {
        IndexBuilder.appendSegment(spark, upsertBatch(3), dict, root, cfg)
        deleteSome(root, 3)
        IndexBuilder.mergeCompactTiered(spark, root, dict, cfg, tierFanin = 2)
      }
      step("full mergeCompact") {
        IndexBuilder.appendSegment(spark, upsertBatch(4), dict, root, cfg)
        deleteSome(root, 4)
        IndexBuilder.mergeCompact(spark, root, dict, cfg)
      }
      val fresh = new Searcher(spark, root, dict)
      try assertMatchesFrame(fresh, "a fresh open")
      finally fresh.close()
    } finally s.close()
  }

  private object Jobs extends SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
  }

  test("8 threads racing the first lookup load the dictionaries in one job") {
    val root = tmpDir("graft-dict-race-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, cfg)
    IndexBuilder.appendSegment(spark, upsertBatch(1), dict, root, cfg)
    val s = new Searcher(spark, root, dict)
    // an indexed term, from the frame (its scan loads no dictionary)
    val term = s.termStats.select("term").head().getString(0)
    val sc = spark.sparkContext
    sc.addSparkListener(Jobs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      ListenerBusDrain.drain(sc)
      val before = Jobs.n.get
      val futs = (0 until 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[s.TermInfo]] {
          def call(): Seq[s.TermInfo] = { start.await(); s.termIdfs(Seq(term)) }
        }))
      start.countDown()
      val got = futs.map(_.get().map(i => (i.term, i.df, i.idf)))
      ListenerBusDrain.drain(sc)
      assert(Jobs.n.get - before == 1)
      assert(got.distinct.size == 1 && got.head.nonEmpty, got)
      assert(s.termDictSegmentsRead == s.snapshot.segments)
    } finally {
      pool.shutdown()
      sc.removeSparkListener(Jobs)
      s.close()
    }
  }

  test("a segment holding a term twice fails the load, naming the segment") {
    val root = tmpDir("graft-dict-dup-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, cfg)
    val seg = IndexStore.readLatestSnapshot(spark, root).get.segments.head
    val path = IndexStore.termStatsPath(root, seg)
    val row = IndexStore.read(spark, IndexStore.Table.TermStats, path)
      .limit(1).collect()
    spark.createDataFrame(java.util.Arrays.asList(row: _*),
        IndexStore.Table.TermStats.schema)
      .write.mode("append").parquet(path)
    val s = new Searcher(spark, root, dict)
    try {
      val e = intercept[IllegalStateException](s.termIdfs(Seq("SPARK")))
      assert(e.getMessage.contains(seg) &&
        e.getMessage.contains(row.head.getString(0)), e.getMessage)
    } finally s.close()
  }
}
