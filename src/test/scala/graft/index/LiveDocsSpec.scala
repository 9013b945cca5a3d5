package graft.index

import java.sql.Timestamp

import graft.SparkTestBase
import graft.analysis.{SynonymDict, Tokenizer}
import graft.query.Searcher
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.roaringbitmap.longlong.Roaring64NavigableMap
import org.scalatest.funsuite.AnyFunSuite

/** [[LiveDocs]] is the one dead-set rule: the set a `reopen` carries
  * forward equals a fresh open's and a model's (latest-wins losers plus
  * tombstoned urls over the rows the snapshot's segments hold) at every
  * step of a write history, on every snapshot a tiered compaction
  * leaves, on a time-travel open and on every field of a fielded root. */
class LiveDocsSpec extends AnyFunSuite with SparkTestBase {

  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
  private val dayMs = 86400000L
  private lazy val basePages = WebtextGen.pages(61L, 150)

  private def toDf(pages: Seq[WebtextGen.Page]): DataFrame = {
    import spark.implicits._
    pages.toDF()
  }

  /** 20 fresh urls tagged `tag` plus the base urls `i % 10 == day`
    * re-crawled `day` days later. */
  private def batch(tag: String, day: Int): DataFrame =
    toDf(basePages.zipWithIndex.collect { case (p, i) if i % 10 == day =>
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + day * dayMs))
    } ++ (0 until 20).map(i => WebtextGen.page(62L + day, i.toLong)
      .copy(url = s"https://$tag.example/page/$i")))

  private def deleteBase(root: String, slot: Int): Unit =
    IndexBuilder.deleteByPk(spark, root, basePages.zipWithIndex.collect {
      case (p, i) if i % 10 == slot => p.url
    }.take(6))

  private def ids(ld: LiveDocs): Set[Long] = ld.dead.toArray.toSet

  /** The dead ids of `snap` from scratch: every row of its segments
    * that loses the latest-wins order, plus every row whose url one of
    * its tombstone batches names. */
  private def model(root: String, snap: IndexStore.Snapshot): Set[Long] = {
    val rows = snap.segments.map(s =>
        spark.read.parquet(IndexStore.docstorePath(root, s)))
      .reduce(_ unionByName _).select("doc_id", "url", "warc_ts")
    val latest = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    val losers = rows.withColumn("rn", row_number().over(latest))
      .filter(col("rn") > 1).select("doc_id")
    val tombstoned =
      if (snap.tombstones.isEmpty) losers.limit(0)
      else rows.join(snap.tombstones.map(t =>
          spark.read.parquet(s"$root/tombstones/$t")).reduce(_ union _),
        Seq("url"), "left_semi").select("doc_id")
    losers.union(tombstoned).collect().map(_.getLong(0)).toSet
  }

  /** `s`'s set equals a fresh open's of its snapshot and the model's;
    * returns it. */
  private def assertSet(s: Searcher, label: String): Set[Long] = {
    val fresh = new Searcher(spark, s.root, dict,
      snapshotId = Some(s.snapshot.id))
    try {
      val want = model(s.root, s.snapshot)
      val got = ids(s.liveDocs)
      assert(got == want, s"$label: only-set=${(got -- want).take(5)} " +
        s"only-model=${(want -- got).take(5)}")
      assert(ids(fresh.liveDocs) == want, s"$label: fresh open")
      assert(s.numDeletedDocs == want.size.toLong, label)
      assert(s.numDocs == s.maxDoc - want.size, label)
      got
    } finally fresh.close()
  }

  test("the set reopen carries equals a fresh open's and the model's " +
    "through appends, upserts, deletes and both compactions") {
    val root = tmpDir("graft-livedocs-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, cfg)
    var s = new Searcher(spark, root, dict)
    assertSet(s, "fresh build")
    def step(label: String)(write: => Unit): Searcher = {
      write
      val next = s.reopen()
      s.close()
      s = next
      assertSet(s, label)
      s
    }
    // an append of upserts reads the new segment and batch only
    val added = step("append with upserts") {
      IndexBuilder.appendSegment(spark, batch("a", 1), dict, root, cfg)
    }.snapshot.segments.last
    assert(s.liveDocs.docstoresRead == Seq(added), s.liveDocs.docstoresRead)
    step("delete") { deleteBase(root, 2) }
    step("append re-crawling a deleted url") {
      IndexBuilder.appendSegment(spark, batch("b", 2), dict, root, cfg)
    }
    step("append + delete") {
      IndexBuilder.appendSegment(spark, batch("c", 3), dict, root, cfg)
      deleteBase(root, 1) // urls upserted by the first append
    }
    val before = IndexStore.readLatestSnapshot(spark, root).get.id
    step("mergeCompactTiered") {
      val reps = IndexBuilder.mergeCompactTiered(spark, root, dict, cfg,
        tierFanin = 2)
      assert(reps.size >= 2, reps.map(_.segment))
    }
    assert(s.numDeletedDocs == 0L)
    // every snapshot the schedule left between its passes: the set counts
    // no id whose row a pass dropped, though the batches still name them
    val passes = (before + 1) until s.snapshot.id
    assert(passes.nonEmpty)
    passes.foreach { id =>
      val t = new Searcher(spark, root, dict, snapshotId = Some(id))
      try {
        assert(t.snapshot.deadBatches.nonEmpty && t.snapshot.tombstones.nonEmpty)
        val present = t.docstore.select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids(t.liveDocs).subsetOf(present), s"snapshot $id")
        assertSet(t, s"tier pass snapshot $id")
      } finally t.close()
    }
    step("append + delete after compaction") {
      IndexBuilder.appendSegment(spark, batch("d", 4), dict, root, cfg)
      deleteBase(root, 5)
    }
    step("mergeCompact") { IndexBuilder.mergeCompact(spark, root, dict, cfg) }
    assert(s.numDeletedDocs == 0L)
    s.close()
  }

  test("a time-travel open gets its own set, and reopening it reaches " +
    "the latest set") {
    val root = tmpDir("graft-livedocs-tt-")
    IndexBuilder.buildFull(spark, toDf(basePages), dict, root, cfg)
    IndexBuilder.appendSegment(spark, batch("a", 1), dict, root, cfg)
    val early = IndexStore.readLatestSnapshot(spark, root).get.id
    deleteBase(root, 3)
    IndexBuilder.appendSegment(spark, batch("b", 2), dict, root, cfg)
    val latest = new Searcher(spark, root, dict)
    val old = new Searcher(spark, root, dict, snapshotId = Some(early))
    try {
      val oldSet = assertSet(old, "time travel")
      val latestSet = assertSet(latest, "latest")
      assert(oldSet != latestSet && oldSet.nonEmpty)
      val reopened = old.reopen()
      try assert(assertSet(reopened, "reopened time travel") == latestSet)
      finally reopened.close()
    } finally { latest.close(); old.close() }
  }

  test("a fielded root gives the same set on every field") {
    val root = tmpDir("graft-livedocs-fld-")
    val fields = Seq(FieldedIndex.FieldSpec("text", col("text")),
      FieldedIndex.FieldSpec("url", col("url"), analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, toDf(basePages), fields, root, cfg)
    FieldedIndex.append(spark, batch("a", 1), fields, root, cfg)
    import spark.implicits._
    FieldedIndex.deleteByPk(spark, root, fields,
      basePages.take(7).map(_.url).toDF("url"))
    val fs = new FieldedIndex.FieldedSearcher(spark, root, fields)
    try {
      val sets = fields.map(f => assertSet(fs.searcher(f.name), f.name))
      assert(sets.distinct.size == 1 && sets.head.nonEmpty, sets.map(_.size))
      FieldedIndex.append(spark, batch("b", 2), fields, root, cfg)
      val next = fs.reopen()
      try {
        val carried = fields.map(f => assertSet(next.searcher(f.name), f.name))
        assert(carried.distinct.size == 1 && carried.head.size > sets.head.size)
      } finally next.close()
    } finally fs.close()
  }

  test("a dead set of 20M dense ids serializes under 4 MB") {
    val m = new Roaring64NavigableMap()
    var id = 0L
    while (id < 20000000L) { m.addLong(id); id += 1 }
    // as built row by row, before the run compression a load applies,
    // and as a task ships it
    assert(m.serializedSizeInBytes < 4L * 1024 * 1024, m.serializedSizeInBytes)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(m)
    out.close()
    assert(bytes.size < 4 * 1024 * 1024, bytes.size)
    assert(m.getLongCardinality == 20000000L)
  }
}
