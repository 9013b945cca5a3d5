package graft.index

import java.sql.Timestamp

import graft.SparkTestBase
import graft.analysis.{SynonymDict, TextExtract, Tokenizer}
import graft.golden.GoldenBM25
import graft.query.Searcher
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** Incremental indexing (SURVEY.md §7 step 5): APPEND segments with
  * PK-upsert latest-wins, tombstone deletes, and the distributed merge —
  * verified against a golden model that mirrors Lucene's
  * deleted-docs-still-in-stats behavior, and against a from-scratch
  * rebuild after merge. */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val N = 400 // batch 1 size
  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(
    numParts = 8, rangeParts = 4, saltDf = 100, saltFanout = 4)

  private val dayMs = 86400000L

  private val batch1: Seq[WebtextGen.Page] = WebtextGen.pages(Seed, N)

  /** 10% of batch-1 urls re-crawled a day later with new content, plus 40
    * brand-new pages (FIXTURES.md §1 PK/upsert rule). */
  private val batch2: Seq[WebtextGen.Page] = {
    val upserts = batch1.zipWithIndex.collect { case (p, i) if i % 10 == 0 =>
      val fresh = WebtextGen.page(Seed + 7777, i.toLong)
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + dayMs),
        html = fresh.html, text = null, lang = fresh.lang)
    }
    val newPages = (N until N + 40).map(i => WebtextGen.page(Seed, i.toLong))
    upserts ++ newPages
  }

  private val deletedUrls: Seq[String] =
    batch1.zipWithIndex.collect { case (p, i) if i % 10 == 1 => p.url }.take(5)

  private def toDf(pages: Seq[WebtextGen.Page]) = {
    import spark.implicits._
    pages.toDF()
  }

  /** Golden docs with engine id assignment: per segment, url-sorted rank
    * offset by the previous maxDoc. */
  private def goldenDocs(segments: Seq[Seq[WebtextGen.Page]]): Vector[GoldenBM25.Doc] = {
    var base = 0L
    segments.flatMap { seg =>
      val docs = seg.map { p =>
        val text = if (p.text != null) p.text else TextExtract.extractText(p.html)
        (p.url, p.lang, dict.expand(Tokenizer.tokenize(text).toIndexedSeq))
      }.sortBy(_._1).zipWithIndex.map { case ((u, l, t), i) =>
        GoldenBM25.Doc(base + i, u, l, t)
      }
      base += seg.size
      docs
    }.toVector
  }

  test("append + upsert + delete: engine matches golden with Lucene-like " +
    "dead-docs-in-stats semantics") {
    val root = tmpDir("graft-inc-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "batch1")
    IndexBuilder.appendSegment(spark, toDf(batch2), dict, root, cfg, "batch2")
    IndexBuilder.deleteByPk(spark, root, deletedUrls)

    val all = goldenDocs(Seq(batch1, batch2))
    val upsertedUrls = batch2.map(_.url).toSet
    val dead: Set[Long] = all.filter { d =>
      (d.docId < batch1.size && upsertedUrls.contains(d.url)) || // superseded
        deletedUrls.contains(d.url)                              // tombstoned
    }.map(_.docId).toSet
    // stats (N, avgdl, df) include dead docs until merge — golden model
    // is built over ALL docs, dead ones only filtered from results
    val golden = new GoldenBM25.Model(all)

    val s = new Searcher(spark, root, dict)
    try {
      assert(s.maxDoc == all.size.toLong)
      assert(s.numDocs == (all.size - dead.size).toLong)
      for (q <- Seq("spark", "index data", "w200", "nike")) {
        val terms = golden.analyze(q, dict)
        val g = golden.topK(terms, 10, filter = d => !dead(d.docId))
          .map(h => (h.docId, h.score))
        val e = s.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(e == g, s"query '$q'")
      }
      // a deleted url must never surface
      val hits = s.search("spark", all.size).select("url")
        .collect().map(_.getString(0)).toSet
      assert(deletedUrls.forall(u => !hits.contains(u)))
    } finally s.close()
  }

  test("majority-superseded corpus: the deadDocs anti-join falls back " +
    "from broadcast to shuffle above the size gate with identical results") {
    // EVERY batch-1 url re-crawled ⇒ dead set ≈ half the corpus — the
    // pre-merge churn profile where a forced broadcast would OOM at scale
    val reb = batch1.map { p =>
      val fresh = WebtextGen.page(Seed + 9999, p.url.hashCode.toLong & 0xFFFF)
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + dayMs),
        html = fresh.html, text = null, lang = fresh.lang)
    }
    val root = tmpDir("graft-churn-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    IndexBuilder.appendSegment(spark, toDf(reb), dict, root, cfg, "b2")
    val sBroadcast = new Searcher(spark, root, dict) // default: broadcast
    val sShuffle = new Searcher(spark, root, dict,
      maxBroadcastDeadDocs = 0L) // gate forces the shuffle anti-join
    try {
      assert(sShuffle.numDocs == batch1.size.toLong) // half the corpus dead
      for (q <- Seq("spark", "index data")) {
        val eb = sBroadcast.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val es = sShuffle.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(eb == es, s"query '$q'")
        assert(eb.nonEmpty)
      }
      // the LeftAnti join (the dead-docs filter) must carry the broadcast
      // hint only below the gate — line-level check because the idf join
      // is legitimately broadcast in both plans
      def antiHasBroadcastHint(s: Searcher): Boolean =
        s.score("spark").queryExecution.optimizedPlan.toString
          .linesIterator.exists(l =>
            l.contains("LeftAnti") && l.contains("broadcast"))
      assert(antiHasBroadcastHint(sBroadcast))
      assert(!antiHasBroadcastHint(sShuffle),
        "dead-docs broadcast hint survived the size gate")
    } finally { sBroadcast.close(); sShuffle.close() }
  }

  test("mass deletion: tombstones stay distributed — DataFrame deleteByPk, " +
    "parquet batch, and a semi-join that drops the broadcast hint above " +
    "the size gate") {
    val root = tmpDir("graft-tomb-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    // a GDPR-style purge: 1/3 of the corpus, issued as a DataFrame so the
    // url set never materializes on the driver
    import spark.implicits._
    val purged = batch1.zipWithIndex.collect { case (p, i) if i % 3 == 0 => p.url }
    IndexBuilder.deleteByPk(spark, root, purged.toDF("url"))
    val sBroadcast = new Searcher(spark, root, dict) // default gate
    val sShuffle = new Searcher(spark, root, dict, maxBroadcastDeadDocs = 0L)
    try {
      assert(sShuffle.numDocs == (batch1.size - purged.size).toLong)
      for (q <- Seq("spark", "index data")) {
        val eb = sBroadcast.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val es = sShuffle.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(eb == es && eb.nonEmpty, s"query '$q'")
      }
      // no purged url survives
      val hits = sShuffle.search("spark", batch1.size).select("url")
        .collect().map(_.getString(0)).toSet
      assert(purged.forall(u => !hits.contains(u)))
      // the tombstone semi-join carries the broadcast hint only below the
      // gate (analyzed plan: deadDocs is persisted, so the optimized plan
      // would already be cache-substituted)
      def semiBroadcastHinted(s: Searcher): Boolean =
        s.deadDocs.queryExecution.analyzed.toString.contains("broadcast")
      assert(semiBroadcastHinted(sBroadcast))
      assert(!semiBroadcastHinted(sShuffle),
        "tombstone broadcast hint survived the size gate")
    } finally { sBroadcast.close(); sShuffle.close() }
  }

  test("merge inherits the index's identity knobs (analyzer, positions, " +
    "facets) from the stored segment configs — a default-config merge " +
    "must not downgrade the index") {
    val root = tmpDir("graft-mergeid-")
    val posCfg = cfg.copy(indexPositions = true, buildFacets = true,
      analyzer = graft.analysis.Tokenizer.Keyword)
    IndexBuilder.buildFull(spark, toDf(batch1.take(80)), dict, root, posCfg, "b1")
    IndexBuilder.appendSegment(spark, toDf(batch2.take(20)), dict, root, posCfg, "b2")
    // merge with the DEFAULT config: identity must come from the index
    IndexBuilder.merge(spark, root, dict)
    val s = new Searcher(spark, root, dict)
    try {
      assert(s.positionsIndexed, "merge dropped positions")
      assert(s.analyzerMode == graft.analysis.Tokenizer.Keyword,
        "merge rewrote the analyzer")
      assert(s.facetsTable.nonEmpty, "merge dropped the facets sidecar")
      // and the merged index still serves positional queries
      assert(s.searchPhrase("spark", 100).count() > 0)
    } finally s.close()
  }

  test("mergeCompact: posting-level blob merge ≡ rebuild merge (same " +
    "stats, same results by url), no re-analysis, positions survive, " +
    "appends after compaction stay collision-free") {
    val rootA = tmpDir("graft-mcA-") // posting-level compact
    val rootB = tmpDir("graft-mcB-") // rebuild merge (the reference plan)
    val posCfg = cfg.copy(indexPositions = true)
    for (r <- Seq(rootA, rootB)) {
      IndexBuilder.buildFull(spark, toDf(batch1), dict, r, posCfg, "b1")
      IndexBuilder.appendSegment(spark, toDf(batch2), dict, r, posCfg, "b2")
      IndexBuilder.deleteByPk(spark, r, deletedUrls)
    }
    val repA = IndexBuilder.mergeCompact(spark, rootA, dict, posCfg)
    IndexBuilder.merge(spark, rootB, dict, posCfg)
    // the compact path must never re-analyze or re-assign ids
    assert(!repA.phases.map(_._1).exists(p =>
      p.contains("analyze") || p.contains("sort_dedup_assign")),
      s"compact ran a rebuild phase: ${repA.phases.map(_._1)}")
    val sA = new Searcher(spark, rootA, dict)
    val sB = new Searcher(spark, rootB, dict)
    try {
      assert(sA.snapshot.segments.size == 1 && sA.snapshot.tombstones.isEmpty)
      assert(sA.docCount == sB.docCount && sA.numDocs == sB.numDocs)
      assert(sA.avgdl == sB.avgdl)
      // identical global term statistics (df, ttf, WAND bound inputs)
      def stats(s: Searcher) = s.termStats.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getInt(4))).toSet
      assert(stats(sA) == stats(sB))
      // identical result SETS by (url, score) — doc_ids legitimately
      // differ (compact keeps originals with gaps, rebuild reassigns),
      // so rank-k membership under score ties is id-dependent; the full
      // scored sets must agree exactly
      def full(s: Searcher, q: String) = s.search(q, 2000)
        .select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      for (q <- Seq("spark", "index data", "w200", "nike"))
        assert(full(sA, q) == full(sB, q), s"query '$q'")
      // WAND through the compacted (gappy-id) index stays exact
      val w = sA.searchWand("spark index", 10).select("url", "score")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val e = sA.search("spark index", 10).select("url", "score")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(w == e)
      // phrase queries through the compacted positional postings
      def phr(s: Searcher) = s.searchPhrase("spark index", 2000)
        .select("url", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      assert(phr(sA) == phr(sB) && phr(sA).nonEmpty)
    } finally { sA.close(); sB.close() }
    // append AFTER compaction: new ids must start at the id ceiling —
    // above every surviving id, despite the gaps
    val batch3 = (1000 until 1040).map(i => WebtextGen.page(Seed, i.toLong))
    IndexBuilder.appendSegment(spark, toDf(batch3), dict, rootA, posCfg, "b3")
    val s3 = new Searcher(spark, rootA, dict)
    try {
      val snap = s3.snapshot
      val newSeg = snap.segments.last
      val oldMax = spark.read.parquet(
        IndexStore.docstorePath(rootA, snap.segments.head))
        .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
      val newMin = spark.read.parquet(IndexStore.docstorePath(rootA, newSeg))
        .agg(org.apache.spark.sql.functions.min("doc_id")).head().getLong(0)
      assert(newMin > oldMax, s"append base collided: $newMin <= $oldMax")
      assert(s3.search("spark", 5).count() > 0)
    } finally s3.close()
  }

  test("mergeCompact with no dead docs: single-source blobs pass through " +
    "byte-identical (no decode, no re-encode)") {
    val root = tmpDir("graft-mcpt-")
    // two append-only batches with disjoint urls — nothing superseded
    val b2 = (N until N + 100).map(i => WebtextGen.page(Seed, i.toLong))
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    IndexBuilder.appendSegment(spark, toDf(b2), dict, root, cfg, "b2")
    val oldSegs = new Searcher(spark, root, dict).snapshot.segments
    // single-source (part, term) groups before the merge, with their blob
    val before = oldSegs.map(s =>
        spark.read.parquet(IndexStore.postingsPath(root, s)))
      .reduce(_ unionByName _)
      .select("part", "term", "blob").collect()
      .groupBy(r => (r.getInt(0), r.getString(1)))
      .collect { case (k, rows) if rows.length == 1 =>
        k -> rows.head.getAs[Array[Byte]]("blob") }
    assert(before.nonEmpty)
    IndexBuilder.mergeCompact(spark, root, dict, cfg)
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    val after = spark.read.parquet(
        IndexStore.postingsPath(root, snap.segments.head))
      .select("part", "term", "blob").collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        r.getAs[Array[Byte]]("blob")).toMap
    before.foreach { case (k, blob) =>
      assert(java.util.Arrays.equals(after(k), blob),
        s"blob for $k was re-encoded on the no-dead passthrough path")
    }
  }

  test("merge compacts to the logical view: identical to a from-scratch " +
    "build over the surviving pages") {
    val root = tmpDir("graft-merge-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "batch1")
    IndexBuilder.appendSegment(spark, toDf(batch2), dict, root, cfg, "batch2")
    IndexBuilder.deleteByPk(spark, root, deletedUrls)
    IndexBuilder.merge(spark, root, dict, cfg)

    // logical corpus: batch2 wins on upserts, deletes removed
    val byUrl = scala.collection.mutable.LinkedHashMap.empty[String, WebtextGen.Page]
    (batch1 ++ batch2).foreach(p => byUrl(p.url) = p) // batch2 overwrites
    deletedUrls.foreach(byUrl.remove)
    val survivors = byUrl.values.toSeq

    val fresh = tmpDir("graft-fresh-")
    IndexBuilder.buildFull(spark, toDf(survivors), dict, fresh, cfg, "survivors")

    val sm = new Searcher(spark, root, dict)
    val sf = new Searcher(spark, fresh, dict)
    try {
      assert(sm.snapshot.segments.size == 1 && sm.snapshot.tombstones.isEmpty)
      assert(sm.docCount == sf.docCount && sm.avgdl == sf.avgdl)
      for (q <- Seq("spark", "index data", "w200")) {
        val em = sm.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val ef = sf.search(q, 10).select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(em == ef, s"query '$q'")
      }
    } finally { sm.close(); sf.close() }
  }

  test("chunked posting blobs: a tiny maxBlobPostings build stores head " +
    "terms as multiple rows per (part, term) and is search-identical — " +
    "exact, WAND-pruned, and through append + compact") {
    val tiny = cfg.copy(maxBlobPostings = 8, indexPositions = true)
    val whole = cfg.copy(indexPositions = true)
    val rootC = tmpDir("graft-chunk-")
    val rootW = tmpDir("graft-whole-")
    for ((c, r) <- Seq((tiny, rootC), (whole, rootW))) {
      IndexBuilder.buildFull(spark, toDf(batch1), dict, r, c, "b1")
      IndexBuilder.appendSegment(spark, toDf(batch2), dict, r, c, "b2")
      IndexBuilder.deleteByPk(spark, r, deletedUrls)
      IndexBuilder.mergeCompact(spark, r, dict, c)
    }
    // head terms really are chunked: > 1 row for some (part, term)
    val snapC = IndexStore.readLatestSnapshot(spark, rootC).get
    val multi = spark.read
      .parquet(IndexStore.postingsPath(rootC, snapC.segments.head))
      .groupBy("part", "term").count().filter(col("count") > 1).count()
    assert(multi > 0, "expected multi-row chunked terms at maxBlobPostings=8")
    val sC = new Searcher(spark, rootC, dict)
    val sW = new Searcher(spark, rootW, dict)
    try {
      def page(s: Searcher, q: String, wand: Boolean) =
        (if (wand) s.searchWand(q, 10, conjunctive = false, wandMinDf = 0)
         else s.search(q, 10, conjunctive = false))
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      for (q <- Seq("spark", "index data", "w200", "nike shoes")) {
        assert(page(sC, q, wand = false) == page(sW, q, wand = false), s"exact '$q'")
        assert(page(sC, q, wand = true) == page(sW, q, wand = true), s"wand '$q'")
      }
      val pC = sC.searchPhrase("big data", 10).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pW = sW.searchPhrase("big data", 10).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pC == pW, "phrase")
      assert(sC.numDocs == sW.numDocs)
    } finally { sC.close(); sW.close() }
  }

  test("old-format segment: mergeCompact falls back to the rebuild merge " +
    "instead of passing v1 blobs through re-stamped as current") {
    val root = tmpDir("graft-oldfmt-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    val b2 = (N until N + 100).map(i => WebtextGen.page(Seed, i.toLong))
    IndexBuilder.appendSegment(spark, toDf(b2), dict, root, cfg, "b2")
    // mark the first segment as a pre-versioning layout (format v1)
    val sc = IndexStore.readSegmentConfig(spark, root, "seg-000000")
    IndexStore.writeSegmentConfig(spark, root, "seg-000000",
      sc.copy(formatVersion = 1))
    val rep = IndexBuilder.mergeCompact(spark, root, dict, cfg)
    val phaseNames = rep.phases.map(_._1).toSet
    assert(phaseNames.contains("sort_dedup_assign") &&
      !phaseNames.contains("postings_blob_merge_write"),
      s"expected the rebuild path, got phases $phaseNames")
    val s = new Searcher(spark, root, dict)
    try assert(s.search("spark", 10).count() > 0) finally s.close()
  }

  test("randomized lifecycle fuzz: any interleaving of append / delete / " +
    "compact / tiered-compact serves exactly the latest-wins-minus-" +
    "tombstones view of everything ever ingested") {
    val rnd = new scala.util.Random(424242L)
    val sp = spark
    import sp.implicits._
    val c = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
    val root = tmpDir("graft-fuzz-")
    // driver-side oracle model: url → (ts, text) latest-wins; deleted urls
    val live = scala.collection.mutable.Map.empty[String, (Long, String)]
    val deleted = scala.collection.mutable.Set.empty[String]
    var nextUrl = 0
    val t0 = 1767225600000L
    var clock = 0L

    def freshBatch(n: Int, upsertFrom: Seq[String]): Seq[(String, Long, String)] = {
      val fresh = (0 until n).map { _ =>
        nextUrl += 1; clock += 1
        (f"https://f/$nextUrl%05d", clock,
          s"spark doc u$nextUrl tok${rnd.nextInt(20)}")
      }
      val ups = upsertFrom.map { u =>
        clock += 1
        (u, clock, s"spark upserted v$clock tok${rnd.nextInt(20)}")
      }
      fresh ++ ups
    }
    def ingest(rows: Seq[(String, Long, String)], full: Boolean): Unit = {
      val df = rows.map { case (u, t, x) =>
        (u, new Timestamp(t0 + t * 1000), null: Array[Byte], x, "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
      if (full) IndexBuilder.buildFull(spark, df, dict, root, c)
      else IndexBuilder.appendSegment(spark, df, dict, root, c)
      rows.foreach { case (u, t, x) =>
        if (!deleted.contains(u) && live.get(u).forall(_._1 < t))
          live(u) = (t, x)
        // a deleted url re-ingested LATER is live again only if the
        // tombstone predates... our tombstones kill the url at query
        // time regardless of ts — model: deleted urls stay dead
      }
      live --= deleted
    }

    ingest(freshBatch(40, Seq.empty), full = true)
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 => // append: fresh + upserts of existing live urls
          val ups = rnd.shuffle(live.keys.toSeq).take(rnd.nextInt(6))
          ingest(freshBatch(5 + rnd.nextInt(15), ups), full = false)
        case 1 => // delete a few live (or already-dead) urls
          val victims = rnd.shuffle((live.keys ++ deleted).toSeq)
            .take(1 + rnd.nextInt(4))
          IndexBuilder.deleteByPk(spark, root, victims)
          deleted ++= victims
          live --= victims
        case 2 =>
          IndexBuilder.mergeCompact(spark, root, dict, c)
        case _ =>
          IndexBuilder.mergeCompactTiered(spark, root, dict, c, tierFanin = 2)
      }
      // verify every 3rd step and at the end (searcher per check)
      if (step % 3 == 0 || step == 10) {
        val s = new graft.query.Searcher(spark, root, dict)
        try {
          assert(s.numDocs == live.size.toLong,
            s"step $step: numDocs ${s.numDocs} != model ${live.size}")
          // full match set of a universal term: every live doc contains
          // 'spark' — (url, text) must equal the model exactly
          val got = s.search("spark", 100000).select("url", "text")
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          val want = live.map { case (u, (_, x)) => u -> x }.toMap
          assert(got == want, s"step $step: view diverged " +
            s"(got ${got.size}, want ${want.size}; " +
            s"missing=${(want.keySet -- got.keySet).take(3)}, " +
            s"extra=${(got.keySet -- want.keySet).take(3)})")
        } finally s.close()
      }
    }
  }

  test("superseded-id sidecar: a multi-segment cold open derives " +
    "liveDocs from per-append batches with NO corpus window, and the set " +
    "equals a latest-wins window over the docstores plus the tombstoned " +
    "urls (incl. a doc dead on arrival)") {
    val root = tmpDir("graft-deadsc-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    IndexBuilder.appendSegment(spark, toDf(batch2), dict, root, cfg, "b2")
    // third append: re-upsert some already-upserted urls (the PREVIOUS
    // winner must join the dead set) + one re-crawl OLDER than its
    // existing version (the incoming doc must be dead on arrival)
    val batch3 = {
      val newer = batch1.zipWithIndex.collect { case (p, i) if i % 20 == 0 =>
        p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 2 * dayMs),
          text = null)
      }
      val older = batch1(3) // i%10==3: not upserted in batch2
      newer :+ older.copy(warc_ts = new Timestamp(older.warc_ts.getTime - dayMs))
    }
    IndexBuilder.appendSegment(spark, toDf(batch3), dict, root, cfg, "b3")
    IndexBuilder.deleteByPk(spark, root, deletedUrls)

    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap.dead.exists(_.nonEmpty), s"sidecar missing: ${snap.dead}")

    val s = new Searcher(spark, root, dict)
    try {
      // the liveDocs plan must not contain the O(corpus) window
      val plan = s.deadDocs.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "sidecar-maintained open still runs the corpus window")
      val sidecarDead = s.deadDocs.collect().map(_.getLong(0)).toSet
      // test-side derivation from scratch: every version that loses the
      // latest-wins order, plus every version of a tombstoned url
      val all = snap.segments.map(seg =>
          spark.read.parquet(IndexStore.docstorePath(root, seg)))
        .reduce(_ unionByName _)
      val w = Window.partitionBy("url")
        .orderBy(col("warc_ts").desc, col("doc_id").desc)
      val windowDead = (all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1)
          .unionByName(all.filter(col("url").isin(deletedUrls: _*))
            .withColumn("__rn", lit(0)))
          .select("doc_id").collect().map(_.getLong(0))).toSet
      assert(sidecarDead == windowDead,
        s"sidecar ≠ window: only-sidecar=${(sidecarDead -- windowDead).take(5)} " +
          s"only-window=${(windowDead -- sidecarDead).take(5)}")
      assert(s.numDocs == all.count() - windowDead.size)
      // and no served hit is a dead doc
      for (q <- Seq("spark", "index", "data")) {
        val hits = s.search(q, 50).select("doc_id").collect().map(_.getLong(0))
        assert(hits.nonEmpty && hits.forall(id => !windowDead.contains(id)), s"'$q'")
      }
      // dead-on-arrival: batch3's OLDER re-crawl of batch1(3).url must be
      // dead while the original (newer) doc stays live
      val u = batch1(3).url
      val versions = s.docstore.filter(col("url") === u)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(versions.size == 2)
      val live = versions -- sidecarDead
      assert(live.size == 1 && live.head == versions.min,
        s"older re-crawl must lose: versions=$versions dead=$sidecarDead")
    } finally s.close()
  }

  test("a snapshot without the dead key is refused at read, naming the " +
    "snapshot file, by every reader") {
    val root = tmpDir("graft-refuse-")
    IndexBuilder.buildFull(spark, toDf(batch1.take(50)), dict, root, cfg, "b1")
    // the snapshot shape written before the superseded-id sidecar
    val fs = IndexStore.fs(spark, root)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/snapshots/snap-0.json"), true)
    try out.write("""{"id":0,"segments":["seg-000000"],"tombstones":[]}"""
      .getBytes("UTF-8")) finally out.close()
    val readers: Seq[(String, () => Any)] = Seq(
      "Searcher" -> (() => new Searcher(spark, root, dict)),
      "appendSegment" -> (() => IndexBuilder.appendSegment(spark,
        toDf(batch2.take(5)), dict, root, cfg)),
      "deleteByPk" -> (() => IndexBuilder.deleteByPk(spark, root,
        deletedUrls)),
      "mergeCompact" -> (() => IndexBuilder.mergeCompact(spark, root, dict,
        cfg)),
      "IndexCheck" -> (() => IndexCheck.check(spark, root)))
    readers.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("snap-0.json") &&
        e.getMessage.contains("buildFull"), s"$name: ${e.getMessage}")
    }
    // nothing was written past the refusal
    assert(IndexStore.listSnapshots(spark, root) == Seq(0L))
  }

  test("a tombstone batch named by the snapshot but missing on disk fails " +
    "the Searcher open instead of serving its deleted urls again") {
    val root = tmpDir("graft-losttomb-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    IndexBuilder.deleteByPk(spark, root, deletedUrls)
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    val batch = s"$root/tombstones/${snap.tombstones.head}"
    IndexStore.fs(spark, root)
      .delete(new org.apache.hadoop.fs.Path(batch), true)
    val e = intercept[Exception](new Searcher(spark, root, dict).close())
    assert(e.getMessage.contains(snap.tombstones.head), e.getMessage)
  }

  test("stale sidecar ids (rows already dropped by a compaction pass) " +
    "do not inflate deadDocCount: numDocs stays exact") {
    val root = tmpDir("graft-deadstale-")
    IndexBuilder.buildFull(spark, toDf(batch1), dict, root, cfg, "b1")
    IndexBuilder.appendSegment(spark, toDf(batch2), dict, root, cfg, "b2")
    val withDead = IndexStore.readLatestSnapshot(spark, root).get
    assert(withDead.dead.exists(_.nonEmpty))
    val liveBefore = { // ground truth before compaction
      val s = new Searcher(spark, root, dict)
      try s.numDocs finally s.close()
    }
    IndexBuilder.mergeCompact(spark, root, dict, cfg)
    // model a tier pass / crash mid-schedule: the compacted segment has
    // dropped the dead rows, but the snapshot still CARRIES the batches
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, snap.segments, snap.tombstones,
        dead = withDead.dead))
    val s = new Searcher(spark, root, dict)
    try {
      assert(s.numDocs == liveBefore,
        s"stale sidecar ids inflated the dead count: ${s.numDocs} vs $liveBefore")
      assert(s.search("spark", 10).count() > 0)
    } finally s.close()
  }

  test("snapshot time travel serves each snapshot's exact committed " +
    "view; expire_snapshots deletes orphan segments and expired ids " +
    "fail loudly") {
    val root = tmpDir("graft-tt-")
    val c = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 51L, 120),
      dict, root, c) // snap 0
    val extra = WebtextGen.df(spark, 52L, 60)
      .withColumn("url", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("x-"), col("url")))
    IndexBuilder.appendSegment(spark, extra, dict, root, c) // snap 1
    val victim = WebtextGen.pages(51L, 120).map(_.url).min
    IndexBuilder.deleteByPk(spark, root, Seq(victim)) // snap 2
    IndexBuilder.mergeCompact(spark, root, dict, c) // snap 3
    assert(IndexStore.listSnapshots(spark, root) == Seq(0L, 1L, 2L, 3L))

    val s0 = new Searcher(spark, root, dict, snapshotId = Some(0L))
    val s2 = new Searcher(spark, root, dict, snapshotId = Some(2L))
    val sL = new Searcher(spark, root, dict)
    try {
      // snap 0: original corpus only — no appended docs, no tombstones
      assert(s0.docCount == 120L && s0.numDocs == 120L)
      assert(s0.docstore.filter(col("url") === victim).count() == 1)
      // snap 2: append + delete visible, pre-compaction
      assert(s2.numDocs == 179L && s2.snapshot.tombstones.nonEmpty)
      // latest (post-compact): same logical view as snap 2
      assert(sL.numDocs == 179L && sL.snapshot.segments.size == 1)
    } finally { s0.close(); s2.close(); sL.close() }

    // expire all but the latest: seg-000000 + seg-000001 become orphans
    val (snapsDel, segsDel) = IndexStore.expireSnapshots(spark, root, 1)
    assert(snapsDel == 3 && segsDel == 2, s"($snapsDel, $segsDel)")
    assert(IndexStore.listSnapshots(spark, root) == Seq(3L))
    val e = intercept[RuntimeException](
      new Searcher(spark, root, dict, snapshotId = Some(0L)))
    assert(e.getMessage.contains("expired") ||
      e.getMessage.contains("no snapshot"))
    val s = new Searcher(spark, root, dict)
    try {
      assert(s.numDocs == 179L)
      assert(s.search("spark", 10).count() > 0)
    } finally s.close()
  }
}
