package graft.index

import graft.SparkTestBase
import graft.analysis.SynonymDict
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Build determinism + per-partition checkpoint/resume (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"). */
class IndexBuildSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val N = 300
  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(
    numParts = 8, rangeParts = 4, saltDf = 100, saltFanout = 4)

  private def postingsFingerprint(root: String): Seq[(Int, String, Long, Long)] =
    spark.read.parquet(IndexStore.postingsPath(root, "seg-000000"))
      .select(col("part"), col("term"), col("df_local"),
        crc32(col("blob")).as("cks"))
      .collect()
      .map(r => (r.getInt(r.fieldIndex("part")), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("FULL build is deterministic: two builds produce identical " +
    "postings and manifests (SURVEY.md §5.2.5)") {
    val a = tmpDir("graft-det-a-")
    val b = tmpDir("graft-det-b-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, a, cfg, "x")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, b, cfg, "x")
    assert(postingsFingerprint(a) == postingsFingerprint(b))
    val ma = IndexStore.readManifest(spark, a, "seg-000000").sortBy(_._1)
    val mb = IndexStore.readManifest(spark, b, "seg-000000").sortBy(_._1)
    assert(ma == mb && ma.nonEmpty)
  }

  private def termStats(root: String, seg: String) =
    spark.read.parquet(IndexStore.termStatsPath(root, seg))
      .select("term", "df", "ttf", "max_tf", "min_dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
      .sortBy(_._1).toSeq

  /** (term, df, ttf, max_tf, min_dl) aggregated over the tf pairs
    * `IndexBuilder.analyze` gives the docstore rows `docs` — the
    * tokenize pass the engine no longer runs for term_stats. */
  private def tokenizeStats(docs: DataFrame) =
    IndexBuilder.analyze(docs.withColumn("html", lit(null).cast("binary")),
        dict)
      .select(explode(col("tf_pairs")).as("p"))
      .groupBy(col("p.term"))
      .agg(count(lit(1)), sum(col("p.tf").cast("long")), max("p.tf"),
        min("p.dl"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
      .sortBy(_._1).toSeq

  private def docstore(root: String, segs: Seq[String]) =
    IndexStore.read(spark, IndexStore.Table.Docstore,
      segs.map(IndexStore.docstorePath(root, _)): _*)

  test("term_stats equal the tokenize aggregate, sampled or not") {
    val a = tmpDir("graft-samp-a-")
    val b = tmpDir("graft-samp-b-")
    // a: the head set is counted over every doc (300 ≤ headSampleDocs);
    // b: over a sample (300 > 50)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, a, cfg, "x")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, b,
      cfg.copy(headSampleDocs = 50), "x")
    for (root <- Seq(a, b)) {
      val got = termStats(root, "seg-000000")
      assert(got.nonEmpty)
      assert(got == tokenizeStats(docstore(root, Seq("seg-000000"))), root)
    }
    // salting is layout-only: the flattened (term, doc, tf, dl) content
    // must be identical no matter which terms the sample chose to salt
    def logical(root: String) =
      spark.read.parquet(IndexStore.postingsPath(root, "seg-000000"))
        .select("term", "blob").collect()
        .flatMap { r =>
          val (d, t, l) = graft.codec.VarByte.decode(r.getAs[Array[Byte]](1))
          d.indices.map(i => (r.getString(0), d(i), t(i), l(i)))
        }.sortBy(x => (x._1, x._2)).toSeq
    assert(logical(a) == logical(b))
    assert(IndexCheck.check(spark, b).collect()
      .map(_.getAs[String]("problem")).isEmpty)
  }

  test("mergeCompact's term_stats equal the tokenize aggregate over the " +
    "live docs, with and without dead docs") {
    import spark.implicits._
    val pages = WebtextGen.pages(Seed, N)
    val later = pages.zipWithIndex.collect {
      case (p, i) if i % 10 == 0 =>
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L))
    }
    val fresh = (0 until 60).map(i =>
      WebtextGen.page(Seed + 1, i.toLong).copy(url = s"https://fresh.example/$i"))
    for (withDead <- Seq(true, false)) {
      val root = tmpDir(s"graft-compact-stats-$withDead-")
      IndexBuilder.buildFull(spark, pages.toDF(), dict, root, cfg, "x")
      // with dead docs: upserts supersede base rows and a delete
      // tombstones urls, so the compaction decodes the blobs it merges;
      // without: fresh urls only, so term_stats are the segments' sums
      IndexBuilder.appendSegment(spark,
        (if (withDead) later ++ fresh else fresh).toDF(), dict, root, cfg)
      if (withDead)
        IndexBuilder.deleteByPk(spark, root, pages.take(7).map(_.url))
      val snap = IndexStore.readLatestSnapshot(spark, root).get
      val dead = LiveDocs.load(spark, root, snap).dead
      assert(dead.isEmpty != withDead)
      val want = tokenizeStats(docstore(root, snap.segments)
        .where(!graft.functions.graftFunctions.in_bitmap(col("doc_id"), dead)))
      val rep = IndexBuilder.mergeCompact(spark, root, dict, cfg)
      assert(rep.phases.exists(_._1 == "postings_blob_merge_write"),
        rep.phases)
      assert(termStats(root, rep.segment) == want, s"withDead=$withDead")
      assert(rep.termCount == want.size)
    }
  }

  test("resume after a partial build rebuilds ONLY the missing posting " +
    "partitions and converges to the identical index") {
    val full = tmpDir("graft-res-full-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, full, cfg, "x")
    val want = postingsFingerprint(full)
    val manifestAll = IndexStore.readManifest(spark, full, "seg-000000")
    assert(manifestAll.map(_._1).toSet.size > 2)

    // simulate a crash: lose posting partitions 0 and 3 + their manifest rows
    val lost = Set(0, 3)
    val segDir = java.nio.file.Paths.get(IndexStore.postingsPath(full, "seg-000000"))
    lost.foreach { p =>
      val d = segDir.resolve(s"part=$p")
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val mPath = java.nio.file.Paths.get(IndexStore.manifestPath(full, "seg-000000"))
    val kept = java.nio.file.Files.readAllLines(mPath).toArray.map(_.toString)
      .filter(l => !lost.exists(p => l.contains(s""""part":$p,""")))
    java.nio.file.Files.write(mPath, kept.mkString("\n").concat("\n").getBytes)
    // drop Hadoop LocalFS's checksum sidecar — we rewrote the file behind
    // its back to simulate the crash
    java.nio.file.Files.deleteIfExists(mPath.resolveSibling(".manifest.jsonl.crc"))

    assert(IndexStore.completedParts(spark, full, "seg-000000") ==
      manifestAll.map(_._1).toSet -- lost)

    IndexBuilder.buildSegment(spark, WebtextGen.df(spark, Seed, N), dict,
      full, "seg-000000", 0L, cfg, "x", resume = true)

    assert(postingsFingerprint(full) == want)
    assert(IndexStore.completedParts(spark, full, "seg-000000") ==
      manifestAll.map(_._1).toSet)
  }

  test("RAM-buffer flushes (many fragments per term) converge to postings " +
    "identical to a single-buffer build") {
    val a = tmpDir("graft-flush-a-")
    val b = tmpDir("graft-flush-b-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, a, cfg, "x")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, b,
      cfg.copy(flushEntries = 97L), "x") // force many tiny flushes
    assert(postingsFingerprint(a) == postingsFingerprint(b))
  }

  test("POSITIONAL flushes converge too (the weighted flush budget path: " +
    "fragment positions survive tiny flushes + the k-way merge)") {
    val a = tmpDir("graft-pflush-a-")
    val b = tmpDir("graft-pflush-b-")
    val pcfg = cfg.copy(indexPositions = true)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, a, pcfg, "x")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, b,
      pcfg.copy(flushEntries = 97L), "x")
    assert(postingsFingerprint(a) == postingsFingerprint(b))
  }

  test("fragment pass consuming tfCounts/tfPositions directly yields the " +
    "same logical postings as the qube_tf/qube_tf_pos expression shape " +
    "(multi-word synonyms exercised, both layouts)") {
    import graft.functions.graftFunctions.{qube_tf, qube_tf_pos}
    val dictS = SynonymDict.parse(Seq(
      "spark => apachespark", "big data => bigdata", "index,catalog"))
    for (withPos <- Seq(false, true)) {
      val root = tmpDir(s"graft-fuse-$withPos-")
      val c = cfg.copy(indexPositions = withPos)
      IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dictS,
        root, c, "x")
      val docstore =
        spark.read.parquet(IndexStore.docstorePath(root, "seg-000000"))
      val tfCol =
        if (withPos) qube_tf_pos(col("text"), dictS, c.analyzer)
        else qube_tf(col("text"), dictS, c.analyzer)
      val expect = docstore
        .select(col("doc_id"), explode(tfCol).as("p"))
        .select(col("p.term"), col("doc_id"), col("p.tf"), col("p.dl"),
          if (withPos) col("p.positions") else lit(null).cast("array<int>"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
          if (withPos) r.getSeq[Int](4).toList else Nil))
        .sortBy(x => (x._1, x._2)).toSeq
      val got = spark.read
        .parquet(IndexStore.postingsPath(root, "seg-000000"))
        .select("term", "blob").collect()
        .flatMap { r =>
          val (d, t, l, p) =
            graft.codec.VarByte.decodeWithPositions(r.getAs[Array[Byte]](1))
          d.indices.map(i => (r.getString(0), d(i), t(i), l(i),
            if (withPos) p(i).toList else Nil))
        }.sortBy(x => (x._1, x._2)).toSeq
      assert(got == expect, s"withPos=$withPos")
    }
  }

  test("FragBuf.encodeSorted sorts bin-packed out-of-order appends " +
    "in place: decode returns doc-ascending (id, tf, dl, positions) " +
    "rows identical to the input set (randomized, both layouts)") {
    val rnd = new scala.util.Random(7L)
    for (withPos <- Seq(false, true); trial <- 1 to 50) {
      val n = 1 + rnd.nextInt(400)
      val docs = rnd.shuffle((0 until 3 * n).toList).take(n).map(_.toLong)
      val rows = docs.map { d =>
        val tf = 1 + rnd.nextInt(9)
        (d, tf, 1 + rnd.nextInt(50),
          if (withPos) Array.iterate(rnd.nextInt(100), tf)(_ + 1 + rnd.nextInt(5))
          else null)
      }
      val buf = new IndexBuilder.FragBuf(withPos)
      rows.foreach { case (d, tf, dl, ps) => buf.append(d, tf, dl, ps) }
      val (blob, minDoc) = buf.encodeSorted(graft.codec.VarByte.DefaultBlockSize,
        graft.codec.VarByte.FormatV3)
      val (ds, tfs, dls, pss) = graft.codec.VarByte.decodeWithPositions(blob)
      assert(minDoc == ds.head && ds.toSeq == ds.sorted.toSeq,
        s"withPos=$withPos trial=$trial")
      val got = ds.indices.map(i => (ds(i), tfs(i), dls(i),
        if (withPos) pss(i).toList else Nil)).toSet
      val want = rows.map { case (d, tf, dl, ps) =>
        (d, tf, dl, if (withPos) ps.toList else Nil)
      }.toSet
      assert(got == want, s"withPos=$withPos trial=$trial")
    }
  }

  test("empty corpus builds a valid empty index; searches MatchNoDocs " +
    "(S7, Searcher.java:248-284 create-empty-index)") {
    val root = tmpDir("graft-empty-")
    val rep = IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, 0),
      dict, root, cfg, "empty")
    assert(rep.docCount == 0 && rep.postingRows == 0)
    val s = new graft.query.Searcher(spark, root)
    try {
      assert(s.maxDoc == 0 && s.numDocs == 0)
      assert(s.search("spark", 10).isEmpty)
      assert(s.searchWand("spark", 10).isEmpty)
      assert(s.search(null, 10).isEmpty) // null query → MatchNoDocs (Q2)
    } finally s.close()
  }

  test("TIMESTAMP_NTZ input builds cleanly (tables written by other " +
    "engines carry NTZ; warc_ts is normalized at the id-assignment seam)") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-ntz-")
    val pages = WebtextGen.df(spark, Seed, 50)
      .withColumn("warc_ts", col("warc_ts").cast("timestamp_ntz"))
    val rep = IndexBuilder.buildFull(spark, pages, dict, root, cfg, "ntz")
    assert(rep.docCount == 50)
    val s = new graft.query.Searcher(spark, root)
    try assert(s.search("spark", 5).count() > 0) finally s.close()
  }

  test("salting splits head terms across multiple posting partitions") {
    val root = tmpDir("graft-salt-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, N), dict, root, cfg, "x")
    val posts = spark.read.parquet(IndexStore.postingsPath(root, "seg-000000"))
    // 'spark' is the Zipf head: df ≈ N ≥ saltDf=100 ⇒ must be sharded
    val sparkShards = posts.filter(col("term") === "SPARK")
      .select("part").distinct().count()
    assert(sparkShards > 1, s"head term not salted (shards=$sparkShards)")
    // a tail term stays unsalted (exactly one row)
    val tailRows = posts.filter(col("term") === "W4000").count()
    assert(tailRows <= 1)
    // shard-local df sums to the global df in term_stats
    val dfSum = posts.filter(col("term") === "SPARK")
      .agg(sum("df_local")).head().getLong(0)
    val dfGlobal = spark.read.parquet(IndexStore.termStatsPath(root, "seg-000000"))
      .filter(col("term") === "SPARK").select("df").head().getLong(0)
    assert(dfSum == dfGlobal)
  }

  test("postings write options bound row groups near 16 MB even for " +
    "multi-MB blob rows (20M-dress OOM regression: parquet-mr checks " +
    "block size only every page.size.row.check.min records)") {
    import spark.implicits._
    // 40 × 4 MB rows = 160 MB: without the early size check the first
    // check fires at 100 records and the whole file is ONE row group,
    // which the vectorized reader materializes per task on read.
    // Random bytes defeat snappy so buffered ≈ on-disk size.
    val rows = (0 until 40).map { i =>
      val b = new Array[Byte](4 << 20)
      new java.util.Random(i).nextBytes(b)
      (i, b)
    }
    val dir = tmpDir("graft-rg-") + "/postings"
    rows.toDF("term", "blob").repartition(1)
      .write.options(IndexStore.postingsWriteOptions).parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val sizes = blocks.asScala.map(_.getTotalByteSize).toSeq
      assert(sizes.size >= 5, s"expected >=5 row groups, got ${sizes.size}")
      // 16 MB target + up to check.min(4) more multi-MB rows of slack
      assert(sizes.forall(_ <= (36L << 20)),
        s"row group overshot: ${sizes.map(_ >> 20).mkString(",")} MB")
    } finally reader.close()
  }
}
