package graft.index

import graft.SparkTestBase
import graft.analysis.SynonymDict
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed CheckIndex analog: a healthy index audits clean, and
  * every class of corruption it claims to detect is actually detected
  * (each planted on a fresh index). */
class IndexCheckSpec extends AnyFunSuite with SparkTestBase {

  private val dict = SynonymDict.empty

  // every corruption class is audited in BOTH posting formats: the block
  // headers (the audit's main surface) are varints in both, and the v3
  // path must prove the auditor decodes packed bodies + catches v3
  // truncations identically
  for (ver <- Seq(2, 3)) runAll(ver)

  private def runAll(ver: Int): Unit = {

  val cfg = IndexBuilder.IndexConfig(
    numParts = 4, rangeParts = 2, saltDf = 50, saltFanout = 2,
    indexPositions = true, formatVersion = ver)

  def build(): String = {
    val root = tmpDir("graft-check-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 33L, 200), dict,
      root, cfg)
    root
  }

  def rewritePostings(root: String)(f: Seq[Row] => Seq[Row]): Unit = {
    val p = IndexStore.postingsPath(root, "seg-000000")
    val df = spark.read.parquet(p)
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
    val schema = df.schema
    val rows = f(df.collect().toSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").partitionBy("part")
      .options(IndexStore.postingsWriteOptions).parquet(p)
  }

  def issues(root: String): Seq[String] =
    IndexCheck.check(spark, root).collect()
      .map(_.getAs[String]("problem")).toSeq

  test(s"v$ver: healthy positional index audits clean") {
    assert(issues(build()).isEmpty)
  }

  test(s"v$ver: a truncated posting blob is detected") {
    val root = build()
    // v3 blobs end with 16 zero PAD bytes (BitPack word-read license):
    // a cut shorter than the pad is absorbed and decodes fine — the
    // truncation must reach real data to be corruption at all
    val cut = 3 + (if (ver == 3) graft.codec.VarByte.V3Pad else 0)
    rewritePostings(root) { rows =>
      val i = rows.indexWhere(_.getAs[Array[Byte]]("blob").length > cut + 16)
      rows.updated(i, Row.fromSeq(rows(i).toSeq.updated(5,
        rows(i).getAs[Array[Byte]]("blob").dropRight(cut))))
    }
    assert(issues(root).exists(_.contains("decode failed")))
  }

  test(s"v$ver: a corrupt per-BLOCK maxTf header with intact entries and intact " +
    "row bounds is detected — the silent-WAND-underbound failure class") {
    val root = build()
    def varintEnd(b: Array[Byte], start: Int): Int = {
      var i = start
      while ((b(i) & 0x80) != 0) i += 1
      i + 1
    }
    def firstBlockMaxTfPos(b: Array[Byte]): Int = {
      var p = 1 // magic byte, then ver, flags, n, blockSize, bn, bodyLen
      (0 until 6).foreach(_ => p = varintEnd(b, p))
      p
    }
    rewritePostings(root) { rows =>
      val i = rows.indexWhere { r =>
        val b = r.getAs[Array[Byte]]("blob")
        val p = firstBlockMaxTfPos(b)
        (b(p) & 0x80) == 0 && b(p) > 0 && b(p) < 126
      }
      assert(i >= 0, "no row with a single-byte first-block maxTf")
      val b = rows(i).getAs[Array[Byte]]("blob").clone()
      val p = firstBlockMaxTfPos(b)
      b(p) = (b(p) + 1).toByte // bump ONLY the block header's maxTf
      rows.updated(i, Row.fromSeq(rows(i).toSeq.updated(5, b)))
    }
    val got = issues(root)
    assert(got.exists(_.contains("header maxTf")), got.take(5).mkString("; "))
    // entries and the parquet row bounds still agree — only the
    // block-level check can catch this
    assert(!got.exists(_.contains("but decoded max is")))
  }

  test(s"v$ver: a wrong df_local is detected (blob count AND term_stats sum)") {
    val root = build()
    rewritePostings(root) { rows =>
      rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(2,
        rows(0).getAs[Long]("df_local") + 1L)))
    }
    val got = issues(root)
    assert(got.exists(_.contains("but blob decodes")))
    assert(got.exists(_.contains("blobs sum to")))
  }

  test(s"v$ver: a drifted term_stats df is detected") {
    val root = build()
    val p = IndexStore.termStatsPath(root, "seg-000000")
    val st = spark.read.parquet(p)
    val cols = st.columns
    val rows = st.collect().toSeq
    val bumped = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(
      cols.indexOf("df"), rows(0).getAs[Long]("df") + 5L)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(bumped, 2), st.schema)
      .write.mode("overwrite").parquet(p)
    assert(issues(root).exists(_.contains("term_stats.df=")))
  }

  test(s"v$ver: an orphaned posting doc_id (missing docstore row) is detected, " +
    "along with the stats doc_count drift") {
    val root = build()
    val p = IndexStore.docstorePath(root, "seg-000000")
    val ds = spark.read.parquet(p)
    val victim = ds.agg(min("doc_id")).head().getLong(0)
    val kept = ds.filter(col("doc_id") =!= victim).collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(kept, 4), ds.schema)
      .write.mode("overwrite").parquet(p)
    val got = issues(root)
    assert(got.exists(_.contains("missing from docstore")))
    assert(got.exists(_.contains("stats.doc_count")))
  }
  }

  test("a deletion batch whose .count sidecar disagrees with its rows is " +
    "detected, for tombstone and superseded-id batches alike") {
    val root = tmpDir("graft-check-sidecar-")
    val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2)
    val pages = WebtextGen.df(spark, 34L, 120)
    IndexBuilder.buildFull(spark, pages, dict, root, cfg)
    // 10 upserts a day later → a superseded-id batch of 10 rows
    IndexBuilder.appendSegment(spark, pages.orderBy("url").limit(10)
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAY")),
      dict, root, cfg)
    IndexBuilder.deleteByPk(spark, root,
      pages.orderBy(col("url").desc).limit(3).select("url"))
    val snap = IndexStore.readLatestSnapshot(spark, root).get
    assert(snap.tombstones.size == 1 && snap.dead.get.size == 1)
    def problems(): Seq[String] = IndexCheck.check(spark, root).collect()
      .map(_.getAs[String]("problem")).toSeq
    assert(problems().isEmpty)
    val fs = IndexStore.fs(spark, root)
    def overwrite(rel: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/$rel"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    overwrite(s"tombstones/${snap.tombstones.head}.count", "1")
    overwrite(s"dead/${snap.dead.get.head}.count", "11")
    val got = problems()
    assert(got.exists(_.contains(s"${snap.tombstones.head}.count says 1 " +
      "but the batch holds 3 rows")), got)
    assert(got.exists(_.contains(s"${snap.dead.get.head}.count says 11 " +
      "but the batch holds 10 rows")), got)
  }
}
