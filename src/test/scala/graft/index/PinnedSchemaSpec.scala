package graft.index

import java.sql.Timestamp

import graft.SparkTestBase
import graft.analysis.{SynonymDict, Tokenizer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Engine-owned tables are read with pinned schemas
  * ([[IndexStore.Table]]), never inferred, so a writer that drifts from
  * its pin would be read wrongly or fail only at query time. This spec
  * infers the footer schema of every table the lifecycle ops write and
  * requires its (name, type) list to equal the pin. */
class PinnedSchemaSpec extends AnyFunSuite with SparkTestBase {

  private val dict = SynonymDict.empty
  private val cfg = IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
    saltDf = 50, saltFanout = 2)
  private lazy val base = WebtextGen.pages(81L, 120)

  private def toDf(pages: Seq[WebtextGen.Page]): DataFrame = {
    import spark.implicits._
    pages.toDF()
  }

  /** 20 fresh urls plus every 10th base url re-crawled `day` days later. */
  private def upsertBatch(day: Int): DataFrame = toDf(
    base.zipWithIndex.collect { case (p, i) if i % 10 == 0 =>
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + day * 86400000L))
    } ++ (0 until 20).map(i => WebtextGen.page(82L + day, i.toLong)
      .copy(url = s"https://day$day.example/page/$i")))

  private def deleteSome(root: String, day: Int): Unit =
    IndexBuilder.deleteByPk(spark, root,
      base.zipWithIndex.collect { case (p, i) if i % 10 == day => p.url })

  /** Every (table kind, path) under `root`: each segment's four tables
    * and each deletion batch, whether or not a snapshot still names it. */
  private def tablesUnder(root: String): Seq[(IndexStore.Table, String)] = {
    val f = IndexStore.fs(spark, root)
    def dirs(d: String): Seq[String] = {
      val p = new Path(s"$root/$d")
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    }
    dirs("segments").flatMap(s => Seq(
      IndexStore.Table.Docstore -> IndexStore.docstorePath(root, s),
      IndexStore.Table.Postings -> IndexStore.postingsPath(root, s),
      IndexStore.Table.TermStats -> IndexStore.termStatsPath(root, s),
      IndexStore.Table.Stats -> IndexStore.statsPath(root, s))) ++
      dirs("dead").map(n => IndexStore.Table.Dead -> s"$root/dead/$n") ++
      dirs("tombstones").map(n =>
        IndexStore.Table.Tombstones -> s"$root/tombstones/$n")
  }

  /** Tables under `root` whose inferred footer schema is not the pin. */
  private def drift(root: String): Seq[String] = {
    val tables = tablesUnder(root)
    assert(tables.nonEmpty, s"nothing written under $root")
    tables.flatMap { case (t, path) =>
      val inferred = spark.read.parquet(path).schema.map(f => f.name -> f.dataType)
      val pinned = t.schema.map(f => f.name -> f.dataType)
      if (inferred == pinned) None
      else Some(s"$path ($t): footer $inferred, pinned $pinned")
    }
  }

  test("buildFull, appendSegment, deleteByPk and mergeCompact write " +
    "exactly the pinned schemas") {
    val root = tmpDir("graft-pins-")
    IndexBuilder.buildFull(spark, toDf(base), dict, root, cfg)
    IndexBuilder.appendSegment(spark, upsertBatch(1), dict, root, cfg)
    deleteSome(root, 1)
    // dead docs: the compaction decodes and re-derives term_stats
    IndexBuilder.mergeCompact(spark, root, dict, cfg)
    // no dead docs: term_stats merge as per-segment sums
    IndexBuilder.appendSegment(spark, toDf((0 until 20).map(i =>
      WebtextGen.page(90L, i.toLong).copy(url = s"https://new.example/$i"))),
      dict, root, cfg)
    IndexBuilder.mergeCompact(spark, root, dict, cfg)
    assert(IndexStore.readLatestSnapshot(spark, root).get.segments.size == 1)
    assert(drift(root).isEmpty, drift(root).mkString("\n"))
  }

  test("mergeCompactTiered and the rebuild merge write exactly the " +
    "pinned schemas") {
    val root = tmpDir("graft-pins-tiered-")
    IndexBuilder.buildFull(spark, toDf(base), dict, root, cfg)
    (1 to 3).foreach { d =>
      IndexBuilder.appendSegment(spark, upsertBatch(d), dict, root, cfg)
      deleteSome(root, d)
    }
    val reports = IndexBuilder.mergeCompactTiered(spark, root, dict, cfg,
      tierFanin = 2)
    assert(reports.size >= 2, reports.map(_.segment))
    IndexBuilder.appendSegment(spark, upsertBatch(4), dict, root, cfg)
    IndexBuilder.merge(spark, root, dict, cfg)
    assert(drift(root).isEmpty, drift(root).mkString("\n"))
  }

  test("FieldedIndex.buildFull, append and deleteByPk write exactly the " +
    "pinned schemas in every field root") {
    val root = tmpDir("graft-pins-fielded-")
    val fields = Seq(
      FieldedIndex.FieldSpec("text", col("text"), html = col("html")),
      FieldedIndex.FieldSpec("url", col("url"), analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 83L, 80), fields,
      root, cfg)
    FieldedIndex.append(spark, WebtextGen.df(spark, 83L, 80)
      .withColumn("url", concat(lit("fresh-"), col("url"))),
      fields, root, cfg)
    FieldedIndex.append(spark, WebtextGen.df(spark, 84L, 30), fields, root,
      cfg)
    FieldedIndex.deleteByPk(spark, root, fields,
      WebtextGen.df(spark, 83L, 5).select("url"))
    fields.foreach { f =>
      val fr = FieldedIndex.fieldRoot(root, f.name)
      assert(drift(fr).isEmpty, drift(fr).mkString("\n"))
    }
  }
}
