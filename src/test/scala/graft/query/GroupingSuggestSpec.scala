package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.golden.GoldenBM25
import graft.index.{IndexBuilder, WebtextGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Range facets, drill-sideways, grouped top-k and the dictionary
  * suggesters (the Lucene range-facet / DrillSideways / grouping /
  * suggest module analogs) — engine outputs vs a driver-side model over
  * the same deterministic corpus. */
class GroupingSuggestSpec extends AnyFunSuite with SparkTestBase {

  private def host(u: String): String =
    u.replaceFirst("^[a-zA-Z]+://", "").takeWhile(_ != '/')

  private def pageModel(seed: Long, n: Int) =
    WebtextGen.pages(seed, n).map { p =>
      val text = if (p.text != null) p.text
        else graft.analysis.TextExtract.extractText(p.html)
      (p, graft.analysis.Tokenizer.tokenize(text))
    }

  test("index-integrated range facets, drill-sideways and grouped top-k " +
    "against a driver-side model") {
    val root = tmpDir("graft-grpspec-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 14L, 300),
      SynonymDict.empty, root,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2,
        buildFacets = true))
    val s = new Searcher(spark, root, SynonymDict.empty)
    try {
      val pages = pageModel(14L, 300)
      val matched = pages.filter(_._2.contains("SPARK"))
      assert(matched.nonEmpty)

      // ---- range facets over dl (the DocValues-analog column) --------
      val ranges = Seq(
        Facets.RangeSpec("r_short", 0, 60),
        Facets.RangeSpec("r_mid", 60, 120),
        Facets.RangeSpec("r_long", 120, 1000, includeUpper = true),
        Facets.RangeSpec("r_overlap", 50, 130,
          includeLower = false, includeUpper = true),
        Facets.RangeSpec("r_none", 5000, 6000))
      val got = s.facetRangeSearch("spark", "dl", ranges)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dls = matched.map(_._2.length.toDouble)
      val expect = ranges.map { r =>
        r.label -> dls.count(v =>
          (if (r.includeLower) v >= r.lower else v > r.lower) &&
          (if (r.includeUpper) v <= r.upper else v < r.upper)).toLong
      }.toMap
      assert(got == expect)
      assert(got("r_none") == 0L, "empty ranges must surface with cnt 0")
      // declaration order preserved (Lucene returns ranges as declared)
      val order = s.facetRangeSearch("spark", "dl", ranges)
        .collect().map(_.getString(0)).toSeq
      assert(order == ranges.map(_.label))

      // ---- drill-sideways over the default lang/site dims ------------
      val langX = matched.groupBy(_._1.lang).maxBy(_._2.size)._1
      val siteY = matched.groupBy(p => host(p._1.url)).maxBy(_._2.size)._1
      val dd = Map("lang" -> langX, "site" -> siteY)
      val sw = s.facetSearchDrillSideways("spark", dd, limit = 100000)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val gotLang = sw.filter(_._1 == "lang").map(x => x._2 -> x._3).toMap
      val gotSite = sw.filter(_._1 == "site").map(x => x._2 -> x._3).toMap
      // lang leg: own constraint dropped, site=Y kept (and vice versa)
      val expLang = matched.filter(p => host(p._1.url) == siteY)
        .groupBy(_._1.lang).view.mapValues(_.size.toLong).toMap
      val expSite = matched.filter(_._1.lang == langX)
        .groupBy(p => host(p._1.url)).view.mapValues(_.size.toLong).toMap
      assert(gotLang == expLang)
      assert(gotSite == expSite)
      // sideways counts must strictly contain the fully-drilled count
      val drilled = matched.count(p =>
        p._1.lang == langX && host(p._1.url) == siteY).toLong
      assert(gotLang(langX) == drilled && gotSite(siteY) == drilled,
        "the drilled label's own sideways count IS the drilled hit count")

      // ---- grouped top-k: engine window semantics vs driver model ----
      val rounded = s.score("spark join")
        .withColumn("score", round(col("score"), 4))
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val langOf = s.docstore.select("doc_id", "lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val model = rounded.groupBy(x => langOf(x._1)).map { case (label, xs) =>
        val docs = xs.sortBy(x => (-x._2, x._1)).take(2)
        (label, docs.head._2, docs)
      }.toSeq.sortBy(g => (-g._2, g._1)).take(3).zipWithIndex.flatMap {
        case ((label, _, docs), gi) => docs.zipWithIndex.map {
          case ((id, sc), di) => (label, gi + 1, id, sc, di + 1)
        }
      }
      val gotGrouped = s.searchGrouped("spark join", "lang",
          topGroups = 3, docsPerGroup = 2, roundScoresTo = Some(4))
        .orderBy("group_rank", "doc_rank").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getInt(4)))
      assert(gotGrouped.toSeq == model)
      assert(gotGrouped.map(_._1).distinct.length == 3,
        "grouping must be non-degenerate: 3 distinct groups")
    } finally s.close()
  }

  test("dictionary suggesters: autocomplete by (df desc, term) and spell " +
    "correction by (dist, df desc, term); pipeline twins agree") {
    val root = tmpDir("graft-suggspec-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 15L, 200),
      SynonymDict.empty, root,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2))
    val s = new Searcher(spark, root, SynonymDict.empty)
    try {
      val pages = pageModel(15L, 200)
      val df = pages.flatMap(_._2.distinct).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap

      // autocomplete: folded prefix, weight = df, ties by term asc
      val expSuggest = df.filter(_._1.startsWith("SP")).toSeq
        .sortBy(x => (-x._2, x._1)).take(5)
      val gotSuggest = s.suggest("sp", 5).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(gotSuggest == expSuggest)
      assert(gotSuggest.nonEmpty)
      assert(s.suggest("  ", 5).isEmpty, "blank prefix suggests nothing")

      // spell correction: input folded + excluded, (dist, df desc, term)
      val expSpell = df.keys.toSeq
        .map(t => (t, GoldenBM25.levenshtein(t, "CASH"), df(t)))
        .filter(x => x._2 <= 2 && x._1 != "CASH")
        .sortBy(x => (x._2, -x._3, x._1)).take(10)
      val gotSpell = s.suggestSpelling("cash", 10, maxEdits = 2).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      assert(gotSpell == expSpell)
      assert(gotSpell.exists(_._1 == "HASH"),
        "the intended correction must be among the suggestions")
      assert(gotSpell.map(_._2).exists(_ == 1) && gotSpell.map(_._2).exists(_ == 2),
        "both edit distances must be exercised")

      // serving counters (reference totalSearchCnt / isClosePossible):
      // every eager serving call above counted; none is still active
      assert(s.totalSearchCount >= 3)
      assert(s.activeSearchCount == 0 && s.isClosePossible)
      assert(s.numDeletedDocs == 0L && s.numDocs == s.maxDoc)

      // pipeline twins over the same corpus text
      val sp = spark
      import sp.implicits._
      val docsDf = pages.zipWithIndex
        .map { case ((_, toks), i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val twinSuggest = graft.pipeline.TextOps
        .suggestTerms(docsDf, "doc_id", "text", "sp", 5).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(twinSuggest == expSuggest)
      val twinSpell = graft.pipeline.TextOps
        .spellSuggest(docsDf, "doc_id", "text", "cash", 10).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      assert(twinSpell == expSpell)
    } finally s.close()
  }

  test("suggestSpelling's length band counts code points, as levenshtein " +
    "does") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("graft-spellcp-")
    val pages = Seq("𠀀A SPARK", "SPARK INDEX").zipWithIndex.map {
      case (t, i) => (s"https://s/$i",
        new java.sql.Timestamp(1767225600000L + i * 1000L),
        null: Array[Byte], t, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    IndexBuilder.buildFull(spark, pages, SynonymDict.empty, root,
      IndexBuilder.IndexConfig(numParts = 2, rangeParts = 1))
    val s = new Searcher(spark, root, SynonymDict.empty)
    try {
      // '𠀀AB' is 3 code points (4 UTF-16 units); Spark's levenshtein to
      // the indexed '𠀀A' is 1, one deletion
      val got = s.suggestSpelling("𠀀ab", 5, maxEdits = 1).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got == Seq(("𠀀A", 1, 1L)))
    } finally s.close()
  }

  test("rangeCounts and drillSideways unit semantics: inclusivity, " +
    "overlap, zero ranges, undrilled dims") {
    val sp = spark
    import sp.implicits._
    val values = Seq((1L, 5.0), (2L, 10.0), (3L, 15.0), (4L, 20.0),
      (5L, 25.0), (6L, 30.0)).toDF("doc_id", "v")
    val matches = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id") // doc 6 unmatched
    val got = Facets.rangeCounts(matches, values, "v", Seq(
        Facets.RangeSpec("lo", 5, 15),                          // [5,15) → 5,10
        Facets.RangeSpec("lo_incl", 5, 15, includeUpper = true), // +15
        Facets.RangeSpec("open", 10, 20,
          includeLower = false, includeUpper = true),            // 15,20
        Facets.RangeSpec("all", 0, 100),
        Facets.RangeSpec("none", 50, 60)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("lo" -> 2L, "lo_incl" -> 3L, "open" -> 2L,
      "all" -> 5L, "none" -> 0L))
    intercept[IllegalArgumentException](
      Facets.rangeCounts(matches, values, "v",
        Seq(Facets.RangeSpec("dup", 0, 1), Facets.RangeSpec("dup", 1, 2))))

    // drill-sideways: dims color+size drilled, shape undrilled
    val facets = Seq(
      (1L, "color", "red"), (2L, "color", "red"), (3L, "color", "blue"),
      (4L, "color", "blue"), (5L, "color", "red"),
      (1L, "size", "s"), (2L, "size", "m"), (3L, "size", "s"),
      (4L, "size", "m"), (5L, "size", "s"),
      (1L, "shape", "round"), (2L, "shape", "flat"), (3L, "shape", "round"),
      (4L, "shape", "flat"), (5L, "shape", "flat")
    ).toDF("doc_id", "dim", "label")
    val out = Facets.drillSideways(matches, facets,
        Map("color" -> "red", "size" -> "s"), limit = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    // matched docs: 1..5. size=s docs {1,3,5}; color=red docs {1,2,5}.
    // color leg (drop own, keep size=s): {1,3,5} → red:2 (1,5), blue:1 (3)
    // size leg (drop own, keep color=red): {1,2,5} → s:2 (1,5), m:1 (2)
    // shape (undrilled, ALL constraints): {1,5} → flat:1 (5), round:1 (1)
    assert(out.filter(_._1 == "color").map(x => (x._2, x._3)).toMap ==
      Map("red" -> 2L, "blue" -> 1L))
    assert(out.filter(_._1 == "size").map(x => (x._2, x._3)).toMap ==
      Map("s" -> 2L, "m" -> 1L))
    assert(out.filter(_._1 == "shape").map(x => (x._2, x._3)).toMap ==
      Map("flat" -> 1L, "round" -> 1L))
    // paging contract: rank is (cnt desc, label asc) per dim
    assert(out.filter(_._1 == "shape").sortBy(_._4).map(_._2).toSeq ==
      Seq("flat", "round"))
  }
}
