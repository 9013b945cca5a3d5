package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.golden.GoldenBM25
import graft.index.{IndexBuilder, WebtextGen}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** THE correctness gate (SURVEY.md §5.2.1): the distributed engine must
  * reproduce the golden model's top-k docIDs and BM25 scores
  * rank-identically, with bit-identical doubles, on the full reference
  * query set over the synthetic webtext corpus. */
class SearchEndToEndSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 42L
  private val NDocs = 1000
  private val K = 10

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))

  private lazy val root: String = {
    val dir = tmpDir("graft-index-")
    val cfg = IndexBuilder.IndexConfig(
      numParts = 8, rangeParts = 4, saltDf = 200, saltFanout = 4)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, NDocs), dict,
      dir, cfg, inputSnapshot = s"webtext(seed=$Seed,n=$NDocs)")
    dir
  }

  private lazy val searcher = new Searcher(spark, root, dict)
  private lazy val golden =
    new GoldenBM25.Model(GoldenBM25.docsFromWebtext(Seed, NDocs, dict))

  private case class Q(name: String, query: String, conjunctive: Boolean,
                       filterLang: Option[String])

  private lazy val querySet: Seq[Q] =
    resourceLines("/queries.txt")
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split('\t')
        Q(f(0), f(1), f(2) == "AND",
          if (f(3).startsWith("lang=")) Some(f(3).stripPrefix("lang=")) else None)
      }

  private def engineTopK(q: Q): Seq[(Long, Double)] =
    searcher.search(q.query, K, conjunctive = q.conjunctive,
        filter = q.filterLang.map(l => col("lang") === l))
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def goldenTopK(q: Q): Seq[(Long, Double)] = {
    val terms = golden.analyze(q.query, dict)
    golden.topK(terms, K, conjunctive = q.conjunctive,
        filter = q.filterLang.map(l => (d: GoldenBM25.Doc) => d.lang == l)
          .getOrElse((_: GoldenBM25.Doc) => true))
      .map(h => (h.docId, h.score))
  }

  test("engine top-10 is rank-identical with bit-identical scores on the " +
    "full reference query set") {
    val failures = querySet.flatMap { q =>
      val e = engineTopK(q)
      val g = goldenTopK(q)
      if (e == g) None
      else Some(s"${q.name}: engine=${e.take(3)}... golden=${g.take(3)}... " +
        s"(sizes ${e.size}/${g.size})")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // sanity: the set is not degenerate — most queries return hits
    val nonEmpty = querySet.count(q => goldenTopK(q).nonEmpty)
    assert(nonEmpty >= 20, s"only $nonEmpty queries had hits")
  }

  // wandMinDf = 0: the default (500k) would route every multi-term query
  // at this corpus size to the exact fallback and leave the θ-seeding /
  // candidatesAboveTheta / rescore pipeline untested
  private def wandTopK(q: Q, start: Int = 0): Seq[(Long, Double)] =
    searcher.searchWand(q.query, K, start = start, conjunctive = q.conjunctive,
        filter = q.filterLang.map(l => col("lang") === l), wandMinDf = 0)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("block-max WAND path is rank- and score-identical to golden on the " +
    "full reference query set (north-rule Q3)") {
    val failures = querySet.flatMap { q =>
      val w = wandTopK(q)
      val g = goldenTopK(q)
      if (w == g) None
      else Some(s"${q.name}: wand=${w.take(3)}... golden=${g.take(3)}... " +
        s"(sizes ${w.size}/${g.size})")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("WAND disjunctive (OR) and paginated results match golden") {
    val qs = querySet.filter(q => q.filterLang.isEmpty)
    val orFailures = qs.take(8).flatMap { q =>
      val w = searcher.searchWand(q.query, K, conjunctive = false,
          wandMinDf = 0)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val terms = golden.analyze(q.query, dict)
      val g = golden.topK(terms, K, conjunctive = false).map(h => (h.docId, h.score))
      if (w == g) None else Some(q.name)
    }
    assert(orFailures.isEmpty, orFailures.mkString(","))
    // pagination through the WAND path
    val q0 = querySet.head
    val w2 = wandTopK(q0, start = 10)
    val terms = golden.analyze(q0.query, dict)
    val g2 = golden.topK(terms, K, start = 10, conjunctive = q0.conjunctive)
      .map(h => (h.docId, h.score))
    assert(w2 == g2)
  }

  test("WAND with a tiny rescore cap falls back to the exact path (scale guard)") {
    val q = querySet(10) // multi-term conjunctive — exercises the rescore cap
    // wandMinDf = 0 so the df gate does NOT pre-empt the rescore cap:
    // the candidate set must actually exceed maxRescore=1 and trip it
    val w = searcher.searchWand(q.query, K, conjunctive = q.conjunctive,
        maxRescore = 1, wandMinDf = 0)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(w == goldenTopK(q))
  }

  test("mixed MUST/SHOULD boolean query matches golden Occur semantics, " +
    "with pure-AND / pure-OR as the degenerate cases") {
    def engineBool(must: String, should: String,
                   notQ: Option[String] = None): Seq[(Long, Double)] =
      searcher.searchBoolean(must, should, K, notQuery = notQ)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def goldenBool(must: String, should: String,
                   filter: GoldenBM25.Doc => Boolean = _ => true)
        : Seq[(Long, Double)] =
      golden.scoreBoolean(golden.analyze(must, dict),
          golden.analyze(should, dict), filter)
        .sortBy(h => (-h.score, h.docId)).take(K)
        .map(h => (h.docId, h.score))
    // genuinely mixed: match set = MUST docs, SHOULD boosts scores
    val e = engineBool("spark", "index fast")
    assert(e == goldenBool("spark", "index fast") && e.nonEmpty)
    // SHOULD-boosted ranking must differ from the pure-MUST ranking for
    // the case to be non-degenerate
    val pureMust = searcher.search("spark", K).select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(e != pureMust, "degenerate: should terms never co-occurred")
    // degenerate cases: empty must = OR, empty should = AND
    assert(engineBool("", "spark index") ==
      searcher.search("spark index", K, conjunctive = false)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(engineBool("spark index", "") ==
      searcher.search("spark index", K, conjunctive = true)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // MUST_NOT composes; missing MUST term = MatchNoDocs
    val notHits = engineBool("spark", "index", notQ = Some("fast"))
    val fastDocs = golden.scoreAll(golden.analyze("fast", dict),
      conjunctive = false).map(_.docId).toSet
    val gNot = golden.scoreBoolean(golden.analyze("spark", dict),
        golden.analyze("index", dict))
      .filterNot(h => fastDocs.contains(h.docId))
      .sortBy(h => (-h.score, h.docId)).take(K)
      .map(h => (h.docId, h.score))
    assert(notHits == gNot)
    assert(engineBool("zzznotaword", "spark").isEmpty)
  }

  test("minimumShouldMatch (OR, >= m of n terms) matches golden on exact " +
    "and WAND-entry paths") {
    val threeTerm = querySet.filter(q =>
      !q.conjunctive && q.filterLang.isEmpty &&
        golden.analyze(q.query, dict).size >= 3)
    val qs = if (threeTerm.nonEmpty) threeTerm.take(3)
      else Seq(Q("msm", "spark index search", conjunctive = false, None))
    for (q <- qs; m <- Seq(2, 3)) {
      val terms = golden.analyze(q.query, dict)
      val g = golden.scoreAll(terms, conjunctive = false, minShouldMatch = m)
        .sortBy(h => (-h.score, h.docId)).take(K).map(h => (h.docId, h.score))
      val e = searcher.search(q.query, K, conjunctive = false,
          minShouldMatch = m).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val w = searcher.searchWand(q.query, K, conjunctive = false,
          minShouldMatch = m).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(e == g, s"${q.name} m=$m exact")
      assert(w == g, s"${q.name} m=$m wand-entry")
    }
  }

  test("WAND pruning stays exact under filter, MUST_NOT, and dead docs " +
    "(restricted θ seed — these previously forced the exact fallback)") {
    def exact(q: String, conj: Boolean, f: Option[org.apache.spark.sql.Column],
              not: Option[String], s: Searcher = searcher) =
      s.search(q, K, conjunctive = conj, filter = f, notQuery = not)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def wand(q: String, conj: Boolean, f: Option[org.apache.spark.sql.Column],
             not: Option[String], s: Searcher = searcher) =
      s.searchWand(q, K, conjunctive = conj, filter = f, notQuery = not,
          wandMinDf = 0)
        .select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cases = Seq(
      ("spark index", Some(col("lang") === "en"), Some("fast")),
      ("spark data", None, Some("index")),
      ("search engine", Some(col("lang") === "ko"), None))
    for ((q, f, not) <- cases; conj <- Seq(true, false)) {
      val e = exact(q, conj, f, not)
      val w = wand(q, conj, f, not)
      assert(w == e, s"'$q' conj=$conj filter=${f.nonEmpty} not=$not")
      assert(conj || e.nonEmpty, s"'$q' OR case degenerate")
    }
    // dead docs: tombstone a slice of the corpus — the WAND path must
    // now run its restricted pipeline instead of bailing, and stay exact
    val root2 = tmpDir("graft-wanddead-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, Seed, 400), dict,
      root2, IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
        saltDf = 200, saltFanout = 4), "wand-dead")
    val doomed = WebtextGen.pages(Seed, 400).zipWithIndex
      .collect { case (p, i) if i % 7 == 0 => p.url }
    IndexBuilder.deleteByPk(spark, root2, doomed)
    val s2 = new Searcher(spark, root2, dict)
    try {
      for (q <- Seq("spark index", "data search"); conj <- Seq(true, false)) {
        val e = exact(q, conj, None, None, s2)
        val w = wand(q, conj, None, None, s2)
        assert(w == e, s"dead-docs '$q' conj=$conj")
        assert(e.nonEmpty, s"dead-docs '$q' degenerate")
      }
    } finally s2.close()
  }

  test("searchBatch: N queries in one plan are rank- and score-identical " +
    "to N sequential searches (both AND and OR modes), including a " +
    "zero-df-term query and an unknown-only query") {
    def run(conj: Boolean): Unit = {
      val qs = querySet.filter(q => q.conjunctive == conj && q.filterLang.isEmpty)
        .take(8).map(q => q.name -> q.query).toMap +
        ("qz" -> "spark zzznotaword", "qe" -> "zzznotaword")
      val batch = searcher.searchBatch(qs, K, conjunctive = conj)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
      for ((qid, query) <- qs) {
        val single = searcher.search(query, K, conjunctive = conj)
          .select("doc_id", "score")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch.getOrElse(qid, Seq.empty) == single,
          s"batch ≠ sequential for '$qid' ($query) conj=$conj")
      }
    }
    run(conj = true)
    run(conj = false)
  }

  test("plan guard: the postings scan keeps term pushdown, plan-time " +
    "partition pruning, and a column-pruned ReadSchema (PLANS.md's " +
    "load-bearing properties must not silently regress)") {
    val plan = searcher.score("spark index")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term, ["),
      "term IN (...) no longer reaches the parquet scan")
    assert(plan.contains("PartitionFilters: [part"),
      "plan-time part IN (...) partition pruning is gone")
    assert(plan.contains("ReadSchema: struct<term:string,blob:binary>"),
      "postings scan reads more columns than (term, blob)")
    // scoring must not touch the docstore (norms colocation): the only
    // FileScan in the score plan is the postings one
    assert(!plan.contains("docstore"),
      "score plan references the docstore — dl must come from the blobs")
  }

  test("k=0 is a valid (empty) request on every path") {
    assert(searcher.search("spark", 0).isEmpty)
    assert(searcher.searchWand("spark", 0).isEmpty)
    assert(searcher.searchWand("spark index", 0).isEmpty)
  }

  test("zero-result semantics: unknown term AND ⇒ MatchNoDocs (Q2/Q5)") {
    assert(engineTopK(Q("z", "zzzqqqxyz", conjunctive = true, None)).isEmpty)
    assert(engineTopK(Q("z2", "spark zzzqqqxyz", conjunctive = true, None)).isEmpty)
    // but OR with one known term still matches
    assert(engineTopK(Q("z3", "spark zzzqqqxyz", conjunctive = false, None)).nonEmpty)
  }

  test("hit metadata: totalHits and maxScore match golden (Q12)") {
    for (q <- Seq(querySet.head, querySet(10), querySet(25))) {
      val (_, meta) = searcher.searchWithMeta(q.query, K,
        conjunctive = q.conjunctive,
        filter = q.filterLang.map(l => col("lang") === l))
      val terms = golden.analyze(q.query, dict)
      val all = golden.scoreAll(terms, q.conjunctive,
        q.filterLang.map(l => (d: GoldenBM25.Doc) => d.lang == l)
          .getOrElse((_: GoldenBM25.Doc) => true))
      assert(meta.total == all.size.toLong, q.name)
      val gMax = if (all.isEmpty) 0.0 else all.map(_.score).max
      assert(meta.maxScore == gMax, q.name)
    }
  }

  test("pagination: page 2 equals golden slice [10,20) (Q11)") {
    val q = querySet.head // head term, plenty of hits
    val e = searcher.search(q.query, K, start = 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val terms = golden.analyze(q.query, dict)
    val g = golden.topK(terms, K, start = 10).map(h => (h.docId, h.score))
    assert(e == g)
  }

  test("sort-by-field mode (Q6): matches ordered by url desc") {
    val e = searcher.searchSortByField("spark", Seq(col("url").desc), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val terms = golden.analyze("spark", dict)
    val g = golden.scoreAll(terms, conjunctive = true)
      .map(h => h.docId)
    val urlOf = GoldenBM25.docsFromWebtext(Seed, NDocs, dict)
      .map(d => d.docId -> d.url).toMap
    val gSorted = g.sortBy(id => (urlOf(id), id))(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(5)
    assert(e == gSorted)
  }

  test("docID-order and match-set modes agree with golden match set (Q7/Q8)") {
    val terms = golden.analyze("facet", dict)
    val g = golden.scoreAll(terms, conjunctive = true).map(_.docId).sorted
    val e7 = searcher.matchesInDocIdOrder("facet").collect().map(_.getLong(0)).toSeq
    val e8 = searcher.matchSet("facet").collect().map(_.getLong(0)).sorted.toSeq
    assert(e7 == g && e8 == g)
  }

  test("stored-field fetch returns the byte-identical extracted text (S8)") {
    val ids = engineTopK(querySet.head).map(_._1).take(3)
    val fetched = searcher.doc(ids).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val goldenDocs = GoldenBM25.docsFromWebtext(Seed, NDocs, dict)
    // reconstruct expected text through the same public chain
    val byId = goldenDocs.map(d => d.docId -> d.url).toMap
    val pages = WebtextGen.pages(Seed, NDocs).map(p => p.url -> p).toMap
    ids.foreach { id =>
      val p = pages(byId(id))
      val expected = if (p.text != null) p.text
        else graft.analysis.TextExtract.extractText(p.html)
      assert(fetched(id) == expected)
    }
  }

  override def afterAll(): Unit = {
    searcher.close()
    super.afterAll()
  }
}
