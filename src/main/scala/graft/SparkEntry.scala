package graft

import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import graft.pipeline.{Multimodal, TextOps, VectorOps}
import graft.query.{Facets, Searcher}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` exposes each implemented operator (SURVEY.md §2 + the
  * training-data pipeline ops) over the driver's parquet tables so the
  * DuckDB oracle can replay `oracleSql` and hash-compare. Conventions for
  * cross-engine hash parity: every computed column aliased identically on
  * both sides, doubles rounded (4dp; money 2dp), sums over INT cast to
  * BIGINT in SQL (DuckDB widens to HUGEINT otherwise), deterministic
  * ORDER BY with a unique tie-break.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship on sf=0.001-scale input; driver smoke-checks rows>0: build
    * a real term-partitioned index over generated webtext and run a BM25
    * top-10 through the full engine. */
  def entry(spark: SparkSession): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-entry-").toString
    val dict = SynonymDict.parse(Seq("nike:EN,나이키:KO", "big data => bigdata"))
    val cfg = IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
      saltDf = 200, saltFanout = 4,
      formatVersion = graft.codec.VarByte.FormatV3)
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 42L, 500), dict, root,
      cfg, "entry(seed=42,n=500)")
    val s = new Searcher(spark, root, dict)
    materialized(s.searchWand("spark index", 10)) {
      s.close(); deleteRec(root)
    }
  }

  // ---- shared SQL fragments (DuckDB dialect, ANSI-leaning) -----------

  /** Tokens CTE over `documents` — must mirror qube_tokenize exactly:
    * the corpus is single-space ASCII, so split+upper ≡ the engine
    * tokenizer. */
  private val toksCte =
    """WITH toks0 AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term0 FROM documents
      |), toks AS (
      |  SELECT doc_id, upper(term0) AS term FROM toks0 WHERE term0 <> ''
      |)""".stripMargin

  /** Full BM25 pipeline CTE chain (engine semantics, Q4 + Q1): tf, dl,
    * stats and df are GLOBAL; the filter clause only restricts the match
    * set (non-scoring, Searcher.java:734-737). */
  private def bm25Cte(termsSql: String, filterSql: String = "TRUE") =
    bm25CteQ(s"SELECT * FROM (VALUES $termsSql) v(term)", filterSql)

  /** [[bm25Cte]] with the query-term set as arbitrary SQL over the
    * earlier CTEs (tf/dl/stats) — the multi-term-query expansion oracles
    * (prefix/fuzzy/more-like-this) derive their terms from the corpus
    * dictionary instead of literal VALUES. */
  private def bm25CteQ(qSql: String, filterSql: String = "TRUE") =
    s"""$toksCte, tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), dl AS (
       |  SELECT d.doc_id, (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
       |  FROM documents d
       |), stats AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
       |), q AS ($qSql
       |), dfq AS (
       |  SELECT term, count(*) AS df FROM tf JOIN q USING (term) GROUP BY 1
       |), fdocs AS (
       |  SELECT doc_id FROM documents WHERE $filterSql
       |), scored AS (
       |  SELECT tf.doc_id, count(*) AS matched,
       |    round(sum(
       |      ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
       |  JOIN fdocs USING (doc_id) CROSS JOIN stats s
       |  GROUP BY tf.doc_id
       |)""".stripMargin

  // ---- sketch-oracle building blocks -------------------------------
  // The sketches are deterministic functions of seeded constants, so the
  // oracle SQL inlines those constants (computed HERE, once, by the same
  // code the engine uses) and replays the identical integer arithmetic.
  //
  // Float-epsilon caveat (sign-LSH bucket bits): the oracle's hyperplane
  // dot products use an unordered SQL SUM while the engine folds in index
  // order, so a dot product within double-epsilon of 0 could in principle
  // flip a bucket bit on one side only (bucket membership is a hard sign
  // threshold, unlike the rounded cosine compares). This is accepted: the
  // planes are seeded Gaussians over 64 dims and the inputs are coarse
  // floats, so P(|dot| < 1e-12) is negligible — and a flip would surface
  // as a loud rows-mismatch in the gate, not a silent wrong answer.

  private[graft] val neardupSeeds: Seq[Long] = (0 until 8).map(i => 42L + i)

  /** Horner polynomial hash of a DuckDB string expression — must mirror
    * [[TextOps.polyHash]] exactly (BIGINT all the way; acc < p). */
  private def polyHashSql(s: String, base: Long, p: Long): String =
    s"""list_reduce(list_transform(range(1, length($s) + 1),
       |    i -> CAST(unicode($s[i]) AS BIGINT)),
       |    (acc, x) -> (acc * $base + x) % $p)""".stripMargin

  /** DuckDB DOUBLE[] literal; Double.toString is shortest-round-trip so
    * the parsed value is bit-identical to the engine's plane weights. */
  private def dlist(a: Array[Double]): String =
    a.map(_.toString).mkString("[", ", ", "]")

  /** `(sid, pid, w)` VALUES rows for seeded sign-LSH hyperplanes. */
  private def planesValues(seeds: Seq[Long], nPlanes: Int, dim: Int): String =
    seeds.zipWithIndex.flatMap { case (s, si) =>
      VectorOps.hyperplanes(s, nPlanes, dim).zipWithIndex.map {
        case (p, pi) => s"($si, $pi, ${dlist(p)})"
      }
    }.mkString(",\n    ")

  /** Collect a (small) result eagerly into a LocalRelation so the
    * battery query can close its Searcher (unpersisting cached frames)
    * and delete its temp index before returning — index-building battery
    * entries would otherwise leak persisted partitions and /tmp dirs on
    * every Verify/Bench run. */
  private def materialized(df: DataFrame)(cleanup: => Unit): DataFrame = {
    import scala.jdk.CollectionConverters._
    val out = df.sparkSession.createDataFrame(
      df.collect().toSeq.asJava, df.schema)
    cleanup
    out
  }

  private def deleteRec(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p) // must be closed: it holds a directory handle
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** The bucketed near-dup CTE chain (planes → buckets → candidates →
    * per-pair dot/norm sums), shared by q_vec_neardup and
    * q_neardup_dedup. */
  private lazy val neardupCtes: String =
    s"""planes AS (
       |  SELECT * FROM (VALUES
       |    ${planesValues(neardupSeeds, nPlanes = 4, dim = 64)}
       |  ) p(sid, pid, w)),
       |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
       |dots AS (
       |  SELECT e.vec_id, p.sid, p.pid,
       |    sum(CAST(e.embedding[i.i] AS DOUBLE) * p.w[i.i]) AS d
       |  FROM embeddings e, planes p, idx i GROUP BY 1, 2, 3),
       |buck AS (
       |  SELECT vec_id, sid, CAST(sum(CASE WHEN d >= 0
       |    THEN (1::BIGINT << pid) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM buck x JOIN buck y
       |    ON x.sid = y.sid AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |s AS (
       |  SELECT c.id_a, c.id_b,
       |    sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) AS dp,
       |    sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)) AS na,
       |    sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) AS nb
       |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
       |  JOIN embeddings b ON b.vec_id = c.id_b, idx i
       |  GROUP BY 1, 2)""".stripMargin

  /** The SimHash CTE chain (tokens → tf → packed 62-bit hash → weighted
    * bits → per-doc hash), shared by q_simhash and q_simhash_pairs. */
  private lazy val simhashCtes: String =
    s"""$toksCte, tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), h AS (
       |  SELECT doc_id, tf,
       |    ${polyHashSql("term", 31L, 2147483647L)} * 2147483648
       |    + ${polyHashSql("term", 37L, 2147483629L)} AS h
       |  FROM tf
       |), bits AS (
       |  SELECT doc_id, j.j,
       |    CAST(sum(CASE WHEN (h >> j.j) & 1 = 1 THEN tf ELSE -tf END)
       |      AS BIGINT) AS acc
       |  FROM h, (SELECT unnest(generate_series(0, 61)) AS j) j
       |  GROUP BY 1, 2
       |), sim AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN acc > 0
       |    THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** `(j, a, b)` VALUES rows for the MinHash permutation constants. */
  private def permValues(k: Int): String =
    (0 until k).map(j =>
      s"($j, ${TextOps.permConst(j * 2)}, ${TextOps.permConst(j * 2 + 1)})")
      .mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- fulltext core over `documents` (SURVEY.md §2.4/S3/S10) ----
    "q_tf" -> ((s, dir) =>
      TextOps.termFrequencies(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "term")),

    "q_term_stats" -> ((s, dir) =>
      TextOps.termStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("term")),

    "q_collection_stats" -> ((s, dir) =>
      TextOps.docLengths(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("doc_count"), sum("dl").as("sum_dl"))
        .select(col("doc_count"), col("sum_dl"),
          round(col("sum_dl").cast("double") / col("doc_count"), 4).as("avgdl"))),

    "q_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10)),

    "q_bm25_or" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "zzznotaword"), 10, conjunctive = false)),

    "q_bm25_filter" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10, filter = Some(col("lang") === "de"))),

    // MUST_NOT clause (reference BooleanQuery Occur.MUST_NOT)
    "q_bm25_not" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10, notTerms = Seq("fast"))),

    // Lucene's minimumNumberShouldMatch: OR of 3 terms, >= 2 must match
    "q_bm25_msm" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "vector"), 10, conjunctive = false,
        minShouldMatch = 2)),

    // phrase query: adjacency over token positions, BM25 over the terms
    "q_phrase" -> ((s, dir) =>
      TextOps.phraseTopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10)),

    // sloppy phrase: ordered per-gap proximity (gap ≤ 1 + slop) — the
    // Searcher.searchPhrase(slop) contract, pinned by the golden model
    "q_phrase_slop" -> ((s, dir) =>
      TextOps.phraseTopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10, slop = 1)),

    "q_bm25_page2" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 20).offset(10).limit(10)),

    // multi-term query expansion (PrefixQuery / FuzzyQuery analogs under
    // the scoring BooleanQuery rewrite — terms from the corpus
    // dictionary, each with its own idf, disjunctive)
    "q_prefix_search" -> ((s, dir) =>
      TextOps.bm25TopKExpanded(t(s, dir, "documents"), "doc_id", "text",
        col("term").startsWith("S"), 10)),

    "q_fuzzy_search" -> ((s, dir) =>
      TextOps.bm25TopKExpanded(t(s, dir, "documents"), "doc_id", "text",
        levenshtein(col("term"), lit("PORT")) <= 1, 10)),

    // TermRangeQuery / RegexpQuery analogs — the remaining MultiTermQuery
    // rewrites: a dictionary interval / an anchored whole-term regex,
    // each expanded term scoring with its own idf
    "q_term_range" -> ((s, dir) =>
      TextOps.bm25TopKExpanded(t(s, dir, "documents"), "doc_id", "text",
        col("term") >= "SC" && col("term") < "SP", 10)),

    // mixed MUST/SHOULD BooleanQuery (full Occur semantics): the match
    // set is docs containing the MUST term; SHOULD terms boost scores —
    // score over MUST ∪ SHOULD restricted to the MUST match set
    "q_bool_query" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mustDocs = TextOps.tokens(docs, "doc_id", "text")
        .where(col("term") === "SPARK").select("doc_id").distinct()
      TextOps.bm25Scores(docs, "doc_id", "text",
          Seq("spark", "join", "fast"), conjunctive = false)
        .join(mustDocs, Seq("doc_id"), "left_semi")
        .orderBy(col("score").desc, col("doc_id").asc)
        .select("doc_id", "score").limit(10)
    }),

    "q_regexp_search" -> ((s, dir) =>
      TextOps.bm25TopKExpanded(t(s, dir, "documents"), "doc_id", "text",
        col("term").rlike("^S[A-Z]{3,4}$"), 10)),

    // classic QueryParser front door through a REAL index: MUST term +
    // boosted SHOULD + prefix expansion + MUST_NOT in one query string,
    // engine ordering on the oracle's exact (rounded score, original id)
    // tiebreak so page parity is structural (ADVICE#3 discipline)
    "q_query_parse" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val root = java.nio.file.Files.createTempDirectory("graft-qp-").toString
      IndexBuilder.buildFull(s, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4),
        "battery-query-parse")
      val sr = new graft.query.Searcher(s, root, SynonymDict.empty)
      val parsed = graft.query.QueryParser.parse(
        "+spark join^2 fa* -vector +(scan batch)^0.5")
      materialized(
        sr.scoreParsed(parsed)
          .join(sr.docstore.select("doc_id", "url"), Seq("doc_id"))
          .select(expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)")
            .as("doc_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc).limit(10)) {
        sr.close(); deleteRec(root)
      }
    }),

    // more-like-this: source doc's top terms by round(tf·idf, 6) become
    // one disjunctive query, source excluded
    "q_more_like_this" -> ((s, dir) =>
      TextOps.moreLikeThisTopK(t(s, dir, "documents"), "doc_id", "text",
        7L, 10)),

    // highlighter: first matching token position + ±2-token snippet per
    // top-10 hit (golden-pinned deterministic contract)
    "q_highlight" -> ((s, dir) =>
      TextOps.highlightTopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join"), 10)),

    // aggregates over the scored set directly — no top-k heap in the plan
    // (Q12: Searcher.searchWithMeta takes the same shape)
    "q_hit_meta" -> ((s, dir) =>
      TextOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "join"))
        .agg(count(lit(1)).as("total"), max("score").as("max_score"))),

    "q_search_sort_field" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val matches = TextOps.tokens(docs, "doc_id", "text")
        .where(col("term") === "SPARK").select("doc_id").distinct()
      matches.join(docs, Seq("doc_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .select("doc_id", "n_chars").limit(20)
    }),

    "q_match_docid_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tks = TextOps.tokens(docs, "doc_id", "text")
      tks.where(col("term").isin("SPARK", "JOIN")).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("m"))
        .where(col("m") === 2).select("doc_id").orderBy("doc_id")
    }),

    // ---- synonym expansion wiring (SURVEY.md §2.3 Y1/Y3): the greedy
    //      multi-word semantics are pinned by SynonymSpec; this verifies
    //      the distributed expansion path with SQL-replayable rules ----
    "q_synonym_expand" -> ((s, dir) => {
      val dict = SynonymDict.parse(Seq("spark => apachespark", "join,merge"))
      val bc = s.sparkContext.broadcast(dict)
      val ex = udf((ts: Seq[String]) => bc.value.expand(ts.toIndexedSeq))
      t(s, dir, "documents")
        .select(explode(ex(graft.functions.graftFunctions.qube_tokenize(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n")).orderBy("term")
    }),

    // ---- facets over TPC-H tables (SURVEY.md §2.5) ----
    "q_facet_counts" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("doc_id", col("l_orderkey") * 10 + col("l_linenumber"))
      val matches = li.where(col("l_quantity") > 25).select("doc_id")
      val facets = li.select(col("doc_id"), lit("returnflag").as("dim"),
          col("l_returnflag").as("label"))
        .unionByName(li.select(col("doc_id"), lit("linestatus").as("dim"),
          col("l_linestatus").as("label")))
      Facets.flatCounts(matches, facets, offset = 0, limit = 3, minCount = 5)
        .orderBy("dim", "rank")
    }),

    "q_facet_math" -> ((s, dir) => {
      def li = t(s, dir, "lineitem") // fresh lineage per use (self-join safe)
        .withColumn("doc_id", col("l_orderkey") * 10 + col("l_linenumber"))
      Facets.facetMath(li.select("doc_id"),
          li.select(col("doc_id"), col("l_returnflag").as("label"),
            col("l_quantity")), "l_quantity")
        .orderBy("label")
    }),

    "q_facet_hier" -> ((s, dir) => {
      val geo = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("doc_id"), lit("geo").as("dim"),
          array(col("r_name"), col("n_name")).as("path"))
      Facets.hierarchicalCounts(geo.select("doc_id"), geo, topN = 10)
        .withColumn("path", concat_ws("/", col("prefix")))
        .select("dim", "path", "depth", "cnt", "rank")
        .orderBy("depth", "path")
    }),

    // facets THROUGH the index: build over `documents` (page shape:
    // url carries `source` as the host), facet sidecar written at build
    // time, counts served by Searcher.facetSearch over the match set —
    // the reference's facetSearch over build-time facet fields
    "q_facet_indexed" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val root = java.nio.file.Files.createTempDirectory("graft-fidx-").toString
      // dims declared through the FacetSpec config (the reference's
      // schema-driven facet fields) rather than the built-in defaults
      // v3 posting blocks: this entry + q_fielded + q_search_batch prove
      // the bitpacked format through the DuckDB oracle gate, while
      // q_fielded_append/q_json_field_filter keep v2 covered
      IndexBuilder.buildFull(s, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
          formatVersion = graft.codec.VarByte.FormatV3,
          facetSpecs = Seq(
            IndexBuilder.FacetSpec("lang", col("lang")),
            IndexBuilder.FacetSpec("site",
              regexp_extract(col("url"), "^[a-zA-Z]+://([^/]+)", 1)))),
        "battery-facet-index")
      val sr = new Searcher(s, root, SynonymDict.empty)
      materialized(
        sr.facetSearch("spark", limit = 5).orderBy("dim", "rank")) {
        sr.close(); deleteRec(root)
      }
    }),

    // range facets (the Lucene Long/DoubleRangeFacetCounts analog): per
    // declared range, ONE map-side-combined aggregation — overlapping
    // ranges count a doc once per covering range; empty ranges surface
    // with cnt 0
    "q_facet_range" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("doc_id", col("l_orderkey") * 10 + col("l_linenumber"))
      Facets.rangeCounts(
        li.where(col("l_returnflag") === "R").select("doc_id"),
        li.select(col("doc_id"), col("l_quantity")), "l_quantity",
        Seq(Facets.RangeSpec("q_small", 1, 10),
          Facets.RangeSpec("q_mid", 10, 25),
          Facets.RangeSpec("q_large", 25, 50, includeUpper = true),
          Facets.RangeSpec("q_overlap", 20, 40,
            includeLower = false, includeUpper = true),
          Facets.RangeSpec("q_empty", 60, 70)))
        .orderBy("label")
    }),

    // drill-sideways facets (the Lucene DrillSideways analog): with
    // drill-downs lang=en, source=src1 applied, each drilled dim's own
    // counts drop its OWN constraint but keep the other's
    "q_drill_sideways" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val matches = TextOps.tokens(docs, "doc_id", "text")
        .where(col("term") === "SPARK").select("doc_id").distinct()
      val facets = docs.select(col("doc_id"), lit("lang").as("dim"),
          col("lang").as("label"))
        .unionByName(docs.select(col("doc_id"), lit("source").as("dim"),
          col("source").as("label")))
      Facets.drillSideways(matches, facets,
          Map("lang" -> "en", "source" -> "src1"), limit = 10)
        .orderBy("dim", "rank")
    }),

    // grouped top-k THROUGH the index (the Lucene grouping module's
    // TopGroups analog): groups = facet-dim labels ranked by best doc,
    // top docsPerGroup docs within each; engine doc_ids are url-sorted
    // so the oracle's (score, source, doc_id) tiebreak is structural
    "q_search_grouped" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val root = java.nio.file.Files.createTempDirectory("graft-grp-").toString
      IndexBuilder.buildFull(s, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
          facetSpecs = Seq(IndexBuilder.FacetSpec("lang", col("lang")))),
        "battery-search-grouped")
      val sr = new Searcher(s, root, SynonymDict.empty)
      materialized(
        sr.searchGrouped("spark join", dim = "lang", topGroups = 3,
            docsPerGroup = 2, roundScoresTo = Some(4))
          .join(sr.docstore.select("doc_id", "url"), Seq("doc_id"))
          .select(col("label"), col("group_rank"),
            expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)")
              .as("doc_id"),
            col("score"), col("doc_rank"))
          .orderBy("group_rank", "doc_rank")) {
        sr.close(); deleteRec(root)
      }
    }),

    // dictionary suggesters (the Lucene suggest module analogs):
    // autocomplete by (df desc, term) and spell correction by
    // (edit distance, df desc, term)
    "q_suggest" -> ((s, dir) =>
      TextOps.suggestTerms(t(s, dir, "documents"), "doc_id", "text", "S", 5)),

    "q_spellcheck" -> ((s, dir) =>
      TextOps.spellSuggest(t(s, dir, "documents"), "doc_id", "text",
        "past", 10)),

    "q_facet_topn" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name").agg(count(lit(1)).as("cnt"))
      TextOps.topNPerGroup(c, Seq("r_name"),
          Seq(col("cnt").desc, col("n_name").asc), 3)
        .select("r_name", "n_name", "cnt", "rn").orderBy("r_name", "rn")
    }),

    // ---- incremental semantics shapes (S4/S5) ----
    "q_upsert_latest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      TextOps.topNPerGroup(ev, Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc), 1)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
        .orderBy("user_id")
    }),

    "q_delete_anti" -> ((s, dir) => {
      val errUsers = t(s, dir, "events").where(col("event_type") === "error")
        .select(col("user_id").as("doc_id")).distinct()
      t(s, dir, "documents").join(errUsers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // ---- analysis-chain scalar ops (A5/A6/A7/A8, SURVEY.md §2.2) ----
    "q_json_flatten" -> ((s, dir) =>
      graft.pipeline.JsonFields.flatten(t(s, dir, "events"), "event_id", "props")
        .select(col("event_id"), col("key"), col("vtype"),
          col("num_val").cast("double").as("num_val"))
        .orderBy("event_id", "key")),

    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          coalesce(
            expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) as double)"),
            lit(0.0)).as("k_val"))
        .orderBy("event_id")),

    // multi-field search with per-field analyzers: body (text analyzer)
    // + src (keyword analyzer over the url) built as parallel indexes
    // with their own statistics; cross-field AND composes on doc_id and
    // sums per-field BM25 scores in field order — the reference's
    // schema-driven fields with per-field analyzer dispatch
    "q_fielded" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val fields = Seq(
        graft.index.FieldedIndex.FieldSpec("body", col("text")),
        graft.index.FieldedIndex.FieldSpec("src", col("url"),
          analyzer = graft.analysis.Tokenizer.Keyword))
      val root = java.nio.file.Files.createTempDirectory("graft-fld-").toString
      graft.index.FieldedIndex.buildFull(s, pages, fields, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
          formatVersion = graft.codec.VarByte.FormatV3),
        "battery-fielded")
      val fsr = new graft.index.FieldedIndex.FieldedSearcher(s, root, fields)
      materialized(
        // rank on 4dp-rounded scores to mirror the oracle's rounded rank
        // (TextOps.bm25TopK convention — round BEFORE the limit); final
        // order uses the SAME tiebreak as the oracle (score desc,
        // source, doc_id) so rounded-score ties at the k-th cutoff page
        // identically at any corpus scale — structural parity, not a
        // coincidence of this sf's score distribution. body^2.0 is the
        // query-time field boost (field^boost analog) — the oracle
        // scales its body contribution by the same constant
        fsr.searchMulti(Map("body" -> "spark", "src" -> "src3"), 10,
            roundScoresTo = Some(4), boosts = Map("body" -> 2.0))
          .join(fsr.searcher("body").docstore.select("doc_id", "url"),
            Seq("doc_id"))
          .select(expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)")
            .as("doc_id"), col("score"),
            expr("regexp_extract(url, '^doc://([^/]+)/', 1)").as("__src"))
          .orderBy(col("score").desc, col("__src").asc, col("doc_id").asc)
          .select("doc_id", "score")) {
        fsr.close(); deleteRec(root)
      }
    }),

    // fielded QUERY STRINGS (`field:` prefixes through parseFielded):
    // MUST body term + boosted src SHOULD + body MUST_NOT, per-field
    // statistics, one cross-field fold — same 2-field deployment and
    // structural tiebreak as q_fielded
    "q_field_query" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val fields = Seq(
        graft.index.FieldedIndex.FieldSpec("body", col("text")),
        graft.index.FieldedIndex.FieldSpec("src", col("url"),
          analyzer = graft.analysis.Tokenizer.Keyword))
      val root = java.nio.file.Files.createTempDirectory("graft-fq-").toString
      graft.index.FieldedIndex.buildFull(s, pages, fields, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4),
        "battery-field-query")
      val fsr = new graft.index.FieldedIndex.FieldedSearcher(s, root, fields)
      materialized(
        // the k-cutoff inside searchQuery breaks rounded-score ties on
        // ENGINE doc_id — which is url-sort order = (source, zero-padded
        // original id) by construction — so the selection is structurally
        // identical to the oracle's ORDER BY score DESC, source, doc_id
        // LIMIT 10 (same argument as q_fielded)
        fsr.searchQuery("+spark src:src3^2 -vector", defaultField = "body",
            k = 10, roundScoresTo = Some(4))
          .join(fsr.searcher("body").docstore.select("doc_id", "url"),
            Seq("doc_id"))
          .select(expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)")
            .as("doc_id"), col("score"),
            expr("regexp_extract(url, '^doc://([^/]+)/', 1)").as("__src"))
          .orderBy(col("score").desc, col("__src").asc, col("doc_id").asc)
          .select("doc_id", "score")) {
        fsr.close(); deleteRec(root)
      }
    }),

    // the coordinated fielded LIFECYCLE through the real engine: base
    // build on 2/3 of the corpus, APPEND the rest (ids continue above
    // the ceiling in every field), coordinated DELETE by PK (tombstones
    // fanned to both field roots), posting-level mergeCompact (original
    // ids kept, alignment preserved), then the same cross-field search
    // as q_fielded over the surviving corpus
    "q_fielded_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def pagesOf(d: DataFrame) = d.select(
        format_string("doc://%s/%06d", col("source"), col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val fields = Seq(
        graft.index.FieldedIndex.FieldSpec("body", col("text")),
        graft.index.FieldedIndex.FieldSpec("src", col("url"),
          analyzer = graft.analysis.Tokenizer.Keyword))
      val root = java.nio.file.Files.createTempDirectory("graft-flda-").toString
      // pinned v2: the lifecycle probe keeps exercising the varint
      // format end-to-end now that the engine default is v3
      val cfg = IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
        formatVersion = graft.codec.VarByte.FormatV2)
      graft.index.FieldedIndex.buildFull(s,
        pagesOf(docs.filter(col("doc_id") % 3 =!= 0)), fields, root, cfg,
        "battery-fielded-base")
      graft.index.FieldedIndex.append(s,
        pagesOf(docs.filter(col("doc_id") % 3 === 0)), fields, root, cfg,
        "battery-fielded-append")
      graft.index.FieldedIndex.deleteByPk(s, root, fields,
        docs.filter(col("doc_id") % 10 === 7).select(
          format_string("doc://%s/%06d", col("source"), col("doc_id"))
            .as("url")))
      graft.index.FieldedIndex.mergeCompact(s, root, fields, cfg)
      val fsr = new graft.index.FieldedIndex.FieldedSearcher(s, root, fields)
      materialized(
        // final order mirrors the oracle tiebreak EXACTLY: score desc,
        // then appended-batch membership (doc_id % 3 = 0, false first —
        // appended docs sit above the id ceiling, so the engine's
        // internal doc_id order is (appended?, source, id)), then
        // source, then id — rounded-score ties at the k-th cutoff page
        // identically at any corpus scale (ADVICE round-4 parity item)
        fsr.searchMulti(Map("body" -> "spark", "src" -> "src3"), 10,
            roundScoresTo = Some(4))
          .join(fsr.searcher("body").docstore.select("doc_id", "url"),
            Seq("doc_id"))
          .select(expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)")
            .as("doc_id"), col("score"),
            expr("regexp_extract(url, '^doc://([^/]+)/', 1)").as("__src"))
          .orderBy(col("score").desc, (col("doc_id") % 3 === 0).asc,
            col("__src").asc, col("doc_id").asc)
          .select("doc_id", "score")) {
        fsr.close(); deleteRec(root)
      }
    }),

    // dynamic JSON subfields THROUGH the index: json sidecar keyed by
    // the engine's doc_ids; BM25 top-k filtered by a nested numeric
    // field (META.CHARS — reference addJson dynamic fields). Output ids
    // recovered from the url PK so the oracle can compare; url carries a
    // zero-padded doc_id, so engine id order == documents id order
    "q_json_field_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(
        format_string("doc://%06d", col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val root = java.nio.file.Files.createTempDirectory("graft-jidx-").toString
      // pinned v2: keeps explicit varint-format coverage in the DuckDB
      // battery now that the engine default is v3
      IndexBuilder.buildFull(s, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
          formatVersion = graft.codec.VarByte.FormatV2),
        "battery-json-index")
      IndexBuilder.buildJsonSidecar(s, root, docs.select(
        format_string("doc://%06d", col("doc_id")).as("url"),
        format_string("""{"meta": {"chars": %d}, "src": "%s"}""",
          col("n_chars"), col("source")).as("json")))
      val sr = new Searcher(s, root, SynonymDict.empty)
      materialized(
        sr.searchJsonFiltered("spark", 10, "META.CHARS", col("num_val") > 300.0,
            roundScoresTo = Some(4)) // rounded rank = the oracle's rank
          .select(expr("cast(substring(url, 7) as bigint)").as("doc_id"),
            col("score"))
          .orderBy(col("score").desc, col("doc_id").asc)) {
        sr.close(); deleteRec(root)
      }
    }),

    // BATCHED serving through the real index: N queries in ONE plan —
    // one term_stats probe, one posting scan over the union of terms,
    // one per-(query, doc) fold, one window rank. Rank on 4dp-rounded
    // scores to mirror the oracle's rounded rank
    "q_search_batch" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(
        format_string("doc://%06d", col("doc_id")).as("url"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
      val root = java.nio.file.Files.createTempDirectory("graft-batch-").toString
      IndexBuilder.buildFull(s, pages, SynonymDict.empty, root,
        IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4,
          formatVersion = graft.codec.VarByte.FormatV3),
        "battery-batch-index")
      val sr = new Searcher(s, root, SynonymDict.empty)
      materialized(
        sr.searchBatch(Map(
            "q1" -> "spark join", "q2" -> "vector",
            "q3" -> "fast query", "q0" -> "zzznotaword fast"),
            10, roundScoresTo = Some(4))
          .join(sr.docstore.select("doc_id", "url"), Seq("doc_id"))
          .select(col("query_id"),
            expr("cast(substring(url, 7) as bigint)").as("doc_id"),
            col("score"))
          .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)) {
        sr.close(); deleteRec(root)
      }
    }),

    "q_date_roundtrip" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          date_format(col("ts"), "yyyyMMddHHmmss").as("ts_str"),
          unix_timestamp(col("ts")).as("epoch_s"))
        .orderBy("event_id")),

    "q_numeric_coercion" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          coalesce(expr("try_cast(substring(source, 4) as int)"), lit(-1))
            .as("src_num"))
        .orderBy("doc_id")),

    "q_sort_key" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.functions.graftFunctions.normalize_sort_key(
            substring(col("text"), 1, 20)).as("sort_key"))
        .orderBy(col("sort_key").asc, col("doc_id").asc).limit(20)),

    // ---- event-time windowed aggregation (batch semantics of the
    //      streaming op — same expression runs under readStream with a
    //      watermark, graft.streaming.EventAggregates) ----
    "q_window_agg" -> ((s, dir) =>
      graft.streaming.EventAggregates.windowedCounts(t(s, dir, "events"))
        .select(unix_micros(col("win_start").cast("timestamp")).as("ws"),
          col("event_type"), col("n"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("ws", "event_type")),

    // ---- event-time sessionization THROUGH the streaming engine: runs
    //      the real mapGroupsWithState path (MemoryStream → watermark →
    //      flatMapGroupsWithState → memory sink), flushed by far-future
    //      sentinel batches (the spec's watermark/timeout protocol); the
    //      oracle replays the session semantics as SQL gaps-and-islands.
    //      The driver-side feed is the MemoryStream harness contract —
    //      production uses readStream sources (StreamIndexer) ----
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.EventAggregates
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val gapMs = 86400000L // 24h sessions over the 30-day events table
      val evDs = t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventAggregates.Event]
      // scale-adaptive state partitioning: a stream's state-store
      // partition count is a per-query sizing decision (pinned at first
      // checkpoint in production); derive it from input volume — one
      // partition per 50k-row feed chunk, capped at the session width —
      // instead of inheriting the batch session's shuffle width, where
      // every micro-batch barrier pays a full set of state-store
      // open/commits for a handful of keys. Results are partitioning-
      // independent (per-key state, explicit in-key sort). The stream
      // runs on a child session holding that width, so `s` keeps its own.
      val nEvents = t(s, dir, "events").count()
      val streamParts = math.max(1L, math.min(
        s.conf.get("spark.sql.shuffle.partitions").toLong, nEvents / 50000L + 1L))
      val ss = org.apache.spark.sql.graft.Bridge.cloneSession(s)
      ss.conf.set("spark.sql.shuffle.partitions", streamParts.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val in = MemoryStream[EventAggregates.Event]
      val sessions = EventAggregates.sessionize(ss, in.toDS(), gapMs = gapMs)
      val sink = "q_sessionize_sink"
      val q = sessions.writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      try {
        // BOUNDED feed: the table streams through the driver one
        // ts-ordered chunk at a time, and processAllAvailable between
        // chunks lets the MemoryStream commit + purge processed blocks,
        // so driver memory stays O(chunk) instead of O(table). Feeding
        // in ts order keeps the watermark monotone across chunks, so no
        // event is ever late relative to an earlier chunk's watermark —
        // which is also why the CHUNK SIZE cannot change the result:
        // batch boundaries only delay watermark advancement, never drop
        // an event, and the flush sentinels force every timeout at the
        // end. 250k (~20 MB of events) quarters the number of
        // micro-batch barriers vs the previous 50k; coalesce(1) keeps
        // the sorted partitions' order and lets toLocalIterator fetch
        // everything in ONE job instead of one per partition batch.
        var maxTs = Long.MinValue
        evDs.orderBy("ts").coalesce(1).toLocalIterator().asScala
          .grouped(250000).foreach { chunk =>
            maxTs = math.max(maxTs, chunk.last.ts.getTime)
            in.addData(chunk: _*)
            q.processAllAvailable()
          }
        // sentinel batches: first advances the watermark past every
        // real session's last+gap, second fires the event-time timeouts
        val flushTs = maxTs + gapMs + 3600000L
        in.addData(EventAggregates.Event(-1L,
          new java.sql.Timestamp(flushTs), -1L, "flush", 0.0))
        q.processAllAvailable()
        in.addData(EventAggregates.Event(-2L,
          new java.sql.Timestamp(flushTs + 3600000L), -1L, "flush", 0.0))
        q.processAllAvailable()
        // ms, not µs: the state buffer is Timestamp.getTime-granular
        val rows = ss.table(sink).filter(col("user_id") >= 0)
          .select(col("user_id"), col("n_events"),
            unix_millis(col("first_ts")).as("session_start"),
            unix_millis(col("last_ts")).as("session_end"),
            round(col("total_value"), 4).as("total_value"))
          .as[(Long, Long, Long, Long, Double)].collect().toSeq
        rows.toDF("user_id", "n_events", "session_start", "session_end",
            "total_value")
          .orderBy("user_id", "session_start")
      } finally q.stop()
    }),

    // ---- joins / windows (SURVEY.md §2.6/§2.9) ----
    "q_topk_per_group" -> ((s, dir) =>
      TextOps.topNPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")),

    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("p_brand")),

    "q_join_semi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")),

    "q_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey")),

    // ---- training-data pipeline: dedup / text analysis ----
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.dedupExact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp")),

    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_ngram_jaccard" -> ((s, dir) =>
      TextOps.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.008)
        .orderBy("id_a", "id_b")),

    "q_token_counts" -> ((s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_quality" -> ((s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_tokens", "punct_ratio", "chars_per_token",
          "stopword_ratio", "quality")
        .orderBy("doc_id")),

    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- sketches (portable polynomial hashes — every step integer
    //      SQL, so the DuckDB oracle replays them exactly; recall vs the
    //      exact baselines additionally pinned in ScalaTest) ----
    "q_minhash_lsh" -> ((s, dir) =>
      TextOps.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
          n = 3, k = 16, bands = 16, verifyThreshold = 0.005)
        .orderBy("id_a", "id_b")),

    "q_simhash" -> ((s, dir) =>
      TextOps.simhash64(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // chunk-bucketed SimHash pairs: the 16-bit-chunk pigeonhole is
    // EXHAUSTIVE at maxDist <= 3 (3 flipped bits touch <= 3 of 4
    // chunks), so the bucketed engine output equals the oracle's
    // brute-force Hamming join
    "q_simhash_pairs" -> ((s, dir) =>
      TextOps.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 3)
        .orderBy("id_a", "id_b")),

    // ---- similarity search over embeddings ----
    "q_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      VectorOps.cosineTopK(emb, "vec_id", "embedding", q, 10)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      VectorOps.annTopK(emb, "vec_id", "embedding", q, 10)
    }),

    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      // maxTrainRows pinned EXPLICITLY: the oracle replays Lloyd over
      // the same ORDER BY vec_id LIMIT 200000 prefix, so the train-set
      // contract stays two-sided at any table size (invariant 9)
      val cents = VectorOps.trainIvfCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 3, maxTrainRows = 200000)
      VectorOps.ivfTopK(emb, "vec_id", "embedding", q, 10, cents, nprobe = 2)
    }),

    // the SCALE path: sign-LSH buckets × 8 seeds (recall), candidate
    // pairs bucket-local, exact cosine only on candidates — the exact
    // all-pairs form (round 1's 52.6 s cross join) is ScalaTest-only
    "q_vec_neardup" -> ((s, dir) =>
      VectorOps.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45, seeds = neardupSeeds, nPlanes = 4)
        .orderBy("id_a", "id_b")),

    // dedup APPLICATION: collapse the near-dup pairs into components,
    // keep_id = each component's smallest id (the survivor)
    "q_neardup_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = VectorOps.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.45, seeds = neardupSeeds, nPlanes = 4)
      TextOps.nearDupComponents(emb.select("vec_id"), "vec_id", pairs)
        .orderBy("id")
    }),

    // ---- match-set re-rank by vector similarity (SURVEY.md Q15: the
    //      reference's image re-rank, Searcher.java:963-1069, over our
    //      embeddings instead of LIRE features) ----
    "q_rerank_cosine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val matches = TextOps.tokens(docs, "doc_id", "text")
        .where(col("term") === "SPARK")
        .select(col("doc_id").as("vec_id")).distinct()
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      VectorOps.rerankByCosine(matches, emb, "vec_id", "embedding", q, 10)
    }),

    // ---- multimodal plumbing (audio/video decode STUBBED — see
    //      Multimodal; image decode is REAL, next query) ----
    "q_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .toDF().select("media_id", "kind", "n_bytes", "byte_sum", "width", "height")
        .orderBy("media_id")),

    // REAL image decode through javax.imageio: deterministic 8×8 PNGs
    // generated per doc (pure function of doc_id), decoded back to true
    // dimensions + pixel sums — PNG is lossless, so the oracle recomputes
    // the expected pixels from the generator formula in pure SQL
    "q_image_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPng(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeImages(s, media).toDF()
        .select("media_id", "width", "height", "px_sum")
        .orderBy("media_id")
    }),

    // REAL WAV/PCM decode through a direct RIFF parse (raw samples need
    // no codec library): deterministic PCM16 WAVs generated per doc,
    // decoded back to sample-rate + sample statistics — the oracle
    // replays the generator formula in pure SQL, so a match proves the
    // container parse and sample extraction are real
    "q_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeAudios(s, media).toDF()
        .select("media_id", "sample_rate", "n_samples", "abs_sum", "max_abs")
        .orderBy("media_id")
    }),

    // REAL video decode: deterministic motion-PNG AVIs (2 + id%3
    // frames) per doc, container-walked (RIFF/AVI) and frame-decoded
    // back through javax.imageio at stride 2. The oracle replays the
    // per-frame pixel formula in pure SQL — a match proves BOTH the AVI
    // chunk walk and the frame decode are real
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticAvi(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeVideoFrames(s, media, stride = 2).toDF()
        .select("media_id", "frame_idx", "width", "height", "px_sum")
        .orderBy("media_id", "frame_idx")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_tf" ->
      s"""$toksCte
         |SELECT doc_id, term, count(*) AS tf FROM toks
         |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,

    "q_term_stats" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         |FROM tf GROUP BY term ORDER BY term""".stripMargin,

    "q_collection_stats" ->
      s"""$toksCte, dl AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM toks t WHERE t.doc_id = d.doc_id) AS dl
         |  FROM documents d)
         |SELECT count(*) AS doc_count, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |  round(CAST(sum(dl) AS DOUBLE) / count(*), 4) AS avgdl FROM dl""".stripMargin,

    "q_bm25_topk" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bm25_or" ->
      s"""${bm25Cte("('SPARK'), ('ZZZNOTAWORD')")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bm25_filter" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')", "lang = 'de'")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bm25_not" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |AND doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'FAST')
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bm25_msm" ->
      s"""${bm25Cte("('JOIN'), ('SPARK'), ('VECTOR')")}
         |SELECT doc_id, score FROM scored WHERE matched >= 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_prefix_search" ->
      s"""${bm25CteQ("SELECT DISTINCT term FROM tf WHERE term LIKE 'S%'")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_fuzzy_search" ->
      s"""${bm25CteQ(
             "SELECT DISTINCT term FROM tf WHERE levenshtein(term, 'PORT') <= 1")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_term_range" ->
      s"""${bm25CteQ(
             "SELECT DISTINCT term FROM tf WHERE term >= 'SC' AND term < 'SP'")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bool_query" ->
      s"""${bm25Cte("('FAST'), ('JOIN'), ('SPARK')")}
         |SELECT doc_id, score FROM scored
         |WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'SPARK')
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_regexp_search" ->
      s"""${bm25CteQ(
             "SELECT DISTINCT term FROM tf " +
               "WHERE regexp_matches(term, '^S[A-Z]{3,4}$')")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // weighted clause scoring: each clause's terms with its boost; the
    // same term reached through two clauses contributes once per clause;
    // the +(scan batch)^0.5 group is ONE any-of requirement whose
    // members score with the group-multiplied weight (engine scoreParsed
    // semantics)
    "q_query_parse" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |), dl AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
         |  FROM documents d
         |), stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |), qw AS (
         |  SELECT 'SPARK' AS term, CAST(1.0 AS DOUBLE) AS w
         |  UNION ALL SELECT 'JOIN', 2.0
         |  UNION ALL SELECT 'SCAN', 0.5
         |  UNION ALL SELECT 'BATCH', 0.5
         |  UNION ALL SELECT term, 1.0
         |    FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 'FA%')
         |), dfq AS (
         |  SELECT term, count(*) AS df FROM tf
         |  WHERE term IN (SELECT term FROM qw) GROUP BY 1
         |), scored AS (
         |  SELECT tf.doc_id, round(sum(
         |    qw.w * ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
         |  FROM tf JOIN qw USING (term) JOIN dfq ON dfq.term = tf.term
         |  JOIN dl USING (doc_id) CROSS JOIN stats s
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, score FROM scored
         |WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'SPARK')
         |  AND doc_id IN (
         |    SELECT doc_id FROM toks WHERE term IN ('SCAN', 'BATCH'))
         |  AND doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'VECTOR')
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_more_like_this" ->
      s"""${bm25CteQ(
             """SELECT term FROM (
               |  SELECT t.term,
               |    round(t.tf * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)), 6) AS w
               |  FROM tf t
               |  JOIN (SELECT term, count(*) AS df FROM tf GROUP BY 1) d USING (term)
               |  CROSS JOIN stats s
               |  WHERE t.doc_id = 7)
               |ORDER BY w DESC, term LIMIT 10""".stripMargin)}
         |SELECT doc_id, score FROM scored WHERE doc_id <> 7
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_highlight" ->
      s"""${bm25Cte("('JOIN'), ('SPARK')")}
         |, hits AS (
         |  SELECT doc_id, score FROM scored
         |  ORDER BY score DESC, doc_id LIMIT 10
         |), tok AS (
         |  SELECT doc_id,
         |    list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
         |      x -> upper(x)) AS toks
         |  FROM documents
         |), hpos AS (
         |  SELECT doc_id, toks,
         |    list_filter(range(1, len(toks) + 1),
         |      i -> list_extract(toks, i) IN ('JOIN', 'SPARK'))[1] AS p
         |  FROM tok
         |)
         |SELECT h.doc_id, h.score, CAST(hp.p AS BIGINT) AS match_pos,
         |  array_to_string(
         |    list_slice(hp.toks, greatest(1, hp.p - 2),
         |      least(len(hp.toks), hp.p + 2)), ' ') AS snippet
         |FROM hits h JOIN hpos hp USING (doc_id)
         |ORDER BY h.score DESC, h.doc_id""".stripMargin,

    "q_phrase" ->
      s"""${bm25Cte("('JOIN'), ('SPARK')",
             "len(list_filter(range(1, length(string_split(upper(text), ' '))), " +
               "i -> string_split(upper(text), ' ')[i] = 'SPARK' AND " +
               "string_split(upper(text), ' ')[i + 1] = 'JOIN')) > 0")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_phrase_slop" ->
      s"""${bm25Cte("('JOIN'), ('SPARK')",
             "len(list_filter(range(1, length(string_split(upper(text), ' '))), " +
               "i -> string_split(upper(text), ' ')[i] = 'SPARK' AND " +
               "(string_split(upper(text), ' ')[i + 1] = 'JOIN' OR " +
               "string_split(upper(text), ' ')[i + 2] = 'JOIN'))) > 0")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_bm25_page2" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')")}
         |SELECT doc_id, score FROM scored WHERE matched = 2
         |ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10""".stripMargin,

    "q_hit_meta" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')")}
         |SELECT count(*) AS total, max(score) AS max_score
         |FROM scored WHERE matched = 2""".stripMargin,

    "q_search_sort_field" ->
      s"""$toksCte, m AS (
         |  SELECT DISTINCT doc_id FROM toks WHERE term = 'SPARK')
         |SELECT d.doc_id, d.n_chars FROM documents d JOIN m USING (doc_id)
         |ORDER BY d.n_chars DESC, d.doc_id LIMIT 20""".stripMargin,

    "q_match_docid_order" ->
      s"""$toksCte, m AS (
         |  SELECT DISTINCT doc_id, term FROM toks WHERE term IN ('SPARK', 'JOIN'))
         |SELECT doc_id FROM m GROUP BY doc_id HAVING count(*) = 2
         |ORDER BY doc_id""".stripMargin,

    "q_synonym_expand" ->
      s"""$toksCte, expanded AS (
         |  SELECT doc_id,
         |    CASE WHEN term = 'SPARK' THEN 'APACHESPARK' ELSE term END AS term
         |  FROM toks
         |  UNION ALL SELECT doc_id, 'MERGE' FROM toks WHERE term = 'JOIN'
         |  UNION ALL SELECT doc_id, 'JOIN' FROM toks WHERE term = 'MERGE')
         |SELECT term, count(*) AS n FROM expanded
         |GROUP BY term ORDER BY term""".stripMargin,

    "q_facet_counts" ->
      """WITH li AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS doc_id, l_returnflag,
        |         l_linestatus, l_quantity FROM lineitem),
        |m AS (SELECT doc_id FROM li WHERE l_quantity > 25),
        |f AS (
        |  SELECT doc_id, 'returnflag' AS dim, l_returnflag AS label FROM li
        |  UNION ALL
        |  SELECT doc_id, 'linestatus', l_linestatus FROM li),
        |c AS (
        |  SELECT dim, label, count(*) AS cnt FROM f
        |  WHERE doc_id IN (SELECT doc_id FROM m)
        |  GROUP BY dim, label HAVING count(*) >= 5),
        |r AS (
        |  SELECT dim, label, cnt, CAST(row_number() OVER (
        |    PARTITION BY dim ORDER BY cnt DESC, label) AS INT) AS rank FROM c)
        |SELECT dim, label, cnt, rank FROM r WHERE rank <= 3
        |ORDER BY dim, rank""".stripMargin,

    "q_facet_math" ->
      """SELECT coalesce(l_returnflag, '*_total') AS label,
        |  count(*) AS cnt, round(sum(l_quantity), 2) AS sum,
        |  round(min(l_quantity), 2) AS min, round(max(l_quantity), 2) AS max,
        |  round(avg(l_quantity), 2) AS average
        |FROM lineitem GROUP BY ROLLUP (l_returnflag) ORDER BY label""".stripMargin,

    "q_facet_hier" ->
      """WITH c AS (
        |  SELECT c_custkey, r_name, n_name FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |lvl AS (
        |  SELECT 'geo' AS dim, r_name AS path, 1 AS depth, '' AS parent,
        |         count(*) AS cnt FROM c GROUP BY r_name
        |  UNION ALL
        |  SELECT 'geo', r_name || '/' || n_name, 2, r_name, count(*)
        |  FROM c GROUP BY r_name, n_name),
        |r AS (
        |  SELECT dim, path, depth, cnt, CAST(row_number() OVER (
        |    PARTITION BY dim, depth, parent ORDER BY cnt DESC, path) AS INT)
        |    AS rank FROM lvl)
        |SELECT dim, path, depth, cnt, rank FROM r WHERE rank <= 10
        |ORDER BY depth, path""".stripMargin,

    "q_facet_indexed" ->
      s"""$toksCte, m AS (
         |  SELECT DISTINCT doc_id FROM toks WHERE term = 'SPARK'),
         |f AS (
         |  SELECT doc_id, 'lang' AS dim,
         |    coalesce(lang, '__UNSUPPORTED_FACET_VALUE__') AS label
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'site',
         |    coalesce(source, '__UNSUPPORTED_FACET_VALUE__') FROM documents),
         |c AS (
         |  SELECT dim, label, count(*) AS cnt FROM f
         |  WHERE doc_id IN (SELECT doc_id FROM m)
         |  GROUP BY dim, label HAVING count(*) >= 1),
         |r AS (
         |  SELECT dim, label, cnt, CAST(row_number() OVER (
         |    PARTITION BY dim ORDER BY cnt DESC, label) AS INT) AS rank FROM c)
         |SELECT dim, label, cnt, rank FROM r WHERE rank <= 5
         |ORDER BY dim, rank""".stripMargin,

    "q_facet_range" ->
      """WITH li AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS doc_id, l_returnflag,
        |         l_quantity FROM lineitem),
        |b AS (
        |  SELECT l_quantity AS v FROM li
        |  WHERE doc_id IN (SELECT doc_id FROM li WHERE l_returnflag = 'R')),
        |c AS (
        |  SELECT 'q_small' AS label,
        |    count(*) FILTER (WHERE v >= 1 AND v < 10) AS cnt FROM b
        |  UNION ALL SELECT 'q_mid',
        |    count(*) FILTER (WHERE v >= 10 AND v < 25) FROM b
        |  UNION ALL SELECT 'q_large',
        |    count(*) FILTER (WHERE v >= 25 AND v <= 50) FROM b
        |  UNION ALL SELECT 'q_overlap',
        |    count(*) FILTER (WHERE v > 20 AND v <= 40) FROM b
        |  UNION ALL SELECT 'q_empty',
        |    count(*) FILTER (WHERE v >= 60 AND v < 70) FROM b)
        |SELECT label, cnt FROM c ORDER BY label""".stripMargin,

    "q_drill_sideways" ->
      s"""$toksCte, m AS (
         |  SELECT DISTINCT doc_id FROM toks WHERE term = 'SPARK'),
         |ml AS (
         |  SELECT 'lang' AS dim, lang AS label, count(*) AS cnt
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM m) AND source = 'src1'
         |  GROUP BY lang),
         |ms AS (
         |  SELECT 'source' AS dim, source AS label, count(*) AS cnt
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM m) AND lang = 'en'
         |  GROUP BY source),
         |c AS (SELECT * FROM ml UNION ALL SELECT * FROM ms),
         |r AS (
         |  SELECT dim, label, cnt, CAST(row_number() OVER (
         |    PARTITION BY dim ORDER BY cnt DESC, label) AS INT) AS rank FROM c)
         |SELECT dim, label, cnt, rank FROM r WHERE rank <= 10
         |ORDER BY dim, rank""".stripMargin,

    // grouping: doc_rank within label by (score desc, source, id) — the
    // engine's doc_id tiebreak IS url order = (source, zero-padded id);
    // groups ranked by head score with label-asc ties
    "q_search_grouped" ->
      s"""${bm25Cte("('SPARK'), ('JOIN')")}, ld AS (
         |  SELECT s.doc_id, s.score, d.lang AS label, d.source
         |  FROM scored s JOIN documents d USING (doc_id)
         |  WHERE s.matched = 2),
         |dr AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY label ORDER BY score DESC, source, doc_id) AS INT)
         |    AS doc_rank FROM ld),
         |dk AS (SELECT * FROM dr WHERE doc_rank <= 2),
         |gb AS (SELECT *, max(score) OVER (PARTITION BY label) AS group_best
         |  FROM dk),
         |gr AS (SELECT *, CAST(dense_rank() OVER (
         |  ORDER BY group_best DESC, label) AS INT) AS group_rank FROM gb)
         |SELECT label, group_rank, doc_id, score, doc_rank FROM gr
         |WHERE group_rank <= 3 ORDER BY group_rank, doc_rank""".stripMargin,

    "q_suggest" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |SELECT term, df FROM d WHERE term LIKE 'S%'
         |ORDER BY df DESC, term LIMIT 5""".stripMargin,

    "q_spellcheck" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |SELECT term, CAST(levenshtein(term, 'PAST') AS INT) AS dist, df
         |FROM d WHERE levenshtein(term, 'PAST') <= 2 AND term <> 'PAST'
         |ORDER BY dist, df DESC, term LIMIT 10""".stripMargin,

    "q_facet_topn" ->
      """WITH c AS (
        |  SELECT r_name, n_name, count(*) AS cnt FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name),
        |r AS (
        |  SELECT r_name, n_name, cnt, CAST(row_number() OVER (
        |    PARTITION BY r_name ORDER BY cnt DESC, n_name) AS INT) AS rn FROM c)
        |SELECT r_name, n_name, cnt, rn FROM r WHERE rn <= 3
        |ORDER BY r_name, rn""".stripMargin,

    "q_upsert_latest" ->
      """WITH r AS (
        |  SELECT user_id, event_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_delete_anti" ->
      """SELECT doc_id, lang FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_json_flatten" ->
      """SELECT event_id, 'K' AS key, 'FLOAT' AS vtype,
        |  CAST(json_extract(props, '$.k') AS DOUBLE) AS num_val
        |FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |ORDER BY event_id, key""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |  coalesce(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE),
        |           0.0) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    // body score = the standard tokens-CTE BM25 (single term SPARK);
    // src-field score over the url keyword tokens [DOC, <source>,
    // <pad6>]: tf=1 and dl=avgdl=3 for every doc, so the per-doc score
    // closes to idf(df(source)) with the engine's exact arithmetic
    // shape; engine doc_id order = url string order = (source, pad6)
    "q_fielded" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |), dl AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
         |  FROM documents d
         |), stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |), dfq AS (
         |  SELECT count(*) AS df FROM tf WHERE term = 'SPARK'
         |), body AS (
         |  SELECT tf.doc_id,
         |    ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS sb
         |  FROM tf JOIN dl USING (doc_id), stats s, dfq
         |  WHERE tf.term = 'SPARK'
         |), sdf AS (
         |  SELECT count(*) AS df FROM documents WHERE source = 'src3'
         |), total AS (
         |  SELECT b.doc_id, d.source,
         |    round(b.sb * 2.0
         |      + ln(1 + (s.n - sdf.df + 0.5) / (sdf.df + 0.5))
         |        * (1 * (1.2 + 1.0))
         |        / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0)), 4) AS score
         |  FROM body b JOIN documents d USING (doc_id), stats s, sdf
         |  WHERE d.source = 'src3')
         |SELECT doc_id, score FROM total
         |ORDER BY score DESC, source, doc_id LIMIT 10""".stripMargin,

    // fielded query string: body MUST term (w=1) + src3 SHOULD (w=2, the
    // src field's own stats: tf=1, dl=3, avgdl=3) − body VECTOR docs;
    // the fold adds SPARK's pair before SRC3's ('P' < 'R' — the engine's
    // (term, contrib)-ascending order), which the + below reproduces
    "q_field_query" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |), dl AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
         |  FROM documents d
         |), stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |), dfq AS (
         |  SELECT count(*) AS df FROM tf WHERE term = 'SPARK'
         |), body AS (
         |  SELECT tf.doc_id,
         |    ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS sb
         |  FROM tf JOIN dl USING (doc_id), stats s, dfq
         |  WHERE tf.term = 'SPARK'
         |), sdf AS (
         |  SELECT count(*) AS df FROM documents WHERE source = 'src3'
         |), total AS (
         |  SELECT b.doc_id, d.source,
         |    round(b.sb + CASE WHEN d.source = 'src3' THEN
         |      2.0 * ln(1 + (s.n - sdf.df + 0.5) / (sdf.df + 0.5))
         |        * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))
         |      ELSE 0.0 END, 4) AS score
         |  FROM body b JOIN documents d USING (doc_id), stats s, sdf
         |  WHERE b.doc_id NOT IN (
         |    SELECT doc_id FROM toks WHERE term = 'VECTOR'))
         |SELECT doc_id, score FROM total
         |ORDER BY score DESC, source, doc_id LIMIT 10""".stripMargin,

    // q_fielded's twin over the POST-LIFECYCLE corpus: docs with
    // doc_id % 10 = 7 were deleted, so every statistic (n, avgdl, df)
    // re-derives over the survivors. Engine doc_id order after the
    // lifecycle is (appended?, url): base docs keep their ids, appended
    // docs continue above the ceiling — hence the (doc_id % 3 = 0)
    // tiebreak component (false < true in DuckDB)
    "q_fielded_append" ->
      """WITH corpus AS (
        |  SELECT * FROM documents WHERE doc_id % 10 <> 7
        |), toks0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term0 FROM corpus
        |), toks AS (
        |  SELECT doc_id, upper(term0) AS term FROM toks0 WHERE term0 <> ''
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT d.doc_id,
        |    (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
        |  FROM corpus d
        |), stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dl
        |), dfq AS (
        |  SELECT count(*) AS df FROM tf WHERE term = 'SPARK'
        |), body AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS sb
        |  FROM tf JOIN dl USING (doc_id), stats s, dfq
        |  WHERE tf.term = 'SPARK'
        |), sdf AS (
        |  SELECT count(*) AS df FROM corpus WHERE source = 'src3'
        |), total AS (
        |  SELECT b.doc_id, d.source,
        |    round(b.sb
        |      + ln(1 + (s.n - sdf.df + 0.5) / (sdf.df + 0.5))
        |        * (1 * (1.2 + 1.0))
        |        / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0)), 4) AS score
        |  FROM body b JOIN corpus d USING (doc_id), stats s, sdf
        |  WHERE d.source = 'src3')
        |SELECT doc_id, score FROM total
        |ORDER BY score DESC, (doc_id % 3 = 0), source, doc_id
        |LIMIT 10""".stripMargin,

    "q_json_field_filter" ->
      s"""${bm25Cte("('SPARK')", "n_chars > 300")}
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // each query's BM25 replayed independently over shared tf/dl/stats
    // CTEs, unioned by qid — rank on the 4dp-rounded score (both sides)
    "q_search_batch" ->
      s"""$toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |), dl AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM toks f WHERE f.doc_id = d.doc_id) AS dl
         |  FROM documents d
         |), stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |), q AS (
         |  SELECT * FROM (VALUES ('q1','SPARK'), ('q1','JOIN'),
         |    ('q2','VECTOR'), ('q3','FAST'), ('q3','QUERY'),
         |    ('q0','FAST'), ('q0','ZZZNOTAWORD')) t(qid, term)
         |), dft AS (
         |  SELECT term, count(*) AS df FROM tf
         |  WHERE term IN (SELECT term FROM q) GROUP BY term
         |), scored AS (
         |  SELECT q.qid, tf.doc_id, count(*) AS matched,
         |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
         |  FROM q JOIN tf USING (term) JOIN dft d USING (term)
         |    JOIN dl USING (doc_id), stats s
         |  GROUP BY q.qid, tf.doc_id
         |), nq AS (SELECT qid, count(*) AS nt FROM q GROUP BY qid),
         |r AS (
         |  SELECT qid, doc_id, score, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
         |  FROM scored JOIN nq USING (qid) WHERE matched = nt)
         |SELECT qid AS query_id, doc_id, score FROM r WHERE rn <= 10
         |ORDER BY query_id, score DESC, doc_id""".stripMargin,

    "q_date_roundtrip" ->
      """SELECT event_id, strftime(ts, '%Y%m%d%H%M%S') AS ts_str,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |FROM events ORDER BY event_id""".stripMargin,

    "q_numeric_coercion" ->
      """SELECT doc_id,
        |  coalesce(TRY_CAST(substring(source, 4) AS INT), -1) AS src_num
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sort_key" ->
      """SELECT doc_id, upper(trim(substring(text, 1, 20))) AS sort_key
        |FROM documents ORDER BY sort_key, doc_id LIMIT 20""".stripMargin,

    "q_window_agg" ->
      """SELECT CAST(epoch_us(time_bucket(INTERVAL '1 minute', ts)) AS BIGINT) AS ws,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // gaps-and-islands twin of the streaming sessionizer: a session
    // breaks where the per-user event-time gap exceeds 24h. MILLISECOND
    // granularity throughout — the engine's state buffer holds
    // Timestamp.getTime, so both the gap test and the emitted bounds
    // truncate µs to ms; the lag/sum ordering (ms, value) mirrors the
    // engine's in-state sort
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, value FROM events),
        |o AS (
        |  SELECT user_id, tms, value,
        |    lag(tms) OVER (PARTITION BY user_id ORDER BY tms, value) AS pms
        |  FROM e),
        |m AS (
        |  SELECT *, CASE WHEN pms IS NULL
        |      OR tms - pms > 86400000 THEN 1 ELSE 0 END AS brk FROM o),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY tms, value ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(tms) AS BIGINT) AS session_start,
        |  CAST(max(tms) AS BIGINT) AS session_end,
        |  round(sum(value), 4) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, CAST(row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |    AS INT) AS rn FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rn FROM r WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(upper(trim(text))) AS fp, min(doc_id) AS keep_id,
        |  count(*) AS n_dupes
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(upper(trim(text))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH lst AS (
         |  SELECT doc_id, string_split(upper(text), ' ') AS l,
         |    length(string_split(text, ' ')) AS n FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |    generate_series(1, n - 2),
         |    i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS shingle
         |  FROM lst WHERE n >= 3
         |), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.008
         |ORDER BY id_a, id_b""".stripMargin,

    "q_token_counts" ->
      """SELECT doc_id,
        |  CAST(length(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(length(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      s"""$toksCte, sw AS (
         |  SELECT doc_id,
         |    round(sum(CASE WHEN term IN ('THE','A','OF','TO','AND','IN','IS')
         |      THEN 1.0 ELSE 0.0 END) / count(*), 4) AS stopword_ratio,
         |    CAST(count(*) AS DOUBLE) AS n_tokens
         |  FROM toks GROUP BY doc_id)
         |SELECT d.doc_id, sw.n_tokens,
         |  round((length(d.text) - length(regexp_replace(d.text,
         |    '[^a-zA-Z0-9 ]', '', 'g'))) / greatest(CAST(length(d.text) AS DOUBLE),
         |    1.0), 4) AS punct_ratio,
         |  round(CAST(length(d.text) AS DOUBLE) / greatest(sw.n_tokens, 1.0), 4)
         |    AS chars_per_token,
         |  sw.stopword_ratio,
         |  round(0.5 * least(sw.n_tokens / 100.0, 1.0) + 0.5 * (1.0 -
         |    round((length(d.text) - length(regexp_replace(d.text,
         |      '[^a-zA-Z0-9 ]', '', 'g'))) / greatest(
         |      CAST(length(d.text) AS DOUBLE), 1.0), 4)), 4) AS quality
         |FROM documents d JOIN sw USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // sums CAST to BIGINT: DuckDB widens sum(CASE…) to HUGEINT which
    // hashes as float vs Spark's BIGINT (the q_term_stats convention;
    // round-1's only red row)
    "q_lang_id" ->
      s"""$toksCte
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN term IN ('THE','A','OF','TO','AND','IN','IS')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
         |  CAST(sum(CASE WHEN term IN ('DER','DIE','DAS','UND','IST','EIN')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS de_hits,
         |  CAST(sum(CASE WHEN term IN ('EL','LA','DE','QUE','Y','UN')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
         |  CASE
         |    WHEN sum(CASE WHEN term IN ('THE','A','OF','TO','AND','IN','IS')
         |      THEN 1 ELSE 0 END) >= sum(CASE WHEN term IN
         |      ('DER','DIE','DAS','UND','IST','EIN') THEN 1 ELSE 0 END)
         |     AND sum(CASE WHEN term IN ('THE','A','OF','TO','AND','IN','IS')
         |      THEN 1 ELSE 0 END) >= sum(CASE WHEN term IN
         |      ('EL','LA','DE','QUE','Y','UN') THEN 1 ELSE 0 END) THEN 'en'
         |    WHEN sum(CASE WHEN term IN ('DER','DIE','DAS','UND','IST','EIN')
         |      THEN 1 ELSE 0 END) >= sum(CASE WHEN term IN
         |      ('EL','LA','DE','QUE','Y','UN') THEN 1 ELSE 0 END) THEN 'de'
         |    ELSE 'es' END AS lang_pred
         |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ann_cosine" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
        |s AS (
        |  SELECT e.vec_id,
        |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS dp,
        |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
        |    sum(CAST(q.qe[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, idx i GROUP BY e.vec_id)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
        |FROM s ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    // replays the engine's bucketed path: same seeded planes (inlined),
    // same per-seed bucket membership, exact cosine only on candidates
    "q_vec_neardup" ->
      s"""WITH $neardupCtes
         |SELECT id_a, id_b, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
         |FROM s WHERE round(dp / (sqrt(na) * sqrt(nb)), 4) >= 0.45
         |ORDER BY id_a, id_b""".stripMargin,

    // connected components over the same near-dup pairs: transitive
    // min-label closure as a recursive CTE
    "q_neardup_dedup" ->
      s"""WITH RECURSIVE $neardupCtes,
         |np AS (
         |  SELECT id_a, id_b FROM s
         |  WHERE round(dp / (sqrt(na) * sqrt(nb)), 4) >= 0.45),
         |e AS (SELECT id_a AS a, id_b AS b FROM np
         |      UNION ALL SELECT id_b, id_a FROM np),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.b, reach.lbl FROM reach JOIN e ON e.a = reach.id)
         |SELECT id, min(lbl) AS keep_id FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    // MinHash+LSH with the portable Horner hash and k=16 bands of 1 row:
    // candidates agree on some minhash lane; exact Jaccard verify is
    // candidate-local (same shape as the engine's semi-joined verify)
    "q_minhash_lsh" ->
      s"""WITH lst AS (
         |  SELECT doc_id, string_split(upper(text), ' ') AS l,
         |    length(string_split(text, ' ')) AS n FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |    generate_series(1, n - 2),
         |    i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS shingle
         |  FROM lst WHERE n >= 3
         |), hs AS (
         |  SELECT doc_id, ${polyHashSql("shingle", 31L, 2147483647L)} AS h
         |  FROM sh
         |), perms AS (SELECT * FROM (VALUES ${permValues(16)}) p(j, a, b)
         |), sig AS (
         |  SELECT doc_id, p.j, min((p.a * h + p.b) % 2147483647) AS mh
         |  FROM hs, perms p GROUP BY doc_id, p.j
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sig x JOIN sig y
         |    ON x.j = y.j AND x.mh = y.mh AND x.doc_id < y.doc_id
         |), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  JOIN cand c ON c.id_a = x.doc_id AND c.id_b = y.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.005
         |ORDER BY id_a, id_b""".stripMargin,

    // 62-bit SimHash: two poly-hash lanes packed as h1·2^31 + h2; bit
    // j weighted by tf; token-less docs hash to 0 (engine's empty fold)
    "q_simhash" ->
      s"""$simhashCtes
         |SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
         |FROM documents d LEFT JOIN sim s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // brute-force Hamming join over all pairs — the engine's chunk
    // buckets are exhaustive at maxDist <= 3, so the sets must be equal
    "q_simhash_pairs" ->
      s"""$simhashCtes, allh AS (
         |  SELECT d.doc_id, coalesce(s.simhash, 0) AS sh
         |  FROM documents d LEFT JOIN sim s USING (doc_id))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM allh a JOIN allh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // sign-LSH ANN: bucket every row with the seeded planes (inlined),
    // probe the query's bucket + its 4 Hamming-1 neighbors, exact cosine
    // within the probed cells
    "q_ann_lsh" ->
      s"""WITH planes AS (
         |  SELECT * FROM (VALUES
         |    ${planesValues(Seq(42L), nPlanes = 4, dim = 64)}
         |  ) p(sid, pid, w)),
         |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         |dots AS (
         |  SELECT e.vec_id, p.pid,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * p.w[i.i]) AS d
         |  FROM embeddings e, planes p, idx i GROUP BY 1, 2),
         |buck AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN d >= 0
         |    THEN (1::BIGINT << pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY 1),
         |qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
         |probes AS (
         |  SELECT bucket FROM qb
         |  UNION ALL
         |  SELECT xor(qb.bucket, (1::BIGINT << f.i))
         |  FROM qb, (SELECT unnest(generate_series(0, 3)) AS i) f),
         |cells AS (
         |  SELECT vec_id FROM buck
         |  WHERE bucket IN (SELECT bucket FROM probes)),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS dp,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
         |    sum(CAST(q.qe[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS nb
         |  FROM embeddings e, q, idx i
         |  WHERE e.vec_id IN (SELECT vec_id FROM cells)
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
         |FROM s ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    // IVF: 3 Lloyd iterations unrolled (init = vec_id 0..3; argmin ties
    // to the lowest centroid; empty clusters keep their old centroid —
    // the engine's exact update rule), then probe the 2 nearest cells
    "q_ann_ivf" -> {
      def step(n: Int): String = {
        val (prev, d, a, nn, cur) = (s"c${n - 1}", s"d$n", s"a$n", s"n$n", s"c$n")
        s"""$d AS (
           |  SELECT ev.vec_id, c.c, sum((ev.x - c.m) * (ev.x - c.m)) AS d
           |  FROM evt ev JOIN $prev c USING (i) GROUP BY 1, 2),
           |$a AS (
           |  SELECT vec_id, c FROM (
           |    SELECT vec_id, c, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY d, c) AS rn FROM $d) WHERE rn = 1),
           |$nn AS (
           |  SELECT a.c, ev.i, sum(ev.x) / count(*) AS m
           |  FROM evt ev JOIN $a a USING (vec_id) GROUP BY 1, 2),
           |$cur AS (
           |  SELECT o.c, o.i, coalesce(n.m, o.m) AS m
           |  FROM $prev o LEFT JOIN $nn n ON n.c = o.c AND n.i = o.i)""".stripMargin
      }
      // Lloyd TRAINS on evt — the same deterministic ORDER BY vec_id
      // LIMIT 200000 prefix the engine's trainIvfCentroids(maxTrainRows)
      // aggregates (oracle-portability invariant: both sides in
      // lockstep at ANY table size); final assignment + probe stay over
      // the full ev, exactly like ivfTopK's map-only assignment
      s"""WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         |ev AS (
         |  SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS x
         |  FROM embeddings, idx i),
         |evt AS (
         |  SELECT * FROM ev WHERE vec_id IN (
         |    SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200000)),
         |c0 AS (SELECT vec_id AS c, i, x AS m FROM evt WHERE vec_id < 4),
         |${step(1)},
         |${step(2)},
         |${step(3)},
         |d4 AS (
         |  SELECT ev.vec_id, c.c, sum((ev.x - c.m) * (ev.x - c.m)) AS d
         |  FROM ev JOIN c3 c USING (i) GROUP BY 1, 2),
         |a4 AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d, c) AS rn FROM d4) WHERE rn = 1),
         |qd AS (
         |  SELECT c.c, sum((qv.x - c.m) * (qv.x - c.m)) AS d
         |  FROM c3 c JOIN (SELECT i, x FROM ev WHERE vec_id = 0) qv USING (i)
         |  GROUP BY 1),
         |pr AS (
         |  SELECT c FROM (
         |    SELECT c, row_number() OVER (ORDER BY d, c) AS rn FROM qd)
         |  WHERE rn <= 2),
         |cells AS (SELECT vec_id FROM a4 WHERE c IN (SELECT c FROM pr)),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS dp,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
         |    sum(CAST(q.qe[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS nb
         |  FROM embeddings e, q, idx i
         |  WHERE e.vec_id IN (SELECT vec_id FROM cells)
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
         |FROM s ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    },

    "q_rerank_cosine" ->
      s"""$toksCte, m AS (
         |  SELECT DISTINCT doc_id FROM toks WHERE term = 'SPARK'),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         |s AS (
         |  SELECT e.vec_id,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS dp,
         |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
         |    sum(CAST(q.qe[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)) AS nb
         |  FROM embeddings e, q, idx i
         |  WHERE e.vec_id IN (SELECT doc_id FROM m)
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
         |FROM s ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "q_multimodal" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
        |  FROM documents),
        |sums AS (
        |  SELECT doc_id, CAST(sum(unicode(ch)) AS BIGINT) AS byte_sum
        |  FROM chars GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  CAST(length(d.text) AS BIGINT) AS n_bytes, s.byte_sum,
        |  CAST(greatest(1, length(d.text) % 640) AS INT) AS width,
        |  CAST(greatest(1, (length(d.text) // 3) % 480) AS INT) AS height
        |FROM documents d JOIN sums s USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // replays the PNG generator formula pixel(x,y) = (id*31+x*7+y*13)%256
    // over the 8x8 grid — the engine decodes the actual PNG bytes, so a
    // match proves the decode is real (lossless round-trip)
    "q_image_decode" ->
      """SELECT doc_id AS media_id, CAST(8 AS INT) AS width,
        |  CAST(8 AS INT) AS height,
        |  CAST(sum((doc_id * 31 + g.x * 7 + g.y * 13) % 256) AS BIGINT)
        |    AS px_sum
        |FROM documents,
        |  (SELECT x.x, y.y
        |   FROM (SELECT unnest(generate_series(0, 7)) AS x) x,
        |        (SELECT unnest(generate_series(0, 7)) AS y) y) g
        |GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // replays the WAV generator sample(i) = (id*131 + i*31) % 4001 - 2000
    // over n = 32 + id%32 samples — the engine parses the actual RIFF
    // bytes, so a match proves the PCM decode is real
    "q_audio_decode" ->
      """SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(32 + doc_id % 32 AS BIGINT) AS n_samples,
        |  CAST(sum(abs((doc_id * 131 + g.i * 31) % 4001 - 2000)) AS BIGINT)
        |    AS abs_sum,
        |  CAST(max(abs((doc_id * 131 + g.i * 31) % 4001 - 2000)) AS BIGINT)
        |    AS max_abs
        |FROM documents,
        |  (SELECT unnest(generate_series(0, 63)) AS i) g
        |WHERE g.i < 32 + doc_id % 32
        |GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // replays syntheticAvi's per-frame pixel formula pixel(x,y,f) =
    // (id*31 + f*17 + x*7 + y*13) % 256 for the stride-2-sampled frames
    // f ∈ {0, 2} ∩ [0, 2 + id%3)
    "q_video_frames" ->
      """SELECT doc_id AS media_id, CAST(f.f AS INT) AS frame_idx,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(sum((doc_id * 31 + f.f * 17 + g.x * 7 + g.y * 13) % 256)
        |    AS BIGINT) AS px_sum
        |FROM documents,
        |  (SELECT unnest(generate_series(0, 3)) AS f) f,
        |  (SELECT x.x, y.y
        |   FROM (SELECT unnest(generate_series(0, 7)) AS x) x,
        |        (SELECT unnest(generate_series(0, 7)) AS y) y) g
        |WHERE f.f % 2 = 0 AND f.f < 2 + doc_id % 3
        |GROUP BY doc_id, f.f ORDER BY media_id, frame_idx""".stripMargin
  )
}
