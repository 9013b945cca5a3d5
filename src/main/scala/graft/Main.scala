package graft

import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import graft.query.Searcher
import graft.streaming.StreamIndexer
import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters"). The master/executor topology comes from
  * spark-submit; local runs fall back to local[*].
  *
  * {{{
  * spark-submit --class graft.Main app.jar gen    --out /data/pages --n 1000000 --seed 42
  * spark-submit --class graft.Main app.jar build  --input /data/pages --index /data/idx [--synonyms syn.txt] [--parts 1024]
  * spark-submit --class graft.Main app.jar append --input /data/delta --index /data/idx
  * spark-submit --class graft.Main app.jar delete --index /data/idx --urls https://a,https://b
  * spark-submit --class graft.Main app.jar merge  --index /data/idx
  * spark-submit --class graft.Main app.jar search --index /data/idx --query "spark index" [--k 10] [--or] [--start 0] [--phrase] [--not "terms"]
  *   query-type flags: [--prefix] [--wildcard] [--fuzzy [--max-edits 1]]
  *   [--regexp] [--range --lower A --upper B] (multi-term expansion),
  *   [--mlt] (query = source doc_id),
  *   [--highlight] (page + match_pos/snippet)
  * spark-submit --class graft.Main app.jar facets --index /data/idx --query spark [--hier] [--limit 10]
 *   [--drill dim=label,...] (drill-sideways) | [--ranges "label=lo:hi,..." --value-col dl] (range facets)
 * spark-submit --class graft.Main app.jar search --index /data/idx --query spark --group-by lang [--top-groups 10] [--per-group 3]
 * spark-submit --class graft.Main app.jar suggest --index /data/idx --complete sp [--k 10] | --fix spak [--max-edits 2]
  * spark-submit --class graft.Main app.jar stream --input /data/incoming --index /data/idx
  * }}}
  *
  * `build`/`append`/`merge` take `--positions` (per-posting token
  * positions → phrase queries), `--facets` (build-time facet
  * sidecar, required by the `facets` command) and `--format-version 3`
  * (bitpacked posting blocks; `merge --rebuild --format-version 3`
  * migrates an existing v2 index).
  */
object Main {

  private val flagArgs = Set("or", "phrase", "positions", "facets", "hier",
    "rebuild", "prefix", "wildcard", "fuzzy", "mlt", "highlight", "range",
    "regexp", "parse")

  /** key-value pairs with valueless flags handled positionally (a naive
    * sliding(2,2) would shift every option after a flag). */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got '$a'")
      val k = a.stripPrefix("--")
      if (flagArgs(k)) { out += k -> "true"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for --$k")
        out += k -> args(i + 1)
        i += 2
      }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: <gen|build|append|delete|merge|search|" +
      "facets|suggest|snapshots|stream> --key value ...")
    val cmd = args.head
    val opt = parseArgs(args.tail)
    val spark = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.session.timeZone", "UTC")
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, opt) finally spark.stop()
  }

  private def dictOf(opt: Map[String, String]): SynonymDict =
    opt.get("synonyms") match {
      case Some(f) =>
        SynonymDict.parse(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(f)).toArray.map(_.toString).toSeq)
      case None => SynonymDict.empty
    }

  private def cfgOf(opt: Map[String, String]): IndexBuilder.IndexConfig =
    IndexBuilder.IndexConfig(
      numParts = opt.getOrElse("parts", "64").toInt,
      rangeParts = opt.getOrElse("range-parts", "32").toInt,
      saltDf = opt.getOrElse("salt-df", "10000").toLong,
      saltFanout = opt.getOrElse("salt-fanout", "8").toInt,
      indexPositions = opt.contains("positions"),
      buildFacets = opt.contains("facets"),
      // v3 (FoR/bitpacked) is the default; --format-version 2 pins the
      // varint format. `merge --rebuild --format-version 3` is the
      // v2→v3 migration for existing roots
      formatVersion = opt.getOrElse("format-version",
        graft.codec.VarByte.DefaultFormatVersion.toString).toInt)

  def run(spark: SparkSession, cmd: String, opt: Map[String, String]): Unit =
    cmd match {
      case "gen" =>
        val n = opt("n").toLong
        WebtextGen.df(spark, opt.getOrElse("seed", "42").toLong, n)
          .write.mode("overwrite").parquet(opt("out"))
        println(s"""{"generated":$n,"out":"${opt("out")}"}""")

      case "build" | "append" =>
        val pages = spark.read.parquet(opt("input"))
        val rep =
          if (cmd == "build")
            // --resume: per-partition checkpoint resume (north rule) —
            // posting partitions already manifest-complete are kept,
            // only the missing ones rebuild
            IndexBuilder.buildFull(spark, pages, dictOf(opt), opt("index"),
              cfgOf(opt), opt("input"), resume = opt.contains("resume"))
          else
            IndexBuilder.appendSegment(spark, pages, dictOf(opt), opt("index"),
              cfgOf(opt), opt("input"))
        println(s"""{"segment":"${rep.segment}","docs":${rep.docCount},""" +
          s""""terms":${rep.termCount},"posting_rows":${rep.postingRows},""" +
          s""""wall_ms":${rep.wallMs},"phases":{""" +
          rep.phases.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")

      case "delete" =>
        val urls = opt("urls").split(',').toSeq
        IndexBuilder.deleteByPk(spark, opt("index"), urls)
        println(s"""{"tombstoned":${urls.size}}""")

      case "merge" =>
        // posting-level compaction by default (O(posting bytes)); falls
        // back to the rebuild merge on mixed-layout segments; --rebuild
        // forces the rebuild path; --tier-fanin N
        // runs tiered passes (N smallest first) for many-segment backlogs
        val rep =
          if (opt.contains("rebuild"))
            IndexBuilder.merge(spark, opt("index"), dictOf(opt), cfgOf(opt))
          else if (opt.contains("tier-fanin"))
            IndexBuilder.mergeCompactTiered(spark, opt("index"), dictOf(opt),
              cfgOf(opt), tierFanin = opt("tier-fanin").toInt).last
          else
            IndexBuilder.mergeCompact(spark, opt("index"), dictOf(opt), cfgOf(opt))
        println(s"""{"segment":"${rep.segment}","docs":${rep.docCount},""" +
          s""""wall_ms":${rep.wallMs},"phases":{""" +
          rep.phases.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")

      case "search" =>
        // --snapshot N = time travel (Iceberg snapshot-read analog)
        val s = new Searcher(spark, opt("index"), dictOf(opt),
          snapshotId = opt.get("snapshot").map(_.toLong))
        try {
          val k = opt.getOrElse("k", "10").toInt
          val start = opt.getOrElse("start", "0").toInt
          // --warmup-file: replay a file-sourced warmup list before the
          // query (the reference's warmup file on searcher swap)
          opt.get("warmup-file").foreach { wf =>
            val n = s.warmupFromFile(wf)
            System.err.println(s"warmed up with $n quer${
              if (n == 1) "y" else "ies"} from $wf")
          }
          // a flag a mode cannot honor is an ERROR, not a silent no-op
          // (e.g. --prefix --not java would otherwise return docs the
          // user believes were excluded)
          def rejects(mode: String, flags: String*): Unit =
            flags.find(opt.contains).foreach(f => sys.error(
              s"--$f is not supported with --$mode"))
          val page =
            if (opt.contains("parse")) {
              // classic query-string syntax: +must -not "phrase"~2
              // term^boost pre* wi?ld fuzzy~1 /regex/ [a TO b] — the
              // clause operators replace every other mode flag
              rejects("parse", "phrase", "prefix", "fuzzy", "wildcard",
                "range", "regexp", "mlt", "highlight", "should", "not",
                "or", "slop", "group-by")
              s.searchQuery(opt("query"), k, start)
            }
            else if (opt.contains("explain")) {
              // Explanation analog: per-term contribution breakdown of
              // --explain <docId> under the parsed --query
              rejects("explain", "phrase", "prefix", "fuzzy", "wildcard",
                "range", "regexp", "mlt", "highlight", "should", "not",
                "or", "slop", "group-by")
              s.explainScore(opt("query"), opt("explain").toLong)
            }
            else if (opt.contains("phrase")) {
              rejects("phrase", "or", "group-by")
              s.searchPhrase(opt("query"), k, start, notQuery = opt.get("not"),
                slop = opt.getOrElse("slop", "0").toInt)
            }
            else if (opt.contains("prefix")) {
              rejects("prefix", "not", "or", "group-by")
              s.searchPrefix(opt("query"), k, start)
            } else if (opt.contains("fuzzy")) {
              rejects("fuzzy", "not", "or", "group-by")
              s.searchFuzzy(opt("query"), k,
                maxEdits = opt.getOrElse("max-edits", "1").toInt,
                start = start)
            } else if (opt.contains("wildcard")) {
              rejects("wildcard", "not", "or", "group-by")
              s.searchWildcard(opt("query"), k, start)
            } else if (opt.contains("range")) {
              rejects("range", "not", "or", "group-by")
              s.searchTermRange(opt.get("lower"), opt.get("upper"), k, start)
            } else if (opt.contains("regexp")) {
              rejects("regexp", "not", "or", "group-by")
              s.searchRegexp(opt("query"), k, start)
            } else if (opt.contains("mlt")) {
              rejects("mlt", "not", "or", "group-by")
              s.searchMoreLikeThis(opt("query").toLong, k, start = start)
            } else if (opt.contains("highlight")) {
              rejects("highlight", "not", "group-by")
              s.searchHighlight(opt("query"), k, start,
                conjunctive = !opt.contains("or"))
            }
            else if (opt.contains("group-by")) {
              // grouped top-k (Lucene grouping module): groups = labels
              // of a build-time facet dim, ranked by best doc
              rejects("group-by", "should", "not")
              s.searchGrouped(opt("query"), opt("group-by"),
                topGroups = opt.getOrElse("top-groups", "10").toInt,
                docsPerGroup = opt.getOrElse("per-group", "3").toInt,
                conjunctive = !opt.contains("or"))
            }
            else if (opt.contains("should")) {
              // mixed BooleanQuery: --query = MUST clauses, --should =
              // SHOULD clauses (score boosters); --or conflicts
              rejects("should", "or")
              s.searchBoolean(opt("query"), opt("should"), k, start,
                notQuery = opt.get("not"))
            }
            else s.searchWand(opt("query"), k, start = start,
              conjunctive = !opt.contains("or"), notQuery = opt.get("not"))
          page.show(truncate = false)
        } finally s.close()

      case "check" =>
        // distributed CheckIndex analog: blob/block headers, ordering,
        // layout bucketing, term_stats/docstore cross-invariants. The
        // issues frame is collected ONCE (an audit re-run would decode
        // every posting blob a second time just to print a count)
        val bad = graft.index.IndexCheck.check(spark, opt("index"))
          .limit(100000).collect() // driver-bounded even if ALL blobs are bad
        bad.take(100).foreach(r => System.err.println(s"[check] $r"))
        println(s"""{"issues":${bad.length}""" +
          (if (bad.length == 100000) ""","truncated":true}""" else "}"))

      case "snapshots" =>
        // list retained snapshots; --expire-keep N deletes older ones +
        // orphaned segment dirs / tombstone batches
        opt.get("expire-keep").map(_.toInt).foreach { keep =>
          val (sn, sg) =
            graft.index.IndexStore.expireSnapshots(spark, opt("index"), keep)
          println(s"""{"expired_snapshots":$sn,"deleted_segments":$sg}""")
        }
        println(graft.index.IndexStore.listSnapshots(spark, opt("index"))
          .mkString("[", ",", "]"))

      case "facets" =>
        // the facet shapes are mutually exclusive — a second shape flag
        // is an ERROR, not a silent winner (same contract as `search`)
        val shapes = Seq("hier", "drill", "ranges").filter(opt.contains)
        require(shapes.size <= 1,
          s"--${shapes.mkString(" and --")} cannot combine — pick one " +
            "facet shape")
        val s = new Searcher(spark, opt("index"), dictOf(opt))
        try {
          val limit = opt.getOrElse("limit", "10").toInt
          val out =
            if (opt.contains("hier")) s.facetSearchHier(opt("query"), topN = limit)
            else if (opt.contains("drill"))
              // drill-sideways: --drill dim=label[,dim=label...]
              s.facetSearchDrillSideways(opt("query"),
                opt("drill").split(',').map { kv =>
                  val parts = kv.split("=", 2)
                  require(parts.length == 2 && parts.forall(_.nonEmpty),
                    s"bad --drill spec <$kv> — expected dim=label")
                  parts(0) -> parts(1)
                }.toMap, limit = limit)
            else if (opt.contains("ranges"))
              // numeric range facets over a docstore column:
              // --ranges "label=lo:hi,..." (half-open [lo, hi)) --value-col dl
              s.facetRangeSearch(opt("query"),
                opt.getOrElse("value-col", "dl"),
                opt("ranges").split(',').toSeq.map { spec =>
                  val lb = spec.split("=", 2)
                  require(lb.length == 2,
                    s"bad --ranges spec <$spec> — expected label=lo:hi")
                  val bounds = lb(1).split(":", 2)
                  require(bounds.length == 2,
                    s"bad --ranges bounds <${lb(1)}> — expected lo:hi")
                  graft.query.Facets.RangeSpec(lb(0),
                    bounds(0).toDouble, bounds(1).toDouble)
                })
            else s.facetSearch(opt("query"), limit = limit)
          out.show(100, truncate = false)
        } finally s.close()

      case "suggest" =>
        // dictionary suggesters: --complete = autocomplete (df-ranked;
        // `--prefix` is taken by search mode's flag), --fix = spell
        // correction (dist, df desc, term) — exactly one of the two
        val s = new Searcher(spark, opt("index"), dictOf(opt))
        try {
          require(opt.contains("fix") != opt.contains("complete"),
            "suggest needs exactly one of --complete <prefix> / --fix <term>")
          val k = opt.getOrElse("k", "10").toInt
          val out =
            if (opt.contains("fix"))
              s.suggestSpelling(opt("fix"), k,
                maxEdits = opt.getOrElse("max-edits", "2").toInt)
            else s.suggest(opt("complete"), k)
          out.show(100, truncate = false)
        } finally s.close()

      case "stream" =>
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("warc_ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("html",
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType)))
        val q = StreamIndexer.start(spark,
          spark.readStream.schema(schema).parquet(opt("input")),
          dictOf(opt), opt("index"), cfgOf(opt))
        q.awaitTermination()

      case other => sys.error(s"unknown command: $other")
    }
}
