package graft.index

import java.sql.Timestamp

import graft.analysis.SynonymDict
import graft.codec.VarByte
import graft.functions.graftFunctions._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Distributed inverted-index build (SURVEY.md §3.1, §7 steps 3-5).
  *
  * Reference shape mirrored: schema-driven per-row indexing with PK
  * upserts (`/root/reference/LuceneSearchEngine/src/Indexer.java:233-435`)
  * becomes one declarative Spark job:
  *
  * {{{
  *   pages → ONE range shuffle on url: latest-wins dedup + deterministic
  *           dense doc_id assignment (fused)
  *         → one analysis pass: coalesce(text, extract_text(html)) +
  *           qube_tf (tokenize + synonyms + per-doc (term, tf, dl))
  *         → docstore parquet  — the build's only stable materialization
  *   docstore → head set: terms of df ≥ saltDf (counted over a sample
  *              above headSampleDocs docs; no job under saltDf docs)
  *            → map-side per-(term, salt-shard) RAM posting buffers
  *              (Lucene's indexing buffer) flushed as delta+varbyte
  *              FRAGMENTS
  *            → ONE salted shuffle of fragments (not posting rows)
  *            → sortWithinPartitions(part, term) → per-term k-way merge
  *            → postings(part, term, df_local, max_tf, min_dl, blob)
  *   postings read-back → term_stats (df, ttf, WAND bounds) + manifest
  * }}}
  *
  * Exactly two shuffles of documents or postings, zero long-lived
  * caches; head terms split across saltFanout partitions. Every segment
  * writer, this build and the compaction alike, finishes through
  * [[finishSegment]]. Measured rationale for each decision: BENCH.md.
  */
object IndexBuilder {

  final case class IndexConfig(
      numParts: Int = 32,         // posting hash-partition count (term space)
      rangeParts: Int = 32,       // docstore range partitions for id assignment
      blockSize: Int = VarByte.DefaultBlockSize,
      saltDf: Long = 10000,       // df ≥ threshold ⇒ head term, gets salted
      saltFanout: Int = 8,        // shards per head term
      maxSaltedTerms: Int = 10000,
      maxBlobPostings: Int = 1 << 19, // cap per posting-blob ROW: a term
                                      // larger than this stores as
                                      // multiple chunk rows, so no blob
                                      // is ever O(df) (every query path
                                      // handles multi-row terms — a
                                      // multi-segment index is that
                                      // shape already). POSITIONAL
                                      // builds use effectiveMaxBlob-
                                      // Postings (≤ 1<<17): position
                                      // payloads made 512k-posting rows
                                      // ~10 MB — single parquet VALUES
                                      // the vectorized reader must hold
                                      // contiguous, which fragmented
                                      // and OOM'd the 20M dress's 8g
                                      // heap on head-term phrase scans
      flushEntries: Long = 2L << 20, // RAM posting-buffer flush threshold
                                     // (Lucene ramBufferSize analog,
                                     // ~32 MB of buffer arrays per task).
                                     // Halved in round 5: the 10M dress
                                     // found 32 CONCURRENT fragment
                                     // tasks × (buffers + flush output)
                                     // GC-collapsing an 8g heap — the
                                     // 5M dress only ever ran ~16
      indexPositions: Boolean = false, // per-posting token positions
                                       // (phrase queries; reference
                                       // DOCS_AND_FREQS_AND_POSITIONS,
                                       // Indexer.java:713-714). Off by
                                       // default: +bytes/+work that pure
                                       // bag-of-words BM25 never reads
      buildFacets: Boolean = false,    // build-time facet sidecar from
                                       // page columns (reference facet
                                       // fields, Indexer.java:277-364);
                                       // config-gated like the
                                       // reference's useFacet flag
      facetSpecs: Seq[FacetSpec] = Nil, // facet DIMENSION CONFIG — the
                                       // reference's schema-driven facet
                                       // fields (Indexer.java:157-172):
                                       // arbitrary dims over the docstore
                                       // columns, with hierarchy and
                                       // multi-value flags. Empty +
                                       // buildFacets=true ⇒ the default
                                       // lang/site dims
      analyzer: String = graft.analysis.Tokenizer.Text,
                                       // per-index analyzer mode (the
                                       // reference's per-field analyzer
                                       // dispatch, Indexer.java:420);
                                       // recorded in config.json so the
                                       // query side analyzes identically
      headSampleDocs: Long = 1L << 16, // builds of more docs than this
                                       // count the salting head set over
                                       // a sample of this many docs.
                                       // Salting is LAYOUT-only (the
                                       // Searcher probes every salt of
                                       // every term), so the sampled
                                       // estimate can never change a
                                       // result — and a fixed absolute
                                       // sample detects exactly the
                                       // terms whose posting volume is
                                       // material at any corpus scale
      formatVersion: Int = VarByte.DefaultFormatVersion)
                                       // posting blob body format: v2 =
                                       // varint, v3 = FoR/bitpacked
                                       // (opt-in; ~5-10x faster decode,
                                       // see VarByte). Recorded in
                                       // config.json; readers accept
                                       // both, compaction requires
                                       // uniformity (mixed -> rebuild)

  /** The blob-row cap the encode paths actually apply: positional
    * payloads multiply bytes-per-posting ~4-8×, so positional builds
    * tighten the cap to keep every parquet blob VALUE in the low MBs
    * (a 512k-posting positional row was ~10 MB — see maxBlobPostings).
    * A user-lowered cap is always respected. */
  implicit final class CfgOps(private val cfg: IndexConfig) extends AnyVal {
    def effectiveMaxBlobPostings: Int =
      if (cfg.indexPositions) math.min(cfg.maxBlobPostings, 1 << 17)
      else cfg.maxBlobPostings
  }

  /** One build-time facet dimension (the reference's facet field config,
    * `/root/reference/LuceneSearchEngine/src/Indexer.java:157-172` —
    * per-field facet flags with multi-value and hierarchy variants,
    * applied at :277-364).
    *
    *  - `label`: Column over the docstore row (`doc_id, url, warc_ts,
    *    lang, text, dl`) producing the flat label — or, when
    *    `multiValue = true`, an ARRAY of labels (one facet row per
    *    element, the reference's multi-valued facet field).
    *  - `path`: hierarchy levels root→leaf (taxonomy dims); empty ⇒ flat
    *    (path = [label]). Mutually exclusive with `multiValue`.
    *
    * Null/empty labels get the reference's sentinel
    * (UNSUPPORTED_FACET_VALUE, Indexer.java:319-325) — applied to every
    * label and path level, so specs never need their own null handling. */
  final case class FacetSpec(dim: String,
                             label: org.apache.spark.sql.Column,
                             path: Seq[org.apache.spark.sql.Column] = Nil,
                             multiValue: Boolean = false) {
    require(!(multiValue && path.nonEmpty),
      s"facet dim '$dim': multiValue dims are flat — no hierarchy path")
  }

  val FacetSentinel = "__UNSUPPORTED_FACET_VALUE__"

  /** The default dims (what `buildFacets = true` built before specs
    * existed): document language, and site host with a tld→host
    * hierarchy. */
  def defaultFacetSpecs: Seq[FacetSpec] = {
    val host0 = regexp_extract(col("url"), "^[a-zA-Z]+://([^/]+)", 1)
    val host = when(host0 === "", lit(FacetSentinel)).otherwise(host0)
    val tld = regexp_extract(host, "([^.]+)$", 1)
    Seq(
      FacetSpec("lang", col("lang")),
      FacetSpec("site", host, path = Seq(tld, host)))
  }

  /** Facet sidecar rows `(doc_id, dim, label, path)` for one spec over
    * the docstore frame. */
  private def facetRows(docstore: DataFrame, sp: FacetSpec): DataFrame = {
    def sent(c: org.apache.spark.sql.Column) =
      when(c.isNull || c === lit(""), lit(FacetSentinel)).otherwise(c)
    if (sp.multiValue)
      docstore
        .select(col("doc_id"), explode_outer(sp.label).as("__v"))
        .select(col("doc_id"), lit(sp.dim).as("dim"),
          sent(col("__v")).as("label"))
        .withColumn("path", array(col("label")))
    else {
      val lbl = sent(sp.label)
      val path =
        if (sp.path.nonEmpty) array(sp.path.map(sent): _*) else array(lbl)
      docstore.select(col("doc_id"), lit(sp.dim).as("dim"),
        lbl.as("label"), path.as("path"))
    }
  }

  final case class RawPage(url: String, warc_ts: Timestamp,
                           html: Array[Byte], text: String, lang: String)
  final case class IdPage(doc_id: Long, url: String, warc_ts: Timestamp,
                          html: Array[Byte], text: String, lang: String)
  final case class PostingRow(part: Int, term: String, df_local: Long,
                              max_tf: Int, min_dl: Int, blob: Array[Byte])

  final case class BuildReport(segment: String, docCount: Long, termCount: Long,
                               postingRows: Long, wallMs: Long,
                               phases: Seq[(String, Long)] = Seq.empty)

  /** A build's or merge's phase timings: each `lap` records the ms since
    * the previous lap (or since construction) under its name. */
  private final class Laps(prior: Seq[(String, Long)] = Nil) {
    private val phases = Seq.newBuilder[(String, Long)] ++= prior
    private var prev = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - prev) / 1000000
      prev = now
    }
    def result: Seq[(String, Long)] = phases.result()
  }

  /** Growable (docId, tf, dl[, positions]) buffer — the per-(term, shard)
    * RAM posting buffer of the map-side build (the analog of Lucene's
    * indexing buffer; its size is bounded by
    * `spark.sql.files.maxPartitionBytes`, the knob that caps per-task
    * memory at any corpus scale). Position arrays exist only when the
    * build indexes positions — the default path pays nothing. */
  private[index] final class FragBuf(withPos: Boolean) {
    private var ids = new Array[Long](4)
    private var tfs = new Array[Int](4)
    private var dls = new Array[Int](4)
    private var poss: Array[Array[Int]] = if (withPos) new Array(4) else null
    private var len = 0
    private var asc = true
    def nonEmpty: Boolean = len > 0
    def append(d: Long, tf: Int, dl: Int, ps: Array[Int] = null): Unit = {
      if (len == ids.length) {
        ids = java.util.Arrays.copyOf(ids, len * 2)
        tfs = java.util.Arrays.copyOf(tfs, len * 2)
        dls = java.util.Arrays.copyOf(dls, len * 2)
        if (withPos) poss = java.util.Arrays.copyOf(poss, len * 2)
      }
      if (len > 0 && d < ids(len - 1)) asc = false
      ids(len) = d; tfs(len) = tf; dls(len) = dl
      if (withPos) poss(len) = ps
      len += 1
    }
    /** Encode the buffer's doc-ascending content directly out of the
      * growth arrays ([[VarByte.encodeN]] — no exact-size copy). Inputs
      * arrive ascending per file chunk; bin-packed out-of-order chunks
      * pay a primitive in-place sort (doc ids are UNIQUE within one
      * (term, shard) buffer, so any correct sort yields the same
      * layout — the previous boxed `sortBy` permutation was a measured
      * cost of the flush path). Returns (blob, minDoc). */
    def encodeSorted(blockSize: Int, version: Int): (Array[Byte], Long) = {
      if (!asc) { sortInPlace(0, len - 1); asc = true }
      (VarByte.encodeN(ids, tfs, dls, len, blockSize,
        if (withPos) poss else null, version), ids(0))
    }

    private def swap(a: Int, b: Int): Unit = {
      val d = ids(a); ids(a) = ids(b); ids(b) = d
      val t = tfs(a); tfs(a) = tfs(b); tfs(b) = t
      val l = dls(a); dls(a) = dls(b); dls(b) = l
      if (withPos) { val p = poss(a); poss(a) = poss(b); poss(b) = p }
    }

    /** Quicksort (median-of-three) + insertion tail over the parallel
      * arrays, keyed by doc id. */
    private def sortInPlace(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo > 16) {
        val mid = (lo + hi) >>> 1
        // median-of-three pivot to ids(mid)
        if (ids(mid) < ids(lo)) swap(mid, lo)
        if (ids(hi) < ids(lo)) swap(hi, lo)
        if (ids(hi) < ids(mid)) swap(hi, mid)
        val pivot = ids(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (ids(i) < pivot) i += 1
          while (ids(j) > pivot) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // recurse into the smaller half, loop on the larger
        if (j - lo < hi - i) { sortInPlace(lo, j); lo = i }
        else { sortInPlace(i, hi); hi = j }
      }
      var k = lo + 1
      while (k <= hi) {
        var m = k
        while (m > lo && ids(m - 1) > ids(m)) { swap(m - 1, m); m -= 1 }
        k += 1
      }
    }

  }

  /** Posting hash partition for a (term, salt-shard) — shared with the
    * query side's plan-time partition pruning. */
  def partOf(term: String, salt: Int, numParts: Int): Int =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(term) + salt, numParts)

  /** Group a sorted iterator into contiguous runs (same `sameRun` as the
    * run's first element) and flat-map each run through `emit` — the one
    * copy of the buffered-iterator/queued-rows state shared by the
    * build's fragment merge and both compact paths (an emit may return
    * several chunk rows, or none when every posting of a term died). */
  private[index] def runGrouped[T, R](it: Iterator[T])(
      sameRun: (T, T) => Boolean)(emit: Vector[T] => Seq[R]): Iterator[R] =
    new Iterator[R] {
      private val in = it.buffered
      private var queued: List[R] = Nil
      def hasNext: Boolean = {
        while (queued.isEmpty && in.hasNext) {
          val first = in.next()
          val buf = Vector.newBuilder[T]
          buf += first
          while (in.hasNext && sameRun(first, in.head)) buf += in.next()
          queued = emit(buf.result()).toList
        }
        queued.nonEmpty
      }
      def next(): R = {
        if (!hasNext) throw new NoSuchElementException
        val r = queued.head; queued = queued.tail; r
      }
    }

  /** STREAMING k-way merge of posting blobs (disjoint doc sets, possibly
    * interleaved id ranges) with optional dead-id skip and ≤`maxPostings`
    * chunked re-encode: [[graft.codec.VarByte.Cursor]]s + a binary
    * min-heap + an incremental [[graft.codec.VarByte.BlockEncoder]].
    * Working set is O(k · blockSize + one output chunk) — NEVER O(term
    * bytes): the decode-everything-then-merge shape held every fragment
    * of a head-term shard fully decoded (positions included) per task
    * and GC-collapsed the 10M dress's 8 GiB heap at 32 concurrent merge
    * tasks. This is the merge engine of both the build's reduce side and
    * the posting-level compaction. Returns (blob, count, maxTf, minDl)
    * per chunk; empty when every posting died. */
  private[index] def mergeBlobsStreaming(blobs: Seq[Array[Byte]],
                                         withPos: Boolean, blockSize: Int,
                                         version: Int, maxPostings: Int,
                                         dead: Roaring64NavigableMap =
                                           new Roaring64NavigableMap())
      : Seq[(Array[Byte], Int, Int, Int)] = {
    require(maxPostings > 0, s"maxBlobPostings must be positive: $maxPostings")
    val cursors = blobs.iterator
      .map(b => new VarByte.Cursor(b, wantPositions = withPos))
      .filter(_.hasNext).toArray
    cursors.foreach(_.advance())
    // min-heap of cursor indexes by current docId (doc sets disjoint)
    val heap = new Array[Int](math.max(cursors.length, 1))
    var hn = 0
    @inline def idOf(c: Int): Long = cursors(c).docId
    @inline def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && idOf(heap(i)) < idOf(heap((i - 1) >> 1))) {
        val p = (i - 1) >> 1
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    }
    @inline def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < hn && idOf(heap(l)) < idOf(heap(m))) m = l
        if (r < hn && idOf(heap(r)) < idOf(heap(m))) m = r
        if (m == i) done = true
        else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
      }
    }
    var c = 0
    while (c < cursors.length) { heap(hn) = c; hn += 1; siftUp(hn - 1); c += 1 }
    val out = Seq.newBuilder[(Array[Byte], Int, Int, Int)]
    var be: VarByte.BlockEncoder = null
    while (hn > 0) {
      val top = heap(0)
      val cur = cursors(top)
      if (!dead.contains(cur.docId)) {
        if (be == null)
          be = new VarByte.BlockEncoder(blockSize, version, withPos)
        be.append(cur.docId, cur.tf, cur.dl, cur.positions)
        if (be.count == maxPostings) {
          out += ((be.finish(), be.count, be.maxTf, be.minDl))
          be = null
        }
      }
      if (cur.hasNext) { cur.advance(); siftDown() }
      else {
        hn -= 1
        if (hn > 0) { heap(0) = heap(hn); siftDown() }
      }
    }
    if (be != null && be.count > 0)
      out += ((be.finish(), be.count, be.maxTf, be.minDl))
    out.result()
  }

  /** Header-only conservative check: could any id of `dead` (ranked)
    * coincide with a posting in this blob? Block docId ranges only —
    * `false` GUARANTEES the blob is untouched (licensing the byte
    * passthrough); `true` may be a near-miss (the posting then merely
    * loses the passthrough and takes the streaming merge). */
  private[index] def blobTouchesDead(blob: Array[Byte],
                                     dead: Roaring64NavigableMap): Boolean = {
    if (dead.isEmpty) return false
    var touched = false
    VarByte.scan(blob) { h =>
      if (!touched) {
        // conservative range [prevBlockLast, lastDocId]: including the
        // boundary id (really the PREVIOUS block's last) only ever
        // flags extra, never misses
        touched = LiveDocs.anyIn(dead, h.prevBlockLast, h.lastDocId)
      }
      false
    }((_, _, _) => ())
    touched
  }

  /** Latest-wins dedup + deterministic dense doc_id assignment over the
    * RAW pages, fused into ONE shuffle: range partition by url, sort each
    * partition by (url asc, warc_ts desc, text desc) — the first row of
    * every url run is the latest-wins winner (S4 semantics) — then
    * per-partition deduped counts → cumulative offsets → a single
    * streaming dedup+assign pass. Scale-safe (never collapses to one
    * partition the way `row_number().over(orderBy)` would) and
    * parallelism-independent: ids depend only on the total url order.
    *
    * The shuffle+sort is the Dataset-level Tungsten machinery
    * (repartitionByRange + sortWithinPartitions), with BOTH per-partition
    * jobs derived from ONE physical-plan instance so boundaries sample
    * once and the map output is reused from shuffle files — no O(corpus)
    * staging cache at all. (The alternatives all failed at scale:
    * re-instantiated repartitionByRange re-samples boundaries per job →
    * duplicate doc_ids; persisting the sorted pages — deserialized OR
    * serialized — OOMs the columnar cache builder at 5M docs on 8g; a
    * hand-rolled RDD shuffle of (key, row-bytes) Java objects OOM'd the
    * object-buffering ExternalSorter at 20M docs.)
    *
    * Runs BEFORE the analysis chain on purpose: the extra boundary-
    * sampling pass touches raw pages, keeping the expensive extract/
    * tokenize/synonym work strictly single-pass. */
  def assignDocIds(spark: SparkSession, pages: Dataset[RawPage],
                   baseDocId: Long, rangeParts: Int): Dataset[IdPage] = {
    import spark.implicits._
    // RawPage and IdPage line up column-for-column (doc_id prepended), so
    // the typed path is a view over the generic row implementation
    assignDocIdsDf(spark, pages.toDF(), baseDocId, rangeParts, "text")
      .as[IdPage]
  }

  /** Generic-schema variant of [[assignDocIds]]: same fused
    * dedup+assignment over ANY frame with `url`/`warc_ts` columns,
    * carrying every other column through unchanged and prepending
    * `doc_id`. `tieCol` names the (string) column that breaks exact
    * (url, warc_ts) ties — the single-field build passes `text`; the
    * fielded build passes the field texts concatenated in field-name
    * order, so all fields agree on one winner row. */
  def assignDocIdsDf(spark: SparkSession, df0: DataFrame, baseDocId: Long,
                     rangeParts: Int, tieCol: String): DataFrame = {
    // normalize warc_ts to session-tz TIMESTAMP: tables written by other
    // engines (e.g. a plain parquet COPY) carry TIMESTAMP_NTZ, whose
    // rows surface as LocalDateTime and would ClassCastException the
    // sort-key extraction below (no-op cast for already-TIMESTAMP input)
    val df = df0.withColumn("warc_ts", col("warc_ts").cast("timestamp"))
    val schema = df.schema
    val urlIdx = schema.fieldIndex("url")
    // Scale-adaptive range-partition count (guide §2.5/§5: smaller
    // per-task state beats a constant tuned for one scale): each reduce
    // task of this shuffle SORTS its partition's rows (and the docstore
    // write later stacks parquet buffers on the same partitioning), so a
    // fixed rangeParts leaves per-task state O(corpus/rangeParts) — at
    // 20M docs that was 625k docs (~600 MB) per task × 32 concurrent
    // tasks, which OOM'd the flat 8 GiB heap. The configured value stays
    // the FLOOR (bench and test builds are untouched); larger corpora
    // get more, smaller partitions. The count job is cheap where it
    // matters (parquet count() is row-group metadata; the generator's
    // count prunes every column) and ids are partitioning-independent by
    // construction, so the partition count affects memory and file
    // layout only, never results.
    val targetDocsPerRangePart = 200000L
    val nRows = df.count()
    val parts = math.max(math.max(rangeParts, 1), math.min(20000L,
      (nRows + targetDocsPerRangePart - 1) / targetDocsPerRangePart).toInt)
    // The shuffle+sort is a Dataset-level repartitionByRange +
    // sortWithinPartitions: Tungsten rows through the exchange and the
    // radix UnsafeExternalRowSorter on the reduce side — binary records
    // with EXACT memory accounting that spill reliably. (The previous
    // RDD formulation shipped (SortKey, row-bytes) JAVA objects through
    // the object-buffering ExternalSorter, whose sampled size estimates
    // under 32 concurrent fat tasks OOM'd the 8 GiB heap at 20M docs —
    // and paid a full row copy per map-side record.) Sort order
    // replicates the assignment contract exactly: url ascending,
    // unix_millis(warc_ts) DESC NULLS LAST (the previous path compared
    // floorDiv(micros, 1000) with null → Long.MinValue), tie column
    // DESC NULLS LAST (the previous head-group max-tie logic) — the
    // first row of every url run is the latest-wins winner. String
    // comparisons are UTF8String byte order (≡ java.lang.String order
    // for ASCII; for exotic codepoints byte order is also what the SQL
    // oracle's ORDER BY compares).
    val sortedDs = df
      .repartitionByRange(parts, col("url"))
      .sortWithinPartitions(col("url").asc,
        unix_millis(col("warc_ts")).desc_nulls_last,
        col(tieCol).desc_nulls_last)
    // ONE physical-plan instance feeds BOTH jobs below (invariant 1):
    // the exchange samples its range boundaries once when this RDD
    // first executes and caches its shuffle dependency, so the counts
    // job and the assignment job read the SAME shuffle files with the
    // SAME partitioning — no re-sampling between jobs and no O(corpus)
    // staging cache. (Boundaries affect balance only, never results:
    // ids come from the per-partition deduped counts + offsets over
    // contiguous url ranges.)
    val sortedRdd = org.apache.spark.sql.graft.Bridge.internalRdd(sortedDs)
    val counts = sortedRdd.mapPartitions { it =>
      var n = 0L
      var prev: org.apache.spark.unsafe.types.UTF8String = null
      it.foreach { r =>
        val u = r.getUTF8String(urlIdx)
        if (prev == null || !u.equals(prev)) { n += 1; prev = u.clone() }
      }
      Iterator.single((TaskContext.getPartitionId(), n))
    }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = baseDocId
      counts.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
    }
    val bcOff = spark.sparkContext.broadcast(offsets)
    // streaming dedup + assignment: rows arrive fully sorted, so the
    // FIRST row of each url run is its winner — emit it with the next
    // dense id, skip the rest of the run. The emitted JoinedRow wraps
    // the sorter's reused row (valid until the consumer's next call,
    // the standard iterator contract the parquet writer honors).
    val ids = sortedRdd.mapPartitions { it =>
      var nextId = bcOff.value.getOrElse(TaskContext.getPartitionId(), 0L)
      var curUrl: org.apache.spark.unsafe.types.UTF8String = null
      val idRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.flatMap { r =>
        val u = r.getUTF8String(urlIdx)
        if (curUrl == null || !u.equals(curUrl)) {
          curUrl = u.clone()
          idRow.update(0, nextId)
          nextId += 1
          Iterator.single(joined(idRow, r): InternalRow)
        } else Iterator.empty
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false) +: schema.fields)
    org.apache.spark.sql.graft.Bridge.fromInternal(spark, ids, outSchema)
  }

  /** Analysis chain over the id-assigned pages: byte-identical text per
    * url (pre-extracted `text` reused when present, else
    * `extract_text(html)`), then the fused tokenize + synonym expand +
    * per-doc tf/dl pass (`qube_tf`, SURVEY.md §2.2/§2.3). Fully columnar
    * and whole-stage-codegen'd: no UDF round-trips, no token Seq objects
    * in the cache, and — because a document's tokens live in one row — tf
    * needs NO groupBy(term, doc_id) shuffle (at 10^12 docs that shuffle
    * would move the entire token stream). */
  def analyze(pages: DataFrame, dict: SynonymDict,
              mode: String = graft.analysis.Tokenizer.Text): DataFrame =
    pages
      // final "" fallback: a doc can legitimately MISS a field (null text
      // AND no html in a fielded build) — it must analyze to an empty
      // token array, not a null that NPEs the fragment builder
      .withColumn("text",
        coalesce(col("text"), extract_text(col("html")), lit("")))
      .select(col("doc_id"), col("url"), col("warc_ts"), col("lang"),
        col("text"), qube_tf(col("text"), dict, mode).as("tf_pairs"))
      .withColumn("dl", // try_: an empty-field doc has an EMPTY tf array
        coalesce(try_element_at(col("tf_pairs"), lit(1)).getField("dl"), lit(0)))

  /** [[analyze]] when only `dl` is needed (the docstore pass): `qube_dl`
    * counts the post-expansion tokens without building the per-term tf
    * map — identical `dl` by the spec-pinned `docLen == tfPairs.dl`
    * identity, measurably cheaper per doc. */
  private def analyzeDlOnly(pages: DataFrame, dict: SynonymDict,
                            mode: String): DataFrame =
    pages
      .withColumn("text",
        coalesce(col("text"), extract_text(col("html")), lit("")))
      .select(col("doc_id"), col("url"), col("warc_ts"), col("lang"),
        col("text"), qube_dl(col("text"), dict, mode).as("dl"))

  /** Build one complete segment under `root/segments/<seg>` and return
    * its report. `resume = true` skips posting partitions already present
    * in the manifest (per-partition checkpoint/restart). */
  def buildSegment(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                   root: String, seg: String, baseDocId: Long,
                   cfg: IndexConfig = IndexConfig(),
                   inputSnapshot: String = "",
                   resume: Boolean = false): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val raw = pages
      .select(col("url"), col("warc_ts").cast("timestamp").as("warc_ts"),
        col("html"), col("text"), col("lang"))
      .as[RawPage] // cast: NTZ inputs must not break the encoder
    // latest-wins dedup is fused into the id-assignment sort (one shuffle)
    val idPages = assignDocIds(spark, raw, baseDocId, cfg.rangeParts)
    val assignMs = (System.nanoTime() - t0) / 1000000
    buildSegmentFromIdPages(spark, idPages.toDF(), dict, root, seg, cfg,
      inputSnapshot, resume,
      prePhases = Seq("sort_dedup_assign" -> assignMs), startNanos = t0)
  }

  /** The post-assignment build pipeline over an ALREADY id-assigned frame
    * (`doc_id, url, warc_ts, html, text, lang`) — the seam that lets
    * [[FieldedIndex.buildFull]] pay the id-assignment shuffle ONCE for N
    * fields and run only the per-field analysis + fragment passes here. */
  def buildSegmentFromIdPages(spark: SparkSession, idPages: DataFrame,
                              dict: SynonymDict, root: String, seg: String,
                              cfg: IndexConfig = IndexConfig(),
                              inputSnapshot: String = "",
                              resume: Boolean = false,
                              prePhases: Seq[(String, Long)] = Nil,
                              startNanos: Long = -1L): BuildReport = {
    import spark.implicits._
    val t0 = if (startNanos > 0) startNanos else System.nanoTime()
    val laps = new Laps(prePhases)
    import laps.lap

    // docstore: row store for stored-field fetch (S8) + dl for BM25 —
    // written in ONE analysis pass and immediately becoming the build's
    // stable materialization: every later pass derives from this parquet
    // (text already extracted), so nothing row-heavy is ever cached in
    // memory and the raw-page cache can be dropped right here.
    // Collection stats (N, Σdl, max id) are OBSERVED during the write —
    // at 10^12 docs a separate stats agg would re-scan the docstore; as
    // observed metrics they cost nothing.
    val docObs = org.apache.spark.sql.Observation()
    analyzeDlOnly(idPages, dict, cfg.analyzer)
      .select(col("doc_id"), col("url"), col("warc_ts"), col("lang"),
        col("text"), col("dl"))
      .observe(docObs, count(lit(1)).as("cnt"),
        sum(col("dl").cast("long")).as("sdl"), max(col("doc_id")).as("mx"))
      .write.mode("overwrite").options(IndexStore.docstoreWriteOptions)
      .parquet(IndexStore.docstorePath(root, seg))
    lap("analyze_docstore")

    val docstore = IndexStore.read(spark, IndexStore.Table.Docstore,
      IndexStore.docstorePath(root, seg))

    // build-time facet sidecar (reference facet fields, Indexer.java:
    // 277-364): config-driven dims — flat label + hierarchical path per
    // spec, one map-only pass over the docstore. Empty/null values get
    // the reference's sentinel label (Indexer.java:319-325).
    val specs =
      if (cfg.facetSpecs.nonEmpty) cfg.facetSpecs
      else if (cfg.buildFacets) defaultFacetSpecs
      else Nil
    if (specs.nonEmpty) {
      require(specs.map(_.dim).distinct.size == specs.size,
        s"duplicate facet dims: ${specs.map(_.dim)}")
      specs.map(facetRows(docstore, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(IndexStore.facetsPath(root, seg))
      lap("facets_sidecar")
    }

    // stats row from the metrics observed during the docstore write — no
    // job; layout shared with mergeCompact via IndexStore
    val (docCount, _, _) =
      IndexStore.writeStatsFromObservation(spark, root, seg, docObs.get)
    lap("collection_stats")

    // --- map-side posting fragments + skew-salted shuffle + merge ---
    // The Spark analog of Lucene's RAM indexing buffer → segment flush →
    // merge: every map task builds per-(term, shard) posting buffers in
    // memory and emits them as delta+varbyte-compressed FRAGMENTS, so the
    // shuffle moves ~|vocab per task| compressed blobs instead of one row
    // per posting. (The naive posting-row shuffle+sort was measured
    // memory-bandwidth-bound: its wall time stopped scaling with cores.)
    // Skew (SURVEY.md §7 risk 4): head terms — df ≥ saltDf, counted
    // over the docstore before the fragment pass — are salted into
    // saltFanout shards by doc hash so no single posting partition holds
    // an entire head term. No term of a build under saltDf docs can be
    // one, so that build runs no job for it. Above headSampleDocs docs
    // the count runs over a fixed-seed sample of that many docs with a
    // 4× safety margin on the threshold: over-inclusion salts a tail
    // term into fanout small fragments (harmless), under-inclusion needs
    // a true head term to draw < saltDf·frac/4 of an expected
    // ≥ saltDf·frac sample hits — exponentially unlikely, and the more a
    // term's volume matters the more certain its inclusion. Salting is
    // layout-only, so the head set never changes a result.
    val headSet: Set[String] =
      if (docCount < cfg.saltDf) Set.empty
      else {
        val frac = math.min(1.0, cfg.headSampleDocs.toDouble / docCount)
        val (docs, minDf) =
          if (frac >= 1.0) (docstore, cfg.saltDf)
          else (docstore.sample(frac, 42L),
            math.max(1L, (cfg.saltDf * frac / 4).toLong))
        docs.select(explode(qube_tf(col("text"), dict, cfg.analyzer)).as("p"))
          .groupBy(col("p.term").as("term")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= minDf)
          .orderBy(col("df").desc).limit(cfg.maxSaltedTerms)
          .select("term").collect().map(_.getString(0)).toSet
      }
    val bcHead = spark.sparkContext.broadcast(headSet)
    val numParts = cfg.numParts
    val fanout = cfg.saltFanout
    val blockSize = cfg.blockSize
    val fmtVer = cfg.formatVersion

    val withPos = cfg.indexPositions
    val analyzerMode = cfg.analyzer
    // the fragment pass consumes the runtime tf accumulation DIRECTLY
    // (GraftRuntime.tfCounts/tfPositions — the exact functions behind
    // qube_tf/qube_tf_pos): materializing the per-doc struct array just
    // to re-walk it cost one boxed InternalRow per unique term, a full
    // Unsafe serialization of every term's bytes, and a getStruct
    // allocation per posting — all on the build's hottest pass
    val analyzedRows = docstore.select(col("doc_id"), col("text"))
    val fragSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("min_doc",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("frag",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val flushEntries = cfg.flushEntries
    val fragRdd = org.apache.spark.sql.graft.Bridge.internalRdd(analyzedRows)
      .mapPartitions { rows =>
        // UTF8String-keyed buffers: the scan's transient term views probe
        // the map with zero allocation (hashCode/equals are byte-wise over
        // the view); only a MISS clones the bytes into a stable key. The
        // previous String keys paid a decode + String alloc per posting
        // occurrence (~|corpus tokens| allocations per build pass).
        val head: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
          val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
          bcHead.value.foreach(t =>
            s.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
          s
        }
        // Lucene's ramBufferSize analog: the RAM posting buffers FLUSH as
        // fragments every `flushEntries` postings, so per-task memory is
        // bounded no matter how large the input partition is (a flush
        // happens only between documents, so fragment doc sets stay
        // disjoint and the reduce-side k-way merge is unaffected)
        new Iterator[InternalRow] {
          private var bufs = new java.util.HashMap[
            org.apache.spark.unsafe.types.UTF8String, Array[FragBuf]]()
          private var entries = 0L
          private var pending: Iterator[InternalRow] = Iterator.empty
          // STREAMING flush: detach the buffer map and encode it ONE term
          // at a time, removing each entry as it is consumed — the task's
          // peak is (buffers + one encoded fragment), never (buffers +
          // every fragment of the flush at once). The eager toVector
          // variant held both and GC-collapsed an 8 GiB heap when 32
          // fragment tasks ran concurrently (round-5 10M dress).
          private def flush(): Unit = {
            val old = bufs
            bufs = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String, Array[FragBuf]]()
            entries = 0L
            val it = old.entrySet().iterator()
            pending = new Iterator[InternalRow] {
              private var inner: Iterator[InternalRow] = Iterator.empty
              def hasNext: Boolean = {
                while (!inner.hasNext && it.hasNext) {
                  val e = it.next()
                  val termUtf = e.getKey
                  val term = termUtf.toString // once per (term, flush)
                  val shards = e.getValue
                  it.remove() // buffer becomes collectible once encoded
                  inner = shards.iterator.zipWithIndex
                    .filter(_._1.nonEmpty).map { case (buf, salt) =>
                      val (blob, minDoc) = buf.encodeSorted(blockSize, fmtVer)
                      InternalRow(partOf(term, salt, numParts), termUtf,
                        minDoc, blob): InternalRow
                    }
                }
                inner.hasNext
              }
              def next(): InternalRow = {
                if (!hasNext) throw new NoSuchElementException
                inner.next()
              }
            }
          }
          // tokens own their buffers (GraftRuntime.tokensU8), so they go
          // into the map as-is — no defensive clone; the salt shard index
          // depends only on (docId, fanout), hoisted out of the term loop
          private def shardsFor(
              term: org.apache.spark.unsafe.types.UTF8String): Array[FragBuf] = {
            var shards = bufs.get(term)
            if (shards == null) {
              shards = Array.fill(
                if (head.contains(term)) fanout else 1)(new FragBuf(withPos))
              bufs.put(term, shards)
            }
            shards
          }
          private def consume(): Unit = {
            while (rows.hasNext && entries < flushEntries) {
              val r = rows.next()
              val docId = r.getLong(0)
              val text =
                if (r.isNullAt(1)) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
                else r.getUTF8String(1)
              val saltIdx = java.lang.Math.floorMod(
                java.lang.Long.hashCode(docId * 0x9E3779B97F4A7C15L), fanout)
              var cost = 0L
              if (withPos) {
                val tp = graft.functions.GraftRuntime
                  .tfPositions(dict, text, analyzerMode)
                var i = 0
                while (i < tp.uniq) {
                  val slot = tp.order(i)
                  val shards = shardsFor(tp.keys(slot))
                  val shard =
                    if (shards.length == 1) shards(0) else shards(saltIdx)
                  val ps = tp.poss(slot)
                  val tf = ps.size
                  shard.append(docId, tf, tp.dl, ps.toInts)
                  // flushEntries budgets BYTES-in-buffers, in units of one
                  // position-free posting (~16 B): a positional posting
                  // additionally holds an Int[] (pointer + header + 4·tf),
                  // ~4 + tf/4 units — without this weighting a 5M-doc
                  // positional build OOMs where the plain build is flat
                  cost += 4L + (tf >> 2)
                  i += 1
                }
              } else {
                val tc = graft.functions.GraftRuntime
                  .tfCounts(dict, text, analyzerMode)
                var i = 0
                while (i < tc.uniq) {
                  val slot = tc.order(i)
                  val shards = shardsFor(tc.keys(slot))
                  val shard =
                    if (shards.length == 1) shards(0) else shards(saltIdx)
                  shard.append(docId, tc.counts(slot), tc.dl, null)
                  cost += 1L
                  i += 1
                }
              }
              entries += cost
            }
            flush()
          }
          def hasNext: Boolean =
            pending.hasNext || { if (rows.hasNext) consume(); pending.hasNext }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            pending.next()
          }
        }
      }
    val fragments = org.apache.spark.sql.graft.Bridge
      .fromInternal(spark, fragRdd, fragSchema)

    val done: Set[Int] =
      if (resume) IndexStore.completedParts(spark, root, seg) else Set.empty
    val pending = fragments.filter(!col("part").isin(done.toSeq: _*))

    // fragments of one (part, term) hold DISJOINT doc_id sets (a doc's
    // postings come from exactly one map task); ranges may interleave
    // (file chunks bin-pack out of id order), so the reduce side k-way
    // MERGES decoded fragments, never concatenates. Single-fragment terms
    // — the Zipf tail, i.e. almost all terms — reuse the fragment bytes
    // as the final blob with zero re-encode.
    val maxBlob = cfg.effectiveMaxBlobPostings
    val postings: Dataset[PostingRow] = pending
      .repartition(numParts, col("part"))
      .sortWithinPartitions("part", "term", "min_doc")
      .as[(Int, String, Long, Array[Byte])]
      .mapPartitions { it =>
        runGrouped(it)((a, b) => a._1 == b._1 && a._2 == b._2) { run =>
          val (part, term, _, first) = run.head
          // single in-cap fragment: reuse its bytes with zero re-encode
          // (the Zipf tail = almost all terms); anything else merges and
          // re-chunks to ≤ maxBlob postings per row
          if (run.size == 1 && VarByte.count(first) <= maxBlob) {
            val (maxTf, minDl) = VarByte.termBounds(first)
            Seq(PostingRow(part, term, VarByte.count(first).toLong,
              maxTf, minDl, first))
          } else
            // STREAMING merge: O(k·blockSize) per group, not O(term
            // bytes) — head-term shards at 10M+ docs merge ~64
            // fragments here
            mergeBlobsStreaming(run.map(_._4), withPos, blockSize,
                fmtVer, maxBlob)
              .map { case (blob, cnt, maxTf, minDl) =>
                PostingRow(part, term, cnt.toLong, maxTf, minDl, blob)
              }
        }
      }

    // NEVER persist() the blob Dataset: the columnar cache builder
    // unrolls O(posting bytes) of blobs into the heap during the write
    // (a 5M-doc positional build OOMs a 8 GiB heap; at 10^12 it is
    // unthinkable — same class as scale bug #5 in BENCH.md). The write
    // is the only consumer of the merged blobs.
    val mode = if (resume && done.nonEmpty) "append" else "overwrite"
    postings.toDF().write.mode(mode).partitionBy("part")
      .options(IndexStore.postingsWriteOptionsFor(cfg.indexPositions))
      .parquet(IndexStore.postingsPath(root, seg))
    lap("postings_encode_write")

    val (termCount, manifestRows) =
      finishSegment(spark, root, seg, inputSnapshot, t0, laps, done)
    IndexStore.writeSegmentConfig(spark, root, seg,
      IndexStore.SegmentConfig(cfg.numParts, cfg.saltFanout, cfg.blockSize,
        formatVersion = cfg.formatVersion,
        hasPositions = cfg.indexPositions, analyzer = cfg.analyzer))
    lap("manifest_and_counts")
    val postingRows = manifestRows.map(_.rows).sum // no extra job
    BuildReport(seg, docCount, termCount, postingRows,
      (System.nanoTime() - t0) / 1000000,
      laps.result)
  }

  /** THE segment-finish step of every writer (the builds through
    * [[buildSegmentFromIdPages]] and [[mergeCompactImpl]]): term_stats
    * and the manifest rows of segment `seg` from ONE read-back of its
    * written postings, as Lucene's terms writer records docFreq and
    * totalTermFreq from the postings it writes. Per row it carries
    * df_local, max_tf, min_dl, ttf (one [[VarByte.sumTf]] walk) and the
    * blob length, never the blob bytes, so the narrow frame persists
    * (rule 17 is about the blobs, not metrics derived from them) and
    * both aggregates read it: df = Σ df_local (each (term, doc) lands in
    * exactly one chunk), ttf = Σ ttf, bounds fold over the per-chunk
    * bounds. `statsRows` replaces the read-back as the aggregate's input
    * where the caller has rows of the same shape without a blob walk (a
    * compaction no dead doc touches sums its targets' term_stats). The
    * manifest holds per-part lineage over the DURABLE bytes (rows,
    * bytes, checksum), skipping the parts `done` (a resumed build's
    * earlier run has their rows). Returns (term count, manifest rows). */
  private def finishSegment(spark: SparkSession, root: String, seg: String,
                            lineage: String, t0: Long, laps: Laps,
                            done: Set[Int] = Set.empty,
                            statsRows: Option[DataFrame] = None)
      : (Long, Seq[IndexStore.ManifestRow]) = {
    import spark.implicits._
    val walkTf = statsRows.isEmpty
    val derived = IndexStore.readPostingsOrEmpty(spark, root, seg)
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
      .as[(Int, String, Long, Int, Int, Array[Byte])]
      .map { case (p, t, dfl, mtf, mdl, blob) =>
        (p, t, dfl, if (walkTf) VarByte.sumTf(blob) else 0L, mtf, mdl,
          blob.length.toLong)
      }
      .toDF("part", "term", "df_local", "ttf", "max_tf", "min_dl", "bytes")
      .withColumn("cks", crc32(concat(col("term"), lit("|"),
        col("df_local").cast("string"))))
      .persist()
    try {
      // the manifest first: an RDD reduce over the uncached plan is ONE
      // job that also fills the cache (an adaptive plan would spend a
      // job on the cache and one per shuffle)
      val wallMs = (System.nanoTime() - t0) / 1000000
      val rows = derived.filter(!col("part").isin(done.toSeq: _*))
        .select("part", "bytes", "cks").as[(Int, Long, Long)].rdd
        .map { case (p, b, c) => (p, (1L, b, c)) }
        .reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
        .collect().sortBy(_._1).map { case (p, (n, b, c)) =>
          IndexStore.ManifestRow(p, n, b, c, lineage, wallMs)
        }.toSeq
      val termObs = org.apache.spark.sql.Observation()
      statsRows.getOrElse(derived).groupBy("term")
        .agg(sum("df_local").as("df"), sum("ttf").as("ttf"),
          max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
        .observe(termObs, count(lit(1)).as("terms"))
        .write.mode("overwrite").parquet(IndexStore.termStatsPath(root, seg))
      laps.lap("term_stats")
      IndexStore.appendManifest(spark, root, seg, rows)
      (termObs.get("terms").asInstanceOf[Long], rows)
    } finally derived.unpersist()
  }

  /** FULL build (reference `OpenMode.CREATE`, Indexer.java:199-204): one
    * segment, fresh snapshot id 0. The snapshot is born
    * superseded-sidecar-maintained (`dead = Some(Nil)`): a fresh segment
    * is internally deduped, so the set is exactly empty, and every later
    * [[advanceForAppend]] keeps it current — cold Searcher opens never
    * pay the O(corpus) window on roots built by this version. */
  def buildFull(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                root: String, cfg: IndexConfig = IndexConfig(),
                inputSnapshot: String = "",
                resume: Boolean = false): BuildReport = {
    val seg = "seg-000000"
    val report = buildSegment(spark, pages, dict, root, seg, 0L, cfg,
      inputSnapshot, resume)
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(0L, Seq(seg), Seq.empty, dead = Some(Seq.empty)))
    report
  }

  /** Next APPEND doc_id base for a root: max `id_ceiling` across the
    * snapshot's segments (ONE read of their stats rows — no docstore
    * scan, one job however many segments). NOT Σ doc_count: a compacted
    * segment keeps original ids with gaps, so its ceiling exceeds its
    * live count. */
  def nextAppendBase(spark: SparkSession, root: String,
                     snap: IndexStore.Snapshot): Long =
    IndexStore.readSegmentStats(spark, root, snap.segments).values
      .foldLeft(0L)((m, st) => math.max(m, st.idCeiling))

  /** THE latest-wins order per url: newest `warc_ts` first, ties to the
    * later segment (higher doc_id). Every superseded-id batch
    * ([[supersededByAppend]]) ranks by it, so the batches together name
    * every loser, the set [[LiveDocs]] serves and every merge drops. */
  private val latestFirst = Window.partitionBy("url")
    .orderBy(col("warc_ts").desc, col("doc_id").desc)

  /** doc_ids superseded by the arrival of segment `newSeg`: for each url
    * present in the new segment, every doc across old segments AND the
    * new one that loses the latest-wins rule ([[latestFirst]]) —
    * including the case where the INCOMING doc is older than an existing
    * version and is dead on arrival. The old-segment scan is
    * column-pruned to 3 narrow columns and semi-joined to the batch's
    * urls before the window, so the shuffle is O(matched urls) =
    * O(batch), never O(corpus). */
  private def supersededByAppend(spark: SparkSession, root: String,
                                 oldSegments: Seq[String],
                                 newSeg: String): DataFrame = {
    val cols = Seq("doc_id", "url", "warc_ts")
    val newDocs = IndexStore.read(spark, IndexStore.Table.Docstore,
        IndexStore.docstorePath(root, newSeg))
      .select(cols.map(col): _*)
    // [minUrl, maxUrl] of the batch, pushed into every old-docstore scan:
    // docstores are written in url sort order, so parquet row-group url
    // stats prune hard when a micro-batch clusters by url — without it a
    // long-running stream's per-append scan cost is O(corpus) even for a
    // batch touching one url range. (One tiny agg over the just-written
    // batch segment; a batch spanning the whole url space degrades to
    // the full column-pruned scan, which the semi-join then shrinks.)
    val r = newDocs.agg(min("url"), max("url")).head()
    if (r.isNullAt(0)) // empty batch: nothing can be superseded
      return spark.range(0).select(col("id").as("doc_id"))
    val (loUrl, hiUrl) = (r.getString(0), r.getString(1))
    val oldDocs = IndexStore.read(spark, IndexStore.Table.Docstore,
        oldSegments.map(IndexStore.docstorePath(root, _)): _*)
      .select(cols.map(col): _*)
      .where(col("url").between(loUrl, hiUrl))
    val matched = oldDocs
      .join(newDocs.select("url").distinct(), Seq("url"), "left_semi")
    matched.unionByName(newDocs.select(matched.columns.map(col): _*))
      .withColumn("__rn", row_number().over(latestFirst))
      .filter(col("__rn") > 1).select("doc_id")
  }

  /** Advance `snap` for appended segment `newSeg`, maintaining the
    * superseded-id sidecar. An empty batch is deleted again and not
    * named — streams of fresh urls accumulate zero batches, and no batch
    * is left on disk that no snapshot names (`expireSnapshots` sweeps
    * only named ones). The returned snapshot is NOT yet written — the
    * caller commits it. */
  private[graft] def advanceForAppend(spark: SparkSession, root: String,
                                      snap: IndexStore.Snapshot,
                                      newSeg: String): IndexStore.Snapshot = {
    val name = f"dead-${snap.id + 1}%06d"
    val n = IndexStore.writeDeadIdsDf(spark, root, name,
      supersededByAppend(spark, root, snap.segments, newSeg))
    if (n == 0L) {
      val f = IndexStore.fs(spark, root)
      Seq(name, s"$name.count").foreach(r =>
        f.delete(new org.apache.hadoop.fs.Path(s"$root/dead/$r"), true))
    }
    IndexStore.Snapshot(snap.id + 1, snap.segments :+ newSeg, snap.tombstones,
      Some(if (n == 0L) snap.deadBatches else snap.deadBatches :+ name))
  }

  /** APPEND build (reference `CREATE_OR_APPEND` + PK upsert, S1/S4): adds
    * a delta segment whose doc_ids start after the current maxDoc and
    * advances the snapshot, recording the batch's superseded doc_ids as
    * a sidecar ([[advanceForAppend]]) so query-time latest-wins needs no
    * corpus window. Latest-wins vs older segments is applied at query
    * time by [[graft.query.Searcher]] (like Lucene's liveDocs) and made
    * physical by [[merge]]. */
  def appendSegment(spark: SparkSession, pages: DataFrame, dict: SynonymDict,
                    root: String, cfg: IndexConfig = IndexConfig(),
                    inputSnapshot: String = ""): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root — run buildFull first"))
    val nextBase = nextAppendBase(spark, root, snap)
    val seg = f"seg-${snap.id + 1}%06d"
    val report = buildSegment(spark, pages, dict, root, seg, nextBase, cfg, inputSnapshot)
    IndexStore.writeSnapshot(spark, root,
      advanceForAppend(spark, root, snap, seg))
    report
  }

  /** Searchable dynamic JSON subfields (reference `addJson`,
    * Indexer.java:639-747 — dynamic `PARENT.CHILD` fields become
    * index-discoverable and filter/sortable): flattens a caller-supplied
    * `(url, json)` frame through [[graft.pipeline.JsonFields.flatten]]
    * and writes a per-segment long-format sidecar keyed by the engine's
    * doc_ids (join on the PK url — one broadcast-or-shuffle equi-join per
    * segment, map-only after that). [[graft.query.Searcher]] serves
    * filters/sorts and the field catalog from it
    * (reference field discovery, Searcher.java:397-477). */
  def buildJsonSidecar(spark: SparkSession, root: String,
                       jsonByUrl: DataFrame): Unit = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    val src = jsonByUrl.toDF("url", "json")
    snap.segments.foreach { seg =>
      val ds = IndexStore.read(spark, IndexStore.Table.Docstore,
          IndexStore.docstorePath(root, seg))
        .select("doc_id", "url")
      graft.pipeline.JsonFields
        .flatten(ds.join(src, Seq("url")).select("doc_id", "json"),
          "doc_id", "json")
        .write.mode("overwrite")
        .parquet(IndexStore.jsonFieldsPath(root, seg))
    }
  }

  /** Delete by PK (S5, Indexer.java:915-917): tombstone the urls and
    * advance the snapshot; physical removal happens at [[merge]]. The
    * batch is a DataFrame and is written as parquet — deletions never
    * round-trip through driver memory, so a purge of 10^10 urls is just
    * another distributed write (the reference deletes in batches through
    * the index, Indexer.java:891-964).
    *
    * A tombstone applies to EVERY doc with its url, including versions
    * appended after the delete: deleting a url and then appending it
    * again, even with a newer `warc_ts`, leaves it invisible for good
    * (0 live versions before and after [[mergeCompact]], which drops the
    * re-appended version too). Lucene's `deleteDocuments` removes only
    * the docs that exist at the time (Indexer.java:915-917); matching it
    * needs the tombstone to record an id ceiling, a layout change. */
  def deleteByPk(spark: SparkSession, root: String, urls: DataFrame): Unit = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    val name = f"tomb-${snap.id + 1}%06d"
    IndexStore.writeTombstonesDf(spark, root, name, urls)
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, snap.segments,
        snap.tombstones :+ name, snap.dead))
  }

  /** Driver-side convenience overload for small interactive deletions. */
  def deleteByPk(spark: SparkSession, root: String, urls: Seq[String]): Unit = {
    import spark.implicits._
    deleteByPk(spark, root, urls.toDF("url"))
  }

  /** Distributed segment merge / compaction: materializes the logical
    * view (latest-wins upserts + tombstones) back into a single fresh
    * segment and atomically swaps the snapshot — the analog of Lucene's
    * forceMerge + the reference's searcher hot-swap
    * (Searcher.java:527-583). Implemented as a rebuild from the merged
    * docstore, which preserves the byte-identical-text invariant because
    * docstore.text IS the extracted text. */
  def merge(spark: SparkSession, root: String, dict: SynonymDict,
            cfg: IndexConfig = IndexConfig()): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    // identity knobs (analyzer / positions / facets) are properties of
    // the INDEX, not of the merge job: inherit them from the stored
    // segment configs so a merge can never silently rewrite a
    // keyword-analyzer or positional index as a default text one. The
    // passed cfg keeps control of sizing (numParts, salting, ...).
    val stored = snap.segments.map(s =>
      IndexStore.readSegmentConfig(spark, root, s))
    // facet/json sidecars are CARRIED OVER (url-remapped below), never
    // regenerated: a regeneration would silently replace custom
    // FacetSpec dims with the defaults. formatVersion NEVER downgrades:
    // a default-config merge of a v3 index keeps v3 (same stance as the
    // analyzer inherit), while an explicit newer cfg version migrates —
    // the rebuild path IS the v2→v3 upgrade tool (it re-encodes every
    // blob from the docstore; pre-v2 segments, whose blobs are
    // unreadable but whose docstores are fine, upgrade the same way).
    val cfg1 = cfg.copy(
      analyzer = stored.head.analyzer,
      indexPositions = stored.forall(_.hasPositions),
      formatVersion = (cfg.formatVersion +: stored.map(_.formatVersion)
        .filter(graft.codec.VarByte.SupportedVersions.contains)).max,
      buildFacets = false, facetSpecs = Nil)
    // the live docs: cross-segment latest-wins winners whose url no
    // tombstone names — the complement of the snapshot's [[LiveDocs]]
    val winners = IndexStore.read(spark, IndexStore.Table.Docstore,
        snap.segments.map(IndexStore.docstorePath(root, _)): _*)
      .where(!in_bitmap(col("doc_id"), LiveDocs.load(spark, root, snap).dead))
    // docstore.text is already extracted; present it in the pages shape
    val pages = winners.select(col("url"), col("warc_ts"), lit(null).cast("binary").as("html"),
      col("text"), col("lang"))
    val seg = f"seg-${snap.id + 1}%06d"
    val report = buildSegment(spark, pages, dict, root, seg, 0L, cfg1,
      s"merge-of-${snap.segments.mkString("+")}")

    // carry the sidecars across the doc_id reassignment: old winner
    // doc_id → url → new doc_id (one equi-join chain per sidecar; the
    // losers' and tombstoned docs' rows drop out with the winners join)
    def remapSidecar(pathOf: (String, String) => String): Unit = {
      val f = IndexStore.fs(spark, root)
      val present = snap.segments.forall(s =>
        f.exists(new org.apache.hadoop.fs.Path(pathOf(root, s))))
      if (!present) return
      val old = snap.segments.map(s => spark.read.parquet(pathOf(root, s)))
        .reduce(_ unionByName _).withColumnRenamed("doc_id", "__old_id")
      val dataCols = old.columns.filter(_ != "__old_id").toSeq
      val winnerIds = winners.select(col("doc_id").as("__old_id"), col("url"))
      val newIds = IndexStore.read(spark, IndexStore.Table.Docstore,
          IndexStore.docstorePath(root, seg))
        .select("doc_id", "url")
      old.join(winnerIds, Seq("__old_id"))
        .join(newIds, Seq("url"))
        .select("doc_id", dataCols: _*)
        .write.mode("overwrite").parquet(pathOf(root, seg))
    }
    remapSidecar(IndexStore.facetsPath)
    remapSidecar(IndexStore.jsonFieldsPath)

    // single fresh segment: no superseded docs survive
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, Seq(seg), Seq.empty,
        dead = Some(Seq.empty)))
    report
  }

  // NOT private: the Dataset encoder's generated code must call the
  // accessors — a private class makes Janino compilation fail per task
  // and silently drop the whole compact path to interpreted encoders
  final case class CompactRow(part: Int, term: String,
                                      df_local: Long, max_tf: Int,
                                      min_dl: Int, blob: Array[Byte])

  /** POSTING-LEVEL segment merge — compaction that costs O(posting
    * bytes), never a corpus re-analysis (the analog of Lucene forceMerge
    * behind the reference's searcher hot-swap,
    * `/root/reference/LuceneSearchEngine/src/Searcher.java:527-583`).
    *
    * Per (part, term), the segments' posting BLOBS are k-way-merged
    * directly (doc sets are disjoint across segments; dead doc_ids —
    * superseded upserts + tombstoned urls — are dropped during the
    * decode), so the merge never tokenizes, never re-assigns ids, and
    * ships only compressed blobs through its one shuffle. Original
    * doc_ids are KEPT (gaps where dead docs fell out are harmless: no
    * query path assumes density, and `id_ceiling` in the stats keeps
    * future APPEND bases safe). Blobs of terms untouched by deletions
    * pass through byte-identical without a re-encode. term_stats and
    * the manifest come from the written postings through
    * [[finishSegment]], as in every build; when no dead doc touches the
    * targets, term_stats are instead the per-segment sums and no blob is
    * decoded for them.
    *
    * Falls back to the rebuild [[merge]] when segments disagree on
    * layout/identity knobs (numParts, saltFanout, positions, analyzer —
    * their posting spaces aren't unionable). */
  def mergeCompact(spark: SparkSession, root: String, dict: SynonymDict,
                   cfg: IndexConfig = IndexConfig()): BuildReport = {
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    if (!layoutUniform(spark, root, snap.segments)) merge(spark, root, dict, cfg)
    else mergeCompactImpl(spark, root, snap, snap.segments,
      clearTombstones = true, cfg, LiveDocs.load(spark, root, snap).dead)
  }

  /** Tiered compaction for MANY segments (the Lucene TieredMergePolicy
    * shape behind the reference's background merging): while more than
    * `tierFanin` segments exist, compact the `tierFanin` smallest (by
    * stats doc_count — no docstore scan) into one, then finish with a
    * full [[mergeCompact]] that applies tombstones and collapses to a
    * single segment. Each pass shuffles only its tier's posting bytes,
    * so a 100-segment streaming backlog costs O(bytes × log_fanin n)
    * instead of one n-way shuffle whose task count and open-file fanout
    * scale with every segment at once. Tombstones stay in the snapshot
    * until the final pass: each tier pass already drops its segments'
    * dead rows (the dead set is computed GLOBALLY — superseded versions
    * and tombstoned urls are filtered wherever they sit), and keeping
    * the batch until the end makes re-application a harmless no-op.
    * Mixed layouts go straight to the rebuild [[merge]]. */
  def mergeCompactTiered(spark: SparkSession, root: String,
                         dict: SynonymDict,
                         cfg: IndexConfig = IndexConfig(),
                         tierFanin: Int = 10): Seq[BuildReport] = {
    require(tierFanin >= 2, s"tierFanin must be >= 2, got $tierFanin")
    var snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))
    if (!layoutUniform(spark, root, snap.segments))
      return Seq(merge(spark, root, dict, cfg))
    // ONE dead-set load for the whole schedule: liveness is invariant
    // across passes (a pass drops dead rows; it neither creates nor
    // revives deads), so every pass — including the final one — reuses
    // this set. Ids whose rows an earlier pass dropped match nothing.
    val dead = LiveDocs.load(spark, root, snap).dead
    // segment sizes read ONCE (one read of every stats row), then
    // maintained from each pass's BuildReport — re-reading per pass would
    // issue O(passes) tiny driver jobs just for tier selection
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    IndexStore.readSegmentStats(spark, root, snap.segments)
      .foreach { case (s, st) => sizes(s) = st.docCount }
    val out = Seq.newBuilder[BuildReport]
    while (snap.segments.size > tierFanin) {
      val tier = snap.segments.map(s => s -> sizes.getOrElse(s, 0L))
        .sortBy { case (s, n) => (n, s) }
        .take(tierFanin).map(_._1)
      val r = mergeCompactImpl(spark, root, snap, tier,
        clearTombstones = false, cfg, dead)
      out += r
      tier.foreach(sizes.remove)
      sizes(r.segment) = r.docCount
      snap = IndexStore.readLatestSnapshot(spark, root).get
    }
    out += mergeCompactImpl(spark, root, snap, snap.segments,
      clearTombstones = true, cfg, dead)
    out.result()
  }

  /** THE compaction layout gate — one definition shared by
    * the merges and [[FieldedIndex.mergeCompact]] (whose
    * all-fields path decision must agree with the per-root one, or one
    * field could keep gappy original doc_ids while another re-assigns
    * dense ones). formatVersion is part of it twice over: an
    * UNSUPPORTED (pre-v2) segment's blobs can neither be decoded
    * (dead-doc filtering would crash mid-job) nor passed through (the
    * new segment's config would re-stamp them as current-format,
    * silencing the Searcher's loud version check); and MIXED supported
    * versions (v2 + v3) must not blob-compact either — passthrough
    * blobs would disagree with the single config.json version the
    * merged segment records. The rebuild merge re-encodes from the
    * docstore, so it handles any layout — fall back, never error
    * (invariant 14). */
  private[index] def layoutUniform(spark: SparkSession, root: String,
                                   segs: Seq[String]): Boolean = {
    val stored = segs.map(IndexStore.readSegmentConfig(spark, root, _))
    stored.forall(c =>
      graft.codec.VarByte.SupportedVersions.contains(c.formatVersion)) &&
      stored.map(c => (c.numParts, c.saltFanout, c.hasPositions, c.analyzer,
        c.formatVersion)).distinct.size == 1
  }

  /** Posting-level compaction of `targets` (a subset of, or all of, the
    * snapshot's segments, of one layout) into one fresh segment, dropping
    * the rows of `dead` (the snapshot's GLOBAL dead set: a subset compact
    * must drop a target row superseded by a newer version living OUTSIDE
    * the subset). */
  private def mergeCompactImpl(spark: SparkSession, root: String,
                               snap: IndexStore.Snapshot,
                               targets: Seq[String],
                               clearTombstones: Boolean,
                               cfg: IndexConfig,
                               dead: Roaring64NavigableMap): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val laps = new Laps()
    import laps.lap
    val sc0 = IndexStore.readSegmentConfig(spark, root, targets.head)
    val (numParts, withPos, blockSize) =
      (sc0.numParts, sc0.hasPositions, cfg.blockSize)
    // blob-level compaction PRESERVES the segments' format version
    // (layoutUniform guarantees it is single-valued): passthrough blobs
    // and re-encoded chunks must agree with the one version the merged
    // segment's config records. Version migration goes through the
    // rebuild [[merge]].
    val segVer = sc0.formatVersion

    val targetDocs = IndexStore.read(spark, IndexStore.Table.Docstore,
      targets.map(IndexStore.docstorePath(root, _)): _*)

    // does a dead id live in the TARGETS? A tier whose segments contain
    // no dead docs must keep the byte-identical blob passthrough +
    // per-segment stats-sum fast paths — branching on the GLOBAL set
    // would force the decode path on every pass of a schedule with a
    // single tombstone anywhere. One column-pruned min/max over the
    // target docstores is far cheaper than decoding a tier's every blob.
    val touched = !dead.isEmpty && (targets == snap.segments || {
      val r = targetDocs.agg(min("doc_id"), max("doc_id")).head()
      !r.isNullAt(0) && LiveDocs.anyIn(dead, r.getLong(0), r.getLong(1))
    })
    lap("dead_scan")

    // coalesce AFTER the part-hash repartition + sort: each compact
    // task runs the whole read-merge-write pipeline and transiently
    // holds a row-group read batch, cursor buffers, an output chunk
    // and a buffering parquet writer (~60-80 MB unmanaged) — 32
    // concurrent pipelines OOM'd the 20M dress's flat 8g JVM. A
    // quarter of the parallelism bounds per-JVM transients; coalesce
    // concatenates WHOLE hash partitions, so all rows of a (part,
    // term) stay contiguous and runGrouped's merge is unaffected.
    val compactTasks =
      math.max(8, spark.sparkContext.defaultParallelism / 4)
    val allPostings = targets
      .map(IndexStore.readPostingsOrEmpty(spark, root, _))
      .reduce(_ unionByName _)
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
      .repartition(numParts, col("part"))
      .sortWithinPartitions("part", "term")
      .coalesce(compactTasks)
      .as[(Int, String, Long, Int, Int, Array[Byte])]

    val maxBlob = cfg.effectiveMaxBlobPostings
    // the closure carries the bitmap: each task ranks its own copy
    val drop = if (touched) dead else new Roaring64NavigableMap()
    val merged: Dataset[CompactRow] = allPostings.mapPartitions { it =>
      runGrouped(it)((a, b) => a._1 == b._1 && a._2 == b._2) { run =>
        val (part, term, df0, mt0, md0, first) = run.head
        // single-source blobs no dead id can touch (a cheap header walk)
        // pass through byte-identical IF within the cap — compaction is
        // the one chance to re-chunk an oversized legacy blob. The rest
        // stream-merge and re-chunk, skipping dead ids per posting (the
        // decode-everything + filterDead shape OOM'd the 10M
        // compaction); a term whose docs all died vanishes.
        if (run.size == 1 && VarByte.count(first) <= maxBlob &&
            !blobTouchesDead(first, drop))
          Seq(CompactRow(part, term, df0, mt0, md0, first))
        else
          mergeBlobsStreaming(run.map(_._6), withPos, blockSize, segVer,
              maxBlob, drop)
            .map { case (blob, cnt, mt, md) =>
              CompactRow(part, term, cnt.toLong, mt, md, blob)
            }
      }
    }

    val seg = f"seg-${snap.id + 1}%06d"
    // NO persist: caching the merged blob Dataset unrolls O(posting
    // bytes) into the heap during the write (see the identical fix in
    // buildSegmentFromIdPages). Later passes read back the WRITTEN
    // parquet — column-pruned disk scans, zero heap retention.
    merged.toDF()
      .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
      .write.mode("overwrite").partitionBy("part")
      .options(IndexStore.postingsWriteOptionsFor(withPos))
      .parquet(IndexStore.postingsPath(root, seg))
    lap("postings_blob_merge_write")

    // docstore: live rows only, ids unchanged; stats observed during
    // the write
    def live(rows: DataFrame): DataFrame =
      if (touched) rows.where(!in_bitmap(col("doc_id"), dead)) else rows
    val docObs = org.apache.spark.sql.Observation()
    live(targetDocs)
      .observe(docObs, count(lit(1)).as("cnt"),
        sum(col("dl").cast("long")).as("sdl"), max(col("doc_id")).as("mx"))
      .write.mode("overwrite").options(IndexStore.docstoreWriteOptions)
      .parquet(IndexStore.docstorePath(root, seg))
    val (docCount, _, _) =
      IndexStore.writeStatsFromObservation(spark, root, seg, docObs.get)
    lap("docstore_stats")

    // sidecars ride along unchanged (ids are stable) minus dead rows
    def carrySidecar(pathOf: (String, String) => String): Unit = {
      val f = IndexStore.fs(spark, root)
      val present = targets.forall(s =>
        f.exists(new org.apache.hadoop.fs.Path(pathOf(root, s))))
      if (!present) return
      live(targets.map(s => spark.read.parquet(pathOf(root, s)))
          .reduce(_ unionByName _))
        .write.mode("overwrite").parquet(pathOf(root, seg))
    }
    carrySidecar(IndexStore.facetsPath)
    carrySidecar(IndexStore.jsonFieldsPath)
    lap("sidecars")

    // term_stats: pure per-segment sums when nothing died (no blob ever
    // decoded for them); otherwise the shared read-back's aggregate
    val (termCount, manifestRows) = finishSegment(spark, root, seg,
      s"compact-of-${targets.mkString("+")}", t0, laps,
      statsRows = Option.when(!touched)(IndexStore.read(spark,
          IndexStore.Table.TermStats,
          targets.map(IndexStore.termStatsPath(root, _)): _*)
        .withColumnRenamed("df", "df_local")))
    IndexStore.writeSegmentConfig(spark, root, seg,
      IndexStore.SegmentConfig(numParts, sc0.saltFanout, blockSize,
        formatVersion = segVer,
        hasPositions = withPos, analyzer = sc0.analyzer))
    val remaining = snap.segments.filterNot(targets.contains)
    // full compact (clearTombstones): one clean segment, no superseded
    // rows left → sidecar resets to empty.
    // Tier passes carry the batches: REMAINING segments still hold
    // superseded rows those batches name; ids whose rows this pass
    // dropped no longer count ([[LiveDocs]] counts existing rows only) —
    // harmless, same stance as the tombstones staying until the final
    // pass.
    IndexStore.writeSnapshot(spark, root,
      IndexStore.Snapshot(snap.id + 1, remaining :+ seg,
        if (clearTombstones) Seq.empty else snap.tombstones,
        if (clearTombstones) Some(Seq.empty) else snap.dead))
    lap("manifest_and_swap")
    BuildReport(seg, docCount, termCount, manifestRows.map(_.rows).sum,
      (System.nanoTime() - t0) / 1000000, laps.result)
  }
}
