package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType,
  IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** Physical index layout + snapshot/manifest bookkeeping ("Iceberg-
  * emulated", SURVEY.md §0.3): partitioned Parquet tables plus JSON
  * manifests that carry the snapshot/lineage/metrics concepts the north
  * rule needs (resumable builds, per-partition checkpoints, atomic
  * snapshot swap). All IO goes through the Hadoop FileSystem API so the
  * same code runs on HDFS/S3A on a real cluster; a real Iceberg catalog
  * could replace this object without touching engine code.
  *
  * Layout:
  * {{{
  *   <root>/segments/<segName>/docstore/        parquet
  *   <root>/segments/<segName>/postings/        parquet, partitionBy(part)
  *   <root>/segments/<segName>/term_stats/      parquet
  *   <root>/segments/<segName>/stats/           parquet (1 row)
  *   <root>/segments/<segName>/manifest.jsonl   per-part lineage + metrics
  *   <root>/tombstones/<name>/                  deleted PKs (urls), parquet
  *   <root>/dead/<name>/                        superseded doc_ids, parquet
  *                                              (each batch + <name>.count)
  *   <root>/snapshots/snap-<n>.json             active segment list
  *   <root>/snapshots/LATEST                    atomic pointer (rename swap)
  * }}}
  *
  * Mirrors the reference lifecycle: FULL build = new snapshot from
  * scratch (`OpenMode.CREATE`, Indexer.java:196-220), APPEND = extra
  * segment + snapshot advance (S1/S4), delete-by-PK = tombstone file
  * (S5, Indexer.java:915-917), searcher hot-swap = LATEST pointer flip
  * (Searcher.java:527-583).
  */
object IndexStore {

  final case class ManifestRow(part: Int, rows: Long, bytes: Long,
                               checksum: Long, inputSnapshot: String,
                               wallMs: Long)

  /** `dead` = the superseded-doc_id sidecar batches (upsert losers,
    * maintained INCREMENTALLY at append time, so a cold multi-segment
    * Searcher open never re-derives liveDocs with an O(corpus) window).
    * Every writer states them (`Some(Nil)`: no upserts yet), and every
    * read snapshot carries them: the `dead` key is the layout gate —
    * [[parseSnapshot]] refuses a snapshot without it, since everything
    * older (sidecar-less tombstones, stats without `id_ceiling`,
    * partial `config.json`) predates the key. Tombstones stay separate:
    * they are url-keyed deletion intents, these are doc_id-keyed facts. */
  final case class Snapshot(id: Long, segments: Seq[String],
                            tombstones: Seq[String],
                            dead: Option[Seq[String]]) {
    def deadBatches: Seq[String] = dead.getOrElse(Nil)
  }

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-segment build parameters the QUERY side needs: with
    * (numParts, saltFanout) a searcher can recompute the exact posting
    * partitions a term can live in ({partOf(term, s) | s < fanout}) and
    * prune every other `part=` directory at plan time — at 10^12 docs
    * that is the difference between scanning ≤fanout files and scanning
    * the whole index layout. */
  final case class SegmentConfig(numParts: Int, saltFanout: Int, blockSize: Int,
                                 formatVersion: Int, hasPositions: Boolean,
                                 analyzer: String)

  def writeSegmentConfig(spark: SparkSession, root: String, seg: String,
                         cfg: SegmentConfig): Unit =
    writeString(fs(spark, root), new Path(s"${segmentDir(root, seg)}/config.json"),
      s"""{"num_parts":${cfg.numParts},"salt_fanout":${cfg.saltFanout},""" +
        s""""block_size":${cfg.blockSize},"format_version":${cfg.formatVersion},""" +
        s""""positions":${cfg.hasPositions},"analyzer":"${cfg.analyzer}"}""")

  /** The segment's `config.json`; the file and every key are required
    * (a missing one fails naming the file). An old `format_version`
    * reads as written — the Searcher refuses it (invariant 10). */
  def readSegmentConfig(spark: SparkSession, root: String,
                        seg: String): SegmentConfig = {
    val p = new Path(s"${segmentDir(root, seg)}/config.json")
    val s = readString(fs(spark, root), p)
    def key(name: String, value: String): String =
      s""""$name":$value""".r.findFirstMatchIn(s).map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"$p has no '$name' key"))
    SegmentConfig(key("num_parts", "(\\d+)").toInt,
      key("salt_fanout", "(\\d+)").toInt, key("block_size", "(\\d+)").toInt,
      key("format_version", "(\\d+)").toInt,
      key("positions", "(true|false)") == "true",
      key("analyzer", "\"([a-z]+)\""))
  }

  def segmentDir(root: String, seg: String) = s"$root/segments/$seg"
  def docstorePath(root: String, seg: String) = s"${segmentDir(root, seg)}/docstore"
  def postingsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/postings"
  def termStatsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/term_stats"
  def facetsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/facets"
  def jsonFieldsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/json_fields"
  def statsPath(root: String, seg: String) = s"${segmentDir(root, seg)}/stats"
  def manifestPath(root: String, seg: String) = s"${segmentDir(root, seg)}/manifest.jsonl"

  /** An engine-owned table kind and its PINNED schema. Iceberg keeps a
    * table's schema in its metadata so readers never infer it from data
    * files; here the pin is code, and every engine read of these tables
    * goes through [[read]]. Inference is not free: each inferred
    * `spark.read.parquet` runs a footer-read Spark job (a one-row stats
    * table: median 82 ms inferred against 6.5 ms pinned, local[4] on a
    * 4-core box), and an empty segment's partitioned postings dir has no
    * footer to infer from at all. Writers produce exactly these (name, type) lists — a spec
    * infers every written footer and compares. */
  sealed abstract class Table(fields: (String, DataType)*) {
    val schema: StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
  }
  object Table {
    case object Docstore extends Table("doc_id" -> LongType,
      "url" -> StringType, "warc_ts" -> TimestampType,
      "lang" -> StringType, "text" -> StringType, "dl" -> IntegerType)
    /** `part` is the partition column (directory name, not footer). */
    case object Postings extends Table("term" -> StringType,
      "df_local" -> LongType, "max_tf" -> IntegerType,
      "min_dl" -> IntegerType, "blob" -> BinaryType, "part" -> IntegerType)
    case object TermStats extends Table("term" -> StringType,
      "df" -> LongType, "ttf" -> LongType, "max_tf" -> IntegerType,
      "min_dl" -> IntegerType)
    case object Stats extends Table("doc_count" -> LongType,
      "sum_dl" -> LongType, "avgdl" -> DoubleType, "id_ceiling" -> LongType)
    /** A superseded-id batch (`<root>/dead/<name>/`). */
    case object Dead extends Table("doc_id" -> LongType)
    /** A tombstone batch (`<root>/tombstones/<name>/`). */
    case object Tombstones extends Table("url" -> StringType)
  }

  /** THE read of engine-owned tables: any number of `paths` of one
    * table kind as ONE relation with the pinned schema — no inference
    * job, and a bookkeeping lookup over N segments or batches is one
    * read, never N. A missing path fails loudly naming it. */
  def read(spark: SparkSession, table: Table, paths: String*): DataFrame = {
    require(paths.nonEmpty, s"no $table paths to read")
    spark.read.schema(table.schema).parquet(paths: _*)
  }

  /** Write options for EVERY postings write (build, rebuild merge via
    * the build path, compact merge). Posting rows carry multi-MB blobs,
    * and the read side is Spark's vectorized parquet reader, which
    * materializes a whole row group of a binary column as ONE contiguous
    * on-heap vector per task: at the default 128 MB row groups, 32
    * concurrent scan tasks can demand ~4 GiB of batch vectors and OOM an
    * 8 GiB heap (observed on a 5M-doc positional index). 16 MB row
    * groups cap the reader's per-task batch at ~16 MB with no read
    * amplification for this table — queries are term-pruned and blobs
    * are decoded whole. Dictionary encoding is disabled: blobs are
    * unique byte strings (a dictionary only buffers heap to then fall
    * back) and terms repeat at most a handful of times per part file.
    *
    * `parquet.block.size` alone is NOT enough: parquet-mr only CHECKS
    * the buffered size every `parquet.page.size.row.check.min` records
    * (default 100 — and `checkBlockSizeReached` reuses the page-check
    * cadence), so 100 multi-MB positional blob rows buffer into one
    * row group before the first check fires. The 20M-doc dress hit
    * exactly this: an 82 MB first row group on a 16 MB block.size,
    * and the read-back scan OOM'd 8g at 32 tasks (vector doubling ×
    * whole-group batches). Checking every ≥4 rows bounds the overshoot
    * at ~4 largest rows over the 16 MB target. */
  val postingsWriteOptions: Map[String, String] = Map(
    "parquet.block.size" -> (16L << 20).toString,
    "parquet.page.size.row.check.min" -> "4",
    "parquet.page.size.row.check.max" -> "64",
    "parquet.enable.dictionary" -> "false")

  /** Positional variant: position payloads make blob VALUES ~4-8×
    * bigger, and the read side pays whole-row-group batches on every
    * phrase-term scan — halving the group bound halves the per-task
    * batch memory where it is most precious (the 20M dress's head-term
    * phrase ran 32 concurrent positional blob scans). Everything else
    * matches [[postingsWriteOptions]]. */
  val postingsWriteOptionsPositional: Map[String, String] =
    postingsWriteOptions + ("parquet.block.size" -> (8L << 20).toString)

  def postingsWriteOptionsFor(positional: Boolean): Map[String, String] =
    if (positional) postingsWriteOptionsPositional else postingsWriteOptions

  /** Docstore writes: 32 MB row groups instead of the 128 MB default.
    * Two reasons. (1) Writer memory: each open parquet writer buffers
    * ~a row group of compressed pages; 32 concurrent docstore writers ×
    * up to 128 MB was the 20M-dress compaction OOM (the stack bottoms
    * in CapacityByteArrayOutputStream.addSlab). (2) Read-side S8
    * fetches prune row groups by doc_id range (ids are url-sort
    * ordered), and 4× smaller groups prune 4× tighter for the same
    * footer cost. */
  val docstoreWriteOptions: Map[String, String] = Map(
    "parquet.block.size" -> (32L << 20).toString)

  /** Collection-stats row from the cnt/sdl/mx metrics observed during a
    * segment's docstore write — the single copy of the (doc_count,
    * sum_dl, avgdl, id_ceiling) layout that built AND compacted segments
    * share. `id_ceiling` is the first doc_id safely above every id in
    * the segment — the APPEND base; distinct from doc_count because a
    * compacted segment keeps original ids WITH GAPS where dead docs fell
    * out. Returns (docCount, sumDl, idCeiling). */
  def writeStatsFromObservation(spark: SparkSession, root: String,
                                seg: String, m: Map[String, Any])
      : (Long, Long, Long) = {
    import spark.implicits._
    val docCount = m("cnt").asInstanceOf[Long]
    val sumDl = Option(m("sdl")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val idCeiling = Option(m("mx")).map(_.asInstanceOf[Long] + 1L).getOrElse(0L)
    Seq((docCount, sumDl,
        if (docCount == 0) 0.0 else sumDl.toDouble / docCount, idCeiling))
      .toDF("doc_count", "sum_dl", "avgdl", "id_ceiling")
      .write.mode("overwrite").parquet(statsPath(root, seg))
    (docCount, sumDl, idCeiling)
  }

  /** Segment postings. An empty corpus writes a postings dir with no
    * footer to infer from; the pinned read needs none and returns an
    * empty frame. */
  def readPostingsOrEmpty(spark: SparkSession, root: String,
                          seg: String): DataFrame =
    read(spark, Table.Postings, postingsPath(root, seg))

  /** One segment's collection statistics (its stats row). */
  final case class SegmentStats(docCount: Long, sumDl: Long, idCeiling: Long)

  /** The stats rows of `segs`, from ONE read of all their stats tables
    * (one job however many segments; each segment writes one row, which
    * is attributed to it by file path). A segment without a stats row
    * fails naming it. */
  def readSegmentStats(spark: SparkSession, root: String,
                       segs: Seq[String]): Map[String, SegmentStats] =
    if (segs.isEmpty) Map.empty
    else {
      val bySeg = read(spark, Table.Stats, segs.map(statsPath(root, _)): _*)
        .select("_metadata.file_path", "doc_count", "sum_dl", "id_ceiling")
        .collect().map { r =>
          // <root>/segments/<seg>/stats/<file>
          new Path(new java.net.URI(r.getString(0))).getParent.getParent.getName ->
            SegmentStats(r.getLong(1), r.getLong(2), r.getLong(3))
        }.toMap
      segs.map(s => s -> bySeg.getOrElse(s, throw new IllegalStateException(
        s"${statsPath(root, s)} holds no stats row"))).toMap
    }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // --- manifest (per-partition lineage + metrics; the resume key) ---

  def manifestLine(r: ManifestRow): String =
    s"""{"part":${r.part},"rows":${r.rows},"bytes":${r.bytes},""" +
      s""""checksum":${r.checksum},"input_snapshot":"${r.inputSnapshot}",""" +
      s""""wall_ms":${r.wallMs}}"""

  private val partRe = """"part":(\d+)""".r
  private val rowsRe = """"rows":(\d+)""".r
  private val checksumRe = """"checksum":(-?\d+)""".r

  def appendManifest(spark: SparkSession, root: String, seg: String,
                     rows: Seq[ManifestRow]): Unit = {
    val f = fs(spark, root)
    val p = new Path(manifestPath(root, seg))
    val existing = if (f.exists(p)) readString(f, p) else ""
    writeString(f, p, existing + rows.map(manifestLine).mkString("", "\n", "\n"))
  }

  def readManifest(spark: SparkSession, root: String, seg: String): Seq[(Int, Long, Long)] = {
    val f = fs(spark, root)
    val p = new Path(manifestPath(root, seg))
    if (!f.exists(p)) Seq.empty
    else readString(f, p).linesIterator.filter(_.nonEmpty).map { line =>
      val part = partRe.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(-1)
      val rows = rowsRe.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
      val cks = checksumRe.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
      (part, rows, cks)
    }.toSeq
  }

  /** Parts already completed in a previous (possibly killed) build —
    * the resume set. */
  def completedParts(spark: SparkSession, root: String, seg: String): Set[Int] =
    readManifest(spark, root, seg).map(_._1).toSet

  // --- snapshots (atomic pointer swap) ---

  def writeSnapshot(spark: SparkSession, root: String, snap: Snapshot): Unit = {
    val f = fs(spark, root)
    val segs = snap.segments.map(s => s""""$s"""").mkString("[", ",", "]")
    val tombs = snap.tombstones.map(s => s""""$s"""").mkString("[", ",", "]")
    // readers refuse a snapshot without the "dead" key: never write one
    val dead = snap.dead.getOrElse(throw new IllegalArgumentException(
      s"snapshot ${snap.id} at $root states no superseded-id batches"))
      .map(s => s""""$s"""").mkString("[", ",", "]")
    val body =
      s"""{"id":${snap.id},"segments":$segs,"tombstones":$tombs,"dead":$dead}"""
    val snapPath = new Path(s"$root/snapshots/snap-${snap.id}.json")
    writeString(f, snapPath, body)
    // atomic pointer flip: write tmp, OVERWRITE-rename over LATEST —
    // a delete-then-rename would leave a window where LATEST is missing
    // and a concurrent Searcher constructor fails instead of seeing one
    // of the two snapshots (the hot-swap contract, Searcher.java:527-583)
    val tmp = new Path(s"$root/snapshots/.LATEST.tmp")
    writeString(f, tmp, s"snap-${snap.id}.json")
    val latest = new Path(s"$root/snapshots/LATEST")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      latest.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(latest),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private val idRe = """"id":(\d+)""".r
  private val segsRe = """"segments":\[([^\]]*)\]""".r
  private val tombsRe = """"tombstones":\[([^\]]*)\]""".r
  private val deadRe = """"dead":\[([^\]]*)\]""".r

  /** THE layout gate, on every snapshot read (and so under every
    * reader: Searcher, append, delete, merge, compact, FieldedIndex,
    * StreamIndexer, IndexCheck, expireSnapshots). A snapshot without the
    * `dead` key was written before the superseded-id sidecar, and so
    * before every other current layout feature — it is refused loudly
    * (the invariant-10 stance; Iceberg readers likewise reject table
    * metadata of a format they do not support). */
  private def parseSnapshot(f: FileSystem, p: Path): Snapshot = {
    val body = readString(f, p)
    val id = idRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(0L)
    def parseList(s: String): Seq[String] =
      s.split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val segs = segsRe.findFirstMatchIn(body).map(m => parseList(m.group(1))).getOrElse(Seq.empty)
    val tombs = tombsRe.findFirstMatchIn(body).map(m => parseList(m.group(1))).getOrElse(Seq.empty)
    val dead = deadRe.findFirstMatchIn(body).map(m => parseList(m.group(1)))
      .getOrElse(throw new IllegalStateException(s"snapshot $p has no " +
        "\"dead\" key: its layout predates the superseded-id sidecar and " +
        "is no longer readable — rebuild the index with buildFull"))
    Snapshot(id, segs, tombs, Some(dead))
  }

  def readLatestSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val f = fs(spark, root)
    val latest = new Path(s"$root/snapshots/LATEST")
    if (!f.exists(latest)) return None
    val name = readString(f, latest).trim
    Some(parseSnapshot(f, new Path(s"$root/snapshots/$name")))
  }

  /** TIME TRAVEL (the Iceberg snapshot-read analog): read a specific
    * snapshot by id. Snapshot files are retained — only the LATEST
    * pointer moves — so any still-unexpired snapshot serves exactly the
    * view it committed (its own segment list AND its own tombstone
    * list). None when that snapshot was never written or was expired. */
  def readSnapshotAt(spark: SparkSession, root: String,
                     id: Long): Option[Snapshot] = {
    val f = fs(spark, root)
    val p = new Path(s"$root/snapshots/snap-$id.json")
    if (!f.exists(p)) None else Some(parseSnapshot(f, p))
  }

  /** All retained snapshot ids, ascending. */
  def listSnapshots(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/snapshots")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toLong }
      .sorted
  }

  /** The Iceberg `expire_snapshots` analog: keep the newest `keep`
    * snapshots (the latest always survives), delete older snapshot
    * files plus every segment dir and tombstone batch that an EXPIRED
    * snapshot references and no retained snapshot does. Time travel to
    * an expired snapshot then fails loudly instead of reading
    * half-deleted state. Returns (snapshots deleted, segment dirs
    * deleted).
    *
    * Orphan deletion is scoped to dirs the expired snapshots name — a
    * dir referenced by NO snapshot is left alone, so an in-flight
    * lifecycle op (which writes its segment dir BEFORE committing its
    * snapshot JSON) can never lose its fresh segment to a concurrent
    * expire. The remaining concurrency contract is the reader's: a
    * Searcher opened on a snapshot this call expires reads deleted
    * files mid-query — expire only snapshots no reader still serves. */
  def expireSnapshots(spark: SparkSession, root: String,
                      keep: Int = 1): (Int, Int) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val f = fs(spark, root)
    val ids = listSnapshots(spark, root)
    if (ids.size <= keep) return (0, 0)
    val (expire, retain) = ids.splitAt(ids.size - keep)
    val retained = retain.flatMap(readSnapshotAt(spark, root, _))
    // the expired snapshots' references must be read BEFORE their JSONs
    // are deleted — they scope the orphan sweep below
    val expired = expire.flatMap(readSnapshotAt(spark, root, _))
    val liveSegs = retained.flatMap(_.segments).toSet
    val liveTombs = retained.flatMap(_.tombstones).toSet
    val liveDead = retained.flatMap(_.deadBatches).toSet
    val deadSegs = expired.flatMap(_.segments).toSet -- liveSegs
    val deadTombs = expired.flatMap(_.tombstones).toSet -- liveTombs
    val deadDeadBatches = expired.flatMap(_.deadBatches).toSet -- liveDead
    // POINTER BEFORE DATA: delete the expired snapshot JSONs first so a
    // crash mid-expire can never leave a readable snap-N.json pointing
    // at already-deleted segment dirs (a time-travel open would then
    // fail mid-query instead of loudly at construction)
    expire.foreach(id =>
      f.delete(new Path(s"$root/snapshots/snap-$id.json"), false))
    var segsDeleted = 0
    val segDir = new Path(s"$root/segments")
    if (f.exists(segDir))
      f.listStatus(segDir).foreach { st =>
        if (deadSegs.contains(st.getPath.getName)) {
          f.delete(st.getPath, true); segsDeleted += 1
        }
      }
    val tombDir = new Path(s"$root/tombstones")
    if (f.exists(tombDir))
      f.listStatus(tombDir).foreach { st =>
        val base = st.getPath.getName.stripSuffix(".count")
        if (deadTombs.contains(base)) f.delete(st.getPath, true)
      }
    val deadDir = new Path(s"$root/dead")
    if (f.exists(deadDir))
      f.listStatus(deadDir).foreach { st =>
        val base = st.getPath.getName.stripSuffix(".count")
        if (deadDeadBatches.contains(base)) f.delete(st.getPath, true)
      }
    (expire.size, segsDeleted)
  }

  // --- deletion batches: tombstones and superseded ids ---
  //
  // Tombstones (`<root>/tombstones/<name>/`, one `url` column) are the
  // deleted PKs of one delete-by-PK call (S5). Superseded-id batches
  // (`<root>/dead/<name>/`, one `doc_id` column) are the incremental
  // liveDocs substrate: each APPEND writes the doc_ids its batch
  // superseded (upsert losers across ALL segments, winners included when
  // the incoming doc loses), so a cold Searcher open unions O(appends)
  // small parquet batches instead of paying a full-corpus window shuffle.
  //
  // Both are PARQUET per batch, never driver-resident lists: a GDPR-style
  // purge of 1% of 10^12 urls is a 10^10-row table — it must flow
  // executor-to-executor with the driver only tracking the batch NAMES
  // in the snapshot. Each batch has a write-time `<name>.count` sidecar:
  // its row count, which `IndexCheck` audits against the batch
  // (invariant 21: never write a wrong one).

  /** One writer for both batch kinds: the row count is observed during
    * the parquet write (no extra job) and stored as the sidecar. */
  private def writeBatch(spark: SparkSession, root: String, dir: String,
                         name: String, df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .write.mode("overwrite")
      .parquet(s"$root/$dir/$name")
    val n = obs.get("cnt").asInstanceOf[Long]
    writeString(fs(spark, root), new Path(s"$root/$dir/$name.count"), n.toString)
    n
  }

  /** The named batches under `<root>/<dir>/` as ONE read (`tombstones`:
    * a `url` frame; `dead`: a `doc_id` frame); None when there are none.
    * Every named batch is read: a missing one fails loudly (skipping it
    * would silently serve its deleted docs again). */
  def readBatches(spark: SparkSession, root: String, dir: String,
                  names: Seq[String]): Option[DataFrame] =
    if (names.isEmpty) None
    else Some(read(spark, batchTable(dir), names.map(n => s"$root/$dir/$n"): _*))

  /** The table kind of a deletion-batch directory. */
  def batchTable(dir: String): Table = dir match {
    case "dead" => Table.Dead
    case "tombstones" => Table.Tombstones
    case other => throw new IllegalArgumentException(s"no batch table '$other'")
  }

  def writeTombstonesDf(spark: SparkSession, root: String, name: String,
                        urls: DataFrame): Unit =
    writeBatch(spark, root, "tombstones", name, urls.toDF("url"))

  /** Write a superseded-id batch; returns its row count. */
  def writeDeadIdsDf(spark: SparkSession, root: String, name: String,
                     ids: DataFrame): Long =
    writeBatch(spark, root, "dead", name, ids.toDF("doc_id"))

  /** Total rows across the named batches under `<root>/<dir>/`
    * (`tombstones` or `dead`), summed from their `.count` sidecars — no
    * Spark job. A missing or unparsable sidecar fails naming the file. */
  def sidecarCount(spark: SparkSession, root: String, dir: String,
                   names: Seq[String]): Long = {
    val f = fs(spark, root)
    names.map { n =>
      val p = new Path(s"$root/$dir/$n.count")
      val s = readString(f, p).trim
      s.toLongOption.getOrElse(
        throw new IllegalStateException(s"$p holds '$s', not a row count"))
    }.sum
  }
}
