package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** THE dead-set rule (Lucene's per-segment liveDocs, which the
  * reference reuses across `openIfChanged` and counts for
  * `numDeletedDocs`, `Searcher.java:527-583,698`): a doc is dead when a
  * `dead` batch of the snapshot names its id or a tombstone batch its
  * url — counting only ids whose rows the snapshot's segments still hold
  * (a tier pass drops dead rows but carries the batches). Held on the
  * driver as bitmaps of every doc id (`ids`) and of the dead ones: dense
  * ids cost ≤ 8 KB per 65,536, so no set is too large to hold, ship in a
  * task or probe per row. Never mutated after construction, so
  * `contains` is safe from any thread; the cardinality (whose cache is
  * not) is read once. */
final class LiveDocs private (val root: String,
                              val snapshot: IndexStore.Snapshot,
                              private val ids: Roaring64NavigableMap,
                              private[graft] val dead: Roaring64NavigableMap,
                              /** Segments whose docstores the load read. */
                              private[graft] val docstoresRead: Seq[String]) {

  val count: Long = dead.getLongCardinality

  /** Segments and batches are immutable once committed: when `snap`
    * holds all this set was built from, only the new ones need reading. */
  private def carriesTo(root: String, snap: IndexStore.Snapshot): Boolean =
    root == this.root && snapshot.segments.forall(snap.segments.contains) &&
      snapshot.deadBatches.forall(snap.deadBatches.contains) &&
      snapshot.tombstones.forall(snap.tombstones.contains)
}

object LiveDocs {

  private val Superseded = 0
  private val Existing = 1
  private val Tombstoned = 2

  /** The dead set of `snap`, grown from `prev` when it carries over, else
    * read in full. Reads the dead batches and the doc ids of the segments
    * `prev` lacks, and those segments' urls against every tombstone —
    * every segment's when a tombstone batch is new (a tombstone also
    * hides versions appended after it). ONE job: a collect of
    * per-partition bitmaps, ORed on the driver. The tombstone semi-join
    * is a shuffled hash join, whose shuffle is a stage of that job; the
    * broadcast Spark would plan from the file sizes is a job of its own.
    * (A full load of a 5,000-doc root on a 4-core box: shuffled hash
    * 203 ms, sort-merge 229 ms, broadcast with its extra job 172 ms.) */
  def load(spark: SparkSession, root: String, snap: IndexStore.Snapshot,
           prev: Option[LiveDocs] = None): LiveDocs = {
    val base = prev.filter(_.carriesTo(root, snap))
    def had(names: IndexStore.Snapshot => Seq[String]) =
      base.fold(Seq.empty[String])(b => names(b.snapshot))
    val newSegs = snap.segments.filterNot(had(_.segments).contains)
    val newDead = snap.deadBatches.filterNot(had(_.deadBatches).contains)
    val tombSegs =
      if (snap.tombstones.forall(had(_.tombstones).contains)) newSegs
      else snap.segments
    def docs(segs: Seq[String]) = IndexStore.read(spark,
      IndexStore.Table.Docstore, segs.map(IndexStore.docstorePath(root, _)): _*)
    def tagged(kind: Int, rows: DataFrame) =
      rows.select(lit(kind), col("doc_id"))
    val parts = Seq(
      IndexStore.readBatches(spark, root, "dead", newDead)
        .map(tagged(Superseded, _)),
      Option.when(newSegs.nonEmpty)(tagged(Existing, docs(newSegs))),
      IndexStore.readBatches(spark, root, "tombstones", snap.tombstones)
        .filter(_ => tombSegs.nonEmpty)
        .map(t => tagged(Tombstoned, docs(tombSegs)
          .join(t.hint("shuffle_hash"), Seq("url"), "left_semi")))).flatten

    val got = Array.fill(3)(new Roaring64NavigableMap())
    if (parts.nonEmpty)
      parts.reduce(_ union _).rdd.mapPartitions { rows =>
        val maps = Array.fill(3)(new Roaring64NavigableMap())
        rows.foreach(r => maps(r.getInt(0)).addLong(r.getLong(1)))
        maps.foreach(_.runOptimize())
        Iterator(maps)
      }.collect().foreach(maps => maps.indices.foreach(k => got(k).or(maps(k))))

    val ids = new Roaring64NavigableMap()
    val dead = new Roaring64NavigableMap()
    base.foreach { b => ids.or(b.ids); dead.or(b.dead) }
    ids.or(got(Existing))
    got(Superseded).and(ids) // only ids whose rows still exist
    dead.or(got(Superseded))
    dead.or(got(Tombstoned))
    ids.runOptimize()
    dead.runOptimize()
    new LiveDocs(root, snap, ids, dead, (newSegs ++ tombSegs).distinct)
  }

  /** Does `dead` hold an id in `[lo, hi]`? `rankLong` fills a cache: only
    * for a copy no other thread reads (a task's, or a merge's own set). */
  def anyIn(dead: Roaring64NavigableMap, lo: Long, hi: Long): Boolean =
    dead.rankLong(hi) > (if (lo <= 0L) 0L else dead.rankLong(lo - 1L))
}
