package graft.index

import graft.codec.VarByte
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed index verifier — the Lucene CheckIndex analog behind the
  * reference's operational story (a 10^12-doc index is only as
  * trustworthy as the tool that can audit it without a full rebuild).
  *
  * Validates, fully distributed (two decode passes over posting bytes —
  * blob validation, then orphan-id extraction; cheaper than caching
  * decoded ids, see the 3c note — plus one pass over the sidecar
  * tables; no driver materialization):
  *
  *  1. every posting BLOB: header magic/version, strictly-increasing
  *     doc_ids, `df_local` == decoded posting count, row-level
  *     (max_tf, min_dl) bounds == the decoded content (WAND's block
  *     bounds build on these), positions (when indexed): count == tf
  *     and strictly increasing within each doc;
  *  2. layout: every row's `part` ∈ {partOf(term, salt) | salt <
  *     fanout} per the segment's stored config (a mis-bucketed term is
  *     invisible to the plan-time partition pruning — silent missing
  *     results);
  *  3. cross-table: term_stats.df == Σ df_local per term;
  *     stats.doc_count == docstore row count; stats.id_ceiling > max
  *     doc_id; every posting doc_id exists in the docstore (orphan
  *     postings ⇒ ghost hits);
  *  4. deletion batches: every tombstone and superseded-id batch the
  *     snapshot names holds exactly the rows its `.count` sidecar
  *     claims (the sidecar is a write-time row count that no engine
  *     path reads; this audit is what keeps it honest).
  *
  * Returns a frame of issues `(segment, part, term, problem)` — empty ⇔
  * healthy. CLI: `graft.Main check --index <root>`.
  */
object IndexCheck {

  final case class Issue(segment: String, part: Int, term: String,
                         problem: String)

  def check(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val snap = IndexStore.readLatestSnapshot(spark, root)
      .getOrElse(sys.error(s"no snapshot at $root"))

    val segStats = IndexStore.readSegmentStats(spark, root, snap.segments)
    val perSegment = snap.segments.map { seg =>
      val cfg = IndexStore.readSegmentConfig(spark, root, seg)
      val postings = IndexStore.readPostingsOrEmpty(spark, root, seg)
        .select("part", "term", "df_local", "max_tf", "min_dl", "blob")
        .as[(Int, String, Long, Int, Int, Array[Byte])]

      // 1 + 2: per-blob validation (executor-side, no shuffle) via the
      // block-aware scan — the per-BLOCK headers are what WAND's strict
      // skips actually read, so they are validated against the decoded
      // entries of THEIR block, not just the row-level aggregates (a
      // corrupt block header with intact entries is exactly the silent
      // missing-top-k failure class this tool exists to catch)
      val blobIssues = postings.mapPartitions { it =>
        it.flatMap { case (part, term, dfLocal, maxTf, minDl, blob) =>
          val problems = Seq.newBuilder[String]
          try {
            val withPos = VarByte.hasPositions(blob)
            var total = 0
            var rowMaxTf = 0
            var rowMinDl = Int.MaxValue
            var prevId = Long.MinValue
            var orderBroken = false
            var header: VarByte.BlockHeader = null
            var bMaxTf = 0
            var bMinDl = Int.MaxValue
            var bCount = 0
            var bLast = Long.MinValue
            def closeBlock(): Unit = if (header != null) {
              val at = s"block@${header.bodyPos}"
              if (bCount != header.n)
                problems += s"$at: header n=${header.n}, decoded $bCount"
              if (bCount > 0) {
                if (bMaxTf != header.maxTf) problems +=
                  s"$at: header maxTf=${header.maxTf}, entries max $bMaxTf (WAND bound)"
                if (bMinDl != header.minDl) problems +=
                  s"$at: header minDl=${header.minDl}, entries min $bMinDl (WAND bound)"
                if (bLast != header.lastDocId) problems +=
                  s"$at: header lastDocId=${header.lastDocId}, decoded $bLast (skip pointer)"
              }
            }
            VarByte.scanPos(blob, wantPositions = withPos) { h =>
              closeBlock()
              header = h
              bMaxTf = 0; bMinDl = Int.MaxValue; bCount = 0
              bLast = Long.MinValue
              true
            } { (id, tf, dl, ps) =>
              total += 1; bCount += 1; bLast = id
              if (!orderBroken && prevId != Long.MinValue && id <= prevId) {
                problems += s"doc_ids not strictly increasing at #$total"
                orderBroken = true
              }
              prevId = id
              if (tf > bMaxTf) bMaxTf = tf
              if (dl < bMinDl) bMinDl = dl
              if (tf > rowMaxTf) rowMaxTf = tf
              if (dl < rowMinDl) rowMinDl = dl
              if (ps != null) {
                if (ps.length != tf)
                  problems += s"doc $id: ${ps.length} positions, tf=$tf"
                var q = 1
                while (q < ps.length) {
                  if (ps(q) <= ps(q - 1)) {
                    problems += s"doc $id: positions not increasing"
                    q = ps.length
                  }
                  q += 1
                }
              }
            }
            closeBlock()
            if (total.toLong != dfLocal)
              problems += s"df_local=$dfLocal but blob decodes $total"
            if (total > 0) {
              if (rowMaxTf != maxTf)
                problems += s"max_tf=$maxTf but decoded max is $rowMaxTf"
              if (rowMinDl != minDl)
                problems += s"min_dl=$minDl but decoded min is $rowMinDl"
            }
          } catch {
            case e: Exception => problems += s"blob decode failed: ${e.getMessage}"
          }
          if (!(0 until cfg.saltFanout)
              .exists(s0 => IndexBuilder.partOf(term, s0, cfg.numParts) == part))
            problems += s"part=$part outside partOf(term, salt<${cfg.saltFanout})"
          problems.result().map(p => Issue(seg, part, term, p))
        }
      }

      // 3a: term_stats.df vs Σ df_local
      val fromBlobs = postings.toDF()
        .groupBy("term").agg(sum("df_local").as("df_blobs"))
      val stDf = IndexStore.read(spark, IndexStore.Table.TermStats,
          IndexStore.termStatsPath(root, seg))
        .select(col("term"), col("df"))
      val dfIssues = stDf.join(fromBlobs, Seq("term"), "full_outer")
        .filter(not(col("df") <=> col("df_blobs")))
        .select(col("term"),
          concat(lit("term_stats.df="), col("df"),
            lit(" but blobs sum to "), col("df_blobs")).as("problem"))
        .as[(String, String)]
        .map { case (t, p) => Issue(seg, -1, Option(t).getOrElse("?"), p) }

      // 3b: docstore count + ceiling vs stats, and doc_id UNIQUENESS —
      // the id-assignment shuffle's counts job and assignment job must
      // see identical partitioning (invariant 1); a boundary re-sample
      // between them would overlap per-partition id ranges, which no
      // other audit catches (row counts and stats still agree)
      val ds = IndexStore.read(spark, IndexStore.Table.Docstore,
        IndexStore.docstorePath(root, seg))
      val agg = ds.agg(count(lit(1)), max("doc_id"),
        countDistinct("doc_id")).head()
      val (nDocs, maxId) = (agg.getLong(0),
        if (agg.isNullAt(1)) -1L else agg.getLong(1))
      val nDistinct = agg.getLong(2)
      val st = segStats(seg)
      val statIssues = Seq.newBuilder[Issue]
      if (st.docCount != nDocs)
        statIssues += Issue(seg, -1, "",
          s"stats.doc_count=${st.docCount} but docstore has $nDocs rows")
      if (nDistinct != nDocs)
        statIssues += Issue(seg, -1, "",
          s"docstore holds $nDocs rows but only $nDistinct distinct " +
            "doc_ids (duplicate assignment)")
      if (st.idCeiling <= maxId)
        statIssues += Issue(seg, -1, "",
          s"id_ceiling=${st.idCeiling} <= max doc_id $maxId")

      // 3c: orphan posting doc_ids (ghost hits) — one distributed
      // anti-join of the exploded posting ids against the docstore.
      // Decoded with a per-blob try/catch, NOT the vb_decode expression:
      // the checker must keep auditing past a corrupt blob (which pass 1
      // already reported), never die on it. This IS a second decode of
      // every blob — deliberately: caching pass 1's decoded ids would
      // hold ~8 B/posting vs the ~2-4 B/posting the compressed blobs
      // re-decode from, so at audit scale the re-decode is the cheaper
      // plan
      // the join input is projected to (part, doc_id) BEFORE the
      // exchange (guide: never shuffle strings you only need for
      // labels): carrying the term per posting row OOM'd the audit at
      // 20M docs (billions of short-lived strings under 32 concurrent
      // sort tasks); orphans — expected zero — are labeled per part
      val orphanIssues = postings
        .mapPartitions(_.flatMap { case (part, _, _, _, _, blob) =>
          try VarByte.decode(blob)._1.iterator.map(id => (part, id))
          catch { case _: Exception => Iterator.empty }
        })
        .toDF("part", "doc_id")
        .join(ds.select("doc_id"), Seq("doc_id"), "left_anti")
        .groupBy("part").agg(count(lit(1)).as("n"),
          min("doc_id").as("first_id"))
        .as[(Int, Long, Long)]
        .map { case (part, n, first) =>
          Issue(seg, part, "",
            s"$n posting doc_id(s) missing from docstore (first: $first)")
        }

      blobIssues.toDF()
        .unionByName(dfIssues.toDF())
        .unionByName(spark.createDataset(statIssues.result()).toDF())
        .unionByName(orphanIssues.toDF())
    }
    // 4: one job counts every batch the snapshot names (a missing batch
    // or sidecar fails naming the file, like every other reader)
    val batches =
      snap.tombstones.map("tombstones" -> _) ++ snap.deadBatches.map("dead" -> _)
    val rows: Map[String, Long] = batches.map { case (d, n) =>
        IndexStore.read(spark, IndexStore.batchTable(d), s"$root/$d/$n")
          .select(lit(s"$d/$n").as("batch"))
      }.reduceOption(_ unionByName _)
      .fold(Map.empty[String, Long])(
        _.groupBy("batch").count().as[(String, Long)].collect().toMap)
    val batchIssues = batches.flatMap { case (d, n) =>
      val claimed = IndexStore.sidecarCount(spark, root, d, Seq(n))
      val actual = rows.getOrElse(s"$d/$n", 0L)
      if (claimed == actual) None
      else Some(Issue(s"$d/$n", -1, "",
        s"$n.count says $claimed but the batch holds $actual rows"))
    }
    // a damaged/segment-less snapshot must audit as "no per-segment
    // issues", not crash the auditor on an empty reduce
    perSegment.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Issue].toDF())
      .unionByName(spark.createDataset(batchIssues).toDF())
  }
}
