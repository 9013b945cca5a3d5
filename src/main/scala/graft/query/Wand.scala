package graft.query

import graft.codec.VarByte

/** Block-max WAND machinery (north rule: "BM25 top-k via posting-list
  * intersection with block-max WAND pruning and a bounded min-heap per
  * partition merged with a global top-k"; reference collector architecture
  * `/root/reference/LuceneSearchEngine/src/Searcher.java:779-787`).
  *
  * BM25's per-term contribution `idf · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))`
  * is monotone increasing in tf and decreasing in dl, so
  * `idf · f(maxTf, minDl)` over a posting block upper-bounds every entry
  * in it — the quantities the codec stores per block
  * ([[graft.codec.VarByte]] headers) and per posting row (`max_tf`,
  * `min_dl` columns, enabling term-level bounds from column-pruned
  * parquet metadata reads that never touch blobs).
  *
  * Exactness invariants (scores must stay bit-identical to the golden
  * model):
  *  - per-entry scores use the same double arithmetic shape as the
  *    relational path: `idf * (tf * (k1+1)) / (tf + k1*((1-b) + b*dl/avgdl))`
  *  - blocks are skipped only when their bound is STRICTLY below the
  *    threshold — a tied score could still win on the docId tie-break
  *  - thresholds are provable lower bounds of the final kth score: any
  *    doc matching term t has total score ≥ its t-contribution, so the
  *    kth-best single-term score of any query term is a valid θ
  */
object Wand {

  /** Score contribution — arithmetic order matches the Catalyst column
    * expression and the golden model exactly (SURVEY.md §7 hard-part 2). */
  @inline def contrib(idf: Double, tf: Int, dl: Int,
                      k1: Double, b: Double, avgdl: Double): Double =
    idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))

  /** Bounded top-k heap ordered for eviction by (score asc, docId desc):
    * the root is the current kth hit under the engine's (score desc,
    * docId asc) result order — the reference's TopScoreDocCollector. */
  final class TopK(k: Int) {
    private val pq = new java.util.PriorityQueue[Scored](math.max(k, 1),
      (x: Scored, y: Scored) =>
        if (x.score != y.score) java.lang.Double.compare(x.score, y.score)
        else java.lang.Long.compare(y.docId, x.docId))

    def size: Int = pq.size

    /** Strict lower bound a new block must beat to possibly matter
      * (k ≤ 0 keeps nothing ⇒ nothing can matter). */
    def threshold: Double =
      if (k <= 0) Double.PositiveInfinity
      else if (pq.size < k) Double.NegativeInfinity
      else pq.peek().score

    def offer(docId: Long, score: Double): Unit = {
      if (k <= 0) return
      if (pq.size < k) pq.add(Scored(docId, score))
      else {
        val root = pq.peek()
        if (score > root.score || (score == root.score && docId < root.docId)) {
          pq.poll()
          pq.add(Scored(docId, score))
        }
      }
    }

    def drain(): Iterator[Scored] = {
      val buf = new scala.collection.mutable.ArrayBuffer[Scored](pq.size)
      while (!pq.isEmpty) buf += pq.poll()
      buf.iterator
    }
  }

  final case class Scored(docId: Long, score: Double)

  /** Exact single-term top-k over one partition's blobs with block-max
    * pruning: each block whose `idf·f(maxTf, minDl)` bound cannot beat
    * the heap's current kth score is skipped at header cost. */
  def singleTermPartitionTopK(blobs: Iterator[Array[Byte]], idf: Double,
                              k: Int, k1: Double, b: Double,
                              avgdl: Double): Iterator[Scored] = {
    val heap = new TopK(k)
    blobs.foreach { blob =>
      VarByte.scan(blob) { h =>
        contrib(idf, h.maxTf, h.minDl, k1, b, avgdl) >= heap.threshold
      } { (d, tf, dl) =>
        heap.offer(d, contrib(idf, tf, dl, k1, b, avgdl))
      }
    }
    heap.drain()
  }

  /** Candidate docIds for a multi-term query: decode only blocks where
    * `bound(block) + othersUb` could reach θ. Docs skipped in EVERY one
    * of their terms' blocks provably score < θ in total. The ids collect
    * in a growable primitive array (no boxed element per posting). */
  def candidatesAboveTheta(blob: Array[Byte], idf: Double, othersUb: Double,
                           theta: Double, k1: Double, b: Double,
                           avgdl: Double): Iterator[Long] = {
    var out = new Array[Long](64)
    var m = 0
    VarByte.scan(blob) { h =>
      contrib(idf, h.maxTf, h.minDl, k1, b, avgdl) + othersUb >= theta
    } { (d, _, _) =>
      if (m == out.length) out = java.util.Arrays.copyOf(out, 2 * m)
      out(m) = d
      m += 1
    }
    out.iterator.take(m)
  }
}
