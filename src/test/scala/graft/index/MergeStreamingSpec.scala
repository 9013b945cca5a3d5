package graft.index

import graft.codec.VarByte
import org.roaringbitmap.longlong.Roaring64NavigableMap.bitmapOf
import org.scalatest.funsuite.AnyFunSuite

/** The streaming k-way blob merge (cursors + heap + BlockEncoder) must
  * be value-identical to the decode-everything merge it replaced —
  * across formats, positions, dead sets, chunking, and random
  * interleavings. Pure-JVM (no Spark session). */
class MergeStreamingSpec extends AnyFunSuite {

  private def mkFragments(rnd: scala.util.Random, nFrags: Int, nDocs: Int,
                          withPos: Boolean, ver: Int)
      : (Seq[Array[Byte]], Seq[(Long, Int, Int, Seq[Int])]) = {
    // disjoint doc sets with interleaved ranges: deal docIds round-robin
    val ids = scala.collection.mutable.SortedSet.empty[Long]
    while (ids.size < nDocs) ids += rnd.nextLong(nDocs * 20L)
    val byFrag = Array.fill(nFrags)(Vector.newBuilder[(Long, Int, Int, Seq[Int])])
    ids.toSeq.foreach { d =>
      val tf = 1 + rnd.nextInt(5)
      val ps = Seq.iterate(rnd.nextInt(4), tf)(_ + 1 + rnd.nextInt(6))
      byFrag(rnd.nextInt(nFrags)) += ((d, tf, 10 + rnd.nextInt(500), ps))
    }
    val frags = byFrag.toSeq.map(_.result()).filter(_.nonEmpty)
    val blobs = frags.map { f =>
      VarByte.encode(f.map(_._1).toArray, f.map(_._2).toArray,
        f.map(_._3).toArray, 1 + rnd.nextInt(64),
        if (withPos) f.map(_._4.toArray).toArray else null, ver)
    }
    (blobs, frags.flatten.sortBy(_._1))
  }

  for (ver <- Seq(2, 3); withPos <- Seq(false, true)) {
    test(s"v$ver withPos=$withPos: Cursor replays exactly the decoded stream") {
      val rnd = new scala.util.Random(1000 + ver * 10 + (if (withPos) 1 else 0))
      for (_ <- 1 to 20) {
        val (blobs, _) = mkFragments(rnd, 1, 1 + rnd.nextInt(400), withPos, ver)
        val blob = blobs.head
        val (d, t, l, p) = VarByte.decodeWithPositions(blob)
        val cur = new VarByte.Cursor(blob, wantPositions = withPos)
        var i = 0
        while (cur.hasNext) {
          cur.advance()
          assert(cur.docId == d(i) && cur.tf == t(i) && cur.dl == l(i), s"i=$i")
          if (withPos) assert(cur.positions.toSeq == p(i).toSeq, s"i=$i")
          i += 1
        }
        assert(i == d.length)
        intercept[NoSuchElementException](cur.advance())
      }
    }

    test(s"v$ver withPos=$withPos: streaming merge == reference merge " +
      "incl. dead skip, chunking, and all-dead terms") {
      val rnd = new scala.util.Random(2000 + ver * 10 + (if (withPos) 1 else 0))
      for (trial <- 1 to 25) {
        val nFrags = 1 + rnd.nextInt(12)
        val (blobs, all) = mkFragments(rnd, nFrags, 1 + rnd.nextInt(500),
          withPos, ver)
        val deadRatio = rnd.nextInt(4) // 0 = none ... 3 = most
        val dead = all.map(_._1)
          .filter(_ => rnd.nextInt(4) < deadRatio).toArray
        java.util.Arrays.sort(dead)
        val maxPostings = 1 + rnd.nextInt(200)
        val chunks = IndexBuilder.mergeBlobsStreaming(blobs, withPos,
          VarByte.DefaultBlockSize, ver, maxPostings, bitmapOf(dead: _*))
        // reference: flat survivor list
        val want = all.filter(e =>
          java.util.Arrays.binarySearch(dead, e._1) < 0)
        val got = chunks.flatMap { case (blob, cnt, mt, md) =>
          assert(VarByte.formatVersionOf(blob) == ver)
          val (d, t, l, p) = VarByte.decodeWithPositions(blob)
          assert(d.length == cnt && cnt <= maxPostings && cnt > 0)
          assert(mt == (if (t.isEmpty) 0 else t.max), "chunk maxTf")
          assert(md == (if (l.isEmpty) 0 else l.min), "chunk minDl")
          d.indices.map(i => (d(i), t(i), l(i),
            if (withPos) p(i).toSeq else Seq.empty[Int]))
        }
        val wantCmp = want.map(e =>
          (e._1, e._2, e._3, if (withPos) e._4 else Seq.empty[Int]))
        assert(got == wantCmp,
          s"trial=$trial frags=$nFrags dead=${dead.length} cap=$maxPostings")
        if (want.isEmpty) assert(chunks.isEmpty)
      }
    }
  }

  test("blobTouchesDead: false guarantees untouched; hits are detected") {
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 50) {
      val n = 1 + rnd.nextInt(300)
      val gaps = Array.fill(n)(1L + rnd.nextInt(50))
      val ids = gaps.scanLeft(0L)(_ + _).tail
      val blob = VarByte.encode(ids, Array.fill(n)(1), Array.fill(n)(7),
        1 + rnd.nextInt(64))
      val idSet = ids.toSet
      // a real member must be detected
      val hit = Array(ids(rnd.nextInt(n)))
      assert(IndexBuilder.blobTouchesDead(blob, bitmapOf(hit: _*)))
      // a non-member may be flagged (conservative) but false must imply
      // genuinely no overlap
      val probe = Array(rnd.nextLong(ids.last + 100))
      if (!IndexBuilder.blobTouchesDead(blob, bitmapOf(probe: _*)))
        assert(!idSet.contains(probe(0)))
      assert(!IndexBuilder.blobTouchesDead(blob, bitmapOf()))
      assert(!IndexBuilder.blobTouchesDead(blob, bitmapOf(ids.last + 1)))
    }
  }
}
