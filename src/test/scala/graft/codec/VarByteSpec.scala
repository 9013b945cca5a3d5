package graft.codec

import org.scalatest.funsuite.AnyFunSuite

class VarByteSpec extends AnyFunSuite {

  private val versions = Seq(VarByte.FormatV2, VarByte.FormatV3)

  for (ver <- versions) {

    test(s"v$ver: round-trip tiny") {
      val ids = Array(0L, 1L, 5L, 1000L, 1000000L)
      val tfs = Array(1, 2, 3, 127, 128)
      val dls = Array(10, 20, 30, 40, 50)
      val blob = VarByte.encode(ids, tfs, dls, version = ver)
      assert(VarByte.formatVersionOf(blob) == ver)
      val (d, t, l) = VarByte.decode(blob)
      assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq)
      assert(VarByte.count(blob) == 5)
      assert(VarByte.termBounds(blob) == ((128, 10)))
    }

    test(s"v$ver: empty list") {
      val blob = VarByte.encode(Array.empty[Long], Array.empty[Int],
        Array.empty[Int], version = ver)
      val (d, t, l) = VarByte.decode(blob)
      assert(d.isEmpty && t.isEmpty && l.isEmpty && VarByte.count(blob) == 0)
    }

    test(s"v$ver: block headers carry per-block (maxTf, minDl) and " +
      "skipping works") {
      val n = 1000
      val ids = Array.tabulate(n)(i => i.toLong * 3 + 1)
      val tfs = Array.tabulate(n)(i => if (i / 128 == 3) 50 else 1) // block 3 hot
      val dls = Array.fill(n)(100)
      val blob = VarByte.encode(ids, tfs, dls, blockSize = 128, version = ver)
      // scan with a tf-bound predicate: only block 3 should decode
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      VarByte.scan(blob)(h => h.maxTf >= 10)((d, tf, _) => out += ((d, tf)))
      assert(out.length == 128 && out.forall(_._2 == 50))
      assert(out.head._1 == ids(3 * 128) && out.last._1 == ids(4 * 128 - 1))
      // header-only term bounds
      assert(VarByte.termBounds(blob) == ((50, 100)))
    }

    test(s"v$ver: decodeForDocs skips blocks without candidates and " +
      "filters exactly") {
      val n = 1000
      val ids = Array.tabulate(n)(i => i.toLong * 2)
      val tfs = Array.tabulate(n)(i => 1 + i % 7)
      val dls = Array.tabulate(n)(i => 10 + i % 13)
      val blob = VarByte.encode(ids, tfs, dls, blockSize = 64, version = ver)
      val want = Array(0L, 2L, 998L, 1000L, 1999L /* absent (odd) */, 1998L)
      java.util.Arrays.sort(want)
      val (d, t, l) = VarByte.decodeForDocs(blob, want)
      val expectedIdx = Seq(0, 1, 499, 500, 999)
      assert(d.toSeq == expectedIdx.map(ids(_)))
      assert(t.toSeq == expectedIdx.map(tfs(_)))
      assert(l.toSeq == expectedIdx.map(dls(_)))
      // no candidates → nothing decoded
      assert(VarByte.decodeForDocs(blob, Array.empty[Long])._1.isEmpty)
      // candidates all out of range
      assert(VarByte.decodeForDocs(blob, Array(5000L, 6000L))._1.isEmpty)
    }

    test(s"v$ver: unsorted input rejected") {
      intercept[IllegalArgumentException] {
        VarByte.encode(Array(5L, 3L), Array(1, 1), Array(1, 1), version = ver)
      }
      intercept[IllegalArgumentException] {
        VarByte.encode(Array(5L, 5L), Array(1, 1), Array(1, 1), version = ver)
      }
    }

    test(s"v$ver: positions round-trip; position-free scan skips position " +
      "bytes; hasPositions flag") {
      val ids = Array(0L, 7L, 9L, 500L)
      val tfs = Array(2, 1, 3, 1)
      val dls = Array(9, 9, 12, 4)
      val pos = Array(Array(0, 5), Array(3), Array(1, 2, 11), Array(0))
      val blob = VarByte.encode(ids, tfs, dls, blockSize = 2, positions = pos,
        version = ver)
      assert(VarByte.hasPositions(blob))
      val (d, t, l, p) = VarByte.decodeWithPositions(blob)
      assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq)
      assert(p.map(_.toSeq).toSeq == pos.map(_.toSeq).toSeq)
      // the position-free paths must read the same (docId, tf, dl) stream
      val (d2, t2, l2) = VarByte.decode(blob)
      assert(d2.toSeq == ids.toSeq && t2.toSeq == tfs.toSeq && l2.toSeq == dls.toSeq)
      assert(VarByte.count(blob) == 4)
      assert(VarByte.termBounds(blob) == ((3, 4)))
      val noPos = VarByte.encode(ids, tfs, dls, blockSize = 2, version = ver)
      assert(!VarByte.hasPositions(noPos))
      // positions length must equal tf
      intercept[IllegalArgumentException] {
        VarByte.encode(Array(1L), Array(2), Array(5),
          positions = Array(Array(0)), version = ver)
      }
    }

    test(s"v$ver: property: positional encode ∘ decodeWithPositions = id " +
      "(seeded)") {
      val rnd = new scala.util.Random(7)
      for (_ <- 1 to 60) {
        val n = rnd.nextInt(300)
        val gaps = Array.fill(n)(1L + rnd.nextLong(5000L))
        val ids = gaps.scanLeft(0L)(_ + _).tail
        val tfs = Array.fill(n)(1 + rnd.nextInt(8))
        val dls = Array.fill(n)(1 + rnd.nextInt(1000))
        val pos = tfs.map { tf =>
          val pGaps = Array.fill(tf)(1 + rnd.nextInt(10))
          pGaps.scanLeft(rnd.nextInt(5))(_ + _).tail
        }
        val bs = 1 + rnd.nextInt(200)
        val blob = VarByte.encode(ids, tfs, dls, bs, pos, ver)
        val (d, t, l, p) = VarByte.decodeWithPositions(blob)
        assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq)
        assert(p.map(_.toSeq).toSeq == pos.map(_.toSeq).toSeq, s"n=$n bs=$bs")
        // scan/decodeForDocs must skip position bytes correctly
        val subset = ids.filter(_ => rnd.nextBoolean())
        val (d2, t2, _) = VarByte.decodeForDocs(blob, subset)
        val idx = ids.zipWithIndex.filter(q => subset.contains(q._1)).map(_._2)
        assert(d2.toSeq == idx.map(ids(_)).toSeq && t2.toSeq == idx.map(tfs(_)).toSeq)
      }
    }

    test(s"v$ver: property: encode ∘ decode = id for random sorted posting " +
      "lists (seeded)") {
      val rnd = new scala.util.Random(42)
      val blockSizes = Array(1, 7, 128, 1024)
      for (_ <- 1 to 200) {
        val n = rnd.nextInt(500)
        val gaps = Array.fill(n)(1L + rnd.nextLong(100000L))
        val ids = gaps.scanLeft(0L)(_ + _).tail
        val tfs = Array.fill(n)(1 + rnd.nextInt(1 << 20))
        val dls = Array.fill(n)(1 + rnd.nextInt(1 << 16))
        val bs = blockSizes(rnd.nextInt(blockSizes.length))
        val blob = VarByte.encode(ids, tfs, dls, bs, null, ver)
        val (d, t, l) = VarByte.decode(blob)
        assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq,
          s"n=$n bs=$bs")
        // decodeForDocs on a random subset = exact subset, in order
        val subset = ids.filter(_ => rnd.nextBoolean())
        val (d2, t2, l2) = VarByte.decodeForDocs(blob, subset)
        val idx = ids.zipWithIndex.filter(p => subset.contains(p._1)).map(_._2)
        assert(d2.toSeq == idx.map(ids(_)).toSeq)
        assert(t2.toSeq == idx.map(tfs(_)).toSeq)
        assert(l2.toSeq == idx.map(dls(_)).toSeq)
      }
    }

    test(s"v$ver: sumTf ≡ Σ decode tfs, positional and not (seeded)") {
      val rnd = new scala.util.Random(19)
      val blockSizes = Array(1, 7, 63, 64, 128, 1024)
      for (withPos <- Seq(false, true); _ <- 1 to 60) {
        val n = rnd.nextInt(400)
        val gaps = Array.fill(n)(1L + rnd.nextLong(50000L))
        val ids = gaps.scanLeft(0L)(_ + _).tail
        val tfs = Array.fill(n)(1 + rnd.nextInt(if (withPos) 12 else 1 << 18))
        val dls = Array.fill(n)(1 + rnd.nextInt(1 << 16))
        val pos =
          if (!withPos) null
          else tfs.map { tf =>
            Array.fill(tf)(1 + rnd.nextInt(9)).scanLeft(rnd.nextInt(4))(_ + _).tail
          }
        val bs = blockSizes(rnd.nextInt(blockSizes.length))
        val blob = VarByte.encode(ids, tfs, dls, bs, pos, ver)
        assert(VarByte.sumTf(blob) == tfs.map(_.toLong).sum,
          s"n=$n bs=$bs withPos=$withPos")
      }
      assert(VarByte.sumTf(VarByte.encode(Array.empty[Long],
        Array.empty[Int], Array.empty[Int], version = ver)) == 0L)
    }

    test(s"v$ver: read-path parity: decode, decodeWithPositions, Cursor, " +
      "scanPos/scan with block skips, sumTf, count, termBounds and " +
      "decodeForDocs agree (seeded)") {
      val rnd = new scala.util.Random(2024 + ver)
      val esc = VarByte.V3EscapeMin
      for (withPos <- Seq(false, true);
           bs <- Seq(1, 7, 63, 64, 65, 128, 200);
           trial <- 1 to 10) {
        // lengths on both sides of V3EscapeMin, and full blocks plus a
        // short tail, so v3 blobs mix packed and escaped blocks
        val n = rnd.nextInt(6) match {
          case 0 => rnd.nextInt(esc)
          case 1 => esc - 1 + rnd.nextInt(3)
          case 2 => bs * (1 + rnd.nextInt(3)) + rnd.nextInt(esc)
          case 3 => bs * (1 + rnd.nextInt(3))
          case _ => rnd.nextInt(600)
        }
        val gaps = Array.fill(n)(
          if (rnd.nextInt(8) == 0) 1L + rnd.nextLong(1L << 36)
          else 1L + rnd.nextLong(40L))
        val ids = gaps.scanLeft(-1L)(_ + _).tail // docId 0 possible
        val tfs = Array.fill(n)(1 + rnd.nextInt(if (withPos) 9 else 1 << 18))
        val dls = Array.fill(n)(rnd.nextInt(1 << 16))
        val pos =
          if (!withPos) null
          else tfs.map { tf =>
            Array.fill(tf)(1 + rnd.nextInt(30)).scanLeft(rnd.nextInt(3) - 1)(_ + _).tail
          }
        val blob = VarByte.encode(ids, tfs, dls, bs, pos, ver)
        val ctx = s"n=$n bs=$bs withPos=$withPos trial=$trial"
        def posSeq(p: Array[Int]): Option[Seq[Int]] = Option(p).map(_.toSeq)
        val wantPos: Seq[Option[Seq[Int]]] =
          if (withPos) pos.toSeq.map(posSeq) else Seq.fill(n)(None)
        val want = (0 until n).map(i => (ids(i), tfs(i), dls(i)))

        val (d, t, l) = VarByte.decode(blob)
        assert(d.indices.map(i => (d(i), t(i), l(i))) == want, ctx)
        val (d2, t2, l2, p2) = VarByte.decodeWithPositions(blob)
        assert(d2.indices.map(i => (d2(i), t2(i), l2(i))) == want, ctx)
        assert(p2.toSeq.map(posSeq) == wantPos, ctx)
        for (wp <- Seq(false, true)) {
          val c = new VarByte.Cursor(blob, wantPositions = wp)
          assert(c.size == n, ctx)
          val got = Seq.newBuilder[((Long, Int, Int), Option[Seq[Int]])]
          while (c.hasNext) {
            c.advance()
            got += (((c.docId, c.tf, c.dl), posSeq(c.positions)))
          }
          assert(got.result() == want.zip(
            if (wp) wantPos else Seq.fill(n)(None)), s"$ctx cursor wp=$wp")
        }

        // blocks are consecutive runs of bs postings; skip a random
        // subset of them by header and expect exactly the rest
        val nBlocks = (n + bs - 1) / bs
        val skip = Array.fill(nBlocks)(rnd.nextInt(3) == 0)
        def blockOf(i: Int): Int = i / bs
        val keep = (0 until n).filterNot(i => skip(blockOf(i)))
        for (wp <- Seq(false, true)) {
          var b = 0
          val got = Seq.newBuilder[((Long, Int, Int), Option[Seq[Int]])]
          VarByte.scanPos(blob, wantPositions = wp) { h =>
            val lo = b * bs
            val hi = math.min(lo + bs, n)
            assert(h.n == hi - lo, s"$ctx block $b n")
            assert(h.prevBlockLast == (if (b == 0) 0L else ids(lo - 1)) &&
              h.lastDocId == ids(hi - 1), s"$ctx block $b id range")
            assert(h.maxTf == tfs.slice(lo, hi).max &&
              h.minDl == dls.slice(lo, hi).min, s"$ctx block $b bounds")
            val decodeIt = !skip(b)
            b += 1
            decodeIt
          } { (id, tf, dl, ps) =>
            got += (((id, tf, dl), posSeq(ps)))
          }
          assert(b == nBlocks, ctx)
          assert(got.result() == keep.map(i => (want(i),
            if (wp) wantPos(i) else None)), s"$ctx scanPos wp=$wp")
        }
        val scanned = Seq.newBuilder[(Long, Int, Int)]
        var sb = 0
        VarByte.scan(blob) { _ => val k = !skip(sb); sb += 1; k } {
          (id, tf, dl) => scanned += ((id, tf, dl))
        }
        assert(scanned.result() == keep.map(want), s"$ctx scan")

        assert(VarByte.sumTf(blob) == tfs.map(_.toLong).sum, ctx)
        assert(VarByte.count(blob) == n, ctx)
        assert(VarByte.termBounds(blob) ==
          (if (n == 0) (0, 0) else (tfs.max, dls.min)), ctx)

        // a random subset plus absent ids (between and beyond postings)
        val absent = Array.fill(rnd.nextInt(5))(
          rnd.nextLong(if (n == 0) 100L else ids.last + 100L))
        val cand = (ids.filter(_ => rnd.nextBoolean()) ++ absent).distinct.sorted
        val idSet = ids.toSet
        val (fd, ft, fl) = VarByte.decodeForDocs(blob, cand)
        val hit = cand.filter(idSet).toSet
        assert(fd.indices.map(i => (fd(i), ft(i), fl(i))) ==
          want.filter(e => hit(e._1)), s"$ctx decodeForDocs")
      }
    }
  }

  test("v3 short-block escape: blobs below V3EscapeMin carry varint " +
    "bodies and no pad; boundary and mixed blobs round-trip") {
    def enc(n: Int, ver: Int, blockSize: Int = 128,
            withPos: Boolean = false): Array[Byte] = {
      val ids = Array.tabulate(n)(i => i.toLong * 7 + 2)
      val tfs = Array.tabulate(n)(i => 1 + i % 3)
      val dls = Array.tabulate(n)(i => 50 + i % 100)
      val pos =
        if (withPos) Array.tabulate(n)(i =>
          Array.tabulate(1 + i % 3)(j => j * 4 + i % 5))
        else null
      VarByte.encode(ids, tfs, dls, blockSize = blockSize,
        positions = pos, version = ver)
    }
    // a tail-term v3 blob is v2 + 1 escape-marker byte — NOT +3 width
    // bytes +16 pad (36 vs 20 B at 3 postings before the escape)
    for (n <- Seq(1, 3, VarByte.V3EscapeMin - 1)) {
      val b2 = enc(n, VarByte.FormatV2)
      val b3 = enc(n, VarByte.FormatV3)
      assert(b3.length == b2.length + 1,
        s"n=$n: v3 ${b3.length} B vs v2 ${b2.length} B")
      assert(VarByte.decode(b3)._1.toSeq == VarByte.decode(b2)._1.toSeq)
    }
    // at the boundary the block packs and the pad appears
    val bMin = enc(VarByte.V3EscapeMin, VarByte.FormatV3,
      blockSize = VarByte.V3EscapeMin)
    assert(bMin.length >= VarByte.V3Pad)
    // a FULL block under a small configured blockSize packs too —
    // blockSize < V3EscapeMin must not silently disable bitpacking
    // (threshold is min(V3EscapeMin, blockSize))
    val bSmallFull = enc(32, VarByte.FormatV3, blockSize = 32)
    assert((32 until bSmallFull.length - VarByte.V3Pad).nonEmpty &&
      (bSmallFull.length - VarByte.V3Pad until bSmallFull.length)
        .forall(i => bSmallFull(i) == 0),
      "full 32-posting block at blockSize=32 must pack (pad present)")
    assert(VarByte.decode(bSmallFull)._1.toSeq ==
      VarByte.decode(enc(32, VarByte.FormatV2, blockSize = 32))._1.toSeq)
    // and a short TAIL under the small blockSize still escapes
    val bSmallTail = enc(3, VarByte.FormatV3, blockSize = 32)
    val bSmallTailV2 = enc(3, VarByte.FormatV2, blockSize = 32)
    assert(bSmallTail.length == bSmallTailV2.length + 1)
    // mixed blob: one full packed block + a short escaped tail block,
    // with positions — every read surface agrees with v2
    for (withPos <- Seq(false, true)) {
      val n = 128 + 5
      val b2 = enc(n, VarByte.FormatV2, withPos = withPos)
      val b3 = enc(n, VarByte.FormatV3, withPos = withPos)
      assert(VarByte.decode(b3)._1.toSeq == VarByte.decode(b2)._1.toSeq)
      val (d2, t2, l2, p2) = VarByte.decodeWithPositions(b2)
      val (d3, t3, l3, p3) = VarByte.decodeWithPositions(b3)
      assert(d3.toSeq == d2.toSeq && t3.toSeq == t2.toSeq &&
        l3.toSeq == l2.toSeq)
      assert(p3.map(p => Option(p).map(_.toSeq)).toSeq ==
        p2.map(p => Option(p).map(_.toSeq)).toSeq)
      // cursor replay across the packed→escaped block transition
      val c = new VarByte.Cursor(b3, wantPositions = withPos)
      var i = 0
      while (c.hasNext) {
        c.advance()
        assert(c.docId == d2(i) && c.tf == t2(i) && c.dl == l2(i))
        if (withPos) assert(c.positions.toSeq == p2(i).toSeq)
        i += 1
      }
      assert(i == n)
      // candidate-skipping decode hits entries in BOTH body kinds
      val want = Array(d2(3), d2(130))
      val (sd, _, _) = VarByte.decodeForDocs(b3, want)
      assert(sd.toSeq == want.toSeq)
    }
  }

  test("magic/version guard: foreign, pre-v2 or unknown-version bytes " +
    "fail loudly; unsupported encode version rejected") {
    intercept[IllegalArgumentException] {
      VarByte.decode(Array[Byte](5, 1, 0, 0)) // old layout: count varint first
    }
    intercept[IllegalArgumentException] {
      VarByte.count(Array[Byte](VarByte.Magic, 9)) // wrong version
    }
    intercept[IllegalArgumentException] {
      VarByte.count(Array[Byte](VarByte.Magic, 1)) // pre-v2
    }
    intercept[IllegalArgumentException] {
      VarByte.encode(Array(1L), Array(1), Array(1), version = 4)
    }
  }

  test("v2 and v3 encodings of the same data decode identically " +
    "(cross-version golden identity)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 40) {
      val n = rnd.nextInt(400)
      // mix tiny and HUGE gaps so v3 hits wide bit widths (sparse terms
      // over 10^12-doc id spaces)
      val gaps = Array.fill(n)(
        if (rnd.nextInt(10) == 0) 1L + rnd.nextLong(1L << 40)
        else 1L + rnd.nextLong(16L))
      val ids = gaps.scanLeft(0L)(_ + _).tail
      val tfs = Array.fill(n)(1 + rnd.nextInt(1 << rnd.nextInt(20)))
      val dls = Array.fill(n)(1 + rnd.nextInt(1 << rnd.nextInt(16)))
      val bs = 1 + rnd.nextInt(256)
      val b2 = VarByte.encode(ids, tfs, dls, bs, null, VarByte.FormatV2)
      val b3 = VarByte.encode(ids, tfs, dls, bs, null, VarByte.FormatV3)
      val (d2, t2, l2) = VarByte.decode(b2)
      val (d3, t3, l3) = VarByte.decode(b3)
      assert(d2.toSeq == d3.toSeq && t2.toSeq == t3.toSeq &&
        l2.toSeq == l3.toSeq, s"trial=$trial n=$n bs=$bs")
      assert(d3.toSeq == ids.toSeq)
      // block headers (the WAND skip surface) agree across formats
      def headers(b: Array[Byte]) = {
        val hs = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Long, Long)]
        VarByte.scan(b) { h =>
          hs += ((h.n, h.maxTf, h.minDl, h.prevBlockLast, h.lastDocId)); false
        }((_, _, _) => ())
        hs.toSeq
      }
      assert(headers(b2) == headers(b3), s"trial=$trial headers diverge")
      // bounds + count agree
      assert(VarByte.termBounds(b2) == VarByte.termBounds(b3))
      assert(VarByte.count(b2) == VarByte.count(b3))
    }
  }

  test("v3 handles 64-bit-wide gaps (bit widths > 57 straddle word " +
    "boundaries) and docId 0 first entries") {
    val ids = Array(0L, 1L, (1L << 62) + 5, (1L << 62) + 6, Long.MaxValue - 1)
    val tfs = Array(1, Int.MaxValue, 2, 3, 4)
    val dls = Array(0, 1, Int.MaxValue, 7, 9)
    for (bs <- Seq(1, 2, 3, 128)) {
      val blob = VarByte.encode(ids, tfs, dls, bs, null, VarByte.FormatV3)
      val (d, t, l) = VarByte.decode(blob)
      assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq && l.toSeq == dls.toSeq,
        s"bs=$bs")
    }
    // single-entry docId-0 list (the all-zero-gap degenerate case)
    val one = VarByte.encode(Array(0L), Array(1), Array(5), 128, null,
      VarByte.FormatV3)
    val (d1, t1, l1) = VarByte.decode(one)
    assert(d1.toSeq == Seq(0L) && t1.toSeq == Seq(1) && l1.toSeq == Seq(5))
  }

  test("BitPack round-trips all widths 0..64") {
    val rnd = new scala.util.Random(3)
    for (w <- 0 to 64) {
      val n = 1 + rnd.nextInt(200)
      val mask = if (w == 64) -1L else (1L << w) - 1
      val vals = Array.fill(n)(rnd.nextLong() & mask)
      val packed0 = BitPack.pack(vals, 0, n, w)
      val packed = java.util.Arrays.copyOf(packed0, packed0.length + 16)
      val outL = new Array[Long](n)
      // prefix-sum variant: feed gaps, expect running sums
      BitPack.unpackGapsPrefix(packed, 0, n, w, 0L, outL, 0)
      val want = vals.scanLeft(0L)(_ + _).tail
      assert(outL.toSeq == want.toSeq, s"w=$w gaps")
      if (w <= 32) {
        val ivals = vals.map(_.toInt)
        val ip0 = BitPack.packInts(ivals, 0, n, w)
        val ip = java.util.Arrays.copyOf(ip0, ip0.length + 16)
        val outI = new Array[Int](n)
        BitPack.unpackInts(ip, 0, n, w, outI, 0)
        assert(outI.toSeq == ivals.toSeq, s"w=$w ints")
      }
    }
  }
}
