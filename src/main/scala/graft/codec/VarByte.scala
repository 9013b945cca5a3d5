package graft.codec

/** Delta-compressed posting lists with block headers (SURVEY.md §2.11,
  * north-rule "delta-encoded + variable-byte-compressed posting lists"),
  * in two on-disk body formats behind one header layout:
  *
  *  - '''v2''' — LEB128 varints per entry (`[docGap][tf][dl]`): compact,
  *    but the per-byte continuation branch caps decode at ~0.2 GB/s.
  *  - '''v3''' — FoR/bitpacked block bodies: per block, fixed bit widths
  *    `[wGap][wTf][wDl]` (one byte each) followed by three LSB-first
  *    packed sections (gaps, tfs, dls). Decode is one unaligned 64-bit
  *    load + shift + mask per value ([[BitPack]]) — the packed-ints
  *    postings design of the Lucene line the reference builds on
  *    (`/root/reference/LuceneSearchEngine/src/Searcher.java:106`
  *    version pin; PAPERS.md PForDelta). Position lists stay varint in
  *    v3 (phrase decode is not the hot path). Every v3 blob ends with
  *    16 zero pad bytes so the word-wide unpack loops never read out of
  *    bounds.
  *
  * A posting list is a docId-ascending sequence of (docId, tf, dl[,
  * positions]) where `dl` is the document's BM25 field length and
  * `positions` (optional, format flag bit 0) are the term's 0-based token
  * positions in the analyzed stream — the substrate for phrase queries
  * (the reference indexes DOCS_AND_FREQS_AND_POSITIONS,
  * `/root/reference/LuceneSearchEngine/src/Indexer.java:713-714`).
  * Colocating dl with the posting (the analog of Lucene's per-document
  * norms, which live next to the inverted lists in a segment) makes BM25
  * scoring partition-local: the query path never joins a 10^12-row
  * docstore just to fetch lengths. Cost: ~1-2 varint bytes per posting;
  * decision recorded in SURVEY.md §7.
  *
  * Shared layout (both versions):
  * {{{
  *   [magic 0xA7][version varint][flags varint]   flags bit0 = positions
  *   [count varint][blockSize varint]
  *   per block:
  *     [n varint]            entries in this block (<= blockSize)
  *     [bodyLen varint]      body byte length — enables block SKIP
  *     [maxTf varint]        max tf in block   — block-max WAND bound
  *     [minDl varint]        min dl in block   — block-max WAND bound
  *                           (BM25 contribution is monotone increasing in
  *                           tf and decreasing in dl, so f(maxTf, minDl)
  *                           upper-bounds every entry in the block)
  *     [lastDelta varint]    blockLastDocId - prevBlockLastDocId — lets a
  *                           skipper re-base without decoding the body
  *     body: v2 per entry [docGap][tf][dl] varints
  *           v3 [wGap][wTf][wDl] bytes + 3 packed sections
  *           (+ positions: [pos0][posGap]*(tf-1) varints, ascending)
  * }}}
  * The block headers make docId skipping (conjunctive probes) and
  * block-max WAND pruning possible without decompressing skipped blocks.
  * The magic+version header makes a blob from any other layout fail
  * loudly instead of silently misparsing into garbage postings; the
  * segment config carries the same version for an index-level check
  * (reader accepts the [[SupportedVersions]] set; a segment's blobs and
  * its config version always agree — the compaction gate enforces it).
  */
object VarByte {

  val DefaultBlockSize = 128
  val Magic: Byte = 0xA7.toByte
  val FormatV2 = 2
  val FormatV3 = 3
  /** Version new indexes write unless `IndexConfig.formatVersion` opts
    * into another. v3 became the default once it dominated v2 on every
    * measured axis (BENCH.md round 5): big-list store-free scan 1.66×,
    * full decode 4-5× on packed blocks, and — after the short-block
    * escape — tail-blob encode/scan/size at v2 parity and full-build
    * throughput at-or-above v2. Readers accept both; v2 stays
    * writable via `IndexConfig.formatVersion = FormatV2`. */
  val DefaultFormatVersion: Int = FormatV3
  /** Versions every read path accepts. */
  val SupportedVersions: Set[Int] = Set(FormatV2, FormatV3)
  val FlagPositions = 1L

  /** Trailing zero bytes on every v3 blob that contains at least one
    * PACKED block — licenses [[BitPack]]'s unconditional word-wide reads
    * (it may read up to 15 bytes past the last packed section). A blob
    * whose every block escaped to varint ([[V3EscapeMin]]) carries no
    * pad: varint reads never overrun. */
  val V3Pad = 16

  /** v3 blocks with fewer postings than this write VARINT bodies behind
    * an escape marker instead of packed sections. Real term frequency
    * distributions are Zipf: MOST blobs are tail terms with a handful of
    * postings, where the packed layout LOSES — 3 width bytes + the
    * 16-byte blob pad + per-section group alignment made a 3-posting v3
    * blob 36 B vs 20 B at v2, ~40% slower to encode and ~2× slower to
    * scan (measured, BENCH.md round 5). Full blocks (the big-list shape
    * where unpack wins 4-5×) always pack; only short final/tail blocks
    * escape. 64 = half the default block size; encoders apply
    * min(V3EscapeMin, blockSize) so FULL blocks always pack under a
    * small configured blockSize. */
  val V3EscapeMin = 64

  /** Marks a v3 block body as varint-escaped (in place of the first
    * width byte; real widths are ≤ 64, so 0xFF cannot collide). */
  val V3EscapeMarker = 0xFF

  /** Growable PRIMITIVE byte buffer for the encode hot path.
    * `ArrayBuffer[Byte]` is generic (backed by `Array[AnyRef]`) and boxes
    * every element — one allocation per byte written, which made encode
    * allocation-bound. Same `+=`/`++=` surface, primitive backing. */
  final class ByteBuf(initial: Int = 64) {
    private var arr = new Array[Byte](math.max(initial, 16))
    private var len = 0
    def length: Int = len
    @inline private def ensure(extra: Int): Unit =
      if (len + extra > arr.length) {
        var cap = arr.length << 1
        while (cap < len + extra) cap <<= 1
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    @inline def +=(b: Byte): Unit = { ensure(1); arr(len) = b; len += 1 }
    @inline def ++=(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, arr, len, bs.length)
      len += bs.length
    }
    @inline def ++=(o: ByteBuf): Unit = {
      ensure(o.len)
      System.arraycopy(o.arr, 0, arr, len, o.len)
      len += o.len
    }
    /** Reset length; backing bytes are overwritten on reuse, never read. */
    def clear(): Unit = len = 0
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  @inline private def writeVLong(buf: ByteBuf, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint must be non-negative, got $v")
    while ((v & ~0x7FL) != 0L) {
      buf += ((v & 0x7F) | 0x80).toByte
      v >>>= 7
    }
    buf += v.toByte
  }

  /** The blob's own format version (from its header). */
  def formatVersionOf(blob: Array[Byte]): Int = new BlockReader(blob).version

  /** One decoded block header; `firstPossibleDocId` = prevBlockLast + 1
    * and `lastDocId` bound the block's docId range without body decode. */
  final case class BlockHeader(n: Int, bodyLen: Int, maxTf: Int, minDl: Int,
                               prevBlockLast: Long, lastDocId: Long,
                               bodyPos: Int)

  /** Positions of one posting as varint deltas ([pos0][gap]*) — shared
    * by both body formats. */
  @inline private def writePositions(body: ByteBuf,
                                     ps: Array[Int], tf: Int): Unit = {
    require(ps.length == tf, s"positions length ${ps.length} != tf $tf")
    var pPrev = 0
    var j = 0
    while (j < ps.length) {
      // pos0 >= 0, then strictly ascending (same stance as docIds:
      // a duplicate position would silently round-trip otherwise)
      require(if (j == 0) ps(j) >= 0 else ps(j) > pPrev,
        s"positions must be strictly ascending: ${ps(j)} after $pPrev")
      writeVLong(body, (ps(j) - pPrev).toLong)
      pPrev = ps(j)
      j += 1
    }
  }

  /** INCREMENTAL posting-list encoder: append postings in ascending
    * docId order, blocks are emitted as they fill, [[finish]] prepends
    * the header and returns the blob. THE single implementation of
    * block-body writing for both formats — [[encode]] is a thin wrapper
    * — and the substrate of the streaming k-way merge
    * ([[graft.index.IndexBuilder]] compaction/fragment merges), whose
    * working set per merge group is O(blockSize), never O(term bytes).
    * Validation (strictly ascending docIds, ascending positions with
    * `|ps| == tf`) lives here so every encode path shares it. */
  final class BlockEncoder(blockSize: Int = DefaultBlockSize,
                           version: Int = DefaultFormatVersion,
                           withPositions: Boolean = false) {
    require(SupportedVersions.contains(version),
      s"cannot encode format v$version (supported: $SupportedVersions)")
    require(blockSize > 0, s"blockSize must be positive: $blockSize")
    private val v3 = version == FormatV3
    private val ids = new Array[Long](blockSize)
    private val btfs = new Array[Int](blockSize)
    private val bdls = new Array[Int](blockSize)
    private val bposs: Array[Array[Int]] =
      if (withPositions) new Array(blockSize) else null
    // allocated on the first PACKED flush only: tail-term blobs (the
    // Zipf majority) never pack, and a per-encoder 1KB alloc was a
    // measured ~25% of their whole encode cost
    private var gaps: Array[Long] = null
    private var inBlock = 0
    private var n = 0
    private var prev = 0L
    private var prevBlockLast = 0L
    private var first = true
    // accumulated BLOCK bytes (header prepended at finish)
    private val blocks = new ByteBuf(blockSize * 4)
    private val body = new ByteBuf(blockSize * 4)
    // chunk-level bounds — free for callers that need (max_tf, min_dl)
    // columns without a termBounds re-scan of the finished blob
    private var chunkMaxTf = 0
    private var chunkMinDl = Int.MaxValue
    // did any block write packed sections? gates the blob-end pad —
    // an all-escaped (tail-term) blob needs no word-overread slack
    private var anyPacked = false

    def count: Int = n
    def maxTf: Int = chunkMaxTf
    def minDl: Int = if (chunkMinDl == Int.MaxValue) 0 else chunkMinDl

    def append(d: Long, tf: Int, dl: Int, ps: Array[Int] = null): Unit = {
      val gap = d - prev
      require(gap > 0 || (first && gap == 0 && d == 0),
        s"docIds must be strictly ascending: $d after $prev")
      require((ps != null) == withPositions,
        "positions presence must match the encoder's withPositions")
      val k = inBlock
      ids(k) = d; btfs(k) = tf; bdls(k) = dl
      if (withPositions) bposs(k) = ps
      if (tf > chunkMaxTf) chunkMaxTf = tf
      if (dl < chunkMinDl) chunkMinDl = dl
      prev = d
      first = false
      inBlock += 1
      n += 1
      if (inBlock == blockSize) flushBlock()
    }

    private def flushBlock(): Unit = {
      if (inBlock == 0) return
      val bn = inBlock
      body.clear()
      var maxTf = 0
      var minDl = Int.MaxValue
      var maxDl = 0
      var k = 0
      while (k < bn) {
        if (btfs(k) > maxTf) maxTf = btfs(k)
        if (bdls(k) < minDl) minDl = bdls(k)
        if (v3) {
          if (bdls(k) > maxDl) maxDl = bdls(k)
        } else {
          writeVLong(body, gaps0(k))
          writeVLong(body, btfs(k).toLong)
          writeVLong(body, bdls(k).toLong)
          if (withPositions) writePositions(body, bposs(k), btfs(k))
        }
        k += 1
      }
      if (v3) {
        if (bn < math.min(V3EscapeMin, blockSize)) {
          // tail/short block: varint triples behind the escape marker —
          // the packed layout loses below this count (see V3EscapeMin).
          // min(_, blockSize): a FULL block always packs even under a
          // small configured blockSize — otherwise blockSize < 64 would
          // silently disable bitpacking for the whole index
          body += V3EscapeMarker.toByte
          var k2 = 0
          while (k2 < bn) {
            writeVLong(body, gaps0(k2))
            writeVLong(body, btfs(k2).toLong)
            writeVLong(body, bdls(k2).toLong)
            k2 += 1
          }
        } else {
          if (gaps == null) gaps = new Array[Long](blockSize)
          var maxGap = 0L
          var k2 = 0
          while (k2 < bn) {
            val g = gaps0(k2)
            gaps(k2) = g
            if (g > maxGap) maxGap = g
            k2 += 1
          }
          val wGap = BitPack.width(maxGap)
          val wTf = BitPack.width(maxTf.toLong)
          val wDl = BitPack.width(maxDl.toLong)
          body += wGap.toByte
          body += wTf.toByte
          body += wDl.toByte
          body ++= BitPack.pack(gaps, 0, bn, wGap)
          body ++= BitPack.packInts(btfs, 0, bn, wTf)
          body ++= BitPack.packInts(bdls, 0, bn, wDl)
          anyPacked = true
        }
        if (withPositions) {
          var k3 = 0
          while (k3 < bn) {
            writePositions(body, bposs(k3), btfs(k3))
            k3 += 1
          }
        }
      }
      writeVLong(blocks, bn.toLong)
      writeVLong(blocks, body.length.toLong)
      writeVLong(blocks, maxTf.toLong)
      writeVLong(blocks, (if (minDl == Int.MaxValue) 0 else minDl).toLong)
      writeVLong(blocks, ids(bn - 1) - prevBlockLast)
      blocks ++= body
      prevBlockLast = ids(bn - 1)
      if (withPositions) java.util.Arrays.fill(
        bposs.asInstanceOf[Array[AnyRef]], null) // release refs
      inBlock = 0
    }

    /** Gap straight from ids — shared by v2 bodies, v3 escape bodies
      * and the v3 pack-input fill. */
    @inline private def gaps0(k: Int): Long =
      if (k == 0) ids(0) - prevBlockLast
      else ids(k) - ids(k - 1)

    /** Seal the blob. The encoder must not be used afterwards. */
    def finish(): Array[Byte] = {
      flushBlock()
      val out = new ByteBuf(blocks.length + 16 + V3Pad)
      out += Magic
      writeVLong(out, version.toLong)
      writeVLong(out, if (withPositions) FlagPositions else 0L)
      writeVLong(out, n.toLong)
      writeVLong(out, blockSize.toLong)
      out ++= blocks
      // pad ONLY when a packed section exists: BitPack's unpack loops
      // read whole words unconditionally, varint bodies never overread
      if (v3 && anyPacked) out ++= new Array[Byte](V3Pad)
      out.toArray
    }
  }

  /** Encode a docId-ascending (docId, tf, dl) list, optionally with
    * per-posting ascending position lists (`positions(i).length` must
    * equal `tfs(i)`). Throws on unsorted or duplicate docIds — the build
    * pipeline guarantees sorted input via sortWithinPartitions
    * (SURVEY.md §3.1). `version` picks the block body format (v2 varint
    * or v3 bitpacked); both decode through the same read surface.
    * Implemented over [[BlockEncoder]] — one block-writing code path. */
  def encode(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
             blockSize: Int = DefaultBlockSize,
             positions: Array[Array[Int]] = null,
             version: Int = DefaultFormatVersion): Array[Byte] =
    encodeN(docIds, tfs, dls, docIds.length, blockSize, positions, version)

  /** [[encode]] over the first `n` entries of possibly-larger buffers —
    * the fragment flush encodes straight out of its growth arrays
    * without the exact-size copy. Byte-identical to
    * `encode(copyOf(docIds, n), ...)` by construction (same appends in
    * the same order). */
  def encodeN(docIds: Array[Long], tfs: Array[Int], dls: Array[Int], n: Int,
              blockSize: Int = DefaultBlockSize,
              positions: Array[Array[Int]] = null,
              version: Int = DefaultFormatVersion): Array[Byte] = {
    require(n <= docIds.length && n <= tfs.length && n <= dls.length)
    require(positions == null || n <= positions.length)
    val be = new BlockEncoder(blockSize, version, positions != null)
    var i = 0
    while (i < n) {
      be.append(docIds(i), tfs(i), dls(i),
        if (positions == null) null else positions(i))
      i += 1
    }
    be.finish()
  }

  /** Does the blob carry per-posting positions? */
  def hasPositions(blob: Array[Byte]): Boolean = new BlockReader(blob).withPos

  /** Primitive-specialized callback traits: scala.FunctionN erases its
    * arguments to Object, which BOXES three primitives per posting —
    * measured ~2× of full-decode wall. SAM conversion keeps every call
    * site a plain lambda. */
  trait EntrySink { def apply(docId: Long, tf: Int, dl: Int): Unit }
  trait PosSink {
    def apply(docId: Long, tf: Int, dl: Int, positions: Array[Int]): Unit
  }

  /** THE posting-blob reader: every read of blob bytes goes through it.
    * The constructor validates the blob header (magic + a supported
    * version), so a foreign or stale blob fails loudly instead of
    * decoding garbage. [[nextBlock]] is the one block-header parse; the
    * body is then either decoded — [[readBody]] into the caller's arrays
    * at an offset, [[readBlock]] into per-blob scratch — or skipped by
    * its bodyLen ([[skipBody]]). Every block's first docId gap is based
    * on the header chain (`prevBlockLast`), decoded or skipped alike.
    *
    * A decoded body must end exactly at `bodyPos + bodyLen`: the skips
    * (WAND, [[decodeForDocs]], header-only walks) trust bodyLen, so a
    * corrupt one fails every full decode — and [[graft.index.IndexCheck]]
    * — instead of sending skips into the middle of a body. */
  private final class BlockReader(blob: Array[Byte]) {
    require(blob.nonEmpty && blob(0) == Magic,
      "posting blob lacks the graft magic byte — built by an " +
        "incompatible (pre-v2) version or not a posting blob at all")
    private[this] var pos = 1
    val version: Int = readVInt()
    require(SupportedVersions.contains(version),
      s"posting blob format v$version, this build reads " +
        s"v${SupportedVersions.toSeq.sorted.mkString("/v")}")
    val withPos: Boolean = (readVLong() & FlagPositions) != 0L
    val total: Int = readVInt()
    val blockSize: Int = readVInt()
    private[this] var consumed = 0

    // the current block's header
    var n = 0
    var bodyLen = 0
    var maxTf = 0
    var minDl = 0
    var prevBlockLast = 0L
    var lastDocId = 0L
    var bodyPos = 0

    // block-at-a-time scratch (Cursor, scanPos, sumTf, decodeForDocs):
    // one block of min(blockSize, total) entries per blob, allocated at
    // the first decoded block so header-only walks allocate none
    var blockIds: Array[Long] = null
    var blockTfs: Array[Int] = null
    var blockDls: Array[Int] = null
    var blockPos: Array[Array[Int]] = null

    @inline private def readVLong(): Long = {
      var b = blob(pos); pos += 1
      var v = (b & 0x7F).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        b = blob(pos); pos += 1
        v |= (b & 0x7F).toLong << shift
        shift += 7
      }
      v
    }
    @inline private def readVInt(): Int = readVLong().toInt

    def hasBlock: Boolean = consumed < total

    def nextBlock(): Unit = {
      n = readVInt()
      bodyLen = readVInt()
      maxTf = readVInt()
      minDl = readVInt()
      prevBlockLast = lastDocId
      lastDocId = prevBlockLast + readVLong()
      bodyPos = pos
      consumed += n
    }

    def header: BlockHeader =
      BlockHeader(n, bodyLen, maxTf, minDl, prevBlockLast, lastDocId, bodyPos)

    def skipBody(): Unit = pos = bodyPos + bodyLen

    /** Decode the current body into `ids`/`tfs`/`dls` at `off`; each
      * posting's positions go to `poss(off + k)`, or are skipped when
      * `poss` is null or the blob has none. */
    def readBody(ids: Array[Long], tfs: Array[Int], dls: Array[Int],
                 off: Int, poss: Array[Array[Int]]): Unit = {
      if (version == FormatV2) readTriples(ids, tfs, dls, off, poss, withPos)
      else {
        readV3Sections(ids, tfs, dls, off)
        if (withPos) {
          var k = off
          while (k < off + n) { readPositions(tfs(k), poss, k); k += 1 }
        }
      }
      require(pos == bodyPos + bodyLen,
        s"block@$bodyPos: body ends at byte $pos but its header's " +
          s"bodyLen=$bodyLen puts the end at ${bodyPos + bodyLen}")
    }

    /** Decode the current body into the per-blob scratch. */
    def readBlock(wantPositions: Boolean): Unit = {
      if (blockIds == null) {
        val cap = math.min(blockSize, total)
        blockIds = new Array(cap)
        blockTfs = new Array(cap)
        blockDls = new Array(cap)
        if (wantPositions && withPos) blockPos = new Array(cap)
      }
      readBody(blockIds, blockTfs, blockDls, 0, blockPos)
    }

    /** Varint `[docGap][tf][dl]` triples: the v2 body (positions
      * interleaved per entry when `interleaved`) and the v3 escaped
      * body (its positions follow the triples). */
    private def readTriples(ids: Array[Long], tfs: Array[Int],
                            dls: Array[Int], off: Int,
                            poss: Array[Array[Int]],
                            interleaved: Boolean): Unit = {
      var prev = prevBlockLast
      var k = off
      val end = off + n
      while (k < end) {
        prev += readVLong()
        ids(k) = prev
        val tf = readVInt()
        tfs(k) = tf
        dls(k) = readVInt()
        if (interleaved) readPositions(tf, poss, k)
        k += 1
      }
    }

    /** A v3 body's triples: three packed sections behind their width
      * bytes, or varint triples behind the escape marker (see
      * [[V3EscapeMin]]). */
    private def readV3Sections(ids: Array[Long], tfs: Array[Int],
                               dls: Array[Int], off: Int): Unit = {
      val wGap = blob(pos) & 0xFF
      if (wGap == V3EscapeMarker) {
        pos += 1
        readTriples(ids, tfs, dls, off, null, interleaved = false)
      } else {
        val wTf = blob(pos + 1) & 0xFF
        val wDl = blob(pos + 2) & 0xFF
        var p = pos + 3
        BitPack.unpackGapsPrefix(blob, p, n, wGap, prevBlockLast, ids, off)
        p += BitPack.packedBytes(n, wGap)
        BitPack.unpackInts(blob, p, n, wTf, tfs, off)
        p += BitPack.packedBytes(n, wTf)
        BitPack.unpackInts(blob, p, n, wDl, dls, off)
        pos = p + BitPack.packedBytes(n, wDl)
      }
    }

    /** One posting's `tf` positions (`[pos0][gap]*` varints) into
      * `poss(i)`, or skipped when `poss` is null. */
    @inline private def readPositions(tf: Int, poss: Array[Array[Int]],
                                      i: Int): Unit =
      if (poss != null) {
        val ps = new Array[Int](tf)
        var acc = 0
        var j = 0
        while (j < tf) { acc += readVInt(); ps(j) = acc; j += 1 }
        poss(i) = ps
      } else {
        // a varint ends at its one byte with the high bit clear
        var j = 0
        while (j < tf) { if (blob(pos) >= 0) j += 1; pos += 1 }
      }
  }

  /** Iterate block headers, calling `onBlock`; return value decides
    * whether the body is decoded (true) or skipped via bodyLen (false).
    * When decoded, `onEntry(docId, tf, dl, positions)` fires per posting
    * (`positions` is null when the blob has none or `wantPositions` is
    * false — position bytes are then skipped). The workhorse behind WAND
    * pruning, docId skipping, header-only walks and phrase decode;
    * decoded blocks go through one scratch block per blob. */
  @inline def scanPos(blob: Array[Byte], wantPositions: Boolean)(
      onBlock: BlockHeader => Boolean)(
      onEntry: PosSink): Unit = {
    val br = new BlockReader(blob)
    while (br.hasBlock) {
      br.nextBlock()
      if (onBlock(br.header)) {
        br.readBlock(wantPositions)
        var k = 0
        while (k < br.n) {
          onEntry(br.blockIds(k), br.blockTfs(k), br.blockDls(k),
            if (br.blockPos == null) null else br.blockPos(k))
          k += 1
        }
      } else br.skipBody()
    }
  }

  /** Position-free scan (the WAND hot path). */
  @inline def scan(blob: Array[Byte])(
      onBlock: BlockHeader => Boolean)(
      onEntry: EntrySink): Unit =
    scanPos(blob, wantPositions = false)(onBlock)(
      (d, tf, dl, _) => onEntry(d, tf, dl))

  /** Full decode → (docIds, tfs, dls).
    *
    * THE hot kernel of exact scoring, batch scoring and compaction, so it
    * takes no callback: a generic callback boxed three primitives per
    * posting and made full decode ~30× slower than the memory-bandwidth
    * ceiling (measured: 24M postings/s ≈ 0.08 GB/s of blob bytes vs a
    * 2.3 GB/s raw scan of the same array). Each block is decoded by the
    * block reader STRAIGHT into the output arrays at its offset — v2
    * varints in place, v3 sections unpacked in place — with no scratch
    * and no allocation per posting. */
  def decode(blob: Array[Byte]): (Array[Long], Array[Int], Array[Int]) = {
    val (docIds, tfs, dls, _) = decodeAll(blob, withPositions = false)
    (docIds, tfs, dls)
  }

  /** Full decode incl. positions → (docIds, tfs, dls, positions);
    * positions entries are null when the blob has none. Decodes straight
    * into the output arrays, as [[decode]] does. */
  def decodeWithPositions(blob: Array[Byte])
      : (Array[Long], Array[Int], Array[Int], Array[Array[Int]]) =
    decodeAll(blob, withPositions = true)

  private def decodeAll(blob: Array[Byte], withPositions: Boolean)
      : (Array[Long], Array[Int], Array[Int], Array[Array[Int]]) = {
    val br = new BlockReader(blob)
    val docIds = new Array[Long](br.total)
    val tfs = new Array[Int](br.total)
    val dls = new Array[Int](br.total)
    val pos = if (withPositions) new Array[Array[Int]](br.total) else null
    var filled = 0
    while (br.hasBlock) {
      br.nextBlock()
      br.readBody(docIds, tfs, dls, filled, pos)
      filled += br.n
    }
    (docIds, tfs, dls, pos)
  }

  /** Number of postings without decoding the body. */
  def count(blob: Array[Byte]): Int = new BlockReader(blob).total

  /** Sequential posting CURSOR over one blob: decodes one block at a
    * time into O(blockSize) scratch and hands out one entry per
    * [[advance]], so a k-way merge over cursors holds O(k · blockSize)
    * postings instead of k fully-decoded lists — the streaming-merge
    * substrate (the decode-everything merge OOM'd the 10M dress's
    * compaction on head-term shards). Call [[advance]] before reading;
    * `positions` is null when the blob has none or `wantPositions` is
    * false (position bytes are then skipped). */
  final class Cursor(blob: Array[Byte], wantPositions: Boolean = false) {
    private val br = new BlockReader(blob)
    private var consumed = 0
    private var k = 0 // next entry of the current block

    var docId: Long = 0L
    var tf: Int = 0
    var dl: Int = 0
    var positions: Array[Int] = null

    def hasNext: Boolean = consumed < br.total
    def size: Int = br.total

    def advance(): Unit = {
      if (!hasNext) throw new NoSuchElementException("cursor exhausted")
      if (k == br.n) {
        br.nextBlock()
        br.readBlock(wantPositions)
        k = 0
      }
      docId = br.blockIds(k); tf = br.blockTfs(k); dl = br.blockDls(k)
      if (br.blockPos != null) positions = br.blockPos(k)
      k += 1
      consumed += 1
    }
  }

  /** Σ tf over every posting in the blob — the per-blob ttf input when
    * term_stats is DERIVED from written blobs instead of a tokenize
    * pass. Block by block through one scratch block, positions skipped;
    * allocation-free per posting for the same reason [[decode]] is. */
  def sumTf(blob: Array[Byte]): Long = {
    val br = new BlockReader(blob)
    var acc = 0L
    while (br.hasBlock) {
      br.nextBlock()
      br.readBlock(wantPositions = false)
      var k = 0
      while (k < br.n) { acc += br.blockTfs(k); k += 1 }
    }
    acc
  }

  /** (max tf, min dl) across blocks from headers only — the term-level
    * WAND upper bound inputs. */
  def termBounds(blob: Array[Byte]): (Int, Int) = {
    var maxTf = 0
    var minDl = Int.MaxValue
    scan(blob) { h =>
      if (h.maxTf > maxTf) maxTf = h.maxTf
      if (h.n > 0 && h.minDl < minDl) minDl = h.minDl
      false
    }((_, _, _) => ())
    (maxTf, if (minDl == Int.MaxValue) 0 else minDl)
  }

  /** Decode only entries whose docId is in `sorted` (ascending array):
    * blocks whose [first, last] docId range contains no candidate are
    * skipped at header cost — the conjunctive-probe / rescore primitive.
    * Matches go straight into primitive arrays sized by the smaller of
    * the candidate count and the blob's posting count. */
  def decodeForDocs(blob: Array[Byte], sorted: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
    if (sorted.isEmpty) return (Array.empty, Array.empty, Array.empty)
    val br = new BlockReader(blob)
    val cap = math.min(sorted.length, br.total)
    val docIds = new Array[Long](cap)
    val tfs = new Array[Int](cap)
    val dls = new Array[Int](cap)
    var m = 0
    while (br.hasBlock) {
      br.nextBlock()
      // any candidate in (prevBlockLast, lastDocId]? (first block may
      // start at docId 0 == prevBlockLast)
      var lo = java.util.Arrays.binarySearch(sorted, br.prevBlockLast)
      if (lo < 0) lo = -lo - 1
      if (lo < sorted.length && sorted(lo) <= br.lastDocId) {
        br.readBlock(wantPositions = false)
        var k = 0
        while (k < br.n) {
          val d = br.blockIds(k)
          if (java.util.Arrays.binarySearch(sorted, d) >= 0) {
            docIds(m) = d; tfs(m) = br.blockTfs(k); dls(m) = br.blockDls(k)
            m += 1
          }
          k += 1
        }
      } else br.skipBody()
    }
    (java.util.Arrays.copyOf(docIds, m), java.util.Arrays.copyOf(tfs, m),
      java.util.Arrays.copyOf(dls, m))
  }
}
