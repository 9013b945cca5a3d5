package graft.index

import graft.codec.VarByte
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the chunked k-way posting merge
  * ([[IndexBuilder.mergeBlobsStreaming]]) over wide tf/dl/gap values —
  * lives in graft.index for private[index] access. */
class ChunkPropertySpec extends AnyFunSuite {

  private def forAllSeeded[T](gen: Gen[T], n: Int = 100)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (1 to n).foreach { i =>
      gen(params, Seed(i.toLong)).foreach(body)
    }
  }

  private val postingListGen: Gen[(Array[Long], Array[Int], Array[Int])] =
    for {
      n <- Gen.chooseNum(0, 400)
      gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 100000L))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1, 1 << 20))
      dls <- Gen.listOfN(n, Gen.chooseNum(1, 1 << 16))
    } yield (gaps.scanLeft(0L)(_ + _).tail.toArray, tfs.toArray, dls.toArray)

  test("chunked merge: k-way merge + chunk-encode round-trips to the " +
    "sorted union; every chunk within cap (∀)") {
    import graft.index.IndexBuilder
    val multiGen = for {
      k <- Gen.chooseNum(1, 5)
      lists <- Gen.listOfN(k, postingListGen)
      cap <- Gen.chooseNum(1, 300)
      bs <- Gen.chooseNum(1, 64)
    } yield (lists, cap, bs)
    forAllSeeded(multiGen, n = 60) { case (lists, cap, bs) =>
      // disjoint doc ids across lists (the merge precondition): id*k+i
      // keeps each list strictly increasing, makes lists globally
      // disjoint (distinct residues mod k), and INTERLEAVES their ranges
      val disjoint = lists.zipWithIndex.map { case ((ids, tfs, dls), i) =>
        (ids.map(id => id * lists.size + i), tfs, dls)
      }
      val blobs = disjoint.map { case (ids, tfs, dls) =>
        VarByte.encode(ids, tfs, dls, bs)
      }
      val chunks = IndexBuilder.mergeBlobsStreaming(blobs, withPos = false,
        bs, VarByte.DefaultFormatVersion, cap)
      val expected = disjoint.flatMap { case (ids, tfs, dls) =>
        ids.indices.map(i => (ids(i), tfs(i), dls(i)))
      }.sortBy(_._1)
      // every chunk but the last is full
      assert(chunks.dropRight(1).forall(_._2 == cap))
      val got = chunks.flatMap { case (blob, cnt, maxTf, minDl) =>
        val (d, t, l) = VarByte.decode(blob)
        assert(d.length == cnt && cnt > 0 && cnt <= cap)
        assert(maxTf == t.max && minDl == l.min)
        d.indices.map(i => (d(i), t(i), l(i)))
      }
      assert(got == expected)
    }
  }

}
