package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import org.scalatest.funsuite.AnyFunSuite

/** Fetch-after-rank (S8): a page's stored fields come through the
  * document LRU, and the page must not depend on what the LRU can hold. */
class PageFetchSpec extends AnyFunSuite with SparkTestBase {

  test("a page larger than the document LRU comes back whole (S8)") {
    val dir = tmpDir("graft-bigpage-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 5L, 1200),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "bigpage")
    val s = new Searcher(spark, dir)
    try {
      val q = "spark index search data"
      val n = s.matchSet(q, conjunctive = false).count()
      assert(n > 1100, s"degenerate corpus: only $n matches")
      // 1,100 > the 1,024-entry document LRU
      val page = s.search(q, 1100, conjunctive = false).collect()
      val ids = page.map(_.getLong(0)).distinct.length
      assert(page.length == 1100 && ids == 1100,
        s"${page.length} rows, $ids distinct ids")
      assert(page.forall(_.getAs[String]("url") != null))
    } finally s.close()
  }
}
