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

  test("a page fetch of new ids compiles no new code and still prunes " +
    "row groups by the doc_id set") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = tmpDir("graft-codestable-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 7L, 200),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "codestable")
    val s = new Searcher(spark, dir)
    try {
      assert(s.doc(Seq(3L, 17L, 40L)).collect().length == 3) // warm
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // other ids, and as many as another page's misses may number
      val ids = Seq(5L, 23L, 61L, 90L)
      val fetched = s.doc(ids)
      assert(fetched.collect().map(_.getLong(0)).sorted.toSeq == ids)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"$compiled classes compiled for a new id set")
      val scan = fetched.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no docstore scan in the page-fetch plan"))
      assert(scan.dataFilters.nonEmpty &&
        scan.metadata("PushedFilters").contains("In(doc_id"),
        scan.metadata("PushedFilters"))
    } finally s.close()
  }
}
