package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Literal terms resolve in the Searcher's driver-side term
  * dictionaries with no Spark job; only dictionary scans read the global
  * `termStats` frame. Every line naming `termStats` under
  * `src/main/scala` is one of the sites below, so a per-request probe
  * of the frame cannot come back unnoticed. */
class TermStatsGuardSpec extends AnyFunSuite {

  private val searcher = "graft/query/Searcher.scala"
  private val textOps = "graft/pipeline/TextOps.scala"

  /** (file under src/main/scala, trimmed line) of each allowed site. */
  private val allowed = Set(
    // the frame's definition, and the per-segment relation it unions
    searcher -> "val termStats: DataFrame =",
    searcher -> "unionSegs(_.termStats)",
    searcher -> "docstore: DataFrame, postings: DataFrame, termStats: DataFrame,",
    // the expansion probe (prefix, wildcard, regex, fuzzy, range)
    searcher -> "val rows = termStats.filter(expPreds.reduce(_ || _))",
    // suggest's prefix range, both bound shapes
    searcher -> "case Some(hi) => termStats.where(",
    searcher -> "case None => termStats.where(",
    // suggestSpelling's banded scan
    searcher -> "else termStats",
    // close releases the frame's cache
    searcher -> "termStats.unpersist()",
    // a different function: corpus statistics of a DataFrame of texts
    textOps -> "def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =",
    textOps -> "termStats(docs, idCol, textCol)",
    "graft/SparkEntry.scala" ->
      """TextOps.termStats(t(s, dir, "documents"), "doc_id", "text")""")

  test("termStats appears in src/main only at the allow-listed sites") {
    val base = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(base), s"no $base under the " +
      s"working directory ${new java.io.File(".").getAbsolutePath}")
    val word = "\\btermStats\\b".r
    val files = java.nio.file.Files.walk(base)
    val refs =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = base.relativize(p).toString.replace('\\', '/')
          java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
            .filter(l => word.findFirstIn(l).isDefined)
            .map(rel -> _)
        }.toSet
      finally files.close()
    // equality, not a subset: the scan must see every allowed site too
    assert(refs == allowed, s"termStats references outside the " +
      s"allow-list: ${refs -- allowed}; allow-listed but not found: " +
      s"${allowed -- refs}")
  }
}
