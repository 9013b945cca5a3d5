package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every term, literal or expanded, resolves in the Searcher's
  * driver-side term dictionaries, and so do the suggesters: no engine
  * path reads the global `termStats` frame, which is left as an
  * inspection view. Every line naming `termStats` under `src/main/scala`
  * is one of the sites below, so a scan or probe of the frame cannot
  * come back unnoticed. */
class TermStatsGuardSpec extends AnyFunSuite {

  private val textOps = "graft/pipeline/TextOps.scala"

  /** (file under src/main/scala, trimmed line) of each allowed site. */
  private val allowed = Set(
    // the inspection view's definition
    "graft/query/Searcher.scala" -> "lazy val termStats: DataFrame =",
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
