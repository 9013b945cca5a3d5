package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** No engine path writes a session-global SQL conf on a caller's
  * session: every `.conf.set(` / `.conf.unset(` under `src/main/scala`
  * is one of the sites below, each on a session it owns. */
class ConfWriteGuardSpec extends AnyFunSuite {

  /** (file under src/main/scala, trimmed line) of each allowed write. */
  private val allowed = Set(
    // the serving-session factory: AQE off on the Searcher's own session
    "graft/query/Searcher.scala" ->
      """serving.conf.set("spark.sql.adaptive.enabled", "false")""",
    // q_sessionize's child session holds the stream's shuffle width
    "graft/SparkEntry.scala" ->
      """ss.conf.set("spark.sql.shuffle.partitions", streamParts.toString)""",
    // BenchExtra's start-up BX_NOAQE switch, before any work runs
    "graft/BenchExtra.scala" ->
      """spark.conf.set("spark.sql.adaptive.enabled", "false")""")

  test("conf writes in src/main appear only at the allow-listed sites") {
    val base = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(base), s"no $base under the " +
      s"working directory ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(base)
    val writes =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = base.relativize(p).toString.replace('\\', '/')
          java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
            .filter(l => l.contains(".conf.set(") || l.contains(".conf.unset("))
            .map(rel -> _)
        }.toSet
      finally files.close()
    // equality, not a subset: the scan must see every allowed site too
    assert(writes == allowed, s"conf writes outside the allow-list: " +
      s"${writes -- allowed}; allow-listed but not found: ${allowed -- writes}")
  }
}
