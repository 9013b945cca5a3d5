package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every score fold goes through the one executor's fold
  * (`Searcher.foldGated` → `Searcher.foldPrepared`) over contributions
  * computed by the one arithmetic (`contribBase`), so scores stay
  * bit-identical to the golden model (invariant 11). Every code line
  * naming one of the three under `src/main/scala` is one of the sites
  * below (comment lines are not counted), so a private fold or a copy of
  * the arithmetic cannot come back unnoticed. */
class FoldGuardSpec extends AnyFunSuite {

  private val searcher = "graft/query/Searcher.scala"

  /** (file under src/main/scala, trimmed line) of each allowed site. */
  private val allowed = Set(
    // the arithmetic: its definition, the executor's rows, the batch rows
    searcher -> "private def contribBase: Column =",
    searcher -> """if (unit) contribBase else col("weight") * contribBase))""",
    searcher -> """dropDead(decoded).withColumn("contrib", contribBase),""",
    // the fold: its definitions and its three callers (the executor, the
    // fielded union, the batch)
    searcher -> "private[graft] def foldGated(parts: Seq[ParsedFrames],",
    searcher -> "private[graft] def foldPrepared(perTerm: DataFrame,",
    searcher -> "val folded = foldPrepared(rows.reduce(_ unionByName _),",
    searcher -> "Searcher.foldGated(",
    searcher -> "val scored = Searcher.foldPrepared(",
    "graft/index/FieldedIndex.scala" ->
      "graft.query.Searcher.foldGated(clausesByField(q, defaultField).map {")

  test("contribBase, foldPrepared and foldGated appear in src/main code " +
    "only at the allow-listed sites") {
    val base = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(base), s"no $base under the " +
      s"working directory ${new java.io.File(".").getAbsolutePath}")
    val word = "\\b(contribBase|foldPrepared|foldGated)\\b".r
    def comment(l: String) =
      l.startsWith("*") || l.startsWith("//") || l.startsWith("/*")
    val files = java.nio.file.Files.walk(base)
    val refs =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = base.relativize(p).toString.replace('\\', '/')
          java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
            .filter(l => !comment(l) && word.findFirstIn(l).isDefined)
            .map(rel -> _)
        }.toSet
      finally files.close()
    // equality, not a subset: the scan must see every allowed site too
    assert(refs == allowed, s"fold references outside the allow-list: " +
      s"${refs -- allowed}; allow-listed but not found: ${allowed -- refs}")
  }
}
