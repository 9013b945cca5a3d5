package graft.query

import java.sql.Timestamp

import graft.SparkTestBase
import graft.analysis.{SynonymDict, Tokenizer}
import graft.index.IndexBuilder
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, levenshtein, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Expansions and the suggesters scan the driver-side term
  * dictionaries with Scala predicates. Each must match exactly the terms
  * a Spark filter of the `termStats` rows matches — the Column
  * predicates below are the reference — on a dictionary holding
  * supplementary-plane terms, fullwidth BMP terms above U+E000 (UTF-16
  * and UTF-8 order disagree across them) and regex metacharacters. */
class TermPredParitySpec extends AnyFunSuite with SparkTestBase {

  private val texts = Seq(
    "𠀀A 𠀀B A𠀀 𝐀X",
    "Ａ ＡB AＡ \uE000X \uFFFDZ Ｚ",
    "A.B A*B A?B A+B (X) [Y] A|B A\\B A%B A_B A%%B 100% _X ^A $B {C}",
    "INDEX INDEXES INDIGO INDEX INDEKS SPARK SPARKLE SPAN SPAM",
    "SPARK INDEX A.B AXB ABB")

  private lazy val searcher: Searcher = {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("graft-termpred-")
    val pages = texts.zipWithIndex.map { case (t, i) =>
      (s"https://p/$i", new Timestamp(1767225600000L + i * 1000L),
        null: Array[Byte], t, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    IndexBuilder.buildFull(spark, pages, SynonymDict.empty, root,
      IndexBuilder.IndexConfig(numParts = 2, rangeParts = 1))
    new Searcher(spark, root, SynonymDict.empty)
  }

  private val cap = 1000

  private def frameTerms(pred: Column): Set[String] =
    searcher.termStats.filter(pred).select("term").collect()
      .map(_.getString(0)).toSet

  private def driverTerms(c: QueryParser.Clause): Set[String] =
    searcher.expansionTerms(Searcher.TermPred.of(c).get, cap).toSet

  /** The reference's Lucene-wildcard translation. */
  private def wildcardRegex(pat: String): String =
    pat.map {
      case '*' => ".*"
      case '?' => "."
      case ch => java.util.regex.Pattern.quote(ch.toString)
    }.mkString

  private def fold(s: String) = Tokenizer.foldCase(s.trim)
  private val term = col("term")
  import QueryParser.{FuzzyQ, PrefixQ, RangeQ, RegexpQ, Should, WildcardQ}

  /** (label, driver-side match set, reference match set) */
  private def cases: Seq[(String, Set[String], Set[String])] = {
    val prefixes = Seq("𠀀", "a", "Ａ", "ind", "\uE000", "sp",
      "A.", "(", " a% ")
    val wildcards = Seq("𠀀?", "A?B", "a*", "*B", "?", "A.B",
      "SPA?", "*Ａ*", "(*)", "[Y]")
    val likes = Seq("%", "A_B", "A\\%B", "%\\%", "_X", "%B", "A%%B",
      "𠀀_", "%Ａ%", "[Y]", "100\\%")
    val regexps = Seq("A\\.B", "[A-Z]\\*B", ".*B", "\\(X\\)",
      "𠀀.", ".*Ａ.*", "IND(EX|IGO)", "A[.|]B", "\\$B")
    val fuzzies = Seq(("𠀀ab", 1), ("axb", 1), ("indeks", 2),
      ("Ａ", 1), ("spam", 0), ("(x)", 1))
    val ranges = Seq(
      (Some("Ａ"), None, true, true),
      (Some("\uE000"), Some("𠀀Z"), true, true),
      (None, Some("Ａ"), true, false),
      (Some("A"), Some("B"), false, true),
      (Some("INDEX"), Some("SPARK"), true, false),
      (Some("𠀀A"), Some("𠀀B"), false, true),
      (Some("\uFFFD"), None, false, true),
      (None, None, true, true))
    prefixes.map { p =>
      (s"prefix '$p'", driverTerms(PrefixQ(p, Should, 1.0)),
        frameTerms(term.startsWith(fold(p))))
    } ++ wildcards.map { p =>
      (s"wildcard '$p'", driverTerms(WildcardQ(p, Should, 1.0)),
        frameTerms(term.rlike("^" + wildcardRegex(fold(p)) + "$")))
    } ++ likes.map { p =>
      (s"like '$p'",
        searcher.expansionTerms(Searcher.TermPred.like(fold(p)), cap).toSet,
        frameTerms(term.like(fold(p))))
    } ++ regexps.map { p =>
      (s"regexp '$p'", driverTerms(RegexpQ(p, Should, 1.0)),
        frameTerms(term.rlike("^(?:" + p + ")$")))
    } ++ fuzzies.map { case (t, e) =>
      (s"fuzzy '$t'~$e", driverTerms(FuzzyQ(t, e, Should, 1.0)),
        frameTerms(levenshtein(term, lit(fold(t))) <= e))
    } ++ ranges.map { case (lo, hi, incLo, incHi) =>
      val (l0, h0) = (lo.map(fold).filter(_.nonEmpty),
        hi.map(fold).filter(_.nonEmpty))
      val ref = (l0.map(l => if (incLo) term >= l else term > l) ++
        h0.map(h => if (incHi) term <= h else term < h))
        .reduceOption(_ && _).getOrElse(lit(true))
      (s"range $lo..$hi ($incLo, $incHi)",
        driverTerms(RangeQ(lo, hi, incLo, incHi, Should, 1.0)),
        frameTerms(ref))
    }
  }

  test("every driver-side expansion matches the terms the reference " +
    "Column predicate selects from termStats") {
    val all = cases
    val wrong = all.filter { case (_, d, f) => d != f }
    assert(wrong.isEmpty, wrong.map { case (l, d, f) =>
      s"$l: driver-only ${d -- f}, frame-only ${f -- d}" }.mkString("; "))
    val empty = all.filter(_._3.isEmpty).map(_._1)
    assert(empty.size <= 2, s"degenerate cases (no match at all): $empty")
  }

  test("the dictionary holds terms on which UTF-16 and UTF-8 order " +
    "disagree, so the range cases tell the two apart") {
    val ts = searcher.termStats.select("term").collect().map(_.getString(0))
    assert(ts.contains("𠀀A") && ts.contains("Ａ") &&
      ts.contains("\uE000X") && ts.contains("A%B") && ts.contains("A.B"))
    val bySpark = frameTerms(term >= "Ａ")
    val byUtf16 = ts.filter(_.compareTo("Ａ") >= 0).toSet
    assert(bySpark != byUtf16 && bySpark.contains("𠀀A"))
  }

  test("suggest and suggestSpelling rank as the reference frame query " +
    "does, ties in UTF-8 order") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    for (p <- Seq("a", "𠀀", "ind", "sp", "Ａ")) {
      val f = fold(p)
      val ref = searcher.termStats.where(term.startsWith(f))
        .orderBy(col("df").desc, term.asc).select("term", "df").limit(4)
      assert(rows(searcher.suggest(p, 4)) == rows(ref), s"suggest '$p'")
    }
    val aTies = rows(searcher.suggest("a", 100)).map(_.head.toString)
    val (fullwidth, supplementary) = (aTies.indexOf("AＡ"), aTies.indexOf("A𠀀"))
    assert(fullwidth >= 0 && fullwidth < supplementary,
      s"UTF-8 order puts U+FF21 before U+20000: $aTies")
    for ((t, e) <- Seq(("aＢ", 1), ("indeks", 2), ("𠀀ab", 1),
        ("a.b", 1))) {
      val f = fold(t)
      val ref = searcher.termStats
        .withColumn("dist", levenshtein(term, lit(f)))
        .where(col("dist") <= e && term =!= f)
        .orderBy(col("dist").asc, col("df").desc, term.asc)
        .select("term", "dist", "df").limit(6)
      val got = rows(searcher.suggestSpelling(t, 6, maxEdits = e))
      assert(got == rows(ref), s"suggestSpelling '$t'~$e")
      assert(got.nonEmpty, s"suggestSpelling '$t'~$e matched nothing")
    }
  }

  override def afterAll(): Unit = {
    searcher.close()
    super.afterAll()
  }
}
