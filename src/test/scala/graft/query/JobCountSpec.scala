package graft.query

import graft.SparkTestBase
import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Per-query latency is job-count-bound in local mode (invariant 7),
  * so the Spark jobs each warm serving call runs are pinned here. Every
  * call runs once to warm the searcher (persisted frames, dead-doc
  * count, document LRU) and is counted on its second run. The pinned counts are the ones measured before the exact paths
  * were folded into one executor, and are upper bounds: a change may
  * lower them, never raise them. */
class JobCountSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dict = SynonymDict.parse(resourceLines("/synonyms.txt"))

  private lazy val searcher: Searcher = {
    val dir = tmpDir("graft-jobs-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 42L, 600), dict, dir,
      IndexBuilder.IndexConfig(numParts = 8, rangeParts = 4, saltDf = 200,
        saltFanout = 4, indexPositions = true), "jobs")
    new Searcher(spark, dir, dict)
  }

  private object Jobs extends SparkListener {
    @volatile var n = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val before = Jobs.n
    f
    ListenerBusDrain.drain(sc)
    Jobs.n - before
  }

  private def warmJobs(f: => Unit): Int = { jobsOf(f); jobsOf(f) }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Jobs)
  }

  test("warm serving calls run no more Spark jobs than pinned") {
    val K = 10
    val en = Some(col("lang") === "en")
    // probe + broadcast term frame + page collect, plus one broadcast per
    // NOT set / filter side; an expansion probe is a limited collect
    // (executeTake: 2 jobs here)
    val pinned = Seq(
      "search AND" -> (() => searcher.search("spark index", K), 3),
      "search OR" -> (() => searcher.search("spark index", K,
        conjunctive = false), 3),
      "search NOT" -> (() => searcher.search("spark index", K,
        notQuery = Some("fast")), 4),
      "search filter" -> (() => searcher.search("spark index", K,
        filter = en), 4),
      "searchBoolean" -> (() => searcher.searchBoolean("spark",
        "index fast", K), 3),
      "searchPrefix" -> (() => searcher.searchPrefix("IND", K), 4),
      "searchPhrase" -> (() => searcher.searchPhrase("spark index", K), 3),
      "searchQuery" -> (() => searcher.searchQuery("+spark index -fast", K),
        5))
    val over = pinned.flatMap { case (name, (call, max)) =>
      val n = warmJobs(call().collect())
      info(s"$name: $n jobs (pinned $max)")
      if (n > max) Some(s"$name ran $n jobs, pinned at most $max") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("a literal-only query probes term_stats in exactly one job") {
    // building the scored frame runs the probe and nothing else (the
    // scoring plan is lazy), so the jobs of the build ARE the probe;
    // counted with AQE off, as every serving call runs
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assert(warmJobs(searcher.score("spark index data")) == 1)
      assert(warmJobs(searcher.scoreParsed(
        QueryParser.parse("spark +index -data"))) == 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("AND and OR score plans fold on the pivot shape (no collect_list)") {
    for (conj <- Seq(true, false)) {
      val plan = searcher.score("spark index data", conjunctive = conj)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("collect_list"), s"conjunctive=$conj: $plan")
    }
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Jobs)
    searcher.close()
    super.afterAll()
  }
}
