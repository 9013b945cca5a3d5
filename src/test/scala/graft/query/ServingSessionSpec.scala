package graft.query

import graft.SparkTestBase
import graft.analysis.{SynonymDict, Tokenizer}
import graft.index.{FieldedIndex, IndexBuilder, WebtextGen}
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Latches a filter UDF blocks on, by name: the UDF runs in executor
  * tasks on deserialized closures, so it reaches its gate through this
  * JVM-wide object, never through a captured latch. */
object ServingGates {
  final class Gate {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val taken = new AtomicBoolean(false)
  }
  val gates = new ConcurrentHashMap[String, Gate]()

  /** true for every row; the FIRST call holds its task until released,
    * so one task slot stays busy while the query is in flight. */
  def pass(name: String): Boolean = {
    val g = gates.get(name)
    if (g.taken.compareAndSet(false, true)) {
      g.entered.countDown()
      g.release.await(120, TimeUnit.SECONDS)
    }
    true
  }
}

/** Serving plans run on the Searcher's serving session: no serving path
  * writes the caller session's SQL conf, however Searchers and builds
  * overlap on it. */
class ServingSessionSpec extends AnyFunSuite with SparkTestBase {

  private val aqe = "spark.sql.adaptive.enabled"

  private lazy val root: String = {
    val dir = tmpDir("graft-serving-session-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 23L, 400),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "ss")
    dir
  }

  test("two Searchers in flight on one caller session leave its AQE " +
    "setting untouched at every step") {
    val a = new Searcher(spark, root)
    val b = new Searcher(spark, root)
    val start = spark.conf.getOption(aqe)
    val seen = Seq.newBuilder[(String, Option[String])]
    def check(step: String): Unit = seen += step -> spark.conf.getOption(aqe)
    val ga = new ServingGates.Gate
    val gb = new ServingGates.Gate
    ServingGates.gates.put("a", ga)
    ServingGates.gates.put("b", gb)
    def gated(name: String) = udf((_: String) => ServingGates.pass(name))
    val pool = Executors.newFixedThreadPool(2)
    def serve(s: Searcher, name: String) = pool.submit(new Callable[Int] {
      def call(): Int = s.searchCached("spark index", 10, useCache = false,
        filter = Some(gated(name)(col("lang")))).length
    })
    try {
      check("before")
      val fa = serve(a, "a")
      assert(ga.entered.await(120, TimeUnit.SECONDS), "A never started")
      check("A in flight")
      val fb = serve(b, "b")
      assert(gb.entered.await(120, TimeUnit.SECONDS), "B never started")
      check("A and B in flight")
      ga.release.countDown()
      assert(fa.get(120, TimeUnit.SECONDS) > 0)
      check("A returned, B in flight")
      gb.release.countDown()
      assert(fb.get(120, TimeUnit.SECONDS) > 0)
      check("B returned")
      val steps = seen.result()
      assert(steps.forall(_._2 == start),
        s"caller's $aqe moved from $start: ${steps.mkString(", ")}")
      // both Searchers plan on the one serving session, AQE off
      assert(a.spark eq b.spark)
      assert(!(a.spark eq spark))
      assert(a.spark.conf.get(aqe) == "false")
    } finally {
      ga.release.countDown(); gb.release.countDown()
      pool.shutdown()
      ServingGates.gates.clear()
      a.close(); b.close()
    }
  }

  test("reopen and a fielded searcher's fields share the serving session") {
    val s = new Searcher(spark, root)
    val r = s.reopen()
    val dir = tmpDir("graft-serving-fielded-")
    val fields = Seq(FieldedIndex.FieldSpec("text", col("text")),
      FieldedIndex.FieldSpec("url", col("url"), analyzer = Tokenizer.Keyword))
    FieldedIndex.buildFull(spark, WebtextGen.df(spark, 37L, 100), fields,
      dir, IndexBuilder.IndexConfig(numParts = 2, rangeParts = 2))
    val fs = new FieldedIndex.FieldedSearcher(spark, dir, fields)
    val fr = fs.reopen()
    try {
      assert(r.spark eq s.spark)
      assert(Searcher.servingSession(s.spark) eq s.spark)
      assert((fs.searchers.values ++ fr.searchers.values)
        .forall(_.spark eq s.spark))
    } finally { fr.close(); fs.close(); r.close(); s.close() }
  }

  /** Whether a plan runs adaptive; a non-adaptive plan with an exchange
    * outside any adaptive node is one AQE would have wrapped. */
  private def isAdaptive(p: SparkPlan): Boolean =
    p.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isDefined
  private def hasBareExchange(p: SparkPlan): Boolean =
    p.find(_.isInstanceOf[Exchange]).isDefined

  test("appendSegment on the caller's session plans adaptive while 8 " +
    "threads serve; serving plans stay non-adaptive") {
    val dir = tmpDir("graft-build-while-serving-")
    IndexBuilder.buildFull(spark, WebtextGen.df(spark, 29L, 300),
      SynonymDict.empty, dir,
      IndexBuilder.IndexConfig(numParts = 4, rangeParts = 2), "bws")
    val s = new Searcher(spark, dir)
    assert(spark.conf.get(aqe) == "true")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val queries = Seq("spark index", "data search", "lucene engine",
      "query model")
    val stop = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val servers = (0 until 8).map(i => pool.submit(new Callable[Int] {
        def call(): Int = {
          var n = 0
          while (!stop.get || n == 0) {
            s.searchWand(queries(i % queries.size), 10,
              conjunctive = i % 2 == 0).collect()
            n += 1
          }
          n
        }
      }))
      // the build starts once the servers are serving
      while (s.totalSearchCount < 8) Thread.sleep(1)
      spark.listenerManager.register(listener)
      try IndexBuilder.appendSegment(spark, WebtextGen.df(spark, 31L, 100),
        SynonymDict.empty, dir)
      finally {
        ListenerBusDrain.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        stop.set(true)
      }
      servers.foreach(f => assert(f.get(300, TimeUnit.SECONDS) > 0))
      val built = plans.toArray(Array.empty[SparkPlan]).toSeq
      assert(built.exists(isAdaptive), s"no adaptive build plan: $built")
      assert(!built.exists(hasBareExchange),
        s"a build plan ran non-adaptive: ${built.filter(hasBareExchange)}")
      // a serving plan is not adaptive though the caller's session is
      val scored = s.score("spark index data").queryExecution.executedPlan
      assert(spark.conf.get(aqe) == "true")
      assert(hasBareExchange(scored) && !isAdaptive(scored), scored)
    } finally {
      stop.set(true)
      pool.shutdown()
      s.close()
    }
  }
}
