package graftbench

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length, sum}

import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, IndexCheck, IndexStore, WebtextGen}
import graft.query.Searcher

/** Everything a workload needs, and where it puts its numbers. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val jobs: Option[JobStats], val ops: OpLog,
                val work: java.nio.file.Path, val dict: SynonymDict,
                val nproc: Int) {
  /** End-to-end metrics: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics, reported by traced runs. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Facts for the result file (sample counts, sizes). */
  val info = mutable.LinkedHashMap.empty[String, String]
  val setupSec = mutable.ArrayBuffer.empty[Double]

  def path(name: String): String = work.resolve(name).toString

  def cfg(docs: Long): IndexBuilder.IndexConfig =
    IndexBuilder.IndexConfig(numParts = 2 * nproc, rangeParts = nproc,
      saltDf = math.max(100L, docs / 10), saltFanout = nproc)

  /** The listener's totals once every posted event has been delivered. */
  def drainedJobs: Option[JobStats] = {
    jobs.foreach(_ => org.apache.spark.BenchBus.drain(spark.sparkContext))
    jobs
  }

  def span[T](name: String, request: Long = 0L)(f: => T): T =
    tracer.span(name, request)(f)

  def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

/** A seeded query: `shape` names the df band / operator mix it draws.
  * `forceWand` sends a multi-term query through the WAND pipeline (θ
  * seed, candidates, rescore) whatever its Σ df. */
final case class Q(shape: String, text: String, conjunctive: Boolean,
                   lang: Option[String], not: Option[String], start: Int,
                   forceWand: Boolean = false) {
  def filter = lang.map(l => col("lang") === l)
}

/** An index built by one set-up, with the searcher opened on it. */
final case class Base(searcher: Searcher, root: String,
                      report: IndexBuilder.BuildReport, corpus: String,
                      openS: Double)

object Workloads {
  /** The `wand_*` shapes pass `wandMinDf = 0`: at this corpus size every
    * Σ df is far below the default gate (500,000 postings), so without it
    * `searchWand` answers each multi-term query on the exact path. */
  val Shapes: Seq[String] = Seq("term_head", "term_tail", "and2", "and3", "or",
    "filter", "not", "page2", "wand_and2", "wand_or")

  /** Base corpus: per-call cost at this size is set by Spark job count and
    * driver planning (as it is at 200k docs), and three set-ups plus the
    * timed window still fit one run on a 4-core machine. */
  val BaseDocs = 2000L
  val AppendDocs = 1000
  val DeleteDocs = 50
  val SetupReps = 3
  val K = 10
  val BatchSize = 20
  /** serve's pages per shape checked against the exact path. */
  val SamplesPerShape = 2
  /** Shapes that `searchWand` answers off the exact path: unrestricted
    * single-term top-k and the WAND pipeline. The others are answered by
    * `search` itself, so comparing them with it would prove nothing. */
  val VerifiedShapes = Set("term_head", "term_tail", "page2", "wand_and2", "wand_or")
  /** serve's closed-loop clients, at most one per core. After the warm-up,
    * 4 clients answered no more requests per second than 2 on a 4-core
    * machine, and each request took twice as long. */
  val Clients = 2
  /** ingest's timed cycles, at least: a cycle takes 9-13 s on a 4-core
    * machine, so a window of whole cycles would otherwise hold one or two
    * of them depending on host speed, and each flip would move
    * freshness. */
  val MinCycles = 2
  /** ingest's reader pool: small enough that every reopen's refill stays
    * a minor load beside the writer. */
  val HotQueries = 4
  /** Pause between the ingest reader's requests: most of them hit the
    * result LRU in well under a millisecond, and without a pause the
    * reader would spin on one of the 4 cores the writer needs. */
  val ReaderThinkMs = 20L
  /** serve's untimed closed-loop requests before its window. The first
    * third of a window opened after about 10 of them ran a quarter slower
    * than the rest; after 30 (about 12 s on a 4-core machine) the
    * window's requests hold level. */
  val WarmupRequests = 30

  /** Content bytes (html + text) of a corpus written by [[baseIndex]]. */
  def contentBytes(c: Ctx, corpus: String): Long = {
    val r = c.spark.read.parquet(corpus)
      .agg(sum(octet_length(col("html"))), sum(octet_length(col("text")))).head()
    r.getLong(0) + (if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def dirBytes(p: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p))

  /** One set-up: the seeded corpus written as parquet (the input a user
    * would have), `buildFull` over it, and a Searcher opened on it. */
  def baseIndex(c: Ctx, seed: Long, n: Long, name: String): Base = {
    val corpus = c.path(s"corpus-$name")
    c.rmrf(corpus)
    c.span("writeCorpus")(WebtextGen.df(c.spark, seed, n).write.parquet(corpus))
    val root = c.path(s"index-$name")
    c.rmrf(root)
    val rep = c.span("buildFull")(IndexBuilder.buildFull(c.spark,
      c.spark.read.parquet(corpus), c.dict, root, c.cfg(n),
      s"webtext(seed=$seed,n=$n)"))
    val t0 = System.nanoTime()
    val s = c.span("open") {
      val s = new Searcher(c.spark, root, c.dict)
      s.numDocs // materialises the dead-set and stats caches
      s
    }
    Base(s, root, rep, corpus, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs the set-up SetupReps times and reports the median wall time as
    * setup_s; the last repetition is what the workload uses. */
  def setup(c: Ctx): Base = {
    var out: Option[Base] = None
    (0 until SetupReps).foreach { r =>
      out.foreach(_.searcher.close(0L))
      val t0 = System.nanoTime()
      out = Some(baseIndex(c, c.seed, BaseDocs, s"setup-$r"))
      c.setupSec += (System.nanoTime() - t0) / 1e9
    }
    c.e2e("setup_s") = (Stats.median(c.setupSec.toSeq), "s")
    out.get
  }

  /** The built index serves every input doc and, when `audit`, passes
    * IndexCheck (a full audit costs ~3 s, so only traced runs make it). */
  def checkIndex(c: Ctx, b: Base, audit: Boolean): Unit =
    timed(c, "index_check_s")(c.ops.attempt("index_check") {
      (if (audit) IndexCheck.check(c.spark, b.root).count() else 0L, b.searcher.numDocs)
    } { case (issues, live) =>
      if (issues != 0) Some(s"IndexCheck: $issues issues")
      else if (live != BaseDocs) Some(s"numDocs $live != $BaseDocs")
      else None
    })

  /** Runs the tasks on `threads` threads and waits for all of them. */
  private def par(threads: Int)(tasks: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Seeded query pool shaped from term_stats df bands. */
  def queryPool(s: Searcher, rnd: Random, size: Int): IndexedSeq[Q] = {
    val byDf = s.termStats.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter { case (t, df) => df >= 2 && t.forall(_.isLetterOrDigit) }
      .sortBy { case (t, df) => (-df, t) }.map(_._1)
    require(byDf.length >= 100, s"vocabulary too small for the query pool: ${byDf.length}")
    val head = byDf.take(20)
    val mid = byDf.slice(20, math.min(400, byDf.length / 2))
    val tail = byDf.takeRight(byDf.length / 2)
    def pick(a: Array[String]) = a(rnd.nextInt(a.length))
    IndexedSeq.tabulate(size) { i =>
      Shapes(i % Shapes.size) match {
        case "term_head" => Q("term_head", pick(head), true, None, None, 0)
        case "term_tail" => Q("term_tail", pick(tail), true, None, None, 0)
        case "and2" => Q("and2", s"${pick(mid)} ${pick(mid)}", true, None, None, 0)
        case "and3" => Q("and3", s"${pick(head)} ${pick(mid)} ${pick(mid)}", true, None, None, 0)
        case "or" => Q("or", s"${pick(mid)} ${pick(tail)}", false, None, None, 0)
        case "filter" => Q("filter", pick(mid), true,
          Some(if (rnd.nextBoolean()) "ko" else "de"), None, 0)
        case "not" => Q("not", pick(head), true, None, Some(pick(mid)), 0)
        case "page2" => Q("page2", pick(mid), true, None, None, K)
        case "wand_and2" =>
          Q("wand_and2", s"${pick(head)} ${pick(mid)}", true, None, None, 0, forceWand = true)
        case _ => Q("wand_or", s"${pick(head)} ${pick(tail)}", false, None, None, 0,
          forceWand = true)
      }
    }
  }

  /** Index of the `k`-th draw from `n` sorted items by the golden-ratio
    * sequence: any run of consecutive draws spreads evenly over the
    * range, so every window samples each shape from cheap to dear alike,
    * where random draws made the window's cost depend on the seed. */
  def evenly(k: Int, n: Int): Int = ((k * 0.6180339887498949 % 1.0) * n).toInt

  private def page(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => r.getLong(0) -> r.getDouble(1)).toSeq

  private def wand(s: Searcher, q: Q) =
    if (q.forceWand) s.searchWand(q.text, K, q.start, q.conjunctive, q.filter,
      wandMinDf = 0L, notQuery = q.not)
    else s.searchWand(q.text, K, q.start, q.conjunctive, q.filter, notQuery = q.not)

  private def exact(s: Searcher, q: Q): Seq[(Long, Double)] =
    page(s.search(q.text, K, q.start, q.conjunctive, q.filter, q.not).collect())

  /** live_heap_mb: heap in use after full GCs at the end of the window. */
  private def liveHeap(c: Ctx): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // unpersists and cleaner work finish asynchronously: take the least of
    // a few collections
    val used = (0 until 4).map { _ =>
      System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed
    }.min
    c.e2e("live_heap_mb") = (used / 1048576.0, "MB")
  }

  private def timed[T](c: Ctx, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally c.info(name) = f"${(System.nanoTime() - t0) / 1e9}%.3f"
  }

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** index.*: build phases from the reports, and per build call the
    * median listener totals of the spans named `spanName`. */
  private def indexLayer(c: Ctx, reports: Seq[IndexBuilder.BuildReport],
                         spanName: String, inputBytes: Long,
                         indexBytes: Long): Unit = {
    Seq("analyze_docstore", "term_stats", "collection_stats",
      "postings_encode_write", "manifest_and_counts").foreach { p =>
      c.layer(s"index.phase_s.$p") =
        (med(reports.flatMap(_.phases.collect { case (n, ms) if n == p => ms / 1e3 })), "s")
    }
    c.layer("index.build_docs_per_s") =
      (med(reports.map(r => r.docCount / math.max(1e-3, r.wallMs / 1e3))), "1/s")
    c.layer("index.bytes_per_input_byte") =
      (indexBytes.toDouble / math.max(1L, inputBytes), "ratio")
    c.drainedJobs.foreach { js =>
      val per = js.groups.toSeq.collect {
        case (g, a) if g.takeWhile(_ != '#') == spanName => a
      }
      c.layer("index.jobs") = (med(per.map(_.jobs.toDouble)), "count")
      c.layer("index.task_cpu_s") = (med(per.map(_.cpuNs / 1e9)), "s")
      c.layer("index.gc_s") = (med(per.map(_.gcMs / 1e3)), "s")
      c.layer("index.input_bytes") = (med(per.map(_.inputBytes.toDouble)), "bytes")
      c.layer("index.shuffle_write_bytes") = (med(per.map(_.shuffleWriteBytes.toDouble)), "bytes")
      c.layer("index.spill_bytes") = (med(per.map(_.spillBytes.toDouble)), "bytes")
    }
  }

  /** store.*: op times, and the snapshot `snap` left by the window. */
  private def storeLayer(c: Ctx, snap: IndexStore.Snapshot, in: Option[Ingester]): Unit = {
    c.layer("store.append_s") = (med(in.toSeq.flatMap(_.appendS)), "s")
    c.layer("store.delete_s") = (med(in.toSeq.flatMap(_.deleteS)), "s")
    c.layer("store.compact_s") = (med(in.toSeq.flatMap(_.compactS)), "s")
    c.layer("store.segments") = (snap.segments.size.toDouble, "count")
    c.layer("store.dead_batches") = (snap.dead.fold(0)(_.size).toDouble, "count")
  }

  /** query.*: latency of the `kind` ops, plan/exec/fetch split, per
    * shape medians, and per-query listener totals. */
  private def queryLayer(c: Ctx, s: Searcher, kind: String, pool: Seq[Q],
                         r: Requests, windowS: Double): Unit = {
    val lat = c.ops.latencies(kind)
    c.layer("query.p50_ms") = (med(lat), "ms")
    val tail = Stats.tail(lat)
    c.layer("query.tail_ms") = (tail.fold(0.0)(_._2), "ms")
    c.info("query_tail_pct") = tail.fold("none")(t => f"${t._1 * 100}%.1f")
    c.info("query_samples") = lat.size.toString
    c.layer("query.per_s") = (c.ops.succeeded(kind) / windowS, "1/s")
    c.layer("query.plan_ms") = (med(r.plan), "ms")
    c.layer("query.exec_ms") = (med(r.exec), "ms")
    c.layer("query.doc_fetch_ms") = (med(r.fetch), "ms")
    Shapes.foreach(sh =>
      c.layer(s"query.p50_ms.$sh") = (med(r.byShape.getOrElse(sh, Nil)), "ms"))
    c.drainedJobs.foreach { js =>
      val q = js.sum(Set("searchWand", "searchCached", "collect", "docCached"))
      val n = math.max(1L, c.ops.attempted(kind)).toDouble
      c.layer("query.jobs_per_query") = (q.jobs / n, "count")
      c.layer("query.tasks_per_query") = (q.tasks / n, "count")
      c.layer("query.task_cpu_ms_per_query") = (q.cpuNs / 1e6 / n, "ms")
      c.layer("query.input_bytes_per_query") = (q.inputBytes / n, "bytes")
    }
    val df = s.termStats.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    c.layer("query.postings_per_query") = (med(pool.map(q =>
      s.analyzeQuery(q.text).distinct.map(df.getOrElse(_, 0L)).sum.toDouble)), "count")
  }

  private def cacheLayer(c: Ctx, ss: Seq[Searcher]): Unit = {
    def ratio(h: Long, m: Long) = if (h + m == 0) 0.0 else h.toDouble / (h + m)
    val rc = ss.map(_.queryResultCache)
    val dc = ss.map(_.documentCache).distinct
    c.layer("cache.result_hit_ratio") = (ratio(rc.map(_.hits).sum, rc.map(_.misses).sum), "ratio")
    c.layer("cache.doc_hit_ratio") = (ratio(dc.map(_.hits).sum, dc.map(_.misses).sum), "ratio")
  }

  /** Timings of successful requests, shared by the client threads. */
  final class Requests {
    val plan, exec, fetch = mutable.ArrayBuffer.empty[Double]
    val byShape = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(q: Q, ms: Double, p: Double, e: Double, f: Double): Unit = synchronized {
      plan += p; exec += e; fetch += f
      byShape.getOrElseUpdate(q.shape, mutable.ArrayBuffer.empty) += ms
    }
  }

  // ---------------------------------------------------------------- serve

  /** Read-only closed loop of [[Clients]] clients (Searcher callers block
    * on the reply). A request is `searchWand`, the collect of its page,
    * then `docCached` of the page's ids, drawn from a pool far larger than
    * the 128-entry result LRU. Requests take the query shapes in one
    * round-robin order shared by the clients, so every window's shape mix
    * is balanced to within one request, whatever the seed; within a shape
    * they are drawn [[evenly]] over its queries sorted by postings read.
    *
    * The loop runs [[WarmupRequests]] untimed `warmup` requests first
    * (client 0 opens with one `searchBatch` of 20 AND queries), so code
    * generation and JIT are done and the load is steady when the timed
    * window starts. A client past the deadline keeps sending untimed
    * `drain` requests until every client's last timed request has ended,
    * so the last timed requests meet the same load as the others. Traced
    * runs time one more batch alone after the window: inside it, a batch
    * slows the requests it overlaps by about a quarter. Then the first
    * [[SamplesPerShape]] pages of each of the [[VerifiedShapes]] are
    * compared with the exact `search` path, and each batch's first query
    * with its exact page. */
  def serve(c: Ctx): Unit = {
    val b = setup(c)
    checkIndex(c, b, audit = c.tracer.enabled)
    val s = b.searcher
    val pool = queryPool(s, new Random(c.seed * 31 + 7), 2000)
    val df = s.termStats.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each shape's queries by postings read (Σ df), cheapest first
    val byShape = pool.groupBy(_.shape).view.mapValues(_.sortBy(q =>
      (q.text.split(' ').map(df.getOrElse(_, 0L)).sum, q.text))).toMap
    val andPool = pool.filter(q => q.conjunctive && q.lang.isEmpty && q.not.isEmpty && q.start == 0)
    val reqs = new Requests
    val samples = mutable.ArrayBuffer.empty[(Q, Int, Seq[(Long, Double)])]
    val batches = mutable.ArrayBuffer.empty[(String, Int, Map[String, String], Array[Row])]
    val shapeAt = mutable.ArrayBuffer.empty[(String, Int)]
    val nextShape = new AtomicInteger(0)

    /** One request of the next shape. A timed one (`kind` "request") is
      * traced call by call and joins the window's samples; an untimed one
      * is traced as one span, so it adds nothing to the query.* numbers. */
    def request(kind: String): Unit = {
      val timedReq = kind == "request"
      def sp[T](name: String)(f: => T): T = if (timedReq) c.span(name)(f) else f
      val i = nextShape.getAndIncrement()
      val shaped = byShape(Shapes(i % Shapes.size))
      val q = shaped(evenly(i / Shapes.size, shaped.size))
      val req = c.tracer.newRequest()
      val tq = System.nanoTime()
      var tPlan, tExec, tFetch = 0.0
      val res = try Right(c.span(kind, req) {
        val a = System.nanoTime()
        val df = sp("searchWand")(wand(s, q))
        val b = System.nanoTime()
        val rows = sp("collect")(df.collect())
        val d = System.nanoTime()
        val docs = sp("docCached")(s.docCached(rows.map(_.getLong(0)).toSeq))
        tPlan = (b - a) / 1e6; tExec = (d - b) / 1e6; tFetch = (System.nanoTime() - d) / 1e6
        (rows, docs)
      }) catch { case e: Exception => Left(e.toString) }
      val ms = (System.nanoTime() - tq) / 1e6
      val err = res match {
        case Left(e) => Some(s"exception: $e")
        case Right((rows, docs)) if docs.size != rows.length =>
          Some(s"docCached returned ${docs.size} of ${rows.length} docs")
        case _ => None
      }
      val pos = c.ops.record(kind, ms, err)
      if (timedReq) {
        shapeAt.synchronized(shapeAt += (q.shape -> pos))
        if (err.isEmpty) reqs.add(q, ms, tPlan, tExec, tFetch)
        if (VerifiedShapes(q.shape)) res.foreach { case (rows, _) =>
          samples.synchronized {
            if (samples.count(_._1.shape == q.shape) < SamplesPerShape)
              samples += ((q, pos, page(rows)))
          }
        }
      }
    }

    def batch(rnd: Random, kind: String): Unit = {
      val qs = (0 until BatchSize).map(j => s"b$j" -> andPool(rnd.nextInt(andPool.size)).text).toMap
      val req = c.tracer.newRequest()
      val tb = System.nanoTime()
      // only the timed batch's jobs count towards query.batch_jobs
      val res = try Right(c.span(if (kind == "batch") "searchBatch" else kind, req)(
        s.searchBatch(qs, K).collect()))
        catch { case e: Exception => Left(e.toString) }
      val err = res match {
        case Left(e) => Some(s"exception: $e")
        case Right(rows) if !rows.forall(r => qs.contains(r.getString(0))) =>
          Some("batch returned an unknown query id")
        case _ => None
      }
      val pos = c.ops.record(kind, (System.nanoTime() - tb) / 1e6, err)
      res.foreach(rows => batches.synchronized(batches += ((kind, pos, qs, rows))))
    }

    val clients = math.min(Clients, c.nproc)
    c.info("clients") = clients.toString
    // clients still sending timed requests; the last one to stop ends the
    // window
    val timing = new AtomicInteger(clients)
    val warmLeft = new AtomicInteger(WarmupRequests)
    // the window opens when the first client finds the warm-up done
    val start = new java.util.concurrent.atomic.AtomicLong(0L)
    var t1 = 0L
    val threads = (0 until clients).map { ci =>
      new Thread(() => {
        if (ci == 0) batch(new Random(c.seed * 1000), "warmup_batch")
        while (warmLeft.getAndDecrement() > 0) request("warmup")
        start.compareAndSet(0L, System.nanoTime())
        val deadline = start.get + (c.seconds * 1e9).toLong
        var timingHere = true
        while (timingHere || timing.get > 0) {
          if (timingHere && System.nanoTime() >= deadline) {
            timingHere = false
            if (timing.decrementAndGet() == 0) t1 = System.nanoTime()
          }
          if (timingHere) request("request")
          else if (timing.get > 0) request("drain")
        }
      }, s"bench-client-$ci")
    }
    val tLoop = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    c.info("warmup_s") = f"${(start.get - tLoop) / 1e9}%.3f"
    val windowS = (t1 - start.get) / 1e9
    c.info("window_s") = f"$windowS%.3f"
    c.info("drain_s") = f"${(System.nanoTime() - t1) / 1e9}%.3f"
    liveHeap(c)
    if (c.tracer.enabled) batch(new Random(c.seed * 1000 + 77), "batch")
    // correctness: WAND pages are bit-identical to the exact path, and a
    // batch page to the query's exact page
    val tv = System.nanoTime()
    par(c.nproc)(samples.toSeq.map { case (q, pos, got) => () =>
      if (got != exact(s, q)) c.ops.failLate("request", pos, s"searchWand != search for $q")
    })
    batches.foreach { case (kind, pos, qs, rows) =>
      qs.toSeq.sortBy(_._1).take(1).foreach { case (id, text) =>
        val got = rows.filter(_.getString(0) == id)
          .map(r => r.getLong(1) -> r.getDouble(2)).sortBy(p => (-p._2, p._1)).toSeq
        if (got != page(s.search(text, K).collect()))
          c.ops.failLate(kind, pos, s"searchBatch != search for '$text'")
      }
    }
    c.info("verify_s") = f"${(System.nanoTime() - tv) / 1e9}%.3f"
    c.info("requests") = c.ops.attempted("request").toString
    c.info("request_ms") = c.ops.latencies("request").sorted.map(_.round).mkString(" ")
    c.info("warmups") = c.ops.attempted("warmup").toString
    c.info("drains") = c.ops.attempted("drain").toString
    c.info("shape_ms") = { val l = c.ops.latencies("request")
      shapeAt.map { case (sh, p) => s"$sh:${l(p).round}" }.mkString(" ") }
    c.info("verified_samples") = samples.size.toString
    val lat = c.ops.latencies("request")
    val byShapeMs = shapeAt.toSeq.groupBy(_._1).values.map(_.map(p => lat(p._2)))
    c.info("shapes_timed") = byShapeMs.size.toString
    c.e2e("op_p50_ms") = (Stats.balancedMedian(byShapeMs), "ms")
    c.e2e("work_per_s") = (c.ops.succeeded("request") / windowS, "1/s")
    if (c.tracer.enabled) {
      queryLayer(c, s, "request", pool, reqs, windowS)
      val bl = c.ops.latencies("batch")
      c.layer("query.batch_s") = (med(bl) / 1e3, "s")
      c.layer("query.batch_queries_per_s") = (BatchSize * c.ops.succeeded("batch") /
        math.max(1e-9, bl.filterNot(_.isInfinite).sum / 1e3), "1/s")
      c.drainedJobs.foreach { js =>
        c.layer("query.batch_jobs") = (js.sum(_ == "searchBatch").jobs.toDouble /
          math.max(1L, c.ops.attempted("batch")), "count")
      }
      c.layer("query.open_s") = (b.openS, "s")
      c.layer("query.reopen_s") = (0.0, "s")
      c.layer("query.first_query_after_reopen_s") = (0.0, "s")
      cacheLayer(c, Seq(s))
      indexLayer(c, Seq(b.report), "buildFull", contentBytes(c, b.corpus), dirBytes(b.root))
      storeLayer(c, s.snapshot, None)
      c.layer ++= Layers.codec(c.spark, b.root, "seg-000000", 300)
    }
    s.close(0L)
  }

  // ---------------------------------------------------------------- ingest

  /** Writes on an index while readers use it. Each cycle appends fresh
    * urls plus ~10% upserts of existing urls, deletes a few urls, reopens
    * the searcher, and checks that the reopened searcher serves the new
    * state of every url the cycle touched. */
  final class Ingester(c: Ctx, base: Base, baseDocs: Long, firstQuery: String) {
    val current = new AtomicReference[Searcher](base.searcher)
    private val opened = mutable.ArrayBuffer[Searcher](base.searcher)
    private var retired: Option[Searcher] = None
    private val cfg = c.cfg(baseDocs)
    /** url -> Some(warc_ts) when it must be live with that version, None
      * when it must be absent. */
    private val expect = mutable.LinkedHashMap.empty[String, Option[Timestamp]]
    private val untouched = mutable.LinkedHashSet(
      new Random(c.seed * 7 + 1).shuffle((0L until baseDocs).toVector): _*)
    val appendS, deleteS, reopenS, firstS, compactS = mutable.ArrayBuffer.empty[Double]
    val reports = mutable.ArrayBuffer.empty[IndexBuilder.BuildReport]
    var cycles = 0

    def searchers: Seq[Searcher] = opened.toSeq

    private def takeBase(k: Int): Seq[Long] = {
      val xs = untouched.take(k).toVector
      untouched --= xs
      xs
    }
    private def time[T](buf: mutable.ArrayBuffer[Double])(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally buf += (System.nanoTime() - t0) / 1e9
    }
    /** Puts `next` in service. The searcher it replaces stays open for one
      * more swap, so a reader that fetched it just before never finds it
      * closed; the one before that is closed now. */
    private def swap(next: Searcher): Unit = {
      opened += next
      val old = current.getAndSet(next)
      retired.foreach(_.close(0L))
      retired = Some(old)
    }
    /** The first url in `urls` that `s` does not serve as [[expect]]ed. */
    private def visible(s: Searcher, urls: Seq[String]): Option[String] = {
      val probe = urls.map(u => u -> expect(u))
      val live = s.docstore.select("doc_id", "url", "warc_ts")
        .where(col("url").isin(probe.map(_._1): _*))
        .join(s.deadDocs, Seq("doc_id"), "left_anti").collect()
        .map(r => r.getString(1) -> r.getTimestamp(2))
      val got = live.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      probe.collectFirst {
        case (u, Some(ts)) if !got.get(u).contains(Seq(ts)) =>
          s"$u: want live @ $ts, got ${got.get(u)}"
        case (u, None) if got.contains(u) => s"$u: deleted but served ${got(u)}"
      }
    }

    /** One append/delete/reopen/check cycle, recorded as op `kind`; its
      * wall time is the freshness of the cycle's writes. Returns the
      * number of docs the cycle made visible. The check covers every url
    * the cycle appended, upserted or deleted. */
    def cycle(kind: String): Long = {
      val fresh = (0 until AppendDocs * 9 / 10).map(j => baseDocs + cycles.toLong * AppendDocs + j)
      val upsert = takeBase(AppendDocs / 10)
      val dels = takeBase(DeleteDocs)
      val ts = new Timestamp(1767225600000L + (1000000000L + cycles) * 1000L)
      val pages = fresh.map(i => WebtextGen.page(c.seed, i)) ++
        upsert.map(i => WebtextGen.page(c.seed + 1 + cycles, i).copy(warc_ts = ts))
      val delUrls = dels.map(i => WebtextGen.page(c.seed, i).url)
      val batch = c.spark.createDataFrame(pages)
      cycles += 1
      c.ops.attempt(kind) {
        c.span("cycle") {
          reports += time(appendS)(c.span("appendSegment")(IndexBuilder.appendSegment(
            c.spark, batch, c.dict, base.root, cfg)))
          time(deleteS)(c.span("deleteByPk")(IndexBuilder.deleteByPk(c.spark, base.root, delUrls)))
          val next = time(reopenS)(c.span("reopen")(current.get.reopen()))
          time(firstS)(c.span("first_query")(next.searchCached(firstQuery, K)))
          pages.foreach(p => expect(p.url) = Some(p.warc_ts))
          delUrls.foreach(u => expect(u) = None)
          val bad = c.span("visibility_check")(visible(next, pages.map(_.url) ++ delUrls))
          swap(next)
          bad
        }
      }(identity).fold(0L)(_ => (pages.size + delUrls.size).toLong)
    }

    /** `mergeCompact`, then a reopen and the visibility check of every
      * url touched so far. */
    def compact(kind: String): Unit =
      c.ops.attempt(kind) {
        time(compactS)(c.span("mergeCompact")(IndexBuilder.mergeCompact(c.spark,
          base.root, c.dict, cfg)))
        val next = c.span("reopen")(current.get.reopen())
        val bad = visible(next, expect.keys.toSeq)
        swap(next)
        bad
      }(identity)

    def closeAll(): Unit = opened.foreach(_.close(0L))
  }

  /** Writes beside reads: [[Ingester]] cycles back to back while one
    * reader client queries the current searcher from a small hot pool that
    * fits the result LRU (which every reopen empties). The window runs
    * whole cycles until `seconds` have passed and [[MinCycles]] are done.
    * No cycle runs before it: a first cycle costs no more than a later one,
    * because the set-up builds already compiled the write paths. Traced
    * runs add one `mergeCompact` after the window. */
  def ingest(c: Ctx): Unit = {
    val b = setup(c)
    checkIndex(c, b, audit = false)
    val baseBytes = dirBytes(b.root)
    val hot = queryPool(b.searcher, new Random(c.seed * 17 + 3), HotQueries)
    val in = new Ingester(c, b, BaseDocs, hot.head.text)
    val reqs = new Requests
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      val rnd = new Random(c.seed * 1000 + 99)
      while (!stop.get) {
        Thread.sleep(ReaderThinkMs)
        val q = hot(rnd.nextInt(hot.size))
        val s = in.current.get
        val req = c.tracer.newRequest()
        val tq = System.nanoTime()
        var tPlan, tFetch = 0.0
        val res = try Right(c.span("request", req) {
          val a = System.nanoTime()
          val rows = c.span("searchCached")(s.searchCached(q.text, K, q.start,
            q.conjunctive, q.filter))
          val b = System.nanoTime()
          val docs = c.span("docCached")(s.docCached(rows.map(_.getLong(0)).toSeq))
          tPlan = (b - a) / 1e6; tFetch = (System.nanoTime() - b) / 1e6
          (rows, docs)
        }) catch { case e: Exception => Left(e.toString) }
        val ms = (System.nanoTime() - tq) / 1e6
        val err = res match {
          case Left(e) => Some(s"exception: $e")
          case Right((rows, docs)) if docs.size != rows.length =>
            Some(s"docCached returned ${docs.size} of ${rows.length} docs")
          case _ => None
        }
        c.ops.record("read", ms, err)
        if (err.isEmpty) reqs.add(q, ms, tPlan, 0.0, tFetch)
      }
    }, "bench-reader")

    var visibleDocs = 0L
    reader.start()
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    var n = 0
    try {
      while (System.nanoTime() < deadline || n < MinCycles) {
        visibleDocs += in.cycle("cycle")
        n += 1
      }
    } finally {
      stop.set(true)
      reader.join()
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    c.info("window_s") = f"$windowS%.3f"
    liveHeap(c)
    c.info("cycles") = n.toString
    c.info("reads") = c.ops.attempted("read").toString
    c.info("cycle_ms") = c.ops.latencies("cycle").map(_.round).mkString(" ")
    c.e2e("op_p50_ms") = (Stats.median(c.ops.latencies("cycle")), "ms")
    c.e2e("work_per_s") = (visibleDocs / windowS, "1/s")
    if (c.tracer.enabled) {
      val snap = in.current.get.snapshot
      // compaction, once after the window (traced runs): store.compact_s,
      // then the same reopen and visibility check as a cycle
      in.compact("compact")
      queryLayer(c, in.current.get, "read", hot, reqs, windowS)
      c.layer("query.batch_s") = (0.0, "s")
      c.layer("query.batch_queries_per_s") = (0.0, "1/s")
      c.layer("query.batch_jobs") = (0.0, "count")
      c.layer("query.open_s") = (b.openS, "s")
      c.layer("query.reopen_s") = (med(in.reopenS), "s")
      c.layer("query.first_query_after_reopen_s") = (med(in.firstS), "s")
      cacheLayer(c, in.searchers)
      indexLayer(c, in.reports.toSeq, "appendSegment", contentBytes(c, b.corpus), baseBytes)
      storeLayer(c, snap, Some(in))
      c.layer ++= Layers.codec(c.spark, b.root, in.current.get.snapshot.segments.head, 300)
    }
    in.closeAll()
  }
}
