package graftbench

/** Tests of the benchmark's own rules: the tail-percentile rule, op and
  * failure accounting, and span self time. Exits non-zero on a failure.
  * Run with `python3 perfbench/test.py`. */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit =
    try { if (cond) passed += 1 else failures += name }
    catch { case e: Exception => failures += s"$name: $e" }

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  def percentileRule(): Unit = {
    check("p95 needs 10 samples beyond it: n=200 qualifies")(
      Stats.tail(samples(200)) == Some(0.95 -> 190.0))
    check("n=199 leaves 9 beyond p95, so the tail is p90")(
      Stats.tail(samples(199)).map(_._1) == Some(0.9))
    check("n=1000 reaches p99")(Stats.tail(samples(1000)).map(_._1) == Some(0.99))
    check("n=20 reaches only p50")(Stats.tail(samples(20)) == Some(0.5 -> 10.0))
    check("n=19 has no percentile with 10 beyond")(Stats.tail(samples(19)).isEmpty)
    check("empty sample has no tail")(Stats.tail(Nil).isEmpty)
    check("n=100 reaches p90, not p95")(Stats.tail(samples(100)) == Some(0.9 -> 90.0))
    check("input order does not matter")(
      Stats.tail(samples(200).reverse) == Some(0.95 -> 190.0))
    check("median of even and odd samples")(
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    check("balanced median weighs every group the same")(
      Stats.balancedMedian(Seq(Seq(1.0, 2.0, 3.0, 4.0, 5.0), Seq(10.0))) == 6.5)
    check("a group whose median failed makes the balanced median +Inf")(
      Stats.balancedMedian(Seq(Seq(1.0), Seq(2.0, Double.PositiveInfinity))).isInfinite)
  }

  def failureCounting(): Unit = {
    val log = new OpLog(timeoutMs = 50)
    val ok = log.attempt("q")(7)(_ => None)
    val wrong = log.attempt("q")(8)(v => if (v != 7) Some("wrong answer") else None)
    val boom = log.attempt[Int]("q")(throw new IllegalStateException("boom"))(_ => None)
    val slow = log.attempt("q") { Thread.sleep(80); 7 }(_ => None)
    check("a right answer is returned")(ok == Some(7))
    check("wrong answer, exception and timeout return nothing")(
      wrong.isEmpty && boom.isEmpty && slow.isEmpty)
    check("every attempt is counted")(log.attempted("q") == 4 && log.attempted == 4)
    check("wrong answer, exception and timeout each fail")(log.failed("q") == 3)
    check("failures stay in the latency sample as +Inf")(
      log.latencies("q").size == 4 && log.latencies("q").count(_.isInfinite) == 3)
    check("errors are described")(log.errors("q").exists(_.contains("timeout")) &&
      log.errors("q").exists(_.contains("boom")) &&
      log.errors("q").exists(_.contains("wrong answer")))

    val timed = new OpLog(timeoutMs = 50)
    val fast = timed.record("r", 20.0, None)
    val slowRec = timed.record("r", 80.0, None)
    check("an op timed elsewhere fails when slower than the timeout")(
      timed.attempted("r") == 2 && timed.failed("r") == 1 &&
        timed.latencies("r") == Seq(20.0, Double.PositiveInfinity) &&
        timed.errors("r").exists(_.contains("timeout")) && fast == 0 && slowRec == 1)

    val late = new OpLog(timeoutMs = 1000)
    val p0 = late.record("r", 5.0, None)
    late.record("r", 6.0, None)
    late.failLate("r", p0, "page differs from the exact path")
    late.failLate("r", p0, "page differs from the exact path")
    check("a late check turns a success into one failure")(
      late.attempted("r") == 2 && late.failed("r") == 1 && late.succeeded("r") == 1)
    check("the late failure replaces its own timing")(
      late.latencies("r") == Seq(Double.PositiveInfinity, 6.0))

    val mixed = new OpLog(timeoutMs = 1000)
    (1 to 189).foreach(i => mixed.record("m", 1.0, None))
    (1 to 11).foreach(_ => mixed.record("m", 1.0, Some("refused")))
    check("failures count as missing any latency limit")(
      Stats.tail(mixed.latencies("m")).exists(_._2.isInfinite))
  }

  def spanSelfTime(): Unit = {
    def sp(id: Long, a: Long, b: Long, parent: Long) = Span(id, "s", a, b, parent, 1L)
    val parent = sp(1, 0, 100, 0)
    check("overlapping children count once")(
      Span.selfNs(parent, Seq(sp(2, 10, 30, 1), sp(3, 20, 50, 1), sp(4, 60, 70, 1))) == 50)
    check("children are clipped to the parent")(
      Span.selfNs(parent, Seq(sp(2, 90, 120, 1), sp(3, -5, 5, 1))) == 85)
    check("no children: self time is the duration")(Span.selfNs(parent, Nil) == 100)
    val all = Seq(parent, sp(2, 10, 40, 1), sp(3, 15, 25, 2), sp(4, 50, 60, 1))
    check("self time uses direct children only")(
      Span.selfTimes(all) == Map(1L -> 60L, 2L -> 20L, 3L -> 10L, 4L -> 10L))

    val t = new Tracer(enabled = true, sc = None)
    val req = t.newRequest()
    val v = t.span("outer", req) { t.span("inner")(Thread.sleep(5)); 1 }
    val ss = t.all
    val outer = ss.find(_.name == "outer").get
    val inner = ss.find(_.name == "inner").get
    check("span returns its body's value")(v == 1)
    check("nested span records its parent and request")(
      inner.parent == outer.id && inner.request == req && outer.request == req)
    check("parent self time excludes the child")(
      Span.selfTimes(ss)(outer.id) == outer.durNs - inner.durNs)
    val q = new Tracer(enabled = true, sc = None)
    q.span("say \"hi\"\n")(())
    check("span names are escaped in the span lines")(
      q.jsonLines.head.contains("\"name\":\"say \\\"hi\\\"\\n\""))
    val off = new Tracer(enabled = false, sc = None)
    check("a disabled tracer records nothing")(off.span("x")(3) == 3 && off.all.isEmpty)
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    failureCounting()
    spanSelfTime()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
