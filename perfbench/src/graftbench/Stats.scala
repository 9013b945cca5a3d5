package graftbench

import scala.collection.mutable

/** Sample statistics and op accounting for the benchmark. */
object Stats {

  /** Percentile levels tried for a tail, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** 1-based nearest-rank index of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the `p`-th percentile of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Nearest-rank percentile of a sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** Highest level of [[TailLadder]] with at least `minBeyond` samples
    * beyond it, and its value: a tail read off fewer samples is one
    * outlier's value. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => xs.nonEmpty && beyond(xs.size, p) >= minBeyond)
      .map(p => p -> percentile(xs, p))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of each group, averaged with equal weight: the p50 of a mix
    * in which every group counts the same, whatever share of the samples
    * it drew. A mix of groups with far apart latencies has its overall
    * median at a group boundary, where one sample more or less of a group
    * moves it by the gap between groups. */
  def balancedMedian(groups: Iterable[Seq[Double]]): Double = {
    require(groups.nonEmpty, "balanced median of no groups")
    groups.map(median).sum / groups.size
  }
}

/** Attempted and failed ops by type. Every attempt is counted; an
  * exception, a timeout or a wrong answer makes it a failure. A failure
  * keeps its place in the latency sample as +Inf, so it is never dropped
  * from a total and always counts as missing any latency limit. */
final class OpLog(timeoutMs: Double) {
  private final class Kind {
    var attempted = 0L
    var failed = 0L
    val latMs = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
  }
  private val kinds = mutable.LinkedHashMap.empty[String, Kind]

  /** Runs `op`, timing it; `check` returns None for a right answer or a
    * description of what was wrong. Exceptions are caught and counted. */
  def attempt[T](kind: String)(op: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res: Either[String, T] =
      try Right(op) catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = judge(ms, res match {
      case Left(err) => Some(s"exception: $err")
      case Right(v) => try check(v) catch { case e: Exception => Some(s"check threw: $e") }
    })
    record(kind, ms, verdict)
    if (verdict.isEmpty) res.toOption else None
  }

  /** `error`, or a timeout when an otherwise good op took too long. */
  private def judge(ms: Double, error: Option[String]): Option[String] =
    error.orElse(if (ms > timeoutMs) Some(f"timeout: $ms%.0f ms > $timeoutMs%.0f ms") else None)

  /** Records an op timed elsewhere; `error` = None means it answered
    * right, and it still fails when slower than the timeout. Returns the
    * sample's position for a later [[failLate]]. */
  def record(kind: String, ms: Double, error: Option[String]): Int = synchronized {
    val k = kinds.getOrElseUpdate(kind, new Kind)
    k.attempted += 1
    judge(ms, error) match {
      case None => k.latMs += ms
      case Some(e) =>
        k.failed += 1
        k.latMs += Double.PositiveInfinity
        if (k.errors.size < 5) k.errors += e
    }
    k.latMs.size - 1
  }

  /** A check made after the op was timed: turns the success recorded at
    * `pos` into a failure when its answer proves wrong. */
  def failLate(kind: String, pos: Int, error: String): Unit = synchronized {
    val k = kinds(kind)
    if (!k.latMs(pos).isInfinite) {
      k.failed += 1
      k.latMs(pos) = Double.PositiveInfinity
      if (k.errors.size < 5) k.errors += error
    }
  }

  def attempted: Long = synchronized(kinds.values.map(_.attempted).sum)
  def failed: Long = synchronized(kinds.values.map(_.failed).sum)
  def attempted(kind: String): Long = synchronized(kinds.get(kind).fold(0L)(_.attempted))
  def failed(kind: String): Long = synchronized(kinds.get(kind).fold(0L)(_.failed))
  def succeeded(kind: String): Long = attempted(kind) - failed(kind)
  /** Latencies of every attempt of `kind`, failures as +Inf. */
  def latencies(kind: String): Seq[Double] =
    synchronized(kinds.get(kind).fold(Seq.empty[Double])(_.latMs.toVector))
  def kindNames: Seq[String] = synchronized(kinds.keys.toVector)
  def errors: Map[String, Seq[String]] =
    synchronized(kinds.collect { case (n, k) if k.errors.nonEmpty => n -> k.errors.toVector }.toMap)
}
