package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.analysis.SynonymDict

/** JSON writer for the result line and the span files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Benchmark entry point. Runs one workload for one seed and prints, as
  * its last stdout line, `RESULT {json}` with the op counts, the metrics
  * of the requested mode and the run environment.
  *
  * Usage: graftbench.Main --workload serve|ingest --seed N
  *          --seconds S --trace 0|1 --out DIR --work DIR */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve" -> graftbench.Workloads.serve,
    "ingest" -> graftbench.Workloads.ingest)

  /** Per-op limit: an op slower than this counts as failed. */
  val OpTimeoutMs = 60000.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' " +
        s"(known: ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    Files.createDirectories(out)
    Files.createDirectories(work)

    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = if (traced) Some(new JobStats) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced, Some(spark.sparkContext))
    val ops = new OpLog(OpTimeoutMs)
    val dict = {
      val in = getClass.getResourceAsStream("/synonyms.txt")
      try SynonymDict.parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector)
      finally in.close()
    }
    val c = new Ctx(spark, seed, seconds, tracer, jobs, ops, work, dict, nproc)

    var crash: Option[Throwable] = None
    val t0 = System.nanoTime()
    try run(c) catch { case e: Throwable => crash = Some(e) }
    c.info("workload_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    val attempted = ops.attempted
    val failed = ops.failed
    c.e2e("ops_ok_ratio") =
      (if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted, "ratio")

    if (traced) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val js = jobs.get
      val all = js.sum(_ => true)
      c.layer("spark.jobs") = (all.jobs.toDouble, "count")
      c.layer("spark.task_cpu_s") = (all.cpuNs / 1e9, "s")
      c.layer("spark.gc_s") = (all.gcMs / 1e3, "s")
      c.layer("spark.task_wait_ms") =
        (if (all.taskWaitMs.isEmpty) 0.0 else Stats.median(all.taskWaitMs.toSeq), "ms")
      c.layer("trace.op_p50_ms") = c.e2e.getOrElse("op_p50_ms", (0.0, "ms"))
      c.layer("trace.work_per_s") = c.e2e.getOrElse("work_per_s", (0.0, "1/s"))
      c.layer ++= Layers.analysis(seed, 2000, dict, 300)
      tracer.writeJsonl(out.resolve(s"spans-$workload-seed$seed.jsonl"))
      c.info("spans") = tracer.all.size.toString
    }
    spark.stop()

    // a metric of failed ops only is +Inf: report the largest finite value
    val metrics = (if (traced) c.layer else c.e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> (if (v.isInfinite) math.copySign(Double.MaxValue, v) else v),
        "unit" -> u)
    }
    val correct = crash.isEmpty && failed == 0 && attempted > 0
    val env = Map(
      "nproc" -> nproc, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_samples_s" -> c.setupSec.toSeq,
      "ops" -> ops.kindNames.map(k => k -> Map("attempted" -> ops.attempted(k),
        "failed" -> ops.failed(k))).toMap,
      "errors" -> ops.errors, "info" -> c.info,
      "crash" -> crash.map(_.toString).getOrElse(""))
    crash.foreach(_.printStackTrace())
    println("RESULT " + Json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "env" -> env)))
  }
}
