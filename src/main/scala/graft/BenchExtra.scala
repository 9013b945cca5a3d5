package graft

import graft.analysis.SynonymDict
import graft.index.{IndexBuilder, WebtextGen}
import org.apache.spark.sql.SparkSession

/** Round-6 optimization measurement harness (guide §1). NOT the driver
  * contract — `Bench` stays frozen; this main exists so individual
  * battery entries, plans and build phases can be measured in isolation
  * without touching the frozen methodology.
  *
  * Modes:
  *  - `battery [reps] [name ...]` — time `SparkEntry.queries(name)`
  *    exactly as Bench does (`.count()` on the returned frame), `reps`
  *    times each, on a fresh Bench-identical session; prints per-entry
  *    seconds (all samples).
  *  - `plans <outDir> [name ...]` — write `.explain("formatted")` of each
  *    entry's returned frame to `<outDir>/<name>.txt`.
  *  - `build <nDocs> [v2|v3] [reps]` — run `IndexBuilder.buildFull` over
  *    the Bench generator input and print the per-phase breakdown.
  */
object BenchExtra {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
    catch { case _: Exception => "?" }

  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(cores)
    // builds and battery entries only: serving plans never run adaptive
    if (sys.env.contains("BX_NOAQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    println(s"[benchextra] loadavg ${loadAvg()}")
    args.headOption.getOrElse("battery") match {

      case "battery" =>
        val rest = args.drop(1)
        val (reps, names0) = rest.headOption.flatMap(_.toIntOption) match {
          case Some(r) => (r, rest.drop(1).toSeq)
          case None => (1, rest.toSeq)
        }
        val names =
          if (names0.nonEmpty) names0 else SparkEntry.queries.keys.toSeq.sorted
        // per-entry job telemetry: count + summed job wall so fixed
        // scheduler cost (N jobs × ~0.1-0.3 s local) is visible per entry
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val jobNanos = new java.util.concurrent.atomic.AtomicLong(0)
        val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val jobLog = sys.env.contains("BX_JOBLOG")
        val jobDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet()
              if (jobLog) {
                val cs = e.stageInfos.lastOption.map(_.name).getOrElse("?")
                  .replace('\n', ' ')
                jobDesc.put(e.jobId, cs.take(100)); ()
              }
              jobStart.put(e.jobId, System.nanoTime()); ()
            }
            override def onJobEnd(
                e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val t0 = jobStart.remove(e.jobId)
              if (t0 != 0L) {
                val dt = System.nanoTime() - t0
                jobNanos.addAndGet(dt)
                if (jobLog) println(
                  f"[bxjob] ${e.jobId}%4d ${dt / 1e9}%7.3f  ${jobDesc.getOrDefault(e.jobId, "?")}")
                ()
              }
            }
          })
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          val samples = (1 to reps).map { _ =>
            jobs.set(0); jobNanos.set(0)
            spark.sparkContext.setJobDescription(s"benchextra:$n")
            val w = time(fn(spark, sfDir).count())
            f"$w%.3f (${jobs.get}%d jobs, ${jobNanos.get / 1e9}%.2f js)"
          }
          println(f"[benchextra] $n%-24s ${samples.mkString("  ")}")
        }

      case "plans" =>
        val outDir = args(1)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$n.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[benchextra] wrote $outDir/$n.txt")
        }

      case "build" =>
        if (sys.env.contains("BX_JOBLOG")) {
          val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          val jobDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
          spark.sparkContext.addSparkListener(
            new org.apache.spark.scheduler.SparkListener {
              override def onJobStart(
                  e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
                jobDesc.put(e.jobId, e.stageInfos.lastOption.map(_.name)
                  .getOrElse("?").replace('\n', ' ').take(90))
                jobStart.put(e.jobId, System.nanoTime()); ()
              }
              override def onJobEnd(
                  e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
                val t0 = jobStart.remove(e.jobId)
                if (t0 != 0L) println(f"[bxjob] ${e.jobId}%4d " +
                  f"${(System.nanoTime() - t0) / 1e9}%7.3f  " +
                  jobDesc.getOrDefault(e.jobId, "?"))
              }
            })
        }
        // BX_PROF: sample executor-task stacks in-process (jstack/attach
        // are unavailable in the sandbox) and print the hottest frames
        if (sys.env.contains("BX_PROF")) {
          val hits = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
          val t = new Thread(() => {
            while (true) {
              Thread.sleep(29)
              val stacks = Thread.getAllStackTraces
              stacks.forEach { (th, frames) =>
                if (th.getName.startsWith("Executor task launch")) {
                  // deepest graft/spark frame below the generic runners
                  val f = frames.find { fr =>
                    val c = fr.getClassName
                    c.startsWith("graft.") ||
                      c.startsWith("org.apache.parquet") ||
                      c.startsWith("org.apache.spark.sql.execution") ||
                      c.startsWith("org.apache.spark.shuffle") ||
                      c.startsWith("org.apache.spark.util.collection") ||
                      c.startsWith("net.jpountz") || c.startsWith("org.xerial")
                  }
                  val key = f.map(fr => fr.getClassName + "." + fr.getMethodName)
                    .getOrElse {
                      // no recognized frame: name the first non-JDK frame
                      // so exception-throwing / third-party hotspots are
                      // attributable, falling back to the top frame
                      val alt = frames.find { fr =>
                        val c = fr.getClassName
                        !c.startsWith("java.") && !c.startsWith("jdk.") &&
                          !c.startsWith("sun.")
                      }.orElse(frames.headOption)
                      alt.map(fr => "other:" + fr.getClassName + "." + fr.getMethodName)
                        .getOrElse("idle")
                    }
                  hits.computeIfAbsent(key,
                    _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
                }
              }
            }
          })
          t.setDaemon(true)
          t.start()
          Runtime.getRuntime.addShutdownHook(new Thread(() => {
            import scala.jdk.CollectionConverters._
            val total = hits.asScala.values.map(_.get).sum.max(1L)
            hits.asScala.toSeq.sortBy(-_._2.get).take(30).foreach { case (k, v) =>
              println(f"[bxprof] ${v.get * 100.0 / total}%5.1f%% $k")
            }
          }))
        }
        val n = args(1).toLong
        val fmt = if (args.length > 2 && args(2) == "v2")
          graft.codec.VarByte.FormatV2 else graft.codec.VarByte.FormatV3
        val reps = if (args.length > 3) args(3).toInt else 1
        val dict = SynonymDict.parse(
          scala.io.Source.fromInputStream(
            getClass.getResourceAsStream("/synonyms.txt"), "UTF-8")
            .getLines().toVector)
        val cfg = IndexBuilder.IndexConfig(numParts = 64, rangeParts = 32,
          saltDf = 1000, saltFanout = 8, formatVersion = fmt)
        def tmp(): String =
          java.nio.file.Files.createTempDirectory("graft-bx-").toString
        // JIT/page-cache warmup (untimed), as Bench does
        IndexBuilder.buildFull(spark, WebtextGen.df(spark, 42L, 2000), dict,
          tmp(), cfg, "bx-warm")
        (1 to reps).foreach { i =>
          val t0 = System.nanoTime()
          val rep = IndexBuilder.buildFull(spark,
            WebtextGen.df(spark, 42L, n), dict, tmp(), cfg, s"bx($i)")
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"[benchextra] build n=$n fmt=v${fmt} wall=$wall%.2f s " +
            f"(${n / wall}%.0f docs/s) loadavg=${loadAvg()}")
          rep.phases.foreach { case (ph, ms) =>
            println(f"[benchextra]   $ph%-24s ${ms / 1000.0}%8.2f s")
          }
        }

      case other => sys.error(s"unknown mode '$other'")
    }
    spark.stop()
  }
}
