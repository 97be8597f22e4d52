package perfbench

import graft.{Fs, GraftSession}
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** A metric as reported: the value, its unit and how many samples it
  * summarises (a median when there are several).
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** The benchmark program. One invocation runs one workload in one JVM on
  * Spark `local[nproc]`, as a closed loop with one client: set-up, input
  * generation, index build, untimed warm-up jobs, then jobs one at a time
  * for `--seconds` (at least four), each followed by its output check
  * outside the timed region. The last stdout line is the result JSON.
  *
  * {{{
  * perfbench.Main --workload feature_tiny --seed 1 --seconds 10 --trace 0 --work DIR [--toy]
  * }}}
  */
object Main {
  private val SetupRepeats = 25
  private val MinJobs = 4
  private implicit val formats: Formats = DefaultFormats

  /** A JSON object that keeps its fields in order. */
  private def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File, toy: Boolean)

  def main(argv: Array[String]): Unit = {
    val code =
      try { println(run(parse(argv))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    def opts(rest: List[String]): Map[String, String] = rest match {
      case "--toy" :: tail => opts(tail) + ("toy" -> "1")
      case k :: v :: tail if k.startsWith("--") => opts(tail) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val o = opts(argv.toList)
    def need(k: String) = o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), o.contains("toy"))
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Fixed single-thread integer work: reads the CPU speed of this run. */
  private def cpuProbe(): Double = time {
    var z = 0L
    var i = 0L
    while (i < 200000000L) { z = (z ^ (z >>> 31)) * 0x9e3779b97f4a7c15L + i; i += 1 }
    z
  }._2

  /** Fixed parquet write then read: reads the storage speed of this run. */
  private def ioProbe(spark: SparkSession, dir: File): Double = time {
    val path = new File(dir, "io_probe").getPath
    spark.range(0L, 300000L).selectExpr("id", "id * 7 AS v", "cast(id AS string) AS s")
      .write.mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path).agg(sum(col("v"))).collect()
  }._2

  def run(a: Args): String = {
    val cpus = Runtime.getRuntime.availableProcessors
    val work = new File(a.work, a.workload)
    Fs.deleteRecursively(work)
    work.mkdirs()
    System.setProperty("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    val w = Workload(a.workload, a.seed, a.toy, work)
    val free = work.getUsableSpace
    if (free < w.diskNeedBytes)
      throw new IllegalStateException(
        s"${a.workload} needs ${w.diskNeedBytes >> 20} MiB of free disk under $work, only ${free >> 20} MiB free")

    val started = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $what")
    System.setProperty("spark.log.level", "WARN")
    val cpuStart = cpuProbe()
    var spark: SparkSession = null
    val buildS = ArrayBuffer.empty[Double]
    val setupS = ArrayBuffer.empty[Double]
    // The first set-up also loads Spark's classes; the median is what a
    // warm JVM pays. A collection before each keeps the previous session's
    // garbage out of the timed region.
    for (_ <- 1 to SetupRepeats) {
      if (spark != null) spark.stop()
      System.gc()
      setupS += time {
        val (s, b) = time(GraftSession.build(cpus, "perfbench"))
        spark = s
        buildS += b
        spark.range(0L, 1000000L).write.format("noop").mode("overwrite").save()
        spark.sql("CREATE DATABASE IF NOT EXISTS perfbench")
      }._2
    }
    phase("set-up done")
    try {
      val t = new Tracer(spark, a.trace)
      val ioStart = ioProbe(spark, work)
      val datagenS = Seq.fill(w.datagenRuns) {
        Fs.deleteRecursively(w.inputDir)
        time(t.span("datagen")(w.generate(spark)))._2
      }
      phase("datagen done")
      val inputFiles = Tree.dataFiles(w.inputDir).size.toLong
      val indexS = Seq.fill(w.indexRuns)(time(t.span("index")(w.index(spark, t)))._2)
      phase("index done")
      w.prepare(spark)
      phase("checks prepared")

      val out = new File(work, "out")
      val jobS, tracedS, untracedS, heapMb, outMb = ArrayBuffer.empty[Double]
      val routes = ArrayBuffer.empty[(String, Double)]
      val failures = ArrayBuffer.empty[String]
      var attempted = 0

      def runJob(timed: Boolean): Unit = {
        attempted += 1
        try {
          Fs.deleteRecursively(out)
          Heap.reset()
          val (r, s) = time(t.span("job")(w.job(spark, t, out)))
          val heap = Heap.peakMb
          phase(f"job $s%.3f s")
          try w.check(spark, out, r)
          finally r.frames.foreach(_.unpersist(blocking = true))
          if (timed) {
            jobS += s
            (if (t.enabled) tracedS else untracedS) += s
            heapMb += heap
            outMb += Tree.bytes(out) / 1e6
            routes ++= w.route(r)
          }
        } catch {
          case e: Throwable =>
            failures += s"${e.getClass.getName}: ${e.getMessage}"
            System.err.println(s"[perfbench] job failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      }

      t.enabled = false
      for (_ <- 1 to w.warmUpJobs) runJob(timed = false)
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      var n = 0
      while (System.nanoTime() < deadline || n < MinJobs) {
        // a traced run alternates traced and untraced jobs: the difference
        // of their medians is the tracing overhead
        t.enabled = a.trace && n % 2 == 0
        runJob(timed = true)
        n += 1
      }
      t.enabled = a.trace
      phase(s"$n timed jobs done")

      val ioEnd = ioProbe(spark, work)
      val cpuEnd = cpuProbe()
      t.close()

      val e2e = Seq(
        Metric("job_s", median(jobS.toSeq), "s", jobS.size),
        Metric("datagen_s", median(datagenS), "s", datagenS.size),
        Metric("index_s", median(indexS), "s", indexS.size),
        Metric("setup_s", median(setupS.toSeq), "s", setupS.size),
        // A job's reading is its live peak plus whatever old-generation
        // garbage the collector had not swept yet, which depends on when
        // the collections fall: it only errs upward, so the lowest reading
        // over the timed jobs is the closest. Over six sets of ten seeds
        // on feature_tiny (4-core VM) its spread (quartiles over median)
        // was 0.07-0.16; that of the median and of the highest reading
        // reached 0.24.
        Metric("peak_heap_mb", heapMb.minOption.getOrElse(0.0), "MB", heapMb.size),
        Metric("out_mb", median(outMb.toSeq), "MB", outMb.size))
      val host = Seq(
        Metric("host.cpu_probe_s", math.max(cpuStart, cpuEnd), "s", 2),
        Metric("host.io_probe_s", math.max(ioStart, ioEnd), "s", 2))
      val layers =
        if (!a.trace) Nil
        else Layers(t, cpus, buildS.toSeq, inputFiles, w.indexFiles, routes.toSeq,
          tracedS.toSeq, untracedS.toSeq) ++ host

      val failed = failures.size
      val context = Seq(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "toy" -> a.toy, "nproc" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark_version" -> spark.version, "input_files" -> inputFiles, "index_files" -> w.indexFiles,
        "cpu_probe_s" -> Seq(cpuStart, cpuEnd), "io_probe_s" -> Seq(ioStart, ioEnd),
        // the strategy AutoStrategy chose, per traced job: a name, so it is
        // context and not a metric
        "features_routes" -> routes.map(_._1).distinct.toSeq) ++ w.context
      val artifact = obj(
        "context" -> obj(context: _*),
        "attempted" -> attempted, "failed" -> failed, "fail_ratio" -> failed.toDouble / attempted,
        "failures" -> failures.toSeq,
        "metrics" -> obj((e2e ++ host ++ layers).map(m =>
          m.name -> obj("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples)): _*),
        "samples" -> obj("job_s" -> jobS.toSeq, "setup_s" -> setupS.toSeq, "session_build_s" -> buildS.toSeq,
          "datagen_s" -> datagenS, "index_s" -> indexS, "peak_heap_mb" -> heapMb.toSeq, "out_mb" -> outMb.toSeq),
        "spans" -> t.roots.toSeq.flatMap(_.subtree).map(s => obj(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(-1),
          "start_ms" -> s.startMs, "seconds" -> s.seconds, "self_seconds" -> s.selfSeconds,
          "stages" -> t.stagesOf(s).count(_.spanId == s.id), "plans" -> s.plans)))
      Files.writeString(new File(a.work, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json").toPath,
        Serialization.write(artifact))

      val reported = if (a.trace) layers else e2e
      reported.foreach(m => System.err.println(f"[perfbench] ${m.name}%-26s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}"))
      System.err.println(f"[perfbench] fail_ratio                 ${failed.toDouble / attempted}%14.4f ratio  n=$attempted")
      Serialization.write(obj(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> obj(reported.map(m => m.name -> obj("value" -> m.value, "unit" -> m.unit)): _*)))
    } finally {
      spark.stop()
      phase("session stopped")
      Fs.deleteRecursively(work)
      phase("stopped and cleaned up")
    }
  }
}

/** Per-layer metrics of a traced run: each is the median over the traced
  * timed jobs unless it belongs to set-up, datagen or the index.
  */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total / 1000.0
  }

  def apply(t: Tracer, cpus: Int, buildS: Seq[Double], inputFiles: Long, indexFiles: Long,
      routes: Seq[(String, Double)], traced: Seq[Double], untraced: Seq[Double]): Seq[Metric] = {
    import Main.median
    val jobs = t.roots.filter(_.name == "job").toSeq
    def perJob(name: String, unit: String)(f: Span => Double) =
      Metric(name, median(jobs.map(f)), unit, jobs.size)
    def stages(j: Span) = t.stagesOf(j)
    def plans(j: Span) = j.subtree.map(_.plans).reduce(_ + _)
    def named(j: Span, n: String) = j.subtree.filter(_.name == n)
    def stageIv(j: Span) = stages(j).map(r => (r.startMs, r.endMs))
    val datagen = t.roots.filter(_.name == "datagen").toSeq
    val mb = 1e6
    Seq(
      Metric("session.build_s", median(buildS), "s", buildS.size),
      Metric("datagen.files", inputFiles.toDouble, "count", 1),
      Metric("datagen.spill_mb", median(datagen.map(stages(_).map(_.diskSpillBytes).sum / mb)), "MB", datagen.size),
      Metric("datagen.task_s", median(datagen.map(stages(_).map(_.runMs).sum / 1000.0)), "s", datagen.size),
      perJob("features.plan_s", "s")(j => named(j, "features.plan").map(_.seconds).sum),
      Metric("features.input_estimate_mb", median(routes.map(_._2)), "MB", routes.size),
      perJob("scan.files", "count")(plans(_).scanFiles.toDouble),
      perJob("scan.mb", "MB")(plans(_).scanBytes / mb),
      perJob("scan.time_s", "s")(plans(_).scanMs / 1000.0),
      perJob("agg.partial_s", "s")(plans(_).aggPartialMs / 1000.0),
      perJob("agg.final_s", "s")(plans(_).aggFinalMs / 1000.0),
      perJob("agg.peak_mem_mb", "MB")(j => (0L +: stages(j).map(_.peakTaskMemBytes)).max / mb),
      perJob("agg.spill_mb", "MB")(plans(_).aggSpillBytes / mb),
      perJob("agg.sort_fallbacks", "count")(plans(_).sortFallbacks.toDouble),
      perJob("exchange.write_mb", "MB")(stages(_).map(_.shuffleWriteBytes).sum / mb),
      perJob("exchange.read_mb", "MB")(stages(_).map(_.shuffleReadBytes).sum / mb),
      perJob("exchange.fetch_wait_s", "s")(stages(_).map(_.fetchWaitMs).sum / 1000.0),
      perJob("write.files", "count")(plans(_).writeFiles.toDouble),
      perJob("write.mb", "MB")(plans(_).writeBytes / mb),
      perJob("write.commit_s", "s")(plans(_).commitMs / 1000.0),
      perJob("exec.task_s", "s")(stages(_).map(_.runMs).sum / 1000.0),
      perJob("exec.cpu_s", "s")(stages(_).map(_.cpuNs).sum / 1e9),
      perJob("exec.gc_s", "s")(stages(_).map(_.gcMs).sum / 1000.0),
      perJob("exec.tasks", "count")(stages(_).map(_.tasks).sum.toDouble),
      perJob("exec.slot_busy", "ratio")(j => stages(j).map(_.runMs).sum / 1000.0 / (j.seconds * cpus)),
      perJob("exec.driver_gap_s", "s")(j => j.seconds - union(stageIv(j))),
      perJob("dedup.candidates", "count")(j => named(j, "dedup.pairs").map(_.plans.candidates).sum.toDouble),
      perJob("dedup.pairs", "count")(j => named(j, "dedup.pairs").map(_.plans.pairs).sum.toDouble),
      perJob("dedup.precision", "ratio") { j =>
        val p = named(j, "dedup.pairs").map(_.plans).fold(PlanStats())(_ + _)
        if (p.candidates == 0) 0.0 else p.pairs.toDouble / p.candidates
      },
      Metric("index.files", indexFiles.toDouble, "count", 1),
      Metric("trace.job_s", median(traced), "s", traced.size),
      Metric("trace.overhead_s", median(traced) - median(untraced), "s", traced.size + untraced.size),
      // stage time plus recorded driver time (planning span, job commit)
      // as a share of the job's wall time
      perJob("trace.accounted", "ratio") { j =>
        val planning = named(j, "features.plan").map(s => (s.startMs, s.endMs))
        (union(stageIv(j) ++ planning) + plans(j).jobCommitMs / 1000.0) / j.seconds
      })
  }
}
