package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes its result.
  *
  * {{{
  * perfbench.Main --workload fhir_search --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --result <result.json> --report <report.json> \
  *   [--trace-out <trace.json>]
  * }}}
  *
  * The result holds the contract fields (`correct`, `attempted`, `failed`,
  * `metrics`); with `--trace 0` the metrics are the end-to-end ones, with
  * `--trace 1` the per-layer ones. The report holds every metric under the
  * workload's own names plus the input sizes and planted shares.
  */
object Main {

  val Workloads: Seq[String] = Seq("fhir_search", "fhir_ingest", "corpus_pipeline")

  /** End-to-end metrics every workload reports (name -> unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "items/s",
    "stored_bytes_per_input_byte" -> "ratio", "heap_live_peak_mb" -> "MB")

  /** Per-layer metrics of every workload (name -> unit). A layer the
    * workload does not reach reads 0.
    */
  val PerLayer: Seq[(String, String)] = {
    val search = Seq("build_ms" -> "ms", "compile_ms" -> "ms", "exec_ms" -> "ms",
      "jobs" -> "count", "tasks" -> "count", "eager_jobs" -> "count",
      "rows_read_per_row_returned" -> "ratio", "job_busy_ratio" -> "ratio") ++
      SearchReq.Templates.map(t => s"${t._1}.p50_ms" -> "ms")
    val ops = for {
      op <- Seq("semdedup", "containment", "lm_score", "decontaminate", "bpe")
      (m, u) <- Seq("s" -> "s", "eager_jobs" -> "count", "task_cpu_s" -> "s",
        "shuffle_mb" -> "MB", "spill_mb" -> "MB", "heavy_stage_tasks" -> "count")
    } yield s"operators.$op.$m" -> u
    search.map { case (n, u) => s"fhir.search.$n" -> u } ++ Seq(
      "streaming.admit.jobs_per_segment" -> "count", "streaming.admit.tasks_per_segment" -> "count",
      "streaming.admit.plan_ms" -> "ms", "streaming.admit.add_batch_ms" -> "ms",
      "streaming.admit.admit_ratio" -> "ratio", "operators.lsh.index_files" -> "files",
      "util.commit.bytes_per_segment" -> "bytes") ++ ops ++ Seq(
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.job_busy_ratio" -> "ratio", "trace.overhead_pct" -> "%") ++ Seq(
      "fhir.transform.s" -> "s", "fhir.transform.jobs" -> "count", "fhir.assay.s" -> "s",
      "fhir.assay.shuffle_mb" -> "MB", "fhir.store.update_create_ms" -> "ms",
      "util.commit.files_per_batch" -> "files", "util.commit.bytes_per_batch" -> "bytes")
  }

  val SetupReps = 3

  /** Workload-wide engine counters over the traced units of work. */
  def sparkLayer(L: mutable.LinkedHashMap[String, (Double, String)],
      units: Seq[GroupStats], wallMs: Double): Unit = {
    val t = new GroupStats
    units.foreach(t.add)
    L("spark.jobs") = (t.jobs.toDouble, "count")
    L("spark.tasks") = (t.tasks.toDouble, "count")
    L("spark.task_run_s") = (t.taskRunMs / 1e3, "s")
    L("spark.task_cpu_s") = (t.taskCpuNs / 1e9, "s")
    L("spark.gc_s") = (t.gcMs / 1e3, "s")
    L("spark.shuffle_write_mb") = (t.shuffleWriteBytes / 1048576.0, "MB")
    L("spark.spill_mb") = (t.spillBytes / 1048576.0, "MB")
    L("spark.job_busy_ratio") =
      (units.map(u => Stats.unionLength(u.jobIntervals.toSeq)).sum / math.max(wallMs, 1e-9), "ratio")
  }

  private def metricsJson(names: Seq[(String, String)],
      got: collection.Map[String, (Double, String)]): Map[String, Any] =
    names.map { case (n, u) =>
      n -> mutable.LinkedHashMap("value" -> got.get(n).map(_._1).getOrElse(0.0), "unit" -> u)
    }.to(mutable.LinkedHashMap).toMap

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Dirs.fresh(Paths.get(opt("work")).toAbsolutePath)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString),
      shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionNs = System.nanoTime() - t0
    try {
      val jobs = new JobCounter
      spark.sparkContext.addSparkListener(jobs)
      val tracer = new Tracer(spark, trace)
      val w: Workload = workload match {
        case "fhir_search" => new SearchWorkload(spark, tracer, jobs, work, seed)
        case "fhir_ingest" => new IngestWorkload(spark, tracer, jobs, work, seed)
        case _ => new CorpusWorkload(spark, tracer, jobs, work, seed)
      }
      // set-up and warm-up are never traced
      tracer.paused = true
      val genStart = System.nanoTime()
      w.generate()
      val genNs = System.nanoTime() - genStart
      val setupNs = (0 until SetupReps).map { _ =>
        val s = System.nanoTime(); w.setup(); System.nanoTime() - s
      }
      val warmStart = System.nanoTime()
      w.warmup()
      val warmNs = System.nanoTime() - warmStart
      tracer.paused = false
      val timedStart = System.nanoTime()
      w.timed(seconds)
      val timedNs = System.nanoTime() - timedStart
      tracer.close()
      w.finish()

      val out = w.out
      val setupS = Dirs.secs(sessionNs) + Dirs.secs(genNs) + Stats.median(setupNs.map(Dirs.secs)) +
        Dirs.secs(warmNs)
      out.e2e("setup_s") = (setupS, "s")
      out.e2e("heap_live_peak_mb") = (HeapPeak.peakMb, "MB")
      out.report("setup_s") = (setupS, "s")
      out.report("heap_live_peak_mb") = (HeapPeak.peakMb, "MB")
      out.report("failed_ops_ratio") = (out.failed.toDouble / math.max(1L, out.attempted), "ratio")
      val names = if (trace) PerLayer else EndToEnd
      val got = if (trace) out.layer else out.e2e
      val complete = names.forall(n => got.contains(n._1)) || trace
      if (!complete) out.note(s"missing metrics: ${names.map(_._1).filterNot(got.contains).mkString(", ")}")
      val correct = out.failed == 0 && out.attempted > 0 && complete
      val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
        "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metricsJson(names, got))
      val report = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
        "trace" -> trace, "cores" -> cores, "timed_s" -> Dirs.secs(timedNs),
        "setup_breakdown_s" -> Map("session" -> Dirs.secs(sessionNs), "inputs" -> Dirs.secs(genNs),
          "engine_setup_median" -> Stats.median(setupNs.map(Dirs.secs)),
          "engine_setup_reps" -> setupNs.map(Dirs.secs), "warmup" -> Dirs.secs(warmNs)),
        "inputs" -> out.inputs, "jobs_per_unit" -> w.jobCounts,
        "metrics" -> out.report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "failures" -> out.failures)
      if (trace) {
        val spans = tracer.allSpans
        val self = Stats.selfTimesNs(spans)
        val byName = spans.groupBy(_.name).map { case (n, ss) =>
          n -> Map("count" -> ss.size, "total_ms" -> Dirs.ms(ss.map(_.durNs).sum),
            "self_ms" -> Dirs.ms(ss.map(s => self(s.id)).sum))
        }
        val base = spans.headOption.map(_.startNs).getOrElse(0L)
        val traceDoc = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
          "per_layer" -> out.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
          "spans_by_name" -> byName,
          "spans" -> spans.map(s => mutable.LinkedHashMap[String, Any]("id" -> s.id,
            "name" -> s.name, "start_ms" -> Dirs.ms(s.startNs - base),
            "end_ms" -> Dirs.ms(s.endNs - base), "parent" -> s.parent, "key" -> s.key,
            "self_ms" -> Dirs.ms(self(s.id)))))
        opt.get("trace-out").foreach(p => write(Paths.get(p), Json.render(traceDoc)))
        report("trace_file") = opt.getOrElse("trace-out", "")
      }
      write(Paths.get(opt("report")), Json.render(report))
      write(Paths.get(opt("result")), Json.render(result))
    } finally spark.stop()
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }
}
