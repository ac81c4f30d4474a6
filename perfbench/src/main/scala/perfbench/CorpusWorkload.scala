package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bpe, Dedup, Sampling, Similarity, Sketches, TextOps}
import graft.streaming.FilePipelines

/** `corpus_pipeline`: an LLM-data pipeline in two phases. `admit` lands
  * seeded `.warc.gz` segments one at a time, each followed by
  * `processAllAvailable()` on the crawl admission stream; `curate` runs
  * the admitted corpus through semantic dedup, containment, LM scoring,
  * decontamination, BPE and epoch ordering. Every iteration starts from
  * fresh index, state, checkpoint and output directories.
  */
final class CorpusWorkload(spark: SparkSession, tracer: Tracer, jobs: JobCounter,
    work: Path, seed: Long) extends Workload(spark, tracer, jobs, work, seed) {

  val HistoryDocs = 300
  val Segments = 8
  val FreshPerSegment = 40
  val PlantedShare = 0.05
  val ContaminatedShare = 0.03
  val EvalDocs = 100
  val Parts = 8

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private var plan: Gen.CorpusPlan = _
  private var inDir: Path = _
  /** A run directory seeded with the history and not used yet. */
  private var seeded: Option[Path] = None
  private var nSeeded = 0

  def generate(): Unit = {
    inDir = Dirs.fresh(work.resolve("corpus-in"))
    plan = Gen.writeCorpus(inDir, seed, HistoryDocs, Segments, FreshPerSegment,
      PlantedShare, ContaminatedShare, EvalDocs, Parts)
  }

  def setup(): Unit = {
    seeded.foreach(Dirs.delete)
    seeded = Some(seedHistory())
  }

  /** A new run directory holding the history the deployment already has:
    * the LSH index and the Bloom epoch of the history documents.
    */
  private def seedHistory(): Path = {
    val root = Dirs.fresh(work.resolve(s"corpus-run-$nSeeded"))
    nSeeded += 1
    val hist = spark.read.schema(docSchema).json(plan.historyPath.toString)
    Dedup.writeLshIndex(hist, root.resolve("idx").toString)
    Sketches.bloomBits(hist, col("text")).write.json(root.resolve("bloom").resolve("epoch=-1").toString)
    root
  }

  private case class Seg(iter: Int, k: Int, ns: Long, traced: Boolean,
      runId: String, batchId: Long, bytesAdded: Long)
  private case class Iter(admitNs: Long, curateNs: Long,
      corpusDocs: Long, indexFiles: Long, admitted: Long, storedBytes: Long)
  private val segs = mutable.ArrayBuffer.empty[Seg]
  private val iters = mutable.ArrayBuffer.empty[Iter]
  private var nIter = 0

  private def write(df: DataFrame, p: Path): Unit = df.write.parquet(p.toString)

  /** One iteration: every segment through admission, then a curate pass. */
  private def iteration(): Unit = {
    val i = nIter
    nIter += 1
    val key = s"iter-$i"
    // a new directory per iteration: nothing of an earlier run's index,
    // state, checkpoint or output is visible to this one
    val root = seeded.getOrElse(seedHistory())
    seeded = None
    val Seq(idx, bloom, outDir, ckpt, in, landing, cur) =
      Seq("idx", "bloom", "out", "ckpt", "in", "landing", "cur").map(root.resolve)
    Files.createDirectories(in); Files.createDirectories(landing)

    val jobs0 = jobs.jobs(spark)
    val state = Seq(idx, bloom, outDir)
    val q = FilePipelines.crawlAdmissionStream(spark, s"$in/*.warc.gz", idx.toString,
      bloom.toString, outDir.toString, ckpt.toString)
    val runId = q.runId.toString
    // a new stream's first trigger always runs one micro-batch, empty on an
    // empty directory; it runs before the first landing so that every
    // segment is exactly one micro-batch
    q.processAllAvailable()
    val paused = tracer.paused
    try {
      plan.segments.zipWithIndex.foreach { case (seg, k) =>
        // the traced run alternates traced and untraced segments
        tracer.paused = paused || k % 2 == 1
        val before = if (tracer.on) state.map(p => Dirs.usage(p)._2).sum else 0L
        val staged = landing.resolve(seg.getFileName)
        Files.copy(seg, staged)
        val segJobs0 = jobs.jobs(spark)
        out.op(s"$key segment $k") {
          // the clock starts when the segment lands
          val t0 = System.nanoTime()
          tracer.span("streaming.admit.segment", s"$key-seg-$k") {
            Files.move(staged, in.resolve(seg.getFileName), StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          }
          val ns = System.nanoTime() - t0
          val added = if (tracer.on) state.map(p => Dirs.usage(p)._2).sum - before else 0L
          // micro-batch 0 is the stream's first, empty one
          segs += Seg(i, k, ns, tracer.on, runId, k + 1L, added)
          q.exception.isEmpty
        }
        out.op(s"$key segment $k like-for-like") { guardJobs("segment", jobs.jobs(spark) - segJobs0) }
        HeapPeak.sample()
      }
    } finally { q.stop(); tracer.paused = paused }
    val admitJobs = jobs.jobs(spark) - jobs0
    val indexFiles = Dirs.usage(idx)._1
    val admitted = checkAdmission(key, outDir, plan.planted)

    val admittedIds = spark.read.parquet(outDir.toString).filter(col("admit")).select("doc_id")
    val jobs2 = jobs.jobs(spark)
    val t0 = System.nanoTime()
    tracer.span("curate", key) {
      curate(key, cur, admittedIds)
    }
    val curateNs = System.nanoTime() - t0
    HeapPeak.sample()
    val curateJobs = jobs.jobs(spark) - jobs2
    val corpusDocs = checkCurate(key, cur)
    graft.util.Scratch.release(spark)
    out.op(s"$key admit like-for-like") { guardJobs("admit", admitJobs) }
    out.op(s"$key curate like-for-like") { guardJobs("curate", curateJobs) }
    val stored = Seq(idx, bloom, outDir, ckpt, cur).map(p => Dirs.usage(p)._2).sum
    iters += Iter(segs.filter(_.iter == i).map(_.ns).sum, curateNs, corpusDocs,
      indexFiles, admitted, stored)
    Dirs.delete(root)
  }

  private def curate(key: String, cur: Path, admittedIds: DataFrame): Unit = {
    def step(name: String)(build: => DataFrame)(sink: DataFrame => Unit): Unit = {
      val j0 = jobs.jobs(spark)
      out.op(s"$key $name") {
        tracer.span(s"operators.$name", key) {
          val df = tracer.span(s"operators.$name.build", key)(build)
          tracer.span(s"operators.$name.exec", key)(sink(df))
        }
        true
      }
      recordJobs(name, jobs.jobs(spark) - j0)
    }
    val docs = spark.read.schema(docSchema).json(plan.docsDir.toString)
    // the curated corpus: the history plus everything the crawl admitted
    step("materialize")(docs.join(
      admittedIds.union(spark.read.schema(docSchema).json(plan.historyPath.toString).select("doc_id")),
      Seq("doc_id"), "left_semi"))(write(_, cur.resolve("corpus")))
    val corpus = spark.read.parquet(cur.resolve("corpus").toString)
    step("semdedup") {
      val emb = spark.read.schema(vecSchema).json(plan.embDir.toString)
        .join(corpus.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val fit = Similarity.kmeansFit(emb, k = 16)
      Similarity.semDeDup(emb, 0.95, index = Some(fit))
    }(write(_, cur.resolve("semdedup")))
    step("containment")(Dedup.containmentPairs(corpus, n = 3, threshold = 0.9))(
      write(_, cur.resolve("containment")))
    step("lm_score") {
      TextOps.qualityScore(corpus).join(
        TextOps.stupidBackoffScore(corpus.filter(col("doc_id") % 2 === 0),
          corpus.filter(col("doc_id") % 2 === 1)), Seq("doc_id"), "left")
    }(write(_, cur.resolve("lm")))
    step("decontaminate")(Sampling.decontaminate(corpus,
      spark.read.schema(docSchema).json(plan.evalPath.toString), col("doc_id"), col("text"), n = 8))(
      write(_, cur.resolve("contaminated")))
    step("bpe")(Bpe.encodeDocs(corpus, Bpe.train(corpus, numMerges = 200)))(
      write(_, cur.resolve("bpe")))
    step("epoch_order") {
      val kept = spark.read.parquet(cur.resolve("semdedup").toString)
        .filter(col("keep")).select(col("vec_id").as("doc_id"))
      val dirty = spark.read.parquet(cur.resolve("contaminated").toString)
        .select(col("doc_key").as("doc_id"))
      Sampling.epochOrder(corpus.join(kept, Seq("doc_id"), "left_semi")
        .join(dirty, Seq("doc_id"), "left_anti"), col("doc_id"), 1)
    }(write(_, cur.resolve("final")))
  }

  /** Checks the verdicts; returns the number admitted. */
  private def checkAdmission(key: String, outDir: Path, planted: Seq[Gen.Planted]): Long = {
    val rows = spark.read.parquet(outDir.toString)
      .select("doc_id", "seen_exact", "near_dup", "admit").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    out.op(s"$key verdicts add up to the documents landed") {
      rows.size + planted.map(_.lowQuality.size).sum == planted.map(_.landed).sum &&
        planted.forall(_.lowQuality.forall(id => !rows.contains(id)))
    }
    out.op(s"$key planted exact duplicates are seen") {
      planted.forall(_.exactDups.forall(id => rows.get(id).exists(_._1)))
    }
    out.op(s"$key planted mutants are near-duplicates or rejected") {
      planted.forall(_.mutants.forall(id => rows.get(id).exists(v => v._2 || !v._3)))
    }
    // one per segment, plus the stream's first (empty) micro-batch
    out.op(s"$key one commit marker per micro-batch") {
      Option(outDir.resolve("_committed").toFile.listFiles())
        .map(_.count(_.getName.startsWith("batch-"))).contains(planted.size + 1)
    }
    rows.values.count(_._3).toLong
  }

  /** Checks the curate outputs; returns the corpus size. */
  private def checkCurate(key: String, cur: Path): Long = {
    def ids(dir: String, c: String) =
      spark.read.parquet(cur.resolve(dir).toString).select(c).collect().map(_.getLong(0)).toSet
    val corpus = ids("corpus", "doc_id")
    val finalIds = ids("final", "doc_id")
    out.op(s"$key planted contamination is gone") {
      plan.contaminated.forall(id => !finalIds.contains(id)) &&
        (plan.contaminated & corpus).subsetOf(ids("contaminated", "doc_key"))
    }
    // SemDeDup compares pairs only within a k-means cell, so its contract
    // covers the planted pairs that landed in one cell
    out.op(s"$key planted near-duplicate vectors keep one per cell") {
      val cells = spark.read.parquet(cur.resolve("semdedup").toString)
        .select("vec_id", "cell", "keep").collect()
        .map(r => r.getLong(0) -> (r.get(1), r.getBoolean(2))).toMap
      plan.vecPairs.forall { case (a, b) =>
        (cells.get(a), cells.get(b)) match {
          case (Some((ca, ka)), Some((cb, kb))) => ca != cb || !(ka && kb)
          case _ => true
        }
      }
    }
    corpus.size.toLong
  }

  /** No warm-up: the timed iteration starts cold. The segment median is
    * robust to the first segment paying the stream's warm-up, and a
    * curation batch job runs once per process, so its users pay code
    * generation and JIT warm-up on every run.
    */
  def warmup(): Unit = ()

  def timed(seconds: Double): Unit = {
    val start = System.nanoTime()
    var last = 0L
    // a new iteration starts only if one more like the last fits
    while (iters.isEmpty || System.nanoTime() - start + last <= seconds * 1e9) {
      val t = System.nanoTime()
      iteration()
      last = System.nanoTime() - t
    }
  }

  def finish(): Unit = {
    out.inputs ++= Seq("history_docs" -> HistoryDocs, "segments" -> Segments,
      "docs_landed" -> plan.landed, "fresh_per_segment" -> FreshPerSegment,
      "planted_share_each" -> PlantedShare, "exact_dups" -> plan.planted.map(_.exactDups.size).sum,
      "mutants" -> plan.planted.map(_.mutants.size).sum,
      "low_quality" -> plan.planted.map(_.lowQuality.size).sum,
      "contaminated_share" -> ContaminatedShare, "contaminated" -> plan.contaminated.size,
      "near_dup_vector_pairs" -> plan.vecPairs.size, "eval_docs" -> EvalDocs,
      "segment_bytes" -> plan.segmentBytes, "iterations" -> iters.size)
    if (iters.isEmpty || segs.isEmpty) return
    val segMs = segs.map(s => Dirs.ms(s.ns)).toSeq
    val p50 = Stats.median(segMs)
    val admitRate = plan.landed * iters.size / Dirs.secs(segs.map(_.ns).sum)
    val curateRate = iters.map(_.corpusDocs).sum / Dirs.secs(iters.map(_.curateNs).sum)
    val ratio = Stats.median(iters.map(_.storedBytes.toDouble).toSeq) / plan.segmentBytes
    // landed documents per second from landing to the curated set
    val pipeRate = plan.landed * iters.size / Dirs.secs(iters.map(x => x.admitNs + x.curateNs).sum)
    out.e2e ++= Seq("op_p50_ms" -> (p50, "ms"), "throughput_per_s" -> (pipeRate, "items/s"),
      "stored_bytes_per_input_byte" -> (ratio, "ratio"))
    out.report ++= Seq("admit_segment_p50_ms" -> (p50, "ms"), "pipeline_docs_per_s" -> (pipeRate, "docs/s"),
      "admit_docs_per_s" -> (admitRate, "docs/s"), "curate_docs_per_s" -> (curateRate, "docs/s"))
    if (tracer.enabled) layerMetrics()
  }

  private def layerMetrics(): Unit = {
    tracer.drain()
    val L = out.layer
    val traced = segs.filter(_.traced)
    val batch = segs.map(s => (s, tracer.batchStats(s.runId, s.batchId)))
    val n = segs.size.toDouble
    L("streaming.admit.jobs_per_segment") = (batch.map(_._2.jobs).sum / n, "count")
    L("streaming.admit.tasks_per_segment") = (batch.map(_._2.tasks).sum / n, "count")
    def dur(k: String) = Stats.median(segs.map(s =>
      Option(tracer.batchDurations.get((s.runId, s.batchId))).flatMap(_.get(k)).getOrElse(0L).toDouble).toSeq)
    L("streaming.admit.plan_ms") = (dur("queryPlanning"), "ms")
    L("streaming.admit.add_batch_ms") = (dur("addBatch"), "ms")
    L("streaming.admit.admit_ratio") =
      (iters.map(_.admitted).sum.toDouble / (plan.landed * iters.size), "ratio")
    L("operators.lsh.index_files") = (Stats.median(iters.map(_.indexFiles.toDouble).toSeq), "files")
    val late = traced.filter(_.k >= Segments / 2)
    L("util.commit.bytes_per_segment") =
      (if (late.isEmpty) 0.0 else late.map(_.bytesAdded).sum.toDouble / late.size, "bytes")
    val spans = tracer.allSpans
    Seq("semdedup", "containment", "lm_score", "decontaminate", "bpe").foreach { op =>
      val ss = spans.filter(_.name == s"operators.$op")
      val st = ss.map(s => tracer.subtreeStats(s.id))
      val eager = spans.filter(_.name == s"operators.$op.build").map(s => tracer.subtreeStats(s.id).jobs)
      val k = math.max(1, ss.size).toDouble
      L(s"operators.$op.s") = (Stats.median(ss.map(s => Dirs.secs(s.durNs))), "s")
      L(s"operators.$op.eager_jobs") = (eager.sum / k, "count")
      L(s"operators.$op.task_cpu_s") = (st.map(_.taskCpuNs).sum / 1e9 / k, "s")
      L(s"operators.$op.shuffle_mb") = (st.map(_.shuffleWriteBytes).sum / 1048576.0 / k, "MB")
      L(s"operators.$op.spill_mb") = (st.map(_.spillBytes).sum / 1048576.0 / k, "MB")
      L(s"operators.$op.heavy_stage_tasks") =
        (Stats.median(st.map(_.heavyStageTasks.toDouble)), "count")
    }
    val untraced = segs.filterNot(_.traced)
    if (traced.nonEmpty && untraced.nonEmpty)
      L("trace.overhead_pct") = ((Stats.median(traced.map(s => Dirs.ms(s.ns)).toSeq) /
        Stats.median(untraced.map(s => Dirs.ms(s.ns)).toSeq) - 1) * 100, "%")
    // spark.* covers the traced units: traced segments' micro-batches and
    // the curate phase
    val units = traced.map(s => tracer.batchStats(s.runId, s.batchId)).toSeq ++
      spans.filter(_.name == "curate").map(s => tracer.subtreeStats(s.id))
    val wall = traced.map(s => Dirs.ms(s.ns)).sum + spans.filter(_.name == "curate").map(s => Dirs.ms(s.durNs)).sum
    Main.sparkLayer(L, units, wall)
  }
}
