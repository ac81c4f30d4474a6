package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.fhir.{AssayPipeline, FhirIO, FhirSchemas, FhirStore, TransformJob}

/** `fhir_ingest`: the reference pipeline as a batch over seeded R5 NDJSON
  * read from disk: R5→R4 transform of every dispatchable type, the assay
  * linking with its three sinks, and update-create batches into a parquet
  * version feed. Every iteration writes into fresh output directories.
  */
final class IngestWorkload(spark: SparkSession, tracer: Tracer, jobs: JobCounter,
    work: Path, seed: Long) extends Workload(spark, tracer, jobs, work, seed) {

  val Projects = 2
  val Scale = 0.15
  val CorruptShare = 0.005
  val Batches = 3
  val UpdatesPerBatch = 100
  val CreatesPerBatch = 40
  val Stamp = "2025-01-15T00:00:00Z"

  private var plan: Gen.IngestPlan = _
  private var inDir: Path = _
  /** An output directory seeded with the feed and not used yet. */
  private var seeded: Option[Path] = None
  private var nSeeded = 0

  def generate(): Unit = {
    inDir = Dirs.fresh(work.resolve("ingest-in"))
    plan = Gen.writeIngest(inDir, seed, Projects, Scale, CorruptShare, Batches,
      UpdatesPerBatch, CreatesPerBatch)
  }

  def setup(): Unit = {
    seeded.foreach(Dirs.delete)
    seeded = Some(seedFeed())
  }

  /** A new output directory whose parquet version feed holds version 1 of
    * every patient: the store the deployment already has.
    */
  private def seedFeed(): Path = {
    val root = Dirs.fresh(work.resolve(s"ingest-out-$nSeeded"))
    nSeeded += 1
    FhirIO.readNdjson(spark, plan.feedSeed.toString, FhirSchemas.patient)
      .write.parquet(root.resolve("feed").toString)
    root
  }

  private case class Iter(traced: Boolean, ns: Long, outBytes: Long,
      batchFiles: Seq[Long], batchBytes: Seq[Long], key: String)
  private val iters = mutable.ArrayBuffer.empty[Iter]
  private var nIter = 0

  private def r5(t: String) = inDir.resolve(s"r5/$t.ndjson").toString

  /** One full pass into fresh output directories, checked afterwards. */
  private def iteration(): Unit = {
    val i = nIter
    nIter += 1
    val key = s"iter-$i"
    val outRoot = seeded.getOrElse(seedFeed())
    seeded = None
    val feed = outRoot.resolve("feed").toString
    val batchFiles, batchBytes = mutable.ArrayBuffer.empty[Long]
    val jobs0 = jobs.jobs(spark)
    val t0 = System.nanoTime()
    tracer.span("fhir.ingest.iteration", key) {
      Gen.IngestCounts.map(_._1).foreach { t =>
        out.op(s"transform $t") {
          val st = tracer.span("fhir.transform", key)(
            TransformJob.run(spark, r5(t), outRoot.resolve(s"r4/$t").toString, t))
          st.read == plan.linesByType(t) && st.corrupt == plan.corruptByType(t)
        }
      }
      out.op("assay") {
        tracer.span("fhir.assay", key) {
          def valid(t: String) = FhirIO.isValid(
            FhirIO.readNdjsonPermissive(spark, r5(t), FhirSchemas.byType(t)))
          val res = AssayPipeline.run(valid("DocumentReference"), valid("Group"), valid("Specimen"))
          FhirIO.writeNdjson(res.assays, outRoot.resolve("assay/ServiceRequest").toString)
          FhirIO.writeNdjson(res.documents, outRoot.resolve("assay/DocumentReference").toString)
          FhirIO.writeNdjson(res.groups, outRoot.resolve("assay/Group").toString)
        }
        true
      }
      plan.batches.zipWithIndex.foreach { case (b, k) =>
        out.op(s"update-create batch $k") {
          val before = if (tracer.on) Dirs.usage(outRoot.resolve("feed")) else (0L, 0L)
          val landed = tracer.span("fhir.store.update_create", key)(
            FhirStore.updateCreate(spark, feed,
              FhirIO.readNdjson(spark, b.toString, FhirSchemas.patient), k.toLong, Stamp))
          if (tracer.on) {
            val after = Dirs.usage(outRoot.resolve("feed"))
            batchFiles += after._1 - before._1
            batchBytes += after._2 - before._2
          }
          landed
        }
      }
    }
    val ns = System.nanoTime() - t0
    HeapPeak.sample()
    out.op(s"$key like-for-like") { guardJobs("iteration", jobs.jobs(spark) - jobs0) }
    // output checks, after the clock stops
    out.op(s"$key assay count") {
      FhirIO.readNdjson(spark, outRoot.resolve("assay/ServiceRequest").toString,
        FhirSchemas.serviceRequest).count() == plan.expectedAssays
    }
    out.op(s"$key document and group sinks") {
      FhirIO.readNdjson(spark, outRoot.resolve("assay/DocumentReference").toString,
        FhirSchemas.documentReference).count() == plan.expectedDocs &&
      FhirIO.readNdjson(spark, outRoot.resolve("assay/Group").toString,
        FhirSchemas.group).count() == plan.expectedGroupsOut
    }
    out.op(s"$key update-create versions") {
      val got = FhirStore.versions(spark, feed).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      got == plan.expectedVersions
    }
    graft.util.Scratch.release(spark)
    iters += Iter(tracer.on, ns, Dirs.usage(outRoot)._2, batchFiles.toSeq, batchBytes.toSeq, key)
    Dirs.delete(outRoot)
  }

  /** No warm-up: the timed iteration starts cold. The reference runs its
    * ETL as a batch job, once per process, so its users pay code
    * generation and JIT warm-up on every run.
    */
  def warmup(): Unit = ()

  def timed(seconds: Double): Unit = {
    val start = System.nanoTime()
    var i = 0
    // a new iteration starts only if one more like the last fits
    while (i == 0 || System.nanoTime() - start + iters.last.ns <= seconds * 1e9) {
      tracer.paused = i % 2 == 1
      iteration()
      i += 1
    }
    tracer.paused = false
  }

  def finish(): Unit = {
    out.inputs ++= Seq("projects" -> Projects, "scale_of_reference_project" -> Scale,
      "resources" -> plan.resources, "r5_lines_per_type" -> plan.linesByType,
      "corrupt_lines_per_type" -> plan.corruptByType, "corrupt_share" -> CorruptShare,
      "update_create_batches" -> Batches, "updates_per_batch" -> UpdatesPerBatch,
      "creates_per_batch" -> CreatesPerBatch, "expected_assays" -> plan.expectedAssays,
      "input_bytes" -> plan.inputBytes, "iterations" -> iters.size)
    if (iters.isEmpty) return
    val p50 = Stats.median(iters.map(x => Dirs.ms(x.ns)).toSeq)
    val rps = plan.resources * iters.size / Dirs.secs(iters.map(_.ns).sum)
    val ratio = Stats.median(iters.map(_.outBytes.toDouble).toSeq) / plan.inputBytes
    out.e2e ++= Seq("op_p50_ms" -> (p50, "ms"), "throughput_per_s" -> (rps, "items/s"),
      "stored_bytes_per_input_byte" -> (ratio, "ratio"))
    out.report ++= Seq("ingest_iteration_p50_ms" -> (p50, "ms"),
      "ingest_resources_per_s" -> (rps, "resources/s"),
      "ingest_stored_bytes_per_input_byte" -> (ratio, "ratio"))
    if (tracer.enabled) layerMetrics()
  }

  private def layerMetrics(): Unit = {
    tracer.drain()
    val L = out.layer
    val traced = iters.filter(_.traced)
    val spans = tracer.allSpans
    def perIter(name: String)(f: Seq[Stats.Span] => Double): Double =
      Stats.median(traced.map(it => f(spans.filter(s => s.key == it.key && s.name == name))).toSeq)
    def sum(ss: Seq[Stats.Span])(g: GroupStats => Double) = ss.map(s => g(tracer.subtreeStats(s.id))).sum
    if (traced.isEmpty) return
    L("fhir.transform.s") = (perIter("fhir.transform")(ss => Dirs.secs(ss.map(_.durNs).sum)), "s")
    L("fhir.transform.jobs") = (perIter("fhir.transform")(ss => sum(ss)(_.jobs.toDouble)), "count")
    L("fhir.assay.s") = (perIter("fhir.assay")(ss => Dirs.secs(ss.map(_.durNs).sum)), "s")
    L("fhir.assay.shuffle_mb") =
      (perIter("fhir.assay")(ss => sum(ss)(_.shuffleWriteBytes / 1048576.0)), "MB")
    val uc = spans.filter(s => s.name == "fhir.store.update_create" && traced.exists(_.key == s.key))
    L("fhir.store.update_create_ms") = (Stats.median(uc.map(s => Dirs.ms(s.durNs))), "ms")
    L("util.commit.files_per_batch") =
      (traced.flatMap(_.batchFiles).sum.toDouble / traced.map(_.batchFiles.size).sum, "files")
    L("util.commit.bytes_per_batch") =
      (traced.flatMap(_.batchBytes).sum.toDouble / traced.map(_.batchBytes.size).sum, "bytes")
    val untraced = iters.filterNot(_.traced)
    if (untraced.nonEmpty)
      L("trace.overhead_pct") = ((Stats.median(traced.map(x => Dirs.ms(x.ns)).toSeq) /
        Stats.median(untraced.map(x => Dirs.ms(x.ns)).toSeq) - 1) * 100, "%")
    val roots = spans.filter(s => s.name == "fhir.ingest.iteration")
    Main.sparkLayer(L, roots.map(s => tracer.subtreeStats(s.id)), roots.map(s => Dirs.ms(s.durNs)).sum)
  }
}
