package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.fhir.{AssayPipeline, FhirIO, FhirSchemas, FhirSearch, FhirStore,
  SearchShapes, TransformJob}
import graft.operators.{Dedup, Similarity, Sketches}
import graft.streaming.FilePipelines

/** Job budgets: the exact number of Spark jobs the engine's per-request
  * and per-batch paths launch at fixture scale. A job count is a property
  * of the plan, not of the host's load, so a change that adds driver
  * round trips (an AQE stage job, a range-sampling job, an eager count)
  * fails here deterministically.
  *
  * The counts are fixture-scale: `perfbench`'s `corpus_pipeline` reads 12
  * jobs per admitted segment through the streaming sink, the same body,
  * and its `fhir_ingest` runs the transform, assay and update-create
  * bodies pinned here.
  */
class JobBudgetSpec extends SparkSpec {

  private val started = new AtomicInteger
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Jobs launched while `body` runs (suites run one at a time). */
  private def jobsOf(body: => Unit): Int = {
    listener
    GraftTestBus.drain(spark.sparkContext)
    val before = started.get
    body
    GraftTestBus.drain(spark.sparkContext)
    started.get - before
  }

  /** Per request over the fixture store: one static job, plus one per
    * broadcast (the chain's target and the revinclude's matched set).
    */
  private val searchBudget = Map(
    "read" -> 1, "everything" -> 1, "filter_token_date" -> 1,
    "filter_string_date" -> 1, "filter_reference_token" -> 1, "chain" -> 2,
    "include" -> 1, "revinclude" -> 2, "sort_page" -> 1, "total" -> 1)

  test("FHIR search: jobs per request, one request per template shape") {
    val eng = FhirSearch.overFixtures(spark, SearchShapes.Dir)
    val got = SearchShapes.All.map { case (shape, (req, _)) =>
      shape -> jobsOf(eng.search(req).collect(): Unit)
    }.toMap
    assert(got == searchBudget)
  }

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_budget_$tag").toFile.getAbsolutePath
    graft.util.TempFixtures.deleteOnExit(d)
    d
  }

  test("admission micro-batch: 12 jobs per batch") {
    import spark.implicits._
    val root = tmp("admit")
    val hist = (0L until 8L).map(i =>
      (i, s"the shared crawl boilerplate line number ${i % 4} of page $i"))
      .toDF("doc_id", "text")
    Dedup.writeLshIndex(hist, s"$root/idx")
    Sketches.bloomBits(hist, col("text")).write.json(s"$root/state/epoch=-1")
    // novel pages, a near-dup of an indexed page and an exact repeat
    val batch = Seq(
      (20L, "a page nobody has crawled before about river boats"),
      (21L, "another novel page about mountain weather stations"),
      (22L, "the shared crawl boilerplate line number 1 of page 9"),
      (23L, "the shared crawl boilerplate line number 2 of page 2"))
      .toDF("doc_id", "text")
    val n = jobsOf(FilePipelines.ingestAdmissionBatch(batch, s"$root/idx",
      s"$root/state", s"$root/out", 0L))
    assert(n == 12)
  }

  test("committed IVF append: 5 jobs per append") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 24L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = tmp("ivf")
    Similarity.writeIvfIndex(vecs.filter($"vec_id" < 12), ncells = 2, dir)
    val n = jobsOf(assert(Similarity.appendToIvfIndexCommitted(spark, dir,
      vecs.filter($"vec_id" >= 12), 1L)))
    assert(n == 5)
  }

  /** The maintenance paths run on a caller's shared session: LSH index
    * compaction and the upsert swap with AQE off, REBALANCE compaction
    * with AQE on at the advisory size it is passed.
    */
  test("maintenance: LSH compaction 4 jobs, REBALANCE compaction 3, " +
      "upsert swap 2") {
    import spark.implicits._
    val root = tmp("maint")
    val docs = (0L until 12L).map(i => (i, s"page $i about topic ${i % 3}"))
      .toDF("doc_id", "text")
    Dedup.writeLshIndex(docs.filter($"doc_id" < 6), s"$root/idx")
    Dedup.appendToLshIndexCommitted(spark, s"$root/idx",
      docs.filter($"doc_id" >= 6), 1L)
    val lsh = jobsOf(Dedup.compactLshIndex(spark, s"$root/idx"))

    spark.range(64).repartition(8).write.parquet(s"$root/frag")
    val rebalance = jobsOf(graft.operators.Layout.compact(spark,
      s"$root/frag", s"$root/compacted", "8MB"): Unit)

    def events(ids: Range) = ids.map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click",
        10.0 + i))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    FilePipelines.upsertBatch(events(0 until 4), s"$root/t")
    val upsert = jobsOf(FilePipelines.upsertBatch(events(2 until 6),
      s"$root/t"))
    assert((lsh, rebalance, upsert) == ((4, 3, 2)))
  }

  private val fix = SearchShapes.Dir

  /** The NDJSON write carries the read/corrupt/written counts as
    * observations; only a file with rejects re-reads it for the sink.
    */
  test("FHIR transform: 1 job on a clean file, 2 on a file with rejects") {
    val out = tmp("transform")
    val clean = jobsOf(TransformJob.run(spark, s"$fix/Specimen.ndjson",
      s"$out/Specimen", "Specimen"): Unit)
    val rejects = jobsOf(TransformJob.run(spark, s"$fix/corrupt.ndjson",
      s"$out/DocumentReference", "DocumentReference"): Unit)
    assert((clean, rejects) == ((1, 2)))
  }

  /** The duplicate-id guard (whose row count also sizes the staged
    * width), the prior-version stage and the staging write, then the
    * fingerprint's schema read and aggregate. The feed's schema comes
    * from a footer read on the driver, with no job.
    */
  test("FHIR update-create: 5 jobs per batch") {
    val feed = s"${tmp("update_create")}/feed"
    FhirIO.readNdjson(spark, s"$fix/Patient.history.ndjson", FhirSchemas.patient)
      .write.parquet(feed)
    val n = jobsOf(assert(FhirStore.updateCreate(spark, feed,
      FhirIO.readNdjson(spark, s"$fix/Patient.ingest.ndjson", FhirSchemas.patient),
      1L, "2025-01-15T00:00:00Z")))
    assert(n == 5)
  }

  /** One specimen dimension and one document parse feed all three sinks;
    * most of the jobs are the adaptive planner's shuffle-stage jobs. The
    * inputs are private copies: a cached dimension another suite built
    * over the same fixture files would otherwise serve this run.
    */
  test("FHIR assay: 20 jobs for its three sink writes") {
    val out = tmp("assay")
    def read(t: String) = {
      val in = java.nio.file.Paths.get(out, "in", s"$t.ndjson")
      Files.createDirectories(in.getParent)
      Files.copy(java.nio.file.Paths.get(fix, s"$t.ndjson"), in)
      FhirIO.readNdjson(spark, in.toString, FhirSchemas.byType(t))
    }
    val n = jobsOf {
      val res = AssayPipeline.run(read("DocumentReference"), read("Group"), read("Specimen"))
      FhirIO.writeNdjson(res.assays, s"$out/ServiceRequest")
      FhirIO.writeNdjson(res.documents, s"$out/DocumentReference")
      FhirIO.writeNdjson(res.groups, s"$out/Group")
    }
    graft.util.Scratch.release(spark)
    assert(n == 20)
  }
}
