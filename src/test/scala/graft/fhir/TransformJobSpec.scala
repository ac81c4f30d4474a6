package graft.fhir

import graft.SparkSpec

class TransformJobSpec extends SparkSpec {

  private val fix = "/root/repo/fixtures/fhir"
  private val tmp = System.getProperty("java.io.tmpdir")

  test("CLI-parity run: specimen file transforms end-to-end with stats") {
    val stats = TransformJob.run(spark, s"$fix/Specimen.ndjson",
      s"$tmp/graft_job_specimen", "Specimen")
    assert(stats == TransformJob.Stats(60, 60, 0))
  }

  test("continue mode diverts corrupt lines to a rejects sink") {
    val stats = TransformJob.run(spark, s"$fix/corrupt.ndjson",
      s"$tmp/graft_job_corrupt", "DocumentReference")
    assert(stats.corrupt == 3 && stats.read == 13)
    assert(spark.read.text(s"$tmp/graft_job_corrupt_rejects").count() == 3)
  }

  test("a clean rerun into the same path removes the earlier rejects sink") {
    val out = s"$tmp/graft_job_rerun_${spark.sparkContext.applicationId}"
    graft.util.TempFixtures.deleteOnExit(out)
    graft.util.TempFixtures.deleteOnExit(s"${out}_rejects")
    val dirty = TransformJob.run(spark, s"$fix/corrupt.ndjson", out,
      "DocumentReference")
    assert(dirty == TransformJob.Stats(13, 10, 3))
    assert(new java.io.File(s"${out}_rejects").isDirectory)
    val clean = TransformJob.run(spark, s"$fix/DocumentReference.ndjson", out,
      "DocumentReference")
    assert(clean == TransformJob.Stats(100, 88, 0)) // Specimen-subject docs drop
    assert(!new java.io.File(s"${out}_rejects").exists,
      "a clean run left the earlier run's rejects beside its output")
    assert(spark.read.text(out).count() == 88)
  }

  test("a type error in a field the transformer overwrites is still a reject") {
    // ResearchSubject's transformer overwrites `individual` without reading
    // it, so a scan pruned to the transformer's fields would parse this
    // line as valid while the full-width rejects read diverts it
    val dir = s"$tmp/graft_job_unread_${spark.sparkContext.applicationId}"
    graft.util.TempFixtures.deleteOnExit(dir)
    new java.io.File(dir).mkdirs()
    val in = java.nio.file.Paths.get(dir, "in.ndjson")
    java.nio.file.Files.write(in, java.util.Arrays.asList(
      """{"resourceType": "ResearchSubject", "id": "rsub-a", "status": "active", "subject": {"reference": "Patient/p-001"}}""",
      """{"resourceType": "ResearchSubject", "id": "rsub-b", "status": "active", "subject": {"reference": "Patient/p-002"}, "individual": "not-a-reference"}"""))
    val stats = TransformJob.run(spark, in.toString, s"$dir/out", "ResearchSubject")
    assert(stats == TransformJob.Stats(2, 1, 1))
    val rejects = spark.read.text(s"$dir/out_rejects").collect().map(_.getString(0))
    assert(rejects.length == 1 && rejects.head.contains("rsub-b"))
  }

  test("stop-on-first-error aborts on a corrupt file") {
    intercept[org.apache.spark.SparkException] {
      TransformJob.run(spark, s"$fix/corrupt.ndjson",
        s"$tmp/graft_job_ff", "DocumentReference", stopOnFirstError = true)
    }
  }

  test("stop-on-first-error on a clean file counts like continue mode") {
    val stats = TransformJob.run(spark, s"$fix/Specimen.ndjson",
      s"$tmp/graft_job_ff_clean", "Specimen", stopOnFirstError = true)
    assert(stats == TransformJob.Stats(60, 60, 0))
  }

  test("unknown resourceType raises like dispatch_transformation") {
    intercept[IllegalArgumentException] {
      TransformJob.run(spark, s"$fix/Patient.ndjson", s"$tmp/x", "Observation")
    }
  }
}
