package graft.fhir

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ValidationSpec extends SparkSpec {

  private val fix = "/root/repo/fixtures/fhir"

  test("in-band observe metrics ride the transform action (zero extra scans)") {
    val raw = FhirIO.readNdjson(spark, s"$fix/ResearchSubject.ndjson",
      FhirSchemas.researchSubject)
    val obs = Observation("rsub_valid")
    val out = Transformers.researchSubject(
      raw.observe(obs, count(lit(1)).as("n_rows"),
        sum(when(!Validation.researchSubjectRules.head.valid, 1L).otherwise(0L))
          .as("bad_status")))
    val n = out.count() // single action: transform + metrics together
    assert(n == 8)
    assert(obs.get("n_rows") == 8L)
    assert(obs.get("bad_status") == 8L) // all raw rows carry R5 "active"
    // and the transformed frame itself is violation-free
    val post = Validation.summarize(
      Transformers.researchSubject(raw), Validation.researchSubjectRules)
    assert(post.head().getAs[Long]("bad_status_in_vocab") == 0L)
  }

  test("documentReference rules: specimen subjects flagged raw, clean after") {
    val raw = FhirIO.readNdjson(spark, s"$fix/DocumentReference.ndjson",
      FhirSchemas.documentReference)
    val pre = Validation.summarize(raw, Validation.documentReferenceRules).head()
    assert(pre.getAs[Long]("bad_subject_not_specimen") == 12L)
    val post = Validation.summarize(
      Transformers.documentReference(raw), Validation.documentReferenceRules).head()
    assert(post.getAs[Long]("bad_subject_not_specimen") == 0L)
    assert(post.getAs[Long]("bad_attachment_size_nonneg") == 0L)
  }
}
