package graft.fhir

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end assay pipeline on the linked fixtures, asserting the A20
  * invariants (/root/reference/scripts/assay.py:98,102,105-106), the
  * order-sensitive last-wins join, uuid5 id stability, and the 3-sink
  * fan-out shape. Ground truth cross-checked with tools/ref_mimic_assay.py.
  */
class AssayPipelineSpec extends SparkSpec {

  private val fix = "/root/repo/fixtures/fhir"

  private lazy val result = AssayPipeline.run(
    FhirIO.readNdjson(spark, s"$fix/DocumentReference.ndjson", FhirSchemas.documentReference),
    FhirIO.readNdjson(spark, s"$fix/Group.ndjson", FhirSchemas.group),
    FhirIO.readNdjson(spark, s"$fix/Specimen.ndjson", FhirSchemas.specimen))

  test("assay counts: 11 pass-1 (groups) + 12 pass-2 (specimen-subject docs)") {
    assert(result.assays.count() == 23)
    assert(result.claimedGroups.count() == 11)
    assert(result.groups.count() == 3)
    assert(result.documents.count() == 100)
  }

  test("A20 invariants: non-patient docs == remaining groups; no missing specimens") {
    val docsIn = FhirIO.readNdjson(spark, s"$fix/DocumentReference.ndjson",
      FhirSchemas.documentReference)
    val specimens = FhirIO.readNdjson(spark, s"$fix/Specimen.ndjson", FhirSchemas.specimen)
    val m = AssayPipeline.invariants(result, docsIn, specimens).head()
    assert(m.getAs[Long]("n_non_patient_docs") == m.getAs[Long]("n_groups"))
    assert(m.getAs[Long]("n_non_patient_docs") == 3)
    assert(m.getAs[Long]("n_missing_specimen") == 0)
  }

  test("last-wins patient pick is member-order-sensitive (g-03: sp-999 missing)") {
    val g3 = result.assays.filter(col("id") === "g-03")
      .select(col("subject.reference"),
        concat_ws("|", transform(col("specimen"), r => r.getField("reference")))).head()
    // sp-999 is the LAST member but not in the table → patient stays sp-006's,
    // yet the ref list still contains sp-999 (assay.py:66-69)
    assert(g3.getString(0) == "Patient/p-006")
    assert(g3.getString(1) == "Specimen/sp-006|Specimen/sp-999")
  }

  test("group with no docs still produces an assay (left-join semantics, g-07)") {
    assert(result.assays.filter(col("id") === "g-07").count() == 1)
  }

  test("pass-2 assay ids match Python uuid5 vectors") {
    val vectors = spark.read.option("header", "true")
      .csv(s"$fix/uuid5_vectors.csv")
      .filter(col("name").endsWith("-assay"))
      .select(col("uuid").as("id"))
    val pass2 = result.assays.join(
      result.claimedGroups.select(col("group_id").as("id")), Seq("id"), "left_anti")
    assert(pass2.count() == 12)
    assert(pass2.join(vectors, Seq("id"), "left_anti").count() == 0)
  }

  test("claimed docs rewritten: patient subject, assay ref appended, mime set") {
    val d1 = result.documents.filter(col("id") === "doc-001").head()
    val subject = d1.getAs[org.apache.spark.sql.Row]("subject")
    assert(subject.getAs[String]("reference").startsWith("Patient/"))
    // doc-001 → g-01 → assay g-01; related must end with ServiceRequest/g-01
    val related = result.documents.filter(col("id") === "doc-001")
      .select(element_at(col("context.related"), -1).getField("reference")).head()
    assert(related.getString(0) == "ServiceRequest/g-01")
    val ct = result.documents.filter(col("id") === "doc-001")
      .select(element_at(col("content"), 1).getField("attachment")
        .getField("contentType")).head()
    assert(ct.getString(0) == "text/tab-separated-values") // sample.maf
  }

  test("existing context.related preserved before append (doc-011)") {
    val refs = result.documents.filter(col("id") === "doc-011")
      .select(concat_ws("|", transform(col("context.related"),
        r => r.getField("reference")))).head().getString(0)
    assert(refs.startsWith("Encounter/e-11|ServiceRequest/"))
  }

  test("untouched docs pass through with version and profile intact (doc-056)") {
    val d = result.documents.filter(col("id") === "doc-056")
      .select(col("version"),
        element_at(col("content"), 1).getField("profile").isNotNull,
        col("subject.reference")).head()
    assert(d.getString(0) != null)
    assert(d.getBoolean(1))
    assert(d.getString(2) == "Group/g-09")
  }

  test("A5 three-sink fan-out: assays + rewritten docs + filtered groups") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_fanout"
    FhirIO.writeNdjson(result.assays, s"$base/Assay")
    FhirIO.writeNdjson(result.documents, s"$base/DocumentReference")
    FhirIO.writeNdjson(result.groups, s"$base/Group")
    assert(spark.read.json(s"$base/Assay").count() == 23)
    assert(spark.read.json(s"$base/DocumentReference").count() == 100)
    assert(spark.read.json(s"$base/Group").count() == 3)
    // NDJSON writer must omit null fields (dict semantics): rewritten docs
    // have no `version` key at all
    val doc1 = spark.read.json(s"$base/DocumentReference")
      .filter(col("id") === "doc-001")
    assert(!doc1.schema.fieldNames.contains("version") ||
      doc1.filter(col("version").isNotNull).count() == 0)
  }

  test("A32 non-R4 rewrite: basedOn append, stringified size, version kept") {
    val docs = FhirIO.readNdjson(spark, s"$fix/DocumentReference.ndjson",
      FhirSchemas.documentReference)
      .filter(col("id") === "doc-001")
      .withColumn("assay_id", lit("g-01"))
      .withColumn("patient_ref", lit("Patient/p-002"))
      .withColumn("doc_key", lit("g-01"))
    val row = AssayPipeline.rewriteDocsNonR4(docs)
    assert(row.select(element_at(col("basedOn"), -1).getField("reference"))
      .head().getString(0) == "ServiceRequest/g-01")
    // size stringified, version and profile retained (non-R4 keeps them)
    val c0 = row.select(
      element_at(col("content"), 1).getField("attachment").getField("size"),
      col("version"),
      element_at(col("content"), 1).getField("profile").isNotNull).head()
    assert(c0.getString(0) == "1234" && c0.getString(1) != null && c0.getBoolean(2))
  }

  test("assay struct constants (A30)") {
    val a = result.assays.filter(col("id") === "g-01").select(
      col("resourceType"), col("status"), col("intent"),
      col("code.coding").getItem(0).getField("code"),
      col("category").getItem(0).getField("coding").getItem(0).getField("code"),
      col("text.status")).head()
    assert(a.getString(0) == "ServiceRequest" && a.getString(1) == "completed"
      && a.getString(2) == "order" && a.getString(3) == "15220000"
      && a.getString(4) == "108252007" && a.getString(5) == "generated")
  }
}
