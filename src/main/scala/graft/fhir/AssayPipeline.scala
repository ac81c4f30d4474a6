package graft.fhir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The assay linking pipeline (SURVEY A21–A33) — the reference's most
  * complex computation (/root/reference/scripts/assay.py:33-226),
  * re-expressed as a relational plan:
  *
  * pass 1 (groups): posexplode members → keep `Specimen/` refs →
  * left-join to specimens → per-group agg with ORDER-SENSITIVE last-wins
  * patient pick (assay.py:68-69) → filter groups with a patient and ≥1
  * specimen ref → Assay per group (id = group id).
  *
  * pass 2 (docs): the reference mutates shared doc dicts in pass 1, so
  * pass 2 only sees Specimen-subject docs NOT already claimed via groups —
  * here that ordering is an explicit anti-join (SURVEY §3.2). Assay id =
  * uuid5(NAMESPACE_DNS, doc.id + "-assay") via the custom expression.
  *
  * Doc rewrite (A31): subject → patient, version dropped, content[0]'s
  * profile dropped (only element 0 — assay.py:213), Assay ref appended to
  * context.related, contentType inferred onto content[0].attachment.
  *
  * Scale notes: specimens and the claimed-groups map are dimension-sized
  * at any per-project cardinality, but they SCALE WITH THE STORE — so no
  * join here carries a forced broadcast hint. Stats/AQE pick BHJ whenever
  * the dim side actually fits (they do at reference scale — plan-asserted
  * in PlanAuditSpec) and degrade to a shuffled join instead of OOMing the
  * driver when it doesn't. Docs (the 27K-per-537-patients fan-out in the
  * reference store, i.e. the skewed fact side) shuffle at most once on
  * doc_key. The group agg carries only (pos, ref) pairs, not whole docs.
  * [[run]] builds ONE specimen dimension and parses the documents ONCE:
  * both passes join the same cached dimension, the untouched-document
  * anti-join reads the cached keyed documents, and the claimed documents
  * of both passes go through a single [[rewriteDocs]] projection.
  */
object AssayPipeline {

  /** The three output sinks of the reference job (A5). */
  final case class Result(
      assays: DataFrame,
      documents: DataFrame,
      groups: DataFrame,
      claimedGroups: DataFrame)

  private val refId = (c: Column) => split(c, "/").getItem(1)

  /** One row per specimen id, LAST occurrence winning — the reference's
    * `{s.id: s for s in specimens}` dict semantics (assay.py:42): a
    * duplicate id must not fan out the member join.
    *
    * ORDER CONTRACT: "last" = monotonically_increasing_id order, i.e.
    * (partition index, row-within-partition). For a SINGLE NDJSON file per
    * resource type (the reference layout, and what this pipeline reads)
    * that is exactly file order, because Spark assigns split partitions in
    * file-offset order and preserves row order within each split. A
    * MULTI-FILE or repartitioned specimen input has no defined inter-file
    * "last"; callers feeding one must pre-sort on an explicit version/order
    * column instead. TransformerPropertySpec pins both behaviors.
    */
  private def specimenDim(specimens: DataFrame): DataFrame =
    specimens
      .select(col("id").as("spec_id"), col("subject.reference").as("spec_patient"),
        monotonically_increasing_id().as("_ord"))
      .groupBy("spec_id")
      .agg(max_by(col("spec_patient"), col("_ord")).as("spec_patient"))

  /** Per-group patient + specimen refs, member-order-sensitive (A22–A25). */
  def groupLinks(groups: DataFrame, specimens: DataFrame): DataFrame =
    linksOver(groups, specimenDim(specimens))

  private def linksOver(groups: DataFrame, specDim: DataFrame): DataFrame = {
    val members = groups
      .select(col("id").as("group_id"), posexplode(col("member")).as(Seq("pos", "m")))
      .filter(col("m.entity.reference").isNotNull &&
        col("m.entity.reference").startsWith("Specimen/"))
      .select(col("group_id"), col("pos"),
        col("m.entity.reference").as("specimen_ref"),
        refId(col("m.entity.reference")).as("spec_id"))
    members
      .join(specDim, Seq("spec_id"), "left")
      .groupBy(col("group_id"))
      .agg(
        // member order preserved via pos sort — the reference appends in
        // iteration order (assay.py:67)
        transform(array_sort(collect_list(struct(col("pos"), col("specimen_ref")))),
          e => e.getField("specimen_ref")).as("specimen_refs"),
        // last-wins: patient of the LAST member whose specimen resolved
        // (assay.py:68-69); members missing from the table contribute a
        // ref but no patient
        max_by(col("spec_patient"),
          when(col("spec_patient").isNotNull, col("pos"))).as("patient_ref"))
  }

  /** Groups that produce a pass-1 assay (A25): patient found and ≥1
    * specimen ref.
    */
  def claimedGroups(links: DataFrame): DataFrame =
    links.filter(col("patient_ref").isNotNull && size(col("specimen_refs")) > 0)

  /** Construct the Assay (ServiceRequest) records (A30) from
    * (assay_id, patient_ref, specimen_refs).
    */
  def buildAssays(rows: DataFrame): DataFrame = {
    val snomed = (code: String, display: String) => struct(
      array(struct(
        lit("http://snomed.info/sct").as("system"),
        lit(code).as("code"),
        lit(display).as("display"))).as("coding"),
      lit(null).cast(StringType).as("text"))
    rows.select(
      lit("ServiceRequest").as("resourceType"),
      col("assay_id").as("id"),
      lit("completed").as("status"),
      lit("order").as("intent"),
      array(snomed("108252007", "Laboratory procedure")).as("category"),
      snomed("15220000", "Laboratory test").as("code"),
      struct(col("patient_ref").as("reference")).as("subject"),
      struct(
        lit("generated").as("status"),
        lit("""<div xmlns="http://www.w3.org/1999/xhtml">Autogenerated Assay. Packages references to Subject, Specimen and DocumentReference<div>""").as("div")
      ).as("text"),
      transform(col("specimen_refs"), r => struct(r.as("reference"))).as("specimen"))
  }

  /** Rewrite claimed docs (A31 + A33): patient subject, version dropped,
    * content[0].profile dropped, contentType inferred on content[0],
    * `ServiceRequest/<assay_id>` appended to context.related.
    */
  def rewriteDocs(docs: DataFrame): DataFrame = {
    val att0 = element_at(col("content"), 1).getField("attachment")
    val mime = Mime.infer(att0.getField("title"), att0.getField("url"))
    val newRelated = concat(
      coalesce(col("context.related"),
        array().cast(ArrayType(FhirSchemas.reference))),
      array(struct(
        concat(lit("ServiceRequest/"), col("assay_id")).as("reference"),
        lit(null).cast(StringType).as("display"))))
    docs
      .withColumn("subject",
        struct(col("patient_ref").as("reference"), lit(null).cast(StringType).as("display")))
      .withColumn("version", lit(null).cast(StringType))
      .withColumn("context", struct(newRelated.as("related")))
      .withColumn("content", transform(col("content"), (c, i) =>
        when(i === 0,
          c.withField("profile", lit(null).cast(
            ArrayType(StructType(Seq(StructField("valueCoding", FhirSchemas.coding))))))
            .withField("attachment.contentType", mime))
          .otherwise(c)))
      .drop("assay_id", "patient_ref", "doc_key")
  }

  /** A32 — the non-R4 rewrite branch (assay.py:198-208): append the Assay
    * ref to `basedOn` (instead of context.related), stringify
    * attachment.size (R5 integer64 → string), keep version/profile. The
    * reference never executes this branch (base defaults to 'R4'), but the
    * semantics are preserved here for R5-target deployments. The output
    * content schema differs (size: string), so this is a standalone
    * transformation, not part of [[run]].
    */
  def rewriteDocsNonR4(docs: DataFrame): DataFrame = {
    val newBasedOn = concat(
      coalesce(col("basedOn"), array().cast(ArrayType(FhirSchemas.reference))),
      array(struct(
        concat(lit("ServiceRequest/"), col("assay_id")).as("reference"),
        lit(null).cast(StringType).as("display"))))
    val att0 = element_at(col("content"), 1).getField("attachment")
    val mime = Mime.infer(att0.getField("title"), att0.getField("url"))
    docs
      .withColumn("subject",
        struct(col("patient_ref").as("reference"), lit(null).cast(StringType).as("display")))
      .withColumn("basedOn", newBasedOn)
      .withColumn("content", transform(col("content"), (c, i) => {
        val att = c.getField("attachment")
        val newAtt = struct(
          when(i === 0, mime).otherwise(att.getField("contentType")).as("contentType"),
          att.getField("title").as("title"),
          att.getField("url").as("url"),
          // stringify size (assay.py:206-208) — type change long → string
          att.getField("size").cast(StringType).as("size"))
        c.withField("attachment", newAtt)
      }))
      .drop("assay_id", "patient_ref", "doc_key")
  }

  def run(docs: DataFrame, groups: DataFrame, specimens: DataFrame): Result = {
    // the caches are result-reachable (the Result frames read them), so
    // they cannot self-unpersist — Scratch-registered for session-scoped
    // release instead of leaking per invocation.
    // One specimen dimension serves pass 1's member join and pass 2's
    // subject join, and every sink reads it from the cache.
    val specDim = graft.util.Scratch.cached(specimenDim(specimens))
    val claimed = graft.util.Scratch.cached(claimedGroups(linksOver(groups, specDim)))

    // A26: docs indexed by the id part of their subject ref (assay.py:47).
    // Cached: pass 1, pass 2, and the untouched anti-join all re-read it.
    val keyedDocs = graft.util.Scratch.cached(
      docs.withColumn("doc_key", refId(col("subject.reference"))))

    // No broadcast hint: claimed groups scale with the store; the planner
    // sizes the (cached) dim itself and picks BHJ at any realistic
    // per-project cardinality.
    val claimDim = claimed.select(
      col("group_id").as("doc_key"),
      col("group_id").as("assay_id"),
      col("patient_ref"))

    val pass1Docs = keyedDocs.join(claimDim, Seq("doc_key"))

    // pass 2 (A28): Specimen-subject docs not claimed in pass 1 — the
    // shared-mutation ordering of the reference, as an anti-join
    val pass2Base = keyedDocs
      .filter(col("subject.reference").startsWith("Specimen/"))
      .join(claimDim.select(col("doc_key")), Seq("doc_key"), "left_anti")
    // inner join = the reference's KeyError-on-missing lookup (assay.py:97):
    // a missing specimen silently drops here; A20 invariants catch it
    val pass2Docs = pass2Base
      .join(specDim.select(col("spec_id").as("doc_key"),
        col("spec_patient").as("patient_ref")), Seq("doc_key"))
      .withColumn("assay_id",
        call_function("uuid5_dns", concat(col("id"), lit("-assay"))))

    val assays1 = buildAssays(claimed.select(
      col("group_id").as("assay_id"), col("patient_ref"), col("specimen_refs")))
    val assays2 = buildAssays(pass2Docs.select(
      col("assay_id"), col("patient_ref"),
      array(col("subject.reference")).as("specimen_refs")))

    val claimedCols = docs.columns.map(col) ++ Seq(col("assay_id"), col("patient_ref"))
    val rewritten = rewriteDocs(pass1Docs.select(claimedCols: _*)
      .unionByName(pass2Docs.select(claimedCols: _*)))

    // untouched docs pass through verbatim (assay.py:115-117 writes ALL
    // docs; only claimed ones were mutated) — read from the cached
    // keyedDocs, so the documents are parsed once
    val claimedIds = pass1Docs.select(col("id")).union(pass2Docs.select(col("id")))
    val untouched = keyedDocs.join(claimedIds, Seq("id"), "left_anti")

    val documentsOut = rewritten.select(docs.columns.map(col): _*)
      .unionByName(untouched.select(docs.columns.map(col): _*))

    // A27: drop claimed groups from the group output
    val groupsOut = groups.join(
      claimed.select(col("group_id").as("id")), Seq("id"), "left_anti")

    Result(
      assays = assays1.unionByName(assays2),
      documents = documentsOut,
      groups = groupsOut,
      claimedGroups = claimed)
  }

  /** A20 runtime invariants (assay.py:98,102,105-106) as one metrics row;
    * callers assert all counters are zero / equal.
    */
  def invariants(result: Result, docsIn: DataFrame, specimens: DataFrame): DataFrame = {
    val docsOut = result.documents
    val nonPatientDocs = docsOut
      .filter(!coalesce(col("subject.reference").startsWith("Patient/"), lit(false)))
      .agg(count(lit(1)).as("n")).select(col("n"))
    val remainingGroups = result.groups.agg(count(lit(1)).as("n")).select(col("n"))
    val missingSpecimen = docsIn
      .filter(col("subject.reference").startsWith("Specimen/"))
      .join(specimens.select(col("id").as("sid")),
        refId(col("subject.reference")) === col("sid"), "left_anti")
      .agg(count(lit(1)).as("n")).select(col("n"))
    nonPatientDocs.crossJoin(remainingGroups.withColumnRenamed("n", "n_groups"))
      .crossJoin(missingSpecimen.withColumnRenamed("n", "n_missing_specimen"))
      .withColumnRenamed("n", "n_non_patient_docs")
  }
}
