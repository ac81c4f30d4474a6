package graft.fhir

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The nine R5→R4 transformers (SURVEY A9–A17) as pure
  * `DataFrame => DataFrame` column rewrites, plus dispatch (A8).
  *
  * Each function reproduces /root/reference/scripts/transform.py:11-109
  * field-for-field, including the deliberate quirks (documented inline).
  * All rewrites are Catalyst expressions (HOFs `transform`, `withField`,
  * `dropFields`) — whole-stage-codegen'd, no UDFs, so the per-row transform
  * fuses with the scan and sink into one pipelined stage exactly like the
  * reference's single-pass loop (transform.py:154-165), but distributed.
  *
  * "Field absent" is modeled as null (schemas in [[FhirSchemas]]); NDJSON
  * write omits nulls, so presence semantics round-trip.
  */
object Transformers {

  /** A9 — DocumentReference (transform.py:11-28).
    * - drop `version`
    * - per content element: `format = profile[0].valueCoding`, profile
    *   removed (when profile present; else untouched)
    * - DROP rows whose subject.reference contains "Specimen" (substring
    *   test, not prefix — transform.py:26)
    */
  def documentReference(df: DataFrame): DataFrame =
    df.withColumn("version", lit(null).cast(StringType))
      .withColumn("content", transform(col("content"), c =>
        c.withField("format",
            when(c.getField("profile").isNotNull,
              element_at(c.getField("profile"), 1).getField("valueCoding")))
          .dropFields("profile")))
      .filter(!coalesce(col("subject.reference").contains("Specimen"), lit(false)))

  /** A10 — BodyStructure (transform.py:31-35):
    * `location = includedStructure[0].structure`, drop includedStructure.
    */
  def bodyStructure(df: DataFrame): DataFrame =
    df.withColumn("location",
        when(col("includedStructure").isNotNull,
          element_at(col("includedStructure"), 1).getField("structure")))
      .drop("includedStructure")

  /** A11 — Encounter (transform.py:38-47).
    * - QUIRK preserved: `reasonReference` is built from the top-level
    *   `reference` key (popped, default []) but only when `reason` is
    *   present — transform.py:40-41 reads "reference" though gated on
    *   "reason". `reason` itself is NOT removed.
    * - `class` = class.coding[0], defaulting to the literal
    *   {code: NONAC, display: "inpatient non-acute"} when absent.
    * - constant status = "finished".
    */
  def encounter(df: DataFrame): DataFrame = {
    val cls = col("class")
    val firstCoding = element_at(cls.getField("coding"), 1)
    df.withColumn("reasonReference",
        when(col("reason").isNotNull,
          coalesce(transform(col("reference"), r => r.getField("reference")),
            array().cast(ArrayType(StringType)))))
      // the pop() of the top-level "reference" only happens on the reason
      // branch; otherwise the field is kept as-is (transform.py:41)
      .withColumn("reference",
        when(col("reason").isNotNull, lit(null).cast(df.schema("reference").dataType))
          .otherwise(col("reference")))
      .withColumn("class",
        when(cls.isNotNull, struct(
          firstCoding.getField("system").as("system"),
          firstCoding.getField("code").as("code"),
          firstCoding.getField("display").as("display")))
          .otherwise(struct(
            lit(null).cast(StringType).as("system"),
            lit("NONAC").as("code"),
            lit("inpatient non-acute").as("display"))))
      .withColumn("status", lit("finished"))
  }

  /** A12 — Group (transform.py:50-56): drop membership; actual = true;
    * type = "person" (R4B has no `specimen` GroupTypeCode).
    */
  def group(df: DataFrame): DataFrame =
    df.withColumn("membership", lit(null).cast(StringType))
      .withColumn("actual", lit(true))
      .withColumn("type", lit("person"))

  /** A13 — ImagingStudy (transform.py:59-68): rename basedOn →
    * procedureReference; per series element, modality = modality.coding[0]
    * with spaces stripped from system (fixes the " http://dicom..." URI,
    * README-transform.md:30).
    */
  def imagingStudy(df: DataFrame): DataFrame =
    df.withColumn("procedureReference", col("basedOn"))
      .drop("basedOn")
      .withColumn("series", transform(col("series"), se => {
        val m = element_at(se.getField("modality").getField("coding"), 1)
        se.withField("modality",
          when(se.getField("modality").isNotNull, struct(
            regexp_replace(m.getField("system"), " ", "").as("system"),
            m.getField("code").as("code"),
            m.getField("display").as("display"))))
      }))

  /** A14 — MedicationAdministration (transform.py:71-84). All of the
    * following happens only when `medication` is present (the reference
    * nests everything under that gate):
    * - concept branch → medicationCodeableConcept, else reference branch
    *   → medicationReference
    * - occurenceDateTime → effectiveDateTime (typo'd field name is R5's)
    * - category = category[0] (scalarized)
    * Then, unconditionally: strip single-quotes from
    * medicationCodeableConcept.coding[0].system (only element 0 —
    * transform.py:83).
    *
    * NOTE: on medication-absent rows the reference leaves `category` an
    * array; a DataFrame column has one type, so this pack scalarizes to
    * null there (no such rows exist in reference data — occurenceDateTime
    * handling would crash the reference first).
    */
  def medicationAdministration(df: DataFrame): DataFrame = {
    val med = col("medication")
    val hasMed = med.isNotNull
    val concept = med.getField("concept")
    val stripped = df
      .withColumn("medicationCodeableConcept",
        when(hasMed && concept.isNotNull, concept).otherwise(col("medicationCodeableConcept")))
      .withColumn("medicationReference",
        when(hasMed && concept.isNull, med.getField("reference"))
          .otherwise(col("medicationReference")))
      .withColumn("effectiveDateTime",
        when(hasMed, col("occurenceDateTime")).otherwise(col("effectiveDateTime")))
      .withColumn("occurenceDateTime",
        when(hasMed, lit(null).cast(StringType)).otherwise(col("occurenceDateTime")))
      // R4 category is SCALAR: category = category[0] (transform.py:80-81).
      // The column type changes array<cc> → cc; medication-absent rows
      // yield null (see NOTE above — no such rows exist in reference data).
      .withColumn("category",
        when(hasMed, element_at(col("category"), 1)))
      .drop("medication")
    // quote-strip on coding[0].system of the (possibly just-set) concept
    val mcc = col("medicationCodeableConcept")
    stripped.withColumn("medicationCodeableConcept",
      when(mcc.isNotNull,
        mcc.withField("coding", transform(mcc.getField("coding"), (cd, i) =>
          cd.withField("system",
            when(i === 0, regexp_replace(cd.getField("system"), "'", ""))
              .otherwise(cd.getField("system")))))))
  }

  /** A15 — ResearchStudy (transform.py:87-91): drop `name`. */
  def researchStudy(df: DataFrame): DataFrame =
    df.withColumn("name", lit(null).cast(StringType))

  /** A16 — ResearchSubject (transform.py:94-98): subject → individual;
    * status = "on-study" (R5 "active" is invalid R4).
    */
  def researchSubject(df: DataFrame): DataFrame =
    df.withColumn("individual", col("subject"))
      .withColumn("subject", lit(null).cast(FhirSchemas.reference))
      .withColumn("status", lit("on-study"))

  /** A17 — Specimen (transform.py:101-109): per processing element,
    * method → procedure; delete collection.procedure.
    */
  def specimen(df: DataFrame): DataFrame =
    df.withColumn("processing", transform(col("processing"), p =>
        p.withField("procedure", p.getField("method")).dropFields("method")))
      .withColumn("collection",
        when(col("collection").isNotNull, col("collection").dropFields("procedure")))

  /** A8 — dispatch table (transform.py:112-129). Unknown resourceType is
    * the caller's reject channel: [[dispatch]] returns None for it, and
    * [[splitByType]] routes those rows to the reject frame instead of
    * raising, mirroring the ValueError → log-and-continue path
    * (transform.py:166-169).
    */
  val byType: Map[String, DataFrame => DataFrame] = Map(
    "DocumentReference" -> documentReference,
    "BodyStructure" -> bodyStructure,
    "Encounter" -> encounter,
    "Group" -> group,
    "ImagingStudy" -> imagingStudy,
    "MedicationAdministration" -> medicationAdministration,
    "ResearchStudy" -> researchStudy,
    "ResearchSubject" -> researchSubject,
    "Specimen" -> specimen)

  def dispatch(resourceType: String): Option[DataFrame => DataFrame] =
    byType.get(resourceType)

  /** Split a mixed-type resource frame (already schema'd per type via
    * from_json, or raw with a resourceType column) into per-type transformed
    * branches plus a reject frame of unknown types. Per-branch filters push
    * into the scan; each branch is an independent pipelined job (the
    * file-per-type layout of the reference means branches are usually
    * separate inputs anyway).
    */
  def splitByType(mixed: DataFrame): (Map[String, DataFrame], DataFrame) = {
    val known = byType.keySet
    val branches = known.toSeq.sorted.map { t =>
      t -> mixed.filter(col("resourceType") === t)
    }.toMap
    val rejects = mixed.filter(!col("resourceType").isInCollection(known.toSeq)
      || col("resourceType").isNull)
    (branches, rejects)
  }
}
