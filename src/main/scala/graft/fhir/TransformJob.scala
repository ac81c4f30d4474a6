package graft.fhir

import org.apache.spark.sql.SparkSession

/** Library-level equivalent of the reference's transform.py CLI
  * (`--input-ndjson IN --output-ndjson OUT [--stop-on-first-error]`):
  * scan → dispatch → transform → (structural validation) → NDJSON sink,
  * one fused distributed pass (transform.py:147-169).
  *
  * A user of the reference switches by replacing
  *   `python transform.py --input-ndjson R5/X.ndjson --output-ndjson R4/X.ndjson`
  * with
  *   `TransformJob.run(spark, "R5/X.ndjson", "R4/X.ndjson", "X")`.
  */
object TransformJob {

  final case class Stats(read: Long, written: Long, corrupt: Long)

  /** Transform one resource-type NDJSON file R5→R4.
    *
    * @param stopOnFirstError FAILFAST parse (the reference's
    *   --stop-on-first-error); otherwise malformed lines are diverted to
    *   `<outPath>_rejects` (continue-and-log semantics).
    */
  def run(spark: SparkSession, inPath: String, outPath: String,
      resourceType: String, stopOnFirstError: Boolean = false): Stats = {
    val schema = FhirSchemas.byType.getOrElse(resourceType,
      throw new IllegalArgumentException(
        s"Unsupported resourceType: $resourceType")) // transform.py:129
    val transformer = Transformers.dispatch(resourceType).getOrElse(
      throw new IllegalArgumentException(
        s"Unsupported resourceType: $resourceType"))

    if (stopOnFirstError) {
      val df = FhirIO.readNdjsonFailFast(spark, inPath, schema)
      val out = transformer(df)
      FhirIO.writeNdjson(out, outPath)
      Stats(df.count(), out.count(), 0L)
    } else {
      // every action on the parsed frame happens inside this job, so the
      // cache retires before the Stats return — no session-lived leak
      val parsed = FhirIO.readNdjsonPermissive(spark, inPath, schema).cache()
      try {
        val valid = FhirIO.isValid(parsed)
        val corrupt = FhirIO.isCorrupt(parsed)
        val out = transformer(valid)
        FhirIO.writeNdjson(out, outPath)
        val nCorrupt = corrupt.count()
        if (nCorrupt > 0) {
          corrupt.select(FhirIO.CorruptCol)
            .write.mode("overwrite").text(s"${outPath}_rejects")
        }
        Stats(parsed.count(), out.count(), nCorrupt)
      } finally { parsed.unpersist(): Unit }
    }
  }
}
