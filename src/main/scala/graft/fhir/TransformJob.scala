package graft.fhir

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Library-level equivalent of the reference's transform.py CLI
  * (`--input-ndjson IN --output-ndjson OUT [--stop-on-first-error]`):
  * scan → dispatch → transform → (structural validation) → NDJSON sink,
  * one fused distributed pass (transform.py:147-169).
  *
  * The pass is one Spark job per file. The [[Stats]] counters are
  * [[Observation]]s on that job's NDJSON write, not count jobs of their
  * own: `read` and `corrupt` are observed on the scan, `written` after
  * the transformer. Only a file with rejects runs a second job, which
  * re-reads the input for the rejects sink.
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
    *   `<outPath>_rejects` (continue-and-log semantics). A run without
    *   rejects removes the rejects sink an earlier run into `outPath`
    *   left, so the output always agrees with the returned [[Stats]].
    */
  def run(spark: SparkSession, inPath: String, outPath: String,
      resourceType: String, stopOnFirstError: Boolean = false): Stats = {
    val schema = FhirSchemas.byType.getOrElse(resourceType,
      throw new IllegalArgumentException(
        s"Unsupported resourceType: $resourceType")) // transform.py:129
    val transformer = Transformers.dispatch(resourceType).getOrElse(
      throw new IllegalArgumentException(
        s"Unsupported resourceType: $resourceType"))
    val (in, corrupt) =
      if (stopOnFirstError) (FhirIO.readNdjsonFailFast(spark, inPath, schema), lit(null))
      else (FhirIO.readNdjsonPermissive(spark, inPath, schema), col(FhirIO.CorruptCol))
    // Continue mode decides validity on EVERY field, as the full-width
    // rejects read below does: the valid rows are counted as a struct of
    // all columns, whose references keep the write's scan at full width.
    // (A transformer that overwrites a field without reading it, such as
    // ResearchSubject's `individual`, would otherwise let a pruned scan
    // pass a line the rejects read diverts.) In FAILFAST mode the struct
    // folds away and the scan parses what the transformer reads.
    val scanned = Observation()
    val observed = in.observe(scanned,
      count(when(corrupt.isNull, struct(in.columns.toSeq.map(col): _*))).as("valid"),
      count(corrupt).as("corrupt"))
    val written = Observation()
    FhirIO.writeNdjson(
      transformer(if (stopOnFirstError) observed else FhirIO.isValid(observed))
        .observe(written, count(lit(1)).as("written")),
      outPath)
    // counts observed on the finished write; an empty input observes 0
    def counted(obs: Observation, name: String) = obs.get(name).asInstanceOf[Long]
    val nCorrupt = counted(scanned, "corrupt")
    // the rejects sink holds the raw malformed lines, or does not exist.
    // Spark refuses a raw JSON scan whose only required column is
    // `_corrupt_record`, so the corrupt rows are cached at full width
    // first (its documented workaround); the cache holds those rows alone
    val rejects = new Path(s"${outPath}_rejects")
    if (nCorrupt > 0) {
      val bad = FhirIO.isCorrupt(FhirIO.readNdjsonPermissive(spark, inPath, schema)).cache()
      try bad.select(FhirIO.CorruptCol).write.mode("overwrite").text(rejects.toString)
      finally { bad.unpersist(): Unit }
    } else {
      rejects.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rejects, true): Unit
    }
    Stats(counted(scanned, "valid") + nCorrupt, counted(written, "written"), nCorrupt)
  }
}
