package graft.fhir

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.CommittedAppend

/** The WRITE half of the store contract: update-create ingest into an
  * append-only version feed (the reference's store is created with
  * `--enable-update-create`, README.md:29 — a PUT with a client-supplied
  * id upserts, and the server assigns `meta.versionId` = prior + 1 and
  * stamps `meta.lastUpdated`). The read half ([[FhirSearch]] `_history` /
  * vread / [[FhirSearch.currentFromHistory]]) already serves such feeds;
  * this operator produces them.
  *
  * Scale shape: the prior-version map is ONE shuffle-on-id aggregation
  * over the feed (the same max_by log-to-snapshot compaction the read
  * side uses — no window sort), and the batch joins it on id; the batch
  * is micro-batch-sized, so AQE broadcasts it unforced. Nothing is
  * collected; exactly-once under an at-least-once scheduler comes from
  * [[CommittedAppend]] (marker + deterministic staging +
  * clear-then-promote wholesale replace), the same lifecycle as the
  * LSH/IVF index appends.
  */
object FhirStore {

  /** The new VERSION ROWS an update-create batch appends to `feed`:
    * per batch row, `meta.versionId` = the feed's max versionId for that
    * id + 1 (1 where the id is new — the "create" half), `meta
    * .lastUpdated` = the caller's stamp (callers pass an explicit
    * instant: version assignment must be replay-deterministic, so the
    * server clock is pinned per batch, never read per row). Every other
    * meta field (tag/security/profile) passes through from the batch.
    * Output columns align to the feed's schema, so the rows are
    * union-compatible with the feed they extend.
    */
  def updateCreateRows(feed: DataFrame, batch: DataFrame,
      lastUpdated: String): DataFrame =
    guardedRows(feed, batch, lastUpdated)._1

  /** [[updateCreateRows]] and the batch's row count, which the
    * duplicate-id guard's aggregate reads anyway.
    */
  private def guardedRows(feed: DataFrame, batch: DataFrame,
      lastUpdated: String): (DataFrame, Long) = {
    // versions are assigned per BATCH (prior max + 1 joined to every
    // row), so two updates of one id inside one batch would land the
    // SAME versionId twice and corrupt the feed's (id, version)
    // uniqueness — refuse loudly (one bounded aggregate over the
    // micro-batch); intra-batch update sequences belong in sequential
    // batches, where each sees the other's version
    val idStats = batch.agg(count(lit(1)), count_distinct(col("id"))).head()
    require(idStats.getLong(0) == idStats.getLong(1),
      s"update-create batch carries duplicate ids " +
        s"(${idStats.getLong(0)} rows, ${idStats.getLong(1)} distinct): " +
        "versions are assigned per batch — split intra-batch updates " +
        "of one resource across sequential batches")
    val prior = feed.groupBy(col("id"))
      .agg(max(col("meta").getField("versionId").cast("int")).as("_prior"))
    val metaType = feed.schema("meta").dataType.asInstanceOf[StructType]
    val newMeta = struct(metaType.fieldNames.map {
      case "versionId" =>
        (coalesce(col("_prior"), lit(0)) + 1).cast("string").as("versionId")
      case "lastUpdated" => lit(lastUpdated).as("lastUpdated")
      case f => col("meta").getField(f).as(f)
    }.toSeq: _*)
    val rows = batch.join(prior, Seq("id"), "left")
      .withColumn("meta", newMeta)
      .select(feed.columns.map(col).toSeq: _*)
    (rows, idStats.getLong(0))
  }

  /** Exactly-once update-create ingest of `batch` into the parquet
    * version feed at `feedDir`. Returns true when this call landed the
    * batch, false when a prior attempt already committed it (replay =
    * no-op). Crash-safe at every point: the prior-version map is
    * computed over the feed EXCLUDING this batch's own promoted files,
    * so a retry after a crash mid-promotion re-stages row-identical
    * content (the [[CommittedAppend]] determinism fingerprint verifies
    * this) and clear-then-promote convergence lands exactly one copy of
    * each version row.
    */
  def updateCreate(spark: SparkSession, feedDir: String, batch: DataFrame,
      batchId: Long, lastUpdated: String): Boolean =
    CommittedAppend.run(spark, feedDir, batchId, batch) { (batch, stage) =>
      // scale-adaptive staged width (the outFiles policy of the other
      // committed appends, r21): a micro-batch still lands one id-sorted
      // file, but a backfill-sized batch encodes core-wide instead of
      // serializing through a single repartition(1) task. The width
      // comes from the duplicate-id guard's row count, which runs before
      // any staging write, so a refused batch leaves no staging behind.
      val (rows, n) = guardedRows(
        feedWithout(batch.sparkSession, feedDir, batchId), batch, lastUpdated)
      CommittedAppend.stagedSlices(rows,
          CommittedAppend.outFilesFor(spark, n), col("id"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").parquet(stage)
    }

  /** The feed's data files minus the ones `batchId` itself promoted —
    * the re-read a RETRY must use: after a crash mid-promotion some
    * `batch-<id>-*.parquet` files are already live, and folding them
    * into the prior-version map would bump versions twice (and trip the
    * determinism fingerprint, parking the batch forever). Listing is
    * one driver-side directory scan of the feed root (file-count-scale,
    * not data-scale).
    */
  private def feedWithout(spark: SparkSession, feedDir: String,
      batchId: Long): DataFrame = {
    val root = new Path(feedDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val own = s"batch-$batchId-"
    val entries = fs.listStatus(root).toSeq
    // the listing below is deliberately top-level-only; a partitioned or
    // subdir-compacted feed would silently vanish from the prior-version
    // map and updateCreate would assign COLLIDING (id, versionId) pairs —
    // fail loudly instead of corrupting version assignment
    val dataDirs = entries.filter(e => e.isDirectory &&
      !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
    require(dataDirs.isEmpty,
      s"update-create feed $feedDir contains data subdirectories " +
        s"(${dataDirs.map(_.getPath.getName).mkString(", ")}) — the feed " +
        "layout contract is flat top-level files; a partitioned feed " +
        "would silently drop rows from the prior-version map")
    val files = entries
      .filter { e =>
        val n = e.getPath.getName
        e.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".") && !n.startsWith(own)
      }
      .sortBy(_.getPath.toString)
    require(files.nonEmpty,
      s"update-create needs a seeded feed at $feedDir (an empty store " +
        "is seeded by writing version-1 rows directly, not through " +
        "update-create against nothing)")
    // the schema is the first file's footer, read on the driver: the same
    // one-file read Spark's inference makes, without its one-task job
    val schema = GraftParquetShims.footerSchema(spark,
        spark.sparkContext.hadoopConfiguration, files.head)
      .getOrElse(sys.error(s"no parquet schema in ${files.head.getPath}"))
    spark.read.schema(schema).parquet(files.map(_.getPath.toString): _*)
  }

  /** Current-state snapshot of a feed directory — the read-side
    * [[FhirSearch.currentFromHistory]] over the parquet feed, exposed
    * here so ingest callers can assert the store contract in one call.
    */
  def snapshot(spark: SparkSession, feedDir: String): DataFrame =
    FhirSearch.currentFromHistory(spark.read.parquet(feedDir))

  /** Convenience: the (id → version) map of a feed, for specs/audits. */
  def versions(spark: SparkSession, feedDir: String): DataFrame =
    spark.read.parquet(feedDir)
      .groupBy(col("id"))
      .agg(max(col("meta").getField("versionId").cast("int")).as("version"))
}
