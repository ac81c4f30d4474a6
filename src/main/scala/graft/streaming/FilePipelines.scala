package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Production-shaped streaming pipelines (SURVEY C9, end-to-end): the two
  * deployment shapes a real ingest runs first —
  *
  * 1. file source → file sink with a checkpoint. Exactly-once comes from
  *    the pairing of (a) checkpointed source offsets (which input files a
  *    committed microbatch covered) and (b) the parquet sink's
  *    `_spark_metadata` commit log (which output files belong to committed
  *    batches). A crashed/restarted query replays only uncommitted work
  *    and re-commits idempotently — downstream readers of the sink see
  *    each input record exactly once. Proven by the kill-and-resume
  *    FilePipelineSpec.
  *
  * 2. foreachBatch upsert: microbatch merge into a keyed table (the
  *    MERGE-INTO shape). foreachBatch gives at-least-once batch delivery
  *    with a (batchId, epoch) the writer can use for idempotence; the
  *    merge itself is last-wins per key, so replays converge — the
  *    standard recipe when the sink is a mutable store rather than an
  *    append log.
  *
  * At scale both run unchanged: the file source lists/splits new objects
  * per trigger, the sink commit log keeps O(batches) metadata, and the
  * upsert merge is a broadcast/shuffle join sized by the microbatch.
  */
object FilePipelines {

  /** Per-language quality profile of an ARRIVING crawl — the streaming
    * face of the extraction+quality verdict (the text_warc_html_curation
    * machinery): splittable warcgz records → HTML main-text extraction →
    * row-local quality score → stream-static enrichment against the tiny
    * (doc_id, lang) dimension (broadcast; no stream-side shuffle) → one
    * per-language aggregate (counts + exact-decimal mean quality — davg
    * is sum(DECIMAL)/count, so partial aggregation and micro-batch merge
    * order cannot move the mean). Runs IDENTICALLY over
    * `spark.read.format("warcgz")` (the hash-checked batch gate
    * stream_warc_quality) and `spark.readStream.format("warcgz")` in
    * complete output mode (FilePipelineSpec pins stream == batch after
    * every landed segment).
    *
    * At 100 TB: the only state is |langs| aggregate rows; arriving crawl
    * segments are planned by the source's byte-range splits, extraction
    * and scoring stay map-side, and the dimension join broadcasts.
    */
  def warcQualityByLang(pages: DataFrame, langDim: DataFrame): DataFrame = {
    import graft.functions.Exact
    import graft.operators.TextOps
    val docs = pages.filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("record_id"), "-(\\d+)>$", 1)
          .cast(LongType).as("doc_id"),
        col("body").cast(StringType).as("html"))
    TextOps.htmlExtract(docs)
      .select(col("doc_id"),
        TextOps.qualityCol(col("clean_text")).as("quality"))
      .join(broadcast(langDim), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
        round(Exact.davg(col("quality"), 15), 6).as("mean_quality"))
  }

  /** Line-JSON document schema for the Bloom novelty ingest. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** One micro-batch of the Bloom novelty ingest: probe the arriving
    * docs against the filter of all PRIOR batches, append their
    * (doc_id, seen) verdicts, then publish the filter with this batch's
    * bits OR'd in. State is versioned by batch id (`epoch=<batchId>`),
    * and a batch only ever reads epochs STRICTLY BELOW its own id — so
    * a replayed batch (foreachBatch is at-least-once) re-probes the
    * identical prior filter and overwrites the identical verdict
    * partition: exactly-once OUTPUT from at-least-once delivery, the
    * same discipline as [[upsertBatch]]. Epochs older than the
    * immediately-previous one are GC'd after publish (each epoch
    * subsumes all before it — bit_or is idempotent — and the previous
    * epoch is retained for the crash window, the WarcGz manifest rule).
    *
    * At 100 TB the state is ≤ mBits/32 BIGINT rows per epoch — constant
    * in history size — so it reads DRIVER-SIDE ([[graft.util.BloomState]])
    * and the probe verdict is a map-side projection no matter how many
    * petabytes the filter has absorbed.
    */
  def bloomMergeBatch(batch: DataFrame, stateDir: String, outDir: String,
      batchId: Long, kHashes: Int = 4, mBits: Int = 32768): Unit =
    // fixed micro-batch plan, bounded shuffles — skip AQE's per-exchange
    // stage-materialization jobs ([[graft.util.Regime.microBatch]])
    microBatch(batch) { b =>
      val bloom = graft.util.BloomState.epoch(b.sparkSession, stateDir,
        batchId)
      bloom.probe(b, col("doc_id"), col("text"), kHashes, mBits)
        .withColumnRenamed("id", "doc_id")
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      bloom.publish(b, col("text"), kHashes, mBits)
    }

  /** Streaming Bloom novelty ingest: NDJSON document segments land in
    * `inDir`; each micro-batch gets seen/novel verdicts against
    * everything that arrived before it ([[bloomMergeBatch]]). The batch
    * face of the same semantics — segment s probed against the filter
    * of segments < s — is `Dedup.bloomNovelBySegment`, hash-checked by
    * the stream_bloom_novel gate; FilePipelineSpec pins stream == batch
    * verdict-for-verdict when segments arrive in order.
    */
  def bloomNoveltyStream(spark: SparkSession, inDir: String, stateDir: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    eachBatch(spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .json(inDir), checkpointDir) {
      (b, id) => bloomMergeBatch(b, stateDir, outDir, id)
    }

  /** Run `body` on `batch` rebound into its session's
    * [[graft.util.Regime.microBatch]] regime, in a
    * [[graft.util.Scratch.scoped]] release of the regime's session:
    * internal caches operators register during the batch (e.g.
    * probeLshIndex's band table) are garbage the moment its sinks commit,
    * and a continuous stream would otherwise accrete one per batch.
    */
  private def microBatch[T](batch: DataFrame)(body: DataFrame => T): T = {
    val spark = batch.sparkSession
    graft.util.Regime.run(spark, graft.util.Regime.microBatch(spark))(batch) {
      case (s, Seq(b)) => graft.util.Scratch.scoped(s)(body(b))
    }
  }

  /** Run `f` on each micro-batch of `source` with its batch id (at least
    * once, checkpointed in `checkpointDir`) over the input present at
    * start, then stop — the AvailableNow trigger every foreachBatch
    * pipeline here runs on.
    */
  private def eachBatch(source: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream.foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Line-JSON event schema — the `events` table's streaming face. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** NDJSON-in → partitioned-parquet-out, checkpointed, AvailableNow (run
    * to completion over current input, then stop — restartable from the
    * same checkpoint). The stateless enrich/filter is the standard ingest
    * shape; stateful transforms compose identically.
    */
  def eventsNdjsonToParquet(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1") // deterministic microbatch boundaries
      .json(inDir)
      .filter(col("event_id").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Last-wins upsert of a microbatch into a parquet-backed keyed table:
    * union current ∪ batch, keep the highest (ts, batch-precedence) row
    * per key, atomically swap directories. Replay-safe: merging the same
    * batch twice is a no-op (last-wins converges), which is exactly why
    * foreachBatch's at-least-once delivery still yields exactly-once
    * TABLE STATE.
    */
  def upsertBatch(batch: DataFrame, targetDir: String): Unit =
    microBatch(batch)(upsertBatchBody(_, targetDir))

  private def upsertBatchBody(batch: DataFrame, targetDir: String): Unit = {
    val spark = batch.sparkSession
    val tPath = new org.apache.hadoop.fs.Path(targetDir)
    // fs resolved from the path (not getLocal) so HDFS/S3 targets take
    // the same swap path instead of mis-reading an empty local mirror
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverTarget(fs, targetDir)
    val incoming = batch.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), lit(1).as("_gen"))
    val merged =
      if (!fs.exists(tPath)) incoming
      else spark.read.parquet(targetDir)
        .withColumn("_gen", lit(0))
        .unionByName(incoming)
    val winners = merged
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_id"))
          .orderBy(col("ts").desc, col("_gen").desc)))
      .filter(col("_rn") === 1).drop("_rn", "_gen")
    // write-then-swap: the read above is lazy, so materialize to a fresh
    // dir before replacing the target (never overwrite what you read);
    // the swap parks the live generation as target.old, so every crash
    // window leaves a complete generation for recoverTarget to restore
    val stage = targetDir + ".new"
    winners.write.mode("overwrite").parquet(stage)
    graft.util.Generations.swapIn(fs, targetDir, stage)
  }

  /** Restore a consistent table generation after a crash mid-swap
    * ([[graft.util.Generations.recover]]), and drop a stray `.new`
    * stage. Idempotent; run before every merge, never concurrently with
    * one. A missing target with `target.old` present is put back (the
    * replayed microbatch re-merges into it, and last-wins converges);
    * both present means the new generation landed, and the stale old
    * one is dropped.
    */
  def recoverTarget(fs: org.apache.hadoop.fs.FileSystem, targetDir: String): Unit =
    graft.util.Generations.recover(fs, lives = Seq(targetDir),
      stages = Seq(targetDir + ".new"))

  /** foreachBatch upsert pipeline: NDJSON events merged last-wins by
    * event_id into `targetDir`.
    */
  def eventsUpsertStream(spark: SparkSession, inDir: String, targetDir: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(spark.readStream.schema(eventSchema).json(inDir),
      checkpointDir)((batch, _) => upsertBatch(batch, targetDir))

  /** Streaming face of the reference's R5→R4 transform job: NDJSON
    * resources stream in (schema-directed, no inference pass), a pure
    * column transform (graft.fhir.Transformers.*) applies unchanged —
    * the SAME function the batch gates hash-check — and null-omitting
    * NDJSON streams out under the sink commit log. With a checkpoint this
    * is the continuous-ingest deployment of transform.py: drop new
    * exports into `inDir`, each is transformed exactly once, restarts
    * resume from committed offsets.
    */
  def fhirTransformStream(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, schema: StructType)(
      transform: DataFrame => DataFrame): StreamingQuery =
    transform(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(inDir))
      .writeStream.format("json")
      .option("ignoreNullFields", "true")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch of the incremental-ingest ADMISSION pipeline — the
    * per-segment decision a 100 TB crawl runs when a new segment lands,
    * composed from the engine's incremental pieces: exact "seen before"
    * via the epoch-versioned Bloom state (constant-size in history) ∧
    * near-dup via a probe of the PERSISTED LSH index (history never
    * re-minhashed) → admit verdicts; admitted docs are then APPENDED to
    * the LSH index so the NEXT segment probes them, and the batch's bits
    * are OR'd into the Bloom state. The batch face of the same formula
    * is the dedup_incremental_ingest gate; the streaming face is gated
    * (stream_incremental_ingest) with the sequential index growth in the
    * oracle.
    *
    * Exactly-once OUTPUT and STATE from foreachBatch's at-least-once
    * delivery through [[admitBatch]]'s ordered commit points. Its landing
    * step appends the admitted docs via
    * [[graft.operators.Dedup.appendToLshIndexCommitted]] (itself
    * idempotent per batch id), then publishes the Bloom epoch
    * ([[graft.util.BloomState.epoch]]: a batch reads only epochs STRICTLY
    * below its own id, so the idempotent overwrite of `epoch=<id>`
    * reproduces itself).
    *
    * At 100 TB: the Bloom state is ≤ mBits/32 rows per epoch no matter
    * how much history it has absorbed (driver-read, a map-side register
    * literal in the verdict plan — [[graft.util.BloomState]]), the LSH
    * probe prunes on the bsig-sorted index layout, and the append lands
    * only the segment's own rows — nothing here rescans or rewrites
    * history.
    */
  def ingestAdmissionBatch(batch0: DataFrame, indexDir: String,
      stateDir: String, outDir: String, batchId: Long,
      threshold: Double = 0.5, n: Int = 3, numPerms: Int = 32,
      rowsPerBand: Int = 2,
      family: graft.operators.Dedup.MinHashFamily =
        graft.operators.Dedup.FastFamily,
      kHashes: Int = 4, mBits: Int = 32768): Unit = {
    import graft.operators.Dedup
    // driver-read state, read once a step needs it: the probe rides as
    // a register-array projection inside the verdict plan and the publish
    // unions a local relation — no bloom-side scan stage, broadcast
    // build, or per-id aggregation exchange per micro-batch
    lazy val bloom = graft.util.BloomState.epoch(batch0.sparkSession,
      stateDir, batchId)
    admitBatch(batch0.select(col("doc_id"), col("text")), "doc_id", outDir,
        batchId, ingestVerdictSchema) { batch =>
      val near = Dedup.probeLshIndex(batch.sparkSession, indexDir, batch,
          threshold, n, numPerms, rowsPerBand, family = family)
        .groupBy(col("q_id").as("doc_id"))
        .agg(round(max(col("jaccard")), 6).as("best_jaccard"))
      // the probe is a PROJECTION of the cached batch (one row per batch
      // row), so the near-dup side joins straight onto it
      bloom.probe(batch, col("doc_id"), col("text"), kHashes, mBits)
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("seen", "seen_exact")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"), col("seen_exact"),
          col("best_jaccard").isNotNull.as("near_dup"),
          col("best_jaccard"),
          (!col("seen_exact") && col("best_jaccard").isNull).as("admit"))
    } { (batch, admitted, admits) =>
      // the observed admit count sizes the append's staging width with
      // no count job of its own; a replay that skipped the verdict write
      // passes 0, and the append counts (rare path)
      Dedup.appendToLshIndexCommitted(batch.sparkSession, indexDir, admitted,
        batchId, n, numPerms, rowsPerBand, family, setsFiles = admits.fold(0)(
          graft.util.CommittedAppend.outFilesFor(batch.sparkSession, _))): Unit
      bloom.publish(batch, col("text"), kHashes, mBits)
    }
  }

  /** The ordered commit points of every admission micro-batch
    * ([[ingestAdmissionBatch]], [[semanticAdmissionBatch]]), so that
    * every crash window of foreachBatch's at-least-once delivery replays
    * to the same final output and state:
    *
    *  1. `_committed/batch-<id>` under outDir: fully-landed batches
    *     short-circuit. (The only safe replay of a batch whose append
    *     already published is NO recompute — the index now contains the
    *     batch's own rows.)
    *  2. verdicts land FIRST (overwrite of `batch=<id>`), frozen by our
    *     own `_verdicts/batch-<id>` marker; a replay that finds it SKIPS
    *     recompute for the same reason — verdicts freeze before any state
    *     mutation. (Not the sink's `_SUCCESS`: cloud committers often
    *     disable marksuccessfuljobs, and a replay that recomputed verdicts
    *     against the already-grown index would diverge.) The admit count
    *     is observed on that write, in the same job.
    *  3. the admitted set is read BACK from the durable verdicts (never
    *     recomputed), under the pinned `verdictSchema` (no footer
    *     inference pass), and handed to the kind's landing step, itself
    *     idempotent per batch id.
    *  4. the committed marker, last.
    *
    * An admission kind supplies two steps over the cached batch: its
    * `verdicts` plan, built only when the verdicts are not yet frozen
    * (building it may run probe jobs), and its `land` step for the
    * admitted rows, given the admit count observed on this attempt's
    * verdict write (None when a replay found the verdicts frozen).
    *
    * `batch` is cached for the batch's life, and the whole body runs in
    * the [[graft.util.Regime.microBatch]] regime (stage-materialization
    * jobs were most of the ~27 jobs per batch with AQE on): both steps
    * get frames of that regime's session and must read through it, and
    * the scratch caches the batch registers are released after it
    * ([[microBatch]]).
    */
  private def admitBatch(batch0: DataFrame, key: String, outDir: String,
      batchId: Long, verdictSchema: StructType)(
      verdicts: DataFrame => DataFrame)(
      land: (DataFrame, DataFrame, Option[Long]) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(batch0.sparkSession.sparkContext.hadoopConfiguration)
    val committed = new Path(s"$outDir/_committed/batch-$batchId")
    if (fs.exists(committed)) return
    microBatch(batch0) { batch1 =>
      val batch = batch1.cache()
      try {
        val verdictDir = s"$outDir/batch=$batchId"
        val verdictMark = new Path(s"$outDir/_verdicts/batch-$batchId")
        val admits = if (fs.exists(verdictMark)) None else {
          val obs = org.apache.spark.sql.Observation()
          verdicts(batch)
            .observe(obs, sum(col("admit").cast("long")).as("admits"))
            .write.mode("overwrite").parquet(verdictDir)
          fs.mkdirs(verdictMark.getParent)
          fs.create(verdictMark, true).close()
          // the observed sum is null over 0 rows
          Some(Option(obs.get("admits")).collect {
            case l: java.lang.Long => l.longValue() }.getOrElse(0L))
        }
        land(batch, batch.join(
          batch.sparkSession.read.schema(verdictSchema).parquet(verdictDir)
            .filter(col("admit")).select(key),
          key), admits)
        fs.mkdirs(committed.getParent)
        fs.create(committed, true).close()
      } finally { batch.unpersist(); () }
    }
  }

  /** Durable verdict schema of [[ingestAdmissionBatch]] — pinned so the
    * per-micro-batch read-back skips parquet footer inference.
    */
  private val ingestVerdictSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("seen_exact", BooleanType),
    StructField("near_dup", BooleanType),
    StructField("best_jaccard", DoubleType),
    StructField("admit", BooleanType)))

  /** Streaming incremental-ingest admission: NDJSON document segments
    * land in `inDir`; each micro-batch gets (seen_exact, near_dup,
    * admit) verdicts against everything that arrived before it, and its
    * admitted docs join the persisted LSH index for the segments after
    * it ([[ingestAdmissionBatch]] — exactly-once under at-least-once
    * replay). The index and Bloom state seed from whatever history the
    * deployment already has ([[graft.operators.Dedup.writeLshIndex]] +
    * a pre-published epoch).
    */
  def ingestAdmissionStream(spark: SparkSession, inDir: String,
      indexDir: String, stateDir: String, outDir: String,
      checkpointDir: String,
      family: graft.operators.Dedup.MinHashFamily =
        graft.operators.Dedup.FastFamily): StreamingQuery =
    eachBatch(spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .json(inDir), checkpointDir) {
      (b, id) => ingestAdmissionBatch(b, indexDir, stateDir, outDir, id,
        family = family)
    }

  /** The COMPOSED crawl-ingest capstone: raw `.warc.gz` segments arrive
    * (the Common Crawl format, through the engine's own splittable
    * streaming source), and each micro-batch extracts response bodies,
    * scores row-local quality, and routes the SURVIVORS through the
    * incremental-ingest ADMISSION pipeline ([[ingestAdmissionBatch]]:
    * Bloom seen-exact ∧ persisted-LSH near-dup → admit, admitted docs
    * appended exactly-once so later segments probe them). WARC decode and
    * quality scoring stay map-side; every stateful step inherits
    * ingestAdmissionBatch's ordered commit points, so the WHOLE
    * crawl-arrival → admission face is exactly-once under at-least-once
    * replay. Quality-rejected documents never reach the Bloom state or
    * the index — they are dropped at the scan, exactly as a production
    * pipeline prices it.
    *
    * `docId` derives the numeric document key from the WARC columns.
    * The default parses a trailing digit run out of `record_id` — the
    * shape of this repo's fixtures, NOT of real Common Crawl ids
    * (hex-tailed urn:uuid): production crawls pass e.g.
    * `xxhash64(col("record_id"))`. A row whose key comes out null
    * would silently drop through the admission joins, so nulls are
    * rejected loudly instead.
    */
  def crawlAdmissionStream(spark: SparkSession, inGlob: String,
      indexDir: String, stateDir: String, outDir: String,
      checkpointDir: String, minQuality: Double = 0.5,
      family: graft.operators.Dedup.MinHashFamily =
        graft.operators.Dedup.FastFamily,
      docId: Column =
        regexp_extract(col("record_id"), "-(\\d+)>$", 1).cast(LongType))
      : StreamingQuery =
    spark.readStream.format("warcgz").load(inGlob)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => {
        // null-key guard rides IN the plan (assert_true per surviving
        // row — the filter keeps every row since assert_true yields
        // null) instead of a separate limit(1).count() job per
        // micro-batch: the guard evaluates during the cache fill of
        // the batch's first action, so WARC decode + quality scoring
        // still run once and a null key still fails the batch loudly
        // before any state mutation (verdicts are the first sink, and
        // the assert precedes them in the same plan). Caching is
        // ingestAdmissionBatch's own (it caches its projected batch) —
        // a second cache here stored the same rows twice.
        val docs = b.filter(col("warc_type") === "response")
          .select(docId.as("doc_id"),
            col("body").cast(StringType).as("text"))
          .filter(graft.operators.TextOps.qualityCol(col("text"))
            >= minQuality)
          .filter(assert_true(col("doc_id").isNotNull,
            lit("crawlAdmissionStream: docId produced null keys — the " +
              "default extractor expects fixture-shaped record ids; pass " +
              "a docId column matching this crawl's id scheme (e.g. " +
              "xxhash64(col(\"record_id\")))")).isNull)
        ingestAdmissionBatch(docs, indexDir, stateDir, outDir, id,
          family = family)
      })
      .option("checkpointLocation", checkpointDir)
      .start()

  /** (vec_id, embedding) schema for the dense-index ingest stream. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming partition-scoped MERGE: arriving parquet segments upsert
    * into a hive-partitioned table via
    * [[graft.operators.Layout.mergeIntoPartitioned]] — the scalable face
    * of the [[upsertBatch]] last-wins table (which rewrites the WHOLE
    * table per batch; this rewrites only the partitions the batch
    * touches). Replay-safe under foreachBatch's at-least-once delivery
    * because merging the identical batch twice is a no-op: the
    * (key, partition) anti-join removes exactly the rows the reinserted
    * copies replace, so the table state converges — the upsertBatch
    * discipline, partition-scoped.
    */
  def mergeUpsertStream(spark: SparkSession, inDir: String,
      tableDir: String, checkpointDir: String,
      schema: StructType, keyCol: String, partCol: String): StreamingQuery =
    eachBatch(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir), checkpointDir) {
      (b, _) => graft.operators.Layout.mergeIntoPartitioned(b.sparkSession,
        tableDir, b, keyCol, partCol)
    }

  /** One micro-batch of the SEMANTIC admission pipeline — the
    * dense-embedding twin of [[ingestAdmissionBatch]], the online face
    * of SemDeDup-style curation: an arriving embedding segment is
    * probed against the PERSISTED IVF index (frozen centroids — the
    * probe prunes to each vector's `nprobe` cosine-nearest cells, so
    * history is never re-scanned whole), each vector gets
    * (best_cos, near_dup, admit) verdicts, and ADMITTED vectors join
    * the index exactly-once ([[graft.operators.Similarity.appendToIvfIndexCommitted]])
    * so the NEXT segment probes them. Exactly-once output and state
    * under at-least-once replay through [[admitBatch]]'s ordered commit
    * points, shared with ingestAdmissionBatch.
    *
    * At 100 TB: the centroid table is metadata-sized (broadcast), the
    * candidate join prunes on the cell-partitioned index layout, and
    * the append lands only the segment's own rows. Scores are
    * round(cosine, 6) with max-aggregation — order-free and
    * SQL-replayable, so the stream gate hash-checks the sequential
    * index growth end to end.
    */
  def semanticAdmissionBatch(batch0: DataFrame, indexDir: String,
      outDir: String, batchId: Long, threshold: Double = 0.9,
      nprobe: Int = 2): Unit = {
    admitBatch(batch0.select(col("vec_id"), col("embedding")), "vec_id",
        outDir, batchId, semanticVerdictSchema)(batch =>
      semanticVerdicts(batch.sparkSession, indexDir, batch, threshold,
        nprobe)) { (_, admitted, _) =>
      graft.operators.Similarity.appendToIvfIndexCommitted(
        admitted.sparkSession, indexDir, admitted, batchId): Unit
    }
  }

  /** Durable verdict schema of [[semanticAdmissionBatch]] — pinned so the
    * per-micro-batch read-back skips parquet footer inference.
    */
  private val semanticVerdictSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("best_cos", DoubleType),
    StructField("near_dup", BooleanType),
    StructField("admit", BooleanType)))

  /** One segment's (vec_id, best_cos, near_dup, admit) verdict frame
    * against the persisted IVF index — the probe plan of
    * [[semanticAdmissionBatch]], exposed for plan auditing. The probe
    * join is TWO-REGIME, the [[graft.operators.Similarity.topKIvf]]
    * discipline: under `probeBroadcastCap` the probe side is BROADCAST,
    * which is what lets the candidate join dynamically PRUNE the
    * cell-partitioned index scan to the probed cells (FilePipelineSpec
    * pins the dynamicpruning plan); OVER the cap it falls back to a
    * shuffle equi-join on `cell`. A micro-batch is usually bounded by
    * the trigger, but that contract is not enforceable — a backlog
    * replay via AvailableNow over one oversized file arrives as a
    * single "micro-batch", and an unconditional broadcast would OOM
    * the driver silently right when an outage recovery needs the
    * pipeline most. The shuffle regime reads more cells per batch but
    * stays correct and bounded. Scores are round(cosine, 6) with max
    * aggregation — order-free, SQL-replayable.
    */
  def semanticVerdicts(spark: SparkSession, indexDir: String,
      batch: DataFrame, threshold: Double = 0.9,
      nprobe: Int = 2, probeBroadcastCap: Int = 1 << 16): DataFrame = {
    import graft.operators.Similarity
    val (assigned, cents) = Similarity.readIvfIndex(spark, indexDir)
    val queries = batch.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec"))
    // map-side nprobe-cell selection ([[graft.operators.Similarity.probeCells]])
    // — the crossJoin + window shape this replaces shuffled nq·ncells
    // rows per micro-batch verdict plan
    val probes = queries.select(col("query_id"), col("qvec"),
      explode(Similarity.probeCells(cents, "qvec", nprobe)).as("cell"))
    val small = graft.util.Regime.atMost(batch, probeBroadcastCap)
    val candidates =
      if (small) assigned.join(broadcast(probes), Seq("cell"))
      else assigned.join(probes, Seq("cell"))
    val best = candidates
      .select(col("query_id").as("vec_id"),
        round(Similarity.cosine(col("qvec"), col("embedding")), 6)
          .as("c"))
      .groupBy("vec_id").agg(max(col("c")).as("best_cos"))
    batch.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("best_cos"),
        (coalesce(col("best_cos"), lit(-1.0)) >= threshold)
          .as("near_dup"),
        (coalesce(col("best_cos"), lit(-1.0)) < threshold)
          .as("admit"))
  }

  /** Streaming semantic admission: embedding segments (parquet) land in
    * `inDir`; each micro-batch gets cosine near-dup verdicts against
    * everything admitted before it and its admitted vectors join the
    * persisted IVF index for later segments
    * ([[semanticAdmissionBatch]]).
    */
  def semanticAdmissionStream(spark: SparkSession, inDir: String,
      indexDir: String, outDir: String, checkpointDir: String,
      threshold: Double = 0.9, nprobe: Int = 2): StreamingQuery =
    eachBatch(spark.readStream.schema(vecSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir), checkpointDir) {
      (b, id) => semanticAdmissionBatch(b, indexDir, outDir, id, threshold,
        nprobe)
    }

  /** One micro-batch of the packed-sequence DELIVERY pipeline — the
    * stream face of the curation → packing capstone
    * (sample_curation_packed): an arriving CURATED segment is packed
    * into fixed-`seqLen` training sequences
    * ([[graft.operators.Sampling.packSequencesGlobal]] — documents
    * spanning boundaries, the GPT-pretraining batch shape) and appended
    * to the packed store EXACTLY ONCE via
    * [[graft.util.CommittedAppend]] (marker + deterministic staging +
    * fingerprint-checked clear-then-promote), so an at-least-once
    * replay can never deliver a segment's sequences twice — a training
    * job reading the store sees each curated document exactly once.
    *
    * EPOCH-SCOPED packing contract (documented, deliberate): global
    * concat-and-cut is ORDER-TOTAL over the corpus, so a stream cannot
    * extend sequence ids across segments it has not seen without
    * repacking history. Each segment therefore packs its OWN token
    * stream from offset 0 and lands under `epoch=<batchId>` — training
    * epochs are delivery units, readers consume (epoch, seq_id) — and a
    * single-artifact global repack remains the batch operator
    * (idempotent from the curated corpus). State touched per batch:
    * only the segment's own rows; nothing in the store is rewritten.
    *
    * The sink is PARALLEL (r19): `repartitionByRange(seq_id, doc_key)`
    * + per-partition sort, so a multi-GB segment's packed output writes
    * through every core instead of serializing one task — file order is
    * range order, and readers consume (epoch, seq_id) as before. Range
    * boundaries come from seeded sampling over the same micro-batch
    * lineage, so a retry re-stages row-equivalent files per position
    * (the CommittedAppend determinism contract; the fingerprint check
    * still fails loudly if data or session config drifted between
    * retries). `outFiles` <= 0 derives the width from the batch's row
    * count ([[graft.util.CommittedAppend.outFilesFor]] — a micro-batch
    * delivers one file, a backfill packs core-wide); empty range slices
    * write no file.
    */
  def packedDeliveryBatch(batch: DataFrame, storeDir: String,
      batchId: Long, seqLen: Int = 256, outFiles: Int = 0): Boolean = {
    // packSequencesGlobal Scratch-caches its ranged frame, released with
    // the micro-batch
    microBatch(batch) { b =>
      val spark = b.sparkSession
      // the batch may be an EXPENSIVE plan (a whole curation funnel, not
      // just a file read), so the adaptive-width row count must not
      // recompute it: cache first — the count fills the cache the
      // packing pass then consumes, keeping the funnel at ONE execution
      val docs = graft.util.Scratch.cached(
        b.select(col("doc_id"), col("text")))
      // width from the batch's own document count (packed-sequence rows
      // are <= document rows at any seqLen above the mean doc length, so
      // this over-provisions slightly, never starves): a micro-batch
      // delivers one file per epoch, a backfill packs core-wide
      val n = if (outFiles > 0) outFiles
        else graft.util.CommittedAppend.outFilesFor(spark, docs.count())
      graft.util.CommittedAppend.run(spark, storeDir, batchId, docs) { (docs, stage) =>
        graft.util.CommittedAppend.stagedSlices(
            graft.operators.Sampling.packSequencesGlobal(
              docs, col("doc_id"), col("text"), seqLen),
            n, col("seq_id"), col("doc_key"))
          .sortWithinPartitions("seq_id", "doc_key")
          .write.mode("overwrite").parquet(s"$stage/epoch=$batchId")
      }
    }
  }

  /** Streaming packed-sequence delivery: curated NDJSON document
    * segments land in `inDir`; each micro-batch is packed and appended
    * to the store exactly-once ([[packedDeliveryBatch]]). Read the
    * store root as parquet — `epoch` is the partition column.
    */
  def curationPackedStream(spark: SparkSession, inDir: String,
      storeDir: String, checkpointDir: String,
      seqLen: Int = 256): StreamingQuery =
    eachBatch(spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .json(inDir), checkpointDir) {
      (b, id) => packedDeliveryBatch(b, storeDir, id, seqLen): Unit
    }

  /** Streaming dense-index ingest: embedding segments (parquet files —
    * no text round-trip of floats) land in `inDir`, and each micro-batch
    * joins the persisted IVF index under its FROZEN centroids via
    * [[graft.operators.Similarity.appendToIvfIndexCommitted]] — the
    * committed-batch discipline makes foreachBatch's at-least-once
    * delivery exactly-once in index STATE: a replayed batch's vectors
    * can never land (and be double-scored by every probe) twice. The
    * segments-arrive / index-grows / probes-see-them-immediately loop is
    * the ANN face of the crawl-ingest story; run
    * [[graft.operators.Similarity.compactIvfIndex]] between crawls.
    */
  def ivfIngestStream(spark: SparkSession, inDir: String,
      indexDir: String, checkpointDir: String): StreamingQuery =
    eachBatch(spark.readStream.schema(vecSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir), checkpointDir) {
      (b, id) => graft.operators.Similarity.appendToIvfIndexCommitted(
        b.sparkSession, indexDir, b, id): Unit
    }
}
