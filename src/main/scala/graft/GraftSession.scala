package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the local[32] test harness but scale-minded: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to cores rather than the 200 default, UTC session time
  * zone for oracle parity, nested-schema pruning for the wide FHIR structs
  * (SURVEY.md §4.2).
  */
object GraftSession {

  def builder(appName: String = "graft", cores: Int = 32): SparkSession.Builder =
    configure(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName(appName),
      shufflePartitions = cores
    )

  /** Apply engine defaults to an existing builder (used by Verify/Bench which
    * own master/core selection per the driver contract).
    *
    * I/O knobs for the 100 TB point (guide §6/§9) are PARAMETERIZED, not
    * flipped: local defaults match Spark's (snappy parquet, 128m scan
    * splits) so the committed bench record stays comparable, and a
    * production deployment sets the env vars —
    *  - `SPARK_GRAFT_PARQUET_CODEC=zstd`: smaller files than snappy at
    *    similar read speed; at bench scale (KB..MB files, warm page
    *    cache) the codec is noise, at 100 TB it is 20-40% of stored and
    *    scanned bytes.
    *  - `SPARK_GRAFT_MAX_PARTITION_BYTES=512m` (or 1g): large sequential
    *    scans want fewer, bigger splits — fewer map tasks feeding every
    *    shuffle (guide §2.2) and less per-task scheduling overhead; the
    *    128m default only wins when a cluster needs more parallelism
    *    than its file count provides.
    *
    * Generated classes: the codegen cache holds 1000 classes
    * ([[CodegenCacheEntries]]), not Spark's 100. Spark's
    * `CodeGenerator.cache` is one Guava cache for the whole JVM, sized
    * from `spark.sql.codegen.cache.maxEntries` once, at the first codegen
    * of the process, and split into 4 LRU segments (25 classes each at
    * the default). A working set larger than that compiles its evicted
    * classes again on every pass. The `fhir_search` benchmark mix needs
    * 129 distinct classes at its store size and one fixture-scale cycle
    * of `SearchShapes` 110, so at 100 entries a request compiled 1–13
    * classes (a seed-11 benchmark run: 255 compiles in 53 requests; at
    * 1000, 129 in 81, all in the first cycle). The other workloads
    * measured: `fhir_ingest` 178 → 177 compiles, `corpus_pipeline`
    * 348 → 336 with about 5 MB more live heap for the retained classes.
    * A session built without this method before the process's first
    * codegen leaves the cache at 100 for the life of the JVM.
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
      // rejects; read as long nanos and convert in Tables.events (values
      // are µs-aligned so the conversion is lossless).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Size of the JVM-wide generated-class cache (see [[configure]]). */
  private val CodegenCacheEntries: Int = 1000

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
