package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY C11).
  *
  * - Brute-force top-k: broadcast the (small) query set against the vector
  *   corpus; one pass over the corpus, per-partition top-k via window —
  *   the exact baseline and the verification oracle.
  * - IVF (inverted-file) top-k: coarse-quantize the corpus by centroid
  *   (here the corpus' own `label` clustering; centroids are computed as
  *   per-label means — a tiny broadcastable table), probe only the
  *   `nprobe` nearest cells. At 100 TB this turns a full corpus scan per
  *   query into a scan of nprobe/ncells of it; the corpus can be
  *   physically partitioned by cell so probes prune partitions.
  *
  * All arithmetic is double-precision, element-order-sequential (HOF
  * `aggregate` over `zip_with`), so scores are engine-reproducible; ranks
  * tie-break on rounded score + vec_id to be robust to last-ulp noise.
  */
object Similarity {

  /** Sequential-order double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine via the native codegen'd ArrayCosineExpr (one fused loop
    * inside whole-stage codegen) — bit-identical to the HOF formulation
    * `dot(a,b)/(norm(a)·norm(b))` (same element-order-sequential double
    * sums), but not interpreted. The HOF forms above remain as the
    * readable spec of the arithmetic.
    */
  def cosine(a: Column, b: Column): Column = call_function("array_cosine", a, b)

  /** Exact top-k cosine neighbors for each query vector. `queries` is
    * expected to be small (it is broadcast); ranking is by score rounded
    * to `scale` decimals, ties by vec_id.
    */
  def topKBruteForce(corpus: DataFrame, queries: DataFrame, k: Int,
      scale: Int = 5): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("qvec"), col("embedding")), scale))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** Hard-negative mining for embedding/contrastive training: for each
    * probe, the top-k most similar corpus vectors whose similarity stays
    * BELOW `positiveThreshold` — similar enough to be hard negatives,
    * not so similar they are positives/near-dups (the standard negative
    * sampler of retrieval-model training, and the reason a curated
    * corpus keeps its near-dup pair set around).
    *
    * Scale shape: probes broadcast (training batches are small next to
    * the corpus); scores round to `scale` dp BEFORE ranking so the rank
    * order — (score DESC, vec_id) — is total and engine-independent; the
    * window idiom is deliberately the RewriteWindowTopK shape, so no
    * per-probe sort materializes: map-side bounded heaps, ≤ k rows per
    * (probe, partition) through the shuffle.
    */
  def minedNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
      positiveThreshold: Double, scale: Int = 5): DataFrame = {
    val scored = corpus.crossJoin(broadcast(probes))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("qvec"), col("embedding")), scale))
      .filter(col("score") < positiveThreshold)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** Hard-negative mining through the IVF index — the 100 TB shape.
    * [[minedNegatives]] is quadratic when the probe set scales with the
    * corpus (mining negatives for EVERY training example is the common
    * case): n/25 probes × n corpus pairs. Here each probe scores only
    * its `nprobe` nearest cells' candidates — the FAISS-style
    * "mine from the ANN shortlist" pattern, and the nearest cells are
    * exactly where the HARD negatives live — so candidate count per
    * probe is bounded by the probed cells, not the corpus. With
    * nprobe = ncells the search is exhaustive and equals
    * [[minedNegatives]] row-for-row (same rounding, same total order),
    * which is how the gate hash-checks this code; the pruned path's
    * containment + exactness is pinned in SimilaritySpec.
    *
    * TWO-REGIME candidate join (the [[graft.operators.Sampling.decontaminateSemantic]]
    * / [[maxCosineVsIvf]] pattern): a probe set up to `probeBroadcastCap`
    * rows broadcasts its (query_id, qvec, cell) table — training batches
    * small next to the corpus, zero shuffle of corpus rows. Above the cap
    * — the operator's own motivating regime, probes ~ n/25 — that
    * broadcast would be O(n·nprobe·dims) and is the scale-killer, so the
    * candidate join becomes a shuffle equi-join on `cell` with NO
    * broadcast of either side (cells carry ~10⁴–10⁵ vectors at scale, so
    * key cardinality never collapses parallelism; with the corpus
    * physically partitioned by cell the join is co-located). The regime
    * probe is one bounded count (`limit(cap + 1)`), never a full probe
    * count; SimilaritySpec pins both regimes row-identical on the fixture.
    */
  def minedNegativesIvf(corpus: DataFrame, probes: DataFrame, k: Int,
      positiveThreshold: Double, ncells: Int = 8, nprobe: Int = 2,
      scale: Int = 5, index: Option[(DataFrame, DataFrame)] = None,
      probeBroadcastCap: Int = 1 << 16): DataFrame = {
    val (assigned, cents) = index.getOrElse(ivfIndex(corpus, ncells))
    // map-side nprobe-cell selection ([[probeCells]]) — the crossJoin +
    // window shape this replaces shuffled nq·ncells rows per probe plan
    val probeCellRows = probes.select(col("query_id"), col("qvec"),
      explode(probeCells(cents, "qvec", nprobe)).as("cell"))
    val small = graft.util.Regime.atMost(probes, probeBroadcastCap)
    val candidates =
      if (small) assigned.join(broadcast(probeCellRows), Seq("cell"))
      // the merge hint PINS the over-cap regime to a shuffle join: the
      // map-side probe subtree's small static size estimate would
      // otherwise let the planner auto-broadcast it, collapsing the
      // candidate-scoring stage onto the corpus scan's input splits
      // (measured at sf1: 2-task scoring stages, 4x the gate) — the
      // exchange on cell is what spreads scoring across the cluster
      else assigned.join(probeCellRows.hint("merge"), Seq("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    candidates
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("qvec"), col("embedding")), scale))
      .filter(col("score") < positiveThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** The measured cells-∝-corpus rule (round-16 scale probe, NOTES_r16
    * §4; the [[Dedup.containmentAutoCap]] discipline): a FIXED cell
    * count makes the within-cell pair space grow |cell|² with the
    * corpus, while cells of ~500 vectors keep per-cell work constant —
    * measured ~linear total growth at 10× the corpus. Advisory default
    * for [[ivfIndex]]/[[kmeansFit]]/[[refitIvfIndex]] cell counts; the
    * gates pin small constants only because their oracles replay a
    * fixed quantizer.
    */
  def cellsFor(nVectors: Long, perCell: Int = 500): Int =
    // clamp before toInt: a corpus past ~1e12 vectors would otherwise
    // wrap the cell count negative ([[Dedup.containmentAutoCap]] ditto)
    math.min(math.max(8L, nVectors / perCell), Int.MaxValue.toLong).toInt

  /** Triangular-block count for [[semDeDup]]'s hot-cell regime, sized so
    * one block-pair key carries ~`targetPairs` cosine evaluations: B =
    * ⌈s / √(2·target)⌉ for expected cell size s = n/ncells. The blocked
    * join is OUTPUT-INVARIANT (spec-pinned), so callers stuck with a
    * fixed replayable quantizer (the curation gates) can still split
    * the |cell|² pair space across B(B+1)/2 shuffle keys — without
    * this, a fixed-k fixture at 10× the corpus runs its whole pair
    * space on k tasks no matter how many cores exist (r18 measured:
    * sample_curation_v4's k=8 SemDeDup leg at sf1 went 115 s → the
    * blocked regime's number below). Production paths size ncells by
    * [[cellsFor]] instead, where B stays 1.
    */
  def blocksFor(nVectors: Long, ncells: Int,
      targetPairs: Long = 2000000L): Int = {
    val s = math.max(1L, nVectors / math.max(1, ncells))
    val b = math.ceil(s.toDouble / math.sqrt(2.0 * targetPairs)).toInt
    math.max(1, math.min(b, 64))
  }

  /** Coarse quantizer for IVF: k-means fitted LOCALLY on a bounded sample
    * (`sampleCap` rows collected to the driver), centroids broadcast,
    * cells assigned by a codegen'd exploded-dot argmax pass over the full
    * corpus. This is how production IVF indexes train (faiss et al.: the
    * quantizer sees a sample, never the corpus): the driver-side collect
    * is O(sampleCap·dims) — constant in corpus size — and it removes the
    * per-iteration distributed-job scheduling that dominates a cluster
    * k-means at index-build time. Deterministic: seeded init over a
    * deterministic sample. Returns (corpus + `cell`, centroid table); at
    * 100 TB the corpus is then physically partitioned by cell so probes
    * prune partitions/files at scan time.
    */
  def ivfIndex(corpus: DataFrame, ncells: Int = 8, seed: Long = 42L,
      sampleCap: Int = 4096, iters: Int = 20): (DataFrame, DataFrame) = {
    // cast before collecting: embeddings may arrive as array<float> (the
    // parquet tables) or array<double> (every other path here accepts
    // both); a fixed getSeq[Float] would CCE on the latter
    val sample: Array[Array[Double]] = corpus
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .limit(sampleCap).collect()
      .map(_.getSeq[Double](0).toArray)
    val centers = lloyd(sample, ncells, seed, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "centroid")
    // full-corpus assignment (argmin squared distance ≡ argmax of
    // dot − ‖c‖²/2): one fused-loop native expression pass
    // (functions/IvfAssign). The exploded-join formulation this replaced
    // shuffled n·ncells aggregate groups — fine at 8 cells, but near-dup
    // pruning scales ncells WITH the corpus, making the join grow
    // quadratically-ish; the expression is a map with identical
    // arithmetic (same element-order double sums, same low-cell
    // tie-break).
    val assigned = corpus.withColumn("cell",
      element_at(assignCells(centers, nassign = 1, euclid = true), 1))
    (assigned, cents)
  }

  /** Centroids of a (cell, centroid) frame as a cell-indexed local array
    * (cells are 0..ncells-1 by construction; the frame is metadata-sized).
    */
  private def centersOf(cents: DataFrame): Array[Array[Double]] =
    cents.orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Persist an IVF index: the celled corpus as parquet PARTITIONED BY
    * cell — so probing nprobe cells is a partition prune, not a scan —
    * plus the centroid table as JSON metadata (the writePqIndex
    * pattern). At 100 TB this layout is the whole point of IVF: a
    * 2-of-64-cell probe reads ~3% of the files, enforced by the
    * directory structure rather than a filter.
    */
  def writeIvfIndex(corpus: DataFrame, ncells: Int, path: String): Unit =
    writeIvfIndex(ivfIndex(corpus, ncells), path)

  /** Persist a PREFITTED index — the (assigned, cents) contract from
    * [[ivfIndex]], [[kmeansFit]] (the full-corpus fit a driver-sample
    * quantizer stops being representative for at SemDeDup scale), or any
    * SQL-replayable quantizer — without re-running the sample k-means
    * the corpus-arg overload hardcodes.
    */
  def writeIvfIndex(index: (DataFrame, DataFrame), path: String): Unit = {
    val (assigned, cents) = index
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
    val spark = assigned.sparkSession
    graft.util.MetaJson.write(fsOf(spark, path), s"$path/centroids",
      "centroids", centersJson(centersOf(cents)))
  }

  /** Hadoop FileSystem of `path` under this session's configuration. */
  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Load a persisted IVF index: (celled corpus, centroid table) in the
    * shape [[ivfIndex]] returns, so every query path accepts either a
    * fresh or a loaded index interchangeably.
    */
  def readIvfIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val assigned = spark.read.parquet(s"$path/cells")
    (assigned, readIvfCentroids(spark, path))
  }

  /** Only the centroid table of a persisted index — a metadata-sized
    * driver-side read ([[graft.util.MetaJson]] — zero Spark jobs), no
    * scan of the celled corpus (what [[appendToIvfIndex]] needs:
    * assignment touches centroids, never existing cells).
    */
  def readIvfCentroids(spark: SparkSession, path: String): DataFrame = {
    val json = graft.util.MetaJson.read(fsOf(spark, path),
      s"$path/centroids", "centroids")
    val centers = json.stripPrefix("[[").stripSuffix("]]")
      .split("\\],\\[").map(_.split(",").map(_.toDouble))
    import spark.implicits._
    centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Append vectors to a persisted IVF index WITHOUT refitting — the
    * production index-maintenance path (new crawl segments arrive; the
    * coarse quantizer stays frozen so existing cells never move). Cells
    * are assigned by the index's own centroids (the [[ivfIndex]]
    * argmin-distance arithmetic) and the new rows land as appended files
    * under their `cell=` partitions: readers and partition-pruned probes
    * see them immediately, nothing existing is rewritten. Re-fit (a new
    * [[writeIvfIndex]]) remains the answer when drift makes the frozen
    * quantizer a bad fit — the standard IVF operations trade-off.
    */
  def appendToIvfIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    val centers = centersOf(readIvfCentroids(spark, path))
    newVecs.select(col("vec_id"), col("embedding"))
      .withColumn("cell",
        element_at(assignCells(centers, nassign = 1, euclid = true), 1))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Exactly-once [[appendToIvfIndex]]: the committed-batch variant an
    * at-least-once scheduler can call blindly —
    * [[graft.util.CommittedAppend]]'s marker + deterministic staging +
    * clear-then-promote (wholesale-replace) promotion over the `cells/cell=N` layout (staged
    * hash-routed on `cell`, one file per staged cell dir). The plain
    * append's retry trap — a replay after a lost acknowledgment lands
    * the batch's vectors twice and every probe double-scores them —
    * cannot happen here. Returns true iff this call landed the batch.
    */
  def appendToIvfIndexCommitted(spark: SparkSession, path: String,
      newVecs: DataFrame, batchId: Long): Boolean =
    graft.util.CommittedAppend.run(spark, path, batchId, newVecs) { (vecs, stage) =>
      val centers = centersOf(readIvfCentroids(vecs.sparkSession, path))
      cellLayout(vecs.select(col("vec_id"), col("embedding"))
          .withColumn("cell",
            element_at(assignCells(centers, nassign = 1, euclid = true), 1)))
        .mode("overwrite").parquet(s"$stage/cells")
    }

  /** The staged layout of an IVF `cells/` tree: one vec_id-sorted file
    * per `cell=` dir.
    */
  private val cellLayout: graft.util.IndexStore.Layout =
    _.repartition(col("cell")).sortWithinPartitions("cell", "vec_id")
      .write.partitionBy("cell")

  /** The IVF index's lifecycle data ([[graft.util.IndexStore]]): the
    * celled corpus and its centroids.
    */
  private val ivfStore = graft.util.IndexStore.Kind(
    Seq("cells" -> cellLayout), meta = Some("centroids"))

  /** Compact a persisted IVF index in place — the maintenance step after
    * many committed appends, where each cell= dir holds one file per
    * batch: probes stay correct but the probed-cell scan pays
    * file-count overhead (listing, open, a tiny row group per file).
    * Rewrites each cell into ONE vec_id-sorted file via staged write +
    * crash-recoverable generation swap ([[graft.util.IndexStore.compact]]
    * — [[recoverIvfIndex]] restores any torn swap and runs first). Probe
    * results are IDENTICAL before and after: the sim_ivf_compact gate
    * shares sim_ivf_append's oracle verbatim. Single-maintainer
    * contract: do not run concurrently with appends. Frozen centroids
    * are untouched (metadata, not part of the rewrite).
    */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    graft.util.IndexStore.compact(spark, path, ivfStore)

  /** REFIT a persisted IVF index's coarse quantizer in place — the
    * maintenance pass that answers quantizer DRIFT, the one failure mode
    * frozen-centroid appends cannot: after enough appended segments from
    * a shifted distribution, the frozen cells stop representing the
    * corpus (one cell absorbs the drifted mass, probe cost balloons at
    * fixed recall). Refit = [[kmeansFit]] over the GROWN corpus (the
    * full-corpus distributed Lloyd, not the driver-sample quantizer —
    * the index has outgrown a sample by the time drift matters) →
    * reassign every vector → swap BOTH generations (cells/ and
    * centroids/), cells first, by [[graft.util.IndexStore.refit]]'s
    * direction-decidable two-directory discipline, so no crash window
    * can leave new cells probed by old centroids. Equivalent to a
    * fresh [[writeIvfIndex]]([[kmeansFit]](grown corpus)) — the
    * sim_ivf_refit gate hash-checks exactly that. Single-maintainer
    * contract; refuses while a committed append is in flight.
    */
  def refitIvfIndex(spark: SparkSession, path: String, ncells: Int,
      iters: Int = 2): Unit =
    refitIvfIndexLive(spark, path, ncells, iters)

  /** [[refitIvfIndex]] that TOLERATES CONCURRENT committed appends — the
    * operator a continuously-ingesting deployment actually runs
    * (stream_ivf_append / stream_semantic_admission never leave a
    * stop-the-world refit window): the quantizer fit runs over a
    * file-set snapshot of `cells/`, unfenced; batches that commit during
    * it are re-assigned under the NEW centroids inside the short fenced
    * window ([[graft.util.IndexStore.refit]]). Result is hash-equivalent
    * to a fresh assign-everything under kmeansFit(snapshot): every row
    * gets the identical [[assignCells]] argmin under the same final
    * centroids (the sim_ivf_refit_live gate replays exactly that in SQL).
    *
    * `afterFit` is a test seam: it runs between staging and the fence,
    * where concurrent appends are most interesting to interleave.
    */
  def refitIvfIndexLive(spark: SparkSession, path: String, ncells: Int,
      iters: Int = 2, afterFit: () => Unit = () => ()): Unit =
    graft.util.IndexStore.refit(spark, path, ivfStore, s"$path/cells",
        delta = cellLayout, afterFit) { corpus =>
      val centers = centersOf(kmeansFit(corpus, ncells, iters)._2)
      (_.withColumn("cell",
          element_at(assignCells(centers, nassign = 1, euclid = true), 1)),
        centersJson(centers))
    }

  /** The centroid metadata record: `[[c0…],[c1…],…]` in cell order. */
  private def centersJson(centers: Array[Array[Double]]): String =
    centers.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Cell-balance statistics of a persisted IVF index — the DRIFT
    * SIGNAL that tells a deployment WHEN [[refitIvfIndex]] pays: under
    * frozen centroids, appended segments from a shifted distribution
    * pile into few cells, and probe cost at fixed nprobe grows with the
    * hottest cell. One (vec_id-column-only) aggregation over the celled
    * layout. Returns (ncells, total, maxCell, imbalance) where
    * imbalance = maxCell / (total/ncells) — 1.0 is perfectly balanced;
    * the refit-vs-frozen drift fixture in SimilaritySpec measures the
    * imbalance dropping across a refit. Policy (how much imbalance to
    * tolerate) stays the caller's; the engine ships the measurement and
    * the repair.
    */
  def ivfCellStats(spark: SparkSession, path: String): (Long, Long, Long, Double) = {
    // coalesce: on an EMPTY cells table sum/max are null and getLong
    // would NPE before the total == 0 guard below could run
    val counts = spark.read.parquet(s"$path/cells")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), coalesce(sum("n"), lit(0L)),
        coalesce(max("n"), lit(0L))).head()
    val (ncells, total, maxCell) =
      (counts.getLong(0), counts.getLong(1), counts.getLong(2))
    (ncells, total, maxCell,
      if (total == 0 || ncells == 0) 1.0
      else maxCell.toDouble * ncells / total)
  }

  /** Restore a torn [[compactIvfIndex]] swap or a torn [[refitIvfIndex]]
    * two-directory swap ([[graft.util.IndexStore.recover]]). Safe to call
    * any time; run first by both. Refit windows are direction-decidable:
    * the cells stage still present ⇒ no swap committed ⇒ roll back; only
    * the centroids stage present ⇒ the cells swap committed ⇒ roll the
    * centroids swap FORWARD (old centroids must never probe new cells).
    */
  def recoverIvfIndex(spark: SparkSession, path: String): Unit =
    graft.util.IndexStore.recover(spark, path, ivfStore)

  /** `nassign` nearest cells per embedding, nearest first, as a native
    * fused-loop column ([[graft.functions.IvfAssignExpr]]).
    */
  private def assignCells(centers: Array[Array[Double]], nassign: Int,
      euclid: Boolean): Column = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    GraftSqlShims.columnOf(graft.functions.IvfAssignExpr(
      UnresolvedAttribute("embedding"), centers.flatten,
      centers.length, nassign, euclid))
  }

  /** The `nprobe` nearest cells of each PROBE vector (column `vecCol`),
    * nearest first, as the same fused-loop expression cell assignment
    * uses ([[graft.functions.IvfAssignExpr]], `euclid = false`: rank by
    * dot/‖c‖, which orders cells as cosine does for any fixed query —
    * the query's own norm is a positive constant factor — with ties to
    * the LOWER cell, matching the `row_number() OVER (ORDER BY cscore
    * DESC, cell ASC)` contract of the crossJoin+window shape it
    * replaces. Caveat: in FLOATING POINT the two spellings can round a
    * strict cosine ordering into a dot/‖c‖ tie or vice versa near exact
    * ties, flipping which of two near-equidistant cells is probed — an
    * approximate-recall wobble only, never a correctness change, and the
    * gated quantizers' oracles replay this expression's own arithmetic.)
    * The window shape exploded nq·ncells rows through an
    * exchange + sort per probe plan; with cells ∝ corpus ([[cellsFor]])
    * that explosion GROWS with the index resolution, while this is one
    * map-side pass of ncells·dims multiply-adds per probe row.
    *
    * NULL probe vectors yield a NULL cell array (the expression is
    * null-safe), so `explode` DROPS such rows: a null-vector probe gets
    * no candidates and therefore no verdict row from the candidate join
    * — callers that must surface null-vector rows re-join the probe
    * frame (the admission verdict paths do: their final left join is on
    * the batch itself, so a null-vector row still gets its verdict,
    * with no near-dup evidence). The old crossJoin shape emitted probe
    * cells even for null vectors; this one prices them at zero.
    */
  def probeCells(cents: DataFrame, vecCol: String, nprobe: Int): Column = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val centers = centersOf(cents)
    GraftSqlShims.columnOf(graft.functions.IvfAssignExpr(
      UnresolvedAttribute(vecCol), centers.flatten,
      centers.length, nprobe, euclid = false))
  }

  /** Session-scoped IVF index memoization: a real engine fits the coarse
    * quantizer ONCE and reuses it across queries, rather than re-running
    * k-means per invocation. Entries are evicted when the owning
    * application ends (see [[graft.util.SessionCache]] for why a weak map
    * cannot provide that lifecycle here).
    */
  private val indexCache = new graft.util.SessionCache[(DataFrame, DataFrame)]

  def ivfIndexCached(spark: SparkSession, tag: String, ncells: Int = 8)(
      corpus: => DataFrame): (DataFrame, DataFrame) =
    indexCache.getOrElseUpdate(spark, s"$tag:$ncells")(ivfIndex(corpus, ncells))

  /** IVF top-k: assign each query to its `nprobe` nearest centroids, scan
    * only corpus rows in those cells. Approximate (recall < 1 when true
    * neighbors live outside probed cells) — pair with a recall test vs
    * [[topKBruteForce]]. Query-side join is TWO-REGIME like
    * [[minedNegativesIvf]]: an all-pairs kNN-graph build probes with the
    * whole corpus, and that query set must never be hard-broadcast.
    */
  def topKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      ncells: Int = 8, nprobe: Int = 2, scale: Int = 5,
      index: Option[(DataFrame, DataFrame)] = None,
      queryBroadcastCap: Int = 1 << 16): DataFrame = {
    val (assigned, cents) = index.getOrElse(ivfIndex(corpus, ncells))
    // map-side nprobe-cell selection ([[probeCells]]) — the crossJoin +
    // window shape this replaces shuffled nq·ncells rows per probe plan
    val probes = queries.select(col("query_id"), col("qvec"),
      explode(probeCells(cents, "qvec", nprobe)).as("cell"))
    val small = graft.util.Regime.atMost(queries, queryBroadcastCap)
    val candidates =
      if (small) assigned.join(broadcast(probes), Seq("cell"))
      // merge hint: pin the over-cap regime to a shuffle join (see
      // [[minedNegativesIvf]] — auto-broadcast of the small probe
      // subtree collapses scoring onto the corpus scan's splits)
      else assigned.join(probes.hint("merge"), Seq("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    candidates
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("qvec"), col("embedding")), scale))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** Exact embedding near-dup pairs (cosine ≥ threshold) — the SMALL-N
    * VERIFICATION ORACLE, not the scale path ([[cosineNearDupsIvf]] is).
    * Computed via a dimension-exploded equi-join + hash aggregation instead
    * of a lambda cosine on a cross join: HOFs run interpreted (~60× slower
    * than codegen), while explode/join/agg is fully whole-stage-codegen'd.
    * The broadcast of the exploded corpus and the all-pairs worst case
    * bound this to corpora that fit a broadcast — exactly the regime where
    * exact ground truth is computable at all.
    */
  def cosineNearDups(corpus: DataFrame, threshold: Double, scale: Int = 5): DataFrame = {
    val norms = corpus.select(col("vec_id"), norm(col("embedding")).as("nrm"))
    val elems = corpus.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), col("x").cast(DoubleType).as("x"))
    // broadcast one exploded side: the dimension index has only ~64
    // distinct values, so a shuffled hash join would collapse onto 64
    // keys (no parallelism); a broadcast join streams the probe side
    // through every partition instead
    val dots = elems.as("a").join(broadcast(elems.as("b")),
        col("a.i") === col("b.i") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .agg(sum(col("a.x") * col("b.x")).as("dot"))
    dots
      .join(norms.select(col("vec_id").as("va"), col("nrm").as("na")), "va")
      .join(norms.select(col("vec_id").as("vb"), col("nrm").as("nb")), "vb")
      .withColumn("score", round(col("dot") / (col("na") * col("nb")), scale))
      .filter(col("score") >= threshold)
      .select(col("va"), col("vb"), col("score"))
  }

  /** Embedding near-dup pairs at scale, variant 2: random-hyperplane LSH
    * (sign-of-projection signatures, banded). INDEX-FREE — no quantizer
    * fit, no data-dependent state: the hyperplanes are a seeded constant,
    * so this path is one shot over the corpus and composes with
    * incremental ingest (new vectors hash independently — the property
    * IVF lacks, since its centroids age). Recall is probabilistic:
    * P(bit flip) = θ/π per bit; with `nbits`/`rowsPerBand` banding a pair
    * survives if ANY band matches exactly — defaults (120 bits, 8 bands
    * of 15) give ~0.998 recall at cosine 0.99 and ~3·10⁻⁵ false-candidate
    * rate per band for uncorrelated vectors. Candidates are verified with
    * the exact cosine, so precision is exact; only recall is approximate
    * (SimilaritySpec asserts ≥ 0.95 vs the exact oracle).
    *
    * Plan shape: explode dims → broadcast-join the (nbits×dims) hyperplane
    * table → two hash aggs to band keys → bucket equi-join on
    * (band, key) → exact verify on candidates only. Every join key has
    * high cardinality; nothing corpus-sized is broadcast.
    */
  def cosineNearDupsRhp(corpus: DataFrame, threshold: Double,
      nbits: Int = 120, rowsPerBand: Int = 15, seed: Long = 42L,
      scale: Int = 5): DataFrame = {
    // band keys from the fused native expression: one map pass per
    // vector (seeded-gaussian projections + sign-bit packing), replacing
    // the posexplode→broadcast-join→double-aggregate pipeline that
    // materialized n·dims·nbits intermediate rows for n·nbands keys
    val bands = corpus.select(col("vec_id"),
        posexplode(call_function("rhp_bands", col("embedding"),
          lit(nbits), lit(rowsPerBand), lit(seed))).as(Seq("band", "bkey")))
      .cache() // the LSH index: both self-join sides reuse it
    graft.util.Scratch.register(bands): Unit // result-reachable; see Scratch
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    // exact verify on candidates only
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    cands
      .join(vecs.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(vecs.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .withColumn("score", round(cosine(col("ea"), col("eb")), scale))
      .filter(col("score") >= threshold)
      .select(col("va"), col("vb"), col("score"))
  }

  /** Embedding near-dup pairs at scale: IVF-bucketed. Each vector is
    * assigned to its `nassign` nearest coarse cells (multi-assignment
    * recovers pairs that straddle a cell boundary), dims are exploded
    * WITHIN cells, and the pair dot products come from an equi-join on
    * (cell, dim) — shuffle-key cardinality ncells×dims, so parallelism
    * never collapses, no side is broadcast, and the pair space is
    * Σ|cell|² instead of n². Approximate by construction (a pair sharing
    * no assigned cell is never scored) — recall vs [[cosineNearDups]] is
    * asserted in SimilaritySpec; at the high thresholds near-dup pruning
    * uses (≥0.9), near-identical vectors quantize identically and recall
    * is ~1. At 100 TB: ncells scales with corpus size (cells of ~10⁴–10⁵
    * vectors), and the celled corpus can be written partitioned by cell
    * so the pair join is co-located.
    */
  def cosineNearDupsIvf(corpus: DataFrame, threshold: Double,
      ncells: Int = 16, nassign: Int = 2, scale: Int = 5,
      index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val cents = index.map(_._2).getOrElse(ivfIndex(corpus, ncells)._2)
    // cell assignment via the fused-loop native expression (same pass as
    // ivfIndex, cosine scoring: ranking by dot/‖c‖ per vector equals
    // ranking by cosine — the vector's own norm is constant within its
    // candidates). nassign > 1 catches boundary pairs.
    val centers = centersOf(cents)
    // the celled VECTOR table is the index: materialize it so the pair
    // self-join's two sides don't each recompute the assignment
    val celled = corpus
      .select(col("vec_id"),
        explode(assignCells(centers, nassign, euclid = false)).as("cell"),
        col("embedding"))
      .cache()
    graft.util.Scratch.register(celled): Unit // result-reachable; see Scratch
    // within-cell pair join over WHOLE vectors, cosine via the fused
    // codegen'd array_cosine — one output row per candidate pair. The
    // earlier element-exploded formulation pushed dims× as many rows
    // through the join and re-aggregated them; this join's output is
    // exactly Σ|cell|²/2 rows and the 64-mult dot runs inside codegen.
    // array_cosine's sequential double arithmetic is bit-identical to
    // the old sum-aggregate-of-products / (‖a‖·‖b‖) (verified: all six
    // affected gate outputs byte-identical across the rewrite).
    val pairs = celled.as("a").join(celled.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine(col("a.embedding"), col("b.embedding")).as("raw"))
    // a pair sharing BOTH assigned cells is scored once per shared cell
    // with identical scores — max() dedupes
    pairs.groupBy("va", "vb").agg(max(col("raw")).as("raw"))
      .withColumn("score", round(col("raw"), scale))
      .filter(col("score") >= threshold)
      .select(col("va"), col("vb"), col("score"))
  }

  /** Cross-set max cosine at scale, IVF-bucketed — the
    * benchmark-too-big-to-broadcast regime of
    * [[graft.operators.Sampling.decontaminateSemantic]]: fit coarse
    * cells on `benchmark`, assign each benchmark vector to its cell and
    * each train vector to its `nassign` nearest cells (multi-assignment
    * recovers matches that straddle a boundary, the cosineNearDupsIvf
    * pattern), then the per-train max comes from an equi-join on cell +
    * a max aggregation — no side broadcast, pair space Σ|cell|·|probe|
    * instead of |train|·|bench|. Returns (vec_id, raw) with raw = max
    * cosine over CO-CELLED benchmark vectors: approximate by
    * construction; at the near-dup thresholds decontamination uses, the
    * argmax benchmark vector quantizes into a probed cell and the max
    * is exact (SamplingSpec pins both regimes identical on the fixture).
    */
  def maxCosineVsIvf(train: DataFrame, benchmark: DataFrame,
      ncells: Int = 16, nassign: Int = 2): DataFrame = {
    val centers = centersOf(ivfIndex(benchmark, ncells)._2)
    // both sides cell-assigned in cosine space (euclid=false), exactly
    // as cosineNearDupsIvf assigns its pair sides
    val b = benchmark.select(
      element_at(assignCells(centers, nassign = 1, euclid = false), 1).as("cell"),
      col("embedding").as("b_embedding"))
    train
      .select(col("vec_id"),
        explode(assignCells(centers, nassign, euclid = false)).as("cell"),
        col("embedding"))
      .join(b, "cell")
      .select(col("vec_id"), cosine(col("embedding"), col("b_embedding")).as("raw"))
      .groupBy("vec_id").agg(max(col("raw")).as("raw"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    * semantic deduplication — cluster the embeddings, compare pairs only
    * WITHIN a cluster, group transitively-connected near-dups (cosine ≥
    * `threshold`), and keep exactly one document per group: the member
    * LEAST similar to its cluster centroid (the paper keeps the edge
    * example to preserve diversity; `vec_id` breaks 5-dp ties so the
    * election is a total order both engines replay).
    *
    * The cluster restriction is the paper's whole scale story: the pair
    * space is Σ|cell|² instead of n², so — exactly the
    * [[cosineNearDupsIvf]] discipline — the cell count must GROW with
    * the corpus (cells of ~10⁴–10⁵ vectors) and the celled corpus can
    * persist partitioned by cell so the pair join is co-located. Within
    * a component the duplicate groups stay inside one cell by
    * construction (single assignment), components contract in O(log n)
    * rounds, and the centroid join is a plain equi-join on `cell` the
    * planner may broadcast — never forced.
    *
    * Accepts the (assigned, cents) index contract of [[ivfIndex]] /
    * a persisted [[readIvfIndex]] / any SQL-replayable quantizer, so
    * the gate hash-checks the identical pair/group/election code.
    * Returns (vec_id, cell, cent_sim, component, keep) — the full audit
    * frame; `filter(col("keep"))` is the deduplicated corpus.
    */
  def semDeDup(corpus: DataFrame, threshold: Double,
      index: Option[(DataFrame, DataFrame)] = None, ncells: Int = 16,
      scale: Int = 5, nBlocks: Int = 1): DataFrame = {
    val (assigned0, cents) = index.getOrElse(ivfIndex(corpus, ncells))
    // the celled corpus is read three times by the returned plan (both
    // pair-join sides + the centroid-similarity leg), so it is cached;
    // the cache fills during the CALLER's action, so it cannot be
    // unpersisted here — Scratch-registered instead (release with
    // graft.util.Scratch.release(spark) between pipelines)
    // widened conditionally before the cache: both pair-join sides and
    // the centroid-similarity leg read this cache, and on a compact
    // corpus the assignment map behind it has 1-2 scan splits
    // ([[graft.util.Widen]]; the pair join's own exchange on cell is
    // unaffected)
    val assigned = graft.util.Scratch.cached(graft.util.Widen.forHeavyMap(
      assigned0.select(col("vec_id"), col("embedding"), col("cell"))))
    // within-cell candidate pairs, exact cosine inside codegen; scores
    // rounded before thresholding so summation-order noise cannot flip
    // a verdict either engine takes
    //
    // nBlocks > 1 is the HOT-CELL regime: a triangular block join. Each
    // member takes a deterministic block b = vec_id mod B; the left side
    // replicates a block-b row to tasks (b, b..B-1), the right side to
    // tasks (0..b, b), and the equi-join key grows to (cell, bi, bj) —
    // so ONE cell's |cell|² pair space splits across B(B+1)/2
    // independent shuffle keys of ~|cell|²/B² pairs each, at the cost of
    // replicating each row ~(B+1)/2× through the shuffle (the standard
    // triangle-join trade: bounded per-task work for O(B) duplication).
    // Same-block pairs keep the vec_id< guard; cross-block pairs occur
    // exactly once (a block-i row is only ever LEFT of task (i,j), a
    // block-j row only ever RIGHT) and normalize to (least, greatest).
    // AQE skew-join splits a hot SHUFFLE PARTITION but cannot split one
    // hot KEY — this splits the key itself. Output is block-invariant
    // (spec-pinned); default B=1 keeps the plain join.
    val pairs =
      if (nBlocks <= 1)
        assigned.as("a").join(assigned.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.vec_id") < col("b.vec_id"))
          .where(round(cosine(col("a.embedding"), col("b.embedding")), scale)
            >= threshold)
          .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"))
      else {
        val blk = pmod(col("vec_id"), lit(nBlocks.toLong)).cast(IntegerType)
        val left = assigned.withColumn("bi", blk)
          .withColumn("bj", explode(sequence(col("bi"), lit(nBlocks - 1))))
        val right = assigned.withColumn("bj", blk)
          .withColumn("bi", explode(sequence(lit(0), col("bj"))))
        left.as("a").join(right.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj") &&
              (col("a.bi") =!= col("a.bj") ||
                col("a.vec_id") < col("b.vec_id")))
          .where(round(cosine(col("a.embedding"), col("b.embedding")), scale)
            >= threshold)
          .select(least(col("a.vec_id"), col("b.vec_id")).as("da"),
            greatest(col("a.vec_id"), col("b.vec_id")).as("db"))
      }
    val comp = Dedup.connectedComponentsAdaptive(pairs)
    // similarity to the vector's OWN cell centroid — the election key
    val withSim = assigned
      .join(cents, "cell")
      .select(col("vec_id"), col("cell"),
        round(cosine(col("embedding"), col("centroid")), scale).as("cent_sim"))
    val labeled = withSim
      .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
    val keepers = labeled.groupBy("component")
      .agg(min(struct(col("cent_sim"), col("vec_id"))).as("k"))
      .select(col("component"), col("k.vec_id").as("keeper"))
    labeled.join(keepers, "component")
      .select(col("vec_id"), col("cell"), col("cent_sim"), col("component"),
        (col("vec_id") === col("keeper")).as("keep"))
  }

  /** Distributed k-means (Lloyd) over the FULL corpus — the cluster-fit
    * step SemDeDup-scale pipelines run on all vectors, where
    * [[ivfIndex]]'s driver-side sample fit stops being representative.
    * Each iteration is (1) a map-side assignment pass — the centers ride
    * into codegen as one bounded reference object, k·dims doubles, the
    * broadcast-centers shape every distributed Lloyd uses — and (2) one
    * (cell, dim)-keyed mean with map-side partial aggregation (shuffle
    * rows ≤ k·dims, constant in corpus size). Nothing corpus-sized
    * crosses the driver; per-iteration driver state is the k-row
    * centroid frame ([[centersOf]]'s documented bounded collect).
    *
    * Deterministic and SQL-replayable end-to-end, the engine's parity
    * pattern: seeding is the k md5-order-first vectors (an RNG-free
    * draw both engines spell identically), assignment argmax of
    * dot − ‖c‖²/2 in element order with the low-cell tie-break (the
    * exact [[graft.functions.IvfFn]] arithmetic), and each iteration's
    * means are exact decimal sums / count ([[graft.functions.Exact.davg]]
    * — order-free, so partitioning cannot move a mean across a rounding
    * boundary) rounded to `scale` dp before the next — so float inputs
    * and rounded centroids make every score bit-identical across engines
    * and the whole fixed-point replays like [[Graph.pageRank]]'s.
    * Empty cells keep their previous centroid (the standard Lloyd
    * convention, and a deterministic one).
    *
    * Returns the (assigned, cents) index contract of [[ivfIndex]], so
    * the fit feeds [[topKIvf]] / [[semDeDup]] / [[writeIvfIndex]]
    * unchanged.
    */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int = 2,
      scale: Int = 6): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    // widened conditionally before the cache: every iteration's
    // assignment pass (k·dims multiply-adds per row) reads the cached
    // partitioning, which is the SCAN's split count on a compact corpus
    // (1-2 splits ⇒ 1-2 cores for the whole Lloyd fit); no-op at real
    // split counts ([[graft.util.Widen]]). Assignment is per-row and
    // the means are order-free exact decimals, so partitioning cannot
    // move a value.
    val vecs = graft.util.Widen.forHeavyMap(
      corpus.select(col("vec_id"), col("embedding"))).cache()
    // seed = the k md5-order-first vectors, drawn ONCE to the driver —
    // k rows, the exact bounded footprint centersOf already holds every
    // iteration. (A partition-less row_number window over the k-row
    // TakeOrdered frame computes the same ids but plans a
    // single-partition WindowExec that WARNs on every kmeans call,
    // burying real warnings in the bench tail.)
    val session = corpus.sparkSession
    import session.implicits._
    val seedK = vecs
      .orderBy(graft.operators.Sampling.hashDraw(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toSeq)
    var cents = seedK.zipWithIndex
      .map { case (e, i) => (i, e) }.toSeq.toDF("cell", "centroid")
    for (_ <- 1 to iters) {
      val centers = centersOf(cents)
      val assigned = vecs.withColumn("cell",
        element_at(assignCells(centers, nassign = 1, euclid = true), 1))
      // exact decimal sum / count, NOT avg(): IEEE partial-aggregation
      // order is partition-dependent, and a mean landing on a
      // round(·, scale) boundary would flip a digit between runs and
      // cascade through every later assignment — the engine-wide
      // parity-sum discipline (Exact), making the fixed-point genuinely
      // partitioning-independent, not just margin-probably so
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(graft.functions.Exact.davg(col("x").cast("double"), 15).as("m"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("s"))
        .select(col("cell"),
          expr(s"transform(s, e -> round(e.m, $scale))").as("centroid"))
      // the empty-cell fallback joins the PREVIOUS centroids as a
      // LITERAL frame rebuilt from this iteration's collect — not the
      // lazy `cents` plan: chaining the frame would make iteration k's
      // centersOf re-execute every earlier iteration's mean aggregation
      // (plans grew 20 → 34 nodes per iteration at iters=2; quadratic
      // job count in iters). Values are identical by construction —
      // `centers` IS centersOf(cents) of this iteration.
      val prevLit = centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toSeq.toDF("cell", "centroid")
      cents = prevLit.select(col("cell"), col("centroid").as("prev"))
        .join(means, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("centroid"), col("prev")).as("centroid"))
    }
    val centers = centersOf(cents)
    val assigned = vecs.withColumn("cell",
      element_at(assignCells(centers, nassign = 1, euclid = true), 1))
    // the corpus cache served the per-iteration mean jobs; the returned
    // assignment is ONE map pass, so release it here — the consumer's
    // action re-reads the source once, which is what a 100 TB run wants
    // anyway. The returned centroid frame is rebuilt from the collected
    // k-row array (a literal), not the iteration-deep lazy join chain —
    // re-evaluating it costs nothing and touches no released cache.
    vecs.unpersist()
    val centsOut = centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "centroid")
    (assigned, centsOut)
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ): the memory-bound ANN path. A d-dim float
  // vector (d·4 bytes) is split into `m` subspaces, each coarse-coded
  // against a per-subspace codebook of `kcodes` centroids → m small ints
  // (m bytes at kcodes ≤ 256): 32× compression at d=64, m=8. Search
  // scans CODES, not vectors — per (query, vector) cost is m table
  // lookups instead of d multiplies, and at 100 TB the scan reads the
  // code column only (d·4/m bytes per row saved is the difference
  // between a memory-resident index and not). The asymmetric-distance
  // shortlist is then exactly re-ranked on the (tiny) candidate set —
  // the standard IVF-ADC + rerank production shape (faiss).
  //
  // Vectors are L2-normalized before coding so squared-L2 ranking equals
  // cosine ranking (‖a−b‖² = 2−2·cos on unit vectors): PQ results are
  // directly comparable against [[topKBruteForce]]'s cosine oracle.
  // -------------------------------------------------------------------

  /** Per-subspace codebooks, fitted LOCALLY on a bounded normalized
    * sample (the ivfIndex pattern: the quantizer sees a sample, never
    * the corpus; O(sampleCap·dims) driver cost, constant in corpus
    * size). Deterministic: seeded init, fixed iteration count. Shape:
    * codebooks(sub)(code)(i) over `dims/m`-wide subvectors.
    */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, kcodes: Int = 16,
      seed: Long = 42L, sampleCap: Int = 4096, iters: Int = 20): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = corpus
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .limit(sampleCap).collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
    require(sample.nonEmpty, "empty corpus")
    val dims = sample.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    Array.tabulate(m) { s =>
      lloyd(sample.map(_.slice(s * sub, (s + 1) * sub)), kcodes, seed + s,
        iters)
    }
  }

  /** Seeded squared-Euclidean Lloyd iterations over a driver-local
    * sample — the quantizer fit of [[ivfIndex]] and [[pqCodebooks]]: `k`
    * distinct sample points seed the centres, then each iteration
    * assigns every point to its nearest centre (first-min tie-break) and
    * moves each non-empty cell's centre to its mean. The sample must
    * hold at least `k` rows: with fewer, the distinct seed draw never
    * completes.
    */
  private def lloyd(sample: Array[Array[Double]], k: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    require(sample.length >= k,
      s"sample of ${sample.length} rows is smaller than k=$k")
    val dims = sample.head.length
    val rnd = new java.util.Random(seed)
    val centers = rnd.ints(0, sample.length).distinct().limit(k)
      .toArray.map(sample(_).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dims) { val t = v(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until dims)
        centers(c)(i) = sums(c)(i) / counts(c)
    }
    centers
  }

  /** Session-scoped codebook memoization (a real engine trains the
    * quantizer once and persists it — the ivfIndexCached pattern).
    */
  private val pqCache = new graft.util.SessionCache[Array[Array[Array[Double]]]]

  def pqCodebooksCached(spark: SparkSession, tag: String, m: Int = 8,
      kcodes: Int = 16)(corpus: => DataFrame): Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate(spark, s"$tag:$m:$kcodes")(pqCodebooks(corpus, m, kcodes))

  private def cbFlat(cb: Array[Array[Array[Double]]]): Array[Double] =
    cb.flatMap(_.flatMap(_.toSeq))

  /** PQ-encode: vec_id + `codes` (array<int>, length m), via the native
    * fused-loop [[graft.functions.PqEncodeExpr]] (first-min tie-break,
    * deterministic; bit-identical to the unrolled-Column formulation it
    * replaced, whose codegen COMPILE time dominated the whole query).
    * The result column is the INDEX a real deployment persists (m bytes/
    * vector) and scans instead of embeddings.
    */
  def pqEncode(corpus: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    corpus.select(col("vec_id"),
      GraftSqlShims.columnOf(graft.functions.PqEncodeExpr(
        UnresolvedAttribute("embedding"), cbFlat(cb), cb.length, cb(0).length))
        .as("codes"))
  }

  /** Per-query asymmetric-distance lookup table: lut(s)(c) = ‖q_s −
    * codebook(s)(c)‖² as an array<array<double>> column
    * ([[graft.functions.PqLutExpr]] — no collect of the query set, no
    * join).
    */
  def pqQueryLut(queries: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    queries.select(col("query_id"), col("qvec"),
      GraftSqlShims.columnOf(graft.functions.PqLutExpr(
        UnresolvedAttribute("qvec"), cbFlat(cb), cb.length, cb(0).length))
        .as("lut"))
  }

  /** PQ top-k with exact rerank. Phase 1 (approximate shortlist): scan
    * the CODE table × broadcast query LUTs; adist = Σ_s lut[s][code_s],
    * a fixed-order m-term sum of array lookups (deterministic, no
    * aggregation); keep `rerank·k` per query via the native bounded-heap
    * [[graft.plans.TopKPerKey]] operator — no sort, shuffle carries only
    * survivors. Phase 2 (exact): join the shortlist's embeddings back,
    * exact cosine, final top-k. Recall vs the brute-force oracle is
    * asserted in SimilaritySpec; precision of returned scores is exact
    * by construction.
    */
  /** Persist a PQ index: the code table as parquet (the thing a 100 TB
    * deployment scans — m bytes/vector, partitionable like any table)
    * and the codebook alongside it as one JSON line. "The index is just
    * data": rebuilding is a write, shipping it is a copy, and any
    * session can [[readPqIndex]] and query without refitting.
    */
  def writePqIndex(corpus: DataFrame, cb: Array[Array[Array[Double]]],
      path: String): Unit = {
    pqEncode(corpus, cb).write.mode("overwrite").parquet(s"$path/codes")
    graft.util.MetaJson.write(fsOf(corpus.sparkSession, path),
      s"$path/codebook", "codebook", codebookJson(cb))
  }

  /** Append new vectors to a persisted PQ index under its FROZEN
    * codebooks — the same maintenance contract as
    * [[appendToIvfIndex]]'s frozen centroids and [[appendToSq8Index]]'s
    * frozen bounds: codebooks are fitted once; batches encode
    * themselves against them (the identical [[pqEncode]] arithmetic —
    * frozen-codebook appends commute with one big encode) and land as
    * appended code files, nothing rewritten, no refit. When drift
    * degrades the quantizer, [[refitPqIndex]] retrains from co-located
    * raw vectors (codes alone are lossy — refit needs the vectors).
    */
  def appendToPqIndex(spark: SparkSession, path: String,
      newVecs: DataFrame): Unit = {
    val (_, cb) = readPqIndex(spark, path)
    pqEncode(newVecs, cb).write.mode("append").parquet(s"$path/codes")
  }

  /** Exactly-once [[appendToPqIndex]] — [[graft.util.CommittedAppend]]
    * over the flat `codes/` layout (the [[appendToSq8IndexCommitted]]
    * shape): marker + deterministic staging + fingerprint-checked
    * clear-then-promote (wholesale-replace) promotion, so a blind retry after a lost
    * acknowledgment can never land the batch's codes (and
    * shortlist-score them) twice. Returns true iff this call landed the
    * batch.
    *
    * The staged codes range-partition on vec_id into `outFiles` sorted
    * files (≤0 derives the width from the batch's row count —
    * [[graft.util.CommittedAppend.outFilesFor]]): a backfill-sized
    * batch encodes through every core instead of ONE task while a
    * micro-batch stages a single file, each file keeps tight vec_id
    * row-group stats, and range sampling over the same batch lineage
    * stays deterministic for the retry fingerprint. Compaction
    * restores file-count hygiene.
    */
  def appendToPqIndexCommitted(spark: SparkSession, path: String,
      newVecs: DataFrame, batchId: Long, outFiles: Int = 0): Boolean =
    graft.util.IndexStore.appendCommitted(spark, path, pqStore(1), newVecs,
        batchId, outFiles) { vecs =>
      pqEncode(vecs, readPqIndex(spark, path)._2)
    }

  /** A code table's staged layout: `files` vec_id-sorted files. */
  private def byVecId(files: Int): graft.util.IndexStore.Layout =
    _.repartition(files).sortWithinPartitions("vec_id").write

  /** A refit delta's staged layout: the fenced window's cost IS the
    * delta encode, so it range-partitions across the cores (sorted
    * multi-file layout, the committed append's policy) instead of
    * running as ONE task.
    */
  private def deltaByVecId(spark: SparkSession): graft.util.IndexStore.Layout =
    _.repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("vec_id"))
      .sortWithinPartitions("vec_id").write

  /** The PQ index's lifecycle data ([[graft.util.IndexStore]]): the code
    * table, compacted into `files` files, and its codebook.
    */
  private def pqStore(files: Int) = graft.util.IndexStore.Kind(
    Seq("codes" -> byVecId(files)), meta = Some("codebook"))

  /** Compact a persisted PQ index's code table into `files` vec_id-
    * sorted files via the shared crash-recoverable generation swap
    * ([[graft.util.IndexStore.compact]]). Codebook metadata is
    * untouched (not part of the rewrite). Single-maintainer contract
    * as with every compactor; refuses while a committed append is in
    * flight.
    */
  def compactPqIndex(spark: SparkSession, path: String,
      files: Int = 1): Unit =
    graft.util.IndexStore.compact(spark, path, pqStore(files))

  /** REFIT a persisted PQ index's codebooks — the maintenance pass for
    * quantizer drift, possible exactly when the PQ index sits BESIDE an
    * IVF celled layout (one index root serving the pruning leg AND the
    * compression leg, the composed [[topKIvfSq8]]-style production
    * shape): PQ codes are LOSSY, so refit needs the raw vectors, and
    * `cells/` IS the vector store. Retrains [[pqCodebooks]] on the
    * celled corpus (grown through however many committed appends),
    * re-encodes EVERY vector under the new codebooks, and swaps codes
    * then codebook by [[graft.util.IndexStore.refit]]'s ingest-tolerant,
    * direction-decidable discipline: vector files that commit during
    * the retrain are re-encoded under the new codebooks inside the
    * fenced window, so none is silently erased at the swap. Without
    * co-located vectors the refit refuses loudly (the codes cannot be
    * decoded back into training data). Equivalent to a fresh
    * [[writePqIndex]]([[pqCodebooks]](celled corpus)) — SimilaritySpec
    * pins refit == fresh-encode on codes AND codebook.
    */
  def refitPqIndex(spark: SparkSession, path: String, m: Int = 8,
      kcodes: Int = 16, seed: Long = 42L, sampleCap: Int = 4096,
      iters: Int = 20, files: Int = 1,
      vectorsDir: Option[String] = None,
      afterFit: () => Unit = () => ()): Unit =
    graft.util.IndexStore.refit(spark, path, pqStore(files),
        vectorsDir.getOrElse(s"$path/cells"), deltaByVecId(spark),
        afterFit) { corpus =>
      val cb = pqCodebooks(corpus, m, kcodes, seed, sampleCap, iters)
      (pqEncode(_, cb), codebookJson(cb))
    }

  /** The codebook metadata record: nested `[[[…]]]` arrays. */
  private def codebookJson(cb: Array[Array[Array[Double]]]): String =
    cb.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Restore a torn [[compactPqIndex]] swap or a torn [[refitPqIndex]]
    * two-directory swap ([[graft.util.IndexStore.recover]]) — the "safe
    * to call any time" recovery entry point every compactor exposes. Run
    * first by both. The codes stage still present ⇒ roll back; only the
    * codebook stage present ⇒ roll the codebook swap FORWARD (old
    * codebooks must never decode new codes).
    */
  def recoverPqIndex(spark: SparkSession, path: String): Unit =
    graft.util.IndexStore.recover(spark, path, pqStore(1))

  def readPqIndex(spark: SparkSession, path: String): (DataFrame, Array[Array[Array[Double]]]) = {
    val codes = spark.read.parquet(s"$path/codes")
    val json = graft.util.MetaJson.read(fsOf(spark, path),
      s"$path/codebook", "codebook")
    // tiny fixed-shape parse (m × kcodes × sub doubles), no JSON library
    val cb = json.stripPrefix("[[[").stripSuffix("]]]")
      .split("\\]\\],\\[\\[").map(_.split("\\],\\[").map(
        _.split(",").map(_.toDouble)))
    (codes, cb)
  }

  def topKPq(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, kcodes: Int = 16, rerank: Int = 8, scale: Int = 5,
      codebooks: Option[Array[Array[Array[Double]]]] = None,
      encodedIndex: Option[DataFrame] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqCodebooks(corpus, m, kcodes))
    val encoded = encodedIndex.getOrElse(pqEncode(corpus, cb))
    val luts = pqQueryLut(queries, cb)
    val adist = (0 until m).map(s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val shortlist = graft.operators.TopK.perKey(
      encoded.crossJoin(broadcast(luts))
        .filter(col("query_id") =!= col("vec_id"))
        // round so the heap boundary doesn't flip on last-ulp noise
        .select(col("query_id"), col("vec_id"), round(adist, 9).as("adist")),
      Seq(col("query_id")), Seq(col("adist"), col("vec_id")), rerank * k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(queries.select(col("query_id"), col("qvec").as("qv")), "query_id")
      .withColumn("score", round(cosine(col("qv"), col("embedding")), scale))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  // ---------------------------------------------------------------------
  // SQ8 — scalar (per-dimension affine) quantization. PQ's little
  // sibling and the other standard memory-resident index format: 1 byte
  // per dimension (4× smaller than float32) with NO codebook training —
  // the quantizer is just per-dim (lo, hi) bounds, so encode is a map
  // pass and "fitting" is one aggregation. Every step is plain affine
  // arithmetic, which is what makes the WHOLE approximate ranking
  // SQL-replayable (gate sim_topk_sq8) — unlike IVF/PQ, no
  // forced-exhaustive trick is needed: the quantization error itself is
  // deterministic and the oracle reproduces it bit-for-bit.
  // ---------------------------------------------------------------------

  /** Per-dimension (lo, hi) quantization bounds over the corpus — the
    * scalar-quantizer "fit". One exploded min/max aggregation (map-side
    * partials; the shuffle carries ≤ dims·partitions rows), collected as
    * two dims-length arrays: bounded by the embedding width, never by
    * the corpus size.
    */
  def sq8Stats(corpus: DataFrame): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast(DoubleType)).as("lo"),
        max(col("x").cast(DoubleType)).as("hi"))
      .orderBy("dim").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** SQ8 encode: code_i = round((x_i − lo_i) · 255 / (hi_i − lo_i)),
    * clamp-free because lo/hi are the corpus' own bounds (out-of-range
    * QUERY vectors never encode — asymmetric search keeps queries in
    * float). A degenerate dimension (hi = lo) encodes 0. One map pass,
    * no shuffle; the (lo, hi) arrays ride into codegen as literals.
    * Parquet stores the 0..255 codes dictionary/bit-packed at ~1
    * byte/dim — the 4× scan-size reduction is physical, not notional.
    */
  def sq8Encode(corpus: DataFrame, lo: Array[Double],
      hi: Array[Double]): DataFrame =
    corpus.select(col("vec_id"),
      sq8EncodeCol(col("embedding"), lo, hi).as("codes"))

  private def sq8EncodeCol(x: Column, lo: Array[Double],
      hi: Array[Double]): Column = {
    val loL = typedLit(lo); val hiL = typedLit(hi)
    transform(x, (v, i) => {
      val l = element_at(loL, i + 1); val h = element_at(hiL, i + 1)
      // clamp: a no-op for the fitting corpus (inside its own bounds by
      // construction — the original gates' hashes cannot move) but
      // total for APPENDED vectors that drift outside the frozen
      // bounds, which saturate to 0/255 — the standard SQ behavior,
      // and plain least/greatest arithmetic the oracle replays
      when(h === l, lit(0)).otherwise(
        least(lit(255), greatest(lit(0),
          round((v.cast(DoubleType) - l) * lit(255.0) / (h - l), 0)
            .cast(IntegerType))))
    })
  }

  /** Append new vectors to a persisted SQ8 index under its FROZEN
    * (lo, hi) bounds — the same maintenance contract as
    * [[appendToIvfIndex]]'s frozen centroids and [[Dedup.appendToLshIndex]]'s
    * frozen hash geometry: the quantizer is fitted once; batches encode
    * themselves against it and land as appended code files, nothing
    * rewritten, no refit. Values outside the frozen bounds saturate to
    * 0/255 (deterministically — see [[sq8Encode]]); refit + rewrite is a
    * separate, rarer maintenance pass, exactly as in FAISS-style
    * deployments.
    */
  def appendToSq8Index(spark: SparkSession, path: String,
      newVecs: DataFrame): Unit = {
    val (_, lo, hi) = readSq8Index(spark, path)
    sq8Encode(newVecs, lo, hi).write.mode("append").parquet(s"$path/codes")
  }

  /** Exactly-once [[appendToSq8Index]] — [[graft.util.CommittedAppend]]
    * over the flat `codes/` layout. The staged codes range-partition on
    * vec_id into `outFiles` sorted files (≤0 → batch-row-count adaptive,
    * [[graft.util.CommittedAppend.outFilesFor]] — the
    * [[appendToPqIndexCommitted]] policy: a backfill encodes through
    * every core, a micro-batch stages one file, per-file vec_id stats
    * stay tight, compaction restores file-count hygiene). Returns true
    * iff this call landed the batch.
    */
  def appendToSq8IndexCommitted(spark: SparkSession, path: String,
      newVecs: DataFrame, batchId: Long, outFiles: Int = 0): Boolean =
    graft.util.IndexStore.appendCommitted(spark, path, sq8Store(1), newVecs,
        batchId, outFiles) { vecs =>
      val (_, lo, hi) = readSq8Index(spark, path)
      sq8Encode(vecs, lo, hi)
    }

  /** The SQ8 index's lifecycle data ([[graft.util.IndexStore]]): the
    * code table, compacted into `files` files, and its (lo, hi) bounds.
    */
  private def sq8Store(files: Int) = graft.util.IndexStore.Kind(
    Seq("codes" -> byVecId(files)), meta = Some("bounds"))

  /** Compact a persisted SQ8 index's code table into `files` vec_id-
    * sorted files via the shared crash-recoverable generation swap
    * ([[graft.util.IndexStore.compact]]). Bounds metadata is untouched.
    * Single-maintainer contract as with every compactor.
    */
  def compactSq8Index(spark: SparkSession, path: String,
      files: Int = 1): Unit =
    graft.util.IndexStore.compact(spark, path, sq8Store(files))

  /** REFIT a persisted SQ8 index's (lo, hi) bounds — the drift repair
    * for the third quantizer family, closing the refit column of the
    * maintenance matrix ([[refitIvfIndexLive]] for centroids,
    * [[refitPqIndex]] for codebooks): after enough appended segments
    * saturate against the frozen bounds (out-of-range values clamp to
    * 0/255 and lose resolution), retrain [[sq8Stats]] on the co-located
    * raw vectors (`cells/` of an IVF layout sharing the index root —
    * SQ8 codes, like PQ codes, are lossy: refit NEEDS the vectors, and
    * refuses loudly without them), re-encode everything, and swap codes
    * then bounds by [[graft.util.IndexStore.refit]]'s ingest-tolerant,
    * direction-decidable discipline. Equivalent to a fresh
    * [[writeSq8Index]] over the celled corpus — the sim_sq8_refit gate
    * hash-checks exactly that in the pure-ADC regime, where stale
    * saturated codes would move the scores.
    */
  def refitSq8Index(spark: SparkSession, path: String, files: Int = 1,
      vectorsDir: Option[String] = None,
      afterFit: () => Unit = () => ()): Unit =
    graft.util.IndexStore.refit(spark, path, sq8Store(files),
        vectorsDir.getOrElse(s"$path/cells"), deltaByVecId(spark),
        afterFit) { corpus =>
      val (lo, hi) = sq8Stats(corpus)
      (sq8Encode(_, lo, hi), boundsJson(lo, hi))
    }

  /** The bounds metadata record: `[lo…]|[hi…]`. */
  private def boundsJson(lo: Array[Double], hi: Array[Double]): String =
    lo.mkString("[", ",", "]") + "|" + hi.mkString("[", ",", "]")

  /** Restore a torn [[compactSq8Index]] swap or a torn [[refitSq8Index]]
    * two-directory swap ([[graft.util.IndexStore.recover]]) — without it
    * a torn swap leaves `codes/` parked as `codes.old` and every
    * [[readSq8Index]]/probe fails until the NEXT compaction happens to
    * run its inline recovery. Run first by [[compactSq8Index]] and
    * [[refitSq8Index]]. Codes stage present ⇒ roll back; only the bounds
    * stage ⇒ roll FORWARD (old bounds must never decode new codes).
    */
  def recoverSq8Index(spark: SparkSession, path: String): Unit =
    graft.util.IndexStore.recover(spark, path, sq8Store(1))

  /** cosine(q, decode(codes)) as one fused native loop
    * ([[graft.functions.Sq8AdcCosineExpr]]) — replaces the interpreted
    * transform-decode + HOF dot/norm pipeline on the ADC scan, the
    * per-(query, vector) hot loop of the SQ8 path. Bit-identical
    * arithmetic (decode op order, element-order sums, one division), so
    * the hash-checked gate outputs cannot move.
    */
  private def sq8AdcCosine(q: Column, codes: Column, lo: Array[Double],
      hi: Array[Double]): Column = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def attr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
      UnresolvedAttribute(c.toString)
    GraftSqlShims.columnOf(
      graft.functions.Sq8AdcCosineExpr(attr(q), attr(codes), lo, hi))
  }

  /** Persist an SQ8 index: the code table as parquet plus the (lo, hi)
    * bounds as one JSON line — same "the index is just data" contract as
    * [[writePqIndex]]: any session reads it back and queries without
    * refitting, and the scan side reads 1-byte codes, not floats.
    */
  def writeSq8Index(corpus: DataFrame, path: String): Unit = {
    val (lo, hi) = sq8Stats(corpus)
    sq8Encode(corpus, lo, hi).write.mode("overwrite").parquet(s"$path/codes")
    val spark = corpus.sparkSession
    graft.util.MetaJson.write(fsOf(spark, path), s"$path/bounds", "bounds",
      boundsJson(lo, hi))
  }

  def readSq8Index(spark: SparkSession, path: String): (DataFrame, Array[Double], Array[Double]) = {
    val codes = spark.read.parquet(s"$path/codes")
    val s = graft.util.MetaJson.read(fsOf(spark, path),
      s"$path/bounds", "bounds")
    val Array(loS, hiS) = s.split("\\|")
    def arr(a: String) =
      a.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble)
    (codes, arr(loS), arr(hiS))
  }

  /** IVF × SQ8 — the COMPOSED production ANN shape: the coarse cells
    * prune the scan to nprobe/ncells of the corpus, and inside the
    * probed cells the scan reads 1-byte SQ8 codes instead of floats —
    * pruning × compression, each from its own already-gated operator.
    * Scoring is pure ADC (cosine against the decoded vector, rounded,
    * vec_id tie-break), so with a replayable quantizer BOTH effects are
    * hash-checkable at once — the pruned regime needs no
    * forced-exhaustive trick because neither the probe choice nor the
    * quantization error is nondeterministic. Two-regime query join as
    * in [[topKIvf]].
    */
  def topKIvfSq8(corpus: DataFrame, queries: DataFrame, k: Int,
      ncells: Int = 8, nprobe: Int = 2, scale: Int = 5,
      index: Option[(DataFrame, DataFrame)] = None,
      stats: Option[(Array[Double], Array[Double])] = None,
      queryBroadcastCap: Int = 1 << 16): DataFrame = {
    val (assigned, cents) = index.getOrElse(ivfIndex(corpus, ncells))
    val (lo, hi) = stats.getOrElse(sq8Stats(corpus))
    // the (vec_id, cell, codes) table IS the persisted IVF-SQ8 index
    // shape: cell-partitionable, 1 byte/dim payload
    val codes = assigned.select(col("vec_id"), col("cell"),
      sq8EncodeCol(col("embedding"), lo, hi).as("codes"))
    // map-side nprobe-cell selection ([[probeCells]]) — the crossJoin +
    // window shape this replaces shuffled nq·ncells rows per probe plan
    val probes = queries.select(col("query_id"), col("qvec"),
      explode(probeCells(cents, "qvec", nprobe)).as("cell"))
    val small = graft.util.Regime.atMost(queries, queryBroadcastCap)
    val candidates =
      if (small) codes.join(broadcast(probes), Seq("cell"))
      // merge hint: pin the over-cap regime to a shuffle join (see
      // [[minedNegativesIvf]])
      else codes.join(probes.hint("merge"), Seq("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    candidates
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score",
        round(sq8AdcCosine(col("qvec"), col("codes"), lo, hi), scale))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** SQ8 top-k. `rerank <= 0` ranks by the APPROXIMATE score alone —
    * cosine(query, decoded corpus vector), rounded to `scale` dp with
    * vec_id tie-break so the order is total: the pure-ADC regime the
    * hash-checked gate runs (quantization error is load-bearing in the
    * output). `rerank > 0` is the production path: a `rerank·k`
    * shortlist by approximate score, then exact-cosine rerank over the
    * shortlist's float vectors only — the scan reads 1-byte codes, the
    * float table is touched for rerank·k rows per query. Both phases'
    * window idiom replans onto the native bounded-heap TopKPerKey
    * operator (no per-partition sort, ≤ rerank·k rows per query per
    * partition through the shuffle).
    */
  def topKSq8(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 8, scale: Int = 5,
      stats: Option[(Array[Double], Array[Double])] = None,
      encodedIndex: Option[DataFrame] = None): DataFrame = {
    val (lo, hi) = stats.getOrElse(sq8Stats(corpus))
    val codes = encodedIndex.getOrElse(sq8Encode(corpus, lo, hi))
    val approx = codes.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score",
        round(sq8AdcCosine(col("qvec"), col("codes"), lo, hi), scale))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    if (rerank <= 0) {
      approx
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("vec_id"), col("score"))
    } else {
      val shortlist = approx
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= rerank * k)
        .select(col("query_id"), col("vec_id"))
      shortlist
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(queries.select(col("query_id"), col("qvec").as("qv")), "query_id")
        .withColumn("score", round(cosine(col("qv"), col("embedding")), scale))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("vec_id"), col("score"))
    }
  }
}
