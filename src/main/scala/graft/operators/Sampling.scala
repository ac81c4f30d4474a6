package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling / corpus-curation operators for large-scale training-data
  * pipelines. Everything here is DETERMINISTIC — sampling decisions come
  * from a cryptographic hash of the record key, never from an RNG — so a
  * pipeline re-run (or a lost-executor retry) selects the identical
  * subset, and the same predicate evaluated by any other engine (the
  * DuckDB oracle, a validation notebook) agrees bit-for-bit.
  *
  * 100 TB design notes:
  * - Bernoulli / stratified sampling are pure map-side FILTERS on a hash
  *   of the key: no shuffle, no state, pushed right above the scan;
  *   selectivity is exactly the threshold fraction of the 32-bit hash
  *   space regardless of key distribution.
  * - Shard assignment is the same hash truncated to a prefix — a stable
  *   16/256-way split whose balance follows from md5 uniformity, used to
  *   route a corpus to training workers without a global sort.
  * - Sequence packing is one window per source partition (running token
  *   sum → integer-divide by the budget). The window key is the
  *   pipeline's natural partition unit (source shard); a skewed source
  *   is pre-split upstream by the sharder, so no single window grows
  *   unbounded.
  * - Decontamination shuffles 16-byte shingle digests, never text, and
  *   deduplicates per document BEFORE the join so a repeated shingle
  *   inside one document contributes one row.
  */
object Sampling {

  /** First 8 hex chars of md5(key) — a uniform draw from [0, 2^32) that
    * both Spark and any md5-capable engine reproduce. Compared
    * lexicographically against a hex threshold (lowercase hex sorts the
    * same as the integers it encodes, zero-padded fixed width).
    */
  def hashDraw(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Threshold for rate p as an 8-hex-digit lowercase string; p = 1.0
    * maps to "g" (lexicographically above every hex digest) so a full
    * keep-rate really keeps the hash-max row too.
    */
  def rateThreshold(p: Double): String = {
    require(p >= 0.0 && p <= 1.0, s"rate $p out of [0,1]")
    if (p >= 1.0) "g" else f"${math.round(p * 4294967296.0).min(4294967295L)}%08x"
  }

  /** Deterministic Bernoulli sample: keep a row iff hash(key) < p·2^32. */
  def bernoulli(df: DataFrame, key: Column, p: Double): DataFrame =
    df.filter(hashDraw(key) < lit(rateThreshold(p)))

  /** Stratified sample: per-stratum keep rates; strata absent from the
    * map keep everything (rate 1.0). Still one map-side filter — the
    * rate lookup is a literal CASE over the (tiny) strata map, not a
    * join.
    */
  def stratified(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double]): DataFrame = {
    val thresh = rates.foldLeft(lit(rateThreshold(1.0))) { case (acc, (s, p)) =>
      when(stratum === s, lit(rateThreshold(p))).otherwise(acc)
    }
    df.filter(hashDraw(key) < thresh)
  }

  /** Stable shard id in [0, 16^prefixLen): hex prefix of the key hash.
    * Routing a 100 TB corpus to N training readers needs exactly this —
    * a deterministic, rebalance-free split with no global sort.
    */
  def shard(key: Column, prefixLen: Int = 1): Column =
    substring(md5(key.cast("string")), 1, prefixLen)

  /** Chars/4 token estimate (BPE-free, engine-portable); ≥ 1 so empty
    * docs still occupy space in a packed sequence.
    */
  def tokenEstimate(text: Column): Column =
    greatest(lit(1L), ceil(length(text) / lit(4.0)).cast("long"))

  /** Greedy fixed-boundary sequence packing: within each source
    * partition, in deterministic key order, a document joins sequence
    * floor(tokens-before-it / budget). Every sequence holds ≤ budget
    * tokens of *preceding* documents, i.e. the standard streaming
    * concat-and-cut packing used to build training batches.
    *
    * Output: input columns + tok + seq_id.
    */
  def packSequences(df: DataFrame, key: Column, source: Column,
      text: Column, budget: Int): DataFrame = {
    val w = Window.partitionBy(source).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("tok", tokenEstimate(text))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - tok) div $budget"))
      .drop("cum")
  }

  /** GLOBAL concat-and-cut sequence packing with document SPANNING — the
    * GPT-pretraining batch builder: documents concatenate in
    * deterministic `key` order into ONE token stream that is cut into
    * fixed-`seqLen` training sequences; a document whose tokens cross a
    * boundary SPANS consecutive sequences (nothing padded, nothing
    * dropped — unlike [[packSequences]], which keeps documents whole
    * inside per-source streams). Returns the per-(sequence, document)
    * composition: (seq_id, doc_key, tok_start, tok_end, tokens_in_seq)
    * with global stream offsets.
    *
    * Scale shape — the textbook TWO-PHASE DISTRIBUTED PREFIX SUM, no
    * global single-partition window anywhere: range-partition on the
    * order key (ascending ranges land in ascending partition ids), ONE
    * bounded collect of per-range token sums (≤ nRanges rows), broadcast
    * the running base offsets back, then a WITHIN-range window cumsum.
    * Range-sampler boundary placement cannot move the OUTPUT (the global
    * cumsum depends only on the key order), so the result is
    * partitioning-deterministic and SQL-replayable. `key` must be UNIQUE
    * (a total order) — tied keys would make the stream order, and
    * therefore the spans, run-dependent.
    */
  def packSequencesGlobal(df: DataFrame, key: Column, text: Column,
      seqLen: Int, nRanges: Int = 32): DataFrame =
    packSequencesGlobalTok(df, key, tokenEstimate(text), seqLen, nRanges)

  /** [[packSequencesGlobal]] with a CALLER-SUPPLIED token-count column —
    * the tokenizer-exact delivery path: a training job consumes REAL
    * tokenizer counts (e.g. [[Bpe.encodeDocs]]'s n_tokens under a
    * trained merge table), not the chars/4 estimate, and the packed
    * boundaries must line up with what its data loader will see. The
    * count is clamped to ≥ 1 (the [[tokenEstimate]] floor) so empty
    * documents still occupy a position in the stream and the span
    * arithmetic stays well-formed.
    */
  def packSequencesGlobalTok(df: DataFrame, key: Column, tok: Column,
      seqLen: Int, nRanges: Int = 32): DataFrame = {
    require(seqLen >= 1, s"seqLen=$seqLen")
    val spark = df.sparkSession
    import spark.implicits._
    val base = graft.util.Scratch.cached(
      df.select(key.as("doc_key"),
          greatest(lit(1L), tok.cast("long")).as("tok"))
        .repartitionByRange(nRanges, col("doc_key"))
        .withColumn("pid", spark_partition_id()))
    val sums = base.groupBy("pid").agg(sum("tok").as("s"))
      .orderBy("pid").collect() // bounded: one row per non-empty range
      .map(r => (r.getInt(0), r.getLong(1)))
    val bases = sums.scanLeft((0, 0L, 0L)) { case ((_, _, acc), (pid, s)) =>
      (pid, acc, acc + s)
    }.drop(1).map { case (pid, b, _) => (pid, b) }
    val basesDf = bases.toSeq.toDF("pid", "base")
    // `key` MUST be unique (a TOTAL order): the cumsum is keyed by it,
    // and the frame is ROWS — with the default RANGE frame, tied keys
    // would share one running sum and their spans would overlap,
    // silently inflating token mass
    val w = Window.partitionBy("pid").orderBy("doc_key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(basesDf), "pid")
      .withColumn("tok_end", col("base") + sum(col("tok")).over(w))
      .withColumn("tok_start", col("tok_end") - col("tok"))
      // tok >= 1 (tokenEstimate floors at 1), so the span is well-formed
      .withColumn("seq_id", explode(sequence(
        expr(s"tok_start div $seqLen"), expr(s"(tok_end - 1) div $seqLen"))))
      .select(col("seq_id"), col("doc_key"), col("tok_start"),
        col("tok_end"),
        (least(col("tok_end"), (col("seq_id") + 1) * seqLen)
          - greatest(col("tok_start"), col("seq_id") * seqLen))
          .as("tokens_in_seq"))
  }

  /** Distinct word-8-gram digests per document. The digest (md5 of the
    * shingle text) is what ships through the join shuffle — 16 bytes per
    * shingle instead of the ~50-char string.
    */
  def shingleDigests(df: DataFrame, key: Column, text: Column,
      n: Int = 8): DataFrame =
    // one fused native pass (distinct xxhash64 shingle values,
    // Dedup.shingleHashes) instead of explode(sequence)→slice→
    // array_join→md5→distinct: the digest is an internal JOIN KEY — the
    // decontamination gates compare intersection COUNTS, which any
    // injective keying preserves — so the 32-char md5 string becomes an
    // 8-byte long through both the distinct and the semi-join shuffle
    df.select(key.as("doc_key"),
      explode(graft.operators.Dedup.shingleHashes(text, n)).as("sh"))

  /** Benchmark decontamination: count, per training document, how many
    * of its distinct 8-gram shingles also occur anywhere in the
    * benchmark corpus. Join key = shingle digest; both sides are
    * per-document distinct so the count is exactly |shingles(doc) ∩
    * shingles(benchmark)|. Emits only contaminated docs (n_hits ≥ 1).
    *
    * At scale the benchmark side (a few thousand eval documents) is
    * broadcast; the training side streams through map-side.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      key: Column, text: Column, n: Int = 8): DataFrame = {
    val trainSh = shingleDigests(train, key, text, n)
    val benchSh = shingleDigests(benchmark, key, text, n)
      .select(col("sh")).distinct()
    trainSh.join(broadcast(benchSh), "sh")
      .groupBy(col("doc_key"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** SURGICAL decontamination — the rewrite sibling of [[decontaminate]]:
    * instead of dropping a contaminated document wholesale, cut exactly
    * the tokens covered by an n-gram that occurs anywhere in the
    * benchmark corpus, and keep the rest (the Dolma/RedPajama-style
    * span-level scrub; a long document with one quoted eval question
    * loses the quote, not its training mass). Output per training doc:
    * token count, removed-token count, md5 of the scrubbed text — the
    * [[graft.operators.Dedup.removeSharedSpans]] contract, with
    * "shared with another training doc" replaced by "present in the
    * benchmark".
    *
    * Mechanics: positional shingle hashes of the training side
    * (`ngram_pos_hashes`, one fused native pass, hash-parity with
    * `ngram_hashes` pinned in NGramHashSpec) join the benchmark's
    * distinct shingle set; each hit covers positions [i, i+n-1]; kept
    * tokens reassemble in position order inside one aggregate. Shuffles
    * carry 8-byte hashes and (doc, position) pairs, never text.
    *
    * TWO-REGIME: a benchmark whose distinct-shingle set stays within
    * `benchBroadcastCap` rows broadcasts it (eval sets are bounded by
    * contract — the common case); above the cap nothing is broadcast
    * and the hit join shuffles on the 8-byte shingle key (uniform by
    * construction: xxhash64 values). The regime probe is one bounded
    * `limit(cap + 1)` count. SamplingSpec pins both regimes identical.
    */
  def scrubContaminatedSpans(train: DataFrame, benchmark: DataFrame,
      key: Column, text: Column, n: Int = 8,
      benchBroadcastCap: Int = 1 << 22): DataFrame =
    graft.operators.Dedup.cutSpans(train, key, text, n) { pos =>
      val benchSh = benchmark
        .select(explode(graft.operators.Dedup.shingleHashes(text, n)).as("sh"))
        .distinct()
      if (graft.util.Regime.atMost(benchSh, benchBroadcastCap))
        pos.join(broadcast(benchSh), "sh")
      else pos.join(benchSh, "sh")
    }

  /** SEMANTIC decontamination — the embedding-level sibling of
    * [[decontaminate]]: flag training vectors whose max cosine against
    * ANY benchmark vector reaches the threshold, catching the
    * paraphrased/translated contamination an n-gram check cannot. The
    * benchmark (eval sets are bounded by contract, same as the lexical
    * path's broadcast) collapses to a ONE-ROW array that broadcasts,
    * and the per-vector max runs inside higher-order functions over
    * the fused native array_cosine — a single map-side pass over
    * train, zero shuffles of train rows.
    *
    * TWO-REGIME (the probeLshIndex pattern, Dedup.probeLshIndex): a
    * benchmark up to `benchBroadcastCap` rows broadcasts as the one-row
    * array; above the cap it cannot broadcast and the IVF-bucketed
    * cross-set path swaps in ([[Similarity.maxCosineVsIvf]]) — cells
    * fitted on the benchmark, train probes its `nassign` nearest cells,
    * max via equi-join on cell. The regime probe is one bounded count
    * (`limit(cap + 1)`), never a full benchmark count. SamplingSpec
    * pins both regimes identical on the fixture.
    */
  def decontaminateSemantic(train: DataFrame, benchmark: DataFrame,
      threshold: Double, scale: Int = 5,
      benchBroadcastCap: Int = 1 << 16,
      ncells: Int = 16, nassign: Int = 2): DataFrame = {
    val small = graft.util.Regime.atMost(benchmark, benchBroadcastCap)
    val maxed =
      if (small) {
        val benchArr = benchmark.agg(collect_list(col("embedding")).as("_bench"))
        // array_max_cosine, not array_max(transform(..)): one fused
        // codegen'd loop, and — load-bearing — no lambda, so the outer
        // `embedding` reference is visible to the optimizer; the HOF
        // form's filter gets mis-pushed onto the broadcast side under
        // column pruning (invalid !Filter, binding failure — see
        // ArrayMaxCosineExpr's scaladoc).
        // widen conditionally: the train×broadcast-bench cosine map is
        // |train|·|bench|·dims work running on the SCAN's split count —
        // one compact file means one core does all of it
        // ([[graft.util.Widen]]; round-robin, so the PlanAuditSpec
        // "train rows never hash-shuffled" contract holds)
        graft.util.Widen.forHeavyMap(train)
          .crossJoin(broadcast(benchArr))
          .select(col("vec_id"),
            call_function("array_max_cosine", col("_bench"), col("embedding")).as("raw"))
      } else Similarity.maxCosineVsIvf(train, benchmark, ncells, nassign)
    maxed
      .select(col("vec_id"), round(col("raw"), scale).as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /** Deterministic epoch ordering: a pseudo-random but fully
    * reproducible global training order per epoch — the sort key is
    * md5(epoch ":" key), so (a) every epoch is a different permutation,
    * (b) a re-run or retried partition reproduces the identical order,
    * (c) no RNG state anywhere. At 100 TB the ORDER IS THE SORT: the
    * frame is written sorted by `sort_key` (range-partitioned shards)
    * and readers consume shards in key order — there is deliberately no
    * global row-number column, which would force a single-partition
    * window.
    */
  def epochOrder(df: DataFrame, key: Column, epoch: Int): DataFrame =
    df.withColumn("sort_key",
        md5(concat_ws(":", lit(epoch), key.cast("string"))))
      .orderBy(col("sort_key"), key) // all input columns ride along

  /** Leakage-safe train/validation split: the unit of assignment is the
    * near-duplicate COMPONENT, not the document — a validation document
    * can then never have a near-duplicate in train (the eval-set leakage
    * a per-document random split produces at a rate equal to the corpus
    * dup-rate). `pairs` is any near-dup pair frame (`da`, `db` — from
    * jaccardPairs, lshNearDups, embedding near-dups, …); documents
    * outside every pair are their own singleton component. The draw is
    * the same md5 threshold as [[bernoulli]] — deterministic,
    * engine-reproducible, retry-stable — applied to the component id.
    *
    * Scale shape: components via the O(log n) contraction
    * ([[Dedup.connectedComponentsAdaptive]]), then one broadcast-or-
    * shuffle join of the (much smaller) non-singleton component table
    * onto the corpus; the split itself is a map-side literal compare.
    */
  def leakageSafeSplit(docs: DataFrame, key: Column, pairs: DataFrame,
      valFrac: Double): DataFrame = {
    val comp = Dedup.connectedComponentsAdaptive(pairs)
      .withColumnRenamed("id", "doc_key")
    docs.select(key.as("doc_key"))
      .join(comp, Seq("doc_key"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_key")))
      .withColumn("split",
        when(hashDraw(col("component")) < lit(rateThreshold(valFrac)), "val")
          .otherwise("train"))
  }

  /** Mixture planning: per-stratum sampling/repeat weight that reshapes
    * the corpus token distribution to a target share map. weight > 1 ⇒
    * repeat (epochs), < 1 ⇒ subsample — the standard knob for data
    * mixing. One tiny aggregate (|strata| rows); the global total comes
    * from an unpartitioned window over that aggregate, never a driver
    * collect.
    */
  /** Apply a mixture plan: per document, the number of copies the
    * reshaped corpus contains — floor(weight) guaranteed epochs plus one
    * more with probability frac(weight), decided by a deterministic
    * per-key draw (Knuth multiplicative hash — integer-exact in any
    * engine, no overflow for |keys| < 2^31, negative keys folded by
    * pmod). In expectation every
    * stratum's token mass lands on its target share; a re-run (or a
    * retried partition) reproduces the identical copy counts.
    */
  def mixtureApply(df: DataFrame, key: Column, stratum: Column,
      text: Column, targets: Map[String, Double]): DataFrame = {
    val plan = mixturePlan(df, stratum, text, targets)
      .select(col("stratum"), col("mix_weight"))
    // key folded to 20 bits BEFORE the multiply so the product stays
    // under 2^52 — no ANSI long-overflow at any key value
    val u = pmod(key, lit(1048576L)) * lit(2654435761L) % lit(4294967296L) /
      lit(4294967296.0)
    df.select(key.as("doc_key"), stratum.as("stratum"), u.as("u"))
      .join(broadcast(plan), "stratum")
      .withColumn("n_copies",
        (floor(col("mix_weight")) +
          when(col("u") < col("mix_weight") - floor(col("mix_weight")), 1)
            .otherwise(0)).cast("long"))
      .select(col("doc_key"), col("stratum"), col("n_copies"))
  }

  def mixturePlan(df: DataFrame, stratum: Column, text: Column,
      targets: Map[String, Double]): DataFrame = {
    val target = targets.foldLeft(lit(0.0)) { case (acc, (s, p)) =>
      when(col("stratum") === s, lit(p)).otherwise(acc)
    }
    val agg = df
      .select(stratum.as("stratum"), tokenEstimate(text).as("tok"))
      .groupBy(col("stratum"))
      .agg(sum(col("tok")).as("stratum_toks"))
    // grand total via a broadcast 1-row frame, not an unpartitioned window:
    // the window form funnels the (tiny) stratum frame through a single
    // partition and spams WindowExec warnings; the cross-join keeps every
    // stage partition-parallel and the broadcast is one row.
    val tot = agg.agg(sum(col("stratum_toks")).as("total_toks"))
    agg
      .crossJoin(broadcast(tot))
      .select(col("stratum"), col("stratum_toks"),
        round(col("stratum_toks").cast("double") /
          col("total_toks").cast("double"), 6).as("actual_share"),
        round(target * col("total_toks").cast("double") /
          col("stratum_toks").cast("double"), 6).as("mix_weight"))
  }

  /** Length-bucketed batching stats: assign each document to the
    * power-of-two token-length bucket (floor(log2(tok))) and report per
    * bucket the doc count, token mass, and PADDING EFFICIENCY — the
    * fraction of a padded batch that is real tokens if every doc pads
    * to the bucket's max observed length. This is the other standard
    * batching strategy next to [[packSequences]]' concat-and-cut:
    * bucketing keeps document boundaries (needed when attention must
    * not cross documents) at the cost of padding, and this operator is
    * the planner that quantifies that cost per bucket.
    *
    * All-integer arithmetic until the final ratio (one division,
    * IEEE-exact), so the oracle replays bit-for-bit. One partial+final
    * aggregate; map-side bucket assignment (a log2 on an int).
    */
  def lengthBuckets(df: DataFrame, text: Column): DataFrame = {
    val tok = tokenEstimate(text)
    // floor(log2(n)) via the bit length of the INTEGER token count —
    // never floating log (whose ulp at exact powers of two is an
    // engine-dependent off-by-one hazard)
    val bucket = (length(conv(tok, 10, 2)) - 1).cast("int")
    df.select(bucket.as("bucket"), tok.as("tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("sum_tokens"),
        max(col("tok")).as("max_tokens"))
      .withColumn("pad_efficiency",
        round(col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"), 6))
  }

  /** Deterministic uniform sample of EXACTLY k rows: order by
    * md5(key) (uniform over keys, reproducible, RNG-free — the
    * [[hashDraw]] trick with a rank instead of a threshold), take k.
    * Unlike Bernoulli sampling the size is exact, and unlike
    * driver-side reservoirs the plan is a TakeOrderedAndProject —
    * map-side per-partition heaps, one k-row merge, no full sort.
    * `key` itself breaks md5 ties so the order is total.
    */
  def exactK(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.orderBy(hashDraw(key), key).limit(k)
  }

  /** Exactly k per stratum, same determinism. Spelled as the STANDARD
    * window row_number-filter-drop idiom on purpose: the engine's
    * RewriteWindowTopK rule retargets it onto the native TopKPerKey
    * bounded-heap plan, so no stratum is ever fully sorted and the
    * shuffle carries ≤ k rows per (stratum, input partition) — the
    * custom §4.4c operator earning its keep on a curation path
    * (TopKPerKeySpec-style plan assert in SamplingSpec).
    */
  def stratifiedExactK(df: DataFrame, key: Column, stratum: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(stratum).orderBy(hashDraw(key), key)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Quality-tier curriculum sampling: split the corpus into `rates.size`
    * score tiers at EXACT percentile cut points and keep each tier at
    * its own rate (the keep-more-of-the-good-stuff curriculum move).
    *
    * Scale shape: the cut points come from ONE percentile aggregate
    * (never an ntile window, which would order the whole corpus through
    * a single partition); they broadcast as a 1-row frame and the tier
    * assignment + hash-Bernoulli verdict are map-side comparisons.
    *
    * Determinism: scores are compared RAW against the interpolated
    * cuts. A cut either equals a data value exactly (equal interpolation
    * neighbors — both engines compute it exactly) or sits ≥ fraction·1e-6
    * away from every 6-dp-rounded score, i.e. 10 orders of magnitude
    * beyond any engine ulp divergence — so tier assignment replays
    * exactly without rounding the cuts (rounding would ADD a half-even
    * vs half-up hazard at the x.5e-7 boundary).
    */
  def scoreTierSample(df: DataFrame, key: Column, score: Column,
      rates: Seq[Double], exact: Boolean = true): DataFrame = {
    require(rates.nonEmpty, "need at least one tier rate")
    val n = rates.size
    val ps = (1 until n).map(_.toDouble / n)
    val scored = df.select(key.as("doc_key"), score.as("s"))
    // exact percentile merges the full score multiset into ONE buffer —
    // fine at gate scale and what the oracle replays; at 100 TB use
    // exact = false: the G-K sketch (approx_percentile) has bounded
    // memory and mergeable partials, and SamplingSpec pins that sketch
    // tiers agree with exact tiers within the sketch's rank error
    val cuts = scored.agg(
      (if (exact) percentile(col("s"), array(ps.map(lit): _*))
       else approx_percentile(col("s"), array(ps.map(lit): _*), lit(10000)))
        .as("cuts"))
    val tier = (1 until n).map(i =>
        when(col("s") >= element_at(col("cuts"), i), 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    val kept = rates.zipWithIndex.tail.foldLeft(
        col("tier") === 1 && hashDraw(col("doc_key")) < lit(rateThreshold(rates.head))) {
      case (acc, (r, i)) =>
        acc || (col("tier") === i + 1 &&
          hashDraw(col("doc_key")) < lit(rateThreshold(r)))
    }
    scored.crossJoin(broadcast(cuts))
      .withColumn("tier", tier)
      .select(col("doc_key"), col("s").as("score"), col("tier"),
        kept.as("kept"))
  }

  /** Temperature-scaled mixture plan: sampling weight per source
    * ∝ tokens^alpha (alpha < 1 upweights small sources — the standard
    * multi-source LLM data-mixing move; alpha=1 is natural sampling,
    * alpha=0 uniform). Emits natural fraction, temperature fraction and
    * the boost each source's sampling rate gets.
    *
    * Determinism: the scaled weight is FLOORED TO AN INTEGER
    * (floor(n^alpha · 1e6)) before normalizing, so both normalization
    * denominators are exact integer sums — no float accumulation-order
    * dependence anywhere (sqrt is IEEE-correctly-rounded, so for the
    * default alpha=0.5 the weights are bit-reproducible across engines;
    * other alphas go through pow(), whose last-ulp may differ across
    * libm implementations — same caveat class as exp, documented here
    * rather than hidden).
    *
    * Scale shape: one partial+final count aggregate over the corpus,
    * then arithmetic on a sources-sized frame with a broadcast 1-row
    * total — the mixturePlan pattern.
    */
  def temperatureMixture(df: DataFrame, source: Column, text: Column,
      alpha: Double = 0.5): DataFrame = {
    val agg = df
      .select(source.as("source"), tokenEstimate(text).as("tok"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("n_toks"))
      .withColumn("w",
        floor((if (alpha == 0.5) sqrt(col("n_toks").cast("double"))
               else pow(col("n_toks").cast("double"), alpha)) * 1e6)
          .cast("long"))
    val tot = agg.agg(sum(col("n_toks")).as("tot_toks"),
      sum(col("w")).as("tot_w"))
    agg
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_toks"),
        round(col("n_toks").cast("double") /
          col("tot_toks").cast("double"), 6).as("natural_frac"),
        round(col("w").cast("double") /
          col("tot_w").cast("double"), 6).as("temp_frac"),
        round((col("w").cast("double") / col("tot_w").cast("double")) /
          (col("n_toks").cast("double") / col("tot_toks").cast("double")),
          6).as("boost"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of its hashed word-bigram
    * features under the TARGET corpus' feature distribution vs the RAW
    * corpus' own — the published recipe for "select web data that looks
    * like the trusted corpus". Per feature bucket b:
    * `log10((ct_b+1)/(T+B)) − log10((cr_b+1)/(R+B))` (add-one
    * smoothing, B = bucket count); per doc, the exact-decimal mean of
    * its features' ratios rounded to 6 dp — the
    * [[graft.operators.TextOps.stupidBackoffScore]] parity pattern, so
    * a SQL oracle reproduces the hash. Selection composes downstream
    * (threshold, [[exactK]] by weight, or a hash-Bernoulli with
    * weight-scaled rate).
    *
    * Scale shape — the whole point of HASHED features (and why this
    * needs no two-regime switch): both count tables are ≤ `buckets`
    * rows BY CONSTRUCTION no matter the corpus size, so they always
    * broadcast; the raw side streams through map-side against them.
    * Bigrams come from one lag window per doc (partition-parallel);
    * the only corpus-sized shuffle is that window's partition by doc.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, key: Column,
      text: Column, buckets: Int = 8192): DataFrame = {
    import graft.functions.Exact.dsum
    def feats(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("doc_key").orderBy("i")
      docs.select(key.as("doc_key"), posexplode(split(text, " ")).as(Seq("i", "w")))
        .withColumn("pw", lag("w", 1).over(w))
        .filter(col("pw").isNotNull)
        .select(col("doc_key"),
          (conv(substring(md5(concat_ws(" ", col("pw"), col("w"))), 1, 8), 16, 10)
            .cast("long") % buckets).as("b"))
    }
    val tf = feats(target)
    val rf = graft.util.Scratch.cached(feats(raw))
    val ct = tf.groupBy("b").agg(count(lit(1)).as("ct"))
    val cr = rf.groupBy("b").agg(count(lit(1)).as("cr"))
    val tTot = tf.count().toDouble + buckets
    val rTot = rf.count().toDouble + buckets
    rf.join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b")) // cr present: every raw feature counted
      .withColumn("lr",
        log10((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") / tTot) -
          log10((col("cr") + lit(1L)).cast("double") / rTot))
      .groupBy("doc_key")
      .agg(count(lit(1)).as("n_feats"),
        round(dsum(col("lr"), 12) / count(lit(1)), 6).as("dsir_score"))
  }
}
