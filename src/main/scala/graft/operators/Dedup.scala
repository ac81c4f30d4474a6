package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators (SURVEY C10) for LLM-corpus curation, designed
  * for the 100 TB regime:
  *
  * - exact dedup: hash-groupBy on a digest, never on the raw text — the
  *   shuffle carries 16-byte keys, not documents.
  * - near-dup: MinHash + banded LSH. Candidate generation is a BUCKET
  *   equi-join on (band index, band signature) — all-pairs comparison never
  *   happens; cost is Σ|bucket|², controlled by (bands, rows-per-band).
  * - SimHash: 60-bit fingerprints, banded so any pair within Hamming
  *   distance ≤ 3 shares one of 4 exact 15-bit band keys (pigeonhole) —
  *   again an equi-join, no cross product.
  *
  * All hashing is md5-derived (deterministic, engine-portable) so results
  * are reproducible across engines and cluster sizes.
  */
object Dedup {

  /** 60-bit hash from md5 — portable across engines (DuckDB can reproduce
    * it with substr(md5(x),1,15)::hex). 60 bits keeps conv() inside a
    * signed long.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles. Guarded so short docs yield []. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** MinHash signature table: (doc_id, mh array<int>[numPerms]).
    *
    * Deliberately NOT a nested-lambda column expression: higher-order
    * functions run interpreted (outside whole-stage codegen), which
    * measured ~13ms/doc for 32 perms. Instead: explode shingles once,
    * xxhash64 each, then numPerms static `min(hash(h, k))` aggregates —
    * everything codegen'd, partial (map-side) aggregation halves the
    * shuffle, and min() is order-free so any partitioning yields
    * identical signatures.
    */
  /** Distinct shingle hashes via the native fused-loop expression —
    * values identical to `xxhash64(explode(shingles(text, n)))` (same
    * bytes, same seed; DedupSpec asserts the equivalence), without the
    * interpreted per-position lambda (4.3 s just to shingle 10 k docs).
    */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("ngram_hashes", text, lit(n))

  /** Hash family for the minhash/LSH pipeline. The PIPELINE (shingle →
    * signature → bands → candidate equi-join → exact-Jaccard verify) is
    * identical code for both; only the hash primitives swap:
    *
    *  - [[FastFamily]] — xxhash64 shingles, Murmur3 permutations, murmur
    *    band mix: the production/scale family (pinned bit-level by
    *    MinHashSigSpec, recall-level by DedupSpec).
    *  - [[ReplayableFamily]] — md5-derived 60-bit shingles, affine
    *    permutations mod 2^61−1, plain `v:v` band strings: every step
    *    expressible EXACTLY in DuckDB SQL ([[graft.functions.MinHash61Fn]]),
    *    which is what lets the LSH gates be hash-checked end-to-end
    *    instead of rows-only.
    */
  sealed trait MinHashFamily {
    def shingles(text: Column, n: Int): Column
    def signature(hashes: Column, n: Int, numPerms: Int): Column
    def bandSig(slots: Seq[Column], band: Int): Column
    /** Type [[bandSig]] yields — lets index readers pin the persisted
      * band-table schema instead of paying a footer-inference job per
      * probe (one per micro-batch in the admission streams).
      */
    def bsigType: org.apache.spark.sql.types.DataType
  }
  case object FastFamily extends MinHashFamily {
    def shingles(text: Column, n: Int): Column = shingleHashes(text, n)
    def signature(hashes: Column, n: Int, numPerms: Int): Column =
      call_function("minhash32", hashes, lit(n), lit(numPerms))
    def bandSig(slots: Seq[Column], band: Int): Column =
      hash(slots :+ lit(band): _*)
    def bsigType: org.apache.spark.sql.types.DataType = IntegerType
  }
  case object ReplayableFamily extends MinHashFamily {
    def shingles(text: Column, n: Int): Column =
      call_function("ngram_hashes_md5", text, lit(n))
    def signature(hashes: Column, n: Int, numPerms: Int): Column =
      call_function("minhash61", hashes, lit(numPerms))
    def bandSig(slots: Seq[Column], band: Int): Column =
      concat_ws(":", slots: _*)
    def bsigType: org.apache.spark.sql.types.DataType = StringType
  }

  def minhashSignatures(docs: DataFrame, n: Int = 3,
      numPerms: Int = 32): DataFrame =
    // the fused native expression (functions.MinHashSigExpr): one map
    // pass per doc, bit-identical to the aggregate formulation it
    // replaced — explode(shingleHashes) then numPerms min(hash(h, k))
    // aggregates — which materialized a row per shingle and hash-
    // aggregated all of them (~4 s of the LSH gate at sf0.1). Docs with
    // no shingles had no rows after that groupBy; the null filter keeps
    // the contract.
    docs.select(col("doc_id"),
        call_function("minhash32", col("text"), lit(n), lit(numPerms)).as("mh"))
      .filter(col("mh").isNotNull)

  /** Exact-dedup survivors: first (min orderCol) row per digest of `key`.
    * Shuffles md5 digests only.
    */
  def exactSurvivors(df: DataFrame, key: Column, orderCol: Column): DataFrame = {
    val w = Window.partitionBy(md5(key)).orderBy(orderCol)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Deterministic near-dup test corpus: every document plus a mutant copy
    * (every 10th token dropped, id offset by `mutantOffset`). Used by the
    * near-dup queries so ground-truth pairs exist at any scale factor.
    */
  def withMutants(docs: DataFrame, mutantOffset: Long = 1000000L): DataFrame = {
    val toks = tokens(col("text"))
    val mutants = docs.select(
      (col("doc_id") + mutantOffset).as("doc_id"),
      concat_ws(" ", filter(toks, (_, i) => (i + 1) % 10 =!= 0)).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(mutants)
  }

  /** Incremental exact-dedup novelty check: which `batch` docs were
    * already seen in `history`, answered by the deterministic Bloom
    * filter ([[Sketches.bloomBits]]) instead of a join against the
    * historical corpus — the arrival-time "have we ingested this
    * before" a 100 TB pipeline asks per crawl segment, where the
    * history is petabytes but its filter is `mBits/32` BIGINTs that
    * broadcast to every task. `seen = true` is subject to the filter's
    * false-positive rate (never a false negative, so nothing novel is
    * ever lost by KEEPING only unseen docs — a duplicate slipping
    * through is impossible; a novel doc misflagged seen is the bounded
    * (1−e^(−kn/m))^k trade every Bloom deployment prices in; exact
    * reconciliation stays [[exactSurvivors]]'s job downstream).
    * Deterministic end to end, so the verdicts hash-check.
    *
    * Returns (doc_id, seen) for every batch doc. Filters OR together
    * (bit_or register merge), so per-segment filters compose into the
    * whole-history filter without rescanning old segments.
    */
  def bloomSeen(history: DataFrame, batch: DataFrame, kHashes: Int = 4,
      mBits: Int = 32768): DataFrame = {
    val bloom = Sketches.bloomBits(history, col("text"), kHashes, mBits)
    Sketches.bloomProbe(bloom, batch, col("doc_id"), col("text"),
        kHashes, mBits)
      .withColumnRenamed("id", "doc_id")
  }

  /** The CUMULATIVE face of [[bloomSeen]]: docs arrive in ordered
    * segments (crawl snapshots, ingest days) and each doc's verdict is
    * "was this text present in any STRICTLY EARLIER segment" — exactly
    * what the streaming Bloom ingest answers per micro-batch
    * ([[graft.streaming.FilePipelines.bloomNoveltyStream]] runs the
    * same probe against the filter of all prior batches; the spec pins
    * stream == this batch face). Strictly-earlier means a duplicate
    * WITHIN its own segment still reads novel — the segment is the
    * atomicity unit, matching the streaming semantics where a batch is
    * probed before its own bits land.
    *
    * Scale shape: the per-segment filter table is nsegs × ≤mBits/32
    * rows — broadcast — so the probe is one equi-join on the word key
    * with a `<` residual, never a join against the corpus; both
    * aggregates are map-side-combining group-bys keyed by (doc, j).
    * Returns (doc_id, segment, seen).
    */
  def bloomNovelBySegment(docs: DataFrame, segment: Column, kHashes: Int = 4,
      mBits: Int = 32768): DataFrame = {
    val segBits = docs
      .select(segment.as("seg"),
        explode(Sketches.bloomPositions(col("text"), kHashes, mBits)).as("p"))
      .select(col("seg"), shiftright(col("p"), 5).as("word"),
        col("p").bitwiseAND(lit(31L)).as("b"))
      .groupBy("seg", "word")
      .agg(expr("bit_or(shiftleft(1L, cast(b AS int)))").as("bits"))
    val pos = docs
      .select(col("doc_id"), segment.as("seg"),
        posexplode(Sketches.bloomPositions(col("text"), kHashes, mBits))
          .as(Seq("j", "p")))
      .select(col("doc_id"), col("seg"), col("j"),
        shiftright(col("p"), 5).as("word"),
        col("p").bitwiseAND(lit(31L)).as("b"))
    pos.as("o")
      .join(broadcast(segBits).as("f"),
        col("f.word") === col("o.word") && col("f.seg") < col("o.seg"), "left")
      .select(col("o.doc_id"), col("o.seg"), col("o.j"),
        coalesce(expr("shiftright(f.bits, cast(o.b AS int))")
          .bitwiseAND(lit(1L)), lit(0L)).as("hit"))
      .groupBy("doc_id", "seg", "j")
      .agg(max(col("hit")).as("h"))
      .groupBy(col("doc_id"), col("seg").as("segment"))
      .agg((sum(col("h")) === lit(kHashes.toLong)).as("seen"))
  }

  /** Exact n-gram Jaccard similarity for ALL pairs sharing ≥1 shingle —
    * the brute-force ground truth. The join is on shingle (not cross), so
    * disjoint documents never pair; still O(Σ|posting list|²) and thus a
    * verification/oracle tool, not the scale path (that's [[lshCandidates]]).
    *
    * Postings carry the 8-byte [[shingleHashes]] value, not the 3-word
    * string: intersection/size COUNTS over distinct shingles are
    * keying-invariant (any injective keying yields the same Jaccard —
    * a 64-bit collision inside one document is the only divergence and
    * is negligible far beyond this tool's verification scale), so a
    * string-shingle oracle still matches while the join/agg stay fully
    * codegen'd on fixed-width keys instead of an interpreted per-position
    * lambda feeding string comparisons.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // cached: the postings self-join and the size table all reuse it
    // (8 bytes/posting — the string postings this replaced dominated the
    // cache and the shuffle)
    val sh = docs
      .select(col("doc_id"), explode(shingleHashes(col("text"), n)).as("sh"))
      .cache()
    graft.util.Scratch.register(sh): Unit // result-reachable; see Scratch
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
      .withColumn("jaccard", col("i") / (col("sa") + col("sb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the near-superset detector
    * resemblance metrics structurally miss: a short document quoted
    * wholesale inside a long one (aggregator pages, quote-reply chains,
    * boilerplate-wrapped articles) has containment
    * |sh(A)∩sh(B)| / min(|sh(A)|,|sh(B)|) ≈ 1 while its Jaccard shrinks
    * with the size ratio (a 40% prefix-quote scores j ≈ 0.4 — under
    * every practical Jaccard threshold — and c ≈ 1). Minhash-LSH
    * under-recalls these for the same reason (band collision probability
    * tracks RESEMBLANCE), so containment runs on the shingle-postings
    * join itself.
    *
    * Scale shape: the postings equi-join is bounded by Σ|posting list|².
    * `hotCap` makes that linear-ish at corpus scale: shingles carried by
    * more than `hotCap` documents are ubiquitous boilerplate (the thing
    * span-removal deletes upstream) and are excluded from the shingle
    * UNIVERSE — both intersection and sizes — so the metric stays a
    * true containment over the informative shingles and no posting list
    * exceeds `hotCap`. `hotCap = None` is the exact small-N/oracle
    * regime; DedupSpec pins that the capped regime preserves the
    * planted near-superset pairs on the fixture.
    */
  /** The measured hotCap rule (round-17 timing probe,
    * NOTES_r17 §4): a CONSTANT cap silently breaks at scale — cap=32
    * was recall-1.0 at 5 k docs and recall-0.053 at 50 k, because
    * true-containment posting lists grow with the corpus and a cap
    * below them deletes the evidence, not the boilerplate. The rule
    * that held at both scales (recall 1.0): cap ∝ corpus, ~1 % of the
    * document count, floored — the cells-∝-corpus discipline applied
    * to the postings join.
    */
  def containmentAutoCap(nDocs: Long): Int =
    // clamp: beyond ~2.1e11 docs the ratio exceeds Int.MaxValue and a
    // bare toInt would wrap NEGATIVE — breaking the capped join at
    // exactly the scale the rule exists for
    math.min(math.max(64L, nDocs / 100L), Int.MaxValue.toLong).toInt

  /** Round-19 scale guard (the sf10 decade probe, NOTES_r19 §4): the
    * candidate join's cost IS the prefix mass Σ_{prefix rows} nd, and on
    * a SHINGLE-SATURATED corpus — a closed template vocabulary where the
    * distinct-shingle count stops growing with the corpus — it grows
    * ∝ n²: every posting list lengthens with n, NO shingle is rare, and
    * neither the hot-cap (max nd sat far under cap at the measured
    * saturation: 624 vs 2500) nor the rarest-first prefix filter has any
    * rarity to exploit (measured: 10× docs → 115× mass at n-gram 3 on
    * the saturated fixture, vs ~8× distinct-shingle growth — i.e.
    * near-linear mass — at n-gram 5). `maxCandidatesPerDoc` budgets an
    * ESTIMATE of that mass (prefix-row count × mean posting-list length
    * — one aggregate over the already-cached postings, exact when nd is
    * uniform i.e. saturated, a deliberate overestimate on organic
    * rarity-skewed data: measured ~6× over actual at the sf1 boundary,
    * which the 4096 default absorbs) and REFUSES loudly over budget —
    * a diagnosis naming the remedy (wider shingles, upstream
    * boilerplate/span removal, or a raised budget) instead of a
    * silently quadratic join. 0 disables; the exact small-N regime
    * (hotCap = None) never measures.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
      hotCap: Option[Int] = None,
      maxCandidatesPerDoc: Long = 4096L): DataFrame = {
    // widened conditionally: the shingle explode is the heavy map and a
    // compact corpus arrives as 1-2 scan splits (r22 sf1 profile: the
    // postings cache fill ran its hash-every-token pass on 2 of 32
    // cores) — at real scale the scan has thousands of splits and this
    // is a no-op ([[graft.util.Widen]])
    val raw = graft.util.Widen.forHeavyMap(docs)
      .select(col("doc_id"), explode(shingleHashes(col("text"), n)).as("sh"))
    val sh = hotCap.fold(raw) { cap =>
      val hot = raw.groupBy("sh").agg(count(lit(1)).as("nd"))
        .filter(col("nd") > cap).select("sh")
      // NO forced broadcast: ubiquitous shingles are usually few, but a
      // dup-heavy corpus with a small cap can make `hot` corpus-sized —
      // the anti-join shuffles on the high-cardinality shingle key and
      // the planner may still broadcast from OBSERVED size (the
      // minedNegativesIvf lesson: never hard-code a broadcast of a side
      // whose size scales with the data)
      raw.join(hot, Seq("sh"), "left_anti")
    }.cache()
    graft.util.Scratch.register(sh): Unit // result-reachable; see Scratch
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // LOSSLESS min-side PREFIX FILTER (the AllPairs/PPJoin candidate
    // discipline — Bayardo et al. WWW'07, Xiao et al. ICDE'08): a pair
    // at containment ≥ t shares ≥ ⌈t·min(|a|,|b|)⌉ shingles, so the
    // SMALLER doc's first |d| − ⌈t·|d|⌉ + 1 shingles (in any canonical
    // order — rarest-first makes the filter selective) must include a
    // shared one; if none did, the shared set would fit inside the
    // other ⌈t·|d|⌉ − 1 shingles — contradiction. Candidates therefore
    // come from (min-side prefix ⋈ other side's postings) instead of
    // the full self-join: the r18 sf1 probe measured 31 M pair-group
    // rows from mid-frequency CHANCE trigrams (each contributing 1-2
    // shared shingles, all discarded by the ≥ t filter) collapse to
    // ~3 M candidates, because chance co-occurrence lives in common
    // shingles and common shingles land at the END of the rarest-first
    // order, outside every prefix. Equal sizes: both docs are the min
    // side, either orientation generates the pair — `<=` keeps both.
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("nd"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("nd"), col("sh"))
    if (hotCap.isDefined && maxCandidatesPerDoc > 0) {
      // ESTIMATED mass = (Σ per-doc prefix length) × (mean posting-list
      // length over the capped universe): exact for the saturated case
      // (uniform nd — the case the guard exists for) and an OVERestimate
      // for organic data (the rarest-first prefix draws from below the
      // mean), so a pass is trustworthy and the budget carries headroom
      // for the estimate's bias. Both aggregates read the ALREADY-CACHED
      // postings frame — the measured alternative (caching the exact
      // prefix frame and summing its nd) re-ran the per-doc window and
      // broke its codegen fusion, inflating every containment gate ~1.5×.
      val r = sh.agg(count(lit(1)), count_distinct(col("sh")),
        count_distinct(col("doc_id"))).head()
      val (postings, distinctSh, nDocs) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      if (nDocs > 0 && distinctSh > 0) {
        // Σ prefLen = Σ (sz − ⌈t·sz⌉ + 1) ≤ (1−t)·postings + nDocs
        val prefixRows = ((1.0 - threshold) * postings).toLong + nDocs
        val estMass = (prefixRows.toDouble * postings / distinctSh).toLong
        if (estMass > maxCandidatesPerDoc * nDocs)
          throw new IllegalStateException(
            f"containmentPairs: estimated prefix-candidate mass " +
              f"$estMass%,d (≈$prefixRows%,d prefix rows × mean " +
              f"posting-list length ${postings / distinctSh}%,d) exceeds " +
              f"the $maxCandidatesPerDoc%,d-per-doc budget over " +
              f"$nDocs%,d docs — the shingle space is SATURATED (closed " +
              "template vocabulary: every n-gram is mid-frequency, so " +
              "no prefix is rare and the candidate join is quadratic " +
              "in the corpus). Widen the shingles (larger n), remove " +
              "boilerplate/spans upstream, or raise " +
              "maxCandidatesPerDoc if the mass is intended")
      }
    }
    val pfx = sh.join(dfreq, "sh").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("doc_id").as("pda"), col("sh"), col("sz").as("psz"))
    val cands = pfx.join(
        sh.join(sizes, "doc_id")
          .select(col("doc_id").as("pdb"), col("sh"), col("sz").as("bsz")),
        Seq("sh"))
      .filter(col("pda") =!= col("pdb") && col("psz") <= col("bsz"))
      .select(least(col("pda"), col("pdb")).as("da"),
        greatest(col("pda"), col("pdb")).as("db"))
      .distinct()
    // verify candidates with the EXACT intersection over per-doc sorted
    // shingle arrays (shingle hashes are distinct per doc, so
    // |array_intersect| IS the intersection count the self-join
    // aggregated) — candidate-count × array-size work, codegen'd, no
    // quadratic pair-group aggregation
    val arrays = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("shs"),
        count(lit(1)).as("sz"))
    cands
      .join(arrays.select(col("doc_id").as("da"), col("shs").as("sha"),
        col("sz").as("sa")), "da")
      .join(arrays.select(col("doc_id").as("db"), col("shs").as("shb"),
        col("sz").as("sb")), "db")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment", col("i") / least(col("sa"), col("sb")))
      .filter(col("containment") >= threshold)
      .select(col("da"), col("db"), col("containment"))
  }

  /** Banded-LSH candidate pairs: band the minhash signature (rows-per-band
    * hashes per band), bucket-join on (band, signature). For threshold τ,
    * candidate probability is 1-(1-τ^r)^b; the default r=2,b=16 gives
    * ~0.997 recall at τ=0.5 with a ~0.6% false-candidate rate at j=0.02.
    */
  /** (doc_id, band, bsig) rows from a minhash signature frame — the band
    * signature is a murmur mix of the band's minhash slice (codegen'd).
    * Shared by the in-memory self-join ([[lshCandidates]]) and the
    * persisted index ([[writeLshIndex]]/[[probeLshIndex]]).
    */
  private def bandTable(sig: DataFrame, numBands: Int,
      rowsPerBand: Int, family: MinHashFamily = FastFamily): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until numBands).map { b =>
        val slots = (0 until rowsPerBand).map(r => col("mh").getItem(b * rowsPerBand + r))
        struct(lit(b).as("band"), family.bandSig(slots, b).as("bsig"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))

  def lshCandidates(docs: DataFrame, n: Int = 3, numPerms: Int = 32,
      rowsPerBand: Int = 2): DataFrame = {
    val numBands = numPerms / rowsPerBand
    val sig = minhashSignatures(docs, n, numPerms)
    // The band table is the LSH INDEX: materialize it (cache) so the
    // self-join's two sides don't each recompute the signature pipeline —
    // the same reason a real system persists its minhash index.
    val bands = graft.util.Scratch.cached(
      bandTable(sig, numBands, rowsPerBand))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** MinHash-LSH near-dup pipeline: LSH candidates → exact Jaccard verify.
    * Only candidate pairs are verified — the scale path end to end.
    * The shingle-hash sets are computed ONCE (cached): the verify stage
    * needs them anyway, and signatures derive from them via minhash32's
    * array input instead of re-shingling the corpus.
    */
  def lshNearDups(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      numPerms: Int = 32, rowsPerBand: Int = 2,
      family: MinHashFamily = FastFamily): DataFrame = {
    // verify sets on hashed shingles: same intersection counts as the
    // string sets (64-bit collisions aside), 8-byte elements through the
    // candidate joins instead of ~20-char strings
    val sets = graft.util.Scratch.cached(docs.select(col("doc_id"),
      family.shingles(col("text"), n).as("sh")))
    // array-input signature ignores the n literal (sh is already shingled);
    // it MUST equal the n used for sh above or the call mislabels itself
    val sig = sets.select(col("doc_id"),
        family.signature(col("sh"), n, numPerms).as("mh"))
      .filter(col("mh").isNotNull)
    val bands = graft.util.Scratch.cached(
      bandTable(sig, numPerms / rowsPerBand, rowsPerBand, family))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(sets.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))).cast(LongType))
      .withColumn("jaccard",
        col("i") / (size(col("sha")) + size(col("shb")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Persist the LSH index: `path/bands` holds (doc_id, bsig) partitioned
    * by band and SORTED by bsig inside each partition — parquet row-group
    * min/max stats over a sorted column are tight, which is what makes
    * probe-side signature pushdown prune (the same
    * layout-for-pruning move as the IVF cell index in
    * [[Similarity.writeIvfIndex]], on the axis probes actually filter:
    * every probe doc carries ALL bands, so the selective key is bsig, not
    * band). `path/sets` holds the hashed shingle sets the verify stage
    * needs. Incremental near-dup at 100 TB means NOT re-minhashing the
    * corpus per batch of new documents — new docs compute their own
    * signatures and probe the stored buckets.
    */
  def writeLshIndex(docs: DataFrame, path: String, n: Int = 3,
      numPerms: Int = 32, rowsPerBand: Int = 2,
      family: MinHashFamily = FastFamily): Unit = {
    // shingle once: write the sets, then derive band signatures FROM the
    // written sets (array-input signature) — one shingling pass and one
    // text scan instead of two of each
    docs.select(col("doc_id"), family.shingles(col("text"), n).as("sh"))
      .write.mode("overwrite").parquet(s"$path/sets")
    val sets = docs.sparkSession.read.parquet(s"$path/sets")
    // array-input signature ignores the n literal (sh is already shingled);
    // it MUST equal the n used for sh above or the call mislabels itself
    val sig = sets.select(col("doc_id"),
        family.signature(col("sh"), n, numPerms).as("mh"))
      .filter(col("mh").isNotNull)
    val bands = bandTable(sig, numPerms / rowsPerBand, rowsPerBand, family)
    bands.repartition(col("band")).sortWithinPartitions("band", "bsig")
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
  }

  /** Append a batch of new documents to a persisted LSH index WITHOUT
    * re-minhashing the corpus — the near-dup mirror of
    * [[Similarity.appendToIvfIndex]]: index maintenance is the difference
    * between "rebuild the 100 TB index per crawl segment" and "land the
    * segment's own rows". New docs shingle/sign once (the batch frame is
    * cached — batch-sized, not corpus-sized — because both the sets sink
    * and the bands sink consume it, then released before return) and
    * their (band, bsig) rows land as APPENDED files under the existing
    * `band=` partitions, each file internally sorted by bsig so parquet
    * row-group min/max stats stay tight per file and probe-side signature
    * pushdown keeps pruning on the grown layout; nothing existing is
    * rewritten. (n, numPerms, rowsPerBand, family) MUST match the build —
    * the same frozen-parameters contract as IVF append's frozen
    * centroids; a mismatched family fails loudly on the bands schema
    * (Int vs String bsig), a mismatched geometry is the caller's bug.
    * Duplicate doc_ids across batches are the caller's contract, as with
    * any append-only sink.
    *
    * Delivery contract (the Bloom-ingest epoch discipline does not fit
    * an append-only layout, so state it instead): the two appends are
    * not atomic together — a crash between them leaves the batch's sets
    * landed but its bands absent, which UNDER-reports (the new docs are
    * simply not discoverable as candidates until the batch is retried;
    * no wrong match is possible). A retry of a fully-successful append,
    * however, duplicates the batch's sets rows and therefore duplicates
    * that batch's rows in probe results — so drive this from an
    * exactly-once scheduler, or use [[appendToLshIndexCommitted]], which
    * builds that discipline in and can be retried blindly.
    */
  def appendToLshIndex(path: String, newDocs: DataFrame, n: Int = 3,
      numPerms: Int = 32, rowsPerBand: Int = 2,
      family: MinHashFamily = FastFamily): Unit = {
    val sh = newDocs.select(col("doc_id"),
      family.shingles(col("text"), n).as("sh")).cache()
    try {
      sh.write.mode("append").parquet(s"$path/sets")
      val sig = sh.select(col("doc_id"),
          family.signature(col("sh"), n, numPerms).as("mh"))
        .filter(col("mh").isNotNull)
      bandTable(sig, numPerms / rowsPerBand, rowsPerBand, family)
        .repartition(col("band")).sortWithinPartitions("band", "bsig")
        .write.mode("append").partitionBy("band").parquet(s"$path/bands")
    } finally { sh.unpersist(); () }
  }

  /** Exactly-once [[appendToLshIndex]]: the committed-batch variant an
    * at-least-once scheduler (foreachBatch, a retrying cron) can call
    * blindly — [[graft.util.CommittedAppend]]'s marker + deterministic
    * staging + clear-then-promote (wholesale replace) discipline over this index's
    * layout (sets range-partitioned on doc_id into `setsFiles` sorted
    * files, ≤0 → batch-row-count adaptive via
    * [[graft.util.CommittedAppend.outFilesFor]] — a backfill-sized batch
    * shingles through every core while a micro-batch stages one file,
    * and per-file doc_id stats keep the verify join's scan pruned;
    * bands hash-routed on `band`, so each staged band= dir holds
    * exactly one file and probe-side bsig pushdown keeps pruning). Every crash window (mid-staging,
    * mid-promotion, marker lost) replays to the exact same live rows
    * with none duplicated; probes never see staging. Returns true iff
    * this call landed the batch.
    */
  def appendToLshIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, batchId: Long, n: Int = 3,
      numPerms: Int = 32, rowsPerBand: Int = 2,
      family: MinHashFamily = FastFamily, setsFiles: Int = 0): Boolean =
    graft.util.CommittedAppend.run(spark, path, batchId) { stage =>
      val sh = newDocs.select(col("doc_id"),
        family.shingles(col("text"), n).as("sh")).cache()
      try {
        // scale-adaptive width (one count on the cached batch frame —
        // it fills the cache both sinks consume): a micro-batch stages
        // one sets file, a backfill still shingles core-wide
        val nf = if (setsFiles > 0) setsFiles
          else graft.util.CommittedAppend.outFilesFor(spark, sh.count())
        graft.util.CommittedAppend.stagedSlices(sh, nf, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$stage/sets")
        val sig = sh.select(col("doc_id"),
            family.signature(col("sh"), n, numPerms).as("mh"))
          .filter(col("mh").isNotNull)
        bandTable(sig, numPerms / rowsPerBand, rowsPerBand, family)
          .repartition(col("band")).sortWithinPartitions("band", "bsig")
          .write.mode("overwrite").partitionBy("band")
          .parquet(s"$stage/bands")
      } finally { sh.unpersist(); () }
    }

  /** Compact a persisted LSH index in place — the maintenance step after
    * many committed appends, where each band= dir holds one file per
    * batch and sets/ one file per batch: probes stay CORRECT but pay
    * file-count overhead (listing, open, one tiny row group per file)
    * and per-file bsig min/max ranges overlap so footer pruning weakens.
    * Compaction rewrites the bands into ONE bsig-sorted file per band
    * partition and the sets into `setsFiles` files, via staged write +
    * whole-dir generation swap ([[graft.util.IndexStore.compact]]), so
    * every crash window leaves a complete generation on disk and
    * [[recoverLshIndex]] — called here first, safe to call any time —
    * restores it. Probe results are IDENTICAL before and after: the
    * dedup_lsh_compact gate shares dedup_lsh_append's oracle verbatim.
    * Single-maintainer contract: do not run concurrently with appends
    * (the same rule as any table compaction).
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, setsFiles: Int = 1): Unit =
    graft.util.IndexStore.compact(spark, path, lshStore(setsFiles))

  /** The LSH index's lifecycle data ([[graft.util.IndexStore]]): one
    * bsig-sorted file per `band=` dir, and the shingle sets compacted
    * into `setsFiles` doc_id-sorted files. No quantizer: the hash
    * geometry is a parameter, never refitted.
    */
  private def lshStore(setsFiles: Int) = {
    val bands: graft.util.IndexStore.Layout = _.repartition(col("band"))
      .sortWithinPartitions("band", "bsig").write.partitionBy("band")
    val sets: graft.util.IndexStore.Layout =
      _.repartition(setsFiles).sortWithinPartitions("doc_id").write
    graft.util.IndexStore.Kind(Seq("bands" -> bands, "sets" -> sets),
      meta = None)
  }

  /** Restore a torn [[compactLshIndex]] swap
    * ([[graft.util.IndexStore.recover]] over this index's two live
    * dirs). Safe to call any time.
    */
  def recoverLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.util.IndexStore.recover(spark, path, lshStore(1))

  /** Probe a persisted LSH index with a batch of query docs. Two regimes,
    * chosen by the probe batch's distinct band-signature count:
    *
    *  - SMALL (≤ maxPushdownSigs): the signature set is collected once
    *    and rides into the index scan as a pushed `isin` filter — over
    *    the bsig-sorted layout that prunes row groups instead of
    *    streaming the whole index. One driver round-trip of a few
    *    thousand ints buys scan-level pruning no join can.
    *  - LARGE: no driver round-trip — the distinct signatures stay
    *    distributed and semi-join the index on `bsig` (planner-sized, so
    *    a still-modest set broadcasts and a 10M-probe batch degrades to
    *    a shuffled semi-join instead of an OOM or a giant isin literal).
    *
    * Candidates verify against the stored shingle sets with the exact
    * Jaccard filter, so false positives are impossible and recall is the
    * banding guarantee (~0.997 at τ=0.5 with r=2,b=16).
    */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, threshold: Double = 0.5, n: Int = 3,
      numPerms: Int = 32, rowsPerBand: Int = 2,
      maxPushdownSigs: Int = 4096,
      family: MinHashFamily = FastFamily): DataFrame = {
    // index schemas are pinned by the family (bands carry the family's
    // bsig type; sets are hashed-shingle arrays for BOTH families): a
    // schema-less read pays a footer-inference job per read — one per
    // micro-batch in the admission streams. A family mismatch still
    // fails loudly: the parquet reader rejects an Int column declared
    // String (and vice versa) at scan time.
    val idxBands = spark.read.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("bsig", family.bsigType),
        StructField("band", IntegerType))))
      .parquet(s"$path/bands")
    val idxSets = spark.read.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("sh", ArrayType(LongType)))))
      .parquet(s"$path/sets")
    // shingle the probe batch ONCE: the signature/band path and the
    // verification qSets broadcast both derive from this cached frame
    // (uncached, the per-token shingling ran twice per probe)
    val qSh = graft.util.Scratch.cached(queries.select(col("doc_id"),
      family.shingles(col("text"), n).as("sh")))
    val qSig = qSh.select(col("doc_id"),
        family.signature(col("sh"), n, numPerms).as("mh"))
      .filter(col("mh").isNotNull)
    val qBands = graft.util.Scratch.cached(
      bandTable(qSig, numPerms / rowsPerBand, rowsPerBand, family)
        .withColumnRenamed("doc_id", "q_id"))
    // bsig collisions across bands are harmless in either regime — the
    // candidate join condition still carries (band, bsig)
    val qSigs = qBands.select("bsig").distinct()
    val probeSigs = qSigs.limit(maxPushdownSigs + 1)
      .collect().map(_.get(0)).toSeq // Int (fast) or String (replayable)
    val filtered =
      if (probeSigs.length <= maxPushdownSigs)
        idxBands.filter(col("bsig").isin(probeSigs: _*))
      else idxBands.join(qSigs, Seq("bsig"), "leftsemi")
    val cands = filtered
      .join(broadcast(qBands), Seq("band", "bsig"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"))
      .distinct()
    val qSets = qSh.select(col("doc_id").as("q_id"), col("sh").as("qsh"))
    cands
      .join(idxSets, "doc_id")
      .join(broadcast(qSets), "q_id")
      .withColumn("i", size(array_intersect(col("sh"), col("qsh"))).cast(LongType))
      .withColumn("jaccard",
        col("i") / (size(col("sh")) + size(col("qsh")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("q_id"), col("doc_id"), col("jaccard"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a bounded prefix,
    * with LOSSLESS length-band blocking: levenshtein ≤ d forces
    * |len(a) − len(b)| ≤ d, so with band width > d two matching strings
    * sit in the same or adjacent bands — one side explodes its band key
    * to {blk−1, blk, blk+1} and the candidate join is an equi-join on the
    * band (never a cross product; each qualifying pair matches exactly
    * one candidate row, so no distinct is needed). The exact distance
    * then filters candidates. Bounding the compared prefix caps the
    * O(prefixLen²) DP cost per candidate; fingerprint-identical full
    * texts are exact dedup's job ([[hash60]]), this operator exists for
    * the short-edit tail (boilerplate with small insertions).
    */
  def editDistanceNearDups(docs: DataFrame, maxDist: Int = 12,
      prefixLen: Int = 80): DataFrame = {
    val d = maxDist
    val k = d + 1 // chunk count: the PassJoin pigeonhole
    // Lossless filters stacked cheapest-first; each is a NECESSARY
    // condition for levenshtein ≤ d, so the brute-force oracle validates
    // that nothing is lost:
    // 1. chunk/gram equi-join (PassJoin, Li et al. VLDB'12): partition
    //    one string into d+1 chunks — any string within distance d
    //    contains at least one chunk VERBATIM, shifted ≤ d positions.
    //    Candidates come from an equi-join on (chunk length, chunk text),
    //    not from enumerating pairs: a naive length-band join degenerates
    //    at the prefix cap (every capped doc in one block ⇒ ~all-pairs
    //    enumeration, 12M pair evals ≈ 15 s at sf0.1; the gram join emits
    //    ~1/10th of that).
    // 2. multi-match-aware position alignment (the paper's substring
    //    selection, §4): if chunk i (0-based) of a matches a substring of
    //    b starting at p, at most i edits precede it and at most k-1-i
    //    follow, so |p − st| ≤ i AND |p − (st + Δlen)| ≤ k-1-i — strictly
    //    tighter than the plain shift bound |p − st| ≤ d for every chunk,
    //    and ~2-3× fewer candidates reach the expensive filters.
    //    Plus the length band.
    // 3. char-histogram L1 ≤ 2d (one edit moves ≤ 2 slots by 1 each) — a
    //    fixed codegen'd 27-term GetArrayItem sum, NOT a zip_with HOF
    //    (interpreted per row: the minhash pitfall).
    // 4. exact DP on the survivors only.
    val alphabet = "abcdefghijklmnopqrstuvwxyz "
    val hist = array(alphabet.map(ch =>
      (length(col("s")) -
        length(replace(col("s"), lit(ch.toString), lit("")))).cast(IntegerType)): _*)
    // cache: the histogram must MATERIALIZE on the per-doc rows —
    // uncached, column pruning inlines the 27 replace() exprs past the
    // explode and recomputes them per GRAM row (~16 s of allocation at
    // sf0.1 for what is <0.1 s on the un-exploded table)
    val keyed = graft.util.Scratch.cached(docs.select(col("doc_id"),
        substring(lower(col("text")), 1, prefixLen).as("s"))
      .withColumn("len", length(col("s")))
      .withColumn("h", hist))
    // chunk side: 13 variable-width chunks (floor boundaries) per doc.
    // Position bucket pb (width d+1) joins positionally: |p − st| ≤ d
    // forces adjacent buckets, so the chunk side explodes pb±1 and the
    // bucket joins the key — raw hash-bucket enumeration drops ~6× vs
    // keying on (glen, gram) alone.
    val chunks = keyed.filter(col("len") >= k)
      .withColumn("ci", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("st", expr(s"(ci * len) div $k"))
      .withColumn("glen", expr(s"((ci + 1) * len) div $k - (ci * len) div $k"))
      .withColumn("gram", expr("substr(s, st + 1, glen)"))
      .withColumn("pb", explode(array(
        expr(s"st div ${d + 1} - 1"), expr(s"st div ${d + 1}"),
        expr(s"st div ${d + 1} + 1"))))
    // gram side: every positional substring whose length can be a chunk
    // length of SOME partner within the ±d length band
    val grams = keyed
      .withColumn("glen", explode(sequence(
        greatest(lit(1), expr(s"(len - $d) div $k")),
        expr(s"(len + $d) div $k + 1"))))
      .filter(col("glen") <= col("len"))
      .withColumn("p", explode(sequence(lit(0), col("len") - col("glen"))))
      .withColumn("gram", expr("substr(s, p + 1, glen)"))
      .withColumn("pb", expr(s"p div ${d + 1}"))
    // native fused-loop L1 (functions.L1DistExpr): a 27-term column sum
    // here pushes the join condition out of compiled evaluation and the
    // whole tree goes INTERPRETED per candidate (~6 µs/eval, +14 s)
    val l1 = call_function("array_l1", col("a.h"), col("b.h"))
    // The WHOLE chain lives in the join condition, cheapest conjunct
    // first — a post-join .filter would get pushed into the condition
    // PREPENDED, putting L1/levenshtein in front of the position/length
    // guards and running the DP on every raw gram collision (~80 s
    // instead of ~6 s at sf0.1). AND short-circuits in the generated
    // code, so evaluation order IS the conjunct order written here.
    // (Measured alternative: pulling the DP out behind a distinct-pairs
    // barrier re-runs it once per pair instead of once per chunk match,
    // but the distinct must shuffle every L1-surviving gram row WITH both
    // 80-char strings — 96 s vs 5 s at sf0.1. The duplicate DPs are the
    // cheaper side of that trade.)
    val cheapCond =
      col("a.doc_id") =!= col("b.doc_id") &&
        abs(col("b.p") - col("a.st")) <= col("a.ci") &&
        abs(col("b.p") - (col("a.st") + col("b.len") - col("a.len"))) <=
          lit(k - 1) - col("a.ci") &&
        abs(col("a.len") - col("b.len")) <= d &&
        l1 <= d * 2
    // threshold-banded DP (guide §1.2 "per-task work"): the 3-arg
    // levenshtein computes inside a 2d+1 diagonal band and EXITS EARLY
    // the moment the band minimum exceeds d (returning -1), instead of
    // filling the full prefixLen² matrix per candidate — O(d·min(len))
    // for the common far-apart candidate, with values identical to the
    // unbounded DP whenever dist ≤ d (what the ≤ d conjunct keeps).
    // Measured at sf0.1: 6.5-7.5 s → see OPTIMIZATION_r21.md.
    val fullCond = cheapCond && levenshtein(col("a.s"), col("b.s"), d) >= 0
    val viaGrams = chunks.as("a").join(grams.as("b"),
      col("a.glen") === col("b.glen") && col("a.pb") === col("b.pb") &&
        col("a.gram") === col("b.gram") && fullCond)
    // short-string fallback: strings with len < k can't donate k chunks;
    // their partners are also short (±d), so the residual join is tiny
    val shortsCond =
      col("a.doc_id") =!= col("b.doc_id") &&
        abs(col("a.len") - col("b.len")) <= d &&
        l1 <= d * 2
    val shorts = keyed.filter(col("len") < k).as("a")
      .join(keyed.filter(col("len") < k + d).as("b"),
        shortsCond && levenshtein(col("a.s"), col("b.s"), d) >= 0)
    val dist = levenshtein(col("a.s"), col("b.s"), d).cast(LongType)
    Seq(viaGrams, shorts).map {
      _.select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"),
        dist.as("dist"))
    }.reduce(_ unionByName _).distinct()
  }

  /** Connected components over near-dup pairs: min-label propagation to a
    * fixpoint — each node's component is the smallest id reachable from
    * it. The canonical dedup endgame: pairs → components → elect one
    * survivor per component. The driver loop iterates O(graph diameter)
    * rounds (near-dup graphs are shallow — chains of mutual 90%-similar
    * docs); each round is one distributed join + min-aggregate, nothing
    * driver-sized. At larger diameters the same loop takes the
    * large-star/small-star step (alternating min over neighbors and
    * labels) with checkpointing every few rounds to truncate lineage.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("da").as("a"), col("db").as("b"))
      .unionByName(pairs.select(col("db").as("a"), col("da").as("b")))
      .cache()
    // seed = round one fused into the init: min(self, neighbors). Near-dup
    // graphs are mostly cliques of mutual duplicates, so this alone is
    // usually the fixpoint and the loop runs once just to confirm.
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("component"))
      .select(col("a").as("id"), col("component"))
      .cache()
    // labels only ever decrease, so Σcomponent strictly decreases until
    // the fixpoint — one scalar aggregate per round replaces a
    // join-with-previous change count (fewer driver actions; at tiny
    // per-round cost the fixed action overhead IS the runtime)
    // coalesce: on an empty edge set (corpus with no near-dup pairs) the
    // sum aggregate is NULL — the loop must converge to an empty labeling,
    // not NPE on getLong
    var prevSum = labels.agg(coalesce(sum(col("component")), lit(0L)))
      .head().getLong(0)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val viaNbr = edges
        .join(labels.select(col("id").as("b"), col("component")), Seq("b"))
        .select(col("a").as("id"), col("component"))
      val next = labels.unionByName(viaNbr)
        .groupBy("id").agg(min(col("component")).as("component"))
        .cache()
      val newSum = next.agg(coalesce(sum(col("component")), lit(0L)))
        .head().getLong(0)
      converged = newSum == prevSum
      prevSum = newSum
      labels.unpersist()
      labels = next
      rounds += 1
    }
    edges.unpersist()
    // the final labeling stays cached (the returned plan reads it, and
    // callers typically join it several times); result-reachable, so
    // Scratch-registered for session-scoped release
    graft.util.Scratch.register(labels)
  }

  /** Connected components via alternating large-star / small-star — the
    * published MapReduce CC algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Converges in
    * O(log n) rounds regardless of graph DIAMETER, where the label
    * propagation in [[connectedComponents]] needs O(diameter) rounds — on
    * a 100 TB corpus a single chain of pairwise near-dups (common with
    * templated/boilerplate text) gives propagation a linear round count
    * while star-contraction stays logarithmic.
    *
    * Each round is two node-local window aggregations (one shuffle each,
    * no join): large-star hangs every neighbor LARGER than u off u's
    * minimum; small-star re-hangs the smaller neighbors. The edge set
    * monotonically contracts toward a star forest; at the fixpoint every
    * edge is (node → component-min). `localCheckpoint` every
    * `checkpointEvery` rounds truncates the otherwise exponentially
    * nesting lineage (on a cluster, `checkpoint` against the reliable
    * checkpoint dir gives the same truncation plus executor-loss
    * recovery).
    *
    * Output contract is identical to [[connectedComponents]]: one row per
    * node that appears in `pairs`, with `component` = min node id
    * reachable from it.
    */
  def connectedComponentsStar(pairs: DataFrame, checkpointEvery: Int = 3): DataFrame = {
    // Orient + dedupe: u > v canonical form; drop self-loops defensively.
    var edges = pairs
      .select(greatest(col("da"), col("db")).as("u"),
        least(col("da"), col("db")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // Convergence signature: an order-insensitive hash of the edge SET.
    // Star rounds only ever move edges toward the star-forest fixpoint,
    // at which both steps emit the edge set unchanged — equal signatures
    // (count + xor of per-edge hashes; xor can't overflow under ANSI and
    // is order-insensitive, and edges are distinct so parity is exact)
    // detect that in one scalar action per round with no join against the
    // previous round.
    def signature(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(bit_xor(xxhash64(col("v"), col("u"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var prevSig = signature(edges)
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged && rounds < 50) {
      // Large-star: per node u (over the symmetrized neighborhood), every
      // neighbor v > u re-attaches to m = min(N(u) ∪ {u}). Window min —
      // node-local after one hash partition on u, no join.
      val nbrs = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val wU = Window.partitionBy("u")
      val afterLarge = nbrs
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: per node u over its SMALLER neighbors (the canonical
      // orientation), every v ∈ N⁻(u) ∪ {u} except the min m re-attaches
      // to m.
      val wS = Window.partitionBy("u")
      val withMin = afterLarge
        .withColumn("m", min(col("v")).over(wS))
      val afterSmall = withMin
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(withMin
          .select(col("u"), col("m").as("v"))
          .filter(col("u") =!= col("v")))
        .distinct()
      val next =
        if ((rounds + 1) % checkpointEvery == 0) afterSmall.localCheckpoint()
        else afterSmall
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      edges = next
      rounds += 1
    }
    // Fixpoint: a star forest, every edge (u → root). Roots appear only
    // on the v side — label them with themselves.
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(
        edges.select(col("v").as("id"), col("v").as("component")).distinct())
      .distinct()
  }

  /** Adaptive connected components: pick the physical strategy from the
    * measured edge count, the same runtime-statistics philosophy AQE
    * applies to join selection. A near-dup pair graph is orders of
    * magnitude smaller than its corpus (pairs exist only where the
    * LSH/Jaccard stage found overlap), so the common case fits ONE task:
    * repartition(1) + a per-partition union-find with path compression —
    * a single executor-side pass, no per-round Spark jobs, still never
    * driver-materialized. Above the threshold (edge list too big for one
    * task's memory) the O(log n)-round star contraction takes over.
    * Both paths emit the identical min-label contract.
    */
  def connectedComponentsAdaptive(pairs: DataFrame,
      localThreshold: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cached = pairs.persist()
    val n = cached.count()
    val result =
      if (n > localThreshold) connectedComponentsStar(cached)
      else {
        cached.select(col("da").cast(LongType), col("db").cast(LongType))
          .as[(Long, Long)]
          .repartition(1) // exchange: upstream pair generation stays parallel
          .mapPartitions { it =>
            val parent = scala.collection.mutable.LongMap.empty[Long]
            val nodes = scala.collection.mutable.LongMap.empty[Unit]
            def find(x: Long): Long = {
              var r = x
              while (parent.getOrElse(r, r) != r) r = parent(r)
              var c = x // path compression
              while (parent.getOrElse(c, c) != r) {
                val next = parent(c); parent.update(c, r); c = next
              }
              r
            }
            it.foreach { case (a, b) =>
              nodes.update(a, ()); nodes.update(b, ())
              val (ra, rb) = (find(a), find(b))
              // smaller root wins → final labels are component minima
              if (ra < rb) parent.update(rb, ra)
              else if (rb < ra) parent.update(ra, rb)
            }
            nodes.keysIterator.map(x => (x, find(x)))
          }
          .toDF("id", "component")
          .localCheckpoint()
      }
    cached.unpersist()
    result
  }

  /** 60-bit SimHash over the token multiset: bit j is the sign of
    * Σ_tokens cnt·(±1 from bit j of the token hash). The bit axis is
    * generated by explode (variable shifts via `expr`); two shuffles on
    * doc_id, no widening joins.
    */
  def simhashSigs(docs: DataFrame): DataFrame =
    // native fused loop (functions.SimHash60Expr) — one map pass. The
    // Column formulation below multiplies the corpus ×60 through two
    // shuffles; it stays as the readable spec of the arithmetic, and
    // DedupSpec asserts the two agree bit for bit.
    docs.select(col("doc_id"),
      call_function("simhash60", col("text")).as("simhash"))

  /** The explode-formulated reference of [[simhashSigs]]'s arithmetic:
    * bit j of the signature is the sign of Σ_tokens cnt·(±1 from bit j of
    * hash60(token)).
    */
  def simhashSigsReference(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("t")))
    tok
      .select(col("doc_id"), col("cnt"), col("h"),
        explode(sequence(lit(0), lit(59))).as("j"))
      .withColumn("bit", expr("CAST((h >> j) & 1 AS INT)"))
      .withColumn("v", (col("bit") * 2 - 1) * col("cnt"))
      .groupBy("doc_id", "j").agg(sum(col("v")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, j)")).otherwise(0L)).as("simhash"))
  }

  /** Hamming-≤3 near-dup pairs via 4×15-bit banding of the simhash
    * (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands identical).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // widen BEFORE the signature map: simhash60 hashes every token
    // (md5-class work, ~200 hashes/doc), and the input's file layout —
    // not the operator — decides how many tasks run it; a compact
    // corpus is ONE parquet split, so the whole corpus hashed on one
    // core (r18 sf1 probe: 100 k docs ≈ 20 M token hashes ≈ 19 s of a
    // 22 s gate, single task; 4.4 s widened). Conditional
    // ([[graft.util.Widen]]): a many-split 100 TB input skips the
    // shuffle entirely.
    val sigs = simhashSigs(graft.util.Widen.forHeavyMap(docs))
    // cached: BOTH self-join sides read the banded signatures — without
    // it each side recomputes the whole signature pipeline (tokenize →
    // explode → two aggregations) and the r18 sf1 probe measured the
    // uncached join at 26 s vs 2.7 s cached on 100 k docs. The
    // [[graft.operators.Similarity.semDeDup]] discipline: the cache
    // fills during the caller's action, so Scratch-register rather than
    // unpersist here.
    val banded = graft.util.Scratch.cached(
      sigs.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bkey", expr("(simhash >> (band * 15)) & 32767")))
    // hamming verify BEFORE the distinct: both signatures ride the join
    // row, so the xor+bit_count check is map-side — the distinct then
    // shuffles only TRUE near-dups (a pair matching in several bands
    // dedups there), not the raw candidate mass. The old order
    // (distinct first) shuffled every banded collision: the r18 sf1
    // probe measured 104 M candidate pairs from correlated signatures
    // (common-word-dominated documents pile into hot buckets — top
    // bucket 4,997 docs ⇒ 12.5 M pairs alone), all exchanged just to be
    // discarded by the ≤ maxHamming filter. 24.7 s → the re-measured
    // number in the probe title at sf1; results identical (hamming is a
    // function of the pair, so distinct-after == distinct-before).
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(expr("a.simhash ^ b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select(col("da"), col("db"), col("hamming").cast(LongType).as("hamming"))
  }

  /** Per-document duplicated-span coverage (the "what fraction of this
    * document exists elsewhere" signal from substring-dedup pipelines,
    * cf. Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): the share of a document's DISTINCT word n-gram shingles
    * that occur in at least one OTHER document. 1.0 ⇒ every span is
    * duplicated somewhere (an exact or near copy); high values flag
    * partially-copied/templated documents that pairwise near-dup misses
    * when the copied portion is below the Jaccard threshold.
    *
    * Scale shape: shingles come from the fused native [[shingleHashes]]
    * (already per-document distinct, 8-byte keys — map-side, NO distinct
    * shuffle); one shuffle on the hash counts carrying documents
    * (postings-length counts, never pairs), one shuffle back on the
    * document for the coverage aggregate. No pair join anywhere — this
    * is O(corpus), not O(candidates²), which is why span coverage stays
    * computable at 100 TB where all-pairs containment does not. Counts
    * are keying-invariant (any injective shingle keying yields the same
    * coverage — the jaccardPairs postings argument), so the md5-string
    * oracle still matches the xxhash64 engine path.
    */
  /** Quality-aware survivor election — the dedup endgame done the way a
    * curation pipeline actually wants it: per near-dup component keep
    * the HIGHEST-QUALITY member (tie: lowest key), not the lowest-id one
    * ([[connectedComponents]]' default). `quality` is any
    * (doc_key, quality) frame — [[TextOps.qualityScore]] in the gate;
    * documents absent from it are dropped (inner join) — score the
    * whole corpus.
    *
    * Scale shape: components via the O(log n) contraction; the election
    * is ONE max_by aggregation over (component) — no window sort over
    * members — then a join back for the per-document verdict. The
    * max_by carrier is struct(quality, -doc_key), so the tie-break needs
    * no second pass.
    */
  def electSurvivors(docs: DataFrame, key: Column, pairs: DataFrame,
      quality: DataFrame): DataFrame = {
    val comp = connectedComponentsAdaptive(pairs)
      .withColumnRenamed("id", "doc_key")
    // cached: referenced by BOTH the winners aggregate and the join
    // back — without it the component computation (and the quality
    // scan) execute twice (measured 2× the gate at sf0.1)
    val withComp = graft.util.Scratch.cached(docs.select(key.as("doc_key"))
      .join(comp, Seq("doc_key"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_key")))
      .join(quality, "doc_key"))
    val winners = withComp.groupBy("component")
      .agg(max_by(col("doc_key"),
        struct(col("quality"), (-col("doc_key")).as("nk"))).as("survivor"))
    withComp.join(winners, "component")
      .select(col("doc_key"), col("component"), col("quality"),
        (col("doc_key") === col("survivor")).as("is_survivor"))
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight every
    * document by 1/|near-dup component| so each duplicate CLUSTER
    * contributes one document's worth of training mass (the
    * duplication-aware loss-weighting alternative to hard removal —
    * keeps diversity inside a cluster while removing its count
    * advantage). Singletons weigh 1.0.
    *
    * Scale shape: identical to [[electSurvivors]] — components via the
    * adaptive contraction, ONE count aggregate per component, a join
    * back for the per-document weight. The weight is a single double
    * division (1.0/size), so no accumulation-order concerns.
    */
  def softDedupWeights(docs: DataFrame, key: Column,
      pairs: DataFrame): DataFrame = {
    val comp = connectedComponentsAdaptive(pairs)
      .withColumnRenamed("id", "doc_key")
    // cached: feeds both the size aggregate and the join back (the
    // electSurvivors lesson)
    val withComp = graft.util.Scratch.cached(docs.select(key.as("doc_key"))
      .join(comp, Seq("doc_key"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_key"))))
    val sizes = withComp.groupBy("component")
      .agg(count(lit(1)).as("csize"))
    withComp.join(sizes, "component")
      .select(col("doc_key"), col("component"), col("csize"),
        round(lit(1.0) / col("csize"), 6).as("weight"))
  }

  /** Shared-span REMOVAL — the rewrite step of substring-level dedup
    * ([[spanCoverage]] is the signal, this is the scalpel): every token
    * covered by an n-gram that occurs verbatim in at least one OTHER
    * document is cut, and the document is reassembled from the
    * surviving tokens in position order. Within-document repeats are
    * deliberately kept (cross-document boilerplate is the target; a
    * doc's own refrain is content).
    *
    * Output: (doc_key, n_tokens, n_removed, cleaned_md5) — the digest
    * of the cleaned text, so an oracle can verify the REWRITE itself,
    * not just counts.
    *
    * Scale shape: positional shingle digests join the carrier counts
    * (the boilerplate/spanCoverage shuffle), covered positions explode
    * from matched spans only, and the reassembly is one per-document
    * sort of its own kept tokens (sort_array over collect_list —
    * partition-parallel by doc, no global sort). The token shuffle is
    * the rewrite's own output cost.
    */
  def removeSharedSpans(docs: DataFrame, key: Column, text: Column,
      n: Int = 8): DataFrame =
    cutSpans(docs, key, text, n) { p =>
      val pos = p.cache()
      graft.util.Scratch.register(pos): Unit // result-reachable; see Scratch
      val carriers = pos.select(col("doc_key"), col("sh")).distinct()
        .groupBy("sh").agg(count(lit(1)).as("nd"))
      pos.join(carriers.filter(col("nd") >= 2), "sh")
    }

  /** The span-cutting rewrite shared by [[removeSharedSpans]] and
    * [[Sampling.scrubContaminatedSpans]]: tokenize `docs`, hash every
    * n-token window by position into a (doc_key, i, sh) frame, let
    * `covered` pick the windows to cut from it, then cut every token a
    * picked window covers and reassemble each document from its kept
    * tokens in position order. Output: (doc_key, n_tokens, n_removed,
    * cleaned_md5).
    */
  private[operators] def cutSpans(docs: DataFrame, key: Column,
      text: Column, n: Int)(covered: DataFrame => DataFrame): DataFrame = {
    // widened conditionally: tokenization here and the positional
    // shingle hashing below both run at the SCAN's split count on a
    // compact corpus (1-2 splits ⇒ 1-2 cores); no-op at real split
    // counts ([[graft.util.Widen]])
    val toks = graft.util.Scratch.cached(
      graft.util.Widen.forHeavyMap(docs)
        .select(key.as("doc_key"), text.as("_text"),
          tokens(text).as("w")))
    // positional shingle hashes in one fused native pass
    // (ngram_pos_hashes; i is 1-based like the token positions below).
    // The previous explode(sequence)→slice→array_join→md5 pipeline
    // allocated an n-token string + digest per position — the HOF/
    // per-position-alloc pitfall ngram_hashes already removed from the
    // LSH path. The hash is internal (an oracle recomputes sharing
    // with its own md5), so only equality classes matter.
    val pos = toks
      .select(col("doc_key"),
        posexplode(call_function("ngram_pos_hashes", col("_text"), lit(n)))
          .as(Seq("p0", "sh")))
      .select(col("doc_key"), (col("p0") + 1).as("i"), col("sh"))
    // covered SPANS aggregate as one per-doc start-set and expand to
    // positions DOC-LOCALLY after the shuffle (r22, guide §2
    // shuffle-fewer-bytes): the r21 shape exploded every matched span
    // into its n positions BEFORE the per-doc aggregation, so the
    // aggregation's input — and its map-side partial sets — carried up
    // to n× the rows/bytes of the start-set shape (overlapping spans
    // cover mostly-shared positions, but their STARTS are distinct).
    // The kept text then reassembles doc-locally: kept positions =
    // sequence(1, |w|) minus the covered set via array_except, which is
    // set-semantic in its second argument — the flattened expansion
    // needs no distinct, and first-array order (and with it the cleaned
    // string) is preserved exactly.
    val covSets = covered(pos)
      .groupBy("doc_key")
      .agg(collect_set(col("i")).as("starts"))
      .select(col("doc_key"),
        flatten(transform(col("starts"),
          s => sequence(s, s + (n - 1)))).as("cov"))
    toks.join(covSets, Seq("doc_key"), "left")
      .select(col("doc_key"), col("w"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_key"),
        size(col("w")).cast("long").as("n_tokens"),
        transform(
          array_except(
            // guarded: sequence(1, 0) would count DOWN ([1, 0]) on a
            // zero-token doc and element_at(w, 0) throws
            when(size(col("w")) >= 1, sequence(lit(1), size(col("w"))))
              .otherwise(array().cast("array<int>")),
            col("cov")),
          p => element_at(col("w"), p)).as("keptw"))
      .select(col("doc_key"), col("n_tokens"),
        (col("n_tokens") - size(col("keptw")).cast("long")).as("n_removed"),
        md5(array_join(col("keptw"), " ")).as("cleaned_md5"))
  }

  def spanCoverage(docs: DataFrame, key: Column, text: Column,
      n: Int = 8): DataFrame = {
    val sh = docs
      .select(key.as("doc_key"), explode(shingleHashes(text, n)).as("sh"))
      // cached: feeds BOTH the carrier count and the join back — without
      // it the explode+hash work executes twice (the electSurvivors
      // lesson; at 100 TB the double pass is a double corpus scan)
      .cache()
    graft.util.Scratch.register(sh): Unit // result-reachable; see Scratch
    // per-doc distinct already ⇒ count(*) per hash = distinct carriers
    val carriers = sh.groupBy("sh").agg(count(lit(1)).as("nd"))
    sh.join(carriers, "sh")
      .groupBy("doc_key")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("coverage",
        round(col("n_shared").cast("double") / col("n_spans"), 6))
  }
}
