package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches for corpus-scale counting (C4/C14).
  *
  * The count-min sketch here is DETERMINISTIC end to end — unusual for
  * a sketch, deliberate for this engine: the row hashes are md5-derived
  * (`('0x'||substr(md5(r||':'||token),1,15))` exactly as the DuckDB
  * oracle spells it) and the cells are INTEGER sums, so the sketch is
  * merge-order-free (addition commutes) and every cell — and every
  * point estimate — hash-checks against an exact SQL replay. The
  * approximation error is the usual CMS overestimate bound
  * (est ≥ true; est ≤ true + εN with prob. over the hash family), but
  * WHICH estimate you get is reproducible run to run, partition layout
  * to partition layout.
  */
object Sketches {

  /** (row, bucket) cell counts of a depth×width count-min sketch over
    * the whitespace tokens of `text`. One explode + one integer-sum
    * aggregate: the shuffle carries (depth·width) cells at most —
    * constant in corpus size, the whole point of sketching 100 TB.
    */
  def countMin(docs: DataFrame, text: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"depth=$depth width=$width")
    val tok = docs.select(explode(split(text, " ")).as("t"))
    // ONE corpus pass: each token explodes to its depth cells inline
    // (a per-row union would rescan the corpus depth times)
    val cells = tok.select(explode(array((0 until depth).map { r =>
      struct(lit(r).as("r"),
        (Dedup.hash60(concat(lit(s"$r:"), col("t"))) % width).as("bucket"))
    }: _*)).as("c"))
    cells.groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Deterministic HyperLogLog distinct count per group — the
    * [[countMin]] rationale applied to CARDINALITY: md5-derived value
    * hashes (spelled exactly as the SQL oracle spells them), integer
    * register maxima (merge = max: commutative, idempotent — the
    * sketch is merge-order-free AND retry/duplicate-safe), and an
    * estimator computed from an INTEGER register sum
    * (Σ 2^(49−reg) ≤ m·2^49 < 2^61, exact in a BIGINT regardless of
    * aggregation order), so every estimate hash-checks against an
    * exact SQL replay. The only float ops are the final
    * constant·2^49/S′ division and the linear-counting ln — identical
    * single IEEE expressions on both engines, rounded to 4 dp.
    *
    * Standard HLL (Flajolet et al.), b=12 (m=4096) over the 60-bit
    * md5-derived hash: bucket = first 3 hex digits, rho = leading-zero
    * count of the 48-bit suffix + 1, derived from HEX DIGITS (a
    * regexp leading-zeros count + a 16-way nibble CASE) — no log2 on
    * either engine, so there is no cross-engine floating-point floor
    * hazard in the registers. rho(0) = 49 by convention. Small-range
    * branch = linear counting below 2.5·m when empty registers exist;
    * the large-range correction is omitted (it matters near 2^60/30).
    *
    * Scale shape: one explode pass → (group, bucket) max-aggregate —
    * the shuffle carries ≤ |groups|·m register rows, constant in
    * corpus size.
    */
  def hllDistinct(df: DataFrame, group: Column, value: Column): DataFrame =
    hllEstimate(hllRegisters(df, group, value))

  /** The register half of [[hllDistinct]]: (grp, bucket, reg) with
    * reg = max rho per bucket. ONE aggregation whose combiner is `max` —
    * exactly the shape Structured Streaming supports statefully, which
    * is why it is split out: a windowed stream maintains these registers
    * incrementally (graft.streaming.EventStreams.hllUserRegisters) and
    * [[hllEstimate]] reads them at query time. State per group is
    * bounded by m = 4096 rows no matter how many values arrive.
    */
  def hllRegisters(df: DataFrame, group: Column, value: Column): DataFrame = {
    // (bucket, rho) in one native codegen'd digest pass — bit-identical
    // to the hex-chain spelling the SQL oracle replays (conv(substr(
    // md5,1,3)) bucket; leading-zero-nibble regexp + nibble CASE rho),
    // without the per-row hex encode/regexp/conv walk. This is the
    // scan-rate path; the estimates still hash-check against the
    // hex-spelled oracle because the registers are equal, and
    // SketchesSpec pins packed parity against the chain directly.
    hllRegistersPacked(df, group,
      call_function("hll_bucket_rho", value.cast("string")))
  }

  /** [[hllRegisters]] from an already-packed (bucket << 6 | rho) column
    * (e.g. exploded `hll_ngram_bucket_rho` values — the fused n-gram
    * path that never allocates shingle strings).
    */
  def hllRegistersPacked(df: DataFrame, group: Column, packed: Column): DataFrame =
    df.select(group.as("grp"), shiftright(packed, 6).as("bucket"),
        packed.bitwiseAND(lit(63L)).as("rho"))
      .groupBy("grp", "bucket").agg(max(col("rho")).as("reg"))

  /** The estimator half of [[hllDistinct]] over a (grp, bucket, reg)
    * register table — see hllDistinct's scaladoc for the integer-exact
    * construction.
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val m = 4096
    // integer-exact Σ 2^(49−reg) over PRESENT buckets; absent buckets
    // contribute 2^49 each (reg = 0)
    val perGroup = regs.groupBy("grp")
      .agg(count(lit(1)).as("npresent"),
        sum(expr("shiftleft(1L, cast(49 - reg AS int))")).as("sp"))
      .select(col("grp"),
        (col("sp") + (lit(m.toLong) - col("npresent")) * lit(1L << 49))
          .as("sprime"),
        (lit(m.toLong) - col("npresent")).as("vzero"))
    // alpha·m²·2^49 spelled as one literal chain — the oracle spells the
    // identical chain so both engines fold the same doubles
    val c = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) *
      lit(4096.0) * lit(4096.0) * lit(562949953421312.0)
    val raw = c / col("sprime").cast("double")
    val est = when(raw <= lit(2.5 * m) && col("vzero") > 0,
      lit(4096.0) * log(lit(4096.0) / col("vzero").cast("double")))
      .otherwise(raw)
    perGroup.select(col("grp"), round(est, 4).as("hll_est"))
  }

  /** Deterministic Bloom filter over `value`: a (word, bits) register
    * table of `mBits` bits packed 32 per BIGINT word — the third member
    * of the engine's deterministic-sketch family ([[countMin]] counts,
    * [[hllDistinct]] cardinality, this one MEMBERSHIP). Same rationale:
    * the k bit positions are md5-derived exactly as the SQL oracle
    * spells them (`('0x'||substr(md5('bloom-'||j||':'||v),1,15)) % m`),
    * and the merge is bitwise OR — commutative, idempotent, so the
    * filter is merge-order-free AND retry/duplicate-safe, and two
    * filters over disjoint corpus segments OR together into the filter
    * of the union (the incremental-ingest property a 100 TB "have we
    * seen this" needs). Never a false negative; false-positive rate is
    * the standard (1 − e^(−kn/m))^k — but WHICH keys false-positive is
    * reproducible run to run, so results hash-check.
    *
    * Scale shape: one explode pass → (word) bit_or aggregate with
    * map-side partials — the shuffle and the result carry ≤ mBits/32
    * rows, constant in corpus size, so the filter always broadcasts.
    * 32 (not 64) bits ride per word: the high bit of a BIGINT is never
    * set, so neither engine's shift/sign semantics are ever exercised
    * at the boundary.
    */
  def bloomBits(df: DataFrame, value: Column, kHashes: Int = 4,
      mBits: Int = 32768): DataFrame = {
    require(kHashes >= 1, s"kHashes=$kHashes")
    require(mBits >= 32 && mBits % 32 == 0, s"mBits=$mBits")
    df.select(explode(bloomPositions(value, kHashes, mBits)).as("p"))
      .select(shiftright(col("p"), 5).as("word"),
        expr("shiftleft(1L, cast(p & 31 AS int))").as("bits"))
      .groupBy("word")
      .agg(expr("bit_or(bits)").as("bits"))
  }

  /** `prior` Bloom register table OR'd with the bits of a new batch, as
    * ONE aggregation: the batch's per-position single-bit rows union the
    * prior's (word, bits) rows BEFORE the (word) bit_or — bit_or is
    * associative/commutative, so the result equals
    * `prior.unionByName(bloomBits(batch)).groupBy(word).bit_or` while
    * paying one shuffle instead of two (the epoch-publish step of every
    * Bloom-ingest micro-batch runs this).
    */
  def bloomMerge(prior: DataFrame, batch: DataFrame, value: Column,
      kHashes: Int = 4, mBits: Int = 32768): DataFrame = {
    require(kHashes >= 1, s"kHashes=$kHashes")
    require(mBits >= 32 && mBits % 32 == 0, s"mBits=$mBits")
    batch
      .select(explode(bloomPositions(value, kHashes, mBits)).as("p"))
      .select(shiftright(col("p"), 5).as("word"),
        expr("shiftleft(1L, cast(p & 31 AS int))").as("bits"))
      .unionByName(prior.select(col("word"), col("bits")))
      .groupBy("word")
      .agg(expr("bit_or(bits)").as("bits"))
  }

  /** The j-th md5-derived bit position of one value — the single spelling
    * of the hash family, shared by build and probe so the two sides can
    * never disagree on it.
    */
  private[graft] def bloomPosition(value: Column, j: Int, mBits: Int): Column =
    Dedup.hash60(concat(lit(s"bloom-$j:"), value)) % mBits

  /** All k positions of [[bloomPosition]] as one array (the build-side
    * explode input).
    */
  private[graft] def bloomPositions(value: Column, kHashes: Int, mBits: Int): Column =
    array((0 until kHashes).map(bloomPosition(value, _, mBits)): _*)

  /** Membership probe against a [[bloomBits]] filter: (id, seen) with
    * seen ⇔ all k bits present — one row per probe ROW (ids are
    * document keys, unique per batch). The register table is collected
    * once (≤ mBits/32 rows by [[bloomBits]]'s construction — constant
    * in corpus size, the same bound that let it broadcast) and rides
    * into the probe plan as a LITERAL dense word-indexed bits array, so
    * the verdict is a map-side PROJECTION: no explode of the probe
    * rows, no join against the register rows, no broadcast build stage,
    * and — the scale point — no per-id aggregation shuffle of k rows
    * per document (guide §2.4; that exchange was one of the three in
    * every admission micro-batch verdict plan). A word absent from the
    * register holds 0 bits in the dense array ⇒ not seen, matching the
    * all-zeros semantics;
    * a null value yields null positions whose lookups read null ⇒ not
    * seen, exactly the old conditional-count behavior. The k conjuncts
    * are unrolled statically (k is a plan-time constant) over a DENSE
    * positional array — O(1) indexed `get`, whole-stage-codegen the
    * whole way; no higher-order function rides in the hot path. NOTE
    * the collect makes this function EAGER in its `bloom` argument (one
    * job, output bounded by mBits/32 rows — whitelisted in
    * CollectAuditSpec).
    */
  def bloomProbe(bloom: DataFrame, probes: DataFrame, id: Column,
      value: Column, kHashes: Int = 4, mBits: Int = 32768): DataFrame = {
    val words = new Array[Long](mBits / 32)
    bloom.select(col("word"), col("bits")).collect().foreach { r =>
      // a null-word row (null value hashed during the build) is
      // unreachable by any probe — the old join-on-word semantics
      if (!r.isNullAt(0) && !r.isNullAt(1)) words(r.getLong(0).toInt) = r.getLong(1)
    }
    bloomProbeRegister(words, probes, id, value, kHashes, mBits)
  }

  /** The probe projection of [[bloomProbe]] over an already-collected
    * dense register array ([[graft.util.BloomState.dense]]) — pure and
    * lazy; the admission pipelines use this with driver-read epoch state
    * so a micro-batch's verdict plan carries NO bloom-side job at all.
    */
  def bloomProbeRegister(words: Array[Long], probes: DataFrame, id: Column,
      value: Column, kHashes: Int = 4, mBits: Int = 32768): DataFrame = {
    require(words.length == mBits / 32,
      s"register array has ${words.length} words, want ${mBits / 32}")
    val arr = lit(words)
    val seen = (0 until kHashes).map { j =>
      val p = bloomPosition(value, j, mBits)
      call_function("shiftright",
        get(arr, shiftright(p, 5).cast("int")),
        p.bitwiseAND(lit(31L)).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    probes.select(id.as("id"), coalesce(seen, lit(false)).as("seen"))
  }

  /** Point estimates for `words` against a [[countMin]] sketch:
    * est(w) = min over rows of cell(r, h_r(w)) — the standard CMS
    * query, still fully deterministic. Absent cells count 0.
    */
  def cmsEstimate(sketch: DataFrame, words: Seq[String], depth: Int = 4,
      width: Int = 1024): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val probes = words.toDF("word")
      .crossJoin(spark.range(depth).select(col("id").cast("int").as("r")))
      .select(col("word"), col("r"),
        (Dedup.hash60(concat(col("r").cast("string"), lit(":"),
          col("word"))) % width).as("bucket"))
    probes.join(sketch, Seq("r", "bucket"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
