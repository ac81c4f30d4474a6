package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over document/embedding graphs — the link-graph
  * quality signal of web-scale curation (Common Crawl publishes
  * harmonic-centrality / PageRank rankings per crawl; curation
  * pipelines use them as a source-quality prior). The graph here is
  * whatever edge set the caller brings: a hyperlink graph, or the
  * kNN graph [[Similarity.topKIvf]] builds over embeddings.
  *
  * Determinism contract (the engine-wide parity pattern): every
  * per-edge contribution is a single IEEE expression, per-node sums
  * run in exact decimal (order-free), and each iteration's rank is
  * rounded to a fixed scale before the next — so the whole fixed-point
  * unrolls into arithmetic a SQL oracle replays bit-for-bit.
  *
  * 100 TB design: a FIXED number of iterations unrolls into ONE lazy
  * plan — each iteration is a (rank ⋈ edges) shuffle on src plus a
  * groupBy dst; nothing is collected, and the rank frame stays
  * (node, double). At web-graph scale you checkpoint every few
  * iterations to cut lineage, pre-partition edges by src so every
  * iteration reuses the same partitioning, and stop when the rounded
  * ranks stop moving (the rounding gives a natural fixed-point test).
  */
object Graph {

  /** PageRank with damping `d` over a directed edge list (src, dst).
    * Dangling mass is redistributed uniformly each iteration (the
    * standard correction — without it rank leaks and the total stops
    * summing to 1). Nodes = every id appearing as src or dst. Output:
    * (node, pr) with pr rounded to `scale` dp.
    *
    * Cache contract: the returned plan reads two internal cached frames
    * (the degree-annotated edge list and the node list; in the dangling
    * regime also the last iteration checkpoint) — all registered with
    * [[graft.util.Scratch]], so a long-lived session composing
    * operators releases them with `Scratch.release(spark)`. Superseded
    * per-iteration checkpoints are unpersisted here, as soon as their
    * successor materializes.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, d: Double = 0.85,
      scale: Int = 12): DataFrame = {
    import graft.functions.Exact.dsum
    import graft.util.Scratch
    // cache the edge list ONCE with its out-degree attached: every
    // iteration joins it, the caller's edge plan may itself be expensive
    // (the kNN build costs more than all three iterations together), and
    // folding deg onto the edge removes a rank ⋈ outdeg join per
    // iteration. At web scale this is the standard iterative-graph
    // move: persist (or checkpoint) edges once, pre-partitioned by src,
    // and every iteration reuses the same partitioning.
    val e0 = edges.select(col("src"), col("dst"))
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = Scratch.cached(e0.join(outdeg, "src"))
    val nodes = Scratch.cached(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // dangling nodes (no out-edges) need their mass redistributed each
    // iteration — a per-iteration global agg + broadcast. Most real
    // graphs here (kNN: every node queries) have NONE, and x + 0.0 is
    // IEEE-identity, so probe once (bounded) and skip the term entirely
    // when it cannot contribute: three broadcast jobs saved per run.
    // out-edge owners read from the CACHED e, not outdeg: outdeg's plan
    // hangs off the raw caller edges, and the caller's edge plan may be
    // the expensive part (a kNN build) — referencing it here would
    // compute it a second time just for the probe.
    val hasDangling = !graft.util.Regime.atMost(nodes
      .join(e.select(col("src").as("node")), Seq("node"), "left_anti"), 0)
    // n as a broadcast 1-row frame — the plan stays lazy, no driver count
    val nRow = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    // (node, n) off the CACHED node list: every iteration's "all nodes"
    // side reads this, not the previous rank — so each unrolled iteration
    // references the prior rank exactly ONCE (via contrib) and the lazy
    // plan grows LINEARLY in iterations, not 2^iterations. (The dangling
    // regime needs rank twice — contrib + dangling mass — so there we
    // cache the per-iteration rank: one tiny (node, pr) frame, the same
    // thing the web-scale checkpoint would persist.)
    val nodesN = nodes.crossJoin(nRow)
    var rank = nodesN
      .select(col("node"), round(lit(1.0) / col("n"), scale).as("pr"))
    // dangling regime only: each iteration's rank is read TWICE (contrib
    // + dangling mass), so it is cached — and since round 15, MATERIALIZED
    // eagerly (count() = the web-scale per-iteration checkpoint) so the
    // superseded predecessor can be unpersisted immediately instead of
    // accumulating one cached frame per iteration. The last checkpoint
    // stays cached (the returned plan reads it) and is Scratch-registered.
    var checkpoint: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val prev =
        if (hasDangling) {
          val p = rank.cache()
          p.count(): Unit
          checkpoint.foreach(_.unpersist())
          checkpoint = Some(p)
          p
        } else rank
      // mass arriving over edges: contribution = pr/deg, one IEEE divide
      val contrib = e
        .join(prev.select(col("node").as("src"), col("pr")), "src")
        .select(col("dst").as("node"),
          (col("pr") / col("deg").cast("double")).as("c"))
        .groupBy("node")
        .agg(dsum(col("c"), scale + 3).as("m"))
      val next = nodesN.join(contrib, Seq("node"), "left")
      rank =
        if (hasDangling) {
          val dangling = broadcast(prev
            .join(e.select(col("src").as("node")), Seq("node"), "left_anti")
            .agg(coalesce(dsum(col("pr"), scale + 3), lit(0.0)).as("dm")))
          next.crossJoin(dangling)
            .select(col("node"),
              round(lit(1.0 - d) / col("n") +
                lit(d) * (coalesce(col("m"), lit(0.0)) + col("dm") / col("n")),
                scale).as("pr"))
        } else {
          next.select(col("node"),
            round(lit(1.0 - d) / col("n") +
              lit(d) * coalesce(col("m"), lit(0.0)),
              scale).as("pr"))
        }
    }
    checkpoint.foreach(Scratch.register)
    rank
  }

  /** HyperBall harmonic centrality (Boldi & Vigna, "In-Core Computation
    * of Geometric Centralities with HyperBall", 2013) — the algorithm
    * behind the published per-crawl harmonic-centrality rankings
    * curation pipelines use as a source-quality prior. Each node keeps
    * a HyperLogLog counter of its IN-ball B(v,t) = {u : d(u,v) ≤ t};
    * one iteration pushes every counter across its out-edges and
    * max-merges (register max is commutative/idempotent — merge order,
    * retries, and duplicate edges cannot change a register), and
    * harmonic centrality is Σ_t (|B(v,t)|−|B(v,t−1)|)/t over the
    * estimated ball sizes, deltas clamped at 0 (the standard HyperBall
    * guard for estimator regime switches).
    *
    * Deterministic end-to-end — the engine's [[graft.operators.Sketches]]
    * HLL: md5-derived buckets/rhos, integer register maxima, the
    * integer-exact estimator, estimates rounded to 4 dp, and the final
    * harmonic combination evaluated as ONE exact integer expression over
    * 10^4-scaled estimates followed by a single IEEE divide (no rounding
    * of the result — Δ/2 of 4-dp values lands exactly on 4-dp midpoints,
    * where decimal-HALF_UP and binary-double round() disagree across
    * engines) — so a SQL oracle replays every register, every estimate,
    * and the centrality itself bit-for-bit, unlike the seeded-random
    * HLLs HyperBall normally runs on.
    *
    * 100 TB design: state is the (node, bucket, reg) register table —
    * ≤ 4096 rows per node regardless of graph size (HyperBall's
    * documented memory shape, here as a shuffle-friendly relation).
    * Each iteration is one equi-join of registers with edges on src
    * plus one (node, bucket) max-aggregation with map-side partials.
    * HyperBall is inherently ITERATIVE, so each round's register table
    * materializes as a cached checkpoint (one job per round — the
    * minimum the algorithm admits); every OTHER step is folded into a
    * SINGLE final job: the round snapshots union with a round tag, one
    * (node, round)-keyed estimator pass, one max(when) pivot back to a
    * node row, and the exact harmonic combine — maxT+2 jobs total,
    * not 2·maxT+3 (the per-round estimate-snapshot variant measured
    * 16 s vs ~8 s at sf0.1: per-JOB overhead dominates at these state
    * sizes). The snapshots all persist until that final job (peak ≈ 2×
    * the final table; a memory-bound web-scale run would instead take
    * the estimate per round and retire superseded tables immediately —
    * one extra job per round).
    *
    * Cache contract: the RESULT is returned cached and materialized
    * (one (node, ball_est, harmonic) frame, [[graft.util.Scratch]]-
    * registered); every internal cache is released before return.
    * Evicting/releasing the result is safe — the lineage below it is
    * deterministic (register maxima, integer-exact estimates).
    */
  def harmonicCentrality(edges: DataFrame, maxT: Int = 3): DataFrame = {
    import graft.util.Scratch
    val e = edges.select(col("src"), col("dst")).cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    def snapshot(df: DataFrame): DataFrame = {
      val c = df.cache(); c.count(): Unit; c
    }
    // B(v,0) = {v}: one register row per node
    var regs = snapshot(Sketches.hllRegistersPacked(nodes, col("node"),
        call_function("hll_bucket_rho", col("node").cast("string")))
      .withColumnRenamed("grp", "node"))
    var rounds = Vector(regs)
    for (_ <- 1 to maxT) {
      // push counters across edges into their heads' in-balls, then
      // max-merge (register max is order-free and duplicate-safe)
      val pulled = e
        .join(regs.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("bucket"), col("reg"))
      regs = snapshot(regs.unionByName(pulled)
        .groupBy("node", "bucket").agg(max(col("reg")).as("reg")))
      rounds = rounds :+ regs
    }
    // ONE estimator pass over all round snapshots: (node, t) is the
    // sketch group key, then pivot the per-round estimates back onto a
    // node row with max(when) (each (node, t) group is a singleton, so
    // the pivot is exact).
    val tagged = rounds.zipWithIndex
      .map { case (r, t) => r.withColumn("t", lit(t)) }
      .reduce(_.unionByName(_))
    val perRound = Sketches.hllEstimate(
        tagged.select(struct(col("node"), col("t")).as("grp"),
          col("bucket"), col("reg")))
      .select(col("grp.node").as("node"), col("grp.t").as("t"),
        col("hll_est"))
    // harmonic = Σ_t max(Δest_t, 0)/t — but NOT as float divides + a
    // final round: Δ/2 of 4-dp estimates lands EXACTLY on 4-dp midpoints
    // (e.g. 42.49005), where Spark's decimal HALF_UP and a binary-double
    // round() disagree. Instead: lift the (4-dp-exact) estimates to
    // integers ×10^4, combine with lcm(1..maxT) integer weights, and do
    // ONE IEEE divide by (lcm·10^4) at the end — the same rational
    // number, computed exactly, bit-identical on any engine with no
    // rounding step at all.
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to maxT.toLong).reduce((a, b) => a / gcd(a, b) * b)
    val lifted = (0 to maxT).map(t =>
      max(when(col("t") === t,
        round(col("hll_est") * lit(10000.0)).cast("long"))).as(s"i$t"))
    val pivoted = perRound.groupBy("node")
      .agg(max(when(col("t") === maxT, col("hll_est"))).as("ball_est"),
        lifted: _*)
    val hs = (1 to maxT)
      .map(t => lit(lcm / t) * greatest(col(s"i$t") - col(s"i${t - 1}"), lit(0L)))
      .reduce(_ + _)
    val out = pivoted.select(col("node"), col("ball_est"),
      (hs.cast("double") / lit(lcm * 10000.0)).as("harmonic")).cache()
    out.count(): Unit
    rounds.foreach(_.unpersist())
    e.unpersist()
    Scratch.register(out)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the same graphs: cluster a crawl's domain/kNN graph
    * into communities for per-community curation quotas or domain
    * grouping. Deterministic variant so the fixed point replays: the
    * graph is SYMMETRIZED (LPA communities are an undirected notion),
    * every node starts as its own label, and each of the `iterations`
    * synchronous rounds re-labels every node with the label most
    * frequent among its neighbors, ties to the SMALLEST label (the
    * classic async/random-order LPA is non-deterministic by design;
    * fixing sync order + min tie-break trades a little convergence
    * speed for bit-reproducibility, the engine-wide parity pattern).
    * All-integer arithmetic — counts and ids — so a SQL oracle replays
    * every round exactly.
    *
    * Scale shape: a fixed iteration count unrolls into ONE lazy plan;
    * each round is one (labels ⋈ edges) shuffle on dst plus a two-level
    * count/argmax groupBy on node (map-side partials), and each round
    * references its predecessor exactly once, so the plan grows
    * linearly. The symmetrized edge list is cached once
    * (Scratch-registered — the caller releases it) and every round
    * reuses it.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    import graft.util.Scratch
    val sym = Scratch.cached(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      labels = sym
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
    }
    labels
  }
}
