package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{Tables => T}

/** Similarity-search pack (SURVEY C11) over the `embeddings` table.
  * Brute-force top-k carries a full DuckDB oracle (identical
  * double-precision, element-order-sequential arithmetic on both sides);
  * the IVF scale path is rows-only checked here and recall-tested against
  * brute force in SimilaritySpec.
  */
object SimilarityPack extends QueryPack {

  /** Cosine between two list columns as DuckDB SQL — same
    * double-precision, element-order-sequential arithmetic as
    * [[Similarity.cosine]].
    */
  private[queries] def cosSql(a: String, b: String) =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       | * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))""".stripMargin

  private val CosineSql = cosSql("q.qvec", "c.embedding")

  /** Centroid mean as exact decimal sum / count — the DuckDB spelling of
    * [[graft.functions.Exact.davg]] (scale 15), so the engine's
    * partitioning-independent means and the oracle's sequential ones are
    * the SAME number, not merely within the 6-dp rounding margin.
    */
  private val ExactMeanSql =
    "CAST(SUM(CAST(CAST(e.embedding[idx.i] AS DOUBLE) AS DECIMAL(38,15))) AS DOUBLE) / count(*)"

  /** The FULL kmeansFit(k=8, iters=2) fixed-point replay over relation
    * `src` (vec_id, embedding) as a CTE chain ending in `af(vec_id, cell)`
    * (final assignment) and `c2(cell, centroid)` (final 6-dp centroids).
    * Defines `idx`; embed as s"WITH ${kmeansReplayCtes(src)}, ...". Shared
    * by the sim_kmeans_fit gate and SamplePack's curation v4 capstone.
    */
  private[queries] def kmeansReplayCtes(src: String): String = {
    def score(c: String) =
      s"""list_sum(list_transform(list_zip(e.embedding, $c.centroid),
         |               p -> CAST(p[1] AS DOUBLE) * p[2]))
         |           - list_sum(list_transform($c.centroid, x -> x*x)) / 2""".stripMargin
    def iter(prev: String, cur: String) =
      s"""a$cur AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY ${score("c")} DESC, c.cell) AS rn
         |    FROM $src e CROSS JOIN c$prev c) t
         |  WHERE rn = 1
         |), m$cur AS (
         |  SELECT a.cell, idx.i,
         |         round($ExactMeanSql, 6) AS m
         |  FROM a$cur a JOIN $src e USING (vec_id) CROSS JOIN idx
         |  GROUP BY 1, 2
         |), c$cur AS (
         |  SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM c$prev p LEFT JOIN (
         |    SELECT cell, list(m ORDER BY i) AS centroid
         |    FROM m$cur GROUP BY cell) n USING (cell)
         |)""".stripMargin
    s"""idx AS (SELECT unnest(range(1, 65)) AS i),
       |ranked AS (
       |  SELECT vec_id, embedding,
       |         row_number() OVER (
       |           ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
       |                    vec_id) AS rn
       |  FROM $src
       |), c0 AS (
       |  SELECT rn - 1 AS cell,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM ranked WHERE rn <= 8
       |),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |af AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |               ORDER BY ${score("c")} DESC, c.cell) AS rn
       |    FROM $src e CROSS JOIN c2 c) t
       |  WHERE rn = 1
       |)""".stripMargin
  }

  private def queriesDf(s: org.apache.spark.sql.SparkSession, d: String) =
    T.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Exact top-10 per query — the shared oracle for the brute-force gate
    * AND the forced-exhaustive ANN regimes (IVF probing every cell, PQ
    * reranking a corpus-sized shortlist): an exhaustive ANN search is
    * exact, so the identical index/probe/rank code becomes hash-checkable.
    */
  private val TopKOracleSql =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.query_id, c.vec_id, round($CosineSql, 5) AS score
       |  FROM q CROSS JOIN embeddings c
       |  WHERE q.query_id != c.vec_id
       |)
       |SELECT query_id, rank, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, vec_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Shared hard-negative-mining fixture: probes = every 25th vector;
    * corpus = the rest PLUS each vector's dim0-zeroed mutant sitting at
    * cosine ≈ 0.9997 — which the 0.9 positive threshold MUST exclude
    * (the exclusion is load-bearing in both gates).
    */
  private def minedNegFixture(s: org.apache.spark.sql.SparkSession, d: String) = {
    val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val mutants = base.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
    val probes = base.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = base.filter(col("vec_id") % 25 =!= 0).unionByName(mutants)
    (corpus, probes)
  }

  private val MinedNegOracleSql =
    s"""WITH c AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 <> 0
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding, (x, i) ->
       |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END) AS embedding
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id % 25 = 0
       |), scored AS (
       |  SELECT q.query_id, c.vec_id, round($CosineSql, 5) AS score
       |  FROM q CROSS JOIN c
       |  WHERE q.query_id != c.vec_id
       |)
       |SELECT query_id, rank, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, vec_id) AS rank
       |  FROM scored WHERE score < 0.9) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** A DuckDB-replayable IVF index for the PRUNED-regime gate: cell =
    * the corpus' own `label`, centroid = per-label element-wise mean
    * rounded to 6 dp. k-means (a seeded driver-side sample + Lloyd
    * iterations) is exactly what a SQL oracle cannot replay — so the
    * pruned gate swaps in a quantizer the oracle CAN: same (assigned,
    * cents) contract, same probe/candidate/rank code under test, and the
    * centroid rounding puts cross-engine mean noise (~1e-16) far below
    * the cell-score margins (~1e-2 on this data).
    */
  private def labelIndexOf(e: org.apache.spark.sql.DataFrame) = {
    val assigned = e.select(col("vec_id"), col("embedding"),
      col("label").as("cell"))
    val cents = e
      .select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(graft.functions.Exact.davg(col("x").cast("double"), 15).as("m"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("s"))
      .select(col("cell"), expr("transform(s, e -> round(e.m, 6))").as("centroid"))
    (assigned, cents)
  }

  private def labelIndex(s: org.apache.spark.sql.SparkSession, d: String) =
    labelIndexOf(T.embeddings(s, d))

  /** Corpus-proportional, SQL-replayable quantizer for the `_sized`
    * twins (r19, verdict r18 task 6): ncells follows the PRODUCTION
    * sizing rule ([[Similarity.cellsFor]] — cells ∝ corpus, ~500
    * vectors/cell), realized by splitting each label into
    * S = ⌈ncells / nlabels⌉ sub-cells on the vec_id residue:
    * cell = label·S + vec_id % S, centroid = per-cell 6-dp-rounded
    * exact mean. At the driver's gated scales S = 1 (the label
    * quantizer exactly — proven parity regime); at sf1+ the cell count
    * grows with the corpus so the within-cell pair space stays bounded
    * (the fixed-k gates' documented super-linearity is exactly what
    * this sizing removes), and the oracle still replays assignment and
    * centroids verbatim — no prose disclaimer needed.
    */
  private def sizedLabelIndex(s: org.apache.spark.sql.SparkSession,
      d: String) = {
    val e = T.embeddings(s, d)
    val n = e.count()
    val nl = e.select(countDistinct(col("label"))).head().getLong(0)
    val ncells = Similarity.cellsFor(n).toLong
    val sp = math.max(1L, (ncells + nl - 1) / nl)
    val withCell = e.select(col("vec_id"), col("embedding"),
      (col("label").cast("long") * sp + col("vec_id") % sp).as("cell"))
    val cents = withCell
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(graft.functions.Exact.davg(col("x").cast("double"), 15).as("m"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("s"))
      .select(col("cell"), expr("transform(s, e -> round(e.m, 6))").as("centroid"))
    (withCell, cents)
  }

  /** The sized quantizer's oracle CTE chain: `sp(s)` = the sub-cell
    * split factor (integer arithmetic spelled exactly like the engine:
    * ncells = greatest(8, n // 500), S = (ncells + nl - 1) // nl),
    * `e(vec_id, embedding, cell)` the assignment, `centv` the rounded
    * centroids, `pc` each query's nprobe=2 probe choice, `scored` the
    * cell-restricted scoring — shared by both `_sized` gates.
    */
  private def sizedCteSql(qSql: String): String =
    s"""sp AS (
       |  SELECT greatest(1,
       |           (greatest(8, count(*) // 500) + count(DISTINCT label) - 1)
       |           // count(DISTINCT label)) AS s
       |  FROM embeddings
       |), e AS (
       |  SELECT vec_id, embedding,
       |         CAST(label AS BIGINT) * sp.s + vec_id % sp.s AS cell
       |  FROM embeddings CROSS JOIN sp
       |), idx AS (SELECT unnest(range(1, 65)) AS i),
       |cent AS (
       |  SELECT e.cell, idx.i,
       |         round($ExactMeanSql, 6) AS m
       |  FROM e CROSS JOIN idx GROUP BY 1, 2
       |), centv AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
       |), q AS (
       |  $qSql
       |), pc AS (
       |  SELECT query_id, qvec, cell FROM (
       |    SELECT q.query_id, q.qvec, v.cell,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
       |                                       v.cell) AS crank
       |    FROM q CROSS JOIN centv v) t
       |  WHERE crank <= 2
       |), scored AS (
       |  SELECT pc.query_id, c.vec_id,
       |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
       |  FROM pc JOIN e c ON c.cell = pc.cell
       |  WHERE pc.query_id != c.vec_id
       |)""".stripMargin

  /** Grown-IVF-index probe shared by sim_ivf_append and sim_ivf_compact:
    * a half-corpus label index grows by the other half under its FROZEN
    * centroids, then answers a pruned nprobe=2 query; a correctly grown
    * (and, for the compact gate, correctly rewritten) index equals the
    * oracle's replay of the centroids, every appended assignment, the
    * probe choice and the cell-restricted scoring — both gates share
    * [[IvfGrownOracle]] verbatim.
    */
  private def ivfGrownProbe(fixtureKey: String)(
      build: (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.DataFrame, String) => Unit)
    : (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
    (s, d) => {
      val emb = T.embeddings(s, d)
      val path = graft.util.TempFixtures.dir(s, fixtureKey, d) { p =>
        build(s, emb, p)
      }
      Similarity.topKIvf(emb.select(col("vec_id"), col("embedding")),
          queriesDf(s, d), 10, nprobe = 2,
          index = Some(Similarity.readIvfIndex(s, path)))
        .orderBy("query_id", "rank")
    }

  private val IvfGrownOracle: String =
    s"""WITH h1 AS (
           |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 2 = 0
           |), idx AS (SELECT unnest(range(1, 65)) AS i),
           |cent AS (
           |  SELECT e.label AS cell, idx.i,
           |         round($ExactMeanSql, 6) AS m
           |  FROM h1 e CROSS JOIN idx GROUP BY 1, 2
           |), centv AS (
           |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
           |), a2 AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(list_zip(e.embedding, c.centroid),
           |                 p -> CAST(p[1] AS DOUBLE) * p[2]))
           |          - list_sum(list_transform(c.centroid, x -> x*x)) / 2 DESC,
           |        c.cell) AS rn
           |    FROM embeddings e CROSS JOIN centv c WHERE e.vec_id % 2 = 1) t
           |  WHERE rn = 1
           |), celled AS (
           |  SELECT vec_id, embedding, label AS cell FROM h1
           |  UNION ALL
           |  SELECT e.vec_id, e.embedding, a2.cell
           |  FROM embeddings e JOIN a2 USING (vec_id)
           |), q AS (
           |  SELECT vec_id AS query_id, embedding AS qvec
           |  FROM embeddings WHERE vec_id < 10
           |), pc AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.query_id, q.qvec, v.cell,
           |           row_number() OVER (PARTITION BY q.query_id
           |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
           |                                       v.cell) AS crank
           |    FROM q CROSS JOIN centv v) t
           |  WHERE crank <= 2
           |), scored AS (
           |  SELECT pc.query_id, c.vec_id,
           |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
           |  FROM pc JOIN celled c ON c.cell = pc.cell
           |  WHERE pc.query_id != c.vec_id
           |)
           |SELECT query_id, rank, vec_id, score FROM (
           |  SELECT query_id, vec_id, score,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY score DESC, vec_id) AS rank
           |  FROM scored) t
           |WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin

  /** dedup_semdedup's fixture (corpus ∪ dim0-zeroed mutants through the
    * label quantizer) at the given block count — shared by the plain
    * gate (nBlocks = 1) and the hot-cell regime gate (nBlocks = 4),
    * which must produce the IDENTICAL frame (block invariance), so both
    * run against [[SemDeDupOracle]] verbatim.
    */
  private def semDeDupQuery(nBlocks: Int): (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame =
    (s, d) => {
      val base = T.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val mutants = base.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"),
        col("label"))
      val corpus = base.unionByName(mutants)
      Similarity.semDeDup(corpus, 0.9, index = Some(labelIndexOf(corpus)),
          nBlocks = nBlocks)
        .orderBy("vec_id")
    }

  private val SemDeDupOracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding, (x, i) ->
       |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END) AS embedding,
       |         label
       |  FROM embeddings
       |), idx AS (SELECT unnest(range(1, 65)) AS i),
       |cent AS (
       |  SELECT e.label AS cell, idx.i,
       |         round($ExactMeanSql, 6) AS m
       |  FROM e CROSS JOIN idx GROUP BY 1, 2
       |), centv AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
       |), pairs AS (
       |  SELECT a.vec_id AS da, b.vec_id AS db
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 5) >= 0.9
       |), edges AS (
       |  SELECT da AS x, db AS y FROM pairs
       |  UNION ALL SELECT db, da FROM pairs
       |), reach(id, r) AS (
       |  SELECT x, x FROM edges
       |  UNION
       |  SELECT edges.y, reach.r FROM reach JOIN edges ON edges.x = reach.id
       |), comp AS (
       |  SELECT id, min(r) AS component FROM reach GROUP BY id
       |), cs AS (
       |  SELECT e.vec_id, e.label AS cell,
       |         round(${cosSql("e.embedding", "cv.centroid")}, 5) AS cent_sim
       |  FROM e JOIN centv cv ON cv.cell = e.label
       |), lab AS (
       |  SELECT cs.vec_id, cs.cell, cs.cent_sim,
       |         coalesce(comp.component, cs.vec_id) AS component
       |  FROM cs LEFT JOIN comp ON comp.id = cs.vec_id
       |), elect AS (
       |  SELECT component, vec_id AS keeper FROM (
       |    SELECT component, vec_id,
       |           row_number() OVER (PARTITION BY component
       |                              ORDER BY cent_sim, vec_id) AS rn
       |    FROM lab) t
       |  WHERE rn = 1
       |)
       |SELECT l.vec_id, l.cell, l.cent_sim, l.component,
       |       l.vec_id = k.keeper AS keep
       |FROM lab l JOIN elect k USING (component)
       |ORDER BY vec_id""".stripMargin

  /** The pruned kNN edge set persisted once per (session, sf) — the
    * build-once/analyze-many pattern of production graph pipelines: the
    * sim_knn_graph gate IS (and times) the build through the forced
    * shuffle regime; the three graph-ANALYTICS gates (pagerank,
    * harmonic, label propagation) read the persisted edges so each
    * times its algorithm, not a redundant rebuild. Edge content is
    * bit-identical to the gate's (same operator, same index, same
    * regime), so every oracle still replays the same knn CTE.
    */
  private[queries] def knnEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val path = graft.util.TempFixtures.dir(s, "knn_edges", d) { p =>
      val corpus = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = T.embeddings(s, d)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.topKIvf(corpus, queries, 5, nprobe = 2,
          index = Some(labelIndex(s, d)), queryBroadcastCap = 0)
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** The pruned-regime oracle replays the label quantizer end-to-end:
    * per-label 6-dp-rounded centroids, each query's nprobe=2 nearest
    * cells by raw centroid cosine (margins ≥ 0.016 on this data — five
    * orders above cross-engine double noise), then scoring restricted
    * to the probed cells' members. Real pruning: 2 of 10 cells per
    * probe, ~80% of the corpus never scored.
    */
  private val MinedNegIvfPrunedOracleSql =
    s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
       |cent AS (
       |  SELECT e.label AS cell, idx.i,
       |         round($ExactMeanSql, 6) AS m
       |  FROM embeddings e CROSS JOIN idx GROUP BY 1, 2
       |), centv AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 10
       |), pc AS (
       |  SELECT query_id, qvec, cell FROM (
       |    SELECT q.query_id, q.qvec, v.cell,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
       |                                       v.cell) AS crank
       |    FROM q CROSS JOIN centv v) t
       |  WHERE crank <= 2
       |), scored AS (
       |  SELECT pc.query_id, c.vec_id,
       |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
       |  FROM pc JOIN embeddings c ON c.label = pc.cell
       |  WHERE pc.query_id != c.vec_id
       |)
       |SELECT query_id, rank, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, vec_id) AS rank
       |  FROM scored WHERE score < 0.9) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The full pruned-kNN-graph replay as a CTE chain ending in
    * `knn(query_id, rank, vec_id, score)` — shared by the kNN-graph
    * gate and the PageRank-over-kNN gate.
    */
  private[queries] val KnnCteSql =
    s"""idx AS (SELECT unnest(range(1, 65)) AS i),
       |cent AS (
       |  SELECT e.label AS cell, idx.i,
       |         round($ExactMeanSql, 6) AS m
       |  FROM embeddings e CROSS JOIN idx GROUP BY 1, 2
       |), centv AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |), pc AS (
       |  SELECT query_id, qvec, cell FROM (
       |    SELECT q.query_id, q.qvec, v.cell,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
       |                                       v.cell) AS crank
       |    FROM q CROSS JOIN centv v) t
       |  WHERE crank <= 2
       |), scored AS (
       |  SELECT pc.query_id, c.vec_id,
       |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
       |  FROM pc JOIN embeddings c ON c.label = pc.cell
       |  WHERE pc.query_id != c.vec_id
       |), knn AS (
       |  SELECT query_id, rank, vec_id, score FROM (
       |    SELECT query_id, vec_id, score,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY score DESC, vec_id) AS rank
       |    FROM scored) t
       |  WHERE rank <= 5
       |)""".stripMargin

  override val defs: Seq[QueryDef] = Seq(

    // Hard-negative mining (round 11): per probe, the top-5 most similar
    // corpus vectors BELOW the positive threshold — the contrastive-
    // training negative sampler. The fixture makes the exclusion
    // load-bearing: each probe's own dim0-zeroed mutant sits in the
    // corpus at cosine ≈ 0.9997 and MUST be excluded by the 0.9
    // threshold, never returned as a "negative". Scores round before
    // ranking so (score DESC, vec_id) is a total, engine-independent
    // order; the window idiom replans onto the native TopKPerKey heap.
    QueryDef(
      "sim_mined_negatives",
      (s, d) => {
        val (corpus, probes) = minedNegFixture(s, d)
        Similarity.minedNegatives(corpus, probes, 5, 0.9)
          .orderBy("query_id", "rank")
      },
      Some(MinedNegOracleSql)),

    // Hard-negative mining through the IVF index (round 12), in its
    // FORCED-EXHAUSTIVE regime (nprobe = ncells): the sf1 scaling sweep
    // showed the brute-force miner is quadratic when probes scale with
    // the corpus (25× wall at 10× data — sub-linear in PAIRS, but pairs
    // grow ×100), so minedNegativesIvf bounds candidates per probe to
    // its nprobe nearest cells — the FAISS "mine from the ANN shortlist"
    // shape, which is also where the hard negatives live. Exhaustive
    // probing equals the brute-force miner row-for-row, so the same SQL
    // oracle hash-checks the cell/probe/filter/rank machinery; the
    // PRUNED path's containment + score-exactness is pinned in
    // SimilaritySpec.
    QueryDef(
      "sim_mined_negatives_ivf",
      (s, d) => {
        val (corpus, probes) = minedNegFixture(s, d)
        val idx = Similarity.ivfIndexCached(s, s"minedneg:$d")(corpus)
        Similarity.minedNegativesIvf(corpus, probes, 5, 0.9, nprobe = 8,
            index = Some(idx))
          .orderBy("query_id", "rank")
      },
      Some(MinedNegOracleSql)),

    // Hard-negative mining through the IVF index, PRUNED regime
    // (round 13): nprobe = 2 of 10 cells — ~80% of the corpus is never
    // scored, which is the operator's whole point — yet still
    // hash-checked, because the quantizer is swapped for one a SQL
    // oracle can replay (cell = label, centroid = rounded per-label
    // mean; [[labelIndex]]). Same probe/candidate/filter/rank code as
    // the exhaustive gate; only the index input differs. Completes
    // C11's gate coverage: machinery (exhaustive gate) + pruning
    // (this gate) + k-means-index recall (SimilaritySpec).
    QueryDef(
      "sim_mined_negatives_ivf_pruned",
      (s, d) => {
        val corpus = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        Similarity.minedNegativesIvf(corpus, queriesDf(s, d), 5, 0.9,
            nprobe = 2, index = Some(labelIndex(s, d)))
          .orderBy("query_id", "rank")
      },
      Some(MinedNegIvfPrunedOracleSql)),

    // kNN-GRAPH build (round 13): every corpus vector queries for its
    // own 5 nearest neighbors — the contrastive-pretraining / SemDeDup /
    // cluster-prep primitive, and the exact workload the topKIvf
    // two-regime query join exists for: the query set IS the corpus, so
    // the gate FORCES the above-cap shuffle regime (queryBroadcastCap =
    // 0 — no broadcast of either join side, candidates equi-join on
    // cell), while pruning stays real (nprobe = 2 of 10 label cells,
    // ~80% of candidate pairs never scored) yet hash-checked via the
    // SQL-replayable label quantizer. Min crank-2/crank-3 centroid
    // margin across ALL 500 queries: 8.1e-05 — eleven orders above
    // cross-engine double noise.
    QueryDef(
      "sim_knn_graph",
      (s, d) => {
        val corpus = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val queries = T.embeddings(s, d)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Similarity.topKIvf(corpus, queries, 5, nprobe = 2,
            index = Some(labelIndex(s, d)), queryBroadcastCap = 0)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $KnnCteSql
              |SELECT query_id, rank, vec_id, score FROM knn
              |ORDER BY query_id, rank""".stripMargin)),

    // kNN-graph build, PRODUCTION-SIZED regime (r19, verdict r18 #6):
    // same operator/regime as sim_knn_graph (all-corpus queries, forced
    // shuffle join, nprobe=2 pruning) but the quantizer is sized by the
    // cellsFor rule — cells ∝ corpus — via the SQL-replayable sub-label
    // split, so the gated regime IS the production regime: within-cell
    // pair mass stays ~perCell·n instead of growing n²/k at fixed k. At
    // the gated scales S=1 (label quantizer — proven parity); the sf1
    // twin-vs-fixed timing evidence lives in the NOTES files.
    QueryDef(
      "sim_knn_graph_sized",
      (s, d) => {
        val corpus = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val queries = T.embeddings(s, d)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Similarity.topKIvf(corpus, queries, 5, nprobe = 2,
            index = Some(sizedLabelIndex(s, d)), queryBroadcastCap = 0)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${sizedCteSql(
                "SELECT vec_id AS query_id, embedding AS qvec FROM embeddings")}
              |SELECT query_id, rank, vec_id, score FROM (
              |  SELECT query_id, vec_id, score,
              |         row_number() OVER (PARTITION BY query_id
              |                            ORDER BY score DESC, vec_id) AS rank
              |  FROM scored) t
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Hard-negative mining, PRODUCTION-SIZED regime: probe set = the
    // whole corpus (the contrastive-pretraining shape whose sf1 sweep
    // exposed the fixed-k super-linearity) against the cellsFor-sized
    // quantizer — candidates per probe bounded by nprobe·perCell
    // regardless of corpus growth, forced shuffle regime, exclusion
    // threshold and rank machinery identical to the fixed gates.
    QueryDef(
      "sim_mined_negatives_sized",
      (s, d) => {
        val corpus = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val probes = T.embeddings(s, d)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        Similarity.minedNegativesIvf(corpus, probes, 5, 0.9, nprobe = 2,
            index = Some(sizedLabelIndex(s, d)), probeBroadcastCap = 0)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${sizedCteSql(
                "SELECT vec_id AS query_id, embedding AS qvec FROM embeddings")}
              |SELECT query_id, rank, vec_id, score FROM (
              |  SELECT query_id, vec_id, score,
              |         row_number() OVER (PARTITION BY query_id
              |                            ORDER BY score DESC, vec_id) AS rank
              |  FROM scored WHERE score < 0.9) t
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // PageRank over the kNN graph (round 13): the link-graph centrality
    // quality signal (Common Crawl publishes per-crawl PageRank/harmonic
    // rankings; curation uses them as a source prior) computed over the
    // semantic-similarity graph the previous gate builds — centrality
    // there reads as representativeness. Three damped iterations UNROLL
    // INTO ONE LAZY PLAN (each = one shuffle on src + one groupBy dst);
    // per-edge contributions are single IEEE divides, per-node sums run
    // in exact decimal, each iteration rounds to 12 dp — so the oracle
    // replays the whole fixed-point bit-for-bit on top of the same knn
    // CTE. (No dangling nodes by construction — every node is a query
    // with out-edges — so the dangling term is IEEE-identity 0.0 and
    // the oracle omits it.)
    QueryDef(
      "sim_knn_pagerank",
      (s, d) =>
        graft.operators.Graph.pageRank(knnEdges(s, d)).orderBy("node"),
      Some {
        def iter(prev: String, cur: String) =
          s"""m$cur AS (
             |  SELECT e.dst AS node,
             |         CAST(SUM(CAST(r$prev.pr / CAST(d.deg AS DOUBLE)
             |                       AS DECIMAL(38,15))) AS DOUBLE) AS m
             |  FROM r$prev JOIN deg d USING (node)
             |  JOIN edges e ON e.src = r$prev.node
             |  GROUP BY e.dst
             |), r$cur AS (
             |  SELECT n.node,
             |         round((1.0 - 0.85)/nn.n + 0.85*coalesce(m$cur.m, 0.0), 12) AS pr
             |  FROM nodes n LEFT JOIN m$cur USING (node) CROSS JOIN nn
             |)""".stripMargin
        s"""WITH $KnnCteSql,
           |edges AS (SELECT query_id AS src, vec_id AS dst FROM knn),
           |nodes AS (
           |  SELECT DISTINCT node FROM (
           |    SELECT src AS node FROM edges
           |    UNION ALL SELECT dst FROM edges)
           |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
           |r0 AS (
           |  SELECT node, round(1.0/nn.n, 12) AS pr FROM nodes CROSS JOIN nn
           |),
           |${iter("0", "1")},
           |${iter("1", "2")},
           |${iter("2", "3")}
           |SELECT node, pr FROM r3 ORDER BY node""".stripMargin
      }),

    // Label propagation communities over the kNN graph (round 15 late):
    // the third member of the per-crawl graph-signal family (PageRank
    // centrality, harmonic centrality, and now COMMUNITIES — the domain
    // grouping per-community curation quotas key on). Deterministic
    // synchronous LPA: symmetrized graph, min-label tie-break, 3
    // rounds; all-integer counts/ids, so the oracle replays every round
    // exactly on top of the same knn CTE chain. GraphSpec pins a
    // hand-computed two-triangle vector and duplicate-edge invariance.
    QueryDef(
      "graph_label_prop",
      (s, d) =>
        graft.operators.Graph.labelPropagation(knnEdges(s, d)).orderBy("node"),
      Some {
        def iter(prev: String, cur: String) =
          s"""c$cur AS (
             |  SELECT e.src AS node, lab$prev.label, count(*) AS cnt
             |  FROM uedges e JOIN lab$prev ON lab$prev.node = e.dst
             |  GROUP BY 1, 2
             |), lab$cur AS (
             |  SELECT node, label FROM (
             |    SELECT node, label,
             |           row_number() OVER (PARTITION BY node
             |                              ORDER BY cnt DESC, label) AS rn
             |    FROM c$cur) t
             |  WHERE rn = 1
             |)""".stripMargin
        s"""WITH $KnnCteSql,
           |de AS (SELECT query_id AS src, vec_id AS dst FROM knn),
           |uedges AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM de
           |    UNION ALL SELECT dst AS src, src AS dst FROM de)
           |),
           |lab0 AS (SELECT DISTINCT src AS node, src AS label FROM uedges),
           |${iter("0", "1")},
           |${iter("1", "2")},
           |${iter("2", "3")}
           |SELECT node, label FROM lab3 ORDER BY node""".stripMargin
      }),

    // HyperBall harmonic centrality over the kNN graph (round 15) — the
    // OTHER published per-crawl source-quality prior (Common Crawl ships
    // harmonic-centrality rankings alongside PageRank; Boldi & Vigna
    // 2013). Each node carries a deterministic-HLL counter of its
    // in-ball; one round = push registers across edges + max-merge
    // (order-free, duplicate-safe); harmonic = Σ_t Δball(t)/t over the
    // estimates. Hash-checked END TO END because the engine's HLL is the
    // SQL-replayable one (md5 buckets, hex-digit rho, integer-exact
    // estimator — the text_hll_vocab pattern): the oracle replays every
    // register of every round and every estimate bit-for-bit on top of
    // the same knn CTE, and the centrality itself is the exact rational
    // (Σ lcm/t·Δ)/(lcm·10^4) over integer-lifted estimates — one IEEE
    // divide, no cross-engine rounding hazard (Δ/2 of 4-dp values lands
    // exactly on 4-dp midpoints; a round() there flipped 6/500 rows).
    QueryDef(
      "graph_harmonic",
      (s, d) =>
        graft.operators.Graph.harmonicCentrality(knnEdges(s, d), maxT = 3)
          .orderBy("node"),
      Some {
        // the alpha·m²·2^49 constant chain, spelled as in text_hll_vocab
        val c = "(0.7213/(1.0 + 1.079/4096.0)*4096.0*4096.0*562949953421312.0)"
        // integer-exact estimator over a (node, bucket, reg) register CTE
        def est(regs: String, out: String) =
          s"""$out AS (
             |  SELECT node,
             |    round(CASE WHEN $c / CAST(sprime AS DOUBLE) <= 10240.0
             |                    AND vzero > 0
             |          THEN 4096.0 * ln(4096.0 / CAST(vzero AS DOUBLE))
             |          ELSE $c / CAST(sprime AS DOUBLE) END, 4) AS est
             |  FROM (
             |    SELECT node,
             |      SUM(1::BIGINT << (49 - reg))
             |        + (4096 - count(*)) * (1::BIGINT << 49) AS sprime,
             |      4096 - count(*) AS vzero
             |    FROM $regs GROUP BY node) t
             |)""".stripMargin
        // one HyperBall round: push over edges, max-merge registers
        def ball(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT node, bucket, max(reg) AS reg FROM (
             |    SELECT node, bucket, reg FROM $prev
             |    UNION ALL
             |    SELECT e.dst AS node, r.bucket, r.reg
             |    FROM $prev r JOIN gedges e ON e.src = r.node
             |  ) u GROUP BY node, bucket
             |)""".stripMargin
        s"""WITH $KnnCteSql,
           |gedges AS (SELECT query_id AS src, vec_id AS dst FROM knn),
           |gnodes AS (
           |  SELECT DISTINCT node FROM (
           |    SELECT src AS node FROM gedges
           |    UNION ALL SELECT dst FROM gedges) un
           |), h0 AS (
           |  SELECT node, md5(CAST(node AS VARCHAR)) AS hex FROM gnodes
           |), rd0 AS (
           |  SELECT node,
           |    CAST(('0x' || substr(hex, 1, 3)) AS BIGINT) AS bucket,
           |    length(regexp_extract(substr(hex, 4, 12), '^0*', 0)) AS z0,
           |    substr(substr(hex, 4, 12),
           |      length(regexp_extract(substr(hex, 4, 12), '^0*', 0)) + 1, 1) AS fnz
           |  FROM h0
           |), regs0 AS (
           |  SELECT node, bucket,
           |    max(z0*4 + CASE WHEN fnz = '' THEN 0
           |          WHEN fnz = '1' THEN 3
           |          WHEN fnz IN ('2','3') THEN 2
           |          WHEN fnz IN ('4','5','6','7') THEN 1
           |          ELSE 0 END + 1) AS reg
           |  FROM rd0 GROUP BY node, bucket
           |),
           |${ball("regs0", "regs1")},
           |${ball("regs1", "regs2")},
           |${ball("regs2", "regs3")},
           |${est("regs0", "est0")},
           |${est("regs1", "est1")},
           |${est("regs2", "est2")},
           |${est("regs3", "est3")},
           |ei AS (
           |  SELECT e0.node, e3.est AS ball_est,
           |    CAST(round(e0.est*10000.0) AS BIGINT) AS i0,
           |    CAST(round(e1.est*10000.0) AS BIGINT) AS i1,
           |    CAST(round(e2.est*10000.0) AS BIGINT) AS i2,
           |    CAST(round(e3.est*10000.0) AS BIGINT) AS i3
           |  FROM est0 e0 JOIN est1 e1 USING (node) JOIN est2 e2 USING (node)
           |  JOIN est3 e3 USING (node)
           |)
           |SELECT node, ball_est,
           |  (6*greatest(i1 - i0, 0) + 3*greatest(i2 - i1, 0)
           |   + 2*greatest(i3 - i2, 0)) / 60000.0 AS harmonic
           |FROM ei
           |ORDER BY node""".stripMargin
      }),

    // IVF index MAINTENANCE (round 15): append new vectors to a
    // PERSISTED index without refitting — the production path when new
    // crawl segments arrive (quantizer frozen, new rows land as appended
    // files under their cell= partitions, nothing existing rewritten).
    // The fixture persists a label-quantizer index over the EVEN half of
    // the corpus, appends the ODD half through the frozen centroids
    // (the exact argmin-distance assignment arithmetic — 6-dp-rounded
    // centroids make it bit-replayable), then runs a PRUNED nprobe=2
    // query through the loaded index: the oracle replays the half-corpus
    // centroids, the appended assignments, the probe choice, and the
    // cell-restricted scoring. Labels are 0..9 contiguous, so
    // centroid-array position == label value and the two halves' cell
    // ids agree by construction.
    QueryDef(
      "sim_ivf_append",
      ivfGrownProbe("ivf_append") { (s, emb, p) =>
        Similarity.writeIvfIndex(
          labelIndexOf(emb.filter(col("vec_id") % 2 === 0)), p)
        Similarity.appendToIvfIndex(
          emb.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id"), col("embedding")), p)
      },
      Some(IvfGrownOracle)),

    // IVF index COMPACTION (round 16): the ANN mirror of
    // dedup_lsh_compact — two exactly-once committed appends
    // (appendToIvfIndexCommitted: CommittedAppend's marker +
    // deterministic staging + clear-then-promote promotion, so a blind retry
    // cannot double-score the batch in every probe) leave one file per
    // batch in each cell= partition; compactIvfIndex rewrites each cell
    // into one vec_id-sorted file via a staged write + crash-recoverable
    // generation swap. Probe results must be IDENTICAL on the compacted
    // layout, so this gate shares sim_ivf_append's oracle verbatim.
    QueryDef(
      "sim_ivf_compact",
      ivfGrownProbe("ivf_compact") { (s, emb, p) =>
        Similarity.writeIvfIndex(
          labelIndexOf(emb.filter(col("vec_id") % 2 === 0)), p)
        val odd = emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding"))
        Similarity.appendToIvfIndexCommitted(s, p,
          odd.filter(col("vec_id") < 250), batchId = 1L): Unit
        Similarity.appendToIvfIndexCommitted(s, p,
          odd.filter(col("vec_id") >= 250), batchId = 2L): Unit
        Similarity.compactIvfIndex(s, p)
      },
      Some(IvfGrownOracle)),

    // IVF centroid REFIT (round 17): the maintenance gap frozen-centroid
    // appends leave open — after N appended segments the quantizer has
    // drifted, and refitIvfIndex re-fits kmeansFit over the GROWN corpus,
    // reassigns every vector, and swaps BOTH generations (cells +
    // centroids) crash-recoverably. The fixture grows a half-corpus
    // label index by the other half under frozen centroids (exactly
    // sim_ivf_append's drift setup), then refits with k=8; because
    // kmeansFit's whole fixed-point is SQL-replayable (seeding by md5
    // order, argmax dot − ‖c‖²/2 assignment, exact-decimal means rounded
    // to 6 dp — the sim_kmeans_fit CTes verbatim), the oracle replays
    // the refit ON THE UNION and the pruned nprobe=2 probe through the
    // refit centroids end to end: a refit that forgot appended rows,
    // kept stale centroids, or tore between the two swaps all fail the
    // hash. Refit == fresh-build equivalence and the planted-drift
    // probe-cost win are pinned in SimilaritySpec.
    QueryDef(
      "sim_ivf_refit",
      ivfGrownProbe("ivf_refit") { (s, emb, p) =>
        Similarity.writeIvfIndex(
          labelIndexOf(emb.filter(col("vec_id") % 2 === 0)), p)
        Similarity.appendToIvfIndexCommitted(s, p,
          emb.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id"), col("embedding")), batchId = 1L): Unit
        Similarity.refitIvfIndex(s, p, ncells = 8, iters = 2)
      },
      Some(s"""WITH ${kmeansReplayCtes("embeddings")},
              |celled AS (
              |  SELECT e.vec_id, e.embedding, af.cell
              |  FROM embeddings e JOIN af USING (vec_id)
              |), q AS (
              |  SELECT vec_id AS query_id, embedding AS qvec
              |  FROM embeddings WHERE vec_id < 10
              |), pc AS (
              |  SELECT query_id, qvec, cell FROM (
              |    SELECT q.query_id, q.qvec, v.cell,
              |           row_number() OVER (PARTITION BY q.query_id
              |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
              |                                       v.cell) AS crank
              |    FROM q CROSS JOIN c2 v) t
              |  WHERE crank <= 2
              |), scored AS (
              |  SELECT pc.query_id, c.vec_id,
              |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
              |  FROM pc JOIN celled c ON c.cell = pc.cell
              |  WHERE pc.query_id != c.vec_id
              |)
              |SELECT query_id, rank, vec_id, score FROM (
              |  SELECT query_id, vec_id, score,
              |         row_number() OVER (PARTITION BY query_id
              |                            ORDER BY score DESC, vec_id) AS rank
              |  FROM scored) t
              |WHERE rank <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // REFIT-UNDER-INGEST (round 18, verdict r17 #1): the refit a 24/7
    // deployment actually runs — the quantizer re-fits against a FILE
    // SNAPSHOT of the index while committed appends keep landing; at
    // swap time a short maintenance fence blocks new promotions, the
    // delta (batches that committed during the fit) is re-assigned
    // under the NEW centroids in one bounded job, and both generations
    // swap. The fixture starts from the even half, then two committed
    // appends (the odd quarters) land AFTER the fit staged — exactly
    // the interleaving assertNoInflight used to forbid. The oracle
    // replays kmeansFit on the SNAPSHOT (the even half — appends must
    // NOT leak into the fit) and assigns the WHOLE union under those
    // centroids: a refit that lost a delta batch, let the delta leak
    // into the fit, or probed new cells with old centroids all fail the
    // hash.
    QueryDef(
      "sim_ivf_refit_live",
      ivfGrownProbe("ivf_refit_live") { (s, emb, p) =>
        Similarity.writeIvfIndex(
          labelIndexOf(emb.filter(col("vec_id") % 2 === 0)), p)
        Similarity.refitIvfIndexLive(s, p, ncells = 8, iters = 2,
          afterFit = () => {
            Similarity.appendToIvfIndexCommitted(s, p,
              emb.filter(col("vec_id") % 4 === 1)
                .select(col("vec_id"), col("embedding")), batchId = 21L): Unit
            Similarity.appendToIvfIndexCommitted(s, p,
              emb.filter(col("vec_id") % 4 === 3)
                .select(col("vec_id"), col("embedding")), batchId = 22L): Unit
          })
      },
      Some {
        val score =
          s"""list_sum(list_transform(list_zip(e.embedding, c.centroid),
             |               p -> CAST(p[1] AS DOUBLE) * p[2]))
             |           - list_sum(list_transform(c.centroid, x -> x*x)) / 2""".stripMargin
        s"""WITH snap AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
           |), ${kmeansReplayCtes("snap")},
           |afall AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |           row_number() OVER (PARTITION BY e.vec_id
           |               ORDER BY $score DESC, c.cell) AS rn
           |    FROM embeddings e CROSS JOIN c2 c) t
           |  WHERE rn = 1
           |), celled AS (
           |  SELECT e.vec_id, e.embedding, a.cell
           |  FROM embeddings e JOIN afall a USING (vec_id)
           |), q AS (
           |  SELECT vec_id AS query_id, embedding AS qvec
           |  FROM embeddings WHERE vec_id < 10
           |), pc AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.query_id, q.qvec, v.cell,
           |           row_number() OVER (PARTITION BY q.query_id
           |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
           |                                       v.cell) AS crank
           |    FROM q CROSS JOIN c2 v) t
           |  WHERE crank <= 2
           |), scored AS (
           |  SELECT pc.query_id, c.vec_id,
           |         round(${cosSql("pc.qvec", "c.embedding")}, 5) AS score
           |  FROM pc JOIN celled c ON c.cell = pc.cell
           |  WHERE pc.query_id != c.vec_id
           |)
           |SELECT query_id, rank, vec_id, score FROM (
           |  SELECT query_id, vec_id, score,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY score DESC, vec_id) AS rank
           |  FROM scored) t
           |WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin
      }),

    // Streaming dense-index ingest (round 16): the ANN face of the
    // crawl-ingest loop — embedding segments ARRIVE as parquet files
    // (no text round-trip of floats) and each micro-batch joins the
    // persisted IVF index under its frozen centroids through the
    // exactly-once committed append, so probes see new segments
    // immediately and a replayed batch can never double-score. The REAL
    // foreachBatch stream (FilePipelines.ivfIngestStream) runs inside
    // the fixture over two ordered segments; appends under frozen
    // centroids commute with one big append, so the gate shares
    // sim_ivf_append's oracle verbatim.
    QueryDef(
      "stream_ivf_append",
      ivfGrownProbe("ivf_stream") { (s, emb, p) =>
        Similarity.writeIvfIndex(
          labelIndexOf(emb.filter(col("vec_id") % 2 === 0)), p)
        val odd = emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding"))
        landSegments(Seq(odd.filter(col("vec_id") < 250),
          odd.filter(col("vec_id") >= 250)), p, "parquet")
        graft.streaming.FilePipelines.ivfIngestStream(s, s"$p/in", p,
          s"$p/ckpt").awaitTermination()
      },
      Some(IvfGrownOracle)),


    // Streaming SEMANTIC admission (round 17): the dense-embedding twin
    // of stream_incremental_ingest — SemDeDup's decision made ONLINE.
    // Embedding segments arrive; each micro-batch probes the persisted
    // IVF index (frozen label centroids, nprobe=2 cosine-nearest cells)
    // for its best cosine against everything admitted BEFORE it, gets
    // (best_cos, near_dup, admit) verdicts at threshold 0.9 (the
    // semDeDup default — dim0-zeroed mutants range ~0.989–0.9997 while
    // the fixture's max natural cross-pair is ~0.46), and its
    // admitted vectors join the index exactly-once so the next segment
    // probes them (FilePipelines.semanticAdmissionStream). The oracle
    // replays the SEQUENTIAL growth: seg-0 verdicts against the
    // half-corpus index, admitted seg-0 vectors assigned under the
    // frozen centroids (the sim_ivf_append a2 arithmetic), then seg-1
    // probed against history ∪ admitted(0). Planted outcomes
    // load-bearing: seg-1 mutants of seg-0 vectors can only read near
    // IF batch 0's committed append landed (measured at sf0.01:
    // 23/25 fire; the misses are genuine nprobe=2 pruning recall —
    // the mutant's two cosine-nearest cells not containing the
    // source's euclid-assigned cell — which the oracle replays
    // exactly, THE approximate-by-construction trade every IVF gate
    // documents); history mutants 17/25 for the same reason; fresh
    // vectors admit 250/250. Stream == batch and replay idempotence
    // pinned in FilePipelineSpec.
    QueryDef(
      "stream_semantic_admission",
      (s, d) => {
        val out = graft.util.TempFixtures.dir(s, "sem_admission", d) { path =>
          val base = T.embeddings(s, d)
          Similarity.writeIvfIndex(
            labelIndexOf(base.filter(col("vec_id") % 2 === 0)),
            s"$path/idx")
          val odd = base.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id"), col("embedding"))
          def mutants(src: org.apache.spark.sql.DataFrame, off: Long) =
            src.select((col("vec_id") + off).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
          val seg0 = odd.filter(col("vec_id") < 250)
          val seg1 = odd.filter(col("vec_id") >= 250)
            .unionByName(mutants(odd.filter(col("vec_id") < 50), 1000000L))
            .unionByName(mutants(
              base.filter(col("vec_id") % 2 === 0 && col("vec_id") < 50)
                .select(col("vec_id"), col("embedding")), 2000000L))
          landSegments(Seq(seg0, seg1), path, "parquet")
          graft.streaming.FilePipelines.semanticAdmissionStream(s,
            s"$path/in", s"$path/idx", s"$path/out", s"$path/ckpt")
            .awaitTermination()
        }
        s.read.parquet(s"$out/out")
          .select(col("vec_id"), col("batch").cast("long").as("seg"),
            col("best_cos"), col("near_dup"), col("admit"))
          .orderBy("vec_id")
      },
      Some {
        def probe(qrel: String, crel: String) =
          s"""SELECT q.vec_id, max(round(${cosSql("q.embedding", s"$crel.embedding")}, 6)) AS best_cos
             |  FROM (SELECT query_id AS vec_id, qvec AS embedding, cell
             |        FROM (SELECT q.vec_id AS query_id, q.embedding AS qvec, v.cell,
             |                     row_number() OVER (PARTITION BY q.vec_id
             |                        ORDER BY ${cosSql("q.embedding", "v.centroid")} DESC,
             |                                 v.cell) AS crank
             |              FROM $qrel q CROSS JOIN centv v) t
             |        WHERE crank <= 2) q
             |  JOIN $crel ON $crel.cell = q.cell
             |  GROUP BY q.vec_id""".stripMargin
        s"""WITH h1 AS (
           |  SELECT vec_id, embedding, label AS cell FROM embeddings
           |  WHERE vec_id % 2 = 0
           |), idx AS (SELECT unnest(range(1, 65)) AS i),
           |cent AS (
           |  SELECT e.label AS cell, idx.i, round($ExactMeanSql, 6) AS m
           |  FROM (SELECT vec_id, embedding, label FROM embeddings
           |        WHERE vec_id % 2 = 0) e
           |  CROSS JOIN idx GROUP BY 1, 2
           |), centv AS (
           |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
           |), s0 AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id % 2 = 1 AND vec_id < 250
           |), s1 AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id % 2 = 1 AND vec_id >= 250
           |  UNION ALL
           |  SELECT vec_id + 1000000,
           |         list_transform(embedding, (x, i) ->
           |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END)
           |  FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 50
           |  UNION ALL
           |  SELECT vec_id + 2000000,
           |         list_transform(embedding, (x, i) ->
           |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END)
           |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 50
           |), v0 AS (
           |${probe("s0", "h1")}
           |), a0 AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_sum(list_transform(list_zip(e.embedding, c.centroid),
           |                 p -> CAST(p[1] AS DOUBLE) * p[2]))
           |          - list_sum(list_transform(c.centroid, x -> x*x)) / 2 DESC,
           |        c.cell) AS rn
           |    FROM s0 e JOIN v0 USING (vec_id) CROSS JOIN centv c
           |    WHERE v0.best_cos < 0.9) t
           |  WHERE rn = 1
           |), celled1 AS (
           |  SELECT * FROM h1
           |  UNION ALL
           |  SELECT s0.vec_id, s0.embedding, a0.cell
           |  FROM s0 JOIN a0 USING (vec_id)
           |), v1 AS (
           |${probe("s1", "celled1")}
           |)
           |SELECT vec_id, seg, best_cos,
           |       best_cos >= 0.9 AS near_dup,
           |       best_cos < 0.9 AS admit
           |FROM (
           |  SELECT vec_id, CAST(0 AS BIGINT) AS seg, best_cos FROM v0
           |  UNION ALL
           |  SELECT vec_id, CAST(1 AS BIGINT), best_cos FROM v1
           |)
           |ORDER BY vec_id""".stripMargin
      }),

    // Hybrid retrieval (round 15): BM25 sparse leg + dense cosine leg
    // fused by Reciprocal Rank Fusion (Cormack et al., SIGIR'09) — the
    // default production hybrid-search shape, composed from the
    // engine's own BM25 postings join and brute-force top-k. Fully
    // hash-checked: integer leg ranks (rounded-score total orders),
    // rrf = one commutative IEEE addition of 1/(60+rank) terms, final
    // order (rrf DESC, doc_id) — the oracle replays both legs and the
    // fusion bit-for-bit. At scale the dense leg swaps to topKIvf over
    // a persisted index (same contract), the sparse leg is already a
    // broadcast-terms postings join through the native TopKPerKey heap.
    QueryDef(
      "sim_hybrid_rrf",
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val qterms = Seq(
          (0L, Seq("hash", "join", "vector")),
          (1L, Seq("scan", "filter", "batch")),
          (2L, Seq("merge", "sort", "stream")),
          (3L, Seq("window", "group", "agg")),
          (4L, Seq("spark", "query", "fast"))).toDF("query_id", "terms")
        val queries = qterms.join(
          emb.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          "query_id")
        graft.operators.Retrieval.hybridTopK(docs, emb, queries, k = 10, legK = 20)
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH qt AS (
           |  SELECT CAST(query_id AS BIGINT) AS query_id, w FROM (VALUES
           |    (0,'hash'),(0,'join'),(0,'vector'),
           |    (1,'scan'),(1,'filter'),(1,'batch'),
           |    (2,'merge'),(2,'sort'),(2,'stream'),
           |    (3,'window'),(3,'group'),(3,'agg'),
           |    (4,'spark'),(4,'query'),(4,'fast')) t(query_id, w)
           |), dl AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           |  FROM documents
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
           |), tf AS (
           |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY doc_id, w
           |), dfreq AS (
           |  SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
           |), contrib AS (
           |  SELECT t.doc_id, t.w,
           |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           |      * (t.tf * (1.2 + 1.0))
           |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
           |  FROM tf t JOIN dfreq d USING (w) JOIN dl l USING (doc_id)
           |  CROSS JOIN stats s
           |), sscore AS (
           |  SELECT qt.query_id, contrib.doc_id,
           |    round(CAST(SUM(CAST(contrib.c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
           |  FROM contrib JOIN qt USING (w)
           |  GROUP BY qt.query_id, contrib.doc_id
           |), sparse AS (
           |  SELECT query_id, doc_id, rank FROM (
           |    SELECT query_id, doc_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY score DESC, doc_id) AS rank
           |    FROM sscore) t
           |  WHERE rank <= 20
           |), q AS (
           |  SELECT vec_id AS query_id, embedding AS qvec
           |  FROM embeddings WHERE vec_id < 5
           |), dense AS (
           |  SELECT query_id, vec_id AS doc_id, rank FROM (
           |    SELECT q.query_id, c.vec_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |                         ORDER BY round($CosineSql, 5) DESC, c.vec_id) AS rank
           |    FROM q CROSS JOIN embeddings c
           |    WHERE q.query_id != c.vec_id) t
           |  WHERE rank <= 20
           |), fused AS (
           |  SELECT query_id, doc_id,
           |    coalesce(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
           |      + coalesce(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0) AS rrf
           |  FROM sparse s FULL OUTER JOIN dense d USING (query_id, doc_id)
           |)
           |SELECT query_id, rank, doc_id, rrf FROM (
           |  SELECT query_id, doc_id, rrf,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY rrf DESC, doc_id) AS rank
           |  FROM fused) t
           |WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)),

    // Hybrid retrieval, PRUNED dense leg (round 15): the SCALE shape of
    // sim_hybrid_rrf — the dense leg runs through topKIvf at nprobe=2
    // of 10 cells (~80% of the corpus never scored) and is still
    // hash-checked via the SQL-replayable label quantizer (the
    // sim_knn_graph pattern); the sparse leg and the RRF fusion are
    // identical. Together the two gates pin the operator end-to-end in
    // BOTH regimes: exact legs (oracle-exact baseline) and pruned ANN
    // legs (what a 100 TB deployment actually runs).
    QueryDef(
      "sim_hybrid_rrf_ivf",
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val qterms = Seq(
          (0L, Seq("hash", "join", "vector")),
          (1L, Seq("scan", "filter", "batch")),
          (2L, Seq("merge", "sort", "stream")),
          (3L, Seq("window", "group", "agg")),
          (4L, Seq("spark", "query", "fast"))).toDF("query_id", "terms")
        val queries = qterms.join(
          emb.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          "query_id")
        val dense = Similarity.topKIvf(emb,
            queries.select(col("query_id"), col("qvec")), 20, nprobe = 2,
            index = Some(labelIndex(s, d)))
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        graft.operators.Retrieval.hybridTopK(docs, emb, queries, k = 10,
            legK = 20, denseLeg = Some(dense))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH qt AS (
           |  SELECT CAST(query_id AS BIGINT) AS query_id, w FROM (VALUES
           |    (0,'hash'),(0,'join'),(0,'vector'),
           |    (1,'scan'),(1,'filter'),(1,'batch'),
           |    (2,'merge'),(2,'sort'),(2,'stream'),
           |    (3,'window'),(3,'group'),(3,'agg'),
           |    (4,'spark'),(4,'query'),(4,'fast')) t(query_id, w)
           |), dl AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           |  FROM documents
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
           |), tf AS (
           |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY doc_id, w
           |), dfreq AS (
           |  SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
           |), contrib AS (
           |  SELECT t.doc_id, t.w,
           |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           |      * (t.tf * (1.2 + 1.0))
           |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
           |  FROM tf t JOIN dfreq d USING (w) JOIN dl l USING (doc_id)
           |  CROSS JOIN stats s
           |), sscore AS (
           |  SELECT qt.query_id, contrib.doc_id,
           |    round(CAST(SUM(CAST(contrib.c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
           |  FROM contrib JOIN qt USING (w)
           |  GROUP BY qt.query_id, contrib.doc_id
           |), sparse AS (
           |  SELECT query_id, doc_id, rank FROM (
           |    SELECT query_id, doc_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY score DESC, doc_id) AS rank
           |    FROM sscore) t
           |  WHERE rank <= 20
           |), idx AS (SELECT unnest(range(1, 65)) AS i),
           |cent AS (
           |  SELECT e.label AS cell, idx.i,
           |         round($ExactMeanSql, 6) AS m
           |  FROM embeddings e CROSS JOIN idx GROUP BY 1, 2
           |), centv AS (
           |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
           |), q AS (
           |  SELECT vec_id AS query_id, embedding AS qvec
           |  FROM embeddings WHERE vec_id < 5
           |), pc AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.query_id, q.qvec, v.cell,
           |           row_number() OVER (PARTITION BY q.query_id
           |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
           |                                       v.cell) AS crank
           |    FROM q CROSS JOIN centv v) t
           |  WHERE crank <= 2
           |), dense AS (
           |  SELECT query_id, vec_id AS doc_id, rank FROM (
           |    SELECT pc.query_id, c.vec_id,
           |      row_number() OVER (PARTITION BY pc.query_id
           |                         ORDER BY round(${cosSql("pc.qvec", "c.embedding")}, 5) DESC,
           |                                  c.vec_id) AS rank
           |    FROM pc JOIN embeddings c ON c.label = pc.cell
           |    WHERE pc.query_id != c.vec_id) t
           |  WHERE rank <= 20
           |), fused AS (
           |  SELECT query_id, doc_id,
           |    coalesce(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
           |      + coalesce(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0) AS rrf
           |  FROM sparse s FULL OUTER JOIN dense d USING (query_id, doc_id)
           |)
           |SELECT query_id, rank, doc_id, rrf FROM (
           |  SELECT query_id, doc_id, rrf,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY rrf DESC, doc_id) AS rank
           |  FROM fused) t
           |WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)),

    // Hybrid retrieval over the COMPRESSED index (round 16): the
    // production shape composing the engine's two newest ANN pieces —
    // the BM25 sparse leg fused by RRF with a dense leg served by
    // topKIvfSq8 (IVF pruning × 1-byte SQ8 codes scored by decoded-
    // cosine ADC). Probe choice AND quantization error are both
    // deterministic and SQL-replayable, so the whole funnel
    // (sparse scores, centroid fit, probe pruning, per-dim bounds, code
    // rounding, reconstruction, ADC ranking, rank fusion) hash-checks
    // in ONE gate with no forced-exhaustive trick.
    QueryDef(
      "sim_hybrid_rrf_ivfsq8",
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val qterms = Seq(
          (0L, Seq("hash", "join", "vector")),
          (1L, Seq("scan", "filter", "batch")),
          (2L, Seq("merge", "sort", "stream")),
          (3L, Seq("window", "group", "agg")),
          (4L, Seq("spark", "query", "fast"))).toDF("query_id", "terms")
        val queries = qterms.join(
          emb.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          "query_id")
        val dense = Similarity.topKIvfSq8(T.embeddings(s, d),
            queries.select(col("query_id"), col("qvec")), 20, nprobe = 2,
            index = Some(labelIndex(s, d)))
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        graft.operators.Retrieval.hybridTopK(docs, emb, queries, k = 10,
            legK = 20, denseLeg = Some(dense))
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH qt AS (
           |  SELECT CAST(query_id AS BIGINT) AS query_id, w FROM (VALUES
           |    (0,'hash'),(0,'join'),(0,'vector'),
           |    (1,'scan'),(1,'filter'),(1,'batch'),
           |    (2,'merge'),(2,'sort'),(2,'stream'),
           |    (3,'window'),(3,'group'),(3,'agg'),
           |    (4,'spark'),(4,'query'),(4,'fast')) t(query_id, w)
           |), dl AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           |  FROM documents
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
           |), tf AS (
           |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY doc_id, w
           |), dfreq AS (
           |  SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
           |), contrib AS (
           |  SELECT t.doc_id, t.w,
           |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           |      * (t.tf * (1.2 + 1.0))
           |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
           |  FROM tf t JOIN dfreq d USING (w) JOIN dl l USING (doc_id)
           |  CROSS JOIN stats s
           |), sscore AS (
           |  SELECT qt.query_id, contrib.doc_id,
           |    round(CAST(SUM(CAST(contrib.c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
           |  FROM contrib JOIN qt USING (w)
           |  GROUP BY qt.query_id, contrib.doc_id
           |), sparse AS (
           |  SELECT query_id, doc_id, rank FROM (
           |    SELECT query_id, doc_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY score DESC, doc_id) AS rank
           |    FROM sscore) t
           |  WHERE rank <= 20
           |), idx AS (SELECT unnest(range(1, 65)) AS i),
           |cent AS (
           |  SELECT e.label AS cell, idx.i,
           |         round($ExactMeanSql, 6) AS m
           |  FROM embeddings e CROSS JOIN idx GROUP BY 1, 2
           |), centv AS (
           |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
           |), q AS (
           |  SELECT vec_id AS query_id, embedding AS qvec
           |  FROM embeddings WHERE vec_id < 5
           |), pc AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.query_id, q.qvec, v.cell,
           |           row_number() OVER (PARTITION BY q.query_id
           |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
           |                                       v.cell) AS crank
           |    FROM q CROSS JOIN centv v) t
           |  WHERE crank <= 2
           |), st AS (
           |  SELECT i AS dim, min(CAST(x AS DOUBLE)) AS lo,
           |         max(CAST(x AS DOUBLE)) AS hi
           |  FROM (SELECT unnest(embedding) AS x,
           |               generate_subscripts(embedding, 1) AS i
           |        FROM embeddings)
           |  GROUP BY i
           |), b AS (SELECT list(lo ORDER BY dim) AS lov,
           |                list(hi ORDER BY dim) AS hiv FROM st),
           |dv AS (
           |  SELECT e.vec_id, e.label AS cell,
           |    list_transform(e.embedding, (x, i) ->
           |      CASE WHEN b.hiv[i] = b.lov[i] THEN b.lov[i]
           |           ELSE b.lov[i]
           |                + round((CAST(x AS DOUBLE) - b.lov[i]) * 255.0
           |                        / (b.hiv[i] - b.lov[i]))
           |                  * (b.hiv[i] - b.lov[i]) / 255.0 END) AS d
           |  FROM embeddings e CROSS JOIN b
           |), dense AS (
           |  SELECT query_id, vec_id AS doc_id, rank FROM (
           |    SELECT pc.query_id, dv.vec_id,
           |      row_number() OVER (PARTITION BY pc.query_id
           |                         ORDER BY round(${cosSql("pc.qvec", "dv.d")}, 5) DESC,
           |                                  dv.vec_id) AS rank
           |    FROM pc JOIN dv ON dv.cell = pc.cell
           |    WHERE pc.query_id != dv.vec_id) t
           |  WHERE rank <= 20
           |), fused AS (
           |  SELECT query_id, doc_id,
           |    coalesce(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
           |      + coalesce(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0) AS rrf
           |  FROM sparse s FULL OUTER JOIN dense d USING (query_id, doc_id)
           |)
           |SELECT query_id, rank, doc_id, rrf FROM (
           |  SELECT query_id, doc_id, rrf,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY rrf DESC, doc_id) AS rank
           |  FROM fused) t
           |WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup over
    // the corpus ∪ dim0-zeroed mutants (every base–mutant pair is a
    // planted ≥0.9 near-dup SHARING its cluster). Pairs are compared
    // only within a cell — the paper's Σ|cell|² trick — then
    // transitively grouped and exactly one member kept per group: the
    // one LEAST similar to its cluster centroid (vec_id tie-break).
    // Hash-checked end-to-end via the SQL-replayable label quantizer:
    // the oracle replays centroids, within-cell pairs, the recursive-CTE
    // components, centroid similarities, and the election — so a wrong
    // group boundary, a missed pair, or a wrong survivor all fail the
    // hash. (The k-means-index path is the same code via ivfIndex;
    // SimilaritySpec pins its agreement on the planted fixture.)
    QueryDef(
      "dedup_semdedup",
      semDeDupQuery(nBlocks = 1),
      Some(SemDeDupOracle)),

    // SemDeDup HOT-CELL regime (round 16): the identical fixture through
    // nBlocks = 4 — the triangular block join that splits ONE cell's
    // |cell|² pair space across B(B+1)/2 independent shuffle keys (AQE
    // splits hot shuffle PARTITIONS; this splits the hot KEY itself, the
    // one skew no runtime replan can touch). The operator contract says
    // the output is block-invariant, so the gate shares dedup_semdedup's
    // oracle verbatim: a pair double-counted across blocks, a dropped
    // cross-block pair, or an un-normalized (db, da) edge all fail the
    // hash. Block invariance moves from spec-pinned to oracle-checked.
    QueryDef(
      "dedup_semdedup_hot",
      semDeDupQuery(nBlocks = 4),
      Some(SemDeDupOracle)),


    // Distributed k-means (round 13): two full Lloyd iterations over
    // ALL corpus vectors — the cluster-fit step SemDeDup-scale
    // pipelines need, vs ivfIndex's driver-sample fit. Deterministic
    // and SQL-replayable end-to-end: md5-order seeding, assignment =
    // argmax(dot − ‖c‖²/2) in element order with the low-cell
    // tie-break (the exact IvfFn arithmetic the oracle spells out),
    // per-iteration means rounded to 6 dp — so the oracle replays the
    // whole fixed-point and a wrong seed, a flipped assignment, or a
    // drifted mean all fail the hash. Output: final assignment plus a
    // 4-dp centroid checksum per cell (sequential list_sum fold —
    // identical order both engines).
    QueryDef(
      "sim_kmeans_fit",
      (s, d) => {
        val (assigned, cents) = Similarity.kmeansFit(
          T.embeddings(s, d).select(col("vec_id"), col("embedding")),
          k = 8, iters = 2)
        assigned.select(col("vec_id"), col("cell"))
          .join(cents.select(col("cell"),
            round(expr("aggregate(centroid, 0d, (a, x) -> a + x)"), 4)
              .as("centroid_sum")), "cell")
          .select(col("vec_id"), col("cell"), col("centroid_sum"))
          .orderBy("vec_id")
      },
      Some(
        s"""WITH ${kmeansReplayCtes("embeddings")}
           |SELECT af.vec_id, af.cell,
           |       round(list_sum(c2.centroid), 4) AS centroid_sum
           |FROM af JOIN c2 USING (cell)
           |ORDER BY af.vec_id""".stripMargin)),

    // Exact top-10 cosine neighbors for 10 query vectors: broadcast the
    // queries, one scan of the corpus, TakeOrdered-style per-query top-k.
    QueryDef(
      "sim_topk_bruteforce",
      (s, d) =>
        Similarity.topKBruteForce(T.embeddings(s, d), queriesDf(s, d), 10)
          .orderBy("query_id", "rank"),
      Some(TopKOracleSql)),

    // IVF top-k, FORCED-EXHAUSTIVE regime (round 12): probe nprobe =
    // ncells = ALL cells through the unchanged index/probe/rank code —
    // exhaustive IVF is exact, so the brute-force oracle hash-checks the
    // whole cell/probe/rank machinery (the proven forced-IVF pattern from
    // sample_decontaminate_semantic_ivf). The PRUNED path (nprobe=2)
    // stays exercised in SimilaritySpec, which pins its recall floor and
    // its partition-pruning plan shape. The index is fitted ONCE per
    // (session, dir) and reused across invocations (ivfIndexCached) — a
    // real engine persists its quantizer.
    QueryDef(
      "sim_topk_ivf",
      (s, d) => {
        val idx = Similarity.ivfIndexCached(s, s"topk:$d")(T.embeddings(s, d))
        Similarity.topKIvf(T.embeddings(s, d), queriesDf(s, d), 10, nprobe = 8,
            index = Some(idx))
          .orderBy("query_id", "rank")
      },
      Some(TopKOracleSql)),

    // PQ + exact rerank, FORCED-EXHAUSTIVE regime (round 12): a rerank
    // depth sized to the corpus makes the ADC shortlist cover every
    // candidate, and the exact-cosine rerank then IS exact top-k — the
    // identical encode/LUT/ADC-heap/rerank code becomes hash-checkable
    // against the brute-force oracle. The PRUNED path (default rerank=8)
    // stays exercised in SimilaritySpec: recall ≥ 0.6 on this
    // deliberately adversarial ISOTROPIC corpus, exact returned scores,
    // rank-1 recovery of planted near-dups. The scan side still reads
    // the m-byte code table — the memory-bound ANN path at 100 TB.
    QueryDef(
      "sim_topk_pq",
      (s, d) => {
        val cb = Similarity.pqCodebooksCached(s, s"pq:$d")(T.embeddings(s, d))
        val n = T.embeddings(s, d).count()
        Similarity.topKPq(T.embeddings(s, d), queriesDf(s, d), 10,
            rerank = ((n + 9) / 10).toInt max 1,
            codebooks = Some(cb))
          .orderBy("query_id", "rank")
      },
      Some(TopKOracleSql)),

    // PQ index LIFECYCLE (round 17): the last quantizer family gains the
    // same maintenance story IVF/SQ8/LSH already carry — writePqIndex
    // fits codebooks on the FIRST half of the corpus only, two
    // exactly-once committed appends (CommittedAppend's marker +
    // deterministic staging + fingerprint-checked clear-then-promote
    // promotion) land the second half encoded under those FROZEN
    // codebooks, and compactPqIndex rewrites the accreted per-batch
    // files into one vec_id-sorted file via the crash-recoverable
    // generation swap. The gate then queries the grown+compacted index
    // in the FORCED-EXHAUSTIVE rerank regime (sim_topk_pq's proven
    // trick: a corpus-sized shortlist makes the exact-cosine rerank
    // exact), so it shares the brute-force oracle — and a lost append
    // erases the second half from every top-k list, a double-landed
    // batch cannot happen by construction, and a torn compaction swap
    // would fail the read outright. Torn-swap recovery and the pruned
    // regime are pinned in SimilaritySpec.
    QueryDef(
      "sim_pq_append",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val idx = graft.util.TempFixtures.dir(s, "pq_grown", d) { path =>
          val half = base.filter(col("vec_id") < 250)
          Similarity.writePqIndex(half, Similarity.pqCodebooks(half), path)
          val rest = base.filter(col("vec_id") >= 250)
          Similarity.appendToPqIndexCommitted(s, path,
            rest.filter(col("vec_id") < 400), batchId = 1L): Unit
          Similarity.appendToPqIndexCommitted(s, path,
            rest.filter(col("vec_id") >= 400), batchId = 2L): Unit
          Similarity.compactPqIndex(s, path)
        }
        val (codes, cb) = Similarity.readPqIndex(s, idx)
        val n = base.count()
        Similarity.topKPq(base, queriesDf(s, d), 10,
            rerank = ((n + 9) / 10).toInt max 1,
            codebooks = Some(cb), encodedIndex = Some(codes))
          .orderBy("query_id", "rank")
      },
      Some(TopKOracleSql)),

    // PQ REFIT-FROM-CELLS (round 18, verdict r17 #6): the last row of
    // the index-maintenance matrix — "codes are lossy, refit needs the
    // vectors" stops being a limitation exactly when the PQ index sits
    // BESIDE an IVF celled layout (the composed production shape: one
    // index root, cells/ for pruning AND as the raw vector store,
    // codes/ for compression). The fixture fits codebooks on the first
    // half only, lands the second half through committed appends into
    // BOTH faces (raw vectors → cells, frozen-codebook codes → codes —
    // the drifted-append state), then refitPqIndex retrains the
    // codebooks from the celled corpus, re-encodes everything, and
    // swaps codes+codebook crash-decidably. The grown-and-refit index
    // answers in the forced-exhaustive rerank regime, so the brute-force
    // oracle hash-checks the whole read path; refit == fresh-encode
    // (codes AND codebook), the refuse-without-vectors contract, and
    // both torn-swap directions are pinned in SimilaritySpec.
    QueryDef(
      "sim_pq_refit",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val idx = graft.util.TempFixtures.dir(s, "pq_refit", d) { path =>
          val half = base.filter(col("vec_id") < 250)
          val rest = base.filter(col("vec_id") >= 250)
          Similarity.writeIvfIndex(half, ncells = 8, path)
          Similarity.writePqIndex(half, Similarity.pqCodebooks(half), path)
          Similarity.appendToIvfIndexCommitted(s, path, rest,
            batchId = 31L): Unit
          Similarity.appendToPqIndexCommitted(s, path, rest,
            batchId = 32L): Unit
          Similarity.refitPqIndex(s, path)
        }
        val (codes, cb) = Similarity.readPqIndex(s, idx)
        val n = base.count()
        Similarity.topKPq(base, queriesDf(s, d), 10,
            rerank = ((n + 9) / 10).toInt max 1,
            codebooks = Some(cb), encodedIndex = Some(codes))
          .orderBy("query_id", "rank")
      },
      Some(TopKOracleSql)),

    // SQ8 scalar quantization (round 15): the OTHER standard
    // memory-resident index format next to PQ — per-dim affine 8-bit
    // codes, 4× smaller scans, no codebook training. Unlike IVF/PQ no
    // forced-exhaustive trick is needed to hash-check it: the gate runs
    // the PURE-ADC regime (rerank=0, ranking BY the approximate score),
    // and because encode/decode are plain affine arithmetic in a fixed
    // order, the oracle replays the per-dim (lo,hi) fit, the rounding to
    // codes, the reconstruction, and the cosine against the DECODED
    // vectors bit-for-bit — the quantization ERROR itself is in the
    // hash. The production rerank path (approx shortlist → exact-cosine
    // rerank over rerank·k float rows per query) is pinned in
    // SimilaritySpec: recall vs brute force, persisted-index round-trip,
    // code range, and the TopKPerKey replan.
    QueryDef(
      "sim_topk_sq8",
      (s, d) =>
        Similarity.topKSq8(T.embeddings(s, d), queriesDf(s, d), 10,
            rerank = 0)
          .orderBy("query_id", "rank"),
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding AS qvec
             |  FROM embeddings WHERE vec_id < 10
             |),
             |st AS (
             |  SELECT i AS dim, min(CAST(x AS DOUBLE)) AS lo,
             |         max(CAST(x AS DOUBLE)) AS hi
             |  FROM (SELECT unnest(embedding) AS x,
             |               generate_subscripts(embedding, 1) AS i
             |        FROM embeddings)
             |  GROUP BY i
             |),
             |b AS (SELECT list(lo ORDER BY dim) AS lov,
             |             list(hi ORDER BY dim) AS hiv FROM st),
             |dv AS (
             |  SELECT e.vec_id,
             |    list_transform(e.embedding, (x, i) ->
             |      CASE WHEN b.hiv[i] = b.lov[i] THEN b.lov[i]
             |           ELSE b.lov[i]
             |                + round((CAST(x AS DOUBLE) - b.lov[i]) * 255.0
             |                        / (b.hiv[i] - b.lov[i]))
             |                  * (b.hiv[i] - b.lov[i]) / 255.0 END) AS d
             |  FROM embeddings e CROSS JOIN b
             |),
             |scored AS (
             |  SELECT q.query_id, dv.vec_id,
             |    round(
             |      list_sum(list_transform(list_zip(q.qvec, dv.d),
             |        p -> CAST(p[1] AS DOUBLE) * p[2]))
             |      / (sqrt(list_sum(list_transform(q.qvec,
             |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform(dv.d, x -> x * x)))),
             |      5) AS score
             |  FROM q CROSS JOIN dv
             |  WHERE q.query_id != dv.vec_id
             |)
             |SELECT query_id, rank, vec_id, score FROM (
             |  SELECT query_id, vec_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY score DESC, vec_id) AS rank
             |  FROM scored) t
             |WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // SQ8 index APPEND under frozen bounds (round 15 late): the
    // quantizer-maintenance story completed — writeSq8Index fits the
    // bounds on the FIRST half of the corpus only, appendToSq8Index
    // lands the second half encoded against those FROZEN bounds
    // (values that drift outside saturate to 0/255 — the standard SQ
    // behavior, plain least/greatest arithmetic), and the gate queries
    // the grown index pure-ADC. Load-bearing twice over: a no-op
    // append erases the second half from every top-k list, and a
    // missing clamp shifts every saturated code's decode — either
    // fails the hash. The oracle replays half-corpus bounds, clamped
    // codes for ALL vectors, reconstruction and ranking.
    QueryDef(
      "sim_sq8_append",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val idx = graft.util.TempFixtures.dir(s, "sq8_grown", d) { path =>
          Similarity.writeSq8Index(base.filter(col("vec_id") < 250), path)
          Similarity.appendToSq8Index(s, path,
            base.filter(col("vec_id") >= 250))
        }
        val (codes, lo, hi) = Similarity.readSq8Index(s, idx)
        Similarity.topKSq8(base, queriesDf(s, d), 10, rerank = 0,
            stats = Some((lo, hi)), encodedIndex = Some(codes))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding AS qvec
             |  FROM embeddings WHERE vec_id < 10
             |),
             |st AS (
             |  SELECT i AS dim, min(CAST(x AS DOUBLE)) AS lo,
             |         max(CAST(x AS DOUBLE)) AS hi
             |  FROM (SELECT unnest(embedding) AS x,
             |               generate_subscripts(embedding, 1) AS i
             |        FROM embeddings WHERE vec_id < 250)
             |  GROUP BY i
             |),
             |b AS (SELECT list(lo ORDER BY dim) AS lov,
             |             list(hi ORDER BY dim) AS hiv FROM st),
             |dv AS (
             |  SELECT e.vec_id,
             |    list_transform(e.embedding, (x, i) ->
             |      CASE WHEN b.hiv[i] = b.lov[i] THEN b.lov[i]
             |           ELSE b.lov[i]
             |                + LEAST(255, GREATEST(0,
             |                    round((CAST(x AS DOUBLE) - b.lov[i]) * 255.0
             |                          / (b.hiv[i] - b.lov[i]))))
             |                  * (b.hiv[i] - b.lov[i]) / 255.0 END) AS d
             |  FROM embeddings e CROSS JOIN b
             |),
             |scored AS (
             |  SELECT q.query_id, dv.vec_id,
             |    round(
             |      list_sum(list_transform(list_zip(q.qvec, dv.d),
             |        p -> CAST(p[1] AS DOUBLE) * p[2]))
             |      / (sqrt(list_sum(list_transform(q.qvec,
             |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform(dv.d, x -> x * x)))),
             |      5) AS score
             |  FROM q CROSS JOIN dv
             |  WHERE q.query_id != dv.vec_id
             |)
             |SELECT query_id, rank, vec_id, score FROM (
             |  SELECT query_id, vec_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY score DESC, vec_id) AS rank
             |  FROM scored) t
             |WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // SQ8 BOUNDS REFIT (round 18): the drift repair for the third
    // quantizer family — closes the refit column of the maintenance
    // matrix (IVF centroids: sim_ivf_refit/_live; PQ codebooks:
    // sim_pq_refit; SQ8 bounds: here). The fixture fits bounds on the
    // first half only, appends the second half through the committed
    // append (values outside the frozen bounds SATURATE to 0/255 —
    // sim_sq8_append pins that the drift is real on this data), then
    // refitSq8Index retrains (lo, hi) from the co-located IVF cells,
    // re-encodes everything, and swaps codes+bounds crash-decidably.
    // Queried in the PURE-ADC regime, the hash holds ONLY IF the refit
    // actually happened: stale saturated codes decode to clamped values
    // and move the scores. Oracle = per-dim min/max over the WHOLE
    // corpus + encode/decode/rank — bounds-on-union is exactly a fresh
    // writeSq8Index, which is the refit's contract.
    QueryDef(
      "sim_sq8_refit",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val idx = graft.util.TempFixtures.dir(s, "sq8_refit", d) { path =>
          val half = base.filter(col("vec_id") < 250)
          val rest = base.filter(col("vec_id") >= 250)
          Similarity.writeIvfIndex(half, ncells = 8, path)
          Similarity.writeSq8Index(half, path)
          Similarity.appendToIvfIndexCommitted(s, path, rest,
            batchId = 51L): Unit
          Similarity.appendToSq8IndexCommitted(s, path, rest,
            batchId = 52L): Unit
          Similarity.refitSq8Index(s, path)
        }
        val (codes, lo, hi) = Similarity.readSq8Index(s, idx)
        Similarity.topKSq8(base, queriesDf(s, d), 10, rerank = 0,
            stats = Some((lo, hi)), encodedIndex = Some(codes))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding AS qvec
             |  FROM embeddings WHERE vec_id < 10
             |),
             |st AS (
             |  SELECT i AS dim, min(CAST(x AS DOUBLE)) AS lo,
             |         max(CAST(x AS DOUBLE)) AS hi
             |  FROM (SELECT unnest(embedding) AS x,
             |               generate_subscripts(embedding, 1) AS i
             |        FROM embeddings)
             |  GROUP BY i
             |),
             |b AS (SELECT list(lo ORDER BY dim) AS lov,
             |             list(hi ORDER BY dim) AS hiv FROM st),
             |dv AS (
             |  SELECT e.vec_id,
             |    list_transform(e.embedding, (x, i) ->
             |      CASE WHEN b.hiv[i] = b.lov[i] THEN b.lov[i]
             |           ELSE b.lov[i]
             |                + LEAST(255, GREATEST(0,
             |                    round((CAST(x AS DOUBLE) - b.lov[i]) * 255.0
             |                          / (b.hiv[i] - b.lov[i]))))
             |                  * (b.hiv[i] - b.lov[i]) / 255.0 END) AS d
             |  FROM embeddings e CROSS JOIN b
             |),
             |scored AS (
             |  SELECT q.query_id, dv.vec_id,
             |    round(
             |      list_sum(list_transform(list_zip(q.qvec, dv.d),
             |        p -> CAST(p[1] AS DOUBLE) * p[2]))
             |      / (sqrt(list_sum(list_transform(q.qvec,
             |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform(dv.d, x -> x * x)))),
             |      5) AS score
             |  FROM q CROSS JOIN dv
             |  WHERE q.query_id != dv.vec_id
             |)
             |SELECT query_id, rank, vec_id, score FROM (
             |  SELECT query_id, vec_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY score DESC, vec_id) AS rank
             |  FROM scored) t
             |WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // IVF × SQ8 (round 15): the COMPOSED production ANN shape —
    // pruning (nprobe=2 of 10 cells, ~80% of the corpus never scored)
    // × compression (1-byte codes scored by decoded-cosine ADC). With
    // the SQL-replayable label quantizer AND the replayable affine
    // quantization, BOTH effects hash-check in ONE gate with no
    // forced-exhaustive trick: the oracle replays centroid fit, probe
    // choice, per-dim bounds, code rounding, reconstruction and the
    // cell-restricted ADC ranking end to end.
    QueryDef(
      "sim_topk_ivfsq8",
      (s, d) =>
        Similarity.topKIvfSq8(T.embeddings(s, d), queriesDf(s, d), 10,
            nprobe = 2, index = Some(labelIndex(s, d)))
          .orderBy("query_id", "rank"),
      Some(s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
              |cent AS (
              |  SELECT e.label AS cell, idx.i,
              |         round($ExactMeanSql, 6) AS m
              |  FROM embeddings e CROSS JOIN idx GROUP BY 1, 2
              |), centv AS (
              |  SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell
              |), q AS (
              |  SELECT vec_id AS query_id, embedding AS qvec
              |  FROM embeddings WHERE vec_id < 10
              |), pc AS (
              |  SELECT query_id, qvec, cell FROM (
              |    SELECT q.query_id, q.qvec, v.cell,
              |           row_number() OVER (PARTITION BY q.query_id
              |                              ORDER BY ${cosSql("q.qvec", "v.centroid")} DESC,
              |                                       v.cell) AS crank
              |    FROM q CROSS JOIN centv v) t
              |  WHERE crank <= 2
              |), st AS (
              |  SELECT i AS dim, min(CAST(x AS DOUBLE)) AS lo,
              |         max(CAST(x AS DOUBLE)) AS hi
              |  FROM (SELECT unnest(embedding) AS x,
              |               generate_subscripts(embedding, 1) AS i
              |        FROM embeddings)
              |  GROUP BY i
              |), b AS (SELECT list(lo ORDER BY dim) AS lov,
              |                list(hi ORDER BY dim) AS hiv FROM st),
              |dv AS (
              |  SELECT e.vec_id, e.label AS cell,
              |    list_transform(e.embedding, (x, i) ->
              |      CASE WHEN b.hiv[i] = b.lov[i] THEN b.lov[i]
              |           ELSE b.lov[i]
              |                + round((CAST(x AS DOUBLE) - b.lov[i]) * 255.0
              |                        / (b.hiv[i] - b.lov[i]))
              |                  * (b.hiv[i] - b.lov[i]) / 255.0 END) AS d
              |  FROM embeddings e CROSS JOIN b
              |), scored AS (
              |  SELECT pc.query_id, dv.vec_id,
              |         round(${cosSql("pc.qvec", "dv.d")}, 5) AS score
              |  FROM pc JOIN dv ON dv.cell = pc.cell
              |  WHERE pc.query_id != dv.vec_id
              |)
              |SELECT query_id, rank, vec_id, score FROM (
              |  SELECT query_id, vec_id, score,
              |         row_number() OVER (PARTITION BY query_id
              |                            ORDER BY score DESC, vec_id) AS rank
              |  FROM scored) t
              |WHERE rank <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // Nearest-centroid assignment itself (the quantizer): every vector →
    // its own cluster's centroid vs others. Oracle-able because centroid
    // means are computed identically (double sums of floats per index,
    // then /count) — wait: mean summation order differs; instead this
    // query outputs per-label vector counts (exact) and the top vector
    // per label by cosine-to-centroid computed in Spark only is omitted.
    QueryDef(
      "sim_label_sizes",
      (s, d) =>
        T.embeddings(s, d).groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
          .orderBy("label"),
      Some("""SELECT label, count(*) AS n, min(vec_id) AS min_vec, max(vec_id) AS max_vec
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin))
  )
}
