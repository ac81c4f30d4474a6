package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hybrid retrieval (SURVEY C13/C11 composition): the standard
  * production search shape — a SPARSE lexical leg (BM25 over an
  * inverted-postings join) and a DENSE semantic leg (cosine top-k over
  * the embedding column) fused by Reciprocal Rank Fusion
  * (Cormack, Clarke & Büttcher, SIGIR'09): rrf(d) = Σ_legs 1/(K + rank_leg(d)).
  * RRF needs no score calibration between legs — only ranks — which is
  * why it is the default fusion in hybrid search engines.
  *
  * Determinism: each leg's rank is an integer from a totally-ordered
  * window (rounded score DESC, doc_id). The fused score is a sum of at
  * most |legs| doubles of the form 1/(K + r) — for two legs one IEEE
  * addition, which is commutative, so aggregation order cannot move the
  * score and a SQL oracle replays it bit-for-bit. Final ranking
  * tie-breaks on doc_id.
  *
  * 100 TB shape: the sparse leg is a postings join — tokens explode,
  * the (tiny) query-term set broadcasts, term frequencies aggregate
  * map-side, and the per-query top-k goes through the native
  * TopKPerKey heap (the RewriteWindowTopK idiom, no per-query sort).
  * The dense leg is whatever ANN index the caller brings —
  * [[Similarity.topKBruteForce]] for the oracle regime,
  * [[Similarity.topKIvf]] over a persisted cell-partitioned index at
  * scale. Fusion itself joins two k·|queries|-row frames — negligible
  * at any corpus size.
  */
object Retrieval {

  /** Per-query BM25 ranks over the corpus: `queries` is
    * (query_id, terms array<string>) — small, broadcast; output
    * (query_id, doc_id, rank) with rank 1..legK by
    * (score rounded 6 DESC, doc_id).
    *
    * Same arithmetic as [[TextOps.bm25TopK]] (idf/tf saturation as one
    * IEEE expression per (doc, term), exact-decimal sum, round 6) —
    * generalized to many queries: term contributions compute ONCE per
    * distinct (doc, term) and fan out to the queries that use the term.
    */
  def bm25PerQuery(docs: DataFrame, queries: DataFrame, legK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.functions.Exact.dsum
    val tokens = split(col("text"), " ")
    val lengths = docs.select(col("doc_id"),
      size(tokens).cast(DoubleType).as("dl"))
    val stats = lengths.agg(count(lit(1)).cast(DoubleType).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qterm = queries.select(col("query_id"), explode(col("terms")).as("w"))
    // postings restricted to the union of query terms — ONE corpus pass
    // regardless of query count
    val tf = docs
      .select(col("doc_id"), explode(tokens).as("w"))
      .join(broadcast(qterm.select("w").distinct()), "w")
      .groupBy("doc_id", "w").agg(count(lit(1)).cast(DoubleType).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast(DoubleType).as("df"))
    val contrib = tf
      .join(broadcast(dfreq), "w")
      .join(lengths, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    contrib
      .join(broadcast(qterm), "w")
      .groupBy("query_id", "doc_id")
      .agg(round(dsum(col("contrib"), 12), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= legK)
      .select(col("query_id"), col("doc_id"), col("rank").cast(LongType).as("rank"))
  }

  /** Reciprocal-rank fusion of ranked legs — each leg is
    * (query_id, doc_id, rank) — into a per-query top-k:
    * (query_id, rank, doc_id, rrf). A document absent from a leg
    * contributes 0 from it (the standard RRF convention).
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val tagged = legs.zipWithIndex.map { case (leg, i) =>
      leg.select(col("query_id"), col("doc_id"),
        col("rank").cast(LongType).as(s"r$i"))
    }
    val joined = tagged.reduce(_.join(_, Seq("query_id", "doc_id"), "full_outer"))
    val rrf = legs.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"r$i").cast(DoubleType)),
        lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    joined
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("doc_id"), col("rrf"))
  }

  /** The composed hybrid searcher: BM25 sparse leg + dense cosine leg
    * (caller-supplied ANN results, or [[Similarity.topKBruteForce]] by
    * default) fused with RRF. `queries` is
    * (query_id, terms array<string>, qvec array<float>).
    */
  def hybridTopK(docs: DataFrame, corpusEmb: DataFrame, queries: DataFrame,
      k: Int, legK: Int = 20, kRrf: Int = 60,
      denseLeg: Option[DataFrame] = None): DataFrame = {
    val sparse = bm25PerQuery(docs, queries.select(col("query_id"), col("terms")), legK)
    val dense = denseLeg.getOrElse(
      Similarity.topKBruteForce(corpusEmb,
          queries.select(col("query_id"), col("qvec")), legK)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank")))
    rrfFuse(Seq(sparse, dense), k, kRrf)
  }
}
