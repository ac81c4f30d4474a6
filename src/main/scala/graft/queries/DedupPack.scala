package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity}
import graft.sources.{Tables => T}

/** Deduplication pack (SURVEY C10) over the `documents`/`embeddings`
  * tables. Exact and brute-force variants carry DuckDB oracles; the
  * LSH/SimHash scale paths are declared with rows-only checks and verified
  * against the brute-force ground truth in DedupSpec.
  *
  * Near-dup queries run over the corpus ∪ deterministic mutants
  * (Dedup.withMutants: every 10th token dropped, id+1e6) because the
  * synthetic corpus has no natural near-dups (max trigram Jaccard ≈ 0.02);
  * the oracle SQL constructs the identical corpus (note DuckDB list
  * lambdas are 1-indexed where Spark's are 0-indexed).
  */
object DedupPack extends QueryPack {

  /** Bench-bounding cap for the intentionally-quadratic brute-force oracle
    * query: ≥ every sf0.01 doc_id (correctness input unchanged) but caps
    * the sf0.1 bench corpus so the O(Σ|posting|²) ground-truth join does
    * not dominate the measured total. The LSH/SimHash SCALE paths stay
    * uncapped — bounding them would defeat their purpose.
    */
  private val JaccardCap = 1000

  /** Index-build/append split for dedup_lsh_append: must leave BOTH
    * halves non-empty at every scale (documents has 500 rows at
    * sf0.001/0.01), or the append is a vacuous no-op.
    */
  private val AppendSplit = 250

  /** Grown-LSH-index probe shared by dedup_lsh_append and
    * dedup_lsh_compact: mutants of docs from BOTH halves probe the
    * fixture `build` produces; a correctly grown (and, for the compact
    * gate, correctly rewritten) index answers exactly like a fresh full
    * build, so both gates share [[LshGrownOracle]] verbatim.
    */
  private def lshGrownProbe(fixtureKey: String)(
      build: (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.DataFrame, String) => Unit)
    : (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
    (s, d) => {
      val base = T.documents(s, d).filter(col("doc_id") < JaccardCap)
        .select(col("doc_id"), col("text"))
      val idx = graft.util.TempFixtures.dir(s, fixtureKey, d) { path =>
        build(s, base, path)
      }
      val probes = Dedup.withMutants(base.filter(col("doc_id") < 12 ||
          (col("doc_id") >= AppendSplit &&
            col("doc_id") < AppendSplit + 13)))
        .filter(col("doc_id") >= 1000000L)
      Dedup.probeLshIndex(s, idx, probes,
          family = Dedup.ReplayableFamily)
        .select(col("q_id"), col("doc_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("q_id", "doc_id")
    }

  private val LshGrownOracle = s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id < $JaccardCap
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id,
              |         array_to_string(list_filter(string_split(text, ' '),
              |                                     (x, i) -> i % 10 != 0), ' ') AS text
              |  FROM documents
              |  WHERE doc_id < 12 OR (doc_id >= $AppendSplit
              |                        AND doc_id < ${AppendSplit + 13})
              |),
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |tri AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
              |        FROM w WHERE len(w) >= 3)
              |),
              |sh AS (
              |  SELECT DISTINCT doc_id,
              |         CAST(('0x' || substr(md5(s),1,15)) AS BIGINT) AS h
              |  FROM tri
              |),
              |perm AS (
              |  SELECT k,
              |    CAST(('0x' || substr(md5('mh-a-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) | 1 AS a,
              |    CAST(('0x' || substr(md5('mh-b-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) AS b
              |  FROM range(32) r(k)
              |),
              |sig AS (
              |  SELECT doc_id, k,
              |    min(CAST((CAST(a AS HUGEINT) * h + b) % 2305843009213693951 AS BIGINT)) AS v
              |  FROM sh, perm GROUP BY doc_id, k
              |),
              |bands AS (
              |  SELECT doc_id, CAST(k // 2 AS INT) AS band,
              |    CAST(min(CASE WHEN k % 2 = 0 THEN v END) AS VARCHAR) || ':' ||
              |    CAST(min(CASE WHEN k % 2 = 1 THEN v END) AS VARCHAR) AS bsig
              |  FROM sig GROUP BY doc_id, k // 2
              |),
              |cand AS (
              |  SELECT DISTINCT q.doc_id AS q_id, i.doc_id AS doc_id
              |  FROM bands q JOIN bands i
              |    ON q.band = i.band AND q.bsig = i.bsig
              |  WHERE q.doc_id >= 1000000 AND i.doc_id < 1000000
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.q_id, c.doc_id, count(*) AS i
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.q_id
              |  JOIN sh b ON b.doc_id = c.doc_id AND b.h = a.h
              |  GROUP BY c.q_id, c.doc_id
              |)
              |SELECT q_id, inter.doc_id AS doc_id,
              |       round(i / (sq.n + si.n - i), 6) AS jaccard
              |FROM inter
              |JOIN sz sq ON sq.doc_id = q_id JOIN sz si ON si.doc_id = inter.doc_id
              |WHERE i / (sq.n + si.n - i) >= 0.5
              |ORDER BY q_id, doc_id""".stripMargin

  private val MutantCorpus =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < $JaccardCap
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(list_filter(string_split(text, ' '),
      |                                     (x, i) -> i % 10 != 0), ' ') AS text
      |  FROM documents WHERE doc_id < $JaccardCap
      |)""".stripMargin

  /** Prefix-quote corpus for the containment gate: each capped doc with
    * ≥ 10 tokens contributes a "quote" of its first 2·len div 5 + 1
    * tokens (integer division on BOTH engines — a fractional length
    * would round differently between Spark's cast and DuckDB's). A
    * prefix's shingles are all source shingles ⇒ containment exactly
    * 1.0, Jaccard ~0.4.
    */
  private val QuoteCorpus =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < $JaccardCap
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |         array_to_string(string_split(text, ' ')[1:(2*len(string_split(text, ' '))//5 + 1)], ' ') AS text
      |  FROM documents
      |  WHERE doc_id < $JaccardCap AND len(string_split(text, ' ')) >= 10
      |)""".stripMargin

  private def withQuotes(docs: org.apache.spark.sql.DataFrame) = {
    val quotes = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .select((col("doc_id") + 2000000).as("doc_id"),
        array_join(expr("slice(w, 1, size(w)*2 div 5 + 1)"), " ").as("text"))
    docs.unionByName(quotes)
  }

  /** Uncapped mutant corpus for the linear-ish oracles (simhash): the
    * Spark scale paths run the FULL corpus, so their oracles must too.
    */
  private val MutantCorpusFull =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(list_filter(string_split(text, ' '),
      |                                     (x, i) -> i % 10 != 0), ' ') AS text
      |  FROM documents
      |)""".stripMargin

  private val Shingles =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '), 1) AS i
      |  FROM corpus
      |), tri AS (
      |  SELECT DISTINCT doc_id,
      |         concat_ws(' ', w,
      |           lead(w,1) OVER (PARTITION BY doc_id ORDER BY i),
      |           lead(w,2) OVER (PARTITION BY doc_id ORDER BY i)) AS sh
      |  FROM tok
      |  QUALIFY lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
      |)""".stripMargin

  /** The RHP hyperplane table as SQL literals — the SAME
    * `java.util.Random(seed).nextGaussian()` sequence in the same k-major
    * order as the fused expression (functions/RhpBands.scala planes()),
    * emitted with Double.toString so every component round-trips to the
    * identical IEEE double in DuckDB. The seeded planes are part of the
    * operator's spec (not data), so replaying them makes the banding —
    * and therefore the probabilistic candidate set — bit-reproducible:
    * both sides compute dot products as sequential index-order double
    * folds over identical inputs, so the sign bits cannot diverge.
    */
  private def rhpPlanesValuesSql(nbits: Int, dims: Int, seed: Long): String = {
    val rnd = new java.util.Random(seed)
    val h = Array.fill(nbits * dims)(rnd.nextGaussian())
    (0 until nbits).map { k =>
      val w = (0 until dims).map(i => h(k * dims + i).toString).mkString(", ")
      s"($k, [$w])"
    }.mkString("planes(k, w) AS (VALUES\n  ", ",\n  ", "\n)")
  }

  private val CosineSql =
    """list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      | * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))""".stripMargin

  override val defs: Seq[QueryDef] = Seq(

    // Exact dedup, corpus-level summary: distinct-digest counting. The
    // shuffle carries 16-byte digests, not documents — the only sane key
    // at 100 TB.
    QueryDef(
      "dedup_exact_summary",
      (s, d) =>
        T.documents(s, d).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes")),
      Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
             |       count(*) - count(DISTINCT md5(text)) AS n_dupes
             |FROM documents""".stripMargin)),

    // Exact-dedup survivors on a normalized key (50-char prefix): first
    // writer wins deterministically (min doc_id per digest).
    QueryDef(
      "dedup_exact_survivors",
      (s, d) =>
        Dedup.exactSurvivors(T.documents(s, d),
            substring(col("text"), 1, 50), col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE doc_id IN (SELECT min(doc_id) FROM documents
             |                 GROUP BY substr(text, 1, 50))
             |ORDER BY doc_id""".stripMargin)),

    // Brute-force n-gram Jaccard ≥ 0.5 over corpus+mutants — the exact
    // ground truth (shingle-postings join, not all-pairs).
    QueryDef(
      "dedup_ngram_jaccard",
      (s, d) =>
        Dedup.jaccardPairs(Dedup.withMutants(
            T.documents(s, d).filter(col("doc_id") < JaccardCap)
              .select(col("doc_id"), col("text"))), 3, 0.5)
          .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("da", "db"),
      Some(s"""WITH $MutantCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT da, db, round(i / (sa.n + sb.n - i), 6) AS jaccard
              |FROM inter
              |JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |WHERE i / (sa.n + sb.n - i) >= 0.5
              |ORDER BY da, db""".stripMargin)),

    // Asymmetric containment ≥ 0.9 over corpus+prefix-quotes — the
    // near-superset detector (round 13). The fixture plants the exact
    // failure mode resemblance misses: each doc's 40%-prefix "quote"
    // has containment 1.0 against its source (a prefix's shingles are
    // all source shingles) while its Jaccard is ~0.4 — under the 0.5
    // bar the jaccard gate uses. DedupSpec pins that jaccardPairs@0.5
    // misses every planted pair and containmentPairs@0.9 catches all,
    // and that the hotCap (capped-universe) regime keeps them.
    QueryDef(
      "dedup_containment",
      (s, d) =>
        Dedup.containmentPairs(withQuotes(
            T.documents(s, d).filter(col("doc_id") < JaccardCap)
              .select(col("doc_id"), col("text"))), 3, 0.9)
          .select(col("da"), col("db"),
            round(col("containment"), 6).as("containment"))
          .orderBy("da", "db"),
      Some(s"""WITH $QuoteCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT da, db, round(i / least(sa.n, sb.n), 6) AS containment
              |FROM inter
              |JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |WHERE i / least(sa.n, sb.n) >= 0.9
              |ORDER BY da, db""".stripMargin)),

    // The containment SCALE regime as its own hash-checked gate: the
    // capped universe (shingles carried by more than hotCap documents
    // excluded from intersection AND sizes) is fully SQL-expressible,
    // so the regime that actually runs at corpus scale gets the same
    // oracle treatment as the exact one — the pruned-IVF-gate move.
    // hotCap=3 on this fixture genuinely drops shared shingles (any
    // 3-gram carried by a doc, its mutant, a quote and one more doc),
    // so the gate fails if the cap filter leaks into only one of the
    // two legs.
    QueryDef(
      "dedup_containment_capped",
      (s, d) =>
        Dedup.containmentPairs(withQuotes(
            T.documents(s, d).filter(col("doc_id") < JaccardCap)
              .select(col("doc_id"), col("text"))), 3, 0.9,
            hotCap = Some(3))
          .select(col("da"), col("db"),
            round(col("containment"), 6).as("containment"))
          .orderBy("da", "db"),
      Some(s"""WITH $QuoteCorpus, $Shingles,
              |keep AS (
              |  SELECT sh FROM (SELECT sh, count(*) AS nd FROM tri GROUP BY sh)
              |  WHERE nd <= 3
              |), uni AS (SELECT tri.doc_id, tri.sh FROM tri JOIN keep USING (sh)),
              |sz AS (SELECT doc_id, count(*) AS n FROM uni GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM uni a JOIN uni b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT da, db, round(i / least(sa.n, sb.n), 6) AS containment
              |FROM inter
              |JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |WHERE i / least(sa.n, sb.n) >= 0.9
              |ORDER BY da, db""".stripMargin)),

    // Persisted LSH index + incremental probe: index the base corpus
    // once (band-partitioned), then near-dup-check a NEW batch (the
    // mutants) against it without re-minhashing the corpus — the
    // incremental path a 100 TB ingest pipeline actually runs.
    // HASH-CHECKED (round 11): the gate runs the replayable family
    // through the UNCHANGED index/probe code (write, bsig-sorted layout,
    // pushdown/semi-join regimes, Jaccard verify) and the oracle replays
    // signatures + banding of BOTH sides in SQL — see dedup_minhash_lsh.
    // The fast-family probe path keeps LshIndexSpec's recall/zero-FP pins.
    QueryDef(
      "dedup_lsh_probe",
      (s, d) => {
        val base = T.documents(s, d).filter(col("doc_id") < JaccardCap)
          .select(col("doc_id"), col("text"))
        // the index build is the amortized one-time ingest job — built
        // once per (session, sf) so the gate times the PROBE path
        val idx = graft.util.TempFixtures.dir(s, "lsh_idx61", d) { path =>
          Dedup.writeLshIndex(base, path, family = Dedup.ReplayableFamily)
        }
        val probes = Dedup.withMutants(base.filter(col("doc_id") < 25))
          .filter(col("doc_id") >= 1000000L)
        Dedup.probeLshIndex(s, idx, probes,
            family = Dedup.ReplayableFamily)
          .select(col("q_id"), col("doc_id"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy("q_id", "doc_id")
      },
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id < $JaccardCap
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id,
              |         array_to_string(list_filter(string_split(text, ' '),
              |                                     (x, i) -> i % 10 != 0), ' ') AS text
              |  FROM documents WHERE doc_id < 25
              |),
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |tri AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
              |        FROM w WHERE len(w) >= 3)
              |),
              |sh AS (
              |  SELECT DISTINCT doc_id,
              |         CAST(('0x' || substr(md5(s),1,15)) AS BIGINT) AS h
              |  FROM tri
              |),
              |perm AS (
              |  SELECT k,
              |    CAST(('0x' || substr(md5('mh-a-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) | 1 AS a,
              |    CAST(('0x' || substr(md5('mh-b-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) AS b
              |  FROM range(32) r(k)
              |),
              |sig AS (
              |  SELECT doc_id, k,
              |    min(CAST((CAST(a AS HUGEINT) * h + b) % 2305843009213693951 AS BIGINT)) AS v
              |  FROM sh, perm GROUP BY doc_id, k
              |),
              |bands AS (
              |  SELECT doc_id, CAST(k // 2 AS INT) AS band,
              |    CAST(min(CASE WHEN k % 2 = 0 THEN v END) AS VARCHAR) || ':' ||
              |    CAST(min(CASE WHEN k % 2 = 1 THEN v END) AS VARCHAR) AS bsig
              |  FROM sig GROUP BY doc_id, k // 2
              |),
              |cand AS (
              |  SELECT DISTINCT q.doc_id AS q_id, i.doc_id AS doc_id
              |  FROM bands q JOIN bands i
              |    ON q.band = i.band AND q.bsig = i.bsig
              |  WHERE q.doc_id >= 1000000 AND i.doc_id < 1000000
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.q_id, c.doc_id, count(*) AS i
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.q_id
              |  JOIN sh b ON b.doc_id = c.doc_id AND b.h = a.h
              |  GROUP BY c.q_id, c.doc_id
              |)
              |SELECT q_id, inter.doc_id AS doc_id,
              |       round(i / (sq.n + si.n - i), 6) AS jaccard
              |FROM inter
              |JOIN sz sq ON sq.doc_id = q_id JOIN sz si ON si.doc_id = inter.doc_id
              |WHERE i / (sq.n + si.n - i) >= 0.5
              |ORDER BY q_id, doc_id""".stripMargin)),

    // Persisted-LSH-index MAINTENANCE (Dedup.appendToLshIndex): build
    // the index on the corpus FIRST half only, append the second half
    // (new band/sets files under the existing band= partitions, nothing
    // rewritten, corpus never re-minhashed), then probe with mutants
    // drawn from BOTH halves. The appended-half matches are
    // load-bearing: if the append didn't land, every match for a
    // second-half mutant vanishes and the hash fails. Same replayable
    // family as dedup_lsh_probe, so the oracle replays signatures and
    // banding over the full union the grown index must equal.
    QueryDef(
      "dedup_lsh_append",
      lshGrownProbe("lsh_idx61_grown") { (s, base, path) =>
        Dedup.writeLshIndex(base.filter(col("doc_id") < AppendSplit),
          path, family = Dedup.ReplayableFamily)
        Dedup.appendToLshIndex(path,
          base.filter(col("doc_id") >= AppendSplit),
          family = Dedup.ReplayableFamily)
      },
      Some(LshGrownOracle)),

    // LSH index COMPACTION (round 16): the maintenance step closing the
    // append story — two committed appends leave one file per batch in
    // every band= partition; compactLshIndex rewrites each band into one
    // bsig-sorted file (and the sets into one doc_id-sorted file) via a
    // staged write + crash-recoverable generation swap. Probe results
    // must be IDENTICAL on the compacted layout, so this gate shares
    // dedup_lsh_append's oracle verbatim: a row lost or duplicated by
    // the rewrite, or a torn swap, fails the hash. The appends here run
    // through the exactly-once committed path (appendToLshIndexCommitted),
    // so the gate also exercises promotion + markers end to end.
    QueryDef(
      "dedup_lsh_compact",
      lshGrownProbe("lsh_idx61_compact") { (s, base, path) =>
        Dedup.writeLshIndex(base.filter(col("doc_id") < AppendSplit),
          path, family = Dedup.ReplayableFamily)
        Dedup.appendToLshIndexCommitted(s, path,
          base.filter(col("doc_id") >= AppendSplit &&
            col("doc_id") < AppendSplit + 125),
          batchId = 1L, family = Dedup.ReplayableFamily): Unit
        Dedup.appendToLshIndexCommitted(s, path,
          base.filter(col("doc_id") >= AppendSplit + 125),
          batchId = 2L, family = Dedup.ReplayableFamily): Unit
        Dedup.compactLshIndex(s, path)
      },
      Some(LshGrownOracle)),


    // Incremental "seen-before" novelty check (Dedup.bloomSeen): the
    // deterministic Bloom filter of a history corpus probed by a new
    // batch ∪ planted exact duplicates of history docs — the filter is
    // mBits/32 BIGINT words no matter how large the history, so at
    // 100 TB the membership check is a broadcast, not a join against
    // the archive. md5-derived bit positions + bit_or registers make
    // every verdict (including any false positive) replayable in SQL,
    // so the gate hash-checks; the planted dups make `seen` load-bearing
    // (a filter that never fires would pass a rows-only check).
    QueryDef(
      "dedup_bloom_novel",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val history = docs.filter(col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300)
          .unionByName(docs.filter(col("doc_id") < 30)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        Dedup.bloomSeen(history, batch).orderBy("doc_id")
      },
      Some("""WITH hist AS (SELECT text FROM documents WHERE doc_id < 300),
             |pos AS (
             |  SELECT DISTINCT
             |    (CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || text),1,15)) AS BIGINT) % 32768) AS p
             |  FROM hist CROSS JOIN range(4) r(j)
             |),
             |bloom AS (
             |  SELECT p // 32 AS word,
             |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
             |  FROM pos GROUP BY 1
             |),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 300
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
             |  WHERE doc_id < 30
             |),
             |probe AS (
             |  SELECT doc_id,
             |    (CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || text),1,15)) AS BIGINT) % 32768) AS p
             |  FROM batch CROSS JOIN range(4) r(j)
             |),
             |hit AS (
             |  SELECT probe.doc_id,
             |         CASE WHEN (bloom.bits >> CAST(probe.p % 32 AS INT)) & 1 = 1
             |              THEN 1 ELSE 0 END AS h
             |  FROM probe LEFT JOIN bloom ON bloom.word = probe.p // 32
             |)
             |SELECT doc_id, sum(h) = 4 AS seen
             |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // INCREMENTAL-INGEST capstone (round 15): the per-segment admission
    // decision a 100 TB crawl pipeline runs when a new segment lands,
    // composed from this round's incremental pieces — exact "seen
    // before" via the history's Bloom filter (broadcast, constant-size
    // in history — dedup_bloom_novel's operator) and near-dup via a
    // probe of the PERSISTED history LSH index (no re-minhash of
    // history — dedup_lsh_probe/append's operator). admit = neither.
    // The batch plants all three outcomes: fresh docs (admit), verbatim
    // copies of history docs (seen_exact + near_dup at jaccard 1.0),
    // and mutants of history docs (near_dup only — Bloom correctly
    // misses changed text). Every verdict replays in SQL: the Bloom
    // bits and the MinHash61 banding are both deterministic, so even a
    // Bloom false positive would hash-check.
    QueryDef(
      "dedup_incremental_ingest",
      (s, d) => {
        val base = T.documents(s, d).select(col("doc_id"), col("text"))
        val history = base.filter(col("doc_id") < AppendSplit)
        val batch = base.filter(col("doc_id") >= AppendSplit &&
            col("doc_id") < AppendSplit + 100)
          .unionByName(history.filter(col("doc_id") < 10)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
          .unionByName(Dedup.withMutants(
              history.filter(col("doc_id") >= 20 && col("doc_id") < 30))
            .filter(col("doc_id") >= 1000000L))
        val idx = graft.util.TempFixtures.dir(s, "lsh_hist_idx", d) { path =>
          Dedup.writeLshIndex(history, path, family = Dedup.ReplayableFamily)
        }
        val seen = Dedup.bloomSeen(history, batch)
        val near = Dedup.probeLshIndex(s, idx, batch,
            family = Dedup.ReplayableFamily)
          .groupBy(col("q_id").as("doc_id"))
          .agg(round(max(col("jaccard")), 6).as("best_jaccard"))
        // `seen` is a PROJECTION of batch (one row per batch row, the
        // register-probe shape) — joining batch back onto it would only
        // re-scan the batch union a second time for rows it already has
        seen
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"), col("seen").as("seen_exact"),
            col("best_jaccard").isNotNull.as("near_dup"),
            col("best_jaccard"),
            (!col("seen") && col("best_jaccard").isNull).as("admit"))
          .orderBy("doc_id")
      },
      Some(s"""WITH hist AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id < $AppendSplit
              |),
              |batch AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE doc_id >= $AppendSplit AND doc_id < ${AppendSplit + 100}
              |  UNION ALL
              |  SELECT doc_id + 3000000 AS doc_id, text FROM documents
              |  WHERE doc_id < 10
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id,
              |         array_to_string(list_filter(string_split(text, ' '),
              |                                     (x, i) -> i % 10 != 0), ' ') AS text
              |  FROM documents WHERE doc_id >= 20 AND doc_id < 30
              |),
              |bpos AS (
              |  SELECT DISTINCT
              |    (CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || text),1,15)) AS BIGINT) % 32768) AS p
              |  FROM hist CROSS JOIN range(4) r(j)
              |),
              |bloom AS (
              |  SELECT p // 32 AS word,
              |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
              |  FROM bpos GROUP BY 1
              |),
              |bprobe AS (
              |  SELECT doc_id,
              |    (CAST(('0x' || substr(md5('bloom-' || CAST(j AS VARCHAR) || ':' || text),1,15)) AS BIGINT) % 32768) AS p
              |  FROM batch CROSS JOIN range(4) r(j)
              |),
              |seen AS (
              |  SELECT bprobe.doc_id,
              |         sum(CASE WHEN (bloom.bits >> CAST(bprobe.p % 32 AS INT)) & 1 = 1
              |                  THEN 1 ELSE 0 END) = 4 AS seen
              |  FROM bprobe LEFT JOIN bloom ON bloom.word = bprobe.p // 32
              |  GROUP BY 1
              |),
              |corpus AS (
              |  SELECT doc_id, text FROM hist
              |  UNION ALL SELECT doc_id, text FROM batch
              |),
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |tri AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
              |        FROM w WHERE len(w) >= 3)
              |),
              |sh AS (
              |  SELECT DISTINCT doc_id,
              |         CAST(('0x' || substr(md5(s),1,15)) AS BIGINT) AS h
              |  FROM tri
              |),
              |perm AS (
              |  SELECT k,
              |    CAST(('0x' || substr(md5('mh-a-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) | 1 AS a,
              |    CAST(('0x' || substr(md5('mh-b-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) AS b
              |  FROM range(32) r(k)
              |),
              |sig AS (
              |  SELECT doc_id, k,
              |    min(CAST((CAST(a AS HUGEINT) * h + b) % 2305843009213693951 AS BIGINT)) AS v
              |  FROM sh, perm GROUP BY doc_id, k
              |),
              |bands AS (
              |  SELECT doc_id, CAST(k // 2 AS INT) AS band,
              |    CAST(min(CASE WHEN k % 2 = 0 THEN v END) AS VARCHAR) || ':' ||
              |    CAST(min(CASE WHEN k % 2 = 1 THEN v END) AS VARCHAR) AS bsig
              |  FROM sig GROUP BY doc_id, k // 2
              |),
              |cand AS (
              |  SELECT DISTINCT q.doc_id AS q_id, i.doc_id AS doc_id
              |  FROM bands q JOIN bands i
              |    ON q.band = i.band AND q.bsig = i.bsig
              |  WHERE q.doc_id >= $AppendSplit AND i.doc_id < $AppendSplit
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.q_id, c.doc_id, count(*) AS i
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.q_id
              |  JOIN sh b ON b.doc_id = c.doc_id AND b.h = a.h
              |  GROUP BY c.q_id, c.doc_id
              |),
              |near AS (
              |  SELECT q_id AS doc_id, round(max(i / (sq.n + si.n - i)), 6) AS best_jaccard
              |  FROM inter
              |  JOIN sz sq ON sq.doc_id = q_id
              |  JOIN sz si ON si.doc_id = inter.doc_id
              |  WHERE i / (sq.n + si.n - i) >= 0.5
              |  GROUP BY q_id
              |)
              |SELECT b.doc_id, s.seen AS seen_exact,
              |       near.best_jaccard IS NOT NULL AS near_dup,
              |       near.best_jaccard,
              |       (NOT s.seen AND near.best_jaccard IS NULL) AS admit
              |FROM batch b
              |JOIN seen s ON s.doc_id = b.doc_id
              |LEFT JOIN near ON near.doc_id = b.doc_id
              |ORDER BY b.doc_id""".stripMargin)),

    // Edit-distance near-dups: lossless length-band blocking + exact
    // Levenshtein on an 80-char prefix (Dedup.editDistanceNearDups).
    // The oracle recomputes all length-compatible pairs brute-force —
    // blocking must lose nothing for the hashes to match.
    QueryDef(
      "dedup_editdistance",
      (s, d) => {
        val corpus = Dedup.withMutants(
          T.documents(s, d).filter(col("doc_id") < JaccardCap)
            .select(col("doc_id"), col("text")))
        Dedup.editDistanceNearDups(corpus).orderBy("da", "db")
      },
      Some(s"""WITH $MutantCorpus,
              |keyed AS (
              |  SELECT doc_id, substr(lower(text), 1, 80) AS s,
              |         length(substr(lower(text), 1, 80)) AS len
              |  FROM corpus
              |)
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
              |FROM keyed a JOIN keyed b
              |  ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 12
              |WHERE levenshtein(a.s, b.s) <= 12
              |ORDER BY da, db""".stripMargin)),

    // Dedup endgame: exact-Jaccard pairs → connected components →
    // survivor election (min doc_id per component). Components via the
    // ADAPTIVE strategy: measured edge count picks single-task union-find
    // (common case — the pair graph is tiny next to the corpus) or the
    // O(log n)-round large-star/small-star contraction (the 100 TB
    // long-chain path); oracle via recursive CTE.
    QueryDef(
      "dedup_components",
      (s, d) => {
        val corpus = Dedup.withMutants(
          T.documents(s, d).filter(col("doc_id") < JaccardCap)
            .select(col("doc_id"), col("text")))
        val comp = Dedup.connectedComponentsAdaptive(Dedup.jaccardPairs(corpus, 3, 0.5))
        corpus.select(col("doc_id"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .withColumn("is_survivor", col("component") === col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $MutantCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), pairs AS (
              |  SELECT da, db FROM inter
              |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |  WHERE i / (sa.n + sb.n - i) >= 0.5
              |), edges AS (
              |  SELECT da AS a, db AS b FROM pairs
              |  UNION ALL SELECT db, da FROM pairs
              |), reach(id, r) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
              |), comp AS (
              |  SELECT id, min(r) AS component FROM reach GROUP BY id
              |)
              |SELECT c.doc_id,
              |       coalesce(comp.component, c.doc_id) AS component,
              |       coalesce(comp.component, c.doc_id) = c.doc_id AS is_survivor
              |FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
              |ORDER BY c.doc_id""".stripMargin)),

    // Leakage-safe split: near-dup COMPONENTS are the assignment unit —
    // a val document can never have a near-duplicate in train. Same
    // component machinery as dedup_components, then the bernoulli md5
    // draw on the COMPONENT id (rateThreshold(0.25) = '40000000').
    QueryDef(
      "dedup_leakage_split",
      (s, d) => {
        val corpus = Dedup.withMutants(
          T.documents(s, d).filter(col("doc_id") < JaccardCap)
            .select(col("doc_id"), col("text")))
        Sampling.leakageSafeSplit(corpus, col("doc_id"),
            Dedup.jaccardPairs(corpus, 3, 0.5), valFrac = 0.25)
          .withColumnRenamed("doc_key", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $MutantCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), pairs AS (
              |  SELECT da, db FROM inter
              |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |  WHERE i / (sa.n + sb.n - i) >= 0.5
              |), edges AS (
              |  SELECT da AS a, db AS b FROM pairs
              |  UNION ALL SELECT db, da FROM pairs
              |), reach(id, r) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
              |), comp AS (
              |  SELECT id, min(r) AS component FROM reach GROUP BY id
              |)
              |SELECT c.doc_id,
              |       coalesce(comp.component, c.doc_id) AS component,
              |       CASE WHEN substr(md5(CAST(coalesce(comp.component, c.doc_id) AS VARCHAR)), 1, 8)
              |                 < '40000000' THEN 'val' ELSE 'train' END AS split
              |FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
              |ORDER BY c.doc_id""".stripMargin)),

    // Quality-aware survivor election: per component keep the
    // HIGHEST-quality member (tie: lowest id) — one max_by over
    // struct(quality, -id), no window sort. Mutants drop ~10% of
    // tokens, so the original usually out-scores its mutant and the
    // election is non-trivially different from min-id.
    QueryDef(
      "dedup_elect_survivors",
      (s, d) => {
        val corpus = Dedup.withMutants(
          T.documents(s, d).filter(col("doc_id") < JaccardCap)
            .select(col("doc_id"), col("text")))
        val quality = graft.operators.TextOps.qualityScore(corpus)
          .withColumnRenamed("doc_id", "doc_key")
        Dedup.electSurvivors(corpus, col("doc_id"),
            Dedup.jaccardPairs(corpus, 3, 0.5), quality)
          .withColumnRenamed("doc_key", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $MutantCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), pairs AS (
              |  SELECT da, db FROM inter
              |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |  WHERE i / (sa.n + sb.n - i) >= 0.5
              |), edges AS (
              |  SELECT da AS a, db AS b FROM pairs
              |  UNION ALL SELECT db, da FROM pairs
              |), reach(id, r) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
              |), comp AS (
              |  SELECT id, min(r) AS component FROM reach GROUP BY id
              |), qw AS (
              |  SELECT doc_id, string_split(lower(text),' ') AS w FROM corpus
              |), q AS (
              |  SELECT doc_id,
              |    round(least(CAST(len(w) AS DOUBLE) / 200.0, 1.0) * 0.5
              |      + CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 0.3
              |      + least(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
              |              / len(w) * 5.0, 1.0) * 0.2, 6) AS quality
              |  FROM qw
              |), wc AS (
              |  SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS component,
              |         q.quality
              |  FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
              |  JOIN q ON q.doc_id = c.doc_id
              |), ranked AS (
              |  SELECT doc_id, component, quality,
              |    row_number() OVER (PARTITION BY component
              |                       ORDER BY quality DESC, doc_id ASC) AS rn
              |  FROM wc
              |)
              |SELECT doc_id, component, quality, rn = 1 AS is_survivor
              |FROM ranked ORDER BY doc_id""".stripMargin)),

    // Soft dedup (round 11): weight each doc by 1/|near-dup component|
    // instead of dropping losers — a duplicate CLUSTER contributes one
    // document's worth of training mass while keeping intra-cluster
    // diversity. Same component machinery as dedup_components; the
    // weight is one double division, so the oracle is exact.
    QueryDef(
      "dedup_soft_weights",
      (s, d) => {
        val corpus = Dedup.withMutants(
          T.documents(s, d).filter(col("doc_id") < JaccardCap)
            .select(col("doc_id"), col("text")))
        Dedup.softDedupWeights(corpus, col("doc_id"),
            Dedup.jaccardPairs(corpus, 3, 0.5))
          .withColumnRenamed("doc_key", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $MutantCorpus, $Shingles,
              |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), pairs AS (
              |  SELECT da, db FROM inter
              |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |  WHERE i / (sa.n + sb.n - i) >= 0.5
              |), edges AS (
              |  SELECT da AS a, db AS b FROM pairs
              |  UNION ALL SELECT db, da FROM pairs
              |), reach(id, r) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
              |), comp AS (
              |  SELECT id, min(r) AS component FROM reach GROUP BY id
              |), wc AS (
              |  SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS component
              |  FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id
              |), csz AS (
              |  SELECT component, CAST(count(*) AS BIGINT) AS csize
              |  FROM wc GROUP BY component
              |)
              |SELECT wc.doc_id, wc.component, csz.csize,
              |       round(CAST(1.0 AS DOUBLE) / csz.csize, 6) AS weight
              |FROM wc JOIN csz USING (component)
              |ORDER BY wc.doc_id""".stripMargin)),

    // Duplicated-span coverage (substring-dedup signal, Lee et al.): the
    // share of each document's distinct 8-gram shingles that occur in at
    // least one OTHER document — O(corpus) postings counting, no pair
    // join, so it runs on the FULL mutant corpus like simhash.
    QueryDef(
      "dedup_span_coverage",
      (s, d) =>
        Dedup.spanCoverage(
            Dedup.withMutants(
              T.documents(s, d).select(col("doc_id"), col("text"))),
            col("doc_id"), col("text"), n = 8)
          .withColumnRenamed("doc_key", "doc_id")
          .orderBy("doc_id"),
      Some(s"""WITH $MutantCorpusFull,
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |sg AS (
              |  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7],' ')) AS sh
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i
              |        FROM w WHERE len(w) >= 8)
              |), nd AS (SELECT sh, count(*) AS nd FROM sg GROUP BY sh)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |       CAST(count(*) FILTER (nd.nd >= 2) AS BIGINT) AS n_shared,
              |       round(CAST(count(*) FILTER (nd.nd >= 2) AS DOUBLE) / count(*), 6) AS coverage
              |FROM sg JOIN nd USING (sh)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Shared-span REMOVAL (round 11) — the rewrite step of substring
    // dedup: tokens covered by any cross-document 8-gram are cut and
    // the doc reassembled in position order; the oracle verifies the
    // REWRITE (cleaned-text md5), not just counts. Runs the full
    // mutant corpus — every mutant shares long spans with its original,
    // so removal is heavy and load-bearing.
    QueryDef(
      "dedup_remove_spans",
      (s, d) =>
        Dedup.removeSharedSpans(
            Dedup.withMutants(
              T.documents(s, d).select(col("doc_id"), col("text"))),
            col("doc_id"), col("text"), n = 8)
          .withColumnRenamed("doc_key", "doc_id")
          .orderBy("doc_id"),
      Some(s"""WITH $MutantCorpusFull,
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |pos AS (
              |  SELECT doc_id, i, md5(array_to_string(w[i:i+7],' ')) AS sh
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i
              |        FROM w WHERE len(w) >= 8)
              |),
              |nd AS (SELECT sh, count(DISTINCT doc_id) AS nd FROM pos GROUP BY sh),
              |cov AS (
              |  SELECT DISTINCT doc_id, p FROM (
              |    SELECT doc_id, unnest(generate_series(i, i+7)) AS p
              |    FROM pos JOIN nd USING (sh) WHERE nd.nd >= 2)
              |),
              |tok AS (
              |  SELECT doc_id, p, w[p] AS tok
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM w)
              |),
              |kept AS (
              |  SELECT t.doc_id, t.p, t.tok FROM tok t
              |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
              |  WHERE c.p IS NULL
              |),
              |stats AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
              |  FROM tok GROUP BY doc_id
              |),
              |cl AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              |         md5(string_agg(tok, ' ' ORDER BY p)) AS m
              |  FROM kept GROUP BY doc_id
              |)
              |SELECT s.doc_id, s.n_tokens,
              |  s.n_tokens - coalesce(cl.n_kept, CAST(0 AS BIGINT)) AS n_removed,
              |  coalesce(cl.m, md5('')) AS cleaned_md5
              |FROM stats s LEFT JOIN cl USING (doc_id)
              |ORDER BY s.doc_id""".stripMargin)),

    // MinHash + banded LSH (r=2, b=16): the scale path — candidates from
    // a bucket equi-join, exact Jaccard verify on candidates only.
    // HASH-CHECKED (round 11): the gate runs the REPLAYABLE hash family
    // (md5-derived 60-bit shingle hashes, affine permutations mod 2^61−1
    // with md5-derived coefficients — functions/MinHash61.scala) through
    // the IDENTICAL pipeline code, and the oracle replays every step in
    // SQL: base hash = first 15 md5 hex chars, permutation = HUGEINT
    // (a*h+b) % (2^61−1), banding = the same v:v strings, candidate join
    // on (band, bsig), exact Jaccard on candidates. The production
    // xxhash64/Murmur3 family stays on the scale paths, pinned by
    // MinHashSigSpec bit-equality + DedupSpec recall floors.
    QueryDef(
      "dedup_minhash_lsh",
      (s, d) =>
        Dedup.lshNearDups(Dedup.withMutants(
            T.documents(s, d).select(col("doc_id"), col("text"))), 3, 0.5,
            family = Dedup.ReplayableFamily)
          .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("da", "db"),
      Some(s"""WITH $MutantCorpusFull,
              |w AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
              |tri AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s
              |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
              |        FROM w WHERE len(w) >= 3)
              |),
              |sh AS (
              |  SELECT DISTINCT doc_id,
              |         CAST(('0x' || substr(md5(s),1,15)) AS BIGINT) AS h
              |  FROM tri
              |),
              |perm AS (
              |  SELECT k,
              |    CAST(('0x' || substr(md5('mh-a-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) | 1 AS a,
              |    CAST(('0x' || substr(md5('mh-b-' || CAST(k AS VARCHAR)),1,15)) AS BIGINT) AS b
              |  FROM range(32) r(k)
              |),
              |sig AS (
              |  SELECT doc_id, k,
              |    min(CAST((CAST(a AS HUGEINT) * h + b) % 2305843009213693951 AS BIGINT)) AS v
              |  FROM sh, perm GROUP BY doc_id, k
              |),
              |bands AS (
              |  SELECT doc_id, CAST(k // 2 AS INT) AS band,
              |    CAST(min(CASE WHEN k % 2 = 0 THEN v END) AS VARCHAR) || ':' ||
              |    CAST(min(CASE WHEN k % 2 = 1 THEN v END) AS VARCHAR) AS bsig
              |  FROM sig GROUP BY doc_id, k // 2
              |),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.da, c.db, count(*) AS i
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.da
              |  JOIN sh b ON b.doc_id = c.db AND b.h = a.h
              |  GROUP BY c.da, c.db
              |)
              |SELECT da, db, round(i / (sa.n + sb.n - i), 6) AS jaccard
              |FROM inter
              |JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |WHERE i / (sa.n + sb.n - i) >= 0.5
              |ORDER BY da, db""".stripMargin)),

    // SimHash Hamming-≤3 pairs via 4×15-bit banding. The banding is
    // pigeonhole-COMPLETE for the ≤3 radius (3 flipped bits leave ≥1 of 4
    // bands intact), so the output is exactly ALL pairs at Hamming ≤ 3 —
    // which makes the exact all-pairs SQL a true oracle. The SQL replays
    // the fused simhash60 arithmetic (functions/SimHash.scala): per
    // distinct token, h = first 15 md5 hex chars as a 60-bit int; bit j
    // of the signature is the sign of Σ cnt·(±1 from bit j of h) — all
    // integer ops, so accumulation order cannot diverge.
    QueryDef(
      "dedup_simhash",
      (s, d) =>
        Dedup.simhashNearDups(Dedup.withMutants(
            T.documents(s, d).select(col("doc_id"), col("text"))))
          .orderBy("da", "db"),
      Some(s"""WITH $MutantCorpusFull,
              |tok AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus
              |), tc AS (
              |  SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY doc_id, t
              |), th AS (
              |  SELECT doc_id, cnt,
              |         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
              |  FROM tc
              |), bits AS (
              |  SELECT doc_id, r.j,
              |         sum(CASE WHEN (h >> r.j) & 1 = 1 THEN cnt ELSE -cnt END) AS s
              |  FROM th, range(60) r(j) GROUP BY doc_id, r.j
              |), sig AS (
              |  SELECT doc_id,
              |         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
              |  FROM bits GROUP BY doc_id
              |)
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY da, db""".stripMargin)),

    // Embedding-cosine near-dups over the FULL corpus ∪ dim0-zeroed
    // mutants, via the IVF-bucketed scale path (no corpus broadcast, no
    // all-pairs; scores rounded to 5dp so double-summation order noise
    // cannot flip the hash). The oracle is the exact all-pairs join —
    // feasible in DuckDB at sf0.01 — so this gate also demonstrates the
    // bucketed path recovers every ≥0.9 pair at full cardinality.
    QueryDef(
      "dedup_embedding_cosine",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val mutants = base.select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
        val corpus = base.unionByName(mutants)
        // cells sized to ~64 vectors each: the bucketed pair join costs
        // Σ|cell|², so cell count must GROW with the corpus (fixed cells
        // = quadratic creep); floor of 16 keeps small inputs stable.
        // Measured at sf0.1: 16 cells → 16 s pair join, 64 cells → 3.4 s,
        // identical pair output (full recall) at every cell count.
        val n = 2 * T.embeddings(s, d).count()
        val ncells = math.max(16, math.ceil(n / 64.0).toInt)
        val idx = Similarity.ivfIndexCached(s, s"neardup:$d", ncells)(corpus)
        Similarity.cosineNearDupsIvf(corpus, 0.9, ncells = ncells,
          index = Some(idx)).orderBy("va", "vb")
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 1000000 AS vec_id,
              |         list_transform(embedding, (x, i) ->
              |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END) AS embedding
              |  FROM embeddings
              |)
              |SELECT a.vec_id AS va, b.vec_id AS vb,
              |       round($CosineSql, 5) AS score
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE round($CosineSql, 5) >= 0.9
              |ORDER BY va, vb""".stripMargin)),

    // Embedding near-dups, random-hyperplane LSH variant: index-free
    // (seeded constant hyperplanes — composes with incremental ingest,
    // unlike IVF whose centroids age), banded sign-bit signatures →
    // bucket equi-join candidates → exact cosine verify. The recall is
    // probabilistic but the CANDIDATE SET is deterministic given the
    // seeded planes, so the oracle replays the banding itself
    // ([[rhpPlanesValuesSql]]): same planes, same sequential index-order
    // double dot products, same sign-bit packing (band = k/15, bit =
    // k%15), then the exact ≥0.9 verify on the identical candidates.
    QueryDef(
      "dedup_embedding_rhp",
      (s, d) => {
        val base = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val mutants = base.select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
        Similarity.cosineNearDupsRhp(base.unionByName(mutants), 0.9)
          .orderBy("va", "vb")
      },
      // dims=64 is pinned by SchemaCanarySpec's embeddings schema; the
      // plane table must regenerate if the testdata ever changes width
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 1000000 AS vec_id,
              |         list_transform(embedding, (x, i) ->
              |           CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE x END) AS embedding
              |  FROM embeddings
              |),
              |${rhpPlanesValuesSql(nbits = 120, dims = 64, seed = 42L)},
              |proj AS (
              |  SELECT vec_id, k,
              |         list_sum(list_transform(list_zip(embedding, w),
              |           p -> CAST(p[1] AS DOUBLE) * p[2])) AS dot
              |  FROM e CROSS JOIN planes
              |), sig AS (
              |  SELECT vec_id, k // 15 AS band,
              |         sum(CASE WHEN dot > 0
              |             THEN (CAST(1 AS BIGINT) << (k % 15)) ELSE 0 END) AS bkey
              |  FROM proj GROUP BY vec_id, k // 15
              |), cand AS (
              |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
              |  FROM sig x JOIN sig y
              |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
              |)
              |SELECT va, vb, round($CosineSql, 5) AS score
              |FROM cand
              |JOIN e a ON a.vec_id = va
              |JOIN e b ON b.vec_id = vb
              |WHERE round($CosineSql, 5) >= 0.9
              |ORDER BY va, vb""".stripMargin))
  )
}
