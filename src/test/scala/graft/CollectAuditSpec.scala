package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-materialization audit (round-9 verdict item 3): every
  * Dataset-action site in src/main (`collect()`, `head()`, `first()`,
  * `collectAsList`, `toLocalIterator`) must sit on the whitelist below,
  * each entry carrying the contract that bounds what reaches the driver.
  * A new unlisted site fails this spec with its file:line — the Bpe
  * uncapped-collect regression (VERDICT r9 "What's wrong #1") entered
  * exactly through the gap this closes.
  *
  * The whitelist is (file name, distinctive line substring, contract):
  * substring matching survives line-number drift; every entry must still
  * match at least one live site, so stale entries fail too.
  */
class CollectAuditSpec extends AnyFunSuite {

  /** (file, substring-of-line, why the driver-side result is bounded) */
  private val whitelist: Seq[(String, String, String)] = Seq(
    ("FhirSearch.scala", ".collect().toSeq.map(r => (r.getString(0), r.getString(1)))",
      "ValueSet expansion at plan time — terminology tables are metadata-scale"),
    ("FhirSearch.scala", ".select(col(\"concept\")).collect()",
      "CodeSystem hierarchy closure at plan time — terminology-scale"),
    ("FhirSearch.scala", ".as[(String, String, String)].collect().toSeq",
      "$expand intensional include specs — one row per compose.include " +
        "FILTER of one ValueSet (terminology metadata, never data-scale); " +
        "the closure they drive becomes scan-pushable literals"),
    ("Bpe.scala", ".as[(String, Long)].collect()",
      "training vocab, bounded by orderBy(cnt desc, w).limit(vocabCap) — top-N TakeOrdered"),
    ("Layout.scala", "df.agg(aggs.head, aggs.tail: _*).head()",
      "one aggregate row: min/max envelope for z-value literals"),
    ("Layout.scala", ".collect().map(_.get(0)).toSeq",
      "merge touched-partition values — one row per touched PARTITION (days touched, not rows), the partition-prune key set"),
    // (the merge's staged-distinct collect was removed in r21: emptied
    // partitions now come from diffing staged DIRECTORY NAMES — pure
    // filesystem metadata, no driver materialization at all)
    ("Sampling.scala", ".orderBy(\"pid\").collect()",
      "two-phase prefix sum, phase 1: per-range token sums — one row per non-empty range (≤ nRanges), the broadcast base-offset table"),
    ("Layout.scala", ".orderBy(\"_pid\").collect()",
      "two-phase count scan, phase 1: per-range row counts — one row per non-empty range (≤ nRanges), the broadcast base-offset table for dense global ids"),
    ("Dedup.scala", ".collect().map(_.get(0)).toSeq",
      "LSH probe small regime — limit(maxPushdownSigs + 1) before collect; large regime stays distributed"),
    ("Sketches.scala", ".select(col(\"word\"), col(\"bits\")).collect()",
      "bloomProbe register fold — the Bloom register table is ≤ mBits/32 " +
        "rows by bloomBits's construction (constant in corpus size, the " +
        "same bound that let it broadcast); it rides into the probe plan " +
        "as a dense literal array so the verdict needs no join or per-id " +
        "aggregation exchange"),
    ("Dedup.scala", ".head().getLong(0)",
      "scalar convergence aggregate (one row per label-propagation round)"),
    ("Dedup.scala", "count_distinct(col(\"doc_id\"))).head()",
      "containment saturation guard — one aggregate row (postings, " +
        "distinct shingles, docs) over the cached postings frame, the " +
        "mass ESTIMATE measured BEFORE the candidate join can go " +
        "quadratic"),
    ("Dedup.scala", "lit(0L))).head()",
      "scalar edge-set signature aggregate (one row per contraction round)"),
    ("Similarity.scala", ".limit(sampleCap).collect()",
      "k-means/PQ training sample — limit(sampleCap) contract (IVF + PQ sites)"),
    ("Similarity.scala", ".collect().map(_.getSeq[Double](0).toSeq)",
      "kmeansFit seed draw — limit(k) rows, the same bounded footprint " +
        "centersOf holds per iteration (replaces the partition-less " +
        "seed window that warned on every fit)"),
    ("Similarity.scala", "cents.orderBy(\"cell\").collect()",
      "centroid frame — ncells rows by construction, metadata-sized"),
    // persisted-index centroid/codebook/bounds JSON reads moved to
    // graft.util.MetaJson (driver-side FS read, no Dataset action)
    ("Similarity.scala", ".orderBy(\"dim\").collect()",
      "SQ8 per-dim (lo, hi) bounds — ≤ dims rows by construction (the groupBy key is the embedding index)"),
    ("FhirStore.scala", "count_distinct(col(\"id\"))).head()",
      "update-create duplicate-id guard — one aggregate row (count + " +
        "distinct count) over one micro-batch"),
    ("CommittedAppend.scala", "else frames.reduce(_ unionByName _).collect()",
      "staged-batch content fingerprint — one aggregate row PER TOP-LEVEL " +
        "staged subtree (count + bit_xor of row hashes; ≤ a handful of " +
        "schemas per batch), unioned into one job over one " +
        "micro-batch-sized staging tree"),
    ("SimilarityPack.scala", "countDistinct(col(\"label\"))).head().getLong(0)",
      "sized-quantizer split factor — one aggregate row (distinct label " +
        "count) at gate-build time"),
    ("Similarity.scala", "coalesce(max(\"n\"), lit(0L))).head()",
      "IVF cell-balance stats (the refit drift signal) — one aggregate " +
        "row over the per-cell counts (sum/max coalesced so an empty " +
        "index reads as zeros, not an NPE)"))

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** A line is a Dataset-action candidate unless it is pure comment. */
  private[graft] def isActionSite(line: String): Boolean =
    !isComment(line) && CollectAuditSpec.actionRe.findFirstIn(line).isDefined

  /** A session conf set or unset, outside comments. */
  private[graft] def isConfMutation(line: String): Boolean =
    !isComment(line) && CollectAuditSpec.confRe.findFirstIn(line).isDefined

  private def mainSources(): Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  test("every Dataset action in src/main is on the documented whitelist") {
    val violations = Seq.newBuilder[String]
    val matchedEntries = scala.collection.mutable.Set[Int]()
    for (p <- mainSources()) {
      val fname = p.getFileName.toString
      val lines = Files.readAllLines(p).asScala
      for ((line, i) <- lines.zipWithIndex if isActionSite(line)) {
        val hit = whitelist.zipWithIndex.collect {
          case ((f, sub, _), wi) if f == fname && line.contains(sub) => wi
        }
        if (hit.isEmpty) violations += s"$p:${i + 1}: ${line.trim}"
        else matchedEntries ++= hit
      }
    }
    val vs = violations.result()
    assert(vs.isEmpty,
      "unlisted driver-materialization site(s) — either remove the " +
        "driver-side action or add a whitelist entry WITH the contract " +
        "that bounds it:\n  " + vs.mkString("\n  "))
    val stale = whitelist.zipWithIndex.collect {
      case ((f, sub, _), wi) if !matchedEntries(wi) => s"$f :: $sub"
    }
    assert(stale.isEmpty,
      "stale whitelist entries (no matching live site):\n  " + stale.mkString("\n  "))
  }

  test("no session conf is set or unset in src/main outside Regime") {
    // a scoped set-and-restore on a caller's session leaks into every
    // concurrent query on it, and overlapping scopes restore each other's
    // values; fixed settings run on graft.util.Regime's clone sessions
    val vs = for {
      p <- mainSources() if p.getFileName.toString != "Regime.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if isConfMutation(line)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(vs.isEmpty, "conf mutation outside graft.util.Regime — run the " +
      "body in a Regime instead:\n  " + vs.mkString("\n  "))
  }

  test("the matcher catches a planted violation and skips comments") {
    assert(isConfMutation("""    spark.conf.set("spark.sql.adaptive.enabled", "false")"""))
    assert(isConfMutation("""      case None => s.conf.unset(key)"""))
    assert(!isConfMutation("""    // spark.conf.set(k, v) would leak"""))
    assert(isActionSite("""    val rows = df.filter(ok).collect()"""))
    assert(isActionSite("""    val r = frame.head()"""))
    assert(isActionSite("""    val r = ds.first()"""))
    assert(isActionSite("""    val it = big.toLocalIterator()"""))
    assert(isActionSite("""    val l = df.collectAsList()"""))
    assert(!isActionSite("""    // df.collect() would OOM here"""))
    assert(!isActionSite("""    * driver-side .collect() is bounded by"""))
    assert(!isActionSite("""    val h = aggs.head"""), "bare .head without parens is a local op")
    assert(!isActionSite("""    val s = msg.take(200)"""), ".take on local collections is out of scope")
  }
}

object CollectAuditSpec {
  private val actionRe =
    """\.(collect|head|first|collectAsList|toLocalIterator)\s*\(""".r
  private val confRe = """conf\.(set|unset)\s*\(""".r
}
