package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once batch APPENDS into a partitioned parquet layout, for
  * at-least-once schedulers (foreachBatch, retrying crons) that must be
  * able to call blindly — the shared machinery behind
  * [[graft.operators.Dedup.appendToLshIndexCommitted]] and
  * [[graft.operators.Similarity.appendToIvfIndexCommitted]].
  *
  * Caller contract: `stageWrites(batch, stagingDir)` writes the batch's
  * rows CONTENT-DETERMINISTICALLY in mode(overwrite) under `stagingDir`,
  * mirroring the live tree's relative layout (e.g.
  * `<stage>/cells/cell=X/…` for a live `<root>/cells/cell=X/…`).
  * Content-deterministic means a retry regenerates the same ROWS under
  * the same relative DIRECTORIES (the fingerprint below verifies
  * exactly that, order-free across files). The row-to-FILE split
  * within a directory need not reproduce: `repartitionByRange(n,
  * keys)` resamples its bounds per attempt (Spark seeds the reservoir
  * by rdd id), so promotion converges by WHOLESALE REPLACE — a retry
  * first clears every file a crashed prior attempt promoted for this
  * batch (uncommitted: no marker yet), then renames its own staging in
  * — never by a skip-existing merge of two attempts' splits, which
  * could duplicate or drop rows that moved across a file boundary.
  * Directory ROUTING (partitionBy columns) must still reproduce:
  * `repartition(col(partitionCol))` hash routing is stable, and the
  * fingerprint folds the relative subpath to verify it.
  *
  * `run` then gives exactly-once from three pieces:
  *  1. a `_committed/batch-<id>` marker under the root — a fully landed
  *     batch short-circuits to a no-op (returns false);
  *  2. the deterministic staging above — a retry that finds no marker
  *     rewrites staging from scratch (overwrite), so partial staging is
  *     never promoted;
  *  3. promotion first CLEARS any files a crashed prior attempt
  *     promoted for this batch (uncommitted — no marker — so this is
  *     rollback, not data loss), then renames the fresh staging to
  *     deterministic live names (`batch-<id>-<i>.parquet`, files
  *     sorted by name within each dir) — so a crash at ANY point
  *     (mid-staging, mid-promotion, before the marker) replays to the
  *     exact same live rows with none duplicated, regardless of how
  *     the retry split rows across files;
  *  4. the content-determinism the caller promises is VERIFIED, not
  *     assumed: a fingerprint recorded before the first promotion is
  *     compared on every retry, so a retry staging different ROWS
  *     (caller bug, changed session config) fails loudly instead of
  *     silently replacing one generation's content with another's.
  *
  * The `_`-prefixed staging/marker dirs sit inside the root and are
  * invisible to readers (exact-subdir reads plus Hadoop's hidden-path
  * filter); nothing existing is rewritten.
  *
  * Promotion relies on atomic FILE rename (local FS, HDFS). Plain S3A
  * emulates rename as copy+delete — convergence (clear-then-promote
  * wholesale replace) still holds because a retry re-clears and
  * re-promotes from scratch, but the window where a batch's live files
  * are partially cleared/copied is LONGER than a rename (each copy is
  * O(file size)); prefer an atomic-rename layer for large segments on
  * raw object storage.
  */
object CommittedAppend {

  /** Scale-adaptive staged-file width for a committed append: enough
    * range slices that a backfill-sized batch parquet-encodes core-wide
    * (the r20-measured 4.2× on a 1M-row backfill), but a micro-batch
    * stages ONE file instead of `spark.sql.shuffle.partitions`
    * near-empty ones — every staged file is paid for three more times
    * downstream (fingerprint read, promote rename, compaction fold),
    * and at 100 TB sink health is file-SIZE driven (guide §6), not
    * core-count driven. Deliberately row-based, not plan-stats based:
    * the caller has the batch in hand (usually cached), a row count is
    * deterministic across retries, and size estimates from JSON/stream
    * sources are unreliable. `spark.graft.append.rowsPerStagedFile`
    * (default 32768) tunes the slice size per deployment; the width is
    * capped at spark.sql.shuffle.partitions as before.
    */
  def outFilesFor(spark: SparkSession, rows: Long): Int = {
    val rowsPerFile = spark.conf
      .getOption("spark.graft.append.rowsPerStagedFile")
      .map(_.toLong).getOrElse(32768L)
    val cap = spark.sessionState.conf.numShufflePartitions.toLong
    math.min(cap, math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)).toInt
  }

  /** Slice a staged frame into `n` range-partitioned files — or, for the
    * micro-batch common case `n == 1`, into one partition WITHOUT range
    * partitioning: RangePartitioning samples its bounds in a separate
    * job even when there is only one slice (r22 event-log profile: one
    * bounds-sampling job per staged write per micro-batch), and a single
    * slice has no bounds to sample. Content is identical either way —
    * every row lands in the one slice and the caller's
    * `sortWithinPartitions` fixes the order; the fingerprint is
    * split-invariant regardless.
    */
  def stagedSlices(df: org.apache.spark.sql.DataFrame, n: Int,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    if (n <= 1) df.repartition(1) else df.repartitionByRange(n, keys: _*)

  /** Land `batch` as batch `batchId` of `root`. A committed append
    * stages micro-batch-sized content by contract: its staging write,
    * fingerprint read-back and promote are fixed, bounded plans, so
    * `stageWrites` runs in the [[Regime.microBatch]] regime and gets
    * `batch` rebound onto it — every read it makes goes through that
    * frame's session.
    */
  def run(spark: SparkSession, root: String, batchId: Long, batch: DataFrame)(
      stageWrites: (DataFrame, String) => Unit): Boolean =
    Regime.run(spark, Regime.microBatch(spark))(batch) { case (s, Seq(b)) =>
      runBody(s, root, batchId)(stageWrites(b, _)) }

  private def runBody(spark: SparkSession, root: String, batchId: Long)(
      stageWrites: String => Unit): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$root/_committed/batch-$batchId")
    val stage = s"$root/_staging/batch=$batchId"
    val stagePath = new Path(stage)
    // the fingerprint lives beside the marker and is KEPT, like the
    // marker itself — so even a retry arriving after full cleanup
    // (marker lost to operator error rather than a crash) still
    // validates against the content that actually promoted
    val fpPath = new Path(s"$root/_committed/fp-batch-$batchId")
    if (fs.exists(marker)) {
      // already committed — also clear any staging the crash window
      // between marker and cleanup left behind, so the in-flight signal
      // ([[assertNoInflight]]) cannot stick permanently
      if (fs.exists(stagePath)) { fs.delete(stagePath, true): Unit }
      return false
    }
    assertNotFenced(fs, root, batchId)
    stageWrites(stage)
    if (fs.exists(stagePath)) {
      // determinism guard: promotion is only exactly-once if a retry
      // re-stages row-equivalent content. Record a content fingerprint
      // (row count + order-free row-hash fold) beside the marker before
      // the FIRST promotion; a retry whose re-staged content disagrees
      // would otherwise silently replace one generation's content with
      // another's (caller bug: data or session config drifted between
      // retries) — fail it loudly instead. One bounded aggregate over
      // the micro-batch-sized stage.
      val fp = fingerprint(spark, stage)
      val fpWasAbsent = !fs.exists(fpPath)
      if (!fpWasAbsent) {
        val recorded = readSmall(fs, fpPath)
        if (recorded != fp)
          throw new IllegalStateException(
            s"committed append batch $batchId: re-staged content " +
              s"fingerprint $fp does not match the fingerprint $recorded " +
              "recorded before first promotion — the caller's staging is " +
              "not deterministic (data or session config changed between " +
              "retries); promotion would mix two generations. Clear " +
              "_staging and the partially-promoted batch files before " +
              "re-landing this batch")
      } else {
        fs.mkdirs(new Path(s"$root/_committed"))
        writeSmall(fs, fpPath, fp)
      }
      // fence re-check at the promotion point: the fence may have gone
      // up while this batch staged, and promoting now would land files
      // into a generation the maintenance swap is about to PARK —
      // silently losing the batch after its marker certifies it. If no
      // prior attempt promoted anything (the fingerprint was absent
      // until this call), unwind fully so a post-fence retry with
      // re-fit routing starts clean; if the fingerprint pre-existed, a
      // crashed attempt may have half-promoted, so leave staging as the
      // in-flight signal that BLOCKS the fence holder's swap.
      if (fenced(fs, root)) {
        if (fpWasAbsent) {
          fs.delete(fpPath, false): Unit
          fs.delete(stagePath, true): Unit
        }
        throw new IllegalStateException(
          s"$root was fenced while batch $batchId staged (index refit " +
            "swap in progress) — promotion would land files into a " +
            "generation about to be parked; retry after the fence drops")
      }
      // Convergence must not depend on the retry reproducing the SAME
      // row-to-file SPLIT: range-partitioned stagings resample their
      // bounds per attempt (Spark seeds the reservoir by rdd id), and
      // the content fingerprint is deliberately split-invariant — so a
      // skip-existing merge of two attempts' files could duplicate or
      // drop the rows that moved across a file boundary between them.
      // Instead, clear every file a crashed PRIOR attempt already
      // promoted for THIS batch (they are uncommitted — no marker —
      // so removing them is a rollback, not data loss) and promote the
      // fresh staging wholesale. Idempotent across repeated crashes;
      // the fingerprint still catches content drift (a caller bug),
      // it just no longer has to certify the split.
      clearPromoted(fs, batchId, stagePath, rootPath)
      promote(fs, batchId, stagePath, rootPath)
    }
    fs.mkdirs(new Path(s"$root/_committed"))
    fs.create(marker, true).close()
    fs.delete(stagePath, true): Unit
    true
  }

  /** Maintenance FENCE: while up, [[run]] refuses to stage or promote —
    * the mutual-exclusion point that lets a refit swap generations
    * under continuous ingest ([[graft.operators.Similarity.refitIvfIndexLive]]).
    * The fence holder raises it, waits out in-flight stagings
    * ([[assertNoInflight]]), catches up the delta, swaps, and drops it;
    * an at-least-once scheduler simply retries fenced batches after.
    * The fence bounds the ingest-blocked window to delta-reassign + two
    * directory renames — NOT the quantizer fit.
    */
  def fencePath(root: String): Path = new Path(s"$root/_maintenance_fence")

  def fenced(fs: FileSystem, root: String): Boolean =
    fs.exists(fencePath(root))

  /** Raise the fence, stamping it with a fresh OWNER TOKEN (returned).
    * The token closes the lost-batch race between a live refit and a
    * concurrently-invoked recovery: recovery may legitimately drop a
    * fence it believes crashed ([[dropFence]]), so the refit re-checks
    * [[fenceToken]] == its own token immediately before each swap — if
    * the fence was dropped (and possibly re-raised by someone else)
    * while it worked, committed appends may have promoted into the
    * generation it is about to park, and the swap aborts loudly instead
    * of silently erasing those batches.
    */
  def raiseFence(fs: FileSystem, root: String): String = {
    fs.mkdirs(new Path(root)): Unit
    val token = java.util.UUID.randomUUID().toString
    val out = fs.create(fencePath(root), true)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    token
  }

  /** The current fence's owner token, if a fence is up. (Pre-token fence
    * files read as Some("") — never equal to a generated token, so an
    * ownership check against one fails safe. A fence deleted between
    * the existence check and the read — a concurrent recovery — reads
    * as None, which every caller already treats as "not ours".)
    */
  def fenceToken(fs: FileSystem, root: String): Option[String] =
    if (!fenced(fs, root)) None
    else try Some(readSmall(fs, fencePath(root)))
    catch { case _: java.io.FileNotFoundException => None }

  /** Unconditional drop — the CRASH-RECOVERY entry point (recover*Index):
    * under the single-maintainer contract a recovery only runs when no
    * refit is live, and a live refit that loses its fence to a
    * mis-sequenced recovery is protected by its own pre-swap
    * [[fenceToken]] ownership check, not by this call refusing.
    */
  def dropFence(fs: FileSystem, root: String): Unit = {
    fs.delete(fencePath(root), false): Unit
  }

  /** Drop the fence only if WE still own it — the refit-holder's exit
    * path. A no-op when the fence is already gone or was re-raised by
    * another maintainer (whose window must not be un-fenced by our
    * cleanup).
    */
  def dropFenceOwned(fs: FileSystem, root: String, token: String): Unit =
    if (fenceToken(fs, root).contains(token)) dropFence(fs, root)

  private def assertNotFenced(fs: FileSystem, root: String,
      batchId: Long): Unit =
    if (fenced(fs, root))
      throw new IllegalStateException(
        s"$root is under a maintenance fence (index refit swap in " +
          s"progress) — retry batch $batchId after the fence drops")

  /** Content fingerprint of a staged tree: per TOP-LEVEL SUBTREE (a
    * staged batch may hold several datasets with DIFFERENT schemas —
    * the LSH stage carries `sets/` and `bands/` — and one mixed read
    * would silently fingerprint only the first schema's columns), the
    * row count plus a commutative XOR fold of per-row xxhash64 over
    * every leaf parquet file (recursive lookup), with the file's
    * STAGE-RELATIVE directory subpath folded into each row's hash: under
    * a partitionBy staging the partition column lives ONLY in directory
    * names (`cells/cell=N/…`) and a recursive-lookup read drops it —
    * without the fold, a retry re-staging identical (vec_id, embedding)
    * rows under DRIFTED partition routing (changed centroids — the exact
    * caller-bug case this guard exists for) would fingerprint equal and
    * promotion would land the batch a second time under
    * new `cell=` dirs (which clearPromoted, mirroring only the CURRENT
    * staging tree, would not address). Only the subpath BELOW `_staging/batch=<id>` is
    * folded (never the absolute URI): a legitimate retry through a
    * different-but-equivalent root spelling — moved index root, `file:/`
    * vs scheme-qualified, a different mount — must not fail the
    * determinism check, while partition-routing drift still lives
    * entirely inside the relative subpath. File BASENAMES are excluded
    * (Spark part-file names carry a per-write UUID, so they differ
    * across byte-identical re-stagings).
    * Subtrees compose in name order, so the whole fingerprint is
    * deterministic; each aggregate is order-free, so task scheduling
    * cannot move it; cheap — one bounded aggregate per subtree over one
    * micro-batch, all of them unioned into a SINGLE collect job (r21:
    * the per-subtree head() loop paid one job round-trip per staged
    * schema per append).
    */
  private def fingerprint(spark: SparkSession, stage: String): String = {
    import org.apache.spark.sql.functions._
    val fs = new Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new Path(stage)).toSeq
      .filter(e => !e.getPath.getName.startsWith("_")
        && !e.getPath.getName.startsWith("."))
    val dirs = entries.filter(_.isDirectory).map(_.getPath.getName).sorted
    val rootFiles = entries.filter(_.isFile).map(_.getPath.toString).sorted
    def fpFrame(df: org.apache.spark.sql.DataFrame,
        label: String): org.apache.spark.sql.DataFrame = {
      // group 1 = the directory subpath between the stage root and the
      // file basename ("" for a flat stage, "/cells/cell=3" under
      // partitionBy routing) — root-addressing-invariant by construction.
      // The greedy `^.*` anchors the match to the LAST `_staging/batch=`
      // segment: a root path that itself contains one (a staged tree
      // copied under another index's staging, a pathological mount name)
      // must not leak root-derived segments into the fold — that would
      // re-introduce the root-spelling sensitivity the subpath fold
      // removed. A file that matches no stage layout at all folds as a
      // LOUD error (below), never as "" — an empty fold would silently
      // drop the partition-drift protection this fingerprint exists for.
      val stageRx = "^.*_staging/batch=[^/]+((?:/[^/]+)*)/[^/]+$"
      val withDir = df
        .withColumn("_graft_fp_file", input_file_name())
        .withColumn("_graft_fp_dir",
          regexp_extract(col("_graft_fp_file"), stageRx, 1))
      val cols = (df.columns.map(c => s"`$c`") :+ "`_graft_fp_dir`")
        .mkString(", ")
      withDir.agg(count(lit(1)).as("cnt"),
          expr(s"bit_xor(xxhash64($cols))").as("fold"),
          max(when(!col("_graft_fp_file").rlike(stageRx),
            col("_graft_fp_file"))).as("badfile"))
        .select(lit(label).as("sub"), col("cnt"), col("fold"),
          col("badfile"))
    }
    // root-level files (a flat stage) fingerprint as one subtree, read
    // by explicit path so subtree contents are never double-counted
    // a subtree can be EMPTY of data files (a dynamic-partitioned write
    // of zero rows creates the dir but no part files — e.g. an
    // admission batch that admitted nothing): schema inference would
    // throw, and its honest fingerprint is "0 rows"
    def hasParquet(p: Path): Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next().getPath.getName
        found = f.endsWith(".parquet") && !f.startsWith("_") &&
          !f.startsWith(".")
      }
      found
    }
    // every subtree's aggregate in ONE Spark job (the per-subtree agg
    // frames share a uniform (sub, cnt, fold, badfile) schema, so they
    // union and collect together): an LSH stage carries sets/ + bands/,
    // and the old one-job-per-subtree loop paid a full job-scheduling
    // round-trip per schema per micro-batch. The fingerprint STRING is
    // unchanged — same per-subtree aggregates, composed in the same
    // name order — so fingerprints recorded by earlier builds still
    // compare equal on retry.
    val rootFrames =
      if (rootFiles.isEmpty) Seq()
      else Seq(fpFrame(spark.read.parquet(rootFiles: _*), "."))
    val emptyDirs = scala.collection.mutable.LinkedHashMap[String, String]()
    val dirFrames = dirs.flatMap { d =>
      if (!hasParquet(new Path(s"$stage/$d"))) {
        emptyDirs(d) = "0:0"; None
      } else Some(fpFrame(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$stage/$d"), d))
    }
    val frames = rootFrames ++ dirFrames
    val agged: Map[String, (Long, Long, Option[String])] =
      if (frames.isEmpty) Map.empty
      else frames.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> (r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          Option(r.getString(3)))).toMap
    agged.collectFirst { case (_, (_, _, Some(bad))) => bad }.foreach { bad =>
      throw new IllegalStateException(
        s"committed append fingerprint: staged file '$bad' " +
          "is not under a _staging/batch=<id> layout — the stage tree " +
          "is malformed; refusing to fingerprint (an empty dir-fold " +
          "would silently lose partition-drift protection)")
    }
    val rootPart = if (rootFiles.isEmpty) Seq()
      else { val (c, f, _) = agged("."); Seq(s".=$c:$f") }
    (rootPart ++ dirs.map { d =>
      emptyDirs.get(d) match {
        case Some(e) => s"$d=$e"
        case None => val (c, f, _) = agged(d); s"$d=$c:$f"
      }
    }).mkString("|")
  }

  private def writeSmall(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Refuse index MAINTENANCE while a committed append is in flight: a
    * compaction that folds a crashed-but-promoted batch's files away
    * BEFORE its retry re-commits would erase the `batch-<id>-*` names
    * clearPromoted keys its rollback on, letting the retry land the
    * batch a SECOND time.
    * The staging dir outlives every crash window until the marker is
    * written (and a committed retry clears leftovers), so its presence
    * IS the in-flight signal.
    */
  def assertNoInflight(fs: FileSystem, root: String): Unit = {
    val st = new Path(s"$root/_staging")
    if (fs.exists(st) && fs.listStatus(st).nonEmpty)
      throw new IllegalStateException(
        s"$root has in-flight committed append(s) under _staging — " +
          "retry them to completion before compacting")
  }

  /** Remove every live file a prior (crashed, unmarked) attempt of
    * `batchId` promoted — matching the deterministic
    * `batch-<id>-<i>.parquet` names [[promote]] assigns. Run before each
    * (re)promotion so convergence is wholesale-replace, never a
    * skip-existing merge of two attempts' file splits.
    *
    * Walks only the live dirs that MIRROR the staging tree's relative
    * layout (the same recursion [[promote]] performs), never the whole
    * index: a full `fs.listFiles(root, true)` here made per-micro-batch
    * commit cost grow with index LIFETIME (every committed batch's
    * files, all band/cell dirs) instead of with staged-file count.
    * Completeness argument: any promoted file of this batch lives in a
    * dir mirroring the staging tree of the attempt that promoted it, and
    * the content fingerprint — recorded BEFORE the first promotion and
    * verified on every retry — pins that attempt's directory ROUTING to
    * this attempt's (the dir subpath is folded into every row's hash),
    * so the current staging tree addresses every dir a prior attempt
    * could have written.
    */
  private def clearPromoted(fs: FileSystem, batchId: Long,
      srcDir: Path, dstDir: Path): Unit = {
    if (!fs.exists(dstDir)) return
    val prefix = s"batch-$batchId-"
    fs.listStatus(dstDir).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.endsWith(".parquet"))
      .foreach(p => fs.delete(p, false): Unit)
    fs.listStatus(srcDir).filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .foreach(d => clearPromoted(fs, batchId, d, new Path(dstDir, d.getName)))
  }

  private def promote(fs: FileSystem, batchId: Long, srcDir: Path,
      dstDir: Path): Unit = {
    val entries = fs.listStatus(srcDir)
    val files = entries.filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)
    if (files.nonEmpty) { fs.mkdirs(dstDir): Unit }
    files.zipWithIndex.foreach { case (src, i) =>
      val dst = new Path(dstDir, s"batch-$batchId-$i.parquet")
      // After clearPromoted the destination can never legitimately exist:
      // convergence is wholesale-replace, so an existing name here means
      // two concurrent attempts of the SAME batch raced past
      // clearPromoted — a silent skip would merge two range-partitioned
      // splits (exactly the duplicate/drop hazard wholesale-replace
      // eliminates). Fail loudly instead.
      if (fs.exists(dst))
        throw new IllegalStateException(
          s"promote: $dst already exists after clearPromoted — two " +
            s"concurrent attempts of batch $batchId are racing; committed " +
            "appends require one writer per batch id")
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"promote: rename $src -> $dst failed")
    }
    entries.filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .foreach(d => promote(fs, batchId, d, new Path(dstDir, d.getName)))
  }
}
