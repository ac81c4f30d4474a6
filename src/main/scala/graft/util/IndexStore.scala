package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one lifecycle of the persisted indexes — IVF, PQ, SQ8 and LSH.
  * Each step is written once here, with the crash protocol it rests on:
  * the committed append of a quantizer-encoded batch, compaction, the
  * live refit (snapshot, fence, delta) and the direction-decidable
  * recovery. An index kind supplies only its data ([[Kind]]): the
  * directories it keeps under its root, the staged layout each is
  * written in, and, for a refit, its fit.
  *
  * On-disk names under an index root: live parquet or metadata dirs
  * `<dir>`, compaction stages `_compact_<dir>`, refit stages
  * `_refit_<dir>`, parked generations `<dir>.old` ([[Generations]]), and
  * the [[CommittedAppend]] fence, staging and markers.
  *
  * Single-maintainer contract: compaction, refit and recovery of one
  * root do not run concurrently with each other. Committed appends may
  * run concurrently with a refit (the fence and the delta cover them),
  * never with a compaction (it refuses while one is in flight).
  */
object IndexStore {

  /** How a staged frame is laid out on disk: partitioning, sort order
    * and writer options; the caller sets the mode and the path.
    */
  type Layout = DataFrame => DataFrameWriter[Row]

  /** What one index kind keeps under its root: `data` are its parquet
    * directories, each with the layout compaction and refit write it
    * in; `meta` is its one-record quantizer directory ([[MetaJson]],
    * whose record field is the directory name), which a refit replaces
    * together with the FIRST data directory — None for an index that
    * is never refitted.
    */
  final case class Kind(data: Seq[(String, Layout)], meta: Option[String])

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Exactly-once append of a vector batch into the first data directory
    * of a vec_id-keyed index, encoded by `encode` under the index's
    * FROZEN quantizer ([[CommittedAppend]]'s marker, deterministic
    * staging and fingerprint-checked promotion). The staged rows
    * range-partition on vec_id into `outFiles` sorted files (≤0 derives
    * the width from the batch's row count,
    * [[CommittedAppend.outFilesFor]]): a backfill-sized batch encodes
    * through every core while a micro-batch stages one file, and each
    * file keeps tight vec_id row-group stats. Returns true iff this call
    * landed the batch.
    */
  def appendCommitted(spark: SparkSession, root: String, kind: Kind,
      newVecs: DataFrame, batchId: Long, outFiles: Int)(
      encode: DataFrame => DataFrame): Boolean =
    CommittedAppend.run(spark, root, batchId) { stage =>
      // cache before the adaptive-width count: the batch may be a derived
      // plan, and the count should fill the cache the encode consumes,
      // not add a second execution of it
      val vecs = newVecs.select(col("vec_id"), col("embedding")).cache()
      try {
        val n = if (outFiles > 0) outFiles
          else CommittedAppend.outFilesFor(spark, vecs.count())
        CommittedAppend.stagedSlices(encode(vecs), n, col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$stage/${kind.data.head._1}")
      } finally { vecs.unpersist(); () }
    }

  /** Compact every data directory of `kind` in place: each is rewritten
    * in its layout into `_compact_<dir>` and swapped in by a
    * [[Generations]] swap, so every crash window leaves a complete
    * generation for [[recover]] (run first) to restore. Rows are
    * unchanged; only the file layout moves. Metadata is untouched.
    * Refuses while a committed append is in flight: folding a promoted
    * but unmarked batch's files away would let its retry land the batch
    * twice.
    */
  def compact(spark: SparkSession, root: String, kind: Kind): Unit =
    // fixed, bounded plans: AQE's per-exchange materialization jobs only
    // add driver latency ([[Tuning.microBatch]])
    Tuning.microBatch(spark) {
      val fs = fsOf(spark, root)
      CommittedAppend.assertNoInflight(fs, root)
      recover(spark, root, kind)
      kind.data.foreach { case (dir, layout) =>
        val stage = s"$root/_compact_$dir"
        layout(spark.read.parquet(s"$root/$dir"))
          .mode("overwrite").parquet(stage)
        Generations.swapIn(fs, s"$root/$dir", stage)
      }
    }

  /** Refit the quantizer of `kind` from the raw vectors under `vectors`
    * and re-encode every vector, tolerating concurrent committed
    * appends. In phases:
    *
    *  1. SNAPSHOT: the exact file set behind one directory read of
    *     `vectors` (its cached file index), so appends landing later
    *     never leak into the fit, and the fit reads the directory exactly
    *     like a fresh build would (PQ's order-sensitive sample stays
    *     bit-equal to a fresh fit).
    *  2. FIT (long, unfenced): `fit` returns the encoder and the
    *     serialized quantizer; the re-encoded snapshot is staged in the
    *     kind's layout under `_refit_<data>`, the quantizer under
    *     `_refit_<meta>` — both stages complete before any swap.
    *  3. FENCE (short): raise the [[CommittedAppend]] fence, so committed
    *     appends refuse until the swap commits (an at-least-once
    *     scheduler retries them after), and refuse if one is in flight.
    *  4. DELTA: vector files that committed during the fit are encoded
    *     under the NEW quantizer and appended to the data stage in the
    *     `delta` layout, so the new generation carries every vector.
    *  5. SWAP data, then metadata, each after re-checking that the fence
    *     is still ours; drop the fence.
    *
    * The ingest-blocked window is the delta encode plus two directory
    * swaps, not the fit. Crash windows are direction-decidable — see
    * [[recover]]. `afterFit` is a test seam run between staging and the
    * fence, where concurrent appends are most interesting.
    */
  def refit(spark: SparkSession, root: String, kind: Kind, vectors: String,
      delta: Layout, afterFit: () => Unit)(
      fit: DataFrame => (DataFrame => DataFrame, String)): Unit =
    Tuning.microBatch(spark) {
      val Kind(Seq((dir, layout)), Some(meta)) = kind
      val fs = fsOf(spark, root)
      CommittedAppend.assertNoInflight(fs, root)
      recover(spark, root, kind)
      require(fs.exists(new Path(vectors)),
        s"refit needs the raw vectors (PQ and SQ8 codes are lossy) — no " +
          s"vector store at $vectors; co-locate the index with an IVF " +
          "layout or pass vectorsDir")
      val read = spark.read.parquet(vectors)
      val snapshot = read.inputFiles.map(normalizePath).toSet
      require(snapshot.nonEmpty, s"refit of an empty vector store: $vectors")
      val corpus = read.select(col("vec_id"), col("embedding"))
      val (encode, quantizer) = fit(corpus)
      val dataStage = s"$root/_refit_$dir"
      val metaStage = s"$root/_refit_$meta"
      layout(encode(corpus)).mode("overwrite").parquet(dataStage)
      MetaJson.write(fs, metaStage, meta, quantizer)
      afterFit()
      val token = CommittedAppend.raiseFence(fs, root)
      try {
        CommittedAppend.assertNoInflight(fs, root)
        // set-difference on NORMALIZED paths (inputFiles and the fs
        // listing spell URIs differently), but READ via the listing's full
        // URIs — a stripped path would resolve against fs.defaultFS
        val landed = listDataFiles(fs, vectors)
          .filter(f => !snapshot.contains(normalizePath(f))).sorted
        if (landed.nonEmpty)
          delta(encode(spark.read.parquet(landed: _*)
              .select(col("vec_id"), col("embedding"))))
            .mode("append").parquet(dataStage)
        assertFenceHeld(fs, root, token)
        Generations.swapIn(fs, s"$root/$dir", dataStage)
        // re-assert between the swaps: a mis-invoked recovery can drop
        // the fence after the first check — this shrinks the unprotected
        // window to one rename
        assertFenceHeld(fs, root, token)
        Generations.swapIn(fs, s"$root/$meta", metaStage)
      } finally CommittedAppend.dropFenceOwned(fs, root, token)
    }

  /** Restore a torn [[compact]] or [[refit]] of `kind`. Safe (and cheap)
    * to call any time; run first by both. Refit windows are
    * direction-decidable: the data stage still present ⇒ no swap
    * committed ⇒ roll BACK (restore parked generations, drop both
    * stages, metadata stage first so a crash inside the rollback still
    * reads as one); only the metadata stage present ⇒ the data swap
    * committed ⇒ roll the metadata swap FORWARD (an old quantizer must
    * never decode new data).
    *
    * A crash inside the refit's fenced window leaves the fence up and
    * would refuse ingest forever, so recovery drops it. A LIVE refit that
    * loses its fence to a mis-sequenced concurrent recovery is protected
    * by its owner-token checks before each swap, which narrow the
    * lost-batch window to the check→rename instants (full closure would
    * need an atomic compare-and-rename the filesystem API does not offer;
    * the single-maintainer contract makes the residue acceptable).
    * Recovery of a healthy index makes no mutating call.
    */
  def recover(spark: SparkSession, root: String, kind: Kind): Unit = {
    val fs = fsOf(spark, root)
    if (CommittedAppend.fenced(fs, root)) CommittedAppend.dropFence(fs, root)
    val dirs = kind.data.map(_._1)
    val dataStage = s"$root/_refit_${dirs.head}"
    val rollBack = kind.meta.isDefined && fs.exists(new Path(dataStage))
    Generations.recover(fs, lives = (dirs ++ kind.meta).map(d => s"$root/$d"),
      stages = dirs.map(d => s"$root/_compact_$d") ++ (if (!rollBack) Nil
        else kind.meta.map(m => s"$root/_refit_$m").toSeq :+ dataStage))
    kind.meta.foreach { m =>
      if (fs.exists(new Path(s"$root/_refit_$m")))
        Generations.swapIn(fs, s"$root/$m", s"$root/_refit_$m")
    }
  }

  /** Scheme-normalized path string ("file:///x" and "file:/x" spell the
    * same file).
    */
  private def normalizePath(p: String): String = new Path(p).toUri.getPath

  /** Recursive listing of the live parquet files under `dir`. */
  private def listDataFiles(fs: FileSystem, dir: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(new Path(dir), true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        out += f.toString
    }
    out.result()
  }

  /** The refit holder's last check before a generation swap: the fence
    * must still be up AND carry OUR token. A mis-invoked recovery may
    * have dropped it, and committed appends may then have promoted into
    * the generation this swap would park; aborting turns that silent
    * lost-batch window into a loud retry (the rerun's snapshot includes
    * the landed batches).
    */
  private def assertFenceHeld(fs: FileSystem, root: String,
      token: String): Unit =
    if (!CommittedAppend.fenceToken(fs, root).contains(token))
      throw new IllegalStateException(
        s"$root: maintenance fence was dropped (or re-raised by another " +
          "maintainer) during the refit window — committed appends may " +
          "have promoted into the generation this swap would park; " +
          "aborting the swap. Re-run the refit (its snapshot will " +
          "include the landed batches)")
}
