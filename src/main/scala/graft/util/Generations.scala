package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe whole-directory generation swaps: stage the new
  * generation, park the live one as `<live>.old`, rename the stage in,
  * drop the park — every crash window leaves a COMPLETE generation on
  * disk for [[recover]] to restore. Used by [[IndexStore]] (compaction
  * and refit of the IVF, PQ, SQ8 and LSH indexes) and by
  * [[graft.streaming.FilePipelines.upsertBatch]]'s table swap.
  *
  * The crash-window guarantee assumes the filesystem renames
  * DIRECTORIES atomically (local FS, HDFS). Plain S3A emulates rename
  * as O(data) copy+delete — a crash mid-"rename" leaves both trees
  * partial there; run maintenance over an atomic-rename layer (HDFS,
  * a consistent metadata store, or single-writer object versioning)
  * when the index lives on raw object storage.
  */
object Generations {

  // rename returns false instead of throwing on several filesystems
  // (permissions, cross-device); a silent false would drop the new
  // generation (or, in recovery, the only surviving one) with no signal
  private def mv(fs: FileSystem, a: Path, b: Path): Unit =
    if (!fs.rename(a, b))
      throw new java.io.IOException(s"generation swap: rename $a -> $b failed")

  /** Replace `live` with the staged dir — or install it, when no live
    * generation exists yet. Call [[recover]] first.
    */
  def swapIn(fs: FileSystem, live: String, stage: String): Unit = {
    val l = new Path(live)
    val old = new Path(live + ".old")
    if (fs.exists(l)) mv(fs, l, old)
    mv(fs, new Path(stage), l)
    fs.delete(old, true): Unit
  }

  /** Restore a torn [[swapIn]]: a live dir missing with its parked
    * `.old` generation present is put back; both present means the swap
    * completed and the park is dropped. Stray staging dirs in `stages`
    * are removed, in order. Safe (and cheap) to call any time.
    */
  def recover(fs: FileSystem, lives: Seq[String],
      stages: Seq[String]): Unit = {
    lives.foreach { live =>
      val l = new Path(live)
      val o = new Path(live + ".old")
      if (fs.exists(o)) {
        if (!fs.exists(l)) mv(fs, o, l)
        else { fs.delete(o, true): Unit }
      }
    }
    stages.foreach { st =>
      val p = new Path(st)
      if (fs.exists(p)) { fs.delete(p, true): Unit }
    }
  }
}
