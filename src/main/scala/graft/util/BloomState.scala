package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.operators.Sketches

/** Bloom register epochs (`epoch=<id>` dirs of (word, bits) rows, see
  * [[graft.operators.Sketches.bloomBits]]) as DRIVER-READABLE state.
  *
  * The state is metadata-sized by construction — ≤ mBits/32 BIGINT rows
  * no matter how much history the filter has absorbed — yet reading it
  * through `spark.read` cost the admission pipelines a scan stage (and,
  * with the register folded for a map-side probe, a standalone collect
  * execution) in EVERY micro-batch. Epochs are therefore written as
  * DataFrame JSON (still one Spark job, riding the same publish
  * aggregation that produced the rows) and read back driver-side with no
  * job at all: [[read]] parses the part files' `{"word":w,"bits":b}`
  * lines directly (the MetaJson discipline, multi-row).
  *
  * [[epoch]] is the one lifecycle every streaming sink runs over this
  * state: an epoch is an idempotent whole-dir overwrite keyed by batch
  * id, a batch reads only epochs strictly below its own id, and GC keeps
  * the previous epoch for the crash window.
  */
object BloomState {

  /** One batch's pass through the epoch lifecycle (see [[epoch]]). */
  final class Epoch private[BloomState] (fs: FileSystem, stateDir: String,
      batchId: Long) {
    private val epochs: Seq[Long] = {
      val sPath = new Path(stateDir)
      if (!fs.exists(sPath)) Seq.empty
      else fs.listStatus(sPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
    }
    private val prior: Option[Long] = epochs.filter(_ < batchId).maxOption

    /** The prior epoch's register rows (empty before the first publish). */
    private val rows: Seq[(Option[Long], Option[Long])] =
      prior.fold(Seq.empty[(Option[Long], Option[Long])])(e =>
        read(fs, s"$stateDir/epoch=$e"))

    /** (id, seen) for each row of `batch` against the prior epoch — a
      * map-side projection over the dense register array.
      */
    def probe(batch: DataFrame, id: Column, value: Column, kHashes: Int,
        mBits: Int): DataFrame =
      Sketches.bloomProbeRegister(dense(rows, mBits), batch, id, value,
        kHashes, mBits)

    /** Publish `epoch=<batchId>` (the prior's bits with `batch`'s OR'd in,
      * the prior unioned as a local relation — no scan job), then GC
      * every epoch STRICTLY OLDER than the prior this batch read (each
      * epoch subsumes all before it). Keying the cut on the read prior —
      * not batchId-1 — keeps replays correct under NON-contiguous batch
      * ids too: batch 20 arriving after batch 10 must retain epoch=10 for
      * its own crash window, or a replay would rebuild epoch=20 from an
      * empty prior and forget all history.
      */
    def publish(batch: DataFrame, value: Column, kHashes: Int,
        mBits: Int): Unit = {
      Sketches.bloomMerge(localRelation(batch.sparkSession), batch, value,
          kHashes, mBits)
        .write.mode("overwrite").json(s"$stateDir/epoch=$batchId")
      prior.foreach { keep =>
        epochs.filter(_ < keep).foreach { e =>
          fs.delete(new Path(s"$stateDir/epoch=$e"), true): Unit }
      }
    }

    /** [[rows]] as a LOCAL relation; nulls preserved (see [[read]]). */
    private def localRelation(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.map { case (w, b) =>
          Row(w.map(Long.box).orNull, b.map(Long.box).orNull) }.asJava,
        StructType(Seq(StructField("word", LongType),
          StructField("bits", LongType))))
  }

  /** Batch `batchId`'s view of the epochs under `stateDir`: lists them
    * and reads the newest one strictly below `batchId`, driver-side. The
    * filesystem is resolved FROM the path: on a non-local stateDir
    * (HDFS/S3) a local listing would silently report no prior epochs and
    * every batch would read novel.
    */
  def epoch(spark: SparkSession, stateDir: String, batchId: Long): Epoch =
    new Epoch(new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), stateDir, batchId)

  /** The epoch's register rows, driver-side — (word, bits) with nulls
    * preserved as None (a null value hashes to null positions; the build
    * keeps that all-null row — the JSON writer spells it `{}` — and a
    * probe can never match it, exactly the old join-on-word semantics).
    * Output is bounded by mBits/32 rows (+1 for the null row) by
    * [[graft.operators.Sketches.bloomBits]]'s construction.
    */
  def read(fs: FileSystem, dir: String): Seq[(Option[Long], Option[Long])] = {
    val parts = fs.listStatus(new Path(dir)).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val field = """"(word|bits)"\s*:\s*(-?\d+)""".r
    parts.toSeq.flatMap { p =>
      val in = fs.open(p.getPath)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
        finally in.close()
      lines.iterator.filter(_.nonEmpty).map { line =>
        var word = Option.empty[Long]
        var bits = Option.empty[Long]
        field.findAllMatchIn(line).foreach { m =>
          if (m.group(1) == "word") word = Some(m.group(2).toLong)
          else bits = Some(m.group(2).toLong)
        }
        (word, bits)
      }.toSeq
    }
  }

  /** The rows of [[read]] as a dense word-indexed bits array (absent
    * words = 0 bits — the all-zeros semantics); null-word rows are
    * unreachable by any probe and are skipped.
    */
  def dense(rows: Seq[(Option[Long], Option[Long])], mBits: Int): Array[Long] = {
    val words = new Array[Long](mBits / 32)
    rows.foreach { case (w, b) =>
      w.foreach(i => words(i.toInt) = b.getOrElse(0L)) }
    words
  }
}
