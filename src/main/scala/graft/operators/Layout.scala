package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-dimensional file layout (Z-order clustering) for scan pruning at
  * the 100 TB scale point.
  *
  * A table range-partitioned on ONE column prunes scans filtered on that
  * column, but a filter on any other column touches every file. Z-order
  * interleaves the bits of k normalized column values into one scalar
  * whose ordering is a space-filling curve: sorting by it co-locates rows
  * that are close in ALL k dimensions, so every output file covers a
  * tight min/max envelope in each dimension and parquet row-group /
  * file-footer stats prune multi-dimensional range predicates without a
  * dedicated index. (The same layout idea Delta/Iceberg expose as `ZORDER
  * BY` / `sort_order(z)` — implemented here on plain parquet with
  * repartitionByRange + sortWithinPartitions, both ordinary Catalyst
  * operators.)
  *
  * Everything is codegen-friendly column arithmetic: per-column min/max
  * come from ONE aggregate pass (driver-collected scalars folded into the
  * expression as literals), normalization is a multiply/shift, and the
  * bit interleave is an OR-tree of shift/mask terms.
  */
object Layout {

  /** Normalize a numeric column to an integer cell index in [0, 2^bits). */
  private def cellIndex(c: Column, min: Double, max: Double, bits: Int): Column = {
    val cells = (1L << bits) - 1
    val span = if (max > min) max - min else 1.0
    least(lit(cells), greatest(lit(0L),
      floor((c.cast(DoubleType) - lit(min)) / lit(span) * lit(cells.toDouble))
        .cast(LongType)))
  }

  /** Interleave `bits` low bits of each of k cell indices (round-robin:
    * output bit k*i+j takes bit i of column j) — the Morton/Z-value.
    * k*bits must stay ≤ 63.
    */
  def interleaveBits(cells: Seq[Column], bits: Int): Column = {
    val k = cells.length
    require(k * bits <= 63, s"z-value needs $k*$bits bits; max 63")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cells.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), k * i + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Z-value for the given numeric columns over `df`'s own value ranges
    * (one aggregate pass for the min/max envelope, folded into literals).
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast(DoubleType)).as(s"_min_$c"),
      max(col(c).cast(DoubleType)).as(s"_max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // min/max are NULL on an empty frame or an all-NULL column; a raw
    // getDouble would throw an opaque NPE. Degrade that column to the
    // constant cell 0 — ordering is unaffected (every row lands in the
    // same cell) and the caller keeps working on degenerate input.
    val cells = cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) lit(0L)
      else cellIndex(col(c), row.getDouble(2 * i), row.getDouble(2 * i + 1), bits)
    }
    interleaveBits(cells, bits)
  }

  /** Compact a fragmented parquet directory into ~advisory-sized files
    * via AQE REBALANCE — the small-files maintenance pass every
    * long-lived 100 TB table needs (streaming sinks and fine-grained
    * partition writes accrete KB-scale files whose per-file open/footer
    * cost eventually dominates scans). REBALANCE beats the manual
    * alternatives: `coalesce(n)` can only merge (and needs a magic n),
    * `repartition(n)` shuffles to a FIXED n blind to data size — the
    * rebalance hint lets AQE both merge small and SPLIT oversized
    * shuffle partitions to the advisory byte size at runtime. The pass
    * runs in the regime of the caller with `advisory` as AQE's advisory
    * partition size ([[graft.util.Regime]]), never by setting it on the
    * caller. Returns (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, advisory: String = "128MB"): (Long, Long) = {
    def dataFiles(dir: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .count(f => f.getPath.getName.endsWith(".parquet")).toLong
    }
    val before = dataFiles(inDir)
    val settings = Map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory)
    graft.util.Regime.run(spark, settings)() { (s, _) =>
      s.read.parquet(inDir).hint("rebalance").write.mode("overwrite").parquet(outDir)
    }
    (before, dataFiles(outDir))
  }

  /** Cluster `df` into `numFiles` parquet files ordered along the Z-curve
    * of `cols`: range-partition on the z-value (equal-frequency file
    * splits via Spark's range sampler), sort within each partition, write.
    * Readers filtering a range box over any subset of `cols` then skip
    * whole files/row-groups on footer stats.
    */
  def clusterByZ(df: DataFrame, cols: Seq[String], numFiles: Int,
      outDir: String, bits: Int = 16): Unit = {
    val z = zValue(df, cols, bits)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Dense 0-based global row ids in the given total `order` WITHOUT a
    * global window — `monotonically_increasing_id()` is not dense (and
    * not order-tied), and a bare `row_number() OVER (ORDER BY …)`
    * collapses the table into ONE partition. This is the two-phase
    * distributed count scan (the [[Sampling.packSequencesGlobal]]
    * machinery at weight 1): range-partition on the order (ascending
    * ranges land in ascending partition ids), ONE bounded collect of
    * per-range row counts, broadcast the running base offsets, then a
    * WITHIN-range row_number. Output = input columns + `gid`. The range
    * sampler's boundary placement cannot move the result — gid depends
    * only on the order, which must be TOTAL (ties would make it
    * run-dependent; include a unique key as the last sort column).
    */
  def assignGlobalIds(df: DataFrame, order: Seq[Column],
      nRanges: Int = 32): DataFrame = {
    require(order.nonEmpty, "assignGlobalIds needs a total order")
    val reserved = Seq("_pid", "_base", "gid").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"assignGlobalIds: input already has column(s) " +
        s"${reserved.mkString(", ")} — rename them first (the operator " +
        "uses _pid/_base internally and returns gid)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ranged = graft.util.Scratch.cached(
      df.repartitionByRange(nRanges, order: _*)
        .withColumn("_pid", spark_partition_id()))
    val counts = ranged.groupBy("_pid").count()
      .orderBy("_pid").collect() // bounded: one row per non-empty range
      .map(r => (r.getInt(0), r.getLong(1)))
    val bases = counts.scanLeft((0, 0L, 0L)) { case ((_, _, acc), (pid, c)) =>
      (pid, acc, acc + c)
    }.drop(1).map { case (pid, b, _) => (pid, b) }
    val basesDf = bases.toSeq.toDF("_pid", "_base")
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    ranged.join(broadcast(basesDf), "_pid")
      .withColumn("gid", col("_base") + row_number().over(w) - 1)
      .drop("_pid", "_base")
  }

  /** MERGE (upsert) a batch of rows into a hive-partitioned parquet
    * table, copy-on-write scoped to TOUCHED partitions only — the
    * table-maintenance primitive behind every "re-crawl updated some
    * documents" / "late facts arrived for two days" pipeline. Rows in
    * `updates` REPLACE existing rows with the same (`keyCol`, `partCol`)
    * inside their own partition and INSERT otherwise: a key that
    * legitimately recurs across partitions loses only the row in the
    * partition the update addresses — the anti-join carries BOTH columns,
    * so a two-day late-facts merge cannot silently drop the other day's
    * row for a shared key.
    *
    * `updates` must carry every column of the existing table (checked
    * loudly), and must not carry null partition values (also checked:
    * dynamic overwrite would route them to the default partition while
    * the pruned read excluded existing null-partition rows — silent row
    * loss either way, so it is an error, not a guess).
    *
    * Scale shape: the update batch's distinct partition values are
    * collected (bounded by |touched partitions| — days touched, not
    * rows) and the existing-side read is filtered to exactly those
    * values, so it partition-prunes: a 2-partition merge into a
    * 72-month 100 TB table reads and rewrites ~2/72 of it and never
    * opens the rest. The write goes through Spark's DYNAMIC partition
    * overwrite, which replaces only the partitions present in the
    * written data — untouched partition FILES are not even touched
    * (byte-identical, MergeSpec pins it).
    *
    * Crash-safety: Spark refuses to overwrite a path that is also an
    * input of the writing plan, so the merged frame must materialize
    * first. A localCheckpoint would do it in executor memory — but an
    * executor loss between checkpoint and write then kills the job
    * MID-overwrite of live partitions. Instead the merged rows land
    * DURABLY in an underscore-prefixed staging dir inside the table
    * (invisible to readers — Hadoop's hidden-file filter skips `_`/`.`
    * paths), and the overwrite job reads that staging copy: any crash
    * before or during the overwrite leaves the staged merge on disk to
    * re-drive, and no executor state is load-bearing.
    *
    * DELETES: with `deleteCol = Some(flag)`, update rows whose flag is
    * true are TOMBSTONES — their (key, partition) row is removed and
    * nothing is inserted in its place (MERGE ... WHEN MATCHED AND
    * flag THEN DELETE). A partition whose rows are ALL deleted needs
    * special handling: dynamic overwrite only replaces partitions
    * PRESENT in the written data, so an emptied partition would
    * silently keep its old files — the staged copy is therefore diffed
    * against the touched set and emptied partitions' directories are
    * dropped explicitly after the overwrite (at their HIVE-ESCAPED
    * path names, so string values with `%`/`:`/... delete correctly).
    *
    * Failure handling: the staging dir is deleted only AFTER the
    * overwrite (and any emptied-partition drops) succeed. If the
    * overwrite itself dies mid-commit, the complete staged merge
    * SURVIVES on disk and [[recoverMerge]] — run first by every
    * mergeIntoPartitioned call, and safe to call directly — replays
    * the overwrite from it, so a torn commit can always be rolled
    * FORWARD. (Emptied-partition drops are not re-derivable from the
    * stage alone; re-running the original merge restores those too —
    * the merge is idempotent from its `updates`.)
    */
  def mergeIntoPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, updates: DataFrame, keyCol: String,
      partCol: String, deleteCol: Option[String] = None): Unit = {
    recoverMerge(spark, path, partCol)
    val table = spark.read.parquet(path)
    // schema guard, NAMES AND TYPES: a name-only check would let a
    // type-mismatched update (DOUBLE partCol vs INT table) widen through
    // unionByName, land partition dirs under DIFFERENT Hive names
    // (part=5.0 vs part=5) and break the emptied-partition diff. Every
    // update column must equal the table's type or widen into it
    // LOSSLESSLY (canUpCast); anything else is an error, not a guess.
    val missing = table.columns
      .filterNot(updates.columns.contains)
    require(missing.isEmpty,
      s"mergeIntoPartitioned: updates are missing table column(s) " +
        s"${missing.mkString(", ")}; upserted rows must carry the full schema")
    val badTypes = table.schema.flatMap { f =>
      val from = updates.schema(f.name).dataType
      if (from == f.dataType ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, f.dataType))
        None
      else Some(s"${f.name}: ${from.simpleString} -> ${f.dataType.simpleString}")
    }
    require(badTypes.isEmpty,
      s"mergeIntoPartitioned: updates column type(s) cannot losslessly " +
        s"widen to the table's (${badTypes.mkString(", ")}); cast the " +
        "updates explicitly before merging")
    // everything downstream — the touched collect, the anti-join, the
    // staged write, the emptied-partition diff — runs in the TABLE's
    // types, so partition path names are computed consistently
    val typed = updates.select(
      table.schema.map(f => col(f.name).cast(f.dataType).as(f.name))
        ++ deleteCol.map(col).toSeq: _*)
    val touched = typed.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq // bounded: one row per touched partition
    if (touched.isEmpty) return
    require(!touched.contains(null),
      s"mergeIntoPartitioned: updates contain null $partCol values; " +
        "dynamic partition overwrite cannot address the null partition " +
        "safely — filter or default them before merging")
    val existing = table.filter(col(partCol).isInCollection(touched))
    val upserts = deleteCol match {
      case Some(dc) =>
        typed.filter(!coalesce(col(dc), lit(false))).drop(dc)
      case None => typed
    }
    // the anti-join removes EVERY addressed (key, partition) row —
    // tombstones included — and only non-tombstone rows come back
    val merged = existing
      .join(typed.select(col(keyCol), col(partCol)),
        Seq(keyCol, partCol), "left_anti")
      .unionByName(upserts.select(existing.columns.map(col): _*))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = s"$path/_merge_staging"
    // REBALANCE on the partition column before the dynamic-partitioned
    // write (guide §6): without it every write task holds rows of
    // every touched partition and opens one file per (task, partition)
    // — tasks × partitions near-empty files, paid again by every later
    // scan. The rebalance hint clusters rows by partition at AQE's
    // advisory size, so each touched partition lands as ~one
    // right-sized file (and a skewed partition still splits — unlike a
    // plain repartition(partCol)).
    merged.select(existing.columns.map(col): _*)
      .hint("rebalance", col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(stage)
    // staging-complete marker: OUR OWN, not the committer's optional
    // _SUCCESS (cloud committers commonly run with
    // marksuccessfuljobs=false — the ingestAdmissionBatch _verdicts
    // discipline). recoverMerge keys roll-forward on THIS file; a
    // crash mid-promotion with no marker would otherwise read as a
    // partial stage and recovery would DELETE the only complete copy
    // of the merged rows — silent row loss.
    fs.create(new org.apache.hadoop.fs.Path(s"$stage/$StagedMarker"), true)
      .close()
    // Promotion is per-partition DIRECTORY RENAME (r21, guide §6): the
    // staged copy IS the new generation of every touched partition, so
    // re-encoding it through a second dynamic-overwrite write doubled
    // the merge's data writes (and re-read the stage) for nothing.
    // Capture the staged partition dir names FIRST — promotion moves
    // them, and a delete-merge diffs them against `touched` to find
    // partitions the merge emptied (their staged dir never existed —
    // zero surviving rows write no directory).
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val stagedNames = fs.listStatus(stagePath)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.contains("=")).toSet
    promoteStagedMerge(fs, new org.apache.hadoop.fs.Path(path), stagePath)
    if (deleteCol.isDefined) {
      // only a delete-merge can EMPTY a partition (plain upserts
      // reinsert into every partition they touch). Values compare in
      // their HIVE PATH STRING form — the staged dir names were
      // written from the table-typed rows, and `touched` was collected
      // from the same table-typed frame, so both spell values
      // identically (Int 5 and a widened update both read "5").
      touched.map(String.valueOf).map(v =>
          s"$partCol=" +
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(v))
        .filterNot(stagedNames.contains)
        .foreach { name =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$name"), true): Unit
        }
    }
    // success: the (now-empty) stage has served its purpose — a failure
    // above deliberately LEAVES it for recoverMerge to roll forward
    fs.delete(stagePath, true): Unit
  }

  /** Promote a COMPLETE staged merge into the live tree: every staged
    * partition directory replaces its live counterpart by the
    * park-rename-drop generation swap (live `part=X` → hidden
    * `._merge_pre_part=X` park; staged dir renamed in; park dropped) —
    * the [[graft.streaming.FilePipelines.upsertBatch]] discipline per
    * partition, so untouched partitions are never opened and the merged
    * bytes move ONCE (no second encode). Idempotent under replay from
    * any crash point: a partition whose live dir is already parked skips
    * the park step; one whose staged dir is gone was fully promoted and
    * only its park (if any) remains to sweep. Readers see a brief window
    * where a touched partition's dir is absent (between park and
    * promote) — the same non-atomic window as every generation swap in
    * this engine; the park dir itself is dot-prefixed, invisible to
    * readers. On a filesystem with ATOMIC directory rename (local,
    * HDFS) that window is two metadata operations; on a plain object
    * store (S3A and kin) "rename" is copy+delete, so the window grows
    * to O(partition bytes) per touched partition — correctness
    * (idempotent roll-forward) holds, but reader-visible absence does
    * not stay brief: prefer an atomic-rename layer (HDFS, a metadata
    * catalog, S3+manifest formats) for reader-concurrent tables on raw
    * object storage — the same caveat as
    * [[graft.util.CommittedAppend]]'s promotion. Concurrent ATTEMPTS of
    * one merge are not supported (the single-maintainer contract every
    * table mutation here carries): the live+park conflict below fails
    * loudly rather than guessing.
    */
  private def promoteStagedMerge(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      stage: org.apache.hadoop.fs.Path): Unit = {
    def renameOrFail(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"merge promote: rename $src -> $dst failed")
    fs.listStatus(stage).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.contains("="))
      .foreach { sp =>
        val dst = new org.apache.hadoop.fs.Path(live, sp.getName)
        val park = new org.apache.hadoop.fs.Path(live,
          s"._merge_pre_${sp.getName}")
        if (fs.exists(dst)) {
          if (fs.exists(park))
            throw new IllegalStateException(
              s"merge promote: both $dst and $park exist — two concurrent " +
                "attempts of one merge are racing; merges require a single " +
                "maintainer per table")
          renameOrFail(dst, park)
        }
        renameOrFail(sp, dst)
        if (fs.exists(park)) { fs.delete(park, true): Unit }
      }
    // parks whose staged dir already promoted (crash hit between the
    // promote rename and the park drop of a prior attempt)
    fs.listStatus(live).map(_.getPath)
      .filter(_.getName.startsWith("._merge_pre_"))
      .foreach(p => fs.delete(p, true): Unit)
  }

  /** The merge's OWN staging-complete marker file name. Deliberately not
    * `_SUCCESS`: that file is optional committer behavior
    * (mapreduce.fileoutputcommitter.marksuccessfuljobs=false is common
    * on cloud committers), and keying recovery on it would mis-classify
    * a complete stage as partial there and delete it.
    */
  val StagedMarker = "_GRAFT_STAGED"

  /** Roll an interrupted [[mergeIntoPartitioned]] FORWARD: a COMPLETE
    * staged merge (`_merge_staging` with the merge's own
    * [[StagedMarker]], written unconditionally after the stage — never
    * the committer-optional `_SUCCESS`) surviving a crash between
    * staging and the overwrite commit is replayed into the table; a
    * partial stage (no marker — the crash hit during staging, before
    * any live mutation) is dropped. Run first by every merge call; safe
    * (and cheap) to call any time. Note: the replay restores
    * touched-partition CONTENTS; emptied-partition directory drops from
    * a delete-merge are restored by re-running the original merge
    * (idempotent from its updates), not by this.
    */
  def recoverMerge(spark: org.apache.spark.sql.SparkSession,
      path: String, partCol: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$path/_merge_staging")
    if (!fs.exists(stage)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/_merge_staging/$StagedMarker"))) {
      // roll forward by the same rename promotion the main path runs —
      // pure filesystem metadata, no Spark job, and directory names
      // carry over verbatim so partition-column types can never be
      // re-inferred differently than they were staged
      promoteStagedMerge(fs, new org.apache.hadoop.fs.Path(path), stage)
    }
    fs.delete(stage, true): Unit
  }
}
