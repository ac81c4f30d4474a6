package graft.util

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Execution regimes: a body that needs fixed execution settings runs on
  * a session carrying them, never by setting them on the caller's session
  * and restoring them after. A scoped set-and-restore on a shared session
  * is visible to every other query on it while the scope is open, and two
  * overlapping scopes restore each other's values: the caller can end up
  * with the settings for good.
  *
  * The session for a (caller, settings) pair is a clone of the caller
  * ([[GraftSqlShims.cloneSession]]): the caller's runtime confs,
  * functions and temp views, with the settings on top, sharing the
  * caller's `CacheManager`, so relations the caller cached stay cache
  * hits. Confs and functions set on the caller later do not reach an
  * existing clone. The clone is memoized per (caller, settings) with the
  * caller's full runtime conf and temporary functions it was cloned at;
  * a change to either gives the next call a fresh clone. A caller that
  * already runs with the settings — a nested scope's clone — is its own
  * regime, so scopes nest without cloning a clone.
  *
  * The memo holds a bounded number of clones, least recently used first
  * out: a clone references its caller, and every streaming query runs
  * its micro-batches on a session of its own, so an unbounded memo would
  * keep each finished stream's session alive.
  */
object Regime {

  /** The regime of micro-batch and index-maintenance bodies: AQE off, and
    * the first wave of a bounded `limit` scan up to 64 partitions.
    *
    * AQE materializes every exchange as its own job to re-plan the stages
    * after it: the right trade for one big ad-hoc query, pure scheduler
    * overhead for a body whose plans are fixed and whose shuffles are
    * bounded by construction (a verdict over one trigger-bounded segment,
    * a k·dims centroid mean, a register-sized Bloom publish, a
    * fingerprint read-back). Each such body pays one job round trip per
    * exchange; stage materializations of tiny aggregations made up most
    * of an admission micro-batch's jobs. What these bodies give up is
    * AQE's runtime re-sizing (partition coalescing, join re-planning,
    * skew splitting), which none of them needs: every shape is map-side,
    * an explicitly hinted join, a `repartition(col)` (a required
    * distribution AQE leaves alone anyway) or a `repartitionByRange` with
    * an explicit width. None uses the REBALANCE hint, which needs AQE
    * ([[graft.operators.Layout.mergeIntoPartitioned]] does, and runs on
    * the caller's settings).
    *
    * Without the limit setting, a bounded limit-and-collect probe (the
    * LSH probe's signature collect) scans 1, 4, 16, … partitions in
    * separate jobs. A micro-batch is small by contract, so the first wave
    * scans up to 64 partitions; capped, not the shuffle width, so an
    * oversized backfill on a wide deployment cannot ship partitions ×
    * limit rows to the driver in one wave.
    */
  def microBatch(spark: SparkSession): Map[String, String] = Map(
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.LIMIT_INITIAL_NUM_PARTITIONS.key ->
      math.min(GraftSqlShims.sqlConf(spark).numShufflePartitions, 64).toString)

  /** Run `body` on the session of (`spark`, `settings`), with `frames`
    * rebound onto it ([[on]]). Every action in `body` must run on a frame
    * of that session: a frame built on the caller still runs with the
    * caller's settings.
    */
  def run[T](spark: SparkSession, settings: Map[String, String])(
      frames: DataFrame*)(body: (SparkSession, Seq[DataFrame]) => T): T = {
    val s = session(spark, settings)
    body(s, frames.map(on(s, _)))
  }

  /** `df`'s analyzed plan as a frame of `session`. */
  def on(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else GraftSqlShims.ofRows(session, df.queryExecution.analyzed)

  /** The session `spark` runs `settings` on: `spark` itself when it
    * already has them, otherwise its memoized clone.
    */
  def session(spark: SparkSession, settings: Map[String, String]): SparkSession =
    if (settings.forall { case (k, v) => spark.conf.getOption(k).contains(v) })
      spark
    else {
      // the full conf and each temporary function's builder, compared by
      // value and by reference: a function re-registered under the same
      // name is a new builder
      val state = (spark.conf.getAll.toSeq.sorted,
        GraftSqlShims.temporaryFunctions(spark))
      clones.synchronized {
        Option(clones.get((spark, settings))).filter(_._1 == state).map(_._2)
          .getOrElse {
            val s = GraftSqlShims.cloneSession(spark)
            settings.foreach { case (k, v) => s.conf.set(k, v) }
            clones.put((spark, settings), (state, s))
            s
          }
      }
    }

  /** (caller, settings) → (caller state, clone), least recently used out
    * past 8 entries.
    */
  private val clones = new java.util.LinkedHashMap[Any, (Any, SparkSession)](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Any, (Any, SparkSession)]) = size() > 8
  }

  /** Whether `df` has at most `n` rows — one bounded job
    * (`limit(n + 1).count()`), whatever `df`'s size. The small-side test
    * of the operators that choose between a broadcast and a shuffle
    * regime, where plan statistics cannot be trusted (a UDF or an
    * explode in the plan).
    */
  def atMost(df: DataFrame, n: Int): Boolean =
    df.limit(n + 1).count() <= n
}
