package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped execution-tuning for micro-batch and index-maintenance bodies.
  *
  * AQE materializes every Exchange as its own job to re-plan the stages
  * after it — the right trade for one big ad-hoc query, pure scheduler
  * overhead for a micro-batch/maintenance action whose plan is FIXED and
  * whose shuffles are bounded by construction (an admission verdict over
  * one trigger-bounded segment, a k·dims centroid mean, a register-sized
  * bloom publish, a fingerprint read-back): each such action pays one
  * extra job round-trip (~20-100 ms driver latency at any scale) per
  * exchange, and the event-log profile of the r21 admission streams
  * showed ~45% of wall in exactly those gaps (~20-27 jobs per
  * micro-batch, most of them AQE stage materializations of tiny required
  * aggregations).
  *
  * [[microBatch]] runs `body` with AQE off and restores the previous
  * value after. What the scoped paths GIVE UP is AQE's runtime re-sizing
  * (partition coalescing, join re-planning, skew-join splitting) —
  * irrelevant here because every scoped shape is either map-side, an
  * explicitly-hinted join, a user `repartition(col)` (a required
  * distribution AQE must leave alone anyway), or a `repartitionByRange`
  * with an explicit width; none of the scoped paths uses the REBALANCE
  * hint ([[graft.operators.Layout.mergeIntoPartitioned]] does, and is
  * deliberately NOT scoped).
  */
object Tuning {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val LimitKey = "spark.sql.limit.initialNumPartitions"

  def microBatch[T](spark: SparkSession)(body: => T): T = {
    val prevAqe = spark.conf.get(AqeKey, "true")
    val prevLimit = spark.conf.getOption(LimitKey)
    spark.conf.set(AqeKey, "false")
    // bounded limit+collect probes (probeLshIndex's pushdown-regime
    // signature collect) otherwise scan 1, 4, 16, … partitions in
    // separate driver round-trips (CollectLimit's scale-up waves — 4
    // jobs per micro-batch at 32 shuffle partitions). A micro-batch's
    // data is small by contract, so scan up to 64 partitions in the
    // first wave; capped (not shuffle.partitions) so an oversized
    // backfill on a wide deployment cannot ship partitions × limit
    // rows to the driver in one wave.
    spark.conf.set(LimitKey,
      math.min(spark.sessionState.conf.numShufflePartitions, 64).toString)
    try body
    finally {
      spark.conf.set(AqeKey, prevAqe)
      prevLimit match {
        case Some(v) => spark.conf.set(LimitKey, v)
        case None => spark.conf.unset(LimitKey)
      }
    }
  }
}
