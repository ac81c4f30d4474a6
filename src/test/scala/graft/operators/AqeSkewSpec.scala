package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AQE skew-join handling: GraftSession enables
  * `spark.sql.adaptive.skewJoin.enabled`; this spec proves the runtime
  * split actually FIRES on a skewed shuffle join (one hot key holding
  * ~99% of the fact) by lowering the byte thresholds to test scale and
  * reading the final adaptive plan. At 100 TB this is the safety net
  * under every non-salted join: a hot key's oversized partition is split
  * into parallel sub-reads instead of serializing one reducer —
  * complementing the EXPLICIT salting patterns (q34 agg, q50 join) used
  * where the skew is known up front.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits the hot key's partition in a skewed shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // both sides must shuffle for the skew reader to apply
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      // hot key 0: 50k wide rows; 200 cold keys with 20 rows each
      val fact = spark.range(0, 50000).select(lit(0L).as("k"),
          concat(lit("x" * 100), col("id").cast("string")).as("payload"))
        .unionAll(spark.range(0, 4000).select(
          (col("id") % 200 + 1).as("k"),
          concat(lit("y"), col("id").cast("string")).as("payload")))
      val dim = spark.range(0, 201).select(col("id").as("k"),
        concat(lit("d"), col("id").cast("string")).as("attr"))

      // NOTE no keyed aggregate after the join: the skew split replicates
      // rows across sub-partitions, so AQE (rightly) refuses to apply it
      // when a downstream operator still requires hash distribution on
      // the join key — the split serves join-shaped tails, not
      // join+regroup plans (those want the explicit salt, q50).
      val joined = fact.join(dim, "k")
      // collect() (not count/foreach — those execute a DIFFERENT
      // QueryExecution) so joined's own adaptive plan finalizes
      assert(joined.collect().length == 54000)

      // the FINAL adaptive plan must contain a skew-split shuffle read
      val executed = joined.queryExecution.executedPlan
      val adaptive = executed
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      val finalPlan = adaptive.map(_.executedPlan.toString)
        .getOrElse(executed.toString)
      assert(finalPlan.contains("skew=true"), finalPlan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
