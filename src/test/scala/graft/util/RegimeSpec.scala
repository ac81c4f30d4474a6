package graft.util

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec

/** Execution regimes run on clone sessions: the caller's own settings
  * never change, whatever scopes overlap on it.
  */
class RegimeSpec extends SparkSpec {

  private val keys = Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key,
    SQLConf.LIMIT_INITIAL_NUM_PARTITIONS.key,
    SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key)

  test("overlapping scopes (A enters, B enters, A leaves, B leaves) leave " +
      "the caller's settings as they were; a concurrent query plans " +
      "adaptively") {
    val before = keys.map(spark.conf.getOption)
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val aIn, bIn, queried, aOut = new CountDownLatch(1)
    def scope(enter: CountDownLatch, waitFor: CountDownLatch*)(
        leave: CountDownLatch): Future[Unit] = Future {
      Regime.run(spark, Regime.microBatch(spark))() { (s, _) =>
        enter.countDown()
        waitFor.foreach(_.await())
        assert(s.range(10).count() == 10)
      }
      leave.countDown()
    }
    try {
      val a = scope(aIn, bIn, queried)(aOut)
      val b = Future(aIn.await()).flatMap(_ => scope(bIn, aOut)(new CountDownLatch(1)))
      val user = Future {
        bIn.await()
        try spark.range(100).groupBy((col("id") % 7).as("k")).count()
          .queryExecution.executedPlan
        finally queried.countDown()
      }
      val plan = Await.result(user, 2.minutes)
      Await.result(a.zip(b), 2.minutes)
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
      assert(keys.map(spark.conf.getOption) == before)
    } finally pool.shutdown()
  }

  test("a nested scope runs on the outer clone; an unchanged caller keeps " +
      "one clone; a changed caller conf gets a fresh one") {
    val settings = Regime.microBatch(spark)
    val outer = Regime.run(spark, settings)() { (s, _) =>
      assert(Regime.run(s, Regime.microBatch(s))() { (inner, _) => inner } eq s)
      s
    }
    assert(outer ne spark)
    assert(outer.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) == "false")
    assert((1 to 20).map(_ => Regime.session(spark, settings)).forall(_ eq outer))
    spark.conf.set("graft.test.regimeMarker", "on")
    try {
      val fresh = Regime.session(spark, settings)
      assert(fresh ne outer)
      assert(fresh.conf.get("graft.test.regimeMarker") == "on")
    } finally spark.conf.unset("graft.test.regimeMarker")
  }

  test("a caller frame rebound into a scope plans on the clone's settings, " +
      "and a cached caller frame stays a cache hit") {
    val df = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    val cached = spark.range(50).toDF("v").cache()
    try {
      cached.count()
      Regime.run(spark, Regime.microBatch(spark))(df, cached) {
        case (s, Seq(d, c)) =>
          assert(d.sparkSession eq s)
          assert(!d.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
          assert(d.collect().length == 7)
          assert(c.queryExecution.executedPlan.toString
            .contains("InMemoryTableScan"))
        case other => fail(s"unexpected frames $other")
      }
    } finally { cached.unpersist(); () }
  }

  test("atMost decides with one bounded probe") {
    assert(Regime.atMost(spark.range(5).toDF(), 5))
    assert(!Regime.atMost(spark.range(6).toDF(), 5))
    assert(Regime.atMost(spark.range(0).toDF(), 0))
    assert(!Regime.atMost(spark.range(1).toDF(), 0))
  }
}
