package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites; one session per JVM (Test/fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  // SPARK_GRAFT_TEST_CPUS overrides the suite's core count (default 4),
  // e.g. to reproduce the driver's local[32] shape; CI stays at 4.
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "4").toInt
  lazy val session: SparkSession = {
    val s = GraftSession
      .configure(SparkSession.builder().master(s"local[$cpus]"),
        shufflePartitions = cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
