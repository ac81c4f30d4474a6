package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec

/** The driver-side quantizer fits ([[Similarity.ivfIndex]],
  * [[Similarity.pqCodebooks]]) seed their Lloyd iterations with k
  * distinct sample rows, so a sample smaller than k must be refused up
  * front: the distinct seed draw over fewer than k rows never completes.
  */
class QuantizerFitSpec extends SparkSpec {
  import spark.implicits._

  test("pqCodebooks refuses a sample smaller than kcodes instead of hanging") {
    val rows = Seq((0L, Array(1f, 0f, 0f, 1f)), (1L, Array(0f, 1f, 1f, 0f)),
      (2L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    // the fit runs on a daemon thread: were it to hang, the wait below
    // fails the test instead of stalling the suite
    val fit = Future(Similarity.pqCodebooks(rows, m = 2, kcodes = 16))
    val e = intercept[IllegalArgumentException](Await.result(fit, 60.seconds))
    assert(e.getMessage.contains("k=16"), e.getMessage)
  }
}
