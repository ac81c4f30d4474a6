package graft.fhir

import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}

import graft.SparkSpec

/** Paging values are refused before planning, naming the FHIR parameter:
  * a bad value must not surface as an analyzer error about a negative
  * limit or offset, or as a bare `NumberFormatException`.
  */
class SearchPagingSpec extends SparkSpec {

  private lazy val eng = FhirSearch.overFixtures(spark, SearchShapes.Dir)

  private def refused(req: String, param: String): Unit = {
    val e = intercept[IllegalArgumentException](eng.search(req))
    assert(e.getMessage.contains(param), e.getMessage)
  }

  test("_page=0 is refused naming _page") {
    refused("Patient?_count=5&_page=0", "_page")
  }

  test("a negative _count is refused naming _count") {
    refused("Patient?_count=-1", "_count")
  }

  test("a non-numeric _count is refused naming _count") {
    refused("Patient?_count=abc", "_count")
  }

  test("a _page whose offset overflows an Int is refused naming _page") {
    refused("Patient?_count=2000000000&_page=3", "_page")
  }

  test("history feeds refuse a bad _count the same way") {
    refused("Patient/p-010/_history?_count=-2", "_count")
    refused("Patient/_history?_count=x", "_count")
    refused("_history?_count=-1", "_count")
  }

  test("the default sort pages on id once, with no duplicate tiebreak key") {
    val plan = eng.search("Patient?_count=5&_page=2").queryExecution.executedPlan
    val orders = plan.collect {
      case s: SortExec => s.sortOrder
      case t: TakeOrderedAndProjectExec => t.sortOrder
    }
    assert(orders.map(_.count(_.references.exists(_.name == "id"))) == Seq(1),
      plan)
  }

  test("valid paging still pages") {
    assert(eng.search("Patient?_count=5&_page=2").count() == 5)
    assert(eng.search("Patient?_count=0").count() == 0)
  }
}
