package graft.fhir

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The search session `FhirSearch` plans and runs every request on: its
  * settings derive from the store, it sees the caller's confs and
  * functions from before construction, and the request-time guards keep
  * reading the caller.
  */
class SearchSessionSpec extends SparkSpec {

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def settings(df: DataFrame): (String, String) =
    (df.sparkSession.conf.get("spark.sql.adaptive.enabled"),
      df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

  /** Runs `body` with caller conf `k` set to `v`, then unsets it. */
  private def withConf[A](k: String, v: String)(body: => A): A = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  test("a store below one advisory partition plans statically on its own " +
      "session, served from the caller's cached relations") {
    val types = Seq("Patient", "Observation", "Specimen", "ServiceRequest")
    val cached = types.map(t => t ->
      FhirIO.readNdjson(spark, s"${SearchShapes.Dir}/$t.ndjson",
        FhirSchemas.byType(t)).cache()).toMap
    try {
      cached.values.foreach(_.count())
      val blocks = spark.sparkContext.getRDDStorageInfo.length
      val eng = new FhirSearch(spark, cached)
      types.foreach { t =>
        val df = eng.search(s"$t?_count=5")
        assert(df.sparkSession ne spark)
        assert(settings(df) == (("false", "1")))
        val plan = df.queryExecution.executedPlan
        assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
        assert(plan.toString.contains("InMemoryTableScan"), plan)
        assert(df.collect().length == 5)
      }
      // the chain reads two rebound tables in one static job
      val chain = eng.search(SearchShapes.All.toMap.apply("chain")._1)
      assert(chain.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.size == 2)
      assert(spark.sparkContext.getRDDStorageInfo.length == blocks,
        "the search session cached the store again")
    } finally cached.values.foreach(_.unpersist(true))
  }

  test("no per-request codegen: a shape's second request, with new " +
      "values, compiles nothing") {
    val eng = FhirSearch.overFixtures(spark, SearchShapes.Dir)
    def compiles(req: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      eng.search(req).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val again = SearchShapes.All.map { case (shape, (first, second)) =>
      compiles(first)
      shape -> compiles(second)
    }
    assert(again.forall(_._2 == 0), again)
  }

  test("a mix cycle compiles nothing: after the first cycle of every " +
      "shape in both variants, the next two compile no class") {
    val eng = FhirSearch.overFixtures(spark, SearchShapes.Dir)
    val mix = SearchShapes.All.flatMap { case (_, (a, b)) => Seq(a, b) }
    val compiles = (1 to 3).map { _ =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mix.foreach(eng.search(_).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles.tail == Seq(0L, 0L), compiles)
  }

  test("$everything over a partial store: the served types answer, a " +
      "type the store lacks is an error, other requests still work") {
    val tables = Seq("Patient", "Observation").map(t => t ->
      FhirIO.readNdjson(spark, s"${SearchShapes.Dir}/$t.ndjson",
        FhirSchemas.byType(t))).toMap
    val eng = new FhirSearch(spark, tables)
    val obs = tables("Observation")
      .filter(col("subject.reference") === "Patient/p-001")
      .select(col("id")).collect().map(_.getString(0)).sorted.toSeq
    assert(obs.nonEmpty)
    assert(eng.search("Patient/p-001/$everything?_type=Observation")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))) ==
      obs.map(("Observation", _, "match")) :+ (("Patient", "p-001", "match")))
    val e = intercept[RuntimeException](
      eng.search("Patient/p-001/$everything").collect())
    assert(e.getMessage.contains("unknown resource type"), e.getMessage)
    assert(eng.search("Observation?subject=Patient/p-001").collect()
      .map(_.getAs[String]("id")).sorted.toSeq == obs)
  }

  test("caller confs set before construction reach searches; engines " +
      "over one unchanged caller share a search session") {
    val a = FhirSearch.overFixtures(spark, SearchShapes.Dir).search("Patient/p-001")
    val b = FhirSearch.overFixtures(spark, SearchShapes.Dir).search("Patient/p-002")
    assert(a.sparkSession eq b.sparkSession)
    withConf("graft.test.searchMarker", "on") {
      val df = FhirSearch.overFixtures(spark, SearchShapes.Dir)
        .search("Patient?gender=male")
      assert(df.sparkSession ne a.sparkSession)
      assert(df.sparkSession.conf.get("graft.test.searchMarker") == "on")
      val again = FhirSearch.overFixtures(spark, SearchShapes.Dir)
        .search("Patient?gender=female")
      assert(again.sparkSession eq df.sparkSession)
    }
  }

  test("a function registered on the caller, with no conf change, reaches " +
      "the next engine; so does one re-registered under the same name") {
    val before = FhirSearch.overFixtures(spark, SearchShapes.Dir).search("Patient")
    def probe(): Seq[Int] = FhirSearch.overFixtures(spark, SearchShapes.Dir)
      .search("Patient?_count=3").selectExpr("graft_search_probe(id) AS n")
      .collect().toSeq.map(_.getInt(0))
    try {
      spark.udf.register("graft_search_probe", (s: String) => s.length)
      assert(probe() == Seq(5, 5, 5))
      spark.udf.register("graft_search_probe", (_: String) => 7)
      assert(probe() == Seq(7, 7, 7))
      assert(FhirSearch.overFixtures(spark, SearchShapes.Dir).search("Patient")
        .sparkSession ne before.sparkSession)
    } finally spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_search_probe"): Unit
  }

  test("request-time guards read the caller: contentScanMaxBytes set after " +
      "construction still governs _content") {
    val eng = FhirSearch.overFixtures(spark, SearchShapes.Dir)
    assert(eng.search("Patient?_content=family001").count() > 0)
    withConf("graft.fhir.contentScanMaxBytes", "1") {
      val e = intercept[RuntimeException](eng.search("Patient?_content=family001"))
      assert(e.getMessage.contains("graft.fhir.contentScanMaxBytes"), e.getMessage)
    }
  }

  test("a store above one advisory partition is served on the caller's " +
      "session; history feeds count toward the store's size") {
    val patient = FhirIO.readNdjson(spark, s"${SearchShapes.Dir}/Patient.ndjson",
      FhirSchemas.patient)
    val history = Seq.fill(4)(patient).reduce(_ union _)
    val bytes = patient.queryExecution.optimizedPlan.stats.sizeInBytes
    withConf(advisory, (bytes * 2).toString) {
      val snapshotOnly = new FhirSearch(spark, Map("Patient" -> patient))
      assert(snapshotOnly.search("Patient?_count=1").sparkSession ne spark)
      val withHistory = new FhirSearch(spark, Map("Patient" -> patient),
        historySource = Map("Patient" -> history))
      assert(withHistory.search("Patient?_count=1").sparkSession eq spark)
      assert(withHistory.search("Patient/_history?_count=1").sparkSession eq spark)
    }
  }

  test("both regimes return the same rows for every template shape") {
    val small = FhirSearch.overFixtures(spark, SearchShapes.Dir)
    val large = withConf(advisory, "1k")(
      FhirSearch.overFixtures(spark, SearchShapes.Dir))
    SearchShapes.All.foreach { case (shape, (req, _)) =>
      val (s, l) = (small.search(req), large.search(req))
      assert(settings(s) == (("false", "1")), shape)
      assert(l.sparkSession eq spark, shape)
      assert(s.collect().toSeq == l.collect().toSeq, shape)
    }
  }
}
