package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.fhir.{FhirIO, FhirSchemas, FhirSearch}

/** One seeded search request and the answer derived from the store. */
final case class SearchReq(template: String, url: String, expected: SearchReq.Answer)

object SearchReq {
  sealed trait Answer
  /** matched ids, in any order */
  final case class Ids(ids: Seq[String]) extends Answer
  /** matched ids, in this order */
  final case class Ordered(ids: Seq[String]) extends Answer
  /** (mode|resourceType|id) rows, in any order */
  final case class Rows(rows: Seq[String]) extends Answer
  final case class Total(n: Long) extends Answer

  /** Request templates and how many variants each has. No traffic record
    * of the reference exists to weight them by, so the mix gives every
    * template the same weight: each appears `PerTemplate` times per cycle,
    * and its variants take turns across cycles.
    */
  val Templates: Seq[(String, Int)] = Seq("read" -> 2, "everything" -> 1, "filter" -> 3,
    "chain" -> 1, "include" -> 2, "sort_page" -> 1, "total" -> 1)
  val PerTemplate = 2

  /** The templates of one cycle in a fixed interleaved order, the same for
    * every seed; only the parameters come from the seed.
    */
  private val order: IndexedSeq[String] = {
    val a = Templates.flatMap(t => Seq.fill(PerTemplate)(t._1)).toArray
    val r = new java.util.SplittableRandom(20)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  /** Cycle `c` of the mix as (template, variant) slots. */
  def cycle(c: Int): IndexedSeq[(String, Int)] = {
    val variants = Templates.toMap
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    order.map { t =>
      val k = seen(t)
      seen(t) = k + 1
      (t, (c * PerTemplate + k) % variants(t))
    }
  }

  /** Every (template, variant) once. */
  val AllVariants: Seq[(String, Int)] = Templates.flatMap { case (t, n) => (0 until n).map(t -> _) }

  def draw(s: Gen.Store, r: java.util.SplittableRandom, slot: (String, Int)): SearchReq = {
    val (template, variant) = slot
    val p = r.nextInt(s.patientId.length)
    val pid = s.patientId(p)
    val code = r.nextInt(Gen.ObsCodes)
    val codeTok = f"http://loinc.org|L-$code%02d"
    def gender = Gen.Genders(r.nextInt(2))
    template match {
      case "read" =>
        if (variant == 0) SearchReq(template, s"Patient/$pid", Ids(Seq(pid)))
        else {
          val o = s.obsId(r.nextInt(s.obsId.length))
          SearchReq(template, s"Observation/$o", Ids(Seq(o)))
        }
      case "everything" =>
        val kids = s.obsOf.getOrElse(p, Nil).map(i => ("Observation", s.obsId(i))) ++
          s.specsOf.getOrElse(p, Nil).map(i => ("Specimen", s.specId(i))) ++
          s.srsOf.getOrElse(p, Nil).map(i => ("ServiceRequest", s.srId(i))) ++
          s.docsOf.getOrElse(p, Nil).map(i => ("DocumentReference", s.docId(i))) ++
          s.othersOf.getOrElse(p, Nil).map(o => (o._1, o._2))
        SearchReq(template, s"Patient/$pid/$$everything",
          Rows((("Patient", pid) +: kids).map { case (t, id) => s"match|$t|$id" }))
      case "filter" => variant match {
        case 0 =>
          val d = f"${2022 + r.nextInt(2)}-${1 + r.nextInt(12)}%02d-01"
          SearchReq(template, s"Observation?code=$codeTok&date=ge$d",
            Ids(s.obsByCode(code).filter(s.obsDate(_) >= d).map(s.obsId)))
        case 1 =>
          val g = gender
          val d = s"${1960 + r.nextInt(20)}-01-01"
          SearchReq(template, s"Patient?gender=$g&birthdate=lt$d",
            Ids(s.patientId.indices.filter(i => s.gender(i).startsWith(g) && s.birth(i) < d)
              .map(s.patientId)))
        case _ =>
          val ct = r.nextInt(Gen.ContentTypes.length)
          SearchReq(template,
            s"DocumentReference?subject=Patient/$pid&contenttype=${Gen.ContentTypes(ct)}",
            Ids(s.docsOf.getOrElse(p, Nil).filter(s.docType(_) == ct).map(s.docId)))
      }
      case "chain" =>
        val g = gender
        SearchReq(template, s"Observation?subject:Patient.gender=$g&code=$codeTok",
          Ids(s.obsByCode(code).filter(i => s.gender(s.obsPat(i)).startsWith(g)).map(s.obsId)))
      case "include" =>
        if (variant == 0) {
          val srs = s.srsOf.getOrElse(p, Nil)
          val specs = srs.flatMap(s.srSpecs(_)).distinct
          SearchReq(template, s"ServiceRequest?subject=Patient/$pid&_include=ServiceRequest:specimen",
            Rows(srs.map(i => s"match|ServiceRequest|${s.srId(i)}") ++
              specs.map(i => s"include|Specimen|${s.specId(i)}")))
        } else {
          val specs = s.specsOf.getOrElse(p, Nil).toSet
          val srs = s.srsOf.getOrElse(p, Nil).filter(i => s.srSpecs(i).exists(specs))
          SearchReq(template, s"Specimen?subject=Patient/$pid&_revinclude=ServiceRequest:specimen",
            Rows(specs.toSeq.map(i => s"match|Specimen|${s.specId(i)}") ++
              srs.map(i => s"revinclude|ServiceRequest|${s.srId(i)}")))
        }
      case "sort_page" =>
        val page = 1 + r.nextInt(5)
        val sorted = s.obsByCode(code).sortWith { (a, b) =>
          val c = s.obsDate(a).compareTo(s.obsDate(b))
          if (c != 0) c > 0 else s.obsId(a) < s.obsId(b)
        }
        SearchReq(template,
          s"Observation?code=$codeTok&_sort=-effectiveDateTime&_count=20&_page=$page",
          Ordered(sorted.slice((page - 1) * 20, page * 20).map(s.obsId)))
      case _ =>
        SearchReq("total", "Patient?_total=accurate&_count=0", Total(s.patientId.length))
    }
  }

  /** Whether collected rows are the expected answer. */
  def matches(rows: Array[Row], a: Answer): Boolean = a match {
    case Ids(ids) => rows.map(_.getAs[String]("id")).sorted.sameElements(ids.sorted)
    case Ordered(ids) => rows.map(_.getAs[String]("id")).sameElements(ids)
    case Rows(exp) =>
      rows.map(r => s"${r.getAs[String]("mode")}|${r.getAs[String]("resourceType")}|${r.getAs[String]("id")}")
        .sorted.sameElements(exp.sorted)
    case Total(n) => rows.length == 1 && rows(0).getLong(0) == n
  }

  /** Rows the plan's leaf scans produced (cached-relation and file scans),
    * through adaptive query stages.
    */
  def leafRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
    case s: QueryStageExec => leafRows(s.plan)
    case _: ReusedExchangeExec => 0L
    case l if l.children.isEmpty => l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case o => o.children.map(leafRows).sum
  }
}

/** `fhir_search`: one client in a closed loop against a store loaded once
  * into cached relations.
  */
final class SearchWorkload(spark: SparkSession, tracer: Tracer, jobs: JobCounter,
    work: Path, seed: Long) extends Workload(spark, tracer, jobs, work, seed) {
  import SearchReq._

  private var store: Gen.Store = _
  private var engine: FhirSearch = _
  private var tables: Map[String, DataFrame] = Map.empty
  private var storeDir: Path = _

  private case class Stat(key: String, template: String, latencyNs: Long,
      traced: Boolean, compileMs: Double, optPlanMs: Double, rowsRead: Long, rowsOut: Long)
  private val stats = mutable.ArrayBuffer.empty[Stat]

  private def schema(t: String) =
    if (t == "DocumentReference") FhirSchemas.documentReferenceStore else FhirSchemas.byType(t)

  def generate(): Unit = {
    storeDir = Dirs.fresh(work.resolve("store"))
    store = Gen.writeStore(storeDir, seed)
  }

  /** Loads every type into a cached relation and counts it. */
  def setup(): Unit = {
    tables.values.foreach(_.unpersist(true))
    tables = Gen.StoreCounts.map(_._1).map { t =>
      t -> FhirIO.readNdjson(spark, storeDir.resolve(s"$t.ndjson").toString, schema(t)).cache()
    }.toMap
    tables.values.foreach(_.count())
    engine = new FhirSearch(spark, tables)
  }

  private def request(req: SearchReq, key: String, record: Boolean): Unit = {
    val ok = out.op(s"${req.template} ${req.url}") {
      val t0 = System.nanoTime()
      val (df, rows) = tracer.span("fhir.search.request", key) {
        val df = tracer.span("fhir.search.build", key)(engine.search(req.url))
        (df, tracer.span("fhir.search.exec", key)(df.collect()))
      }
      val lat = System.nanoTime() - t0
      val good = matches(rows, req.expected)
      if (good && record) {
        val phases = df.queryExecution.tracker.phases
        def ph(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val rowsRead = if (tracer.on) leafRows(df.queryExecution.executedPlan) else 0L
        stats += Stat(key, req.template, lat, tracer.on,
          ph("analysis") + ph("optimization") + ph("planning"),
          ph("optimization") + ph("planning"), rowsRead, rows.length)
      }
      good
    }
    if (!ok && record) out.note(s"request $key failed")
  }

  def warmup(): Unit = {
    val r = Gen.rng(seed, 11)
    // every template and variant once before timing starts
    AllVariants.zipWithIndex.foreach { case (slot, i) => request(draw(store, r, slot), s"warm-$i", record = false) }
  }

  private var timedNs = 0L

  def timed(seconds: Double): Unit = {
    val r = Gen.rng(seed, 12)
    var c = 0
    var last = 0L
    // whole cycles only, so every run's sample has the mix's composition;
    // a new cycle starts only if one more like the last fits
    while (c == 0 || timedNs + last <= seconds * 1e9) {
      val t = System.nanoTime()
      // the traced run alternates traced and untraced cycles, to price its
      // own overhead against interleaved untraced requests
      tracer.paused = c % 2 == 1
      cycle(c).zipWithIndex.foreach { case (slot, j) =>
        request(draw(store, r, slot), s"req-${c * Templates.size * PerTemplate + j}", record = true)
      }
      last = System.nanoTime() - t
      timedNs += last
      HeapPeak.sample()
      c += 1
    }
    tracer.paused = false
  }

  def finish(): Unit = {
    val (files, bytes) = (store.lines.size.toLong, store.bytes)
    out.inputs ++= Seq("resources" -> store.lines.values.sum, "resources_per_type" -> store.lines,
      "files" -> files, "input_bytes" -> bytes, "requests" -> out.attempted,
      "requests_per_cycle" -> Templates.map(t => t._1 -> PerTemplate).toMap)
    val lat = stats.map(s => Dirs.ms(s.latencyNs)).toSeq
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
    if (lat.nonEmpty) {
      val p50 = Stats.median(lat)
      val rps = stats.size / Dirs.secs(timedNs)
      out.e2e ++= Seq("op_p50_ms" -> (p50, "ms"), "throughput_per_s" -> (rps, "items/s"),
        "stored_bytes_per_input_byte" -> (cachedBytes / bytes, "ratio"))
      // the highest whole percentile with at least ten samples beyond it
      val tail = math.floor(100.0 * (1 - 10.0 / lat.size)).max(50.0)
      out.report ++= Seq("search_p50_ms" -> (p50, "ms"),
        "search_p95_ms" -> (Stats.percentile(lat, 95), "ms"),
        s"search_p${tail.toInt}_ms" -> (Stats.percentile(lat, tail), "ms"),
        "search_samples" -> (lat.size.toDouble, "count"), "search_rps" -> (rps, "req/s"))
    }
    if (tracer.enabled) layerMetrics()
  }

  private def layerMetrics(): Unit = {
    tracer.drain()
    val traced = stats.filter(_.traced)
    val spans = tracer.allSpans
    val byKey = spans.groupBy(_.key)
    val L = out.layer
    def perReq(f: Stats.Span => Double, name: String) =
      traced.flatMap(s => byKey.getOrElse(s.key, Nil).find(_.name == name)).map(f).toSeq
    if (traced.nonEmpty) {
      L("fhir.search.build_ms") = (Stats.median(perReq(s => Dirs.ms(s.durNs), "fhir.search.build")), "ms")
      L("fhir.search.compile_ms") = (Stats.median(traced.map(_.compileMs).toSeq), "ms")
      val execMs = traced.flatMap { s =>
        byKey(s.key).find(_.name == "fhir.search.exec").map(x => Dirs.ms(x.durNs) - s.optPlanMs)
      }.toSeq
      L("fhir.search.exec_ms") = (Stats.median(execMs), "ms")
      val reqStats = traced.flatMap(s => byKey(s.key).find(_.name == "fhir.search.request")
        .map(sp => (sp, tracer.subtreeStats(sp.id))))
      val buildStats = traced.flatMap(s => byKey(s.key).find(_.name == "fhir.search.build")
        .map(sp => tracer.subtreeStats(sp.id)))
      val n = reqStats.size.toDouble
      L("fhir.search.jobs") = (reqStats.map(_._2.jobs).sum / n, "count")
      L("fhir.search.tasks") = (reqStats.map(_._2.tasks).sum / n, "count")
      L("fhir.search.eager_jobs") = (buildStats.map(_.jobs).sum / n, "count")
      L("fhir.search.rows_read_per_row_returned") =
        (traced.map(_.rowsRead).sum.toDouble / math.max(1L, traced.map(_.rowsOut).sum), "ratio")
      val busy = reqStats.map(_._2.jobIntervals.toSeq).map(Stats.unionLength).sum.toDouble
      val wall = reqStats.map(x => Dirs.ms(x._1.durNs)).sum
      L("fhir.search.job_busy_ratio") = (busy / wall, "ratio")
      Templates.foreach { case (t, _) =>
        val xs = traced.filter(_.template == t).map(s => Dirs.ms(s.latencyNs)).toSeq
        L(s"fhir.search.$t.p50_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      }
      // traced against untraced requests of the same template; the
      // templates weigh alike, as in the mix
      val both = Templates.flatMap { case (t, _) =>
        def med(tr: Boolean) = {
          val xs = stats.filter(s => s.template == t && s.traced == tr).map(s => Dirs.ms(s.latencyNs)).toSeq
          if (xs.isEmpty) None else Some(Stats.median(xs))
        }
        for (a <- med(true); b <- med(false)) yield (a, b)
      }
      if (both.nonEmpty)
        L("trace.overhead_pct") = ((both.map(_._1).sum / both.map(_._2).sum - 1) * 100, "%")
      Main.sparkLayer(L, reqStats.map(_._2).toSeq, wall)
    }
  }
}
