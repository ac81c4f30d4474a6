package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** The one seeded input generator of all three workloads. Everything it
  * writes is a pure function of the seed; the engine only ever sees the
  * files, and the expected answers are derived here from the data as
  * written.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xBF58476D1CE4E5B9L))

  /** Line writer that counts lines and bytes. */
  final class Lines(path: Path) {
    Files.createDirectories(path.getParent)
    private val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    var lines = 0L
    var bytes = 0L
    def add(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      out.write(b); out.write('\n')
      lines += 1; bytes += b.length + 1
    }
    def close(): Unit = out.close()
  }

  def q(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private def pad(n: Int, w: Int): String = {
    val s = n.toString
    if (s.length >= w) s else "0" * (w - s.length) + s
  }

  private def date(r: SplittableRandom, y0: Int, y1: Int): String =
    s"${y0 + r.nextInt(y1 - y0 + 1)}-${pad(1 + r.nextInt(12), 2)}-${pad(1 + r.nextInt(28), 2)}"

  private def instant(r: SplittableRandom, y0: Int, y1: Int): String =
    s"${date(r, y0, y1)}T${pad(r.nextInt(24), 2)}:${pad(r.nextInt(60), 2)}:${pad(r.nextInt(60), 2)}Z"

  private def meta(r: SplittableRandom, tag: String): String =
    s"""{"lastUpdated":"${instant(r, 2023, 2024)}","tag":[{"system":"https://example.org/tags","code":"$tag"}]}"""

  // ------------------------------------------------------------ FHIR store

  /** Per-type cardinalities of the reference project's populated store. */
  val StoreCounts: Seq[(String, Int)] = Seq(
    "Patient" -> 537, "DocumentReference" -> 27264, "Observation" -> 24911,
    "ServiceRequest" -> 24452, "Specimen" -> 17121, "ImagingStudy" -> 2177,
    "Procedure" -> 1616, "MedicationAdministration" -> 1074,
    "Condition" -> 537, "ResearchSubject" -> 537, "BodyStructure" -> 100,
    "Encounter" -> 20, "Group" -> 16, "ResearchStudy" -> 1)

  val ObsCodes: Int = 20
  val ContentTypes: Seq[String] = Seq("text/tab-separated-values",
    "application/pdf", "text/plain", "application/json", "image/png")
  val Genders: Seq[String] = Seq("male", "female", "other", "unknown")

  /** The store as written, for deriving expected search answers. Child
    * arrays hold the owning patient's index.
    */
  final class Store(
      val patientId: Array[String], val gender: Array[String], val birth: Array[String],
      val obsId: Array[String], val obsPat: Array[Int], val obsCode: Array[Int],
      val obsDate: Array[String],
      val specId: Array[String], val specPat: Array[Int],
      val srId: Array[String], val srPat: Array[Int], val srSpecs: Array[Array[Int]],
      val docId: Array[String], val docPat: Array[Int], val docType: Array[Int],
      /** (type, id, patient index) of the other compartment members */
      val otherChildren: Seq[(String, String, Int)],
      val lines: Map[String, Long], val bytes: Long) {
    lazy val specsOf: Map[Int, Seq[Int]] = specId.indices.groupBy(specPat(_)).view.mapValues(_.toSeq).toMap
    lazy val srsOf: Map[Int, Seq[Int]] = srId.indices.groupBy(srPat(_)).view.mapValues(_.toSeq).toMap
    lazy val docsOf: Map[Int, Seq[Int]] = docId.indices.groupBy(docPat(_)).view.mapValues(_.toSeq).toMap
    lazy val obsOf: Map[Int, Seq[Int]] = obsId.indices.groupBy(obsPat(_)).view.mapValues(_.toSeq).toMap
    lazy val obsByCode: Map[Int, Seq[Int]] = obsId.indices.groupBy(obsCode(_)).view.mapValues(_.toSeq).toMap
    lazy val othersOf: Map[Int, Seq[(String, String, Int)]] = otherChildren.groupBy(_._3)
  }

  /** Writes `<dir>/<Type>.ndjson` for every store type. */
  def writeStore(dir: Path, seed: Long): Store = {
    val r = rng(seed, 1)
    val n = StoreCounts.toMap
    val nP = n("Patient")
    val lines = mutable.LinkedHashMap.empty[String, Long]
    var bytes = 0L
    def file(t: String)(body: Lines => Unit): Unit = {
      val w = new Lines(dir.resolve(s"$t.ndjson"))
      try body(w) finally w.close()
      lines(t) = w.lines; bytes += w.bytes
    }
    def ref(t: String, id: String) = s"""{"reference":"$t/$id"}"""

    val patientId = Array.tabulate(nP)(i => s"p-${pad(i + 1, 5)}")
    val gender = Array.fill(nP) {
      val u = r.nextDouble(); if (u < 0.48) "male" else if (u < 0.96) "female" else if (u < 0.99) "other" else "unknown"
    }
    val birth = Array.fill(nP)(date(r, 1930, 2010))
    file("Patient") { w =>
      for (i <- 0 until nP) w.add(
        s"""{"resourceType":"Patient","id":"${patientId(i)}","name":[{"family":"Fam${pad(r.nextInt(100000), 5)}","given":["Giv${pad(r.nextInt(1000), 3)}"]}],""" +
          s""""gender":"${gender(i)}","birthDate":"${birth(i)}","active":${r.nextInt(10) > 0},""" +
          s""""identifier":[{"use":"official","system":"http://hospital.example.org/mrn","value":"MRN-${pad(r.nextInt(10000000), 7)}"}],"meta":${meta(r, "batch-" + (i % 3))}}""")
    }
    def pats(k: Int) = Array.fill(k)(r.nextInt(nP))

    val obsPat = pats(n("Observation"))
    val obsId = Array.tabulate(obsPat.length)(i => s"o-${pad(i + 1, 6)}")
    val obsCode = Array.fill(obsPat.length)(r.nextInt(ObsCodes))
    val obsDate = Array.fill(obsPat.length)(instant(r, 2015, 2024))
    file("Observation") { w =>
      for (i <- obsId.indices) w.add(
        s"""{"resourceType":"Observation","id":"${obsId(i)}","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"L-${pad(obsCode(i), 2)}","display":"Lab ${obsCode(i)}"}],"text":"lab ${obsCode(i)}"},""" +
          s""""subject":${ref("Patient", patientId(obsPat(i)))},"effectiveDateTime":"${obsDate(i)}",""" +
          s""""category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory"}]}],""" +
          s""""valueQuantity":{"value":${r.nextInt(10000) / 10.0},"unit":"g/dL","system":"http://unitsofmeasure.org","code":"g/dL"},"meta":${meta(r, "routine")}}""")
    }

    val specPat = pats(n("Specimen"))
    val specId = Array.tabulate(specPat.length)(i => s"sp-${pad(i + 1, 6)}")
    file("Specimen") { w =>
      for (i <- specId.indices) w.add(
        s"""{"resourceType":"Specimen","id":"${specId(i)}","subject":${ref("Patient", patientId(specPat(i)))},""" +
          s""""processing":[{"method":{"coding":[{"system":"http://snomed.info/sct","code":"pm-${r.nextInt(9)}"}]}}],"meta":${meta(r, "ffpe")}}""")
    }
    val specsByPat = specId.indices.groupBy(specPat(_)).view.mapValues(_.toArray).toMap

    val srPat = pats(n("ServiceRequest"))
    val srId = Array.tabulate(srPat.length)(i => s"sr-${pad(i + 1, 6)}")
    val srSpecs = srPat.map { p =>
      val own = specsByPat.getOrElse(p, Array.empty[Int])
      if (own.isEmpty) Array.empty[Int]
      else Array.fill(1 + r.nextInt(2))(own(r.nextInt(own.length))).distinct
    }
    file("ServiceRequest") { w =>
      for (i <- srId.indices) {
        val specs = srSpecs(i).map(s => ref("Specimen", specId(s))).mkString(",")
        w.add(s"""{"resourceType":"ServiceRequest","id":"${srId(i)}","status":"${if (r.nextInt(4) == 0) "active" else "completed"}","intent":"order",""" +
          s""""code":{"coding":[{"system":"http://snomed.info/sct","code":"15220000","display":"Laboratory test"}]},""" +
          s""""subject":${ref("Patient", patientId(srPat(i)))}""" +
          (if (specs.nonEmpty) s""","specimen":[$specs]}""" else "}"))
      }
    }
    val srsByPat = srId.indices.groupBy(srPat(_))

    val docPat = pats(n("DocumentReference"))
    val docId = Array.tabulate(docPat.length)(i => s"d-${pad(i + 1, 6)}")
    val docType = Array.fill(docPat.length)(r.nextInt(ContentTypes.length))
    file("DocumentReference") { w =>
      for (i <- docId.indices) {
        val srs = srsByPat.getOrElse(docPat(i), Nil)
        val related =
          if (srs.isEmpty) "" else s""","context":{"related":[${ref("ServiceRequest", srId(srs(r.nextInt(srs.length))))}]}"""
        w.add(s"""{"resourceType":"DocumentReference","id":"${docId(i)}","status":"current","subject":${ref("Patient", patientId(docPat(i)))},""" +
          s""""content":[{"attachment":{"contentType":"${ContentTypes(docType(i))}","title":"file-$i.dat","size":${r.nextInt(100000)}}}]""" +
          s"""$related,"date":"${instant(r, 2018, 2024)}","meta":${meta(r, "ingest")}}""")
      }
    }

    val others = mutable.ArrayBuffer.empty[(String, String, Int)]
    def child(t: String, prefix: String, refField: String)(extra: SplittableRandom => String): Unit =
      file(t) { w =>
        for (i <- 0 until n(t)) {
          val p = r.nextInt(nP)
          val id = s"$prefix-${pad(i + 1, 5)}"
          others += ((t, id, p))
          w.add(s"""{"resourceType":"$t","id":"$id","$refField":${ref("Patient", patientId(p))}${extra(r)}}""")
        }
      }
    child("ImagingStudy", "is", "subject")(r => s""","status":"available","started":"${instant(r, 2015, 2024)}","meta":${meta(r, "pacs")}""")
    child("Procedure", "pr", "subject")(r => s""","status":"completed","code":{"coding":[{"system":"http://snomed.info/sct","code":"8015${r.nextInt(10)}"}]},"performedDateTime":"${instant(r, 2015, 2024)}","meta":${meta(r, "claims")}""")
    child("MedicationAdministration", "ma", "subject")(r => s""","status":"completed","medication":{"concept":{"coding":[{"system":"http://www.nlm.nih.gov/research/umls/rxnorm","code":"rx-${r.nextInt(30)}"}]}},"occurenceDateTime":"${instant(r, 2015, 2024)}","meta":${meta(r, "pharmacy")}""")
    child("Condition", "cd", "subject")(r => s""","code":{"coding":[{"system":"http://snomed.info/sct","code":"4405${r.nextInt(10)}"}],"text":"condition"},"onsetDateTime":"${date(r, 2000, 2020)}","meta":${meta(r, "claims")}""")
    child("ResearchSubject", "rsub", "subject")(r => s""","status":"active","study":{"reference":"ResearchStudy/rs-1"},"meta":${meta(r, "migrated")}""")
    child("BodyStructure", "bs", "patient")(r => s""","location":{"coding":[{"system":"http://snomed.info/sct","code":"3960${r.nextInt(10)}"}]}""")
    file("Encounter") { w =>
      for (i <- 0 until n("Encounter")) w.add(
        s"""{"resourceType":"Encounter","id":"e-${pad(i + 1, 3)}","status":"completed","class":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"AMB"}]},"meta":${meta(r, "clinic")}}""")
    }
    file("Group") { w =>
      for (i <- 0 until n("Group")) {
        val members = Seq.fill(5)(ref("Specimen", specId(r.nextInt(specId.length))))
          .map(m => s"""{"entity":$m}""").mkString(",")
        w.add(s"""{"resourceType":"Group","id":"g-${pad(i + 1, 3)}","type":"specimen","membership":"definitional","member":[$members],"meta":${meta(r, "adhoc")}}""")
      }
    }
    file("ResearchStudy") { w =>
      w.add(s"""{"resourceType":"ResearchStudy","id":"rs-1","name":"PROJECT-1","status":"active","meta":${meta(r, "project")}}""")
    }
    new Store(patientId, gender, birth, obsId, obsPat, obsCode, obsDate,
      specId, specPat, srId, srPat, srSpecs, docId, docPat, docType,
      others.toSeq, lines.toMap, bytes)
  }

  // ---------------------------------------------------------- R5 ingest

  /** Resource types the R5→R4 transform dispatches, with per-project
    * counts (the reference project's, scaled by the ingest scale).
    */
  val IngestCounts: Seq[(String, Int)] = Seq(
    "DocumentReference" -> 27264, "Specimen" -> 17121, "ImagingStudy" -> 2177,
    "MedicationAdministration" -> 1074, "ResearchSubject" -> 537,
    "BodyStructure" -> 537, "Encounter" -> 20, "Group" -> 16,
    "ResearchStudy" -> 1)

  final case class IngestPlan(
      linesByType: Map[String, Long], corruptByType: Map[String, Long],
      expectedAssays: Long, expectedDocs: Long, expectedGroupsOut: Long,
      batches: Seq[Path], batchRows: Seq[Int], feedSeed: Path,
      expectedVersions: Map[String, Int], inputBytes: Long) {
    def resources: Long = linesByType.values.sum + batchRows.sum
  }

  /** R5 NDJSON for `projects` projects at `scale` of the reference counts,
    * with `corruptShare` of the lines truncated mid-record; a version-1
    * Patient feed; and update-create batches of updates and creates.
    */
  def writeIngest(dir: Path, seed: Long, projects: Int, scale: Double,
      corruptShare: Double, nBatches: Int, updatesPerBatch: Int,
      createsPerBatch: Int): IngestPlan = {
    val r = rng(seed, 2)
    val counts = IngestCounts.map { case (t, c) =>
      t -> (if (c <= 20) c else math.max(1, (c * scale).round.toInt))
    }.toMap
    val lines = mutable.LinkedHashMap.empty[String, Long]
    val corrupt = mutable.LinkedHashMap.empty[String, Long]
    var bytes = 0L
    val writers = IngestCounts.map(_._1).map(t =>
      t -> new Lines(dir.resolve(s"r5/$t.ndjson"))).toMap
    def emit(t: String, json: String): Boolean = {
      val bad = r.nextDouble() < corruptShare
      writers(t).add(if (bad) json.take(json.length / 2) else json)
      lines(t) = lines.getOrElse(t, 0L) + 1
      if (bad) corrupt(t) = corrupt.getOrElse(t, 0L) + 1
      !bad
    }
    def ref(t: String, id: String) = s"""{"reference":"$t/$id"}"""
    var assays = 0L
    var docs = 0L
    var groupsOut = 0L
    val nPat = math.max(1, (537 * scale).round.toInt)
    val patients = mutable.ArrayBuffer.empty[String]
    for (pj <- 0 until projects) {
      val pre = s"j$pj"
      val pats = Array.tabulate(nPat)(i => s"$pre-p${pad(i, 5)}")
      patients ++= pats
      // specimens: valid ones resolve to a patient in the assay joins
      val nSpec = counts("Specimen")
      val specOk = Array.tabulate(nSpec) { i =>
        emit("Specimen", s"""{"resourceType":"Specimen","id":"$pre-sp${pad(i, 6)}","subject":${ref("Patient", pats(r.nextInt(nPat)))},""" +
          s""""processing":[{"method":{"coding":[{"system":"http://snomed.info/sct","code":"pm-${r.nextInt(9)}"}]}}],""" +
          s""""collection":{"procedure":${ref("Procedure", s"$pre-pr${r.nextInt(1000)}")},"bodySite":{"text":"site-${r.nextInt(20)}"}},"meta":${meta(r, "ffpe")}}""")
      }
      val nGroup = counts("Group")
      val groupIds = Array.tabulate(nGroup)(i => s"$pre-g${pad(i, 3)}")
      groupIds.foreach { gid =>
        val members = Seq.fill(8 + r.nextInt(24))(r.nextInt(nSpec)).distinct
        val ok = emit("Group", s"""{"resourceType":"Group","id":"$gid","membership":"definitional","type":"specimen","member":[""" +
          members.map(s => s"""{"entity":${ref("Specimen", s"$pre-sp${pad(s, 6)}")}}""").mkString(",") +
          s"""],"meta":${meta(r, "adhoc")}}""")
        val claims = ok && members.exists(specOk(_))
        if (claims) assays += 1
        if (ok && !claims) groupsOut += 1
      }
      for (i <- 0 until counts("DocumentReference")) {
        val u = r.nextDouble()
        val (subject, pass2Spec) =
          if (u < 0.3) (ref("Group", groupIds(r.nextInt(nGroup))), -1)
          else if (u < 0.8) { val s = r.nextInt(nSpec); (ref("Specimen", s"$pre-sp${pad(s, 6)}"), s) }
          else (ref("Patient", pats(r.nextInt(nPat))), -1)
        val ext = Seq("maf", "vcf", "bed", "tsv", "pdf", "bam")(r.nextInt(6))
        val ok = emit("DocumentReference",
          s"""{"resourceType":"DocumentReference","id":"$pre-doc${pad(i, 6)}","version":"${1 + r.nextInt(3)}","status":"current","subject":$subject,""" +
            s""""content":[{"attachment":{"title":"f$i.$ext","url":"https://portal.example.org/files/f$i.$ext","size":${r.nextInt(1 << 20)}},""" +
            s""""profile":[{"valueCoding":{"system":"https://dcc.example.org/format","code":"FMT${r.nextInt(5)}"}}]}],"meta":${meta(r, "ingest")}}""")
        if (ok) docs += 1
        if (ok && pass2Spec >= 0 && specOk(pass2Spec)) assays += 1
      }
      for (i <- 0 until counts("ImagingStudy")) emit("ImagingStudy",
        s"""{"resourceType":"ImagingStudy","id":"$pre-is${pad(i, 5)}","status":"available","subject":${ref("Patient", pats(r.nextInt(nPat)))},""" +
          s""""basedOn":[${ref("ServiceRequest", s"$pre-sr${r.nextInt(1000)}")}],"series":[{"uid":"1.2.${r.nextInt(100000)}","modality":{"coding":[{"system":" http://dicom.nema.org/resources/ontology/DCM","code":"MR"}]}}]}""")
      for (i <- 0 until counts("MedicationAdministration")) emit("MedicationAdministration",
        s"""{"resourceType":"MedicationAdministration","id":"$pre-ma${pad(i, 5)}","status":"completed","subject":${ref("Patient", pats(r.nextInt(nPat)))},""" +
          s""""medication":{"concept":{"coding":[{"system":"http://www.nlm.nih.gov/research/umls/rxnorm","code":"rx-${r.nextInt(30)}"}]}},"occurenceDateTime":"${instant(r, 2015, 2024)}"}""")
      for (i <- 0 until counts("ResearchSubject")) emit("ResearchSubject",
        s"""{"resourceType":"ResearchSubject","id":"$pre-rsub${pad(i, 5)}","status":"active","study":${ref("ResearchStudy", s"$pre-rs")},"subject":${ref("Patient", pats(i % nPat))}}""")
      for (i <- 0 until counts("BodyStructure")) emit("BodyStructure",
        s"""{"resourceType":"BodyStructure","id":"$pre-bs${pad(i, 5)}","patient":${ref("Patient", pats(r.nextInt(nPat)))},""" +
          s""""includedStructure":[{"structure":{"coding":[{"system":"http://snomed.info/sct","code":"3960${r.nextInt(10)}"}]}}]}""")
      for (i <- 0 until counts("Encounter")) emit("Encounter",
        s"""{"resourceType":"Encounter","id":"$pre-e${pad(i, 3)}","status":"completed",""" +
          s""""class":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"AMB"}]},"reference":[${ref("Condition", s"$pre-c$i")}]}""")
      emit("ResearchStudy", s"""{"resourceType":"ResearchStudy","id":"$pre-rs","name":"PROJECT-$pj","status":"active","title":"Project $pj"}""")
    }
    writers.values.foreach { w => w.close(); bytes += w.bytes }

    // update-create: a version-1 feed of every project's patients, then
    // batches of distinct ids — updates of existing ids and fresh creates
    def patientJson(id: String, rev: Int) =
      s"""{"resourceType":"Patient","id":"$id","name":[{"family":"Fam$rev${id.hashCode.abs % 1000}","given":["G"]}],"gender":"${Genders(r.nextInt(2))}","birthDate":"${date(r, 1930, 2010)}","active":true,""" +
        s""""meta":{"versionId":"1","lastUpdated":"2024-01-01T00:00:00Z","tag":[{"system":"https://example.org/tags","code":"seed"}]}}"""
    val feedSeed = dir.resolve("feed_seed/Patient.ndjson")
    val fw = new Lines(feedSeed)
    patients.foreach(p => fw.add(patientJson(p, 0)))
    fw.close(); bytes += fw.bytes
    val versions = mutable.LinkedHashMap.empty[String, Int]
    patients.foreach(versions(_) = 1)
    val known = mutable.ArrayBuffer.from(patients)
    var nextNew = 0
    val batchRows = mutable.ArrayBuffer.empty[Int]
    val batchPaths = (0 until nBatches).map { b =>
      val p = dir.resolve(f"batches/batch-$b%03d.ndjson")
      val w = new Lines(p)
      val updates = mutable.LinkedHashSet.empty[String]
      while (updates.size < math.min(updatesPerBatch, known.size))
        updates += known(r.nextInt(known.size))
      updates.foreach { id => w.add(patientJson(id, b + 1)); versions(id) += 1 }
      (0 until createsPerBatch).foreach { _ =>
        val id = s"new-p${pad(nextNew, 6)}"
        nextNew += 1
        w.add(patientJson(id, b + 1)); versions(id) = 1; known += id
      }
      w.close(); bytes += w.bytes
      batchRows += w.lines.toInt
      p
    }
    IngestPlan(lines.toMap, IngestCounts.map(t => t._1 -> corrupt.getOrElse(t._1, 0L)).toMap,
      assays, docs, groupsOut, batchPaths,
      batchRows.toSeq,
      feedSeed, versions.toMap, bytes)
  }

  // ------------------------------------------------------- crawl corpus

  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val Dims = 32

  /** Per segment: the ids of its planted documents. */
  final case class Planted(landed: Int, exactDups: Set[Long], mutants: Set[Long],
      lowQuality: Set[Long])

  final case class CorpusPlan(
      segments: Seq[Path], planted: Seq[Planted],
      contaminated: Set[Long], vecPairs: Seq[(Long, Long)], segmentBytes: Long,
      docsDir: Path, embDir: Path, historyPath: Path, evalPath: Path) {
    def landed: Int = planted.map(_.landed).sum
  }

  private def vocabulary(r: SplittableRandom, size: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val w = (0 until 2 + r.nextInt(3)).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
      if (!EnStop.contains(w)) seen += w
    }
    seen.toArray
  }

  private def words(r: SplittableRandom, vocab: Array[String], n: Int): Array[String] =
    Array.fill(n) {
      if (r.nextDouble() < 0.25) EnStop(r.nextInt(EnStop.length))
      else { val u = r.nextDouble(); vocab((vocab.length * u * u).toInt) }
    }

  /** WARC response record bytes for one document, its own gzip member. */
  private def warcMember(out: OutputStream, recordId: String, uri: String,
      warcType: String, payload: Array[Byte]): Unit = {
    val head = s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Record-ID: $recordId\r\nContent-Length: ${payload.length}\r\n\r\n"
    val gz = new GZIPOutputStream(out)
    gz.write(head.getBytes(UTF_8)); gz.write(payload); gz.write("\r\n\r\n".getBytes(UTF_8))
    gz.finish()
  }

  /** A crawl in `segments` `.warc.gz` segments over a seeded history, with
    * planted exact duplicates and near-duplicate mutants of earlier
    * documents, low-quality pages, eval-set contamination, and planted
    * near-duplicate embedding pairs.
    */
  def writeCorpus(dir: Path, seed: Long, historyDocs: Int, segments: Int,
      freshPerSegment: Int, plantedShare: Double, contaminatedShare: Double,
      evalDocs: Int, parts: Int): CorpusPlan = {
    val r = rng(seed, 3)
    val vocab = vocabulary(r, 4000)
    val texts = mutable.LinkedHashMap.empty[Long, String]
    val embs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    def randVec(): Array[Float] = {
      val v = Array.fill(Dims)(r.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(x => (math.round(x / norm * 1e5) / 1e5).toFloat)
    }
    def doc(len: Int) = words(r, vocab, len).mkString(" ")

    val evalTexts = (0 until evalDocs).map(i => (i.toLong + 1, doc(200)))
    val history = (1 to historyDocs).map(i => i.toLong -> doc(180 + r.nextInt(140)))
    history.foreach { case (id, t) => texts(id) = t; embs(id) = randVec() }

    val contaminated = mutable.LinkedHashSet.empty[Long]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val earlier = mutable.ArrayBuffer.from(history.map(_._1))
    val planted = mutable.ArrayBuffer.empty[Planted]
    var segBytes = 0L
    val nPlant = math.max(1, (freshPerSegment * plantedShare).round.toInt)
    val segPaths = (0 until segments).map { k =>
      val segDocs = mutable.ArrayBuffer.empty[(Long, String)]
      val fresh = (0 until freshPerSegment).map { i =>
        val id = 100000L * (k + 1) + i
        var toks = words(r, vocab, 180 + r.nextInt(140))
        if (r.nextDouble() < contaminatedShare) {
          val ev = evalTexts(r.nextInt(evalTexts.length))._2.split(" ")
          val off = r.nextInt(ev.length - 40)
          val at = r.nextInt(toks.length)
          toks = toks.take(at) ++ ev.slice(off, off + 40) ++ toks.drop(at)
          contaminated += id
        }
        id -> toks.mkString(" ")
      }
      fresh.foreach { case (id, t) =>
        texts(id) = t
        // a planted near-duplicate vector copies an earlier fresh doc's
        // embedding up to noise far below the SemDeDup threshold
        val prior = embs.keys.filter(i => i >= 100000L && i < 5000000L).toSeq
        if (prior.nonEmpty && r.nextDouble() < plantedShare) {
          val src = prior(r.nextInt(prior.size))
          embs(id) = embs(src).map(x => (x + (r.nextDouble() - 0.5) * 1e-3).toFloat)
          pairs += ((src, id))
        } else embs(id) = randVec()
      }
      segDocs ++= fresh
      val dups, mutants, lowq = mutable.LinkedHashSet.empty[Long]
      for (j <- 0 until nPlant) {
        val dupId = 5000000L + k * 1000 + j
        val src = earlier(r.nextInt(earlier.size))
        segDocs += dupId -> texts(src); dups += dupId
        val mutId = 6000000L + k * 1000 + j
        val orig = texts(history(r.nextInt(history.size))._1).split(" ")
        segDocs += mutId -> orig.zipWithIndex.filter(_._2 % 25 != 24).map(_._1).mkString(" ")
        mutants += mutId
        val lowId = 9000000L + k * 1000 + j
        segDocs += lowId -> Seq.fill(3 + r.nextInt(5))(Seq("zz", "qq", "xx")(r.nextInt(3))).mkString(" ")
        lowq += lowId
      }
      segDocs.foreach { case (id, t) => if (!texts.contains(id)) { texts(id) = t; embs(id) = randVec() } }
      earlier ++= fresh.map(_._1)
      // shuffle arrival order within the segment
      val order = segDocs.toArray
      for (i <- order.indices.reverse) {
        val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      val p = dir.resolve(f"segments/seg-$k%03d.warc.gz")
      Files.createDirectories(p.getParent)
      val buf = new ByteArrayOutputStream()
      warcMember(buf, s"<urn:uuid:info-$k>", "", "warcinfo",
        s"software: perfbench\r\nsegment: $k\r\n".getBytes(UTF_8))
      order.foreach { case (id, t) =>
        warcMember(buf, s"<urn:uuid:resp-$id>", s"http://example.org/doc/$id", "response",
          ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + t).getBytes(UTF_8))
      }
      Files.write(p, buf.toByteArray)
      segBytes += buf.size()
      planted += Planted(order.length, dups.toSet, mutants.toSet, lowq.toSet)
      p
    }

    val docsDir = dir.resolve("docs")
    val embDir = dir.resolve("emb")
    val dw = (0 until parts).map(i => new Lines(docsDir.resolve(f"part-$i%03d.jsonl")))
    val ew = (0 until parts).map(i => new Lines(embDir.resolve(f"part-$i%03d.jsonl")))
    texts.zipWithIndex.foreach { case ((id, t), i) =>
      dw(i % parts).add(s"""{"doc_id":$id,"text":${q(t)}}""")
      ew(i % parts).add(s"""{"vec_id":$id,"embedding":[${embs(id).mkString(",")}]}""")
    }
    (dw ++ ew).foreach(_.close())
    val hist = new Lines(dir.resolve("history.jsonl"))
    history.foreach { case (id, t) => hist.add(s"""{"doc_id":$id,"text":${q(t)}}""") }
    hist.close()
    val ev = new Lines(dir.resolve("eval.jsonl"))
    evalTexts.foreach { case (id, t) => ev.add(s"""{"doc_id":$id,"text":${q(t)}}""") }
    ev.close()
    CorpusPlan(segPaths, planted.toSeq, contaminated.toSet, pairs.toSeq, segBytes,
      docsDir, embDir, dir.resolve("history.jsonl"), dir.resolve("eval.jsonl"))
  }
}
