package graft.fhir

/** One request per template shape of the `fhir_search` benchmark mix,
  * over the fixture store (`FhirPack.FixDir`), each in two variants that
  * differ in every value the request carries (ids, codes, dates, genders,
  * the page). `total` carries no value, so its variants are one request.
  */
object SearchShapes {

  val Dir: String = graft.queries.FhirPack.FixDir

  val All: Seq[(String, (String, String))] = Seq(
    "read" -> ("Patient/p-001", "Patient/p-002"),
    "everything" -> ("Patient/p-001/$everything", "Patient/p-002/$everything"),
    "filter_token_date" ->
      ("Observation?code=http://loinc.org|2339-0&date=ge2021-03-01",
        "Observation?code=http://loinc.org|718-7&date=ge2021-06-01"),
    "filter_string_date" -> ("Patient?gender=male&birthdate=lt1970-01-01",
      "Patient?gender=female&birthdate=lt1980-01-01"),
    "filter_reference_token" ->
      ("DocumentReference?subject=Patient/p-002&contenttype=text/tab-separated-values",
        "DocumentReference?subject=Patient/p-005&contenttype=text/csv"),
    "chain" ->
      ("Observation?subject:Patient.gender=male&code=http://loinc.org|2339-0",
        "Observation?subject:Patient.gender=female&code=http://loinc.org|718-7"),
    "include" ->
      ("ServiceRequest?subject=Patient/p-002&_include=ServiceRequest:specimen",
        "ServiceRequest?subject=Patient/p-005&_include=ServiceRequest:specimen"),
    "revinclude" ->
      ("Specimen?subject=Patient/p-001&_revinclude=ServiceRequest:specimen",
        "Specimen?subject=Patient/p-002&_revinclude=ServiceRequest:specimen"),
    "sort_page" ->
      ("Observation?status=final&_sort=-effectiveDateTime&_count=20&_page=2",
        "Observation?status=preliminary&_sort=-effectiveDateTime&_count=20&_page=1"),
    "total" -> ("Patient?_total=accurate&_count=0",
      "Patient?_total=accurate&_count=0"))
}
