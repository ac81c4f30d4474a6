package graft.fhir

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Mime.infer vs Python mimetypes vectors (fixtures/fhir/mime_vectors.csv,
  * generated with the reference's exact add_type configuration —
  * assay.py:11-20).
  */
class MimeSpec extends SparkSpec {

  test("all 100 doc attachments match Python mimetypes") {
    val docs = FhirIO.readNdjson(spark,
      "/root/repo/fixtures/fhir/DocumentReference.ndjson",
      FhirSchemas.documentReference)
    val att0 = element_at(col("content"), 1).getField("attachment")
    val got = docs.select(col("id").as("doc_id"),
      Mime.infer(att0.getField("title"), att0.getField("url")).as("got"))
    val want = spark.read.option("header", "true")
      .csv("/root/repo/fixtures/fhir/mime_vectors.csv")
    val joined = got.join(want, Seq("doc_id"))
    assert(joined.count() == 100)
    assert(joined.filter(col("got") =!= col("content_type")).count() == 0)
  }

  test("encoding suffixes, suffix_map, common_types, and odd URLs match Python") {
    val want = spark.read.option("header", "true")
      .csv("/root/repo/fixtures/fhir/mime_extra_vectors.csv")
    val got = want.select(col("title"), col("url"), col("content_type"),
      Mime.infer(col("title"), col("url")).as("got"))
    val bad = got.filter(col("got") =!= col("content_type"))
    assert(bad.count() == 0, bad.collect().mkString("\n"))
  }

  test("url path wins over title only when it contains a dot") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  ('notes.md', 'https://x.org/page'),
        |  ('notes.md', 'https://x.org/a/b.txt?q=.pdf'),
        |  (NULL, 'https://x.org/a/b.csv'),
        |  ('UPPER.MAF', NULL),
        |  ('noext', NULL)
        |AS t(title, url)""".stripMargin)
    val got = df.select(Mime.infer(col("title"), col("url")).as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "text/x-markdown",          // url path has no dot → title
      "text/plain",               // query excluded, path .txt wins
      "text/csv",
      "text/tab-separated-values", // exact miss → lowercase hit
      "application/octet-stream")) // no extension
  }

  test("a non-ASCII extension still lower-cases like Python") {
    // U+212A KELVIN SIGN lower-cases to 'k': Python's mimetypes (with the
    // reference's add_type rows) answers text/x-markdown. An ASCII-only
    // lower-casing would miss it and fall back to octet-stream.
    import spark.implicits._
    val got = Seq("notes.mar\u212Adown").toDF("title")
      .select(Mime.infer(col("title"), lit(null).cast("string")))
      .head().getString(0)
    assert(got == "text/x-markdown")
  }
}
