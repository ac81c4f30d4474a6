package graft.fhir

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MIME type inference (SURVEY A33 / C12), reproducing
  * /root/reference/scripts/assay.py:11-20,123-140 — i.e. Python
  * `mimetypes.guess_type(..., strict=False)` with the reference's custom
  * registrations:
  *
  * - file name = attachment.title, overridden by the URL's path when the
  *   URL is set and its path contains a '.'
  * - suffix map first (`.tgz` ≡ `.tar.gz`, `.svgz` ≡ `.svg.gz`, ... —
  *   case-insensitive), then ONE encoding-suffix strip (`.gz`/`.Z`/
  *   `.bz2`/`.xz`/`.br` — case-SENSITIVE, matching CPython), so
  *   `sample.vcf.gz` resolves as `.vcf`, not as an unknown `.gz`
  * - extension lookup: exact match first, then lower-cased, fallback
  *   `application/octet-stream`
  * - the reference's custom genomics extensions (.R/.maf/.bed/.bed5/.vcf/
  *   .sam/.yaml/.md/.markdown) plus the common built-ins its data hits
  *   (including the non-strict `common_types` rows like .rtf).
  *
  * Pure Column expressions over literal maps — broadcast-free, codegen'd,
  * O(1) per row: the same plan shape at 100 rows or 100 TB.
  *
  * Lower-casing takes an ASCII path. Spark's `lower()` with ICU case
  * mappings initializes its collation support on first use: a one-time
  * stall (about 2 s on a 4-vCPU host) inside the first task that
  * lower-cases a string, which the write's other tasks wait for.
  * Extensions are ASCII in practice, so an all-ASCII value (character
  * length == byte length) is lower-cased by `translate(A–Z → a–z)`. Any
  * other value still goes through `lower()`, so the result is exact:
  * Python maps `.mar` + U+212A KELVIN SIGN + `down` to `.markdown`, and
  * so does this.
  */
object Mime {

  private val Tsv = "text/tab-separated-values"

  /** Extension → MIME. Custom rows cite assay.py:11-20; the rest is the
    * standard `mimetypes` table subset this engine guarantees.
    */
  val table: Map[String, String] = Map(
    ".R" -> "text/x-r", ".r" -> "text/x-r",
    ".maf" -> Tsv, ".bed5" -> Tsv, ".bed" -> Tsv, ".vcf" -> Tsv, ".sam" -> Tsv,
    ".yaml" -> "text/yaml",
    ".md" -> "text/x-markdown", ".markdown" -> "text/x-markdown",
    ".txt" -> "text/plain", ".tsv" -> Tsv, ".csv" -> "text/csv",
    ".json" -> "application/json", ".xml" -> "text/xml",
    ".html" -> "text/html", ".htm" -> "text/html",
    ".pdf" -> "application/pdf", ".zip" -> "application/zip",
    ".png" -> "image/png", ".jpg" -> "image/jpeg", ".jpeg" -> "image/jpeg",
    ".gif" -> "image/gif", ".tif" -> "image/tiff", ".tiff" -> "image/tiff",
    ".svg" -> "image/svg+xml", ".bmp" -> "image/bmp",
    ".mp3" -> "audio/mpeg", ".wav" -> "audio/x-wav",
    ".mp4" -> "video/mp4", ".avi" -> "video/x-msvideo",
    ".dcm" -> "application/dicom",
    // archive/encoding-adjacent + non-strict common_types rows
    ".tar" -> "application/x-tar", ".gz" -> "application/gzip",
    ".rtf" -> "application/rtf")

  /** Python suffix_map collapsed to its net effect: `.tgz` → `.tar.gz`,
    * whose encoding suffix is then stripped → effective extension `.tar`.
    */
  private val suffixNet: Map[String, String] = Map(
    ".tgz" -> ".tar", ".taz" -> ".tar", ".tz" -> ".tar",
    ".tbz2" -> ".tar", ".txz" -> ".tar", ".svgz" -> ".svg")

  /** encodings_map keys — matched case-sensitively, like CPython. */
  private val encodings = Seq(".gz", ".Z", ".bz2", ".xz", ".br")

  val Fallback = "application/octet-stream"

  private val upper = ('A' to 'Z').mkString

  /** `lower(s)`, with all-ASCII values kept off the ICU case mapping. */
  private def lowerCase(s: Column): Column =
    when(length(s) === octet_length(s), translate(s, upper, upper.toLowerCase))
      .otherwise(lower(s))

  /** The chosen file name: URL path if it contains a dot, else title
    * (assay.py:129-133). `parse_url(url, 'PATH')` matches Python
    * `urllib.parse.urlparse(url).path` for well-formed absolute URLs but
    * returns NULL where java.net.URI rejects the string (relative paths,
    * spaces) — the regexp fallback mirrors urlparse's never-fail contract:
    * drop `scheme://authority`, drop query/fragment, keep the rest.
    */
  def fileName(title: Column, url: Column): Column = {
    val manual = regexp_replace(
      regexp_replace(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""), "[?#].*", "")
    val path = coalesce(try_parse_url(url, lit("PATH")), manual)
    when(url.isNotNull && path.contains("."), path).otherwise(title)
  }

  /** Infer the MIME type from title/url. */
  def infer(title: Column, url: Column): Column = {
    val fn = fileName(title, url)
    // last ".ext" with no '.' '/' inside — i.e. the extension of the last
    // path segment, empty when the segment has no dot (posixpath.splitext)
    val ext1 = regexp_extract(fn, "(\\.[^./]+)$", 1)
    // extension remaining after stripping ext1 (for the encoding case)
    val ext2 = regexp_extract(fn, "(\\.[^./]+)\\.[^./]+$", 1)
    val effExt = coalesce(
      element_at(typedlit(suffixNet), lowerCase(ext1)),
      when(ext1.isin(encodings: _*), ext2).otherwise(ext1))
    val m = typedlit(table)
    coalesce(element_at(m, effExt), element_at(m, lowerCase(effExt)), lit(Fallback))
  }
}
