package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar function library (SURVEY.md §2.7 F1-F10).
  *
  * Everything that CAN be a builtin-`Column` combinator is one (stays in
  * whole-stage codegen); only NFD normalization (F3), exact URLEncoder
  * parity (F4) and exact-binary-BigDecimal rounding (F9) are UDFs — the
  * three cases SURVEY.md §4.2 predicts, none on a 100 TB hot path (slug and
  * urlEncode run on tiny catalog/spec data; the measure hot path uses the
  * decimal variant below).
  */
object Scalars {

  /** F1: keyword cleanup (DcatAp11ToCkanBatch.java:75-82): strip `,` `.`,
    * map `/` `:` `;` to `-`, `§` to "paragraf".
    */
  def fixKeyword(c: Column): Column =
    Seq("," -> "", "." -> "", "/" -> "-", ":" -> "-", ";" -> "-",
      "§" -> "paragraf")
      .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  /** F3: CKAN organization-name slug (DcatAp11ToCkanBatch.java:273-277):
    * Unicode NFD decompose → drop everything outside Basic Latin (kills
    * combining marks AND untransliterable chars) → space/dot → `-` →
    * lowercase. NFD has no Spark builtin → UDF.
    */
  val nfdSlug = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\P{InBasic_Latin}", "")
      .replace(' ', '-').replace('.', '-')
      .toLowerCase
  }

  /** F4: IRI segment encoding (FdpDimension.java:104-115): space → `-`
    * first, then java.net.URLEncoder (UTF-8). Exact parity matters because
    * these strings become minted IRIs that are hash-compared — URLEncoder's
    * `+`/`%XX` choices differ from RFC-3986 encoders, so the slow path
    * wraps the identical JDK call. Implemented as the native codegen'd
    * scanner ([[NativeExpressions.UrlEncodeExpr]]): zero-allocation
    * safe-charset fast path (the previous Column-level guard was an
    * `rlike` — a regex per key attribute per row in the cube helpers).
    * Requires [[NativeExpressions.register]] on the session; `Tables.t`,
    * the cube emitter, and the query entry points all register.
    */
  def urlEncode(c: Column): Column = call_function("url_encode", c)

  /** F5: mimetype tail extraction (DcatAp11ToCkanBatch.java:495-498):
    * `.*&#47;([^/]+/[^/]+)` → `$1`; non-matching strings pass through.
    */
  def mimetype(c: Column): Column =
    regexp_replace(c, ".*/([^/]+/[^/]+)", "$1")

  /** F6: RÚIAN spatial-IRI parse (DcatAp11ToDkanBatch.java:375-417).
    * Returns (typ, code): IRIs under ruian.linked.opendata.cz/resource/
    * yield a 7-way type mapping + the trailing code; everything else gets
    * the NKOD-mandatory defaults ("ST", "1").
    */
  def ruianType(c: Column): Column = {
    val re = "http://ruian\\.linked\\.opendata\\.cz/resource/([^/]+)/(.*)"
    val raw = regexp_extract(c, re, 1)
    when(c.rlike("^http://ruian\\.linked\\.opendata\\.cz/resource/.*"),
      when(raw === "vusc", "VC").when(raw === "obce", "OB")
        .when(raw === "kraje", "KR").when(raw === "orp", "OP")
        .when(raw === "momc", "MC").when(raw === "pou", "PU")
        .otherwise("ST"))
      .otherwise("ST")
  }

  def ruianCode(c: Column): Column = {
    val re = "http://ruian\\.linked\\.opendata\\.cz/resource/([^/]+)/(.*)"
    when(c.rlike("^http://ruian\\.linked\\.opendata\\.cz/resource/.*"),
      regexp_extract(c, re, 2))
      .otherwise("1")
  }

  /** F7: date-shape classifier → reference.data.gov.uk IRI
    * (DateDimension.java:64-78), as the native `date_iri` shape scan (one
    * char pass instead of up to four rlike regexes per row — this runs per
    * row per date attribute in the cube helpers). Null for non-matching
    * shapes; the strict cube path wraps this with raise_error to mirror
    * the reference's exception. Requires [[NativeExpressions.register]]
    * (Tables.t / the cube emitter register).
    */
  def dateIri(c: Column): Column = call_function("date_iri", c)

  /** Strict variant: unclassifiable non-null dates fail the job like the
    * reference's exceptionFactory.failure (DateDimension.java:73).
    */
  def dateIriStrict(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(coalesce(dateIri(c),
        raise_error(concat(lit("Date value not in xs:date/xs:dateTime format: "), c))))

  /** F8: locale-aware decimal parse (FdpAttribute.java:48-65). Emulates
    * java.text.DecimalFormat.parse: strip the grouping separator, normalize
    * the decimal separator to `.`, then parse the LONGEST NUMERIC PREFIX
    * (DecimalFormat stops at the first invalid char and still succeeds —
    * "1234,56kč" → 1234.56); null when nothing parses.
    *
    * The prefix scan is the native `parse_num_prefix` expression — the
    * regex form (`regexp_extract` of `^(-?\d*\.?\d+|-?\d+\.?)`, which the
    * DuckDB oracles still evaluate literally and which the native scanner
    * reproduces case-for-case) ran a regex engine per measure cell.
    * Requires [[NativeExpressions.register]] on the session; the cube
    * emitter and the query entry points register it.
    */
  def parseDecimal(c: Column, decimalSep: String = ".",
                   groupSep: String = " "): Column = {
    val norm = replace(replace(c, lit(groupSep), lit("")),
      lit(decimalSep), lit("."))
    call_function("parse_num_prefix", norm)
  }

  /** F9 (reference byte parity): measure scale+round via
    * `new BigDecimal(double)` — the EXACT binary expansion — then
    * setScale(2, HALF_UP) (FdpMeasure.java:89-92). NOT the same as Spark's
    * round(), which goes through BigDecimal.valueOf (shortest decimal
    * repr): they disagree on near-ties (round(2.675, 2) → Spark 2.68,
    * reference 2.67 because 2.675's exact double is 2.67499999…). UDF for
    * parity; property-tested against the reference formula.
    */
  val roundHalfUpExact = udf { (d: java.lang.Double) =>
    if (d == null) null
    else new java.math.BigDecimal(d)
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
  }

  /** F9 (scale path): exact-decimal measure rounding for inputs that are
    * true decimals — codegen'd, cross-engine deterministic, what a Spark-
    * first pipeline should use when double artifacts aren't contractual.
    */
  def measureDecimal(value: Column, factor: Column): Column =
    (value.cast(DecimalType(18, 2)) * factor.cast(DecimalType(10, 4)))
      .cast(DecimalType(18, 2))

  /** F10: IRI minting (Mapper.java:65-67, FdpDimension.java:54-104). */
  def observationIri(datasetIri: Column, rowNumber: Column,
                     measureName: Column): Column =
    concat(datasetIri, lit("/observation/"), rowNumber, lit("/for-"), measureName)

  def dimensionValueIri(datasetIri: Column, dimName: String,
                        mergedKey: Column): Column =
    concat(datasetIri, lit(s"/$dimName/"), mergedKey)

  /** `-`-joined url-encoded key attributes in spec order
    * (FdpDimension.java:89-102). A null key cell mints a literal "null"
    * segment — urlEncode(null) is null and the reference's Java
    * string-concat stringifies it; bare concat_ws would silently drop the
    * segment and diverge the minted IRI.
    */
  def mergedKey(keyCols: Seq[Column]): Column =
    concat_ws("-", keyCols.map(c => coalesce(urlEncode(c), lit("null"))): _*)

  def codelistIri(datasetName: Column, dimName: String): Column =
    concat(lit("http://data.openbudgets.eu/resource/"), datasetName,
      lit(s"/codelist/$dimName"))
}
