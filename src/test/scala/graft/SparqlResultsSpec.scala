package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.graphquery.Sparql

/** X256 — W3C SPARQL result serializers (CSV/TSV/JSON). Exact-string
  * cases on a hand-built graph: term syntax per format, RFC 4180
  * quoting, unbound handling, JSON binding shape, term-distinct
  * DISTINCT under kept metadata.
  */
class SparqlResultsSpec extends SparkSpec {

  private val tripleSchema = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o", StringType), StructField("oIsIri", BooleanType),
    StructField("oLang", StringType), StructField("oDatatype", StringType)))

  private def g(rows: Row*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, tripleSchema)
  }

  private val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"

  test("TSV: N-Triples term syntax, IRI-position vars, unbound = empty") {
    val graph = g(
      Row("urn:s/1", "urn:p/name", "jmeno", false, "cs", null),
      Row("urn:s/1", "urn:p/size", "4", false, null, xsdInt),
      Row("urn:s/2", "urn:p/name", "plain", false, null, null),
      Row("urn:s/2", "urn:p/ref", "urn:s/1", true, null, null))
    val (header, lines) = Sparql.selectTsv(graph,
      """SELECT ?s ?name ?ref WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?s <urn:p/ref> ?ref . }
        |}""".stripMargin)
    assert(header == "?s\t?name\t?ref")
    assert(lines.collect().map(_.getString(0)).toSet == Set(
      "<urn:s/1>\t\"jmeno\"@cs\t",
      "<urn:s/2>\t\"plain\"\t<urn:s/1>"))
  }

  test("CSV: plain lexical forms with RFC 4180 quoting") {
    val graph = g(
      Row("urn:s/1", "urn:p/v", "has,comma", false, null, null),
      Row("urn:s/2", "urn:p/v", "has \"quote\"", false, null, null),
      Row("urn:s/3", "urn:p/v", "plain", false, null, null))
    val (header, lines) = Sparql.selectCsv(graph,
      "SELECT ?s ?v WHERE { ?s <urn:p/v> ?v . }")
    assert(header == "s,v")
    assert(lines.collect().map(_.getString(0)).toSet == Set(
      "urn:s/1,\"has,comma\"",
      "urn:s/2,\"has \"\"quote\"\"\"",
      "urn:s/3,plain"))
  }

  test("JSON bindings: uri/literal term objects, xml:lang and datatype " +
    "only when present, unbound var omitted") {
    val graph = g(
      Row("urn:s/1", "urn:p/name", "jmeno", false, "cs", null),
      Row("urn:s/1", "urn:p/size", "4", false, null, xsdInt),
      Row("urn:s/2", "urn:p/name", "plain", false, null, null))
    val (head, lines) = Sparql.selectJsonBindings(graph,
      """SELECT ?s ?name ?size WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?s <urn:p/size> ?size . }
        |}""".stripMargin)
    assert(head == "{\"head\":{\"vars\":[\"s\",\"name\",\"size\"]},")
    val collected = lines.collect().map(_.getString(0))
    assert(collected.toSet == Set(
      """{"s":{"type":"uri","value":"urn:s/1"},""" +
        """"name":{"type":"literal","value":"jmeno","xml:lang":"cs"},""" +
        s""""size":{"type":"literal","value":"4","datatype":"$xsdInt"}}""",
      """{"s":{"type":"uri","value":"urn:s/2"},""" +
        """"name":{"type":"literal","value":"plain"}}"""))
    // The documented assembly — header + "results":{"bindings":[ +
    // lines joined by , + ]}} — must be one VALID JSON document.
    val document = head + "\"results\":{\"bindings\":[" +
      collected.mkString(",") + "]}}"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(document)
    assert(parsed.get("head").get("vars").size() == 3)
    assert(parsed.get("results").get("bindings").size() == 2)
  }

  test("XML results: uri/literal binding elements, xml:lang/datatype " +
    "attributes, XML escaping, unbound omission") {
    val graph = g(
      Row("urn:s/1", "urn:p/name", "a<b>&\"c\"", false, "cs", null),
      Row("urn:s/1", "urn:p/size", "4", false, null, xsdInt),
      Row("urn:s/2", "urn:p/name", "plain", false, null, null))
    val (head, lines) = Sparql.selectXml(graph,
      """SELECT ?s ?name ?size WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?s <urn:p/size> ?size . }
        |}""".stripMargin)
    assert(head ==
      "<?xml version=\"1.0\"?>\n" +
        "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
        "<head><variable name=\"s\"/><variable name=\"name\"/>" +
        "<variable name=\"size\"/></head><results>")
    assert(lines.collect().map(_.getString(0)).toSet == Set(
      "<result><binding name=\"s\"><uri>urn:s/1</uri></binding>" +
        "<binding name=\"name\"><literal xml:lang=\"cs\">" +
        "a&lt;b&gt;&amp;&quot;c&quot;</literal></binding>" +
        s"""<binding name="size"><literal datatype="$xsdInt">4""" +
        "</literal></binding></result>",
      "<result><binding name=\"s\"><uri>urn:s/2</uri></binding>" +
        "<binding name=\"name\"><literal>plain</literal></binding></result>"))
  }

  test("dataset twins: GRAPH-scoped solutions serialize with the same " +
    "term rules") {
    import scala.jdk.CollectionConverters._
    val quadSchema = StructType(StructField("g", StringType) +: tripleSchema.fields)
    val ds = spark.createDataFrame(Seq(
      Row(null, "urn:s/1", "urn:p/v", "dflt", false, null, null),
      Row("urn:d/1", "urn:s/1", "urn:p/v", "named", false, "en", null)).asJava,
      quadSchema)
    val q = """SELECT ?v WHERE { GRAPH <urn:d/1> { ?s <urn:p/v> ?v . } }"""
    val (_, tsv) = Sparql.selectTsv(ds, q)
    assert(tsv.collect().map(_.getString(0)).toSet == Set("\"named\"@en"))
    val (_, csv) = Sparql.selectCsv(ds, q)
    assert(csv.collect().map(_.getString(0)).toSet == Set("named"))
    val (_, json) = Sparql.selectJsonBindings(ds, q)
    assert(json.collect().map(_.getString(0)).toSet ==
      Set("""{"v":{"type":"literal","value":"named","xml:lang":"en"}}"""))
  }

  test("dataset twins honour FROM: only the FROM graph's rows become " +
    "the default graph; the triples-only form rejects the clause") {
    import scala.jdk.CollectionConverters._
    val quadSchema = StructType(StructField("g", StringType) +: tripleSchema.fields)
    val ds = spark.createDataFrame(Seq(
      Row(null, "urn:s/0", "urn:p/v", "dflt", false, null, null),
      Row("urn:g/1", "urn:s/1", "urn:p/v", "one", false, null, null),
      Row("urn:g/2", "urn:s/2", "urn:p/v", "two", false, null, null)).asJava,
      quadSchema)
    val q = "SELECT ?s ?v FROM <urn:g/1> WHERE { ?s <urn:p/v> ?v . }"
    val (_, tsv) = Sparql.selectTsv(ds, q)
    assert(tsv.collect().map(_.getString(0)).toSet ==
      Set("<urn:s/1>\t\"one\""))
    intercept[IllegalArgumentException](
      Sparql.selectTsv(ds.filter("g IS NULL").drop("g"), q))
    intercept[IllegalArgumentException](
      Sparql.describe(ds.filter("g IS NULL").drop("g"),
        "DESCRIBE <urn:s/1> FROM <urn:g/1>"))
  }

  test("DISTINCT under kept metadata compares TERMS: same lexical form " +
    "with different lang tags stays two solutions") {
    val graph = g(
      Row("urn:s/1", "urn:p/name", "a", false, "en", null),
      Row("urn:s/2", "urn:p/name", "a", false, "cs", null))
    val (_, lines) = Sparql.selectTsv(graph,
      "SELECT DISTINCT ?name WHERE { ?s <urn:p/name> ?name . }")
    assert(lines.collect().map(_.getString(0)).toSet ==
      Set("\"a\"@en", "\"a\"@cs"))
  }

  test("serializers with HAVING aggregates: hidden X267 aliases stay " +
    "out of the emitted columns") {
    // HAVING(SUM(...)) registers a hidden _hv_ aggregate that is
    // computed but never projected — the serializer's name list must
    // skip it (it would otherwise reference a dropped column).
    val graph = g(
      Row("urn:s/1", "urn:p/size", "4", false, null, xsdInt),
      Row("urn:s/1", "urn:p/size", "5", false, null, xsdInt),
      Row("urn:s/2", "urn:p/size", "1", false, null, xsdInt))
    val (header, lines) = Sparql.selectTsv(graph,
      """SELECT ?s (COUNT(*) AS ?n) WHERE {
        |  ?s <urn:p/size> ?v .
        |} GROUP BY ?s
        |HAVING(SUM(?v) > 3)""".stripMargin)
    assert(header == "?s\t?n")
    assert(lines.collect().map(_.getString(0)).toSet ==
      Set("<urn:s/1>\t\"2\""))
  }
}
