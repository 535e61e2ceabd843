package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.graphquery.Bgp
import graft.rdf.{DerivedGraph, NTriples}

class RdfSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val tripleSchema = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o", StringType), StructField("oIsIri", BooleanType),
    StructField("oLang", StringType), StructField("oDatatype", StringType)))

  private def triples(rows: (String, String, String, Boolean, String, String)*) =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6)).asJava, tripleSchema)

  private def render(df: org.apache.spark.sql.DataFrame, crlf: Boolean = false) = {
    val f = if (crlf) NTriples.lineCrLf _ else NTriples.line _
    df.select(f(col("s"), col("p"), col("o"), col("oIsIri"),
      col("oLang"), col("oDatatype")).as("l")).collect().map(_.getString(0))
  }

  test("N-Triples renderer: IRI, plain, lang, datatype terms") {
    val out = render(triples(
      ("urn:s", "urn:p", "urn:o", true, null, null),
      ("urn:s", "urn:p", "plain", false, null, null),
      ("urn:s", "urn:p", "hello", false, "en", null),
      ("urn:s", "urn:p", "42", false, null,
        "http://www.w3.org/2001/XMLSchema#integer")))
    assert(out(0) == "<urn:s> <urn:p> <urn:o> .")
    assert(out(1) == "<urn:s> <urn:p> \"plain\" .")
    assert(out(2) == "<urn:s> <urn:p> \"hello\"@en .")
    assert(out(3) ==
      "<urn:s> <urn:p> \"42\"^^<http://www.w3.org/2001/XMLSchema#integer> .")
  }

  test("N-Triples renderer: literal escaping, backslash first") {
    val out = render(triples(
      ("urn:s", "urn:p", "a\\b\"c\nd\re\tf", false, null, null)))
    assert(out(0) == "<urn:s> <urn:p> \"a\\\\b\\\"c\\nd\\re\\tf\" .")
  }

  test("N-Triples CRLF terminator matches the reference sink") {
    // PlainTextTripleWriter.java:38 terminates every line with " .\r\n".
    val out = render(triples(("urn:s", "urn:p", "x", false, null, null)),
      crlf = true)
    assert(out(0).endsWith(" .\r\n"))
  }

  test("values with UNDEF: null cells constrain nothing") {
    val left = spark.createDataFrame(Seq(
      ("s1", "A", "n1"), ("s2", "B", "n1"), ("s3", "A", "n2")))
      .toDF("s", "seg", "nat")
    val out = Bgp.values(spark, left, Seq("seg", "nat"), Seq(
      Seq("A", "n1"),      // exact match: s1 only
      Seq("B", null),      // UNDEF nat: any B → s2
      Seq(null, "n2")))    // UNDEF seg: any n2 → s3
      .select("s").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("s1", "s2", "s3"))
  }

  test("scalarOf defaults missing properties to empty string") {
    val t = triples(
      ("s1", "urn:p/name", "Alice", false, null, null),
      ("s2", "urn:p/name", "Bob", false, null, null),
      ("s1", "urn:p/vip", "true", false, null, null))
    val out = Bgp.scalarOf(t, Map("urn:p/name" -> "name", "urn:p/vip" -> "vip"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(("s1", "Alice", "true"), ("s2", "Bob", "")))
  }

  test("LANGMATCHES basic filtering: range matches subtags, not prefixes") {
    // RFC 4647 basic filtering (SPARQL LANGMATCHES semantics,
    // DcatAp11ToCkanBatch.java:254): "cs" matches cs and cs-CZ, not csx
    // or en-US; "*" matches any tagged literal.
    val t = triples(
      ("s1", "urn:p/name", "bare", false, "cs", null),
      ("s2", "urn:p/name", "regioned", false, "cs-CZ", null),
      ("s3", "urn:p/name", "case", false, "CS-cz", null),
      ("s4", "urn:p/name", "prefix-not-subtag", false, "csx", null),
      ("s5", "urn:p/name", "other-primary", false, "en-US", null),
      ("s6", "urn:p/name", "untagged", false, null, null))
    val cs = Bgp.patternLang(t, "urn:p/name", "cs", "v")
      .select("s").collect().map(_.getString(0)).sorted
    assert(cs.toSeq == Seq("s1", "s2", "s3"))
    val star = t.filter(Bgp.langMatches(col("oLang"), "*"))
      .select("s").collect().map(_.getString(0)).sorted
    assert(star.toSeq == Seq("s1", "s2", "s3", "s4", "s5"))
  }

  test("notExists filters subjects with the property (anti-join)") {
    val t = triples(
      ("s1", "urn:p/x", "1", false, null, null),
      ("s2", "urn:p/x", "2", false, null, null),
      ("s2", "urn:p/flag", "true", false, null, null))
    val left = Bgp.pattern(t, "urn:p/x", "x")
    val out = Bgp.notExists(left, t, "urn:p/flag")
      .select("s").collect().map(_.getString(0))
    assert(out.toSeq == Seq("s1"))
  }

  test("pathPlus: chain closure, cycle convergence, empty predicate") {
    // Chain a→b→c→d: closure has 3+2+1 pairs; a reaches d (length 3 >
    // one doubling round).
    val chain = triples(
      ("a", "urn:p/n", "b", true, null, null),
      ("b", "urn:p/n", "c", true, null, null),
      ("c", "urn:p/n", "d", true, null, null))
    val closure = Bgp.pathPlus(chain, "urn:p/n", "anc")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(closure.size == 6)
    assert(closure.contains(("a", "d")))
    // 2-cycle: fixpoint terminates with all 4 reachability pairs.
    val cyc = triples(
      ("x", "urn:p/n", "y", true, null, null),
      ("y", "urn:p/n", "x", true, null, null))
    val cycClosure = Bgp.pathPlus(cyc, "urn:p/n", "anc")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cycClosure == Set(("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")))
    // No matching predicate → empty closure.
    assert(Bgp.pathPlus(chain, "urn:p/absent", "anc").count() == 0)
  }

  test("pathPlusEdges keyed by g: no path crosses graphs; null keys " +
    "and null terms stay in the closure but never join") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("s", StringType), StructField("o", StringType)))
    // g1 and g2 share node names: merged, g1's a→b and g2's b→d would
    // give (a, d), g2's c→a and g1's a→b would give (c, b).
    val edges = spark.createDataFrame(Seq(
      Row("g1", "a", "b"), Row("g1", "b", "c"), Row("g1", "c", null),
      Row("g1", "a", "b"),
      Row("g2", "c", "a"), Row("g2", "b", "d"), Row("g2", null, "c"),
      Row(null, "a", "b"), Row(null, "b", "e"), Row(null, "a", "b")
    ).asJava, schema)
    // This closure finishes on the driver; at one row per partition the
    // same rules run in the RDD loop.
    val closure = Bgp.pathPlusEdges(edges, keyCols = Seq("g"))
    assert(closure.schema == schema)
    val got = closure.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val distributed = Bgp.pointerDoubling(edges, 20, Seq("g"), 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // A null o still extends leftward (b→c→null gives (b, null)), a
    // null s rightward (null→c→a gives (null, a)); the null-g rows are
    // deduplicated but never chain into (null, a, e).
    val expected = Set[(String, String, String)](
      ("g1", "a", "b"), ("g1", "b", "c"), ("g1", "c", null),
      ("g1", "a", "c"), ("g1", "b", null), ("g1", "a", null),
      ("g2", "c", "a"), ("g2", "b", "d"), ("g2", null, "c"),
      ("g2", null, "a"),
      (null, "a", "b"), (null, "b", "e"))
    assert(got.length == expected.size, got.toSeq)
    assert(got.toSet == expected)
    assert(distributed.length == expected.size, distributed.toSeq)
    assert(distributed.toSet == expected)
  }

  test("pathStar adds the zero-length pairs; pathSeq chains n hops") {
    val g = triples(
      ("a", "urn:p/n", "b", true, null, null),
      ("b", "urn:p/n", "c", true, null, null),
      ("a", "urn:p/x", "m", true, null, null),
      ("m", "urn:p/y", "n2", true, null, null),
      ("n2", "urn:p/z", "q", true, null, null))
    // Zero-length pairs cover every term of the graph — including nodes
    // with no n-edges (m, n2, q) — per SPARQL p* semantics.
    val star = Bgp.pathStar(g, "urn:p/n", "o")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(star == Set(("a", "a"), ("b", "b"), ("c", "c"),
      ("m", "m"), ("n2", "n2"), ("q", "q"),
      ("a", "b"), ("b", "c"), ("a", "c")))
    val seq3 = Bgp.pathSeq(g, Seq("urn:p/x", "urn:p/y", "urn:p/z"), "dst")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(seq3.toSeq == Seq(("a", "q")))
  }

  test("turtle: @base and relative IRI resolution") {
    val rows = graft.rdf.Turtle.parseTriples(
      """@base <http://ex.org/voc/> .
        |@prefix ex: <http://ex.org/p/> .
        |<rel> a <Other> ; ex:link <http://abs.example/x> .
        |""".stripMargin)
    val m = rows.map(r => (r.getString(1), r.getString(2))).toMap
    assert(rows.forall(_.getString(0) == "http://ex.org/voc/rel"))
    assert(m("http://www.w3.org/1999/02/22-rdf-syntax-ns#type") ==
      "http://ex.org/voc/Other")
    // Absolute IRIs pass through unresolved.
    assert(m("http://ex.org/p/link") == "http://abs.example/x")
  }

  test("turtle: opaque (urn:) base resolves by concatenation") {
    val rows = graft.rdf.Turtle.parseTriples(
      "@base <urn:isbn:> .\n<0451450523> a <urn:g/Book> .")
    assert(rows.head.getString(0) == "urn:isbn:0451450523")
  }

  test("turtle: SPARQL-style PREFIX/BASE directives (no trailing dot)") {
    val rows = graft.rdf.Turtle.parseTriples(
      """BASE <http://ex.org/b/>
        |PREFIX ex: <http://ex.org/p/>
        |<s> ex:v "x" .
        |""".stripMargin)
    assert(rows.head.getString(0) == "http://ex.org/b/s")
    assert(rows.head.getString(1) == "http://ex.org/p/v")
  }

  test("turtle: long literals, quote/unicode escapes, single quotes") {
    val rows = graft.rdf.Turtle.parseTriples(
      "<urn:s> <urn:p> \"\"\"line1\nline2 \"quoted\" caf\\u00E9\"\"\"@cs ;\n" +
        "  <urn:q> 'sngl\\U0001F600' ;\n" +
        "  <urn:r> \"caf\\u00E9\"^^<urn:dt> .\n" +
        "<urn:caf\\u00E9> <urn:z> \"x\" .")
    val byP = rows.map(r => r.getString(1) ->
      (r.getString(2), r.getString(4), r.getString(5))).toMap
    assert(byP("urn:p") == ("line1\nline2 \"quoted\" café", "cs", null))
    assert(byP("urn:q")._1 == "sngl😀")
    assert(byP("urn:r") == ("café", null, "urn:dt"))
    assert(rows.last.getString(0) == "urn:café") // UCHAR in IRI
  }

  test("turtle: named blank nodes keep identity across statements") {
    val rows = graft.rdf.Turtle.parseTriples(
      """@prefix ex: <http://ex.org/> .
        |_:x ex:p "v1" .
        |ex:s ex:q _:x .
        |ex:s ex:r [ ex:p "anon" ] .
        |""".stripMargin)
    val subj = rows.map(_.getString(0))
    val objByP = rows.map(r => r.getString(1) -> r.getString(2)).toMap
    // The named node is the same term as subject and as object.
    assert(subj.contains("_:x"))
    assert(objByP("http://ex.org/q") == "_:x")
    // The anonymous node gets a generated id distinct from the named one.
    val anon = objByP("http://ex.org/r")
    assert(anon.startsWith("_:b") && anon != "_:x")
    assert(rows.exists(r => r.getString(0) == anon &&
      r.getString(2) == "anon"))
  }

  test("turtle: anonymous ids dodge named _:bN labels parsed later") {
    val rows = graft.rdf.Turtle.parseTriples(
      """@prefix ex: <http://ex.org/> .
        |ex:s ex:p [ ex:q "1" ] .
        |_:b1 ex:r "2" .
        |""".stripMargin)
    val anon = rows.find(_.getString(1) == "http://ex.org/p").get.getString(2)
    val named = rows.find(_.getString(1) == "http://ex.org/r").get.getString(0)
    // The anonymous node must NOT merge with the later-declared _:b1.
    assert(named == "_:b1" && anon != "_:b1", s"anon=$anon named=$named")
    assert(rows.exists(r => r.getString(0) == anon &&
      r.getString(1) == "http://ex.org/q"))
  }

  test("turtle: collections expand to rdf:first/rest cons-lists") {
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val rows = graft.rdf.Turtle.parseTriples(
      """@prefix ex: <http://ex.org/> .
        |ex:s ex:list ( "a" ( ex:n 2 ) ) ; ex:empty ( ) .
        |""".stripMargin)
    val byPS = rows.groupBy(_.getString(1))
    // Empty collection is rdf:nil itself.
    assert(byPS("http://ex.org/empty").head.getString(2) == rdf + "nil")
    // Walk the outer list from its head: "a", then the nested list head.
    val head = byPS("http://ex.org/list").head.getString(2)
    def firstOf(cell: String) = rows.find(r =>
      r.getString(0) == cell && r.getString(1) == rdf + "first").get.getString(2)
    def restOf(cell: String) = rows.find(r =>
      r.getString(0) == cell && r.getString(1) == rdf + "rest").get.getString(2)
    assert(firstOf(head) == "a")
    val cell2 = restOf(head)
    val nestedHead = firstOf(cell2)
    assert(restOf(cell2) == rdf + "nil")
    // Nested list: (ex:n 2) → two cells, IRI then integer literal.
    assert(firstOf(nestedHead) == "http://ex.org/n")
    val nested2 = restOf(nestedHead)
    assert(firstOf(nested2) == "2" && restOf(nested2) == rdf + "nil")
  }

  test("derived graph has no crossJoin and broadcasts the geo side in q16") {
    val q = graft.operators.RdfQueries.queries("q16_property_path")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }
}
