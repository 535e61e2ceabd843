package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

import graft.graphquery.{Bgp, Sparql}
import graft.rdf.{DerivedGraph => G}

/** The SPARQL string front end must reproduce the hand-built combinator
  * plans on the derived graphs AND parse the reference's real embedded
  * query strings (grammar acceptance — the strings a LinkedPipes pipeline
  * actually holds).
  */
class SparqlParserSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)

  // ------------------------------------------------ parsed == hand-built

  test("parsed lang filter == Bgp.patternLang (q15/q109)") {
    val geo = G.geo(spark, sf)
    val parsed = Sparql.select(geo,
      """SELECT ?s ?name_cs WHERE {
        |  ?s <urn:p/name> ?name_cs .
        |  FILTER(LANGMATCHES(LANG(?name_cs), "cs"))
        |}""".stripMargin)
    assert(rows(parsed) == rows(
      Bgp.patternLang(geo, "urn:p/name", "cs", "name_cs")))
  }

  test("parsed sequence path == Bgp.path (q16/q113)") {
    val all = G.customers(spark, sf).unionByName(G.geo(spark, sf))
    val parsed = Sparql.select(all,
      """SELECT ?s ?nation_name WHERE {
        |  ?s <urn:p/inNation>/<urn:p/name> ?nation_name .
        |  FILTER(LANGMATCHES(LANG(?nation_name), "en"))
        |}""".stripMargin)
    assert(rows(parsed) == rows(Bgp.path(all, "urn:p/inNation",
      "urn:p/name", "nation_name", lang2 = Some("en"))))
  }

  test("parsed optional+bind == Bgp.optional (q19/q110)") {
    val c = G.customers(spark, sf)
    val parsed = Sparql.select(c,
      """SELECT ?s ?name ?vip ?has_vip WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?s <urn:p/vip> ?vip . BIND(true AS ?has_vip) }
        |}""".stripMargin)
    assert(rows(parsed) == rows(Bgp.optional(
      Bgp.pattern(c, "urn:p/name", "name"), c, "urn:p/vip", "vip",
      bindFlag = Some("has_vip"))))
  }

  test("parsed inverse path + GROUP BY/COUNT == q17's combinator plan") {
    val geo = G.geo(spark, sf)
    val parsed = Sparql.select(geo,
      """SELECT ?region_name (COUNT(?nat) AS ?n_nations) WHERE {
        |  ?r ^<urn:p/inRegion> ?nat .
        |  ?r <urn:p/name> ?region_name .
        |  FILTER(LANGMATCHES(LANG(?region_name), "en"))
        |} GROUP BY ?region_name""".stripMargin)
    val nations = Bgp.inverse(geo, "urn:p/inRegion", "nat")
    val names = Bgp.patternLang(geo, "urn:p/name", "en", "region_name")
      .withColumnRenamed("s", "_ns")
    val expected = nations.join(names, col("s") === col("_ns"))
      .groupBy(col("region_name")).agg(count(lit(1)).as("n_nations"))
    assert(rows(parsed) == rows(expected))
  }

  test("parsed VALUES+UNDEF multiplies per matching row like Bgp.values") {
    val c = G.customers(spark, sf)
    val parsed = Sparql.select(c,
      """SELECT ?s ?segment ?nation WHERE {
        |  ?s <urn:p/segment> ?segment .
        |  FILTER(LANGMATCHES(LANG(?segment), "en"))
        |  ?s <urn:p/inNation> ?nation .
        |  VALUES (?segment ?nation) {
        |    ("BUILDING" <urn:g/nation/1>)
        |    ("MACHINERY" UNDEF)
        |    (UNDEF <urn:g/nation/3>)
        |  }
        |}""".stripMargin)
    val left = Bgp.patternLang(c, "urn:p/segment", "en", "segment")
      .join(Bgp.pattern(c, "urn:p/inNation", "nation")
        .withColumnRenamed("s", "_ns"), col("s") === col("_ns"))
      .select(col("s"), col("segment"), col("nation"))
    val expected = Bgp.values(spark, left, Seq("segment", "nation"), Seq(
      Seq("BUILDING", "urn:g/nation/1"), Seq("MACHINERY", null),
      Seq(null, "urn:g/nation/3")))
      .select(col("s"), col("segment"), col("nation"))
    // Multiset compare: a solution matching two VALUES rows appears twice.
    def bag(df: DataFrame) = df.collect().toSeq
      .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(parsed) == bag(expected))
  }

  // -------------------------------- the reference's real query strings

  /** FDP descriptor fixture graph (the data shape FdpMeasure /
    * MultiAttributeDimension / SkosDimension queries run over).
    */
  private lazy val fdp: DataFrame = {
    import spark.implicits._
    val QB = "http://purl.org/linked-data/cube#"
    val F = "http://data.openbudgets.eu/fdptordf#"
    val T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val OD = "http://data.openbudgets.eu/ontology/dsd/dimension/"
    val iri = Seq(
      ("urn:f/dsd1", T, QB + "DataStructureDefinition"),
      ("urn:f/dsd1", QB + "component", "urn:f/comp1"),
      ("urn:f/dsd1", F + "component", "urn:f/comp1"),
      ("urn:f/dsd1", QB + "component", "urn:f/comp2"),
      ("urn:f/dsd1", QB + "component", "urn:f/comp3"),
      ("urn:f/comp2", QB + "dimension", OD + "currency"),
      ("urn:f/comp1", F + "measure", "urn:f/m1"),
      ("urn:f/comp1", QB + "dimension", "urn:f/dimProp1"),
      ("urn:f/comp1", F + "attribute", "urn:f/attr1"),
      ("urn:f/comp1", F + "attribute", "urn:f/attr2"),
      ("urn:f/comp1", F + "valueType", F + "organization"),
      ("urn:f/comp3", QB + "dimension", "urn:f/dimProp3"),
      ("urn:f/comp3", F + "attribute", "urn:f/attr3"),
      ("urn:f/comp3", F + "attribute", "urn:f/attr4"),
      ("urn:f/comp3", F + "valueType", F + "skos"),
      ("urn:f/attr1", F + "valueProperty", "urn:f/vp1"),
      ("urn:f/attr3", F + "source", "urn:f/sp3"),
      ("urn:f/attr3", F + "valueProperty", "urn:f/vp3"),
      ("urn:f/attr4", F + "source", "urn:f/sp4"),
      ("urn:f/attr4", F + "valueProperty", "urn:f/vp4"),
      // Hierarchical attribute chain for HierarchicalDimension's query:
      // attr5 -> parent attr6; attr7 is a LABEL (labelfor) and must be
      // excluded by its NOT EXISTS. All three are isHierarchical, so the
      // SkosDimension subselect (non-hierarchical count) ignores them.
      ("urn:f/comp3", F + "attribute", "urn:f/attr5"),
      ("urn:f/comp3", F + "attribute", "urn:f/attr6"),
      ("urn:f/comp3", F + "attribute", "urn:f/attr7"),
      ("urn:f/attr5", F + "valueProperty", "urn:f/vp5"),
      ("urn:f/attr6", F + "valueProperty", "urn:f/vp6"),
      ("urn:f/attr7", F + "valueProperty", "urn:f/vp7"),
      ("urn:f/attr5", F + "parentAttribute", "urn:f/attr6"),
      ("urn:f/attr7", F + "labelfor", "urn:f/attr5"),
      ("urn:f/ds1", T, QB + "DataSet"),
      ("urn:f/ds1", QB + "structure", "urn:f/dsd1"),
      ("urn:f/dimProp3", F + "name", null) // replaced below (literal)
    ).filter(_._3 != null)
      .map { case (s, p, o) => (s, p, o, true, null: String, null: String) }
    val lits = Seq(
      ("urn:f/comp1", F + "attributeCount", "2"),
      ("urn:f/comp3", F + "attributeCount", "2"),
      ("urn:f/comp1", F + "source", "amount"),
      ("urn:f/comp1", F + "factor", "1000"),
      ("urn:f/comp1", F + "sourceColumn", "amt"),
      ("urn:f/comp1", F + "sourceFile", "budget.csv"),
      ("urn:f/comp1", F + "decimalChar", "."),
      ("urn:f/attr1", F + "sourceColumn", "col1"),
      ("urn:f/attr1", F + "sourceFile", "budget.csv"),
      ("urn:f/attr1", F + "iskey", "true"),
      ("urn:f/attr2", F + "isHierarchical", "true"),
      ("urn:f/ds1", F + "datasetShortName", "pkg"),
      ("urn:f/m1", F + "name", "Amount"),
      ("urn:f/dimProp3", F + "name", "Dim3"),
      ("urn:f/attr5", F + "sourceColumn", "c5"),
      ("urn:f/attr5", F + "sourceFile", "budget.csv"),
      ("urn:f/attr5", F + "iskey", "false"),
      ("urn:f/attr5", F + "name", "A5"),
      ("urn:f/attr5", F + "isHierarchical", "true"),
      ("urn:f/attr6", F + "sourceColumn", "c6"),
      ("urn:f/attr6", F + "sourceFile", "budget.csv"),
      ("urn:f/attr6", F + "iskey", "true"),
      ("urn:f/attr6", F + "name", "A6"),
      ("urn:f/attr6", F + "isHierarchical", "true"),
      ("urn:f/attr7", F + "sourceColumn", "c7"),
      ("urn:f/attr7", F + "sourceFile", "budget.csv"),
      ("urn:f/attr7", F + "iskey", "false"),
      ("urn:f/attr7", F + "name", "A7"),
      ("urn:f/attr7", F + "isHierarchical", "true")
    ).map { case (s, p, o) => (s, p, o, false, null: String, null: String) }
    (iri ++ lits).toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
  }

  test("DcatAp11ToCkanBatch keyword/path/inverse-path queries parse and run") {
    import spark.implicits._
    val dcat = Seq(
      ("urn:ds1", "http://www.w3.org/ns/dcat#keyword", "rozpočet", false, "cs", null: String),
      ("urn:ds1", "http://www.w3.org/ns/dcat#keyword", "budget", false, "en", null: String),
      ("urn:ds1", "http://purl.org/dc/terms/publisher", "urn:org1", true, null: String, null: String),
      ("urn:org1", "http://xmlns.com/foaf/0.1/name", "Úřad", false, "cs", null: String),
      ("urn:rec1", "http://xmlns.com/foaf/0.1/primaryTopic", "urn:ds1", true, null: String, null: String),
      ("urn:rec1", "http://purl.org/dc/terms/source", "http://nkod/123", false, null: String, null: String)
    ).toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
    // The exact string shapes the reference builds by concatenation
    // (DcatAp11ToCkanBatch.java:254, :259, :372).
    val datasetURI = "urn:ds1"
    val kws = Sparql.select(dcat, "SELECT ?keyword WHERE {<" + datasetURI +
      "> <http://www.w3.org/ns/dcat#keyword> ?keyword FILTER(LANGMATCHES(LANG(?keyword), \"cs\"))}")
    assert(rows(kws) == Set(Seq("rozpočet")))
    val pubName = Sparql.scalar(dcat, "SELECT ?publisher_name WHERE {<" +
      datasetURI + "> <http://purl.org/dc/terms/publisher>/<http://xmlns.com/foaf/0.1/name> ?publisher_name FILTER(LANGMATCHES(LANG(?publisher_name), \"cs\"))}",
      "publisher_name")
    assert(pubName == "Úřad")
    val nkod = Sparql.scalar(dcat, "SELECT ?source WHERE {<" + datasetURI +
      "> ^<http://xmlns.com/foaf/0.1/primaryTopic>/<http://purl.org/dc/terms/source> ?source }",
      "source")
    assert(nkod == "http://nkod/123")
    // singleResult's "" default on an empty result (java:634-639 contract).
    assert(Sparql.scalar(dcat, "SELECT ?issued WHERE {<" + datasetURI +
      "> <http://purl.org/dc/terms/issued> ?issued }", "issued") == "")
  }

  test("FdpMeasure.query (FdpMeasure.java:27-57) parses and binds correctly") {
    val q =
      "PREFIX qb: <http://purl.org/linked-data/cube#>\n" +
        "PREFIX fdprdf: <http://data.openbudgets.eu/fdptordf#>\n" +
        "PREFIX fdp: <http://schemas.frictionlessdata.io/fiscal-data-package#>\n" +
        "PREFIX obeu-attribute:   <http://data.openbudgets.eu/ontology/dsd/attribute/>\n" +
        "PREFIX obeu-dimension:   <http://data.openbudgets.eu/ontology/dsd/dimension/>\n" +
        "\n" +
        "SELECT *\n" +
        "WHERE {\n" +
        "  ?dsd a qb:DataStructureDefinition;\n" +
        "       fdprdf:component ?component ." +
        "       ?component fdprdf:measure ?measureProperty;\n" +
        "                      fdprdf:source ?measureSource; \n" +
        "                      fdprdf:factor ?measureFactor;\n" +
        "  \t\t\t\t\t  fdprdf:sourceColumn ?sourceColumn;\n" +
        "  \t\t\t\t\t  fdprdf:sourceFile ?sourceFile .\n" +
        "                        \n" +
        "  ?dataset a qb:DataSet;\n" +
        "      fdprdf:datasetShortName ?packageName ;\n" +
        "      \t   qb:structure ?dsd .\n" +
        "\n" +
        "?measureProperty fdprdf:name ?measureName ." +
        "   OPTIONAL { ?component fdprdf:decimalChar ?decimalChar . }\n" +
        " OPTIONAL { ?component fdprdf:groupChar ?groupChar . }\n" +
        " OPTIONAL { ?component fdprdf:fieldType ?fieldType . }\n" +
        " OPTIONAL { ?measureProperty fdprdf:operationCharacter ?operationCharacter . }\n" +
        " OPTIONAL { ?measureProperty fdprdf:budgetPhase ?budgetPhase . }\n" +
        " OPTIONAL { ?measureProperty fdprdf:currency ?currency . }\n" +
        " OPTIONAL { ?dsd qb:component/qb:dimension obeu-dimension:currency . " +
        "            BIND(true as ?hasCurrencyDimension) }" +
        "}"
    val out = Sparql.select(fdp, q)
    val r = out.collect()
    assert(r.length == 1, s"expected 1 measure row, got ${r.length}")
    val m = r.head.getValuesMap[Any](out.columns.toIndexedSeq)
    assert(m("component") == "urn:f/comp1")
    assert(m("measureProperty") == "urn:f/m1")
    assert(m("measureName") == "Amount")
    assert(m("measureFactor") == "1000")
    assert(m("packageName") == "pkg")
    assert(m("decimalChar") == ".")           // matched OPTIONAL
    assert(m("groupChar") == null)            // unmatched OPTIONAL -> unbound
    assert(m("hasCurrencyDimension") == true) // path OPTIONAL matched comp2
  }

  test("MultiAttributeDimension.attributeQuery parses: VALUES+UNDEF, " +
    "predicate variable, numeric FILTER, NOT EXISTS") {
    val q = SparqlParserSpec.multiAttrQuery
      .replace("_dimensionProp_", "<urn:f/dimProp1>")
    val out = Sparql.select(fdp, q)
    val r = out.collect()
    // comp1: valueType=organization matches exactly one VALUES row
    // (componentProperty=qb:dimension, satisfied by comp1 qb:dimension
    // dimProp1); attr2 is excluded by NOT EXISTS isHierarchical.
    assert(r.length == 1, s"got ${r.map(_.toString).mkString("; ")}")
    val m = r.head.getValuesMap[Any](out.columns.toIndexedSeq)
    assert(m("component") == "urn:f/comp1")
    assert(m("attribute") == "urn:f/attr1")
    assert(m("rdfType") == "http://www.w3.org/ns/org#Organization")
    assert(m("componentProperty") == "http://purl.org/linked-data/cube#dimension")
    assert(m("sourceColumn") == "col1")
  }

  test("SkosDimension.dimensionQuery parses: subselect + GROUPBY + " +
    "COUNT + var=var FILTER") {
    // The real string, verbatim shape (SkosDimension.java:16-49) — note
    // the reference's own `GROUPBY` spelling inside the subselect.
    val q = "PREFIX qb: <http://purl.org/linked-data/cube#>\n" +
      "PREFIX fdprdf: <http://data.openbudgets.eu/fdptordf#>\n" +
      "PREFIX skos: <http://www.w3.org/2004/02/skos/core#>\n" +
      "\n" +
      "SELECT DISTINCT ?dimensionProp ?dimensionName ?packageName ?dataset\n" +
      "WHERE {\n" +
      " ?component fdprdf:attributeCount ?attrCount .\n" +
      "  FILTER(?attrCount > 1)\n" +
      "  \n" +
      "  ?dsd a qb:DataStructureDefinition;\n" +
      "         qb:component ?component .\n" +
      "  ?component qb:dimension ?dimensionProp;\n" +
      "             fdprdf:attribute ?attribute ;\n" +
      "             fdprdf:valueType fdprdf:skos .\n" +
      "             \n" +
      "  ?dimensionProp fdprdf:name ?dimensionName .\n" +
      "  \n" +
      "  ?attribute fdprdf:source ?sourceProperty ;\n" +
      "             fdprdf:valueProperty ?attributeValueProperty .\n" +
      "                        \n" +
      "  ?dataset a qb:DataSet;  \n" +
      "      \t   qb:structure ?dsd ;\n" +
      "          fdprdf:datasetShortName ?packageName .\n" +
      "    \n" +
      "  {\n" +
      "    SELECT ?component (COUNT(?attribute) AS ?nonHierarchCount)\n" +
      "    WHERE {\n" +
      "        ?component fdprdf:attribute ?attribute .\n" +
      "        FILTER NOT EXISTS {?attribute fdprdf:isHierarchical true .}\n" +
      "    } GROUPBY ?component\n" +
      "  }             \n" +
      "  \n" +
      "  FILTER (?nonHierarchCount = ?attrCount)              \n" +
      "}"
    val out = Sparql.select(fdp, q)
    // Only comp3 survives: attrCount=2 > 1, valueType=skos, and its
    // non-hierarchical attribute count (2) equals attrCount; comp1 fails
    // the subselect filter (1 non-hierarchical of attrCount 2).
    assert(rows(out) ==
      Set(Seq("urn:f/dimProp3", "Dim3", "pkg", "urn:f/ds1")))
  }

  test("HierarchicalDimension.attributeQuery parses: blank-node property " +
    "list in OPTIONAL, anonymous [] in NOT EXISTS") {
    // Verbatim string (HierarchicalDimension.java:41-60), placeholder
    // substituted like the reference's Mapper does.
    val q = ("PREFIX qb: <http://purl.org/linked-data/cube#>\n" +
      "PREFIX fdprdf: <http://data.openbudgets.eu/fdptordf#>\n" +
      "\n" +
      "SELECT *\n" +
      "WHERE {\n" +
      "  ?component qb:dimension _dimensionProp_;\n" +
      "             fdprdf:attribute ?attribute ;\n" +
      "             fdprdf:valueType fdprdf:skos .             \n" +
      "  \n" +
      "  ?attribute fdprdf:sourceColumn ?sourceColumn ;\n" +
      "\t\t\t fdprdf:sourceFile ?sourceFile;\n" +
      "\t\t\t fdprdf:iskey ?iskey;\n" +
      "             fdprdf:valueProperty ?attributeValueProperty;\n" +
      "             fdprdf:name ?attributeName ;\n" +
      "             fdprdf:isHierarchical true.\n" +
      "  \n" +
      "OPTIONAL {?attribute fdprdf:parentAttribute [ fdprdf:name ?parentName ] .}" +
      "  FILTER NOT EXISTS {?attribute fdprdf:labelfor [] .}\n" +
      "}").replace("_dimensionProp_", "<urn:f/dimProp3>")
    val out = Sparql.select(fdp, q)
    val rows = out.collect().map(r =>
      r.getValuesMap[Any](out.columns.toIndexedSeq)).sortBy(
      _("attribute").asInstanceOf[String])
    // attr5 (parent A6) and attr6 (no parent) survive; attr7 is a label
    // and the NOT EXISTS [] drops it.
    assert(rows.map(_("attribute")).toSeq ==
      Seq("urn:f/attr5", "urn:f/attr6"), s"got ${rows.toSeq}")
    assert(rows(0)("parentName") == "A6")
    assert(rows(1)("parentName") == null)
    assert(rows(0)("sourceColumn") == "c5" && rows(1)("iskey") == "true")
    // The blank-node helper variables never leak into SELECT *.
    assert(!out.columns.exists(_.startsWith("_")), out.columns.mkString(","))
  }

  test("COUNT(DISTINCT ?v) parses (MultiAttributeDimension.java:94)") {
    val out = Sparql.select(fdp,
      "PREFIX fdprdf: <http://data.openbudgets.eu/fdptordf#>\n" +
        "SELECT ?component (COUNT(DISTINCT ?attribute) AS ?n) WHERE {\n" +
        "  ?component fdprdf:attribute ?attribute .\n" +
        "} GROUP BY ?component")
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // comp3 counts its skos pair plus the hierarchical chain (attr3-7).
    assert(m == Map("urn:f/comp1" -> 2L, "urn:f/comp3" -> 5L))
  }

  test("reference lookup strings over the catalog graph agree with the " +
    "wide extraction (the N+1-inversion parity check)") {
    import graft.catalog.CkanExtract
    // The q38 catalog graph; the reference would run its per-dataset
    // lookup strings against exactly this shape. The engine's wide
    // aggregation (CkanExtract) and the parsed per-dataset strings must
    // read the same values.
    val triples = graft.operators.CatalogQueries.catalogTriples(spark, sf)
    val ds = "urn:cat/ds/100" // a %100 dataset: has a description too
    val row = CkanExtract.packages(triples)
      .filter(col("dataset") === ds).collect().head
    // DcatAp11ToCkanBatch.java:345 title lookup, concatenated verbatim.
    val title = Sparql.scalar(triples, "SELECT ?title WHERE {<" + ds +
      "> <http://purl.org/dc/terms/title> ?title FILTER(LANGMATCHES(LANG(?title), \"en\"))}",
      "title")
    assert(title == row.getAs[String]("title"))
    // :259 publisher-name path lookup.
    val pub = Sparql.scalar(triples, "SELECT ?publisher_name WHERE {<" + ds +
      "> <http://purl.org/dc/terms/publisher>/<http://xmlns.com/foaf/0.1/name> ?publisher_name FILTER(LANGMATCHES(LANG(?publisher_name), \"en\"))}",
      "publisher_name")
    assert(pub == row.getAs[String]("publisher_name"))
    // :254 keyword multi-row lookup: raw keywords, pre-fixKeyword.
    val kws = Sparql.select(triples, "SELECT ?keyword WHERE {<" + ds +
      "> <http://www.w3.org/ns/dcat#keyword> ?keyword FILTER(LANGMATCHES(LANG(?keyword), \"en\"))}")
      .collect().map(_.getString(0)).toSet
    assert(kws.contains("k.100") && kws.contains("x"), s"got $kws")
  }

  test("DISTINCT and LIMIT parse and apply (L1's LIMIT-1 shape)") {
    val geo = G.geo(spark, sf)
    val limited = Sparql.select(geo,
      "SELECT DISTINCT ?s WHERE { ?s <urn:p/name> ?name } LIMIT 3")
    assert(limited.columns.toSeq == Seq("s"))
    assert(limited.count() == 3)
    // LIMIT-1 single-value lookup via the scalar contract.
    val one = Sparql.select(geo,
      "SELECT ?name WHERE { <urn:g/region/1> <urn:p/name> ?name " +
        "FILTER(LANGMATCHES(LANG(?name), \"en-US\")) } LIMIT 1")
    assert(one.collect().map(_.getString(0)).toSeq.length == 1)
  }

  test("unsubstituted template placeholders are rejected with guidance") {
    val e = intercept[Exception] {
      Sparql.parse("SELECT * WHERE { ?c ?p _dimensionProp_ . }")
    }
    assert(e.getMessage.contains("placeholder"))
  }

  test("OPTIONAL with a disjoint empty body keeps every solution") {
    val geo = G.geo(spark, sf)
    val base = Sparql.select(geo,
      "SELECT ?s WHERE { ?s <urn:p/name> ?name }")
    val withOpt = Sparql.select(geo,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?x <urn:p/no-such-predicate> ?y }
        |}""".stripMargin)
    // The OPTIONAL body shares no variable and matches nothing — SPARQL
    // keeps all solutions with ?x/?y unbound; a crossJoin would empty it.
    assert(rows(withOpt) == rows(base))
    assert(base.count() > 0)
  }

  test("COUNT(DISTINCT *) counts distinct solution mappings, not rows") {
    val geo = G.geo(spark, sf)
    val n = Sparql.select(geo,
      """SELECT (COUNT(DISTINCT *) AS ?n) WHERE {
        |  ?s <urn:p/name> ?name .
        |}""".stripMargin).collect().head.getLong(0)
    val plain = Sparql.select(geo,
      "SELECT ?s ?name WHERE { ?s <urn:p/name> ?name }")
    assert(n == plain.distinct().count(), s"got $n")
  }

  // ------------------------------------------------------------ CONSTRUCT

  test("CONSTRUCT instantiates the template per solution with full term " +
    "metadata (lang, IRI-ness, datatype) and set semantics") {
    import spark.implicits._
    // Hand graph: two subjects; s1 has a lang-tagged name, a typed
    // balance, and a link; s2 has only a plain-literal name (no link —
    // the optional-unbound drop case).
    val g = Seq(
      ("urn:s/1", "urn:p/name", "jedna", true, "cs", null),
      ("urn:s/1", "urn:p/bal", "3.50", true, null,
        "http://www.w3.org/2001/XMLSchema#decimal"),
      ("urn:s/1", "urn:p/link", "urn:s/2", false, null, null),
      ("urn:s/2", "urn:p/name", "two", true, null, null)
    ).map { case (s, p, o, lit, lang, dt) =>
      (s, p, o, !lit, Option(lang), Option(dt))
    }.toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
    val got = Sparql.construct(g,
      """CONSTRUCT {
        |  ?s <urn:p/label> ?n .
        |  ?s a <urn:t/Thing> .
        |  ?s <urn:p/knows> ?o .
        |  ?s <urn:p/balance> ?b .
        |} WHERE {
        |  ?s <urn:p/name> ?n .
        |  OPTIONAL { ?s <urn:p/link> ?o }
        |  OPTIONAL { ?s <urn:p/bal> ?b }
        |}""".stripMargin)
    val exp = Set(
      // lang tag survives on the copied literal
      Seq[Any]("urn:s/1", "urn:p/label", "jedna", false, "cs", null),
      Seq[Any]("urn:s/2", "urn:p/label", "two", false, null, null),
      // constant-IRI object via the `a` keyword
      Seq[Any]("urn:s/1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "urn:t/Thing", true, null, null),
      Seq[Any]("urn:s/2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "urn:t/Thing", true, null, null),
      // IRI-ness of the bound object survives; s2's unbound ?o drops
      Seq[Any]("urn:s/1", "urn:p/knows", "urn:s/2", true, null, null),
      // datatype survives; s2's unbound ?b drops
      Seq[Any]("urn:s/1", "urn:p/balance", "3.50", false, null,
        "http://www.w3.org/2001/XMLSchema#decimal"))
    assert(rows(got) == exp)
  }

  test("CONSTRUCT deduplicates (a graph is a SET of triples) and a " +
    "subject-bound variable constructs as an IRI object") {
    import spark.implicits._
    val g = Seq(
      ("urn:s/1", "urn:p/name", "a", false, Some("en"), None: Option[String]),
      ("urn:s/1", "urn:p/name", "b", false, Some("cs"), None)
    ).toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
    // ?s binds twice (two names) but the constructed self-triple is one.
    val got = Sparql.construct(g,
      "CONSTRUCT { ?s <urn:p/self> ?s . } WHERE { ?s <urn:p/name> ?n }")
    assert(rows(got) == Set(
      Seq[Any]("urn:s/1", "urn:p/self", "urn:s/1", true, null, null)))
  }

  test("CONSTRUCT rejects template variables the WHERE never binds " +
    "(including fresh vars from paths/blank nodes)") {
    import spark.implicits._
    val g = Seq(("urn:s/1", "urn:p/name", "a", false, None: Option[String],
      None: Option[String])).toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
    val e = intercept[Exception] {
      Sparql.construct(g,
        "CONSTRUCT { ?s <urn:p/x> ?nope . } WHERE { ?s <urn:p/name> ?n }")
    }
    assert(e.getMessage.contains("not bound"))
    // A multi-step path expands with a fresh midpoint variable the WHERE
    // never binds — rejected by the same bound-variable check.
    val e2 = intercept[Exception] {
      Sparql.construct(g,
        "CONSTRUCT { ?s <urn:p/a>/<urn:p/b> ?n . } WHERE { ?s <urn:p/name> ?n }")
    }
    assert(e2.getMessage.contains("not bound"))
  }

  test("ASK short-circuits to a boolean; DESCRIBE returns the bounded " +
    "description of listed IRIs") {
    val geo = G.geo(spark, sf)
    assert(Sparql.ask(geo,
      """PREFIX p: <urn:p/>
        |ASK { ?n p:inRegion <urn:g/region/0> }""".stripMargin))
    assert(!Sparql.ask(geo,
      "ASK WHERE { ?n <urn:p/no-such-predicate> ?x }"))
    // DESCRIBE <region/0>: its own triples (type + 2 names) plus every
    // inbound inRegion edge from its nations.
    val d = Sparql.describe(geo, "DESCRIBE <urn:g/region/0>")
    val subjects = d.select(col("s")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(subjects.contains("urn:g/region/0"))
    val own = d.filter(col("s") === "urn:g/region/0").count()
    assert(own == 3L, s"own triples: $own") // type + name@en + name@en-US
    val inbound = d.filter(col("p") === "urn:p/inRegion").collect()
    assert(inbound.nonEmpty)
    assert(inbound.forall(_.getAs[String]("o") == "urn:g/region/0"))
    // A literal equal to a listed IRI's text must NOT match (oIsIri
    // guards the object side).
    assert(d.filter(!col("oIsIri") && col("o") === "urn:g/region/0")
      .isEmpty)
  }

  test("CONSTRUCT over the geo graph == the hand-built emission (q190)") {
    val geo = G.geo(spark, sf)
    val got = Sparql.construct(geo,
      """CONSTRUCT {
        |  ?x <urn:p/label> ?name .
        |  ?x a <urn:t/Place> .
        |  ?x <urn:p/within> ?r .
        |} WHERE {
        |  ?x <urn:p/name> ?name .
        |  FILTER(LANGMATCHES(LANG(?name), "en"))
        |  OPTIONAL { ?x <urn:p/inRegion> ?r }
        |}""".stripMargin)
    // Hand-built twin from the same graph (keeps the matched name's own
    // language tag, which Bgp.patternLang does not surface).
    val names = geo.filter(col("p") === "urn:p/name" &&
        (lower(col("oLang")) === "en" || lower(col("oLang")).like("en-%")))
      .select(col("s"), col("o").as("name"), col("oLang").as("nameLang"))
    val within = Bgp.pattern(geo, "urn:p/inRegion", "r")
      .withColumnRenamed("s", "_ws")
    val sol = names.join(within, names("s") === within("_ws"), "left")
    def tripleSet(s: org.apache.spark.sql.Column,
                  p: String, o: org.apache.spark.sql.Column, iri: Boolean,
                  lang: org.apache.spark.sql.Column) =
      sol.select(s.as("s"), lit(p).as("p"), o.as("o"), lit(iri).as("oIsIri"),
        lang.as("oLang"), lit(null).cast("string").as("oDatatype"))
        .filter(col("o").isNotNull)
    val nullS = lit(null).cast("string")
    val exp = tripleSet(names("s"), "urn:p/label", col("name"), iri = false,
        col("nameLang"))
      .unionByName(tripleSet(names("s"),
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        lit("urn:t/Place"), iri = true, nullS))
      .unionByName(tripleSet(names("s"), "urn:p/within", col("r"),
        iri = true, nullS))
      .distinct()
    assert(rows(got) == rows(exp))
    assert(got.count() > 0)
  }

  // ----------------------------------------- property-path modifiers

  /** Tiny skos:broader chain a→b→c→d plus a diamond edge a→c, with one
    * literal label — the hierarchy shape the reference's
    * HierarchicalDimension chains walk one hop at a time. */
  private def broaderGraph: DataFrame = {
    import spark.implicits._
    Seq(
      ("urn:x/a", "http://www.w3.org/2004/02/skos/core#broader", "urn:x/b", true),
      ("urn:x/b", "http://www.w3.org/2004/02/skos/core#broader", "urn:x/c", true),
      ("urn:x/c", "http://www.w3.org/2004/02/skos/core#broader", "urn:x/d", true),
      ("urn:x/a", "http://www.w3.org/2004/02/skos/core#broader", "urn:x/c", true),
      ("urn:x/d", "urn:p/label", "top", false))
      .toDF("s", "p", "o", "oIsIri")
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
  }

  test("parsed skos:broader+ == Bgp.pathPlus on the hierarchy chain") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?anc WHERE { ?s skos:broader+ ?anc . }""".stripMargin)
    assert(rows(parsed) == rows(Bgp.pathPlus(broaderGraph,
      "http://www.w3.org/2004/02/skos/core#broader", "anc")))
    // a reaches every ancestor through both the chain and the diamond.
    assert(rows(parsed).contains(Seq("urn:x/a", "urn:x/d")))
    assert(!rows(parsed).contains(Seq("urn:x/d", "urn:x/d")),
      "`+` must not include the zero-length pair")
  }

  test("parsed p* == Bgp.pathStar — zero-length pairs for EVERY graph " +
    "term, literals included") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?anc WHERE { ?s skos:broader* ?anc . }""".stripMargin)
    assert(rows(parsed) == rows(Bgp.pathStar(broaderGraph,
      "http://www.w3.org/2004/02/skos/core#broader", "anc")))
    // SPARQL zero-length-path semantics: every term of the queried
    // graph reaches itself — including the label literal and the node
    // with no broader edges.
    assert(rows(parsed).contains(Seq("top", "top")))
    assert(rows(parsed).contains(Seq("urn:x/d", "urn:x/d")))
  }

  test("parsed `+` with a constant endpoint filters the closure") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s WHERE { ?s skos:broader+ <urn:x/d> . }""".stripMargin)
    assert(rows(parsed).map(_.head).toSet
      == Set("urn:x/a", "urn:x/b", "urn:x/c"))
  }

  test("parsed alternation a/b|c == bag union of the two plans (q205 " +
    "shape); `/` binds tighter than `|`") {
    val all = G.customers(spark, sf).unionByName(G.geo(spark, sf))
    val parsed = Sparql.select(all,
      """SELECT ?x ?r WHERE {
        |  ?x <urn:p/inNation>/<urn:p/inRegion>|<urn:p/inRegion> ?r .
        |}""".stripMargin)
    val twoHop = Bgp.path(all, "urn:p/inNation", "urn:p/inRegion", "r")
      .withColumnRenamed("s", "x")
    val oneHop = Bgp.pattern(all, "urn:p/inRegion", "r")
      .withColumnRenamed("s", "x")
    // Bag union: collect as multiset (count per row).
    def bag(df: DataFrame) = df.collect().toSeq
      .map(r => r.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(parsed.select(col("x"), col("r")))
      == bag(twoHop.unionByName(oneHop)))
    assert(parsed.count() > 0)
  }

  test("parsed inverse-with-modifier ^p+ swaps the closure") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?dsc WHERE { ?s ^skos:broader+ ?dsc . }""".stripMargin)
    val fwd = Bgp.pathPlus(broaderGraph,
      "http://www.w3.org/2004/02/skos/core#broader", "anc")
    assert(rows(parsed) ==
      rows(fwd.select(col("anc").as("s"), col("s").as("dsc"))))
  }

  test("parsed mid-sequence closure a+/b chains the fixpoint into the " +
    "next hop") {
    // broader+ reaches d from a/b/c; d alone carries the label — so the
    // sequence emits exactly the strict descendants of the labeled top.
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?l WHERE { ?s skos:broader+/<urn:p/label> ?l . }"""
        .stripMargin)
    assert(rows(parsed).toSet == Set(
      Seq("urn:x/a", "top"), Seq("urn:x/b", "top"), Seq("urn:x/c", "top")),
      s"got ${rows(parsed)}")
  }

  // --------------------------------- group UNION / MINUS / p? / modifiers

  test("group UNION: bag union with null padding for branch-disjoint " +
    "variables, and UNION joins the surrounding group") {
    val c = G.customers(spark, sf)
    val parsed = Sparql.select(c,
      """SELECT ?s ?nation ?vip WHERE {
        |  { ?s <urn:p/inNation> ?nation . }
        |  UNION
        |  { ?s <urn:p/vip> ?vip . }
        |}""".stripMargin)
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    val nat = Bgp.pattern(c, "urn:p/inNation", "nation")
      .select(col("s"), col("nation"), lit(null).cast("string").as("vip"))
    val vip = Bgp.pattern(c, "urn:p/vip", "vip")
      .select(col("s"), lit(null).cast("string").as("nation"), col("vip"))
    assert(bag(parsed) == bag(nat.unionByName(vip)))
    // UNION inside a larger group joins the other patterns on shared vars.
    val joined = Sparql.select(c,
      """SELECT ?s ?name ?vip WHERE {
        |  { ?s <urn:p/vip> ?vip . } UNION { ?s <urn:p/vip> ?vip . }
        |  ?s <urn:p/name> ?name .
        |}""".stripMargin)
    val vipNames = Bgp.pattern(c, "urn:p/vip", "vip")
      .join(Bgp.pattern(c, "urn:p/name", "name"), "s")
    assert(joined.count() == 2 * vipNames.count(),
      "each branch contributes its full bag")
  }

  test("MINUS: anti-join on shared vars; disjoint-domain MINUS removes " +
    "NOTHING (the spec rule distinguishing it from NOT EXISTS)") {
    val c = G.customers(spark, sf)
    val minus = Sparql.select(c,
      """SELECT ?s ?name WHERE {
        |  ?s <urn:p/name> ?name .
        |  MINUS { ?s <urn:p/vip> ?v . }
        |}""".stripMargin)
    val names = Bgp.pattern(c, "urn:p/name", "name")
    val vips = Bgp.pattern(c, "urn:p/vip", "v").select(col("s"))
    assert(rows(minus) == rows(names.join(vips, Seq("s"), "left_anti")))
    // Disjoint domains: the MINUS group shares no variable → no-op.
    val disjoint = Sparql.select(c,
      """SELECT ?s ?name WHERE {
        |  ?s <urn:p/name> ?name .
        |  MINUS { ?z <urn:p/vip> ?v . }
        |}""".stripMargin)
    assert(disjoint.count() == names.count(),
      "disjoint-domain MINUS must remove nothing")
  }

  test("zero-or-one path p?: the edges plus every term's self-pair, " +
    "no fixpoint") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s skos:broader? ?o . }""".stripMargin)
    val got = rows(parsed)
    // One hop — but NOT the two-hop pair `+` would add.
    assert(got.contains(Seq("urn:x/a", "urn:x/b")))
    assert(!got.contains(Seq("urn:x/a", "urn:x/d")),
      "p? must not close transitively")
    // Zero-length pairs for every term, literals included.
    assert(got.contains(Seq("top", "top")))
    assert(got.contains(Seq("urn:x/d", "urn:x/d")))
    assert(rows(parsed) == rows(Bgp.pathZeroOrOne(broaderGraph,
      "http://www.w3.org/2004/02/skos/core#broader", "o")))
  }

  test("leading `a` composes with modifiers, sequences and alternation " +
    "(the parseVerb shortcut r14 ADVICE flagged)") {
    import spark.implicits._
    val g = Seq(
      ("urn:i/x", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "urn:t/A", true),
      ("urn:t/A", "urn:p/sub", "urn:t/B", true),
      ("urn:t/B", "urn:p/sub", "urn:t/C", true),
      ("urn:i/x", "urn:p/label", "ex", false))
      .toDF("s", "p", "o", "oIsIri")
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    // a/sub* — the rdfs "instance of any superclass" idiom.
    val supers = Sparql.select(g,
      "SELECT ?t WHERE { <urn:i/x> a/<urn:p/sub>* ?t . }")
    assert(rows(supers).map(_.head).toSet
      == Set("urn:t/A", "urn:t/B", "urn:t/C"))
    // a|<p> alternation with a leading `a`.
    val alt = Sparql.select(g,
      "SELECT ?o WHERE { <urn:i/x> a|<urn:p/label> ?o . }")
    assert(rows(alt).map(_.head).toSet == Set("urn:t/A", "ex"))
    // Plain `a` still parses (the common case the shortcut served).
    assert(rows(Sparql.select(g, "SELECT ?s WHERE { ?s a <urn:t/A> . }"))
      == Set(Seq("urn:i/x")))
  }

  test("closure-bound endpoints carry real term metadata: a literal " +
    "zero-length binding CONSTRUCTs as a literal, not an IRI") {
    import spark.implicits._
    val g = Seq(
      ("urn:x/a", "urn:p/p", "top", false, "en", null),
      ("urn:x/b", "urn:p/p", "urn:x/a", true, null, null))
      .toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
    val out = Sparql.construct(g,
      "CONSTRUCT { ?x <urn:p/q> ?y } WHERE { ?x <urn:p/p>* ?y . }")
      .collect().map(r => (r.getString(0), r.getString(2),
        r.getBoolean(3), Option(r.getString(4)))).toSet
    // "top" is a literal@en wherever the closure binds it (edge target
    // AND zero-length self-pair); the IRI-only terms stay IRIs.
    assert(out.contains(("urn:x/a", "top", false, Some("en"))))
    assert(out.contains(("top", "top", false, Some("en"))))
    assert(out.contains(("urn:x/b", "urn:x/a", true, None)))
    assert(out.contains(("urn:x/b", "top", false, Some("en"))),
      "two-hop literal endpoint lost its metadata")
  }

  test("FILTER functions: precedence (&& over ||), !, BOUND, isIRI/" +
    "isLiteral, REGEX flags, CONTAINS/STRSTARTS, STR/LANG accessors, " +
    "positive EXISTS") {
    import spark.implicits._
    val g = Seq(
      ("urn:i/1", "urn:p/name", "Alpha", false, "en"),
      ("urn:i/1", "urn:p/link", "urn:i/2", true, null),
      ("urn:i/2", "urn:p/name", "beta", false, null),
      ("urn:i/3", "urn:p/name", "Gamma7", false, "cs"))
      .toDF("s", "p", "o", "oIsIri", "oLang")
      .withColumn("oDatatype", lit(null).cast("string"))
    def ids(q: String) = rows(Sparql.select(g, q)).map(_.head).toSet
    // && binds tighter than ||: (beta) || (Gamma7 && cs) — never
    // ((beta || Gamma7) && cs), which would drop beta (lang null).
    assert(ids("""SELECT ?s WHERE { ?s <urn:p/name> ?n .
      | FILTER(?n = "beta" || ?n = "Gamma7" && LANG(?n) = "cs") }"""
      .stripMargin) == Set("urn:i/2", "urn:i/3"))
    // ! over BOUND with OPTIONAL.
    assert(ids("""SELECT ?s WHERE { ?s <urn:p/name> ?n .
      | OPTIONAL { ?s <urn:p/link> ?l . } FILTER(!BOUND(?l)) }"""
      .stripMargin) == Set("urn:i/2", "urn:i/3"))
    // isIRI over an object binding; isLiteral is its complement.
    assert(ids("SELECT ?o WHERE { ?s <urn:p/link> ?o . FILTER(isIRI(?o)) }")
      == Set("urn:i/2"))
    assert(ids("SELECT ?o WHERE { ?s ?p ?o . FILTER(isLiteral(?o)) }")
      == Set("Alpha", "beta", "Gamma7"))
    // Case-insensitive REGEX flag; CONTAINS; STRSTARTS.
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER(REGEX(?n, "^ALPHA$", "i")) }""".stripMargin) == Set("Alpha"))
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER(CONTAINS(?n, "amma")) }""".stripMargin) == Set("Gamma7"))
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER(STRSTARTS(?n, "be")) }""".stripMargin) == Set("beta"))
    // STR accessor in a comparison; LANG of a tagless term is "".
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER(STR(?n) = "beta") }""".stripMargin) == Set("beta"))
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER(LANG(?n) = "") }""".stripMargin) == Set("beta"))
    // Positive EXISTS = semi-join on the shared variable.
    assert(ids("""SELECT ?n WHERE { ?s <urn:p/name> ?n .
      | FILTER EXISTS { ?s <urn:p/link> ?l . } }""".stripMargin)
      == Set("Alpha"))
  }

  test("grouped paths: (p|q)+ closes over the unioned edge set, " +
    "^(p/p) swaps the composite, (p/p)? adds reflexive pairs, and " +
    "plain paths still lower to their classical plans") {
    val broader = "http://www.w3.org/2004/02/skos/core#broader"
    // (broader|label)+ — the closure over BOTH edge kinds reaches the
    // literal "top" from every chain member.
    val alt = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s (skos:broader|<urn:p/label>)+ ?o . }"""
        .stripMargin)
    val edges = broaderGraph.filter(col("p").isin(broader, "urn:p/label"))
      .select(col("s"), col("o"))
    assert(rows(alt) == rows(Bgp.pathPlusEdges(edges)))
    assert(rows(alt).contains(Seq("urn:x/a", "top")))
    // ^(p/p): the inverse of the composite 2-hop relation.
    val inv = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s ^(skos:broader/skos:broader) ?o . }"""
        .stripMargin)
    // two-hop pairs: a→c (chain), a→d (diamond a→c→d), b→d.
    assert(rows(inv) == Set(Seq("urn:x/c", "urn:x/a"),
      Seq("urn:x/d", "urn:x/a"), Seq("urn:x/d", "urn:x/b")))
    // (p/p)?: the composite pairs plus every term's reflexive row.
    val opt = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s (skos:broader/skos:broader)? ?o . }"""
        .stripMargin)
    assert(rows(opt).contains(Seq("urn:x/a", "urn:x/c")))
    assert(rows(opt).contains(Seq("top", "top")))
    assert(!rows(opt).contains(Seq("urn:x/a", "urn:x/b")),
      "(p/p)? must not contain single hops")
    // (p/p)+ on the chain: even-distance ancestors only.
    val even = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s (skos:broader/skos:broader)+ ?o . }"""
        .stripMargin)
    assert(!rows(even).contains(Seq("urn:x/a", "urn:x/b")),
      "odd-distance pair leaked into the even closure")
    assert(rows(even).contains(Seq("urn:x/a", "urn:x/c")))
    // Ungrouped paths still parse to the classical lowered forms.
    assert(Sparql.parse(
      "SELECT ?s WHERE { ?s <urn:p/a>/<urn:p/b> ?o . }")
      .where.collect { case t: Sparql.Triple => t }.size == 2,
      "plain sequences must keep expanding to mid-var triples")
  }

  test("BIND expressions: CONCAT/STR copy values; IRI() mints a term " +
    "that CONSTRUCTs as an IRI") {
    import spark.implicits._
    val g = Seq(("urn:i/1", "urn:p/name", "alpha", false))
      .toDF("s", "p", "o", "oIsIri")
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    val sel = Sparql.select(g,
      """SELECT ?n ?tag ?copy WHERE {
        |  ?s <urn:p/name> ?n .
        |  BIND(CONCAT("v:", STR(?n)) AS ?tag)
        |  BIND(?n AS ?copy)
        |}""".stripMargin).collect()
    assert(sel.length == 1 &&
      sel(0).getString(1) == "v:alpha" && sel(0).getString(2) == "alpha")
    // IRI(CONCAT(...)) → the constructed object is an IRI term.
    val minted = Sparql.construct(g,
      """CONSTRUCT { ?s <urn:p/minted> ?m } WHERE {
        |  ?s <urn:p/name> ?n .
        |  BIND(IRI(CONCAT("urn:m/", STR(?n))) AS ?m)
        |}""".stripMargin).collect()
    assert(minted.length == 1)
    assert(minted(0).getString(2) == "urn:m/alpha" &&
      minted(0).getBoolean(3), s"minted term lost IRI-ness: ${minted(0)}")
    // A plain CONCAT bind constructs as a literal.
    val lit0 = Sparql.construct(g,
      """CONSTRUCT { ?s <urn:p/tag> ?t } WHERE {
        |  ?s <urn:p/name> ?n . BIND(CONCAT("v:", STR(?n)) AS ?t)
        |}""".stripMargin).collect()
    assert(!lit0(0).getBoolean(3), "plain CONCAT must bind a literal")
  }

  test("negated property set: !<p> and !(p|a) hop over every predicate " +
    "outside the set") {
    val parsed = Sparql.select(broaderGraph,
      """PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        |SELECT ?s ?o WHERE { ?s !skos:broader ?o . }""".stripMargin)
    // Only the label triple is not a broader edge.
    assert(rows(parsed) == Set(Seq("urn:x/d", "top")))
    val both = Sparql.select(broaderGraph,
      """SELECT ?s ?o WHERE { ?s !(<urn:p/label>|a) ?o . }""")
    assert(rows(both).size == 4, "all broader edges pass the negated set")
  }

  test("ORDER BY / OFFSET / LIMIT slice deterministically under a " +
    "total order, and aggregates compute per group") {
    import spark.implicits._
    val g = Seq(
      ("urn:i/1", "urn:p/k", "g1", "urn:i/1", "3"),
      ("urn:i/2", "urn:p/k", "g1", "urn:i/2", "1"),
      ("urn:i/3", "urn:p/k", "g2", "urn:i/3", "5"),
      ("urn:i/4", "urn:p/k", "g2", "urn:i/4", "7"),
      ("urn:i/5", "urn:p/k", "g3", "urn:i/5", "2"))
      .flatMap { case (s, _, grp, _, v) =>
        Seq((s, "urn:p/grp", grp, false), (s, "urn:p/v", v, false)) }
      .toDF("s", "p", "o", "oIsIri")
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    val agg = Sparql.select(g,
      """SELECT ?grp (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
        |  (GROUP_CONCAT(?v; SEPARATOR="|") AS ?vs) (SAMPLE(?v) AS ?one)
        |WHERE { ?s <urn:p/grp> ?grp . ?s <urn:p/v> ?v . }
        |GROUP BY ?grp
        |ORDER BY DESC(?total) ?grp
        |OFFSET 1 LIMIT 1""".stripMargin).collect()
    // totals: g2=12, g1=4, g3=2 → offset 1 takes g1.
    assert(agg.length == 1)
    val r = agg(0)
    assert(r.getString(0) == "g1" && r.getDouble(1) == 4.0 &&
      r.getDouble(2) == 2.0 && r.getString(3) == "1|3" &&
      r.getString(4) == "1", s"got ${r.toSeq}")
  }

  test("GRAPH / FROM / FROM NAMED: the dataset clause replaces the " +
    "dataset; GRAPH <iri> scopes; GRAPH ?g binds the graph name and " +
    "joins stay within one graph") {
    import spark.implicits._
    val ds = Seq(
      (null, "urn:i/a", "urn:p/k", "default"),
      ("urn:gr/1", "urn:i/a", "urn:p/k", "one"),
      ("urn:gr/1", "urn:i/a", "urn:p/l", "uno"),
      ("urn:gr/1", "urn:i/a", "urn:p/m", "shared"),
      ("urn:gr/2", "urn:i/a", "urn:p/m", "shared"),
      ("urn:gr/2", "urn:i/a", "urn:p/k", "two"))
      .toDF("g", "s", "p", "o")
      .withColumn("oIsIri", lit(false))
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    // Parser: FROM collects into the default-graph list, FROM NAMED
    // into the named list, GRAPH into the pattern tree.
    val q = Sparql.parse(
      """SELECT ?x FROM <urn:gr/1> FROM NAMED <urn:gr/2>
        |WHERE { GRAPH ?g { ?s <urn:p/k> ?x } }""".stripMargin)
    assert(q.from == Seq("urn:gr/1") && q.fromNamed == Seq("urn:gr/2"))
    assert(q.where.collect {
      case Sparql.GraphPat(Sparql.V("g"), inner) => inner.length }.head == 1)
    def vals(sql: String) = Sparql.select(ds, sql).collect()
      .map(_.toSeq.mkString(",")).toSet
    // No dataset clause: the default graph is the g-null rows only.
    assert(vals("SELECT ?x WHERE { <urn:i/a> <urn:p/k> ?x }") ==
      Set("default"))
    // GRAPH <iri>: one named graph, a pushed g = iri filter.
    assert(vals(
      "SELECT ?x WHERE { GRAPH <urn:gr/1> { <urn:i/a> <urn:p/k> ?x } }") ==
      Set("one"))
    // GRAPH ?g: ?g binds per named graph, and the two patterns join
    // WITHIN a graph — gr/2 has no :l triple, so only gr/1 survives
    // (a cross-graph mix of gr/2's k with gr/1's l would be wrong).
    assert(vals(
      """SELECT ?g ?x ?y WHERE {
        |  GRAPH ?g { <urn:i/a> <urn:p/k> ?x . <urn:i/a> <urn:p/l> ?y }
        |}""".stripMargin) == Set("urn:gr/1,one,uno"))
    // FROM replaces the dataset: the default graph is the FROM merge...
    assert(vals(
      "SELECT ?x FROM <urn:gr/2> WHERE { <urn:i/a> <urn:p/k> ?x }") ==
      Set("two"))
    // ...and with no FROM NAMED the named set is EMPTY (not "all").
    assert(vals(
      """SELECT ?x FROM <urn:gr/2>
        |WHERE { GRAPH ?g { <urn:i/a> <urn:p/k> ?x } }""".stripMargin)
      .isEmpty)
    // FROM NAMED restricts what GRAPH sees.
    assert(vals(
      """SELECT ?g ?x FROM NAMED <urn:gr/2>
        |WHERE { GRAPH ?g { <urn:i/a> <urn:p/k> ?x } }""".stripMargin) ==
      Set("urn:gr/2,two"))
    // Multi-graph FROM is the RDF MERGE — a set: the triple present in
    // BOTH graphs contributes ONE solution, not two.
    assert(Sparql.select(ds,
      """SELECT ?x FROM <urn:gr/1> FROM <urn:gr/2>
        |WHERE { <urn:i/a> <urn:p/m> ?x }""".stripMargin)
      .collect().length == 1,
      "FROM merge duplicated a triple present in two graphs")
    // Closures inside GRAPH ?g run PER GRAPH (r16 refused these): the
    // fixpoint threads g through its join keys, so a path can never
    // hop a graph boundary. Fixture: h1 holds a→b→c, h2 holds b→d —
    // any boundary hop would let a reach d.
    val hier = Seq(
      ("urn:h/1", "urn:i/a", "urn:p/x", "urn:i/b"),
      ("urn:h/1", "urn:i/b", "urn:p/x", "urn:i/c"),
      ("urn:h/2", "urn:i/b", "urn:p/x", "urn:i/d"))
      .toDF("g", "s", "p", "o")
      .withColumn("oIsIri", lit(true))
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    def hvals(sql: String) = Sparql.select(hier, sql).collect()
      .map(_.toSeq.mkString(",")).toSet
    assert(hvals(
      "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <urn:p/x>+ ?o } }") == Set(
      "urn:h/1,urn:i/a,urn:i/b", "urn:h/1,urn:i/a,urn:i/c",
      "urn:h/1,urn:i/b,urn:i/c", "urn:h/2,urn:i/b,urn:i/d"),
      "p+ inside GRAPH ?g leaked across a graph boundary")
    // `*`'s zero-length pairs are per graph too: `a` is not a term of
    // h2, so it reflects (and closes) only under h1.
    assert(hvals(
      "SELECT ?g ?o WHERE { GRAPH ?g { <urn:i/a> <urn:p/x>* ?o } }") ==
      Set("urn:h/1,urn:i/a", "urn:h/1,urn:i/b", "urn:h/1,urn:i/c"),
      "p* zero-length pairs not graph-scoped")
    // Grouped-path trees compose per graph as well: (x/x) within h1
    // gives a⇒c; a cross-graph composition (a→b in h1, b→d in h2)
    // would wrongly surface a⇒d.
    assert(hvals("SELECT ?g ?o WHERE { GRAPH ?g { " +
      "<urn:i/a> (<urn:p/x>/<urn:p/x>)+ ?o } }") ==
      Set("urn:h/1,urn:i/c"),
      "grouped path inside GRAPH ?g composed across graphs")
    // GRAPH <iri> keeps its pre-filtered closure path.
    assert(hvals("SELECT ?o WHERE { GRAPH <urn:h/1> { " +
      "<urn:i/a> <urn:p/x>+ ?o } }") == Set("urn:i/b", "urn:i/c"))
    // ask over a dataset: GRAPH sees the named graphs, bare patterns the
    // default graph — and the probe short-circuits like ask.
    assert(Sparql.ask(ds,
      "ASK { GRAPH <urn:gr/2> { <urn:i/a> <urn:p/k> ?x } }"))
    assert(!Sparql.ask(ds,
      "ASK { GRAPH <urn:gr/2> { <urn:i/a> <urn:p/l> ?x } }"))
    assert(Sparql.ask(ds, "ASK { <urn:i/a> <urn:p/k> ?x }"))
    // The at-scale contract: over a g-PARTITIONED store, GRAPH <iri>
    // reaches the scan as a partition filter — one named graph's
    // directory is read, not the dataset.
    val dir = java.nio.file.Files.createTempDirectory("sparqlds").toString
    try {
      ds.write.partitionBy("g").parquet(s"$dir/quads")
      val stored = spark.read.parquet(s"$dir/quads")
      val scoped = Sparql.select(stored,
        "SELECT ?x WHERE { GRAPH <urn:gr/1> { <urn:i/a> <urn:p/k> ?x } }")
      assert(scoped.collect().map(_.getString(0)).toSet == Set("one"))
      val plan = scoped.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[.*g".r.findFirstIn(plan).isDefined,
        s"GRAPH <iri> did not partition-prune the g-partitioned store:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("describeDataset: the fourth dataset twin — quads out with " +
    "graph provenance, inbound edges found across graphs, dataset " +
    "clause scopes per §13.2") {
    import spark.implicits._
    val ds = Seq(
      (null, "urn:i/r", "urn:p/d", "zero"), // default graph: outbound
      ("urn:d/1", "urn:i/r", "urn:p/a", "one"), // named 1: outbound
      ("urn:d/2", "urn:i/x", "urn:p/b", "urn:i/r"), // named 2: inbound
      ("urn:d/2", "urn:i/x", "urn:p/c", "other"), // named 2: unrelated
      ("urn:d/1", "urn:i/y", "urn:p/c", "urn:i/z")) // named 1: unrelated
      .toDF("g", "s", "p", "o")
      .withColumn("oIsIri", col("o").startsWith("urn:i/"))
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    def rows(q: String) = Sparql.describe(ds, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    // No clause: the whole dataset contributes — the subject's
    // outbound triples in the default graph and named 1, plus the
    // inbound IRI edge asserted by named 2, each under ITS OWN g.
    assert(rows("DESCRIBE <urn:i/r>") == Set(
      (null, "urn:i/r", "urn:p/d", "zero"),
      ("urn:d/1", "urn:i/r", "urn:p/a", "one"),
      ("urn:d/2", "urn:i/x", "urn:p/b", "urn:i/r")),
      "unscoped describe must span graphs with provenance")
    // FROM NAMED: only the named graph's triples surface, under its g
    // — the default graph is empty with a clause present.
    assert(rows("DESCRIBE <urn:i/r> FROM NAMED <urn:d/1>") == Set(
      ("urn:d/1", "urn:i/r", "urn:p/a", "one")))
    // FROM: the graph merges into the output's DEFAULT graph (g null)
    // — named 2's inbound edge describes as a default-graph triple.
    assert(rows("DESCRIBE <urn:i/r> FROM <urn:d/2>") == Set(
      (null, "urn:i/x", "urn:p/b", "urn:i/r")))
    // The literal-only lexical twin of the IRI never matches inbound
    // (oIsIri gates), and an unknown IRI describes to the empty graph.
    assert(rows("DESCRIBE <urn:i/zzz>").isEmpty)
    // VARIABLE DESCRIBE (§16.4.3): the WHERE binds the resource set —
    // ?o ranges over named-2's objects; its IRI binding (urn:i/r)
    // describes across the whole dataset, its literal binding
    // ("other") describes to nothing.
    assert(rows(
      "DESCRIBE ?o WHERE { GRAPH <urn:d/2> { <urn:i/x> ?p ?o } }") ==
      Set((null, "urn:i/r", "urn:p/d", "zero"),
        ("urn:d/1", "urn:i/r", "urn:p/a", "one"),
        ("urn:d/2", "urn:i/x", "urn:p/b", "urn:i/r")),
      "variable DESCRIBE missed a binding's description or described a literal")
    // The dataset clause scopes BOTH the WHERE and the description.
    assert(rows(
      """DESCRIBE ?o FROM NAMED <urn:d/2>
        |WHERE { GRAPH <urn:d/2> { <urn:i/x> ?p ?o } }""".stripMargin) ==
      Set(("urn:d/2", "urn:i/x", "urn:p/b", "urn:i/r")))
    // Mixed IRI + variable lists union their resource sets.
    assert(rows(
      "DESCRIBE <urn:i/y> ?o WHERE { GRAPH <urn:d/2> { <urn:i/x> ?p ?o } }")
      .exists(_._2 == "urn:i/y"))
    // Errors stay loud: a var without WHERE, and an unbound var.
    intercept[RuntimeException](rows("DESCRIBE ?o"))
    intercept[RuntimeException](rows(
      "DESCRIBE ?nope WHERE { <urn:i/x> <urn:p/b> ?o }"))
  }

  test("variable DESCRIBE, single-graph form: WHERE-bound IRIs " +
    "describe with inbound edges; the IRI-only form keeps its pushed " +
    "isin path") {
    import spark.implicits._
    val g = Seq(
      ("urn:i/a", "urn:p/in", "urn:i/n1", true),
      ("urn:i/b", "urn:p/in", "urn:i/n2", true),
      ("urn:i/n1", "urn:p/name", "North", false),
      ("urn:i/n2", "urn:p/name", "South", false),
      ("urn:i/root", "urn:p/has", "urn:i/n1", true))
      .toDF("s", "p", "o", "oIsIri")
      .withColumn("oLang", lit(null).cast("string"))
      .withColumn("oDatatype", lit(null).cast("string"))
    val out = Sparql.describe(g,
      "DESCRIBE ?n WHERE { <urn:i/a> <urn:p/in> ?n }").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // n binds to n1 only: its outbound name, its inbound edges from
    // BOTH a and root — n2's rows never surface.
    assert(out == Set(
      ("urn:i/n1", "urn:p/name", "North"),
      ("urn:i/a", "urn:p/in", "urn:i/n1"),
      ("urn:i/root", "urn:p/has", "urn:i/n1")))
    // Plan shape: the IRI-only form must stay a pushed filter (no
    // join), the variable form is two semi-joins.
    val iriPlan = Sparql.describe(g, "DESCRIBE <urn:i/n1>")
      .queryExecution.executedPlan.toString
    assert(!iriPlan.contains("Join"),
      s"IRI-only DESCRIBE grew a join:\n$iriPlan")
  }

  /** [[Sparql.update]], then the store must still be a set: the
    * `Set`-valued assertions of the update tests cannot see a
    * duplicated row. */
  private def updateSet(dir: String, text: String): Unit = {
    Sparql.update(spark, dir, text)
    val store = spark.read.parquet(dir)
    assert(store.count() == store.distinct().count(),
      s"the store holds a duplicated quad after: $text")
  }

  test("SPARQL UPDATE: set-semantics INSERT DATA (store bootstrap " +
    "included), no-op absent DELETE DATA, DELETE WHERE as its own " +
    "template with GRAPH ?g binding the doomed quads' graph slot") {
    val dir = java.nio.file.Files.createTempDirectory("sparqlupd")
      .toString + "/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?p ?o WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      // Bootstrap: INSERT DATA on an absent store creates it.
      updateSet(dir,
        """INSERT DATA {
          |  <urn:i/a> <urn:p/k> "v"@en .
          |  GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> <urn:i/b> .
          |                    <urn:i/b> <urn:p/k> <urn:i/c> . }
          |}""".stripMargin)
      val s0 = all()
      assert(s0 == Set("null,urn:i/a,urn:p/k,v",
        "urn:d/1,urn:i/a,urn:p/k,urn:i/b",
        "urn:d/1,urn:i/b,urn:p/k,urn:i/c"))
      // RDF set semantics: replaying the same INSERT adds nothing —
      // and a mixed op only lands the genuinely new quad.
      updateSet(dir,
        """INSERT DATA { <urn:i/a> <urn:p/k> "v"@en .
          |  GRAPH <urn:d/2> { <urn:i/x> <urn:p/n> "7" . } }""".stripMargin)
      assert(all() == s0 + "urn:d/2,urn:i/x,urn:p/n,7",
        "re-inserted quad duplicated or new quad dropped")
      // DELETE DATA: absent quads no-op (wrong graph, wrong lang),
      // present ground quads go — in one ;-sequenced statement.
      updateSet(dir,
        """DELETE DATA { GRAPH <urn:d/2> { <urn:i/a> <urn:p/k> <urn:i/b> . } } ;
          |DELETE DATA { <urn:i/a> <urn:p/k> "v" . } ;
          |DELETE DATA { GRAPH <urn:d/2> { <urn:i/x> <urn:p/n> "7" . } }"""
          .stripMargin)
      assert(all() == s0,
        "DELETE DATA matched a quad it should not have (graph or lang)")
      // DELETE WHERE: the pattern is its own template; GRAPH ?g
      // instantiates the doomed quads under their OWN graph, and the
      // default-graph row (never matched by GRAPH ?g) survives.
      updateSet(dir,
        "DELETE WHERE { GRAPH ?g { ?s <urn:p/k> ?o . } }")
      assert(all() == Set("null,urn:i/a,urn:p/k,v"),
        "DELETE WHERE over GRAPH ?g missed a graph or hit the default")
      // And the bare-pattern form scopes to the default graph only.
      updateSet(dir, "DELETE WHERE { ?s ?p ?o . }")
      assert(all().isEmpty)
      // STRICT sequencing: a missing ';' between ops must error loudly
      // (a lax parser would commit the first op and silently drop the
      // rest — e.g. the DELETE half of a patch), and the error must
      // arrive BEFORE anything commits.
      val s1 = all()
      intercept[RuntimeException] { updateSet(dir,
        """INSERT DATA { <urn:i/q> <urn:p/k> "x" . }
          |DELETE DATA { <urn:i/q> <urn:p/k> "x" . }""".stripMargin) }
      assert(all() == s1, "malformed update mutated the store")
      // ALL-OR-NOTHING static validation: op 2 is ill-formed (variable
      // in DATA), so op 1 must not have committed either.
      intercept[RuntimeException] { updateSet(dir,
        """INSERT DATA { <urn:i/q> <urn:p/k> "x" . } ;
          |DELETE DATA { <urn:i/q> ?p "x" . }""".stripMargin) }
      assert(all() == s1,
        "statically ill-formed op sequence partially applied")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }

  test("SPARQL UPDATE modify (§3.1.3): DELETE/INSERT templates " +
    "instantiate from the SAME pre-update solutions, deletes apply " +
    "first, INSERT-only and DELETE-only forms work") {
    val dir = java.nio.file.Files.createTempDirectory("sparqlmod")
      .toString + "/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?p ?o WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      updateSet(dir,
        """INSERT DATA { GRAPH <urn:d/1> {
          |  <urn:i/a> <urn:p/state> "old" .
          |  <urn:i/b> <urn:p/state> "old" .
          |  <urn:i/b> <urn:p/keep> "yes" . } }""".stripMargin)
      // Rewrite every state=old to state=new in one modify: both
      // templates see the same pre-update solution set.
      updateSet(dir,
        """DELETE { GRAPH <urn:d/1> { ?s <urn:p/state> "old" . } }
          |INSERT { GRAPH <urn:d/1> { ?s <urn:p/state> "new" .
          |                           ?s <urn:p/audited> "true" . } }
          |WHERE { GRAPH <urn:d/1> { ?s <urn:p/state> "old" . } }"""
          .stripMargin)
      assert(all() == Set(
        "urn:d/1,urn:i/a,urn:p/state,new",
        "urn:d/1,urn:i/a,urn:p/audited,true",
        "urn:d/1,urn:i/b,urn:p/state,new",
        "urn:d/1,urn:i/b,urn:p/audited,true",
        "urn:d/1,urn:i/b,urn:p/keep,yes"),
        "modify did not rewrite exactly the matched quads")
      // Delete-before-insert: a quad matched by BOTH templates
      // survives (the spec's ordering rule).
      updateSet(dir,
        """DELETE { GRAPH <urn:d/1> { ?s <urn:p/keep> ?v . } }
          |INSERT { GRAPH <urn:d/1> { ?s <urn:p/keep> ?v . } }
          |WHERE { GRAPH <urn:d/1> { ?s <urn:p/keep> ?v . } }"""
          .stripMargin)
      assert(all().contains("urn:d/1,urn:i/b,urn:p/keep,yes"),
        "delete-then-insert dropped a quad both templates matched")
      // INSERT-only modify mints into ANOTHER graph from bindings.
      updateSet(dir,
        """INSERT { GRAPH <urn:d/log> { ?s <urn:p/seen> "1" . } }
          |WHERE { GRAPH <urn:d/1> { ?s <urn:p/audited> "true" . } }"""
          .stripMargin)
      assert(all().count(_.startsWith("urn:d/log,")) == 2)
      // DELETE-only modify: WHERE joins two patterns, template deletes
      // only one of them.
      updateSet(dir,
        """DELETE { GRAPH <urn:d/1> { ?s <urn:p/audited> "true" . } }
          |WHERE { GRAPH <urn:d/1> { ?s <urn:p/audited> "true" .
          |                          ?s <urn:p/keep> "yes" . } }"""
          .stripMargin)
      assert(!all().contains("urn:d/1,urn:i/b,urn:p/audited,true") &&
        all().contains("urn:d/1,urn:i/a,urn:p/audited,true"),
        "delete-only modify scoped wrong")
      // Static validation: a template var the WHERE does not bind
      // errors before anything commits.
      val s0 = all()
      intercept[RuntimeException] { updateSet(dir,
        """INSERT DATA { <urn:i/x> <urn:p/k> "v" . } ;
          |DELETE { GRAPH <urn:d/1> { ?s ?p ?o . } } WHERE { }"""
          .stripMargin) }
      assert(all() == s0, "ill-formed modify partially applied")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }

  test("CONSTRUCT WHERE shortcut (§10.1): the pattern is its own " +
    "template; non-triple patterns are rejected") {
    val geo = G.geo(spark, sf)
    val shortcut = Sparql.construct(geo,
      "CONSTRUCT WHERE { ?s <urn:p/inRegion> ?r . }")
    val explicit = Sparql.construct(geo,
      """CONSTRUCT { ?s <urn:p/inRegion> ?r . }
        |WHERE { ?s <urn:p/inRegion> ?r . }""".stripMargin)
    assert(rows(shortcut) == rows(explicit) && shortcut.count() > 0)
    intercept[RuntimeException] {
      Sparql.construct(geo,
        "CONSTRUCT WHERE { ?s <urn:p/a>/<urn:p/b> ?o . }")
    }
    intercept[RuntimeException] {
      Sparql.construct(geo,
        "CONSTRUCT WHERE { ?s ?p ?o . FILTER(?p = \"x\") }")
    }
  }

  test("SPARQL UPDATE USING / USING NAMED: the WHERE's dataset is the " +
    "clause's (replacement semantics), templates still hit the store") {
    val root = java.nio.file.Files.createTempDirectory("sparqlusing")
    val dir = s"$root/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?p WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      updateSet(dir,
        """INSERT DATA {
          |  <urn:i/a> <urn:p/keep> "1" .
          |  <urn:i/b> <urn:p/keep> "1" .
          |  <urn:i/c> <urn:p/keep> "1" .
          |  GRAPH <urn:d/src1> { <urn:i/a> <urn:p/flag> "x" . }
          |  GRAPH <urn:d/src2> { <urn:i/b> <urn:p/flag> "x" . } }"""
          .stripMargin)
      // USING <src1>: the WHERE's bare pattern reads src1 as its
      // default graph — only ?s=a binds; the DELETE template hits the
      // STORE's default graph.
      updateSet(dir,
        """DELETE { ?s <urn:p/keep> "1" . }
          |USING <urn:d/src1>
          |WHERE { ?s <urn:p/flag> "x" . }""".stripMargin)
      assert(all() == Set("null,urn:i/b,urn:p/keep", "null,urn:i/c,urn:p/keep",
        "urn:d/src1,urn:i/a,urn:p/flag", "urn:d/src2,urn:i/b,urn:p/flag"))
      // Replacement semantics: with a clause present, the store's real
      // default graph is INVISIBLE to a bare WHERE pattern.
      updateSet(dir,
        """INSERT { ?s <urn:p/u> "y" . }
          |USING <urn:d/src1>
          |WHERE { ?s <urn:p/keep> "1" . }""".stripMargin)
      assert(all().size == 4, "bare WHERE saw the store's default graph " +
        "despite a USING clause")
      // USING NAMED <src2>: GRAPH ?g can only see src2.
      updateSet(dir,
        """DELETE { ?s <urn:p/keep> "1" . }
          |USING NAMED <urn:d/src2>
          |WHERE { GRAPH ?g { ?s <urn:p/flag> "x" . } }""".stripMargin)
      assert(all() == Set("null,urn:i/c,urn:p/keep",
        "urn:d/src1,urn:i/a,urn:p/flag", "urn:d/src2,urn:i/b,urn:p/flag"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("SPARQL UPDATE WITH <g>: bare templates AND bare WHERE patterns " +
    "scope to <g>; USING overrides the WHERE side; non-modify forms " +
    "reject WITH") {
    val root = java.nio.file.Files.createTempDirectory("sparqlwith")
    val dir = s"$root/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?p WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      updateSet(dir,
        """INSERT DATA {
          |  <urn:i/a> <urn:p/keep> "1" .
          |  GRAPH <urn:d/w> { <urn:i/a> <urn:p/keep> "1" .
          |                    <urn:i/a> <urn:p/flag> "x" . }
          |  GRAPH <urn:d/o> { <urn:i/a> <urn:p/sel> "y" . } }""".stripMargin)
      // WHERE's bare pattern reads <urn:d/w>; the bare DELETE template
      // removes from <urn:d/w> — the REAL default graph's copy stays.
      updateSet(dir,
        """WITH <urn:d/w>
          |DELETE { ?s <urn:p/keep> "1" . }
          |WHERE { ?s <urn:p/flag> "x" . }""".stripMargin)
      assert(all() == Set("null,urn:i/a,urn:p/keep",
        "urn:d/w,urn:i/a,urn:p/flag", "urn:d/o,urn:i/a,urn:p/sel"))
      // WITH + INSERT: the minted quad lands IN <urn:d/w>.
      updateSet(dir,
        """WITH <urn:d/w>
          |INSERT { ?s <urn:p/new> "n" . }
          |WHERE { ?s <urn:p/flag> "x" . }""".stripMargin)
      assert(all().contains("urn:d/w,urn:i/a,urn:p/new"))
      // USING overrides the WHERE side (reads <urn:d/o>), while the
      // template still lands in WITH's graph.
      updateSet(dir,
        """WITH <urn:d/w>
          |INSERT { ?s <urn:p/viaUsing> "u" . }
          |USING <urn:d/o>
          |WHERE { ?s <urn:p/sel> "y" . }""".stripMargin)
      assert(all().contains("urn:d/w,urn:i/a,urn:p/viaUsing"))
      // WITH on non-modify forms is a loud parse error.
      intercept[RuntimeException] { updateSet(dir,
        "WITH <urn:d/w> INSERT DATA { <urn:i/z> <urn:p/k> \"v\" . }") }
      intercept[RuntimeException] { updateSet(dir,
        "WITH <urn:d/w> CLEAR DEFAULT") }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  // ------------------------------------------- §3.2 graph management

  test("SPARQL UPDATE LOAD: the distributed N-Quads source feeds the " +
    "store; INTO GRAPH rehomes; SILENT turns a missing doc into a no-op") {
    val root = java.nio.file.Files.createTempDirectory("sparqlload")
    val dir = s"$root/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?p ?o WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    val doc = root.resolve("dump.nq")
    java.nio.file.Files.write(doc, java.util.Arrays.asList(
      "<urn:i/a> <urn:p/k> \"v\"@en .",
      "<urn:i/b> <urn:p/k> <urn:i/c> <urn:d/src> ."))
    try {
      updateSet(dir,
        "INSERT DATA { <urn:i/seed> <urn:p/k> \"s\" . }")
      val seed = all()
      // LOAD keeps the document's own graph labels (N-Quads).
      updateSet(dir, s"LOAD <file:$doc>")
      assert(all() == seed + "null,urn:i/a,urn:p/k,v" +
        "urn:d/src,urn:i/b,urn:p/k,urn:i/c")
      // INTO GRAPH overrides every statement's graph slot; replaying
      // the same doc into a new graph adds only the rehomed copies.
      updateSet(dir, s"LOAD <file:$doc> INTO GRAPH <urn:d/in>")
      assert(all() == seed + "null,urn:i/a,urn:p/k,v" +
        "urn:d/src,urn:i/b,urn:p/k,urn:i/c" +
        "urn:d/in,urn:i/a,urn:p/k,v" + "urn:d/in,urn:i/b,urn:p/k,urn:i/c")
      // Missing document: loud by default (store untouched),
      // swallowed under SILENT.
      val before = all()
      intercept[Exception] {
        updateSet(dir, s"LOAD <file:$root/absent.nq>")
      }
      assert(all() == before, "failed LOAD mutated the store")
      updateSet(dir, s"LOAD SILENT <file:$root/absent.nq>")
      assert(all() == before)
      // Blank nodes are DOCUMENT-scoped: the same _:b1 label in two
      // loaded documents skolemizes to two distinct resources.
      val docA = root.resolve("bn_a.nq")
      val docB = root.resolve("bn_b.nq")
      java.nio.file.Files.write(docA, java.util.Arrays.asList(
        "_:b1 <urn:p/bn> \"a\" ."))
      java.nio.file.Files.write(docB, java.util.Arrays.asList(
        "_:b1 <urn:p/bn> \"b\" ."))
      updateSet(dir, s"LOAD <file:$docA> ; LOAD <file:$docB>")
      val bnSubjects = Sparql.select(spark.read.parquet(dir),
        "SELECT ?s WHERE { ?s <urn:p/bn> ?o . }")
        .collect().map(_.getString(0)).toSet
      assert(bnSubjects.size == 2,
        s"cross-document blank nodes conflated: $bnSubjects")
      // Re-LOADing the same document stays set-idempotent.
      val n = all().size
      updateSet(dir, s"LOAD <file:$docA>")
      assert(all().size == n, "re-LOAD duplicated skolemized quads")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("SPARQL UPDATE CLEAR/DROP/CREATE: graph targets, the §3.2 " +
    "absent-graph and already-exists error contracts, SILENT") {
    val root = java.nio.file.Files.createTempDirectory("sparqlclear")
    val dir = s"$root/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      updateSet(dir,
        """INSERT DATA { <urn:i/d0> <urn:p/k> "v" .
          |  GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> "1" . }
          |  GRAPH <urn:d/2> { <urn:i/b> <urn:p/k> "2" . } }""".stripMargin)
      // CREATE: implicit graphs — error only when it already exists.
      updateSet(dir, "CREATE GRAPH <urn:d/new>")
      intercept[Exception] {
        updateSet(dir, "CREATE GRAPH <urn:d/1>")
      }
      updateSet(dir, "CREATE SILENT GRAPH <urn:d/1>")
      // CLEAR GRAPH removes exactly that graph's quads.
      updateSet(dir, "CLEAR GRAPH <urn:d/1>")
      assert(all() == Set("null,urn:i/d0", "urn:d/2,urn:i/b"))
      // CLEAR of a now-absent graph errors, unless SILENT.
      intercept[Exception] {
        updateSet(dir, "CLEAR GRAPH <urn:d/1>")
      }
      updateSet(dir, "DROP SILENT GRAPH <urn:d/1>")
      // CLEAR DEFAULT leaves named graphs; DROP ALL empties the store
      // but keeps it servable.
      updateSet(dir, "CLEAR DEFAULT")
      assert(all() == Set("urn:d/2,urn:i/b"))
      updateSet(dir, "DROP ALL")
      assert(all().isEmpty)
      // CLEAR NAMED: rebuild, then only the default survives.
      updateSet(dir,
        """INSERT DATA { <urn:i/d0> <urn:p/k> "v" .
          |  GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> "1" . } } ;
          |CLEAR NAMED""".stripMargin)
      assert(all() == Set("null,urn:i/d0"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("SPARQL UPDATE ADD/COPY/MOVE: set-semantics merge, " +
    "dst-replacing copy, src-removing move, self-transfer no-op, " +
    "absent-source error contract") {
    val root = java.nio.file.Files.createTempDirectory("sparqlxfer")
    val dir = s"$root/quads"
    def all() = Sparql.select(
      spark.read.parquet(dir),
      "SELECT ?g ?s ?o WHERE { { ?s ?p ?o } UNION " +
        "{ GRAPH ?g { ?s ?p ?o } } }").collect()
      .map(_.toSeq.mkString(",")).toSet
    try {
      updateSet(dir,
        """INSERT DATA { <urn:i/d> <urn:p/k> "d" .
          |  GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> "1" .
          |                    <urn:i/d> <urn:p/k> "d" . }
          |  GRAPH <urn:d/2> { <urn:i/b> <urn:p/k> "2" . } }""".stripMargin)
      // ADD DEFAULT TO <d/2>: merge (set semantics — the shared quad
      // does not duplicate when re-added).
      updateSet(dir, "ADD DEFAULT TO GRAPH <urn:d/2>")
      assert(all() == Set("null,urn:i/d,d", "urn:d/1,urn:i/a,1",
        "urn:d/1,urn:i/d,d", "urn:d/2,urn:i/b,2", "urn:d/2,urn:i/d,d"))
      updateSet(dir, "ADD DEFAULT TO GRAPH <urn:d/2>")
      assert(all().size == 5, "re-ADD duplicated quads")
      // COPY replaces the destination wholesale.
      updateSet(dir, "COPY GRAPH <urn:d/1> TO GRAPH <urn:d/2>")
      assert(all() == Set("null,urn:i/d,d", "urn:d/1,urn:i/a,1",
        "urn:d/1,urn:i/d,d", "urn:d/2,urn:i/a,1", "urn:d/2,urn:i/d,d"))
      // MOVE: source gone, destination replaced; GRAPH keyword is
      // optional on either side per the grammar.
      updateSet(dir, "MOVE <urn:d/1> TO DEFAULT")
      assert(all() == Set("null,urn:i/a,1", "null,urn:i/d,d",
        "urn:d/2,urn:i/a,1", "urn:d/2,urn:i/d,d"))
      // Self-transfer: explicit no-op, even for a missing graph.
      updateSet(dir, "MOVE GRAPH <urn:d/9> TO GRAPH <urn:d/9>")
      // Absent named source errors (default-graph source never does).
      intercept[Exception] {
        updateSet(dir, "COPY GRAPH <urn:d/9> TO DEFAULT")
      }
      updateSet(dir, "COPY SILENT GRAPH <urn:d/9> TO DEFAULT")
      assert(all() == Set("null,urn:i/a,1", "null,urn:i/d,d",
        "urn:d/2,urn:i/a,1", "urn:d/2,urn:i/d,d"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  // ------------------------------------------------ X260 value exprs

  private def exprGraph: DataFrame = {
    import spark.implicits._
    Seq(
      ("urn:x/1", "urn:p/name", "alpha", false, null, null),
      ("urn:x/1", "urn:p/size", "8", false, null,
        "http://www.w3.org/2001/XMLSchema#integer"),
      ("urn:x/2", "urn:p/name", "Beta", false, "en", null),
      ("urn:x/2", "urn:p/size", "3", false, null,
        "http://www.w3.org/2001/XMLSchema#integer"),
      ("urn:x/3", "urn:p/name", "urn:other/3", true, null, null),
      ("urn:x/3", "urn:p/size", "big", false, null, null))
      .toDF("s", "p", "o", "oIsIri", "oLang", "oDatatype")
  }

  test("SPARQL UPDATE over a store holding a duplicated quad: INSERT " +
    "DATA and modify give DeltaStore's fold of the same statements") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("sparqldup")
    val admin = s"$root/admin"
    val delta = s"$root/delta"
    val quadSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType) +:
        graft.rdf.Turtle.schema.fields)
    def quad(s: String, p: String, o: String) =
      org.apache.spark.sql.Row("urn:d/1", s, p, o, false, null, null)
    val seed = spark.createDataFrame(Seq("a" -> "state" -> "old",
        "b" -> "keep" -> "yes", "c" -> "note" -> "x")
      .flatMap { case ((s, p), o) =>
        Seq.fill(2)(quad(s"urn:i/$s", s"urn:p/$p", o)) }.asJava, quadSchema)
    seed.write.parquet(admin)
    seed.write.parquet(s"$delta/base")
    def bag(df: DataFrame): Seq[String] =
      df.select("g", "s", "p", "o", "oIsIri", "oLang", "oDatatype")
        .collect().map(_.toSeq.mkString(",")).toSeq.sorted
    try {
      Seq(
        """INSERT DATA { GRAPH <urn:d/1> { <urn:i/b> <urn:p/keep> "yes" .
          |                                <urn:i/d> <urn:p/note> "y" . } }"""
          .stripMargin,
        """DELETE { GRAPH <urn:d/1> { ?s <urn:p/state> "old" . } }
          |INSERT { GRAPH <urn:d/1> { ?s <urn:p/state> "new" .
          |                           ?s <urn:p/keep> "yes" . } }
          |WHERE { GRAPH <urn:d/1> { ?s <urn:p/state> "old" . } }"""
          .stripMargin).foreach { u =>
        Sparql.update(spark, admin, u)
        graft.graphquery.DeltaStore.update(spark, delta, u)
        assert(bag(spark.read.parquet(admin)) ==
          bag(graft.graphquery.DeltaStore.serve(spark, delta)), u)
      }
      // A re-added quad keeps one copy; an untouched duplicate stays.
      val after = bag(spark.read.parquet(admin))
      assert(after.count(_ == "urn:d/1,urn:i/b,urn:p/keep,yes,false,null,null") == 1)
      assert(after.count(_ == "urn:d/1,urn:i/c,urn:p/note,x,false,null,null") == 2)
      assert(after.count(_.contains("urn:p/state,old")) == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("SPARQL UPDATE above the broadcast threshold: LOAD, ADD and a " +
    "modify fold with no broadcast and give the store they give below it") {
    val root = java.nio.file.Files.createTempDirectory("sparqlbig")
    val doc = root.resolve("dump.nt")
    java.nio.file.Files.write(doc, (0 until 400).map(i =>
      s"<urn:i/$i> <urn:p/k> \"value number $i of the loaded document\" .")
      .asJava)
    val statements = Seq(s"LOAD <file:$doc>",
      "ADD DEFAULT TO GRAPH <urn:d/copy>",
      """DELETE { ?s <urn:p/k> ?o . } INSERT { ?s <urn:p/seen> ?o . }
        |WHERE { ?s <urn:p/k> ?o . }""".stripMargin)
    // The executed plan of every store commit (the write into the
    // `__tmp` swap directory).
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("__tmp")) plans.add(p)
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    def run(dir: String): Seq[String] = {
      statements.foreach(updateSet(dir, _))
      spark.read.parquet(dir).collect().map(_.toSeq.mkString(",")).toSeq.sorted
    }
    try {
      val below = run(s"$root/below")
      assert(below.size == 800 &&
        below.count(_.startsWith("urn:d/copy,")) == 400 &&
        below.count(_.startsWith("null,")) == 400 &&
        below.forall(q => q.startsWith("urn:d/copy,") == q.contains(",urn:p/k,")))
      // 1 KB: less than the document, the source graph and the touched
      // quads of the modify.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      spark.listenerManager.register(listener)
      val above =
        try run(s"$root/above")
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(above == below)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (plans.size < statements.size && System.nanoTime < deadline)
        Thread.sleep(50)
      assert(plans.size == statements.size)
      plans.asScala.foreach(p =>
        assert(!p.contains("Broadcast"), s"a broadcast above the threshold:\n$p"))
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("DeltaStore writes one delta row per distinct touched quad, not " +
    "one per WHERE solution") {
    val root = java.nio.file.Files.createTempDirectory("deltadedupe")
    val dir = s"$root/store"
    try {
      graft.graphquery.DeltaStore.update(spark, dir,
        """INSERT DATA { <urn:i/a> <urn:p/state> "old" .
          |  <urn:i/a> <urn:p/x> "1" . <urn:i/a> <urn:p/y> "2" .
          |  <urn:i/b> <urn:p/state> "old" . <urn:i/b> <urn:p/x> "3" . }"""
          .stripMargin)
      // Five solutions, two subjects: two tombstones and two adds.
      graft.graphquery.DeltaStore.update(spark, dir,
        """DELETE { ?s <urn:p/state> "old" . } INSERT { ?s <urn:p/state> "new" . }
          |WHERE { ?s ?p ?o . }""".stripMargin)
      val deltas = spark.read.parquet(s"$dir/delta")
      val last = deltas.agg(max("delta_id")).head.get(0)
      val rows = deltas.filter(col("delta_id") === last).drop("delta_id")
      assert(rows.count() == 4 && rows.distinct().count() == 4)
      assert(graft.graphquery.DeltaStore.serve(spark, dir)
        .filter(col("p") === "urn:p/state").select("o")
        .collect().map(_.getString(0)).toSeq == Seq("new", "new"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("X260 arithmetic: precedence, parens, unary minus, division; " +
    "BIND binds canonical lexical forms") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?a ?b ?c WHERE {
        |  ?s <urn:p/size> ?n .
        |  BIND(?n + 2 * 10 AS ?a)
        |  BIND((?n + 2) * 10 AS ?b)
        |  BIND(0 - ?n / 2 AS ?c)
        |  FILTER(?n * 3 >= 9)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    // size=8 → a=28, b=100, c=-4; size=3 → a=23, b=50, c=-1.5;
    // size="big" → type error: FILTER drops the row.
    assert(got == Set(
      ("urn:x/1", "28", "100", "-4"),
      ("urn:x/2", "23", "50", "-1.5")))
  }

  test("X260 type-error rule: BIND over a non-number leaves the var " +
    "UNBOUND but keeps the row; division by zero likewise") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?dbl ?z WHERE {
        |  ?s <urn:p/size> ?n .
        |  BIND(?n * 2 AS ?dbl)
        |  BIND(?n / 0 AS ?z)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("urn:x/1", "16", null),
      ("urn:x/2", "6", null),
      ("urn:x/3", null, null)))
  }

  test("X260 string functions: STRLEN/SUBSTR/REPLACE/UCASE/LCASE in " +
    "BIND and FILTER; string-kind comparison is lexical") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?len ?up ?cut ?rep WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(STRLEN(?name) AS ?len)
        |  BIND(UCASE(?name) AS ?up)
        |  BIND(LCASE(SUBSTR(?name, 1, 3)) AS ?cut)
        |  BIND(REPLACE(?name, "a+", "_") AS ?rep)
        |  FILTER(STRLEN(?name) > 4 && UCASE(?name) != ?name)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    // alpha: len 5, ALPHA, alp, _lph_ ("a+" global); Beta: len 4 →
    // dropped; urn:other/3: len 11, UCASE != self → kept.
    assert(got == Set(
      ("urn:x/1", "5", "ALPHA", "alp", "_lph_"),
      ("urn:x/3", "11", "URN:OTHER/3", "urn", "urn:other/3")))
  }

  test("X260 DATATYPE: stored datatype, rdf:langString for tagged, " +
    "xsd:string for plain, type error (unbound) for an IRI") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?dt WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(DATATYPE(?name) AS ?dt)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("urn:x/1", "http://www.w3.org/2001/XMLSchema#string"),
      ("urn:x/2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
      ("urn:x/3", null)))
    val typed = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/size> ?n .
        |  FILTER(DATATYPE(?n) = <http://www.w3.org/2001/XMLSchema#integer>)
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    assert(typed == Set("urn:x/1", "urn:x/2"))
  }

  test("X260 boolean/value paren disambiguation: grouped booleans " +
    "still parse; arithmetic groups backtrack correctly") {
    val both = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/size> ?n .
        |  FILTER((?n > 5 || STRLEN(?n) = 3) && (?n + 1) * 2 >= 8)
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    // 8: 8>5 true, (8+1)*2=18 ≥ 8 → keep. 3: 3>5 false, STRLEN("3")=1
    // ≠ 3 → drop. "big": both comparisons type-error → drop.
    assert(both == Set("urn:x/1"))
  }

  test("X265 IF/COALESCE: boolean condition on the full grammar, " +
    "value branches; COALESCE over an OPTIONAL-unbound var") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?cat ?n2 WHERE {
        |  ?s <urn:p/name> ?name .
        |  OPTIONAL { ?s <urn:p/size> ?n . FILTER(?n > 4) }
        |  BIND(IF(STRLEN(?name) > 5 || BOUND(?n), "long-or-sized", "short")
        |       AS ?cat)
        |  BIND(COALESCE(?n, "none") AS ?n2)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // x/1: name len 5, but ?n=8 bound → long-or-sized/8. x/2: len 4,
    // ?n dropped by inner filter (3 ≤ 4) → short/none. x/3: len 11 →
    // long-or-sized, ?n="big" type-errors out of the inner FILTER →
    // none.
    assert(got == Set(
      ("urn:x/1", "long-or-sized", "8"),
      ("urn:x/2", "short", "none"),
      ("urn:x/3", "long-or-sized", "none")))
  }

  test("X265 STRBEFORE/STRAFTER: match, no-match empty string, and " +
    "numeric ABS/ROUND/CEIL/FLOOR lexical forms") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?b ?a ?miss ?r ?f WHERE {
        |  ?s <urn:p/name> ?name .
        |  ?s <urn:p/size> ?n .
        |  BIND(STRBEFORE(?name, "t") AS ?b)
        |  BIND(STRAFTER(?name, "t") AS ?a)
        |  BIND(STRAFTER(?name, "zzz") AS ?miss)
        |  BIND(ROUND(?n / 2 - 1) AS ?r)
        |  BIND(FLOOR(0 - ?n / 2) AS ?f)
        |  FILTER(ABS(0 - ?n) = ?n && CEIL(?n / 4) <= 2)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet
    // x/1 (alpha, 8): ceil(2)=2 keep; b="", a="a"? alpha: first 't'?
    // none → b/a both from no-match... alpha has no 't': b="", a="".
    // round(8/2-1)=3, floor(-4)=-4.
    // x/2 (Beta, 3): ceil(0.75)=1 keep; Beta: t at pos 3 → b="Be",
    // a="a". round(0.5)=1 (ties toward +∞: floor(1.0)=1),
    // floor(-1.5)=-2. x/3: "big" type-errors the FILTER → dropped.
    assert(got == Set(
      ("urn:x/1", "", "", "", "3", "-4"),
      ("urn:x/2", "Be", "a", "", "1", "-2")))
  }

  test("X265 IN / NOT IN and generalized CONTAINS over expressions") {
    val in = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/size> ?n .
        |  FILTER(?n IN ("8", "big"))
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    assert(in == Set("urn:x/1", "urn:x/3"))
    val notIn = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(?s NOT IN (<urn:x/2>) && ?name IN ())
        |}""".stripMargin)
    // empty IN list = constant false → no rows.
    assert(notIn.collect().isEmpty)
    val contains = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(CONTAINS(LCASE(?name), STRAFTER("x:bet", ":")))
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    assert(contains == Set("urn:x/2"))
  }

  test("X266 select expressions: (expr AS ?v) binds per solution; " +
    "expressions may reference earlier select expressions") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s (?n * 2 AS ?dbl) (UCASE(SUBSTR(?name, 1, 2)) AS ?u)
        |       (?dbl + 1 AS ?dbl1) WHERE {
        |  ?s <urn:p/name> ?name .
        |  ?s <urn:p/size> ?n .
        |}""".stripMargin)
    assert(got.columns.toSeq == Seq("s", "dbl", "u", "dbl1"),
      "projection must be exactly the select list, no hidden leaks")
    val rows = got.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet
    assert(rows == Set(
      ("urn:x/1", "16", "AL", "17"),
      ("urn:x/2", "6", "BE", "7"),
      ("urn:x/3", null, "UR", null)))
  }

  test("X266 aggregates over expressions: SUM/COUNT/MAX/GROUP_CONCAT " +
    "take full value arguments; type errors fall out per spec") {
    val got = Sparql.select(exprGraph,
      """SELECT (SUM(?n * 2) AS ?t) (COUNT(?n * 2) AS ?c)
        |       (MAX(LCASE(?name)) AS ?m)
        |       (GROUP_CONCAT(SUBSTR(?name, 1, 1); SEPARATOR="|") AS ?i)
        |WHERE {
        |  ?s <urn:p/name> ?name .
        |  ?s <urn:p/size> ?n .
        |}""".stripMargin).collect().head
    // sizes 8, 3, "big": SUM over 16+6 (big type-errors to NULL and
    // falls out), COUNT(expr) counts the 2 non-error evaluations,
    // MAX lexical over {alpha, beta, urn:other/3}, initials sorted.
    assert(got.getDouble(0) == 22.0)
    assert(got.getLong(1) == 2L)
    assert(got.getString(2) == "urn:other/3")
    assert(got.getString(3) == "B|a|u")
  }

  test("X267 HAVING over aggregate expressions: hidden aggregates " +
    "compile into the same hash aggregate and never project") {
    import spark.implicits._
    val g = Seq(
      ("urn:a/1", "urn:p/grp", "g1"), ("urn:a/1", "urn:p/n", "4"),
      ("urn:a/2", "urn:p/grp", "g1"), ("urn:a/2", "urn:p/n", "10"),
      ("urn:a/3", "urn:p/grp", "g2"), ("urn:a/3", "urn:p/n", "2"))
      .toDF("s", "p", "o")
      .withColumn("oIsIri", org.apache.spark.sql.functions.lit(false))
      .withColumn("oLang", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
      .withColumn("oDatatype", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
    val got = Sparql.select(g,
      """SELECT ?grp WHERE {
        |  ?s <urn:p/grp> ?grp .
        |  ?s <urn:p/n> ?n .
        |} GROUP BY ?grp
        |HAVING(SUM(?n * 2) > 20 && COUNT(*) >= 2)""".stripMargin)
    assert(got.columns.toSeq == Seq("grp"),
      "hidden HAVING aggregates must not project")
    // g1: sum(2n)=28 > 20 and count 2 ✓; g2: 4 ≤ 20 ✗.
    assert(got.collect().map(_.getString(0)).toSet == Set("g1"))
    // The select-list aggregate and the HAVING aggregate coexist.
    val both = Sparql.select(g,
      """SELECT ?grp (COUNT(*) AS ?c) WHERE {
        |  ?s <urn:p/grp> ?grp .
        |  ?s <urn:p/n> ?n .
        |} GROUP BY ?grp
        |HAVING(MAX(STRLEN(?n)) < 2)""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // g1 has "10" (len 2) → out; g2 max len 1 → kept.
    assert(both == Set(("g2", 1L)))
  }

  test("X267 ORDER BY expressions: numeric keys order numerically, " +
    "attach post-DISTINCT, and drop from the output") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?n WHERE {
        |  ?s <urn:p/size> ?n .
        |} ORDER BY DESC(?n * 1) ?s LIMIT 2""".stripMargin)
    assert(got.columns.toSeq == Seq("s", "n"))
    // numeric ordering: 8, 3, then "big" (type error → NULL sorts
    // first DESC? Spark NULLs sort LAST in desc) — top-2 = 8, 3.
    assert(got.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("urn:x/1", "8"), ("urn:x/2", "3")))
    // A bare function key and a parenthesized arithmetic key parse.
    val lex = Sparql.select(exprGraph,
      """SELECT ?s WHERE { ?s <urn:p/name> ?name . }
        |ORDER BY STRLEN(?name) LIMIT 1""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // shortest name: Beta (4) < alpha (5) < urn:other/3 (11).
    assert(lex == Seq("urn:x/2"))
    // Aggregate ORDER BY keys on a grouped query — same hidden
    // registration as HAVING, never projected.
    val agg = Sparql.select(exprGraph,
      """SELECT ?p WHERE { ?s ?p ?o . }
        |GROUP BY ?p ORDER BY DESC(COUNT(*)) ?p LIMIT 1""".stripMargin)
    assert(agg.columns.toSeq == Seq("p"))
    // name and size both appear 3× — the ?p tie-break picks name.
    assert(agg.collect().map(_.getString(0)).toSeq == Seq("urn:p/name"))
  }

  test("X268 hash functions match MessageDigest; REDUCED parses as a " +
    "bag passthrough") {
    def hex(alg: String, s: String): String =
      java.security.MessageDigest.getInstance(alg)
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Sparql.select(exprGraph,
      """SELECT REDUCED ?s ?m ?s1 ?s2 WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(MD5(?name) AS ?m)
        |  BIND(SHA1(?name) AS ?s1)
        |  BIND(SHA256(?name) AS ?s2)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(got.length == 3, "REDUCED must keep the bag")
    val alpha = got.find(_._1 == "urn:x/1").get
    assert(alpha._2 == hex("MD5", "alpha"))
    assert(alpha._3 == hex("SHA-1", "alpha"))
    assert(alpha._4 == hex("SHA-256", "alpha"))
  }

  test("X268 STRLANG/STRDT mint term metadata: CONSTRUCT reproduces " +
    "the tagged/typed terms; TSV serializes them") {
    val minted = Sparql.construct(exprGraph,
      """CONSTRUCT { ?s <urn:p/t> ?t . ?s <urn:p/d> ?d . } WHERE {
        |  ?s <urn:p/size> ?n .
        |  BIND(STRLANG(STR(?n), "x-kl") AS ?t)
        |  BIND(STRDT(STR(?n), <urn:dt/num>) AS ?d)
        |}""".stripMargin).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(4),
        r.getString(5))).toSet
    assert(minted.contains(("urn:p/t", "8", "x-kl", null)))
    assert(minted.contains(("urn:p/d", "8", null, "urn:dt/num")))
    val (_, tsv) = Sparql.selectTsv(exprGraph,
      """SELECT ?t WHERE {
        |  ?s <urn:p/size> ?n .
        |  BIND(STRLANG(STR(?n), "x-kl") AS ?t)
        |  FILTER(?n = 8)
        |}""".stripMargin)
    assert(tsv.collect().map(_.getString(0)).toSeq == Seq("\"8\"@x-kl"))
  }

  test("X268 GROUP BY expressions: (expr AS ?v) is a projectable key; " +
    "a bare expression key groups but cannot project") {
    val got = Sparql.select(exprGraph,
      """SELECT ?k (COUNT(*) AS ?c) WHERE {
        |  ?s <urn:p/name> ?name .
        |} GROUP BY (STRLEN(?name) / 4 AS ?k)""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // lens 5, 4, 11 → /4 = 1.25, 1, 2.75.
    assert(got == Set(("1.25", 1L), ("1", 1L), ("2.75", 1L)))
    val bare = Sparql.select(exprGraph,
      """SELECT (COUNT(*) AS ?c) WHERE {
        |  ?s ?p ?o .
        |} GROUP BY UCASE(?p)""".stripMargin).collect()
      .map(_.getLong(0)).toSet
    assert(bare == Set(3L), "two predicates, 3 triples each")
  }

  test("X269 embedded EXISTS: compound FILTER disjunction/negation; " +
    "whole-filter forms still lower to semi/anti joins") {
    // size exists for all three; lang metadata only on Beta.
    val got = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) }
        |         || STRSTARTS(?name, "B"))
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    // x/1: size 8 > 4 ✓; x/2: size 3 fails but name "Beta" starts B ✓;
    // x/3: size "big" type-errors, name no B ✗.
    assert(got == Set("urn:x/1", "urn:x/2"))
    val neg = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(NOT EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) }
        |         && STRLEN(?name) < 10)
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    assert(neg == Set("urn:x/2"))
    // Solutions never multiply through the flag join (three names,
    // each with exactly one row even with multi-row EXISTS matches).
    val bag = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(EXISTS { ?s ?p ?o . } || ?name = "zzz")
        |}""".stripMargin).collect()
    assert(bag.length == 3, s"flag join multiplied rows: ${bag.length}")
    // X276: IF's condition is a boolean position — EXISTS works there.
    val iff = Sparql.select(exprGraph,
      """SELECT ?s ?f WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(IF(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) },
        |          "y", "n") AS ?f)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(iff == Set(("urn:x/1", "y"), ("urn:x/2", "n"),
      ("urn:x/3", "n")))
    // EXISTS in a genuine value position stays a loud error.
    intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT ?s WHERE {
          |  ?s <urn:p/name> ?name .
          |  BIND(STRLEN(EXISTS { ?s <urn:p/size> ?n . }) AS ?f)
          |}""".stripMargin).collect()
    }
  }

  test("X270 boolean BIND: comparisons/connectives bind xsd:boolean " +
    "literals, type errors leave the var unbound; isNumeric") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?big ?num ?weird WHERE {
        |  ?s <urn:p/name> ?name .
        |  ?s <urn:p/size> ?n .
        |  BIND(?n >= 4 AS ?big)
        |  BIND(isNumeric(?n) && !isNumeric(?name) AS ?num)
        |  BIND(?n * 2 > 5 && STRSTARTS(?name, "a") AS ?weird)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    // x/1 (alpha, 8): big=true, num=true, weird=true.
    // x/2 (Beta, 3): big=false, num=true, weird=false.
    // x/3 (urn:other/3, "big"): ?n >= 4 type-errors → unbound;
    //   isNumeric("big")=false → num=false; weird: null && false =
    //   false (three-valued AND short-circuits on the false leg).
    assert(got == Set(
      ("urn:x/1", "true", "true", "true"),
      ("urn:x/2", "false", "true", "false"),
      ("urn:x/3", null, "false", "false")))
    // The minted boolean is a typed literal (CONSTRUCT sees the dt).
    val minted = Sparql.construct(exprGraph,
      """CONSTRUCT { ?s <urn:p/big> ?big } WHERE {
        |  ?s <urn:p/size> ?n . BIND(?n >= 4 AS ?big)
        |}""".stripMargin).collect()
      .filter(_.getString(2) == "true").map(_.getString(5)).toSet
    assert(minted == Set("http://www.w3.org/2001/XMLSchema#boolean"))
  }

  test("X271 datetime accessors: date and dateTime lexical forms, " +
    "fractional seconds, non-dates type-error to unbound") {
    import spark.implicits._
    val g = Seq(
      ("urn:e/1", "urn:p/at", "2024-03-07T09:05:02.5+01:00"),
      ("urn:e/2", "urn:p/at", "1999-12-31"),
      ("urn:e/3", "urn:p/at", "not a date"))
      .toDF("s", "p", "o")
      .withColumn("oIsIri", org.apache.spark.sql.functions.lit(false))
      .withColumn("oLang", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
      .withColumn("oDatatype", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
    val got = Sparql.select(g,
      """SELECT ?s ?y ?mo ?d ?h ?mi ?sec WHERE {
        |  ?s <urn:p/at> ?t .
        |  BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo)
        |  BIND(DAY(?t) AS ?d) BIND(HOURS(?t) AS ?h)
        |  BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?sec)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5),
        r.getString(6))).toSet
    assert(got == Set(
      ("urn:e/1", "2024", "3", "7", "9", "5", "2.5"),
      ("urn:e/2", "1999", "12", "31", null, null, null),
      ("urn:e/3", null, null, null, null, null, null)))
  }

  test("X271 ENCODE_FOR_URI: RFC 3986 unreserved set kept, everything " +
    "else percent-encoded uppercase, UTF-8 multibyte included") {
    import spark.implicits._
    val g = Seq(
      ("urn:u/1", "urn:p/v", "Los Angeles"),
      ("urn:u/2", "urn:p/v", "~*a/b?c=d"),
      ("urn:u/3", "urn:p/v", "A-Z_0.9~ž"))
      .toDF("s", "p", "o")
      .withColumn("oIsIri", org.apache.spark.sql.functions.lit(false))
      .withColumn("oLang", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
      .withColumn("oDatatype", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
    val got = Sparql.select(g,
      """SELECT ?s (ENCODE_FOR_URI(?v) AS ?e) WHERE {
        |  ?s <urn:p/v> ?v .
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("urn:u/1") == "Los%20Angeles")
    assert(got("urn:u/2") == "~%2Aa%2Fb%3Fc%3Dd")
    assert(got("urn:u/3") == "A-Z_0.9~%C5%BE")
  }

  test("X272 trailing VALUES: joins the query's solutions — " +
    "post-aggregation, aliases included, UNDEF wildcards") {
    val plain = Sparql.select(exprGraph,
      """SELECT ?s ?n WHERE { ?s <urn:p/size> ?n . }
        |VALUES ?n { "8" "big" }""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(plain == Set(("urn:x/1", "8"), ("urn:x/3", "big")))
    // Post-aggregation: the VALUES var is an aggregate ALIAS.
    val agg = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?c) WHERE { ?s ?p ?o . }
        |GROUP BY ?p
        |VALUES (?p ?c) { (<urn:p/name> 3) (<urn:p/size> UNDEF) }"""
        .stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(agg == Set(("urn:p/name", 3L), ("urn:p/size", 3L)))
  }

  test("X260+ expressions compose with GRAPH-scoped dataset queries: " +
    "arithmetic FILTER and BIND inside GRAPH ?g") {
    import scala.jdk.CollectionConverters._
    val quadSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType) +:
        graft.rdf.Turtle.schema.fields)
    val ds = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row("urn:d/1", "urn:s/1", "urn:p/n", "4",
        false, null, null),
      org.apache.spark.sql.Row("urn:d/1", "urn:s/2", "urn:p/n", "1",
        false, null, null),
      org.apache.spark.sql.Row("urn:d/2", "urn:s/3", "urn:p/n", "9",
        false, null, null),
      org.apache.spark.sql.Row(null, "urn:s/4", "urn:p/n", "7",
        false, null, null)).asJava, quadSchema)
    val got = Sparql.select(ds,
      """SELECT ?g ?s ?d WHERE {
        |  GRAPH ?g { ?s <urn:p/n> ?n .
        |             FILTER(?n * 2 >= 8)
        |             BIND(?n - 1 AS ?d) }
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // default-graph row invisible to GRAPH ?g; 1*2 < 8 dropped.
    assert(got == Set(
      ("urn:d/1", "urn:s/1", "3"),
      ("urn:d/2", "urn:s/3", "8")))
  }

  test("X260 CONCAT/IRI folds: general args compile; legacy shapes " +
    "keep their metadata path") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?k WHERE {
        |  ?s <urn:p/size> ?n .
        |  BIND(CONCAT("n", STR(?n), "-", STRLEN(?n) * 2) AS ?k)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("urn:x/1", "n8-2"), ("urn:x/2", "n3-2"),
      ("urn:x/3", "nbig-6")))
  }

  test("X273 select expressions over group keys evaluate POST-" +
    "aggregation; aggregate aliases are referencable") {
    // UCASE over the group KEY (?p), and ?k derived from the ?tot
    // aggregate ALIAS — both only expressible after aggregation.
    val got = Sparql.select(exprGraph,
      """SELECT (UCASE(STRAFTER(?p, "urn:p/")) AS ?x)
        |       (COUNT(*) AS ?n)
        |       (SUM(STRLEN(?o)) AS ?tot)
        |       (?tot * 10 + 1 AS ?k)
        |WHERE { ?s ?p ?o . } GROUP BY ?p""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    // names: alpha(5) Beta(4) urn:other/3(11) → 20; sizes: 8,3,big →
    // 1+1+3 = 5.
    assert(got == Set(("NAME", 3L, 20.0, "201"), ("SIZE", 3L, 5.0, "51")))
    // A whole-expression aggregate inside a LARGER expression — the
    // legacy fast path backtracks cleanly into the general grammar.
    val div = Sparql.select(exprGraph,
      """SELECT ?p (SUM(STRLEN(?o)) / 2 AS ?half)
        |WHERE { ?s ?p ?o . } GROUP BY ?p""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(div == Set(("urn:p/name", "10"), ("urn:p/size", "2.5")))
    // Ungrouped queries keep the historical pre-group BIND lowering:
    // expressions see per-solution bindings and reference each other.
    val ungrouped = Sparql.select(exprGraph,
      """SELECT ?s (STRLEN(?o) AS ?l) (?l + 1 AS ?l1)
        |WHERE { ?s <urn:p/name> ?o . }""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ungrouped == Set(("urn:x/1", "5", "6"), ("urn:x/2", "4", "5"),
      ("urn:x/3", "11", "12")))
  }

  test("X273 post-agg select expressions compose through subselects: " +
    "the alias joins the outer group like any variable") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?name ?c2 WHERE {
        |  ?s <urn:p/name> ?name .
        |  { SELECT ?s (COUNT(*) AS ?c) (?c * 2 AS ?c2)
        |    WHERE { ?s ?p ?o . } GROUP BY ?s }
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("urn:x/1", "alpha", "4"), ("urn:x/2", "Beta", "4"),
      ("urn:x/3", "urn:other/3", "4")))
  }

  test("X273 rebinding an in-scope variable in a select expression " +
    "is a loud error (§18.2.1), not a silent overwrite") {
    val e = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT (UCASE(?p) AS ?p) (COUNT(*) AS ?n)
          |WHERE { ?s ?p ?o . } GROUP BY ?p""".stripMargin).collect()
    }
    assert(e.getMessage.contains("rebinds"), e.getMessage)
  }

  test("X273 UNGROUPED rebind guard: the BIND lowering must not " +
    "silently overwrite a WHERE-bound or projected variable") {
    // `?name` is bound by the WHERE group — §18.2.1 makes the alias
    // illegal; pre-guard this silently overwrote the binding.
    val e1 = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT ?name (UCASE(?name) AS ?name)
          |WHERE { ?s <urn:p/name> ?name . }""".stripMargin).collect()
    }
    assert(e1.getMessage.contains("rebinds"), e1.getMessage)
    // Two select expressions colliding on one alias.
    val e2 = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT (UCASE(?name) AS ?x) (LCASE(?name) AS ?x)
          |WHERE { ?s <urn:p/name> ?name . }""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("rebinds"), e2.getMessage)
    // An alias colliding with a variable bound only inside OPTIONAL /
    // a UNION branch is still a rebind (those bind in-scope too).
    val e3 = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT (STRLEN(?name) AS ?vip) WHERE {
          |  ?s <urn:p/name> ?name .
          |  OPTIONAL { ?s <urn:p/vip> ?vip . }
          |}""".stripMargin).collect()
    }
    assert(e3.getMessage.contains("rebinds"), e3.getMessage)
    // FRESH aliases keep working, including chained references.
    val ok = Sparql.select(exprGraph,
      """SELECT ?name (UCASE(?name) AS ?up)
        |WHERE { ?s <urn:p/name> ?name . }""".stripMargin).collect()
    assert(ok.length == 3)
    // r20 ADVICE: a trailing VALUES variable is in scope too — the
    // alias would otherwise lower to a BIND that the post-VALUES join
    // on ?x then silently re-filters.
    val e4 = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT (UCASE(?name) AS ?x)
          |WHERE { ?s <urn:p/name> ?name . }
          |VALUES ?x { "ALPHA" }""".stripMargin).collect()
    }
    assert(e4.getMessage.contains("rebinds"), e4.getMessage)
    // A trailing VALUES on a DIFFERENT variable stays legal alongside
    // a select expression.
    val ok2 = Sparql.select(exprGraph,
      """SELECT ?name (UCASE(?name) AS ?up)
        |WHERE { ?s <urn:p/name> ?name . }
        |VALUES ?name { "alpha" }""".stripMargin).collect()
    assert(ok2.length == 1, ok2.mkString("; "))
  }

  test("X274 UNCORRELATED EXISTS in HAVING: legal on the implicit " +
    "one-group aggregation and on explicit GROUP BY (global probe)") {
    // Implicit grouping (aggregate, no GROUP BY): the group-key set is
    // empty, so every EXISTS is uncorrelated — per-group truth is
    // global truth. Pre-fix this threw 'EXISTS shares no variable
    // with the group'.
    val one = Sparql.select(exprGraph,
      """SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }
        |HAVING(COUNT(*) > 0 && EXISTS { ?a <urn:p/size> ?c })"""
        .stripMargin).collect()
    assert(one.map(_.get(0).toString).toSeq == Seq("6"), one.toSeq)
    // A non-matching probe empties the (single) group.
    val none = Sparql.select(exprGraph,
      """SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }
        |HAVING(COUNT(*) > 0 && EXISTS { ?a <urn:p/absent> ?c })"""
        .stripMargin).collect()
    assert(none.isEmpty, none.toSeq)
    // Explicit GROUP BY + an EXISTS sharing no group key: same global
    // probe, applied to every group alike.
    val grouped = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }
        |GROUP BY ?p
        |HAVING(EXISTS { ?a <urn:p/size> ?c })""".stripMargin).collect()
    assert(grouped.length == 2, grouped.toSeq)
    val groupedNone = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }
        |GROUP BY ?p
        |HAVING(EXISTS { ?a <urn:p/absent> ?c })""".stripMargin).collect()
    assert(groupedNone.isEmpty, groupedNone.toSeq)
  }

  test("UNCORRELATED top-level FILTER EXISTS / NOT EXISTS: global " +
    "non-emptiness probe (§8.1.1), not an error") {
    // EXISTS over a matching disjoint pattern keeps every solution.
    val keep = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER EXISTS { ?a <urn:p/size> ?c . }
        |}""".stripMargin).collect()
    assert(keep.length == 3, keep.toSeq)
    // EXISTS over a non-matching pattern empties the solution set.
    val drop = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER EXISTS { ?a <urn:p/absent> ?c . }
        |}""".stripMargin).collect()
    assert(drop.isEmpty, drop.toSeq)
    // NOT EXISTS: the mirror pair.
    val keepN = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER NOT EXISTS { ?a <urn:p/absent> ?c . }
        |}""".stripMargin).collect()
    assert(keepN.length == 3, keepN.toSeq)
    val dropN = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER NOT EXISTS { ?a <urn:p/size> ?c . }
        |}""".stripMargin).collect()
    assert(dropN.isEmpty, dropN.toSeq)
    // Embedded (compound-FILTER) and BIND forms take the same probe.
    val comp = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(EXISTS { ?a <urn:p/size> ?c . } && STRLEN(?name) < 6)
        |}""".stripMargin).collect()
    assert(comp.length == 2, comp.toSeq)   // "alpha", "Beta"
    val bind = Sparql.select(exprGraph,
      """SELECT ?s ?f WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(EXISTS { ?a <urn:p/absent> ?c . } AS ?f)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(bind.map(_._2) == Set("false"), bind)
  }

  test("X276 nested IF in a VALUE branch keeps its EXISTS condition " +
    "(the walk descends through branch IFs)") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?r WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(IF(STRLEN(?name) < 6,
        |          IF(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) },
        |             "y", "n"),
        |          "long") AS ?r)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // x/1 alpha(5): inner IF, size 8 > 4 → "y"; x/2 Beta(4): size 3 →
    // "n"; x/3 urn:other/3(11): outer else → "long".
    assert(got == Set(("urn:x/1", "y"), ("urn:x/2", "n"),
      ("urn:x/3", "long")))
  }

  test("X276 EXISTS in an IF VALUE branch stays a loud reject (no " +
    "speculative flag joins built first)") {
    val e = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT ?s WHERE {
          |  ?s <urn:p/name> ?name .
          |  FILTER(IF(?name = "alpha",
          |            EXISTS { ?s <urn:p/size> ?n . }, false))
          |}""".stripMargin).collect()
    }
    assert(e != null)
  }

  test("X273 aggregate-free GROUP BY with select expressions: one " +
    "solution per group (keys only)") {
    val got = Sparql.select(exprGraph,
      """SELECT (CONCAT("P:", UCASE(STRAFTER(?p, "urn:p/"))) AS ?x)
        |WHERE { ?s ?p ?o . } GROUP BY ?p""".stripMargin).collect()
      .map(_.getString(0)).toSet
    assert(got == Set("P:NAME", "P:SIZE"))
  }

  test("X274 EXISTS in HAVING: flag join on the AGGREGATED frame, " +
    "correlated on the group key") {
    // Groups = predicates; keep those with >= 3 rows AND a witness
    // object of length > 4 under the same predicate.
    val got = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE {
        |  ?s ?p ?o .
        |} GROUP BY ?p
        |HAVING(COUNT(*) >= 3 && EXISTS { ?v ?p ?w .
        |                                 FILTER(STRLEN(?w) > 4) })""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // name: objects alpha(5)/Beta(4)/urn:other/3(11) → witness ✓;
    // size: 8/3/big all ≤ 4 chars → no witness.
    assert(got == Set(("urn:p/name", 3L)))
    // Negated: the complement group survives.
    val neg = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE {
        |  ?s ?p ?o .
        |} GROUP BY ?p
        |HAVING(!EXISTS { ?v ?p ?w . FILTER(STRLEN(?w) > 4) })""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(neg == Set(("urn:p/size", 3L)))
    // An inner variable that HAPPENS to share an aggregate alias's
    // name is FRESH, not a correlation (§18.2.4: the alias Extend
    // follows HAVING) — correlating on the count column would
    // silently drop every group here.
    val fresh = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE {
        |  ?s ?p ?o .
        |} GROUP BY ?p
        |HAVING(COUNT(*) >= 3 && EXISTS { ?v ?p ?n . })""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fresh == Set(("urn:p/name", 3L), ("urn:p/size", 3L)))
  }

  test("X274 EXISTS in BIND: mints total xsd:boolean flags; composes " +
    "with ! and && ; solutions never multiply") {
    val got = Sparql.select(exprGraph,
      """SELECT ?s ?has ?lone WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) } AS ?has)
        |  BIND(!EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) }
        |       && STRLEN(?name) < 10 AS ?lone)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.length == 3, s"flag join multiplied rows: ${got.length}")
    assert(got.toSet == Set(
      ("urn:x/1", "true", "false"),
      ("urn:x/2", "false", "true"),
      ("urn:x/3", "false", "false")))
    // The minted flag carries the xsd:boolean datatype.
    val minted = Sparql.construct(exprGraph,
      """CONSTRUCT { ?s <urn:p/has> ?has } WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(EXISTS { ?s <urn:p/size> ?n . } AS ?has)
        |}""".stripMargin).collect()
      .map(_.getString(5)).toSet
    assert(minted == Set("http://www.w3.org/2001/XMLSchema#boolean"))
    // X276: IF-condition EXISTS inside a FILTER comparison too.
    val cmp = Sparql.select(exprGraph,
      """SELECT ?s WHERE {
        |  ?s <urn:p/name> ?name .
        |  FILTER(IF(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) },
        |            1, 2) = 1)
        |}""".stripMargin).collect().map(_.getString(0)).toSet
    assert(cmp == Set("urn:x/1"))
    // …and the same shape in BIND (the containsExists gate must
    // descend comparisons exactly like the rewrite walk does).
    val bcmp = Sparql.select(exprGraph,
      """SELECT ?s ?f WHERE {
        |  ?s <urn:p/name> ?name .
        |  BIND(IF(EXISTS { ?s <urn:p/size> ?n . FILTER(?n > 4) },
        |          1, 2) = 1 AS ?f)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(bcmp == Set(("urn:x/1", "true"), ("urn:x/2", "false"),
      ("urn:x/3", "false")))
    // An EXISTS in a VALUE branch of IF rejects loudly (at parse —
    // the value grammar has no EXISTS production; the strVal BoundE
    // reject is the compile-stage backstop).
    intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT ?s WHERE {
          |  ?s <urn:p/name> ?name .
          |  FILTER(IF(?name = "alpha",
          |            EXISTS { ?s <urn:p/size> ?n . }, "n") = "y")
          |}""".stripMargin).collect()
    }
  }

  test("X277 TZ/TIMEZONE: designator and dayTimeDuration forms, " +
    "absent-tz and non-date edges") {
    import spark.implicits._
    val g = Seq(
      ("urn:e/1", "2024-03-07T09:00:00Z"),
      ("urn:e/2", "2024-03-07T09:00:00+00:00"),
      ("urn:e/3", "2024-03-07T09:00:00-08:00"),
      ("urn:e/4", "2024-03-07T09:00:00+05:30"),
      ("urn:e/5", "2024-03-07T09:00:00"),
      ("urn:e/6", "not a date"))
      .map { case (s, o) => (s, "urn:p/at", o) }.toDF("s", "p", "o")
      .withColumn("oIsIri", org.apache.spark.sql.functions.lit(false))
      .withColumn("oLang",
        org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("oDatatype",
        org.apache.spark.sql.functions.lit(null).cast("string"))
    val got = Sparql.select(g,
      """SELECT ?s ?tz ?dur WHERE {
        |  ?s <urn:p/at> ?t .
        |  BIND(TZ(?t) AS ?tz) BIND(TIMEZONE(?t) AS ?dur)
        |}""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("urn:e/1", "Z", "PT0S"),
      ("urn:e/2", "+00:00", "PT0S"),
      ("urn:e/3", "-08:00", "-PT8H"),
      ("urn:e/4", "+05:30", "PT5H30M"),
      ("urn:e/5", "", null),     // TZ = "" per spec; TIMEZONE = error
      ("urn:e/6", null, null)))  // non-date: both type-error
  }

  test("X278 NOW(): pinned query instant — same value everywhere in " +
    "the query, loud when unpinned; nondeterministic builtins reject") {
    spark.conf.set("graft.sparql.now", "2024-03-07T09:05:02Z")
    try {
      val got = Sparql.select(exprGraph,
        """SELECT ?s ?now ?y ?same WHERE {
          |  ?s <urn:p/size> ?n .
          |  BIND(NOW() AS ?now)
          |  BIND(YEAR(NOW()) AS ?y)
          |  BIND(NOW() = NOW() AS ?same)
          |}""".stripMargin).collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set(("2024-03-07T09:05:02Z", "2024", "true")))
      // NOW() mints an xsd:dateTime term; TIMEZONE a dayTimeDuration.
      val dts = Sparql.construct(exprGraph,
        """CONSTRUCT { ?s <urn:p/asof> ?t . ?s <urn:p/off> ?z } WHERE {
          |  ?s <urn:p/size> ?n .
          |  BIND(NOW() AS ?t)
          |  BIND(TIMEZONE(NOW()) AS ?z)
          |}""".stripMargin).collect()
        .map(r => (r.getString(1), r.getString(5))).toSet
      assert(dts == Set(
        ("urn:p/asof", "http://www.w3.org/2001/XMLSchema#dateTime"),
        ("urn:p/off", "http://www.w3.org/2001/XMLSchema#dayTimeDuration")),
        dts.toString)
    } finally spark.conf.unset("graft.sparql.now")
    val e = intercept[Exception] {
      Sparql.select(exprGraph,
        "SELECT ?s WHERE { ?s <urn:p/size> ?n . BIND(NOW() AS ?t) }")
        .collect()
    }
    assert(e.getMessage.contains("graft.sparql.now"), e.getMessage)
    val u = intercept[Exception] {
      Sparql.select(exprGraph,
        "SELECT ?s WHERE { ?s <urn:p/size> ?n . BIND(UUID() AS ?u) }")
    }
    assert(u.getMessage.contains("nondeterministic"), u.getMessage)
  }

  test("SERVICE rejects loudly with the documented single-engine " +
    "contract, not a parse surprise") {
    val e = intercept[Exception] {
      Sparql.select(exprGraph,
        """SELECT ?s WHERE {
          |  ?s <urn:p/name> ?name .
          |  SERVICE <http://example.org/sparql> { ?s ?p ?o . }
          |}""".stripMargin)
    }
    assert(e.getMessage.contains("SERVICE") &&
      e.getMessage.contains("not supported"), e.getMessage)
  }

  test("X273 speculative-parse rollback: an abandoned boolean parse " +
    "leaves no orphan hidden aggregates in the plan") {
    // HAVING((SUM(?n) + 1) * 2 > 4): the '(' tries the boolean grammar
    // first, registers SUM as a hidden agg, fails at '*', backtracks.
    // Without ctx rollback the orphan _hv_ agg stays in the aggregate
    // (wasted work) — with it, exactly TWO aggregate expressions
    // remain (the projected count + the real HAVING sum).
    val df = Sparql.select(exprGraph,
      """SELECT ?p (COUNT(*) AS ?n) WHERE {
        |  ?s ?p ?o .
        |} GROUP BY ?p
        |HAVING((SUM(STRLEN(?o)) + 1) * 2 > 4)""".stripMargin)
    val aggExprs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.length
    }
    assert(aggExprs.nonEmpty && aggExprs.head <= 3,
      s"orphan hidden aggregate in plan: $aggExprs")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("urn:p/name", 3L), ("urn:p/size", 3L)))
  }
}

/** The verbatim MultiAttributeDimension attribute query text
  * (MultiAttributeDimension.java:18-62), kept out of the test body for
  * readability — `\r\n` line ends, tab-aligned VALUES and all.
  */
object SparqlParserSpec {
  val multiAttrQuery: String =
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\r\n" +
      "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\r\n" +
      "PREFIX fdp: <http://schemas.frictionlessdata.io/fiscal-data-package#>\r\n" +
      "PREFIX fcsv: <file://budget.csv#>\r\n" +
      "PREFIX obeu-attribute:   <http://data.openbudgets.eu/ontology/dsd/attribute/> \r\n" +
      "PREFIX obeu-dimension:   <http://data.openbudgets.eu/ontology/dsd/dimension/> \r\n" +
      "PREFIX obeu-measure:     <http://data.openbudgets.eu/ontology/dsd/measure/> \r\n" +
      "PREFIX qb: <http://purl.org/linked-data/cube#>\r\n" +
      "PREFIX datasets: <http://data.openbudgets.eu/datasets/>\r\n" +
      "PREFIX fdprdf: <http://data.openbudgets.eu/fdptordf#>\r\n" +
      "PREFIX schema: <http://schema.org/>\r\n" +
      "PREFIX org: <http://www.w3.org/ns/org#>\r\n" +
      "\r\n" +
      "\r\n" +
      "SELECT *" +
      "WHERE {\r\n" +
      "\r\n" +
      " ?component fdprdf:attributeCount ?attrCount .\r\n" +
      "  FILTER(?attrCount > 1)\r\n" +
      "  \r\n" +
      "  VALUES ( \t?valueType \t\t\t?rdfType \t\t\t?componentProperty ) {\r\n" +
      "    ( \t   \tfdprdf:organization\torg:Organization\tqb:dimension\t)\r\n" +
      "    (\t\tfdprdf:location\t\tschema:Location\t\tqb:attribute\t)\r\n" +
      "    (\t\tfdprdf:unknown\t\tUNDEF\t\t\t\tqb:dimension\t)\r\n" +
      "    (\t\tfdprdf:fact\t\t\tUNDEF\t\t\t\tqb:componentProperty\t)\r\n" +
      "  } \r\n" +
      "  \r\n" +
      "  ?dsd a qb:DataStructureDefinition;\r\n" +
      "         qb:component ?component .\r\n" +
      "  ?component ?componentProperty _dimensionProp_;\r\n" +
      "             fdprdf:attribute ?attribute ;\r\n" +
      "             fdprdf:valueType ?valueType .\r\n" +
      "             \r\n" +
      "  \r\n" +
      "  ?attribute fdprdf:sourceColumn ?sourceColumn ;\r\n" +
      "\t\t\t  fdprdf:sourceFile ?sourceFile;" +
      "\t\t\t  fdprdf:iskey ?iskey;" +
      "             fdprdf:valueProperty ?attributeValueProperty .\r\n" +
      "  FILTER NOT EXISTS {?attribute fdprdf:isHierarchical true .}\r\n" +
      "                        \r\n" +
      "  ?dataset a qb:DataSet;  \r\n" +
      "      \t   qb:structure ?dsd .           \r\n" +
      "  \r\n" +
      "}"
}
