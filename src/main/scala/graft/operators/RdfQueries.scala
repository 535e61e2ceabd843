package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.graphquery.Bgp
import graft.rdf.{DerivedGraph => G, NTriples}

/** RDF/BGP query surface (SURVEY.md §2.3-§2.4 features P2-P4, P9-P12,
  * S2/A4, K2) over the derived graph — every query has a DuckDB oracle
  * that reconstructs the identical triple set in SQL.
  */
object RdfQueries {

  private def withTriples(body: String, views: (String, String)*): String =
    views.map { case (n, sql) => s"$n AS ($sql)" }
      .mkString("WITH ", ", ", s" $body")

  /** The q47/q204 fixture graph: a parent-chain forest over customer
    * (`c_custkey div 2` — dense keys, depth ~log₂N) plus one name
    * literal per customer, in the canonical triple-table layout. */
  private def parentGraph(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val nullStr = lit(null).cast("string")
    val edges = c.filter(col("c_custkey") > 1).select(
      concat(lit("urn:c/"), col("c_custkey")).as("s"),
      lit("urn:p/parent").as("p"),
      concat(lit("urn:c/"), expr("c_custkey div 2")).as("o"),
      lit(true).as("oIsIri"), nullStr.as("oLang"), nullStr.as("oDatatype"))
    val names = c.select(
      concat(lit("urn:c/"), col("c_custkey")).as("s"),
      lit("urn:p/name").as("p"), col("c_name").as("o"),
      lit(false).as("oIsIri"), nullStr.as("oLang"), nullStr.as("oDatatype"))
    edges.unionByName(names)
  }

  /** The q222 fixture: per-customer triples whose numeric literal is
    * integer-valued (`c_custkey % 97`, xsd:integer) — SUM/AVG over it
    * are exact in double under ANY summation order, which is what lets
    * the aggregate surface hash-match a DuckDB replay. */
  private def statGraph(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val nullStr = lit(null).cast("string")
    val cs = concat(lit("urn:c/"), c("c_custkey"))
    c.select(explode(array(
      struct(cs.as("s"), lit("urn:p/nation").as("p"),
        concat(lit("urn:g/nation/"), c("c_nationkey")).as("o"),
        lit(true).as("oIsIri"), nullStr.as("oLang"),
        nullStr.as("oDatatype")),
      struct(cs.as("s"), lit("urn:p/size").as("p"),
        expr("CAST(c_custkey % 97 AS STRING)").as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"),
        lit("http://www.w3.org/2001/XMLSchema#integer").as("oDatatype")),
      struct(cs.as("s"), lit("urn:p/seg").as("p"),
        c("c_mktsegment").as("o"), lit(false).as("oIsIri"),
        nullStr.as("oLang"), nullStr.as("oDatatype")))).as("t"))
      .select("t.*")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // K2: byte-faithful N-Triples rendering — IRIs, @lang, ^^datatype, and
    // literal escaping (quote, backslash, newline, tab) all exercised.
    "q14_ntriples_render" -> { (s, dir) =>
      val r = t(s, dir, "region")
      val notes = r.select(
        concat(lit("urn:g/region/"), col("r_regionkey")).as("s"),
        lit("urn:p/note").as("p"),
        concat(lit("say \""), col("r_name"), lit("\"\nback\\slash\ttab")).as("o"),
        lit(false).as("oIsIri"),
        lit(null).cast("string").as("oLang"),
        lit(null).cast("string").as("oDatatype"))
      G.geo(s, dir).unionByName(notes)
        .select(NTriples.line(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype")).as("line"))
    },

    // P2: LANGMATCHES language filter (DcatAp11ToCkanBatch.java:254).
    "q15_lang_filter" -> { (s, dir) =>
      Bgp.patternLang(G.geo(s, dir), "urn:p/name", "cs", "name_cs")
    },

    // P3: property path inNation/name@en (two-hop join,
    // DcatAp11ToCkanBatch.java:259 DCTERMS.PUBLISHER/FOAF.NAME).
    "q16_property_path" -> { (s, dir) =>
      val all = G.customers(s, dir).unionByName(G.geo(s, dir))
      Bgp.path(all, "urn:p/inNation", "urn:p/name", "nation_name",
        broadcastHop = true, lang2 = Some("en"))
    },

    // P4: inverse path ^inRegion + aggregation
    // (DcatAp11ToCkanBatch.java:372 ^foaf:primaryTopic/dct:source).
    "q17_inverse_path_agg" -> { (s, dir) =>
      val geo = G.geo(s, dir)
      val nations = Bgp.inverse(geo, "urn:p/inRegion", "nat")
      val names = Bgp.patternLang(geo, "urn:p/name", "en", "region_name")
        .withColumnRenamed("s", "_ns")
      nations.join(broadcast(names), col("s") === col("_ns"))
        .groupBy(col("region_name"))
        .agg(count(lit(1)).as("n_nations"))
    },

    // P3+: transitive property path p+ (the SPARQL operator Spark has no
    // built-in for) — distributed pointer-doubling fixpoint over a
    // parent-chain graph derived from customer (dense keys, depth ~log2 N).
    // Oracle: DuckDB recursive CTE.
    "q47_transitive_path" -> { (s, dir) =>
      Bgp.pathPlus(parentGraph(s, dir), "urn:p/parent", "ancestor")
    },

    // q47's closure through the STRING front end (SPARQL 1.1 §9.1
    // PathMod `+`), sequenced with an ordinary hop — the first
    // post-parity path feature an RDF user types (the skos:broader+
    // hierarchy-roll-up shape): ancestors by transitive parent, each
    // ancestor's name joined on. The `+` compiles onto the SAME
    // pointer-doubling fixpoint q47 gates; the oracle extends q47's
    // recursive CTE with the name join.
    "q204_sparql_path_plus" -> { (s, dir) =>
      graft.graphquery.Sparql.select(parentGraph(s, dir),
        """SELECT ?s ?anc ?aname WHERE {
          |  ?s <urn:p/parent>+ ?anc .
          |  ?anc <urn:p/name> ?aname .
          |}""".stripMargin)
    },

    // Path alternation `a/b|c` (SPARQL 1.1 PathAlternative, `/` binding
    // tighter than `|`): customers reach their region through the
    // two-hop nation sequence, nations through the direct edge — the
    // solutions are the BAG union of two pushed-predicate join plans
    // (no closure involved; each alternative stays an ordinary
    // equi-join chain).
    "q205_sparql_alt_path" -> { (s, dir) =>
      val all = G.customers(s, dir).unionByName(G.geo(s, dir))
      graft.graphquery.Sparql.select(all,
        """SELECT ?x ?r WHERE {
          |  ?x <urn:p/inNation>/<urn:p/inRegion>|<urn:p/inRegion> ?r .
          |}""".stripMargin)
    },

    // Group UNION (SPARQL 1.1 §9.1, the most common group operator
    // after OPTIONAL): each branch compiles to its own pushed-predicate
    // plan, branch-disjoint variables pad unbound (null), solutions
    // BAG-union — the q205 alternation device generalized from path
    // alternatives to full group patterns. Oracle: explicit UNION ALL
    // with NULL padding.
    "q219_sparql_union" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?nation ?vip WHERE {
          |  { ?s <urn:p/inNation> ?nation . }
          |  UNION
          |  { ?s <urn:p/vip> ?vip . }
          |}""".stripMargin)
    },

    // MINUS (SPARQL 1.1 §8.3): remove solutions compatible with the
    // right group on their SHARED variables — an anti-join, with the
    // spec's disjoint-domain no-op rule distinguishing it from FILTER
    // NOT EXISTS. Oracle: ANTI JOIN on the vip subjects.
    "q220_sparql_minus" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?name WHERE {
          |  ?s <urn:p/name> ?name .
          |  MINUS { ?s <urn:p/vip> ?v . }
          |}""".stripMargin)
    },

    // Zero-or-one path `p?` (SPARQL 1.1 ZeroOrOnePath): the p edges
    // plus the reflexive pair for every graph term — pathStar's
    // zero-length row without the fixpoint — here constrained by a
    // type hop, so regions reach themselves and nations reach their
    // region. Oracle: UNION of the edge set and the typed self-pairs.
    "q221_sparql_zero_or_one" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.geo(s, dir),
        """SELECT ?x ?r WHERE {
          |  ?x <urn:p/inRegion>? ?r .
          |  ?r a <urn:g/Region> .
          |}""".stripMargin)
    },

    // Solution modifiers + the full aggregate surface (ORDER BY with
    // ASC/DESC, OFFSET/LIMIT, SUM/AVG/MIN/MAX/GROUP_CONCAT/SAMPLE with
    // GROUP BY): per-nation stats over a purpose-built graph whose
    // numeric literal is INTEGER-valued (c_custkey % 97), so SUM/AVG
    // in double are order-independent and hash-exact on both engines.
    // Deterministic choices documented at [[graft.graphquery.Sparql]]:
    // GROUP_CONCAT concatenates in lexical order, SAMPLE is the
    // lexical minimum; the ORDER BY (n DESC, nation ASC) is a TOTAL
    // order, making OFFSET 5 LIMIT 10 engine-independent.
    "q222_sparql_modifiers" -> { (s, dir) =>
      graft.graphquery.Sparql.select(statGraph(s, dir),
        """SELECT ?nation (COUNT(?s) AS ?n) (SUM(?sz) AS ?total_sz)
          |  (AVG(?sz) AS ?avg_sz) (MIN(?seg) AS ?min_seg)
          |  (MAX(?seg) AS ?max_seg)
          |  (GROUP_CONCAT(DISTINCT ?seg; SEPARATOR=",") AS ?segs)
          |  (SAMPLE(?seg) AS ?any_seg)
          |WHERE {
          |  ?s <urn:p/nation> ?nation .
          |  ?s <urn:p/size> ?sz .
          |  ?s <urn:p/seg> ?seg .
          |}
          |GROUP BY ?nation
          |ORDER BY DESC(?n) ?nation
          |OFFSET 5 LIMIT 10""".stripMargin)
    },

    // FILTER expression surface (SPARQL 1.1 §17): boolean connectives
    // with standard precedence, BOUND over an OPTIONAL binding, REGEX
    // (partial match) and STRENDS — one pushed-down boolean column per
    // solution, nothing interpreted per row. Oracle: the same boolean
    // over the left-join form.
    "q223_sparql_filter_funcs" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?name WHERE {
          |  ?s <urn:p/name> ?name .
          |  OPTIONAL { ?s <urn:p/vip> ?vip . }
          |  FILTER((BOUND(?vip) && REGEX(?name, "1[0-9]$"))
          |    || (!BOUND(?vip) && STRENDS(?name, "7")))
          |}""".stripMargin)
    },

    // Positive FILTER EXISTS (left-semi), the LANG(?v) accessor in a
    // plain comparison, and HAVING over an aggregate alias — the three
    // remaining everyday SELECT constructs. HAVING(?cnt > 5) keeps 14
    // of 25 nations at sf0.01 (real variance, not a tautology).
    "q224_sparql_exists_having" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?nat (COUNT(?s) AS ?cnt) WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |  ?s <urn:p/segment> ?seg .
          |  FILTER(LANG(?seg) = "en")
          |  FILTER EXISTS { ?s <urn:p/vip> ?v . }
          |} GROUP BY ?nat HAVING(?cnt > 5)""".stripMargin)
    },

    // isLiteral over a closure-bound endpoint — the oracle-gated form
    // of the r15 closureShape metadata fix: `p?`'s zero-length pairs
    // include every literal term of the graph, and the filter must
    // classify them as literals (the pre-fix code stamped every
    // closure endpoint as an IRI).
    "q225_sparql_is_literal" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.geo(s, dir),
        """SELECT DISTINCT ?y WHERE {
          |  ?x <urn:p/inRegion>? ?y .
          |  FILTER(isLiteral(?y))
          |}""".stripMargin)
    },

    // GROUPED path closure `(p/p)+` (SPARQL 1.1 §9.1 full PathElt
    // grammar): the fixpoint runs over the COMPOSITE two-hop edge set
    // (pathPlusEdges — pointer doubling on e⨝e), so the result is the
    // EVEN-distance ancestors — inexpressible by any ungrouped path.
    // Oracle: recursive CTE over the explicitly composed 2-hop edges.
    "q230_sparql_grouped_path" -> { (s, dir) =>
      graft.graphquery.Sparql.select(parentGraph(s, dir),
        """SELECT ?s ?anc WHERE {
          |  ?s (<urn:p/parent>/<urn:p/parent>)+ ?anc .
          |}""".stripMargin)
    },

    // Negated property set `!(p1|a)` (SPARQL 1.1 §9.1 NPS): one hop
    // over any predicate NOT in the set — a pushed-down NOT-isin on
    // the predicate column; `a` inside the set maps to rdf:type. Over
    // geo this leaves exactly the inRegion edges.
    "q228_sparql_negated_set" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.geo(s, dir),
        """SELECT ?s ?o WHERE { ?s !(<urn:p/name>|a) ?o . }""")
    },

    // BIND value expressions (the SPARQL key-minting idiom): CONCAT
    // over STR(?v) accessors and literals binds a derived column —
    // compiled to one concat projection, no per-row interpretation.
    // (IRI(CONCAT(...)) additionally stamps IRI term metadata —
    // CONSTRUCT-gated in SparqlParserSpec.)
    "q234_sparql_bind_concat" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?n ?key WHERE {
          |  ?s <urn:p/inNation> ?n .
          |  BIND(CONCAT(STR(?s), "|", STR(?n)) AS ?key)
          |}""".stripMargin)
    },

    // X260: the SPARQL value-expression surface — numeric arithmetic
    // (precedence, parens, division) and STRLEN/SUBSTR/REPLACE/UCASE/
    // LCASE/DATATYPE in BIND and FILTER, all compiled to codegen'd
    // builtins over the term columns; try_cast NULL chains implement
    // the spec's type-error drop/unbind rule, so a 100 TB corpus pays
    // one projection, no UDF, no per-row interpreter.
    "q255_sparql_expr_surface" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?name ?len ?tail3 ?head8 ?ckey ?klen ?dt WHERE {
          |  ?s <urn:p/name> ?name .
          |  ?s <urn:p/acctbal> ?bal .
          |  BIND(STRLEN(?name) - 9 AS ?len)
          |  BIND(SUBSTR(?name, STRLEN(?name) - 2) AS ?tail3)
          |  BIND(UCASE(SUBSTR(?name, 1, 8)) AS ?head8)
          |  BIND(REPLACE(?name, "Customer#0*", "c") AS ?ckey)
          |  BIND(STRLEN(REPLACE(?name, "Customer#0*", "c")) * 3 - 1 AS ?klen)
          |  BIND(DATATYPE(?bal) AS ?dt)
          |  FILTER(?bal * 2 >= 1000 && (?bal - 100) / 2 > -4000
          |         && SUBSTR(?name, 17, 1) != "0")
          |}""".stripMargin)
    },

    // X265: the rest of the expression library — IF/COALESCE branches,
    // STRBEFORE/STRAFTER, XPath-rounding numerics (ROUND = floor(x+.5),
    // ties toward +∞ on both engines), IN/NOT IN chained equality, and
    // CONTAINS over computed arguments; still all codegen'd builtins.
    "q257_sparql_expr_library" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?cat ?pfx ?knum ?kbal ?r ?viptag WHERE {
          |  ?s <urn:p/name> ?name .
          |  ?s <urn:p/acctbal> ?bal .
          |  OPTIONAL { ?s <urn:p/vip> ?vip . }
          |  BIND(IF(?bal >= 5000, "high", "low") AS ?cat)
          |  BIND(STRBEFORE(?name, "#") AS ?pfx)
          |  BIND(STRAFTER(?name, "#") AS ?knum)
          |  BIND(FLOOR(?bal / 1000) AS ?kbal)
          |  BIND(ROUND(?bal) AS ?r)
          |  BIND(COALESCE(?vip, "no") AS ?viptag)
          |  FILTER(CEIL(?bal / 1000) <= 10 && ABS(?bal) >= 0
          |         && ?cat IN ("high", "low")
          |         && ?s NOT IN (<urn:g/customer/1>, <urn:g/customer/2>)
          |         && CONTAINS(STRAFTER(?name, "#"), "1"))
          |}""".stripMargin)
    },

    // X266: select expressions `(expr AS ?v)` and aggregates over full
    // VALUE arguments — `SUM(FLOOR(?bal) * 2)`, `COUNT(STRLEN(?vip))`,
    // `MAX(STRAFTER(...))`, `GROUP_CONCAT(SUBSTR(...))` — desugared to
    // hidden pre-aggregation BINDs (the spec's evaluation order), so
    // the plan stays ONE hash aggregate over a projection. SUM keeps
    // INTEGRAL doubles (FLOOR first) so both engines sum exactly —
    // fractional double sums are order-dependent and un-oracle-able.
    "q258_sparql_agg_exprs" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?nat (SUM(FLOOR(?bal) * 2) AS ?dblsum)
          |       (COUNT(STRLEN(?vip)) AS ?vips)
          |       (MAX(STRAFTER(?name, "#")) AS ?maxkey)
          |       (GROUP_CONCAT(SUBSTR(?name, 10); SEPARATOR="|") AS ?keys)
          |WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |  ?s <urn:p/acctbal> ?bal .
          |  ?s <urn:p/name> ?name .
          |  OPTIONAL { ?s <urn:p/vip> ?vip . }
          |} GROUP BY ?nat""".stripMargin)
    },

    // X267: HAVING over aggregate expressions (hidden aggregates in
    // the same hash aggregate) + ORDER BY over a value expression with
    // LIMIT — the deterministic top-k gate: DESC(?tot / 100) is
    // monotone in ?tot (IEEE division by a positive constant), the
    // ?nat tie-break totalizes the order, so the LIMIT 10 SET is
    // engine-independent.
    "q259_sparql_having_order" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?nat (SUM(FLOOR(?bal)) AS ?tot) WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |  ?s <urn:p/acctbal> ?bal .
          |} GROUP BY ?nat
          |HAVING(COUNT(*) >= 10 && SUM(FLOOR(?bal)) > 0)
          |ORDER BY DESC(?tot / 100) ?nat
          |LIMIT 10""".stripMargin)
    },

    // X268: hash functions (lowercase hex on both engines) and
    // STRLANG/STRDT term minting, gated THROUGH the TSV serializer so
    // the minted metadata — not just the lexical form — is compared:
    // one line per customer with a tagged name, a typed balance, and
    // two digest terms.
    "q260_sparql_hash_mint" -> { (s, dir) =>
      val (_, lines) = graft.graphquery.Sparql.selectTsv(
        G.customers(s, dir),
        """SELECT ?t ?d ?h ?h2 WHERE {
          |  ?s <urn:p/name> ?name .
          |  ?s <urn:p/acctbal> ?bal .
          |  BIND(STRLANG(?name, "x-kl") AS ?t)
          |  BIND(STRDT(STR(?bal),
          |       <http://www.w3.org/2001/XMLSchema#decimal>) AS ?d)
          |  BIND(MD5(CONCAT(?name, "|", STR(?bal))) AS ?h)
          |  BIND(SHA256(?name) AS ?h2)
          |}""".stripMargin)
      lines
    },

    // X268: GROUP BY over an expression key — the BANDING idiom
    // (`FLOOR(?bal / 1000)` buckets), grouped on the aliased key and
    // still ONE projection + one hash aggregate after the desugar.
    "q261_sparql_group_expr" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?band (COUNT(*) AS ?n)
          |       (SUM(FLOOR(?bal)) AS ?mass) WHERE {
          |  ?s <urn:p/acctbal> ?bal .
          |} GROUP BY (FLOOR(?bal / 1000) AS ?band)""".stripMargin)
    },

    // X269: EXISTS embedded in a compound FILTER — compiled to a
    // distinct-keyed left-outer flag join (solutions never multiply),
    // disjoined with an ordinary string test; the whole-filter forms
    // keep their semi/anti-join plans.
    "q262_sparql_exists_expr" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?name WHERE {
          |  ?s <urn:p/name> ?name .
          |  FILTER(EXISTS { ?s <urn:p/vip> ?v . }
          |         || STRENDS(?name, "1"))
          |}""".stripMargin)
    },

    // X270: boolean BIND — comparisons, connectives, IN, isNumeric —
    // minting xsd:boolean literals per row (one when-chain projection).
    "q263_sparql_bool_bind" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?rich ?neg ?edge WHERE {
          |  ?s <urn:p/acctbal> ?bal .
          |  BIND(?bal >= 5000 AS ?rich)
          |  BIND(isNumeric(?bal) && ?bal < 0 AS ?neg)
          |  BIND(FLOOR(?bal / 1000) IN (0, 9) AS ?edge)
          |}""".stripMargin)
    },

    // X271: datetime accessors over xsd:date lexical forms — the
    // reporting idiom (year/quarter keys minted from date literals),
    // regex extraction identical in both engines.
    "q264_sparql_datetime" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val nullStr = lit(null).cast("string")
      val dates = o.select(
        concat(lit("urn:ord/"), col("o_orderkey")).as("s"),
        lit("urn:p/odate").as("p"),
        col("o_orderdate").cast("string").as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"),
        lit("http://www.w3.org/2001/XMLSchema#date").as("oDatatype"))
      graft.graphquery.Sparql.select(dates,
        """SELECT ?s ?y ?m (CONCAT(STR(?y), "-Q",
          |                        STR(CEIL(MONTH(?dt) / 3))) AS ?q)
          |WHERE {
          |  ?s <urn:p/odate> ?dt .
          |  BIND(YEAR(?dt) AS ?y)
          |  BIND(MONTH(?dt) AS ?m)
          |  FILTER(YEAR(?dt) >= 1996 && DAY(?dt) <= 15)
          |}""".stripMargin)
    },

    // X272: the trailing VALUES block — parameterizing a FINISHED
    // query (the federation/template idiom): joins the post-
    // aggregation solutions, so the counts are per-group regardless
    // of the parameter list.
    "q265_sparql_post_values" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?nat (COUNT(*) AS ?n) WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |} GROUP BY ?nat
          |VALUES ?nat { <urn:g/nation/1> <urn:g/nation/5>
          |              <urn:g/nation/19> }""".stripMargin)
    },

    // X273: select expressions over GROUP BY keys and aggregate
    // ALIASES, evaluated post-aggregation (§18.2's Extend order) —
    // `UCASE/STRAFTER` transform the group KEY, `FLOOR(?tot / 100)`
    // derives from a previously-aliased aggregate. Still one hash
    // aggregate + one post-agg projection — the desugar splits
    // placement, not the plan count.
    "q266_sparql_select_expr_postagg" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT (CONCAT("NAT:", UCASE(STRAFTER(?nat, "urn:g/"))) AS ?x)
          |       (SUM(FLOOR(?bal)) AS ?tot)
          |       (FLOOR(?tot / 100) AS ?k)
          |       (COUNT(*) AS ?n)
          |WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |  ?s <urn:p/acctbal> ?bal .
          |} GROUP BY ?nat""".stripMargin)
    },

    // X274: EXISTS embedded in a HAVING conjunction — the X269 flag
    // join moved one algebra level up, correlated on the group key
    // the inner pattern shares with the AGGREGATED frame (nations
    // keeping a 9900+ customer).
    "q267_sparql_having_exists" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?nat (COUNT(*) AS ?n) WHERE {
          |  ?s <urn:p/inNation> ?nat .
          |} GROUP BY ?nat
          |HAVING(COUNT(*) >= 5 && EXISTS { ?v <urn:p/inNation> ?nat .
          |                                 ?v <urn:p/acctbal> ?b .
          |                                 FILTER(?b >= 9900) })""".stripMargin)
    },

    // X274: EXISTS in BIND value positions — minting xsd:boolean
    // membership flags per row (the labeling idiom), one flag join per
    // occurrence; the second BIND composes !EXISTS with an ordinary
    // string test.
    "q268_sparql_bind_exists" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?isvip ?loner WHERE {
          |  ?s <urn:p/name> ?name .
          |  BIND(EXISTS { ?s <urn:p/vip> ?v . } AS ?isvip)
          |  BIND(!EXISTS { ?s <urn:p/vip> ?v . }
          |       && STRENDS(?name, "3") AS ?loner)
          |}""".stripMargin)
    },

    // X271 oracle closure: ENCODE_FOR_URI over a BOUNDED fixture —
    // the appended tail exercises space, reserved punctuation, and one
    // multibyte char (UTF-8 byte-wise %-encoding); DuckDB replays it
    // as a finite replace() chain because the fixture controls the
    // charset (names are [A-Za-z0-9#] by construction). Multibyte
    // hand-vectors beyond the fixture stay sbt-gated.
    "q269_sparql_encode_uri" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?enc WHERE {
          |  ?s <urn:p/name> ?name .
          |  BIND(ENCODE_FOR_URI(CONCAT(?name, " a/b?c#d[e]é")) AS ?enc)
          |}""".stripMargin)
    },

    // X277: timezone accessors — TZ (the designator, "" when absent)
    // and TIMEZONE (the xsd:dayTimeDuration form, absent = type
    // error), over dateTime terms minted with four deterministic
    // offsets; regex chains identical in DuckDB.
    "q270_sparql_tz" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val nullStr = lit(null).cast("string")
      val tzSfx = expr(
        """CASE CAST(o_orderkey % 4 AS INT)
          |  WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
          |  WHEN 2 THEN '-08:00' ELSE '' END""".stripMargin)
      val dates = o.select(
        concat(lit("urn:ord/"), col("o_orderkey")).as("s"),
        lit("urn:p/at").as("p"),
        concat(col("o_orderdate").cast("string"), lit("T12:00:00"),
          tzSfx).as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"),
        lit("http://www.w3.org/2001/XMLSchema#dateTime").as("oDatatype"))
      graft.graphquery.Sparql.select(dates,
        """SELECT ?s ?tz ?dur WHERE {
          |  ?s <urn:p/at> ?t .
          |  BIND(TZ(?t) AS ?tz)
          |  BIND(TIMEZONE(?t) AS ?dur)
          |}""".stripMargin)
    },

    // X278: NOW() under the pinned query instant — one instant per
    // query by §17.4.5.1 (which instant is implementation-defined;
    // this engine makes it an INPUT via the graft.sparql.now conf, so
    // a backfill re-run reproduces bit-identical output). Composes
    // with the datetime accessors and lexical dateTime comparison.
    "q271_sparql_now_pinned" -> { (s, dir) =>
      s.conf.set("graft.sparql.now", "1996-06-30T12:30:00Z")
      val o = t(s, dir, "orders")
      val nullStr = lit(null).cast("string")
      val dates = o.select(
        concat(lit("urn:ord/"), col("o_orderkey")).as("s"),
        lit("urn:p/odate").as("p"),
        col("o_orderdate").cast("string").as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"),
        lit("http://www.w3.org/2001/XMLSchema#date").as("oDatatype"))
      graft.graphquery.Sparql.select(dates,
        """SELECT ?s ?d (YEAR(NOW()) AS ?asof_y) (MONTH(NOW()) AS ?asof_m)
          |WHERE {
          |  ?s <urn:p/odate> ?d .
          |  FILTER(?d < NOW() && YEAR(?d) = YEAR(NOW()))
          |}""".stripMargin)
    },

    // P9: VALUES with UNDEF — null-pattern split join
    // (MultiAttributeDimension.java:38-43).
    "q18_values_undef" -> { (s, dir) =>
      val c = G.customers(s, dir)
      val left = Bgp.patternLang(c, "urn:p/segment", "en", "segment")
        .join(Bgp.pattern(c, "urn:p/inNation", "nation")
          .withColumnRenamed("s", "_ns"), col("s") === col("_ns"))
        .select(col("s"), col("segment"), col("nation"))
      Bgp.values(s, left, Seq("segment", "nation"), Seq(
        Seq("BUILDING", "urn:g/nation/1"),
        Seq("MACHINERY", null),
        Seq(null, "urn:g/nation/3")))
        .withColumnRenamed("_v_segment", "matched_segment")
        .withColumnRenamed("_v_nation", "matched_nation")
    },

    // P8+P10: OPTIONAL with BIND(true AS flag) on the matched branch
    // (FdpMeasure.java:49-56).
    "q19_optional_bind" -> { (s, dir) =>
      val c = G.customers(s, dir)
      Bgp.optional(Bgp.pattern(c, "urn:p/name", "name"), c, "urn:p/vip",
        "vip", bindFlag = Some("has_vip"))
    },

    // S2/A4: N+1 scalar lookups inverted into ONE wide aggregation pass
    // with "" default (DcatAp11ToCkanBatch.java:627-641) — the central
    // set-based rearchitecture of the reference's per-dataset loops.
    "q20_scalar_wide_default" -> { (s, dir) =>
      Bgp.scalarOf(G.customers(s, dir), Map(
        "urn:p/name" -> "name",
        "urn:p/segment" -> "segment",
        "urn:p/vip" -> "vip"))
    },

    // P12: named-graph scoping — graph membership as a pushable column.
    "q21_named_graph_counts" -> { (s, dir) =>
      Bgp.dataset("geo" -> G.geo(s, dir), "cust" -> G.customers(s, dir))
        .groupBy(col("g"), col("p"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- SPARQL STRING front end (graft.graphquery.Sparql): the same
    // semantics as the combinator-built queries above, but entered as the
    // strings a LinkedPipes pipeline actually holds. Each is gated under
    // an existing combinator oracle (or an equivalent new one), so a
    // parser bug cannot hide: parsed plan and hand-built plan must both
    // hash-match the same DuckDB SQL.

    // q15's LANGMATCHES filter, parsed (DcatAp11ToCkanBatch.java:254 shape).
    "q109_sparql_lang_filter" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.geo(s, dir),
        """SELECT ?s ?name_cs WHERE {
          |  ?s <urn:p/name> ?name_cs .
          |  FILTER(LANGMATCHES(LANG(?name_cs), "cs"))
          |}""".stripMargin)
    },

    // q19's OPTIONAL + BIND(true AS flag), parsed (FdpMeasure.java:55-56).
    "q110_sparql_optional_bind" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
        """SELECT ?s ?name ?vip ?has_vip WHERE {
          |  ?s <urn:p/name> ?name .
          |  OPTIONAL { ?s <urn:p/vip> ?vip . BIND(true AS ?has_vip) }
          |}""".stripMargin)
    },

    // VALUES with UNDEF over bound variables, parsed
    // (MultiAttributeDimension.java:38-43 shape): each solution joins
    // every VALUES row its non-UNDEF cells match, so a row matching two
    // VALUES rows appears twice — the oracle unions the three branches.
    "q111_sparql_values_undef" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.customers(s, dir),
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
    },

    // q17's inverse path + GROUP BY/COUNT, parsed
    // (DcatAp11ToCkanBatch.java:372 ^foaf:primaryTopic shape).
    "q112_sparql_inverse_agg" -> { (s, dir) =>
      graft.graphquery.Sparql.select(G.geo(s, dir),
        """SELECT ?region_name (COUNT(?nat) AS ?n_nations) WHERE {
          |  ?r ^<urn:p/inRegion> ?nat .
          |  ?r <urn:p/name> ?region_name .
          |  FILTER(LANGMATCHES(LANG(?region_name), "en"))
          |} GROUP BY ?region_name""".stripMargin)
    },

    // q16's sequence path, parsed (DCTERMS.PUBLISHER/FOAF.NAME shape,
    // DcatAp11ToCkanBatch.java:259).
    "q113_sparql_seq_path" -> { (s, dir) =>
      graft.graphquery.Sparql.select(
        G.customers(s, dir).unionByName(G.geo(s, dir)),
        """SELECT ?s ?nation_name WHERE {
          |  ?s <urn:p/inNation>/<urn:p/name> ?nation_name .
          |  FILTER(LANGMATCHES(LANG(?nation_name), "en"))
          |}""".stripMargin)
    },

    // SPARQL CONSTRUCT, parsed from a string (the emission-side twin of
    // the SELECT front end — the reference does this in Java,
    // t-fdpToRdf Mapper.java:97-111): the WHERE solutions instantiate a
    // three-triple template into a canonical triples DF, rendered with
    // the same byte-faithful N-Triples device q14 gates. Exercises all
    // term-metadata paths at once — the constructed graph keeps the
    // matched name's language tag (@en vs @en-US), object-IRI-ness for
    // ?r, the `a` keyword, a constant-IRI object, and the
    // OPTIONAL-unbound drop rule (regions have no inRegion, so their
    // `within` triple vanishes while label/type survive) — plus RDF's
    // set semantics (the template's type triple would otherwise emit
    // once per matched name).
    "q190_sparql_construct" -> { (s, dir) =>
      val g = graft.graphquery.Sparql.construct(G.geo(s, dir),
        """CONSTRUCT {
          |  ?x <urn:p/label> ?name .
          |  ?x a <urn:t/Place> .
          |  ?x <urn:p/within> ?r .
          |} WHERE {
          |  ?x <urn:p/name> ?name .
          |  FILTER(LANGMATCHES(LANG(?name), "en"))
          |  OPTIONAL { ?x <urn:p/inRegion> ?r }
          |}""".stripMargin)
      g.select(NTriples.line(col("s"), col("p"), col("o"),
        col("oIsIri"), col("oLang"), col("oDatatype")).as("line"))
    },

    // CONSTRUCT over a DATASET: GRAPH-scoped WHERE patterns join
    // across two named graphs, the template mints a NEW predicate
    // linking their endpoints, and the constructed graph renders
    // through the proven q14/q190 N-Triples path — the
    // extract-across-graphs-then-emit shape of a catalog pipeline.
    "q240_sparql_construct_dataset" -> { (s, dir) =>
      val ds = Bgp.dataset(
        "urn:graph/geo" -> G.geo(s, dir),
        "urn:graph/cust" -> G.customers(s, dir))
      val g = graft.graphquery.Sparql.construct(ds,
        """CONSTRUCT { ?s <urn:p/homeRegion> ?reg . }
          |WHERE {
          |  GRAPH <urn:graph/cust> { ?s <urn:p/inNation> ?n . }
          |  GRAPH <urn:graph/geo> { ?n <urn:p/inRegion> ?reg . }
          |}""".stripMargin)
      g.select(NTriples.line(col("s"), col("p"), col("o"),
        col("oIsIri"), col("oLang"), col("oDatatype")).as("line"))
    },

    // N-Quads sink (RDF 1.1) — the DATASET twin of q14's N-Triples
    // renderer: named-graph rows carry the graph label before the
    // terminator, default-graph (null g) rows degrade to plain
    // N-Triples statements per the spec. Exercises IRIs, @lang,
    // ^^datatype and both graph slots; same codegen'd-builtins
    // renderer, no UDF.
    "q239_nquads_render" -> { (s, dir) =>
      val ds = G.geo(s, dir).withColumn("g", lit(null).cast("string"))
        .unionByName(Bgp.dataset("urn:graph/cust" -> G.customers(s, dir)))
      ds.select(NTriples.quadLine(col("s"), col("p"), col("o"),
        col("oIsIri"), col("oLang"), col("oDatatype"), col("g")).as("line"))
    },

    // GRAPH / FROM / FROM NAMED (SPARQL 1.1 §13) over a two-graph
    // dataset: FROM <geo> builds the default graph (the bare name
    // pattern), FROM NAMED restricts what GRAPH sees, `GRAPH ?g`
    // binds the graph name as a variable (inNation lives only in the
    // cust graph, so ?g proves the binding), and `GRAPH <geo>` scopes
    // a second pattern to one named graph — with the ?nation join
    // crossing graphs. Graph membership stays a pushed `g` filter the
    // whole way (partition-prunable when the store partitions by g).
    "q237_sparql_graph_dataset" -> { (s, dir) =>
      val ds = Bgp.dataset(
        "urn:graph/geo" -> G.geo(s, dir),
        "urn:graph/cust" -> G.customers(s, dir))
      graft.graphquery.Sparql.select(ds,
        """SELECT ?g ?s ?nation ?nname ?reg
          |FROM <urn:graph/geo>
          |FROM NAMED <urn:graph/cust>
          |FROM NAMED <urn:graph/geo>
          |WHERE {
          |  ?nation <urn:p/name> ?nname .
          |  FILTER(LANGMATCHES(LANG(?nname), "en"))
          |  GRAPH ?g { ?s <urn:p/inNation> ?nation . }
          |  GRAPH <urn:graph/geo> { ?nation <urn:p/inRegion> ?reg . }
          |}""".stripMargin)
    },

    // Per-graph `p+` closure inside GRAPH ?g — the one SPARQL construct
    // r16 refused. Two named graphs hold DIFFERENT parent forests over
    // the SAME customer nodes (div 2 vs div 3), so a fixpoint that
    // hopped graph boundaries would mint ancestor pairs neither forest
    // contains on its own. The g column rides the pointer-doubling
    // join keys end-to-end ([[Bgp.pathPlusEdges]] keyCols): one keyed
    // self-join per round closes ALL graphs at once — graphs are never
    // enumerated driver-side, which is what makes `GRAPH ?g { p+ }`
    // viable over a million named graphs at 100 TB. Oracle: one
    // recursive CTE per graph, unioned under its graph label.
    "q241_sparql_graph_closure" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val nullStr = lit(null).cast("string")
      def forest(div: Int) = c.filter(col("c_custkey") >= div)
        .select(
          concat(lit("urn:c/"), col("c_custkey")).as("s"),
          lit("urn:p/parent").as("p"),
          concat(lit("urn:c/"), expr(s"c_custkey div $div")).as("o"),
          lit(true).as("oIsIri"), nullStr.as("oLang"),
          nullStr.as("oDatatype"))
      val ds = Bgp.dataset(
        "urn:graph/half" -> forest(2),
        "urn:graph/third" -> forest(3))
      graft.graphquery.Sparql.select(ds,
        """SELECT ?g ?s ?anc WHERE {
          |  GRAPH ?g { ?s <urn:p/parent>+ ?anc . }
          |}""".stripMargin)
    },

    // The §3.1.3 MODIFY form — DELETE {tpl} INSERT {tpl} WHERE {pat}:
    // every nation-5 customer is "rehomed" in one statement — the old
    // inNation edge deletes, a new edge plus an audit literal insert,
    // both templates instantiated from the SAME pre-update solutions.
    // Oracle: the rewrite as set algebra (cust minus the matched
    // edges, plus two minted quads per matched customer).
    "q244_sparql_modify" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q244_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true) // updates mutate: rebuild fresh per run
      val store = s"$root/quads"
      Bgp.dataset(
        "urn:graph/cust" -> G.customers(s, dir),
        "urn:graph/geo" -> G.geo(s, dir))
        .write.parquet(store)
      graft.graphquery.Sparql.update(s, store,
        """DELETE { GRAPH <urn:graph/cust> {
          |  ?s <urn:p/inNation> <urn:g/nation/5> . } }
          |INSERT { GRAPH <urn:graph/cust> {
          |  ?s <urn:p/inNation> <urn:g/nation/0> .
          |  ?s <urn:p/rehomed> "true" . } }
          |WHERE { GRAPH <urn:graph/cust> {
          |  ?s <urn:p/inNation> <urn:g/nation/5> . } }""".stripMargin)
      graft.graphquery.Sparql.readQuadStore(s, store)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    },

    // Variable DESCRIBE over a dataset (SPARQL 1.1 §16.4.3 + §13):
    // the WHERE binds ?n to one customer's nation inside the cust
    // graph; the description spans BOTH named graphs — the nation's
    // outbound geo triples AND every inbound inNation edge — each
    // quad under the graph that asserts it, rendered through the q239
    // N-Quads path. The resource set stays distributed (two
    // semi-joins); the oracle replays it as a disjunctive join.
    "q243_sparql_describe" -> { (s, dir) =>
      val ds = Bgp.dataset(
        "urn:graph/geo" -> G.geo(s, dir),
        "urn:graph/cust" -> G.customers(s, dir))
      graft.graphquery.Sparql.describe(ds,
        """DESCRIBE ?n
          |FROM NAMED <urn:graph/geo> FROM NAMED <urn:graph/cust>
          |WHERE {
          |  GRAPH <urn:graph/cust> {
          |    <urn:g/customer/7> <urn:p/inNation> ?n .
          |  }
          |}""".stripMargin)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    },

    // X246 — the N-Quads SOURCE, gated as a full render -> write ->
    // parse round trip through a real text file: the derived graphs
    // (IRI objects, @lang and ^^typed literals, named + default
    // graphs) plus q14's escape-torture notes (quote, backslash,
    // newline, tab) render via quadLine, land on disk as N-Quads,
    // and come back through the splittable line reader. The oracle
    // replays the EXPECTED quads directly from parquet — equality
    // proves parse ∘ render = id on every term kind the store can
    // hold. Line-oriented format = zero cross-line state = the one
    // RDF serialization that scans at 100 TB.
    "q245_nquads_source" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q245_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val r = t(s, dir, "region")
      val nullStr = lit(null).cast("string")
      val notes = r.select(
        lit("urn:graph/notes").as("g"),
        concat(lit("urn:g/region/"), col("r_regionkey")).as("s"),
        lit("urn:p/note").as("p"),
        concat(lit("say \""), col("r_name"), lit("\"\nback\\slash\ttab")).as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"), nullStr.as("oDatatype"))
      val quads = G.geo(s, dir).withColumn("g", nullStr)
        .unionByName(G.customers(s, dir).withColumn("g", lit("urn:graph/cust")))
        .select("g", "s", "p", "o", "oIsIri", "oLang", "oDatatype")
        .unionByName(notes)
      quads.select(NTriples.quadLine(col("s"), col("p"), col("o"),
        col("oIsIri"), col("oLang"), col("oDatatype"), col("g")).as("value"))
        .write.text(s"$root/dump")
      NTriples.readQuads(s, s"$root/dump")
    },

    // X256 — the W3C SPARQL Results TSV serializer over a real SELECT:
    // geo's mixed term kinds (IRIs, @lang + plain literals) plus q14's
    // escape-torture notes stream through the codegen'd term renderer;
    // the oracle rebuilds every line from the same objectTermSql
    // mirror, so term syntax AND the escape chain are gated
    // end-to-end. (CSV/JSON variants are exact-string sbt-gated.)
    "q251_sparql_tsv" -> { (s, dir) =>
      val r = t(s, dir, "region")
      val nullStr = lit(null).cast("string")
      val notes = r.select(
        concat(lit("urn:g/region/"), col("r_regionkey")).as("s"),
        lit("urn:p/note").as("p"),
        concat(lit("say \""), col("r_name"), lit("\"\nback\\slash\ttab")).as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"), nullStr.as("oDatatype"))
      val (header, lines) = graft.graphquery.Sparql.selectTsv(
        G.geo(s, dir).unionByName(notes),
        "SELECT ?s ?o WHERE { ?s ?p ?o . }")
      require(header == "?s\t?o", s"unexpected TSV header: $header")
      lines
    },

    // X257 — the Turtle SINK: geo plus q14's escape-torture notes
    // render as canonical subject blocks (sorted `;`/`,` lists, `a`
    // shorthand, p:-prefix compaction where PN_LOCAL-safe, N-Triples
    // escapes in literal bodies). The oracle rebuilds every block with
    // the same string algebra — two ordered string_aggs — so the
    // grouping, ordering, compaction, and escape chain are all gated.
    "q253_turtle_render" -> { (s, dir) =>
      val r = t(s, dir, "region")
      val nullStr = lit(null).cast("string")
      val notes = r.select(
        concat(lit("urn:g/region/"), col("r_regionkey")).as("s"),
        lit("urn:p/note").as("p"),
        concat(lit("say \""), col("r_name"), lit("\"\nback\\slash\ttab")).as("o"),
        lit(false).as("oIsIri"), nullStr.as("oLang"), nullStr.as("oDatatype"))
      val (header, blocks) = graft.rdf.Turtle.render(
        G.geo(s, dir).unionByName(notes), Seq("p" -> "urn:p/"))
      require(header == "@prefix p: <urn:p/> .",
        s"unexpected Turtle header: $header")
      blocks
    },

    // X261 — the TriG SOURCE, gated as a round trip through its own
    // sink (X258): region-derived quads render to canonical TriG
    // blocks, assemble into a document (driver-side — the region dim
    // is bounded, like every fixture write here), and readManyTrig
    // must hand back the IDENTICAL quad set — graph labels from the
    // document's own blocks, default graph as null — vs a direct
    // DuckDB quad replay. Completes the source/sink symmetry:
    // N-Triples ✓✓, N-Quads ✓✓, Turtle ✓✓, TriG ✓✓.
    "q256_trig_roundtrip" -> { (s, dir) =>
      val root = java.nio.file.Paths.get(
        s"/tmp/graft_q256_${math.abs(dir.hashCode)}")
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      java.nio.file.Files.createDirectories(root.resolve("docs"))
      val r = t(s, dir, "region")
      val nullStr = lit(null).cast("string")
      val gs = concat(lit("urn:d/"), col("r_regionkey"))
      val ss = concat(lit("urn:g/region/"), col("r_regionkey"))
      val quads = r.select(nullStr.as("g"), ss.as("s"),
          lit("urn:p/name").as("p"), col("r_name").as("o"),
          lit(false).as("oIsIri"), lit("en").as("oLang"),
          nullStr.as("oDatatype"))
        .unionByName(r.select(gs.as("g"), ss.as("s"),
          lit("urn:p/order").as("p"),
          col("r_regionkey").cast("string").as("o"),
          lit(false).as("oIsIri"), nullStr.as("oLang"),
          lit("http://www.w3.org/2001/XMLSchema#integer").as("oDatatype")))
        .unionByName(r.select(gs.as("g"), ss.as("s"),
          lit("urn:p/world").as("p"), lit("urn:w/all").as("o"),
          lit(true).as("oIsIri"), nullStr.as("oLang"),
          nullStr.as("oDatatype")))
      val (header, blocks) = graft.rdf.Turtle.renderTrig(quads,
        Seq("p" -> "urn:p/"))
      val collected = blocks.collect()
      val sb = new StringBuilder(header + "\n")
      collected.filter(_.isNullAt(0))
        .foreach(b => sb.append(b.getString(1)).append("\n"))
      collected.filterNot(_.isNullAt(0)).groupBy(_.getString(0)).toSeq
        .sortBy(_._1).foreach { case (g, bs) =>
          sb.append(s"<$g> {\n")
          bs.foreach(b => sb.append(b.getString(1)).append("\n"))
          sb.append("}\n")
        }
      java.nio.file.Files.write(root.resolve("docs/world.trig"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.rdf.Turtle.readManyTrig(s, s"$root/docs")
    },

    // X250∘X237 composed — the HARVEST pipeline a catalog aggregator
    // actually runs: many small Turtle descriptors parse one-task-per-
    // document into per-file named graphs (X250), and the SPARQL
    // dataset front end queries straight over them — GRAPH ?g binds
    // each descriptor's provenance with no glue code between source
    // and query. Oracle: the region replay with the file-name graphs.
    "q254_turtle_harvest" -> { (s, dir) =>
      val root = java.nio.file.Paths.get(
        s"/tmp/graft_q254_${math.abs(dir.hashCode)}")
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      java.nio.file.Files.createDirectories(root.resolve("docs"))
      t(s, dir, "region").select("r_regionkey", "r_name").collect()
        .foreach { r =>
          val k = r.get(0).toString
          java.nio.file.Files.write(
            root.resolve(s"docs/region_$k.ttl"),
            s"""@prefix p: <urn:p/> .
               |<urn:g/region/$k> p:name "${r.getString(1)}"@en ;
               |    p:order "$k"^^<http://www.w3.org/2001/XMLSchema#integer> .
               |""".stripMargin.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.graphquery.Sparql.select(
        graft.rdf.Turtle.readMany(s, s"$root/docs"),
        """SELECT ?g ?s ?name ?ord WHERE {
          |  GRAPH ?g { ?s <urn:p/name> ?name .
          |             ?s <urn:p/order> ?ord . }
          |}""".stripMargin)
    },

    // X250 — the distributed MANY-DOCUMENT Turtle source: one .ttl
    // descriptor per region (prefixes, `;` continuation, @lang +
    // ^^typed literals, an anonymous blank node) written to disk,
    // parsed one-task-per-document, each doc landing in its own named
    // graph with file-scoped skolemized bnodes. The catalog-harvest
    // shape: thousands of small descriptors parallelize by FILE
    // (Turtle's grammar is whole-document — the line-splittable path
    // is X246's N-Quads). The region dim is driver-collected to write
    // the fixture docs — bounded by design, like every dim edge here.
    "q249_turtle_many" -> { (s, dir) =>
      val root = java.nio.file.Paths.get(
        s"/tmp/graft_q249_${math.abs(dir.hashCode)}")
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      java.nio.file.Files.createDirectories(root.resolve("docs"))
      t(s, dir, "region").select("r_regionkey", "r_name").collect()
        .foreach { r =>
          val k = r.get(0).toString
          java.nio.file.Files.write(
            root.resolve(s"docs/region_$k.ttl"),
            s"""@prefix p: <urn:p/> .
               |<urn:g/region/$k> p:name "${r.getString(1)}"@en ;
               |    p:order "$k"^^<http://www.w3.org/2001/XMLSchema#integer> .
               |[] p:inDoc <urn:g/region/$k> .
               |""".stripMargin.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.rdf.Turtle.readMany(s, s"$root/docs")
    },

    // X248+X247 composed — q246's LOAD/ADD/MOVE/DROP sequence through
    // the DELTA path: the graph-management ops fold as O(1) cover
    // tombstones (never store-sized deltas), a mid-query compact
    // exercises the graph-op fold into the base, and the served state
    // must equal the administrative path's — q246's own oracle.
    "q252_graph_mgmt_delta" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q252_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val store = s"$root/quads"
      Bgp.dataset(
        "urn:graph/cust" -> G.customers(s, dir),
        "urn:graph/geo" -> G.geo(s, dir))
        .write.parquet(s"$store/base")
      val r = t(s, dir, "region")
      r.select(NTriples.line(
        concat(lit("urn:g/region/"), col("r_regionkey")),
        lit("urn:p/note"), col("r_name"), lit(false),
        lit(null).cast("string"), lit(null).cast("string")).as("value"))
        .write.text(s"$root/dump")
      graft.graphquery.DeltaStore.update(s, store,
        s"""LOAD <file:$root/dump> INTO GRAPH <urn:graph/loaded> ;
           |ADD GRAPH <urn:graph/loaded> TO DEFAULT ;
           |MOVE GRAPH <urn:graph/geo> TO GRAPH <urn:graph/geo2> ;
           |DROP GRAPH <urn:graph/loaded>""".stripMargin)
      graft.graphquery.DeltaStore.compact(s, store)
      graft.graphquery.DeltaStore.serve(s, store)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    },

    // X248 — the write-heavy DELTA-STAGED update path: the exact q242
    // op sequence (INSERT DATA / DELETE DATA / DELETE WHERE) lands as
    // O(statement)-sized delta shards over a pre-existing base (never
    // a store rewrite), gets compacted mid-query (fold into base +
    // drop deltas), and serves the SAME final state the administrative
    // path produces — so this reuses q242's set-algebra oracle
    // verbatim. At 100 TB this is the difference between a
    // one-statement patch costing O(statement) and costing a full
    // store rewrite.
    "q247_sparql_update_delta" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q247_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val store = s"$root/quads"
      Bgp.dataset(
        "urn:graph/cust" -> G.customers(s, dir),
        "urn:graph/geo" -> G.geo(s, dir))
        .write.parquet(s"$store/base")
      graft.graphquery.DeltaStore.update(s, store,
        """INSERT DATA {
          |  <urn:i/audit> <urn:p/status> "patched"@en .
          |  GRAPH <urn:graph/cust> {
          |    <urn:i/audit> <urn:p/passes> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
          |  }
          |} ;
          |DELETE DATA {
          |  GRAPH <urn:graph/geo> {
          |    <urn:g/nation/3> <urn:p/inRegion> <urn:g/region/1> .
          |  }
          |} ;
          |DELETE WHERE {
          |  GRAPH <urn:graph/cust> {
          |    ?s <urn:p/inNation> <urn:g/nation/7> .
          |    ?s ?p ?o .
          |  }
          |}""".stripMargin)
      graft.graphquery.DeltaStore.compact(s, store)
      graft.graphquery.DeltaStore.serve(s, store)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    },

    // X247 — SPARQL 1.1 Update §3.2 graph management, end-to-end: a
    // derived N-Triples document (rendered by the proven q14 sink
    // path) LOADs INTO a named graph through the X246 distributed
    // source, ADD merges it into the default graph, MOVE rehomes the
    // geo graph wholesale, and DROP removes the staging graph — the
    // default-graph copy made by ADD survives, proving ADD copies
    // rather than aliases. Final state renders through the q239
    // N-Quads path; the oracle replays the whole sequence as set
    // algebra.
    "q246_sparql_graph_mgmt" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q246_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val store = s"$root/quads"
      Bgp.dataset(
        "urn:graph/cust" -> G.customers(s, dir),
        "urn:graph/geo" -> G.geo(s, dir))
        .write.parquet(store)
      val r = t(s, dir, "region")
      r.select(NTriples.line(
        concat(lit("urn:g/region/"), col("r_regionkey")),
        lit("urn:p/note"), col("r_name"), lit(false),
        lit(null).cast("string"), lit(null).cast("string")).as("value"))
        .write.text(s"$root/dump")
      graft.graphquery.Sparql.update(s, store,
        s"""LOAD <file:$root/dump> INTO GRAPH <urn:graph/loaded> ;
           |ADD GRAPH <urn:graph/loaded> TO DEFAULT ;
           |MOVE GRAPH <urn:graph/geo> TO GRAPH <urn:graph/geo2> ;
           |DROP GRAPH <urn:graph/loaded>""".stripMargin)
      graft.graphquery.Sparql.readQuadStore(s, store)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    },

    // SPARQL UPDATE (minimal §3.1 subset — beyond-parity: the
    // reference never mutates a store): a quad store materializes
    // fresh, then a `;`-sequence runs INSERT DATA (default + named
    // graph, @lang + ^^typed literals), DELETE DATA (one ground quad),
    // and DELETE WHERE (the pattern is its own template — a two-step
    // within-GRAPH join erasing every triple of nation-7 customers).
    // The request commits once through the overwriteAtomic swap (one
    // complete copy on disk at every instant); the final store renders
    // through the proven q239 N-Quads path. Oracle: DuckDB replays the three
    // ops as set algebra over the same derived graphs.
    "q242_sparql_update" -> { (s, dir) =>
      val root = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_q242_${math.abs(dir.hashCode)}")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true) // updates mutate: rebuild fresh per run
      val store = s"$root/quads"
      Bgp.dataset(
        "urn:graph/cust" -> G.customers(s, dir),
        "urn:graph/geo" -> G.geo(s, dir))
        .write.parquet(store)
      graft.graphquery.Sparql.update(s, store,
        """INSERT DATA {
          |  <urn:i/audit> <urn:p/status> "patched"@en .
          |  GRAPH <urn:graph/cust> {
          |    <urn:i/audit> <urn:p/passes> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
          |  }
          |} ;
          |DELETE DATA {
          |  GRAPH <urn:graph/geo> {
          |    <urn:g/nation/3> <urn:p/inRegion> <urn:g/region/1> .
          |  }
          |} ;
          |DELETE WHERE {
          |  GRAPH <urn:graph/cust> {
          |    ?s <urn:p/inNation> <urn:g/nation/7> .
          |    ?s ?p ?o .
          |  }
          |}""".stripMargin)
      graft.graphquery.Sparql.readQuadStore(s, store)
        .select(NTriples.quadLine(col("s"), col("p"), col("o"),
          col("oIsIri"), col("oLang"), col("oDatatype"), col("g"))
          .as("line"))
    }
  )

  val oracles: Map[String, String] = Map(
    // q245: the reader's output must equal the quads that were
    // rendered — replayed here straight from parquet, never touching
    // the text file (the file IS the Spark side's render+parse path).
    "q245_nquads_source" -> withTriples(
      """SELECT CAST(NULL AS VARCHAR) AS g, s, p, o, oIsIri, oLang,
        |       oDatatype FROM geo
        |UNION ALL
        |SELECT 'urn:graph/cust', s, p, o, oIsIri, oLang, oDatatype
        |FROM cust
        |UNION ALL
        |SELECT 'urn:graph/notes', 'urn:g/region/' || r_regionkey,
        |       'urn:p/note',
        |       'say "' || r_name || '"' || chr(10) || 'back\slash' ||
        |         chr(9) || 'tab',
        |       false, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM region""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // q256: the TriG round trip's quad set replayed directly — the
    // Spark side must reproduce exactly these rows AFTER passing
    // through its own sink text and parser.
    "q256_trig_roundtrip" ->
      """SELECT CAST(NULL AS VARCHAR) AS g,
        |       'urn:g/region/' || r_regionkey AS s,
        |       'urn:p/name' AS p, r_name AS o, false AS oIsIri,
        |       'en' AS oLang, CAST(NULL AS VARCHAR) AS oDatatype
        |FROM region
        |UNION ALL
        |SELECT 'urn:d/' || r_regionkey, 'urn:g/region/' || r_regionkey,
        |       'urn:p/order', CAST(r_regionkey AS VARCHAR), false,
        |       CAST(NULL AS VARCHAR),
        |       'http://www.w3.org/2001/XMLSchema#integer'
        |FROM region
        |UNION ALL
        |SELECT 'urn:d/' || r_regionkey, 'urn:g/region/' || r_regionkey,
        |       'urn:p/world', 'urn:w/all', true, CAST(NULL AS VARCHAR),
        |       CAST(NULL AS VARCHAR)
        |FROM region""".stripMargin,
    // q253: the Turtle sink replayed as string algebra — subjects stay
    // <urn:g/…> (locals carry '/', not PN_LOCAL-safe), predicates
    // compress to p:, object terms ride the shared objectTermSql
    // mirror, and the two ordered string_aggs replay the sorted
    // `,`/`;` lists.
    "q253_turtle_render" -> withTriples(
      "SELECT st || ' ' || body || ' .' AS block FROM bl",
      "geo" -> G.sql.geo,
      "r" ->
        s"""SELECT DISTINCT '<' || s || '>' AS st,
           |  CASE WHEN p = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
           |         THEN 'a'
           |       WHEN p LIKE 'urn:p/%' AND
           |            regexp_matches(substr(p, 7), '^[A-Za-z0-9_-]+$$')
           |         THEN 'p:' || substr(p, 7)
           |       ELSE '<' || p || '>' END AS pt,
           |  ${NTriples.objectTermSql} AS ot
           |FROM (
           |  SELECT * FROM geo
           |  UNION ALL
           |  SELECT 'urn:g/region/' || r_regionkey AS s, 'urn:p/note' AS p,
           |         'say "' || r_name || '"' || chr(10) || 'back\\slash' ||
           |           chr(9) || 'tab' AS o,
           |         false AS oIsIri, CAST(NULL AS VARCHAR) AS oLang,
           |         CAST(NULL AS VARCHAR) AS oDatatype
           |  FROM region)""".stripMargin,
      "po" ->
        """SELECT st, pt, string_agg(ot, ' , ' ORDER BY ot) AS objs
          |FROM r GROUP BY st, pt""".stripMargin,
      "bl" ->
        """SELECT st, string_agg(pt || ' ' || objs,
          |  ' ;' || chr(10) || '  ' ORDER BY pt || ' ' || objs) AS body
          |FROM po GROUP BY st""".stripMargin),
    // q251: every geo + note triple as a TSV solution row — the
    // subject in IRI brackets, the object through the SAME
    // objectTermSql mirror the N-Triples renderers share.
    "q251_sparql_tsv" -> withTriples(
      s"""SELECT '<' || s || '>' || chr(9) || ${NTriples.objectTermSql}
         |  AS line
         |FROM (
         |  SELECT * FROM geo
         |  UNION ALL
         |  SELECT 'urn:g/region/' || r_regionkey AS s, 'urn:p/note' AS p,
         |         'say "' || r_name || '"' || chr(10) || 'back\\slash' ||
         |           chr(9) || 'tab' AS o,
         |         false AS oIsIri, CAST(NULL AS VARCHAR) AS oLang,
         |         CAST(NULL AS VARCHAR) AS oDatatype
         |  FROM region)""".stripMargin,
      "geo" -> G.sql.geo),
    // q254: each region descriptor's name+order under its file-name
    // graph — the harvest join replayed from the region table.
    "q254_turtle_harvest" ->
      """SELECT 'region_' || r_regionkey || '.ttl' AS g,
        |       'urn:g/region/' || r_regionkey AS s,
        |       r_name AS name, CAST(r_regionkey AS VARCHAR) AS ord
        |FROM region""".stripMargin,
    // q249: three expected rows per region document — the @lang name,
    // the typed order literal, and the skolemized anonymous bnode
    // (parser counter starts at b1, file-scoped by construction).
    "q249_turtle_many" ->
      """SELECT 'region_' || r_regionkey || '.ttl' AS g,
        |       'urn:g/region/' || r_regionkey AS s, 'urn:p/name' AS p,
        |       r_name AS o, false AS oIsIri, 'en' AS oLang,
        |       CAST(NULL AS VARCHAR) AS oDatatype
        |FROM region
        |UNION ALL
        |SELECT 'region_' || r_regionkey || '.ttl',
        |       'urn:g/region/' || r_regionkey, 'urn:p/order',
        |       CAST(r_regionkey AS VARCHAR), false, CAST(NULL AS VARCHAR),
        |       'http://www.w3.org/2001/XMLSchema#integer'
        |FROM region
        |UNION ALL
        |SELECT 'region_' || r_regionkey || '.ttl',
        |       'urn:bnode:region_' || r_regionkey || '.ttl:b1',
        |       'urn:p/inDoc', 'urn:g/region/' || r_regionkey, true,
        |       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM region""".stripMargin,
    // q246: the four-op §3.2 sequence as set algebra — region notes
    // land in the DEFAULT graph (LOAD INTO a staging graph + ADD to
    // default + DROP of the staging graph nets exactly that), geo's
    // rows relabel to geo2 (MOVE), cust is untouched.
    "q246_sparql_graph_mgmt" -> q246Oracle,
    // q252: the DELTA path on the same four-op sequence converges to
    // the same state by contract — same oracle as q246, with the
    // graph-management ops folding as O(1) tombstones instead of
    // store rewrites.
    "q252_graph_mgmt_delta" -> q246Oracle,
    // q240: the cross-graph join (each GRAPH scope is one predicate
    // slice of its graph), the minted triple, RDF set semantics
    // (DISTINCT — every template instantiation is IRI-only here).
    "q240_sparql_construct_dataset" -> withTriples(
      """SELECT DISTINCT
        |  '<' || c.s || '> <urn:p/homeRegion> <' || r.o || '> .' AS line
        |FROM cust c JOIN geo r ON r.s = c.o
        |WHERE c.p = 'urn:p/inNation' AND r.p = 'urn:p/inRegion'""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // q239: the quad renderer replayed — the triple body is q14's
    // renderer, the graph slot appends only for non-null g.
    "q239_nquads_render" -> withTriples(
      s"""SELECT ${NTriples.quadLineSql} AS line FROM (
         |  SELECT *, CAST(NULL AS VARCHAR) AS g FROM geo
         |  UNION ALL
         |  SELECT *, 'urn:graph/cust' AS g FROM cust)""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // q241: one recursive CTE per named graph — the per-graph truth a
    // boundary-hopping fixpoint could not reproduce (the forests share
    // nodes, so cross-graph paths exist and would surface as extra
    // pairs under some graph label).
    "q241_sparql_graph_closure" ->
      """WITH RECURSIVE
        |eh AS (SELECT 'urn:c/' || c_custkey AS s,
        |              'urn:c/' || (c_custkey // 2) AS o
        |       FROM customer WHERE c_custkey >= 2),
        |et AS (SELECT 'urn:c/' || c_custkey AS s,
        |              'urn:c/' || (c_custkey // 3) AS o
        |       FROM customer WHERE c_custkey >= 3),
        |th AS (SELECT s, o FROM eh
        |       UNION
        |       SELECT t.s, e.o FROM th t JOIN eh e ON t.o = e.s),
        |tt AS (SELECT s, o FROM et
        |       UNION
        |       SELECT t.s, e.o FROM tt t JOIN et e ON t.o = e.s)
        |SELECT 'urn:graph/half' AS g, s, o AS anc FROM th
        |UNION ALL
        |SELECT 'urn:graph/third' AS g, s, o AS anc FROM tt""".stripMargin,
    // q244: the modify as set algebra — cust quads minus the matched
    // nation-5 edges, plus the two inserted quads per matched
    // customer; geo untouched.
    "q244_sparql_modify" -> withTriples(
      s"""SELECT ${NTriples.quadLineSql} AS line FROM (
         |  SELECT s, p, o, oIsIri, oLang, oDatatype,
         |         'urn:graph/cust' AS g FROM cust
         |  WHERE NOT (p = 'urn:p/inNation' AND o = 'urn:g/nation/5')
         |  UNION ALL
         |  SELECT s, p, o, oIsIri, oLang, oDatatype,
         |         'urn:graph/geo' AS g FROM geo
         |  UNION ALL
         |  SELECT 'urn:g/customer/' || c_custkey, 'urn:p/inNation',
         |         'urn:g/nation/0', true, CAST(NULL AS VARCHAR),
         |         CAST(NULL AS VARCHAR), 'urn:graph/cust'
         |  FROM customer WHERE c_nationkey = 5
         |  UNION ALL
         |  SELECT 'urn:g/customer/' || c_custkey, 'urn:p/rehomed',
         |         'true', false, CAST(NULL AS VARCHAR),
         |         CAST(NULL AS VARCHAR), 'urn:graph/cust'
         |  FROM customer WHERE c_nationkey = 5)""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // q243: the described resource is customer 7's nation; the
    // description = every quad (under its own graph) whose subject is
    // that nation or whose IRI object is — the same disjunction the
    // engine runs as two semi-joins.
    "q243_sparql_describe" -> withTriples(
      s"""SELECT DISTINCT ${NTriples.quadLineSql} AS line FROM (
         |  SELECT q.g, q.s, q.p, q.o, q.oIsIri, q.oLang, q.oDatatype
         |  FROM (
         |    SELECT s, p, o, oIsIri, oLang, oDatatype,
         |           'urn:graph/geo' AS g FROM geo
         |    UNION ALL
         |    SELECT s, p, o, oIsIri, oLang, oDatatype,
         |           'urn:graph/cust' AS g FROM cust) q,
         |    (SELECT 'urn:g/nation/' || c_nationkey AS n
         |     FROM customer WHERE c_custkey = 7) r
         |  WHERE q.s = r.n OR (q.oIsIri AND q.o = r.n))""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // q247: the delta path converges to the administrative path's
    // state on the same script by contract — same oracle as q242.
    "q247_sparql_update_delta" -> q242Oracle,
    // q242: the three UPDATE ops as set algebra — cust minus every
    // nation-7 customer's triples, geo minus the one ground quad, plus
    // the two inserted rows (one default-graph, one named) — rendered
    // through the same quadLine replay q239 gates.
    "q242_sparql_update" -> q242Oracle,
    // q237: the default-graph name pattern is a geo scan; GRAPH ?g can
    // only bind the cust graph (no other named graph holds inNation);
    // the GRAPH <geo> pattern is a second geo join.
    "q237_sparql_graph_dataset" -> withTriples(
      """SELECT 'urn:graph/cust' AS g, c.s AS s, c.o AS nation,
        |       n.o AS nname, r.o AS reg
        |FROM cust c
        |JOIN geo n ON n.s = c.o AND n.p = 'urn:p/name'
        |  AND (lower(n.oLang) = 'en' OR lower(n.oLang) LIKE 'en-%')
        |JOIN geo r ON r.s = c.o AND r.p = 'urn:p/inRegion'
        |WHERE c.p = 'urn:p/inNation'""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    "q14_ntriples_render" -> withTriples(
      s"""SELECT ${NTriples.lineSql} AS line FROM (
         |  SELECT * FROM t
         |  UNION ALL
         |  SELECT 'urn:g/region/' || r_regionkey AS s, 'urn:p/note' AS p,
         |         'say "' || r_name || '"' || chr(10) || 'back\\slash' || chr(9) || 'tab' AS o,
         |         false AS oIsIri, CAST(NULL AS VARCHAR) AS oLang,
         |         CAST(NULL AS VARCHAR) AS oDatatype
         |  FROM region)""".stripMargin,
      "t" -> G.sql.geo),
    "q15_lang_filter" -> withTriples(
      "SELECT s, o AS name_cs FROM t WHERE p = 'urn:p/name' AND (lower(oLang) = 'cs' OR lower(oLang) LIKE 'cs-%')",
      "t" -> G.sql.geo),
    "q16_property_path" -> withTriples(
      """SELECT h1.s AS s, h2.o AS nation_name
        |FROM t h1 JOIN t h2 ON h1.o = h2.s
        |WHERE h1.p = 'urn:p/inNation' AND h2.p = 'urn:p/name'
        |  AND (lower(h2.oLang) = 'en' OR lower(h2.oLang) LIKE 'en-%')""".stripMargin,
      "t" -> s"${G.sql.customers.drop(1).dropRight(1)} UNION ALL ${G.sql.geo.drop(1).dropRight(1)}"),
    "q17_inverse_path_agg" -> withTriples(
      """SELECT rn.o AS region_name, COUNT(*) AS n_nations
        |FROM t e JOIN t rn ON e.o = rn.s
        |WHERE e.p = 'urn:p/inRegion' AND rn.p = 'urn:p/name'
        |  AND (lower(rn.oLang) = 'en' OR lower(rn.oLang) LIKE 'en-%')
        |GROUP BY rn.o""".stripMargin,
      "t" -> G.sql.geo),
    "q47_transitive_path" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'urn:c/' || c_custkey AS s,
        |         'urn:c/' || (c_custkey // 2) AS o
        |  FROM customer WHERE c_custkey > 1),
        |tc AS (
        |  SELECT s, o FROM e
        |  UNION
        |  SELECT t.s, e.o FROM tc t JOIN e ON t.o = e.s)
        |SELECT s, o AS ancestor FROM tc""".stripMargin,
    // q204: q47's recursive-CTE closure with the ancestor-name hop —
    // what the parsed `<urn:p/parent>+/name-join` plan must equal.
    "q204_sparql_path_plus" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'urn:c/' || c_custkey AS s,
        |         'urn:c/' || (c_custkey // 2) AS o
        |  FROM customer WHERE c_custkey > 1),
        |tc AS (
        |  SELECT s, o FROM e
        |  UNION
        |  SELECT t.s, e.o FROM tc t JOIN e ON t.o = e.s),
        |nm AS (
        |  SELECT 'urn:c/' || c_custkey AS s, c_name AS name
        |  FROM customer)
        |SELECT tc.s AS s, tc.o AS anc, nm.name AS aname
        |FROM tc JOIN nm ON nm.s = tc.o""".stripMargin,
    // q205: the two alternatives as an explicit UNION ALL (bag
    // semantics — alternation never dedups in SPARQL).
    "q205_sparql_alt_path" -> withTriples(
      """SELECT x, r FROM (
        |  SELECT a.s AS x, b.o AS r FROM t a JOIN t b ON a.o = b.s
        |  WHERE a.p = 'urn:p/inNation' AND b.p = 'urn:p/inRegion'
        |  UNION ALL
        |  SELECT s AS x, o AS r FROM t WHERE p = 'urn:p/inRegion')""".stripMargin,
      "t" -> s"${G.sql.customers.drop(1).dropRight(1)} UNION ALL ${G.sql.geo.drop(1).dropRight(1)}"),
    // q219: the two UNION branches as explicit NULL-padded UNION ALL
    // (bag semantics; ?nation unbound on the vip branch and vice versa).
    "q219_sparql_union" -> withTriples(
      """SELECT s, o AS nation, CAST(NULL AS VARCHAR) AS vip
        |FROM t WHERE p = 'urn:p/inNation'
        |UNION ALL
        |SELECT s, CAST(NULL AS VARCHAR) AS nation, o AS vip
        |FROM t WHERE p = 'urn:p/vip'""".stripMargin,
      "t" -> G.sql.customers),
    // q220: MINUS = anti-join on the shared ?s.
    "q220_sparql_minus" -> withTriples(
      """SELECT s, o AS name FROM t
        |WHERE p = 'urn:p/name'
        |  AND s NOT IN (SELECT s FROM t WHERE p = 'urn:p/vip')""".stripMargin,
      "t" -> G.sql.customers),
    // q221: `p?` = the p edges UNION the zero-length self-pair of every
    // graph term (set semantics), here filtered by the Region type hop.
    "q221_sparql_zero_or_one" -> withTriples(
      s"""SELECT pr.x, pr.r FROM (
         |  SELECT s AS x, o AS r FROM t WHERE p = 'urn:p/inRegion'
         |  UNION
         |  SELECT n.t, n.t FROM (
         |    SELECT s AS t FROM t UNION SELECT o FROM t) n) pr
         |JOIN (SELECT s FROM t
         |      WHERE p = '${G.T}' AND o = 'urn:g/Region') ty
         |  ON pr.r = ty.s""".stripMargin,
      "t" -> G.sql.geo),
    // q222: the aggregate surface replayed — the statGraph derivation
    // collapses to one row per customer (each property unique per s);
    // GROUP_CONCAT's documented lexical order is
    // list_sort(list_distinct(...)), SAMPLE's documented choice is MIN.
    "q222_sparql_modifiers" ->
      """WITH sol AS (
        |  SELECT 'urn:c/' || c_custkey AS s,
        |    'urn:g/nation/' || c_nationkey AS nation,
        |    CAST(c_custkey % 97 AS DOUBLE) AS sz,
        |    c_mktsegment AS seg
        |  FROM customer),
        |agg AS (
        |  SELECT nation, COUNT(s) AS n, SUM(sz) AS total_sz,
        |    AVG(sz) AS avg_sz, MIN(seg) AS min_seg, MAX(seg) AS max_seg,
        |    array_to_string(list_sort(list_distinct(list(seg))), ',') AS segs,
        |    MIN(seg) AS any_seg
        |  FROM sol GROUP BY 1)
        |SELECT nation, n, total_sz, avg_sz, min_seg, max_seg, segs, any_seg
        |FROM agg ORDER BY n DESC, nation ASC LIMIT 10 OFFSET 5""".stripMargin,
    // q223: the same boolean over the LEFT-JOIN form (BOUND = vip row
    // present); DuckDB regexp_matches is the partial match REGEX is.
    "q223_sparql_filter_funcs" -> withTriples(
      """SELECT n.s, n.o AS name
        |FROM t n LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/vip') v
        |  ON n.s = v.s
        |WHERE n.p = 'urn:p/name'
        |  AND ((v.o IS NOT NULL AND regexp_matches(n.o, '1[0-9]$'))
        |    OR (v.o IS NULL AND n.o LIKE '%7'))""".stripMargin,
      "t" -> G.sql.customers),
    // q224: EXISTS = semi-join (IN), LANG = the oLang column, HAVING
    // over the aggregate.
    "q224_sparql_exists_having" -> withTriples(
      """SELECT nat, cnt FROM (
        |  SELECT n.o AS nat, COUNT(n.s) AS cnt
        |  FROM t n JOIN t sg ON sg.s = n.s
        |  WHERE n.p = 'urn:p/inNation' AND sg.p = 'urn:p/segment'
        |    AND coalesce(sg.oLang, '') = 'en'
        |    AND n.s IN (SELECT s FROM t WHERE p = 'urn:p/vip')
        |  GROUP BY 1) WHERE cnt > 5""".stripMargin,
      "t" -> G.sql.customers),
    // q225: the literal terms of the graph — zero-length `p?` pairs are
    // the only way a literal reaches ?y (inRegion objects are IRIs).
    "q225_sparql_is_literal" -> withTriples(
      """SELECT DISTINCT o AS y FROM t WHERE NOT oIsIri""".stripMargin,
      "t" -> G.sql.geo),
    // q230: the recursive closure of the COMPOSED 2-hop edge set.
    "q230_sparql_grouped_path" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'urn:c/' || c_custkey AS s,
        |         'urn:c/' || (c_custkey // 2) AS o
        |  FROM customer WHERE c_custkey > 1),
        |e2 AS (
        |  SELECT a.s, b.o FROM e a JOIN e b ON a.o = b.s),
        |tc AS (
        |  SELECT DISTINCT s, o FROM e2
        |  UNION
        |  SELECT t.s, e2.o FROM tc t JOIN e2 ON t.o = e2.s)
        |SELECT s, o AS anc FROM tc""".stripMargin,
    // q228: NPS = predicate NOT IN the set (bag — one row per matching
    // triple).
    "q228_sparql_negated_set" -> withTriples(
      s"""SELECT s, o FROM t
         |WHERE p NOT IN ('urn:p/name', '${G.T}')""".stripMargin,
      "t" -> G.sql.geo),
    // q255: every value function replayed on the lexical forms; the
    // numeric FILTERs via CAST AS DOUBLE (the engine's try_cast twin —
    // the fixture's acctbal strings all parse); regexp_replace needs
    // DuckDB's 'g' flag to match SPARQL/Spark's replace-all.
    "q255_sparql_expr_surface" -> withTriples(
      """SELECT n.s AS s, n.o AS name,
        |  CAST(length(n.o) - 9 AS VARCHAR) AS len,
        |  substr(n.o, length(n.o) - 2) AS tail3,
        |  upper(substr(n.o, 1, 8)) AS head8,
        |  regexp_replace(n.o, 'Customer#0*', 'c', 'g') AS ckey,
        |  CAST(length(regexp_replace(n.o, 'Customer#0*', 'c', 'g')) * 3 - 1
        |       AS VARCHAR) AS klen,
        |  b.oDatatype AS dt
        |FROM t n JOIN t b ON n.s = b.s
        |WHERE n.p = 'urn:p/name' AND b.p = 'urn:p/acctbal'
        |  AND CAST(b.o AS DOUBLE) * 2 >= 1000
        |  AND (CAST(b.o AS DOUBLE) - 100) / 2 > -4000
        |  AND substr(n.o, 17, 1) <> '0'""".stripMargin,
      "t" -> G.sql.customers),
    // q257: the X265 library replayed — IF as CASE, STRBEFORE/STRAFTER
    // as strpos+substr with the spec's empty-string no-match, ROUND as
    // the shared floor(x+0.5) form, COALESCE over the vip left join.
    "q257_sparql_expr_library" -> withTriples(
      """SELECT n.s AS s,
        |  CASE WHEN CAST(b.o AS DOUBLE) >= 5000
        |       THEN 'high' ELSE 'low' END AS cat,
        |  CASE WHEN strpos(n.o, '#') > 0
        |       THEN substr(n.o, 1, strpos(n.o, '#') - 1)
        |       ELSE '' END AS pfx,
        |  CASE WHEN strpos(n.o, '#') > 0
        |       THEN substr(n.o, strpos(n.o, '#') + 1)
        |       ELSE '' END AS knum,
        |  CAST(CAST(floor(CAST(b.o AS DOUBLE) / 1000) AS BIGINT)
        |       AS VARCHAR) AS kbal,
        |  CAST(CAST(floor(CAST(b.o AS DOUBLE) + 0.5) AS BIGINT)
        |       AS VARCHAR) AS r,
        |  coalesce(v.o, 'no') AS viptag
        |FROM t n
        |JOIN t b ON n.s = b.s AND b.p = 'urn:p/acctbal'
        |LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/vip') v
        |  ON n.s = v.s
        |WHERE n.p = 'urn:p/name'
        |  AND ceil(CAST(b.o AS DOUBLE) / 1000) <= 10
        |  AND abs(CAST(b.o AS DOUBLE)) >= 0
        |  AND (CASE WHEN CAST(b.o AS DOUBLE) >= 5000
        |        THEN 'high' ELSE 'low' END) IN ('high', 'low')
        |  AND n.s NOT IN ('urn:g/customer/1', 'urn:g/customer/2')
        |  AND contains(substr(n.o, strpos(n.o, '#') + 1), '1')""".stripMargin,
      "t" -> G.sql.customers),
    // q258: the aggregate-over-expression replay — FLOOR keeps the sum
    // integral (exact in double on both engines), COUNT over the vip
    // STRLEN counts non-null evaluations, GROUP_CONCAT sorts values
    // (the engine's documented determinism rule).
    "q258_sparql_agg_exprs" -> withTriples(
      """SELECT nat.o AS nat,
        |  SUM(floor(CAST(b.o AS DOUBLE)) * 2) AS dblsum,
        |  COUNT(v.o) AS vips,
        |  MAX(substr(n.o, strpos(n.o, '#') + 1)) AS maxkey,
        |  string_agg(substr(n.o, 10), '|'
        |             ORDER BY substr(n.o, 10)) AS keys
        |FROM t nat
        |JOIN t b ON nat.s = b.s AND b.p = 'urn:p/acctbal'
        |JOIN t n ON nat.s = n.s AND n.p = 'urn:p/name'
        |LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/vip') v
        |  ON nat.s = v.s
        |WHERE nat.p = 'urn:p/inNation'
        |GROUP BY nat.o""".stripMargin,
      "t" -> G.sql.customers),
    // q259: HAVING + ordered top-k replay — ORDER BY tot DESC is the
    // same ordering as the engine's DESC(tot/100) (monotone), and the
    // nat tie-break makes the LIMIT 10 set exact.
    "q259_sparql_having_order" -> withTriples(
      """SELECT nat.o AS nat, SUM(floor(CAST(b.o AS DOUBLE))) AS tot
        |FROM t nat
        |JOIN t b ON nat.s = b.s AND b.p = 'urn:p/acctbal'
        |WHERE nat.p = 'urn:p/inNation'
        |GROUP BY nat.o
        |HAVING COUNT(*) >= 10 AND SUM(floor(CAST(b.o AS DOUBLE))) > 0
        |ORDER BY tot DESC, nat
        |LIMIT 10""".stripMargin,
      "t" -> G.sql.customers),
    // q260: the TSV line rebuilt by hand — tagged/typed term syntax +
    // DuckDB's own md5/sha256 (both engines emit lowercase hex).
    "q260_sparql_hash_mint" -> withTriples(
      """SELECT '"' || n.o || '"@x-kl' || chr(9) ||
        |  '"' || b.o ||
        |  '"^^<http://www.w3.org/2001/XMLSchema#decimal>' || chr(9) ||
        |  '"' || md5(n.o || '|' || b.o) || '"' || chr(9) ||
        |  '"' || sha256(n.o) || '"' AS line
        |FROM t n
        |JOIN t b ON n.s = b.s AND b.p = 'urn:p/acctbal'
        |WHERE n.p = 'urn:p/name'""".stripMargin,
      "t" -> G.sql.customers),
    // q261: the banding replay — group key as the same canonical
    // integral lexical form.
    "q261_sparql_group_expr" -> withTriples(
      """SELECT CAST(CAST(floor(CAST(o AS DOUBLE) / 1000) AS BIGINT)
        |            AS VARCHAR) AS band,
        |       COUNT(*) AS n,
        |       SUM(floor(CAST(o AS DOUBLE))) AS mass
        |FROM t WHERE p = 'urn:p/acctbal'
        |GROUP BY 1""".stripMargin,
      "t" -> G.sql.customers),
    // q262: the embedded-EXISTS disjunction replayed as EXISTS OR LIKE.
    "q262_sparql_exists_expr" -> withTriples(
      """SELECT n.s AS s, n.o AS name
        |FROM t n
        |WHERE n.p = 'urn:p/name'
        |  AND (EXISTS (SELECT 1 FROM t v
        |               WHERE v.s = n.s AND v.p = 'urn:p/vip')
        |       OR n.o LIKE '%1')""".stripMargin,
      "t" -> G.sql.customers),
    // q263: the boolean binds replayed as CASE chains.
    "q263_sparql_bool_bind" -> withTriples(
      """SELECT s,
        |  CASE WHEN CAST(o AS DOUBLE) >= 5000
        |       THEN 'true' ELSE 'false' END AS rich,
        |  CASE WHEN CAST(o AS DOUBLE) < 0
        |       THEN 'true' ELSE 'false' END AS neg,
        |  CASE WHEN floor(CAST(o AS DOUBLE) / 1000) IN (0, 9)
        |       THEN 'true' ELSE 'false' END AS edge
        |FROM t WHERE p = 'urn:p/acctbal'""".stripMargin,
      "t" -> G.sql.customers),
    // q264: the accessor replay — same regex extracts over the date
    // strings, the same canonical integer lexical forms.
    "q264_sparql_datetime" ->
      """SELECT 'urn:ord/' || o_orderkey AS s,
        |  CAST(CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^(-?\d{4,})-', 1) AS BIGINT) AS VARCHAR) AS y,
        |  CAST(CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^-?\d{4,}-(\d{2})-', 1) AS BIGINT) AS VARCHAR) AS m,
        |  CAST(CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^(-?\d{4,})-', 1) AS BIGINT) AS VARCHAR) || '-Q' ||
        |  CAST(CAST(ceil(CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^-?\d{4,}-(\d{2})-', 1) AS DOUBLE) / 3) AS BIGINT)
        |    AS VARCHAR) AS q
        |FROM orders
        |WHERE CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^(-?\d{4,})-', 1) AS BIGINT) >= 1996
        |  AND CAST(regexp_extract(CAST(o_orderdate AS VARCHAR),
        |    '^-?\d{4,}-\d{2}-(\d{2})', 1) AS BIGINT) <= 15""".stripMargin,
    // q265: per-group counts restricted to the parameter list (the
    // post-aggregation join can't change within-group counts).
    "q265_sparql_post_values" -> withTriples(
      """SELECT o AS nat, COUNT(*) AS n FROM t
        |WHERE p = 'urn:p/inNation'
        |  AND o IN ('urn:g/nation/1', 'urn:g/nation/5',
        |            'urn:g/nation/19')
        |GROUP BY o""".stripMargin,
      "t" -> G.sql.customers),
    // q266: the post-aggregation Extend replayed — key transforms and
    // the aggregate-alias derivation on the grouped relation; FLOOR
    // keeps ?k integral so the canonical lexical form is exact.
    "q266_sparql_select_expr_postagg" -> withTriples(
      """SELECT 'NAT:' || upper(substr(nat.o, 7)) AS x,
        |  SUM(floor(CAST(b.o AS DOUBLE))) AS tot,
        |  CAST(CAST(floor(SUM(floor(CAST(b.o AS DOUBLE))) / 100)
        |       AS BIGINT) AS VARCHAR) AS k,
        |  COUNT(*) AS n
        |FROM t nat
        |JOIN t b ON nat.s = b.s AND b.p = 'urn:p/acctbal'
        |WHERE nat.p = 'urn:p/inNation'
        |GROUP BY nat.o""".stripMargin,
      "t" -> G.sql.customers),
    // q267: HAVING-EXISTS replayed as a correlated EXISTS over the
    // grouped subquery.
    "q267_sparql_having_exists" -> withTriples(
      """SELECT g.nat AS nat, g.n AS n
        |FROM (SELECT o AS nat, COUNT(*) AS n FROM t
        |      WHERE p = 'urn:p/inNation' GROUP BY o) g
        |WHERE g.n >= 5
        |  AND EXISTS (SELECT 1 FROM t v JOIN t b ON v.s = b.s
        |              WHERE v.p = 'urn:p/inNation' AND v.o = g.nat
        |                AND b.p = 'urn:p/acctbal'
        |                AND CAST(b.o AS DOUBLE) >= 9900)""".stripMargin,
      "t" -> G.sql.customers),
    // q268: the BIND-EXISTS flags replayed as CASE over (NOT) EXISTS.
    "q268_sparql_bind_exists" -> withTriples(
      """SELECT n.s AS s,
        |  CASE WHEN EXISTS (SELECT 1 FROM t v
        |                    WHERE v.s = n.s AND v.p = 'urn:p/vip')
        |       THEN 'true' ELSE 'false' END AS isvip,
        |  CASE WHEN NOT EXISTS (SELECT 1 FROM t v
        |                        WHERE v.s = n.s AND v.p = 'urn:p/vip')
        |        AND n.o LIKE '%3'
        |       THEN 'true' ELSE 'false' END AS loner
        |FROM t n WHERE n.p = 'urn:p/name'""".stripMargin,
      "t" -> G.sql.customers),
    // q269: the bounded-charset percent-encoding replay — names are
    // [A-Za-z0-9#] by construction, the appended tail adds the chars
    // under test, so a finite replace chain IS the exact oracle
    // (uppercase hex per RFC 3986; é = UTF-8 C3 A9, byte-wise).
    "q269_sparql_encode_uri" -> withTriples(
      """SELECT s,
        |  replace(replace(replace(replace(replace(replace(replace(
        |    replace(o || ' a/b?c#d[e]é',
        |    '%', '%25'), ' ', '%20'), '/', '%2F'), '?', '%3F'),
        |    '#', '%23'), '[', '%5B'), ']', '%5D'), 'é', '%C3%A9') AS enc
        |FROM t WHERE p = 'urn:p/name'""".stripMargin,
      "t" -> G.sql.customers),
    // q270: the accessor replay — SAME regex extraction + duration
    // CASE chain over the same minted dateTime strings.
    "q270_sparql_tz" ->
      """SELECT s,
        |  CASE WHEN regexp_matches(o, '^-?\d{4,}-\d{2}-\d{2}')
        |       THEN regexp_extract(o, '(Z|[+-]\d{2}:\d{2})$', 1)
        |       ELSE NULL END AS tz,
        |  CASE WHEN tze = ''
        |         OR NOT regexp_matches(o, '^-?\d{4,}-\d{2}-\d{2}')
        |       THEN NULL
        |       WHEN tze = 'Z' OR (TRY_CAST(hh AS INT) = 0
        |                          AND TRY_CAST(mm AS INT) = 0)
        |         THEN 'PT0S'
        |       ELSE (CASE WHEN tze LIKE '-%' THEN '-' ELSE '' END)
        |         || 'PT'
        |         || (CASE WHEN TRY_CAST(hh AS INT) > 0
        |             THEN CAST(TRY_CAST(hh AS INT) AS VARCHAR) || 'H'
        |             ELSE '' END)
        |         || (CASE WHEN TRY_CAST(mm AS INT) > 0
        |             THEN CAST(TRY_CAST(mm AS INT) AS VARCHAR) || 'M'
        |             ELSE '' END)
        |  END AS dur
        |FROM (
        |  SELECT s, o,
        |    regexp_extract(o, '(Z|[+-]\d{2}:\d{2})$', 1) AS tze,
        |    regexp_extract(regexp_extract(o, '(Z|[+-]\d{2}:\d{2})$', 1),
        |                   '^[+-](\d{2}):', 1) AS hh,
        |    regexp_extract(regexp_extract(o, '(Z|[+-]\d{2}:\d{2})$', 1),
        |                   ':(\d{2})$', 1) AS mm
        |  FROM (
        |    SELECT 'urn:ord/' || o_orderkey AS s,
        |      CAST(o_orderdate AS VARCHAR) || 'T12:00:00' ||
        |      CASE CAST(o_orderkey % 4 AS INT)
        |        WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
        |        WHEN 2 THEN '-08:00' ELSE '' END AS o
        |    FROM orders))""".stripMargin,
    // q271: the pinned-instant replay — the same constant, the same
    // lexical comparison and regex year/month extraction.
    "q271_sparql_now_pinned" ->
      """SELECT 'urn:ord/' || o_orderkey AS s,
        |  CAST(o_orderdate AS VARCHAR) AS d,
        |  CAST(CAST(regexp_extract('1996-06-30T12:30:00Z',
        |    '^(-?\d{4,})-', 1) AS BIGINT) AS VARCHAR) AS asof_y,
        |  CAST(CAST(regexp_extract('1996-06-30T12:30:00Z',
        |    '^-?\d{4,}-(\d{2})-', 1) AS BIGINT) AS VARCHAR) AS asof_m
        |FROM orders
        |WHERE CAST(o_orderdate AS VARCHAR) < '1996-06-30T12:30:00Z'
        |  AND regexp_extract(CAST(o_orderdate AS VARCHAR),
        |        '^(-?\d{4,})-', 1) = '1996'""".stripMargin,
    // q234: the minted key is plain string concatenation.
    "q234_sparql_bind_concat" -> withTriples(
      """SELECT s, o AS n, s || '|' || o AS key FROM t
        |WHERE p = 'urn:p/inNation'""".stripMargin,
      "t" -> G.sql.customers),
    "q18_values_undef" -> withTriples(
      """SELECT s, segment, nation, matched_segment, matched_nation FROM (
        |  SELECT c.*, 'BUILDING' AS matched_segment,
        |         'urn:g/nation/1' AS matched_nation
        |  FROM cust c WHERE segment = 'BUILDING' AND nation = 'urn:g/nation/1'
        |  UNION ALL
        |  SELECT c.*, 'MACHINERY', CAST(NULL AS VARCHAR)
        |  FROM cust c WHERE segment = 'MACHINERY'
        |  UNION ALL
        |  SELECT c.*, CAST(NULL AS VARCHAR), 'urn:g/nation/3'
        |  FROM cust c WHERE nation = 'urn:g/nation/3')""".stripMargin,
      "t" -> G.sql.customers,
      "cust" -> ("""SELECT seg.s AS s, seg.o AS segment, nat.o AS nation
        |FROM t seg JOIN t nat ON seg.s = nat.s
        |WHERE seg.p = 'urn:p/segment'
        |  AND (lower(seg.oLang) = 'en' OR lower(seg.oLang) LIKE 'en-%')
        |  AND nat.p = 'urn:p/inNation'""".stripMargin)),
    "q19_optional_bind" -> withTriples(
      """SELECT n.s AS s, n.o AS name, v.o AS vip, v.o IS NOT NULL AS has_vip
        |FROM t n LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/vip') v
        |  ON n.s = v.s
        |WHERE n.p = 'urn:p/name'""".stripMargin,
      "t" -> G.sql.customers),
    "q20_scalar_wide_default" -> withTriples(
      """SELECT s,
        |  coalesce(min(o) FILTER (WHERE p = 'urn:p/name'), '') AS name,
        |  coalesce(min(o) FILTER (WHERE p = 'urn:p/segment'), '') AS segment,
        |  coalesce(min(o) FILTER (WHERE p = 'urn:p/vip'), '') AS vip
        |FROM t GROUP BY s""".stripMargin,
      "t" -> G.sql.customers),
    "q21_named_graph_counts" -> withTriples(
      """SELECT g, p, COUNT(*) AS n FROM (
        |  SELECT 'geo' AS g, * FROM geo
        |  UNION ALL
        |  SELECT 'cust' AS g, * FROM cust)
        |GROUP BY g, p""".stripMargin,
      "geo" -> G.sql.geo, "cust" -> G.sql.customers),
    // Parsed-SPARQL gates: q109/q110/q112/q113 reuse the combinator
    // oracles verbatim (same relation, string front end); q111 has its
    // own three-branch VALUES oracle.
    "q109_sparql_lang_filter" -> withTriples(
      "SELECT s, o AS name_cs FROM t WHERE p = 'urn:p/name' AND (lower(oLang) = 'cs' OR lower(oLang) LIKE 'cs-%')",
      "t" -> G.sql.geo),
    "q110_sparql_optional_bind" -> withTriples(
      """SELECT n.s AS s, n.o AS name, v.o AS vip, v.o IS NOT NULL AS has_vip
        |FROM t n LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/vip') v
        |  ON n.s = v.s
        |WHERE n.p = 'urn:p/name'""".stripMargin,
      "t" -> G.sql.customers),
    "q111_sparql_values_undef" -> withTriples(
      """SELECT s, segment, nation FROM (
        |  SELECT * FROM cust WHERE segment = 'BUILDING' AND nation = 'urn:g/nation/1'
        |  UNION ALL
        |  SELECT * FROM cust WHERE segment = 'MACHINERY'
        |  UNION ALL
        |  SELECT * FROM cust WHERE nation = 'urn:g/nation/3')""".stripMargin,
      "t" -> G.sql.customers,
      "cust" -> ("""SELECT seg.s AS s, seg.o AS segment, nat.o AS nation
        |FROM t seg JOIN t nat ON seg.s = nat.s
        |WHERE seg.p = 'urn:p/segment'
        |  AND (lower(seg.oLang) = 'en' OR lower(seg.oLang) LIKE 'en-%')
        |  AND nat.p = 'urn:p/inNation'""".stripMargin)),
    "q112_sparql_inverse_agg" -> withTriples(
      """SELECT rn.o AS region_name, COUNT(*) AS n_nations
        |FROM t e JOIN t rn ON e.o = rn.s
        |WHERE e.p = 'urn:p/inRegion' AND rn.p = 'urn:p/name'
        |  AND (lower(rn.oLang) = 'en' OR lower(rn.oLang) LIKE 'en-%')
        |GROUP BY rn.o""".stripMargin,
      "t" -> G.sql.geo),
    "q113_sparql_seq_path" -> withTriples(
      """SELECT h1.s AS s, h2.o AS nation_name
        |FROM t h1 JOIN t h2 ON h1.o = h2.s
        |WHERE h1.p = 'urn:p/inNation' AND h2.p = 'urn:p/name'
        |  AND (lower(h2.oLang) = 'en' OR lower(h2.oLang) LIKE 'en-%')""".stripMargin,
      "t" -> s"${G.sql.customers.drop(1).dropRight(1)} UNION ALL ${G.sql.geo.drop(1).dropRight(1)}"),
    // q190: the CONSTRUCT replayed — same solutions (name@en* with the
    // optional inRegion), same three-branch template instantiation with
    // the unbound-drop, same DISTINCT set semantics, same line renderer.
    "q190_sparql_construct" -> withTriples(
      s"""SELECT ${NTriples.lineSql} AS line FROM (
         |  SELECT DISTINCT s, p, o, oIsIri, oLang, oDatatype FROM (
         |    SELECT b.x AS s, 'urn:p/label' AS p, b.name AS o,
         |           false AS oIsIri, b.nameLang AS oLang,
         |           CAST(NULL AS VARCHAR) AS oDatatype FROM b
         |    UNION ALL
         |    SELECT b.x, '${G.T}', 'urn:t/Place', true,
         |           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM b
         |    UNION ALL
         |    SELECT b.x, 'urn:p/within', b.r, true,
         |           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         |    FROM b WHERE b.r IS NOT NULL))""".stripMargin,
      "t" -> G.sql.geo,
      "b" -> """SELECT n.s AS x, n.o AS name, n.oLang AS nameLang, r.o AS r
        |FROM t n LEFT JOIN (SELECT s, o FROM t WHERE p = 'urn:p/inRegion') r
        |  ON r.s = n.s
        |WHERE n.p = 'urn:p/name'
        |  AND (lower(n.oLang) = 'en' OR lower(n.oLang) LIKE 'en-%')""".stripMargin)
  )

  /** Shared by q242 (administrative path) and q247 (delta path): both
    * run the same three-op script, so both must land on this state. */
  private lazy val q242Oracle: String = withTriples(
    s"""SELECT ${NTriples.quadLineSql} AS line FROM (
       |  SELECT s, p, o, oIsIri, oLang, oDatatype,
       |         'urn:graph/cust' AS g FROM cust
       |  WHERE s NOT IN (SELECT 'urn:g/customer/' || c_custkey
       |                  FROM customer WHERE c_nationkey = 7)
       |  UNION ALL
       |  SELECT s, p, o, oIsIri, oLang, oDatatype,
       |         'urn:graph/geo' AS g FROM geo
       |  WHERE NOT (s = 'urn:g/nation/3' AND p = 'urn:p/inRegion'
       |             AND o = 'urn:g/region/1')
       |  UNION ALL
       |  SELECT 'urn:i/audit', 'urn:p/status', 'patched', false,
       |         'en', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  UNION ALL
       |  SELECT 'urn:i/audit', 'urn:p/passes', '2', false,
       |         CAST(NULL AS VARCHAR),
       |         'http://www.w3.org/2001/XMLSchema#integer',
       |         'urn:graph/cust')""".stripMargin,
    "geo" -> G.sql.geo, "cust" -> G.sql.customers)

  /** Shared by q246 (administrative path) and q252 (delta path): both
    * run the same LOAD/ADD/MOVE/DROP sequence, so both must land on
    * this state — notes in the default graph, geo relabeled to geo2,
    * cust untouched. */
  private lazy val q246Oracle: String = withTriples(
    s"""SELECT ${NTriples.quadLineSql} AS line FROM (
       |  SELECT 'urn:g/region/' || r_regionkey AS s, 'urn:p/note' AS p,
       |         r_name AS o, false AS oIsIri,
       |         CAST(NULL AS VARCHAR) AS oLang,
       |         CAST(NULL AS VARCHAR) AS oDatatype,
       |         CAST(NULL AS VARCHAR) AS g
       |  FROM region
       |  UNION ALL
       |  SELECT s, p, o, oIsIri, oLang, oDatatype,
       |         'urn:graph/cust' AS g FROM cust
       |  UNION ALL
       |  SELECT s, p, o, oIsIri, oLang, oDatatype,
       |         'urn:graph/geo2' AS g FROM geo)""".stripMargin,
    "geo" -> G.sql.geo, "cust" -> G.sql.customers)
}
