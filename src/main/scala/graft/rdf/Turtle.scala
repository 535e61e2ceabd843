package graft.rdf

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Turtle-subset parser for fixture ingestion (driver-side; the
  * descriptor/catalog graphs are tiny — SURVEY.md §7.1 module 1). Covers
  * what the reference fixtures use (l-dcatAp11ToCkanBatch
  * src/test/resources/input.ttl, filetypes-skos.ttl) plus the common
  * real-world forms beyond them: @prefix/@base and SPARQL-style
  * PREFIX/BASE directives, relative-IRI resolution against the base,
  * `a`, IRIs, prefixed names, short and long (`"""…"""`/`'''…'''`)
  * string literals with `@lang` / `^^datatype`, `\uXXXX`/`\UXXXXXXXX`
  * escapes in literals and IRIs, numeric + boolean literals, `;`
  * predicate and `,` object lists, nested blank nodes `[ ... ]`, named
  * blank nodes `_:label`, and collections `( ... )` (expanded to the
  * standard rdf:first/rdf:rest/rdf:nil cons-list).
  */
object Turtle {

  val schema: StructType = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o", StringType), StructField("oIsIri", BooleanType),
    StructField("oLang", StringType), StructField("oDatatype", StringType)))

  private val XSD = "http://www.w3.org/2001/XMLSchema#"

  private case class Term(value: String, isIri: Boolean,
                          lang: String = null, datatype: String = null)

  private class Parser(input: String, trig: Boolean = false) {
    private var pos = 0
    private var blankCounter = 0
    private var base: String = null
    // TriG (X261): the graph label of the enclosing block — null for
    // default-graph statements; every triple records it at emission so
    // nested bnodes and collections inherit their block's graph.
    private var curGraph: String = null
    // Well-known fallbacks: input.ttl:19 uses dcat: without declaring it
    // (the fixture is technically invalid Turtle); @prefix decls override.
    private val prefixes = collection.mutable.Map[String, String](
      "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
      "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
      "xsd" -> "http://www.w3.org/2001/XMLSchema#",
      "skos" -> "http://www.w3.org/2004/02/skos/core#",
      "dcat" -> "http://www.w3.org/ns/dcat#",
      "dcterms" -> "http://purl.org/dc/terms/",
      "foaf" -> "http://xmlns.com/foaf/0.1/")
    val triples = collection.mutable.ArrayBuffer[(Term, Term, Term, String)]()

    private def ws(): Unit = {
      while (pos < input.length) {
        val c = input(pos)
        if (c.isWhitespace) pos += 1
        else if (c == '#') { while (pos < input.length && input(pos) != '\n') pos += 1 }
        else return
      }
    }

    private def expect(c: Char): Unit = {
      ws()
      require(pos < input.length && input(pos) == c,
        s"expected '$c' at $pos: ...${input.slice(pos, pos + 40)}")
      pos += 1
    }

    private def peek(): Char = { ws(); if (pos < input.length) input(pos) else '\u0000' }

    /** \uXXXX / \UXXXXXXXX (UCHAR) — legal in IRIs and string literals. */
    private def uchar(): String = {
      val n = input(pos) match { case 'u' => 4; case 'U' => 8 }
      val cp = Integer.parseInt(input.substring(pos + 1, pos + 1 + n), 16)
      pos += n
      new String(Character.toChars(cp))
    }

    private def iriRef(): String = {
      expect('<')
      val sb = new StringBuilder
      while (input(pos) != '>') {
        if (input(pos) == '\\' && (input(pos + 1) == 'u' || input(pos + 1) == 'U')) {
          pos += 1; sb.append(uchar())
        } else sb.append(input(pos))
        pos += 1
      }
      pos += 1
      resolve(sb.toString)
    }

    /** RFC 3986 resolution of a (possibly relative) IRI against @base.
      * Absolute IRIs (with a scheme) pass through; without a declared
      * base, relative IRIs pass through verbatim (fixture behavior). An
      * OPAQUE base (urn:isbn:…) is handled by concatenation —
      * java.net.URI.resolve returns the relative ref unchanged against an
      * opaque base, which would silently emit bare relative subjects.
      */
    private def resolve(iri: String): String =
      if (base == null || iri.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) iri
      else {
        val b = java.net.URI.create(base)
        if (b.isOpaque) base + iri else b.resolve(iri).toString
      }

    /** Scan a bare token. Dots are legal INSIDE Turtle local names
      * (at:start.use, filetypes-skos.ttl) but a trailing dot is the
      * statement terminator — backtrack it.
      */
    private def bareToken(): String = {
      ws()
      val start = pos
      while (pos < input.length && !input(pos).isWhitespace &&
        !";,[]()\"'".contains(input(pos))) pos += 1
      while (pos > start && input(pos - 1) == '.') pos -= 1
      input.substring(start, pos)
    }

    private def pname(): String = {
      val name = bareToken()
      val i = name.indexOf(':')
      require(i >= 0, s"not a prefixed name: '$name' at $pos")
      val (p, local) = (name.substring(0, i), name.substring(i + 1))
      prefixes.getOrElse(p, sys.error(s"unknown prefix '$p'")) + local
    }

    private def escape(sb: StringBuilder): Unit = {
      pos += 1
      input(pos) match {
        case 'n' => sb.append('\n'); case 't' => sb.append('\t')
        case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
        case 'f' => sb.append('\f')
        case 'u' | 'U' => sb.append(uchar())
        case other => sb.append(other) // \" \' \\ and lenient passthrough
      }
      pos += 1
    }

    private def stringLit(): Term = {
      val quote = peek() // '"' or '\''
      pos += 1
      val sb = new StringBuilder
      // Long form """…"""/'''…''': content may span lines and contain
      // quotes; ends at the first run of three quote chars (Turtle allows
      // up to two consecutive quote chars inside).
      if (pos + 1 < input.length && input(pos) == quote && input(pos + 1) == quote) {
        pos += 2
        while (!(input(pos) == quote && input(pos + 1) == quote &&
          input(pos + 2) == quote)) {
          if (input(pos) == '\\') escape(sb)
          else { sb.append(input(pos)); pos += 1 }
        }
        pos += 3
      } else {
        while (input(pos) != quote) {
          if (input(pos) == '\\') escape(sb)
          else { sb.append(input(pos)); pos += 1 }
        }
        pos += 1
      }
      if (pos < input.length && input(pos) == '@') {
        pos += 1
        val start = pos
        while (pos < input.length && (input(pos).isLetterOrDigit || input(pos) == '-')) pos += 1
        Term(sb.toString, isIri = false, lang = input.substring(start, pos))
      } else if (pos + 1 < input.length && input(pos) == '^' && input(pos + 1) == '^') {
        pos += 2
        val dt = if (peek() == '<') iriRef() else pname()
        Term(sb.toString, isIri = false, datatype = dt)
      } else Term(sb.toString, isIri = false)
    }

    // Anonymous ids are `_:b<N>`; named labels from the document are kept
    // verbatim. The generator must never emit an id the document uses as
    // a NAME anywhere (before OR after the allocation point — a named
    // `_:b1` on the last line must not merge with the first anonymous
    // node), so the whole input is pre-scanned for `_:b<N>` tokens. A
    // false positive from a string literal merely skips an id.
    private val namedLabels = collection.mutable.Set[String]() ++=
      "_:b\\d+".r.findAllIn(input)
    private def freshBlank(): Term = {
      blankCounter += 1
      while (namedLabels(s"_:b$blankCounter")) blankCounter += 1
      Term(s"_:b$blankCounter", isIri = true)
    }

    private def blankNode(): Term = {
      expect('[')
      val id = freshBlank()
      if (peek() != ']') predicateObjectList(id)
      expect(']')
      id
    }

    private val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

    /** Collection `( o1 o2 … )` → the standard cons-list: one fresh blank
      * node per cell with rdf:first → item and rdf:rest → next cell (or
      * rdf:nil); `()` is rdf:nil itself. The returned term is the head.
      */
    private def turtleCollection(): Term = {
      expect('(')
      val items = collection.mutable.ArrayBuffer[Term]()
      while (peek() != ')') items += term()
      expect(')')
      if (items.isEmpty) Term(RDF + "nil", isIri = true)
      else {
        val cells = items.map(_ => freshBlank())
        val first = Term(RDF + "first", isIri = true)
        val rest = Term(RDF + "rest", isIri = true)
        for (i <- items.indices) {
          triples += ((cells(i), first, items(i), curGraph))
          triples += ((cells(i), rest,
            if (i == items.length - 1) Term(RDF + "nil", isIri = true)
            else cells(i + 1), curGraph))
        }
        cells.head
      }
    }

    private def term(): Term = peek() match {
      case '<' => Term(iriRef(), isIri = true)
      case '"' | '\'' => stringLit()
      case '[' => blankNode()
      case '(' => turtleCollection()
      case c if c.isDigit || c == '-' || c == '+' =>
        val start = pos
        while (pos < input.length && (input(pos).isDigit ||
          "+-.eE".contains(input(pos)))) pos += 1
        // Turtle DECIMAL requires digits after the dot, so no numeric
        // token ends in '.': trailing dots belong to the statement
        // terminator (same rule as bareToken).
        while (pos > start && input(pos - 1) == '.') pos -= 1
        val lex = input.substring(start, pos)
        // Exponent ⇒ DOUBLE per the Turtle grammar ('1e2' is not even a
        // valid xsd:decimal lexical form); dot ⇒ DECIMAL; else INTEGER.
        val dt =
          if (lex.exists(ch => ch == 'e' || ch == 'E')) XSD + "double"
          else if (lex.contains('.')) XSD + "decimal"
          else XSD + "integer"
        Term(lex, isIri = false, datatype = dt)
      case _ =>
        val save = pos
        val name = bareToken()
        name match {
          case "a" => Term("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", isIri = true)
          case "true" | "false" => Term(name, isIri = false, datatype = XSD + "boolean")
          case n if n.startsWith("_:") =>
            namedLabels += n; Term(n, isIri = true)
          case _ => pos = save; Term(pname(), isIri = true)
        }
    }

    private def predicateObjectList(subject: Term): Unit = {
      var more = true
      while (more) {
        val p = term()
        var moreObjects = true
        while (moreObjects) {
          val o = term()
          triples += ((subject, p, o, curGraph))
          if (peek() == ',') { pos += 1 } else moreObjects = false
        }
        if (peek() == ';') {
          pos += 1
          // trailing ';' before '.' or ']' is legal Turtle
          if (peek() == '.' || peek() == ']') more = false
        } else more = false
      }
    }

    // Directive lookahead: "PREFIX"/"BASE" (SPARQL style, no dot) are
    // case-insensitive keywords only when followed by whitespace-ish
    // syntax, so a pname like `BASEline:x` is not swallowed.
    private def startsKeyword(kw: String): Boolean =
      input.regionMatches(true, pos, kw, 0, kw.length) && {
        val c = if (pos + kw.length < input.length) input(pos + kw.length) else ' '
        c.isWhitespace || c == '<'
      }

    private def prefixDecl(): Unit = {
      ws()
      val end = input.indexOf(':', pos)
      val name = input.substring(pos, end).trim
      pos = end + 1
      prefixes(name) = iriRef()
    }

    def parse(): Unit = {
      while ({ ws(); pos < input.length }) {
        if (input.startsWith("@prefix", pos)) {
          pos += "@prefix".length
          prefixDecl()
          expect('.')
        } else if (input.startsWith("@base", pos)) {
          pos += "@base".length
          base = iriRef()
          expect('.')
        } else if (startsKeyword("PREFIX")) {
          pos += "PREFIX".length
          prefixDecl() // SPARQL-style: no terminating dot
        } else if (startsKeyword("BASE")) {
          pos += "BASE".length
          base = iriRef()
        } else if (trig && startsKeyword("GRAPH")) {
          // TriG: `GRAPH <g> { … }` — the explicit keyword form.
          pos += "GRAPH".length
          wrappedGraph(graphLabel())
        } else if (trig && peek() == '{') {
          // TriG: `{ … }` — an explicit default-graph block.
          wrappedGraph(null)
        } else {
          val save = pos
          val s = term()
          if (trig && peek() == '{')
            // TriG triplesOrGraph: `<g> { … }` — a label, not a subject.
            wrappedGraph({ pos = save; graphLabel() })
          else {
            predicateObjectList(s)
            expect('.')
          }
        }
      }
    }

    /** TriG graph label: an IRI, prefixed name, or blank-node label —
      * never a literal or `[...]` property list. */
    private def graphLabel(): String = peek() match {
      case '<' => iriRef()
      case c if c == '"' || c == '\'' || c == '[' || c == '(' =>
        sys.error(s"a graph label must be an IRI or blank-node label, at $pos")
      case _ =>
        val t = bareToken()
        if (t.startsWith("_:")) t else { pos -= t.length; pname() }
    }

    /** TriG wrappedGraph: `{ triples* }` with the final '.' optional
      * before '}' (the grammar's triplesBlock). */
    private def wrappedGraph(g: String): Unit = {
      expect('{')
      val prev = curGraph
      curGraph = g
      while (peek() != '}') {
        val s = term()
        predicateObjectList(s)
        if (peek() == '.') pos += 1
        else require(peek() == '}',
          s"expected '.' or '}' in graph block at $pos")
      }
      expect('}')
      curGraph = prev
    }
  }

  /** Parse Turtle text into triple tuples. */
  def parseTriples(text: String): Seq[Row] = {
    val p = new Parser(text)
    p.parse()
    p.triples.toSeq.map { case (s, pr, o, _) =>
      Row(s.value, pr.value, o.value, o.isIri, o.lang, o.datatype)
    }
  }

  /** Parse TriG text into quad tuples `(g, s, p, o, oIsIri, oLang,
    * oDatatype)` — g = null for default-graph statements (bare
    * triples, `{…}` blocks); `<g> {…}` / `GRAPH <g> {…}` / `_:g {…}`
    * label their block's triples (X261). Everything Turtle allows is
    * allowed inside a block (lists, collections, nested bnodes — they
    * inherit the block's graph). */
  def parseQuads(text: String): Seq[Row] = {
    val p = new Parser(text, trig = true)
    p.parse()
    p.triples.toSeq.map { case (s, pr, o, g) =>
      Row(g, s.value, pr.value, o.value, o.isIri, o.lang, o.datatype)
    }
  }

  /** Parse a Turtle file into a canonical-schema triples DataFrame. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    spark.createDataFrame(parseTriples(text).asJava, schema)
  }

  /** Turtle SINK (X257) — the parser's write twin, for publishing
    * derived graphs in the serialization catalogs actually ship.
    * Returns (prefix header, one string per SUBJECT BLOCK): the full
    * document is the header + blocks joined by blank lines, kept
    * line-framed so a corpus-sized graph streams out as a distributed
    * scan instead of a driver-side document build.
    *
    * Rendering is CANONICAL (deterministic bytes for a given graph):
    * objects sort lexically within their predicate (`,` lists),
    * predicate lines sort within their subject (`;` continuation),
    * `rdf:type` renders as `a`. IRIs compress under the caller's
    * prefix map when the local part is conservatively PN_LOCAL-safe
    * (`[A-Za-z0-9_-]+` — anything else stays `<…>`, which is always
    * valid); literal bodies reuse the N-Triples escape chain (legal
    * Turtle). Everything is codegen'd builtins + two keyed aggregates
    * ((s,p) then s) — no driver assembly, no UDF.
    */
  def render(triples: DataFrame,
             prefixes: Seq[(String, String)] = Nil): (String, DataFrame) =
    (prefixHeader(prefixes), blocksOf(triples, prefixes, Nil)
      .select(org.apache.spark.sql.functions.col("block")))

  /** TriG SINK (X258) — [[render]]'s DATASET twin over the quad schema
    * (g null = default graph): returns (prefix header, one (g, block)
    * row per graph+subject). Document assembly is framing only: for
    * each named graph emit `<g> {`, its blocks, `}`; default-graph
    * blocks emit bare — the blocks themselves stay distributed and
    * graph-partitionable (write `.partitionBy("g")` and each graph's
    * section is one directory). Same canonical ordering, prefix
    * compaction, and escape rules as [[render]]. */
  def renderTrig(quads: DataFrame,
                 prefixes: Seq[(String, String)] = Nil): (String, DataFrame) =
    (prefixHeader(prefixes), blocksOf(quads, prefixes, Seq("g")))

  private def prefixHeader(prefixes: Seq[(String, String)]): String =
    prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  /** Shared block builder: canonical subject blocks, optionally keyed
    * by extra grouping columns (TriG's `g`). */
  private def blocksOf(rows: DataFrame, prefixes: Seq[(String, String)],
                       extraKeys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    def compactIri(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      prefixes.foldLeft(concat(lit("<"), c, lit(">"))) {
        case (acc, (p, ns)) =>
          // PN_LOCAL may not START with '-' (first char is PN_CHARS_U
          // or a digit) — a leading dash must stay in <…> form.
          val local = substring(c, ns.length + 1, Int.MaxValue)
          when(c.startsWith(ns) && local.rlike("^[A-Za-z0-9_][A-Za-z0-9_-]*$"),
            concat(lit(p + ":"), local)).otherwise(acc)
      }
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val oTerm = when(col("oIsIri"), compactIri(col("o")))
      .otherwise(concat(lit("\""), NTriples.escape(col("o")), lit("\""),
        when(col("oLang").isNotNull, concat(lit("@"), col("oLang")))
          .when(col("oDatatype").isNotNull,
            concat(lit("^^"), compactIri(col("oDatatype"))))
          .otherwise(lit(""))))
    val pTerm = when(col("p") === rdfType, lit("a"))
      .otherwise(compactIri(col("p")))
    val keys = extraKeys.map(col)
    rows
      .select((keys :+ compactIri(col("s")).as("_s")) ++
        Seq(pTerm.as("_p"), oTerm.as("_o")): _*)
      .groupBy(keys ++ Seq(col("_s"), col("_p")): _*)
      .agg(array_join(sort_array(collect_set(col("_o"))), " , ").as("_objs"))
      .select((keys :+ col("_s")) :+
        concat(col("_p"), lit(" "), col("_objs")).as("_po"): _*)
      .groupBy(keys :+ col("_s"): _*)
      .agg(array_join(sort_array(collect_list(col("_po"))), " ;\n  ").as("_body"))
      .select(keys :+
        concat(col("_s"), lit(" "), col("_body"), lit(" .")).as("block"): _*)
  }

  /** Distributed MANY-DOCUMENT Turtle source (X250). Turtle's grammar
    * is whole-document (prefix declarations scope to the file, `;`/`,`
    * lists continue statements), so unlike N-Triples (X246 — splits by
    * LINE) the parallel unit here is the FILE: one task parses one
    * document, which is exactly the catalog-harvest shape — thousands
    * of small .ttl descriptors, not one giant dump (a giant dump
    * should be N-Quads; this source refuses nothing but will
    * single-task it, documented).
    *
    * Returns the QUAD schema with `g` = the document's path RELATIVE
    * to the input root (for a flat directory that is just the file
    * name): each document lands in its own named graph, so the result
    * feeds [[graft.graphquery.Sparql.select]] /
    * provenance-keeping sinks directly. The relative path — not the
    * bare basename — is the key so two `a.ttl` files in different
    * subdirectories stay distinct graphs; it is still deterministic
    * across runs (relative to the INPUT root, not the run-dependent
    * absolute location). Blank nodes are document-scoped per the RDF
    * data model: labels skolemize under `urn:bnode:<relativePath>:` —
    * two documents' `[]` nodes can never merge. A malformed document
    * fails loudly with its file name.
    */
  def readMany(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rootPath = inputRoot(spark, path)
    val docs = spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("src"), col("value"))
      .as[(String, String)]
    docs.flatMap { case (src, text) =>
      val name = relativeName(src, rootPath)
      def skolem(v: String): String =
        if (v.startsWith("_:")) s"urn:bnode:$name:${v.stripPrefix("_:")}"
        else v
      val rows =
        try parseTriples(text)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"malformed Turtle document $name: ${e.getMessage}", e)
        }
      rows.map { r =>
        (name, skolem(r.getString(0)), r.getString(1),
          if (r.getBoolean(3)) skolem(r.getString(2)) else r.getString(2),
          r.getBoolean(3), r.getString(4), r.getString(5))
      }
    }.toDF("g", "s", "p", "o", "oIsIri", "oLang", "oDatatype")
  }

  /** Distributed MANY-DOCUMENT TriG source (X261 — [[renderTrig]]'s
    * reading twin, completing the source/sink symmetry: N-Triples ✓✓,
    * N-Quads ✓✓, Turtle ✓✓, TriG ✓✓). Same parallel unit as
    * [[readMany]] — TriG is a whole-document grammar, so one task
    * parses one document — but the graph column comes from the
    * DOCUMENT'S OWN named-graph blocks, not the file: `<g> {…}` rows
    * carry g, bare/`{…}` statements land in the default graph
    * (g = null), and two documents naming the same graph MERGE into it
    * (RDF dataset semantics — per-file provenance is [[readMany]]'s
    * job). Blank nodes still skolemize per document
    * (`urn:bnode:<relativePath>:`), across ALL of a document's blocks
    * — TriG scopes labels to the document, not the block. A malformed
    * document fails loudly with its file name.
    */
  def readManyTrig(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rootPath = inputRoot(spark, path)
    val docs = spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("src"), col("value"))
      .as[(String, String)]
    docs.flatMap { case (src, text) =>
      val name = relativeName(src, rootPath)
      def skolem(v: String): String =
        if (v != null && v.startsWith("_:"))
          s"urn:bnode:$name:${v.stripPrefix("_:")}"
        else v
      val rows =
        try parseQuads(text)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"malformed TriG document $name: ${e.getMessage}", e)
        }
      rows.map { r =>
        (skolem(r.getString(0)), skolem(r.getString(1)), r.getString(2),
          if (r.getBoolean(4)) skolem(r.getString(3)) else r.getString(3),
          r.getBoolean(4), r.getString(5), r.getString(6))
      }
    }.toDF("g", "s", "p", "o", "oIsIri", "oLang", "oDatatype")
  }

  /** The qualified, glob-free root of an input `path` — the deepest
    * ancestor with no glob metacharacters: a directory input names
    * itself; a file or glob input names its parent. Graph labels key
    * off paths RELATIVE to this root, so they stay deterministic when
    * the tree moves but distinct when basenames collide across
    * subdirectories. */
  private def inputRoot(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Glob metacharacters anywhere in the remaining PREFIX (not just
    // the leaf — `dir/*/a.ttl` globs a middle segment) push the root
    // one level up.
    def globFree(p: Path): Path =
      if (p == null) new Path("/")
      else if (p.toString.exists("*?{}[]".contains(_))) globFree(p.getParent)
      else p
    val base = globFree(hp)
    val dir =
      try { if (fs.getFileStatus(base).isFile) base.getParent else base }
      catch { case _: java.io.FileNotFoundException => base.getParent }
    fs.makeQualified(dir).toUri.getPath
  }

  /** `src` (an `input_file_name` URI) relative to [[inputRoot]];
    * falls back to the basename if the file sits outside the root
    * (symlinked trees) — never empty. */
  private def relativeName(src: String, rootPath: String): String = {
    val p =
      try new java.net.URI(src).getPath
      catch { case _: java.net.URISyntaxException => src }
    if (p != null && p.startsWith(rootPath + "/"))
      p.substring(rootPath.length + 1)
    else {
      val raw = if (p == null) src else p
      raw.substring(raw.lastIndexOf('/') + 1)
    }
  }
}
