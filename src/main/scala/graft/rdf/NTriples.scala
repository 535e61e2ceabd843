package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-Triples rendering of the canonical triple schema (SURVEY.md §1.2).
  *
  * Mirrors the reference's text sink
  * (t-fdpToRdf/src/main/java/com/linkedpipes/plugin/transformer/fdp/
  * PlainTextTripleWriter.java:27-57): IRIs wrapped in `<>`, literals quoted
  * with `@lang` / `^^<datatype>` suffixes, terminator `" ."` + CRLF
  * (PlainTextTripleWriter.java:38). Literal bodies get standard N-Triples
  * escaping (backslash, quote, \n, \r, \t) so output stays parseable for
  * any input text.
  *
  * Everything is built from codegen'd builtins (concat / replace / when) —
  * no UDF — so the renderer stays inside whole-stage codegen at 100 TB.
  */
object NTriples {

  /** Escape a literal body per N-Triples: \ " \n \r \t. Order matters —
    * backslash first so introduced escapes aren't re-escaped.
    */
  def escape(c: Column): Column = {
    val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
    esc.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
  }

  /** Render the object term: IRI, plain / lang-tagged / datatyped literal. */
  def objectTerm(o: Column, oIsIri: Column, oLang: Column, oDatatype: Column): Column =
    when(oIsIri, concat(lit("<"), o, lit(">")))
      .otherwise(concat(
        lit("\""), escape(o), lit("\""),
        when(oLang.isNotNull, concat(lit("@"), oLang))
          .when(oDatatype.isNotNull, concat(lit("^^<"), oDatatype, lit(">")))
          .otherwise(lit(""))))

  /** One N-Triples line (no trailing newline — the text sink appends it). */
  def line(s: Column, p: Column, o: Column, oIsIri: Column,
           oLang: Column, oDatatype: Column): Column =
    concat(lit("<"), s, lit("> <"), p, lit("> "),
      objectTerm(o, oIsIri, oLang, oDatatype), lit(" ."))

  /** Same line with the reference's CRLF terminator, for byte parity with
    * PlainTextTripleWriter output files.
    */
  def lineCrLf(s: Column, p: Column, o: Column, oIsIri: Column,
               oLang: Column, oDatatype: Column): Column =
    concat(line(s, p, o, oIsIri, oLang, oDatatype), lit("\r\n"))

  /** One N-Quads line (RDF 1.1 N-Quads) — the DATASET sink matching
    * [[graft.graphquery.Sparql.select]]'s quad input layout: the
    * triple statement with the graph label before the terminator; a
    * null `g` (default-graph row) renders as a plain N-Triples
    * statement, per the spec's optional graph slot. Same codegen'd
    * builtins as [[line]].
    */
  def quadLine(s: Column, p: Column, o: Column, oIsIri: Column,
               oLang: Column, oDatatype: Column, g: Column): Column =
    concat(lit("<"), s, lit("> <"), p, lit("> "),
      objectTerm(o, oIsIri, oLang, oDatatype),
      when(g.isNotNull, concat(lit(" <"), g, lit(">"))).otherwise(lit("")),
      lit(" ."))

  /** The `<s> <p> object` body shared by [[lineSql]] and
    * [[quadLineSql]] — ONE copy of the escape chain and object-term
    * CASE, so an escaping fix cannot drift between the two renderers.
    * Lines must not begin with `|`: callers interpolate this into
    * their own stripMargin strings, which would eat it. */
  /** DuckDB SQL mirror of [[objectTerm]] over (o, oIsIri, oLang,
    * oDatatype) — shared by the line renderers below and the TSV
    * result-format oracle (ONE copy of the escape chain). Must not
    * begin with `|` (interpolated into stripMargin strings). */
  val objectTermSql: String = {
    val esc = "replace(replace(replace(replace(replace(o," +
      " '\\', '\\\\')," +
      " '\"', '\\\"')," +
      " chr(10), '\\n')," +
      " chr(13), '\\r')," +
      " chr(9), '\\t')"
    s"""CASE WHEN oIsIri THEN '<' || o || '>'
       |     ELSE '"' || $esc || '"' ||
       |          CASE WHEN oLang IS NOT NULL THEN '@' || oLang
       |               WHEN oDatatype IS NOT NULL THEN '^^<' || oDatatype || '>'
       |               ELSE '' END
       |END""".stripMargin
  }

  private val tripleBodySql: String =
    s"'<' || s || '> <' || p || '> ' ||\n$objectTermSql"

  /** DuckDB SQL mirror of [[line]] over columns named
    * (s, p, o, oIsIri, oLang, oDatatype) — used by oracle queries.
    */
  val lineSql: String = s"$tripleBodySql || ' .'"

  /** DuckDB SQL mirror of [[quadLine]] over (s, p, o, oIsIri, oLang,
    * oDatatype, g). */
  val quadLineSql: String = tripleBodySql +
    " ||\nCASE WHEN g IS NOT NULL THEN ' <' || g || '>' ELSE '' END || ' .'"

  // ---------------------------------------------------------------------
  // Read side — the distributed N-Triples / N-Quads SOURCE (X246).
  //
  // N-Triples/N-Quads is a LINE-ORIENTED format: every statement is one
  // line, independent of every other. That makes it the one RDF
  // serialization that is trivially SPLITTABLE — `spark.read.text` hands
  // each executor its own byte ranges and the [[NtParse.NtParseExpr]]
  // kernel parses lines with no cross-line state, so a 100 TB dump
  // parallelizes across 1000 executors with zero coordination. Contrast
  // [[Turtle]]: prefixes and `;`/`,` continuation make that grammar
  // whole-document, which is why Turtle stays a driver-side fixture
  // parser and the at-scale interchange path is THIS one.
  // ---------------------------------------------------------------------

  /** Default IRI prefix for skolemized blank-node labels (`_:b7` →
    * `urn:bnode:b7`); labels are file-scoped per the spec, so callers
    * merging several dumps should pass a distinct prefix per dump. */
  val DefaultSkolemPrefix = "urn:bnode:"

  /** Parse a DataFrame of raw statement lines (column `value`, as
    * produced by `spark.read.text`) into the canonical quad schema
    * (g, s, p, o, oIsIri, oLang, oDatatype); g is null for triple
    * statements (default graph). Blank lines and full-line comments
    * are filtered; `strict = true` (the default) raises on the first
    * malformed statement with the offending line in the message —
    * silent row loss is not an option for a corpus loader — while
    * `strict = false` drops malformed lines (salvage mode for known-
    * dirty dumps). Whole pipeline is codegen'd: a trim/prefix
    * prefilter plus one single-pass parse kernel per line.
    */
  def parseQuads(spark: SparkSession, lines: DataFrame, strict: Boolean = true,
                 skolemPrefix: String = DefaultSkolemPrefix): DataFrame = {
    graft.functions.NativeExpressions.register(spark)
    // trim() strips spaces only — the grammar's whitespace is space+tab
    // (SQL syntax: the two-arg Column form logs a deprecation).
    val t = expr("trim(BOTH ' \t' FROM value)")
    val stmts = lines.filter(t =!= "" && !startswith(t, lit("#")))
    val parsed = stmts.select(col("value"),
      call_function("nt_parse", col("value"), lit(skolemPrefix)).as("q"))
    // The strict guard is a FILTER, not a projected column: a guard
    // column is dead code to the optimizer under column pruning (e.g.
    // a bare count()) and would silently disarm. raise_error throws
    // during predicate evaluation on the first malformed line.
    val checked =
      if (strict) parsed.filter(
        when(col("q").isNull, raise_error(concat(
          lit("malformed N-Triples/N-Quads statement: "), col("value")))
          .cast("boolean")).otherwise(lit(true)))
      else parsed.filter(col("q").isNotNull)
    checked.select(col("q.g"), col("q.s"), col("q.p"), col("q.o"),
      col("q.oIsIri"), col("q.oLang"), col("q.oDatatype"))
  }

  /** Read an N-Quads (or N-Triples — g comes back null) file or
    * directory into the canonical quad schema. Splittable scan: text
    * line ranges parallelize with no cross-line state. */
  def readQuads(spark: SparkSession, path: String, strict: Boolean = true,
                skolemPrefix: String = DefaultSkolemPrefix): DataFrame =
    parseQuads(spark, spark.read.text(path), strict, skolemPrefix)

  /** Read a pure N-Triples file into the TRIPLE schema (s, p, o,
    * oIsIri, oLang, oDatatype). A quad statement in the input is a
    * format violation here: strict mode raises (naming the graph),
    * lenient mode drops the row.
    */
  def readTriples(spark: SparkSession, path: String, strict: Boolean = true,
                  skolemPrefix: String = DefaultSkolemPrefix): DataFrame = {
    val q = readQuads(spark, path, strict, skolemPrefix)
    // The strict guard lives in a FILTER (a guard column would be
    // pruned as dead by the optimizer, silently disarming it):
    // raise_error throws during predicate evaluation on the first
    // quad statement.
    val guarded =
      if (strict) q.filter(
        when(col("g").isNotNull, raise_error(concat(
          lit("quad statement in N-Triples input (graph <"), col("g"),
          lit(">)"))).cast("boolean")).otherwise(lit(true)))
      else q.filter(col("g").isNull)
    guarded.select("s", "p", "o", "oIsIri", "oLang", "oDatatype")
  }
}
