package graft.rdf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass N-Triples / N-Quads STATEMENT parser as a native
  * Catalyst expression — the read side of [[NTriples]]'s render
  * columns (`parse ∘ render = id`, oracle-gated).
  *
  * Why an expression and not a regex chain: extracting 7 fields with
  * `regexp_extract` runs the full line regex once PER FIELD, and
  * builtin `replace` chains cannot unescape `\uXXXX`/`\UXXXXXXXX`
  * correctly (`\\u0041` must stay a literal backslash + "u0041" — a
  * sequential replace can't see the escape context). This kernel
  * scans each line exactly once, decodes every RDF 1.1 N-Triples
  * ECHAR (`\t \b \n \r \f \" \' \\`) and UCHAR (`\uXXXX`,
  * `\UXXXXXXXX`) in literals AND inside IRIREFs, and returns the
  * canonical quad struct. `doGenCode` emits a static call, so the
  * scan stays inside whole-stage codegen — no UDF, no encoder
  * round-trip, one virtual call per line at 100 TB.
  *
  * Line format accepted (RDF 1.1 N-Quads grammar, ASCII whitespace):
  * {{{
  *   subject predicate object [graph] '.' [#comment]
  *   subject := IRIREF | BLANK_NODE_LABEL
  *   object  := IRIREF | BLANK_NODE_LABEL |
  *              STRING_LITERAL_QUOTE ['@'LANGTAG | '^^'IRIREF]
  *   graph   := IRIREF | BLANK_NODE_LABEL
  * }}}
  * Blank-node labels are SKOLEMIZED under a caller-supplied IRI
  * prefix (`_:b7` → `<prefix>b7`, file-scoped labels — the same
  * assumption every skolemizing loader in this repo makes; the
  * [[graft.graphquery.Sparql.select]] quad schema has no
  * bnode term kind). Malformed statements return null — the Column
  * wrappers in [[NTriples]] turn that into a loud error (strict) or
  * a dropped line (lenient). Blank/comment-only lines are filtered
  * BEFORE this expression (cheap `trim`/`startswith` prefilter), so
  * null here always means malformed.
  */
object NtParse {

  val quadType: StructType = StructType(Seq(
    StructField("g", StringType), StructField("s", StringType),
    StructField("p", StringType), StructField("o", StringType),
    StructField("oIsIri", BooleanType), StructField("oLang", StringType),
    StructField("oDatatype", StringType)))

  private def hex(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else -1

  /** Decode `n` hex digits at `from`; -1 on any non-hex digit. */
  private def hexRun(s: String, from: Int, n: Int): Int = {
    if (from + n > s.length) return -1
    var v = 0
    var i = 0
    while (i < n) {
      val h = hex(s.charAt(from + i))
      if (h < 0) return -1
      v = (v << 4) | h
      i += 1
    }
    v
  }

  /** Parser over one statement line. Field extraction returns null on
    * the first grammar violation; `pos` survives across term calls. */
  private final class Scan(val s: String) {
    var pos = 0
    var failed = false
    def fail[T >: Null]: T = { failed = true; null }

    def ws(): Unit =
      while (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t'))
        pos += 1

    def atEnd: Boolean = pos >= s.length

    /** `<...>` with UCHAR decoding; cursor past the closing `>`. */
    def iriRef(): String = {
      if (atEnd || s.charAt(pos) != '<') return fail
      pos += 1
      val sb = new java.lang.StringBuilder(32)
      while (!atEnd && s.charAt(pos) != '>') {
        val c = s.charAt(pos)
        if (c == '\\') {
          val decoded = uchar()
          if (decoded < 0) return fail
          sb.appendCodePoint(decoded)
        } else if (c == ' ' || c == '"' || c == '{' || c == '}' ||
                   c == '|' || c == '^' || c == '`' || c < ' ') {
          // IRIREF excludes these unescaped (N-Triples §IRIREF).
          return fail
        } else { sb.append(c); pos += 1 }
      }
      if (atEnd) return fail
      pos += 1 // '>'
      sb.toString
    }

    /** `\uXXXX` / `\UXXXXXXXX` at cursor (cursor ON the backslash);
      * returns the code point and advances, or -1. */
    private def uchar(): Int = {
      if (pos + 1 >= s.length) return -1
      s.charAt(pos + 1) match {
        case 'u' =>
          val v = hexRun(s, pos + 2, 4)
          if (v >= 0) pos += 6
          v
        case 'U' =>
          val v = hexRun(s, pos + 2, 8)
          if (v >= 0 && Character.isValidCodePoint(v)) { pos += 10; v }
          else -1
        case _ => -1
      }
    }

    /** `_:label`; cursor past the label. Label charset is lenient
      * (any run of chars that cannot start the NEXT token), which
      * accepts every generator's output incl. the W3C suite's dotted
      * labels — BUT the grammar says a '.' cannot END a label, which
      * is what makes minimal-whitespace statements like
      * `_:s <p> _:o.` parse: trailing dots are given back as the
      * statement terminator. '<' and '"' open the next term and stop
      * the scan too. */
    def bnodeLabel(): String = {
      if (pos + 1 >= s.length || s.charAt(pos) != '_' ||
          s.charAt(pos + 1) != ':') return fail
      val start = pos + 2
      var i = start
      // Stops: whitespace, the next term's opener, or a comment —
      // '#' is not PN_CHARS, and `_:o.#note` must parse like
      // `<urn:o>.#note` does.
      while (i < s.length && {
        val c = s.charAt(i)
        c != ' ' && c != '\t' && c != '<' && c != '"' && c != '#'
      }) i += 1
      // Trailing '.'s terminate the statement, not the label (the
      // BLANK_NODE_LABEL grammar allows dots medially only).
      while (i > start && s.charAt(i - 1) == '.') i -= 1
      if (i == start) return fail
      pos = i
      s.substring(start, i)
    }

    /** `"..."` body with ECHAR + UCHAR decoding; cursor past the
      * closing quote. */
    def literalBody(): String = {
      if (atEnd || s.charAt(pos) != '"') return fail
      pos += 1
      val sb = new java.lang.StringBuilder(64)
      while (!atEnd && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          if (pos + 1 >= s.length) return fail
          s.charAt(pos + 1) match {
            case 't' => sb.append('\t'); pos += 2
            case 'b' => sb.append('\b'); pos += 2
            case 'n' => sb.append('\n'); pos += 2
            case 'r' => sb.append('\r'); pos += 2
            case 'f' => sb.append('\f'); pos += 2
            case '"' => sb.append('"'); pos += 2
            case '\'' => sb.append('\''); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case 'u' | 'U' =>
              val decoded = uchar()
              if (decoded < 0) return fail
              sb.appendCodePoint(decoded)
            case _ => return fail
          }
        } else { sb.append(c); pos += 1 }
      }
      if (atEnd) return fail
      pos += 1 // closing '"'
      sb.toString
    }

    /** `@lang` tag, STRUCTURALLY per LANGTAG
      * `[a-zA-Z]+('-'[a-zA-Z0-9]+)*` — a trailing `-` or empty subtag
      * (`en-`, `en--us`) is malformed, not silently accepted (it would
      * round-trip into non-conformant output downstream). */
    def langTag(): String = {
      pos += 1 // '@'
      val start = pos
      def alpha(c: Char) =
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      def alnum(c: Char) = alpha(c) || (c >= '0' && c <= '9')
      while (pos < s.length && alpha(s.charAt(pos))) pos += 1
      if (pos == start) return fail
      while (pos < s.length && s.charAt(pos) == '-') {
        pos += 1
        val sub = pos
        while (pos < s.length && alnum(s.charAt(pos))) pos += 1
        if (pos == sub) return fail
      }
      s.substring(start, pos)
    }
  }

  /** Parse one statement line → quad InternalRow, or null if
    * malformed. `skolem` prefixes blank-node labels into IRIs. */
  def parseLine(line: UTF8String, skolem: UTF8String): InternalRow = {
    if (line == null) return null
    val sc = new Scan(line.toString)
    val skolemPrefix = skolem.toString

    def term(): (String, Boolean) = {
      sc.ws()
      if (sc.atEnd) return (sc.fail, false)
      sc.s.charAt(sc.pos) match {
        case '<' =>
          val iri = sc.iriRef()
          if (iri == null) (null, false) else (iri, true)
        case '_' =>
          val label = sc.bnodeLabel()
          if (label == null) (null, false) else (skolemPrefix + label, true)
        case _ => (sc.fail, false)
      }
    }

    val (subj, _) = term()
    if (sc.failed) return null
    sc.ws()
    val pred = sc.iriRef()
    if (sc.failed) return null

    // Object: IRI / bnode / literal(+lang|+datatype).
    sc.ws()
    var o: String = null
    var oIsIri = false
    var oLang: String = null
    var oDt: String = null
    if (sc.atEnd) return null
    sc.s.charAt(sc.pos) match {
      case '"' =>
        o = sc.literalBody()
        if (sc.failed) return null
        if (!sc.atEnd && sc.s.charAt(sc.pos) == '@') {
          oLang = sc.langTag()
          if (sc.failed) return null
        } else if (sc.pos + 1 < sc.s.length && sc.s.charAt(sc.pos) == '^' &&
                   sc.s.charAt(sc.pos + 1) == '^') {
          sc.pos += 2
          oDt = sc.iriRef()
          if (sc.failed) return null
        }
      case _ =>
        val (t, ok) = term()
        if (!ok) return null
        o = t
        oIsIri = true
    }

    // Optional graph term, then the terminating dot.
    sc.ws()
    var g: String = null
    if (!sc.atEnd && sc.s.charAt(sc.pos) != '.') {
      val (t, ok) = term()
      if (!ok) return null
      g = t
      sc.ws()
    }
    if (sc.atEnd || sc.s.charAt(sc.pos) != '.') return null
    sc.pos += 1
    sc.ws()
    // Only an end-of-line comment may follow the dot.
    if (!sc.atEnd && sc.s.charAt(sc.pos) != '#') return null

    def u(x: String): UTF8String =
      if (x == null) null else UTF8String.fromString(x)
    new GenericInternalRow(Array[Any](
      u(g), u(subj), u(pred), u(o), oIsIri, u(oLang), u(oDt)))
  }

  /** `nt_parse(line, 'skolemPrefix')` → quad struct (null = malformed).
    * The skolem prefix is a plan-time constant (second SQL argument
    * must be a string literal). Registered by
    * [[graft.functions.NativeExpressions]]. */
  case class NtParseExpr(child: Expression, skolemPrefix: String)
      extends UnaryExpression {
    override def dataType: DataType = quadType
    override def nullable: Boolean = true
    private lazy val skolemVal: UTF8String = UTF8String.fromString(skolemPrefix)
    override def nullSafeEval(input: Any): Any =
      parseLine(input.asInstanceOf[UTF8String], skolemVal)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val skolemRef = ctx.addReferenceObj("ntSkolem", skolemVal,
        classOf[UTF8String].getName)
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.rdf.NtParse.parseLine($c, $skolemRef);
           |if (${ev.value} == null) { ${ev.isNull} = true; }
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "nt_parse"
  }
}
