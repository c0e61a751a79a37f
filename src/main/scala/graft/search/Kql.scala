package graft.search

import scala.collection.mutable.ArrayBuffer

/**
 * KQL query language — AST + hand-rolled lexer/recursive-descent parser,
 * re-expressing the reference grammar
 * (components/core/src/clp_s/search/kql/Kql.g4): `col : value`, range
 * operators `< > <= >=`, AND/OR/NOT (case-insensitive, equal precedence,
 * left-associative, NOT binds tightest), nested queries `col : {q}`, value
 * lists `col : (v1 OR v2)`, quoted strings, `date(...)` literals, and
 * wildcards in both columns and values.
 */
object Kql {

  // ---- AST ------------------------------------------------------------------

  sealed trait Op
  case object Eq extends Op
  case object Lt extends Op
  case object Gt extends Op
  case object Lte extends Op
  case object Gte extends Op

  sealed trait Expr
  /** columnPath empty ⇒ pure-wildcard column (`*: value`). `isDate` marks a
    * date(...) literal value. */
  final case class Filter(columnPath: Seq[String], op: Op, value: String,
                          isDate: Boolean = false) extends Expr
  final case class And(lhs: Expr, rhs: Expr) extends Expr
  final case class Or(lhs: Expr, rhs: Expr) extends Expr
  final case class Not(e: Expr) extends Expr

  // ---- lexer ----------------------------------------------------------------

  private sealed trait Tok
  private case object LPar extends Tok
  private case object RPar extends Tok
  private case object LBrace extends Tok
  private case object RBrace extends Tok
  private case object Colon extends Tok
  private final case class Range(op: String) extends Tok
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private final case class Lit(raw: String, quoted: Boolean) extends Tok
  private final case class DateLit(value: String) extends Tok

  private def lex(s: String): Either[String, Vector[Tok]] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
      else if (c == '(') { out += LPar; i += 1 }
      else if (c == ')') { out += RPar; i += 1 }
      else if (c == '{') { out += LBrace; i += 1 }
      else if (c == '}') { out += RBrace; i += 1 }
      else if (c == ':') { out += Colon; i += 1 }
      else if (c == '<' || c == '>') {
        if (i + 1 < n && s.charAt(i + 1) == '=') { out += Range(s.substring(i, i + 2)); i += 2 }
        else { out += Range(c.toString); i += 1 }
      } else if (c == '"') {
        val sb = new java.lang.StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          val qc = s.charAt(i)
          // \\ must consume as a pair (kept escaped for unescapeValue), or a
          // value ending in an escaped backslash would read \" as an escaped
          // quote and swallow the real string terminator
          if (qc == '\\' && i + 1 < n && s.charAt(i + 1) == '\\') { sb.append("\\\\"); i += 2 }
          else if (qc == '\\' && i + 1 < n && s.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
          else if (qc == '"') { closed = true; i += 1 }
          else { sb.append(qc); i += 1 }
        }
        if (!closed) return Left("unterminated quoted string")
        out += Lit(sb.toString, quoted = true)
      } else if (s.regionMatches(true, i, "date(", 0, 5)) {
        val close = s.indexOf(')', i)
        if (close < 0) return Left("unterminated date literal")
        var inner = s.substring(i + 5, close)
        if (inner.startsWith("\"") && inner.endsWith("\"") && inner.length >= 2)
          inner = inner.substring(1, inner.length - 1)
        out += DateLit(inner)
        i = close + 1
      } else {
        // unquoted literal: anything but \():<>"{} and whitespace; '\' escapes
        val sb = new java.lang.StringBuilder
        var stop = false
        while (i < n && !stop) {
          val uc = s.charAt(i)
          if (uc == '\\' && i + 1 < n) { sb.append(uc).append(s.charAt(i + 1)); i += 2 }
          else if ("():<>\"{} \t\r\n".indexOf(uc) >= 0) stop = true
          else { sb.append(uc); i += 1 }
        }
        val raw = sb.toString
        raw.toLowerCase match {
          case "and" => out += TAnd
          case "or" => out += TOr
          case "not" => out += TNot
          case _ => out += Lit(raw, quoted = false)
        }
      }
    }
    Right(out.toVector)
  }

  // ---- parser ---------------------------------------------------------------

  def parse(query: String): Either[String, Expr] =
    lex(query).flatMap { toks =>
      val p = new Parser(toks)
      p.parseQuery(Nil).flatMap { e =>
        if (p.pos < toks.length) Left(s"trailing tokens at ${p.pos}") else Right(e)
      }
    }

  /** [[parse]] for callers that refuse a bad query loudly. */
  def parseOrThrow(query: String): Expr =
    parse(query).fold(err => throw new IllegalArgumentException(s"KQL parse error: $err"), identity)

  private final class Parser(toks: Vector[Tok]) {
    var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }

    /** query := atom ((AND|OR) atom)*  — equal precedence, left-assoc. */
    def parseQuery(prefix: Seq[String]): Either[String, Expr] =
      parseAtom(prefix).flatMap { first =>
        var acc = first
        var err: String = null
        var continue = true
        while (continue && err == null) {
          peek match {
            case Some(TAnd) => next(); parseAtom(prefix) match {
              case Right(r) => acc = And(acc, r)
              case Left(e) => err = e
            }
            case Some(TOr) => next(); parseAtom(prefix) match {
              case Right(r) => acc = Or(acc, r)
              case Left(e) => err = e
            }
            case _ => continue = false
          }
        }
        if (err != null) Left(err) else Right(acc)
      }

    private def parseAtom(prefix: Seq[String]): Either[String, Expr] = peek match {
      case Some(TNot) => next(); parseAtom(prefix).map(Not)
      case Some(LPar) =>
        next()
        parseQuery(prefix).flatMap { q =>
          peek match {
            case Some(RPar) => next(); Right(q)
            case _ => Left("expected ')'")
          }
        }
      case Some(Lit(raw, quoted)) =>
        next()
        peek match {
          case Some(Colon) =>
            next()
            val colPath = prefix ++ splitColumn(raw)
            peek match {
              case Some(LBrace) => // nested query: col : { q }
                next()
                parseQuery(colPath).flatMap { q =>
                  peek match {
                    case Some(RBrace) => next(); Right(q)
                    case _ => Left("expected '}'")
                  }
                }
              case Some(LPar) => // value list: col : (OR v1 v2) / (v1 OR v2)
                next()
                parseValueList(colPath)
              case Some(Lit(v, vq)) =>
                next(); Right(Filter(pureCol(colPath, quoted), Eq, v))
              case Some(DateLit(d)) =>
                next(); Right(Filter(pureCol(colPath, quoted), Eq, d, isDate = true))
              case _ => Left(s"expected value after '$raw:'")
            }
          case Some(Range(op)) =>
            next()
            val colPath = prefix ++ splitColumn(raw)
            val o = op match {
              case "<" => Lt; case ">" => Gt; case "<=" => Lte; case _ => Gte
            }
            peek match {
              case Some(Lit(v, _)) => next(); Right(Filter(colPath, o, v))
              case Some(DateLit(d)) => next(); Right(Filter(colPath, o, d, isDate = true))
              case _ => Left(s"expected value after '$raw $op'")
            }
          case _ =>
            // bare value expression: matches any column — scoped UNDER the
            // nested-query prefix when inside one (a: {foo} must not match
            // foo in unrelated columns; the trailing '*' spans the subtree)
            Right(Filter(if (prefix.isEmpty) Nil else prefix :+ "*", Eq, raw))
        }
      case other => Left(s"unexpected token $other")
    }

    /** (AND|OR|NOT)? literal* ')' — default OR. */
    private def parseValueList(colPath: Seq[String]): Either[String, Expr] = {
      val mode0 = peek match {
        case Some(TAnd) => next(); "and"
        case Some(TOr) => next(); "or"
        case Some(TNot) => next(); "not"
        case _ => "or"
      }
      // accept both the grammar's leading-connective form `(OR v1 v2)` and the
      // common infix form `(v1 OR v2)`; an infix connective sets the mode,
      // NOT before a literal inverts just that literal
      val vals = ArrayBuffer.empty[Expr]
      var mode = mode0
      var negNext = false
      var continue = true
      while (continue) {
        peek match {
          case Some(Lit(v, _)) =>
            next()
            val f = Filter(colPath, Eq, v)
            vals += (if (negNext) Not(f) else f); negNext = false
          case Some(DateLit(d)) =>
            next()
            val f = Filter(colPath, Eq, d, isDate = true)
            vals += (if (negNext) Not(f) else f); negNext = false
          case Some(TAnd) => next(); mode = "and"
          case Some(TOr) => next(); mode = "or"
          case Some(TNot) => next(); negNext = true
          case _ => continue = false
        }
      }
      peek match {
        case Some(RPar) => next()
        case _ => return Left("expected ')' closing value list")
      }
      if (vals.isEmpty) return Left("empty value list")
      val combined: Expr = mode match {
        case "and" => vals.reduceLeft((a, b) => And(a, b))
        case "not" => vals.map(v => Not(v): Expr).reduceLeft((a, b) => And(a, b))
        case _ => vals.reduceLeft((a, b) => Or(a, b))
      }
      Right(combined)
    }

    private def pureCol(path: Seq[String], quoted: Boolean): Seq[String] =
      if (!quoted && path.lastOption.contains("*") && path.length == 1) Nil else path
  }

  /** Splits a column descriptor on unescaped '.' segments. */
  def splitColumn(raw: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length) { sb.append(c).append(raw.charAt(i + 1)); i += 2 }
      else if (c == '.') { out += sb.toString; sb.setLength(0); i += 1 }
      else { sb.append(c); i += 1 }
    }
    out += sb.toString
    out.toSeq
  }
}
