package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Wildcard
import graft.functions.ClpFunctions.wildcard_match

/**
 * Compiles a KQL AST into a Catalyst `Column` predicate against a DataFrame
 * schema — the Spark twin of the reference's SchemaMatch + QueryRunner chain
 * (components/core/src/clp_s/search/SchemaMatch.cpp, QueryRunner.cpp); the
 * DNF / constant-folding / type-narrowing passes the reference hand-rolls
 * (OrOfAndForm.cpp, NarrowTypes.cpp, ConstantProp.cpp) come free from
 * Catalyst's BooleanSimplification / ConstantFolding once the predicate is
 * declarative.
 *
 * Semantics mirrored from the reference:
 *   - wildcard column paths (`a.*.c`, pure `*`) resolve against the schema
 *     at compile time (Q9); a filter whose path matches nothing folds to
 *     FALSE — **including under NOT** (the compiler normalizes to NNF
 *     first, so `NOT a: b` on a schema without `a` cannot match, exactly
 *     like SchemaMatch pruning a negated filter whose column is absent)
 *   - within a resolved column, NOT is null-safe: records where the column
 *     IS NULL count as not-matched-by-inner ⇒ they match the negation
 *   - paths crossing an array of structs compile to `exists(arr, x -> …)`
 *     (the reference evaluates filters inside arrays; QueryRunner array
 *     iteration)
 *   - KQL escape sequences in values (`\n`, `\t`, `\"`, `\\`, `\u####`, …)
 *     are interpreted; `\*` / `\?` stay literal wildcard characters
 */
object KqlCompiler {

  /** One resolved leaf: either a plain (possibly nested-struct) column, or
    * a field reached through ONE array-of-struct hop. */
  private sealed trait Leaf { def dt: DataType }
  private final case class Scalar(path: Seq[String], dt: DataType,
      dateEpoch: Boolean = false) extends Leaf
  private final case class ArrayField(arrPath: Seq[String], inner: Seq[String], dt: DataType)
    extends Leaf
  private final case class ArrayElem(arrPath: Seq[String], dt: DataType) extends Leaf

  /** All addressable leaves of a schema, with their logical dotted paths. */
  // memoized per schema: nnf calls this for EVERY Filter leaf, and
  // kqlSearch compiles the same expression against O(catalog) schemas — a
  // 20-leaf query over 200 schemas would otherwise walk schemas 4000 times.
  // Bounded: cleared wholesale if an unusually diverse catalog fills it.
  private val leavesCache =
    new java.util.concurrent.ConcurrentHashMap[StructType, Seq[(Seq[String], Leaf)]]()
  private def leaves(schema: StructType): Seq[(Seq[String], Leaf)] = {
    if (leavesCache.size > 20000) leavesCache.clear()
    leavesCache.computeIfAbsent(schema, computeLeaves(_))
  }

  private def computeLeaves(schema: StructType): Seq[(Seq[String], Leaf)] = {
    def walk(st: StructType, prefix: Seq[String], arr: Option[Seq[String]])
        : Seq[(Seq[String], Leaf)] =
      st.fields.toSeq.flatMap { f =>
        val p = prefix :+ f.name
        f.dataType match {
          case nested: StructType => walk(nested, p, arr)
          case ArrayType(nested: StructType, _) if arr.isEmpty =>
            // one array hop: fields inside become exists() leaves
            walk(nested, p, Some(p)).map {
              case (lp, Scalar(full, dt, _)) =>
                (lp, ArrayField(p, full.drop(p.length), dt))
              case other => other
            }
          case ArrayType(elem, _) if arr.isEmpty =>
            Seq(p -> ArrayElem(p, elem))
          case dt =>
            arr match {
              case Some(ap) => Seq(p -> ArrayField(ap, p.drop(ap.length), dt))
              case None =>
                Seq(p -> Scalar(p, dt, f.metadata.contains("graftDateEpoch")))
            }
        }
      }
    walk(schema, Nil, None)
  }

  /**
   * Namespace rule (SchemaMatch: a descriptor's namespace must match before
   * any name matching; wildcard descriptors carry the DEFAULT namespace —
   * clp_s/search/ast/ColumnDescriptor, archive_constants.hpp:32-37): columns
   * in the `$` range-index/metadata namespace are only addressable by a
   * pattern that literally enters it, never by `*` or a bare-value filter;
   * the internal `log_event_idx` store column only by its exact name.
   */
  private def namespaceOk(pattern: Seq[String], path: Seq[String]): Boolean =
    if (path.headOption.exists(_.startsWith("$")))
      pattern.headOption.exists(_.startsWith("$"))
    else if (path == Seq("log_event_idx")) pattern == Seq("log_event_idx")
    else true

  private def pathMatches(pattern: Seq[String], path: Seq[String]): Boolean = {
    // per-segment wildcard match; a lone '*' segment spans exactly one level
    // except leading/trailing '*' which may span multiple (reference semantics
    // for leading/trailing wildcards in SchemaMatch)
    if (pattern.isEmpty) return true // pure wildcard column
    def seg(p: String, s: String): Boolean =
      Wildcard.matches(s, Wildcard.cleanUp(p), caseSensitive = true)
    if (pattern.length == path.length && pattern.zip(path).forall((seg _).tupled)) return true
    if (pattern.headOption.contains("*") && pattern.length <= path.length &&
        pattern.tail.zip(path.takeRight(pattern.length - 1)).forall((seg _).tupled)) return true
    if (pattern.lastOption.contains("*") && pattern.length <= path.length &&
        pattern.init.zip(path.take(pattern.length - 1)).forall((seg _).tupled)) return true
    false
  }

  // ---- KQL value escapes ----------------------------------------------------

  /** Interprets KQL escape sequences. `forPattern=true` keeps `\*`/`\?`/`\\`
    * escaped (they are wildcard-special in the matcher); otherwise they
    * become the literal character. */
  private[search] def unescapeValue(v: String, forPattern: Boolean): String =
    kqlUnescape(v, forPattern)

  private[search] def valueHasWildcard(v: String): Boolean = hasWildcard(v)

  private def kqlUnescape(v: String, forPattern: Boolean): String = {
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 5 < v.length &&
              v.substring(i + 2, i + 6).forall(h =>
                (h >= '0' && h <= '9') || (h >= 'a' && h <= 'f') ||
                  (h >= 'A' && h <= 'F')) =>
            sb.append(Integer.parseInt(v.substring(i + 2, i + 6), 16).toChar); i += 6
          case w @ ('*' | '?') =>
            if (forPattern) sb.append('\\')
            sb.append(w); i += 2
          case '\\' =>
            if (forPattern) sb.append('\\')
            sb.append('\\'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def hasWildcard(v: String): Boolean = {
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\') i += 2
      else if (c == '*' || c == '?') return true
      else i += 1
    }
    false
  }

  /** One leaf-level comparison over an already-built column; None when the
    * (type, op, value) combination is impossible (reference NarrowTypes
    * drops the branch — we fold to false). */
  private def leafPredicate(c: Column, dt: DataType, op: Kql.Op,
                            value: String, isDate: Boolean,
                            dateEpoch: Boolean = false): Option[Column] = {
    def num: Option[Double] = value.toDoubleOption
    // `col: *` is EXISTS regardless of type (the reference's ConvertToExists
    // pass turns the degenerate match-anything filter into an existence
    // check, clp_s/search/ast/ConvertToExists.cpp)
    if (op == Kql.Eq && Wildcard.cleanUp(value) == "*") return Some(c.isNotNull)
    // evaluate_epoch_date_filter (clp_s/search/QueryRunner.cpp:1163-1178):
    // a NUMERIC operand against the timestamp-key column compares the row's
    // ENCODED epoch millis — `$_ts`, always stored alongside DateString
    // leaves — not the raw date string; string/wildcard operands keep the
    // raw-string semantics below. Double compare is exact for epoch millis
    // (< 2^53) and honors fractional operands the way the reference's test
    // corpus does (`timestamp > 1759417024299.9` ⇒ the 1759417024300 row).
    // Divergence: the reference always ingests an encoded time for the
    // timestamp key, so this compare always has a value. Here a date string
    // no pattern parses keeps its record with a null `$_ts`: the compare is
    // null, so the record never matches it, matches its negation (the
    // null-safe NOT in `nnf`), and falls outside every tsLo/tsHi window.
    if (dateEpoch && !hasWildcard(value) && num.isDefined)
      return Some(rangeOp(col(quoteName("$_ts")).cast("double"), op, lit(num.get)))
    (op, dt) match {
      case (Kql.Eq, StringType) =>
        Some(
          if (hasWildcard(value))
            wildcard_match(c, lit(Wildcard.cleanUp(kqlUnescape(value, forPattern = true))))
          else c === lit(kqlUnescape(value, forPattern = false)))
      case (Kql.Eq, _: NumericType) =>
        num.map(d => c === lit(d)) // float/int equality: 1 matches 1.0
      case (Kql.Eq, BooleanType) =>
        value.toLowerCase match {
          case "true" => Some(c === lit(true))
          case "false" => Some(c === lit(false))
          case _ => None
        }
      case (Kql.Eq, TimestampType | TimestampNTZType) =>
        Some(c === to_timestamp(lit(value)))
      case (_, StringType) =>
        // a numeric range literal against a string column is an impossible
        // branch (NarrowTypes drops it — no implicit lexicographic compare
        // of uuids vs numbers); non-numeric literals compare lexicographic
        if (num.isDefined) None else Some(rangeOp(c, op, lit(value)))
      case (_, _: NumericType) => num.map(d => rangeOp(c, op, lit(d)))
      case (_, TimestampType | TimestampNTZType) =>
        Some(rangeOp(c.cast("timestamp"), op, to_timestamp(lit(value))))
      case _ => None
    }
  }

  private def rangeOp(c: Column, op: Kql.Op, v: Column): Column = op match {
    case Kql.Lt => c < v
    case Kql.Gt => c > v
    case Kql.Lte => c <= v
    case Kql.Gte => c >= v
    case Kql.Eq => c === v
  }

  /** Backtick-quote one name part per Spark's attribute syntax: backticks
    * inside a quoted part must be doubled, or any field name containing one
    * (legal in JSON keys) throws INVALID_ATTRIBUTE_NAME_SYNTAX at the first
    * col() that mentions the schema. */
  private[graft] def quoteName(p: String): String = "`" + p.replace("`", "``") + "`"

  private def colOf(path: Seq[String]): Column =
    col(path.map(quoteName).mkString("."))

  private def fieldOf(base: Column, inner: Seq[String]): Column =
    inner.foldLeft(base)(_ getField _)

  private def leafColumn(leaf: Leaf, op: Kql.Op, value: String, isDate: Boolean): Option[Column] =
    leaf match {
      case Scalar(p, dt, dateEpoch) =>
        leafPredicate(colOf(p), dt, op, value, isDate, dateEpoch)
      case ArrayField(ap, inner, dt) =>
        // evaluate inside the array: any element matching satisfies (P9
        // array filters → exists); probe with a dummy to keep None-folding
        leafPredicate(lit(null).cast(dt), dt, op, value, isDate).map { _ =>
          exists(colOf(ap), x => leafPredicate(fieldOf(x, inner), dt, op, value, isDate).get)
        }
      case ArrayElem(ap, dt) =>
        leafPredicate(lit(null).cast(dt), dt, op, value, isDate).map { _ =>
          exists(colOf(ap), x => leafPredicate(x, dt, op, value, isDate).get)
        }
    }

  /** NNF compile with SchemaMatch existence semantics: `neg` tracks whether
    * we are under an odd number of NOTs. */
  private def nnf(expr: Kql.Expr, schema: StructType, neg: Boolean,
                  rangeIndex: Option[Seq[RangeIndex.Entry]]): Column = expr match {
    case Kql.And(l, r) =>
      if (neg) nnf(l, schema, neg, rangeIndex) || nnf(r, schema, neg, rangeIndex)
      else nnf(l, schema, neg, rangeIndex) && nnf(r, schema, neg, rangeIndex)
    case Kql.Or(l, r) =>
      if (neg) nnf(l, schema, neg, rangeIndex) && nnf(r, schema, neg, rangeIndex)
      else nnf(l, schema, neg, rangeIndex) || nnf(r, schema, neg, rangeIndex)
    case Kql.Not(e) => nnf(e, schema, !neg, rangeIndex)
    case Kql.Filter(pattern, op, value, isDate) =>
      val matched = leaves(schema).filter { case (p, _) =>
        namespaceOk(pattern, p) && pathMatches(pattern, p) }
      // column ABSENT from the schema ⇒ the filter cannot match, negated or
      // not (SchemaMatch prunes it); column PRESENT but the (type, value)
      // combination impossible ⇒ the inner filter is constant-false, which a
      // negation DOES satisfy (NarrowTypes branch drop under NOT)
      if (matched.isEmpty) lit(false)
      else {
        val preds = matched.flatMap { case (_, leaf) => leafColumn(leaf, op, value, isDate) }
        val base0 = if (preds.isEmpty) lit(false) else preds.reduce(_ || _)
        // `$`-namespace filter with a range index available: evaluate the
        // filter against the index entries at plan time
        // (EvaluateRangeIndexFilters.cpp). No matching entry ⇒ FALSE (the
        // reference's EmptyExpr — the whole schema folds away, no scan);
        // matching entries ⇒ inject their coalesced [s,e) spans as a
        // log_event_idx predicate (parquet row-group pushdown) conjoined
        // with the row predicate, which keeps the rewrite exact even for
        // overlapping ranges. `$_ts` is the timestamp index's column, not a
        // range-index key — entries never describe it, so any key pattern
        // that COULD match `$_ts` (itself, or a wildcard like `$*`) must
        // skip the rewrite entirely: restricting such a filter to entry
        // hits would drop rows that match via the $_ts leaf.
        // the rewrite is sound only when RangeIndex.satisfies mirrors every
        // matched leaf's row semantics exactly: string + numeric. Boolean
        // (case-insensitive parse) and timestamp (to_timestamp parse) row
        // predicates compare differently from the entry's stored string, so
        // an entry could be wrongly excluded — skip the rewrite there
        def satisfiesDecidable(l: Leaf): Boolean = {
          val dt = l match {
            case Scalar(_, d, _) => d
            case ArrayField(_, _, d) => d
            case ArrayElem(_, d) => d
          }
          dt == StringType || dt.isInstanceOf[NumericType]
        }
        val base = rangeIndex match {
          case Some(entries)
              if pattern.length == 1 && pattern.head.startsWith("$") &&
                matched.forall { case (_, l) => satisfiesDecidable(l) } &&
                !Wildcard.matches("$_ts", Wildcard.cleanUp(pattern.head),
                  caseSensitive = true) =>
            val key = pattern.head
            // entry keys match with the SAME wildcard semantics the row
            // predicate uses (pathMatches) — an exact-key map lookup would
            // fold `$_file*: ...` to constant false even when `$_filename`
            // entries satisfy the filter
            val hits = entries.filter(_.fields.exists { case (k, v) =>
              Wildcard.matches(k, Wildcard.cleanUp(key), caseSensitive = true) &&
                RangeIndex.satisfies(v, op, value, isDate)
            })
            if (hits.isEmpty) lit(false)
            else {
              val idx = col("log_event_idx")
              RangeIndex.coalesceRanges(hits.map(e => (e.startIdx, e.endIdx)))
                .map { case (s, e) => idx >= s && idx < e }
                .reduce(_ || _) && base0
            }
          case _ => base0
        }
        // null-safe negation: NULL column values count as not-matching the
        // inner filter, so they DO match the negation
        if (neg) !coalesce(base, lit(false)) else base
      }
  }

  def compile(expr: Kql.Expr, schema: StructType): Column =
    nnf(expr, schema, neg = false, None)

  /** Compile with range-index-aware `$`-namespace filter evaluation; the
    * schema must expose a `log_event_idx` long column for the injected
    * range predicates to bind against. */
  def compile(expr: Kql.Expr, schema: StructType,
              rangeIndex: Option[Seq[RangeIndex.Entry]]): Column =
    nnf(expr, schema, neg = false, rangeIndex)

  // ---- fleet column-set summaries (the external-SQL column index) -----------

  /** Escape one path segment for the summary encoding: '\', '.', and ':'
    * are structural ([[Kql.splitColumn]]'s escape convention plus the
    * path/type separator). */
  private def escapeSegment(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (c == '\\' || c == '.' || c == ':') sb.append('\\')
      sb.append(c)
    }
    sb.toString
  }

  /** Inverse of [[escapeSegment]] / the escapes [[Kql.splitColumn]] keeps. */
  private def unescapeSegment(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Splits a summary entry at its first UNESCAPED ':' into (path, type). */
  private def splitSummaryEntry(s: String): (String, String) = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == ':') return (s.substring(0, i), s.substring(i + 1))
      else i += 1
    }
    (s, "")
  }

  /**
   * The MPT leaf summary of one search-frame schema: every leaf [[compile]]
   * can address, as `escaped.dotted.path:sparkType` strings — the per-archive
   * column-set index the fleet catalog stores, matching the reference's
   * external-SQL column index (`clp_s/indexer/IndexManager.cpp` registers
   * each archive's (column name, type) pairs in MySQL so an external planner
   * can skip archives lacking a queried column). Computed from the SAME leaf
   * walk `compile` resolves against, so the summary and the real resolution
   * can never drift.
   */
  def leafSummary(schema: StructType): Seq[String] =
    leaves(schema).map { case (p, l) =>
      p.map(escapeSegment).mkString(".") + ":" + l.dt.simpleString
    }.distinct.sorted

  /**
   * Best-effort inverse of [[leafSummary]], for typing a result that never
   * opens an archive (an all-pruned fleet KQL query —
   * `graft.pipeline.ClpCatalog.searchKql`): rebuilds a StructType whose
   * [[resolveProjection]] bindings carry the summarized leaf types. The
   * summary stores only addressable leaves, so two constructs rebuild
   * approximately: an array-of-structs interior rebuilds as a nested struct
   * (the array node itself never appears in the summary) and an
   * array-of-primitives leaf rebuilds as its element type. Both affect only
   * the TYPES of an empty frame — no values ever flow through them.
   */
  private[graft] def schemaFromLeafSummary(summary: Seq[String]): StructType = {
    val entries = summary.map { e =>
      val (p, tp) = splitSummaryEntry(e)
      (Kql.splitColumn(p).map(unescapeSegment),
        try DataType.fromDDL(tp) catch { case _: Exception => StringType })
    }.filter(_._1.nonEmpty)
    def build(items: Seq[(Seq[String], DataType)]): StructType =
      StructType(items.map(_._1.head).distinct.map { h =>
        val sub = items.filter(_._1.head == h)
        val nested = sub.filter(_._1.size > 1)
        // a name can't be both leaf and parent in a real StructType walk; a
        // corrupted summary producing one resolves as the struct
        if (nested.isEmpty) StructField(h, sub.head._2)
        else StructField(h, build(nested.map { case (p, t) => (p.tail, t) }))
      })
    build(entries)
  }

  /**
   * Plan-time fleet prune over a stored [[leafSummary]]: could `expr` match
   * ANY record drawn from an archive whose addressable leaves are
   * `summary`? Reuses the SAME namespace rule and per-segment wildcard path
   * matching as [[compile]]'s leaf resolution, with the same NNF existence
   * semantics (SchemaMatch: a filter whose pattern matches no leaf is false,
   * negated or not), and [[graft.pipeline.DictBloom]]'s conservatism: a
   * present path is optimistically satisfiable regardless of its type or the
   * operator, so only a DEFINITIVE structural miss prunes — no false
   * negatives, ever.
   */
  def couldMatchLeaves(expr: Kql.Expr, summary: Seq[String]): Boolean = {
    val paths = summary.map(e =>
      Kql.splitColumn(splitSummaryEntry(e)._1).map(unescapeSegment))
    def eval(e: Kql.Expr, neg: Boolean): Boolean = e match {
      case Kql.And(l, r) =>
        if (neg) eval(l, neg) || eval(r, neg) else eval(l, neg) && eval(r, neg)
      case Kql.Or(l, r) =>
        if (neg) eval(l, neg) && eval(r, neg) else eval(l, neg) || eval(r, neg)
      case Kql.Not(inner) => eval(inner, !neg)
      case Kql.Filter(pattern, _, _, _) =>
        // absent ⇒ false whether negated or not (nnf's matched.isEmpty rule);
        // present ⇒ optimistically true (the per-archive compile decides)
        paths.exists(p => namespaceOk(pattern, p) && pathMatches(pattern, p))
    }
    eval(expr, neg = false)
  }

  /**
   * Resolves projection patterns against a schema — the clp_s
   * `--projection` tree walk (search/Projection.cpp:30-95): each pattern is
   * a (possibly wildcard-per-segment) column path that binds to every
   * matching node — struct nodes included, array interiors excluded (a
   * projected array is returned whole). Returns (dotted name, type) in
   * pattern-then-schema order, deduped.
   */
  def resolveProjection(schema: StructType, patterns: Seq[String])
      : Seq[(String, DataType)] = {
    def nodes(st: StructType, prefix: Seq[String]): Seq[(Seq[String], DataType)] =
      st.fields.toSeq.flatMap { f =>
        val p = prefix :+ f.name
        f.dataType match {
          case nested: StructType => (p -> f.dataType) +: nodes(nested, p)
          case dt => Seq(p -> dt)
        }
      }
    val all = nodes(schema, Nil)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    patterns.foreach { pat =>
      // the escape-aware split the filter path uses — a raw split('.') would
      // break patterns addressing columns with escaped dots
      val segs = Kql.splitColumn(pat)
      all.foreach { case (path, dt) =>
        if (namespaceOk(segs, path) && pathMatches(segs, path))
          out.getOrElseUpdate(path.mkString("."), dt)
      }
    }
    out.toSeq
  }

  /** Parse + filter in one step. */
  def filter(df: DataFrame, kql: String): DataFrame =
    df.filter(compile(Kql.parseOrThrow(kql), df.schema))
}
