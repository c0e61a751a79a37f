package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ClpEncoding, JsonShape, TimestampPatterns, Wildcard}
import graft.pipeline.JsonPipeline

/**
 * Static (Java-callable) runtime behind the Catalyst expressions — keeps the
 * generated code a single static call so whole-stage codegen stays tight.
 */
object ClpRuntime {
  def encodeRow(text: UTF8String): InternalRow = {
    val e = ClpEncoding.encode(text.toString)
    val dict: Array[AnyRef] = e.dictVars.map(UTF8String.fromString(_): AnyRef)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.logtype),
      new GenericArrayData(dict),
      new GenericArrayData(e.encodedVars)))
  }

  def decode(logtype: UTF8String, encodedVars: ArrayData, dictVars: ArrayData): UTF8String = {
    val enc = if (encodedVars == null) Array.emptyLongArray else encodedVars.toLongArray()
    val n = if (dictVars == null) 0 else dictVars.numElements()
    val dict = new Array[String](n)
    var i = 0
    while (i < n) { dict(i) = dictVars.getUTF8String(i).toString; i += 1 }
    UTF8String.fromString(ClpEncoding.decode(logtype.toString, enc, dict))
  }

  def wildcardMatch(tame: UTF8String, wild: UTF8String, caseSensitive: Boolean): Boolean =
    Wildcard.matches(tame.toString, Wildcard.cleanUp(wild.toString), caseSensitive)

  /** Ordered (not necessarily contiguous) subsequence match over the encoded-var
    * stream — the reference's SubQuery::matches_vars (clp/Query.hpp:240-264). */
  def encodeSchemaRow(text: UTF8String, schema: graft.core.TokenizerSchema): InternalRow = {
    val e = graft.core.SchemaTokenizer.encode(text.toString, schema)
    val dict: Array[AnyRef] = e.dictVars.map(UTF8String.fromString(_): AnyRef)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.logtype),
      new GenericArrayData(dict),
      new GenericArrayData(e.encodedVars)))
  }

  /** One JSON record's shape under the ingest options: (descriptor,
    * timestamp-key epoch millis or null, array-shape entries). The
    * max-document-size guard is the exact UTF-8 length, O(1) on a
    * UTF8String; a null record fails like a malformed one. */
  def jsonShape(json: UTF8String, o: JsonPipeline.Options): InternalRow = {
    if (json == null) throw JsonShape.ParseError("record is null", 0)
    if (json.numBytes.toLong > o.maxDocumentSize)
      throw JsonShape.ParseError(
        s"document exceeds max-document-size (${o.maxDocumentSize} B)", 0)
    val ls = JsonShape.typedLeaves(json.toString, o.retainFloatFormat,
      o.timestampKey, o.structurizeArrays)
    val descriptor = ls.map(l => s"${l.path}:${l.nodeType}").distinct.sorted.mkString(";")
    val ts: java.lang.Long = o.timestampKey.flatMap(k =>
      ls.find(_.path == k).flatMap(l => parseTs(l.nodeType, l.value)))
      .map(java.lang.Long.valueOf).orNull
    // the archive stores keyed columns: a root that is not a non-empty
    // object has no column name to live under and would be silently
    // unqueryable (the reference wraps such roots under an unnamed root
    // node, JsonParser.cpp:437-470 — documented divergence: we refuse).
    // '$'-prefixed and log_event_idx top-level keys collide with the
    // archive's own metadata columns in every search frame — reserved.
    if (ls.headOption.exists(_.path.isEmpty))
      throw JsonShape.ParseError("root must be a non-empty JSON object", 0)
    ls.foreach { l =>
      val head = l.path.takeWhile(_ != '.')
      if (head.startsWith("$") || head == "log_event_idx")
        throw JsonShape.ParseError(s"reserved top-level key '$head'", 0)
    }
    val shapes = ls.iterator
      .filter(l => l.nodeType == "UnstructuredArray" || l.nodeType == "StructuredArray")
      // structurize child leaves ([] path segments) are value-less type
      // markers — a nested array among them would feed shapeOf("") and
      // crash; the array node itself already carries the full raw text,
      // so its shape covers every nested element
      .filterNot(_.path.contains("[]"))
      .map(l => s"${l.path}=${JsonShape.shapeOf(l.value)}")
      .mkString("\u0001")
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(descriptor), ts, UTF8String.fromString(shapes)))
  }

  /** Numeric timestamp-key values are epoch seconds unless already epoch
    * millis (≥10^12); strings go through the reference's timestamp pattern
    * corpus. Unparseable ⇒ None (the record stays, its schema range just
    * doesn't tighten). */
  private def parseTs(nodeType: String, value: String): Option[Long] = nodeType match {
    case "DateString" => TimestampPatterns.searchFull(value).map(_.epochMs)
    case "Integer" =>
      value.toLongOption.map(v => if (math.abs(v) >= 1000000000000L) v else v * 1000L)
    case "Float" | "FormattedFloat" | "DictionaryFloat" =>
      // the same millis-vs-seconds heuristic as Integer — a float epoch-ms
      // value multiplied again would land the range index off by 1000x
      value.toDoubleOption.map(v =>
        if (math.abs(v) >= 1.0e12) v.toLong else (v * 1000.0).toLong)
    case _ => None
  }

  /** A stored record re-serialized from its typed leaves (ordered extract). */
  def jsonReserialize(raw: UTF8String): UTF8String =
    UTF8String.fromString(JsonShape.reserialize(JsonShape.typedLeaves(raw.toString)))

  def tsParse(text: UTF8String): InternalRow =
    TimestampPatterns.searchFull(text.toString) match {
      case Some(m) =>
        new GenericInternalRow(Array[Any](m.patternId, m.epochMs, m.begin, m.end))
      case None => null
    }

  def subseqMatch(vars: ArrayData, queryVars: ArrayData): Boolean = {
    val n = vars.numElements()
    val m = queryVars.numElements()
    var i = 0
    var j = 0
    while (i < n && j < m) {
      if (vars.getLong(i) == queryVars.getLong(j)) j += 1
      i += 1
    }
    j == m
  }

  def mergeVars(logtype: UTF8String, encodedVars: ArrayData, dictIds: ArrayData): ArrayData = {
    val enc = if (encodedVars == null) Array.emptyLongArray else encodedVars.toLongArray()
    val ids = if (dictIds == null) Array.emptyLongArray else dictIds.toLongArray()
    new GenericArrayData(ClpEncoding.mergeVars(logtype.toString, enc, ids))
  }

  /** Splits the merged CLP-order var stream back into (encoded vars,
    * dictionary ids) by the logtype's placeholder kinds — one walk, the
    * decode-side inverse of mergeVars. */
  def splitVars(logtype: UTF8String, vars: ArrayData): InternalRow = {
    val kinds = ClpEncoding.placeholderKinds(logtype.toString)
    val n = math.min(kinds.length, if (vars == null) 0 else vars.numElements())
    var nd = 0
    var i = 0
    while (i < n) { if (kinds(i) == 'd') nd += 1; i += 1 }
    val enc = new Array[Long](n - nd)
    val ids = new Array[Long](nd)
    var e = 0
    var d = 0
    i = 0
    while (i < n) {
      if (kinds(i) == 'd') { ids(d) = vars.getLong(i); d += 1 }
      else { enc(e) = vars.getLong(i); e += 1 }
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(enc), new GenericArrayData(ids)))
  }

  /** Dictionary-id → value resolution through a broadcast inverse dict (the
    * driver-map decode mode); kept codegen-able by carrying the broadcast as
    * a plan reference object. */
  def dictValues(bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]],
                 ids: ArrayData): ArrayData = {
    val m = bc.value
    val n = if (ids == null) 0 else ids.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) { out(i) = UTF8String.fromString(m(ids.getLong(i))); i += 1 }
    new GenericArrayData(out)
  }

  /** One id → value probe of a broadcast inverse dict (the scalar twin of
    * [[dictValues]]). An absent id fails loudly and names itself: a routed
    * row whose id its dictionary lacks is archive drift, never a row to
    * drop from an answer. */
  def dictValue(bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]],
                id: Long, dict: String): UTF8String =
    bc.value.get(id) match {
      case Some(v) => UTF8String.fromString(v)
      case None => throw new IllegalStateException(missingIdMessage(dict, id.toString))
    }

  /** The one wording of a missing dictionary id, in both decode modes. */
  def missingIdMessage(dict: String, id: String): String = s"id $id has no entry in $dict"

  /** Value → id probe of one encode-side broadcast map (the logtype map's
    * entries are (id, sink), the var map's the id alone). Like
    * [[resolveEncode]], a missing value fails loudly. */
  def dictId(bc: org.apache.spark.broadcast.Broadcast[_ <: java.util.Map[String, _]],
             value: UTF8String): Long = {
    val v = value.toString
    bc.value.get(v) match {
      case id: java.lang.Long => id.longValue()
      case (id: Long, _) => id
      case _ => throw new NoSuchElementException(s"value not in dictionary: $v")
    }
  }

  /** Encode-side broadcast resolution — the per-row function every pipeline
    * turn pays: logtype → (id, sink) probe, dict-var → global-id probes, and
    * the CLP-order var splice, in ONE walk with zero boxing beyond the map
    * probes. Missing entries fail loudly: the dictionaries were built from
    * this same corpus, so an absent value means dict/corpus drift, never a
    * row to silently null out. */
  def resolveEncode(
      bcLt: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, (Long, Int)]],
      bcVars: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]],
      logtype: UTF8String, dictVars: ArrayData, encodedVars: ArrayData): InternalRow = {
    val lt = logtype.toString
    val e = bcLt.value.get(lt)
    if (e == null) throw new NoSuchElementException(s"logtype not in dictionary: $lt")
    val vm = bcVars.value
    val n = if (dictVars == null) 0 else dictVars.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = dictVars.getUTF8String(i).toString
      val id = vm.get(v)
      if (id == null) throw new NoSuchElementException(s"variable not in dictionary: $v")
      ids(i) = id.longValue()
      i += 1
    }
    val enc = if (encodedVars == null) Array.emptyLongArray else encodedVars.toLongArray()
    new GenericInternalRow(Array[Any](e._1, e._2,
      new GenericArrayData(ClpEncoding.mergeVars(lt, enc, ids))))
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s) as a non-negative BIGINT — bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` (and to DuckDB's
    * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`) without materializing
    * the 32-char hex string and re-parsing 15 of its chars. */
  def md5Prefix64(s: UTF8String): Long = {
    val md = md5Digest.get(); md.reset()
    val d = md.digest(s.getBytes)
    // hex chars 1..15 = bytes 0..6 in full plus the HIGH nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** All n MinHash signatures in ONE pass over the shingle set — the
    * production-width family (n=128+) would be n interpreted HOF aggregates
    * as Column expressions; here it is one codegen'd walk,
    * O(shingles × fns) integer ops. */
  def minhashSigs(sh: ArrayData, a: Array[Long], b: Array[Long], mod: Long): ArrayData = {
    val nFns = a.length
    val mins = Array.fill(nFns)(Long.MaxValue)
    val nSh = if (sh == null) 0 else sh.numElements()
    var i = 0
    while (i < nSh) {
      val bytes = sh.getUTF8String(i).getBytes
      val h = (scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x9747b28c).toLong
        & 0x7fffffffL) % 1000003L
      var j = 0
      while (j < nFns) {
        val v = (a(j) * h + b(j)) % mod
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Wide SimHash (up to 64 bits): per-bit majority vote of token-hash bits,
    * one codegen'd walk. */
  def simhash64(words: ArrayData, bits: Int): Long = {
    require(bits >= 1 && bits <= 64, s"simhash64 bits must be in 1..64, got $bits")
    val votes = new Array[Int](bits)
    val n = if (words == null) 0 else words.numElements()
    var i = 0
    while (i < n) {
      val bytes = words.getUTF8String(i).getBytes
      var h = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x85ebca6b).toLong
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) >= 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** L2-normalize in ONE pass (sum of squares, then scale) — zero vectors
    * stay zero, so dots against them are 0, never NaN. A HOF-based
    * normalize would re-evaluate the norm subtree per element (ArrayTransform
    * is interpreted, no CSE): O(dim^2) per row vs this O(dim). */
  def vecNormalize(a: ArrayData, aFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (norm > 0) {
      i = 0
      while (i < n) { out(i) /= norm; i += 1 }
    }
    new GenericArrayData(out)
  }

  def vecDot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Nearest-centroid assignment against a BROADCAST centroid matrix — one
    * codegen'd walk over all centroids, O(nlist × dim) primitive ops per
    * row. The literal-per-centroid alternative (`greatest(struct(vec_dot(
    * emb, lit(c0)), …))`) explodes the expression tree and the generated
    * code at production nlist (256–65k cells × 768 dims); here the matrix
    * rides the plan once as a reference object. Strict `>` keeps the first
    * (smallest-id) centroid on exact ties — the same deterministic
    * tie-break as `greatest(struct(dot, -cid))`. */
  def argmaxDot(bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
                v: ArrayData, vFloat: Boolean): Int = {
    val cs = bc.value
    var best = 0
    var bestDot = Double.NegativeInfinity
    val nv = if (v == null) 0 else v.numElements()
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      val n = math.min(nv, c.length)
      var dot = 0.0
      var k = 0
      while (k < n) {
        val x = if (vFloat) v.getFloat(k).toDouble else v.getDouble(k)
        dot += x * c(k)
        k += 1
      }
      if (dot > bestDot) { bestDot = dot; best = i }
      i += 1
    }
    best
  }

  /** Symmetric int8 scalar quantization (the FAISS SQ8 idea): q[i] =
    * floor(x*mult + 0.5) clamped to [-127,127]. floor(x+0.5) rather than
    * round() and a MULTIPLIER rather than a divisor so a SQL oracle
    * (`floor(x * 127 + 0.5)`) reproduces the exact same IEEE operations. */
  def vecSq8(a: ArrayData, aFloat: Boolean, mult: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val q = math.floor(x * mult + 0.5)
      out(i) = math.max(-127.0, math.min(127.0, q)).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Integer dot of two int8-quantized vectors — the coarse ANN scorer.
    * Pure small-integer math: bit-identical ordering on every engine. */
  def vecQDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** `clp_encode(text)` → struct<logtype, dict_vars, encoded_vars>: one-pass
  * CLP tokenize + encode (SURVEY §2.2 P4). */
case class ClpEncodeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ClpEncodeExpr.outputType
  override def nullSafeEval(v: Any): Any = ClpRuntime.encodeRow(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.encodeRow($c)")
  override protected def withNewChildInternal(c: Expression): ClpEncodeExpr = copy(c)
  override def prettyName: String = "clp_encode"
}

object ClpEncodeExpr {
  val outputType: StructType = StructType(Seq(
    StructField("logtype", StringType, nullable = false),
    StructField("dict_vars", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("encoded_vars", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** `clp_decode(logtype, encoded_vars, dict_vars)` → the original text, byte-exact
  * (SURVEY §2.2 P5). */
case class ClpDecodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(l: Any, e: Any, d: Any): Any =
    ClpRuntime.decode(l.asInstanceOf[UTF8String], e.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, e, d) => s"graft.functions.ClpRuntime.decode($l, $e, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): ClpDecodeExpr =
    copy(f, s, t)
  override def prettyName: String = "clp_decode"
}

/** `wildcard_match(str, pattern, case_sensitive)` — CLP glob semantics with
  * escapes (SURVEY §2.2 P7). */
case class WildcardMatchExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Predicate {
  override def nullSafeEval(s: Any, p: Any, c: Any): Any =
    ClpRuntime.wildcardMatch(s.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String], c.asInstanceOf[Boolean])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p, c) => s"graft.functions.ClpRuntime.wildcardMatch($s, $p, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): WildcardMatchExpr =
    copy(f, s, t)
  override def prettyName: String = "wildcard_match"
}

/** `subseq_match(encoded_vars, query_vars)` — in-order var containment in the
  * encoded domain, no decode needed (SURVEY §2.2 P12). */
case class SubseqMatchExpr(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {
  override def nullSafeEval(v: Any, q: Any): Any =
    ClpRuntime.subseqMatch(v.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, q) => s"graft.functions.ClpRuntime.subseqMatch($v, $q)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SubseqMatchExpr =
    copy(l, r)
  override def prettyName: String = "subseq_match"
}

/** `clp_split_vars(logtype, vars)` → struct<enc_vars: array<long>,
  * dict_ids: array<long>>: the decode-side inverse of clp_merge_vars — one
  * placeholder walk instead of two interpreted UDF passes (SURVEY §2.6 J3). */
case class ClpSplitVarsExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ClpSplitVarsExpr.outputType
  override def nullSafeEval(l: Any, v: Any): Any =
    ClpRuntime.splitVars(l.asInstanceOf[UTF8String], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, v) => s"graft.functions.ClpRuntime.splitVars($l, $v)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ClpSplitVarsExpr =
    copy(l, r)
  override def prettyName: String = "clp_split_vars"
}

object ClpSplitVarsExpr {
  val outputType: StructType = StructType(Seq(
    StructField("enc_vars", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("dict_ids", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** `dict_values(ids)` with a broadcast inverse dictionary bound at plan
  * time — the driver-map decode join as a codegen'd expression (the
  * broadcast rides the plan as a reference object, value lookups stay in
  * whole-stage codegen). */
case class DictValuesExpr(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(ids: Any): Any =
    ClpRuntime.dictValues(bc, ids.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcDictInv", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.dictValues($bcRef, $c)")
  }
  override protected def withNewChildInternal(c: Expression): DictValuesExpr =
    copy(child = c)
  override def prettyName: String = "dict_values"
}

/** `dict_value(id)` — the inverse of [[DictIdExpr]]: one id → value probe of
  * a broadcast inverse dictionary bound at plan time, so the driver-map
  * decode resolves `logtype_id` with no join; `dict` names the dictionary in
  * the error a missing id raises. */
case class DictValueExpr(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]], dict: String)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(id: Any): Any =
    ClpRuntime.dictValue(bc, id.asInstanceOf[Long], dict)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcDictInv", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val dictRef = ctx.addReferenceObj("dictName", dict)
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.dictValue($bcRef, $c, $dictRef)")
  }
  override protected def withNewChildInternal(c: Expression): DictValueExpr =
    copy(child = c)
  override def prettyName: String = "dict_value"
}

/** `dict_id(value)` over one encode-side broadcast map bound at plan time —
  * how the driver-mode dictionary tables take their ids from the very maps
  * the encode pass resolves through, inside whole-stage codegen. */
case class DictIdExpr(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[_ <: java.util.Map[String, _]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(value: Any): Any =
    ClpRuntime.dictId(bc, value.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcDict", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.dictId($bcRef, $c)")
  }
  override protected def withNewChildInternal(c: Expression): DictIdExpr =
    copy(child = c)
  override def prettyName: String = "dict_id"
}

/** `clp_resolve(logtype, dict_vars, encoded_vars)` with BOTH broadcast
  * dictionaries bound at plan time → struct<logtype_id, sink_id, vars>: the
  * encode-side twin of [[DictValuesExpr]]. This is the hottest per-row
  * function in the pipeline (every turn pays it once); as an interpreted
  * Scala-closure UDF it was the one non-codegen step in the encode stage —
  * here the probes and the var splice stay inside whole-stage codegen as a
  * single static call. */
case class ClpResolveExpr(first: Expression, second: Expression, third: Expression,
    bcLt: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, (Long, Int)]],
    bcVars: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]])
    extends TernaryExpression {
  override def dataType: DataType = ClpResolveExpr.outputType
  override def nullSafeEval(l: Any, d: Any, e: Any): Any =
    ClpRuntime.resolveEncode(bcLt, bcVars,
      l.asInstanceOf[UTF8String], d.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val ltRef = ctx.addReferenceObj("bcLtDict", bcLt, bcName)
    val varRef = ctx.addReferenceObj("bcVarDict", bcVars, bcName)
    defineCodeGen(ctx, ev, (l, d, e) =>
      s"graft.functions.ClpRuntime.resolveEncode($ltRef, $varRef, $l, $d, $e)")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): ClpResolveExpr =
    copy(f, s, t)
  override def prettyName: String = "clp_resolve"
}

object ClpResolveExpr {
  val outputType: StructType = StructType(Seq(
    StructField("logtype_id", LongType, nullable = false),
    StructField("sink_id", IntegerType, nullable = false),
    StructField("vars", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** `minhash_sigs(shingles)` with the hash family bound at plan time —
  * all production-width signatures in one codegen'd pass. */
case class MinhashSigsExpr(child: Expression, a: Array[Long], b: Array[Long], mod: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(sh: Any): Any =
    ClpRuntime.minhashSigs(sh.asInstanceOf[ArrayData], a, b, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ClpRuntime.minhashSigs($c, $aRef, $bRef, ${mod}L)")
  }
  override protected def withNewChildInternal(c: Expression): MinhashSigsExpr =
    copy(child = c)
  override def prettyName: String = "minhash_sigs"
}

/** `simhash64(words, bits)` — wide SimHash as one codegen'd vote pass. */
case class Simhash64Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    // an int width outside 1..64 would wrap the bit shifts mod 64 and
    // silently double-vote low bits; a BIGINT literal would CCE at eval —
    // both rejected at analysis time (the SQL-registry path has no
    // Dedup.simhash facade guard in front of it)
    left.dataType match {
      case ArrayType(StringType, _) => ()
      case other => return TypeCheckResult.TypeCheckFailure(
        s"$prettyName argument 1 must be array<string>, got ${other.sql}")
    }
    if (right.dataType != IntegerType)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName bits must be int, got ${right.dataType.sql}")
    right match {
      case Literal(b: Int, _) if b < 1 || b > 64 =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName bits must be in 1..64, got $b")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
  }
  override def nullSafeEval(w: Any, bits: Any): Any = {
    val b = bits.asInstanceOf[Int]
    require(b >= 1 && b <= 64, s"simhash64 bits must be in 1..64, got $b")
    ClpRuntime.simhash64(w.asInstanceOf[ArrayData], b)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, bits) => s"graft.functions.ClpRuntime.simhash64($w, $bits)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Simhash64Expr =
    copy(l, r)
  override def prettyName: String = "simhash64"
}

/** `clp_merge_vars(logtype, encoded_vars, dict_ids)` → the single CLP-order
  * int64 var stream (dict IDs spliced at dictionary placeholders). */
case class ClpMergeVarsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(l: Any, e: Any, d: Any): Any =
    ClpRuntime.mergeVars(l.asInstanceOf[UTF8String], e.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, e, d) => s"graft.functions.ClpRuntime.mergeVars($l, $e, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): ClpMergeVarsExpr =
    copy(f, s, t)
  override def prettyName: String = "clp_merge_vars"
}

/** `clp_encode_schema(text)` with a user tokenizer schema (grok/regex mode,
  * SURVEY §2.2 P6) — same output shape as [[ClpEncodeExpr]], so the whole
  * downstream pipeline is tokenizer-agnostic. */
case class ClpEncodeSchemaExpr(child: Expression, schema: graft.core.TokenizerSchema)
    extends UnaryExpression {
  override def dataType: DataType = ClpEncodeExpr.outputType
  override def nullSafeEval(v: Any): Any =
    ClpRuntime.encodeSchemaRow(v.asInstanceOf[UTF8String], schema)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokSchema", schema, classOf[graft.core.TokenizerSchema].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.encodeSchemaRow($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): ClpEncodeSchemaExpr =
    copy(child = c)
  override def prettyName: String = "clp_encode_schema"
}

/** `json_shape(json)` → struct<descriptor, ts, arr_shapes> with the JSON
  * ingest options bound at plan time — the per-record shaping of
  * [[graft.pipeline.JsonPipeline.route]] (see [[ClpRuntime.jsonShape]]).
  * Never null: a null record raises the same loud parse error as a
  * malformed one. */
case class JsonShapeExpr(child: Expression, options: JsonPipeline.Options)
    extends UnaryExpression {
  override def dataType: DataType = JsonShapeExpr.outputType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    ClpRuntime.jsonShape(child.eval(input).asInstanceOf[UTF8String], options)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonOptions", options)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.functions.ClpRuntime.jsonShape(
        ${c.isNull} ? null : ${c.value}, $ref);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): JsonShapeExpr =
    copy(child = c)
  override def prettyName: String = "json_shape"
}

object JsonShapeExpr {
  /** All fields nullable, though only `ts` is ever null: the records store
    * keeps the optional parquet columns its archives have always had. */
  val outputType: StructType = StructType(Seq(
    StructField("descriptor", StringType),
    StructField("ts", LongType),
    StructField("arr_shapes", StringType)))
}

/** `json_reserialize(raw)` → the stored record re-serialized from its typed
  * leaves — the marshalling step of the JSON archive's ordered extract. */
case class JsonReserializeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    ClpRuntime.jsonReserialize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.jsonReserialize($c)")
  override protected def withNewChildInternal(c: Expression): JsonReserializeExpr = copy(c)
  override def prettyName: String = "json_reserialize"
}

/** `ts_pattern_parse(text)` → struct<pattern_id, epoch_ms, ts_begin, ts_end>
  * or null — format-preserving timestamp search (SURVEY §2.2 P2); begin/end
  * delimit the matched span (patterns may start after N spaces, mirroring the
  * reference's num_spaces_before_ts). */
case class TsPatternParseExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TsPatternParseExpr.outputType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = ClpRuntime.tsParse(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ClpRuntime.tsParse($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(c: Expression): TsPatternParseExpr = copy(c)
  override def prettyName: String = "ts_pattern_parse"
}

object TsPatternParseExpr {
  val outputType: StructType = StructType(Seq(
    StructField("pattern_id", IntegerType, nullable = false),
    StructField("epoch_ms", LongType, nullable = false),
    StructField("ts_begin", IntegerType, nullable = false),
    StructField("ts_end", IntegerType, nullable = false)))
}

/** `ts_pattern_format(pattern_id, epoch_ms)` → the exact original string
  * (SURVEY §2.2 P3). */
case class TsPatternFormatExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(p: Any, e: Any): Any =
    UTF8String.fromString(
      graft.core.TimestampPatterns.format(p.asInstanceOf[Int], e.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, e) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.TimestampPatterns.format($p, $e))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TsPatternFormatExpr =
    copy(l, r)
  override def prettyName: String = "ts_pattern_format"
}

/** `vec_dot(a, b)` → double — tight-loop dot product over `array<float>` or
  * `array<double>` embedding columns. The HOF route
  * (`aggregate(zip_with(...))`) interprets a per-element expression tree;
  * this stays a primitive loop inside whole-stage codegen, which is what a
  * brute-force / per-bucket cosine compare needs at scale. */
/** Input guard shared by the vector expressions: reject non-float/double
  * arrays at ANALYSIS time — ArrayData.getDouble over an int-backed array
  * would silently reinterpret raw bytes, returning garbage with no error. */
private[functions] object VecTypeCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def fpArray(name: String, es: Expression*): TypeCheckResult = {
    es.zipWithIndex.foreach { case (e, i) =>
      e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => ()
        case other => return TypeCheckResult.TypeCheckFailure(
          s"$name argument ${i + 1} must be array<float|double>, got ${other.sql}")
      }
    }
    TypeCheckResult.TypeCheckSuccess
  }
}

case class VecDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeCheck.fpArray(prettyName, left, right)
  private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    ClpRuntime.vecDot(a.asInstanceOf[ArrayData], leftFloat,
      b.asInstanceOf[ArrayData], rightFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ClpRuntime.vecDot($a, $leftFloat, $b, $rightFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotExpr =
    copy(l, r)
  override def prettyName: String = "vec_dot"
}

/** `vec_sq8(vec, mult)` → array<tinyint>: symmetric int8 scalar
  * quantization, q[i] = floor(x*mult + 0.5) clamped to ±127. Index-time
  * cost; the hot search path is [[VecQDotExpr]]. */
case class VecSq8Expr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val l = VecTypeCheck.fpArray(prettyName, left)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName multiplier must be double, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }
  private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any, m: Any): Any =
    ClpRuntime.vecSq8(a.asInstanceOf[ArrayData], leftFloat, m.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, m) =>
      s"graft.functions.ClpRuntime.vecSq8($a, $leftFloat, $m)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSq8Expr =
    copy(l, r)
  override def prettyName: String = "vec_sq8"
}

/** `argmax_dot(vec)` with a broadcast centroid matrix bound at plan time →
  * int: the IVF cell-assignment kernel ([[graft.KnnIvf]]). The matrix rides
  * the plan as one reference object (the [[DictValuesExpr]] pattern), so the
  * expression tree stays O(1) regardless of nlist. */
case class ArgmaxDotExpr(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeCheck.fpArray(prettyName, child)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(v: Any): Any =
    ClpRuntime.argmaxDot(bc, v.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcCentroids", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.ClpRuntime.argmaxDot($bcRef, $v, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): ArgmaxDotExpr =
    copy(child = c)
  override def prettyName: String = "argmax_dot"
}

/** `vec_qdot(q8a, q8b)` → bigint: integer dot of two int8-quantized
  * vectors — the coarse ANN scorer; no FP, so candidate ranking is
  * bit-stable across engines and cluster sizes. */
case class VecQDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    Seq(left, right).zipWithIndex.foreach { case (e, i) =>
      e.dataType match {
        case ArrayType(ByteType, _) => ()
        case other => return TypeCheckResult.TypeCheckFailure(
          s"$prettyName argument ${i + 1} must be array<tinyint>, got ${other.sql}")
      }
    }
    TypeCheckResult.TypeCheckSuccess
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    ClpRuntime.vecQDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ClpRuntime.vecQDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQDotExpr =
    copy(l, r)
  override def prettyName: String = "vec_qdot"
}

/** `vec_normalize(vec)` → array<double>: one-pass L2 normalization with the
  * zero-vector guard (zero stays zero — dots against it are 0, not NaN). */
case class VecNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecTypeCheck.fpArray(prettyName, child)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any): Any =
    ClpRuntime.vecNormalize(a.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.ClpRuntime.vecNormalize($a, $isFloat)")
  override protected def withNewChildInternal(c: Expression): VecNormalizeExpr =
    copy(c)
  override def prettyName: String = "vec_normalize"
}

/** Registration + Column-API façade for the CLP expressions. */
/** `md5_prefix64(str)` — see [[ClpRuntime.md5Prefix64]]. The curation
  * gates evaluate this cross-engine hash inside interpreted higher-order
  * lambdas (shingle hashing, MinHash folds), where the equivalent
  * md5→substring→conv Column chain costs ~10× the digest itself in object
  * churn; outside lambdas it codegens to one static call. */
case class Md5Prefix64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = ClpRuntime.md5Prefix64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ClpRuntime.md5Prefix64($c)")
  override protected def withNewChildInternal(c: Expression): Md5Prefix64Expr = copy(c)
  override def prettyName: String = "md5_prefix64"
}

object ClpFunctions {

  /** (name, builder) table — the single source of truth behind BOTH
    * registration paths: session-scoped [[register]] (temp functions) and
    * cluster-wide injection via [[graft.GraftExtensions]]
    * (`spark.sql.extensions`). One table, so the two paths cannot drift. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "clp_encode" -> (es => ClpEncodeExpr(es.head)),
    "clp_decode" -> (es => ClpDecodeExpr(es(0), es(1), es(2))),
    "wildcard_match" -> (es =>
      WildcardMatchExpr(es(0), es(1), if (es.size > 2) es(2) else Literal(true))),
    "subseq_match" -> (es => SubseqMatchExpr(es(0), es(1))),
    "clp_merge_vars" -> (es => ClpMergeVarsExpr(es(0), es(1), es(2))),
    "clp_split_vars" -> (es => ClpSplitVarsExpr(es(0), es(1))),
    "simhash64" -> (es => Simhash64Expr(es(0), es(1))),
    "md5_prefix64" -> (es => Md5Prefix64Expr(es.head)),
    "ts_pattern_parse" -> (es => TsPatternParseExpr(es.head)),
    "ts_pattern_format" -> (es => TsPatternFormatExpr(es(0), es(1))),
    "vec_dot" -> (es => VecDotExpr(es(0), es(1))),
    "vec_sq8" -> (es => VecSq8Expr(es(0), es(1))),
    "vec_qdot" -> (es => VecQDotExpr(es(0), es(1))),
    "vec_normalize" -> (es => VecNormalizeExpr(es.head)))

  /** Registers every function the session's registry does not hold yet:
    * a second call replaces nothing (each replacement logs a registry
    * WARN), and a session built with [[graft.GraftExtensions]] keeps its
    * injected functions. */
  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!r.functionExists(FunctionIdentifier(name)))
        r.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def clp_encode(text: Column): Column = call_function("clp_encode", text)
  def clp_decode(logtype: Column, encodedVars: Column, dictVars: Column): Column =
    call_function("clp_decode", logtype, encodedVars, dictVars)
  def wildcard_match(str: Column, pattern: Column): Column =
    call_function("wildcard_match", str, pattern)
  def wildcard_match(str: Column, pattern: Column, caseSensitive: Column): Column =
    call_function("wildcard_match", str, pattern, caseSensitive)
  def subseq_match(vars: Column, queryVars: Column): Column =
    call_function("subseq_match", vars, queryVars)
  def clp_merge_vars(logtype: Column, encodedVars: Column, dictIds: Column): Column =
    call_function("clp_merge_vars", logtype, encodedVars, dictIds)
  def clp_split_vars(logtype: Column, vars: Column): Column =
    call_function("clp_split_vars", logtype, vars)
  def simhash64(words: Column, bits: Column): Column =
    call_function("simhash64", words, bits)
  /** Built directly (not via the registry): the gate queries use it without
    * requiring ClpFunctions.register on the session. */
  def md5_prefix64(s: Column): Column =
    org.apache.spark.sql.GraftExpr.column(
      Md5Prefix64Expr(org.apache.spark.sql.GraftExpr.expression(s)))

  /** Plan-time-bound MinHash family (production widths, one codegen'd pass);
    * the family is captured by the Expression directly — routing through the
    * function registry would key the binding on a name, and two families
    * hashing to the same name would silently rebind an earlier Column. */
  def minhash_sigs(shingles: Column, a: Array[Long], b: Array[Long], mod: Long): Column =
    org.apache.spark.sql.GraftExpr.column(
      MinhashSigsExpr(
        org.apache.spark.sql.GraftExpr.expression(shingles), a, b, mod))

  /** Encode-side broadcast resolution (the hottest per-row pipeline step) —
    * the broadcasts ride the Expression like [[dict_values]]; no registry
    * entry, no interpreted closure. */
  def clp_resolve(logtype: Column, dictVars: Column, encodedVars: Column,
      bcLt: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, (Long, Int)]],
      bcVars: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.lang.Long]]): Column =
    org.apache.spark.sql.GraftExpr.column(
      ClpResolveExpr(
        org.apache.spark.sql.GraftExpr.expression(logtype),
        org.apache.spark.sql.GraftExpr.expression(dictVars),
        org.apache.spark.sql.GraftExpr.expression(encodedVars),
        bcLt, bcVars))

  /** Value → id through one encode-side broadcast map (see [[DictIdExpr]]). */
  def dict_id(value: Column,
      bc: org.apache.spark.broadcast.Broadcast[_ <: java.util.Map[String, _]]): Column =
    org.apache.spark.sql.GraftExpr.column(
      DictIdExpr(org.apache.spark.sql.GraftExpr.expression(value), bc))

  /** One id → value through a broadcast inverse dictionary (see
    * [[DictValueExpr]]); `dict` names it in a missing id's error. */
  def dict_value(id: Column,
      bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]], dict: String): Column =
    org.apache.spark.sql.GraftExpr.column(
      DictValueExpr(org.apache.spark.sql.GraftExpr.expression(id), bc, dict))

  /** Broadcast-bound dictionary-id → value resolution; the broadcast rides
    * the Expression itself (no registry entry to leak one registration —
    * and one pinned dictionary copy — per query). */
  def dict_values(ids: Column,
      bc: org.apache.spark.broadcast.Broadcast[Map[Long, String]]): Column =
    org.apache.spark.sql.GraftExpr.column(
      DictValuesExpr(org.apache.spark.sql.GraftExpr.expression(ids), bc))
  def ts_pattern_parse(text: Column): Column = call_function("ts_pattern_parse", text)
  def ts_pattern_format(patternId: Column, epochMs: Column): Column =
    call_function("ts_pattern_format", patternId, epochMs)
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vec_sq8(vec: Column, mult: Column): Column = call_function("vec_sq8", vec, mult)
  def vec_qdot(a: Column, b: Column): Column = call_function("vec_qdot", a, b)
  /** Broadcast-matrix nearest-centroid assignment; the centroid matrix rides
    * the Expression (one reference object, any nlist). */
  def argmax_dot(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftExpr.column(
      ArgmaxDotExpr(org.apache.spark.sql.GraftExpr.expression(vec), bc))
  def vec_normalize(a: Column): Column =
    org.apache.spark.sql.GraftExpr.column(
      VecNormalizeExpr(org.apache.spark.sql.GraftExpr.expression(a)))

  /** Per-record JSON shaping; the ingest options are plan-time
    * configuration captured by the Expression (see [[JsonShapeExpr]]). */
  def json_shape(json: Column, options: JsonPipeline.Options): Column =
    org.apache.spark.sql.GraftExpr.column(
      JsonShapeExpr(org.apache.spark.sql.GraftExpr.expression(json), options))
  def json_reserialize(raw: Column): Column =
    org.apache.spark.sql.GraftExpr.column(
      JsonReserializeExpr(org.apache.spark.sql.GraftExpr.expression(raw)))

  /** Grok/schema-mode encode; the schema is plan-time configuration captured
    * by the Expression directly — no per-schema registry entry. */
  def clp_encode_schema(text: Column, schema: graft.core.TokenizerSchema): Column =
    org.apache.spark.sql.GraftExpr.column(
      ClpEncodeSchemaExpr(
        org.apache.spark.sql.GraftExpr.expression(text), schema))
}
