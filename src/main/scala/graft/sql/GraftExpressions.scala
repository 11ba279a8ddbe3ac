package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Static, codegen-callable kernels backing the Catalyst expressions.
  * (A top-level Scala object emits static forwarders, so generated Java
  * can call `graft.sql.GraftKernels.sanitizeU(x)` directly — the
  * expressions below stay inside whole-stage codegen.) */
object GraftKernels {
  def sanitizeU(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Sanitizer.sanitize(s.toString))

  def luhnValid(s: UTF8String): Boolean =
    graft.text.Luhn.isValidCardNumber(s.toString)

  def confidence(s: UTF8String): Double =
    graft.text.Confidence.calculate(s.toString)

  /** 64-bit SimHash over whitespace tokens (training-data near-dup
    * primitive; Charikar 2002). Deterministic: token hash = murmur-style
    * via String.hashCode mixed twice. */
  def simhash(s: UTF8String): Long = {
    val text = s.toString
    val counts = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(text.charAt(i))) {
        if (i > start) {
          var h = 1125899906842597L // FNV-ish seed
          var k = start
          while (k < i) {
            h = (h ^ Character.toLowerCase(text.charAt(k))) * 1099511628211L
            k += 1
          }
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1
            else counts(bit) -= 1
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Polynomial rolling-hash document fingerprint (base-257 over bytes,
    * mod 2^64) — the document-level analog of per-glyph template hashing
    * in the reference's scripts. */
  def rollingFingerprint(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 257L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** C4-style quality proxy as an e6-scaled long, one byte pass:
    * 0.35·min(len/700, 1) + 0.35·alnum/len + 0.30·printable/len with
    * len = code points, alnum = chars in [A-Za-z0-9], printable = chars
    * in [ -~] — EXACTLY the counts `length(regexp_replace(..))` derives
    * (ASCII classes; multi-byte sequences can never match) and the same
    * left-to-right double fold, rounded HALF_UP like Spark's round()
    * and the DuckDB oracle. Replaces two full regex scans per row. */
  def qualityE6(s: UTF8String): Long = {
    val bytes = s.getBytes
    var len = 0; var alnum = 0; var printable = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) len += 1 // code-point start
      if (b >= 0x20 && b <= 0x7e) {
        printable += 1
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
            (b >= '0' && b <= '9')) alnum += 1
      }
      i += 1
    }
    val denom = math.max(len, 1)
    val score =
      0.35 * math.min(len.toDouble / 700.0, 1.0) +
        0.35 * (alnum.toDouble * 1.0 / denom) +
        0.30 * (printable.toDouble * 1.0 / denom)
    java.math.BigDecimal.valueOf(score * 1000000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** Overlap (intersection size) of two SORTED, DISTINCT string arrays
    * by linear merge — no per-pair hash-set builds. Equal to
    * size(array_intersect(a, b)) when both inputs are distinct + sorted
    * (parity asserted in OpsSpec). */
  def sortedOverlap(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i)
      val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Cosine over two float arrays, accumulated left-to-right in double —
    * bit-identical to the DuckDB oracle's list_inner_product fold and to
    * SimilarityKernel.cosinePrenormed, the broadcast-block kernels'
    * form over precomputed sqrt-norms. Operates on ArrayData directly
    * (primitive getFloat, no per-element boxing, no Seq conversion —
    * the UDF variant paid ~50 us/pair in converter overhead). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      i += 1
    }
    i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble; na += x * x; i += 1
    }
    i = 0
    while (i < b.numElements()) {
      val y = b.getFloat(i).toDouble; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** A null-intolerant string → value kernel as a Catalyst expression:
  * interpreted eval calls `f`, codegen calls the static method named
  * `kernel` (the same function), so the expression stays inside
  * whole-stage codegen. Serializable itself, so a task's copy keeps the
  * constructor fields. */
abstract class GraftStringKernel(kernel: String, f: UTF8String => Any,
    outType: DataType)
    extends UnaryExpression with ExpectsInputTypes with Serializable {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = outType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    f(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernel($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    makeCopy(Array[AnyRef](c))
}

/** sanitize_text as a native Catalyst expression (SURVEY §7.2 hardening of
  * T1; semantics in graft.text.Sanitizer, cited to ocr_engine.py:303-359). */
case class GraftSanitize(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.sanitizeU", GraftKernels.sanitizeU, StringType)

/** 13–19-digit Luhn validity (T10; pan_candidates.py:129-147). */
case class GraftLuhnValid(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.luhnValid", GraftKernels.luhnValid, BooleanType)

/** Confidence score (C1; confidence.py:17-57). */
case class GraftConfidence(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.confidence", GraftKernels.confidence, DoubleType)

/** 64-bit SimHash (near-dup sketch). */
case class GraftSimHash(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.simhash", GraftKernels.simhash, LongType)

/** Rolling-hash fingerprint (document fingerprinting). */
case class GraftFingerprint(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.rollingFingerprint", GraftKernels.rollingFingerprint,
  LongType)

/** One-pass C4-style quality proxy (e6-scaled long) — replaces the
  * two-regex-scan Column composition on every quality-gated path. */
case class GraftQualityE6(child: Expression) extends GraftStringKernel(
  "graft.sql.GraftKernels.qualityE6", GraftKernels.qualityE6, LongType)

/** Gopher repetition signals as struct<_1: top_bigram_cover_e6,
  * _2: dup_{dupN}gram_cover_e6, _3: n_words> (see
  * [[graft.ops.Repetition.signalsStruct]]). The field names, types and
  * nullability are those of the `(Long, Long, Long)` UDF this replaced,
  * so plans and written schemas keep their shape: the struct is
  * declared nullable as that UDF was, though a null text scores as the
  * empty text and the value is never null. Each generated class (and
  * each interpreted copy) owns its kernel's scratch. */
case class GraftRepetitionSignals(child: Expression, dupN: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq("_1", "_2", "_3").map(
    StructField(_, LongType, nullable = false)))
  override def nullable: Boolean = true
  @transient private lazy val kernel = new graft.ops.RepetitionKernel
  override def eval(input: InternalRow): Any =
    kernel.signals(child.eval(input).asInstanceOf[UTF8String], dupN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addMutableState(classOf[graft.ops.RepetitionKernel].getName,
      "repetition", v => s"$v = new ${classOf[graft.ops.RepetitionKernel].getName}();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      InternalRow ${ev.value} = $k.signals(${c.isNull} ? null : ${c.value}, $dupN);""")
  }
  override protected def withNewChildInternal(c: Expression): GraftRepetitionSignals =
    copy(child = c)
}

/** Blank-line paragraphs: `filter(split(text, "\n\n+"), p =>
  * length(trim(p)) > 0)` as one native pass
  * ([[graft.ops.ParagraphDedup.blankLineParagraphs]]). */
case class GraftParagraphs(child: Expression) extends GraftStringKernel(
  "graft.ops.ParagraphDedup.blankLineParagraphs",
  graft.ops.ParagraphDedup.blankLineParagraphs,
  ArrayType(StringType, containsNull = false))

/** Cosine similarity over two array<float> columns (ANN hot loop). */
case class GraftCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // analysis-time typing: without it a SQL call over array<double> would
  // misread ArrayData via getFloat and return silently wrong values
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.GraftKernels.cosineF($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GraftCosine = copy(l, r)
}

/** Sorted-array overlap count (exact-Jaccard hot loop). */
case class GraftSortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.sortedOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.GraftKernels.sortedOverlap($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GraftSortedOverlap = copy(l, r)
}

/** Column-API + SQL registration for the expression suite. */
object GraftFunctions {
  def graft_sanitize(c: Column): Column =
    ColumnBridge.column(GraftSanitize(expression(c)))
  def graft_luhn_valid(c: Column): Column =
    ColumnBridge.column(GraftLuhnValid(expression(c)))
  def graft_confidence(c: Column): Column =
    ColumnBridge.column(GraftConfidence(expression(c)))
  def graft_simhash(c: Column): Column =
    ColumnBridge.column(GraftSimHash(expression(c)))
  def graft_fingerprint(c: Column): Column =
    ColumnBridge.column(GraftFingerprint(expression(c)))
  def graft_quality_e6(c: Column): Column =
    ColumnBridge.column(GraftQualityE6(expression(c)))
  def graft_cosine(a: Column, b: Column): Column =
    ColumnBridge.column(GraftCosine(expression(a), expression(b)))
  def graft_sorted_overlap(a: Column, b: Column): Column =
    ColumnBridge.column(GraftSortedOverlap(expression(a), expression(b)))
  def graft_repetition_signals(c: Column, dupN: Int): Column =
    ColumnBridge.column(GraftRepetitionSignals(expression(c), dupN))
  def graft_paragraphs(c: Column): Column =
    ColumnBridge.column(GraftParagraphs(expression(c)))

  private def expression(c: Column): Expression = ColumnBridge.expression(c)

  /** Register SQL-callable functions on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** All (name, builder) pairs — single source for both registration
    * paths (temp functions above, session extensions below). */
  private[sql] val builders
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_sanitize" -> (exprs => GraftSanitize(exprs.head)),
    "graft_luhn_valid" -> (exprs => GraftLuhnValid(exprs.head)),
    "graft_confidence" -> (exprs => GraftConfidence(exprs.head)),
    "graft_simhash" -> (exprs => GraftSimHash(exprs.head)),
    "graft_fingerprint" -> (exprs => GraftFingerprint(exprs.head)),
    "graft_quality_e6" -> (exprs => GraftQualityE6(exprs.head)),
    "graft_cosine" -> (exprs => GraftCosine(exprs.head, exprs(1))),
    "graft_sorted_overlap" ->
      (exprs => GraftSortedOverlap(exprs.head, exprs(1))))
}

/** Session-extensions entry point: makes the whole expression suite
  * available to every session — including pure-SQL clients that never
  * touch the Scala API — via
  *
  *   spark-submit --conf spark.sql.extensions=graft.sql.GraftExtensions
  *
  * (the production analog of `GraftFunctions.register`, which remains
  * for ad-hoc per-session use). Functions injected here resolve at
  * plan time to the native codegen expressions above, so SQL callers
  * get the same whole-stage-codegen plans as the Column API. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.sql.GraftExpressions", name),
        builder))
    }
}
