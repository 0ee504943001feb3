package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst twins of interpreted higher-order-function (HOF)
  * sketch/shingle expressions, used by [[DedupOps]]/[[TextOps]] (the
  * MinHashSig pattern, round-5): higher-order functions
  * (aggregate/transform/zip_with/filter) never whole-stage-codegen and
  * allocate per-element lambda rows, which dominated dd_simhash_*,
  * dd_ngram_jaccard and tx_lang_id in BENCH_r05. Each expression here
  * is one compiled loop, BIT-FOR-BIT equal to its HOF form (the HOF
  * forms live in OpsSpec, pinned by its equivalence tests, and the
  * planted/natural DuckDB oracles pin the derived outputs end-to-end).
  */

/** 64-bit SimHash over a token array — the compiled twin of
  * `OpsSpec.simhash64Hof`'s aggregate/zip_with ladder: per token,
  * h = xxhash64(token) (seed 42; a null token leaves the hash at the
  * seed, exactly like the XxHash64 expression), each of the 64 bits of
  * h moves its counter ±1, and sketch bit i is set iff counter(i) > 0.
  */
case class SimHashSketch(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SimHashSketch needs array<string>, got $other")
  }

  /** Codegen/eval entry point (called from generated java too). */
  def sketch(arr: ArrayData): Long = {
    val counters = new Array[Long](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) counters(b) += 1L else counters(b) -= 1L
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def nullSafeEval(v: Any): Any = sketch(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHashSketch", this, classOf[SimHashSketch].getName)
    defineCodeGen(ctx, ev, c => s"$ref.sketch($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word n-gram shingles over a token array — the compiled twin of
  * `OpsSpec.shinglesHof`'s transform/slice/concat_ws chain: fewer
  * than n tokens yield the single space-joined token string; otherwise
  * every length-n window joined by " " (concat_ws semantics: null
  * tokens are skipped in the join, windows are in order, duplicates
  * kept).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"WordShingles needs array<string>, got $other")
  }

  private val space = UTF8String.fromString(" ")

  private def joinRange(arr: ArrayData, from: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      parts(i) = if (arr.isNullAt(from + i)) null else arr.getUTF8String(from + i)
      i += 1
    }
    UTF8String.concatWs(space, parts: _*)
  }

  /** Codegen/eval entry point (called from generated java too). */
  def shingle(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    if (sz < n) {
      new GenericArrayData(Array[Any](joinRange(arr, 0, sz)))
    } else {
      val out = new Array[Any](sz - n + 1)
      var i = 0
      while (i <= sz - n) {
        out(i) = joinRange(arr, i, n)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def nullSafeEval(v: Any): Any = shingle(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    defineCodeGen(ctx, ev, c => s"$ref.shingle($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact Jaccard over two string arrays — the compiled twin of
  * `OpsSpec.jaccardHof`'s array_distinct/intersect/union chain:
  * |distinct(a) ∩ distinct(b)| / |distinct(a) ∪ distinct(b)| as the
  * same int-cardinality double division (null elements count as one
  * distinct value, like array_distinct), 0.0 on an empty union.
  */
case class JaccardShingles(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"JaccardShingles needs two array<string>, got $other")
    }

  /** Codegen/eval entry point (called from generated java too). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String]()
    var aNull = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) aNull = true else setA.add(a.getUTF8String(i))
      i += 1
    }
    val seenB = new java.util.HashSet[UTF8String]()
    var bNull = false
    var inter = 0L
    var j = 0
    val nb = b.numElements()
    while (j < nb) {
      if (b.isNullAt(j)) bNull = true
      else {
        val s = b.getUTF8String(j)
        if (seenB.add(s) && setA.contains(s)) inter += 1L
      }
      j += 1
    }
    if (aNull && bNull) inter += 1L
    val union = setA.size.toLong + (if (aNull) 1L else 0L) +
      seenB.size.toLong + (if (bNull) 1L else 0L) - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccardShingles", this,
      classOf[JaccardShingles].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.jaccard($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Count of tokens contained in a fixed word set — the compiled twin of
  * `size(filter(tokens, t => t.isin(words)))` (null tokens match
  * nothing, duplicates all count), used by the stopword-profile
  * language ID and the quality features.
  */
case class StopHits(child: Expression, words: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"StopHits needs array<string>, got $other")
  }

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Codegen/eval entry point (called from generated java too). */
  def hits(arr: ArrayData): Int = {
    val ws = wordSet
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && ws.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def nullSafeEval(v: Any): Any = hits(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopHits", this, classOf[StopHits].getName)
    defineCodeGen(ctx, ev, c => s"$ref.hits($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
