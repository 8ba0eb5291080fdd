package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the hot paths (SURVEY.md §7.4 revisited
  * after profiling): the higher-order-function versions of minhash / cosine
  * are CodegenFallback-interpreted and allocate intermediate arrays per row;
  * these expressions run a tight loop over the raw bytes with zero
  * allocation and stay codegen-compatible via static calls.
  */

/** MinHash signature straight from text: whitespace-tokenize, n-token
  * shingle, hash each shingle's bytes ONCE (XXH64), derive the k slot
  * hashes by rehashing the 8-byte value. Returns array<long>(k). */
case class TextMinHashExpr(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"text_minhash requires string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    TextMinHash.signature(v.asInstanceOf[UTF8String], numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextMinHash.signature($c, $numHashes, $shingleSize)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextMinHash {
  /** Shingle minhash over the UTF-8 bytes. Space (0x20) never occurs inside
    * a multi-byte UTF-8 sequence, so byte-level splitting is exact. Empty
    * tokens are skipped and shingle tokens are joined with a SINGLE space
    * before hashing, so each shingle hash equals xxhash64 of the
    * concat_ws(" ", ...) shingle string on ALL inputs — including runs of
    * consecutive spaces (whitespace-normalization invariant pinned in
    * FunctionsSpec). Documents shorter than the shingle size hash the whole
    * (normalized) token span. */
  def signature(s: UTF8String, k: Int, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // collect token start/end offsets
    var nTok = 0
    var i = 0
    val starts = new Array[Int](len / 2 + 1)
    val ends = new Array[Int](len / 2 + 1)
    var maxSpan = 0 // longest n-token shingle in NORMALIZED bytes
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      if (i < len) {
        starts(nTok) = i
        while (i < len && bytes(i) != ' ') i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nSh = if (nTok < n) (if (nTok > 0) 1 else 0) else nTok - n + 1
    val span = math.min(n, math.max(nTok, 1))
    // one reusable normalization buffer per call (not per shingle):
    // upper-bounded by the longest span of `span` tokens + separators
    var sh = 0
    while (sh < nSh) {
      var t = sh
      var need = span - 1 // single-space separators
      val last = math.min(sh + span - 1, nTok - 1)
      while (t <= last) { need += ends(t) - starts(t); t += 1 }
      if (need > maxSpan) maxSpan = need
      sh += 1
    }
    val buf = new Array[Byte](math.max(maxSpan, 0))
    sh = 0
    while (sh < nSh) {
      val last = math.min(sh + span - 1, nTok - 1)
      var pos = 0
      var t = sh
      while (t <= last) {
        if (t > sh) { buf(pos) = ' '; pos += 1 }
        val tl = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), buf, pos, tl)
        pos += tl
        t += 1
      }
      val h = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      var j = 0
      while (j < k) {
        val hj = XXH64.hashLong(h, j.toLong)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      sh += 1
    }
    if (nSh == 0) java.util.Arrays.fill(mins, XXH64.hashLong(0L, 0L))
    // unboxed: GenericArrayData(Array[Long]) boxes every slot on the copy
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** n-token shingle STRINGS straight from text — the native twin of
  * `shingles(tokens(text), n)` (GraftFunctions): whitespace-tokenize
  * (empties dropped), join n consecutive tokens with single spaces; texts
  * shorter than n tokens degrade to one whole-text shingle (empty text ->
  * [""]), byte-identical to the HOF formulation (pinned in FunctionsSpec).
  * The HOF pipeline is CodegenFallback-interpreted and costs ~2ms/doc on
  * 130-token pages (q35 profile); this is a single byte walk. */
case class TextShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "text_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"text_shingles requires string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    TextShingles.shingles(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextShingles.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextShingles {
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nTok = 0
    var i = 0
    val starts = new Array[Int](len / 2 + 1)
    val ends = new Array[Int](len / 2 + 1)
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      if (i < len) {
        starts(nTok) = i
        while (i < len && bytes(i) != ' ') i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    val nSh = if (nTok < n) 1 else nTok - n + 1
    val span = math.min(n, math.max(nTok, 1))
    val out = new Array[AnyRef](nSh)
    var sh = 0
    while (sh < nSh) {
      val last = if (nTok == 0) -1 else math.min(sh + span - 1, nTok - 1)
      var need = 0
      var t = sh
      while (t <= last) {
        if (t > sh) need += 1
        need += ends(t) - starts(t)
        t += 1
      }
      val buf = new Array[Byte](need)
      var pos = 0
      t = sh
      while (t <= last) {
        if (t > sh) { buf(pos) = ' '; pos += 1 }
        val tl = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), buf, pos, tl)
        pos += tl
        t += 1
      }
      out(sh) = UTF8String.fromBytes(buf)
      sh += 1
    }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash straight from text: per-bit majority vote over the
  * xxhash64 of each whitespace token (token multiplicity counts, matching
  * the HOF formulation in GraftFunctions.simhash64Hof). */
case class TextSimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "text_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"text_simhash requires string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    TextSimHash.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSimHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextSimHash {
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    val len = bytes.length
    val votes = new Array[Int](64)
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      if (i < len) {
        val from = i
        while (i < len && bytes(i) != ' ') i += 1
        val h = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, i - from, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Fraction of equal slots between two equal-length long-array signatures —
  * the unbiased minhash Jaccard estimator, as a tight loop. */
case class SigOverlapExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_overlap"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(s"sig_overlap requires array<long>, got ($l, $r)")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SigOverlap.overlap(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SigOverlap.overlap($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SigOverlap {
  def overlap(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }
}

/** Cosine similarity over two numeric arrays, accumulated in double with
  * strict left-to-right order — numerically identical to the HOF
  * (`aggregate(zip_with(...))`) formulation and to DuckDB's
  * list_cosine_similarity over DOUBLE[], which the oracle relies on. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float|double>, got (${left.dataType}, ${right.dataType})")

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineSimOp.cosine(l.asInstanceOf[ArrayData], isFloat(left),
      r.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSimOp.cosine($a, ${isFloat(left)}, $b, ${isFloat(right)})")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimOp {
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
