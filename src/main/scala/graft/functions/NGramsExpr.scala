package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass n-gram expression (SURVEY.md §4.3 item 1, the
  * flagship G2 hot path).
  *
  * Semantically identical to the column-function composition in
  * [[TextFns.ngramsHof]] — normalize (strip non-`[a-zA-Z0-9\s]`,
  * lowercase, reference/WordCount.java:76), whitespace-tokenize dropping
  * empties, then sliding windows of `n` tokens single-space joined
  * (reference/WordCount.java:81-97) — but evaluated in ONE pass over the
  * string's UTF-8 bytes with no intermediate regex match, token array,
  * sliced sub-arrays, or per-window `array_join`. The HOF chain
  * allocates a token array plus one slice + one join per window per
  * document; this allocates the output n-grams only, their bytes in one
  * array per document (the normalized text itself when n = 1).
  *
  * Byte-level processing is exact: every code point outside ASCII has
  * all UTF-8 bytes >= 0x80 and is stripped by the regex (Java `\s` is
  * ASCII-only), so skipping bytes >= 0x80 strips exactly the same
  * characters, and after the strip only ASCII remains, so `lower` is the
  * +32 byte map.
  *
  * `doGenCode` emits a static call into [[NGramsEval]] — the expression
  * fuses into whole-stage codegen like any built-in string expression
  * (custom-operator ladder step (b), SURVEY.md §4.3).
  */
case class NGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram length must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngrams"

  override protected def nullSafeEval(input: Any): Any =
    NGramsEval.eval(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramsEval.eval($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NGramsExpr =
    copy(child = newChild)
}

/** Interpreted/codegen shared evaluator for [[NGramsExpr]] (called as a
  * static method from generated Java — Scala emits static forwarders for
  * top-level objects). */
object NGramsEval {

  /** One pass: normalize+tokenize `s` into a scratch buffer recording
    * token extents, then materialize the n-gram strings. */
  def eval(s: UTF8String, n: Int): ArrayData = {
    val src = s.getBytes
    val len = src.length
    // Normalized bytes are never longer than the input; tokens land
    // contiguously in `buf` (stripped bytes simply don't advance `w`,
    // so mid-token punctuation joins the halves, matching
    // regexp_replace-then-split semantics: "it's" -> "its").
    val buf = new Array[Byte](len)
    var starts = new Array[Int](16)
    var lens = new Array[Int](16)
    var nTok = 0
    var w = 0
    var tokStart = -1
    var i = 0
    while (i < len) {
      val c = src(i) & 0xff
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (tokStart < 0) tokStart = w
        buf(w) = c.toByte; w += 1
      } else if (c >= 'A' && c <= 'Z') {
        if (tokStart < 0) tokStart = w
        buf(w) = (c + 32).toByte; w += 1
      } else if (c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r') {
        if (tokStart >= 0) {
          if (nTok == starts.length) {
            starts = java.util.Arrays.copyOf(starts, nTok * 2)
            lens = java.util.Arrays.copyOf(lens, nTok * 2)
          }
          starts(nTok) = tokStart; lens(nTok) = w - tokStart; nTok += 1
          tokStart = -1
        }
      } // else: stripped char — skip, token stays open
      i += 1
    }
    if (tokStart >= 0) {
      if (nTok == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nTok + 1)
        lens = java.util.Arrays.copyOf(lens, nTok + 1)
      }
      starts(nTok) = tokStart; lens(nTok) = w - tokStart; nTok += 1
    }

    if (nTok < n) return NGramsEval.empty
    val out = new Array[AnyRef](nTok - n + 1)
    if (n == 1) {
      // reference fast path (WordCount.java:81-84): tokens themselves
      var t = 0
      while (t < nTok) {
        out(t) = UTF8String.fromBytes(buf, starts(t), lens(t))
        t += 1
      }
    } else {
      // every window, space-joined, back to back in one array: window g
      // holds tokens g until g+n plus n-1 spaces
      var window = n - 1
      var t = 0
      while (t < n) { window += lens(t); t += 1 }
      var total = window.toLong
      var g = 1
      while (g < out.length) {
        window += lens(g + n - 1) - lens(g - 1)
        total += window
        g += 1
      }
      require(total <= Int.MaxValue, s"the ${n}-grams of one document take $total bytes, over 2 GiB")
      val grams = new Array[Byte](total.toInt)
      var p = 0
      g = 0
      while (g < out.length) {
        val start = p
        var j = 0
        while (j < n) {
          if (j > 0) { grams(p) = ' '; p += 1 }
          System.arraycopy(buf, starts(g + j), grams, p, lens(g + j))
          p += lens(g + j)
          j += 1
        }
        out(g) = UTF8String.fromBytes(grams, start, p - start)
        g += 1
      }
    }
    new GenericArrayData(out)
  }

  private val empty: ArrayData = new GenericArrayData(new Array[AnyRef](0))

  /** Column-API entry: `NGramsEval(col("text"), 3)`. */
  def apply(c: Column, n: Int): Column =
    GraftBridge.column(NGramsExpr(GraftBridge.expression(c), n))
}
