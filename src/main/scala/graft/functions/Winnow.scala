package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003) as a native
  * codegen Expression: the shared md5-derived `Md5Bits.hash60` over
  * character k-grams, then the minimum hash of every w-hash window
  * (rightmost-min tie-break), deduplicated — the guarantee is that any
  * shared substring of length >= w + k - 1 between two documents yields at
  * least one shared fingerprint.
  *
  * One pass per document, no shuffle — 8-byte hashes are the only
  * thing that ever moves, which is what makes fingerprint-overlap dedup
  * viable at 100 TB. Complements SimHash (global near-dup signal) with a
  * LOCAL one: winnowing catches partial overlap / containment (a copied
  * paragraph inside an otherwise-different document), which whole-document
  * fingerprints cannot.
  *
  * The emitted set is the DISTINCT selected hash VALUES, so the DuckDB
  * oracle needs no tie-break simulation: a window's selected value is its
  * min either way, hence fingerprints(doc) = distinct over windows of
  * min(hash over window) — expressible with one windowed `min` (the
  * `q_winnow_overlap` oracle). Properties (determinism, window guarantee,
  * containment) remain spec-tested.
  */
case class WinnowExpression(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 2 && w >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_winnow requires STRING input, k >= 2, w >= 1; got ${child.dataType}, k=$k, w=$w")

  override def nullSafeEval(input: Any): Any =
    WinnowExpression.compute(input.asInstanceOf[UTF8String].toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowExpression.compute($c.toString(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpression =
    copy(child = newChild)
}

object WinnowExpression {

  /** Called from generated code. Normalizes to lowercase ASCII
    * alphanumeric — EXACTLY the [a-z0-9] character class the shared
    * tokenizer uses, so all fingerprint families canonicalize the same
    * text (Character.isLetterOrDigit would keep accented/CJK chars the
    * tokenizer drops) — hashes each k-gram with the shared md5-derived
    * Md5Bits.hash60 (oracle-reproducible: `md5(substr(s, i, k))` in
    * DuckDB), winnows with a w-sized monotone deque, emits the distinct
    * selected hashes in ascending order. */
  def compute(text: String, k: Int, w: Int): ArrayData = {
    val sb = new java.lang.StringBuilder(text.length)
    var ci = 0
    while (ci < text.length) {
      val ch = Character.toLowerCase(text.charAt(ci))
      if ((ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')) sb.append(ch)
      ci += 1
    }
    val s = sb.toString
    val n = s.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])

    // md5-derived k-gram hashes (normalized text is ASCII by
    // construction, so charAt == UTF-8 byte — digest bytes directly)
    val hashes = new Array[Long](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val gram = new Array[Byte](k)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < k) { gram(j) = s.charAt(i + j).toByte; j += 1 }
      hashes(i) = Md5Bits.hash60Prefix(md.digest(gram))
      i += 1
    }

    // winnow: min of each w-window, rightmost-min tie-break, via a
    // monotone deque of indices (O(n) total)
    val selected = mutable.SortedSet.empty[Long]
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(i))
        deque.pollLast() // >= keeps the RIGHTMOST minimum at the tail
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) selected += hashes(deque.peekFirst())
      i += 1
    }
    new GenericArrayData(selected.iterator.map(x => x: Any).toArray)
  }
}

object Winnow {
  /** Column builder; resolves through the GraftExtensions session wiring. */
  def winnow(text: Column, k: Int = 5, w: Int = 4): Column =
    call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
}
