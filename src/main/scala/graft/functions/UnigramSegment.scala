package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation of a word under an integer piece-cost vocabulary —
  * the per-word E-step of the unigram-LM (SentencePiece-style) tokenizer
  * trainer, as a native Catalyst `Expression`.
  *
  * Why not column algebra: the original spelling ran the forward DP and
  * backtrace as nested `aggregate`/`transform`/`filter` higher-order
  * functions. Those are interpreted, and worse, the optimizer DUPLICATES
  * them: `InferFiltersFromGenerate` clones the whole backtrace into a
  * `Filter` predicate ahead of the `explode`, predicate pushdown then
  * carries that clone below any user repartition onto whatever partition
  * count AQE left the word aggregation with (1–2 at sf1) — the measured
  * result was a single task grinding >20 minutes of interpreted array
  * rebuilds. This expression evaluates the same DP in a few microseconds
  * of imperative Scala, so even a duplicated copy in a pushed-down filter
  * is free, and the plan shape stops mattering.
  *
  * Exact-same semantics as the SQL-oracle replay (TextQueries.qUnigramLmSql):
  *  - candidates at position e are the vocab pieces word[s, e), s >= e-maxPiece;
  *  - forward: best(p) = min over candidates of best(s) + cost, or the
  *    10^15 infinity when no candidate reaches p;
  *  - backtrace from the end picks the min-cost candidate, smallest
  *    start s on ties (= the LONGER piece wins). This is the explicit
  *    two-key argmin of the oracle's encoded (best(s) + cost)·16 + s
  *    tie-break — identical for every s < 16, i.e. for all words the
  *    oracle ever replays (UlmMaxWLen = 12), and, unlike the nibble
  *    encoding, collision-free for arbitrarily long words handed to the
  *    session-registered SQL function by external callers;
  *  - pieces are emitted in backtrace order (end → start), matching the
  *    array_append walk the oracle's recursive CTE replays.
  *
  * The vocabulary rides in as a FOLDABLE map literal (typedlit), decoded
  * once per executor into a hash map — model state is vocab-sized and
  * broadcast with the plan, never joined against the corpus.
  */
case class UnigramSegmentExpression(word: Expression, vocabExpr: Expression,
    maxPiece: Int) extends BinaryExpression {

  override def left: Expression = word
  override def right: Expression = vocabExpr

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (word.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_ulm_segment requires STRING word, got ${word.dataType}")
    else if (!vocabExpr.foldable ||
      !vocabExpr.dataType.isInstanceOf[MapType] ||
      vocabExpr.dataType.asInstanceOf[MapType].keyType != StringType ||
      vocabExpr.dataType.asInstanceOf[MapType].valueType != LongType)
      TypeCheckResult.TypeCheckFailure(
        "graft_ulm_segment requires a foldable MAP<STRING, BIGINT> vocabulary")
    else if (maxPiece < 1 || maxPiece > 15)
      TypeCheckResult.TypeCheckFailure(
        s"graft_ulm_segment maxPiece must be in [1, 15], got $maxPiece")
    else TypeCheckResult.TypeCheckSuccess

  /** Decoded once per (deserialized) expression instance, i.e. once per
    * executor core — vocab is foldable by the type check above. Boxed
    * values so a missing piece is a null, not a phantom zero cost. */
  @transient private lazy val vocab: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    val md = vocabExpr.eval(null).asInstanceOf[MapData]
    val keys = md.keyArray()
    val vals = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      m.put(keys.getUTF8String(i).toString, vals.getLong(i))
      i += 1
    }
    m
  }

  override def nullSafeEval(w: Any, v: Any): Any =
    UnigramSegmentExpression.compute(
      w.asInstanceOf[UTF8String].toString, vocab, maxPiece)

  /** Entry point for generated code: same per-executor cached vocab, same
    * imperative DP as the interpreted path (spec-pinned equal). */
  def computeForCodegen(w: UTF8String): ArrayData =
    UnigramSegmentExpression.compute(w.toString, vocab, maxPiece)

  /** Native codegen: evaluate the word child inside whole-stage codegen
    * and dispatch to the imperative DP through a plan reference — no
    * per-row InternalRow boxing, no interpreted child eval (the previous
    * CodegenFallback cost on the corpus-side E-step). The DP itself stays
    * a JVM method call: a few µs of imperative Scala that JIT compiles,
    * which is the part worth keeping out of Janino-generated source. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ulmSeg", this,
      classOf[UnigramSegmentExpression].getName)
    defineCodeGen(ctx, ev, (w, _) => s"$ref.computeForCodegen($w)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramSegmentExpression =
    copy(word = newLeft, vocabExpr = newRight)
}

object UnigramSegmentExpression {

  /** The 10^15 "no segmentation reaches here" cost — shared constant with
    * TextQueries' oracle SQL (UlmInf). */
  val Inf = 1000000000000000L

  def compute(word: String, vocab: java.util.HashMap[String, java.lang.Long],
      maxPiece: Int): ArrayData = {
    val len = word.length
    if (len == 0) return new GenericArrayData(Array.empty[Any])
    // forward DP: best(p) = min segmenting cost of the first p chars
    val best = new Array[Long](len + 1)
    var p = 1
    while (p <= len) {
      var m = Long.MaxValue
      var s = math.max(0, p - maxPiece)
      while (s < p) {
        val c = vocab.get(word.substring(s, p))
        if (c != null) {
          val cand = best(s) + c.longValue()
          if (cand < m) m = cand
        }
        s += 1
      }
      best(p) = if (m == Long.MaxValue) Inf else m
      p += 1
    }
    // backtrace: per step, min cost with smallest s on ties (longer piece
    // wins). Ascending s + strict < keeps the smallest tying s for free.
    // This is the explicit spelling of the oracle's (best(s)+cost)·16 + s
    // encoded argmin — identical whenever s < 16, and collision-free for
    // words of any length (the encoding wrapped s into the cost field at
    // s >= 16, silently mis-segmenting 17+-char words for SQL callers).
    val out = new ArrayBuffer[Any](len)
    var pos = len
    while (pos > 0) {
      var kCost = Long.MaxValue
      var kS = -1
      var s = math.max(0, pos - maxPiece)
      while (s < pos) {
        val c = vocab.get(word.substring(s, pos))
        if (c != null) {
          val cand = best(s) + c.longValue()
          if (cand < kCost) { kCost = cand; kS = s }
        }
        s += 1
      }
      if (kS < 0) pos = 0 // unreachable while singles cover every char
      else {
        out += UTF8String.fromString(word.substring(kS, pos))
        pos = kS
      }
    }
    new GenericArrayData(out.toArray)
  }
}

object UnigramSegment {

  /** Column builder; resolves through the GraftExtensions session wiring.
    * The vocab and maxPiece arrive as literal arguments baked into the
    * resolved plan. */
  def segment(word: Column, vocab: Map[String, Long], maxPiece: Int): Column =
    call_function("graft_ulm_segment", word, typedlit(vocab),
      org.apache.spark.sql.functions.lit(maxPiece))
}
