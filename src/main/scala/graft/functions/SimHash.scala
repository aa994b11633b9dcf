package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash document fingerprint as a native Catalyst `Expression`
  * with codegen — near-identical documents get fingerprints within a small
  * Hamming distance, so near-dup grouping becomes `bit_count(a ^ b) <= k`
  * on two longs instead of a pairwise text comparison.
  *
  * Token hashing is the shared md5-derived [[Md5Bits.hash60]] (60 bits —
  * hence a 60-bit fingerprint), tokens are the same lowercase-alphanumeric
  * split the rest of the text stack uses. Fully deterministic AND
  * engine-agnostic: the DuckDB oracle recomputes the identical fingerprint
  * from `md5(token)`, which is what upgrades `q_simhash_pairs` from a
  * rows-only check to a full hash-compared oracle row.
  *
  * Beyond the reference (its only fingerprint-ish op is the sha256 key
  * partitioner, `default/partition.py:4-12`); this is the LLM-pipeline
  * near-dedup primitive at 100 TB scale: one pass, no shuffle, 8 bytes per
  * document.
  */
case class SimHashExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_simhash requires STRING input, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpression =
    copy(child = newChild)
}

object SimHash {

  /** Fingerprint width: 60 bits (= Md5Bits.hash60 width), banded as 6
    * blocks of [[BlockBits]] for the pigeonhole candidate generator.
    * Hamming distance <= 3 flips at most 3 blocks, so at least 3 of the 6
    * stay intact and some [[BlockCombos]] 3-subset matches exactly. Keying
    * buckets on block TRIPLES (Manku/Jain/Sarma, "Detecting Near-Duplicates
    * for Web Crawling", WWW 2007 §3) gives a 30-bit key space: expected
    * spurious collisions scale as 20·N²/2³⁰ instead of the 4·N²/2¹⁵ a
    * single-block key costs — the difference between a linear and a
    * quadratic candidate stage on a 10⁸-document corpus. */
  val Bits = 60
  val Blocks = 6
  val BlockBits: Int = Bits / Blocks // 10
  val BlockMask: Long = (1L << BlockBits) - 1

  /** All C(6,3)=20 block triples — one bucket table per combo. */
  val BlockCombos: Seq[Seq[Int]] =
    (0 until Blocks).combinations(3).map(_.toSeq).toSeq

  /** SimHash over lowercase-alphanumeric tokens (the shared
    * TextFunctions.tokenize rule — Locale.ROOT, so identical on every
    * executor), each token hashed with the shared md5-derived
    * Md5Bits.hash60. Called from generated code — must stay a
    * static-reachable pure function. Bit rule: set iff strictly more
    * tokens have the bit than not (ties → 0), mirrored by the oracle. */
  def compute(text: String): Long = {
    val counts = new Array[Int](Bits)
    val toks = TextFunctions.tokenize(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < toks.length) {
      val h = Md5Bits.hash60Prefix(md.digest(toks(t).getBytes("UTF-8")))
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column builder; resolves through the GraftExtensions session wiring
    * (a function name is the public route to a custom `Expression` now
    * that Column no longer exposes `expr` directly). */
  def simhash(c: Column): Column = call_function("graft_simhash", c)
}
