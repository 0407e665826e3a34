package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash over an `array<string>` token column — ONE
  * tight primitive pass per row (hash each token once, 64 vote
  * counters, fold the majority bits), replacing the declarative
  * `aggregate(transform(...), zip_with(...))` chain that walked a
  * 64-element boxed array per TOKEN through interpreted higher-order
  * lambdas (two array allocations per token; measured r17: the HOF
  * form made d4_simhash's single-pass scan the slowest task in the
  * registry once the round-robin spread was removed — 5.7 s for 5k
  * docs of pure expression evaluation, ~64M boxed lambda calls).
  *
  * Bit identity with the declarative form (asserted in TextDedupSpec):
  *
  *  - per-token hash = Spark's `xxhash64(token)` = XXH64 of the UTF-8
  *    bytes with the default seed 42; a NULL token leaves the running
  *    hash at the seed (Spark's XxHash64 skips null children), so it
  *    contributes h = 42 — replicated here, not skipped;
  *  - vote rule: bit i of the signature is set iff strictly more
  *    tokens have bit i of their hash set than clear (ties clear —
  *    the declarative `when(v > 0, ...)`);
  *  - empty array → 0L, null array → null (UnaryExpression null
  *    propagation).
  */
case class SimhashFromTokenArray(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "simhash_from_tokens"
  override def dataType: DataType = LongType
  // analysis-time type check: misuse on a non-array<string> column
  // fails in the analyzer, not as a runtime ClassCastException
  // (ExpectsInputTypes/AbstractDataType are private[sql] in Spark 4,
  // so the check is a checkInputDataTypes override). Untyped literals
  // such as array() or array(null) are array<void> and are rejected
  // too, on purpose (TextDedupSpec pins it)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else {
          val s = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var res = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) res |= (1L << b)
      b += 1
    }
    res
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
