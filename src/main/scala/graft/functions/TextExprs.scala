package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd text kernels (SURVEY.md §7.5's escape hatch, same
  * discipline as [[VectorExprs]]: drop to a custom Expression only where
  * the built-in formulation measurably can't hold the hot path).
  *
  * The dedup gram pass is that case. The r10 shape computed word-trigram
  * hashes with a lead()-window over exploded word rows — fully codegen'd,
  * but it shuffled EVERY gram occurrence by doc id just to line up
  * consecutive words (the ~21.5 GB sort spill of the sf100 truth-frame
  * cell was exactly that exchange). The shuffle-free reformulation —
  * per-doc arrays via transform()/element_at — kept the values but ran
  * INTERPRETED: higher-order-function lambdas don't participate in
  * codegen and get no subexpression reuse, so the array pass measured
  * ~5 s where the window shape paid well under 1 s of CPU at sf0.1
  * (and an inline — unbound — word-hash array re-evaluated the whole
  * words→hash transform per element_at access: O(n²) per doc, 12× on
  * the dedup family). This expression is the third corner: zero
  * shuffles AND a tight primitive loop in both eval modes.
  *
  * The MinHash and SimHash signatures are the same case: a doc's
  * signature depends only on its own row, so [[MinHashSignature]] and
  * [[SimHashSignature]] compute it row-locally, bitwise-equal to the
  * explode → groupBy(id) → 64-slot aggregates (DedupSpec's references)
  * without their doc-sized shuffle and their two large generated
  * classes, which a dedup pass recompiled per query because it
  * overflows Spark's codegen cache.
  */
object TextExprs {

  /** Whitespace tokenizer pattern — identical to split(text, "\\s+")
    * (String.split delegates to Pattern for multi-char regexes;
    * precompiling just hoists the per-row compile).
    */
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** xxhash64 of each of `text`'s words, in order — the words of
    * [[graft.operators.Dedup.words]] (trim, lowercase, split on "\\s+",
    * empties dropped), each hashed as `xxhash64(w)` hashes a string:
    * `XXH64.hashUnsafeBytes` over its UTF-8 bytes, seed 42.
    */
  private def wordHashes(text: UTF8String): Array[Long] = {
    val toks = Whitespace.split(text.trim().toLowerCase().toString, -1)
    var m = 0
    val wh = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      if (!toks(i).isEmpty) {
        val w = UTF8String.fromString(toks(i))
        wh(m) = XXH64.hashUnsafeBytes(
          w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
        m += 1
      }
      i += 1
    }
    if (m == wh.length) wh else java.util.Arrays.copyOf(wh, m)
  }

  /** Distinct word-trigram hashes of `text`, first-occurrence order —
    * bitwise-identical to the composed built-in form
    *
    * {{{
    * array_distinct(transform(seq, i => xxhash64(wh[i], wh[i+1], wh[i+2])))
    *   where wh = transform(filter(split(lower(trim(text)), "\\s+"),
    *                               w => length(w) > 0), w => xxhash64(w))
    * }}}
    *
    * with the [[graft.operators.Dedup.shingles]] degenerate case (docs
    * shorter than one trigram get a single whole-suffix gram: the 2-word
    * and 1-word hash compositions). Identity holds because every step
    * reuses Spark's own kernels: UTF8String.trim/toLowerCase for the
    * normalization, Pattern("\\s+") for the split (what String.split
    * compiles to), and XXH64 seed-chaining exactly as the XxHash64
    * expression folds its children — hashLong(w3, hashLong(w2,
    * hashLong(w1, 42))). GramHashSpec pins the equality per row on the
    * test corpus plus whitespace/unicode edge cases. Null text → null;
    * no words → empty array.
    */
  def gramHashes(text: UTF8String): ArrayData = {
    val wh = wordHashes(text)
    val m = wh.length
    if (m == 0) return ArrayData.toArrayData(Array.emptyLongArray)
    if (m == 1) return ArrayData.toArrayData(
      Array(XXH64.hashLong(wh(0), 42L)))
    if (m == 2) return ArrayData.toArrayData(
      Array(XXH64.hashLong(wh(1), XXH64.hashLong(wh(0), 42L))))
    val out = new Array[Long](m - 2)
    val seen = new java.util.HashSet[java.lang.Long](((m - 2) * 2).max(8))
    var k = 0
    var j = 0
    while (j <= m - 3) {
      val h = XXH64.hashLong(wh(j + 2),
        XXH64.hashLong(wh(j + 1), XXH64.hashLong(wh(j), 42L)))
      if (seen.add(h)) { out(k) = h; k += 1 }
      j += 1
    }
    ArrayData.toArrayData(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  /** `gramHashes` as a Catalyst expression: string → array<bigint>,
    * null-intolerant, codegen'd as one static call (the work is a
    * data-dependent loop — inlining it buys nothing over the call, and
    * the call keeps the surrounding projection inside whole-stage
    * codegen).
    */
  case class GramHashes(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"gram_hashes expects string, got ${other.catalogString}")
      }

    override def nullSafeEval(t: Any): Any =
      TextExprs.gramHashes(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t => {
        val cls = TextExprs.getClass.getName.stripSuffix("$") + "$.MODULE$"
        s"${ev.value} = $cls.gramHashes($t);"
      })

    override protected def withNewChildInternal(newChild: Expression): GramHashes =
      copy(child = newChild)
  }

  def gramHashes(text: Column): Column =
    GraftSqlBridge.column(GramHashes(GraftSqlBridge.expression(text)))

  /** MinHash signature of a gram-hash array: slot p is the minimum over
    * the array's hashes h of `XXH64.hashInt(p, XXH64.hashLong(h, 42))` —
    * the XxHash64 expression's seed chain for `xxhash64(h, lit(p))` — so
    * the signature is bitwise-identical to the per-doc aggregate
    * `min(xxhash64(h, lit(p)))` over the exploded hashes, for p in
    * 0 until numPerm. A null element hashes as that expression skips a
    * null child (`hashInt(p, 42)`). An empty array has no minimum and
    * yields null, as the aggregate yielded no group.
    */
  def minhash(hs: ArrayData, numPerm: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val seed = if (hs.isNullAt(i)) 42L else XXH64.hashLong(hs.getLong(i), 42L)
      var p = 0
      while (p < numPerm) {
        val v = XXH64.hashInt(p, seed)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** 64-bit SimHash of `text`'s word multiset: bit b is set when more of
    * its words' `xxhash64(w)` values have bit b set than clear — the sign
    * of the per-bit sum of +1/-1 contributions. Same words and hashes as
    * [[gramHashes]], so it equals the higher-order built-in form over
    * [[graft.operators.Dedup.words]] that DedupSpec keeps as its per-row
    * reference. No words yields null.
    */
  def simhash(text: UTF8String): java.lang.Long = {
    val wh = wordHashes(text)
    if (wh.isEmpty) return null
    val ones = new Array[Int](64)
    var i = 0
    while (i < wh.length) {
      val h = wh(i)
      var b = 0
      while (b < 64) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) { if (2 * ones(b) > wh.length) sh |= 1L << b; b += 1 }
    sh
  }

  /** `minhash` as a Catalyst expression: array<bigint> → array<bigint>
    * of `numPerm` slots, null for a null or empty input, codegen'd as
    * one static call like [[GramHashes]].
    */
  case class MinHashSignature(child: Expression, numPerm: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"minhash_signature expects array<bigint>, got ${other.catalogString}")
      }

    override def nullSafeEval(hs: Any): Any =
      TextExprs.minhash(hs.asInstanceOf[ArrayData], numPerm)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, hs => {
        val cls = TextExprs.getClass.getName.stripSuffix("$") + "$.MODULE$"
        s"""${ev.value} = $cls.minhash($hs, $numPerm);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin
      })

    override protected def withNewChildInternal(
        newChild: Expression): MinHashSignature = copy(child = newChild)
  }

  /** `simhash` as a Catalyst expression: string → bigint, null for a
    * null or wordless text, codegen'd as one static call.
    */
  case class SimHashSignature(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash_signature expects string, got ${other.catalogString}")
      }

    override def nullSafeEval(t: Any): Any =
      TextExprs.simhash(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t => {
        val cls = TextExprs.getClass.getName.stripSuffix("$") + "$.MODULE$"
        val h = ctx.freshName("sh")
        s"""java.lang.Long $h = $cls.simhash($t);
           |if ($h == null) ${ev.isNull} = true;
           |else ${ev.value} = $h.longValue();""".stripMargin
      })

    override protected def withNewChildInternal(
        newChild: Expression): SimHashSignature = copy(child = newChild)
  }

  def minhash(gramHashes: Column, numPerm: Int): Column =
    GraftSqlBridge.column(
      MinHashSignature(GraftSqlBridge.expression(gramHashes), numPerm))

  def simhash(text: Column): Column =
    GraftSqlBridge.column(SimHashSignature(GraftSqlBridge.expression(text)))
}
