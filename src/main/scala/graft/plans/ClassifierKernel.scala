package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the fastText-style classifier margin
  * (TextFunctions.classifierLogit ∘ classifierFeatures) fused into
  * ONE generated per-row call — normalize-token array in, margin out.
  *
  * Same tier as [[RepetitionStats]]/[[SimHash64]]: the composition
  * EXISTS as builtin higher-order functions (TextFunctions keeps the
  * classifierLogit/classifierFeatures formulation as the semantic
  * cross-check and the oracle's algebra), but the HOF tree evaluates
  * interpreted — no codegen, no subexpression elimination (the
  * feature stream referenced the token array three times, recomputing
  * normalize+split per reference), one md5 Column-expression round
  * trip (hex string → substring → base-16 conv) per feature. At 100×
  * the four classifier keys cost ~900 s of the 2100 s board; scoring
  * is the per-doc production path of a 100 TB corpus. This kernel
  * runs tokenize-once → (unigram, adjacent-bigram) stream → 60-bit
  * md5-prefix bucket → weight lookup → sum in one static JVM loop
  * and participates in WholeStageCodegen.
  *
  * EXACTNESS (the hash-gate contract, unchanged): the feature hash is
  * the identical md5-prefix value — digest bytes 0..7 big-endian
  * shifted right 4 ≡ conv(substring(md5(tok),1,15),16,10) — reduced
  * mod D; every weight is a dyadic multiple of 2⁻²⁰ (Classifier.fit's
  * snap), so the feature-weight sum is EXACT in double at any order;
  * the /n_features and +bias are the same two IEEE roundings the HOF
  * fold performs. Margins are bit-identical to classifierLogit
  * (spec-pinned), so the DuckDB oracle replay is untouched.
  *
  * Null semantics mirror the HOF pipeline: null token array → null
  * margin; a null element poisons the fold → null margin.
  */
case class ClassifierMargin(child: Expression, weights: IndexedSeq[Double],
                            bias: Double, bigrams: Boolean)
    extends UnaryExpression {

  // weights is an IndexedSeq, NOT an Array, so case-class equality is
  // structural: two ClassifierMargins built independently from the
  // same fit canonicalize equal and whole-stage CSE computes the
  // kernel ONCE per row (an Array field compares by reference —
  // the three-output projection measured 3× the single-margin wall
  // before this). The kernel itself indexes a
  // plain array.
  @transient private lazy val wArr: Array[Double] = weights.toArray

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "classifier_margin"

  private def fused: Boolean = child.dataType == StringType

  /** STRING child = fully-fused mode: normalize (lowercase →
    * non-[a-z0-9 ] → space → collapse/trim) + tokenize run INSIDE the
    * kernel as one byte scan, skipping the two regex passes and the
    * token-array allocation — the probe showed the margin itself is
    * FREE next to the builtin normalize+split (33 s vs a 38 s
    * tokenize-only floor at 500k docs). Byte-level equivalence to the
    * regex pipeline: tokens are exactly the maximal [a-z0-9] runs of
    * the lowercased string (multi-byte chars map to ≥1 separator
    * bytes, but separator RUNS collapse, so the token stream is
    * identical — spec-pinned parity); the empty-normalization case
    * replays split('', ' ') = [''] as one empty feature. ARRAY child
    * keeps the pre-tokenized path for callers with custom streams. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"classifier_margin requires array<string> or string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    if (fused)
      ClassifierKernelUtil.marginText(
        input.asInstanceOf[UTF8String], wArr, bias, bigrams)
    else
      ClassifierKernelUtil.margin(
        input.asInstanceOf[ArrayData], wArr, bias, bigrams)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("classifierWeights", wArr, "double[]")
    val fn = if (fused) "marginText" else "margin"
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("clsMargin")
      s"""java.lang.Double $r = graft.plans.ClassifierKernelUtil.$fn(
         |  $c, $wRef, ${bias}d, $bigrams);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifierMargin =
    copy(child = newChild)
}

/** Native Catalyst expression: the unigram+bigram feature stream
  * (TextFunctions.classifierFeatures) over a token array, evaluating
  * the child ONCE — for the training path, which explodes the feature
  * array into (doc, bucket, cnt) rows and cannot fuse the hash into a
  * scalar (Classifier.fit aggregates per bucket). Same element values
  * and order as the Column-algebra formulation: all unigrams, then
  * adjacent pairs joined with one space. */
case class ClassifierFeatures(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "classifier_features"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"classifier_features requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ClassifierKernelUtil.features(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ClassifierKernelUtil.features($c);")

  override protected def withNewChildInternal(newChild: Expression): ClassifierFeatures =
    copy(child = newChild)
}

object ClassifierKernelUtil {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5-prefix bucket of raw UTF-8 bytes, mod D — identical
    * to TextFunctions.featureBucket's
    * pmod(conv(substring(md5(tok),1,15),16,10), D): the first 15 hex
    * chars of the digest are digest bytes 0..7 big-endian >>> 4. */
  def bucket(bytes: Array[Byte], d: Int): Int = {
    val dig = md5.get()
    dig.reset()
    bucketOf(dig.digest(bytes), d)
  }

  /** One row's margin; see [[ClassifierMargin]]. Called from generated
    * code — keep the signature stable. Returns null (poisoned fold) on
    * a null token element, matching the HOF pipeline. */
  def margin(arr: ArrayData, w: Array[Double], bias: Double,
             bigrams: Boolean): java.lang.Double = {
    val n = arr.numElements()
    if (n == 0) return bias
    val d = w.length
    var s = 0.0d
    var prev: Array[Byte] = null
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val cur = arr.getUTF8String(i).getBytes
      s += w(bucket(cur, d))
      if (bigrams && prev != null) {
        val big = new Array[Byte](prev.length + 1 + cur.length)
        System.arraycopy(prev, 0, big, 0, prev.length)
        big(prev.length) = ' '.toByte
        System.arraycopy(cur, 0, big, prev.length + 1, cur.length)
        s += w(bucket(big, d))
      }
      prev = cur
      i += 1
    }
    val nFeat = if (bigrams) 2 * n - 1 else n
    s / nFeat.toDouble + bias
  }

  /** Fused-mode margin: normalize + tokenize + hash + sum in ONE byte
    * scan over the lowercased text. Equivalence to the regex pipeline
    * (lower → [^a-z0-9 ]→' ' → ' +'→' ' → trim → split ' '): tokens
    * are the maximal [a-z0-9] byte runs — every non-token byte
    * (including each byte of a multi-byte character) acts as a
    * separator, and separator multiplicity is invisible after the
    * collapse the regex performs. UTF-8 guarantees no continuation
    * byte collides with ASCII. The empty-normalization case replays
    * split('', ' ') = ['']: one empty feature, n = 1. */
  def marginText(text: UTF8String, w: Array[Double], bias: Double,
                 bigrams: Boolean): java.lang.Double = {
    val b = text.toLowerCase.getBytes
    val d = w.length
    val dig = md5.get()
    var s = 0.0d
    var nTok = 0
    var prevStart = -1
    var prevLen = 0
    var i = 0
    val len = b.length
    while (i < len) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        i += 1
        while (i < len && {
          val c2 = b(i)
          (c2 >= 'a' && c2 <= 'z') || (c2 >= '0' && c2 <= '9')
        }) i += 1
        val tlen = i - start
        dig.reset()
        dig.update(b, start, tlen)
        s += w(bucketOf(dig.digest(), d))
        if (bigrams && nTok > 0) {
          dig.reset()
          dig.update(b, prevStart, prevLen)
          dig.update(' '.toByte)
          dig.update(b, start, tlen)
          s += w(bucketOf(dig.digest(), d))
        }
        prevStart = start; prevLen = tlen
        nTok += 1
      } else i += 1
    }
    if (nTok == 0) {
      // split('', ' ') = [''] — one empty feature
      dig.reset()
      s = w(bucketOf(dig.digest(), d))
      return s / 1.0d + bias
    }
    val nFeat = if (bigrams) 2 * nTok - 1 else nTok
    s / nFeat.toDouble + bias
  }

  private def bucketOf(h: Array[Byte], d: Int): Int = {
    var l = 0L
    var i = 0
    while (i < 8) { l = (l << 8) | (h(i) & 0xffL); i += 1 }
    ((l >>> 4) % d).toInt
  }

  /** One row's unigram+bigram feature array; see [[ClassifierFeatures]].
    * Element order matches the Column algebra: unigrams first, then
    * adjacent pairs. A null neighbor yields a null bigram (concat
    * semantics). */
  def features(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](if (n == 0) 0 else 2 * n - 1)
    var i = 0
    while (i < n) {
      // clone(): the child ArrayData may be backed by a reused row
      // buffer; storing the raw UTF8String reference would alias it
      // and corrupt elements if a consumer defers materialization
      // across input rows (works today only because explode/projection
      // copy immediately — close the latent hazard)
      out(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).clone()
      i += 1
    }
    i = 0
    while (i < n - 1) {
      val a = out(i).asInstanceOf[UTF8String]
      val b = out(i + 1).asInstanceOf[UTF8String]
      out(n + i) =
        if (a == null || b == null) null
        else UTF8String.concat(a, UTF8String.fromString(" "), b)
      i += 1
    }
    new GenericArrayData(out)
  }
}
