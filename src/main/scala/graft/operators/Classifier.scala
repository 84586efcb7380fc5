package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions
import graft.plans.ClassifierKernelUtil

/** In-engine training for the model-based quality filter
  * (TextFunctions.classifierLogit): a logistic head over hashed
  * unigram features, fit with full-batch gradient descent where every
  * epoch is ONE Spark job — the DCLM/fastText seed-classifier recipe
  * run in-engine instead of on an external trainer.
  *
  * Scale shape (100 TB): the training documents are built ONCE into
  * one persisted row each — label, feature-stream length, and the
  * distinct buckets with their counts (≤ D per doc) — and each epoch
  * folds every partition into D + 3 doubles (per-bucket gradient,
  * logloss, residual sum, n) with the current weights in the task
  * closure, summed on the driver: no shuffle, no join, no per-epoch
  * checkpoint (the shape of MLlib's `GradientDescent`, one
  * `treeAggregate` per iteration). Driver state is D+1 doubles.
  * Training on a hash-selected sample (`trainMod`, the kmeans
  * discipline) bounds epoch cost at any corpus size; scoring stays the
  * row-local fold it always was.
  *
  * Determinism (the trained-literal oracle discipline): after every
  * update the weights SNAP to the dyadic grid 2⁻²⁰ (multiples of
  * 2⁻²⁰, clamped to [-8, 8]). Two consequences:
  *  - run-to-run reproducibility: the partition sums are added in
  *    partition-index order, and the 2⁻²⁰ grid absorbs any few-ulp
  *    difference a different row layout would make, so refitting
  *    yields bit-identical weights (spec-pinned);
  *  - the scored margin stays EXACT cross-engine: every partial sum
  *    of cnt·w products is a multiple of 2⁻²⁰ with magnitude ≤ 8·n,
  *    representable while n·2²³ < 2⁵³ — any real document — so the
  *    trained weights interpolate into a DuckDB replay exactly like
  *    the LCG literals they replace (the classifierWeights exactness
  *    story, preserved under training).
  */
object Classifier {

  /** Trained artifacts + the per-epoch mean logloss trace (epoch 0 =
    * before any update — the convergence spec pins trace decrease). */
  case class Fit(weights: Array[Double], bias: Double,
                 losses: Array[Double]) {
    def weightSeq: Seq[Double] = weights.toSeq
  }

  private val Grid = 1048576.0 // 2^20
  private def snap(x: Double): Double = {
    val s = math.rint(x * Grid) / Grid
    math.max(-8.0, math.min(8.0, s))
  }

  /** Corpus size above which [[autoTrainMod]] starts sampling the
    * training set. 2²³ (dyadic) sits ABOVE every committed proof
    * scale — the 1000× campaign corpus is 5M docs — so engaging the
    * lever changes NO published weight at sf0.01/100×/1000×; it
    * first bites at the 10000× decade (50M docs → S=6, ~8.3M
    * training docs) and bounds epoch cost at any corpus size from
    * there on (at 100 TB the fit is a fixed-size job, not a
    * corpus-sized one). */
  val AutoTrainCap = 8388608L // 2^23

  /** Self-scaling training modulus — the kmeans `trainMod` hash-
    * sample discipline made automatic for the classifier family:
    * 1 (full batch) while the corpus holds ≤ `cap` docs, else the
    * smallest S with ~n/S ≤ cap. Deterministic given n (and the
    * xxhash64 doc-id sample in [[fit]] is deterministic given S), so
    * the trained-literal oracle replay is unaffected: the weights
    * interpolate as dyadic literals exactly as before. */
  def autoTrainMod(n: Long, cap: Long = AutoTrainCap): Int = {
    require(cap > 0, s"autoTrainMod: cap must be positive, got $cap")
    math.max(1L, (n + cap - 1) / cap).toInt
  }

  /** Fit the D-bucket logistic head on `docs`. `labelCol` must be a
    * 0/1 integer column (the deterministic in-corpus seed label —
    * e.g. "stored lang agrees with the n-gram detector"). Text is
    * featurized exactly as the scoring path
    * (TextFunctions.classifierLogit over the same stream), so trained
    * weights drop straight into it. `bigrams = true` trains over the
    * unigram+bigram stream ([[TextFunctions.classifierFeatures]] —
    * fastText's n-gram hashing-trick recipe; pair it with a wider `d`
    * since 2n−1 features now share the buckets), and scoring must
    * then feed classifierLogit the same stream. */
  def fit(docs: DataFrame, idCol: String, textCol: String,
          labelCol: String, d: Int = 128, epochs: Int = 8,
          lr: Double = 4.0, trainMod: Int = 1,
          bigrams: Boolean = false,
          featsCol: Option[Column] = None): Fit = {
    val sample =
      if (trainMod <= 1) docs
      else docs.filter(pmod(xxhash64(col(idCol)), lit(trainMod)) === 0)
    // the native feature expression evaluates the tokenize ONCE per
    // row (the Column-algebra classifierFeatures references the token
    // array three times and HOFs get no codegen subexpression
    // elimination — spec-pinned identical output). featsCol overrides
    // the stream entirely (a caller-supplied array<string> feature
    // column — the lever for probing NEW feature families before
    // they earn kernel/oracle plumbing); scoring must
    // then feed classifierLogit the same stream.
    val baseToks = split(TextFunctions.normalize(col(textCol)), " ")
    val toks = featsCol.getOrElse(
      if (bigrams) org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.ClassifierFeatures(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(baseToks)))
      else baseToks)
    // Partition count is WORK-adaptive ([[Widths.of]]): every epoch
    // re-reads the document rows, so the fit's work is ~bytes ×
    // (epochs+1). A kilobyte gate corpus stays at ONE partition, where
    // each epoch is a single tiny task; a corpus arriving in fewer
    // splits than that width (the sf-bench parquet is one row group)
    // is hash-spread by doc before featurizing, and one already
    // arriving wider keeps its natural scan partitions.
    val spread = Widths.raise(sample, Widths.of(sample, inflate = epochs + 1), col(idCol))
    val rows = spread.select(col(labelCol).cast("double"), toks)
      .queryExecution.toRdd
      .mapPartitions(_.flatMap(r => docRow(r.getDouble(0), r.getArray(1), d)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Array.fill(d)(0.0)
      var bias = 0.0
      val losses = Array.newBuilder[Double]
      // epochs+1 passes bracket exactly `epochs` updates: losses(e) is
      // the mean logloss after e updates, so losses.last evaluates the
      // FINAL weights (no silently-unmeasured update)
      for (e <- 0 to epochs) {
        val (we, be) = (w, bias)
        // summed in partition-index order, whatever order the tasks
        // finish in
        val sums = rows.mapPartitions(it => Iterator(epochSums(it, we, be)))
          .collect().transpose.map(_.sum)
        val n = sums.lift(d + 2).getOrElse(0.0)
        require(n > 0, "Classifier.fit: empty training frame")
        losses += sums(d) / n
        if (e < epochs) {
          w = w.indices.map(b => snap(w(b) - lr * sums(b) / n)).toArray
          bias = snap(bias - lr * (sums(d + 1) / n))
        }
      }
      Fit(w, bias, losses.result())
    } finally rows.unpersist(blocking = false)
  }

  /** One training document: its 0/1 label, the length of its feature
    * stream, and the distinct buckets its features hash to, each with
    * its count. */
  private final case class Doc(y: Double, ntok: Double,
                               buckets: Array[Int], counts: Array[Int])

  /** `feats` as a [[Doc]], bucketed by the md5-prefix hash the scoring
    * kernel uses; a null or empty stream (null text) trains nothing. */
  private def docRow(y: Double, feats: ArrayData, d: Int): Option[Doc] =
    if (feats == null || feats.numElements() == 0) None
    else {
      val bs = (0 until feats.numElements())
        .map(i => ClassifierKernelUtil.bucket(feats.getUTF8String(i).getBytes, d))
        .groupMapReduce(identity)(_ => 1)(_ + _).toArray
      Some(Doc(y, feats.numElements().toDouble, bs.map(_._1), bs.map(_._2)))
    }

  /** One partition's fold at weights `w`, bias `bias`: the gradient per
    * bucket (Σ r/ntok·cnt, r = σ(m) − y), then the logloss sum, the
    * residual sum and the document count. */
  private def epochSums(docs: Iterator[Doc], w: Array[Double],
                        bias: Double): Array[Double] = {
    val d = w.length
    val acc = new Array[Double](d + 3)
    docs.foreach { doc =>
      var s = 0.0
      var i = 0
      while (i < doc.buckets.length) {
        s += doc.counts(i).toDouble * w(doc.buckets(i)); i += 1
      }
      val m = s / doc.ntok + bias
      val r = 1.0 / (1.0 + StrictMath.exp(-m)) - doc.y
      val inv = 1.0 / doc.ntok
      i = 0
      while (i < doc.buckets.length) {
        acc(doc.buckets(i)) += r * inv * doc.counts(i).toDouble; i += 1
      }
      // logloss via the stable form ln(1+e^{-|m|}) + max(0, ∓m)
      acc(d) += StrictMath.log(1.0 + StrictMath.exp(-math.abs(m))) +
        (if (doc.y > 0.5) math.max(0.0, -m) else math.max(0.0, m))
      acc(d + 1) += r
      acc(d + 2) += 1.0
    }
    acc
  }

  /** The deterministic in-corpus seed label the gate's trained
    * classifier uses: 1 when the stored language tag agrees with the
    * n-gram detector (mislabeled or off-language scrapes train as
    * negatives — the metadata-agreement recipe). */
  def langAgreeLabel(textCol: Column, langCol: Column): Column =
    when(TextFunctions.langId(textCol) === langCol, lit(1L)).otherwise(lit(0L))

  /** Executable operating-threshold rule — the autoOperatingPoint
    * discipline applied to the margin axis: a raw logistic head's 0
    * threshold is mis-centered whenever the classes are imbalanced,
    * so the CUT is calibrated from data instead of assumed. Given
    * scored TRAIN margins with 0/1 labels, bucket at the
    * t_classifier_calib grid (floor(margin·10) — candidate cuts are
    * bucket lower edges) and return the cut whose keep = (bucket ≥
    * cut) decision maximizes accuracy, LOWEST cut on ties
    * (deterministic). The cut is an integer BUCKET: decisions compare
    * floor(margin·10) ≥ cut in integer space, so the calibrated
    * decision hash-replays with no float threshold to adjudicate.
    * Calibrate on the TRAINING side and evaluate held-out (the
    * t_classifier_val flow) — picking the cut on val would leak.
    * Cost: one partial agg onto the bucket grid + a driver collect
    * bounded by the bucket span (margins clamp within ±8-ish → a few
    * hundred rows at any corpus size). */
  def calibrateCut(scored: DataFrame, marginCol: String,
                   labelCol: String): Long = {
    val rows = scored.select(
        floor(col(marginCol) * lit(10.0d)).cast("long").as("b"),
        col(labelCol).cast("long").as("y"))
      .groupBy("b")
      .agg(sum(col("y")).as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "calibrateCut: empty scored frame")
    // cut at the lowest bucket keeps everything: acc = total positives
    var posAtOrAbove = rows.map(_._2).sum
    var negBelow = 0L
    var bestCut = rows.head._1
    var bestAcc = posAtOrAbove
    for ((b, np, nn) <- rows) {
      // moving the cut just past bucket b: its positives stop being
      // kept-and-correct, its negatives start being dropped-and-correct
      posAtOrAbove -= np
      negBelow += nn
      val acc = posAtOrAbove + negBelow
      if (acc > bestAcc) { bestAcc = acc; bestCut = b + 1 }
    }
    bestCut
  }
}
