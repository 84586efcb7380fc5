package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** In-engine training for the model-based quality filter
  * (TextFunctions.classifierLogit): a logistic head over hashed
  * unigram features, fit with full-batch gradient descent where every
  * epoch is two distributed partial-agg passes — the DCLM/fastText
  * seed-classifier recipe expressed as Spark aggregations instead of
  * an external trainer.
  *
  * Scale shape (100 TB): the feature frame is built ONCE — (doc,
  * bucket, count) rows, ≤ D per doc after the in-doc pre-aggregation
  * — hash-partitioned by doc and checkpointed; each epoch then runs
  *  (1) a margin pass: per-doc Σ cnt·w[b] with the current weights as
  *      a broadcast literal array — the groupBy(doc) reuses the
  *      checkpointed partitioning, so no epoch re-shuffles the frame;
  *  (2) a gradient pass: residuals (a 3-double-per-doc frame, itself
  *      hash(doc)-partitioned because it derives from the margin
  *      groupBy) join back CO-PARTITIONED — a shuffled-hash join with
  *      no exchange on either side and no per-document broadcast —
  *      then one partial agg onto D buckets.
  * Driver state is D+1 doubles. Training on a hash-selected sample
  * (`trainMod`, the kmeans discipline) bounds epoch cost at any
  * corpus size; scoring stays the row-local fold it always was.
  *
  * Determinism (the trained-literal oracle discipline): after every
  * update the weights SNAP to the dyadic grid 2⁻²⁰ (multiples of
  * 2⁻²⁰, clamped to [-8, 8]). Two consequences:
  *  - run-to-run reproducibility: the distributed gradient sums can
  *    differ by accumulation order at the few-ulp level; the 2⁻²⁰
  *    grid absorbs that, so refitting yields bit-identical weights
  *    (spec-pinned);
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
    // (doc, bucket, cnt, y, ntok): the in-doc pre-agg collapses token
    // repeats before anything shuffles. ONE exchange builds the frame
    // (r21): hash-repartition the raw (id, y, text) rows by doc FIRST
    // — tokenization then runs at full core count even when the source
    // scan is a single split (the sf-bench parquet is one row group),
    // and because hash(_id) clusters every downstream key set
    // containing _id, the groupBy and the epoch-loop's groupBy/join
    // all reuse this partitioning with no further exchange. _ntok is
    // the feature-stream LENGTH, read off the token array row-locally
    // (identical to the old sum-of-counts-over-window by definition —
    // every token lands in exactly one bucket), which removes the
    // full-frame Window sort the old build paid.
    // Partition count is WORK-adaptive ([[Widths.of]]): the
    // checkpointed frame is re-read by every margin+gradient pass, so
    // the fit's work is ~bytes × (epochs+1). A kilobyte gate corpus
    // stays at ONE partition, where the 17-epoch loop's per-stage
    // floor is a single tiny task (a 32-way fan-out of the same corpus
    // measured 2× SLOWER end-to-end — scheduling dominated the
    // compute); sf0.1's 584 KB corpus at 17 passes fans to 3
    // (measured below r21's 1-partition time); a decade-scale corpus
    // reaches the width ceiling. Explicit N, because a column-only
    // repartition is an AQE coalesce target and epochs then lose the
    // layout entirely. Only a width that RAISES parallelism
    // repartitions: a corpus already arriving in >= nPart splits
    // tokenizes on its natural scan partitions (the 100× replicated
    // dir lands in 100 — capping it at the derived count halved the
    // busiest stage's cores), and the kilobyte gate corpus skips the
    // exchange entirely.
    // the feature frame is scoped to this fit — capture the
    // checkpoint's backing RDDs and release them when the fit is
    // done; Dataset.unpersist is a no-op on a localCheckpoint'd frame
    // (it only uncaches the CacheManager entry, which a checkpoint
    // never had), so without the RDD handle the blocks linger until
    // ContextCleaner GC
    val spread = Widths.raise(sample, Widths.of(sample, inflate = epochs + 1), col(idCol))
    val raised = spread ne sample // raise returns its input otherwise
    val aggd = spread
      .select(col(idCol).as("_id"), col(labelCol).cast("double").as("_y"),
        toks.as("_ta"))
      .select(col("_id"), col("_y"),
        size(col("_ta")).cast("double").as("_ntok"),
        explode(col("_ta")).as("_tok"))
      .groupBy(col("_id"), col("_y"), col("_ntok"),
        TextFunctions.featureBucket(col("_tok"), d).as("_b"))
      .agg(count(lit(1)).cast("double").as("_cnt"))
    // the checkpointed frame must be hash(_id)-partitioned on BOTH
    // build paths — the 17-epoch loop's groupBy(_id) and gradient
    // join ride that layout exchange-free (guide §2.4). On the
    // repartitioned path the groupBy reuses the explicit hash(_id)
    // exchange; on the natural-splits path the groupBy exchanged on
    // all four keys (which does NOT satisfy clustering on _id alone —
    // pre-r22 every epoch re-exchanged there), so pay ONE compact
    // feature-frame exchange at build to buy 17 exchange-free epochs.
    val keyed =
      if (raised) aggd
      else aggd.repartition(math.max(1, math.min(sample.rdd.getNumPartitions,
        Widths.ceiling(docs.sparkSession))), col("_id"))
    // localCheckpointKeyed, not plain localCheckpoint: under AQE the
    // checkpoint reports UnknownPartitioning and the epoch loop then
    // re-exchanges the frame EVERY epoch (observed in the r22 before-
    // plans) — the keyed wrapper re-labels the checkpoint with its
    // true hash(_id) layout. Contract holds on both build paths: the
    // last exchange below is an explicit-numPartitions repartition on
    // _id (REPARTITION_BY_NUM — AQE never coalesces it) followed only
    // by partition-local project/explode/agg.
    val feat = org.apache.spark.sql.graftbridge.ColumnBridge
      .localCheckpointKeyed(keyed, Seq("_id"))
    val featRdds =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(feat)
    try {
    // n (the training-doc count) rides epoch 0's combined aggregation
    // as sentinel −3 (resid has exactly one row per doc) instead of a
    // separate count_distinct job; the epochs == 0 edge (no gradient
    // job at all) falls back to the explicit count.
    var n = 0L
    def requireN(): Unit =
      require(n > 0, "Classifier.fit: empty training frame")

    var w = Array.fill(d)(0.0)
    var bias = 0.0
    val losses = Array.newBuilder[Double]

    // epochs+1 margin passes bracket exactly `epochs` updates:
    // losses(e) is the mean logloss after e updates, so losses.last
    // evaluates the FINAL weights (no silently-unmeasured update)
    for (e <- 0 to epochs) {
      // weights ride a codegen reference object (BucketWeight), not a
      // typedlit: at D=8192 the literal array blew janino's method
      // limits and dropped the whole margin-pass aggregate to
      // interpreted eval (r16 100× dump log); same arithmetic, so
      // trained weights are bit-identical
      val wb = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.BucketWeight(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("_b")),
          w.toIndexedSeq))
      val margins = feat.groupBy("_id")
        .agg((sum(col("_cnt") * wb)
            / first(col("_ntok")) + lit(bias)).as("_m"),
          first(col("_y")).as("_y"),
          first(col("_ntok")).as("_ntok"))
      // residual r = σ(m) − y; r/ntok is the per-doc factor every
      // bucket gradient multiplies by its count
      val residExpr = margins.select(col("_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("_m"))) - col("_y")).as("_r"),
        (lit(1.0) / col("_ntok")).as("_inv"),
        // logloss via the stable form ln(1+e^{-|m|}) + max(0, ∓m)
        (log(lit(1.0) + exp(-abs(col("_m")))) +
          when(col("_y") > 0.5, greatest(lit(0.0), -col("_m")))
            .otherwise(greatest(lit(0.0), col("_m")))).as("_ll"))
      if (e == epochs) {
        // final evaluation: only the logloss of the trained weights is
        // needed — one aggregation straight off the margin pass, no
        // checkpoint, no gradient job
        if (n == 0L) { // epochs == 0: no gradient job ever resolved n
          n = feat.select(count_distinct(col("_id"))).head().getLong(0)
          requireN()
        }
        losses += residExpr.agg(sum(col("_ll"))).head().getDouble(0) / n
      } else {
        // keyed checkpoint again: resid physically inherits feat's
        // hash(_id) layout (the margin pass is exchange-free), so the
        // claim is true and the gradient join sees both sides
        // co-partitioned
        val resid = org.apache.spark.sql.graftbridge.ColumnBridge
          .localCheckpointKeyed(residExpr, Seq("_id"))
        val residRdds =
          org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(resid)
        try {
          // r22: plain CO-PARTITIONED join, not broadcast(resid) —
          // resid derives from feat.groupBy(_id), so both sides land
          // hash(_id) in feat's partition count and the shuffled-hash
          // join (resid builds: 3 doubles/doc, the narrow side) zips
          // partitions with NO exchange and NO per-epoch broadcast of
          // a per-document frame (guide §3.1/§2.4 — the r21 verdict's
          // one remaining 100-TB scale risk: resid is one row per
          // training doc, broadcast 17× per fit by construction).
          // The epoch's logloss/bias sums ride the SAME job as the
          // bucket gradients (sentinel keys −1/−2 unioned into the
          // partial agg onto the bucket grid — guide §1.2, remove
          // passes): ONE aggregation job per epoch where r21 ran a
          // separate stats job (3 jobs/epoch → 2; the stats collect
          // was ~a third of the fit's local wall at the gate SFs).
          val gradRows = feat.join(
              resid.select("_id", "_r", "_inv").hint("shuffle_hash"), "_id")
            .select(col("_b"),
              (col("_r") * col("_inv") * col("_cnt")).as("_x"))
          val combined = gradRows
            .unionByName(resid.select(lit(-1L).as("_b"), col("_ll").as("_x")))
            .unionByName(resid.select(lit(-2L).as("_b"), col("_r").as("_x")))
            .unionByName(resid.select(lit(-3L).as("_b"), lit(1.0).as("_x")))
            .groupBy("_b")
            .agg(sum(col("_x")).as("_g"))
          val sums = combined
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          if (e == 0) { n = sums.getOrElse(-3L, 0.0).toLong; requireN() }
          losses += sums(-1L) / n
          w = w.indices.map(b =>
            snap(w(b) - lr * sums.getOrElse(b.toLong, 0.0) / n)).toArray
          bias = snap(bias - lr * (sums.getOrElse(-2L, 0.0) / n))
        } finally residRdds.foreach(_.unpersist(blocking = false))
      }
    }
    Fit(w, bias, losses.result())
    } finally featRdds.foreach(_.unpersist(blocking = false))
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
