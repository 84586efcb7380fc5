package graft

import org.apache.spark.sql.functions._
import graft.operators.Classifier
import graft.functions.TextFunctions
import graft.sources.Tables

/** The in-engine quality-classifier trainer (Classifier.fit): must be
  * (a) deterministic fit-to-fit (the dyadic snap absorbs distributed
  * accumulation-order noise), (b) convergent (mean logloss strictly
  * improves from init to final), (c) dyadic — every weight a multiple
  * of 2⁻²⁰ in [-8, 8], the exact-margin precondition — and (d)
  * consistent with the row-local scoring fold the gate queries run. */
class ClassifierSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
    .withColumn("_lbl", Classifier.langAgreeLabel(col("text"), col("lang")))
    .localCheckpoint(eager = true)

  private lazy val fit =
    Classifier.fit(docs, "doc_id", "text", "_lbl",
      d = 128, epochs = 6, lr = 3.0)

  test("fit is deterministic: refitting yields bit-identical weights") {
    val again = Classifier.fit(docs, "doc_id", "text", "_lbl",
      d = 128, epochs = 6, lr = 3.0)
    assert(fit.weights.toSeq == again.weights.toSeq)
    assert(fit.bias == again.bias)
    assert(fit.losses.toSeq == again.losses.toSeq)
  }

  test("fit converges: mean logloss strictly improves and weights moved") {
    assert(fit.losses.length == 7) // init + one per epoch
    assert(fit.losses.last < fit.losses.head,
      s"no improvement: ${fit.losses.toSeq}")
    assert(fit.weights.exists(_ != 0.0), "all weights stayed zero")
  }

  test("weights are dyadic multiples of 2^-20 in [-8, 8]") {
    val grid = 1048576.0
    (fit.weights :+ fit.bias).foreach { w =>
      assert(w * grid == math.rint(w * grid), s"off-grid weight $w")
      assert(math.abs(w) <= 8.0, s"unclamped weight $w")
    }
  }

  test("trained weights score identically through the row-local fold") {
    // the gate path: classifierLogit's fold with the trained literals
    // must equal an explicit explode-and-sum of the same features —
    // the exactness claim (dyadic sums are order-free) made testable
    val toks = split(TextFunctions.normalize(col("text")), " ")
    val folded = docs.select(col("doc_id"),
      TextFunctions.classifierLogit(toks, fit.weightSeq, fit.bias).as("m"))
    val exploded = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"),
        element_at(typedlit(fit.weightSeq),
          (TextFunctions.featureBucket(col("tok"), 128) + 1L).cast("int"))
          .as("w"))
      .groupBy("doc_id")
      .agg((sum("w") / count(lit(1)) + lit(fit.bias)).as("m"))
    val j = folded.join(exploded.withColumnRenamed("m", "m2"), "doc_id")
      .filter(col("m") =!= col("m2"))
    assert(j.count() == 0, "fold and explode margins disagree")
  }

  test("the seed label is non-degenerate on the spec corpus") {
    val byLbl = docs.groupBy("_lbl").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byLbl.getOrElse(1L, 0L) > 0, "no positive labels")
    assert(byLbl.getOrElse(0L, 0L) > 0, "no negative labels")
  }

  test("classifierFeatures: unigrams then space-joined bigrams, 2n-1 per doc") {
    import spark.implicits._
    val got = Seq("The quick brown fox!", "one", "")
      .toDF("text")
      .select(TextFunctions.classifierFeatures(col("text")).as("f"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got(0) == List("the", "quick", "brown", "fox",
      "the quick", "quick brown", "brown fox"))
    assert(got(1) == List("one"))      // no bigrams from 1 token
    assert(got(0).length == 2 * 4 - 1)
    // a bigram string can never equal a unigram (normalized tokens
    // cannot contain the joiner space), so buckets never alias by
    // construction ambiguity
    assert(got(0).drop(4).forall(_.contains(" ")))
  }

  test("bigram fit: deterministic, dyadic, and scored identically through the shared feature stream") {
    val f1 = Classifier.fit(docs, "doc_id", "text", "_lbl",
      d = 256, epochs = 4, lr = 6.0, bigrams = true)
    val f2 = Classifier.fit(docs, "doc_id", "text", "_lbl",
      d = 256, epochs = 4, lr = 6.0, bigrams = true)
    assert(f1.weights.toSeq == f2.weights.toSeq && f1.bias == f2.bias)
    val grid = 1048576.0
    (f1.weights :+ f1.bias).foreach(w =>
      assert(w * grid == math.rint(w * grid) && math.abs(w) <= 8.0))
    // the scoring fold over classifierFeatures must equal an explicit
    // explode-and-sum of the same stream (exactness under bigrams)
    val feats = TextFunctions.classifierFeatures(col("text"))
    val folded = docs.select(col("doc_id"),
      TextFunctions.classifierLogit(feats, f1.weightSeq, f1.bias).as("m"))
    val exploded = docs
      .select(col("doc_id"), explode(feats).as("tok"))
      .select(col("doc_id"),
        element_at(typedlit(f1.weightSeq),
          (TextFunctions.featureBucket(col("tok"), 256) + 1L).cast("int"))
          .as("w"))
      .groupBy("doc_id")
      .agg((sum("w") / count(lit(1)) + lit(f1.bias)).as("m2"))
    assert(folded.join(exploded, "doc_id")
      .filter(col("m") =!= col("m2")).count() == 0)
  }

  test("native ClassifierMargin is bit-identical to the HOF logit (bigram + unigram, real docs + edges)") {
    import spark.implicits._
    val ws = TextFunctions.classifierWeights(1024, seed = 7L)
    val edge = Seq("", "   ", "one", "!!!", "a  b\tc", "Ünïcode tøkens here")
      .toDF("text").withColumn("doc_id", lit(-1L))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(
      edge.select(col("doc_id"), col("text")))
    // bigram production path vs the HOF oracle algebra — EXACT equality
    val bi = corpus.select(
      TextFunctions.classifierMargin(col("text"), ws, 0.0625d).as("native"),
      TextFunctions.classifierLogit(
        TextFunctions.classifierFeatures(col("text")), ws, 0.0625d).as("hof"))
    assert(bi.filter(col("native") =!= col("hof")).count() == 0)
    assert(bi.filter(col("native").isNull).count() == 0)
    // unigram mode vs the plain token fold
    val uni = corpus.select(
      TextFunctions.classifierMargin(col("text"), fit.weightSeq, fit.bias,
        bigrams = false).as("native"),
      TextFunctions.classifierLogit(
        split(TextFunctions.normalize(col("text")), " "),
        fit.weightSeq, fit.bias).as("hof"))
    assert(uni.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native ClassifierFeatures equals the Column-algebra stream (the fit featurizer swap)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val corpus = docs.select(col("text")).unionByName(
      Seq("", "one", "two words", "a b c d").toDF("text"))
    val toks = split(TextFunctions.normalize(col("text")), " ")
    val both = corpus.select(
      ColumnBridge.column(graft.plans.ClassifierFeatures(
        ColumnBridge.expression(toks))).as("native"),
      TextFunctions.classifierFeatures(col("text")).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("autoTrainMod: full batch through every committed proof scale, ceil above the cap") {
    import Classifier.{autoTrainMod, AutoTrainCap}
    // 1 at and below the cap — sf0.01 (5k), 100x (500k), 1000x (5M)
    // all fit FULL-batch, so landing the lever changed no published
    // weight at any proven scale
    for (n <- Seq(1L, 5000L, 500000L, 5000000L, AutoTrainCap))
      assert(autoTrainMod(n) == 1, s"n=$n")
    // first engage: smallest S with ceil(n/S) <= cap
    assert(autoTrainMod(AutoTrainCap + 1) == 2)
    assert(autoTrainMod(50000000L) == 6)   // the 10000x corpus
    assert(autoTrainMod(5000000000L) == 597) // a 100TB-ish corpus
    // S is exactly ceil(n / cap)
    for (n <- Seq(12345678L, 98765432L, 3L * AutoTrainCap))
      assert(autoTrainMod(n) == ((n + AutoTrainCap - 1) / AutoTrainCap).toInt)
  }

  test("trainMod fit == full fit on the hash-selected subset (the sample is the ONLY effect)") {
    // the 100TB bound must be pure sampling: training with trainMod=S
    // is bit-identical to full-batch training on the pre-filtered
    // xxhash64 slice — no hidden renormalization, no lr coupling
    val s = 3
    val sampled = Classifier.fit(docs, "doc_id", "text", "_lbl",
      d = 128, epochs = 4, lr = 3.0, trainMod = s)
    val manual = Classifier.fit(
      docs.filter(pmod(xxhash64(col("doc_id")), lit(s)) === 0),
      "doc_id", "text", "_lbl", d = 128, epochs = 4, lr = 3.0)
    assert(sampled.weights.toSeq == manual.weights.toSeq)
    assert(sampled.bias == manual.bias)
    assert(sampled.losses.toSeq == manual.losses.toSeq)
  }

  test("a fit runs one job per epoch: at most epochs + 3 jobs at the gate's 16 epochs") {
    val epochs = 16
    val (jobs, _) = underGroup {
      Classifier.fit(docs, "doc_id", "text", "_lbl",
        d = 8192, epochs = epochs, lr = 8.0, bigrams = true)
    }
    assert(jobs <= epochs + 3, s"$jobs jobs for $epochs epochs")
  }

  test("calibrateCut maximizes bucketed accuracy, lowest cut on ties") {
    import spark.implicits._
    // margins bucket to -2, 0, 1; positives concentrate at bucket >= 0
    // → best cut is just past bucket -2 (keeps both b=0 positives and
    // drops both b=-2 negatives: 4/6 correct; keep-all scores 3/6,
    // drop-all 3/6)
    val scored = Seq(
      (-0.15, 0L), (-0.11, 0L), (-0.18, 1L),
      (0.02, 1L), (0.05, 1L), (0.19, 0L)).toDF("m", "y")
    assert(Classifier.calibrateCut(scored, "m", "y") == -1L)
    // all-positive frame: keep-everything is optimal → the lowest
    // bucket wins (deterministic, no off-grid cut invented)
    val allPos = Seq((0.31, 1L), (-0.52, 1L)).toDF("m", "y")
    assert(Classifier.calibrateCut(allPos, "m", "y") == -6L)
    // all-negative frame: drop-everything is optimal → one past the top
    val allNeg = Seq((0.31, 0L), (-0.52, 0L)).toDF("m", "y")
    assert(Classifier.calibrateCut(allNeg, "m", "y") == 4L)
  }
}
