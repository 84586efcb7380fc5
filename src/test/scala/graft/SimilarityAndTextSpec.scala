package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.{TextFunctions => T, VectorFunctions => V}

class SimilarityAndTextSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic tiebreak") {
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding", k = 2)
      .orderBy("rnk").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(out(0).getDouble(2) > 0.99)
  }

  test("lshTopK: neighbors found share the query bucket; rerank is exact") {
    val out = Similarity.lshTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding",
      k = 2, numPlanes = 2, dim = 4)
    // approximate: result is a subset of brute-force candidates, ranked
    val ids = out.select("cid").as[Long].collect().toSet
    assert(ids.subsetOf(Set(1L, 2L, 3L)))
  }

  test("cosine of identical vectors is 1") {
    val r = vecs.select(V.cosineRounded(
      V.asDouble(col("embedding")), V.asDouble(col("embedding"))).as("c"))
      .agg(min("c"), max("c")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
  }

  test("langId picks the language with most markers, tie order en-first") {
    val df = Seq(
      ("the cat and the dog of to in"),
      ("der hund und die katze ist das"),
      ("el perro la casa los que de"),
      ("")).toDF("text")
    val out = df.select(T.langId(col("text")).as("l")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "es", "en"))
  }

  test("t_seq_pack packs each source contiguously from offset 0") {
    // reconstruct each doc's global token position from (seq_first,
    // offset) and assert the packed stream has no gaps or overlaps
    val out = SparkEntry.queries("t_seq_pack")(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      var pos = 0L
      rows.foreach { r =>
        val n = r.getLong(2)
        assert(r.getLong(3) * 512 + r.getLong(5) == pos, s"$src gap at $pos")
        assert(r.getLong(4) == (pos + n - 1) / 512, s"$src seq_last at $pos")
        pos += n
      }
    }
  }

  test("fingerprint is order- and duplication-invariant") {
    val df = Seq(("b a c a b"), ("a b c"), ("c b a x")).toDF("text")
    val fps = df.select(T.fingerprint(col("text")).as("f")).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("SimHash: identical token sets agree, disjoint ones differ") {
    val df = Seq(
      ("a b c d e f g h"), ("a b c d e f g h"), ("q r s t u v w x"))
      .toDF("text").withColumn("sim", T.simhash64(split(col("text"), " ")))
    val sims = df.select("sim").as[Long].collect()
    assert(sims(0) == sims(1))
    assert(sims(0) != sims(2))
  }

  test("quality score lands in [0,1] on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mm = docs.select(T.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("topNgram: run-length over the sorted grams, ties break to smallest") {
    def top(text: String): (Long, String) = {
      val r = Seq(text).toDF("text")
        .select(T.topNgram(split(col("text"), " "), 2).as("t"))
        .select("t.cnt", "t.gram").head()
      (r.getLong(0), r.getString(1))
    }
    assert(top("a b a b a b") == (3L, "a b"))      // "a b"x3 beats "b a"x2
    // "a b" / "b c" / "c d" all x2 -> tie breaks to the smallest gram
    assert(top("a b c d a b c d") == (2L, "a b"))
    assert(top("p q r s") == (1L, "p q"))          // all x1 -> first sorted gram
    assert(top("one") == (0L, ""))                 // shorter than the gram
  }

  test("dupNgramCoverage: exact interval union, every occurrence counts") {
    def cov(text: String): Int =
      Seq(text).toDF("text")
        .select(T.dupNgramCoverage(split(col("text"), " "), 3).as("c"))
        .head().getInt(0)
    // "a b c" occurs at 0 and 4: covers 0-2 and 4-6 -> 6 of 7
    assert(cov("a b c q a b c") == 6)
    // overlapping duplicate runs merge: "a a a a" trigram "a a a" at 0,1 -> covers 0-3
    assert(cov("a a a a") == 4)
    assert(cov("p q r s") == 0)                    // no duplicate trigram
    assert(cov("p q") == 0)                        // shorter than the gram
  }

  test("autoPlanes holds occupancy: ceil(log2(n/target)), clamped, monotone") {
    import graft.operators.Similarity.autoPlanes
    assert(autoPlanes(64L * 1024, 64.0) == 10)     // 2^10 buckets of 64
    assert(autoPlanes(65L * 1024, 64.0) == 11)     // just over → one more plane
    assert(autoPlanes(1L << 40, 64.0) == 24)       // upper clamp
    assert(autoPlanes(10, 64.0) == 2)              // lower clamp
    assert(autoPlanes(0, 64.0) == 2)               // degenerate corpus
    // doubling the corpus at fixed target adds exactly one plane —
    // halving per-bucket growth is what keeps the pair join linear
    val p1 = autoPlanes(500000, 64.0)
    assert(autoPlanes(1000000, 64.0) == p1 + 1)
    intercept[IllegalArgumentException](autoPlanes(100, 0.0))
  }

  test("semanticDedupAuto == semanticDedup at the derived plane count") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val n = emb.count()
    val planes = Similarity.autoPlanes(n, targetOccupancy = 16.0)
    val auto = Similarity.semanticDedupAuto(emb, "vec_id", "embedding",
      dim = 64, minCos = 0.35, targetOccupancy = 16.0)
      .orderBy("id1", "id2").collect()
    val pinned = Similarity.semanticDedup(emb, "vec_id", "embedding",
      planes, dim = 64, minCos = 0.35)
      .orderBy("id1", "id2").collect()
    assert(auto.toSeq == pinned.toSeq)
  }

  test("classifierWeights are dyadic in [-1,1]; logit is order-exact") {
    val ws = T.classifierWeights(128)
    assert(ws.length == 128)
    assert(ws.forall(w => w >= -1.0 && w <= 1.0))
    // exact multiples of 2^-10: scaling by 1024 yields integers
    assert(ws.forall(w => (w * 1024.0) == (w * 1024.0).round.toDouble))
  }

  test("classifierLogit/sigmoid6: bounded, deterministic, sign-consistent") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // dup of 0
      (2L, "lorem ipsum dolor sit amet consectetur"),
      (3L, "")).toDF("doc_id", "text")
    val toks = split(T.normalize(col("text")), " ")
    val ws = T.classifierWeights(128)
    val out = docs.select(col("doc_id"),
        T.classifierLogit(toks, ws, bias = 0.05).as("lg"))
      .withColumn("score", T.sigmoid6(col("lg")))
      .orderBy("doc_id").collect()
    // identical text => identical margin AND score, bit-for-bit
    assert(out(0).getDouble(1) == out(1).getDouble(1))
    assert(out(0).getDouble(2) == out(1).getDouble(2))
    // sigmoid is bounded and monotone in the margin
    assert(out.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) < 1.0))
    // empty doc: the fold sees the single "" token; margin is finite
    assert(!out(3).getDouble(1).isNaN)
    // sign consistency: score >= 0.5 iff margin >= 0 (sigmoid(0)=0.5;
    // the 6-dp round cannot cross the midpoint for |margin| > 1e-5)
    out.filter(r => math.abs(r.getDouble(1)) > 1e-5).foreach { r =>
      assert((r.getDouble(2) >= 0.5) == (r.getDouble(1) >= 0.0))
    }
  }

  test("classifier calibration: fracs sum to 1 per source, cut rate monotone") {
    val cal = graft.queries.LlmData.queries("t_classifier_calib")(spark, sf)
      .collect()
    val bySrc = cal.groupBy(_.getString(0))
    bySrc.foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
      // cut_keep_rate decreases as the threshold bucket rises
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(lo, hi) => assert(lo.getDouble(4) >= hi.getDouble(4))
        case _ =>
      }
      // the lowest cut keeps everything
      assert(sorted.head.getDouble(4) == 1.0)
    }
  }
}
