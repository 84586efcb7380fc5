package graft

import org.apache.spark.sql.functions._
import graft.operators.{Salting, Similarity}

class SaltingAndIvfSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAgg matches plain aggregation on a skewed key") {
    val df = ((1 to 1000).map(i => ("hot", i.toLong, 1.0)) ++
      (1 to 10).map(i => ("cold", i.toLong, 2.0))).toDF("k", "id", "v")
    val salted = Salting.saltedAgg(df, "k", "v", "id").orderBy("k").collect()
    val plain = df.groupBy("k").agg(count(lit(1)), sum("v")).orderBy("k").collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("saltedCollect gathers all values per key (sorted)") {
    val df = (1 to 100).map(i => ("k", i.toLong)).toDF("k", "v")
    val out = Salting.saltedCollect(df, "k", "v", "v", buckets = 8).collect()
    assert(out.length == 1)
    assert(out(0).getSeq[Long](1).toSeq == (1L to 100L))
  }

  test("saltedJoin equals plain join") {
    val big = ((1 to 500).map(i => ("a", i.toLong)) ++ (1 to 5).map(i => ("b", i.toLong)))
      .toDF("k", "id")
    val small = Seq(("a", "alpha"), ("b", "beta")).toDF("k", "name")
    val salted = Salting.saltedJoin(big, small, "k", "id")
    assert(salted.count() == 505)
    assert(salted.filter($"k" === "a" && $"name" === "alpha").count() == 500)
  }

  test("ivfTopK probes the best cells and reranks exactly") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.95f, 0.05f), 0),
      (2L, Array(0.9f, 0.1f), 0), (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.9f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfTopK(vecs.filter($"vec_id" === 0L), vecs,
      "vec_id", "embedding", "label", k = 2, nprobe = 1)
      .orderBy("rnk").collect()
    // nprobe=1 → only cell 0 probed; best neighbors are 1 then 2
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("kmeansCells separates well-split groups deterministically") {
    // two tight groups far apart in 2-D; every id in a group must get
    // the same cell and the two groups different cells
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.0f) else Array(0.0f, 10.0f)
      (i.toLong, Array(base(0) + (i % 5) * 0.01f, base(1) + (i % 3) * 0.01f))
    }.toDF("vec_id", "embedding")
    val cells = Similarity.kmeansCells(vecs, "vec_id", "embedding",
      k = 2, iters = 4, trainMod = 2)
    val byGroup = cells.withColumn("grp", $"vec_id" % 2)
      .groupBy("grp").agg(org.apache.spark.sql.functions.collect_set($"cell").as("cs"))
      .orderBy("grp").collect()
    val g0 = byGroup(0).getSeq[Long](1).toSet
    val g1 = byGroup(1).getSeq[Long](1).toSet
    assert(g0.size == 1 && g1.size == 1 && g0 != g1)
    // deterministic: rerun produces identical assignment
    val again = Similarity.kmeansCells(vecs, "vec_id", "embedding",
      k = 2, iters = 4, trainMod = 2)
    assert(cells.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("BloomAuth: zero false negatives, bounded false positives, exact after join") {
    val enabled = spark.range(0, 1000, 3).toDF("key") // every 3rd key
    val events = spark.range(0, 3000).toDF("key")
    val bf = graft.operators.BloomAuth.build(enabled, "key", 400, 0.03)
    // no false negatives: every enabled key passes the sketch
    val misses = enabled.filter(
      !graft.operators.BloomAuth.mightContain(bf, $"key",
        org.apache.spark.sql.types.LongType)).count()
    assert(misses == 0L)
    // bloom-only pass rate is bounded: 334 true + fp on the rest
    val bloomPass = events.filter(
      graft.operators.BloomAuth.mightContain(bf, $"key",
        org.apache.spark.sql.types.LongType) && $"key" < 1000).count()
    assert(bloomPass >= 334L && bloomPass <= 334L + 40L, s"bloomPass=$bloomPass")
    // two-phase gate is EXACT
    val out = graft.operators.BloomAuth.filterAuthorized(
      events.filter($"key" < 1000), enabled, "key", 400, 0.03)
    assert(out.count() == 334L)
  }

  test("BloomAuth: string writeKeys probe the sketch the way build inserted them") {
    // regression: a long-typed probe against a string-built sketch
    // nulled every key (string→bigint cast) and dropped ALL rows
    val enabled = spark.range(0, 200).selectExpr("concat('wk-', id) AS write_key")
    val events = spark.range(0, 600)
      .selectExpr("concat('wk-', id) AS write_key", "id AS payload")
    val out = graft.operators.BloomAuth.filterAuthorized(
      events, enabled, "write_key", 200, 0.03)
    assert(out.count() == 200L)
    // no false negatives on the sketch alone
    val bf = graft.operators.BloomAuth.build(enabled, "write_key", 200, 0.03)
    val misses = enabled.filter(!graft.operators.BloomAuth.mightContain(
      bf, $"write_key", org.apache.spark.sql.types.StringType)).count()
    assert(misses == 0L)
    // unsupported key types fail fast, not empty
    intercept[IllegalArgumentException] {
      graft.operators.BloomAuth.mightContain(bf, $"write_key",
        org.apache.spark.sql.types.DoubleType)
    }
  }

  test("ANN recall floors: multi-table LSH and k-means IVF vs brute force") {
    val names = Seq("s_cosine_topk", "s_lsh_topk", "s_ivf_topk")
    val Seq(bf, lsh, ivf) = names.map { n =>
      SparkEntry.queries(n)(spark, sf)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lshRecall = (bf & lsh).size.toDouble / bf.size
    val ivfRecall = (bf & ivf).size.toDouble / bf.size
    // floors, not targets: recall is deterministic for fixed
    // planes/seeds, so a drop means the algorithm changed
    assert(lshRecall >= 0.4, s"LSH recall@3 = $lshRecall")
    assert(ivfRecall >= 0.4, s"IVF recall@3 = $ivfRecall")
  }

  test("recallAt3: hits over each query's exact count, 0 through the left join") {
    // query 1: 2 exact neighbours, 1 approximate hit → 1/2, not 1/3;
    // query 2: 3 exact neighbours, no approximate hit → 0 hits, 0.0
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("qid", "cid")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 13L), (2L, 29L)).toDF("qid", "cid")
    val got = graft.queries.LlmData.recallAt3(exact, approx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
  }

  test("s_ivfpq_tuning: full grid, shortlist-monotone recall, floor holds, residual beats raw PQ") {
    val rows = SparkEntry.queries("s_ivfpq_tuning")(spark, sf).collect()
    assert(rows.length == 24, s"expected 8×3 grid, got ${rows.length}")
    val recall = rows.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // a larger shortlist reranks a superset exactly, so recall cannot
    // drop across 16 → 32 → 64 at fixed nprobe (nprobe is NOT
    // monotone — more probed cells can displace shortlist entries)
    for (np <- 1L to 8L) {
      assert(recall((np, 16L)) <= recall((np, 32L)) + 1e-9)
      assert(recall((np, 32L)) <= recall((np, 64L)) + 1e-9)
    }
    // the floor claim is rated-regime (occupancy in [16,128]) and
    // this 500-vector corpus is in-regime at 62.5/cell — the default
    // row's verdict is a live floor comparison here, not vacuous
    assert(rows.forall(_.getBoolean(4)), "default row broke its recall floor")
    // THE residual claim (Jégou'11 §IV): the same m bytes quantize
    // x − q1(x) instead of x, so the composed index at its default
    // operating point must BEAT the un-pruned raw-vector ADC path at
    // the same shortlist — with raw codes it was capped at exactly
    // that baseline (the r12 gap). Both pipelines run side by side
    // here, so the comparison is live, not a stored constant.
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4)
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding", books,
        k = 3, shortlist = 64)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = (exact & pq).size.toDouble / exact.size
    assert(recall((4L, 64L)) > pqRecall,
      s"default residual recall ${recall((4L, 64L))} did not beat raw PQ $pqRecall")
    // and probing ALL cells (no prune) must not lose to raw ADC either
    assert(recall((8L, 64L)) >= pqRecall,
      s"full-probe residual recall ${recall((8L, 64L))} < raw PQ $pqRecall")
  }

  test("autoOperatingPoint: cheapest floor-meeting config, re-train signal when none meets it") {
    val tuning = SparkEntry.queries("s_ivfpq_tuning")(spark, sf)
    val rows = tuning.collect().map(r =>
      (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3)))
    val floor = 0.35
    val pick = Similarity.autoOperatingPoint(tuning, floor)
    assert(pick.isDefined, "in-regime corpus must have a floor-meeting config")
    val (np, sl) = pick.get
    val recall = rows.map(t => (t._1, t._2) -> t._3).toMap
    assert(recall((np, sl)) >= floor, s"picked ($np,$sl) below floor")
    // minimality: nothing lexicographically cheaper meets the floor
    assert(!rows.exists(t => t._3 >= floor &&
      (t._1 < np || (t._1 == np && t._2 < sl))),
      s"($np,$sl) is not the cheapest floor-meeting config")
    // an unreachable floor returns None — the caller's reindex/
    // re-train signal — never a garbage config
    assert(Similarity.autoOperatingPoint(tuning, 1.01).isEmpty)
  }

  test("CatalogReader round-trips csv and json") {
    val dir = tempDir("graft_cat").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df.write.option("header", "true").csv(s"$dir/c")
    df.write.json(s"$dir/j")
    assert(graft.sources.CatalogReader.csv(spark, s"$dir/c").count() == 2)
    val j = graft.sources.CatalogReader.jsonLines(spark, s"$dir/j")
    assert(j.columns.toSet == Set("id", "name") && j.count() == 2)
  }

  test("NearestCell kernel == literal-inlined assign algebra (both replay modes)") {
    // deterministic pseudo-random floats incl. exact-tie geometry:
    // mirrored centroids make equidistant rows, where the smallest-id
    // tie policy is the difference between parity and flakiness
    val dim = 16
    def vec(seed: Long): Array[Float] = {
      var st = seed
      Array.fill(dim) {
        st = st * 6364136223846793005L + 1442695040888963407L
        ((st >>> 40).toInt % 1000) / 500.0f - 1.0f
      }
    }
    val rows = (0L until 500L).map(i => (i, vec(i))) ++
      Seq((500L, Array.fill(dim)(0.0f)))               // equidistant to ±c
    val df = rows.toDF("id", "v")
    val cents: Array[Array[Double]] =
      (0 until 37).map(j => vec(1000L + j).map(_.toDouble)).toArray ++
        Array(Array.fill(dim)(0.5d), Array.fill(dim)(-0.5d)) // mirror pair
    for (exact <- Seq(true, false)) {
      val kernel = graft.functions.VectorFunctions.nearestCell(
        col("v"), cents.toSeq.map(_.toSeq), replayExact = exact)
      val algebra = Similarity.assignAlgebraOn(col("v"), cents, exact)
      val mism = df.select(kernel.as("k"), algebra.as("a"))
        .filter(col("k") =!= col("a")).count()
      assert(mism == 0L, s"kernel/algebra mismatch (replayExact=$exact)")
    }
  }

  test("OffsetArgmin kernel == element_at offset algebra") {
    val ncells = 41; val ks = 8
    def d(seed: Long): Double = {
      val st = seed * 6364136223846793005L + 1442695040888963407L
      ((st >>> 40).toInt % 1000) / 250.0
    }
    val offs: IndexedSeq[IndexedSeq[Double]] =
      (0 until ncells).map(c => (0 until ks).map(j => d(c * 100L + j)))
    val rows = (0L until 300L).map { i =>
      (i, i % ncells, (0 until ks).map(j => d(7000L + i * 10 + j)).toArray)
    }
    val df = rows.toDF("id", "cell", "dcs")
    val kernel = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.OffsetArgmin(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("cell")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("dcs")),
        offs))
    val scored = (0 until ks).map { j =>
      val offByCell = array((0 until ncells).map(c => lit(offs(c)(j))): _*)
      val raw = element_at(offByCell, (col("cell") + 1).cast("int")) -
        lit(2.0) * element_at(col("dcs"), j + 1)
      struct(round(raw, 6).as("s"), lit(j).as("j"))
    }
    val algebra = array_min(array(scored: _*)).getField("j")
    val mism = df.select(kernel.as("k"), algebra.as("a"))
      .filter(col("k") =!= col("a")).count()
    assert(mism == 0L)
  }

  test("CellScores kernel == literal-inlined probe-score algebra") {
    // same pseudo-random geometry as the NearestCell pin (incl. the
    // mirrored-centroid tie rows): the probe path consumes BOTH
    // fields, so parity is on the full (cs, qd) table per cell
    val dim = 16
    def vec(seed: Long): Array[Float] = {
      var st = seed
      Array.fill(dim) {
        st = st * 6364136223846793005L + 1442695040888963407L
        ((st >>> 40).toInt % 1000) / 500.0f - 1.0f
      }
    }
    val rows = (0L until 300L).map(i => (i, vec(i))) ++
      Seq((300L, Array.fill(dim)(0.0f)))
    val df = rows.toDF("id", "v")
    val cents: Array[Array[Double]] =
      (0 until 23).map(j => vec(2000L + j).map(_.toDouble)).toArray ++
        Array(Array.fill(dim)(0.5d), Array.fill(dim)(-0.5d))
    val kernel = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CellScores(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")),
        cents.map(_.toIndexedSeq).toIndexedSeq))
    val algebra = array(cents.map { c =>
      val c2 = c.map(x => x * x).sum
      val d = graft.functions.VectorFunctions.dot(col("v"), array(c.map(lit): _*))
      struct(round(lit(c2) - lit(2.0) * d, 6).as("cs"), d.as("qd"))
    }: _*)
    val mism = df.select(kernel.as("k"), algebra.as("a"))
      .filter(col("k") =!= col("a")).count()
    assert(mism == 0L, "CellScores/algebra mismatch")
  }

  test("groupCells: deterministic partition of the cell table — " +
       "ascending members, no empty groups, stable across calls") {
    val dim = 16
    def vec(seed: Long): Array[Double] = {
      var st = seed
      Array.fill(dim) {
        st = st * 6364136223846793005L + 1442695040888963407L
        ((st >>> 40).toInt % 1000) / 500.0 - 1.0
      }
    }
    val cents = (0 until 90).map(j => vec(5000L + j)).toArray
    val (gc, members) = Similarity.groupCells(cents)
    val (gc2, members2) = Similarity.groupCells(cents)
    assert(gc.map(_.toSeq).toSeq == gc2.map(_.toSeq).toSeq &&
      members.map(_.toSeq).toSeq == members2.map(_.toSeq).toSeq,
      "groupCells is not deterministic")
    assert(members.forall(_.nonEmpty), "empty group survived the drop")
    assert(members.forall(m => m.sameElements(m.sorted)),
      "member lists must ascend by global cell id (the in-group tie policy)")
    assert(members.flatMap(_.toSeq).sorted.toSeq == cents.indices.toSeq,
      "members must partition the cell table exactly")
    assert(gc.length == members.length && gc.length <= math.ceil(
      math.sqrt(cents.length.toDouble)).toInt)
  }

  test("TwoLevelCell kernel == composed group-then-restricted flat argmin " +
       "(both replay modes, incl. tie geometry)") {
    // the two-level SEMANTICS pin: stage 1 must equal a flat
    // NearestCell over the group centroids, stage 2 a flat
    // NearestCell over the winning group's member centroids with the
    // local winner mapped back to its global id — composed from the
    // already-parity-pinned kernel, so the chain back to the literal
    // algebra is closed
    val dim = 16
    def vecF(seed: Long): Array[Float] = {
      var st = seed
      Array.fill(dim) {
        st = st * 6364136223846793005L + 1442695040888963407L
        ((st >>> 40).toInt % 1000) / 500.0f - 1.0f
      }
    }
    val rows = (0L until 400L).map(i => (i, vecF(i))) ++
      Seq((400L, Array.fill(dim)(0.0f)))               // tie row
    val df = rows.toDF("id", "v")
    val cents: Array[Array[Double]] =
      (0 until 60).map(j => vecF(9000L + j).map(_.toDouble)).toArray ++
        Array(Array.fill(dim)(0.5d), Array.fill(dim)(-0.5d)) // mirror pair
    val (gc, members) = Similarity.groupCells(cents)
    for (exact <- Seq(true, false)) {
      val kernel = graft.functions.VectorFunctions.twoLevelCell(
        col("v"), gc.toSeq.map(_.toSeq), members.toSeq.map(_.toSeq),
        cents.toSeq.map(_.toSeq), replayExact = exact)
      val grpExpr = graft.functions.VectorFunctions.nearestCell(
        col("v"), gc.toSeq.map(_.toSeq), replayExact = exact)
      // composed reference: per group, the flat argmin over member
      // centroids mapped to global ids, selected by the group argmin
      val composed = members.indices.foldLeft(lit(-1)) { (acc, g) =>
        val local = graft.functions.VectorFunctions.nearestCell(
          col("v"), members(g).map(c => cents(c).toSeq).toSeq,
          replayExact = exact)
        val globalId = element_at(
          array(members(g).map(lit): _*), local + 1)
        when(grpExpr === g, globalId).otherwise(acc)
      }
      val mism = df.select(kernel.as("k"), composed.as("a"))
        .filter(col("k") =!= col("a")).count()
      assert(mism == 0L, s"TwoLevelCell/composed mismatch (replayExact=$exact)")
    }
  }

  test("boundedTrainMod: identity through the ≤100× proof scales, caps past them") {
    import Similarity.boundedTrainMod
    // the gate scales: sf0.01 reindex (n=2000, k=45) and 100×
    // (n=200k, k=448) keep the base mod — no published training moved
    assert(boundedTrainMod(2000L, 45, 5) == 5)
    assert(boundedTrainMod(200000L, 448, 5) == 5)
    // the bound engages at the campaign decades
    assert(boundedTrainMod(2000000L, 1415, 5) == 6)    // 1000×
    assert(boundedTrainMod(20000000L, 4473, 5) == 18)  // 10,000×
    // sample stays ~perCell·k as n grows at fixed k
    assert(boundedTrainMod(1L << 30, 1000, 5) == 4195)
  }
}
