package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Similarity}
import graft.sources.Tables

/** The persisted-ANN-index discipline: the on-disk artifact must (a)
  * search identically to the in-session composed index, (b) prune
  * buckets at the SCAN when probing, (c) append deltas row-locally
  * with append == rebuild parity, and (d) re-attach in a catalog that
  * has never seen it (the fresh-session story). */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
    .localCheckpoint(eager = true)

  private lazy val trained = {
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4)
    // RESIDUAL codebooks (Jégou'11 §IV) — the index codes x − q1(x)
    val books = Similarity.pqResidualCodebooks(emb, "vec_id", "embedding",
      cents, m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4)
    (cents, books)
  }

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("persisted search == in-session ivfPqTopK, and meta round-trips exactly") {
    val (cents, books) = trained
    val dir = tmp("annidx_eq")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_eq", cents, books)
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_eq")
    // trained doubles must round-trip bit-exactly through the meta tables
    assert(meta.cents.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(meta.books.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
    val q = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIndex.search(q, codes, meta, emb, "embedding",
      k = 3, nprobe = 4, shortlist = 64).orderBy("qid", "rnk").collect()
    val inSession = Similarity.ivfPqResidualTopK(q, emb, "vec_id", "embedding",
      cents, books, k = 3, nprobe = 4, shortlist = 64)
      .orderBy("qid", "rnk").collect()
    assert(fromIndex.toSeq == inSession.toSeq)
  }

  test("probe pushes a literal cell filter: bucket pruning fires at the scan") {
    val (cents, books) = trained
    val dir = tmp("annidx_prune")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_prune", cents, books)
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_prune")
    // one query, one probe → exactly one cell of 8 survives the IN
    // filter; the codes scan must report a pruned bucket set, not a
    // full-table read
    val q = emb.filter(col("vec_id") === 0)
    val df = AnnIndex.search(q, codes, meta, emb, "embedding",
      k = 3, nprobe = 1, shortlist = 16)
    val plan = df.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val hits = sel.findAllMatchIn(plan).toList
    assert(hits.nonEmpty, s"no bucket pruning in the codes scan:\n$plan")
    assert(hits.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"probe filter selected ALL buckets:\n${hits.map(_.matched)}")
    assert(df.count() > 0)
  }

  test("filtered search: predicate + probe BOTH push to the scan; results = in-session search of the slice") {
    val (cents, books) = trained
    val dir = tmp("annidx_filt")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_filt", cents,
      books, metaCols = Seq("label"))
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_filt")
    assert(meta.metaCols.map(_._1) == Seq("label"))
    val q = emb.filter(col("vec_id") < 10)
    val df = AnnIndex.search(q, codes, meta, emb, "embedding",
      k = 3, nprobe = 4, shortlist = 64,
      predicate = Some(col("label") === 1))
    // the s_filtered_topk plan-audit pin: the label predicate pushes
    // into the bucketed parquet scan ALONGSIDE the probed-cell IN
    // filter, and bucket pruning still fires
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(label,1)"),
      s"label predicate not pushed to the codes scan:\n$plan")
    assert(plan.contains("In(cell"),
      s"probe IN filter not pushed to the codes scan:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"bucket pruning lost under the filtered scan:\n$plan")
    // filtering candidates commutes with coding (cell/code per row is
    // independent of the rest of the corpus): the filtered indexed
    // search must equal the in-session composed search over the slice
    val inSession = Similarity.ivfPqResidualTopK(q,
      emb.filter(col("label") === 1), "vec_id", "embedding",
      cents, books, k = 3, nprobe = 4, shortlist = 64)
      .orderBy("qid", "rnk").collect()
    assert(df.orderBy("qid", "rnk").collect().toSeq == inSession.toSeq)
    // appended deltas carry the metadata column too: search again over
    // a rebuilt-from-halves artifact and require the same answer
    val dir2 = tmp("annidx_filt2")
    AnnIndex.write(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", dir2, "ann_filt2", cents, books,
      metaCols = Seq("label"))
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1), "embedding",
      dir2, "ann_filt2")
    val (codes2, meta2) = AnnIndex.load(spark, dir2, "ann_filt2")
    val appended = AnnIndex.search(q, codes2, meta2, emb, "embedding",
      k = 3, nprobe = 4, shortlist = 64,
      predicate = Some(col("label") === 1))
      .orderBy("qid", "rnk").collect()
    assert(appended.toSeq == inSession.toSeq)
  }

  test("append == rebuild: delta-coded rows and search results are identical") {
    val (cents, books) = trained
    // build on the even half (artifacts trained on the FULL corpus —
    // the parity under test is the coding/writing path, not training
    // drift), then append the odd half
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val dir = tmp("annidx_delta")
    AnnIndex.write(base, "vec_id", "embedding", dir, "ann_delta", cents, books)
    AnnIndex.append(delta, "embedding", dir, "ann_delta")
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_delta")
    // row parity vs a one-shot rebuild of the full corpus
    val rebuilt = AnnIndex.codeRows(emb, "vec_id", "embedding", cents, books)
    assert(codes.orderBy("vec_id").collect().toSeq ==
      rebuilt.orderBy("vec_id").collect().toSeq)
    // and search parity
    val q = emb.filter(col("vec_id") < 10)
    val fromAppended = AnnIndex.search(q, codes, meta, emb, "embedding",
      k = 3, nprobe = 4, shortlist = 64).orderBy("qid", "rnk").collect()
    val oneShot = Similarity.ivfPqResidualTopK(q, emb, "vec_id", "embedding",
      cents, books, k = 3, nprobe = 4, shortlist = 64)
      .orderBy("qid", "rnk").collect()
    assert(fromAppended.toSeq == oneShot.toSeq)
  }

  test("autoCells: ⌈√n⌉, clamped, monotone — both scan terms grow as √n") {
    import Similarity.autoCells
    assert(autoCells(10000) == 100)
    assert(autoCells(10001) == 101)      // just over → one more cell
    assert(autoCells(100) == 10)
    assert(autoCells(4) == 8)            // lower clamp
    assert(autoCells(0) == 8)            // degenerate corpus
    assert(autoCells(1L << 40) == 65536) // upper clamp
    assert(autoCells(8000) == 90)        // the reindex spec's corpus
  }

  test("reindex: out-of-band corpus re-trains to √n cells; rows re-code; search and pruning intact") {
    val (cents, books) = trained
    // replicate the spec corpus 16× with disjoint ids and a replica-
    // unique first-coordinate nudge (exact duplicate vectors would
    // make every ANN metric degenerate) — 8000 vectors against a
    // fixed-8-cell index is 1000/cell, far past the rated band
    val big = (0 until 16).map { r =>
      emb.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(i === 0, lit(r * 1e-3)).otherwise(lit(0.0)))
          .as("embedding"))
    }.reduce(_ unionAll _).localCheckpoint(eager = true)
    val dir = tmp("annidx_reidx")
    AnnIndex.write(big, "vec_id", "embedding", dir, "ann_reidx", cents, books)
    val codeCols = books.indices.map(i => col(s"code_$i"))
    val oldCodes = spark.table("ann_reidx")
      .select(col("vec_id") +: codeCols: _*).orderBy("vec_id").collect()
    val oldCells = spark.table("ann_reidx").select("cell").distinct().count()

    val meta = AnnIndex.reindex(big, "embedding", dir, "ann_reidx",
      iters = 4, trainMod = 4)
    assert(meta.ncells == Similarity.autoCells(8000L)) // 90, not 8
    // RE-CODE parity: residual codes depend on the assigned centroid,
    // so reindex must re-quantize every row — the persisted codes
    // must equal a fresh coding pass under (new cents, old books),
    // and must NOT all equal the old 8-cell codes (the re-code
    // actually happened)
    val newCodes = spark.table("ann_reidx")
      .select(col("vec_id") +: codeCols: _*).orderBy("vec_id").collect()
    val recoded = AnnIndex.codeRows(big, "vec_id", "embedding",
        meta.cents, books)
      .select(col("vec_id") +: codeCols: _*).orderBy("vec_id").collect()
    assert(newCodes.toSeq == recoded.toSeq)
    assert(newCodes.toSeq != oldCodes.toSeq,
      "reindex left every residual code unchanged — re-coding did not run")
    // occupancy restored: the 8-cell index concentrated 8000 rows in
    // ≤ 8 cells; the re-trained quantizer must actually USE its width
    val newCells = spark.table("ann_reidx").select("cell").distinct().count()
    assert(newCells > oldCells, s"reindex did not spread cells: $newCells <= $oldCells")
    assert(newCells >= meta.ncells / 3L,
      s"quantizer collapsed: $newCells non-empty of ${meta.ncells}")
    // search parity vs the in-session composed index on the SAME
    // re-trained artifacts
    val q = big.filter(col("vec_id") < 10)
    val (codes, loaded) = AnnIndex.load(spark, dir, "ann_reidx")
    val fromIndex = AnnIndex.search(q, codes, loaded, big, "embedding",
      k = 3, nprobe = 4, shortlist = 64).orderBy("qid", "rnk").collect()
    val inSession = Similarity.ivfPqResidualTopK(q, big, "vec_id", "embedding",
      loaded.cents, books, k = 3, nprobe = 4, shortlist = 64)
      .orderBy("qid", "rnk").collect()
    assert(fromIndex.toSeq == inSession.toSeq)
    // bucket pruning still fires with 90 cells hashed into 8 buckets
    val plan = AnnIndex.search(q.limit(1), codes, loaded, big, "embedding",
        k = 3, nprobe = 1, shortlist = 16)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    assert(sel.findAllMatchIn(plan).exists(m =>
      m.group(1).toInt < m.group(2).toInt),
      s"reindexed table lost scan pruning:\n$plan")
  }

  test("bookDrift: quiet on a same-distribution corpus, fires on a shifted one") {
    val (_, books) = trained
    // same-distribution growth (the reindex test's construction):
    // kept books must fit the new residual distribution about as well
    // as a fresh training — the rule stays QUIET
    val big = (0 until 4).map { r =>
      emb.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(i === 0, lit(r * 1e-3)).otherwise(lit(0.0)))
          .as("embedding"))
    }.reduce(_ unionAll _).localCheckpoint(eager = true)
    val n = big.count()
    val centsBig = Similarity.kmeansCentroids(big, "vec_id", "embedding",
      k = Similarity.autoCells(n), iters = 4, trainMod = 4)
    val quiet = Similarity.bookDrift(big, "vec_id", "embedding",
      centsBig, books)
    assert(quiet < Similarity.BookDriftThreshold,
      s"false staleness alarm on a replicated corpus: drift=$quiet")
    // DELIBERATE distribution shift: the corpus collapses onto 32
    // modes (the near-dup/cluster regime) — residuals become highly
    // quantizable structure a FRESH training captures and the kept
    // diffuse-regime books cannot, so the rule FIRES exactly when a
    // re-train would actually buy quantization quality. (A uniform
    // scale does NOT fire it — both books explain the same variance
    // fraction — which is the metric being right, not insensitive.)
    val modes = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("mode_id"), col("embedding").as("mvec"))
    val shifted = big
      .select(col("vec_id"), pmod(col("vec_id"), lit(32L)).as("mode_id"))
      .join(broadcast(modes), "mode_id")
      .select(col("vec_id"), transform(col("mvec"), (x, i) =>
          (x + when(i === 0,
            pmod(col("vec_id"), lit(1000L)).cast("float") * lit(1e-5f))
            .otherwise(lit(0.0f))).cast("float"))
        .as("embedding"))
      .localCheckpoint(eager = true)
    val centsSh = Similarity.kmeansCentroids(shifted, "vec_id", "embedding",
      k = Similarity.autoCells(n), iters = 4, trainMod = 4)
    val fired = Similarity.bookDrift(shifted, "vec_id", "embedding",
      centsSh, books)
    assert(fired >= Similarity.BookDriftThreshold,
      s"staleness rule silent on a mode-collapsed corpus: drift=$fired")
    // and the AnnIndex-level convenience reads the artifact's own
    // trainings: a just-written (fresh-books) index measures ≈ 1
    val dir = tmp("annidx_drift")
    val centsQ = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4)
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_drift",
      centsQ, books)
    val self = AnnIndex.bookDrift(emb, "embedding", dir)
    assert(self < Similarity.BookDriftThreshold,
      s"fresh index reads stale against itself: drift=$self")
  }

  test("searchAuto serves at the artifact's stored operating point; missing/unmet floors fail loudly") {
    import spark.implicits._
    val (cents, books) = trained
    val dir = tmp("annidx_auto")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_auto", cents, books)
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_auto")
    val q = emb.filter(col("vec_id") < 10)
    // no tuning frame persisted yet → loud, with the writeTuning advice
    val noCurve = intercept[IllegalArgumentException] {
      AnnIndex.searchAuto(q, codes, meta, emb, "embedding", k = 3,
        dir, floor = 0.3)
    }
    assert(noCurve.getMessage.contains("writeTuning"))
    // a measured frame where (4, 64) is the cheapest config meeting
    // .30 — searchAuto must resolve to exactly search(nprobe=4,
    // shortlist=64)
    AnnIndex.writeTuning(Seq(
      (2, 64, 0.21), (4, 32, 0.27), (4, 64, 0.35), (8, 64, 0.36))
      .toDF("nprobe", "shortlist", "recall_at_3"), dir)
    assert(AnnIndex.operatingPoint(spark, dir, 0.3).contains((4, 64)))
    val auto = AnnIndex.searchAuto(q, codes, meta, emb, "embedding",
      k = 3, dir, floor = 0.3).orderBy("qid", "rnk").collect()
    val explicit = AnnIndex.search(q, codes, meta, emb, "embedding",
      k = 3, nprobe = 4, shortlist = 64).orderBy("qid", "rnk").collect()
    assert(auto.toSeq == explicit.toSeq)
    // an unreachable floor must refuse to serve, pointing at re-size
    val unmet = intercept[IllegalArgumentException] {
      AnnIndex.searchAuto(q, codes, meta, emb, "embedding", k = 3,
        dir, floor = 0.99)
    }
    assert(unmet.getMessage.contains("reindexAuto"))
    // any rebuild drops the stored curve: a stale operating point
    // must not survive a quantizer change
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_auto", cents, books)
    assert(intercept[IllegalArgumentException] {
      AnnIndex.operatingPoint(spark, dir, 0.3)
    }.getMessage.contains("writeTuning"))
  }

  test("reindexAuto executes the staleness rule: keeps books in-distribution, re-trains on shift") {
    val (cents, books) = trained
    // same-distribution growth → drift quiet → books KEPT, and the
    // artifact equals a plain reindex at the same cell count
    val big = (0 until 4).map { r =>
      emb.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(i === 0, lit(r * 1e-3)).otherwise(lit(0.0)))
          .as("embedding"))
    }.reduce(_ unionAll _).localCheckpoint(eager = true)
    val dir = tmp("annidx_reauto")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_reauto", cents, books)
    val (metaKept, driftQuiet, retrainedQuiet) =
      AnnIndex.reindexAuto(big, "embedding", dir, "ann_reauto",
        iters = 4, trainMod = 4)
    assert(!retrainedQuiet && driftQuiet < Similarity.BookDriftThreshold,
      s"reindexAuto re-trained on a same-distribution corpus: $driftQuiet")
    assert(metaKept.books.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq, "kept books must be byte-identical")
    // mode-collapsed corpus (the bookDrift spec's firing regime) →
    // books RE-TRAINED, reusing the drift measurement's training
    val modes = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("mode_id"), col("embedding").as("mvec"))
    val shifted = big
      .select(col("vec_id"), pmod(col("vec_id"), lit(32L)).as("mode_id"))
      .join(broadcast(modes), "mode_id")
      .select(col("vec_id"), transform(col("mvec"), (x, i) =>
          (x + when(i === 0,
            pmod(col("vec_id"), lit(1000L)).cast("float") * lit(1e-5f))
            .otherwise(lit(0.0f))).cast("float"))
        .as("embedding"))
      .localCheckpoint(eager = true)
    val (metaFresh, driftFired, retrainedFired) =
      AnnIndex.reindexAuto(shifted, "embedding", dir, "ann_reauto",
        iters = 4, trainMod = 4)
    assert(retrainedFired && driftFired >= Similarity.BookDriftThreshold,
      s"reindexAuto kept stale books on a mode-collapsed corpus: $driftFired")
    assert(metaFresh.books.map(_.map(_.toSeq).toSeq).toSeq !=
      books.map(_.map(_.toSeq).toSeq).toSeq, "firing must install fresh books")
    // the rewritten artifact round-trips and still searches
    val (codes2, meta2) = AnnIndex.load(spark, dir, "ann_reauto")
    val q = shifted.filter(col("vec_id") < 5)
    val got = AnnIndex.search(q, codes2, meta2, shifted, "embedding",
      k = 3, nprobe = 4, shortlist = 64).collect()
    assert(got.nonEmpty)
  }

  test("measureTuning: every grid row's recall is exactly what the serving path delivers at that config") {
    val (cents, books) = trained
    val dir = tmp("annidx_tune")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_tune", cents, books)
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_tune")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
      .select(col("qid"), col("cid")).localCheckpoint(eager = true)
    val nExact = exact.count().toDouble
    val frame = AnnIndex.measureTuning(q, emb, "embedding", dir, "ann_tune",
        nprobes = 1 to 4, shortlists = Seq(16L, 64L),
        exactTop = Some(exact))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(frame.size == 8, s"grid must have 4×2 rows, got ${frame.keySet}")
    // the measured curve must BE the serving path's accuracy: for each
    // config, recall from AnnIndex.search at (nprobe, shortlist)
    // against the same ground truth equals the frame's row — a curve
    // that disagrees with serving would pick operating points nothing
    // actually delivers
    for (np <- 1 to 4; sl <- Seq(16, 64)) {
      val served = AnnIndex.search(q, codes, meta, emb, "embedding",
        k = 3, nprobe = np, shortlist = sl).select("qid", "cid")
      val hits = served.join(exact, Seq("qid", "cid")).count()
      val (gotHits, gotRecall) = frame((np, sl))
      assert(gotHits == hits,
        s"($np, $sl): frame n_hits=$gotHits, serving path delivers $hits")
      assert(gotRecall == math.floor(hits / nExact * 1e6 + 0.5) / 1e6 ||
        gotRecall == BigDecimal(hits / nExact)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"($np, $sl): frame recall=$gotRecall, serving=${hits / nExact}")
    }
    // recall must be non-decreasing in shortlist at fixed nprobe (a
    // larger shortlist is a superset fed to the exact rerank)
    for (np <- 1 to 4)
      assert(frame((np, 64))._2 >= frame((np, 16))._2)
  }

  test("append ages the tuning frame: in-budget appends keep it, crossing the fraction drops it") {
    import spark.implicits._
    val (cents, books) = trained
    val dir = tmp("annidx_age")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_age", cents, books)
    val n = emb.count()
    val curve = Seq((4, 64, 0.4)).toDF("nprobe", "shortlist", "recall_at_3")
    AnnIndex.writeTuning(curve, dir, measuredFloor = Some(0.3),
      indexedRows = Some(n))
    // ~10% append: inside the staleness budget — the curve survives
    val d1 = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding"))
    AnnIndex.append(d1, "embedding", dir, "ann_age")
    assert(AnnIndex.operatingPoint(spark, dir, 0.3).contains((4, 64)),
      "an in-budget append must not drop the tuning frame")
    // a further ~20% pushes CUMULATIVE appends past StaleTuningFraction
    // — the frame is dropped and searchAuto fails loudly
    val d2 = emb.filter(col("vec_id") % 10 < 2)
      .select((col("vec_id") + lit(20000000L)).as("vec_id"), col("embedding"))
    AnnIndex.append(d2, "embedding", dir, "ann_age")
    assert(intercept[IllegalArgumentException] {
      AnnIndex.operatingPoint(spark, dir, 0.3)
    }.getMessage.contains("writeTuning"),
      "cumulative appends past the fraction must drop the stale curve")
    // a frame with NO row-count provenance cannot be aged — the first
    // append drops it (conservative: unknown baseline, unknown decay)
    AnnIndex.writeTuning(curve, dir)
    AnnIndex.append(d1.select((col("vec_id") + lit(30000000L))
      .as("vec_id"), col("embedding")), "embedding", dir, "ann_age")
    assert(intercept[IllegalArgumentException] {
      AnnIndex.operatingPoint(spark, dir, 0.3)
    }.getMessage.contains("writeTuning"))
  }

  test("reindexAuto with tuningQueries ends SERVABLE, and floors above the validated one warn") {
    val (cents, books) = trained
    val dir = tmp("annidx_srv")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_srv", cents, books)
    val q = emb.filter(col("vec_id") < 10)
    val (meta, _, _) = AnnIndex.reindexAuto(emb, "embedding", dir, "ann_srv",
      iters = 4, trainMod = 4, targetCells = Some(8),
      tuningQueries = Some(q), measuredFloor = Some(0.05))
    // the maintenance call re-measured + persisted the curve itself:
    // searchAuto works immediately, at the cheapest config meeting the
    // floor, with no harness in between
    val op = AnnIndex.operatingPoint(spark, dir, 0.05)
    assert(op.isDefined, "reindexAuto(tuningQueries) left no servable curve")
    val (codes, loaded) = AnnIndex.load(spark, dir, "ann_srv")
    val auto = AnnIndex.searchAuto(q, codes, loaded, emb, "embedding",
      k = 3, dir, floor = 0.05).orderBy("qid", "rnk").collect()
    val explicit = AnnIndex.search(q, codes, loaded, emb, "embedding",
      k = 3, nprobe = op.get._1, shortlist = op.get._2)
      .orderBy("qid", "rnk").collect()
    assert(auto.toSeq == explicit.toSeq)
    assert(meta.ncells == 8)
    // floor provenance: asking above the measured-floor validation
    // warns on stderr (the measurement does not certify it) but the
    // measured values still decide
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    try AnnIndex.operatingPoint(spark, dir, 0.10)
    finally System.setErr(oldErr)
    assert(errBuf.toString.contains("validated against"),
      s"no provenance warning for a floor above the validated one: '$errBuf'")
  }

  test("load re-registers the external bucketed table after a catalog wipe") {
    val (cents, books) = trained
    val dir = tmp("annidx_reattach")
    AnnIndex.write(emb, "vec_id", "embedding", dir, "ann_reattach", cents, books)
    val before = spark.table("ann_reattach").count()
    // simulate a fresh session's empty catalog: drop the table entry
    // (the files stay — it's external), then load() must rebuild the
    // DDL with the SAME bucket spec so pruning still fires
    spark.sql("DROP TABLE ann_reattach")
    val (codes, meta) = AnnIndex.load(spark, dir, "ann_reattach")
    assert(codes.count() == before)
    val q = emb.filter(col("vec_id") === 0)
    val plan = AnnIndex.search(q, codes, meta, emb, "embedding",
        k = 3, nprobe = 1, shortlist = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"re-registered table lost its bucket spec:\n$plan")
  }
}
