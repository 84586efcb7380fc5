package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The PERSISTED form of the composed IVFADC index
  * ([[Similarity.ivfPqTopK]]) — the artifact a 100-TB deployment
  * actually serves from, closing the gap between "at scale the codes
  * table is bucketed by cell" in the Scaladoc and what exists on
  * disk. Analogous to what [[Dedup.minhashLshDelta]] does for the
  * MinHash band table: train once, persist the compressed index,
  * append deltas row-locally, search forever without touching the
  * training path again.
  *
  * Layout under `dir`:
  *  - `codes/` — the bucketed codes table (idCol, cell,
  *    code_0..code_{m-1}): parquet CLUSTERED BY (cell) SORTED BY
  *    (cell) INTO numBuckets BUCKETS, registered as an EXTERNAL table
  *    so a fresh session re-attaches with one DDL statement
  *    ([[load]]). Bucketing by the probe key is the scan-pruning
  *    story: a search's probed cells reduce to a literal IN filter on
  *    the bucket column, so FileSourceScanExec prunes buckets at the
  *    SCAN (`SelectedBucketsCount` < total — pinned in AnnIndexSpec),
  *    and the probe equi-join itself broadcasts the |Q|·nprobe probe
  *    set: the codes never shuffle.
  *  - `meta_params/`, `meta_cents/`, `meta_books/` — the trained
  *    artifacts (Lloyd centroids, PQ codebooks) plus shape params as
  *    tiny parquet tables. Doubles round-trip exactly through
  *    parquet, so a search from a re-loaded index is bit-identical to
  *    one from the in-session training run (spec-pinned).
  *
  * Codes are RESIDUAL-encoded (Jégou'11 §IV): code_* quantizes
  * x − q1(x) against residual-trained codebooks
  * ([[Similarity.pqResidualCodebooks]]), via the offset identity in
  * [[Similarity.residualOffsets]] — per-row work stays raw-slice
  * dots, and the same m bytes quantize the much-smaller residual,
  * so recall at a fixed operating point beats raw-vector PQ.
  *
  * Delta append ([[append]]): new vectors are coded ROW-LOCALLY
  * against the persisted literals ([[Similarity.pqCodesResidual]] —
  * identical rounding/tiebreak to the build path), then written
  * into the same bucketed table. Float vectors never re-shuffle; the
  * coding pass is fully partition-local (its collapse barrier is an
  * object fence, not an exchange) and the only shuffle is code rows
  * moving into their buckets at the write.
  * append == rebuild parity is spec-pinned (AnnIndexSpec): building
  * on a base corpus and appending a delta yields byte-identical codes
  * — and therefore identical search results — to coding the full
  * corpus with the same trained artifacts.
  */
object AnnIndex {

  /** Trained index artifacts + shape. `cents`: ncells × dim Lloyd
    * centroids; `books`: m × ks × (dim/m) PQ codebooks — kilobytes,
    * driver-held, interpolated into searches as literals. */
  case class IndexMeta(idCol: String, idType: String, numBuckets: Int,
                       cents: Array[Array[Double]],
                       books: Array[Array[Array[Double]]],
                       metaCols: Seq[(String, String)] = Nil) {
    def m: Int = books.length
    def ncells: Int = cents.length
  }

  /** The codes frame for `df` under trained artifacts — shared by
    * build (full corpus) and append (delta): RESIDUAL-encoded
    * (Jégou'11 §IV — codes quantize x − q1(x), so `books` must be
    * [[Similarity.pqResidualCodebooks]] trainings). Row-local per-row
    * work; the floats are read once and never shuffle — the coding
    * pass inside [[Similarity.pqCodesResidual]] is partition-local
    * end to end (its collapse barrier is an object fence, not an
    * exchange). */
  def codeRows(df: DataFrame, idCol: String, vecCol: String,
               cents: Array[Array[Double]],
               books: Array[Array[Array[Double]]],
               metaCols: Seq[String] = Nil): DataFrame =
    Similarity.pqCodesResidual(df, idCol, vecCol, cents, books, metaCols)

  /** Train (or take pre-trained artifacts) and write the full index.
    * Passing `cents`/`books` trained elsewhere (e.g. memoized in the
    * [[SessionStore]]) keeps one Lloyd run per corpus; omitting them
    * trains here with the standard deterministic trainer. */
  def write(df: DataFrame, idCol: String, vecCol: String,
            dir: String, table: String,
            cents: Array[Array[Double]],
            books: Array[Array[Array[Double]]],
            numBuckets: Int = 8,
            metaCols: Seq[String] = Nil): IndexMeta = {
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType.sql
    val meta = IndexMeta(idCol, idType, numBuckets, cents, books,
      metaCols.map(c => c -> df.schema(c).dataType.sql))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRecursively(new java.io.File(s"$dir/codes"))
    // any rebuild moves the operating curve: a tuning frame measured
    // under the old quantizer must not drive searchAuto on the new
    // one — drop it (and its provenance); the maintenance flow
    // re-measures + writeTuning
    deleteRecursively(new java.io.File(s"$dir/meta_tuning"))
    deleteRecursively(new java.io.File(s"$dir/meta_tuning_info"))
    writeCodes(codeRows(df, idCol, vecCol, cents, books, metaCols),
      dir, table, idCol, numBuckets, SaveMode.Overwrite)
    writeMeta(spark, dir, meta)
    meta
  }

  /** Appended volume past which a stored tuning frame is STALE:
    * appends change cell occupancy, and a curve measured on the
    * pre-append corpus no longer certifies its recalls once the
    * corpus has grown by this fraction of the rows it was measured
    * over. Crossing it DROPS the frame (searchAuto then fails loudly
    * asking for a re-measure) — serving a measured-looking operating
    * point that nothing measured is the silent drift this guards. */
  val StaleTuningFraction = 0.25

  /** Append a delta: code the new vectors row-locally against the
    * persisted artifacts and add them to the bucketed table. No
    * retraining, no float shuffle — the production ingest path.
    *
    * Tuning staleness: a stored tuning frame ([[writeTuning]]) was
    * measured at a specific corpus size; appended rows change cell
    * occupancy, so the frame's recalls decay as the corpus grows.
    * append ACCUMULATES the delta volume in the frame's provenance
    * and DROPS the frame once total appends exceed
    * [[StaleTuningFraction]] of the rows the curve was measured over
    * (or when the frame carries no row-count provenance at all) —
    * the next [[searchAuto]] then fails loudly demanding a
    * re-measure instead of serving below its stated floor. */
  def append(newDf: DataFrame, vecCol: String,
             dir: String, table: String): Unit = {
    val spark = newDf.sparkSession
    val meta = loadMeta(spark, dir)
    registerIfAbsent(spark, dir, table, meta)
    val tuningExists = new java.io.File(s"$dir/meta_tuning").exists()
    val coded0 = codeRows(newDf, meta.idCol, vecCol, meta.cents,
      meta.books, meta.metaCols.map(_._1))
    // aging needs the delta row count, but counting newDf would re-run
    // the delta's whole upstream plan a second time after the write
    // pass (r15 advice): checkpoint the coded delta (1:1 with input
    // rows) and count THAT — the write reads the checkpoint too, so
    // the delta's plan evaluates exactly once on the ingest path
    // release path: Dataset.unpersist on a localCheckpoint'd frame is
    // a NO-OP (it only uncaches the CacheManager entry, which a
    // checkpoint never had — the blocks live on an internal RDD), so
    // unpersist the checkpoint's backing RDD (read off its own plan
    // node) once the count is paid; otherwise a large delta's blocks
    // linger in executor storage until ContextCleaner GC
    val coded =
      if (tuningExists) coded0.localCheckpoint(eager = true) else coded0
    writeCodes(coded, dir, table, meta.idCol, meta.numBuckets,
      SaveMode.Append)
    if (tuningExists) {
      ageTuning(spark, dir, coded.count())
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(coded)
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Post-append tuning-frame aging (see [[append]]'s scaladoc): the
    * delta row count comes pre-paid from the append's checkpointed
    * coding pass. */
  private def ageTuning(spark: SparkSession, dir: String,
                        n: Long): Unit = {
    val tuningDir = new java.io.File(s"$dir/meta_tuning")
    if (tuningDir.exists()) {
      val kept = readTuningInfo(spark, dir).flatMap { info =>
        val total = info.appended_rows + n
        if (info.indexed_rows > 0 &&
            total.toDouble <= StaleTuningFraction * info.indexed_rows)
          Some(info.copy(appended_rows = total))
        else None
      }
      kept match {
        case Some(info) => writeTuningInfo(spark, dir, info)
        case None =>
          deleteRecursively(tuningDir)
          deleteRecursively(new java.io.File(s"$dir/meta_tuning_info"))
      }
    }
  }

  /** Re-train the coarse quantizer at the corpus's CURRENT size and
    * rewrite the bucketed artifact — the maintenance operation for a
    * corpus that has outgrown its index's rated occupancy band
    * ([16, 128] mean members/cell, the regime the tuning curve's
    * recall floor is pinned in). `targetCells` defaults to
    * [[Similarity.autoCells]] (≈ √n: one count() + driver
    * arithmetic, the autoPlanes discipline). The PQ codebooks are
    * KEPT but every row is RE-CODED: residual codes depend on the
    * assigned centroid (x − q1(x)), so when the coarse quantizer
    * moves, each row's code_* re-quantizes against its new cell's
    * residual — reindexed codes must equal a fresh
    * [[codeRows]] pass under (new cents, old books), which
    * AnnIndexSpec pins as re-code parity. Keeping the books (trained
    * on the ORIGINAL residual distribution) is the standard
    * maintenance approximation; scheduling a full PQ re-train is a
    * separate, rarer op ([[write]] with fresh trainings). The
    * approximation is MEASURABLE: run [[bookDrift]] after a reindex —
    * a ratio ≥ Similarity.BookDriftThreshold means the kept books no
    * longer fit the current residual distribution and the next
    * maintenance window should re-train. */
  def reindex(df: DataFrame, vecCol: String, dir: String, table: String,
              iters: Int = 5, trainMod: Int = 5,
              targetCells: Option[Int] = None): IndexMeta = {
    val spark = df.sparkSession
    val old = loadMeta(spark, dir)
    val nRows = df.count()
    val ncells = targetCells.getOrElse(Similarity.autoCells(nRows))
    // r19: Lloyd sample bounded at ~256 vectors/cell (boundedTrainMod
    // — identical to the base mod through every ≤100× proof scale, so
    // no published training changed; at the N× decades it caps the
    // per-iteration training scan, which with the two-level assignment
    // kernel removes the r18 board's n·√n reindex growth law)
    val effMod = Similarity.boundedTrainMod(nRows, ncells, trainMod)
    val cents = Similarity.kmeansCentroids(df, old.idCol, vecCol,
      k = ncells, iters = iters, trainMod = effMod)
    write(df, old.idCol, vecCol, dir, table, cents, old.books,
      old.numBuckets)
  }

  /** Reindex with the book-staleness rule EXECUTED, not just
    * documented: train the new coarse quantizer, measure
    * [[Similarity.bookDrift]] of the kept books under it, and decide
    * — ratio < [[Similarity.BookDriftThreshold]] keeps the books
    * (plain [[reindex]] semantics, the cheap standard maintenance),
    * ratio ≥ threshold re-trains the PQ books too, REUSING the
    * fresh training the drift measurement already paid for
    * ([[Similarity.bookDriftDetail]] — Lloyd runs once, not twice).
    * Returns (meta, drift ratio, whether books were re-trained) so
    * maintenance jobs can log the decision. The gate's reindex key
    * keeps plain [[reindex]] for oracle replay; this is the
    * maintenance entry point a deployment schedules.
    *
    * Pass `tuningQueries` (a held-out query sample) to END the
    * maintenance call with a SERVABLE artifact: [[write]] drops the
    * stale tuning frame (the curve moves with the quantizer), so
    * without a re-measure the rebuilt index cannot [[searchAuto]];
    * with it, the rebuild is followed by [[measureTuning]] +
    * [[writeTuning]] (provenance: `measuredFloor` + the corpus size
    * this call just indexed), and searchAuto works immediately. */
  def reindexAuto(df: DataFrame, vecCol: String, dir: String,
                  table: String, iters: Int = 5, trainMod: Int = 5,
                  targetCells: Option[Int] = None,
                  tuningQueries: Option[DataFrame] = None,
                  measuredFloor: Option[Double] = None)
      : (IndexMeta, Double, Boolean) = {
    val spark = df.sparkSession
    val old = loadMeta(spark, dir)
    val nRows = df.count()
    val ncells = targetCells.getOrElse(Similarity.autoCells(nRows))
    // same Lloyd-sample bound as [[reindex]] (r19)
    val effMod = Similarity.boundedTrainMod(nRows, ncells, trainMod)
    val cents = Similarity.kmeansCentroids(df, old.idCol, vecCol,
      k = ncells, iters = iters, trainMod = effMod)
    val (drift, freshBooks) = Similarity.bookDriftDetail(df, old.idCol,
      vecCol, cents, old.books, iters = iters, trainMod = effMod)
    val retrain = drift >= Similarity.BookDriftThreshold
    val books = if (retrain) freshBooks else old.books
    val meta = write(df, old.idCol, vecCol, dir, table, cents, books,
      old.numBuckets)
    tuningQueries.foreach { q =>
      writeTuning(measureTuning(q, df, vecCol, dir, table), dir,
        measuredFloor, indexedRows = Some(nRows))
    }
    (meta, drift, retrain)
  }

  /** PQ-book staleness of the persisted index against the corpus it
    * now serves ([[Similarity.bookDrift]] on the artifact's trained
    * centroids + kept books): ≈1 → the reindex approximation holds;
    * ≥ Similarity.BookDriftThreshold → schedule a full re-train
    * ([[write]] with fresh trainings). Maintenance diagnostic —
    * sampled Lloyd run + two sampled error aggs, never a query-path
    * cost. */
  def bookDrift(df: DataFrame, vecCol: String, dir: String,
                iters: Int = 4, trainMod: Int = 4): Double = {
    val meta = loadMeta(df.sparkSession, dir)
    Similarity.bookDrift(df, meta.idCol, vecCol, meta.cents, meta.books,
      iters, trainMod)
  }

  /** Attach the persisted index in this session: re-register the
    * external bucketed table if the catalog doesn't have it (fresh
    * session), reload the trained artifacts. Returns (codes frame,
    * meta). */
  def load(spark: SparkSession, dir: String, table: String): (DataFrame, IndexMeta) = {
    val meta = loadMeta(spark, dir)
    registerIfAbsent(spark, dir, table, meta)
    (spark.table(table), meta)
  }

  /** Search the persisted index — [[Similarity.ivfPqTopK]] semantics
    * (probe prune → ADC → sharded shortlist → exact rerank), with the
    * codes READ from the bucketed table instead of computed, and the
    * probed cells pushed into the scan as a literal IN filter so
    * bucket pruning fires. The probe set's DISTINCT cells are bounded
    * by ncells (the driver already holds ncells·dim centroid doubles),
    * so the collect is safe at any corpus size or |Q|. `exact` is the
    * float-vector store only the ≤ |Q|·shortlist rerank rows touch.
    *
    * `nprobe`/`shortlist` are the index's OPERATING POINT: pick them
    * with [[Similarity.autoOperatingPoint]] over a measured tuning
    * frame (cheapest config meeting the recall floor) rather than
    * hand-tuning; a `None` from the rule means no config reaches the
    * floor and the answer is [[reindex]], not probing harder.
    *
    * `predicate` is the FILTERED-search path (top-k WITHIN a metadata
    * slice — source/lang/split — the composed-index capability a real
    * curation run asks for): a predicate over the index's carried
    * metaCols, applied to the codes frame BEFORE the shortlist so it
    * pushes into the bucketed parquet scan ALONGSIDE the probed-cell
    * IN filter (PlanAuditSpec pins both in PushedFilters) — the
    * shortlist then holds `shortlist` matching candidates, not a
    * post-filtered remnant of an unfiltered shortlist, so filtered
    * recall does not decay with filter selectivity. */
  def search(queries: DataFrame, codes: DataFrame, meta: IndexMeta,
             exact: DataFrame, vecCol: String, k: Int,
             nprobe: Int, shortlist: Int,
             predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val idCol = meta.idCol
    val probes = Similarity.probeCells(queries, idCol, vecCol,
        meta.cents, nprobe)
      .localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val scored = predicate.foldLeft(codes)((c, p) => c.filter(p))
      .select(col(idCol) +: col("cell") +:
        meta.books.indices.map(i => col(s"code_$i")): _*)
      .filter(col("cell").isin(probedCells.map(c => c: Any): _*))
      .withColumnRenamed(idCol, "cid")
      .join(broadcast(probes.drop("pr")), "cell")
      .join(Similarity.pqQueryLut(queries, idCol, vecCol, meta.books), "qid")
      .filter(col("qid") =!= col("cid"))
      // residual ADC: ⟨q, x̂⟩ = ⟨q, c_cell⟩ (the probe frame's qcdot)
      // + Σₘ lut_m[code_m] — same rounding/tiebreak discipline as the
      // in-session path
      .withColumn("approx_score",
        round(col("qcdot") + Similarity.adcScore(meta.m), 6))
      .select(col("qid"), col("cid"), col("approx_score"))
    Similarity.adcShortlistRerank(scored, queries, exact, idCol, vecCol,
      k, shortlist)
  }

  /** MEASURE the persisted index's tuning curve — the operating-point
    * table [[searchAuto]] serves from, produced by the LIBRARY (not a
    * gate harness): recall@3 of the indexed search vs brute-force
    * ground truth for every (nprobe, shortlist) grid config.
    *
    * Mechanics (the s_ivfpq_tuning machinery): the ADC stream is
    * scored ONCE at the grid's max nprobe with each candidate's probe
    * rank carried, reading the PERSISTED codes (bucket-pruned by the
    * probed-cell IN filter — floats never shuffle; re-scoring per
    * config would rerun the stream |grid| times); the grid then
    * reuses it by filtering pr ≤ nprobe, reranks each config's
    * shortlist on exact cosine, and scores recall@3 against
    * [[Similarity.bruteForceTopK]] ground truth (pass a precomputed
    * frame via `exactTop` — columns qid, cid — to share one
    * brute-force pass across measurement consumers). Cost scales
    * with |Q|·(probed members), never the corpus: run it on a
    * held-out query SAMPLE (tens of queries), as a maintenance job.
    *
    * Recall is at k=3 by contract — the stored frame's column is the
    * `recall_at_3` [[operatingPoint]]/[[Similarity.
    * autoOperatingPoint]] read; a floor stated against it is a proxy
    * for serving quality at any k. Output: (nprobe, shortlist,
    * n_hits, recall_at_3), one row per grid config. */
  def measureTuning(queries: DataFrame, corpus: DataFrame, vecCol: String,
                    dir: String, table: String,
                    nprobes: Seq[Int] = 1 to 8,
                    shortlists: Seq[Long] = Seq(16L, 32L, 64L),
                    exactTop: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions.{dot, norm, cosineWithNorms}
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val (codes, meta) = load(spark, dir, table)
    val idCol = meta.idCol
    val maxProbe = nprobes.max
    // probe + residual-ADC scoring at maxProbe, pr carried — the
    // persisted-codes twin of Similarity.ivfPqResidualScored (append
    // == rebuild parity makes them row-identical), with the probed
    // cells pushed into the scan as a literal IN filter so bucket
    // pruning fires exactly as in [[search]]
    val probes = Similarity.probeCells(queries, idCol, vecCol,
        meta.cents, maxProbe)
      .localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val scored = codes
      .filter(col("cell").isin(probedCells.map(c => c: Any): _*))
      .withColumnRenamed(idCol, "cid")
      .join(broadcast(probes), "cell")
      .join(Similarity.pqQueryLut(queries, idCol, vecCol, meta.books), "qid")
      .filter(col("qid") =!= col("cid"))
      .withColumn("approx_score",
        round(col("qcdot") + Similarity.adcScore(meta.m), 6))
      .select(col("qid"), col("cid"), col("pr"), col("approx_score"))
    val grid = {
      import spark.implicits._
      broadcast(nprobes.map(_.toLong).toDF("nprobe")
        .crossJoin(shortlists.toDF("shortlist")))
    }
    val wS = Window.partitionBy("nprobe", "shortlist", "qid")
      .orderBy(col("approx_score").desc, col("cid"))
    val short = scored.join(grid, col("pr") <= col("nprobe"))
      .withColumn("srnk", row_number().over(wS))
      .filter(col("srnk") <= col("shortlist"))
      .select("nprobe", "shortlist", "qid", "cid")
    val qv = broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))
      .withColumn("qnrm", norm(col("qvec"))))
    val cv = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
    val wR = Window.partitionBy("nprobe", "shortlist", "qid")
      .orderBy(col("cos_sim").desc, col("cid"))
    val approxTop = short.join(qv, "qid").join(cv, "cid")
      .select(col("nprobe"), col("shortlist"), col("qid"), col("cid"),
        cosineWithNorms(dot(col("qvec"), col("cvec")), col("qnrm"),
          col("cnrm")).as("cos_sim"))
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= 3)
      .select("nprobe", "shortlist", "qid", "cid")
    val exact = exactTop.getOrElse(
        Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, k = 3))
      .select(col("qid"), col("cid"))
    val hits = approxTop.join(exact, Seq("qid", "cid"))
      .groupBy("nprobe", "shortlist").agg(count(lit(1)).as("n_hits"))
    val nex = exact.agg(count(lit(1)).as("n_exact"))
    grid.crossJoin(broadcast(nex))
      .join(hits, Seq("nprobe", "shortlist"), "left_outer")
      .select(col("nprobe"), col("shortlist"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact").cast("double"), 6).as("recall_at_3"))
  }

  /** Persist a MEASURED tuning frame (the [[measureTuning]] output
    * shape: nprobe, shortlist, recall_at_3) beside the trained
    * artifacts, making the operating point part of the index itself:
    * a fresh session [[searchAuto]]s without re-measuring. Measure
    * on a held-out query sample against brute-force ground truth,
    * re-measure after [[reindex]]/[[reindexAuto]] (the operating
    * curve moves with the quantizer).
    *
    * Provenance (meta_tuning_info): `measuredFloor` is the recall
    * floor the producer VALIDATED this curve against —
    * [[operatingPoint]] warns when a caller later states a higher
    * floor than the measurement supports; `indexedRows` is the
    * corpus size the curve was measured over — [[append]] ages the
    * frame against it and drops it once appends exceed
    * [[StaleTuningFraction]]. Omitting `indexedRows` means the frame
    * carries no aging baseline and the FIRST append drops it. */
  def writeTuning(tuning: DataFrame, dir: String,
                  measuredFloor: Option[Double] = None,
                  indexedRows: Option[Long] = None): Unit = {
    val need = Set("nprobe", "shortlist", "recall_at_3")
    require(need.subsetOf(tuning.columns.toSet),
      s"tuning frame needs columns $need, got ${tuning.columns.toSeq}")
    tuning.select("nprobe", "shortlist", "recall_at_3")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/meta_tuning")
    writeTuningInfo(tuning.sparkSession, dir,
      TuningInfo(measuredFloor.getOrElse(Double.NaN),
        indexedRows.getOrElse(-1L), appended_rows = 0L))
  }

  /** The artifact's own operating point: [[Similarity.
    * autoOperatingPoint]] (cheapest measured config meeting `floor`)
    * over the tuning frame persisted by [[writeTuning]]. None means
    * no stored config reaches the floor — re-size the index
    * ([[reindexAuto]]) and re-measure, don't probe harder. Fails
    * loudly when the artifact carries no tuning frame at all. */
  def operatingPoint(spark: SparkSession, dir: String,
                     floor: Double): Option[(Int, Int)] = {
    val path = new java.io.File(s"$dir/meta_tuning")
    require(path.exists(),
      s"AnnIndex at $dir carries no tuning frame — measure one and " +
        s"AnnIndex.writeTuning it before searchAuto/operatingPoint")
    // floor provenance: a curve validated against measured_floor does
    // not certify a HIGHER floor (a |Q|-sample measurement's recall
    // granularity is coarse) — warn, loudly, but let the measured
    // values decide; an unmeetable floor still comes back None
    readTuningInfo(spark, dir).foreach { info =>
      if (!info.measured_floor.isNaN && floor > info.measured_floor)
        System.err.println(
          s"[AnnIndex] WARNING: caller states recall floor $floor but " +
            s"the tuning frame at $dir was validated against " +
            s"${info.measured_floor} — re-measure with a larger query " +
            s"sample before trusting the higher floor")
    }
    Similarity.autoOperatingPoint(
      Tables.read(spark, s"$dir/meta_tuning"), floor)
  }

  /** [[search]] at the artifact's OWN operating point — the stored
    * tuning frame picks (nprobe, shortlist) via the executable rule,
    * so serving code states its recall floor instead of hand-tuned
    * knobs. Fails loudly (with the re-size advice) when no stored
    * config meets the floor: serving silently below a stated floor
    * is the one thing this path must never do. */
  def searchAuto(queries: DataFrame, codes: DataFrame, meta: IndexMeta,
                 exact: DataFrame, vecCol: String, k: Int,
                 dir: String, floor: Double): DataFrame = {
    val op = operatingPoint(queries.sparkSession, dir, floor)
    require(op.isDefined,
      s"no stored operating point reaches recall floor $floor for " +
        s"AnnIndex at $dir — the index is out of its rated band: " +
        s"reindexAuto + re-measure the tuning frame, don't probe harder")
    val (nprobe, shortlist) = op.get
    search(queries, codes, meta, exact, vecCol, k, nprobe, shortlist)
  }

  // ------------------------------------------------------------------
  // storage plumbing

  private def writeCodes(codes: DataFrame, dir: String, table: String,
                         idCol: String, numBuckets: Int,
                         mode: SaveMode): Unit =
    codes.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, "cell").sortBy("cell")
      .option("path", s"$dir/codes")
      .saveAsTable(table)

  private def registerIfAbsent(spark: SparkSession, dir: String,
                               table: String, meta: IndexMeta): Unit =
    if (!spark.catalog.tableExists(table)) {
      val codeCols = (meta.books.indices.map(i => s"code_$i BIGINT") ++
        meta.metaCols.map { case (c, t) => s"$c $t" }).mkString(", ")
      spark.sql(
        s"""CREATE TABLE $table (${meta.idCol} ${meta.idType}, cell BIGINT, $codeCols)
           |USING PARQUET
           |CLUSTERED BY (cell) SORTED BY (cell) INTO ${meta.numBuckets} BUCKETS
           |LOCATION '$dir/codes'""".stripMargin)
    }

  /** Tuning-frame provenance (meta_tuning_info): the floor the curve
    * was validated against (NaN = unstated), the corpus size it was
    * measured over (-1 = unstated), and the rows appended since —
    * what [[append]]'s staleness rule and [[operatingPoint]]'s floor
    * warning read. */
  private case class TuningInfo(measured_floor: Double,
                                indexed_rows: Long, appended_rows: Long)

  private def writeTuningInfo(spark: SparkSession, dir: String,
                              info: TuningInfo): Unit = {
    import spark.implicits._
    Seq(info).toDF()
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/meta_tuning_info")
  }

  private def readTuningInfo(spark: SparkSession,
                             dir: String): Option[TuningInfo] = {
    val f = new java.io.File(s"$dir/meta_tuning_info")
    if (!f.exists()) None
    else {
      val r = Tables.read(spark, s"$dir/meta_tuning_info")
        .select("measured_floor", "indexed_rows", "appended_rows").head()
      Some(TuningInfo(r.getDouble(0), r.getLong(1), r.getLong(2)))
    }
  }

  /** The coding scheme this implementation writes and scores with.
    * Persisted in meta_params so an artifact written under a
    * DIFFERENT scheme (e.g. a pre-residual raw-codes index) fails
    * LOUDLY at load instead of silently scoring raw codes with
    * residual ADC arithmetic. */
  val CodesEncoding = "residual"

  /** Trained artifacts as tiny parquet tables — doubles round-trip
    * exactly, and no JSON codec dependency. */
  private def writeMeta(spark: SparkSession, dir: String,
                        meta: IndexMeta): Unit = {
    import spark.implicits._
    // meta_cols/meta_types round-trip through a '|'-joined string; a
    // column name carrying the delimiter would silently corrupt the
    // loadMeta split into wrong (column, type) pairs — reject at write
    for ((c, t) <- meta.metaCols)
      require(!c.contains("|") && !t.contains("|"),
        s"metadata column name/type may not contain '|': ($c, $t)")
    Seq((meta.idCol, meta.idType, meta.numBuckets, CodesEncoding,
        meta.metaCols.map(_._1).mkString("|"),
        meta.metaCols.map(_._2).mkString("|")))
      .toDF("id_col", "id_type", "num_buckets", "codes_encoding",
        "meta_cols", "meta_types")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/meta_params")
    meta.cents.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, pos) => (cell, pos, v) }
    }.toSeq.toDF("cell", "pos", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/meta_cents")
    meta.books.zipWithIndex.flatMap { case (b, sub) =>
      b.zipWithIndex.flatMap { case (cj, j) =>
        cj.zipWithIndex.map { case (v, pos) => (sub, j, pos, v) }
      }
    }.toSeq.toDF("sub", "j", "pos", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/meta_books")
  }

  def loadMeta(spark: SparkSession, dir: String): IndexMeta = {
    val params = Tables.read(spark, s"$dir/meta_params")
    // encoding gate: an artifact with no marker predates residual
    // coding (raw codes) — applying residual ADC to it would return
    // silently wrong scores, so refuse both absent and mismatched
    require(params.columns.contains("codes_encoding"),
      s"AnnIndex at $dir carries no codes_encoding marker — it was " +
        s"written by a pre-residual build (raw codes); rebuild with " +
        s"AnnIndex.write before searching with this version")
    val enc = params.select("codes_encoding").head().getString(0)
    require(enc == CodesEncoding,
      s"AnnIndex at $dir is '$enc'-encoded but this build scores " +
        s"'$CodesEncoding' codes — rebuild the index or match versions")
    val p = params.select("id_col", "id_type", "num_buckets").head()
    // meta_cols absent on pre-filtered artifacts -> no carried metadata
    val metaCols =
      if (!params.columns.contains("meta_cols")) Nil
      else {
        val r = params.select("meta_cols", "meta_types").head()
        val names = r.getString(0); val types = r.getString(1)
        if (names.isEmpty) Nil
        else names.split("\\|").toSeq.zip(types.split("\\|").toSeq)
      }
    val cents = Tables.read(spark, s"$dir/meta_cents")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val books = Tables.read(spark, s"$dir/meta_books")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._3).map(_._4)).toArray).toArray
    IndexMeta(p.getString(0), p.getString(1), p.getInt(2), cents, books,
      metaCols)
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) { f.delete(); () }
  }
}
