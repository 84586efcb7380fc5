package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators — exact (gateway MD5-message-id dedup,
  * kassette-server misc.go:91 GetMD5UUID) and the LLM-pipeline
  * near-dup family (MinHash-LSH / n-gram Jaccard; SimHash lives in
  * graft.plans as a native expression).
  *
  * Scale design: every variant is groupBy/join on a derived key —
  * no cross joins. MinHash banding turns O(n²) similarity into one
  * shuffle on (band, band_hash) with per-bucket pair expansion; the
  * frequent-shingle cap bounds bucket width so the expansion is O(1)
  * per doc at any scale.
  */
object Dedup {

  /** Exact dedup, keep-first: one surviving row per key group with
    * group stats (keeper id, duplicate count, earliest ts). */
  def keepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String,
                tsMsCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        min(col(orderCol)).as("keeper_id"),
        count(lit(1)).as("n_dups"),
        min(col(tsMsCol)).as("first_ms"))

  /** TTL-bucketed exact dedup: keep-first per key within TTL-sized
    * time buckets — an APPROXIMATION of a TTL'd seen-id store, not an
    * exact equivalent: duplicates in the SAME bucket are always
    * dropped, but a pair straddling a bucket boundary both survive
    * even when they are < TTL apart (effective dedup window is
    * (0, TTL] depending on phase within the bucket). In exchange it's
    * ONE partial-agg shuffle with no per-key state store and no
    * growth over time, so it scales to unbounded retention at 100 TB;
    * use `streaming.StreamingPipeline.dedupStream` when the strict
    * within-TTL guarantee matters. */
  def keepFirstWithinTtl(df: DataFrame, keyCols: Seq[String], orderCol: String,
                         tsMsCol: String, ttlMs: Long): DataFrame =
    df.withColumn("ttl_bucket", expr(s"$tsMsCol div $ttlMs"))
      .groupBy((keyCols :+ "ttl_bucket").map(col): _*)
      .agg(
        min(col(orderCol)).as("keeper_id"),
        count(lit(1)).as("n_dups"),
        min(col(tsMsCol)).as("first_ms"))

  /** Exact content dedup by hash (content-defined identity). */
  def byContentHash(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Word k-shingles of a text column: one row per (id, shingle).
    * Shingling is row-local (flatMap via explode) — projection only,
    * no shuffle. */
  /** Collision-safe intermediate alias: the token-array projection
    * needs a name that is not already a column of `df` (an input that
    * legitimately has a `graft_toks` column would otherwise yield an
    * ambiguous/incorrect projection). */
  private[operators] def freeAlias(df: DataFrame, base: String): String = {
    var a = base
    while (df.columns.contains(a)) a += "_"
    a
  }

  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // split() materializes behind its own projection (multi-ref ->
    // CollapseProject keeps the boundary); inline, the transform
    // lambda would re-tokenize per shingle — measured ~4x on the
    // shingle scan (see crossDocSpanCoverage for the same pattern)
    val toksName = freeAlias(df, "graft_toks")
    val withToks = df.select(col(idCol), split(col(textCol), " ").as(toksName))
    val toks = col(toksName)
    // n-k+1 shingles at start positions 1..n-k+1 (guarded: Spark's
    // sequence() runs DESCENDING when stop < start, so short docs
    // must yield an empty array explicitly)
    val starts = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    withToks.select(col(idCol),
        explode(transform(starts, i => array_join(slice(toks, i, lit(k)), " "))).as("shingle"))
  }

  /** Mersenne-prime modulus for the universal-hash permutation family
    * (2^31-1: a*x+b stays under 2^62 for a,x < P — ANSI-overflow-safe
    * in Spark AND DuckDB BIGINT). */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a,b) coefficients per permutation (LCG from a
    * fixed seed — identical literals are interpolated into the DuckDB
    * oracle, so the signature family is engine-portable). */
  def minhashCoeffs(numPerms: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % (MinhashP - 1)
    }
    Seq.fill(numPerms)((next() + 1, next()))
  }

  /** Engine-portable 60-bit shingle hash: integer value of the first
    * 15 hex digits of md5 (== DuckDB `CAST('0x'||substr(md5(s),1,15)
    * AS BIGINT)`). ONE cryptographic hash per shingle; the per-
    * permutation work is then two multiplies — vs. md5-per-(shingle×
    * perm) which is 16× the hashing cost. */
  def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The (id, 60-bit shingle hash) frame BOTH near-dup families
    * consume — minhash signatures and the Jaccard/containment overlap
    * stats. With a `cacheKey` it materializes ONCE in the session
    * store (the "shingle table" a multi-job dedup pipeline persists:
    * 8-byte hashes per shingle, never the strings), so the second
    * family skips the corpus scan and re-shingling entirely. */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String,
                             k: Int, cacheKey: Option[SessionStore.Key]): DataFrame =
    // idCol/textCol belong in the name (as in every name below): two
    // callers sharing a cacheKey but shingling different columns must
    // not silently reuse each other's materialized frame
    SessionStore.memoFrame(cacheKey.map(_ / s"sh|$k|$idCol|$textCol"))(
      shingles(df, idCol, textCol, k)
        .select(col(idCol), shingleHash(col("shingle")).as("sh")))

  /** Wide MinHash signatures from (id, shingle hash) rows: one row per
    * doc, one column per permutation (single shuffle, partial-agg min,
    * no numPerms× row expansion). */
  private def minhashFromHashed(hs: DataFrame, idCol: String,
                                numPerms: Int): DataFrame = {
    val coeffs = minhashCoeffs(numPerms)
    val withX = hs.withColumn("x", col("sh") % MinhashP)
    val aggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("x") + lit(b)) % MinhashP).as(s"mh$i")
    }
    withX.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Row-local shingle hashes, reduced mod P: the SAME tokenization,
    * k-gram construction and 60-bit md5-prefix hash as
    * [[shingles]]+[[shingleHash]], folded inside one row — no
    * explode, no shuffle, so a STREAM can sign documents without any
    * stateful aggregation. Empty array for docs shorter than k tokens
    * (the batch path's "no signature" doc). Keep this select in its
    * OWN projection: the result is referenced numPerms times
    * downstream and CollapseProject preserves the boundary (same
    * discipline as [[shingles]]' split()). */
  def rowLocalShingleHashes(textCol: Column, k: Int): Column = {
    val toks = split(textCol, " ")
    val starts = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    transform(starts, i =>
      shingleHash(array_join(slice(toks, i, lit(k)), " ")) % MinhashP)
  }

  /** Wide MinHash signature from row-local shingle hashes — the same
    * universal-hash family as [[minhashSignatures]], so the row-local
    * signature is BIT-IDENTICAL to the batch groupBy signature of the
    * same document (element i == column mh_i); spec-pinned in
    * StreamingSpec's parity test. Null-element array (array_min of
    * empty) for an empty hash array — filter short docs upstream. */
  def signatureFromHashes(shsCol: Column, numPerms: Int): Column = {
    val coeffs = minhashCoeffs(numPerms)
    array(coeffs.map { case (a, b) =>
      array_min(transform(shsCol, x => (lit(a) * x + lit(b)) % MinhashP))
    }: _*)
  }

  /** LSH banding over the wide signature: band j hashes minhashes
    * 4j..4j+3 into one key; row-local projection + posexplode. */
  def lshBands(mh: DataFrame, idCol: String, numPerms: Int,
               rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until numPerms / rowsPerBand).map { j =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => col(s"mh${j * rowsPerBand + r}")): _*))
    }
    mh.select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
  }

  /** Candidate near-dup pairs from banded signatures (id1 < id2).
    * The band frame feeds BOTH sides of the self-join — persist it so
    * the whole shingle→minhash pipeline isn't computed twice (Spark
    * does not CTE-materialize identical DataFrame subplans). The
    * (small) pair set is materialized eagerly so the band cache can be
    * released before returning — several minhash queries run in one
    * Verify/Bench session and leaked blocks would accumulate. */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val cached = bands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val a = cached.select(col(idCol).as("id1"), col("band"), col("band_hash"))
      val b = cached.select(col(idCol).as("id2"), col("band"), col("band_hash"))
      a.join(b, Seq("band", "band_hash"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2").distinct()
        .localCheckpoint(eager = true)
    } finally cached.unpersist(blocking = false)
  }

  /** Incremental near-dup DELTA: the pairs involving at least one NEW
    * document, computed against an existing banded corpus WITHOUT
    * re-signing the old corpus — the production shape for a growing
    * corpus (a crawl refresh lands, only the delta is signed; the old
    * band table is the persisted artifact, exactly what [[lshBands]]
    * emits). Within-new pairs come from the usual self-join; new×old
    * pairs from ONE equi-join of the new band frame against the old
    * band table. Union with the old corpus's pair table equals
    * [[minhashLsh]] of the full corpus — spec-pinned (OperatorsSpec).
    * At fleet scale the old band table is bucketed by (band,
    * band_hash), so the delta join shuffles only the (small) new
    * side. */
  def minhashLshDelta(newDocs: DataFrame, idCol: String, textCol: String,
                      oldBands: DataFrame, shingleK: Int = 3,
                      numPerms: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val newBands = lshBands(
      minhashSignatures(newDocs, idCol, textCol, shingleK, numPerms, None),
      idCol, numPerms, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val withinNew = candidatePairs(newBands, idCol)
      val a = newBands.select(col(idCol).as("idN"), col("band"), col("band_hash"))
      val b = oldBands.select(col(idCol).as("idO"), col("band"), col("band_hash"))
      // idN == idO happens when a delta doc's id already exists in the
      // old band table (re-crawl / update of a known doc) — a
      // degenerate self-pair that would break the id1 < id2 invariant
      // every closure query assumes
      val cross = a.join(b, Seq("band", "band_hash"))
        .where(col("idN") =!= col("idO"))
        .select(least(col("idN"), col("idO")).as("id1"),
          greatest(col("idN"), col("idO")).as("id2"))
      withinNew.unionByName(cross).distinct()
        .localCheckpoint(eager = true)
    } finally { newBands.unpersist(blocking = false); () }
  }

  /** Signature frame for the store: computed once per cacheKey,
    * eagerly materialized (one row per doc, numPerms+1 columns). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numPerms: Int,
                        cacheKey: Option[SessionStore.Key]): DataFrame =
    SessionStore.memoFrame(cacheKey.map(_ / s"mh|$idCol|$textCol|$shingleK|$numPerms"))(
      minhashFromHashed(hashedShingles(df, idCol, textCol, shingleK, cacheKey),
        idCol, numPerms))

  /** Full MinHash-LSH near-dup pipeline. With a `cacheKey`, the
    * signature AND pair frames come from the session store — the
    * estimate/cluster queries downstream reuse them instead of
    * re-running shingle→minhash→band→join. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
                 cacheKey: Option[SessionStore.Key] = None): DataFrame =
    SessionStore.memo(cacheKey.map(
      _ / s"pairs|$idCol|$textCol|$shingleK|$numPerms|$rowsPerBand"))(
      candidatePairs(lshBands(
        minhashSignatures(df, idCol, textCol, shingleK, numPerms, cacheKey),
        idCol, numPerms, rowsPerBand), idCol))

  /** Connected components over near-dup pairs → cluster ids, so a
    * chain a~b~c dedups to ONE keeper even when (a,c) was never a
    * candidate pair. Iterative min-label propagation with POINTER
    * JUMPING: each pass takes the min id among itself + neighbors,
    * then shortcuts through its current label (label := label(label))
    * — label(x) ≤ x under min-labels, so the jump is monotone and the
    * pass count drops from O(diameter) to O(log diameter). A plain
    * one-hop propagation needs diameter passes, and the 10× scale
    * gate produced a chain deeper than the cap — at 100 TB a single
    * long chain must not dictate the iteration count. Each pass is
    * two id-only shuffle joins + one agg, all partial-agg friendly;
    * the fixpoint (min id per component) is unique, so results are
    * identical to the one-hop form. Returns (id, cluster) for every
    * node that appears in a pair.
    *
    * The default cap fits measured worst cases: a 20k-node pair graph
    * AT the percolation threshold (the 10× gate's semantic graph —
    * the deepest regime a near-dup corpus produces) converges in 12
    * passes with the jumps; shallow minhash/semantic graphs at normal
    * density take 2–5. The throw below still guards the cap: silent
    * truncation would split chains into wrong clusters. */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 24): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    // materialize the (small) edge set once: every iteration reuses it
    val e0 = edges.localCheckpoint(eager = true)
    // Size iteration parallelism to the EDGE count, not the session
    // default: near-dup edge sets are a sliver of the corpus, and an
    // iteration over 32 near-empty shuffle partitions is pure task-
    // launch latency ×(joins·iters). ~500k edges per partition keeps
    // a 100-TB-scale pair set fully parallel while the common case
    // runs each pass as one narrow task. (count() is free here — the
    // frame was just checkpointed.)
    val parts = math.max(1, (e0.count() / 500000L).toInt)
    val e = e0.repartition(parts, col("dst")).localCheckpoint(eager = true)
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(eager = true)
    var i = 0
    var converged = e.isEmpty
    // Pointer jumps are ADAPTIVE: a shallow graph (the common near-dup
    // case — tight clusters, diameter 2-4) converges in a few one-hop
    // passes, and 3 extra self-joins + checkpoints per pass are pure
    // tax there. Deep chains announce themselves: one-hop propagation
    // moves the min label ONE hop per pass, so the changed-label count
    // PLATEAUS instead of collapsing geometrically. Jumps switch on
    // (and stay on) when a pass retires less than half of the previous
    // pass's changes — or unconditionally by pass 4, which bounds the
    // worst case at ~4 cheap passes + O(log diameter) jumping ones.
    // Jumps never affect the fixpoint (label := label(label) is
    // monotone under min-labels), only the pass count.
    var jumpsOn = false
    var lastChanged = Long.MaxValue
    while (i < maxIter && !converged) {
      val neighborMin = e
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      // localCheckpoint truncates the growing iterative lineage —
      // without it each pass re-executes all prior passes
      val next = labels.withColumnRenamed("cluster", "prev")
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nmin"), col("prev"))).as("cluster"))
        .localCheckpoint(eager = true)
      // convergence + plateau detection in one cheap agg on the
      // materialized frame: one-hop stability implies labels are
      // constant per component (edges are symmetric), so converging
      // HERE — before any jumps — is sound
      val changed = next.filter(col("cluster") =!= col("prev")).count()
      if (changed == 0L) {
        converged = true
        labels = next.drop("prev")
      } else {
        jumpsOn = jumpsOn || changed * 2 > lastChanged || i >= 3
        lastChanged = changed
        // pointer jumps: label := min(label, label(label)). Every label
        // is a node id present in the frame, and labels only decrease,
        // so each self-join halves the distance to the component root —
        // three per pass shrink chain depth 8× on top of the one-hop
        // step (sparse pair graphs near the percolation threshold grow
        // chains hundreds deep: the 10× scale gate found one the
        // one-hop-only form could not close in 10 passes).
        var jumped = next
        if (jumpsOn) for (_ <- 0 until 3) {
          jumped = jumped
            .join(jumped.select(col("id").as("cluster"), col("cluster").as("cc")),
              Seq("cluster"), "left_outer")
            .select(col("id"), col("prev"),
              least(col("cluster"), coalesce(col("cc"), col("cluster"))).as("cluster"))
            .localCheckpoint(eager = true)
        }
        // localCheckpoint PRESERVES the source plan's size statistics,
        // and a join's estimate is the PRODUCT of its children's — so
        // the self-joins above SQUARE the inherited estimate at every
        // jump. Left to compound across passes, the estimate reaches
        // million-bit BigInts and Catalyst wedges inside
        // BigInteger.multiply while planning (observed at the 10×
        // gate). Rebasing the materialized RDD through createDataFrame
        // drops the inherited stats to the default, bounding estimate
        // growth to within one pass.
        val clean = jumped.drop("prev")
        labels = clean.sparkSession.createDataFrame(clean.rdd, clean.schema)
      }
      i += 1
    }
    // A silent exit at the iteration cap would return WRONG labels
    // (chains deeper than maxIter split into several clusters) — that
    // must never pass as a clean result.
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge after $maxIter iterations; " +
          "raise maxIter (cluster diameter exceeds it)")
    labels
  }

  /** THE dedup deliverable: the cleaned corpus. Every near-dup
    * cluster keeps exactly its min-id member (the cluster label IS
    * the keeper id under min-label propagation); everything else
    * survives untouched. One anti-join against the non-keeper id set:
    * at typical dup rates AQE broadcasts it (corpus never shuffles —
    * audited in PlanAuditSpec); at extreme dup rates it degrades
    * gracefully to a shuffled anti-join of 8-byte ids, never of
    * document text. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
                  maxIter: Int = 10, cacheKey: Option[SessionStore.Key] = None): DataFrame = {
    val clusters = clusterPairs(
      minhashLsh(df, idCol, textCol, shingleK, numPerms, rowsPerBand, cacheKey),
      maxIter)
    val dropped = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** MinHash Jaccard estimation for LSH candidate pairs: the fraction
    * of agreeing signature slots is an unbiased Jaccard estimate —
    * the cheap verification stage between banding (recall) and exact
    * set comparison (precision) in a production near-dup pipeline.
    * With a `cacheKey` the signatures and pairs come from the session
    * store, shared with the LSH/cluster runs. */
  def minhashJaccardEstimate(df: DataFrame, idCol: String, textCol: String,
                             shingleK: Int = 3, numPerms: Int = 16,
                             rowsPerBand: Int = 4,
                             cacheKey: Option[SessionStore.Key] = None): DataFrame =
    estimateFromSignatures(
      minhashSignatures(df, idCol, textCol, shingleK, numPerms, cacheKey),
      minhashLsh(df, idCol, textCol, shingleK, numPerms, rowsPerBand, cacheKey),
      idCol, numPerms)

  private def estimateFromSignatures(mh: DataFrame, pairs: DataFrame,
                                     idCol: String, numPerms: Int): DataFrame = {
    val agree = (0 until numPerms).map(i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0)).reduce(_ + _)
    val aSide = mh.select(col(idCol).as("id1") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val bSide = mh.select(col(idCol).as("id2") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    pairs.join(aSide, "id1").join(bSide, "id2")
      .select(col("id1"), col("id2"),
        round(agree.cast("double") / numPerms, 6).as("jaccard_est"))
  }

  /** Shared pair machinery for the shingle-overlap family: one scan,
    * shuffling on the 60-bit shingle hash (not the string). ONE
    * groupBy(shingle) with collect_set yields the doc list AND the
    * doc-frequency per shingle; set sizes and pairs both derive from
    * it — vs. the naive 3-subplan shape that rescans and re-shingles
    * the corpus per use. perShingle feeds BOTH the size agg and the
    * pair expansion; the identical shuffle subtree is shared at
    * runtime via ReusedExchange, so no explicit materialization
    * WITHIN one query (measured: a localCheckpoint here is net-slower
    * — it blocks AQE downstream). ACROSS queries (Jaccard +
    * containment over the same corpus and params) a `cacheKey`
    * memoizes the final small stats frame in the session store, the
    * same materialize-once discipline as the minhash signature store.
    * Returns (id1, id2, n_inter, size1, size2). */
  private def shingleOverlapStats(df: DataFrame, idCol: String, textCol: String,
                                  k: Int, maxDocFreq: Int,
                                  cacheKey: Option[SessionStore.Key]): DataFrame =
    SessionStore.memoFrame(cacheKey.map(_ / s"ovl|$idCol|$textCol|$k|$maxDocFreq")) {
      val perShingle = hashedShingles(df, idCol, textCol, k, cacheKey)
        .select(col(idCol), col("sh").as("shingle"))
        .groupBy("shingle")
        .agg(sort_array(collect_set(col(idCol))).as("ids"))
      // per-doc distinct-shingle counts: one row per doc — AQE
      // broadcasts it at small scale, shuffle-joins at corpus scale
      val sizes = perShingle.select(explode(col("ids")).as(idCol))
        .groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))
      val ids = col("ids")
      // pairs expand row-locally from the capped doc lists (df cap
      // bounds the quadratic blowup per shingle)
      val inter = perShingle
        .filter(size(ids) <= maxDocFreq)
        .select(explode(flatten(transform(ids, (x, i) =>
          transform(slice(ids, i + 2, size(ids)),
            y => struct(x.as("id1"), y.as("id2")))))).as("p"))
        .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col(idCol).as("id1"), col("set_size").as("size1")), "id1")
        .join(sizes.select(col(idCol).as("id2"), col("set_size").as("size2")), "id2")
    }

  /** n-gram Jaccard similarity for pairs sharing at least one shingle.
    * `maxDocFreq` drops stop-shingles so the shingle join cannot
    * quadratically explode on common n-grams (the standard blocking
    * cap; dropped shingles only shrink measured similarity of
    * boilerplate, which is what you want at 100 TB). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, k: Int,
                   maxDocFreq: Int, minJaccard: Double,
                   cacheKey: Option[SessionStore.Key] = None): DataFrame =
    shingleOverlapStats(df, idCol, textCol, k, maxDocFreq, cacheKey)
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("size1") + col("size2") - col("n_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id1", "id2", "n_inter", "jaccard")

  /** Near-containment pairs — the dedup category Jaccard misses: a
    * short doc embedded in a much longer one scores a LOW Jaccard
    * (union is dominated by the long doc) but a HIGH containment
    * coefficient |A∩B| / min(|A|,|B|). Same single-scan banded shape
    * and pair cap as [[ngramJaccard]]; emits which side is contained
    * so the dedup policy can keep the superset doc. */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String, k: Int,
                       maxDocFreq: Int, minContainment: Double,
                       cacheKey: Option[SessionStore.Key] = None): DataFrame =
    shingleOverlapStats(df, idCol, textCol, k, maxDocFreq, cacheKey)
      .withColumn("containment",
        round(col("n_inter").cast("double") / least(col("size1"), col("size2")), 6))
      .filter(col("containment") >= minContainment)
      .withColumn("contained_id",
        when(col("size1") <= col("size2"), col("id1")).otherwise(col("id2")))
      .select("id1", "id2", "n_inter", "containment", "contained_id")

  /** Cross-corpus duplicate-SPAN coverage — the fixed-k approximation
    * of suffix-array exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): a token k-gram
    * appearing in >= `minDocs` distinct documents marks all its
    * occurrences, and each doc reports the fraction of token
    * positions covered by the interval union of its marked spans
    * (what an ExactSubstr pass would cut).
    *
    * Scale shape: occurrences shuffle ONCE on a 64-bit gram hash
    * (xxhash64 — never the gram string); doc-frequency is a two-phase
    * distinct+count (both partial-agg); the frequent-gram set is
    * small boilerplate so AQE broadcasts the occurrence join at
    * runtime; the interval union is row-local per doc (positions
    * bounded by doc length). No all-pairs stage anywhere. */
  def crossDocSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minDocs: Int): DataFrame = {
    // split() is materialized behind its own projection (multi-ref ->
    // CollapseProject keeps the boundary) so the gram lambda reads an
    // attribute, not a re-evaluated tokenizer: measured 13x on the
    // occurrence scan (6.5s -> 0.5s at sf0.1)
    val toksName = freeAlias(df, "graft_toks")
    // r21 fan-out, WORK-adaptive ([[Widths.of]] with inflate = k):
    // gram building inflates each input byte ~k× (every token starts
    // a k-token window string) — a 584 KB corpus at k=50 is ~29 MB of
    // gram construction, worth 8 tasks, while the same corpus at k=5
    // stays at its natural single split. The exchange moved is the
    // raw text, once, before the k× inflation (guide §3.3: explode
    // after the move).
    // r22 single materialization (guide §2.4 exchange reuse): the
    // token exchange is now UNCONDITIONAL — never below the natural
    // split count, so the 100-TB posture keeps full scan parallelism
    // — because base and occ both hang off the SAME Exchange node and
    // ReuseExchange computes the scan+tokenize ONCE (pre-r22 each
    // branch re-scanned and re-tokenized the corpus).
    val parts = Widths.of(df, inflate = k)
    // explicit isNotNull(id) ABOVE the shared exchange: the final
    // LeftOuter join pushes isnotnull(id) into its right (coverage)
    // branch only, which made that branch's copy of the token
    // exchange canonically different from the base branch's — and
    // ReuseExchange then re-scanned and re-tokenized the corpus for
    // base (r22 plan audit). Hoisting the filter over BOTH branches
    // restores one shared subtree. (idCol is the document key —
    // non-null in every caller and in the oracle's corpus.)
    val t = df.filter(col(idCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as(toksName))
    val withToks =
      t.repartition(math.max(parts, t.rdd.getNumPartitions), col(idCol))
    val base = withToks
      .select(col(idCol), size(col(toksName)).cast("long").as("n_tokens"))
    // occ shuffles ONCE on the gram hash and both consumers (the
    // document-frequency count and the covered-position join) read
    // the reused exchange — grams are built and hashed once, and the
    // shuffle carries only (id, pos, h) rows, never gram strings.
    // hash(h) satisfies the distinct's (id, h) clustering and the
    // groupBy(h), so the freq branch adds NO further exchange.
    val occ = withToks
      .select(col(idCol),
        posexplode(graft.functions.TextFunctions.tokenNgrams(col(toksName), k))
          .as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), xxhash64(col("gram")).as("h"))
      // column-only repartition: starts at the session's shuffle-
      // partition ceiling and stays an AQE coalesce target — a gate
      // corpus's hash rows coalesce to one task while a decade corpus
      // keeps the ceiling's width
      .repartition(col("h"))
    // two-level distinct-count, same values as select(id,h).distinct
    // .groupBy(h).count: group (h,id) == distinct (id,h), and the
    // level-2 count(_np) == count(1) because _np = min(pos) over a
    // non-empty group of non-null positions is never null. min(pos)
    // pins `pos` below this branch's copy of the shared occ exchange:
    // pruned to (id, h), the copy canonicalizes differently from the
    // coverage branch's (id, pos, h) one and ReuseExchange stops
    // firing — grams were built twice (r22 plan audit). min, not
    // count: NullPropagation folds count(non-nullable) to count(1)
    // and re-prunes; and level 2 must CONSUME _np or the optimizer
    // drops the unused aggregate and re-prunes the same way.
    val freq = occ
      .groupBy(col("h"), col(idCol)).agg(min(col("pos")).as("_np"))
      .groupBy("h").agg(count(col("_np")).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
    val covered = occ.join(freq.select("h"), "h")
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("starts"))
      .select(col(idCol),
        size(array_distinct(flatten(transform(col("starts"),
          p => sequence(p, p + (k - 1)))))).cast("long").as("nc"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("nc"), lit(0L)).as("n_covered"),
        round(coalesce(col("nc"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("covered_frac"))
  }

  /** SimHash hamming-ball near-dup pairs (the Manku/Jain/Sarma
    * WWW'07 design): all (id1 < id2, hamming) with
    * hamming(simhash₁, simhash₂) ≤ `maxHamming` — the bitwise
    * complement to MinHash-LSH (token-frequency-weighted, catches
    * reordered/templated text Jaccard shingles dilute).
    *
    * The fingerprint splits into `nBlocks` equal bit blocks; with
    * nBlocks > maxHamming the pigeonhole principle gives the
    * block-bucket join PERFECT recall (≤ maxHamming flipped bits
    * cannot corrupt every block), so the banded result IS the
    * all-pairs result at bucket-join cost — no all-pairs stage, no
    * recall/precision tuning. Shuffles carry (block, block-value)
    * keys plus the 8-byte fingerprint, never text; the exact hamming
    * check is one codegen'd `bit_count(xor)` per candidate. Skew
    * caveat (shared with LSH banding): a block value common to m
    * docs costs an m² bucket — boilerplate-heavy corpora should
    * strip template frames upstream (crossDocSpanCoverage) first. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, nBlocks: Int = 4): DataFrame = {
    require(nBlocks > maxHamming,
      s"need nBlocks ($nBlocks) > maxHamming ($maxHamming) for exact recall")
    require(nBlocks >= 2 && 64 % nBlocks == 0,
      s"nBlocks must divide 64: $nBlocks")
    val w = 64 / nBlocks
    val mask = (1L << w) - 1
    val banded = df
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.simhash64(split(lower(col(textCol)), " ")).as("sh"))
      .select(col("id"), col("sh"),
        explode(array((0 until nBlocks).map(i => struct(lit(i).as("blk"),
          expr(s"shiftright(sh, ${w * i}) & $mask").as("v"))): _*)).as("b"))
      .select(col("id"), col("sh"), col("b.blk").as("blk"), col("b.v").as("v"))
    banded.select(col("id").as("id1"), col("sh").as("sh1"), col("blk"), col("v"))
      .join(banded.select(
        col("id").as("id2"), col("sh").as("sh2"), col("blk"), col("v")),
        Seq("blk", "v"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sh1 ^ sh2)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
