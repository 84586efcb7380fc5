package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.operators.SessionStore.corpus
import graft.sources.Tables

/** Pack C — LLM-training-data operators (SURVEY.md §2.C) over the
  * `documents` and `embeddings` tables. Oracle-checked where DuckDB
  * can express the same computation; rows-only where the operator is
  * inherently engine-native (SimHash expression, LSH ANN).
  *
  * What two queries share is written once. On the Spark side each
  * family has one evaluator: [[recallAt3]] for every recall gate,
  * `heldOut` for both held-out classifier gates. On the oracle side
  * each shared DuckDB CTE chain or tail has one builder
  * (`minhashBandCtes`, `exactTopCtes`, `recallTailSql`,
  * `heldOutTailSql`, `langIdCaseSql`, ...). No builder is called from
  * both sides: the oracles stay the gate's independent reference.
  */
object LlmData {
  type Q = (SparkSession, String) => DataFrame
  private type Books = Array[Array[Array[Double]]]

  /** Build `name` once per (session, corpus) in the [[SessionStore]]. */
  private def stored[T](s: SparkSession, d: String, name: String)(build: => T): T =
    SessionStore.memo(Some(corpus(s, d) / name))(build)

  /** The oracles' exploded vectors: one (vec_id, i, x) row per
    * component of `embeddings`. */
  private val flatCte =
    """flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |          unnest(generate_series(1, len(embedding))) AS i
      |         FROM embeddings)""".stripMargin

  /** Each vector's L2 norm over `flat`. */
  private val normsCte = "norms AS (SELECT vec_id, sqrt(SUM(x*x)) AS nrm FROM flat GROUP BY vec_id)"

  // ------------------------------------------------------ d_exact_dup
  private val exactDup: Q = (s, d) =>
    Dedup.byContentHash(Tables.documents(s, d), "doc_id", "text")
      .orderBy("content_hash")

  private val exactDupSql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------- d_minhash_lsh
  // The three minhash queries (lsh / estimate / clusters) share one
  // SessionStore corpus key per (session, sf dir): signatures and
  // candidate pairs materialize once, every later query reuses them —
  // the signature-store pattern a 100-TB dedup pipeline runs as tables.

  private val minhashLsh: Q = (s, d) =>
    Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
      .orderBy("id1", "id2")

  /** The oracle's MinHash chain, opening a WITH: documents →
    * 3-shingles → 16 permutation minima (`mh`) → 4 bands of 4 rows
    * (`bands`). One builder for every MinHash oracle. */
  private def minhashBandCtes(recursive: Boolean = false): String = {
    val P = Dedup.MinhashP
    val mhAggs = Dedup.minhashCoeffs(16).zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * x + $b) % $P) AS mh$i"
    }.mkString(",\n        ")
    val bandSelects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"mh${j * 4 + r}").mkString(", ")
      s"SELECT doc_id, $j AS band, md5(concat_ws('|', $cols)) AS band_hash FROM mh"
    }.mkString("\n       UNION ALL ")
    s"""WITH ${if (recursive) "RECURSIVE " else ""}toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |starts AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks),
       |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM starts),
       |shx AS (SELECT doc_id,
       |         TRY_CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $P AS x
       |        FROM sh),
       |mh AS (SELECT doc_id,
       |        $mhAggs
       |       FROM shx GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  /** The LSH candidate pairs over [[minhashBandCtes]]'s `bands`. */
  private def minhashPairsCte(a: String = "a", b: String = "b"): String =
    s"""pairs AS (SELECT DISTINCT $a.doc_id AS id1, $b.doc_id AS id2
       |          FROM bands $a JOIN bands $b
       |            ON $a.band = $b.band AND $a.band_hash = $b.band_hash
       |           AND $a.doc_id < $b.doc_id)""".stripMargin

  private val minhashLshSql =
    s"""${minhashBandCtes()}
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |ORDER BY id1, id2""".stripMargin

  // ------------------------------------------------- d_source_dup_rate
  // Per-source duplication profile — the curation-dashboard number a
  // corpus owner reads before deciding where to spend dedup budget:
  // for each source, how many docs sit in ANY near-dup pair. Rides the
  // memoized pair store; the dup id set is 8-byte ids (AQE broadcasts
  // it at typical dup rates), the profile is one partial agg on
  // source — the corpus text never shuffles.
  private val sourceDupRate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
    val dupIds = pairs.select(col("id1").as("doc_id"))
      .unionAll(pairs.select(col("id2").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    docs.join(dupIds, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  private val sourceDupRateSql =
    s"""${minhashBandCtes()},
       |${minhashPairsCte()},
       |dup AS (SELECT id1 AS doc_id FROM pairs UNION SELECT id2 FROM pairs)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  ROUND(CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_rate
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // -------------------------------------------------- d_stream_neardup
  // The STREAMING near-dup detector run inside the batch gate — the
  // p_stream_sessions discipline applied to dedup: documents replayed
  // as a file stream in SEVERAL micro-batches (maxFilesPerTrigger), so
  // pairs whose docs arrive in different micro-batches exercise the
  // stateful band-bucket membership; the deduped emission must
  // hash-match the BATCH LSH oracle exactly (same signature family —
  // the row-local fold is bit-identical to the groupBy signature).
  private val streamNearDup: Q = (s, d) => {
    // bounded trigger count (autoFilesPerTrigger): 1 file/trigger at
    // gate scale, ≤ 16 triggers at any volume — the per-trigger
    // planning + state-store version floor was 26% of the 100× board
    val name = "graft_stream_neardup"
    graft.streaming.StreamingPipeline.replayFiles("graft_neardup_stream",
        Seq("docs" -> Tables.documents(s, d).select("doc_id", "text")),
        boundedTriggers = true) { stream =>
      graft.streaming.StreamingPipeline
        .lshNearDupStream(stream, "doc_id", "text",
          shingleK = 3, numPerms = 16, rowsPerBand = 4)
        .writeStream.format("memory").queryName(name).outputMode("append")
    }
    s.table(name).select("id1", "id2").distinct().orderBy("id1", "id2")
  }

  // ---------------------------------------------- d_minhash_estimate
  private val minhashEstimate: Q = (s, d) =>
    Dedup.minhashJaccardEstimate(Tables.documents(s, d), "doc_id", "text",
        cacheKey = Some(corpus(s, d)))
      .orderBy("id1", "id2")

  private val minhashEstimateSql = {
    val agree = (0 until 16).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${minhashBandCtes()},
       |${minhashPairsCte("x", "y")}
       |SELECT p.id1, p.id2, ROUND(CAST($agree AS DOUBLE) / 16, 6) AS jaccard_est
       |FROM pairs p JOIN mh a ON a.doc_id = p.id1 JOIN mh b ON b.doc_id = p.id2
       |ORDER BY p.id1, p.id2""".stripMargin
  }

  // ----------------------------------------------- d_dup_clusters
  // Transitive near-dup components over the LSH candidate pairs:
  // iterative min-label propagation in Spark vs an exact recursive-
  // CTE closure in DuckDB — hash-equality proves the propagation
  // converged to the true components.
  private val dupClusters: Q = (s, d) =>
    Dedup.clusterPairs(
        Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
          cacheKey = Some(corpus(s, d))), maxIter = 8)
      .orderBy("id")

  /** Shared recursive-closure CTE block: documents → shingles →
    * minhash → bands → candidate pairs → transitive closure (`walk`).
    * Reused by the cluster view and the dedup-apply oracle. */
  private val clusterClosureCtes =
    s"""${minhashBandCtes(recursive = true)},
       |${minhashPairsCte()},
       |${walkCtes("pairs")}""".stripMargin

  /** Transitive closure (`walk`) of the undirected pair graph `pairs`;
    * needs a WITH RECURSIVE. */
  private def walkCtes(pairs: String): String =
    s"""edges AS (SELECT id1 AS src, id2 AS dst FROM $pairs
       |          UNION ALL SELECT id2, id1 FROM $pairs),
       |walk(id, lbl) AS (
       | SELECT DISTINCT src, src FROM edges
       | UNION
       | SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id)""".stripMargin

  private val dupClustersSql =
    s"""$clusterClosureCtes
       |SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin

  // ------------------------------------------------ d_cluster_purity
  // Provenance profile of each near-dup cluster: size, distinct
  // sources, and the majority source with its share — separates
  // intra-source boilerplate (purity 1: dedup freely) from
  // cross-source syndication (mixed: keeper choice has licensing/
  // attribution consequences). Rides the session store's pair frame;
  // two partial-agg phases ((cluster, source) counts → cluster
  // rollup with struct-argmax majority), no windows over the corpus.
  private val clusterPurity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val clusters = Dedup.clusterPairs(Dedup.minhashLsh(docs, "doc_id", "text",
      shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d))))
    clusters
      .join(docs.select(col("doc_id").as("id"), col("source")), "id")
      .groupBy("cluster", "source").agg(count(lit(1)).as("c"))
      .groupBy("cluster").agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        max(struct(col("c"), col("source"))).as("_top"))
      .select(col("cluster"), col("n_docs"), col("n_sources"),
        col("_top.source").as("top_source"),
        (floor(col("_top.c").cast(DoubleType) / col("n_docs").cast(DoubleType)
          * 1e6 + 0.5) / 1e6).as("top_frac"))
      .orderBy("cluster")
  }

  private val clusterPuritySql =
    s"""$clusterClosureCtes,
       |clusters AS (SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id),
       |cs AS (SELECT w.cluster, d.source, COUNT(*) AS c
       |       FROM clusters w JOIN documents d ON d.doc_id = w.id
       |       GROUP BY w.cluster, d.source),
       |r AS (SELECT *,
       |       ROW_NUMBER() OVER (PARTITION BY cluster
       |         ORDER BY c DESC, source DESC) AS rn,
       |       CAST(SUM(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_sources
       |      FROM cs)
       |SELECT cluster, n_docs, n_sources, source AS top_source,
       | FLOOR(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000 + 0.5)
       |   / 1000000 AS top_frac
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  // ----------------------------------------------- d_dedup_apply
  // The cleaned corpus: min-id keeper per near-dup cluster survives,
  // other members drop, unique docs pass through — one anti-join
  // against the (tiny) non-keeper set, the corpus never shuffles.
  private val dedupApply: Q = (s, d) =>
    Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text",
        cacheKey = Some(corpus(s, d)))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  private val dedupApplySql =
    s"""$clusterClosureCtes,
       |clusters AS (SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- d_simhash
  // Native Catalyst expression (graft.plans.SimHash64). The oracle
  // replays the FULL pipeline in DuckDB SQL: FNV-1a 64 is a
  // list_reduce fold in HUGEINT arithmetic mod 2^64 over the token's
  // UTF-8 BYTES (hex(encode(tok)) split into byte pairs — matches
  // SimHashUtil.fnv1a64's byte stream for ANY input, not just ASCII;
  // each byte < 256 so BIGINT xor on h%256 suffices), bit counts
  // explode over generate_series(0,63), and the unsigned result maps
  // to Spark's signed long at the end — bit-exact, not rows-only.
  private val simhash: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("tokens", split(lower(col("text")), " "))
      .withColumn("simhash", graft.functions.TextFunctions.simhash64(col("tokens")))
      .select(col("doc_id"), col("simhash"),
        expr("simhash & 65535").as("band16"))
      .orderBy("doc_id")
  }

  // Shared by the d_simhash projection oracle and the
  // d_simhash_neardup all-pairs oracle.
  /** FNV-1a 64 of `tok` over its UTF-8 bytes, as a HUGEINT `h`. */
  private val fnv1a64Sql =
    """list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      list_transform(generate_series(1, octet_length(encode(tok))),
      |        i -> TRY_CAST('0x' || substr(hex(encode(tok)), 2*i-1, 2) AS BIGINT)::HUGEINT)),
      |    (h, b) -> (((h // 256) * 256 + xor((h % 256)::BIGINT, b::BIGINT)::HUGEINT)
      |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
      |  ) AS h""".stripMargin

  /** The unsigned simhash `sh` of `sim` mapped to Spark's signed long. */
  private val simhashSignedCte =
    """signed AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN sh >= 9223372036854775808::HUGEINT
      |         THEN sh - 18446744073709551616::HUGEINT ELSE sh END AS BIGINT) AS simhash,
      |    sh
      |  FROM sim
      |)""".stripMargin

  private val simhashCtes =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
      |),
      |hashes AS (
      |  SELECT doc_id, $fnv1a64Sql FROM toks
      |),
      |bits AS (
      |  SELECT doc_id, h, unnest(generate_series(0, 63)) AS bit FROM hashes
      |),
      |counts AS (
      |  SELECT doc_id, bit,
      |    SUM(CASE WHEN (h // CAST(POWER(2, bit) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS c
      |  FROM bits GROUP BY doc_id, bit
      |),
      |sim AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN c > 0 THEN CAST(POWER(2, bit) AS HUGEINT) ELSE 0::HUGEINT END) AS sh
      |  FROM counts GROUP BY doc_id
      |),
      |$simhashSignedCte""".stripMargin

  private val simhashSql =
    s"""$simhashCtes
      |SELECT doc_id, simhash, CAST(sh % 65536 AS BIGINT) AS band16
      |FROM signed ORDER BY doc_id""".stripMargin

  /** STAGED-FOLD twin of [[simhashCtes]] for N× campaigns (r20 — the
    * r19 verdict's "chunked-fold ALT" branch): the canonical CTE
    * pays the interpreted FNV-1a HUGEINT fold once per TOKEN
    * INSTANCE (~400M at 1000×; >1800 s measured solo) and then
    * explodes 64 bit-rows per instance (~25B rows). This twin is the
    * SAME algebra restaged for a vectorized engine:
    *  (1) fold only the DISTINCT vocabulary (zipf: ~100× fewer
    *      folds), join hashes back to per-doc token counts;
    *  (2) split the unsigned 64-bit hash into two BIGINT halves and
    *      compute the 64 per-bit vote sums as 64 AGGREGATE COLUMNS
    *      over cheap BIGINT shift/mask ops — one vectorized pass,
    *      zero row explosion;
    *  (3) reassemble the simhash from the 64 signs closed-form.
    * Token multiplicity is preserved via the per-(doc, tok) count,
    * so repeated tokens vote with their multiplicity exactly as
    * SimHashUtil folds them. Validated hash-identical to the
    * canonical form at sf0.01 by the campaign tooling. */
  private val simhashCtesStaged: String = {
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) "hlo" else "hhi"
      val sh = b % 32
      s"SUM(CASE WHEN (($half >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS c$b"
    }.mkString(",\n      ")
    val assemble = (0 until 64).map { b =>
      s"(CASE WHEN c$b > 0 THEN ${java.math.BigInteger.ONE.shiftLeft(b)}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString(" +\n      ")
    s"""WITH vhash AS (
      |  SELECT tok, $fnv1a64Sql FROM (SELECT DISTINCT tok FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents))
      |),
      |-- per-INSTANCE join (not a (doc, tok) pre-group: that hash
      |-- table over ~400M strings was itself the disk-spill wall at
      |-- 1000x) — the build side is the small vocab, instances
      |-- stream through and each vote is ±1 with its multiplicity
      |-- carried by row count. The token stream is INLINED in both
      |-- consumers, never a shared CTE: DuckDB materializes a
      |-- multiply-referenced CTE, and ~400M token-instance strings
      |-- materialized IS the disk wall (re-splitting the scan twice
      |-- is cheap; holding it once is not).
      |dh AS (
      |  SELECT t.doc_id,
      |    CAST(v.h % 4294967296::HUGEINT AS BIGINT) AS hlo,
      |    CAST(v.h // 4294967296::HUGEINT AS BIGINT) AS hhi
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |        FROM documents) t JOIN vhash v USING (tok)
      |),
      |counts AS (
      |  SELECT doc_id,
      |      $votes
      |  FROM dh GROUP BY doc_id
      |),
      |sim AS (
      |  SELECT doc_id,
      |    $assemble AS sh
      |  FROM counts
      |),
      |$simhashSignedCte""".stripMargin
  }

  private val simhashAltSql =
    s"""$simhashCtesStaged
      |SELECT doc_id, simhash, CAST(sh % 65536 AS BIGINT) AS band16
      |FROM signed ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ d_simhash_neardup
  // SimHash hamming-ball near-dup pairs (Dedup.simhashNearDup — the
  // Manku WWW'07 block-split design): 4 16-bit blocks give the
  // block-bucket join PERFECT recall at hamming ≤ 3 by pigeonhole,
  // so the oracle can be the literal ALL-PAIRS scan — the banded
  // Spark plan must reproduce it exactly, pair for pair, which makes
  // the recall property itself the thing hash-checked (not sampled).
  // Complements d_minhash_lsh: bitwise fingerprint distance catches
  // templated/reordered text whose shingle Jaccard is diluted.
  private val simhashNeardup: Q = (s, d) =>
    Dedup.simhashNearDup(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3, nBlocks = 4)
      .orderBy("id1", "id2")

  private val simhashNeardupSql =
    s"""$simhashCtes
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM signed a JOIN signed b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY id1, id2""".stripMargin

  /** ALT (volume-tractable) twin of [[simhashNeardupSql]] for N×
    * campaigns (r19): the canonical all-pairs scan is O(n²) — 2.5e13
    * comparisons at 1000× — but the result set is IDENTICAL to the
    * Manku block-bucket join the Spark plan runs: at hamming ≤ 3
    * over 4 16-bit blocks, pigeonhole guarantees some block is
    * untouched, so every qualifying pair shares ≥1 exact block key.
    * The ALT replays exactly that: per-block bucket equi-join →
    * hamming filter BEFORE the distinct (the filter is per-row cheap;
    * deduping the ≤4× multiplicity afterward touches only true
    * pairs). Same algebra, not an approximation — validated
    * bit-identical to the canonical at sf0.01 by the campaign
    * tooling. r20: rides [[simhashCtesStaged]] — the r19 block-bucket
    * rewrite removed the JOIN wall but left the per-instance FNV fold
    * (>1800 s solo at 5M docs); the staged fold removes that too. */
  private val simhashNeardupAltSql =
    s"""$simhashCtesStaged,
      |blocks AS (
      |  SELECT doc_id, simhash, sh, unnest(generate_series(0, 3)) AS blk
      |  FROM signed
      |),
      |keyed AS (
      |  SELECT doc_id, simhash, blk,
      |    CAST((sh // CAST(POWER(2, blk * 16) AS HUGEINT)) % 65536 AS BIGINT)
      |      AS bkey
      |  FROM blocks
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |  FROM keyed a JOIN keyed b
      |    ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |)
      |SELECT id1, id2, hamming FROM cand ORDER BY id1, id2""".stripMargin

  // ------------------------------------------------- d_neardup_venn
  // Near-dup DETECTOR AGREEMENT report — the diagnostic a curation
  // run reads before picking thresholds: the pair-level Venn of the
  // three text families (exact n-gram Jaccard overlap, its MinHash-
  // LSH approximation, SimHash hamming ball). A jaccard-only row is
  // an LSH recall gap; a minhash-only row is banding noise below the
  // Jaccard bar; simhash-only rows are the bitwise family's
  // templated-text catch. The two shingle families ride the ONE
  // memoized gram/signature store; the full-outer joins carry
  // 16-byte pair keys; output is ≤ 7 rows at any corpus scale.
  private val neardupVenn: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nj = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3,
        maxDocFreq = 50, minJaccard = 0.1, cacheKey = Some(corpus(s, d)))
      .select(col("id1"), col("id2"), lit(1L).as("in_jaccard"))
    val mh = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
      .select(col("id1"), col("id2"), lit(1L).as("in_minhash"))
    val sh = Dedup.simhashNearDup(docs, "doc_id", "text")
      .select(col("id1"), col("id2"), lit(1L).as("in_simhash"))
    nj.join(mh, Seq("id1", "id2"), "full_outer")
      .join(sh, Seq("id1", "id2"), "full_outer")
      .na.fill(0L, Seq("in_jaccard", "in_minhash", "in_simhash"))
      .groupBy("in_jaccard", "in_minhash", "in_simhash")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_jaccard", "in_minhash", "in_simhash")
  }

  // The three family oracles embed verbatim as derived tables (each
  // is individually gate-proven; DuckDB accepts a WITH prologue
  // inside a subquery), so the venn oracle can never drift from them.
  private lazy val neardupVennSql =
    s"""SELECT CAST(COALESCE(j.fj, 0) AS BIGINT) AS in_jaccard,
      |  CAST(COALESCE(m.fm, 0) AS BIGINT) AS in_minhash,
      |  CAST(COALESCE(s.fs, 0) AS BIGINT) AS in_simhash,
      |  COUNT(*) AS n_pairs
      |FROM (SELECT id1, id2, 1 AS fj FROM ($ngramJaccardSql)) j
      |FULL JOIN (SELECT id1, id2, 1 AS fm FROM ($minhashLshSql)) m USING (id1, id2)
      |FULL JOIN (SELECT id1, id2, 1 AS fs FROM ($simhashNeardupSql)) s USING (id1, id2)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------- d_lsh_calibration
  // LSH RECALL CALIBRATION curve — the quantitative companion to the
  // venn: empirical MinHash-LSH recall per exact-Jaccard decile,
  // next to the analytic banding S-curve 1-(1-s^r)^b evaluated at the
  // decile midpoint (r=4 rows/band, b=4 bands — the gate's config).
  // This is the table a curation run reads to pick (numPerms,
  // rowsPerBand) for a target similarity threshold: where the
  // empirical column falls off is where banding starts missing pairs.
  // Both families ride the ONE memoized gram/signature store; the
  // left join carries 16-byte pair keys; output is ≤ 10 rows at any
  // corpus scale. The S-curve uses explicit products (no pow) so both
  // engines run the same IEEE multiply sequence.
  private val lshCalibration: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3,
        maxDocFreq = 50, minJaccard = 0.1, cacheKey = Some(corpus(s, d)))
      .select(col("id1"), col("id2"), col("jaccard"))
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
      .select(col("id1"), col("id2"), lit(1L).as("caught"))
    val mid = least(col("j_bucket").cast("double") / lit(10.0) + lit(0.05), lit(1.0))
    val s4 = mid * mid * mid * mid
    val miss = lit(1.0) - s4
    val expected = lit(1.0) - miss * miss * miss * miss
    exact.join(lsh, Seq("id1", "id2"), "left_outer")
      .withColumn("j_bucket", floor(col("jaccard") * lit(10.0)).cast("long"))
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall",
        round(col("n_caught").cast("double") / col("n_pairs"), 6))
      .withColumn("expected_recall", round(expected, 6))
      .orderBy("j_bucket")
  }

  // Embeds the two gate-proven family oracles verbatim (the venn
  // discipline) so the calibration can never drift from them.
  private lazy val lshCalibrationSql =
    s"""WITH e AS (SELECT id1, id2, jaccard FROM ($ngramJaccardSql)),
      |l AS (SELECT id1, id2, 1 AS caught FROM ($minhashLshSql)),
      |b AS (SELECT CAST(FLOOR(jaccard * 10.0) AS BIGINT) AS j_bucket,
      |             CASE WHEN l.caught IS NOT NULL THEN 1 ELSE 0 END AS c
      |      FROM e LEFT JOIN l USING (id1, id2)),
      |g AS (SELECT j_bucket, COUNT(*) AS n_pairs,
      |             CAST(SUM(c) AS BIGINT) AS n_caught
      |      FROM b GROUP BY j_bucket),
      |m AS (SELECT *, LEAST(CAST(j_bucket AS DOUBLE) / 10.0 + 0.05, 1.0) AS mid
      |      FROM g)
      |SELECT j_bucket, n_pairs, n_caught,
      |  ROUND(CAST(n_caught AS DOUBLE) / n_pairs, 6) AS recall,
      |  ROUND(1.0 - (1.0 - mid*mid*mid*mid) * (1.0 - mid*mid*mid*mid)
      |            * (1.0 - mid*mid*mid*mid) * (1.0 - mid*mid*mid*mid), 6)
      |    AS expected_recall
      |FROM m ORDER BY j_bucket""".stripMargin

  // -------------------------------------------------- d_ngram_jaccard
  private val ngramJaccard: Q = (s, d) =>
    Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
        k = 3, maxDocFreq = 50, minJaccard = 0.1, cacheKey = Some(corpus(s, d)))
      .orderBy("id1", "id2")

  // --------------------------------------------- d_containment_dup
  // Near-containment: |A∩B| / min(|A|,|B|) catches a short doc
  // embedded in a long one, which Jaccard under-scores (the union is
  // dominated by the long doc). Emits which side is contained so the
  // dedup policy keeps the superset doc.
  private val containmentDup: Q = (s, d) =>
    Dedup.ngramContainment(Tables.documents(s, d), "doc_id", "text",
        k = 3, maxDocFreq = 50, minContainment = 0.5, cacheKey = Some(corpus(s, d)))
      .orderBy("id1", "id2")

  /** Distinct 3-shingle sets (`sh`, `sizes`) and the intersection
    * sizes (`inter`) of every pair sharing a shingle held by ≤ 50 docs:
    * the chain both n-gram overlap oracles score. */
  private val rareShingleCtes =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |starts AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks),
      |sh0 AS (SELECT doc_id,
      |         TRY_CAST('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15) AS BIGINT) AS shingle
      |        FROM starts),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
      |rare AS (SELECT sh.doc_id, sh.shingle FROM sh
      |         JOIN (SELECT shingle FROM sh GROUP BY shingle
      |               HAVING COUNT(DISTINCT doc_id) <= 50) f USING (shingle)),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
      |          FROM rare a JOIN rare b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id)""".stripMargin

  private val containmentDupSql =
    s"""$rareShingleCtes
      |SELECT id1, id2, n_inter,
      |  ROUND(CAST(n_inter AS DOUBLE) / LEAST(s1.set_size, s2.set_size), 6) AS containment,
      |  CASE WHEN s1.set_size <= s2.set_size THEN id1 ELSE id2 END AS contained_id
      |FROM inter
      | JOIN sizes s1 ON s1.doc_id = id1
      | JOIN sizes s2 ON s2.doc_id = id2
      |WHERE ROUND(CAST(n_inter AS DOUBLE) / LEAST(s1.set_size, s2.set_size), 6) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  private val ngramJaccardSql =
    s"""$rareShingleCtes
      |SELECT id1, id2, n_inter,
      |  ROUND(CAST(n_inter AS DOUBLE) / (s1.set_size + s2.set_size - n_inter), 6) AS jaccard
      |FROM inter
      | JOIN sizes s1 ON s1.doc_id = id1
      | JOIN sizes s2 ON s2.doc_id = id2
      |WHERE ROUND(CAST(n_inter AS DOUBLE) / (s1.set_size + s2.set_size - n_inter), 6) >= 0.1
      |ORDER BY id1, id2""".stripMargin

  // --------------------------------------------- d_embedding_neardup
  private val embNearDup: Q = (s, d) =>
    Similarity.cosineNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
        blockCol = "label", threshold = 0.35)
      .orderBy("id1", "id2")

  /** Exact within-label cosine pairs ≥ 0.35 over the vectors of
    * `src`, after the CTEs `prefix` (which end in a comma). */
  private def embNearDupOracle(prefix: String, src: String): String =
    s"""WITH ${prefix}flat AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
       |          unnest(generate_series(1, len(embedding))) AS i
       |         FROM $src),
       |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, SUM(a.x*b.x) AS dot
       |          FROM flat a JOIN flat b
       |            ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
       |          GROUP BY a.vec_id, b.vec_id),
       |$normsCte
       |SELECT id1, id2, ROUND(dot/(n1.nrm*n2.nrm), 6) AS cos_sim
       |FROM pairs JOIN norms n1 ON id1 = n1.vec_id JOIN norms n2 ON id2 = n2.vec_id
       |WHERE ROUND(dot/(n1.nrm*n2.nrm), 6) >= 0.35
       |ORDER BY id1, id2""".stripMargin

  private val embNearDupSql = embNearDupOracle("", "embeddings")

  // ------------------------------------------- d_embedding_neardup_s
  // The volume-bounded twin of d_embedding_neardup: exact cosine
  // pairs over a DETERMINISTIC content-hash slice of the corpus. The
  // full-corpus exact form is inherently O(n²/L) — the one plan shape
  // that cannot survive a 100× scale-up (454 s at 100×, ~12 h
  // extrapolated at 1000×) — so volume campaigns run THIS key as the
  // exact-pair yardstick instead. The slice modulus self-scales:
  // S = max(2, ceil(n/2000)), so the slice is ~2000 vectors at ANY N×
  // (pairs stay O(minutes) forever) and S=2 at sf0.01 means the gate
  // exercises the real slicing path, not a degenerate S=1. The slice
  // is the d_split_assign discipline (md5-derived, content-hash on
  // vec_id) so re-runs, re-shards, and the DuckDB oracle agree; the
  // oracle replays the SAME predicate independently, proving in-gate
  // that sampled == full-restricted-to-slice.
  private val embNearDupS: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val mod = math.max(2L, math.ceil(emb.count() / 2000.0).toLong)
    val sliced = emb.filter(
      Dedup.shingleHash(concat(lit("slice:"), col("vec_id").cast("string")))
        % mod === 0)
    Similarity.cosineNearDup(sliced, "vec_id", "embedding",
        blockCol = "label", threshold = 0.35)
      .orderBy("id1", "id2")
  }

  /** The slice CTE both d_embedding_neardup_s oracles share: the
    * self-scaling modulus, then the same md5 predicate the Spark side
    * applies. */
  private val embSliceCte =
    """nn AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS s
      |       FROM embeddings),
      |sel AS (SELECT vec_id, label, embedding FROM embeddings, nn
      |        WHERE TRY_CAST('0x' || substr(md5('slice:' || vec_id), 1, 15) AS BIGINT)
      |              % s = 0)""".stripMargin

  private val embNearDupSSql = embNearDupOracle(s"$embSliceCte,\n", "sel")

  /** List-native ALT twin (see the embListCtes note) — same slice, same
    * arithmetic, no 64×-wide flat join at N×. */
  private val embNearDupSAltSql = embNearDupAltOracle(s"$embSliceCte,\n", "sel")

  // ----------------------------------------------------- d_semdedup
  // SemDeDup over LSH sign-bit blocks: label-free embedding dedup.
  // The 6 deterministic planes (seed 42, same LCG as s_lsh_topk) are
  // interpolated into the oracle, which replays bucket assignment,
  // within-bucket cosine, and the keep-the-lowest policy exactly.
  private val semDedup: Q = (s, d) =>
    Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        numPlanes = 6, dim = 64, minCos = 0.35)
      .orderBy("id1", "id2")

  /** semanticDedup's sign-bit bucket of each vector over `flat`: the
    * 6 seed-42 LCG planes as literals, projections, bucket bits. */
  private val semBucketCtes = {
    val planeCte = Similarity.hyperplanes(6, 64).zipWithIndex.map {
      case (p, j) =>
        s"SELECT $j AS j, unnest([${p.mkString(",")}]) AS p, " +
          "unnest(generate_series(1, 64)) AS i"
    }.mkString("\nUNION ALL ")
    s"""planes AS ($planeCte),
       |proj AS (SELECT f.vec_id, pl.j, SUM(f.x * pl.p) AS pr
       |         FROM flat f JOIN planes pl ON f.i = pl.i
       |         GROUP BY f.vec_id, pl.j),
       |buckets AS (SELECT vec_id,
       |              CAST(SUM(CASE WHEN pr > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
       |            FROM proj GROUP BY vec_id)""".stripMargin
  }

  /** Shared CTE chain replaying semanticDedup's bucket assignment +
    * within-bucket cosine pairs; consumed by d_semdedup and the
    * d_sem_clusters closure (WITH RECURSIVE is inert when the walk
    * CTE is absent). */
  private val semDedupCtes =
    s"""WITH RECURSIVE $flatCte,
       |$semBucketCtes,
       |$normsCte,
       |cand AS (SELECT ba.bucket, ba.vec_id AS id1, bb.vec_id AS id2
       |         FROM buckets ba JOIN buckets bb
       |           ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id),
       |dots AS (SELECT c.bucket, c.id1, c.id2, SUM(a.x * b.x) AS dot
       |         FROM cand c JOIN flat a ON a.vec_id = c.id1
       |                     JOIN flat b ON b.vec_id = c.id2 AND b.i = a.i
       |         GROUP BY c.bucket, c.id1, c.id2),
       |sempairs AS (SELECT d.bucket, d.id1, d.id2,
       |    ROUND(d.dot / (n1.nrm * n2.nrm), 6) AS cos_sim
       |  FROM dots d JOIN norms n1 ON d.id1 = n1.vec_id
       |              JOIN norms n2 ON d.id2 = n2.vec_id
       |  WHERE ROUND(d.dot / (n1.nrm * n2.nrm), 6) >= 0.35)""".stripMargin

  private val semDedupSql =
    s"""$semDedupCtes
       |SELECT bucket, id1, id2, cos_sim, id2 AS drop_id FROM sempairs
       |ORDER BY id1, id2""".stripMargin

  // ---------------------------------------------------- d_sem_clusters
  // Transitive closure over the SEMANTIC pair graph — clusterPairs is
  // edge-source-agnostic, so the same verified min-label machinery
  // that closes minhash chains closes embedding chains (a~b~c where
  // (a,c) never shared a bucket still dedups to one exemplar).
  // Oracle: the semdedup CTEs + the same recursive walk closure used
  // by d_dup_clusters.
  private val semClusters: Q = (s, d) =>
    Dedup.clusterPairs(
      Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        numPlanes = 6, dim = 64, minCos = 0.35))
      .orderBy("id")

  private val semClustersSql =
    s"""$semDedupCtes,
       |${walkCtes("sempairs")}
       |SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin

  // ------------------------------------------- volume ALT oracles
  // Array-native DuckDB rewrites of the embedding-pair oracles, used
  // ONLY by the dev-side N×-volume campaign (tools/check.py --alts).
  // Semantically identical to the canonicals — same CAST-to-double,
  // same 6-dp rounding, same literals and tie policy — but each
  // vector stays ONE list value (list_inner_product) instead of
  // exploding into 64 (i, x) rows, so the pair stage streams ~4M
  // pairs/s instead of materializing a 64×-wider flat-join
  // intermediate (128B rows for d_embedding_neardup at the 100×
  // corpus). The driver gate at sf0.01 keeps the canonical oracles;
  // check.py --alts at the 1× dir validates ALT == canonical output
  // against the same Spark dump before any N× run trusts them.
  // embListCtes opens a WITH on the list-native vectors (`v`) and
  // norms (`n`) of `src`, after the CTEs `prefix`.
  private def embListCtes(prefix: String, src: String): String =
    s"""WITH ${prefix}v AS (SELECT vec_id, label,
       |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |          FROM $src),
       |n AS (SELECT vec_id, label, e,
       |        sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)""".stripMargin

  /** List-native twin of [[embNearDupOracle]]. */
  private def embNearDupAltOracle(prefix: String, src: String): String =
    s"""${embListCtes(prefix, src)}
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  ROUND(list_inner_product(a.e, b.e)/(a.nrm*b.nrm), 6) AS cos_sim
       |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ROUND(list_inner_product(a.e, b.e)/(a.nrm*b.nrm), 6) >= 0.35
       |ORDER BY id1, id2""".stripMargin

  private val embNearDupAltSql = embNearDupAltOracle("", "embeddings")

  /** ALT twin of semDedupCtes: identical bucket assignment (sign of
    * the plane projection, same LCG plane literals) and identical
    * within-bucket cosine, list-native. */
  private val semAltCtes = {
    val planeRows = Similarity.hyperplanes(6, 64).zipWithIndex.map {
      case (p, j) => s"($j, [${p.mkString(",")}])"
    }.mkString(",\n       |    ").stripMargin
    s"""${embListCtes("", "embeddings")},
       |planes AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(j, pl)),
       |buckets AS (SELECT n.vec_id,
       |    CAST(SUM(CASE WHEN list_inner_product(n.e, p.pl) > 0
       |             THEN 1 << p.j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n CROSS JOIN planes p GROUP BY n.vec_id),
       |w AS (SELECT n.vec_id, n.e, n.nrm, b.bucket
       |      FROM n JOIN buckets b USING (vec_id)),
       |sempairs AS (SELECT a.bucket, a.vec_id AS id1, b.vec_id AS id2,
       |    ROUND(list_inner_product(a.e, b.e)/(a.nrm*b.nrm), 6) AS cos_sim
       |  FROM w a JOIN w b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ROUND(list_inner_product(a.e, b.e)/(a.nrm*b.nrm), 6) >= 0.35)""".stripMargin
  }

  private val semDedupAltSql =
    s"""$semAltCtes
       |SELECT bucket, id1, id2, cos_sim, id2 AS drop_id FROM sempairs
       |ORDER BY id1, id2""".stripMargin

  private val knnDegreeAltSql =
    s"""$semAltCtes,
       |ends AS (SELECT id1 AS id FROM sempairs
       |         UNION ALL SELECT id2 FROM sempairs),
       |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
       |        FROM ends GROUP BY id)
       |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** Volume-tractable ALT oracles (see the embListCtes note). Keyed
    * like [[oracle]]; consumers overlay these over the canonical map
    * only for N×-volume dev runs — the driver gate never sees them.
    * d_sem_clusters needs no entry: check.py's CLOSURE replay
    * union-finds over the d_semdedup pair oracle, which the overlay
    * already swaps. */
  def oracleAlt: Map[String, String] = Map(
    "d_embedding_neardup" -> embNearDupAltSql,
    "d_embedding_neardup_s" -> embNearDupSAltSql,
    "d_semdedup" -> semDedupAltSql,
    "s_knn_degree" -> knnDegreeAltSql,
    "d_substr_long" -> substrLongAltSql,
    "d_simhash" -> simhashAltSql,
    "d_simhash_neardup" -> simhashNeardupAltSql) ++
    // the reindexed-search ALT interpolates the SAME stored
    // re-trained centroids + residual books as the generic replay
    // (stored when the query ran — Verify dumps oracles after
    // queries), list-native so the ⌈√n⌉-cell assignment fits the
    // oracle budget at any campaign decade
    ((reindexCents, residualBooks) match {
      case (Some(rc), Some(b)) =>
        Map("s_reindex_topk" -> ivfPqTopKAltSql(rc, b))
      case _ =>
        suppressedAlt("s_reindex_topk", "the generic replay",
          AnnReindex -> "reindex trainings", IvfPqResidual -> "residual books")
    }) ++
    // val-bucket-first replay of the quality-composite validation:
    // same interpolated fit, documents scan pre-filtered to vb=0
    // (see classifierValQSql's src note) — the generic replay's
    // exploded token join over ALL docs drove a DuckDB temp spill
    // past the disk at 100× under campaign load
    ((SessionStore.only[graft.operators.Classifier.Fit](ClassifierValQFit),
        SessionStore.only[Long](ClassifierValQCut)) match {
      case (Some(f), Some(c)) =>
        Map("t_classifier_val_q" -> classifierValQSql(f, c,
          "(SELECT * FROM documents WHERE TRY_CAST('0x' || " +
          "substr(md5('cvsplit:' || text), 1, 15) AS BIGINT) % 5 = 0)"))
      case _ =>
        suppressedAlt("t_classifier_val_q", "the generic all-docs replay",
          ClassifierValQFit -> "fits", ClassifierValQCut -> "cuts")
    })

  /** r18 advice: a silently-suppressed ALT sends the N× sweep to the
    * generic oracle that is KNOWN to exceed budget at volume — name
    * the suppression so the resulting TIMEOUT/ERROR reads back to its
    * cause. r19 advice: warn on ANY stored artifact that misses the
    * 1:1 pattern (an asymmetric store — 1 fit / 0 cuts — suppressed
    * silently before), printing every count. */
  private def suppressedAlt(key: String, fallback: String,
                            needs: (String, String)*): Map[String, String] = {
    val counts = needs.map { case (name, what) => SessionStore.count(name) -> what }
    if (counts.exists(_._1 > 0))
      System.err.println(s"[oracleAlt] $key ALT SUPPRESSED: ambiguous store (" +
        counts.map { case (n, what) => s"$n $what" }.mkString(", ") +
        s" in this JVM) — the sweep will fall back to $fallback")
    Map.empty[String, String]
  }

  // ------------------------------------------------------ s_knn_degree
  // Degree profile of the semantic k-NN graph — the structure every
  // embedding-dedup / clustering pipeline builds first; its histogram
  // (how many nodes have how many ≥-threshold neighbors) is the knob
  // that picks the dedup threshold and predicts cluster blow-up.
  // Rides the same sign-bit-blocked pair generation as d_semdedup (no
  // all-pairs path); the profile itself is two id-only partial aggs.
  private val knnDegree: Q = (s, d) => {
    val pairs = Similarity.semanticDedup(Tables.embeddings(s, d),
      "vec_id", "embedding", numPlanes = 6, dim = 64, minCos = 0.35)
    val deg = pairs.select(col("id1").as("id"))
      .unionAll(pairs.select(col("id2").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  private val knnDegreeSql =
    s"""$semDedupCtes,
       |ends AS (SELECT id1 AS id FROM sempairs
       |         UNION ALL SELECT id2 FROM sempairs),
       |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
       |        FROM ends GROUP BY id)
       |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // ---------------------------------------------------- s_cosine_topk
  private val cosineTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 3)
      .orderBy("qid", "rnk")
  }

  private val cosineTopKSql =
    s"""WITH $flatCte,
      |$normsCte,
      |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x*c.x) AS dot
      |         FROM flat q JOIN flat c ON q.i = c.i AND q.vec_id <> c.vec_id
      |         WHERE q.vec_id < 10
      |         GROUP BY q.vec_id, c.vec_id),
      |scored AS (SELECT qid, cid, ROUND(dot/(nq.nrm*nc.nrm), 6) AS cos_sim
      |           FROM dots JOIN norms nq ON qid = nq.vec_id
      |                     JOIN norms nc ON cid = nc.vec_id),
      |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |            ORDER BY cos_sim DESC, cid) AS rnk FROM scored)
      |SELECT qid, cid, cos_sim, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ------------------------------------------------------- s_lsh_topk
  // Approximate by construction, but fully DETERMINISTIC: the ±1
  // hyperplanes are LCG literals, so the oracle recomputes the exact
  // sign-bit buckets + in-bucket rerank in SQL (planes interpolated
  // below, like the minhash coefficients).
  private val lshTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 3, numPlanes = 4, dim = 64)
      .orderBy("qid", "rnk")
  }

  /** Similarity.lshTopK's sign-bit buckets of each vector over
    * `flat`: 4 tables of 4 LCG planes (seeds 42..45) as literals,
    * projections, per-table bucket bits. */
  private val lshBucketCtes = {
    val planeCtes = (for {
      t <- 0 until 4
      (p, j) <- Similarity.hyperplanes(4, 64, 42L + t).zipWithIndex
    } yield s"SELECT $t AS t, $j AS j, unnest([${p.mkString(",")}]) AS p, " +
      "unnest(generate_series(1, 64)) AS i").mkString("\nUNION ALL ")
    s"""planes AS ($planeCtes),
       |proj AS (SELECT f.vec_id, pl.t, pl.j, SUM(f.x * pl.p) AS pr
       |         FROM flat f JOIN planes pl ON f.i = pl.i
       |         GROUP BY f.vec_id, pl.t, pl.j),
       |buckets AS (SELECT vec_id, t,
       |              SUM(CASE WHEN pr > 0 THEN 1 << j ELSE 0 END) AS bucket
       |            FROM proj GROUP BY vec_id, t)""".stripMargin
  }

  /** Every query's candidates: the vectors sharing a bucket in any table. */
  private val lshCandCte =
    """cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id AS cid
      |         FROM buckets bq JOIN buckets bc
      |           ON bq.t = bc.t AND bq.bucket = bc.bucket
      |         WHERE bq.vec_id < 10 AND bq.vec_id <> bc.vec_id)""".stripMargin

  private val lshTopKSql =
    s"""WITH $flatCte,
       |$lshBucketCtes,
       |$normsCte,
       |$lshCandCte,
       |dots AS (SELECT c.qid, c.cid, SUM(q.x * t.x) AS dot
       |         FROM cand c JOIN flat q ON q.vec_id = c.qid
       |                     JOIN flat t ON t.vec_id = c.cid AND t.i = q.i
       |         GROUP BY c.qid, c.cid),
       |scored AS (SELECT qid, cid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
       |           FROM dots JOIN norms nq ON qid = nq.vec_id
       |                     JOIN norms nc ON cid = nc.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY cos_sim DESC, cid) AS rnk FROM scored)
       |SELECT qid, cid, cos_sim, rnk FROM ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  // ------------------------------------------------------ s_lsh_recall
  // ANN quality as a GATE metric: recall@3 of the multi-table LSH
  // against the exact brute-force top-3, per query. Both sides are
  // deterministic (LCG planes; cos desc, cid tiebreak), so the oracle
  // recomputes approx AND exact rankings in SQL and the recall column
  // is hash-checked — the accuracy claim lives in the driver gate,
  // not just a spec floor (same discipline as the q30/q32 sketch
  // verdicts).
  private val lshRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    recallAt3(exactTop3(s, d), Similarity.lshTopK(emb.filter(col("vec_id") < 10),
      emb, "vec_id", "embedding", k = 3, numPlanes = 4, dim = 64))
  }

  /** Per-query recall@3 of an approximate top-3 (`approx`) against
    * the exact one (`exact`), both keyed (qid, cid): hits over the
    * query's count of exact neighbours, not the literal k — a query
    * with < k exact neighbours (tiny corpus, filtered candidates) must
    * not have its recall understated, and a query with no hit reads
    * 0 through the left join. Every recall gate's one evaluator. */
  private[graft] def recallAt3(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("cid"))
    val hits = e.join(approx.select(col("qid"), col("cid")), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    e.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact").cast("double"), 6).as("recall_at_3"))
      .orderBy("qid")
  }

  /** The oracle's exact top-3 per query over `flat` and `norms`:
    * `exact_dots` (candidates narrowed by `candFilter`) →
    * `exact_ranked` → `exact_top`, aliased `e` when `aliased`. */
  private def exactTopCtes(aliased: Boolean, candFilter: String = ""): String = {
    val top = if (aliased) "SELECT e.qid, e.cid FROM exact_ranked e WHERE e.rnk <= 3"
      else "SELECT qid, cid FROM exact_ranked WHERE rnk <= 3"
    s"""exact_dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
       |               FROM flat q JOIN flat c ON c.i = q.i AND c.vec_id <> q.vec_id
       |               WHERE q.vec_id < 10$candFilter GROUP BY q.vec_id, c.vec_id),
       |exact_ranked AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |                  ORDER BY ROUND(dot/(nq.nrm*nc.nrm), 6) DESC, cid) AS rnk
       |                 FROM exact_dots JOIN norms nq ON qid = nq.vec_id
       |                                 JOIN norms nc ON cid = nc.vec_id),
       |exact_top AS ($top)""".stripMargin
  }

  /** The recall oracles' tail: the approximate top-3 `atop` (the
    * select `atop`), its hits in `exact_top`, and recall@3 over each
    * query's exact count — the [[recallAt3]] contract. */
  private def recallTailSql(atop: String): String =
    s"""atop AS ($atop),
       |hits AS (SELECT e.qid, COUNT(*) AS n_hits
       |         FROM exact_top e JOIN atop a ON e.qid = a.qid AND e.cid = a.cid
       |         GROUP BY e.qid)
       |SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
       | ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |       / CAST(q.n_exact AS DOUBLE), 6) AS recall_at_3
       |FROM (SELECT qid, COUNT(*) AS n_exact FROM exact_top GROUP BY qid) q
       |LEFT JOIN hits h USING (qid)
       |ORDER BY q.qid""".stripMargin

  /** Recall replay of an index that reranks its candidates exactly:
    * `flat`, `norms`, the exact top-3, the index's CTEs `candCtes`
    * (ending in `cand`), the rerank on `score`, the recall tail. */
  private def rerankRecallSql(candCtes: String, score: String): String =
    s"""WITH $flatCte,
       |$normsCte,
       |${exactTopCtes(aliased = false)},
       |$candCtes,
       |adots AS (SELECT c.qid, c.cid, SUM(q.x * t.x) AS dot
       |          FROM cand c JOIN flat q ON q.vec_id = c.qid
       |                      JOIN flat t ON t.vec_id = c.cid AND t.i = q.i
       |          GROUP BY c.qid, c.cid),
       |aranked AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY $score DESC, cid) AS rnk
       |            FROM adots JOIN norms nq ON qid = nq.vec_id
       |                       JOIN norms nc ON cid = nc.vec_id),
       |${recallTailSql("SELECT qid, cid FROM aranked WHERE rnk <= 3")}""".stripMargin

  /** Recall replay of an index whose CTEs `ctes` end in the ranked
    * `ranked` over `flat` and `norms`; `candFilter` narrows the exact
    * side's candidates as the index's own. */
  private def rankedRecallSql(ctes: String, ranked: String,
                              candFilter: String = ""): String =
    s"""WITH $ctes,
       |${exactTopCtes(aliased = true, candFilter)},
       |${recallTailSql(s"SELECT p.qid, p.cid FROM $ranked p WHERE p.rnk <= 3")}""".stripMargin

  private val lshRecallSql =
    rerankRecallSql(s"$lshBucketCtes,\n$lshCandCte", "ROUND(dot/(nq.nrm*nc.nrm), 6)")

  // -------------------------------------------------------- s_ivf_topk
  // Real IVF: k-means coarse quantizer (deterministic Lloyd, trained
  // on a hash sample) → probe 3 cells → exact rerank within them.
  // Approximate by construction but fully DETERMINISTIC, so the
  // oracle replays it exactly: the trained centroids are interpolated
  // into the SQL as literals (same discipline as s_lsh_topk's planes
  // — train once, embed k·dim doubles), the assignment argmin, the
  // empirical cell means, the probe ranking and the in-cell rerank
  // are all recomputed by DuckDB. Every cross-engine ranking score —
  // assignment argmin, probe score, cosine rerank — is rounded to 6
  // digits with an index tiebreak on BOTH sides, so differing
  // double-accumulation orders (Spark partial aggs vs DuckDB group
  // aggs) cannot flip a near-tie. The centroids the cell assignment
  // memoizes in the SessionStore are what `oracle` reads — stored
  // when the query builds (Verify runs queries before dumping
  // oracle_sql.json), keyed per (session, sfDir) so one JVM serving
  // several datasets never interpolates the wrong training run.
  private val IvfCents =
    Similarity.centroidsName("vec_id", "embedding", k = 8, iters = 4, trainMod = 4)

  private val ivfTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4, cacheKey = Some(corpus(s, d)))
    val quantized = emb.join(cells, "vec_id")
    Similarity.ivfTopK(quantized.filter(col("vec_id") < 10), quantized,
        "vec_id", "embedding", cellCol = "cell", k = 3, nprobe = 3)
      .orderBy("qid", "rnk")
  }

  // -------------------------------------------------- s_ivf_recall
  // ANN quality of the IVF index as a GATE metric (the s_lsh_recall
  // discipline applied to the second index type): recall@3 of the
  // 3-probe IVF against the exact brute-force top-3, per query. Both
  // rankings are deterministic, and the trained centroids interpolate
  // into the oracle, so the recall COLUMN is hash-checked — the
  // accuracy claim lives in the driver gate, not just a spec floor.
  private val ivfRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4, cacheKey = Some(corpus(s, d)))
    val quantized = emb.join(cells, "vec_id")
    recallAt3(exactTop3(s, d), Similarity.ivfTopK(quantized.filter(col("vec_id") < 10),
      quantized, "vec_id", "embedding", cellCol = "cell", k = 3, nprobe = 3))
  }

  /** IVF recall replay: [[rerankRecallSql]] over the probed cells of
    * [[ivfProbeCtes]], the centroid-literal replay [[ivfTopKSql]]
    * ranks. */
  private def ivfRecallSql(cents: Array[Array[Double]]): String =
    rerankRecallSql(s"""${ivfProbeCtes(cents)},
       |cand AS (SELECT p.qid, a.vec_id AS cid
       |         FROM probes p JOIN assign a USING (cell)
       |         WHERE a.vec_id <> p.qid)""".stripMargin,
      "ROUND(dot / (nq.nrm * nc.nrm), 6)")

  /** The IVF replay's cells over `flat`, centroids as literals:
    * assignment by squared-L2 argmin (lower-cell tiebreak), empirical
    * cell means, each query's 3 probed cells (`probes`). */
  private def ivfProbeCtes(cents: Array[Array[Double]]): String = {
    // %.17e round-trips doubles exactly and forces DuckDB to parse
    // the literals as DOUBLE (not DECIMAL)
    val centCtes = cents.zipWithIndex.map { case (c, j) =>
      s"SELECT $j AS cell, unnest([${c.map(x => f"$x%.17e").mkString(",")}]) AS c, " +
        s"unnest(generate_series(1, ${c.length})) AS i"
    }.mkString("\nUNION ALL ")
    s"""cents AS ($centCtes),
       |csq AS (SELECT cell, SUM(c*c) AS c2 FROM cents GROUP BY cell),
       |cdots AS (SELECT f.vec_id, ct.cell, SUM(f.x * ct.c) AS dc
       |          FROM flat f JOIN cents ct ON f.i = ct.i
       |          GROUP BY f.vec_id, ct.cell),
       |assign AS (SELECT vec_id, cell FROM (
       |            SELECT d.vec_id, d.cell,
       |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |                ORDER BY ROUND(cq.c2 - 2*d.dc, 6) ASC, d.cell ASC) AS r
       |            FROM cdots d JOIN csq cq USING (cell)) WHERE r = 1),
       |emp AS (SELECT a.cell, f.i, SUM(f.x) / COUNT(*) AS m
       |        FROM assign a JOIN flat f USING (vec_id) GROUP BY a.cell, f.i),
       |pscore AS (SELECT f.vec_id AS qid, e.cell, SUM(f.x * e.m) AS cscore
       |           FROM flat f JOIN emp e ON f.i = e.i
       |           WHERE f.vec_id < 10 GROUP BY f.vec_id, e.cell),
       |probes AS (SELECT qid, cell FROM (SELECT qid, cell,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY ROUND(cscore, 6) DESC, cell ASC) AS prnk
       |           FROM pscore) WHERE prnk <= 3)""".stripMargin
  }

  /** The full IVF replay in SQL, centroids as literals: assignment by
    * squared-L2 argmin (lower-cell tiebreak), empirical cell means,
    * probe ranking (top-3 cells by unrounded centroid dot), in-cell
    * exact rerank on the 6-digit-rounded cosine — mirroring
    * Similarity.ivfTopK stage by stage. */
  private def ivfTopKSql(cents: Array[Array[Double]]): String =
    s"""WITH $flatCte,
       |${ivfProbeCtes(cents)},
       |$normsCte,
       |cand AS (SELECT p.qid, a.vec_id AS cid
       |         FROM probes p JOIN assign a USING (cell)
       |         WHERE a.vec_id <> p.qid),
       |dots AS (SELECT c.qid, c.cid, SUM(q.x * t.x) AS dot
       |         FROM cand c JOIN flat q ON q.vec_id = c.qid
       |                     JOIN flat t ON t.vec_id = c.cid AND t.i = q.i
       |         GROUP BY c.qid, c.cid),
       |ranked AS (SELECT qid, cid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos_sim,
       |            ROW_NUMBER() OVER (PARTITION BY qid
       |              ORDER BY ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rnk
       |           FROM dots JOIN norms nq ON qid = nq.vec_id
       |                     JOIN norms nc ON cid = nc.vec_id)
       |SELECT qid, cid, cos_sim, rnk FROM ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  // ----------------------------------------------------- s_pq_topk
  // Product quantization (Jégou et al. TPAMI'11) — the COMPRESSED-
  // domain ANN path: 4 subspaces × 8 sub-centroids turn a 64-dim
  // float vector into 4 bytes of codes (64× smaller); scoring is m
  // LUT lookups per candidate instead of a dim-length dot, and only
  // the 64-deep ADC shortlist touches float vectors for the exact
  // rerank — at 100 TB the candidate stream carries codes only and
  // the exact store serves |Q|·64 fetches. Deterministic end-to-end
  // (same Lloyd trainer + rounding/tiebreak discipline as IVF), so
  // the trained codebooks interpolate into the oracle and DuckDB
  // replays assignment, LUT, shortlist and rerank exactly.
  private val PqBooks = "pqBooks|embedding|m4|ks8|iters4|mod4"

  private def trainPq(s: SparkSession, d: String): Books =
    stored(s, d, PqBooks)(Similarity.pqCodebooks(Tables.embeddings(s, d),
      "vec_id", "embedding", m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4))

  // The composed-index family trains a SECOND codebook set on coarse
  // RESIDUALS (x − q1(x), Jégou'11 §IV) — stored under its own name so
  // the raw-PQ oracles (s_pq_*, d_pq_semdedup) and the residual-IVFADC
  // oracles each interpolate their own training.
  private val IvfPqResidual = "ivfPqResidual|embedding|cells8|m4|ks8|iters4|mod4"

  /** Train (or fetch) the composed index's artifacts: the 8-cell
    * Lloyd coarse quantizer (the IVF family's memoized centroids) plus
    * residual PQ codebooks trained against it. */
  private def trainIvfPqResidual(s: SparkSession, d: String): (Array[Array[Double]], Books) =
    stored(s, d, IvfPqResidual) {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 4, trainMod = 4, cacheKey = Some(corpus(s, d)))
      (cents, Similarity.pqResidualCodebooks(emb, "vec_id", "embedding",
        cents, m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4))
    }

  // The exact |Q|=10 brute-force top-3 is the shared ground truth of
  // every recall gate (s_lsh/ivf/pq/ivfpq_recall) AND the tuning
  // curve — memoized per (session, corpus) so the five consumers pay
  // the full corpus scan once (the signature-store pattern; Bench
  // times the build as _store_exacttopk so each reports marginal
  // cost). The stored frame is checkpointed; the store claims its
  // blocks so SessionStore.clear releases them.
  private def exactTop3(s: SparkSession, d: String): DataFrame =
    SessionStore.memoFrame(Some(corpus(s, d) / "exacttop3")) {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 3)
    }

  private val pqTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", trainPq(s, d), k = 3, shortlist = 64)
      .orderBy("qid", "rnk")
  }

  // ---------------------------------------------------- s_pq_recall
  // recall@3 of the compressed-domain ranking vs the exact top-3 —
  // the PQ accuracy claim lives in the driver gate (the s_ivf_recall
  // discipline), quantifying what 64× compression costs.
  private val pqRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    recallAt3(exactTop3(s, d), Similarity.pqTopK(emb.filter(col("vec_id") < 10),
      emb, "vec_id", "embedding", trainPq(s, d), k = 3, shortlist = 64))
  }

  // ------------------------------------------------- d_pq_semdedup
  // Compressed-domain semantic dedup — SemDeDup pushed into the PQ
  // index: vectors whose codes agree in ALL m subspaces quantize to
  // the same reconstruction (symmetric code-to-code ADC distance 0),
  // so an occupied multi-member cell IS a semantic near-dup cluster
  // at codebook resolution. Keep-the-lowest exemplar per cell (the
  // exact-dedup keeper policy). The 100-TB point vs d_semdedup: the
  // pair generation there joins full float vectors within LSH
  // blocks; here the corpus side carries m-byte codes only — one
  // partial agg on the cell key + one equi-join, floats never
  // shuffle, and the cell table doubles as the coarse layer the ADC
  // shortlist prunes with.
  private val pqSemDedup: Q = (s, d) => {
    val books = trainPq(s, d)
    val codes = Similarity.pqCodes(Tables.embeddings(s, d), "vec_id",
      "embedding", books)
    val cell = books.indices.map(i => s"code_$i")
    val keep = codes.groupBy(cell.map(col): _*)
      .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n_members"))
    codes.join(keep, cell)
      .filter(col("vec_id") =!= col("keep_id"))
      .select(cell.map(col) ++ Seq(col("n_members"), col("keep_id"),
        col("vec_id").as("drop_id")): _*)
      .orderBy((cell :+ "drop_id").map(col): _*)
  }

  private def pqSemDedupSql(books: Array[Array[Array[Double]]]): String = {
    // column lists derive from books.indices, mirroring the Scala
    // side's genericity over m — changing trainPq's m cannot desync
    val cols = books.indices.map(i => s"code_$i")
    val pivot = books.indices.map(i =>
      s"  CAST(MAX(CASE WHEN m = $i THEN code END) AS BIGINT) AS code_$i").mkString(",\n")
    val colList = cols.mkString(", ")
    val cColList = cols.map(c => s"c.$c").mkString(", ")
    val groupNums = books.indices.map(i => (i + 1).toString).mkString(", ")
    s"""WITH ${pqAssignCtes(books)},
       |cells AS (SELECT vec_id,
       |$pivot
       | FROM assign GROUP BY vec_id),
       |keep AS (SELECT $colList,
       |  MIN(vec_id) AS keep_id, COUNT(*) AS n_members
       | FROM cells GROUP BY $groupNums)
       |SELECT $cColList, k.n_members,
       | k.keep_id, c.vec_id AS drop_id
       |FROM cells c JOIN keep k USING ($colList)
       |WHERE c.vec_id <> k.keep_id
       |ORDER BY $cColList, drop_id""".stripMargin
  }

  // ------------------------------------------------- s_ivfpq_topk
  // IVFADC (Jégou'11 §IV) — the COMPOSED index, RESIDUAL-encoded:
  // the IVF coarse quantizer prunes each query to its nprobe nearest
  // trained cells before a single code is scored, and the PQ codes
  // quantize the RESIDUAL x − q1(x) (not the raw vector), so the
  // same m bytes carry far finer resolution — recall at the default
  // operating point beats the un-pruned raw-PQ baseline instead of
  // being capped by it. ADC + sharded shortlist + exact rerank run
  // on the probed members only. The 100-TB shape: cell-bucketed
  // codes tables let the probe join prune partitions at the scan;
  // everything downstream of the probe carries m-byte codes. Both
  // trainings (Lloyd cells, residual PQ codebooks) ride the memoized
  // session stores; both interpolate into the oracle as literals
  // (residual assignment via the residualOffsets identity — see
  // Similarity.scala), so the full composition hash-replays.
  private val ivfPqTopKQ: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (cents, books) = trainIvfPqResidual(s, d)
    Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", cents, books, k = 3,
        nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist)
      .orderBy("qid", "rnk")
  }

  // ----------------------------------------------- s_ivfpq_recall
  // recall@3 of the composed IVF+PQ ranking vs exact brute force —
  // the s_ivf_recall/s_pq_recall discipline on the composed index:
  // what nprobe-of-8 pruning PLUS 64× compression together cost.
  private val ivfPqRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (cents, books) = trainIvfPqResidual(s, d)
    recallAt3(exactTop3(s, d), Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 10),
      emb, "vec_id", "embedding", cents, books, k = 3,
      nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist))
  }

  // ----------------------------------------------- s_ivfpq_tuning
  // The IVFADC operating-point table (the d_lsh_calibration
  // discipline applied to the composed index): recall@3 for every
  // (nprobe ∈ 1..8, shortlist ∈ {16,32,64}) — the table a deployment
  // reads to pick the probe budget, instead of trusting one
  // floor-less point estimate. The ADC stream is scored ONCE at
  // maxProbe=8 with each candidate's probe rank carried; the 24-row
  // grid then reuses it by filtering pr ≤ nprobe (re-scoring per
  // config would rerun the stream 24×). The chosen default
  // (IvfPqDefaults) carries an in-query floor verdict — the oracle
  // emits literal TRUE, so the hash only matches while the default's
  // recall holds the floor (the q30/q32 sketch-verdict discipline).
  // Calibration runs on the |Q|=10 sampled query set; at 100 TB this
  // stays a sample-sized job while the search path keeps its pruned
  // single-config plan.
  /** The operating point the tuning curve picks: at shortlist=64,
    * probing 4 of 8 cells now BEATS the un-pruned raw-PQ baseline —
    * 0.667 vs 0.533 at gate scale — because the codes are
    * RESIDUAL-encoded (Jégou'11 §IV): the same m bytes quantize
    * x − q1(x), whose variance the coarse quantizer has already
    * shrunk, so IVF contributes accuracy, not just pruning (raw-
    * vector codes capped composed recall at exactly the un-pruned
    * baseline — the r12 gap this closed; at the sf0.001 draw the
    * same margin reads 0.400 vs 0.333). The floor is 0.35, NOT the
    * measured 0.667: ANN recall has no distribution-free bound
    * (unlike the q30/q32 sketches), and a fresh draw of the
    * synthetic corpus moves the default's recall (0.667 at the
    * sf0.01 draw, 0.400 at sf0.001's; the residual gain ≈ +0.07 to
    * +0.13 is structural) — the floor separates a working index
    * (≥ 0.4 on every in-regime draw seen) from a collapsed one
    * (~0.05-0.1) while surviving re-generation; the sharper
    * "residual beats raw PQ" claim is pinned comparatively in
    * SaltingAndIvfSpec, where both pipelines run side by side.
    *
    * The floor is a RATED-REGIME claim: a fixed 8-cell coarse
    * quantizer is only rated for corpora whose mean cell occupancy
    * sits in [minOccupancy, maxOccupancy] — underfilled cells make
    * the probe prune dominate recall (a 50-vector corpus), overfilled
    * cells mean the index should have been re-trained with more cells
    * (ncells ≈ √n, the standard IVF sizing rule — the 10× replica
    * corpus at 625/cell collapses the whole curve to ~0.1, which is
    * the INDEX being out of regime, not the operator being wrong).
    * In-regime the default row's verdict compares recall to the
    * floor; out-of-regime the verdict is vacuously true and the
    * actionable signal is the occupancy itself. */
  private[queries] object IvfPqDefaults {
    val nprobe = 4
    val shortlist = 64
    val recallFloor = 0.35
    val nCells = 8
    val minOccupancy = 16.0
    val maxOccupancy = 128.0
  }

  private val ivfPqTuning: Q = (s, d) => {
    // the measurement itself is LIBRARY code (AnnIndex.measureTuning —
    // scored once at maxProbe=8 with probe rank carried, grid reuses
    // by pr ≤ nprobe, exact rerank per config, recall vs the memoized
    // brute-force ground truth), run against the PERSISTED artifact
    // s_ivfpq_indexed serves from — the gate pins that the production
    // measure-the-curve path reproduces the engine-independent replay.
    // At 100× this also drops the corpus-wide residual re-code the
    // old in-session formulation paid: codes come from the bucketed
    // table. The gate adds what only it knows: the occupancy-gated
    // floor verdict on the default operating point.
    val emb = Tables.embeddings(s, d)
    val dir = annIndexDir(s, d)
    val tuning = graft.operators.AnnIndex.measureTuning(
      emb.filter(col("vec_id") < 10), emb, "embedding", dir,
      annTable(s, d),
      exactTop = Some(exactTop3(s, d).select(col("qid"), col("cid"))))
    val occ = emb.agg((count(lit(1)).cast("double")
      / lit(IvfPqDefaults.nCells.toDouble)).as("occupancy"))
    val inRegime = col("occupancy") >= IvfPqDefaults.minOccupancy &&
      col("occupancy") <= IvfPqDefaults.maxOccupancy
    tuning.crossJoin(broadcast(occ))
      .withColumn("meets_floor",
        when(col("nprobe") === IvfPqDefaults.nprobe &&
          col("shortlist") === IvfPqDefaults.shortlist && inRegime,
          col("recall_at_3") >= lit(IvfPqDefaults.recallFloor))
          .otherwise(lit(true)))
      .drop("occupancy")
      .orderBy("nprobe", "shortlist")
  }

  // ---------------------------------------------- s_ivfpq_indexed
  // The PERSISTED composed index (AnnIndex): the same IVFADC search
  // as s_ivfpq_topk, but riding the on-disk artifact — codes written
  // ONCE as a parquet table bucketed+sorted by cell, trained
  // centroids/codebooks reloaded from the meta tables (not the
  // in-session arrays), and the probed cells pushed into the scan as
  // a literal IN filter so bucket pruning fires at the file source
  // (AnnIndexSpec pins SelectedBucketsCount < total; the append ==
  // rebuild delta parity is spec-pinned there too). Result must be
  // IDENTICAL to the in-session path — the oracle is the SAME IVFADC
  // replay s_ivfpq_topk uses, so the gate proves persist → load →
  // search loses nothing.
  // the catalog is shared by every session of the context: one table
  // name per (session, corpus)
  private def annTable(s: SparkSession, d: String): String =
    s"graft_ann_${java.lang.Integer.toHexString(corpus(s, d).hashCode)}"

  /** Build-once-per-(session, corpus): train (via the memoized
    * trainings — no extra Lloyd runs), write the bucketed index to a
    * store-owned temp dir (deleted by SessionStore.clear), return it.
    * Bench times the write under the `_store_*` discipline so the
    * search query reports MARGINAL cost. */
  private def annIndexDir(s: SparkSession, d: String): String =
    stored(s, d, "annIndex") {
      val emb = Tables.embeddings(s, d)
      val (cents, books) = trainIvfPqResidual(s, d)
      val dir = SessionStore.tempDir("graft_ann")
      // `label` rides the codes table as a carried metadata column —
      // the filtered-search path (s_filtered_topk) pushes predicates
      // on it into the same bucketed scan the plain search prunes
      graft.operators.AnnIndex.write(emb, "vec_id", "embedding", dir,
        annTable(s, d), cents, books, numBuckets = 8,
        metaCols = Seq("label"))
      dir
    }

  private val ivfPqIndexed: Q = (s, d) => {
    val dir = annIndexDir(s, d)
    val (codes, meta) = graft.operators.AnnIndex.load(s, dir,
      annTable(s, d))
    val emb = Tables.embeddings(s, d)
    graft.operators.AnnIndex.search(emb.filter(col("vec_id") < 10),
        codes, meta, emb, "embedding", k = 3,
        nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist)
      .orderBy("qid", "rnk")
  }

  // ----------------------------------------------- s_reindex_topk
  // The index-maintenance op under gate: build the bucketed artifact
  // at the DEPLOY-TIME 8 cells (a separate dir from s_ivfpq_indexed's
  // — reindex rewrites in place, and the two gate queries must not
  // see each other's artifacts), then AnnIndex.reindex at
  // autoCells(n) — ⌈√n⌉ cells, the executable form of the tuning-
  // curve row's "re-training is the answer" — and search the
  // re-trained index at the standard operating point. The re-trained
  // centroids are stored so the oracle replays the SAME generic
  // IVFADC SQL with the new literals: the gate proves the
  // maintenance op loses nothing — reindex → load → search is
  // hash-identical to an engine-independent replay of the re-trained
  // index. (PQ codebooks survive reindex byte-identical —
  // AnnIndexSpec pins that — so the oracle's ADC side reuses the one
  // stored training.)
  private val AnnReindex = "annReindex"

  /** (dir, re-trained centroids) of the reindexed artifact — built
    * once per (session, corpus) in a store-owned temp dir. */
  private def annReindex(s: SparkSession, d: String): (String, Array[Array[Double]]) =
    stored(s, d, AnnReindex) {
      val emb = Tables.embeddings(s, d)
      val (cents8, books) = trainIvfPqResidual(s, d)
      val dir = SessionStore.tempDir("graft_annre")
      val tbl = annTable(s, d) + "_re"
      graft.operators.AnnIndex.write(emb, "vec_id", "embedding", dir,
        tbl, cents8, books, numBuckets = 8)
      val meta = graft.operators.AnnIndex.reindex(emb, "embedding", dir,
        tbl, iters = 4, trainMod = 4)
      (dir, meta.cents)
    }

  private val reindexTopK: Q = (s, d) => {
    val (dir, _) = annReindex(s, d)
    val (codes, meta) = graft.operators.AnnIndex.load(s, dir,
      annTable(s, d) + "_re")
    val emb = Tables.embeddings(s, d)
    graft.operators.AnnIndex.search(emb.filter(col("vec_id") < 10),
        codes, meta, emb, "embedding", k = 3,
        nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist)
      .orderBy("qid", "rnk")
  }

  // ---------------------------------------------- s_filtered_topk
  // FILTERED ANN: top-k WITHIN a metadata predicate (label = 1 — the
  // source/lang/split shape of a curation run's "nearest in-slice
  // neighbors" ask), served from the SAME persisted artifact as
  // s_ivfpq_indexed: the label column rides the bucketed codes table
  // (AnnIndex metaCols), and the predicate pushes into the parquet
  // scan ALONGSIDE the probed-cell IN filter (PlanAuditSpec pins both
  // in PushedFilters + bucket pruning still firing). The filter
  // applies BEFORE the shortlist, so the shortlist holds `shortlist`
  // MATCHING candidates — filtered recall does not decay with filter
  // selectivity, unlike post-filtering an unfiltered top-k. Oracle:
  // the same generic IVFADC replay with the candidate stream
  // restricted to the predicate — the gate proves the composed
  // filter+prune scan loses nothing vs the engine-independent replay.
  private val filteredTopK: Q = (s, d) => {
    val dir = annIndexDir(s, d)
    val (codes, meta) = graft.operators.AnnIndex.load(s, dir,
      annTable(s, d))
    val emb = Tables.embeddings(s, d)
    graft.operators.AnnIndex.search(emb.filter(col("vec_id") < 10),
        codes, meta, emb, "embedding", k = 3,
        nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist,
        predicate = Some(col("label") === 1))
      .orderBy("qid", "rnk")
  }

  /** The filtered searches' predicate, on a vector id. */
  private val InLabel1 = "vec_id IN (SELECT vec_id FROM embeddings WHERE label = 1)"

  private def ivfPqFilteredSql(cents: Array[Array[Double]],
                               books: Array[Array[Array[Double]]]): String =
    s"""WITH ${ivfPqCtes(cents, books, books(0)(0).length,
            IvfPqDefaults.nprobe, IvfPqDefaults.shortlist, candFilter = s"AND a.$InLabel1")}
       |SELECT qid, cid, cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ivfpq_ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  // -------------------------------------------- s_filtered_recall
  // The recall-as-gate-metric discipline (s_lsh/ivf/pq/ivfpq_recall)
  // applied to the FIFTH search shape: per-query recall@3 of the
  // FILTERED search vs FILTERED brute force (label = 1, ~half the
  // corpus at the synthetic label mix). This turns "filtered recall
  // does not decay with selectivity" from a spec assertion
  // (AnnIndexSpec) into a hash-checked gate row: because the
  // predicate applies BEFORE the shortlist, the shortlist holds
  // `shortlist` MATCHING candidates and recall stays at the
  // unfiltered operating point — post-filtering an unfiltered top-k
  // would decay toward zero as the filter sharpens. Ground truth is
  // its own small store (_store_exactfilt — the _store_exacttopk
  // discipline) so the gate row reports marginal cost.
  private def exactFilteredTop3(s: SparkSession, d: String): DataFrame =
    SessionStore.memoFrame(Some(corpus(s, d) / "exactfilt3")) {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("label") === 1), "vec_id", "embedding", k = 3)
    }

  private val filteredRecall: Q = (s, d) => {
    val dir = annIndexDir(s, d)
    val (codes, meta) = graft.operators.AnnIndex.load(s, dir,
      annTable(s, d))
    val emb = Tables.embeddings(s, d)
    recallAt3(exactFilteredTop3(s, d),
      graft.operators.AnnIndex.search(emb.filter(col("vec_id") < 10),
        codes, meta, emb, "embedding", k = 3,
        nprobe = IvfPqDefaults.nprobe, shortlist = IvfPqDefaults.shortlist,
        predicate = Some(col("label") === 1)))
  }

  /** ivfPqRecallSql with BOTH sides restricted to the predicate
    * slice: the IVFADC replay's candidate stream via candFilter, the
    * exact side via the same IN-subquery — filtered recall measured
    * against filtered ground truth. */
  private def ivfPqFilteredRecallSql(cents: Array[Array[Double]],
                                     books: Array[Array[Array[Double]]]): String =
    rankedRecallSql(ivfPqCtes(cents, books, books(0)(0).length,
        IvfPqDefaults.nprobe, IvfPqDefaults.shortlist, candFilter = s"AND a.$InLabel1"),
      "ivfpq_ranked", candFilter = s" AND c.$InLabel1")

  // --------------------------------------------- d_stream_pqdedup
  // The always-on twin of d_pq_semdedup (the lshNearDupStream
  // discipline applied to the compressed-domain index): the corpus
  // replayed file-per-trigger through pqDedupStream — row-local PQ
  // coding in the projection, ONE long of state per occupied cell —
  // then the batch output reconstructed from the emission log
  // (keep_id = min emitted keeper per cell = the final keeper;
  // n_members = distinct drops + 1). Hash-exact against the SAME
  // pqSemDedupSql oracle as the batch query: streaming at ingest
  // loses nothing vs the nightly batch pass.
  private val streamPqDedup: Q = (s, d) => {
    val books = trainPq(s, d)
    val name = "graft_stream_pqdedup"
    graft.streaming.StreamingPipeline.replayFiles("graft_pqdedup_stream",
        Seq("emb" -> Tables.embeddings(s, d).select("vec_id", "embedding")),
        boundedTriggers = true) { stream =>
      graft.streaming.StreamingPipeline
        .pqDedupStream(stream, "vec_id", "embedding", books)
        .writeStream.format("memory").queryName(name).outputMode("append")
    }
    // the reconstruction self-joins the emission log — checkpoint it
    // once (small: one row per drop decision) so the two branches
    // don't share conflicting memory-sink attribute ids
    val em = s.table(name).localCheckpoint(eager = true)
    val keeps = em.groupBy("cell_key").agg(min("keep_id").as("keep_id"),
      (count_distinct(col("drop_id")) + lit(1)).as("n_members"))
    val codeCols = books.indices.map(i =>
      split(col("cell_key"), "\\|").getItem(i).cast("long").as(s"code_$i"))
    em.select(col("cell_key"), col("drop_id")).distinct()
      .join(keeps, "cell_key")
      .select(codeCols ++ Seq(col("n_members"), col("keep_id"),
        col("drop_id")): _*)
      .orderBy(books.indices.map(i => col(s"code_$i")) :+ col("drop_id"): _*)
  }

  // ----------------------------------------- d_stream_pqdedup_res
  // The RESIDUAL/cell-qualified mode of the streaming PQ dedup under
  // gate — the PRODUCTION path (the mode that bootstraps from and
  // compacts back into the AnnIndex artifact, closed end-to-end by
  // CompactionLoopSpec): stream coding via pqCodesResidual against
  // the composed index's trainings, dedup key = (cell, code_*) —
  // residual codes only identify a reconstruction together with
  // their centroid. Hash-exact against a centroid+codebook-literal
  // DuckDB replay of the equivalent BATCH residual dedup (the
  // pqSemDedupSql machinery generalized with ivfCellCtes +
  // resAssignCtes — the same literal interpolation s_ivfpq_topk
  // does), so the gate now covers BOTH coding modes, not just the
  // raw-PQ row.
  private val streamPqDedupRes: Q = (s, d) => {
    val (cents, books) = trainIvfPqResidual(s, d)
    val name = "graft_stream_pqdedup_res"
    graft.streaming.StreamingPipeline.replayFiles("graft_pqdedup_res_stream",
        Seq("emb" -> Tables.embeddings(s, d).select("vec_id", "embedding")),
        boundedTriggers = true) { stream =>
      graft.streaming.StreamingPipeline
        .pqDedupStream(stream, "vec_id", "embedding", books,
          cents = Some(cents))
        .writeStream.format("memory").queryName(name).outputMode("append")
    }
    // reconstruction from the emission log (the raw-mode discipline):
    // keep = min emitted keeper per key, members = distinct drops + 1;
    // the key's leading segment is the coarse cell
    val em = s.table(name).localCheckpoint(eager = true)
    val keeps = em.groupBy("cell_key").agg(min("keep_id").as("keep_id"),
      (count_distinct(col("drop_id")) + lit(1)).as("n_members"))
    val keyCols =
      split(col("cell_key"), "\\|").getItem(0).cast("long").as("cell") +:
        books.indices.map(i =>
          split(col("cell_key"), "\\|").getItem(i + 1).cast("long").as(s"code_$i"))
    val ord = col("cell") +: books.indices.map(i => col(s"code_$i"))
    em.select(col("cell_key"), col("drop_id")).distinct()
      .join(keeps, "cell_key")
      .select(keyCols ++ Seq(col("n_members"), col("keep_id"),
        col("drop_id")): _*)
      .orderBy(ord :+ col("drop_id"): _*)
  }

  /** The residual-mode dedup replay: cell assignment (ivfCellCtes) +
    * residual code assignment (resAssignCtes) pivoted into one
    * (cell, code_*) key per vector, then the keep-the-minimum policy
    * — pqSemDedupSql generalized to the composed index's coding. */
  private def pqResSemDedupSql(cents: Array[Array[Double]],
                               books: Array[Array[Array[Double]]]): String = {
    val cols = books.indices.map(i => s"code_$i")
    val pivot = books.indices.map(i =>
      s"  CAST(MAX(CASE WHEN m = $i THEN code END) AS BIGINT) AS code_$i").mkString(",\n")
    val keyList = ("cell" +: cols).mkString(", ")
    val cKeyList = ("cell" +: cols).map(c => s"c.$c").mkString(", ")
    s"""WITH ${pqDotCtes(books)},
       |${ivfCellCtes(cents)},
       |${resAssignCtes(cents, books)},
       |cells AS (SELECT r.vec_id, CAST(ca.cell AS BIGINT) AS cell,
       |$pivot
       | FROM rassign r JOIN cellassign ca ON ca.vec_id = r.vec_id
       | GROUP BY r.vec_id, ca.cell),
       |keep AS (SELECT $keyList,
       |  MIN(vec_id) AS keep_id, COUNT(*) AS n_members
       | FROM cells GROUP BY $keyList)
       |SELECT $cKeyList, k.n_members, k.keep_id, c.vec_id AS drop_id
       |FROM cells c JOIN keep k USING ($keyList)
       |WHERE c.vec_id <> k.keep_id
       |ORDER BY $cKeyList, drop_id""".stripMargin
  }

  /** Residual-IVFADC replay: raw-slice dot CTEs + trained-centroid
    * cell assignment / probe ranking + the residual code assignment
    * ([[resAssignCtes]]), with the candidate stream restricted to
    * probed cells before ADC scoring and the per-(query, cell)
    * ⟨q, c⟩ term (celld's dc) added to the LUT sum — mirroring
    * Similarity.ivfPqResidualTopK stage by stage. */
  /** The trained-centroid cell CTEs shared by the IVFADC replay and
    * its tuning curve: centroid literals → per-vector L2 components →
    * assignment argmin and per-query probe ranking (prnk retained so
    * the tuning grid can filter on it). `qcdots` is the QUERY-side
    * ⟨q, c⟩ frame residual ADC adds to its LUT sums, pre-filtered to
    * |Q|·ncells rows — joining the corpus-wide celld there instead
    * made DuckDB degrade the two-key hash join to cell-only + filter
    * at 100× volume (an 8·10¹¹-row intermediate, found by the r13
    * sweep); the bounded frame cannot explode at any corpus size. */
  private def ivfCellCtes(cents: Array[Array[Double]]): String = {
    // One flat list-of-structs literal, NOT an ncells-way UNION ALL:
    // DuckDB's parser depth grows with a set-op chain and the 1000
    // limit trips at the ⌈√n⌉-cell reindex oracle (708 cells at 100×,
    // found by the r13 sweep); a flat list parses at constant depth
    // for any cell count.
    val centList = cents.zipWithIndex.map { case (c, j) =>
      s"{'cell': $j, 'v': [${c.map(x => f"$x%.17e").mkString(",")}]}"
    }.mkString(",\n")
    val centCtes =
      s"""SELECT s.cell AS cell, unnest(s.v) AS c,
         |        unnest(generate_series(1, ${cents(0).length})) AS i
         |        FROM (SELECT unnest([$centList]) AS s)""".stripMargin
    if (cents.length <= Similarity.TwoLevelThreshold)
      s"""cellc AS ($centCtes),
         |cellsq AS (SELECT cell, SUM(c*c) AS c2 FROM cellc GROUP BY cell),
         |celld AS (SELECT f.vec_id, ct.cell, SUM(f.x * ct.c) AS dc
         |          FROM flat f JOIN cellc ct ON f.i = ct.i
         |          GROUP BY f.vec_id, ct.cell),
         |cellassign AS (SELECT vec_id, cell FROM (
         |            SELECT d.vec_id, d.cell,
         |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                ORDER BY ROUND(cq.c2 - 2*d.dc, 6) ASC, d.cell ASC) AS r
         |            FROM celld d JOIN cellsq cq USING (cell)) WHERE r = 1),
         |proberanks AS (SELECT d.vec_id AS qid, d.cell,
         |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                ORDER BY ROUND(cq.c2 - 2*d.dc, 6) ASC, d.cell ASC) AS prnk
         |            FROM celld d JOIN cellsq cq USING (cell)
         |            WHERE d.vec_id < 10),
         |qcdots AS (SELECT vec_id AS qid, cell, dc FROM celld
         |           WHERE vec_id < 10)""".stripMargin
    else {
      // r19 TWO-LEVEL branch (cells > Similarity.TwoLevelThreshold —
      // the reindex oracle): cellassign replays the hierarchical rule
      // the engine's TwoLevelCell kernel computes — group argmin over
      // the ⌈√k⌉ grouping literals (Similarity.groupCells on the SAME
      // stored centroids, so both engines see identical doubles),
      // then the cell argmin restricted to the winning group's
      // members. celld (all cells) survives for the QUERY side only
      // (proberanks/qcdots rank every cell — |Q|-bounded), which also
      // cuts this replay's heaviest intermediate from n·k to
      // n·(√k + k/√k) join tuples.
      val (gc, members) = Similarity.groupCells(cents)
      val gList = gc.zipWithIndex.map { case (c, j) =>
        s"{'grp': $j, 'v': [${c.map(x => f"$x%.17e").mkString(",")}]}"
      }.mkString(",\n")
      val memPairs = members.zipWithIndex.flatMap { case (mem, j) =>
        mem.map(cell => s"($cell, $j)")
      }.mkString(",\n")
      s"""cellc AS ($centCtes),
         |cellsq AS (SELECT cell, SUM(c*c) AS c2 FROM cellc GROUP BY cell),
         |gcellc AS (SELECT s.grp AS grp, unnest(s.v) AS c,
         |        unnest(generate_series(1, ${cents(0).length})) AS i
         |        FROM (SELECT unnest([$gList]) AS s)),
         |gcellsq AS (SELECT grp, SUM(c*c) AS g2 FROM gcellc GROUP BY grp),
         |gcelld AS (SELECT f.vec_id, gt.grp, SUM(f.x * gt.c) AS dc
         |           FROM flat f JOIN gcellc gt ON f.i = gt.i
         |           GROUP BY f.vec_id, gt.grp),
         |gassign AS (SELECT vec_id, grp FROM (
         |            SELECT d.vec_id, d.grp,
         |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                ORDER BY ROUND(gq.g2 - 2*d.dc, 6) ASC, d.grp ASC) AS r
         |            FROM gcelld d JOIN gcellsq gq USING (grp)) WHERE r = 1),
         |cellgrp(cell, grp) AS (VALUES $memPairs),
         |celldm AS (SELECT f.vec_id, ct.cell, SUM(f.x * ct.c) AS dc
         |           FROM flat f
         |           JOIN gassign ga ON ga.vec_id = f.vec_id
         |           JOIN cellgrp cg ON cg.grp = ga.grp
         |           JOIN cellc ct ON ct.cell = cg.cell AND f.i = ct.i
         |           GROUP BY f.vec_id, ct.cell),
         |cellassign AS (SELECT vec_id, cell FROM (
         |            SELECT d.vec_id, d.cell,
         |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                ORDER BY ROUND(cq.c2 - 2*d.dc, 6) ASC, d.cell ASC) AS r
         |            FROM celldm d JOIN cellsq cq USING (cell)) WHERE r = 1),
         |celld AS (SELECT f.vec_id, ct.cell, SUM(f.x * ct.c) AS dc
         |          FROM flat f JOIN cellc ct ON f.i = ct.i
         |          WHERE f.vec_id < 10
         |          GROUP BY f.vec_id, ct.cell),
         |proberanks AS (SELECT d.vec_id AS qid, d.cell,
         |              ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |                ORDER BY ROUND(cq.c2 - 2*d.dc, 6) ASC, d.cell ASC) AS prnk
         |            FROM celld d JOIN cellsq cq USING (cell)
         |            WHERE d.vec_id < 10),
         |qcdots AS (SELECT vec_id AS qid, cell, dc FROM celld
         |           WHERE vec_id < 10)""".stripMargin
    }
  }

  private def ivfPqCtes(cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]],
                        sd: Int, nprobe: Int = 3,
                        shortlist: Int = 32,
                        candFilter: String = ""): String = {
    s"""${pqDotCtes(books)},
       |${ivfCellCtes(cents)},
       |${resAssignCtes(cents, books)},
       |probes AS (SELECT qid, cell FROM proberanks WHERE prnk <= $nprobe),
       |lut AS (SELECT f.vec_id AS qid, b.m, b.j, SUM(f.x * b.c) AS ip
       |        FROM flat f JOIN books b ON f.i = b.m * $sd + b.i
       |        WHERE f.vec_id < 10 GROUP BY f.vec_id, b.m, b.j),
       |scored AS (SELECT l.qid, a.vec_id AS cid, qd.dc + SUM(l.ip) AS aip
       |           FROM rassign a
       |           JOIN cellassign ca ON ca.vec_id = a.vec_id
       |           JOIN probes p ON p.cell = ca.cell
       |           JOIN lut l ON l.m = a.m AND l.j = a.code AND l.qid = p.qid
       |           JOIN qcdots qd ON qd.qid = l.qid AND qd.cell = ca.cell
       |           WHERE a.vec_id <> l.qid $candFilter
       |           GROUP BY l.qid, a.vec_id, qd.dc),
       |short AS (SELECT qid, cid FROM (
       |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY ROUND(aip, 6) DESC, cid) AS srnk
       |           FROM scored) WHERE srnk <= $shortlist),
       |$normsCte,
       |rdots AS (SELECT s.qid, s.cid, SUM(q.x * t.x) AS dot
       |          FROM short s JOIN flat q ON q.vec_id = s.qid
       |                       JOIN flat t ON t.vec_id = s.cid AND t.i = q.i
       |          GROUP BY s.qid, s.cid),
       |ivfpq_ranked AS (SELECT qid, cid,
       |               ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos_sim,
       |               ROW_NUMBER() OVER (PARTITION BY qid
       |                 ORDER BY ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rnk
       |              FROM rdots JOIN norms nq ON qid = nq.vec_id
       |                         JOIN norms nc ON cid = nc.vec_id)""".stripMargin
  }

  private def ivfPqTopKSql(cents: Array[Array[Double]],
                           books: Array[Array[Array[Double]]]): String =
    s"""WITH ${ivfPqCtes(cents, books, books(0)(0).length,
            IvfPqDefaults.nprobe, IvfPqDefaults.shortlist)}
       |SELECT qid, cid, cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ivfpq_ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  /** ALT (volume-tractable) twin of [[ivfPqTopKSql]] for the
    * REINDEXED search — the r12 array-native oracle discipline
    * applied to the 1000× boundary the r17 campaign hit: the generic
    * replay's `celld` explodes n·ncells·dim join tuples (2e11 at
    * autoCells(2M)=1414 cells — past the 900 s oracle budget), where
    * the semantics need only (a) each vector's argmin cell, computed
    * here as ONE list_inner_product per (vector, cell) under a
    * struct-MIN aggregate (same ROUND-6 + lower-cell tiebreak, no
    * exploded join, no window materialization), and (b) downstream
    * work restricted to PROBED cells' members exactly like the Spark
    * plan's IN-filter scan — residual code assignment, ADC and the
    * rerank then touch ~n·nprobe/ncells rows instead of n. Same
    * rounding/tiebreak discipline throughout, so the result is
    * hash-identical to the generic replay wherever both fit their
    * budget (pinned at sf0.01 by the campaign tooling). */
  private def ivfPqTopKAltSql(cents: Array[Array[Double]],
                              books: Array[Array[Array[Double]]]): String = {
    val sd = books(0)(0).length
    val nprobe = IvfPqDefaults.nprobe
    val shortlist = IvfPqDefaults.shortlist
    // flat struct-lists (the ivfCellCtes parser-depth discipline),
    // but keeping each centroid / codebook row / offset row a LIST —
    // the list-native kernels consume them whole.
    // cellassign is ONE ROW PER VECTOR (list_min over a per-row
    // list_transform of the centroid literal), NOT a v × centsl cross
    // join into MIN(struct): at campaign cell counts the join form
    // materializes n·k rows inside the hash aggregate — measured
    // 108 GB RSS (OOM) at 2M × 1414 — while the per-row form streams
    // at scan memory and finishes the same argmin in minutes
    val centList = cents.zipWithIndex.map { case (c, j) =>
      s"{'cell': $j, 'v': [${c.map(x => f"$x%.17e").mkString(",")}]}"
    }.mkString(",\n")
    val bookList = (for {
      (b, m) <- books.zipWithIndex
      (cj, j) <- b.zipWithIndex
    } yield s"{'m': $m, 'j': $j, 'v': [${cj.map(x => f"$x%.17e").mkString(",")}]}")
      .mkString(",\n")
    val offs = Similarity.residualOffsets(cents, books)
    val offList = (for {
      (oc, cell) <- offs.zipWithIndex
      (om, m) <- oc.zipWithIndex
      (o, j) <- om.zipWithIndex
    } yield f"{'cell': $cell, 'm': $m, 'j': $j, 'o': $o%.17e}").mkString(",\n")
    // r19: cellassign replays the engine's assignment RULE for this
    // cell count — two-level (group argmin over the groupCells
    // literals, then the member-restricted cell argmin) past
    // Similarity.TwoLevelThreshold, flat argmin at-or-under it. The
    // two-level form is also the cheaper replay: √k + k/√k terms per
    // row instead of k.
    val cellAssignCte =
      if (cents.length <= Similarity.TwoLevelThreshold)
        s"""cellassign AS (SELECT a.vec_id,
           |                 (list_min(list_transform(c0.cl, s ->
           |                    {'s': ROUND(q.csq[s.cell+1]
           |                            - 2*list_inner_product(a.e, s.v), 6),
           |                     'cell': s.cell}))).cell AS cell
           |               FROM v a, cents0 c0, csql q),""".stripMargin
      else {
        val (gc, members) = Similarity.groupCells(cents)
        val gList = gc.zipWithIndex.map { case (c, j) =>
          s"{'grp': $j, 'v': [${c.map(x => f"$x%.17e").mkString(",")}]}"
        }.mkString(",\n")
        // per-group member sublists carrying each member's GLOBAL cell
        // id and centroid — indexed by the assigned group (grp+1)
        val memList = members.map { mem =>
          "[" + mem.map { cell =>
            s"{'cell': $cell, 'v': [${cents(cell).map(x => f"$x%.17e").mkString(",")}]}"
          }.mkString(",\n") + "]"
        }.mkString(",\n")
        s"""gcents0 AS (SELECT [$gList] AS gl),
           |gsql AS (SELECT list_transform(gl,
           |            s -> list_sum(list_transform(s.v, x -> x*x))) AS gsq
           |         FROM gcents0),
           |gassign AS (SELECT a.vec_id,
           |              (list_min(list_transform(g0.gl, s ->
           |                 {'s': ROUND(gq.gsq[s.grp+1]
           |                         - 2*list_inner_product(a.e, s.v), 6),
           |                  'grp': s.grp}))).grp AS grp
           |            FROM v a, gcents0 g0, gsql gq),
           |mem0 AS (SELECT [$memList] AS ml),
           |cellassign AS (SELECT a.vec_id,
           |                 (list_min(list_transform(m0.ml[ga.grp+1], s ->
           |                    {'s': ROUND(q.csq[s.cell+1]
           |                            - 2*list_inner_product(a.e, s.v), 6),
           |                     'cell': s.cell}))).cell AS cell
           |               FROM v a JOIN gassign ga ON ga.vec_id = a.vec_id,
           |                    mem0 m0, csql q),""".stripMargin
      }
    s"""WITH v AS (SELECT vec_id,
       |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |cents0 AS (SELECT [$centList] AS cl),
       |centsl AS (SELECT s.cell AS cell, s.v AS cv
       |           FROM (SELECT unnest(cl) AS s FROM cents0)),
       |cellsq AS (SELECT cell, list_sum(list_transform(cv, x -> x*x)) AS c2
       |           FROM centsl),
       |csql AS (SELECT list_transform(cl,
       |            s -> list_sum(list_transform(s.v, x -> x*x))) AS csq
       |         FROM cents0),
       |bookl AS (SELECT s.m AS m, s.j AS j, s.v AS bv
       |          FROM (SELECT unnest([$bookList]) AS s)),
       |resoffl AS (SELECT s.cell AS cell, s.m AS m, s.j AS j, s.o AS off
       |            FROM (SELECT unnest([$offList]) AS s)),
       |qdist AS (SELECT a.vec_id AS qid, c.cell,
       |            list_inner_product(a.e, c.cv) AS dc,
       |            ROUND(cq.c2 - 2*list_inner_product(a.e, c.cv), 6) AS s
       |          FROM v a, centsl c JOIN cellsq cq USING (cell)
       |          WHERE a.vec_id < 10),
       |proberanks AS (SELECT qid, cell, ROW_NUMBER() OVER (PARTITION BY qid
       |                 ORDER BY s ASC, cell ASC) AS prnk FROM qdist),
       |probes AS (SELECT qid, cell FROM proberanks WHERE prnk <= $nprobe),
       |pcells AS (SELECT DISTINCT cell FROM probes),
       |$cellAssignCte
       |members AS (SELECT ca.vec_id, ca.cell, a.e
       |            FROM cellassign ca JOIN pcells USING (cell)
       |            JOIN v a ON a.vec_id = ca.vec_id),
       |mcdots AS (SELECT a.vec_id, b.m, b.j,
       |             list_inner_product(
       |               list_slice(a.e, b.m*$sd + 1, (b.m+1)*$sd), b.bv) AS dc
       |           FROM members a, bookl b),
       |rassign AS (SELECT vec_id, m, j AS code FROM (
       |              SELECT d.vec_id, d.m, d.j,
       |                ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
       |                  ORDER BY ROUND(ro.off - 2*d.dc, 6) ASC, d.j ASC) AS r
       |              FROM mcdots d
       |              JOIN members ca ON ca.vec_id = d.vec_id
       |              JOIN resoffl ro ON ro.cell = ca.cell AND ro.m = d.m
       |                             AND ro.j = d.j)
       |            WHERE r = 1),
       |lut AS (SELECT a.vec_id AS qid, b.m, b.j,
       |          list_inner_product(
       |            list_slice(a.e, b.m*$sd + 1, (b.m+1)*$sd), b.bv) AS ip
       |        FROM v a, bookl b WHERE a.vec_id < 10),
       |scored AS (SELECT l.qid, a.vec_id AS cid, qd.dc + SUM(l.ip) AS aip
       |           FROM rassign a
       |           JOIN members ca ON ca.vec_id = a.vec_id
       |           JOIN probes p ON p.cell = ca.cell
       |           JOIN lut l ON l.m = a.m AND l.j = a.code AND l.qid = p.qid
       |           JOIN qdist qd ON qd.qid = l.qid AND qd.cell = ca.cell
       |           WHERE a.vec_id <> l.qid
       |           GROUP BY l.qid, a.vec_id, qd.dc),
       |short AS (SELECT qid, cid FROM (
       |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY ROUND(aip, 6) DESC, cid) AS srnk
       |           FROM scored) WHERE srnk <= $shortlist),
       |norms AS (SELECT vec_id,
       |            sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
       |rdots AS (SELECT s.qid, s.cid,
       |            list_inner_product(q.e, t.e) AS dot
       |          FROM short s JOIN v q ON q.vec_id = s.qid
       |                       JOIN v t ON t.vec_id = s.cid),
       |ranked AS (SELECT qid, cid,
       |             ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos_sim,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rnk
       |           FROM rdots JOIN norms nq ON qid = nq.vec_id
       |                      JOIN norms nc ON cid = nc.vec_id)
       |SELECT qid, cid, cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin
  }

  private def ivfPqRecallSql(cents: Array[Array[Double]],
                             books: Array[Array[Array[Double]]]): String =
    rankedRecallSql(ivfPqCtes(cents, books, books(0)(0).length,
      IvfPqDefaults.nprobe, IvfPqDefaults.shortlist), "ivfpq_ranked")

  /** The tuning-curve replay: ADC-scores once at maxProbe=8 with each
    * candidate's probe rank, grids over (nprobe, shortlist), reranks
    * each cell of the grid exactly, and reports recall@3 vs the
    * brute-force top-3. The default row's floor verdict is a LITERAL
    * — the gate hash only matches while the Spark side's measured
    * recall meets the pinned floor. */
  private def ivfPqTuningSql(cents: Array[Array[Double]],
                             books: Array[Array[Array[Double]]]): String = {
    val sd = books(0)(0).length
    s"""WITH ${pqDotCtes(books)},
       |${ivfCellCtes(cents)},
       |${resAssignCtes(cents, books)},
       |lut AS (SELECT f.vec_id AS qid, b.m, b.j, SUM(f.x * b.c) AS ip
       |        FROM flat f JOIN books b ON f.i = b.m * $sd + b.i
       |        WHERE f.vec_id < 10 GROUP BY f.vec_id, b.m, b.j),
       |scored AS (SELECT l.qid, a.vec_id AS cid, p.prnk AS pr,
       |             qd.dc + SUM(l.ip) AS aip
       |           FROM rassign a
       |           JOIN cellassign ca ON ca.vec_id = a.vec_id
       |           JOIN proberanks p ON p.cell = ca.cell AND p.prnk <= 8
       |           JOIN lut l ON l.m = a.m AND l.j = a.code AND l.qid = p.qid
       |           JOIN qcdots qd ON qd.qid = l.qid AND qd.cell = ca.cell
       |           WHERE a.vec_id <> l.qid
       |           GROUP BY l.qid, a.vec_id, p.prnk, qd.dc),
       |grid AS (SELECT np.nprobe, sl.shortlist
       |         FROM (SELECT unnest(generate_series(1, 8)) AS nprobe) np
       |         CROSS JOIN (SELECT unnest([16, 32, 64]) AS shortlist) sl),
       |short AS (SELECT nprobe, shortlist, qid, cid FROM (
       |           SELECT g.nprobe, g.shortlist, s.qid, s.cid,
       |             ROW_NUMBER() OVER (PARTITION BY g.nprobe, g.shortlist, s.qid
       |               ORDER BY ROUND(s.aip, 6) DESC, s.cid) AS srnk
       |           FROM scored s JOIN grid g ON s.pr <= g.nprobe)
       |          WHERE srnk <= shortlist),
       |$normsCte,
       |dpairs AS (SELECT DISTINCT qid, cid FROM short),
       |rdots AS (SELECT s.qid, s.cid,
       |            ROUND(SUM(q.x * t.x) / (nq.nrm * nc.nrm), 6) AS cos_sim
       |          FROM dpairs s JOIN flat q ON q.vec_id = s.qid
       |                        JOIN flat t ON t.vec_id = s.cid AND t.i = q.i
       |                        JOIN norms nq ON s.qid = nq.vec_id
       |                        JOIN norms nc ON s.cid = nc.vec_id
       |          GROUP BY s.qid, s.cid, nq.nrm, nc.nrm),
       |atop AS (SELECT nprobe, shortlist, qid, cid FROM (
       |          SELECT sh.nprobe, sh.shortlist, sh.qid, sh.cid,
       |            ROW_NUMBER() OVER (PARTITION BY sh.nprobe, sh.shortlist, sh.qid
       |              ORDER BY r.cos_sim DESC, sh.cid) AS rnk
       |          FROM short sh JOIN rdots r USING (qid, cid)) WHERE rnk <= 3),
       |${exactTopCtes(aliased = false)},
       |hits AS (SELECT a.nprobe, a.shortlist, COUNT(*) AS n_hits
       |         FROM atop a JOIN exact_top e USING (qid, cid)
       |         GROUP BY a.nprobe, a.shortlist),
       |nex AS (SELECT COUNT(*) AS n_exact FROM exact_top)
       |SELECT CAST(g.nprobe AS BIGINT) AS nprobe,
       | CAST(g.shortlist AS BIGINT) AS shortlist,
       | CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       | ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |       / CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_3,
       | TRUE AS meets_floor
       |FROM grid g CROSS JOIN nex
       |LEFT JOIN hits h ON h.nprobe = g.nprobe AND h.shortlist = g.shortlist
       |ORDER BY nprobe, shortlist""".stripMargin
  }

  /** Shared PQ replay CTEs, codebooks as literals: per-subspace
    * assignment by squared-L2 argmin over the sub-centroid literals
    * (6-digit round, lower-code tiebreak), per-query LUT inner
    * products, candidate score = sum of m lookups, ranking on the
    * 6-digit-rounded score with cid tiebreak — mirroring
    * Similarity.pqCodes/pqTopK stage by stage. Subspace m covers
    * global dims m·sd+1 … (m+1)·sd, so `flat` joins books on
    * f.i = b.m*sd + b.i. */
  /** The raw-slice dot half of the PQ replay (flat → codebook
    * literals → per-(vector, subspace, code) dots): shared by raw
    * assignment, residual assignment (which only swaps the constant
    * term — see [[resAssignCtes]]), and the query LUTs. */
  private def pqDotCtes(books: Array[Array[Array[Double]]]): String = {
    val sd = books(0)(0).length
    // Flat struct-list (same parser-depth discipline as ivfCellCtes;
    // m·k arms are small today but the shape is depth-constant).
    val bookList = (for {
      (b, m) <- books.zipWithIndex
      (cj, j) <- b.zipWithIndex
    } yield s"{'m': $m, 'j': $j, 'v': [${cj.map(x => f"$x%.17e").mkString(",")}]}")
      .mkString(",\n")
    val bookCtes =
      s"""SELECT s.m AS m, s.j AS j, unnest(s.v) AS c,
         |        unnest(generate_series(1, $sd)) AS i
         |        FROM (SELECT unnest([$bookList]) AS s)""".stripMargin
    s"""$flatCte,
       |books AS ($bookCtes),
       |bsq AS (SELECT m, j, SUM(c*c) AS c2 FROM books GROUP BY m, j),
       |cdots AS (SELECT f.vec_id, b.m, b.j, SUM(f.x * b.c) AS dc
       |          FROM flat f JOIN books b ON f.i = b.m * $sd + b.i
       |          GROUP BY f.vec_id, b.m, b.j)""".stripMargin
  }

  /** The assignment half of the PQ replay (raw-vector codes): shared
    * by the ADC queries and the compressed-domain dedup, which needs
    * codes but no query LUTs. */
  private def pqAssignCtes(books: Array[Array[Array[Double]]]): String =
    s"""${pqDotCtes(books)},
       |assign AS (SELECT vec_id, m, j AS code FROM (
       |            SELECT d.vec_id, d.m, d.j,
       |              ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
       |                ORDER BY ROUND(q.c2 - 2*d.dc, 6) ASC, d.j ASC) AS r
       |            FROM cdots d JOIN bsq q ON q.m = d.m AND q.j = d.j)
       |           WHERE r = 1)""".stripMargin

  /** Residual assignment (Jégou'11 §IV): code_m = argmin_j over
    * ROUND(off(cell,m,j) − 2·dc, 6) where off = ‖b‖² + 2⟨c_slice, b⟩
    * is the interpolated [[Similarity.residualOffsets]] literal table
    * — the SAME raw-slice dots as raw PQ, only the constant term is
    * cell-dependent, mirroring Similarity.pqCodesResidual exactly.
    * Requires [[pqDotCtes]] (cdots) and ivfCellCtes (cellassign) in
    * scope. */
  private def resAssignCtes(cents: Array[Array[Double]],
                            books: Array[Array[Array[Double]]]): String = {
    val offs = Similarity.residualOffsets(cents, books)
    val ks = books(0).length
    // Flat struct-list for the same parser-depth reason as
    // [[ivfCellCtes]] — ncells·m arms exceed the depth limit as a
    // UNION ALL chain at reindex scale.
    val offList = (for {
      (oc, cell) <- offs.zipWithIndex
      (om, m) <- oc.zipWithIndex
    } yield s"{'cell': $cell, 'm': $m, 'o': [${om.map(x => f"$x%.17e").mkString(",")}]}")
      .mkString(",\n")
    val offArms =
      s"""SELECT s.cell AS cell, s.m AS m,
         |        unnest(generate_series(0, ${ks - 1})) AS j,
         |        unnest(s.o) AS off
         |        FROM (SELECT unnest([$offList]) AS s)""".stripMargin
    s"""resoff AS ($offArms),
       |rassign AS (SELECT vec_id, m, j AS code FROM (
       |            SELECT d.vec_id, d.m, d.j,
       |              ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
       |                ORDER BY ROUND(ro.off - 2*d.dc, 6) ASC, d.j ASC) AS r
       |            FROM cdots d
       |            JOIN cellassign ca ON ca.vec_id = d.vec_id
       |            JOIN resoff ro ON ro.cell = ca.cell AND ro.m = d.m
       |                          AND ro.j = d.j)
       |           WHERE r = 1)""".stripMargin
  }

  private def pqReplayCtes(books: Array[Array[Array[Double]]]): String = {
    val sd = books(0)(0).length
    s"""${pqAssignCtes(books)},
       |lut AS (SELECT f.vec_id AS qid, b.m, b.j, SUM(f.x * b.c) AS ip
       |        FROM flat f JOIN books b ON f.i = b.m * $sd + b.i
       |        WHERE f.vec_id < 10 GROUP BY f.vec_id, b.m, b.j),
       |scored AS (SELECT l.qid, a.vec_id AS cid, SUM(l.ip) AS aip
       |           FROM assign a JOIN lut l ON l.m = a.m AND l.j = a.code
       |           WHERE a.vec_id <> l.qid
       |           GROUP BY l.qid, a.vec_id),
       |short AS (SELECT qid, cid FROM (
       |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY ROUND(aip, 6) DESC, cid) AS srnk
       |           FROM scored) WHERE srnk <= 64),
       |$normsCte,
       |rdots AS (SELECT s.qid, s.cid, SUM(q.x * t.x) AS dot
       |          FROM short s JOIN flat q ON q.vec_id = s.qid
       |                       JOIN flat t ON t.vec_id = s.cid AND t.i = q.i
       |          GROUP BY s.qid, s.cid),
       |pq_ranked AS (SELECT qid, cid,
       |               ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos_sim,
       |               ROW_NUMBER() OVER (PARTITION BY qid
       |                 ORDER BY ROUND(dot / (nq.nrm * nc.nrm), 6) DESC, cid) AS rnk
       |              FROM rdots JOIN norms nq ON qid = nq.vec_id
       |                         JOIN norms nc ON cid = nc.vec_id)""".stripMargin
  }

  private def pqTopKSql(books: Array[Array[Array[Double]]]): String =
    s"""WITH ${pqReplayCtes(books)}
       |SELECT qid, cid, cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM pq_ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  private def pqRecallSql(books: Array[Array[Array[Double]]]): String =
    rankedRecallSql(pqReplayCtes(books), "pq_ranked")

  // --------------------------------------------------------- t_langid
  private val langid: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      T.markerScore(t, "en").cast("long").as("s_en"),
      T.markerScore(t, "de").cast("long").as("s_de"),
      T.markerScore(t, "es").cast("long").as("s_es"),
      T.markerScore(t, "fr").cast("long").as("s_fr"),
      T.langId(t).as("pred_lang"))
      .orderBy("doc_id")
  }

  private val langidSql =
    s"""SELECT doc_id,
      | len(regexp_extract_all(text, '\\b(the|and|of|to|in)\\b')) AS s_en,
      | len(regexp_extract_all(text, '\\b(der|die|und|das|ist)\\b')) AS s_de,
      | len(regexp_extract_all(text, '\\b(el|la|los|de|que)\\b')) AS s_es,
      | len(regexp_extract_all(text, '\\b(le|la|les|et|des)\\b')) AS s_fr,
      | ${langIdCaseSql("text")} AS pred_lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The langId replay CASE (T.langId's argmax over the four marker
    * counts, ties to the earlier language) over a text column
    * reference: every oracle's one copy. */
  private def langIdCaseSql(textRef: String): String =
    s"""CASE
       | WHEN len(regexp_extract_all($textRef, '\\b(the|and|of|to|in)\\b')) >= len(regexp_extract_all($textRef, '\\b(der|die|und|das|ist)\\b'))
       |  AND len(regexp_extract_all($textRef, '\\b(the|and|of|to|in)\\b')) >= len(regexp_extract_all($textRef, '\\b(el|la|los|de|que)\\b'))
       |  AND len(regexp_extract_all($textRef, '\\b(the|and|of|to|in)\\b')) >= len(regexp_extract_all($textRef, '\\b(le|la|les|et|des)\\b'))
       | THEN 'en'
       | WHEN len(regexp_extract_all($textRef, '\\b(der|die|und|das|ist)\\b')) >= len(regexp_extract_all($textRef, '\\b(el|la|los|de|que)\\b'))
       |  AND len(regexp_extract_all($textRef, '\\b(der|die|und|das|ist)\\b')) >= len(regexp_extract_all($textRef, '\\b(le|la|les|et|des)\\b'))
       | THEN 'de'
       | WHEN len(regexp_extract_all($textRef, '\\b(el|la|los|de|que)\\b')) >= len(regexp_extract_all($textRef, '\\b(le|la|les|et|des)\\b'))
       | THEN 'es'
       | ELSE 'fr' END""".stripMargin

  // ------------------------------------------------------- t_lang_mix
  // Per-source language mix + metadata agreement — the curation view
  // that flags mislabeled scrapes: for each (source, detected lang),
  // the doc share within the source and how often the stored `lang`
  // label agrees with the n-gram detector (zh-labeled docs can never
  // agree with the 4-way detector — exactly the mismatch signal).
  // One partial agg on (source, pred_lang); the share window runs
  // over the AGGREGATED frame (≤ sources × langs rows, partitioned by
  // source) — never over the corpus.
  private val langMix: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(s, d)
      .select(col("source"), col("lang"), T.langId(col("text")).as("pred_lang"))
      .groupBy("source", "pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), lit(1L)).otherwise(lit(0L)))
          .as("n_label_agree"))
      .withColumn("share",
        round(col("n_docs").cast("double") / sum("n_docs").over(w), 6))
      .orderBy("source", "pred_lang")
  }

  private val langMixSql =
    s"""WITH pred AS (SELECT source, lang,
      | ${langIdCaseSql("text")} AS pred_lang
      | FROM documents),
      |agg AS (SELECT source, pred_lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_label_agree
      | FROM pred GROUP BY source, pred_lang)
      |SELECT source, pred_lang, n_docs, n_label_agree,
      |  ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source), 6) AS share
      |FROM agg ORDER BY source, pred_lang""".stripMargin

  // -------------------------------------------------------- t_quality
  private val quality: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      length(t).cast("long").as("n_chars_calc"),
      T.wsTokenCount(t).cast("long").as("n_tokens"),
      T.punctCount(t).cast("long").as("n_punct"),
      T.stopwordCount(t).cast("long").as("n_stop"),
      round(T.alphaCount(t) / length(t).cast("double"), 6).as("alpha_ratio"),
      T.qualityScore(t).as("quality"))
      .orderBy("doc_id")
  }

  private val qualitySql =
    """SELECT doc_id,
      | length(text) AS n_chars_calc,
      | len(string_split(text, ' ')) AS n_tokens,
      | len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct,
      | len(regexp_extract_all(text, '\b(the|a|an|and|or|of|to|in|is|are)\b')) AS n_stop,
      | ROUND(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
      | ROUND(LEAST(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)*0.3
      |  + CAST(len(regexp_extract_all(text, '\b(the|a|an|and|or|of|to|in|is|are)\b')) AS DOUBLE)
      |     / len(string_split(text,' ')) * 0.3
      |  + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) * 0.4, 6) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ t_normalize
  // Canonical corpus cleaning (the pass that precedes shingling /
  // tokenizing in an LLM data pipeline): lowercase, strip
  // non-alphanumerics, collapse whitespace. Pure projection — no
  // shuffle, fully codegen'd.
  private val normalizeQ: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), T.normalize(col("text")).as("norm_text"))
      .withColumn("n_chars", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")

  private val normalizeSql =
    """WITH n AS (
      |  SELECT doc_id,
      |   TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
      |        ' +', ' ', 'g')) AS norm_text
      |  FROM documents)
      |SELECT doc_id, norm_text, CAST(LENGTH(norm_text) AS BIGINT) AS n_chars
      |FROM n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- t_classifier_score
  // Model-based quality filtering (the DCLM / FineWeb-Edu stage that
  // runs AFTER the cheap t_quality heuristics): a fastText-shaped
  // logistic regression over HASHED unigram+bigram features (Joulin'16
  // §2.1 — word order via the hashing trick) at D=8192, engine-portable
  // 60-bit md5-prefix bucket — whose weights are TRAINED IN-ENGINE by
  // Classifier.fit (distributed full-batch GD on the deterministic
  // lang-agreement seed label).
  // The fit's dyadic 2⁻²⁰ snap keeps the margin bit-exact across
  // engines, so the keep decision rides the exact logit sign, not
  // the rounded probability, and the trained weights interpolate
  // into the oracle as literals (the kmeans-centroid discipline).
  // Scoring stays a row-local fold per doc — no explode, no shuffle:
  // at 100 TB the classifier is a projection over the corpus scan,
  // exactly like t_quality; training cost is bounded by the epoch
  // count × one fold job over the training documents (timed as
  // _store_classifier).
  // D / epochs / lr chosen by held-out measurement (a grid over
  // (d, epochs, lr, bigrams) at sf0.01): r16 — with the fused
  // ClassifierMargin kernel paying for capacity, the grid re-ran at
  // D ∈ {1024..16384} plus char-3/4/5-gram and word∪char3 streams
  // (the langid-shaped alternatives): char families rank no better
  // (best char3/4096 AUC 0.6049) and their calibrated cut COLLAPSES
  // to the base rate, so the word unigram+bigram stream stays; 8192
  // buckets at 16 epochs / lr 8 is the best-AUC word config — val
  // AUC 0.5881 → 0.6025 over r15's D=1024 — and its calibrated cut
  // still beats base (0.5960 vs 0.5455). epochs 24 overfits the cut
  // (collapses to keep-all) at every width probed.
  private val classifierD = 8192

  // The weights are TRAINED IN-ENGINE (Classifier.fit — distributed
  // full-batch logistic GD on the deterministic lang-agreement seed
  // label, the DCLM seed-classifier recipe) and memoized per
  // (session, corpus); the dyadic 2⁻²⁰ snap keeps the scored margin
  // bit-exact cross-engine, so the trained weights interpolate into
  // the oracle exactly like the LCG literals they replaced.
  private val ClassifierFit = s"classifierFit|d$classifierD|epochs16|lr8|bigrams"

  private def trainClassifier(s: SparkSession, d: String): graft.operators.Classifier.Fit =
    stored(s, d, ClassifierFit) {
      val docs = Tables.documents(s, d).withColumn("_lbl",
        graft.operators.Classifier.langAgreeLabel(col("text"), col("lang")))
      // trainMod: auto — full batch at every committed proof scale
      // (the 2^23 cap clears the 1000x corpus), hash-sampled above it
      // (the 100 TB bound; the count is a footer-only scan)
      graft.operators.Classifier.fit(docs, "doc_id", "text", "_lbl",
        d = classifierD, epochs = 16, lr = 8.0,
        trainMod = graft.operators.Classifier.autoTrainMod(docs.count()),
        bigrams = true)
    }

  private val classifier: Q = (s, d) => {
    val fit = trainClassifier(s, d)
    val logit = T.classifierMargin(col("text"), fit.weightSeq, fit.bias)
    // no collapse barrier needed anymore: the fused native kernel is
    // codegen-capable, so when CollapseProject inlines the logit into
    // the three output expressions, whole-stage codegen's COMMON
    // SUBEXPRESSION ELIMINATION computes it once (measured:
    // three-outputs ≈ one-output wall; the old interpreted HOF
    // fold was codegen-opaque and recomputed ~3× — the r14 barrier
    // bought single-pass at the price of a corpus-wide exchange)
    Tables.documents(s, d).select(col("doc_id"), col("source"),
        logit.as("lg"))
      .select(col("doc_id"), col("source"),
        // UNROUNDED: the margin is bit-exact across engines (exact
        // dyadic Σw, one IEEE division, one addition), and rounding
        // would BREAK that — its dyadic/n_tok structure lands on
        // exact 6-dp decimal ties where Spark's HALF_UP-on-shortest-
        // repr and DuckDB's binary-value rounding disagree (found by
        // the 100× gate: one tie in 500k docs)
        col("lg").as("margin"),
        T.sigmoid6(col("lg")).as("score"),
        when(col("lg") >= 0.0d, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** The shared normalize/tokenize/weight/feature/margin CTE chain of
    * BOTH classifier oracles (the semDedupCtes pattern — one builder,
    * so the two can never silently desynchronize). Weights/bias are
    * the TRAINED fit's, as %.17e literals (forced-DOUBLE, exact
    * round-trip — the centroid discipline); the margin stays
    * bit-exact because every trained weight is a dyadic multiple of
    * 2⁻²⁰ (see Classifier.fit). */
  private def classifierCtes(fit: graft.operators.Classifier.Fit): String =
    s"""n AS (SELECT doc_id, source,
       |      TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
       |           ' +', ' ', 'g')) AS t FROM documents),
       |ta AS (SELECT doc_id, string_split(t, ' ') AS a FROM n),
       |-- bigrams via list_transform + staged DISTINCT-vocab md5
       |-- (r20): the unnest-then-slice form duplicated the token
       |-- array per position row and md5'd every instance — the
       |-- DuckDB spill wall at campaign volume (see classifierValQSql)
       |toks AS (SELECT doc_id, unnest(a) AS tok FROM ta
       |         UNION ALL
       |         SELECT doc_id, unnest(list_transform(
       |             generate_series(1, len(a) - 1),
       |             i -> a[i] || ' ' || a[i+1])) AS tok FROM ta),
       |wt AS (SELECT unnest(generate_series(0, ${classifierD - 1})) AS b,
       |        unnest([${fit.weights.map(x => f"$x%.17e").mkString(",")}]) AS w),
       |vh AS (SELECT tok,
       |        (TRY_CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
       |          % $classifierD) AS b
       |       FROM (SELECT DISTINCT tok FROM toks)),
       |feat AS (SELECT toks.doc_id, SUM(wt.w) AS sw,
       |          CAST(COUNT(*) AS DOUBLE) AS ntok
       |         FROM toks JOIN vh USING (tok) JOIN wt ON vh.b = wt.b
       |         GROUP BY toks.doc_id),
       |lg AS (SELECT n.doc_id, n.source,
       |        feat.sw / feat.ntok + ${f"${fit.bias}%.17e"} AS logit
       |       FROM n JOIN feat ON n.doc_id = feat.doc_id)""".stripMargin

  private def classifierSql(fit: graft.operators.Classifier.Fit): String =
    s"""WITH ${classifierCtes(fit)}
       |SELECT doc_id, source, logit AS margin,
       |  ROUND(1.0/(1.0 + exp(-logit)), 6) AS score,
       |  CAST(CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM lg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- t_classifier_calib
  // The classifier's THRESHOLD-SWEEP table (the d_lsh_calibration
  // discipline applied to the model-based filter): per (source,
  // margin-decile-bucket) doc counts, each source's share in that
  // bucket, and the keep rate a cut at this bucket's lower edge
  // would give — the table a curation run reads to pick the margin
  // threshold per source before committing a keep decision to the
  // corpus. Buckets come from floor(margin·10) on the BIT-EXACT
  // margin, and every ratio is an UNROUNDED exact-integer division
  // (identical bits on both engines) — the t_classifier_score tie
  // lesson applied from the start: round() is the portability
  // hazard, not the cure. Output ≤ |sources|·|buckets| rows at any
  // corpus size; cost is the same row-local fold + one partial agg.
  private val classifierCalib: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val fit = trainClassifier(s, d)
    val logit = T.classifierMargin(col("text"), fit.weightSeq, fit.bias)
    val b = Tables.documents(s, d)
      .select(col("source"), floor(logit * 10.0d).cast("long").as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("n_docs"))
    val bySrc = Window.partitionBy("source")
    val cutW = Window.partitionBy("source").orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("total", sum("n_docs").over(bySrc))
      .withColumn("cum", sum("n_docs").over(cutW))
      .select(col("source"), col("bucket"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).as("frac"),
        (col("cum").cast("double") / col("total")).as("cut_keep_rate"))
      .orderBy("source", "bucket")
  }

  private def classifierCalibSql(fit: graft.operators.Classifier.Fit): String =
    s"""WITH ${classifierCtes(fit)},
       |bk AS (SELECT source, CAST(FLOOR(logit * 10) AS BIGINT) AS bucket,
       |        CAST(COUNT(*) AS BIGINT) AS n_docs
       |       FROM lg GROUP BY source, bucket),
       |t AS (SELECT *, SUM(n_docs) OVER (PARTITION BY source) AS total,
       |       SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM bk)
       |SELECT source, bucket, n_docs,
       |  CAST(n_docs AS DOUBLE) / total AS frac,
       |  CAST(cum AS DOUBLE) / total AS cut_keep_rate
       |FROM t ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------- t_classifier_val
  // HELD-OUT validation of the in-engine trainer (the r13 gap: fit
  // reported training logloss only): a deterministic content-hash
  // 80/20 split (the d_split_assign discipline — md5-derived, so
  // DuckDB replays it exactly), fit on TRAIN only, then per-source
  // and overall ('__all__') val-side metrics against the
  // lang-agreement seed label:
  //  - accuracy of the sign-of-margin keep decision, beside the
  //    majority-class base_rate (self-interpreting — the 0 threshold
  //    is mis-centered on this corpus, and the table shows it
  //    honestly instead of hiding it), AND accuracy at the
  //    CALIBRATED cut (Classifier.calibrateCut on the TRAIN side —
  //    the executable threshold rule, interpolated as an integer
  //    bucket literal) with cut_beats_base gating "the calibrated
  //    decision at least matches the majority-class guesser on
  //    unseen docs";
  //  - AUC, the THRESHOLD-FREE ranking metric (Mann-Whitney
  //    rank-sum over the margin-frequency frame — exact half-integer
  //    arithmetic, no rank ties to adjudicate since the frame has
  //    one row per distinct margin), with the floor verdict on
  //    AUC ≥ 0.5: "the trained model ranks its seed task better
  //    than chance on unseen docs" as a gated claim, not prose.
  // Every ratio is an UNROUNDED exact-integer(±half) division and
  // the floor compares in integer-and-half space (contrib vs
  // 0.5·np·nn), so the whole row hash-replays. Cost shape at
  // 100 TB: one row-local scoring projection over the val partition,
  // one partial agg onto (source, margin), and the global cumulative
  // runs through ShardedWindow (range-sharded prefix sum — no
  // single-task global sort).
  // re-pinned r18 BELOW the measured seed-task ceiling: a held-out
  // grid at sf0.1 (954 val docs, ±0.03 CI vs sf0.01's ±0.06) measured the
  // Bayes AUC of ANY text-only model on the lang-agreement seed at
  // ≈ 0.54 at measurement scale (flat 0.50–0.54 across 4–40× training
  // data; the label is near-independent of the text's marker
  // statistics) — r16's 0.6025, which justified the old 35/64 floor,
  // was a 100-doc-val-draw artifact, leaving that floor ABOVE the
  // ceiling: it passed only on the sf0.01 draw and its replicas and
  // would fail a fresh sf0.1-scale draw on untouched code. 33/64
  // sits under the ceiling with ~0.025 margin (≈ the sf0.1 CI),
  // stays dyadic (exact cross-engine), and keeps the gated claim
  // honest: "ranks its seed task better than chance on unseen docs."
  // The 0.6025 figure is draw-scoped prose now, not a floor premise.
  private val classifierValFloor = 0.515625 // 33/64, dyadic

  private def valBucket = // content-hash 5-bucket; bucket 0 = val
    graft.operators.Dedup.shingleHash(concat(lit("cvsplit:"), col("text"))) % 5

  /** A held-out classifier gate's parameters: the store names of its
    * TRAIN-split fit and of the cut calibrated on it, the seed label,
    * the feature stream (None: the word unigram+bigram stream, scored
    * by the fused margin kernel) and the AUC floor. */
  private final case class HeldOut(fit: String, cut: String, label: Column,
                                   feats: Option[Column], floor: Double) {
    def logit(f: Classifier.Fit): Column = feats match {
      case Some(toks) => T.classifierLogit(toks, f.weightSeq, f.bias)
      case None => T.classifierMargin(col("text"), f.weightSeq, f.bias)
    }
  }

  private def trainHeldOut(s: SparkSession, d: String, g: HeldOut): Classifier.Fit =
    stored(s, d, g.fit) {
      // trainMod: auto on the TRAIN-side count (r19, r18 advice —
      // the pre-split count engaged the sampler when n just cleared
      // 2^23 even though the 80% train frame was still under the cap,
      // discarding training data; S=1 at every committed proof scale
      // either way, so no published weight moved)
      val trainDocs = Tables.documents(s, d).withColumn("_lbl", g.label)
        .filter(valBucket =!= 0)
      Classifier.fit(trainDocs,
        "doc_id", "text", "_lbl", d = classifierD, epochs = 16, lr = 8.0,
        trainMod = Classifier.autoTrainMod(trainDocs.count()),
        bigrams = g.feats.isEmpty, featsCol = g.feats)
    }

  // the calibrated operating cut (Classifier.calibrateCut — the
  // executable threshold rule), chosen on the TRAIN side only (picking
  // it on val would leak) and interpolated into the oracle as an
  // integer-bucket literal like the trained weights
  private def heldOutCut(s: SparkSession, d: String, g: HeldOut): Long =
    stored(s, d, g.cut) {
      val fit = trainHeldOut(s, d, g)
      Classifier.calibrateCut(
        Tables.documents(s, d).filter(valBucket =!= 0)
          .select(g.logit(fit).as("m"), g.label.as("y")), "m", "y")
    }

  /** The held-out gate table of `g`: per-source and '__all__'
    * accuracy, calibrated-cut accuracy, base rate, AUC and the floor
    * verdict over the val split. Both held-out gates' one evaluator. */
  private def heldOut(s: SparkSession, d: String, g: HeldOut): DataFrame = {
    val fit = trainHeldOut(s, d, g)
    val cut = heldOutCut(s, d, g)
    val v = Tables.documents(s, d)
      .filter(valBucket === 0)
      .select(col("source"), g.logit(fit).as("lg"), g.label.as("lbl"))
      .localCheckpoint(eager = true) // scored once; two consumers below
    // per-source rows + the '__all__' roll-up the floor verdict
    // anchors on (per-source slices are sparse at spec scale)
    val v2 = v.unionAll(v.select(lit("__all__").as("source"),
      col("lg"), col("lbl")))
    val acc = v2.groupBy("source")
      .agg(count(lit(1)).as("n_val"),
        sum(when((col("lg") >= 0.0d) === (col("lbl") === 1L), 1L)
          .otherwise(0L)).as("n_correct"),
        // the CALIBRATED decision: keep iff floor(margin·10) ≥ the
        // train-side cut — integer-space compare, hash-exact
        sum(when((floor(col("lg") * 10.0d).cast("long") >= cut)
            === (col("lbl") === 1L), 1L)
          .otherwise(0L)).as("n_cut_correct"),
        sum(col("lbl")).as("n_pos"))
    // AUC via rank-sum on the margin-frequency frame: one row per
    // (source, distinct margin) with positive/negative counts, the
    // negative-count prefix sum range-sharded by a monotone function
    // of the margin (ShardedWindow — no single-task global sort),
    // then AUC·np·nn = Σ_m np_m·(negs strictly below + ½·negs at m).
    val mf = v2.groupBy(col("source"), col("lg").as("m"))
      .agg(sum(col("lbl")).as("np"),
        (count(lit(1)) - sum(col("lbl"))).as("nn"))
    val cum = graft.operators.ShardedWindow.runningSum(mf, "source",
      shard = floor(col("m") * 1024.0d), order = Seq(col("m")),
      value = col("nn"), out = "cumnn")
    val auc = cum.groupBy("source")
      .agg(sum(col("np")).as("tp"), sum(col("nn")).as("tn"),
        sum(col("np").cast("double")
          * (col("cumnn").cast("double") - lit(0.5d) * col("nn").cast("double")))
          .as("contrib"))
    acc.join(auc, "source")
      .select(col("source"), col("n_val"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_val").cast("double"))
          .as("accuracy"),
        lit(cut).as("cut_bucket"),
        (col("n_cut_correct").cast("double") / col("n_val").cast("double"))
          .as("cut_accuracy"),
        (greatest(col("n_pos"), col("n_val") - col("n_pos")).cast("double")
          / col("n_val").cast("double")).as("base_rate"),
        // the calibrated cut must at least match the majority-class
        // guesser on unseen docs — exact integer compare (counts, not
        // the divided doubles)
        when(col("n_cut_correct").cast("double") >=
            greatest(col("n_pos"), col("n_val") - col("n_pos"))
              .cast("double"), 1L)
          .otherwise(0L).as("cut_beats_base"),
        when(col("tp") * col("tn") > 0L,
          col("contrib") / (col("tp").cast("double") * col("tn").cast("double")))
          .as("auc"),
        // floor in exact-arithmetic space: contrib ≥ floor·np·nn
        when(col("tp") * col("tn") > 0L &&
            col("contrib") >= lit(g.floor)
              * col("tp").cast("double") * col("tn").cast("double"), 1L)
          .otherwise(0L).as("meets_floor"))
      .orderBy("source")
  }

  private val ClassifierValFit = s"classifierValFit|d$classifierD|epochs16|lr8|bigrams"
  private val ClassifierValCut = s"$ClassifierValFit|cut"

  private def classifierValGate = HeldOut(ClassifierValFit, ClassifierValCut,
    Classifier.langAgreeLabel(col("text"), col("lang")), None, classifierValFloor)

  private val classifierVal: Q = (s, d) => heldOut(s, d, classifierValGate)

  private def classifierValSql(fit: graft.operators.Classifier.Fit,
                               cut: Long): String =
    s"""WITH ${classifierCtes(fit)},
       |lbl AS (SELECT doc_id,
       |         CASE WHEN (${langIdCaseSql("text")}) = lang THEN 1 ELSE 0 END AS y,
       |         TRY_CAST('0x' || substr(md5('cvsplit:' || text), 1, 15)
       |           AS BIGINT) % 5 AS vb
       |        FROM documents),
       |${heldOutTailSql(cut, classifierValFloor)}""".stripMargin

  /** The held-out oracles' shared tail over `lg` (margins) and `lbl`
    * (label `y`, val bucket `vb`): the val split, its '__all__'
    * roll-up, the accuracy / cut / AUC / `floor` table. */
  private def heldOutTailSql(cut: Long, floor: Double): String =
    s"""v AS (SELECT lg.source, lg.logit, lbl.y
       |      FROM lg JOIN lbl ON lg.doc_id = lbl.doc_id WHERE lbl.vb = 0),
       |v2 AS (SELECT source, logit, y FROM v
       |       UNION ALL SELECT '__all__', logit, y FROM v),
       |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_val,
       |         CAST(SUM(CASE WHEN (logit >= 0) = (y = 1)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |         CAST(SUM(CASE WHEN (CAST(FLOOR(logit * 10) AS BIGINT) >= $cut)
       |           = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_correct,
       |         CAST(SUM(y) AS BIGINT) AS n_pos
       |        FROM v2 GROUP BY source),
       |mf AS (SELECT source, logit AS m, CAST(SUM(y) AS BIGINT) AS np,
       |        CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
       |       FROM v2 GROUP BY source, logit),
       |cum AS (SELECT *, SUM(nn) OVER (PARTITION BY source ORDER BY m
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumnn
       |        FROM mf),
       |aucs AS (SELECT source, CAST(SUM(np) AS BIGINT) AS tp,
       |          CAST(SUM(nn) AS BIGINT) AS tn,
       |          SUM(CAST(np AS DOUBLE)
       |            * (CAST(cumnn AS DOUBLE) - 0.5 * CAST(nn AS DOUBLE))) AS contrib
       |         FROM cum GROUP BY source)
       |SELECT a.source, a.n_val, a.n_correct,
       |  CAST(a.n_correct AS DOUBLE) / CAST(a.n_val AS DOUBLE) AS accuracy,
       |  CAST($cut AS BIGINT) AS cut_bucket,
       |  CAST(a.n_cut_correct AS DOUBLE) / CAST(a.n_val AS DOUBLE)
       |    AS cut_accuracy,
       |  CAST(GREATEST(a.n_pos, a.n_val - a.n_pos) AS DOUBLE)
       |    / CAST(a.n_val AS DOUBLE) AS base_rate,
       |  CAST(CASE WHEN CAST(a.n_cut_correct AS DOUBLE)
       |    >= CAST(GREATEST(a.n_pos, a.n_val - a.n_pos) AS DOUBLE)
       |    THEN 1 ELSE 0 END AS BIGINT) AS cut_beats_base,
       |  CASE WHEN u.tp * u.tn > 0
       |    THEN u.contrib / (CAST(u.tp AS DOUBLE) * CAST(u.tn AS DOUBLE))
       |    END AS auc,
       |  CAST(CASE WHEN u.tp * u.tn > 0
       |    AND u.contrib >= $floor
       |      * CAST(u.tp AS DOUBLE) * CAST(u.tn AS DOUBLE)
       |    THEN 1 ELSE 0 END AS BIGINT) AS meets_floor
       |FROM agg a JOIN aucs u USING (source) ORDER BY a.source""".stripMargin

  // -------------------------------------------- t_classifier_val_q
  // The QUALITY-COMPOSITE seed (r18 — the verdict's "better seed"
  // rung landed): the lang-agreement seed's Bayes ceiling is ≈0.54
  // because the generator's lang column is ~independent of the text
  // (measured r17), so the DCLM-style next seed is the output of a
  // STRONGER FILTER for the model to distill — here the full
  // t_filter_chain verdict with the language stage on T.langId
  // (deterministic IN TEXT; the chain's metadata-lang stage would
  // re-import the unlearnable column):
  //   label = [n_tok ≥ 20] ∧ [langId(text)='en'] ∧ [quality ≥ 0.5]
  //         ∧ [dup-2gram coverage ≤ 0.2].
  // The word bag alone cannot express the filter's thresholds (its
  // features are length-NORMALIZED counts — the held-out grid measured
  // the word-only ceiling at 0.54–0.56): the feature stream appends
  // four QUANTIZED-STATISTIC tokens (log2-length bucket via binary-
  // string length — no libm-log2 boundary hazard; repetition-coverage
  // decile; quality decile; the langId verdict), every one an
  // existing oracle-replayable formula, and the linear model then
  // distills the conjunction: the held-out grid at sf0.1 (954 val docs, ±0.03
  // CI) measured val AUC 0.8627 for word+stats (stats-only
  // oracle-feature ceiling 0.9661; word-only 0.5593). Same split
  // discipline as t_classifier_val (md5 'cvsplit:' bucket 0 = val),
  // fit on TRAIN only, AUC gated per-source + '__all__' in exact
  // half-integer arithmetic. Scale shape at 100 TB: the stat tokens
  // are row-local projections over the same token array the word
  // stream reads; scoring stays one projection, training stays
  // one fold job per epoch.
  private val classifierValQFloor = 0.78125 // 25/32, dyadic

  /** Quantized-statistic tokens appended to the word stream — each a
    * closed-form, engine-portable function of the text (the r17
    * marker-token probe discipline, promoted to the gate). */
  private def qcStatToks: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val dupCov = round(T.repetitionStats(toks, 2, 2).getField("dup_covered")
      .cast("double") / n, 6)
    array(
      // floor(log2(n)) as binary-string length − 1: exact integer on
      // both engines (Spark conv / DuckDB bin), immune to the
      // ln(n)/ln(2) ulp-at-the-boundary hazard
      concat(lit("len:"), least(length(conv(n.cast("string"), 10, 2)) - 1,
        lit(12)).cast("long").cast("string")),
      concat(lit("rep:"), least(floor(dupCov * 10.0d), lit(10L))
        .cast("string")),
      // quality is null only on zero-length text — coalesce keeps the
      // token stream null-free (a null element would silently drop
      // from the bucket join on one engine and not the other)
      coalesce(concat(lit("q:"), least(floor(T.qualityScore(col("text"))
        * 10.0d), lit(10L)).cast("string")), lit("q:na")),
      concat(lit("g:"), T.langId(col("text"))))
  }

  private def qcToks: org.apache.spark.sql.Column =
    concat(T.classifierFeatures(col("text")), qcStatToks)

  /** The composite seed label — the filter-chain verdict with langId
    * as the language stage (all four stages text-deterministic). */
  private def qcLabel: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val dupCov = round(T.repetitionStats(toks, 2, 2).getField("dup_covered")
      .cast("double") / n, 6)
    val comp = (n >= 20) && (T.langId(col("text")) === "en") &&
      (T.qualityScore(col("text")) >= 0.5d) && (dupCov <= 0.2d)
    when(comp, 1L).otherwise(0L)
  }

  private val ClassifierValQFit = s"classifierValQFit|d$classifierD|epochs16|lr8|qcToks"
  // the calibrated operating cut for the quality-composite gate
  // (r19 — the t_classifier_val discipline carried to the seed whose
  // floor the task actually supports)
  private val ClassifierValQCut = s"$ClassifierValQFit|cut"

  private def classifierValQGate = HeldOut(ClassifierValQFit, ClassifierValQCut,
    qcLabel, Some(qcToks), classifierValQFloor)

  private val classifierValQ: Q = (s, d) => heldOut(s, d, classifierValQGate)

  /** `src` swaps the documents scan (ALT overlay: the val bucket is
    * decided per doc by the cvsplit hash and the output reads ONLY
    * vb=0 rows, so pre-filtering the scan is replay-identical while
    * cutting the exploded token join — the DuckDB spill driver at
    * N×-volume — by the split factor). */
  private def classifierValQSql(fit: graft.operators.Classifier.Fit,
                                cut: Long,
                                src: String = "documents"): String =
    s"""WITH n AS (SELECT doc_id, source, text,
       |      TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
       |           ' +', ' ', 'g')) AS t FROM $src),
       |ta AS (SELECT doc_id, string_split(t, ' ') AS a FROM n),
       |toks AS (SELECT doc_id, unnest(a) AS tok FROM ta
       |         UNION ALL
       |         -- bigram list built IN PLACE (r20): the (a, i)
       |         -- unnest-then-slice form duplicated the whole token
       |         -- array per position row — quadratic bytes, the
       |         -- DuckDB disk-spill wall at 1000× — where a
       |         -- list_transform emits one list per doc
       |         SELECT doc_id, unnest(list_transform(
       |             generate_series(1, len(a) - 1),
       |             i -> a[i] || ' ' || a[i+1])) AS tok FROM ta),
       |rawt AS (SELECT doc_id, text, string_split(text, ' ') AS rt FROM $src),
       |-- ROW-LOCAL dup coverage (r20 dupCovCtes — the (doc, gram)
       |-- hash-aggregate replay spilled past the disk at 1000×)
       |${dupCovCtes("w", "rawt", "rt", 2)},
       |stats AS (SELECT r.doc_id,
       |   len(rt) AS ntokr,
       |   ROUND(CAST(wcov.nc AS DOUBLE) / len(rt), 6) AS dupcov,
       |   ROUND(LEAST(1.0, CAST(len(rt) AS DOUBLE)/100.0)*0.3
       |    + CAST(len(regexp_extract_all(r.text, '\\b(the|a|an|and|or|of|to|in|is|are)\\b')) AS DOUBLE)
       |       / len(rt) * 0.3
       |    + CAST(len(regexp_extract_all(r.text, '[A-Za-z]')) AS DOUBLE) / length(r.text) * 0.4, 6) AS q,
       |   (${langIdCaseSql("r.text")}) AS lid
       |  FROM rawt r JOIN wcov USING (doc_id)),
       |stok AS (SELECT doc_id, unnest([
       |   'len:' || CAST(LEAST(length(bin(ntokr)) - 1, 12) AS VARCHAR),
       |   'rep:' || CAST(LEAST(CAST(FLOOR(dupcov * 10.0) AS BIGINT), 10) AS VARCHAR),
       |   COALESCE('q:' || CAST(LEAST(CAST(FLOOR(q * 10.0) AS BIGINT), 10) AS VARCHAR), 'q:na'),
       |   'g:' || lid]) AS tok FROM stats),
       |allt AS (SELECT doc_id, tok FROM toks UNION ALL SELECT doc_id, tok FROM stok),
       |wt AS (SELECT unnest(generate_series(0, ${classifierD - 1})) AS b,
       |        unnest([${fit.weights.map(x => f"$x%.17e").mkString(",")}]) AS w),
       |-- staged fold (r20, the simhash-ALT discipline): md5 once per
       |-- DISTINCT token, not per instance — zipf makes the vocab
       |-- ~100× smaller than the exploded stream at campaign volume
       |vh AS (SELECT tok,
       |        (TRY_CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
       |          % $classifierD) AS b
       |       FROM (SELECT DISTINCT tok FROM allt)),
       |feat AS (SELECT allt.doc_id, SUM(wt.w) AS sw,
       |          CAST(COUNT(*) AS DOUBLE) AS ntok
       |         FROM allt JOIN vh USING (tok) JOIN wt ON vh.b = wt.b
       |         GROUP BY allt.doc_id),
       |lg AS (SELECT n.doc_id, n.source,
       |        feat.sw / feat.ntok + ${f"${fit.bias}%.17e"} AS logit
       |       FROM n JOIN feat ON n.doc_id = feat.doc_id),
       |lbl AS (SELECT s.doc_id,
       |         CASE WHEN s.ntokr >= 20 AND s.lid = 'en'
       |           AND s.q >= 0.5 AND s.dupcov <= 0.2 THEN 1 ELSE 0 END AS y,
       |         TRY_CAST('0x' || substr(md5('cvsplit:' || r.text), 1, 15)
       |           AS BIGINT) % 5 AS vb
       |        FROM stats s JOIN rawt r USING (doc_id)),
       |${heldOutTailSql(cut, classifierValQFloor)}""".stripMargin

  // --------------------------------------------------------- t_tokens
  private val tokens: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      T.wsTokenCount(t).cast("long").as("ws_tokens"),
      T.bpeishTokenCount(t).cast("long").as("bpe_tokens"),
      round(length(t).cast("double") / T.wsTokenCount(t), 6).as("chars_per_tok"))
      .orderBy("doc_id")
  }

  private val tokensSql =
    """SELECT doc_id,
      | len(string_split(text, ' ')) AS ws_tokens,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS bpe_tokens,
      | ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_tok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- t_fingerprint
  private val fingerprint: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      T.fingerprint(t).as("fingerprint"),
      size(array_distinct(split(lower(t), " "))).cast("long").as("n_unique_tokens"))
      .orderBy("doc_id")
  }

  private val fingerprintSql =
    """SELECT doc_id,
      | md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
      | len(list_distinct(string_split(lower(text), ' '))) AS n_unique_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- t_length_hist
  // Power-of-two document-length histogram — the corpus shape survey
  // (truncation thresholds, outlier hunting) as one partial-agg
  // shuffle over a codegen'd bucket expression.
  private val lengthHist: Q = (s, d) =>
    Tables.documents(s, d)
      .select(floor(log2(greatest(length(col("text")), lit(1)))).cast("long").as("log2_len"))
      .groupBy("log2_len")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("log2_len")

  private val lengthHistSql =
    """SELECT CAST(FLOOR(log2(GREATEST(length(text), 1))) AS BIGINT) AS log2_len,
      | COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY log2_len""".stripMargin

  // ------------------------------------------------ t_char_entropy
  // Character-distribution Shannon entropy per doc — the classic
  // gibberish/boilerplate quality signal (low entropy = repeated
  // filler, near-max = random noise). Shape: explode to chars, two
  // partial-agg shuffles on (doc, char) and doc — no windows, no
  // joins beyond the per-doc length broadcast-sized frame. Rounded by
  // the shared FLOOR(x·10⁴+.5) formula (sum association order differs
  // across engines; the formula is the same IEEE op sequence).
  private val charEntropy: Q = (s, d) => {
    val chars = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), "")).as("ch"))
    val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val lens = counts.groupBy("doc_id").agg(sum(col("c")).as("len"))
    val p = col("c").cast(DoubleType) / col("len").cast(DoubleType)
    counts.join(lens, "doc_id")
      .groupBy("doc_id")
      .agg((-sum(p * log2(p))).as("h"), first(col("len")).as("n_chars"))
      .select(col("doc_id"),
        (floor(col("h") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("entropy_bits"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  private val charEntropySql =
    """WITH chars AS (
      |  SELECT doc_id, unnest(string_split(lower(text), '')) AS ch FROM documents),
      |counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
      |lens AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM counts GROUP BY doc_id)
      |SELECT doc_id,
      | FLOOR(-SUM((CAST(c AS DOUBLE)/CAST(len AS DOUBLE))
      |            * log2(CAST(c AS DOUBLE)/CAST(len AS DOUBLE))) * 10000.0 + 0.5)
      |   / 10000.0 AS entropy_bits,
      | MAX(len) AS n_chars
      |FROM counts JOIN lens USING (doc_id)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- t_bigram_nll
  // Perplexity proxy: per-doc mean negative log-likelihood under the
  // corpus's own bigram model, nll(w1 w2) = ln c(w1) − ln c(w1 w2)
  // (≥ 0; low = formulaic text, high = surprising/rare continuations
  // — the cheap in-corpus stand-in for an LM quality filter). Corpus
  // counts are two partial-agg shuffles; per-doc scoring joins each
  // bigram instance to the two count tables on their keys — all
  // equi-joins, no windows, linear at 100 TB.
  private val bigramNll: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), lower(col("text")).as("text"))
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bg = Dedup.shingles(docs, "doc_id", "text", k = 2)
    val c2 = bg.groupBy("shingle").agg(count(lit(1)).as("c2"))
    // score each DISTINCT bigram once (vocabulary-sized join of the
    // two count tables), then a single join maps instances to scores —
    // instance rows never join twice, and AQE broadcasts the scored
    // vocab when it fits
    val nll = log(col("c1").cast(DoubleType)) - log(col("c2").cast(DoubleType))
    val vocabScore = c2
      .withColumn("w1", element_at(split(col("shingle"), " "), 1))
      .join(uni, col("w1") === col("w"))
      .select(col("shingle"), nll.as("nll"))
    bg.join(vocabScore, "shingle")
      .groupBy("doc_id")
      .agg(sum(col("nll")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("s") / col("n_bigrams").cast(DoubleType) * lit(10000.0) + lit(0.5))
          / lit(10000.0)).as("avg_nll"))
      .orderBy("doc_id")
  }

  private val bigramNllSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w, COUNT(*) AS c1
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |-- bigram lists built IN PLACE (r20): the unnest-then-slice form
      |-- duplicates the token array per position row — the DuckDB
      |-- disk-spill wall at 1000× (it crashed the r18 wide lane)
      |bg AS (
      |  SELECT doc_id,
      |   unnest(list_transform(generate_series(1, len(t)-1), i -> t[i])) AS w1,
      |   unnest(list_transform(generate_series(1, len(t)-1),
      |     i -> t[i] || ' ' || t[i+1])) AS s FROM toks),
      |c2 AS (SELECT s, COUNT(*) AS c2 FROM bg GROUP BY s)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | FLOOR(SUM(ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE)))
      |       / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS avg_nll
      |FROM bg JOIN c2 USING (s) JOIN uni ON uni.w = bg.w1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- t_dsir_weight
  // DSIR importance weight (Xie et al., "Data Selection for Language
  // Models via Importance Resampling", NeurIPS 2023): per-doc
  // log-ratio of a hashed-unigram LM fit on a TARGET domain (source
  // 'src1' — the stand-in for "text that looks like my eval set") vs
  // the raw-corpus LM, +1-smoothed over B=256 hash buckets; sampling
  // proportional to the exponentiated weight IS importance
  // resampling. Decomposed so every ln argument is an INTEGER count
  // (the cross-engine ulp discipline of t_bigram_nll):
  //   w(doc) = Σ_b c_doc(b)·(ln(ct_b+1) − ln(cr_b+1))
  //          + n_doc·(ln(tot_r+B) − ln(tot_t+B))
  // Scale shape: two partial-agg shuffles (corpus bucket counts,
  // per-(doc,bucket) counts), the ≤B-row ratio table broadcasts, the
  // corpus totals ride a broadcast scalar frame — text never joins.
  private val dsirWeight: Q = (s, d) => {
    val B = 256L
    // ONE corpus pass (r22, guide §1.2/§2.4): the raw-corpus and
    // target-domain bucket counts are exact integer roll-ups of the
    // finer per-(doc, bucket) aggregate, so cr/ct/dc no longer each
    // re-scan + re-tokenize the corpus (and tots re-computed cr+ct a
    // 4th/5th time) — dc is aggregated once behind a shared exchange
    // and everything else rolls up from it. c1 rides dc as the
    // per-bucket count restricted to target-domain docs
    // (Σ_doc c1 = old ct, with ct=0 where no src1 doc hit the bucket
    // — the old LEFT JOIN + COALESCE semantics, join-free).
    val dc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
      .select(col("doc_id"), col("source"),
        pmod(Dedup.shingleHash(col("w")), lit(B)).as("b"))
      // explicit isnotnull(b) ABOVE the shared subtree (b is a pmod of
      // a hash of a generated token — never null): the ratio join
      // pushes isnotnull(b) into ITS copies only, which made the tots
      // branch's copy canonically different and re-scanned the corpus
      // (the d_substr reuse-blocker, lesson (a))
      .filter(col("b").isNotNull)
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("c"),
        sum(when(col("source") === "src1", lit(1L)).otherwise(lit(0L))).as("c1"))
    val ratio = dc.groupBy("b")
      .agg(sum(col("c")).as("cr"), sum(col("c1")).as("ct"))
      .withColumn("lr",
        log((col("ct") + lit(1L)).cast(DoubleType)) -
          log((col("cr") + lit(1L)).cast(DoubleType)))
    val tots = ratio.agg(sum(col("cr")).as("tot_r"), sum(col("ct")).as("tot_t"))
    // c1·0 pins c1 into this branch's copy of the dc aggregate: the
    // two consumers must project IDENTICAL columns below the
    // hash(doc_id, b) exchange or column pruning forks the subtree
    // and ReuseExchange re-scans the corpus (the d_substr r22
    // lesson). x·0 is not constant-folded (NULL semantics) and c1 is
    // never NULL, so n_tokens is bit-identical to sum(c).
    dc.join(broadcast(ratio.select("b", "lr")), "b")
      .groupBy("doc_id")
      .agg(sum(col("c") + col("c1") * lit(0L)).as("n_tokens"),
        sum(col("c").cast(DoubleType) * col("lr")).as("sw"))
      .crossJoin(broadcast(tots))
      .select(col("doc_id"), col("n_tokens"),
        (floor((col("sw") + col("n_tokens").cast(DoubleType) *
            (log((col("tot_r") + lit(B)).cast(DoubleType)) -
              log((col("tot_t") + lit(B)).cast(DoubleType))))
            * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("dsir_weight"))
      .orderBy("doc_id")
  }

  private val dsirWeightSql =
    """WITH tb AS (
      |  SELECT doc_id, source,
      |    TRY_CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 256 AS b
      |  FROM (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
      |        FROM documents)),
      |cr AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY b),
      |ct AS (SELECT b, COUNT(*) AS ct FROM tb WHERE source = 'src1' GROUP BY b),
      |ratio AS (SELECT b, cr, COALESCE(ct, 0) AS ct,
      |            ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)) - ln(CAST(cr + 1 AS DOUBLE)) AS lr
      |          FROM cr LEFT JOIN ct USING (b)),
      |tots AS (SELECT CAST(SUM(cr) AS BIGINT) AS tot_r,
      |                CAST(SUM(ct) AS BIGINT) AS tot_t FROM ratio),
      |dc AS (SELECT doc_id, b, COUNT(*) AS c FROM tb GROUP BY doc_id, b),
      |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |               SUM(CAST(c AS DOUBLE) * lr) AS sw
      |        FROM dc JOIN ratio USING (b) GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  FLOOR((sw + CAST(n_tokens AS DOUBLE) *
      |        (ln(CAST(tot_r + 256 AS DOUBLE)) - ln(CAST(tot_t + 256 AS DOUBLE))))
      |        * 10000.0 + 0.5) / 10000.0 AS dsir_weight
      |FROM agg, tots ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- d_contamination
  // Train/test contamination check: eval-split docs whose normalized
  // fingerprint also appears in the train split — the leakage audit
  // every training-data pipeline runs before shipping a split. Two
  // derived columns (split bucket, fingerprint) + one equi-join on
  // the fingerprint; no text ever shuffles, only 16-byte hashes.
  private val contamination: Q = (s, d) => {
    val bucket = Dedup.shingleHash(concat(lit("split:"), col("text"))) % 100
    val split = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    val f = Tables.documents(s, d)
      .select(col("doc_id"), split.as("split"), T.fingerprint(col("text")).as("fp"))
    val trainFps = f.filter(col("split") === "train")
      .groupBy("fp").agg(count(lit(1)).as("n_train_matches"))
    f.filter(col("split") =!= "train")
      .join(trainFps, "fp")
      .select(col("doc_id"), col("split"), col("fp"), col("n_train_matches"))
      .orderBy("doc_id")
  }

  /** The 90/5/5 train/val/test split of a document, from the md5
    * of `'split:' || text` — the decontamination oracles' one copy. */
  private val splitCaseSql =
    """CASE WHEN TRY_CAST('0x' || substr(md5('split:' || text), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
      |         WHEN TRY_CAST('0x' || substr(md5('split:' || text), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
      |         ELSE 'test' END""".stripMargin

  private val contaminationSql =
    s"""WITH f AS (SELECT doc_id,
      |    $splitCaseSql AS split,
      |    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
      |   FROM documents),
      |tr AS (SELECT fp, COUNT(*) AS n_train_matches FROM f WHERE split = 'train' GROUP BY fp)
      |SELECT f.doc_id, f.split, f.fp, tr.n_train_matches
      |FROM f JOIN tr USING (fp) WHERE f.split <> 'train'
      |ORDER BY f.doc_id""".stripMargin

  // ------------------------------------------------- d_ngram_contam
  // N-GRAM-level decontamination (the GPT-3/Llama report method):
  // an eval-split doc is contaminated in proportion to the distinct
  // token 5-grams it shares with ANY train doc — catches partial
  // leakage that d_contamination's whole-doc fingerprint misses.
  // Same hash-derived split; grams shuffle as 64-bit hashes (the
  // oracle matches on the gram string). Train grams dedup to one row
  // per distinct gram; eval grams dedup per (doc, gram); the join is
  // hash-partitioned on the gram key with no text movement.
  private val ngramContam: Q = (s, d) => {
    val bucket = Dedup.shingleHash(concat(lit("split:"), col("text"))) % 100
    val sp = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    val f = Tables.documents(s, d)
      .select(col("doc_id"), sp.as("split"), split(col("text"), " ").as("t"))
    val grams = f.select(col("doc_id"), col("split"),
        explode(T.tokenNgrams(col("t"), 5)).as("gram"))
      .select(col("doc_id"), col("split"), xxhash64(col("gram")).as("h"))
    val train = grams.filter(col("split") === "train").select("h").distinct()
    val ev = grams.filter(col("split") =!= "train")
      .select("doc_id", "split", "h").distinct()
    val sizes = ev.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    ev.join(train, "h")
      .groupBy("doc_id", "split").agg(count(lit(1)).as("n_shared"))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("split"), col("n_shared"), col("n_grams"),
        round(col("n_shared").cast("double") / col("n_grams"), 6).as("contam_frac"))
      .orderBy("doc_id")
  }

  private val ngramContamSql =
    s"""WITH f AS (SELECT doc_id,
      |    $splitCaseSql AS split,
      |    string_split(text, ' ') AS t
      |   FROM documents),
      |g AS (SELECT doc_id, split, array_to_string(t[i:i+4], ' ') AS gram
      |      FROM (SELECT doc_id, split, t, unnest(generate_series(1, len(t)-4)) AS i FROM f)),
      |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
      |ev AS (SELECT DISTINCT doc_id, split, gram FROM g WHERE split <> 'train'),
      |sz AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY doc_id),
      |sh AS (SELECT ev.doc_id, ev.split, COUNT(*) AS n_shared
      |       FROM ev JOIN tr USING (gram) GROUP BY ev.doc_id, ev.split)
      |SELECT sh.doc_id, sh.split, sh.n_shared, sz.n_grams,
      | ROUND(CAST(sh.n_shared AS DOUBLE) / sz.n_grams, 6) AS contam_frac
      |FROM sh JOIN sz USING (doc_id)
      |ORDER BY sh.doc_id""".stripMargin

  // --------------------------------------------------- t_tfidf_top
  // Distinctive vocabulary per source: tf-idf with source-level
  // document frequency (tf = occurrences within the source, df =
  // number of sources containing the token), top-3 per source with a
  // deterministic (score desc, token asc) tiebreak. Shapes: one
  // partial-agg shuffle for tf, a small (tok, df) side joined on the
  // token, the source count as a broadcast scalar (never a driver
  // constant), and the rank as a two-phase ShardedWindow.topK — no
  // task ever sorts a full source vocabulary (~10⁸⁺ rows at 100 TB):
  // phase 1 ranks within (source, token-hash shard), phase 2 ranks
  // the ≤ shards·3 survivors. ln/round are IEEE-identical in DuckDB.
  private val tfidfTop: Q = (s, d) => {
    val corpus = Tables.documents(s, d)
    // ONE corpus pass (r22, guide §1.2/§2.4): df/n_sources/scored all
    // consume the same (source, tok) count table, which previously
    // re-scanned + re-tokenized the corpus per consumer. The explicit
    // isnotnull(tok) is hoisted above the shared subtree (tok is
    // generated, never null) and every consumer references the tf
    // count through a value-identical expression, so column pruning
    // cannot fork the copies below the hash(source, tok) exchange and
    // ReuseExchange computes the tokenize+count once (the d_substr /
    // t_dsir_weight reuse discipline). tf >= 1 always (it is a count
    // over existing rows), so df and n_sources are unchanged.
    val toks = corpus
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isNotNull)
    val tf = toks.groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("tok")
      .agg(count(when(col("tf") >= lit(1L), lit(1))).as("df"))
    val ns = tf.agg(count_distinct(
      when(col("tf") >= lit(1L), col("source"))).as("n_sources"))
    val scored = tf.join(dfx, "tok")
      .crossJoin(broadcast(ns))
      .select(col("source"), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("n_sources").cast("double") / col("df")), 6)
          .as("score"))
    graft.operators.ShardedWindow.topK(scored, "source",
        Seq(col("score").desc, col("tok").asc), k = 3,
        shardOn = col("tok"), shards = Widths.of(corpus))
      .select("source", "tok", "tf", "df", "score", "rank")
      .orderBy("source", "rank")
  }

  private val tfidfTopSql =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks GROUP BY source, tok),
      |dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |ns AS (SELECT COUNT(DISTINCT source) AS n FROM tf),
      |sc AS (SELECT source, tok, tf, df,
      |        ROUND(tf * ln(CAST(n AS DOUBLE) / df), 6) AS score
      |       FROM tf JOIN dfx USING (tok) CROSS JOIN ns),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, tok ASC) AS rank
      |      FROM sc)
      |SELECT source, tok, tf, df, score, rank FROM r WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin

  // ------------------------------------------------- d_sample_budget
  // Token-budget sampling per source — the data-MIXING primitive: to
  // hit a target mixture, each source contributes documents in a
  // deterministic content-hash order until its token budget fills
  // (reproducible across runs/shards, no rand()). The running total
  // is a sharded two-phase prefix sum (ShardedWindow): the md5 order
  // key is range-sharded by its hex prefix, so no task ever sorts a
  // whole source — the cut semantics stay ordered, the sort does not
  // stay single-task.
  private val sampleBudget: Q = (s, d) => {
    val budget = 100L
    val base = Tables.documents(s, d).select(
      col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      md5(concat(lit("sample:"), col("text"))).as("k"))
    graft.operators.ShardedWindow.runningSum(base, "source",
      graft.operators.ShardedWindow.hexShard(col("k"), Widths.of(base)),
      Seq(col("k"), col("doc_id")), col("n_tok"), "cum")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs_total"),
        sum(col("n_tok")).as("tokens_total"),
        count(when(col("cum") <= budget, lit(1))).as("docs_kept"),
        coalesce(sum(when(col("cum") <= budget, col("n_tok"))), lit(0L))
          .as("tokens_kept"))
      .orderBy("source")
  }

  private val sampleBudgetSql =
    """WITH d AS (SELECT source, doc_id,
      |    len(string_split(text, ' ')) AS n_tok,
      |    md5('sample:' || text) AS k
      |   FROM documents),
      |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY k, doc_id
      |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
      |SELECT source, COUNT(*) AS docs_total,
      | CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
      | COUNT(*) FILTER (WHERE cum <= 100) AS docs_kept,
      | CAST(COALESCE(SUM(n_tok) FILTER (WHERE cum <= 100), 0) AS BIGINT) AS tokens_kept
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------- t_corpus_stats
  // Per-language dataset-card rollup: doc counts, token volume, and
  // decimal-exact mean quality — the reporting surface a corpus
  // release ships with. All partial-agg friendly (one shuffle).
  private val corpusStats: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d)
      .select(col("lang"), T.wsTokenCount(t).cast("long").as("toks"),
        length(t).cast("long").as("chars"),
        round(T.qualityScore(t), 6).cast(DecimalType(8, 6)).as("q"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        sum(col("chars")).as("total_chars"),
        round(sum(col("q")).cast(DoubleType) / count(lit(1)), 6).as("mean_quality"))
      .orderBy("lang")
  }

  private val corpusStatsSql =
    """SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      | CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      | ROUND(CAST(SUM(CAST(ROUND(
      |    LEAST(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)*0.3
      |    + CAST(len(regexp_extract_all(text, '\b(the|a|an|and|or|of|to|in|is|are)\b')) AS DOUBLE)
      |       / len(string_split(text,' ')) * 0.3
      |    + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) * 0.4, 6)
      |   AS DECIMAL(8,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------- d_split_assign
  // Deterministic stratified train/val/test assignment: hash-bucket
  // each doc (content-derived, so re-runs and re-shards agree), split
  // 90/5/5 within each language stratum. The reproducible-split
  // primitive every training-data pipeline needs — no rand(), no
  // sampleBy seed drift across executors.
  private val splitAssign: Q = (s, d) => {
    val bucket = Dedup.shingleHash(concat(lit("split:"), col("text"))) % 100
    val split = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    Tables.documents(s, d)
      .withColumn("split", split)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy("lang", "split")
  }

  private val splitAssignSql =
    """SELECT lang, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
      |FROM (SELECT lang, doc_id,
      |       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      |      FROM (SELECT lang, doc_id,
      |             TRY_CAST('0x' || substr(md5('split:' || text), 1, 15) AS BIGINT) % 100 AS b
      |            FROM documents) h) t
      |GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // ----------------------------------------------- m_multimodal_meta
  // Binary-column plumbing with stubbed decode. The stub is
  // deterministic byte math over the md5 payload, so the oracle
  // re-derives every feature from the hex digest — the mapPartitions
  // decode path itself gets hash-checked, not just row-counted.
  private val multimodal: Q = (s, d) =>
    Multimodal.features(Tables.documents(s, d)).orderBy("doc_id")

  private val multimodalSql =
    """WITH e AS (SELECT doc_id, md5(text) AS h,
      |            unnest(generate_series(0, 15)) AS i FROM documents),
      |m AS (SELECT doc_id,
      |        SUM(CAST('0x' || substr(h, 2*i + 1, 2) AS BIGINT)) AS s
      |      FROM e GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(16 AS INTEGER) AS byte_len,
      | FLOOR((m.s / 16.0) * 100 + 0.5) / 100 AS mean_byte,
      | CAST(d.doc_id % 64 + 16 AS INTEGER) AS width,
      | CAST(d.doc_id % 48 + 16 AS INTEGER) AS height,
      | FLOOR(CAST(d.doc_id % 64 + 16 AS DOUBLE) / (d.doc_id % 48 + 16) * 1000 + 0.5)
      |   / 1000 AS aspect_q
      |FROM documents d JOIN m USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- m_phash_dup
  // Perceptual-hash media dedup: quantize the decoded features
  // (mean-byte band × aspect band — the stub's stand-in for a real
  // pHash's coarse frequency bands) into a 1-byte-ish bucket and
  // group media whose bands collide — the "visually same-ish" tier
  // between exact payload hash and embedding similarity. Shape: the
  // batched decode (mapPartitions) then ONE partial-agg shuffle on
  // the tiny band key; the oracle replays the stub decode + banding
  // from the md5 byte stream.
  private val phashDup: Q = (s, d) => {
    val f = Multimodal.features(Tables.documents(s, d))
    f.select(col("doc_id"),
        (floor(col("mean_byte") / 16) * 16 +
          floor(col("aspect_q") * lit(2.0d))).cast("long").as("phash"))
      .groupBy("phash")
      .agg(count(lit(1)).as("n_media"), min(col("doc_id")).as("keeper_id"))
      .filter(col("n_media") > 1)
      .orderBy("phash")
  }

  private val phashDupSql =
    """WITH e AS (SELECT doc_id, md5(text) AS h,
      |            unnest(generate_series(0, 15)) AS i FROM documents),
      |m AS (SELECT doc_id,
      |        SUM(CAST('0x' || substr(h, 2*i + 1, 2) AS BIGINT)) AS s
      |      FROM e GROUP BY doc_id),
      |feat AS (SELECT d.doc_id,
      |          FLOOR((m.s / 16.0) * 100 + 0.5) / 100 AS mean_byte,
      |          FLOOR(CAST(d.doc_id % 64 + 16 AS DOUBLE) / (d.doc_id % 48 + 16) * 1000 + 0.5)
      |            / 1000 AS aspect_q
      |         FROM documents d JOIN m USING (doc_id)),
      |ph AS (SELECT doc_id,
      |        CAST(FLOOR(mean_byte / 16) * 16 + FLOOR(aspect_q * 2.0) AS BIGINT) AS phash
      |       FROM feat)
      |SELECT phash, COUNT(*) AS n_media, MIN(doc_id) AS keeper_id
      |FROM ph GROUP BY phash HAVING COUNT(*) > 1
      |ORDER BY phash""".stripMargin

  // ------------------------------------------------ m_frame_sample
  // Video frame-sampling plumbing: one row per kept frame (every 2nd
  // of n_frames = doc_id%10+1), deterministic frame fingerprints —
  // the one-to-many explode a real demuxer produces, oracle-checked.
  private val frameSample: Q = (s, d) =>
    Multimodal.frameSample(Tables.documents(s, d), stride = 2)
      .orderBy("doc_id", "frame_idx")

  // ------------------------------------------------ m_audio_chunks
  // Audio chunking plumbing: one row per fixed 10s window of each
  // clip (metadata-derived duration), last chunk truncated at clip
  // end — frameSample's audio twin, oracle-checked.
  private val audioChunks: Q = (s, d) =>
    Multimodal.audioChunks(Tables.documents(s, d), chunkMs = 10000)
      .orderBy("doc_id", "chunk_idx")

  private val audioChunksSql =
    """WITH a AS (
      |  SELECT doc_id, (doc_id % 90000) + 1000 AS duration_ms FROM documents),
      |c AS (
      |  SELECT doc_id, duration_ms,
      |   unnest(generate_series(0, (duration_ms - 1) // 10000)) AS chunk_idx
      |  FROM a)
      |SELECT doc_id, duration_ms, chunk_idx,
      | chunk_idx * 10000 AS start_ms,
      | LEAST(chunk_idx * 10000 + 10000, duration_ms) AS end_ms,
      | md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)) AS chunk_fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  private val frameSampleSql =
    """SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n_frames,
      | CAST(frame_idx AS INTEGER) AS frame_idx,
      | md5(doc_id || ':' || frame_idx) AS frame_fp
      |FROM (SELECT doc_id,
      |        unnest(generate_series(0, CAST(doc_id % 10 AS INTEGER))) AS frame_idx
      |      FROM documents)
      |WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------- m_image/audio/video_real
  // The REAL codecs under the oracle (not just spec-pinned): payload
  // bytes are generated IN-QUERY as a pure function of doc_id (the
  // attachPayload discipline — real PNG / PCM-WAV / PNG-codec-AVI
  // containers through the JDK's own encoders), then decoded by the
  // REAL codec paths (decodeImage / audioChunksReal / decodeVideo +
  // frameSampleReal), and the DECODED truths are hash-checked against
  // the generator's closed-form formula in DuckDB — the s_lsh_topk
  // plane-literal discipline applied to media. Lossless encodings
  // only (PNG pixels, PCM samples), so every decoded value is exact;
  // the lossy-codec tolerance story (MJPEG quantization) stays
  // spec-pinned in MultimodalCodecSpec where ± bounds are expressible.
  // All three are row-local mapPartitions generate→decode chains: one
  // codec init per partition, zero shuffle at any corpus size (the
  // video row's meta⋈frames join is the one tiny exception — two
  // decode passes over the same row-local stream).

  /** Two-band gray PNG per doc: left ⌊w/2⌋ columns at g1 = 3·id mod
    * 256, rest at g2 = 7·id mod 256, dims from the advisory-metadata
    * formula — mean luminance is the exact rational
    * (⌊w/2⌋·g1 + (w−⌊w/2⌋)·g2)/w, so the decoded feature is checkable
    * to the digit (flat fields alone would not prove per-pixel
    * accumulation). */
  /** doc_id stream for the media generators, FANNED OUT to the
    * [[Widths]] width of the media work when the source scan yields
    * fewer splits (guide §2.5 input skew: a single-row-group parquet
    * caps scan parallelism at ONE task, and everything downstream of
    * these ids is CPU-heavy row-local codec work — encode + decode
    * ran single-threaded on a 32-core session). Each 8-byte id
    * expands to ~8 KB of raw pixels or samples ([[MediaExpansion]])
    * that are encoded and decoded. Ids-only exchange: the media
    * payloads are generated AFTER the repartition, so no media byte
    * ever shuffles; at scale, where the corpus already arrives in
    * enough splits, this is the identity. */
  private def mediaIds(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import org.apache.spark.sql.Encoders
    val ids = Tables.documents(s, d)
      .select(col("doc_id")).as[java.lang.Long](Encoders.LONG)
      .map(_.longValue())(Encoders.scalaLong)
    Widths.raise(ids, Widths.of(ids, inflate = MediaExpansion))
  }

  /** Raw media bytes the generators build per id byte: a 16-79 ×
    * 16-63 px image (~7.5 KB of 32-bit pixels), 1-10 50 ms chunks of
    * 16-bit PCM (~4.8 KB) or 2-6 frames of 8-39 × 8-31 px (~7 KB). */
  private[graft] val MediaExpansion: Int = 1024

  private def attachImagePayload(s: SparkSession, d: String) = {
    import org.apache.spark.sql.Encoders
    val ids = mediaIds(s, d)
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // one init per partition
      it.map { id =>
        val w = (id % 64 + 16).toInt; val h = (id % 48 + 16).toInt
        val g1 = ((id * 3) % 256).toInt; val g2 = ((id * 7) % 256).toInt
        val wl = w / 2
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        // one bulk raster write (identical stored ints to per-pixel
        // setRGB on TYPE_INT_RGB; avoids w·h ColorModel dispatches)
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = if (x < wl) g1 else g2
            px(y * w + x) = (g << 16) | (g << 8) | g
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", buf)
        Multimodal.MediaRecord(id, buf.toByteArray, w, h)
      }
    }(Encoders.product[Multimodal.MediaRecord])
  }

  private val imageReal: Q = (s, d) =>
    Multimodal.decodeImage(attachImagePayload(s, d)).toDF()
      // byte_len is the PNG encoder's output size — real but not
      // closed-form; the analytic columns are the gate surface
      .select("doc_id", "width", "height", "mean_byte", "aspect_q")
      .orderBy("doc_id")

  private val imageRealSql =
    """WITH g AS (SELECT doc_id,
      |    CAST(doc_id % 64 + 16 AS BIGINT) AS w,
      |    CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |    (doc_id * 3) % 256 AS g1, (doc_id * 7) % 256 AS g2
      |  FROM documents)
      |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      | FLOOR(CAST((w // 2) * g1 + (w - w // 2) * g2 AS DOUBLE) / w * 100 + 0.5)
      |   / 100 AS mean_byte,
      | FLOOR(CAST(w AS DOUBLE) / h * 1000 + 0.5) / 1000 AS aspect_q
      |FROM g ORDER BY doc_id""".stripMargin

  /** PCM 16-bit 8 kHz mono WAV per doc: n = id mod 10 + 1 full 50 ms
    * chunks of 400 frames plus one truncated 25 ms tail chunk, chunk
    * c filled with the constant amplitude a_c = ((id + 37c) mod 100
    * + 1)·250, sign alternating by chunk (|amplitude| must not care)
    * — mean_amp per chunk is EXACTLY a_c/32768 (a power-of-two
    * division: exact in binary both engines). */
  private def attachAudioPayload(s: SparkSession, d: String) = {
    import org.apache.spark.sql.Encoders
    val ids = mediaIds(s, d)
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (id % 10 + 1).toInt
        val total = n * 400 + 200
        val pcm = new Array[Byte](total * 2)
        var f = 0
        while (f < total) {
          val c = f / 400
          val amp = (((id + c * 37L) % 100 + 1) * 250).toInt
          val smp = if (c % 2 == 1) -amp else amp
          pcm(2 * f) = (smp & 0xff).toByte
          pcm(2 * f + 1) = ((smp >> 8) & 0xff).toByte
          f += 1
        }
        // canonical 44-byte RIFF/WAVE header assembled directly (PCM16
        // mono 8 kHz) — the GENERATOR is not the codec under test, and
        // AudioSystem.write's stream plumbing was ~half the key's 100×
        // wall; the decode side still goes through javax.sound.sampled
        val out = new Array[Byte](44 + pcm.length)
        def u32(o: Int, v: Long): Unit = {
          out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
          out(o + 2) = ((v >> 16) & 0xff).toByte
          out(o + 3) = ((v >> 24) & 0xff).toByte
        }
        def u16(o: Int, v: Int): Unit = {
          out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
        }
        def cc(o: Int, str: String): Unit =
          str.getBytes("US-ASCII").copyToArray(out, o)
        cc(0, "RIFF"); u32(4, 36L + pcm.length); cc(8, "WAVE")
        cc(12, "fmt "); u32(16, 16L)
        u16(20, 1) /* PCM */; u16(22, 1) /* mono */
        u32(24, 8000L); u32(28, 16000L) /* byte rate */
        u16(32, 2) /* block align */; u16(34, 16) /* bits */
        cc(36, "data"); u32(40, pcm.length.toLong)
        pcm.copyToArray(out, 44)
        Multimodal.MediaRecord(id, out, 0, 0)
      }
    }(Encoders.product[Multimodal.MediaRecord])
  }

  private val audioReal: Q = (s, d) =>
    Multimodal.audioChunksReal(attachAudioPayload(s, d), chunkMs = 50)
      .toDF().orderBy("doc_id", "chunk_idx")

  private val audioRealSql =
    """WITH p AS (SELECT doc_id, CAST(doc_id % 10 + 1 AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, n,
      |   unnest(generate_series(0, n)) AS chunk_idx FROM p)
      |SELECT doc_id, n * 50 + 25 AS duration_ms, chunk_idx,
      | chunk_idx * 50 AS start_ms,
      | LEAST(chunk_idx * 50 + 50, n * 50 + 25) AS end_ms,
      | FLOOR(CAST(((doc_id + chunk_idx * 37) % 100 + 1) * 250 AS DOUBLE)
      |   / 32768 * 1e6 + 0.5) / 1e6 AS mean_amp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** PNG-codec AVI per doc ('PNG ' fourcc — the lossless intra-frame
    * codec real pipelines use when frame-exact truth matters; the
    * MJPEG path's quantization-tolerant checks stay in
    * MultimodalCodecSpec): n = id mod 5 + 2 flat-gray frames at
    * g_i = (11·id + 31i) mod 256, frame clock rate/scale =
    * ((id mod 4 + 1)·1000)/100 — geometry, fps, duration AND decoded
    * per-frame luminance are all closed-form. The writer mirrors the
    * RIFF layout [[Multimodal.decodeVideo]] parses (the codec spec
    * keeps its own independent generator, so encode/decode errors
    * cannot cancel). */
  private def attachVideoPayload(s: SparkSession, d: String,
                                 fourcc: String = "PNG ",
                                 imgFormat: String = "png",
                                 gradient: Boolean = false,
                                 vertical: Boolean = false,
                                 plane: Boolean = false) = {
    import org.apache.spark.sql.Encoders
    val ids = mediaIds(s, d)
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def u32(v: Long): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def cc(str: String): Array[Byte] = str.getBytes("US-ASCII")
      def chunk(cid: String, body: Array[Byte]): Array[Byte] =
        cc(cid) ++ u32(body.length.toLong) ++ body ++
          (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
      def list(typ: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", cc(typ) ++ body)
      it.map { id =>
        val w = (id % 32 + 8).toInt; val h = (id % 24 + 8).toInt
        val n = (id % 5 + 2).toInt
        val rate = ((id % 4 + 1) * 1000).toInt; val scale = 100
        val frames = (0 until n).map { i =>
          val g = ((id * 11 + i * 31L) % 256).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          // bulk raster write, as in attachImagePayload (identical
          // stored ints; one setRGB call instead of w·h)
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // gradient mode: a clip-free horizontal ramp g%64 +
              // slope·x (slope 1..3, max 63 + 3·38 < 255) whose frame
              // mean is CLOSED-FORM (g%64 + slope·(w−1)/2) — pins the
              // lossy decode on spatial content, not just the DC of a
              // flat field
              // vertical mode (r19): slope runs along y — the row-stride
              // twin of the horizontal ramp (max 63 + 3·30 < 255, still
              // clip-free); mean = g%64 + slope·(h−1)/2
              // plane mode (r20): BOTH axes ramp at once — v = g%64 +
              // sx·x + sy·y with DISTINCT slope laws sx = id%2+1,
              // sy = id%3+1 (max 63 + 2·38 + 3·30 = 229, clip-free;
              // mean = g%64 + sx·(w−1)/2 + sy·(h−1)/2). The one raster
              // bug neither single-axis ramp catches alone is x/y
              // TRANSPOSITION (it maps each axis onto the other, so
              // either lone ramp stays in band on the transposed walk
              // whenever the mean survives the axis swap); with sx≠sy
              // a transposed decode shifts this mean by
              // (sx−sy)·(h−w)/2 — out of band for most (id, geometry).
              val v =
                if (plane) (g % 64) + (id % 2 + 1).toInt * x +
                  (id % 3 + 1).toInt * y
                else if (gradient && vertical) (g % 64) + (id % 3 + 1).toInt * y
                else if (gradient) (g % 64) + (id % 3 + 1).toInt * x
                else g
              px(y * w + x) = (v << 16) | (v << 8) | v
              x += 1
            }
            y += 1
          }
          img.setRGB(0, 0, w, h, px, 0, w)
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, imgFormat, buf)
          buf.toByteArray
        }
        // standard 56-byte AVIMAINHEADER (dwWidth/dwHeight at +32/+36);
        // parseAvi treats avih as advisory, but the container is real
        val avih = chunk("avih", u32(1000000L * scale / rate) ++
          Array.fill(28)(0.toByte) ++ u32(w.toLong) ++ u32(h.toLong) ++
          Array.fill(16)(0.toByte))
        val strh = chunk("strh", cc("vids") ++ cc(fourcc) ++ u32(0) ++
          u32(0) ++ u32(0) ++ u32(scale.toLong) ++ u32(rate.toLong) ++
          u32(0) ++ u32(n.toLong) ++ u32(0) ++ u32(0) ++ u32(0) ++
          Array.fill(8)(0.toByte))
        val strf = chunk("strf", u32(40) ++ u32(w.toLong) ++ u32(h.toLong) ++
          u32(0x00180001L) ++ cc(fourcc) ++ u32(w.toLong * h * 3) ++
          Array.fill(16)(0.toByte))
        val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
        val movi = list("movi", frames.flatMap(fb => chunk("00dc", fb)).toArray)
        val body = cc("AVI ") ++ hdrl ++ movi
        val out = new java.io.ByteArrayOutputStream()
        out.write(cc("RIFF")); out.write(u32(body.length.toLong)); out.write(body)
        Multimodal.MediaRecord(id, out.toByteArray, w, h)
      }
    }(Encoders.product[Multimodal.MediaRecord])
  }

  private val videoReal: Q = (s, d) => {
    val media = attachVideoPayload(s, d)
    val meta = Multimodal.decodeVideo(media).toDF()
      .select(col("doc_id"), col("fps_q"), col("duration_ms"))
    Multimodal.frameSampleReal(media, stride = 2).toDF()
      // frame_fp is the md5 of the decoded pixel stream — real but not
      // SQL-expressible; the analytic columns are the gate surface
      .select("doc_id", "n_frames", "frame_idx", "width", "height",
        "mean_byte")
      .join(meta, "doc_id")
      .orderBy("doc_id", "frame_idx")
  }

  /** The generated video corpus's per-doc geometry and clock (`v`)
    * and one row per frame (`f`): every video oracle's frame table. */
  private val videoFramesCtes =
    """WITH v AS (SELECT doc_id,
      |    CAST(doc_id % 32 + 8 AS INTEGER) AS width,
      |    CAST(doc_id % 24 + 8 AS INTEGER) AS height,
      |    CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames,
      |    (doc_id % 4 + 1) * 1000 AS rate
      |  FROM documents),
      |f AS (SELECT doc_id, width, height, n_frames, rate,
      |   unnest(generate_series(0, n_frames - 1)) AS frame_idx FROM v)""".stripMargin

  private val videoRealSql =
    s"""$videoFramesCtes
      |SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
      | width, height,
      | FLOOR(CAST((doc_id * 11 + frame_idx * 31) % 256 AS DOUBLE) * 100
      |   + 0.5) / 100 AS mean_byte,
      | FLOOR(CAST(rate AS DOUBLE) / 100 * 1000 + 0.5) / 1000 AS fps_q,
      | CAST(n_frames AS BIGINT) * 100 * 1000 // rate AS duration_ms
      |FROM f WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------ m_video_mjpeg
  // The LOSSY video path under the oracle (the last spec-only codec
  // path — m_video_real gates the lossless 'PNG '-codec AVI): the
  // same RIFF container, frames JPEG-encoded ('MJPG' fourcc — the
  // common real-world intra-frame codec), demuxed by the same
  // parseAvi and decoded by the same javax.imageio path. JPEG is
  // quantized, so the decoded luminance is NOT closed-form — the
  // q30/q32 sketch-verdict discipline applies: the gate surface
  // carries the lossless fields exactly (geometry, frame count, frame
  // clock — container headers don't quantize) plus a BANDED verdict
  // on the decode, in_band = |decoded mean − generated gray| ≤ 3
  // (a flat-gray frame is DC-only, so JPEG round-trip error is a
  // couple of levels at most). The oracle emits literal TRUE — the
  // hash only matches while every REAL decoded frame stays inside
  // the quantization band.
  private val videoMjpeg: Q = (s, d) => {
    val media = attachVideoPayload(s, d, fourcc = "MJPG", imgFormat = "jpg")
    val meta = Multimodal.decodeVideo(media).toDF()
      .select(col("doc_id"), col("fps_q"), col("duration_ms"))
    Multimodal.frameSampleReal(media, stride = 2).toDF()
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"),
        (abs(col("mean_byte") -
          ((col("doc_id") * 11 + col("frame_idx") * 31) % 256)
            .cast("double")) <= 3.0).as("in_band"))
      .join(meta, "doc_id")
      .orderBy("doc_id", "frame_idx")
  }

  // ------------------------------------------- m_video_mjpeg_grad
  // The lossy banded verdict on NON-CONSTANT frames (r18 — the r17
  // stretch): a flat-gray frame proves only the DC path, so this key
  // re-runs the MJPEG pipeline on clip-free horizontal RAMPS (g%64 +
  // slope·x, slope = doc_id%3+1) whose true frame mean is closed-form
  // g%64 + slope·(w−1)/2. JPEG preserves the mean through the
  // per-block DC (quantization error well under a gray level at the
  // encoder's default tables; AC truncation does not shift a mean),
  // so the same ±3 band pins the decoder on spatial content: a
  // decoder that mis-walks the raster (stride bugs, column clipping,
  // channel-order slips) shifts the ramp mean out of band where a
  // flat field would hide it. Oracle: lossless container fields exact
  // + literal-TRUE in_band (the videoMjpeg discipline).
  private val videoMjpegGrad: Q = (s, d) => {
    val media = attachVideoPayload(s, d, fourcc = "MJPG", imgFormat = "jpg",
      gradient = true)
    val meta = Multimodal.decodeVideo(media).toDF()
      .select(col("doc_id"), col("fps_q"), col("duration_ms"))
    val g0 = ((col("doc_id") * 11 + col("frame_idx") * 31) % 256) % 64
    val meanTrue = g0.cast("double") +
      (col("doc_id") % 3 + 1).cast("double") *
        (col("width") - 1).cast("double") / 2.0d
    Multimodal.frameSampleReal(media, stride = 2).toDF()
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"),
        (abs(col("mean_byte") - meanTrue) <= 3.0).as("in_band"))
      .join(meta, "doc_id")
      .orderBy("doc_id", "frame_idx")
  }

  private val videoMjpegSql =
    s"""$videoFramesCtes
      |SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
      | width, height, TRUE AS in_band,
      | FLOOR(CAST(rate AS DOUBLE) / 100 * 1000 + 0.5) / 1000 AS fps_q,
      | CAST(n_frames AS BIGINT) * 100 * 1000 // rate AS duration_ms
      |FROM f WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------ m_video_mjpeg_gradv
  // The VERTICAL-ramp twin (r19 — the r18 stretch): v = g%64 +
  // slope·y, mean = g%64 + slope·(h−1)/2. The horizontal ramp pins
  // column walks (stride-by-x bugs); a vertical slope catches
  // row-stride bugs symmetrically — a decoder that drops/duplicates
  // raster ROWS shifts this mean while leaving the horizontal key in
  // band. Same ±3 banded verdict, same literal-TRUE oracle.
  private val videoMjpegGradV: Q = (s, d) => {
    val media = attachVideoPayload(s, d, fourcc = "MJPG", imgFormat = "jpg",
      gradient = true, vertical = true)
    val meta = Multimodal.decodeVideo(media).toDF()
      .select(col("doc_id"), col("fps_q"), col("duration_ms"))
    val g0 = ((col("doc_id") * 11 + col("frame_idx") * 31) % 256) % 64
    val meanTrue = g0.cast("double") +
      (col("doc_id") % 3 + 1).cast("double") *
        (col("height") - 1).cast("double") / 2.0d
    Multimodal.frameSampleReal(media, stride = 2).toDF()
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"),
        (abs(col("mean_byte") - meanTrue) <= 3.0).as("in_band"))
      .join(meta, "doc_id")
      .orderBy("doc_id", "frame_idx")
  }

  // ------------------------------------------ m_video_mjpeg_plane
  // The 2-D ramp (r20 — the r19 stretch): v = g%64 + sx·x + sy·y with
  // DISTINCT slope laws sx = id%2+1, sy = id%3+1 — one key subsuming
  // both single-axis gradient twins (the mean pins column AND row
  // clips/drops at once: mean = g%64 + sx·(w−1)/2 + sy·(h−1)/2), PLUS
  // the surface neither twin can carry: mean_byte is a pixel-MULTISET
  // statistic, so a decode that TRANSPOSES the raster (or re-orders
  // it without dropping pixels) leaves every mean-based verdict in
  // band. The per-axis first moments from frameMomentsReal are
  // order-sensitive — slope_x ≈ sx, slope_y ≈ sy on a faithful walk,
  // SWAPPED on a transposed one — and with sx ≠ sy on 2/3 of docs the
  // swap is an off-by-≥1 slope error against a ±0.5 band (JPEG's
  // low-frequency ramp error measured ≪ 0.1 slope units). Oracle:
  // lossless container fields exact + literal-TRUE verdicts (the
  // videoMjpeg discipline).
  private val videoMjpegPlane: Q = (s, d) => {
    val media = attachVideoPayload(s, d, fourcc = "MJPG", imgFormat = "jpg",
      plane = true)
    val meta = Multimodal.decodeVideo(media).toDF()
      .select(col("doc_id"), col("fps_q"), col("duration_ms"))
    val g0 = ((col("doc_id") * 11 + col("frame_idx") * 31) % 256) % 64
    val sx = (col("doc_id") % 2 + 1).cast("double")
    val sy = (col("doc_id") % 3 + 1).cast("double")
    val meanTrue = g0.cast("double") +
      sx * (col("width") - 1).cast("double") / 2.0d +
      sy * (col("height") - 1).cast("double") / 2.0d
    Multimodal.frameMomentsReal(media, stride = 2).toDF()
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"),
        (abs(col("mean_byte") - meanTrue) <= 3.0).as("in_band"),
        (abs(col("slope_x") - sx) <= 0.5).as("sx_ok"),
        (abs(col("slope_y") - sy) <= 0.5).as("sy_ok"))
      .join(meta, "doc_id")
      .orderBy("doc_id", "frame_idx")
  }

  private val videoMjpegPlaneSql =
    s"""$videoFramesCtes
      |SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
      | width, height, TRUE AS in_band, TRUE AS sx_ok, TRUE AS sy_ok,
      | FLOOR(CAST(rate AS DOUBLE) / 100 * 1000 + 0.5) / 1000 AS fps_q,
      | CAST(n_frames AS BIGINT) * 100 * 1000 // rate AS duration_ms
      |FROM f WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------- m_frame_dup
  // CROSS-MODAL real-pixel dedup UNDER THE ORACLE (the r15 stretch
  // made a gate key): the m_video_real AVI corpus demuxed, every
  // frame DECODED (javax.imageio PNG), fingerprinted over the decoded
  // pixel stream, and exact-deduped on fingerprint collision — the
  // MultimodalCodecSpec cross-video loop with a closed-form truth.
  // The generator's flat-gray frames make collision SQL-expressible:
  // the fp hashes only the raw pixel byte stream, so two frames
  // collide iff (width·height, gray) match — INCLUDING across
  // different geometries with equal pixel count (12×8 ≡ 8×12), which
  // the oracle groups by npx, not (w, h). Keeper = lexicographic min
  // (doc_id, frame_idx) per collision group; one output row per
  // DROPPED frame. gray is the REAL decoded mean luminance (flat
  // frames: exactly g), so the hash ties the actual decode into the
  // dedup decision. Row-local decode → one window over fp groups
  // (bounded by dup-cluster size, never corpus-sized) — media
  // payloads stay off every exchange.
  private val frameDup: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val frames = Multimodal.frameSampleReal(attachVideoPayload(s, d),
        stride = 1)
      .toDF().select(col("doc_id"), col("frame_idx"),
        col("mean_byte"), col("frame_fp"))
    val wFp = Window.partitionBy("frame_fp")
    frames
      .withColumn("n_members", count(lit(1)).over(wFp))
      .withColumn("k", min(struct(col("doc_id"), col("frame_idx"))).over(wFp))
      .filter(col("n_members") >= 2 &&
        !(col("doc_id") === col("k.doc_id") &&
          col("frame_idx") === col("k.frame_idx")))
      .select(col("doc_id"), col("frame_idx"), col("mean_byte").as("gray"),
        col("k.doc_id").as("keep_doc"), col("k.frame_idx").as("keep_frame"),
        col("n_members"))
      .orderBy("doc_id", "frame_idx")
  }

  private val frameDupSql =
    """WITH v AS (SELECT doc_id,
      |    CAST(doc_id % 32 + 8 AS INTEGER) AS width,
      |    CAST(doc_id % 24 + 8 AS INTEGER) AS height,
      |    CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames
      |  FROM documents),
      |f AS (SELECT doc_id, width * height AS npx,
      |   unnest(generate_series(0, n_frames - 1)) AS frame_idx FROM v),
      |g AS (SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, npx,
      |   (doc_id * 11 + frame_idx * 31) % 256 AS gray FROM f),
      |k AS (SELECT npx, gray, COUNT(*) AS n_members,
      |   MIN(doc_id) AS keep_doc
      |  FROM g GROUP BY npx, gray HAVING COUNT(*) >= 2),
      |kf AS (SELECT k.npx, k.gray, k.n_members, k.keep_doc,
      |    MIN(g.frame_idx) AS keep_frame
      |  FROM k JOIN g ON g.doc_id = k.keep_doc
      |    AND g.npx = k.npx AND g.gray = k.gray
      |  GROUP BY k.npx, k.gray, k.n_members, k.keep_doc)
      |SELECT g.doc_id, g.frame_idx, CAST(g.gray AS DOUBLE) AS gray,
      | kf.keep_doc, kf.keep_frame, kf.n_members
      |FROM g JOIN kf USING (npx, gray)
      |WHERE NOT (g.doc_id = kf.keep_doc AND g.frame_idx = kf.keep_frame)
      |ORDER BY g.doc_id, g.frame_idx""".stripMargin

  // ------------------------------------------------ s_centroid_dist
  // Per-label centroids (position-exploded partial agg — one shuffle
  // on (label, pos); at 100 TB this is the map-side-combinable way to
  // average vectors) + distance of the first 50 vectors to their own
  // centroid.
  private val centroidDist: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val flat = emb.select(col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val centroid = flat.groupBy("label", "pos")
      .agg((sum(col("x")) / count(lit(1))).as("c"))
    flat.filter(col("vec_id") < 50)
      .join(centroid, Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(round(sqrt(sum((col("x") - col("c")) * (col("x") - col("c")))), 4).as("dist"))
      .orderBy("vec_id")
  }

  private val centroidDistSql =
    """WITH flat AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |               unnest(generate_series(1, len(embedding))) AS pos
      |              FROM embeddings),
      |centroid AS (SELECT label, pos, SUM(x)/COUNT(*) AS c
      |             FROM flat GROUP BY label, pos)
      |SELECT f.vec_id, f.label, ROUND(sqrt(SUM((f.x - c.c)*(f.x - c.c))), 4) AS dist
      |FROM flat f JOIN centroid c ON f.label = c.label AND f.pos = c.pos
      |WHERE f.vec_id < 50
      |GROUP BY f.vec_id, f.label ORDER BY f.vec_id""".stripMargin

  // -------------------------------------------------- t_bigram_top
  private val bigramTop: Q = (s, d) =>
    Dedup.shingles(Tables.documents(s, d), "doc_id", "text", 2)
      .groupBy(col("shingle").as("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val bigramTopSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |starts AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i FROM toks),
      |sh AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram FROM starts)
      |SELECT bigram, COUNT(*) AS n FROM sh
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  // --------------------------------------------------- t_pii_scrub
  // Text-cleaning pass: mask digit runs and a deny-listed token —
  // regexp_replace is codegen'd and identical in RE2/Java for these
  // patterns.
  private val piiScrub: Q = (s, d) => {
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), "[0-9]+", "<num>"),
      "\\bkey\\b", "<redacted>")
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(scrubbed).as("scrubbed_hash"),
      (scrubbed =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  private val piiScrubSql =
    """SELECT doc_id,
      | md5(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
      |     '\bkey\b', '<redacted>', 'g')) AS scrubbed_hash,
      | regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
      |     '\bkey\b', '<redacted>', 'g') <> text AS changed
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- t_repetition
  // Gopher-style within-doc repetition filters re-expressed over
  // token n-grams (the corpus is single-line, so line/paragraph
  // variants are degenerate): fraction of tokens claimed by the most
  // frequent bigram (2*cnt/n, overlap-unaware like the character
  // variant in the paper) and the fraction of token positions covered
  // by any trigram occurring >= 2 times in the doc (exact interval
  // union). ZERO-shuffle: both metrics are row-local sort+fold HOFs
  // (TextFunctions.topNgram / dupNgramCoverage) — a pure map over the
  // corpus, the shape you want when the filter runs on every document
  // of a 100-TB crawl. The oracle recomputes both via unnest+GROUP BY.
  private val repetition: Q = (s, d) => {
    val st = T.repetitionStats(col("t"), 2, 3)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), size(col("t")).as("n"), st.as("st"))
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        col("st.top_gram").as("top_bigram"),
        col("st.top_cnt").as("top_cnt"),
        round(col("st.top_cnt") * lit(2.0d) / col("n"), 6)
          .as("top_bigram_frac"),
        round(col("st.dup_covered").cast("double") / col("n"), 6)
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** ROW-LOCAL duplicate-k-gram coverage CTE chain (r20): the
    * unnest + GROUP BY (doc_id, gram) + self-join replay spilled
    * ~30-60GB of string hash tables at 5M docs (DuckDB side — it took
    * the r18 wide lane's disk down and t_repetition's r20 re-check
    * with it). This emits the SAME exact interval-union semantics as
    * pure list lambdas over each row — sort the row's gram list, find
    * runs ≥ 2, union their [i, i+k−1] spans — zero aggregation state,
    * mirroring the Spark side's RepetitionStats row-local fold.
    * Emits CTEs `${p}g/${p}s/${p}r/${p}d/${p}cov`; read
    * `${p}cov(doc_id, nc)`. `srcRel` must expose doc_id and the
    * token-list column `tCol`. */
  private def dupCovCtes(p: String, srcRel: String, tCol: String,
                         k: Int): String = {
    val gram = (0 until k).map(j => s"$tCol[i+$j]").mkString(" || ' ' || ")
    val span = (0 until k).map(j => s"i+$j").mkString(", ")
    s"""${p}g AS (SELECT doc_id, list_transform(
       |    generate_series(1, len($tCol)-${k - 1}), i -> $gram) AS gl
       |  FROM $srcRel),
       |${p}s AS (SELECT doc_id, gl, list_sort(gl) AS sl FROM ${p}g),
       |${p}r AS (SELECT doc_id, gl, sl,
       |   list_filter(generate_series(1, len(sl)),
       |     i -> i = 1 OR sl[i] <> sl[i-1]) AS st FROM ${p}s),
       |${p}d AS (SELECT doc_id, gl,
       |   list_transform(list_filter(generate_series(1, len(st)),
       |       j -> COALESCE(st[j+1], len(sl)+1) - st[j] >= 2),
       |     j -> sl[st[j]]) AS ds FROM ${p}r),
       |${p}cov AS (SELECT doc_id,
       |   len(list_distinct(flatten(list_transform(
       |     list_filter(generate_series(1, len(gl)),
       |       i -> list_contains(ds, gl[i])),
       |     i -> [$span])))) AS nc FROM ${p}d)""".stripMargin
  }

  private val repetitionSql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
      |-- top bigram ROW-LOCALLY (r20, the dupCovCtes discipline): sort
      |-- the row's bigram list, run-length it; the first max in sorted
      |-- order IS the (count DESC, gram ASC) tie-break - no (doc, gram)
      |-- hash-aggregate state at any corpus size
      |bgl AS (SELECT doc_id, list_sort(list_transform(
      |    generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS sl
      |  FROM toks),
      |bst AS (SELECT doc_id, sl,
      |   list_filter(generate_series(1, len(sl)),
      |     i -> i = 1 OR sl[i] <> sl[i-1]) AS st FROM bgl),
      |blen AS (SELECT doc_id, sl, st,
      |   list_transform(generate_series(1, len(st)),
      |     j -> COALESCE(st[j+1], len(sl)+1) - st[j]) AS lens FROM bst),
      |top AS (SELECT doc_id,
      |   CASE WHEN len(lens) = 0 THEN ''
      |        ELSE sl[st[list_position(lens, list_max(lens))]] END AS top_bigram,
      |   COALESCE(list_max(lens), 0) AS top_cnt FROM blen),
      |${dupCovCtes("c", "toks", "t", 3)}
      |SELECT b.doc_id, b.n_tokens,
      | top.top_bigram, top.top_cnt,
      | ROUND(top.top_cnt * 2.0 / b.n_tokens, 6) AS top_bigram_frac,
      | ROUND(CAST(ccov.nc AS DOUBLE) / b.n_tokens, 6) AS dup_trigram_frac
      |FROM base b
      | JOIN top USING (doc_id)
      | JOIN ccov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- d_substr_dup
  // Cross-corpus duplicate-span coverage (ExactSubstr-lite): 5-gram
  // spans shared by >= 2 docs, per-doc interval-union coverage. The
  // oracle groups by the gram STRING; the Spark side shuffles a
  // 64-bit xxhash of it — same result, an engineering key choice.
  private val substrDup: Q = (s, d) =>
    Dedup.crossDocSpanCoverage(Tables.documents(s, d), "doc_id", "text",
        k = 5, minDocs = 2)
      .orderBy("doc_id")

  /** The span-coverage replay, generic over window length k and an
    * optional gram-compression wrapper (the volume ALT replaces the
    * raw window string with its md5 so the df-count/join stages carry
    * 32 bytes instead of k tokens — exact, not a sketch). */
  private def spanCoverageSql(k: Int, gramExpr: String => String = identity): String = {
    val g = gramExpr(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
       |gr AS (SELECT doc_id, $g AS g, i
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-${k - 1})) AS i FROM toks)),
       |freq AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM gr GROUP BY g)
       |         WHERE df >= 2),
       |cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS nc
       |        FROM (SELECT gr.doc_id, unnest(generate_series(gr.i, gr.i+${k - 1})) AS pos
       |              FROM gr JOIN freq USING (g))
       |        GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens, COALESCE(cov.nc, 0) AS n_covered,
       | ROUND(CAST(COALESCE(cov.nc, 0) AS DOUBLE) / b.n_tokens, 6) AS covered_frac
       |FROM base b LEFT JOIN cov USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  private val substrDupSql = spanCoverageSql(5)

  // -------------------------------------------------- d_substr_long
  // ExactSubstr at the PAPER's span semantics (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better" —
  // remove shared substrings of ≥ 50 tokens, not 5-gram confetti):
  // a pair of docs shares a ≥50-token span iff they share a 50-token
  // WINDOW, so per-doc coverage = the interval union of
  // cross-doc-shared 50-grams — the same one-shuffle gram machinery
  // as d_substr_dup at k = 50 (window strings reduce to an 8-byte
  // xxhash before the document-frequency count; only start positions
  // shuffle back). Docs under 50 tokens cover 0 by definition. The
  // volume ALT carries md5(window) instead of the ~50-token string
  // through the df/join stages — exact, 10× narrower.
  private val substrLong: Q = (s, d) =>
    Dedup.crossDocSpanCoverage(Tables.documents(s, d), "doc_id", "text",
        k = 50, minDocs = 2)
      .orderBy("doc_id")

  private val substrLongSql = spanCoverageSql(50)
  private val substrLongAltSql = spanCoverageSql(50, g => s"md5($g)")

  // -------------------------------------------------- t_filter_chain
  // The composed curation funnel: length floor -> language keep ->
  // quality-score floor -> repetition cap, reported as per-stage
  // in/removed/out counts from ONE conditional aggregation (operators
  // .FilterChain). The language stage keeps the LABELED lang here —
  // the corpus's marker words make the n-gram classifier degenerate
  // (everything scores 'en'); a production chain plugs T.langId in.
  // The repetition cap reuses the zero-shuffle dupNgramCoverage fold.
  private val filterChain: Q = (s, d) => {
    // tokens materialized behind a projection boundary so the
    // repetition fold reads an attribute (see crossDocSpanCoverage)
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("text"), split(col("text"), " ").as("t"))
    val n = size(col("t"))
    FilterChain.funnel(docs, Seq(
      "length" -> (n >= 20),
      "language" -> (col("lang") === "en"),
      "quality" -> (T.qualityScore(col("text")) >= 0.5d),
      "repetition" ->
        (round(T.repetitionStats(col("t"), 2, 2).getField("dup_covered")
          .cast("double") / n, 6) <= 0.2d)))
  }

  private val filterChainSql =
    s"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
      |-- ROW-LOCAL dup coverage (r20 dupCovCtes; the unnest + dup-join
      |-- replay of THIS oracle spilled 26GB+ at 5M docs and took the
      |-- r18 wide lane's disk with it)
      |${dupCovCtes("f", "toks", "t", 2)},
      |flags AS (SELECT doc_id,
      |   (len(t) >= 20) AS p1,
      |   (lang = 'en') AS p2,
      |   (ROUND(LEAST(1.0, CAST(len(t) AS DOUBLE)/100.0)*0.3
      |    + CAST(len(regexp_extract_all(text, '\\b(the|a|an|and|or|of|to|in|is|are)\\b')) AS DOUBLE)
      |       / len(t) * 0.3
      |    + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) * 0.4, 6) >= 0.5) AS p3,
      |   (ROUND(CAST(fcov.nc AS DOUBLE) / len(t), 6) <= 0.2) AS p4
      |  FROM toks JOIN fcov USING (doc_id)),
      |agg AS (SELECT COUNT(*) AS c0,
      |  COUNT(*) FILTER (WHERE p1) AS c1,
      |  COUNT(*) FILTER (WHERE p1 AND p2) AS c2,
      |  COUNT(*) FILTER (WHERE p1 AND p2 AND p3) AS c3,
      |  COUNT(*) FILTER (WHERE p1 AND p2 AND p3 AND p4) AS c4 FROM flags)
      |SELECT 1 AS stage_no, 'length' AS stage, c0 AS docs_in, c0 - c1 AS docs_removed, c1 AS docs_out FROM agg
      |UNION ALL SELECT 2, 'language', c1, c1 - c2, c2 FROM agg
      |UNION ALL SELECT 3, 'quality', c2, c2 - c3, c3 FROM agg
      |UNION ALL SELECT 4, 'repetition', c3, c3 - c4, c4 FROM agg
      |ORDER BY stage_no""".stripMargin

  // ----------------------------------------------- d_dedup_priority
  // Cross-source dedup with a source-priority KEEPER POLICY: when the
  // same normalized content appears in several sources, keep the copy
  // from the highest-priority source (alphabetical source order
  // stands in for the configured quality rank — wiki over web over
  // crawl), breaking ties toward the lowest doc id. One struct-min
  // partial agg on the fingerprint — the keeper choice never
  // re-sorts a group.
  private val dedupPriority: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(struct(col("source"), col("doc_id"))).as("_k"))
      .filter(col("n_copies") > 1)
      .select(col("fp"), col("n_copies"), col("n_sources"),
        col("_k.source").as("keeper_source"), col("_k.doc_id").as("keeper_id"))
      .orderBy("fp")
  }

  private val dedupPrioritySql =
    """WITH f AS (SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
      |   FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp
      |        ORDER BY source, doc_id) AS rn FROM f),
      |g AS (SELECT fp, COUNT(*) AS n_copies,
      |       COUNT(DISTINCT source) AS n_sources
      |      FROM f GROUP BY fp HAVING COUNT(*) > 1)
      |SELECT g.fp, g.n_copies, g.n_sources,
      | r.source AS keeper_source, r.doc_id AS keeper_id
      |FROM g JOIN r ON g.fp = r.fp AND r.rn = 1
      |ORDER BY g.fp""".stripMargin

  // -------------------------------------------------- t_doc_chunk
  // Document chunking — the missing half of sequence packing: long
  // documents split into max-length windows with overlap (stride =
  // max_len − overlap), short ones pass through whole. Row-local
  // explode of a computed range — no shuffle at all; chunk boundaries
  // are pure token arithmetic, so the replay is exact.
  private val docChunk: Q = (s, d) => {
    val maxLen = 50L
    val stride = 40L // overlap 10
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr(s"(n_tok - 1) div $stride"))))
      .withColumn("chunk_start", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        least(lit(maxLen), col("n_tok") - col("chunk_start")).as("chunk_len"),
        element_at(col("t"), (col("chunk_start") + 1).cast("int")).as("first_tok"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val docChunkSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t,
      |            len(string_split(text, ' ')) AS n_tok
      |           FROM documents),
      |c AS (SELECT doc_id, t, n_tok,
      |       unnest(generate_series(0, (n_tok - 1) // 40)) AS chunk_idx
      |      FROM t)
      |SELECT doc_id, chunk_idx, chunk_idx * 40 AS chunk_start,
      | LEAST(50, n_tok - chunk_idx * 40) AS chunk_len,
      | t[chunk_idx * 40 + 1] AS first_tok
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ----------------------------------------------- d_fingerprint_dup
  // Near-dup clusters by normalized fingerprint (word-order/dup
  // invariant): the cheap set-identity tier between exact-hash and
  // MinHash.
  private val fingerprintDup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(graft.functions.TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
      .filter(col("n_docs") > 1)
      .orderBy("fingerprint")

  private val fingerprintDupSql =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
      | COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY fingerprint""".stripMargin

  // ------------------------------------------------- d_bloom_contam
  // The contamination audit at fleet scale: when the train-fingerprint
  // set is too large to broadcast as a join side, a Bloom sketch of it
  // broadcasts instead (MBs for 10⁹ fps) and prefilters eval docs
  // row-locally; the exact join then processes only the matches plus
  // the fpp sliver. The gate proves the two-phase path is EXACT — the
  // oracle is the plain one-join decontamination (no false negatives
  // by construction, false positives killed by the exact stage).
  private val bloomContam: Q = (s, d) => {
    val bucket = Dedup.shingleHash(concat(lit("split:"), col("text"))) % 100
    val sp = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    // materialize (doc_id, split, fp) ONCE: the sketch build (a
    // driver-side action), the exact match-count agg and the eval
    // probe all read it — without this the corpus is fingerprinted
    // three times (measured 3.7 s → 1.6 s at sf0.1). At 100 TB this
    // is the persisted fingerprint table, same discipline as the
    // minhash signature store.
    // LAZY checkpoint + count(): ONE job both materializes the
    // fingerprint table and yields the row count that sizes the
    // sketch (total rows ≥ train keys — an 11% oversize beats a
    // second scan; at fleet scale this number comes from the
    // persisted table's statistics)
    val f = Tables.documents(s, d)
      .select(col("doc_id"), sp.as("split"), T.fingerprint(col("text")).as("fp"))
      .localCheckpoint(eager = false)
    val nAll = f.count()
    val train = f.filter(col("split") === "train")
    val trainFps = train.groupBy("fp").agg(count(lit(1)).as("n_train_matches"))
    val bf = BloomAuth.build(train.select("fp"), "fp",
      expectedKeys = math.max(1000L, nAll), fpp = 0.03)
    f.filter(col("split") =!= "train")
      .filter(BloomAuth.mightContain(bf, col("fp"),
        org.apache.spark.sql.types.StringType))
      .join(trainFps, "fp")
      .select(col("doc_id"), col("split"), col("fp"), col("n_train_matches"))
      .orderBy("doc_id")
  }

  // identical semantics to d_contamination — deliberately: the oracle
  // pins that the bloom-prefiltered plan loses/invents nothing
  private val bloomContamSql = contaminationSql

  // ---------------------------------------------------------- t_zipf
  // Zipf coefficient per source: −slope of the least-squares fit of
  // ln(freq) on ln(rank) over the top-50 tokens (≈1 for natural
  // text; a strong deviation flags templated/synthetic corpora — a
  // dataset-card statistic next to t_corpus_stats).
  //
  // Determinism: ln values are rounded(6) per row and cast to
  // DECIMAL(12,6), so Σx/Σy/Σxy/Σx² are EXACT decimal sums
  // (association-order-free); the slope arithmetic then runs in
  // DOUBLE identically in both engines, with the shared
  // FLOOR(x·10⁴+.5) rounding. The top-50 rank is a two-phase
  // ShardedWindow.topK (shard-local top-50, then rank the bounded
  // survivor set) — no task sorts a full source vocabulary, same
  // posture fix as t_tfidf_top.
  private val zipfSlope: Q = (s, d) => {
    val corpus = Tables.documents(s, d)
    val toks = corpus
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val freq = toks.groupBy("source", "tok").agg(count(lit(1)).as("f"))
    val xy = graft.operators.ShardedWindow.topK(freq, "source",
        Seq(col("f").desc, col("tok")), k = 50,
        shardOn = col("tok"), shards = Widths.of(corpus), rankOut = "r")
      .select(col("source"),
        round(log(col("r").cast(DoubleType)), 6).cast(DecimalType(12, 6)).as("x"),
        round(log(col("f").cast(DoubleType)), 6).cast(DecimalType(12, 6)).as("y"))
    val sums = xy.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
      sum(col("x") * col("x")).cast(DoubleType).as("sxx"))
    val nD = col("n").cast(DoubleType)
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    // n == 1 ⇒ 0/0 slope: Spark doubles give NaN, DuckDB NULL — guard
    // the degenerate single-token vocabulary out on BOTH sides
    sums.filter(col("n") >= 2)
      .select(col("source"), col("n"),
        (floor(-slope * 1e4 + 0.5) / 1e4).as("zipf_coef"))
      .orderBy("source")
  }

  private val zipfSlopeSql =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |tf AS (SELECT source, tok, COUNT(*) AS f FROM toks
      |       WHERE tok <> '' GROUP BY source, tok),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |         ORDER BY f DESC, tok) AS r FROM tf),
      |xy AS (SELECT source,
      |        CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
      |        CAST(ROUND(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
      |       FROM rk WHERE r <= 50),
      |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |       CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx
      |      FROM xy GROUP BY source)
      |SELECT source, n,
      | FLOOR(-((CAST(n AS DOUBLE)*sxy - sx*sy)
      |         / (CAST(n AS DOUBLE)*sxx - sx*sx)) * 10000 + 0.5) / 10000
      |   AS zipf_coef
      |FROM s WHERE n >= 2 ORDER BY source""".stripMargin

  // ------------------------------------------------- s_block_profile
  // CROSS-MODAL curation view: per semantic LSH block (the same
  // deterministic sign-bit blocks d_semdedup pairs within), the TEXT
  // profile of its members — doc count, token volume, decimal-exact
  // mean quality. This is the "what's inside each embedding
  // neighborhood" report a curation team reads to find low-quality
  // semantic clusters worth downsampling (cluster-then-inspect). One
  // equi-join of 8-byte ids (embedding side carries only the bucket)
  // + one partial-agg shuffle; block count is bounded by 2^planes, so
  // the report is tiny at any corpus size.
  private val blockProfile: Q = (s, d) => {
    val planes = Similarity.hyperplanes(6, 64)
    val blocks = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        Similarity.lshBucket(col("embedding"), planes).cast("long").as("bucket"))
    val t = col("text")
    val q = Tables.documents(s, d).select(col("doc_id"),
      T.wsTokenCount(t).cast("long").as("toks"),
      round(T.qualityScore(t), 6).cast(DecimalType(8, 6)).as("q"))
    blocks.join(q, "doc_id")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        // small buckets make sum(q)/n hit exact .0000005 midpoints
        // (6-decimal sum over a dyadic count) — shared FLOOR cut
        (floor(sum(col("q")).cast(DoubleType) / count(lit(1)) * 1e6 + 0.5) / 1e6)
          .as("mean_quality"))
      .orderBy("bucket")
  }

  private val blockProfileSql =
    s"""WITH $flatCte,
       |$semBucketCtes,
       |q AS (SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |       CAST(ROUND(
       |         LEAST(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)*0.3
       |         + CAST(len(regexp_extract_all(text, '\\b(the|a|an|and|or|of|to|in|is|are)\\b')) AS DOUBLE)
       |            / len(string_split(text,' ')) * 0.3
       |         + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) * 0.4, 6)
       |        AS DECIMAL(8,6)) AS q
       |      FROM documents)
       |SELECT b.bucket, COUNT(*) AS n_docs,
       | CAST(SUM(q.toks) AS BIGINT) AS total_tokens,
       | FLOOR(CAST(SUM(q.q) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
       |   / 1000000 AS mean_quality
       |FROM buckets b JOIN q ON q.doc_id = b.vec_id
       |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin

  // ------------------------------------------------ d_neardup_contam
  // FUZZY cross-split decontamination: eval/val docs with a MinHash-
  // LSH near-duplicate in the train split — catches paraphrase-level
  // leakage that exact fingerprints (d_contamination) and shared
  // n-grams (d_ngram_contam) frame differently. Reuses the session
  // signature store: the candidate pairs are the SAME frame the
  // lsh/estimate/cluster queries read, so this query adds one
  // split-tag join on 8-byte ids — at 100 TB the decontamination
  // pass rides the already-materialized pair table.
  private val neardupContam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bucket = Dedup.shingleHash(concat(lit("split:"), col("text"))) % 100
    val sp = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    val splits = docs.select(col("doc_id"), sp.as("split"))
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
    val sym = pairs.select(col("id1").as("eval_id"), col("id2").as("other_id"))
      .unionAll(pairs.select(col("id2").as("eval_id"), col("id1").as("other_id")))
    sym
      .join(splits.withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .filter(col("split") =!= "train")
      .join(splits.select(col("doc_id").as("other_id"),
        col("split").as("other_split")), "other_id")
      .filter(col("other_split") === "train")
      .groupBy("eval_id", "split")
      .agg(count(lit(1)).as("n_train_neardups"))
      .orderBy("eval_id")
  }

  private val neardupContamSql =
    s"""${minhashBandCtes()},
       |${minhashPairsCte()},
       |sym AS (SELECT id1 AS eval_id, id2 AS other_id FROM pairs
       |        UNION ALL SELECT id2, id1 FROM pairs),
       |sp AS (SELECT doc_id,
       |    $splitCaseSql AS split
       |   FROM documents)
       |SELECT y.eval_id, se.split, COUNT(*) AS n_train_neardups
       |FROM sym y JOIN sp se ON se.doc_id = y.eval_id
       |           JOIN sp so ON so.doc_id = y.other_id
       |WHERE se.split <> 'train' AND so.split = 'train'
       |GROUP BY y.eval_id, se.split
       |ORDER BY y.eval_id""".stripMargin

  // ------------------------------------------------- d_source_overlap
  // Pairwise source-overlap matrix: for each ordered source pair,
  // how many of src_a's distinct fingerprints also appear in src_b
  // (diagonal = source's own distinct-fp count) — the
  // provenance/contamination view a curation team reads before
  // mixing sources. Only 16-byte hashes shuffle; the fp self-join
  // expands each fingerprint by at most (#sources that share it)²,
  // bounded by the source count, never by corpus size. overlap_frac
  // uses the shared FLOOR(x·10⁶+.5) rounding (1/128 terminates at
  // the 7th digit — an exact ROUND midpoint both engines must cut
  // identically).
  private val sourceOverlap: Q = (s, d) => {
    val f = Tables.documents(s, d)
      .select(col("source"), T.fingerprint(col("text")).as("fp")).distinct()
    val sizes = f.groupBy(col("source").as("src_a")).agg(count(lit(1)).as("n_a"))
    f.select(col("source").as("src_a"), col("fp"))
      .join(f.select(col("source").as("src_b"), col("fp")), "fp")
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes, "src_a")
      .select(col("src_a"), col("src_b"), col("n_inter"),
        (floor(col("n_inter").cast(DoubleType) / col("n_a").cast(DoubleType)
          * 1e6 + 0.5) / 1e6).as("overlap_frac"))
      .orderBy("src_a", "src_b")
  }

  private val sourceOverlapSql =
    """WITH f AS (SELECT DISTINCT source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
      |   FROM documents),
      |sz AS (SELECT source AS src_a, COUNT(*) AS n_a FROM f GROUP BY source),
      |ov AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
      |       FROM f a JOIN f b USING (fp) GROUP BY 1, 2)
      |SELECT src_a, src_b, n_inter,
      | FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000 + 0.5)
      |   / 1000000 AS overlap_frac
      |FROM ov JOIN sz USING (src_a)
      |ORDER BY src_a, src_b""".stripMargin

  // ----------------------------------------------- t_ngram_diversity
  // Bigram type-token ratio per source — the templated/synthetic-text
  // detector complementary to t_zipf: boilerplate-heavy corpora reuse
  // the same bigrams (low distinct/total), natural text stays high.
  // Distinctness is counted over the 60-bit engine-portable shingle
  // hash, so the distinct shuffle carries 8-byte keys (never bigram
  // strings — d_substr_dup discipline) and both engines agree even on
  // the (negligible) collision events.
  private val ngramDiversity: Q = (s, d) => {
    val sh = Dedup.shingles(
        Tables.documents(s, d).select(col("source"), col("text")),
        "source", "text", k = 2)
      .select(col("source"), Dedup.shingleHash(col("shingle")).as("h"))
    sh.groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("h")).as("n_distinct"))
      .select(col("source"), col("n_bigrams"), col("n_distinct"),
        (floor(col("n_distinct").cast(DoubleType) / col("n_bigrams").cast(DoubleType)
          * 1e6 + 0.5) / 1e6).as("diversity"))
      .orderBy("source")
  }

  private val ngramDiversitySql =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |starts AS (SELECT source, t, unnest(generate_series(1, len(t)-1)) AS i
      |           FROM toks),
      |sh AS (SELECT source,
      |        TRY_CAST('0x' || substr(md5(array_to_string(t[i:i+1], ' ')), 1, 15)
      |          AS BIGINT) AS h
      |       FROM starts)
      |SELECT source, COUNT(*) AS n_bigrams, COUNT(DISTINCT h) AS n_distinct,
      | FLOOR(CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |       * 1000000 + 0.5) / 1000000 AS diversity
      |FROM sh GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------- d_mix_weights
  // Temperature-sampled mixture weights — the data-MIXING policy step
  // upstream of d_sample_budget: source weights ∝ tokens^α (α = 0.5,
  // the standard temperature flattening that up-weights small
  // high-quality sources vs proportional sampling), normalized, plus
  // the per-source sampling rate that hits a global token budget
  // (rate > 1 ⇒ the source is epoch-repeated). Determinism across
  // engines: per-source √tokens is rounded(6) into DECIMAL so the
  // normalizing sum is exact and association-order-free (the t_zipf
  // discipline); the final ratios share the FLOOR(x·10⁶+.5) formula.
  // One partial-agg shuffle + a broadcast scalar join; the source
  // domain is bounded, so the report is tiny at any corpus scale.
  // Rides operators.Mixing — the same builder the live curation loop
  // (CurationLoopSpec) composes, so the gate pins the shared core.
  private val mixWeights: Q = (s, d) =>
    Mixing.sourceRates(Tables.documents(s, d), "text", "source",
        tokenBudget = 5000.0)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        (col("rate_u") / 1e6).as("sample_rate"))
      .orderBy("source")

  private val mixWeightsSql =
    """WITH per AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |   FROM documents GROUP BY source),
      |sq AS (SELECT *, CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6)
      |         AS DECIMAL(18,6)) AS s_tok FROM per),
      |tot AS (SELECT SUM(s_tok) AS tot_s FROM sq)
      |SELECT source, n_docs, n_tokens,
      | FLOOR(CAST(s_tok AS DOUBLE) / CAST(tot_s AS DOUBLE) * 1000000 + 0.5)
      |   / 1000000 AS weight,
      | FLOOR(5000.0 * (CAST(s_tok AS DOUBLE) / CAST(tot_s AS DOUBLE))
      |       / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000 AS sample_rate
      |FROM sq CROSS JOIN tot ORDER BY source""".stripMargin

  // ------------------------------------------------------ t_seq_pack
  // Sequence packing (concat-and-chunk, the standard pretraining
  // batch-prep): documents are ordered deterministically per source
  // (content hash — reproducible across reruns/shards, like
  // d_split_assign), logically concatenated, and cut into fixed
  // token-budget sequences; a doc may straddle a boundary. Per doc:
  // the sequence its first/last token lands in and the offset within
  // the first — everything a loader needs to materialize packed
  // sequences WITHOUT the engine ever concatenating text. The running
  // token total is a sharded two-phase prefix sum (ShardedWindow):
  // the 60-bit order hash is range-sharded by its top bits, each task
  // sorts ~1/S of a source, and driver-broadcast shard offsets make
  // the cumulative total exact — identical output to the logical
  // per-source window, no single-task sort at 100 TB.
  private val seqPack: Q = (s, d) => {
    val B = 512L
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"),
      T.wsTokenCount(col("text")).cast("long").as("n_tokens"),
      Dedup.shingleHash(concat(lit("pack:"), col("text"))).as("ph"))
    graft.operators.ShardedWindow.runningSum(docs, "source",
      graft.operators.ShardedWindow.hashShard60(col("ph"), Widths.of(docs)),
      Seq(col("ph"), col("doc_id")), col("n_tokens"), "cum_after")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"(cum_after - n_tokens) div $B").as("seq_first"),
        expr(s"(cum_after - 1) div $B").as("seq_last"),
        ((col("cum_after") - col("n_tokens")) % B).as("offset_in_seq"))
      .orderBy("source", "seq_first", "offset_in_seq")
  }

  private val seqPackSql =
    """WITH t AS (SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    TRY_CAST('0x' || substr(md5('pack:' || text), 1, 15) AS BIGINT) AS ph
      |   FROM documents),
      |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
      |        ORDER BY ph, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_after
      |      FROM t)
      |SELECT source, doc_id, n_tokens,
      | (cum_after - n_tokens) // 512 AS seq_first,
      | (cum_after - 1) // 512 AS seq_last,
      | (cum_after - n_tokens) % 512 AS offset_in_seq
      |FROM c ORDER BY source, seq_first, offset_in_seq""".stripMargin

  // ------------------------------------------------------ t_pack_stats
  // Packing-efficiency profile per source — the report a batch-prep
  // run emits after t_seq_pack: sequence count, token volume, how many
  // docs straddle a sequence boundary (the fragmentation number a
  // context-length choice is tuned on), and the fill rate of the
  // fixed-budget sequences (< 1 only via the final partial sequence —
  // concat-and-chunk fills interior ones by construction, so this
  // doubles as an invariant check). Rides the same sharded prefix sum
  // as t_seq_pack, then ONE partial agg on source.
  private val packStats: Q = (s, d) =>
    seqPack(s, d).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("tokens_total"),
      (max("seq_last") + lit(1L)).as("n_seqs"),
      sum(when(col("seq_last") > col("seq_first"), lit(1L)).otherwise(lit(0L)))
        .as("n_straddle"))
      .withColumn("fill_rate",
        round(col("tokens_total").cast("double") / (col("n_seqs") * lit(512L)), 6))
      .orderBy("source")

  private val packStatsSql =
    s"""SELECT source,
       | CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       | CAST(MAX(seq_last) + 1 AS BIGINT) AS n_seqs,
       | CAST(SUM(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
       | ROUND(CAST(SUM(n_tokens) AS DOUBLE) / ((MAX(seq_last) + 1) * 512), 6) AS fill_rate
       |FROM ($seqPackSql) packed
       |GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------- d_shuffle_export
  // Deterministic GLOBAL training-order shuffle + fixed-size export
  // shards — the last step before a corpus ships to the trainer: every
  // doc gets a global position in a content-seeded pseudo-random order
  // (reproducible across reruns/shards — no rand(), no seed drift) and
  // a fixed-size output shard + offset; the result is the per-shard
  // export MANIFEST (doc count, boundary docs, source mix, an
  // order-sensitive checksum that pins the within-shard ordering
  // itself). The naive form is `row_number() OVER (ORDER BY hash)` —
  // a single-task sort of the whole corpus at 100 TB. Here the global
  // position is a ShardedWindow prefix count with ONE logical group:
  // the 60-bit order hash is range-sharded by its top bits, each task
  // sorts ~1/S of the corpus, and driver-broadcast shard offsets make
  // the position exactly the global one. The query IS the
  // graft.sinks.ShardExport manifest at 100 docs per shard.
  private val shuffleExport: Q = (s, d) =>
    graft.sinks.ShardExport.manifest(
      graft.sinks.ShardExport.assign(Tables.documents(s, d), "text", "doc_id", shardSize = 100L),
      "doc_id", "source").orderBy("shard")

  private val shuffleExportSql =
    """WITH d AS (SELECT doc_id, source,
      |    TRY_CAST('0x' || substr(md5('shuffle:' || text), 1, 15) AS BIGINT) AS oh
      |   FROM documents),
      |p AS (SELECT *, ROW_NUMBER() OVER (ORDER BY oh, doc_id) AS pos FROM d)
      |SELECT (pos - 1) // 100 AS shard,
      | COUNT(*) AS n_docs,
      | min_by(doc_id, pos) AS first_doc,
      | max_by(doc_id, pos) AS last_doc,
      | COUNT(DISTINCT source) AS n_sources,
      | CAST(SUM(pos * (oh % 1000003)) AS BIGINT) AS order_sum
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- d_epoch_expand
  // Epoch-repeat materialization — the step AFTER d_mix_weights turns
  // rates into data: a per-source sampling rate (possibly > 1 ⇒
  // repeat across epochs) becomes per-doc copy counts
  // deterministically — n_copies = ⌊rate⌋ plus one more iff the doc's
  // content hash (uniform in [0, 1e6)) falls under the fractional
  // part, all in INTEGER micro-rate arithmetic after the one shared
  // floor-rounding, so both engines decide every doc identically (no
  // rand(), no per-executor seed drift; rate < 1 degenerates to
  // deterministic subsampling). Output: the per-(source, epoch)
  // materialization schedule. Scale shape: the rates frame is
  // source-cardinality (broadcast), the epoch expansion is a
  // row-local explode, then ONE partial agg.
  // Rides operators.Mixing (sourceRates → expandEpochs), the same
  // builders the live curation loop composes end-to-end.
  private val epochExpand: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"), col("text"),
      T.wsTokenCount(col("text")).cast("long").as("toks"))
    val rates = Mixing.sourceRates(docs, "text", "source", tokenBudget = 40000.0)
    Mixing.expandEpochs(docs, "text", "source", rates)
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens_out"))
      .orderBy("source", "epoch")
  }

  private val epochExpandSql =
    """WITH docs AS (SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    TRY_CAST('0x' || substr(md5('epoch:' || text), 1, 15) AS BIGINT)
      |      % 1000000 AS u
      |   FROM documents),
      |per AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |         CAST(ROUND(sqrt(CAST(SUM(toks) AS DOUBLE)), 6)
      |           AS DECIMAL(18,6)) AS s_tok
      |        FROM docs GROUP BY source),
      |tot AS (SELECT SUM(s_tok) AS tot_s FROM per),
      |rates AS (SELECT source,
      |    CAST(FLOOR(40000.0 * (CAST(s_tok AS DOUBLE) / CAST(tot_s AS DOUBLE))
      |         / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS rate_u
      |   FROM per CROSS JOIN tot),
      |c AS (SELECT d.source, d.toks,
      |       rate_u // 1000000
      |         + CASE WHEN d.u < rate_u % 1000000 THEN 1 ELSE 0 END AS n_copies
      |      FROM docs d JOIN rates r ON d.source = r.source),
      |e AS (SELECT source, toks,
      |       unnest(generate_series(0, CAST(n_copies - 1 AS INT))) AS epoch
      |      FROM c WHERE n_copies > 0)
      |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n_docs,
      | CAST(SUM(toks) AS BIGINT) AS n_tokens_out
      |FROM e GROUP BY source, epoch ORDER BY source, epoch""".stripMargin

  // ----------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "d_shuffle_export" -> shuffleExport,
    "d_epoch_expand" -> epochExpand,
    "t_ngram_diversity" -> ngramDiversity,
    "d_mix_weights" -> mixWeights,
    "t_seq_pack" -> seqPack,
    "t_pack_stats" -> packStats,
    "d_source_overlap" -> sourceOverlap,
    "d_neardup_contam" -> neardupContam,
    "s_block_profile" -> blockProfile,
    "d_cluster_purity" -> clusterPurity,
    "d_bloom_contam" -> bloomContam,
    "t_zipf" -> zipfSlope,
    "s_centroid_dist" -> centroidDist,
    "t_bigram_top" -> bigramTop,
    "t_pii_scrub" -> piiScrub,
    "d_fingerprint_dup" -> fingerprintDup,
    "d_dedup_priority" -> dedupPriority,
    "t_doc_chunk" -> docChunk,
    "d_split_assign" -> splitAssign,
    "d_exact_dup" -> exactDup,
    "d_minhash_lsh" -> minhashLsh,
    "d_stream_neardup" -> streamNearDup,
    "d_minhash_estimate" -> minhashEstimate,
    "d_dup_clusters" -> dupClusters,
    "d_simhash" -> simhash,
    "d_simhash_neardup" -> simhashNeardup,
    "d_neardup_venn" -> neardupVenn,
    "d_lsh_calibration" -> lshCalibration,
    "t_dsir_weight" -> dsirWeight,
    "d_ngram_jaccard" -> ngramJaccard,
    "d_containment_dup" -> containmentDup,
    "d_embedding_neardup" -> embNearDup,
    "d_embedding_neardup_s" -> embNearDupS,
    "s_cosine_topk" -> cosineTopK,
    "s_lsh_topk" -> lshTopK,
    "s_ivf_topk" -> ivfTopK,
    "s_pq_topk" -> pqTopK,
    "s_pq_recall" -> pqRecall,
    "d_pq_semdedup" -> pqSemDedup,
    "s_ivfpq_topk" -> ivfPqTopKQ,
    "s_ivfpq_recall" -> ivfPqRecall,
    "s_ivfpq_tuning" -> ivfPqTuning,
    "s_ivfpq_indexed" -> ivfPqIndexed,
    "s_filtered_topk" -> filteredTopK,
    "s_filtered_recall" -> filteredRecall,
    "s_reindex_topk" -> reindexTopK,
    "d_stream_pqdedup" -> streamPqDedup,
    "d_stream_pqdedup_res" -> streamPqDedupRes,
    "t_langid" -> langid,
    "t_lang_mix" -> langMix,
    "t_quality" -> quality,
    "t_tokens" -> tokens,
    "t_normalize" -> normalizeQ,
    "t_classifier_score" -> classifier,
    "t_classifier_calib" -> classifierCalib,
    "t_classifier_val" -> classifierVal,
    "t_classifier_val_q" -> classifierValQ,
    "t_fingerprint" -> fingerprint,
    "m_multimodal_meta" -> multimodal,
    "m_frame_sample" -> frameSample,
    "m_audio_chunks" -> audioChunks,
    "m_image_real" -> imageReal,
    "m_audio_real" -> audioReal,
    "m_video_real" -> videoReal,
    "m_video_mjpeg" -> videoMjpeg,
    "m_video_mjpeg_grad" -> videoMjpegGrad,
    "m_video_mjpeg_gradv" -> videoMjpegGradV,
    "m_video_mjpeg_plane" -> videoMjpegPlane,
    "m_frame_dup" -> frameDup,
    "d_dedup_apply" -> dedupApply,
    "d_contamination" -> contamination,
    "t_corpus_stats" -> corpusStats,
    "t_length_hist" -> lengthHist,
    "t_char_entropy" -> charEntropy,
    "t_bigram_nll" -> bigramNll,
    "t_repetition" -> repetition,
    "d_substr_dup" -> substrDup,
    "d_substr_long" -> substrLong,
    "t_filter_chain" -> filterChain,
    "d_ngram_contam" -> ngramContam,
    "t_tfidf_top" -> tfidfTop,
    "d_semdedup" -> semDedup,
    "d_sample_budget" -> sampleBudget,
    "m_phash_dup" -> phashDup,
    "s_lsh_recall" -> lshRecall,
    "s_ivf_recall" -> ivfRecall,
    "d_sem_clusters" -> semClusters,
    "d_source_dup_rate" -> sourceDupRate,
    "s_knn_degree" -> knnDegree)

  /** Named session-store builders with the exact parameters the gate
    * queries use. Bench times these as standalone `_store_*` keys so
    * family queries report MARGINAL cost — without this the one-time
    * build lands on whichever family query runs first alphabetically
    * and round-over-round comparisons mis-attribute it. Construction
    * alone materializes each store (the memos checkpoint eagerly);
    * every later query with the same key hits the memo. */
  def storeBuilders: Map[String, (SparkSession, String) => Unit] = Map(
    "_store_minhash" -> ((s, d) => {
      Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numPerms = 16, rowsPerBand = 4, cacheKey = Some(corpus(s, d)))
      ()
    }),
    "_store_overlap" -> ((s, d) => {
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
        k = 3, maxDocFreq = 50, minJaccard = 0.1, cacheKey = Some(corpus(s, d)))
      ()
    }),
    "_store_kmeans" -> ((s, d) => {
      Similarity.kmeansCells(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 4, trainMod = 4, cacheKey = Some(corpus(s, d)))
      ()
    }),
    "_store_pq" -> ((s, d) => { trainPq(s, d); () }),
    "_store_pqres" -> ((s, d) => { trainIvfPqResidual(s, d); () }),
    "_store_classifier" -> ((s, d) => { trainClassifier(s, d); () }),
    "_store_classifierval" -> ((s, d) => { trainHeldOut(s, d, classifierValGate); () }),
    "_store_classifiervalq" -> ((s, d) => { trainHeldOut(s, d, classifierValQGate); () }),
    "_store_exacttopk" -> ((s, d) => { exactTop3(s, d); () }),
    "_store_exactfilt" -> ((s, d) => { exactFilteredTop3(s, d); () }),
    "_store_annindex" -> ((s, d) => { annIndexDir(s, d); () }),
    "_store_annreindex" -> ((s, d) => { annReindex(s, d); () }))

  private def ivfPqTrained: Option[(Array[Array[Double]], Books)] =
    SessionStore.only(IvfPqResidual)
  private def residualBooks: Option[Books] = ivfPqTrained.map(_._2)
  private def reindexCents: Option[Array[Array[Double]]] =
    SessionStore.only[(String, Array[Array[Double]])](AnnReindex).map(_._2)

  /** Static oracles plus the centroid-interpolated IVF replay (present
    * once the s_ivf_topk query has trained — Verify runs every query
    * before dumping oracle_sql.json, so the gate always sees it).
    * Interpolation reads the SessionStore through `only`: exactly one
    * (session, sfDir) trained in this JVM (the Verify case). With
    * several trainings stored, emitting either set would hash-
    * mismatch the other dataset's parquet — degrade to the weaker
    * rows-only check instead of emitting a wrong oracle. */
  def oracle: Map[String, String] =
    staticOracle ++ (SessionStore.only[Array[Array[Double]]](IvfCents) match {
      case Some(c) =>
        Map("s_ivf_topk" -> ivfTopKSql(c), "s_ivf_recall" -> ivfRecallSql(c))
      case _ => Map.empty[String, String]
    }) ++ (SessionStore.only[Books](PqBooks) match {
      case Some(b) =>
        Map("s_pq_topk" -> pqTopKSql(b), "s_pq_recall" -> pqRecallSql(b),
          "d_pq_semdedup" -> pqSemDedupSql(b),
          // the streaming twin reconstructs the batch output from its
          // emission log — same replay, so same oracle
          "d_stream_pqdedup" -> pqSemDedupSql(b))
      case _ => Map.empty[String, String]
    }) ++ (ivfPqTrained match {
      // the composed-index replay needs the coarse centroids AND the
      // RESIDUAL codebooks (not the raw-PQ family's) of one
      // unambiguous (session, sfDir) training
      case Some((c, b)) =>
        Map("s_ivfpq_topk" -> ivfPqTopKSql(c, b),
          "s_ivfpq_recall" -> ivfPqRecallSql(c, b),
          "s_ivfpq_tuning" -> ivfPqTuningSql(c, b),
          // persisted-index search replays the SAME composed-index
          // SQL — the gate proves persist → load → search loses
          // nothing vs the in-session path
          "s_ivfpq_indexed" -> ivfPqTopKSql(c, b),
          // filtered search: same replay, candidate stream restricted
          // to the predicate slice
          "s_filtered_topk" -> ivfPqFilteredSql(c, b),
          // filtered recall: the same restricted replay measured
          // against the restricted brute force
          "s_filtered_recall" -> ivfPqFilteredRecallSql(c, b),
          // the residual streaming dedup reconstructs the BATCH
          // residual dedup from its emission log — the replay is the
          // batch query's (streaming at ingest loses nothing, in the
          // production coding mode this time)
          "d_stream_pqdedup_res" -> pqResSemDedupSql(c, b))
      case _ => Map.empty[String, String]
    }) ++ ((reindexCents, residualBooks) match {
      // the reindexed search replays the SAME generic IVFADC SQL,
      // interpolating the RE-TRAINED centroids (autoCells(n) of
      // them — the CTE builder is generic over ncells, and the
      // residual offsets re-derive from them) with the one stored
      // residual codebook training (books survive reindex; CODES
      // re-quantize, which the replay reproduces)
      case (Some(rc), Some(b)) =>
        Map("s_reindex_topk" -> ivfPqTopKSql(rc, b))
      case _ => Map.empty[String, String]
    }) ++ (SessionStore.only[graft.operators.Classifier.Fit](ClassifierFit) match {
      // the trained-classifier replay interpolates the in-JVM fit's
      // dyadic weights — same unambiguity guard as the IVF/PQ trainings
      case Some(f) =>
        Map("t_classifier_score" -> classifierSql(f),
          "t_classifier_calib" -> classifierCalibSql(f))
      case _ => Map.empty[String, String]
    }) ++ ((SessionStore.only[graft.operators.Classifier.Fit](ClassifierValFit),
        SessionStore.only[Long](ClassifierValCut)) match {
      // the held-out-validation replay interpolates the TRAIN-split
      // fit (a different training set than trainClassifier's, so a
      // separate entry with the same unambiguity guard) plus the
      // train-calibrated integer cut
      case (Some(f), Some(c)) =>
        Map("t_classifier_val" -> classifierValSql(f, c))
      case _ => Map.empty[String, String]
    }) ++ ((SessionStore.only[graft.operators.Classifier.Fit](ClassifierValQFit),
        SessionStore.only[Long](ClassifierValQCut)) match {
      // the quality-composite-seed validation replay interpolates its
      // own train-split fit (word+stat-token stream) plus the
      // train-calibrated integer cut (r19)
      case (Some(f), Some(c)) =>
        Map("t_classifier_val_q" -> classifierValQSql(f, c))
      case _ => Map.empty[String, String]
    })

  private val staticOracle: Map[String, String] = Map(
    "d_shuffle_export" -> shuffleExportSql,
    "d_epoch_expand" -> epochExpandSql,
    "d_source_dup_rate" -> sourceDupRateSql,
    "s_knn_degree" -> knnDegreeSql,
    "t_ngram_diversity" -> ngramDiversitySql,
    "d_mix_weights" -> mixWeightsSql,
    "t_seq_pack" -> seqPackSql,
    "t_pack_stats" -> packStatsSql,
    "d_source_overlap" -> sourceOverlapSql,
    "d_neardup_contam" -> neardupContamSql,
    "s_block_profile" -> blockProfileSql,
    "d_cluster_purity" -> clusterPuritySql,
    "d_bloom_contam" -> bloomContamSql,
    "t_zipf" -> zipfSlopeSql,
    "s_centroid_dist" -> centroidDistSql,
    "t_bigram_top" -> bigramTopSql,
    "t_pii_scrub" -> piiScrubSql,
    "d_fingerprint_dup" -> fingerprintDupSql,
    "d_dedup_priority" -> dedupPrioritySql,
    "t_doc_chunk" -> docChunkSql,
    "d_split_assign" -> splitAssignSql,
    "d_exact_dup" -> exactDupSql,
    "d_minhash_lsh" -> minhashLshSql,
    "d_stream_neardup" -> minhashLshSql,
    "d_minhash_estimate" -> minhashEstimateSql,
    "d_dup_clusters" -> dupClustersSql,
    "d_ngram_jaccard" -> ngramJaccardSql,
    "d_containment_dup" -> containmentDupSql,
    "d_embedding_neardup" -> embNearDupSql,
    "d_embedding_neardup_s" -> embNearDupSSql,
    "s_cosine_topk" -> cosineTopKSql,
    "t_langid" -> langidSql,
    "t_lang_mix" -> langMixSql,
    "t_quality" -> qualitySql,
    "t_tokens" -> tokensSql,
    "t_normalize" -> normalizeSql,
    "m_multimodal_meta" -> multimodalSql,
    "s_lsh_topk" -> lshTopKSql,
    "m_frame_sample" -> frameSampleSql,
    "m_audio_chunks" -> audioChunksSql,
    "m_image_real" -> imageRealSql,
    "m_audio_real" -> audioRealSql,
    "m_video_real" -> videoRealSql,
    "m_video_mjpeg" -> videoMjpegSql,
    "m_video_mjpeg_grad" -> videoMjpegSql,
    "m_video_mjpeg_gradv" -> videoMjpegSql,
    "m_video_mjpeg_plane" -> videoMjpegPlaneSql,
    "m_frame_dup" -> frameDupSql,
    "d_dedup_apply" -> dedupApplySql,
    "d_contamination" -> contaminationSql,
    "t_corpus_stats" -> corpusStatsSql,
    "t_length_hist" -> lengthHistSql,
    "t_fingerprint" -> fingerprintSql,
    "d_simhash" -> simhashSql,
    "d_simhash_neardup" -> simhashNeardupSql,
    "d_neardup_venn" -> neardupVennSql,
    "d_lsh_calibration" -> lshCalibrationSql,
    "t_dsir_weight" -> dsirWeightSql,
    "t_char_entropy" -> charEntropySql,
    "t_bigram_nll" -> bigramNllSql,
    "t_repetition" -> repetitionSql,
    "d_substr_dup" -> substrDupSql,
    "d_substr_long" -> substrLongSql,
    "t_filter_chain" -> filterChainSql,
    "d_ngram_contam" -> ngramContamSql,
    "t_tfidf_top" -> tfidfTopSql,
    "d_semdedup" -> semDedupSql,
    "d_sample_budget" -> sampleBudgetSql,
    "m_phash_dup" -> phashDupSql,
    "s_lsh_recall" -> lshRecallSql,
    "d_sem_clusters" -> semClustersSql)
}
