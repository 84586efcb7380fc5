package graft

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Dedup, FilterChain, Mixing}
import graft.sources.{EventBatchReader, RestPoller}

/** The whole LLM-data story composed LIVE — one run of the
  * reference's ingest loop feeding the curation pipeline end-to-end:
  *
  *   scripted REST history server → RestPoller windows/spool →
  *   Structured-Streaming envelope intake (the SAME EventBatchReader
  *   the batch gate verifies) → quality funnel → MinHash-LSH dedup →
  *   temperature mixing (Mixing.sourceRates) → deterministic epoch
  *   expansion → ShardExport's atomic ordered training shards.
  *
  * Every stage is spec'd alone elsewhere (RestPollerSpec,
  * OperatorsSpec, ShardExportSpec); this suite pins that they
  * COMPOSE — counts reconcile stage to stage, the planted near-dup
  * is the only doc deduped away, the epoch schedule spends the token
  * budget, and the exported shards contain exactly the expanded
  * keeper set in deterministic order. */
class CurationLoopSpec extends SparkSpec {

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z, minute-aligned
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")

  /** Scripted /history/process-instance endpoint: serves `itemsByMinute` for
    * the startedAfter/startedBefore window variant, pages honoured. */
  private class DocServer(itemsByMinute: Map[Long, Seq[String]]) {
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/history/process-instance", { ex =>
      val q = ex.getRequestURI.getRawQuery
      def param(k: String): Option[String] =
        q.split("&").collectFirst {
          case kv if kv.startsWith(k + "=") =>
            java.net.URLDecoder.decode(kv.drop(k.length + 1), StandardCharsets.UTF_8)
        }
      val all = (for {
        aft <- param("startedAfter"); bef <- param("startedBefore")
      } yield {
        val (f, t) = (Instant.from(fmt.parse(aft)).toEpochMilli,
          Instant.from(fmt.parse(bef)).toEpochMilli)
        itemsByMinute.toSeq.sortBy(_._1)
          .filter { case (m, _) => m >= f && m < t }.flatMap(_._2)
      }).getOrElse(Seq.empty) // finished* variant: nothing
      val first = param("firstResult").map(_.toInt).getOrElse(0)
      val max = param("maxResults").map(_.toInt).getOrElse(100)
      val body = ("[" + all.slice(first, first + max).mkString(",") + "]")
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    def base: String = s"http://localhost:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  /** A crawled document as a history item: text + source ride the
    * open `properties` payload (kept as raw JSON by the envelope
    * schema), id in messageId. */
  private def doc(id: String, source: String, text: String): String =
    s"""{"messageId":"$id","userId":"$source","event":"doc","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:00:00.000Z","properties":{"source":"$source","text":"$text"}}"""

  test("live loop: poll → stream intake → funnel → dedup → mix → epochs → ordered shards") {
    val w1 = "the quick brown fox jumps over the lazy dog near the river bank at dawn"
    val w2 = "the quick brown fox jumps over the lazy dog near the river bank at dusk" // near-dup of w1
    val w3 = "completely different words describing a market report for the third quarter results"
    val w4 = "mountain trails wind upward through pine forests toward the snow covered summit ridge"
    val b1 = "call me ishmael some years ago never mind how long precisely having little money"
    val b2 = "it was the best of times it was the worst of times it was the age of wisdom"
    val junk = "too short" // fails the quality funnel

    val srv = new DocServer(Map(
      T0 -> Seq(doc("w1", "web", w1), doc("w2", "web", w2), doc("w3", "web", w3)),
      T0 + 60000L -> Seq(doc("w4", "web", w4), doc("j1", "web", junk)),
      T0 + 120000L -> Seq(doc("b1", "books", b1), doc("b2", "books", b2))))
    val state = tempDir("graft_cur_state").toString
    val spool = tempDir("graft_cur_spool").toString
    val exportRoot = tempDir("graft_cur_exp").toString
    try {
      // --- ingest: catch-up poll through the durable mark, page size 2
      val cfg = RestPoller.configFromJson(
        s"""{"url":"${srv.base}","count":"2","interval":"1","history":"3","process-instance":"true"}""")
      val polled = RestPoller.catchUp(state, "crawl", spool, cfg, "wk-curate",
        nowMs = T0 + 180000L)
      assert(polled.map(_._3).sum == 7, s"served 7 docs, polled $polled")

      // --- spool-then-stream through the gate's envelope reader
      val q = EventBatchReader.explodeBatches(
          spark.readStream.text(spool).withColumnRenamed("value", "raw"), "raw")
        .writeStream.format("memory").queryName("curation_intake")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val intake = spark.table("curation_intake")
        .select(col("message_id").as("doc_id"),
          get_json_object(col("properties"), "$.source").as("source"),
          get_json_object(col("properties"), "$.text").as("text"))
        .localCheckpoint()
      assert(intake.count() == 7)
      assert(intake.where(col("text").isNull || col("source").isNull).count() == 0,
        "properties payload must survive the envelope round-trip")

      // --- quality funnel: the report reconciles with the applied filter
      val minTokens = size(split(col("text"), " ")) >= 5
      val funnel = FilterChain.funnel(intake, Seq("min_tokens" -> minTokens))
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
      assert(funnel.toSeq == Seq(("min_tokens", 7L, 6L)))
      val quality = intake.where(minTokens)

      // --- near-dup dedup: the planted pair collapses, nothing else
      val keepers = Dedup.dedupCorpus(quality, "doc_id", "text").localCheckpoint()
      val keeperIds = keepers.select("doc_id").collect().map(_.getString(0)).toSet
      assert(keeperIds == Set("w1", "w3", "w4", "b1", "b2"),
        s"w2 is the only near-dup (keeper w1): $keeperIds")

      // --- mixing: temperature weights normalize; budget > corpus ⇒ repeats
      val budget = 200.0
      val rates = Mixing.sourceRates(keepers, "text", "source", budget)
        .localCheckpoint()
      val rateRows = rates.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      assert(rateRows.map(_._1).toSet == Set("web", "books"))
      val wSum = rateRows.map(_._4).sum
      assert(math.abs(wSum - 1.0) < 1e-5, s"weights must normalize: $wSum")
      assert(rateRows.forall(_._5 > 1000000L),
        s"budget 200 over ~70 keeper tokens ⇒ every source epoch-repeats: ${rateRows.toSeq}")

      // --- deterministic epoch expansion spends the budget
      val expanded = Mixing.expandEpochs(keepers, "text", "source", rates)
        .localCheckpoint()
      val spentTokens = expanded
        .select(size(split(col("text"), " ")).cast("long").as("t"))
        .agg(sum("t")).collect()(0).getLong(0)
      assert(math.abs(spentTokens - budget) / budget < 0.35,
        s"epoch schedule should spend ~$budget tokens, spent $spentTokens")
      assert(expanded.groupBy("doc_id", "epoch").count()
        .where(col("count") > 1).isEmpty, "one row per (doc, epoch)")
      // re-run repeats every copy decision identically (no rand)
      assert(Mixing.expandEpochs(keepers, "text", "source", rates)
        .select("doc_id", "epoch").exceptAll(
          expanded.select("doc_id", "epoch")).isEmpty)

      // --- export: epoch copies become distinct trainer rows
      val trainRows = expanded.select(
        concat_ws("#", col("doc_id"), col("epoch")).as("row_id"),
        col("source"), col("text"))
      sinks.ShardExport.export(trainRows, "text", "row_id", "source",
        exportRoot, shardSize = 4L)
      val data = sinks.ShardExport.readData(spark, exportRoot).localCheckpoint()
      assert(data.count() == expanded.count(),
        "every (doc, epoch) copy lands in exactly one shard")
      assert(data.select("row_id").exceptAll(trainRows.select("row_id")).isEmpty
        && trainRows.select("row_id").exceptAll(data.select("row_id")).isEmpty)
      // manifest totals reconcile and within-shard positions are dense
      val manifest = sinks.ShardExport.readManifest(spark, exportRoot)
      assert(manifest.agg(sum("n_docs")).collect()(0).getLong(0) == expanded.count())
      val sparse = data.groupBy("shard")
        .agg(count(lit(1)).as("n"), max("pos_in_shard").as("mx"))
        .where(col("mx") =!= col("n") - 1)
      assert(sparse.isEmpty, "pos_in_shard must be dense 0..n-1 per shard")
    } finally srv.stop()
  }

  /** v2 doc payload: text + source + the doc's embedding riding the
    * open properties JSON (at ingest a real pipeline gets vectors
    * from its embedder; here they arrive with the doc). */
  private def vdoc(id: String, source: String, text: String,
                   vec: Seq[Float]): String =
    s"""{"messageId":"$id","userId":"$source","event":"doc","originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:00:00.000Z","properties":{"source":"$source","text":"$text","vec":[${vec.mkString(",")}]}}"""

  test("live loop v2: ingest → trained-classifier filter → LSH + semantic dedup vs the persisted index → mix → epochs → shards → compact") {
    import graft.operators.{AnnIndex, Classifier, Similarity}
    import graft.functions.TextFunctions
    import graft.sources.Tables

    // --- PRIOR-CORPUS artifacts, trained before any doc arrives (the
    // deployment shape: a seed corpus trains the quality classifier
    // and the serving ANN index; ingest consumes both as literals)
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val nPrior = emb.count()
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4)
    val books = Similarity.pqResidualCodebooks(emb, "vec_id", "embedding",
      cents, m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4)
    val annDir = tempDir("graft_cur2_ann").toString
    AnnIndex.write(emb, "vec_id", "embedding", annDir, "cur2_ann", cents, books)
    val seed = Tables.documents(spark, sf).withColumn("_lbl",
      Classifier.langAgreeLabel(col("text"), col("lang")))
    // the PRODUCTION scoring path (r15): unigram+bigram feature
    // stream at a wider hash table — the loop trains and scores
    // exactly what the gate's t_classifier_* keys run
    val fit = Classifier.fit(seed, "doc_id", "text", "_lbl",
      d = 256, epochs = 6, lr = 3.0, bigrams = true)
    // calibrate the ingest cut on the SEED margins (the
    // t_classifier_calib discipline): keep ≈ the top 90% — an exact
    // order statistic, deterministic because the fit is
    val seedMargins = seed.select(TextFunctions.classifierLogit(
        TextFunctions.classifierFeatures(col("text")),
        fit.weightSeq, fit.bias).as("m"))
      .orderBy("m").collect().map(_.getDouble(0))
    val cut = seedMargins((seedMargins.length / 10).max(0))

    // --- intake docs: w1/w2 plant the LSH near-dup pair; w3 carries
    // vec_id 0's EXACT embedding (the semantic dup against the
    // persisted index); the rest ride far-apart one-hot vectors
    val w1 = "the quick brown fox jumps over the lazy dog near the river bank at dawn"
    val w2 = "the quick brown fox jumps over the lazy dog near the river bank at dusk"
    val w3 = "completely different words describing a market report for the third quarter results"
    val w4 = "mountain trails wind upward through pine forests toward the snow covered summit ridge"
    val b1 = "call me ishmael some years ago never mind how long precisely having little money"
    val junk = "too short"
    def oneHot(k: Int): Seq[Float] =
      Seq.tabulate(64)(i => if (i == k) 6.0f else 0.0f)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    val srv = new DocServer(Map(
      T0 -> Seq(vdoc("w1", "web", w1, oneHot(5)),
        vdoc("w2", "web", w2, oneHot(7)),
        vdoc("w3", "web", w3, v0)),
      T0 + 60000L -> Seq(vdoc("w4", "web", w4, oneHot(21)),
        vdoc("j1", "web", junk, oneHot(33)),
        vdoc("b1", "books", b1, oneHot(47)))))
    val state = tempDir("graft_cur2_state").toString
    val spool = tempDir("graft_cur2_spool").toString
    val exportRoot = tempDir("graft_cur2_exp").toString
    try {
      val cfg = RestPoller.configFromJson(
        s"""{"url":"${srv.base}","count":"2","interval":"1","history":"3","process-instance":"true"}""")
      RestPoller.catchUp(state, "crawl2", spool, cfg, "wk-curate2",
        nowMs = T0 + 180000L)
      val q = EventBatchReader.explodeBatches(
          spark.readStream.text(spool).withColumnRenamed("value", "raw"), "raw")
        .writeStream.format("memory").queryName("curation_intake2")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val intake = spark.table("curation_intake2")
        .select(col("message_id").as("doc_id"),
          get_json_object(col("properties"), "$.source").as("source"),
          get_json_object(col("properties"), "$.text").as("text"),
          from_json(get_json_object(col("properties"), "$.vec"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("vec"))
        .localCheckpoint()
      assert(intake.count() == 6)
      assert(intake.where(col("vec").isNull).count() == 0,
        "embeddings must survive the envelope round-trip")

      // --- stage 1: quality funnel = cheap length gate THEN the
      // TRAINED classifier at the seed-calibrated cut; the funnel
      // report must reconcile with the applied filters
      val minTokens = size(split(col("text"), " ")) >= 5
      val clsKeep = TextFunctions.classifierLogit(
        TextFunctions.classifierFeatures(col("text")),
        fit.weightSeq, fit.bias) >= cut
      val funnel = FilterChain.funnel(intake,
          Seq("min_tokens" -> minTokens, "classifier" -> clsKeep))
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
      assert(funnel.head == (("min_tokens", 6L, 5L)), s"funnel: ${funnel.toSeq}")
      val afterLen = intake.where(minTokens)
      val quality = afterLen.where(clsKeep).localCheckpoint()
      assert(funnel(1)._2 == 5L && funnel(1)._3 == quality.count(),
        s"classifier stage must reconcile with its report: ${funnel.toSeq}")
      assert(!quality.select("doc_id").collect().map(_.getString(0))
        .contains("j1"), "junk must not survive the funnel")

      // --- stage 2a: LSH near-dup within the batch (w2 collapses)
      val afterLsh = Dedup.dedupCorpus(quality, "doc_id", "text")
        .localCheckpoint()
      assert(!afterLsh.select("doc_id").collect().map(_.getString(0))
        .contains("w2"), "w2 is w1's near-dup")

      // --- stage 2b: semantic dedup against the PERSISTED index —
      // code the arrivals row-locally against the artifact's
      // trainings and drop (cell, code_*) collisions with the prior
      // corpus (the d_pq_semdedup policy, applied at ingest)
      val (idxCodes, meta) = AnnIndex.load(spark, annDir, "cur2_ann")
      val keyCols = "cell" +: books.indices.map(i => s"code_$i")
      val newCodes = AnnIndex.codeRows(
        afterLsh.select(col("doc_id"), col("vec")),
        "doc_id", "vec", meta.cents, meta.books).localCheckpoint()
      val semDrops = newCodes
        .join(idxCodes.select(keyCols.map(col): _*).distinct(), keyCols.toSeq)
        .select("doc_id").collect().map(_.getString(0)).toSet
      assert(semDrops.contains("w3"),
        s"the planted exact-embedding dup must collide with the index: $semDrops")
      val keepers = afterLsh
        .join(newCodes.filter(col("doc_id").isin(semDrops.toSeq: _*))
          .select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val keeperIds = keepers.select("doc_id").collect().map(_.getString(0)).toSet
      assert(!keeperIds.contains("w3") && !keeperIds.contains("w2"))
      assert(keeperIds.nonEmpty && keeperIds.subsetOf(Set("w1", "w4", "b1")),
        s"unexpected keeper set: $keeperIds")

      // --- stages 3-5: mix → epochs → ordered shards (the v1
      // machinery over the v2 keeper set)
      val rates = Mixing.sourceRates(keepers, "text", "source", 120.0)
        .localCheckpoint()
      val expanded = Mixing.expandEpochs(keepers, "text", "source", rates)
        .localCheckpoint()
      assert(expanded.select("doc_id").distinct().count() == keepers.count(),
        "every keeper appears in the epoch schedule")
      val trainRows = expanded.select(
        concat_ws("#", col("doc_id"), col("epoch")).as("row_id"),
        col("source"), col("text"))
      sinks.ShardExport.export(trainRows, "text", "row_id", "source",
        exportRoot, shardSize = 4L)
      assert(sinks.ShardExport.readData(spark, exportRoot).count()
        == expanded.count())

      // --- stage 6: COMPACT the curated arrivals back into the
      // serving index (row-local residual coding, no retrain) — the
      // next ingest cycle dedups against them
      AnnIndex.append(keepers.select(
          xxhash64(col("doc_id")).as("vec_id"), col("vec").as("embedding")),
        "embedding", annDir, "cur2_ann")
      assert(spark.table("cur2_ann").count() == nPrior + keepers.count(),
        "compaction must add exactly the keeper rows")

      // --- stage 7: MAINTENANCE ends SERVABLE (r15): the grown corpus
      // reindexes at √n cells with book drift deciding the codebooks,
      // and the SAME call measures + persists the tuning curve — the
      // next ingest cycle searchAutos at a stated recall floor instead
      // of hand-tuned knobs
      val grown = emb.select(col("vec_id"), col("embedding"))
        .unionAll(keepers.select(xxhash64(col("doc_id")).as("vec_id"),
          col("vec").as("embedding")))
        .localCheckpoint()
      val tq = emb.filter(col("vec_id") < 10)
      AnnIndex.reindexAuto(grown, "embedding", annDir, "cur2_ann",
        iters = 4, trainMod = 4,
        tuningQueries = Some(tq), measuredFloor = Some(0.05))
      val (codes2, loaded2) = AnnIndex.load(spark, annDir, "cur2_ann")
      val served = AnnIndex.searchAuto(tq, codes2, loaded2, grown,
        "embedding", k = 3, annDir, floor = 0.05)
      assert(served.count() > 0,
        "the maintained index must serve at its stored operating point")
    } finally srv.stop()
  }
}
