package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("Sessionize cuts sessions at the gap threshold") {
    val ev = Seq(
      (1L, 0L, 100L), (1L, 1L, 1000L), (1L, 2L, 5000L), // gap 4000 > 2000 -> new session
      (2L, 3L, 0L))
      .toDF("user_id", "event_id", "ts_ms")
    val out = Sessionize.summarize(ev, "user_id", "ts_ms", gapMs = 2000L,
      orderCols = Seq("ts_ms", "event_id"))
      .orderBy("user_id", "session_seq")
      .collect()
    assert(out.length == 3)
    assert(out(0).getLong(2) == 2) // user 1 session 1: 2 events
    assert(out(1).getLong(2) == 1) // user 1 session 2: 1 event
  }

  test("ShardedWindow.runningSum equals the logical per-group window on randomized data") {
    // seeded pseudo-random corpus: skewed groups, duplicate order
    // keys, varying values — the sharded two-phase prefix sum must
    // reproduce the single-partition window EXACTLY row for row
    val rnd = new scala.util.Random(20260812L)
    val rows = (1 to 2000).map { i =>
      val grp = s"g${rnd.nextInt(3)}" // few groups → old shape would single-task
      val key = math.abs(rnd.nextLong()) % (1L << 60)
      (grp, i.toLong, key, (rnd.nextInt(50) + 1).toLong)
    }
    val df = rows.toDF("source", "row_id", "ph", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("ph", "row_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = df.withColumn("cum", sum(col("v")).over(w))
      .select("source", "row_id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (shards <- Seq(1, 2, 3, 4, 32)) {
      val got = ShardedWindow.runningSum(df, "source",
          ShardedWindow.hashShard60(col("ph"), shards),
          Seq(col("ph"), col("row_id")), col("v"), "cum")
        .select("source", "row_id", "cum")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected, s"shards=$shards")
      // at most 2^ceil(log2 s) shards: a width of 1 is one range
      val bound = Iterator.iterate(1)(_ * 2).find(_ >= shards).get
      val used = df.select(ShardedWindow.hashShard60(col("ph"), shards)).distinct().count()
      assert(used <= bound, s"shards=$shards used $used")
    }
    // hex-prefix shard variant over md5 string keys
    val hexDf = df.withColumn("k", md5(concat(col("row_id").cast("string"))))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("k", "row_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expK = hexDf.withColumn("cum", sum(col("v")).over(wk))
      .select("source", "row_id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotK = ShardedWindow.runningSum(hexDf, "source",
        ShardedWindow.hexShard(col("k"), 32),
        Seq(col("k"), col("row_id")), col("v"), "cum")
      .select("source", "row_id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotK == expK)
  }

  test("ShardedWindow.runningSum handles non-string group keys and fails fast above the offset cap") {
    // long group column (the old impl hard-cast the group to String —
    // any numeric group key was a runtime ClassCastException)
    val df = (1 to 200).map(i => (i.toLong % 4, i.toLong, (i % 7 + 1).toLong))
      .toDF("g", "k", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = df.withColumn("cum", sum(col("v")).over(w))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val got = ShardedWindow.runningSum(df, "g", expr("k div 32"), Seq(col("k")),
        col("v"), "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == expected)
    // high-cardinality misuse throws instead of collecting unbounded
    // offsets to the driver (cap lowered to keep the spec cheap)
    val wide = (1 to 100).map(i => (i.toLong, i.toLong, 1L)).toDF("g", "k", "v")
    val e = intercept[IllegalArgumentException] {
      ShardedWindow.runningSum(wide, "g", lit(0L), Seq(col("k")), col("v"),
        "cum", cap = 10).collect()
    }
    assert(e.getMessage.contains("bounded"))
  }

  test("ShardedWindow.topK equals the logical per-group rank window") {
    // skewed groups, heavy score ties — the two-phase top-k must
    // reproduce the single-partition rank EXACTLY, including tiebreaks
    val rnd = new scala.util.Random(20260813L)
    val rows = (1 to 3000).map { i =>
      (s"g${rnd.nextInt(3)}", s"tok${rnd.nextInt(500)}_$i", rnd.nextInt(20).toLong)
    }
    val df = rows.toDF("source", "tok", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("tok").asc)
    val expected = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    for (shards <- Seq(4, 32)) {
      val got = ShardedWindow.topK(df, "source",
          Seq(col("score").desc, col("tok").asc), k = 7,
          shardOn = col("tok"), shards = shards)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
      assert(got == expected, s"shards=$shards")
    }
  }

  test("Router.ackLedger maps ack codes to ledger states with backoff") {
    val env = Seq(
      ("pbi", 0L, 10L), ("pbi", 1L, 10L), ("pbi", 2L, 10L),
      ("keen", 0L, 5L), ("anaplan", 0L, 7L))
      .toDF("dest", "batch_id", "n_in_batch")
    val acks = Seq(
      ("pbi", 0L, 1, 503, 1000L), ("pbi", 0L, 2, 200, 2000L), // recovered
      ("pbi", 0L, 3, 503, 3000L), // late 503 AFTER the terminal 200:
      // the fold freezes at the first terminal transition (streaming
      // parity) — the batch stays succeeded at n_attempts=2
      ("pbi", 1L, 1, 503, 1000L), ("pbi", 1L, 2, 503, 2000L), // still failing
      ("pbi", 2L, 1, 404, 1000L),                             // non-retryable
      ("keen", 0L, 1, 503, 1000L), ("keen", 0L, 2, 503, 2000L),
      ("keen", 0L, 3, 503, 3000L))                            // at ceiling
      .toDF("dest", "batch_id", "attempt", "code", "ack_ms")
    val out = Router.ackLedger(env, acks, Seq("dest", "batch_id"),
        "attempt", "code", "ack_ms", maxRetry = 3, baseBackoffMs = 1000L)
      .select("dest", "batch_id", "n_attempts", "state", "next_retry_ms")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(out == Set(
      ("pbi", 0L, 2L, "succeeded", -1L),
      ("pbi", 1L, 2L, "waiting_retry", 2000L + 2000L), // base·2^(2−1)
      ("pbi", 2L, 1L, "aborted", -1L),
      ("keen", 0L, 3L, "aborted", -1L),
      ("anaplan", 0L, 0L, "waiting", -1L)), out.toString)
  }

  test("JobLedger.rotate compacts finished jobs to one row, keeps live history") {
    val led = Seq(
      // job 10: finished before cutoff — compacts to the succeeded row
      (10L, "waiting", 100L, 1L), (10L, "executing", 200L, 2L),
      (10L, "succeeded", 300L, 3L),
      // job 11: latest is failed — full history stays in the tail
      (11L, "waiting", 100L, 4L), (11L, "failed", 400L, 5L),
      // job 12: succeeded AFTER the cutoff — stays live
      (12L, "waiting", 100L, 6L), (12L, "succeeded", 900L, 7L))
      .toDF("job_id", "state", "ts_ms", "sid")
    val (snapshot, tail) = JobLedger.rotate(led, "job_id", "state", "ts_ms",
      "sid", terminalValues = Seq("succeeded"), cutoffMs = 500L)
    val snap = snapshot.collect()
    assert(snap.length == 1 && snap(0).getLong(0) == 10L
      && snap(0).getString(1) == "succeeded" && snap(0).getLong(2) == 300L)
    assert(tail.filter(col("job_id") === 10L).count() == 0)
    assert(tail.filter(col("job_id") === 11L).count() == 2)
    assert(tail.filter(col("job_id") === 12L).count() == 2)
    // queue views invariant across rotation
    val c = snapshot.unionByName(tail)
    val latRaw = JobLedger.latest(led, "job_id", "state", "ts_ms", "sid")
      .orderBy("job_id").collect().toSeq
    val latRot = JobLedger.latest(c, "job_id", "state", "ts_ms", "sid")
      .orderBy("job_id").collect().toSeq
    assert(latRaw == latRot)
  }

  test("JobLedger.latest picks argmax by (ts, tiebreak)") {
    val st = Seq(
      (10L, "waiting", 100L, 1L), (10L, "failed", 200L, 2L),
      (10L, "succeeded", 200L, 3L), // same ts, higher tiebreak wins
      (11L, "failed", 50L, 4L))
      .toDF("job_id", "state", "ts_ms", "sid")
    val latest = JobLedger.latest(st, "job_id", "state", "ts_ms", "sid")
      .orderBy("job_id").collect()
    assert(latest(0).getString(1) == "succeeded")
    assert(latest(1).getString(1) == "failed")
  }

  test("JobLedger.scd2History builds closed versions, one current row per key") {
    val ev = Seq(
      (1L, "a", 100L, 1L), (1L, "a", 200L, 2L), // run 1: a ×2
      (1L, "b", 300L, 3L),                      // run 2: b
      (1L, "a", 400L, 4L),                      // run 3: a again (new version)
      (2L, "x", 50L, 5L))
      .toDF("user_id", "event_type", "ts_ms", "event_id")
    val h = JobLedger.scd2History(ev, "user_id", "event_type", "ts_ms", "event_id")
      .orderBy("user_id", "version").collect()
    assert(h.length == 4)
    // (user_id, version, state, valid_from_ms, valid_to_ms, is_current, n_events)
    assert(h(0).getLong(1) == 1 && h(0).getString(2) == "a" && h(0).getLong(6) == 2)
    assert(h(0).getLong(3) == 100L && h(0).getLong(4) == 300L && !h(0).getBoolean(5))
    assert(h(1).getString(2) == "b" && h(1).getLong(4) == 400L && !h(1).getBoolean(5))
    assert(h(2).getLong(1) == 3 && h(2).getString(2) == "a"
      && h(2).isNullAt(4) && h(2).getBoolean(5))
    assert(h(3).getString(2) == "x" && h(3).getBoolean(5) && h(3).isNullAt(4))
  }

  test("JobLedger retry/DLQ split on maxRetry") {
    val st = (1 to 5).map(i => (20L, "failed", i * 10L, i.toLong)) ++
      Seq((21L, "failed", 10L, 6L), (22L, "succeeded", 10L, 7L))
    val df = st.toDF("job_id", "state", "ts_ms", "sid")
    val retry = JobLedger.toRetry(df, "job_id", "state", "ts_ms", "sid", "failed", 3)
    assert(retry.select("job_id").as[Long].collect().toSet == Set(21L))
    val dlq = JobLedger.deadLetter(df, "job_id", "state", "ts_ms", "failed", 3)
    assert(dlq.select("job_id").as[Long].collect().toSet == Set(20L))
  }

  test("Router.microBatch assigns contiguous deterministic batches") {
    val df = (0 until 25).map(i => ("d1", i.toLong)).toDF("dest", "seq")
    val out = Router.batchSummary(df, "dest", "seq", size = 10).orderBy("batch_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 10L, 5L))
    assert(out(1).getLong(3) == 10L && out(1).getLong(4) == 19L)
  }

  test("Router.microBatch batches STRING ids in binary order (uuid message ids)") {
    // the generic contract the quantile-shard rewrite must keep: a
    // string order key (the gateway's uuid message ids) batches in
    // plain string order — the byte-prefix shard image is monotone,
    // so batch k holds exactly sorted ids [k*size, k*size+size)
    val ids = (0 until 30).map(i => f"m${(i * 7919) % 97}%02d-${i}%02d")
    val df = ids.map(("d1", _)).toDF("dest", "mid")
    val out = Router.microBatch(df, "dest", "mid", size = 8)
      .orderBy("mid").collect()
    val sorted = ids.sorted
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("mid") == sorted(i))
      assert(r.getAs[Long]("batch_id") == i / 8,
        s"${sorted(i)} -> batch ${r.getAs[Long]("batch_id")}, want ${i / 8}")
    }
    // common-prefix id schemes (`evt-2024-…`) must not collapse the
    // shard image: the image reads past the corpus-wide common prefix
    val pids = (0 until 30).map(i => f"evt-2024-01-01-batch-${(i * 31) % 97}%05d")
    val pout = Router.microBatch(pids.map(("d1", _)).toDF("dest", "mid"),
      "dest", "mid", size = 8).orderBy("mid").collect()
    val psorted = pids.sorted
    pout.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("mid") == psorted(i) &&
        r.getAs[Long]("batch_id") == i / 8, s"$i: $r")
    }
    // unsupported order types still fail fast with a clear message
    val bad = intercept[IllegalArgumentException] {
      Router.microBatch(
        Seq(("d1", Array(1.toByte))).toDF("dest", "b"), "dest", "b", 8)
    }
    assert(bad.getMessage.contains("numeric or string"))
  }

  test("AsOfJoin.backward picks latest right row at or before left ts") {
    val trades = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("key", "ts", "trade_id")
    val quotes = Seq((1L, 90L, 101L), (1L, 100L, 102L), (1L, 150L, 103L), (2L, 60L, 104L))
      .toDF("key", "qts", "quote_id")
    val out = AsOfJoin.backward(trades, quotes, "key", "ts", "qts", Seq("quote_id"))
      .orderBy("trade_id").collect()
    // trade@100 sees quote@100 (<= is inclusive); trade@200 sees quote@150
    assert(out(0).getAs[Long]("asof_quote_id") == 102L)
    assert(out(1).getAs[Long]("asof_quote_id") == 103L)
    // key 2 trade@50: no quote yet -> null
    assert(out(2).isNullAt(out(2).fieldIndex("asof_quote_id")))
  }

  test("AsOfJoin.forward picks earliest right row at or after left ts") {
    val trades = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("key", "ts", "trade_id")
    val quotes = Seq((1L, 90L, 101L), (1L, 100L, 102L), (1L, 300L, 103L), (2L, 40L, 104L))
      .toDF("key", "qts", "quote_id")
    val out = AsOfJoin.forward(trades, quotes, "key", "ts", "qts", Seq("quote_id"))
      .orderBy("trade_id").collect()
    // trade@100 sees quote@100 (>= is inclusive); trade@200 sees quote@300
    assert(out(0).getAs[Long]("asof_quote_id") == 102L)
    assert(out(0).getAs[Long]("asof_ts") == 100L)
    assert(out(1).getAs[Long]("asof_quote_id") == 103L)
    // key 2 trade@50: latest quote was @40, nothing after -> null
    assert(out(2).isNullAt(out(2).fieldIndex("asof_quote_id")))
  }

  test("Multimodal.resize preserves aspect ratio, never upscales, rekeys payload") {
    import org.apache.spark.sql.Encoders
    val docs = Seq((100L, "alpha body"), (7L, "beta body")).toDF("doc_id", "text")
    val media = graft.operators.Multimodal.attachPayload(docs)
      .as[graft.operators.Multimodal.MediaRecord](
        Encoders.product[graft.operators.Multimodal.MediaRecord])
    val out = graft.operators.Multimodal.resize(media, maxW = 32, maxH = 32)
      .collect().map(r => r.doc_id -> r).toMap
    // doc 100: 52x20 -> bounded by width: 32x12
    assert(out(100L).width == 32 && out(100L).height == 12)
    // doc 7: 23x23 already fits -> unchanged (no upscale)
    assert(out(7L).width == 23 && out(7L).height == 23 && out(7L).scale_q == 1.0)
    // resample re-keys the bytes
    val orig = media.collect().map(r => r.doc_id -> r.payload.toSeq).toMap
    assert(out(100L).payload.toSeq != orig(100L))
  }

  test("IntervalJoin.bucketed finds all matches in the band, across buckets") {
    val left = Seq((1L, 10000L, 1L), (2L, 5000L, 2L)).toDF("key", "ts", "lid")
    // rights at 9000/10000 in band for lid 1 (before=2000, after=0);
    // 7000 is out; 4000 (other key's window) out for key 1
    val right = Seq((1L, 9000L, 100L), (1L, 10000L, 101L), (1L, 7000L, 102L),
      (2L, 4000L, 103L), (2L, 1000L, 104L)).toDF("key", "rts", "rid")
    val out = IntervalJoin.bucketed(left, right, "key", "ts", "rts",
      beforeMs = 2000L, afterMs = 0L, rightPayload = Seq("rid"))
      .select("lid", "r_rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 100L), (1L, 101L), (2L, 103L)))
  }

  test("AsOfJoin tiebreak is deterministic on duplicate right timestamps") {
    val left = Seq((1L, 100L, 1L)).toDF("key", "ts", "lid")
    val right = Seq((1L, 100L, 7L), (1L, 100L, 9L), (1L, 100L, 8L))
      .toDF("key", "rts", "rid")
    val back = AsOfJoin.backward(left, right, "key", "ts", "rts", Seq("rid"),
      rightTiebreak = Some("rid")).collect()
    assert(back(0).getAs[Long]("asof_rid") == 9L) // max wins backward
    val fwd = AsOfJoin.forward(left, right, "key", "ts", "rts", Seq("rid"),
      rightTiebreak = Some("rid")).collect()
    assert(fwd(0).getAs[Long]("asof_rid") == 7L) // min wins forward
  }

  test("Sessionize.withMaxEvents sub-splits long sessions") {
    val ev = (0 until 12).map(i => (1L, i.toLong, i * 1000L))
      .toDF("user_id", "event_id", "ts_ms")
    val out = Sessionize.withMaxEvents(ev, "user_id", "ts_ms", 60000L, 5,
      Seq("ts_ms", "event_id"))
      .groupBy("session_seq", "session_part").count()
      .orderBy("session_seq", "session_part").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 0L, 5L), (1L, 1L, 5L), (1L, 2L, 2L)))
  }

  test("Dedup.shingles emits n-k+1 shingles, none for short docs") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
    val sh = Dedup.shingles(df, "id", "text", 3)
    assert(sh.filter($"id" === 1L).as[(Long, String)].collect().map(_._2).toSeq ==
      Seq("a b c", "b c d"))
    assert(sh.filter($"id" === 2L).count() == 0)
  }

  test("MinHash-LSH finds exact duplicates as candidate pairs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words that share nothing with the others at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("minhashLshDelta: old pairs + delta == full-corpus pairs, delta touches only new docs") {
    // the incremental corpus-refresh contract on the REAL corpus:
    // sign only the delta, join it against the persisted band table,
    // and the union with the old pair table must equal a full
    // recompute exactly
    val all = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val old = all.filter($"doc_id" % 3 =!= 0L)
    val fresh = all.filter($"doc_id" % 3 === 0L)
    val freshIds = fresh.select("doc_id").as[Long].collect().toSet

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.minhashLsh(all, "doc_id", "text"))
    val oldPairs = pairSet(Dedup.minhashLsh(old, "doc_id", "text"))
    val oldBands = Dedup.lshBands(
      Dedup.minhashSignatures(old, "doc_id", "text", 3, 16, None), "doc_id", 16, 4)
    val delta = pairSet(Dedup.minhashLshDelta(fresh, "doc_id", "text", oldBands))

    assert(full.nonEmpty && delta.nonEmpty)
    assert(delta.forall(p => freshIds.contains(p._1) || freshIds.contains(p._2)),
      "every delta pair must involve a new doc")
    assert((oldPairs ++ delta) == full,
      s"old=${oldPairs.size} delta=${delta.size} full=${full.size} " +
        s"missing=${(full -- oldPairs -- delta).take(5)} " +
        s"extra=${((oldPairs ++ delta) -- full).take(5)}")

    // re-crawl of KNOWN docs: delta ids already present in the band
    // table must not emit degenerate self-pairs (id1 == id2 would
    // break the id1 < id2 invariant the closure queries assume)
    val recrawl = pairSet(Dedup.minhashLshDelta(
      old.limit(20), "doc_id", "text", oldBands))
    assert(recrawl.forall(p => p._1 < p._2),
      s"self/self-inverted pairs in re-crawl delta: ${recrawl.filter(p => p._1 >= p._2).take(5)}")
  }

  test("clusterPairs finds transitive near-dup components") {
    // two components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id1", "id2")
    val out = Dedup.clusterPairs(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (9L, 1L)))
  }

  test("ngramJaccard: identical docs get jaccard 1.0") {
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),
      (3L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(df, "doc_id", "text", 3, 50, 0.5).collect()
    assert(out.length == 1 && out(0).getDouble(3) == 1.0)
  }

  test("Router.gatewayBatches: size cap and timeout both close batches") {
    // src A: 5 events 1s apart (one run), size cap 3 → batches of 3+2;
    // src A again after a 10-min silence → new run;
    // src B: single event → its own run/batch.
    val rows = (0 until 5).map(i => ("A", 1000L + i * 1000L, i.toLong)) ++
      Seq(("A", 700000L, 10L), ("B", 5000L, 20L))
    val df = rows.toDF("src", "ts_ms", "event_id")
    val out = Router.gatewayBatches(df, "src", "ts_ms", "event_id",
        batchTimeoutMs = 60000L, maxBatchSize = 3)
      .orderBy("src", "run_seq", "batch_part").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("A", 1L, 0L, 3L),  // first run, size-capped at 3
      ("A", 1L, 1L, 2L),  // remainder of the run
      ("A", 2L, 0L, 1L),  // timeout gap opened a new run
      ("B", 1L, 0L, 1L)))
    // cap invariant on real data
    val ev = graft.sources.Tables.events(spark, sf)
    val real = Router.gatewayBatches(ev, "event_type", "ts_ms", "event_id",
      3600000L, 20)
    assert(real.agg(max("n_in_batch")).head().getLong(0) <= 20L)
  }

  test("IncrementalAgg: merged partials equal direct aggregation for any split") {
    val ev = graft.sources.Tables.events(spark, sf)
    val direct = IncrementalAgg.partial(ev, Seq("event_type"), "value")
      .orderBy("event_type").collect().toSeq
    // split by an arbitrary hash, partial each slice, merge the union
    val slices = (0 until 3).map(i =>
      IncrementalAgg.partial(
        ev.filter(pmod(col("event_id"), lit(3)) === i),
        Seq("event_type"), "value"))
    val merged = IncrementalAgg.merge(slices.reduce(_ unionByName _),
        Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    assert(merged == direct)
  }

  test("crossDocSpanCoverage: shared k-grams mark interval unions per doc") {
    // docs 1 and 2 share the 3-gram "a b c" (doc 2 twice, overlapping
    // occurrences merge); doc 3 shares nothing
    val docs = Seq(
      (1L, "a b c x y z"),
      (2L, "q a b c a b c"),
      (3L, "u v w u v w")).toDF("doc_id", "text")
    val r = Dedup.crossDocSpanCoverage(docs, "doc_id", "text", k = 3, minDocs = 2)
      .orderBy("doc_id").collect()
    // doc 1: positions 0-2 covered (3 of 6)
    assert(r(0).getLong(2) == 3L && r(0).getDouble(3) == 0.5)
    // doc 2: starts 1 and 4 cover 1-3 and 4-6 -> 6 of 7
    assert(r(1).getLong(2) == 6L)
    // doc 3's repeated "u v w" is WITHIN one doc only -> not cross-doc
    assert(r(2).getLong(2) == 0L && r(2).getDouble(3) == 0.0)
  }

  test("gramFanout: work-adaptive clamp, saturating on unknown-size inputs") {
    // Dedup's gram fan-out is Widths.of(df, inflate = k): ~4 MB of
    // gram-construction work per task, bytes scale by k via a DIVIDED
    // per-task target, never a multiply that can overflow
    def gramFanout(bytes: Long, k: Int, cores: Int): Int =
      Widths.width(bytes, Widths.TaskBytes / k, cores)
    assert(gramFanout(0L, 5, 32) == 1)
    assert(gramFanout(598016L, 5, 32) == 1) // sf0.1 corpus, k=5
    assert(gramFanout(598016L, 50, 32) == 8) // same corpus, k=50
    // invalid plan stats => planBytes saturates at Long.MaxValue; the
    // fan-out must clamp to cores (the r21 multiply overflowed
    // negative and collapsed to 1 task exactly when the input was
    // unknown-large)
    assert(gramFanout(Long.MaxValue, 50, 32) == 32)
    assert(gramFanout(Long.MaxValue, 5, 32) == 32)
    // degenerate k larger than the byte target still fans to cores
    assert(gramFanout(1L << 30, 1 << 23, 32) == 32)
  }

  test("FilterChain.funnel: sequential semantics, one aggregate job") {
    val docs = Seq((1L, 5, "en"), (2L, 50, "en"), (3L, 50, "de"), (4L, 50, "en"))
      .toDF("id", "n", "lang")
    val f = FilterChain.funnel(docs, Seq(
      "len" -> (col("n") >= 10),
      "lang" -> (col("lang") === "en"),
      "cap" -> (col("id") <= 2)))
      .collect()
    assert(f.map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq(("len", 4L, 1L, 3L), ("lang", 3L, 1L, 2L), ("cap", 2L, 1L, 1L)))
    // doc 1 passes "cap" but fails the length stage — sequential, not
    // independent: it is counted removed at stage 1 only
  }

  test("Mixing subsample regime: rate < 1 keeps a deterministic budget-sized slice") {
    // one source, 80 docs x 10 tokens = 800 tokens; budget 80 => rate
    // 0.1 — every doc gets n_copies in {0, 1} decided by its content
    // hash, so the kept set is a stable ~10% slice
    val docs = (1 to 80).map(i =>
        (i.toLong, "web", s"doc $i " + (1 to 8).map(j => s"w$i$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rates = Mixing.sourceRates(docs, "text", "source", tokenBudget = 80.0)
    val r = rates.collect()(0)
    assert(r.getAs[Double]("weight") == 1.0)
    val rateU = r.getAs[Long]("rate_u")
    assert(rateU > 0 && rateU < 1000000L, s"subsample regime: $rateU")
    val copies = Mixing.epochCopies(docs, "text", "source", rates)
    assert(copies.where(col("n_copies") < 0 || col("n_copies") > 1).isEmpty)
    val kept = Mixing.expandEpochs(docs, "text", "source", rates)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // spend lands within ±40% of the budget on this tiny corpus and
    // every kept row is epoch 0
    assert(keptIds.size >= 4 && keptIds.size <= 12, s"kept ${keptIds.size}")
    assert(kept.where(col("epoch") =!= 0L).isEmpty)
    // re-run decides the same docs (content-hash, no rand)
    val again = Mixing.expandEpochs(docs, "text", "source", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == keptIds)
    // zero budget degenerates to an empty schedule
    val zero = Mixing.sourceRates(docs, "text", "source", tokenBudget = 0.0)
    assert(Mixing.expandEpochs(docs, "text", "source", zero).isEmpty)
  }
}
