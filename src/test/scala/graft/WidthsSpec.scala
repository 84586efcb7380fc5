package graft

import org.apache.spark.sql.functions.col

import graft.operators.Widths
import graft.operators.Widths.TaskBytes

/** The one width rule ([[Widths]]), table-driven: every site's width
  * is `width(bytes, perTaskBytes, ceiling)` with the work per input
  * byte the site knows folded into `perTaskBytes`. */
class WidthsSpec extends SparkSpec {

  private val advisory = 64L << 20 // Spark's default advisory partition size
  private val media = queries.LlmData.MediaExpansion

  /** (case, plan bytes, per-task bytes, ceiling, width). The bytes of
    * the sf0.01 and 10× rows are `Widths.planBytes` of each site's
    * input at sf0.01 and on `graft.tools.Replicate 10` of it (which
    * replicates documents, embeddings and events and links customer);
    * ceiling 32 is the driver board's. */
  private val cases: Seq[(String, Long, Long, Int, Int)] = Seq(
    // Classifier fit: 16 epochs re-read the frame 17 times
    ("fit: sf0.1 corpus at 17 passes (r21)", 598016L, TaskBytes / 17, 32, 3),
    ("fit: sf0.01 gate corpus", 71244L, TaskBytes / 17, 32, 1),
    ("fit: 10x corpus", 714128L, TaskBytes / 17, 32, 3),
    // Similarity training sample: 1 in trainMod = 4 rows
    ("train: sf0.01 embeddings", 161365L / 4, TaskBytes, 32, 1),
    ("train: 10x embeddings", 1096524L / 4, TaskBytes, 32, 1),
    ("train: unknown size", Long.MaxValue / 4, TaskBytes, 32, 32),
    // the raw-ceiling sites, now from their input's bytes
    ("q25_decile: sf0.01 customer", 11938L, TaskBytes, 32, 1),
    ("tfidf / zipf / shuffle_export: sf0.01 documents", 65049L, TaskBytes, 32, 1),
    ("tfidf / zipf / shuffle_export: 10x documents", 652030L, TaskBytes, 32, 1),
    ("d_sample_budget: sf0.01", 49561L, TaskBytes, 32, 1),
    ("d_sample_budget: 10x", 496784L, TaskBytes, 32, 1),
    ("t_seq_pack: sf0.01", 40268L, TaskBytes, 32, 1),
    ("t_seq_pack: 10x", 403637L, TaskBytes, 32, 1),
    // media generators: ~8 KB of pixels or samples per 8-byte id
    ("m_*_real ids: sf0.01", 12390L, TaskBytes / media, 32, 4),
    ("m_*_real ids: 10x", 124196L, TaskBytes / media, 32, 31),
    ("m_*_real ids: 10x at 4 cores", 124196L, TaskBytes / media, 4, 4),
    ("d_substr_dup (k=5): 10x", 652030L, TaskBytes / 5, 32, 1),
    ("d_substr_long (k=50): 10x", 652030L, TaskBytes / 50, 32, 8),
    ("p_batch_assign / p_ack_ledger: 10x events", 2734332L, advisory, 32, 1),
    // Router.microBatch's one-task gather (Widths.gather) of the same input
    ("p_batch_assign / p_ack_ledger gather: 10x events", 2734332L, TaskBytes, 32, 1))

  test("the width rule over every site's table of cases") {
    val wrong = cases.collect {
      case (name, bytes, per, ceiling, want) if Widths.width(bytes, per, ceiling) != want =>
        s"$name: ${Widths.width(bytes, per, ceiling)} != $want"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("of and shards read plan bytes; a small frame is one shard") {
    val small = spark.range(0, 10, 1, 1).toDF()
    val bytes = Widths.planBytes(small)
    assert(bytes > 0 && bytes < advisory)
    assert(Widths.shards(small) == 1 && Widths.of(small, inflate = 50) == 1)
  }

  test("a caller-built session's shuffle.partitions is the one ceiling of every width") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "2")
    assert(caller.sparkContext.defaultParallelism > 2)
    val huge = caller.range(0, Long.MaxValue).toDF() // plan bytes overflow a long
    assert(Widths.planBytes(huge) == Long.MaxValue)
    assert(Widths.ceiling(caller) == 2)
    val widths = Seq(Widths.of(huge), Widths.of(huge, inflate = 50),
      Widths.of(huge, deflate = 4), Widths.shards(huge))
    assert(widths.forall(_ == 2), widths)
  }

  test("gather puts a one-task frame on one partition and leaves a wider one as it is") {
    val small = spark.range(0, 10, 1, 3).toDF()
    val one = Widths.gather(small)
    assert(one.rdd.getNumPartitions == 1 && one.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    val wide = spark.range(0, 1000000, 1, 3).toDF() // 8 MB of plan bytes
    assert(Widths.of(wide) > 1 && (Widths.gather(wide) eq wide))
  }

  test("raise repartitions only when the width is more than the frame has") {
    val one = spark.range(0, 10, 1, 1).toDF()
    assert(Widths.raise(one, 1, col("id")) eq one)
    assert(Widths.raise(one, 3, col("id")).rdd.getNumPartitions == 3)
    assert(Widths.raise(one, 3).rdd.getNumPartitions == 3)
    val three = spark.range(0, 10, 1, 3).toDF()
    assert(Widths.raise(three, 2, col("id")) eq three)
  }
}
