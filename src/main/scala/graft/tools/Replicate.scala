package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: build an N×-replicated sf directory in the Tables /
  * check.py layout (`<out>/<table>.parquet`) so the FULL gate and
  * `graft.Bench <keys>` run unmodified against N× volume. Fact tables
  * (lineitem, orders, events, documents, embeddings) replicate with
  * disjoint key spaces; dimension tables (region, nation, customer,
  * supplier, part) symlink to the originals — at scale, facts grow
  * and dims stay broadcast-able, so this is the realistic regime.
  * Replica token/vector spaces stay disjoint (token prefix /
  * Rademacher diagonal) so near-dup STRUCTURE
  * replicates N× instead of every replica near-duplicating the
  * original.
  *   sbt "runMain graft.tools.Replicate [N] [sfDir] [outDir] [tables]"
  * `tables` (optional, comma list e.g. "documents,embeddings")
  * restricts the build to the named fact tables — the 10000×-decade
  * boards need only the doc/embedding corpora (the relational facts
  * at that decade would not fit the disk), and a partial dir serves
  * exactly the keys that read those tables. */
object Replicate {
  val shift = 1000000000L

  def events(df: DataFrame, i: Int): DataFrame =
    df.withColumn("event_id", col("event_id") + lit(i * shift))
      .withColumn("user_id", col("user_id") + lit(i * shift))

  /** Prefix every token with the replica tag: replica shingle spaces
    * are fully disjoint, so near-dup structure replicates N× rather
    * than pairs growing quadratically by construction. */
  def documents(df: DataFrame, i: Int): DataFrame =
    df.withColumn("doc_id", col("doc_id") + lit(i * shift))
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))

  /** Per-replica Rademacher diagonal (deterministic ±1 per (replica,
    * position)): norms and within-replica geometry preserved,
    * cross-replica cosines decorrelate in expectation. */
  def embeddings(df: DataFrame, i: Int): DataFrame =
    df.withColumn("vec_id", col("vec_id") + lit(i * shift))
      .withColumn("embedding", expr(
        s"transform(embedding, (x, p) -> CAST(x * (1 - 2 * ((hash($i, p) % 2 + 2) % 2)) AS FLOAT))"))

  def lineitem(df: DataFrame, i: Int): DataFrame =
    df.withColumn("l_orderkey", col("l_orderkey") + lit(i * shift))

  def orders(df: DataFrame, i: Int): DataFrame =
    df.withColumn("o_orderkey", col("o_orderkey") + lit(i * shift))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse(s"/tmp/graft_sf_x$n")
    val spark = graft.GraftSession.get()
    import java.nio.file.{Files, Paths}
    require(Paths.get(out).toAbsolutePath != Paths.get(sf).toAbsolutePath,
      s"outDir == sfDir ($out): would overwrite input parquet mid-read")
    Files.createDirectories(Paths.get(out))
    val wantTables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    def rep(name: String, src: => DataFrame, f: (DataFrame, Int) => DataFrame, idCol: String): Unit = {
      if (wantTables.exists(!_.contains(name))) return
      // Replicating an already-replicated dir would silently collide
      // key spaces across replicas; ids must sit below one shift band.
      val maxId = src.agg(max(col(idCol).cast("long"))).head.getLong(0)
      require(maxId < shift,
        s"$name.$idCol max=$maxId >= shift=$shift — input looks already replicated; replicate from the base sf dir")
      // chunked append: a single n-way unionAll at n=10000 builds a
      // 10000-deep left-leaning plan tree (analysis cost/stack); 100
      // replicas per write keeps the plan shallow at any decade
      (0 until n).grouped(100).zipWithIndex.foreach { case (chunk, ci) =>
        chunk.map(i => f(src, i)).reduce(_ unionAll _)
          .write.mode(if (ci == 0) "overwrite" else "append")
          .parquet(s"$out/$name.parquet")
      }
      println(s"REPLICATE $name x$n written")
    }
    rep("lineitem", graft.sources.Tables.lineitem(spark, sf), lineitem, "l_orderkey")
    rep("orders", graft.sources.Tables.orders(spark, sf), orders, "o_orderkey")
    rep("events", graft.sources.Tables.events(spark, sf), events, "event_id")
    rep("documents", graft.sources.Tables.documents(spark, sf), documents, "doc_id")
    rep("embeddings", graft.sources.Tables.embeddings(spark, sf), embeddings, "vec_id")
    if (wantTables.isEmpty)
    for (d <- Seq("region", "nation", "customer", "supplier", "part")) {
      val link = Paths.get(s"$out/$d.parquet")
      // A prior run may have left the dim target as a materialized
      // parquet DIRECTORY (deleteIfExists throws on non-empty dirs).
      if (Files.isDirectory(link) && !Files.isSymbolicLink(link)) {
        import scala.jdk.CollectionConverters._
        Files.walk(link).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } else Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(s"$sf/$d.parquet"))
      println(s"REPLICATE $d linked")
    }
    spark.stop()
  }
}
