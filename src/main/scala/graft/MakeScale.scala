package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from sf0.1 by N× replication with
  * key-shifting (dev harness, not driver-run): replica k shifts every
  * entity key by k·10⁷, so referential integrity (orders↔lineitem↔
  * part/supplier, customer↔orders, events.user_id) is preserved and
  * every per-key distribution is identical to sf0.1 — row counts scale
  * exactly ×N. The fixed dimensions (region, nation) stay single-copy.
  *
  * Document text is token-salted per replica (the ScaleBench trick): each
  * replica keeps sf0.1's internal duplication structure while adding no
  * cross-replica duplicates — otherwise every planted near-dup pair
  * becomes an N-clique and dedup benchmarks measure the corpus change,
  * not the engine. Embeddings get a deterministic per-replica jitter so
  * ANN/k-means don't degenerate into exact-duplicate ties.
  *
  * Usage: runMain graft.MakeScale [replicas=10] [outDir=target/sf1]
  */
object MakeScale {

  /** Key offset separating replicas — the single definition every
    * replication harness (this and [[ScaleBench]]) shifts by, so the
    * disjointness property cannot drift between them.
    */
  val KeyOffset: Long = 10_000_000L

  /** Salt every whitespace token with a replica tag: replica k keeps the
    * original's internal duplication structure while sharing no shingle,
    * gram, or token with any other replica.
    */
  def saltTokens(text: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    concat_ws(" ", transform(split(text, "\\s+"), t => concat(lit(s"x$k"), t)))

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else "target/sf1"
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-make-scale", GraftSession.cores(default = 32))

    def rep(table: String, keyShift: Seq[String], build: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val replicas = (0 until n).map { k =>
        val shifted = keyShift.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(k * KeyOffset)))
        build(shifted, k)
      }
      replicas.reduce(_.union(_)).write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[make_scale] $table x$n done")
    }

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", Seq("event_id", "user_id"))
    rep("documents", Seq("doc_id"), (d, k) =>
      if (k == 0) d
      else d
        .withColumn("text", saltTokens(col("text"), k))
        .withColumn("n_chars", length(col("text")).cast("long")))
    rep("embeddings", Seq("vec_id"), (d, k) =>
      if (k == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"),
          (x, i) => (x + sin(col("vec_id") * (i + 1) * lit(k)) * lit(0.01f)).cast("float"))))
    spark.stop()
  }
}
