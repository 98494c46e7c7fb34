package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftShim, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Preference learning from pairwise comparisons and implicit feedback —
  * the model fits an RLHF-style data pipeline runs over judgment logs:
  * Bradley-Terry strengths from "A beat B" counts (the standard
  * preference-strength model behind reward-model data curation and
  * arena-style leaderboards), and a rank-1 implicit-feedback ALS
  * factorization (Hu-Koren 2008) over interaction counts.
  *
  * Spark-first shape for both: the CORPUS contributes exactly one
  * partial-aggregating shuffle (comparisons → win counts; interactions
  * → per-(entity, item) counts). Everything after runs on the MODEL
  * tier — tables bounded by the item vocabulary (T items → T² pair
  * rows) or by entity cardinality, iterated a FIXED small number of
  * rounds as plain joins (Bradley-Terry's on the driver when its model
  * fits the driver tier). No windows, no UDFs.
  *
  * Determinism doctrine: every float division term is quantized to
  * DECIMAL(28,12) before its order-free sum; rescaling divides by a
  * deterministic reference (smallest item) instead of an ordered sum —
  * the oracles replay each round term for term.
  */
object Preference {

  /** Bradley-Terry strengths via Hunter (2004) minorization-maximization:
    * s_i ← W_i / Σ_{j≠i} n_ij / (s_i + s_j), rescaled each round so the
    * smallest item has strength 1. `comp` rows are decided comparisons
    * (winner, loser, n). Preconditions (documented, not repaired): every
    * item appears in ≥1 decided comparison, and the smallest item has
    * ≥1 win (it anchors the rescaling; a winless item elsewhere is fine
    * — it converges to strength 0 but stays in every denominator).
    *
    * Returns (item, wins, strength) after `iters` rounds.
    *
    * The MM rounds are tiered by [[graft.graph.DriverTier]]: the model
    * tables are bounded by the item vocabulary BY CONSTRUCTION (≤ T² pair
    * rows — the same tier the distributed loop already broadcasts every
    * round), so iterating the rounds as T²-row joins pays ~2 s of
    * per-round planning and scheduling at bench scale for work a driver
    * loop does in microseconds. A pair table within the driver budget is
    * collected once and the identical arithmetic replayed: term =
    * BigDecimal(nij/(si+sj)) HALF_UP to scale 12 (Spark's
    * double→decimal(28,12) cast), exact order-free sum, the same double
    * divisions, the same fixed anchor item — bit-identical (StatsSpec and
    * PropertySpec pin driver == distributed). A larger model runs the
    * distributed rounds; the corpus-scale comp aggregation is distributed
    * either way.
    */
  def bradleyTerry(comp: DataFrame, winnerCol: String, loserCol: String,
                   nCol: String, iters: Int = 3): DataFrame =
    fitBradleyTerry(comp, winnerCol, loserCol, nCol, iters, driverTier = true)

  /** [[bradleyTerry]] always on the distributed rounds: the specs that
    * pin the two tiers equal.
    */
  private[graft] def bradleyTerryDistributed(comp: DataFrame, winnerCol: String,
      loserCol: String, nCol: String, iters: Int = 3): DataFrame =
    fitBradleyTerry(comp, winnerCol, loserCol, nCol, iters, driverTier = false)

  /** Peak bytes per (i, j, nij) pair row in the driver tier's collect:
    * the decoded tuple (24 + boxed count 16 + slot 4, and two items at up
    * to 48 B each — a boxed long is 16 B, a short string about 48 B) plus
    * its unsafe row (about 60 B for two short strings and a long).
    */
  private val PairRowBytes = 200L

  private def fitBradleyTerry(comp: DataFrame, winnerCol: String, loserCol: String,
      nCol: String, iters: Int, driverTier: Boolean): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters in [1,16], got $iters")
    val base = comp.select(
      col(winnerCol).as("w"), col(loserCol).as("l"),
      col(nCol).cast("long").as("n"))
    // Symmetric pair totals n_ij and per-item win totals: the model
    // tables (≤ T² and T rows — broadcast-sized for any bounded item
    // vocabulary).
    val pairT = base.select(col("w").as("i"), col("l").as("j"), col("n"))
      .unionByName(base.select(col("l").as("i"), col("w").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("nij"))
      .localCheckpoint(eager = false) // reused every MM round
    val wins = base.groupBy(col("w").as("item")).agg(sum("n").as("wins"))
    // The per-round rescale anchors on the SMALLEST item key; if that
    // item is winless its strength is 0 every round and the division
    // would turn the whole table into NaN/Infinity silently. The item
    // set is fixed across rounds, so one cheap head() on the
    // broadcast-sized model table checks the precondition up front.
    // headOption shape: an EMPTY comparison table skips the guard and
    // the driver tier, giving the distributed rounds' empty model
    // instead of an opaque NoSuchElementException here.
    val anchor = pairT.select(col("i").as("item")).distinct()
      .orderBy(col("item").asc).limit(1)
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("w0"))
      .take(1).headOption
    anchor.foreach { anchorWins =>
      require(anchorWins.getLong(1) > 0L,
        s"bradleyTerry: anchor item '${anchorWins.get(0)}' (smallest by " +
          "key) has zero wins - its strength is 0 and rescaling by it " +
          "would NaN the model; drop winless items or re-key so the " +
          "anchor has at least one recorded win.")
    }
    val distributed = (pt: DataFrame) => distributedRounds(pt, wins, iters)
    if (anchor.isEmpty || !driverTier) distributed(pairT)
    else {
      val item = GraftShim.externalEncoder(pairT.schema("i").dataType)
      implicit val pairRow: Encoder[(Any, Any, Long)] = Encoders.tuple(item, item, Encoders.scalaLong)
      graft.graph.DriverTier.choose[(Any, Any, Long), DataFrame](pairT, PairRowBytes)(distributed) { pt =>
        val winsMap = wins.collect().map(r => r.get(0) -> r.getLong(1)).toMap
        val items = pt.map(_._1).distinct
        val refItem = anchor.get.get(0)
        var sm: Map[Any, Double] = items.map(_ -> 1.0).toMap
        for (_ <- 1 to iters) {
          val den = scala.collection.mutable.HashMap.empty[Any, java.math.BigDecimal]
          pt.foreach { case (i, j, nij) =>
            val term = java.math.BigDecimal.valueOf(nij.toDouble / (sm(i) + sm(j)))
              .setScale(12, java.math.RoundingMode.HALF_UP)
            den.updateWith(i)(p => Some(p.fold(term)(_.add(term))))
          }
          val sr = items.map(it =>
            it -> winsMap.getOrElse(it, 0L).toDouble / den(it).doubleValue).toMap
          val refv = sr(refItem)
          sm = items.map(it => it -> sr(it) / refv).toMap
        }
        val schema = StructType(Seq(
          StructField("item", comp.schema(winnerCol).dataType, nullable = true),
          StructField("wins", LongType, nullable = false),
          StructField("strength", DoubleType, nullable = true)))
        val out = items.map(it => Row(it, winsMap.getOrElse(it, 0L), sm(it)))
        comp.sparkSession.createDataFrame(out.toSeq.asJava, schema)
      }
    }
  }

  /** The MM rounds as T²-row joins, each round's broadcast strengths
    * feeding the next.
    */
  private def distributedRounds(pairT: DataFrame, wins: DataFrame, iters: Int): DataFrame = {
    var s = pairT.select(col("i").as("item")).distinct()
      .withColumn("s", lit(1.0))
    for (_ <- 1 to iters) {
      val den = pairT
        .join(broadcast(s.select(col("item").as("i"), col("s").as("si"))), "i")
        .join(broadcast(s.select(col("item").as("j"), col("s").as("sj"))), "j")
        .withColumn("term",
          (col("nij").cast("double") / (col("si") + col("sj")))
            .cast("decimal(28,12)"))
        .groupBy(col("i").as("item")).agg(sum("term").as("den"))
      // LEFT join: an item that lost every comparison has no wins row —
      // it must converge to strength 0, not silently leave the model
      // (dropping it would corrupt every opponent's denominator next
      // round).
      val raw = den.join(wins, Seq("item"), "left")
        .select(col("item"),
          (coalesce(col("wins"), lit(0L)).cast("double") /
            col("den").cast("double")).as("sr"))
      val ref = raw.orderBy(col("item").asc).limit(1)
        .select(col("sr").as("refv"))
      s = raw.crossJoin(broadcast(ref))
        .select(col("item"), (col("sr") / col("refv")).as("s"))
    }
    s.join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
        col("s").as("strength"))
  }

  /** Rank-1 implicit-feedback ALS (Hu-Koren 2008, observed-only
    * variant): confidence c = 1 + α·count, preference p = 1, alternating
    * closed-form updates
    *   u_e = Σ_i c·v_i / (Σ_i c·v_i² + λ)
    *   v_i = Σ_e c·u_e / (Σ_e c·u_e² + λ)
    * from v ≡ 1. Returns the item factors after each round:
    * (item, n_entities, v_1..v_iters) — the per-item "pull" the
    * factorization assigns, converging in a couple of rounds at rank 1.
    */
  def alsImplicitRank1(interactions: DataFrame, entityCol: String,
                       itemCol: String, cntCol: String,
                       alpha: Double = 0.1, lambda: Double = 0.1,
                       iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters in [1,8], got $iters")
    val r = interactions.select(
      col(entityCol).as("e"), col(itemCol).as("item"),
      (lit(1.0) + lit(alpha) * col(cntCol).cast("double")).as("c"))
      .localCheckpoint(eager = false) // reused 2× per round
    def dec(c: Column) = c.cast("decimal(28,12)")
    var v = r.groupBy("item").agg(count(lit(1)).as("n_entities"))
      .withColumn("v", lit(1.0))
    val history = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (it <- 1 to iters) {
      val u = r.join(broadcast(v.select(col("item"), col("v"))), "item")
        .groupBy("e")
        .agg(sum(dec(col("c") * col("v"))).as("nu"),
          sum(dec(col("c") * col("v") * col("v"))).as("du"))
        .select(col("e"), (col("nu").cast("double") /
          (col("du").cast("double") + lit(lambda))).as("u"))
      v = r.join(u, "e")
        .groupBy("item")
        .agg(count(lit(1)).as("n_entities"),
          sum(dec(col("c") * col("u"))).as("nv"),
          sum(dec(col("c") * col("u") * col("u"))).as("dv"))
        .select(col("item"), col("n_entities"),
          (col("nv").cast("double") /
            (col("dv").cast("double") + lit(lambda))).as("v"))
      history += v.select(col("item"), col("v").as(s"v_$it"))
    }
    history.tail.foldLeft(
      v.select(col("item"), col("n_entities"))
        .join(history.head, "item")) { (acc, h) => acc.join(h, "item") }
  }
}
