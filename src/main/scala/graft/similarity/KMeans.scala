package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.cosineSim

/** Lloyd's k-means over an embedding column — the offline centroid-fitting
  * step [[Ann.ivfTopK]]'s scaladoc defers to, and the clustering primitive
  * behind semantic dedup / semantic sharding of a training corpus
  * (cluster-then-dedup-within-cluster, SemDeDup-style).
  *
  * Spark-first shape of the distributed loop (the same dataflow Spark
  * MLlib's KMeans uses; an input within the driver budget runs the same
  * rounds as driver sweeps instead, see [[fit]]):
  *  - the DATA never leaves the cluster — each iteration is one broadcast
  *    of k×dim centroid literals into a codegen'd projection (cosineSim
  *    kernel per centroid, argmax via struct array_max) followed by ONE
  *    map-side-combining groupBy;
  *  - the MODEL (k×dim doubles, a few KB) collects to the driver each
  *    iteration — the same "small side lives on the driver" decision as a
  *    broadcast join;
  *  - per-dimension sums are `dim` independent decimal SUM aggregates in
  *    one agg (map-side partials; the shuffle carries k rows per map
  *    partition and subspace), one row per vector and subspace — exploding
  *    n×dim element rows would shuffle 64× the data for the same answer.
  *
  * Determinism: init = first k vectors by id (callers wanting kmeans++
  * seed from a hash-sample — `Sampling.hashSample` — and fit on that);
  * decimal accumulation makes centroid updates partitioning-independent,
  * so the whole fit is bit-reproducible run to run.
  *
  * Similarity metric is cosine (matching the ANN operators); centroids are
  * dimension means, which for cosine assignment behaves as spherical
  * k-means up to centroid norm (argmax cosine is norm-invariant in the
  * query vector but not the centroid — documented trade for keeping the
  * update a plain mean).
  */
object KMeans {

  /** Fitted assignment of every vector: (id, v, cluster, sim to its
    * centroid).
    *
    * @param dim   vector dimensionality (static — builds `dim` aggregates)
    * @param iters Lloyd iterations; each is one Spark job (assignment +
    *              centroid agg). Empty clusters keep their previous
    *              centroid (standard Lloyd degenerate-case handling).
    */
  def lloyd(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iters: Int,
  ): DataFrame = {
    val v = prepared(vecs, idCol, vecCol)
    assign(v, fit(v, 1, dim, k, iters).head)
  }

  /** Just the fitted centroid matrix (k×dim) — the offline artifact
    * [[Ann.ivfTopK]] consumes as its cell centroids. Same Lloyd loop as
    * [[lloyd]], without the final assignment pass.
    */
  def centroids(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iters: Int,
  ): Array[Array[Double]] =
    fit(prepared(vecs, idCol, vecCol), 1, dim, k, iters).head

  /** FUSED multi-subspace Lloyd — the PQ codebook fit
    * ([[Ann.pqCodebooks]]) done in ONE Spark job per iteration instead of
    * one fit per subspace; [[lloyd]] and [[centroids]] are its m = 1 case.
    * The m per-subspace fits are independent, but each costs (assign +
    * agg + collect) jobs over the same corpus; at m=8 that was ~24 jobs
    * (and 8 extra localCheckpoints) per PQ query, all scheduler latency
    * at bench scale and ~m redundant corpus scans at 100 TB. Here every
    * iteration computes ALL subspace assignments in one codegen'd
    * projection, posexplodes to (s, cluster, subvec) — each element of
    * the input crosses the (partially-aggregated) shuffle exactly once,
    * unlike a per-dimension posexplode of n×dim rows — and one
    * groupBy(s, cluster) yields every subspace's decimal sums together.
    *
    * BIT-IDENTICAL to the per-subspace loop by construction: the same
    * scored-struct assignment (shared [[scoredBest]] builder — same
    * cosineSim kernel, tie-break, NaN pin), the same per-subspace init
    * (first k rows by id, sliced), and the same decimal(28,12) per-element
    * sums — decimal addition is exact, so neither fusion nor partitioning
    * can reorder a result (SimilaritySpec pins fused ≡ per-subspace).
    *
    * @param normed (id, v: array<double>) with |v| = m·dsub — callers pass
    *               the already-normalized corpus; checkpointed here once.
    */
  def fitSubspaces(
      normed: DataFrame,
      m: Int,
      dsub: Int,
      k: Int,
      iters: Int,
  ): Array[Array[Array[Double]]] =
    fit(normed.select(col("id"), col("v")).localCheckpoint(false), m, dsub, k, iters)

  /** [[fitSubspaces]] over `vecs` cast like [[lloyd]]'s input, always on
    * the distributed loop: the forced-distributed bench probe and the
    * specs that pin the two tiers equal.
    */
  private[graft] def fitDistributed(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      dsub: Int,
      k: Int,
      iters: Int,
  ): Array[Array[Array[Double]]] = {
    val v = prepared(vecs, idCol, vecCol)
    sweepDistributed(v, initial(v, m, dsub, k, iters), dsub, iters)
  }

  /** Checkpoint once: the fit consumes the cast vectors iters+1 times. */
  private def prepared(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .localCheckpoint(false)

  /** The Lloyd fit of `m` subspaces of `dsub` dims over checkpointed
    * (id, v), tiered by [[graft.graph.DriverTier]] at 56 + 16·m·dsub B
    * per vector (a decoded `Array[Double]`, 20 + 8·dim B, and its unsafe
    * row, about 36 + 8·dim B; 1059 B measured at dim 64): an input within
    * the driver budget runs the rounds as driver sweeps instead of one
    * scheduled job each. Both tiers are BIT-IDENTICAL: the driver
    * assignment calls the same CosineImpl arithmetic with the same argmax
    * tie/NaN-pin rule, and the centroid update replays Spark's exact
    * double→decimal(28,12) HALF_UP quantization and exact decimal sums
    * (order-free by exactness), so neither tier nor partitioning can move
    * a result (SimilaritySpec and PropertySpec pin driver ≡ distributed).
    * Inputs must be NaN/null-free vectors (the embeddings contract — a
    * NaN would cast to decimal NULL distributed-side).
    */
  private def fit(v: DataFrame, m: Int, dsub: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    val init = initial(v, m, dsub, k, iters)
    if (iters == 0) init
    else {
      import v.sparkSession.implicits._
      graft.graph.DriverTier.choose[Array[Double], Array[Array[Array[Double]]]](
        v.select(col("v")), 56L + 16L * m * dsub)(
        sweepDistributed(_, init, dsub, iters))(sweepDriver(_, init, dsub, iters))
    }
  }

  /** Init = first k vectors by id, sliced per subspace, via the same tiny
    * distributed job on BOTH tiers (no driver re-implementation of id
    * ordering to drift).
    */
  private def initial(v: DataFrame, m: Int, dsub: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && dsub > 0 && k > 0 && iters >= 0,
      s"bad kmeans config m=$m dsub=$dsub k=$k iters=$iters")
    val initRows = v.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(initRows.length > 0, "kmeans: empty input")
    Array.tabulate(m)(s => initRows.map(full => full.slice(s * dsub, s * dsub + dsub)))
  }

  /** Spark Cast(double → decimal(28,12)) replay: shortest-string
    * BigDecimal (Decimal.apply(Double) semantics) rounded HALF_UP to
    * scale 12 — the per-element quantization the distributed sums apply.
    */
  private def dec12(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** The scoredBest argmax on the driver: same cosine arithmetic
    * (CosineImpl dense overload), NaN pinned to −2.0, strict `>` keeps
    * the lowest cluster id on ties — exactly array_max's struct order.
    */
  private def bestClusterDriver(vec: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0.0
    var bi = 0
    var i = 0
    while (i < cents.length) {
      var sim = graft.functions.CosineImpl.compute(vec, cents(i))
      if (java.lang.Double.isNaN(sim)) sim = -2.0
      if (i == 0 || sim > best) { best = sim; bi = i }
      i += 1
    }
    bi
  }

  /** Driver tier: every subspace's assignment + exact decimal sums per
    * in-memory sweep over the collected vectors — replaces one scheduled
    * (posexplode + agg + collect) job per iteration.
    */
  private def sweepDriver(
      vecs: Array[Array[Double]],
      init: Array[Array[Array[Double]]],
      dsub: Int,
      iters: Int,
  ): Array[Array[Array[Double]]] = {
    val m = init.length
    var cents = init
    for (_ <- 1 to iters) {
      val sums = Array.tabulate(m)(s => Array.fill(cents(s).length, dsub)(java.math.BigDecimal.ZERO))
      val counts = Array.tabulate(m)(s => new Array[Long](cents(s).length))
      vecs.foreach { vec =>
        var s = 0
        while (s < m) {
          val sub = if (m == 1) vec else java.util.Arrays.copyOfRange(vec, s * dsub, s * dsub + dsub)
          val c = bestClusterDriver(sub, cents(s))
          counts(s)(c) += 1
          var d = 0
          while (d < dsub) { sums(s)(c)(d) = sums(s)(c)(d).add(dec12(sub(d))); d += 1 }
          s += 1
        }
      }
      val next = cents.map(_.map(_.clone()))
      for (s <- 0 until m; c <- cents(s).indices if counts(s)(c) > 0) {
        val n = counts(s)(c).toDouble
        next(s)(c) = Array.tabulate(dsub)(d => sums(s)(c)(d).doubleValue / n)
      }
      cents = next
    }
    cents
  }

  /** Distributed tier: one (assign all subspaces + posexplode + decimal
    * agg + collect) job per iteration over `v`'s `v` column.
    */
  private def sweepDistributed(
      v: DataFrame,
      init: Array[Array[Array[Double]]],
      dsub: Int,
      iters: Int,
  ): Array[Array[Array[Double]]] = {
    val m = init.length
    var cents = init
    val sums = (0 until dsub).map(i =>
      sum(element_at(col("sv"), i + 1).cast("decimal(28,12)")).as(s"s$i"))
    for (_ <- 1 to iters) {
      val subCols = (0 until m).map { s =>
        val sub = slice(col("v"), s * dsub + 1, dsub)
        struct(
          (-scoredBest(sub, cents(s)).getField("negc")).as("cluster"),
          sub.as("sv"))
      }
      val updated = v
        .select(posexplode(array(subCols: _*)).as(Seq("s", "sc")))
        .select(col("s"), col("sc.cluster").as("cluster"), col("sc.sv").as("sv"))
        .groupBy(col("s"), col("cluster"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = cents.map(_.map(_.clone()))
      updated.foreach { r =>
        val s = r.getAs[Int]("s")
        val c = r.getAs[Int]("cluster")
        val n = r.getAs[Long]("n").toDouble
        next(s)(c) = Array.tabulate(dsub)(i => r.getAs[java.math.BigDecimal](s"s$i").doubleValue / n)
      }
      cents = next
    }
    cents
  }

  /** Assignment against FROZEN centroids — the standing-index path
    * (SemDeDup's incremental store, IVF serving): no fit, one
    * broadcast-literal codegen'd projection over the batch. Same
    * argmax / tie-break / NaN rules as the in-fit assignment, so a
    * batch assigned incrementally lands exactly where a refit-free
    * one-shot run would put it. Output: (id, v, cluster, sim).
    */
  def assignWith(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    assign(prepared(vecs, idCol, vecCol), cents)

  /** One codegen'd projection: per centroid a cosineSim kernel call, argmax
    * by (sim, then smaller cluster id) via struct ordering — ties cannot
    * flap between runs.
    *
    * NaN guard: the kernel already defines zero-norm inputs as sim 0.0,
    * but a NaN ELEMENT in a vector propagates to a NaN sim, and NaN sorts
    * greater than every double in Spark's struct ordering — argmax would
    * silently dump every such row into one centroid. nanvl pins it below
    * the cosine floor (−1) instead, making bad input visible as its own
    * deterministic worst-sim assignment.
    */
  private def assign(v: DataFrame, cents: Array[Array[Double]]): DataFrame =
    v.select(
      col("id"),
      col("v"),
      scoredBest(col("v"), cents).as("best"),
    ).select(
      col("id"),
      col("v"),
      (-col("best.negc")).as("cluster"),
      col("best.sim").as("sim"),
    )

  /** The argmax struct shared by every assignment path (full-dim fit,
    * frozen-model assign, fused subspace fit): max over
    * struct(sim, -cluster) — ties to the LOWER cluster id, NaN sims
    * pinned to −2.0 (see [[assign]]'s scaladoc). Centralized so the
    * fused and per-subspace fits cannot drift.
    */
  private def scoredBest(vec: Column, cents: Array[Array[Double]]): Column =
    array_max(array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        nanvl(cosineSim(vec, array(c.map(lit(_)): _*)), lit(-2.0)).as("sim"),
        lit(-i).as("negc"),
      )
    }: _*))
}
