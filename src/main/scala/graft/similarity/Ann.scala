package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.cosineSim

/** Approximate-nearest-neighbor search over an embedding column
  * (beyond-reference scope; `embeddings` test table: vec_id, 64-dim vector).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast,
  *    so the corpus side streams through one codegen'd projection + a
  *    per-query top-k window. Correctness baseline; fine when |queries| is
  *    small even if the corpus is 100 TB (no shuffle of the corpus —
  *    only (query, candidate, score) rows reach the window's shuffle).
  *  - [[lshTopK]]: random-hyperplane LSH — sign-pattern buckets via the
  *    same cosineSim kernel against fixed pseudo-random hyperplanes; only
  *    bucket-colliding pairs are scored. The scale path when |queries| is
  *    large. Deterministic: hyperplanes derive from a seeded hash, not RNG.
  */
object Ann {

  /** Composable cosine similarity from built-in higher-order functions
    * (`zip_with` for the elementwise products, `aggregate` for the sums)
    * — the no-custom-code formulation. Kept as the executable spec of the
    * `CosineSimilarity` kernel (equivalence-tested); the kernel exists
    * because HOFs evaluate interpreted per row, ~10× slower on 64-dim
    * vectors in the ANN hot loops.
    */
  def cosineSimHof(a: Column, b: Column): Column = {
    def sum(xs: Column): Column =
      aggregate(xs, lit(0.0), (acc, x) => acc + x)
    val dot = sum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = sqrt(sum(transform(a, x => x.cast("double") * x.cast("double"))))
    val nb = sqrt(sum(transform(b, x => x.cast("double") * x.cast("double"))))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Output: (qid, vec_id, sim) with k rows per qid, ties broken by id.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      includeSelf: Boolean = false,
  ): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol), col(vecCol))
    val scored = c
      .join(broadcast(q), if (includeSelf) lit(true) else col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), cosineSim(col("qvec"), col(vecCol)).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), round(col("sim"), 6).as("sim"), col("rn"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into nList cells by
    * nearest centroid; a query scores only the vectors in its nProbe
    * nearest cells. Complements [[lshTopK]]: IVF adapts to the data
    * distribution (centroids live where vectors are) where hyperplane LSH
    * is oblivious.
    *
    * Default centroids are a deterministic sample (first nList corpus
    * vectors by id); pass `kmeansIters > 0` to fit them with
    * [[KMeans.centroids]] instead — the offline Lloyd step a production
    * IVF runs (on a `Sampling.hashSample` of a 100 TB corpus), then
    * broadcasts. Either way the assignment/probe dataflow is identical:
    * one broadcast-join pass over the corpus, no shuffle of the vectors
    * themselves beyond the cell key. The top-k-per-query exactness
    * invariant (full probe ≡ brute force) holds for ANY centroid set —
    * centroid quality only moves the recall/cost curve at partial probe.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nList: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 0,
  ): DataFrame = {
    val centDf =
      if (kmeansIters > 0)
        fittedCentroidsDf(corpus, idCol, vecCol, nList, kmeansIters)
      else
        corpus.orderBy(col(idCol)).limit(nList)
          .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    ivfScan(queries, IvfIndex(centDf,
      nearestCells(corpus, idCol, vecCol, 1, centDf)), idCol, vecCol, k, nProbe)
  }

  /** Fitted double centroids cast to the CORPUS's element type (read
    * from its schema — float or double), so the cosineSim kernel sees
    * matching array types without silently narrowing a double corpus.
    */
  private def fittedCentroidsDf(
      corpus: DataFrame, idCol: String, vecCol: String, nList: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val elem = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    KMeans.centroids(corpus, idCol, vecCol, nList, dimOf(corpus, vecCol), iters)
      .zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec")
        .cast(org.apache.spark.sql.types.ArrayType(elem, containsNull = false)).as("cvec"))
  }

  /** Top-`n` nearest cells per row of `df` — the assignment/probe
    * primitive shared by the one-shot and standing-index IVF paths.
    */
  private def nearestCells(
      df: DataFrame, id: String, vecCol: String, n: Int, centDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("csim").desc, col("cid"))
    df.join(broadcast(centDf), lit(true))
      .withColumn("csim", cosineSim(col(vecCol), col("cvec")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= n)
      .drop("cvec", "csim", "crn")
  }

  /** The probe+score+top-k back half, against an ALREADY-ASSIGNED cell
    * store — shared by [[ivfTopK]] and [[ivfRetrieve]] so the one-shot
    * and standing-index paths cannot drift.
    */
  private def ivfScan(
      queries: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
  ): DataFrame = {
    val probed = nearestCells(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")).withColumnRenamed("qvec", vecCol),
      "qid", vecCol, nProbe, index.centroids)
      .withColumnRenamed(vecCol, "qvec")
    val scored = index.cells
      .join(probed, Seq("cid"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), cosineSim(col("qvec"), col(vecCol)).as("sim"))
      .distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), round(col("sim"), 6).as("sim"), col("rn"))
  }

  // ---- Standing IVF index (frozen cells) -------------------------------

  /** The IVF member of the standing-index family: `centroids` (cid,
    * cvec) is the FROZEN cell model, `cells` (idCol, vecCol, cid) the
    * corpus with its cell assignment — at 100 TB, the corpus table
    * partitioned by `cid`, which is exactly how an inverted-file store
    * lays out anyway. Arriving batches assign in the frozen model
    * ([[appendToIvfIndex]] — no refit, no touch of stored rows), queries
    * probe the standing cells ([[ivfRetrieve]]).
    */
  final case class IvfIndex(centroids: DataFrame, cells: DataFrame)

  /** Fit centroids on `corpus` (offline; at 100 TB on a hashSample
    * slice) and assign it. */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nList: Int = 16,
      iters: Int = 3,
  ): IvfIndex = {
    val centDf = fittedCentroidsDf(corpus, idCol, vecCol, nList, iters)
    IvfIndex(centDf, nearestCells(corpus, idCol, vecCol, 1, centDf))
  }

  /** Assign an arriving batch in the FROZEN cell model and append —
    * (old ∪ batch) cells ≡ a one-shot assignment of the union with the
    * same centroids. Ids must be disjoint from the indexed set.
    */
  def appendToIvfIndex(index: IvfIndex, batch: DataFrame, idCol: String, vecCol: String): IvfIndex =
    index.copy(cells = index.cells.unionByName(
      nearestCells(batch, idCol, vecCol, 1, index.centroids)))

  /** Probe a query batch against the standing cells: per query the
    * `nProbe` nearest FROZEN centroids, then exact cosine over those
    * cells only — [[ivfTopK]]'s output, without the per-run fit
    * (SimilaritySpec pins retrieve ≡ one-shot on the same data).
    */
  def ivfRetrieve(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfIndex,
      k: Int,
      nProbe: Int = 4,
  ): DataFrame = ivfScan(queries, index, idCol, vecCol, k, nProbe)

  /** Vector dimensionality from the first row (driver peek — one tiny
    * job; callers fitting repeatedly should pass corpus dims statically
    * via [[KMeans.centroids]] directly).
    */
  private def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Deterministic pseudo-random hyperplane components, exposed so the
    * DuckDB oracle for q_ann_lsh can embed the IDENTICAL literals (the
    * values are dyadic rationals — float-exact in both engines).
    */
  private[graft] def hyperplaneValues(planeId: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      // Map a 24-bit hash slice to [-1, 1) deterministically.
      ((scala.util.hashing.MurmurHash3.productHash((planeId, j)).toLong & 0xffffffL).toDouble / 0x800000L) - 1.0
    }

  /** Deterministic pseudo-random hyperplane: built as an array literal
    * column per plane — no data shuffle, pure projection.
    */
  private def hyperplane(planeId: Int, dim: Int): Column =
    array(hyperplaneValues(planeId, dim).map(lit(_)): _*)

  /** Sign-pattern bucket id from `nPlanes` hyperplanes (random projection
    * LSH for cosine similarity).
    */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes)
      .map(p => when(cosineSim(vec, hyperplane(p, dim)) >= 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** LSH-bucketed ANN: score only candidates sharing the query's bucket.
    * Recall < 1.0 by construction; multi-probe (flip one bit) widens it.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nPlanes: Int = 8,
      multiProbe: Boolean = true,
  ): DataFrame = {
    val cb = corpus.select(col(idCol), col(vecCol), lshBucket(col(vecCol), dim, nPlanes).as("bucket"))
    val qBucket = lshBucket(col(vecCol), dim, nPlanes)
    val probes: Column =
      if (multiProbe)
        concat(
          array(qBucket),
          transform(sequence(lit(0), lit(nPlanes - 1)), i => qBucket.bitwiseXOR(pow(lit(2.0), i).cast("long"))),
        )
      else array(qBucket)
    val qb = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"), explode(probes).as("bucket"))
    val scored = cb
      .join(qb, Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), cosineSim(col("qvec"), col(vecCol)).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    scored
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), round(col("sim"), 6).as("sim"), col("rn"))
  }

  // ---- Product quantization (PQ) — the memory-bounded ANN scale path ----

  /** L2-normalize to unit length (zero vectors pass through): PQ fits and
    * scans run on NORMALIZED vectors so squared-L2 ADC distance is
    * 2−2·cos — monotone with the cosine ranking every other Ann path
    * uses. Output: (id, v: array<double>).
    */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("raw"))
      .withColumn("nrm",
        sqrt(aggregate(transform(col("raw"), x => x * x), lit(0.0), (a, x) => a + x)))
      .select(col("id"),
        when(col("nrm") === 0.0, col("raw"))
          .otherwise(transform(col("raw"), x => x / col("nrm"))).as("v"))

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Fit PQ codebooks: the vector space splits into `m` subspaces of
    * dim/m dims, each clustered independently with [[KMeans.centroids]]
    * (`ksub` centroids per subspace). Result: m × ksub × (dim/m) — a few
    * KB held on the driver and shipped as literal arrays, the
    * offline-model-then-broadcast discipline of [[ivfTopK]]'s fitted
    * centroids. At 100 TB the fit runs on a `Sampling.hashSample` slice;
    * the codebook is corpus-size-independent.
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
  ): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    // FUSED fit (r14): one job per Lloyd iteration for all m subspaces
    // (KMeans.fitSubspaces) instead of m independent KMeans.centroids
    // fits — bit-identical by the decimal-sum argument there, ~m× fewer
    // jobs/corpus passes and one checkpoint instead of m+1.
    KMeans.fitSubspaces(normalized(corpus, idCol, vecCol), m, dsub, ksub, iters)
  }

  /** Encode each vector as `m` small centroid ids (argmin squared-L2 per
    * subspace, ties to the lower id) — 64 floats become 8 bytes at the
    * default config, the 32× compression that lets a 100 TB embedding
    * corpus sit scannable in memory. Output: (idCol, codes: array<int>).
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    // ONE codegen'd kernel call per row (r14): the HOF formulation below
    // ([[pqEncodeHof]], kept as the executable spec — the cosineSimHof
    // precedent) evaluated m·ksub interpreted aggregate∘zip_with distance
    // folds plus an array_sort per subspace PER CORPUS ROW — the ANN
    // family's hottest interpreted loop. Bit-identical fold order and
    // argmin tie/NaN rule (see PqImpl.encode; SimilaritySpec pins
    // kernel ≡ HOF on the real embeddings table).
    normalized(corpus, idCol, vecCol)
      .select(col("id").as(idCol),
        graft.functions.GraftFunctions.pqEncodeCodes(col("v"), codebooks).as("codes"))

  /** The no-custom-code formulation of [[pqEncode]] — kept as the
    * executable spec the kernel is equivalence-tested against.
    */
  private[graft] def pqEncodeHof(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val codeCols = (0 until m).map { s =>
      val sub = slice(col("v"), s * dsub + 1, dsub)
      val cents = array(codebooks(s).map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      element_at(
        array_sort(zip_with(cents, sequence(lit(0), lit(codebooks(s).length - 1)),
          (c, i) => struct(l2sq(sub, c).as("d"), i.as("cid")))),
        1).getField("cid")
    }
    normalized(corpus, idCol, vecCol)
      .select(col("id").as(idCol), array(codeCols.toIndexedSeq: _*).as("codes"))
  }

  /** PQ ANN with asymmetric-distance (ADC) scan + exact re-rank: each
    * query precomputes one m × ksub lookup table of subspace distances
    * to the codebooks, a compressed-domain scan sums m table entries per
    * candidate (never touching the original vectors), the best `rerank`
    * candidates per query are re-scored exactly, and the top `k` emerge.
    *
    * Scale shape: queries (with their LUTs) broadcast into the codes
    * scan — the corpus side is the 32×-compressed codes table, never
    * shuffled; both rank filters compile to WindowGroupLimit; only the
    * `rerank`-sized shortlist rejoins the full vectors. Recall is tuned
    * by (m, ksub, rerank), pinned vs brute force in SimilaritySpec.
    * Output matches [[ivfTopK]]: (qid, idCol, sim, rn).
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      rerank: Int = 32,
  ): DataFrame =
    adcScan(queries, pqEncode(corpus, idCol, vecCol, codebooks), codebooks,
      corpus, idCol, vecCol, k, rerank)

  /** ADC scan + exact re-rank against an ALREADY-ENCODED codes table —
    * the shared core of [[pqTopK]] (one-shot) and [[pqRetrieve]]
    * (standing index). `vectors` supplies the raw embeddings for the
    * shortlist re-rank (keyed lookup of `rerank` ids per query — at
    * 100 TB this is the only touch of the uncompressed store).
    */
  private def adcScan(
      queries: DataFrame,
      codes: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int,
  ): DataFrame = {
    val adc = codes
      .join(broadcast(queryLuts(queries, idCol, vecCol, codebooks)), col(idCol) =!= col("qid"))
      .withColumn("adc", adcSum)
    rerankShortlist(adc, queries, vectors, idCol, vecCol, k, rerank)
  }

  /** Per-query ADC lookup tables: (qid, lut) with lut[s][cid] = squared-L2
    * from the query's s-th NORMALIZED subvector to codebook centroid cid.
    * The m × ksub table is a per-row literal-array projection — the whole
    * frame broadcasts into the codes scan.
    */
  private def queryLuts(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val lut = array((0 until m).map { s =>
      val qsub = slice(col("v"), s * dsub + 1, dsub)
      val cents = array(codebooks(s).map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      transform(cents, c => l2sq(qsub, c))
    }.toIndexedSeq: _*)
    normalized(queries, idCol, vecCol).select(col("id").as("qid"), lut.as("lut"))
  }

  /** The compressed-domain distance: per subspace, the stored code picks
    * its LUT entry; the m entries sum in subspace order (the oracle's
    * list_reduce replays the same fold). ONE codegen'd kernel call (r14)
    * — this is the per-row hot loop of the corpus × queries ADC scan;
    * the interpreted aggregate∘zip_with fold it replaces is kept as the
    * executable spec in [[adcSumHof]] (SimilaritySpec pins kernel ≡ HOF).
    */
  private def adcSum: Column =
    graft.functions.GraftFunctions.adcDistance(col("codes"), col("lut"))

  /** The no-custom-code formulation of [[adcSum]] — the kernel's
    * executable spec.
    */
  private[graft] def adcSumHof: Column =
    aggregate(
      zip_with(col("codes"), col("lut"), (code, row) => element_at(row, code + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Top-`rerank` by ADC per query (WindowGroupLimit), exact cosine
    * re-score of the shortlist against the raw `vectors` store, top-`k`.
    */
  private def rerankShortlist(
      adc: DataFrame,
      queries: DataFrame,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int,
  ): DataFrame = {
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col(idCol))
    val shortlist = adc
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select(col("qid"), col(idCol))
    val rescored = shortlist
      .join(vectors.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))), Seq("qid"))
      .select(col("qid"), col(idCol), cosineSim(col("qvec"), col(vecCol)).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    rescored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), round(col("sim"), 6).as("sim"), col("rn"))
  }

  /** IVF-PQ — the composed FAISS-style scale shape: an IVF coarse
    * quantizer routes each query to its `nProbe` nearest cells, and the
    * PQ ADC scan runs over ONLY those cells' compressed codes (vs
    * [[pqTopK]]'s whole-corpus scan), then the usual exact re-rank.
    * Non-residual variant: codes encode the vectors themselves, not the
    * vector−centroid residuals — so the same codes table serves both the
    * routed and unrouted scans, and at nProbe = nList this is EXACTLY
    * [[pqTopK]] (pinned in SimilaritySpec).
    *
    * Scale shape: corpus-side work is one coarse assignment + one encode
    * pass (both broadcast-model projections, no shuffle of the vectors);
    * per query batch, the broadcast (qid, cid, lut) probe frame meets the
    * cell-keyed codes scan, cutting scanned codes by ~nProbe/nList; both
    * rank filters compile to WindowGroupLimit. At 100 TB the codes table
    * lives partitioned by `cid` — the probe join is then partition
    * pruning, not even a scan of cold cells.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nList: Int = 8,
      nProbe: Int = 2,
      coarseIters: Int = 3,
      rerank: Int = 32,
  ): DataFrame = {
    val centDf = fittedCentroidsDf(corpus, idCol, vecCol, nList, coarseIters)
    val cells = nearestCells(corpus.select(col(idCol), col(vecCol)), idCol, vecCol, 1, centDf)
      .select(col(idCol), col("cid"))
    ivfPqScan(queries, centDf, cells, pqEncode(corpus, idCol, vecCol, codebooks),
      codebooks, corpus, idCol, vecCol, k, nProbe, rerank)
  }

  /** The routed ADC scan against ALREADY-ASSIGNED cells and
    * ALREADY-ENCODED codes — shared by [[ivfPqTopK]] (one-shot) and
    * [[ivfPqRetrieve]] (standing index) so the paths cannot drift.
    */
  private def ivfPqScan(
      queries: DataFrame,
      centroids: DataFrame,
      cells: DataFrame,
      codes: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      rerank: Int,
  ): DataFrame = {
    val probes = nearestCells(
      queries.select(col(idCol).as("qid"), col(vecCol)), "qid", vecCol, nProbe, centroids)
      .select(col("qid"), col("cid"))
    val adc = codes
      .join(cells.select(col(idCol), col("cid")), Seq(idCol))
      .join(broadcast(probes.join(queryLuts(queries, idCol, vecCol, codebooks), Seq("qid"))), Seq("cid"))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("adc", adcSum)
    rerankShortlist(adc, queries, vectors, idCol, vecCol, k, rerank)
  }

  // ---- Standing IVF-PQ index (frozen coarse cells + frozen codebooks) --

  /** The composed standing retrieval index: [[IvfIndex]] routing halves
    * (frozen coarse centroids + assigned cells) and [[PqIndex]]
    * compression halves (frozen codebooks + encoded codes), all four
    * model-as-data DataFrames. Batches append through BOTH frozen
    * models ([[appendToIvfPqIndex]] — no refit anywhere), queries route
    * and scan the standing stores ([[ivfPqRetrieve]]) — the fit cost of
    * [[ivfPqTopK]] amortizes away exactly as the PQ/IVF standing paths
    * do individually.
    */
  final case class IvfPqIndex(ivf: IvfIndex, pq: PqIndex)

  /** Fit both models on `corpus` (offline; at 100 TB, on a hashSample
    * slice) and assign+encode it.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nList: Int = 8,
      coarseIters: Int = 3,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
  ): IvfPqIndex =
    IvfPqIndex(
      buildIvfIndex(corpus, idCol, vecCol, nList, coarseIters),
      buildPqIndex(corpus, idCol, vecCol, dim, m, ksub, iters))

  /** Assign + encode an arriving batch in BOTH frozen models and append
    * — (old ∪ batch) stores ≡ one-shot assignment/encoding of the union
    * with the same models. Ids must be disjoint from the indexed set.
    */
  def appendToIvfPqIndex(index: IvfPqIndex, batch: DataFrame, idCol: String, vecCol: String): IvfPqIndex =
    IvfPqIndex(
      appendToIvfIndex(index.ivf, batch, idCol, vecCol),
      appendToPqIndex(index.pq, batch, idCol, vecCol))

  /** Route a query batch through the standing coarse cells and ADC-scan
    * the standing codes — [[ivfPqTopK]]'s output without any per-run
    * fit (SimilaritySpec pins retrieve ≡ one-shot on a full build, and
    * sub-batch-append invariance).
    */
  def ivfPqRetrieve(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfPqIndex,
      vectors: DataFrame,
      k: Int,
      nProbe: Int = 2,
      rerank: Int = 32,
  ): DataFrame =
    ivfPqScan(queries, index.ivf.centroids, index.ivf.cells.select(col(idCol), col("cid")),
      index.pq.codes, codebookArrays(index.pq.codebooks), vectors, idCol, vecCol, k, nProbe, rerank)

  // ---- Standing PQ index (frozen codebooks + stored codes) -------------

  /** A standing product-quantization index, the PQ member of the
    * incremental-retrieval family ([[graft.similarity.SparseSim.buildBm25Index]]
    * pattern): both halves are model-as-data DataFrames a pipeline
    * parquets once and reuses per batch.
    *
    *  - `codebooks` (s, cid, cv: array<double>) — the FROZEN m × ksub
    *    subspace centroids, a few KB;
    *  - `codes` (idCol, codes: array<int>) — every indexed vector as m
    *    small centroid ids, the 32×-compressed scannable store.
    *
    * Retrieval against the index never refits: arriving query batches
    * compute ADC LUTs from the stored codebooks, and arriving corpus
    * batches encode with [[appendToPqIndex]] — so scores are a pure
    * function of (query, index) and scoring in any sub-batching is
    * bit-identical (SimilaritySpec pins split-append ≡ one-shot).
    */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame)

  /** Fit codebooks on `corpus` (the offline step — at 100 TB, on a
    * `Sampling.hashSample` slice) and encode it. The returned halves are
    * plain DataFrames: write them out and the index is durable.
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
  ): PqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = pqCodebooks(corpus, idCol, vecCol, dim, m, ksub, iters)
    val cb = books.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cv, cid) => (s, cid, cv.toSeq) }
    }.toSeq.toDF("s", "cid", "cv")
    PqIndex(cb, pqEncode(corpus, idCol, vecCol, books))
  }

  /** Stored codebooks back to the driver-side matrix the encode/LUT
    * literals are built from. Bounded collect BY CONSTRUCTION: m × ksub
    * rows (128 at the default config, ~8 KB) — the model half of a PQ
    * index is corpus-size-independent, exactly like a broadcast join's
    * build side.
    */
  def codebookArrays(codebooks: DataFrame): Array[Array[Array[Double]]] =
    codebooks
      .select(col("s").cast("int"), col("cid").cast("int"), col("cv"))
      .collect()
      .groupBy(_.getInt(0))
      .toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray

  /** Encode an arriving corpus batch with the index's FROZEN codebooks
    * and append its codes — no refit, no touch of existing rows, so
    * (old ∪ batch) codes ≡ one-shot encode of the union with the same
    * books. Ids must be disjoint from the indexed set.
    */
  def appendToPqIndex(
      index: PqIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
  ): PqIndex =
    index.copy(codes = index.codes.unionByName(
      pqEncode(batch, idCol, vecCol, codebookArrays(index.codebooks))))

  /** Score a query batch against a standing [[PqIndex]]: per-query ADC
    * LUTs from the STORED codebooks, compressed-domain scan of the
    * stored codes (never re-encoded, never shuffled — queries broadcast
    * in), exact re-rank of the shortlist against `vectors` (the raw
    * embedding table; only `rerank` ids per query are looked up).
    * Output matches [[pqTopK]]: (qid, idCol, sim, rn).
    */
  def pqRetrieve(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: PqIndex,
      vectors: DataFrame,
      k: Int,
      rerank: Int = 32,
  ): DataFrame =
    adcScan(queries, index.codes, codebookArrays(index.codebooks),
      vectors, idCol, vecCol, k, rerank)
}
