package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.simhash64
import graft.graph.DriverTier
import graft.text.TextAnalysis

/** Near-duplicate detection at corpus scale (beyond-reference scope).
  *
  * Three families, in increasing recall/cost order:
  *  1. SimHash: one 64-bit fingerprint per doc; near-dups = small Hamming
  *     distance. Candidate generation via banded prefixes.
  *  2. MinHash + LSH: k minhashes per doc, banded into b buckets; docs
  *     sharing any band bucket are candidates (standard shingle→minhash→
  *     band→bucket-join construction).
  *  3. Exact n-gram Jaccard verification on candidate pairs.
  *
  * Scale design: nothing here ever builds the O(n²) pair space. Candidate
  * generation is `explode(bands) → groupBy(bucket)`, i.e. one shuffle keyed
  * on band hash; only docs that collide in a bucket are paired. Bucket-size
  * capping (`maxBucket`) bounds the quadratic blowup from degenerate
  * buckets (e.g. empty docs) — the cap is logged, not silent.
  */
object NearDup {

  /** k minhash values for an array-of-shingles column. Each hash seed is a
    * distinct literal, so the whole signature is one codegen'd projection:
    * minhash_i(doc) = min over shingles s of xxhash64(i, s).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingles, s => xxhash64(lit(i), s)))
    }: _*)

  /** LSH bands: split the k-length signature into `bands` groups of
    * `rowsPerBand` and hash each group to one bucket key per band.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws("_", slice(signature, b * rowsPerBand + 1, rowsPerBand))).as("bucket"),
      )
    }: _*)

  /** `(idCol, sig)` minhash signatures of every doc with ≥ shingleLen
    * tokens — the corpus pass shared by the one-shot and incremental
    * candidate generators (r15: q_dedup_clusters_incremental runs BOTH
    * over the same base corpus; computing signatures once and
    * checkpointing saves a full tokenize+minhash corpus pass).
    *
    * Single-pass custom expression (graft.functions.MinHashShingles):
    * ~7× faster than the k-pass HOF formulation in [[minhashSignature]].
    * Too-short docs are dropped on token count BEFORE the kernel runs: a
    * post-hoc `sig.isNotNull` filter gets collapsed below the projection
    * and evaluates the whole minhash kernel twice per row (once in the
    * Filter's null check, once in the Project).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 20,
  ): DataFrame =
    docs
      .filter(size(TextAnalysis.tokens(col(textCol))) >= shingleLen)
      .select(
        col(idCol),
        graft.functions.GraftFunctions
          .minhashShingles(TextAnalysis.tokens(col(textCol)), shingleLen, numHashes)
          .as("sig"),
      )

  /** MinHash-LSH candidate pairs over a document table.
    *
    * @return (idCol_a, idCol_b) candidate pairs, idA < idB, deduplicated.
    */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 20,
      bands: Int = 4,
      maxBucket: Int = 1000,
  ): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(docs, idCol, textCol, shingleLen, numHashes),
      idCol, numHashes, bands, maxBucket)

  /** [[minhashCandidates]] from a precomputed [[minhashSignatures]] frame
    * — callers that also feed the signatures elsewhere (the incremental
    * clusters query) checkpoint them once and share the corpus pass.
    */
  def minhashCandidatesFromSigs(
      sigs: DataFrame,
      idCol: String,
      numHashes: Int = 20,
      bands: Int = 4,
      maxBucket: Int = 1000,
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    val buckets = sigs
      .select(col(idCol), col("sig"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(struct(col(idCol).as("id"), col("sig")).as("member"), col("b.band"), col("b.bucket"))
    firstBandPairs(buckets, rowsPerBand, maxBucket)
      .select(col("m.id").as(idCol + "_a"), col("n.id").as(idCol + "_b"))
  }

  /** Pair members within surviving buckets, emitting each pair EXACTLY
    * once — at its first signature-equal band whose bucket survived the
    * `maxBucket` cap.
    *
    * Pairing is successor-style (sort members, pair each with its
    * followers): n·(n−1)/2 (a<b) pairs, no self-join, no n² filter.
    *
    * First-collision-band dedup: a true near-dup pair collides in MANY
    * bands (an identical pair in ALL of them), so emitting per band and
    * running a global distinct() shuffles ~bands× the unique pair count
    * — measured as the dominant stage of the dedup pipeline. Instead a
    * narrow signature-prefix check keeps each pair only in its first
    * matching band: no duplicate row is ever shuffled.
    *
    * The cap interacts with that check: a pair whose EARLIEST equal band
    * sat in a capped-away bucket was never emitted there, so suppressing
    * it at later bands would drop it everywhere. The (rare, degenerate)
    * capped bucket keys are folded in as a one-row broadcast array and
    * the suppression only counts earlier bands whose bucket survived.
    *
    * @param buckets (member: struct with a `sig` field, band, bucket)
    * @param bucketFilter extra predicate over the collected member array
    * @return (band, m, n) — m/n are member structs, m.id < n.id
    */
  private def firstBandPairs(
      buckets: DataFrame,
      rowsPerBand: Int,
      maxBucket: Int,
      bucketFilter: Column => Column = _ => lit(true),
  ): DataFrame = {
    // One groupBy feeds both consumers below; the physical exchange is
    // shared (ReusedExchange), so the bucket build runs once.
    val sized = buckets
      .groupBy("band", "bucket")
      .agg(collect_list(col("member")).as("ms"))
    val kept = sized
      .filter(size(col("ms")) between (2, maxBucket))
      .filter(bucketFilter(col("ms")))
    // Degenerate buckets beyond the cap: tiny set, one row, broadcast.
    val capped = sized
      .filter(size(col("ms")) > maxBucket)
      .agg(collect_list(struct(col("band"), col("bucket"))).as("capped"))
    // Bucket key of band j, recomputed from the signature — identical to
    // [[lshBands]]' construction.
    def bucketAt(j: Column): Column =
      xxhash64(concat_ws("_", slice(col("m.sig"), j * rowsPerBand + 1, lit(rowsPerBand))))
    val suppressedEarlier = when(col("band") === 0, lit(false)).otherwise(
      exists(sequence(lit(0), col("band") - 1), j =>
        forall(sequence(j * rowsPerBand, (j + 1) * rowsPerBand - 1), k =>
          element_at(col("m.sig"), k + 1) === element_at(col("n.sig"), k + 1)) &&
          !array_contains(col("capped"), struct(j.cast("int").as("band"), bucketAt(j).as("bucket")))))
    kept
      .select(col("band"), array_sort(col("ms")).as("ms"))
      .select(col("band"), posexplode(col("ms")).as(Seq("pos", "m")), col("ms"))
      .select(col("band"), col("m"), explode(slice(col("ms"), col("pos") + 2, size(col("ms")))).as("n"))
      .crossJoin(broadcast(capped))
      .filter(!suppressedEarlier)
      .select(col("band"), col("m"), col("n"))
  }

  /** Candidate pairs for an INCREMENTAL corpus update: pairs over
    * newDocs ∪ oldDocs where at least one side is new — old×old pairs
    * are never emitted (they were found when the old corpus was built,
    * and re-finding them would redo the whole corpus's work every
    * batch). Same LSH construction and first-collision-band dedup as
    * [[minhashCandidates]]; buckets whose members are all old are
    * dropped before pairing, so a daily batch pays for its own bands
    * plus only the colliding slice of the standing corpus. At 100 TB
    * the old side's (band, bucket, id, sig) tuples are a precomputed
    * partitioned index — the groupBy here co-locates new bands with it
    * on the same shuffle key. Doc-id sets must be disjoint.
    */
  def incrementalCandidates(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 20,
      bands: Int = 4,
      maxBucket: Int = 1000,
  ): DataFrame =
    incrementalCandidatesFromSigs(
      minhashSignatures(newDocs, idCol, textCol, shingleLen, numHashes),
      minhashSignatures(oldDocs, idCol, textCol, shingleLen, numHashes),
      idCol, numHashes, bands, maxBucket)

  /** [[incrementalCandidates]] from precomputed [[minhashSignatures]]
    * frames — the old side is usually the standing corpus whose
    * signatures the caller already built (or holds as the stored index),
    * so re-running the corpus tokenize+minhash pass here would double
    * the dominant scan.
    */
  def incrementalCandidatesFromSigs(
      newSigs: DataFrame,
      oldSigs: DataFrame,
      idCol: String,
      numHashes: Int = 20,
      bands: Int = 4,
      maxBucket: Int = 1000,
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    val all = newSigs.withColumn("is_new", lit(true))
      .unionByName(oldSigs.withColumn("is_new", lit(false)))
    val buckets = all
      .select(
        struct(col(idCol).as("id"), col("sig"), col("is_new")).as("member"),
        explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("member"), col("b.band"), col("b.bucket"))
    // All-old buckets carry no incremental pair; drop before pairing.
    // (Any bucket holding both members of a new-involving pair also
    // holds the new member, so the first-collision-band suppression in
    // firstBandPairs still sees every colliding band of such a pair.)
    firstBandPairs(buckets, rowsPerBand, maxBucket,
        bucketFilter = ms => exists(ms, m => m("is_new")))
      .filter(col("m.is_new") || col("n.is_new"))
      .select(col("m.id").as(idCol + "_a"), col("n.id").as(idCol + "_b"))
  }

  /** Winnowing-fingerprint near-dup candidates: pairs of docs sharing at
    * least `minShared` winnow fingerprints (graft.functions.Winnow —
    * rolling-hash k-grams, window minima). Same bucket-join shape as
    * MinHash-LSH: explode fingerprints → group per fingerprint →
    * successor pairs → count per pair — the O(n²) pair space is never
    * built.
    *
    * `maxBucket` is the selectivity control, NOT just a safety cap: a
    * fingerprint present in many documents is a stop-phrase k-gram that
    * says nothing about duplication but pairs all its holders
    * quadratically (defaults of k=8/w=4/maxBucket=10⁴ made ~86% of all
    * possible doc pairs "candidates" on the test corpus). Keep it small;
    * raise `k` for more selective grams.
    */
  def winnowCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      w: Int = 8,
      minShared: Int = 10,
      maxBucket: Int = 20,
  ): DataFrame = {
    val fps = docs.select(
      col(idCol),
      explode(graft.functions.GraftFunctions.winnow(
        graft.core.Cleanup.normalizeText(col(textCol)), k, w)).as("fp"),
    )
    val sized = fps
      .groupBy("fp")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) between (2, maxBucket))
    sized
      // r15: successor pairs via the codegen'd kernel (fan-out ≤
      // maxBucket²/2, tiny at the default 20) — the old chain also
      // re-sorted `ids` once per position inside the slice.
      .select(explode(graft.functions.GraftFunctions.successorPairs(
        array_sort(col("ids")))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a").as(idCol + "_a"), col("b").as(idCol + "_b"), col("n_shared"))
  }

  /** SimHash fingerprints for a document table. */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), simhash64(TextAnalysis.tokens(lower(col(textCol)))).as("simhash"))

  /** SimHash near-dup candidates: band the 64-bit fingerprint into 4
    * 16-bit chunks; by pigeonhole, any pair within Hamming distance 3
    * (= bands − 1) shares at least one exact chunk — full recall up to
    * there. Verify with bit_count(xor) ≤ maxDist. For maxDist > 3 the
    * chunk-collision candidate set is approximate (recall < 1): pairs
    * with all four chunks differing are never surfaced.
    */
  def simhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucket: Int = 10000,
  ): DataFrame = {
    val fp = simhashes(docs, idCol, textCol)
    val banded = fp.select(
      col(idCol),
      col("simhash"),
      explode(
        array((0 until 4).map { b =>
          struct(lit(b).as("band"), (shiftrightunsigned(col("simhash"), b * 16) bitwiseAND lit(0xffffL)).as("chunk"))
        }: _*)
      ).as("b"),
    ).select(col(idCol), col("simhash"), col("b.band"), col("b.chunk"))
    // Same shape as [[minhashCandidates]]: group per bucket and pair each
    // member with its successors — no exploded self-join, and the
    // maxBucket cap bounds the quadratic blowup of degenerate chunks
    // (chunk 0x0000 collects every short/empty doc).
    val sized = banded
      .groupBy("band", "chunk")
      .agg(collect_list(struct(col(idCol).as("id"), col("simhash"))).as("ms"))
      .filter(size(col("ms")) between (2, maxBucket))
      .select(array_sort(col("ms")).as("ms"))
    sized
      .select(posexplode(col("ms")).as(Seq("pos", "m")), col("ms"))
      .select(col("m"), explode(slice(col("ms"), col("pos") + 2, size(col("ms")))).as("n"))
      .select(
        col("m.id").as(idCol + "_a"),
        col("n.id").as(idCol + "_b"),
        bit_count(col("m.simhash") bitwiseXOR col("n.simhash")).as("hamming"),
      )
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Node-id normalization for the label domain: INTEGRAL numeric ids
    * cast to long (lossless; ANSI mode throws rather than silently
    * nulling on overflow), everything else (string/UUID/binary ids, and
    * fractional/decimal ids — where cast("long") would TRUNCATE 1.2 and
    * 1.7 onto the same node and merge unrelated components) hashed to a
    * stable 64-bit label via xxhash64 — a raw cast("long") would null
    * every string id and the null-keyed joins would silently degenerate
    * to an empty propagation. Hashed labels live in hash space, not id
    * space; callers needing original ids join the result back on the
    * hashed column. Caveat: xxhash64 is a 64-bit hash — at billions of
    * distinct non-integral ids, birthday collisions (~n²/2⁶⁵) can merge
    * two unrelated nodes; use integral ids where that risk matters.
    */
  private def nodeId(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
      c.cast("long")
    case _ => when(c.isNull, lit(null).cast("long")).otherwise(xxhash64(c))
  }

  /** (src, dst) as [[nodeId]] labels. Edges with a null endpoint are
    * dropped (they can never connect anything; left in, null==null join
    * semantics would silently drop the propagation instead).
    */
  private def symEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .select(
        nodeId(edges(aCol), edges.schema(aCol).dataType).as("src"),
        nodeId(edges(bCol), edges.schema(bCol).dataType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  /** Connected components over an undirected edge list via min-label
    * propagation: every node repeatedly adopts the minimum label among
    * itself and its neighbors until fixpoint — the step a real dedup
    * pipeline needs between candidate PAIRS and survivor selection
    * (duplicate groups are transitive; pairs alone are not).
    *
    * Scale shape: one shuffle (join + groupBy on id) per iteration;
    * iterations ≤ graph diameter, and near-dup graphs are shallow
    * (duplicate groups are cliques or short chains). Labels persist per
    * iteration to truncate lineage. Convergence check is a cheap
    * sum(label) action: the label vector is component-wise
    * non-increasing, so the sum strictly decreases until fixpoint
    * (decimal accumulator — id sums can exceed long for hash-derived ids).
    *
    * @param fixedIterations when true, runs exactly `maxIter` propagation
    *   rounds as ONE lazy plan (no per-round driver actions): correct
    *   whenever `maxIter` ≥ the largest component's diameter — a safe bet
    *   for near-dup graphs, where groups are cliques or short chains. When
    *   false (default), iterates with a decimal label-sum fixpoint check
    *   per round — use for graphs of unknown shape. Edges with a null
    *   endpoint are dropped.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      fixedIterations: Boolean = false,
  ): DataFrame = {
    val sym = symEdges(edges, aCol, bCol)
    if (fixedIterations) {
      // Materialize the edge list once and truncate its lineage: the
      // candidate+verify pipeline feeding it is expensive and appears
      // maxIter+1 times in the lazy plan below (diamond subtrees in ONE
      // job recompute per consumer — measured, see README). Unlike
      // persist(), localCheckpoint blocks are reclaimed by the
      // ContextCleaner once the result is unreferenced, so long-running
      // sessions don't leak a cache entry per call. eager=false keeps
      // DataFrame CONSTRUCTION free of jobs (plan audits, tests building
      // queries without running them); materialization happens on the
      // caller's first action.
      val both = sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(eager = false)
      var labels = both.select(col("src").as("id")).distinct().withColumn("label", col("id"))
      (1 to maxIter).foreach { i =>
        val prop = both
          .join(labels, both("src") === labels("id"))
          .select(both("dst").as("id"), col("label"))
        labels = labels.union(prop).groupBy("id").agg(min("label").as("label"))
        // Each round references `labels` twice (join + union), so the lazy
        // plan doubles per round — 2^k subtrees by round k, and Catalyst
        // compile time with it. Materializing the (tiny) label table every
        // few rounds keeps the plan bounded at ~2³ for the cost of one
        // small job per segment.
        if (i % 3 == 0 && i < maxIter) labels = labels.localCheckpoint(eager = false)
      }
      labels
    } else {
      // Cached so the edge list computes once and is reused by every
      // iteration's job; unpersisted before returning.
      val both = sym.union(sym.select(col("dst").as("src"), col("src").as("dst"))).persist()
      var labels = both.select(col("src").as("id")).distinct().withColumn("label", col("id"))
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      var cur = labels.persist()
      var prevSum = labelSum(cur)
      var done = false
      var i = 0
      while (!done && i < maxIter) {
        val prop = both
          .join(cur, both("src") === cur("id"))
          .select(both("dst").as("id"), col("label"))
        val next = cur.union(prop).groupBy("id").agg(min("label").as("label")).persist()
        val s = labelSum(next)
        cur.unpersist()
        cur = next
        done = s == prevSum
        prevSum = s
        i += 1
      }
      both.unpersist()
      cur
    }
  }

  /** INCREMENTAL connected components — the clusters-under-ingest step
    * that completes the dedup story's standing state: fold a batch's new
    * edges into a standing `(id, label)` assignment WITHOUT revisiting
    * the historical edge set. Every existing component is already a star
    * (each member points at its min-id label), so re-running CC over
    * `labels-as-edges ∪ newEdges` touches |labels| + |newEdges| edges
    * instead of the full pair history — and star compression preserves
    * connectivity EXACTLY, so the result is bit-equal to a full
    * recompute over (old ∪ new) edges, labels staying min-id-per-
    * component (GraphSpec pins the equivalence on random graphs). Store
    * the labels, drop the edges: the labels ARE the sufficient state.
    *
    * At 100 TB: the standing labels are one row per ever-paired doc (a
    * sliver of the corpus), each batch adds its verified pairs from
    * [[incrementalCandidates]], and the adaptive CC underneath routes
    * through the driver union-find until the label table outgrows it.
    */
  def incrementalComponents(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String,
      bCol: String,
  ): DataFrame =
    connectedComponentsAdaptive(
      labels.select(col("id").as("__a"), col("label").as("__b"))
        .unionByName(newEdges.select(
          nodeId(newEdges(aCol), newEdges.schema(aCol).dataType).as("__a"),
          nodeId(newEdges(bCol), newEdges.schema(bCol).dataType).as("__b"))),
      "__a", "__b")

  /** [[connectedComponents]] with an ADAPTIVE execution strategy: count
    * the (normalized, null-dropped) edges first, and when they fit the
    * driver comfortably, label them with an in-memory union-find instead
    * of iterative propagation — the same threshold logic Spark applies
    * when it broadcasts a small join side. The verified near-dup edge
    * list is typically a sliver of the corpus (dup pairs, not docs), so
    * even 100 TB corpora often land in the fast path; past the threshold
    * this delegates to CONVERGENT distributed propagation (fixpoint-
    * checked, up to 25 rounds — not a caller-supplied fixed round count,
    * so crossing the threshold cannot silently under-converge a deep
    * graph). Both paths label every node with the min node id
    * (hash-space id for non-integral keys) of its component.
    *
    * The tier choice is [[graft.graph.DriverTier]]'s (node ids are long
    * after normalization); it is EAGER — counting the edge list runs a
    * job at construction. Use [[connectedComponents]] where construction
    * must stay job-free.
    */
  def connectedComponentsAdaptive(
      edges: DataFrame,
      aCol: String,
      bCol: String,
  ): DataFrame =
    DriverTier.pairs(symEdges(edges, aCol, bCol))(
      connectedComponents(_, "src", "dst", maxIter = 25, fixedIterations = false)) { es =>
      // Union-find with path halving; attaching the larger root under the
      // smaller keeps every root the min of its component, so find() alone
      // resolves the final labels.
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p)
          x = parent(x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (a, b) => labels(a) = find(a); labels(b) = find(b) }
      val spark = edges.sparkSession
      import spark.implicits._
      labels.toSeq.toDF("id", "label")
    }

  /** CONTRACT variant of the MinHash pipeline, closing the oracle gap the
    * raw candidate query cannot (signatures are xxhash64-derived; no SQL
    * engine recomputes them): the ROW SET is the exact-Jaccard-verified
    * near-dup pairs at a recall≈1 LSH configuration — which an oracle
    * reproduces as all-pairs exact Jaccard (at 12 single-hash bands a
    * J ≥ 0.8 pair escapes every band with prob (1−J)¹² ≤ 4e-9) — and the
    * MinHash ESTIMATE ships as an envelope boolean the oracle expects
    * TRUE: |est − jaccard| ≤ envelope, est = matching signature fraction.
    * E[est] is exactly the set Jaccard (MinHash is multiset-insensitive:
    * min over a multiset = min over its support), so at k=12 hashes the
    * default 0.4 envelope is a ≥ 4.8σ binomial bound — P(flip) ≤ 3e-4
    * per pair even at J = 0.8, diminishing fast for the near-identical
    * pairs a dup corpus actually holds. The exact `jaccard` column keeps
    * an envelope flip on regenerated data diagnosable as estimator
    * drift, not row-set drift.
    *
    * Scale shape: identical to [[minhashCandidates]] + [[jaccardVerify]]
    * (LSH bucketing, successor pairs, candidate-slice-only shingling);
    * the signature re-join touches only verified-pair members.
    */
  def minhashContract(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 12,
      maxBucket: Int = 10000,
      minJaccard: Double = 0.8,
      envelope: Double = 0.4,
  ): DataFrame = {
    val verified = jaccardVerify(
      minhashCandidates(docs, idCol, textCol, shingleLen, numHashes, bands, maxBucket),
      docs, idCol, textCol, shingleLen, minJaccard,
    ).localCheckpoint(eager = false) // two consumers: member ids + pair join
    val members = verified
      .select(explode(array(col(idCol + "_a"), col(idCol + "_b"))).as(idCol))
      .distinct()
    val sigs = docs
      .join(members, Seq(idCol), "left_semi")
      .filter(size(TextAnalysis.tokens(col(textCol))) >= shingleLen)
      .select(
        col(idCol),
        graft.functions.GraftFunctions
          .minhashShingles(TextAnalysis.tokens(col(textCol)), shingleLen, numHashes)
          .as("sig"))
    val est = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
      .cast("double") / numHashes
    verified
      .join(sigs.withColumnRenamed(idCol, idCol + "_a").withColumnRenamed("sig", "sig_a"), Seq(idCol + "_a"))
      .join(sigs.withColumnRenamed(idCol, idCol + "_b").withColumnRenamed("sig", "sig_b"), Seq(idCol + "_b"))
      .select(
        col(idCol + "_a"), col(idCol + "_b"), col("jaccard"),
        (abs(est - col("jaccard")) <= envelope).as("mh_within_envelope"))
  }

  /** CONTRACT variant of SimHash (same design as [[minhashContract]]):
    * oracle-reproducible row set (exact-Jaccard near-dup pairs at a
    * recall≈1 LSH config), with the xxhash64-derived 64-bit fingerprint
    * certified through an envelope boolean — Hamming distance ≤
    * `maxHamming` for every verified pair. Theory: E[hamming] =
    * 64·θ/π where cos θ is the token-frequency cosine (Charikar'02);
    * a shingle-Jaccard ≥ 0.7 pair has token cosine ≳ 0.9 → E[hamming]
    * ≲ 9 with σ ≈ 2.8, so the default 28 sits ≥ 6σ out. The verified
    * `jaccard` column keeps any envelope flip diagnosable.
    */
  def simhashContract(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 12,
      maxBucket: Int = 10000,
      minJaccard: Double = 0.7,
      maxHamming: Int = 28,
  ): DataFrame = {
    val verified = jaccardVerify(
      minhashCandidates(docs, idCol, textCol, shingleLen, numHashes, bands, maxBucket),
      docs, idCol, textCol, shingleLen, minJaccard,
    ).localCheckpoint(eager = false)
    val members = verified
      .select(explode(array(col(idCol + "_a"), col(idCol + "_b"))).as(idCol))
      .distinct()
    val fp = simhashes(docs.join(members, Seq(idCol), "left_semi"), idCol, textCol)
    verified
      .join(fp.withColumnRenamed(idCol, idCol + "_a").withColumnRenamed("simhash", "sh_a"), Seq(idCol + "_a"))
      .join(fp.withColumnRenamed(idCol, idCol + "_b").withColumnRenamed("simhash", "sh_b"), Seq(idCol + "_b"))
      .select(
        col(idCol + "_a"), col(idCol + "_b"), col("jaccard"),
        (bit_count(col("sh_a") bitwiseXOR col("sh_b")) <= maxHamming).as("sh_within_envelope"))
  }

  /** Quality-aware survivor selection over near-dup clusters: per
    * cluster keep the member MAXIMIZING `quality` (ties → smaller id) —
    * the keep-best policy production dedup actually runs (longest doc,
    * highest classifier score, freshest crawl) instead of keep-min-id.
    * `labels` is `connectedComponents*` output; docs absent from it are
    * their own singleton cluster and survive.
    *
    * Scale shape: the per-cluster argmax is ONE partial-aggregating
    * `max(struct)` (map-side combine; the shuffle carries one row per
    * cluster per map partition) joined back on the cluster key — no
    * unbounded window over the corpus, the `Dedup.bestRowPerKey`
    * discipline. Output: docs' columns + (cluster, survivor_id,
    * is_survivor).
    */
  def survivorsByQuality(
      docs: DataFrame,
      idCol: String,
      labels: DataFrame,
      quality: Column,
  ): DataFrame = {
    val withCluster = docs
      .join(labels, docs(idCol) === labels("id"), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .drop("id", "label")
    val best = withCluster
      .groupBy("cluster")
      .agg(max(struct(quality.as("q"), (-col(idCol)).as("nid"))).as("b"))
      .select(col("cluster"), (-col("b.nid")).as("survivor_id"))
    withCluster
      .join(best, Seq("cluster"))
      .withColumn("is_survivor", col(idCol) === col("survivor_id"))
  }

  /** Exact word-shingle Jaccard similarity between candidate pairs:
    * joins the docs back in (broadcast if small) and computes
    * |A∩B| / |A∪B| with array set algebra — no UDF.
    */
  def jaccardVerify(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minJaccard: Double = 0.8,
  ): DataFrame = {
    // Shingle ONLY candidate members: the candidate pairs are a sliver of
    // the corpus (that is the whole point of LSH), so the exact-Jaccard
    // pass semi-join-reduces `docs` to ids that appear in a pair before
    // tokenizing — at 100 TB this is the difference between two full
    // corpus shingle passes and two passes over the candidate slice. The
    // candidate subtree is lazily localCheckpointed because it feeds
    // THREE consumers below (member-id list + both pair-join branches);
    // un-checkpointed, each consumer would re-run the whole LSH pipeline
    // inside one job. (Result-identical either way — the pair joins are
    // inner on candidate ids.) AQE picks broadcast for the member/pair
    // joins at runtime from the materialized sizes.
    val cands = candidates.localCheckpoint(eager = false)
    val members = cands
      .select(explode(array(col(idCol + "_a"), col(idCol + "_b"))).as(idCol))
      .distinct()
    val sh = docs.join(members, Seq(idCol), "left_semi").select(
      col(idCol),
      array_distinct(TextAnalysis.wordShingles(col(textCol), shingleLen)).as("sh"),
    )
    cands
      .join(sh.withColumnRenamed(idCol, idCol + "_a").withColumnRenamed("sh", "sh_a"), Seq(idCol + "_a"))
      .join(sh.withColumnRenamed(idCol, idCol + "_b").withColumnRenamed("sh", "sh_b"), Seq(idCol + "_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", when(col("uni") > 0, col("inter").cast("double") / col("uni")).otherwise(lit(0.0)))
      .filter(col("jaccard") >= minJaccard)
      .select(col(idCol + "_a"), col(idCol + "_b"), round(col("jaccard"), 4).as("jaccard"))
  }
}
