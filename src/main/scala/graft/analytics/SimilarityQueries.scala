package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.queries.QuerySpec

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * The paths a production vector pipeline would have:
  *  - `ann_brute_topk` — exact baseline: a small probe set (10 query
  *    vectors) broadcast against the full corpus; one pass, no shuffle of
  *    the big side. Cost is O(|corpus| × |probes|) — the right plan when
  *    probes are few, at any corpus size.
  *  - `ann_lsh_bucket` — sign-LSH pre-bucketing; probes join only their
  *    bucket, cutting the candidate set by the bucket fan-out (width
  *    corpus-size-derived). Recall is traded for the prune.
  *  - `ann_lsh_multiprobe` — the same index searched at Hamming radius
  *    ≤ 2 (multi-probe LSH): the recall knob for the bucketed path.
  *  - `ann_ivf` — inverted-file index over a FIXED deterministic centroid
  *    subset: exercises the index structure (zero-shuffle coarse
  *    assignment + per-cell search).
  *  - `ann_ivf_trained` — the same index over k-means-trained centroids
  *    ([[Clustering.kmeansQuantized]]), the full FAISS-style IVF posture,
  *    with the training loop itself under the oracle.
  *  - `ann_sq8_rerank` — 8-bit scalar quantization + exact rerank: the
  *    memory-bound scale path (64 B codes, codegen'd unsigned-byte dot).
  *  - `ann_ivf_sq8` — IVF × SQ8 composed: cell prune × packed-code scan
  *    × exact rerank, the production big-corpus index layout.
  *  - `ann_incremental` — a new batch searches the EXISTING index only
  *    (old×new); [[graft.streaming.StreamingVectorSearch]] is its
  *    streaming face.
  *  - `ann_recall` — the measured recall@k of each approximate path
  *    against the brute-force ground truth, as integer hit counts.
  *
  * Scores use the exact-integer contract from [[Corpus]] — bit-identical
  * across engines, so top-k with a (score DESC, vec_id) sort is
  * deterministic including ties.
  */
object SimilarityQueries {

  /** Zero-shuffle IVF coarse assignment (V3 via V4's literal-centroid
    * pattern, [[Clustering.assign]]): the k centroids ride as ONE literal
    * array of (cv, cid, cnn) structs and every vector picks its
    * max-score centroid inside a single projection — `array_max` over
    * (score, -cid) structs, so the highest score wins and ties break to
    * the LOWER centroid id, exactly the (score DESC, c_id) order the
    * oracle's window uses. No join, no window, zero shuffles of the
    * corpus; only the k centroid rows ever sit on the driver. The score
    * mirrors [[Corpus.scoreSql]] op-for-op (exact-integer dot and norms,
    * one double division), so the assignment is bit-identical to the SQL
    * formulation. The argmax stays ONE unexpanded struct column until
    * the single `c_id` extraction — extracting more fields would make
    * CollapseProject inline the k-way scan once per field.
    *
    * `cents` is (cid, quantized centroid, centroid squared norm) — a
    * deterministic corpus subset, or quantized [[Clustering.kmeans]]
    * output (the V4→V3 integration; AnalyticsSpec exercises it).
    */
  /** The per-row (score, -cid) struct array over a literal centroid
    * set — the one scoring expression behind single-cell assignment
    * (array_max → [[assignToCentroids]]) and multi-probe cell selection
    * (sort desc + slice → `ann_ivf_trained`'s probe side). Descending
    * lexicographic order on (s, negcid) = (score DESC, cid ASC), the
    * oracle's window order exactly.
    */
  private[graft] def centScoredArr(cents: Seq[(Int, Array[Long], Long)]): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    val centArr = array(cents.map { case (cid, cv, cnn) =>
      struct(
        array(cv.map(lit(_)): _*).as("cv"),
        lit(cid).as("cid"),
        lit(cnn).as("cnn"))
    }: _*)
    transform(centArr, c => {
      val dot = VectorFunctions.vecDotLong(col("qv"), c.getField("cv"))
      val score = when(dot >= 0, lit(1.0)).otherwise(lit(-1.0)) *
        ((dot * dot).cast("double") / (col("nn") * c.getField("cnn")).cast("double"))
      struct(score.as("s"), (-c.getField("cid")).as("negcid"))
    })
  }

  def assignToCentroids(vecs: DataFrame,
                        cents: Seq[(Int, Array[Long], Long)]): DataFrame =
    vecs.withColumn("c_id", -array_max(centScoredArr(cents)).getField("negcid"))

  // ───────────────────────────────────────────────────────────────────
  // Shared builders: each ANN path produces the same candidate-pair
  // shape (query_id, vec_id, dot, na, nb); the bounded per-probe top-k
  // and the oracle's QUALIFY wrapper are factored once so `ann_recall`
  // can compose every path against the same ground truth without
  // duplicating a line of scoring logic.
  // ───────────────────────────────────────────────────────────────────

  /** Bounded per-probe top-k over a candidate-pair frame (r5): the
    * [[graft.functions.TopKScoredAgg]] aggregate, NOT a window — a
    * row_number window would push EVERY scored candidate through a
    * |probes|-partition shuffle (the whole corpus × probes into 10
    * reducers at 100 TB: volume AND skew). The aggregate's map-side
    * combine reduces each scan partition to ≤ k pairs per probe before
    * anything moves; ordering is the identical (score DESC, vec_id)
    * double total order, so the emitted rows cannot differ (oracle-held).
    */
  private[graft] def topKPerProbe(pairs: DataFrame, kk: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKScoredAgg(kk),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    pairs
      .withColumn("score", Corpus.scoreCol)
      .groupBy("query_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("t._1").as("score"))
  }

  /** Brute-force candidate pairs: probes (vec_id < 10) broadcast against
    * the full corpus — the exact baseline's O(|corpus| × |probes|) scan.
    */
  private def brutePairs(s: SparkSession, d: String): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** Sign-LSH candidate pairs: corpus pre-bucketed at the
    * corpus-size-derived width; probes join only their bucket.
    */
  private def lshPairs(s: SparkSession, d: String): DataFrame = {
    val bits = Corpus.signBucketBits(Corpus.vecCount(s, d))
    val base = Corpus.quantizedVectors(s, d)
      .withColumn("bucket", Corpus.signBucketColBits(bits))
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"), col("bucket"))
    base.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** Multi-probe sign-LSH candidate pairs (r7, closing the r6 verdict's
    * "1/30 recall makes plain LSH documentation, not capability"): each
    * probe searches its own bucket PLUS every bucket within Hamming
    * radius [[LshProbeRadius]] of it — the standard multi-probe LSH
    * recall knob (Lv et al., VLDB'07). Radius 2 is measured, not
    * guessed: at sf0.1 the true top-3 neighbors' buckets sit at Hamming
    * distance 0 from the probe's for only 1/30, ≤1 for 14/30, ≤2 for
    * 24/30 — sign-LSH on these embeddings needs two flips to cross the
    * hyperplanes that separate near neighbors.
    *
    * Scale shape: the probe side explodes to 1 + b + C(b,2) bucket
    * values per probe (b = corpus-derived bucket bits) — polynomial in
    * b, NOT the 2^b of enumerating the radius ball over all buckets —
    * and stays broadcast-tiny (10 probes × 67 rows at b=11). The corpus
    * side is untouched: same single bucket column, same equi-join, same
    * bounded per-probe top-k; candidate volume grows by the probe
    * fan-out over the SAME index, so the scan fraction is
    * (1+b+C(b,2))/2^b of the corpus — shrinking as the corpus (and b)
    * grows: 50% at b=5/2k vectors, 3% at b=11/128k, 0.002% at b=24.
    * The mask set is distinct, so a (query, candidate) pair can match
    * at most once — no dedup stage needed.
    */
  private val LshProbeRadius = 2

  private def lshMultiprobePairs(s: SparkSession, d: String): DataFrame = {
    val bits = Corpus.signBucketBits(Corpus.vecCount(s, d))
    val masks: Seq[Long] =
      Seq(0L) ++ (0 until bits).map(1L << _) ++
        (for { i <- 0 until bits; j <- i + 1 until bits } yield (1L << i) | (1L << j))
    val base = Corpus.quantizedVectors(s, d)
      .withColumn("bucket", Corpus.signBucketColBits(bits))
    val probes = base.filter(col("vec_id") < 10)
      .withColumn("bucket",
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"), col("bucket"))
    base.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** IVF candidate pairs over an already-assigned corpus
    * (vec_id, qv, nn, c_id): probes (vec_id < 10) broadcast into their
    * cell — the per-cell search stage shared by the fixed and trained
    * quantizers.
    */
  private def ivfPairs(assigned: DataFrame): DataFrame = {
    val probes = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"), col("c_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** Fixed-subset coarse quantizer (the index-structure exercise): the
    * k=16 lowest vec_ids as centroids, cosine-assigned. Only those 16
    * rows reach the driver; assignment is a per-row argmax — no
    * 16n-row crossJoin, no per-vector window, zero corpus shuffles.
    */
  private def ivfFixedAssigned(s: SparkSession, d: String): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val cents = base.filter(col("vec_id") < 16)
      .select("vec_id", "qv", "nn").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1).toSeq
    assignToCentroids(base, cents).select("vec_id", "qv", "nn", "c_id")
  }

  /** Trained-IVF geometry: spherical k=16, 2 Lloyd iterations, probes
    * fan to their 3 best cells. nprobe=3/16 of the corpus scanned per
    * probe; measured recall@3 ties the fixed-subset quantizer at both
    * test SFs while keeping balanced, metric-consistent cells
    * (`ann_recall` holds the numbers under the oracle).
    */
  private[graft] val TrainedK = 16
  private[graft] val TrainedIters = 2
  private[graft] val TrainedNProbe = 3

  private val centsMemo = new graft.SessionMemo[String, Seq[(Int, Array[Long], Long)]]

  private val boundsMemo = new graft.SessionMemo[String, Seq[(Int, Long, Long)]]

  /** Per-dimension corpus [min, max] SQ8 bounds, memoized per (session,
    * corpus) — the 64-row driver artifact sq8 / ivf_sq8 and their
    * ann_recall legs share (the trainedCents discipline).
    */
  private def sq8Bounds(s: SparkSession, d: String): Seq[(Int, Long, Long)] =
    boundsMemo(s, d)(
      Corpus.quantizedVectors(s, d)
        .select(posexplode(col("qv")).as(Seq("i", "x")))
        .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq)

  /** Spherical trained centroids over the quantized corpus, memoized per
    * (session, corpus): training is deterministic and the artifact is k
    * driver-side rows, so ivf_trained / ivf_sq8 / ivf_pq and every
    * ann_recall leg share ONE Lloyd run instead of retraining per query
    * (the pqTrainedCodebook discipline).
    */
  private[analytics] def trainedCents(s: SparkSession,
                           d: String): Seq[(Int, Array[Long], Long)] =
    centsMemo(s, d)(Clustering.kmeansSpherical(s, Corpus.quantizedVectors(s, d),
      TrainedK, TrainedIters))

  /** Trained-IVF candidate pairs: spherical integer k-means
    * ([[Clustering.kmeansSpherical]]) as the coarse quantizer — cells
    * trained under the SAME signed-cos² the search ranks by — with
    * MULTI-PROBE search: each probe fans out to its `TrainedNProbe`
    * best cells (slice of the sorted literal centroid-score array —
    * still zero-shuffle, no window; the probe side is 10 rows). The
    * corpus side stays single-cell-assigned; multi-probe recovers the
    * neighbors that sit just across a cell boundary — the standard
    * IVF recall knob (FAISS nprobe).
    */
  private def ivfTrainedPairs(s: SparkSession, d: String): DataFrame =
    ivfTrainedPairsN(s, d, TrainedNProbe)

  /** [[ivfTrainedPairs]] with the nprobe knob exposed — the sweep query
    * walks it; every other consumer stays on [[TrainedNProbe]].
    */
  private def ivfTrainedPairsN(s: SparkSession, d: String,
                               nprobe: Int): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val cents = trainedCents(s, d)
    val assigned = assignToCentroids(base, cents).select("vec_id", "qv", "nn", "c_id")
    val probes = base.filter(col("vec_id") < 10)
      .withColumn("cell",
        explode(slice(sort_array(centScoredArr(cents), asc = false), 1, nprobe)))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"), (-col("cell.negcid")).as("c_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** Incremental ANN (the vector dual of `dedup_incremental` — the
    * daily-crawl shape): a NEW vector batch (vec_id % 11 = 0) searched
    * against the EXISTING corpus's sign-LSH index — the join is
    * old×new ONLY, never old×old (the existing index is not re-scored)
    * and never new×new. Bucket width derives from the EXISTING corpus
    * size (the index's own stat, integer-derived on both engines), so
    * per-increment cost is O(|new| + matched buckets). Both sides
    * partition by bucket; when the increment is broadcast-small AQE
    * converts the join — either way the accumulated corpus never
    * reshuffles per batch.
    */
  private def incrementalPairs(s: SparkSession, d: String): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val existing = base.filter(col("vec_id") % 11 =!= 0)
    val bits = Corpus.signBucketBits(existing.count())
    val idx = existing.withColumn("bucket", Corpus.signBucketColBits(bits))
    val nb = base.filter(col("vec_id") % 11 === 0)
      .withColumn("bucket", Corpus.signBucketColBits(bits))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"), col("bucket"))
    idx.join(nb, Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** Candidate-pool multiplier for the SQ8 rerank: the approximate scan
    * keeps 4·k candidates per probe, the exact pass reranks them to k.
    */
  private[graft] val Sq8CandMult = 4

  /** Shared approximate-score SQL for the SQ8 candidate stage, over
    * columns (adot, ana, anb). ana·anb can exceed 2^53 (reconstructed
    * norms are ×255² of qv units), so each factor converts to double
    * SEPARATELY while still exact (< 2^53) and the product/division are
    * single exactly-rounded IEEE ops — deterministic and bit-identical
    * across engines, the same contract as [[Corpus.scoreSql]] extended
    * by one multiply. ana = 0 (an all-zero reconstruction) ranks below
    * every real score instead of producing an engine-dependent NaN.
    */
  private[graft] val sq8ApproxScoreSql = """
    CASE WHEN ana = 0 THEN -2.0 ELSE
      (CASE WHEN adot >= 0 THEN 1.0 ELSE -1.0 END)
      * (CAST(adot AS DOUBLE) * CAST(adot AS DOUBLE))
      / (CAST(ana AS DOUBLE) * CAST(anb AS DOUBLE)) END"""

  /** SQ8 (8-bit scalar quantization) + exact rerank — the memory-bound
    * ANN scale path: per-dimension corpus [min,max] bounds quantize
    * every component to an 8-bit code (64 B/vector vs 512 B for the
    * long-array form — the compact index a 100 TB vector store scans),
    * the approximate pass ranks RECONSTRUCTED vectors (×255 integer
    * arithmetic — code→value is exact, no float rescale) against the
    * exact probe, and only the 4·k survivors per probe have their full
    * vectors fetched (broadcast candidate-id join = the point-read
    * stage) for the exact integer rerank. Bounds are a one-pass agg
    * collapsing to 64 (dim, mn, mx) rows on the driver — the bounded-
    * collect pattern, independent of corpus size. Quantization error
    * can reorder NEAR-TIED candidates, which is why the pool is 4·k —
    * `ann_recall` measures what survives; determinism is unconditional
    * (every ranking key is exact-integer-derived on both engines).
    */
  private def sq8Pairs(s: SparkSession, d: String, kk: Int): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val bounds = sq8Bounds(s, d)
    val mnl = typedLit(bounds.map(_._2).toSeq)
    val mxl = typedLit(bounds.map(_._3).toSeq)
    // INDEX layout: codes pack to BINARY via the native VecPackU8 — 64
    // bytes/vector, the 8× compression that IS the SQ8 story; the scan
    // side carries only (vec_id, packed codes, reconstructed norm).
    val index = base
      .withColumn("mnl", mnl).withColumn("mxl", mxl)
      .withColumn("code", expr(
        """transform(qv, (x, i) ->
             CASE WHEN element_at(mxl, i + 1) > element_at(mnl, i + 1)
                  THEN ((x - element_at(mnl, i + 1)) * 255L)
                       div (element_at(mxl, i + 1) - element_at(mnl, i + 1))
                  ELSE 0L END)"""))
      .withColumn("rv", expr(
        """transform(code, (cx, i) ->
             element_at(mnl, i + 1) * 255L
             + cx * (element_at(mxl, i + 1) - element_at(mnl, i + 1)))"""))
      .withColumn("rnn", expr("aggregate(rv, 0L, (acc, x) -> acc + x * x)"))
      .withColumn("code_b", graft.functions.PackedVectorFunctions.vecPackU8(col("code")))
      .select("vec_id", "code_b", "rnn")
    // The approx dot factors so the scan kernel reads ONLY packed bytes:
    //   Σ q[i]·rv[i] = 255·Σ q[i]·mn[i]  +  Σ code[i]·(q[i]·(mx[i]−mn[i]))
    //               =      c0(probe)     +  vec_dot_u8_long(code_b, q_scaled)
    // c0 and q_scaled are per-probe constants (10 rows), computed once.
    val probes = base.filter(col("vec_id") < 10)
      .withColumn("mnl", mnl).withColumn("mxl", mxl)
      .select(
        col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn"),
        expr("""transform(qv, (x, i) ->
                  x * (element_at(mxl, i + 1) - element_at(mnl, i + 1)))""")
          .as("q_scaled"),
        (VectorFunctions.vecDotLong(col("qv"), mnl) * 255L).as("c0"))
    val apairs = index.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("c0") + graft.functions.PackedVectorFunctions
          .vecDotU8Long(col("code_b"), col("q_scaled"))).as("adot"),
        col("rnn").as("ana"), col("q_nn").as("anb"))
    val topc = udaf(new graft.functions.TopKScoredAgg(Sq8CandMult * kk),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    val cands = apairs
      .withColumn("ascore", expr(sq8ApproxScoreSql))
      .groupBy("query_id").agg(topc(col("ascore"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("vec_id"))
    base.join(broadcast(cands), "vec_id")
      .join(broadcast(probes), "query_id")
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  // ── product quantization (r8): the OTHER classic code-compression —
  // where SQ8 quantizes each dimension independently (64 codes of the
  // scalar range), PQ splits the vector into M subvectors and quantizes
  // each to its nearest codeword from a per-subspace codebook: the code
  // is M codeword IDS (8 bytes/vector here — 64× smaller than the
  // long-array form, 8× smaller than SQ8), and search scores codes
  // against a per-probe LOOKUP TABLE (ADC — asymmetric distance
  // computation: LUT[m][j] = probe_subvector_m · codeword_{m,j},
  // precomputed once per probe, so the scan does M table lookups per
  // vector instead of D multiplies). Codebooks here are the fixed
  // deterministic subset (vec_id < 16, the ann_ivf pattern: the INDEX
  // STRUCTURE is what's exercised; trained per-subspace Lloyd swaps in
  // without changing the plan); encoding ties break on codeword id so
  // both engines agree exactly.
  private[graft] val PqM = 8    // subspaces
  private[analytics] val PqSub = 8  // dims per subspace (M × sub = 64)
  private[graft] val PqK = 16   // codewords per subspace
  /** PQ's rerank pool is DEEPER than SQ8's (8·k vs 4·k): an 8-byte code
    * is far coarser than 64 SQ8 bytes, so approximate ranks are noisier
    * and the exact rerank needs more survivors to recover — the
    * standard PQ posture (PQ generates candidates; rerank decides).
    */
  private[analytics] val PqCandMult = 8

  // shared PQ expression fragments (expect columns `qv` and `cb`)
  private[analytics] def pqEncodeExpr: String = s"""
        transform(sequence(0, ${PqM - 1}), m ->
          array_min(transform(sequence(0, ${PqK - 1}), j ->
            struct(aggregate(sequence(0, ${PqSub - 1}), 0L, (acc, i) ->
              acc + (element_at(qv, m * $PqSub + i + 1)
                     - element_at(element_at(element_at(cb, m + 1), j + 1), i + 1))
                  * (element_at(qv, m * $PqSub + i + 1)
                     - element_at(element_at(element_at(cb, m + 1), j + 1), i + 1))),
              j))).j)"""
  private[analytics] def pqRnnExpr: String = s"""
        aggregate(sequence(0, ${PqM - 1}), 0L, (acc, m) ->
          acc + aggregate(
            element_at(element_at(cb, m + 1), element_at(code, m + 1) + 1),
            0L, (a2, x) -> a2 + x * x))"""
  private[analytics] def pqLutExpr: String = s"""
          transform(sequence(0, ${PqM - 1}), m ->
            transform(sequence(0, ${PqK - 1}), j ->
              aggregate(sequence(0, ${PqSub - 1}), 0L, (acc, i) ->
                acc + element_at(qv, m * $PqSub + i + 1)
                    * element_at(element_at(element_at(cb, m + 1), j + 1), i + 1))))"""
  private[analytics] def pqAdotExpr: String = s"""
          aggregate(sequence(0, ${PqM - 1}), 0L, (acc, m) ->
            acc + element_at(element_at(lut, m + 1), element_at(code, m + 1) + 1))"""

  /** Fixed codebooks: the deterministic subset's subvectors (the
    * ann_ivf pattern — exercises the PQ structure; training swaps in).
    */
  private def pqFixedCodebook(s: SparkSession, d: String): Seq[Seq[Seq[Long]]] = {
    val cbRows = Corpus.quantizedVectors(s, d)
      .filter(col("vec_id") < PqK).orderBy("vec_id")
      .select("vec_id", "qv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    require(cbRows.length == PqK, s"PQ codebook needs $PqK vectors")
    (0 until PqM).map(m =>
      cbRows.toSeq.map { case (_, qv) =>
        (0 until PqSub).map(i => qv(m * PqSub + i)) })
  }

  /** TRAINED codebooks: per-subspace integer L2 Lloyd
    * ([[Clustering.kmeansQuantized]] — L2 is the right metric INSIDE a
    * subspace: a subvector is a fragment, not a direction, so the
    * spherical trainer's scale-invariance is wrong here) over each
    * 8-dim slice. Every step is oracle-replayable; the per-subspace
    * chains unroll in SQL exactly like the spherical trainer's.
    */
  private[analytics] val PqTrainIters = 2
  private val pqCodebooks = new graft.SessionMemo[String, Seq[Seq[Seq[Long]]]]
  private[analytics] def pqTrainedCodebook(s: SparkSession, d: String): Seq[Seq[Seq[Long]]] =
    // memoized per (session, corpus): training is deterministic and the
    // codebook is 8×16×8 longs — ann_pq_trained and ann_recall's
    // pq_trained leg share one training run (the 8 × 2-iteration Lloyd
    // chains are ~30 tiny jobs; paying them once per session, not per
    // query)
    pqCodebooks(s, d)(
      (0 until PqM).map { m =>
        val sub = Corpus.quantizedVectors(s, d)
          .select(col("vec_id"), expr(s"slice(qv, ${m * PqSub + 1}, $PqSub)").as("qv"))
          .withColumn("nn", expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
        Clustering.kmeansQuantized(s, sub, PqK, PqTrainIters)._1
          .sortBy(_._1).map(_._2.toSeq).toSeq
      })

  private def pqPairs(s: SparkSession, d: String, kk: Int,
                      cb: Seq[Seq[Seq[Long]]]): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val cbl = typedLit(cb)
    // INDEX: M codeword ids + reconstructed norm — 8 B of code/vector
    // fanOut: the M×K×sub encode kernel is the heaviest per-row HOF in
    // the ANN family — parallelize it out of the one-task scan stage
    val coded = graft.Tables.fanOut(base)
      .withColumn("cb", cbl)
      .withColumn("code", expr(pqEncodeExpr))
      .withColumn("rnn", expr(pqRnnExpr))
      .select("vec_id", "code", "rnn")
    // PROBES: the ADC lookup table, built ONCE per probe (10 rows)
    val probes = base.filter(col("vec_id") < 10)
      .withColumn("cb", cbl)
      .select(
        col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn"),
        expr(pqLutExpr).as("lut"))
    // SCAN: M lookups + adds per vector — the ADC kernel
    val apairs = coded.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr(pqAdotExpr).as("adot"),
        col("rnn").as("ana"), col("q_nn").as("anb"))
    pqRerank(s, d, apairs, kk,
      base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn")))
  }

  /** Shared PQ candidate selection + exact rerank: deep (8·k) pool over
    * the approximate scores, full vectors fetched only for survivors.
    */
  private def pqRerank(s: SparkSession, d: String, apairs: DataFrame, kk: Int,
                       probesExact: DataFrame): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val topc = udaf(new graft.functions.TopKScoredAgg(PqCandMult * kk),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    val cands = apairs
      .withColumn("ascore", expr(sq8ApproxScoreSql))
      .groupBy("query_id").agg(topc(col("ascore"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("vec_id"))
    base.join(broadcast(cands), "vec_id")
      .join(broadcast(probesExact), "query_id")
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** IVF × PQ composed (r8) — the FAISS IndexIVFPQ shape, the most
    * common production big-corpus index: the trained spherical coarse
    * quantizer prunes candidate VOLUME to nprobe/k cells, the trained
    * per-subspace PQ codes prune candidate BYTES to 8 B/vector (64×),
    * the ADC lookup table makes the within-cell scan M lookups+adds per
    * vector, and the deep rerank pool restores precision. Every stage
    * is the already-oracle-held parent piece (ann_ivf_trained's
    * train/assign/probe-select, ann_pq_trained's codebooks/encode/ADC);
    * the composition multiplies their savings exactly as ivf_sq8 does
    * for SQ8 — PQ trades more bytes for more rerank work.
    */
  private def ivfPqPairs(s: SparkSession, d: String, kk: Int): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val cents = trainedCents(s, d)
    // fanOut: assignment + PQ encode are the two heaviest per-row kernels
    val assigned = assignToCentroids(graft.Tables.fanOut(base), cents)
      .select("vec_id", "qv", "nn", "c_id")
    val cbl = typedLit(pqTrainedCodebook(s, d))
    val index = assigned
      .withColumn("cb", cbl)
      .withColumn("code", expr(pqEncodeExpr))
      .withColumn("rnn", expr(pqRnnExpr))
      .select("vec_id", "c_id", "code", "rnn")
    val probeCells = base.filter(col("vec_id") < 10)
      .withColumn("cell",
        explode(slice(sort_array(centScoredArr(cents), asc = false), 1, TrainedNProbe)))
      .withColumn("cb", cbl)
      .select(
        col("vec_id").as("query_id"), col("nn").as("q_nn"),
        (-col("cell.negcid")).as("c_id"),
        expr(pqLutExpr).as("lut"))
    val apairs = index.join(broadcast(probeCells), Seq("c_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr(pqAdotExpr).as("adot"),
        col("rnn").as("ana"), col("q_nn").as("anb"))
    pqRerank(s, d, apairs, kk,
      base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn")))
  }

  /** IVF × SQ8 composed (r7): the production big-corpus index layout —
    * FAISS IndexIVFScalarQuantizer's shape. The trained coarse quantizer
    * prunes to nprobe cells; WITHIN the probed cells the scan reads only
    * the 8-bit packed codes (the codegen'd [[graft.functions
    * .PackedVectorFunctions.vecDotU8Long]] kernel over 64 B/vector);
    * the 4·k approximate survivors per probe fetch their full vectors
    * for the exact integer rerank. Each stage is the already-oracle-held
    * piece (`ann_ivf_trained`'s train/assign/probe-select, `ann_sq8_
    * rerank`'s bounds/codes/rerank) — the composition multiplies their
    * savings: candidate VOLUME cut by nprobe/k cells × candidate BYTES
    * cut 8× by the codes. A corpus vector sits in exactly one cell, so
    * a (probe, vector) pair can match at most once — no dedup stage.
    */
  private def ivfSq8Pairs(s: SparkSession, d: String, kk: Int): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val cents = trainedCents(s, d)
    val assigned = assignToCentroids(base, cents).select("vec_id", "qv", "nn", "c_id")
    val bounds = sq8Bounds(s, d)
    val mnl = typedLit(bounds.map(_._2).toSeq)
    val mxl = typedLit(bounds.map(_._3).toSeq)
    val index = assigned
      .withColumn("mnl", mnl).withColumn("mxl", mxl)
      .withColumn("code", expr(
        """transform(qv, (x, i) ->
             CASE WHEN element_at(mxl, i + 1) > element_at(mnl, i + 1)
                  THEN ((x - element_at(mnl, i + 1)) * 255L)
                       div (element_at(mxl, i + 1) - element_at(mnl, i + 1))
                  ELSE 0L END)"""))
      .withColumn("rv", expr(
        """transform(code, (cx, i) ->
             element_at(mnl, i + 1) * 255L
             + cx * (element_at(mxl, i + 1) - element_at(mnl, i + 1)))"""))
      .withColumn("rnn", expr("aggregate(rv, 0L, (acc, x) -> acc + x * x)"))
      .withColumn("code_b", graft.functions.PackedVectorFunctions.vecPackU8(col("code")))
      .select("vec_id", "c_id", "code_b", "rnn")
    // probe side: nprobe best cells per probe (sorted literal slice —
    // zero-shuffle) × the per-probe factored SQ8 constants
    val probeCells = base.filter(col("vec_id") < 10)
      .withColumn("cell",
        explode(slice(sort_array(centScoredArr(cents), asc = false), 1, TrainedNProbe)))
      .withColumn("mnl", mnl).withColumn("mxl", mxl)
      .select(
        col("vec_id").as("query_id"), col("nn").as("q_nn"),
        (-col("cell.negcid")).as("c_id"),
        expr("""transform(qv, (x, i) ->
                  x * (element_at(mxl, i + 1) - element_at(mnl, i + 1)))""")
          .as("q_scaled"),
        (VectorFunctions.vecDotLong(col("qv"), mnl) * 255L).as("c0"))
    val apairs = index.join(broadcast(probeCells), Seq("c_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("c0") + graft.functions.PackedVectorFunctions
          .vecDotU8Long(col("code_b"), col("q_scaled"))).as("adot"),
        col("rnn").as("ana"), col("q_nn").as("anb"))
    val topc = udaf(new graft.functions.TopKScoredAgg(Sq8CandMult * kk),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    val cands = apairs
      .withColumn("ascore", expr(sq8ApproxScoreSql))
      .groupBy("query_id").agg(topc(col("ascore"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("vec_id"))
    val probesExact = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    base.join(broadcast(cands), "vec_id")
      .join(broadcast(probesExact), "query_id")
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  // ── oracle-side mirrors: WITH-clause bodies ending in a `pairs` CTE ──

  private val dotSql =
    "CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.qv[i])) AS BIGINT)"

  /** QUALIFY wrapper shared by every ANN oracle: per-probe top-k from a
    * `pairs` CTE, same (score DESC, vec_id) total order as the Spark
    * aggregate.
    */
  private def annSelectSql(withCtes: String, kk: Int): String = s"""
        WITH $withCtes
        SELECT query_id, vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY ${Corpus.scoreSql} DESC, vec_id) AS INTEGER) AS rank,
               ${Corpus.scoreSql} AS score
        FROM pairs
        QUALIFY rank <= $kk"""

  private val bruteCtesSql: String = s"""
        base AS (${Corpus.quantizedVectorsSql}),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM base v JOIN base q ON q.vec_id < 10 AND v.vec_id <> q.vec_id)"""

  /** Johnson–Lindenstrauss sign projection to `dims` dimensions: every
    * projected component is an exact integer Σᵢ ±qvᵢ with the ±1 signs
    * drawn from a fixed integer hash of (i, j) — both engines compute
    * the identical matrix from the same literals, so projected vectors,
    * norms, dots, and the ranking they induce are bit-identical.
    * Memoized per (app, dir, dims) like the quantized index itself.
    */
  private def rpProjectExpr(dims: Int): String =
    s"""transform(sequence(0, ${dims - 1}), j ->
        aggregate(sequence(0, 63), 0L, (acc, i) ->
          acc + element_at(qv, i + 1) *
            (1L - 2L * ((((i+1)*1103515245L + (j+1)*12345L) div 65536L) % 2L))))"""

  private def rpProjected(s: SparkSession, d: String, dims: Int): DataFrame =
    Corpus.cached(s, d, s"rp_$dims") {
      Corpus.quantizedVectors(s, d)
        .withColumn("pv", expr(rpProjectExpr(dims)))
        .withColumn("pn", expr("aggregate(pv, 0L, (acc, x) -> acc + x * x)"))
        .select("vec_id", "pv", "pn")
    }

  /** Candidate pairs scored in the PROJECTED space — same brute scan
    * shape, but every dot is `dims`/64ths of the work and the resident
    * index `dims`/64ths of the bytes.
    */
  private def rpPairs(s: SparkSession, d: String, dims: Int): DataFrame = {
    val base = rpProjected(s, d, dims)
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("pv").as("q_pv"),
        col("pn").as("q_pn"))
    base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.vecDotLong(col("pv"), col("q_pv")).as("dot"),
        col("pn").as("na"), col("q_pn").as("nb"))
  }

  /** RP candidate pool + exact full-space rerank — the production
    * composition (project → scan small space → rerank survivors), with
    * the PQ-depth pool (8·k): a 16-dim projection is coarse, so
    * approximate ranks are noisy and the rerank needs more survivors.
    */
  private def rpRerankPairs(s: SparkSession, d: String,
                            dims: Int, kk: Int): DataFrame = {
    val base = Corpus.quantizedVectors(s, d)
    val topc = udaf(new graft.functions.TopKScoredAgg(8 * kk),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    val cands = rpPairs(s, d, dims)
      .withColumn("ascore", Corpus.scoreCol)
      .groupBy("query_id").agg(topc(col("ascore"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("vec_id"))
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nn").as("q_nn"))
    base.join(broadcast(cands), "vec_id")
      .join(broadcast(probes), "query_id")
      .select(col("query_id"), col("vec_id"),
        Corpus.dotCol("qv", "q_qv").as("dot"),
        col("nn").as("na"), col("q_nn").as("nb"))
  }

  /** The strong-signal half of the RP story: over the near-dup corpus
    * (each injected variant sits at cos² ≈ 0.94 of its origin — a HUGE
    * margin vs the isotropic background), does the origin's projected
    * top-1 still find its variant? Emitted as (query_id, hit ∈ {0,1})
    * per variant-carrying probe.
    */
  private def rpNearDupTop1(s: SparkSession, d: String, dims: Int): DataFrame = {
    val base = Corpus.cached(s, d, s"rp_nd_$dims") {
      Corpus.vecsWithNearDups(s, d)
        .withColumn("pv", expr(rpProjectExpr(dims)))
        .withColumn("pn", expr("aggregate(pv, 0L, (acc, x) -> acc + x * x)"))
        .select("vec_id", "pv", "pn")
    }
    val probes = base
      .filter(col("vec_id") % 7 === 0 && col("vec_id") < 70)
      .select(col("vec_id").as("query_id"), col("pv").as("q_pv"),
        col("pn").as("q_pn"))
    val pairs = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.vecDotLong(col("pv"), col("q_pv")).as("dot"),
        col("pn").as("na"), col("q_pn").as("nb"))
    topKPerProbe(pairs, 1)
      .groupBy("query_id")
      .agg(max(when(col("neighbor_id") === col("query_id") + Corpus.VariantOffset,
        1L).otherwise(0L)).as("hits"))
      .select(col("query_id"), lit(s"rp${dims}_neardup").as("method"),
        col("hits"), lit(1).as("k"))
  }

  /** Oracle-side mirror of [[rpNearDupTop1]]. */
  private def rpNearDupCtesSql(dims: Int): String = s"""
        basend AS (${Corpus.vecsWithNearDupsSql}),
        proj AS (
          SELECT vec_id,
                 [CAST(list_sum(list_transform(range(0, 64), i ->
                    qv[i + 1] * (1 - 2 * ((((i+1)*1103515245 + (j+1)*12345) // 65536) % 2))))
                  AS BIGINT) for j in range(0, $dims)] AS pv
          FROM basend),
        basep AS (
          SELECT vec_id, pv,
                 CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS pn
          FROM proj),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, ${dims + 1}),
                   i -> v.pv[i] * q.pv[i])) AS BIGINT) AS dot,
                 v.pn AS na, q.pn AS nb
          FROM basep v JOIN basep q
            ON q.vec_id % 7 = 0 AND q.vec_id < 70 AND v.vec_id <> q.vec_id)"""

  /** Oracle-side mirror of [[rpRerankPairs]]. */
  private def rpRerankCtesSql(dims: Int, kk: Int): String = s"""
        base0 AS (${Corpus.quantizedVectorsSql}),
        proj AS (
          SELECT vec_id,
                 [CAST(list_sum(list_transform(range(0, 64), i ->
                    qv[i + 1] * (1 - 2 * ((((i+1)*1103515245 + (j+1)*12345) // 65536) % 2))))
                  AS BIGINT) for j in range(0, $dims)] AS pv
          FROM base0),
        basep AS (
          SELECT vec_id, pv,
                 CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS pn
          FROM proj),
        ppairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, ${dims + 1}),
                   i -> v.pv[i] * q.pv[i])) AS BIGINT) AS dot,
                 v.pn AS na, q.pn AS nb
          FROM basep v JOIN basep q ON q.vec_id < 10 AND v.vec_id <> q.vec_id),
        pool AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ${Corpus.scoreSql} DESC, vec_id) AS r
            FROM ppairs) WHERE r <= ${8 * kk}),
        pairs AS (
          SELECT p.query_id, p.vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM pool p
          JOIN base0 v ON v.vec_id = p.vec_id
          JOIN base0 q ON q.vec_id = p.query_id)"""

  /** Oracle-side mirror of [[rpProjected]]/[[rpPairs]]. */
  private def rpCtesSql(dims: Int): String = s"""
        base0 AS (${Corpus.quantizedVectorsSql}),
        proj AS (
          SELECT vec_id,
                 [CAST(list_sum(list_transform(range(0, 64), i ->
                    qv[i + 1] * (1 - 2 * ((((i+1)*1103515245 + (j+1)*12345) // 65536) % 2))))
                  AS BIGINT) for j in range(0, $dims)] AS pv
          FROM base0),
        basep AS (
          SELECT vec_id, pv,
                 CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS pn
          FROM proj),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, ${dims + 1}),
                   i -> v.pv[i] * q.pv[i])) AS BIGINT) AS dot,
                 v.pn AS na, q.pn AS nb
          FROM basep v JOIN basep q ON q.vec_id < 10 AND v.vec_id <> q.vec_id)"""

  private val lshCtesSql: String = s"""
        vwidth AS (
          SELECT (${Corpus.signBucketBitsSqlCase("n")}) AS bits
          FROM (SELECT count(*) AS n FROM embeddings)),
        base AS (
          SELECT vec_id, qv, nn, ${Corpus.signBucketSqlBits("p.bits")} AS bucket
          FROM (${Corpus.quantizedVectorsSql}), vwidth p),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM base v JOIN base q
            ON v.bucket = q.bucket AND q.vec_id < 10 AND v.vec_id <> q.vec_id)"""

  /** Oracle-side multi-probe mirror: the identical Hamming-≤2 mask set
    * (0, single flips, double flips — generated by integer
    * comprehension from the same derived width), XOR'd onto each
    * probe's bucket; the join is unchanged. Masks are distinct, so no
    * DISTINCT is needed on pairs.
    */
  private val lshMultiprobeCtesSql: String = s"""
        vwidth AS (
          SELECT (${Corpus.signBucketBitsSqlCase("n")}) AS bits
          FROM (SELECT count(*) AS n FROM embeddings)),
        base AS (
          SELECT vec_id, qv, nn, ${Corpus.signBucketSqlBits("p.bits")} AS bucket
          FROM (${Corpus.quantizedVectorsSql}), vwidth p),
        masks AS (
          SELECT unnest(list_concat(list_concat(
            [0::BIGINT],
            [1::BIGINT << i for i in range(0, bits)]),
            [xor(1::BIGINT << (t // bits), 1::BIGINT << (t % bits))
               for t in range(0, bits * bits) if (t // bits) < (t % bits)]
          )) AS mask FROM vwidth),
        probeb AS (
          SELECT q.vec_id, q.qv, q.nn, xor(q.bucket, m.mask) AS bucket
          FROM base q CROSS JOIN masks m WHERE q.vec_id < 10),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM base v JOIN probeb q
            ON v.bucket = q.bucket AND v.vec_id <> q.vec_id)"""

  private val incrementalCtesSql: String = s"""
        vwidth AS (
          SELECT (${Corpus.signBucketBitsSqlCase("n")}) AS bits
          FROM (SELECT count(*) AS n FROM embeddings WHERE vec_id % 11 <> 0)),
        base AS (
          SELECT vec_id, qv, nn, ${Corpus.signBucketSqlBits("p.bits")} AS bucket
          FROM (${Corpus.quantizedVectorsSql}), vwidth p),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM base v JOIN base q
            ON v.bucket = q.bucket AND v.vec_id % 11 <> 0 AND q.vec_id % 11 = 0)"""

  private val ivfFixedCtesSql: String = s"""
        base AS (${Corpus.quantizedVectorsSql}),
        cents AS (SELECT vec_id AS c_id, qv AS c_qv, nn AS c_nn FROM base WHERE vec_id < 16),
        scored AS (
          SELECT v.vec_id, v.qv, v.nn, c.c_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * c.c_qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, c.c_nn AS nb
          FROM base v CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, qv, nn, c_id FROM (
            SELECT vec_id, qv, nn, c_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ${Corpus.scoreSql} DESC, c_id) AS rk
            FROM scored) WHERE rk = 1),
        pairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM assigned v JOIN assigned q
            ON v.c_id = q.c_id AND q.vec_id < 10 AND v.vec_id <> q.vec_id)"""

  /** Oracle-side replay of [[Clustering.kmeansSpherical]]: the unrolled
    * Lloyd iterations as DuckDB CTEs — init from the first k vec_ids,
    * per-iteration (signed-cos² score → argmax-assign → per-dim
    * floor(sum/count) update → empty/degenerate-cluster carry-forward) —
    * generated for the same (k, iters) the Spark side runs, so both
    * engines derive bit-identical trained centroids (every step is
    * exact-integer or one exactly-rounded double division; see
    * kmeansSpherical). Expects a CTE `base` = (vec_id, qv, nn); yields
    * `cents$iters` = (cid, cv, cnn).
    */
  private def kmeansSqlCtes(k: Int, iters: Int, p: String = ""): String = {
    val init = s"""
    ${p}cents0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             qv AS cv, nn AS cnn
      FROM (SELECT vec_id, qv, nn FROM base ORDER BY vec_id LIMIT $k))"""
    val its = (1 to iters).map { t =>
      s"""
    ${p}scored$t AS (
      SELECT b.vec_id, b.qv, c.cid,
             CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
             b.nn AS na, c.cnn AS nb
      FROM base b CROSS JOIN ${p}cents${t - 1} c),
    ${p}asg$t AS (
      SELECT vec_id, qv, cid FROM (
        SELECT vec_id, qv, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
        FROM ${p}scored$t) WHERE rk = 1),
    ${p}upd$t AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM (
        SELECT a.cid, t.i,
               CAST(floor(CAST(SUM(a.qv[t.i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
        FROM ${p}asg$t a CROSS JOIN range(1, 65) t(i)
        GROUP BY a.cid, t.i)
      GROUP BY cid),
    ${p}cents$t AS (
      SELECT c.cid,
             CASE WHEN u.cv IS NULL OR list_sum(list_transform(u.cv, x -> x * x)) = 0
                  THEN c.cv ELSE u.cv END AS cv,
             CAST(list_sum(list_transform(
               CASE WHEN u.cv IS NULL OR list_sum(list_transform(u.cv, x -> x * x)) = 0
                    THEN c.cv ELSE u.cv END, x -> x * x)) AS BIGINT) AS cnn
      FROM ${p}cents${t - 1} c LEFT JOIN ${p}upd$t u ON u.cid = c.cid)"""
    }
    (init +: its).mkString(",")
  }

  private val ivfTrainedCtesSql: String = s"""
        base AS (${Corpus.quantizedVectorsSql}),${kmeansSqlCtes(TrainedK, TrainedIters)},
        csc AS (
          SELECT b.vec_id, b.qv, b.nn, c.cid,
                 CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN cents$TrainedIters c),
        assigned AS (
          SELECT vec_id, qv, nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc) WHERE rk = 1),
        probecells AS (
          SELECT vec_id AS query_id, qv AS q_qv, nn AS q_nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc WHERE vec_id < 10) WHERE rk <= $TrainedNProbe),
        pairs AS (
          SELECT q.query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.q_qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.q_nn AS nb
          FROM assigned v JOIN probecells q
            ON v.c_id = q.c_id AND v.vec_id <> q.query_id)"""

  /** Oracle-side SQ8 mirror: same bounds agg, same integer code /
    * reconstruction arithmetic, same 4·k candidate window (ROW_NUMBER
    * over the shared approx-score SQL), same exact rerank join.
    */
  private def sq8CtesSql(kk: Int): String = s"""
        base AS (${Corpus.quantizedVectorsSql}),
        dims AS (
          SELECT t.i AS i, MIN(b.qv[t.i]) AS mn, MAX(b.qv[t.i]) AS mx
          FROM base b CROSS JOIN range(1, 65) t(i) GROUP BY t.i),
        bnds AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dims),
        recon AS (
          SELECT b.vec_id,
                 list_transform(range(1, 65), i ->
                   p.mnl[i] * 255 +
                   (CASE WHEN p.mxl[i] > p.mnl[i]
                         THEN ((b.qv[i] - p.mnl[i]) * 255) // (p.mxl[i] - p.mnl[i])
                         ELSE 0 END) * (p.mxl[i] - p.mnl[i])) AS rv
          FROM base b, bnds p),
        rbase AS (
          SELECT vec_id, rv,
                 CAST(list_sum(list_transform(rv, x -> x * x)) AS BIGINT) AS rnn
          FROM recon),
        sq8probes AS (SELECT vec_id, qv, nn FROM base WHERE vec_id < 10),
        apairs AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * v.rv[i])) AS BIGINT) AS adot,
                 v.rnn AS ana, q.nn AS anb
          FROM rbase v JOIN sq8probes q ON v.vec_id <> q.vec_id),
        cands AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ($sq8ApproxScoreSql) DESC, vec_id) AS rk
            FROM apairs) WHERE rk <= ${Sq8CandMult * kk}),
        pairs AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.nn AS nb
          FROM cands c JOIN base v ON v.vec_id = c.vec_id
                       JOIN base q ON q.vec_id = c.query_id)"""

  /** Oracle-side IVF×SQ8 mirror: the trained-IVF chain (identical
    * unrolled Lloyd CTEs → assigned / probecells) composed with the SQ8
    * chain (bounds → integer codes → reconstruction), candidates pruned
    * to the probed cells BEFORE approximate ranking, same 4·k pool and
    * exact rerank — every arithmetic step shared with the two parent
    * mirrors, so the composition sits under the same hash gate.
    */
  private def ivfSq8CtesSql(kk: Int): String = s"""
        base AS (${Corpus.quantizedVectorsSql}),${kmeansSqlCtes(TrainedK, TrainedIters)},
        csc AS (
          SELECT b.vec_id, b.qv, b.nn, c.cid,
                 CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN cents$TrainedIters c),
        assigned AS (
          SELECT vec_id, qv, nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc) WHERE rk = 1),
        probecells AS (
          SELECT vec_id AS query_id, qv AS q_qv, nn AS q_nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc WHERE vec_id < 10) WHERE rk <= $TrainedNProbe),
        dims AS (
          SELECT t.i AS i, MIN(b.qv[t.i]) AS mn, MAX(b.qv[t.i]) AS mx
          FROM base b CROSS JOIN range(1, 65) t(i) GROUP BY t.i),
        bnds AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dims),
        recon AS (
          SELECT a.vec_id, a.c_id,
                 list_transform(range(1, 65), i ->
                   p.mnl[i] * 255 +
                   (CASE WHEN p.mxl[i] > p.mnl[i]
                         THEN ((a.qv[i] - p.mnl[i]) * 255) // (p.mxl[i] - p.mnl[i])
                         ELSE 0 END) * (p.mxl[i] - p.mnl[i])) AS rv
          FROM assigned a, bnds p),
        rbase AS (
          SELECT vec_id, c_id, rv,
                 CAST(list_sum(list_transform(rv, x -> x * x)) AS BIGINT) AS rnn
          FROM recon),
        apairs AS (
          SELECT q.query_id, v.vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> q.q_qv[i] * v.rv[i])) AS BIGINT) AS adot,
                 v.rnn AS ana, q.q_nn AS anb
          FROM rbase v JOIN probecells q
            ON v.c_id = q.c_id AND v.vec_id <> q.query_id),
        cands AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ($sq8ApproxScoreSql) DESC, vec_id) AS rk
            FROM apairs) WHERE rk <= ${Sq8CandMult * kk}),
        pairs AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.nn AS nb
          FROM cands c JOIN base v ON v.vec_id = c.vec_id
                       JOIN base q ON q.vec_id = c.query_id)"""

  /** Oracle-side PQ mirror: codewords by subspace slice, encode by
    * (d2, j) window rank, reconstructed norms and ADC dots re-derived
    * from the codes — every quantity integer until the shared
    * approximate-score expression.
    */
  /** PQ encode CTEs (per-vector codes + reconstructed norms), expecting
    * `base` and `cw` = (m, j, cv); yields `codes` and `recon`.
    */
  private def pqEncodeSql: String = s"""
        enc AS (
          SELECT v.vec_id, w.m, w.j,
                 CAST(list_sum([ (v.qv[w.m * $PqSub + i] - w.cv[i])
                               * (v.qv[w.m * $PqSub + i] - w.cv[i])
                               for i in range(1, ${PqSub + 1})]) AS BIGINT) AS d2
          FROM base v, cw w),
        codes AS (
          SELECT vec_id, m, j FROM (
            SELECT vec_id, m, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk
            FROM enc) WHERE rk = 1),
        recon AS (
          SELECT c.vec_id,
                 CAST(SUM(list_sum([w.cv[i] * w.cv[i]
                                    for i in range(1, ${PqSub + 1})])) AS BIGINT) AS rnn
          FROM codes c JOIN cw w ON w.m = c.m AND w.j = c.j
          GROUP BY c.vec_id)"""

  /** Flat-PQ search tail: encode + full-corpus ADC scan + candidates +
    * exact rerank, expecting `base` and `cw`.
    */
  private def pqSearchTailSql(kk: Int): String = s"""$pqEncodeSql,
        adc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 CAST(SUM(list_sum([q.qv[c.m * $PqSub + i] * w.cv[i]
                                    for i in range(1, ${PqSub + 1})])) AS BIGINT) AS adot
          FROM base q JOIN codes c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
               JOIN cw w ON w.m = c.m AND w.j = c.j
          GROUP BY q.vec_id, c.vec_id),
        scoredap AS (
          SELECT a.query_id, a.vec_id, a.adot, r.rnn AS ana, q.nn AS anb
          FROM adc a JOIN recon r ON r.vec_id = a.vec_id
               JOIN base q ON q.vec_id = a.query_id),
        cands AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ($sq8ApproxScoreSql) DESC, vec_id) AS rk
            FROM scoredap) WHERE rk <= ${PqCandMult * kk}),
        pairs AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.nn AS nb
          FROM cands c JOIN base v ON v.vec_id = c.vec_id
                       JOIN base q ON q.vec_id = c.query_id)"""

  /** Fixed-codebook PQ oracle: codewords by deterministic-subset slice. */
  private def pqCtesSql(kk: Int): String = s"""
        base AS (${Corpus.quantizedVectorsSql}),
        cw AS (
          SELECT m.m, c.vec_id AS j,
                 [c.qv[m.m * $PqSub + i] for i in range(1, ${PqSub + 1})] AS cv
          FROM base c, range(0, $PqM) m(m) WHERE c.vec_id < $PqK),${pqSearchTailSql(kk)}"""

  /** One subspace's unrolled integer L2 Lloyd (the quantized-k-means
    * mirror, as [[kmeansSqlCtes]] is the spherical one): subvector
    * slice → init from the first k vec_ids → per iteration (d2 =
    * nn − 2·dot + cnn argmin with (d2, cid) ties → floor-mean update →
    * empty/degenerate carry-forward). Yields `cents_s<m>_<iters>`.
    */
  private def pqSubKmeansSql(m: Int, k: Int, iters: Int): String = {
    val off = m * PqSub
    val subDef = s"""
    sub$m AS (
      SELECT vec_id,
             [qv[$off + i] for i in range(1, ${PqSub + 1})] AS qv,
             CAST(list_sum([qv[$off + i] * qv[$off + i]
                            for i in range(1, ${PqSub + 1})]) AS BIGINT) AS nn
      FROM base)"""
    val init = s"""
    cents_s${m}_0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             qv AS cv, nn AS cnn
      FROM (SELECT vec_id, qv, nn FROM sub$m ORDER BY vec_id LIMIT $k))"""
    val its = (1 to iters).map { t =>
      s"""
    scored_s${m}_$t AS (
      SELECT b.vec_id, b.qv, c.cid,
             CAST(b.nn - 2 * list_sum([b.qv[i] * c.cv[i]
                                       for i in range(1, ${PqSub + 1})]) + c.cnn
                  AS BIGINT) AS d2
      FROM sub$m b CROSS JOIN cents_s${m}_${t - 1} c),
    asg_s${m}_$t AS (
      SELECT vec_id, qv, cid FROM (
        SELECT vec_id, qv, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM scored_s${m}_$t) WHERE rk = 1),
    upd_s${m}_$t AS (
      SELECT cid, list(mm ORDER BY i) AS cv FROM (
        SELECT a.cid, t.i,
               CAST(floor(CAST(SUM(a.qv[t.i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mm
        FROM asg_s${m}_$t a CROSS JOIN range(1, ${PqSub + 1}) t(i)
        GROUP BY a.cid, t.i)
      GROUP BY cid),
    cents_s${m}_$t AS (
      SELECT c.cid,
             CASE WHEN u.cv IS NULL OR list_sum(list_transform(u.cv, x -> x * x)) = 0
                  THEN c.cv ELSE u.cv END AS cv,
             CAST(list_sum(list_transform(
               CASE WHEN u.cv IS NULL OR list_sum(list_transform(u.cv, x -> x * x)) = 0
                    THEN c.cv ELSE u.cv END, x -> x * x)) AS BIGINT) AS cnn
      FROM cents_s${m}_${t - 1} c LEFT JOIN upd_s${m}_$t u ON u.cid = c.cid)"""
    }
    (subDef +: init +: its).mkString(",")
  }

  /** Trained-codebook PQ oracle: eight unrolled subspace Lloyd chains,
    * unioned into the codeword table, then the shared search tail.
    */
  private def pqTrainedCtesSql(kk: Int): String = s"""
        base AS (${Corpus.quantizedVectorsSql}),${
          (0 until PqM).map(pqSubKmeansSql(_, PqK, PqTrainIters)).mkString(",")},
        cw AS (${
          (0 until PqM).map(m =>
            s"SELECT $m AS m, cid AS j, cv FROM cents_s${m}_$PqTrainIters")
            .mkString(" UNION ALL ")}),${pqSearchTailSql(kk)}"""

  /** Oracle-side IVF×PQ mirror: the spherical-Lloyd chain (identical
    * unrolled CTEs → assigned / probecells) composed with the trained
    * PQ chains (eight subspace Lloyds → codes / recon), ADC restricted
    * to the probed cells BEFORE ranking, deep pool, exact rerank —
    * every arithmetic step shared with the two parent mirrors.
    */
  private def ivfPqCtesSql(kk: Int): String = s"""
        base AS (${Corpus.quantizedVectorsSql}),${kmeansSqlCtes(TrainedK, TrainedIters)},
        csc AS (
          SELECT b.vec_id, b.qv, b.nn, c.cid,
                 CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN cents$TrainedIters c),
        assigned AS (
          SELECT vec_id, qv, nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc) WHERE rk = 1),
        probecells AS (
          SELECT vec_id AS query_id, qv AS q_qv, nn AS q_nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc WHERE vec_id < 10) WHERE rk <= $TrainedNProbe),${
          (0 until PqM).map(pqSubKmeansSql(_, PqK, PqTrainIters)).mkString(",")},
        cw AS (${
          (0 until PqM).map(m =>
            s"SELECT $m AS m, cid AS j, cv FROM cents_s${m}_$PqTrainIters")
            .mkString(" UNION ALL ")}),$pqEncodeSql,
        adc AS (
          SELECT q.query_id, a.vec_id, q.q_nn,
                 CAST(SUM(list_sum([q.q_qv[c.m * $PqSub + i] * w.cv[i]
                                    for i in range(1, ${PqSub + 1})])) AS BIGINT) AS adot
          FROM probecells q
               JOIN assigned a ON a.c_id = q.c_id AND a.vec_id <> q.query_id
               JOIN codes c ON c.vec_id = a.vec_id
               JOIN cw w ON w.m = c.m AND w.j = c.j
          GROUP BY q.query_id, a.vec_id, q.q_nn),
        scoredap AS (
          SELECT a.query_id, a.vec_id, a.adot, r.rnn AS ana, a.q_nn AS anb
          FROM adc a JOIN recon r ON r.vec_id = a.vec_id),
        cands AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ($sq8ApproxScoreSql) DESC, vec_id) AS rk
            FROM scoredap) WHERE rk <= ${PqCandMult * kk}),
        pairs AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * q.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.nn AS nb
          FROM cands c JOIN base v ON v.vec_id = c.vec_id
                       JOIN base q ON q.vec_id = c.query_id)"""

  val all: Seq[QuerySpec] = Seq(

    QuerySpec(
      "ann_brute_topk",
      (s, d) => topKPerProbe(brutePairs(s, d), 5),
      Some(annSelectSql(bruteCtesSql, 5))),

    // ───── MIPS — maximum INNER-PRODUCT top-k (r12): the retrieval
    // semantics recommendation scoring actually uses (user·item
    // preference — magnitude matters), distinct from the cosine family
    // (a long vector with middling angle outranks a short aligned one;
    // rankings genuinely differ, which the oracle pins). Scores are the
    // exact integer dots re-emitted as BIGINT; ranking ties break by
    // vec_id under the same double total order as every ANN path. The
    // brute form here is the exact baseline (flat broadcast-probe scan,
    // bounded TopKScoredAgg — nothing but ≤k pairs per probe per
    // partition crosses the wire); the standard scale path is the
    // norm-augmentation reduction (append √(M²−‖v‖²) as an extra
    // coordinate, making MIPS an L2-NN problem the trained-IVF index
    // already serves — Bachrach et al., RecSys'14).
    QuerySpec(
      "ann_mips_topk",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKScoredAgg(5),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
        brutePairs(s, d)
          .withColumn("score", col("dot").cast("double"))
          .groupBy("query_id")
          .agg(topk(col("score"), col("vec_id")).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("query_id"), col("t._2").as("neighbor_id"),
            (col("pos") + 1).cast("int").as("rank"),
            col("t._1").cast("long").as("dot"))
      },
      Some(s"""
        WITH $bruteCtesSql
        SELECT query_id, vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dot DESC, vec_id) AS INTEGER) AS rank,
               CAST(dot AS BIGINT) AS dot
        FROM pairs
        QUALIFY rank <= 5""")),

    // ───── RANGE (radius) search (r12): "every vector within similarity
    // τ of the probe" — the index operation the top-k family can't
    // express (dedup wants ALL matches above a bar, not the best k; a
    // recall-k query can't even tell you how many there are). τ is
    // cos² ≥ 0.5, evaluated as the PURE-INTEGER predicate
    // `dot > 0 AND 2·dot² ≥ na·nb` — no division, no floats, no
    // overflow (|qv| ≤ ~100 ⇒ dot² and na·nb ≤ ~4·10¹¹), identical in
    // both engines. Corpus = base ∪ injected near-dup variants, so the
    // planted pairs (cos² ≈ 0.94) match while isotropic 64-dim
    // strangers essentially never do — probes without matches REPORT
    // with n=0 (the left join), which is itself the operator's contract.
    // Scale shape: the same flat broadcast-probe scan as ann_brute
    // (flat to 1.28M vecs; BASELINE.md, "scale curve, ANN brute top-k")
    // but with NO ordered stage at all — only per-probe count/sum/min/max
    // partials cross the wire, so the reduce side is |probes| rows
    // regardless of match volume.

    // ───── bounded-beam GRAPH search prototype (r13, VERDICT r12 #7 —
    // the HNSW/DiskANN adjudication made runnable): search walks a
    // stored top-8 neighbor-list graph from 4 fixed entry points, 3
    // synchronized beam rounds of width 8 — each round ONE equi-join of
    // the per-probe frontier with the neighbor table + one bounded
    // top-k agg (the multiSourceBfs shape with scoring), so a BATCH of
    // probes amortizes rounds exactly like multi-source BFS. `scanned`
    // (distinct candidates scored per probe) is the measured cost
    // readout the adjudication needs: ≤ 4 + 3·(8 + 8·8) = a few hundred
    // candidates regardless of corpus size, vs brute's |corpus| and
    // IVF's |corpus|/k·nprobe. Graph CONSTRUCTION here is all-pairs —
    // honest at test SF, and the documented reason this stays a
    // prototype: at 100 TB the build IS the ANN problem (HNSW solves it
    // with sequential random-access inserts that do not shard; a
    // relational engine builds the neighbor list from its own IVF/LSH
    // candidates), and the measured recall/scanned trade vs
    // ivf_trained/sq8 is recorded in BASELINE.md. Every ordering is the
    // (score DESC, vec_id) double total order; beam membership is
    // monotone-improving (candidates always include the incumbent
    // beam), so 3 rounds is a declared horizon, not a convergence guess.
    QuerySpec(
      "ann_beam_search",
      (s, d) => {
        val base = Corpus.quantizedVectors(s, d)
        // fanOut the STREAM side of the n×n graph-construction scan: the
        // persisted corpus publishes at scan width (one task locally), so
        // the n²·64-dim dot stage — the query's dominant compute — ran on
        // one core (guide §2.5; the r16 revert covered the |probes|·n
        // brute scan, which is 200× lighter than this n×n site)
        val allPairs = graft.Tables.fanOut(base).as("a").crossJoin(base.as("b"))
          .filter(col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
            Corpus.dotCol("a.qv", "b.qv").as("dot"),
            col("b.nn").as("na"), col("a.nn").as("nb"))
        val graph = topKPerProbe(allPairs, 8)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
          .localCheckpoint(false)
        val probes = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
            col("nn").as("q_nn"))
        val entries = base.orderBy("vec_id").limit(4).select("vec_id")
        // LAZY checkpoints throughout the hop loop (r17): the loop runs
        // no convergence probe (fixed 3 hops), so every eager checkpoint
        // was a driver job paid purely to materialize; lazy checkpoints
        // keep lineage flat per hop and the final action cascades — the
        // dual consumers read the once-computed cached RDD
        var beam = probes.select("query_id").crossJoin(broadcast(entries))
          .filter(col("vec_id") =!= col("query_id"))
          .localCheckpoint(false)
        var scannedAll = beam
        var beamRanked: DataFrame = null
        for (_ <- 1 to 3) {
          val cands = beam.select("query_id", "vec_id")
            .unionByName(beam.join(graph, col("vec_id") === col("src"))
              .select(col("query_id"), col("dst").as("vec_id")))
            .filter(col("vec_id") =!= col("query_id"))
            .distinct().localCheckpoint(false)
          val scoredPairs = cands.join(base, "vec_id")
            .join(broadcast(probes), "query_id")
            .select(col("query_id"), col("vec_id"),
              Corpus.dotCol("qv", "q_qv").as("dot"),
              col("nn").as("na"), col("q_nn").as("nb"))
          beamRanked = topKPerProbe(scoredPairs, 8).localCheckpoint(false)
          beam = beamRanked.select(col("query_id"),
            col("neighbor_id").as("vec_id"))
          // NO checkpoint: every union leg (the seed beam and each round's
          // cands) is already materialized above, so this union is a flat
          // scan of cached frames — checkpointing it re-copied the growing
          // set once per round (3 extra jobs for a single final consumer)
          scannedAll = scannedAll.unionByName(cands)
        }
        val bruteTop = topKPerProbe(brutePairs(s, d), 3)
          .select("query_id", "neighbor_id")
        val hitCounts = beamRanked.filter(col("rank") <= 3)
          .select("query_id", "neighbor_id")
          .join(bruteTop, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        val scanned = scannedAll.distinct()
          .groupBy("query_id").agg(count(lit(1)).as("scanned"))
        probes.select("query_id")
          .join(hitCounts, Seq("query_id"), "left")
          .join(scanned, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            col("scanned"))
          .orderBy("query_id")
      },
      Some(s"""
        WITH base AS MATERIALIZED (${Corpus.quantizedVectorsSql}),
        probes AS MATERIALIZED (
          SELECT vec_id AS query_id, qv, nn FROM base WHERE vec_id < 10),
        allp AS MATERIALIZED (
          SELECT a.vec_id AS src, b.vec_id AS dst,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
                 b.nn AS na, a.nn AS nb
          FROM base a JOIN base b ON a.vec_id <> b.vec_id),
        graph AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
              ORDER BY CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE)) DESC, dst) AS r
            FROM allp) WHERE r <= 8),
        entries AS MATERIALIZED (SELECT vec_id FROM base ORDER BY vec_id LIMIT 4),
        b0 AS MATERIALIZED (
          SELECT p.query_id, e.vec_id FROM probes p CROSS JOIN entries e
          WHERE e.vec_id <> p.query_id),
        c1 AS MATERIALIZED (
          SELECT DISTINCT query_id, vec_id FROM (
            SELECT query_id, vec_id FROM b0
            UNION ALL
            SELECT b.query_id, g.dst AS vec_id FROM b0 b
            JOIN graph g ON g.src = b.vec_id)
          WHERE vec_id <> query_id),
        s1 AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> v.qv[i] * p.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, p.nn AS nb
          FROM c1 c
          JOIN base v ON v.vec_id = c.vec_id
          JOIN probes p ON p.query_id = c.query_id),
        b1 AS MATERIALIZED (
          SELECT query_id, vec_id, r FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE)) DESC, vec_id) AS r
            FROM s1) WHERE r <= 8),
        c2 AS MATERIALIZED (
          SELECT DISTINCT query_id, vec_id FROM (
            SELECT query_id, vec_id FROM b1
            UNION ALL
            SELECT b.query_id, g.dst AS vec_id FROM b1 b
            JOIN graph g ON g.src = b.vec_id)
          WHERE vec_id <> query_id),
        s2 AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> v.qv[i] * p.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, p.nn AS nb
          FROM c2 c
          JOIN base v ON v.vec_id = c.vec_id
          JOIN probes p ON p.query_id = c.query_id),
        b2 AS MATERIALIZED (
          SELECT query_id, vec_id, r FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE)) DESC, vec_id) AS r
            FROM s2) WHERE r <= 8),
        c3 AS MATERIALIZED (
          SELECT DISTINCT query_id, vec_id FROM (
            SELECT query_id, vec_id FROM b2
            UNION ALL
            SELECT b.query_id, g.dst AS vec_id FROM b2 b
            JOIN graph g ON g.src = b.vec_id)
          WHERE vec_id <> query_id),
        s3 AS (
          SELECT c.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> v.qv[i] * p.qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, p.nn AS nb
          FROM c3 c
          JOIN base v ON v.vec_id = c.vec_id
          JOIN probes p ON p.query_id = c.query_id),
        b3 AS MATERIALIZED (
          SELECT query_id, vec_id, r FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE)) DESC, vec_id) AS r
            FROM s3) WHERE r <= 8),
        brute AS MATERIALIZED (
          SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id,
                   CAST(list_sum(list_transform(range(1, 65),
                     i -> v.qv[i] * q.qv[i])) AS BIGINT) AS dot,
                   v.nn AS na, q.nn AS nb,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE)) DESC, v.vec_id) AS r
            FROM base v JOIN base q ON q.vec_id < 10 AND v.vec_id <> q.vec_id
            QUALIFY r <= 3) ),
        scanned AS (
          SELECT query_id, COUNT(*) AS scanned FROM (
            SELECT DISTINCT query_id, vec_id FROM (
              SELECT query_id, vec_id FROM b0
              UNION ALL SELECT query_id, vec_id FROM c1
              UNION ALL SELECT query_id, vec_id FROM c2
              UNION ALL SELECT query_id, vec_id FROM c3))
          GROUP BY 1),
        hitsq AS (
          SELECT f.query_id, COUNT(*) AS hits
          FROM (SELECT query_id, vec_id FROM b3 WHERE r <= 3) f
          JOIN brute USING (query_id, vec_id)
          GROUP BY 1)
        SELECT p.query_id,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(s.scanned AS BIGINT) AS scanned
        FROM probes p
        LEFT JOIN hitsq h ON h.query_id = p.query_id
        LEFT JOIN scanned s ON s.query_id = p.query_id
        ORDER BY p.query_id""")),

    QuerySpec(
      "ann_range_search",
      (s, d) => {
        val base = Corpus.vecsWithNearDups(s, d)
        val probes = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
            col("nn").as("q_nn"))
        val matches = base.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("dot", Corpus.dotCol("qv", "q_qv"))
          .filter(col("dot") > 0 &&
            col("dot") * col("dot") * 2 >= col("nn") * col("q_nn"))
          .select(col("query_id"), col("vec_id"),
            col("nn").as("na"), col("q_nn").as("nb"), col("dot"))
          .withColumn("score", Corpus.scoreCol)
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_matches"), sum("vec_id").as("id_sum"),
            min("score").as("min_score"), max("score").as("max_score"))
        probes.select("query_id").join(matches, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("id_sum"), lit(0L)).as("id_sum"),
            col("min_score"), col("max_score"))
      },
      Some(s"""
        WITH base AS (${Corpus.vecsWithNearDupsSql}),
        probes AS (
          SELECT vec_id AS query_id, qv, nn AS q_nn
          FROM base WHERE vec_id < 10),
        hits AS (
          SELECT q.query_id, v.vec_id, v.nn AS na, q.q_nn AS nb, $dotSql AS dot
          FROM base v JOIN probes q ON v.vec_id <> q.query_id),
        m AS (
          SELECT query_id, COUNT(*) AS n_matches,
                 CAST(SUM(vec_id) AS BIGINT) AS id_sum,
                 MIN(${Corpus.scoreSql}) AS min_score,
                 MAX(${Corpus.scoreSql}) AS max_score
          FROM hits
          WHERE dot > 0 AND 2 * dot * dot >= na * nb
          GROUP BY 1)
        SELECT p.query_id,
               COALESCE(m.n_matches, 0) AS n_matches,
               COALESCE(m.id_sum, 0) AS id_sum,
               m.min_score, m.max_score
        FROM probes p LEFT JOIN m ON m.query_id = p.query_id""")),

    // ───── random-projection ANN (r9): Johnson–Lindenstrauss sign
    // projection — the DIMENSIONALITY tier of the bytes-for-recall
    // spectrum, orthogonal to SQ8/PQ's bits-per-dim tier: 64 dims → 16
    // (4× fewer bytes AND 4× cheaper dots) and → 8, recall ORACLE-GATED
    // per probe in the ann_recall style. The ±1 matrix is a fixed
    // integer hash of (i,j) — no floats, no rand() — so both engines
    // project, score, and rank bit-identically. The gated numbers carry
    // a MEASURED NEGATIVE and its boundary (sf0.01): on the isotropic
    // corpus, where brute top-3 margins are hairline, rp16 holds 1/30
    // and even an 8·k-pool exact rerank only 3/30 — JL distortion at
    // 64→16 (ε ≈ √(ln n/16)) swamps those margins, so RP is NOT a
    // ranking tier for already-compact embeddings (that's what trained
    // IVF/SQ8 are for; RP pays off projecting 1k+-dim raw embeddings
    // DOWN to this engine's working width). The rp16_neardup arm marks
    // the boundary from the other side: injected near-dup pairs
    // (cos² ≈ 0.94 — real-margin structure) survive the same projection
    // at 9/10 top-1, so RP IS a valid cheap prefilter tier for
    // dedup-strength similarity. Both claims are numbers under the
    // hash gate, not prose.
    QuerySpec(
      "ann_random_projection",
      (s, d) => {
        val gt = topKPerProbe(brutePairs(s, d), 3)
          .select("query_id", "neighbor_id")
        val probes = gt.select("query_id").distinct()
        val methods = Seq(
          "rp16" -> rpPairs(s, d, 16),
          "rp8" -> rpPairs(s, d, 8),
          "rp16_rerank" -> rpRerankPairs(s, d, 16, 3))
        methods.map { case (nm, pairs) =>
          val hits = gt
            .join(topKPerProbe(pairs, 3).select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"))
            .groupBy("query_id").agg(count(lit(1)).as("hits"))
          probes.join(hits, Seq("query_id"), "left")
            .select(col("query_id"), lit(nm).as("method"),
              coalesce(col("hits"), lit(0L)).as("hits"), lit(3).as("k"))
        }.reduce(_ unionByName _)
          .unionByName(rpNearDupTop1(s, d, 16))
      },
      Some(s"""
        WITH gt AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(bruteCtesSql, 3)})),
        probes AS (SELECT DISTINCT query_id FROM gt),
        m16 AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(rpCtesSql(16), 3)})),
        m8 AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(rpCtesSql(8), 3)})),
        m16r AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(rpRerankCtesSql(16, 3), 3)})),
        h16 AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m16 t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h8 AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m8 t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h16r AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m16r t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id)
        SELECT p.query_id, 'rp16' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h16 h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'rp8', CAST(COALESCE(h.hits, 0) AS BIGINT), 3
        FROM probes p LEFT JOIN h8 h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'rp16_rerank', CAST(COALESCE(h.hits, 0) AS BIGINT), 3
        FROM probes p LEFT JOIN h16r h USING (query_id)
        UNION ALL
        SELECT query_id, 'rp16_neardup',
               CAST(MAX(CASE WHEN neighbor_id = query_id + ${Corpus.VariantOffset}
                        THEN 1 ELSE 0 END) AS BIGINT), 1
        FROM (${annSelectSql(rpNearDupCtesSql(16), 1)})
        GROUP BY query_id""")),

    // IVF (inverted-file) ANN: a coarse quantizer assigns every vector to
    // its nearest centroid; probes search only their centroid's inverted
    // list. Centroids here are a fixed, deterministic subset (vec_id<16)
    // rather than k-means output — the INDEX STRUCTURE (zero-shuffle
    // assignment + per-cell search) is the scale path being exercised;
    // `ann_ivf_trained` below swaps in trained centroids (changes recall,
    // not the plan). Assignment ties break on centroid id, so both
    // engines agree exactly.
    QuerySpec(
      "ann_ivf",
      (s, d) => topKPerProbe(ivfPairs(ivfFixedAssigned(s, d)), 3),
      Some(annSelectSql(ivfFixedCtesSql, 3))),

    // IVF over TRAINED centroids (the r5 verdict's top item): the coarse
    // quantizer is spherical integer k-means ([[Clustering.
    // kmeansSpherical]], k=16 × 2 Lloyd iterations) instead of a fixed
    // corpus subset, searched multi-probe (nprobe=3) — the canonical
    // trained-IVF posture (FAISS IndexIVFFlat + nprobe), with the cells
    // trained under the SAME signed-cos² the search ranks by. Every
    // training step is oracle-replayed: DuckDB runs the identical
    // unrolled Lloyd CTEs ([[kmeansSqlCtes]]) and lands on bit-identical
    // centroids, so the whole path — train, assign, probe-select,
    // search — sits under the hash gate. Plan shape: zero-shuffle
    // literal-centroid assignment AND probe-cell selection (sorted
    // literal array slice, no window), broadcast probes into their
    // cells, bounded per-probe top-k. Measured recall@3 ties the
    // fixed-subset quantizer at both SFs (`ann_recall`) with balanced
    // trained cells.
    QuerySpec(
      "ann_ivf_trained",
      (s, d) => topKPerProbe(ivfTrainedPairs(s, d), 3),
      Some(annSelectSql(ivfTrainedCtesSql, 3))),

    // ───── FILTERED vector search (r9): top-k restricted to candidates
    // sharing the probe's label — the metadata-predicate + ANN
    // composition every production vector store fights with (language-
    // restricted retrieval, tenant isolation, freshness filters). Three
    // strategies over the SAME trained-IVF candidate stream, recall
    // gated against the label-FILTERED brute ground truth:
    //   - post_top3: filter the unfiltered top-3 — the naive
    //     composition; with 10 labels ~90% of the pool fails the
    //     predicate, recall collapses (measured 2/30 at sf0.01),
    //   - post_pool24: filter an 8·k deep pool then re-rank — the
    //     standard mitigation, pool depth buying recall back (22/30),
    //   - pre_cells: push the predicate INTO the cell scan, before the
    //     bounded top-k aggregate — the recall CEILING available from
    //     the probed cells (22/30; the 24-deep pool happens to reach it
    //     on this corpus — at stronger filters or smaller pools the two
    //     separate) AND the cheapest shuffle (only matching candidates
    //     reach the aggregate); the selectivity-independent path a
    //     planner should pick for strong filters.
    // All three arms and the filtered ground truth are oracle-replayed;
    // the recall ladder is numbers under the hash gate, not prose.
    QuerySpec(
      "ann_filtered",
      (s, d) => {
        val labs = graft.Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        val qlabs = broadcast(labs
          .select(col("vec_id").as("query_id"), col("label").as("qlab")))
        def withLabels(pairs: DataFrame) = pairs
          .join(labs.withColumnRenamed("label", "vlab"), "vec_id")
          .join(qlabs, "query_id")
        val std = Seq("query_id", "vec_id", "dot", "na", "nb")
        val gtf = topKPerProbe(
          withLabels(brutePairs(s, d)).filter(col("vlab") === col("qlab"))
            .select(std.map(col): _*), 3)
          .select("query_id", "neighbor_id")
        val probes = Corpus.quantizedVectors(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"))
        val ivfL = withLabels(ivfTrainedPairs(s, d))
        val ranked = topKPerProbe(ivfL.select(std.map(col): _*), 24)
          .join(labs.select(col("vec_id").as("neighbor_id"),
            col("label").as("vlab")), "neighbor_id")
          .join(qlabs, "query_id")
        val postTop3 = ranked
          .filter(col("rank") <= 3 && col("vlab") === col("qlab"))
          .select("query_id", "neighbor_id")
        val w3 = org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy("rank")
        val postPool = ranked.filter(col("vlab") === col("qlab"))
          .withColumn("rk2", row_number().over(w3)).filter(col("rk2") <= 3)
          .select("query_id", "neighbor_id")
        val pre = topKPerProbe(
          ivfL.filter(col("vlab") === col("qlab")).select(std.map(col): _*), 3)
          .select("query_id", "neighbor_id")
        def arm(nm: String, sel: DataFrame) = {
          val hits = gtf.join(sel, Seq("query_id", "neighbor_id"))
            .groupBy("query_id").agg(count(lit(1)).as("hits"))
          probes.join(hits, Seq("query_id"), "left")
            .select(col("query_id"), lit(nm).as("method"),
              coalesce(col("hits"), lit(0L)).as("hits"), lit(3).as("k"))
        }
        arm("post_top3", postTop3)
          .unionByName(arm("post_pool24", postPool))
          .unionByName(arm("pre_cells", pre))
      },
      Some(s"""
        WITH $ivfTrainedCtesSql,
        labs AS (SELECT vec_id, label FROM embeddings),
        bp AS (
          SELECT q.vec_id AS query_id, v.vec_id AS vec_id, $dotSql AS dot,
                 v.nn AS na, q.nn AS nb
          FROM base v JOIN base q ON q.vec_id < 10 AND v.vec_id <> q.vec_id),
        gtf AS (
          SELECT query_id, vec_id AS neighbor_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ${Corpus.scoreSql} DESC, vec_id) AS rk
            FROM (SELECT bp.* FROM bp
                  JOIN labs lv ON lv.vec_id = bp.vec_id
                  JOIN labs lq ON lq.vec_id = bp.query_id
                                  AND lv.label = lq.label))
          WHERE rk <= 3),
        ranked AS (
          SELECT query_id, vec_id, rk, vlab, qlab FROM (
            SELECT p.query_id, p.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                     ORDER BY ${Corpus.scoreSql} DESC, p.vec_id) AS rk,
                   lv.label AS vlab, lq.label AS qlab
            FROM pairs p JOIN labs lv ON lv.vec_id = p.vec_id
                         JOIN labs lq ON lq.vec_id = p.query_id)
          WHERE rk <= 24),
        pre AS (
          SELECT query_id, vec_id AS neighbor_id FROM (
            SELECT p.query_id, p.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                     ORDER BY ${Corpus.scoreSql} DESC, p.vec_id) AS rk
            FROM pairs p JOIN labs lv ON lv.vec_id = p.vec_id
                         JOIN labs lq ON lq.vec_id = p.query_id
                                         AND lv.label = lq.label)
          WHERE rk <= 3),
        pt3 AS (SELECT query_id, vec_id AS neighbor_id
                FROM ranked WHERE rk <= 3 AND vlab = qlab),
        pp24 AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rk) AS rk2
            FROM ranked WHERE vlab = qlab)
          WHERE rk2 <= 3),
        probes AS (SELECT vec_id AS query_id FROM base WHERE vec_id < 10),
        h1 AS (SELECT g.query_id, count(*) AS hits FROM gtf g
               JOIN pt3 t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
               GROUP BY g.query_id),
        h2 AS (SELECT g.query_id, count(*) AS hits FROM gtf g
               JOIN pp24 t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
               GROUP BY g.query_id),
        h3 AS (SELECT g.query_id, count(*) AS hits FROM gtf g
               JOIN pre t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
               GROUP BY g.query_id)
        SELECT p.query_id, 'post_top3' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h1 h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'post_pool24', CAST(COALESCE(h.hits, 0) AS BIGINT), 3
        FROM probes p LEFT JOIN h2 h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'pre_cells', CAST(COALESCE(h.hits, 0) AS BIGINT), 3
        FROM probes p LEFT JOIN h3 h USING (query_id)""")),

    QuerySpec(
      "ann_lsh_bucket",
      (s, d) => topKPerProbe(lshPairs(s, d), 3),
      Some(annSelectSql(lshCtesSql, 3))),

    // Multi-probe sign-LSH (r7): same index, Hamming-≤2 probe fan-out —
    // recall@3 moves 1/30 → 24/30 at sf0.1 (ann_recall holds it under
    // the oracle) while the scan fraction still shrinks with corpus
    // growth (see lshMultiprobePairs).
    QuerySpec(
      "ann_lsh_multiprobe",
      (s, d) => topKPerProbe(lshMultiprobePairs(s, d), 3),
      Some(annSelectSql(lshMultiprobeCtesSql, 3))),

    // Incremental ANN — the daily-crawl shape for vectors: the new
    // batch searches the EXISTING corpus's sign-LSH index, old×new
    // only (see incrementalPairs). Completes the incremental story
    // next to dedup_incremental: neither text nor vectors re-score
    // the accumulated corpus per increment.
    QuerySpec(
      "ann_incremental",
      (s, d) => topKPerProbe(incrementalPairs(s, d), 3),
      Some(annSelectSql(incrementalCtesSql, 3))),

    // SQ8 scalar-quantized scan + exact rerank: the MEMORY-bound ANN
    // path (LSH/IVF prune candidates; SQ8 shrinks the bytes every
    // candidate costs — 64 B codes vs 512 B vectors, 8×). The approx
    // pass ranks integer-reconstructed codes against the exact probe,
    // keeps 4·k per probe through the bounded aggregate, and only those
    // survivors touch their full vectors (broadcast candidate-id join)
    // for the exact rerank. Every step is integer-derived on both
    // engines, so the whole approximate→exact pipeline sits under the
    // hash gate; `ann_recall` measures its recall@3 vs brute force.
    QuerySpec(
      "ann_sq8_rerank",
      (s, d) => topKPerProbe(sq8Pairs(s, d, 3), 3),
      Some(annSelectSql(sq8CtesSql(3), 3))),

    // IVF × SQ8 composed (r7): the production big-corpus layout — the
    // trained coarse quantizer prunes candidate VOLUME (nprobe/k cells),
    // the 8-bit codes prune candidate BYTES (8×), exact rerank restores
    // precision; see ivfSq8Pairs. All three parent stages are already
    // individually oracle-held; the composition is too.
    QuerySpec(
      "ann_ivf_sq8",
      (s, d) => topKPerProbe(ivfSq8Pairs(s, d, 3), 3),
      Some(annSelectSql(ivfSq8CtesSql(3), 3))),

    // Product quantization + ADC (r8): M=8 subspaces × K=16 codewords —
    // 8-byte codes (64× smaller than the long-array form, 8× smaller
    // than SQ8's 64 B), scanned against a per-probe lookup table (8
    // lookups+adds per vector instead of 64 multiplies), 4·k survivors
    // exact-reranked. Codebooks are the fixed deterministic subset (the
    // ann_ivf pattern); every encode/score step is integer-exact on
    // both engines, so the whole PQ pipeline sits under the hash gate.
    QuerySpec(
      "ann_pq_adc",
      (s, d) => topKPerProbe(pqPairs(s, d, 3, pqFixedCodebook(s, d)), 3),
      Some(annSelectSql(pqCtesSql(3), 3))),

    // PQ over TRAINED per-subspace codebooks (r8): integer L2 Lloyd in
    // each 8-dim subspace (L2, not spherical — a subvector is a
    // fragment, not a direction), DuckDB replaying all eight unrolled
    // chains to bit-identical codebooks; same 8-byte codes, ADC lookup
    // scan, and deep (8·k) rerank pool. The trained/fixed split mirrors
    // ann_ivf_trained/ann_ivf; ann_recall holds the recall gain.
    QuerySpec(
      "ann_pq_trained",
      (s, d) => topKPerProbe(pqPairs(s, d, 3, pqTrainedCodebook(s, d)), 3),
      Some(annSelectSql(pqTrainedCtesSql(3), 3))),

    // IVF × PQ composed (r8) — the FAISS IndexIVFPQ shape, the most
    // common production big-corpus layout: trained coarse cells prune
    // VOLUME, trained 8-byte PQ codes prune BYTES 64×, the ADC table
    // makes the within-cell scan M lookups+adds, the deep pool reranks
    // exactly. Completes the composed-index family next to ivf_sq8.
    QuerySpec(
      "ann_ivf_pq",
      (s, d) => topKPerProbe(ivfPqPairs(s, d, 3), 3),
      Some(annSelectSql(ivfPqCtesSql(3), 3))),

    // IVF × SQ8 over the PERSISTED index (r8): the same search pipeline
    // reading trained centroids + SQ8 bounds + packed codes from
    // SnapshotStore targets ([[VectorIndexStore]]) instead of training
    // in-query — the train-once/maintain-incrementally posture a 100 TB
    // vector store runs. The oracle SQL is IDENTICAL to ann_ivf_sq8's:
    // persisted artifacts are integer-deterministic, so the persisted
    // search must reproduce the in-query formulation row for row (and
    // the hash gate holds it there). Exact-rerank vectors come from the
    // raw corpus (the vector table), candidate ids broadcast into it.
    QuerySpec(
      "ann_ivf_sq8_persisted",
      (s, d) => {
        val (meta, codes) = VectorIndexStore.ensureBuilt(s, d)
        val base = Corpus.quantizedVectors(s, d)
        topKPerProbe(
          VectorIndexStore.searchPairs(s, base.filter(col("vec_id") < 10),
            base, meta, codes, kk = 3), 3)
      },
      Some(annSelectSql(ivfSq8CtesSql(3), 3))),

    // IVF × PQ over the PERSISTED index (r16, VERDICT r15 #5): the
    // FAISS IndexIVFPQ layout under the same train-once/maintain-
    // incrementally posture as ann_ivf_sq8_persisted — coarse centroids
    // AND the M×K per-subspace codebooks live as meta target rows, the
    // codes target stores the M-BYTE packed PQ code per vector (VecPack
    // U8 on write, the codegen'd VecUnpackU8 on read — 64× below the
    // long-array form), and search replays the exact ann_ivf_pq
    // pipeline from the store ([[VectorIndexStore.searchPairsPq]]).
    // Training is the same deterministic integer Lloyd chains, so the
    // oracle SQL is IDENTICAL to ann_ivf_pq's — the persisted search
    // must reproduce the in-query formulation row for row. PqIndexSpec
    // holds the maintenance story (chunked streamed ingest, restart,
    // LWW supersession ≡ batch build).
    QuerySpec(
      "ann_ivf_pq_persisted",
      (s, d) => {
        val (meta, codes) = VectorIndexStore.ensureBuiltPq(s, d)
        val base = Corpus.quantizedVectors(s, d)
        topKPerProbe(
          VectorIndexStore.searchPairsPq(s, base.filter(col("vec_id") < 10),
            base, meta, codes, kk = 3), 3)
      },
      Some(annSelectSql(ivfPqCtesSql(3), 3))),

    // Semantic dedup (the SemDeDup shape, r8): k-means-cluster the
    // embedding space, then look for near-duplicate pairs ONLY within a
    // cluster — the trained assignment replaces the quadratic corpus
    // self-join with Σ|cell|² work, and in production k grows with the
    // corpus to keep cells bounded (the signBucketBits derivation
    // pattern; here the oracle-pinned TrainedK so DuckDB can replay
    // Lloyd). Pairs at signed-cos² ≥ 0.81 collapse keep-lowest-id: each
    // dropped doc reports its canonical keeper (min matching earlier
    // id), best score, and match count. Same trained quantizer as
    // `ann_ivf_trained` — train → assign → pair → collapse all sit
    // under the hash gate. Complements `dedup_embed_cosine` (sign-LSH
    // buckets): LSH buckets split near-dup pairs that straddle a
    // hyperplane; metric-trained cells follow the data's own density.
    QuerySpec(
      "dedup_semantic",
      (s, d) => {
        val base = Corpus.vecsWithNearDups(s, d)
        val cents = Clustering.kmeansSpherical(s, base, TrainedK, TrainedIters)
        val assigned = assignToCentroids(base, cents)
          .select("vec_id", "qv", "nn", "c_id")
        val pairs = assigned.as("a")
          .join(assigned.as("b"),
            col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            Corpus.dotCol("a.qv", "b.qv").as("dot"),
            col("a.nn").as("na"), col("b.nn").as("nb"))
          .withColumn("score", Corpus.scoreCol)
          .filter(col("score") >= 0.81)
        pairs.groupBy(col("vb").as("vec_id"))
          .agg(min("va").as("dup_of"), max("score").as("best_score"),
            count(lit(1)).as("n_matches"))
      },
      Some(s"""
        WITH base AS (${Corpus.vecsWithNearDupsSql}),${kmeansSqlCtes(TrainedK, TrainedIters)},
        csc AS (
          SELECT b.vec_id, b.qv, b.nn, c.cid,
                 CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN cents$TrainedIters c),
        assigned AS (
          SELECT vec_id, qv, nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc) WHERE rk = 1),
        spairs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
                 a.nn AS na, b.nn AS nb
          FROM assigned a JOIN assigned b
            ON a.c_id = b.c_id AND a.vec_id < b.vec_id),
        scored AS (
          SELECT va, vb, ${Corpus.scoreSql} AS score FROM spairs
          WHERE ${Corpus.scoreSql} >= 0.81)
        SELECT vb AS vec_id, MIN(va) AS dup_of, MAX(score) AS best_score,
               count(*) AS n_matches
        FROM scored GROUP BY vb""")),

    // Recall@3 of every approximate path, MEASURED (the r5 verdict's
    // "recall-for-speed tradeoff is stated but never measured"): per
    // probe, how many of the brute-force top-3 the lsh / ivf /
    // ivf_trained top-3 actually contain — integer hit counts, exact
    // under the oracle, so recall regressions fail CORRECTNESS instead
    // of drifting silently. Scale shape: ground truth is the brute
    // path (O(corpus × probes), the price of measuring recall — run
    // over a probe SAMPLE at scale); each approximate path is its
    // production plan; the hit join is |probes|·k rows a side.
    QuerySpec(
      "ann_recall",
      (s, d) => {
        val gt = topKPerProbe(brutePairs(s, d), 3)
          .select("query_id", "neighbor_id")
        val probes = gt.select("query_id").distinct()
        val methods = Seq(
          "ivf" -> ivfPairs(ivfFixedAssigned(s, d)),
          "ivf_trained" -> ivfTrainedPairs(s, d),
          "lsh" -> lshPairs(s, d),
          "lsh_mp" -> lshMultiprobePairs(s, d),
          "sq8" -> sq8Pairs(s, d, 3),
          "ivf_sq8" -> ivfSq8Pairs(s, d, 3),
          "pq" -> pqPairs(s, d, 3, pqFixedCodebook(s, d)),
          "pq_trained" -> pqPairs(s, d, 3, pqTrainedCodebook(s, d)),
          "ivf_pq" -> ivfPqPairs(s, d, 3))
        methods.map { case (nm, pairs) =>
          val hits = gt
            .join(topKPerProbe(pairs, 3).select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"))
            .groupBy("query_id").agg(count(lit(1)).as("hits"))
          probes.join(hits, Seq("query_id"), "left")
            .select(col("query_id"), lit(nm).as("method"),
              coalesce(col("hits"), lit(0L)).as("hits"), lit(3).as("k"))
        }.reduce(_ unionByName _)
      },
      Some(s"""
        WITH gt AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(bruteCtesSql, 3)})),
        probes AS (SELECT DISTINCT query_id FROM gt),
        m_ivf AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(ivfFixedCtesSql, 3)})),
        m_ivt AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(ivfTrainedCtesSql, 3)})),
        m_lsh AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(lshCtesSql, 3)})),
        m_lmp AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(lshMultiprobeCtesSql, 3)})),
        m_sq8 AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(sq8CtesSql(3), 3)})),
        m_isq AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(ivfSq8CtesSql(3), 3)})),
        m_pq AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(pqCtesSql(3), 3)})),
        m_pqt AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(pqTrainedCtesSql(3), 3)})),
        m_ipq AS (
          SELECT query_id, neighbor_id FROM (${annSelectSql(ivfPqCtesSql(3), 3)})),
        h_ivf AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_ivf t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_ivt AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_ivt t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_lsh AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_lsh t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_lmp AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_lmp t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_sq8 AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_sq8 t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_isq AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_isq t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_pq AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_pq t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_pqt AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_pqt t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id),
        h_ipq AS (
          SELECT g.query_id, count(*) AS hits FROM gt g
          JOIN m_ipq t ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
          GROUP BY g.query_id)
        SELECT p.query_id, 'ivf' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_ivf h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'ivf_trained' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_ivt h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'lsh' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_lsh h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'lsh_mp' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_lmp h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'sq8' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_sq8 h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'ivf_sq8' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_isq h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'pq' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_pq h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'pq_trained' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_pqt h USING (query_id)
        UNION ALL
        SELECT p.query_id, 'ivf_pq' AS method,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, 3 AS k
        FROM probes p LEFT JOIN h_ipq h USING (query_id)""")),

    // ───── per-label covariance statistics (r10): variance trace and
    // the max-variance dimension per class label — the feature-quality
    // report a training pipeline runs per slice (a collapsing trace =
    // mode collapse in that class's embeddings; a single dominating
    // dimension = a degenerate feature). The distributed stage is the
    // mergeable [[graft.functions.CovSumsAgg]] under a groupBy — ONE
    // buffer per (partition, label), proving the aggregate's
    // re-aggregation algebra under the oracle (the global form is
    // ann_pca_project's engine). Exact integers via the centering
    // identity; per-label output stays d+1 sums wide here (the
    // diagonal), so the oracle replays only Σx and Σx² per dim.
    QuerySpec(
      "agg_label_covariance",
      (s, d) => {
        val dim = 64
        val cov = udaf(new graft.functions.CovSumsAgg(dim),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
        val sums = graft.Tables.embeddings(s, d)
          .select(col("label"),
            expr("transform(embedding, x -> cast(floor(cast(x as double) * 100) as bigint) + 100L)")
              .as("qs"))
          .groupBy("label").agg(cov(col("qs")).as("s"))
        // variance of dim i in exact integer form: with mu = sx div n,
        // var_i = (sxx − 2·mu·sx + n·mu²) div n — the 1-D centering
        // identity; trace = Σ var_i, argmax tie-breaks to the lowest i.
        // Buffer layout: diag(i) sits at 1 + dim + offset(i, i).
        val diagIdx = (0 until dim).map(i =>
          1 + dim + (0 until i).map(r => dim - r).sum)
        val varExpr = (i: Int) => {
          val (sx, sxx) = (s"s[${1 + i}]", s"s[${diagIdx(i)}]")
          s"""element_at(transform(array($sx div s[0]), mu ->
              ($sxx - 2 * mu * $sx + s[0] * mu * mu) div s[0]), 1)"""
        }
        val vars = (0 until dim).map(i => s"(${varExpr(i)})")
          .mkString("array(", ", ", ")")
        sums
          .withColumn("v", expr(vars))
          .select(col("label"), col("s")(0).as("n_vecs"),
            expr("aggregate(v, 0L, (a, x) -> a + x)").as("var_trace"),
            expr("array_position(v, array_max(v)) - 1").as("top_var_dim"),
            expr("array_max(v)").as("top_var"))
      },
      Some("""
        WITH sq AS (
          SELECT label, i.i AS i,
                 CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 100) AS BIGINT)
                   + 100 AS x
          FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i),
        st AS (
          SELECT label, i, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM sq GROUP BY 1, 2),
        vr AS (
          SELECT label, i, n,
                 (sxx - 2 * (sx // n) * sx + n * (sx // n) * (sx // n)) // n
                   AS v
          FROM st)
        SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
               CAST(SUM(v) AS BIGINT) AS var_trace,
               CAST(MIN(CASE WHEN v = mv THEN i END) AS BIGINT) AS top_var_dim,
               CAST(MAX(mv) AS BIGINT) AS top_var
        FROM (SELECT *, MAX(v) OVER (PARTITION BY label) AS mv FROM vr)
        GROUP BY label""")),

    // ───── PCA projection onto the dominant principal component (r10):
    // the dimensionality-REDUCTION primitive next to the sign-hash
    // tier (random projection preserves distances obliviously; PCA
    // finds the direction the corpus actually varies in — the axis a
    // drift monitor watches and the first stage of a whitening
    // pipeline). Fully deterministic and engine-exact end-to-end:
    // (1) the DISTRIBUTED part — the d×d covariance from exact integer
    // sufficient sums over the shared centi-quantized vectors, shifted
    // non-negative so every integer div has non-negative operands
    // (floor ≡ truncate; covariance is shift-invariant): one map-side
    // d(d+1)/2 pair-explode per row + one hash-agg, no join, no
    // per-iteration scan of the corpus — at 100 TB this is ONE pass
    // producing a constant 2 080-row table (sufficient-sums scaling:
    // sxy ≤ n·x², safely under 2⁶³ at 10¹⁰ rows);
    // (2) the DRIVER part — 20 integer power-iteration rounds on the
    // collected d×d matrix (a constant-size pull, the k-means
    // centroid class), rescaling by max|w| div 10⁶ each round with
    // sign-safe division, sign fixed by the largest-|component|
    // (min-index tiebreak) — the oracle replays all 20 rounds as
    // unrolled CTEs over the same integers, so the eigenvector, not
    // just the sums, is hash-gated;
    // (3) per-row projection = ⟨qv, v⟩ exact integer dot.
    QuerySpec(
      "ann_pca_project",
      (s, d) => {
        val base = Corpus.quantizedVectors(s, d)
        val v = Pca.dominantAxis(Pca.shifted(base), 64)
        graft.Tables.embeddings(s, d).select(col("vec_id"), col("label"))
          .join(base.select("vec_id", "qv"), "vec_id")
          .select(col("vec_id"), col("label"), Pca.projection(v).as("proj"))
      },
      Some {
        val iters = (1 to 20).map { k =>
          s"""
        w$k AS MATERIALIZED (SELECT m.i, CAST(SUM(m.c * v.x) AS BIGINT) AS w
                FROM m JOIN v${k - 1} v ON v.i = m.j GROUP BY 1),
        s$k AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)) // 1000000, 1) AS s FROM w$k),
        v$k AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -((-w) // s)
                               ELSE w // s END AS x FROM w$k, s$k)"""
        }.mkString(",")
        s"""
        WITH base AS MATERIALIZED (${Corpus.quantizedVectorsSql}),
        sq AS MATERIALIZED (
          SELECT vec_id, i.i AS i, qv[i.i + 1] + 100 AS x
          FROM base, (SELECT unnest(range(0, 64)) AS i) i),
        nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM base),
        mu AS MATERIALIZED (SELECT i, CAST(SUM(x) AS BIGINT) // n AS mu
               FROM sq, nn GROUP BY i, n),
        cs AS MATERIALIZED (
          SELECT s.vec_id, s.i, s.x - m.mu AS c
          FROM sq s JOIN mu m ON m.i = s.i),
        prods AS MATERIALIZED (
          SELECT a.i AS i, b.i AS j, CAST(SUM(a.c * b.c) AS BIGINT) AS sxy
          FROM cs a JOIN cs b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2),
        mup AS MATERIALIZED (
          SELECT i, j, CASE WHEN sxy < 0 THEN -((-sxy) // n)
                            ELSE sxy // n END AS c
          FROM prods, nn),
        m AS MATERIALIZED (SELECT i, j, c FROM mup
              UNION ALL SELECT j AS i, i AS j, c FROM mup WHERE i < j),
        v0 AS MATERIALIZED (SELECT unnest(range(0, 64)) AS i, 1000000::BIGINT AS x),$iters,
        sgn AS (SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS g
                FROM v20 ORDER BY ABS(x) DESC, i LIMIT 1),
        varr AS (SELECT list(x * g ORDER BY i) AS va FROM v20, sgn)
        SELECT b.vec_id, e.label,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> b.qv[i] * varr.va[i])) AS BIGINT) AS proj
        FROM base b JOIN embeddings e ON e.vec_id = b.vec_id, varr"""
      }),

    // ───── nprobe tuning sweep (r13): THE operational curve every IVF
    // deployment reads before picking its recall/cost point — recall@3
    // and candidates-scored at nprobe ∈ {1, 2, 4} over the SAME trained
    // index (one k-means train, one assignment; only the probe-cell
    // slice varies). Cost is explicit in the output: candidates_total
    // IS the scan work (the ann_beam_search `scanned` discipline), so
    // the row set is the measured trade-off, not prose. Train/assign
    // CTEs are shared once in the oracle (MATERIALIZED) across the
    // three sweep arms; everything downstream of the cell join is
    // bounded per probe.
    QuerySpec(
      "ann_nprobe_sweep",
      (s, d) => {
        val gt = topKPerProbe(brutePairs(s, d), 3)
          .select("query_id", "neighbor_id")
        val probes = gt.select("query_id").distinct()
        Seq(1, 2, 4).map { np =>
          val pairs = ivfTrainedPairsN(s, d, np)
          val cand = pairs.groupBy("query_id").agg(count(lit(1)).as("cand"))
          val hits = gt.join(
              topKPerProbe(pairs, 3).select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"))
            .groupBy("query_id").agg(count(lit(1)).as("hits"))
          probes
            .join(hits, Seq("query_id"), "left")
            .join(cand, Seq("query_id"), "left")
            .select(lit(np).as("nprobe"),
              coalesce(col("hits"), lit(0L)).as("hits"),
              coalesce(col("cand"), lit(0L)).as("cand"))
        }.reduce(_ unionByName _)
          .groupBy("nprobe")
          .agg(count(lit(1)).as("n_probes"),
            sum("hits").as("hits_total"),
            sum("cand").as("candidates_total"))
      },
      Some {
        val arms = Seq(1, 2, 4).map { np =>
          s"""
        pc_$np AS (
          SELECT vec_id AS query_id, qv AS q_qv, nn AS q_nn, cid AS c_id
          FROM rankedprobe WHERE rk <= $np),
        pairs_$np AS MATERIALIZED (
          SELECT q.query_id, v.vec_id AS vec_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> v.qv[i] * q.q_qv[i])) AS BIGINT) AS dot,
                 v.nn AS na, q.q_nn AS nb
          FROM assigned v JOIN pc_$np q
            ON v.c_id = q.c_id AND v.vec_id <> q.query_id),
        top_$np AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ${Corpus.scoreSql} DESC, vec_id) AS rk2
            FROM pairs_$np) WHERE rk2 <= 3),
        h_$np AS (
          SELECT g.query_id, COUNT(*) AS hits
          FROM gt g JOIN top_$np t
            ON t.query_id = g.query_id AND t.vec_id = g.neighbor_id
          GROUP BY 1),
        c_$np AS (
          SELECT query_id, COUNT(*) AS cand FROM pairs_$np GROUP BY 1)"""
        }.mkString(",")
        val unions = Seq(1, 2, 4).map { np =>
          s"""
        SELECT $np AS nprobe, COUNT(*) AS n_probes,
               CAST(SUM(COALESCE(h.hits, 0)) AS BIGINT) AS hits_total,
               CAST(SUM(COALESCE(c.cand, 0)) AS BIGINT) AS candidates_total
        FROM probes p
        LEFT JOIN h_$np h ON h.query_id = p.query_id
        LEFT JOIN c_$np c ON c.query_id = p.query_id"""
        }.mkString("\n        UNION ALL")
        s"""
        WITH base AS (${Corpus.quantizedVectorsSql}),${
          kmeansSqlCtes(TrainedK, TrainedIters)},
        csc AS MATERIALIZED (
          SELECT b.vec_id, b.qv, b.nn, c.cid,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN cents$TrainedIters c),
        assigned AS MATERIALIZED (
          SELECT vec_id, qv, nn, cid AS c_id FROM (
            SELECT vec_id, qv, nn, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM csc) WHERE rk = 1),
        rankedprobe AS MATERIALIZED (
          SELECT vec_id, qv, nn, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
          FROM csc WHERE vec_id < 10),
        gt AS (
          SELECT query_id, neighbor_id
          FROM (${annSelectSql(bruteCtesSql, 3)})),
        probes AS (SELECT DISTINCT query_id FROM gt),$arms
        $unions"""
      }),

    // ───── Simplified silhouette (r14): per-vector clustering-quality
    // readout complementing ann_kmeans_elbow's corpus-level inertia —
    // s = (b − a)/max(a, b) with a = distance to the OWN centroid and
    // b = distance to the NEAREST OTHER (the "simplified" variant:
    // centroid distances, not all-pairs — the only form that scales,
    // and the reason this is computable as |corpus|×k rows instead of
    // |corpus|²). All distances are exact integers (1e6 − signed-cos²
    // ppm via DECIMAL/HUGEINT truncating div), and the own/nearest
    // pick uses the (distance ASC, cid ASC) total order INSIDE a
    // k-bounded per-vector window (8 rows per partition — bounded by
    // k, never by data). Output: s-band histogram (200k-ppm bands,
    // s ∈ [−1e6, 1e6]) with vector checksums; well-clustered corpora
    // mass in the high bands.
    QuerySpec(
      "ann_silhouette",
      (s, d) => {
        val vecs = Corpus.quantizedVectors(s, d).select("vec_id", "qv", "nn")
        val cents = Clustering.kmeansSpherical(s, vecs, k = 8, iters = 2)
        val cdf = s.createDataFrame(cents.map { case (cid, cv, cnn) =>
          (cid, cv.toSeq, cnn) }).toDF("cid", "cv", "cnn")
        val scored = vecs.crossJoin(broadcast(cdf))
          .select(col("vec_id"), col("cid"),
            Corpus.dotCol("qv", "cv").as("dot"),
            col("nn").as("na"), col("cnn").as("nb"))
          .select(col("vec_id"), col("cid"), expr(
            """1000000 - cast(
                 (case when dot >= 0 then 1 else -1 end) *
                 ((cast(dot as decimal(38,0)) * dot * 1000000)
                    div (cast(na as decimal(38,0)) * nb)) as bigint)""")
            .as("dist"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy("dist", "cid")
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 2)
          .groupBy("vec_id")
          .agg(min(when(col("rk") === 1, col("dist"))).as("a"),
            min(when(col("rk") === 2, col("dist"))).as("b"))
          .select(col("vec_id"),
            expr("(b - a) * 1000000 div greatest(a, b, 1L)").as("s_ppm"))
          .groupBy(expr("s_ppm div 200000").as("band"))
          .agg(count(lit(1)).as("n_vecs"), min("s_ppm").as("min_s"),
            max("s_ppm").as("max_s"), sum("vec_id").as("vec_sum"))
      },
      Some {
        s"""
        WITH base AS MATERIALIZED (${Corpus.quantizedVectorsSql}),${
          kmeansSqlCtes(8, 2, "sil_")},
        scored AS (
          SELECT vec_id, cid,
                 1000000 - CAST((CASE WHEN dot >= 0 THEN 1 ELSE -1 END)
                   * ((CAST(dot AS HUGEINT) * dot * 1000000)
                      // (CAST(na AS HUGEINT) * nb)) AS BIGINT) AS dist
          FROM (SELECT b.vec_id, c.cid,
                       CAST(list_sum(list_transform(range(1, 65),
                         i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                       b.nn AS na, c.cnn AS nb
                FROM base b CROSS JOIN sil_cents2 c)),
        ranked AS (
          SELECT vec_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist ASC, cid ASC) AS rk
          FROM scored),
        ab AS (
          SELECT vec_id,
                 MIN(CASE WHEN rk = 1 THEN dist END) AS a,
                 MIN(CASE WHEN rk = 2 THEN dist END) AS b
          FROM ranked WHERE rk <= 2 GROUP BY 1),
        sil AS (
          SELECT vec_id,
                 (b - a) * 1000000 // GREATEST(a, b, 1) AS s_ppm
          FROM ab)
        SELECT s_ppm // 200000 AS band, COUNT(*) AS n_vecs,
               CAST(MIN(s_ppm) AS BIGINT) AS min_s,
               CAST(MAX(s_ppm) AS BIGINT) AS max_s,
               CAST(SUM(vec_id) AS BIGINT) AS vec_sum
        FROM sil GROUP BY 1"""
      }),

    // ───── k-means ELBOW sweep (r14): inertia vs k — the model-selection
    // readout that turns the engine's k-means (V4, previously spec-only)
    // into an oracle-gated surface. For k ∈ {2,4,8}: two integer Lloyd
    // iterations ([[Clustering.kmeansSpherical]] — deterministic first-k
    // init, floor-mean updates, empty/degenerate carry-forward), then
    // every vector scores its winning cell and contributes spherical
    // inertia 1e6 − signed-cos²·1e6 (EXACT: dot²·1e6 div (na·nb) in
    // DECIMAL(38)/HUGEINT — the one rational, truncating identically;
    // the assignment argmax reuses the exactly-rounded double score with
    // the (score DESC, cid) total order). Per-k cost is one broadcast
    // centroid scan per iteration — O(n·k·d), no shuffle beyond the
    // floor-mean hash-agg; the oracle replays all three Lloyd chains as
    // prefixed unrolled CTEs (the kmeansSqlCtes discipline). Output:
    // 3 rows (k, n, inertia sum, cell checksums) — inertia must fall
    // as k grows, and the drop-off shape is the elbow.
    QuerySpec(
      "ann_kmeans_elbow",
      (s, d) => {
        val vecs = Corpus.quantizedVectors(s, d).select("vec_id", "qv", "nn")
        Seq(2, 4, 8).map { k =>
          val cents = Clustering.kmeansSpherical(s, vecs, k, iters = 2)
          val cdf = s.createDataFrame(cents.map { case (cid, cv, cnn) =>
            (cid, cv.toSeq, cnn) }).toDF("c_id", "cv", "cnn")
          assignToCentroids(vecs, cents)
            .join(broadcast(cdf), "c_id")
            .select(col("vec_id"), col("c_id"),
              Corpus.dotCol("qv", "cv").as("dot"),
              col("nn").as("na"), col("cnn").as("nb"))
            .select(col("vec_id"), col("c_id"), expr(
              """1000000 - cast(
                   (case when dot >= 0 then 1 else -1 end) *
                   ((cast(dot as decimal(38,0)) * dot * 1000000)
                      div (cast(na as decimal(38,0)) * nb)) as bigint)""")
              .as("inertia_ppm"))
            .groupBy(lit(k).as("k"))
            .agg(count(lit(1)).as("n_vecs"),
              sum("inertia_ppm").as("inertia_sum"),
              sum("c_id").as("cid_sum"),
              count_distinct(col("c_id")).as("n_cells"))
        }.reduce(_ unionByName _)
      },
      Some {
        val chains = Seq(2, 4, 8).map(k => kmeansSqlCtes(k, 2, s"e${k}_"))
          .mkString(",")
        val aggs = Seq(2, 4, 8).map { k =>
          val p = s"e${k}_"
          s"""
        ${p}fsc AS (
          SELECT b.vec_id, c.cid,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> b.qv[i] * c.cv[i])) AS BIGINT) AS dot,
                 b.nn AS na, c.cnn AS nb
          FROM base b CROSS JOIN ${p}cents2 c),
        ${p}win AS (
          SELECT vec_id, cid, dot, na, nb FROM (
            SELECT vec_id, cid, dot, na, nb,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ${Corpus.scoreSql} DESC, cid) AS rk
            FROM ${p}fsc) WHERE rk = 1),
        ${p}agg AS (
          SELECT $k AS k, COUNT(*) AS n_vecs,
                 CAST(SUM(1000000 - CAST((CASE WHEN dot >= 0 THEN 1 ELSE -1 END)
                   * ((CAST(dot AS HUGEINT) * dot * 1000000)
                      // (CAST(na AS HUGEINT) * nb)) AS BIGINT)) AS BIGINT)
                   AS inertia_sum,
                 CAST(SUM(cid) AS BIGINT) AS cid_sum,
                 CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_cells
          FROM ${p}win)"""
        }.mkString(",")
        s"""
        WITH base AS MATERIALIZED (${Corpus.quantizedVectorsSql}),$chains,$aggs
        SELECT * FROM e2_agg
        UNION ALL SELECT * FROM e4_agg
        UNION ALL SELECT * FROM e8_agg"""
      })
  )
}
