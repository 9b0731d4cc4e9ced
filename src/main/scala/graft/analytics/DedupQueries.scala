package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QuerySpec

/** Deduplication operator family over the `documents` / `embeddings`
  * corpora — the exact / near-dup surface a large-scale training-data
  * pipeline needs. The reference's only dedup is content-identity at the
  * queue (cdk/lib/cdk-stack.ts:48); everything beyond exact dedup is
  * north-star surface.
  *
  * Scale design, per operator:
  *  - exact: hash groupBy on content digest — one shuffle, map-side
  *    partial dedup, no O(n²) anywhere.
  *  - minhash_lsh: signatures are per-row map-only array expressions
  *    (no shuffle, codegen'd HOFs); the only shuffle is the band-bucket
  *    equi-join, whose buckets are tiny because the key is a 3-row minhash
  *    digest. Pairwise Jaccard runs ONLY on LSH candidates.
  *  - simhash: 32-bit signature, map-only; candidates via 4-byte banding
  *    (pigeonhole: hamming<=3 ⇒ at least one band equal, so banding is
  *    lossless for the threshold) — never an O(n²) cross join.
  *  - ngram_jaccard: the exact pairwise baseline, deliberately bounded to
  *    a fixed subset (doc_id<60 ∪ variants) — at scale this is the verify
  *    step applied to candidates, not a standalone full-corpus pass.
  *  - embed_cosine: near-dup pairs restricted to sign-LSH buckets; scoring
  *    uses exact integer dot/norms (Corpus.scoreSql).
  */
object DedupQueries {

  /** Universal-hash multipliers for the 12 minhash permutations:
    * h_p(x) = (A(p) * base(x)) & (2^40-1), base(x) = first 40 bits of
    * md5(x). One md5 per shingle instead of twelve — the md5 is the
    * expensive part — and the multiply-mask family keeps the permutations
    * independent enough for banding. All arithmetic stays below 2^60, so
    * both engines compute identical exact int64 values. Constants are
    * shared with the native signature expressions
    * (graft.functions.SignatureConstants) so Spark and the oracle agree
    * by construction.
    */
  private val minhashA = graft.functions.SignatureConstants.MinHashA
  private val mask40 = graft.functions.SignatureConstants.Mask40

  /** Distinct shingle-hash sets over the near-dup corpus — shared
    * (memoized per app+dir) by the minhash-LSH and decontamination
    * queries, which scan it from multiple join sides.
    */
  private def hsetsOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Corpus.cachedTimed(s, d, "minhash_hsets") {
      // fanOut the BUILD only: the shingle-hash construction otherwise
      // runs inside the one-task documents scan stage (Tables.fanOut —
      // identity at cluster scale). The PUBLISHED layout is re-keyed by
      // doc_id WITHOUT a pinned width (REPARTITION_BY_COL), so AQE sizes
      // it to the data: ~1 partition at test SF, shuffle-partition-wide
      // at cluster scale. r16 published the build's full 32-partition
      // fan-out and every sub-second consumer paid 32-task scheduling
      // per job (dedup_shingle_profile 0.26→0.53 s, curation_token_budget
      // 0.42→0.79, the VERDICT r16 regression cluster); the heavy
      // consumers that DO want width re-fan at their own site
      // (dedup_containment's explode). Measured r17 at sf0.1/32: the
      // cluster back to 0.21/0.44 s with containment held at 1.15 s.
      graft.Tables.fanOut(Corpus.docsWithNearDups(s, d))
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          graft.functions.SignatureFunctions.shingleHash40(
            graft.functions.TextHashFunctions.wordHash40(col("text"))).as("hs"))
        .repartition(col("doc_id"))
    }

  /** Oracle CTE: `hsets` (doc_id, hs) from a `corpus` CTE — the SQL mirror
    * of [[hsetsOf]]. Composable fragment shared by every oracle that
    * consumes shingle-hash sets, so the construction cannot drift between
    * queries.
    */
  private[analytics] val hsetsCte: String = s"""
        hsets AS (
          SELECT doc_id,
                 list_distinct([(ws[i] * 1000003 + ws[i+1] * 1500007 + ws[i+2] * 2000003)
                                & ${mask40} for i in range(1, len(ws) - 1)]) AS hs
          FROM (SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      w -> ('0x' || substr(md5(w), 1, 10))::BIGINT) AS ws
                FROM corpus
                WHERE len(string_split(text, ' ')) >= 3))"""

  /** Verified near-dup pairs (doc_a < doc_b, exact Jaccard >= 0.4) from
    * the MinHash+LSH pipeline — the candidate-generation + verify stages
    * shared by `dedup_minhash_lsh` (which reports them), `dedup_cluster`
    * (which connects them into components) and `curation_funnel` (which
    * drops the non-canonical side). Memoized per (app, dir): the pair set
    * is tiny (one row per verified near-dup), so caching it costs nothing
    * and saves the full signature pipeline on reuse.
    */
  private[analytics] def minhashPairs(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame =
    Corpus.cachedTimed(s, d, "minhash_pairs") {
      // The whole pipeline runs on NUMERIC shingle hashes: one md5 per
      // WORD (40 bits), a shingle hash combines three consecutive word
      // hashes with small multipliers (every product/sum stays under
      // 2^63 — both engines exact int64), and the candidate verify
      // computes Jaccard over the distinct hash sets. No per-shingle
      // string building or per-shingle md5 anywhere; collisions are
      // negligible and in any case identical across engines.
      val hsets = hsetsOf(s, d)
      // Native minhash12 (graft.functions.MinHash12): 12 running minima
      // in ONE compiled loop — the SQL aggregate/zip_with fold allocated
      // a 12-array and dispatched 12 interpreted lambdas per shingle.
      // Band keys (one md5 per band) stay in SQL; they're cheap. The
      // banding PLAN is corpus-size-derived (more rows per band as n²
      // random-collision pressure grows); the oracle derives the same
      // plan from the same count in SQL.
      val bands = bandsOf(s, d)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      cand
        .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
        .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
        .withColumn("jaccard", expr(
          "cast(size(array_intersect(hs_a, hs_b)) as double) / size(array_union(hs_a, hs_b))"))
        .filter(col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "jaccard")
    }

  /** The (doc_id, band, bkey) LSH band index — memoized because every
    * consumer scans it from at least one join side. Bands stay NARROW:
    * the 4-way explode and the bucket joins move ~40 bytes/row, not the
    * shingle sets. Banding PLAN is corpus-size-derived
    * ([[Corpus.minhashBandPlan]]); native minhash12 computes the 12
    * running minima in one compiled loop.
    */
  private[analytics] def bandsOf(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame = {
    val hsets = hsetsOf(s, d)
    val (nBands, rowsPerBand) = Corpus.minhashBandPlan(Corpus.corpusDocCount(s, d))
    val bkeys = hsets
      .select(col("doc_id"),
        graft.functions.SignatureFunctions.minHash12(col("hs")).as("mh"))
      .select(col("doc_id"), Corpus.bandKeysExpr(nBands, rowsPerBand).as("bkeys"))
    Corpus.cachedTimed(s, d, "minhash_bands") {
      bkeys.select(col("doc_id"), posexplode(col("bkeys")).as(Seq("band", "bkey")))
    }
  }

  /** Oracle CTEs: signature → bands → candidates → verified `mpairs`
    * (doc_a, doc_b, jaccard) — the SQL mirror of [[minhashPairs]];
    * expects the `corpus` CTE and [[hsetsCte]] upstream.
    */
  private[analytics] val minhashPairsCtes: String = s"""
        mhplan AS (
          SELECT (${Corpus.minhashRowsSqlCase("n")}) AS rpb
          FROM (SELECT count(*) AS n FROM corpus)),
        sig AS (
          SELECT doc_id,
                 [CAST(list_min(list_transform(hs,
                    x -> (${minhashA.mkString("[", ", ", "]")}[p+1] * x) & ${mask40})) AS BIGINT)
                  for p in range(0, 12)] AS minhash
          FROM hsets),
        bands AS (
          SELECT doc_id, b.band,
                 md5(array_to_string(list_transform(
                     minhash[b.band * p.rpb + 1 : b.band * p.rpb + p.rpb],
                     x -> CAST(x AS VARCHAR)), '_')) AS bkey
          FROM sig, mhplan p,
               (SELECT unnest(range(0, 12 // (SELECT rpb FROM mhplan))) AS band) b),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        mpairs AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.hs, sb.hs))) AS jaccard
          FROM cand c
          JOIN hsets sa ON sa.doc_id = c.doc_a
          JOIN hsets sb ON sb.doc_id = c.doc_b
          WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.hs, sb.hs))) >= 0.4)"""

  /** Contaminated documents (>= 5 distinct shingles shared with the
    * doc_id % 97 blocklist) — shared by `dedup_decontaminate` and
    * `curation_funnel`. See the decontamination QuerySpec for the scale
    * argument (broadcast blocklist inventory, one hash-agg).
    */
  private[analytics] def contaminated(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame = {
    val docs = hsetsOf(s, d)
    val blockH = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(blockH), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 5)
  }

  /** Oracle CTEs: blocklist inventory → `contaminated` (doc_id,
    * n_overlap) — the SQL mirror of [[contaminated]]; expects the
    * `corpus` CTE and [[hsetsCte]] upstream.
    */
  private[analytics] val contaminatedCtes: String = """
        blockh AS (
          SELECT DISTINCT unnest(hs) AS h FROM hsets WHERE doc_id % 97 = 0),
        cside AS (
          SELECT doc_id, unnest(hs) AS h FROM hsets WHERE doc_id % 97 != 0),
        contaminated AS (
          SELECT c.doc_id, count(*) AS n_overlap
          FROM cside c JOIN blockh b ON c.h = b.h
          GROUP BY c.doc_id
          HAVING count(*) >= 5)"""

  /** Connected components of an undirected pair graph by iterative
    * min-label propagation: label(v) starts at v, each round takes the
    * min over the 1-hop neighborhood, fixpoint = one label per component
    * (its minimum vertex id — deterministic). Input: (doc_a, doc_b)
    * pairs; output: (doc_id, label) for every vertex that appears in a
    * pair.
    *
    * Each round is ONE equi-join + ONE hash-agg over the narrow (u, v)
    * edge list — nothing bigger than the edge list is ever materialized,
    * and the per-round `changed` count is a control-plane action like
    * k-means' distortion check ([[Clustering.kmeans]]), not a data
    * collect. Rounds needed = max graph distance from a component's
    * min-id vertex; near-dup components are stars/short chains
    * (diameter <= ~3). At billion-edge scale the same loop holds
    * (large-star/small-star would cut worst-case rounds to O(log n) if
    * deep chains ever appeared — the documented upgrade, same join
    * shape). Labels are localCheckpoint'd per round: eager, so `changed`
    * counts the materialized round, and lineage-truncating, so `rounds`
    * joins never stack into one plan.
    */
  def connectedComponents(pairs: org.apache.spark.sql.DataFrame,
                          maxRounds: Int = 25): org.apache.spark.sql.DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist()
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("v"), col("label").as("nbl")), "v")
        .groupBy("u").agg(min("nbl").as("nbl"))
        .select(col("u").as("doc_id"), col("nbl"))
      // LAZY checkpoint (r17): materialization rides the round's one
      // convergence count instead of paying a separate eager job per
      // round — lineage still truncates (the LSSS discipline); halves
      // the per-round job count for every caller (percolation sweep,
      // the Borůvka merge, the dedup components memo)
      val next = labels.as("o")
        .join(nbrMin.as("n"), "doc_id")
        .select(col("doc_id"),
          least(col("o.label"), col("n.nbl")).as("label"),
          (col("n.nbl") < col("o.label")).as("moved"))
        .localCheckpoint(false)
      changed = next.filter(col("moved")).count()
      labels = next.select("doc_id", "label")
      rounds += 1
    }
    edges.unpersist()
    require(changed == 0, s"label propagation did not converge in $rounds rounds")
    labels
  }

  /** Memoized component labels of the minhash near-dup graph — shared by
    * `dedup_cluster`, `dedup_cluster_stats`, and `split_grouped_holdout`,
    * each of which previously re-ran the full propagation loop.
    */
  private val components = new graft.SessionMemo[String, org.apache.spark.sql.DataFrame]

  /** Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) — the FOURTH
    * classical ER candidate strategy next to hash blocking
    * (dedup_fuzzy_names), the LSH band family, and sorted-neighborhood
    * (r14): group records into OVERLAPPING canopies with a CHEAP metric,
    * then run expensive comparison only within canopies. Cheap metric
    * here: Jaccard (exact ppm) over each document's RARE-SHINGLE set —
    * the existing shared shingle machinery ([[hsetsOf]]) restricted to
    * shingle hashes with df ∈ [2, 50] (the corpus-bounded inverted-index
    * discipline; df≥2 drops hapax shingles that can never generate a
    * pair, df≤50 caps bucket fan-out, so the cheap-pair stage is
    * equi-join-bounded at any corpus size, never doc×doc). Word-level
    * tokens were measured unusable on this corpus (nearly every word is
    * hapax or df>50 — 30 of 600 docs survived, recall 5%); rare shingles
    * give the discriminative middle band canopy needs.
    *
    * Canopy formation is the classical greedy: centers picked in doc_id
    * order among remaining points; picking c removes every point within
    * the TIGHT threshold of c from future center candidacy; membership
    * uses the LOOSE threshold over ALL points. Because the pick rule is
    * "minimum id among remaining", the center set equals the
    * lexicographically-first maximal independent set of the tight graph
    * — computed DISTRIBUTED as the standard fixpoint: a point becomes a
    * center when every smaller-id tight-neighbor is decided non-center,
    * and non-center when some smaller-id tight-neighbor is a center.
    * [[CanopyRounds]] rounds decide chains of length ≤ 2·rounds; the
    * residual `n_undecided` is REPORTED in the output (0 on this corpus
    * = converged, and the oracle computes the identical bounded unroll,
    * so a non-converged state would still gate equal). Rounds follow the
    * LSSS localCheckpoint discipline — each round's frames are
    * materialized, so lineage stays O(1) per round.
    *
    * Thresholds in similarity space: loose T1 = 0.20 (membership), tight
    * T2 = 0.50 (center suppression) — T2 > T1 as canopy requires (every
    * tight pair is also loose). Docs with zero rare tokens are singleton
    * canopies by definition and contribute no candidates (excluded from
    * the universe; counted in neither n_docs nor the pair stages).
    */
  private val CanopyLooseT = 200000L
  private val CanopyTightT = 500000L
  private val CanopyRounds = 4

  private[analytics] final case class CanopyFrames(
      docs: org.apache.spark.sql.DataFrame,
      centers: org.apache.spark.sql.DataFrame,
      undecided: org.apache.spark.sql.DataFrame,
      members: org.apache.spark.sql.DataFrame,
      candidates: org.apache.spark.sql.DataFrame)

  private val canopies = new graft.SessionMemo[String, CanopyFrames]

  private[analytics] def canopyOf(s: org.apache.spark.sql.SparkSession,
                                  d: String): CanopyFrames =
    canopies(s, d) {
      val toks = hsetsOf(s, d)
        .select(col("doc_id"), explode(col("hs")).as("tok"))
      val dfc = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val rare = toks.join(
        dfc.filter(col("df").between(2, 50)).select("tok"), "tok")
      val nt = rare.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        .localCheckpoint(true)
      val jac = rare.as("a").join(rare.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
        .agg(count(lit(1)).as("o"))
        .join(nt.select(col("doc_id").as("u"), col("nt").as("nu")), "u")
        .join(nt.select(col("doc_id").as("v"), col("nt").as("nv")), "v")
        .select(col("u"), col("v"),
          expr("o * 1000000 div (nu + nv - o)").as("jac_ppm"))
        .localCheckpoint(true)
      val loose = jac.filter(col("jac_ppm") >= CanopyLooseT).select("u", "v")
      val tight = jac.filter(col("jac_ppm") >= CanopyTightT).select("u", "v")
      var u = nt.select("doc_id")
      var c = u.filter(lit(false))
      for (_ <- 1 to CanopyRounds) {
        val blockers = u.unionByName(c)
        val blocked = tight
          .join(blockers.withColumnRenamed("doc_id", "u"), "u")
          .select(col("v").as("doc_id")).distinct()
        val newC = u.join(blocked, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        c = c.unionByName(newC).localCheckpoint(true)
        val killed = tight.join(c.withColumnRenamed("doc_id", "u"), "u")
          .select(col("v").as("doc_id")).distinct()
        u = u.join(newC, Seq("doc_id"), "left_anti")
          .join(killed, Seq("doc_id"), "left_anti").localCheckpoint(true)
      }
      val members = loose.join(c.withColumnRenamed("doc_id", "u"), "u")
          .select(col("u").as("c"), col("v").as("p"))
        .unionByName(loose.join(c.withColumnRenamed("doc_id", "v"), "v")
          .select(col("v").as("c"), col("u").as("p")))
        .unionByName(c.select(col("doc_id").as("c"), col("doc_id").as("p")))
        .distinct().localCheckpoint(true)
      val cand = members.as("m1").join(members.as("m2"),
          col("m1.c") === col("m2.c") && col("m1.p") < col("m2.p"))
        .select(col("m1.p").as("doc_a"), col("m2.p").as("doc_b"))
        .distinct().localCheckpoint(true)
      CanopyFrames(nt, c, u, members, cand)
    }

  /** Oracle CTE chain mirroring [[canopyOf]] — expects the `corpus` CTE
    * upstream; yields `cnt` (doc universe), `ccent` (centers), `cu4`
    * (undecided residue), `cmem` (canopy membership), `ccand`
    * (candidate pairs). The MIS rounds are the same bounded unroll,
    * MATERIALIZED per round (the graph_hits discipline).
    */
  private[analytics] val canopyCtes: String = {
    val rounds = (1 to CanopyRounds).map { k =>
      val prevU = s"cu${k - 1}"
      val prevCs = (1 until k).map(i => s"cc$i")
      // round k centers: p ∈ U with no smaller tight-neighbor still in
      // U ∪ C (round 1: every tight endpoint is in u0, so the blocker
      // test degenerates to "no smaller neighbor at all")
      val blockerCond =
        if (k == 1) ""
        else (Seq(prevU) ++ prevCs)
          .map(t => s"t.u IN (SELECT doc_id FROM $t)")
          .mkString(" AND (", " OR ", ")")
      val killCond = (prevCs :+ s"cc$k")
        .map(t => s"t.u IN (SELECT doc_id FROM $t)")
        .mkString("(", " OR ", ")")
      s"""
        cc$k AS MATERIALIZED (
          SELECT doc_id FROM $prevU p
          WHERE NOT EXISTS (SELECT 1 FROM ctight t
                            WHERE t.v = p.doc_id$blockerCond)),
        cu$k AS MATERIALIZED (
          SELECT doc_id FROM $prevU p
          WHERE doc_id NOT IN (SELECT doc_id FROM cc$k)
            AND NOT EXISTS (SELECT 1 FROM ctight t
                            WHERE t.v = p.doc_id AND $killCond))"""
    }.mkString(",")
    val centUnion = (1 to CanopyRounds)
      .map(k => s"SELECT doc_id FROM cc$k").mkString(" UNION ALL ")
    s"""
        ctoks AS MATERIALIZED (
          SELECT doc_id, unnest(hs) AS tok FROM hsets),
        cdf AS (SELECT tok, COUNT(*) AS df FROM ctoks GROUP BY 1),
        crare AS MATERIALIZED (
          SELECT t.doc_id, t.tok FROM ctoks t JOIN cdf f ON f.tok = t.tok
          WHERE f.df BETWEEN 2 AND 50),
        cnt AS MATERIALIZED (
          SELECT doc_id, COUNT(*) AS nt FROM crare GROUP BY 1),
        cjac AS MATERIALIZED (
          SELECT p.u, p.v,
                 CAST(p.o * 1000000 // (nu.nt + nv.nt - p.o) AS BIGINT)
                   AS jac_ppm
          FROM (SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS o
                FROM crare a JOIN crare b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2) p
          JOIN cnt nu ON nu.doc_id = p.u
          JOIN cnt nv ON nv.doc_id = p.v),
        cloose AS MATERIALIZED (
          SELECT u, v FROM cjac WHERE jac_ppm >= $CanopyLooseT),
        ctight AS MATERIALIZED (
          SELECT u, v FROM cjac WHERE jac_ppm >= $CanopyTightT),
        cu0 AS MATERIALIZED (SELECT doc_id FROM cnt),$rounds,
        ccent AS MATERIALIZED ($centUnion),
        cmem AS MATERIALIZED (
          SELECT DISTINCT c, p FROM (
            SELECT l.u AS c, l.v AS p
            FROM cloose l JOIN ccent ct ON ct.doc_id = l.u
            UNION ALL
            SELECT l.v AS c, l.u AS p
            FROM cloose l JOIN ccent ct ON ct.doc_id = l.v
            UNION ALL
            SELECT doc_id AS c, doc_id AS p FROM ccent)),
        ccand AS MATERIALIZED (
          SELECT DISTINCT m1.p AS doc_a, m2.p AS doc_b
          FROM cmem m1 JOIN cmem m2 ON m1.c = m2.c AND m1.p < m2.p)"""
  }

  /** Planted near-dup ground-truth pairs (original, trimmed variant) —
    * the corpus construction's own dup injections, shared by the canopy
    * recall readout and the cross-strategy comparison. */
  private def plantedPairs(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0 && size(split(col("text"), " ")) > 6)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + Corpus.VariantOffset).as("doc_b"))

  private val plantedCte: String = s"""
        planted AS MATERIALIZED (
          SELECT doc_id AS doc_a, doc_id + ${Corpus.VariantOffset} AS doc_b
          FROM documents
          WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) > 6)"""

  private[analytics] def componentsOf(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame =
    // timed → the bench "artifacts" block (the LPA loop's cost escapes
    // every min-over-passes slot once warm)
    components(s, d)(graft.MemoTimings.timed(s.sparkContext.applicationId,
      "dedupComponents")(connectedComponents(minhashPairs(s, d))))

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the O(log n)-round upgrade documented on
    * [[connectedComponents]]: min-label propagation needs rounds equal
    * to the max distance from each component's min-id vertex (a
    * diameter-d chain takes d rounds), while the star operations HALVE
    * path structure every round, so deep chains converge
    * logarithmically. Each round is two (groupBy-min + equi-join)
    * passes over the canonical edge list — the identical join shape and
    * size discipline as propagation, just fewer rounds.
    *
    * large-star: for each u with neighborhood Γ(u), m = min(Γ(u) ∪ {u});
    * re-point every GREATER neighbor at m — emit (m, v) for v ∈ Γ(u),
    * v > u. small-star (on the canonically a<b oriented list): for each
    * node its smaller-neighbor set N = {a : (a,b) ∈ E}, m = min(N);
    * collapse the whole set onto m — emit (m, b) and (m, a) for a ∈ N,
    * a ≠ m. The fixpoint is a star per component rooted at its min id;
    * stability is checked EXACTLY (set equality via count + exceptAll —
    * control-plane counts, like propagation's `changed`), never by
    * checksum. Returns (labels, rounds) so callers can assert the
    * logarithmic round bound.
    */
  def connectedComponentsLSSS(pairs: org.apache.spark.sql.DataFrame,
                              maxRounds: Int = 40)
      : (org.apache.spark.sql.DataFrame, Int) = {
    // LAZY localCheckpoints throughout: lineage still truncates (no
    // cross-round plan growth) but materialization rides the round's one
    // counting action instead of paying an eager job per checkpoint —
    // the deep-chain graphs run ~6 rounds of TINY per-round work at
    // bench scale, so the engine's cost there is job COUNT, not data.
    var e = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(false)
    var c0 = e.count()
    var sa0 = -1L; var sb0 = -1L // sums unknown pre-round-1: never a candidate
    val nodes = e.select(col("a").as("doc_id"))
      .unionAll(e.select(col("b").as("doc_id"))).distinct()
    var rounds = 0
    var stable = c0 == 0L
    while (!stable && rounds < maxRounds) {
      // large-star over the symmetrized view
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // no mid-round distinct: large-star/small-star are multiset-correct
      // and only the deduplicated ss feeds the convergence counting —
      // the distinct here cost a full extra shuffle stage per round
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("x"), col("v").as("y"))
        .filter(col("x") =!= col("y"))
        .localCheckpoint(false)
      // small-star on the (x < y) oriented result
      val sm = ls.groupBy("y").agg(min("x").as("m"))
      val ss = ls.join(sm, "y")
        .select(col("m").as("a"), col("x").as("b"))
        .filter(col("a") =!= col("b"))
        .unionAll(sm.select(col("m").as("a"), col("y").as("b")))
        .distinct()
        .localCheckpoint(false)
      // ONE action per shrinking round: count + id-checksums together
      // (materializes ls and ss through their lazy checkpoints). A
      // round is a fixpoint CANDIDATE only when count and both sums
      // match the previous round; only then does the exact set-equality
      // confirm run (both sets distinct + equal count ⟹ |e ∪ ss| = c0
      // ⟺ EQUAL) — deep-chain graphs keep a constant edge COUNT while
      // still restructuring, so counting alone would probe every round
      val st = ss.agg(count(lit(1)), sum("a"), sum("b")).collect()(0)
      val (c1, sa1, sb1) = (st.getLong(0),
        if (st.isNullAt(1)) 0L else st.getLong(1),
        if (st.isNullAt(2)) 0L else st.getLong(2))
      stable = c0 == c1 && sa0 == sa1 && sb0 == sb1 &&
        e.unionAll(ss).distinct().count() == c0
      e = ss
      c0 = c1; sa0 = sa1; sb0 = sb1
      rounds += 1
    }
    require(stable, s"large-star/small-star did not converge in $rounds rounds")
    // fixpoint edges are (component-min, member) stars; roots label themselves
    val lab = e.groupBy("b").agg(min("a").as("lbl"))
      .select(col("b").as("doc_id"), col("lbl"))
    val labels = nodes.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
    (labels, rounds)
  }

  /** Per-document curation verdict over the near-dup corpus —
    * (doc_id, text, verdict) with the fixed priority chain (near_dup >
    * blocklist > contaminated > non_english > too_short > low_quality >
    * keep). The shared stage under `curation_funnel` (the per-verdict
    * report) and `pipeline_end_to_end` (which packs only the keepers).
    */
  private[analytics] def curationVerdicts(s: org.apache.spark.sql.SparkSession,
                                          d: String): org.apache.spark.sql.DataFrame = {
    val stopCnt = TextQueries.markerCountExpr(TextQueries.markers("en"))
    val dups = minhashPairs(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val cont = contaminated(s, d)
      .select(col("doc_id")).withColumn("is_cont", lit(true))
    val langs = graft.Tables.documents(s, d)
      .select(col("doc_id").as("orig_id"), col("lang"))
    Corpus.docsWithNearDups(s, d)
      .withColumn("orig_id", col("doc_id") % Corpus.VariantOffset)
      .join(langs, "orig_id")
      .join(broadcast(dups), Seq("doc_id"), "left")
      .join(broadcast(cont), Seq("doc_id"), "left")
      .withColumn("verdict", expr(
        s"""case when is_dup then 'near_dup'
                 when doc_id % 97 = 0 then 'blocklist'
                 when is_cont then 'contaminated'
                 when lang != 'en' then 'non_english'
                 when size(split(text, ' ')) < 10 then 'too_short'
                 when cast($stopCnt as double) / size(split(text, ' ')) > 0.25
                   or cast(size(array_distinct(split(text, ' '))) as double)
                        / size(split(text, ' ')) < 0.2 then 'low_quality'
                 else 'keep' end"""))
      .select("doc_id", "text", "verdict")
  }

  /** Oracle CTE chain ending in `verdicts` (doc_id, text, verdict) — the
    * SQL mirror of [[curationVerdicts]], self-contained (includes corpus,
    * hsets, pair, and contamination CTEs).
    */
  private[analytics] def curationVerdictsCtes: String = s"""
        corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        $contaminatedCtes,
        dups AS (SELECT DISTINCT doc_b AS doc_id FROM mpairs),
        langs AS (SELECT doc_id AS orig_id, lang FROM documents),
        verdicts AS (
          SELECT c.doc_id, c.text,
                 CASE WHEN dp.doc_id IS NOT NULL THEN 'near_dup'
                      WHEN c.doc_id % 97 = 0 THEN 'blocklist'
                      WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                      WHEN l.lang != 'en' THEN 'non_english'
                      WHEN len(string_split(c.text, ' ')) < 10 THEN 'too_short'
                      WHEN CAST(${TextQueries.markerCountSql(TextQueries.markers("en"), "c.text")}
                             AS DOUBLE) / len(string_split(c.text, ' ')) > 0.25
                        OR CAST(len(list_distinct(string_split(c.text, ' '))) AS DOUBLE)
                             / len(string_split(c.text, ' ')) < 0.2 THEN 'low_quality'
                      ELSE 'keep' END AS verdict
          FROM corpus c
          JOIN langs l ON l.orig_id = c.doc_id % ${Corpus.VariantOffset}
          LEFT JOIN dups dp ON dp.doc_id = c.doc_id
          LEFT JOIN contaminated ct ON ct.doc_id = c.doc_id)"""

  val all: Seq[QuerySpec] = Seq(

    // ───── exact dedup: content-digest groupBy (map-side combine; the
    // SQS content-dedup semantic lifted to corpus scale)
    QuerySpec(
      "dedup_exact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val withDups = docs.unionAll(docs.filter(col("doc_id") % 3 === 0))
        withDups
          .dropDuplicates() // full-row identity == digest identity here
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""
        SELECT lang, source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT DISTINCT * FROM (
          SELECT * FROM documents
          UNION ALL SELECT * FROM documents WHERE doc_id % 3 = 0))
        GROUP BY lang, source""")),

    // ───── MinHash + LSH near-dup: 12 minhashes (4 bands × 3 rows),
    // band-bucket join for candidates, exact Jaccard >= 0.4 verify
    QuerySpec(
      "dedup_minhash_lsh",
      (s, d) => minhashPairs(s, d),
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes
        SELECT doc_a, doc_b, jaccard FROM mpairs""")),

    // ───── cross-SOURCE duplication overlap matrix: the verified
    // near-dup pairs rolled up by (source, source) — the contamination
    // map a multi-source corpus curator reads before setting mix
    // weights ("how much of source B is already inside source A?";
    // e.g. a web crawl vs a curated encyclopedia slice). Reuses the
    // memoized [[minhashPairs]] — the expensive signature pipeline runs
    // once per session — plus two source-lookup joins (variant ids map
    // to their original's source via mod VariantOffset, exact in both
    // engines). Source pairs normalize (least, greatest) so the matrix
    // is upper-triangular; jaccard mass reported as the exact-integer
    // ppm sum of identically-rounded doubles.
    QuerySpec(
      "dedup_source_overlap",
      (s, d) => {
        val src = graft.Tables.documents(s, d).select("doc_id", "source")
        minhashPairs(s, d)
          .withColumn("oa", expr(s"doc_a % ${Corpus.VariantOffset}L"))
          .withColumn("ob", expr(s"doc_b % ${Corpus.VariantOffset}L"))
          .join(src.select(col("doc_id").as("oa"), col("source").as("sa")),
            "oa")
          .join(src.select(col("doc_id").as("ob"), col("source").as("sb")),
            "ob")
          .groupBy(least(col("sa"), col("sb")).as("source_x"),
            greatest(col("sa"), col("sb")).as("source_y"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr("cast(round(jaccard * 1000000) as bigint)"))
              .as("jac_ppm_sum"),
            min(col("doc_a")).as("min_doc_a"),
            sum(col("doc_a") + col("doc_b")).as("id_sum"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        srcp AS (
          SELECT p.doc_a, p.doc_b, p.jaccard, da.source AS sa, db.source AS sb
          FROM mpairs p
          JOIN documents da ON da.doc_id = p.doc_a % ${Corpus.VariantOffset}
          JOIN documents db ON db.doc_id = p.doc_b % ${Corpus.VariantOffset})
        SELECT LEAST(sa, sb) AS source_x, GREATEST(sa, sb) AS source_y,
               COUNT(*) AS n_pairs,
               CAST(SUM(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
                 AS jac_ppm_sum,
               CAST(MIN(doc_a) AS BIGINT) AS min_doc_a,
               CAST(SUM(doc_a + doc_b) AS BIGINT) AS id_sum
        FROM srcp GROUP BY 1, 2""")),

    // ───── dedup RECALL evaluation against KNOWN ground truth — the
    // ann_recall of the dedup family: the injected variants (doc_id %
    // 5 = 0, > 6 tokens → a trimmed copy at id + VariantOffset) are a
    // labeled near-dup set, so the pipeline's recall is measurable,
    // not asserted. Reports: planted pair count, recovered count
    // (planted pairs present in the verified LSH output), recall in
    // ppm, and the extra (non-planted) pair count — extras are NOT
    // false positives per se (organically similar docs verify at
    // jaccard ≥ 0.4 legitimately) but their volume is the knob-tuning
    // signal. Rides the memoized pair set; the planted side is one
    // filter over documents.
    QuerySpec(
      "dedup_recall_eval",
      (s, d) => {
        val off = Corpus.VariantOffset
        val planted = graft.Tables.documents(s, d)
          .filter(col("doc_id") % 5 === 0 &&
            size(split(col("text"), " ")) > 6)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + off).as("doc_b"))
        val pairs = minhashPairs(s, d).select("doc_a", "doc_b")
        val recovered = planted.join(pairs, Seq("doc_a", "doc_b"),
          "left_semi")
        val extras = pairs.join(planted, Seq("doc_a", "doc_b"),
          "left_anti")
        planted.agg(count(lit(1)).as("n_planted"))
          .crossJoin(recovered.agg(count(lit(1)).as("n_recovered")))
          .crossJoin(extras.agg(count(lit(1)).as("n_extra")))
          .select(col("n_planted"), col("n_recovered"),
            expr("n_recovered * 1000000 div n_planted").as("recall_ppm"),
            col("n_extra"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        planted AS (
          SELECT doc_id AS doc_a, doc_id + ${Corpus.VariantOffset} AS doc_b
          FROM documents
          WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) > 6),
        rec AS (
          SELECT p.doc_a FROM planted p
          JOIN mpairs m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b),
        extra AS (
          SELECT m.doc_a FROM mpairs m
          LEFT JOIN planted p ON p.doc_a = m.doc_a AND p.doc_b = m.doc_b
          WHERE p.doc_a IS NULL)
        SELECT (SELECT COUNT(*) FROM planted) AS n_planted,
               (SELECT COUNT(*) FROM rec) AS n_recovered,
               (SELECT COUNT(*) FROM rec) * 1000000
                 // (SELECT COUNT(*) FROM planted) AS recall_ppm,
               (SELECT COUNT(*) FROM extra) AS n_extra""")),

    // ───── near-dup CLUSTERING: connect the verified LSH pairs into
    // components and pick one canonical survivor per component — the step
    // that turns a pair list into an actionable keep/drop set (pairs alone
    // over-drop: {A~B, B~C} must keep exactly one of {A,B,C}, not drop
    // both B and C's partners independently).
    //
    // Algorithm: iterative min-label propagation over the pair graph —
    // label(v) starts at v, each round takes the min over the 1-hop
    // neighborhood, fixpoint = connected components with the component's
    // min doc_id as its id (deterministic; originals carry smaller ids
    // than variants by construction, so the canonical doc is always the
    // original). Each round is ONE equi-join + ONE hash-agg over the
    // (u, v) edge list — never materializes anything bigger than the edge
    // list itself. Rounds needed = max graph distance from a component's
    // min-id node; dup components are stars/short chains (diameter <= ~3),
    // and the loop stops the round after labels stop changing. At
    // billion-edge scale the same loop holds (edges are a narrow
    // shuffle-partitioned table; large-star/small-star would cut rounds
    // to O(log n) if deep chains ever appeared — documented trade).
    // Convergence is checked with one driver-side count per round — a
    // control-plane action like k-means' distortion check, not a data
    // collect ([[Clustering.kmeans]] sets the precedent).
    QuerySpec(
      "dedup_cluster",
      (s, d) => {
        val labels = componentsOf(s, d)
        val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
        labels.join(sizes, "label")
          .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"),
            (col("doc_id") === col("label")).as("is_canonical"))
      },
      Some(s"""
        WITH RECURSIVE corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM mpairs
          UNION
          SELECT doc_b AS u, doc_a AS v FROM mpairs),
        reach(src, dst) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
        comp AS (
          SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
        sizes AS (
          SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               (c.doc_id = c.cluster_id) AS is_canonical
        FROM comp c JOIN sizes s ON s.cluster_id = c.cluster_id""")),

    // ───── incremental dedup: a NEW batch of docs (the variants stand
    // in for today's crawl increment) checked against the EXISTING
    // corpus's band index — old×new band join only, never old×old, so
    // per-increment cost is O(|new| + matched buckets) instead of
    // re-deduping the corpus. THE production dedup shape: the band
    // index persists (memoized here, a table in production), each
    // increment probes it. Candidates then exact-verify exactly as the
    // full pipeline; the result is provably the old-new slice of the
    // full pair set, which is what the oracle selects.
    QuerySpec(
      "dedup_incremental",
      (s, d) => {
        val off = Corpus.VariantOffset
        val bands = bandsOf(s, d)
        val hsets = hsetsOf(s, d)
        val cand = bands.filter(col("doc_id") < off).as("a")
          .join(bands.filter(col("doc_id") >= off).as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .dropDuplicates()
        cand
          .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
          .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
          .withColumn("jaccard", expr(
            "cast(size(array_intersect(hs_a, hs_b)) as double) / size(array_union(hs_a, hs_b))"))
          .filter(col("jaccard") >= 0.4)
          .select("doc_a", "doc_b", "jaccard")
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes
        SELECT doc_a, doc_b, jaccard FROM mpairs
        WHERE doc_a < ${Corpus.VariantOffset} AND doc_b >= ${Corpus.VariantOffset}""")),

    // ───── incremental dedup against the PERSISTED band index (r11):
    // the production form of dedup_incremental — the existing corpus's
    // band index is a durable SnapshotStore target (built once,
    // maintained by BandIndexStore.ingestSink as crawls land), so the
    // daily increment probes stored (band, bkey) rows instead of
    // recomputing the corpus side's signatures. The banding plan is
    // FROZEN in the index meta (the quantizer-freeze discipline), the
    // increment bands under that frozen plan, and the old×new bucket
    // join + exact Jaccard verify are unchanged — provably the same
    // pair set as the in-query form, which is what the oracle selects.
    QuerySpec(
      "dedup_incremental_persisted",
      (s, d) => {
        val off = Corpus.VariantOffset
        val (metaT, bandsT) = BandIndexStore.ensureBuilt(s, d)
        val (nBands, rpb) = BandIndexStore.readMeta(s, metaT)
        val idx = BandIndexStore.readIndex(s, bandsT)
        val newBands = BandIndexStore.bandRows(
          Corpus.docsWithNearDups(s, d).filter(col("doc_id") >= off)
            .select("doc_id", "text"), nBands, rpb)
        val hsets = hsetsOf(s, d)
        val cand = idx.as("a")
          .join(newBands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .dropDuplicates()
        cand
          .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
          .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
          .withColumn("jaccard", expr(
            "cast(size(array_intersect(hs_a, hs_b)) as double) / size(array_union(hs_a, hs_b))"))
          .filter(col("jaccard") >= 0.4)
          .select("doc_a", "doc_b", "jaccard")
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes
        SELECT doc_a, doc_b, jaccard FROM mpairs
        WHERE doc_a < ${Corpus.VariantOffset} AND doc_b >= ${Corpus.VariantOffset}""")),

    // ───── incremental dedup, ESTIMATE-verified from the self-contained
    // index (r11): the companion to dedup_incremental_persisted for the
    // production case where the corpus side is NOT fetchable at verify
    // time — the index stores each doc's 12-slot MinHash signature next
    // to its band rows, and a candidate pair is scored by per-slot
    // agreement m/12 (the estimator dedup_minhash_estimate calibrates)
    // instead of exact Jaccard over shingle sets. Old×new band-bucket
    // equi-join → two signature point-joins → a 12-slot zip — no shingle
    // set ever leaves the increment. The oracle replays signature
    // agreement RELATIONALLY (positions unnested to rows, no lambda over
    // joined columns — the documented DuckDB list-lambda capture bug).
    QuerySpec(
      "dedup_incremental_estimate",
      (s, d) => {
        val off = Corpus.VariantOffset
        val (metaT, bandsT) = BandIndexStore.ensureBuilt(s, d)
        val sigsT = BandIndexStore.ensureSigsBuilt(s, d)
        val (nBands, rpb) = BandIndexStore.readMeta(s, metaT)
        val newDocs = Corpus.docsWithNearDups(s, d)
          .filter(col("doc_id") >= off).select("doc_id", "text")
        BandIndexStore.probePairs(s, newDocs, bandsT, sigsT, nBands, rpb)
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        icand AS (
          SELECT doc_a, doc_b FROM cand
          WHERE doc_a < ${Corpus.VariantOffset}
            AND doc_b >= ${Corpus.VariantOffset}),
        pairsig AS (
          SELECT c.doc_a, c.doc_b, sa.minhash AS ma, sb.minhash AS mb
          FROM icand c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b),
        slots AS (
          SELECT doc_a, doc_b,
                 CASE WHEN ma[p.p] = mb[p.p] THEN 1 ELSE 0 END AS eq
          FROM pairsig, (SELECT unnest(range(1, 13)) AS p) p),
        est AS (
          SELECT doc_a, doc_b, CAST(SUM(eq) AS BIGINT) AS m12
          FROM slots GROUP BY 1, 2)
        SELECT doc_a, doc_b, m12, m12 * 1000000 // 12 AS est_ppm
        FROM est""")),

    // ───── cluster-size histogram over the near-dup components — the
    // one-page dedup report: how many pairs, triples, N-way mirror
    // groups a corpus carries (the number that decides whether near-dup
    // removal is worth a pipeline stage, and the drift alarm when a
    // crawl change suddenly mints giant mirror clusters). One hash-agg
    // over the component labels (a tiny frame), then one over sizes.
    QuerySpec(
      "dedup_cluster_stats",
      (s, d) => {
        componentsOf(s, d)
          .groupBy("label").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      },
      Some(s"""
        WITH RECURSIVE corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM mpairs
          UNION
          SELECT doc_b AS u, doc_a AS v FROM mpairs),
        reach(src, dst) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
        comp AS (
          SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
        sizes AS (
          SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
        SELECT cluster_size, COUNT(*) AS n_clusters
        FROM sizes GROUP BY cluster_size""")),

    // ───── shingle-frequency profile: the log2-bucketed df histogram of
    // the shingle inventory — the profiling step BEHIND the derived LSH
    // parameters (banding and bucket width are chosen against exactly
    // this distribution, and a crawl change shows up here first as a
    // fattening hot tail). Bucket = length(bin(df)) = floor(log2)+1 in
    // PURE INTEGER form on both engines (float log2 disagrees at
    // power-of-two boundaries — the integer-oracle rule). One df
    // hash-agg + one histogram agg.
    QuerySpec(
      "dedup_shingle_profile",
      (s, d) => {
        hsetsOf(s, d)
          .select(explode(col("hs")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("df"))
          .groupBy(expr("cast(length(bin(df)) as int)").as("df_bucket"))
          .agg(count(lit(1)).as("n_shingles"),
            min(col("df")).as("min_df"), max(col("df")).as("max_df"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        dfh AS (SELECT h, COUNT(*) AS df
                FROM (SELECT doc_id, unnest(hs) AS h FROM hsets) GROUP BY h)
        SELECT CAST(len(bin(df)) AS INTEGER) AS df_bucket, COUNT(*) AS n_shingles,
               CAST(MIN(df) AS BIGINT) AS min_df, CAST(MAX(df) AS BIGINT) AS max_df
        FROM dfh GROUP BY 1""")),

    // ───── SimHash near-dup: 32-bit weighted signature over word bigrams,
    // 4-byte banding (lossless for hamming<=3), hamming verify.
    // The oracle brute-forces the same signatures pairwise — identical
    // result set, since banding has exact recall at this threshold.
    QuerySpec(
      "dedup_simhash",
      (s, d) => {
        // Signature PACKED into one BIGINT by the native simhash32
        // expression (graft.functions.SimHash32): word hashes from
        // word_hash40 (one md5 per word, compiled loop), then bigrams +
        // 32 bit-counters + pack in a second compiled loop. The SQL fold
        // this replaces allocated a 32-array per bigram; the earlier
        // naive per-bit formulation re-derived the token→md5 chain for
        // every bit (CollapseProject inlining) — measured 30×+ slower.
        // Downstream hamming is bit_count(xor): two codegen'd machine ops
        // per candidate pair, which is what decides seconds-vs-minutes
        // when correlated corpora put thousands of docs in a band bucket.
        // persisted (memoized): 16 bytes/doc, scanned by both sides of the self-join
        val sig = Corpus.cached(s, d, "simhash_sig") {
          Corpus.docsWithNearDups(s, d)
            .select(col("doc_id"),
              graft.functions.SignatureFunctions.simHash32(
                graft.functions.TextHashFunctions.wordHash40(col("text"))).as("sig"))
        }
        val banded = sig
          .select(col("doc_id"), col("sig"), explode(expr("sequence(0, 3)")).as("band"))
          .withColumn("bkey", expr("cast(shiftright(sig, band * 8) & 255 as int)"))
        // hamming filter BEFORE pair-dedup: the filtered set is tiny, so
        // the dropDuplicates shuffle is over hundreds of rows, not millions
        banded.as("a")
          .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr("cast(bit_count(a.sig ^ b.sig) as bigint)").as("hamming"))
          .filter(col("hamming") <= 3)
          .dropDuplicates("doc_a", "doc_b")
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        grams AS (
          SELECT doc_id,
                 [(ws[i] * 1000003 + ws[i+1] * 1500007) & ${mask40}
                  for i in range(1, len(ws))] AS th
          FROM (SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      w -> ('0x' || substr(md5(w), 1, 10))::BIGINT) AS ws
                FROM corpus)),
        sigs AS (
          SELECT doc_id,
                 CAST(list_sum([CASE WHEN CAST(list_sum(list_transform(th,
                        h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
                       THEN (1::BIGINT << j) ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS sig
          FROM grams),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""")),

    // ───── exact n-gram Jaccard baseline on a bounded subset — the verify
    // primitive; full-corpus discovery belongs to minhash_lsh above.
    // The subset is ABSOLUTELY capped: the first 60 originals plus their
    // variants (doc_id+VariantOffset — an id range no original can reach)
    // — ≤120 docs at ANY corpus size, so the pairwise stage stays O(1) as
    // the corpus grows (the earlier bare modulo admitted 60 docs per
    // block, quadratic again in disguise)
    QuerySpec(
      "dedup_ngram_jaccard",
      (s, d) => {
        val off = Corpus.VariantOffset
        val sub = Corpus.withShingles(
          Corpus.docsWithNearDups(s, d)
            .filter(col("doc_id") < 60 ||
              (col("doc_id") >= off && col("doc_id") < off + 60)))
        sub.as("a")
          .join(sub.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr("cast(size(array_intersect(a.shingles, b.shingles)) as double) / size(array_union(a.shingles, b.shingles))")
              .as("jaccard"))
          .filter(col("jaccard") >= 0.3)
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        sub AS (${Corpus.shinglesSql("corpus")}
                AND (doc_id < 60 OR (doc_id >= ${Corpus.VariantOffset}
                                     AND doc_id < ${Corpus.VariantOffset} + 60))),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
          FROM sub a JOIN sub b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.3""")),

    // ───── benchmark decontamination: flag corpus documents sharing >= 5
    // distinct 3-gram shingles with an eval/blocklist set (doc_id % 97
    // stands in for the benchmark). The blocklist's shingle inventory is
    // tiny and BROADCAST; the corpus side explodes only its shingle
    // hashes (narrow ints), one hash-agg — at 100 TB this is a broadcast
    // semi-join per shingle, never a corpus self-join. The contaminated
    // doc list is exactly what gets quarantined before training.
    QuerySpec(
      "dedup_decontaminate",
      // near-dup corpus: variants of blocklisted docs are the
      // contamination that must be caught (plain corpus texts are
      // fully distinct, so overlap only exists via the variants);
      // the shingle sets are the SAME memoized frame minhash-LSH uses
      (s, d) => contaminated(s, d),
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $contaminatedCtes
        SELECT doc_id, n_overlap FROM contaminated""")),

    // ───── decontamination, Bloom-prefiltered
    // ([[graft.functions.BloomMightContainLong]]): same answer set as
    // dedup_decontaminate — the 1% Bloom filter over the blocklist
    // shingle inventory prunes the exploded corpus-shingle stream inside
    // whole-stage codegen BEFORE the confirm join, and the exact join
    // then removes any false positives, so the result is exact and the
    // SAME oracle gates it. This is the scale path when the blocklist
    // inventory outgrows an exact broadcast set (billions of shingles ≈
    // ~1.2 bytes/element at 1% fpp vs 8+ exact): the confirm join can
    // fall back to a shuffle join whose corpus side has already been
    // pruned ~99% by the probe. The filter build is distributed
    // (treeAggregate); the driver holds only the compact sketch — the
    // k-means-centroid pattern, O(filter), never a data collect.
    QuerySpec(
      "dedup_decontaminate_bloom",
      (s, d) => {
        val docs = hsetsOf(s, d)
        val blockH = docs.filter(col("doc_id") % 97 === 0)
          .select(explode(col("hs")).as("h")).distinct()
        val nBlock = blockH.count() // control-plane: sizes the filter
        val bf = s.sparkContext.broadcast(
          blockH.stat.bloomFilter("h", math.max(nBlock, 1L), 0.01))
        docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .filter(graft.functions.BloomFilterFunctions.bloomMightContain(bf)(col("h")))
          .join(broadcast(blockH), "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_overlap"))
          .filter(col("n_overlap") >= 5)
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $contaminatedCtes
        SELECT doc_id, n_overlap FROM contaminated""")),

    // ───── containment near-dup (asymmetric): doc_a is ≥ 80% contained
    // in doc_b — the quote / excerpt / superset case a SYMMETRIC Jaccard
    // threshold structurally misses (a short doc fully quoted inside a
    // long one has tiny Jaccard but 100% containment). Candidates come
    // from a self-join on RARE shingles only (df ≤ 50 — the prefix-filter
    // idea: a hot boilerplate shingle's posting list would make the
    // candidate stage quadratic, and a pair sharing ONLY ubiquitous
    // shingles is noise, not quotation; the recall trade is documented
    // and identical in both engines). Scores are exact from the full
    // sets, integer percent. Directional output: both (a in b) and
    // (b in a) rows can appear with different scores.
    QuerySpec(
      "dedup_containment",
      (s, d) => {
        // Every shingle is rare XOR common (df cap), so the exact shared
        // count decomposes: |S_a ∩ S_b| = rare-shared + common-shared.
        // The rare part falls out of the SAME self-join that generates
        // candidates (group the join by pair — no separate dedup pass,
        // no full-set shuffle); the common part intersects each doc's
        // common-shingle subset, which is TINY (few distinct shingles
        // exceed the df cap) — so the full 1k-element hash sets never
        // travel to the pair stage at all. Same result as the naive
        // candidates+array_intersect form; 15.2 s → see BASELINE.
        val hsets = hsetsOf(s, d)
        // re-fan at the consumer (r17): hsets now publishes at AQE-natural
        // width (~1 partition at test SF), and THIS consumer's explode +
        // rare self-join is the one hsets stage heavy enough to want the
        // session's full parallelism — the fan-out lives here instead of
        // in the published layout, so the ten sub-second consumers stop
        // paying 32-task scheduling (VERDICT r16 "what's wrong" #1)
        val ex = graft.Tables.fanOut(hsets)
          .select(col("doc_id"), explode(col("hs")).as("h"))
        val dfh = ex.groupBy("h").agg(count(lit(1)).as("df"))
        // The common set (df > 50) is tiny BY CONSTRUCTION — only
        // boilerplate shingles clear the cap — so the rare/common split
        // must NOT shuffle the full exploded stream through an
        // annotation join (r5's one avoidable exchange here): broadcast
        // the common set, derive rare by broadcast ANTI and the per-doc
        // common subsets by broadcast inner. The df aggregation itself
        // (one map-side-combined shuffle) is the only stream-sized
        // exchange left before the rare self-join.
        // cached: the split is consumed four times (rare a/b sides,
        // common a/b subsets) — without the persist each reuse re-runs
        // the stream-sized df aggregation; with it, ONCE
        val common = Corpus.cached(s, d, "containmentCommonShingles") {
          dfh.filter(col("df") > 50).select("h")
        }
        val rare = ex.join(broadcast(common), Seq("h"), "left_anti")
        val commonArr = ex.join(broadcast(common), Seq("h"))
          .groupBy("doc_id").agg(collect_list(col("h")).as("ch"))
        val sizes = hsets.select(col("doc_id"),
          expr("cast(size(hs) as bigint)").as("n"))
        rare.as("a")
          .join(rare.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("shared_rare"))
          .join(commonArr.select(col("doc_id").as("doc_a"), col("ch").as("ch_a")),
            Seq("doc_a"), "left")
          .join(commonArr.select(col("doc_id").as("doc_b"), col("ch").as("ch_b")),
            Seq("doc_b"), "left")
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
          .withColumn("shared", col("shared_rare") +
            when(col("ch_a").isNull || col("ch_b").isNull, lit(0L))
              .otherwise(expr("cast(size(array_intersect(ch_a, ch_b)) as bigint)")))
          .withColumn("cont_pct", expr("cast((100 * shared) div n_a as bigint)"))
          .filter(col("cont_pct") >= 80)
          .select("doc_a", "doc_b", "cont_pct")
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        ex AS (SELECT doc_id, unnest(hs) AS h FROM hsets),
        dfh AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
        rare AS (SELECT e.doc_id, e.h FROM ex e JOIN dfh f USING (h) WHERE f.df <= 50),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id != b.doc_id),
        scored AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS shared,
                 CAST(len(sa.hs) AS BIGINT) AS n_a
          FROM cand c JOIN hsets sa ON sa.doc_id = c.doc_a
                      JOIN hsets sb ON sb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, CAST((100 * shared) // n_a AS BIGINT) AS cont_pct
        FROM scored WHERE (100 * shared) // n_a >= 80""")),

    // ───── embedding-cosine near-dup, sign-LSH bucketed: pairs compared
    // only within a bucket (the scale path); scores from exact integers.
    // Bucket WIDTH is corpus-size-derived (constant mean occupancy ⇒
    // candidate stage linear in n); both engines derive it from the
    // same count, so the verified answer set stays oracle-equal at
    // every scale factor even though the width changes across them.
    QuerySpec(
      "dedup_embed_cosine",
      (s, d) => {
        val bits = Corpus.signBucketBits(Corpus.vecsWithNearDupsCount(s, d))
        val vecs = Corpus.vecsWithNearDups(s, d)
          .withColumn("bucket", Corpus.signBucketColBits(bits))
        vecs.as("a")
          .join(vecs.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            Corpus.dotCol("a.qv", "b.qv").as("dot"),
            col("a.nn").as("na"), col("b.nn").as("nb"))
          .withColumn("score", Corpus.scoreCol)
          .filter(col("score") >= 0.81) // cos >= 0.9
          .select("va", "vb", "score")
      },
      Some(s"""
        WITH vwidth AS (
          SELECT (${Corpus.signBucketBitsSqlCase("n")}) AS bits
          FROM (SELECT count(*) AS n FROM (${Corpus.vecsWithNearDupsSql}))),
        vecs AS (
          SELECT vec_id, qv, nn, ${Corpus.signBucketSqlBits("p.bits")} AS bucket
          FROM (${Corpus.vecsWithNearDupsSql}), vwidth p),
        pairs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
                 a.nn AS na, b.nn AS nb
          FROM vecs a JOIN vecs b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT va, vb, ${Corpus.scoreSql} AS score
        FROM pairs WHERE ${Corpus.scoreSql} >= 0.81""")),

    // ───── mergeable MinHash union sketch under the oracle gate: per
    // language, the minhash signature of the UNION of all documents'
    // shingle sets, computed by aggregating per-doc signatures with
    // [[graft.functions.MinHashAgg]] (elementwise min — associative and
    // commutative, so map-side partials and any re-aggregation are
    // exact). The oracle computes each slot's minimum over the unioned
    // hash multiset directly; equality IS the mergeability proof (min of
    // per-doc minima = min of the union), now hash-checked cross-engine.
    // Output exploded to (lang, slot, minhash) rows — scalar columns,
    // driver-comparator-friendly.
    QuerySpec(
      "agg_minhash_union",
      (s, d) => {
        val sigs = Tables.documents(s, d)
          .filter(size(split(col("text"), " ")) >= 3)
          .select(col("lang"),
            graft.functions.SignatureFunctions.minHash12(
              graft.functions.SignatureFunctions.shingleHash40(
                graft.functions.TextHashFunctions.wordHash40(col("text")))).as("sig"))
        val mh = udaf(new graft.functions.MinHashAgg(12),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
        sigs.groupBy("lang").agg(mh(col("sig")).as("union_sig"))
          .select(col("lang"),
            posexplode(col("union_sig")).as(Seq("slot", "minhash")))
      },
      Some(s"""
        WITH hs AS (
          SELECT lang,
                 unnest([(ws[i] * 1000003 + ws[i+1] * 1500007 + ws[i+2] * 2000003)
                         & ${mask40} for i in range(1, len(ws) - 1)]) AS h
          FROM (SELECT lang,
                       list_transform(string_split(text, ' '),
                                      w -> ('0x' || substr(md5(w), 1, 10))::BIGINT) AS ws
                FROM documents
                WHERE len(string_split(text, ' ')) >= 3))
        SELECT lang, CAST(s.slot AS INTEGER) AS slot,
               CAST(min((${minhashA.mkString("[", ", ", "]")}[s.slot + 1] * h) & ${mask40}) AS BIGINT)
                 AS minhash
        FROM hs, (SELECT unnest(range(0, 12)) AS slot) s
        GROUP BY lang, s.slot""")),

    // ───── CURATION FUNNEL: the composed keep/drop decision a training-
    // data pipeline actually ships — every document gets exactly ONE
    // verdict from a fixed priority chain (near-dup > blocklist >
    // contaminated > non-english > too-short > low-quality > keep), and
    // the output is the funnel report (docs + estimated tokens per
    // verdict). Each signal is the SAME operator verified standalone
    // elsewhere: minhash near-dup pairs (drop the non-canonical, higher-id
    // side), the %97 eval blocklist and its >= 5-shingle contamination set
    // (dedup_decontaminate), the labeled language, and text_quality's
    // stop-ratio/TTR thresholds. Scale: two narrow LEFT joins against
    // tiny (pair/contamination) sets — broadcast at any corpus size —
    // plus one corpus-sized equi-join for the variant→parent language
    // lookup and one final hash-agg; all heavy signal computation is the
    // memoized shingle pipeline already priced into the dedup queries.
    QuerySpec(
      "curation_funnel",
      (s, d) => curationVerdicts(s, d)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(ceil(length(text) / 4.0) as bigint)")).as("est_tokens")),
      Some(s"""
        WITH $curationVerdictsCtes
        SELECT verdict, count(*) AS n_docs,
               CAST(SUM(CAST(ceil(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
        FROM verdicts GROUP BY verdict""")),

    // ───── MinHash estimator calibration (r8): the measurement loop for
    // the sketch itself — per verified near-dup pair, the SIGNATURE
    // estimate (matching slots / 12) against the EXACT Jaccard the
    // verify stage computed, bucketed by slot count with the exact
    // score's min/max per bucket (min/max, not avg: a float mean is
    // summation-order-dependent; the extremes are order-free and show
    // the calibration envelope directly). The ann_recall idea applied
    // to the text-dedup sketch: estimator quality is an oracle-gated
    // number, not a prose claim. Reuses the memoized pair set + one
    // narrow signature join per side.
    QuerySpec(
      "dedup_minhash_estimate",
      (s, d) => {
        val sigs = hsetsOf(s, d).select(col("doc_id"),
          graft.functions.SignatureFunctions.minHash12(col("hs")).as("sig"))
        minhashPairs(s, d)
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .withColumn("est_slots", expr(
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
            .cast("long"))
          .groupBy("est_slots")
          .agg(count(lit(1)).as("n_pairs"),
            min("jaccard").as("min_jaccard"), max("jaccard").as("max_jaccard"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes
        SELECT est_slots, COUNT(*) AS n_pairs,
               MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
        FROM (
          SELECT m.jaccard,
                 CAST(len(list_filter(range(1, 13),
                        p -> sa.minhash[p] = sb.minhash[p])) AS BIGINT) AS est_slots
          FROM mpairs m
          JOIN sig sa ON sa.doc_id = m.doc_a
          JOIN sig sb ON sb.doc_id = m.doc_b)
        GROUP BY est_slots""")),

    // ───── INCREMENTAL curation funnel (r8): the daily-crawl composition
    // — the NEW batch (doc_id % 11 = 0, the incremental-family
    // convention) gets its keep/drop verdict against the EXISTING
    // corpus: dup_of_corpus (near-dups an existing doc, either pair
    // orientation) > dup_in_batch (keep-first within the increment) >
    // blocklist > contaminated > non_english > too_short > low_quality
    // > keep, each signal the SAME standalone-verified operator. The
    // verdict table here restricts the memoized full pair set — at
    // production scale the pair feed is dedup_incremental's old×new
    // band join plus a new×new join (both O(|new| + matched buckets),
    // never old×old), which yields exactly this restriction. Output is
    // the increment's funnel report — what a nightly ingest pipeline
    // actually publishes before committing the batch.
    QuerySpec(
      "curation_incremental",
      (s, d) => {
        val stopCnt = TextQueries.markerCountExpr(TextQueries.markers("en"))
        def isNew(c: Column) = c % 11 === 0
        val pairs = minhashPairs(s, d)
        val dupCorpus = pairs
          .filter(isNew(col("doc_b")) && !isNew(col("doc_a")))
          .select(col("doc_b").as("doc_id"))
          .unionByName(pairs
            .filter(isNew(col("doc_a")) && !isNew(col("doc_b")))
            .select(col("doc_a").as("doc_id")))
          .distinct().withColumn("is_dupc", lit(true))
        val dupBatch = pairs
          .filter(isNew(col("doc_a")) && isNew(col("doc_b")))
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("is_dupb", lit(true))
        val cont = contaminated(s, d)
          .select(col("doc_id")).withColumn("is_cont", lit(true))
        val langs = Tables.documents(s, d)
          .select(col("doc_id").as("orig_id"), col("lang"))
        Corpus.docsWithNearDups(s, d)
          .filter(isNew(col("doc_id")))
          .withColumn("orig_id", col("doc_id") % Corpus.VariantOffset)
          .join(langs, "orig_id")
          .join(broadcast(dupCorpus), Seq("doc_id"), "left")
          .join(broadcast(dupBatch), Seq("doc_id"), "left")
          .join(broadcast(cont), Seq("doc_id"), "left")
          .withColumn("verdict", expr(
            s"""case when is_dupc then 'dup_of_corpus'
                     when is_dupb then 'dup_in_batch'
                     when doc_id % 97 = 0 then 'blocklist'
                     when is_cont then 'contaminated'
                     when lang != 'en' then 'non_english'
                     when size(split(text, ' ')) < 10 then 'too_short'
                     when cast($stopCnt as double) / size(split(text, ' ')) > 0.25
                       or cast(size(array_distinct(split(text, ' '))) as double)
                            / size(split(text, ' ')) < 0.2 then 'low_quality'
                     else 'keep' end"""))
          .groupBy("verdict")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("cast(ceil(length(text) / 4.0) as bigint)")).as("est_tokens"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        $contaminatedCtes,
        dupc AS (
          SELECT DISTINCT d FROM (
            SELECT doc_b AS d FROM mpairs WHERE doc_b % 11 = 0 AND doc_a % 11 != 0
            UNION ALL
            SELECT doc_a FROM mpairs WHERE doc_a % 11 = 0 AND doc_b % 11 != 0)),
        dupb AS (
          SELECT DISTINCT doc_b AS d FROM mpairs
          WHERE doc_a % 11 = 0 AND doc_b % 11 = 0),
        langs AS (SELECT doc_id AS orig_id, lang FROM documents),
        iverdicts AS (
          SELECT c.doc_id, c.text,
                 CASE WHEN dc.d IS NOT NULL THEN 'dup_of_corpus'
                      WHEN db.d IS NOT NULL THEN 'dup_in_batch'
                      WHEN c.doc_id % 97 = 0 THEN 'blocklist'
                      WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                      WHEN l.lang != 'en' THEN 'non_english'
                      WHEN len(string_split(c.text, ' ')) < 10 THEN 'too_short'
                      WHEN CAST(${TextQueries.markerCountSql(TextQueries.markers("en"), "c.text")}
                             AS DOUBLE) / len(string_split(c.text, ' ')) > 0.25
                        OR CAST(len(list_distinct(string_split(c.text, ' '))) AS DOUBLE)
                             / len(string_split(c.text, ' ')) < 0.2 THEN 'low_quality'
                      ELSE 'keep' END AS verdict
          FROM corpus c
          JOIN langs l ON l.orig_id = c.doc_id % ${Corpus.VariantOffset}
          LEFT JOIN dupc dc ON dc.d = c.doc_id
          LEFT JOIN dupb db ON db.d = c.doc_id
          LEFT JOIN contaminated ct ON ct.doc_id = c.doc_id
          WHERE c.doc_id % 11 = 0)
        SELECT verdict, count(*) AS n_docs,
               CAST(SUM(CAST(ceil(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
        FROM iverdicts GROUP BY verdict""")),

    // ───── FUZZY KEY MATCH (entity resolution): reconcile a dirty
    // registry (deterministic single-character typos injected from
    // customer names — the Corpus injection pattern, mirrored in the
    // oracle) against the clean registry at edit distance ≤ 1 WITHOUT a
    // quadratic name×name compare. Deletion-neighborhood blocking
    // (FastSS-style): each side explodes to {name} ∪ all 1-deletions
    // (≤ len+1 variants, bounded by name length — the LSH-banding
    // analog for edit distance), candidates come from ONE equi-join on
    // the variant string, and only candidates pay the exact
    // `levenshtein` verify (an integer, identical in both engines; the
    // neighborhood join admits lev-2 false positives — delete different
    // positions from each side — which the verify kills). The synthetic
    // namespace is DENSE in edit space (ids differ by one digit), so
    // ambiguity is real: avg ~10-17 clean candidates per dirty name —
    // the report carries match count + deterministic best match per
    // dirty id. Scale: explode factor ≤ 19×, one variant-join shuffle,
    // distinct pair collapse, final dirty-id agg — never |dirty|×|clean|.
    QuerySpec(
      "dedup_fuzzy_names",
      (s, d) => {
        def delVariants(nameCol: String) = expr(
          s"""explode(concat(array($nameCol),
              transform(sequence(1, length($nameCol)),
                i -> concat(substring($nameCol, 1, i - 1), substring($nameCol, i + 1)))))""")
        val dirty = Tables.customer(s, d)
          .filter(col("c_custkey") % 7 === 0)
          .select(
            (col("c_custkey") + 1000000000L).as("dirty_id"),
            expr("""concat(substring(c_name, 1, cast(c_custkey % 10 + 8 as int)),
                           substring(c_name, cast(c_custkey % 10 + 10 as int)))""").as("dname"))
        val dvar = dirty.select(col("dirty_id"), col("dname"), delVariants("dname").as("v"))
        val cvar = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), delVariants("c_name").as("v"))
        dvar.join(cvar, "v")
          .select("dirty_id", "dname", "c_custkey", "c_name").distinct()
          .filter(levenshtein(col("dname"), col("c_name")) <= 1)
          .groupBy("dirty_id")
          .agg(count(lit(1)).as("n_matches"), min(col("c_custkey")).as("best_match"))
          // no trailing global sort: the gate canonicalizes row order,
          // and an unlimited orderBy is a pure single-range-exchange cost
      },
      Some("""
        WITH dirty AS (
          SELECT c_custkey + 1000000000 AS dirty_id,
                 substr(c_name, 1, CAST(c_custkey % 10 + 8 AS INTEGER))
                   || substr(c_name, CAST(c_custkey % 10 + 10 AS INTEGER)) AS dname
          FROM customer WHERE c_custkey % 7 = 0),
        dvar AS (
          SELECT dirty_id, dname,
                 unnest([dname] || list_transform(range(1, length(dname) + 1),
                   i -> substr(dname, 1, i - 1) || substr(dname, i + 1))) AS v
          FROM dirty),
        cvar AS (
          SELECT c_custkey, c_name,
                 unnest([c_name] || list_transform(range(1, length(c_name) + 1),
                   i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))) AS v
          FROM customer),
        cand AS (
          SELECT DISTINCT d.dirty_id, d.dname, c.c_custkey, c.c_name
          FROM dvar d JOIN cvar c ON d.v = c.v),
        ver AS (
          SELECT dirty_id, c_custkey FROM cand WHERE levenshtein(dname, c_name) <= 1)
        SELECT dirty_id, CAST(count(*) AS BIGINT) AS n_matches, MIN(c_custkey) AS best_match
        FROM ver GROUP BY dirty_id ORDER BY dirty_id""")),

    // ───── Sorted-neighborhood blocking (r14): the THIRD classical
    // entity-resolution candidate strategy next to dedup_fuzzy_names'
    // deletion neighborhood (hash blocking) and the LSH band family —
    // sort the unified name universe on a total key, compare each
    // record only to its w nearest sorted neighbors (Hernández &
    // Stolfo's merge/purge). The global sort rank rides
    // [[graft.ops.RankedPrefix]] (range exchange + per-pid windows —
    // never a single-task window over the data-sized universe), and
    // the neighbor pairing is an EQUI-join on rank+offset (offsets
    // exploded 1..w, the grid-join trick) — so candidates are exactly
    // |U|·w rows, sharded by rank, at any corpus size. Verification is
    // the shared levenshtein ≤ 1 rule. Honest fixture note: TPC-H's
    // serial "Customer#000NNNNNN" names make CONSECUTIVE clean names
    // themselves edit-distance-1 (one digit apart), so the per-offset
    // match counts are dominated by numbering adjacency with the
    // planted typo copies on top — what the query certifies is the
    // blocking MECHANICS (distributed rank + rank-offset equi-join +
    // verify), and the per-offset decay is still the window-size trade.
    QuerySpec(
      "dedup_sorted_neighborhood",
      (s, d) => {
        val dirty = Tables.customer(s, d)
          .filter(col("c_custkey") % 7 === 0)
          .select(
            (col("c_custkey") + 1000000000L).as("id"),
            expr("""concat(substring(c_name, 1, cast(c_custkey % 10 + 8 as int)),
                           substring(c_name, cast(c_custkey % 10 + 10 as int)))""").as("nm"))
        val uni = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
          .unionByName(dirty)
        val ranked = graft.ops.RankedPrefix(s, d, "snbRank", uni,
          part = Nil, order = Seq(col("nm"), col("id")), rank = Some("r"))
          .select("r", "id", "nm")
        val pairs = ranked
          .withColumn("off", explode(expr("sequence(1, 4)")))
          .select((col("r") + col("off")).as("r2"), col("off"),
            col("id").as("id_a"), col("nm").as("nm_a"))
          .join(ranked.select(col("r").as("r2"), col("id").as("id_b"),
            col("nm").as("nm_b")), "r2")
        pairs
          .withColumn("hit", when(levenshtein(col("nm_a"), col("nm_b")) <= 1
            && col("nm_a") =!= col("nm_b"), 1L).otherwise(0L))
          .groupBy("off")
          .agg(count(lit(1)).as("n_candidates"),
            sum("hit").as("n_matches"),
            sum(when(col("hit") === 1, col("id_a") + col("id_b"))
              .otherwise(0L)).as("match_id_sum"))
      },
      Some("""
        WITH dirty AS (
          SELECT c_custkey + 1000000000 AS id,
                 substr(c_name, 1, CAST(c_custkey % 10 + 8 AS INTEGER))
                   || substr(c_name, CAST(c_custkey % 10 + 10 AS INTEGER)) AS nm
          FROM customer WHERE c_custkey % 7 = 0),
        uni AS (
          SELECT c_custkey AS id, c_name AS nm FROM customer
          UNION ALL SELECT id, nm FROM dirty),
        ranked AS (
          SELECT id, nm, ROW_NUMBER() OVER (ORDER BY nm, id) AS r FROM uni),
        pairs AS (
          SELECT o.off, a.id AS id_a, a.nm AS nm_a, b.id AS id_b, b.nm AS nm_b
          FROM ranked a
          CROSS JOIN (SELECT unnest(range(1, 5)) AS off) o
          JOIN ranked b ON b.r = a.r + o.off),
        h AS (
          SELECT off,
                 CASE WHEN levenshtein(nm_a, nm_b) <= 1 AND nm_a <> nm_b
                      THEN 1 ELSE 0 END AS hit,
                 id_a, id_b
          FROM pairs)
        SELECT CAST(off AS INTEGER) AS off, COUNT(*) AS n_candidates,
               CAST(SUM(hit) AS BIGINT) AS n_matches,
               CAST(SUM(CASE WHEN hit = 1 THEN id_a + id_b ELSE 0 END)
                 AS BIGINT) AS match_id_sum
        FROM h GROUP BY 1"""))
  ,

    // ───── winnowing fingerprints (r9): the MOSS selection scheme
    // (Schleimer/Wilkerson/Aiken, SIGMOD 2003) — the SAMPLED tier of
    // exact-substring detection next to text_dup_spans' full span
    // index. Each window of w=4 consecutive 5-token-gram hashes keeps
    // its MINIMUM; the guarantee is positional: any shared token run of
    // length ≥ w+k−1 = 8 contains a full shared window, and equal
    // windows select equal minima — so every such run is detected while
    // only ~2/(w+1) = 40% of gram hashes survive as fingerprints
    // (measured 39.2% on this corpus; at 100 TB the inverted index and
    // the pair shuffle shrink by that factor, tunable with w). Scale
    // shape: SELECTION IS PURELY PER-ROW — window minima computed
    // inside the gram array (transform over sequence + array_min), no
    // per-doc window shuffle anywhere; the pair stage is the standard
    // bounded inverted index (2 ≤ df ≤ 50 fingerprint buckets,
    // self-join within bucket, never doc×doc). The oracle replays
    // selection as a DuckDB window-min over the exploded gram stream —
    // an INDEPENDENT formulation of the same selection rule, so a
    // mis-sliced window or off-by-one tail on either side breaks the
    // pair counts.
    QuerySpec(
      "dedup_winnow",
      (s, d) => {
        // gram hashes as 60-bit LONGS (not md5 hex strings — an 8-byte
        // compare per window-min step instead of a 32-char one), and
        // the gram array MATERIALIZED before the selection consumes it
        // (the text_dup_spans discipline — without it CollapseProject
        // inlines the whole nk-gram construction into the selection
        // lambda, so slice(gs, j, 4) recomputes EVERY gram hash for
        // every window position: O(nk²) md5 calls, measured 178 s at
        // sf0.1 for a 0.2 s construction)
        val kgArr = Corpus.cached(s, d, "winnowGramArr") {
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .filter(size(col("t")) >= 5)
            .select(col("doc_id"), expr(
              """transform(sequence(1, size(t) - 4),
                           i -> cast(conv(substring(md5(concat_ws(' ', slice(t, i, 5))),
                                                    1, 15), 16, 10) as long))""").as("gs"))
        }
        val fp = kgArr
          .select(col("doc_id"), expr(
            """case when size(gs) >= 4
               then array_distinct(transform(sequence(1, size(gs) - 3),
                                             j -> array_min(slice(gs, j, 4))))
               else array() end""").as("fps"))
          .select(col("doc_id"), explode(col("fps")).as("selg"))
          .localCheckpoint(true) // ~0.4·|kgrams| rows; four consumers
        val good = fp.groupBy("selg").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 50).select("selg")
        val gf = fp.join(good, "selg")
        gf.as("a")
          .join(gf.as("b"),
            col("a.selg") === col("b.selg") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        kg AS (
          SELECT doc_id, i,
                 CAST(('0x' || substring(md5(array_to_string(t[i : i + 4], ' ')),
                                         1, 15)) AS BIGINT) AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
                FROM toks WHERE len(t) >= 5)),
        n AS (SELECT doc_id, count(*) AS nk FROM kg GROUP BY 1),
        sel AS (SELECT DISTINCT doc_id, selg FROM (
                  SELECT kg.doc_id, i, nk,
                         min(g) OVER (PARTITION BY kg.doc_id ORDER BY i
                                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selg
                  FROM kg JOIN n USING (doc_id)) x
                WHERE i <= nk - 3),
        df AS (SELECT selg, count(*) AS df FROM sel GROUP BY 1),
        good AS (SELECT selg FROM df WHERE df BETWEEN 2 AND 50),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM sel a JOIN sel b ON a.selg = b.selg AND a.doc_id < b.doc_id
          JOIN good g ON g.selg = a.selg
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
        FROM pairs WHERE n_shared >= 2""")),

    // ───── Canonical pick among exact-content duplicates (r13): the
    // KEEP side of deduplication — dedup_exact counts what survives,
    // this operator decides WHICH copy survives when the same text
    // arrives from multiple sources (original vs mirror crawl). Policy:
    // lowest source-priority rank wins (originals over 'mirror'), then
    // min doc_id as the total-order tiebreak — the standard curation
    // rule "prefer the earliest authoritative copy". Groups ride ONE
    // hash shuffle on the content key; the per-group argmin is a
    // window over group-sized frames (duplicate multiplicity, never
    // corpus-sized). Output is the per-language keep/drop ledger with
    // id checksums so the exact pick set is hash-gated.
    QuerySpec(
      "dedup_keep_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mirrored = docs.unionAll(
          docs.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"),
              col("lang"), lit("mirror").as("source"), col("n_chars")))
        val prio = when(col("source") === "mirror", 1).otherwise(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "text").orderBy(prio.asc, col("doc_id").asc)
        mirrored
          .withColumn("rn", row_number().over(w))
          .withColumn("keep", col("rn") === 1)
          .groupBy("lang")
          .agg(
            // group count = winners count (one rn=1 per group) — no
            // distinct-agg over full text payloads
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_groups"),
            count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
            sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"),
            sum(when(col("keep"), 0L).otherwise(col("doc_id"))).as("dropped_id_sum"))
      },
      Some("""
        WITH mirrored AS (
          SELECT doc_id, text, lang, source FROM documents
          UNION ALL
          SELECT doc_id + 1000000000, text, lang, 'mirror'
          FROM documents WHERE doc_id % 4 = 0),
        ranked AS (
          SELECT lang, text, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY lang, text
                   ORDER BY CASE WHEN source = 'mirror' THEN 1 ELSE 0 END,
                            doc_id) AS rn
          FROM mirrored)
        SELECT lang, CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_dropped,
               CAST(SUM(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
                 AS kept_id_sum,
               CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE doc_id END) AS BIGINT)
                 AS dropped_id_sum
        FROM ranked GROUP BY 1""")),

    // ───── Jaccard threshold sweep (r13): the dedup analog of
    // ann_nprobe_sweep — how many pairs (and how many documents) a
    // near-dup policy removes at each similarity cut, measured on ONE
    // verified candidate set (the memoized minhash-LSH pairs; no
    // re-banding per threshold). The curve is what a curator reads
    // before committing to a threshold: too low deletes distinct
    // content, too high leaves near-dups in. Thresholds start at the
    // candidate verify floor (0.4); each arm is a filter + two bounded
    // aggregates over the cached pair frame. Jaccard compares as the
    // single exact int/int IEEE division both engines compute
    // identically (the minhash_lsh contract).
    QuerySpec(
      "dedup_threshold_sweep",
      (s, d) => {
        val p = minhashPairs(s, d)
        Seq(400, 500, 700, 900).map { t =>
          val sel = p.filter(col("jaccard") >= t / 1000.0)
          val docs = sel.select(col("doc_a").as("dd"))
            .unionAll(sel.select(col("doc_b").as("dd"))).distinct()
          sel.agg(count(lit(1)).as("n_pairs"),
              coalesce(sum(col("doc_a") + col("doc_b")), lit(0L))
                .as("pair_id_sum"))
            .crossJoin(docs.agg(count(lit(1)).as("n_docs_affected")))
            .select(lit(t).as("threshold_milli"), col("n_pairs"),
              col("pair_id_sum"), col("n_docs_affected"))
        }.reduce(_ unionByName _)
      },
      Some {
        val blocks = Seq(400, 500, 700, 900).map { t =>
          val c = s"jaccard >= $t / 1000.0"
          s"""
        SELECT $t AS threshold_milli,
               COUNT(*) AS n_pairs,
               CAST(COALESCE(SUM(doc_a + doc_b), 0) AS BIGINT) AS pair_id_sum,
               (SELECT COUNT(*) FROM (
                  SELECT DISTINCT dd FROM (
                    SELECT doc_a AS dd FROM msel WHERE $c
                    UNION ALL SELECT doc_b FROM msel WHERE $c)))
                 AS n_docs_affected
        FROM msel WHERE $c"""
        }.mkString("\n        UNION ALL")
        s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        msel AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM mpairs)
        $blocks"""
      }),

    // ───── NEAR-dup cluster canonicalization (r13): dedup_keep_best
    // lifted from exact-content groups to the minhash-LSH CLUSTERS —
    // within each connected near-dup component keep the LONGEST copy
    // (min doc_id tiebreak): the curation rule that preserves the
    // superset document when crawl variants truncate (the injected
    // variants here are 3-token-shorter tails, so quality-pick ≠
    // min-id pick exactly when the variant carries the smaller id —
    // `n_pick_changed` counts how often the quality rule REVERSES
    // dedup_cluster's min-id canonical, the readout that justifies
    // the policy). Labels ride the memoized LSSS components; the
    // argmax is a window over cluster-sized frames.
    QuerySpec(
      "dedup_cluster_canonical",
      (s, d) => {
        val labels = componentsOf(s, d)
        val lens = Corpus.docsWithNearDups(s, d)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("label").orderBy(col("len").desc, col("doc_id"))
        labels.join(lens, "doc_id")
          .withColumn("rn", row_number().over(w))
          .agg(
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_clusters"),
            count(lit(1)).as("n_docs"),
            sum(when(col("rn") =!= 1, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("rn") === 1, col("doc_id")).otherwise(0L))
              .as("kept_id_sum"),
            sum(when(col("rn") =!= 1, col("doc_id")).otherwise(0L))
              .as("dropped_id_sum"),
            sum(when(col("rn") === 1 && col("doc_id") =!= col("label"), 1L)
              .otherwise(0L)).as("n_pick_changed"))
      },
      Some(s"""
        WITH RECURSIVE corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM mpairs
          UNION
          SELECT doc_b AS u, doc_a AS v FROM mpairs),
        reach(src, dst) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
        comp AS (
          SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src),
        ranked AS (
          SELECT c.doc_id, c.label,
                 ROW_NUMBER() OVER (PARTITION BY c.label
                   ORDER BY length(k.text) DESC, c.doc_id) AS rn
          FROM comp c JOIN corpus k ON k.doc_id = c.doc_id)
        SELECT CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clusters,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               CAST(SUM(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
                 AS kept_id_sum,
               CAST(SUM(CASE WHEN rn <> 1 THEN doc_id ELSE 0 END) AS BIGINT)
                 AS dropped_id_sum,
               CAST(SUM(CASE WHEN rn = 1 AND doc_id <> label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pick_changed
        FROM ranked""")),

    // ───── Canopy clustering (r15, VERDICT r14 #3): the fourth
    // classical ER candidate strategy — see [[canopyOf]] for the full
    // algorithm + scale contract. Output is the one-row ledger: universe
    // size, center count, MIS residue (0 = the bounded unroll converged
    // — and the oracle unrolls identically, so even a non-zero residue
    // gates equal), membership and candidate-pair volumes with an id
    // checksum, and recall against the corpus's own planted
    // trimmed-variant dups.
    QuerySpec(
      "dedup_canopy",
      (s, d) => {
        val cf = canopyOf(s, d)
        val pl = plantedPairs(s, d)
        cf.docs.agg(count(lit(1)).as("n_docs"))
          .crossJoin(cf.centers.agg(count(lit(1)).as("n_centers")))
          .crossJoin(cf.undecided.agg(count(lit(1)).as("n_undecided")))
          .crossJoin(cf.members.agg(count(lit(1)).as("n_members")))
          .crossJoin(cf.candidates.agg(
            count(lit(1)).as("n_candidates"),
            coalesce(sum(col("doc_a") + col("doc_b")), lit(0L))
              .as("cand_id_sum")))
          .crossJoin(pl.agg(count(lit(1)).as("n_planted")))
          .crossJoin(pl.join(cf.candidates, Seq("doc_a", "doc_b"))
            .agg(count(lit(1)).as("n_hit")))
          .select(col("n_docs"), col("n_centers"), col("n_undecided"),
            col("n_members"), col("n_candidates"), col("cand_id_sum"),
            col("n_planted"), col("n_hit"),
            expr("n_hit * 1000000 div n_planted").as("recall_ppm"))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $canopyCtes,
        $plantedCte
        SELECT (SELECT COUNT(*) FROM cnt) AS n_docs,
               (SELECT COUNT(*) FROM ccent) AS n_centers,
               (SELECT COUNT(*) FROM cu$CanopyRounds) AS n_undecided,
               (SELECT COUNT(*) FROM cmem) AS n_members,
               (SELECT COUNT(*) FROM ccand) AS n_candidates,
               (SELECT CAST(COALESCE(SUM(doc_a + doc_b), 0) AS BIGINT)
                FROM ccand) AS cand_id_sum,
               (SELECT COUNT(*) FROM planted) AS n_planted,
               (SELECT COUNT(*) FROM planted p JOIN ccand c
                  ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b) AS n_hit,
               CAST((SELECT COUNT(*) FROM planted p JOIN ccand c
                       ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b) * 1000000
                    // (SELECT COUNT(*) FROM planted) AS BIGINT)
                 AS recall_ppm""")),

    // ───── Cross-strategy candidate-set comparison (r15, VERDICT r14
    // #3, the dedup_threshold_sweep shape): the SAME corpus and the SAME
    // planted ground truth scored across three independent candidate
    // generators — the minhash-LSH band index (the production near-dup
    // path), canopy clustering (above), and single-key min-hash blocking
    // (one minwise permutation as the block key — the cheapest possible
    // blocking, the baseline both must beat on recall). The readout is
    // the candidate-volume vs recall trade each strategy makes; every
    // candidate set rides its already-memoized artifact (bands / canopy
    // frames / hsets), so the comparison row costs three bounded rollups,
    // not three pipeline rebuilds.
    QuerySpec(
      "dedup_strategy_compare",
      (s, d) => {
        val pl = plantedPairs(s, d).localCheckpoint(true)
        def row(name: String, cand: org.apache.spark.sql.DataFrame) =
          cand.agg(count(lit(1)).as("n_candidates"))
            .crossJoin(pl.agg(count(lit(1)).as("n_planted")))
            .crossJoin(pl.join(cand, Seq("doc_a", "doc_b"))
              .agg(count(lit(1)).as("n_hit")))
            .select(lit(name).as("strategy"), col("n_candidates"),
              col("n_planted"), col("n_hit"),
              expr("n_hit * 1000000 div n_planted").as("recall_ppm"))
        val bands = bandsOf(s, d)
        val lshCand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        val mk = hsetsOf(s, d)
          .select(col("doc_id"), array_min(col("hs")).as("mk"))
        val blockCand = mk.as("a").join(mk.as("b"),
            col("a.mk") === col("b.mk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        row("canopy", canopyOf(s, d).candidates)
          .unionByName(row("lsh_bands", lshCand))
          .unionByName(row("minmer_block", blockCand))
      },
      Some(s"""
        WITH corpus AS (${Corpus.docsWithNearDupsSql}),
        $hsetsCte,
        $minhashPairsCtes,
        $canopyCtes,
        $plantedCte,
        mk AS MATERIALIZED (SELECT doc_id, list_min(hs) AS mk FROM hsets),
        mbl AS MATERIALIZED (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM mk a JOIN mk b ON a.mk = b.mk AND a.doc_id < b.doc_id),
        np AS (SELECT COUNT(*) AS n_planted FROM planted),
        stats AS (
          SELECT 'canopy' AS strategy,
                 (SELECT COUNT(*) FROM ccand) AS n_candidates,
                 (SELECT COUNT(*) FROM planted p JOIN ccand c
                    ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b) AS n_hit
          UNION ALL
          SELECT 'lsh_bands',
                 (SELECT COUNT(*) FROM cand),
                 (SELECT COUNT(*) FROM planted p JOIN cand c
                    ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b)
          UNION ALL
          SELECT 'minmer_block',
                 (SELECT COUNT(*) FROM mbl),
                 (SELECT COUNT(*) FROM planted p JOIN mbl c
                    ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b))
        SELECT s.strategy, s.n_candidates, np.n_planted, s.n_hit,
               CAST(s.n_hit * 1000000 // np.n_planted AS BIGINT)
                 AS recall_ppm
        FROM stats s, np"""))
  )
}
