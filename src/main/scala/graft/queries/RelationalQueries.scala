package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Generic relational surface (SURVEY §2.3–§2.8): joins (broadcast / semi /
  * anti / outer / as-of), aggregations (hash, distinct, rollup), window
  * functions (ranking, running frames), sorts/top-k and set operations —
  * all declarative DataFrame plans so Catalyst picks the physical strategy
  * (broadcast for dims under the threshold, SMJ for fact-fact, partial
  * aggregation map-side, TakeOrderedAndProject for top-k).
  *
  * Determinism contract with the oracle: double aggregates go through
  * exact DECIMAL summation and convert to double once; every top-k has a
  * unique tiebreaker column in the sort.
  */
object RelationalQueries {

  /** Exact sum of a ~2-decimal double column, as double: values scale to
    * BIGINT cents (whole-stage-codegen long adds — ~5× faster than the
    * decimal aggregation path), one double division at the end. Equal to
    * the DECIMAL(18,2)-sum oracle formulation because both compute the
    * same exact rational.
    */
  /** Dense zero-filled (hour × event_type) grid — shared by
    * `events_gapfill` (which reports it) and `events_anomaly` (which
    * flags against per-type medians over it; zero-gap hours MUST be in
    * the population or a dead pipeline looks like a quiet one). Spine =
    * |hours|·|types| rows from the data's own bounds, broadcast against
    * the one-shuffle hourly agg.
    */
  private def gapfilledHourly(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val hours = bounds.select(
      explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
    val spine = hours.crossJoin(ev.select("event_type").distinct())
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // hourly is POST-aggregation (≤ |spine| rows), so it is the honest
    // broadcast side — and a LeftOuter join CAN build right, whereas a
    // broadcast hint on the preserved side of a right-outer is ignored
    // (BHJ can't build the row-preserved side) and would silently
    // degrade to SMJ once stats exceed the auto threshold.
    spine.join(broadcast(hourly), Seq("hr", "event_type"), "left")
      .select(col("hr"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  private def dsum(c: Column): Column =
    sum(round(c * 100).cast("long")).cast("double") / 100.0

  /** Exact revenue sum Σ price·(1−discount) from integer cents:
    * p_cents·(100−d_cents) is the exact rational product ×10⁴. The
    * oracle must use the SAME integer form — a decimal cast of the
    * double product captures its rounding error instead.
    */
  private def revenueSum: Column =
    (sum(round(col("l_extendedprice") * 100).cast("long")
      * (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .cast("double") / 10000.0)

  private val revenueSumSql: String =
    """CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000.0"""

  /** Canonical part co-purchase edge list (u < v; distinct parts sharing
    * an order — basket_pairs' pair stage, bounded by basket size per
    * order), cached per (session, sfDir) so the graph-analytics family
    * builds it once.
    */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.analytics.GraphArtifacts.coPurchaseEdges(s, d)

  /** Per-user top-3 item-kNN recommendations (uid, rank, cand, score) —
    * the shared engine behind `rec_item_knn` (per-rank rollup) and
    * `rec_coverage` (catalog coverage), session-cached so both pay the
    * pipeline once. See rec_item_knn's doc comment for the cost model.
    */
  /** Checkpointed (liDistinct, ownedFull) — shared (r17) by the rec full
    * face and the leave-last-out retrain, which previously each
    * re-derived their own copies (the lineitem distinct and ownership
    * shuffles, twice per consumer under dual consumption). Checkpointed
    * row RDDs, not a Corpus.cached persist: they beat a columnar persist
    * for these consumed-a-few-times frames (measured: the persist
    * variant cost ~2 s extra per build).
    */
  private val recBases = new graft.SessionMemo[String, (DataFrame, DataFrame)]

  private def recBase(s: SparkSession, d: String): (DataFrame, DataFrame) =
    recBases(s, d) {
      val li = lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        .localCheckpoint(true)
      val owned = li
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("uid"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true)
      (li, owned)
    }

  private def recTop3(s: SparkSession, d: String): DataFrame =
    graft.analytics.Corpus.cachedTimed(s, d, "recTop3") {
      val (li, owned) = recBase(s, d)
      recTop3Pipeline(li, owned,
        graft.analytics.GraphArtifacts.coPurchaseWeighted(s, d))
    }

  /** The item-kNN scoring pipeline shared by the full-data face
    * ([[recTop3]], serving rec_item_knn/rec_coverage) and the
    * leave-last-out TRAIN face (rec_hitrate): cosine²-ppm similarity off
    * the (u<v, shared-order count) pair frame `pr`, bounded top-8
    * neighbor index, owned anti-join, per-user bounded top-3. One
    * implementation, so the accuracy eval measures exactly the model the
    * production face serves. Returns (uid, rank ∈ 1..3, cand, score).
    */
  private def recTop3Pipeline(li: DataFrame, owned: DataFrame,
                              pr: DataFrame): DataFrame =
    // stages live in [[graft.analytics.RecScoring]] (r16) so the
    // streaming serving face runs literally this model code
    graft.analytics.RecScoring.top3(owned,
      graft.analytics.RecScoring.neighborIndex(li, pr))

  /** Oracle CTE chain reproducing [[recTop3]] (li → owned → pop → pr →
    * sym → scored → top-8 nbrs → anti-join → per-user top3) — shared by
    * the r15 rec_novelty oracle; the r14 rec_item_knn/rec_coverage
    * oracles predate it and keep their verbatim inline copies.
    */
  private val recPipelineSqlCtes: String = """
        li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        owned AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS p
          FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        pop AS MATERIALIZED (
          SELECT l_partkey AS p, COUNT(*) AS np FROM li GROUP BY 1),
        pr AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        sym AS (
          SELECT u, v, w FROM pr UNION ALL SELECT v AS u, u AS v, w FROM pr),
        scored AS (
          SELECT s.u AS p, s.v AS nbr,
                 CAST(CAST(s.w AS HUGEINT) * s.w * 1000000
                      // (CAST(pa.np AS HUGEINT) * pb.np) AS BIGINT) AS sc
          FROM sym s JOIN pop pa ON pa.p = s.u JOIN pop pb ON pb.p = s.v),
        nbrs AS MATERIALIZED (
          SELECT p, nbr, sc FROM (
            SELECT p, nbr, sc,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY sc DESC, nbr ASC) AS rk
            FROM scored) WHERE rk <= 8),
        raw AS (
          SELECT o.uid, n.nbr, n.sc
          FROM owned o JOIN nbrs n ON n.p = o.p
          WHERE NOT EXISTS (SELECT 1 FROM owned o2
                            WHERE o2.uid = o.uid AND o2.p = n.nbr)),
        agg AS (
          SELECT uid, nbr, CAST(SUM(sc) AS BIGINT) AS score
          FROM raw GROUP BY 1, 2),
        top3 AS MATERIALIZED (
          SELECT uid, cand, rank FROM (
            SELECT uid, nbr AS cand, score,
                   ROW_NUMBER() OVER (PARTITION BY uid
                     ORDER BY score DESC, nbr ASC) AS rank
            FROM agg) WHERE rank <= 3)"""

  /** Per-node triangle counts over [[coPurchaseEdges]] via degree
    * orientation + edge-iterator intersection (see the graph_triangles
    * doc comment for the full cost argument). Returns (n, n_tri) for
    * every node in ≥ 1 triangle; zero-triangle nodes are absent (left
    * join + coalesce at the consumer if needed). Also returns the
    * undirected degree table (n, deg) computed from the same edge list.
    */
  /** The directed purchase-SEQUENCE subgraph (graph_scc's construction)
    * plus its SCC labels and unresolved residue, memoized per (session,
    * input): graph_scc, graph_condensation and graph_reciprocity share
    * ONE build; Bench orders graph_scc first so the build lands in its
    * slot.
    */
  private val sccs = new graft.SessionMemo[String, (DataFrame, DataFrame, DataFrame)]

  private def sccArtifacts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    // timed → the bench "artifacts" block: the peel is the classic
    // once-per-session build whose cost min-over-passes would hide
    sccs(s, d)(graft.MemoTimings.timed(s.sparkContext.applicationId, "sccArtifacts") {
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .filter(col("l_partkey") % 30 === 0)
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct().localCheckpoint(true)
      val (labels, unresolved) =
        graft.analytics.GraphOps.stronglyConnectedComponents(e)
      (e, labels, unresolved)
    })

  // ── shared HyperBall artifacts (graph_anf / graph_hyperball_radii):
  // the 4-round register propagation is the family's once-per-session
  // build — memoized (checkpointed per-node estimates) with its cost
  // recorded for the bench "artifacts" block.
  private val anfs = new graft.SessionMemo[String, DataFrame]
  private def anfArtifacts(s: SparkSession, d: String): DataFrame =
    anfs(s, d)(graft.MemoTimings.timed(s.sparkContext.applicationId, "anfArtifacts") {
      graft.analytics.GraphOps.anfPerNode(
        graft.analytics.GraphArtifacts.undFiltered(s, d), 4)
        .localCheckpoint(true)
    })

  /** Shared HyperBall oracle CTE chain: the w>=2 co-purchase graph,
    * sparse registers unrolled 4 rounds, and per-hop per-node ball
    * estimates pn0..pn4 (n, est) — consumed by graph_anf (per-hop
    * aggregation) and graph_hyperball_radii (per-node min-hop).
    */
  private def anfOracleCtes: String = {
    val lcTable = "266,222,196,177,163,151,142,133,126,119,113,107," +
      "102,97,93,89,85,81,78,74,71,68,65,63,60,58,55,53,51,48,46,44," +
      "42,40,39,37,35,33,32,30,28,27,25,24,23,21,20,18,17,16,15,13," +
      "12,11,10,9,7,6,5,4,3,2,1,0"
    val sb = new StringBuilder(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        hh AS (
          SELECT n, CAST(('0x' || substring(md5(CAST(n AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
          FROM (SELECT DISTINCT u AS n FROM und)),
        r0 AS MATERIALIZED (
          SELECT n, h % 64 AS idx,
                 CAST(CASE WHEN h // 64 = 0 THEN 55
                      ELSE 55 - length(bin(h // 64)) END AS BIGINT) AS rho
          FROM hh)""")
    for (r <- 1 to 4) sb.append(s""",
        r$r AS MATERIALIZED (
          SELECT n, idx, MAX(rho) AS rho FROM (
            SELECT n, idx, rho FROM r${r - 1}
            UNION ALL
            SELECT e.u AS n, p.idx, p.rho
            FROM und e JOIN r${r - 1} p ON p.n = e.v)
          GROUP BY 1, 2)""")
    for (r <- 0 to 4) sb.append(s""",
        pn$r AS MATERIALIZED (
          SELECT n, CAST(CASE WHEN v_cnt > 0 AND raw <= 160
                 THEN CAST(list_extract([$lcTable], CAST(v_cnt AS INTEGER)) AS BIGINT)
                 ELSE raw END AS BIGINT) AS est
          FROM (
            SELECT n, 64 - COUNT(*) AS v_cnt,
                   CAST(floor(1.04629932386080576765952e20
                     / CAST(SUM(1::BIGINT << CAST(55 - rho AS INTEGER))
                       + (64 - COUNT(*)) * (1::BIGINT << 55) AS DOUBLE))
                     AS BIGINT) AS raw
            FROM r$r GROUP BY n))""")
    sb.toString
  }

  /** Oracle CTE chain shared by graph_scc / graph_condensation: the
    * directed edge list, the node universe, the transitive closure, and
    * the full SCC labeling (nontrivial labels from mutual reachability,
    * singletons labeling themselves) with per-SCC sizes. An INDEPENDENT
    * formulation of what the Spark side computes iteratively — the
    * strongest gate shape. Requires WITH RECURSIVE upstream.
    */
  private val sccOracleCtes: String = """
        e AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
               AND a.l_linenumber < b.l_linenumber
          WHERE a.l_partkey % 30 = 0 AND b.l_partkey % 30 = 0
            AND a.l_partkey <> b.l_partkey),
        nodes AS MATERIALIZED (
          SELECT DISTINCT n FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
        reach(src, dst) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.dst),
        mutual AS MATERIALIZED (
          SELECT a.src AS u, a.dst AS v
          FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
        lab AS MATERIALIZED (
          SELECT u AS n, MIN(LEAST(u, v)) AS scc FROM mutual GROUP BY 1),
        full_lab AS MATERIALIZED (
          SELECT n, scc FROM lab
          UNION ALL
          SELECT n, n AS scc FROM nodes
          WHERE n NOT IN (SELECT n FROM lab)),
        sizes AS MATERIALIZED (
          SELECT scc, COUNT(*) AS sz FROM full_lab GROUP BY 1)"""

  /** Per-user leave-last-out hit ranks (uid, hit_rank ∈ {1..3, null}) —
    * the rec_hitrate eval frame: holdout selection, the leakage-safe
    * TRAIN-split retrain through [[recTop3Pipeline]], and the eval join,
    * memoized per (session, input). Pass 1 of a bench run pays the
    * retrain in rec_hitrate's slot; later passes time warm — the
    * recTop3/triCommon attribution discipline.
    */
  private val recHitRankFrames = new graft.SessionMemo[String, DataFrame]

  private def recHitRanks(s: SparkSession, d: String): DataFrame =
    // timed → the bench "artifacts" block (the leakage-safe retrain is
    // the other once-per-session cost min-over-passes hid in r15)
    recHitRankFrames(s, d)(graft.MemoTimings.timed(s.sparkContext.applicationId,
        "recHitRanks") {
      // INCREMENTAL train split (r17): the retrain previously re-ran the
      // full lineitem pair self-join and the full ownership distinct over
      // trainLi — 98% of which is identical to the full-face artifacts,
      // since the holdout removes exactly ONE (order, part) row per user.
      // The train-side pair weights / ownership are therefore MAINTAINED
      // from the cached full artifacts by subtracting each held row's
      // contribution (the JoinIvm delta discipline):
      //   pr_T(u,v)  = pr_full(u,v) − #{held orders whose held part is
      //                u or v and whose basket contains the other}
      //     (exact: one held row per order, so a basket never loses two
      //      parts, and a pair loses exactly one order per held order
      //      that contains it through its held part);
      //   owned_T    = owned_full minus the (uid, held_p) pairs (held_p
      //                never occurs in the user's other orders by the
      //                anti-join construction, so subtraction is exact);
      //   pop_T      = row counts over trainLi (one cheap anti-join+agg —
      //                no self-join).
      // Profiled r17: the retrain's pair self-join + owned distinct were
      // ~5 s of the 7.5 s build; the deltas are |held|-sized joins.
      val (li, ownedF) = recBase(s, d)
      val sc0 = s.sparkContext
      val ord = orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      sc0.setJobDescription("recHitRanks: lastOrd")
      val lastOrd = ord.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_custkey").as("uid"), col("o_orderkey").as("last_ok"))
        .localCheckpoint(true) // feeds lastParts AND earlier
      val lastParts = li.join(lastOrd, col("l_orderkey") === col("last_ok"))
        .select(col("uid"), col("last_ok"), col("l_partkey").as("p"))
      val earlier = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(lastOrd, col("o_custkey") === lastOrd("uid")
          && col("o_orderkey") =!= col("last_ok"))
        .select(lastOrd("uid"), col("l_partkey").as("p"))
        .distinct()
      sc0.setJobDescription("recHitRanks: held")
      val held = lastParts.join(earlier, Seq("uid", "p"), "left_anti")
        .groupBy("uid", "last_ok").agg(min("p").as("held_p"))
        .localCheckpoint(true) // consumed by all three deltas AND the eval join
      val trainLi = li.join(
        held.select(col("last_ok").as("l_orderkey"),
          col("held_p").as("l_partkey")),
        Seq("l_orderkey", "l_partkey"), "left_anti") // feeds pop only
      // checkpointed: consumed by BOTH sides of the top3 anti-join
      sc0.setJobDescription("recHitRanks: ownedT")
      val ownedT = ownedF
        .join(held.select(col("uid"), col("held_p").as("p")),
          Seq("uid", "p"), "left_anti")
        .localCheckpoint(true)
      val delta = li
        .join(held.select(col("last_ok").as("l_orderkey"), col("held_p")),
          "l_orderkey")
        .filter(col("l_partkey") =!= col("held_p"))
        .select(least(col("l_partkey"), col("held_p")).as("u"),
          greatest(col("l_partkey"), col("held_p")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("dw"))
      // the delta (|held|-sized) is checkpointed; the maintained pr is
      // LEFT AS A PLAN over the persisted full artifact + broadcast
      // delta, so the scoring's two union legs re-run a cheap broadcast
      // join instead of scanning a full row-RDD copy of pr (the
      // full-face pattern: pr is read twice from the columnar cache)
      sc0.setJobDescription("recHitRanks: prT delta")
      val deltaCk = delta.localCheckpoint(true)
      val prT = graft.analytics.GraphArtifacts.coPurchaseWeighted(s, d)
        .join(broadcast(deltaCk), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("w") - coalesce(col("dw"), lit(0L))).as("w"))
        .filter(col("w") > 0)
      val top3 = recTop3Pipeline(trainLi, ownedT, prT)
      sc0.setJobDescription("recHitRanks: score+eval")
      val built = held.join(top3,
          held("uid") === top3("uid") && col("cand") === col("held_p"),
          "left")
        .groupBy(held("uid")).agg(min("rank").as("hit_rank"))
        .localCheckpoint(true)
      sc0.setJobDescription(null)
      built
    })

  /** The per-customer order-chain edge list (lag over the per-customer
    * window — DEEP PATHS, the adversarial regime for label
    * propagation) and its LSSS component labels, memoized per
    * (session, sfDir): graph_components and graph_modularity share ONE
    * run.
    */
  private val chainLabelFrames = new graft.SessionMemo[String, DataFrame]

  private def chainEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    orders(s, d).select(col("o_custkey"), col("o_orderkey"))
      .withColumn("prev", lag("o_orderkey", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col("o_orderkey").as("doc_b"))
  }

  private def chainLabels(s: SparkSession, d: String): DataFrame =
    chainLabelFrames(s, d)(graft.analytics.DedupQueries
      .connectedComponentsLSSS(chainEdges(s, d))._1.persist())

  /** The shared degree-oriented edge-iterator intersection stage: per
    * oriented edge s→t (oriented from the (degree, id)-smaller
    * endpoint), common = out(s) ∩ out(t) — each element c closes
    * triangle (s, t, c) with s the apex. Out-adjacency arrays are
    * built once, sorted, and intersected by the native two-pointer
    * kernel (SortedIntersectLong) — the wedge volume travels as packed
    * array payload inside |E| join rows, never as shuffled wedge rows.
    * Cached per (session, sfDir): graph_triangles,
    * graph_clustering_coeff and graph_edge_jaccard share ONE run.
    * Returns (withCommon, deg) — deg the undirected degree table.
    */
  private def triCommon(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val edges = coPurchaseEdges(s, d)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oe = edges
      .join(broadcast(deg.withColumnRenamed("n", "u")
        .withColumnRenamed("deg", "du")), "u")
      .join(broadcast(deg.withColumnRenamed("n", "v")
        .withColumnRenamed("deg", "dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
    // out-adjacency per node, sorted so the two-pointer intersect runs
    // over ordered arrays; |outs| ≤ O(√|E|) by the orientation bound
    val adjDef = oe.groupBy(col("s").as("n"))
      .agg(sort_array(collect_list(col("t"))).as("outs"))
    val withCommon = graft.analytics.Corpus.cachedTimed(s, d, "triCommon") {
      // r17 (VERDICT #1): the old shape joined `oe` with `adj` TWICE —
      // three independent recomputations of the oriented-edge subtree,
      // two of the collect_list aggregation, and two array-payload
      // shuffles. The adjacency is checkpointed ONCE, the (s, t) edge
      // stream is recovered by exploding it (an oriented edge IS an
      // adjacency entry — no join needed to attach ou), and only the
      // t-side lookup remains a join: 1 agg + 1 join instead of
      // 2 aggs + 2 joins, and the Σ deg_out² wedge payload crosses an
      // exchange at most once. Row set is identical by construction.
      val adj = adjDef.localCheckpoint(true)
      adj.select(col("n").as("s"), col("outs").as("ou"),
          explode(col("outs")).as("t"))
        .join(adj.select(col("n").as("t"), col("outs").as("ov")), "t")
        .select(col("s"), col("t"),
          graft.functions.ArraySetFunctions
            .sortedIntersectLong(col("ou"), col("ov")).as("common"))
        .filter(size(col("common")) > 0)
    }
    (withCommon, graft.analytics.Corpus.cached(s, d, "triDeg")(deg))
  }

  /** Per-node triangle counts over [[coPurchaseEdges]] via the shared
    * [[triCommon]] stage (see the graph_triangles doc comment for the
    * full cost argument). Returns (n, n_tri) for every node in ≥ 1
    * triangle; zero-triangle nodes are absent (left join + coalesce at
    * the consumer if needed). Also returns the undirected degree table
    * (n, deg) computed from the same edge list.
    */
  private def triPerNode(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (withCommon, deg) = triCommon(s, d)
    val perNode = graft.analytics.Corpus.cached(s, d, "triPerNode") {
      withCommon.select(explode(concat(
          array(
            struct(col("s").as("n"), size(col("common")).cast("long").as("c")),
            struct(col("t").as("n"), size(col("common")).cast("long").as("c"))),
          transform(col("common"),
            x => struct(x.as("n"), lit(1L).as("c"))))).as("e"))
        .groupBy(col("e.n").as("n")).agg(sum(col("e.c")).as("n_tri"))
    }
    (perNode, deg)
  }

  /** Per-EDGE triangle counts from the same cached [[triCommon]]
    * stage: triangle (s, t, c) contains exactly the three undirected
    * edges (s,t), (s,c), (t,c), so exploding three normalized
    * (min, max) pairs per triangle and hash-aggregating yields
    * |N(u) ∩ N(v)| for every edge in ≥ 1 triangle. Total explode
    * output is 3·triangles rows — the same volume bound as the
    * per-node pass, and the key insight that makes FULL-neighborhood
    * edge similarity computable from the DEGREE-ORIENTED engine: the
    * common-neighbor count of a connected pair IS its edge-triangle
    * count, so no unoriented Σdeg² adjacency shipping ever happens.
    */
  private def triPerEdge(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (withCommon, deg) = triCommon(s, d)
    val perEdge = graft.analytics.Corpus.cached(s, d, "triPerEdge") {
      withCommon.select(explode(concat(
          array(struct(least(col("s"), col("t")).as("x"),
            greatest(col("s"), col("t")).as("y"),
            size(col("common")).cast("long").as("c"))),
          transform(col("common"), cc => struct(
            least(col("s"), cc).as("x"), greatest(col("s"), cc).as("y"),
            lit(1L).as("c"))),
          transform(col("common"), cc => struct(
            least(col("t"), cc).as("x"), greatest(col("t"), cc).as("y"),
            lit(1L).as("c"))))).as("e"))
        .groupBy(col("e.x").as("a"), col("e.y").as("b"))
        .agg(sum(col("e.c")).as("tri_e"))
    }
    (perEdge, deg)
  }

  /** Shared oracle CTE prefix mirroring [[triPerNode]] declaratively
    * (wedge formulation — algorithm-independent; DuckDB handles the
    * wedge join fine at oracle SFs).
    */
  private val triOracleCtes: String = """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        deg AS (
          SELECT x AS n, count(*) AS d FROM (
            SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
          GROUP BY 1),
        oe AS (
          SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                      THEN e.u ELSE e.v END AS s,
                 CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                      THEN e.v ELSE e.u END AS t
          FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        tri AS (
          SELECT e1.s AS a, e1.t AS b, e2.t AS c
          FROM oe e1 JOIN oe e2 ON e1.s = e2.s AND e1.t < e2.t
          JOIN edges e3 ON e3.u = e1.t AND e3.v = e2.t),
        pernode AS (
          SELECT n, CAST(count(*) AS BIGINT) AS n_tri FROM (
            SELECT a AS n FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1)"""

  val all: Seq[QuerySpec] = Seq(

    // ───── A4 hash aggregation, partial+final (TPC-H Q1 shape).
    // Exact-integer formulation: every measure is summed as BIGINT cents
    // (2-decimal inputs scale exactly; products stay far under 2^63) with
    // ONE double division at the end — the sums run in whole-stage
    // codegen as plain long adds, ~5× faster than Spark's decimal
    // aggregation path, and the int64→double conversions round
    // identically in both engines.
    QuerySpec(
      "q1_agg",
      (s, d) => {
        val qtyC = round(col("l_quantity") * 100).cast("long")
        val priceC = round(col("l_extendedprice") * 100).cast("long")
        val discC = round(col("l_discount") * 100).cast("long")
        val taxC = round(col("l_tax") * 100).cast("long")
        lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            (sum(qtyC).cast("double") / 100.0).as("sum_qty"),
            (sum(priceC).cast("double") / 100.0).as("sum_base_price"),
            (sum(priceC * (lit(100L) - discC)).cast("double") / 10000.0).as("sum_disc_price"),
            (sum(priceC * (lit(100L) - discC) * (lit(100L) + taxC)).cast("double") / 1000000.0)
              .as("sum_charge"),
            (sum(qtyC).cast("double") / (lit(100.0) * count(lit(1)))).as("avg_qty"),
            count(lit(1)).as("count_order"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS sum_qty,
               CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS sum_base_price,
               CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000.0 AS sum_disc_price,
               CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                             * (100 - CAST(round(l_discount*100) AS BIGINT))
                             * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_charge,
               CAST(CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")),

    // ───── J2 fact-fact-dim join + agg + top-k (TPC-H Q3 shape).
    // customer is a dim => Catalyst broadcasts it; orders⋈lineitem shuffles
    // on o_orderkey once; top-k is TakeOrderedAndProject (no global sort).
    QuerySpec(
      "q3_topk",
      (s, d) => customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenueSum.as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      Some(s"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               $revenueSumSql AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ───── J2/J4 snowflake join with broadcast dims (TPC-H Q5 shape)
    QuerySpec(
      "q5_region_revenue",
      (s, d) => {
        val dims = broadcast(
          nation(s, d).join(region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey")))
        customer(s, d)
          .join(dims, col("c_nationkey") === col("n_nationkey"))
          .join(orders(s, d), col("c_custkey") === col("o_custkey"))
          .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy("n_name")
          .agg(revenueSum.as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""
        SELECT n_name,
               $revenueSumSql AS revenue,
               COUNT(*) AS n_items
        FROM region JOIN nation ON n_regionkey = r_regionkey
                    JOIN customer ON c_nationkey = n_nationkey
                    JOIN orders ON o_custkey = c_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name""")),

    // ───── TPC-H Q18 shape (large-volume orders): group-HAVING on the
    // fact table → join the survivors back to orders/customer → global
    // top-20. The HAVING prunes ~98.5% of orders BEFORE any join (the
    // aggregate is partial+final over one fact shuffle), customer joins
    // broadcast, and the final order-by-limit runs as
    // TakeOrderedAndProject — at 100× the fact table this is one shuffle
    // plus small-side work. Quantities sum as exact cents; the top-20
    // tie-breaks on o_orderkey for a deterministic set.
    QuerySpec(
      "q18_big_orders",
      (s, d) => {
        val big = lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
          .filter(col("qty_cents") > 25000L) // sum(l_quantity) > 250
        orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"),
            (col("qty_cents").cast("double") / 100.0).as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               CAST(t.qty_cents AS DOUBLE) / 100.0 AS total_qty
        FROM (SELECT l_orderkey,
                     CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000) t
        JOIN orders o ON o.o_orderkey = t.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 20""")),

    // ───── TPC-H Q9 shape (profit by supplier nation × ship year): the
    // fact table joins THREE dimensions — part (2k rows), supplier
    // (100), nation (25) — all broadcast, so the only shuffle is the
    // final (nation, year) hash-agg with map-side partials. This is the
    // canonical star-join: at 100× the fact table the plan is unchanged
    // (dims stay broadcast-sized), which is exactly why it's the shape
    // to pin. Also the first coverage of the part/supplier tables.
    QuerySpec(
      "q9_profit_by_nation_year",
      (s, d) => lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .withColumn("o_year", year(col("l_shipdate")))
        .groupBy("n_name", "o_year")
        .agg(revenueSum.as("revenue"), count(lit(1)).as("n_items")),
      Some(s"""
        SELECT n_name, CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS o_year,
               $revenueSumSql AS revenue, COUNT(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
                      JOIN supplier ON s_suppkey = l_suppkey
                      JOIN nation ON n_nationkey = s_nationkey
        GROUP BY n_name, o_year""")),

    // ───── TPC-H Q14 shape (promo revenue share by ship month): a
    // conditional aggregate ratio — CASE inside the sum, one broadcast
    // part join, one month hash-agg. The share divides two exact
    // cents-sums as doubles (both far under 2^53, multiply-then-divide
    // in the same order in both engines), so the ratio is bit-identical.
    QuerySpec(
      "q14_promo_share",
      (s, d) => lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .withColumn("month", date_trunc("month", col("l_shipdate")).cast("date"))
        .withColumn("cents", round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .groupBy("month")
        .agg(
          (sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L)).cast("double")
            * 100.0 / sum(col("cents")).cast("double")).as("promo_share"),
          (sum(col("cents")).cast("double") / 10000.0).as("revenue")),
      Some("""
        SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
               CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS DOUBLE)
                 * 100.0 / CAST(SUM(cents) AS DOUBLE) AS promo_share,
               CAST(SUM(cents) AS DOUBLE) / 10000.0 AS revenue
        FROM (SELECT l_shipdate, p_type,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS cents
              FROM lineitem JOIN part ON p_partkey = l_partkey)
        GROUP BY month""")),

    // ───── J6 left-semi: orders having any heavy lineitem
    QuerySpec(
      "join_semi",
      (s, d) => orders(s, d).join(
        lineitem(s, d).filter(col("l_quantity") >= 49),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice"),
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""")),

    // ───── J6 left-anti: customers with no orders (the MERGE delete path's
    // join shape — load-bearing for J1)
    QuerySpec(
      "join_anti",
      (s, d) => customer(s, d).join(orders(s, d),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // ───── J2 left-outer + agg preserving unmatched rows
    QuerySpec(
      "join_outer_agg",
      (s, d) => customer(s, d).join(orders(s, d),
        col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent")),
      Some("""
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
               COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name""")),

    // ───── W2 ranking: top-3 orders per customer (row_number, unique tiebreak)
    QuerySpec(
      "window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders) WHERE rk <= 3""")),

    // ───── W2 analytic frame: per-customer running spend
    QuerySpec(
      "window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (sum(round(col("o_totalprice") * 100).cast("long")).over(w)
            .cast("double") / 100.0).as("running_spend"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        FROM orders""")),

    // ───── §2.7 set ops: EXCEPT (distinct semantics in both engines)
    QuerySpec(
      "setop_except",
      (s, d) => {
        val o = orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
          .except(o.filter(year(col("o_orderdate")) === 2001).select("o_custkey"))
      },
      Some("""
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001""")),

    // ───── §2.7 set ops: INTERSECT
    QuerySpec(
      "setop_intersect",
      (s, d) => {
        val o = orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
          .intersect(o.filter(year(col("o_orderdate")) === 2000).select("o_custkey"))
      },
      Some("""
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000""")),

    // ───── §2.7 set ops, BAG semantics (r12): INTERSECT ALL / EXCEPT
    // ALL — the multiset forms the distinct-semantics trio above can't
    // express (multiplicities subtract and min instead of collapsing:
    // a customer with 3 orders in 1995 and 1 in 1996 keeps 2 rows in
    // the difference and 1 in the intersection). Both engines implement
    // the SQL-standard multiplicity arithmetic; one tagged union holds
    // the pair under a single oracle gate.
    QuerySpec(
      "setop_bag_all",
      (s, d) => {
        val o = orders(s, d)
        val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        a.exceptAll(b).withColumn("op", lit("except_all"))
          .unionAll(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      },
      Some("""
        SELECT o_custkey, 'except_all' AS op FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
          EXCEPT ALL
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        UNION ALL
        SELECT o_custkey, 'intersect_all' AS op FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
          INTERSECT ALL
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)""")),

    // ───── A8 grouping sets: ROLLUP over flag×status
    QuerySpec(
      "agg_rollup",
      (s, d) => lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // ───── A8 grouping sets: full CUBE over flag×status
    QuerySpec(
      "agg_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // ───── §2.7 set ops: UNION (distinct semantics)
    QuerySpec(
      "setop_union",
      (s, d) => {
        val o = orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
          .union(o.filter(year(col("o_orderdate")) === 2000).select("o_custkey"))
          .distinct()
      },
      Some("""
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        UNION
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000""")),

    // ───── §2.10 generator surface: explode/unnest (the L-attribute
    // unnesting path) — token explode + frequency aggregation
    QuerySpec(
      "explode_tokens",
      (s, d) => documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs")),
      Some("""
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token""")),

    // ───── J2 range/interval join: each purchase paired with the same
    // user's signups in the preceding 7 days (equi-key + range predicate —
    // the shuffle is on user_id; the range bound keeps per-key fan-out
    // small, which is what makes interval joins tractable at scale)
    QuerySpec(
      "join_range",
      (s, d) => {
        val e = events(s, d)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val g = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("s_id"), col("user_id"), col("ts").as("s_ts"))
        p.join(g, Seq("user_id"))
          .filter(col("s_ts") <= col("p_ts") &&
            col("s_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
          .groupBy("p_id", "user_id")
          .agg(count(lit(1)).as("n_signups"), min(col("s_id")).as("first_signup"))
      },
      Some("""
        SELECT p.event_id AS p_id, p.user_id,
               COUNT(*) AS n_signups, MIN(s.event_id) AS first_signup
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id
         AND s.ts <= p.ts AND s.ts > p.ts - INTERVAL 7 DAY
        GROUP BY p.event_id, p.user_id""")),

    // ───── J13 2-D grid-bucketed spatial radius join (r10): all
    // (probe, base) pairs within Chebyshev radius r on a synthetic but
    // deterministic 2-D embedding of customers (x = shifted acctbal
    // cents, y = a Knuth-hash scatter of the key — non-negative on both
    // axes so cell = coord div r floors identically in both engines).
    // The scale shape is the standard grid-file join: probes explode to
    // their 3×3 neighbor cells (a constant 9× fan-out), the join is an
    // EQUI-join on cell id (shards at any scale; never the quadratic
    // cross-filter), and the exact radius predicate prunes the
    // candidates. Each true pair matches in exactly one cell — the
    // base point's own — so no dedup pass is needed. The ORACLE is
    // algorithm-independent: DuckDB evaluates the direct quadratic
    // radius join, so a wrong neighbor enumeration (the classic
    // missed-boundary-cell bug) loses pairs and fails the hash.
    QuerySpec(
      "join_radius_grid",
      (s, d) => {
        val r = 20000L
        val pts = customer(s, d).select(
          col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
          (expr("cast(round(c_acctbal * 100) as bigint)") + 100000L).as("x"),
          expr("(c_custkey * 2654435761) % 1000000").as("y"))
        val probes = pts.filter(col("seg") === "BUILDING")
          .select(col("id").as("pid"), col("x").as("px"), col("y").as("py"))
          .withColumn("o", explode(expr(
            (for (ox <- -1 to 1; oy <- -1 to 1)
              yield s"struct($ox as ox, $oy as oy)")
              .mkString("array(", ", ", ")"))))
          .select(col("pid"), col("px"), col("py"),
            (expr(s"px div ${r}L") + col("o.ox")).as("cx"),
            (expr(s"py div ${r}L") + col("o.oy")).as("cy"))
        val base = pts.filter(col("seg") =!= "BUILDING")
          .select(col("id").as("bid"), col("x").as("bx"), col("y").as("by"),
            expr(s"x div ${r}L").as("cx"), expr(s"y div ${r}L").as("cy"))
        probes.join(base, Seq("cx", "cy"))
          .filter(abs(col("px") - col("bx")) <= r &&
            abs(col("py") - col("by")) <= r)
          .groupBy(expr(s"greatest(abs(px - bx), abs(py - by)) * 10 div ${r}L")
            .as("dist_decile"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("pid")).as("min_probe"),
            sum(col("pid") + col("bid")).as("id_sum"))
      },
      Some("""
        WITH pts AS (
          SELECT c_custkey AS id, c_mktsegment AS seg,
                 CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS x,
                 (c_custkey * 2654435761) % 1000000 AS y
          FROM customer),
        pairs AS (
          SELECT a.id AS pid, b.id AS bid,
                 GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) AS dc
          FROM pts a JOIN pts b
            ON a.seg = 'BUILDING' AND b.seg <> 'BUILDING'
           AND ABS(a.x - b.x) <= 20000 AND ABS(a.y - b.y) <= 20000)
        SELECT dc * 10 // 20000 AS dist_decile, COUNT(*) AS n_pairs,
               CAST(MIN(pid) AS BIGINT) AS min_probe,
               CAST(SUM(pid + bid) AS BIGINT) AS id_sum
        FROM pairs GROUP BY 1""")),

    // ───── Grid-bucketed spatial kNN JOIN (r14): join_radius_grid's
    // sibling with per-probe TOP-K semantics — "each store's 3 nearest
    // warehouses", the spatial analog of the ANN top-k. Same 2-D grid
    // decomposition (candidates = the probe's 3×3 cell neighborhood at
    // cell size r, an equi-join on cell ids — never point×point), then
    // the BOUNDED per-probe top-3 rides TopKPairsAgg-style map-side
    // combine ([[graft.functions.TopKScoredAgg]]): ≤3 pairs per probe
    // per partition cross the wire, where a row_number window would
    // shuffle every candidate into |probes| partitions (the
    // agg_group_topk scale argument). Semantics are bounded-radius kNN
    // (neighbors past Chebyshev r are not candidates — the standard
    // grid-kNN first tier; probes with fewer than 3 in-range neighbors
    // return fewer rows). The (−dist, id) double score is exact for
    // integer dists < 2^53, so the (dist ASC, id ASC) total order is
    // engine-identical. Output: per-rank checksum rows.
    QuerySpec(
      "join_knn_grid",
      (s, d) => {
        val r = 20000L
        val pts = customer(s, d).select(
          col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
          (expr("cast(round(c_acctbal * 100) as bigint)") + 100000L).as("x"),
          expr("(c_custkey * 2654435761) % 1000000").as("y"))
        val probes = pts.filter(col("seg") === "BUILDING")
          .select(col("id").as("pid"), col("x").as("px"), col("y").as("py"))
          .withColumn("o", explode(expr(
            (for (ox <- -1 to 1; oy <- -1 to 1)
              yield s"struct($ox as ox, $oy as oy)")
              .mkString("array(", ", ", ")"))))
          .select(col("pid"), col("px"), col("py"),
            (expr(s"px div ${r}L") + col("o.ox")).as("cx"),
            (expr(s"py div ${r}L") + col("o.oy")).as("cy"))
        val base = pts.filter(col("seg") =!= "BUILDING")
          .select(col("id").as("bid"), col("x").as("bx"), col("y").as("by"),
            expr(s"x div ${r}L").as("cx"), expr(s"y div ${r}L").as("cy"))
        val topk = udaf(new graft.functions.TopKScoredAgg(3),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
        probes.join(base, Seq("cx", "cy"))
          .select(col("pid"), col("bid"),
            greatest(abs(col("px") - col("bx")),
              abs(col("py") - col("by"))).as("dc"))
          .filter(col("dc") <= r)
          .groupBy("pid")
          .agg(topk((-col("dc")).cast("double"), col("bid")).as("top"))
          .select(col("pid"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("pid"), (col("pos") + 1).as("rank"),
            col("t._2").as("bid"), (-col("t._1")).cast("long").as("dc"))
          .groupBy("rank")
          .agg(count(lit(1)).as("n_probes"),
            sum(col("pid")).as("probe_sum"), sum(col("bid")).as("nbr_sum"),
            sum(col("dc")).as("dist_sum"), min(col("pid")).as("min_probe"))
      },
      Some("""
        WITH pts AS (
          SELECT c_custkey AS id, c_mktsegment AS seg,
                 CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS x,
                 (c_custkey * 2654435761) % 1000000 AS y
          FROM customer),
        pairs AS (
          SELECT a.id AS pid, b.id AS bid,
                 GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) AS dc
          FROM pts a JOIN pts b
            ON a.seg = 'BUILDING' AND b.seg <> 'BUILDING'
           AND ABS(a.x - b.x) <= 20000 AND ABS(a.y - b.y) <= 20000),
        ranked AS (
          SELECT pid, bid, dc,
                 ROW_NUMBER() OVER (PARTITION BY pid
                   ORDER BY dc ASC, bid ASC) AS rank
          FROM pairs)
        SELECT rank, COUNT(*) AS n_probes,
               CAST(SUM(pid) AS BIGINT) AS probe_sum,
               CAST(SUM(bid) AS BIGINT) AS nbr_sum,
               CAST(SUM(dc) AS BIGINT) AS dist_sum,
               CAST(MIN(pid) AS BIGINT) AS min_probe
        FROM ranked WHERE rank <= 3 GROUP BY 1""")),

    // ───── A6 distinct aggregation
    QuerySpec(
      "agg_distinct",
      (s, d) => orders(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders")),
      Some("""
        SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority""")),

    // ───── ANSI LISTAGG / string_agg (r14): deterministic grouped
    // string aggregation — the report-building surface every SQL
    // dialect ships and every naive port gets WRONG by collecting in
    // partition order (non-deterministic across retries/engines). The
    // discipline: an explicit total order INSIDE the aggregate — Spark
    // sorts the collected array before joining, DuckDB orders inside
    // string_agg — so the output string is a pure function of the set.
    // Bounded by construction here (nations per region, ship modes per
    // priority ≤ 7 distinct); for data-sized groups the right tool is
    // agg_group_topk's bounded aggregate, not an unbounded listagg.
    QuerySpec(
      "agg_listagg",
      (s, d) => {
        val regions = nation(s, d)
          .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("grp"))
          .agg(count(lit(1)).as("n_members"),
            array_join(sort_array(collect_list(col("n_name"))), ",")
              .as("members"))
          .select(lit("region_nations").as("family"), col("grp"),
            col("n_members"), col("members"))
        val flags = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
            concat(col("l_returnflag"), col("l_linestatus")).as("fl"))
          .distinct()
          .groupBy(col("o_orderpriority").as("grp"))
          .agg(count(lit(1)).as("n_members"),
            array_join(sort_array(collect_list(col("fl"))), ",").as("members"))
          .select(lit("priority_flagstates").as("family"), col("grp"),
            col("n_members"), col("members"))
        regions.unionByName(flags)
      },
      Some("""
        SELECT 'region_nations' AS family, r_name AS grp,
               COUNT(*) AS n_members,
               string_agg(n_name, ',' ORDER BY n_name) AS members
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        UNION ALL
        SELECT 'priority_flagstates' AS family, o_orderpriority AS grp,
               COUNT(*) AS n_members,
               string_agg(fl, ',' ORDER BY fl) AS members
        FROM (SELECT DISTINCT o_orderpriority,
                     l_returnflag || l_linestatus AS fl
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        GROUP BY o_orderpriority""")),

    // ───── ANSI GROUPING SETS (r14): the general form rollup/cube are
    // special cases of — arbitrary grouping combinations in ONE pass
    // with GROUPING() disambiguating the NULL-as-total rows from real
    // NULLs (the correctness detail naive ports lose). Spark plans one
    // Expand + hash-agg (each input row fans out once per set — k×
    // map-side, no extra shuffles); the oracle runs the identical
    // standard syntax.
    QuerySpec(
      "sql_grouping_sets",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_gs_v")
        s.sql("""
          SELECT o_orderpriority, o_orderstatus,
                 GROUPING(o_orderpriority) AS g_pri,
                 GROUPING(o_orderstatus) AS g_st,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM orders_gs_v
          GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                  (o_orderpriority), (o_orderstatus), ())""")
      },
      Some("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())""")),

    // ───── ANSI UNPIVOT (r14): the wide→long inverse of agg_pivot as
    // the SQL-surface statement (Spark and DuckDB both ship the
    // standard `UNPIVOT (value FOR name IN (...))` clause) — the shape
    // every metrics warehouse round-trips: pivot per-day type counts to
    // 5 columns, UNPIVOT back to (day, event_type, cnt), and aggregate
    // per type. The round-trip totals must equal the direct per-type
    // counts, so the oracle proves the statement's semantics, not just
    // that it parses; zero-count cells survive the round trip as
    // explicit zeros (the gapfill discipline), making n_days the
    // calendar length for every type.
    QuerySpec(
      "sql_unpivot",
      (s, d) => {
        events(s, d).createOrReplaceTempView("events_v")
        s.sql("""
          WITH p AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase,
                   SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view
            FROM events_v GROUP BY 1)
          SELECT event_type, COUNT(*) AS n_days,
                 CAST(SUM(cnt) AS BIGINT) AS n_events,
                 CAST(MIN(cnt) AS BIGINT) AS min_daily,
                 CAST(MAX(cnt) AS BIGINT) AS max_daily
          FROM p UNPIVOT (cnt FOR event_type IN (click, error, purchase, signup, view))
          GROUP BY event_type""")
      },
      Some("""
        WITH p AS (
          SELECT CAST(ts AS DATE) AS day,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
                 SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase,
                 SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view
          FROM events GROUP BY 1)
        SELECT event_type, COUNT(*) AS n_days,
               CAST(SUM(cnt) AS BIGINT) AS n_events,
               CAST(MIN(cnt) AS BIGINT) AS min_daily,
               CAST(MAX(cnt) AS BIGINT) AS max_daily
        FROM p UNPIVOT (cnt FOR event_type IN (click, error, purchase, signup, view))
        GROUP BY event_type""")),

    // ───── A4 pivot: event counts spread into one column per event type
    // (explicit value list — no extra distinct-values pass, and the
    // output schema is static, which a production pipeline needs anyway)
    QuerySpec(
      "agg_pivot",
      (s, d) => events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("error"), lit(0L)).as("error")),
      Some("""
        SELECT user_id,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        FROM events GROUP BY user_id""")),

    // ───── A4 unpivot/melt: wide metric columns back to (metric, value)
    // rows — stack() is the generator form, the inverse of pivot
    QuerySpec(
      "agg_unpivot",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(3, 'quantity', l_quantity,
                           'price', l_extendedprice,
                           'discount', l_discount) as (metric, val)"""))
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), dsum(col("val")).as("sum_val")),
      Some("""
        SELECT metric, COUNT(*) AS n,
               CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        FROM (
          SELECT l_orderkey, l_linenumber, u.metric, u.val
          FROM lineitem, LATERAL (VALUES ('quantity', l_quantity),
                                         ('price', l_extendedprice),
                                         ('discount', l_discount)) u(metric, val))
        GROUP BY metric""")),

    // ───── A4 sketch aggregation: HLL++ approximate distinct. The raw
    // estimate can't be oracle-compared (DuckDB's sketch differs by
    // construction), so the CONTRACT is checked instead: the exact
    // countDistinct is hash-compared, and the estimate is pinned to its
    // documented error envelope (HLL++ default rsd 5%; flag allows 3σ) as
    // a boolean the oracle asserts as literal truth — a Spark regression
    // pushing the sketch out of tolerance flips the flag and FAILS the
    // gate, where a rows-only check would shrug.
    QuerySpec(
      "agg_approx_distinct",
      (s, d) => orders(s, d).groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_raw"),
          countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("o_orderpriority"), col("exact_customers"),
          (abs(col("approx_raw") - col("exact_customers"))
            <= col("exact_customers") * 0.15).as("approx_within_tolerance")),
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
               true AS approx_within_tolerance
        FROM orders
        GROUP BY o_orderpriority""")),

    // ───── O2 global top-k (TakeOrderedAndProject, no full sort)
    QuerySpec(
      "topk_global",
      (s, d) => orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // ───── event-analytics: signup→purchase conversion funnel by monthly
    // cohort. Two passes over events (conditional min aggregations), one
    // shuffle on user_id, then a tiny cohort rollup — no self-join.
    QuerySpec(
      "events_funnel",
      (s, d) => {
        val perUser = events(s, d)
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
            min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
          .filter(col("first_signup").isNotNull)
          .withColumn("converted",
            col("first_purchase").isNotNull && col("first_purchase") >= col("first_signup"))
          .withColumn("wait_us",
            when(col("converted"),
              unix_micros(col("first_purchase")) - unix_micros(col("first_signup"))))
        perUser
          .groupBy(date_trunc("month", col("first_signup")).as("cohort_month"))
          .agg(
            count(lit(1)).as("n_users"),
            count(when(col("converted"), lit(1))).as("n_converted"),
            sum(col("wait_us")).as("sum_wait_us"))
      },
      Some("""
        SELECT date_trunc('month', first_signup) AS cohort_month,
               COUNT(*) AS n_users,
               COUNT(CASE WHEN converted THEN 1 END) AS n_converted,
               CAST(SUM(wait_us) AS BIGINT) AS sum_wait_us
        FROM (
          SELECT user_id, first_signup, first_purchase,
                 first_purchase IS NOT NULL AND first_purchase >= first_signup AS converted,
                 CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_signup
                      THEN epoch_us(first_purchase) - epoch_us(first_signup) END AS wait_us
          FROM (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM events GROUP BY user_id)
          WHERE first_signup IS NOT NULL)
        GROUP BY 1""")),

    // ───── event-analytics: retention matrix — signup cohort month ×
    // months-since-signup, distinct active users. One join of the events
    // stream against the (small, broadcastable) per-user cohort map.
    QuerySpec(
      "events_retention",
      (s, d) => {
        val e = events(s, d)
        val cohorts = e.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(date_trunc("month", min(col("ts"))).as("cohort"))
        e.join(broadcast(cohorts), Seq("user_id"))
          .filter(col("ts") >= col("cohort"))
          .groupBy(col("cohort"),
            (months_between(date_trunc("month", col("ts")), col("cohort")))
              .cast("int").as("month_n"))
          .agg(countDistinct(col("user_id")).as("active_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""
        SELECT c.cohort, CAST(datediff('month', c.cohort, date_trunc('month', e.ts)) AS INTEGER) AS month_n,
               COUNT(DISTINCT e.user_id) AS active_users,
               COUNT(*) AS n_events
        FROM events e
        JOIN (SELECT user_id, date_trunc('month', MIN(ts)) AS cohort
              FROM events WHERE event_type = 'signup' GROUP BY user_id) c
          ON e.user_id = c.user_id
        WHERE e.ts >= c.cohort
        GROUP BY 1, 2""")),

    // ───── W2 completeness: first/last/nth value over an explicit
    // full-partition frame (r7). The default window frame (unbounded
    // preceding → CURRENT ROW) silently makes last_value = the current
    // row — the classic window bug — so the frame is explicit and the
    // order total (price, orderkey, linenumber) for cross-engine
    // determinism; one row per flag via distinct.
    QuerySpec(
      "window_nth_value",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("cents").desc, col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        lineitem(s, d)
          .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
          .select(col("l_returnflag"),
            first(col("cents")).over(w).as("top_cents"),
            nth_value(col("cents"), 2).over(w).as("second_cents"),
            last(col("cents")).over(w).as("bottom_cents"))
          .distinct()
      },
      Some("""
        SELECT DISTINCT l_returnflag,
               first_value(cents) OVER w AS top_cents,
               nth_value(cents, 2) OVER w AS second_cents,
               last_value(cents) OVER w AS bottom_cents
        FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              FROM lineitem)
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY cents DESC, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // ───── three-valued logic semantics (r7): the NULL edge cases every
    // engine must agree on — null-safe equality (<=> / IS NOT DISTINCT
    // FROM) vs plain = (null-killed), NULLIF construction, COALESCE
    // fallback, and COUNT vs COUNT(col) null skipping — exercised over
    // real data (nullable derived columns from lineitem), aggregated so
    // the oracle checks the SEMANTICS in bulk, not one hand-picked row.
    QuerySpec(
      "func_null_semantics",
      (s, d) => lineitem(s, d)
        .withColumn("q", round(col("l_quantity")).cast("long"))
        .withColumn("a", expr("nullif(q % 3, 0)"))
        .withColumn("b", expr("nullif(q % 5, 0)"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("a")).as("n_a_nonnull"),
          count(when(expr("a <=> b"), 1)).as("n_nullsafe_eq"),
          count(when(expr("a = b"), 1)).as("n_plain_eq"),
          count(when(expr("a <=> b") && col("a").isNull, 1)).as("n_both_null"),
          sum(coalesce(col("a"), lit(0L))).as("sum_a_coalesced")),
      Some("""
        SELECT l_returnflag,
               count(*) AS n_rows,
               count(a) AS n_a_nonnull,
               count(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 END) AS n_nullsafe_eq,
               count(CASE WHEN a = b THEN 1 END) AS n_plain_eq,
               count(CASE WHEN (a IS NOT DISTINCT FROM b) AND a IS NULL THEN 1 END)
                 AS n_both_null,
               CAST(SUM(COALESCE(a, 0)) AS BIGINT) AS sum_a_coalesced
        FROM (
          SELECT l_returnflag,
                 nullif(CAST(round(l_quantity) AS BIGINT) % 3, 0) AS a,
                 nullif(CAST(round(l_quantity) AS BIGINT) % 5, 0) AS b
          FROM lineitem)
        GROUP BY l_returnflag""")),

    // ───── Pearson correlation from exact-integer sufficient statistics
    // (r7): corr(quantity, price) per return flag WITHOUT the built-in
    // `corr` — its streaming-covariance accumulation is float-order-
    // dependent, so two engines (or two partitionings of the same
    // engine!) can disagree in the last ulps. Instead the five
    // sufficient sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate EXACTLY as
    // DECIMAL(38)/HUGEINT over integer cents — order-independent — and
    // the final r = (nΣxy−ΣxΣy)/(√(nΣx²−Σx²)·√(nΣy²−Σy²)) is a fixed
    // chain of correctly-rounded double ops, identical on both engines.
    // The same two-phase map-side-combine plan as any hash agg; the
    // pattern scales to any moment statistic (covariance, R², slope).
    QuerySpec(
      "agg_correlation",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n"),
          expr("""cast(
              (cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
              / (sqrt(cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double))
                 * sqrt(cast(n AS double) * cast(syy AS double) - cast(sy AS double) * cast(sy AS double)))
            AS double)""").as("r")),
      Some("""
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        FROM (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM (
            SELECT l_returnflag,
                   CAST(round(l_quantity * 100) AS HUGEINT) AS x,
                   CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
            FROM lineitem)
          GROUP BY l_returnflag)""")),

    // ───── A4 exact percentiles (interpolated): same rank definition
    // p*(n-1) in both engines; inputs quantized to integer cents so the
    // interpolation arithmetic stays on exact integer-valued doubles
    QuerySpec(
      "agg_weighted_median",
      (s, d) => {
        // WEIGHTED median per return flag (price weighted by quantity)
        // — the order-statistic the unweighted percentile family can't
        // express. Scale shape: NOT one window over the group (a
        // 3-partition window serializes the fact table through 3
        // tasks); the two-phase bucket search instead — (1) a hash-agg
        // histogram over 1024 corpus-derived value buckets + a window
        // over BUCKET cardinality locates the bucket holding the
        // weighted midpoint, (2) only THAT bucket's rows (~1/1024 of
        // the data) are ordered to find the exact row, seeded with the
        // preceding buckets' cumulative weight. The oracle is the
        // single-sort definition (full cumulative weight, first row
        // with 2·cum ≥ total) — algorithm-independent, so a bucket
        // boundary or seed error breaks the compare.
        val base = lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
          col("l_quantity").cast("long").as("wt"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        val mxc = base.agg(max("cents").as("mxc"))
        val bukd = base.crossJoin(broadcast(mxc))
          .withColumn("b", expr("cents * 1024L div (mxc + 1)"))
        val wb = Window.partitionBy("flag").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hist = bukd.groupBy("flag", "b").agg(sum("wt").as("bw"))
          .withColumn("cum", sum("bw").over(wb))
          .withColumn("totw", sum("bw").over(Window.partitionBy("flag")))
        val target = hist.filter(col("cum") * 2 >= col("totw"))
          .groupBy("flag").agg(min("b").as("tb"),
            max("totw").as("totw"))
          .join(hist.select(col("flag"), col("b").as("tb"),
            (col("cum") - col("bw")).as("seed")), Seq("flag", "tb"))
        val win = Window.partitionBy("flag").orderBy("cents", "ok", "ln")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bukd.as("x").join(broadcast(target.as("t")),
            col("x.flag") === col("t.flag") && col("x.b") === col("t.tb"))
          .select(col("x.flag").as("flag"), col("cents"), col("wt"),
            col("ok"), col("ln"), col("seed"), col("totw"))
          .withColumn("run", sum("wt").over(win))
          .filter((col("seed") + col("run")) * 2 >= col("totw"))
          .groupBy("flag")
          .agg(min(struct(col("cents"), col("ok"), col("ln"))).as("r"),
            max("totw").as("total_weight"))
          .select(col("flag"), col("r.cents").as("median_cents"),
            col("total_weight"))
      },
      Some("""
        WITH s AS (
          SELECT l_returnflag AS flag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                 CAST(l_quantity AS BIGINT) AS wt,
                 SUM(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_returnflag
                         ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                                  l_orderkey, l_linenumber) AS cumw,
                 SUM(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_returnflag) AS totw
          FROM lineitem)
        SELECT flag, CAST(MIN(cents) AS BIGINT) AS median_cents,
               CAST(MAX(totw) AS BIGINT) AS total_weight
        FROM s WHERE 2 * cumw >= totw GROUP BY flag""")),

    QuerySpec(
      "agg_percentile",
      (s, d) => events(s, d)
        .withColumn("cents", floor(col("value") * 100))
        .groupBy("event_type")
        .agg(
          expr("percentile(cents, array(0.5D, 0.9D))").as("pcts"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          col("pcts")(0).as("p50_cents"),
          col("pcts")(1).as("p90_cents"),
          col("n")),
      Some("""
        SELECT event_type,
               pcts[1] AS p50_cents, pcts[2] AS p90_cents, n
        FROM (
          SELECT event_type,
                 quantile_cont(floor(value * 100), [0.5, 0.9]) AS pcts,
                 COUNT(*) AS n
          FROM events GROUP BY event_type)""")),

    // ───── A8 approximate percentile (KLL-style quantile sketch via
    // Spark's approx_percentile): like agg_approx_distinct, the sketch
    // internals are not cross-engine comparable, so the ORACLE checks the
    // CONTRACT — the exact interpolated p50 rides along hash-compared,
    // and the sketch estimate is pinned inside a 5% value envelope as a
    // boolean the oracle asserts true. accuracy=1000 bounds rank error
    // to n/1000, far inside the envelope at any group size; the sketch
    // is the single-pass mergeable path a 100 TB percentile would take
    // (exact percentile buffers the group — fine per-type here, not at
    // arbitrary cardinality).
    QuerySpec(
      "agg_approx_percentile",
      (s, d) => events(s, d)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(
          expr("percentile(cents, 0.5D)").as("exact_p50"),
          expr("approx_percentile(cents, 0.5D, 1000)").as("apx"))
        .select(col("event_type"), col("exact_p50"),
          (abs(col("apx") - col("exact_p50")) <=
            lit(0.05) * (abs(col("exact_p50")) + lit(1.0))).as("within_env")),
      Some("""
        SELECT event_type,
               quantile_cont(CAST(floor(value * 100) AS BIGINT), 0.5) AS exact_p50,
               TRUE AS within_env
        FROM events GROUP BY event_type""")),

    // ───── A4/W2 outlier flagging: events above their type's p95 —
    // threshold from the same exact interpolated percentile contract as
    // agg_percentile (integer cents in, identical rank definition), then
    // a broadcast join back. The per-group-threshold-then-flag shape is
    // the standard cheap anomaly screen over event streams.
    QuerySpec(
      "events_outliers",
      (s, d) => {
        val cents = events(s, d)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100).cast("long").as("cents"))
        val thresholds = cents.groupBy("event_type")
          .agg(expr("percentile(cents, 0.95D)").as("p95c"))
        cents.join(broadcast(thresholds), Seq("event_type"))
          .filter(col("cents") > col("p95c"))
          .select("event_id", "event_type", "cents", "p95c")
      },
      Some("""
        SELECT e.event_id, e.event_type, e.cents, t.p95c
        FROM (SELECT event_id, event_type,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM events) e
        JOIN (SELECT event_type,
                     quantile_cont(CAST(floor(value * 100) AS BIGINT), 0.95) AS p95c
              FROM events GROUP BY event_type) t
          ON e.event_type = t.event_type
        WHERE e.cents > t.p95c""")),

    // ───── A8 mergeable frequent-items sketch (Misra–Gries): top-talker
    // detection over the event stream. 10% of traffic is deterministically
    // collapsed onto 3 hot keys (user_id % 10 == 0 → key user_id % 3,
    // mirrored in the oracle) so the uniform synthetic stream gains true
    // heavy hitters over its 150-key population. The 64-counter sketch
    // ([[graft.functions.FrequentItemsAgg]]) aggregates with map-side
    // combine — one 64-pair buffer per partition crosses the wire, never
    // the stream — and guarantees every key with freq > n/65 is among its
    // ≤ 64 candidates; the query then verifies candidates against exact
    // counts, so the OUTPUT (keys with freq > n/64 and their exact
    // counts) is deterministic and engine-independent while the exact
    // recount only ever touches ≤ 64 keys. The one-row sketch collect is
    // the k-means pattern: O(k) driver traffic, a control-plane step,
    // never a data collect.
    // ───── mergeable bounded top-k per group ([[graft.functions.
    // TopKPairsAgg]]): top-3 orders by price per priority WITHOUT a
    // window — the window formulation sorts every group's full row set
    // through its shuffle; the aggregate keeps an O(k) buffer per group
    // with map-side combine, so only ≤ k pairs per group per partition
    // cross the wire (the sketch-as-aggregate pattern applied to exact
    // top-k). Prices in exact integer cents via decimal cast (double
    // cast rounding differs by engine); (score DESC, id ASC) is a total
    // order, so the emitted set is deterministic. Oracle computes the
    // same top-3 with a window — cross-engine equality IS the proof the
    // bounded merge loses nothing.
    QuerySpec(
      "agg_group_topk",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKPairsAgg(3),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
        orders(s, d)
          .select(col("o_orderpriority"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("price_cents"),
            col("o_orderkey"))
          .groupBy("o_orderpriority")
          // tuple encoder flattens to two BIGINT params: (score, id)
          .agg(topk(col("price_cents"), col("o_orderkey")).as("top"))
          .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("o_orderpriority"),
            (col("pos") + 1).cast("int").as("rank"),
            col("t._2").as("o_orderkey"),
            col("t._1").as("price_cents"))
      },
      Some("""
        SELECT o_orderpriority, rank, o_orderkey, price_cents FROM (
          SELECT o_orderpriority,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                   ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
                            o_orderkey) AS INTEGER) AS rank,
                 o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
          FROM orders)
        WHERE rank <= 3""")),

    QuerySpec(
      "agg_heavy_hitters",
      (s, d) => {
        val keyed = events(s, d).select(
          when(col("user_id") % 10 === 0, col("user_id") % 3)
            .otherwise(col("user_id")).as("k"))
        val fi = udaf(new graft.functions.FrequentItemsAgg(64),
          org.apache.spark.sql.Encoders.scalaLong)
        val head = keyed.agg(count(lit(1)).as("n"), fi(col("k")).as("cand")).head()
        val n = head.getLong(0)
        val cand = head.getMap[Long, Long](1).keys.toSeq
        val thresh = n / 64
        keyed.filter(col("k").isin(cand: _*))
          .groupBy("k").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > thresh)
      },
      Some("""
        WITH keyed AS (
          SELECT CASE WHEN user_id % 10 = 0 THEN user_id % 3 ELSE user_id END AS k
          FROM events)
        SELECT k, count(*) AS cnt FROM keyed GROUP BY k
        HAVING count(*) > (SELECT count(*) // 64 FROM keyed)""")),

    // ───── J2 as-of join: each purchase matched to the user's most recent
    // signup at-or-before it (window formulation — one shuffle on the key,
    // no range-join explosion; SURVEY §2.3 J2–J6)
    QuerySpec(
      "asof_join",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .filter(col("event_type").isin("purchase", "signup"))
          .withColumn("asof_signup_id",
            last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "asof_signup_id")
      },
      Some("""
        SELECT event_id, user_id, ts, asof_signup_id FROM (
          SELECT event_id, user_id, ts, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_id
          FROM events WHERE event_type IN ('purchase','signup'))
        WHERE event_type = 'purchase'""")),

    // ───── NEAREST as-of join (r9): each purchase matched to the nearest
    // view/click in EITHER direction within a 24 h tolerance — the
    // sensor-alignment variant of as-of (pandas merge_asof
    // direction='nearest') that the backward-only J6 cannot express.
    // Still ONE window pass over the per-user timeline: the backward
    // candidate is last(ignoreNulls) over the preceding frame, the
    // forward candidate first(ignoreNulls) over the following frame —
    // same partitioning, one shuffle total — then a row-local argmin
    // with the full tie order (|Δt|, then 'before', the merge_asof
    // rule). Gaps are exact integer microseconds; direction/'none' is
    // part of the answer so tolerance handling is oracle-gated too.
    QuerySpec(
      "asof_nearest",
      (s, d) => {
        val touch = col("event_type").isin("view", "click")
        val wb = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(1, Window.unboundedFollowing)
        val tol = 86400000000L // 24 h in microseconds
        events(s, d)
          .withColumn("bk_id",
            last(when(touch, col("event_id")), ignoreNulls = true).over(wb))
          .withColumn("bk_ts", last(when(touch, col("ts")), ignoreNulls = true).over(wb))
          .withColumn("fw_id",
            first(when(touch, col("event_id")), ignoreNulls = true).over(wf))
          .withColumn("fw_ts", first(when(touch, col("ts")), ignoreNulls = true).over(wf))
          .filter(col("event_type") === "purchase")
          .withColumn("d_b", expr("unix_micros(ts) - unix_micros(bk_ts)"))
          .withColumn("d_f", expr("unix_micros(fw_ts) - unix_micros(ts)"))
          .withColumn("b_ok", col("d_b").isNotNull && col("d_b") <= tol)
          .withColumn("f_ok", col("d_f").isNotNull && col("d_f") <= tol)
          .select(col("event_id"), col("user_id"),
            expr("""case when b_ok and (not f_ok or d_b <= d_f) then bk_id
                         when f_ok then fw_id end""").as("nearest_id"),
            expr("""case when b_ok and (not f_ok or d_b <= d_f) then 'before'
                         when f_ok then 'after' else 'none' end""").as("direction"),
            expr("""case when b_ok and (not f_ok or d_b <= d_f) then d_b
                         when f_ok then d_f end""").as("gap_us"))
      },
      Some("""
        SELECT event_id, user_id,
               CASE WHEN b_ok AND (NOT f_ok OR d_b <= d_f) THEN bk_id
                    WHEN f_ok THEN fw_id END AS nearest_id,
               CASE WHEN b_ok AND (NOT f_ok OR d_b <= d_f) THEN 'before'
                    WHEN f_ok THEN 'after' ELSE 'none' END AS direction,
               CASE WHEN b_ok AND (NOT f_ok OR d_b <= d_f) THEN d_b
                    WHEN f_ok THEN d_f END AS gap_us
        FROM (
          SELECT event_id, user_id, event_type,
                 epoch_us(ts) - epoch_us(bk_ts) AS d_b,
                 epoch_us(fw_ts) - epoch_us(ts) AS d_f,
                 bk_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(bk_ts) <= 86400000000 AS b_ok,
                 fw_ts IS NOT NULL
                   AND epoch_us(fw_ts) - epoch_us(ts) <= 86400000000 AS f_ok,
                 bk_id, fw_id
          FROM (
            SELECT event_id, user_id, event_type, ts,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN event_id END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bk_id,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN ts END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bk_ts,
                   FIRST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                    THEN event_id END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fw_id,
                   FIRST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                    THEN ts END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fw_ts
            FROM events))
        WHERE event_type = 'purchase'""")),

    // ───── W2 ntile + dense_rank: quartiles of account balance WITHIN a
    // market segment. r12: two-phase via RankedPrefix — partitioning by
    // segment alone (5 values) still sorted |customers|/5 rows on ONE
    // task per segment, linear in data at any scale; the range exchange
    // shards each segment's ordered pass across all partitions, and
    // quartile = integer ntile-from-rank over (global rank, group
    // total). dense_rank's order (c_acctbal, c_custkey) is a TOTAL
    // order, so every peer group is a single row and dense_rank IS the
    // global rank — the oracle still computes DENSE_RANK and the hash
    // gate proves the identity. Shares its ranged frame cache with
    // window_percent_rank (same part/order/totals).
    QuerySpec(
      "window_ntile",
      (s, d) => {
        val ranked = graft.ops.RankedPrefix(s, d, "segBalance",
          customer(s, d).select("c_custkey", "c_mktsegment", "c_acctbal"),
          part = Seq("c_mktsegment"),
          order = Seq(col("c_acctbal"), col("c_custkey")),
          rank = Some("__r"),
          totals = Seq(("__n", lit(1L))))
        ranked.select(
          col("c_custkey"), col("c_mktsegment"),
          graft.ops.RankedPrefix.ntileFromRank(col("__r"), col("__n"), 4)
            .as("quartile"),
          col("__r").cast("int").as("bal_rank"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               CAST(DENSE_RANK() OVER w AS INTEGER) AS bal_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""")),

    // ───── W2 RANGE frame: per customer, count + exact-cents sum of their
    // orders within the trailing 30 days of each order (value-based frame,
    // not row-count-based — the two differ whenever order dates cluster).
    // The frame key is integer days-since-epoch so both engines run the
    // same numeric RANGE arithmetic.
    QuerySpec(
      "window_range_frame",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("day_n"))
          .rangeBetween(-30, Window.currentRow)
        orders(s, d)
          .withColumn("day_n", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .select(
            col("o_orderkey"), col("o_custkey"), col("day_n"),
            count(lit(1)).over(w).as("n_30d"),
            sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("cents_30d"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, day_n,
               COUNT(*) OVER w AS n_30d,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT) AS cents_30d
        FROM (SELECT *, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_n
              FROM orders)
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day_n
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""")),

    // ───── rolling OLS slope over a value-based RANGE frame (r12): per
    // customer, the trend of order value over their trailing 30 days —
    // the rolling-regression window (rolling beta) the frame family
    // lacked. Sufficient sums only: Σx, Σy, Σxy, Σx², n accumulate as
    // EXACT longs inside the frame (x = days-since-epoch, y = cents —
    // far below overflow), and the slope's numerator/denominator
    // n·Σxy−Σx·Σy / n·Σx²−(Σx)² are emitted as exact integers (the
    // agg_regression discipline windowed); the denominator is 0 exactly
    // when the frame holds a single distinct day — reported as NULLs,
    // pinned in both engines. Windows shard by customer.
    QuerySpec(
      "window_rolling_slope",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("day_n"))
          .rangeBetween(-30, Window.currentRow)
        orders(s, d)
          .withColumn("day_n",
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
              .cast("long"))
          .withColumn("cents", expr("cast(round(o_totalprice * 100) as bigint)"))
          .select(col("o_orderkey"), col("o_custkey"), col("day_n"),
            count(lit(1)).over(w).as("n_30d"),
            (count(lit(1)).over(w) * sum(expr("day_n * cents")).over(w)
              - sum("day_n").over(w) * sum("cents").over(w)).as("slope_num"),
            (count(lit(1)).over(w) * sum(expr("day_n * day_n")).over(w)
              - sum("day_n").over(w) * sum("day_n").over(w)).as("slope_den"))
          .withColumn("slope_num",
            when(col("slope_den") =!= 0, col("slope_num")))
          .withColumn("slope_den",
            when(col("slope_den") =!= 0, col("slope_den")))
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey,
                 CAST(date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS BIGINT) AS day_n,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        s AS (
          SELECT o_orderkey, o_custkey, day_n,
                 COUNT(*) OVER w AS n_30d,
                 COUNT(*) OVER w * SUM(day_n * cents) OVER w
                   - SUM(day_n) OVER w * SUM(cents) OVER w AS num,
                 COUNT(*) OVER w * SUM(day_n * day_n) OVER w
                   - SUM(day_n) OVER w * SUM(day_n) OVER w AS den
          FROM o
          WINDOW w AS (PARTITION BY o_custkey ORDER BY day_n
                       RANGE BETWEEN 30 PRECEDING AND CURRENT ROW))
        SELECT o_orderkey, o_custkey, day_n, n_30d,
               CAST(CASE WHEN den <> 0 THEN num END AS BIGINT) AS slope_num,
               CAST(CASE WHEN den <> 0 THEN den END AS BIGINT) AS slope_den
        FROM s""")),

    // ───── W2 distribution + positional analytics: percent_rank /
    // cume_dist (rank-normalized position within a segment — the
    // percentile-flavored window pair) and first_value / nth_value over
    // an explicit ROWS frame. (c_acctbal, c_custkey) is a total order, so
    // peer groups are single rows and both engines agree exactly; the
    // rank ratios divide small exact integers (exactly-rounded IEEE).
    // r12: two-phase via RankedPrefix (the last sibling of the r10
    // data-proportional window class) — with single-row peer groups,
    // percent_rank = (r−1)/(n−1) and cume_dist = r/n straight from the
    // global rank + group total, both divisions the same IEEE doubles
    // the window functions produce. first_value over the growing frame
    // is the rank-1 row's balance and nth_value(…, 2) the rank-2 row's
    // (null before rank 2): per-segment CONSTANTS, collapsed from the
    // two head rows per segment and broadcast back — never a second
    // ordered pass.
    QuerySpec(
      "window_percent_rank",
      (s, d) => {
        val ranked = graft.ops.RankedPrefix(s, d, "segBalance",
          customer(s, d).select("c_custkey", "c_mktsegment", "c_acctbal"),
          part = Seq("c_mktsegment"),
          order = Seq(col("c_acctbal"), col("c_custkey")),
          rank = Some("__r"),
          totals = Seq(("__n", lit(1L))))
        val heads = ranked.filter(col("__r") <= 2)
          .groupBy("c_mktsegment")
          .agg(min(when(col("__r") === 1, col("c_acctbal"))).as("__b1"),
            min(when(col("__r") === 2, col("c_acctbal"))).as("__b2"))
        ranked.join(broadcast(heads), Seq("c_mktsegment"))
          .select(
            col("c_custkey"), col("c_mktsegment"),
            when(col("__n") > 1,
              (col("__r") - 1).cast("double") /
                (col("__n") - 1).cast("double"))
              .otherwise(lit(0.0)).as("pct_rank"),
            (col("__r").cast("double") / col("__n").cast("double"))
              .as("cume"),
            col("__b1").as("seg_min_bal"),
            when(col("__r") >= 2, col("__b2")).as("seg_2nd_bal"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               FIRST_VALUE(c_acctbal) OVER wf AS seg_min_bal,
               NTH_VALUE(c_acctbal, 2) OVER wf AS seg_2nd_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
               wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")),

    // ───── skew-salted join under the oracle gate: the deterministic
    // Salting operator (spec-proven row-equivalent) joined
    // orders⋈customer with every custkey split across 8 salt buckets,
    // then aggregated per market segment. The oracle is the PLAIN join —
    // that's the whole point: salting must be invisible in the result
    // while the shuffle key space fans out 8×. spreadCols = o_orderkey
    // keeps the salt rand-free (replay-stable placement, the
    // exactly-once-sink requirement).
    QuerySpec(
      "join_salted",
      (s, d) => {
        val joined = graft.ops.Salting.saltedJoin(
          orders(s, d).withColumnRenamed("o_custkey", "c_custkey"),
          customer(s, d), keys = Seq("c_custkey"), n = 8,
          spreadCols = Seq(col("o_orderkey")))
        joined.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment""")),

    // ───── W2 forward-fill (gap filling): carry each user's last
    // non-null reading forward — `last(..., ignoreNulls)` over a running
    // ROWS frame, the IGNORE NULLS analytic pair to percent_rank's
    // distribution pair. Nulls are injected deterministically (every 3rd
    // event) and mirrored in the oracle; values pass through unchanged
    // (no arithmetic), so stored doubles compare exactly. Leading rows
    // with no prior reading stay null in both engines.
    QuerySpec(
      "window_forward_fill",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("v", expr(
            "CASE WHEN event_id % 3 = 0 THEN CAST(NULL AS DOUBLE) ELSE value END"))
          .select(col("event_id"), col("user_id"),
            last(col("v"), ignoreNulls = true).over(w).as("filled"))
      },
      Some("""
        SELECT event_id, user_id,
               LAST_VALUE(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM (SELECT event_id, user_id, ts,
                     CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
              FROM events)""")),

    // ───── A7 GROUPING SETS (beyond rollup/cube: an explicit, sparse set
    // list — (flag,status), (flag), ()). Subtotal rows are disambiguated
    // with coalesce sentinels, portable across engines without relying on
    // matching GROUPING_ID bit layouts.
    QuerySpec(
      "agg_grouping_sets",
      (s, d) => lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("qty_cents")),
      Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               count(*) AS n,
               CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")),

    // ───── F5 date/time functions: truncation, field extraction, interval
    // arithmetic, day difference. weekday is normalized to ISO Monday=0 in
    // both engines (Spark weekday() == DuckDB isodow - 1).
    QuerySpec(
      "func_datetime",
      (s, d) => orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        weekday(col("o_orderdate")).as("wd"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 1 MONTH")).as("next_month"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since")),
      Some("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd,
               date_trunc('month', o_orderdate) AS month_start,
               o_orderdate + INTERVAL 1 MONTH AS next_month,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        FROM orders""")),

    // ───── F5 array functions over tokenized text: size, distinct size,
    // slice+join, membership, sorted head — the per-row array surface a
    // token pipeline leans on (all codegen'd built-ins, no shuffle).
    QuerySpec(
      "func_array",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        expr("size(split(text, ' '))").as("n_toks"),
        expr("size(array_distinct(split(text, ' ')))").as("n_uniq"),
        expr("array_join(slice(split(text, ' '), 1, 3), ' ')").as("first3"),
        expr("array_contains(split(text, ' '), 'the')").as("has_the"),
        expr("element_at(array_sort(split(text, ' ')), 1)").as("alpha_first")),
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
               list_contains(string_split(text, ' '), 'the') AS has_the,
               list_sort(string_split(text, ' '))[1] AS alpha_first
        FROM documents""")),

    // ───── SQL-text surface (TPC-H Q6 shape): the engine's queries are
    // DataFrame plans, but the same session serves ANSI SQL text over
    // registered views — one query exercises that whole path (view
    // registration → parser → same Catalyst plan). Revenue stays on the
    // exact integer-cents contract.
    QuerySpec(
      "sql_q6_discount_revenue",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_v")
        s.sql("""
          SELECT l_returnflag,
                 CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                          * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE) / 10000.0
                   AS discount_revenue,
                 count(*) AS n
          FROM lineitem_v
          WHERE l_shipdate >= timestamp'1994-01-01' AND l_shipdate < timestamp'1995-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07
            AND l_quantity < 24
          GROUP BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                             * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000.0
                 AS discount_revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        GROUP BY l_returnflag""")),

    // ───── recursive CTE surface (r9): WITH RECURSIVE landed in Spark
    // 4.0 (SPARK-24497) — the last big ANSI text-surface gap after the
    // 22 TPC-H shapes and the subquery family. The query walks each
    // customer's order chain head→tail through the recursive union
    // (rounds = max chain depth, 25 here; each round one equi-join
    // under Catalyst's UnionLoop) and reports the depth histogram with
    // key checksums. The ORACLE is deliberately algorithm-independent —
    // the declarative row_number() position histogram — so a mis-wired
    // recursion (wrong join key, off-by-one depth, dropped heads)
    // breaks the compare; DuckDB never replays the recursion. Scale
    // posture: recursion is the SURFACE for bounded-depth hierarchies
    // (BOMs, org charts, folder trees — depth tens); for unbounded or
    // deep graphs the engine's own operators are the scale path
    // (graph_components' large-star/small-star is O(log n) rounds where
    // naive recursive traversal is O(diameter)).
    QuerySpec(
      "sql_recursive_chain",
      (s, d) => {
        // materialize the window-derived edge table ONCE before the
        // recursion: the recursive arm references it every round, and
        // as a plain CTE the UnionLoop re-evaluated the orders scan +
        // per-customer window 25 times over — the checkpoint turns each
        // round into a join against a fixed in-memory table
        orders(s, d).select(col("o_custkey"),
            lag("o_orderkey", 1).over(
              Window.partitionBy("o_custkey").orderBy("o_orderkey")).as("prev"),
            col("o_orderkey").as("nxt"))
          .localCheckpoint(true)
          .createOrReplaceTempView("chain_edges_v")
        s.sql("""
          WITH RECURSIVE
          chain AS (
            SELECT o_custkey, nxt AS o_orderkey, 1 AS depth
            FROM chain_edges_v WHERE prev IS NULL
            UNION ALL
            SELECT e.o_custkey, e.nxt, c.depth + 1
            FROM chain c JOIN chain_edges_v e
              ON e.o_custkey = c.o_custkey AND e.prev = c.o_orderkey)
          SELECT depth, count(*) AS n_orders, sum(o_orderkey) AS key_sum
          FROM chain GROUP BY depth""")
      },
      Some("""
        SELECT depth, count(*) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM (SELECT CAST(row_number() OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderkey) AS INTEGER) AS depth,
                     o_orderkey
              FROM orders)
        GROUP BY depth""")),

    // ───── DAU / rolling-7-day actives: the engagement ratio behind
    // "stickiness" dashboards. The (day, user) distinct frame collapses
    // the event log first (one shuffle over the log); the rolling
    // window is then a BROADCAST range join of the tiny day spine
    // against day-user rows — |days|·7 day-user row visits, never an
    // event-log self-join — and one distinct-agg per day.
    QuerySpec(
      "events_dau_wau",
      (s, d) => {
        val ud = events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val days = ud.select("day").distinct()
        ud.as("u").join(broadcast(days.as("d")),
            col("u.day") <= col("d.day") &&
              col("u.day") > date_sub(col("d.day"), 7))
          .groupBy(col("d.day").as("day"))
          .agg(
            countDistinct(when(col("u.day") === col("d.day"), col("user_id")))
              .as("dau"),
            countDistinct(col("user_id")).as("wau"))
      },
      Some("""
        WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM ud)
        SELECT d.day,
               COUNT(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau,
               COUNT(DISTINCT u.user_id) AS wau
        FROM days d JOIN ud u ON u.day <= d.day AND u.day > d.day - 7
        GROUP BY d.day""")),

    // ───── User lifespan distribution (r14): calendar span between a
    // user's first and last event, power-of-2 banded (the
    // graph_degree_hist libm-free log-binning) — the lifecycle readout
    // next to events_active_days_hist (which counts ENGAGED days; span
    // measures tenure, and span ≫ active-days = a returning-but-idle
    // base). One hash-agg for (first, last) per user — the only stage
    // that touches the log — then a bounded-band rollup.
    QuerySpec(
      "events_user_lifespan",
      (s, d) => events(s, d)
        .groupBy("user_id")
        .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1)
          .cast("long").as("span_days"))
        .groupBy(expr("length(bin(span_days))").as("band"))
        .agg(count(lit(1)).as("n_users"),
          min("span_days").as("min_span"), max("span_days").as("max_span"),
          sum("span_days").as("span_sum"), sum("user_id").as("user_sum")),
      Some("""
        WITH u AS (
          SELECT user_id,
                 CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                                MAX(CAST(ts AS DATE))) + 1 AS BIGINT)
                   AS span_days
          FROM events GROUP BY 1)
        SELECT CAST(LENGTH(bin(span_days)) AS INTEGER) AS band,
               COUNT(*) AS n_users,
               CAST(MIN(span_days) AS BIGINT) AS min_span,
               CAST(MAX(span_days) AS BIGINT) AS max_span,
               CAST(SUM(span_days) AS BIGINT) AS span_sum,
               CAST(SUM(user_id) AS BIGINT) AS user_sum
        FROM u GROUP BY 1""")),

    // ───── Stickiness ratio (r14): DAU over trailing-28-day MAU — the
    // engagement-frequency number every growth dashboard pairs with
    // events_dau_wau's raw actives (a product whose stickiness rises is
    // becoming habitual even with flat DAU). Same scale shape as
    // dau_wau: the (day, user) distinct frame is ONE hash-agg over the
    // log, the trailing window is a ≤28-way broadcast day-expansion of
    // that frame (constant factor, calendar-bounded output), and the
    // ratio is exact integer ppm.
    QuerySpec(
      "events_stickiness",
      (s, d) => {
        val ud = events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val days = ud.select("day").distinct()
        ud.as("u").join(broadcast(days.as("d")),
            col("u.day") <= col("d.day") &&
              col("u.day") > date_sub(col("d.day"), 28))
          .groupBy(col("d.day").as("day"))
          .agg(
            countDistinct(when(col("u.day") === col("d.day"), col("user_id")))
              .as("dau"),
            countDistinct(col("user_id")).as("mau"))
          .select(col("day"), col("dau"), col("mau"),
            expr("dau * 1000000 div mau").as("stickiness_ppm"))
      },
      Some("""
        WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM ud),
        agg AS (
          SELECT d.day,
                 COUNT(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau,
                 COUNT(DISTINCT u.user_id) AS mau
          FROM days d JOIN ud u ON u.day <= d.day AND u.day > d.day - 28
          GROUP BY d.day)
        SELECT day, dau, mau,
               CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
        FROM agg""")),

    // ───── Bounce rate (r14): share of sessions that contain exactly
    // ONE event, per day — the classic engagement-quality readout the
    // funnel family lacks (events_funnel measures who progresses;
    // bounce measures who never started). Sessionization is the
    // cdc_sessionize 30-minute-gap discipline — one per-user window
    // (shards by user at any scale), then one (user, session) hash-agg;
    // a session is dated by its FIRST event so day boundaries cannot
    // split attribution. Output is calendar-bounded with exact ppm.
    QuerySpec(
      "events_bounce_rate",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = 30L * 60 * 1000000
        val sess = events(s, d)
          .withColumn("new_sess",
            when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs
              || lag(col("ts"), 1).over(w).isNull, lit(1)).otherwise(lit(0)))
          .withColumn("sess_id", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"), min(to_date(col("ts"))).as("day"))
        sess.groupBy("day")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
          .select(col("day"), col("n_sessions"), col("n_bounces"),
            expr("n_bounces * 1000000 div n_sessions").as("bounce_ppm"))
      },
      Some("""
        WITH marked AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        > 30 * 60 * 1000000
                      OR LAG(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events),
        sessed AS (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM marked),
        sess AS (
          SELECT user_id, sess_id, COUNT(*) AS n_events,
                 MIN(CAST(ts AS DATE)) AS day
          FROM sessed GROUP BY 1, 2),
        agg AS (
          SELECT day, COUNT(*) AS n_sessions,
                 CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bounces
          FROM sess GROUP BY 1)
        SELECT day, n_sessions, n_bounces,
               CAST(n_bounces * 1000000 // n_sessions AS BIGINT) AS bounce_ppm
        FROM agg""")),

    // ───── cumulative adoption curve: per event_type, the running count
    // of DISTINCT users who have EVER used it by each day — "distinct
    // over a growing window", the classic query that is quadratic if
    // written as a window countDistinct (every day re-counts the full
    // prefix). Scale-correct decomposition: first-seen day per (user,
    // type) — ONE hash agg, the only stage that touches the event log —
    // then daily new-adopter counts, then a running sum over
    // (type × day)-cardinality rows, bounded by the CALENDAR (a 10-year
    // log is ~3.7k rows per type), so the per-type window is safe at
    // any data scale.
    QuerySpec(
      "events_adoption",
      (s, d) => {
        val firstSeen = events(s, d)
          .groupBy("user_id", "event_type")
          .agg(min(to_date(col("ts"))).as("d"))
        val daily = firstSeen.groupBy("event_type", "d")
          .agg(count(lit(1)).as("new_users"))
        val w = Window.partitionBy("event_type").orderBy("d")
        daily
          .withColumn("cume_adopters", sum(col("new_users")).over(w))
          .orderBy("event_type", "d")
      },
      Some("""
        WITH firstseen AS (
          SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS d
          FROM events GROUP BY user_id, event_type),
        daily AS (
          SELECT event_type, d, CAST(count(*) AS BIGINT) AS new_users
          FROM firstseen GROUP BY 1, 2)
        SELECT event_type, d, new_users,
               CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
                 AS cume_adopters
        FROM daily ORDER BY event_type, d""")),

    // ───── user-journey transition counts (the Markov-chain estimate's
    // numerator): consecutive event-type pairs per user in (ts,
    // event_id) order — session-flow analytics (what follows what). One
    // windowed shuffle on user_id for the lag, one group-cardinality
    // hash-agg; |types|² cells out.
    QuerySpec(
      "events_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events)
        SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2""")),

    // ───── stationary distribution of the behavior Markov chain (r13):
    // events_transitions' matrix taken to its model — where does user
    // attention CONCENTRATE under the observed dynamics. Row-stochastic
    // transition probabilities in exact ppm (n·1e6 div row total), then
    // 8 synchronized power-iteration rounds from the uniform vector,
    // each round ONE tiny join + hash-agg with the division AFTER the
    // sum (v'ⱼ = (Σᵢ vᵢ·pᵢⱼ) div 1e6 — one truncation per state per
    // round, mirrored exactly). The heavy stage is the per-user lag
    // window (user-partitioned, the events_transitions shape); the
    // iteration runs on |event_types|-sized frames — control-plane
    // cost, bounded output. Truncation leaks ≤ |states| ppm of mass per
    // round and states with no outgoing transitions drain — both are
    // the declared semantics of the observed-transition chain, not
    // artifacts (a production run renormalizes at read time).
    QuerySpec(
      "events_markov_stationary",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val trans = events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("f"), col("event_type").as("t"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val p = trans
          .join(trans.groupBy("f").agg(sum("n").as("tot")), "f")
          .select(col("f"), col("t"), expr("n * 1000000L div tot").as("p_ppm"))
          .localCheckpoint(true)
        val states = p.select(col("f").as("state")).distinct()
        val nStates = states.count() // control-plane scalar (|event_types|)
        var v = states.select(col("state"), lit(1000000L / nStates).as("v"))
          .localCheckpoint(true)
        for (_ <- 1 to 8) {
          v = p.join(v.withColumnRenamed("state", "f"), "f")
            .groupBy(col("t").as("state"))
            .agg(expr("sum(v * p_ppm) div 1000000").as("v"))
            .localCheckpoint(true)
        }
        v.select(col("state").as("event_type"), col("v").as("stationary_ppm"))
      },
      Some {
        val sb = new StringBuilder("""
        WITH seq AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
        tr AS (
          SELECT prev AS f, event_type AS t, COUNT(*) AS n
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        p AS (
          SELECT tr.f, tr.t, tr.n * 1000000 // tot.tot AS p_ppm
          FROM tr JOIN (SELECT f, SUM(n) AS tot FROM tr GROUP BY 1) tot USING (f)),
        ns AS (SELECT COUNT(DISTINCT f) AS n FROM p),
        v0 AS (
          SELECT DISTINCT f AS state, (SELECT 1000000 // n FROM ns) AS v FROM p)""")
        for (r <- 1 to 8) sb.append(s""",
        v$r AS (
          SELECT p.t AS state, SUM(v.v * p.p_ppm) // 1000000 AS v
          FROM p JOIN v${r - 1} v ON v.state = p.f GROUP BY 1)""")
        sb.append("""
        SELECT state AS event_type, CAST(v AS BIGINT) AS stationary_ppm FROM v8""")
        sb.toString
      }),

    // ───── Pareto head: the suppliers that cumulatively carry the first
    // 80% of revenue, with running share — the concentration report
    // behind every "80/20" decision (and the skew early-warning for
    // supplier-keyed joins). Knee membership in PURE INTEGER form:
    // (cum - cents)·5 < total·4 means "the share BEFORE this row is
    // under 80%" — the knee row is included, everything after excluded,
    // no float division anywhere near the filter.
    //
    // TWO-PHASE running sum (r6, factored into ops.RankedPrefix in r11):
    // supplier cardinality scales with the data, so a bare
    // Window.orderBy would put the whole running sum on ONE task.
    // RankedPrefix range-repartitions on the (cents DESC, s) sort key,
    // runs row_number + running sum WITHIN each partition (parallel
    // windows), then lifts them to global values via broadcast
    // per-partition prefix offsets — see ops/RankedPrefix.scala for the
    // full argument; the oracle hash-checks split-independence.
    QuerySpec(
      "supplier_pareto",
      (s, d) => {
        val per = lineitem(s, d)
          .groupBy(col("l_suppkey").as("s"))
          .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("cents"))
        graft.ops.RankedPrefix(s, d, "pareto", per,
            part = Nil, order = Seq(col("cents").desc, col("s")),
            rank = Some("r"),
            running = Seq(("cum", col("cents"))),
            totals = Seq(("total", col("cents"))))
          .filter((col("cum") - col("cents")) * 5 < col("total") * 4)
          .select(col("s"), col("cents"), col("r").cast("int").as("r"), col("cum"),
            expr("cast((cum * 100) div total as bigint)").as("cum_pct"))
      },
      Some("""
        WITH per AS (
          SELECT l_suppkey AS s,
                 CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS cents
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT s, cents,
                 CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, s) AS INTEGER) AS r,
                 CAST(SUM(cents) OVER (ORDER BY cents DESC, s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(SUM(cents) OVER () AS BIGINT) AS total
          FROM per)
        SELECT s, cents, r, cum, (cum * 100) // total AS cum_pct
        FROM ranked WHERE (cum - cents) * 5 < total * 4""")),

    // ───── market-basket pair mining (frequent itemsets, k=2): which
    // parts ship together — the relational dual of text_cooccurrence.
    // The pair stage self-joins WITHIN an order key, so its output is
    // bounded by basket size squared per order (≤21 pairs for TPC-H's
    // ≤7-line orders), never part×part; one hash-agg with map-side
    // partials counts pairs and the top-20 goes through
    // TakeOrderedAndProject with a full (n DESC, part_a, part_b)
    // tiebreak so the LIMIT cut is deterministic in both engines.
    QuerySpec(
      "basket_pairs",
      (s, d) => {
        // the weighted pair counts ARE the graph family's root artifact
        graft.analytics.GraphArtifacts.coPurchaseWeighted(s, d)
          .select(col("u").as("part_a"), col("v").as("part_b"),
            col("w").as("n_orders"))
          .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        SELECT part_a, part_b, COUNT(*) AS n_orders
        FROM pairs GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b LIMIT 20""")),

    // (shared engine for rec_item_knn + rec_coverage: the per-user
    // top-3 recommendation frame, session-cached — the triCommon
    // consumer-sharing discipline)
    //
    // ───── Item-kNN collaborative filtering (r14): the full RECOMMEND
    // step, not just the co-occurrence table — basket_pairs/basket_lift
    // score item pairs; this query carries them through to "top-3 new
    // parts per customer". Item-item similarity = cosine² in exact ppm
    // (w²·1e6 div (pop_u·pop_v), w = shared-order count off the shared
    // coPurchaseWeighted artifact); each part keeps only its TOP-8
    // neighbors through the bounded TopKScoredAgg (≤8 pairs/part/
    // partition cross the wire — the index stays O(|parts|·8) at any
    // corpus size, the item-kNN production shape); recommendations =
    // owned ⋈ neighbor-index (fan-out ≤ 8·|owned|) → anti-join owned →
    // per-user score sum → bounded top-3. Every ordering is the
    // (score DESC, id ASC) total order both engines share; integer
    // scores are exact in the double sort key below 2^53. Output:
    // per-rank checksum rows.
    QuerySpec(
      "rec_item_knn",
      (s, d) => recTop3(s, d)
        .groupBy("rank")
        .agg(count(lit(1)).as("n_users"), sum("uid").as("uid_sum"),
          sum("cand").as("cand_sum"), sum("score").as("score_sum")),
      Some("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        owned AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS p
          FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        pop AS MATERIALIZED (
          SELECT l_partkey AS p, COUNT(*) AS np FROM li GROUP BY 1),
        pr AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        sym AS (
          SELECT u, v, w FROM pr UNION ALL SELECT v AS u, u AS v, w FROM pr),
        scored AS (
          SELECT s.u AS p, s.v AS nbr,
                 CAST(CAST(s.w AS HUGEINT) * s.w * 1000000
                      // (CAST(pa.np AS HUGEINT) * pb.np) AS BIGINT) AS sc
          FROM sym s JOIN pop pa ON pa.p = s.u JOIN pop pb ON pb.p = s.v),
        nbrs AS MATERIALIZED (
          SELECT p, nbr, sc FROM (
            SELECT p, nbr, sc,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY sc DESC, nbr ASC) AS rk
            FROM scored) WHERE rk <= 8),
        raw AS (
          SELECT o.uid, n.nbr, n.sc
          FROM owned o JOIN nbrs n ON n.p = o.p
          WHERE NOT EXISTS (SELECT 1 FROM owned o2
                            WHERE o2.uid = o.uid AND o2.p = n.nbr)),
        agg AS (
          SELECT uid, nbr, CAST(SUM(sc) AS BIGINT) AS score
          FROM raw GROUP BY 1, 2),
        top3 AS (
          SELECT uid, nbr AS cand, score,
                 ROW_NUMBER() OVER (PARTITION BY uid
                   ORDER BY score DESC, nbr ASC) AS rank
          FROM agg)
        SELECT rank, COUNT(*) AS n_users,
               CAST(SUM(uid) AS BIGINT) AS uid_sum,
               CAST(SUM(cand) AS BIGINT) AS cand_sum,
               CAST(SUM(score) AS BIGINT) AS score_sum
        FROM top3 WHERE rank <= 3 GROUP BY 1""")),

    // ───── Recommender coverage (r14): the evaluation face of
    // rec_item_knn — what share of the catalog do the top-3 lists ever
    // surface (low coverage = popularity-biased recommender, the
    // diversity failure mode), plus the concentration of exposure
    // (distinct candidates vs recommendation rows). Rides the SHARED
    // session-cached recTop3 frame (the triCommon discipline: the
    // pipeline runs once for both queries); the rollup is two
    // distinct-aggs over its bounded 3·|users| rows.
    QuerySpec(
      "rec_coverage",
      (s, d) => {
        val catalog = lineitem(s, d).select(col("l_partkey")).distinct()
          .agg(count(lit(1)).as("n_parts"))
        recTop3(s, d)
          .agg(count(lit(1)).as("n_rec_rows"),
            countDistinct(col("uid")).as("n_users"),
            countDistinct(col("cand")).as("n_recommended"))
          .crossJoin(broadcast(catalog))
          .select(col("n_parts"), col("n_users"), col("n_rec_rows"),
            col("n_recommended"),
            expr("n_recommended * 1000000 div n_parts").as("coverage_ppm"),
            expr("n_rec_rows * 1000 div n_recommended")
              .as("exposure_per_item_milli"))
      },
      Some("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        owned AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS p
          FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        pop AS MATERIALIZED (
          SELECT l_partkey AS p, COUNT(*) AS np FROM li GROUP BY 1),
        pr AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        sym AS (
          SELECT u, v, w FROM pr UNION ALL SELECT v AS u, u AS v, w FROM pr),
        scored AS (
          SELECT s.u AS p, s.v AS nbr,
                 CAST(CAST(s.w AS HUGEINT) * s.w * 1000000
                      // (CAST(pa.np AS HUGEINT) * pb.np) AS BIGINT) AS sc
          FROM sym s JOIN pop pa ON pa.p = s.u JOIN pop pb ON pb.p = s.v),
        nbrs AS MATERIALIZED (
          SELECT p, nbr, sc FROM (
            SELECT p, nbr, sc,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY sc DESC, nbr ASC) AS rk
            FROM scored) WHERE rk <= 8),
        raw AS (
          SELECT o.uid, n.nbr, n.sc
          FROM owned o JOIN nbrs n ON n.p = o.p
          WHERE NOT EXISTS (SELECT 1 FROM owned o2
                            WHERE o2.uid = o.uid AND o2.p = n.nbr)),
        agg AS (
          SELECT uid, nbr, CAST(SUM(sc) AS BIGINT) AS score
          FROM raw GROUP BY 1, 2),
        top3 AS (
          SELECT uid, nbr AS cand FROM (
            SELECT uid, nbr, score,
                   ROW_NUMBER() OVER (PARTITION BY uid
                     ORDER BY score DESC, nbr ASC) AS rank
            FROM agg) WHERE rank <= 3),
        cat AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
                FROM li),
        r AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rec_rows,
                 COUNT(DISTINCT uid) AS n_users,
                 COUNT(DISTINCT cand) AS n_recommended
          FROM top3)
        SELECT n_parts, n_users, n_rec_rows, n_recommended,
               CAST(n_recommended * 1000000 // n_parts AS BIGINT)
                 AS coverage_ppm,
               CAST(n_rec_rows * 1000 // n_recommended AS BIGINT)
                 AS exposure_per_item_milli
        FROM r, cat""")),

    // ───── Recommender novelty / popularity bias (r15): coverage says
    // how much of the catalog surfaces; novelty says WHICH END — a
    // recommender that only re-ranks bestsellers scores high accuracy
    // and zero discovery value. Two readouts off the SHARED recTop3
    // frame joined to item popularity: mean inverse popularity
    // (Σ 1e6 div np over rec rows — the log-free self-information
    // proxy, higher = nicher) and the share of recommendations drawn
    // from the catalog's top-popularity decile (threshold = the
    // smallest np where at most ⌈P/10⌉ parts are ≥ it, from the
    // bounded np-value histogram — popularity counts are small ints,
    // so the ordered window runs over a tiny value domain, never the
    // catalog).
    QuerySpec(
      "rec_novelty",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        val pop = li.groupBy(col("l_partkey").as("p"))
          .agg(count(lit(1)).as("np"))
        val npHist = pop.groupBy("np").agg(count(lit(1)).as("cnt"))
        val wDesc = Window.orderBy(col("np").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val thr = npHist
          .withColumn("cum_ge", sum("cnt").over(wDesc))
          .crossJoin(broadcast(pop.agg(count(lit(1)).as("n_parts"))))
          .filter(col("cum_ge") * 10 <= col("n_parts") + 9)
          .agg(coalesce(min("np"), lit(Long.MaxValue)).as("np_thr"))
        recTop3(s, d)
          .join(pop.withColumnRenamed("p", "cand"), "cand")
          .crossJoin(broadcast(thr))
          .agg(count(lit(1)).as("n_rec_rows"),
            sum(expr("1000000 div np")).as("inv_pop_sum_ppm"),
            sum(when(col("np") >= col("np_thr"), 1L).otherwise(0L))
              .as("n_top_decile"),
            max("np_thr").as("np_thr"))
          .select(col("n_rec_rows"), col("np_thr"),
            expr("inv_pop_sum_ppm div n_rec_rows").as("mean_inv_pop_ppm"),
            col("n_top_decile"),
            expr("n_top_decile * 1000000 div n_rec_rows")
              .as("top_decile_share_ppm"))
      },
      Some(s"""
        WITH $recPipelineSqlCtes,
        nphist AS (SELECT np, COUNT(*) AS cnt FROM pop GROUP BY 1),
        npc AS (SELECT COUNT(*) AS n_parts FROM pop),
        thr AS (
          SELECT COALESCE(MIN(np), 9223372036854775807) AS np_thr FROM (
            SELECT np, SUM(cnt) OVER (ORDER BY np DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge
            FROM nphist), npc
          WHERE cum_ge * 10 <= n_parts + 9),
        r AS (
          SELECT t.uid, t.cand, p.np FROM top3 t JOIN pop p ON p.p = t.cand)
        SELECT COUNT(*) AS n_rec_rows,
               (SELECT np_thr FROM thr) AS np_thr,
               CAST(SUM(1000000 // np) // COUNT(*) AS BIGINT)
                 AS mean_inv_pop_ppm,
               CAST(SUM(CASE WHEN np >= (SELECT np_thr FROM thr)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_top_decile,
               CAST(SUM(CASE WHEN np >= (SELECT np_thr FROM thr)
                             THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                 AS BIGINT) AS top_decile_share_ppm
        FROM r""")),

    // ───── Recommender accuracy: leave-last-out hit-rate@k (r15,
    // VERDICT r14 #2) — the eval every CF deployment runs; without it
    // the recommender's quality is asserted, not measured (the
    // ann_recall precedent). Protocol: per customer, hold out ONE item
    // from their most recent order (latest by (o_orderdate, o_orderkey);
    // among that order's parts never bought in an earlier order, the
    // smallest partkey — a deterministic pick, and requiring the item be
    // NEW in the last order makes the target genuinely predictive, not a
    // repeat purchase the owned anti-join would mask). Customers whose
    // last order contains no new part are excluded from the denominator
    // (standard leave-one-out practice). LEAKAGE-SAFE retrain: the
    // entire model — co-purchase pairs, popularity, neighbor index,
    // owned sets — is rebuilt from the train split (lineitem MINUS the
    // held (order, part) rows) through the SAME [[recTop3Pipeline]] the
    // production face serves, so the measured hit-rate is the deployed
    // model's, not a leaked twin's. Scale: the holdout adds one
    // per-customer bounded window over orders (≈10 rows/customer) and
    // two anti-joins; the retrain costs one rec pipeline build — all
    // equi-join/bounded-topk shapes, no all-pairs stage anywhere.
    QuerySpec(
      "rec_hitrate",
      (s, d) => {
        val hitRanks = recHitRanks(s, d)
        hitRanks
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("hit_rank") === 1, 1L).otherwise(0L)).as("hits_at_1"),
            sum(when(col("hit_rank").isNotNull, 1L).otherwise(0L))
              .as("hits_at_3"))
          .select(col("n_eval"), col("hits_at_1"), col("hits_at_3"),
            expr("hits_at_3 * 1000000 div n_eval").as("hitrate3_ppm"))
      },
      Some("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        lasto AS MATERIALIZED (
          SELECT uid, last_ok FROM (
            SELECT o_custkey AS uid, o_orderkey AS last_ok,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
            FROM orders) WHERE rk = 1),
        earlier AS MATERIALIZED (
          SELECT DISTINCT t.uid, l.l_partkey AS p
          FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN lasto t ON t.uid = o.o_custkey AND o.o_orderkey <> t.last_ok),
        held AS MATERIALIZED (
          SELECT lp.uid, lp.last_ok, MIN(lp.p) AS held_p
          FROM (SELECT t.uid, t.last_ok, l.l_partkey AS p
                FROM lasto t JOIN li l ON l.l_orderkey = t.last_ok) lp
          WHERE NOT EXISTS (SELECT 1 FROM earlier e
                            WHERE e.uid = lp.uid AND e.p = lp.p)
          GROUP BY 1, 2),
        tli AS MATERIALIZED (
          SELECT l.l_orderkey, l.l_partkey FROM li l
          WHERE NOT EXISTS (SELECT 1 FROM held h
                            WHERE h.last_ok = l.l_orderkey
                              AND h.held_p = l.l_partkey)),
        owned AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS p
          FROM tli l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        pop AS MATERIALIZED (
          SELECT l_partkey AS p, COUNT(*) AS np FROM tli GROUP BY 1),
        pr AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM tli a JOIN tli b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        sym AS (
          SELECT u, v, w FROM pr UNION ALL SELECT v AS u, u AS v, w FROM pr),
        scored AS (
          SELECT s.u AS p, s.v AS nbr,
                 CAST(CAST(s.w AS HUGEINT) * s.w * 1000000
                      // (CAST(pa.np AS HUGEINT) * pb.np) AS BIGINT) AS sc
          FROM sym s JOIN pop pa ON pa.p = s.u JOIN pop pb ON pb.p = s.v),
        nbrs AS MATERIALIZED (
          SELECT p, nbr, sc FROM (
            SELECT p, nbr, sc,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY sc DESC, nbr ASC) AS rk
            FROM scored) WHERE rk <= 8),
        raw AS (
          SELECT o.uid, n.nbr, n.sc
          FROM owned o JOIN nbrs n ON n.p = o.p
          WHERE NOT EXISTS (SELECT 1 FROM owned o2
                            WHERE o2.uid = o.uid AND o2.p = n.nbr)),
        agg AS (
          SELECT uid, nbr, CAST(SUM(sc) AS BIGINT) AS score
          FROM raw GROUP BY 1, 2),
        top3 AS MATERIALIZED (
          SELECT uid, nbr AS cand, rank FROM (
            SELECT uid, nbr, score,
                   ROW_NUMBER() OVER (PARTITION BY uid
                     ORDER BY score DESC, nbr ASC) AS rank
            FROM agg) WHERE rank <= 3),
        hits AS (
          SELECT h.uid, MIN(t.rank) AS hit_rank
          FROM held h LEFT JOIN top3 t
            ON t.uid = h.uid AND t.cand = h.held_p
          GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(CASE WHEN hit_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hits_at_1,
               CAST(SUM(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS hits_at_3,
               CAST(SUM(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000 // COUNT(*) AS BIGINT) AS hitrate3_ppm
        FROM hits""")),

    // ───── RFM segmentation: the classic customer-analytics rollup —
    // recency / frequency / monetary quintiles (NTILE over a
    // deterministic (metric, key) order; both engines share ntile's
    // earlier-buckets-take-the-remainder rule) over the per-customer
    // aggregate, reported as segment cells. Customer cardinality SCALES
    // WITH THE DATA, so the quintiles must not be bare global ntile
    // windows (one task each at any scale — the r10 verdict's finding):
    // each score rides RankedPrefix's two-phase global rank plus the
    // integer ntile-from-rank formula, so every pass is a range exchange
    // + parallel per-partition windows. Money stays in exact cents.
    QuerySpec(
      "agg_rfm_segments",
      (s, d) => {
        val per = orders(s, d)
          .groupBy(col("o_custkey").as("c"))
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("freq"),
            sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
        def quint(df: DataFrame, m: String, out: String) =
          graft.ops.RankedPrefix.withNtile(s, d, s"rfm:$m", df,
            part = Nil, order = Seq(col(m), col("c")), buckets = 5, out = out)
        quint(quint(quint(per,
            "last_order", "r_score"), "freq", "f_score"), "cents", "m_score")
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("seg_cents"))
      },
      Some("""
        WITH per AS (
          SELECT o_custkey AS c,
                 MAX(o_orderdate) AS last_order,
                 COUNT(*) AS freq,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        scored AS (
          SELECT c, cents,
                 CAST(NTILE(5) OVER (ORDER BY last_order, c) AS INTEGER) AS r_score,
                 CAST(NTILE(5) OVER (ORDER BY freq, c) AS INTEGER) AS f_score,
                 CAST(NTILE(5) OVER (ORDER BY cents, c) AS INTEGER) AS m_score
          FROM per)
        SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS seg_cents
        FROM scored GROUP BY 1, 2, 3""")),

    // ───── statistical mode per group, deterministic: most frequent
    // priority per order status, ties broken by the value itself (count
    // DESC, value ASC is a total order — a bare mode() is
    // tie-nondeterministic and couldn't be hash-compared). Two-level
    // shape: one hash-agg to counts (map-side partials), then a window
    // over the COUNTS (group-cardinality rows, not the table) — the
    // heavy data crosses one shuffle once.
    QuerySpec(
      "agg_mode",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("n").desc, col("o_orderpriority"))
        orders(s, d)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("o_orderstatus"),
            col("o_orderpriority").as("mode_priority"), col("n"))
      },
      Some("""
        WITH cnt AS (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          FROM orders GROUP BY 1, 2),
        rk AS (
          SELECT o_orderstatus, o_orderpriority, n,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                   ORDER BY n DESC, o_orderpriority) AS r
          FROM cnt)
        SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
        FROM rk WHERE r = 1""")),

    // ───── SQL-text surface, TPC-H Q20 shape: IN-subquery over a grouped
    // aggregate WHOSE HAVING-position predicate correlates to a second
    // scalar aggregate subquery — "suppliers shipping more than 1/6 of
    // some part's total volume". Exercises the deepest decorrelation
    // path registered: Catalyst must rewrite the correlated scalar agg
    // to an equi-joined aggregate and the IN to a semi join (PlanSpec
    // pins: no cartesian product survives). Quantities summed as BIGINT
    // on both engines — the integer-oracle rule.
    QuerySpec(
      "sql_q20_dominant",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_v")
        supplier(s, d).createOrReplaceTempView("supplier_v")
        s.sql("""
          SELECT s_suppkey, s_name FROM supplier_v WHERE s_suppkey IN (
            SELECT h.l_suppkey FROM (
              SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
              FROM lineitem_v GROUP BY l_partkey, l_suppkey) h
            WHERE h.sq * 6 > (SELECT SUM(CAST(l2.l_quantity AS BIGINT))
                              FROM lineitem_v l2 WHERE l2.l_partkey = h.l_partkey))""")
      },
      Some("""
        SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
          SELECT h.l_suppkey FROM (
            SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
            FROM lineitem GROUP BY l_partkey, l_suppkey) h
          WHERE h.sq * 6 > (SELECT SUM(CAST(l2.l_quantity AS BIGINT))
                            FROM lineitem l2 WHERE l2.l_partkey = h.l_partkey))""")),

    // ───── SQL-text surface, TPC-H Q2 shape: a correlated scalar MIN
    // over a FOUR-table join (lineitem⋈supplier⋈nation⋈region), equated
    // against the outer row's price — "the supplier offering each
    // part's minimum European price" (lineitem stands in for partsupp,
    // which this corpus doesn't ship). The decorrelation stress is the
    // point: Catalyst must rewrite the correlated 4-table MIN into a
    // grouped aggregate equi-joined back on p_partkey — never a
    // nested-loop re-execution per outer row (PlanSpec pins no
    // BNLJ/cartesian). Price equality is exact (same parquet doubles on
    // both engines); the LIMIT cut is deterministic because tied rows
    // are value-identical (same part+price+supplier ⇒ same nation).
    QuerySpec(
      "sql_q2_min_cost",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_v")
        supplier(s, d).createOrReplaceTempView("supplier_v")
        part(s, d).createOrReplaceTempView("part_v")
        nation(s, d).createOrReplaceTempView("nation_v")
        region(s, d).createOrReplaceTempView("region_v")
        s.sql("""
          SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, l.l_extendedprice AS best_price
          FROM part_v p, lineitem_v l, supplier_v s, nation_v n, region_v r
          WHERE l.l_partkey = p.p_partkey AND s.s_suppkey = l.l_suppkey
            AND n.n_nationkey = s.s_nationkey AND r.r_regionkey = n.n_regionkey
            AND r.r_name = 'EUROPE' AND p.p_size <= 5
            AND l.l_extendedprice = (
              SELECT MIN(l2.l_extendedprice)
              FROM lineitem_v l2, supplier_v s2, nation_v n2, region_v r2
              WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
                AND n2.n_nationkey = s2.s_nationkey AND r2.r_regionkey = n2.n_regionkey
                AND r2.r_name = 'EUROPE')
          ORDER BY best_price DESC, p_partkey, s_name LIMIT 100""")
      },
      Some("""
        SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, l.l_extendedprice AS best_price
        FROM part p, lineitem l, supplier s, nation n, region r
        WHERE l.l_partkey = p.p_partkey AND s.s_suppkey = l.l_suppkey
          AND n.n_nationkey = s.s_nationkey AND r.r_regionkey = n.n_regionkey
          AND r.r_name = 'EUROPE' AND p.p_size <= 5
          AND l.l_extendedprice = (
            SELECT MIN(l2.l_extendedprice)
            FROM lineitem l2, supplier s2, nation n2, region r2
            WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
              AND n2.n_nationkey = s2.s_nationkey AND r2.r_regionkey = n2.n_regionkey
              AND r2.r_name = 'EUROPE')
        ORDER BY best_price DESC, p_partkey, s_name LIMIT 100""")),

    // ───── SQL-text surface, TPC-H Q21 shape: EXISTS and NOT EXISTS
    // against the SAME fact with non-equi correlation — "suppliers who
    // were the SOLE late supplier on a multi-supplier order" (late =
    // shipped >90 days after the order date; this corpus has no
    // commit/receipt dates). The two predicate subqueries must
    // decorrelate to one LEFT SEMI and one LEFT ANTI join on
    // l_orderkey with the <> residual — re-scanning the fact per outer
    // row would be quadratic (PlanSpec pins the join types and no
    // cartesian). numwait counts late LINES, as Q21 counts l1 rows.
    QuerySpec(
      "sql_q21_sole_late",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_v")
        supplier(s, d).createOrReplaceTempView("supplier_v")
        orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          WITH lf AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   CASE WHEN l.l_shipdate > date_add(o.o_orderdate, 90)
                        THEN 1 ELSE 0 END AS late
            FROM lineitem_v l JOIN orders_v o
              ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
          SELECT s.s_name, count(*) AS numwait
          FROM supplier_v s JOIN lf l1 ON s.s_suppkey = l1.l_suppkey
          WHERE l1.late = 1
            AND EXISTS (SELECT 1 FROM lf l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lf l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
          GROUP BY s.s_name
          ORDER BY numwait DESC, s_name LIMIT 100""")
      },
      Some("""
        WITH lf AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END AS late
          FROM lineitem l JOIN orders o
            ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM supplier s JOIN lf l1 ON s.s_suppkey = l1.l_suppkey
        WHERE l1.late = 1
          AND EXISTS (SELECT 1 FROM lf l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lf l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name LIMIT 100""")),

    // ───── time-series gap fill: the dense (hour × event_type) spine
    // with zero-filled gaps — what a dashboard or anomaly detector needs
    // (a MISSING hour is a signal, and an inner-join aggregate silently
    // drops it). The spine derives from the data's own hour bounds via
    // sequence + explode; it is |hours|·|types| rows — microscopic next
    // to the event log at any scale — and joins BROADCAST against the
    // one-shuffle hourly aggregate, so gap-filling adds no data-sized
    // stage at 100 TB.
    QuerySpec(
      "events_gapfill",
      (s, d) => gapfilledHourly(s, d),
      Some("""
        WITH bounds AS (
          SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
          FROM events),
        hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        hourly AS (
          SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT s.hr, s.event_type, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
        FROM (SELECT hr, event_type FROM hours CROSS JOIN types) s
        LEFT JOIN hourly d ON d.hr = s.hr AND d.event_type = s.event_type""")),

    // ───── volume anomaly detection over the gap-filled grid: hours
    // whose count deviates 3× from the per-type MEDIAN — median by
    // ORDINAL position ((cnt+1) div 2 in (n, hr) order), not percentile
    // interpolation, so both engines pick the identical element; the
    // median is robust where a mean would be dragged by the very spikes
    // being hunted. Runs over the zero-filled spine so silent-pipeline
    // hours (n=0) are flaggable — the operational reason gap-fill
    // exists. Per-type medians are |types| rows, broadcast back.
    QuerySpec(
      "events_anomaly",
      (s, d) => {
        val filled = gapfilledHourly(s, d)
        val byN = Window.partitionBy("event_type").orderBy(col("n_events"), col("hr"))
        val med = filled
          .withColumn("r", row_number().over(byN))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
          .filter(col("r") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("n_events").as("med"))
        filled.join(broadcast(med), "event_type")
          .filter(col("n_events") * 3 < col("med") ||
            col("n_events") > col("med") * 3)
          .select(col("hr"), col("event_type"), col("n_events"), col("med"))
      },
      Some("""
        WITH bounds AS (
          SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
          FROM events),
        hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        hourly AS (
          SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        filled AS (
          SELECT s.hr, s.event_type, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
          FROM (SELECT hr, event_type FROM hours CROSS JOIN types) s
          LEFT JOIN hourly d ON d.hr = s.hr AND d.event_type = s.event_type),
        med AS (
          SELECT event_type, n_events AS med FROM (
            SELECT event_type, n_events,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY n_events, hr) AS r,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
            FROM filled) WHERE r = (cnt + 1) // 2)
        SELECT f.hr, f.event_type, f.n_events, m.med
        FROM filled f JOIN med m USING (event_type)
        WHERE f.n_events * 3 < m.med OR f.n_events > m.med * 3""")),

    // ───── time-series forecasting (r9): Holt's linear-trend double
    // exponential smoothing over the per-type daily count series, in
    // EXACT integer arithmetic (levels/trends ×1000; α=0.3, β=0.2 as
    // integer ratios). The recurrence l_t = 0.3·y_t + 0.7·(l+b),
    // b_t = 0.2·(l_t−l_prev) + 0.8·b is inherently sequential IN TIME —
    // but time is the SHORT axis (tens of days) while keys are the scale
    // axis, so each series folds inside one aggregate HOF over its
    // sorted day array: one hash-agg, keys parallelize, no driver loop,
    // no window recursion. Truncating division is floor-normalized by a
    // +1e9 offset so both engines round negative trends identically
    // (DuckDB // floors, Spark div truncates — they disagree below
    // zero). The oracle replays the identical recurrence as a RECURSIVE
    // CTE over the day index — a genuinely different evaluation strategy
    // converging on bit-identical (level, trend, 7-day forecast).
    QuerySpec(
      "events_forecast",
      (s, d) => events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .withColumn("fit", expr(
          """aggregate(ys, named_struct('i', 0L, 'l', 0L, 'b', 0L),
               (a, y) -> if(a.i = 0,
                 named_struct('i', 1L, 'l', y * 1000L, 'b', 0L),
                 element_at(transform(
                   array((3L*y*1000L + 7L*(a.l + a.b) + 1000000000L) div 10L - 100000000L),
                   ln -> named_struct('i', a.i + 1L, 'l', ln,
                     'b', (2L*(ln - a.l) + 8L*a.b + 1000000000L) div 10L - 100000000L)), 1)))"""))
        .select(col("event_type"),
          expr("cast(size(ys) as bigint)").as("n_days"),
          col("fit.l").as("level_k"), col("fit.b").as("trend_k"),
          expr("fit.l + 7L * fit.b").as("forecast_7d_k")),
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, y,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t
          FROM daily),
        holt(event_type, t, l, b) AS (
          SELECT event_type, t, y * 1000, 0::BIGINT FROM seq WHERE t = 1
          UNION ALL
          SELECT event_type, t, l,
                 (2*(l - pl) + 8*pb + 1000000000) // 10 - 100000000
          FROM (SELECT s.event_type, s.t, h.l AS pl, h.b AS pb,
                       (3*s.y*1000 + 7*(h.l + h.b) + 1000000000) // 10 - 100000000 AS l
                FROM holt h JOIN seq s
                  ON s.event_type = h.event_type AND s.t = h.t + 1)),
        fin AS (
          SELECT h.event_type, m.mt AS n_days, h.l, h.b
          FROM holt h JOIN (SELECT event_type, MAX(t) AS mt FROM holt GROUP BY 1) m
            ON m.event_type = h.event_type AND h.t = m.mt)
        SELECT event_type, n_days, l AS level_k, b AS trend_k,
               l + 7 * b AS forecast_7d_k
        FROM fin""")),

    // ───── forecast BACKTEST (r12): the eval loop the forecasting
    // ladder (Holt, Holt-Winters) was missing — hold out the last 7
    // calendar days, fit Holt double smoothing on the prefix (the
    // identical integer recurrence events_forecast ships), forecast
    // each held-out day at level + h·trend, and score MAE in exact
    // k-units against BOTH the model and the naive last-value carry
    // — "does the trend model beat persistence" as an oracle-gated
    // boolean per series, the minimum honest bar any forecaster must
    // clear (Hyndman's forecasting-principles baseline discipline).
    // Only observed holdout days score (zero-event days are absent
    // from the daily spine — the gapfill variant is its own query);
    // the boundary is one global max broadcast back.
    QuerySpec(
      "events_forecast_eval",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val mx = daily.agg(max("day").as("mxd"))
        val marked = daily.crossJoin(broadcast(mx))
          .withColumn("holdout", col("day") > date_sub(col("mxd"), 7))
        val fit = marked.filter(!col("holdout"))
          .groupBy("event_type")
          .agg(expr(
            "transform(array_sort(collect_list(struct(day, y))), x -> x.y)")
            .as("ys"),
            max("day").as("train_end"))
          .withColumn("fit", expr(
            """aggregate(ys, named_struct('i', 0L, 'l', 0L, 'b', 0L),
               (a, y) -> if(a.i = 0,
                 named_struct('i', 1L, 'l', y * 1000L, 'b', 0L),
                 element_at(transform(
                   array((3L*y*1000L + 7L*(a.l + a.b) + 1000000000L) div 10L - 100000000L),
                   ln -> named_struct('i', a.i + 1L, 'l', ln,
                     'b', (2L*(ln - a.l) + 8L*a.b + 1000000000L) div 10L - 100000000L)), 1)))"""))
          .select(col("event_type"), col("train_end"),
            col("fit.l").as("l"), col("fit.b").as("b"),
            expr("element_at(ys, cast(size(ys) as int))").as("y_last"))
        marked.filter(col("holdout"))
          .join(fit, "event_type")
          .withColumn("h", datediff(col("day"), col("train_end")).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_holdout"),
            sum(abs(col("l") + col("h") * col("b") - col("y") * 1000))
              .as("abs_err_model_k"),
            sum(abs((col("y_last") - col("y")) * 1000))
              .as("abs_err_naive_k"))
          .withColumn("model_wins",
            col("abs_err_model_k") < col("abs_err_naive_k"))
      },
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        mx AS (SELECT MAX(day) AS mxd FROM daily),
        marked AS (
          SELECT d.*, d.day > m.mxd - INTERVAL 7 DAY AS holdout
          FROM daily d CROSS JOIN mx m),
        seq AS (
          SELECT event_type, day, y,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   AS BIGINT) AS t
          FROM marked WHERE NOT holdout),
        holt(event_type, t, l, b) AS (
          SELECT event_type, t, y * 1000, 0::BIGINT FROM seq WHERE t = 1
          UNION ALL
          SELECT event_type, t, l,
                 (2*(l - pl) + 8*pb + 1000000000) // 10 - 100000000
          FROM (SELECT s.event_type, s.t, h.l AS pl, h.b AS pb,
                       (3*s.y*1000 + 7*(h.l + h.b) + 1000000000) // 10 - 100000000 AS l
                FROM holt h JOIN seq s
                  ON s.event_type = h.event_type AND s.t = h.t + 1)),
        fit AS (
          SELECT h.event_type, h.l, h.b, s.day AS train_end, s.y AS y_last
          FROM holt h
          JOIN (SELECT event_type, MAX(t) AS mt FROM holt GROUP BY 1) m
            ON m.event_type = h.event_type AND h.t = m.mt
          JOIN seq s ON s.event_type = h.event_type AND s.t = m.mt),
        scored AS (
          SELECT d.event_type,
                 ABS(f.l + CAST(date_diff('day', f.train_end, d.day) AS BIGINT)
                       * f.b - d.y * 1000) AS em,
                 ABS((f.y_last - d.y) * 1000) AS en
          FROM marked d JOIN fit f ON f.event_type = d.event_type
          WHERE d.holdout)
        SELECT event_type, COUNT(*) AS n_holdout,
               CAST(SUM(em) AS BIGINT) AS abs_err_model_k,
               CAST(SUM(en) AS BIGINT) AS abs_err_naive_k,
               SUM(em) < SUM(en) AS model_wins
        FROM scored GROUP BY 1""")),

    // ───── Benford first-digit audit (r10): the fraud / data-quality
    // screen (Benford 1938; Nigrini's forensic-accounting standard) —
    // naturally-occurring multiplicative amounts put digit d first with
    // probability log10(1+1/d), and fabricated or truncated data
    // doesn't. Observed first-significant-digit shares of the order
    // amounts vs the Benford table as FIXED per-mille literals (301,
    // 176, 125, ... — the same public constants in both engines; no
    // libm at query time), deviations in exact signed per-mille. First
    // digit via string head of the integer cents — no float log. One
    // hash-agg over 9 digit groups.
    QuerySpec(
      "agg_benford",
      (s, d) => {
        val bf = "array(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)"
        orders(s, d)
          .select(expr(
            "cast(substring(cast(cast(round(o_totalprice * 100) as bigint) as string), 1, 1) as bigint)")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .withColumn("total", sum("n").over(Window.partitionBy()))
          .select(col("digit"), col("n"),
            expr("n * 1000L div total").as("obs_pm"),
            expr(s"element_at($bf, cast(digit as int))").as("benford_pm"),
            expr(s"n * 1000L div total - element_at($bf, cast(digit as int))")
              .as("dev_pm"))
      },
      Some("""
        WITH digits AS (
          SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM orders),
        hist AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
                 FROM digits GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
        bf AS (SELECT * FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97),
                 (5, 79), (6, 67), (7, 58), (8, 51), (9, 46)) v(d, pm))
        SELECT h.digit, h.n, h.n * 1000 // t.total AS obs_pm,
               CAST(b.pm AS BIGINT) AS benford_pm,
               h.n * 1000 // t.total - b.pm AS dev_pm
        FROM hist h CROSS JOIN tot t JOIN bf b ON b.d = h.digit""")),

    // ───── bot / automation detection via inter-event regularity
    // (r10): humans are bursty, schedulers are metronomes — the
    // training-data-quality screen that keeps scripted traffic out of a
    // behavioral corpus. Per user with ≥ 20 events: consecutive gaps in
    // exact seconds (one lag window under the unique (ts, event_id)
    // order), then the squared coefficient of variation in per-mille —
    // CV² = n·Σx²−(Σx)² over (Σx)² — all int64-safe at second scale
    // (gaps ~1e5 s, squares ~1e10, sums ×20 well under 2^63), zero
    // floats. is_regular pins the CV² < 0.2 verdict under the gate.
    // One window + one hash-agg, both sharded by user.
    QuerySpec(
      "events_bot_regularity",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("gap",
            // exact micros floored to whole seconds — unix_timestamp's
            // floor vs DuckDB epoch()'s rounding disagree on the raw
            // second values; the micros difference is exact in both
            expr("(unix_micros(ts) - unix_micros(lag(ts, 1) over " +
              "(partition by user_id order by ts, event_id))) div 1000000"))
          .filter(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sx"),
            sum(expr("gap * gap")).as("sxx"))
          .filter(col("n_gaps") >= 19)
          .select(col("user_id"), col("n_gaps"),
            expr("sx div n_gaps").as("mean_gap_s"),
            expr("(n_gaps * sxx - sx * sx) * 1000L div (sx * sx)").as("cv2_pm"),
            expr("(n_gaps * sxx - sx * sx) * 1000L div (sx * sx) < 200")
              .as("is_regular"))
      },
      Some("""
        WITH gaps AS (
          SELECT user_id,
                 (epoch_us(ts)
                  - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id))) // 1000000
                   AS gap
          FROM events),
        st AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(gap) AS BIGINT) AS sx,
                 CAST(SUM(gap * gap) AS BIGINT) AS sxx
          FROM gaps WHERE gap IS NOT NULL GROUP BY 1)
        SELECT user_id, n_gaps, sx // n_gaps AS mean_gap_s,
               (n_gaps * sxx - sx * sx) * 1000 // (sx * sx) AS cv2_pm,
               (n_gaps * sxx - sx * sx) * 1000 // (sx * sx) < 200 AS is_regular
        FROM st WHERE n_gaps >= 19""")),

    // ───── quality-weighted mix apportionment (r10): allocate a fixed
    // token budget across sources by LARGEST-REMAINDER (Hamilton)
    // apportionment — the deterministic integer answer to "how many
    // tokens from each source in the next training mix" (the static
    // skeleton of DoReMi-style mixture tuning; sample_weighted_mix
    // draws the rows, THIS decides the quotas). Exact: base quota =
    // budget·w div W, the remainder goes +1 each to the sources with
    // the largest fractional parts (budget·w mod W desc, source id
    // tiebreak) — Σ alloc = budget BY CONSTRUCTION, visible to the
    // oracle as a checksum. Weights = whitespace token counts per
    // source (one hash-agg); the apportionment runs over |sources|
    // rows.
    QuerySpec(
      "curation_mix_apportion",
      (s, d) => {
        val budget = 100000L
        val w = graft.Tables.documents(s, d)
          .groupBy("source")
          .agg(sum(expr("size(split(text, ' '))")).as("w_tokens"))
        val tot = w.agg(sum("w_tokens").as("wt"))
        val quotas = w.crossJoin(broadcast(tot))
          .select(col("source"), col("w_tokens"),
            expr(s"${budget}L * w_tokens div wt").as("base"),
            expr(s"${budget}L * w_tokens % wt").as("fr"))
        val nsrc = quotas
          .withColumn("rk", row_number().over(
            Window.orderBy(col("fr").desc, col("source"))))
          .withColumn("rem", expr(
            s"${budget}L - sum(base) over ()"))
        nsrc.select(col("source"), col("w_tokens"),
          expr("base + if(rk <= rem, 1L, 0L)").as("alloc_tokens"),
          expr("rk <= rem").as("got_extra"))
      },
      Some("""
        WITH w AS (
          SELECT source,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w_tokens
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(w_tokens) AS BIGINT) AS wt FROM w),
        q AS (
          SELECT source, w_tokens,
                 100000 * w_tokens // wt AS base,
                 100000 * w_tokens % wt AS fr
          FROM w CROSS JOIN tot),
        r AS (
          SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY fr DESC, source) AS BIGINT) AS rk,
                 100000 - SUM(base) OVER () AS rem
          FROM q)
        SELECT source, w_tokens,
               CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
                 AS alloc_tokens,
               rk <= rem AS got_extra
        FROM r""")),

    // ───── Kaplan-Meier survival curve (r10): the nonparametric
    // survival estimator (Kaplan & Meier, JASA 1958) over user
    // lifetimes — S(t) = Π_{i≤t} (1 − d_i/n_i), where d_t = users whose
    // activity span ENDS at day t and n_t = users still at risk. The
    // churn-analysis primitive next to events_retention's cohort grid:
    // retention reads raw proportions, KM composes conditional
    // survival so the curve is monotone and censoring-ready. Lifetime =
    // last-minus-first active day per user (one hash-agg); the product
    // folds in exact ppm integers over the SORTED (t, d, n) array —
    // time is the short axis (tens of distinct lifetimes), users
    // parallelize, the per-step S(t) is an O(T²) prefix re-fold of a
    // tiny array. The oracle replays the identical truncating
    // recurrence as a RECURSIVE CTE over the lifetime index.
    QuerySpec(
      "events_survival",
      (s, d) => {
        val lives = events(s, d)
          .groupBy("event_type", "user_id")
          .agg(expr("datediff(max(to_date(ts)), min(to_date(ts)))").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("dt"))
        val risk = lives
          .withColumn("n", sum("dt").over(
            Window.partitionBy("event_type").orderBy(col("t").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        risk.groupBy("event_type")
          .agg(expr("array_sort(collect_list(struct(t, dt, n)))").as("arr"))
          .select(col("event_type"), explode(expr(
            """transform(arr, (x, i) -> struct(
                 x.t AS t, x.dt AS d_t, x.n AS n_t,
                 aggregate(slice(arr, 1, i + 1), 1000000L,
                   (acc, y) -> acc * (y.n - y.dt) div y.n) AS s_ppm))"""))
            .as("r"))
          .select(col("event_type"), col("r.t").as("t"), col("r.d_t").as("d_t"),
            col("r.n_t").as("n_t"), col("r.s_ppm").as("s_ppm"))
      },
      Some("""
        WITH RECURSIVE lives AS (
          SELECT event_type,
                 CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT) AS t
          FROM events GROUP BY event_type, user_id),
        dd AS (SELECT event_type, t, CAST(count(*) AS BIGINT) AS dt
               FROM lives GROUP BY 1, 2),
        risk AS (
          SELECT event_type, t, dt,
                 CAST(SUM(dt) OVER (PARTITION BY event_type ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t)
                      AS BIGINT) AS i
          FROM dd),
        km(event_type, i, t, dt, n, s_ppm) AS (
          SELECT event_type, i, t, dt, n, 1000000 * (n - dt) // n
          FROM risk WHERE i = 1
          UNION ALL
          SELECT r.event_type, r.i, r.t, r.dt, r.n, k.s_ppm * (r.n - r.dt) // r.n
          FROM km k JOIN risk r
            ON r.event_type = k.event_type AND r.i = k.i + 1)
        SELECT event_type, t, dt AS d_t, n AS n_t, CAST(s_ppm AS BIGINT) AS s_ppm
        FROM km""")),

    // ───── Holt-Winters additive seasonal smoothing (r10): the TRIPLE
    // exponential recurrence — level, trend, AND a 7-slot day-of-week
    // seasonal state — completing the forecasting ladder over
    // events_forecast's Holt double smoothing (which models trend but
    // rediscovers every weekend dip as level error). α=0.3, β=0.2,
    // γ=0.1 as integer ratios at ×1000 scale, floor-normalized by the
    // +1e9 offset (the events_forecast discipline — truncating div and
    // flooring // agree after the shift). The 7-element seasonal array
    // rides INSIDE the fold state (named_struct with an array field,
    // updated by an indexed transform), so the whole series still folds
    // in one aggregate HOF per key — time is the short axis, keys
    // parallelize, no driver loop. The oracle replays the identical
    // recurrence as a RECURSIVE CTE whose seasonal state is a DuckDB
    // LIST column updated by slice concatenation — a genuinely
    // different evaluation strategy converging on bit-identical
    // (level, trend, seasonal checksum, 7-day-ahead forecast).
    QuerySpec(
      "events_holt_winters",
      (s, d) => events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .withColumn("fit", expr(
          """aggregate(ys,
               named_struct('i', 0L, 'l', 0L, 'b', 0L, 's', array_repeat(0L, 7)),
               (a, y) -> if(a.i = 0,
                 named_struct('i', 1L, 'l', y * 1000L, 'b', 0L, 's', a.s),
                 element_at(transform(
                   array((3L*(y*1000L - element_at(a.s, cast(a.i % 7 as int) + 1))
                          + 7L*(a.l + a.b) + 1000000000L) div 10L - 100000000L),
                   ln -> named_struct(
                     'i', a.i + 1L,
                     'l', ln,
                     'b', (2L*(ln - a.l) + 8L*a.b + 1000000000L) div 10L - 100000000L,
                     's', transform(a.s, (v, j) -> if(j = cast(a.i % 7 as int),
                            (1L*(y*1000L - ln) + 9L*v + 1000000000L) div 10L
                              - 100000000L, v)))), 1)))"""))
        .select(col("event_type"),
          expr("cast(size(ys) as bigint)").as("n_days"),
          col("fit.l").as("level_k"), col("fit.b").as("trend_k"),
          expr("aggregate(fit.s, 0L, (acc, v) -> acc + v)").as("seas_sum_k"),
          expr("7L * fit.l + 28L * fit.b + aggregate(fit.s, 0L, (acc, v) -> acc + v)")
            .as("forecast_7d_k")),
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, y,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t
          FROM daily),
        hw(event_type, t, l, b, s) AS (
          SELECT event_type, t, y * 1000, 0::BIGINT,
                 [0, 0, 0, 0, 0, 0, 0]::BIGINT[] FROM seq WHERE t = 1
          UNION ALL
          SELECT event_type, t, l,
                 (2*(l - pl) + 8*pb + 1000000000) // 10 - 100000000,
                 sl[1:pos-1]
                   || [(1*(y1000 - l) + 9*sold + 1000000000) // 10 - 100000000]
                   || sl[pos+1:7]
          FROM (SELECT s.event_type, s.t, h.l AS pl, h.b AS pb, h.s AS sl,
                       s.y * 1000 AS y1000,
                       CAST(h.t % 7 AS INTEGER) + 1 AS pos,
                       h.s[CAST(h.t % 7 AS INTEGER) + 1] AS sold,
                       (3*(s.y*1000 - h.s[CAST(h.t % 7 AS INTEGER) + 1])
                        + 7*(h.l + h.b) + 1000000000) // 10 - 100000000 AS l
                FROM hw h JOIN seq s
                  ON s.event_type = h.event_type AND s.t = h.t + 1)),
        fin AS (
          SELECT h.event_type, m.mt AS n_days, h.l, h.b,
                 CAST(list_sum(h.s) AS BIGINT) AS ss
          FROM hw h JOIN (SELECT event_type, MAX(t) AS mt FROM hw GROUP BY 1) m
            ON m.event_type = h.event_type AND h.t = m.mt)
        SELECT event_type, n_days, l AS level_k, b AS trend_k,
               ss AS seas_sum_k, 7*l + 28*b + ss AS forecast_7d_k
        FROM fin""")),

    // ───── RFM segment migration (r10): the customer-lifecycle
    // transition matrix — value tier in the FIRST half of the order
    // history vs the SECOND half (the "which customers are churning /
    // upgrading" view a CRM reads weekly; the dynamic companion to
    // agg_rfm_segments' static snapshot). The timeline splits at the
    // data-derived midpoint date; tiers are spend tertiles per half
    // under a TOTAL order (spend cents desc, custkey), computed via
    // RankedPrefix's two-phase global rank + integer ntile-from-rank —
    // customer cardinality scales with data, so a bare ntile window
    // would single-task (the r10 verdict's finding). Customers absent
    // from a half enter tier 0. Output: the 4×4 matrix with customer
    // counts and min-custkey fingerprints. Plan: two hash-aggs + two
    // range-exchanged parallel window passes over customer cardinality,
    // one full outer join on custkey; shards at 100 TB.
    QuerySpec(
      "events_rfm_migration",
      (s, d) => {
        val o = orders(s, d).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("od"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val mid = o.agg(expr(
          "date_add(min(od), cast(datediff(max(od), min(od)) div 2 as int))")
          .as("mid"))
        def tiers(half: DataFrame, key: String) =
          graft.ops.RankedPrefix.withNtile(s, d, s"rfmMig:$key",
            half.groupBy("o_custkey").agg(sum("cents").as("spend")),
            part = Nil, order = Seq(col("spend").desc, col("o_custkey")),
            buckets = 3, out = "tier")
        val before = tiers(o.crossJoin(broadcast(mid))
          .filter(col("od") <= col("mid")), "before")
          .select(col("o_custkey"), col("tier").as("tier_before"))
        val after = tiers(o.crossJoin(broadcast(mid))
          .filter(col("od") > col("mid")), "after")
          .select(col("o_custkey"), col("tier").as("tier_after"))
        before.join(after, Seq("o_custkey"), "full_outer")
          .select(col("o_custkey"),
            coalesce(col("tier_before"), lit(0)).as("t1"),
            coalesce(col("tier_after"), lit(0)).as("t2"))
          .groupBy("t1", "t2")
          .agg(count(lit(1)).as("n_customers"), min("o_custkey").as("min_cust"))
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        mid AS (
          SELECT MIN(od) + CAST((MAX(od) - MIN(od)) // 2 AS INTEGER) AS mid
          FROM o),
        before AS (
          SELECT o_custkey,
                 NTILE(3) OVER (ORDER BY SUM(cents) DESC, o_custkey) AS tier
          FROM o, mid WHERE od <= mid GROUP BY o_custkey),
        after AS (
          SELECT o_custkey,
                 NTILE(3) OVER (ORDER BY SUM(cents) DESC, o_custkey) AS tier
          FROM o, mid WHERE od > mid GROUP BY o_custkey),
        paired AS (
          SELECT COALESCE(b.o_custkey, a.o_custkey) AS ck,
                 COALESCE(b.tier, 0) AS t1, COALESCE(a.tier, 0) AS t2
          FROM before b FULL OUTER JOIN after a ON a.o_custkey = b.o_custkey)
        SELECT t1, t2, count(*) AS n_customers,
               CAST(MIN(ck) AS BIGINT) AS min_cust
        FROM paired GROUP BY 1, 2""")),

    // ───── F7/J4-surface — NOT EXISTS predicate subquery as SQL text:
    // customers with no big-ticket order. Catalyst's
    // RewritePredicateSubquery turns this into a LEFT ANTI equi-join —
    // the other half of the subquery surface next to the scalar
    // decorrelation below (PlanSpec pins the anti join, no nested loop).
    QuerySpec(
      "sql_not_exists",
      (s, d) => {
        customer(s, d).createOrReplaceTempView("customer_v")
        orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT c_custkey, c_name
          FROM customer_v c
          WHERE NOT EXISTS (SELECT 1 FROM orders_v o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 100000)""")
      },
      Some("""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 100000)""")),

    // ───── F7 predicate subquery, positive half: IN-subquery rewrites to
    // a LEFT SEMI join (RewritePredicateSubquery) — the pair to
    // sql_not_exists' LEFT ANTI. The subquery's filter prunes at ITS scan
    // before the join, so the semi join probes only urgent orders.
    QuerySpec(
      "sql_in_subquery",
      (s, d) => {
        customer(s, d).createOrReplaceTempView("customer_v")
        orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT c_custkey, c_mktsegment
          FROM customer_v c
          WHERE c_custkey IN (SELECT o_custkey FROM orders_v
                              WHERE o_orderpriority = '1-URGENT')""")
      },
      Some("""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')""")),

    // ───── F7/J-surface — correlated scalar subquery: each customer's
    // max-price order(s). Catalyst DECORRELATES this (RewriteCorrelated
    // ScalarSubquery): the subquery becomes a per-custkey aggregate
    // hash-joined back on custkey — two scans, one agg, one equi-join; no
    // per-row re-execution, no nested loop (PlanSpec-pinned). The
    // comparison is equality of stored doubles (no arithmetic), so both
    // engines agree exactly; price ties return both rows — a
    // deterministic set.
    QuerySpec(
      "sql_correlated_max",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT o_custkey, o_orderkey, o_totalprice
          FROM orders_v o
          WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                                FROM orders_v o2
                                WHERE o2.o_custkey = o.o_custkey)""")
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)""")),

    // ───── F7 LATERAL join: per-group top-n as a correlated subquery in
    // FROM — "for each region, its top-2 nations by customer count".
    // Catalyst decorrelates the aggregate+LIMIT lateral into a join +
    // per-group window (no per-outer-row re-execution — the dim side is
    // broadcast, one pass over customer), which is exactly what a user
    // migrating LATERAL-heavy warehouse SQL needs to hold at scale.
    // (n_cust DESC, n_name) is a total order, so the top-2 is
    // deterministic in both engines.
    QuerySpec(
      "sql_lateral_topn",
      (s, d) => {
        region(s, d).createOrReplaceTempView("region_v")
        nation(s, d).createOrReplaceTempView("nation_v")
        customer(s, d).createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT r.r_name, t.n_name, t.n_cust
          FROM region_v r,
          LATERAL (
            SELECT n.n_name, count(*) AS n_cust
            FROM nation_v n JOIN customer_v c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_cust DESC, n.n_name
            LIMIT 2
          ) t""")
      },
      Some("""
        SELECT r.r_name, t.n_name, t.n_cust
        FROM region r,
        LATERAL (
          SELECT n.n_name, count(*) AS n_cust
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_cust DESC, n.n_name
          LIMIT 2
        ) t""")),

    // ───── deterministic hash sampling: a ~10% Bernoulli sample keyed on
    // md5 of the row key — reproducible across engines, retries, and
    // cluster layouts (unlike rand()-based TABLESAMPLE), which is what a
    // training-data pipeline needs for holdout/eval splits. Aggregated so
    // the oracle checks the sample MEMBERSHIP, not just its size.
    QuerySpec(
      "sample_hash",
      (s, d) => lineitem(s, d)
        .withColumn("bucket",
          expr("conv(substring(md5(concat(cast(l_orderkey as string), '_', cast(l_linenumber as string))), 1, 8), 16, 10)")
            .cast("long") % 100)
        .filter(col("bucket") < 10)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents")),
      Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem
        WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
        GROUP BY l_returnflag"""))
  ,

    // ───── referential-integrity audit (r7): the data-quality gate a
    // pipeline runs before training — per relationship, row count,
    // distinct key count, and ORPHAN count (left rows whose key has no
    // right-side match). Each orphan check is a LEFT ANTI join on the
    // key (semi-join family: Catalyst pushes it to a broadcast/hash
    // anti, never a per-row subquery); the three 1-row aggregates union
    // into one report. On clean testdata all orphan counts are 0 — the
    // row/key counts keep the result hash-meaningful, and any future
    // generator drift that breaks a relationship fails this row loudly.
    QuerySpec(
      "audit_referential",
      (s, d) => {
        def rel(name: String, left: DataFrame, lk: String,
                right: DataFrame, rk: String): DataFrame = {
          val totals = left.agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col(lk)).as("n_keys"))
          val orphans = left
            .join(right.select(col(rk).as(lk)).distinct(), Seq(lk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          totals.crossJoin(orphans).select(
            lit(name).as("rel"), col("n_rows"), col("n_keys"), col("n_orphans"))
        }
        rel("lineitem->orders", lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
          .unionByName(rel("orders->customer", orders(s, d), "o_custkey",
            customer(s, d), "c_custkey"))
          .unionByName(rel("documents->embeddings", documents(s, d), "doc_id",
            embeddings(s, d), "vec_id"))
      },
      Some("""
        SELECT 'lineitem->orders' AS rel,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
               CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders->customer',
               CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
        FROM orders r LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON r.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'documents->embeddings',
               CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT doc_id) AS BIGINT),
               CAST(count(CASE WHEN e.vec_id IS NULL THEN 1 END) AS BIGINT)
        FROM documents d LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e
          ON d.doc_id = e.vec_id"""))
  ,

    // ───── k-anonymity audit with a generalization ladder (r9): the
    // privacy-governance gate a dataset passes before release (Sweeney,
    // k-anonymity, IJUFKS 2002) — every row must be indistinguishable
    // from ≥ k−1 others on its quasi-identifiers. QI here: (nation,
    // market segment, account-balance band); the ladder re-audits under
    // the two standard generalizations (drop the band; then drop
    // nation), reporting per level how many equivalence classes exist,
    // how many rows a k=5 release would suppress, and the smallest
    // class — the fingerprint a data-release pipeline alerts on. Each
    // level is ONE hash-agg over QI cardinality then a one-row rollup:
    // nothing joins, nothing sorts, shards on the QI key at 100 TB. The
    // balance band floor-normalizes with a +1000.00 offset so negative
    // balances band identically under Spark's truncating div and
    // DuckDB's flooring // (the events_forecast discipline).
    QuerySpec(
      "privacy_k_anon",
      (s, d) => {
        val qi = customer(s, d).select(
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000")
            .as("band"))
        def level(lvl: String, keys: Seq[String]) = qi
          .groupBy(keys.map(col): _*).agg(count(lit(1)).as("cs"))
          .agg(count(lit(1)).as("n_classes"),
            count(when(col("cs") < 5, 1)).as("n_unsafe_classes"),
            coalesce(sum(when(col("cs") < 5, col("cs"))), lit(0L))
              .as("n_suppressed_rows"),
            coalesce(sum(when(col("cs") >= 5, col("cs"))), lit(0L))
              .as("n_safe_rows"),
            min(col("cs")).as("min_class_size"))
          .select(lit(lvl).as("level"), col("n_classes"), col("n_unsafe_classes"),
            col("n_suppressed_rows"), col("n_safe_rows"), col("min_class_size"))
        level("L0_nat_seg_band", Seq("nat", "seg", "band"))
          .unionAll(level("L1_nat_seg", Seq("nat", "seg")))
          .unionAll(level("L2_seg", Seq("seg")))
      },
      Some("""
        WITH qi AS (
          SELECT c_nationkey AS nat, c_mktsegment AS seg,
                 (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band
          FROM customer),
        l0 AS (SELECT count(*) AS cs FROM qi GROUP BY nat, seg, band),
        l1 AS (SELECT count(*) AS cs FROM qi GROUP BY nat, seg),
        l2 AS (SELECT count(*) AS cs FROM qi GROUP BY seg)
        SELECT 'L0_nat_seg_band' AS level, count(*) AS n_classes,
               CAST(count(CASE WHEN cs < 5 THEN 1 END) AS BIGINT) AS n_unsafe_classes,
               CAST(COALESCE(SUM(CASE WHEN cs < 5 THEN cs END), 0) AS BIGINT) AS n_suppressed_rows,
               CAST(COALESCE(SUM(CASE WHEN cs >= 5 THEN cs END), 0) AS BIGINT) AS n_safe_rows,
               CAST(MIN(cs) AS BIGINT) AS min_class_size
        FROM l0
        UNION ALL
        SELECT 'L1_nat_seg', count(*),
               CAST(count(CASE WHEN cs < 5 THEN 1 END) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN cs < 5 THEN cs END), 0) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN cs >= 5 THEN cs END), 0) AS BIGINT),
               CAST(MIN(cs) AS BIGINT)
        FROM l1
        UNION ALL
        SELECT 'L2_seg', count(*),
               CAST(count(CASE WHEN cs < 5 THEN 1 END) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN cs < 5 THEN cs END), 0) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN cs >= 5 THEN cs END), 0) AS BIGINT),
               CAST(MIN(cs) AS BIGINT)
        FROM l2"""))
  ,

    // ───── iterative graph analytics (r8): integer PageRank over the
    // customer↔supplier purchase graph — the second iterative graph
    // operator next to dedup_cluster's label propagation. Edges are the
    // DISTINCT (customer, supplier) purchase relations (orders ⋈
    // lineitem), symmetrized so the walk is well-defined (no dangling
    // sinks); each of 4 iterations is ONE edge-list equi-join + ONE
    // hash-agg — per-round cost O(|edges|), the standard distributed
    // PageRank shape, with damping 0.85 in pure integer arithmetic
    // (rank·85 div (100·deg), base 150000 per node on a 1e6 scale;
    // truncation leaks mass deterministically — both engines leak the
    // SAME mass, so the unrolled DuckDB replay is bit-identical).
    // Top-20 via TakeOrderedAndProject with a total-order tiebreak.
    QuerySpec(
      "graph_pagerank",
      (s, d) => {
        // LONG node ids inside the iteration (customer = 2k, supplier
        // = 2k+1): the rank walk shuffles |E| rows four times, and
        // hashing/comparing packed longs beats per-row string concat
        // + UTF8 keys; the oracle's 'c…'/'s…' labels are re-attached
        // to the FINAL 20 rows only, before the tie-broken top-k (so
        // the (pr desc, node-string) order is identical). The static
        // (src, dst, deg) side is the SHARED purchaseWithDeg artifact
        // (one cache for pagerank + ppr, pre-partitioned by src —
        // each round re-shuffles only the |V|-row rank table)
        val withDeg = graft.analytics.GraphArtifacts.purchaseWithDeg(s, d)
        var ranks = withDeg.select(col("src").as("node")).distinct()
          .select(col("node"), lit(1000000L).as("pr"))
        for (_ <- 1 to 4) {
          ranks = withDeg.join(ranks, col("src") === col("node"))
            .select(col("dst"),
              expr("(pr * 85) div (100 * deg)").as("contrib"))
            .groupBy(col("dst").as("node"))
            .agg((sum("contrib") + lit(150000L)).as("pr"))
        }
        ranks
          .select(concat(when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
            expr("cast(node div 2 as string)")).as("node"),
            col("pr"))
          .orderBy(col("pr").desc, col("node")).limit(20)
      },
      Some {
        val iters = (1 to 4).map { t =>
          s"""
        r$t AS (
          SELECT e.dst AS node,
                 CAST(150000 + SUM((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
          FROM edges e JOIN r${t - 1} r ON r.node = e.src
                       JOIN deg d ON d.src = e.src
          GROUP BY e.dst)"""
        }.mkString(",")
        s"""
        WITH e0 AS (
          SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
                          's' || CAST(l.l_suppkey AS VARCHAR) AS snode
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        edges AS (
          SELECT cnode AS src, snode AS dst FROM e0
          UNION ALL
          SELECT snode AS src, cnode AS dst FROM e0),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT src AS node, 1000000::BIGINT AS pr FROM deg),$iters
        SELECT node, pr FROM r4 ORDER BY pr DESC, node LIMIT 20"""
      }),

    // ───── connected components at scale (r9): large-star/small-star
    // ([[graft.analytics.DedupQueries.connectedComponentsLSSS]]) over a
    // graph of DEEP PATHS — each customer's orders linked in orderkey
    // sequence (lag over the per-customer window), so component diameter
    // = orders-per-customer (tens), exactly the regime where min-label
    // propagation pays diameter rounds and the star operations pay
    // O(log). The ORACLE is algorithm-independent: a chain's component
    // is its customer's order set and its min label the customer's min
    // orderkey, so DuckDB states the answer declaratively while Spark
    // must EARN it through the iterated edge algebra — any mis-wired
    // star round breaks size histogram or label sum. Output: histogram
    // of component sizes with the per-size sum of min-id labels (labels
    // checked in aggregate, not just counts). AnalyticsSpec asserts the
    // logarithmic round bound on a 64-deep chain.
    QuerySpec(
      "graph_components",
      (s, d) => {
        val labels = chainLabels(s, d)
        labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
          .groupBy("comp_size")
          .agg(count(lit(1)).as("n_comps"), sum("label").as("sum_min_label"))
      },
      Some("""
        SELECT comp_size, COUNT(*) AS n_comps,
               CAST(SUM(lbl) AS BIGINT) AS sum_min_label
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS comp_size,
                     MIN(o_orderkey) AS lbl
              FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2)
        GROUP BY comp_size""")),

    // ───── Newman modularity of a graph partition (r10): Q =
    // Σ_c [e_c/m − (d_c/2m)²] — the partition-quality score every
    // community-detection pipeline reports (Q ≈ 0: no better than
    // random given the degree sequence; → 1: dense communities,
    // sparse cuts). Computed GENERICALLY from (edge list, labels):
    // intra-edge counts by joining labels onto both endpoints, degree
    // mass per community from the label join — all node-keyed
    // equi-joins — then the exact rational Q = Σ(4m·e_c − d_c²)/4m²
    // in ppm (one integer div; numerator terms bounded by 4m·e_c ≤
    // 4m², no overflow until m ~ 10⁹ edges, where the sum moves to
    // the per-community pre-scaled form). Labels come from the SHARED
    // LSSS run ([[chainLabels]] — graph_components pays it; this query
    // rides the memo). On the chain graph the true components make
    // every edge intra, so the oracle states Q declaratively from the
    // per-customer counts — the generic plumbing must reproduce the
    // closed form exactly.
    QuerySpec(
      "graph_modularity",
      (s, d) => {
        val e = chainEdges(s, d)
        val lab = chainLabels(s, d)
        val m = e.count()
        val la = lab.select(col("doc_id").as("doc_a"), col("label").as("ca"))
        val lb = lab.select(col("doc_id").as("doc_b"), col("label").as("cb"))
        val intra = e.join(la, "doc_a").join(lb, "doc_b")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
        val degm = e.select(col("doc_a").as("n"))
          .unionAll(e.select(col("doc_b").as("n")))
          .join(lab.withColumnRenamed("doc_id", "n"), "n")
          .groupBy(col("label").as("c")).agg(count(lit(1)).as("dc"))
        degm.join(intra, Seq("c"), "left")
          .withColumn("ec", coalesce(col("ec"), lit(0L)))
          .agg(count(lit(1)).as("n_communities"),
            sum("ec").as("intra_edges"), sum("dc").as("degree_mass"),
            sum(lit(4L) * m * col("ec") - col("dc") * col("dc")).as("qnum"))
          .select(col("n_communities"), col("intra_edges"),
            col("degree_mass"), lit(m).as("m_edges"),
            // FLOOR division, not Spark's truncate-toward-zero `div`:
            // Q < 0 is possible for a generic partition, and DuckDB's
            // `//` floors — a truncating div would diverge by 1 ppm on
            // any negative-Q labeling (ADVICE r10)
            expr(s"case when qnum >= 0 then (qnum * 1000000) div (4 * ${m}L * ${m}L) " +
              s"else -((-(qnum * 1000000) + 4 * ${m}L * ${m}L - 1) div (4 * ${m}L * ${m}L)) end")
              .as("q_ppm"))
      },
      Some("""
        WITH sizes AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders
          GROUP BY o_custkey HAVING COUNT(*) >= 2),
        m AS (SELECT CAST(SUM(cnt - 1) AS BIGINT) AS m FROM sizes)
        SELECT COUNT(*) AS n_communities,
               CAST(SUM(cnt - 1) AS BIGINT) AS intra_edges,
               CAST(SUM(2 * (cnt - 1)) AS BIGINT) AS degree_mass,
               MAX(m.m) AS m_edges,
               CAST(SUM(4 * m.m * (cnt - 1) - 4 * (cnt - 1) * (cnt - 1))
                 AS BIGINT) * 1000000 // (4 * MAX(m.m) * MAX(m.m)) AS q_ppm
        FROM sizes, m""")),

    // ───── community DETECTION (r11) — graph_modularity SCORES a given
    // partition; this FINDS one: deterministic synchronous label
    // propagation (Raghavan et al. 2007's LPA, made replayable) over
    // the part co-purchase graph — 4 fixed rounds, most-frequent
    // neighbor label, ties to the smallest label (a total order). The
    // oracle replays the unrolled rounds declaratively (the
    // BPE/Lloyd/perceptron unrolled-iterations discipline), so the
    // whole trajectory is hash-gated, not just a quality bound.
    // Per-round cost is one edge-list equi-join + one (node, label)
    // hash-agg + one node-partitioned window — O(|edges|) per round,
    // round count constant; shards on node keys at 100 TB. Output: the
    // community-size histogram with min/sum node checksums.
    QuerySpec(
      "graph_communities",
      (s, d) => {
        val both = graft.analytics.Corpus.cached(s, d, "lpaBoth") {
          val e = coPurchaseEdges(s, d)
          // spread, not bare repartition (r17): AQE coalesces the keyed
          // repartition of this ~26 MB build to ~1 partition, so every
          // LPA round's join + both aggregations ran near-serially — the
          // same narrow-publish failure the r16 spread fixes closed on
          // the other artifact roots; per-round joins still reuse the
          // b-keyed exchange
          graft.Tables.spread(
            e.select(col("u").as("a"), col("v").as("b"))
              .unionAll(e.select(col("v").as("a"), col("u").as("b"))),
            col("b"))
        }
        graft.analytics.GraphOps.labelPropagationBoth(both, rounds = 4)
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"),
            min("n").as("min_node"), sum("n").as("node_sum"))
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        both_e AS (
          SELECT u AS a, v AS b FROM edges
          UNION ALL SELECT v AS a, u AS b FROM edges),
        l0 AS (SELECT DISTINCT a AS n, a AS label FROM both_e),
        l1 AS (SELECT a AS n, label FROM (
            SELECT e.a, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.a
                     ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM both_e e JOIN l0 l ON l.n = e.b GROUP BY e.a, l.label) r
          WHERE rn = 1),
        l2 AS (SELECT a AS n, label FROM (
            SELECT e.a, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.a
                     ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM both_e e JOIN l1 l ON l.n = e.b GROUP BY e.a, l.label) r
          WHERE rn = 1),
        l3 AS (SELECT a AS n, label FROM (
            SELECT e.a, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.a
                     ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM both_e e JOIN l2 l ON l.n = e.b GROUP BY e.a, l.label) r
          WHERE rn = 1),
        l4 AS (SELECT a AS n, label FROM (
            SELECT e.a, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.a
                     ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM both_e e JOIN l3 l ON l.n = e.b GROUP BY e.a, l.label) r
          WHERE rn = 1)
        SELECT label AS community, COUNT(*) AS n_nodes,
               CAST(MIN(n) AS BIGINT) AS min_node,
               CAST(SUM(n) AS BIGINT) AS node_sum
        FROM l4 GROUP BY 1""")),

    // ───── degree assortativity (r11): Newman's r — the Pearson
    // correlation of endpoint degrees over every edge, both
    // orientations (the symmetric formulation, so hubs-link-to-hubs
    // shows as r > 0 and hub-and-spoke as r < 0; THE one-number
    // topology fingerprint that predicts whether degree-keyed
    // partitioning will skew). Exact sufficient sums as DECIMAL(38)
    // (degree products stay far inside), ONE fixed double formula at
    // the end — the agg_correlation discipline. Plan: degree hash-agg +
    // two node-keyed equi-joins + one sums agg; shards at any scale.
    QuerySpec(
      "graph_assortativity",
      (s, d) => {
        val both = graft.analytics.GraphArtifacts.undEdges(s, d)
          .select(col("u").as("a"), col("v").as("b"))
        val deg = both.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg"))
        both
          .join(deg.select(col("n").as("a"), col("deg").as("dx")), "a")
          .join(deg.select(col("n").as("b"), col("deg").as("dy")), "b")
          .select(col("dx").cast("decimal(38,0)").as("x"),
            col("dy").cast("decimal(38,0)").as("y"))
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("n").cast("long").as("n_arcs"),
            expr("""cast(
                (cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
                / (sqrt(cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double))
                   * sqrt(cast(n AS double) * cast(syy AS double) - cast(sy AS double) * cast(sy AS double)))
              AS double)""").as("assortativity"))
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        both_e AS (
          SELECT u AS a, v AS b FROM edges
          UNION ALL SELECT v AS a, u AS b FROM edges),
        deg AS (SELECT a AS n, COUNT(*) AS deg FROM both_e GROUP BY 1),
        sums AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(da.deg AS HUGEINT)) AS sx,
                 SUM(CAST(db.deg AS HUGEINT)) AS sy,
                 SUM(CAST(da.deg AS HUGEINT) * CAST(db.deg AS HUGEINT)) AS sxy,
                 SUM(CAST(da.deg AS HUGEINT) * CAST(da.deg AS HUGEINT)) AS sxx,
                 SUM(CAST(db.deg AS HUGEINT) * CAST(db.deg AS HUGEINT)) AS syy
          FROM both_e e
          JOIN deg da ON da.n = e.a
          JOIN deg db ON db.n = e.b)
        SELECT CAST(n AS BIGINT) AS n_arcs,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 AS assortativity
        FROM sums""")),

    // ───── link prediction via the resource-allocation index (r11):
    // the recommender primitive over the co-purchase graph — score
    // every NON-adjacent pair that shares a neighbor by
    // RA(x,y) = Σ_{m ∈ N(x)∩N(y)} 1/deg(m) (Zhou et al. 2009), in
    // exact ppm integers (Σ 1 000 000 div deg(m)). Candidates are
    // 2-hop wedges, whose volume is Σ deg(m)² — quadratic at hubs (the
    // r9 triangle lesson) — so middles are DEGREE-CAPPED at 64: a
    // hub's per-middle RA contribution is < 15 625 ppm anyway (RA's
    // 1/deg self-damping is exactly why the cap is principled — hubs
    // connect everyone and predict nothing), and the cap bounds wedge
    // fan-out per middle at a CONSTANT 64², making the stage linear in
    // |edges| at any corpus size. The cap is part of the operator's
    // declared semantics and the oracle applies the identical filter.
    // Plan: per-middle self-join (equi-join on m, shards by middle),
    // RA hash-agg, LEFT ANTI against the edge list (normalized x<y
    // matches u<v), top-20 under the (score DESC, x, y) total order.
    // ───── degree distribution, power-of-2 binned (r12): THE one-scan
    // graph profile read before choosing any partitioning strategy
    // (G12's assortativity predicts skew correlation; this shows the
    // skew itself — how heavy is the hub tail). Log-binning without
    // libm: bin = bit length of the degree via length(bin(deg)) — an
    // integer both engines compute identically (log2 would be a float).
    // One hash-agg over nodes, output bounded by 64 bins.
    QuerySpec(
      "graph_knn_curve",
      (s, d) => {
        // average neighbor degree per degree band — knn(k), the
        // assortativity readout as a CURVE instead of one coefficient
        // (graph_assortativity's r compresses this to a scalar; the
        // curve shows WHERE mixing changes). One degree table off the
        // shared undirected frame, one self-join edge⋈deg(both ends),
        // power-2 degree bands (the libm-free log-binning); exact
        // integer milli mean.
        val und = graft.analytics.GraphArtifacts.undEdges(s, d)
        val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("dg"))
        und
          .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
          .groupBy(expr("length(bin(du))").as("band"))
          .agg(count(lit(1)).as("n_arcs"),
            min("du").as("min_deg"), max("du").as("max_deg"),
            expr("cast(cast(sum(dv) as decimal(38,0)) * 1000 div count(1) as bigint)")
              .as("knn_milli"))
      },
      Some("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        und AS MATERIALIZED (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        deg AS MATERIALIZED (SELECT u AS n, COUNT(*) AS dg FROM und GROUP BY 1)
        SELECT CAST(LENGTH(bin(a.dg)) AS INTEGER) AS band,
               COUNT(*) AS n_arcs,
               CAST(MIN(a.dg) AS BIGINT) AS min_deg,
               CAST(MAX(a.dg) AS BIGINT) AS max_deg,
               CAST(CAST(SUM(b.dg) AS HUGEINT) * 1000 // COUNT(*) AS BIGINT)
                 AS knn_milli
        FROM und JOIN deg a ON a.n = und.u JOIN deg b ON b.n = und.v
        GROUP BY 1""")),

    QuerySpec(
      "graph_degree_hist",
      (s, d) => {
        graft.analytics.GraphArtifacts.undEdges(s, d)
          .select(col("u").as("n"))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .groupBy(expr("length(bin(deg))").as("bin"))
          .agg(count(lit(1)).as("n_nodes"),
            min("deg").as("min_deg"), max("deg").as("max_deg"),
            sum("deg").as("deg_sum"), sum("n").as("node_sum"))
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
          GROUP BY 1)
        SELECT CAST(LENGTH(bin(deg)) AS INTEGER) AS bin,
               COUNT(*) AS n_nodes,
               CAST(MIN(deg) AS BIGINT) AS min_deg,
               CAST(MAX(deg) AS BIGINT) AS max_deg,
               CAST(SUM(deg) AS BIGINT) AS deg_sum,
               CAST(SUM(n) AS BIGINT) AS node_sum
        FROM deg GROUP BY 1""")),

    // ───── harmonic closeness centrality via MULTI-SOURCE BFS (r12):
    // graph_bfs_hops' single-seed frontier generalized to 5 seeds in
    // ONE synchronized pass — the state is (seed, node, hop), so the
    // per-round cost is one edge equi-join for ALL seeds together
    // (exactly how a 1000-executor cluster amortizes landmark-distance
    // computations; per-seed sequential BFS would pay 5× the rounds).
    // Harmonic form (Σ 1e6 div hop over reached nodes, 4 fixed rounds)
    // rather than classic closeness: it is finite under disconnection
    // and needs no reachability normalization. Seeds = top-5 by
    // undirected degree (min-id tiebreak, a total order); the 5-row
    // pull to the driver is the documented control-plane-collect class.
    // Output per seed: nodes reached per hop band is collapsed to
    // n_reached / harmonic_ppm / node-sum checksum — bounded 5 rows.
    // The oracle unrolls the same 4 frontiers as materialized CTEs
    // keyed by (seed, node).
    QuerySpec(
      "graph_closeness",
      (s, d) => {
        val und = graft.analytics.GraphArtifacts.undEdges(s, d)
        val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("dg"))
        val seeds = deg.orderBy(col("dg").desc, col("n")).limit(5)
          .select("n").collect().map(_.getLong(0)).sorted.toSeq
        graft.analytics.GraphOps.multiSourceBfs(und, seeds, rounds = 4)
          .filter(col("hop") >= 1)
          .groupBy("seed")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div hop")).as("harmonic_ppm"),
            sum("n").as("node_sum"))
      },
      Some {
        val sb = new StringBuilder(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        und AS MATERIALIZED (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        deg AS MATERIALIZED (SELECT u AS n, count(*) AS dg FROM und GROUP BY 1),
        seeds AS MATERIALIZED (
          SELECT n AS seed FROM deg ORDER BY dg DESC, n LIMIT 5),
        f0 AS MATERIALIZED (SELECT seed, seed AS n FROM seeds),
        v0 AS MATERIALIZED (SELECT seed, n FROM f0)""")
        for (r <- 1 to 4) sb.append(s""",
        f$r AS MATERIALIZED (
          SELECT DISTINCT f.seed, und.v AS n
          FROM und JOIN f${r - 1} f ON und.u = f.n
          LEFT JOIN v${r - 1} vis ON vis.seed = f.seed AND vis.n = und.v
          WHERE vis.n IS NULL),
        v$r AS MATERIALIZED (
          SELECT seed, n FROM v${r - 1} UNION ALL SELECT seed, n FROM f$r)""")
        sb.append(s""",
        hops AS (${(1 to 4).map(r => s"SELECT seed, n, $r AS hop FROM f$r")
          .mkString(" UNION ALL ")})
        SELECT seed, COUNT(*) AS n_reached,
               CAST(SUM(1000000 // hop) AS BIGINT) AS harmonic_ppm,
               CAST(SUM(n) AS BIGINT) AS node_sum
        FROM hops GROUP BY 1""")
        sb.toString
      }),

    // ───── weighted single-source shortest paths (r13, VERDICT r12
    // #5): the graph family's hop counts upgraded to DISTANCE — the
    // co-purchase graph weighted by inverse affinity (w = 1e6 div
    // shared-order count: frequently-co-bought parts are "close"), 4
    // Bellman-Ford rounds from the top-degree hub via
    // GraphOps.ssspWeighted (each round ONE edge equi-join + one
    // min-agg, O(|edges|), with the monotone early-exit — a round that
    // improves nothing proves the fixpoint, and the oracle's full
    // 4-round unroll is identical by the same monotonicity). Exact for
    // shortest paths of ≤ 4 edges — the declared bounded-hop horizon,
    // like graph_closeness. Output collapses to power-of-2 distance
    // bands (length(bin(dist)) — the graph_degree_hist libm-free
    // log-binning), bounded 64 rows; node_sum is the membership
    // checksum. The 1-row source pull is the documented control-plane
    // class; StatSpec holds the runner equal to a brute driver-side
    // Dijkstra on a planted weighted graph.
    QuerySpec(
      "graph_sssp_weighted",
      (s, d) => {
        val und = graft.analytics.GraphArtifacts.undWeighted(s, d)
        val source = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("n")).limit(1)
          .select("n").collect()(0).getLong(0)
        graft.analytics.GraphOps.ssspWeighted(und, source, maxRounds = 4)._1
          .groupBy(expr("length(bin(dist))").as("band"))
          .agg(count(lit(1)).as("n_nodes"),
            min("dist").as("min_dist"), max("dist").as("max_dist"),
            sum("n").as("node_sum"))
      },
      Some {
        val sb = new StringBuilder("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        ew AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v,
                 1000000 // COUNT(*) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        und AS MATERIALIZED (
          SELECT u, v, w FROM ew UNION ALL SELECT v AS u, u AS v, w FROM ew),
        deg AS MATERIALIZED (SELECT u AS n, COUNT(*) AS dg FROM und GROUP BY 1),
        d0 AS MATERIALIZED (
          SELECT n, CAST(0 AS BIGINT) AS dist
          FROM (SELECT n FROM deg ORDER BY dg DESC, n LIMIT 1))""")
        for (r <- 1 to 4) sb.append(s""",
        d$r AS MATERIALIZED (
          SELECT n, MIN(dist) AS dist FROM (
            SELECT n, dist FROM d${r - 1}
            UNION ALL
            SELECT e.v AS n, d.dist + e.w AS dist
            FROM und e JOIN d${r - 1} d ON e.u = d.n)
          GROUP BY 1)""")
        sb.append("""
        SELECT CAST(LENGTH(bin(dist)) AS INTEGER) AS band,
               COUNT(*) AS n_nodes,
               CAST(MIN(dist) AS BIGINT) AS min_dist,
               CAST(MAX(dist) AS BIGINT) AS max_dist,
               CAST(SUM(n) AS BIGINT) AS node_sum
        FROM d4 GROUP BY 1""")
        sb.toString
      }),

    QuerySpec(
      "graph_link_prediction",
      (s, d) => {
        val e = coPurchaseEdges(s, d)
        val both = graft.analytics.GraphArtifacts.undEdges(s, d)
          .select(col("u").as("m"), col("v").as("b"))
        val dm = both.groupBy("m").agg(count(lit(1)).as("dm"))
          .filter(col("dm") <= 64)
        val small = both.join(dm, "m")
        val wedges = small.as("l")
          .join(small.as("r"),
            col("l.m") === col("r.m") && col("l.b") < col("r.b"))
          .select(col("l.b").as("x"), col("r.b").as("y"),
            col("l.dm").as("dmid"))
        wedges
          .groupBy("x", "y")
          .agg(sum(expr("1000000 div dmid")).as("ra_ppm"),
            count(lit(1)).as("n_common"))
          .join(e, col("x") === col("u") && col("y") === col("v"), "left_anti")
          .orderBy(col("ra_ppm").desc, col("x"), col("y"))
          .limit(20)
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        both_e AS (
          SELECT u AS m, v AS b FROM edges
          UNION ALL SELECT v AS m, u AS b FROM edges),
        dm AS (
          SELECT m, COUNT(*) AS dm FROM both_e GROUP BY m
          HAVING COUNT(*) <= 64),
        small AS (SELECT b.m, b.b, d.dm FROM both_e b JOIN dm d USING (m)),
        wedges AS (
          SELECT l.b AS x, r.b AS y, l.dm AS dmid
          FROM small l JOIN small r ON l.m = r.m AND l.b < r.b),
        scored AS (
          SELECT x, y, CAST(SUM(1000000 // dmid) AS BIGINT) AS ra_ppm,
                 COUNT(*) AS n_common
          FROM wedges GROUP BY 1, 2),
        nonedge AS (
          SELECT s.* FROM scored s
          LEFT JOIN edges e ON e.u = s.x AND e.v = s.y
          WHERE e.u IS NULL)
        SELECT x, y, ra_ppm, n_common FROM nonedge
        ORDER BY ra_ppm DESC, x, y LIMIT 20""")),

    // ───── triangle counting via degree orientation (r9): the third
    // graph-analytics operator next to components (connectivity) and
    // PageRank (centrality) — triangles are the local-clustering /
    // community-density primitive. Graph: the part co-purchase edges
    // (distinct parts sharing an order — basket_pairs' pair stage,
    // bounded by basket size per order, never part×part). The naive
    // wedge enumeration is Σ deg(v)² — quadratic at hub nodes ("the
    // curse of the last reducer", Suri & Vassilvitskii WWW'11); the fix
    // is the standard DEGREE ORIENTATION: orient every edge from the
    // (degree, id)-smaller endpoint, so each triangle is counted exactly
    // once — apex a with a→b, a→c, b→c — and per-node out-degree is
    // bounded by O(√|E|) — wedge volume drops from Σdeg² to Σoutdeg²,
    // the arboricity bound. EXECUTION is the edge-iterator form (r10;
    // the r9 wedge self-join materialized 41 M wedge ROWS at sf0.1 and
    // shuffled them through a closing join — three times over, because
    // the unioned per-node projections each recomputed the triangle
    // join): build the oriented out-adjacency list per node ONCE, ship
    // it to each of the node's oriented edges, and count
    // |out(u) ∩ out(v)| per edge — the wedge volume still exists (it
    // must; it IS the triangle-counting work) but travels as PACKED
    // ARRAY PAYLOAD inside |E| join rows instead of 41 M shuffled wedge
    // rows, and the intersection runs in-memory per row. Per-node
    // counts in ONE pass over the per-edge results: apex and middle
    // each take |common|, every closing node takes 1 via a
    // transform+explode whose total output is exactly 3·triangles rows.
    // Every stage is an equi-join sharding on node keys at 100 TB.
    // Output is the per-node triangle-count histogram with min/sum node
    // checksums (Σ node participation = 3·triangles), so any mis-wired
    // stage changes row cardinality or a checksum — the oracle is
    // algorithm-independent declarative SQL.
    QuerySpec(
      "graph_triangles",
      (s, d) => {
        val (perNode, _) = triPerNode(s, d)
        perNode
          .groupBy(col("n_tri").as("tri_per_node"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("n")).as("min_node"), sum(col("n")).as("node_sum"))
      },
      Some(triOracleCtes + """
        SELECT n_tri AS tri_per_node, count(*) AS n_nodes,
               CAST(min(n) AS BIGINT) AS min_node,
               CAST(sum(n) AS BIGINT) AS node_sum
        FROM pernode GROUP BY 1""")),

    // ───── local clustering coefficient (r10): the per-node community-
    // density metric (Watts & Strogatz, Nature 1998) — lcc(n) =
    // 2·tri(n) / (deg(n)·(deg(n)−1)), the fraction of a node's
    // neighbor pairs that are themselves connected. Built ON the
    // edge-iterator triangle engine ([[triPerNode]], shared plan cache
    // with graph_triangles): degrees LEFT-join the per-node triangle
    // counts so zero-triangle nodes (absent from the tri stream by
    // construction) enter at lcc = 0 — dropping them would bias the
    // distribution upward, the classic mistake. All integer: lcc in
    // per-mille via div (non-negative operands), histogram decile =
    // lcc_pm div 100. Output: decile histogram with node counts,
    // triangle mass, and min-node fingerprints — checksums over the
    // whole joint (deg, tri) distribution.
    QuerySpec(
      "graph_clustering_coeff",
      (s, d) => {
        val (perNode, deg) = triPerNode(s, d)
        deg.filter(col("deg") >= 2)
          .join(perNode, Seq("n"), "left")
          .withColumn("t", coalesce(col("n_tri"), lit(0L)))
          .withColumn("lcc_pm", expr("2 * t * 1000 div (deg * (deg - 1))"))
          .groupBy(expr("lcc_pm div 100").as("decile"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("t")).as("tri_sum"),
            min(col("n")).as("min_node"))
      },
      Some(triOracleCtes + """,
        lcc AS (
          SELECT d.n, d.d, COALESCE(p.n_tri, 0) AS t,
                 2 * COALESCE(p.n_tri, 0) * 1000 // (d.d * (d.d - 1)) AS lcc_pm
          FROM deg d LEFT JOIN pernode p ON p.n = d.n
          WHERE d.d >= 2)
        SELECT lcc_pm // 100 AS decile, count(*) AS n_nodes,
               CAST(SUM(t) AS BIGINT) AS tri_sum,
               CAST(MIN(n) AS BIGINT) AS min_node
        FROM lcc GROUP BY 1""")),

    // ───── Strongly connected components (r15, VERDICT r14 #5): the
    // directed-graph completion — the family's one remaining classic.
    // Graph: the purchase-SEQUENCE graph — part a → part b when a
    // precedes b by line number within an order (cycles arise across
    // orders: a before b in one order, b before a in another), node set
    // deterministically subsampled to l_partkey % 30 = 0 so the
    // oracle's independent transitive-closure formulation stays
    // feasible while the Spark side runs the real distributed
    // algorithm (trim + forward-backward min-label peeling,
    // [[graft.analytics.GraphOps.stronglyConnectedComponents]] — the
    // two formulations share NOTHING structurally, the strongest gate
    // shape). Measured structure: the classic bowtie — one giant
    // strongly connected core (37 of 39 cycle nodes at sf0.01, 316 at
    // sf0.1) plus trimmed periphery. Output: node/edge counts, the
    // nontrivial-SCC profile (count, max size, member count, min-member
    // label checksum), singleton count, and the unresolved residue
    // (0 = the peel converged; reported, never silent).
    QuerySpec(
      "graph_scc",
      (s, d) => {
        val (e, labels, unresolved) = sccArtifacts(s, d)
        val sizes = labels.groupBy("scc").agg(count(lit(1)).as("sz"))
          .localCheckpoint(true)
        val nontrivialNodes = labels
          .join(sizes.filter(col("sz") >= 2).select("scc"), "scc")
        e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
          .distinct().agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .crossJoin(sizes.filter(col("sz") >= 2)
            .agg(count(lit(1)).as("n_sccs_nontrivial"),
              coalesce(max("sz"), lit(0L)).as("max_scc"),
              coalesce(sum("sz"), lit(0L)).as("nodes_in_nontrivial")))
          .crossJoin(nontrivialNodes
            .agg(coalesce(sum("scc"), lit(0L)).as("nontrivial_label_sum")))
          .crossJoin(sizes.filter(col("sz") === 1)
            .agg(count(lit(1)).as("n_singletons")))
          .crossJoin(unresolved.agg(count(lit(1)).as("n_unresolved")))
      },
      Some(s"""
        WITH RECURSIVE $sccOracleCtes
        SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM sizes WHERE sz >= 2)
                 AS n_sccs_nontrivial,
               CAST(COALESCE((SELECT MAX(sz) FROM sizes WHERE sz >= 2), 0)
                 AS BIGINT) AS max_scc,
               CAST(COALESCE((SELECT SUM(sz) FROM sizes WHERE sz >= 2), 0)
                 AS BIGINT) AS nodes_in_nontrivial,
               CAST(COALESCE((SELECT SUM(f.scc) FROM full_lab f
                  JOIN sizes z ON z.scc = f.scc AND z.sz >= 2), 0)
                 AS BIGINT) AS nontrivial_label_sum,
               (SELECT COUNT(*) FROM sizes WHERE sz = 1) AS n_singletons,
               CAST(0 AS BIGINT) AS n_unresolved""")),

    // ───── Condensation DAG profile (r15): the SCC quotient graph —
    // contract every SCC to one node (its min-member label from the
    // shared [[sccArtifacts]] run); condensation edges are the distinct
    // (scc(u), scc(v)) pairs of original edges crossing SCCs. The
    // classic theorem says the condensation is ACYCLIC — emitted here
    // as a measured invariant (`n_mutual_cond_pairs` must be 0): a
    // labeling bug on either engine would surface as a nonzero count or
    // a checksum split, so the gate checks the THEOREM, not just the
    // numbers. Output also profiles the DAG: node/edge counts, edge
    // checksum, max out-degree (how concentrated the flow structure is).
    QuerySpec(
      "graph_condensation",
      (s, d) => {
        val (e, labels, _) = sccArtifacts(s, d)
        val ce = e
          .join(labels.select(col("n").as("u"), col("scc").as("scc_u")), "u")
          .join(labels.select(col("n").as("v"), col("scc").as("scc_v")), "v")
          .filter(col("scc_u") =!= col("scc_v"))
          .select("scc_u", "scc_v").distinct().localCheckpoint(true)
        val mutualPairs = ce.as("a").join(ce.as("b"),
          col("a.scc_u") === col("b.scc_v") && col("a.scc_v") === col("b.scc_u"))
        labels.select(col("scc")).distinct()
          .agg(count(lit(1)).as("n_cond_nodes"))
          .crossJoin(ce.agg(count(lit(1)).as("n_cond_edges"),
            coalesce(sum(col("scc_u") + col("scc_v")), lit(0L))
              .as("cond_edge_sum")))
          .crossJoin(mutualPairs.agg(count(lit(1)).as("n_mutual_cond_pairs")))
          .crossJoin(ce.groupBy("scc_u").agg(count(lit(1)).as("od"))
            .agg(coalesce(max("od"), lit(0L)).as("max_out_degree")))
      },
      Some(s"""
        WITH RECURSIVE $sccOracleCtes,
        ce AS MATERIALIZED (
          SELECT DISTINCT lu.scc AS scc_u, lv.scc AS scc_v
          FROM e
          JOIN full_lab lu ON lu.n = e.u
          JOIN full_lab lv ON lv.n = e.v
          WHERE lu.scc <> lv.scc)
        SELECT (SELECT COUNT(DISTINCT scc) FROM full_lab) AS n_cond_nodes,
               (SELECT COUNT(*) FROM ce) AS n_cond_edges,
               (SELECT CAST(COALESCE(SUM(scc_u + scc_v), 0) AS BIGINT)
                FROM ce) AS cond_edge_sum,
               (SELECT COUNT(*) FROM ce a JOIN ce b
                  ON a.scc_u = b.scc_v AND a.scc_v = b.scc_u)
                 AS n_mutual_cond_pairs,
               CAST(COALESCE((SELECT MAX(od) FROM (
                  SELECT scc_u, COUNT(*) AS od FROM ce GROUP BY 1)), 0)
                 AS BIGINT) AS max_out_degree""")),

    // ───── Condensation topological levels (r16): the LAYERING of the
    // SCC quotient DAG — level(c) = longest path from any source to c,
    // the "how deep in the precedence structure" readout (critical-path
    // layering; scheduling depth). graph_condensation proved the DAG
    // acyclic as a measured invariant, which is exactly what makes the
    // monotone fixpoint lev(n) ← max(lev(n), 1 + max_{p→n} lev(p))
    // converge — at DAG depth, here bounded by 16 unrolled rounds over
    // the COMPONENTS-sized condensation edge list (each round one
    // equi-join + hash-agg; rides the shared sccArtifacts memo).
    // `unconverged` counts nodes a 17th round would still raise —
    // 0 = the layering is exact, reported honestly otherwise. Output:
    // per-level SCC counts + max level (the condensation's critical-
    // path length) — the DAG-depth complement to graph_anf's
    // effective-diameter estimate on the undirected side.
    QuerySpec(
      "graph_condensation_levels",
      (s, d) => {
        val (e, labels, _) = sccArtifacts(s, d)
        val ce = e
          .join(labels.select(col("n").as("u"), col("scc").as("scc_u")), "u")
          .join(labels.select(col("n").as("v"), col("scc").as("scc_v")), "v")
          .filter(col("scc_u") =!= col("scc_v"))
          .select("scc_u", "scc_v").distinct().localCheckpoint(true)
        def raised(lev: DataFrame): DataFrame = ce
          .join(lev.select(col("n").as("scc_u"), col("lev").as("pl")),
            "scc_u")
          .groupBy(col("scc_v").as("n"))
          .agg(max(expr("pl + 1")).as("cand"))
        // FUSED step (r17): lev'(n) = max over (current lev ∪ raised
        // candidates) in ONE union + hash-agg — the old shape aggregated
        // the candidates separately and LEFT-JOINED them back (a third
        // exchange per step for what max-over-union computes directly;
        // identical values: the lev row is always in the union, so the
        // absent-candidate coalesce case is subsumed)
        def step(lev: DataFrame): DataFrame =
          lev.unionByName(ce
              .join(lev.select(col("n").as("scc_u"), col("lev").as("pl")),
                "scc_u")
              .select(col("scc_v").as("n"), expr("pl + 1").as("lev")))
            .groupBy("n").agg(max("lev").as("lev"))
        var lev = labels.select(col("scc").as("n")).distinct()
          .withColumn("lev", lit(0L)).localCheckpoint(true)
        // TWO monotone steps per checkpoint; LAZY (r17): no action runs
        // inside the loop, so the final consumers cascade one
        // materialization chain instead of 8 eager checkpoint jobs
        for (_ <- 1 to 8)
          lev = step(step(lev)).localCheckpoint(false)
        val resid = lev.join(raised(lev), Seq("n"), "left")
          .filter(col("cand") > col("lev"))
          .agg(count(lit(1)).as("unconverged"))
        lev.groupBy("lev").agg(count(lit(1)).as("n_sccs"))
          .crossJoin(broadcast(
            lev.agg(max("lev").as("max_level"))))
          .crossJoin(broadcast(resid))
          .select(col("lev"), col("n_sccs"), col("max_level"),
            col("unconverged"))
      },
      Some {
        val sb = new StringBuilder(s"""
        WITH RECURSIVE $sccOracleCtes,
        ce AS MATERIALIZED (
          SELECT DISTINCT lu.scc AS scc_u, lv.scc AS scc_v
          FROM e
          JOIN full_lab lu ON lu.n = e.u
          JOIN full_lab lv ON lv.n = e.v
          WHERE lu.scc <> lv.scc),
        lv0 AS MATERIALIZED (
          SELECT DISTINCT scc AS n, CAST(0 AS BIGINT) AS lev FROM full_lab)""")
        for (k <- 1 to 16) sb.append(s""",
        lv$k AS MATERIALIZED (
          SELECT l.n,
                 CAST(GREATEST(l.lev, COALESCE(u.cand, 0)) AS BIGINT) AS lev
          FROM lv${k - 1} l LEFT JOIN (
            SELECT ce.scc_v AS n, MAX(p.lev + 1) AS cand
            FROM ce JOIN lv${k - 1} p ON p.n = ce.scc_u
            GROUP BY 1) u ON u.n = l.n)""")
        sb.append("""
        , resid AS (
          SELECT COUNT(*) AS unconverged
          FROM lv16 l JOIN (
            SELECT ce.scc_v AS n, MAX(p.lev + 1) AS cand
            FROM ce JOIN lv16 p ON p.n = ce.scc_u
            GROUP BY 1) u ON u.n = l.n
          WHERE u.cand > l.lev)
        SELECT lev, COUNT(*) AS n_sccs,
               (SELECT CAST(MAX(lev) AS BIGINT) FROM lv16) AS max_level,
               (SELECT unconverged FROM resid) AS unconverged
        FROM lv16 GROUP BY 1""")
        sb.toString
      }),

    // ───── Directed reciprocity + dyad census (r15): the basic
    // directed-graph statistic the undirected family cannot express —
    // on the purchase-sequence digraph (shared [[sccArtifacts]] edge
    // frame), what share of edges have their reverse present
    // (reciprocity = the cycle feedstock graph_scc peels), and the
    // Holland–Leinhardt dyad census (mutual / asymmetric dyads; null
    // dyads are the non-edges, reported as the complement count). One
    // self-equi-join on the reversed key — never node×node.
    QuerySpec(
      "graph_reciprocity",
      (s, d) => {
        val (e, _, _) = sccArtifacts(s, d)
        val mutual = e.join(
          e.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"))
        val nodes = e.select(col("u").as("n"))
          .unionAll(e.select(col("v").as("n"))).distinct()
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(mutual.agg(count(lit(1)).as("n_mutual_edges")))
          .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
          .select(col("n_nodes"), col("n_edges"), col("n_mutual_edges"),
            expr("n_mutual_edges * 1000000 div n_edges")
              .as("reciprocity_ppm"),
            (col("n_mutual_edges") / 2).cast("long").as("n_mutual_dyads"),
            (col("n_edges") - col("n_mutual_edges")).as("n_asym_dyads"),
            expr("""n_nodes * (n_nodes - 1) div 2
                    - n_mutual_edges div 2
                    - (n_edges - n_mutual_edges)""").as("n_null_dyads"))
      },
      Some("""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
               AND a.l_linenumber < b.l_linenumber
          WHERE a.l_partkey % 30 = 0 AND b.l_partkey % 30 = 0
            AND a.l_partkey <> b.l_partkey),
        m AS (SELECT COUNT(*) AS n_mutual_edges
              FROM e a JOIN e b ON a.u = b.v AND a.v = b.u),
        nn AS (SELECT COUNT(*) AS n_nodes FROM (
                 SELECT DISTINCT n FROM (
                   SELECT u AS n FROM e UNION ALL SELECT v FROM e))),
        ne AS (SELECT COUNT(*) AS n_edges FROM e)
        SELECT n_nodes, n_edges, n_mutual_edges,
               CAST(n_mutual_edges * 1000000 // n_edges AS BIGINT)
                 AS reciprocity_ppm,
               CAST(n_mutual_edges // 2 AS BIGINT) AS n_mutual_dyads,
               CAST(n_edges - n_mutual_edges AS BIGINT) AS n_asym_dyads,
               CAST(n_nodes * (n_nodes - 1) // 2 - n_mutual_edges // 2
                    - (n_edges - n_mutual_edges) AS BIGINT) AS n_null_dyads
        FROM m, nn, ne""")),

    // ───── k-core decomposition (r10): the fourth graph primitive next
    // to components (connectivity), PageRank (centrality) and triangles
    // (density) — the 2-core backbone of the REPEAT-co-purchase graph
    // (parts bought together in ≥ 2 orders; the raw co-purchase graph is
    // near-complete with min degree ~40, so its low-k cores are the
    // whole graph — thresholding by repeat support is what makes the
    // core structure informative, the standard move for association
    // graphs). Seidman-1983 peel ("keep nodes with ≥ k surviving
    // neighbors" to fixpoint), as a BOUNDED-ROUND contract like
    // sql_recursive_chain's fixed depth: 8 synchronized rounds, each =
    // one degree hash-agg + two semi-join filters (shards by node key
    // at any scale; per-round lineage cut by localCheckpoint). The
    // peel only REMOVES edges, so an unchanged edge COUNT means an
    // unchanged edge SET means every later round is the identity — the
    // early exit is exact, not approximate, and the oracle's full
    // 8-round CTE unroll (no-op rounds included) proves it by matching.
    // Output: core-membership count, node-id/degree checksums,
    // surviving-edge count.
    QuerySpec(
      "graph_kcore",
      (s, d) => {
        var e = graft.analytics.GraphArtifacts.filteredEdges(s, d)
          .localCheckpoint(true)
        var prev = e.count()
        var done = false
        for (_ <- 1 to 8 if !done) {
          val deg = e.select(col("u").as("n"))
            .unionAll(e.select(col("v").as("n")))
            .groupBy("n").agg(count(lit(1)).as("dg"))
          val keep = deg.filter(col("dg") >= 2).select("n")
          e = e.join(keep.withColumnRenamed("n", "u"), "u")
            .join(keep.withColumnRenamed("n", "v"), "v")
            .select("u", "v")
            .localCheckpoint(true)
          val now = e.count()
          done = now == prev
          prev = now
        }
        e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
          .agg(count(lit(1)).as("n_core_nodes"), sum("n").as("node_sum"),
            sum("dg").as("deg_sum"),
            (sum("dg") / 2).cast("long").as("n_edges"))
      },
      Some {
        val sb = new StringBuilder("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)""")
        for (r <- 1 to 8) sb.append(s""",
        d$r AS MATERIALIZED (SELECT x AS n, count(*) AS dg FROM
                (SELECT u AS x FROM e${r - 1}
                 UNION ALL SELECT v AS x FROM e${r - 1}) GROUP BY 1),
        k$r AS MATERIALIZED (SELECT n FROM d$r WHERE dg >= 2),
        e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
                JOIN k$r ku ON ku.n = e.u JOIN k$r kv ON kv.n = e.v)""")
        sb.append(""",
        fd AS (SELECT x AS n, count(*) AS dg FROM
               (SELECT u AS x FROM e8 UNION ALL SELECT v AS x FROM e8)
               GROUP BY 1)
        SELECT COUNT(*) AS n_core_nodes, CAST(SUM(n) AS BIGINT) AS node_sum,
               CAST(SUM(dg) AS BIGINT) AS deg_sum,
               CAST(SUM(dg) // 2 AS BIGINT) AS n_edges
        FROM fd""")
        sb.toString
      }),

    // ───── FULL k-core decomposition (r14, VERDICT r13 #5): max core
    // number PER NODE, not the fixed-k membership graph_kcore reports —
    // the coreness readout behind influence ranking and graph
    // summarization. Sequential Seidman peel over the same repeat-
    // co-purchase graph: for k = 2..4, peel the SURVIVING edge set to
    // the k-core (12 synchronized rounds per level, each ONE degree
    // hash-agg + two semi-joins — per-round O(|edges|), shards by node
    // key; the k-core nests inside the (k−1)-core so the edge set only
    // shrinks across levels). Semantics are the BOUNDED-ROUND contract
    // (the graph_kcore discipline): coreness is exact wherever each
    // level's fixpoint lands within its 12 rounds — measured 3/10/5
    // rounds at sf0.01, 5/1/0 at sf0.1, both under half the bound —
    // and at any SF both engines compute the identical 12-round-bounded
    // result because a no-op round is a PROVEN fixpoint (peeling only
    // removes, so Spark's early exit skips only identity rounds while
    // the oracle replays the full unroll). Cap at core 4 declared: the
    // w≥2 graph's max coreness is 3 at both SFs (the raw co-purchase
    // graph is near-complete; repeat-support thresholding is what makes
    // core structure informative). Output: histogram of core numbers
    // with node-id checksums. StatSpec additionally pins the runner to
    // the brute per-node peel on a planted graph with known coreness.
    QuerySpec(
      "graph_core_number",
      (s, d) => graft.analytics.GraphOps
        .coreNumbers(graft.analytics.GraphArtifacts.filteredEdges(s, d),
          maxK = 4, maxRounds = 12)
        .groupBy("core_k")
        .agg(count(lit(1)).as("n_nodes"), min("n").as("min_node"),
          sum("n").as("node_sum")),
      Some {
        val sb = new StringBuilder("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        c1_e12 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)""")
        for (k <- 2 to 4; r <- 1 to 12) {
          val in = if (r == 1) s"c${k - 1}_e12" else s"c${k}_e${r - 1}"
          sb.append(s""",
        c${k}_d$r AS MATERIALIZED (SELECT x AS n, count(*) AS dg FROM
                (SELECT u AS x FROM $in UNION ALL SELECT v AS x FROM $in)
                GROUP BY 1),
        c${k}_k$r AS MATERIALIZED (SELECT n FROM c${k}_d$r WHERE dg >= $k),
        c${k}_e$r AS MATERIALIZED (SELECT e.u, e.v FROM $in e
                JOIN c${k}_k$r ku ON ku.n = e.u
                JOIN c${k}_k$r kv ON kv.n = e.v)""")
        }
        for (k <- 1 to 4) sb.append(s""",
        n$k AS MATERIALIZED (
          SELECT DISTINCT x AS n FROM
            (SELECT u AS x FROM c${k}_e12 UNION ALL SELECT v AS x FROM c${k}_e12))""")
        sb.append("""
        SELECT core_k, COUNT(*) AS n_nodes, CAST(MIN(n) AS BIGINT) AS min_node,
               CAST(SUM(n) AS BIGINT) AS node_sum
        FROM (
          SELECT n1.n,
                 CASE WHEN n4.n IS NOT NULL THEN 4
                      WHEN n3.n IS NOT NULL THEN 3
                      WHEN n2.n IS NOT NULL THEN 2
                      ELSE 1 END AS core_k
          FROM n1 LEFT JOIN n2 ON n2.n = n1.n
                  LEFT JOIN n3 ON n3.n = n1.n
                  LEFT JOIN n4 ON n4.n = n1.n)
        GROUP BY 1""")
        sb.toString
      }),

    // ───── neighborhood Jaccard per EDGE (r10): similarity of
    // connected node pairs, J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v) \ {u,v}|
    // — the "embeddedness" weight behind Jaccard graph sparsification
    // (keep strongly-embedded edges, drop bridges) and common-neighbor
    // link scoring. The naive form ships FULL adjacency per edge
    // (Σ deg² volume — the exact blow-up the triangle engine's degree
    // orientation exists to avoid); the identity that rescues it:
    // |N(u)∩N(v)| for a CONNECTED pair is the edge's triangle count, so
    // [[triPerEdge]] reads it off the cached oriented intersection
    // stage at 3·triangles explode volume. Zero-triangle edges enter
    // at J = 0 via the left join (dropping them would overstate
    // embeddedness); both-endpoints-degree-1 edges have empty
    // neighborhoods on both sides — identical sets, J := 1 by
    // convention, pinned in both engines. Integer per-mille, decile
    // histogram with node checksums.
    QuerySpec(
      "graph_edge_jaccard",
      (s, d) => {
        val (perEdge, deg) = triPerEdge(s, d)
        coPurchaseEdges(s, d)
          .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
          .join(perEdge, col("u") === col("a") && col("v") === col("b"),
            "left")
          .withColumn("t", coalesce(col("tri_e"), lit(0L)))
          .withColumn("jac_pm", expr(
            """case when du + dv - 2 - t <= 0 then 1000
               else t * 1000 div (du + dv - 2 - t) end"""))
          .groupBy(expr("jac_pm div 100").as("decile"))
          .agg(count(lit(1)).as("n_edges"), sum("t").as("tri_sum"),
            min("u").as("min_node"),
            sum(col("u") + col("v")).as("node_sum"))
      },
      Some(triOracleCtes + """,
        edgetri AS (
          SELECT x AS a2, y AS b2, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM tri
            UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri
            UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM tri)
          GROUP BY 1, 2),
        ej AS (
          SELECT e.u, e.v, du.d AS du, dv.d AS dv, COALESCE(et.t, 0) AS t
          FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
          LEFT JOIN edgetri et ON et.a2 = e.u AND et.b2 = e.v),
        j AS (
          SELECT u, v, t,
                 CASE WHEN du + dv - 2 - t <= 0 THEN 1000
                      ELSE t * 1000 // (du + dv - 2 - t) END AS jac_pm
          FROM ej)
        SELECT jac_pm // 100 AS decile, COUNT(*) AS n_edges,
               CAST(SUM(t) AS BIGINT) AS tri_sum,
               CAST(MIN(u) AS BIGINT) AS min_node,
               CAST(SUM(u + v) AS BIGINT) AS node_sum
        FROM j GROUP BY 1""")),

    // ───── mix-diversity monitor (r8): Gini impurity of the event-type
    // mix per hour-of-day — the diversity measure a training-data mix
    // dashboard tracks (a collapsing mix drives impurity toward 0).
    // Entropy needs libm log (engine-divergent in the last ulp); Gini
    // is the EXACT-arithmetic diversity measure: 1 − Σpᵢ² =
    // (n² − Σnᵢ²)/n², every term an exact integer and the division one
    // correctly-rounded double op. Two tiny hash-aggs over (hour, type)
    // cardinality.
    QuerySpec(
      "agg_gini_mix",
      (s, d) => events(s, d)
        .groupBy(hour(col("ts")).as("hod"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
        .groupBy("hod")
        .agg(sum("ni").as("n"), sum(col("ni") * col("ni")).as("sq"))
        .select(col("hod"), col("n"),
          ((col("n") * col("n") - col("sq")).cast("double") /
            (col("n") * col("n")).cast("double")).as("gini")),
      Some("""
        SELECT hod, n,
               CAST(n * n - sq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
        FROM (
          SELECT hod, CAST(SUM(ni) AS BIGINT) AS n,
                 CAST(SUM(ni * ni) AS BIGINT) AS sq
          FROM (
            SELECT hour(ts) AS hod, event_type, COUNT(*) AS ni
            FROM events GROUP BY 1, 2)
          GROUP BY hod)""")),

    // ───── last-touch attribution (r8): every purchase credits the
    // latest preceding view/click within a 7-day window, else 'direct'
    // — the marketing-attribution report built on the join_pit_features
    // window (one pass over the per-user timeline, nothing at-or-after
    // the purchase leaks); revenue in exact cents per channel, window
    // age in exact integer microseconds.
    QuerySpec(
      "events_attribution",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val touch = col("event_type").isin("view", "click")
        events(s, d)
          .withColumn("lt_type",
            last(when(touch, col("event_type")), ignoreNulls = true).over(w))
          .withColumn("lt_ts",
            last(when(touch, col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .withColumn("channel",
            when(col("lt_ts").isNull ||
              expr("unix_micros(ts) - unix_micros(lt_ts)") > 7L * 86400L * 1000000L,
              "direct").otherwise(col("lt_type")))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"),
            sum(expr("cast(round(value * 100) as bigint)")).as("rev_cents"))
      },
      Some("""
        SELECT channel, COUNT(*) AS n_purchases,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM (
          SELECT value,
                 CASE WHEN lt_ts IS NULL
                        OR epoch_us(ts) - epoch_us(lt_ts) > 604800000000::BIGINT
                      THEN 'direct' ELSE lt_type END AS channel
          FROM (
            SELECT ts, event_type, value,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN event_type END IGNORE NULLS) OVER w AS lt_type,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN ts END IGNORE NULLS) OVER w AS lt_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          WHERE event_type = 'purchase')
        GROUP BY channel""")),

    // ───── Nearest as-of join (r15): join_pit_features ships the
    // BACKWARD as-of (last value at-or-before — the leakage-safe
    // feature join); sensor/trading alignment also needs NEAREST
    // semantics: match each purchase to the closest click by the same
    // user in EITHER direction, ties to the earlier (backward) side.
    // Implemented as two per-user ordered windows (last click strictly
    // before / first click strictly after — bounded by per-user event
    // counts, never a time-cross-join); emits the direction mix, the
    // unmatched count, and exact microsecond-distance aggregates.
    QuerySpec(
      "join_asof_nearest",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
        val wNext = w.rowsBetween(1, Window.unboundedFollowing)
        val isClick = col("event_type") === "click"
        events(s, d)
          .withColumn("prev_us", last(when(isClick,
            expr("unix_micros(ts)")), ignoreNulls = true).over(wPrev))
          .withColumn("next_us", first(when(isClick,
            expr("unix_micros(ts)")), ignoreNulls = true).over(wNext))
          .filter(col("event_type") === "purchase")
          .withColumn("d_prev",
            when(col("prev_us").isNotNull,
              expr("unix_micros(ts)") - col("prev_us")))
          .withColumn("d_next",
            when(col("next_us").isNotNull,
              col("next_us") - expr("unix_micros(ts)")))
          .withColumn("side",
            when(col("d_prev").isNull && col("d_next").isNull, lit("none"))
              .when(col("d_next").isNull, lit("backward"))
              .when(col("d_prev").isNull, lit("forward"))
              .when(col("d_prev") <= col("d_next"), lit("backward"))
              .otherwise(lit("forward")))
          .withColumn("dist_us",
            when(col("side") === "backward", col("d_prev"))
              .when(col("side") === "forward", col("d_next")))
          .groupBy("side")
          .agg(count(lit(1)).as("n"),
            coalesce(sum("dist_us"), lit(0L)).as("dist_us_sum"),
            coalesce(max("dist_us"), lit(0L)).as("max_dist_us"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'click'
                                 THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_us,
                 FIRST_VALUE(CASE WHEN event_type = 'click'
                                  THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_us
          FROM events),
        p AS (
          SELECT CASE WHEN prev_us IS NULL AND next_us IS NULL THEN 'none'
                      WHEN next_us IS NULL THEN 'backward'
                      WHEN prev_us IS NULL THEN 'forward'
                      WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                        THEN 'backward'
                      ELSE 'forward' END AS side,
                 CASE WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
                      WHEN next_us IS NULL THEN epoch_us(ts) - prev_us
                      WHEN prev_us IS NULL THEN next_us - epoch_us(ts)
                      WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                        THEN epoch_us(ts) - prev_us
                      ELSE next_us - epoch_us(ts) END AS dist_us
          FROM o WHERE event_type = 'purchase')
        SELECT side, COUNT(*) AS n,
               CAST(COALESCE(SUM(dist_us), 0) AS BIGINT) AS dist_us_sum,
               CAST(COALESCE(MAX(dist_us), 0) AS BIGINT) AS max_dist_us
        FROM p GROUP BY 1""")),

    // ───── Session statistics (r15): the engagement-shape rollup on
    // top of sessionization (cdc_sessionize ships the CDC face; this is
    // the events face the product team reads) — 30-minute inactivity
    // gap, per-user ordered window (bounded by per-user event counts),
    // session id = running count of gap-openers. Output: session count,
    // single-event (bounce) sessions, mean events/session and mean
    // duration in exact milli/micros, and the longest session — the
    // dashboard row behind events_bounce_rate's page-level number.
    QuerySpec(
      "events_session_stats",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sess = events(s, d)
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              expr("unix_micros(ts) - unix_micros(prev_ts)")
                > 30L * 60L * 1000000L, 1L).otherwise(0L))
          .withColumn("sid", sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_ev"),
            (max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)")))
              .as("dur_us"))
        sess.agg(count(lit(1)).as("n_sessions"),
            sum("n_ev").as("n_events"),
            sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
            sum("dur_us").as("dur_us_sum"),
            max("n_ev").as("max_session_events"))
          .select(col("n_sessions"), col("n_events"), col("n_bounce"),
            expr("n_bounce * 1000000 div n_sessions").as("bounce_ppm"),
            expr("n_events * 1000 div n_sessions").as("mean_events_milli"),
            expr("dur_us_sum div n_sessions").as("mean_dur_us"),
            col("max_session_events"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id,
                 LAG(ts, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_ts
          FROM events),
        tagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM o),
        sid AS (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM tagged),
        sess AS (
          SELECT user_id, sid, COUNT(*) AS n_ev,
                 MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
          FROM sid GROUP BY 1, 2),
        agg AS (
          SELECT COUNT(*) AS n_sessions,
                 CAST(SUM(n_ev) AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bounce,
                 CAST(SUM(dur_us) AS BIGINT) AS dur_us_sum,
                 CAST(MAX(n_ev) AS BIGINT) AS max_session_events
          FROM sess)
        SELECT n_sessions, n_events, n_bounce,
               CAST(n_bounce * 1000000 // n_sessions AS BIGINT) AS bounce_ppm,
               CAST(n_events * 1000 // n_sessions AS BIGINT)
                 AS mean_events_milli,
               CAST(dur_us_sum // n_sessions AS BIGINT) AS mean_dur_us,
               max_session_events
        FROM agg""")),

    // ───── functional-dependency discovery (r15): does LHS → RHS hold
    // in the data — the profiling step schema-inference and
    // normalization tools run before declaring keys (Huhtala et al.'s
    // TANE checks these candidate-by-candidate; here the candidate list
    // is the declared audit set). Per candidate: one LHS hash-agg with
    // a distinct-RHS count — n_violating = LHS groups seeing >1 RHS
    // value, max_rhs the worst fan-out; holds = 1 iff zero violations.
    // Covers a true key FD (the lineitem composite PK), a hierarchy FD
    // (nation → region), and three expected failures — a discovery
    // report that only ever says "holds" is untrustworthy.
    QuerySpec(
      "profile_fd",
      (s, d) => {
        def fd(name: String, df: DataFrame, lhs: Seq[String], rhs: String) =
          df.groupBy(lhs.map(col): _*)
            .agg(countDistinct(col(rhs)).as("k"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
              max("k").as("max_rhs"))
            .select(lit(name).as("fd"), col("n_groups"),
              col("n_violating"), col("max_rhs"),
              when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
        fd("n_nationkey->n_regionkey", nation(s, d),
            Seq("n_nationkey"), "n_regionkey")
          .unionByName(fd("l_orderkey,l_linenumber->l_partkey",
            lineitem(s, d), Seq("l_orderkey", "l_linenumber"), "l_partkey"))
          .unionByName(fd("o_custkey->o_orderpriority", orders(s, d),
            Seq("o_custkey"), "o_orderpriority"))
          .unionByName(fd("p_brand->p_type", part(s, d),
            Seq("p_brand"), "p_type"))
          .unionByName(fd("s_nationkey->s_name", supplier(s, d),
            Seq("s_nationkey"), "s_name"))
      },
      Some {
        def fd(name: String, table: String, lhs: String, rhs: String) =
          s"""
        SELECT '$name' AS fd, COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating,
               CAST(MAX(k) AS BIGINT) AS max_rhs,
               CAST(CASE WHEN SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS holds
        FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS k
              FROM $table GROUP BY $lhs)"""
        Seq(
          fd("n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
          fd("l_orderkey,l_linenumber->l_partkey", "lineitem",
            "l_orderkey, l_linenumber", "l_partkey"),
          fd("o_custkey->o_orderpriority", "orders", "o_custkey",
            "o_orderpriority"),
          fd("p_brand->p_type", "part", "p_brand", "p_type"),
          fd("s_nationkey->s_name", "supplier", "s_nationkey", "s_name"))
          .mkString("\n        UNION ALL")
      }),

    // ───── inclusion-dependency discovery (r15): is every value of A.x
    // present in B.y — the foreign-key discovery half of profile_fd's
    // key discovery (De Marchi et al.; real catalogs audit declared FKs
    // with exactly this). Per candidate: distinct-LHS anti-join count —
    // n_missing = LHS values with no RHS partner, coverage in exact
    // ppm. The candidate set covers the three true FKs of the schema
    // and one DELIBERATE reverse direction (customers without orders —
    // an IND report must demonstrate it can say no).
    QuerySpec(
      "profile_inclusion",
      (s, d) => {
        def ind(name: String, a: DataFrame, ac: String,
                b: DataFrame, bc: String) = {
          // LAZY (r17): eager checkpoints here ran 4 serial driver jobs
          // at plan-construction time; lazy ones materialize inside the
          // query's single action, where the 4 candidates' stages
          // overlap — still one evaluation per lhs (dual-consumed)
          val lhs = a.select(col(ac).as("v")).distinct()
            .localCheckpoint(false) // consumed by both counts
          lhs.agg(count(lit(1)).as("n_lhs"))
            .crossJoin(lhs.join(b.select(col(bc).as("v")).distinct(),
              Seq("v"), "left_anti").agg(count(lit(1)).as("n_missing")))
            .select(lit(name).as("ind"), col("n_lhs"), col("n_missing"),
              expr("(n_lhs - n_missing) * 1000000 div n_lhs")
                .as("coverage_ppm"),
              when(col("n_missing") === 0, 1L).otherwise(0L).as("holds"))
        }
        ind("lineitem.l_orderkey<=orders.o_orderkey",
            lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
          .unionByName(ind("orders.o_custkey<=customer.c_custkey",
            orders(s, d), "o_custkey", customer(s, d), "c_custkey"))
          .unionByName(ind("lineitem.l_suppkey<=supplier.s_suppkey",
            lineitem(s, d), "l_suppkey", supplier(s, d), "s_suppkey"))
          .unionByName(ind("customer.c_custkey<=orders.o_custkey",
            customer(s, d), "c_custkey", orders(s, d), "o_custkey"))
      },
      Some {
        def ind(name: String, ta: String, ca: String, tb: String, cb: String) =
          s"""
        SELECT '$name' AS ind, n_lhs, n_missing,
               CAST((n_lhs - n_missing) * 1000000 // n_lhs AS BIGINT)
                 AS coverage_ppm,
               CAST(CASE WHEN n_missing = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS holds
        FROM (SELECT (SELECT COUNT(DISTINCT $ca) FROM $ta) AS n_lhs,
                     (SELECT COUNT(*) FROM
                        (SELECT DISTINCT $ca AS v FROM $ta) l
                      WHERE NOT EXISTS (SELECT 1 FROM $tb
                                        WHERE $cb = l.v)) AS n_missing)"""
        Seq(
          ind("lineitem.l_orderkey<=orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ind("orders.o_custkey<=customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"),
          ind("lineitem.l_suppkey<=supplier.s_suppkey",
            "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          ind("customer.c_custkey<=orders.o_custkey",
            "customer", "c_custkey", "orders", "o_custkey"))
          .mkString("\n        UNION ALL")
      }),

    // ───── value-shape discovery (r16): what PATTERNS do a string
    // column's values follow — the Potter's Wheel / profiling-tool
    // move that catches mixed formats before they break a parser:
    // digits→9, lowercase→a, uppercase→A, runs compressed ('(.)\\1+'→
    // one symbol), punctuation kept verbatim. Per column the top-3
    // shapes by count (rank window over the bounded shape domain) with
    // coverage ppm — a column whose top shapes don't cover ~everything
    // has format drift. One regexp map + one (col, shape) hash-agg per
    // column; the replacement-backreference syntax differs across
    // engines ($1 vs \\1) but the OUTPUT shapes are identical.
    QuerySpec(
      "profile_value_shapes",
      (s, d) => {
        def shapes(name: String, df: DataFrame, c: String) = {
          val sh = df.select(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
                col(c), "[0-9]+", "9"), "[a-z]+", "a"),
              "[A-Z]+", "A"), "9+", "9"), "a+", "a"), "A+", "A").as("shape"))
            .groupBy("shape").agg(count(lit(1)).as("n"))
          val tot = sh.agg(sum("n").as("nt"))
          sh.crossJoin(broadcast(tot))
            .withColumn("rk", row_number().over(
              Window.orderBy(col("n").desc, col("shape"))))
            .filter(col("rk") <= 3)
            .select(lit(name).as("col_name"), col("rk").cast("long").as("rk"),
              col("shape"), col("n"),
              expr("n * 1000000 div nt").as("coverage_ppm"))
        }
        shapes("orders.o_orderpriority", orders(s, d), "o_orderpriority")
          .unionByName(shapes("customer.c_name", customer(s, d), "c_name"))
          .unionByName(shapes("part.p_type", part(s, d), "p_type"))
          .unionByName(shapes("customer.c_mktsegment", customer(s, d),
            "c_mktsegment"))
      },
      Some {
        def shapes(name: String, table: String, c: String) = s"""
        SELECT '$name' AS col_name, rk, shape, n, coverage_ppm FROM (
          SELECT shape, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, shape) AS rk,
                 CAST(n * 1000000 // SUM(n) OVER () AS BIGINT)
                   AS coverage_ppm
          FROM (
            SELECT regexp_replace(regexp_replace(regexp_replace(
                     $c, '[0-9]+', '9', 'g'),
                     '[a-z]+', 'a', 'g'), '[A-Z]+', 'A', 'g') AS shape,
                   COUNT(*) AS n
            FROM $table GROUP BY 1))
        WHERE rk <= 3"""
        Seq(
          shapes("orders.o_orderpriority", "orders", "o_orderpriority"),
          shapes("customer.c_name", "customer", "c_name"),
          shapes("part.p_type", "part", "p_type"),
          shapes("customer.c_mktsegment", "customer", "c_mktsegment"))
          .mkString("\n        UNION ALL")
      }),

    // ───── unique-column-combination discovery (r16): is a column set
    // a KEY of its table — the third leg of the dependency-discovery
    // family (profile_fd: LHS→RHS; profile_inclusion: FK direction;
    // this: candidate keys, the HyUCC/TANE audit). Per candidate one
    // hash-agg: group by the set, count groups / duplicate groups /
    // rows trapped in duplicate groups (the dedup workload size if the
    // key were enforced). Candidates cover the true PKs, a true
    // composite, and two deliberate failures — a key report that only
    // confirms is untrustworthy (the profile_fd discipline).
    QuerySpec(
      "profile_ucc",
      (s, d) => {
        def ucc(name: String, df: DataFrame, cols: Seq[String]) =
          df.groupBy(cols.map(col): _*)
            .agg(count(lit(1)).as("k"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
              sum(when(col("k") > 1, col("k")).otherwise(0L)).as("n_dup_rows"),
              sum("k").as("n_rows"))
            .select(lit(name).as("ucc"), col("n_rows"), col("n_groups"),
              col("n_dup_groups"), col("n_dup_rows"),
              when(col("n_dup_groups") === 0, 1L).otherwise(0L).as("holds"))
        ucc("orders:o_orderkey", orders(s, d), Seq("o_orderkey"))
          .unionByName(ucc("customer:c_custkey", customer(s, d),
            Seq("c_custkey")))
          .unionByName(ucc("lineitem:l_orderkey,l_linenumber",
            lineitem(s, d), Seq("l_orderkey", "l_linenumber")))
          .unionByName(ucc("lineitem:l_orderkey", lineitem(s, d),
            Seq("l_orderkey")))
          .unionByName(ucc("orders:o_custkey,o_orderdate", orders(s, d),
            Seq("o_custkey", "o_orderdate")))
      },
      Some {
        def ucc(name: String, table: String, cols: String) =
          s"""
        SELECT '$name' AS ucc, CAST(SUM(k) AS BIGINT) AS n_rows,
               COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_groups,
               CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
                 AS n_dup_rows,
               CAST(CASE WHEN SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS holds
        FROM (SELECT $cols, COUNT(*) AS k FROM $table GROUP BY $cols)"""
        Seq(
          ucc("orders:o_orderkey", "orders", "o_orderkey"),
          ucc("customer:c_custkey", "customer", "c_custkey"),
          ucc("lineitem:l_orderkey,l_linenumber", "lineitem",
            "l_orderkey, l_linenumber"),
          ucc("lineitem:l_orderkey", "lineitem", "l_orderkey"),
          ucc("orders:o_custkey,o_orderdate", "orders",
            "o_custkey, o_orderdate"))
          .mkString("\n        UNION ALL")
      }),

    // ───── column-level data profiling (r8): per-column row / null /
    // distinct counts over the CDC log — the DESCRIBE-statistics report
    // every ingest pipeline publishes before a table goes live (the
    // input half of profile_key_skew's join planning). One scan per
    // column, each pruned to THAT column at the parquet reader (a
    // single multi-distinct aggregation would expand every row
    // |columns|-fold through one shuffle instead); both engines
    // enumerate the same declared column list.
    QuerySpec(
      "profile_columns",
      (s, d) => {
        val ev = events(s, d)
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")
          .map(c => ev.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"))
            .select(lit(c).as("column_name"),
              col("n_rows"), col("n_null"), col("n_distinct")))
          .reduce(_ unionByName _)
      },
      Some(Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c =>
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM events""")
        .mkString("\n        UNION ALL\n        "))),

    // ───── tiled interval join (r8): point-in-interval matching WITHOUT
    // an equi key — the shape that becomes a cartesian at scale unless
    // the intervals are TILED: each incident window (a deterministic
    // subset of error events opens a 1-hour window) explodes to the
    // hour tiles it touches (≤ 2 here — tile count is bounded by window
    // span / tile width), each point maps to its ONE tile, candidates
    // come from the tile equi-join, and the exact containment predicate
    // filters the edge. A point's single tile meets an incident's tile
    // set at most once, so no dedup stage is needed. join_range covers
    // the equi-key + interval case; this is the no-key case every
    // incident-attribution pipeline hits.
    QuerySpec(
      "join_interval_tiled",
      (s, d) => {
        val inc = events(s, d)
          .filter(col("event_type") === "error" &&
            expr("cast(round(value * 100) as bigint) % 97 = 0"))
          .select(col("event_id").as("incident_id"), col("ts").as("t0"),
            (col("ts") + expr("interval 1 hour")).as("t1"))
        val tiles = inc.withColumn("hour",
          explode(expr(
            "sequence(date_trunc('hour', t0), date_trunc('hour', t1), interval 1 hour)")))
        val pts = events(s, d).filter(col("event_type") =!= "error")
          .select(col("event_id"), col("user_id"), col("ts"),
            date_trunc("hour", col("ts")).as("hour"))
        tiles.join(pts, "hour")
          .filter(col("ts") >= col("t0") && col("ts") < col("t1"))
          .groupBy("incident_id")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
      },
      Some("""
        SELECT incident_id, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
        FROM (
          SELECT i.incident_id, i.t0, i.t1,
                 unnest(generate_series(date_trunc('hour', i.t0),
                                        date_trunc('hour', i.t1),
                                        INTERVAL 1 HOUR)) AS hour
          FROM (
            SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 1 HOUR AS t1
            FROM events
            WHERE event_type = 'error'
              AND CAST(round(value * 100) AS BIGINT) % 97 = 0) i) t
        JOIN (
          SELECT event_id, user_id, ts, date_trunc('hour', ts) AS hour
          FROM events WHERE event_type <> 'error') p
          ON p.hour = t.hour
        WHERE p.ts >= t.t0 AND p.ts < t.t1
        GROUP BY incident_id""")),

    // ───── keyless interval×interval OVERLAP join (r9): which user-day
    // activity intervals [first event, last event] overlap which
    // incident windows — the harder sibling of join_interval_tiled's
    // point-in-interval case: BOTH sides are intervals and there is no
    // equi key, so naive is |A|×|B|. Tiling restores an equi-join: each
    // interval explodes to the hour tiles it touches (bounded by
    // span/width — ≤25 for a day of activity, 3 for a 2 h incident),
    // candidates meet on the tile. A pair can share MANY tiles; instead
    // of a dedup-distinct stage, each pair is counted at exactly ONE
    // canonical tile — the first hour of the overlap region,
    // date_trunc(hour, greatest(starts)), which both tile sets contain
    // by construction — so the aggregate consumes the join output
    // directly. Overlap duration is exact integer microseconds. The
    // oracle is the DIRECT inequality join (DuckDB's IEJoin handles it
    // at oracle scale) — a broken tiling or canonical-tile rule changes
    // pair counts against an algorithm-independent answer.
    QuerySpec(
      "join_interval_overlap",
      (s, d) => {
        val act = events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(col("ts")).as("a0"), max(col("ts")).as("a1"))
        val inc = events(s, d)
          .filter(col("event_type") === "error" &&
            expr("cast(round(value * 100) as bigint) % 97 = 0"))
          .select(col("event_id").as("incident_id"), col("ts").as("t0"),
            (col("ts") + expr("interval 2 hours")).as("t1"))
        val atiles = act.withColumn("hour", explode(expr(
          "sequence(date_trunc('hour', a0), date_trunc('hour', a1), interval 1 hour)")))
        val btiles = inc.withColumn("hour", explode(expr(
          "sequence(date_trunc('hour', t0), date_trunc('hour', t1), interval 1 hour)")))
        atiles.join(btiles, "hour")
          .filter(col("a0") < col("t1") && col("t0") < col("a1"))
          .filter(col("hour") === date_trunc("hour", greatest(col("a0"), col("t0"))))
          .groupBy("incident_id")
          .agg(count(lit(1)).as("n_userdays"),
            countDistinct(col("user_id")).as("n_users"),
            sum(expr("unix_micros(least(a1, t1)) - unix_micros(greatest(a0, t0))"))
              .as("overlap_us"))
      },
      Some("""
        WITH act AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 MIN(ts) AS a0, MAX(ts) AS a1
          FROM events GROUP BY 1, 2),
        inc AS (
          SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 2 HOUR AS t1
          FROM events
          WHERE event_type = 'error'
            AND CAST(round(value * 100) AS BIGINT) % 97 = 0)
        SELECT incident_id, COUNT(*) AS n_userdays,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users,
               CAST(SUM(epoch_us(LEAST(a.a1, i.t1)) - epoch_us(GREATEST(a.a0, i.t0)))
                    AS BIGINT) AS overlap_us
        FROM act a JOIN inc i ON a.a0 < i.t1 AND i.t0 < a.a1
        GROUP BY incident_id""")),

    // ───── gaps-and-islands (r8): longest consecutive-active-day streak
    // per user — the classic islands trick (day minus per-user ordinal is
    // CONSTANT within a consecutive run, so runs fall out of one
    // groupBy), reported as a streak-length histogram. The event log
    // collapses to distinct (user, day) FIRST, so the window runs over
    // active-day cardinality, not event cardinality; everything after is
    // integer/date arithmetic both engines share.
    QuerySpec(
      "events_streaks",
      (s, d) => {
        val days = events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days
          .withColumn("grp", date_sub(col("day"), row_number().over(w)))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("user_id").agg(max("len").as("longest_streak"))
          .groupBy("longest_streak").agg(count(lit(1)).as("n_users"))
      },
      Some("""
        SELECT longest_streak, COUNT(*) AS n_users
        FROM (
          SELECT user_id, MAX(len) AS longest_streak
          FROM (
            SELECT user_id, grp, COUNT(*) AS len
            FROM (
              SELECT user_id,
                     day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                                AS INTEGER) AS grp
              FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events))
            GROUP BY user_id, grp)
          GROUP BY user_id)
        GROUP BY longest_streak""")),

    // ───── cohort LTV curve (r8): cumulative purchase revenue per
    // signup-month cohort by months-since-signup, normalized per cohort
    // member — the lifetime-value report on top of the retention
    // machinery. Revenue in exact integer cents; the running sum's
    // window runs over (cohort × age) rows — dozens — never the event
    // log; cohort sizes broadcast back; per-user LTV is one integer
    // division.
    QuerySpec(
      "events_ltv_cohort",
      (s, d) => {
        val signup = events(s, d).filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(date_trunc("month", col("ts"))).as("cohort"))
        val sizes = signup.groupBy("cohort").agg(count(lit(1)).as("n_users"))
        val rev = events(s, d).filter(col("event_type") === "purchase")
          .join(signup, "user_id")
          .withColumn("age",
            (year(col("ts")) * 12 + month(col("ts"))
              - year(col("cohort")) * 12 - month(col("cohort"))).cast("long"))
          .filter(col("age") >= 0)
          .groupBy("cohort", "age")
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("rev_cents"))
        val w = Window.partitionBy("cohort").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rev.withColumn("cum_cents", sum("rev_cents").over(w))
          .join(sizes, "cohort")
          .select(col("cohort"), col("age"), col("rev_cents"), col("cum_cents"),
            expr("cum_cents div n_users").as("ltv_cents_per_user"))
      },
      Some("""
        WITH signup AS (
          SELECT user_id, MIN(date_trunc('month', ts)) AS cohort
          FROM events WHERE event_type = 'signup' GROUP BY user_id),
        sizes AS (SELECT cohort, COUNT(*) AS n_users FROM signup GROUP BY 1),
        rev AS (
          SELECT s.cohort,
                 CAST((year(e.ts) * 12 + month(e.ts))
                      - (year(s.cohort) * 12 + month(s.cohort)) AS BIGINT) AS age,
                 CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
          FROM events e JOIN signup s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase'
            AND (year(e.ts) * 12 + month(e.ts))
                >= (year(s.cohort) * 12 + month(s.cohort))
          GROUP BY 1, 2)
        SELECT r.cohort, r.age, r.rev_cents,
               CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort ORDER BY r.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
               CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort ORDER BY r.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 // z.n_users AS ltv_cents_per_user
        FROM rev r JOIN sizes z ON z.cohort = r.cohort""")),

    // ───── OLS regression from exact sufficient sums (r8): slope /
    // intercept / R² per group — delivering agg_correlation's promised
    // extension with the identical discipline: the five sums accumulate
    // exactly as DECIMAL(38)/HUGEINT over integer cents (order-
    // independent), then slope = (nΣxy−ΣxΣy)/(nΣxx−Σx²), intercept =
    // (Σy − slope·Σx)/n, R² = cov²/(varx·vary) as a FIXED chain of
    // correctly-rounded double ops — bit-identical across engines where
    // the built-in regr_* functions' streaming accumulation is
    // float-order-dependent. Same two-phase hash-agg plan.
    QuerySpec(
      "agg_regression",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n"),
          expr("cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)").as("cov_n"),
          expr("cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)").as("varx_n"),
          expr("cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)").as("vary_n"),
          expr("cast(sx as double)").as("sxd"), expr("cast(sy as double)").as("syd"),
          expr("cast(n as double)").as("nd"))
        .select(col("l_returnflag"), col("n"),
          (col("cov_n") / col("varx_n")).as("slope"),
          ((col("syd") - col("cov_n") / col("varx_n") * col("sxd")) / col("nd"))
            .as("intercept"),
          (col("cov_n") * col("cov_n") / (col("varx_n") * col("vary_n"))).as("r2")),
      Some("""
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               cov_n / varx_n AS slope,
               (syd - cov_n / varx_n * sxd) / nd AS intercept,
               cov_n * cov_n / (varx_n * vary_n) AS r2
        FROM (
          SELECT l_returnflag, n,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n,
                 CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(n AS DOUBLE) AS nd
          FROM (
            SELECT l_returnflag, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM (
              SELECT l_returnflag,
                     CAST(round(l_quantity * 100) AS HUGEINT) AS x,
                     CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
              FROM lineitem)
            GROUP BY l_returnflag))""")),

    // ───── bitmap set algebra (r8): weekend vs weekday active users per
    // event type with their EXACT intersection and union — the
    // theta-sketch use case served exactly on the bounded id domain:
    // [[graft.functions.BitmapAgg]] emits the raw bitmaps, zip_with
    // AND/OR intersects/unions them as word arrays, and a codegen'd
    // bit_count fold collapses each to its cardinality. Distinct-set
    // OVERLAP normally needs a re-shuffle of (group, id) pairs or a
    // self-join; here it is two hash-aggs + an array op on k-word rows.
    QuerySpec(
      "agg_bitmap_overlap",
      (s, d) => {
        val ba = udaf(new graft.functions.BitmapAgg(4096),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        val ev = events(s, d)
          .withColumn("wknd", dayofweek(col("ts")).isin(1, 7))
        def side(f: Column, nm: String) = ev.filter(f)
          .groupBy("event_type").agg(ba(col("user_id")).as(nm))
        def pop(c: String) = expr(
          s"aggregate($c, 0L, (acc, w) -> acc + cast(bit_count(w) as bigint))")
        side(col("wknd"), "bm_we")
          .join(side(!col("wknd"), "bm_wd"), Seq("event_type"), "full_outer")
          // a type with no events on one side still reports: empty bitmap
          .withColumn("bm_we", coalesce(col("bm_we"), expr("array_repeat(0L, 64)")))
          .withColumn("bm_wd", coalesce(col("bm_wd"), expr("array_repeat(0L, 64)")))
          .select(col("event_type"),
            pop("bm_we").as("n_weekend"),
            pop("bm_wd").as("n_weekday"),
            pop("zip_with(bm_we, bm_wd, (a, b) -> a & b)").as("n_both"),
            pop("zip_with(bm_we, bm_wd, (a, b) -> a | b)").as("n_either"))
      },
      Some("""
        SELECT event_type,
               CAST(SUM(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
               CAST(SUM(CASE WHEN wd THEN 1 ELSE 0 END) AS BIGINT) AS n_weekday,
               CAST(SUM(CASE WHEN we AND wd THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(COUNT(*) AS BIGINT) AS n_either
        FROM (
          SELECT event_type, user_id,
                 bool_or(isodow(ts) >= 6) AS we,
                 bool_or(isodow(ts) < 6) AS wd
          FROM events GROUP BY 1, 2)
        GROUP BY event_type""")),

    // ───── exact mergeable bitmap distinct (r8): distinct users per
    // event type via [[graft.functions.BitmapDistinctAgg]] — a fixed
    // bitmap whose partial buffers merge by bitwise OR (associative,
    // commutative, IDEMPOTENT: map-side combine, re-aggregation, and
    // duplicate delivery are all exact — property-tested over arbitrary
    // chunkings in SketchPropertiesSpec). The EXACT alternative to the
    // HLL estimate when the id domain is bounded (dense surrogate keys):
    // 8 KB of state per group at a 64k domain vs a full distinct-agg
    // expand shuffling every (group, id) pair. Oracle equality against
    // COUNT(DISTINCT) proves the sketch exact cross-engine.
    QuerySpec(
      "agg_bitmap_distinct",
      (s, d) => {
        val bd = udaf(new graft.functions.BitmapDistinctAgg(4096),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        events(s, d)
          .groupBy("event_type")
          .agg(bd(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type""")),

    // ───── HyperLogLog distinct estimate (r9): distinct USER-DAYS per
    // event type (the DAU-at-scale shape — the key domain is unbounded,
    // so the exact bitmap sketch's bounded-domain contract doesn't
    // apply) via [[graft.functions.HllRegistersAgg]]: 256 max-merged
    // registers = 2 KB of state per group versus a full distinct-agg
    // shuffling every (group, user-day) pair. The register contents are
    // DETERMINISTIC cross-engine: both engines hash the identical key
    // string through the same md5-hex→60-bit literal, take idx = low 8
    // bits, rho = 53 − bitlength(remainder) (rem=0 → 53), and max-merge
    // — so the raw-HLL estimate (alpha_256·m²·2^53/S, S = Σ2^(53−rho)
    // exact in BIGINT, one deterministic float expression with literal
    // constants) hash-matches exactly. n_exact and err_bp make the
    // estimator's accuracy oracle-VISIBLE (±~6.5% expected at m=256);
    // the small-range linear-counting correction is deliberately
    // omitted (ln is not exactly-rounded cross-engine — n ≥ 2.5m holds
    // at both test SFs, and the correction changes only the finish,
    // never the mergeable register algebra).
    QuerySpec(
      "agg_hll_distinct",
      (s, d) => {
        val hll = udaf(new graft.functions.HllRegistersAgg(8),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        events(s, d)
          .withColumn("k", expr(
            "concat(cast(user_id as string), '_', cast(to_date(ts) as string))"))
          .withColumn("h", expr(
            "cast(conv(substring(md5(k), 1, 15), 16, 10) as long)"))
          .groupBy("event_type")
          .agg(hll(col("h")).as("regs"),
            count_distinct(col("k")).as("n_exact"))
          .withColumn("s_sum", expr(
            "aggregate(regs, 0L, (acc, r) -> acc + shiftleft(1L, 53 - cast(r as int)))"))
          .withColumn("n_hll", expr(
            "cast(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * " +
              "9007199254740992.0 / cast(s_sum as double)) as bigint)"))
          .select(col("event_type"), col("n_hll"), col("n_exact"),
            expr("abs(n_hll - n_exact) * 10000L div n_exact").as("err_bp"))
      },
      Some("""
        WITH h AS (
          SELECT event_type,
                 CAST(user_id AS VARCHAR) || '_' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
                 CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || '_'
                        || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM events),
        r AS (
          SELECT event_type, h % 256 AS idx,
                 MAX(CASE WHEN h // 256 = 0 THEN 53
                          ELSE 53 - length(bin(h // 256)) END) AS rho
          FROM h GROUP BY 1, 2),
        s AS (
          SELECT event_type,
                 CAST(SUM(1::BIGINT << CAST(53 - rho AS INTEGER))
                      + (256 - COUNT(*)) * (1::BIGINT << 53) AS BIGINT) AS s_sum
          FROM r GROUP BY 1),
        x AS (SELECT event_type, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_exact
              FROM h GROUP BY 1)
        SELECT s.event_type,
               CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                    * 9007199254740992.0 / CAST(s_sum AS DOUBLE)) AS BIGINT) AS n_hll,
               n_exact,
               abs(CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                    * 9007199254740992.0 / CAST(s_sum AS DOUBLE)) AS BIGINT) - n_exact)
                 * 10000 // n_exact AS err_bp
        FROM s JOIN x USING (event_type)""")),

    // ───── A/B test via the 2×2 chi-square statistic (r9): the
    // experiment-analysis primitive — units are user-DAYS (user-level
    // conversion is saturated on this log; day granularity gives a
    // 36% base rate), cohorts a deterministic md5 hash split, outcome
    // "purchased that day". χ² = n·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))
    // needs NO libm: every margin and the determinant are exact
    // integers; each converts to double SEPARATELY (IEEE exact under
    // 2^53) and the statistic is three exactly-rounded double ops in a
    // pinned order — the sq8 score contract, so the gate hash-compares
    // the float. The 95% significance verdict (df=1 critical value
    // 3.841) rides as a boolean the oracle asserts identically. One
    // hash-agg over user-days then a one-row fold; the hash split means
    // assignment needs no coordination at 100 TB.
    QuerySpec(
      "events_ab_chisq",
      (s, d) => {
        val per = events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
          .withColumn("cohort", expr(
            """cast(conv(substring(md5(concat(cast(user_id as string), '_',
               cast(day as string))), 1, 4), 16, 10) as long) % 2"""))
        per.agg(
          count(when(col("cohort") === 0 && col("conv") === 1, 1)).as("a"),
          count(when(col("cohort") === 0 && col("conv") === 0, 1)).as("b"),
          count(when(col("cohort") === 1 && col("conv") === 1, 1)).as("c"),
          count(when(col("cohort") === 1 && col("conv") === 0, 1)).as("d"))
          .withColumn("chi2", expr(
            """(cast(a + b + c + d as double)
                * (cast(a * d - b * c as double) * cast(a * d - b * c as double)))
               / (cast((a + b) * (c + d) as double)
                  * cast((a + c) * (b + d) as double))"""))
          .select(col("a"), col("b"), col("c"), col("d"), col("chi2"),
            (col("chi2") >= lit(3.841)).as("significant_95"))
      },
      Some("""
        WITH per AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY 1, 2),
        coh AS (
          SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || '_'
                        || CAST(day AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS cohort,
                 conv
          FROM per),
        cells AS (
          SELECT CAST(count(CASE WHEN cohort = 0 AND conv = 1 THEN 1 END) AS BIGINT) AS a,
                 CAST(count(CASE WHEN cohort = 0 AND conv = 0 THEN 1 END) AS BIGINT) AS b,
                 CAST(count(CASE WHEN cohort = 1 AND conv = 1 THEN 1 END) AS BIGINT) AS c,
                 CAST(count(CASE WHEN cohort = 1 AND conv = 0 THEN 1 END) AS BIGINT) AS d
          FROM coh),
        x AS (
          SELECT a, b, c, d,
                 (CAST(a + b + c + d AS DOUBLE)
                  * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)))
                 / (CAST((a + b) * (c + d) AS DOUBLE)
                    * CAST((a + c) * (b + d) AS DOUBLE)) AS chi2
          FROM cells)
        SELECT a, b, c, d, chi2, chi2 >= 3.841 AS significant_95 FROM x""")),

    // ───── Count-Min point-query frequency estimate (r9): per-user
    // event counts from ONE global 4×1024 [[graft.functions.CountMinAgg]]
    // counter matrix — the point-query member of the frequency-sketch
    // family (Misra–Gries answers "who is heavy", CM answers "how often
    // is THIS key" for any key). Registers merge by addition, so the
    // sketch builds with map-side combine in one pass and composes
    // across time partitions; 32 KB of state versus the per-key count's
    // full (group, key) shuffle. The estimate is min over 4 rows of the
    // addressed cells — row indices are four 10-bit slices of the
    // shared md5-hex 60-bit literal, so registers and estimates are
    // bit-identical cross-engine. The one-sided guarantee (est ≥ true,
    // expected overcount ≤ N/width per row before the min) is
    // oracle-VISIBLE: over_pm is computed against the exact count and
    // can never be negative without failing the gate.
    QuerySpec(
      "agg_countmin_freq",
      (s, d) => {
        val cm = udaf(new graft.functions.CountMinAgg(4, 1024),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        val ev = events(s, d).withColumn("h", expr(
          "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as long)"))
        val regs = ev.agg(cm(col("h")).as("regs")) // one global sketch row
        ev.groupBy("user_id", "h").agg(count(lit(1)).as("n_exact"))
          .crossJoin(regs) // one-row broadcast composition
          .withColumn("n_est", expr(
            """least(
                 element_at(regs, cast(h & 1023 as int) + 1),
                 element_at(regs, 1024 + cast(shiftright(h, 10) & 1023 as int) + 1),
                 element_at(regs, 2048 + cast(shiftright(h, 20) & 1023 as int) + 1),
                 element_at(regs, 3072 + cast(shiftright(h, 30) & 1023 as int) + 1))"""))
          .select(col("user_id"), col("n_est"), col("n_exact"),
            expr("(n_est - n_exact) * 1000L div n_exact").as("over_pm"))
      },
      Some("""
        WITH h AS (
          SELECT user_id,
                 CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM events),
        regs AS (
          SELECT r, (h >> CAST(10 * r AS INTEGER)) & 1023 AS idx,
                 CAST(count(*) AS BIGINT) AS c
          FROM h, range(4) t(r) GROUP BY 1, 2),
        exact AS (SELECT user_id, h, count(*) AS n_exact FROM h GROUP BY 1, 2),
        est AS (
          SELECT e.user_id, e.n_exact, min(g.c) AS n_est
          FROM exact e JOIN regs g
            ON g.idx = (e.h >> CAST(10 * g.r AS INTEGER)) & 1023
          GROUP BY 1, 2)
        SELECT user_id, CAST(n_est AS BIGINT) AS n_est,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST((n_est - n_exact) * 1000 // n_exact AS BIGINT) AS over_pm
        FROM est""")),

    // ───── day-of-week seasonal decomposition (r9): the multiplicative
    // seasonal index per (event type, ISO weekday) — dow_mean / overall
    // mean in exact integer per-mille (the STL-lite every traffic
    // dashboard runs before flagging "weekend dips" as anomalies; the
    // companion to events_changepoint's level shifts and
    // events_forecast's trend — together the classic decomposition
    // triple). Weekday via Spark weekday()+1 ≡ DuckDB isodow (both
    // Monday=1), means as x1000-scaled truncating divisions of exact
    // counts. Everything after the one daily hash-agg runs over
    // (type × dow) cardinality.
    QuerySpec(
      "events_seasonality",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val tot = daily.groupBy("event_type")
          .agg(sum("c").as("t"), count(lit(1)).as("n"))
          .withColumn("mean_x1000", expr("t * 1000L div n"))
        daily
          .withColumn("dow", expr("weekday(day) + 1"))
          .groupBy("event_type", "dow")
          .agg(sum("c").as("dow_total"), count(lit(1)).as("n_days"))
          .withColumn("dow_mean_x1000", expr("dow_total * 1000L div n_days"))
          .join(broadcast(tot.select("event_type", "mean_x1000")), "event_type")
          .select(col("event_type"), col("dow"), col("n_days"), col("dow_total"),
            expr("dow_mean_x1000 * 1000L div mean_x1000").as("idx_pm"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type,
                 (CAST(SUM(c) AS BIGINT) * 1000) // count(*) AS mean_x1000
          FROM daily GROUP BY 1),
        dw AS (
          SELECT event_type, CAST(isodow(day) AS INTEGER) AS dow,
                 count(*) AS n_days, CAST(SUM(c) AS BIGINT) AS dow_total
          FROM daily GROUP BY 1, 2)
        SELECT d.event_type, d.dow, d.n_days, d.dow_total,
               CAST((d.dow_total * 1000 // d.n_days) * 1000 // t.mean_x1000
                    AS BIGINT) AS idx_pm
        FROM dw d JOIN tot t USING (event_type)""")),

    // ───── CUSUM changepoint detection (r9): where did each event
    // type's daily level SHIFT — the Page (Biometrika 1954) cumulative-
    // sum statistic next to events_anomaly's pointwise outliers and
    // events_forecast's trend: CUSUM_t = Σ_{i≤t}(x_i − mean) peaks in
    // magnitude AT the mean-shift boundary (before the shift deviations
    // accumulate one sign, after it they unwind). All integer: the mean
    // at ×1000 scale via div (positive operands — truncation equals
    // floor cross-engine), deviations and the running sum exact. The
    // windows run over (type × day) cardinality — the event log crosses
    // one hash-agg shuffle once, everything after is calendar-sized;
    // argmax is a row_number with a full (|cusum| DESC, day) tiebreak
    // so the reported changepoint is deterministic in both engines.
    QuerySpec(
      "events_changepoint",
      (s, d) => {
        val tot = Window.partitionBy("event_type")
        val wc = Window.partitionBy("event_type").orderBy("day")
        events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("s", sum("c").over(tot))
          .withColumn("n", count(lit(1)).over(tot))
          .withColumn("mean_x1000", expr("s * 1000L div n"))
          .withColumn("cusum", sum(expr("c * 1000L - mean_x1000")).over(wc))
          .withColumn("rn", row_number().over(Window.partitionBy("event_type")
            .orderBy(abs(col("cusum")).desc, col("day"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day").as("cp_day"),
            abs(col("cusum")).as("max_abs_cusum"),
            col("n").as("n_days"), col("mean_x1000"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
          FROM events GROUP BY 1, 2),
        st AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS s, count(*) AS n
               FROM daily GROUP BY 1),
        cu AS (
          SELECT d.event_type, d.day, st.n,
                 (st.s * 1000 // st.n) AS mean_x1000,
                 SUM(d.c * 1000 - (st.s * 1000 // st.n))
                   OVER (PARTITION BY d.event_type ORDER BY d.day) AS cusum
          FROM daily d JOIN st USING (event_type)),
        pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(cusum) DESC, day) AS rn FROM cu)
        SELECT event_type, day AS cp_day,
               CAST(abs(cusum) AS BIGINT) AS max_abs_cusum,
               CAST(n AS BIGINT) AS n_days,
               CAST(mean_x1000 AS BIGINT) AS mean_x1000
        FROM pick WHERE rn = 1""")),

    // ───── KMV / theta set-operation sketches (r9): distinct estimates
    // for click-days, purchase-days, their UNION and their INTERSECTION
    // — all from two 256-value [[graft.functions.KmvSketchAgg]] bottom-k
    // sketches. This is the capability HLL structurally lacks: registers
    // max-merge (union only), but a KMV sketch's retained hashes are a
    // uniform sample of the set, so set ops COMPOSE ON THE SKETCHES —
    // union = bounded sorted merge of the two arrays, intersection = the
    // theta composition (θ = min of the two kth-minima; retained hashes
    // below θ sample the union uniformly, so |common ∩ <θ| · 2^40 div θ
    // estimates |A∩B|) — never re-reading data (Beyer et al. SIGMOD'07;
    // the Apache DataSketches theta family). Hashes are the shared
    // md5-hex literal at width 40 ((k−1)·2^40 fits int64 on both
    // engines), every estimate one integer division, so the whole row
    // set is hash-exact cross-engine; n_exact/err_bp make estimator
    // accuracy oracle-VISIBLE (expected σ ≈ 1/√(k−2) ≈ 6.3% per set).
    // One pass over the filtered event log builds both sketches + exact
    // counts; the composition stage is one-row array arithmetic.
    QuerySpec(
      "agg_kmv_theta",
      (s, d) => {
        val kmv = udaf(new graft.functions.KmvSketchAgg(256),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        val base = events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), expr(
            "concat(cast(user_id as string), '_', cast(to_date(ts) as string))").as("k"))
          .withColumn("h", expr(
            "cast(conv(substring(md5(k), 1, 10), 16, 10) as long)"))
        val sk = base
          .groupBy("event_type")
          .agg(kmv(col("h")).as("sk"), count_distinct(col("k")).as("n_ex"))
          .agg(
            max(when(col("event_type") === "click", col("sk"))).as("ska"),
            max(when(col("event_type") === "purchase", col("sk"))).as("skb"),
            max(when(col("event_type") === "click", col("n_ex"))).as("na"),
            max(when(col("event_type") === "purchase", col("n_ex"))).as("nb"))
        // exact union/intersection ground truth (estimator accuracy is
        // part of the answer, same discipline as agg_hll_distinct)
        val ex = base.groupBy("k").agg(count_distinct(col("event_type")).as("nt"))
          .agg(count(lit(1)).as("nu"),
            count(when(col("nt") === 2, 1)).as("ni"))
        sk.crossJoin(ex) // one-row × one-row composition
          .withColumn("sku",
            expr("slice(array_sort(array_distinct(concat(ska, skb))), 1, 256)"))
          // a sketch holding < k values truncated NOTHING: its theta is
          // the full hash range 2^40, so the intersection estimate
          // degrades to the EXACT count when both sets fit (the
          // standard theta-sketch rule — and the reason this query
          // cannot ANSI-crash at tiny SFs)
          .withColumn("theta", expr(
            """least(case when size(ska) >= 256
                          then element_at(ska, 256) else 1099511627776L end,
                     case when size(skb) >= 256
                          then element_at(skb, 256) else 1099511627776L end)"""))
          .withColumn("c",
            expr("size(filter(array_intersect(ska, skb), x -> x < theta))"))
          .select(expr(
            """stack(4,
                 'click',
                 case when size(ska) < 256 then cast(size(ska) as bigint)
                      else (255L * 1099511627776L) div element_at(ska, 256) end, na,
                 'purchase',
                 case when size(skb) < 256 then cast(size(skb) as bigint)
                      else (255L * 1099511627776L) div element_at(skb, 256) end, nb,
                 'union',
                 case when size(sku) < 256 then cast(size(sku) as bigint)
                      else (255L * 1099511627776L) div element_at(sku, 256) end, nu,
                 'intersect',
                 (cast(c as bigint) * 1099511627776L) div theta, ni)
               as (set_op, n_est, n_exact)"""))
          .withColumn("err_bp", expr("abs(n_est - n_exact) * 10000L div n_exact"))
      },
      Some("""
        WITH base AS (
          SELECT event_type,
                 CAST(user_id AS VARCHAR) || '_' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
          FROM events WHERE event_type IN ('click', 'purchase')),
        h AS (
          SELECT event_type, k,
                 CAST(('0x' || substring(md5(k), 1, 10)) AS BIGINT) AS h
          FROM base),
        hd AS (SELECT DISTINCT event_type, h FROM h),
        ka AS (SELECT h FROM hd WHERE event_type = 'click' ORDER BY h LIMIT 256),
        kb AS (SELECT h FROM hd WHERE event_type = 'purchase' ORDER BY h LIMIT 256),
        ku AS (SELECT DISTINCT h
               FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
               ORDER BY h LIMIT 256),
        sa AS (SELECT count(*) AS n, max(h) AS r FROM ka),
        sb AS (SELECT count(*) AS n, max(h) AS r FROM kb),
        su AS (SELECT count(*) AS n, max(h) AS r FROM ku),
        th AS (SELECT least(CASE WHEN sa.n < 256 THEN 1099511627776 ELSE sa.r END,
                           CASE WHEN sb.n < 256 THEN 1099511627776 ELSE sb.r END) AS t
               FROM sa, sb),
        cc AS (SELECT count(*) AS c FROM ka, kb, th
               WHERE ka.h = kb.h AND ka.h < th.t),
        exacts AS (
          SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN k END) AS na,
                 count(DISTINCT CASE WHEN event_type = 'purchase' THEN k END) AS nb,
                 count(DISTINCT k) AS nu
          FROM base),
        ni AS (SELECT count(*) AS ni FROM (
                 SELECT k FROM base
                 GROUP BY k HAVING count(DISTINCT event_type) = 2)),
        est AS (
          SELECT 'click' AS set_op,
                 CASE WHEN sa.n < 256 THEN sa.n
                      ELSE (255 * 1099511627776) // sa.r END AS n_est,
                 exacts.na AS n_exact
          FROM sa, exacts
          UNION ALL
          SELECT 'purchase',
                 CASE WHEN sb.n < 256 THEN sb.n
                      ELSE (255 * 1099511627776) // sb.r END, exacts.nb
          FROM sb, exacts
          UNION ALL
          SELECT 'union',
                 CASE WHEN su.n < 256 THEN su.n
                      ELSE (255 * 1099511627776) // su.r END, exacts.nu
          FROM su, exacts
          UNION ALL
          SELECT 'intersect', (cc.c * 1099511627776) // th.t, ni.ni
          FROM cc, th, ni)
        SELECT set_op, CAST(n_est AS BIGINT) AS n_est,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(abs(n_est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
        FROM est""")),

    // ───── point-in-time feature assembly (r8): the feature-store join
    // that builds a LEAKAGE-FREE training set — each label event
    // (purchase) picks up the latest value of EVERY feature stream
    // (views, clicks) as of its own time. Not the pairwise asof_join: N
    // feature streams + labels assemble in ONE window pass over the
    // unioned per-user timeline (last_value IGNORE NULLS of each
    // stream's value, frame up to the current row — a label row's own
    // contribution is null by construction, so nothing at-or-after the
    // label leaks), plus integer feature staleness. One shuffle total
    // for any number of feature streams — the N-way asof would shuffle
    // per stream.
    QuerySpec(
      "join_pit_features",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("f_view",
            last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
          .withColumn("f_click",
            last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
          .withColumn("f_view_ts",
            last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
          .withColumn("f_view_age_s", expr(
            // exact integer microseconds on both engines — a seconds
            // epoch would round differently (floor vs cast-round)
            "(unix_micros(ts) - unix_micros(f_view_ts)) div 1000000L"))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("value").as("label_value"),
            col("f_view"), col("f_click"), col("f_view_age_s"))
      },
      Some("""
        SELECT user_id, event_id, ts, value AS label_value,
               f_view, f_click, f_view_age_s
        FROM (
          SELECT user_id, event_id, ts, value, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
                   OVER w AS f_view,
                 LAST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                   OVER w AS f_click,
                 (epoch_us(ts)
                   - epoch_us(LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                              OVER w)) // 1000000 AS f_view_age_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        WHERE event_type = 'purchase'""")),

    // ───── CEP-style sequence-pattern matching (r8): the MATCH_RECOGNIZE
    // semantic (contiguous view→click→purchase runs per user) without a
    // dedicated operator — each user's event-type sequence renders as a
    // single-char-coded string in (ts, event_id) total order (ONE
    // hash-agg with array_sort over the collected per-user events — the
    // per-user payload is bounded; production bounds it further by
    // sessionizing first, cdc_sessionize) and a regexp counts the
    // pattern's non-overlapping occurrences. Both engines build the
    // identical string (deterministic total order) and POSIX-count the
    // same literal pattern, so the per-hit-count user histogram is
    // hash-exact. Funnel (events_funnel) asks "did each stage EVER
    // happen, in order"; this asks "how often did the stages happen
    // CONSECUTIVELY" — the contiguity constraint is what needs the
    // sequence string.
    QuerySpec(
      "events_pattern_match",
      (s, d) => events(s, d)
        .withColumn("c", expr(
          """case event_type when 'view' then 'v' when 'click' then 'c'
             when 'purchase' then 'p' when 'signup' then 's' else 'e' end"""))
        .groupBy("user_id")
        .agg(expr(
          """concat_ws('', transform(
               array_sort(collect_list(struct(ts, event_id, c))), x -> x.c))""")
          .as("seq"))
        .select(expr("size(regexp_extract_all(seq, 'vcp', 0))").cast("long")
          .as("pattern_hits"))
        .groupBy("pattern_hits").agg(count(lit(1)).as("n_users")),
      Some("""
        SELECT pattern_hits, COUNT(*) AS n_users
        FROM (
          SELECT CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT) AS pattern_hits
          FROM (
            SELECT user_id,
                   string_agg(CASE event_type WHEN 'view' THEN 'v'
                                              WHEN 'click' THEN 'c'
                                              WHEN 'purchase' THEN 'p'
                                              WHEN 'signup' THEN 's'
                                              ELSE 'e' END, ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id))
        GROUP BY 1""")),

    // ───── deterministic mergeable quantile sketch (r8): the DDSketch
    // shape with PURE-INTEGER log buckets — msb position (length(bin(v)),
    // the shingle-profile primitive) × 3 mantissa bits = 8 sub-buckets
    // per octave, relative error ≤ 1/8. The sketch state is bucket
    // counts, so partial aggregation and any re-aggregation merge by
    // ADDITION — mergeability is structural, not a custom buffer — and
    // unlike approx_percentile's engine-specific interpolation the
    // ESTIMATES themselves are bit-identical cross-engine (every step is
    // bit arithmetic), so they sit directly under the hash gate. The
    // accuracy contract is asserted in-band per (type, quantile): the
    // bucket lower bound never exceeds the exact ordinal value and the
    // gap stays under the 1/8 bound — provably-true booleans the oracle
    // must also derive (the agg_approx_distinct pattern, but with the
    // estimate ALSO hash-compared). Scale shape: the data crosses one
    // (type, bucket) hash-agg with map-side partials; every window runs
    // over bucket-cardinality rows (≤ ~8·64 per type), except the exact
    // ordinal side, which is the verification harness, not the sketch.
    QuerySpec(
      "agg_quantile_sketch",
      (s, d) => {
        import s.implicits._
        val cents = events(s, d)
          .select(col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("v"))
          .filter(col("v") >= 1)
        val bucketed = cents
          .withColumn("m", expr("length(bin(v))"))
          .withColumn("bucket", expr(
            """cast(case when v < 8 then v
                    else m * 8 + (shiftright(v, cast(m - 4 as int)) & 7)
                    end as bigint)"""))
        val hist = bucketed.groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("bn"))
        val wcum = Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.withColumn("cum", sum("bn").over(wcum))
        val totals = cents.groupBy("event_type").agg(count(lit(1)).as("n"))
        val positions = totals.crossJoin(Seq(50, 95, 99).toDF("q"))
          .withColumn("pos", expr("(n * q + 99) div 100"))
        val est = cum.join(positions, Seq("event_type"))
          .filter(col("cum") >= col("pos"))
          .groupBy("event_type", "q").agg(min("bucket").as("bucket"))
          .withColumn("est", expr(
            """case when bucket < 8 then bucket
               else shiftleft(8 + bucket % 8, cast(bucket div 8 - 4 as int))
               end"""))
        val wrank = Window.partitionBy("event_type").orderBy("v")
        val exact = cents.withColumn("rn", row_number().over(wrank))
          .join(positions, Seq("event_type"))
          .filter(col("rn") === col("pos"))
          .select(col("event_type"), col("q"), col("v").as("exact_ord"))
        est.join(exact, Seq("event_type", "q"))
          .select(col("event_type"), col("q"), col("est"), col("exact_ord"),
            (col("est") <= col("exact_ord")).as("est_le_exact"),
            ((col("exact_ord") - col("est")) * 8 < greatest(col("est"), lit(1L)))
              .as("bound_ok"))
      },
      Some("""
        WITH cents AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE CAST(round(value * 100) AS BIGINT) >= 1),
        bucketed AS (
          SELECT event_type, v,
                 CASE WHEN v < 8 THEN v
                      ELSE CAST(len(bin(v)) AS BIGINT) * 8
                           + ((v >> (CAST(len(bin(v)) AS BIGINT) - 4)) & 7)
                 END AS bucket
          FROM cents),
        hist AS (SELECT event_type, bucket, COUNT(*) AS bn
                 FROM bucketed GROUP BY 1, 2),
        cum AS (SELECT event_type, bucket,
                       SUM(bn) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
                FROM hist),
        totals AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM cents GROUP BY 1),
        positions AS (SELECT t.event_type, q.q, (t.n * q.q + 99) // 100 AS pos
                      FROM totals t CROSS JOIN (VALUES (50), (95), (99)) q(q)),
        est AS (SELECT c.event_type, p.q, MIN(c.bucket) AS bucket
                FROM cum c JOIN positions p
                  ON c.event_type = p.event_type AND c.cum >= p.pos
                GROUP BY 1, 2),
        estv AS (SELECT event_type, q,
                        CASE WHEN bucket < 8 THEN bucket
                             ELSE (8 + bucket % 8) << (bucket // 8 - 4)
                        END AS est
                 FROM est),
        ranked AS (SELECT event_type, v,
                          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
                   FROM cents),
        exact AS (SELECT r.event_type, p.q, r.v AS exact_ord
                  FROM ranked r JOIN positions p
                    ON r.event_type = p.event_type AND r.rn = p.pos)
        SELECT e.event_type, e.q, e.est, x.exact_ord,
               e.est <= x.exact_ord AS est_le_exact,
               (x.exact_ord - e.est) * 8 < GREATEST(e.est, 1) AS bound_ok
        FROM estv e JOIN exact x
          ON e.event_type = x.event_type AND e.q = x.q""")),

    // ───── U-shaped multi-touch attribution (r10): which channels get
    // credit for each conversion — the position-based model every
    // marketing-analytics stack ships next to first/last-touch (40% to
    // the first touch, 40% to the last, 20% split across the middles).
    // Journey segmentation: a running purchase count per user (one
    // window over the per-user event order, total because (ts,
    // event_id) is unique) assigns every touch to the NEXT purchase;
    // journeys that never convert drop via the inner join against the
    // conversion set. All credit in integer basis points — 10000 per
    // conversion by construction: n=1 → 10000, n=2 → 5000/5000, else
    // 4000/4000 ends and 2000 div (n−2) per middle with the remainder
    // pinned to the first middle — so Σ credit_bp = 10000 · conversions
    // is an oracle-visible invariant. Plan: two windows and a hash-agg,
    // all partitioned by user_id (shards at 100 TB); no self-join of
    // the event log.
    QuerySpec(
      "events_attribution_ushape",
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wJ = Window.partitionBy("user_id", "journey")
        val ev = events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("cum_p",
            sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(wOrd))
          .withColumn("journey",
            when(col("event_type") === "purchase", col("cum_p"))
              .otherwise(col("cum_p") + 1))
        val convs = ev.filter(col("event_type") === "purchase")
          .select("user_id", "journey").distinct()
        ev.filter(col("event_type") =!= "purchase")
          .join(convs, Seq("user_id", "journey"))
          .withColumn("pos", row_number().over(
            Window.partitionBy("user_id", "journey").orderBy(col("ts"), col("event_id"))))
          .withColumn("n", count(lit(1)).over(wJ))
          .withColumn("credit_bp",
            when(col("n") === 1, 10000L)
              .when(col("n") === 2, 5000L)
              .when(col("pos") === 1 || col("pos") === col("n"), 4000L)
              .otherwise(expr(
                "2000L div (n - 2) + if(pos = 2, 2000L % (n - 2), 0L)")))
          .groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"), sum("credit_bp").as("credit_bp"))
      },
      Some("""
        WITH ord AS (
          SELECT user_id, event_id, ts, event_type,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum_p
          FROM events),
        j AS (SELECT *, CASE WHEN event_type = 'purchase' THEN cum_p
                             ELSE cum_p + 1 END AS journey FROM ord),
        convs AS (SELECT DISTINCT user_id, journey FROM j
                  WHERE event_type = 'purchase'),
        pos AS (
          SELECT j.event_type,
                 ROW_NUMBER() OVER (PARTITION BY j.user_id, j.journey
                                    ORDER BY j.ts, j.event_id) AS pos,
                 COUNT(*) OVER (PARTITION BY j.user_id, j.journey) AS n
          FROM j JOIN convs USING (user_id, journey)
          WHERE j.event_type <> 'purchase'),
        cred AS (
          SELECT event_type,
                 CASE WHEN n = 1 THEN 10000
                      WHEN n = 2 THEN 5000
                      WHEN pos = 1 OR pos = n THEN 4000
                      ELSE 2000 // (n - 2)
                           + CASE WHEN pos = 2 THEN 2000 % (n - 2) ELSE 0 END
                 END AS credit_bp
          FROM pos)
        SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_bp) AS BIGINT) AS credit_bp
        FROM cred GROUP BY 1""")),

    // ───── cohort LTV triangle (r10): the retention economics view —
    // users cohorted by first-seen week, purchase revenue accumulated
    // per (cohort, age-in-weeks) cell, with the cell's active-user
    // count. The classic "LTV triangle" a growth team reads diagonally
    // (calendar weeks) and horizontally (cohort maturation); the
    // revenue companion to events_retention's activity triangle. Weeks
    // via date_trunc('week', ·) — Monday-start in BOTH engines — and
    // age as an exact day difference div 7 (non-negative by cohort
    // minimality, so truncation equals floor cross-engine). Revenue in
    // integer cents (floor(value·100), the shared discipline). Plan:
    // cohort week is a per-user window min (one shuffle on user_id),
    // then one hash-agg on the (cohort, age) key — the event log
    // crosses the wire twice total, no self-join.
    QuerySpec(
      "events_cohort_ltv",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .withColumn("wk", to_date(date_trunc("week", col("ts"))))
          .withColumn("cohort_wk",
            min(col("wk")).over(Window.partitionBy("user_id")))
        ev.withColumn("age_wk", expr("datediff(wk, cohort_wk) div 7"))
          .groupBy("cohort_wk", "age_wk")
          .agg(countDistinct("user_id").as("n_active"),
            sum(when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long")).otherwise(0L))
              .as("purchase_cents"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
                 event_type, CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events),
        co AS (SELECT *, MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
               FROM ev)
        SELECT cohort_wk, CAST((wk - cohort_wk) // 7 AS BIGINT) AS age_wk,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
                             ELSE 0 END) AS BIGINT) AS purchase_cents
        FROM co GROUP BY 1, 2""")),

    // ───── l-diversity audit (r10): k-anonymity's successor check
    // (Machanavajjhala et al., ICDE 2006) — a release is l-diverse when
    // every quasi-identifier class carries ≥ l DISTINCT sensitive
    // values, closing the homogeneity attack k-anonymity leaves open (a
    // k=50 class whose 50 rows all share one diagnosis still leaks it).
    // QI here: (nation, account-balance band — privacy_k_anon's ladder
    // basis); sensitive attribute: market segment. Output is the
    // l-histogram — for each observed diversity level, how many classes
    // sit there, how many rows they cover, and the (nat·1000+band)
    // fingerprint of the smallest class id — the shape a release
    // pipeline alerts on (classes at l=1 are the leak). Two hash-aggs
    // over QI cardinality, nothing joins; shards on the QI key.
    QuerySpec(
      "privacy_l_diversity",
      (s, d) => {
        customer(s, d).select(
            col("c_nationkey").as("nat"),
            expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000")
              .as("band"),
            col("c_mktsegment").as("sens"))
          .groupBy("nat", "band")
          .agg(countDistinct("sens").as("l"), count(lit(1)).as("cs"))
          .groupBy("l")
          .agg(count(lit(1)).as("n_classes"), sum("cs").as("n_rows"),
            min(expr("nat * 1000 + band")).as("min_class_id"))
      },
      Some("""
        WITH qi AS (
          SELECT c_nationkey AS nat,
                 (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
                   AS band,
                 c_mktsegment AS sens
          FROM customer),
        classes AS (
          SELECT nat, band, COUNT(DISTINCT sens) AS l, count(*) AS cs
          FROM qi GROUP BY 1, 2)
        SELECT CAST(l AS BIGINT) AS l, count(*) AS n_classes,
               CAST(SUM(cs) AS BIGINT) AS n_rows,
               CAST(MIN(nat * 1000 + band) AS BIGINT) AS min_class_id
        FROM classes GROUP BY 1""")),

    // ───── HITS hubs/authorities (r13): the DIRECTED counterpart to
    // graph_pagerank — the customer→supplier purchase graph is a
    // natural hub/authority structure (customers that buy broadly are
    // hubs; suppliers bought by good hubs are authorities). 4
    // synchronized rounds, each ONE edge equi-join + ONE hash-agg per
    // direction — per-round cost O(|E|), the distributed HITS shape.
    // L1 normalization replaces the textbook L2 (sqrt-free): after
    // each half-step scores rescale to ppm of their column total via
    // one truncating DECIMAL(38) division per node (raw sums reach
    // 1e6·|V|·deg ≈ 1e24 at 1e12 nodes — past int64, inside 38
    // digits); both engines truncate identically, so the unrolled
    // DuckDB replay is bit-exact. Top-10 per role with (score DESC,
    // node) total-order tiebreak.
    QuerySpec(
      "graph_hits",
      (s, d) => {
        val e = graft.analytics.GraphArtifacts.purchasePairs(s, d)
        // sup-keyed twin for the h half-step: e is c-partitioned, so the
        // a half-step's join is edge-stationary, but the h half-step
        // joins on sup and re-shuffled the whole |E| frame every round —
        // the second cached layout makes BOTH half-steps move only the
        // |V|-row score table (r17; guide §2.4)
        val eSup = graft.analytics.GraphArtifacts.purchasePairsBySup(s, d)
        // each half-step MATERIALIZES (localCheckpoint) before its L1
        // total: the scalar aggregate and the row consumer read the
        // SAME frame, and an unmaterialized lineage would re-derive
        // the whole prefix for both — doubling work per half-step,
        // 2^8 by round 4 (measured: the bench run that caught it)
        def l1ppm(df: DataFrame, key: String, raw: String) = {
          // LAZY checkpoint (r17): the dual consumption (scalar total +
          // row consumer) still reads ONE materialization — the
          // checkpointed RDD caches on first compute — but the loop no
          // longer pays an eager driver job per half-step; the final
          // top-10 action cascades the materializations
          val mat = df.localCheckpoint(false)
          val tot = mat.agg(sum(raw).cast("decimal(38,0)").as("tot"))
          mat.crossJoin(broadcast(tot))
            .select(col(key),
              expr(s"cast(cast($raw as decimal(38,0)) * 1000000 div tot as bigint)")
                .as(raw.dropRight(4)))
        }
        var h = e.select("c").distinct().select(col("c"), lit(1000000L).as("h"))
        var a: DataFrame = null
        for (_ <- 1 to 4) {
          a = l1ppm(e.join(h, "c").groupBy("sup")
            .agg(sum("h").as("a_raw")), "sup", "a_raw")
          h = l1ppm(eSup.join(a, "sup").groupBy("c")
            .agg(sum("a").as("h_raw")), "c", "h_raw")
        }
        val top = (df: DataFrame, role: String, key: String, sc: String) =>
          df.select(lit(role).as("role"),
              concat(lit(key.take(1)), col(key).cast("string")).as("node"),
              col(sc).as("score_ppm"))
            .orderBy(col("score_ppm").desc, col("node")).limit(10)
        top(a, "authority", "sup", "a").unionAll(top(h, "hub", "c", "h"))
      },
      Some {
        val rounds = (1 to 4).map { t =>
          s"""
        a${t}_raw AS MATERIALIZED (
          SELECT e.sup, SUM(h.h) AS a_raw
          FROM e JOIN h${t - 1} h ON h.c = e.c GROUP BY 1),
        a$t AS MATERIALIZED (
          SELECT sup, CAST(CAST(a_raw AS HUGEINT) * 1000000
                 // (SELECT SUM(CAST(a_raw AS HUGEINT)) FROM a${t}_raw)
                 AS BIGINT) AS a
          FROM a${t}_raw),
        h${t}_raw AS MATERIALIZED (
          SELECT e.c, SUM(a.a) AS h_raw
          FROM e JOIN a$t a ON a.sup = e.sup GROUP BY 1),
        h$t AS MATERIALIZED (
          SELECT c, CAST(CAST(h_raw AS HUGEINT) * 1000000
                 // (SELECT SUM(CAST(h_raw AS HUGEINT)) FROM h${t}_raw)
                 AS BIGINT) AS h
          FROM h${t}_raw)"""
        }.mkString(",")
        s"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sup
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        h0 AS (SELECT DISTINCT c, 1000000 AS h FROM e),$rounds
        SELECT * FROM (
          SELECT 'authority' AS role, 's' || CAST(sup AS VARCHAR) AS node,
                 a AS score_ppm
          FROM a4 ORDER BY a DESC, node LIMIT 10)
        UNION ALL
        SELECT * FROM (
          SELECT 'hub' AS role, 'c' || CAST(c AS VARCHAR) AS node,
                 h AS score_ppm
          FROM h4 ORDER BY h DESC, node LIMIT 10)"""
      }),

    // ───── Personalized PageRank (r13): "what's near THESE nodes" —
    // the seeded variant behind related-item and local-community
    // surfaces, next to graph_pagerank's global importance. Same
    // packed-long symmetrized purchase graph and per-round
    // edge-join + hash-agg cost; the difference is the teleport: all
    // restart mass returns to the 5 seed customers (150000 ppm each),
    // so rank decays with distance from the seed set and unreached
    // nodes hold exact 0. Integer arithmetic end-to-end (contrib =
    // pr·85 div (100·deg)); mass truncation leaks identically in both
    // engines; 4 unrolled rounds; top-20 with total-order tiebreak.
    QuerySpec(
      "graph_ppr",
      (s, d) => {
        val withDeg = graft.analytics.GraphArtifacts.purchaseWithDeg(s, d)
        // seeds: customers 1..5 (packed nodes 2,4,6,8,10)
        val seedBonus = when(col("node").isin(2L, 4L, 6L, 8L, 10L),
          lit(150000L)).otherwise(lit(0L))
        var ranks = withDeg.select(col("src").as("node")).distinct()
          .select(col("node"),
            when(col("node").isin(2L, 4L, 6L, 8L, 10L), lit(1000000L))
              .otherwise(lit(0L)).as("pr"))
        for (_ <- 1 to 4) {
          ranks = withDeg.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("(pr * 85) div (100 * deg)").as("contrib"))
            .groupBy(col("dst").as("node"))
            .agg(sum("contrib").as("inflow"))
            .select(col("node"), (col("inflow") + seedBonus).as("pr"))
        }
        ranks.filter(col("pr") > 0)
          .select(concat(when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
            expr("cast(node div 2 as string)")).as("node"), col("pr"))
          .orderBy(col("pr").desc, col("node")).limit(20)
      },
      Some {
        val iters = (1 to 4).map { t =>
          s"""
        r$t AS (
          SELECT node,
                 CAST(SUM(contrib)
                      + CASE WHEN node IN (2, 4, 6, 8, 10) THEN 150000
                             ELSE 0 END AS BIGINT) AS pr
          FROM (SELECT e.dst AS node,
                       (r.pr * 85) // (100 * d.deg) AS contrib
                FROM edges e JOIN r${t - 1} r ON r.node = e.src
                             JOIN deg d ON d.src = e.src)
          GROUP BY node)"""
        }.mkString(",")
        s"""
        WITH e0 AS (
          SELECT DISTINCT o.o_custkey * 2 AS cnode,
                          l.l_suppkey * 2 + 1 AS snode
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        edges AS MATERIALIZED (
          SELECT cnode AS src, snode AS dst FROM e0
          UNION ALL
          SELECT snode AS src, cnode AS dst FROM e0),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        r0 AS (
          SELECT DISTINCT src AS node,
                 CASE WHEN src IN (2, 4, 6, 8, 10) THEN 1000000
                      ELSE 0 END AS pr
          FROM edges),$iters
        SELECT * FROM (
          SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
                 || CAST(node // 2 AS VARCHAR) AS node, pr
          FROM r4 WHERE pr > 0
          ORDER BY pr DESC, node LIMIT 20)"""
      }),

    // ───── k-truss (r13, k=4): the cohesion peel one level above
    // graph_kcore — keep only edges supported by ≥ 2 triangles,
    // re-checking support after each removal wave (removing an edge
    // can break its neighbors' triangles). Per round: ONE symmetrized
    // adjacency self-join computes every edge's support — cost
    // O(Σ deg(u)·deg(v)) over surviving edges, the standard
    // distributed truss-decomposition round — then a semi-join drops
    // unsupported edges. Spark early-exits when a wave removes
    // nothing (further rounds are no-ops, so the fixed-3-round oracle
    // replay is identical — the graph_kcore discipline). Runs on the
    // w≥2 co-purchase graph so the triangle join is bounded.
    QuerySpec(
      "graph_ktruss",
      (s, d) => {
        var e = graft.analytics.GraphArtifacts.filteredEdges(s, d)
          .localCheckpoint(true)
        var prev = e.count()
        var done = false
        for (_ <- 1 to 3 if !done) {
          val adj = e.select(col("u").as("x"), col("v").as("y"))
            .unionAll(e.select(col("v").as("x"), col("u").as("y")))
          val sup = e.as("e")
            .join(adj.as("au"), col("au.x") === col("e.u"))
            .join(adj.as("av"),
              col("av.x") === col("e.v") && col("av.y") === col("au.y"))
            .groupBy(col("e.u").as("u"), col("e.v").as("v"))
            .agg(count(lit(1)).as("sup"))
          e = sup.filter(col("sup") >= 2).select("u", "v").localCheckpoint(true)
          val now = e.count()
          done = now == prev
          prev = now
        }
        e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
          .agg(count(lit(1)).as("n_truss_nodes"), sum("n").as("node_sum"),
            sum("dg").as("deg_sum"),
            (sum("dg") / 2).cast("long").as("n_edges"))
      },
      Some {
        val sb = new StringBuilder("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)""")
        for (r <- 1 to 3) sb.append(s""",
        adj$r AS MATERIALIZED (
          SELECT u AS x, v AS y FROM e${r - 1}
          UNION ALL SELECT v AS x, u AS y FROM e${r - 1}),
        e$r AS MATERIALIZED (
          SELECT u, v FROM (
            SELECT e.u, e.v, COUNT(*) AS sup
            FROM e${r - 1} e
            JOIN adj$r au ON au.x = e.u
            JOIN adj$r av ON av.x = e.v AND av.y = au.y
            GROUP BY 1, 2)
          WHERE sup >= 2)""")
        sb.append("""
        SELECT COUNT(*) AS n_truss_nodes, CAST(SUM(n) AS BIGINT) AS node_sum,
               CAST(SUM(dg) AS BIGINT) AS deg_sum,
               CAST(SUM(dg) // 2 AS BIGINT) AS n_edges
        FROM (SELECT x AS n, count(*) AS dg FROM
              (SELECT u AS x FROM e3 UNION ALL SELECT v AS x FROM e3)
              GROUP BY 1)""")
        sb.toString
      }),

    // ───── Seeded betweenness centrality (r13): Brandes' algorithm
    // from 2 seed sources over a 3-hop horizon — the brokerage readout
    // (who sits ON the shortest paths) complementing graph_closeness
    // (who is NEAR everything). Forward phase: level sets L0..L3 with
    // path counts σ, each level ONE adjacency equi-join + hash-agg +
    // anti-join against the visited set (the multiSourceBfs shape,
    // σ summed along the BFS DAG). Backward phase: dependency δ flows
    // level-by-level, δ(u) += σ(u)·(1000 + δ(v)) div σ(v) over DAG
    // edges u→v — the one rational in Brandes, in milli with
    // truncating integer division so both engines leak identically.
    // Exact-bounded seeds (the 2 smallest nodes — no collect, the seed
    // frame stays a DataFrame); per-level cost O(|E|); the unrolled
    // oracle replays levels as materialized CTEs with NOT EXISTS
    // visited checks. Top-15 brokers by (bc_milli DESC, node).
    QuerySpec(
      "graph_betweenness",
      (s, d) => {
        val adj = graft.analytics.GraphArtifacts.undFiltered(s, d)
          .select(col("u").as("x"), col("v").as("y"))
        val seeds = adj.select(col("x").as("s")).distinct()
          .orderBy("s").limit(2)
        val l0 = seeds.select(col("s").as("seed"), col("s").as("node"),
          lit(1L).as("sigma")).localCheckpoint(true)
        def expand(lv: DataFrame, visited: DataFrame): DataFrame =
          adj.join(lv.select(col("seed"), col("node").as("x"), col("sigma")), "x")
            .groupBy(col("seed"), col("y").as("node"))
            .agg(sum("sigma").as("sigma"))
            .join(visited, Seq("seed", "node"), "left_anti")
            .localCheckpoint(true)
        val v0 = l0.select("seed", "node")
        val l1 = expand(l0, v0)
        val v1 = v0.unionAll(l1.select("seed", "node")).localCheckpoint(true)
        val l2 = expand(l1, v1)
        val v2 = v1.unionAll(l2.select("seed", "node")).localCheckpoint(true)
        val l3 = expand(l2, v2)
        def backprop(lv: DataFrame, next: DataFrame,
                     deltaNext: DataFrame): DataFrame =
          adj.join(lv.select(col("seed"), col("node").as("x"),
              col("sigma").as("sigma_u")), "x")
            .join(next.select(col("seed"), col("node").as("y"),
              col("sigma").as("sigma_v")), Seq("seed", "y"))
            .join(deltaNext.select(col("seed"), col("u").as("y"),
              col("delta").as("dnext")), Seq("seed", "y"), "left")
            .select(col("seed"), col("x").as("u"),
              expr("sigma_u * (1000 + coalesce(dnext, 0)) div sigma_v")
                .as("term"))
            .groupBy("seed", "u").agg(sum("term").as("delta"))
        val emptyDelta = l0.select(col("seed"), col("node").as("u"),
          col("sigma").as("delta")).limit(0)
        val d2 = backprop(l2, l3, emptyDelta).localCheckpoint(true)
        val d1 = backprop(l1, l2, d2)
        d1.unionAll(d2)
          .groupBy(col("u").as("node"))
          .agg(sum("delta").as("bc_milli"))
          .orderBy(col("bc_milli").desc, col("node")).limit(15)
      },
      Some("""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        adj AS MATERIALIZED (
          SELECT u AS x, v AS y FROM e0
          UNION ALL SELECT v AS x, u AS y FROM e0),
        seeds AS (SELECT DISTINCT x AS s FROM adj ORDER BY x LIMIT 2),
        l0 AS MATERIALIZED (
          SELECT s AS seed, s AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
        l1 AS MATERIALIZED (
          SELECT g.seed, g.node, g.sigma FROM (
            SELECT l.seed, a.y AS node, SUM(l.sigma) AS sigma
            FROM l0 l JOIN adj a ON a.x = l.node GROUP BY 1, 2) g
          WHERE NOT EXISTS (SELECT 1 FROM l0 v
                            WHERE v.seed = g.seed AND v.node = g.node)),
        l2 AS MATERIALIZED (
          SELECT g.seed, g.node, g.sigma FROM (
            SELECT l.seed, a.y AS node, SUM(l.sigma) AS sigma
            FROM l1 l JOIN adj a ON a.x = l.node GROUP BY 1, 2) g
          WHERE NOT EXISTS (SELECT 1 FROM l0 v
                            WHERE v.seed = g.seed AND v.node = g.node)
            AND NOT EXISTS (SELECT 1 FROM l1 v
                            WHERE v.seed = g.seed AND v.node = g.node)),
        l3 AS MATERIALIZED (
          SELECT g.seed, g.node, g.sigma FROM (
            SELECT l.seed, a.y AS node, SUM(l.sigma) AS sigma
            FROM l2 l JOIN adj a ON a.x = l.node GROUP BY 1, 2) g
          WHERE NOT EXISTS (SELECT 1 FROM l0 v
                            WHERE v.seed = g.seed AND v.node = g.node)
            AND NOT EXISTS (SELECT 1 FROM l1 v
                            WHERE v.seed = g.seed AND v.node = g.node)
            AND NOT EXISTS (SELECT 1 FROM l2 v
                            WHERE v.seed = g.seed AND v.node = g.node)),
        d2 AS MATERIALIZED (
          SELECT l.seed, l.node AS u,
                 CAST(SUM(l.sigma * 1000 // t.sigma) AS BIGINT) AS delta
          FROM l2 l JOIN adj a ON a.x = l.node
          JOIN l3 t ON t.seed = l.seed AND t.node = a.y
          GROUP BY 1, 2),
        d1 AS MATERIALIZED (
          SELECT l.seed, l.node AS u,
                 CAST(SUM(l.sigma * (1000 + COALESCE(dn.delta, 0)) // t.sigma)
                   AS BIGINT) AS delta
          FROM l1 l JOIN adj a ON a.x = l.node
          JOIN l2 t ON t.seed = l.seed AND t.node = a.y
          LEFT JOIN d2 dn ON dn.seed = t.seed AND dn.u = t.node
          GROUP BY 1, 2)
        SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_milli
        FROM (SELECT seed, u AS node, delta FROM d1
              UNION ALL SELECT seed, u, delta FROM d2)
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 15""")),

    // ───── Time-decay attribution (r13): the multi-touch model between
    // events_attribution's last-touch (one winner) and the U-shape
    // (fixed positions) — EVERY view/click in the 7-day lookback gets
    // credit, halving per day of age. Exact by clearing the dyadic
    // denominator: weight = 2^(30−age_days) via shiftleft (age ≤ 7 by
    // the window), per-purchase total W rides a (user, purchase)-keyed
    // window over the pair frame, credit = cents·w div W truncating —
    // the only rational, identical in both engines; touchless
    // purchases credit 'direct' in full (anti-join). Pairs come from a
    // user-keyed equi-join with the time predicate (the
    // join_pit_features class: per-user touch×purchase fan-out, never
    // cross-user).
    QuerySpec(
      "events_attribution_decay",
      (s, d) => {
        val ev = events(s, d)
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("channel"),
            unix_micros(col("ts")).as("t_us"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"),
            unix_micros(col("ts")).as("p_us"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
        val pairs = purch.join(touches, Seq("user_id"))
          .filter(col("t_us") < col("p_us") &&
            col("p_us") - col("t_us") <= lit(7L * 86400L * 1000000L))
          .withColumn("w", expr(
            "shiftleft(1L, cast(30 - (p_us - t_us) div 86400000000 as int))"))
        val wp = Window.partitionBy("user_id", "pid")
        val credited = pairs
          .withColumn("wtot", sum("w").over(wp))
          .select(col("channel"),
            expr("cents * w div wtot").as("credit_cents"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit_cents").as("credit_cents"))
        val direct = purch.join(
            pairs.select("pid").distinct(), Seq("pid"), "left_anti")
          .agg(count(lit(1)).as("n_touches"), sum("cents").as("credit_cents"))
          .select(lit("direct").as("channel"), col("n_touches"),
            coalesce(col("credit_cents"), lit(0L)).as("credit_cents"))
        credited.unionByName(direct)
      },
      Some("""
        WITH touches AS (
          SELECT user_id, event_type AS channel, epoch_us(ts) AS t_us
          FROM events WHERE event_type IN ('view', 'click')),
        purch AS (
          SELECT user_id, event_id AS pid, epoch_us(ts) AS p_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'),
        pairs AS (
          SELECT p.pid, p.user_id, p.cents, t.channel,
                 (1::BIGINT << CAST(30 - (p.p_us - t.t_us) // 86400000000
                               AS INTEGER)) AS w
          FROM purch p JOIN touches t ON t.user_id = p.user_id
          WHERE t.t_us < p.p_us
            AND p.p_us - t.t_us <= 604800000000::BIGINT)
        SELECT channel, n_touches, credit_cents FROM (
          SELECT channel,
                 COUNT(*) AS n_touches,
                 CAST(SUM(credit) AS BIGINT) AS credit_cents
          FROM (
            SELECT channel,
                   cents * w // SUM(w) OVER (PARTITION BY user_id, pid)
                     AS credit
            FROM pairs)
          GROUP BY 1
          UNION ALL
          SELECT 'direct', COUNT(*),
                 CAST(COALESCE(SUM(p.cents), 0) AS BIGINT)
          FROM purch p
          WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.pid = p.pid))""")),

    // ───── Daily value-percentile trend (r13): p50/p90 of event value
    // per day — the latency-SLO-style trend readout (is the
    // distribution's TAIL drifting, not just events_forecast's mean).
    // Positional quantiles come from the per-(day, cent) histogram —
    // windows partitioned BY DAY over cent-bounded frames (≤56k rows
    // per day at any corpus size, the ml_auc_rank argument); p50 is
    // the doubled med2 (exact at even counts), p90 the value at rank
    // ⌈0.9n⌉. Calendar-sized output.
    QuerySpec(
      "events_quantile_bands",
      (s, d) => {
        val h = events(s, d)
          .groupBy(to_date(col("ts")).as("day"),
            expr("cast(floor(value * 100) as bigint)").as("v"))
          .agg(count(lit(1)).as("n_i"))
        val w = Window.partitionBy("day").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("k", sum("n_i").over(w))
          .withColumn("n", sum("n_i").over(Window.partitionBy("day")))
          .groupBy("day")
          .agg(max("n").as("n"),
            (sum(expr(
              "case when k - n_i < (n+1) div 2 and (n+1) div 2 <= k then v else 0 end"))
              + sum(expr(
              "case when k - n_i < (n+2) div 2 and (n+2) div 2 <= k then v else 0 end")))
              .as("p50_cents_x2"),
            sum(expr(
              "case when k - n_i < (9*n+9) div 10 and (9*n+9) div 10 <= k then v else 0 end"))
              .as("p90_cents"))
      },
      Some("""
        WITH h AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(floor(value * 100) AS BIGINT) AS v, COUNT(*) AS n_i
          FROM events GROUP BY 1, 2),
        r AS (
          SELECT day, v, n_i,
                 SUM(n_i) OVER (PARTITION BY day ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
                 SUM(n_i) OVER (PARTITION BY day) AS n
          FROM h)
        SELECT day, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN k-n_i < (n+1)//2 AND (n+1)//2 <= k
                             THEN v ELSE 0 END)
                  + SUM(CASE WHEN k-n_i < (n+2)//2 AND (n+2)//2 <= k
                             THEN v ELSE 0 END) AS BIGINT) AS p50_cents_x2,
               CAST(SUM(CASE WHEN k-n_i < (9*n+9)//10 AND (9*n+9)//10 <= k
                             THEN v ELSE 0 END) AS BIGINT) AS p90_cents
        FROM r GROUP BY 1""")),

    // ───── Burst-rate screen (r13): the per-user peak minute-rate —
    // the rate-limit / bot screen complementing events_bot_regularity's
    // gap-variance signature (a scraper shows BOTH regular gaps AND
    // bursts; a human shows neither). Two hash-aggs (user × minute,
    // then per-user max/total) + one bounded histogram by the peak's
    // power-of-2 band (bit-length — libm-free, the graph_degree_hist
    // discipline); id checksums gate the exact user partition.
    QuerySpec(
      "events_burst_screen",
      (s, d) => events(s, d)
        .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(max("c").as("peak"), sum("c").as("total"),
          count(lit(1)).as("active_minutes"))
        .groupBy(length(expr("bin(peak)")).as("peak_band"))
        .agg(count(lit(1)).as("n_users"),
          sum("total").as("n_events"),
          sum("active_minutes").as("active_minutes"),
          sum("user_id").as("user_id_sum")),
      Some("""
        WITH perminute AS (
          SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        peruser AS (
          SELECT user_id, MAX(c) AS peak, SUM(c) AS total,
                 COUNT(*) AS active_minutes
          FROM perminute GROUP BY 1)
        SELECT CAST(length(bin(peak)) AS INTEGER) AS peak_band,
               COUNT(*) AS n_users,
               CAST(SUM(total) AS BIGINT) AS n_events,
               CAST(SUM(active_minutes) AS BIGINT) AS active_minutes,
               CAST(SUM(user_id) AS BIGINT) AS user_id_sum
        FROM peruser GROUP BY 1""")),

    // ───── Association lift (r13): basket_pairs' co-occurrence counts
    // upgraded to the MODEL a recommender actually ranks by — lift =
    // P(ab)/(P(a)·P(b)) and confidence = P(b|a), both exact ppm
    // rationals over order counts (n_ab·N·1e6 div (n_a·n_b) in
    // DECIMAL(38): n_ab·N·1e6 ≈ 1e28 at 1e9 orders — past int64,
    // inside 38 digits). Supports come from the SAME distinct
    // (order, part) frame — one extra hash-agg next to the pair join,
    // broadcast back onto pairs. min-support n_ab ≥ 2 declared (lift
    // on singletons is noise); top-20 under the (lift DESC, pair)
    // total order via TakeOrderedAndProject.
    QuerySpec(
      "basket_lift",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        val nOrders = li.select("l_orderkey").distinct()
          .agg(count(lit(1)).as("n_total"))
        val support = li.groupBy(col("l_partkey").as("p"))
          .agg(count(lit(1)).as("n_p"))
        val pairs = graft.analytics.GraphArtifacts.coPurchaseWeighted(s, d)
          .select(col("u").as("part_a"), col("v").as("part_b"),
            col("w").as("n_ab"))
          .filter(col("n_ab") >= 2)
        pairs
          .join(broadcast(support.select(col("p").as("part_a"), col("n_p").as("n_a"))), "part_a")
          .join(broadcast(support.select(col("p").as("part_b"), col("n_p").as("n_b"))), "part_b")
          .crossJoin(broadcast(nOrders))
          .select(col("part_a"), col("part_b"), col("n_ab"),
            expr("""cast(cast(n_ab as decimal(38,0)) * n_total * 1000000
                    div (cast(n_a as decimal(38,0)) * n_b) as bigint)""")
              .as("lift_ppm"),
            expr("n_ab * 1000000 div n_a").as("confidence_ppm"))
          .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_total FROM li),
        support AS (SELECT l_partkey AS p, COUNT(*) AS n_p FROM li GROUP BY 1),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 COUNT(*) AS n_ab
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT part_a, part_b, n_ab,
               CAST(CAST(n_ab AS HUGEINT) * n.n_total * 1000000
                    // (CAST(sa.n_p AS HUGEINT) * sb.n_p) AS BIGINT) AS lift_ppm,
               CAST(n_ab * 1000000 // sa.n_p AS BIGINT) AS confidence_ppm
        FROM pairs
        JOIN support sa ON sa.p = part_a
        JOIN support sb ON sb.p = part_b
        CROSS JOIN n
        ORDER BY lift_ppm DESC, part_a, part_b LIMIT 20""")),

    // ───── Day-over-day / week-over-week growth (r13): the dashboard
    // deltas every volume metric ships with — growth in exact ppm via
    // lag windows over the CALENDAR-bounded per-(type, day) aggregate
    // (the events_seasonality frame argument); ppm division truncates
    // toward zero identically in both engines for the negative-growth
    // days (the theil_sen sign discipline: numerator sign times the
    // positive-magnitude division).
    QuerySpec(
      "events_dod_growth",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("prev_d", lag("c", 1).over(w))
          .withColumn("prev_w", lag("c", 7).over(w))
          .select(col("event_type"), col("day"), col("c"),
            expr("""case when prev_d is null then null else
                (case when c >= prev_d then 1 else -1 end)
                * (abs(c - prev_d) * 1000000 div prev_d) end""").as("dod_ppm"),
            expr("""case when prev_w is null then null else
                (case when c >= prev_w then 1 else -1 end)
                * (abs(c - prev_w) * 1000000 div prev_w) end""").as("wow_ppm"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        lagged AS (
          SELECT event_type, day, c,
                 LAG(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_d,
                 LAG(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev_w
          FROM daily)
        SELECT event_type, day, c,
               CASE WHEN prev_d IS NULL THEN NULL ELSE
                 (CASE WHEN c >= prev_d THEN 1 ELSE -1 END)
                 * CAST(abs(c - prev_d) * 1000000 // prev_d AS BIGINT) END
                 AS dod_ppm,
               CASE WHEN prev_w IS NULL THEN NULL ELSE
                 (CASE WHEN c >= prev_w THEN 1 ELSE -1 END)
                 * CAST(abs(c - prev_w) * 1000000 // prev_w AS BIGINT) END
                 AS wow_ppm
        FROM lagged""")),

    // ───── New vs returning split (r13): each day's volume decomposed
    // by whether the user is FIRST-SEEN that day — the acquisition-vs-
    // retention read every growth dashboard leads with, and the daily
    // marginal of events_retention's cohort matrix. First-seen day is
    // one user-keyed hash-agg joined back on user (equi-join, shards
    // on user at any scale); everything after is calendar-sized.
    QuerySpec(
      "events_new_vs_returning",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val first = ev.groupBy("user_id").agg(min("day").as("first_day"))
        ev.join(first, "user_id")
          .groupBy("day")
          .agg(
            countDistinct(when(col("day") === col("first_day"), col("user_id")))
              .as("n_new_users"),
            sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
              .as("n_events_new"),
            sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
              .as("n_events_returning"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        fst AS (
          SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY 1)
        SELECT day,
               CAST(COUNT(DISTINCT CASE WHEN day = first_day
                                        THEN ev.user_id END) AS BIGINT)
                 AS n_new_users,
               CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events_new,
               CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events_returning
        FROM ev JOIN fst ON fst.user_id = ev.user_id
        GROUP BY 1""")),

    // ───── Peak-to-mean load factor (r13): per type, the ratio of the
    // busiest hour to the average hour in exact ppm — THE capacity-
    // provisioning number (a 3× load factor means 3× the mean capacity
    // just for the peak; events_seasonality shows WHEN, this shows HOW
    // MUCH). One hourly hash-agg then a per-type collapse — both
    // calendar-bounded; peak·n·1e6 div total is one nonnegative
    // truncating division.
    QuerySpec(
      "events_peak_to_mean",
      (s, d) => events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), sum("c").as("n_events"),
          max("c").as("peak_hour_events"))
        .select(col("event_type"), col("n_hours"), col("n_events"),
          col("peak_hour_events"),
          expr("peak_hour_events * n_hours * 1000000 div n_events")
            .as("load_factor_ppm")),
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
          FROM events GROUP BY 1, 2)
        SELECT event_type, COUNT(*) AS n_hours,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(MAX(c) AS BIGINT) AS peak_hour_events,
               CAST(MAX(c) * COUNT(*) * 1000000 // SUM(c) AS BIGINT)
                 AS load_factor_ppm
        FROM hourly GROUP BY 1""")),

    // ───── Repeat-purchase latency (r13): the distribution of time
    // from a user's FIRST purchase to their SECOND — the
    // repeat-conversion metric events_funnel (cross-type) and
    // events_retention (daily grain) both miss. First/second purchase
    // per user via one user-partitioned window (per-key frames);
    // median (doubled) + p90 of the gap ride RankedPrefix over the
    // per-value gap histogram (the events_interarrival discipline);
    // one-time purchasers are COUNTED (the conversion denominator)
    // but contribute no gap.
    QuerySpec(
      "events_repeat_latency",
      (s, d) => {
        val purch = events(s, d).filter(col("event_type") === "purchase")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val firstTwo = purch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_p"),
            max(when(col("rn") === 1, unix_micros(col("ts")))).as("t1"),
            max(when(col("rn") === 2, unix_micros(col("ts")))).as("t2"))
        val gaps = firstTwo.filter(col("n_p") === 2)
          .select((col("t2") - col("t1")).as("g"))
        val counts = firstTwo.agg(
          count(lit(1)).as("n_buyers"),
          sum(when(col("n_p") === 2, 1L).otherwise(0L)).as("n_repeat"))
        val q = graft.ops.RankedPrefix(s, d, "repeatLatencyHist",
            gaps.groupBy(col("g").as("v")).agg(count(lit(1)).as("n_i")),
            part = Nil, order = Seq(col("v")),
            rank = None, running = Seq(("k", col("n_i"))),
            totals = Seq(("n", col("n_i"))))
          .agg((sum(expr(
            "case when k - n_i < (n+1) div 2 and (n+1) div 2 <= k then v else 0 end"))
            + sum(expr(
            "case when k - n_i < (n+2) div 2 and (n+2) div 2 <= k then v else 0 end")))
            .as("med2_us"),
            sum(expr(
              "case when k - n_i < (9*n+9) div 10 and (9*n+9) div 10 <= k then v else 0 end"))
              .as("p90_us"))
        counts.crossJoin(q)
      },
      Some("""
        WITH purch AS (
          SELECT user_id, ts, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase'),
        firsttwo AS (
          SELECT user_id, COUNT(*) AS n_p,
                 MAX(CASE WHEN rn = 1 THEN epoch_us(ts) END) AS t1,
                 MAX(CASE WHEN rn = 2 THEN epoch_us(ts) END) AS t2
          FROM purch WHERE rn <= 2 GROUP BY 1),
        counts AS (
          SELECT COUNT(*) AS n_buyers,
                 CAST(SUM(CASE WHEN n_p = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeat
          FROM firsttwo),
        h AS (
          SELECT t2 - t1 AS v, COUNT(*) AS n_i
          FROM firsttwo WHERE n_p = 2 GROUP BY 1),
        r AS (
          SELECT v, n_i,
                 SUM(n_i) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
                 SUM(n_i) OVER () AS n
          FROM h),
        q AS (
          SELECT CAST(SUM(CASE WHEN k-n_i < (n+1)//2 AND (n+1)//2 <= k
                               THEN v ELSE 0 END)
                    + SUM(CASE WHEN k-n_i < (n+2)//2 AND (n+2)//2 <= k
                               THEN v ELSE 0 END) AS BIGINT) AS med2_us,
                 CAST(SUM(CASE WHEN k-n_i < (9*n+9)//10 AND (9*n+9)//10 <= k
                               THEN v ELSE 0 END) AS BIGINT) AS p90_us
          FROM r)
        SELECT c.n_buyers, c.n_repeat, q.med2_us, q.p90_us
        FROM counts c CROSS JOIN q""")),

    // ───── HyperBall / approximate neighborhood function (r16, VERDICT
    // r15 #4; Boldi, Rosa & Vigna, "HyperANF", WWW 2011): per node, an
    // HLL register sketch of the ≤h-hop BALL on the w≥2 co-purchase
    // graph — N(h) = Σ_n |B_h(n)| estimated in ONE edge-join +
    // register-max-merge per round, where exact per-node BFS from every
    // node would be |V| traversals. The sketch state is the
    // [[graft.functions.HllRegistersAgg]] algebra in SPARSE relational
    // form (node, idx, rho): round r is regs ∪ (edges ⋈ regs) →
    // groupBy(node, idx).max(rho) — max-merge is associative/
    // commutative/idempotent, so the whole trajectory is exact on the
    // registers and hash-identical cross-engine (both engines hash the
    // node id through the same md5-hex→60-bit literal; p=6, m=64,
    // rho = 55 − bitlength(h div 64), empty-rem → 55). Estimation is
    // libm-free: raw HLL (alpha_64·m²·2^55/S with S exact in BIGINT,
    // one pinned float division + floor) switches to LINEAR COUNTING
    // below the classic 2.5m threshold via a 64-entry LITERAL lookup
    // (floor(64·ln(64/V)+0.5) precomputed — V, the empty-register
    // count, has only 64 possible values, so the ln lives in constants
    // both engines read identically; this also makes hop 0 exactly
    // |V| — every singleton ball takes the V=63 entry = 1). Readouts:
    // per-hop N(h), its per-mille of N(4), and the effective diameter
    // (smallest h with N(h) ≥ 0.9·N(4)) — the HyperANF headline
    // statistic. Scale shape: per-round shuffle is |E|·(≤m) sparse
    // register rows — the honest HyperBall cost; at 100 TB the same
    // rounds run with registers packed into one binary column per node
    // (m× fewer shuffle rows) under the identical max-merge algebra;
    // rounds are diameter-bound, not size-bound. nf_pm goes through
    // DECIMAL(38,0)/HUGEINT (the h0_mean_milli overflow class).
    QuerySpec(
      "graph_anf",
      (s, d) => {
        val out = anfArtifacts(s, d)
          .groupBy("hop")
          .agg(count(lit(1)).as("n_nodes"), sum("est").as("nf_est"))
        val fin = out.filter(col("hop") === 4)
          .select(col("nf_est").as("nf_final"))
        val pm = out.crossJoin(broadcast(fin))
          .withColumn("nf_pm", expr(
            "cast(cast(nf_est as decimal(38,0)) * 1000 div nf_final as bigint)"))
        val effd = pm.filter(col("nf_pm") >= 900)
          .agg(min("hop").as("eff_diameter_hops"))
        pm.crossJoin(broadcast(effd))
          .select(col("hop"), col("n_nodes"), col("nf_est"), col("nf_pm"),
            col("eff_diameter_hops"))
      },
      Some {
        anfOracleCtes + s""",
        ${(0 to 4).map(r =>
          s"nf$r AS (SELECT $r AS hop, COUNT(*) AS n_nodes, " +
            s"CAST(SUM(est) AS BIGINT) AS nf_est FROM pn$r)")
          .mkString(", ")},
        allh AS (${(0 to 4).map(r => s"SELECT * FROM nf$r")
          .mkString(" UNION ALL ")}),
        fin AS (SELECT nf_est AS nf_final FROM allh WHERE hop = 4),
        pm AS (
          SELECT hop, n_nodes, nf_est,
                 CAST(CAST(nf_est AS HUGEINT) * 1000 // nf_final AS BIGINT)
                   AS nf_pm
          FROM allh, fin),
        effd AS (SELECT MIN(hop) AS eff_diameter_hops FROM pm WHERE nf_pm >= 900)
        SELECT hop, n_nodes, nf_est, nf_pm, eff_diameter_hops FROM pm, effd"""
      }),

    // ───── Per-node effective-radius distribution (r16): HyperBall's
    // SECOND readout — graph_anf aggregates N(h) globally; here each
    // node reads its own trajectory: effective radius = the smallest h
    // whose ball already holds ≥90% of the node's 4-hop ball (est_h·10
    // ≥ 9·est_4 in DECIMAL(38)/HUGEINT — est can reach ~1.6e18, so ×10
    // would overflow int64). The radius histogram separates CORE nodes
    // (radius 1-2: most of their reachable set is immediate) from
    // PERIPHERAL ones — the centrality-for-free readout HyperBall was
    // built for (Boldi–Vigna §4). Rides the session-memoized register
    // trajectory (anfArtifacts — the sccArtifacts family pattern, build
    // cost in the bench artifacts block); the marginal cost is one
    // join + two bounded hash-aggs over the 5·|V| per-node frame.
    QuerySpec(
      "graph_hyperball_radii",
      (s, d) => {
        val per = anfArtifacts(s, d)
        val fin = per.filter(col("hop") === 4)
          .select(col("n"), col("est").as("est4"))
        per.join(fin, "n")
          .filter(expr("cast(est as decimal(38,0)) * 10 >= cast(est4 as decimal(38,0)) * 9"))
          .groupBy("n").agg(min("hop").as("radius"), max("est4").as("ball4"))
          .groupBy("radius")
          .agg(count(lit(1)).as("n_nodes"), sum("ball4").as("sum_ball4"))
      },
      Some {
        anfOracleCtes + s""",
        pall AS (${(0 to 4).map(r =>
          s"SELECT $r AS hop, n, est FROM pn$r").mkString(" UNION ALL ")}),
        fin AS (SELECT n, est AS est4 FROM pn4),
        radii AS (
          SELECT p.n, MIN(p.hop) AS radius, MAX(f.est4) AS ball4
          FROM pall p JOIN fin f ON f.n = p.n
          WHERE CAST(p.est AS HUGEINT) * 10 >= CAST(f.est4 AS HUGEINT) * 9
          GROUP BY 1)
        SELECT radius, COUNT(*) AS n_nodes,
               CAST(SUM(ball4) AS BIGINT) AS sum_ball4
        FROM radii GROUP BY 1"""
      }),

    // ───── Weight-threshold percolation curve (r16): how does the
    // co-purchase graph FRAGMENT as weak ties are removed — per
    // threshold t ∈ {1, 2, 3, 5}, keep edges with shared-order count
    // ≥ t and report actives/edges/components/giant-component size
    // (bond percolation's robustness readout: the giant component's
    // collapse point is where "the network" stops existing — the
    // validation every tie-strength cutoff needs before a production
    // graph pipeline picks its w filter). %30-subsampled nodes (the
    // graph_scc oracle-feasibility discipline); per threshold one
    // [[DedupQueries.connectedComponents]] min-label fixpoint over the
    // surviving edges — thresholds are declared constants, so the
    // sweep is 4 bounded CC runs, not a data-driven loop. The oracle
    // replays each threshold's labels with the recursive min-label
    // closure.
    QuerySpec(
      "graph_percolation",
      (s, d) => {
        // shared %30 co-purchase root (r17) — see graph_mst
        val e = graft.analytics.GraphArtifacts.sub30CoPurchaseWeighted(s, d)
        // the 4 thresholds are INDEPENDENT min-label fixpoints, each
        // driver-blocking on its per-round convergence count over tiny
        // frames — overlapped from a small thread pool (guide §2.6:
        // actions are only sequential because the driver calls them
        // sequentially), the sweep's wall is max instead of sum; every
        // loop reads only the shared checkpointed edge frame, and the
        // per-threshold results are byte-identical to the sequential run
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val futs = Seq(1L, 2L, 3L, 5L).map { t =>
            scala.concurrent.Future {
              val et = e.filter(col("w") >= t)
              val labs = graft.analytics.DedupQueries.connectedComponents(
                et.select(col("u").as("doc_a"), col("v").as("doc_b")))
              val comps = labs.groupBy("label").agg(count(lit(1)).as("sz"))
              et.agg(count(lit(1)).as("n_edges"))
                .crossJoin(comps.agg(
                  coalesce(sum("sz"), lit(0L)).as("n_active"),
                  count(lit(1)).as("n_components"),
                  coalesce(max("sz"), lit(0L)).as("giant_size")))
                .select(lit(t).as("thr"), col("n_active"), col("n_edges"),
                  col("n_components"), col("giant_size"))
            }(ec)
          }
          futs.map(f => scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)).reduce(_ unionByName _)
        } finally pool.shutdown()
      },
      Some {
        val sb = new StringBuilder("""
        WITH RECURSIVE li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_partkey % 30 = 0),
        e AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2)""")
        for (t <- Seq(1, 2, 3, 5)) sb.append(s""",
        et$t AS MATERIALIZED (SELECT u, v FROM e WHERE w >= $t),
        bi$t AS MATERIALIZED (
          SELECT u AS a, v AS b FROM et$t
          UNION ALL SELECT v AS a, u AS b FROM et$t),
        reach$t(c, lab) AS (
          SELECT a AS c, a AS lab FROM (SELECT DISTINCT a FROM bi$t)
          UNION
          SELECT g.a, rr.lab FROM reach$t rr JOIN bi$t g ON g.b = rr.c),
        lab$t AS MATERIALIZED (
          SELECT c, MIN(lab) AS lab FROM reach$t GROUP BY 1),
        comp$t AS (
          SELECT lab, COUNT(*) AS sz FROM lab$t GROUP BY 1),
        row$t AS (
          SELECT CAST($t AS BIGINT) AS thr,
                 (SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) FROM comp$t)
                   AS n_active,
                 (SELECT COUNT(*) FROM et$t) AS n_edges,
                 (SELECT COUNT(*) FROM comp$t) AS n_components,
                 (SELECT CAST(COALESCE(MAX(sz), 0) AS BIGINT) FROM comp$t)
                   AS giant_size)""")
        sb.append(s"""
        ${Seq(1, 2, 3, 5).map(t => s"SELECT * FROM row$t")
          .mkString(" UNION ALL ")}""")
        sb.toString
      }),

    // ───── Rich-club coefficient (r16): do the HUBS of the co-purchase
    // graph preferentially connect to each other — φ(k) = E_{>k} /
    // C(N_{>k}, 2), the density among nodes of degree > k (Colizza et
    // al. 2006; the flat-vs-elite structure readout). For each declared
    // k ∈ {2, 4, 8, 16}: one degree hash-agg, one broadcast-filtered
    // edge count among qualifying endpoints, exact ppm. The degree
    // frame is checkpointed once and reused across the 4 thresholds —
    // never a per-k rescan of the pair join.
    QuerySpec(
      "graph_rich_club",
      (s, d) => {
        val e = graft.analytics.GraphArtifacts.undFiltered(s, d)
        val deg = e.groupBy(col("u").as("n"))
          .agg(count(lit(1)).as("deg")).localCheckpoint(true)
        val single = e.filter(col("u") < col("v")).localCheckpoint(true)
        Seq(2L, 4L, 8L, 16L).map { k =>
          val club = deg.filter(col("deg") > k)
          val nk = club.agg(count(lit(1)).as("n_club"))
          val ek = single
            .join(club.select(col("n").as("u")), "u")
            .join(club.select(col("n").as("v")), "v")
            .agg(count(lit(1)).as("e_club"))
          nk.crossJoin(ek).select(lit(k).as("k"), col("n_club"), col("e_club"),
            expr("""case when n_club >= 2
                    then e_club * 2000000 div (n_club * (n_club - 1))
                    else 0 end""").as("phi_ppm"))
        }.reduce(_ unionByName _)
      },
      Some {
        val one = (k: Int) => s"""
        SELECT CAST($k AS BIGINT) AS k,
               (SELECT COUNT(*) FROM deg WHERE deg > $k) AS n_club,
               (SELECT COUNT(*) FROM single e
                JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v
                WHERE a.deg > $k AND b.deg > $k) AS e_club,
               CAST(CASE WHEN (SELECT COUNT(*) FROM deg WHERE deg > $k) >= 2
                    THEN (SELECT COUNT(*) FROM single e
                          JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v
                          WHERE a.deg > $k AND b.deg > $k) * 2000000
                         // ((SELECT COUNT(*) FROM deg WHERE deg > $k)
                            * ((SELECT COUNT(*) FROM deg WHERE deg > $k) - 1))
                    ELSE 0 END AS BIGINT) AS phi_ppm"""
        s"""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        deg AS MATERIALIZED (
          SELECT u AS n, COUNT(*) AS deg FROM und GROUP BY 1),
        single AS MATERIALIZED (SELECT u, v FROM und WHERE u < v)
        ${Seq(2, 4, 8, 16).map(one).mkString("\n        UNION ALL")}"""
      }),

    // ───── 4-cycle (quadrangle) census (r16): the bipartite-ish motif
    // the triangle family cannot see — co-purchase graphs grown from
    // baskets are locally bipartite (part↔part links via shared
    // orders), so SQUARES, not triangles, carry much of their motif
    // mass (quadrangle counting is the standard "triangle-free doesn't
    // mean structureless" census). Exact identity: C4 = ½·Σ_{a<b}
    // C(codeg(a,b), 2) over UNORDERED pairs — every 4-cycle has exactly
    // two opposite pairs, each contributing one {wedge-center} choice
    // pair. codeg comes from ONE wedge self-join on the shared center +
    // one (a, b) hash-agg — the Σ deg² wedge volume, the same honest
    // cost class as the triangle engine (no 4-path enumeration, which
    // would be Σ deg³). All exact integers; the //2 is exact by the
    // two-opposite-pairs theorem (an odd sum would be a bug).
    QuerySpec(
      "graph_quadrangles",
      (s, d) => {
        val e = graft.analytics.GraphArtifacts.undFiltered(s, d)
        val wedge = e.as("e1").join(e.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
          .groupBy(col("e1.v").as("a"), col("e2.v").as("b"))
          .agg(count(lit(1)).as("cnt"))
        wedge.agg(
          count(lit(1)).as("n_pairs_common"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_pairs_2plus"),
          max("cnt").as("max_common"),
          sum(expr("cnt * (cnt - 1) div 2")).as("opp_choices"))
          .select(col("n_pairs_common"), col("n_pairs_2plus"),
            col("max_common"),
            expr("opp_choices div 2").as("c4_count"))
      },
      Some("""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS MATERIALIZED (
          SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        wedge AS (
          SELECT e1.v AS a, e2.v AS b, COUNT(*) AS cnt
          FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
          GROUP BY 1, 2)
        SELECT COUNT(*) AS n_pairs_common,
               CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pairs_2plus,
               CAST(MAX(cnt) AS BIGINT) AS max_common,
               CAST(SUM(cnt * (cnt - 1) // 2) // 2 AS BIGINT) AS c4_count
        FROM wedge""")),

    // ───── Minimum spanning forest via distributed Borůvka (r16): the
    // classic parallel MST — per round, EVERY component picks its
    // minimum outgoing edge simultaneously (one equi-join + one
    // per-component min over the struct order (w, u, v) — the STRICT
    // total tie-break that makes chosen edges provably acyclic even
    // with equal weights), chosen edges merge components, repeat.
    // Merging is TRUE connected components of the ≤|components|-edge
    // chosen graph per round ([[DedupQueries.connectedComponents]]'s
    // min-label fixpoint — a partial merge could re-admit intra-tree
    // edges and cycle the forest, so completeness per round is a
    // CORRECTNESS requirement, not a convergence nicety). 6 unrolled
    // rounds ≥ 64× component reduction (Borůvka halves per round at
    // worst); `resid_mergeable` counts components still owning outgoing
    // edges — 0 = the spanning forest is complete, reported honestly
    // otherwise. Graph: the %30-subsampled co-purchase graph (the
    // graph_scc oracle-feasibility discipline) with inverse-affinity
    // weights (1e6 div shared-order count — undWeighted's semantics).
    // The oracle replays the SAME rounds: per-round min via ROW_NUMBER
    // under the identical order, merges via a recursive min-label
    // closure per round (set-semantics UNION — the sql_recursive_chain
    // UnionLoop machinery). Scale shape: per-round cost is one |E|
    // equi-join + hash-aggs; the chosen graph is components-sized;
    // rounds are log-bound. Output: every forest edge + the summary
    // (nodes, final components, edges, total weight, residual).
    QuerySpec(
      "graph_mst",
      (s, d) => {
        // shared %30 co-purchase root (r17): the same self-join
        // graph_percolation iterates on — built once per session
        // (GraphArtifacts.sub30CoPurchaseWeighted), weights derived as a
        // projection of the cached frame
        val e = graft.analytics.GraphArtifacts.sub30CoPurchaseWeighted(s, d)
          .select(col("u"), col("v"), expr("1000000 div w").as("w"))
        val (forest, comp) =
          graft.analytics.GraphOps.minimumSpanningForest(e, rounds = 6)
        val crossFin = e
          .join(comp.select(col("n").as("u"), col("c").as("cu")), "u")
          .join(comp.select(col("n").as("v"), col("c").as("cv")), "v")
          .filter(col("cu") =!= col("cv"))
        val summary = comp.agg(count(lit(1)).as("n_nodes"),
            countDistinct("c").as("n_components"))
          .crossJoin(forest.agg(count(lit(1)).as("n_mst_edges"),
            sum("w").as("total_w")))
          .crossJoin(crossFin
            .select(col("cu").as("c"))
            .unionAll(crossFin.select(col("cv").as("c")))
            .agg(countDistinct("c").as("resid_mergeable")))
        forest.crossJoin(broadcast(summary))
      },
      Some {
        val sb = new StringBuilder("""
        WITH RECURSIVE li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_partkey % 30 = 0),
        e AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v,
                 1000000 // COUNT(*) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        c0 AS MATERIALIZED (
          SELECT n, n AS c FROM
            (SELECT u AS n FROM e UNION SELECT v FROM e))""")
        for (r <- 1 to 6) sb.append(s""",
        cross$r AS MATERIALIZED (
          SELECT e.u, e.v, e.w, a.c AS cu, b.c AS cv
          FROM e JOIN c${r - 1} a ON a.n = e.u
                 JOIN c${r - 1} b ON b.n = e.v
          WHERE a.c <> b.c),
        cand$r AS MATERIALIZED (
          SELECT c, u, v, w, cother FROM (
            SELECT cu AS c, u, v, w, cv AS cother,
                   ROW_NUMBER() OVER (PARTITION BY cu ORDER BY w, u, v)
                     AS rk
            FROM (SELECT u, v, w, cu, cv FROM cross$r
                  UNION ALL
                  SELECT u, v, w, cv AS cu, cu AS cv FROM cross$r))
          WHERE rk = 1),
        gboth$r AS MATERIALIZED (
          SELECT DISTINCT LEAST(c, cother) AS a, GREATEST(c, cother) AS b
          FROM cand$r),
        gbi$r AS MATERIALIZED (
          SELECT a, b FROM gboth$r UNION ALL SELECT b, a FROM gboth$r),
        reach$r(c, lab) AS (
          SELECT a AS c, a AS lab FROM
            (SELECT a FROM gbi$r UNION SELECT b FROM gbi$r)
          UNION
          SELECT g.a, rr.lab
          FROM reach$r rr JOIN gbi$r g ON g.b = rr.c),
        newlab$r AS MATERIALIZED (
          SELECT c, MIN(lab) AS lab FROM reach$r GROUP BY 1),
        c$r AS MATERIALIZED (
          SELECT p.n, COALESCE(nl.lab, p.c) AS c
          FROM c${r - 1} p LEFT JOIN newlab$r nl ON nl.c = p.c)""")
        sb.append(s""",
        allmst AS MATERIALIZED (
          SELECT DISTINCT u, v, w FROM (${(1 to 6)
            .map(r => s"SELECT DISTINCT u, v, w FROM cand$r")
            .mkString(" UNION ALL ")})),
        crossfin AS (
          SELECT a.c AS cu, b.c AS cv
          FROM e JOIN c6 a ON a.n = e.u JOIN c6 b ON b.n = e.v
          WHERE a.c <> b.c),
        summary AS (
          SELECT (SELECT COUNT(*) FROM c6) AS n_nodes,
                 (SELECT COUNT(DISTINCT c) FROM c6) AS n_components,
                 (SELECT COUNT(*) FROM allmst) AS n_mst_edges,
                 (SELECT CAST(SUM(w) AS BIGINT) FROM allmst) AS total_w,
                 (SELECT COUNT(DISTINCT c) FROM
                    (SELECT cu AS c FROM crossfin
                     UNION ALL SELECT cv FROM crossfin))
                   AS resid_mergeable)
        SELECT m.u, m.v, m.w, s.n_nodes, s.n_components, s.n_mst_edges,
               s.total_w, s.resid_mergeable
        FROM allmst m, summary s""")
        sb.toString
      })
  )
}
