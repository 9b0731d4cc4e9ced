package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives shared by the graph_* queries and their
  * planted-structure specs.
  *
  * Reference anchor: the reference computes nothing graph-shaped (its
  * 190 Python lines forward opaque CDC items); this file exists for the
  * north-star analytics surface.
  */
object GraphOps {

  /** Deterministic SYNCHRONOUS label propagation over an undirected
    * edge list (u, v): every node starts with label = its own id; each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label (cnt DESC, label ASC
    * under row_number — a total order, so rounds are replayable SQL).
    * `rounds` is FIXED (no fixpoint probe): synchronous LPA can
    * oscillate on bipartite structure, and a data-dependent stop would
    * make the oracle non-replayable — the unrolled-iterations
    * discipline used by BPE/Lloyd/perceptron training.
    *
    * Scale shape: each round is one equi-join of the both-direction
    * edge list with the label table + one (node, label) hash-agg + one
    * node-partitioned window — per-round O(|edges|), shards on node
    * keys at any scale; nothing is driver-side and round count is a
    * constant. Isolated nodes never appear (they have no edges and LPA
    * over an edge list cannot move them off their own label anyway).
    *
    * Returns (n, label).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagationBoth(
      edges.select(col("u").as("a"), col("v").as("b"))
        .unionAll(edges.select(col("v").as("a"), col("u").as("b"))),
      rounds)

  /** HyperBall register propagation (the graph_anf core; Boldi, Rosa &
    * Vigna, "HyperANF", WWW 2011): per node, an HLL sketch (p=6, m=64)
    * of the ≤h-hop ball, in SPARSE relational form (n, idx, rho) —
    * round r is regs ∪ (e ⋈ regs) → groupBy(n, idx).max(rho). Max-merge
    * is associative/commutative/idempotent, so the register trajectory
    * is EXACT (hash-identical on any engine seeding the same
    * md5-hex→60-bit node hash). Estimation is libm-free: raw HLL
    * (α₆₄·m²·2⁵⁵/S with S exact in BIGINT, one correctly-rounded double
    * division + floor) switching to linear counting under the classic
    * 2.5m threshold via a 64-entry literal lookup (V, the
    * empty-register count, has only 64 possible values, so the ln lives
    * in precomputed integer constants; hop 0 is exactly 1 per node).
    *
    * `e` must carry BOTH directions (u, v). Returns one row per
    * (hop, n) with the ball-size estimate `est`, hop ∈ [0, hops].
    *
    * The registers are carried PACKED — one 64-element array column
    * per node, max-merged by [[graft.functions.RegisterMaxAgg]] — so
    * each round's shuffle is one row per (node, neighbor) edge instead
    * of m sparse (node, idx, rho) rows: the m× row cut that keeps
    * 4 rounds over 10^11 edges shuffle-bound, not row-overhead-bound.
    * The register VALUES are identical to the sparse formulation the
    * DuckDB oracle replays (rho ≥ 1 for any present slot, so 0 ≡
    * empty is unambiguous); the algebra (elementwise max) is exact.
    * Per-round cost: one |E| equi-join + one per-node max-merge
    * hash-agg; rounds are diameter-bound. Each round is
    * localCheckpointed — the register frame feeds both the next
    * expansion and its hop's estimate, the dual-consumption class.
    */
  def anfPerNode(e: DataFrame, hops: Int): DataFrame = {
    // floor(64·ln(64/V) + 0.5) for V = 1..64 (index = V)
    val lcTable = "266,222,196,177,163,151,142,133,126,119,113,107," +
      "102,97,93,89,85,81,78,74,71,68,65,63,60,58,55,53,51,48,46,44," +
      "42,40,39,37,35,33,32,30,28,27,25,24,23,21,20,18,17,16,15,13," +
      "12,11,10,9,7,6,5,4,3,2,1,0"
    val regMax = udaf(new graft.functions.RegisterMaxAgg(64),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    var cur = e.select(col("u").as("n")).distinct()
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(n as string)), 1, 15), 16, 10) as long)"))
      .select(col("n"), expr(
        """transform(sequence(0, 63), i ->
             case when cast(i as bigint) = h % 64
                  then cast(case when h div 64 = 0 then 55
                            else 55 - length(bin(h div 64)) end as bigint)
                  else 0L end)""").as("regs"))
      .localCheckpoint(false)
    def est(frame: DataFrame, hop: Int): DataFrame =
      frame.select(col("n"),
          expr("""aggregate(regs, 0L, (acc, r) ->
                    acc + shiftleft(1L, 55 - cast(r as int)))""").as("s_sum"),
          expr("cast(size(filter(regs, r -> r = 0)) as bigint)").as("v_cnt"))
        .withColumn("raw", expr(
          "cast(floor(1.04629932386080576765952e20 " +
            "/ cast(s_sum as double)) as bigint)"))
        .select(lit(hop).as("hop"), col("n"), expr(
          s"""case when v_cnt > 0 and raw <= 160
              then cast(element_at(array($lcTable), cast(v_cnt as int)) as bigint)
              else raw end""").as("est"))
    var out = est(cur, 0)
    for (hop <- 1 to hops) {
      // LAZY checkpoints (r17): fixed hops, no probe — the consumer's one
      // action materializes the cascade; the dual consumers (next round's
      // expansion + this hop's estimate) read the once-computed cached RDD
      cur = cur.unionAll(
          e.join(cur, e("v") === cur("n"))
            .select(e("u").as("n"), cur("regs")))
        .groupBy("n").agg(regMax(col("regs")).as("regs"))
        .localCheckpoint(false)
      out = out.unionAll(est(cur, hop))
    }
    out
  }

  /** Distributed Borůvka minimum spanning forest (the graph_mst core,
    * r16). `e` is a single-direction weighted edge list (u, v, w) with
    * u < v. Per round every component picks its minimum outgoing edge
    * under the STRICT struct order (w, u, v) — the total tie-break that
    * keeps the chosen set acyclic even with equal weights — and merging
    * is TRUE connected components of the chosen graph (a partial merge
    * could re-admit intra-tree edges and cycle the forest, so per-round
    * completeness is a correctness requirement). `rounds` is fixed
    * (≥ 2^rounds× component reduction — Borůvka at least halves);
    * callers report the residual honestly.
    *
    * Returns (forest edges (u, v, w), final component labels (n, c)).
    * Per-round cost: one |E| equi-join + per-component min hash-agg +
    * a components-sized CC fixpoint; every frame that feeds two
    * consumers is localCheckpointed.
    */
  /** Weakly-connected components of a Borůvka CHOSEN graph (r17). Input
    * is one round's cand frame projected to (c, cother): every active
    * component has EXACTLY ONE out-pointer (its min cross edge), so the
    * chosen graph is a functional pseudo-forest whose only cycles are
    * 2-cycles — along any pointer cycle the chosen edges are
    * non-increasing under the strict (w, u, v) total order, so a cycle
    * forces one shared edge, i.e. length 2. Components therefore resolve
    * by 2-cycle breaking (root = the pair minimum) + pointer DOUBLING:
    * ⌈log₂ depth⌉ self-joins, each ONE exchange — where a general CC
    * (min-label or large-star/small-star) pays 3-5 exchanges per round
    * over the same frame (profiled: the LSSS merge was 122 of
    * graph_mst's 185 jobs). Returns (c, root); root is canonical per
    * component (the 2-cycle minimum), NOT the component min id — callers
    * needing min-id labels canonicalize once at the end.
    */
  private[graft] def pointerComponents(cand: DataFrame): DataFrame = {
    val par0 = cand.select(col("c"), col("cother").as("p"))
    val look0 = par0.select(col("c").as("p"), col("p").as("pp"))
    var p = par0.join(look0, "p")
      .select(col("c"),
        when(col("pp") === col("c"), least(col("c"), col("p")))
          .otherwise(col("p")).as("p"))
      .localCheckpoint(false)
    var changed = 1L
    var guard = 0
    while (changed > 0) {
      guard += 1
      require(guard <= 64, "pointer doubling did not converge (impossible for <2^64 nodes)")
      val next = p.join(p.select(col("c").as("p"), col("p").as("np")), "p")
        .select(col("c"), col("p"), col("np"))
        .localCheckpoint(false)
      // one action per round: the convergence probe materializes the jump
      changed = next.filter(col("np") =!= col("p")).count()
      p = next.select(col("c"), col("np").as("p")) // flat projection of the checkpointed frame
    }
    p.select(col("c"), col("p").as("root"))
  }

  def minimumSpanningForest(e: DataFrame, rounds: Int = 6)
      : (DataFrame, DataFrame) = {
    // counted checkpoint (r17): the node count is the loop-invariant
    // honest stats figure for every later comp rewrap — the r15
    // localCheckpointWithStats lesson applied here (plain per-round
    // localCheckpoint compounds join-size estimates geometrically)
    var (comp, nNodes) = ckptCounted(e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n"))).distinct()
      .select(col("n"), col("n").as("c")))
    var mst: DataFrame = null
    var round = 0
    var done = false
    val sc = e.sparkSession.sparkContext
    while (round < rounds && !done) {
      round += 1
      sc.setJobDescription(s"mst: round $round min-edge")
      val cross = e
        .join(comp.select(col("n").as("u"), col("c").as("cu")), "u")
        .join(comp.select(col("n").as("v"), col("c").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
      val bi = cross.select(col("u"), col("v"), col("w"),
          col("cu").as("c"), col("cv").as("cother"))
        .unionAll(cross.select(col("u"), col("v"), col("w"),
          col("cv").as("c"), col("cu").as("cother")))
      // LAZY checkpoint + count in ONE action (r17): the eager
      // checkpoint + separate isEmpty probe paid two jobs per round for
      // one materialization — the count doubles as the early-exit probe
      // and as cand's honest stats
      val cand0 = bi
        .groupBy("c")
        .agg(min(struct(col("w"), col("u"), col("v"), col("cother")))
          .as("m"))
        .select(col("c"), col("m.w").as("w"), col("m.u").as("u"),
          col("m.v").as("v"), col("m.cother").as("cother"))
        .localCheckpoint(false) // feeds the forest set AND the merge
      val nCand = cand0.count()
      val cand = org.apache.spark.sql.GraftSqlBridge
        .rewrapWithStats(cand0, nCand)
      // early exit once no cross-component edge remains: the remaining
      // rounds are provable no-ops (empty cand → empty chosen, comp
      // unchanged), so the RESULT is identical to running all `rounds`
      // — this only skips their round-trip latency (oracle-neutral; the
      // unrolled oracle replays the no-op rounds as empty CTEs)
      if (nCand == 0) done = true
      else {
        val chosen = cand.select("u", "v", "w").distinct()
        mst = if (mst == null) chosen else mst.unionAll(chosen)
        // LSSS, not min-label (r17): Borůvka's chosen graphs are the
        // adversarial regime for min-label propagation — each tree is a
        // chain of merged components, so min-label needs O(depth) rounds
        // (profiled: the nested CC loops were ~2/3 of graph_mst's 198
        // jobs); large-star/small-star converges in O(log n) rounds with
        // ONE action per round. Labels are the component minimum in both
        // implementations, so the merge trajectory — and therefore every
        // later round's cand set — is unchanged.
        sc.setJobDescription(s"mst: round $round merge")
        // pointer-doubling over the chosen pseudo-forest (see
        // [[pointerComponents]]): the same partition a full CC computes,
        // at one exchange per doubling round. Intermediate labels are
        // pointer roots, not component minima — every consumer of the
        // intermediate labels (per-component min-edge grouping, cross
        // filters, merge edges) depends only on the PARTITION, and the
        // returned labels are canonicalized to min ids below.
        val newlab = pointerComponents(cand.select(col("c"), col("cother")))
        sc.setJobDescription(s"mst: round $round relabel")
        comp = ckpt(comp.join(
            newlab.select(col("c"), col("root").as("label")),
            Seq("c"), "left")
          .select(col("n"), coalesce(col("label"), col("c")).as("c")),
          nNodes)
      }
    }
    // canonicalize to min-member-id labels ONCE (two exchanges at the
    // end instead of a min-label fixpoint per round): with min-label
    // merging each component's label was inductively its minimum node
    // id; min-per-root + remap reproduces exactly that
    sc.setJobDescription("mst: canonicalize labels")
    comp = ckpt(comp
      .join(comp.groupBy("c").agg(min("n").as("cmin")), "c")
      .select(col("n"), col("cmin").as("c")), nNodes)
    sc.setJobDescription(null)
    val forest =
      if (mst == null) e.select("u", "v", "w").limit(0).localCheckpoint(true)
      else mst.localCheckpoint(true)
    (forest, comp)
  }

  /** Multi-source bounded BFS (r12): exact hop distances from every
    * seed simultaneously — state keyed (seed, n), each round ONE edge
    * equi-join + distinct + anti-join against the visited set for ALL
    * seeds together (the landmark-distance amortization; sequential
    * per-seed BFS pays |seeds|× the rounds). `und` is the
    * both-direction edge list (u, v); returns (seed, n, hop) with
    * hop ∈ [0, rounds], seeds included at hop 0. Each round is
    * localCheckpointed: the frontier feeds both the next expansion and
    * the visited union, and an unmaterialized plan would re-derive the
    * whole prefix per round.
    */
  def multiSourceBfs(und: DataFrame, seeds: Seq[Long],
                     rounds: Int): DataFrame = {
    val s = und.sparkSession
    var visited = s.createDataFrame(seeds.map(x => (x, x, 0)))
      .toDF("seed", "n", "hop").localCheckpoint(true)
    var frontier = visited.select("seed", "n")
    for (r <- 1 to rounds) {
      // LAZY checkpoints (r17): the loop runs NO action of its own (fixed
      // rounds, no convergence probe), so eager per-round checkpoints
      // paid 2 driver job round-trips per hop purely to materialize.
      // Lazy checkpoints still truncate lineage per hop (each round's
      // plan is flat over the previous round's RDD) and the consumer's
      // single action materializes the whole cascade — ~1 job instead of
      // 2·rounds; the dual consumers (next expansion + visited union)
      // read the once-computed cached RDD. `visited` needs no checkpoint
      // at all: it is a flat union of checkpointed frontiers.
      frontier = und.join(frontier.withColumnRenamed("n", "u"), "u")
        .select(col("seed"), col("v").as("n")).distinct()
        .join(visited.select("seed", "n"), Seq("seed", "n"), "left_anti")
        .localCheckpoint(false)
      visited = visited
        .unionAll(frontier.select(col("seed"), col("n"), lit(r).as("hop")))
    }
    visited
  }

  /** Weighted single-source shortest paths (r13, VERDICT r12 #5):
    * Bellman-Ford rounds over a both-direction weighted edge list
    * (u, v, w) with non-negative INTEGER weights — each round relaxes
    * every edge at once as one equi-join + one min-agg (the
    * LSSS/k-core discipline: per-round O(|edges|), shards on node
    * keys, nothing driver-side but the convergence boolean). Distances
    * are exact for all shortest paths of ≤ `maxRounds` edges — the
    * bounded-hop semantics consumers declare, like multiSourceBfs's
    * hop horizon. MONOTONE EARLY-EXIT: distances only ever decrease,
    * so a round that improves nothing proves the global fixpoint and
    * later rounds are no-ops — the runner stops, while an oracle that
    * unrolls the full bound gets identical rows by the same
    * monotonicity (replayability without a data-dependent result).
    * Rounds localCheckpoint: the dist table feeds both the next
    * relaxation and the convergence probe.
    *
    * Returns (dist table (n, dist) — reached nodes only, source at 0 —
    * and the number of relaxation rounds actually run).
    */
  def ssspWeighted(und: DataFrame, source: Long, maxRounds: Int)
      : (DataFrame, Int) = {
    val s = und.sparkSession
    var dist = s.createDataFrame(Seq((source, 0L))).toDF("n", "dist")
      .localCheckpoint(true)
    var r = 0
    var converged = false
    // Fused convergence probe (r17): distances are MONOTONE — the node
    // set only grows and each dist only decreases — so round r changed
    // nothing ⟺ (count, Σdist) both match round r−1 (equal count ⇒ same
    // node set; then equal exact sum ⇒ no per-node decrease). One
    // count+checksum action per round (which also materializes the lazy
    // checkpoint) replaces the eager checkpoint job + compare-join job.
    // Σ is exact in DECIMAL(38) at any scale; same-result guarantee as
    // the old probe by the same monotonicity the scaladoc argues.
    var prevCnt = -1L
    var prevSum = java.math.BigDecimal.ZERO
    while (r < maxRounds && !converged) {
      r += 1
      val relaxed = und
        .join(dist.withColumnRenamed("n", "u"), "u")
        .select(col("v").as("n"), (col("dist") + col("w")).as("dist"))
        .unionAll(dist)
        .groupBy("n").agg(min("dist").as("dist"))
        .localCheckpoint(false)
      val st = relaxed
        .agg(count(lit(1)), sum(col("dist").cast("decimal(38,0)"))).collect()(0)
      val (cnt, sm) = (st.getLong(0),
        if (st.isNullAt(1)) java.math.BigDecimal.ZERO
        else st.getDecimal(1))
      converged = cnt == prevCnt && sm.compareTo(prevSum) == 0
      prevCnt = cnt; prevSum = sm
      dist = relaxed
    }
    (dist, r)
  }

  /** [[labelPropagation]] over a pre-built both-direction edge list
    * (a, b). Callers that iterate on a large graph should pass a frame
    * CACHED pre-partitioned on `b` (`repartition(col("b")).persist`):
    * the per-round join then reuses the big side's partitioning and
    * only the label table (node-sized) shuffles each round.
    *
    * The lineage stays lazy: the final action runs one job whose DAG
    * holds every round's shuffle. Checkpointing each round's label
    * table instead measured value-identical and ~25% faster at x16
    * (BASELINE.md, "LPA x16 memory-pressure adjudication"), but only
    * adds fixed job overhead at the registry's scale factors.
    */
  def labelPropagationBoth(both: DataFrame, rounds: Int): DataFrame = {
    var labels = both.select(col("a").as("n")).distinct()
      .select(col("n"), col("n").as("label"))
    for (_ <- 1 to rounds) {
      // argmax by (cnt DESC, label ASC) as max(struct(cnt, -label)) —
      // a plain two-phase hash-agg with map-side partials, where the
      // equivalent row_number window would re-sort every (node, label)
      // group per round (measured 6.3 s → agg form at sf0.1)
      labels = both
        .join(labels.withColumnRenamed("n", "b"), "b")
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("a").as("n"), (-col("m.nl")).as("label"))
    }
    labels
  }

  /** Full k-core decomposition (r14, VERDICT r13 #5): max core number
    * per node, capped at `maxK`, by the sequential Seidman peel — for
    * k = 2..maxK, peel the SURVIVING edge set to the k-core (the
    * k-core nests inside the (k−1)-core, so the edge set only shrinks
    * across levels). Each level runs ≤ `maxRounds` SYNCHRONOUS rounds
    * of one degree hash-agg + two semi-joins (per-round O(|edges|),
    * shards by node key); peeling only removes, so a round that
    * removes nothing is a PROVEN fixpoint — the early exit skips only
    * identity rounds, and an oracle that unrolls the full bound gets
    * identical rows by the same monotonicity. Coreness is exact
    * wherever each level's fixpoint lands within `maxRounds`; at any
    * input both engines compute the identical bounded-round result.
    * Edge count per round is the one driver-side scalar (the
    * convergence probe, the graph_kcore discipline).
    *
    * Returns (n, core_k) for every node with ≥ 1 edge (isolated nodes
    * have no edges and coreness 0 by convention — absent here).
    */
  def coreNumbers(edges: DataFrame, maxK: Int, maxRounds: Int): DataFrame = {
    def nodesOf(df: DataFrame) =
      df.select(col("u").as("n")).unionAll(df.select(col("v").as("n")))
        .distinct()
    var e = edges.select("u", "v").localCheckpoint(true)
    var core = nodesOf(e).select(col("n"), lit(1L).as("core_k"))
      .localCheckpoint(true)
    for (k <- 2 to maxK) {
      var prev = e.count()
      var done = prev == 0L
      for (_ <- 1 to maxRounds if !done) {
        val deg = e.select(col("u").as("n"))
          .unionAll(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
        val keep = deg.filter(col("dg") >= k).select("n")
        // LAZY checkpoint (r17): the count is the materializing action
        e = e.join(keep.withColumnRenamed("n", "u"), "u")
          .join(keep.withColumnRenamed("n", "v"), "v")
          .select("u", "v")
          .localCheckpoint(false)
        val now = e.count()
        done = now == prev || now == 0L
        prev = now
      }
      core = core
        .join(nodesOf(e).withColumnRenamed("n", "m"),
          col("n") === col("m"), "left")
        .select(col("n"),
          when(col("m").isNotNull, lit(k.toLong))
            .otherwise(col("core_k")).as("core_k"))
        .localCheckpoint(false) // no per-level action reads core — lazy
    }
    core
  }

  /** Strongly connected components (r15, VERDICT r14 #5): the last
    * classic iterative-graph gap — the graph family was entirely
    * undirected except the walk queries. Input: a DIRECTED distinct
    * edge list (u, v), u ≠ v. Returns (labels, unresolved): `labels` =
    * (n, scc) with scc = the SCC's minimum member id for EVERY resolved
    * node (singletons label themselves), `unresolved` = nodes still
    * undecided when the outer bound hit (empty = fully converged; the
    * consumer reports its count, so non-convergence is visible, never
    * silent).
    *
    * Algorithm — distributed trim + forward-backward min-label peeling
    * (the FW-BW family: Fleischer/Hendrickson/Pınar 2000; min-label
    * inner passes as in Orzan-style coloring):
    *
    *  1. TRIM: a node with no in-edge or no out-edge in the active
    *     induced subgraph can sit on no cycle — it is its own SCC.
    *     Iterated to fixpoint (each pass peels the whole current
    *     source/sink layer, so a DAG periphery drains in diameter
    *     passes — this is what makes pure-chain inputs converge, where
    *     f/b peeling alone would decide one node per outer round).
    *  2. f/b min-label fixpoint: f(v) = min id that reaches v, b(v) =
    *     min id v reaches (self included), both propagated as ONE
    *     direction-tagged frame (one join per round for both
    *     directions). f(v) = b(v) = m ⟺ m→v and v→m ⟺ v ∈ SCC(m), and
    *     m is then exactly SCC(v)'s minimum (a smaller same-SCC member
    *     would lower both labels) — sound AND label-canonical. The
    *     global-min active node's whole SCC always decides, so every
    *     outer round makes progress.
    *  3. Peel decided SCCs and repeat. Peeling is safe: a path between
    *     two same-SCC active nodes can never route through a decided
    *     node (it would merge the SCCs — contradiction), so the induced
    *     subgraph preserves remaining SCCs exactly.
    *
    * Scale shape: every step is an equi-join / hash-agg / anti-join on
    * node keys over frames of size O(|V| + |E|); per-round frames are
    * localCheckpointed (the LSSS discipline) and the only driver-side
    * values are the convergence counts. Round counts are set by graph
    * DIAMETER, not size — replication-invariant (BASELINE.md, "r15
    * close": x1→x16 flat, profile exactly k×-invariant).
    */
  /** localCheckpoint + STATS RESET for checkpoint-per-round loops.
    * `Dataset.localCheckpoint` preserves the source plan's ESTIMATED
    * statistics on the resulting LogicalRDD (originStats) — so a loop
    * that checkpoints every round COMPOUNDS the join-size products:
    * round r's estimate is a product over round r−1's estimates, the
    * BigInteger bit-length grows geometrically, and the non-CBO stats
    * visitor (SizeInBytesOnlyStatsPlanVisitor, which multiplies children
    * sizes per join) turns planning cost exponential in the round index.
    * Measured (r15 graph_scc, 316-node active graph, frames of ~600
    * rows): round 6 = 2.3 s, round 8 = 12.5 s, round 9 = 34 s — all
    * driver CPU inside BigInteger.multiplyToomCook3. Re-wrapping the
    * checkpointed RDD through createDataFrame drops originStats (falls
    * back to flat defaults, constant bits per round); AQE re-plans every
    * join from RUNTIME sizes anyway, which is the estimate that matters.
    */
  private def ckpt(df: DataFrame, rows: Long): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.localCheckpointWithStats(df, rows)

  /** checkpoint + count in one materialization: the count doubles as the
    * loop's convergence scalar AND the honest stats figure. The stats
    * re-wrap reuses the SAME checkpointed RDD (rewrapWithStats) — one
    * cached copy and one job per round, not two. LAZY checkpoint (r17):
    * the count is the materializing action, so the eager form's separate
    * checkpoint job was pure driver round-trip. */
  private def ckptCounted(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(false)
    val n = c.count()
    (org.apache.spark.sql.GraftSqlBridge.rewrapWithStats(c, n), n)
  }

  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 12,
                                  maxInner: Int = 128)
      : (DataFrame, DataFrame) = {
    val (e0, ne) = ckptCounted(edges.select(col("u"), col("v")).distinct())
    var labels = ckpt(e0.select(col("u").as("n"), col("u").as("scc"))
      .filter(lit(false)), 0L)
    var labelCount = 0L
    var (active, activeCount) = ckptCounted(e0.select(col("u").as("n"))
      .unionAll(e0.select(col("v").as("n"))).distinct())
    var outer = 0
    while (activeCount > 0 && outer < maxOuter) {
      var (ea, eaCount) =
        if (outer == 0) (e0, ne)
        else ckptCounted(e0.join(active.withColumnRenamed("n", "u"), "u")
          .join(active.withColumnRenamed("n", "v"), "v")
          .select("u", "v"))
      // trim to fixpoint: each pass keeps only nodes with both an
      // in-edge and an out-edge in the current induced subgraph — one
      // materialize+count per pass; the dropped singletons are folded
      // into labels ONCE after the loop (pre-trim active minus
      // post-trim active), not per pass
      val preTrim = active
      val preTrimCount = activeCount
      var trimming = true
      var trimRounds = 0
      while (trimming && trimRounds < maxInner && activeCount > 0) {
        val (keep, kc) = ckptCounted(ea.select(col("u").as("n")).distinct()
          .join(ea.select(col("v").as("n")).distinct(), Seq("n")))
        if (kc == activeCount) trimming = false
        else {
          active = keep
          activeCount = kc
          ea = ea.join(keep.withColumnRenamed("n", "u"), "u")
            .join(keep.withColumnRenamed("n", "v"), "v")
            .select("u", "v")
        }
        trimRounds += 1
      }
      if (activeCount < preTrimCount) { // at least one pass dropped nodes
        val (ea2, ec2) = ckptCounted(ea)
        ea = ea2; eaCount = ec2
        labelCount += preTrimCount - activeCount
        labels = ckpt(labels.unionByName(
          preTrim.join(active, Seq("n"), "left_anti")
            .select(col("n"), col("n").as("scc"))), labelCount)
      }
      if (activeCount > 0) {
        // dir 0 = forward (labels flow u→v: min ancestor), dir 1 =
        // backward (labels flow v→u: min descendant)
        val prop = ckpt(ea.select(col("u").as("src"), col("v").as("dst"),
            lit(0).as("dir"))
          .unionByName(ea.select(col("v").as("src"), col("u").as("dst"),
            lit(1).as("dir"))), 2 * eaCount)
        var lab = ckpt(active.select(col("n"),
            explode(array(lit(0), lit(1))).as("dir"), col("n").as("lab")),
          2 * activeCount)
        var changed = 1L
        var inner = 0
        // checksum convergence (r17): the (n, dir) universe is FIXED and
        // labels only DECREASE, so a round changed something ⟺ Σlab
        // dropped — one agg action instead of the old nlab⋈lab compare
        // join (2 exchanges + a count per probe). Exact in DECIMAL(38)
        // at any scale; probing still every second round.
        var prevSum: java.math.BigDecimal = null
        while (changed > 0 && inner < maxInner) {
          // shortcut edges (lab(v) → v) are transitive-closure edges —
          // f(v)=m certifies m reaches v, b(v)=m that v reaches m — so
          // propagating across them is sound and gives pointer-doubling
          // convergence: O(log diameter)-ish rounds instead of O(diameter)
          val shortcuts = lab.select(col("lab").as("src"),
            col("n").as("dst"), col("dir"))
          // FUSED round (r17): lab'(v) = min(lab(v), min over incoming
          // labels) as ONE union + ONE hash-agg — the old shape ran the
          // incoming-min as its own aggregation and then a LEFT JOIN back
          // onto lab (a third exchange per round for what min-over-union
          // computes directly). LAZY checkpoint: probe rounds materialize
          // the cascade; non-probe rounds run no driver action at all.
          val nlab = org.apache.spark.sql.GraftSqlBridge.rewrapWithStats(
            prop.unionByName(shortcuts)
              .join(lab.select(col("n").as("src"), col("dir"), col("lab")),
                Seq("src", "dir"))
              .select(col("dst").as("n"), col("dir"), col("lab"))
              .unionByName(lab)
              .groupBy(col("n"), col("dir"))
              .agg(min("lab").as("lab"))
              .localCheckpoint(false),
            2 * activeCount)
          inner += 1
          // convergence probe every SECOND round: labels only decrease,
          // so the worst case is one no-op extra round — half the count
          // jobs (driver round-latency dominates at small active sets)
          if (inner % 2 == 0 || inner >= maxInner) {
            val sm = nlab.agg(sum(col("lab").cast("decimal(38,0)")))
              .collect()(0).getDecimal(0)
            changed = if (prevSum != null && sm.compareTo(prevSum) == 0) 0L else 1L
            prevSum = sm
          }
          lab = nlab
        }
        val (decided, ndec) = ckptCounted(lab.filter(col("dir") === 0)
          .select(col("n"), col("lab").as("fl"))
          .join(lab.filter(col("dir") === 1)
            .select(col("n"), col("lab").as("bl")), "n")
          .filter(col("fl") === col("bl"))
          .select(col("n"), col("fl").as("scc")))
        labelCount += ndec
        labels = ckpt(labels.unionByName(decided), labelCount)
        active = ckpt(active.join(decided.select("n"), Seq("n"), "left_anti"),
          activeCount - ndec)
        activeCount -= ndec
        if (ndec == 0) outer = maxOuter // cannot happen post-trim; belt
      }
      outer += 1
    }
    (labels, active)
  }
}
