package graft.analytics

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QuerySpec

/** Text-analysis operators over `documents`: token statistics, quality
  * scoring, language identification, and content fingerprinting — the
  * per-document map stage of a training-data pipeline. Every operator is a
  * pure per-row projection (no shuffle, whole-stage codegen'd HOFs), so
  * throughput scales linearly with executors at any corpus size.
  *
  * Determinism: all ratios are a single double division of exact integer
  * counts (exactly rounded IEEE, bit-identical across engines); bucket
  * thresholds compare those identical doubles, so boundary cases agree too.
  */
object TextQueries {

  /** Language marker words — tiny stopword inventories per language.
    * The heuristic votes by marker hits with a fixed tie-break order; on
    * this synthetic corpus (shared English-ish vocabulary) it mostly votes
    * 'en', and the query reports agreement against the labeled `lang`.
    */
  private[analytics] val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  private[analytics] def markerCountExpr(words: Seq[String]): String = {
    val cond = words.map(w => s"t = '$w'").mkString(" or ")
    s"size(filter(split(text, ' '), t -> $cond))"
  }

  private[analytics] def markerCountSql(words: Seq[String],
                                        colRef: String = "text"): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split($colRef, ' '), t -> t IN ($set)))"
  }

  // ── batch perceptron (r8): linear-classifier TRAINING in-engine ──
  /** Exploded (doc_id, 3-gram shingle) occurrences over the BASE
    * documents table — session-cached (r17): text_novelty scans it from
    * two sides and text_vocab_growth derives the same first-occurrence
    * frame; each previously re-ran the tokenize+shingle map inside the
    * one-task documents scan stage (fanOut: identity at cluster scale).
    */
  private def shingleOccurrences(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame =
    Corpus.cached(s, d, "textShingleEx") {
      Corpus.withShingles(graft.Tables.fanOut(Tables.documents(s, d)))
        .select(col("doc_id"), explode(col("shingles")).as("g"))
    }

  private val PerceptronIters = 8
  private val PerceptronFeats = Seq("x_ttr", "x_stop", "x_len", "x_tok")
  private val PerceptronMargin = 40

  /** Trained model: teacher threshold, per-feature integer means, and
    * the per-iteration (nerr, weights-after-update) trajectory.
    */
  private final case class PerceptronModel(
      thr: Long, mean: Map[String, Long], iters: Seq[(Int, Long, Array[Long])])

  private val perceptronModels = new graft.SessionMemo[String, PerceptronModel]

  /** Raw per-doc integer text-stat features (the classifier's input
    * space, shared by the train and apply queries).
    */
  private def perceptronRaw(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(
      col("doc_id"),
      expr("(cast(size(array_distinct(split(text, ' '))) as bigint) * 1000)" +
        " div size(split(text, ' '))").as("x_ttr"),
      expr(s"(cast(${markerCountExpr(markers("en"))} as bigint) * 1000)" +
        " div size(split(text, ' '))").as("x_stop"),
      expr("(cast(length(text) as bigint) * 1000)" +
        " div size(split(text, ' '))").as("x_len"),
      expr("cast(size(split(text, ' ')) as bigint) * 10").as("x_tok"))

  /** The training loop, memoized per (session, corpus) — train and
    * apply share one run, the bpeRules discipline. Each iteration is
    * ONE aggregation over the cached feature frame; weights are the
    * only driver state.
    */
  private def perceptronModel(s: org.apache.spark.sql.SparkSession,
                              d: String): PerceptronModel =
    perceptronModels(s, d) {
      val raw = perceptronRaw(s, d)
      val st = raw.agg(
        count(lit(1)).as("n"),
        sum("x_ttr").as("s_ttr"), sum("x_stop").as("s_stop"),
        sum("x_len").as("s_len"), sum("x_tok").as("s_tok")).collect()(0)
      val n = st.getLong(0)
      val mean = PerceptronFeats.zipWithIndex
        .map { case (c, i) => c -> st.getLong(i + 1) / n }.toMap
      val thr = (2 * st.getLong(1) + st.getLong(2)) / n
      val m2 = col("x_ttr") * 2 + col("x_stop") - lit(thr)
      val featCols = "xb" +: PerceptronFeats
      val feats = raw
        .filter(abs(m2) >= PerceptronMargin)
        .select(
          when(m2 >= PerceptronMargin, 1L).otherwise(-1L).as("y") +:
            lit(100L).as("xb") +:
            PerceptronFeats.map(c => (col(c) - lit(mean(c))).as(c)): _*)
        .cache()
      var w = Array.fill(featCols.size)(0L)
      val iters = (1 to PerceptronIters).map { t =>
        val margin = featCols.zip(w)
          .map { case (c, wi) => col(c) * lit(wi) }.reduce(_ + _)
        val mis = col("y") * margin <= 0
        val aggs = count(when(mis, 1)).as("nerr") +:
          featCols.map(c =>
            coalesce(sum(when(mis, col("y") * col(c))), lit(0L)).as(s"d_$c"))
        val r = feats.agg(aggs.head, aggs.tail: _*).collect()(0)
        val nerr = r.getLong(0)
        val den = math.max(nerr, 1L) * t
        w = w.indices.map(i => w(i) + r.getLong(i + 1) / den).toArray
        (t, nerr, w.clone())
      }
      feats.unpersist()
      PerceptronModel(thr, mean, iters)
    }

  /** Oracle-side replay of the batch-perceptron loop: the unrolled
    * iterations as DuckDB CTEs over the same centered integer feature
    * frame — every margin, misclassification test, and decayed weight
    * update is exact BIGINT arithmetic with truncating division (DuckDB
    * `//` and Spark `div` both truncate toward zero on negatives —
    * verified), so both engines walk the identical weight trajectory.
    * Yields w1..w$iters = (wb, wt, ws, wl, wk, nerr).
    */
  private def perceptronSqlCtes(iters: Int): String = {
    val init = s"""
    rawf AS (
      SELECT (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000)
               // len(string_split(text, ' ')) AS x_ttr,
             (CAST(${markerCountSql(markers("en"))} AS BIGINT) * 1000)
               // len(string_split(text, ' ')) AS x_stop,
             (CAST(len(text) AS BIGINT) * 1000)
               // len(string_split(text, ' ')) AS x_len,
             CAST(len(string_split(text, ' ')) AS BIGINT) * 10 AS x_tok
      FROM documents),
    fstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x_ttr) AS s_ttr, SUM(x_stop) AS s_stop,
             SUM(x_len) AS s_len, SUM(x_tok) AS s_tok
      FROM rawf),
    feats AS (
      SELECT CASE WHEN (2 * r.x_ttr + r.x_stop)
                       - ((2 * s.s_ttr + s.s_stop) // s.n) >= $PerceptronMargin
                  THEN 1::BIGINT ELSE -1::BIGINT END AS y,
             100::BIGINT AS xb,
             r.x_ttr - (s.s_ttr // s.n) AS x_ttr,
             r.x_stop - (s.s_stop // s.n) AS x_stop,
             r.x_len - (s.s_len // s.n) AS x_len,
             r.x_tok - (s.s_tok // s.n) AS x_tok
      FROM rawf r CROSS JOIN fstats s
      WHERE abs((2 * r.x_ttr + r.x_stop)
                - ((2 * s.s_ttr + s.s_stop) // s.n)) >= $PerceptronMargin),
    w0 AS (SELECT 0::BIGINT AS wb, 0::BIGINT AS wt, 0::BIGINT AS ws,
                  0::BIGINT AS wl, 0::BIGINT AS wk)"""
    val its = (1 to iters).map { t =>
      s"""
    upd$t AS (
      SELECT COUNT(CASE WHEN mis THEN 1 END) AS nerr,
             COALESCE(SUM(CASE WHEN mis THEN y * xb END), 0) AS dxb,
             COALESCE(SUM(CASE WHEN mis THEN y * x_ttr END), 0) AS dxt,
             COALESCE(SUM(CASE WHEN mis THEN y * x_stop END), 0) AS dxs,
             COALESCE(SUM(CASE WHEN mis THEN y * x_len END), 0) AS dxl,
             COALESCE(SUM(CASE WHEN mis THEN y * x_tok END), 0) AS dxk
      FROM (SELECT f.*,
                   (f.y * (w.wb * f.xb + w.wt * f.x_ttr + w.ws * f.x_stop
                           + w.wl * f.x_len + w.wk * f.x_tok) <= 0) AS mis
            FROM feats f CROSS JOIN w${t - 1} w)),
    w$t AS (
      SELECT w.wb + u.dxb // ((CASE WHEN u.nerr = 0 THEN 1 ELSE u.nerr END) * $t) AS wb,
             w.wt + u.dxt // ((CASE WHEN u.nerr = 0 THEN 1 ELSE u.nerr END) * $t) AS wt,
             w.ws + u.dxs // ((CASE WHEN u.nerr = 0 THEN 1 ELSE u.nerr END) * $t) AS ws,
             w.wl + u.dxl // ((CASE WHEN u.nerr = 0 THEN 1 ELSE u.nerr END) * $t) AS wl,
             w.wk + u.dxk // ((CASE WHEN u.nerr = 0 THEN 1 ELSE u.nerr END) * $t) AS wk,
             u.nerr AS nerr
      FROM w${t - 1} w CROSS JOIN upd$t u)"""
    }
    (init +: its).mkString(",")
  }

  // ── BPE (r8): shared trainer for text_bpe_train / text_bpe_tokenize ──
  private val BpeK = 6

  private val bpeRuleSets = new graft.SessionMemo[String, Seq[(Int, String, Long)]]

  /** The K merge rules, memoized per (session, corpus) — training is
    * deterministic, and the tokenize query applies the same rules the
    * train query emits (one driver row per iteration).
    */
  private def bpeRules(s: org.apache.spark.sql.SparkSession, d: String): Seq[(Int, String, Long)] =
    bpeRuleSets(s, d) {
      var cur = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), bpeSymbolCol(col("w")).as("s"))
      val rules = Seq.newBuilder[(Int, String, Long)]
      for (it <- 1 to BpeK) {
        val best = cur
          .select(col("cnt"), expr(
            """case when size(split(s, ' ')) >= 2
               then transform(sequence(1, size(split(s, ' ')) - 1),
                      i -> concat(element_at(split(s, ' '), i), ' ',
                                  element_at(split(s, ' '), i + 1)))
               else array() end""").as("ps"))
          .select(col("cnt"), explode(col("ps")).as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .collect()(0)
        val (pair, n) = (best.getString(0), best.getLong(1))
        rules += ((it, pair, n))
        cur = cur.withColumn("s", bpeReplaceCol(col("s"), pair))
      }
      rules.result()
    }

  /** Word → bracketed character symbols ('<a> <b> ...'). */
  private def bpeSymbolCol(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    expr("concat_ws(' ', transform(sequence(1, length(w)), i -> concat('<', substring(w, i, 1), '>')))")

  /** Apply one merge rule as a literal replace. */
  private def bpeReplaceCol(s: org.apache.spark.sql.Column, pair: String): org.apache.spark.sql.Column = {
    val merged = pair.replace("> <", "")
    org.apache.spark.sql.functions.expr(
      s"replace(${"s"}, '${pair.replace("'", "''")}', '${merged.replace("'", "''")}')")
  }

  /** Oracle-side trainer prefix: w0/s0 + the unrolled K iterations
    * (p/b/s chains). Yields b1..bK (the rules) and s0..sK.
    */
  private def bpeTrainCtesSql: String = {
    val iters = (1 to BpeK).map { t =>
      s"""
        p$t AS (
          SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS pair
            FROM (SELECT cnt, string_split(s, ' ') AS toks FROM s${t - 1}))
          GROUP BY pair),
        b$t AS (SELECT pair, n FROM p$t ORDER BY n DESC, pair LIMIT 1),
        s$t AS (
          SELECT cnt, replace(s, (SELECT pair FROM b$t),
                              replace((SELECT pair FROM b$t), '> <', '')) AS s
          FROM s${t - 1})"""
    }.mkString(",")
    s"""w0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w),
        s0 AS (
          SELECT cnt,
                 array_to_string(list_transform(range(1, len(w) + 1),
                   i -> '<' || w[i] || '>'), ' ') AS s
          FROM w0),$iters"""
  }

  // ── unigram LM tokenizer (r11): trainer for text_unigram_train /
  // text_unigram_tokenize — the SentencePiece-style companion to BPE.
  // Position-lattice EM, honestly simplified for exact cross-engine
  // replay: full SentencePiece runs forward-backward over CONSISTENT
  // segmentations; here every word position's outgoing arcs (its
  // 1..3-char prefixes at that position) compete as a mixture, the
  // E-step assigns integer per-mille responsibilities r = s(p)·1000
  // div Σ s(q) over the arcs at that (word, position), and the M-step
  // re-scores each piece as the occurrence-weighted responsibility
  // mass. Fixed 3 iterations, no filtering after init, every step
  // integer — the Lloyd/BPE/perceptron unrolled-iterations discipline.
  // Scale shape: per iteration one arcs⋈scores equi-join + one (w, i)
  // window over ≤3-row partitions + one piece hash-agg — O(|arcs|)
  // per round, |arcs| ≤ 3·corpus chars; responsibility mass keeps
  // scores ≤ 3000·total_chars < 2⁶³ through 10¹⁵ chars.
  private val UniIters = 3
  private val UniVocab = 24

  /** Candidate arcs (w, cnt, i, piece): every 1..3-char substring at
    * every position of every distinct word, occurrence-weighted.
    */
  private def uniArcs(s: org.apache.spark.sql.SparkSession, d: String) =
    Corpus.cached(s, d, "uniArcs") {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"), explode(expr(
          """flatten(transform(sequence(1, length(w)),
               i -> transform(sequence(1, least(3, length(w) - i + 1)),
                      j -> named_struct('i', i, 'piece', substring(w, i, j)))))"""))
          .as("a"))
        .select(col("w"), col("cnt"), col("a.i").as("i"), col("a.piece").as("piece"))
    }

  /** Final piece scores after the fixed EM rounds. Candidates: pieces
    * with weighted occurrence ≥ 5, plus every single char (coverage —
    * each position always has ≥ 1 live arc, so no denominator is 0;
    * greatest(den, 1) guards the rounding-to-zero corner anyway).
    */
  private def uniScores(s: org.apache.spark.sql.SparkSession, d: String) = {
    val arcs = uniArcs(s, d)
    var scores = arcs.groupBy("piece").agg(sum("cnt").as("score"))
      .filter(col("score") >= 5 || length(col("piece")) === 1)
    for (_ <- 1 to UniIters)
      scores = arcs.join(scores, "piece")
        .withColumn("den", sum("score").over(
          org.apache.spark.sql.expressions.Window.partitionBy("w", "i")))
        .withColumn("r", expr("score * 1000 div greatest(den, 1)"))
        .groupBy("piece").agg(sum(expr("cnt * r")).as("score"))
    scores
  }

  private val uniVocabs = new graft.SessionMemo[String, Seq[(String, Int, Long)]]

  /** The trained vocab (piece, len, score): top-[[UniVocab]] multi-char
    * pieces under the (score DESC, piece) total order — one bounded
    * driver pull, memoized per (session, corpus) so tokenize applies
    * exactly what train emits.
    */
  private def uniVocab(s: org.apache.spark.sql.SparkSession,
                       d: String): Seq[(String, Int, Long)] =
    uniVocabs(s, d)(
      uniScores(s, d)
        .filter(length(col("piece")) >= 2)
        .orderBy(col("score").desc, col("piece"))
        .limit(UniVocab)
        .select(col("piece"), length(col("piece")).cast("int").as("len"),
          col("score"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)

  /** Oracle CTEs: arcs + the unrolled EM rounds, yielding s0..s3 — the
    * SQL mirror of [[uniScores]].
    */
  private def uniTrainCtesSql: String = {
    val iters = (1 to UniIters).map { t =>
      s"""
        e$t AS (
          SELECT a.piece, a.cnt,
                 s.score * 1000 // greatest(SUM(s.score)
                   OVER (PARTITION BY a.w, a.i), 1) AS r
          FROM arcs a JOIN s${t - 1} s ON s.piece = a.piece),
        s$t AS (
          SELECT piece, CAST(SUM(cnt * r) AS BIGINT) AS score
          FROM e$t GROUP BY piece)"""
    }.mkString(",")
    s"""w0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w),
        arcs AS (
          SELECT w, cnt, a.i AS i, a.piece AS piece
          FROM (SELECT w, cnt,
                       unnest(flatten(list_transform(range(1, len(w) + 1),
                         i -> list_transform(range(1, least(3, len(w) - i + 1) + 1),
                                j -> {'i': i, 'piece': substr(w, i::INT, j::INT)}))))
                         AS a
                FROM w0)),
        s0 AS (
          SELECT piece, CAST(SUM(cnt) AS BIGINT) AS score
          FROM arcs GROUP BY piece
          HAVING SUM(cnt) >= 5 OR len(piece) = 1),$iters"""
  }

  val all: Seq[QuerySpec] = Seq(

    // ───── token statistics: whitespace tokens + a BPE-ish length/4
    // subword estimate (the standard chars-per-token heuristic)
    QuerySpec(
      "text_tokens",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        expr("size(split(text, ' '))").as("n_tokens"),
        expr("size(array_distinct(split(text, ' ')))").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars"),
        expr("cast(array_max(transform(split(text, ' '), t -> length(t))) as bigint)")
          .as("max_token_len"),
        expr("cast(ceil(length(text) / 4.0) as bigint)").as("est_subword_tokens")),
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
               CAST(len(text) AS BIGINT) AS n_chars,
               CAST(list_max(list_transform(string_split(text, ' '), t -> len(t))) AS BIGINT)
                 AS max_token_len,
               CAST(ceil(len(text) / 4.0) AS BIGINT) AS est_subword_tokens
        FROM documents""")),

    // ───── n-gram novelty profile (r12): per document, the fraction of
    // its distinct 3-token shingles whose FIRST occurrence (min doc_id
    // — the corpus-order proxy for ingestion time) is this document —
    // the curriculum/memorization signal next to the dedup family
    // (near-1 = fresh content, near-0 = assembled from seen text; the
    // exact complement of dedup_containment's pairwise view, computed
    // corpus-globally without any pair stage). Shape: the
    // inverted-index discipline — one shingle explode, one min-agg per
    // shingle, one join back, one per-doc collapse; no pairwise
    // anything, linear in total shingle occurrences at any corpus size.
    QuerySpec(
      "text_novelty",
      (s, d) => {
        // shared + fanned (r17): the shingle explode ran inside the
        // one-task documents scan TWICE here (the min-agg and the join
        // side) and a third time in text_vocab_growth — one session-
        // cached build at full parallelism serves all three scans
        val ex = shingleOccurrences(s, d)
        val first = ex.groupBy("g").agg(min("doc_id").as("first_doc"))
        ex.join(first, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
      },
      Some(s"""
        WITH sh AS (${Corpus.shinglesSql("documents")}),
        ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        first AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY 1)
        SELECT e.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
        FROM ex e JOIN first f ON f.g = e.g
        GROUP BY 1""")),

    // ───── term drift between corpus halves (r12): the vocabulary-
    // shift detector a continuously-crawled corpus runs between
    // snapshots — per term, the 2×2 chi-square of document frequency in
    // the first vs second half of the corpus (doc_id order = ingestion
    // proxy, split at the midpoint of the observed id range). Exact
    // arithmetic with a DOCUMENTED bound (r13 correction — the r12
    // comment overstated the headroom): the intermediate
    // (df_a·nb − df_b·na)²·1000 is bounded by (na·nb)²·1000, which
    // stays inside DECIMAL(38)/HUGEINT only while na·nb ≤ ~3.2e17 —
    // ≈ 3×10⁸ docs per half as the safe operating bound (≈ 5.6×10⁸
    // balanced-halves worst case). Past that, Spark's non-ANSI decimal
    // overflow makes chi2_milli NULL and the MOST-drifted terms would
    // silently sort last; beyond ~3e8 docs/half, pre-scale df/na/nb by
    // a common factor (χ² is invariant up to that factor) before
    // scoring. The reported χ²·1000 itself is bounded by
    // 1000·(df_a+df_b) so it always fits a BIGINT; top-20 under
    // the (χ² DESC, term) total order through TakeOrderedAndProject.
    // Per-doc DISTINCT terms (document frequency, not raw counts) keep
    // one repetitive doc from faking corpus-wide drift.
    QuerySpec(
      "text_term_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bounds = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
        val toks = docs
          .select(col("doc_id"),
            explode(expr("array_distinct(split(text, ' '))")).as("term"))
          .crossJoin(broadcast(bounds))
          .withColumn("late", col("doc_id") * 2 > col("mn") + col("mx"))
        val halves = docs.crossJoin(broadcast(bounds))
          .agg(sum(when(col("doc_id") * 2 <= col("mn") + col("mx"), 1L)
            .otherwise(0L)).as("na"),
            sum(when(col("doc_id") * 2 > col("mn") + col("mx"), 1L)
              .otherwise(0L)).as("nb"))
        toks.groupBy("term")
          .agg(sum(when(!col("late"), 1L).otherwise(0L)).as("df_a"),
            sum(when(col("late"), 1L).otherwise(0L)).as("df_b"))
          .crossJoin(broadcast(halves))
          .withColumn("chi2_milli", expr(
            """cast((cast(df_a as decimal(38,0)) * cast(nb as decimal(38,0))
                     - cast(df_b as decimal(38,0)) * cast(na as decimal(38,0)))
                    * (cast(df_a as decimal(38,0)) * cast(nb as decimal(38,0))
                       - cast(df_b as decimal(38,0)) * cast(na as decimal(38,0)))
                    * 1000 div (cast(df_a + df_b as decimal(38,0))
                                * cast(na as decimal(38,0))
                                * cast(nb as decimal(38,0))) as bigint)"""))
          .select("term", "df_a", "df_b", "chi2_milli")
          .orderBy(col("chi2_milli").desc, col("term")).limit(20)
      },
      Some("""
        WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
        toks AS (
          SELECT d.doc_id, unnest(list_distinct(string_split(d.text, ' '))) AS term,
                 d.doc_id * 2 > b.mn + b.mx AS late
          FROM documents d CROSS JOIN b),
        halves AS (
          SELECT SUM(CASE WHEN d.doc_id * 2 <= b.mn + b.mx THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN d.doc_id * 2 > b.mn + b.mx THEN 1 ELSE 0 END) AS nb
          FROM documents d CROSS JOIN b),
        df AS (
          SELECT term,
                 SUM(CASE WHEN NOT late THEN 1 ELSE 0 END) AS df_a,
                 SUM(CASE WHEN late THEN 1 ELSE 0 END) AS df_b
          FROM toks GROUP BY 1),
        scored AS (
          SELECT term, CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
                 CAST((CAST(df_a AS HUGEINT) * CAST(nb AS HUGEINT)
                       - CAST(df_b AS HUGEINT) * CAST(na AS HUGEINT))
                      * (CAST(df_a AS HUGEINT) * CAST(nb AS HUGEINT)
                         - CAST(df_b AS HUGEINT) * CAST(na AS HUGEINT))
                      * 1000 // (CAST(df_a + df_b AS HUGEINT)
                                 * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT))
                   AS BIGINT) AS chi2_milli
          FROM df CROSS JOIN halves)
        SELECT term, df_a, df_b, chi2_milli
        FROM scored ORDER BY chi2_milli DESC, term LIMIT 20""")),

    // ───── vocabulary growth curve (r12): new distinct shingles per
    // corpus-order decile plus the cumulative count — the Heaps-law
    // readout that sizes vocabulary/dedup-index growth before a crawl
    // 10×es (a flattening curve means dedup state saturates; linear
    // means provision for it). Rides the SAME first-occurrence frame
    // text_novelty computes (min doc_id per shingle — one explode + one
    // min-agg); deciles cut the observed doc-id range (ingestion-order
    // proxy), and the cumulative sum runs over TEN rows (bounded
    // empty-partition window — the agg_mode class, never data-sized).
    QuerySpec(
      "text_vocab_growth",
      (s, d) => {
        val ex = shingleOccurrences(s, d) // shared with text_novelty (r17)
        val first = ex.groupBy("g").agg(min("doc_id").as("first_doc"))
        val bounds = first.agg(min("first_doc").as("mn"),
          max("first_doc").as("mx"))
        first.crossJoin(broadcast(bounds))
          .groupBy(expr("(first_doc - mn) * 10 div (mx - mn + 1)").as("decile"))
          .agg(count(lit(1)).as("new_shingles"))
          .withColumn("cum_shingles", {
            val w = org.apache.spark.sql.expressions.Window
            sum("new_shingles").over(w.orderBy("decile")
              .rowsBetween(w.unboundedPreceding, w.currentRow))
          })
      },
      Some(s"""
        WITH sh AS (${Corpus.shinglesSql("documents")}),
        ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        first AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY 1),
        b AS (SELECT MIN(first_doc) AS mn, MAX(first_doc) AS mx FROM first),
        dec AS (
          SELECT CAST((first_doc - mn) * 10 // (mx - mn + 1) AS BIGINT) AS decile,
                 COUNT(*) AS new_shingles
          FROM first CROSS JOIN b GROUP BY 1)
        SELECT decile, new_shingles,
               CAST(SUM(new_shingles) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_shingles
        FROM dec""")),

    // ───── Flesch-style readability bands (r12): the grade-level
    // filter next to text_quality's lexical ratios — training-data
    // curricula bucket documents by reading difficulty, and the Flesch
    // reading-ease formula needs only three countable surface features.
    // EXACT-INTEGER form (206.835 − 1.015·w/s − 84.6·syll/w in
    // milli-points, every division an integer div of positives, so
    // both engines truncate identically): sentences = [.!?]+ runs,
    // words = [a-z0-9]+ runs of the lowercased text, syllables = the
    // classic vowel-GROUP heuristic [aeiouy]+ (a run of vowels is one
    // nucleus — "beautiful" → eau+i+u = 3). Scores can go negative on
    // dense text, so the report band shifts by +10 000 000 BEFORE its
    // div (Spark div truncates toward zero where DuckDB // floors —
    // the events_theil_sen sign discipline). Per-row regexp counts,
    // one hash-agg: fully map-side until the (lang, band) collapse.
    QuerySpec(
      "text_readability",
      (s, d) => Tables.documents(s, d)
        .withColumn("sents", expr(
          "greatest(1L, cast(size(regexp_extract_all(text, '[.!?]+', 0)) as bigint))"))
        .withColumn("words", expr(
          "greatest(1L, cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint))"))
        .withColumn("sylls", expr(
          "greatest(1L, cast(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) as bigint))"))
        .withColumn("fre_milli", expr(
          "206835L - (1015L * (words * 1000L div sents)) div 1000L" +
            " - (84600L * (sylls * 1000L div words)) div 1000L"))
        .groupBy(col("lang"),
          expr("(fre_milli + 10000000L) div 10000L").as("band"))
        .agg(count(lit(1)).as("n_docs"),
          min("fre_milli").as("min_milli"), max("fre_milli").as("max_milli"),
          sum("doc_id").as("doc_sum"), sum("words").as("word_sum")),
      Some("""
        WITH feats AS (
          SELECT doc_id, lang,
                 GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS sents,
                 GREATEST(1, len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS words,
                 GREATEST(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS sylls
          FROM documents),
        scored AS (
          SELECT doc_id, lang, words,
                 206835 - (1015 * (words * 1000 // sents)) // 1000
                        - (84600 * (sylls * 1000 // words)) // 1000 AS fre_milli
          FROM feats)
        SELECT lang, CAST((fre_milli + 10000000) // 10000 AS BIGINT) AS band,
               COUNT(*) AS n_docs,
               CAST(MIN(fre_milli) AS BIGINT) AS min_milli,
               CAST(MAX(fre_milli) AS BIGINT) AS max_milli,
               CAST(SUM(doc_id) AS BIGINT) AS doc_sum,
               CAST(SUM(words) AS BIGINT) AS word_sum
        FROM scored GROUP BY 1, 2""")),

    // ───── quality scoring: stopword ratio, type-token ratio, mean token
    // length → bucket (the C4/Gopher-style cheap filters)
    QuerySpec(
      "text_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_tokens", expr("size(split(text, ' '))"))
        .withColumn("stop_cnt", expr(markerCountExpr(markers("en"))))
        .withColumn("stop_ratio", expr("cast(stop_cnt as double) / n_tokens"))
        .withColumn("ttr", expr("cast(size(array_distinct(split(text, ' '))) as double) / n_tokens"))
        .withColumn("mean_token_len",
          expr("cast(length(text) - (n_tokens - 1) as double) / n_tokens"))
        .withColumn("quality", expr(
          """case when stop_ratio > 0.25 or ttr < 0.2 then 'low'
                  when n_tokens >= 50 and ttr >= 0.3 then 'high'
                  else 'medium' end"""))
        .select("doc_id", "n_tokens", "stop_ratio", "ttr", "mean_token_len", "quality"),
      Some(s"""
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
               CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
               CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
               CASE WHEN CAST(stop_cnt AS DOUBLE) / n_tokens > 0.25
                      OR CAST(n_distinct AS DOUBLE) / n_tokens < 0.2 THEN 'low'
                    WHEN n_tokens >= 50
                     AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 THEN 'high'
                    ELSE 'medium' END AS quality
        FROM (SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tokens,
                     ${markerCountSql(markers("en"))} AS stop_cnt,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct,
                     len(text) AS n_chars
              FROM documents)""")),

    // ───── language ID: marker-word votes, argmax with fixed tie-break
    // (en > de > es > fr), reported against the labeled lang
    QuerySpec(
      "text_langid",
      (s, d) => Tables.documents(s, d)
        .withColumn("cnt_en", expr(markerCountExpr(markers("en"))).cast("long"))
        .withColumn("cnt_de", expr(markerCountExpr(markers("de"))).cast("long"))
        .withColumn("cnt_es", expr(markerCountExpr(markers("es"))).cast("long"))
        .withColumn("cnt_fr", expr(markerCountExpr(markers("fr"))).cast("long"))
        .withColumn("predicted", expr(
          """case when cnt_en >= greatest(cnt_de, cnt_es, cnt_fr) then 'en'
                  when cnt_de >= greatest(cnt_es, cnt_fr) then 'de'
                  when cnt_es >= cnt_fr then 'es'
                  else 'fr' end"""))
        .select(col("doc_id"), col("cnt_en"), col("cnt_de"), col("cnt_es"), col("cnt_fr"),
          col("predicted"), (col("predicted") === col("lang")).as("is_match")),
      Some(s"""
        SELECT doc_id, cnt_en, cnt_de, cnt_es, cnt_fr,
               CASE WHEN cnt_en >= greatest(cnt_de, cnt_es, cnt_fr) THEN 'en'
                    WHEN cnt_de >= greatest(cnt_es, cnt_fr) THEN 'de'
                    WHEN cnt_es >= cnt_fr THEN 'es'
                    ELSE 'fr' END AS predicted,
               (CASE WHEN cnt_en >= greatest(cnt_de, cnt_es, cnt_fr) THEN 'en'
                     WHEN cnt_de >= greatest(cnt_es, cnt_fr) THEN 'de'
                     WHEN cnt_es >= cnt_fr THEN 'es'
                     ELSE 'fr' END = lang) AS is_match
        FROM (SELECT doc_id, lang,
                     CAST(${markerCountSql(markers("en"))} AS BIGINT) AS cnt_en,
                     CAST(${markerCountSql(markers("de"))} AS BIGINT) AS cnt_de,
                     CAST(${markerCountSql(markers("es"))} AS BIGINT) AS cnt_es,
                     CAST(${markerCountSql(markers("fr"))} AS BIGINT) AS cnt_fr
              FROM documents)""")),

    // ───── classifier evaluation: the langid confusion matrix against
    // the labeled lang column — (label, predicted, n) cells. The eval
    // loop every heuristic in a curation pipeline needs before its
    // threshold is trusted; same marker logic as text_langid (one
    // per-row map), then one group-cardinality hash-agg.
    QuerySpec(
      "text_lang_confusion",
      (s, d) => Tables.documents(s, d)
        .withColumn("cnt_en", expr(markerCountExpr(markers("en"))).cast("long"))
        .withColumn("cnt_de", expr(markerCountExpr(markers("de"))).cast("long"))
        .withColumn("cnt_es", expr(markerCountExpr(markers("es"))).cast("long"))
        .withColumn("cnt_fr", expr(markerCountExpr(markers("fr"))).cast("long"))
        .withColumn("predicted", expr(
          """case when cnt_en >= greatest(cnt_de, cnt_es, cnt_fr) then 'en'
                  when cnt_de >= greatest(cnt_es, cnt_fr) then 'de'
                  when cnt_es >= cnt_fr then 'es'
                  else 'fr' end"""))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n")),
      Some(s"""
        SELECT lang,
               CASE WHEN cnt_en >= greatest(cnt_de, cnt_es, cnt_fr) THEN 'en'
                    WHEN cnt_de >= greatest(cnt_es, cnt_fr) THEN 'de'
                    WHEN cnt_es >= cnt_fr THEN 'es'
                    ELSE 'fr' END AS predicted,
               COUNT(*) AS n
        FROM (SELECT doc_id, lang,
                     CAST(${markerCountSql(markers("en"))} AS BIGINT) AS cnt_en,
                     CAST(${markerCountSql(markers("de"))} AS BIGINT) AS cnt_de,
                     CAST(${markerCountSql(markers("es"))} AS BIGINT) AS cnt_es,
                     CAST(${markerCountSql(markers("fr"))} AS BIGINT) AS cnt_fr
              FROM documents)
        GROUP BY 1, 2""")),

    // ───── linear-classifier TRAINING in-engine (r8): batch perceptron
    // with a decayed integer step — the third member of the "the engine
    // trains its own models" family next to Lloyd (k-means/PQ) and BPE.
    // Features per doc are centered integer text stats (type-token
    // ratio, stopword share, mean token length, token count — means
    // integer-derived from one corpus agg; centering removes the
    // near-constant direction that makes the raw batch update
    // ping-pong); labels come from a margin-filtered teacher rule over
    // the SAME stat space (the corpus's lang labels are measurably
    // text-independent — see text_lang_confusion — so this is the
    // teacher-student separability drill: the loop must drive training
    // error to ~zero, the convergence contract; on a real labeled
    // corpus the identical loop fits whatever signal exists). Each of
    // K iterations is ONE aggregation over the cached feature frame
    // (margins under the current literal weights, misclassified-sum
    // update scaled by 1/(nerr·t) — the batch form: order-independent
    // and parallel, unlike the sequential online rule), collapsing to
    // a single driver row; weights are the only driver state. All
    // arithmetic is BIGINT with truncating division on both engines,
    // so DuckDB's unrolled replay walks the identical trajectory and
    // the per-iteration (n_err, weights) table sits under the hash
    // gate. n_err falls ~470 → single digits in 8 iterations at sf0.01
    // (4619 → 47 at sf0.1) — the training curve, in-band.
    QuerySpec(
      "text_classifier_train",
      (s, d) => {
        import s.implicits._
        perceptronModel(s, d).iters
          .map { case (t, nerr, w) => (t, nerr, w(0), w(1), w(2), w(3), w(4)) }
          .toDF("it", "n_err", "w_bias", "w_ttr", "w_stop", "w_len", "w_tok")
          .select(col("it").cast("int").as("it"), col("n_err"), col("w_bias"),
            col("w_ttr"), col("w_stop"), col("w_len"), col("w_tok"))
      },
      Some(s"""
        WITH ${perceptronSqlCtes(PerceptronIters)}
        ${(1 to PerceptronIters).map(t =>
          // CAST back to BIGINT: DuckDB's SUM(BIGINT) widens to HUGEINT,
          // so the w-columns carry int128 through the CTE chain — values
          // identical, but the hash gate compares typed values and
          // HUGEINT degrades to float64 on the driver side.
          s"SELECT $t AS it, CAST(nerr AS BIGINT) AS n_err, " +
          s"CAST(wb AS BIGINT) AS w_bias, CAST(wt AS BIGINT) AS w_ttr, " +
          s"CAST(ws AS BIGINT) AS w_stop, CAST(wl AS BIGINT) AS w_len, " +
          s"CAST(wk AS BIGINT) AS w_tok FROM w$t")
          .mkString("\n        UNION ALL\n        ")}""")),

    // ───── classifier APPLY (r8): score EVERY doc — including the
    // margin band the trainer excluded — with the final trained weights
    // (one run shared with text_classifier_train via the memo, the BPE
    // train/tokenize discipline) and report the (teacher, predicted)
    // confusion cells. Generalization in-band: the band docs the model
    // never saw split by which side of the learned boundary they fall
    // on. Pure per-row map over the feature scan + one tiny hash-agg.
    QuerySpec(
      "text_classifier_apply",
      (s, d) => {
        val m = perceptronModel(s, d)
        val w = m.iters.last._3
        val raw = perceptronRaw(s, d)
        val m2 = col("x_ttr") * 2 + col("x_stop") - lit(m.thr)
        val score = lit(w(0)) * 100L +
          PerceptronFeats.zipWithIndex
            .map { case (c, i) => (col(c) - lit(m.mean(c))) * lit(w(i + 1)) }
            .reduce(_ + _)
        raw
          .withColumn("teacher",
            when(m2 >= PerceptronMargin, "pos")
              .when(m2 <= -PerceptronMargin, "neg").otherwise("band"))
          .withColumn("predicted", when(score > 0, "pos").otherwise("neg"))
          .groupBy("teacher", "predicted").agg(count(lit(1)).as("n"))
      },
      Some(s"""
        WITH ${perceptronSqlCtes(PerceptronIters)}
        SELECT teacher, predicted, COUNT(*) AS n
        FROM (
          SELECT CASE WHEN r.m2 >= $PerceptronMargin THEN 'pos'
                      WHEN r.m2 <= -$PerceptronMargin THEN 'neg'
                      ELSE 'band' END AS teacher,
                 CASE WHEN w.wb * 100 + w.wt * (r.x_ttr - (s.s_ttr // s.n))
                           + w.ws * (r.x_stop - (s.s_stop // s.n))
                           + w.wl * (r.x_len - (s.s_len // s.n))
                           + w.wk * (r.x_tok - (s.s_tok // s.n)) > 0
                      THEN 'pos' ELSE 'neg' END AS predicted
          FROM (SELECT r0.*, (2 * r0.x_ttr + r0.x_stop)
                       - ((2 * s0.s_ttr + s0.s_stop) // s0.n) AS m2
                FROM rawf r0 CROSS JOIN fstats s0) r
          CROSS JOIN fstats s CROSS JOIN w$PerceptronIters w)
        GROUP BY 1, 2""")),

    // ───── classifier CALIBRATION report (r9): does the trained score
    // MEAN anything beyond its sign — the reliability table an ML
    // pipeline publishes next to a model (bucketed score vs empirical
    // positive rate; a well-calibrated monotone score can be
    // thresholded for precision targets, a miscalibrated one cannot).
    // Shares the one memoized perceptron run with train/apply (the BPE
    // discipline). Banding is CORPUS-DERIVED fixed-width — W =
    // max|score| div 5 + 1 from one scalar agg, bands score div W in
    // [-5, 5] — NOT an ntile window: no global sort, no tie order to
    // pin, and the +6W offset normalizes Spark's truncating div to
    // DuckDB's flooring // on negative scores (the events_forecast
    // rule). Teacher truth here is the UNMARGINED boundary m2 > 0, so
    // the band docs the trainer excluded are scored too —
    // generalization is part of the report. Per-band empirical rate in
    // exact integer per-mille.
    QuerySpec(
      "text_classifier_calibration",
      (s, d) => {
        val m = perceptronModel(s, d)
        val w = m.iters.last._3
        val raw = perceptronRaw(s, d)
        val m2 = col("x_ttr") * 2 + col("x_stop") - lit(m.thr)
        val score = lit(w(0)) * 100L +
          PerceptronFeats.zipWithIndex
            .map { case (c, i) => (col(c) - lit(m.mean(c))) * lit(w(i + 1)) }
            .reduce(_ + _)
        val sc = raw
          .withColumn("score", score)
          .withColumn("is_pos", (m2 > 0).cast("long"))
        val wdiv = sc.agg(
          expr("greatest(max(abs(score)), 1L) div 5 + 1").as("w"))
        sc.crossJoin(wdiv) // one-row broadcast composition
          .withColumn("band", expr("((score + 6 * w) div w) - 6"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), sum(col("is_pos")).as("n_pos"),
            min(col("score")).as("score_lo"), max(col("score")).as("score_hi"))
          .withColumn("pos_rate_pm", expr("n_pos * 1000L div n"))
      },
      Some(s"""
        WITH ${perceptronSqlCtes(PerceptronIters)},
        scored AS (
          SELECT w.wb * 100
                   + w.wt * (r.x_ttr - (s.s_ttr // s.n))
                   + w.ws * (r.x_stop - (s.s_stop // s.n))
                   + w.wl * (r.x_len - (s.s_len // s.n))
                   + w.wk * (r.x_tok - (s.s_tok // s.n)) AS score,
                 CASE WHEN (2 * r.x_ttr + r.x_stop)
                           - ((2 * s.s_ttr + s.s_stop) // s.n) > 0
                      THEN 1 ELSE 0 END AS is_pos
          FROM rawf r CROSS JOIN fstats s CROSS JOIN w$PerceptronIters w),
        wd AS (SELECT GREATEST(MAX(abs(score)), 1) // 5 + 1 AS w FROM scored),
        banded AS (
          SELECT ((score + 6 * w.w) // w.w) - 6 AS band, score, is_pos
          FROM scored CROSS JOIN wd w)
        SELECT CAST(band AS BIGINT) AS band, count(*) AS n,
               CAST(SUM(is_pos) AS BIGINT) AS n_pos,
               CAST(MIN(score) AS BIGINT) AS score_lo,
               CAST(MAX(score) AS BIGINT) AS score_hi,
               CAST(SUM(is_pos) * 1000 // count(*) AS BIGINT) AS pos_rate_pm
        FROM banded GROUP BY band""")),

    // ───── compression-ratio quality signal (r8): per-doc DEFLATE ratio
    // through the JDK's real zlib (java.util.zip, fixed level) — the
    // entropy proxy production curation pipelines use to flag
    // repetitive/templated documents (the CCNet/RefinedWeb-style
    // signal; text_repetition counts token repeats, this measures
    // information density directly). DuckDB has no zlib, so the gate is
    // the CONTRACT pattern established by agg_approx_distinct: the
    // oracle-checkable facts (per-class doc counts) hash-compare, and
    // the signal's required properties ride as booleans the oracle
    // asserts literally TRUE — ratios land strictly inside (0, 1000)
    // per mille, and the injected repetitive class (text doubled)
    // compresses strictly smaller than the normal class. A broken
    // deflate path flips a boolean and fails the row. Per-row map; the
    // report is one tiny agg + a 2-row cross-compare.
    QuerySpec(
      "text_compression_ratio",
      (s, d) => {
        import s.implicits._
        val rated = Tables.documents(s, d)
          .select(col("doc_id"),
            when(col("doc_id") % 9 === 0, "repetitive").otherwise("normal")
              .as("variant"),
            when(col("doc_id") % 9 === 0,
              concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
              .as("payload"))
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, variant, payload) =>
            val bytes = payload.getBytes("UTF-8")
            val out = new java.io.ByteArrayOutputStream()
            val dos = new java.util.zip.DeflaterOutputStream(out,
              new java.util.zip.Deflater(6, false))
            dos.write(bytes); dos.close()
            (id, variant, bytes.length.toLong, out.size().toLong)
          })
          .toDF("doc_id", "variant", "raw_bytes", "gz_bytes")
        val per = rated.groupBy("variant").agg(
          count(lit(1)).as("n_docs"),
          expr("(sum(gz_bytes) * 1000) div sum(raw_bytes)").as("permille"))
        val rep = per.filter(col("variant") === "repetitive")
          .select(col("permille").as("rep_pm"))
        per.crossJoin(rep)
          .select(col("variant"), col("n_docs"),
            (col("permille") > 0 && col("permille") < 1000).as("ratio_sane"),
            (col("variant") === "repetitive" || col("rep_pm") < col("permille"))
              .as("repetitive_smaller"))
      },
      Some("""
        SELECT CASE WHEN doc_id % 9 = 0 THEN 'repetitive' ELSE 'normal' END AS variant,
               COUNT(*) AS n_docs,
               TRUE AS ratio_sane,
               TRUE AS repetitive_smaller
        FROM documents
        GROUP BY 1""")),

    // ───── incremental rolling hash over the character stream (the
    // Rabin-Karp-style fingerprint a chunking pipeline would maintain):
    // h = fold (h*31 + ascii(c)) & 2^40-1. Bounded at 2^45 per step, so
    // both engines produce identical exact int64s.
    QuerySpec(
      "text_rolling_hash",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        expr("aggregate(split(text, ''), 0L, (h, c) -> (h * 31 + ascii(c)) & 1099511627775L)")
          .as("rhash"),
        expr("length(text)").cast("long").as("n_chars")),
      Some("""
        SELECT doc_id,
               list_reduce(list_prepend(0::BIGINT,
                             [ascii(c)::BIGINT for c in string_split(text, '')]),
                           (h, c) -> (h * 31 + c) & 1099511627775) AS rhash,
               CAST(len(text) AS BIGINT) AS n_chars
        FROM documents""")),

    // ───── content fingerprinting: full-text digest + min-shingle hash
    // (winnowing-style representative over word 5-grams). The shingle
    // hash is pure integer arithmetic over per-word hashes — one md5 per
    // WORD, not per shingle (every product/sum bounded under 2^63, both
    // engines exact int64).
    QuerySpec(
      "text_fingerprint",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("fp_full"),
        expr(Corpus.let("ws", "word_hash40(text)",
          """array_min(transform(sequence(1, size(ws) - 4),
               i -> (element_at(ws, i)     * 31L
                   + element_at(ws, i + 1) * 37L
                   + element_at(ws, i + 2) * 41L
                   + element_at(ws, i + 3) * 43L
                   + element_at(ws, i + 4) * 47L) & 1099511627775L))"""))
          .as("fp_shingle_min"),
        expr("cast(size(split(text, ' ')) - 4 as bigint)").as("n_shingles")),
      Some("""
        SELECT doc_id, md5(text) AS fp_full,
               CAST(list_min([(ws[i]*31 + ws[i+1]*37 + ws[i+2]*41 + ws[i+3]*43 + ws[i+4]*47)
                              & 1099511627775
                              for i in range(1, len(ws) - 3)]) AS BIGINT) AS fp_shingle_min,
               CAST(len(ws) - 4 AS BIGINT) AS n_shingles
        FROM (SELECT doc_id, text,
                     list_transform(string_split(text, ' '),
                                    w -> ('0x' || substr(md5(w), 1, 10))::BIGINT) AS ws
              FROM documents)""")),

    // ───── PII scrubbing: redact emails and IPv4s before training — the
    // compliance map stage every corpus pipeline runs. The corpus is
    // synthetic, so PII is INJECTED deterministically from doc_id (both
    // engines build the identical dirty text) and then scrubbed with the
    // same two regexes. Patterns avoid Java-vs-RE2 dialect divergence
    // (no backrefs, no lookaround, no POSIX classes). Pure per-row map,
    // 0 exchanges.
    QuerySpec(
      "text_pii_scrub",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        Tables.documents(s, d)
          .withColumn("dirty", expr(
            """concat(text, ' contact u', doc_id, '@mail.example.com from 10.',
                      doc_id % 256, '.', (doc_id * 7) % 256, '.', (doc_id * 13) % 256)"""))
          .select(
            col("doc_id"),
            // Column API, not expr(): a SQL string literal would unescape
            // '\.' to '.' (unknown escape), silently loosening the COUNT
            // patterns while the regexp_replace ones (Column API) and the
            // oracle stay strict — counts would overmatch e.g. a dotless
            // host or digit runs with single-char separators
            regexp_count(col("dirty"), lit(email)).cast("int").as("n_emails"),
            regexp_count(col("dirty"), lit(ip)).cast("int").as("n_ips"),
            regexp_replace(regexp_replace(col("dirty"), email, "<EMAIL>"), ip, "<IP>")
              .as("scrubbed"))
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(dirty,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(dirty,
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ips,
               regexp_replace(regexp_replace(dirty,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS scrubbed
        FROM (SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS dirty
              FROM documents)""")),

    // ───── repetition scoring (Gopher-style): most-frequent-token share
    // and duplicate-bigram count — the cheap repetition signals that gate
    // machine-generated/boilerplate text. Integer counts only, and the
    // `repetitive` flag compares scaled integers (top*5 > n ⇔ share>0.2),
    // so both engines agree exactly with no float thresholds. Each heavy
    // HOF is let-bound (one token split per row) and referenced at most
    // twice (count column + flag) — bounded inlining, not the measured
    // CollapseProject blowup. Per-row map, 0 exchanges.
    QuerySpec(
      "text_repetition",
      (s, d) => {
        val topCnt = Corpus.let("toks", "split(text, ' ')",
          """array_max(transform(array_distinct(toks),
               t -> size(filter(toks, x -> x = t))))""")
        val nDistinctBi = Corpus.let("toks", "split(text, ' ')",
          """size(array_distinct(transform(
               sequence(1, size(toks) - 1),
               i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))))""")
        Tables.documents(s, d)
          .filter(expr("size(split(text, ' ')) >= 2"))
          .select(
            col("doc_id"),
            expr("cast(size(split(text, ' ')) as int)").as("n_tokens"),
            expr(s"cast($topCnt as int)").as("top_tok_cnt"),
            expr(s"cast(size(split(text, ' ')) - 1 - $nDistinctBi as int)").as("n_dup_bigrams"),
            expr(s"""($topCnt * 5 > size(split(text, ' ')))
                     or (((size(split(text, ' ')) - 1) - $nDistinctBi) * 5
                         > size(split(text, ' ')) - 1)""").as("repetitive"))
      },
      Some("""
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(top_tok_cnt AS INTEGER) AS top_tok_cnt,
               CAST(n_bigrams - n_distinct_bi AS INTEGER) AS n_dup_bigrams,
               (top_tok_cnt * 5 > n_tokens
                 OR (n_bigrams - n_distinct_bi) * 5 > n_bigrams) AS repetitive
        FROM (
          SELECT doc_id,
                 len(toks) AS n_tokens,
                 list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))) AS top_tok_cnt,
                 len(toks) - 1 AS n_bigrams,
                 len(list_distinct([toks[i] || ' ' || toks[i+1]
                                    for i in range(1, len(toks))])) AS n_distinct_bi
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 2)""")),

    // ───── inverted-index build: corpus-level term statistics — document
    // frequency, total term frequency, first posting — the primitive under
    // search, idf weighting, and shingle-inventory decontamination. The
    // scalable shape: per-document term COUNTS are computed locally (a
    // per-row map), so each document emits each term once and df is a
    // plain count(*) — ONE hash-agg shuffle with map-side partials. A
    // countDistinct(doc_id) formulation instead plans the distinct-agg
    // expand: a second shuffle on (term, doc_id) carrying every token
    // occurrence — the shape that dies first at corpus scale. Output
    // bounded by a df floor (rare-term tail stays distributed).
    QuerySpec(
      "text_inverted_index",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(Corpus.let("toks", "split(text, ' ')",
          """transform(array_distinct(toks),
               t -> struct(t AS term, size(filter(toks, x -> x = t)) AS cnt))""")))
          .as("tc"))
        .groupBy(col("tc.term").as("term"))
        .agg(
          count(lit(1)).as("df"),
          sum(col("tc.cnt")).as("tf_total"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("df") >= 20),
      Some("""
        SELECT term,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
               CAST(COUNT(*) AS BIGINT) AS tf_total,
               MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term
        HAVING COUNT(DISTINCT doc_id) >= 20""")),

    // ───── Term burstiness (r14): Church/Gale dispersion — a term that
    // appears in bursts (many times in few docs) carries topical
    // signal; one spread evenly (stopword-like) doesn't. Fano factor of
    // PER-DOC counts INCLUDING zero-docs, computed without ever
    // materializing zeros: with S = Σc and Q = Σc² over the term's
    // posting rows and N the corpus size, Fano = (N·Q − S²)/(N·S) —
    // exact milli via one truncating DECIMAL division. Rides the
    // inverted-index one-shuffle discipline (per-doc-distinct terms
    // with local counts); top-20 by (tf DESC, term) through
    // TakeOrderedAndProject. The temporal sibling is events_fano_factor.
    QuerySpec(
      "text_term_burstiness",
      (s, d) => {
        val posting = Tables.documents(s, d)
          .select(col("doc_id"), explode(expr(Corpus.let("toks", "split(text, ' ')",
            """transform(array_distinct(toks),
                 t -> struct(t AS term, size(filter(toks, x -> x = t)) AS cnt))""")))
            .as("tc"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        posting
          .groupBy(col("tc.term").as("term"))
          .agg(count(lit(1)).as("df"),
            sum(col("tc.cnt").cast("decimal(38,0)")).as("s"),
            sum(col("tc.cnt").cast("decimal(38,0)") * col("tc.cnt")).as("q"))
          .crossJoin(broadcast(nDocs))
          .select(col("term"), col("df"), col("s").cast("long").as("tf_total"),
            expr("""cast((cast(n_docs as decimal(38,0)) * q - s * s) * 1000
                    div (cast(n_docs as decimal(38,0)) * s) as bigint)""")
              .as("fano_milli"))
          .orderBy(col("tf_total").desc, col("term")).limit(20)
      },
      Some("""
        WITH posting AS (
          SELECT doc_id, term, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)
          GROUP BY 1, 2),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        g AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(CAST(cnt AS HUGEINT)) AS HUGEINT) AS s,
                 CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS q
          FROM posting GROUP BY 1)
        SELECT term, df, CAST(s AS BIGINT) AS tf_total,
               CAST((CAST(n_docs AS HUGEINT) * q - s * s) * 1000
                    // (CAST(n_docs AS HUGEINT) * s) AS BIGINT) AS fano_milli
        FROM g, nd
        ORDER BY tf_total DESC, term LIMIT 20""")),

    // ───── token co-occurrence: adjacent-bigram counts (the PMI numerator
    // for phrase mining / tokenizer quality). Same one-shuffle discipline
    // as the inverted index: per-document DISTINCT bigrams with local
    // counts (one split per row via the let binding), so n_docs is a
    // plain count(*) — no distinct-agg expand. The (count DESC, bigram
    // ASC) order is total, so the LIMIT is a deterministic set; Spark
    // executes it as TakeOrderedAndProject (no global sort).
    QuerySpec(
      "text_cooccurrence",
      (s, d) => Tables.documents(s, d)
        // single-token (and empty) docs have no bigrams — and unguarded,
        // sequence(1, 0) DESCENDS to [1, 0] and element_at(toks, 0)
        // throws; same guard as text_repetition
        .filter(expr("size(split(text, ' ')) >= 2"))
        .select(col("doc_id"),
          explode(expr(Corpus.let("bis",
            Corpus.let("toks", "split(text, ' ')",
              """transform(sequence(1, size(toks) - 1),
                   i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""),
            """transform(array_distinct(bis),
                 b -> struct(b AS bigram, size(filter(bis, x -> x = b)) AS cnt))""")))
            .as("bc"))
        .groupBy(col("bc.bigram").as("bigram"))
        .agg(sum(col("bc.cnt")).as("cnt"), count(lit(1)).as("n_docs"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50),
      Some("""
        SELECT bigram,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (
          SELECT doc_id,
                 unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 2)
        GROUP BY bigram
        ORDER BY cnt DESC, bigram
        LIMIT 50""")),

    // ───── tf-idf retrieval (the search primitive on top of the
    // inverted-index machinery): score the corpus against a fixed query
    // term set, top-20 by relevance. idf is INTEGER — (N*1000) div df,
    // exact integer division in both engines — because log() differs in
    // the last ulp across libm implementations and would break the hash
    // compare; the integer idf preserves the df-based ordering that
    // matters. Plan: the per-(doc, term) tf agg only ever sees rows
    // matching the tiny query term set (filter pushed to the scan side
    // of the explode), df is a ≤|terms|-row aggregate broadcast back,
    // and the final top-20 is TakeOrderedAndProject. N (corpus size) is
    // a driver-side scalar — one count, the k-means control-plane
    // pattern.
    QuerySpec(
      "text_search_tfidf",
      (s, d) => {
        val n = Tables.documents(s, d).count()
        val terms = Seq("spark", "stream", "vector")
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "term")
          .withColumn("w", expr(s"tf * ((${n}L * 1000L) div df)"))
          .groupBy("doc_id").agg(sum("w").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
          WHERE term IN ('spark', 'stream', 'vector')
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, CAST(SUM(tf * ((n.n * 1000) // dfreq.df)) AS BIGINT) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20""")),

    // ───── BM25 ranked retrieval (r13, VERDICT r12 #2): the production
    // scoring function on the same inverted-index machinery as
    // text_search_tfidf. Okapi BM25 with k1 = 1.2 = 6/5 and b = 0.75 =
    // 3/4 carried as integer RATIONALS — cross-multiplied so no float
    // appears anywhere (libm-free, the house discipline). Derivation,
    // with N = corpus size, L = Σ doclen (so avgdl = L/N), dl = doclen,
    // tf = term frequency:
    //   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    //     = 22·L·tf / (10·L·tf + 3·L + 9·dl·N)        (×10·L top+bottom)
    // idf uses the exact RATIONAL Robertson ratio (N − df + ½)/(df + ½)
    // = (2N − 2df + 1)/(2df + 1), scaled ×1000 and integer-divided —
    // monotone in df like the log form, exact in both engines (the
    // text_search_tfidf integer-idf discipline). Per-term contribution
    // lands as ONE integer division to micro-points (numerator through
    // DECIMAL(38)/HUGEINT: idf_milli ≤ 2e12 at N = 1e9 docs, ×22·L·tf·
    // 1000 ≈ 1e29 — inside 38 digits; the summed score ≤ ~2e16·|terms|
    // fits BIGINT). Plan: the per-(doc,term) tf agg only sees rows
    // matching the 3-term query set, dl rides the explode row so no
    // second corpus pass, df is a ≤|terms|-row broadcast, N and L are
    // one control-plane scalar pull, top-20 via TakeOrderedAndProject
    // (PlanSpec-pinned).
    QuerySpec(
      "text_search_bm25",
      (s, d) => {
        val terms = Seq("spark", "stream", "vector")
        val (n, l) = {
          val r = Tables.documents(s, d)
            .agg(count(lit(1)), sum(expr("size(split(text, ' '))"))).head()
          (r.getLong(0), r.getLong(1))
        }
        val tf = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("size(split(text, ' '))").as("dl"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "term")
          .withColumn("idf_milli",
            expr(s"((2L * ${n}L - 2L * df + 1L) * 1000L) div (2L * df + 1L)"))
          .withColumn("w", expr(
            s"""cast(cast(idf_milli as decimal(38,0)) * 22 * ${l}L * tf * 1000
                div (10 * cast(${l}L as decimal(38,0)) * tf + 3 * ${l}L
                     + 9 * cast(dl as decimal(38,0)) * ${n}L) as bigint)"""))
          .groupBy("doc_id").agg(sum("w").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH stats AS (
          SELECT COUNT(*) AS n, SUM(len(string_split(text, ' '))) AS l
          FROM documents),
        tf AS (
          SELECT doc_id, term, dl, COUNT(*) AS tf
          FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                       unnest(string_split(text, ' ')) AS term
                FROM documents)
          WHERE term IN ('spark', 'stream', 'vector')
          GROUP BY doc_id, term, dl),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id,
                 CAST(CAST(((2 * s.n - 2 * dfreq.df + 1) * 1000)
                             // (2 * dfreq.df + 1) AS HUGEINT)
                      * 22 * s.l * tf.tf * 1000
                      // (10 * CAST(s.l AS HUGEINT) * tf.tf + 3 * s.l
                          + 9 * CAST(tf.dl AS HUGEINT) * s.n)
                   AS BIGINT) AS w
          FROM tf JOIN dfreq USING (term) CROSS JOIN stats s)
        SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20""")),

    // ───── Burrows' Delta (r16): the standard stylometric distance
    // between sources (authorship attribution's workhorse since
    // Burrows 2002) — over the corpus's 50 most frequent words, each
    // source's relative frequency z-scores against the across-source
    // mean/std per word, and Delta(s1, s2) = mean |z₁ − z₂|. Everything
    // exact fixed-point: frequencies in ppm of the source's token
    // count; per-word std as floor(sqrt(exact-integer variance)) — ONE
    // correctly-rounded double sqrt per word (the house budget),
    // floored back to an integer before any z so the |z| sums are exact
    // integer milli, never an order-dependent double sum; sign-split
    // truncating division for the (possibly negative) z numerators.
    // Plan: one token hash-agg, a 50-row broadcast of the vocabulary,
    // sources × 50 control-plane frames, a (sources choose 2) pair join
    // — corpus cost is the single token pass.
    QuerySpec(
      "text_burrows_delta",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .localCheckpoint(true) // feeds vocab AND per-source counts
        val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w")).limit(50)
          .select(col("w"))
        val perSrc = toks.groupBy("source").agg(count(lit(1)).as("ntok"))
        val tf = toks.join(broadcast(vocab), "w")
          .groupBy("source", "w").agg(count(lit(1)).as("tf"))
        // COMPLETE (source × vocab) lattice: a source missing a top-50
        // word contributes its zero frequency (and its z = −mean/std),
        // it does not silently drop from the pair join
        val f = perSrc.crossJoin(broadcast(vocab))
          .join(tf, Seq("source", "w"), "left")
          .select(col("source"), col("w"),
            expr("coalesce(tf, 0L) * 1000000 div ntok").as("fppm"))
          .localCheckpoint(true) // feeds word stats AND z join
        val nsrc = f.select("source").distinct().count()
        val stats = f.groupBy("w")
          .agg(sum("fppm").as("sf"),
            sum(expr("fppm * fppm")).as("sf2"),
            count(lit(1)).as("npresent"))
          // absent (source, word) pairs are zeros: complete the moments
          .select(col("w"),
            expr(s"sf div ${nsrc}L").as("mean_ppm"),
            expr(
              s"""cast(floor(sqrt(cast(
                    (sf2 - 2 * (sf div ${nsrc}L) * sf
                     + ${nsrc}L * (sf div ${nsrc}L) * (sf div ${nsrc}L))
                    div ${nsrc}L as double))) as bigint)""").as("std_ppm"))
        val z = f.join(broadcast(stats), "w")
          .select(col("source"), col("w"),
            expr("""case when std_ppm <= 0 then 0L
                    when fppm >= mean_ppm
                    then ((fppm - mean_ppm) * 1000) div std_ppm
                    else -(((mean_ppm - fppm) * 1000) div std_ppm)
                    end""").as("z_milli"))
        z.as("a").join(z.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_words"),
            sum(expr("abs(a.z_milli - b.z_milli)")).as("abs_z_sum"))
          .select(col("src_a"), col("src_b"), col("n_words"),
            expr("abs_z_sum div n_words").as("delta_milli"))
      },
      Some("""
        WITH toks AS MATERIALIZED (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents),
        vocab AS MATERIALIZED (
          SELECT w FROM (
            SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1
            ORDER BY cnt DESC, w LIMIT 50)),
        persrc AS (SELECT source, COUNT(*) AS ntok FROM toks GROUP BY 1),
        tf AS (
          SELECT source, w, COUNT(*) AS tf
          FROM toks JOIN vocab USING (w) GROUP BY 1, 2),
        f AS MATERIALIZED (
          SELECT p.source, v.w,
                 COALESCE(t.tf, 0) * 1000000 // p.ntok AS fppm
          FROM persrc p CROSS JOIN vocab v
          LEFT JOIN tf t ON t.source = p.source AND t.w = v.w),
        nsrc AS (SELECT COUNT(DISTINCT source) AS ns FROM f),
        stats AS MATERIALIZED (
          SELECT w, sf // ns AS mean_ppm,
                 CAST(floor(sqrt(CAST(
                   (sf2 - 2 * (sf // ns) * sf + ns * (sf // ns) * (sf // ns))
                   // ns AS DOUBLE))) AS BIGINT) AS std_ppm
          FROM (SELECT w, CAST(SUM(fppm) AS BIGINT) AS sf,
                       CAST(SUM(fppm * fppm) AS BIGINT) AS sf2
                FROM f GROUP BY 1), nsrc),
        z AS MATERIALIZED (
          SELECT f.source, f.w,
                 CASE WHEN s.std_ppm <= 0 THEN 0
                      WHEN f.fppm >= s.mean_ppm
                      THEN ((f.fppm - s.mean_ppm) * 1000) // s.std_ppm
                      ELSE -(((s.mean_ppm - f.fppm) * 1000) // s.std_ppm)
                 END AS z_milli
          FROM f JOIN stats s USING (w))
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_words,
               CAST(SUM(ABS(a.z_milli - b.z_milli))
                    // COUNT(*) AS BIGINT) AS delta_milli
        FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2""")),

    // ───── Proximity-weighted BM25 (r16, VERDICT r15 #7): the ranking
    // layer every production search stack adds on top of bag-of-words
    // BM25 (Rasolofo & Savoy ECIR 2003 / Büttcher SIGIR 2006 class) —
    // documents where DISTINCT query terms co-occur NEAR each other
    // outrank bag-equal documents. Scoring = text_search_bm25's exact
    // integer rationals (identical w formula) + a proximity bonus per
    // close pair of distinct query terms: for occurrences at distance
    // d ∈ [1, 8], bonus = (idf_a + idf_b)·500 div d² micro-points — the
    // 1/d² kernel in exact integer division, idf-weighted so rare-term
    // adjacency dominates (all declared rationals, libm-free). The pair
    // search is NOT a per-doc position cross join with a band filter:
    // each of the 16 signed offsets becomes its own EXACT equi-join key
    // (posting row exploded to pos+δ), so matching is one (doc, pos)
    // hash join on the 3-term posting lists — linear in posting mass at
    // any corpus size, the text_search_phrase shifted-join discipline
    // generalized to a distance band. Readout is the ranking DELTA the
    // bonus causes (the nprobe-sweep evidence pattern): top-20 under
    // the proximity score with each doc's plain-BM25 rank alongside
    // (rank_plain via a 20-row broadcast count-join against the full
    // plain scoring — never a data-sized window; rank_prox is a window
    // over the 20-row result). Position bases differ across engines
    // (0- vs 1-based) but only differences enter.
    QuerySpec(
      "text_search_bm25_prox",
      (s, d) => {
        val terms = Seq("spark", "stream", "vector")
        val (n, l) = {
          val r = Tables.documents(s, d)
            .agg(count(lit(1)), sum(expr("size(split(text, ' '))"))).head()
          (r.getLong(0), r.getLong(1))
        }
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("size(split(text, ' '))").as("dl"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
          .filter(col("term").isin(terms: _*))
          .localCheckpoint(true) // feeds tf AND both prox join sides
        val tf = toks.groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("idf_milli",
            expr(s"((2L * ${n}L - 2L * df + 1L) * 1000L) div (2L * df + 1L)"))
        val plain = tf.join(broadcast(dfreq), "term")
          .withColumn("w", expr(
            s"""cast(cast(idf_milli as decimal(38,0)) * 22 * ${l}L * tf * 1000
                div (10 * cast(${l}L as decimal(38,0)) * tf + 3 * ${l}L
                     + 9 * cast(dl as decimal(38,0)) * ${n}L) as bigint)"""))
          .groupBy("doc_id").agg(sum("w").as("sp"))
          .localCheckpoint(true) // feeds the top-20 AND the rank count-join
        val exp = toks.select(col("doc_id"), col("term").as("tb"), col("pos"),
            explode(expr(
              "array(-8,-7,-6,-5,-4,-3,-2,-1,1,2,3,4,5,6,7,8)")).as("delta"))
          .select(col("doc_id"), col("tb"),
            (col("pos") + col("delta")).as("pos"),
            abs(col("delta")).as("dist"))
        val bonus = toks.select(col("doc_id"), col("term").as("ta"), col("pos"))
          .join(exp, Seq("doc_id", "pos"))
          .filter(col("ta") < col("tb"))
          .join(broadcast(dfreq.select(col("term").as("ta"),
            col("idf_milli").as("ia"))), "ta")
          .join(broadcast(dfreq.select(col("term").as("tb"),
            col("idf_milli").as("ib"))), "tb")
          .withColumn("bw", expr("(ia + ib) * 500 div cast(dist * dist as bigint)"))
          .groupBy("doc_id").agg(sum("bw").as("bonus_micro"))
        val top = plain.join(bonus, Seq("doc_id"), "left")
          .withColumn("bonus_micro", coalesce(col("bonus_micro"), lit(0L)))
          .withColumn("score", col("sp") + col("bonus_micro"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .localCheckpoint(true) // 20 rows; feeds the rank join + window
        val ranked = top.as("t").join(plain.as("p"),
            col("p.sp") > col("t.sp") ||
              (col("p.sp") === col("t.sp") && col("p.doc_id") < col("t.doc_id")),
            "left")
          .groupBy(col("t.doc_id").as("doc_id"), col("t.score").as("score"),
            col("t.sp").as("score_plain"), col("t.bonus_micro").as("bonus_micro"))
          .agg(sum(when(col("p.doc_id").isNotNull, 1L).otherwise(0L))
            .as("n_better"))
        val wr = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        ranked
          .withColumn("rank_prox", row_number().over(wr).cast("long"))
          .withColumn("rank_plain", col("n_better") + 1)
          .select(col("doc_id"), col("score"), col("score_plain"),
            col("bonus_micro"), col("rank_prox"), col("rank_plain"),
            (col("rank_plain") - col("rank_prox")).as("rank_delta"))
      },
      Some("""
        WITH stats AS MATERIALIZED (
          SELECT COUNT(*) AS n, SUM(len(string_split(text, ' '))) AS l
          FROM documents),
        toks AS MATERIALIZED (
          SELECT doc_id, dl, u.term, u.pos FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   string_split(text, ' ') AS tl FROM documents),
            UNNEST([{'term': tl[i], 'pos': i}
                    for i in range(1, len(tl) + 1)]) AS t(u)
          WHERE u.term IN ('spark', 'stream', 'vector')),
        tf AS (
          SELECT doc_id, term, dl, COUNT(*) AS tf
          FROM toks GROUP BY 1, 2, 3),
        dfreq AS MATERIALIZED (
          SELECT term, COUNT(*) AS df,
                 ((2 * (SELECT n FROM stats) - 2 * COUNT(*) + 1) * 1000)
                   // (2 * COUNT(*) + 1) AS idf_milli
          FROM tf GROUP BY term),
        plain AS MATERIALIZED (
          SELECT tf.doc_id,
                 CAST(SUM(CAST(dfreq.idf_milli AS HUGEINT)
                      * 22 * s.l * tf.tf * 1000
                      // (10 * CAST(s.l AS HUGEINT) * tf.tf + 3 * s.l
                          + 9 * CAST(tf.dl AS HUGEINT) * s.n))
                   AS BIGINT) AS sp
          FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
          GROUP BY 1),
        exp AS (
          SELECT doc_id, term AS tb, pos + dd.delta AS pos,
                 abs(dd.delta) AS dist
          FROM toks CROSS JOIN (
            SELECT unnest([-8,-7,-6,-5,-4,-3,-2,-1,1,2,3,4,5,6,7,8])
              AS delta) dd),
        bonus AS (
          SELECT a.doc_id,
                 CAST(SUM((da.idf_milli + db.idf_milli) * 500
                          // (e.dist * e.dist)) AS BIGINT) AS bonus_micro
          FROM toks a
          JOIN exp e ON a.doc_id = e.doc_id AND a.pos = e.pos
                     AND a.term < e.tb
          JOIN dfreq da ON da.term = a.term
          JOIN dfreq db ON db.term = e.tb
          GROUP BY 1),
        top AS MATERIALIZED (
          SELECT p.doc_id, p.sp,
                 COALESCE(b.bonus_micro, 0) AS bonus_micro,
                 p.sp + COALESCE(b.bonus_micro, 0) AS score
          FROM plain p LEFT JOIN bonus b USING (doc_id)
          ORDER BY score DESC, doc_id LIMIT 20)
        SELECT t.doc_id, CAST(t.score AS BIGINT) AS score,
               t.sp AS score_plain, CAST(t.bonus_micro AS BIGINT) AS bonus_micro,
               ROW_NUMBER() OVER (ORDER BY t.score DESC, t.doc_id)
                 AS rank_prox,
               1 + (SELECT COUNT(*) FROM plain p
                    WHERE p.sp > t.sp
                       OR (p.sp = t.sp AND p.doc_id < t.doc_id)) AS rank_plain,
               1 + (SELECT COUNT(*) FROM plain p
                    WHERE p.sp > t.sp
                       OR (p.sp = t.sp AND p.doc_id < t.doc_id))
               - ROW_NUMBER() OVER (ORDER BY t.score DESC, t.doc_id)
                 AS rank_delta
        FROM top t""")),

    // ───── PHRASE search over a positional index (r13): the retrieval
    // operation bag-of-words scoring (tfidf/BM25) cannot express —
    // "these tokens ADJACENT, in order". Positions ride the token
    // explode (posexplode — zero extra passes); each phrase term's
    // posting list is filtered BEFORE the join, so only matching terms'
    // (doc, pos) rows shuffle, and adjacency is one equi-join on
    // (doc_id, pos) with the second term's positions shifted by −1 —
    // the standard positional-index intersection, linear in the two
    // posting lists at any corpus size (never in the corpus). Counts
    // per doc, top-20 under the (n_phrase DESC, doc_id) total order via
    // TakeOrderedAndProject. Position BASES differ across engines
    // (Spark posexplode is 0-based, DuckDB ordinality 1-based) but only
    // DIFFERENCES are compared, so adjacency is base-invariant.
    QuerySpec(
      "text_search_phrase",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        val t1 = toks.filter(col("term") === "stream")
          .select(col("doc_id"), col("pos"))
        val t2 = toks.filter(col("term") === "column")
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        t1.join(t2, Seq("doc_id", "pos"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_phrase"))
          .orderBy(col("n_phrase").desc, col("doc_id")).limit(20)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, u.term, u.pos FROM (
            SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
            UNNEST([{'term': tl[i], 'pos': i}
                    for i in range(1, len(tl) + 1)]) AS t(u)),
        t1 AS (SELECT doc_id, pos FROM toks WHERE term = 'stream'),
        t2 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE term = 'column')
        SELECT doc_id, COUNT(*) AS n_phrase
        FROM t1 JOIN t2 USING (doc_id, pos)
        GROUP BY 1
        ORDER BY n_phrase DESC, doc_id
        LIMIT 20""")),

    // ───── sparse doc↔doc similarity (r8): tf-idf cosine over the
    // inverted index — the SPARSE retrieval complement to the dense ANN
    // family (same signed-cos² determinism contract, different vector
    // space). Weights are integer tf·idf ((N·1000) div df — the X10
    // discipline); the pair dot accumulates term-at-a-time through ONE
    // equi-join on the term, restricted to RARE terms (2 ≤ df ≤ 50, the
    // dedup_containment prefilter) so hot posting lists never go
    // quadratic — the rare-term dot IS the score definition (common
    // terms carry ~zero idf mass anyway). Norms use the FULL weight
    // vector. dot² and na·nb exceed int64, so each exact integer
    // converts to double SEPARATELY (IEEE int64→double is
    // round-to-nearest-even in both engines) and the multiply/divide
    // are single exactly-rounded ops — the sq8ApproxScoreSql contract.
    // Top-20 via TakeOrderedAndProject with a full tiebreak.
    QuerySpec(
      "text_sparse_cosine",
      (s, d) => {
        val n = Tables.documents(s, d).count()
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
        val w = tf.join(dfreq, "t")
          .withColumn("w", expr(s"tf * ((${n}L * 1000L) div df)"))
        val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm"))
        val rare = w.filter(col("df").between(2, 50))
        val pairs = rare.as("a")
          .join(rare.as("b"),
            col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(sum(col("a.w") * col("b.w")).as("dot"))
        pairs
          .join(norms.as("xa"), col("da") === col("xa.doc_id"))
          .join(norms.as("xb"), col("db") === col("xb.doc_id"))
          .select(col("da"), col("db"),
            (col("dot").cast("double") * col("dot").cast("double") /
              (col("xa.nrm").cast("double") * col("xb.nrm").cast("double")))
              .as("score"))
          .orderBy(col("score").desc, col("da"), col("db")).limit(20)
      },
      Some("""
        WITH tf AS (
          SELECT doc_id, t, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
          GROUP BY 1, 2),
        dfv AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
        nc AS (SELECT COUNT(*) AS n FROM documents),
        w AS (SELECT tf.doc_id, tf.t, dfv.df,
                     tf.tf * ((nc.n * 1000) // dfv.df) AS w
              FROM tf JOIN dfv USING (t) CROSS JOIN nc),
        norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm FROM w GROUP BY 1),
        rare AS (SELECT * FROM w WHERE df BETWEEN 2 AND 50),
        pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
                  FROM rare a JOIN rare b ON a.t = b.t AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT p.da, p.db,
               (CAST(p.dot AS DOUBLE) * CAST(p.dot AS DOUBLE))
               / (CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)) AS score
        FROM pairs p
        JOIN norms x ON x.doc_id = p.da
        JOIN norms y ON y.doc_id = p.db
        ORDER BY score DESC, p.da, p.db
        LIMIT 20""")),

    // ───── PMI collocations: rank adjacent bigrams by pointwise mutual
    // information — the phrase-mining signal on top of the co-occurrence
    // counts (X9's "PMI numerator" made whole). The score is the exact
    // RATIO form T·c(ab) / (c(a)·c(b)) (monotone in PMI = its log):
    // every factor is an exact integer count and the double multiply /
    // divide are exactly-rounded IEEE — bit-identical across engines,
    // where a libm log would differ in the last ulp. T·c(ab) stays
    // < 2^63 up to ~1e12-token corpora at c(ab) ≤ 1e6; the DENOMINATOR
    // multiplies in double (not Long) because c(a)·c(b) wraps int64 at
    // ~1e9-count unigrams — exactly the corpus scale this targets. Plan: one
    // token-agg shuffle (unigrams), one bigram-agg shuffle, unigram
    // counts broadcast back onto the bigram side TWICE (vocab ≪ corpus),
    // c(ab) ≥ 5 prunes the long tail before the joins, top-20 via
    // TakeOrderedAndProject. T is a one-scan driver scalar (the k-means
    // control-plane pattern).
    QuerySpec(
      "text_pmi",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val t = docs.agg(sum(expr("size(split(text, ' '))"))).head().getLong(0)
        val ug = docs
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c1"))
        val bg = docs
          .filter(expr("size(split(text, ' ')) >= 2"))
          .select(explode(expr(Corpus.let("toks", "split(text, ' ')",
            """transform(sequence(1, size(toks) - 1),
                 i -> struct(element_at(toks, i) AS t1,
                             element_at(toks, i + 1) AS t2))"""))).as("p"))
          .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= 5)
        bg.join(broadcast(ug.withColumnRenamed("term", "t1")
            .withColumnRenamed("c1", "ca")), "t1")
          .join(broadcast(ug.withColumnRenamed("term", "t2")
            .withColumnRenamed("c1", "cb")), "t2")
          .select(
            concat(col("t1"), lit(" "), col("t2")).as("bigram"),
            col("cab"),
            // each factor cast to double BEFORE the multiply: ca·cb in
            // Long wraps silently near 1e9–1e10 unigram counts (where
            // DuckDB would raise) — double products are exact for counts
            // < 2^53 and round identically in both engines
            expr(s"cast(${t}L * cab as double) / (cast(ca as double) * cast(cb as double))").as("pmi_ratio"))
          .orderBy(col("pmi_ratio").desc, col("bigram"))
          .limit(20)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        t AS (SELECT CAST(SUM(len(ts)) AS BIGINT) AS total FROM toks),
        ug AS (
          SELECT term, CAST(count(*) AS BIGINT) AS c1
          FROM (SELECT unnest(ts) AS term FROM toks) GROUP BY term),
        bg AS (
          SELECT t1, t2, CAST(count(*) AS BIGINT) AS cab
          FROM (
            SELECT unnest([{'t1': ts[i], 't2': ts[i+1]} for i in range(1, len(ts))],
                          recursive := true)
            FROM toks WHERE len(ts) >= 2)
          GROUP BY t1, t2
          HAVING count(*) >= 5)
        SELECT bg.t1 || ' ' || bg.t2 AS bigram, bg.cab,
               CAST(t.total * bg.cab AS DOUBLE) / (CAST(a.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE)) AS pmi_ratio
        FROM bg
        JOIN ug a ON a.term = bg.t1
        JOIN ug b ON b.term = bg.t2
        CROSS JOIN t
        ORDER BY pmi_ratio DESC, bigram
        LIMIT 20""")),

    // ───── per-document keyword extraction: top-3 terms by tf·idf with
    // the INTEGER idf of text_search_tfidf ((N·1000) div df — exact in
    // both engines where log differs by ulp). The corpus-side dual of
    // that query's probe-side retrieval: every document gets its own
    // ranked keywords (the metadata a curation pipeline attaches before
    // sampling). Plan: one (doc, term) tf agg shuffle, df as a
    // vocab-sized re-agg broadcast back, one per-doc window for the
    // top-3 — score ties broken by term, so the output is a
    // deterministic set.
    QuerySpec(
      "text_keywords",
      (s, d) => {
        val n = Tables.documents(s, d).count()
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        tf.join(broadcast(dfreq), "term")
          .withColumn("score", expr(s"tf * ((${n}L * 1000L) div df)"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("score"), col("rk"))
      },
      Some("""
        WITH tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, term, score, rk
        FROM (
          SELECT doc_id, term,
                 CAST(tf * ((n.n * 1000) // df) AS BIGINT) AS score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tf * ((n.n * 1000) // df) DESC, term) AS INTEGER) AS rk
          FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        WHERE rk <= 3""")),

    // ───── normalization: lowercase, strip non-alphanumerics, squeeze
    // whitespace — the canonical-form step before exact dedup/hashing.
    // ONE regex pass: a run of non-alphanumerics (spaces included)
    // becomes a single space, which is exactly strip-then-squeeze.
    // POSIX-class-free pattern so Java regex and RE2 agree.
    QuerySpec(
      "text_normalize",
      (s, d) => Tables.documents(s, d)
        .withColumn("norm",
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .select(
          col("doc_id"), col("norm"),
          expr("cast(size(split(norm, ' ')) as int)").as("n_norm_tokens"),
          length(col("norm")).cast("long").as("n_norm_chars")),
      Some("""
        SELECT doc_id, norm,
               CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_norm_tokens,
               CAST(len(norm) AS BIGINT) AS n_norm_chars
        FROM (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
          FROM documents)""")),

    // ───── overlapping chunk construction (r7): the RAG / context-window
    // prep stage — every document split into fixed-width character
    // windows with overlap, each chunk carrying provenance (doc_id,
    // chunk ordinal, start offset) and an md5 content id (the downstream
    // dedup/embedding key). Pure map + explode: nchunks is integer-
    // derived from the length (ceil((len−w)/step)+1, covering every
    // character with the last chunk possibly short), `sequence` +
    // `substring` are codegen'd, ZERO exchanges — at 100 TB this is a
    // scan-shaped stage whose output is ~len/step × input rows, the
    // embedder's natural input partitioning. Both engines hash the same
    // UTF-8 bytes, so chunk_md5 is the cross-engine content id.
    QuerySpec(
      "text_chunk_overlap",
      (s, d) => {
        val w = 120; val step = 90 // overlap 30
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), length(col("text")).as("len"))
          .withColumn("nchunks",
            expr(s"1 + (CASE WHEN len > $w THEN len - $w ELSE 0 END + $step - 1) DIV $step"))
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(0, nchunks - 1)")).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
            (col("chunk_id") * step + 1).cast("long").as("start"),
            expr(s"substring(text, chunk_id * $step + 1, $w)").as("c"))
          .select(col("doc_id"), col("chunk_id"), col("start"),
            length(col("c")).cast("long").as("chunk_len"),
            md5(col("c")).as("chunk_md5"))
      },
      Some("""
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               CAST(i * 90 + 1 AS BIGINT) AS start,
               CAST(len(substr(text, i * 90 + 1, 120)) AS BIGINT) AS chunk_len,
               md5(substr(text, i * 90 + 1, 120)) AS chunk_md5
        FROM (
          SELECT doc_id, text,
                 unnest(range(0,
                   1 + ((CASE WHEN len(text) > 120 THEN len(text) - 120 ELSE 0 END) + 89) // 90))
                   AS i
          FROM documents)""")),

    // ───── chunk-level exact dedup (r7): the money-saving stage a RAG /
    // embedding pipeline runs BEFORE the embedder — cross-document
    // duplicated chunks (license headers, navigation chrome, mirrored
    // passages) detected by their md5 content id from the same chunk
    // construction as text_chunk_overlap. One hash-agg on the content
    // id (the md5 key distributes uniformly — no skew by construction),
    // never a chunk×chunk compare; at 100 TB this is the exact-dedup
    // groupBy shape at chunk granularity, and every duplicated chunk is
    // an embedding call saved.
    QuerySpec(
      "dedup_chunks",
      (s, d) => {
        val w = 120; val step = 90
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), length(col("text")).as("len"))
          .withColumn("nchunks",
            expr(s"1 + (CASE WHEN len > $w THEN len - $w ELSE 0 END + $step - 1) DIV $step"))
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(0, nchunks - 1)")).as("i"))
          .select(col("doc_id"),
            md5(expr(s"substring(text, i * $step + 1, $w)")).as("chunk_md5"))
          .groupBy("chunk_md5")
          .agg(count(lit(1)).as("n_copies"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") > 1)
      },
      Some("""
        SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc
        FROM (
          SELECT doc_id, md5(substr(text, i * 90 + 1, 120)) AS chunk_md5
          FROM (
            SELECT doc_id, text,
                   unnest(range(0,
                     1 + ((CASE WHEN len(text) > 120 THEN len(text) - 120 ELSE 0 END) + 89) // 90))
                     AS i
            FROM documents))
        GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1""")),

    // ───── out-of-vocabulary rate: per-doc share of tokens outside the
    // corpus top-k vocabulary (count DESC, term ASC — a total order, so
    // both engines pick the identical vocabulary even through count
    // ties). The cheap perplexity proxy: a doc mostly made of rare
    // tokens is boilerplate-free but likely garbled/foreign/junk —
    // complements text_quality's surface stats and text_boilerplate's
    // redundancy signal. The vocabulary is k rows via TakeOrdered (no
    // global sort) and joins BROADCAST; integer-percent rate.
    QuerySpec(
      "text_oov_rate",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(10)
          .select(col("w"), lit(1).as("in_v"))
        tok.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            count(when(col("in_v").isNull, 1)).as("n_oov"))
          .withColumn("oov_pct", expr("cast((100 * n_oov) div n_tok as bigint)"))
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 10)
        SELECT t.doc_id, COUNT(*) AS n_tok,
               COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov,
               CAST((100 * COUNT(CASE WHEN v.w IS NULL THEN 1 END)) // COUNT(*) AS BIGINT)
                 AS oov_pct
        FROM tok t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id""")),

    // ───── BPE tokenizer training (r8): the K most frequent adjacent
    // symbol-pair merges over the corpus's word-frequency dictionary —
    // byte-pair encoding's training loop, the step that BUILDS the
    // tokenizer a training pipeline tokenizes with (every prior token
    // query consumes a tokenizer; this one produces its merge table).
    // Classic formulation: words reduce to (distinct word, count) —
    // corpus-size-independent state — each word renders as bracketed
    // character symbols ('<a> <b> ...'), and each of K iterations (1)
    // counts adjacent pairs weighted by word frequency (one hash-agg),
    // (2) picks the argmax with the (count DESC, pair ASC) total order,
    // (3) merges that pair corpus-wide via literal string replace (both
    // engines scan left-to-right non-overlapping). Driver sees ONE row
    // per iteration (the argmax — control-plane); the dictionary never
    // leaves the cluster. The oracle unrolls the identical K iterations
    // as CTEs; emitted rows are the merge RULES (iteration, pair, n) —
    // the artifact a tokenizer ships.
    QuerySpec(
      "text_bpe_train",
      (s, d) => {
        import s.implicits._
        bpeRules(s, d).toDF("it", "pair", "n")
          .select(col("it").cast("int").as("it"), col("pair"), col("n"))
      },
      Some(s"""
        WITH $bpeTrainCtesSql
        ${(1 to BpeK).map(t => s"SELECT $t AS it, pair, n FROM b$t").mkString("\n        UNION ALL\n        ")}""")),

    // ───── BPE tokenization (r8): APPLY the trained merge table — the
    // real-tokenizer upgrade over the ceil(chars/4) estimate every
    // packing query uses. Per word (the distinct-word dictionary, not
    // per occurrence): render symbols, apply the K merges in training
    // order, count the surviving symbols; per document, the BPE token
    // count is the occurrence-weighted sum (broadcast dictionary join —
    // the dictionary is vocabulary-sized). Oracle replays training AND
    // application; n_words vs n_bpe_tokens is the compression the
    // learned merges buy.
    QuerySpec(
      "text_bpe_tokenize",
      (s, d) => {
        var words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w")).distinct()
          .withColumn("s", bpeSymbolCol(col("w")))
        bpeRules(s, d).foreach { case (_, pair, _) =>
          words = words.withColumn("s", bpeReplaceCol(col("s"), pair))
        }
        val wordTok = words.select(col("w"),
          size(split(col("s"), " ")).cast("long").as("ntok"))
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(wordTok), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_bpe_tokens"))
      },
      Some {
        val apply = (1 to BpeK).map { t =>
          s"""
        wt$t AS (
          SELECT w, replace(s, (SELECT pair FROM b$t),
                            replace((SELECT pair FROM b$t), '> <', '')) AS s
          FROM wt${t - 1})"""
        }.mkString(",")
        s"""
        WITH $bpeTrainCtesSql,
        wt0 AS (
          SELECT w, array_to_string(list_transform(range(1, len(w) + 1),
                      i -> '<' || w[i] || '>'), ' ') AS s
          FROM (SELECT DISTINCT w FROM
                (SELECT unnest(string_split(text, ' ')) AS w FROM documents))),$apply,
        wordtok AS (
          SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS ntok FROM wt$BpeK),
        docw AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        SELECT doc_id, count(*) AS n_words,
               CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens
        FROM docw JOIN wordtok USING (w)
        GROUP BY doc_id"""
      }),

    // ───── unigram-LM tokenizer TRAINING (r11): the SentencePiece-style
    // trainer next to BPE — position-lattice EM over 1..3-char candidate
    // pieces with integer per-mille responsibilities, 3 fixed rounds
    // (see the uniScores doc for the honest simplification vs full
    // forward-backward). The oracle replays the unrolled rounds, so the
    // entire training trajectory is hash-gated; emitted rows are the
    // vocab a tokenizer ships (piece, len, final score).
    QuerySpec(
      "text_unigram_train",
      (s, d) => uniScores(s, d)
        .filter(length(col("piece")) >= 2)
        .orderBy(col("score").desc, col("piece"))
        .limit(UniVocab)
        .select(col("piece"), length(col("piece")).cast("int").as("len"),
          col("score")),
      Some(s"""
        WITH $uniTrainCtesSql
        SELECT piece, CAST(len(piece) AS INTEGER) AS len, score
        FROM s$UniIters WHERE len(piece) >= 2
        ORDER BY score DESC, piece LIMIT $UniVocab""")),

    // ───── unigram-LM tokenization (r11): APPLY the trained vocab with
    // greedy longest-match — per word, walk left to right trying a
    // 3-char then 2-char vocab piece at the cursor, else consume one
    // char; token count per document is the sum over its words. The
    // walk is a bounded fold over word positions (Spark `aggregate` /
    // DuckDB `list_reduce` with a [pos, count] state — same 1-based
    // substring semantics both sides), the vocab rides as a ≤24-entry
    // literal IN-list (a driver pull of the train query's own output,
    // memoized). Pure per-row map — no shuffle, no join, O(chars).
    QuerySpec(
      "text_unigram_tokenize",
      (s, d) => {
        val vocab = uniVocab(s, d)
        def inList(xs: Seq[String]) =
          if (xs.isEmpty) "('\u0000')"
          else xs.map(p => s"'${p.replace("'", "''")}'")
            .mkString("(", ", ", ")")
        val v3 = inList(vocab.filter(_._2 == 3).map(_._1))
        val v2 = inList(vocab.filter(_._2 == 2).map(_._1))
        Tables.documents(s, d).select(col("doc_id"),
          expr("size(split(text, ' '))").cast("long").as("n_words"),
          expr(s"""aggregate(
              transform(split(text, ' '), w ->
                aggregate(sequence(1, length(w)),
                  named_struct('pos', 1, 'cnt', 0L),
                  (acc, i) -> if(i = acc.pos,
                    named_struct(
                      'pos', acc.pos + (case
                        when substring(w, acc.pos, 3) in $v3 then 3
                        when substring(w, acc.pos, 2) in $v2 then 2
                        else 1 end),
                      'cnt', acc.cnt + 1L),
                    acc)).cnt),
              0L, (a, x) -> a + x)""").as("n_tokens"))
      },
      // the oracle re-derives the SAME vocab from its replayed training
      // (no literal leak of engine output into the oracle) and runs the
      // greedy walk as a RECURSIVE CTE over (doc, word-index) states —
      // plain SQL, because DuckDB 1.0's list_reduce misaligns any
      // non-literal value captured by its lambda across vectorized rows
      // (measured: the same word got different token counts in
      // different rows), so the fold form is un-oracle-able
      Some(s"""
        WITH RECURSIVE $uniTrainCtesSql,
        vocab AS (
          SELECT piece, len(piece) AS l FROM (
            SELECT piece, score FROM s$UniIters WHERE len(piece) >= 2
            ORDER BY score DESC, piece LIMIT $UniVocab)),
        docw AS (
          SELECT doc_id, u.wi AS wi, u.w AS w
          FROM (SELECT doc_id,
                       unnest([{'wi': i, 'w': ws[i]}
                               for i in range(1, len(ws) + 1)]) AS u
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents))),
        walk(doc_id, wi, w, pos, cnt) AS (
          SELECT doc_id, wi, w, 1, 0 FROM docw
          UNION ALL
          SELECT doc_id, wi, w, pos + CASE
                   WHEN substr(w, pos, 3) IN
                     (SELECT piece FROM vocab WHERE l = 3) THEN 3
                   WHEN substr(w, pos, 2) IN
                     (SELECT piece FROM vocab WHERE l = 2) THEN 2
                   ELSE 1 END,
                 cnt + 1
          FROM walk WHERE pos <= len(w)),
        wt AS (SELECT doc_id, wi, MAX(cnt) AS c FROM walk GROUP BY 1, 2)
        SELECT w0.doc_id, w0.n_words, t.n_tokens
        FROM (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
              FROM documents) w0
        JOIN (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens
              FROM wt GROUP BY doc_id) t ON t.doc_id = w0.doc_id""")),

    // ───── repeated-span duplication profile (r8): per document, how
    // many of its tokens sit inside a ≥10-token span that also appears
    // in ANOTHER document — the exact-substring dedup signal
    // ("Deduplicating Training Data Makes Language Models Better"
    // measures exactly this class: long verbatim repeats that n-gram
    // Jaccard and MinHash under-weight). Production substring dedup
    // TRIMS these ranges; this query computes the per-doc coverage a
    // trimmer would remove. Shape: width-10 rolling window with START
    // POSITIONS (map + explode), df per span hash from per-doc-distinct
    // spans (the inverted-index discipline — one hash-agg), cross-doc
    // common spans join back, and the INTERVAL UNION of covered
    // [i, i+10) ranges folds to one window expression — for sorted
    // starts, each start contributes min(W, next_start − start), last
    // contributes W — so coverage needs no per-doc list materialization,
    // just one lead() over (doc, start). Cost: two shuffles (df agg +
    // per-doc window), both linear in span occurrences.
    QuerySpec(
      "text_dup_spans",
      (s, d) => {
        val W = 10
        // span construction (split + per-span md5 lambdas) feeds three
        // consumers (occurrences, df, totals): build once, persist (the
        // boilerGramArr discipline)
        val spans = Corpus.cached(s, d, "dupSpanArr") {
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
              expr(
                s"""case when size(t) >= $W
                    then transform(sequence(1, size(t) - ${W - 1}),
                                   i -> struct(i AS i, md5(concat_ws(' ', slice(t, i, $W))) AS g))
                    else array() end""").as("gs"))
        }
        val occ = spans.select(col("doc_id"), explode(col("gs")).as("s"))
          .select(col("doc_id"), col("s.i").as("i"), col("s.g").as("g"))
        // df over DISTINCT (doc, span): a span repeated inside ONE doc
        // is self-repetition (text_repetition's business), not
        // cross-document duplication
        val df_ = spans
          .select(col("doc_id"), explode(expr("array_distinct(transform(gs, x -> x.g))")).as("g"))
          .groupBy("g").agg(count(lit(1)).as("df"))
        val common = df_.filter(col("df") >= 2).select("g")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
        val covered = occ.join(common, "g")
          .withColumn("contrib",
            least(lit(W.toLong), coalesce(lead(col("i"), 1).over(w) - col("i"), lit(W.toLong))))
          .groupBy("doc_id").agg(sum(col("contrib")).as("dup_tokens"))
        spans.filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("n_tokens"))
          .join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
          .withColumn("dup_pct", expr("cast((100 * dup_tokens) div n_tokens as bigint)"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        spans AS (
          SELECT doc_id, i, md5(array_to_string(t[i : i + 9], ' ')) AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
                FROM toks WHERE len(t) >= 10)),
        df AS (
          SELECT g, count(*) AS df FROM (SELECT DISTINCT doc_id, g FROM spans)
          GROUP BY g),
        common AS (SELECT g FROM df WHERE df >= 2),
        covered AS (
          SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS dup_tokens FROM (
            SELECT s.doc_id,
                   LEAST(10, COALESCE(LEAD(s.i) OVER (PARTITION BY s.doc_id ORDER BY s.i) - s.i, 10)) AS contrib
            FROM spans s JOIN common c USING (g))
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
               COALESCE(c.dup_tokens, 0) AS dup_tokens,
               CAST((100 * COALESCE(c.dup_tokens, 0)) // len(d.t) AS BIGINT) AS dup_pct
        FROM toks d LEFT JOIN covered c USING (doc_id)
        WHERE len(d.t) > 0""")),

    // ───── incremental span dedup (r8): the daily-crawl shape for
    // exact-substring signals, completing the incremental family next
    // to dedup_incremental (text) and ann_incremental (vectors): a NEW
    // document batch (doc_id % 11 = 0) checks its ≥10-token spans
    // against the EXISTING corpus's span index — old×new only, never
    // old×old (the accumulated index is not re-scored) and never
    // new×new. Per new doc: token coverage of spans the existing corpus
    // already contains — the "how much of today's crawl is already in
    // the training set" number. Existing-side state is the DISTINCT
    // span set (index-sized, shrinks under dedup); per-increment cost
    // is O(|new spans| + matched).
    QuerySpec(
      "dup_spans_incremental",
      (s, d) => {
        val W = 10
        val spans = Corpus.cached(s, d, "dupSpanArr") {
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
              expr(
                s"""case when size(t) >= $W
                    then transform(sequence(1, size(t) - ${W - 1}),
                                   i -> struct(i AS i, md5(concat_ws(' ', slice(t, i, $W))) AS g))
                    else array() end""").as("gs"))
        }
        val existing = spans.filter(col("doc_id") % 11 =!= 0)
          .select(explode(expr("transform(gs, x -> x.g)")).as("g")).distinct()
        val newPos = spans.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"), explode(col("gs")).as("s"))
          .select(col("doc_id"), col("s.i").as("i"), col("s.g").as("g"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
        val covered = newPos.join(existing, "g")
          .withColumn("contrib",
            least(lit(W.toLong), coalesce(lead(col("i"), 1).over(w) - col("i"), lit(W.toLong))))
          .groupBy("doc_id").agg(sum(col("contrib")).as("known_tokens"))
        spans.filter(col("doc_id") % 11 === 0 && col("n_tokens") > 0)
          .select(col("doc_id"), col("n_tokens"))
          .join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("known_tokens"), lit(0L)).as("known_tokens"))
          .withColumn("known_pct", expr("cast((100 * known_tokens) div n_tokens as bigint)"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        spans AS (
          SELECT doc_id, i, md5(array_to_string(t[i : i + 9], ' ')) AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
                FROM toks WHERE len(t) >= 10)),
        existing AS (SELECT DISTINCT g FROM spans WHERE doc_id % 11 <> 0),
        covered AS (
          SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS known_tokens FROM (
            SELECT s.doc_id,
                   LEAST(10, COALESCE(LEAD(s.i) OVER (PARTITION BY s.doc_id ORDER BY s.i) - s.i, 10)) AS contrib
            FROM spans s JOIN existing e USING (g)
            WHERE s.doc_id % 11 = 0)
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
               COALESCE(c.known_tokens, 0) AS known_tokens,
               CAST((100 * COALESCE(c.known_tokens, 0)) // len(d.t) AS BIGINT) AS known_pct
        FROM toks d LEFT JOIN covered c USING (doc_id)
        WHERE d.doc_id % 11 = 0 AND len(d.t) > 0""")),

    // ───── keep-first span trimming (r8): the CURATION step on top of
    // text_dup_spans — exact-substring dedup keeps ONE copy of each
    // duplicated ≥10-token span corpus-wide (the canonical holder =
    // lowest doc_id containing it) and trims the rest. Per document:
    // token mass a trimmer would remove (spans this doc holds
    // non-canonically) and the kept remainder — the corpus-size delta a
    // substring-dedup pass buys, BEFORE running it. Same machinery as
    // dup_spans (cached span arrays, df agg now carrying min(doc_id),
    // interval-union via one lead() window); canonical docs keep their
    // copies untouched, so the full span content survives exactly once.
    QuerySpec(
      "text_dedup_trim",
      (s, d) => {
        val W = 10
        val spans = Corpus.cached(s, d, "dupSpanArr") {
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
              expr(
                s"""case when size(t) >= $W
                    then transform(sequence(1, size(t) - ${W - 1}),
                                   i -> struct(i AS i, md5(concat_ws(' ', slice(t, i, $W))) AS g))
                    else array() end""").as("gs"))
        }
        val canon = spans
          .select(col("doc_id"), explode(expr("array_distinct(transform(gs, x -> x.g))")).as("g"))
          .groupBy("g").agg(count(lit(1)).as("df"), min(col("doc_id")).as("cdoc"))
          .filter(col("df") >= 2)
        val trimPos = spans.select(col("doc_id"), explode(col("gs")).as("s"))
          .select(col("doc_id"), col("s.i").as("i"), col("s.g").as("g"))
          .join(canon, "g")
          .filter(col("doc_id") =!= col("cdoc"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
        val trimmed = trimPos
          .withColumn("contrib",
            least(lit(W.toLong), coalesce(lead(col("i"), 1).over(w) - col("i"), lit(W.toLong))))
          .groupBy("doc_id").agg(sum(col("contrib")).as("trimmed_tokens"))
        spans.filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("n_tokens"))
          .join(trimmed, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("trimmed_tokens"), lit(0L)).as("trimmed_tokens"))
          .withColumn("kept_tokens", col("n_tokens") - col("trimmed_tokens"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        spans AS (
          SELECT doc_id, i, md5(array_to_string(t[i : i + 9], ' ')) AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
                FROM toks WHERE len(t) >= 10)),
        canon AS (
          SELECT g, count(*) AS df, MIN(doc_id) AS cdoc
          FROM (SELECT DISTINCT doc_id, g FROM spans)
          GROUP BY g HAVING count(*) >= 2),
        trimmed AS (
          SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS trimmed_tokens FROM (
            SELECT s.doc_id,
                   LEAST(10, COALESCE(LEAD(s.i) OVER (PARTITION BY s.doc_id ORDER BY s.i) - s.i, 10)) AS contrib
            FROM spans s JOIN canon c USING (g)
            WHERE s.doc_id <> c.cdoc)
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
               COALESCE(tr.trimmed_tokens, 0) AS trimmed_tokens,
               CAST(len(d.t) AS BIGINT) - COALESCE(tr.trimmed_tokens, 0) AS kept_tokens
        FROM toks d LEFT JOIN trimmed tr USING (doc_id)
        WHERE len(d.t) > 0""")),

    // ───── boilerplate density: per doc, how much of it is 3-gram
    // spans shared across ≥ 5 distinct docs — the templated-content
    // signal (navigation chrome, license headers, mirrored snippets)
    // that length/stopword quality scores miss entirely. Shape (r8 —
    // the r7 suite's slowest query, rebuilt on two observations):
    // per-doc TOTALS need no join at all (n_grams = size of the gram
    // array), and only the df ≥ 5 COMMON grams — the templated
    // minority — matter for the numerator. So: per-doc-distinct grams
    // → one hash-agg for df; the common survivors build a broadcast
    // Bloom (the dedup_decontaminate_bloom shape, keyed on xxhash64 of
    // the gram); every gram OCCURRENCE passes the map-side Bloom
    // before anything shuffles, and only the tiny surviving fraction
    // exact-joins the common-gram table (false positives die there —
    // the Bloom changes cost, never the answer). No doc×doc comparison
    // anywhere; the all-occurrences × all-grams join the old shape
    // paid is gone. Density as integer percent (div) keeps the
    // cross-engine hash compare sound.
    QuerySpec(
      "text_boilerplate",
      (s, d) => {
        // gram construction (split + per-gram concat_ws lambdas) is the
        // measured cost center, and THREE consumers need it (df agg,
        // occurrence scan, per-doc totals): build once, persist (the
        // Corpus.cached discipline the signature queries use)
        val gramArr = Corpus.cached(s, d, "boilerGramArr") {
          Tables.documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), expr(
              """case when size(t) >= 3
                 then transform(sequence(1, size(t) - 2),
                                i -> concat_ws(' ', slice(t, i, 3)))
                 else array() end""").as("gs"))
        }
        val df_ = gramArr
          .select(explode(array_distinct(col("gs"))).as("g"))
          .groupBy("g").agg(count(lit(1)).as("df"))
        // the common set is SMALL (the templated minority) and feeds
        // three consumers (count, Bloom build, exact join): pin it once
        // so the full df pipeline — the query's one heavy shuffle —
        // runs exactly once
        val common = df_.filter(col("df") >= 5).select("g").localCheckpoint(true)
        val nCommonGrams = common.count() // control-plane: sizes the filter
        val bf = s.sparkContext.broadcast(
          common.select(xxhash64(col("g")).as("h"))
            .stat.bloomFilter("h", math.max(nCommonGrams, 1L), 0.01))
        val nCommon = gramArr
          .select(col("doc_id"), explode(col("gs")).as("g"))
          .filter(graft.functions.BloomFilterFunctions
            .bloomMightContain(bf)(xxhash64(col("g"))))
          .join(common, "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
        gramArr
          .filter(size(col("gs")) > 0)
          .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
          .join(nCommon, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_common"), lit(0L)).as("n_common"))
          .withColumn("boiler_pct",
            expr("cast((100 * n_common) div n_grams as bigint)"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        grams AS (
          SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
        gd AS (SELECT DISTINCT doc_id, g FROM grams),
        df AS (SELECT g, count(*) AS df FROM gd GROUP BY g)
        SELECT gr.doc_id, count(*) AS n_grams,
               count(CASE WHEN d.df >= 5 THEN 1 END) AS n_common,
               CAST((100 * count(CASE WHEN d.df >= 5 THEN 1 END)) // count(*) AS BIGINT)
                 AS boiler_pct
        FROM grams gr JOIN df d USING (g)
        GROUP BY gr.doc_id"""))
  ,

    // ───── X22 — bigram language-model fluency scoring: each document's
    // mean conditional-probability "surprise" under the corpus's own
    // bigram model — the cheap self-perplexity proxy quality pipelines
    // rank with (high surprise = improbable transitions = boilerplate
    // glitches, shuffled text, wrong-language fragments the unigram
    // signals miss). No libm log: surprise(a,b) = (c(a)·1000) div c(ab)
    // is an INTEGER monotone in -log p(b|a)'s argument, and the per-doc
    // mean is an integer division of exact sums — bit-identical across
    // engines (the text_pmi discipline). Shape: per-doc-distinct bigram
    // counts (one shuffle), corpus bigram totals REUSE that exchange
    // (same grouping key prefix), unigram counts broadcast back; never a
    // doc×vocab stage. At 100 TB the model table shards on the bigram
    // key like any inverted index.
    QuerySpec(
      "text_lm_score",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dbg = docs
          .filter(expr("size(split(text, ' ')) >= 2"))
          .select(col("doc_id"),
            explode(expr(Corpus.let("toks", "split(text, ' ')",
              """transform(sequence(1, size(toks) - 1),
                   i -> struct(element_at(toks, i) AS t1,
                               element_at(toks, i + 1) AS t2))"""))).as("p"))
          .groupBy(col("doc_id"), col("p.t1").as("t1"), col("p.t2").as("t2"))
          .agg(count(lit(1)).as("cnt"))
        val bg = dbg.groupBy("t1", "t2").agg(sum(col("cnt")).as("cab"))
        val ug = docs
          .select(explode(split(col("text"), " ")).as("t1"))
          .groupBy("t1").agg(count(lit(1)).as("ca"))
        dbg.join(bg, Seq("t1", "t2"))
          .join(broadcast(ug), "t1")
          .withColumn("surprise", expr("(ca * 1000) div cab"))
          .groupBy("doc_id")
          .agg(sum(col("cnt")).as("n_bigrams"),
            expr("sum(cnt * surprise) div sum(cnt)").as("avg_surprise"))
          // no trailing global sort: the gate canonicalizes row order,
          // and an unlimited orderBy is a pure single-range-exchange cost
      },
      Some("""
        WITH uni AS (
          SELECT t1, CAST(count(*) AS BIGINT) AS ca
          FROM (SELECT unnest(string_split(text, ' ')) AS t1 FROM documents)
          GROUP BY t1),
        occ AS (
          SELECT doc_id,
                 unnest([struct_pack(t1 := toks[i], t2 := toks[i + 1])
                         for i in range(1, len(toks))]) AS p
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 2),
        dbg AS (
          SELECT doc_id, p.t1 AS t1, p.t2 AS t2, CAST(count(*) AS BIGINT) AS cnt
          FROM occ GROUP BY doc_id, p.t1, p.t2),
        bg AS (SELECT t1, t2, CAST(sum(cnt) AS BIGINT) AS cab
               FROM dbg GROUP BY t1, t2),
        j AS (
          SELECT d.doc_id, d.cnt, (u.ca * 1000) // b.cab AS surprise
          FROM dbg d
          JOIN bg b ON d.t1 = b.t1 AND d.t2 = b.t2
          JOIN uni u ON d.t1 = u.t1)
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(sum(cnt * surprise) // sum(cnt) AS BIGINT) AS avg_surprise
        FROM j GROUP BY doc_id ORDER BY doc_id"""))
  ,

    // ───── Kneser-Ney smoothed bigram LM (r10): the smoothing that
    // actually ships in n-gram language models (Kneser & Ney, ICASSP
    // 1995; Chen & Goodman 1998's benchmark winner) — next to
    // text_lm_score's raw-surprise heuristic, this is the principled
    // estimator: P(w2|w1) = max(c12−δ,0)/c1 + λ(w1)·P_cont(w2), where
    // the CONTINUATION probability P_cont(w2) = N1+(·w2)/|bigram types|
    // ranks words by how many distinct contexts they FOLLOW (the
    // "Francisco" fix: frequent-but-predictable words stop stealing
    // mass), and λ(w1) = δ·N1+(w1·)/c1 returns exactly the discounted
    // mass. δ = 3/4 as an integer ratio; every probability in exact ppm
    // (positive operands — div equals //), so the whole model is under
    // the hash gate. Sum of P over w2 per context lands ≤ 1e6 with only
    // truncation loss — an oracle-visible normalization check. Plan:
    // bigram hash-agg, two marginal hash-aggs (context totals,
    // continuation types), one-row type-count broadcast, top-next via
    // max + min-tiebreak join — everything shards on token keys.
    QuerySpec(
      "text_lm_kneser_ney",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bg = docs
          .filter(expr("size(split(text, ' ')) >= 2"))
          .select(explode(expr(Corpus.let("toks", "split(text, ' ')",
            """transform(sequence(1, size(toks) - 1),
                 i -> struct(element_at(toks, i) AS t1,
                             element_at(toks, i + 1) AS t2))"""))).as("p"))
          .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .agg(count(lit(1)).as("c12"))
        val ctx = bg.groupBy("t1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("r1"))
        val cont = bg.groupBy("t2").agg(count(lit(1)).as("l2"))
        val btot = bg.agg(count(lit(1)).as("btypes"))
        val scored = bg
          .join(ctx, "t1").join(cont, "t2").crossJoin(broadcast(btot))
          .withColumn("pkn_ppm", expr(
            """greatest(4L * c12 - 3L, 0L) * 1000000L div (4L * c1)
               + (3L * r1 * 1000000L div (4L * c1))
                 * (l2 * 1000000L div btypes) div 1000000L"""))
        val perCtx = scored.groupBy("t1")
          .agg(max("c1").as("c1"), count(lit(1)).as("n_follow"),
            sum("pkn_ppm").as("sum_pkn_ppm"), max("pkn_ppm").as("top_pkn_ppm"))
        val topNext = scored
          .join(perCtx.select(col("t1"), col("top_pkn_ppm").as("tp")), "t1")
          .filter(col("pkn_ppm") === col("tp"))
          .groupBy("t1").agg(min("t2").as("top_next"))
        perCtx.join(topNext, "t1")
      },
      Some("""
        WITH occ AS (
          SELECT unnest([struct_pack(t1 := toks[i], t2 := toks[i + 1])
                         for i in range(1, len(toks))]) AS p
          FROM (SELECT string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 2),
        bg AS (
          SELECT p.t1 AS t1, p.t2 AS t2, CAST(count(*) AS BIGINT) AS c12
          FROM occ GROUP BY 1, 2),
        ctx AS (SELECT t1, CAST(sum(c12) AS BIGINT) AS c1,
                       CAST(count(*) AS BIGINT) AS r1 FROM bg GROUP BY 1),
        cont AS (SELECT t2, CAST(count(*) AS BIGINT) AS l2 FROM bg GROUP BY 1),
        btot AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bg),
        scored AS (
          SELECT b.t1, b.t2,
                 GREATEST(4 * b.c12 - 3, 0) * 1000000 // (4 * x.c1)
                 + (3 * x.r1 * 1000000 // (4 * x.c1))
                   * (n.l2 * 1000000 // t.btypes) // 1000000 AS pkn_ppm,
                 x.c1
          FROM bg b JOIN ctx x USING (t1) JOIN cont n USING (t2)
               CROSS JOIN btot t),
        perctx AS (
          SELECT t1, CAST(MAX(c1) AS BIGINT) AS c1, count(*) AS n_follow,
                 CAST(SUM(pkn_ppm) AS BIGINT) AS sum_pkn_ppm,
                 CAST(MAX(pkn_ppm) AS BIGINT) AS top_pkn_ppm
          FROM scored GROUP BY 1),
        topnext AS (
          SELECT s.t1, MIN(s.t2) AS top_next
          FROM scored s JOIN perctx p
            ON p.t1 = s.t1 AND s.pkn_ppm = p.top_pkn_ppm
          GROUP BY 1)
        SELECT p.t1, p.c1, p.n_follow, p.sum_pkn_ppm, p.top_pkn_ppm, t.top_next
        FROM perctx p JOIN topnext t USING (t1)"""))
  ,

    // ───── feature hashing / the hashing-trick vectorizer (r9): each
    // document's bag-of-words projected into a FIXED 64-dim signed
    // integer vector — idx = 6 bits of the token's md5, sign = a 7th
    // bit (Weinberger et al., Feature hashing for large scale multitask
    // learning, ICML 2009: the sign bit makes collisions cancel in
    // expectation instead of biasing upward). This is the vectorization
    // step training pipelines run ahead of linear models — no
    // vocabulary table, no OOV problem, dimensionality fixed at write
    // time. The vector never materializes as an array: the report is
    // per-dim sums folded to nnz / L1 / a position-weighted checksum,
    // via explode → (doc, dim) hash-agg → per-doc hash-agg — the
    // inverted-index two-shuffle discipline, output cardinality
    // |docs|, every value an exact integer the oracle replays from the
    // same md5 bits.
    QuerySpec(
      "text_feature_hash",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .filter(length(col("t")) > 0)
          .withColumn("hb", expr(
            "cast(conv(substring(md5(t), 1, 2), 16, 10) as int)"))
          .select(col("doc_id"), (col("hb") % 64).as("dim"),
            when(col("hb") >= 128, lit(1L)).otherwise(lit(-1L)).as("sgn"))
        tok.groupBy("doc_id", "dim").agg(sum(col("sgn")).as("v"))
          .groupBy("doc_id")
          .agg(count(when(col("v") =!= 0, 1)).as("nnz"),
            sum(abs(col("v"))).as("l1"),
            sum(col("v") * (col("dim") + 1)).as("checksum"))
      },
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(t), 1, 2)) AS INTEGER) AS hb
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
          WHERE length(t) > 0),
        dims AS (
          SELECT doc_id, hb % 64 AS dim,
                 CASE WHEN hb >= 128 THEN 1 ELSE -1 END AS sgn
          FROM tok),
        v AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS v
              FROM dims GROUP BY 1, 2)
        SELECT doc_id,
               CAST(count(CASE WHEN v <> 0 THEN 1 END) AS BIGINT) AS nnz,
               CAST(SUM(abs(v)) AS BIGINT) AS l1,
               CAST(SUM(v * (dim + 1)) AS BIGINT) AS checksum
        FROM v GROUP BY doc_id""")),

    // ───── Zipf rank-frequency profile (r13): the corpus-health
    // readout behind text_vocab_growth's Heaps curve — Zipf's law says
    // rank·frequency ≈ constant, so the per-decade mean r·f exposes
    // both the head's conformance and the tail's deviation (a corpus
    // whose bands diverge wildly is template- or spam-heavy). Term
    // counts are ONE hash-agg over exploded tokens; the global
    // frequency rank rides RankedPrefix over the VOCABULARY (not the
    // corpus — the inverted-index cardinality argument) under the
    // total order (tf DESC, term); the decade band is the rank's
    // DIGIT COUNT (length of its decimal string — exact ⌊log10⌋+1 in
    // both engines, no libm). mean_rf truncates identically via div.
    QuerySpec(
      "text_zipf_band",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(explode(expr("split(text, ' ')")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("tf"))
        graft.ops.RankedPrefix(s, d, "zipfRank", tf,
            part = Nil, order = Seq(col("tf").desc, col("term")),
            rank = Some("r"))
          .withColumn("band", length(col("r").cast("string")))
          .groupBy("band")
          .agg(count(lit(1)).as("n_terms"),
            sum("tf").as("mass"),
            sum(col("r") * col("tf")).as("rf_sum"))
          .select(col("band"), col("n_terms"), col("mass"),
            expr("rf_sum div n_terms").as("mean_rf"))
      },
      Some("""
        WITH tf AS (
          SELECT term, COUNT(*) AS tf
          FROM (SELECT unnest(string_split(text, ' ')) AS term
                FROM documents)
          GROUP BY 1),
        ranked AS (
          SELECT tf, term,
                 ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS r
          FROM tf)
        SELECT CAST(length(CAST(r AS VARCHAR)) AS INTEGER) AS band,
               COUNT(*) AS n_terms,
               CAST(SUM(tf) AS BIGINT) AS mass,
               CAST(SUM(r * tf) // COUNT(*) AS BIGINT) AS mean_rf
        FROM ranked GROUP BY 1""")),

    // ───── Per-document type–token ratio (r15): lexical diversity as a
    // PER-DOCUMENT quality signal — text_hapax_ratio and
    // text_vocab_growth read the corpus; TTR reads each document
    // (repetitive machine-generated text scores low, the curation
    // filter every pipeline applies next to text_quality's
    // length/punct ratios). Per-row map (distinct tokens / tokens, both
    // inside the token array), exact ppm, rolled into decile bands with
    // token-mass and doc-id checksums — distribution shape, not one
    // mean that hides the low tail.
    QuerySpec(
      "text_ttr",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), expr(Corpus.let("toks", "split(text, ' ')",
            """struct(size(toks) AS n_tok,
                      size(array_distinct(toks)) AS n_typ)""")).as("t"))
          .filter(col("t.n_tok") > 0)
          .select(col("doc_id"), col("t.n_tok").as("n_tok"),
            expr("t.n_typ * 1000000 div t.n_tok").as("ttr_ppm"))
          .groupBy(expr("ttr_ppm div 100000").as("decile"))
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"),
            min("doc_id").as("min_doc"), sum("doc_id").as("doc_id_sum"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tok,
                 len(list_distinct(string_split(text, ' '))) AS n_typ
          FROM documents),
        ttr AS (
          SELECT doc_id, n_tok,
                 CAST(n_typ * 1000000 // n_tok AS BIGINT) AS ttr_ppm
          FROM t WHERE n_tok > 0)
        SELECT CAST(ttr_ppm // 100000 AS BIGINT) AS decile,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        FROM ttr GROUP BY 1"""))
  )
}
