package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.SnapshotStore

/** Persisted MinHash BAND INDEX — the text dual of [[VectorIndexStore]]
  * (r11, VERDICT r10 item 4): the existing corpus's LSH band index
  * lives in SnapshotStore targets instead of being recomputed by every
  * incremental-dedup run, and a daily crawl increment streams in
  * through a checkpointed ingest sink.
  *
  * Two targets, the trained-artifact discipline:
  *   - META: one row freezing the banding PLAN (rows-per-band, bands,
  *     and the corpus count it derives from). The plan is corpus-size-
  *     derived at BUILD time and frozen thereafter — later increments
  *     must band exactly like the index they probe, or bucket keys
  *     never collide (the quantizer-freeze argument of
  *     [[VectorIndexStore.train]]).
  *   - BANDS: one LWW row per (doc_id, band) holding the band's bucket
  *     key. A re-ingested (updated) document supersedes its old band
  *     rows per key; row count is |docs|·bands, ~40 B of payload each.
  *
  * Probing is an equi-join on (band, bkey) between the increment's
  * bands and [[readIndex]] — old×new only, never old×old; exact-verify
  * then runs on shingle sets exactly as the in-query pipeline, so the
  * persisted form is provably the same pair set
  * (`dedup_incremental_persisted` holds that equality under the
  * DuckDB oracle; BandIndexSpec holds the maintenance story: chunked
  * streamed ingest + checkpoint restart ≡ one-shot build).
  */
object BandIndexStore {

  private val metaSchema =
    org.apache.spark.sql.types.StructType.fromDDL("rpb INT, nbands INT, n BIGINT")
  private val bandSchema =
    org.apache.spark.sql.types.StructType.fromDDL("bkey STRING")
  private val sigSchema =
    org.apache.spark.sql.types.StructType.fromDDL("mh ARRAY<BIGINT>")

  /** Distinct shingle-hash sets of a (doc_id, text) frame — the
    * [[graft.functions.SignatureFunctions]] chain every dedup query
    * uses; docs under 3 words carry no shingles and drop out.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.functions.SignatureFunctions.shingleHash40(
          graft.functions.TextHashFunctions.wordHash40(col("text"))).as("hs"))

  /** Freeze the banding plan for a corpus of `corpusSize` docs into the
    * meta target. One control-plane row.
    */
  def train(spark: SparkSession, corpusSize: Long, metaTarget: String): Unit = {
    val (nBands, rpb) = Corpus.minhashBandPlan(corpusSize)
    import spark.implicits._
    SnapshotStore.mergeIntoTarget(spark, metaTarget,
      Seq(("plan", "PUT", "0000000001",
        s"""{"rpb":$rpb,"nbands":$nBands,"n":$corpusSize}"""))
        .toDF("keys", "op", "sequenceNumber", "newImage"), 0L)
  }

  /** The frozen plan: (nBands, rowsPerBand). */
  def readMeta(spark: SparkSession, metaTarget: String): (Int, Int) = {
    val rows = SnapshotStore.readTarget(spark, metaTarget)
      .filter(col("keys") === "plan")
      .select(from_json(col("newImage"), metaSchema).as("m"))
      .select(col("m.nbands"), col("m.rpb"))
      .collect()
    require(rows.nonEmpty, s"no band plan at '$metaTarget' — run train first")
    (rows(0).getInt(0), rows(0).getInt(1))
  }

  /** Band a (doc_id, text) frame under a frozen plan:
    * (doc_id, band, bkey). Pure per-row map + a bands-way posexplode —
    * no shuffle, O(|docs|·bands).
    */
  def bandRows(docs: DataFrame, nBands: Int, rpb: Int): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"),
        graft.functions.SignatureFunctions.minHash12(col("hs")).as("mh"))
      .select(col("doc_id"),
        posexplode(Corpus.bandKeysExpr(nBands, rpb)).as(Seq("band", "bkey")))

  private def encode(docs: DataFrame, nBands: Int, rpb: Int,
                     seqBase: String): DataFrame =
    bandRows(docs, nBands, rpb)
      .select(
        concat_ws("#", col("doc_id").cast("string"),
          col("band").cast("string")).as("keys"),
        lit("PUT").as("op"),
        lit(seqBase).as("sequenceNumber"),
        to_json(struct(col("bkey"))).as("newImage"))

  /** The 12-slot MinHash signature of a (doc_id, text) frame:
    * (doc_id, mh). The signature is what makes the index
    * SELF-CONTAINED for estimate-verification: a pair's per-slot
    * agreement m/12 estimates its Jaccard (dedup_minhash_estimate
    * calibrates the estimator), so candidate pairs can be scored
    * without fetching either document's shingle set — the production
    * trade when the corpus side lives elsewhere.
    */
  def sigRows(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"),
        graft.functions.SignatureFunctions.minHash12(col("hs")).as("mh"))

  private def encodeSigs(docs: DataFrame, seqBase: String): DataFrame =
    sigRows(docs)
      .select(
        col("doc_id").cast("string").as("keys"),
        lit("PUT").as("op"),
        lit(seqBase).as("sequenceNumber"),
        to_json(struct(col("mh"))).as("newImage"))

  /** Add one batch of documents' signatures to the sigs target (LWW by
    * batch seq, the [[appendBatch]] discipline).
    */
  def appendSigs(spark: SparkSession, docs: DataFrame, sigsTarget: String,
                 batchId: Long): Unit =
    SnapshotStore.mergeIntoTarget(spark, sigsTarget,
      encodeSigs(docs, seqBase = f"sb$batchId%012d"), batchId)

  /** The persisted signatures: (doc_id, mh). */
  def readSigs(spark: SparkSession, sigsTarget: String): DataFrame =
    SnapshotStore.readTarget(spark, sigsTarget)
      .select(col("keys").cast("bigint").as("doc_id"),
        from_json(col("newImage"), sigSchema).as("s"))
      .select(col("doc_id"), col("s.mh").as("mh"))

  /** Add one batch of documents (doc_id, text) to the bands target,
    * banded under the persisted plan. Later batches supersede earlier
    * rows for the same (doc_id, band) — LWW by batch seq.
    */
  def appendBatch(spark: SparkSession, docs: DataFrame, metaTarget: String,
                  bandsTarget: String, batchId: Long): Unit = {
    val (nBands, rpb) = readMeta(spark, metaTarget)
    SnapshotStore.mergeIntoTarget(spark, bandsTarget,
      encode(docs, nBands, rpb, seqBase = f"sb$batchId%012d"), batchId)
  }

  /** Incremental maintenance from the crawl stream: each micro-batch of
    * (doc_id, text) rows bands against the FROZEN plan and merges into
    * the bands target. Checkpointed; replays fold idempotently through
    * the store's LWW merge (BandIndexSpec drives a mid-drain restart).
    */
  def ingestSink(newDocs: DataFrame, metaTarget: String, bandsTarget: String,
                 checkpoint: String,
                 sigsTarget: Option[String] = None,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the frozen plan is read EAGERLY here, before .start() — a lazy val
    // would defer readMeta to the first micro-batch, letting a retrain
    // that lands between query start and first batch band under a newer
    // plan than this stream was started against
    val plan = readMeta(newDocs.sparkSession, metaTarget)
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (nBands, rpb) = plan
        val b = batch.localCheckpoint(true) // two consumers, one compute
        SnapshotStore.mergeIntoTarget(b.sparkSession, bandsTarget,
          encode(b, nBands, rpb, seqBase = f"sb$batchId%012d"), batchId)
        sigsTarget.foreach(t =>
          SnapshotStore.mergeIntoTarget(b.sparkSession, t,
            encodeSigs(b, seqBase = f"sb$batchId%012d"), batchId))
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming DEDUP SERVING against the persisted index — the
    * [[VectorIndexStore.searchSink]] analog: each micro-batch of
    * (doc_id, text) crawl rows bands + signs under the FROZEN plan,
    * probes the CURRENT bands target (old×new only; freshness is the
    * store's own read semantics), scores candidates by per-slot
    * signature agreement against the sigs target, and hands `sink`
    * the pairs with m12 ≥ `minM12`. Stateless foreachBatch with
    * checkpointed offsets: a replayed batch re-emits the same pairs
    * (at-least-once emission; a keyed downstream consumer dedupes —
    * the house contract).
    */
  def dedupSink(newDocs: DataFrame, metaTarget: String, bandsTarget: String,
                sigsTarget: String, checkpoint: String,
                sink: DataFrame => Unit, minM12: Int = 5,
                trigger: org.apache.spark.sql.streaming.Trigger =
                  org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // eager for the same reason as ingestSink: the plan is pinned at
    // query start, not at first-batch time
    val plan = readMeta(newDocs.sparkSession, metaTarget)
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val (nBands, rpb) = plan
        val b = batch.localCheckpoint(true)
        sink(probePairs(spark, b, bandsTarget, sigsTarget, nBands, rpb)
          .filter(col("m12") >= minM12))
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Estimate-scored candidate pairs of an increment against the
    * persisted index: (doc_a = stored, doc_b = increment, m12,
    * est_ppm). The batch face of [[dedupSink]] — the
    * `dedup_incremental_estimate` query is this with the memoized
    * oracle targets.
    */
  def probePairs(spark: SparkSession, newDocs: DataFrame, bandsTarget: String,
                 sigsTarget: String, nBands: Int, rpb: Int): DataFrame = {
    val cand = readIndex(spark, bandsTarget).as("a")
      .join(bandRows(newDocs, nBands, rpb).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates()
    cand
      .join(readSigs(spark, sigsTarget)
        .select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(sigRows(newDocs)
        .select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(ma, mb, (x, y) -> if(x = y, 1L, 0L)), " +
          "0L, (acc, v) -> acc + v)").as("m12"))
      .withColumn("est_ppm", expr("m12 * 1000000 div 12"))
  }

  /** The persisted band index as the probe target: (doc_id, band, bkey). */
  def readIndex(spark: SparkSession, bandsTarget: String): DataFrame =
    SnapshotStore.readTarget(spark, bandsTarget)
      .select(split(col("keys"), "#").as("kk"),
        from_json(col("newImage"), bandSchema).as("b"))
      .select(element_at(col("kk"), 1).cast("bigint").as("doc_id"),
        element_at(col("kk"), 2).cast("int").as("band"),
        col("b.bkey").as("bkey"))

  // ── per-(session, corpus) memoized build for the oracle query ──────
  // dedup_incremental_persisted needs a built index per testdata dir;
  // the build is deterministic (integer signature chain + frozen plan),
  // so building once per session per dir and probing it yields exactly
  // the in-query formulation's pairs.

  private val built = new graft.SessionMemo[String, (String, String)]

  /** Train on the full-corpus count + bulk-add the EXISTING (original)
    * docs into fresh temp store targets, once per (session, dir);
    * returns (metaTarget, bandsTarget). The plan derives from the same
    * corpus count the in-query `bandsOf` uses, so bucket keys agree by
    * construction.
    */
  def ensureBuilt(s: SparkSession, d: String): (String, String) =
    built(s, d) {
      val meta = java.nio.file.Files.createTempDirectory("graft-bidx-meta")
        .toFile.getAbsolutePath
      val bands = java.nio.file.Files.createTempDirectory("graft-bidx-bands")
        .toFile.getAbsolutePath
      train(s, Corpus.corpusDocCount(s, d), meta)
      appendBatch(s,
        Corpus.docsWithNearDups(s, d)
          .filter(col("doc_id") < Corpus.VariantOffset)
          .select("doc_id", "text"),
        meta, bands, batchId = 1L)
      (meta, bands)
    }

  private val builtSigs = new graft.SessionMemo[String, String]

  /** Bulk-add the EXISTING docs' signatures into a fresh temp sigs
    * target, once per (session, dir) — the [[ensureBuilt]] companion
    * for estimate-verification queries.
    */
  def ensureSigsBuilt(s: SparkSession, d: String): String =
    builtSigs(s, d) {
      val sigs = java.nio.file.Files.createTempDirectory("graft-bidx-sigs")
        .toFile.getAbsolutePath
      appendSigs(s,
        Corpus.docsWithNearDups(s, d)
          .filter(col("doc_id") < Corpus.VariantOffset)
          .select("doc_id", "text"),
        sigs, batchId = 1L)
      sigs
    }
}
