package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.CdcSchema
import graft.ops.CdcOps

/** Managed per-key state for [[CdcStream.statefulLatest]]: the latest
  * applied (sequenceNumber, image); `live=false` is a tombstone.
  */
final case class KeyState(
    keys: String, seq: String, image: Option[String], live: Boolean)

/** Signed state transition for streaming incremental view maintenance
  * ([[CdcStream.statefulAggDeltas]]): `sign = -1` retracts the prior
  * image's contribution from a downstream aggregate, `+1` asserts the
  * new one. A transition emits up to two rows (retract + assert); a
  * tombstone emits retract only.
  */
final case class StateDelta(keys: String, sign: Int, seq: String,
                            image: Option[String])

/** First-seen inventory alarm row for [[CdcStream.schemaDriftAlarm]]:
  * a novel (attribute, DDB type) pair and when it first arrived.
  */
final case class SchemaAlarm(attr: String, avtype: String,
                             firstSeen: java.sql.Timestamp)

/** Late-delivery alarm row for [[CdcStream.lateArrivalAlarms]]: an event
  * whose event time precedes its key's delivered high-water mark, with
  * the exact lateness in microseconds.
  */
final case class LateAlarm(keys: String, eventId: String, lateUs: Long)

/** Structured Streaming drivers over the SAME batch operators (`CdcOps`) —
  * one semantics, two drivers (SURVEY §7.1). The reference's managed-service
  * behaviors map onto Spark primitives:
  *
  *  - DynamoDB Streams → Lambda push (cdk/lib/cdk-stack.ts:96-100) ⇒
  *    `readStream` over a CDC-log directory with checkpointed offsets
  *    (shard iterators become offsets; replayable storage replaces queue
  *    retention, so a gated late start is lossless — SURVEY §2.9 T2).
  *  - SQS FIFO + contentBasedDeduplication (cdk-stack.ts:47-48) ⇒
  *    `dropDuplicatesWithinWatermark` — bounded dedup state, the same
  *    5-minute-window idea as SQS's dedup (T3/A1).
  *  - batch 1000 / 5 s mapping (initiate-lambda-backfill/main.py:26-27) ⇒
  *    `Trigger.ProcessingTime` + `maxFilesPerTrigger` (T1).
  *  - batch_write_item apply (lambda-backfill/main.py:44-46) ⇒
  *    `foreachBatch` running dedup → LWW-compact → keyed MERGE into a
  *    parquet target — idempotent, so checkpoint + rerun = exactly-once
  *    (closes the reference's UnprocessedItems TODO, T4).
  *  - DLQ after repeated failure (cdk-stack.ts:52-63) ⇒ per-batch retry
  *    with backoff, then a deadletter parquet path with the error (T5/T6).
  *
  * Scale posture: a micro-batch of [[applySink]] runs three shuffles —
  * the eventID dedup, the per-key LWW window and the publish's bucket
  * repartition (as wide as the session, so bucket segments are written
  * in parallel). State stores hold only watermark-bounded dedup keys.
  * What reaches the driver is two observed metrics: the batch's poison
  * count and the delta's touched-bucket set (≤ the bucket count).
  */
object CdcStream {

  /** File-based CDC source: JSON lines of flat CdcRecords landing in
    * `dir`. `maxFilesPerTrigger` is the batch-size analog of the
    * reference's BATCH_SIZE=1000.
    */
  def cdcFileSource(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(CdcSchema.cdcRecord)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Decode newline-delimited wire envelopes (one
    * [[CdcSchema.streamEnvelope]] JSON per row in `valueCol`) into flat
    * cdcRecord rows — the parse stage shared by any push transport
    * ([[SocketCdcSource]]; a Kinesis/Kafka connector would feed the same
    * decode from its record value). ONE `from_json` per line (measured
    * cheaper than repeated `get_json_object`, see cdc_envelope_parse);
    * `Keys`/`NewImage`/`OldImage` ride through as raw DynamoDB-JSON
    * strings exactly as in the flat record. Unparseable lines (null
    * eventID after parse) are dropped here so one poison line cannot
    * fail a whole micro-batch of valid neighbors; see [[SocketCdcSource]]
    * for the transport contract.
    */
  def decodeEnvelopeLines(lines: DataFrame, valueCol: String = "value"): DataFrame =
    lines
      .select(from_json(col(valueCol), CdcSchema.streamEnvelope).as("r"))
      .select(
        col("r.eventID").as("eventID"),
        col("r.eventName").as("eventName"),
        col("r.dynamodb.ApproximateCreationDateTime").as("approxCreationTs"),
        col("r.dynamodb.SequenceNumber").as("sequenceNumber"),
        col("r.dynamodb.Keys").as("keys"),
        col("r.dynamodb.NewImage").as("newImage"),
        col("r.dynamodb.OldImage").as("oldImage"))
      .filter(col("eventID").isNotNull && col("sequenceNumber").isNotNull &&
        col("keys").isNotNull)

  /** Content dedup with bounded state — the SQS dedup window as a
    * watermark (default mirrors SQS's 5-minute dedup interval).
    */
  def dedupWithinWatermark(cdc: DataFrame, delay: String = "5 minutes"): DataFrame =
    cdc.withWatermark("approxCreationTs", delay)
      .dropDuplicatesWithinWatermark("eventID")

  /** One micro-batch of the apply path, batch-formulated: dedup →
    * LWW-compact → PUT/DELETE plan → sequence-guarded MERGE into the
    * current target. Pure function of (target, batch) so it is
    * unit-testable; idempotent AND monotone (re-applying a batch — or
    * applying a stale one — is a no-op, [[graft.ops.CdcOps.mergeLww]]).
    *
    * Ordering: DynamoDB stream sequence numbers are VARIABLE-LENGTH
    * numeric strings ("9" vs "10"), so the LWW order is the numeric
    * (length, value) order — lexicographic comparison alone would let a
    * stale short sequence beat a longer newer one.
    */
  def applyBatch(target: DataFrame, batch: DataFrame): DataFrame =
    CdcOps.mergeLww(SnapshotStore.backfillSeq(target), compactDelta(batch),
      Seq("keys"), "op", "sequenceNumber", Seq("newImage"))

  /** Compacted per-key delta of one raw CDC micro-batch: dedup →
    * numeric-sequence LWW → PUT/DELETE plan. The ONE delta definition —
    * [[applyBatch]] (the pure merge) and [[applySink]] (the snapshot-store
    * sink) both build from it, so the two apply paths cannot drift.
    */
  def compactDelta(batch: DataFrame): DataFrame =
    CdcOps
      .lwwCompact(
        CdcOps.dedup(batch, Seq("eventID")),
        keys = Seq("keys"),
        order = CdcOps.numericStringOrder(col("sequenceNumber")))
      .withColumn("op", CdcOps.applyPlan(col("eventName"), CdcSchema.Remove))
      .select(col("keys"), col("op"), col("sequenceNumber"), col("newImage"))

  /** Retry an action with the reference's backoff schedule: 1 s initial,
    * ×2, `attempts` tries (cdk/lib/state-machine.json:31-33). Returns the
    * failure after exhausting the budget.
    */
  def withRetry[A](attempts: Int = 3, firstDelayMs: Long = 1000,
                   sleep: Long => Unit = Thread.sleep)(action: => A): A = {
    var delay = firstDelayMs
    var tries = 0
    while (true) {
      tries += 1
      try return action
      catch {
        // NonFatal only: an interrupt (query stop) or a VM error must
        // propagate immediately, not burn the retry budget
        case scala.util.control.NonFatal(e) if tries < attempts =>
          sleep(delay); delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** True when a batch failure is a shutdown artifact — the query being
    * stopped interrupts the micro-batch thread and cancels its jobs —
    * rather than a property of the data. Such a failure must FAIL the
    * batch (so the checkpoint replays it on restart), never deadletter
    * it: foreachBatch returning normally commits the batch's offsets, and
    * deadlettering a merely-interrupted batch would commit an offset range
    * whose events were never applied — silent loss on restart.
    */
  private def isShutdownFailure(e: Throwable): Boolean = {
    var c = e
    while (c != null) {
      if (c.isInstanceOf[InterruptedException]) return true
      // message sniffing is restricted to Spark's OWN exception type:
      // query.stop() cancels the batch's jobs, surfacing as
      // SparkException("Job ... cancelled"). A data-plane error that
      // merely CONTAINS "cancelled" (e.g. a wrapped IO failure) must
      // stay deadletter-eligible, not crash-loop the query.
      c match {
        case se: org.apache.spark.SparkException =>
          val m = se.getMessage
          if (m != null && (m.contains("cancelled") || m.contains("canceled"))) return true
        case _ => ()
      }
      c = c.getCause
    }
    Thread.currentThread().isInterrupted
  }

  /** The pipeline's item-size ceiling: the reference documents "item
    * size is less than 265Kb including attribute names" (README.md:17;
    * operatively SQS's 256 KiB message cap — every image rides through
    * the queue). Oversized images can never be applied downstream, so
    * they are poison, not retry material.
    */
  val MaxImageBytes: Int = 256 * 1024

  /** Poison predicate: a message the apply step can never process — a
    * malformed record (the PERMISSIVE json reader turns an unparseable
    * line, or one missing required fields, into nulls in the key
    * columns; without the isNull disjuncts FIRST the remaining predicate
    * evaluates to SQL NULL and the row would vanish from BOTH filter
    * sides — silently lost instead of deadlettered), a PUT without an
    * image, or an image over the queue-message budget (the reference's
    * DLQ exists for exactly this class of message; maxReceiveCount=5
    * then DLQ, cdk-stack.ts:52-63). TRUE OR NULL = TRUE, so once the
    * null guards lead, the predicate is never NULL.
    */
  def isPoison: org.apache.spark.sql.Column =
    col("keys").isNull || col("eventName").isNull ||
      col("sequenceNumber").isNull ||
      (col("eventName") =!= CdcSchema.Remove && col("newImage").isNull) ||
      // coalesce: octet_length(NULL) is NULL, and a NULL predicate would
      // silently drop REMOVE rows from BOTH filter sides
      coalesce(octet_length(col("newImage")) > MaxImageBytes, lit(false))

  /** The streaming apply sink: maintains a bucket-manifest parquet table
    * at `targetDir` (see [[SnapshotStore]]). Each micro-batch is split —
    * poison messages go straight to `deadletterDir` with a reason; the
    * valid remainder is compacted to a per-key delta and merged with
    * retry/backoff, and a batch that still fails after the budget goes
    * whole to the deadletter path with the error (DLQ semantics, T5/T6).
    *
    * Exactly-once: offsets live in `checkpointDir`; the merge itself is
    * idempotent, so replaying a batch after a crash converges. Snapshot
    * publication is ATOMIC (see [[SnapshotStore.mergeIntoTarget]]): a
    * batch that fails mid-write — including inside the retry loop — leaves
    * the previous snapshot live, never a partial or empty table. Per-batch
    * cost is O(|delta|), NOT O(|target|) and not even O(|touched
    * buckets|): the delta is APPENDED as one merge-on-read L0 segment
    * (one file per delta partition, one write job, no shuffle) listed by
    * every touched bucket's chain and resolved by readers' LWW pass, with
    * per-bucket chains folded to L1 at [[SnapshotStore.FoldThreshold]] —
    * the reference's own cost model (`batch_write_item` is key-addressed,
    * app/lambdas/lambda-backfill/main.py:44-46). Each phase's jobs carry
    * a [[SnapshotStore.Phase]] label in their job description.
    *
    * `compactEvery = n` (> 0) runs a best-effort full compaction every n
    * batches ON THE SINK THREAD — the one place it can never race this
    * stream's own publishes (writeTarget calls are serialized there; the
    * store's lock + CAS still guard against OTHER writers). A compaction
    * failure never fails the batch: the merge is already durable, and
    * the next window simply retries.
    */
  /** `quarantineDir` (r15, VERDICT r14 #6): when the target carries
    * declared [[TableConstraints]], each batch's constraint-violating
    * rows are split OUT before the merge — they land in `quarantineDir`
    * (falling back to `deadletterDir` when unset) with
    * `error = "check violation: <name>"` and the batch id as their
    * audit row, the clean remainder merges normally, and the batch
    * never fails for a data-quality reason (quarantine-instead-of-
    * reject: rejecting would crash-loop the stream on one bad producer;
    * silently applying would poison the table dq_scorecard watches).
    */
  def applySink(cdc: DataFrame, targetDir: String, checkpointDir: String,
                deadletterDir: String,
                trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                retryAttempts: Int = 3,
                retrySleep: Long => Unit = Thread.sleep,
                compactEvery: Int = 0,
                compactAtPpm: Long = 0,
                quarantineDir: String = null): DataStreamWriter[org.apache.spark.sql.Row] =
    cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // batch reused twice; the poison count rides on the checkpoint's
        // own job instead of a separate emptiness probe
        val poisonSeen = Observation()
        val full = SnapshotStore.inPhase(spark, SnapshotStore.Phase.BatchCheckpoint) {
          batch.toDF()
            .observe(poisonSeen, count(when(isPoison, true)).as("poison"))
            .localCheckpoint(true)
        }
        def deadLetter(rows: DataFrame, dir: String): Unit =
          SnapshotStore.inPhase(spark, SnapshotStore.Phase.DeadLetter) {
            rows.withColumn("batchId", lit(batchId)).write.mode("append").parquet(dir)
          }
        try {
          if (poisonSeen.get("poison").asInstanceOf[Long] > 0)
            deadLetter(full.filter(isPoison)
              .withColumn("error",
                when(col("keys").isNull || col("eventName").isNull ||
                    col("sequenceNumber").isNull,
                  lit("poison: malformed record (unparseable line or missing key fields)"))
                  .when(col("newImage").isNull, lit("poison: PUT without image"))
                  .otherwise(lit(s"poison: image exceeds $MaxImageBytes-byte queue budget"))),
              deadletterDir)
          val checks = TableConstraints.read(
            spark.sessionState.newHadoopConf(), targetDir)
          val valid = if (checks.isEmpty) full.filter(!isPoison) else {
            // One constraint evaluation per batch: the flagged frame is
            // consumed twice (quarantine write, clean filter), so
            // checkpoint it once instead of re-running every CHECK
            // expression per consumer; the violation count is observed
            // on that checkpoint's job.
            val violationSeen = Observation()
            val flagged = SnapshotStore.inPhase(spark, SnapshotStore.Phase.BatchCheckpoint) {
              full.filter(!isPoison)
                .withColumn("_check_violation",
                  TableConstraints.violationCol(checks))
                .observe(violationSeen, count(col("_check_violation")).as("bad"))
                .localCheckpoint(true)
            }
            // Quarantine delivery contract (same as deadletter): AT LEAST
            // ONCE. The audit append lands before the merge, so a merge
            // failure + foreachBatch retry re-appends the same batch's
            // quarantine rows. Consumers must dedupe on
            // (keys, sequenceNumber, batchId) — unique per logical CDC
            // record and stable across retries.
            if (violationSeen.get("bad").asInstanceOf[Long] > 0)
              deadLetter(flagged.filter(col("_check_violation").isNotNull)
                .withColumn("error",
                  concat(lit("check violation: "), col("_check_violation")))
                .drop("_check_violation"),
                if (quarantineDir != null) quarantineDir else deadletterDir)
            flagged.filter(col("_check_violation").isNull)
              .drop("_check_violation")
          }
          try {
            withRetry(retryAttempts, sleep = retrySleep) {
              SnapshotStore.mergeIntoTarget(spark, targetDir, compactDelta(valid), batchId)
            }
            // Maintenance on the SINK THREAD (the safe place: writeTarget
            // calls are naturally serialized per target, so compaction can
            // never race a concurrent publish of this stream). Best-effort:
            // the batch's data is already durably applied, so a compaction
            // failure must NOT fail the batch — the next window retries.
            if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
              try SnapshotStore.compactTarget(spark, targetDir)
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[applySink] best-effort compaction at batch $batchId failed: ${e.getMessage}")
              }
            }
            // Amplification-driven auto-compaction (r14, VERDICT r13 #3):
            // the measured signal decides, not a blind cadence — chains
            // fold only when the footer-counted raw/resolved ratio says
            // readers are actually paying for them. Same sink-thread /
            // best-effort contract as compactEvery; checked every batch.
            if (compactAtPpm > 0) {
              try SnapshotStore.compactIfAmplified(spark, targetDir, compactAtPpm)
                .foreach(rep => System.err.println(
                  s"[applySink] amplification ${rep.amplificationPpm} ppm > " +
                    s"$compactAtPpm at batch $batchId: compacted " +
                    s"(${rep.rawRows} raw / ${rep.resolvedRows} resolved rows)"))
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[applySink] best-effort amplification check at batch $batchId failed: ${e.getMessage}")
              }
            }
          } catch {
            case e: Throwable if isShutdownFailure(e) => throw e // replay on restart
            // transient infrastructure contention, not a data property:
            // a live concurrent writer (long compaction) exhausted the
            // lock wait, or the pointer moved under a publish. The data
            // is fine — failing the batch replays it from the checkpoint;
            // deadlettering it would commit offsets for events that were
            // never applied (silent loss of a perfectly valid batch).
            case e: SnapshotStore.LockTimeoutException => throw e
            case e: java.util.ConcurrentModificationException => throw e
            case scala.util.control.NonFatal(e) =>
              deadLetter(valid.withColumn("error", lit(e.getMessage)), deadletterDir)
          }
        } finally {
          // the eager checkpoint pins blocks in the block manager; a 5 s
          // trigger would accumulate one block set per batch until GC
          full.unpersist(); ()
        }
        ()
      }

  /** Conditional-apply sink (r14, VERDICT r13 #7 — the streaming face of
    * [[SnapshotStore.mergeConditional]]): each micro-batch's delta rows
    * carry `cond`/`expectSeq`, conditions evaluate against the PRE-BATCH
    * resolved state, accepted rows merge through the normal locked LWW
    * publish, and REJECTED rows append to `auditDir` with the batch id —
    * the audit stream a producer reconciles against (DynamoDB returns
    * ConditionalCheckFailedException per item; a log-shaped pipeline
    * returns a log). Audit semantics are AT-LEAST-ONCE, like the
    * deadletter stream: a checkpoint replay re-evaluates conditions
    * against the now-updated state, so a replayed accepted create can
    * re-audit as `exists` — consumers dedupe on (keys, sequenceNumber),
    * while the STATE stays exactly-once by the LWW merge's idempotency
    * (replayed accepted rows are sequence no-ops). The judged frame is
    * checkpointed inside mergeConditional, so the batch is read once.
    */
  def conditionalApplySink(cdc: DataFrame, targetDir: String,
                           checkpointDir: String, auditDir: String,
                           trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[org.apache.spark.sql.Row] =
    cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val rejected = SnapshotStore.mergeConditional(
          spark, targetDir, batch.toDF(), batchId)
        rejected.withColumn("batchId", lit(batchId))
          .write.mode("append").parquet(auditDir)
        ()
      }

  /** Per-key order: highest sequenceNumber wins. DynamoDB sequence
    * numbers are variable-length NUMERIC strings, so compare by
    * canonicalized (length, value) — numeric order without a 40-digit
    * BigInt parse per event; plain lexicographic would rank "9" > "10"
    * (CdcOps.numericStringKey). `prior` leads the iterator: maxBy keeps
    * the FIRST max, so a re-delivery whose rendering merely differs in
    * zero padding cannot flip state.
    */
  private def lwwWinner(prior: KeyState, events: Iterator[KeyState]): KeyState =
    (Iterator(prior) ++ events).maxBy(ks => CdcOps.numericStringKey(ks.seq))

  private def toKeyState(key: String, name: String, seq: String,
                         img: Option[String]): KeyState =
    KeyState(key, seq, if (name == CdcSchema.Remove) None else img,
      live = name != CdcSchema.Remove)

  /** Default state retention for the stateful ops: evict keys event-time
    * idle for 7 days. Finite BY DEFAULT so a long-running stream's state
    * store is bounded by its active key set unless the caller explicitly
    * opts in to unbounded (`retentionMs = None`) — see the eviction
    * scaladoc on [[statefulLatest]] for the trade each side makes.
    */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Bounded retention needs event time; fail loudly up front instead of
    * surfacing an unresolved-column error from deep inside the watermark
    * analysis — and NEVER silently degrade to unbounded state.
    */
  private def requireEventTimeForRetention(
      cdc: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      retentionMs: Option[Long]): Unit =
    require(retentionMs.isEmpty || cdc.columns.contains("approxCreationTs"),
      "bounded state retention (the default) evicts on EVENT-TIME idleness and needs " +
        "an 'approxCreationTs' column on the input. Either carry it, or opt in to " +
        "unbounded state with retentionMs = None (the store then grows with the " +
        "all-time key set).")

  /** The stateful ops have no DLQ channel: malformed rows (null key
    * fields) must be poison-split upstream ([[isPoison]]). Defensively
    * drop any that slip through rather than NPE the state function's
    * sequence comparison and kill the stream.
    */
  private def dropMalformed(cdc: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] =
    cdc.filter(col("keys").isNotNull && col("eventName").isNotNull &&
      col("sequenceNumber").isNotNull)

  /** Streaming-native apply: per-key LWW state maintained in the state
    * store via `mapGroupsWithState` (SURVEY §2.9 T9 — arbitrary stateful
    * ops). The alternative formulation to the foreachBatch merge: instead
    * of rewriting a keyed table per micro-batch, each key's latest image
    * lives in managed state and every batch emits the keys it changed
    * (an update-log, e.g. for a downstream changelog consumer).
    *
    * State per key is one (sequenceNumber, image) pair — bounded by key
    * cardinality, not event volume. REMOVE is represented as a tombstone
    * (None image) so late out-of-order events cannot resurrect a deleted
    * key.
    *
    * State EVICTION — ON BY DEFAULT (`retentionMs` defaults to
    * [[DefaultRetentionMs]], 7 days): keys event-time idle for `ms` past
    * the watermark (input must carry `approxCreationTs`;
    * `watermarkDelay` bounds lateness) are dropped from the store via
    * `EventTimeTimeout` — state is then bounded by the ACTIVE key set,
    * not all keys ever seen. An evicted key flushes its final state once
    * and later events rebuild it from empty, so a delivery staler than
    * the retention window can win again — the documented trade of any
    * TTL'd store (tombstone GC included: a REMOVE tombstone only has to
    * out-live the retention window, within which any stale resurrecting
    * event must arrive). UNBOUNDED state (`retentionMs = None`) is an
    * explicit opt-in and the inverse trade: no delivery is ever too
    * stale to be guarded against, but the store grows with the ALL-TIME
    * key set — at a 100 TB target that is the table's entire key space
    * held in executor state, which is only sane when the key cardinality
    * is known-bounded. An input without `approxCreationTs` cannot have
    * event-time eviction, so the default FAILS LOUDLY on it rather than
    * silently falling back to unbounded.
    */
  /** `initial` bootstraps the state store from a pre-existing per-key
    * state — the restore integration: load the restored snapshot's LWW
    * state (e.g. from [[SnapshotStore.readTarget]]) as `Dataset[KeyState]`, then
    * stream the CDC buffer on top. A stale buffered delivery loses to
    * the seeded sequence number exactly as it would to a streamed one,
    * so "restore then drain" and "streamed all along" converge to the
    * same store (spec-pinned).
    */
  def statefulLatest(cdc: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     retentionMs: Option[Long] = Some(DefaultRetentionMs),
                     watermarkDelay: String = "10 minutes",
                     initial: Option[org.apache.spark.sql.Dataset[KeyState]] = None)
      : org.apache.spark.sql.Dataset[KeyState] = {
    val spark = cdc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    requireEventTimeForRetention(cdc, retentionMs)
    val src = dropMalformed(cdc)
    retentionMs match {
      case None =>
        val g = src.select("keys", "eventName", "sequenceNumber", "newImage")
          .as[(String, String, String, Option[String])]
          .groupByKey(_._1)
        val f = (key: String, events: Iterator[(String, String, String, Option[String])],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) => {
          val prior = state.getOption
            .getOrElse(KeyState(key, "", None, live = false))
          val latest = lwwWinner(prior, events.map {
            case (_, name, seq, img) => toKeyState(key, name, seq, img)
          })
          state.update(latest)
          latest
        }
        initial match {
          case Some(init) =>
            g.mapGroupsWithState(GroupStateTimeout.NoTimeout(), init.groupByKey(_.keys))(f)
          case None =>
            g.mapGroupsWithState(GroupStateTimeout.NoTimeout())(f)
        }
      case Some(ret) =>
        val g = src.withWatermark("approxCreationTs", watermarkDelay)
          .select("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
          .as[(String, String, String, Option[String], java.sql.Timestamp)]
          .groupByKey(_._1)
        val f = (key: String,
                 events: Iterator[(String, String, String, Option[String], java.sql.Timestamp)],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            // GC: event-time idle past the retention window. Flush the
            // final state once and drop the key from the store.
            val last = state.get
            state.remove()
            last
          } else {
            val prior = state.getOption
              .getOrElse(KeyState(key, "", None, live = false))
            var maxTs = Long.MinValue
            val latest = lwwWinner(prior, events.map {
              case (_, name, seq, img, ts) =>
                maxTs = math.max(maxTs, ts.getTime)
                toKeyState(key, name, seq, img)
            })
            state.update(latest)
            // evict after `ret` ms of event-time inactivity; Spark
            // rejects a timeout at-or-before the current watermark
            state.setTimeoutTimestamp(
              math.max(maxTs + ret, state.getCurrentWatermarkMs + 1))
            latest
          }
        initial match {
          case Some(init) =>
            g.mapGroupsWithState(
              GroupStateTimeout.EventTimeTimeout(), init.groupByKey(_.keys))(f)
          case None =>
            g.mapGroupsWithState(GroupStateTimeout.EventTimeTimeout())(f)
        }
    }
  }

  /** Changelog variant of [[statefulLatest]] via `flatMapGroupsWithState`
    * (T9): emits a key's state ONLY when a batch actually changes its LWW
    * winner — a stale or duplicate delivery produces no output row. This
    * is the shape a downstream incremental consumer wants (e.g. feeding a
    * secondary index or cache): update-log volume tracks real change
    * rate, not delivery rate. Same numeric (length, value) sequence
    * order as the rest of the engine.
    *
    * Same eviction contract as [[statefulLatest]], except a timed-out
    * key emits NOTHING (its state was already emitted when it last
    * changed — a GC flush would be a duplicate in a changelog). Same
    * `initial` bootstrap too: seeded keys are silent until a delivery
    * actually beats the seed, so replaying an already-applied buffer
    * over restored state produces an EMPTY changelog (spec-pinned).
    */
  def statefulChangelog(cdc: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                        retentionMs: Option[Long] = Some(DefaultRetentionMs),
                        watermarkDelay: String = "10 minutes",
                        initial: Option[org.apache.spark.sql.Dataset[KeyState]] = None)
      : org.apache.spark.sql.Dataset[KeyState] = {
    val spark = cdc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    requireEventTimeForRetention(cdc, retentionMs)
    val src = dropMalformed(cdc)
    retentionMs match {
      case None =>
        val g = src.select("keys", "eventName", "sequenceNumber", "newImage")
          .as[(String, String, String, Option[String])]
          .groupByKey(_._1)
        val f = (key: String, events: Iterator[(String, String, String, Option[String])],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) => {
          val prior = state.getOption
            .getOrElse(KeyState(key, "", None, live = false))
          // prior leads: a duplicate delivery that ties on the canonical
          // sequence key (zero-pad rendering differences included) keeps
          // the stored state and emits NOTHING — the changelog contract
          // (a bootstrapped initial state is likewise silent until a
          // delivery actually changes it)
          val latest = lwwWinner(prior, events.map {
            case (_, name, seq, img) => toKeyState(key, name, seq, img)
          })
          if (latest == prior) Iterator.empty
          else { state.update(latest); Iterator.single(latest) }
        }
        initial match {
          case Some(init) =>
            g.flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout(),
              init.groupByKey(_.keys))(f)
          case None =>
            g.flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(f)
        }
      case Some(ret) =>
        val g = src.withWatermark("approxCreationTs", watermarkDelay)
          .select("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
          .as[(String, String, String, Option[String], java.sql.Timestamp)]
          .groupByKey(_._1)
        val f = (key: String,
                 events: Iterator[(String, String, String, Option[String], java.sql.Timestamp)],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty: Iterator[KeyState]
          } else {
            val prior = state.getOption
              .getOrElse(KeyState(key, "", None, live = false))
            var maxTs = Long.MinValue
            val latest = lwwWinner(prior, events.map {
              case (_, name, seq, img, ts) =>
                maxTs = math.max(maxTs, ts.getTime)
                toKeyState(key, name, seq, img)
            })
            val out =
              if (latest == prior) Iterator.empty
              else { state.update(latest); Iterator.single(latest) }
            state.setTimeoutTimestamp(
              math.max(maxTs + ret, state.getCurrentWatermarkMs + 1))
            out
          }
        initial match {
          case Some(init) =>
            g.flatMapGroupsWithState(OutputMode.Update(),
              GroupStateTimeout.EventTimeTimeout(), init.groupByKey(_.keys))(f)
          case None =>
            g.flatMapGroupsWithState(OutputMode.Update(),
              GroupStateTimeout.EventTimeTimeout())(f)
        }
    }
  }

  /** Tumbling event-time window aggregation over the stream (T9):
    * counts per eventName per window, watermarked so state is bounded.
    */
  def windowedCounts(cdc: DataFrame, window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    cdc.withWatermark("approxCreationTs", watermark)
      .groupBy(window(col("approxCreationTs"), window_), col("eventName"))
      .agg(count(lit(1)).as("n"))

  /** Streaming incremental view maintenance, stage 1 (T9 + §2.11 A10):
    * the retract/assert change feed. Same per-key LWW state machine as
    * [[statefulChangelog]], but each real transition emits SIGNED rows —
    * retract the prior live image (-1), assert the new live image (+1);
    * a winning tombstone retracts only, a stale or duplicate delivery
    * emits nothing. Runs in APPEND output mode: the emitted rows are
    * immutable facts about transitions (never revised), which is what
    * lets Spark chain a downstream streaming aggregation onto a
    * stateful operator — [[maintainedAggView]] folds this feed into a
    * continuously-maintained per-group aggregate, the streaming dual of
    * [[graft.ops.CdcOps.incrementalAggMaintain]] (one semantics, two
    * drivers). Eviction/bootstrap contract as [[statefulChangelog]]:
    * a timed-out key's state was already reflected downstream, so
    * timeout emits nothing; seeded initial state is silent until beaten.
    *
    * Chaining note: with finite retention (the default) Spark's
    * global-watermark correctness check rejects a downstream stateful
    * aggregation outright. The hazard it guards against — late rows
    * dropped by a downstream watermark — cannot occur here because
    * [[maintainedAggView]]'s aggregate is UNWINDOWED (it discards
    * nothing, whenever a delta arrives); either run with
    * `retentionMs = None`, or disable
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled`
    * for the chain (what [[graft.IvmBench]] does, with the rationale).
    */
  def statefulAggDeltas(cdc: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                        retentionMs: Option[Long] = Some(DefaultRetentionMs),
                        watermarkDelay: String = "10 minutes",
                        initial: Option[org.apache.spark.sql.Dataset[KeyState]] = None)
      : org.apache.spark.sql.Dataset[StateDelta] = {
    val spark = cdc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    requireEventTimeForRetention(cdc, retentionMs)
    val src = dropMalformed(cdc)

    def transition(prior: KeyState, latest: KeyState,
                   state: org.apache.spark.sql.streaming.GroupState[KeyState])
        : Iterator[StateDelta] =
      if (latest == prior) Iterator.empty
      else {
        state.update(latest)
        (if (prior.live) Iterator.single(StateDelta(prior.keys, -1, prior.seq, prior.image))
         else Iterator.empty) ++
          (if (latest.live) Iterator.single(StateDelta(latest.keys, 1, latest.seq, latest.image))
           else Iterator.empty)
      }

    retentionMs match {
      case None =>
        val g = src.select("keys", "eventName", "sequenceNumber", "newImage")
          .as[(String, String, String, Option[String])]
          .groupByKey(_._1)
        val f = (key: String, events: Iterator[(String, String, String, Option[String])],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) => {
          val prior = state.getOption.getOrElse(KeyState(key, "", None, live = false))
          val latest = lwwWinner(prior, events.map {
            case (_, name, seq, img) => toKeyState(key, name, seq, img)
          })
          transition(prior, latest, state)
        }
        initial match {
          case Some(init) =>
            g.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout(),
              init.groupByKey(_.keys))(f)
          case None =>
            g.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(f)
        }
      case Some(ret) =>
        val g = src.withWatermark("approxCreationTs", watermarkDelay)
          .select("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
          .as[(String, String, String, Option[String], java.sql.Timestamp)]
          .groupByKey(_._1)
        val f = (key: String,
                 events: Iterator[(String, String, String, Option[String], java.sql.Timestamp)],
                 state: org.apache.spark.sql.streaming.GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty: Iterator[StateDelta]
          } else {
            val prior = state.getOption.getOrElse(KeyState(key, "", None, live = false))
            var maxTs = Long.MinValue
            val latest = lwwWinner(prior, events.map {
              case (_, name, seq, img, ts) =>
                maxTs = math.max(maxTs, ts.getTime)
                toKeyState(key, name, seq, img)
            })
            val out = transition(prior, latest, state)
            state.setTimeoutTimestamp(
              math.max(maxTs + ret, state.getCurrentWatermarkMs + 1))
            out
          }
        initial match {
          case Some(init) =>
            g.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout(), init.groupByKey(_.keys))(f)
          case None =>
            g.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout())(f)
        }
    }
  }

  /** Streaming incremental view maintenance, stage 2: fold the signed
    * change feed into a per-group (live keys, measure sum) aggregate.
    * `group`/`measure` are evaluated against each delta row (the image
    * JSON is available as `image`). Because every retract/assert is
    * emitted exactly once (stage 1's changelog contract), a plain
    * streaming SUM over the signed rows IS the maintained view — run the
    * sink in Update output mode and the per-group rows converge to the
    * batch recompute of the final state (spec-pinned). Shuffle cost per
    * micro-batch is the changed-key delta, never the key universe.
    */
  def maintainedAggView(deltas: org.apache.spark.sql.Dataset[StateDelta],
                        group: org.apache.spark.sql.Column,
                        measure: org.apache.spark.sql.Column): DataFrame =
    deltas.toDF()
      .select(group.as("grp"), col("sign").cast("long").as("sign"),
        measure.cast("long").as("m"))
      .groupBy("grp")
      .agg(sum(col("sign")).as("n_keys"),
        sum(col("sign") * col("m")).as("m_sum"))

  /** Streaming schema-drift alarm — the streaming dual of the batch
    * `cdc_schema_drift` report: the NewImage attribute inventory as a
    * FIRST-SEEN changelog. One output row per novel (attribute, DDB
    * type) pair — a new attribute appearing mid-stream or an attribute
    * changing type alarms in the micro-batch it first arrives; every
    * later occurrence is silent. This is the monitor a schemaless CDC
    * pipeline runs beside the apply sink (the reference applies
    * whatever NewImage arrives — blind to drift until a consumer
    * breaks).
    *
    * Input: the decoded envelope frame (`newImage` = DDB-JSON
    * attribute→AttributeValue object, `approxCreationTs`). The image
    * parses ONCE as MAP<STRING,STRING> (each AttributeValue's raw JSON
    * kept as the value), `json_object_keys` tags the type per
    * attribute — per-row maps; the stateful op's key space is the
    * (attr, type) INVENTORY, so state is bounded by schema cardinality,
    * not stream length. Default event-time retention still applies
    * (house rule: finite by default) — an attribute absent past the
    * window re-alarms on reappearance, which for a drift monitor is a
    * feature (it IS news). Tombstones carry no image and contribute
    * nothing.
    */
  def schemaDriftAlarm(cdc: DataFrame,
                       retentionMs: Option[Long] = Some(DefaultRetentionMs),
                       watermarkDelay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[SchemaAlarm] = {
    val spark = cdc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    requireEventTimeForRetention(cdc, retentionMs)
    val inv = cdc
      .filter(col("newImage").isNotNull)
      .select(col("approxCreationTs"),
        explode(from_json(col("newImage"), "MAP<STRING, STRING>",
          Map.empty[String, String])).as(Seq("attr", "av")))
      .select(col("attr"),
        element_at(json_object_keys(col("av")), 1).as("avtype"),
        col("approxCreationTs"))
      .filter(col("avtype").isNotNull)

    retentionMs match {
      case None =>
        val g = inv.as[(String, String, java.sql.Timestamp)]
          .groupByKey(t => (t._1, t._2))
        g.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (key: (String, String), rows: Iterator[(String, String, java.sql.Timestamp)],
           state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              val first = rows.map(_._3).minBy(_.getTime)
              Iterator.single(SchemaAlarm(key._1, key._2, first))
            }
        }
      case Some(ret) =>
        val g = inv.withWatermark("approxCreationTs", watermarkDelay)
          .as[(String, String, java.sql.Timestamp)]
          .groupByKey(t => (t._1, t._2))
        g.flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()) {
          (key: (String, String), rows: Iterator[(String, String, java.sql.Timestamp)],
           state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
            if (state.hasTimedOut) {
              // retention GC: the pair drops from the store, so a
              // reappearance after the window alarms again (documented)
              state.remove()
              Iterator.empty: Iterator[SchemaAlarm]
            } else {
              var maxTs = Long.MinValue
              var minTs = Long.MaxValue
              rows.foreach { t =>
                maxTs = math.max(maxTs, t._3.getTime)
                minTs = math.min(minTs, t._3.getTime)
              }
              val novel = !state.exists
              state.update(true)
              state.setTimeoutTimestamp(
                math.max(maxTs + ret, state.getCurrentWatermarkMs + 1))
              if (novel)
                Iterator.single(SchemaAlarm(key._1, key._2, new java.sql.Timestamp(minTs)))
              else Iterator.empty
            }
        }
    }
  }

  /** Streaming late-arrival monitor (r12) — the streaming dual of the
    * batch `cdc_late_arrival_audit`: per key, an event whose event time
    * precedes the key's DELIVERED event-time high-water mark alarms
    * with its exact lateness in microseconds, in the micro-batch it
    * arrives. The max observed lateness is precisely the
    * `watermarkDelay` every stateful operator here takes as a
    * parameter — this is the monitor that keeps that number honest in
    * production instead of guessed at deploy time.
    *
    * Input: (keys, eventId, approxCreationTs, deliveryPos) — across
    * micro-batches the delivery order IS arrival order (the state
    * carries the HWM forward); within one batch events fold in
    * (deliveryPos, eventId) order, so a source that delivers multiple
    * events per key per batch stays deterministic. State per key is ONE
    * long (the HWM); finite event-time retention by the house rule — a
    * key idle past the window drops its HWM, so an extremely late
    * event after eviction re-seeds silently (same contract as
    * statefulLatest's TTL, documented trade).
    */
  def lateArrivalAlarms(cdc: DataFrame,
                        retentionMs: Option[Long] = Some(DefaultRetentionMs),
                        watermarkDelay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[LateAlarm] = {
    val spark = cdc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    requireEventTimeForRetention(cdc, retentionMs)
    val src = cdc.select(col("keys"), col("eventId"),
      col("approxCreationTs"), col("deliveryPos").cast("long"))

    def fold(events: Iterator[(String, String, java.sql.Timestamp, Long)],
             state: org.apache.spark.sql.streaming.GroupState[Long],
             afterMaxTs: Long => Unit): Iterator[LateAlarm] = {
      val ordered = events.toSeq.sortBy(t => (t._4, t._2))
      var hwm = state.getOption.getOrElse(Long.MinValue)
      var maxTs = Long.MinValue
      val out = Seq.newBuilder[LateAlarm]
      ordered.foreach { case (k, id, ts, _) =>
        val us = ts.getTime * 1000L
        maxTs = math.max(maxTs, ts.getTime)
        if (us < hwm) out += LateAlarm(k, id, hwm - us)
        else hwm = us
      }
      state.update(hwm)
      afterMaxTs(maxTs)
      out.result().iterator
    }

    retentionMs match {
      case None =>
        src.as[(String, String, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.NoTimeout()) {
            (_: String, events: Iterator[(String, String, java.sql.Timestamp, Long)],
             state: org.apache.spark.sql.streaming.GroupState[Long]) =>
              fold(events, state, _ => ())
          }
      case Some(ret) =>
        src.withWatermark("approxCreationTs", watermarkDelay)
          .as[(String, String, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout()) {
            (_: String, events: Iterator[(String, String, java.sql.Timestamp, Long)],
             state: org.apache.spark.sql.streaming.GroupState[Long]) =>
              if (state.hasTimedOut) {
                state.remove()
                Iterator.empty: Iterator[LateAlarm]
              } else fold(events, state, maxTs =>
                state.setTimeoutTimestamp(
                  math.max(maxTs + ret, state.getCurrentWatermarkMs + 1)))
          }
    }
  }

  /** Per-window frequent keys over the stream (T9 + §2.10): the
    * mergeable Misra–Gries sketch ([[graft.functions.FrequentItemsAgg]])
    * as a streaming aggregate — per tumbling event-time window, the ≤ k
    * hot-key candidates (by 64-bit key hash) with approximate counts,
    * plus the window's total for thresholding. The sketch buffer is what
    * lives in the state store (O(k) per window, bounded by the
    * watermark), and partial aggregation across micro-batches is exactly
    * the capacity-enforcing merge — the property that makes a sketch
    * usable as streaming state at all. Every key with in-window
    * frequency > n/(k+1) is guaranteed present (spec-pinned); the batch
    * path's exact candidate recount applies downstream if true counts
    * are needed.
    */
  def windowedHeavyHitters(cdc: DataFrame, k: Int = 64,
                           window_ : String = "1 hour",
                           watermark: String = "10 minutes"): DataFrame = {
    val fi = udaf(new graft.functions.FrequentItemsAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    cdc.withWatermark("approxCreationTs", watermark)
      .groupBy(window(col("approxCreationTs"), window_))
      .agg(fi(xxhash64(col("keys"))).as("sketch"), count(lit(1)).as("n"))
  }

  /** The documented batch follow-up of [[windowedHeavyHitters]]: decode
    * each window's sketch candidates against the window's SOURCE rows
    * and keep only keys whose EXACT in-window count clears the
    * `n / thresholdDiv` threshold — so downstream consumers get real
    * keys with true counts, never raw sketch buffers, and the threshold
    * rule lives in one place (same rule as the batch `agg_heavy_hitters`
    * query). `source` is the same data the sketch ran over, from
    * replayable storage (e.g. the CDC log directory read as a batch
    * frame). Scale shape: the exploded candidate set is ≤ k rows per
    * window — broadcast — so the decode costs ONE scan of the source,
    * one broadcast semi-join, one bounded hash-agg; the sketch guarantee
    * (every key with freq > n/(k+1) is among the candidates) makes the
    * composition exact for every emitted key (StreamingSpec pins
    * streaming-sketch + this decode ≡ the direct exact computation).
    *
    * `sketchK` is the k of the Misra–Gries sketch that produced
    * `sketched` — the exactness guarantee needs thresholdDiv ≤ k+1
    * (a coarser sketch than the threshold silently drops true
    * hitters), so the pairing is validated here rather than trusted.
    */
  def decodeHeavyHitters(sketched: DataFrame, source: DataFrame,
                         window_ : String = "1 hour",
                         thresholdDiv: Long = 64,
                         sketchK: Int = 64): DataFrame = {
    require(thresholdDiv <= sketchK + 1,
      s"exactness requires thresholdDiv ($thresholdDiv) <= sketchK+1 (${sketchK + 1}): " +
        "a Misra-Gries sketch of capacity k only guarantees candidates for keys " +
        "with frequency > n/(k+1)")
    val cand = sketched.select(col("window"), col("n"),
      explode(map_keys(col("sketch"))).as("khash"))
    source
      .select(col("keys"),
        window(col("approxCreationTs"), window_).as("window"),
        xxhash64(col("keys")).as("khash"))
      .join(broadcast(cand), Seq("window", "khash"))
      .groupBy(col("window"), col("keys"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("n") / lit(thresholdDiv))
      .select("window", "keys", "cnt", "n")
  }

  /** Session windows by inactivity gap over the stream (T9). */
  def sessionCounts(cdc: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    cdc.withWatermark("approxCreationTs", watermark)
      .groupBy(session_window(col("approxCreationTs"), gap), col("keys"))
      .agg(count(lit(1)).as("n"))

  /** Stream-stream INTERVAL join (T9): correlate each CDC event with the
    * control-plane event that triggered it — same key, CDC event time
    * within [ctrlTs, ctrlTs + maxDelay] (the streaming form of the batch
    * `join_range`; e.g. attributing replay traffic to the RESTORE_STARTED
    * that caused it). Both sides are watermarked and the join condition
    * bounds event-time distance, so Spark derives a state-eviction bound
    * for BOTH join state stores — state holds one interval's worth of
    * rows per side, not the whole streams. `control` must carry
    * (ctrlKey, ctrlTs, ...); an inner join, so matches emit immediately.
    */
  /** `joinType` extends the correlation to `left_outer`: a CDC event
    * with no control match emits with null control columns once the
    * CONTROL watermark passes its interval — i.e. only when a matching
    * control event can no longer arrive. That makes the outer join the
    * streaming "unattributed traffic" detector (replay events with no
    * RESTORE_STARTED on record), with emission latency bounded by the
    * watermark delay.
    */
  def correlateWithControl(cdc: DataFrame, control: DataFrame,
                           maxDelay: String = "10 minutes",
                           watermark: String = "10 minutes",
                           joinType: String = "inner"): DataFrame = {
    val l = cdc.withWatermark("approxCreationTs", watermark)
    val r = control.withWatermark("ctrlTs", watermark)
    l.join(r,
      l("keys") === r("ctrlKey") &&
        l("approxCreationTs") >= r("ctrlTs") &&
        l("approxCreationTs") <= r("ctrlTs") + expr(s"interval $maxDelay"),
      joinType)
  }
}
