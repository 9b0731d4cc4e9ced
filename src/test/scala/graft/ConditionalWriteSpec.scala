package graft

import java.nio.file.Files

import graft.streaming.{CdcStream, SnapshotStore}

/** Conditional-write apply semantics (r14, VERDICT r13 #7): DynamoDB's
  * `ConditionExpression` primitive (`attribute_not_exists` / version
  * guard) through the LWW store — the GsiSpec-style transition table,
  * plus the audit-row contract for rejected writes and the interaction
  * with the store's monotone sequence guard.
  */
class ConditionalWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** (key, op, seq, image, cond, expectSeq) */
  private def delta(rows: (String, String, String, Option[String],
      Option[String], Option[String])*) =
    rows.toDF("keys", "op", "sequenceNumber", "newImage", "cond", "expectSeq")

  private def state(target: String): Map[String, String] =
    SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def audit(df: org.apache.spark.sql.DataFrame)
      : Set[(String, String, String)] =
    df.select("keys", "cond", "reason").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("conditional transitions: not_exists, version guard, audit rows, state") {
    val target = tmp("cond-target")

    // batch 0 on a FRESH target: two creates apply; a version-guarded
    // update on a missing key is rejected with reason=absent
    val a0 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "001", Some("v1"), Some("not_exists"), None),
      ("k2", "PUT", "002", Some("w1"), Some("not_exists"), None),
      ("k3", "PUT", "003", Some("x1"), Some("version"), Some("000"))), 0L)
    assert(audit(a0) === Set(("k3", "version", "absent")))
    assert(state(target) === Map("k1" -> "v1", "k2" -> "w1"))

    // batch 1: repeat create rejected (exists); correct-version update
    // applies; stale-version update rejected with found/expected recorded
    val a1 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "004", Some("v1b"), Some("not_exists"), None),
      ("k1", "PUT", "005", Some("v2"), Some("version"), Some("001")),
      ("k2", "PUT", "006", Some("w2"), Some("version"), Some("000"))), 1L)
    assert(audit(a1) === Set(
      ("k1", "not_exists", "exists"), ("k2", "version", "version_mismatch")))
    val mm = a1.filter($"keys" === "k2").select("expected", "found")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(mm === Seq(("000", "002")), "audit must record found vs expected")
    assert(state(target) === Map("k1" -> "v2", "k2" -> "w1"))

    // version equality is NUMERIC: "05" matches stored "005"-rendered
    // sequence values by canonical digits, not raw strings
    val a2 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k2", "PUT", "007", Some("w2"), Some("version"), Some("02"))), 2L)
    assert(audit(a2).isEmpty)
    assert(state(target)("k2") === "w2")

    // conditional DELETE with a correct version guard applies; the freed
    // key then accepts a create (not_exists passes on a tombstoned key)
    val a3 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "DELETE", "008", None, Some("version"), Some("005"))), 3L)
    assert(audit(a3).isEmpty)
    assert(state(target) === Map("k2" -> "w2"))
    val a4 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "009", Some("v3"), Some("not_exists"), None)), 4L)
    assert(audit(a4).isEmpty)
    assert(state(target) === Map("k1" -> "v3", "k2" -> "w2"))

    // unconditional rows pass through untouched BUT still meet the
    // store's monotone sequence guard: a stale replayed PUT cannot
    // regress the key (condition layer composes with, never replaces,
    // the LWW rule)
    val a5 = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "002", Some("stale"), None, None)), 5L)
    assert(audit(a5).isEmpty)
    assert(state(target)("k1") === "v3")
  }

  test("streaming face: conditionalApplySink merges accepted rows, audits rejected ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val target = tmp("conds-target"); val ckpt = tmp("conds-ckpt")
    val auditDir = tmp("conds-audit")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[
      (String, String, String, Option[String], Option[String], Option[String])]
    val df = in.toDF().toDF(
      "keys", "op", "sequenceNumber", "newImage", "cond", "expectSeq")
    in.addData(
      ("k1", "PUT", "001", Some("v1"), Some("not_exists"), None),
      ("k2", "PUT", "002", Some("w1"), Some("version"), Some("000")))
    val q = CdcStream.conditionalApplySink(df, target, ckpt, auditDir,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(state(target) === Map("k1" -> "v1"))
    // second wave through the SAME checkpoint: the repeat create rejects,
    // the correct-version update applies
    in.addData(
      ("k1", "PUT", "003", Some("v1b"), Some("not_exists"), None),
      ("k1", "PUT", "004", Some("v2"), Some("version"), Some("001")))
    val q2 = CdcStream.conditionalApplySink(df, target, ckpt, auditDir,
      trigger = Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(state(target) === Map("k1" -> "v2"))
    val audits = spark.read.parquet(auditDir)
      .select("keys", "reason", "batchId").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(audits === Set(
      ("k2", "absent", 0L), ("k1", "exists", 1L)), s"audit rows: $audits")
  }

  test("audit rows carry the rejected write's sequenceNumber; unknown conds reject, never apply") {
    val target = tmp("cond-audit")
    SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "001", Some("v1"), Some("not_exists"), None)), 0L)
    // k1: legitimate reject (exists). k2/k3: producer typos — DynamoDB
    // fails an invalid ConditionExpression, so a misspelled guard must
    // NOT become an unguarded overwrite (r14 advisor). Every audit row
    // must carry the rejected write's own sequenceNumber — the
    // documented at-least-once dedupe key (keys, sequenceNumber).
    val a = SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "002", Some("v2"), Some("not_exists"), None),
      ("k2", "PUT", "003", Some("w1"), Some("NOT_EXISTS"), None),
      ("k3", "PUT", "004", Some("x1"), Some("put-if-absent"), None)), 1L)
    val rows = a.select("keys", "sequenceNumber", "reason").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(
      ("k1", "002", "exists"),
      ("k2", "003", "invalid_condition"),
      ("k3", "004", "invalid_condition")))
    assert(state(target) === Map("k1" -> "v1"))
  }

  test("batch-atomic declaration: conditions see the pre-batch state; LWW resolves intra-batch") {
    val target = tmp("cond-batch")
    SnapshotStore.mergeConditional(spark, target, delta(
      ("k1", "PUT", "001", Some("v1"), Some("not_exists"), None)), 0L)
    // both rows' not_exists guards evaluate against the pre-batch state
    // (k2 absent): BOTH pass, then the LWW collapse keeps the higher
    // sequence — the declared batch-atomic semantics
    val a = SnapshotStore.mergeConditional(spark, target, delta(
      ("k2", "PUT", "002", Some("first"), Some("not_exists"), None),
      ("k2", "PUT", "003", Some("second"), Some("not_exists"), None)), 1L)
    assert(audit(a).isEmpty)
    assert(state(target)("k2") === "second")
  }
}
