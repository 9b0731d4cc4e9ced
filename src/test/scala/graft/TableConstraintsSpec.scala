package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStream, SnapshotStore, TableConstraints}
import graft.streaming.TableConstraints.Check

/** Write-time CHECK constraints with quarantine (r15, VERDICT r14 #6):
  * dq_scorecard's after-the-fact measurement gains an enforcement
  * face — a declared predicate splits violating rows into the
  * quarantine path (with the violated constraint's name and batch id
  * as the audit row) while the clean remainder merges and the batch
  * never fails. Plus the declaration-time contract: invalid
  * expressions fail LOUDLY at declare, never silently at enforcement.
  */
class TableConstraintsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def writeCdcFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    try lines.foreach(w.println) finally w.close()
  }

  private def rec(id: String, name: String, ts: String, seq: String,
                  keys: String, img: Option[String]): String = {
    val imgJson = img.map(i => s""""$i"""").getOrElse("null")
    s"""{"eventID":"$id","eventName":"$name","approxCreationTs":"$ts","sequenceNumber":"$seq","keys":"$keys","newImage":$imgJson,"oldImage":null}"""
  }

  test("violating rows land in quarantine with audit fields; target state stays clean") {
    val in = tmp("tc-in"); val target = tmp("tc-target")
    val ckpt = tmp("tc-ckpt"); val dlq = tmp("tc-dlq")
    val quarantine = tmp("tc-quarantine")

    TableConstraints.declare(spark, target, Seq(
      Check("img_len_le_2", "length(newImage) <= 2"),
      Check("no_bad_prefix", "NOT startswith(newImage, 'b')")))

    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")),
      rec("e2", "INSERT", "2024-01-01T00:00:02Z", "002", "k2", Some("bad1")),
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k3", Some("w1")),
      rec("e4", "INSERT", "2024-01-01T00:00:04Z", "004", "k4", Some("bx"))))

    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      quarantineDir = quarantine).start()
    q.awaitTermination(60000)

    // target: clean rows only — the violating writes never reached it
    val state = SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1", "k3" -> "w1"))

    // quarantine: one audit row per violation, FIRST violated name wins
    // (k2 "bad1" breaks both — img_len_le_2 is declared first; k4 "bx"
    // passes the length check and breaks the prefix check)
    val audit = spark.read.parquet(quarantine)
      .select("keys", "error", "batchId").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(audit === Set(
      ("k2", "check violation: img_len_le_2", 0L),
      ("k4", "check violation: no_bad_prefix", 0L)))

    // the deadletter path stays empty — quality violations are
    // quarantine, not poison
    assert(!new java.io.File(dlq).exists() ||
      new java.io.File(dlq).listFiles().forall(_.getName.startsWith(".")))

    // a REMOVE is never checked (no image to judge) and a later clean
    // write to a quarantined key applies normally
    writeCdcFile(in, "b2.json", Seq(
      rec("e5", "REMOVE", "2024-01-01T00:00:05Z", "005", "k1", None),
      rec("e6", "INSERT", "2024-01-01T00:00:06Z", "006", "k2", Some("ok"))))
    val q2 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      quarantineDir = quarantine).start()
    q2.awaitTermination(60000)
    val state2 = SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === Map("k2" -> "ok", "k3" -> "w1"))
  }

  test("NULL passes (SQL-standard CHECK) and undeclared targets skip the split") {
    val in = tmp("tcn-in"); val target = tmp("tcn-target")
    val ckpt = tmp("tcn-ckpt"); val dlq = tmp("tcn-dlq")
    // constraint over a JSON field most images do not carry: NULL passes
    TableConstraints.declare(spark, target, Seq(
      Check("qty_nonneg",
        "CAST(get_json_object(newImage, '$.q') AS BIGINT) >= 0")))
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")),
      rec("e2", "INSERT", "2024-01-01T00:00:02Z", "002", "k2",
        Some("""{\"q\": -3}"""))))
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      quarantineDir = tmp("tcn-quarantine")).start()
    q.awaitTermination(60000)
    val keys = SnapshotStore.readTarget(spark, target).select("keys")
      .collect().map(_.getString(0)).toSet
    assert(keys === Set("k1"), "non-JSON image must PASS (NULL check), " +
      "negative qty must quarantine")
  }

  test("declare validates loudly: non-boolean and unparseable expressions are refused") {
    val target = tmp("tcv-target")
    intercept[IllegalArgumentException] {
      TableConstraints.declare(spark, target, Seq(
        Check("typo", "lenght(newImage) <= 2")))
    }
    intercept[IllegalArgumentException] {
      TableConstraints.declare(spark, target, Seq(
        Check("not_bool", "length(newImage)")))
    }
    intercept[IllegalArgumentException] {
      TableConstraints.declare(spark, target, Seq(
        Check("a", "true"), Check("a", "false")))
    }
    assert(TableConstraints.read(
      spark.sessionState.newHadoopConf(), target).isEmpty)
  }
}
