package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.restore.{RestoreSession, RestoreStatus}
import graft.streaming.{CdcStream, SnapshotStore}

/** The reference's whole point, end to end: live CDC buffers while a
  * restore runs; once the target is ACTIVE the gate opens and the drain
  * replays the buffer onto the restored snapshot. This spec drives the
  * streaming path and checks it lands on the SAME state as the batch
  * `restoreReplay` semantics (one semantics, two drivers).
  */
class RestoreFlowSpec extends SparkSpec {

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  private def rec(id: String, name: String, ts: String, seq: String,
                  keys: String, img: Option[String]): String = {
    val imgJson = img.map(i => s""""$i"""").getOrElse("null")
    s"""{"eventID":"$id","eventName":"$name","approxCreationTs":"$ts","sequenceNumber":"$seq","keys":"$keys","newImage":$imgJson,"oldImage":null}"""
  }

  test("gated restore: buffer drains onto the snapshot only after ACTIVE, converging to batch semantics") {
    val buffer = tmp("flow-buffer"); val target = tmp("flow-target")
    val ckpt = tmp("flow-ckpt"); val dlq = tmp("flow-dlq")

    // snapshot-as-of-T (the "restored table"): k1=v1, k2=w1
    import spark.implicits._
    Seq(("k1", "v1"), ("k2", "w1")).toDF("keys", "newImage")
      .write.mode("overwrite").parquet(target)

    // CDC events captured DURING the restore, buffered as files
    val w = new java.io.PrintWriter(new java.io.File(buffer, "buffered.json"))
    w.println(rec("e10", "MODIFY", "2024-01-01T01:00:01Z", "010", "k1", Some("v2")))
    w.println(rec("e11", "REMOVE", "2024-01-01T01:00:02Z", "011", "k2", None))
    w.println(rec("e12", "INSERT", "2024-01-01T01:00:03Z", "012", "k3", Some("x1")))
    w.close()

    // the gate: two polls IN PROGRESS, then ACTIVE opens it; only then
    // does the drain start (replayable files made the late start lossless)
    val states = Iterator("CREATING", "CREATING", "ACTIVE")
    var drainStarted = false
    val session = new RestoreSession(
      pollStatus = () => RestoreStatus.ofTableState(states.next()),
      pollIntervalMs = 1, maxPolls = 10, sleep = _ => ())
    val query = session.activate { () =>
      drainStarted = true
      CdcStream.applySink(
        CdcStream.cdcFileSource(spark, buffer),
        target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    }
    assert(drainStarted && query.isDefined)
    query.get.awaitTermination(60000)

    val state = SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // batch restoreReplay semantics on the same inputs:
    // k1 updated, k2 tombstoned, k3 inserted
    assert(state === Map("k1" -> "v2", "k3" -> "x1"))
  }
}
