package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStream, SnapshotStore, TableConstraints}

/** Profile→constraint loop (r16, VERDICT r15 #6): dependencies that
  * HOLD over a target's current state become candidate CHECK rows
  * ([[TableConstraints.propose]]), promotion is the caller's explicit
  * [[TableConstraints.declare]], and a later batch violating a
  * promoted constraint quarantines — discovery, proposal, enforcement
  * as one measured loop, not three disconnected reports.
  */
class ConstraintProposalSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def writeCdcFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    try lines.foreach(w.println) finally w.close()
  }

  private def rec(id: String, seq: String, keys: String, img: String): String =
    s"""{"eventID":"$id","eventName":"INSERT","approxCreationTs":"2024-01-01T00:00:0${seq.last}Z","sequenceNumber":"$seq","keys":"$keys","newImage":"$img","oldImage":null}"""

  // JSON-escaped object images: q numeric, cat→region a real FD
  private def img(q: Long, cat: String, region: String): String =
    s"""{\\"q\\": $q, \\"cat\\": \\"$cat\\", \\"region\\": \\"$region\\"}"""

  test("discovered-holds → proposed → promoted → violating batch quarantined") {
    val in = tmp("cp-in"); val target = tmp("cp-target")
    val ckpt = tmp("cp-ckpt"); val dlq = tmp("cp-dlq")
    val quarantine = tmp("cp-quarantine")

    // seed the target with a clean state: q ∈ [3, 9] all present and
    // numeric; cat→region holds (a→r1, b→r2)
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "001", "k1", img(3, "a", "r1")),
      rec("e2", "002", "k2", img(7, "a", "r1")),
      rec("e3", "003", "k3", img(9, "b", "r2")),
      rec("e4", "004", "k4", img(5, "b", "r2"))))
    val q1 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      quarantineDir = quarantine).start()
    q1.awaitTermination(60000)

    // discovery: every holding row-expressible predicate proposed
    val proposals = TableConstraints.propose(spark, target,
      fields = Seq("q"), fdCandidates = Seq(("cat", "region")))
    assert(proposals.map(_.name).toSet ===
      Set("q_not_null", "q_in_range", "fd_cat_determines_region"))
    val range = proposals.find(_.name == "q_in_range").get
    assert(range.expr.endsWith("BETWEEN 3 AND 9"),
      s"range proposal must carry the observed bounds: ${range.expr}")

    // an FD candidate that does NOT hold is not proposed (q varies
    // within a cat), and neither is a missing field
    assert(TableConstraints.propose(spark, target, fields = Seq("absent"),
      fdCandidates = Seq(("cat", "q"))).isEmpty)

    // promotion is declare() — proposals re-analyze loudly there
    TableConstraints.declare(spark, target, proposals)

    // a later batch: k5 breaks the learned range, k6 breaks the learned
    // mapping, k7 carries an UNSEEN cat (lookup NULL → passes, the
    // declared judge-only-observed-mappings semantics), k8 is clean
    writeCdcFile(in, "b2.json", Seq(
      rec("e5", "005", "k5", img(40, "a", "r1")),
      rec("e6", "006", "k6", img(4, "a", "r2")),
      rec("e7", "007", "k7", img(6, "zz", "r9")),
      rec("e8", "008", "k8", img(8, "b", "r2"))))
    val q2 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      quarantineDir = quarantine).start()
    q2.awaitTermination(60000)

    val audit = spark.read.parquet(quarantine)
      .select("keys", "error").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(audit === Set(
      ("k5", "check violation: q_in_range"),
      ("k6", "check violation: fd_cat_determines_region")))
    val state = SnapshotStore.readTarget(spark, target).select("keys")
      .collect().map(_.getString(0)).toSet
    assert(state === Set("k1", "k2", "k3", "k4", "k7", "k8"))
  }
}
