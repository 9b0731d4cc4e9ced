package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.restore.{RestoreSession, RestoreStatus}
import graft.streaming.{CdcStream, SnapshotStore, TableExport}

/** End-to-end streaming + orchestration specs: the apply sink converges
  * the target table, duplicate delivery is a no-op, failed batches land in
  * the deadletter path, and the restore gate polls/starts like the
  * reference's state machine.
  */
class StreamingSpec extends SparkSpec {

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

  test("applySink: stream of puts/deletes converges the target to LWW state") {
    val in = tmp("cdc-in"); val target = tmp("cdc-target")
    val ckpt = tmp("cdc-ckpt"); val dlq = tmp("cdc-dlq")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")),
      rec("e2", "MODIFY", "2024-01-01T00:00:02Z", "002", "k1", Some("v2")),
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k2", Some("w1"))))
    writeCdcFile(in, "b2.json", Seq(
      rec("e4", "REMOVE", "2024-01-01T00:00:04Z", "004", "k2", None),
      rec("e5", "INSERT", "2024-01-01T00:00:05Z", "005", "k3", Some("x1"))))

    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v2", "k3" -> "x1")) // k2 deleted

    // duplicate delivery of an already-applied batch: idempotent merge
    writeCdcFile(in, "b3.json", Seq(
      rec("e5", "INSERT", "2024-01-01T00:00:05Z", "005", "k3", Some("x1"))))
    val q2 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === state)

    // snapshot layout: pointer resolves to a manifest whose bucket dirs
    // all exist; manifests beyond the grace window are GC'd
    val (mName, m) = SnapshotStore.currentManifest(spark, target).get
    assert(m.buckets.nonEmpty)
    val root = new java.io.File(target)
    m.buckets.values.flatten.foreach(rel => assert(new java.io.File(root, rel).isDirectory))
    val manifests = root.listFiles().filter(_.getName.startsWith("manifest-")).map(_.getName)
    assert(manifests.contains(mName) && manifests.length <= 2) // current + grace
  }

  test("tombstone sequence guards survive the first batch and chain folds") {
    import spark.implicits._
    val target = tmp("guard-target")
    def delta(rows: (String, String, String, Option[String])*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    // batch 0 bootstraps a FRESH table with a REMOVE in it: the basis
    // segment must keep k2's tombstone row, not just drop the key
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k2", "DELETE", "004", None), ("k3", "PUT", "005", Some("x1"))), 0L)
    def state() = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state() === Map("k3" -> "x1"))
    // stale pre-delete PUTs, one batch each, enough to push k2's bucket
    // chain past FoldThreshold so the FOLD path must also retain the
    // marker; every single one must lose to the 004 tombstone
    (1 to SnapshotStore.FoldThreshold + 2).foreach { i =>
      SnapshotStore.mergeIntoTarget(spark, target,
        delta(("k2", "PUT", "001", Some(s"stale$i"))), i.toLong)
      assert(state() === Map("k3" -> "x1"), s"k2 resurrected at batch $i")
    }
    // a genuinely newer PUT still wins over the tombstone
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k2", "PUT", "006", Some("reborn"))), 99L)
    assert(state() === Map("k2" -> "reborn", "k3" -> "x1"))
  }

  test("TTL expiry: filtered compaction drops expired rows; retained versions still restore them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, get_json_object, lit}
    val target = tmp("ttl-target")
    def delta(rows: (String, String, String, Option[String])*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.select("keys", "newImage")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // k1 expires at 100, k2 at 9999, k3 carries NO ttl attribute
    SnapshotStore.mergeIntoTarget(spark, target, delta(
      ("k1", "PUT", "001", Some("""{"v":"a","ttl":100}""")),
      ("k2", "PUT", "002", Some("""{"v":"b","ttl":9999}""")),
      ("k3", "PUT", "003", Some("""{"v":"c"}"""))), 0L, retainVersions = 4)
    val preExpiry = SnapshotStore.pointerValue(spark, target).get
    val statsBefore = SnapshotStore.storeStats(spark, target).get
    assert(statsBefore.populatedBuckets > 0 && statsBefore.dataBytes > 0 &&
      statsBefore.maxChainLength >= 1)
    // expire at cutoff 500: only k1 passes; absent ttl = lives forever
    val expired = SnapshotStore.expireTarget(spark, target,
      get_json_object(col("newImage"), "$.ttl").cast("long") < lit(500L),
      retainVersions = 4)
    assert(expired === 1L)
    assert(stateOf(SnapshotStore.readTarget(spark, target)).keySet === Set("k2", "k3"))
    // TTL is housekeeping, not crypto-shredding: the retained pre-expiry
    // version still serves the expired row (the PITR contract)
    assert(stateOf(SnapshotStore.readTargetAsOf(spark, target, preExpiry))
      .keySet === Set("k1", "k2", "k3"))
    // documented retention trade (the compactTarget marker-GC contract):
    // expiry drops the row WITHOUT a tombstone, so a late stale delivery
    // wins the key back — the same window DynamoDB TTL deletes have
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k1", "PUT", "0005", Some("""{"v":"late"}"""))), 9L, retainVersions = 4)
    assert(stateOf(SnapshotStore.readTarget(spark, target)).keySet ===
      Set("k1", "k2", "k3"))
    // stats stay coherent after the filtered compaction + late merge
    val statsAfter = SnapshotStore.storeStats(spark, target).get
    assert(statsAfter.numBuckets === statsBefore.numBuckets)
    assert(statsAfter.retainedVersions >= 2)
  }

  test("readTargetAsOf: retained versions serve point-in-time reads; GC bounds the window") {
    import spark.implicits._
    val target = tmp("tt-target")
    def delta(rows: (String, String, String, Option[String])*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.select("keys", "newImage")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // three writes at retainVersions=3: every version stays readable
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k1", "PUT", "001", Some("v1"))), 0L, retainVersions = 3)
    val v1 = SnapshotStore.pointerValue(spark, target).get
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k1", "PUT", "002", Some("v2")), ("k2", "PUT", "003", Some("w1"))),
      1L, retainVersions = 3)
    val v2 = SnapshotStore.pointerValue(spark, target).get
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k2", "DELETE", "004", None)), 2L, retainVersions = 3)
    // the live state reflects the delete; each as-of read is the exact
    // state its version committed — including keys later overwritten
    // or deleted (the store-level PITR semantics)
    assert(stateOf(SnapshotStore.readTarget(spark, target)) === Map("k1" -> "v2"))
    assert(stateOf(SnapshotStore.readTargetAsOf(spark, target, v1)) === Map("k1" -> "v1"))
    assert(stateOf(SnapshotStore.readTargetAsOf(spark, target, v2)) ===
      Map("k1" -> "v2", "k2" -> "w1"))
    assert(SnapshotStore.versions(spark, target).length === 3)
    assert(SnapshotStore.versions(spark, target).last ===
      SnapshotStore.pointerValue(spark, target).get)
    // a default-retention write narrows the window to 2: v1 must be
    // GC'd and its as-of read must FAIL LOUDLY, never read empty
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k3", "PUT", "005", Some("z1"))), 3L)
    assert(SnapshotStore.versions(spark, target).length === 2)
    val e = intercept[IllegalStateException](
      SnapshotStore.readTargetAsOf(spark, target, v1).collect())
    assert(e.getMessage.contains("not retained"))
  }

  test("diffVersions: ADDED/REMOVED/MODIFIED between retained versions; re-put of same image is no change") {
    import spark.implicits._
    val target = tmp("diff-target")
    def delta(rows: (String, String, String, Option[String])*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    // v1: k1=a, k2=b, k4=d
    SnapshotStore.mergeIntoTarget(spark, target, delta(
      ("k1", "PUT", "001", Some("a")), ("k2", "PUT", "002", Some("b")),
      ("k4", "PUT", "003", Some("d"))), 0L, retainVersions = 3)
    val v1 = SnapshotStore.pointerValue(spark, target).get
    // v2: k1 modified, k2 deleted, k3 added, k4 re-put with the SAME image
    SnapshotStore.mergeIntoTarget(spark, target, delta(
      ("k1", "PUT", "004", Some("a2")), ("k2", "DELETE", "005", None),
      ("k3", "PUT", "006", Some("c")), ("k4", "PUT", "007", Some("d"))),
      1L, retainVersions = 3)
    val v2 = SnapshotStore.pointerValue(spark, target).get
    val diff = SnapshotStore.diffVersions(spark, target, v1, v2)
      .select("keys", "change", "old_newImage", "new_newImage")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3))))).toMap
    // k4's metadata-only re-put must NOT surface; unchanged keys absent
    assert(diff === Map(
      "k1" -> (("MODIFIED", Some("a"), Some("a2"))),
      "k2" -> (("REMOVED", Some("b"), None)),
      "k3" -> (("ADDED", None, Some("c")))))
    // identical versions diff to empty
    assert(SnapshotStore.diffVersions(spark, target, v2, v2).count() === 0L)
  }

  test("quantile-sketch bucket histogram runs as a STREAMING aggregate (additive state across batches)") {
    import org.apache.spark.sql.functions.{col, expr}
    // the agg_quantile_sketch state is bucket counts, which merge by
    // addition — so the identical bucketing expression runs as a plain
    // streaming aggregate, state bounded by bucket cardinality (≤ ~8·64
    // per group), with micro-batches folding into it additively
    val dir = tmp("qsk-in")
    def writeFile(name: String, rows: Seq[(String, Long)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try rows.foreach { case (t, v) => w.println(s"""{"typ":"$t","v":$v}""") }
      finally w.close()
    }
    // same buckets hit from BOTH files: the final counts prove the
    // cross-batch additive fold, not just per-batch bucketing
    writeFile("b1.json", Seq(("a", 1L), ("a", 9L), ("a", 1000L), ("b", 77L)))
    writeFile("b2.json", Seq(("a", 9L), ("a", 1001L), ("b", 70L), ("b", 200000L)))
    val bucketExpr =
      """cast(case when v < 8 then v
              else length(bin(v)) * 8
                   + (shiftright(v, cast(length(bin(v)) - 4 as int)) & 7)
              end as bigint)"""
    val stream = spark.readStream.schema("typ STRING, v LONG")
      .option("maxFilesPerTrigger", 1).json(dir)
      .withColumn("bucket", expr(bucketExpr))
      .groupBy("typ", "bucket").count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("qsk_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("qsk_stream")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = spark.read.schema("typ STRING, v LONG").json(dir)
      .withColumn("bucket", expr(bucketExpr))
      .groupBy("typ", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    // the cross-batch fold really added: v=9 arrived once per file and
    // its bucket (len(bin(9))=4 → 4·8 + (9 & 7) = 33) must count 2
    val b9 = 4L * 8 + (9 & 7)
    assert(streamed(("a", b9)) === 2L)
    assert(batch.values.sum === 8L)
  }

  test("KMV sketch runs as a STREAMING aggregate (bounded idempotent state across batches)") {
    import org.apache.spark.sql.functions.{col, udaf}
    // the KmvSketchAgg buffer is the sorted distinct bottom-k — its
    // merge is associative/commutative/IDEMPOTENT, so it folds across
    // micro-batches as a plain streaming aggregate with O(k) state per
    // group; duplicate values across batches must be invisible
    val dir = tmp("kmv-in")
    def writeFile(name: String, rows: Seq[(String, Long)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try rows.foreach { case (t, h) => w.println(s"""{"typ":"$t","h":$h}""") }
      finally w.close()
    }
    // k=3: batch 2 re-delivers 10 (dup), improves the bottom-k with 5,
    // and adds values above the bar that must be rejected
    writeFile("b1.json", Seq(("a", 10L), ("a", 40L), ("a", 30L), ("b", 7L)))
    writeFile("b2.json", Seq(("a", 10L), ("a", 5L), ("a", 99L), ("b", 7L), ("b", 2L)))
    val kmv = udaf(new graft.functions.KmvSketchAgg(3),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    val stream = spark.readStream.schema("typ STRING, h LONG")
      .option("maxFilesPerTrigger", 1).json(dir)
      .groupBy("typ").agg(kmv(col("h")).as("sk"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("kmv_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("kmv_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed("a") === Seq(5L, 10L, 30L)) // 40 evicted, dup 10 once
    assert(streamed("b") === Seq(2L, 7L))       // under k: the exact set
  }

  test("DYNAMODB_JSON export/import: point-in-time export restores; live deltas outrank the import") {
    import spark.implicits._
    import org.apache.spark.sql.functions.get_json_object
    val src = tmp("exp-src"); val stage = tmp("exp-stage"); val dst = tmp("exp-dst")
    def delta(rows: (String, String, String, Option[String])*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    def stateOf(dir: String) =
      SnapshotStore.readTarget(spark, dir).select("keys", "newImage")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // DDB-JSON items (keys live inside the item, the DynamoDB rule)
    def item(k: String, v: Int) = s"""{"pk":{"S":"$k"},"v":{"N":"$v"}}"""
    SnapshotStore.mergeIntoTarget(spark, src, delta(
      ("k1", "PUT", "001", Some(item("k1", 1))),
      ("k2", "PUT", "002", Some(item("k2", 2)))), 0L, retainVersions = 3)
    val v1 = SnapshotStore.pointerValue(spark, src).get
    SnapshotStore.mergeIntoTarget(spark, src, delta(
      ("k1", "PUT", "003", Some(item("k1", 10))),
      ("k2", "DELETE", "004", None)), 1L, retainVersions = 3)
    // export-to-point-in-time: the v1 export restores the v1 state
    val n = TableExport.restoreFromExport(spark, src, stage, dst,
      img => get_json_object(img, "$.pk.S"), asOf = Some(v1))
    assert(n === 2L)
    assert(TableExport.exportedItemCount(spark, stage) === 2L)
    assert(stateOf(dst) === Map("k1" -> item("k1", 1), "k2" -> item("k2", 2)))
    // imported rows carry the null-sequence base stamp: a real CDC
    // delta replayed onto the restored table outranks the import
    SnapshotStore.mergeIntoTarget(spark, dst, delta(
      ("k1", "PUT", "003", Some(item("k1", 10)))), 5L)
    assert(stateOf(dst) === Map("k1" -> item("k1", 10), "k2" -> item("k2", 2)))
    // a partial export (data/ tampered) must refuse to import
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/data/part-*"))
      .head.getPath
    fs.delete(part, false)
    val e = intercept[IllegalStateException](
      TableExport.importDdbJson(spark, stage, tmp("exp-dst2"),
        img => get_json_object(img, "$.pk.S")))
    assert(e.getMessage.contains("partial export"))
  }

  test("applySink auto-compaction: sink-thread maintenance folds chains, state unchanged") {
    val in = tmp("ac-in"); val target = tmp("ac-target")
    val ckpt = tmp("ac-ckpt"); val dlq = tmp("ac-dlq")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")),
      rec("e2", "INSERT", "2024-01-01T00:00:02Z", "002", "k2", Some("w1"))))
    writeCdcFile(in, "b2.json", Seq(
      rec("e3", "MODIFY", "2024-01-01T00:00:03Z", "003", "k1", Some("v2"))))
    writeCdcFile(in, "b3.json", Seq(
      rec("e4", "REMOVE", "2024-01-01T00:00:04Z", "004", "k2", None),
      rec("e5", "INSERT", "2024-01-01T00:00:05Z", "005", "k3", Some("x1"))))
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(), compactEvery = 3).start()
    q.awaitTermination(60000)
    // converged LWW state survives the compaction that ran after batch 3
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v2", "k3" -> "x1"))
    // every bucket chain folded to ONE segment (compacted basis)
    val (_, m) = SnapshotStore.currentManifest(spark, target).get
    assert(m.buckets.values.forall(_.length == 1),
      s"chains not folded: ${m.buckets.values.map(_.length).toList}")
    // a later delta still merges correctly over the compacted basis
    writeCdcFile(in, "b4.json", Seq(
      rec("e6", "MODIFY", "2024-01-01T00:00:06Z", "006", "k3", Some("x2"))))
    val q2 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(), compactEvery = 3).start()
    q2.awaitTermination(60000)
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === Map("k1" -> "v2", "k3" -> "x2"))
  }

  test("amplification-driven auto-compaction: the measured signal fires ONCE, state unchanged") {
    // r14 (VERDICT r13 #3): the V19→V20 discipline — the r13 report was
    // a signal with nothing acting on it; now the policy compacts when
    // read-amplification crosses the declared threshold, and only then.
    val target = tmp("amp-target")
    def delta(seqBase: Int, v: String) = {
      import spark.implicits._
      (1 to 20).map(i => (s"k$i", "PUT", f"${seqBase + i}%03d", Some(s"$v$i")))
        .toDF("keys", "op", "sequenceNumber", "newImage")
    }
    // five waves re-PUT the same 20 keys: raw rows 100, resolved 20 →
    // amplification climbs to ~5e6 ppm (past the 3e6 declared threshold)
    for (b <- 0 until 5)
      SnapshotStore.mergeIntoTarget(spark, target, delta(b * 100, s"b$b-"), b.toLong)
    val before = SnapshotStore.amplificationReport(spark, target).get
    assert(before.amplificationPpm > 3000000L,
      s"waves must push amplification past the threshold: $before")
    val state0 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // the policy fires exactly once: first call compacts (returns the
    // pre-compaction report), second call sees ~1e6 ppm and does nothing
    val fired = SnapshotStore.compactIfAmplified(spark, target, 3000000L)
    assert(fired.exists(_.amplificationPpm == before.amplificationPpm))
    val after = SnapshotStore.amplificationReport(spark, target).get
    assert(after.amplificationPpm <= 1100000L, s"compaction must reset the signal: $after")
    assert(SnapshotStore.compactIfAmplified(spark, target, 3000000L).isEmpty,
      "policy must not re-fire below the threshold")
    // state is a plan-only property of the compaction: unchanged
    val state1 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state1 === state0)

    // the SINK-THREAD wiring: stream more re-PUT waves with compactAtPpm
    // set; the sink's best-effort check compacts when the ratio crosses,
    // later deltas merge over the compacted basis, state converges
    val in = tmp("amp-in"); val ckpt = tmp("amp-ckpt"); val dlq = tmp("amp-dlq")
    for (b <- 5 to 9)
      writeCdcFile(in, s"b$b.json", (1 to 20).map(i =>
        rec(s"e$b-$i", "MODIFY", f"2024-01-01T00:00:${b}%02dZ",
          f"${b * 100 + i}%03d", s"k$i", Some(s"s$b-$i"))))
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      compactAtPpm = 3000000L).start()
    q.awaitTermination(60000)
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === (1 to 20).map(i => s"k$i" -> s"s9-$i").toMap)
    // the signal was acted on: amplification is bounded well below the
    // unchecked 10-wave ratio (~10e6 ppm); the exact final value depends
    // on how many post-compaction waves landed after the last fire
    val rep = SnapshotStore.amplificationReport(spark, target).get
    assert(rep.amplificationPpm <= 3000000L + 1000000L,
      s"sink-thread policy never fired: $rep")
  }

  test("CdcSource seam: a non-file transport drives the same apply pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a MemoryStream-backed connector standing in for a Kinesis/Kafka
    // transport: only `stream` differs; sink, merge, checkpointing are
    // untouched — the seam the prod connector plugs into
    val mem = MemoryStream[(String, String, java.sql.Timestamp, String, String, Option[String])]
    val memSource = new graft.streaming.CdcSource {
      override def stream(s: org.apache.spark.sql.SparkSession) =
        mem.toDF()
          .toDF("eventID", "eventName", "approxCreationTs",
            "sequenceNumber", "keys", "newImage")
          .withColumn("oldImage", lit(null).cast("string"))
    }
    val target = tmp("seam-target"); val ckpt = tmp("seam-ckpt"); val dlq = tmp("seam-dlq")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      ("e1", "INSERT", ts("2024-01-01 00:00:01"), "001", "k1", Some("v1")),
      ("e2", "MODIFY", ts("2024-01-01 00:00:02"), "002", "k1", Some("v2")),
      ("e3", "INSERT", ts("2024-01-01 00:00:03"), "003", "k2", Some("w1")))
    val q = CdcStream.applySink(memSource.stream(spark), target, ckpt, dlq,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v2", "k2" -> "w1"))
  }

  test("writeTarget publishes atomically: a failed write leaves the previous snapshot live") {
    import spark.implicits._
    val target = tmp("atomic-target")
    CdcStream.writeTarget(Seq(("k1", "v1")).toDF("keys", "newImage"), target, 0L)
    val boom = udf((s: String) => {
      if (s != null) throw new RuntimeException("disk full"); s
    })
    assertThrows[Exception] {
      CdcStream.writeTarget(
        Seq(("k2", "v2")).toDF("keys", "newImage")
          .withColumn("newImage", boom(col("newImage"))),
        target, 1L)
    }
    // the pointer still names the batch-0 snapshot; nothing was lost
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1"))
    // the next successful publish retains the batch-0 manifest+data (live
    // until the swap) as the grace window and GCs the failed attempt's
    // partial data dir; a further publish rotates the grace window
    CdcStream.writeTarget(Seq(("k3", "v3")).toDF("keys", "newImage"), target, 2L)
    def names = new java.io.File(target).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("manifest-000000000000-"))) // grace = previously live
    assert(names.exists(_.startsWith("data-000000000000-")))
    assert(!names.exists(_.startsWith("data-000000000001-"))) // partial junk GC'd
    CdcStream.writeTarget(Seq(("k4", "v4")).toDF("keys", "newImage"), target, 3L)
    assert(!names.exists(_.startsWith("manifest-000000000000-"))) // grace rotated out
    assert(!names.exists(_.startsWith("data-000000000000-")))
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === Map("k4" -> "v4"))
  }

  test("compactTarget consolidates accumulated data dirs via the same locked swap") {
    import spark.implicits._
    val target = tmp("compact-target")
    CdcStream.writeTarget(
      (1 to 50).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    // three pruned merges, each adding a per-batch data dir to the manifest
    for (b <- 1 to 3)
      SnapshotStore.mergeIntoTarget(spark, target,
        Seq((s"k$b", "PUT", s"00$b", s"u$b"))
          .toDF("keys", "op", "sequenceNumber", "newImage"), b.toLong)
    def dataDirs = SnapshotStore.currentManifest(spark, target).get
      ._2.buckets.values.flatten.map(_.split("/")(0)).toSet
    assert(dataDirs.size > 1) // the accumulation compaction exists for
    CdcStream.compactTarget(spark, target)
    assert(dataDirs.size == 1)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = (1 to 50).map(i => s"k$i" -> s"v$i").toMap ++
      (1 to 3).map(i => s"k$i" -> s"u$i")
    assert(state === expect)
  }

  test("readKeys: bucket-pruned point read touches only the looked-up keys' chains") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val target = tmp("pointread-target")
    CdcStream.writeTarget(
      (1 to 200).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    SnapshotStore.mergeIntoTarget(spark, target,
      Seq(("k7", "PUT", "001", Some("v7b")), ("k8", "DELETE", "002", None))
        .toDF("keys", "op", "sequenceNumber", "newImage"), 1L)
    def pointRead() = SnapshotStore.readKeys(spark, target, Seq("k7", "k8", "k9", "nope"))
      .select("keys", "newImage").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // LWW semantics identical to the full read: update wins, tombstone
    // absent, unknown key absent
    assert(pointRead() === Map("k7" -> "v7b", "k9" -> "v9"))
    // the pruning is REAL, proven behaviorally: destroy every bucket the
    // lookups do NOT hash to — the point read still completes untouched,
    // while the full read fails loudly on the missing segments
    val m = SnapshotStore.currentManifest(spark, target).get._2
    val wanted = Seq("k7", "k8", "k9", "nope").toDF("keys")
      .select(SnapshotStore.bucketExpr(Seq("keys"), m.numBuckets).as("b"))
      .collect().map(_.getInt(0)).toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-"))
      .foreach { d =>
        fs.listStatus(d.getPath)
          .filter { c =>
            val n = c.getPath.getName
            n.startsWith(s"${SnapshotStore.BucketCol}=") &&
              !wanted.contains(n.stripPrefix(s"${SnapshotStore.BucketCol}=").toInt)
          }
          .foreach(c => fs.delete(c.getPath, true))
      }
    assert(pointRead() === Map("k7" -> "v7b", "k9" -> "v9"))
    intercept[Exception] {
      CdcStream.readTarget(spark, target).collect()
    }
  }

  test("reader resolved just before a compaction completes against grace-retained segments") {
    import spark.implicits._
    val target = tmp("grace-target")
    CdcStream.writeTarget(
      (1 to 40).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    for (b <- 1 to 3)
      SnapshotStore.mergeIntoTarget(spark, target,
        Seq((s"k$b", "PUT", s"00$b", s"u$b"))
          .toDF("keys", "op", "sequenceNumber", "newImage"), b.toLong)
    val expect = (1 to 40).map(i => s"k$i" -> s"v$i").toMap ++
      (1 to 3).map(i => s"k$i" -> s"u$i")
    // the reader binds its manifest + segment file listing NOW...
    val inFlight = CdcStream.readTarget(spark, target).select("keys", "newImage")
    // ...a compaction commits (and GCs) underneath it...
    CdcStream.compactTarget(spark, target)
    // ...and the in-flight read still completes: the publish retains the
    // full basis manifest + data (the grace window) precisely for readers
    // that resolved the pointer just before the swap
    val seen = inFlight.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(seen === expect)
    // the window is ONE publish deep (for readers of fully-rewritten
    // buckets): a reader two FULL rewrites behind must fail loudly,
    // never silently return partial state. (Append-mode merges reuse
    // chains by reference, so only full compactions age a segment out.)
    val ancient = CdcStream.readTarget(spark, target).select("keys", "newImage")
    SnapshotStore.compactTarget(spark, target) // rewrite 1: ancient in grace
    SnapshotStore.compactTarget(spark, target) // rewrite 2: ancient's segments GC'd
    intercept[Exception] { ancient.collect() }
    // the LIVE table is intact throughout
    val now = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(now === expect)
  }

  test("cloneTarget forks a consistent snapshot that later writes cannot disturb") {
    import spark.implicits._
    val src = tmp("clone-src"); val dst = tmp("clone-dst")
    CdcStream.writeTarget(
      (1 to 30).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), src, 0L)
    SnapshotStore.mergeIntoTarget(spark, src,
      Seq(("k1", "PUT", "001", "u1")).toDF("keys", "op", "sequenceNumber", "newImage"), 1L)
    val atClone = (1 to 30).map(i => s"k$i" -> s"v$i").toMap + ("k1" -> "u1")
    SnapshotStore.cloneTarget(spark, src, dst)
    // diverge BOTH sides after the fork
    SnapshotStore.mergeIntoTarget(spark, src,
      Seq(("k2", "DELETE", "002", null: String)).toDF("keys", "op", "sequenceNumber", "newImage"), 2L)
    SnapshotStore.compactTarget(spark, src) // src GC rewrites src segments
    SnapshotStore.mergeIntoTarget(spark, dst,
      Seq(("k3", "PUT", "003", "w3")).toDF("keys", "op", "sequenceNumber", "newImage"), 2L)
    def state(dir: String) = CdcStream.readTarget(spark, dir).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state(src) === atClone - "k2")            // src moved on
    assert(state(dst) === atClone + ("k3" -> "w3"))  // clone has its own history
    // clone never overwrites an existing table
    intercept[IllegalArgumentException] { SnapshotStore.cloneTarget(spark, src, dst) }
  }

  test("restore-to-point-in-time: clone as-of version k equals an independent replay to k") {
    import spark.implicits._
    val target = tmp("pitr-src"); val restored = tmp("pitr-dst")
    val replay = tmp("pitr-replay")
    def delta(rows: (String, String, String, String)*) =
      rows.toDF("keys", "op", "sequenceNumber", "newImage")
    // the full PITR story (the reference's core capability): a table
    // takes N CDC batches; restore materializes the state as of batch k
    // as a NEW table, byte-equal to replaying exactly batches 1..k.
    val batches = Seq(
      delta(("k1", "PUT", "001", "v1"), ("k2", "PUT", "002", "w1")),
      delta(("k1", "PUT", "003", "v2"), ("k3", "PUT", "004", "x1")),
      delta(("k2", "DELETE", "005", null: String), ("k4", "PUT", "006", "y1")))
    batches.zipWithIndex.foreach { case (b, i) =>
      SnapshotStore.mergeIntoTarget(spark, target, b, i.toLong, retainVersions = 3)
    }
    val versions = SnapshotStore.versions(spark, target)
    assert(versions.length === 3)
    val vK = versions(1) // as of batch 2 of 3
    SnapshotStore.cloneTarget(spark, target, restored, asOf = Some(vK))
    // the oracle: an independent table that only ever saw batches 1..2
    batches.take(2).zipWithIndex.foreach { case (b, i) =>
      SnapshotStore.mergeIntoTarget(spark, replay, b, i.toLong)
    }
    def state(dir: String) = CdcStream.readTarget(spark, dir)
      .select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state(restored) === state(replay))
    assert(state(restored) === Map("k1" -> "v2", "k2" -> "w1", "k3" -> "x1"))
    // the restored table is a first-class table: it takes new writes,
    // and neither side's future disturbs the other
    SnapshotStore.mergeIntoTarget(spark, restored,
      delta(("k5", "PUT", "007", "z1")), 99L)
    assert(state(restored) === Map(
      "k1" -> "v2", "k2" -> "w1", "k3" -> "x1", "k5" -> "z1"))
    assert(state(target) === Map("k1" -> "v2", "k3" -> "x1", "k4" -> "y1"))
    // a GC'd (unretained) version fails loudly, same contract as
    // readTargetAsOf — restore never silently materializes emptiness
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k6", "PUT", "008", "q1")), 3L) // default retention narrows to 2
    val gone = versions.head
    val e = intercept[IllegalStateException](
      SnapshotStore.cloneTarget(spark, target, tmp("pitr-gone"), asOf = Some(gone)))
    assert(e.getMessage.contains("not retained"))
  }

  test("mergeIntoTarget appends O(delta) segments: untouched chains reused, bytes scale with delta") {
    import spark.implicits._
    val target = tmp("prune-target")
    CdcStream.writeTarget(
      (1 to 200).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    val before = SnapshotStore.currentManifest(spark, target).get._2.buckets
    assert(before.size > 10) // the seed spans many buckets
    def bytesUnder(dir: java.io.File): Long =
      if (dir.isFile) dir.length()
      else Option(dir.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    SnapshotStore.mergeIntoTarget(spark, target,
      Seq(("k7", "PUT", "001", "v7b"), ("k8", "DELETE", "002", null))
        .toDF("keys", "op", "sequenceNumber", "newImage"), 1L)
    val after = SnapshotStore.currentManifest(spark, target).get._2.buckets
    val changed = (before.keySet ++ after.keySet).filter(b => before.get(b) != after.get(b))
    // the delta's two keys touch ≤2 buckets; those chains grew by ONE
    // appended segment (nothing was read back or rewritten), and every
    // other bucket's segment chain is reused BY REFERENCE
    assert(changed.nonEmpty && changed.size <= 2)
    changed.foreach { b =>
      assert(after(b).startsWith(before.getOrElse(b, Nil)) &&
        after(b).length == before.getOrElse(b, Nil).length + 1)
    }
    (before.keySet -- changed).foreach(b => assert(after(b) === before(b)))
    // per-batch bytes: the batch-1 data dir holds only the 2-row delta,
    // a fraction of the 200-row seed dir — O(delta), not O(target) and
    // not O(touched bucket contents)
    val root = new java.io.File(target)
    val dirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("data-"))
    val seedBytes = dirs.filter(_.getName.startsWith("data-000000000000")).map(bytesUnder).sum
    val deltaBytes = dirs.filter(_.getName.startsWith("data-000000000001")).map(bytesUnder).sum
    assert(deltaBytes > 0 && deltaBytes < seedBytes / 4,
      s"delta publish wrote $deltaBytes bytes vs seed $seedBytes")
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === (1 to 200).map(i => s"k$i" -> s"v$i").toMap - "k8" + ("k7" -> "v7b"))
  }

  test("chains fold at FoldThreshold; a delta spanning every bucket still writes O(delta)") {
    import spark.implicits._
    val target = tmp("fold-target")
    // seed 64 keys over 32 buckets, then append FoldThreshold+2 single-key
    // batches to ONE hot key: its bucket's chain must fold rather than
    // grow without bound
    CdcStream.writeTarget(
      (1 to 64).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    for (b <- 1 to SnapshotStore.FoldThreshold + 2)
      SnapshotStore.mergeIntoTarget(spark, target,
        Seq(("k1", "PUT", f"$b%03d", s"u$b")).toDF("keys", "op", "sequenceNumber", "newImage"),
        b.toLong)
    val m = SnapshotStore.currentManifest(spark, target).get._2
    assert(m.buckets.values.forall(_.length <= SnapshotStore.FoldThreshold),
      s"a chain exceeded FoldThreshold: ${m.buckets.values.map(_.length).max}")
    // correctness across the fold: hot key has the last write, others intact
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = (1 to 64).map(i => s"k$i" -> s"v$i").toMap +
      ("k1" -> s"u${SnapshotStore.FoldThreshold + 2}")
    assert(state === expect)
    // a wide delta (every key, hence likely every bucket) appends its own
    // rows only — the all-buckets-touched case that a rewrite-based store
    // degrades to O(target) on
    val wide = (1 to 64).map(i => (s"k$i", "PUT", "900", s"w$i"))
      .toDF("keys", "op", "sequenceNumber", "newImage")
    SnapshotStore.mergeIntoTarget(spark, target, wide, 99L)
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === (1 to 64).map(i => s"k$i" -> s"w$i").toMap)
  }

  test("a stale writer lock from a dead JVM is broken; the lock is released after publish") {
    import spark.implicits._
    val target = tmp("lock-target")
    new java.io.File(target).mkdirs()
    val lock = new java.io.File(target, SnapshotStore.LockFile)
    java.nio.file.Files.write(lock.toPath, "dead-jvm@nowhere".getBytes)
    assert(lock.setLastModified(System.currentTimeMillis() - SnapshotStore.StaleLockMs - 60000))
    // the writer must break the stale lock instead of waiting forever
    CdcStream.writeTarget(Seq(("k1", "v1")).toDF("keys", "newImage"), target, 0L)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1"))
    assert(!lock.exists(), "writer lock not released after publish")
  }

  test("lock contention fails the batch for checkpoint replay, never deadletters it") {
    val in = tmp("lockdlq-in"); val target = tmp("lockdlq-target")
    val ckpt = tmp("lockdlq-ckpt"); val dlq = tmp("lockdlq-dlq")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1"))))
    // a FRESH foreign lock = a live writer in another JVM (e.g. a long
    // compaction); the sink's wait budget is shortened via session conf
    new java.io.File(target).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(target, SnapshotStore.LockFile).toPath, "live-writer@other-jvm".getBytes)
    spark.conf.set("spark.graft.lock.waitMs", "300")
    try {
      val q = CdcStream.applySink(
        CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
        target, ckpt, dlq, trigger = Trigger.AvailableNow(),
        retryAttempts = 1, retrySleep = _ => ()).start()
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000); ()
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(failed).exists(_.isInstanceOf[SnapshotStore.LockTimeoutException]),
        s"expected LockTimeoutException in cause chain: $failed")
    } finally spark.conf.unset("spark.graft.lock.waitMs")
    // the valid batch must NOT be in the DLQ (it replays from the
    // checkpoint once the contending writer finishes)
    val dlqFiles = Option(new java.io.File(dlq).listFiles()).getOrElse(Array.empty)
    assert(!dlqFiles.exists(_.getName.endsWith(".parquet")),
      "valid batch was deadlettered on transient lock contention")
  }

  test("compaction racing the merge sink loses no committed batch") {
    import spark.implicits._
    val target = tmp("race-target")
    CdcStream.writeTarget(
      (1 to 40).map(i => (s"k$i", "v0")).toDF("keys", "newImage"), target, 0L)
    // one thread applies 12 sequential merge batches while another runs
    // repeated full compactions — the exact interleaving the writer lock
    // exists for: compact must never publish a basis that reverts a
    // committed merge (the lost-update race from the r3 review)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread({ () =>
      try {
        for (b <- 1 to 12)
          SnapshotStore.mergeIntoTarget(spark, target,
            Seq((s"k$b", "PUT", f"$b%03d", s"u$b"))
              .toDF("keys", "op", "sequenceNumber", "newImage"), b.toLong)
      } catch { case t: Throwable => failures.add(t) }
    }: Runnable, "race-merger")
    val compactor = new Thread({ () =>
      try { for (_ <- 1 to 5) CdcStream.compactTarget(spark, target) }
      catch { case t: Throwable => failures.add(t) }
    }: Runnable, "race-compactor")
    merger.start(); compactor.start()
    merger.join(120000); compactor.join(120000)
    assert(failures.isEmpty, s"concurrent writer threw: ${failures.peek()}")
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = (1 to 40).map(i => s"k$i" -> "v0").toMap ++
      (1 to 12).map(b => s"k$b" -> s"u$b")
    assert(state === expect, "a committed merge was reverted by a racing compaction")
  }

  test("a displaced writer aborts at the commit point and never deletes the usurper's lock") {
    import spark.implicits._
    val target = tmp("usurp-target")
    CdcStream.writeTarget(Seq(("k1", "v1")).toDF("keys", "newImage"), target, 0L)
    val lockFile = new java.io.File(target, SnapshotStore.LockFile)
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.withTargetLock(spark, target) {
        // simulate a wrongful stale-break + takeover mid-write: the lock
        // file now carries someone else's token
        java.nio.file.Files.write(lockFile.toPath, "usurper@other-jvm".getBytes)
        SnapshotStore.casSwapPointer(spark, target, "manifest-bogus",
          SnapshotStore.pointerValue(spark, target))
      }
    }
    assert(e.getMessage.contains("taken over"))
    // release must NOT have deleted the lock it no longer owns (the
    // usurper is mid-publish; deleting would admit a third writer)
    assert(lockFile.exists())
    assert(new String(java.nio.file.Files.readAllBytes(lockFile.toPath)).trim
      === "usurper@other-jvm")
    lockFile.delete() // the "usurper" releases
    // the aborted publish never moved the pointer
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1"))
  }

  test("the heartbeat keeps a live writer's long-held lock from going stale") {
    val target = tmp("beat-target")
    val lockFile = new java.io.File(target, SnapshotStore.LockFile)
    // stale window sized so the assertion tolerates ~1 s of scheduler
    // stall on a loaded machine (a 100 ms-beat/400 ms-stale variant
    // flaked when one heartbeat tick was delayed 380 ms under ambient
    // load): heartbeat = stale/4 = 375 ms, hold 2x the stale window
    SnapshotStore.withTargetLock(spark, target, staleMs = 1500L, waitMs = 4000L) {
      Thread.sleep(3000) // 2x the stale window
      val age = System.currentTimeMillis() - lockFile.lastModified()
      assert(age < 1500L,
        s"lock mtime is $age ms old — a waiter would wrongly break a LIVE writer's lock")
    }
    assert(!lockFile.exists(), "owned lock not released")
  }

  test("a compacted table reads as a plain scan; later deltas still resolve over it") {
    import spark.implicits._
    val target = tmp("fastread-target")
    CdcStream.writeTarget(
      (1 to 20).map(i => (s"k$i", s"v$i")).toDF("keys", "newImage"), target, 0L)
    SnapshotStore.mergeIntoTarget(spark, target,
      Seq(("k1", "PUT", "001", "u1")).toDF("keys", "op", "sequenceNumber", "newImage"), 1L)
    CdcStream.compactTarget(spark, target)
    // compacted segments carry no op column → readTarget takes the
    // metadata-less fast path: no LWW window, no exchange — a plain scan
    val m = SnapshotStore.currentManifest(spark, target).get._2
    val segs = m.buckets.values.flatten.map(rel => new java.io.File(target, rel).toString)
    assert(!spark.read.parquet(segs.toSeq: _*).columns.contains("op"))
    val plan = CdcStream.readTarget(spark, target).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange"),
      s"compacted-table read is not a plain scan:\n$plan")
    // a delta appended AFTER compaction outranks the compacted (null-op =
    // PUT) rows by sequence, including a winning DELETE
    SnapshotStore.mergeIntoTarget(spark, target,
      Seq(("k1", "DELETE", "999", null), ("k2", "PUT", "998", "w2"))
        .toDF("keys", "op", "sequenceNumber", "newImage"), 2L)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === (1 to 20).map(i => s"k$i" -> s"v$i").toMap
      - "k1" + ("k2" -> "w2"))
  }

  test("publish CAS: a pointer moved by a concurrent writer aborts the publish") {
    import spark.implicits._
    val target = tmp("cas-target")
    CdcStream.writeTarget(Seq(("k1", "v1")).toDF("keys", "newImage"), target, 0L)
    val staleBasis = SnapshotStore.pointerValue(spark, target)
    CdcStream.writeTarget(Seq(("k2", "v2")).toDF("keys", "newImage"), target, 1L)
    // a writer that computed against the batch-0 snapshot must NOT be able
    // to publish over batch 1's commit (the lost-update interleaving)
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.casSwapPointer(spark, target, "manifest-bogus", staleBasis)
    }
    assert(e.getMessage.contains("pointer moved"))
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k2" -> "v2")) // batch 1's commit survived intact
  }

  test("readTarget fails loudly when the pointer names a missing snapshot") {
    val target = tmp("lost-target")
    java.nio.file.Files.write(
      new java.io.File(target, CdcStream.CurrentPointer).toPath,
      "snap-000000000007-dead".getBytes)
    val e = intercept[IllegalStateException] {
      CdcStream.readTarget(spark, target).select("keys", "newImage")
    }
    assert(e.getMessage.contains("missing snapshot"))
  }

  test("applySink: variable-length numeric sequence numbers order numerically") {
    val in = tmp("seq-in"); val target = tmp("seq-target")
    val ckpt = tmp("seq-ckpt"); val dlq = tmp("seq-dlq")
    // "9" arrives after "10" in file order but is the OLDER event; k2
    // mixes a zero-padded producer ("005") with an unpadded one ("10")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "9", "k1", Some("old")),
      rec("e2", "MODIFY", "2024-01-01T00:00:02Z", "10", "k1", Some("new")),
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "005", "k2", Some("old")),
      rec("e4", "MODIFY", "2024-01-01T00:00:04Z", "10", "k2", Some("new"))))
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // lexicographic would keep k1="old"; raw (length,value) would keep
    // k2="old" ("005" is longer than "10")
    assert(state === Map("k1" -> "new", "k2" -> "new"))
  }

  test("applySink: poison messages are deadlettered, valid ones still apply") {
    val in = tmp("dlq-in"); val target = tmp("dlq-target")
    val ckpt = tmp("dlq-ckpt"); val dlq = tmp("dlq-out")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")),
      rec("e2", "INSERT", "2024-01-01T00:00:02Z", "002", "k2", None), // poison: PUT, no image
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k3",
        Some("x" * (CdcStream.MaxImageBytes + 1))), // poison: over the queue budget
      rec("e4", "REMOVE", "2024-01-01T00:00:04Z", "004", "k4", None))) // NOT poison
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      retryAttempts = 2, retrySleep = _ => ()).start()
    q.awaitTermination(60000)
    val dead = spark.read.parquet(dlq).collect()
    assert(dead.map(_.getAs[String]("eventID")).sorted.toSeq == Seq("e2", "e3"))
    assert(dead.forall(_.getAs[String]("error").startsWith("poison")))
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1")) // k4's REMOVE applied as a no-op, not deadlettered
  }

  test("malformed lines deadletter with a reason instead of vanishing") {
    val in = tmp("mal-in"); val target = tmp("mal-target")
    val ckpt = tmp("mal-ckpt"); val dlq = tmp("mal-dlq")
    // an unparseable line and a parseable record MISSING the key field:
    // the PERMISSIVE reader nulls the schema columns, so a naive poison
    // predicate goes SQL-NULL and the row would drop from BOTH filter
    // sides — lost without a trace, the one thing a DLQ exists to prevent
    writeCdcFile(in, "b1.json", Seq(
      "{this is not json",
      """{"eventID":"e2","eventName":"INSERT","approxCreationTs":"2024-01-01T00:00:02Z","sequenceNumber":"002","newImage":"vX","oldImage":null}""",
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k1", Some("v1"))))
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in),
      target, ckpt, dlq, trigger = Trigger.AvailableNow(),
      retryAttempts = 2, retrySleep = _ => ()).start()
    q.awaitTermination(60000)
    val dead = spark.read.parquet(dlq).collect()
    assert(dead.length == 2, s"expected 2 deadlettered rows, got ${dead.toSeq}")
    assert(dead.forall(_.getAs[String]("error").startsWith("poison: malformed")))
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1")) // the valid record still applied
  }

  test("restart mid-drain: a stopped query resumes from its checkpoint and converges") {
    val in = tmp("restart-in"); val target = tmp("restart-target")
    val ckpt = tmp("restart-ckpt"); val dlq = tmp("restart-dlq")
    // 6 single-record files = 6 micro-batches at maxFilesPerTrigger=1;
    // k1 takes three successive values, k2 is inserted then removed
    val lines = Seq(
      rec("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("a")),
      rec("e2", "MODIFY", "2024-01-01T00:00:02Z", "002", "k1", Some("b")),
      rec("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k2", Some("w")),
      rec("e4", "MODIFY", "2024-01-01T00:00:04Z", "004", "k1", Some("c")),
      rec("e5", "REMOVE", "2024-01-01T00:00:05Z", "005", "k2", None),
      rec("e6", "INSERT", "2024-01-01T00:00:06Z", "006", "k3", Some("x")))
    lines.zipWithIndex.foreach { case (l, i) =>
      writeCdcFile(in, f"b$i%02d.json", Seq(l))
      // distinct mtimes: the file source orders by modification time, and
      // same-tick ties have no stable order — production ordered delivery
      // is modeled by spacing the ticks (the seq-guarded merge additionally
      // absorbs PUT reordering; see CdcOps.mergeLww)
      new java.io.File(in, f"b$i%02d.json").setLastModified(1700000000000L + i * 1000L)
      ()
    }

    // phase 1: drain continuously, then STOP while input likely remains
    val q1 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.ProcessingTime("10 milliseconds")).start()
    val deadline = System.currentTimeMillis() + 60000
    while (SnapshotStore.pointerValue(spark, target).isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(SnapshotStore.pointerValue(spark, target).nonEmpty) // >=1 batch committed
    q1.stop() // interrupts any in-flight batch; its offsets must NOT commit

    // phase 2: same checkpoint — the engine replays exactly the
    // uncommitted remainder; the idempotent merge absorbs any batch whose
    // publish landed but whose offsets didn't
    val q2 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    // nothing was deadlettered: a shutdown interrupt is a replay, not poison
    val dlqFiles = Option(new java.io.File(dlq).listFiles()).getOrElse(Array.empty)
    assert(dlqFiles.forall(f => !f.getName.endsWith(".parquet")),
      s"shutdown-interrupted batch was deadlettered: ${
        dlqFiles.map(f => s"${f.getName}(${f.length}B)").mkString("; ")}")
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "c", "k3" -> "x")) // exact LWW oracle; k2 removed
    // and a third run over the same checkpoint is a no-op (all committed)
    val q3 = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q3.awaitTermination(60000)
    val state2 = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state2 === state)
  }

  test("applyBatch: the pure merge is seq-guarded and idempotent") {
    import spark.implicits._
    val target = Seq(("k1", "005", "v5")).toDF("keys", "sequenceNumber", "newImage")
    val batch = Seq(
      ("e1", "MODIFY", "004", "k1", "stale"), // loses to applied seq 005
      ("e2", "MODIFY", "010", "k2", "w1"),
      ("e3", "REMOVE", "011", "k2", null), // tombstone wins within the batch
      ("e4", "INSERT", "007", "k3", "x1"))
      .toDF("eventID", "eventName", "sequenceNumber", "keys", "newImage")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("keys", "newImage").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
    val once = CdcStream.applyBatch(target, batch)
    assert(state(once) === Map("k1" -> "v5", "k3" -> "x1")) // k2 deleted
    // idempotent: re-applying the same batch to its own result is a no-op
    assert(state(CdcStream.applyBatch(once, batch)) === state(once))
  }

  test("seq-guarded apply: a stale batch delivered late cannot regress a key") {
    val in = tmp("ooo-in"); val target = tmp("ooo-target")
    val ckpt = tmp("ooo-ckpt"); val dlq = tmp("ooo-dlq")
    // the NEWER event (seq 10) lands in an EARLIER micro-batch than the
    // stale one (seq 9) — e.g. a redelivery after a restore. Blind
    // batch-order apply would end at "old"; the seq guard must keep "new".
    writeCdcFile(in, "a.json", Seq(
      rec("e1", "MODIFY", "2024-01-01T00:00:02Z", "10", "k1", Some("new"))))
    new java.io.File(in, "a.json").setLastModified(1700000000000L)
    writeCdcFile(in, "b.json", Seq(
      rec("e2", "MODIFY", "2024-01-01T00:00:01Z", "9", "k1", Some("old"))))
    new java.io.File(in, "b.json").setLastModified(1700000001000L)
    val q = CdcStream.applySink(
      CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
      target, ckpt, dlq, trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "new"))
  }

  test("withRetry: backoff schedule 1s,2s then success; exhaustion rethrows") {
    var sleeps = List.empty[Long]
    var calls = 0
    val out = CdcStream.withRetry(attempts = 3, sleep = d => sleeps :+= d) {
      calls += 1
      if (calls < 3) sys.error("transient")
      42
    }
    assert(out == 42 && sleeps == List(1000L, 2000L))

    var calls2 = 0
    val e = intercept[RuntimeException] {
      CdcStream.withRetry(attempts = 3, sleep = _ => ()) {
        calls2 += 1; sys.error("permanent")
      }
    }
    assert(calls2 == 3 && e.getMessage == "permanent")
  }

  test("dedupWithinWatermark drops exact duplicate deliveries in-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("eventID", "approxCreationTs", "payload")
    val deduped = df.withWatermark("approxCreationTs", "5 minutes")
      .dropDuplicatesWithinWatermark("eventID")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:01")
    mem.addData(("a", t, "p1"), ("a", t, "p1"), ("b", t, "p2"))
    q.processAllAvailable()
    mem.addData(("a", t, "p1")) // still within the watermark window
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("windowedCounts: streaming tumbling aggregation matches the batch equivalent") {
    val in = tmp("win-in")
    writeCdcFile(in, "b1.json", Seq(
      rec("e1", "INSERT", "2024-01-01T00:10:00Z", "001", "k1", Some("v")),
      rec("e2", "INSERT", "2024-01-01T00:20:00Z", "002", "k1", Some("v")),
      rec("e3", "REMOVE", "2024-01-01T01:10:00Z", "003", "k1", None),
      rec("e4", "INSERT", "2024-01-01T01:20:00Z", "004", "k2", Some("v"))))
    val q = CdcStream.windowedCounts(CdcStream.cdcFileSource(spark, in))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("win_out")
      .select(col("window.start").cast("string"), col("eventName"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      ("2024-01-01 00:00:00", "INSERT", 2L),
      ("2024-01-01 01:00:00", "REMOVE", 1L),
      ("2024-01-01 01:00:00", "INSERT", 1L)))
  }

  test("windowedHeavyHitters: per-window sketch catches every true heavy key across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("keys", "approxCreationTs")
    // k=4 counters over 12 distinct keys forces real evictions; the
    // sketch state must merge across the two micro-batches
    val q = graft.streaming.CdcStream.windowedHeavyHitters(df, k = 4)
      .select(col("window.start").cast("string").as("win"), col("sketch"), col("n"))
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 00: key "hot" × 30 split across batches, tail keys t0..t9 × 2
    val hot = Seq.fill(15)("hot"); val tail = (0 until 10).map(i => s"t$i")
    mem.addData((hot ++ tail).map(k => (k, ts("2024-01-01 00:10:00"))): _*)
    q.processAllAvailable()
    mem.addData((hot ++ tail ++ Seq("warm", "warm", "warm", "warm", "warm"))
      .map(k => (k, ts("2024-01-01 00:40:00"))): _*)
    q.processAllAvailable()
    val rows = spark.table("hh_out").collect()
    q.stop()
    assert(rows.length === 1)
    val n = rows.head.getAs[Long]("n")
    assert(n === 55L) // 30 hot + 20 tail + 5 warm
    val sketch = rows.head.getAs[Map[Long, Long]]("sketch")
    assert(sketch.size <= 4)
    // every key with freq > n/(k+1) = 11 must be present: that's "hot" (30)
    val hotHash = spark.range(1).select(xxhash64(lit("hot"))).head.getLong(0)
    assert(sketch.contains(hotHash), s"hot key missing from $sketch")
    // MG never overcounts, and the undercount bound holds
    assert(sketch(hotHash) <= 30L && 30L - sketch(hotHash) <= n / 5)
  }

  test("streamingNearDupCandidates: per-band first-seen state flags later arrivals; eviction resets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "approxCreationTs")
    val q = graft.streaming.StreamingDedup
      .streamingNearDupCandidates(df, retentionMs = 60 * 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("update").start()
    // batch 1: doc 1 (first of its bands), doc 3 (disjoint vocabulary)
    mem.addData((1L, textA, ts("2024-01-01 00:00:01")), (3L, textB, ts("2024-01-01 00:00:02")))
    q.processAllAvailable()
    // batch 2: doc 2 repeats doc 1's text — every band matches, so the
    // candidate (2 -> 1) must emit; doc 3 was a first itself, no pair
    mem.addData((2L, textA, ts("2024-01-01 00:00:10")))
    q.processAllAvailable()
    def cands() = spark.table("sdedup_out")
      .select("docId", "dupOf").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(cands() === Set(2L -> 1L))
    // advance event time far past retention (60 s) so doc 1/2's bands
    // evict, then redeliver the same text as doc 5: it becomes the NEW
    // first — no candidate, pinning that eviction really dropped state
    mem.addData((4L, textB, ts("2024-01-01 02:00:00")))
    q.processAllAvailable() // watermark advances; eviction timers fire
    mem.addData((5L, textA, ts("2024-01-01 02:00:05")))
    q.processAllAvailable()
    val after = cands()
    q.stop()
    assert(!after.exists(_._1 == 5L),
      s"doc 5 paired against evicted state: $after")
    assert(after.contains(2L -> 1L)) // earlier candidates retained in sink
  }

  test("ShardSpoolConnector: reshard mid-stream + duplicate delivery through the apply pipeline") {
    import graft.streaming.{ShardSpoolConnector, SnapshotStore}
    val spool = tmp("shard-spool"); val target = tmp("shard-target")
    val ckpt = tmp("shard-ckpt"); val dlq = tmp("shard-dlq")
    val sim = new KinesisSim
    val conn = new ShardSpoolConnector(sim.service, spool, maxFilesPerTrigger = 1000)
    def putRec(seqHint: Int, name: String, key: String, img: Option[String]): Unit = {
      sim.put(key, rec(s"e$seqHint", name, f"2024-01-01T00:00:$seqHint%02dZ",
        f"$seqHint%03d", key, img)); ()
    }

    // phase 1: one shard, four inserts → pump → stream → LWW target
    Seq("k1", "k2", "k3", "k4").zipWithIndex.foreach { case (k, i) =>
      putRec(i + 1, "INSERT", k, Some(s"v$k"))
    }
    assert(conn.pump() == 4)
    val q1 = CdcStream.applySink(conn.stream(spark), target, ckpt, dlq,
      trigger = Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    def state() = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state() === Map("k1" -> "vk1", "k2" -> "vk2", "k3" -> "vk3", "k4" -> "vk4"))

    // phase 2: RESHARD mid-stream — the parent closes, later records for
    // the same keys land in its children by hash range
    val (childA, childB) = sim.split("shard-0")
    Seq("k1", "k2", "k3", "k4").zipWithIndex.foreach { case (k, i) =>
      putRec(i + 10, "MODIFY", k, Some(s"w$k"))
    }
    // crash-before-checkpoint window: records delivered but NOT
    // committed, so the next round redelivers — at-least-once for real
    val uncommitted = conn.pump(commit = false)
    val recommitted = conn.pump(commit = true)
    assert(uncommitted == 4 && recommitted == 4,
      s"expected 4 records delivered twice, got $uncommitted then $recommitted")
    // the spool genuinely carries duplicates (the pipeline must absorb them)
    val spoolLines = Option(new java.io.File(spool).listFiles()).get
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq
    assert(spoolLines.length == 12 && spoolLines.distinct.length == 8,
      s"expected 4 duplicated records in the spool, got ${spoolLines.length} lines")

    // parent-before-child discipline: once the parent is drained it is
    // never polled again, and no child poll precedes that point
    assert(conn.drainedShards.contains("shard-0"))
    val log = sim.callLog.toSeq
    val firstChild = log.indexWhere(id => id == childA || id == childB)
    assert(firstChild >= 0 && log.lastIndexOf("shard-0") < firstChild,
      s"child polled before the parent drained: $log")

    // phase 3: same checkpoint drains the new spool files; the
    // idempotent seq-guarded apply folds the duplicate deliveries into
    // exactly-once state
    val q2 = CdcStream.applySink(conn.stream(spark), target, ckpt, dlq,
      trigger = Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(state() === Map("k1" -> "wk1", "k2" -> "wk2", "k3" -> "wk3", "k4" -> "wk4"))
    // nothing deadlettered: duplicates are replays, not poison
    val dlqFiles = Option(new java.io.File(dlq).listFiles()).getOrElse(Array.empty)
    assert(dlqFiles.forall(f => !f.getName.endsWith(".parquet")))
    // both children actually produced (the split routed keys to both
    // halves) — keeps the reshard from degenerating into one live child
    assert(Set(childA, childB).subsetOf(log.toSet))
    SnapshotStore.pointerValue(spark, target).foreach(_ => ())
  }

  test("verifiedNearDupStream: streamed verified pairs = batch dedup_minhash_lsh, across a restart") {
    // D9 end-to-end (r6): the all-pairs candidate stage + foreachBatch
    // exact-Jaccard verify, fed the SAME corpus the batch query runs on,
    // must converge to the identical verified-pair set — including a
    // mid-drain stop/resume on one checkpoint.
    val sfDir = "/root/testdata/sf0.001"
    val in = tmp("sdedup-in"); val ckpt = tmp("sdedup-ckpt")
    val corpus = graft.analytics.Corpus.docsWithNearDups(spark, sfDir)
      .withColumn("approxCreationTs",
        org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
    // 24 files = 24 micro-batches at maxFilesPerTrigger=1; rows shuffle
    // across files, so most near-dup pairs straddle batch boundaries and
    // ride on the band-membership STATE, not on same-batch collisions
    corpus.repartition(24).write.mode("overwrite").parquet(in)
    val batchDocs = spark.read.parquet(in)
    val hsets = graft.streaming.StreamingDedup.shingleSets(batchDocs)
    val schema = batchDocs.schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // at-least-once sink: keyed accumulation dedups redeliveries
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Double]
    val sink = (b: org.apache.spark.sql.DataFrame) => {
      b.collect().foreach(r => got.put((r.getLong(0), r.getLong(1)), r.getDouble(2))); ()
    }
    // phase 1: continuous drain, STOP once verified pairs start landing
    val q1 = graft.streaming.StreamingDedup.verifiedNearDupStream(
      stream(), hsets, ckpt, sink,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    val deadline = System.currentTimeMillis() + 90000
    while (got.size < 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    q1.stop() // may interrupt an uncommitted batch; resume must replay it
    val atStop = got.size
    // phase 2: same checkpoint — membership state restores, the rest drains
    val q2 = graft.streaming.StreamingDedup.verifiedNearDupStream(
      stream(), hsets, ckpt, sink)
    q2.awaitTermination(120000)
    val want = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(want.nonEmpty && got.toMap === want,
      s"streamed ${got.size} pairs (${atStop} before restart) != batch ${want.size}")
  }

  test("ShardSpoolConnector: shard MERGE — child polled only after BOTH parents drain") {
    import graft.streaming.ShardSpoolConnector
    val spool = tmp("merge-spool"); val target = tmp("merge-target")
    val ckpt = tmp("merge-ckpt"); val dlq = tmp("merge-dlq")
    val sim = new KinesisSim
    val conn = new ShardSpoolConnector(sim.service, spool, maxFilesPerTrigger = 1000)
    def putRec(seqHint: Int, name: String, key: String, img: Option[String]): Unit = {
      sim.put(key, rec(s"m$seqHint", name, f"2024-01-01T00:00:$seqHint%02dZ",
        f"$seqHint%03d", key, img)); ()
    }
    // split first so there are two shards to merge back (scale-up then
    // scale-down — the full reshard lifecycle)
    val (pa, pb) = sim.split("shard-0")
    Seq("k1", "k2", "k3", "k4").zipWithIndex.foreach { case (k, i) =>
      putRec(i + 1, "INSERT", k, Some(s"v$k"))
    }
    assert(conn.pump() == 4)
    // MERGE the halves back: the child carries BOTH parents, and there
    // are still undelivered records in each parent at merge time
    Seq("k1", "k2").zipWithIndex.foreach { case (k, i) =>
      putRec(i + 5, "MODIFY", k, Some(s"u$k"))
    }
    val child = sim.merge(pa, pb)
    // post-merge records land in the child
    Seq("k3", "k4").zipWithIndex.foreach { case (k, i) =>
      putRec(i + 7, "MODIFY", k, Some(s"w$k"))
    }
    // drain everything (parents finish, then the child becomes eligible)
    var total = 0
    (0 until 5).foreach(_ => total += conn.pump())
    assert(total == 4, s"expected the 4 post-split records, got $total")
    // ordering discipline: no child poll precedes the LAST parent poll —
    // per-key order holds because every pre-merge record left first
    val log = sim.callLog.toSeq
    val firstChild = log.indexOf(child)
    assert(firstChild >= 0, s"child never polled: $log")
    assert(math.max(log.lastIndexOf(pa), log.lastIndexOf(pb)) > -1)
    assert(conn.drainedShards.contains(pa) && conn.drainedShards.contains(pb),
      "both parents must drain")
    assert(log.slice(0, firstChild).contains(pa) && log.slice(0, firstChild).contains(pb),
      s"child polled before a parent drained: $log")
    // end-to-end: the merged stream applies to the LWW target correctly
    val q = CdcStream.applySink(conn.stream(spark), target, ckpt, dlq,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val state = CdcStream.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "uk1", "k2" -> "uk2", "k3" -> "wk3", "k4" -> "wk4"))
  }

  test("streamingVectorSearch: streamed top-k = batch ann_incremental, across a restart") {
    // V8's streaming face: new vectors drain as micro-batches against
    // the persisted LSH index; the streamed keyed result set must equal
    // the batch ann_incremental formulation over the same arrivals —
    // including a mid-drain stop/resume on one checkpoint.
    val sfDir = "/root/testdata/sf0.001"
    val in = tmp("svec-in"); val ckpt = tmp("svec-ckpt")
    val base = graft.analytics.Corpus.quantizedVectors(spark, sfDir)
    val existing = base.filter(col("vec_id") % 11 =!= 0)
    // the arrival stream: the same %11 slice the batch query searches,
    // with raw embeddings (the stream quantizes on ingest)
    val arrivals = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 11 === 0)
      .withColumn("approxCreationTs",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
    arrivals.repartition(8).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // at-least-once sink: keyed accumulation absorbs replayed batches
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Int), (Long, Double)]
    val sink = (b: org.apache.spark.sql.DataFrame) => {
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(2)), (r.getLong(1), r.getDouble(3)))); ()
    }
    // phase 1: continuous drain, stop after results start landing
    val q1 = graft.streaming.StreamingVectorSearch.searchStream(
      stream(), existing, ckpt, sink,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    val deadline = System.currentTimeMillis() + 90000
    while (got.size < 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    q1.stop()
    val atStop = got.size
    // phase 2: same checkpoint — the remaining files drain
    val q2 = graft.streaming.StreamingVectorSearch.searchStream(
      stream(), existing, ckpt, sink)
    q2.awaitTermination(120000)
    val want = SparkEntry.queries("ann_incremental")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(want.nonEmpty && got.toMap === want,
      s"streamed ${got.size} rows (${atStop} before restart) != batch ${want.size}")
  }

  test("streamingVectorSearch radius knob: multi-probe top-k dominates single-bucket per query") {
    // the recall lever carried over from ann_lsh_multiprobe: a wider
    // probe ball can only ADD candidates, so per (query, rank) the
    // radius-2 score must be >= the radius-0 score, and no query may
    // LOSE result rows. One AvailableNow drain per radius, same stream.
    val sfDir = "/root/testdata/sf0.001"
    val in = tmp("svecr-in")
    val base = graft.analytics.Corpus.quantizedVectors(spark, sfDir)
    val existing = base.filter(col("vec_id") % 11 =!= 0)
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 11 === 0)
      .withColumn("approxCreationTs",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
      .coalesce(2).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def run(radius: Int): Map[(Long, Int), Double] = {
      val got = scala.collection.concurrent.TrieMap.empty[(Long, Int), Double]
      val q = graft.streaming.StreamingVectorSearch.searchStream(
        spark.readStream.schema(schema).parquet(in), existing,
        tmp(s"svecr-ckpt$radius"),
        b => { b.collect().foreach(r =>
          got.put((r.getLong(0), r.getInt(2)), r.getDouble(3))); () },
        radius = radius)
      q.awaitTermination(120000)
      got.toMap
    }
    val r0 = run(0); val r2 = run(2)
    assert(r0.nonEmpty && r2.nonEmpty)
    assert(r0.keySet.map(_._1).subsetOf(r2.keySet.map(_._1)),
      "a query lost all results under multi-probe")
    r0.foreach { case ((qid, rank), s0) =>
      r2.get((qid, rank)).foreach(s2 =>
        assert(s2 >= s0, s"query $qid rank $rank: multi-probe $s2 < single-bucket $s0"))
    }
    // and the widening genuinely changes something on this corpus
    assert(r2 != r0, "radius 2 produced identical results — knob not exercised")
  }

  test("decodeHeavyHitters: streaming sketch + batch recount = exact per-window hitters") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 00: hot×30 + 10 tail keys ×2 + warm×5 (n=55); hour 01:
    // warm×20 + 8 tail keys ×1 (n=28). k=4 counters, threshold n/5:
    // the sketch guarantee (freq > n/(k+1) ⇒ candidate) makes the
    // decode exact for every emitted key.
    val win0 = (Seq.fill(30)("hot") ++ (0 until 10).flatMap(i => Seq(s"t$i", s"t$i")) ++
      Seq.fill(5)("warm")).map(k => (k, ts("2024-01-01 00:10:00")))
    val win1 = (Seq.fill(20)("warm") ++ (0 until 8).map(i => s"t$i"))
      .map(k => (k, ts("2024-01-01 01:15:00")))
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("keys", "approxCreationTs")
    val q = graft.streaming.CdcStream.windowedHeavyHitters(df, k = 4)
      .writeStream.format("memory").queryName("hh_dec")
      .outputMode("complete").start()
    // split across micro-batches so the decoded surface provably rides
    // on MERGED sketch state, not a single-batch aggregate
    mem.addData(win0.take(20): _*); q.processAllAvailable()
    mem.addData((win0.drop(20) ++ win1): _*); q.processAllAvailable()
    val sketched = spark.table("hh_dec")
    val source = (win0 ++ win1).toDF("keys", "approxCreationTs")
    val decoded = graft.streaming.CdcStream
      .decodeHeavyHitters(sketched, source, thresholdDiv = 5, sketchK = 4)
      .select(col("window.start").cast("string").as("win"),
        col("keys"), col("cnt"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    // exact per-window heavy hitters, hand-computed from the corpus
    assert(decoded === Set(
      ("2024-01-01 00:00:00", "hot", 30L, 55L),
      ("2024-01-01 01:00:00", "warm", 20L, 28L)))
    // a threshold finer than the sketch's guarantee is rejected, not
    // silently inexact: k=4 only guarantees candidates above n/5
    intercept[IllegalArgumentException] {
      graft.streaming.CdcStream
        .decodeHeavyHitters(sketched, source, thresholdDiv = 64, sketchK = 4)
    }
  }

  test("watermark drops late events from windowed aggregation (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("eventName", "approxCreationTs")
    val q = CdcStream.windowedCounts(df)
      .select(col("window.start").cast("string").as("win"), col("eventName"), col("n"))
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: two events in hour 00; advance event time far past the
    // 10-minute watermark so hour 00 closes and emits
    mem.addData(("INSERT", ts("2024-01-01 00:10:00")), ("INSERT", ts("2024-01-01 00:20:00")))
    q.processAllAvailable()
    mem.addData(("INSERT", ts("2024-01-01 03:00:00")))
    q.processAllAvailable()
    val afterClose = spark.table("late_out")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(afterClose.get("2024-01-01 00:00:00").contains(2L)) // hour 00 finalized
    // batch 3: a LATE event for the closed hour-00 window — dropped, the
    // finalized count must not change (and append mode emits no update)
    mem.addData(("INSERT", ts("2024-01-01 00:30:00")))
    q.processAllAvailable()
    val afterLate = spark.table("late_out")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    q.stop()
    assert(afterLate.get("2024-01-01 00:00:00").contains(2L))
  }

  test("sessionCounts: 30-minute inactivity gap splits sessions (batch-driven)") {
    import spark.implicits._
    val rows = Seq(
      ("k1", "2024-01-01 00:00:00"), ("k1", "2024-01-01 00:10:00"),
      ("k1", "2024-01-01 01:00:00"), // > 30 min gap -> new session
      ("k2", "2024-01-01 00:00:00"))
      .toDF("keys", "ts")
      .select(col("keys"), col("ts").cast("timestamp").as("approxCreationTs"))
    val out = CdcStream.sessionCounts(rows)
      .select("keys", "n").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.sorted.toSeq == Seq(("k1", 1L), ("k1", 2L), ("k2", 1L)))
  }

  test("statefulLatest: per-key state store converges to LWW across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    val q = graft.streaming.CdcStream.statefulLatest(df, retentionMs = None)
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    mem.addData(
      ("k1", "INSERT", "001", Some("v1")),
      ("k1", "MODIFY", "002", Some("v2")),
      ("k2", "INSERT", "003", Some("w1")))
    q.processAllAvailable()
    // second micro-batch: stale event for k1 must NOT win; k2 removed
    mem.addData(
      ("k1", "MODIFY", "001", Some("stale")),
      ("k2", "REMOVE", "004", None))
    q.processAllAvailable()
    val last = spark.table("state_out")
      .groupBy("keys").agg(max(struct(col("seq"), col("image"), col("live"))).as("s"))
      .select(col("keys"), col("s.image"), col("s.live"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    q.stop()
    assert(last("k1") === (("v2", true)))  // stale seq 001 lost to 002
    assert(last("k2") === ((null, false))) // tombstoned
  }

  test("statefulLatest bootstraps from an initial snapshot state (restore-then-drain)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    // seeded store: the restored snapshot's LWW state (k1@5, k2@7)
    val initial = Seq(
      graft.streaming.KeyState("k1", "5", Some("restored1"), live = true),
      graft.streaming.KeyState("k2", "7", Some("restored2"), live = true)).toDS()
    val q = graft.streaming.CdcStream.statefulLatest(df, retentionMs = None, initial = Some(initial))
      .writeStream.format("memory").queryName("boot_out")
      .outputMode("update").start()
    // buffered drain: a STALE delivery for k1 (seq 3 < seeded 5), a real
    // advance for k2 (seq 10), and a brand-new key k3
    mem.addData(
      ("k1", "MODIFY", "3", Some("stale")),
      ("k2", "MODIFY", "10", Some("w2")),
      ("k3", "INSERT", "1", Some("x1")))
    q.processAllAvailable()
    val last = spark.table("boot_out")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    q.stop()
    assert(last("k1") === "restored1") // seeded state beats the stale buffer
    assert(last("k2") === "w2")        // newer buffer advances the seed
    assert(last("k3") === "x1")        // unseeded key builds from empty
  }

  test("statefulChangelog with bootstrapped state: stale replay is an EMPTY changelog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    val initial = Seq(
      graft.streaming.KeyState("k1", "5", Some("restored"), live = true)).toDS()
    val q = graft.streaming.CdcStream.statefulChangelog(df, retentionMs = None, initial = Some(initial))
      .writeStream.format("memory").queryName("boot_cl_out")
      .outputMode("update").start()
    // replay of an already-applied buffer: stale + tying deliveries only
    mem.addData(("k1", "MODIFY", "3", Some("stale")), ("k1", "MODIFY", "5", Some("restored")))
    q.processAllAvailable()
    assert(spark.table("boot_cl_out").isEmpty) // nothing actually changed
    // a genuinely newer delivery emits exactly once
    mem.addData(("k1", "MODIFY", "7", Some("advanced")))
    q.processAllAvailable()
    val rows = spark.table("boot_cl_out").collect().map(r => (r.getString(0), r.getString(2)))
    q.stop()
    assert(rows.toSeq === Seq(("k1", "advanced")))
  }

  test("stateful ops drop malformed rows instead of NPEing the state function") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    val q = graft.streaming.CdcStream.statefulLatest(df, retentionMs = None)
      .writeStream.format("memory").queryName("guard_out")
      .outputMode("update").start()
    // a null key, a null eventName, and a null sequence (each would NPE
    // the numeric sequence comparison or group under a junk key) mixed
    // with one valid record — the malformed three must be dropped, the
    // valid one applied, the query alive
    mem.addData(
      (null, "INSERT", "1", Some("junk")),
      ("k2", null, "2", Some("junk")),
      ("k3", "INSERT", null, Some("junk")),
      ("k1", "INSERT", "5", Some("v1")))
    q.processAllAvailable()
    val rows = spark.table("guard_out").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    q.stop()
    assert(rows === Set(("k1", "v1")))
  }

  test("statefulChangelog emits only on real change (stale/duplicate deliveries are silent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    val q = graft.streaming.CdcStream.statefulChangelog(df, retentionMs = None)
      .writeStream.format("memory").queryName("changelog_out")
      .outputMode("update").start()
    mem.addData(
      ("k1", "INSERT", "2", Some("v1")),
      ("k2", "INSERT", "3", Some("w1")))
    q.processAllAvailable()
    // stale ("9" < "10" numerically... here "1" < "2"), duplicate, and a
    // real update: only the real update may emit
    mem.addData(
      ("k1", "MODIFY", "1", Some("stale")),
      ("k2", "INSERT", "3", Some("w1")),
      ("k2", "MODIFY", "10", Some("w2")))
    q.processAllAvailable()
    val rows = spark.table("changelog_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toList
    q.stop()
    // batch 1: both keys new -> 2 rows; batch 2: only k2 changed -> 1 row
    assert(rows.size == 3)
    assert(rows.count(_._1 == "k1") == 1) // the stale event emitted nothing
    assert(rows.filter(_._1 == "k2").map(_._2).toSet == Set("3", "10"))
  }

  test("statefulAggDeltas + maintainedAggView: streaming IVM converges to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String])]
    val df = mem.toDF().toDF("keys", "eventName", "sequenceNumber", "newImage")
    // group = key prefix, measure = the image parsed as a long
    val view = CdcStream.maintainedAggView(
      CdcStream.statefulAggDeltas(df, retentionMs = None),
      group = org.apache.spark.sql.functions.expr("substring(keys, 1, 1)"),
      measure = org.apache.spark.sql.functions.col("image"))
    // update-mode emits superseded rows across micro-batches; tag each
    // with its batch id so "latest per group" is order-independent
    // (last() over the memory sink depends on partition order)
    val latest = scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Long)]
    val q = view.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.collect().foreach { r =>
          val v = (batchId, r.getAs[Long]("n_keys"), r.getAs[Long]("m_sum"))
          latest.updateWith(r.getAs[String]("grp")) {
            case Some(old) if old._1 > batchId => Some(old)
            case _                             => Some(v)
          }
        }
        ()
      }
      .start()

    mem.addData(
      ("a_k1", "INSERT", "2", Some("10")),
      ("a_k2", "INSERT", "3", Some("5")),
      ("b_k3", "INSERT", "4", Some("7")))
    q.processAllAvailable()
    def viewRows() = latest.toMap.map { case (g, (_, n, m)) => g -> ((n, m)) }
    assert(viewRows() === Map("a" -> ((2L, 15L)), "b" -> ((1L, 7L))))

    // modify (retract 10 / assert 20), an exact duplicate (silent), a
    // stale delivery (silent), and a tombstone (retract only)
    mem.addData(
      ("a_k1", "MODIFY", "6", Some("20")),
      ("a_k2", "INSERT", "3", Some("5")),
      ("a_k1", "MODIFY", "1", Some("999")),
      ("b_k3", "REMOVE", "7", None))
    q.processAllAvailable()
    val after = viewRows()
    q.stop()
    assert(after("a") === ((2L, 25L)))
    assert(after("b") === ((0L, 0L))) // drained group: maintained to zero, not stale

    // batch recompute of the same event stream's final state — the
    // streaming view (nonzero groups) must equal it exactly
    val batch = Seq(
      ("a_k1", "2", 10L, false), ("a_k2", "3", 5L, false), ("b_k3", "4", 7L, false),
      ("a_k1", "6", 20L, false), ("a_k1", "1", 999L, false), ("b_k3", "7", 0L, true))
      .toDF("keys", "sequenceNumber", "m", "isRemove")
    val recompute = graft.ops.CdcOps.lwwCompact(batch, Seq("keys"),
      graft.ops.CdcOps.numericStringOrder(org.apache.spark.sql.functions.col("sequenceNumber")))
      .filter(!org.apache.spark.sql.functions.col("isRemove"))
      .groupBy(org.apache.spark.sql.functions.expr("substring(keys, 1, 1)").as("grp"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("m").as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(after.filter(_._2._1 > 0) === recompute)
  }

  test("stream-stream interval join correlates CDC events with control events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cdcMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val ctrlMem = MemoryStream[(String, java.sql.Timestamp, String)]
    val cdc = cdcMem.toDF().toDF("keys", "eventID", "approxCreationTs")
    val ctrl = ctrlMem.toDF().toDF("ctrlKey", "ctrlTs", "action")
    val q = CdcStream.correlateWithControl(cdc, ctrl, maxDelay = "10 minutes")
      .select("eventID", "action")
      .writeStream.format("memory").queryName("corr_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    ctrlMem.addData(("k1", ts("2024-01-01 00:00:00"), "RESTORE_STARTED"))
    cdcMem.addData(
      ("k1", "e1", ts("2024-01-01 00:05:00")), // in [ctrl, ctrl+10m] — match
      ("k1", "e2", ts("2024-01-01 00:20:00")), // past the interval — no match
      ("k2", "e3", ts("2024-01-01 00:06:00"))) // no control event — no match
    q.processAllAvailable()
    val rows = spark.table("corr_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set(("e1", "RESTORE_STARTED")))
  }

  test("left-outer interval join emits unmatched CDC events once the watermark closes them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cdcMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val ctrlMem = MemoryStream[(String, java.sql.Timestamp, String)]
    val cdc = cdcMem.toDF().toDF("keys", "eventID", "approxCreationTs")
    val ctrl = ctrlMem.toDF().toDF("ctrlKey", "ctrlTs", "action")
    val q = CdcStream.correlateWithControl(cdc, ctrl,
      maxDelay = "10 minutes", watermark = "1 minute", joinType = "left_outer")
      .select("eventID", "action")
      .writeStream.format("memory").queryName("corr_outer_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    ctrlMem.addData(("k1", ts("2024-01-01 00:00:00"), "RESTORE_STARTED"))
    cdcMem.addData(
      ("k1", "e1", ts("2024-01-01 00:05:00")), // attributed
      ("k2", "e2", ts("2024-01-01 00:06:00"))) // no control event — unattributed
    q.processAllAvailable()
    // the unmatched row must NOT emit yet: a matching control event
    // could still arrive until the control watermark passes its interval
    val early = spark.table("corr_outer_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(early == Set(("e1", "RESTORE_STARTED")))
    // advance BOTH watermarks far past e2's interval — the outer side
    // closes and e2 emits with a null control column
    ctrlMem.addData(("zz", ts("2024-01-01 02:00:00"), "noop"))
    cdcMem.addData(("zz", "e9", ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    q.processAllAvailable()
    val rows = spark.table("corr_outer_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows.contains(("e2", null)), s"unattributed event missing from $rows")
  }

  test("SocketCdcSource: wire envelopes over TCP drive the apply pipeline, restart included") {
    import graft.streaming.SocketCdcSource
    def envelope(id: String, name: String, ts: String, seq: String,
                 keys: String, img: Option[String]): String = {
      val imgJson = img.map(i => s""""$i"""").getOrElse("null")
      s"""{"eventID":"$id","eventName":"$name","eventVersion":"1.1","eventSource":"aws:dynamodb","awsRegion":"us-east-1","dynamodb":{"ApproximateCreationDateTime":"$ts","SequenceNumber":"$seq","SizeBytes":26,"StreamViewType":"NEW_AND_OLD_IMAGES","Keys":"$keys","NewImage":$imgJson,"OldImage":null}}"""
    }
    // one-connection-at-a-time envelope server. Peer liveness is probed
    // (read() -> -1 on close) BEFORE each dequeue so a line is never
    // consumed into a dead socket's buffer; `active` lets the test gate
    // phase-2 sends on the connection turnover.
    val server = new java.net.ServerSocket(0)
    val pending = new java.util.concurrent.LinkedBlockingQueue[String]()
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var serving = true
    val acceptor = new Thread({ () =>
      while (serving) {
        try {
          val sock = server.accept()
          active.incrementAndGet()
          try {
            sock.setSoTimeout(50)
            val out = new java.io.PrintWriter(sock.getOutputStream, true)
            var ok = true
            while (serving && ok) {
              val alive =
                try sock.getInputStream.read() != -1
                catch { case _: java.net.SocketTimeoutException => true }
              if (!alive) ok = false
              else {
                val line = pending.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
                if (line != null) {
                  out.println(line)
                  if (out.checkError()) { pending.put(line); ok = false }
                }
              }
            }
          } finally { sock.close(); active.decrementAndGet() }
        } catch { case _: Throwable => () }
      }
    }: Runnable, "cdc-envelope-server")
    acceptor.setDaemon(true); acceptor.start()
    def awaitConns(n: Int): Unit = {
      // generous: under full-suite ambient load the socket teardown /
      // re-accept can trail the query stop/start by tens of seconds
      val deadline = System.currentTimeMillis() + 90000
      while (active.get() != n && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(active.get() === n)
    }

    val target = tmp("sock-target"); val ckpt = tmp("sock-ckpt"); val dlq = tmp("sock-dlq")
    def targetState(): Map[String, String] =
      CdcStream.readTarget(spark, target).select("keys", "newImage")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def awaitState(expect: Map[String, String], timeoutMs: Long = 120000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var last: Map[String, String] = Map.empty
      while (System.currentTimeMillis() < deadline && { last = targetState(); last != expect })
        Thread.sleep(250)
      assert(last === expect,
        s"target state did not converge within ${timeoutMs}ms; last=$last")
    }

    val src = SocketCdcSource("localhost", server.getLocalPort)
    val q = CdcStream.applySink(src.stream(spark), target, ckpt, dlq,
      trigger = Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      pending.put(envelope("e1", "INSERT", "2024-01-01T00:00:01Z", "001", "k1", Some("v1")))
      pending.put(envelope("e2", "MODIFY", "2024-01-01T00:00:02Z", "002", "k1", Some("v2")))
      pending.put("{ this line is not an envelope")
      pending.put(envelope("e3", "INSERT", "2024-01-01T00:00:03Z", "003", "k2", Some("w1")))
      awaitState(Map("k1" -> "v2", "k2" -> "w1"))
    } finally q.stop()

    // restart: a socket has no recoverable offsets (Spark fails fast on
    // the old checkpoint — "Offsets committed out of order"), so a
    // restarted query takes a FRESH checkpoint; continuity lives in the
    // TARGET, whose idempotent + monotone apply makes the stale
    // redelivery of e2 a no-op while new pushes apply on top. This is
    // the stated SocketCdcSource contract, proven here.
    awaitConns(0) // first connection fully torn down before phase 2
    val ckpt2 = tmp("sock-ckpt2")
    val q2 = CdcStream.applySink(src.stream(spark), target, ckpt2, dlq,
      trigger = Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      awaitConns(1) // q2 is connected; lines now reach the live socket
      pending.put(envelope("e2", "MODIFY", "2024-01-01T00:00:02Z", "002", "k1", Some("v2")))
      pending.put(envelope("e4", "REMOVE", "2024-01-01T00:00:04Z", "004", "k2", None))
      pending.put(envelope("e5", "INSERT", "2024-01-01T00:00:05Z", "005", "k3", Some("x1")))
      awaitState(Map("k1" -> "v2", "k3" -> "x1"))
    } finally {
      q2.stop()
      serving = false
      server.close()
    }
    // the malformed line was dropped at decode, not deadlettered as a
    // batch failure, and no valid neighbor was lost
    val fs = new java.io.File(dlq)
    val dlqFiles = Option(fs.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    assert(dlqFiles === 0, "poison wire line must not deadletter valid batches")
  }

  test("lateArrivalAlarms: streamed alarms equal the batch fold across chunks + restart") {
    import spark.implicits._
    // deterministic jittered delivery: 10 keys × 120 events at 30 s
    // per-key spacing, delivery_pos = event-time ± ≤60 s hash jitter —
    // the spacing/jitter ratio guarantees genuine reorders (lateness)
    // while staying far inside the 10-minute watermark delay, so no
    // input row can be dropped as late BETWEEN micro-batches
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = for (k <- 0 until 10; i <- 0 until 120) yield {
      val id = k * 1000 + i
      val tsMs = base + (i * 30000L) + k * 700L
      val jitterUs = ((id * 2654435761L) % 120000000L) - 60000000L
      (s"k$k", s"e$id", new java.sql.Timestamp(tsMs),
        tsMs * 1000L + jitterUs)
    }
    // batch-fold ground truth: per key in (delivery_pos, eventId) order,
    // alarm whenever event time dips under the delivered high-water mark
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      var hwm = Long.MinValue
      evs.sortBy(t => (t._4, t._2)).flatMap { case (k, id, ts, _) =>
        val us = ts.getTime * 1000L
        if (us < hwm) Some((k, id, hwm - us))
        else { hwm = us; None }
      }
    }.toSet
    assert(expected.size > 50, s"jitter produced too few lates: ${expected.size}")

    // stream the same rows in three delivery-ordered chunks with a full
    // restart before the last one
    val in = tmp("late-in"); val ckpt = tmp("late-ckpt"); val out = tmp("late-out")
    val ordered = rows.sortBy(_._4)
    val chunks = Seq(ordered.take(800), ordered.slice(800, 1600), ordered.drop(1600))
    def writeChunk(c: Seq[(String, String, java.sql.Timestamp, Long)]): Unit = {
      c.toDF("keys", "eventId", "approxCreationTs", "deliveryPos")
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(5)
    }
    def startQ() = CdcStream.lateArrivalAlarms(
        spark.readStream
          .schema("keys STRING, eventId STRING, approxCreationTs TIMESTAMP, deliveryPos BIGINT")
          .option("maxFilesPerTrigger", 1).parquet(in))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    writeChunk(chunks(0)); writeChunk(chunks(1))
    val q1 = startQ(); q1.awaitTermination(120000)
    writeChunk(chunks(2))
    val q2 = startQ(); q2.awaitTermination(120000)

    val got = spark.read.parquet(out)
      .as[(String, String, Long)].collect().toSet
    assert(got === expected,
      s"streamed alarms diverged: missing=${(expected -- got).take(5)} " +
        s"extra=${(got -- expected).take(5)}")
  }

  test("schemaDriftAlarm: novel (attr, type) pairs alarm once; repeats stay silent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Option[String], java.sql.Timestamp)]
    val alarms = CdcStream.schemaDriftAlarm(
      mem.toDF().toDF("newImage", "approxCreationTs"))
    val q = alarms.writeStream.format("memory").queryName("drift_alarms")
      .outputMode("append").start()
    try {
      mem.addData(
        (Some("""{"pk":{"S":"u1"},"v":{"N":"1"}}"""), ts("2024-01-01 00:00:01")),
        (Some("""{"pk":{"S":"u2"},"v":{"N":"2"}}"""), ts("2024-01-01 00:00:02")),
        (None, ts("2024-01-01 00:00:03"))) // tombstone: no image, no alarm
      q.processAllAvailable()
      def seen() = spark.table("drift_alarms")
        .as[(String, String, java.sql.Timestamp)].collect()
      assert(seen().map(t => (t._1, t._2)).toSet === Set(("pk", "S"), ("v", "N")))
      // the alarm carries the pair's EARLIEST arrival in its batch
      assert(seen().find(t => t._1 == "pk").get._3 === ts("2024-01-01 00:00:01"))
      // drift batch: a type flip (v N->S) and a new attribute alarm;
      // the already-known pairs produce NOTHING more
      mem.addData(
        (Some("""{"pk":{"S":"u3"},"v":{"S":"oops"},"score":{"N":"9"}}"""),
          ts("2024-01-01 00:00:04")),
        (Some("""{"pk":{"S":"u4"},"v":{"N":"4"}}"""), ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val after = seen().map(t => (t._1, t._2))
      assert(after.toSet ===
        Set(("pk", "S"), ("v", "N"), ("v", "S"), ("score", "N")))
      assert(after.length === 4, "a known pair re-alarmed")
    } finally q.stop()
  }

  test("schemaDriftAlarm survives restart: checkpointed inventory stays silent on knowns") {
    import spark.implicits._
    val in = tmp("drift-in"); val ckpt = tmp("drift-ckpt")
    // JSON-lines files whose `img` field is the DDB-JSON image as an
    // ESCAPED string — the declared-schema path, no raw-capture tricks
    def line(img: String, ts: String): String =
      s"""{"img":"${img.replace("\"", "\\\"")}","ts":"$ts"}"""
    def alarmStream() = CdcStream.schemaDriftAlarm(
      spark.readStream.schema("img STRING, ts TIMESTAMP").json(in)
        .select(col("img").as("newImage"), col("ts").as("approxCreationTs")))
    // file sink (memory sink cannot recover a checkpoint): the alarm
    // log accumulates across both query incarnations
    val out = tmp("drift-out")
    def startQ() = alarmStream().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def alarmed() = spark.read.parquet(out)
      .select("attr", "avtype").collect().map(r => (r.getString(0), r.getString(1)))
    writeCdcFile(in, "b0.json", Seq(
      line("""{"pk":{"S":"u1"},"v":{"N":"1"}}""", "2024-01-01T00:00:01Z"),
      line("""{"pk":{"S":"u2"},"v":{"N":"2"}}""", "2024-01-01T00:00:02Z")))
    val q1 = startQ()
    try {
      q1.processAllAvailable()
      assert(alarmed().toSet === Set(("pk", "S"), ("v", "N")))
    } finally q1.stop()
    // restart from the SAME checkpoint: known pairs must stay silent —
    // the inventory state rebuilt from the state store, not from scratch
    writeCdcFile(in, "b1.json", Seq(
      line("""{"pk":{"S":"u3"},"v":{"N":"3"},"score":{"N":"9"}}""",
        "2024-01-01T00:00:03Z")))
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      val all = alarmed()
      assert(all.toSet === Set(("pk", "S"), ("v", "N"), ("score", "N")))
      assert(all.length === 3,
        s"restart re-alarmed known pairs: ${all.mkString(", ")}")
    } finally q2.stop()
  }

  test("stateful ops default to FINITE retention; unbounded is an explicit opt-in") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the default is a finite event-time window...
    assert(graft.streaming.CdcStream.DefaultRetentionMs === 7L * 24 * 60 * 60 * 1000)
    val mem = MemoryStream[(String, String, String, Option[String], java.sql.Timestamp)]
    val withTs = mem.toDF()
      .toDF("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
    // ...and a default-constructed op takes the EventTimeTimeout path
    val plan = graft.streaming.CdcStream.statefulLatest(withTs)
      .queryExecution.analyzed.toString
    assert(plan.contains("EventTimeTimeout"), s"default not evicting:\n$plan")
    // an input with no event time cannot evict: the default fails loudly
    // (naming the opt-out) instead of silently running unbounded
    val noTs = Seq(("k1", "INSERT", "001", Some("v1")))
      .toDF("keys", "eventName", "sequenceNumber", "newImage")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CdcStream.statefulLatest(noTs)
    }
    assert(e.getMessage.contains("retentionMs = None"))
    intercept[IllegalArgumentException] {
      graft.streaming.CdcStream.statefulChangelog(noTs)
    }
    // the explicit opt-in builds the NoTimeout (unbounded) path
    val unbounded = graft.streaming.CdcStream.statefulLatest(noTs, retentionMs = None)
      .queryExecution.analyzed.toString
    assert(unbounded.contains("NoTimeout"), s"opt-in not unbounded:\n$unbounded")
  }

  test("statefulLatest: an event-time-idle key is evicted from the state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String], java.sql.Timestamp)]
    val df = mem.toDF()
      .toDF("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
    val q = graft.streaming.CdcStream
      .statefulLatest(df, retentionMs = Some(60 * 1000L), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("evict_out")
      .outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      ("k1", "INSERT", "005", Some("v5"), ts("2024-01-01 00:00:00")),
      ("k2", "INSERT", "001", Some("w1"), ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    // only k2 keeps flowing; the watermark sails past k1's 60 s timeout
    mem.addData(("k2", "MODIFY", "002", Some("w2"), ts("2024-01-01 01:00:00")))
    q.processAllAvailable()
    mem.addData(("k2", "MODIFY", "003", Some("w3"), ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    // the store shrank to k2 alone after k1's timeout fired
    assert(q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).contains(1L),
      "no completed batch reported a 1-row state store (k1 never evicted)")
    // behavioral proof the state is GONE: a sequence STALER than the
    // evicted 005 now wins, because the key rebuilt from empty
    mem.addData(("k1", "INSERT", "001", Some("old"), ts("2024-01-01 02:00:30")))
    q.processAllAvailable()
    val k1Seqs = spark.table("evict_out").filter(col("keys") === "k1")
      .select("seq").collect().map(_.getString(0)).toSet
    q.stop()
    assert(k1Seqs.contains("001"), s"stale seq did not win after eviction: $k1Seqs")
  }

  test("statefulChangelog: eviction emits no flush; a rebuilt key emits again") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Option[String], java.sql.Timestamp)]
    val df = mem.toDF()
      .toDF("keys", "eventName", "sequenceNumber", "newImage", "approxCreationTs")
    val q = graft.streaming.CdcStream
      .statefulChangelog(df, retentionMs = Some(60 * 1000L), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("evict_cl_out")
      .outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      ("k1", "INSERT", "005", Some("v5"), ts("2024-01-01 00:00:00")),
      ("k2", "INSERT", "001", Some("w1"), ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    mem.addData(("k2", "MODIFY", "002", Some("w2"), ts("2024-01-01 01:00:00")))
    q.processAllAvailable()
    mem.addData(("k2", "MODIFY", "003", Some("w3"), ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    assert(q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).contains(1L),
      "no completed batch reported a 1-row state store (k1 never evicted)")
    // stale seq for the evicted key: state rebuilt from empty -> it IS a
    // change, so it emits (with a live store, 001 vs 005 would be silent)
    mem.addData(("k1", "INSERT", "001", Some("old"), ts("2024-01-01 02:00:30")))
    q.processAllAvailable()
    val k1Rows = spark.table("evict_cl_out").filter(col("keys") === "k1")
      .select("seq").collect().map(_.getString(0)).toSeq.sorted
    q.stop()
    // exactly the initial insert and the post-eviction rebuild — no
    // timeout flush row in between
    assert(k1Rows == Seq("001", "005"), s"changelog rows for k1: $k1Rows")
  }

  test("RestoreSession: polls until ACTIVE then starts the drain exactly once") {
    val states = Iterator("CREATING", "CREATING", "ACTIVE")
    var sleeps = 0
    var drains = 0
    val session = new RestoreSession(
      pollStatus = () => RestoreStatus.ofTableState(states.next()),
      pollIntervalMs = 30000, maxPolls = 10, sleep = _ => sleeps += 1)
    val out = session.activate { () => drains += 1; "query" }
    assert(out.contains("query") && drains == 1)
    assert(sleeps == 3) // Wait precedes each poll, as in the state machine

    val failing = new RestoreSession(
      pollStatus = () => RestoreStatus.Failed,
      maxPolls = 2, sleep = _ => ())
    assert(failing.activate(() => fail("must not start")).isEmpty)
  }

  test("validateRestorePoint enforces the 35-day window and 5-minute lag") {
    import java.time.Instant
    val now = Instant.parse("2024-02-10T12:00:00Z")
    assert(RestoreSession.validateRestorePoint(
      Instant.parse("2024-02-01T00:00:00Z"), now).isEmpty)
    assert(RestoreSession.validateRestorePoint(
      Instant.parse("2023-12-01T00:00:00Z"), now).exists(_.contains("35-day")))
    assert(RestoreSession.validateRestorePoint(
      Instant.parse("2024-02-10T11:58:00Z"), now).exists(_.contains("latest restorable")))
    // boundary: exactly now-5min is restorable
    assert(RestoreSession.validateRestorePoint(
      Instant.parse("2024-02-10T11:55:00Z"), now).isEmpty)

    // the gate is load-bearing on the snapshot path: snapshotAt throws
    // for an out-of-window point instead of materializing a wrong-era
    // snapshot; a valid point materializes
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val args = (Seq("user_id"), col("ts"),
      Seq(col("ts"), col("event_id")), col("event_type") === "error",
      Seq("event_id", "event_type", "value"))
    val e = intercept[IllegalArgumentException] {
      RestoreSession.snapshotAt(events, args._1, args._2,
        Instant.parse("2023-12-01T00:00:00Z"), now, args._3, args._4, args._5)
    }
    assert(e.getMessage.contains("35-day"))
    val snap = RestoreSession.snapshotAt(events, args._1, args._2,
      Instant.parse("2024-02-01T00:00:00Z"), now, args._3, args._4, args._5)
    assert(snap.columns.contains("user_id"))
  }

  test("snapshotAsOf matches the flagship restore_replay's snapshot semantics") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val snap = RestoreSession.snapshotAsOf(
      events, keys = Seq("user_id"), tsCol = col("ts"),
      asOf = lit("2024-01-15 00:00:00").cast("timestamp"),
      order = Seq(col("ts"), col("event_id")),
      isRemove = col("event_type") === "error",
      payload = Seq("event_id", "event_type", "value"))
    // structurally: one row per user, no tombstones
    assert(snap.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    assert(snap.filter(col("event_type") === "error").count() == 0)
    assert(snap.count() > 0)
  }
}
