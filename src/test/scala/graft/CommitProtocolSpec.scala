package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.streaming.{CommitProtocol, ConditionalPut, SnapshotStore}

/** The object-store commit protocol, proven against a filesystem whose
  * rename and exclusive-create are deliberately NON-atomic
  * ([[NonAtomicFileSystem]], scheme `nonatomic://`). What S3 takes away
  * (atomic rename, exclusive create through the FS API) the protocol
  * must not use; what S3 provides (an atomic conditional PUT) is the
  * only atomic step — and since r7 it enters through the PRODUCTION
  * seam: [[ConditionalPut.ServiceConditionalPut]] over the S3-API-shaped
  * [[ConditionalPut.ObjectStoreClient]] (`PutObject` + `If-None-Match`),
  * served by [[S3ApiEmulator]]. Every test in this suite — publish,
  * CAS conflicts (lost-update, silent-revert), racing primitives, lock
  * steal, protocol migration — exercises that service-API path, so a
  * real deployment only swaps the emulator for an SDK-backed client.
  */
class CommitProtocolSpec extends SparkSpec {

  private val s3 = new S3ApiEmulator

  private lazy val ready: Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setClass("fs.nonatomic.impl", classOf[NonAtomicFileSystem], classOf[FileSystem])
    // the primitive is registered OUTSIDE the FileSystem API, as on S3 —
    // through the service-client seam a production deployment implements
    SnapshotStore.registerConditionalPut("nonatomic",
      new ConditionalPut.ServiceConditionalPut(s3))
    spark.conf.set("spark.graft.store.commitLogSchemes", "nonatomic")
  }

  private def tmp(prefix: String): String = {
    ready
    "nonatomic://" + Files.createTempDirectory(prefix).toFile.getAbsolutePath
  }

  private def fs: FileSystem =
    new Path("nonatomic:///").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delta(rows: (String, String, String, Option[String])*) = {
    import spark.implicits._
    rows.toDF("keys", "op", "sequenceNumber", "newImage")
  }

  private def state(target: String): Map[String, String] =
    SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("conditional put admits exactly one of many racing writers") {
    ready
    val dir = Files.createTempDirectory("cput").toFile.getAbsolutePath
    val p = new Path(s"nonatomic://$dir/c00000000000000000001")
    val primitive = new ConditionalPut.ServiceConditionalPut(s3)
    val pool = Executors.newFixedThreadPool(16)
    val start = new CountDownLatch(1)
    val wins = (0 until 16).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); primitive.putIfAbsent(fs, p, s"writer-$i") }
      })
    }
    start.countDown()
    val results = wins.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.count(identity) === 1)
    val winner = results.indexOf(true)
    val content = new String(Files.readAllBytes(java.nio.file.Paths.get(
      dir, "c00000000000000000001")), "UTF-8")
    assert(content === s"writer-$winner")
  }

  test("end-to-end on non-atomic store: merges + compaction, no rename on the commit path") {
    val target = tmp("cl-target")
    NonAtomicFileSystem.reset()
    s3.reset()
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k1", "PUT", "001", Some("v1")), ("k2", "PUT", "002", Some("w1"))), 0L)
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k1", "PUT", "003", Some("v2")), ("k3", "PUT", "004", Some("x1"))), 1L)
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k2", "DELETE", "005", None)), 2L)
    assert(state(target) === Map("k1" -> "v2", "k3" -> "x1"))
    SnapshotStore.compactTarget(spark, target)
    assert(state(target) === Map("k1" -> "v2", "k3" -> "x1"))
    // a stale PUT older than k2's tombstone still loses after compaction
    // of the LIVE chain (markers retained in fold segments)
    SnapshotStore.mergeIntoTarget(spark, target,
      delta(("k4", "PUT", "006", Some("y1"))), 3L)
    assert(state(target) === Map("k1" -> "v2", "k3" -> "x1", "k4" -> "y1"))

    // the commit is the log, not the pointer: no _CURRENT, bounded log
    val root = new Path(target)
    assert(!fs.exists(new Path(root, SnapshotStore.CurrentPointer)),
      "commit-log table must not carry a _CURRENT pointer file")
    val commits = fs.listStatus(new Path(root, CommitProtocol.CommitDir))
      .map(_.getPath.getName).filter(_.matches(raw"c\d{20}"))
    assert(commits.length <= 2, s"commit log not GC'd: ${commits.mkString(",")}")

    // nothing on the commit path used rename or FS exclusive-create:
    // renames may exist from parquet task commits (data dirs — harmless,
    // single-writer, invisible until the manifest commits), but never
    // touching the pointer, the commit log, or a pointer tmp
    val commitRenames = NonAtomicFileSystem.renames.toArray(Array.empty[String]).filter(r =>
      r.contains(SnapshotStore.CurrentPointer) || r.contains(CommitProtocol.CommitDir) ||
        r.contains(".pointer-tmp-"))
    assert(commitRenames.isEmpty, s"commit path relied on rename: ${commitRenames.toSeq}")
    val exclusives = NonAtomicFileSystem.exclusiveCreates.toArray(Array.empty[String])
      .filter(c => c.contains(CommitProtocol.CommitDir) ||
        c.contains(SnapshotStore.LockFile))
    assert(exclusives.isEmpty,
      s"commit path used non-atomic FS exclusive-create: ${exclusives.toSeq}")

    // the commits went through the SERVICE API, with the expected request
    // pattern: 4 merges + 1 compaction = exactly 5 successful conditional
    // PUTs on commit-log keys, zero 412s (no contention in this test)
    val commitPuts = s3.requests.toArray(Array.empty[(String, Boolean)])
      .filter(_._1.contains(CommitProtocol.CommitDir))
    assert(commitPuts.count(_._2) === 5,
      s"expected 5 service-API commit creates, saw: ${commitPuts.toSeq}")
    assert(commitPuts.forall(_._2),
      s"uncontended run must see no 412s on commit keys: ${commitPuts.toSeq}")
  }

  test("stale-lock steal on the object store goes through the service-API put") {
    val target = tmp("cl-steal")
    SnapshotStore.mergeIntoTarget(spark, target, delta(("k1", "PUT", "001", Some("v1"))), 0L)
    // a dead JVM's lock: created through the service conditional put,
    // never heartbeated, mtime aged past the staleness window
    val lockPath = new Path(target, SnapshotStore.LockFile)
    assert(new ConditionalPut.ServiceConditionalPut(s3)
      .putIfAbsent(fs, lockPath, "dead-jvm-token"))
    val lockLocal = new java.io.File(
      fs.makeQualified(lockPath).toUri.getPath)
    assert(lockLocal.setLastModified(
      System.currentTimeMillis() - SnapshotStore.StaleLockMs - 60000))
    s3.reset()
    // the next writer must break the stale lock (token-checked DELETE)
    // and acquire its own via a fresh service-API conditional put
    SnapshotStore.mergeIntoTarget(spark, target, delta(("k2", "PUT", "002", Some("w1"))), 1L)
    assert(state(target) === Map("k1" -> "v1", "k2" -> "w1"))
    val lockPuts = s3.requests.toArray(Array.empty[(String, Boolean)])
      .filter(_._1.endsWith(SnapshotStore.LockFile))
    assert(lockPuts.exists(_._2),
      s"steal must re-acquire through the service put: ${lockPuts.toSeq}")
    // the dead lock is gone afterwards (released by the stealing writer)
    assert(!fs.exists(lockPath))
  }

  test("silent-revert interleaving: a writer with a stale basis cannot commit") {
    val target = tmp("cl-revert")
    SnapshotStore.mergeIntoTarget(spark, target, delta(("k1", "PUT", "001", Some("v1"))), 0L)
    val staleBasis = SnapshotStore.pointerValue(spark, target)
    assert(staleBasis.nonEmpty)
    // a sink batch commits while the "compactor" holds staleBasis
    SnapshotStore.mergeIntoTarget(spark, target, delta(("k2", "PUT", "002", Some("w1"))), 1L)
    val live = SnapshotStore.pointerValue(spark, target)
    assert(live !== staleBasis)
    // the stale-basis publish must abort, not revert the sink's commit
    intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.casSwapPointer(spark, target, "manifest-999-dead", staleBasis)
    }
    assert(SnapshotStore.pointerValue(spark, target) === live)
    assert(state(target) === Map("k1" -> "v1", "k2" -> "w1"))
  }

  test("lost-update interleaving: two same-basis writers, exactly one commit wins") {
    val target = tmp("cl-race")
    SnapshotStore.mergeIntoTarget(spark, target, delta(("k1", "PUT", "001", Some("v1"))), 0L)
    val basis = SnapshotStore.pointerValue(spark, target)
    // both writers computed from the same basis; they race the commit
    // directly (no writer lock held — the log itself must be the guard)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def attempt(name: String) = pool.submit(new java.util.concurrent.Callable[Option[String]] {
      def call(): Option[String] = {
        start.await()
        try { SnapshotStore.casSwapPointer(spark, target, name, basis); Some(name) }
        catch { case _: java.util.ConcurrentModificationException => None }
      }
    })
    val a = attempt("manifest-000000000077-aaaa")
    val b = attempt("manifest-000000000077-bbbb")
    start.countDown()
    val outcomes = Seq(a, b).map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    val winners = outcomes.flatten
    assert(winners.length === 1, s"expected exactly one winner, got $outcomes")
    assert(SnapshotStore.pointerValue(spark, target) === Some(winners.head))
  }

  test("END-TO-END PITR drill: apply -> crash at the commit PUT -> replay -> clone-as-of, all through the service API") {
    ready
    // crash seam: the SAME service client, but the next commit-key PUT
    // dies BEFORE reaching the store (process killed at the commit
    // point: data dir + manifest written, pointer never advanced)
    val crashy = new ConditionalPut.ObjectStoreClient {
      @volatile var armed = false
      def putIfNoneMatch(bucket: String, key: String, content: Array[Byte]): Boolean = {
        if (armed && key.contains(CommitProtocol.CommitDir)) {
          armed = false
          throw new RuntimeException("injected crash: writer died before the commit PUT")
        }
        s3.putIfNoneMatch(bucket, key, content)
      }
    }
    SnapshotStore.registerConditionalPut("nonatomic",
      new ConditionalPut.ServiceConditionalPut(crashy))
    val src = tmp("pitr-src"); val dst = tmp("pitr-clone")
    NonAtomicFileSystem.reset(); s3.reset()

    // the apply flow: six CDC batches, version retention wide enough
    // for store-level PITR
    def batchRows(b: Int): Seq[(String, String, String, Option[String])] = Seq(
      (s"k${b % 4}", "PUT", f"$b%03d1", Some(s"v$b")),
      (s"k${(b + 1) % 4}", if (b == 4) "DELETE" else "PUT", f"$b%03d2",
        if (b == 4) None else Some(s"w$b")))
    def applyBatch(target: String, b: Int): Unit =
      SnapshotStore.mergeIntoTarget(spark, target, delta(batchRows(b): _*),
        b.toLong, retainVersions = 10)
    (0 to 2).foreach(applyBatch(src, _))
    val preCrashVersion = SnapshotStore.pointerValue(spark, src).get
    val preCrashState = state(src)

    // CRASH: batch 3's publish dies at the commit point
    crashy.armed = true
    val thrown = intercept[RuntimeException](applyBatch(src, 3))
    assert(thrown.getMessage.contains("injected crash"))
    // the previous snapshot is STILL live — a torn publish is invisible
    assert(SnapshotStore.pointerValue(spark, src) === Some(preCrashVersion))
    assert(state(src) === preCrashState)

    // the crashed attempt wrote data + manifest but never committed:
    // that ORPHAN manifest must not surface as a restorable version —
    // versions() resolves from the committed journal, and both the
    // as-of read and clone refuse the never-live state loudly
    val onDisk = fs.listStatus(new Path(src))
      .map(_.getPath.getName).filter(_.startsWith("manifest-")).toSet
    val committed = SnapshotStore.versions(spark, src).toSet
    val orphans = onDisk -- committed
    assert(orphans.nonEmpty, "crash should have left an orphan manifest")
    orphans.foreach { o =>
      val e1 = intercept[IllegalStateException](
        SnapshotStore.readTargetAsOf(spark, src, o).collect())
      assert(e1.getMessage.contains("COMMITTED"), e1.getMessage)
      val e2 = intercept[IllegalStateException](
        SnapshotStore.cloneTarget(spark, src, tmp("pitr-orphan"), asOf = Some(o)))
      assert(e2.getMessage.contains("COMMITTED"), e2.getMessage)
    }

    // REPLAY (checkpoint re-delivers batch 3 verbatim), then continue
    (3 to 5).foreach(applyBatch(src, _))
    // final state equals an independent replay of all six batches
    val fresh = Files.createTempDirectory("pitr-fresh").toFile.getAbsolutePath
    (0 to 5).foreach(applyBatch(fresh, _))
    assert(state(src) === state(fresh), "replay after commit-point crash diverged")

    // PITR: clone the retained PRE-CRASH version as a new table —
    // restore-to-point-in-time composed from retention + clone
    SnapshotStore.cloneTarget(spark, src, dst, asOf = Some(preCrashVersion))
    assert(state(dst) === preCrashState, "clone-as-of != the pre-crash state")
    val fresh3 = Files.createTempDirectory("pitr-fresh3").toFile.getAbsolutePath
    (0 to 2).foreach(applyBatch(fresh3, _))
    assert(state(dst) === state(fresh3),
      "clone-as-of != an independent replay of exactly the pre-crash batches")
    // the clone is independent: divergent writes on either side stay put
    applyBatch(dst, 7)
    assert(state(src) === state(fresh))
    assert(state(dst) !== state(src))

    // commit-path audit across the WHOLE drill: every pointer advance —
    // source merges, replay, clone publish, post-clone merge — was a
    // service-API conditional PUT; no renames, no FS exclusive-creates
    val commitPuts = s3.requests.toArray(Array.empty[(String, Boolean)])
      .filter(_._1.contains(CommitProtocol.CommitDir))
    assert(commitPuts.count(_._2) >= 8, s"expected >=8 commit creates: ${commitPuts.length}")
    assert(commitPuts.exists(p => p._1.contains(dst.stripPrefix("nonatomic://")) && p._2),
      "clone publish did not commit through the service API")
    val badRenames = NonAtomicFileSystem.renames.toArray(Array.empty[String]).filter(r =>
      r.contains(SnapshotStore.CurrentPointer) || r.contains(CommitProtocol.CommitDir) ||
        r.contains(".pointer-tmp-"))
    assert(badRenames.isEmpty, s"commit path relied on rename: ${badRenames.toSeq}")
  }

  test("rename-protocol table migrates: commit log adopts the pointer basis") {
    ready
    // a table born on file:// under the rename protocol...
    val local = Files.createTempDirectory("migrate").toFile.getAbsolutePath
    SnapshotStore.mergeIntoTarget(spark, local, delta(("k1", "PUT", "001", Some("v1"))), 0L)
    assert(fs.exists(new Path(local, SnapshotStore.CurrentPointer)))
    // ...switched to the commit-log protocol (conf flip, same dir)
    spark.conf.set("spark.graft.store.protocol", "commitlog")
    try {
      SnapshotStore.mergeIntoTarget(spark, local, delta(("k2", "PUT", "002", Some("w1"))), 1L)
      assert(state(local) === Map("k1" -> "v1", "k2" -> "w1"))
      // the log is authoritative now; the stale pointer file is gone and
      // further commits keep working
      SnapshotStore.mergeIntoTarget(spark, local, delta(("k1", "DELETE", "003", None)), 2L)
      assert(state(local) === Map("k2" -> "w1"))
    } finally spark.conf.unset("spark.graft.store.protocol")
    // flipping BACK to rename on a commit-log table must refuse loudly
    // rather than publish a shadowed pointer
    intercept[IllegalStateException] {
      SnapshotStore.mergeIntoTarget(spark, local, delta(("k9", "PUT", "009", Some("z"))), 3L)
    }
  }

  test("group commit record: a torn JoinIvm trio is INVISIBLE to group readers, not merely healed") {
    ready
    import graft.ops.JoinIvm
    import graft.streaming.GroupCommit
    // crash seam: the Nth commit PUT from now dies — arming countdown=1
    // lets the batch's FIRST pointer swap (the index) commit and kills
    // the SECOND (the fact table): the trio is genuinely torn
    val crashy = new ConditionalPut.ObjectStoreClient {
      @volatile var countdown = -1
      def putIfNoneMatch(bucket: String, key: String, content: Array[Byte]): Boolean = {
        if (countdown >= 0 && key.contains(CommitProtocol.CommitDir)) {
          if (countdown == 0) {
            countdown = -1
            throw new RuntimeException("injected crash: died between the group's merges")
          }
          countdown -= 1
        }
        s3.putIfNoneMatch(bucket, key, content)
      }
    }
    SnapshotStore.registerConditionalPut("nonatomic",
      new ConditionalPut.ServiceConditionalPut(crashy))
    val a = tmp("grp-a"); val b = tmp("grp-b"); val v = tmp("grp-v")
    val i = tmp("grp-i"); val g = tmp("grp-g")
    import spark.implicits._
    SnapshotStore.mergeIntoTarget(spark, b, delta(
      ("f1", "PUT", "001", Some("B1")), ("f2", "PUT", "002", Some("B2"))),
      0L, retainVersions = 3)
    def facts(rows: (String, String, String, String, String)*) =
      rows.toDF("keys", "op", "sequenceNumber", "fk", "a_image")
    def applyBatch(bid: Long, rows: (String, String, String, String, String)*): Unit =
      JoinIvm.applyFactDeltaIndexed(spark, facts(rows: _*), a, b, v, i, bid,
        seqBase = f"sb$bid%012d", retainVersions = 3)
    def viewVia(face: String => org.apache.spark.sql.DataFrame): Map[String, String] =
      face(v).select("keys", "newImage").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap

    // batch 1, complete: merges + group record
    applyBatch(1L, ("x1", "PUT", "101", "f1", "ax1"), ("x2", "PUT", "102", "f2", "ax2"))
    GroupCommit.publish(spark, g, 1L, Seq(i, a, v, b))
    val group1View = viewVia(GroupCommit.read(spark, g, _))
    assert(group1View.keySet === Set("x1", "x2"))
    val g1 = GroupCommit.currentVersions(spark, g).get

    // batch 2 TORN: index pointer advances, fact pointer swap crashes,
    // the view never merges — and NO group record is published (the
    // sink publishes strictly after the last merge)
    crashy.countdown = 1
    val thrown = intercept[RuntimeException](applyBatch(2L,
      ("x1", "PUT", "201", "f2", "ax1b"), ("x3", "PUT", "203", "f1", "ax3")))
    assert(thrown.getMessage.contains("injected crash"))
    // the tear is physically REAL on the raw pointers...
    assert(SnapshotStore.pointerValue(spark, i).get !== g1(i),
      "index did not advance — the tear never happened")
    assert(SnapshotStore.pointerValue(spark, a).get === g1(a),
      "fact table advanced — crash seam missed")
    // ...but INVISIBLE through the group face: every participant reads
    // the batch-1 state, INCLUDING the index that already advanced
    assert(viewVia(GroupCommit.read(spark, g, _)) === group1View)
    val idxGroupRead = GroupCommit.read(spark, g, i)
      .select("keys", "newImage").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(idxGroupRead === Map("f1" -> """["x1"]""", "f2" -> """["x2"]"""),
      s"group reader observed the torn index: $idxGroupRead")
    // group record itself is unchanged
    assert(GroupCommit.currentVersions(spark, g).get === g1)

    // REPLAY batch 2 (idempotent merges repair all three), THEN the
    // group record advances — readers flip atomically to batch 2
    applyBatch(2L, ("x1", "PUT", "201", "f2", "ax1b"), ("x3", "PUT", "203", "f1", "ax3"))
    GroupCommit.publish(spark, g, 2L, Seq(i, a, v, b))
    val group2View = viewVia(GroupCommit.read(spark, g, _))
    assert(group2View.keySet === Set("x1", "x2", "x3"))
    assert(group2View("x1").contains("ax1b") && group2View("x1").contains("B2"),
      s"x1 not re-enriched after replay: ${group2View("x1")}")
    // and the group-read view equals the full recompute — consistency,
    // not just visibility
    val recomputed = JoinIvm.fullRecompute(spark, a, b)
      .select("keys", "newImage").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(group2View === recomputed)
    // a non-participant read fails loudly, as does a pre-record group
    intercept[IllegalStateException](GroupCommit.read(spark, g, tmp("grp-zz")))
    intercept[IllegalStateException](GroupCommit.read(spark, tmp("grp-empty"), v))
  }

  test("write-amplification report: ratio rises with LWW overwrites, collapses after fold") {
    val dir = tmp("amp")
    // 5 keys, then 8 overwrite waves of the SAME keys: raw rows pile up
    // in the chains while the resolved state stays 5 rows
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 1,
      delta = delta((1 to 5).map(i =>
        (s"k$i", "PUT", f"$i%03d", Some(s"""{"v":$i}"""))): _*))
    val a0 = SnapshotStore.amplificationReport(spark, dir).get
    assert(a0.rawRows === 5L && a0.resolvedRows === 5L &&
      a0.amplificationPpm === 1000000L)
    var lastPpm = a0.amplificationPpm
    for (w <- 2 to 6) {
      SnapshotStore.mergeIntoTarget(spark, dir, batchId = w,
        delta = delta((1 to 5).map(i =>
          (s"k$i", "PUT", f"${w * 100 + i}%03d", Some(s"""{"v":$w$i}"""))): _*))
      val a = SnapshotStore.amplificationReport(spark, dir).get
      assert(a.resolvedRows === 5L, "overwrites must not change live rows")
      assert(a.amplificationPpm > lastPpm,
        s"wave $w must raise amplification: ${a.amplificationPpm} <= $lastPpm")
      lastPpm = a.amplificationPpm
    }
    assert(lastPpm >= 6000000L, s"6 waves of full overwrite ⇒ ≥6×: $lastPpm")
    // waves 7..9 cross FoldThreshold per touched bucket → chains fold;
    // the report must collapse back toward 1×
    for (w <- 7 to 9)
      SnapshotStore.mergeIntoTarget(spark, dir, batchId = w,
        delta = delta((1 to 5).map(i =>
          (s"k$i", "PUT", f"${w * 100 + i}%03d", Some(s"""{"v":$w$i}"""))): _*))
    val af = SnapshotStore.amplificationReport(spark, dir).get
    assert(af.resolvedRows === 5L)
    assert(af.amplificationPpm < lastPpm,
      s"fold must reduce amplification: ${af.amplificationPpm} >= $lastPpm")
  }
}
