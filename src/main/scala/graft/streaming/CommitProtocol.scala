package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The atomic primitive the commit-log protocol is built on: create
  * `path` with `content` iff nothing exists there, atomically.
  *
  * On a POSIX filesystem this is O_EXCL create; on HDFS it is
  * `create(overwrite=false)`. On an object store it is NOT expressible
  * through the generic `FileSystem` API at all — it is a service-API
  * feature (e.g. S3 conditional writes, `If-None-Match: *`), which is
  * exactly why the primitive is pluggable per scheme: a deployment
  * registers an implementation backed by its store's conditional PUT via
  * [[SnapshotStore.registerConditionalPut]].
  */
trait ConditionalPut {
  /** Atomically create `path` carrying `content` iff absent.
    * @return false if something already exists at `path` (the caller lost
    *         the race); true if this call created it.
    */
  def putIfAbsent(fs: FileSystem, path: Path, content: String): Boolean
}

object ConditionalPut {
  /** Atomic create-with-content through `java.nio` on the underlying
    * local path: the content is written to a hidden temp file and
    * HARD-LINKED into place — `link(2)` both fails on existence and
    * publishes the full content in one atomic step, so a concurrent
    * reader can never observe a created-but-empty commit file (a real
    * conditional PUT is all-or-nothing the same way). Atomic on POSIX
    * even though Hadoop's RawLocalFileSystem `create` is a non-atomic
    * exists-then-open. Registered for `file` by default.
    */
  final class LocalExclusiveCreate extends ConditionalPut {
    def putIfAbsent(fs: FileSystem, path: Path, content: String): Boolean = {
      val p = java.nio.file.Paths.get(fs.makeQualified(path).toUri.getPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val tmp = java.nio.file.Files.createTempFile(
        p.getParent, s".${p.getFileName}", ".cput")
      try {
        java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
        try { java.nio.file.Files.createLink(p, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally { java.nio.file.Files.deleteIfExists(tmp); () }
    }
  }

  /** HDFS-style native atomic `create(overwrite=false)`. */
  final class ExclusiveCreate extends ConditionalPut {
    def putIfAbsent(fs: FileSystem, path: Path, content: String): Boolean =
      try {
        val out = fs.create(path, false)
        try { out.write(content.getBytes(StandardCharsets.UTF_8)); out.close(); true }
        catch { case e: Throwable =>
          try out.close() catch { case _: Throwable => () }
          try fs.delete(path, false) catch { case _: Throwable => () }
          throw e
        }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
  }

  /** Minimal object-store service-API surface the commit protocol needs —
    * the shape of S3 `PutObject` with `If-None-Match: "*"` (the service
    * answers 412 Precondition Failed when the key exists; the create is
    * atomic and all-or-nothing at the service). A deployment implements
    * this against its store's SDK in a few lines; no SDK binding ships
    * in-tree (none is buildable in-sandbox), but the protocol↔API
    * contract is fully proven by CommitProtocolSpec, which drives the
    * complete publish/CAS/steal matrix through this interface against an
    * emulator with exactly the service semantics.
    */
  trait ObjectStoreClient {
    /** PUT `content` at (bucket, key) iff the key does not exist.
      * @return true if this request created the object; false on
      *         precondition failure (HTTP 412 — the key existed).
      */
    def putIfNoneMatch(bucket: String, key: String, content: Array[Byte]): Boolean
  }

  /** [[ConditionalPut]] backed by a service-API conditional write — the
    * object-store production shape. The Hadoop path maps to (bucket, key)
    * the way object-store FileSystems map them: URI authority = bucket,
    * URI path (leading slash stripped) = key. The FileSystem handle is
    * used only to qualify the path — the write goes through the service
    * client, and readers see it through the FileSystem because both views
    * are the same store (as s3a + the SDK share one bucket).
    */
  final class ServiceConditionalPut(client: ObjectStoreClient) extends ConditionalPut {
    def putIfAbsent(fs: FileSystem, path: Path, content: String): Boolean = {
      val uri = fs.makeQualified(path).toUri
      client.putIfNoneMatch(
        Option(uri.getAuthority).getOrElse(""),
        uri.getPath.stripPrefix("/"),
        content.getBytes(StandardCharsets.UTF_8))
    }
  }

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, ConditionalPut]()
  registry.put("file", new LocalExclusiveCreate)
  registry.put("hdfs", new ExclusiveCreate)

  def register(scheme: String, impl: ConditionalPut): Unit = { registry.put(scheme, impl); () }

  /** Fail loudly rather than fall back to a non-atomic emulation: a
    * commit protocol that silently loses updates is worse than one that
    * refuses to start.
    */
  def forScheme(scheme: String): ConditionalPut =
    Option(registry.get(scheme)).getOrElse(throw new IllegalStateException(
      s"no atomic put-if-absent primitive registered for scheme '$scheme': the " +
        "commit-log protocol requires one (e.g. S3 conditional writes). Register an " +
        "implementation via SnapshotStore.registerConditionalPut(scheme, impl)."))
}

/** Pluggable publication seam for [[SnapshotStore]] — how the live
  * manifest name is resolved, atomically advanced, and how the advisory
  * writer lock is created/refreshed/broken. Everything else in the store
  * (bucket layout, chains, fold, GC of data) is protocol-independent.
  *
  * Two shipped protocols:
  *  - [[CommitProtocol.RenamePointer]] — a `_CURRENT` pointer file swapped
  *    by atomic rename. Correct where rename IS atomic: POSIX `file://`
  *    and `hdfs://`.
  *  - [[CommitProtocol.CommitLog]] — a monotonically numbered commit log
  *    (`_commits/c<seq>`) advanced ONLY by atomic put-if-absent of the
  *    next number; never renames, never overwrites. Correct on stores
  *    with no atomic rename (S3-class object stores), given a
  *    [[ConditionalPut]] for the scheme. This is the public lakehouse
  *    commit design (optimistic, conflict = lost put-if-absent race).
  *
  * Resolution order is shared and self-describing: a non-empty commit log
  * is ALWAYS authoritative over a `_CURRENT` pointer, so a table migrated
  * from the rename protocol to the commit log stays readable mid-flip and
  * the stale pointer file can never shadow newer commits.
  */
private[graft] sealed trait CommitProtocol {
  import CommitProtocol._

  /** Live manifest name, if the table has ever committed. */
  final def currentName(fs: FileSystem, targetDir: Path): Option[String] =
    commitLogCurrent(fs, targetDir).map(_._2)
      .orElse(pointerFileValue(fs, targetDir))

  /** Atomically make `newManifest` live iff the live manifest is still
    * `basis`; throw `ConcurrentModificationException` on any conflict.
    * This is THE lost-update / silent-revert guard: a writer whose basis
    * is stale must abort here, never clobber.
    */
  def commit(fs: FileSystem, targetDir: Path, newManifest: String,
             basis: Option[String]): Unit

  /** Create the advisory writer lock iff absent; throw `IOException` if
    * held. Under the commit log the lock is a WORK-SAVING device only —
    * correctness never depends on it (the conditional put is the guard).
    */
  def createLock(fs: FileSystem, lock: Path, token: String): Unit

  /** Refresh the lock's liveness signal (mtime) for a live holder. */
  def refreshLock(fs: FileSystem, lock: Path, token: String): Unit

  /** Break a lock OBSERVED stale without blind-deleting a fresh one. */
  def breakLock(fs: FileSystem, targetDir: Path, lock: Path, observedToken: String): Unit

  /** Drop protocol-private commit metadata no longer needed once only
    * `retainManifests` are live (called under the writer lock after GC).
    */
  def gcMeta(fs: FileSystem, targetDir: Path, retainManifests: Set[String]): Unit

  /** Replace the target's named metadata file `name` (`_CURRENT`,
    * `_VERSIONS`, `_STATS`, `_COLUMNS`, `_CONSTRAINTS`) with `content`,
    * all-or-nothing for readers: a reader sees the complete old file or
    * the complete new one, never a missing or partial file. Callers own
    * only their line format; read back with [[CommitProtocol.read]].
    */
  def replace(fs: FileSystem, targetDir: Path, name: String, content: String): Unit
}

private[graft] object CommitProtocol {

  /** Commit-log directory (commit-log protocol only). */
  val CommitDir = "_commits"

  private val CommitName = raw"c(\d{20})".r

  private[streaming] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[streaming] def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A target's named metadata file read to EOF; None when absent.
    * Read past a checksummed filesystem's checksum layer: `replace`
    * renames a tmp over the file, and a `ChecksumFileSystem` (the local
    * `file://` one) renames the data file and its `.crc` sidecar
    * separately, so a reader between the two renames would check the new
    * bytes against the old checksum and fail. The data-file rename alone
    * is the atomic step, so the bytes it exposes are whole.
    */
  def read(fs: FileSystem, targetDir: Path, name: String): Option[String] = {
    val bytes = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    try Some(readFully(bytes, new Path(targetDir, name)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Prefix of [[RenamePointer.replace]]'s tmp files; the store's GC
    * sweep removes crash-orphaned ones.
    */
  val ReplaceTmpPrefix = ".pointer-tmp-"

  private def pointerFileValue(fs: FileSystem, targetDir: Path): Option[String] =
    read(fs, targetDir, SnapshotStore.CurrentPointer).map(_.trim)

  /** Highest (seq, manifestName) in the commit log, if any. A commit file
    * GC'd between list and read (only ever a non-max one, and only under
    * the writer lock) retries the resolution once.
    */
  private def commitLogCurrent(fs: FileSystem, targetDir: Path): Option[(Long, String)] = {
    val cdir = new Path(targetDir, CommitDir)
    def attempt(): Option[(Long, String)] = {
      val seqs =
        try fs.listStatus(cdir).toSeq.map(_.getPath.getName).collect {
          case CommitName(d) => d.toLong
        }
        catch { case _: java.io.FileNotFoundException => Nil }
      if (seqs.isEmpty) None
      else {
        val max = seqs.max
        Some(max -> readFully(fs, new Path(cdir, f"c$max%020d")).trim)
      }
    }
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** `_CURRENT` + atomic-rename swap (POSIX file://, hdfs://). */
  final class RenamePointer(hconf: org.apache.hadoop.conf.Configuration)
      extends CommitProtocol {

    def commit(fs: FileSystem, targetDir: Path, newManifest: String,
               basis: Option[String]): Unit = {
      val cdir = new Path(targetDir, CommitDir)
      if (fs.exists(cdir) && fs.listStatus(cdir).nonEmpty)
        throw new IllegalStateException(
          s"target $targetDir has a non-empty commit log: it was published with the " +
            "commit-log protocol, and a rename-pointer commit would be shadowed by it. " +
            "Set spark.graft.store.protocol=commitlog for this target.")
      val now = pointerFileValue(fs, targetDir)
      if (now != basis)
        throw new java.util.ConcurrentModificationException(
          s"target pointer moved ${basis.getOrElse("<none>")} -> ${now.getOrElse("<none>")} " +
            "during this write; aborting publish (retry from the new basis)")
      replace(fs, targetDir, SnapshotStore.CurrentPointer, newManifest)
    }

    /** Hidden tmp file, then one OVERWRITE rename: there is no window in
      * which the file is absent, so a crash leaves the complete old file
      * or the complete new one (plus an orphaned tmp for GC).
      */
    def replace(fs: FileSystem, targetDir: Path, name: String, content: String): Unit = {
      val tmp = new Path(targetDir, s"$ReplaceTmpPrefix$name-${System.nanoTime().toHexString}")
      writeFile(fs, tmp, content)
      FileContext.getFileContext(fs.makeQualified(targetDir).toUri, hconf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(new Path(targetDir, name)),
          Options.Rename.OVERWRITE)
    }

    /** Create-if-absent that is atomic on the local filesystem too:
      * Hadoop's RawLocalFileSystem implements `create(overwrite=false)` as
      * a non-atomic exists-then-open, so for `file://` the O_EXCL
      * guarantee comes from `java.nio.file.Files.createFile`. Other
      * filesystems (HDFS) get it from `FileSystem.create` natively.
      */
    def createLock(fs: FileSystem, lock: Path, token: String): Unit = {
      val primitive =
        if (fs.makeQualified(lock).toUri.getScheme == "file")
          new ConditionalPut.LocalExclusiveCreate
        else new ConditionalPut.ExclusiveCreate
      if (!primitive.putIfAbsent(fs, lock, token))
        throw new java.io.IOException(s"lock $lock is held")
    }

    def refreshLock(fs: FileSystem, lock: Path, token: String): Unit =
      fs.setTimes(lock, System.currentTimeMillis(), -1)

    /** The lock is atomically RENAMED to a tomb (only one breaker's rename
      * succeeds), the tomb's token is checked against the token observed
      * when it was judged stale, and only a confirmed-stale tomb is
      * deleted. If the rename caught a DIFFERENT lock (a fresh writer
      * created one in the window), it is renamed straight back — and that
      * writer's heartbeat would also self-detect the displacement before
      * its commit.
      */
    def breakLock(fs: FileSystem, targetDir: Path, lock: Path, observedToken: String): Unit = {
      val tomb = new Path(targetDir, s".lock-broken-${System.nanoTime().toHexString}")
      val renamed = try fs.rename(lock, tomb) catch { case _: java.io.IOException => false }
      if (renamed) {
        val brokeToken = try readFully(fs, tomb).trim catch { case _: java.io.IOException => "" }
        if (brokeToken != observedToken && !fs.rename(tomb, lock)) {
          // couldn't restore (another lock appeared already): the displaced
          // holder aborts via its heartbeat; drop the tomb
          fs.delete(tomb, false); ()
        } else if (brokeToken == observedToken) { fs.delete(tomb, false); () }
      }
    }

    def gcMeta(fs: FileSystem, targetDir: Path, retainManifests: Set[String]): Unit = ()
  }

  /** Monotonic commit log advanced by atomic put-if-absent — the object
    * store protocol. Commit N+1 is a NEW object created conditionally;
    * nothing is ever renamed or overwritten on the commit path, so the
    * protocol needs neither atomic rename nor read-after-rename
    * visibility. Two writers computing from the same basis both attempt
    * `c<N+1>`; the conditional put admits exactly one, the other aborts
    * with `ConcurrentModificationException` and retries from the new
    * basis — the lost-update and silent-revert interleavings cannot
    * commit (CommitProtocolSpec drives both against a filesystem whose
    * rename and create are deliberately non-atomic).
    */
  final class CommitLog(primitive: ConditionalPut) extends CommitProtocol {

    def commit(fs: FileSystem, targetDir: Path, newManifest: String,
               basis: Option[String]): Unit = {
      val cur = commitLogCurrent(fs, targetDir)
      // adoption: a table created under the rename protocol has a pointer
      // file but no log; its pointer value is the basis of commit #1
      val curName = cur.map(_._2).orElse(pointerFileValue(fs, targetDir))
      if (curName != basis)
        throw new java.util.ConcurrentModificationException(
          s"live manifest moved ${basis.getOrElse("<none>")} -> ${curName.getOrElse("<none>")} " +
            "during this write; aborting publish (retry from the new basis)")
      val seq = cur.map(_._1).getOrElse(0L) + 1L
      fs.mkdirs(new Path(targetDir, CommitDir))
      val won = primitive.putIfAbsent(fs,
        new Path(new Path(targetDir, CommitDir), f"c$seq%020d"), newManifest)
      if (!won)
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer committed c$seq first; aborting publish " +
            "(retry from the new basis)")
      // the log is authoritative from here on; a stale rename-era pointer
      // file is dropped best-effort (resolution prefers the log anyway)
      if (cur.isEmpty) {
        try { fs.delete(new Path(targetDir, SnapshotStore.CurrentPointer), false); () }
        catch { case _: java.io.IOException => () }
      }
    }

    def createLock(fs: FileSystem, lock: Path, token: String): Unit =
      if (!primitive.putIfAbsent(fs, lock, token))
        throw new java.io.IOException(s"lock $lock is held")

    /** Rewrite-with-same-token instead of `setTimes`: object stores have
      * no mtime mutation, but an overwrite PUT refreshes LastModified.
      */
    def refreshLock(fs: FileSystem, lock: Path, token: String): Unit =
      writeFile(fs, lock, token)

    /** Token-checked delete. The read-check-delete window CAN break a
      * fresh lock that appeared in between — accepted, because under this
      * protocol the lock is advisory: the displaced holder's heartbeat
      * detects the loss, and even an un-detected double-writer cannot
      * lose an update (the conditional put at the commit point is the
      * guard, not the lock).
      */
    def breakLock(fs: FileSystem, targetDir: Path, lock: Path, observedToken: String): Unit = {
      val tok = try readFully(fs, lock).trim catch { case _: java.io.IOException => "" }
      if (tok == observedToken) {
        try { fs.delete(lock, false); () } catch { case _: java.io.IOException => () }
      }
    }

    /** Keep the newest two commits (current + the grace-window basis —
      * same retention as manifest GC); drop the rest. Only ever called
      * under the writer lock, and never deletes the max, so a racing
      * reader's second resolution attempt always lands.
      */
    def gcMeta(fs: FileSystem, targetDir: Path, retainManifests: Set[String]): Unit = {
      val cdir = new Path(targetDir, CommitDir)
      val entries =
        try fs.listStatus(cdir).toSeq.filter(s => s.getPath.getName.matches(raw"c\d{20}"))
        catch { case _: java.io.FileNotFoundException => Nil }
      entries.sortBy(_.getPath.getName).dropRight(2)
        .foreach(s => fs.delete(s.getPath, false))
    }

    /** One whole-file create: a single PUT on an object store, visible
      * all-or-nothing. There is no rename to use here.
      */
    def replace(fs: FileSystem, targetDir: Path, name: String, content: String): Unit =
      writeFile(fs, new Path(targetDir, name), content)
  }

  /** Schemes whose rename is copy-object (or absent) rather than an
    * atomic metadata operation — public knowledge from the Hadoop cloud
    * connector documentation.
    */
  private val ObjectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs", "abfs", "abfss")

  /** Protocol for a target: explicit conf wins
    * (`spark.graft.store.protocol` = `rename` | `commitlog`), else pick
    * by scheme — object stores get the commit log, everything else the
    * rename pointer. A deployment whose store scheme is not in the
    * builtin set adds it via `spark.graft.store.commitLogSchemes`
    * (comma-separated).
    */
  def forTarget(spark: SparkSession, fs: FileSystem, targetDir: Path): CommitProtocol = {
    val scheme = fs.makeQualified(targetDir).toUri.getScheme
    val hconf = spark.sparkContext.hadoopConfiguration
    spark.conf.getOption("spark.graft.store.protocol").getOrElse("auto") match {
      case "rename"    => new RenamePointer(hconf)
      case "commitlog" => new CommitLog(ConditionalPut.forScheme(scheme))
      case _ =>
        val extra = spark.conf.getOption("spark.graft.store.commitLogSchemes")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
        if (ObjectStoreSchemes.contains(scheme) || extra.contains(scheme))
          new CommitLog(ConditionalPut.forScheme(scheme))
        else new RenamePointer(hconf)
    }
  }
}
