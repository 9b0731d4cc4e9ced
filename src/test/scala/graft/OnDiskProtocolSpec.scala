package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CommitProtocol, ConditionalPut, SnapshotStore, StreamingMetrics}

/** The two on-disk protocols with one owner each: a target's named
  * metadata files ([[CommitProtocol]]'s `read`/`replace`) and a
  * streaming maintainer's per-batch state versions
  * ([[graft.streaming.VersionedState]]).
  */
class OnDiskProtocolSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private val protocols = Seq[(String, () => CommitProtocol)](
    "rename pointer" -> (() =>
      new CommitProtocol.RenamePointer(spark.sparkContext.hadoopConfiguration)),
    "commit log" -> (() =>
      new CommitProtocol.CommitLog(new ConditionalPut.LocalExclusiveCreate)))

  for ((label, mk) <- protocols)
    test(s"metadata file under the $label protocol: absent reads None, replace then read " +
      "returns the new content, no tmp file remains") {
      val proto = mk()
      val dir = new Path(tmp("meta"))
      assert(CommitProtocol.read(fs, dir, "_STATS").isEmpty)
      proto.replace(fs, dir, "_STATS", "version\tm1\nmode\texact")
      assert(CommitProtocol.read(fs, dir, "_STATS").contains("version\tm1\nmode\texact"))
      proto.replace(fs, dir, "_STATS", "version\tm2")
      assert(CommitProtocol.read(fs, dir, "_STATS").contains("version\tm2"))
      val left = new File(dir.toString).list().filter(_.contains("tmp"))
      assert(left.isEmpty, s"tmp files left behind: ${left.toSeq}")
    }

  test("crash-orphaned metadata tmps are removed by the store's GC sweep") {
    import spark.implicits._
    val target = tmp("orphans")
    def merge(k: String, seq: String, batchId: Long): Unit =
      SnapshotStore.mergeIntoTarget(spark, target,
        Seq((k, "PUT", seq, Some(s"img-$k"))).toDF("keys", "op", "sequenceNumber", "newImage"),
        batchId)
    merge("k1", "001", 0L)
    // one tmp per naming generation: replace's, and the older sidecar form
    val orphans = Seq(s"${CommitProtocol.ReplaceTmpPrefix}_STATS-dead", "_COLUMNS.tmp-deadbeef")
      .map(new File(target, _))
    orphans.foreach(f => Files.writeString(f.toPath, "junk"))
    merge("k2", "002", 1L)
    assert(orphans.forall(!_.exists), s"orphans survived GC: ${orphans.filter(_.exists)}")
    assert(SnapshotStore.readTarget(spark, target).count() == 2)
  }

  test("versioned state keeps two committed versions; replaying the newest batch " +
    "is applied once") {
    val in = tmp("vs-in"); val stateDir = tmp("vs-state"); val ckpt = tmp("vs-ckpt")
    val slices = (0 until 5).map(b => (0 until 10).map(i => (b * 3 + i % 4).toLong -> (i % 2).toLong))
    slices.zipWithIndex.foreach { case (rows, b) =>
      Files.writeString(new File(in, f"b$b%02d.json").toPath,
        rows.map { case (s, p) => s"""{"score":$s,"pos":$p}""" }.mkString("\n"))
    }
    def run(): Unit =
      StreamingMetrics.maintain(
        spark.readStream.schema("score LONG, pos LONG").option("maxFilesPerTrigger", 1).json(in),
        stateDir, ckpt, Trigger.AvailableNow()).awaitTermination(120000)
    def versionDirs = new File(stateDir).list().filter(_.matches(raw"v\d+")).sorted.toSeq
    def hist = StreamingMetrics.readState(spark, stateDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expect = slices.flatten.groupBy(_._1).map { case (s, rs) =>
      s -> (rs.size.toLong, rs.map(_._2).sum) }

    run()
    assert(versionDirs == Seq("v3", "v4"))
    assert(hist == expect)
    // crash after the state commit, before the checkpoint commit: Spark
    // replays batch 4 on restart
    new File(ckpt, "commits/4").delete()
    new File(ckpt, "commits/.4.crc").delete()
    run()
    assert(versionDirs == Seq("v3", "v4"))
    assert(hist == expect, "replayed batch folded onto its own output")
  }
}
