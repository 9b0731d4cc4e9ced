package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ParquetSegments, SnapshotSource}
import graft.streaming.SnapshotStore

/** The log-structured publish: a non-folding merge appends ONE L0
  * segment listed by every touched bucket's chain, and a row of a
  * shared L0 is visible only through a bucket whose chain lists it.
  * Tables written before L0 existed (all `__bucket=K` chain entries)
  * keep reading, and chains may mix both forms.
  */
class L0LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath

  private def delta(rows: (String, String, String, Option[String])*): DataFrame =
    rows.toDF("keys", "op", "sequenceNumber", "newImage")

  /** key -> (sequence, op, image); the applied LWW model. */
  private type Model = Map[String, (Option[BigInt], String, Option[String])]

  private def applyTo(m: Model, rows: Seq[(String, String, String, Option[String])]): Model =
    rows.foldLeft(m) { case (acc, (k, op, seq, img)) =>
      if (acc.get(k).forall(_._1.forall(_ < BigInt(seq)))) acc + (k -> ((Some(BigInt(seq)), op, img)))
      else acc
    }

  private def live(m: Model): Set[(String, String, String)] =
    m.collect { case (k, (seq, "PUT", img)) => (k, seq.map(_.toString).orNull, img.orNull) }.toSet

  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.select("keys", "sequenceNumber", "newImage").as[(String, String, String)].collect().toSet

  /** Every reader against the model: the store's full read, the V2
    * scan, V2 point lookups (the driver-local path) and `readKeys`.
    */
  private def checkReaders(dir: String, m: Model, probes: Seq[String]): Unit = {
    val expect = live(m)
    assert(rows(SnapshotStore.readTarget(spark, dir)) == expect, "readTarget")
    val v2 = spark.read.format("graft-snapshot").load(dir)
    assert(rows(v2) == expect, "V2 scan")
    probes.foreach { k =>
      assert(rows(v2.where(col("keys") === k)) == expect.filter(_._1 == k), s"V2 lookup $k")
    }
    assert(rows(SnapshotStore.readKeys(spark, dir, probes)) ==
      expect.filter(r => probes.contains(r._1)), "readKeys")
  }

  private def chains(dir: String): Map[Int, Seq[String]] =
    SnapshotStore.currentManifest(spark, dir).get._2.buckets

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }

  test("a table written before L0 existed reads, takes two L0 appends and a fold; every " +
    "reader, the change feed and the pre-append version agree with the LWW model") {
    // src/test/resources/fixtures/l1-chains: 4 buckets, 3 L1 entries per
    // chain — a writeTarget seed of k00..k39 ("seed-kNN", no sequence),
    // then two sink batches: k00..k19 MODIFY at 1000+i ("a-kNN"), and
    // k10..k29 at 2000+i, MODIFY ("b-kNN") below k25, REMOVE from k25
    val dir = tmp("l0-fixture")
    copyTree(new File(getClass.getResource("/fixtures/l1-chains").toURI).toPath,
      new File(dir).toPath)
    val keys = (0 until 45).map(i => f"k$i%02d")
    var model: Model = keys.take(40).map(k => k -> ((None, "PUT", Some(s"seed-$k")))).toMap
    model = applyTo(model, (0 until 20).map(i =>
      (keys(i), "PUT", s"${1000 + i}", Some(s"a-${keys(i)}"))))
    model = applyTo(model, (10 until 30).map(i =>
      if (i >= 25) (keys(i), "DELETE", s"${2000 + i}", None)
      else (keys(i), "PUT", s"${2000 + i}", Some(s"b-${keys(i)}"))))
    val probes = Seq("k00", "k07", "k12", "k26", "k33", "k41", "k44", "nope")
    val before = chains(dir)
    assert(before.size == 4 && before.values.forall(c => c.size == 3 && !c.exists(SnapshotStore.isL0)))
    checkReaders(dir, model, probes)
    val preVersion = SnapshotStore.pointerValue(spark, dir).get
    val preModel = model

    val feedOut = tmp("l0-feed-out"); val feedCkpt = tmp("l0-feed-ckpt")
    var delivered = Seq.empty[(String, String, String)]
    def drainFeed(): Seq[(String, String, String)] = {
      spark.readStream.format("graft-snapshot-changes").load(dir)
        .writeStream.format("parquet").option("path", feedOut)
        .option("checkpointLocation", feedCkpt).trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
      val all = spark.read.parquet(feedOut).select("keys", "op", "sequenceNumber")
        .as[(String, String, String)].collect().toSeq
      val fresh = all.diff(delivered)
      delivered = all
      fresh
    }
    drainFeed()

    val batches = Seq(
      (30 until 45).map(i => (keys(i), "PUT", s"${3000 + i}", Some(s"c-${keys(i)}"))) ++
        Seq(("k05", "DELETE", "3005", None), ("k12", "PUT", "3012", Some("c-k12"))),
      Seq(("k33", "PUT", "4033", Some("d-k33")), ("k05", "PUT", "4005", Some("d-k05")),
        ("k26", "PUT", "1500", Some("stale-k26")), // staler than its tombstone: loses
        ("k41", "DELETE", "4041", None), ("k07", "PUT", "4007", Some("d-k07"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      SnapshotStore.mergeIntoTarget(spark, dir, delta(b: _*), batchId = 10L + i,
        retainVersions = 5)
      model = applyTo(model, b)
      val now = chains(dir)
      val mine = now.values.flatten.filter(_.startsWith(f"data-${10L + i}%012d-")).toSet
      assert(mine.size == 1 && mine.forall(SnapshotStore.isL0),
        s"batch $i: one L0 per non-folding batch, got $now")
      assert(now.values.forall(_.size <= 3 + i + 1))
      checkReaders(dir, model, probes)
      // the change feed delivers this batch's rows exactly once
      val fresh = drainFeed()
      assert(fresh.sorted == b.map(r => (r._1, r._2, r._3)).sorted, s"batch $i feed")
    }
    // the pre-append version still reads, as-of and as a clone
    assert(rows(SnapshotStore.readTargetAsOf(spark, dir, preVersion)) == live(preModel))
    val clone = tmp("l0-clone")
    SnapshotStore.cloneTarget(spark, dir, clone, asOf = Some(preVersion))
    assert(rows(SnapshotStore.readTarget(spark, clone)) == live(preModel))

    // a merge past the threshold for some chains: those fold back to one
    // L1 each, and the rest take an L0 written beside them in one publish
    val foldAt = 5
    val longer = chains(dir).collect { case (b, c) if c.size + 1 > foldAt => b }.toSet
    assert(longer.nonEmpty && longer.size < 4, chains(dir))
    val fold = keys.map(k => (k, "PUT", "9000", Some(s"f-$k"))).filterNot(_._1 == "k20")
    SnapshotStore.mergeIntoTarget(spark, dir, delta(fold: _*), batchId = 20L,
      foldThreshold = foldAt, retainVersions = 5)
    model = applyTo(model, fold)
    val mixed = chains(dir)
    assert(mixed.forall { case (b, c) =>
      if (longer(b)) c.size == 1 && !SnapshotStore.isL0(c.head)
      else SnapshotStore.isL0(c.last) && c.last.startsWith(f"data-${20L}%012d-")
    }, mixed)
    checkReaders(dir, model, probes :+ "k20")
    SnapshotStore.compactTarget(spark, dir, retainVersions = 5)
    assert(chains(dir).values.forall(c => c.size == 1 && !SnapshotStore.isL0(c.head)))
    checkReaders(dir, model, probes :+ "k20")
  }

  test("a shared L0's rows stay invisible to a bucket that folded past them, and the L0 " +
    "lives until no retained version lists it") {
    val dir = tmp("l0-partial")
    val n = 2
    val x = (0 until 100).map(i => s"x$i").find(SnapshotSource.bucketOf(_, n) == 0).get
    val y = (0 until 100).map(i => s"y$i").find(SnapshotSource.bucketOf(_, n) == 1).get
    def merge(id: Long, foldAt: Int, rs: (String, String, String, Option[String])*): Unit =
      SnapshotStore.mergeIntoTarget(spark, dir, delta(rs: _*), batchId = id,
        numBuckets = n, foldThreshold = foldAt, retainVersions = 2)
    merge(1, 8, (x, "PUT", "001", Some("x1")), (y, "PUT", "001", Some("y1")))
    merge(2, 8, (x, "PUT", "010", Some("x-stale")), (y, "PUT", "011", Some("y2")))
    val shared = chains(dir)(1).last
    assert(SnapshotStore.isL0(shared) && chains(dir)(0).last == shared)
    // x's bucket folds over its delete; y's chain still lists the L0
    // that holds x's stale PUT
    merge(3, 2, (x, "DELETE", "020", None))
    assert(chains(dir)(0).size == 1 && chains(dir)(1).last == shared)
    val folded = SnapshotStore.pointerValue(spark, dir).get
    val expect = Set((y, "011", "y2"))
    def allReaders(asOf: Option[String]): Unit = {
      val v2 = asOf.fold(spark.read.format("graft-snapshot"))(v =>
        spark.read.format("graft-snapshot").option("versionAsOf", v)).load(dir)
      assert(rows(v2) == expect, s"V2 scan as of $asOf")
      assert(rows(v2.where(col("keys") === x)).isEmpty, s"V2 lookup as of $asOf")
      assert(rows(asOf.fold(SnapshotStore.readTarget(spark, dir))(
        SnapshotStore.readTargetAsOf(spark, dir, _))) == expect, s"readTarget as of $asOf")
    }
    allReaders(None)
    assert(rows(SnapshotStore.readKeys(spark, dir, Seq(x, y))) == expect)
    // the parquet-mr face of the rule: the L0 file yields a bucket's rows
    // only when read for that bucket
    val conf = spark.sparkContext.hadoopConfiguration
    val l0Files = ParquetSegments.listParquet(conf, new Path(dir, shared).toString)
    def keysFor(bs: Set[Int]) = l0Files.flatMap { f =>
      val it = new ParquetSegments.RowGroupIterator(conf, f, bs)
      try it.flatten.map(_._1).toList finally it.close()
    }.toSet
    assert(keysFor(Set(1)) == Set(y) && keysFor(Set(0)) == Set(x) && keysFor(Set(0, 1)) == Set(x, y))

    // compaction drops x's tombstone; the folded version, whose y chain
    // lists the L0, is still retained — and still hides x's stale PUT
    SnapshotStore.compactTarget(spark, dir)
    assert(!chains(dir).values.flatten.exists(SnapshotStore.isL0))
    allReaders(None)
    allReaders(Some(folded))
    val l0Dir = new File(dir, shared)
    assert(l0Dir.isDirectory, "GC deleted an L0 a retained version lists")
    // one more publish retires the folded version: the L0 goes with it
    merge(4, 8, (y, "PUT", "030", Some("y3")))
    assert(!SnapshotStore.versions(spark, dir).contains(folded))
    assert(!l0Dir.exists(), "an L0 no retained version lists survived GC")
    assert(rows(SnapshotStore.readTarget(spark, dir)) == Set((y, "030", "y3")))
  }

  test("the L0 bucket filter is exact across pages the page index prunes") {
    // an L0-shaped file with many small pages: the row-group statistics
    // cannot exclude a bucket, the page index can, and the per-row check
    // covers the rest
    val dir = tmp("l0-pages")
    val seg = new Path(dir, s"data-1/${SnapshotStore.L0Dir}").toString
    val all = (0 until 4000).map(i => (f"k$i%05d", "PUT", s"$i", s"img-$i", i % 16))
    all.toDF("keys", "op", "sequenceNumber", "newImage", SnapshotStore.BucketCol)
      .repartition(1).sortWithinPartitions(SnapshotStore.BucketCol, "keys")
      .write.option("parquet.page.row.count.limit", "100")
      .option("parquet.page.size", "2048").parquet(seg)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ParquetSegments.listParquet(conf, seg)
    val pages = files.map { f =>
      val r = ParquetSegments.open(conf, f)
      try r.getColumnIndexStore(0).getOffsetIndex(
        r.getFooter.getBlocks.get(0).getColumns.get(0).getPath).getPageCount
      finally r.close()
    }.sum
    assert(pages > 16, s"the fixture should span many pages, got $pages")
    Seq(Set(3), Set(0, 15), Set(5, 6, 7)).foreach { bs =>
      val got = files.flatMap { f =>
        val it = new ParquetSegments.RowGroupIterator(conf, f, bs)
        try it.flatten.toList finally it.close()
      }
      assert(got.map(_._1).sorted == all.filter(r => bs.contains(r._5)).map(_._1).sorted, bs)
    }
  }
}
