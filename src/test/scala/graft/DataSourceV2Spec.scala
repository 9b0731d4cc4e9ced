package graft

import org.apache.spark.sql.functions._

import graft.streaming.SnapshotStore

/** The DataSource V2 connector over the snapshot store: resolved-state
  * equality with [[SnapshotStore.readTarget]], bucket pruning driven by
  * pushed key filters, and column pruning — the
  * `spark.read.format("graft-snapshot")` surface a non-engine consumer
  * uses.
  */
class DataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath

  private def delta(rows: (String, String, String, Option[String])*) =
    rows.toDF("keys", "op", "sequenceNumber", "newImage")

  private def buildTarget(dir: String): Unit = {
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 1, delta = delta(
      ("k1", "PUT", "001", Some("""{"v":1}""")),
      ("k2", "PUT", "002", Some("""{"v":2}""")),
      ("k3", "PUT", "003", Some("""{"v":3}""")),
      ("k4", "PUT", "004", Some("""{"v":4}"""))))
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 2, delta = delta(
      ("k2", "PUT", "012", Some("""{"v":22}""")), // LWW overwrite
      ("k3", "DELETE", "013", None),              // tombstone
      ("k5", "PUT", "015", Some("""{"v":5}""")))) // new key
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 3, delta = delta(
      ("k2", "PUT", "005", Some("""{"v":-9}""")))) // STALE: must lose to 012
  }

  // ONE catalog root for every catalog test: Spark instantiates the
  // catalog once per session and caches it, so a second conf.set of
  // .root would be silently ignored — tests separate by NAMESPACE
  private lazy val catalogRoot: String = {
    val r = tmp("dsv2-catroot")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("keys", "sequenceNumber", "newImage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("graft-snapshot full scan equals readTarget (LWW + tombstones + stale delivery)") {
    val dir = tmp("dsv2-full")
    buildTarget(dir)
    val v2 = spark.read.format("graft-snapshot").load(dir)
    val expect = collectRows(SnapshotStore.readTarget(spark, dir))
    assert(collectRows(v2) === expect)
    assert(expect.map(_._1) === Set("k1", "k2", "k4", "k5")) // k3 deleted
    assert(expect.find(_._1 == "k2").get._3 === """{"v":22}""") // stale lost
  }

  /** Buckets the snapshot scan under `df` plans when `df` runs — read
    * off the scan itself, because a driver-local lookup's RDD partition
    * count is its row count's parallelism, not a bucket count.
    */
  private def plannedBuckets(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan match {
          case l: graft.sources.SnapshotLocalScan => l.scan.lastPlannedBuckets
          case s: graft.sources.SnapshotScan => s.lastPlannedBuckets
        }
    }.get
  }

  test("pushed key filter prunes to the key's single bucket; result exact") {
    val dir = tmp("dsv2-point")
    buildTarget(dir)
    val v2 = spark.read.format("graft-snapshot").load(dir)
    val full = plannedBuckets(v2)
    val point = v2.filter(col("keys") === "k2")
    assert(collectRows(point) ===
      collectRows(SnapshotStore.readTarget(spark, dir)
        .filter(col("keys") === "k2")))
    assert(plannedBuckets(point) === 1,
      s"point lookup must read one bucket (full scan reads $full)")
    // deleted key: pruned to its bucket AND correctly empty
    val deleted = spark.read.format("graft-snapshot").load(dir)
      .filter(col("keys") === "k3")
    assert(deleted.collect().isEmpty)
    assert(plannedBuckets(deleted) === 1)
    // IN list spans at most |keys| buckets
    val inq = v2.filter(col("keys").isin("k1", "k5"))
    assert(collectRows(inq).map(_._1) === Set("k1", "k5"))
    assert(plannedBuckets(inq) <= 2)
  }

  test("V2 write path: df.write appends a delta batch through the store's own commit") {
    val dir = tmp("dsv2-write")
    buildTarget(dir)
    // append through the connector: overwrite k1, delete k4, add k6 —
    // and re-deliver the stale k2 PUT, which must STILL lose
    delta(
      ("k1", "PUT", "021", Some("""{"v":11}""")),
      ("k4", "DELETE", "024", None),
      ("k6", "PUT", "026", Some("""{"v":6}""")),
      ("k2", "PUT", "005", Some("""{"v":-9}""")))
      .write.format("graft-snapshot").option("batchId", "9")
      .mode("append").save(dir)
    val got = collectRows(SnapshotStore.readTarget(spark, dir))
    assert(got.map(_._1) === Set("k1", "k2", "k5", "k6"))
    assert(got.find(_._1 == "k1").get._3 === """{"v":11}""")
    assert(got.find(_._1 == "k2").get._3 === """{"v":22}""") // stale lost again
    // round trip: the V2 read sees the V2 write
    assert(collectRows(spark.read.format("graft-snapshot").load(dir)) === got)
    // no staging residue
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith("_staging-")))
    // a mis-shaped frame fails at plan time, before any merge
    intercept[Exception] {
      Seq(("x", "y")).toDF("keys", "nope")
        .write.format("graft-snapshot").mode("append").save(dir)
    }
  }

  test("change feed: readStream tails committed versions, resumes from checkpoint") {
    val dir = tmp("dsv2-feed")
    val ckpt = tmp("dsv2-feed-ckpt")
    val out = tmp("dsv2-feed-out")
    buildTarget(dir)
    // parquet sink: supports checkpoint RECOVERY (the memory sink does
    // not), so the second drain genuinely resumes the same stream
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot-changes").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); ()
    }
    def rows() = spark.read.parquet(out)
      .select("keys", "op", "sequenceNumber").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    drain()
    // all three committed batches' raw delta rows, tombstone + stale included
    val firstBatches = Set(
      ("k1", "PUT", "001"), ("k2", "PUT", "002"), ("k3", "PUT", "003"),
      ("k4", "PUT", "004"),
      ("k2", "PUT", "012"), ("k3", "DELETE", "013"), ("k5", "PUT", "015"),
      ("k2", "PUT", "005"))
    assert(rows() === firstBatches)
    // every row carries the committing version tag
    assert(spark.read.parquet(out).select("_version").distinct().count() === 1)
    // a fourth batch through the V2 WRITE path; the resumed stream
    // delivers ONLY its rows (no re-delivery of the first eight)
    delta(("k6", "PUT", "026", Some("""{"v":6}""")),
      ("k4", "DELETE", "027", None))
      .write.format("graft-snapshot").option("batchId", "4")
      .mode("append").save(dir)
    drain()
    assert(rows() === firstBatches ++ Set(
      ("k6", "PUT", "026"), ("k4", "DELETE", "027")))
    assert(spark.read.parquet(out).select("_version").distinct().count() === 2)
  }

  test("change feed across a maintenance fold: at-least-once re-delivery, never loss") {
    val dir = tmp("dsv2-fold")
    val ckpt = tmp("dsv2-fold-ckpt")
    val out = tmp("dsv2-fold-out")
    def merge(id: Long, rows: (String, String, String, Option[String])*): Unit =
      SnapshotStore.mergeIntoTarget(spark, dir, delta(rows: _*),
        batchId = id, numBuckets = 2, foldThreshold = 2)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot-changes").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); ()
    }
    merge(1, ("a", "PUT", "001", Some("A1")), ("b", "PUT", "002", Some("B1")))
    drain()
    // threshold 2 with 2 buckets: the next merges keep folding chains —
    // the resumed feed sees fold-output segments as new and RE-DELIVERS
    // compacted rows (with their ORIGINAL sequence numbers)
    merge(2, ("a", "PUT", "011", Some("A2")), ("c", "PUT", "013", Some("C1")))
    merge(3, ("b", "DELETE", "022", None), ("d", "PUT", "024", Some("D1")))
    drain()
    val seen = spark.read.parquet(out)
      .select("keys", "op", "sequenceNumber", "newImage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3))))
    // no loss: every batch's logical winners are present at least once
    val need = Set(("a", "PUT", "011"), ("c", "PUT", "013"),
      ("b", "DELETE", "022"), ("d", "PUT", "024"))
    assert(need.subsetOf(seen.map(t => (t._1, t._2, t._3)).toSet))
    // LWW-applying everything the feed delivered reproduces the table —
    // duplicates are harmless by construction
    val applied = seen.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(r => graft.ops.CdcOps.numericStringKey(r._3))
    }.collect { case (k, (_, op, _, img)) if op != "DELETE" => k -> img.orNull }
    val expect = SnapshotStore.readTarget(spark, dir)
      .select("keys", "newImage").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(applied === expect)
  }

  test("time travel: versionAsOf reads a retained committed version; orphans refused") {
    val dir = tmp("dsv2-asof")
    // explicit retention: the default window prunes to 2 and the test
    // wants the FIRST commit readable
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 1, retainVersions = 5,
      delta = delta(
        ("k1", "PUT", "001", Some("""{"v":1}""")),
        ("k2", "PUT", "002", Some("""{"v":2}""")),
        ("k3", "PUT", "003", Some("""{"v":3}""")),
        ("k4", "PUT", "004", Some("""{"v":4}"""))))
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 2, retainVersions = 5,
      delta = delta(
        ("k2", "PUT", "012", Some("""{"v":22}""")),
        ("k3", "DELETE", "013", None),
        ("k5", "PUT", "015", Some("""{"v":5}"""))))
    val v = SnapshotStore.versions(spark, dir)
    assert(v.size >= 2)
    // as of the FIRST commit: k1..k4 live, nothing overwritten/deleted yet
    val asOf1 = spark.read.format("graft-snapshot")
      .option("versionAsOf", v.head).load(dir)
    assert(collectRows(asOf1) ===
      collectRows(SnapshotStore.readTargetAsOf(spark, dir, v.head)))
    assert(collectRows(asOf1).map(_._1) === Set("k1", "k2", "k3", "k4"))
    // pushdown composes with time travel: point lookup = one bucket
    val point = spark.read.format("graft-snapshot")
      .option("versionAsOf", v.head).load(dir)
      .filter(col("keys") === "k3")
    assert(point.rdd.getNumPartitions === 1)
    assert(point.count() === 1L) // k3 alive at v1, deleted at head
    // a name that never committed is refused
    intercept[Exception] {
      spark.read.format("graft-snapshot")
        .option("versionAsOf", "manifest-nope").load(dir).count()
    }
  }

  test("runtime filtering: a key join prunes the scan to the probe keys' buckets") {
    val dir = tmp("dsv2-dpp")
    buildTarget(dir)
    // a SELECTIVE build side (filtered dim) joined on keys — the
    // dynamic-partition-pruning shape: Spark's PartitionPruning rule
    // hands the dim's key set to SnapshotScan.filter at runtime, after
    // the broadcast materializes. The dim must be a real SOURCE (not a
    // LocalRelation, whose filter constant-folds away before the rule
    // looks for a selective predicate)
    val dimDir = tmp("dsv2-dpp-dim")
    Seq(("k2", "y"), ("k5", "y"), ("k1", "n"), ("k4", "n"))
      .toDF("keys", "cat").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("cat") === "y")
    // let DPP plan its own value subquery: under reuseBroadcastOnly the
    // filter stays a SubqueryAdaptiveBroadcast placeholder unless AQE
    // happens to reuse the join's broadcast stage, and a placeholder
    // translates to no runtime filter at all
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
      val fact = spark.read.format("graft-snapshot").load(dir)
      // inspect the SAME DataFrame that executes: a derived .select would
      // plan (and prune) its own scan instance
      val joined = fact.join(dim, "keys").select("keys", "newImage")
      val got = joined.collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set("k2" -> """{"v":22}""", "k5" -> """{"v":5}"""))
      // the executed scan planned only the buckets k2/k5 hash into.
      // Unwrap AQE recursively: QueryStageExec nodes (incl. Spark 4's
      // ResultQueryStage) are leaves, so a plain collect can't see
      // inside them
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[graft.sources.SnapshotScan] = p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
          Seq(b.scan.asInstanceOf[graft.sources.SnapshotScan])
      }.flatten
      val scans = scansOf(joined.queryExecution.executedPlan)
      assert(scans.nonEmpty, "V2 scan missing from the join plan")
      val full = spark.read.format("graft-snapshot").load(dir)
      val fullBuckets = full.rdd.getNumPartitions
      val pruned = scans.head.lastPlannedBuckets
      assert(pruned >= 1 && pruned <= 2,
        s"runtime filter must prune to the 2 probe keys' buckets " +
          s"(got $pruned of $fullBuckets)")
      assert(pruned < fullBuckets,
        s"no pruning happened: $pruned == full $fullBuckets")
    } finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
  }

  test("limit pushdown is partial and correct: LIMIT n caps per-partition emission") {
    val dir = tmp("dsv2-limit")
    buildTarget(dir)
    val limited = spark.read.format("graft-snapshot").load(dir).limit(2)
    assert(limited.count() === 2L)
    // rows served are genuine resolved rows (a subset of readTarget)
    val all = collectRows(SnapshotStore.readTarget(spark, dir))
    assert(collectRows(limited).subsetOf(all))
    // LIMIT larger than the table degrades to the full resolved state
    assert(collectRows(
      spark.read.format("graft-snapshot").load(dir).limit(100)) === all)
  }

  test("top-N pushdown: ORDER BY base column LIMIT n reaches the scan; " +
    "results exact both directions") {
    val dir = tmp("dsv2-topn")
    buildTarget(dir)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[graft.sources.SnapshotScan] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
        Seq(b.scan.asInstanceOf[graft.sources.SnapshotScan])
    }.flatten
    val v2 = spark.read.format("graft-snapshot").load(dir)
    val asc = v2.orderBy("keys").limit(2)
    val ascScan = scansOf(asc.queryExecution.executedPlan)
    assert(ascScan.nonEmpty && ascScan.head.topN ===
      Some((Seq(("keys", false)), 2)), "topN not pushed for ASC")
    assert(asc.select("keys").as[String].collect().toSeq === Seq("k1", "k2"))
    val desc = v2.orderBy(org.apache.spark.sql.functions.col("sequenceNumber").desc)
      .limit(2)
    val descScan = scansOf(desc.queryExecution.executedPlan)
    assert(descScan.nonEmpty && descScan.head.topN ===
      Some((Seq(("sequenceNumber", true)), 2)), "topN not pushed for DESC")
    // resolved state sequences: k1=001, k2=012, k4=004, k5=015
    assert(desc.select("sequenceNumber").as[String].collect().toSeq ===
      Seq("015", "012"))
    // LWW must hold THROUGH the pruned emission: k2's winner is 012,
    // never the stale 005 delivered later
    assert(!desc.select("newImage").as[String].collect()
      .contains("""{"v":-9}"""))
    // nullable / projected orderings are refused: plain scan, exact result
    val img = v2.orderBy("newImage").limit(2)
    val imgScan = scansOf(img.queryExecution.executedPlan)
    assert(imgScan.isEmpty || imgScan.head.topN.isEmpty,
      "nullable newImage ordering must not push")
    assert(img.count() === 2L)
  }

  test("unoptioned V2 writes take sequential batchIds: max retained manifest + 1") {
    val dir = tmp("dsv2-autoid")
    buildTarget(dir) // batches 1, 2, 3
    def maxManifestId(): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pat = "manifest-(-?\\d+)-.*".r
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).collect { case pat(id) => id.toLong }.max
    }
    assert(maxManifestId() === 3L)
    delta(("k7", "PUT", "031", Some("""{"v":7}""")))
      .write.format("graft-snapshot").mode("append").save(dir)
    assert(maxManifestId() === 4L, "first unoptioned write = max + 1")
    delta(("k8", "PUT", "032", Some("""{"v":8}""")))
      .write.format("graft-snapshot").mode("append").save(dir)
    assert(maxManifestId() === 5L,
      "second unoptioned write in the same second must NOT reuse the id")
    assert(collectRows(SnapshotStore.readTarget(spark, dir))
      .map(_._1).intersect(Set("k7", "k8")) === Set("k7", "k8"))
  }

  test("column pruning: a newImage-only projection still resolves correctly") {
    val dir = tmp("dsv2-prune")
    buildTarget(dir)
    val imgs = spark.read.format("graft-snapshot").load(dir)
      .select("newImage").as[String].collect().toSet
    assert(imgs === Set("""{"v":1}""", """{"v":22}""", """{"v":4}""", """{"v":5}"""))
  }

  test("aggregate pushdown: COUNT/MIN/MAX ship one partial row per bucket, " +
    "resolved semantics intact") {
    val dir = tmp("dsv2-agg")
    buildTarget(dir)
    val v2 = spark.read.format("graft-snapshot").load(dir)

    // the critical semantic: the pushed count must be the RESOLVED count
    // (k3 deleted, k2 superseded twice) — raw segment rows are 8
    val cnt = v2.agg(count(lit(1)).as("n"))
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("graft-snapshot-agg"),
      s"aggregate not pushed to the scan:\n$cntPlan")
    assert(cntPlan.contains("PushedAggregates"), cntPlan)
    assert(cnt.collect()(0).getLong(0) === 4L)

    // min/max over resolved keys and sequence numbers, Spark-ordering
    val mm = v2.agg(min("keys").as("mn"), max("keys").as("mx"),
      max("sequenceNumber").as("ms"))
    assert(mm.queryExecution.executedPlan.toString.contains("graft-snapshot-agg"))
    val row = mm.collect()(0)
    assert((row.getString(0), row.getString(1), row.getString(2)) ===
      ("k1", "k5", "015"))

    // equality with the non-pushed path over the store's own read
    val direct = SnapshotStore.readTarget(spark, dir)
      .agg(count(lit(1)), min("keys"), max("keys"), max("sequenceNumber"))
      .collect()(0)
    assert((direct.getLong(0), direct.getString(1), direct.getString(2),
      direct.getString(3)) === (4L, "k1", "k5", "015"))

    // an EMPTY target counts 0, not NULL (the zero-partial partition)
    val empty = tmp("dsv2-agg-empty")
    SnapshotStore.mergeIntoTarget(spark, empty, batchId = 1,
      delta = delta(("gone", "DELETE", "001", None)))
    val ecnt = spark.read.format("graft-snapshot").load(empty)
      .agg(count(lit(1)).as("n"))
    assert(ecnt.queryExecution.executedPlan.toString.contains("graft-snapshot-agg"))
    assert(ecnt.collect()(0).getLong(0) === 0L)

    // grouping and filtered aggregates FALL BACK to the row scan —
    // correctness over cleverness
    val grouped = v2.groupBy("keys").agg(count(lit(1)))
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("graft-snapshot-agg"))
    assert(grouped.count() === 4L)
    val filtered = v2.filter(col("keys") === "k2").agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("graft-snapshot-agg"))
    assert(filtered.collect()(0).getLong(0) === 1L)
  }

  test("storage-partitioned join: snapshot ⋈ snapshot on keys runs with ZERO exchange") {
    val root = catalogRoot
    buildTarget(s"$root/spj/a")
    SnapshotStore.mergeIntoTarget(spark, s"$root/spj/b", batchId = 1, delta = delta(
      ("k1", "PUT", "101", Some("""{"w":1}""")),
      ("k2", "PUT", "102", Some("""{"w":2}""")),
      ("k6", "PUT", "106", Some("""{"w":6}"""))))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        """SELECT a.keys AS keys, a.newImage AS ai, b.newImage AS bi
           FROM graft.spj.a a JOIN graft.spj.b b ON a.keys = b.keys""")
      val got = j.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).toSet
      // a's resolved state: k1, k2(v22), k4, k5; b: k1, k2, k6 → k1, k2
      assert(got === Set(
        ("k1", """{"v":1}""", """{"w":1}"""),
        ("k2", """{"v":22}""", """{"w":2}""")))
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan) :+ a
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          nodes(q.plan) :+ q
        case other => Seq(other)
      }.flatten
      val all = nodes(j.queryExecution.executedPlan)
      val exchanges = all.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      assert(exchanges.isEmpty,
        s"storage-partitioned join must not exchange either side:\n" +
          exchanges.map(_.nodeName).mkString(", "))
      // the join really is keyed (not a degenerate cartesian fallback)
      assert(all.exists(n => n.nodeName.toLowerCase.contains("join")),
        "no join node found")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("catalog plugin: SELECT / INSERT INTO / DELETE FROM on name-addressed snapshot tables") {
    val root = catalogRoot
    buildTarget(s"$root/prod/t1")

    // name-addressed SELECT through the same pruned V2 scan
    assert(spark.sql("SELECT keys FROM graft.prod.t1").as[String]
      .collect().toSet === Set("k1", "k2", "k4", "k5"))
    assert(spark.sql("SELECT count(*) FROM graft.prod.t1")
      .collect()(0).getLong(0) === 4L)

    // INSERT INTO = a CDC delta batch through the store's locked commit
    spark.sql("INSERT INTO graft.prod.t1 " +
      """VALUES ('k9', 'PUT', '020', '{"v":9}')""")
    assert(spark.sql("SELECT newImage FROM graft.prod.t1 WHERE keys = 'k9'")
      .as[String].collect().toSeq === Seq("""{"v":9}"""))

    // SQL time travel: VERSION AS OF the pre-insert manifest reads the
    // old state by name (checked before later batches age it out of the
    // 2-version retention); an unknown version fails loudly
    val versions = SnapshotStore.versions(spark, s"$root/prod/t1")
    val preInsert = versions.find(_.startsWith("manifest-000000000003")).getOrElse(
      fail(s"no batch-3 manifest retained in $versions"))
    assert(spark.sql(
        s"SELECT keys FROM graft.prod.t1 VERSION AS OF '$preInsert'")
      .as[String].collect().toSet === Set("k1", "k2", "k4", "k5"))
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.prod.t1 VERSION AS OF 'nope'").collect()
    }

    // DELETE FROM with key predicates: tombstones, not rewrites
    spark.sql("DELETE FROM graft.prod.t1 WHERE keys = 'k2'")
    spark.sql("DELETE FROM graft.prod.t1 WHERE keys IN ('k1', 'k9')")
    assert(spark.sql("SELECT keys FROM graft.prod.t1").as[String]
      .collect().toSet === Set("k4", "k5"))
    // the store's own read agrees — SQL and API faces share the format
    assert(collectRows(SnapshotStore.readTarget(spark, s"$root/prod/t1"))
      .map(_._1) === Set("k4", "k5"))
    // delete of an absent key is a no-op, not an error
    spark.sql("DELETE FROM graft.prod.t1 WHERE keys = 'nope'")
    assert(spark.sql("SELECT count(*) FROM graft.prod.t1")
      .collect()(0).getLong(0) === 2L)

    // a non-key predicate routes through the ROW-LEVEL delete path
    // (r11: SupportsRowLevelOperations) — here it matches nothing, so
    // the state is untouched
    spark.sql("DELETE FROM graft.prod.t1 WHERE newImage IS NULL")
    assert(spark.sql("SELECT count(*) FROM graft.prod.t1")
      .collect()(0).getLong(0) === 2L)

    // INSERT OVERWRITE replaces the state (and stays time-travelable)
    spark.sql("INSERT OVERWRITE graft.prod.t1 " +
      """VALUES ('z1', 'PUT', '001', '{"v":100}')""")
    assert(spark.sql("SELECT keys FROM graft.prod.t1").as[String]
      .collect().toSeq === Seq("z1"))

    // TRUNCATE TABLE = delete every live key (tombstones)
    spark.sql("TRUNCATE TABLE graft.prod.t1")
    assert(spark.sql("SELECT count(*) FROM graft.prod.t1")
      .collect()(0).getLong(0) === 0L)

    // the change-feed companion table streams the raw committed deltas
    // by NAME — no path in user code
    val out = tmp("dsv2-cat-feed"); val ckpt = tmp("dsv2-cat-ckpt")
    val q = spark.readStream.table("graft.prod.t1__changes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val feed = spark.read.parquet(out).select("keys", "op").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // the OVERWRITE above replaced every segment chain, so the feed's
    // current state serves exactly the post-overwrite deltas: z1's
    // insert and its truncate tombstone
    assert(feed === Set(("z1", "PUT"), ("z1", "DELETE")),
      s"feed rows: $feed")

    // streaming WRITE by name: writeStream.toTable merges each epoch
    // as one delta batch through the store's locked commit
    val sin = tmp("dsv2-cat-sin"); val sckpt = tmp("dsv2-cat-sckpt")
    spark.sql("CREATE TABLE graft.prod.ts1")
    delta(("s1", "PUT", "001", Some("""{"v":1}""")),
        ("s2", "PUT", "002", Some("""{"v":2}""")))
      .coalesce(1).write.mode("append").parquet(sin)
    val sschema = spark.read.parquet(sin).schema
    val sq = spark.readStream.schema(sschema).parquet(sin)
      .writeStream.option("checkpointLocation", sckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.prod.ts1")
    sq.awaitTermination(60000)
    assert(spark.sql("SELECT keys FROM graft.prod.ts1").as[String]
      .collect().toSet === Set("s1", "s2"))

    // catalog DDL: list / create / drop
    buildTarget(s"$root/prod/t2")
    assert(spark.sql("SHOW TABLES IN graft.prod").select("tableName")
      .as[String].collect().toSet === Set("t1", "t2", "ts1"))
    spark.sql("CREATE TABLE graft.prod.t3")
    spark.sql("INSERT INTO graft.prod.t3 " +
      """VALUES ('a', 'PUT', '001', '{"v":0}')""")
    assert(spark.sql("SELECT keys FROM graft.prod.t3").as[String]
      .collect().toSeq === Seq("a"))
    spark.sql("DROP TABLE graft.prod.t3")
    assert(spark.sql("SHOW TABLES IN graft.prod").select("tableName")
      .as[String].collect().toSet === Set("t1", "t2", "ts1"))
  }

  test("row-level SQL: MERGE INTO / UPDATE / complex-predicate DELETE emit winning deltas") {
    val root = catalogRoot
    buildTarget(s"$root/rlo/t")
    def state() = spark.sql("SELECT keys, newImage FROM graft.rlo.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // MERGE: update k2's image, delete k4, insert k7 — one statement
    Seq(("k2", "777", """{"v":777}"""), ("k4", "778", null),
        ("k7", "779", """{"v":7}"""))
      .toDF("mk", "mseq", "mimg").createOrReplaceTempView("mergesrc")
    spark.sql("""
      MERGE INTO graft.rlo.t t USING mergesrc s ON t.keys = s.mk
      WHEN MATCHED AND s.mimg IS NULL THEN DELETE
      WHEN MATCHED THEN UPDATE SET newImage = s.mimg
      WHEN NOT MATCHED THEN
        INSERT (keys, op, sequenceNumber, newImage)
        VALUES (s.mk, 'PUT', s.mseq, s.mimg)""")
    val afterMerge = state()
    assert(afterMerge("k2") === """{"v":777}""", s"merge update lost: $afterMerge")
    assert(!afterMerge.contains("k4"), s"merge delete lost: $afterMerge")
    assert(afterMerge("k7") === """{"v":7}""", s"merge insert lost: $afterMerge")
    assert(afterMerge.keySet === Set("k1", "k2", "k5", "k7"))

    // the stale k2 PUT (seq 005) must STILL lose to the merged update
    delta(("k2", "PUT", "005", Some("""{"v":-9}""")))
      .write.format("graft-snapshot").mode("append").save(s"$root/rlo/t")
    assert(state()("k2") === """{"v":777}""", "stale PUT beat the merge update")

    // UPDATE with a non-key predicate (no SupportsDelete shortcut)
    spark.sql("UPDATE graft.rlo.t SET newImage = '{}' " +
      "WHERE newImage = '{\"v\":1}'")
    assert(state()("k1") === "{}")

    // DELETE with a non-key predicate routes through the row-level op
    spark.sql("DELETE FROM graft.rlo.t WHERE newImage = '{}'")
    assert(!state().contains("k1"))
    assert(state().keySet === Set("k2", "k5", "k7"))

    // API read agrees — SQL row-level ops share the store format
    assert(collectRows(SnapshotStore.readTarget(spark, s"$root/rlo/t"))
      .map(_._1) === Set("k2", "k5", "k7"))
  }

  test("TIMESTAMP AS OF resolves the newest version committed at or before the instant") {
    val root = catalogRoot
    buildTarget(s"$root/tt/t")
    val dir = s"$root/tt/t"
    // distinct publish mtimes for the two states we travel between
    Thread.sleep(50)
    spark.sql("INSERT INTO graft.tt.t " +
      """VALUES ('k9', 'PUT', '020', '{"v":9}')""")
    val vs = SnapshotStore.versions(spark, dir)
    val mt = vs.map(n => n -> new java.io.File(dir, n).lastModified()).toMap
    val preInsert = vs.init.last // newest version BEFORE the insert
    def sqlTs(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ")
        .replace("Z", "")
    // an instant between the two commits reads the pre-insert state
    val mid = (mt(preInsert) + mt(vs.last)) / 2
    assert(mt(preInsert) < mt(vs.last), s"commit mtimes not distinct: $mt")
    assert(spark.sql(
        s"SELECT keys FROM graft.tt.t TIMESTAMP AS OF '${sqlTs(mid)}'")
      .as[String].collect().toSet === Set("k1", "k2", "k4", "k5"))
    // an instant after the last commit reads the live state
    assert(spark.sql(
        s"SELECT keys FROM graft.tt.t TIMESTAMP AS OF '${sqlTs(mt(vs.last) + 1000)}'")
      .as[String].collect().toSet === Set("k1", "k2", "k4", "k5", "k9"))
    // an instant before the oldest retained commit fails loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.t TIMESTAMP AS OF '2001-01-01 00:00:00'")
        .collect()
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes/updates target-only rows") {
    val root = catalogRoot
    buildTarget(s"$root/nmbs/t") // live: k1, k2, k4, k5
    def state() = spark.sql("SELECT keys, newImage FROM graft.nmbs.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // source covers k2 (update) and k6 (insert); k1/k4/k5 are
    // NOT MATCHED BY SOURCE — k1 gets deleted, the rest marked stale
    Seq(("k2", "800", """{"v":222}"""), ("k6", "801", """{"v":6}"""))
      .toDF("mk", "mseq", "mimg").createOrReplaceTempView("nmbssrc")
    spark.sql("""
      MERGE INTO graft.nmbs.t t USING nmbssrc s ON t.keys = s.mk
      WHEN MATCHED THEN UPDATE SET newImage = s.mimg
      WHEN NOT MATCHED THEN
        INSERT (keys, op, sequenceNumber, newImage)
        VALUES (s.mk, 'PUT', s.mseq, s.mimg)
      WHEN NOT MATCHED BY SOURCE AND t.keys = 'k1' THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET newImage = '{"stale":1}'""")
    val after = state()
    assert(!after.contains("k1"), s"NOT MATCHED BY SOURCE delete lost: $after")
    assert(after.get("k2") === Some("""{"v":222}"""))
    assert(after.get("k6") === Some("""{"v":6}"""))
    assert(after.get("k4") === Some("""{"stale":1}"""))
    assert(after.get("k5") === Some("""{"stale":1}"""))
    // the statement's deltas still win LWW over a stale concurrent put
    delta(("k4", "PUT", "006", Some("""{"v":-4}""")))
      .write.format("graft-snapshot").mode("append").save(s"$root/nmbs/t")
    assert(state()("k4") === """{"stale":1}""",
      "stale put beat the NOT MATCHED BY SOURCE update")
  }

  test("delete-then-reinsert: a MERGE insert of a deleted key outranks its tombstone") {
    val root = catalogRoot
    buildTarget(s"$root/rli/t")
    def state() = spark.sql("SELECT keys, newImage FROM graft.rli.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // SQL DELETE leaves an invisible tombstone at victim-seq + "0":
    // k2 is live at 012 → tombstone 0120. k3 carries a seeded tombstone
    // (013) from buildTarget already.
    spark.sql("DELETE FROM graft.rli.t WHERE keys = 'k2'")
    assert(!state().contains("k2"))

    // MERGE inserts with sequences LOWER than the keys' tombstones: the
    // rows read NOT MATCHED (tombstones hide them), and without the
    // commit-path tombstone guard each insert would merge invisibly —
    // LWW-lost to the dead key's sequence guard. The guard lifts the
    // losing insert to tombstone-seq + "0". The WHEN MATCHED clause
    // (which fires for no row here) matters: Spark rewrites an
    // INSERT-ONLY merge to a plain append before the row-level
    // framework engages (see the SnapshotRowLevelOps doc), and the
    // append path keeps verbatim CDC LWW semantics by design.
    Seq(("k2", "001", """{"v":222}"""), ("k3", "002", """{"v":33}"""),
        ("k8", "003", """{"v":8}"""))
      .toDF("mk", "mseq", "mimg").createOrReplaceTempView("reinssrc")
    spark.sql("""
      MERGE INTO graft.rli.t t USING reinssrc s ON t.keys = s.mk
      WHEN MATCHED THEN UPDATE SET newImage = s.mimg
      WHEN NOT MATCHED THEN
        INSERT (keys, op, sequenceNumber, newImage)
        VALUES (s.mk, 'PUT', s.mseq, s.mimg)""")
    val after = state()
    assert(after.get("k2") === Some("""{"v":222}"""),
      s"reinsert of SQL-deleted key lost to its tombstone: $after")
    assert(after.get("k3") === Some("""{"v":33}"""),
      s"reinsert of CDC-deleted key lost to its tombstone: $after")
    // a genuinely-new key keeps its source sequence VERBATIM (CDC LWW
    // semantics preserved): a later stale put must still lose to it,
    // and a newer one must win
    assert(after.get("k8") === Some("""{"v":8}"""))
    assert(collectRows(SnapshotStore.readTarget(spark, s"$root/rli/t"))
      .collectFirst { case ("k8", seq, _) => seq } === Some("003"))

    // the lifted reinsert now ALSO guards correctly: a second SQL
    // delete of k2 must re-kill it (the new tombstone outranks the
    // lifted sequence), proving the lift composes with later statements
    spark.sql("DELETE FROM graft.rli.t WHERE keys = 'k2'")
    assert(!state().contains("k2"))
  }

  test("schema evolution: ALTER TABLE ADD COLUMNS projects image fields across generations") {
    val root = catalogRoot
    buildTarget(s"$root/evo/t") // old generation: images {"v":N}

    // ALTER adds read-side projections over the schemaless JSON images;
    // the store's physical layout (4-column CDC deltas) never changes
    spark.sql("ALTER TABLE graft.evo.t ADD COLUMNS (v BIGINT, tag STRING)")

    // new-generation delta carries an evolved image shape
    delta(("k9", "PUT", "900", Some("""{"v":9,"tag":"fresh"}""")))
      .write.format("graft-snapshot").mode("append").save(s"$root/evo/t")

    // both generations read uniformly: old rows project v (the field
    // existed all along) and NULL tag; the new row projects both
    val got = spark.sql("SELECT keys, v, tag FROM graft.evo.t").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1): Any,
        r.getString(2))).toSet
    assert(got === Set(
      ("k1", 1L, null), ("k2", 22L, null), ("k4", 4L, null),
      ("k5", 5L, null), ("k9", 9L, "fresh")), s"got $got")

    // projected columns filter/aggregate like any column
    assert(spark.sql("SELECT keys FROM graft.evo.t WHERE tag = 'fresh'")
      .as[String].collect().toSeq === Seq("k9"))
    assert(spark.sql("SELECT sum(v) FROM graft.evo.t")
      .collect()(0).getLong(0) === 41L)

    // positional INSERT on the widened schema: canonical prefix binds,
    // the projected slots are derived at read time (values ignored)
    spark.sql("INSERT INTO graft.evo.t " +
      """VALUES ('k10', 'PUT', '910', '{"v":10,"tag":"ins"}', NULL, NULL)""")
    assert(spark.sql("SELECT v, tag FROM graft.evo.t WHERE keys = 'k10'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((10L, "ins")))

    // type-incompatible and missing fields project NULL, never throw
    delta(("k11", "PUT", "911", Some("""{"v":"not-a-number"}""")))
      .write.format("graft-snapshot").mode("append").save(s"$root/evo/t")
    val k11 = spark.sql("SELECT v, tag FROM graft.evo.t WHERE keys = 'k11'")
      .collect()(0)
    assert(k11.isNullAt(0) && k11.isNullAt(1))

    // DROP COLUMN removes the projection; the image keeps the data
    spark.sql("ALTER TABLE graft.evo.t DROP COLUMN tag")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT tag FROM graft.evo.t").collect()
    }
    assert(spark.sql("SELECT v FROM graft.evo.t WHERE keys = 'k9'")
      .collect()(0).getLong(0) === 9L)

    // guardrails: base columns immutable, duplicates refused, only
    // scalar projection types accepted
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo.t DROP COLUMN keys")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo.t ADD COLUMNS (v BIGINT)")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo.t ADD COLUMNS (m MAP<STRING,STRING>)")
    }
  }

  test("_bucket metadata column: hidden from *, equals the store's bucket function") {
    val dir = tmp("dsv2-meta")
    buildTarget(dir)
    val t = spark.read.format("graft-snapshot").load(dir)
    // hidden unless named
    assert(!t.columns.contains("_bucket"))
    // named: every row's _bucket equals pmod(xxhash64(keys), N) — the
    // write-side function, via the reader's own partition id
    val n = graft.sources.SnapshotSource.bucketOf("probe", 1) // force classload
    val got = t.select(col("keys"), col("_bucket")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(got.nonEmpty)
    val buckets = SnapshotStore.currentManifest(spark, dir).get._2.numBuckets
    got.foreach { case (k, b) =>
      assert(b === graft.sources.SnapshotSource.bucketOf(k, buckets),
        s"key $k reported bucket $b")
    }
    // SQL face through the catalog sees it too
    val root = catalogRoot
    buildTarget(s"$root/meta/t")
    val viaSql = spark.sql("SELECT keys, _bucket FROM graft.meta.t").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    viaSql.foreach { case (k, b) =>
      assert(b === graft.sources.SnapshotSource.bucketOf(k, buckets))
    }
    // reserved namespace: a projected column may not claim it
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.meta.t ADD COLUMNS (_bucket BIGINT)")
    }
  }

  test("reported statistics: a small snapshot dimension broadcasts in a key join") {
    val dir = tmp("dsv2-stats")
    buildTarget(dir)
    // without SupportsReportStatistics the V2 relation reports
    // defaultSizeInBytes (effectively infinite) and this join would
    // sort-merge; with segment-file sizes it broadcasts under the
    // default 10 MB threshold
    val dim = spark.read.format("graft-snapshot").load(dir)
    val fact = spark.range(100000)
      .selectExpr("concat('k', id % 7) AS keys", "id AS v")
    val joined = fact.join(dim, "keys")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small snapshot side did not broadcast:\n$p")
    assert(joined.count() === (100000L / 7 + 1) * 3 + (100000L / 7) * 1,
      "join result wrong") // k1,k2,k4 hit id%7∈{1,2,4} (14286 each), k5 hits {5} (14285)
  }

  test("zone maps: projected-column predicate skips segments and buckets, LWW exact across skipped+kept") {
    val root = catalogRoot
    // project v BEFORE any data lands, so every publish records stats
    spark.sql("CREATE TABLE graft.zm.t (keys STRING, op STRING, " +
      "sequenceNumber STRING, newImage STRING) USING `graft-snapshot`")
    spark.sql("ALTER TABLE graft.zm.t ADD COLUMNS (v BIGINT)")
    // batch A: all-low values — its segments are excludable under v > 50
    spark.sql("""INSERT INTO graft.zm.t VALUES
      ('a1', 'PUT', '001', '{"v":1}', NULL),
      ('a2', 'PUT', '002', '{"v":2}', NULL),
      ('a3', 'PUT', '003', '{"v":3}', NULL)""")
    // batch B: a1 goes HIGH (v=100), b2 high — kept segments
    spark.sql("""INSERT INTO graft.zm.t VALUES
      ('a1', 'PUT', '010', '{"v":100}', NULL),
      ('b2', 'PUT', '011', '{"v":200}', NULL)""")
    // batch C — the LWW trap: a1's NEWEST version (the winner) has a
    // LOW value and is the ONLY row of its segment, so that segment is
    // zone-excluded under v > 50 while a1's older v=100 row sits in a
    // KEPT segment. A scan that skipped the segment from resolution
    // would resurrect the stale v=100 row.
    spark.sql("""INSERT INTO graft.zm.t VALUES
      ('a1', 'PUT', '020', '{"v":5}', NULL)""")

    val q = spark.sql("SELECT keys, v FROM graft.zm.t WHERE v > 50")
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("b2" -> 200L),
      s"zone-pruned result wrong (a1 present = stale LWW resurrection): $got")

    // pruning actually happened: fewer image-read segments than total,
    // and whole all-low buckets dropped from the plan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
        b.scan.asInstanceOf[graft.sources.SnapshotScan]
    }
    val scan = scansOf(q.queryExecution.executedPlan).head
    val full = spark.sql("SELECT keys FROM graft.zm.t")
    full.collect()
    val fullScan = scansOf(full.queryExecution.executedPlan).head
    val (fullBuckets, fullSegs) =
      (fullScan.lastPlannedBuckets, fullScan.lastPlannedSegments)
    assert(scan.lastPlannedBuckets < fullBuckets,
      s"no bucket skipped: ${scan.lastPlannedBuckets} of $fullBuckets")
    assert(scan.lastImageSegments < scan.lastPlannedSegments,
      s"no kept-bucket segment image-excluded: ${scan.lastImageSegments}" +
        s" of ${scan.lastPlannedSegments} (full table: $fullSegs segments)")
    assert(scan.lastImageSegments < fullSegs,
      s"pruned scan reads as many images as the full scan: $fullSegs")
    // exactness vs the unpruned state: same rows as filtering in memory
    val all = full.collect().map(_.getString(0)).toSet
    assert(all === Set("a1", "a2", "a3", "b2"), s"base state wrong: $all")
  }

  test("TIMESTAMP AS OF resolves from journal commit times, immune to mtime inversion") {
    val root = catalogRoot
    val dir = s"$root/ttj/t"
    buildTarget(dir)
    Thread.sleep(10) // keep the two journal wall-clocks distinct
    spark.sql("INSERT INTO graft.ttj.t " +
      """VALUES ('k9', 'PUT', '020', '{"v":9}')""")
    val vs = SnapshotStore.versions(spark, dir)
    val ct = SnapshotStore.commitTimes(spark, dir)
    assert(vs.forall(ct.contains), s"journal missing commit times: $ct for $vs")
    val latest = vs.maxBy(ct)
    val preInsert = vs.filterNot(_ == latest).maxBy(ct)
    assert(ct(preInsert) < ct(latest), s"journal times not distinct: $ct")
    // sabotage mtimes: the OLD manifest now looks newer than the new one
    // — a coarse-mtime / clock-skew filesystem at its worst
    val now = System.currentTimeMillis()
    assert(new java.io.File(dir, preInsert).setLastModified(now + 600000))
    assert(new java.io.File(dir, latest).setLastModified(now - 600000))
    def sqlTs(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ")
        .replace("Z", "")
    // an instant between the two COMMIT times reads the pre-insert state
    val mid = (ct(preInsert) + ct(latest)) / 2
    assert(spark.sql(
        s"SELECT keys FROM graft.ttj.t TIMESTAMP AS OF '${sqlTs(mid)}'")
      .as[String].collect().toSet === Set("k1", "k2", "k4", "k5"))
    // an instant after the newest commit reads the live state — even
    // though that manifest's mtime now claims to be 10 minutes old
    assert(spark.sql(
        s"SELECT keys FROM graft.ttj.t TIMESTAMP AS OF '${sqlTs(ct(latest) + 1000)}'")
      .as[String].collect().toSet === Set("k1", "k2", "k4", "k5", "k9"))
  }

  test("_COLUMNS publish: overwrite-rename keeps metadata durable and GCs stale tmps") {
    val root = catalogRoot
    buildTarget(s"$root/colgc/t")
    spark.sql("ALTER TABLE graft.colgc.t ADD COLUMNS (v BIGINT)")
    val dir = new java.io.File(s"$root/colgc/t")
    assert(new java.io.File(dir, "_COLUMNS").exists)
    // plant a stale tmp from a "crashed" prior publish
    val stale = new java.io.File(dir, "_COLUMNS.tmp-deadbeef")
    java.nio.file.Files.writeString(stale.toPath, "junk\tstring")
    // second publish must overwrite-rename (dst EXISTS throughout) and
    // sweep the orphan tmp
    spark.sql("ALTER TABLE graft.colgc.t ADD COLUMNS (tag STRING)")
    assert(!stale.exists, "stale _COLUMNS tmp not GC'd")
    assert(new java.io.File(dir, "_COLUMNS").exists,
      "_COLUMNS absent after republish — the delete-then-rename window is back")
    val cols = spark.table("graft.colgc.t").columns.toSet
    assert(Set("v", "tag").subsetOf(cols), s"projections lost: $cols")
  }

  test("ANALYZE via CALL: stats flip the broadcast decision; incremental folds survive writes") {
    val root = catalogRoot
    val dir = s"$root/an/t"
    // 20 generations of the SAME 400 keys with incompressible images:
    // the segment files carry the whole superseded history (~20x the
    // live state), so file-size statistics VASTLY overcount
    def pad(g: Int, i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 10).map(j => md.digest(s"$g-$i-$j".getBytes)
        .map("%02x".format(_)).mkString).mkString
    }
    for (g <- 1 to 20) {
      val rows = (0 until 400).map(i =>
        (s"k$i", "PUT", f"$g%03d$i%04d", Some(s"""{"g":$g,"pad":"${pad(g, i)}"}""")))
      SnapshotStore.mergeIntoTarget(spark, dir, delta(rows: _*),
        batchId = g.toLong, foldThreshold = 100)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (1024 * 1024).toString) // 1 MB: between resolved (~150 KB) and files (>1.5 MB)
      // the fact side must itself be over the threshold (range stats:
      // 8 B/row), or Spark just broadcasts IT and no flip is visible
      val fact = spark.range(5000000)
        .selectExpr("concat('k', id % 400) AS keys", "id AS vv")
      def plan() = fact
        .join(spark.read.format("graft-snapshot").load(dir), "keys")
        .queryExecution.executedPlan
      // without ANALYZE: file bytes (superseded history included) keep
      // the snapshot side above the threshold -> sort-merge
      assert(!plan().toString.contains("BroadcastHashJoin"),
        s"pre-ANALYZE plan broadcast anyway:\n${plan()}")
      // CALL through the V2 ProcedureCatalog; one summary row returns
      val res = spark.sql("CALL graft.system.analyze('an.t')").collect()
      assert(res.length === 1 && res(0).getLong(1) === 400L,
        s"analyze summary wrong: ${res.mkString}")
      // with ANALYZE: the honest resolved size broadcasts the dimension
      val post = plan()
      assert(post.toString.contains("BroadcastHashJoin"),
        s"post-ANALYZE plan did not broadcast:\n$post")
      // rowCount + per-column NDV/nullCount flow through the V2 stats API
      // (fresh unpruned scan — the AQE wrapper hides the planned one)
      val scan = new graft.sources.SnapshotScan(dir,
        graft.sources.SnapshotSource.Schema, keyLookups = None)
      val st = scan.estimateStatistics()
      assert(st.numRows.getAsLong === 400L)
      val colStats = st.columnStats()
      assert(!colStats.isEmpty, "columnStats empty after ANALYZE")
      var found = false
      colStats.forEach { (ref, cs) =>
        if (ref.fieldNames()(0) == "keys") {
          assert(cs.distinctCount().getAsLong === 400L)
          assert(cs.nullCount().getAsLong === 0L)
          found = true
        }
      }
      assert(found, s"keys column stats missing: $colStats")

      // ── incremental maintenance (r14, VERDICT r13 #4): writes no
      // longer orphan the stats — each publish folds its delta's
      // pre/post contributions into _STATS and re-pins the version, so
      // the BROADCAST DECISION SURVIVES N WRITES with no re-ANALYZE
      for (w <- 1 to 3) {
        val rows = (0 until 50).map(i =>
          (s"k${400 + w * 100 + i}", "PUT", s"999$w$i",
            Some(s"""{"w":$w}"""))) :+
          (s"k$w", "PUT", s"9998$w", Some("""{"upd":true}"""))
        SnapshotStore.mergeIntoTarget(spark, dir, delta(rows: _*),
          batchId = 90L + w, foldThreshold = 100)
      }
      assert(plan().toString.contains("BroadcastHashJoin"),
        s"stats did not survive 3 writes:\n${plan()}")
      val scan2 = new graft.sources.SnapshotScan(dir,
        graft.sources.SnapshotSource.Schema, keyLookups = None)
      val st2 = scan2.estimateStatistics()
      // rows fold EXACTLY: 400 base + 3×50 inserts (the 3 re-PUTs of
      // existing keys are updates, not inserts)
      assert(st2.numRows.getAsLong === 550L,
        s"folded row count wrong: ${st2.numRows}")
      // NDV error contract: after folding, keys-NDV is the HLL(p=12)
      // estimate — ±1.04/√4096 ≈ 1.6% expected; assert within 5%
      var ndv = -1L
      st2.columnStats().forEach { (ref, cs) =>
        if (ref.fieldNames()(0) == "keys") ndv = cs.distinctCount().getAsLong
      }
      assert(math.abs(ndv - 550L) <= 550L * 5 / 100,
        s"folded keys NDV $ndv outside the 5% contract around 550")
      // a DELETE folds the row count DOWN (exact), while NDV — register
      // monotonicity, the stated contract — does not shrink
      SnapshotStore.mergeIntoTarget(spark, dir,
        delta(("k1", "DELETE", "999999999", None)), 94L, foldThreshold = 100)
      val st3 = new graft.sources.SnapshotScan(dir,
        graft.sources.SnapshotSource.Schema, keyLookups = None)
        .estimateStatistics()
      assert(st3.numRows.getAsLong === 549L,
        s"delete did not fold rows down: ${st3.numRows}")
      // compaction preserves state: stats re-pin and keep serving
      SnapshotStore.compactTarget(spark, dir)
      assert(plan().toString.contains("BroadcastHashJoin"),
        "stats orphaned by compaction")
      // INSERT OVERWRITE replaces state wholesale: the fold chain breaks
      // and stats degrade FAIL-SAFE back to file-size estimates
      spark.range(10).selectExpr("concat('z', id) AS keys", "'PUT' AS op",
          "cast(id as string) AS sequenceNumber", "'{}' AS newImage")
        .write.format("graft-snapshot").mode("overwrite").save(dir)
      val st4 = new graft.sources.SnapshotScan(dir,
        graft.sources.SnapshotSource.Schema, keyLookups = None)
        .estimateStatistics()
      assert(!st4.numRows.isPresent,
        s"stale stats served after overwrite: ${st4.numRows}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
