package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec
import graft.streaming.SnapshotStore

/** Point lookups on the V2 source: a key set that hashes into one bucket
  * is resolved on the driver ([[SnapshotLocalScan]]) and runs no Spark
  * job, with results equal to [[SnapshotStore.readTarget]]; wider or
  * non-key reads keep the parallel scan; every reader and writer factory
  * ships the Hadoop conf as a broadcast, not inline; and one scan plans
  * against one manifest version.
  */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = 8

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath

  // a suite-unique catalog name: Spark caches a catalog per session by
  // name, so reusing another suite's name would keep that suite's root
  private lazy val root: String = {
    val r = tmp("pl-catroot")
    spark.conf.set("spark.sql.catalog.graftpl", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graftpl.root", r)
    r
  }

  private def delta(rows: (String, String, String, Option[String])*): DataFrame =
    rows.toDF("keys", "op", "sequenceNumber", "newImage")

  /** Table `graftpl.pl.<name>`: k00..k39 in batch 1; batch 2 overwrites
    * k01 (its winner sits in the later delta segment), tombstones k02
    * and re-delivers a stale k03 that must lose. */
  private def table(name: String): (String, String) = {
    val dir = s"$root/pl/$name"
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 1, numBuckets = Buckets,
      delta = delta((0 until 40).map(i =>
        (f"k$i%02d", "PUT", s"${100 + i}", Some(s"""{"v":$i}"""))): _*))
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 2, numBuckets = Buckets,
      delta = delta(
        ("k01", "PUT", "500", Some("""{"v":1000}""")),
        ("k02", "DELETE", "501", None),
        ("k03", "PUT", "050", Some("""{"v":-3}"""))))
    (s"graftpl.pl.$name", dir)
  }

  private def lookup(t: String, k: String, asOf: String = ""): DataFrame =
    spark.sql(s"SELECT keys, sequenceNumber, newImage FROM $t$asOf WHERE keys = :k",
      Map("k" -> k))

  private def triples(df: DataFrame): Set[(String, String, String)] =
    df.select("keys", "sequenceNumber", "newImage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** The Spark jobs `body` starts on this thread, counted through a job
    * group so no other thread's job is miscounted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"pl-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "point lookup spec")
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  test("a single-key catalog lookup runs no Spark job and plans a bare LocalTableScanExec") {
    val (t, dir) = table("zero")
    lookup(t, "k05").collect() // first use: catalog and class loading
    val q = lookup(t, "k07")
    val (rows, jobs) = jobsOf(q.collect())
    assert(jobs === 0, s"the lookup ran $jobs jobs:\n${q.queryExecution.executedPlan}")
    assert(isLocal(q), s"not a bare local scan:\n${q.queryExecution.executedPlan}")
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ===
      triples(SnapshotStore.readTarget(spark, dir).filter($"keys" === "k07")))
    // the scan planned exactly the key's bucket
    val scan = q.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[SnapshotLocalScan].scan
    assert(scan.lastPlannedBuckets === 1)
  }

  test("driver-local lookups equal readTarget: present, absent, tombstoned, later-delta " +
    "winner, after a fold, VERSION AS OF, projected column and _bucket") {
    val (t, dir) = table("eq")
    def expect(k: String, state: DataFrame = SnapshotStore.readTarget(spark, dir)) =
      triples(state.filter($"keys" === k))
    def check(k: String, asOf: String = "",
              state: => DataFrame = SnapshotStore.readTarget(spark, dir)): Unit = {
      val q = lookup(t, k, asOf)
      assert(isLocal(q), s"$k$asOf was not served locally:\n${q.queryExecution.executedPlan}")
      assert(triples(q) === expect(k, state), s"lookup of $k$asOf")
    }
    check("k05")                                  // present, first segment
    check("k01")                                  // winner in the later delta
    assert(triples(lookup(t, "k01")).head._3 === """{"v":1000}""")
    check("k02")                                  // tombstoned: absent
    assert(triples(lookup(t, "k02")).isEmpty)
    check("k03")                                  // stale re-delivery lost
    assert(triples(lookup(t, "k03")).head._2 === "103")
    check("nope")                                 // never written
    assert(triples(lookup(t, "nope")).isEmpty)

    // VERSION AS OF the retained older version: batch 1's state, where
    // k01 had its first image and k02 was still live
    val v1 = SnapshotStore.versions(spark, dir).head
    val asOf = s" VERSION AS OF '$v1'"
    Seq("k01", "k02", "k05").foreach(k =>
      check(k, asOf, SnapshotStore.readTargetAsOf(spark, dir, v1)))
    assert(triples(lookup(t, "k02", asOf)).map(_._2) === Set("102"))

    SnapshotStore.compactTarget(spark, dir)       // fold every chain
    assert(SnapshotStore.storeStats(spark, dir).forall(_.maxChainLength == 1))
    Seq("k01", "k02", "k03", "k05", "nope").foreach(k => check(k))

    // a projected ALTER column and the _bucket metadata column, against
    // the parallel full scan of the same table
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (v BIGINT)")
    val pq = spark.sql(s"SELECT keys, v, _bucket FROM $t WHERE keys = 'k01'")
    assert(isLocal(pq), pq.queryExecution.executedPlan.toString)
    val full = spark.sql(s"SELECT keys, v, _bucket FROM $t").collect()
      .filter(_.getString(0) == "k01")
    assert(pq.collect().toSeq === full.toSeq)
    assert(full.head.getLong(1) === 1000L)
    assert(full.head.getInt(2) === SnapshotSource.bucketOf("k01", Buckets))
  }

  test("a lookup with an extra non-key predicate stays correct") {
    val (t, _) = table("residual")
    def keysOf(where: String) =
      spark.sql(s"SELECT keys FROM $t WHERE $where").collect().map(_.getString(0)).toSet
    assert(keysOf("keys = 'k05' AND newImage LIKE '%5%'") === Set("k05"))
    assert(keysOf("keys = 'k05' AND op = 'DELETE'") === Set.empty[String])
    assert(keysOf("keys = 'k05' AND sequenceNumber > '105'") === Set.empty[String])
    assert(keysOf("keys = 'k02' OR keys = 'k05'") === Set("k05"))
    // an empty key intersection reads nothing
    assert(keysOf("keys = 'k05' AND keys IN ('k06', 'k07')") === Set.empty[String])
  }

  test("a two-bucket IN list keeps the parallel BatchScanExec") {
    val (t, dir) = table("multi")
    val a = "k05"
    val b = (0 until 40).map(i => f"k$i%02d")
      .find(k => SnapshotSource.bucketOf(k, Buckets) != SnapshotSource.bucketOf(a, Buckets)).get
    val q = spark.sql(s"SELECT keys, sequenceNumber, newImage FROM $t WHERE keys IN ('$a', '$b')")
    val plan = q.queryExecution.executedPlan
    assert(plan.collect { case s: BatchScanExec => s }.size === 1, plan.toString)
    assert(plan.collect { case s: LocalTableScanExec => s }.isEmpty, plan.toString)
    assert(triples(q) ===
      triples(SnapshotStore.readTarget(spark, dir).filter($"keys".isin(a, b))))
  }

  test("every reader and writer factory ships the Hadoop conf as a broadcast (under 16 KB)") {
    val (_, dir) = table("factories")
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def size(f: AnyRef): Int = ser.serialize(f).limit()
    val writeInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    val factories: Seq[(String, AnyRef)] = Seq(
      "row scan" -> new SnapshotScan(dir, SnapshotSource.Schema, keyLookups = None)
        .createReaderFactory(),
      "aggregate scan" -> new SnapshotAggScan(dir,
        Seq(SnapshotAggScan.AggCol("count_star", None)), new ManifestPin(dir, None))
        .createReaderFactory(),
      "change feed" -> new SnapshotChangesStream(dir).createReaderFactory(),
      "batch write" -> new SnapshotBatchWrite(dir, None, Seq(0, 1, 2, 3))
        .createBatchWriterFactory(writeInfo),
      "streaming write" -> new SnapshotStreamingWrite(dir, Seq(0, 1, 2, 3))
        .createStreamingWriterFactory(writeInfo),
      "row-level write" -> new SnapshotDeltaBatchWrite(dir, Seq("keys", "sequenceNumber"))
        .createBatchWriterFactory(writeInfo))
    val sizes = factories.map { case (n, f) => n -> size(f) }
    info(s"serialized factory bytes: ${sizes.mkString(", ")}")
    sizes.foreach { case (n, b) =>
      assert(b < 16 * 1024, s"$n factory serializes to $b bytes") }
  }

  test("one scan plans against one manifest version, even across a commit") {
    val (_, dir) = table("pinned")
    def segments(s: SnapshotScan) = s.planInputPartitions().toSeq
      .map(_.asInstanceOf[SnapshotInputPartition]).map(p => p.bucket -> p.segmentDirs)
    val scan = new SnapshotScan(dir, SnapshotSource.Schema, keyLookups = None)
    val before = segments(scan)
    SnapshotStore.mergeIntoTarget(spark, dir, batchId = 3, numBuckets = Buckets,
      delta = delta((0 until 40).map(i =>
        (f"k$i%02d", "PUT", s"${900 + i}", Some("{}"))): _*))
    assert(segments(scan) === before, "the scan re-read the manifest mid-planning")
    assert(segments(new SnapshotScan(dir, SnapshotSource.Schema, keyLookups = None)) !==
      before, "the commit did not change the manifest")
  }
}
