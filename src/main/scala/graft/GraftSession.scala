package graft

import org.apache.spark.sql.SparkSession

/** Engine session defaults, applied by Verify/Bench/tests.
  *
  * These are the scale-posture knobs: AQE re-plans at runtime (skew joins,
  * dynamic coalescing), broadcast threshold stays at default so dimension
  * tables broadcast, and nanosAsLong lets Spark 4 read parquet
  * TIMESTAMP(NANOS) columns (the driver `events` table) — the loader then
  * converts ns→µs timestamps exactly (Tables.events).
  */
object GraftSession {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
  // NOTE: driver heap is NOT set here — in local mode the JVM is already
  // running, so spark.driver.memory would silently do nothing. The heap
  // comes from build.sbt's -Xmx javaOption (SPARK_DRIVER_MEM env).

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = tune(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
