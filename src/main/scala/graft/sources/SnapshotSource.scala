package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.SnapshotStore

/** DataSource V2 connector over the engine's bucket-manifest snapshot
  * store: `spark.read.format("graft-snapshot").load(targetDir)` (or
  * `.option("path", dir)`) serves the RESOLVED current state — the same
  * rows as [[SnapshotStore.readTarget]] — as a first-class Spark table,
  * so downstream SQL/DataFrame consumers need no engine import at all.
  *
  * This is the full V2 read stack, each layer doing real work:
  *
  *   - PARTITION PLANNING: one input partition per manifest bucket, each
  *     carrying its ordered segment chain — buckets resolve in parallel
  *     and a 100 TB table's parallelism is its bucket count.
  *   - FILTER PUSHDOWN ([[SupportsPushDownFilters]]): `keys = 'x'` /
  *     `keys IN (...)` prunes to the buckets those keys hash into —
  *     pmod(xxhash64(key), numBuckets), the exact write-side bucket
  *     function — and the reader drops every other key before it
  *     compares sequences or decodes an image.
  *   - DRIVER-LOCAL POINT LOOKUPS ([[LocalScan]]): when the pushed key
  *     set hashes into ONE bucket of the pinned manifest, the scan is a
  *     [[SnapshotLocalScan]] that resolves that bucket's chain on the
  *     driver and Spark plans it as a bare `LocalTableScanExec` — the
  *     lookup runs no job. Its key filter is exact, so the key
  *     predicates are reported as handled; a multi-bucket key set keeps
  *     the parallel scan, with the pushed set re-applied after it.
  *   - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): the reader
  *     materializes only requested fields.
  *   - RUNTIME bucket pruning ([[SupportsRuntimeFiltering]], the
  *     dynamic-partition-pruning analog): when this table is the probe
  *     side of a key join with a selective build side, Spark hands the
  *     build side's key set to the scan AT RUNTIME and only those keys'
  *     buckets are read — a key-join against a 100 TB snapshot touches
  *     the joined keys' buckets, not the table.
  *   - LIMIT pushdown ([[SupportsPushDownLimit]], partial): resolution
  *     still replays full chains (LWW needs every delta row) but each
  *     partition emits at most `limit` resolved rows.
  *   - MERGE-ON-READ in the reader: each partition replays its chain
  *     through parquet-mr, keeping per key the LWW winner under the
  *     engine's (canonical-length, canonical, raw-length, raw) sequence
  *     order — [[graft.ops.CdcOps.numericStringOrder]]'s Scala mirror —
  *     and drops DELETE tombstones; state is bounded by live keys per
  *     BUCKET, the same memory class as a shuffle-side aggregate.
  *
  * Scope: the canonical single-`keys` layout (every streaming target in
  * this engine); time travel rides the connector too —
  * `.option("versionAsOf", <manifest>)` reads a retained committed
  * version through the same pruned scan (orphan manifests refused).
  * Each scan reads the manifest once ([[ManifestPin]]), and its reader
  * factories carry the session Hadoop conf as one broadcast, never a
  * per-task copy.
  */
class SnapshotSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-snapshot"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new SnapshotTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires a path: .load(dir) or .option(\"path\", dir)")))
}

object SnapshotSource {
  /** Metadata column: the resolved row's sequence, "" for null. */
  val ReadSeqCol = "_read_seq"

  /** Resolved-state schema of the canonical store layout (r11: includes
    * `op` — the surviving row's operation, and the column that lets SQL
    * INSERT align against the table schema with no ACCEPT_ANY_SCHEMA
    * escape hatch). keys/op are non-nullable; sequenceNumber is null
    * for a metadata-less seed row, so the row-level operations take the
    * read sequence from the non-nullable `_read_seq` metadata column).
    */
  val Schema: StructType = StructType(Seq(
    StructField("keys", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("sequenceNumber", StringType, nullable = true),
    StructField("newImage", StringType, nullable = true)))

  /** Driver/executor-shared mirror of the store's bucket function:
    * pmod(xxhash64(keys), n) with Spark's default seed.
    */
  def bucketOf(key: String, n: Int): Int = {
    val h = new XxHash64(Seq(Literal(UTF8String.fromString(key), StringType)))
      .eval(InternalRow.empty).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  /** The SESSION Hadoop conf (spark.hadoop.* and runtime settings, so
    * object-store credentials and endpoints reach executor-side parquet
    * I/O), broadcast once per scan or write — Spark's own V2 file-scan
    * idiom (its `SerializableConfiguration.broadcast` is Spark-private).
    * A factory FIELD holding the conf (~114 KB serialized) would be
    * shipped inside, and deserialized by, every task (~40 ms each).
    */
  private[sources] def broadcastHadoopConf(): Broadcast[SerializableConfiguration] = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  /** The store's bucket transform as a V2 catalog function (r13) —
    * the missing piece for STORAGE-PARTITIONED JOINS: a scan reports
    * `KeyGroupedPartitioning(bucket(numBuckets, keys))`, Spark resolves
    * the named `bucket` transform against the table's FunctionCatalog
    * ([[SnapshotCatalog]]), and two snapshot tables with equal bucket
    * counts join with ZERO exchange — neither side of a 100 TB ⋈
    * 100 TB key join moves. The bound function is the write path's own
    * pmod(xxhash64(keys), n) ([[bucketOf]]), so the reported clustering
    * can never disagree with where rows physically live.
    */
  object BucketFunction
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
    import org.apache.spark.sql.types.{DataType, IntegerType}
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, keys): the snapshot store's write-side bucket id"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        inputType.fields(1).dataType == StringType,
        s"bucket expects (int, string), got $inputType")
      Bound
    }
    private object Bound extends ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, StringType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer =
        Integer.valueOf(
          bucketOf(input.getUTF8String(1).toString, input.getInt(0)))
    }
  }
}

private[sources] class SnapshotTable(path: String,
                                     pinnedVersion: Option[String] = None)
    extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Metadata columns (r12): `_bucket` — the manifest bucket a row's
    * key hashes into (pmod(xxhash64(keys), N), the store's own write
    * function). Hidden from `SELECT *`; naming it makes data-layout
    * questions one query ("is this key set skewed across buckets",
    * "which bucket does this hot key live in") instead of a
    * hand-computed hash. Costs nothing to serve: the value IS the
    * reader's partition id. `_read_seq` — the row's sequenceNumber, ""
    * when it has none: the non-nullable half of the row-level
    * operations' row id.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def meta(n: String, t: org.apache.spark.sql.types.DataType, doc: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = t
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    Array(
      meta("_bucket", org.apache.spark.sql.types.IntegerType,
        "manifest bucket of the row's key: pmod(xxhash64(keys), numBuckets)"),
      meta(SnapshotSource.ReadSeqCol, StringType,
        "the row's sequenceNumber, empty when it has none"))
  }

  /** MERGE INTO / UPDATE / complex-predicate DELETE (r11): the
    * delta-based row-level contract — see
    * [[graft.sources.SnapshotRowLevelOp]] for the sequence discipline
    * that makes each statement win its own LWW race.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new SnapshotRowLevelBuilder(path, info, schema())

  /** SQL `DELETE FROM` (r11): key-addressed deletes become TOMBSTONE
    * delta rows merged through the store's own locked commit — O(|live
    * victims|), never a rewrite of any segment. The tombstone's
    * sequence is the victim's current sequence with '0' APPENDED,
    * which outranks it under the engine's numeric-string order for ANY
    * current value (the canonical form gains a digit, so its length
    * class strictly increases) — the delete wins the LWW race exactly
    * once and an older in-flight PUT cannot resurrect the key.
    * Accepted predicates: none (truncate = every live key),
    * `keys = 'x'`, `keys IN (...)`, and conjunctions thereof; anything
    * else is refused via canDeleteWhere so Spark raises a plan-time
    * error instead of silently deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall {
      // a null-valued equality must be REFUSED, not accepted: deleteWhere
      // derives key sets from non-null values only, so accepting
      // EqualTo("keys", null) here would leave keySets empty → wanted=None
      // → the no-predicate TRUNCATE branch, widening `keys = NULL`
      // (matches nothing under SQL semantics) into delete-everything.
      case EqualTo("keys", v) => v != null
      case In("keys", _) => true
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    require(canDeleteWhere(filters), s"unsupported delete predicates: " +
      filters.mkString(", "))
    val spark = SparkSession.active
    val keySets = filters.collect {
      case EqualTo("keys", v) if v != null => Set(v.toString)
      case In("keys", vs) => vs.filter(_ != null).map(_.toString).toSet
    }
    val wanted = keySets.reduceOption(_ intersect _)
    val live = SnapshotStore.readTarget(spark, path)
      .select("keys", "sequenceNumber")
    val victims = wanted.fold(live)(ks =>
      if (ks.isEmpty) live.limit(0)
      else live.filter(col("keys").isin(ks.toSeq: _*)))
    val delta = victims.select(
      col("keys"),
      lit("DELETE").as("op"),
      concat(col("sequenceNumber"), lit("0")).as("sequenceNumber"),
      lit(null).cast("string").as("newImage"))
    SnapshotStore.mergeIntoTarget(spark, path, delta,
      batchId = SnapshotWriteIds.next(spark, path))
  }

  override def name(): String = s"graft_snapshot $path"

  /** Projected JSON-image columns added by `ALTER TABLE ... ADD COLUMNS`
    * (r12, see [[SnapshotCatalog.alterTable]]): read once per table load
    * — the table object is per-query, so a concurrent ALTER lands at the
    * next load, like any catalog metadata change.
    */
  private lazy val projected: Seq[StructField] =
    SnapshotProjectedColumns.read(
      SparkSession.active.sessionState.newHadoopConf(), path)

  override def schema(): StructType =
    StructType(SnapshotSource.Schema.fields ++ projected)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      // INSERT OVERWRITE / .mode("overwrite") → WriteBuilder.truncate()
      TableCapability.TRUNCATE,
      // writeStream.toTable: epoch-id batches through the locked merge
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // catalog time travel (VERSION AS OF) pins the version at loadTable
    // time; the read option keeps working for path-based reads
    new SnapshotScanBuilder(path,
      Option(options.get("versionAsOf")).orElse(pinnedVersion), schema())
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(path,
      Option(info.options.get("batchId")).map(_.toLong), info.schema())
}

private[sources] class SnapshotScanBuilder(path: String,
                                            versionAsOf: Option[String] = None,
                                            tableSchema: StructType =
                                              SnapshotSource.Schema)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var keyLookups: Option[Set[String]] = None
  private var zoneFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[(String, Boolean)], Int)] = None
  private var aggCols: Option[Seq[SnapshotAggScan.AggCol]] = None
  private val pin = new ManifestPin(path, versionAsOf)
  /** The pushed key set hashes into one bucket: [[build]] serves it
    * on the driver ([[SnapshotLocalScan]]). */
  private var local = false

  /** Projected (schema-evolution) columns of this table — the surface
    * zone-map pruning applies to (r13). */
  private lazy val projTypes: Map[String, org.apache.spark.sql.types.DataType] =
    tableSchema.fields
      .filterNot(f => SnapshotSource.Schema.fieldNames.contains(f.name))
      .map(f => f.name -> f.dataType).toMap

  private def keyPredicate(f: Filter): Boolean = f match {
    case EqualTo("keys", _: String) => true
    case In("keys", vs) => vs.forall(_.isInstanceOf[String])
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val keySets = filters.collect {
      case EqualTo("keys", v: String) => Set(v)
      case In("keys", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    if (keySets.nonEmpty) {
      val ks = keySets.reduce(_ intersect _)
      keyLookups = Some(ks)
      pushed = filters.filter(keyPredicate)
      local = pin.value.exists { case (_, m) =>
        ks.map(SnapshotSource.bucketOf(_, m.numBuckets)).size == 1
      }
    }
    // zone-map pruning filters (r13): null-rejecting comparisons on
    // projected columns — used to skip segments (and whole buckets)
    // whose recorded min/max prove no row can satisfy them; always ALSO
    // returned as residual, so over-acceptance is impossible
    zoneFilters = filters.filter(f => ZonePrune.prunable(f, projTypes))
    if (zoneFilters.nonEmpty)
      pushed = (pushed ++ zoneFilters).distinct
    // the parallel scan prunes and Spark re-applies everything; the
    // driver-local scan's key filter is exact, and a Filter left above
    // it would run a job, so its key predicates (and the non-nullable
    // key column's IsNotNull) are handled here
    if (local) filters.filterNot(f => keyPredicate(f) || f == IsNotNull("keys"))
    else filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fields.nonEmpty) required = requiredSchema

  /** LIMIT pushdown — PARTIAL by contract (isPartiallyPushed = true, so
    * Spark keeps its own global limit): the reader still must replay
    * each bucket's full chain (LWW needs every delta row) but caps the
    * RESOLVED rows it emits, so a `LIMIT n` over a wide table stops
    * serializing after n rows per bucket instead of streaming the whole
    * resolved state into Spark's limit.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown (r13), PARTIAL by contract: `ORDER BY <base cols>
    * LIMIT n` over a snapshot keeps the full per-bucket LWW replay (the
    * winner for any key can hide in any segment) but each bucket then
    * emits only its n best rows through a bounded heap — a top-10 over
    * a 100 TB table ships |buckets|·10 rows into Spark's global TopN
    * instead of the resolved state. Accepted orderings: the base
    * string columns (keys / op / sequenceNumber), either direction with
    * its default null ordering (ASC NULLS FIRST, DESC NULLS LAST — the
    * heap orders a metadata-less row's null sequence lowest). Projected
    * (schema-evolution) columns, newImage, and _bucket are refused and
    * fall back to the ordinary scan.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val sortable = Set("keys", "op", "sequenceNumber")
    val cols: Seq[Option[(String, Boolean)]] = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            sortable.contains(nr.fieldNames()(0)) &&
            o.nullOrdering() == o.direction().defaultNullOrdering() =>
          Some((nr.fieldNames()(0),
            o.direction() == SortDirection.DESCENDING))
        case _ => None
      }
    }
    if (cols.isEmpty || cols.exists(_.isEmpty)) false
    else { topN = Some((cols.flatten, n)); true }
  }

  /** AGGREGATE pushdown (r11), PARTIAL by contract: a folded segment
    * still carries DELETE markers and a chained bucket needs full LWW
    * replay, so no aggregate over the RESOLVED state can be answered
    * from parquet footers alone — but the reader resolves each bucket
    * anyway, so it can emit ONE pre-aggregated row per bucket instead
    * of streaming every resolved row into Spark's aggregate. A global
    * COUNT/MIN/MAX over a 100 TB snapshot then ships |buckets| rows,
    * not |table|. Spark applies the final merge (completePushDown =
    * false). Grouping, DISTINCT, and interplay with pushed key lookups
    * or limits are refused — Spark falls back to the row scan, which
    * stays correct (our filters are residual, so Spark won't offer
    * aggregates with unpushed predicates anyway; the guard is
    * defensive).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
    if (agg.groupByExpressions.nonEmpty || keyLookups.isDefined ||
        zoneFilters.nonEmpty || limit.isDefined || topN.isDefined) return false
    def col(e: VExpr): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 &&
          SnapshotSource.Schema.fieldNames.contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    val specs: Seq[Option[SnapshotAggScan.AggCol]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(SnapshotAggScan.AggCol("count_star", None))
        case c: Count if !c.isDistinct =>
          // count(col) = row count only for the NON-NULLABLE columns;
          // newImage and sequenceNumber can be null, so they are refused
          // (fall back to rows)
          col(c.column).filter(n => n == "keys" || n == "op")
            .map(n => SnapshotAggScan.AggCol("count", Some(n)))
        case m: Min => col(m.column).map(n => SnapshotAggScan.AggCol("min", Some(n)))
        case m: Max => col(m.column).map(n => SnapshotAggScan.AggCol("max", Some(n)))
        case _ => None
      }
    if (specs.isEmpty || specs.exists(_.isEmpty)) false
    else { aggCols = Some(specs.flatten); true }
  }

  override def build(): Scan = aggCols match {
    case Some(cols) => new SnapshotAggScan(path, cols, pin)
    case None =>
      val scan = new SnapshotScan(path, required, keyLookups, versionAsOf,
        limit, zoneFilters, projTypes, topN, Some(pin))
      if (local) new SnapshotLocalScan(scan) else scan
  }
}

/** A scan's ONE read of the table's manifest — `_CURRENT` plus the
  * manifest it names, or the retained `versionAsOf` version — made on
  * first use. Statistics, reported partitioning, partition planning,
  * runtime re-planning and the driver-local path all see this version,
  * so a commit landing mid-planning cannot give them two.
  */
private[sources] final class ManifestPin(path: String,
                                         versionAsOf: Option[String]) {
  /** (manifest name, manifest); None = the table has no commit yet. */
  lazy val value: Option[(String, SnapshotStore.Manifest)] = {
    val spark = SparkSession.active
    versionAsOf match {
      // TIME TRAVEL: the same retained-and-committed check as
      // readTargetAsOf (a crashed publish's orphan manifest must not be
      // readable as if it had committed)
      case Some(v) => Some((v, SnapshotStore.committedManifest(spark, path, v)))
      case None => SnapshotStore.currentManifest(spark, path)
    }
  }
}

/** `imageExcluded(i)` (r13): segment i's zone maps prove no row of it
  * can satisfy the scan's pushed zone filters — the reader still
  * replays its (keys, op, sequenceNumber) for LWW resolution but skips
  * the image column's pages, and a WINNER resolved into such a segment
  * is dropped (its value provably fails the residual filter Spark
  * re-applies anyway). Empty = no exclusions.
  */
private[sources] case class SnapshotInputPartition(
    bucket: Int, segmentDirs: Seq[String],
    imageExcluded: Seq[Boolean] = Nil) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Storage-partitioned-join identity (r13): every resolved row of
    * this partition satisfies bucket(numBuckets, keys) = `bucket` by
    * the write path's construction.
    */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private[graft] class SnapshotScan(path: String, required: StructType,
                                  keyLookups: Option[Set[String]],
                                  versionAsOf: Option[String] = None,
                                  limit: Option[Int] = None,
                                  zoneFilters: Array[Filter] = Array.empty,
                                  projTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
                                  private[graft] val topN: Option[(Seq[(String, Boolean)], Int)] = None,
                                  pin: Option[ManifestPin] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning {

  private val manifestPin = pin.getOrElse(new ManifestPin(path, versionAsOf))
  private def manifest = manifestPin.value

  /** Size statistics from the manifest's segment files (r11): without
    * them a V2 relation reports `spark.sql.defaultSizeInBytes`
    * (effectively infinite), so a 2 MB snapshot dimension NEVER
    * broadcasts and every key join against it sort-merges. Reported
    * size = Σ parquet file lengths over the COMPILE-TIME-pruned
    * buckets — an upper bound on the resolved state (LWW supersession
    * and tombstones only shrink it), which is the safe direction for a
    * broadcast decision; row count is left unknown rather than guessed.
    * Computed ONCE per Scan: Catalyst may request statistics several
    * times while planning one query, and the Scan's manifest is pinned,
    * so per-instance memoization is exactly per-(path, manifest).
    */
  private lazy val listedBytes: Long = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    // a shared L0 is listed by many planned buckets: count it once
    planInputPartitions().toSeq.collect {
      case SnapshotInputPartition(_, dirs, _) => dirs
    }.flatten.distinct.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }.sum
  }

  /** ANALYZE'd statistics (r13): served only while their pinned version
    * IS this scan's version (the live pointer, or the time-travel
    * target) and the scan is unpruned — a write invalidates them back
    * to file-size stats rather than ever serving a stale row count.
    */
  private lazy val analyzed: Option[SnapshotTableStats.TableStats] = {
    val spark = SparkSession.active
    if (keyLookups.isDefined || zoneFilters.nonEmpty) None
    else SnapshotTableStats.read(spark.sessionState.newHadoopConf(), path)
      .filter(st => manifest.exists(_._1 == st.version))
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = analyzed match {
    case Some(st) =>
      // measured resolved-state stats: the honest sizeInBytes (segment
      // file bytes overcount by the superseded-row history — a 20-
      // generation LWW chain would report ~20x its live size and a
      // broadcastable dimension would sort-merge), plus rowCount and
      // per-column NDV/nullCount for the CBO
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(math.max(1L, st.bytes))
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(st.rows)
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
          val m = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          st.cols.filter(c => required.fieldNames.contains(c.name)).foreach { c =>
            m.put(
              org.apache.spark.sql.connector.expressions.Expressions.column(c.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(c.ndv)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(c.nulls)
              })
          }
          m
        }
      }
    case None =>
      // Parquet bytes understate in-memory resolved size (dictionary +
      // snappy compression), which is the UNSAFE direction for a broadcast
      // decision — honor the same knob FileScan uses
      // (spark.sql.sources.fileCompressionFactor, default 1.0) so
      // deployments can scale the estimate without a code change.
      val factor = SparkSession.active.sessionState.conf.fileCompressionFactor
      val bytes = (listedBytes * factor).toLong
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot $path${keyLookups.map(k => s" [${k.size} key lookups]").getOrElse("")}" +
      versionAsOf.map(v => s" asOf=$v").getOrElse("") +
      topN.map { case (o, n) =>
        s" topN=$n(${o.map { case (c, d) => c + (if (d) " DESC" else "") }.mkString(",")})"
      }.getOrElse("")

  // ── RUNTIME bucket pruning (the dynamic-partition-pruning analog):
  // when this table is the probe side of a join on `keys` and the build
  // side is selective, Spark's PartitionPruning rule hands the build
  // side's key set here AT RUNTIME (after the broadcast materializes) —
  // the scan then reads only the buckets those keys hash into, so a
  // key-join against a 100 TB snapshot touches the joined keys' buckets,
  // not the table. Over-acceptance is impossible: the join itself
  // re-applies its condition; pruning only has to be a superset.
  private var runtimeLookups: Option[Set[String]] = None
  /** Bucket count of the last planInputPartitions() — spec observability. */
  @volatile private[graft] var lastPlannedBuckets: Int = -1
  /** Segments whose IMAGE column the last plan will read (planned
    * segments minus zone-map-excluded ones) — spec observability (r13).
    */
  @volatile private[graft] var lastImageSegments: Int = -1
  /** Total segments across the last plan's kept buckets. */
  @volatile private[graft] var lastPlannedSegments: Int = -1

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("keys"))

  override def filter(filters: Array[Filter]): Unit = {
    // lenient value decode: the runtime path may deliver catalyst-side
    // strings (UTF8String), not external java.lang.String
    val sets = filters.collect {
      case EqualTo("keys", v) if v != null => Set(v.toString)
      case In("keys", vs) if vs != null =>
        vs.filter(_ != null).map(_.toString).toSet
    }
    if (sets.nonEmpty) runtimeLookups = Some(sets.reduce(_ intersect _))
  }

  /** Reported physical layout (r13): resolved rows are grouped by the
    * write path's bucket(numBuckets, keys) and each [[SnapshotInputPartition]]
    * carries its bucket id as a partition key — so Spark's
    * storage-partitioned-join machinery (spark.sql.sources.v2.bucketing
    * .enabled) can equi-join two snapshot tables with equal bucket
    * counts WITHOUT shuffling either side. The named `bucket` transform
    * resolves via [[SnapshotCatalog]]'s FunctionCatalog face to
    * [[SnapshotSource.BucketFunction]].
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val planned = planInputPartitions()
    manifest match {
      case Some((_, m)) if planned.nonEmpty =>
        new KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(m.numBuckets, "keys")),
          planned.length)
      case _ => new UnknownPartitioning(planned.length)
    }
  }

  /** Re-planned on every call — a runtime [[filter]] narrows it — but
    * always against the pinned manifest. */
  override def planInputPartitions(): Array[InputPartition] = {
    val planned: Array[InputPartition] = manifest match {
      case None => Array.empty
      case Some((_, m)) =>
        // compile-time and runtime key sets each prune independently; a
        // bucket must be wanted by BOTH present sets
        val wanted = Seq(keyLookups, runtimeLookups).flatten
          .map(_.map(SnapshotSource.bucketOf(_, m.numBuckets)))
          .reduceOption(_ intersect _)
        m.buckets.toSeq.sortBy(_._1)
          .filter { case (b, _) => wanted.forall(_.contains(b)) }
          .flatMap { case (b, segs) =>
            // zone-map pruning (r13): a segment whose recorded stats
            // prove the pushed zone filters unsatisfiable is image-
            // excluded (resolution still replays its keys/sequence); a
            // bucket whose EVERY segment is excluded is skipped outright
            // — no resolved row of it could survive the residual filter
            val excl =
              if (zoneFilters.isEmpty) Seq.fill(segs.length)(false)
              else segs.map { seg =>
                !ZonePrune.segmentCanSatisfy(zoneFilters,
                  m.zoneMaps.getOrElse(SnapshotStore.zoneKey(seg, b), Nil), projTypes)
              }
            if (segs.nonEmpty && excl.forall(identity) && zoneFilters.nonEmpty)
              None
            else Some(SnapshotInputPartition(b,
              segs.map(new Path(path, _).toString), excl): InputPartition)
          }.toArray
    }
    lastPlannedBuckets = planned.length
    lastImageSegments = planned.collect {
      case SnapshotInputPartition(_, dirs, ex) =>
        dirs.length - ex.count(identity)
    }.sum
    lastPlannedSegments = planned.collect {
      case SnapshotInputPartition(_, dirs, _) => dirs.length
    }.sum
    planned
  }

  // one broadcast per scan, however often Spark asks for the factory
  private lazy val conf = SnapshotSource.broadcastHadoopConf()

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(required, conf, limit, topN, keyLookups)

  /** A reader of one planned partition — the driver-local path's face. */
  private[sources] def reader(p: InputPartition, conf: Configuration)
      : PartitionReader[InternalRow] =
    new SnapshotPartitionReader(p.asInstanceOf[SnapshotInputPartition],
      required, conf, limit, topN, keyLookups)
}

private[sources] class SnapshotReaderFactory(schema: StructType,
                                             conf: Broadcast[SerializableConfiguration],
                                             limit: Option[Int],
                                             topN: Option[(Seq[(String, Boolean)], Int)],
                                             keys: Option[Set[String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SnapshotPartitionReader(
      partition.asInstanceOf[SnapshotInputPartition], schema, conf.value.value,
      limit, topN, keys)
}

/** The driver-local face of a single-bucket key lookup: Spark plans a
  * [[LocalScan]] as a bare `LocalTableScanExec`, so `WHERE keys = :k`
  * runs no job. [[rows]] drains the same [[SnapshotPartitionReader]] a
  * task would, over `scan`'s own planned partition, so projected
  * columns, `_bucket`, time travel, limit and zone maps keep one
  * implementation; the reader's key filter is exact, which is why the
  * builder reports the key predicates as handled on this path only.
  * Anything Spark leaves above the scan (a residual non-key Filter, a
  * reordering Project) still answers correctly but runs a job.
  */
private[graft] class SnapshotLocalScan(private[graft] val scan: SnapshotScan)
    extends LocalScan with SupportsReportStatistics {
  private lazy val resolved: Array[InternalRow] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    scan.planInputPartitions().flatMap { p =>
      val r = scan.reader(p, conf)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get()).toArray
      finally r.close()
    }
  }
  override def rows(): Array[InternalRow] = resolved
  override def readSchema(): StructType = scan.readSchema()
  override def description(): String = scan.description() + " driver-local"
  /** Sized like Spark's own LocalRelation (rows × the schema's default
    * row width), so a join against a lookup still broadcasts it. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          math.max(1L, resolved.length.toLong * readSchema().defaultSize))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(resolved.length.toLong)
    }
}

/** Partial-aggregate scan (r11): one pre-aggregated row per bucket.
  * Each partition replays its chain exactly like the row scan (shared
  * [[SnapshotResolve]] — LWW + tombstones identical by construction)
  * and emits a single row of per-bucket partials; Spark's final
  * aggregate merges them. MIN/MAX compare as UTF8String — Spark's own
  * string ordering — so the merged result is bit-equal to aggregating
  * the row scan.
  */
private[graft] class SnapshotAggScan(path: String,
                                     cols: Seq[SnapshotAggScan.AggCol],
                                     pin: ManifestPin)
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(cols.map {
    case SnapshotAggScan.AggCol("count_star", _) =>
      StructField("count_star", org.apache.spark.sql.types.LongType,
        nullable = false)
    case SnapshotAggScan.AggCol("count", Some(c)) =>
      StructField(s"count_$c", org.apache.spark.sql.types.LongType,
        nullable = false)
    case SnapshotAggScan.AggCol(fn, c) =>
      StructField(s"${fn}_${c.getOrElse("")}", StringType)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot-agg $path PushedAggregates: " +
      cols.map(_.render).mkString("[", ", ", "]")

  override def planInputPartitions(): Array[InputPartition] = {
    val planned = pin.value match {
      case None => Array.empty[InputPartition]
      case Some((_, m)) =>
        m.buckets.toSeq.sortBy(_._1).map { case (b, segs) =>
          SnapshotInputPartition(b, segs.map(new Path(path, _).toString))
            : InputPartition
        }.toArray
    }
    // an EMPTY table must still produce one zero-count partial: the
    // final agg rewrites count(*) to a sum of partials, and a sum over
    // zero rows is NULL where count over an empty table is 0
    if (planned.isEmpty) Array(SnapshotInputPartition(0, Nil)) else planned
  }

  private lazy val conf = SnapshotSource.broadcastHadoopConf()

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotAggReaderFactory(cols, conf)
}

private[graft] object SnapshotAggScan {
  /** fn ∈ {count_star, count, min, max}; col for the latter three. */
  final case class AggCol(fn: String, col: Option[String]) {
    def render: String = fn match {
      case "count_star" => "COUNT(*)"
      case f => s"${f.toUpperCase}(${col.getOrElse("")})"
    }
  }
}

private[sources] class SnapshotAggReaderFactory(
    cols: Seq[SnapshotAggScan.AggCol], conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SnapshotAggPartitionReader(
      p.asInstanceOf[SnapshotInputPartition], cols, conf.value.value)
}

private[sources] class SnapshotAggPartitionReader(
    p: SnapshotInputPartition, cols: Seq[SnapshotAggScan.AggCol],
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    var n = 0L
    val mins = mutable.HashMap.empty[String, UTF8String]
    val maxs = mutable.HashMap.empty[String, UTF8String]
    val needMin = cols.collect { case SnapshotAggScan.AggCol("min", Some(c)) => c }.toSet
    val needMax = cols.collect { case SnapshotAggScan.AggCol("max", Some(c)) => c }.toSet
    SnapshotResolve.resolvedEx(p.bucket, p.segmentDirs, Nil, conf).foreach {
      case (k, op, seq, img, _) =>
        n += 1
        val vals = Map("keys" -> k, "op" -> op, "sequenceNumber" -> seq,
          "newImage" -> img)
        for (c <- needMin; v = vals(c); if v != null) {
          val u = UTF8String.fromString(v)
          if (mins.get(c).forall(_.compareTo(u) > 0)) mins.update(c, u)
        }
        for (c <- needMax; v = vals(c); if v != null) {
          val u = UTF8String.fromString(v)
          if (maxs.get(c).forall(_.compareTo(u) < 0)) maxs.update(c, u)
        }
    }
    val out = cols.map {
      case SnapshotAggScan.AggCol("count_star", _) => (n: Any)
      // accepted count columns are non-nullable, so count(col) = n
      case SnapshotAggScan.AggCol("count", Some(_)) => (n: Any)
      case SnapshotAggScan.AggCol("min", Some(c)) => (mins.get(c).orNull: Any)
      case SnapshotAggScan.AggCol("max", Some(c)) => (maxs.get(c).orNull: Any)
      case other => throw new IllegalStateException(s"unreachable agg $other")
    }
    Iterator.single(new GenericInternalRow(out.toArray))
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** The shared bucket-chain LWW replay — one resolution implementation
  * for the row reader and the aggregate reader (r11), so the two paths
  * cannot drift on sequence ordering or tombstone semantics. It runs
  * through parquet-mr (the executor has no SparkSession; parquet-hadoop
  * ships with Spark). Chain order is irrelevant to the result — the LWW
  * order is total over (sequence, raw) — so segments stream in manifest
  * order purely for locality.
  */
private[sources] object SnapshotResolve {
  // key -> (ordKey, op, seq, image)
  type Ord = (Int, String, Int, String)

  /** A null sequence (a metadata-less seed row) orders below every
    * rendered one, so it loses to any real delta — the write side's
    * `numericStringOrder` rule.
    */
  def ordKey(seq: String): Ord =
    if (seq == null) (-1, "", -1, "")
    else {
      val (cl, canon) = graft.ops.CdcOps.numericStringKey(seq)
      (cl, canon, seq.length, seq)
    }

  /** Replay bucket `bucket`'s segment chain; yields resolved LIVE rows
    * (keys, op, sequenceNumber, newImage, excluded) — tombstones
    * dropped — with per-segment image exclusion (r13 zone maps) and
    * an optional exact key set: rows of other keys are dropped as they
    * are read, before any sequence comparison or image decode. LWW
    * stays exact because every row of a WANTED key is still compared.
    * EVERY segment's (keys, op, sequenceNumber) columns are replayed —
    * LWW resolution is exact even when a key's chain spans excluded and
    * kept segments — but excluded segments' image pages are never read
    * (parquet column projection), and a winner that resolves INTO an
    * excluded segment is flagged `true` so the caller can drop it: the
    * segment's zone maps prove every row of it fails the pushed
    * filters, so the winner's resolved row would be discarded by the
    * residual filter Spark re-applies regardless. An excluded segment
    * can therefore hide an older LOSER from nobody (losers don't emit)
    * and a newer WINNER from nobody (the flag drops exactly the rows
    * the filter would).
    */
  def resolvedEx(bucket: Int, segmentDirs: Seq[String], imageExcluded: Seq[Boolean],
                 conf: Configuration, keys: Option[Set[String]] = None)
      : Iterator[(String, String, String, String, Boolean)] = {
    if (segmentDirs.isEmpty) return Iterator.empty
    val fs = new Path(segmentDirs.head).getFileSystem(conf)
    val state =
      mutable.HashMap.empty[String, (Ord, String, String, String, Boolean)]
    for {
      (dir, di) <- segmentDirs.zipWithIndex
      skipImg = imageExcluded.lift(di).getOrElse(false)
      st <- fs.listStatus(new Path(dir)).toSeq.sortBy(_.getPath.getName)
      if st.isFile && st.getPath.getName.endsWith(".parquet")
    } ParquetSegments.foreachRow(conf, st.getPath, Set(bucket), skipImg, keys) {
      (k, op, seq, img) =>
      val ord = ordKey(seq)
      val better = state.get(k).forall { case (o, _, _, _, _) =>
        Ordering[Ord].gt(ord, o)
      }
      if (better) state.update(k, (ord, op, seq, img, skipImg))
    }
    state.iterator.collect {
      case (k, (_, op, seq, img, ex)) if op != "DELETE" =>
        (k, op, seq, img, ex)
    }
  }
}

/** Zone-map pruning predicates (r13): given a segment's recorded
  * [[graft.streaming.SnapshotStore.ZoneStat]]s, decide whether a pushed
  * filter COULD be satisfied by any row of the segment. Sound by
  * construction: only null-rejecting single-column comparisons on
  * projected columns participate; a missing stat, a type mismatch
  * (column re-typed since the stat was written), or an incomparable
  * value always answers "satisfiable". String comparisons use
  * UTF8String byte order — Spark's own string ordering, the one the
  * publish-time min/max were computed under.
  */
private[graft] object ZonePrune {
  import graft.streaming.SnapshotStore.ZoneStat
  import org.apache.spark.sql.types.DataType

  def prunable(f: Filter, projTypes: Map[String, DataType]): Boolean =
    f match {
      case EqualTo(c, v) => v != null && projTypes.contains(c)
      case GreaterThan(c, v) => v != null && projTypes.contains(c)
      case GreaterThanOrEqual(c, v) => v != null && projTypes.contains(c)
      case LessThan(c, v) => v != null && projTypes.contains(c)
      case LessThanOrEqual(c, v) => v != null && projTypes.contains(c)
      case In(c, vs) => vs != null && projTypes.contains(c)
      case IsNotNull(c) => projTypes.contains(c)
      case _ => false
    }

  def segmentCanSatisfy(filters: Seq[Filter], stats: Seq[ZoneStat],
                        projTypes: Map[String, DataType]): Boolean = {
    val byCol = stats.map(z => z.col -> z).toMap
    // stat usable only when the recorded type matches the CURRENT
    // declared type (an ALTER re-type makes old stats meaningless)
    def stat(c: String): Option[ZoneStat] = byCol.get(c)
      .filter(z => projTypes.get(c).exists(_.catalogString == z.typ))
    filters.forall {
      case IsNotNull(c) => stat(c).forall(!_.allNull)
      case EqualTo(c, v) => stat(c).forall(z => !z.allNull &&
        z.min.flatMap(cmp(z.typ, _, v)).forall(_ <= 0) &&
        z.max.flatMap(cmp(z.typ, _, v)).forall(_ >= 0))
      case GreaterThan(c, v) => stat(c).forall(z => !z.allNull &&
        z.max.flatMap(cmp(z.typ, _, v)).forall(_ > 0))
      case GreaterThanOrEqual(c, v) => stat(c).forall(z => !z.allNull &&
        z.max.flatMap(cmp(z.typ, _, v)).forall(_ >= 0))
      case LessThan(c, v) => stat(c).forall(z => !z.allNull &&
        z.min.flatMap(cmp(z.typ, _, v)).forall(_ < 0))
      case LessThanOrEqual(c, v) => stat(c).forall(z => !z.allNull &&
        z.min.flatMap(cmp(z.typ, _, v)).forall(_ <= 0))
      case In(c, vs) => stat(c).forall { z =>
        val nonNull = vs.filter(_ != null)
        nonNull.nonEmpty && !z.allNull && nonNull.exists(v =>
          z.min.flatMap(cmp(z.typ, _, v)).forall(_ <= 0) &&
            z.max.flatMap(cmp(z.typ, _, v)).forall(_ >= 0))
      }
      case _ => true
    }
  }

  /** compare(recorded stat value, filter value) in the recorded type's
    * domain; None = incomparable (never prune on it).
    */
  private def cmp(typ: String, statVal: String, v: Any): Option[Int] =
    try typ match {
      case "bigint" | "int" =>
        val sv = statVal.toLong
        v match {
          case n @ (_: java.lang.Long | _: java.lang.Integer |
                    _: java.lang.Short | _: java.lang.Byte) =>
            Some(java.lang.Long.compare(sv, n.asInstanceOf[Number].longValue))
          case _ => None
        }
      case "double" => v match {
        case n: java.lang.Double =>
          Some(java.lang.Double.compare(statVal.toDouble, n.doubleValue))
        case n: java.lang.Float =>
          Some(java.lang.Double.compare(statVal.toDouble, n.doubleValue))
        case _ => None
      }
      case "string" => v match {
        case t: String => Some(UTF8String.fromString(statVal)
          .compareTo(UTF8String.fromString(t)))
        case _ => None
      }
      case "boolean" => v match {
        case b: java.lang.Boolean =>
          Some(java.lang.Boolean.compare(statVal.toBoolean, b.booleanValue))
        case _ => None
      }
      case _ => None
    } catch { case _: IllegalArgumentException => None }
}

private[sources] class SnapshotPartitionReader(
    p: SnapshotInputPartition, schema: StructType, conf: Configuration,
    limit: Option[Int] = None,
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    keys: Option[Set[String]] = None)
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    val fields = schema.fields
    // projected JSON-image columns (r12 schema evolution): parse the
    // image ONCE per resolved row iff any projected field is actually
    // required — a base-columns-only scan never touches Jackson. The
    // _bucket METADATA column is served from the partition id, never
    // from the image, so it must not trigger a parse either (r13 —
    // a `SELECT _bucket` scan was paying a full Jackson parse per row
    // whose result was never read).
    val needJson = fields.exists(f =>
      f.name != "_bucket" && f.name != SnapshotSource.ReadSeqCol &&
        !SnapshotSource.Schema.fieldNames.contains(f.name))
    val mapper =
      if (needJson) new com.fasterxml.jackson.databind.ObjectMapper else null
    // winners resolved into zone-map-excluded segments are dropped: the
    // segment's stats prove their values fail the pushed filters (the
    // residual filter above the scan would discard them anyway)
    val tuples = SnapshotResolve
      .resolvedEx(p.bucket, p.segmentDirs, p.imageExcluded, conf, keys)
      .collect { case (k, op, seq, img, false) => (k, op, seq, img) }
    // partial TOP-N pushdown: keep this bucket's n best under the pushed
    // ordering through a bounded heap (memory O(n), not O(bucket)).
    // Strings compare as UTF-8 BYTES — Spark orders strings as
    // UTF8String binary, and java.lang.String.compareTo (UTF-16 code
    // units) disagrees above the BMP; a divergent per-bucket prune
    // could drop a row Spark's global TopN would have kept. Ties at the
    // boundary keep an arbitrary n — safe: resolved keys are unique per
    // bucket, and for op/sequence ties any minimal n-multiset feeds
    // Spark's final TopN the same answer set.
    val pruned = topN match {
      case Some((ord, n)) =>
        def cmpStr(a: String, b: String): Int = {
          // only a sequence can be null; null orders lowest
          if (a == null || b == null)
            return (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val m = math.min(x.length, y.length)
          while (i < m) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
        val tupleOrd = new Ordering[(String, String, String, String)] {
          private def field(t: (String, String, String, String),
                            c: String): String = c match {
            case "keys" => t._1
            case "op" => t._2
            case _ => t._3
          }
          override def compare(a: (String, String, String, String),
                               b: (String, String, String, String)): Int = {
            ord.foreach { case (c, desc) =>
              val r = cmpStr(field(a, c), field(b, c))
              if (r != 0) return if (desc) -r else r
            }
            0
          }
        }
        val pq = scala.collection.mutable.PriorityQueue
          .empty[(String, String, String, String)](tupleOrd)
        tuples.foreach { t =>
          pq.enqueue(t)
          if (pq.size > n) pq.dequeue() // evict the current worst
        }
        pq.dequeueAll.reverse.iterator
      case None => tuples
    }
    val resolved = pruned
      .map { case (k, op, seq, img) =>
        val node: com.fasterxml.jackson.databind.JsonNode =
          if (mapper != null && img != null)
            try mapper.readTree(img)
            catch { case _: java.io.IOException => null } // malformed → nulls
          else null
        val arr = fields.map[Any] { f =>
          f.name match {
            case "keys" => UTF8String.fromString(k)
            case "op" => UTF8String.fromString(op)
            case "sequenceNumber" => UTF8String.fromString(seq)
            case "newImage" =>
              if (img == null) null else UTF8String.fromString(img)
            // the _bucket METADATA column is the partition's own id
            // (one bucket per input partition by construction)
            case "_bucket" => java.lang.Integer.valueOf(p.bucket)
            case SnapshotSource.ReadSeqCol => UTF8String.fromString(Option(seq).getOrElse(""))
            case n => JsonProjection.extract(node, n, f.dataType)
          }
        }
        new GenericInternalRow(arr.toArray): InternalRow
    }
    // partial LIMIT pushdown: resolution needed every delta row, but at
    // most `limit` resolved rows leave this partition
    limit.fold(resolved)(resolved.take)
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Typed extraction of a top-level JSON field for the projected-column
  * read path (schema evolution, r12). NULL-lenient by contract: a
  * missing field, JSON null, malformed image, or type-incompatible value
  * all project NULL — old-generation rows written before an ALTER read
  * uniformly with new ones (the diffVersions aligned-as-nulls rule at
  * catalog level). StringType of a non-string scalar/object renders the
  * compact JSON text (get_json_object's behavior).
  */
private[graft] object JsonProjection {
  import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
    IntegerType, LongType}

  /** [[extractExternal]] with strings wrapped for Catalyst rows — the
    * scan's per-row face.
    */
  def extract(node: com.fasterxml.jackson.databind.JsonNode, name: String,
              dt: DataType): Any = extractExternal(node, name, dt) match {
    case s: String => UTF8String.fromString(s)
    case x => x
  }

  /** The ONE definition of projected-column extraction, in external JVM
    * types — shared by the scan (via [[extract]]) and the publish-time
    * zone-map stats (via [[extractUdf]]), so recorded min/max can never
    * disagree with what a scan materializes.
    */
  def extractExternal(node: com.fasterxml.jackson.databind.JsonNode,
                      name: String, dt: DataType): Any = {
    if (node == null) return null
    val v = node.get(name)
    if (v == null || v.isNull) return null
    dt match {
      case StringType => if (v.isTextual) v.asText else v.toString
      case LongType =>
        if (v.isIntegralNumber) java.lang.Long.valueOf(v.longValue) else null
      case IntegerType =>
        if (v.isIntegralNumber && v.canConvertToInt)
          java.lang.Integer.valueOf(v.intValue)
        else null
      case DoubleType =>
        if (v.isNumber) java.lang.Double.valueOf(v.doubleValue) else null
      case BooleanType =>
        if (v.isBoolean) java.lang.Boolean.valueOf(v.booleanValue) else null
      case _ => null // unreachable: alterTable gates the type set
    }
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def nodeOf(img: String): com.fasterxml.jackson.databind.JsonNode =
    if (img == null) null
    else try mapper.readTree(img)
    catch { case _: java.io.IOException => null }

  /** Column extraction as a Spark UDF — the zone-map writer's face
    * (publish-time only, never in the scan hot path).
    */
  def extractUdf(name: String, dt: DataType)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.sql.functions.udf
    dt match {
      case LongType => udf((img: String) =>
        Option(extractExternal(nodeOf(img), name, dt)
          .asInstanceOf[java.lang.Long]).map(_.longValue))
      case IntegerType => udf((img: String) =>
        Option(extractExternal(nodeOf(img), name, dt)
          .asInstanceOf[java.lang.Integer]).map(_.intValue))
      case DoubleType => udf((img: String) =>
        Option(extractExternal(nodeOf(img), name, dt)
          .asInstanceOf[java.lang.Double]).map(_.doubleValue))
      case BooleanType => udf((img: String) =>
        Option(extractExternal(nodeOf(img), name, dt)
          .asInstanceOf[java.lang.Boolean]).map(_.booleanValue))
      case _ => udf((img: String) =>
        extractExternal(nodeOf(img), name, StringType).asInstanceOf[String])
    }
  }
}

/** Shared parquet-mr row walk over a segment file: yields each row's
  * (keys, op, sequenceNumber, newImage) with op defaulted to PUT for
  * metadata-less rows — the one definition both the resolving batch
  * reader and the raw change-feed reader consume.
  */
private[graft] object ParquetSegments {
  def listParquet(conf: Configuration, dir: String): Seq[Path] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Open a segment file (its footer is read here) with read options
    * built from `conf`: `ParquetFileReader.open(InputFile)` builds them
    * on a new default Hadoop configuration for every file, measured at
    * ~12 ms an open against under 1 ms this way.
    */
  def open(conf: Configuration, file: Path,
           filter: Option[FilterPredicate] = None): ParquetFileReader = {
    val opts = HadoopReadOptions.builder(conf, file)
    filter.foreach(f => opts.withRecordFilter(FilterCompat.get(f)))
    new ParquetFileReader(HadoopInputFile.fromPath(file, conf), opts.build())
  }

  def foreachRow(conf: Configuration, file: Path, buckets: Set[Int],
                 skipImage: Boolean = false, keys: Option[Set[String]] = None)
                (f: (String, String, String, String) => Unit): Unit = {
    val it = new RowGroupIterator(conf, file, buckets, skipImage, keys)
    try it.foreach(_.foreach { case (k, op, seq, img) => f(k, op, seq, img) })
    finally it.close()
  }

  /** Lazy per-row-group walk over one segment file: each `next()` yields
    * ONE row group's (keys, op, sequenceNumber, newImage) tuples, so a
    * consumer's memory is bounded by a single row group — never the file,
    * let alone a whole partition's segment chain. The file handle closes
    * itself at exhaustion; a consumer that abandons mid-file must call
    * `close()` (the change-feed PartitionReader does, from its own
    * close()). Given `keys`, only those keys' rows are yielded. A null
    * sequence (a metadata-less row) is yielded as null.
    *
    * `buckets` are the buckets the caller reads this file for, and is
    * the one place the store's visibility rule is enforced: an L0 file
    * holds many buckets' rows (a physical `__bucket` column), and only
    * rows of `buckets` are yielded — pushed into parquet-mr as a
    * `__bucket` filter, so row-group statistics and the page index skip
    * other buckets, then checked exactly per row. An L1 file is one
    * bucket's segment, and `buckets` does not filter it.
    */
  final class RowGroupIterator(conf: Configuration, file: Path, buckets: Set[Int],
                               skipImage: Boolean = false,
                               keys: Option[Set[String]] = None)
      extends Iterator[Seq[(String, String, String, String)]] with AutoCloseable {
    private val shared = SnapshotStore.isL0(file.getParent.toString)
    private var reader: ParquetFileReader = open(conf, file, Option.when(shared) {
      val c = FilterApi.intColumn(SnapshotStore.BucketCol)
      if (buckets.size == 1) FilterApi.eq(c, Int.box(buckets.head))
      else FilterApi.in(c, buckets.map(Int.box).asJava)
    })
    private def nextPages() =
      if (reader == null) null
      else if (shared) reader.readNextFilteredRowGroup()
      else reader.readNextRowGroup()
    // zone-map image exclusion (r13): project the image column OUT of
    // the requested schema, so its pages are never read from storage —
    // resolution only needs (keys, op, sequenceNumber) from this file
    private val schema = {
      val full = reader.getFooter.getFileMetaData.getSchema
      if (skipImage && full.containsField("newImage")) {
        val kept = full.getFields.asScala.filterNot(_.getName == "newImage")
        val projectedSchema =
          new org.apache.parquet.schema.MessageType(full.getName, kept.asJava)
        reader.setRequestedSchema(projectedSchema)
        projectedSchema
      } else full
    }
    private def idx(n: String): Int =
      if (schema.containsField(n)) schema.getFieldIndex(n) else -1
    private val (ki, oi, si, ii, bi) = (idx("keys"), idx("op"),
      idx("sequenceNumber"), idx("newImage"), idx(SnapshotStore.BucketCol))
    require(ki >= 0, s"segment $file has no 'keys' column")
    require(!shared || bi >= 0, s"L0 segment $file has no '${SnapshotStore.BucketCol}' column")
    private val colIO = new ColumnIOFactory().getColumnIO(schema)
    private var pages = nextPages()
    if (pages == null) close()

    override def hasNext: Boolean = pages != null

    override def next(): Seq[(String, String, String, String)] = {
      if (!hasNext) throw new NoSuchElementException(file.toString)
      val rr = colIO.getRecordReader(pages, new GroupRecordConverter(schema))
      val out = Seq.newBuilder[(String, String, String, String)]
      var i = 0L
      val n = pages.getRowCount
      while (i < n) {
        val g = rr.read()
        def str(fi: Int): String =
          if (fi >= 0 && g.getFieldRepetitionCount(fi) > 0)
            g.getValueToString(fi, 0)
          else null
        val k = str(ki)
        // a row of an unwanted key costs its key string only
        if (k != null && keys.forall(_.contains(k)) &&
            (bi < 0 || buckets.contains(g.getInteger(bi, 0))))
          out += ((k, Option(str(oi)).getOrElse("PUT"), str(si), str(ii)))
        i += 1
      }
      pages = nextPages()
      if (pages == null) close()
      out.result()
    }

    override def close(): Unit = {
      if (reader != null) { reader.close(); reader = null }
      pages = null
    }
  }
}
