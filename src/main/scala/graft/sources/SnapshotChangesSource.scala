package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.SnapshotStore

/** CHANGE FEED over the snapshot store —
  * `spark.readStream.format("graft-snapshot-changes").load(targetDir)`
  * tails the table's committed versions (the Delta CDF / DynamoDB
  * Streams analog served from the engine's own table format): each
  * micro-batch delivers the RAW delta rows (keys, op, sequenceNumber,
  * newImage) of every segment that entered the manifest since the last
  * processed version, tagged with `_version` (the manifest that
  * committed them). Offsets are manifest names, checkpointed by
  * Structured Streaming — restart resumes from the last committed
  * version.
  *
  * Delivery contract: AT-LEAST-ONCE with LWW idempotence downstream —
  * exactly the contract every consumer in this engine is built for. Two
  * documented re-delivery windows: a maintenance FOLD rewrites a
  * bucket's chain as one compacted segment (its rows re-deliver with
  * their original sequence numbers, so a sequence-guarded consumer
  * no-ops them), and a version pruned by retention before the stream
  * reads it degrades the diff base to empty (full re-delivery, never a
  * gap). Loss is impossible: a segment leaves the manifest only by
  * fold/compaction, whose output supersedes it under the same LWW
  * order.
  */
class SnapshotChangesSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-snapshot-changes"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotChangesSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new SnapshotChangesTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot-changes requires a path: .load(dir)")))
}

object SnapshotChangesSource {
  val Schema: StructType = StructType(
    Seq("keys", "op", "sequenceNumber", "newImage", "_version")
      .map(StructField(_, StringType)))
}

private[sources] class SnapshotChangesTable(path: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft_snapshot_changes $path"
  override def schema(): StructType = SnapshotChangesSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new SnapshotChangesScan(path)
    }
}

private[sources] case class VersionOffset(name: String) extends Offset {
  override def json(): String = s"""{"version":"${name.replace("\"", "")}"}"""
}

private[sources] class SnapshotChangesScan(path: String) extends Scan {
  override def readSchema(): StructType = SnapshotChangesSource.Schema
  override def description(): String = s"graft-snapshot-changes $path"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotChangesStream(path)
}

private[sources] class SnapshotChangesStream(path: String) extends MicroBatchStream {
  private def spark = SparkSession.active

  override def initialOffset(): Offset = VersionOffset("")

  override def latestOffset(): Offset =
    VersionOffset(SnapshotStore.versions(spark, path).lastOption.getOrElse(""))

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"version":"(.*)"\}""".r
    json match {
      case m(v) => VersionOffset(v)
      case _ => throw new IllegalArgumentException(s"bad offset: $json")
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Segment sets of the two offsets; a missing (pruned) start manifest
    * degrades to the empty base — the documented at-least-once window.
    * A fresh L1 segment is read in its bucket's partition; a fresh L0 in
    * one partition of its own, for exactly the buckets whose end chain
    * lists it, so each of its rows is delivered once (a bucket that
    * folded since re-delivers through its fold output instead).
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endName = end.asInstanceOf[VersionOffset].name
    val startName = start.asInstanceOf[VersionOffset].name
    if (endName.isEmpty) return Array.empty
    val endM = SnapshotStore.manifestNamed(spark, path, endName).getOrElse(
      throw new IllegalStateException(
        s"change feed end version '$endName' is missing — the stream's own " +
          "latestOffset named it, so this is table corruption, not retention"))
    val baseSegs: Set[String] =
      if (startName.isEmpty) Set.empty
      else SnapshotStore.manifestNamed(spark, path, startName)
        .map(_.buckets.values.flatten.toSet).getOrElse(Set.empty)
    val fresh = endM.buckets.toSeq.sortBy(_._1).flatMap { case (b, segs) =>
      segs.filterNot(baseSegs.contains).map(_ -> b)
    }
    val (l0, l1) = fresh.partition { case (seg, _) => SnapshotStore.isL0(seg) }
    def full(rel: String) = new Path(path, rel).toString
    val perBucket = l1.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, segs) =>
      SnapshotChangesPartition(endName, segs.map(s => full(s._1)), Set(b))
    }
    val shared = l0.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, bs) =>
      SnapshotChangesPartition(endName, Seq(full(seg)), bs.map(_._2).toSet)
    }
    (perBucket ++ shared).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the SESSION Hadoop conf, broadcast once per micro-batch scan
    val conf = SnapshotSource.broadcastHadoopConf()
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new SnapshotChangesReader(p.asInstanceOf[SnapshotChangesPartition],
          conf.value.value)
    }
  }
}

/** `buckets`: whose rows of `segmentDirs` this partition delivers. */
private[sources] case class SnapshotChangesPartition(
    version: String, segmentDirs: Seq[String], buckets: Set[Int]) extends InputPartition

/** Raw delta rows — no resolve: a change feed delivers what was written.
  * Rows stream lazily file-by-file, row-group-by-row-group (memory is
  * ONE row group, not the partition): a large committed version — or the
  * empty-base full re-delivery window — must not buffer a whole bucket
  * chain in executor memory when the resolving batch reader's state is
  * bounded by live keys.
  */
private[sources] class SnapshotChangesReader(p: SnapshotChangesPartition,
                                             conf: Configuration)
    extends PartitionReader[InternalRow] {
  // the currently-open file walk, tracked so close() can release it even
  // when Spark abandons the scan mid-partition (e.g. a LIMIT)
  private var open: ParquetSegments.RowGroupIterator = _

  private lazy val rows: Iterator[InternalRow] = {
    val ver = UTF8String.fromString(p.version)
    p.segmentDirs.iterator
      .flatMap(dir => ParquetSegments.listParquet(conf, dir).iterator)
      .flatMap { file =>
        val it = new ParquetSegments.RowGroupIterator(conf, file, p.buckets)
        open = it
        it
      }
      .flatten
      .map { case (k, op, seq, img) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(k), UTF8String.fromString(op),
          UTF8String.fromString(seq),
          if (img == null) null else UTF8String.fromString(img), ver))
      }
  }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = if (open != null) open.close()
}
