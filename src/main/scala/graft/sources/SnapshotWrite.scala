package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.SnapshotStore

/** DataSource V2 WRITE path for the snapshot store:
  * `df.write.format("graft-snapshot").mode("append").save(dir)` applies
  * the DataFrame as a CDC delta batch. Executors STAGE the delta (one
  * parquet file per task, written with parquet-mr — no SparkSession on
  * executors), and `BatchWrite.commit` — which Spark runs ON THE DRIVER
  * exactly once after every task has reported success — feeds the staged
  * files through [[SnapshotStore.mergeIntoTarget]]: the same
  * writer-locked, manifest-swapped, journaled merge the streaming sink
  * uses. The connector adds NO second commit protocol; exactly-once and
  * crash atomicity are inherited from the store's (a failed job aborts →
  * staging is deleted, the pointer never moved). `batchId` comes from
  * the option of the same name, defaulting to the max batch id among
  * retained manifests + 1 (see [[SnapshotBatchWrite.nextBatchId]] for
  * the concurrent-writer caveat).
  *
  * Input schema: the canonical delta shape (keys, op, sequenceNumber,
  * newImage) — the V2 `Write` validates it up front so a mis-shaped
  * frame fails at plan time, not mid-merge.
  */
private[sources] object SnapshotWrite {
  val Fields: Seq[String] = Seq("keys", "op", "sequenceNumber", "newImage")

  val ParquetSchema: MessageType = {
    val b = Types.buildMessage()
    Fields.foreach { f =>
      b.addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(stringType()).named(f): PrimitiveType)
    }
    b.named("graft_delta")
  }
}

private[sources] class SnapshotWriteBuilder(path: String, batchId: Option[Long],
                                            schema: org.apache.spark.sql.types.StructType)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  /** INSERT OVERWRITE / .mode("overwrite") (r11): the delta REPLACES
    * the table state through [[SnapshotStore.writeTarget]]'s full
    * locked publish (every bucket becomes a one-segment chain; prior
    * committed versions stay time-travelable). This is the correct
    * overwrite for an LWW table — tombstoning-then-merging in one
    * batch would let a bumped tombstone outrank re-inserted keys.
    */
  private var overwrite = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }

  override def build(): Write = {
    // SQL `INSERT INTO ... VALUES` resolves byPosition against the
    // table schema but the incoming frame keeps Spark's ANONYMOUS
    // generated names (col1..col4) — accept that exact shape
    // positionally as the 4-column delta (r11, the catalog SQL
    // surface). ASSUMPTION: a col1..col4 frame is one Spark generated
    // for a positional write, so col1..col4 ARE (keys, op,
    // sequenceNumber, newImage) in order; a hand-built DataFrame that
    // happens to use those names with a different order binds wrong —
    // name your columns (the named branch below) for programmatic
    // writes. Named frames bind by name so column order never matters.
    // col1..colN with N ≥ 4 (not exactly 4): an ALTERed table's schema
    // carries projected columns after the canonical 4, so a positional
    // INSERT VALUES on it arrives wider — the canonical prefix still
    // binds, and the projected slots are ignored (those columns are
    // DERIVED from newImage at read time; see SnapshotCatalog.alterTable)
    val positional = schema.fieldNames.length >= SnapshotWrite.Fields.length &&
      schema.fieldNames.toSeq ==
        (1 to schema.fieldNames.length).map(i => s"col$i")
    val missing =
      if (positional) Nil
      else SnapshotWrite.Fields.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft-snapshot write requires columns ${SnapshotWrite.Fields.mkString(", ")} " +
        s"(or ≥${SnapshotWrite.Fields.length} positional VALUES columns); " +
        s"missing: ${missing.mkString(", ")}")
    val fieldIdx =
      if (positional) SnapshotWrite.Fields.indices
      else SnapshotWrite.Fields.map(schema.fieldIndex)
    new Write {
      override def toBatch: BatchWrite =
        new SnapshotBatchWrite(path, batchId, fieldIdx, overwrite)
      // STREAMING write (r11): `df.writeStream.toTable("graft.ns.t")` —
      // each epoch's staged files merge as ONE delta batch with
      // batchId = epochId, so Spark's checkpointed epoch replay lands
      // on the store's idempotent LWW merge (the same exactly-once
      // argument the foreachBatch sinks rely on)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new SnapshotStreamingWrite(path, fieldIdx)
    }
  }
}

private[sources] class SnapshotStreamingWrite(path: String, fieldIdx: Seq[Int])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val staging =
    s"$path/_staging-${java.util.UUID.randomUUID().toString.take(12)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new SnapshotStreamingWriterFactory(staging, fieldIdx,
      SnapshotSource.broadcastHadoopConf())

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case m: SnapshotWriteMessage if m.rows > 0 => m.file
    }
    try {
      if (files.nonEmpty)
        SnapshotStore.mergeIntoTarget(spark, path,
          spark.read.parquet(files: _*), batchId = epochId)
    } finally cleanup(spark)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active)

  private def cleanup(spark: SparkSession): Unit = {
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

private[sources] class SnapshotStreamingWriterFactory(
    staging: String, fieldIdx: Seq[Int],
    conf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(
      s"$staging/epoch-$epochId-part-$partitionId-$taskId.parquet",
      fieldIdx, conf.value.value)
}

private[sources] class SnapshotBatchWrite(path: String, batchId: Option[Long],
                                          fieldIdx: Seq[Int],
                                          overwrite: Boolean = false)
    extends BatchWrite {
  private val staging = s"$path/_staging-${java.util.UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // driver-captured SESSION Hadoop conf: executors staging parquet with
    // a bare `new Configuration()` would drop spark.hadoop.* credentials
    // on any non-default filesystem
    new SnapshotDataWriterFactory(staging, fieldIdx,
      SnapshotSource.broadcastHadoopConf())

  /** Default batchId when no option is given: max batch id named by a
    * retained manifest, + 1 — deterministic and monotonic for the
    * sequential unoptioned-write case (the scan runs just before the
    * store-locked merge; two CONCURRENT unoptioned writers can still
    * read the same max and share an id, which the per-publish nonce
    * disambiguates and the LWW sequence order — not batchId — resolves).
    */
  private def nextBatchId(spark: SparkSession): Long =
    SnapshotWriteIds.next(spark, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case m: SnapshotWriteMessage if m.rows > 0 => m.file }
    try {
      if (files.nonEmpty) {
        val delta = spark.read.parquet(files: _*)
        val id = batchId.getOrElse(nextBatchId(spark))
        if (overwrite) SnapshotStore.writeTarget(delta, path, batchId = id)
        else SnapshotStore.mergeIntoTarget(spark, path, delta, batchId = id)
      } else if (overwrite) {
        // overwrite with an EMPTY frame truncates: publish the empty
        // state rather than silently keeping the old one
        val id = batchId.getOrElse(nextBatchId(spark))
        SnapshotStore.writeTarget(
          spark.range(0).selectExpr(
            SnapshotWrite.Fields.map(f => s"cast(null as string) as $f"): _*),
          path, batchId = id)
      }
    } finally cleanup(spark)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active)

  private def cleanup(spark: SparkSession): Unit = {
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

private[sources] case class SnapshotWriteMessage(file: String, rows: Long)
    extends WriterCommitMessage

private[sources] class SnapshotDataWriterFactory(
    staging: String, fieldIdx: Seq[Int],
    conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(s"$staging/part-$partitionId-$taskId.parquet",
      fieldIdx, conf.value.value)
}

private[sources] class SnapshotDataWriter(file: String, fieldIdx: Seq[Int],
                                          conf: Configuration)
    extends DataWriter[InternalRow] {
  private val factory = new SimpleGroupFactory(SnapshotWrite.ParquetSchema)
  private lazy val writer = ExampleParquetWriter
    .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
      .fromPath(new Path(file), conf))
    .withType(SnapshotWrite.ParquetSchema)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .build()
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    val g = factory.newGroup()
    SnapshotWrite.Fields.zip(fieldIdx).foreach { case (f, i) =>
      if (!record.isNullAt(i)) g.append(f, record.getUTF8String(i).toString)
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    SnapshotWriteMessage(file, rows)
  }
  override def abort(): Unit = writer.close()
  override def close(): Unit = ()
}

/** Shared default-batchId derivation: max batch id named by a retained
  * manifest, + 1 — used by unoptioned V2 writes and by SQL DELETE
  * (see [[SnapshotBatchWrite]]'s doc for the concurrency argument).
  */
private[sources] object SnapshotWriteIds {
  def next(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pat = "manifest-(-?\\d+)-.*".r
    val maxExisting =
      if (!fs.exists(root)) -1L
      else fs.listStatus(root).iterator.map(_.getPath.getName)
        .collect { case pat(id) => id.toLong }
        .foldLeft(-1L)(math.max)
    math.max(0L, maxExisting + 1L)
  }
}
