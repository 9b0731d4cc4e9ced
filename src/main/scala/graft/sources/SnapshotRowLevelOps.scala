package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.SnapshotStore

/** DELTA-BASED row-level operations (r11): SQL `MERGE INTO`, `UPDATE`,
  * and arbitrary-predicate `DELETE` on snapshot tables — the
  * [[SupportsDelta]] contract is a natural fit for a merge-on-read LWW
  * store, because "rewrite" is exactly what the store never does: every
  * row-level statement compiles to a CDC DELTA BATCH (PUTs and
  * tombstones) merged through the same locked commit as every other
  * write.
  *
  * Sequence discipline (the part that makes the statement WIN its own
  * LWW race): the row id is the COMPOSITE (keys, `_read_seq`) — the
  * read sequence as a non-nullable metadata column, "" for a
  * metadata-less seed row — so every callback knows the sequence of the
  * row version it read —
  *   - DELETE emits a tombstone at read-seq + "0" (appending a digit
  *     strictly raises the numeric-string order for ANY value: the
  *     canonical form gains a digit, so its length class increases);
  *   - UPDATE is represented as delete + reinsert
  *     ([[SupportsDelta.representUpdateAsDeleteAndInsert]]), and the
  *     reinsert lands at read-seq + "00" — strictly above its paired
  *     tombstone, so the updated image survives;
  *   - INSERT (WHEN NOT MATCHED) writes the source-assigned sequence,
  *     BUMPED past the key's tombstone when one exists: a key
  *     previously deleted via SQL DELETE reads as NOT MATCHED (the
  *     tombstone hides it) yet its tombstone still guards the chain at
  *     victim-seq + "0" — an insert whose sequence didn't outrank it
  *     would merge invisibly. The commit path consults the chain's
  *     tombstones (readTargetMarkers) and lifts any losing insert to
  *     tombstone-seq + "0", so a SQL insert of a deleted key is always
  *     visible — delete-then-reinsert behaves like SQL, not like a
  *     stale CDC put.
  * A concurrent writer that lands between the scan and the commit can
  * still supersede the statement (its sequence may outrank read-seq +
  * "00") — the store's usual LWW semantics, not lost updates: both
  * versions are in the chain and the order is deterministic.
  *
  * CAVEAT — insert-only MERGE: Spark's RewriteMergeIntoTable turns a
  * MERGE with ONLY `WHEN NOT MATCHED` clauses into a plain append
  * (left-anti join + AppendData) before this class is ever consulted,
  * so those inserts take the CDC append path and its verbatim LWW
  * semantics: an insert whose sequence loses to a deleted key's
  * tombstone stays invisible (exactly what a redelivered stale CDC put
  * must do). To reinsert deleted keys by statement, include any
  * `WHEN MATCHED` clause (engaging this tombstone-guarded path) or
  * assign sequences that outrank the deletes.
  */
private[sources] class SnapshotRowLevelBuilder(
    path: String, info: RowLevelOperationInfo,
    tableSchema: org.apache.spark.sql.types.StructType)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new SnapshotRowLevelOp(path, info, tableSchema)
}

private[sources] class SnapshotRowLevelOp(
    path: String, info: RowLevelOperationInfo,
    tableSchema: org.apache.spark.sql.types.StructType)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = info.command

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // pruned candidate scan, same as reads; the full table schema so a
    // statement condition can reference projected columns
    new SnapshotScanBuilder(path, tableSchema = tableSchema)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("keys"), Expressions.column(SnapshotSource.ReadSeqCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new SnapshotDeltaWrite(path, writeInfo)
    }
}

private[sources] class SnapshotDeltaWrite(path: String, info: LogicalWriteInfo)
    extends DeltaWrite {
  override def description(): String = s"graft-snapshot-rowlevel $path"
  override def toBatch: DeltaBatchWrite = new SnapshotDeltaBatchWrite(path,
    info.schema().fieldNames.toSeq)
}

private[sources] class SnapshotDeltaBatchWrite(path: String, rowCols: Seq[String])
    extends DeltaBatchWrite {
  private val staging =
    s"$path/_staging-${java.util.UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new SnapshotDeltaWriterFactory(staging, rowCols,
      SnapshotSource.broadcastHadoopConf())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case m: SnapshotWriteMessage if m.rows > 0 => m.file
    }
    try {
      if (files.nonEmpty) {
        import org.apache.spark.sql.functions.{col, concat, lit, when}
        import graft.ops.CdcOps.numericStringStruct
        val staged = spark.read.parquet(files: _*)
        // Tombstone guard (the delete-then-reinsert trap): a statement
        // PUT for a key whose PRE-EXISTING chain holds a tombstone that
        // outranks the staged sequence would merge invisibly — the row
        // read as NOT MATCHED but the dead key's sequence guard still
        // wins LWW. Lift such rows to tombstone-seq + "0" (strictly
        // outranks: one more digit = higher length class). Statement
        // DELETEs and UPDATE reinserts never need the lift (their
        // read-row sequence already outranks any old tombstone, else
        // the row wouldn't have been live) and are left alone by the
        // losing-side predicate. Cost: one left join against the
        // target's tombstone subset per statement — statement-level,
        // not per-event, and the MERGE scan already read the target.
        val tombs = SnapshotStore.readTargetMarkers(spark, path)
          .filter(col("op") === "DELETE")
          .select(col("keys"), col("sequenceNumber").as("__tomb_seq"))
        val guarded = staged.join(tombs, Seq("keys"), "left")
          .withColumn("sequenceNumber",
            when(col("op") =!= "DELETE" && col("__tomb_seq").isNotNull &&
                 numericStringStruct(col("__tomb_seq")) >=
                   numericStringStruct(col("sequenceNumber")),
              concat(col("__tomb_seq"), lit("0")))
              .otherwise(col("sequenceNumber")))
          .drop("__tomb_seq")
        SnapshotStore.mergeIntoTarget(spark, path, guarded,
          batchId = SnapshotWriteIds.next(spark, path))
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

private[sources] class SnapshotDeltaWriterFactory(
    staging: String, rowCols: Seq[String],
    conf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new SnapshotDeltaRowWriter(
      s"$staging/part-$partitionId-$taskId.parquet", rowCols, conf.value.value)
}

/** Translates delta callbacks to canonical 4-column delta rows staged
  * through the shared parquet writer. `rowCols` is the ROW schema the
  * operation delivers (a projection of keys/sequenceNumber/newImage);
  * the id struct is always (keys, `_read_seq`) per [[rowId]].
  */
private[sources] class SnapshotDeltaRowWriter(
    file: String, rowCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration)
    extends DeltaWriter[InternalRow] {

  private val out = new SnapshotDataWriter(file, Seq(0, 1, 2, 3), conf)
  private val keysIdx = rowCols.indexOf("keys")
  private val seqIdx = rowCols.indexOf("sequenceNumber")
  private val imgIdx = rowCols.indexOf("newImage")
  private val opIdx = rowCols.indexOf("op")
  // a pure DELETE delivers an EMPTY row schema (only ids flow); the
  // row-consuming callbacks check lazily
  private def needRowCols(): Unit =
    require(keysIdx >= 0 && seqIdx >= 0,
      s"row-level insert/update must deliver keys and sequenceNumber; got $rowCols")

  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
  private def str(r: InternalRow, i: Int): String =
    if (i < 0 || r.isNullAt(i)) null else r.getUTF8String(i).toString
  private def emit(keys: String, op: String, seq: String, img: String): Unit =
    out.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](utf8(keys), utf8(op), utf8(seq),
        if (img == null) null else utf8(img))))

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    // id = (keys, read sequence) of the version read; "0" appended
    // strictly outranks it
    emit(id.getUTF8String(0).toString, "DELETE",
      id.getUTF8String(1).toString + "0", null)

  override def reinsert(meta: InternalRow, row: InternalRow): Unit = {
    // the insert half of an UPDATE: must outrank its paired tombstone
    // (read-seq + "0"), so land at read-seq + "00"
    needRowCols()
    emit(str(row, keysIdx), Option(str(row, opIdx)).getOrElse("PUT"),
      Option(str(row, seqIdx)).getOrElse("") + "00", str(row, imgIdx))
  }

  override def insert(row: InternalRow): Unit = {
    // WHEN NOT MATCHED: the source-assigned sequence, verbatim
    needRowCols()
    emit(str(row, keysIdx), Option(str(row, opIdx)).getOrElse("PUT"),
      str(row, seqIdx), str(row, imgIdx))
  }

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit =
    throw new IllegalStateException(
      "unreachable: updates are represented as delete + reinsert")

  override def commit(): WriterCommitMessage = out.commit()
  override def abort(): Unit = out.abort()
  override def close(): Unit = out.close()
}
