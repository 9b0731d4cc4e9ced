package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The per-batch state versions of a foreachBatch maintainer
  * (StreamingMetrics, StreamingHeavyHitters, StreamingVectorDrift).
  *
  * Layout: `<dir>/v<batchId>` is one parquet version, committed by
  * parquet's atomic `_SUCCESS`. The sink's exactly-once contract is
  * written here once: batch b folds onto the latest committed version
  * STRICTLY BEFORE b, never onto its own output, so a crash-replay of an
  * uncommitted (or committed-but-unacknowledged) batch rewrites the
  * same version from the same inputs instead of double-counting.
  *
  * After each commit the newest [[Retained]] committed versions stay;
  * older and uncommitted `v*` directories are deleted, so the state
  * directory — and every batch's listing of it — stays the same size
  * however long the stream runs. A replay of the newest batch b needs
  * only the latest version before b, which is the second one kept.
  *
  * `empty` is the maintainer's state before its first batch.
  */
private[graft] final class VersionedState(dir: String,
                                          empty: SparkSession => DataFrame) {
  import VersionedState._

  private def fsOf(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** (batch id, committed) of every `v<id>` directory. */
  private def versionsIn(fs: FileSystem): Seq[(Long, Boolean)] =
    try fs.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).flatMap { s =>
      s.getPath.getName match {
        case Version(id) => Some(id.toLong -> fs.exists(new Path(s.getPath, "_SUCCESS")))
        case _ => None
      }
    } catch { case _: java.io.FileNotFoundException => Nil }

  private def readStateBefore(spark: SparkSession, vs: Seq[(Long, Boolean)],
                              bound: Long): DataFrame =
    vs.collect { case (id, true) if id < bound => id }.maxOption
      .fold(empty(spark))(id => spark.read.parquet(s"$dir/v$id"))

  /** Latest committed state (`empty` when none). */
  def latest(spark: SparkSession): DataFrame =
    readStateBefore(spark, versionsIn(fsOf(spark)), Long.MaxValue)

  /** One micro-batch: fold `batch` onto the latest version before `id`,
    * commit it as `v<id>`, prune, and return the committed version.
    */
  def step(batch: DataFrame, id: Long)(fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val fs = fsOf(spark)
    val vs = versionsIn(fs).filterNot(_._1 == id) :+ (id -> true)
    val next = fold(readStateBefore(spark, vs, id), batch)
    next.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$id")
    val keep = vs.collect { case (v, true) => v }.sorted.takeRight(Retained).toSet
    vs.foreach { case (v, _) => if (!keep(v)) fs.delete(new Path(dir, s"v$v"), true) }
    spark.read.schema(next.schema).parquet(s"$dir/v$id")
  }

  /** Run [[step]] on every micro-batch of `input`. */
  def maintain(input: DataFrame, checkpoint: String, trigger: Trigger)
              (fold: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => step(batch, id)(fold); () }
      .trigger(trigger)
      .start()
}

private[graft] object VersionedState {
  /** Committed versions kept after each batch: the newest, and the one
    * a replay of the newest batch folds onto.
    */
  val Retained = 2

  private val Version = raw"v(\d+)".r
}
