package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType

/** How a registered row runs a streaming query to its end — the one place
  * that owns trigger, wait bound and stop for every streaming row in
  * [[StreamingOps]] and [[graft.operators.Scans]].
  *
  * Contract of [[runToEnd]]: the query runs under `Trigger.AvailableNow`
  * (every offset available at start is processed, honouring the source's
  * per-batch limits, then one trailing no-data batch runs if the
  * watermark moved, then the query terminates by itself); the wait is
  * bounded by [[BoundMs]], a hang guard rather than a result check; the
  * query is stopped in a `finally` on every path, so a failed or wedged
  * row never leaves a live query holding state stores or a checkpoint
  * that a later run deletes; a failure surfaces as an error naming the
  * row. The stopped query is returned for callers that read its
  * `recentProgress`.
  *
  * The socket source is the one exception ([[pollDrain]]): it has no
  * end offset, so AvailableNow cannot end it; its rows poll the sink
  * until the expected mass arrived, under the same bound. */
private[graft] object MicroBatch {
  /** The one wait bound: generous, because multi-second machine-load
    * stalls happen and a bound abort fails the row, not just slows it. */
  val BoundMs = 180000L

  val RocksProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The session a streaming row runs on: a few-partition clone of `s`
    * ([[graft.operators.Scans.fewPartitionSession]]), with the trailing
    * no-data micro-batch pinned on (the default, pinned so a cluster-level
    * override cannot silently drop the batch in which watermark-only
    * work — timers, append-window emission, outer-join flush — happens).
    * `rocksdb` adds the RocksDB provider with changelog checkpointing,
    * which transformWithState mandates; the clone scopes it to the row. */
  def session(s: SparkSession, partitions: Int,
      rocksdb: Boolean = false): SparkSession = {
    val s2 = graft.operators.Scans.fewPartitionSession(s, partitions)
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    if (rocksdb) {
      s2.conf.set(RocksProviderKey, RocksProvider)
      s2.conf.set(ChangelogKey, "true")
    }
    s2
  }

  /** Staged replay: the parquet files under `inDir` admitted one per
    * micro-batch, oldest mtime first — the stagings stamp admission order
    * into their mtimes, so each file is one micro-batch in a known order. */
  def replay(s2: SparkSession, inDir: String, schema: StructType): DataFrame =
    s2.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(inDir)

  /** Run `writer`'s query to the end of its input (see the object doc).
    * `table` starts it with `toTable` (the catalog sink) instead of
    * `start`. */
  def runToEnd[T](writer: DataStreamWriter[T], what: String,
      table: Option[String] = None): StreamingQuery = {
    val w = writer.trigger(Trigger.AvailableNow())
    val q = table.fold(w.start())(w.toTable)
    try {
      if (!q.awaitTermination(BoundMs))
        throw new IllegalStateException(
          s"$what did not finish in ${BoundMs / 1000} s")
    } catch {
      case e: StreamingQueryException =>
        throw new IllegalStateException(s"$what failed: ${e.getMessage}", e)
    } finally q.stop()
    q
  }

  /** Poll-drain for the socket source: start `writer` on an 80 ms
    * processing-time trigger (the loopback feeder lands its lines within
    * milliseconds, so spaced triggers let one micro-batch carry nearly
    * everything), then poll until `have()` reaches `target`, sleeping
    * 10 ms only when the source is idle. `diag` is appended to the
    * shortfall message so a feeder-side error surfaces as the cause. The
    * query is stopped on every path. */
  def pollDrain[T](writer: DataStreamWriter[T], target: Long, what: String,
      diag: () => String)(have: () => Long): Unit = {
    val q = writer.trigger(Trigger.ProcessingTime(80)).start()
    try {
      val deadline = System.nanoTime() + BoundMs * 1000 * 1000
      var n = -1L
      while (n < target && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = have()
        if (n < target) Thread.sleep(10)
      }
      require(n >= target, s"$what drained only $n of $target${diag()}")
    } finally q.stop()
  }

  /** `foreachBatch` sink of the batch-id ledger: each micro-batch is
    * appended under `outDir` with its `batch_id`. */
  def ledger(outDir: String): (DataFrame, Long) => Unit =
    (df, id) => df.withColumn("batch_id", lit(id))
      .write.mode("append").parquet(outDir)

  /** The last emission per `keys` in a [[ledger]] — an update-mode
    * query's final state. */
  def lastEmission(s: SparkSession, outDir: String,
      keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("batch_id").desc)
    s.read.parquet(outDir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk", "batch_id")
  }

  /** Memory-sink/table name for a row: `prefix` + the sanitised absolute
    * sfDir, so rows over different fixtures never share a sink. */
  def sinkName(prefix: String, d: String): String =
    prefix + java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
      .replaceAll("[^A-Za-z0-9]", "_")
}
