package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

/** The one place a streaming gate starts, waits and reads back. A gate
  * stages its input under a [[Stage]], builds its streaming query,
  * and hands it to [[run]] (a custom per-batch protocol) or
  * [[toParquet]] (a parquet sink plus its read-back), through the
  * stage's own `run` and `toParquet`. Every gate drains its source
  * with `Trigger.AvailableNow` over the given checkpoint; re-running
  * with the same checkpoint resumes.
  *
  * Sizing: AQE never applies to streaming plans, so a stateful query
  * commits one state-store instance per shuffle partition per
  * micro-batch whatever its input size. [[run]] therefore sets the
  * shuffle partitions to ceil(`workBytes` / 32 MB), clamped to
  * [1, the session's setting], for the query's lifetime. A stage
  * passes the bytes under its root, measured before the stream
  * starts, times the gate's CPU work per staged byte: 1 for the
  * state-bound gates, higher for gates that hash, explode or decode
  * each batch (md5 banding, positional grams, centroid assignment),
  * which the plain byte count would serialize. A cluster-scale stage
  * keeps the session's setting; a small one, or a caller that passes
  * no size, runs on a single partition. Every gate's result is
  * partition-count-invariant. */
private[graft] object StreamGate {

  /** Upper bound on one gate's run. The slowest gate drains in under
    * 20 s at sf0.1; a query still running after this is stuck. */
  private val TimeoutMs = 10L * 60 * 1000

  private val BytesPerPartition = 32L << 20

  /** Drain `stream` in `mode`, handing each micro-batch and its id to
    * `sink`. Returns when the source is exhausted; throws the query's
    * failure, or a timeout naming the checkpoint after [[TimeoutMs]].
    * Every exit leaves no query running and the session's shuffle
    * partitions as they were. */
  def run[T](s: SparkSession, stream: Dataset[T], ckpt: String,
      mode: OutputMode, workBytes: Long = 0L)
      (sink: (Dataset[T], Long) => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val parts = math.max(1L, math.min(prev.toLong,
      (workBytes + BytesPerPartition - 1) / BytesPerPartition))
    s.conf.set(key, parts.toString)
    try awaitBounded(stream.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(), ckpt, TimeoutMs)
    finally s.conf.set(key, prev)
  }

  /** Drain `stream` into parquet at `out` and return the read-back.
    * Complete mode overwrites `out` each batch. Update mode appends
    * each batch's rows with its id as column `batch`, so a read can
    * keep a key's last emission with `max_by(…, batch)`. Append mode
    * appends the rows as they are. The read binds the stream's own
    * schema: it runs no schema-inference job, and a resumed run that
    * writes no new batch still reads the earlier run's rows. */
  def toParquet(s: SparkSession, stream: Dataset[_], ckpt: String,
      out: String, mode: OutputMode, workBytes: Long = 0L): DataFrame = {
    val tagged = mode == OutputMode.Update()
    run(s, stream.toDF(), ckpt, mode, workBytes) { (df, id) =>
      (if (tagged) df.withColumn("batch", lit(id)) else df)
        .write.mode(if (mode == OutputMode.Complete()) "overwrite" else "append")
        .parquet(out)
    }
    val schema = stream.schema
    s.read.schema(if (tagged) schema.add("batch", LongType) else schema)
      .parquet(out)
  }

  /** Wait at most `boundMs` for `q` to terminate, then stop it. Throws
    * the query's failure, or a TimeoutException naming `ckpt` when
    * the bound passed first. */
  private[graft] def awaitBounded(q: StreamingQuery, ckpt: String,
      boundMs: Long): Unit =
    try {
      if (!q.awaitTermination(boundMs))
        throw new java.util.concurrent.TimeoutException(
          s"streaming gate on checkpoint $ckpt did not finish within " +
            s"$boundMs ms; stopped")
    } finally q.stop()
}
