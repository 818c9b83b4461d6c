package org.apache.spark.sql.graft

/** Hook into the executor-side state-store registry (`private[sql]`,
  * hence this package shim — the same access route as [[MinHashMd5]]).
  *
  * A finished streaming query leaves its state-store providers loaded
  * in the executor until the maintenance task (default interval 60 s)
  * unloads them, so their heap and snapshot work bleed into whatever
  * runs next. Shortening the interval is no fix: it is global, so a
  * query running longer than the interval takes maintenance passes
  * mid-query. Instead, drivers that run many stateful queries in one
  * JVM call [[unloadAll]] between them, outside any timed region:
  * `graft.Bench` after each entry and perfbench's `cdc_catchup` after
  * each drain (also `ProfileJobs` and `Explain`). It stops the
  * maintenance task and unloads every provider; the next stateful
  * query lazily restarts both. */
object StateStoreHooks {
  def unloadAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
