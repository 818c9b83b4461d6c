package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{DeduplicateWithinWatermark, EventTimeWatermark, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanFrames

/** Effectively-once consumption over an at-least-once WAL (SURVEY
  * §2.G): the reference SEP delivers events at-least-once and relies
  * on idempotent listeners; here replayed mutations are dropped by
  * WAL sequence number within the event-time watermark, so state
  * kept per seq is bounded by the watermark horizon.
  *
  * Contract of [[dedupe]], standalone or fused into
  * [[RowMaterializer.materialize]]:
  *  - a mutation whose `seq` was already seen within the horizon is
  *    dropped; a seq's entry expires once the watermark reaches its
  *    event time plus the delay, and is looked up before expired
  *    entries are pruned;
  *  - a mutation at or below the watermark (late) is dropped.
  *
  * When `materialize` is given `dedupe`'s output it recognizes the
  * plan ([[beneath]]) and keeps the seen seqs inside its own per-row
  * state instead of running a separate deduplicate operator. That
  * fused form differs in two stated ways:
  *  - `seq` must identify one mutation of one row: two rows that
  *    share a seq both keep it;
  *  - a row's seen seqs are pruned when the row is next touched, or
  *    all at once when its newest entry expires, so a replay past the
  *    horizon for a row idle since may still be dropped.
  */
object ExactlyOnce {

  /** The event-time column [[dedupe]] derives from `ts`. */
  private val EventTime = "event_time"

  /** Drop replayed mutations (same `seq`) within the watermark. */
  def dedupe(mutations: DataFrame, watermark: String = "1 hour"): DataFrame =
    mutations
      .withColumn(EventTime, timestamp_micros(col("ts")))
      .withWatermark(EventTime, watermark)
      .dropDuplicatesWithinWatermark("seq")
      .drop(EventTime)

  /** Recognizes the plan [[dedupe]] builds —
    * `Project ← DeduplicateWithinWatermark([seq]) ← EventTimeWatermark(event_time)`
    * — and returns the watermarked input beneath the deduplicate (with
    * its `event_time` column) and the watermark delay in ms. Any other
    * plan, including `dedupe`'s output with further operators on top,
    * yields None. */
  private[streaming] def beneath(deduped: Dataset[_]): Option[(DataFrame, Long)] =
    deduped.queryExecution.analyzed match {
      case Project(out, DeduplicateWithinWatermark(Seq(seq),
          w @ EventTimeWatermark(_, et, delay, _)))
          if seq.name == "seq" && et.name == EventTime &&
            out.map(_.exprId) == w.output.filterNot(_.exprId == et.exprId).map(_.exprId) =>
        Some((PlanFrames.ofPlan(deduped.sparkSession, w), EventTimeWatermark.getDelayMs(delay)))
      case _ => None
    }
}
