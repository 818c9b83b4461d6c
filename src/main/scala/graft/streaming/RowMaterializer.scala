package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{Cell, Mutation, RowState}

/** Stateful latest-cell-wins row materialization — the SepConsumer +
  * EventListener equivalent (SURVEY §2.G).
  *
  * Keyed by (table, rowkey); state is the current cell map plus the
  * (ts, seq) high-water mark per qualifier. Out-of-order mutations
  * (older (ts, seq) than the applied cell) are ignored — same
  * semantics as HBase cell versions; a row tombstone clears the cells
  * it is newer than and masks older puts that arrive after it.
  *
  * Scale: state lives in the state store partitioned by key — one
  * shuffle per micro-batch, state size O(live rows), no global sort.
  * Streaming operators group by the relational key columns, so the
  * scan stage does not deserialize mutations to compute the key.
  *
  * Over [[ExactlyOnce.dedupe]]'s output, [[materialize]] runs the
  * replay filter inside this one operator (see [[materialize]]).
  */
object RowMaterializer {

  /** Per-qualifier applied version: value + (ts, seq) that wrote it. */
  case class CellV(value: String, ts: Long, seq: Long)

  /** The (ts, seq) of a row marker not yet set. */
  final val Never = Long.MinValue

  /** Row state. (`putTs`, `putSeq`) is the newest applied put and
    * (`tombTs`, `tombSeq`) the newest row tombstone, [[Never]] until
    * there is one; `deleted` is set from their order. `seen` holds,
    * when the replay filter is fused in, the seqs applied within the
    * watermark horizon and when each expires (event time + delay,
    * epoch micros); it is empty otherwise. */
  case class RowCells(cells: Map[String, CellV], version: Long, deleted: Boolean,
      seen: Map[Long, Long] = Map.empty,
      putTs: Long = Never, putSeq: Long = Never,
      tombTs: Long = Never, tombSeq: Long = Never)

  private val Empty = RowCells(Map.empty, 0L, deleted = false)

  private def after(ts: Long, seq: Long, ts0: Long, seq0: Long): Boolean =
    ts > ts0 || (ts == ts0 && seq > seq0)

  private def newer(ts: Long, seq: Long, c: CellV): Boolean = after(ts, seq, c.ts, c.seq)

  /** Apply one mutation to the row state (pure — unit-testable).
    *
    * Every comparison is on (ts, seq), so apart from the
    * simplification below the result does not depend on the order
    * mutations arrive in:
    *  - a put writes its cell when it is newer than the cell's version
    *    and than the newest row tombstone (the tombstone masks it);
    *  - a qualifier delete removes its cell when it is newer;
    *  - a row tombstone removes the cells whose (ts, seq) is not newer
    *    than its own;
    *  - the row is `deleted` when its newest row tombstone is not older
    *    than its newest applied put.
    *
    * Simplification vs full HBase semantics: a qualifier delete leaves
    * no masking tombstone, so a LATER-arriving put with an OLDER
    * (ts, seq) than the delete resurrects the cell. Within a batch
    * mutations are sorted by (ts, seq) first, so this only matters for
    * cross-batch out-of-order deletes — acceptable for WAL replay,
    * where per-key order is preserved by the source. */
  def applyMutation(st: RowCells, m: Mutation): RowCells = {
    var cells = st.cells
    var putTs = st.putTs
    var putSeq = st.putSeq
    var tombTs = st.tombTs
    var tombSeq = st.tombSeq
    m.cells.foreach { c: Cell =>
      val key = s"${c.family}:${c.qualifier}"
      c.kind match {
        case "delete_row" =>
          cells = cells.filter { case (_, old) => after(old.ts, old.seq, c.ts, m.seq) }
          if (after(c.ts, m.seq, tombTs, tombSeq)) { tombTs = c.ts; tombSeq = m.seq }
        case "delete" =>
          cells.get(key).foreach { old =>
            if (newer(c.ts, m.seq, old)) cells = cells - key
          }
        case _ => // put
          val ok = after(c.ts, m.seq, tombTs, tombSeq) &&
            cells.get(key).forall(old => newer(c.ts, m.seq, old))
          if (ok) {
            cells = cells + (key -> CellV(c.value, c.ts, m.seq))
            if (after(c.ts, m.seq, putTs, putSeq)) { putTs = c.ts; putSeq = m.seq }
          }
      }
    }
    val tombstoned = !(tombTs == Never && tombSeq == Never)
    st.copy(cells = cells, version = math.max(st.version, m.ts),
      deleted = tombstoned && !after(putTs, putSeq, tombTs, tombSeq),
      putTs = putTs, putSeq = putSeq, tombTs = tombTs, tombSeq = tombSeq)
  }

  private def rowState(key: (String, String), st: RowCells): RowState =
    RowState(key._1, key._2, st.cells.map { case (k, v) => k -> v.value }, st.version, st.deleted)

  private def byRow(s: SparkSession, mutations: DataFrame)
      : KeyValueGroupedDataset[(String, String), Mutation] = {
    import s.implicits._
    mutations.groupBy(col("table"), col("rowkey")).as[(String, String), Mutation]
  }

  /** Streaming materialization: emits the updated RowState for every
    * key touched in each micro-batch (OutputMode.Update).
    *
    * Given the output of [[ExactlyOnce.dedupe]] (recognized by
    * [[ExactlyOnce.beneath]]), the deduplicate operator is not run:
    * this one operator reads the watermarked input, and under
    * EventTimeTimeout
    *  - drops rows at or below the watermark, as the deduplicate did;
    *  - drops a mutation whose seq is in the row's `seen` map, then
    *    adds the new seqs and prunes entries whose expiry the
    *    watermark has reached (lookup before pruning, as the
    *    deduplicate's end-of-batch eviction);
    *  - sets the row's timeout to its newest expiry, so an idle row's
    *    `seen` map is emptied once every entry has expired;
    *  - emits nothing for a key whose batch held only replays.
    * [[ExactlyOnce]] states where this differs from the standalone
    * dedupe. The state schema includes `seen` and the row markers, so
    * checkpoints written before either was added cannot be resumed.
    *
    * Any other input runs the same function under NoTimeout with an
    * empty `seen` map. */
  def materialize(s: SparkSession, mutations: Dataset[Mutation]): Dataset[RowState] = {
    import s.implicits._
    ExactlyOnce.beneath(mutations) match {
      case Some((watermarked, delayMs)) =>
        byRow(s, watermarked).flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout)(consume(Some(delayMs * 1000L)) _)
      case None =>
        byRow(s, mutations.toDF()).flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(consume(None) _)
    }
  }

  /** The one materialize operator; `horizonMicros` is the fused
    * dedupe's watermark delay, None without a replay filter. */
  private def consume(horizonMicros: Option[Long])(key: (String, String),
      muts: Iterator[Mutation], state: GroupState[RowCells]): Iterator[RowState] = {
    val st0 = state.getOption.getOrElse(Empty)
    val (fresh, seen) = horizonMicros match {
      case None => (muts.toSeq, st0.seen)
      case Some(delay) =>
        val fresh = muts.filterNot(m => st0.seen.contains(m.seq)).toSeq.distinctBy(_.seq)
        val wm = state.getCurrentWatermarkMs() * 1000L
        val seen = (st0.seen ++ fresh.map(m => m.seq -> (m.ts + delay))).filter(_._2 > wm)
        // Spark times out once the watermark (ms) is strictly above the
        // timestamp: the first watermark at or past the newest expiry
        if (seen.nonEmpty)
          state.setTimeoutTimestamp(math.max(1L, Math.floorDiv(seen.values.max - 1, 1000L)))
        (fresh, seen)
    }
    if (fresh.isEmpty) {
      state.update(st0.copy(seen = seen))
      Iterator.empty
    } else {
      // WAL order within the batch: (ts, seq)
      val st = fresh.sortBy(m => (m.ts, m.seq)).foldLeft(st0)(applyMutation).copy(seen = seen)
      state.update(st)
      Iterator.single(rowState(key, st))
    }
  }

  /** Streaming materialization with bounded state: rows idle past
    * `ttl` (event time, enforced via the input watermark) are evicted
    * and emitted once as deleted tombstone states. At 100 TB the
    * state store holds only rows touched within the watermark+ttl
    * horizon instead of every key ever seen.
    *
    * Input must carry a watermark on `eventTimeCol` (a TIMESTAMP
    * column derived from the mutation ts). */
  def materializeWithTTL(s: SparkSession, mutations: Dataset[Mutation],
      ttlMillis: Long): Dataset[RowState] = {
    import s.implicits._
    byRow(s, mutations.toDF())
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, String), muts: Iterator[Mutation], state: GroupState[RowCells]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(RowState(key._1, key._2, Map.empty, 0L, deleted = true))
          } else {
            val st0 = state.getOption.getOrElse(Empty)
            val st = muts.toSeq.sortBy(m => (m.ts, m.seq)).foldLeft(st0)(applyMutation)
            state.update(st)
            // version is epoch micros; timeout at version/1000 + ttl
            state.setTimeoutTimestamp(st.version / 1000L + ttlMillis)
            Iterator.single(rowState(key, st))
          }
        })
  }

  /** Batch variant over a static mutation Dataset (same semantics;
    * used for reprocessing/backfill). Groups by the relational key
    * like the streaming operators. */
  def materializeBatch(s: SparkSession, mutations: Dataset[Mutation]): Dataset[RowState] = {
    import s.implicits._
    byRow(s, mutations.toDF()).mapGroups { (key, muts) =>
      rowState(key, muts.toSeq.sortBy(m => (m.ts, m.seq)).foldLeft(Empty)(applyMutation))
    }
  }
}
