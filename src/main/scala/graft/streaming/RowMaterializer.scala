package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{Cell, Mutation, RowState}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Stateful latest-cell-wins row materialization — the SepConsumer +
  * EventListener equivalent (SURVEY §2.G).
  *
  * Keyed by (table, rowkey); state is the current cell map plus the
  * (ts, seq) high-water mark per qualifier. Out-of-order mutations
  * (older (ts, seq) than the applied cell) are ignored — same
  * semantics as HBase cell versions; a row tombstone clears the cells
  * it is newer than and masks older puts that arrive after it.
  *
  * State format: the streaming operators keep each row's state as one
  * `Array[Byte]` written by [[RowMaterializer.StateCodec]] (byte layout
  * there), not as the case class. Spark resolves a struct state's
  * decoder again for every micro-batch's plan, and `Map` fields get
  * fresh lambda-variable ids each time, so that decoder misses the
  * codegen cache and is compiled every batch; a binary column's decoder
  * is the same code every batch.
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

  /** The binary form of [[RowCells]] the streaming operators keep in
    * the state store. Layout (`DataOutputStream` order, big-endian):
    *  - the format version byte, [[StateCodec.Version]];
    *  - `version` (long), `deleted` (byte 0/1), `putTs`, `putSeq`,
    *    `tombTs`, `tombSeq` (longs);
    *  - the cell count (int), then per cell its key and value (strings)
    *    and ts and seq (longs);
    *  - the `seen` count (int), then per entry seq and expiry (longs).
    *
    * A string is its UTF-8 byte length (int, -1 for null) and those
    * bytes, so values have no 64 KB limit. A buffer of another version
    * is refused with an error naming it. */
  object StateCodec {
    final val Version: Byte = 1

    def encode(st: RowCells): Array[Byte] = {
      val bytes = new ByteArrayOutputStream(64 + 40 * st.cells.size + 16 * st.seen.size)
      val out = new DataOutputStream(bytes)
      def putStr(s: String): Unit =
        if (s == null) out.writeInt(-1)
        else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
      out.writeByte(Version)
      out.writeLong(st.version)
      out.writeBoolean(st.deleted)
      Seq(st.putTs, st.putSeq, st.tombTs, st.tombSeq).foreach(out.writeLong(_))
      out.writeInt(st.cells.size)
      st.cells.foreach { case (k, c) =>
        putStr(k); putStr(c.value); out.writeLong(c.ts); out.writeLong(c.seq)
      }
      out.writeInt(st.seen.size)
      st.seen.foreach { case (seq, expiry) => out.writeLong(seq); out.writeLong(expiry) }
      bytes.toByteArray
    }

    def decode(bytes: Array[Byte]): RowCells = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val v = in.readByte()
      if (v != Version) throw new IllegalStateException(
        s"row state has format version $v; this build reads version $Version only")
      def getStr(): String = in.readInt() match {
        case -1 => null
        case n => val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
      }
      val version = in.readLong()
      val deleted = in.readBoolean()
      val (putTs, putSeq, tombTs, tombSeq) = (in.readLong(), in.readLong(), in.readLong(), in.readLong())
      val cells = Map.newBuilder[String, CellV]
      (0 until in.readInt()).foreach { _ =>
        val k = getStr()
        cells += k -> CellV(getStr(), in.readLong(), in.readLong())
      }
      val seen = Map.newBuilder[Long, Long]
      (0 until in.readInt()).foreach { _ => seen += in.readLong() -> in.readLong() }
      if (in.available() > 0) throw new IllegalStateException(
        s"row state has ${in.available()} trailing bytes")
      RowCells(cells.result(), version, deleted, seen.result(), putTs, putSeq, tombTs, tombSeq)
    }
  }

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
    * dedupe.
    *
    * Any other input runs the same function under NoTimeout with an
    * empty `seen` map.
    *
    * Each row's state is one binary value, the [[StateCodec]] bytes of
    * its [[RowCells]]: a format version byte, the version, `deleted`
    * and the four row markers, the cells as (key, value, ts, seq), then
    * `seen` as (seq, expiry) pairs. Its state decoder holds no map
    * conversion, so Spark compiles it once per query instead of once
    * per micro-batch, and a batch decodes only the rows it touches or
    * times out. Checkpoints whose state is the earlier `RowCells`
    * struct cannot be resumed. */
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
      muts: Iterator[Mutation], state: GroupState[Array[Byte]]): Iterator[RowState] = {
    val st0 = state.getOption.fold(Empty)(StateCodec.decode)
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
      state.update(StateCodec.encode(st0.copy(seen = seen)))
      Iterator.empty
    } else {
      // WAL order within the batch: (ts, seq)
      val st = fresh.sortBy(m => (m.ts, m.seq)).foldLeft(st0)(applyMutation).copy(seen = seen)
      state.update(StateCodec.encode(st))
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
    * column derived from the mutation ts). State is the [[StateCodec]]
    * bytes, as in [[materialize]]. */
  def materializeWithTTL(s: SparkSession, mutations: Dataset[Mutation],
      ttlMillis: Long): Dataset[RowState] = {
    import s.implicits._
    byRow(s, mutations.toDF())
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, String), muts: Iterator[Mutation], state: GroupState[Array[Byte]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(RowState(key._1, key._2, Map.empty, 0L, deleted = true))
          } else {
            val st0 = state.getOption.fold(Empty)(StateCodec.decode)
            val st = muts.toSeq.sortBy(m => (m.ts, m.seq)).foldLeft(st0)(applyMutation)
            state.update(StateCodec.encode(st))
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
