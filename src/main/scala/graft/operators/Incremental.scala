package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental view maintenance (IVM) over the event changelog — the
  * CDC consumer pattern the reference's subscription model feeds: a
  * downstream aggregate (per-user, per-type counts and revenue) is
  * maintained by MERGING each WAL increment into a persisted partial-
  * aggregate snapshot, never by re-aggregating the corpus. At 100 TB
  * the full recompute is the thing you can't afford daily; the merge
  * touches |snapshot| + |delta| rows, and because count/sum are
  * distributive the merged result is EXACTLY the full recompute —
  * which is what the oracle gate proves.
  *
  * Determinism: revenue is summed as exact integer cents
  * (`round(value·100)` as BIGINT), so partial sums merge
  * order-independently and the snapshot+delta sum is bit-equal to the
  * one-pass sum on both engines (the Similarity micro-unit trick
  * applied to money).
  */
object Incremental {

  /** 2024-01-15T00:00:00Z in epoch micros — inside the events span at
    * every SF (generator runs Jan 1 → ~Jan 30), so base and delta are
    * both non-trivial. Mirrored as a TIMESTAMP literal in the spec
    * pin and nowhere else: the oracle recomputes the FULL aggregate
    * and never sees the cutoff. */
  val DefaultCutoffMicros: Long = 1705276800000000L

  /** The partial aggregate both sides share: per (user_id, event_type)
    * event count + exact integer-cent revenue. Map-side combinable;
    * one shuffle of one row per (user, type). */
  private[graft] def partialAgg(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))

  /** Materialize the base-side snapshot (events before `cutoff`) as a
    * partial-aggregate parquet under `stage` — written once, merged by
    * every subsequent increment ([[mergeDelta]]) — and return its
    * read-back. */
  def writeAggSnapshot(s: SparkSession, dir: String, stage: Stage,
      cutoffMicros: Long = DefaultCutoffMicros): DataFrame =
    stage.parquet("agg", partialAgg(Tables.eventsTsBounded(s, dir,
        maxMicros = Some(cutoffMicros - 1))))

  /** Merge a delta (same schema as the raw events table) into a
    * persisted snapshot: union of two partial aggregates + one
    * re-aggregation. Distributivity of count/sum makes this equal to
    * the full recompute; the plan reads the snapshot parquet and the
    * delta scan only (spec-pinned — the base events are never
    * rescanned). */
  def mergeDelta(snapshot: DataFrame, delta: DataFrame): DataFrame =
    snapshot.unionByName(partialAgg(delta))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))

  /** q126: the IVM round-trip under the oracle gate — snapshot the
    * pre-cutoff aggregate once, merge the post-cutoff delta (its
    * events scan carries the pushed-down `ts >= cutoff` filter), and
    * the result must equal the full GROUP BY over all events (the
    * oracle recomputes from scratch; the gate proves merge ≡
    * recompute). */
  def incrementalAgg(s: SparkSession, dir: String,
      cutoffMicros: Long = DefaultCutoffMicros): DataFrame = {
    mergeDelta(writeAggSnapshot(s, dir, Stage("q126snap", dir), cutoffMicros),
      Tables.eventsTsBounded(s, dir, minMicros = Some(cutoffMicros)))
  }

  /** q289: IVM with RETRACTIONS — the missing half of q126/q249's
    * insert-only delta algebra: a CDC correction stream carries
    * DELETES (HBase tombstones, GDPR erasures, fraud reversals), and
    * the maintained aggregate must subtract them without a recompute.
    * Signed multiplicities: every delta row carries mult ∈ {+1, −1};
    * count becomes Σmult and revenue Σmult·cents — still
    * distributive, so snapshot ⊎ delta ≡ recompute-without-retracted
    * (what the oracle proves); groups whose support hits ZERO are
    * DROPPED from the view (the Z-relation rule — an IVM that leaves
    * 0-count ghost groups poisons downstream joins). Retraction set:
    * pre-cutoff events with event_id % 7 == 0 (the deterministic
    * stand-in for the CDC correction feed, the q150 derivation
    * pattern). Cost: |snapshot| + |delta| rows, never the corpus. */
  def ivmRetract(s: SparkSession, dir: String,
      cutoffMicros: Long = DefaultCutoffMicros): DataFrame = {
    val snap = writeAggSnapshot(s, dir, Stage("q289snap", dir), cutoffMicros)
    val inserts = Tables.eventsTsBounded(s, dir,
        minMicros = Some(cutoffMicros))
      .withColumn("mult", lit(1L))
    val retractions = Tables.eventsTsBounded(s, dir,
        maxMicros = Some(cutoffMicros - 1))
      .filter(col("event_id") % 7 === 0)
      .withColumn("mult", lit(-1L))
    val deltaAgg = inserts.unionByName(retractions)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("mult")).as("n_events"),
        sum(col("mult") * round(col("value") * 100).cast("long"))
          .as("sum_cents"))
    snap.unionByName(deltaAgg)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))
      .filter(col("n_events") > 0L)
  }

  /** Corpus SNAPSHOT DIFF core — the data-versioning report run
    * between two catalog versions of the same document table (what
    * changed since the last training run, and is the delta small
    * enough for the incremental paths q105/q111/q126 instead of a
    * rebuild?). One full-outer shuffle-hash equi-join on doc_id —
    * id-keyed and uniform, never corpus² — comparing 16-byte content
    * digests (at 100 TB you diff digests, never text), then one
    * map-side-combinable per-source roll-up. Output is |sources|
    * rows at any corpus size.
    *
    * Both inputs just need (doc_id, source, text). */
  def snapshotDiffOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id").as("o_id"), col("source").as("o_src"),
      md5(col("text").cast("binary")).as("o_h"),
      length(col("text")).cast("long").as("o_len"))
    val n = newDocs.select(col("doc_id").as("n_id"), col("source").as("n_src"),
      md5(col("text").cast("binary")).as("n_h"),
      length(col("text")).cast("long").as("n_len"))
    val status = when(col("o_id").isNull, "added")
      .when(col("n_id").isNull, "removed")
      .when(col("o_h") =!= col("n_h"), "changed")
      .otherwise("unchanged")
    o.join(n, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("n_src"), col("o_src")).as("source"),
        status.as("status"),
        (coalesce(col("n_len"), lit(0L)) - coalesce(col("o_len"), lit(0L)))
          .as("delta"))
      .groupBy(col("source"))
      .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("delta")).as("char_delta"))
  }

  /** q150: [[snapshotDiffOf]] under the oracle gate. The two corpus
    * versions are derived deterministically from the one documents
    * table (the stand-in for two persisted catalog snapshots — the
    * diff JOIN is what's gated, exactly as q105's parity split
    * stands in for its persisted base): version A drops doc_id%11==0
    * (those become "added"), carries a draft-prefixed revision for
    * doc_id%5==1 (those become "changed"); version B drops
    * doc_id%13==0 (those become "removed"). All four statuses are
    * live at every SF. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val oldV = docs.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 1,
        concat(lit("draft: "), col("text"))).otherwise(col("text")))
    val newV = docs.filter(col("doc_id") % 13 =!= 0)
    snapshotDiffOf(oldV, newV)
  }

  /** q222: CATEGORY-DRIFT report between two corpus snapshots — the
    * column-level complement of q150's row diff (q150 says HOW MANY
    * rows changed; this says whether the corpus COMPOSITION shifted
    * — the silent failure mode where a crawl re-balances toward one
    * source/language and every downstream mixture quietly inherits
    * it). Per categorical column: distinct-value counts and the
    * TOTAL VARIATION distance between old and new category
    * distributions (integer ppm — ½·Σ|share_old − share_new|, the
    * tightest "how different can any event's probability be"
    * bound), plus each side's modal value and share (mode via
    * max-count-then-min-value, engine-deterministic with NO window:
    * a max join over the bounded category table). ONE scan per
    * version: every audited column explodes to (column, value)
    * entries (q136's profiling transpose), then all arithmetic runs
    * on the |columns|·|categories| table — the report assumes
    * bounded category domains (lang/source-like columns; an
    * id-cardinality column belongs in q136's profile, not here).
    * Versions = q150's derived stand-ins, so the two reports
    * cross-reference. */
  def categoryDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    def entries(v: DataFrame): DataFrame = v.select(posexplode(
        array(struct(lit("lang").as("c"), col("lang").as("v")),
          struct(lit("source").as("c"), col("source").as("v")))))
      .select(col("col.c").as("column_name"), col("col.v").as("value"))
    val oldE = entries(docs.filter(col("doc_id") % 11 =!= 0))
    val newE = entries(docs.filter(col("doc_id") % 13 =!= 0))
    def profile(e: DataFrame, pfx: String): DataFrame = {
      val counts = e.groupBy(col("column_name"), col("value"))
        .agg(count(lit(1)).as("n"))
      val tot = counts.groupBy(col("column_name"))
        .agg(sum(col("n")).as("nt"), max(col("n")).as("nmax"),
          count(lit(1)).as("ndv"))
      counts.join(tot, "column_name")
        .withColumn("share_ppm", expr("n * 1000000 div nt"))
        .withColumn("is_top", col("n") === col("nmax"))
        .select(col("column_name"), col("value"),
          col("share_ppm").as(s"share_$pfx"), col("ndv").as(s"ndv_$pfx"),
          col("is_top").as(s"is_top_$pfx"))
    }
    val joined = profile(oldE, "old")
      .join(profile(newE, "new"), Seq("column_name", "value"), "full_outer")
    joined.groupBy(col("column_name"))
      .agg(max(col("ndv_old")).as("ndv_old"), max(col("ndv_new")).as("ndv_new"),
        (sum(abs(coalesce(col("share_old"), lit(0L)) -
          coalesce(col("share_new"), lit(0L)))) / 2).cast("long").as("tvd_ppm"),
        min(when(col("is_top_old"), col("value"))).as("top_old"),
        min(when(col("is_top_new"), col("value"))).as("top_new"),
        max(when(col("is_top_old"), col("share_old"))).as("top_share_old_ppm"),
        max(when(col("is_top_new"), col("share_new"))).as("top_share_new_ppm"))
  }

  /** q249: INCREMENTAL JOIN MAINTENANCE — the delta-join algebra that
    * keeps a materialized JOIN view current without re-joining the
    * bases (q126 maintains an AGGREGATE; this is the other half of
    * IVM): with insert deltas ΔA, ΔB on top of bases A₁, B₁,
    *   J₂ = (A₁⋈B₁) ⊎ (ΔA⋈B₁) ⊎ (A₁⋈ΔB) ⊎ (ΔA⋈ΔB)
    * — the first term is the stored view, the three delta terms each
    * have a DELTA on one side, so the nightly maintenance cost is
    * |Δ|·fanout, never |A|·|B| recompute. The gate proves the
    * algebra: orders/lineitem are hash-split into base/delta halves
    * (md5 buckets — the split replays in the oracle), the four
    * quadrants are joined separately (three shuffle-hash joins with
    * the delta side as the small build) and rolled up per
    * (status, quadrant); the oracle computes ONE plain join and
    * labels quadrants from the same hashes — the decomposition must
    * partition it exactly (no overlap, no omission). Per-line
    * revenue rounded to cents once (the q234 policy). */
  def ivmJoin(s: SparkSession, dir: String): DataFrame = {
    val half = 2147483648L
    val a = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"),
      (Sampling.hashBucket(concat(lit("ivmA|"),
        col("o_orderkey").cast("string"))) < half).as("a_base"))
    val b = Tables.lineitem(s, dir).select(col("l_orderkey"),
      expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
        .as("cents"),
      (Sampling.hashBucket(concat(lit("ivmB|"),
        col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string"))) < half).as("b_base"))
    val (a1, da) = (a.filter(col("a_base")), a.filter(!col("a_base")))
    val (b1, db) = (b.filter(col("b_base")), b.filter(!col("b_base")))
    def part(x: DataFrame, y: DataFrame, q: String): DataFrame =
      x.join(y.hint("shuffle_hash"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderstatus"), col("cents"), lit(q).as("quadrant"))
    part(a1, b1, "base")
      .unionByName(part(da, b1, "delta_orders"))
      .unionByName(part(a1, db, "delta_lines"))
      .unionByName(part(da, db, "both_delta"))
      .groupBy(col("o_orderstatus"), col("quadrant"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("revenue_cents"))
  }
}
