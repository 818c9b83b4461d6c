package graft

import graft.operators.WalRetention
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** q212's retention contract: segment-granular truncation, time
  * travel preserved at/above the boundary, crash windows that leave
  * only dominated data behind, and composable repeated compaction. */
class WalRetentionSpec extends SparkSpec {

  /** (seq, tsUs, user, type, value) mutations → a 3-segment WAL. */
  private def stageWal(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val walDir = scratchDir("graft_walret").toString + "/wal"
    rows.toDF("seq", "ts", "user_id", "event_type", "value")
      .repartitionByRange(3, col("seq"))
      .write.mode("overwrite").parquet(walDir)
    walDir
  }

  // 9 mutations, 3 per segment (seq ranges 0-2 / 3-5 / 6-8), ts = seq·100
  private val muts = (0L until 9L).map(i =>
    (i, i * 100L, i % 3, if (i % 2 == 0) "view" else "purchase", i * 1.0))

  private def stateMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[Long]("seq"), r.getAs[Long]("ts"))).toMap

  private def segmentFiles(walDir: String): Long = {
    val w = Files.list(Paths.get(walDir))
    try w.filter(_.getFileName.toString.endsWith(".parquet")).count()
    finally w.close()
  }

  test("truncation is segment-granular and state-as-of >= boundary is preserved") {
    val walDir = stageWal(muts)
    val snapRoot = walDir + "_snap"
    // full-history references BEFORE compaction, at several asOf points
    val refEnd = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot))
    val refMid = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot, 600L))
    // boundary 450: segment 0 (ts 0..200) and segment 1 (ts 300..500)?
    // no — segment 1 holds seq 3..5 (ts 300..500), max 500 >= 450, so
    // only segment 0 is wholly below and removable
    val (deleted, kept) = WalRetention.compact(spark, walDir, snapRoot, 450L)
    assert(deleted == 1L && kept == 2L, s"expected (1, 2), got ($deleted, $kept)")
    assert(segmentFiles(walDir) == 2)
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd,
      "latest state changed after truncation")
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot, 600L)) == refMid,
      "time travel at asOf >= boundary changed after truncation")
    // idempotent: nothing more to delete, state unchanged
    val (d2, k2) = WalRetention.compact(spark, walDir, snapRoot, 450L)
    assert(d2 == 0L && k2 == 2L)
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd)
  }

  test("crash window — snapshot published, segment deletes lost — only adds dominated data") {
    import spark.implicits._
    val walDir = stageWal(muts)
    val snapRoot = walDir + "_snap"
    val refEnd = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot))
    WalRetention.compact(spark, walDir, snapRoot, 450L)
    // emulate the crash: a wholly-below-boundary segment reappears
    // (delete step never ran for it) — its rows are dominated by the
    // published snapshot, so every read stays correct
    Seq((0L, 0L, 0L, "view", 0.0), (1L, 100L, 1L, "purchase", 1.0))
      .toDF("seq", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(walDir)
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd,
      "resurrected below-boundary segment changed the answer")
    // and the NEXT compaction sweeps it
    val (d2, _) = WalRetention.compact(spark, walDir, snapRoot, 450L)
    assert(d2 == 1L, "recovery compaction must delete the orphan segment")
  }

  test("ack-aware: a lagging subscription holds the boundary; acking past releases exactly the dominated segments") {
    import graft.streaming.{Subscription, SubscriptionRegistry}
    val walDir = stageWal(muts)
    val snapRoot = walDir + "_snap"
    val reg = new SubscriptionRegistry(
      scratchDir("graft_walret_reg").toString + "/r.json")
    reg.add(Subscription("fast")); reg.add(Subscription("slow"))
    val refEnd = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot))

    // a registered subscription that never acked needs EVERYTHING:
    // boundary = min needed ts -> nothing wholly below -> 0 deleted
    reg.ack("fast", 8L)
    val (b0, d0, k0) = WalRetention.compactToAcks(spark, walDir, snapRoot, reg)
    assert(b0 == 0L && d0 == 0L && k0 == 3L,
      s"never-acked sub must hold the boundary at the floor, got ($b0, $d0, $k0)")

    // slow consumer acked through seq 4 (mid segment 1): still needs
    // seq 5.. (ts 500..) -> boundary 500 -> only segment 0 (ts<=200)
    // is wholly dominated; segment 1 straddles and survives
    reg.ack("slow", 4L)
    val (b1, d1, k1) = WalRetention.compactToAcks(spark, walDir, snapRoot, reg)
    assert(b1 == 500L, s"boundary must be min still-needed ts, got $b1")
    assert(d1 == 1L && k1 == 2L, s"expected (1, 2), got ($d1, $k1)")
    assert(segmentFiles(walDir) == 2)
    // every row the slow consumer still needs (seq > 4) is intact in
    // the surviving WAL — the GC never outran the slowest consumer
    val survivors = spark.read.parquet(walDir)
      .filter(col("seq") > 4L).count()
    assert(survivors == 4L, s"replay window damaged: $survivors of 4 rows")
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd)

    // acking past the end releases everything else
    reg.ack("slow", 8L)
    val (b2, d2, k2) = WalRetention.compactToAcks(spark, walDir, snapRoot, reg)
    assert(b2 == 801L && d2 == 2L && k2 == 0L,
      s"full ack must release all segments, got ($b2, $d2, $k2)")
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd,
      "state must survive full truncation via the snapshot")
  }

  test("repeated compaction at a later boundary folds the previous snapshot") {
    val walDir = stageWal(muts)
    val snapRoot = walDir + "_snap"
    val refEnd = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot))
    WalRetention.compact(spark, walDir, snapRoot, 450L)
    val (d2, k2) = WalRetention.compact(spark, walDir, snapRoot, 750L)
    assert(d2 == 1L && k2 == 1L, s"second boundary must sweep segment 1: ($d2, $k2)")
    assert(stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot)) == refEnd,
      "two-step compaction diverged from the full history")
    // time travel BELOW the new boundary is forfeited by contract:
    // asOf 600 now answers from the snapshot floor (snapshot rows all
    // have ts < 750 and survive the filter, so the answer equals the
    // boundary-floor state, not the historical asOf-600 state)
    val floor = stateMap(WalRetention.stateAsOf(spark, walDir, snapRoot, 740L))
    assert(floor.keySet == refEnd.keySet,
      "snapshot floor must still cover every key")
  }
}
