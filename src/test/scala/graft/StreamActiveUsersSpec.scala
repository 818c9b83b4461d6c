package graft

import graft.operators.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** q208's MULTI-STATEFUL semantics — the properties the SQL oracle's
  * final-state parity cannot see (round-7 VERDICT "what's missing"
  * #3): the stateful dropDuplicates feeding the stateful per-day
  * count must collapse a (user, day) pair delivered in DIFFERENT
  * micro-batches, and a kill/restart from checkpoint must resume
  * through BOTH state stores without double-counting pairs already
  * consumed before the crash. */
class StreamActiveUsersSpec extends SparkSpec {

  private val dayUs = 86400000000L

  /** (seq, user, tsUs) triples → WAL mutation frame (graft-wal shape). */
  private def mutations(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "user_id", "ts")
      .select(col("seq"), col("ts"), lit("events").as("table"),
        col("user_id").cast("string").as("rowkey"),
        array(struct(lit("e").as("family"), lit("view").as("qualifier"),
          lit("1.0").as("value"), col("ts"), lit("put").as("kind")))
          .as("cells"))
  }

  /** Append a wave of rows as ONE new WAL segment whose name sorts
    * AFTER every existing segment (offsets are counts over the sorted
    * file list). */
  private def appendSegment(walDir: String, rows: Seq[(Long, Long, Long)],
      name: String): Unit = {
    val tmp = scratchDir("graft_wave").toString
    mutations(rows).coalesce(1).toJSON.write.mode("overwrite").text(tmp)
    val part = Files.list(Paths.get(tmp)).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.move(part, Paths.get(walDir, name))
  }

  private def counts(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("dau")).toMap

  test("a pair delivered in two different micro-batches counts once") {
    val stage = scratchDir("graft_q208a").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    // segment 1: users 1,2 on day 0; segment 2 REDELIVERS (1, day 0)
    // and adds user 3 — with maxFilesPerTrigger = 1 each segment is
    // its own micro-batch, so the redelivery crosses batches
    appendSegment(walDir, Seq((0L, 1L, 10L), (1L, 2L, 20L)), "seg_a.txt")
    appendSegment(walDir, Seq((2L, 1L, 30L), (3L, 3L, 40L)), "seg_b.txt")
    val got = counts(StreamingOps.runStreamActiveUsers(spark, walDir,
      s"$stage/ckpt", s"$stage/out", maxFilesPerTrigger = 1))
    assert(got == Map(0L -> 3L),
      s"cross-batch redelivery must collapse in the dedup state: $got")
  }

  test("kill/restart from checkpoint does not double-count through the dedup state") {
    val stage = scratchDir("graft_q208b").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    val ckpt = s"$stage/ckpt"; val out = s"$stage/out"
    // run 1: users 1,2 active on day 0; user 1 also on day 1
    appendSegment(walDir, Seq((0L, 1L, 10L), (1L, 2L, 20L)), "seg_a.txt")
    appendSegment(walDir, Seq((2L, 1L, dayUs + 10L)), "seg_b.txt")
    val first = counts(StreamingOps.runStreamActiveUsers(spark, walDir,
      ckpt, out, maxFilesPerTrigger = 1))
    assert(first == Map(0L -> 2L, 1L -> 1L), s"pre-restart counts wrong: $first")
    // the query is now STOPPED (AvailableNow ran to exhaustion) — the
    // restart below must rebuild both state stores from the checkpoint.
    // New segments: redeliver BOTH day-0 pairs consumed before the
    // stop, plus one genuinely new pair (user 3, day 0)
    appendSegment(walDir, Seq((3L, 1L, 50L), (4L, 2L, 60L), (5L, 3L, 70L)),
      "zz_seg_c.txt")
    val second = counts(StreamingOps.runStreamActiveUsers(spark, walDir,
      ckpt, out, maxFilesPerTrigger = 1))
    assert(second == Map(0L -> 3L, 1L -> 1L),
      s"restart double-counted pairs already in the pre-crash dedup state: $second")
  }
}
