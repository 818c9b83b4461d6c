package graft

import graft.operators.{Events, StreamingOps}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Crash-window spec for the q140 versioned-view sink and
  * batch/stream parity for the q195 WAL-integrity monitor. */
class StreamSinkSpec extends SparkSpec {

  private def mkView(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
  }

  test("publishView: pointer swap is atomic and every crash window leaves a readable view") {
    val root = scratchDir("graft_view").toString
    // no pointer before the first publish
    assert(StreamingOps.currentViewDir(root).isEmpty)
    StreamingOps.publishView(root, mkView(3), 1L)
    val v1 = StreamingOps.currentViewDir(root).get
    assert(spark.read.parquet(v1).count() == 3)
    // CRASH WINDOW A: a new version dir is fully written but the
    // crash hits before the pointer swap — the live view must still
    // be the old version, untouched
    mkView(5).write.parquet(Paths.get(root, "view_v99").toString)
    assert(StreamingOps.currentViewDir(root).get == v1)
    assert(spark.read.parquet(StreamingOps.currentViewDir(root).get).count() == 3)
    // next successful publish swaps; the previous versions survive as
    // the concurrent-reader grace window (retainVersions = 2) — a
    // reader holding v1 keeps scanning it across the swap
    StreamingOps.publishView(root, mkView(7), 100L)
    val v2 = StreamingOps.currentViewDir(root).get
    assert(spark.read.parquet(v2).count() == 7)
    assert(Files.exists(Paths.get(root, "view_v99")), "grace window violated")
    assert(Files.exists(Paths.get(root, "view_v1")), "grace window violated")
    assert(spark.read.parquet(v1).count() == 3, "retained version unreadable")
    // versions beyond the grace window ARE swept: after two more
    // publishes the oldest dirs go, the two most recent non-live stay
    StreamingOps.publishView(root, mkView(8), 101L)
    StreamingOps.publishView(root, mkView(9), 102L)
    assert(!Files.exists(Paths.get(root, "view_v1")), "expired version not swept")
    assert(!Files.exists(Paths.get(root, "view_v99")), "expired version not swept")
    assert(Files.exists(Paths.get(root, "view_v100")))
    assert(Files.exists(Paths.get(root, "view_v101")))
    // CRASH WINDOW B: between pointer swap and old-version GC the
    // pointer already names the new version — emulate by writing a
    // stale dir back; the view stays the pointer's version
    val v3 = StreamingOps.currentViewDir(root).get
    mkView(2).write.parquet(Paths.get(root, "view_v0").toString)
    assert(StreamingOps.currentViewDir(root).get == v3)
    assert(spark.read.parquet(v3).count() == 9)
    // the pointer file must always name an existing directory
    assert(Files.exists(Paths.get(v3)))
  }

  test("q195 streaming monitor equals the q192 batch audit on a synthetic WAL") {
    import spark.implicits._
    val us = 1000L
    // the AuditOpsSpec scenario: gap, duplicate (same-range-segment,
    // so first-delivery = min-ts), reordering, empty shard — with
    // the extra columns eventsAsWal needs
    val dir = scratchDir("graft_sw").toString
    Seq(
      (0L, 10L * us), (5L, 20L * us), (10L, 30L * us),
      (1L, 10L * us), (11L, 40L * us),
      (2L, 100L * us), (7L, 50L * us), (7L, 150L * us),
      (3L, 10L * us), (8L, 20L * us))
      .toDF("event_id", "ts")
      .withColumn("user_id", col("event_id") % 3)
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val batch = Events.walIntegrity(spark, dir, shards = 5)
    val stream = StreamingOps.streamWalIntegrity(spark, dir, shards = 5)
    assert(stream.count() == 5)
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty,
      s"stream/batch audit diverge:\nbatch=${batch.collect().toSeq}" +
        s"\nstream=${stream.collect().toSeq}")
    // and the known defects all surface
    val byShard = stream.collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(byShard(1L).getAs[Long]("n_gaps") == 1L)
    assert(byShard(2L).getAs[Long]("n_dups") == 1L &&
      byShard(2L).getAs[Long]("n_late") == 1L)
    assert(byShard(4L).getAs[Long]("n_rows") == 0L)
  }
}
