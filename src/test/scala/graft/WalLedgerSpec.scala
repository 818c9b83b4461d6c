package graft

import graft.operators.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.nio.file.{Files, Paths}

/** q195's production ledger contract (round-7 VERDICT "what's wrong"
  * #1): the per-batch ledger join must read ONLY the id-range buckets
  * the batch touches, compaction must bound the per-batch appends and
  * clear the deltas without changing the audit, retention must bound
  * the ledger by the WAL window, and checkpoint replay of a batch
  * must be a no-op. The stream≡batch oracle lives in StreamSinkSpec;
  * these tests pin the STATE MACHINE the oracle cannot see. */
class WalLedgerSpec extends SparkSpec {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
        rel.location.rootPaths.map(_.toString)
    }.flatten

  private def batchDf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "ts")
  }

  private def freshRoot(): String = {
    val r = scratchDir("graft_ledger").toString
    r
  }

  private def report(root: String, shards: Int) =
    StreamingOps.walStateReport(spark, root, shards)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap

  test("per-batch ledger read scans exactly the touched bucket dirs") {
    val root = freshRoot()
    // rangeSize 10, shards 2: seed buckets 0,1,2,3 (ids 0..39 step 2)
    StreamingOps.walLedgerBatch(spark, root,
      batchDf((0L until 40L by 2).map(i => i -> (i * 100L))),
      batchId = 0, shards = 2, rangeSize = 10, compactEvery = 0)
    // a batch touching only ids {24, 26} must prune to buckets {2}
    // (24-2, 26+2 stay inside bucket 2)
    val touched = StreamingOps.walLedgerBatch(spark, root,
      batchDf(Seq(24L -> 2400L, 26L -> 2600L)),
      batchId = 1, shards = 2, rangeSize = 10, compactEvery = 0)
    assert(touched == Seq(2L), s"touched buckets wrong: $touched")
    // and the pruned read's plan names ONLY bucket=2 dirs
    val pruned = StreamingOps.readLedgerPruned(spark, root, touched).get
    val paths = scanPaths(pruned)
    assert(paths.nonEmpty)
    assert(paths.forall(_.contains("bucket=2")),
      s"pruned ledger read leaks past the touched buckets: $paths")
    // an edge-of-bucket batch fans out to the successor's bucket too
    val touched2 = StreamingOps.walLedgerBatch(spark, root,
      batchDf(Seq(9L -> 900L)),
      batchId = 2, shards = 2, rangeSize = 10, compactEvery = 0)
    assert(touched2 == Seq(0L, 1L),
      s"id 9 with shards=2 must touch buckets 0 (9, 9-2) and 1 (9+2): $touched2")
  }

  test("checkpoint replay of a batch leaves the audit unchanged") {
    val root = freshRoot()
    val b0 = batchDf(Seq(0L -> 10L, 1L -> 20L, 2L -> 30L))
    val b1 = batchDf(Seq(3L -> 40L, 4L -> 25L)) // 4 before 2? no: 4 vs 2: ts 25 < 30 -> late pair (2,4)
    StreamingOps.walLedgerBatch(spark, root, b0, 0, shards = 2, rangeSize = 100, compactEvery = 0)
    StreamingOps.walLedgerBatch(spark, root, b1, 1, shards = 2, rangeSize = 100, compactEvery = 0)
    val before = report(root, 2)
    // replay batch 1 (same id, same rows) — every store must collapse it
    StreamingOps.walLedgerBatch(spark, root, b1, 1, shards = 2, rangeSize = 100, compactEvery = 0)
    val after = report(root, 2)
    assert(after == before, s"replay changed the audit:\n$before\n$after")
    assert(after(0L).getAs[Long]("n_late") == 1L,
      s"the (2,4) reordering must survive replay: ${after(0L)}")
  }

  test("compaction clears deltas, bounds files, and preserves the audit") {
    val shards = 2; val rangeSize = 50L
    def drive(root: String, compactEvery: Int): Unit =
      (0 until 8).foreach { b =>
        val rows = (0 until 10).map { i =>
          val id = b * 10L + i
          id -> (id * 100L)
        } ++ Seq((b * 10L) -> (b * 1000L + 7)) // a duplicate per batch
        StreamingOps.walLedgerBatch(spark, root, batchDf(rows), b,
          shards, rangeSize, compactEvery)
      }
    val plain = freshRoot(); val compacted = freshRoot()
    drive(plain, compactEvery = 0)
    drive(compacted, compactEvery = 4)
    assert(report(compacted, shards) == report(plain, shards),
      "compaction changed the audit")
    // deltas cleared at the batch-8 compaction
    for (store <- Seq("ledger", "counts", "late"))
      assert(!Files.exists(Paths.get(compacted, s"${store}_delta")),
        s"$store delta not cleared by compaction")
    // base pointer exists and is versioned
    assert(StreamingOps.storeBaseDir(compacted, "ledger").isDefined)
    def parquetFiles(root: String): Long = {
      val w = Files.walk(Paths.get(root))
      try w.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    assert(parquetFiles(compacted) < parquetFiles(plain),
      "compaction did not reduce the ledger file count")
  }

  test("retention bounds the ledger to the WAL window at compaction") {
    val root = freshRoot()
    // batch 0: old ids (ts around 1_000); batch 1: recent ids (ts around 1_000_000)
    StreamingOps.walLedgerBatch(spark, root,
      batchDf(Seq(0L -> 1000L, 1L -> 1100L)), 0, shards = 2,
      rangeSize = 100, compactEvery = 0)
    StreamingOps.walLedgerBatch(spark, root,
      batchDf(Seq(2L -> 1000000L, 3L -> 1000100L)), 1, shards = 2,
      rangeSize = 100, compactEvery = 0)
    StreamingOps.compactWalState(spark, root, rangeSize = 100,
      retentionUs = 10000L)
    val got = report(root, 2)
    // ids 0 and 1 fell out of the window; 2 and 3 remain
    assert(got(0L).getAs[Long]("n_ids") == 1L &&
      got(0L).getAs[Long]("min_id") == 2L, s"old even id not aged out: ${got(0L)}")
    assert(got(1L).getAs[Long]("n_ids") == 1L &&
      got(1L).getAs[Long]("min_id") == 3L, s"old odd id not aged out: ${got(1L)}")
    // and a redelivery LATER than retention re-counts as first delivery
    // (the q86 watermarked-dedup contract)
    StreamingOps.walLedgerBatch(spark, root,
      batchDf(Seq(0L -> 2000000L)), 2, shards = 2,
      rangeSize = 100, compactEvery = 0)
    assert(report(root, 2)(0L).getAs[Long]("n_ids") == 2L,
      "post-retention redelivery must re-enter the ledger")
  }
}
