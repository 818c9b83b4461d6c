package graft

import graft.operators.StreamingOps
import graft.streaming.Quota
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.Random

/** q221's streaming-quota semantics the SQL oracle cannot see: the
  * k-min admitted-set lattice is arrival-order independent (fuzzed),
  * a LATE low seq evicts a higher one across micro-batches, and a
  * checkpoint restart resumes the per-key state. */
class QuotaSpec extends SparkSpec {

  private def mutations(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "user_id", "ts")
      .select(col("seq"), col("ts"), lit("events").as("table"),
        col("user_id").cast("string").as("rowkey"),
        array(struct(lit("e").as("family"), lit("view").as("qualifier"),
          lit("1.0").as("value"), col("ts"), lit("put").as("kind")))
          .as("cells"))
  }

  private def appendSegment(walDir: String, rows: Seq[(Long, Long, Long)],
      name: String): Unit = {
    val tmp = scratchDir("graft_qwave").toString
    mutations(rows).coalesce(1).toJSON.write.mode("overwrite").text(tmp)
    val part = Files.list(Paths.get(tmp)).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.move(part, Paths.get(walDir, name))
  }

  private def byHour(df: DataFrame): Map[Long, (Long, Long, Long, Long)] =
    df.collect().map(r => r.getAs[Long]("hour") ->
      (r.getAs[Long]("n_events"), r.getAs[Long]("n_admitted"),
        r.getAs[Long]("n_capped_users"), r.getAs[Long]("admitted_seq_sum")))
      .toMap

  test("merge is a lattice: any batch split, any order, same final state") {
    val rnd = new Random(7)
    val seqs = rnd.shuffle((1L to 23L).toList)
    val want = Quota.merge(Quota.QuotaRow(1, 0, 0, Nil), seqs, 5)
    for (_ <- 1 to 50) {
      val shuffled = rnd.shuffle(seqs)
      // random split into 1..6 successive batches
      val cuts = rnd.shuffle(shuffled.indices.toList).take(rnd.nextInt(6)).sorted
      val batches = (0 :: cuts).zip(cuts :+ shuffled.length)
        .map { case (a, b) => shuffled.slice(a, b) }
      val got = batches.foldLeft(Quota.QuotaRow(1, 0, 0, Nil))(
        (st, b) => Quota.merge(st, b, 5))
      assert(got == want, s"order/split changed the final state: $got vs $want")
    }
    assert(want.admitted == (1L to 5L).toList && want.n == 23L)
  }

  test("a late low seq evicts a higher admitted seq across micro-batches") {
    val stage = scratchDir("graft_q221a").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    // one key (user 1, hour 0), limit 2. Batch 1 delivers seqs 10, 11
    // (both admitted); batch 2 delivers seq 5 — it must ENTER the
    // admitted set and evict 11: final {5, 10}, sum 15.
    appendSegment(walDir, Seq((10L, 1L, 100L), (11L, 1L, 200L)), "seg_a.txt")
    appendSegment(walDir, Seq((5L, 1L, 300L)), "seg_b.txt")
    val got = byHour(StreamingOps.runStreamQuota(spark, walDir,
      s"$stage/ckpt", s"$stage/out", maxFilesPerTrigger = 1, limit = 2))
    assert(got == Map(0L -> (3L, 2L, 1L, 15L)),
      s"late-low-seq eviction failed: $got")
  }

  test("checkpoint restart resumes per-key quota state") {
    val stage = scratchDir("graft_q221b").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    val ckpt = s"$stage/ckpt"; val out = s"$stage/out"
    // run 1: key (1, hour 0) uses up its quota of 2 (seqs 1, 2)
    appendSegment(walDir, Seq((1L, 1L, 100L), (2L, 1L, 200L)), "seg_a.txt")
    val first = byHour(StreamingOps.runStreamQuota(spark, walDir,
      ckpt, out, maxFilesPerTrigger = 1, limit = 2))
    assert(first == Map(0L -> (2L, 2L, 0L, 3L)), s"pre-restart: $first")
    // restart with new seqs 3, 4 for the same key plus a fresh user:
    // the restored state must keep {1, 2} admitted and reject 3, 4
    appendSegment(walDir, Seq((3L, 1L, 300L), (4L, 1L, 400L),
      (7L, 2L, 500L)), "zz_seg_b.txt")
    val second = byHour(StreamingOps.runStreamQuota(spark, walDir,
      ckpt, out, maxFilesPerTrigger = 1, limit = 2))
    assert(second == Map(0L -> (5L, 3L, 1L, 10L)),
      s"restart lost or double-counted quota state: $second")
  }
}
