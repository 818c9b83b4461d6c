package graft

import graft.model.{Cell, Mutation, RowState}
import graft.sources.WalSource
import graft.streaming.{ExactlyOnce, RowMaterializer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.operators.stateful.{StatefulOperator, StreamingDeduplicateWithinWatermarkExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files
import scala.collection.mutable

/** The exactly-once CDC consumer, `materialize(dedupe(wal))`, runs as
  * one stateful operator and keeps the standalone dedupe's results. */
class FusedConsumerSpec extends SparkSpec {

  private val T0 = 3600L * 1000000L // epoch micros
  private val Min = 60L * 1000000L

  private def put(seq: Long, at: Long, row: String, qual: String, v: String) =
    Mutation(seq, T0 + at * Min, "t", row, Seq(Cell("f", qual, v, T0 + at * Min, "put")))
  private def tomb(seq: Long, at: Long, row: String) =
    Mutation(seq, T0 + at * Min, "t", row, Seq(Cell("f", "", null, T0 + at * Min, "delete_row")))

  private def canon(r: RowState): String =
    s"${r.table}|${r.rowkey}|${r.version}|${r.deleted}|${r.cells.toSeq.sorted.mkString(",")}"

  private def statefulOps(q: StreamingQuery) =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case op: StatefulOperator => op }

  /** Emitted states per batch, collected on the driver. */
  private class Collector {
    val batches = mutable.ArrayBuffer.empty[Seq[RowState]]
    def sink(d: Dataset[RowState]) = d.writeStream.outputMode("update")
      .foreachBatch((df: Dataset[RowState], _: Long) => batches.synchronized {
        batches += df.collect().toSeq; ()
      })
    def last: Set[String] =
      batches.flatten.groupBy(r => (r.table, r.rowkey)).values.map(rs => canon(rs.last)).toSet
  }

  private def batchStates(muts: Seq[Mutation]): Set[String] = {
    import spark.implicits._
    RowMaterializer.materializeBatch(spark, muts.toDS()).collect().map(canon).toSet
  }

  // batch 1: an in-batch replay (seq 2) and a row tombstone;
  // batch 2: replays of seqs 1-4 (r2 and r3 get nothing else);
  // batches 3-4 push the watermark to +50 min;
  // batch 5: a late row (r5), a late replay, an older row tombstone
  // arriving after a newer put on r4.
  private val batches = Seq(
    Seq(put(1, 1, "r1", "a", "v1"), put(2, 2, "r2", "a", "x1"), put(3, 3, "r3", "a", "y1"),
      put(2, 2, "r2", "a", "x1"), tomb(4, 4, "r2")),
    Seq(put(1, 1, "r1", "a", "v1"), put(3, 3, "r3", "a", "y1"), put(2, 2, "r2", "a", "x1"),
      tomb(4, 4, "r2"), put(5, 8, "r1", "b", "v2")),
    Seq(put(6, 60, "r4", "a", "z1")),
    Seq(put(7, 61, "r6", "a", "w1")),
    Seq(put(8, 20, "r5", "a", "late"), put(5, 8, "r1", "b", "v2"), tomb(9, 58, "r4")))
  private val late = Set(8L)

  /** Feeds `batches` one by one; returns the collector, the states
    * emitted per input batch and the stopped query. */
  private def run(build: DataFrame => DataFrame)
      : (Collector, Seq[Seq[RowState]], StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Mutation]
    val out = new Collector
    val q = out.sink(RowMaterializer.materialize(spark, build(input.toDF()).as[Mutation])).start()
    // a no-data batch may follow an input batch; it emits nothing
    try {
      val rounds = batches.map { b =>
        val n0 = out.batches.size
        input.addData(b)
        q.processAllAvailable()
        out.batches.drop(n0).flatten.toSeq
      }
      (out, rounds, q)
    } finally q.stop()
  }

  test("materialize over dedupe runs one stateful operator and equals the batch over distinct seqs") {
    val (fused, rounds, fq) = run(ExactlyOnce.dedupe(_, "10 minutes"))
    val ops = statefulOps(fq)
    assert(ops.size == 1, ops.map(_.nodeName).mkString(", "))
    assert(!ops.exists(_.isInstanceOf[StreamingDeduplicateWithinWatermarkExec]))

    // the same frame with an operator on top is not recognized: the
    // standalone deduplicate then runs beneath the materializer
    val (twoOp, _, tq) = run(ExactlyOnce.dedupe(_, "10 minutes").filter(lit(true)))
    assert(statefulOps(tq).size == 2)

    val distinct = batches.flatten.groupBy(_.seq).values.map(_.head).toSeq
    val want = batchStates(distinct.filterNot(m => late(m.seq)))
    // includes r4: the older row tombstone keeps its newer put
    assert(fused.last == want)
    assert(twoOp.last == want)
    assert(!fused.batches.flatten.exists(_.rowkey == "r5"), "late row applied")

    // every in-horizon replay is dropped: the keys whose batch-2
    // mutations were all replays are not emitted (drop ratio 2/2)
    val replayOnly = Set("r2", "r3")
    val dropped = replayOnly.count(k => !rounds(1).exists(_.rowkey == k))
    assert(dropped.toDouble / replayOnly.size == 1.0)
    assert(rounds(1).map(_.rowkey).toSet == Set("r1"))
  }

  test("the fused consumer resumes from its checkpoint with its seen seqs") {
    val root = scratchDir("graft_fused_restart")
    val walDir = root.resolve("wal"); Files.createDirectories(walDir)
    val ckpt = root.resolve("ckpt").toString
    import spark.implicits._
    def stage(i: Int, muts: Seq[Mutation]): Unit = {
      val tmp = root.resolve(s"tmp$i").toString
      WalSource.writeWalJson(muts.toDS().toDF(), tmp, batches = 1)
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
        Files.copy(f.toPath, walDir.resolve(f"seg-$i%03d-${f.getName}"))
      }
    }
    val segs = Seq(
      Seq(put(1, 1, "r1", "a", "v1"), put(2, 2, "r2", "a", "x1"), put(3, 3, "r3", "a", "y1")),
      Seq(put(4, 4, "r1", "b", "v2"), tomb(5, 5, "r2"), put(1, 1, "r1", "a", "v1")),
      // after the restart: r2 and r3 see only replays
      Seq(put(3, 3, "r3", "a", "y1"), tomb(5, 5, "r2"), put(6, 7, "r1", "a", "v3")),
      Seq(put(4, 4, "r1", "b", "v2"), put(7, 8, "r4", "a", "z1")))
    val out = new Collector
    def drain(): Unit = {
      val wal = WalSource.streamV2(spark, walDir.toString, maxFilesPerTrigger = 1)
      val q = out.sink(RowMaterializer.materialize(spark, ExactlyOnce.dedupe(wal).as[Mutation]))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain did not finish")
      q.exception.foreach(e => throw e)
    }
    segs.take(2).zipWithIndex.foreach { case (m, i) => stage(i, m) }
    drain() // stops after batch 2
    val before = out.batches.size
    segs.drop(2).zipWithIndex.foreach { case (m, i) => stage(i + 2, m) }
    drain()
    val resumed = out.batches.drop(before).flatten.map(_.rowkey).toSet
    assert(resumed == Set("r1", "r4"), s"replay-only rows re-emitted after restart: $resumed")
    assert(out.last == batchStates(segs.flatten.groupBy(_.seq).values.map(_.head).toSeq))
  }

  test("the fused consumer compiles no state decoder after its first micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Mutation]
    val keys = mutable.ArrayBuffer.empty[String]
    // the sink reads flat columns only, so it compiles nothing per batch itself
    val q = RowMaterializer.materialize(spark, ExactlyOnce.dedupe(input.toDF(), "10 minutes").as[Mutation])
      .toDF().writeStream.outputMode("update")
      .foreachBatch((df: DataFrame, _: Long) => keys.synchronized {
        keys ++= df.select("rowkey").as[String].collect(); ()
      }).start()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      var (compiles2, batch2) = (0L, 0L)
      (1 to 10).foreach { i =>
        // a new row, an update of r0 and a replay of the previous batch's
        // new row; event time moves 5 min a batch, so the watermark does too
        input.addData(Seq(put(2L * i, 5L * i, s"r$i", "a", s"v$i"),
          put(2L * i + 1, 5L * i, "r0", "a", s"v$i"),
          put(2L * (i - 1), 5L * (i - 1), s"r${i - 1}", "a", s"v${i - 1}")))
        q.processAllAvailable()
        if (i == 2) { compiles2 = compiles; batch2 = q.lastProgress.batchId }
      }
      val runs = q.lastProgress.batchId - batch2
      val compiled = compiles - compiles2
      info(s"$compiled compilations in $runs micro-batch runs after batch 2")
      assert(runs >= 8)
      // at most the watermark predicate, whose literal changes per batch
      assert(compiled <= runs)
      assert(keys.toSet == (0 to 10).map(i => s"r$i").toSet)
    } finally q.stop()
  }
}
