package graft

import graft.model.{Cell, Mutation, RowState}
import graft.streaming.RowMaterializer
import graft.streaming.RowMaterializer.RowCells
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import scala.collection.mutable

class RowMaterializerSpec extends SparkSpec {

  private def put(seq: Long, ts: Long, row: String, qual: String, v: String) =
    Mutation(seq, ts, "t", row, Seq(Cell("f", qual, v, ts, "put")))
  private def del(seq: Long, ts: Long, row: String, qual: String) =
    Mutation(seq, ts, "t", row, Seq(Cell("f", qual, null, ts, "delete")))
  private def tomb(seq: Long, ts: Long, row: String) =
    Mutation(seq, ts, "t", row, Seq(Cell("f", "", null, ts, "delete_row")))

  /** Each key's last state after streaming `batches` one micro-batch
    * each through [[RowMaterializer.materialize]]. */
  private def streamed(batches: Seq[Seq[Mutation]]): Set[RowState] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Mutation]
    val out = mutable.ArrayBuffer.empty[RowState]
    val q = RowMaterializer.materialize(spark, input.toDS()).writeStream
      .outputMode("update")
      .foreachBatch((df: Dataset[RowState], _: Long) => out.synchronized {
        out ++= df.collect(); ()
      }).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    out.groupBy(r => (r.table, r.rowkey)).values.map(_.last).toSet
  }

  private def batched(muts: Seq[Mutation]): Set[RowState] = {
    import spark.implicits._
    RowMaterializer.materializeBatch(spark, muts.toDS()).collect().toSet
  }

  test("applyMutation: latest-cell-wins and out-of-order ignore") {
    val st0 = RowCells(Map.empty, 0L, deleted = false)
    val st1 = RowMaterializer.applyMutation(st0, put(1, 100, "r1", "a", "v1"))
    val st2 = RowMaterializer.applyMutation(st1, put(2, 200, "r1", "a", "v2"))
    assert(st2.cells("f:a").value == "v2")
    // out-of-order older write must NOT overwrite
    val st3 = RowMaterializer.applyMutation(st2, put(3, 150, "r1", "a", "stale"))
    assert(st3.cells("f:a").value == "v2")
    // same ts: higher seq (WAL order) wins
    val st4 = RowMaterializer.applyMutation(st3, Mutation(4, 200, "t", "r1",
      Seq(Cell("f", "a", "v4", 200, "put"))))
    assert(st4.cells("f:a").value == "v4")
  }

  test("applyMutation: qualifier delete and row tombstone") {
    val st0 = RowCells(Map.empty, 0L, deleted = false)
    val st1 = RowMaterializer.applyMutation(st0, put(1, 100, "r1", "a", "v1"))
    val st2 = RowMaterializer.applyMutation(st1, Mutation(2, 200, "t", "r1",
      Seq(Cell("f", "a", null, 200, "delete"))))
    assert(!st2.cells.contains("f:a"))
    val st3 = RowMaterializer.applyMutation(st2, put(3, 300, "r1", "b", "v3"))
    val st4 = RowMaterializer.applyMutation(st3, Mutation(4, 400, "t", "r1",
      Seq(Cell("f", "", null, 400, "delete_row"))))
    assert(st4.deleted && st4.cells.isEmpty)
  }

  test("applyMutation: an older row tombstone arriving later keeps newer cells") {
    val st0 = RowCells(Map.empty, 0L, deleted = false)
    val st1 = RowMaterializer.applyMutation(st0, put(2, 300, "r1", "a", "v1"))
    val st2 = RowMaterializer.applyMutation(st1, put(1, 100, "r1", "b", "old"))
    val st3 = RowMaterializer.applyMutation(st2, Mutation(3, 200, "t", "r1",
      Seq(Cell("f", "", null, 200, "delete_row"))))
    assert(st3.cells.keySet == Set("f:a") && st3.cells("f:a").value == "v1")
    assert(!st3.deleted)
    // the same mutations in WAL order give the same row
    val batch = Seq(put(1, 100, "r1", "b", "old"), Mutation(3, 200, "t", "r1",
      Seq(Cell("f", "", null, 200, "delete_row"))), put(2, 300, "r1", "a", "v1"))
      .foldLeft(st0)(RowMaterializer.applyMutation)
    assert(batch == st3)
  }

  test("streaming materialize over MemoryStream applies WAL order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Mutation]
    val states = RowMaterializer.materialize(spark, input.toDS())
    val query = states.writeStream
      .format("memory").queryName("rowstates").outputMode(OutputMode.Update).start()
    try {
      input.addData(put(1, 100, "r1", "a", "v1"), put(2, 200, "r2", "a", "x1"))
      query.processAllAvailable()
      input.addData(put(3, 300, "r1", "a", "v2"), put(4, 50, "r2", "a", "stale"))
      query.processAllAvailable()
      val byKey = spark.table("rowstates").as[RowState].collect()
        .groupBy(_.rowkey).map { case (k, v) => k -> v.maxBy(_.version) }
      assert(byKey("r1").cells("f:a") == "v2")   // newer update applied
      assert(byKey("r2").cells("f:a") == "x1")   // stale update ignored
    } finally query.stop()
  }

  test("batch materializeBatch equals streaming semantics") {
    import spark.implicits._
    val muts = Seq(
      put(1, 100, "r1", "a", "v1"), put(2, 200, "r1", "a", "v2"),
      put(3, 150, "r1", "b", "w1"),
      Mutation(4, 250, "t", "r1", Seq(Cell("f", "b", null, 250, "delete"))))
    val out = RowMaterializer.materializeBatch(spark, muts.toDS()).collect()
    assert(out.length == 1)
    assert(out.head.cells == Map("f:a" -> "v2"))
  }

  test("a row tombstone older than a later qualifier delete leaves the row undeleted") {
    // put@300 and delete@400 empty the row; the older row tombstone
    // arrives in a later micro-batch
    val batches = Seq(Seq(put(1, 300, "r1", "a", "v1"), del(2, 400, "r1", "a")),
      Seq(tomb(3, 200, "r1")))
    val want = batched(batches.flatten)
    assert(want.map(r => (r.cells, r.version, r.deleted)) == Set((Map.empty, 400L, false)))
    assert(streamed(batches) == want)
    val st0 = RowCells(Map.empty, 0L, deleted = false)
    assert(!batches.flatten.foldLeft(st0)(RowMaterializer.applyMutation).deleted)
  }

  test("a put older than the row tombstone, arriving later, is not applied") {
    val batches = Seq(Seq(tomb(1, 500, "r1")), Seq(put(2, 300, "r1", "a", "v1")))
    val want = batched(batches.flatten)
    assert(want.map(r => (r.cells, r.version, r.deleted)) == Set((Map.empty, 500L, true)))
    assert(streamed(batches) == want)
  }

  test("materializeBatch over q36's input ignores shuffle partitions and AQE") {
    import spark.implicits._
    def run(): Set[RowState] = RowMaterializer.materializeBatch(spark,
      graft.sources.WalSource.eventsAsWal(spark, sfDir).as[Mutation]).collect().toSet
    val results = for (parts <- Seq("1", "3"); aqe <- Seq("true", "false"))
      yield withConf("spark.sql.shuffle.partitions" -> parts,
        "spark.sql.adaptive.enabled" -> aqe)(run())
    assert(results.head.nonEmpty && results.head.exists(_.deleted))
    assert(results.forall(_ == results.head))
  }
}
