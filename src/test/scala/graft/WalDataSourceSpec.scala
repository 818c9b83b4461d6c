package graft

import graft.sources.WalSource
import graft.streaming.RowMaterializer
import graft.model.Mutation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.nio.file.Files

class WalDataSourceSpec extends SparkSpec {

  test("DSv2 graft-wal source: AvailableNow replays the full WAL") {
    val walDir = scratchDir("graft_dsv2").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWalJson(wal, walDir, batches = 5)
    val expected = wal.count()

    val stream = WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 2)
    val query = stream
      .groupBy(col("table")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dsv2counts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val n = spark.table("dsv2counts").collect().head.getAs[Long]("n")
    assert(n == expected)
    // maxFilesPerTrigger=2 over 5 segments → at least 3 micro-batches
    assert(query.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("DSv2 source resumes from checkpoint: new segments only, no duplicates") {
    val walDir = scratchDir("graft_ckpt_wal").toString
    val ckpt = scratchDir("graft_ckpt").toString
    val outDir = scratchDir("graft_ckpt_out").toString
    val ev = WalSource.eventsAsWal(spark, sfDir)
    val firstHalf = ev.filter(col("seq") % 2 === 0)
    val secondHalf = ev.filter(col("seq") % 2 === 1)

    def runOnce(): Unit = {
      val q = WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 2)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    WalSource.writeWalJson(firstHalf, walDir, batches = 3)
    runOnce()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == firstHalf.count())

    // append later segments with lexicographically larger names
    val tmp = scratchDir("graft_ckpt_tmp").toString
    WalSource.writeWalJson(secondHalf, tmp, batches = 2)
    new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-"))
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(walDir, "z_" + f.getName))
      }
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == ev.count(), "second run must add only the new segments")
    assert(out.select(col("seq")).distinct().count() == ev.count(), "no duplicate seqs")
  }

  test("DSv2 source tails the WAL: segments written while running are consumed") {
    val walDir = scratchDir("graft_tail").toString
    val ev = WalSource.eventsAsWal(spark, sfDir)
    val first = ev.filter(col("seq") % 2 === 0)
    val second = ev.filter(col("seq") % 2 === 1)
    WalSource.writeWalJson(first, walDir, batches = 2)

    val query = WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 2)
      .groupBy(col("table")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("tail_counts")
      .outputMode(OutputMode.Complete)
      .start() // default ProcessingTime trigger — continuous tailing
    try {
      query.processAllAvailable()
      assert(spark.table("tail_counts").collect().head.getAs[Long]("n") == first.count())
      // ship more WAL segments while the query is live
      val tmp = scratchDir("graft_tail_tmp").toString
      WalSource.writeWalJson(second, tmp, batches = 2)
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-"))
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(walDir, "z_" + f.getName))
        }
      query.processAllAvailable()
      assert(spark.table("tail_counts").collect().head.getAs[Long]("n") == ev.count())
    } finally query.stop()
  }

  test("DSv2 source feeds the stateful row materializer end-to-end") {
    import spark.implicits._
    val walDir = scratchDir("graft_dsv2b").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWalJson(wal, walDir, batches = 3)

    val muts = WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 1).as[Mutation]
    val states = RowMaterializer.materialize(spark, muts)
    val query = states.writeStream.format("memory").queryName("dsv2states")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(180000)

    // final streamed state == batch materialization over the same WAL
    val streamed = spark.table("dsv2states")
      .groupBy(col("rowkey"))
      .agg(max(struct(col("version"), col("deleted"))).as("s"))
      .select(col("rowkey"), col("s.version"), col("s.deleted"))
    val batch = RowMaterializer.materializeBatch(spark, wal.as[Mutation]).toDF()
      .select(col("rowkey"), col("version"), col("deleted"))
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }
}
