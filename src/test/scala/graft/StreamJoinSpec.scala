package graft

import graft.model.{Cell, Mutation}
import graft.sources.WalSource
import graft.streaming.RowMaterializer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamJoinSpec extends SparkSpec {

  private def walEventStream(walDir: String) =
    WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 3)
      .withColumn("event_type", col("cells")(0)("qualifier"))
      .withColumn("event_time", timestamp_micros(col("ts")))
      .select(col("rowkey"), col("seq"), col("event_type"), col("event_time"))

  test("stream-stream interval join: purchases to clicks within 1h") {
    val walDir = scratchDir("graft_ssj").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWalJson(wal, walDir, batches = 4)

    val clicks = walEventStream(walDir)
      .filter(col("event_type") === "click")
      .withColumnRenamed("event_time", "click_time")
      .withColumnRenamed("seq", "click_seq")
      .withWatermark("click_time", "2 hours")
    val purchases = walEventStream(walDir)
      .filter(col("event_type") === "purchase")
      .withColumnRenamed("event_time", "purchase_time")
      .withColumnRenamed("rowkey", "p_rowkey")
      .withColumnRenamed("seq", "purchase_seq")
      .withWatermark("purchase_time", "2 hours")

    val joined = purchases.join(clicks,
      col("rowkey") === col("p_rowkey") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR") &&
        col("click_time") <= col("purchase_time"))

    val query = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(180000)

    // batch equivalent over the same WAL
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val expected = p.join(c, col("cu") === col("pu") &&
      col("cts") >= col("pts") - 3600000000L && col("cts") <= col("pts")).count()

    assert(spark.table("ssj").count() == expected)
  }

  test("materializeWithTTL evicts idle rows as tombstones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Mutation]
    def put(seq: Long, tsMicros: Long, row: String) =
      Mutation(seq, tsMicros, "t", row, Seq(Cell("f", "q", s"v$seq", tsMicros, "put")))

    val withTime = input.toDS()
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", "0 seconds")
      .as[Mutation]
    val states = RowMaterializer.materializeWithTTL(spark, withTime, ttlMillis = 60000)
    val query = states.writeStream.format("memory").queryName("ttlstates")
      .outputMode(OutputMode.Update).start()
    try {
      val h = 3600L * 1000000L
      input.addData(put(1, 1 * h, "r1"), put(2, 1 * h, "r2"))
      query.processAllAvailable()
      // advance event time far past r1/r2 ttl; touch only r3
      input.addData(put(3, 10 * h, "r3"))
      query.processAllAvailable()
      // one more batch so timeouts fire under the advanced watermark
      input.addData(put(4, 11 * h, "r3"))
      query.processAllAvailable()
      val rows = spark.table("ttlstates").collect()
      val tombstoned = rows.filter(r => r.getAs[Boolean]("deleted")).map(_.getAs[String]("rowkey")).toSet
      assert(Set("r1", "r2").subsetOf(tombstoned), s"expected r1,r2 evicted, got $tombstoned")
    } finally query.stop()
  }
}
