package graft

import graft.sources.WalSource
import graft.streaming.{Subscription, Subscriptions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class WalSourceSpec extends SparkSpec {

  test("events → WAL files → stream: counts match batch, payload extractable") {
    val walDir = scratchDir("graft_wal").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWal(wal, walDir, batches = 4)
    val expected = wal.count()

    val stream = WalSource.stream(spark, walDir, maxFilesPerTrigger = 2)
      .withColumn("payload", WalSource.extractPayload(col("cells"), "e", "props"))
    val query = stream
      .groupBy(col("table"))
      .agg(count(lit(1)).as("n"), count(col("payload")).as("n_payload"))
      .writeStream.format("memory").queryName("walcounts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val row = spark.table("walcounts").collect().head
    assert(row.getAs[Long]("n") == expected)
    assert(row.getAs[Long]("n_payload") == expected) // every mutation carries props
  }

  test("subscriptions filter and narrow the stream (fan-out)") {
    val wal = WalSource.eventsAsWal(spark, sfDir) // batch df, same schema
    val subs = Subscriptions.fanOut(wal, Seq(
      Subscription("all"),
      Subscription("events-only", table = Some("events")),
      Subscription("props-only", family = Some("e"), qualifier = Some("props")),
      Subscription("other-table", table = Some("nope"))))
    val n = wal.count()
    assert(subs("all").count() == n)
    assert(subs("events-only").count() == n)
    assert(subs("other-table").count() == 0)
    val narrowed = subs("props-only")
    assert(narrowed.count() == n)
    // narrowed cells contain only the subscribed qualifier
    val maxCells = narrowed.select(max(size(col("cells")))).collect().head.getInt(0)
    assert(maxCells == 1)
  }

  test("streaming session windows (native session_window) over the WAL") {
    val walDir = scratchDir("graft_sess").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWal(wal, walDir, batches = 2)
    val sessions = WalSource.stream(spark, walDir, maxFilesPerTrigger = 1)
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("rowkey"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val query = sessions.writeStream.format("memory").queryName("walsess")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(180000)
    val emitted = spark.table("walsess")
    // sanity vs the batch sessionizer: emitted (closed) sessions are a
    // subset of all sessions, and per-user counts never exceed batch
    val batchSessions = graft.operators.Events.sessionize(spark, sfDir)
      .select(col("user_id").cast("string").as("rowkey"), col("n_sessions"))
    val perUser = emitted.groupBy(col("rowkey")).agg(count(lit(1)).as("streamed"))
      .join(batchSessions, "rowkey")
    assert(emitted.count() > 0)
    assert(perUser.filter(col("streamed") > col("n_sessions")).count() == 0)
  }

  test("streaming tumbling window with watermark over the WAL") {
    val walDir = scratchDir("graft_wal2").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWal(wal, walDir, batches = 2)
    val stream = WalSource.stream(spark, walDir, maxFilesPerTrigger = 1)
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val query = stream.writeStream.format("memory").queryName("walwin")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    // append mode emits only closed windows (watermark passed); the
    // batch equivalent bounds it from above
    val emitted = spark.table("walwin").agg(sum(col("n"))).collect().head.getLong(0)
    val total = wal.count()
    assert(emitted > 0 && emitted <= total)
  }
}
