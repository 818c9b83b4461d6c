package graft

import graft.sources.WalSource
import graft.streaming.{ExactlyOnce, Subscription}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class ExactlyOnceSpec extends SparkSpec {

  test("replayed WAL mutations are deduplicated by seq within watermark") {
    val walDir = scratchDir("graft_dup").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    // simulate at-least-once delivery: every mutation shipped twice
    WalSource.writeWalJson(wal.union(wal), walDir, batches = 4)
    val expected = wal.count()

    val deduped = ExactlyOnce.dedupe(
      WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 4))
    val query = deduped
      .groupBy(col("table")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dedup_counts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)
    val n = spark.table("dedup_counts").collect().head.getAs[Long]("n")
    assert(n == expected, s"expected $expected deduped mutations, got $n")
  }

  test("fan-out: two subscriptions consume the same WAL concurrently") {
    val walDir = scratchDir("graft_fan").toString
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWalJson(wal, walDir, batches = 3)
    val expected = wal.count()

    def attach(name: String, sub: Subscription) = {
      val stream = sub(WalSource.streamV2(spark, walDir, maxFilesPerTrigger = 2))
      stream.groupBy(col("table")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // each query tracks its own offsets — SEP's per-subscription progress
    val q1 = attach("fan_all", Subscription("all"))
    val q2 = attach("fan_props", Subscription("props", family = Some("e"),
      qualifier = Some("props")))
    q1.awaitTermination(120000)
    q2.awaitTermination(120000)
    assert(spark.table("fan_all").collect().head.getAs[Long]("n") == expected)
    assert(spark.table("fan_props").collect().head.getAs[Long]("n") == expected)
  }

  test("one-pass q69 audit equals the per-subscription fanOut scans") {
    import graft.streaming.Subscriptions
    val wal = WalSource.eventsAsWal(spark, sfDir)
    // the audited counts must be exactly what each subscription's own
    // filtered, narrowed view reports (the pre-r3 four-scan form)
    val want = Subscriptions.fanOut(wal, operators.StreamingOps.auditSubscriptions)
      .map { case (name, df) =>
        val r = df.agg(count(lit(1)), countDistinct(col("rowkey")),
          sum(size(col("cells")).cast("long"))).collect().head
        name -> ((r.getLong(0), r.getLong(1), r.getLong(2)))
      }
    val got = operators.StreamingOps.subscriptionAudit(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    // and the audit plan reads the WAL exactly once
    val scans = operators.StreamingOps.subscriptionAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"q69 audit scans the WAL $scans times")
  }

  test("subscription registry: register/unregister persists across instances") {
    import graft.streaming.SubscriptionRegistry
    val path = scratchDir("graft_reg").resolve("subs.jsonl").toString
    val reg = new SubscriptionRegistry(path)
    assert(reg.list().isEmpty)
    reg.add(Subscription("all"))
    reg.add(Subscription("props", family = Some("e"), qualifier = Some("props")))
    reg.add(Subscription("all", table = Some("events"))) // upsert by name
    val reloaded = new SubscriptionRegistry(path)
    assert(reloaded.list().map(_.name).sorted == Seq("all", "props"))
    assert(reloaded.list().find(_.name == "all").get.table.contains("events"))
    reloaded.remove("props")
    assert(!new SubscriptionRegistry(path).hasSubscription("props"))

    val wal = WalSource.eventsAsWal(spark, sfDir)
    val attached = reloaded.attachAll(wal)
    assert(attached.keySet == Set("all"))
    assert(attached("all").count() == wal.count())
  }
}
