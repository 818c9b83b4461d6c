package graft

import graft.operators.AsOf
import graft.sources.WalSource
import graft.streaming.{Subscription, SubscriptionRegistry}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Edge-case regression specs for the round-2 hardening fixes. */
class HardeningSpec extends SparkSpec {

  test("AsOf.join: tiebreak makes equal-time right rows deterministic") {
    import spark.implicits._
    val left = Seq((1L, 100L, "probe")).toDF("k", "t", "tag")
    // two right rows at the SAME (key, time) with different payloads —
    // the seq tiebreak must make the higher-seq row win, every run
    val right = Seq((1L, 100L, 10L, "first"), (1L, 100L, 11L, "second"))
      .toDF("k", "t", "seq", "payload")
    (1 to 3).foreach { _ =>
      val got = AsOf.join(left, right, "k", "t", "t",
        rightPayload = Seq("payload"), rightTiebreak = Some("seq")).collect()
      assert(got.length == 1 && got.head.getAs[String]("asof_payload") == "second")
    }
  }

  test("AsOf.join: right payload column sharing a left column name survives") {
    import spark.implicits._
    // both sides carry `t`; the payload capture must happen before the
    // left-column nulling (regression for the q62 all-null bug)
    val left = Seq((1L, 200L)).toDF("k", "t")
    val right = Seq((1L, 150L, 7L)).toDF("k", "t", "rid")
    val got = AsOf.join(left, right, "k", "t", "t",
      rightPayload = Seq("rid", "t")).collect()
    assert(got.head.getAs[Long]("asof_rid") == 7L)
    assert(got.head.getAs[Long]("asof_t") == 150L)
  }

  test("AsOf.join: reserved temp-column prefix fails fast on collision") {
    import spark.implicits._
    val bad = Seq((1L, 1L)).toDF("k", "__graft_asof_t")
    intercept[IllegalArgumentException] {
      AsOf.join(bad, bad, "k", "__graft_asof_t", "__graft_asof_t", Seq.empty)
    }
  }

  test("SubscriptionRegistry: concurrent adds lose no updates") {
    val path = scratchDir("graft_reg").resolve("subs.json").toString
    val reg = new SubscriptionRegistry(path)
    val threads = (0 until 8).map { i =>
      new Thread(() => (0 until 5).foreach { j =>
        reg.add(Subscription(s"sub-$i-$j", table = Some("events")))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(reg.list().size == 40, s"lost updates: ${reg.list().size}/40")
  }

  test("graft-wal accepts local paths whose segments contain a colon") {
    import org.apache.spark.sql.streaming.Trigger
    // 'wal:v2' is a java.io.File path, not a remote scheme — the
    // scheme guard must only fire on explicit scheme:// URIs
    val dir = Files.createDirectories(
      scratchDir("graft_colon").resolve("wal:v2"))
    // hand-written segment (Hadoop writers reject colons in paths;
    // the DSv2 reader goes through java.io and must not)
    val lines = WalSource.eventsAsWal(spark, sfDir).limit(25)
      .toJSON.collect().toSeq
    Files.write(dir.resolve("seg-000.jsonl"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
    val q = WalSource.streamV2(spark, dir.toString, maxFilesPerTrigger = 4)
      .groupBy(col("table")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("colonwal")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("colonwal").collect().head.getAs[Long]("n") == 25)
  }

  test("graft-wal source fails loudly on remote schemes and missing dirs") {
    import org.apache.spark.sql.streaming.Trigger
    def run(dir: String): Unit = {
      val q = WalSource.streamV2(spark, dir)
        .writeStream.format("memory")
        .queryName(s"walfail${math.abs(dir.hashCode)}")
        .option("checkpointLocation",
          scratchDir("graft_ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run("hdfs://nn/graft/wal")
    }
    assert(e1.getMessage.contains("graft-wal") ||
      Option(e1.getCause).exists(_.getMessage.contains("graft-wal")))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(scratchDir("graft_gone").toString + "/nope")
    }
    assert(e2.getMessage.contains("does not exist") ||
      Option(e2.getCause).exists(_.getMessage.contains("does not exist")))
  }
}
