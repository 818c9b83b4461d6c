package graft

import graft.operators.StreamingOps
import graft.sources.WalSource
import graft.streaming.{Subscription, SubscriptionRegistry}
import org.apache.spark.sql.functions._

/** The q263 consumer-ack seam (round-9): a consuming stream persists
  * per-subscription acked seq into the registry, and the lag report
  * reads the REAL positions — the md5 fixture stays only inside the
  * oracle gate. */
class ConsumerAckSpec extends SparkSpec {

  test("register -> consume k batches -> lag report reflects real acks") {
    val tmp = scratchDir("graft-ack").toString
    val reg = new SubscriptionRegistry(s"$tmp/registry.json")
    val clicks =
      Subscription("clicks", family = Some("e"), qualifier = Some("click"))
    reg.add(clicks)
    reg.add(Subscription("all"))
    val wal = WalSource.eventsAsWal(spark, sfDir)
    WalSource.writeWalJson(wal, s"$tmp/wal", batches = 4)
    var batches = 0
    StreamingOps.consumeAndAck(spark,
      graft.sources.GraftWalStream(s"$tmp/wal", maxFilesPerTrigger = 1),
      reg, "clicks", s"$tmp/ckpt") { _ => batches += 1 }
    assert(batches >= 2, "expected multiple micro-batches")
    // acked position == the max seq of the mutations this
    // subscription can SEE (its filtered view, not the raw WAL)
    val expected = clicks(wal).agg(max(col("seq"))).head().getLong(0)
    assert(reg.ackedSeq("clicks") === Some(expected))
    assert(reg.ackedSeq("all") === None, "never-consumed sub must not ack")
    val lag = StreamingOps.consumerLagFrom(spark, sfDir, reg)
      .collect().map(r => r.getAs[String]("subscription") ->
        ((r.getAs[Long]("ack_seq"), r.getAs[Long]("n_pending"),
          r.getAs[Long]("n_visible")))).toMap
    assert(lag("clicks")._1 === expected)
    assert(lag("clicks")._2 === 0L, "caught-up consumer has no pending")
    assert(lag("all")._2 === lag("all")._3,
      "unacked consumer is fully pending")
    // replay from a fresh checkpoint (crash-recovery shape): the
    // monotonic ack absorbs the duplicate delivery
    StreamingOps.consumeAndAck(spark,
      graft.sources.GraftWalStream(s"$tmp/wal", maxFilesPerTrigger = 2),
      reg, "clicks", s"$tmp/ckpt2")()
    assert(reg.ackedSeq("clicks") === Some(expected))
  }

  test("ack is monotonic under out-of-order and duplicate acks") {
    val tmp = scratchDir("graft-ack2").toString
    val reg = new SubscriptionRegistry(s"$tmp/r.json")
    reg.ack("c", 10L); reg.ack("c", 5L); reg.ack("c", 10L); reg.ack("c", 12L)
    assert(reg.ackedSeq("c") === Some(12L))
    // persisted: a fresh instance over the same path sees the position
    assert(new SubscriptionRegistry(s"$tmp/r.json").ackedSeq("c")
      === Some(12L))
  }

  test("two registries acking different subs cannot lose each other") {
    // the round-10 multi-writer fix: per-subscription ack files mean
    // two consumer PROCESSES (modeled as two registry instances;
    // the in-process path lock is keyed per path so we interleave
    // rather than truly race — the property under test is the FILE
    // layout, one file per sub, not the JVM lock) acking different
    // subscriptions write different files and merge instead of
    // last-writer-winning the whole map
    val tmp = scratchDir("graft-ack3").toString
    val a = new SubscriptionRegistry(s"$tmp/r.json")
    val b = new SubscriptionRegistry(s"$tmp/r.json")
    // interleaved ack sequences from the two writers
    a.ack("slow", 3L); b.ack("fast", 100L)
    a.ack("slow", 7L); b.ack("fast", 200L)
    b.ack("fast", 250L); a.ack("slow", 9L)
    val merged = new SubscriptionRegistry(s"$tmp/r.json").acks()
    assert(merged === Map("slow" -> 9L, "fast" -> 250L))
    // same-sub concurrent acks stay monotonic-conservative
    a.ack("slow", 11L); b.ack("slow", 10L)
    assert(new SubscriptionRegistry(s"$tmp/r.json").ackedSeq("slow")
      === Some(11L))
  }

  test("legacy combined acks file max-merges with per-sub files") {
    val tmp = scratchDir("graft-ack4").toString
    // simulate a round-9 registry: one combined `.acks` file
    val legacy = Seq(
      """{"name":"old","seq":42}""",
      """{"name":"both","seq":500}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/r.json.acks"),
      scala.jdk.CollectionConverters.SeqHasAsJava(legacy).asJava)
    val reg = new SubscriptionRegistry(s"$tmp/r.json")
    assert(reg.ackedSeq("old") === Some(42L))
    reg.ack("both", 400L) // below legacy -> no-op (monotonic)
    assert(reg.ackedSeq("both") === Some(500L))
    reg.ack("both", 600L)
    assert(reg.acks() === Map("old" -> 42L, "both" -> 600L))
  }
}
