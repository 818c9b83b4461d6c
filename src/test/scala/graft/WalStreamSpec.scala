package graft

import graft.operators.StreamingOps
import graft.sources.{FileWalStream, GraftWalStream, KafkaShapedWalStream, KafkaWalStream, WalSource}
import org.apache.spark.sql.functions._

/** The WalStream transport seam: the same downstream pipeline
  * (materializer → final states) must be byte-identical across
  * transports, proving consumers are transport-agnostic. */
class WalStreamSpec extends SparkSpec {

  test("file and DSv2 transports produce identical final row states") {
    val stage = scratchDir("graft_walstream").toString
    val puts = WalSource.eventsAsWal(spark, sfDir)
      .filter(col("cells")(0)("kind") === "put")
    WalSource.writeWal(puts, s"$stage/pq", batches = 4)
    WalSource.writeWalJson(puts, s"$stage/js", batches = 4)

    val viaFile = StreamingOps.finalStates(spark,
      FileWalStream(s"$stage/pq", maxFilesPerTrigger = 2),
      s"$stage/out_f", s"$stage/ckpt_f").collect().map(_.toString).sorted
    val viaDsv2 = StreamingOps.finalStates(spark,
      GraftWalStream(s"$stage/js", maxFilesPerTrigger = 2),
      s"$stage/out_d", s"$stage/ckpt_d").collect().map(_.toString).sorted

    assert(viaFile.nonEmpty)
    assert(viaFile.sameElements(viaDsv2))

    // and the state-store provider does not change results: the
    // RocksDB provider (production choice) must agree byte-for-byte
    val viaRocks = StreamingOps.finalStates(spark,
      GraftWalStream(s"$stage/js", maxFilesPerTrigger = 2),
      s"$stage/out_r", s"$stage/ckpt_r", rocksDB = true)
      .collect().map(_.toString).sorted
    assert(viaFile.sameElements(viaRocks))
  }

  test("kafka-shaped binary rows decode to the same final states as the file WAL") {
    // no broker in this container, but the decode path after the
    // broker read is shared code (KafkaWalStream.decode): feed it the
    // exact JSON message values a WAL producer publishes, as binary
    // `value` records like the Kafka source emits, and the downstream
    // materializer must agree byte-for-byte with the file transport
    val stage = scratchDir("graft_kafkaseam").toString
    val puts = WalSource.eventsAsWal(spark, sfDir)
      .filter(col("cells")(0)("kind") === "put")
    WalSource.writeWal(puts, s"$stage/pq", batches = 4)
    WalSource.writeWalJson(puts, s"$stage/js", batches = 4)

    val viaFile = StreamingOps.finalStates(spark,
      FileWalStream(s"$stage/pq", maxFilesPerTrigger = 2),
      s"$stage/out_f", s"$stage/ckpt_f").collect().map(_.toString).sorted
    val viaKafkaShape = StreamingOps.finalStates(spark,
      KafkaShapedWalStream(s"$stage/js", maxFilesPerTrigger = 2),
      s"$stage/out_k", s"$stage/ckpt_k").collect().map(_.toString).sorted
    assert(viaFile.nonEmpty)
    assert(viaFile.sameElements(viaKafkaShape))
  }

  test("kafka transport constructs with the same downstream schema contract") {
    // the broker read itself needs the spark-sql-kafka jar (absent in
    // this container); construction + options are all that's left
    // unproven once the decode seam test above passes
    val k = KafkaWalStream("broker:9092", "graft-wal-topic")
    assert(k.isInstanceOf[graft.sources.WalStream])
    assert(k.startingOffsets == "earliest")
  }
}
