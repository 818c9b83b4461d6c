package graft

import graft.operators.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** q230's streaming-SCD2 semantics beyond the oracle's final-state
  * parity: cross-batch version closing, late-arrival routing (below
  * the per-key high-water mark → audited, never spliced), and
  * checkpoint restart resuming the open version. */
class Scd2Spec extends SparkSpec {

  private def mutations(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "user_id", "ts", "etype", "value")
      .select(col("seq"), col("ts"), lit("events").as("table"),
        col("user_id").cast("string").as("rowkey"),
        array(struct(lit("e").as("family"), col("etype").as("qualifier"),
          col("value").cast("string").as("value"), col("ts"),
          lit("put").as("kind"))).as("cells"))
  }

  private def appendSegment(walDir: String,
      rows: Seq[(Long, Long, Long, String, Double)], name: String): Unit = {
    val tmp = scratchDir("graft_swave").toString
    mutations(rows).coalesce(1).toJSON.write.mode("overwrite").text(tmp)
    val part = Files.list(Paths.get(tmp)).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.move(part, Paths.get(walDir, name))
  }

  private def history(df: DataFrame): Map[Long, (Long, String, Option[Long])] =
    df.collect().map(r => r.getAs[Long]("event_id") ->
      (r.getAs[Long]("valid_from"), r.getAs[String]("event_type"),
        Option(r.get(r.fieldIndex("valid_to"))).map(_.asInstanceOf[Long])))
      .toMap

  test("a version opened in one batch closes in a later batch, exactly once") {
    val stage = scratchDir("graft_q230a").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    appendSegment(walDir, Seq((1L, 1L, 100L, "view", 1.0)), "seg_a.txt")
    appendSegment(walDir, Seq((2L, 1L, 200L, "purchase", 2.0)), "seg_b.txt")
    val out = s"$stage/out"
    val got = history(StreamingOps.runStreamScd2(spark, walDir,
      s"$stage/ckpt", out, maxFilesPerTrigger = 1))
    assert(got == Map(1L -> (100L, "view", Some(200L)),
      2L -> (200L, "purchase", None)), s"cross-batch close: $got")
    val closedEmissions = spark.read.parquet(out)
      .filter(col("kind") === "closed").count()
    assert(closedEmissions == 1L,
      s"the closed row must be emitted exactly once, got $closedEmissions")
  }

  test("a below-high-water arrival is late-routed, never spliced") {
    val stage = scratchDir("graft_q230b").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    appendSegment(walDir, Seq((1L, 1L, 100L, "view", 1.0),
      (2L, 1L, 300L, "purchase", 2.0)), "seg_a.txt")
    // seq 3 arrives AFTER but carries ts 200 — inside the already-
    // closed [100, 300) interval: must go to the late channel
    appendSegment(walDir, Seq((3L, 1L, 200L, "click", 3.0)), "seg_b.txt")
    val out = s"$stage/out"
    val got = history(StreamingOps.runStreamScd2(spark, walDir,
      s"$stage/ckpt", out, maxFilesPerTrigger = 1))
    assert(got == Map(1L -> (100L, "view", Some(300L)),
      2L -> (300L, "purchase", None)),
      s"late row must not splice the history: $got")
    val late = spark.read.parquet(out).filter(col("kind") === "late")
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(late == Seq(3L), s"late arrival must be audited: $late")
  }

  test("checkpoint restart resumes the open version") {
    val stage = scratchDir("graft_q230c").toString
    val walDir = s"$stage/wal"; Files.createDirectories(Paths.get(walDir))
    val ckpt = s"$stage/ckpt"; val out = s"$stage/out"
    appendSegment(walDir, Seq((1L, 1L, 100L, "view", 1.0)), "seg_a.txt")
    val first = history(StreamingOps.runStreamScd2(spark, walDir, ckpt, out,
      maxFilesPerTrigger = 1))
    assert(first == Map(1L -> (100L, "view", None)), s"pre-restart: $first")
    // the query stopped; the restart must restore the open version
    // from state and close it with the new arrival
    appendSegment(walDir, Seq((2L, 1L, 500L, "purchase", 2.0)), "zz_seg_b.txt")
    val second = history(StreamingOps.runStreamScd2(spark, walDir, ckpt, out,
      maxFilesPerTrigger = 1))
    assert(second == Map(1L -> (100L, "view", Some(500L)),
      2L -> (500L, "purchase", None)),
      s"restart lost the open version: $second")
  }
}
