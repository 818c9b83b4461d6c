package graft

import graft.operators.StreamGate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCounter
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The streaming-gate harness: its read-back, its exit paths and its
  * bounded wait, plus a source lint that keeps every gate on it. */
class StreamGateSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Stages (k, v) rows as `files` JSONL files under `stage`/in and
    * returns the stream over them, one file per micro-batch. */
  private def stageInput(stage: String, kv: Seq[(Long, Long)],
      files: Int): DataFrame = {
    import spark.implicits._
    kv.toDF("k", "v").repartition(files).write.json(s"$stage/in")
    spark.readStream.schema("k long, v long")
      .option("maxFilesPerTrigger", 1).json(s"$stage/in")
  }

  test("the read-back binds the stream's schema: no job, same rows as inference") {
    import spark.implicits._
    val stage = scratchDir("graft_gate_rb").toString
    val kv = (1L to 40L).map(i => (i % 5, i))
    val sums = stageInput(stage, kv, 3)
      .groupBy(col("k")).agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    val ckpt = s"$stage/ckpt"; val out = s"$stage/out"
    val first = StreamGate.toParquet(spark, sums, ckpt, out, OutputMode.Update())
    val inferred = spark.read.parquet(out)
    assert(first.schema.map(f => f.name -> f.dataType) ==
      inferred.schema.map(f => f.name -> f.dataType))
    assert(rows(first) == rows(inferred))
    assert(inferred.select(col("batch")).distinct().count() == 3L,
      "update mode tags each of the 3 micro-batches")
    // a resumed run with no new input writes no batch: building its
    // read-back runs no job and still returns the earlier rows
    var resumed: DataFrame = null
    val jobs = JobCounter(spark) {
      resumed = StreamGate.toParquet(spark, sums, ckpt, out, OutputMode.Update())
    }
    assert(jobs == 0, s"the read-back after a finished gate ran $jobs jobs")
    assert(rows(resumed) == rows(inferred))
    val finals = resumed.groupBy(col("k"))
      .agg(max_by(col("total"), col("batch")).as("total"))
    assert(rows(finals) == rows(kv.groupBy(_._1).toSeq
      .map { case (k, g) => (k, g.map(_._2).sum) }.toDF("k", "total")))
  }

  test("a failing sink surfaces its error, stops the query, restores the session") {
    val stage = scratchDir("graft_gate_fail").toString
    val stream = stageInput(stage, Seq((1L, 1L), (2L, 2L)), 2)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    var seen = ""
    val e = intercept[StreamingQueryException] {
      StreamGate.run(spark, stream, s"$stage/ckpt", OutputMode.Append()) {
        (_, _) =>
          seen = spark.conf.get("spark.sql.shuffle.partitions")
          throw new IllegalStateException("sink failed on purpose")
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink failed on purpose"), e)
    assert(seen == "1", "a tiny stage runs on one shuffle partition")
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("the bounded wait stops a query that never finishes") {
    val ckpt = scratchDir("graft_gate_slow").toString
    val q = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val e = intercept[java.util.concurrent.TimeoutException] {
      StreamGate.awaitBounded(q, ckpt, 2000L)
    }
    assert(e.getMessage.contains(ckpt), e.getMessage)
    assert(!q.isActive && spark.streams.active.isEmpty)
  }

  test("gates start, wait and read back only through StreamGate") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val sources: Map[Path, String] = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
    finally walk.close()
    def using(token: String): Set[String] = sources.collect {
      case (p, text) if text.contains(token) => p.getFileName.toString
    }.toSet
    // the WAL source files define the AvailableNow trigger support
    val allowed = Set("StreamGate.scala", "WalDataSource.scala",
      "WalStream.scala")
    for (token <- Seq(".writeStream", "checkpointLocation",
        "Trigger.AvailableNow")) {
      val outside = using(token) -- allowed
      assert(outside.isEmpty, s"$token outside StreamGate: $outside")
    }
    val starts = sources.collect {
      case (p, text) if p.toString.contains("/operators/") &&
        text.contains(".start()") => p.getFileName.toString
    }.toSet
    assert(starts == Set("StreamGate.scala"), s".start() in $starts")
    val unbounded = using("awaitTermination()")
    assert(unbounded.isEmpty, s"an unbounded wait in $unbounded")
  }

  test("staged files are laid out only by Stage; no source holds a NUL byte") {
    val walk = Files.walk(Paths.get("src"))
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
    val withNul = files.filter(f => Files.readAllBytes(f).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in $withNul")
    val operators = files.filter(f => f.toString.contains("/operators/") &&
      f.toString.endsWith(".scala") && f.getFileName.toString != "Stage.scala")
    // an interpolated or concatenated `…/wal`, `…/ckpt`, `…/out` path
    val layout = "(\\}|\\$\\w+|\\+ \")/(wal|ckpt|out)\\b".r
    for (f <- operators) {
      val text = Files.readString(f)
      assert(!text.contains("writeWalJson"), s"$f stages a WAL itself")
      assert(layout.findFirstIn(text).isEmpty,
        s"$f builds a gate path: ${layout.findFirstIn(text)}")
    }
    val main = files.filter(_.toString.startsWith("src/main"))
    for (gone <- Seq("stagingRoot", "stagingPath", "dirKey"))
      assert(main.forall(f => !Files.readString(f).contains(gone)),
        s"$gone is back")
  }

  test("specs create scratch directories only through SparkSpec.scratchDir") {
    val walk = Files.walk(Paths.get("src/test"))
    val specs = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SparkSpec.scala")
      .toList
    finally walk.close()
    val direct = """Files\s*\.\s*createTempDirectory""".r
    val outside = specs.filter(f => direct.findFirstIn(Files.readString(f)).isDefined)
    assert(outside.isEmpty, s"a tmpdir entry outside SparkSpec.scratchDir in $outside")
  }
}
