package graft

import graft.operators.{Stage, StreamGate}
import graft.sources.WalSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCounter
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable

/** The staging seam: where a stage lives, what re-staging wipes, and
  * that its read-backs equal what `spark.read.parquet` infers while
  * running no inference job. Scratch files live under a stage too, so
  * the spec leaves nothing behind when its JVM exits. */
class StageSpec extends SparkSpec {

  private lazy val scratch = Stage("spec_scratch", sfDir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).toSeq.sorted

  private def typed(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  /** A frame with the column types the operators stage. */
  private def sample: DataFrame = {
    import spark.implicits._
    (1L to 60L).map(i => (i, s"u${i % 7}", i * 0.25, i % 4,
        Seq(s"a$i", s"b$i"), Array[Byte](i.toByte, 7)))
      .toDF("id", "user", "value", "day", "tags", "blob")
      .withColumn("cells", array(struct(col("user").as("q"), col("id").as("ts"))))
      .withColumn("price", (col("id") * 3).cast("decimal(12,2)"))
      .withColumn("at", timestamp_micros(col("id") * 1000000L))
  }

  test("a stage sits under this JVM's run directory; re-staging wipes only it") {
    val run = Stage.runRoot
    assert(run.getFileName.toString == s"graft-run-" +
      s"${ProcessHandle.current().pid()}-" +
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime}")
    assert(Stage.liveRunDir(run.getFileName.toString))
    // only an input dir's path keys its stage; it need not exist
    val dirA = s"$sfDir/a"
    val dirB = s"$sfDir/b"
    def mark(st: Stage): Path = {
      val p = Paths.get(st.path("marker"))
      Files.createDirectories(p.getParent)
      Files.writeString(p, "x")
    }
    val a = Stage("spec_stage", dirA)
    assert(Paths.get(a.root).getParent == run)
    assert(a.root == Stage.path("spec_stage", dirA))
    val markA = mark(a)
    val markOtherTag = mark(Stage("spec_stage2", dirA))
    val markOtherDir = mark(Stage("spec_stage", dirB))
    val again = Stage("spec_stage", dirA)
    assert(again.root == a.root)
    assert(!Files.exists(markA), "re-staging keeps the old files")
    assert(Files.exists(markOtherTag) && Files.exists(markOtherDir),
      "re-staging wiped another stage")
  }

  test("the stale-tmp sweep keeps a live run directory and drops dead ones") {
    val tmp = Files.createDirectories(Paths.get(scratch.path("sweep")))
    val live = Files.createDirectories(tmp.resolve(Stage.runRoot.getFileName))
    // pid_max is at most 2^22, so this pid names no process
    val dead = Files.createDirectories(tmp.resolve("graft-run-99999999-0"))
    val staleStage = Files.createDirectories(tmp.resolve("graft-q53-0123"))
    val old = FileTime.fromMillis(0L)
    Seq(live, dead, staleStage).foreach(Files.setLastModifiedTime(_, old))
    Bench.cleanStaleTmp(tmp)
    assert(Files.exists(live), "swept the run directory of a live JVM")
    assert(!Files.exists(dead) && !Files.exists(staleStage))
  }

  test("a parquet stage reads back what inference reads, without its job") {
    for (partitionBy <- Seq(Seq.empty[String], Seq("day"), Seq("day", "user"))) {
      val st = Stage(s"spec_pq_${partitionBy.size}", sfDir)
      val plainWrite = scratch.path(s"plain_${partitionBy.size}")
      val writeJobs = JobCounter(spark) {
        sample.write.mode("overwrite").partitionBy(partitionBy: _*)
          .parquet(plainWrite)
      }
      var bound: DataFrame = null
      val stageJobs = JobCounter(spark) {
        bound = st.parquet("t", sample, partitionBy: _*)
      }
      assert(stageJobs == writeJobs,
        s"partitionBy $partitionBy: the bound read-back ran " +
          s"${stageJobs - writeJobs} jobs")
      var inferred: DataFrame = null
      assert(JobCounter(spark) { inferred = spark.read.parquet(st.path("t")) } >= 1,
        "inference runs a job, so the check above can see one")
      assert(typed(bound) == typed(inferred), s"partitionBy $partitionBy")
      assert(rows(bound) == rows(inferred))
      assert(rows(bound.select(sample.columns.map(col): _*)) == rows(sample))
    }
  }

  test("a gate is sized from the bytes under its stage's root") {
    def partitionsSeen(workFactor: Long): String = {
      val st = Stage(s"spec_sizing_$workFactor", sfDir)
      val in = Files.createDirectories(Paths.get(st.path("in")))
      Files.write(in.resolve("payload.txt"), Array.fill[Byte](1 << 20)('x'.toByte))
      var seen = ""
      st.run(spark.readStream.text(in.toString), OutputMode.Append(),
          workFactor) { (_, _) =>
        seen = spark.conf.get("spark.sql.shuffle.partitions")
      }
      seen
    }
    assert(partitionsSeen(1L) == "1", "1 MB staged is one partition")
    // 1 MB x 256 = 8 x 32 MB, clamped to the session's setting
    assert(partitionsSeen(256L) ==
      spark.conf.get("spark.sql.shuffle.partitions"))
  }

  test("the WAL stage streams what writeWalJson + streamV2 stream") {
    import spark.implicits._
    val muts = (1L to 90L).map(i => (i, i * 10L, s"${i % 9}")).toDF("seq", "ts", "rowkey")
      .select(col("seq"), col("ts"), lit("events").as("table"), col("rowkey"),
        array(struct(lit("e").as("family"), lit("view").as("qualifier"),
          col("seq").cast("string").as("value"), col("ts"),
          lit("put").as("kind"))).as("cells"))
    def drain(stream: DataFrame, ckpt: String): Seq[(Long, Seq[String])] = {
      val got = mutable.ArrayBuffer.empty[(Long, Seq[String])]
      StreamGate.run(spark, stream, ckpt, OutputMode.Append()) { (df, id) =>
        got += id -> rows(df)
      }
      got.toSeq.sortBy(_._1)
    }
    val st = Stage("spec_wal", sfDir)
    val wal = st.walStream(muts, batches = 3, maxFilesPerTrigger = 1)
    assert(wal.dir == st.wal)
    val ref = scratch.path("ref")
    WalSource.writeWalJson(muts, s"$ref/wal", batches = 3)
    val viaStage = drain(wal.open(spark), st.ckpt)
    val viaPair = drain(WalSource.streamV2(spark, s"$ref/wal", 1), s"$ref/ckpt")
    assert(viaStage.size == 3, "one micro-batch per segment")
    assert(viaStage == viaPair)
  }
}
