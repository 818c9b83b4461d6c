package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graft.JobCounter
import org.apache.spark.sql.types.LongType

/** The schema memo behind [[Tables.load]]: one inference per path,
  * repeated only when the files or the parquet settings change. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A fresh directory holding a copy of the sf0.001 events table,
    * whose `ts` is stored as timestamp[us]. */
  private def microsFixture(): String = {
    val dir = scratchDir("graft-tables-us")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** A fresh directory whose events table stores `ts` as
    * TIMESTAMP(NANOS), the older generators' layout. `extra` adds a
    * column, so a rewrite changes the schema and the file. */
  private def writeNanos(dir: JPath, extra: Boolean = false): Unit = {
    val file = dir.resolve("events.parquet")
    Files.deleteIfExists(file)
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP(NANOS,false));
         |  required int64 user_id;
         |  required binary event_type (STRING);
         |  ${if (extra) "required double value;" else ""}
         |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(file.toString))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      val g = rows.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i * 1000000123L)
        .append("user_id", i % 2).append("event_type", "view")
      if (extra) g.append("value", i.toDouble)
      w.write(g)
    } finally w.close()
  }

  private def nanosFixture(): String = {
    val dir = scratchDir("graft-tables-ns")
    writeNanos(dir)
    dir.toString
  }

  private def entries(dir: String): Int =
    Tables.memoized.count(_.endsWith(s"$dir/events.parquet"))

  test("the second Tables.events on a directory runs no Spark job") {
    val dir = microsFixture()
    assert(JobCounter(spark)(Tables.events(spark, dir)) == 1)
    assert(JobCounter(spark)(Tables.events(spark, dir)) == 0)
    assert(JobCounter(spark)(Tables.load(spark, dir, "events")) == 0)
    assert(Tables.events(spark, dir).collect().toSet ==
      Tables.events(spark, sfDir).collect().toSet)
    assert(entries(dir) == 1)
  }

  test("the memoized schema is Spark's own inference, for both ts layouts") {
    withConf(NanosAsLong -> "true") {
      for (dir <- Seq(microsFixture(), nanosFixture())) {
        val inferred = spark.read.parquet(s"$dir/events.parquet").schema
        Tables.load(spark, dir, "events")
        val memoized = Tables.load(spark, dir, "events")
        assert(memoized.schema == inferred)
        assert(memoized.collect().toSet ==
          spark.read.parquet(s"$dir/events.parquet").collect().toSet)
      }
      val ns = nanosFixture()
      assert(Tables.load(spark, ns, "events").schema("ts").dataType == LongType)
      assert(Tables.events(spark, ns).select("ts").collect().map(_.getLong(0)).toSet ==
        (1L to 3L).map(i => (1700000000000000000L + i * 1000000123L) / 1000L).toSet)
    }
  }

  test("a rewritten table or a changed parquet setting is inferred again") {
    withConf(NanosAsLong -> "true") {
      val dir = scratchDir("graft-tables-rw")
      writeNanos(dir)
      Tables.load(spark, dir.toString, "events")
      writeNanos(dir, extra = true)
      var df: org.apache.spark.sql.DataFrame = null
      assert(JobCounter(spark) { df = Tables.load(spark, dir.toString, "events") } == 1)
      assert(df.columns.contains("value"))
      assert(JobCounter(spark)(Tables.load(spark, dir.toString, "events")) == 0)
      assert(entries(dir.toString) == 1)

      val us = microsFixture()
      Tables.load(spark, us, "events")
      withConf(NanosAsLong -> "false") {
        assert(JobCounter(spark)(Tables.load(spark, us, "events")) == 1)
        assert(JobCounter(spark)(Tables.load(spark, us, "events")) == 0)
        // the nanos layout cannot be inferred without the setting: the
        // memoized LongType schema is not served
        intercept[AnalysisException](Tables.load(spark, dir.toString, "events"))
      }
      assert(JobCounter(spark)(Tables.load(spark, us, "events")) == 1)
      assert(entries(us) == 1)
      assert(entries(dir.toString) == 1)
    }
  }

  test("a missing path or an empty directory raises Spark's error and is not memoized") {
    val dir = scratchDir("graft-tables-missing").toString
    def same(path: String, load: => Any): Unit = {
      val want = intercept[AnalysisException](spark.read.parquet(path))
      val got = intercept[AnalysisException](load)
      assert(got.getCondition == want.getCondition)
      assert(got.getMessage == want.getMessage)
    }
    same(s"$dir/events.parquet", Tables.load(spark, dir, "events"))
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/events.parquet"))
    same(s"$dir/events.parquet", Tables.events(spark, dir))
    assert(entries(dir) == 0)
  }
}
