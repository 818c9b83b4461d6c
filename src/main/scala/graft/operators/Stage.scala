package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import graft.sources.{GraftWalStream, WalSource}

/** Where an entry's staged files live, and how they are read back.
  *
  * An entry that writes files of its own (a WAL, a gate's checkpoint
  * and sink, an index, a partitioned layout) stages them under one
  * root. [[Stage.apply]] gives a fresh root per (tag, input dir),
  * wiped on entry, so repeated runs reuse one space instead of
  * accumulating copies. The frames a stage returns read its files
  * lazily, so a stage lives until the same (tag, dir) is staged again
  * or the JVM exits; nothing is deleted when a gate returns.
  *
  * Every root sits under this JVM's run directory ([[Stage.runRoot]],
  * named from the pid and the JVM start time and removed at exit), so
  * two JVMs on one input dir never wipe each other's stages.
  *
  * The stage names a streaming gate's `wal`, `ckpt` and `out`, sizes
  * the gate from the bytes under its root (see [[StreamGate]]), and
  * binds every read-back to the writer's schema, so no read of a
  * staged file runs a schema-inference job. */
private[graft] final class Stage private (val root: String) {

  /** The gate's WAL segments, checkpoint and parquet sink. */
  def wal: String = path("wal")
  def ckpt: String = path("ckpt")
  def out: String = path("out")

  /** Any other file or directory under the stage. */
  def path(name: String): String = s"$root/$name"

  /** A stage nested under this one, for a second gate in one entry. */
  def sub(name: String): Stage = new Stage(path(name))

  /** Stage `mutations` as `batches` JSONL WAL segments ordered by seq
    * and return them as the `graft-wal` stream, `maxFilesPerTrigger`
    * segments per micro-batch. */
  def walStream(mutations: DataFrame, batches: Int,
      maxFilesPerTrigger: Int): GraftWalStream = {
    WalSource.writeWalJson(mutations, wal, batches)
    GraftWalStream(wal, maxFilesPerTrigger)
  }

  /** Stage `df` as `files` JSONL files under `name`, range-partitioned
    * by `orderBy`, and open them as a file stream of
    * `maxFilesPerTrigger` files per micro-batch, bound to `df`'s
    * schema. */
  def jsonStream(name: String, df: DataFrame, orderBy: Column, files: Int,
      maxFilesPerTrigger: Int): DataFrame = {
    df.repartitionByRange(files, orderBy).toJSON
      .write.mode("overwrite").text(path(name))
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(path(name))
  }

  /** Write `df` as parquet under `name`, partitioned by `partitionBy`,
    * and return its read-back bound to the writer's data columns. The
    * partition columns are left to Spark's directory inference, which
    * reads no file, so the read has the names, column order and types
    * `spark.read.parquet` infers, and building it runs no job. */
  def parquet(name: String, df: DataFrame, partitionBy: String*): DataFrame = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path(name))
    df.sparkSession.read
      .schema(StructType(df.schema.filterNot(f => partitionBy.contains(f.name))))
      .parquet(path(name))
  }

  /** Drain `stream` into [[out]] over [[ckpt]]; see
    * [[StreamGate.toParquet]]. */
  def toParquet(stream: Dataset[_], mode: OutputMode): DataFrame =
    StreamGate.toParquet(stream.sparkSession, stream, ckpt, out, mode,
      Stage.bytes(root))

  /** Drain `stream` over [[ckpt]] into `sink`; see [[StreamGate.run]].
    * `workFactor` is the CPU work per staged byte: 1 for state-bound
    * gates, higher for gates that hash, explode or decode each batch. */
  def run[T](stream: Dataset[T], mode: OutputMode, workFactor: Long = 1L)
      (sink: (Dataset[T], Long) => Unit): Unit =
    StreamGate.run(stream.sparkSession, stream, ckpt, mode,
      Stage.bytes(root) * workFactor)(sink)
}

private[graft] object Stage {

  /** This JVM's run directory under the tmpdir,
    * `graft-run-<pid>-<JVM start millis>`; removed at JVM exit. */
  private[graft] lazy val runRoot: Path = {
    val d = Paths.get(sys.props("java.io.tmpdir"), runDirName(
      ProcessHandle.current().pid(),
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    Files.createDirectories(d)
    sys.addShutdownHook {
      try deleteTree(d) catch { case _: java.io.IOException => () }
    }
    d
  }

  private val RunDir = """graft-run-(\d+)-(\d+)""".r

  private def runDirName(pid: Long, startMs: Long): String =
    s"graft-run-$pid-$startMs"

  /** Whether `name` is a run directory whose JVM is still alive: the
    * pid exists and its process did not start after the recorded JVM
    * start (a later start means the pid was reused; the slack covers
    * the OS clock's coarser process start time). */
  private[graft] def liveRunDir(name: String): Boolean = name match {
    case RunDir(pid, startMs) =>
      val h = ProcessHandle.of(pid.toLong)
      h.isPresent && h.get.isAlive && {
        val started = h.get.info().startInstant()
        !started.isPresent || started.get.toEpochMilli <= startMs.toLong + 10000L
      }
    case _ => false
  }

  /** A fresh stage for entry `tag` over input `dir`: whatever an
    * earlier call staged there is deleted first. */
  def apply(tag: String, dir: String): Stage = {
    val p = Paths.get(path(tag, dir))
    deleteTree(p)
    new Stage(p.toString)
  }

  /** A stage over a root the caller owns; nothing is deleted. */
  def at(root: String): Stage = new Stage(root)

  /** The root [[apply]] uses for (tag, dir), without wiping it, for a
    * caller that reopens what an earlier call staged. Keyed by the md5
    * of the input dir's absolute path: String.hashCode collides too
    * easily to key a wipe-then-write space. */
  def path(tag: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(Paths.get(dir).toAbsolutePath.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    runRoot.resolve(s"graft-$tag-$key").toString
  }

  /** Total bytes of regular files under `d` (0 when absent). */
  private[graft] def bytes(d: String): Long = {
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong { f =>
        try Files.size(f)
        catch { case _: java.io.IOException => 0L }
      }.sum()
      finally w.close()
    }
  }

  /** Delete `p` and everything under it; a missing path is a no-op. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
}
