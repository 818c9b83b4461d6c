package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated star schema.
  *
  * At cluster scale these would be catalog tables (bucketed on their
  * join keys); here we read the driver's single-file parquet dirs.
  * Column pruning + predicate pushdown still apply (v2 parquet scan).
  *
  * Schema memo: [[load]] is the one seam for every registry read, and
  * a parquet read without a schema runs a Spark job to read a footer.
  * The memo holds one entry per qualified path: the sorted
  * (path, size, mtime) of the files under it, the session's
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` settings,
  * and the schema Spark's own inference returned under them. A read whose files and settings
  * match the entry passes that schema to the reader and runs no job;
  * any mismatch infers again and replaces the entry. Only the schema
  * is kept, never a DataFrame, so every read still lists the files
  * afresh. Errors are Spark's own: a missing path or a directory with
  * nothing to infer from raises the reader's AnalysisException, and
  * nothing is memoized for it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A memo entry: the schema and the files and settings it was
    * inferred from. */
  private final case class Inferred(files: Seq[(String, Long, Long)],
      conf: Map[String, String], schema: StructType)

  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** Qualified paths the schema memo holds an entry for. */
  private[graft] def memoized: Set[String] = {
    import scala.jdk.CollectionConverters._
    inferred.keySet.asScala.toSet
  }

  /** `spark.read.parquet` of the table, with the schema taken from
    * the memo when the files and parquet settings are those it was
    * inferred from. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(p).toString
    val files = fingerprint(fs, p)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
    Option(inferred.get(key)) match {
      case Some(e) if files.nonEmpty && e.files == files && e.conf == conf =>
        spark.read.schema(e.schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) inferred.put(key, Inferred(files, conf, df.schema))
        df
    }
  }

  /** Sorted (path, size, mtime) of every file at or below `p`; empty
    * when `p` does not exist. Reads only sizes and mtimes: without
    * libhadoop, a local status loads its permission, owner and group
    * through an `ls -ld` process on first use, and
    * `graft.fs.NioRawLocalFileSystem` leaves that load to Hadoop. */
  private def fingerprint(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try walk(fs.getFileStatus(p)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` column has shipped as BOTH
    * TIMESTAMP(NANOS) (older generators — Spark's vectorized reader
    * rejects it, so it's read as BIGINT nanos via the legacy conf)
    * and timestamp[us] (current generator — inferred TIMESTAMP_NTZ).
    * Either way the exposed `ts` is epoch MICROseconds as BIGINT
    * (matching DuckDB's `epoch_us(ts)` on the same file), so all
    * event-time arithmetic downstream is exact integer micros. The
    * NTZ→epoch conversion is `timestampdiff(MICROSECOND, epoch,
    * ts)` over two NTZ operands — wall-clock arithmetic with NO
    * session-timezone dependence (the stored values are UTC wall
    * times and DuckDB's epoch_us is timezone-free), so the loader
    * never mutates the caller session's timeZone conf. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("ts div 1000"))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    }
  }

  /** Formats epoch micros as a session-tz-independent TIMESTAMP_NTZ
    * literal (UTC wall time) for pushdown-safe bounds on NTZ scans. */
  private def ntzLit(micros: Long): String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val str = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").format(ldt)
    s"TIMESTAMP_NTZ '$str'"
  }

  /** [[events]] with event-time bounds (inclusive, in epoch MICROS)
    * applied to the STORED column BEFORE the µs conversion — a
    * predicate on the derived integer-micros column defeats parquet
    * pushdown entirely (the scan would read every row group), while
    * the equivalent bound on the stored representation reaches the
    * row-group statistics. Two storage branches:
    * - legacy nanos-as-BIGINT: for the non-negative ts domain,
    *   `ts_us >= m ⟺ ts_ns >= m·1000` and
    *   `ts_us <= m ⟺ ts_ns <= m·1000 + 999`;
    * - timestamp[us] (TIMESTAMP_NTZ): the micros bound IS the stored
    *   granularity — the bound becomes a TIMESTAMP_NTZ literal
    *   (formatted as a UTC wall time, independent of session tz), a
    *   same-type comparison the scan pushes down.
    * At 100 TB this is the difference between a time-travel /
    * incremental read scanning one day and scanning the corpus
    * (PlanSpec-pinned in IncrementalSpec). */
  def eventsTsBounded(s: SparkSession, d: String,
      minMicros: Option[Long] = None,
      maxMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    var raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        minMicros.foreach(m => raw = raw.filter(col("ts") >= m * 1000L))
        maxMicros.foreach(m => raw = raw.filter(col("ts") <= m * 1000L + 999L))
        raw.withColumn("ts", expr("ts div 1000"))
      case _ =>
        minMicros.foreach(m => raw = raw.filter(expr(s"ts >= ${ntzLit(m)}")))
        maxMicros.foreach(m => raw = raw.filter(expr(s"ts <= ${ntzLit(m)}")))
        raw.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread `df` across more tasks when its scan yields fewer
    * partitions than its work warrants: a single-file parquet input
    * otherwise runs every downstream per-row computation (md5 of every
    * trigram, say) on one task.
    *
    * The target is derived from the input, not the core count:
    * ceil(inputBytes · workFactor / 32 MB), clamped to
    * [1, defaultParallelism]. `workFactor` is the seam's CPU work per
    * input byte; the default 4096 is an md5-per-trigram pass (~0.6 MB
    * of text took ~6 s on one core, the time a core needs for ~2.4 GB
    * of md5). So a tiny input gets 1 partition and no exchange, a
    * larger one the cores it can use, and a scan that already has at
    * least that many partitions is returned as is.
    *
    * Frames whose size is unknown (no file source below, e.g. a
    * checkpointed loop frame or a streaming micro-batch, which report
    * the defaultSizeInBytes sentinel) are returned unchanged.
    *
    * The round-robin exchange is deterministic (sortBeforeRepartition,
    * on by default) and the operators of this library are partition-
    * and order-invariant, so results do not change. Call it only at
    * seams where it measured a win: before a cheap per-row pass the
    * exchange costs more than it saves. */
  def spread(s: SparkSession, df: DataFrame,
      workFactor: Long = 4096L): DataFrame = {
    val cores = BigInt(s.sparkContext.defaultParallelism)
    val perTask = BigInt(32L << 20)
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz >= BigInt(s.sessionState.conf.defaultSizeInBytes)) return df
    val want0 = (sz * workFactor + perTask - 1) / perTask
    val want = (want0 min cores).max(1).toInt
    if (want <= 1 || df.rdd.getNumPartitions >= want) df
    else df.repartition(want)
  }

  /** [[spread]] with the session taken from the frame. */
  def spread(df: DataFrame): DataFrame = spread(df.sparkSession, df)
}
