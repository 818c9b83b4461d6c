// The JVM side of perfbench: builds one Spark session, stages the
// generated inputs through graft's own writers, warms up, runs one
// closed-loop client for the timed region and writes everything it
// measured to one JSON file. perfbench/run.py builds and launches it
// and turns that file into the benchmark's metrics.
//
// The package sits under org.apache.spark only to reach
// LiveListenerBus.waitUntilEmpty, so the traced run can attribute every
// listener event to the region that caused it.
package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StateOperatorProgress, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.model.{Mutation, RowState}
import graft.sources.{GraftWalStream, WalSource}
import graft.streaming.{ExactlyOnce, RowMaterializer, Subscription}

/** Everything one run records, serialised as nested java collections. */
final class Record {
  val root = new JMap[String, Any]()
  def put(k: String, v: Any): Unit = root.put(k, Record.java(v))
}

object Record {
  def java(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new JMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, java(x)) }
      j
    case s: Iterable[_] =>
      val j = new JList[Any]()
      s.foreach(x => j.add(java(x)))
      j
    case a: Array[_] => java(a.toSeq)
    case o => o
  }
}

/** Spans kept in memory; each has a parent id (0 = none). Times are
  * microseconds on one clock shared with streaming progress timestamps. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private var nextId = 0
  val spans = ArrayBuffer.empty[Map[String, Any]]

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def add(name: String, parent: Int, startUs: Long, endUs: Long): Int =
    if (!enabled) 0
    else {
      nextId += 1
      spans += Map("id" -> nextId, "parent" -> parent, "name" -> name,
        "start_us" -> startUs, "end_us" -> endUs)
      nextId
    }

  /** Runs `body` inside a span; `body` receives the span's id so nested
    * spans can name it as their parent. */
  def span[T](name: String, parent: Int)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      nextId += 1
      val id = nextId
      val start = nowUs
      try body(id)
      finally spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> start, "end_us" -> nowUs)
    }
}

/** One operation of the timed region. */
final case class Op(iteration: Int, name: String, latencyMs: Double,
    units: Long, constructMs: Double = 0.0, actionMs: Double = 0.0)

/** Outcome of one timed iteration. `wallMs` excludes the housekeeping
  * between iterations. */
final case class Iter(wallMs: Double, ops: Seq[Op], failed: Int, note: String)

/** Task-level counters, summed from SparkListener events. */
final class ExecListener extends SparkListener {
  val c: Map[String, AtomicLong] = Seq("jobs", "stages", "tasks",
    "task_run_ms", "task_cpu_ns", "gc_ms", "scheduler_delay_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
    .map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      c("scheduler_delay_ms").addAndGet(
        math.max(0L, info.duration - m.executorRunTime - overhead))
    }
  }
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** Catalyst phase times, summed over every QueryExecution that ran. */
final class CatalystListener extends QueryExecutionListener {
  val c: Map[String, AtomicLong] =
    Seq("analysis_ms", "optimization_ms", "planning_ms", "query_executions")
      .map(_ -> new AtomicLong).toMap
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => c(s"${p}_ms").addAndGet(s.durationMs))
    }
    c("query_executions").incrementAndGet()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** Streaming progress as the StreamingQueryListener delivers it. */
final class ProgressListener extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def drain(): Seq[StreamingQueryProgress] = {
    val out = ArrayBuffer.empty[StreamingQueryProgress]
    var p = events.poll()
    while (p != null) { out += p; p = events.poll() }
    out.toSeq
  }
}

/** A workload: staged once per setup repetition, warmed up (and checked)
  * once, then iterated in a closed loop. */
trait Workload {
  /** Stages the inputs into a fresh directory; returns seconds taken. */
  def stage(rep: Int): Double
  /** The untimed warm-up at the timed input size; it also produces the
    * outputs the correctness checks read. Returns the checks. */
  def warmUpAndCheck(): Seq[Map[String, Any]]
  /** One pass of the closed loop. `more(k)` says whether the timed
    * region wants another operation after the k done in this pass. */
  def iteration(it: Int, tr: Tracer, parent: Int, more: Int => Boolean): Iter
  /** Hands the workload the traced region's streaming listener. */
  def listenTo(l: Option[ProgressListener]): Unit = ()
  /** Per-layer metrics this workload adds to the traced run. */
  def layerMetrics(): Map[String, Double] = Map.empty
  def stageInfo(): Map[String, Any] = Map.empty
}

object Harness {
  val streamTimeoutMs = 120000L

  def session(threads: Int, partitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def waitForListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Used heap after a full GC; the least of three readings, each after
    * a pause that lets Spark's ContextCleaner release what it holds. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def dirBytes(d: String): Long = {
    val w = Files.walk(Paths.get(d))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** The closed loop: runs until `seconds` have passed and at least
    * `minOps` operations are done. A fixed operation count keeps the
    * tail percentile comparable between runs. */
  def timed(w: Workload, seconds: Double, minOps: Int, tr: Tracer, firstIt: Int): Seq[Iter] =
    tr.span("run", 0) { run =>
      val out = ArrayBuffer.empty[Iter]
      val t0 = System.nanoTime()
      var ops = 0
      def more(k: Int): Boolean = secs(t0) < seconds || ops + k < minOps
      var it = firstIt
      while (more(0)) {
        val r = tr.span("iteration", run)(id => w.iteration(it, tr, id, more))
        println(f"[perfbench] iteration $it: ${r.wallMs / 1000}%.3f s, " +
          s"${r.ops.size} operations${if (r.note.isEmpty) "" else ", " + r.note}")
        out += r
        ops += r.ops.size
        it += 1
      }
      out.toSeq
    }

  def iterRecord(iters: Seq[Iter]): Seq[Map[String, Any]] = iters.map { r =>
    Map("wall_ms" -> r.wallMs, "failed" -> r.failed, "note" -> r.note,
      "ops" -> r.ops.map(o => Map("iteration" -> o.iteration, "name" -> o.name,
        "latency_ms" -> o.latencyMs, "units" -> o.units,
        "construct_ms" -> o.constructMs, "action_ms" -> o.actionMs)))
  }

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val a = parse(args)
    val work = a("work")
    val threads = a("threads").toInt
    val partitions = a("partitions").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minOps = a("min_ops").toInt
    val rec = new Record
    rec.put("config", Map("threads" -> threads, "shuffle_partitions" -> partitions,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> org.apache.spark.SPARK_VERSION))

    val spark = session(threads, partitions, work)
    val sessionS = secs(t00)
    val w: Workload = a("workload") match {
      case "cdc_catchup" => new CdcCatchup(spark, a, work)
      case _ => new RegistryMix(spark, a, work)
    }
    val stageS = (1 to a("stage_reps").toInt).map(w.stage)
    val off = new Tracer(false)
    val tw = System.nanoTime()
    val checks = w.warmUpAndCheck()
    // one more untimed pass through the timed code path: the first pass
    // after the checked one still runs 10-40% slow while the JIT catches up
    w.iteration(-1, off, 0, _ => true)
    val warmS = secs(tw)
    rec.put("setup", Map("session_s" -> sessionS, "stage_s" -> stageS,
      "warmup_s" -> warmS) ++ w.stageInfo())
    rec.put("checks", checks)

    if (!traced) {
      rec.put("iterations", iterRecord(timed(w, seconds, minOps, off, 0)))
      rec.put("live_heap_mb", liveHeapMb())
    } else {
      // Untraced halves before and after the traced region, so that JIT
      // drift across the run does not read as tracing overhead.
      val before = timed(w, seconds / 2, minOps / 2, off, 0)
      val exec = new ExecListener
      val cat = new CatalystListener
      val progress = new ProgressListener
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(cat)
      spark.streams.addListener(progress)
      w.listenTo(Some(progress))
      val tr = new Tracer(true)
      val t0 = System.nanoTime()
      val iters = timed(w, seconds, minOps, tr, before.size)
      val wallMs = ms(t0)
      waitForListeners(spark)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(cat)
      spark.streams.removeListener(progress)
      w.listenTo(None)
      val after = timed(w, seconds / 2, minOps / 2, off, before.size + iters.size)
      rec.put("iterations", iterRecord(before ++ after))
      rec.put("live_heap_mb", liveHeapMb())
      rec.put("traced", Map(
        "iterations" -> iterRecord(iters),
        "region_ms" -> wallMs,
        "exec" -> exec.snapshot(),
        "catalyst" -> cat.snapshot(),
        "layers" -> w.layerMetrics(),
        "spans" -> tr.spans.toSeq))
      w match {
        case c: CdcCatchup =>
          spark.stop()
          rec.put("single_thread", c.singleThread(session(1, partitions, work)))
        case r: RegistryMix if a.contains("docs") =>
          rec.put("native", r.nativeNsPerRow(a("docs")))
        case _ => ()
      }
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(a("out")), rec.root)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** cdc_catchup: a consumer drains a fixed WAL backlog after an outage.
  * graft-wal source -> Subscription -> ExactlyOnce.dedupe ->
  * RowMaterializer.materialize -> noop sink, Trigger.AvailableNow, one
  * WAL segment per micro-batch, fresh checkpoint per drain. */
final class CdcCatchup(var spark: SparkSession, a: Map[String, String], work: String)
    extends Workload {
  private val input = a("input")
  private val segments = a("segments").toInt
  private val expectRows = a("expect_rows").toLong
  private val sub = Subscription("users-feed", table = Some("users"))
  private var walDir = ""
  private var listener: Option[ProgressListener] = None
  private val tracedProgress = ArrayBuffer.empty[StreamingQueryProgress]

  override def stage(rep: Int): Double = {
    val dir = s"$work/wal-$rep"
    val t0 = System.nanoTime()
    WalSource.writeWalJson(spark.read.parquet(s"$input/mutations.parquet"), dir, segments)
    walDir = dir
    Harness.secs(t0)
  }

  override def stageInfo(): Map[String, Any] = Map(
    "wal_bytes" -> Harness.dirBytes(walDir),
    "wal_segments" -> new java.io.File(walDir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")))

  private def states(): Dataset[RowState] = {
    val s = spark
    import s.implicits._
    val wal = GraftWalStream(walDir, maxFilesPerTrigger = 1).open(s)
    RowMaterializer.materialize(s, ExactlyOnce.dedupe(sub(wal)).as[Mutation])
  }

  private var drains = 0
  private def freshCheckpoint(): String = { drains += 1; s"$work/ckpt/$drains" }

  /** Starts one drain; returns (construct ms, total ms, progress,
    * terminated within the bound). */
  private def drain(sink: Dataset[RowState] => DataStreamWriter[RowState])
      : (Double, Double, Seq[StreamingQueryProgress], Boolean) = {
    val t0 = System.nanoTime()
    val q = sink(states())
      .outputMode("update")
      .option("checkpointLocation", freshCheckpoint())
      .trigger(Trigger.AvailableNow())
      .start()
    val constructMs = Harness.ms(t0)
    val done = q.awaitTermination(Harness.streamTimeoutMs)
    if (!done) q.stop()
    val totalMs = Harness.ms(t0)
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
    (constructMs, totalMs, progress, done)
  }

  private val noop = (d: Dataset[RowState]) => d.writeStream.format("noop")

  override def warmUpAndCheck(): Seq[Map[String, Any]] = {
    val s = spark
    import s.implicits._
    // the latest emitted state per row, collected batch by batch
    val streamed = scala.collection.mutable.Map.empty[(String, String), RowState]
    val (_, _, progress, done) = drain(d => d.writeStream.foreachBatch {
      (df: Dataset[RowState], _: Long) =>
        df.collect().foreach(r => streamed((r.table, r.rowkey)) = r)
    })
    def canon(r: RowState): String =
      s"${r.table}|${r.rowkey}|${r.version}|${r.deleted}|${r.cells.toSeq.sorted.mkString(",")}"
    val got = streamed.values.map(canon).toSet
    val distinctSeq = sub(spark.read.schema(WalSource.walSchema).json(walDir))
      .dropDuplicates("seq").as[Mutation]
    val want = RowMaterializer.materializeBatch(spark, distinctSeq).collect().map(canon).toSet
    val rows = progress.map(_.numInputRows).sum
    Seq(
      Map("name" -> "stream_final_states_equal_materializeBatch",
        "ok" -> (done && got == want),
        "detail" -> (s"streamed=${got.size} batch=${want.size} " +
          s"only_streamed=${(got -- want).size} only_batch=${(want -- got).size}")),
      Map("name" -> "warmup_drain_rows_equal_staged_rows", "ok" -> (rows == expectRows),
        "detail" -> s"numInputRows=$rows staged=$expectRows"))
  }

  override def listenTo(l: Option[ProgressListener]): Unit = listener = l

  // a drain is one iteration and cannot stop part way
  override def iteration(it: Int, tr: Tracer, parent: Int, more: Int => Boolean): Iter = {
    val startUs = tr.nowUs
    val (constructMs, totalMs, recent, done) = drain(noop)
    tr.add("construct", parent, startUs, startUs + (constructMs * 1000).toLong)
    val progress = listener match {
      case Some(l) =>
        Harness.waitForListeners(spark)
        val p = l.drain()
        tracedProgress ++= p
        p
      case None => recent
    }
    progress.foreach { p =>
      val b0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val batch = tr.add("batch", parent, b0, b0 + d.getOrElse("triggerExecution", 0L) * 1000L)
      // the order MicroBatchExecution runs these phases in
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foldLeft(b0) { (t, k) =>
          val e = t + d.getOrElse(k, 0L) * 1000L
          tr.add(k, batch, t, e)
          e
        }
    }
    val ops = progress.map(p => Op(it, s"batch-${p.batchId}",
      p.durationMs.get("triggerExecution").doubleValue, p.numInputRows))
    val rows = ops.map(_.units).sum
    val ok = done && rows == expectRows
    Iter(totalMs, ops, if (ok) 0 else ops.size,
      if (ok) s"$rows rows" else s"FAILED: done=$done rows=$rows expected=$expectRows")
  }

  /** Per-micro-batch means over the traced region's progress events. */
  override def layerMetrics(): Map[String, Double] = {
    val ps = tracedProgress.toSeq
    val n = math.max(1, ps.size).toDouble
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n
    def ops(name: String) = ps.flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains(name)))
    def opMean(name: String, f: StateOperatorProgress => Double) =
      ops(name).map(f).sum / n
    val dataBatches = ps.filter(_.numInputRows > 0)
    val metrics = Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "sources.rows_per_batch" -> dataBatches.map(_.numInputRows.toDouble).sum / math.max(1, dataBatches.size),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.offset_log_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.batches" -> ps.size.toDouble) ++
      Seq("materialize" -> "flatmapgroupswithstate", "dedupe" -> "dedupe").flatMap { case (k, op) =>
        Seq(
          s"state.$k.commit_ms" -> opMean(op, _.commitTimeMs.toDouble),
          s"state.$k.update_ms" -> opMean(op, _.allUpdatesTimeMs.toDouble),
          s"state.$k.removal_ms" -> opMean(op, _.allRemovalsTimeMs.toDouble),
          s"state.$k.instances" -> opMean(op, _.numStateStoreInstances.toDouble))
      }
    // state sizes: the last batch of each drain is where state is largest
    val lasts = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val k = math.max(1, lasts.size).toDouble
    val all = ps.flatMap(_.stateOperators)
    val dedupeNew = ops("dedupe").map(_.numRowsUpdated).sum.toDouble
    val dedupeLate = ops("dedupe").map(_.numRowsDroppedByWatermark).sum.toDouble
    val matUpdated = ops("flatmapgroupswithstate").map(_.numRowsUpdated).sum.toDouble
    val drainsSeen = ps.map(_.id).distinct.size.toDouble
    val subscribed = a("subscribed_rows").toDouble * drainsSeen
    val dups = a("subscribed_dups").toDouble * drainsSeen
    metrics ++ Map(
      "state.rows_total" -> lasts.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum / k,
      "state.rows_updated" -> all.map(_.numRowsUpdated.toDouble).sum / n,
      "state.mem_bytes" -> lasts.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum / k,
      "dedupe.drop_ratio" -> (if (dups > 0) (subscribed - dedupeNew) / dups else 0.0),
      "dedupe.late_rows" -> dedupeLate,
      "materialize.out_per_in" -> (if (dedupeNew > 0) matUpdated / dedupeNew else 0.0))
  }

  /** One warm drain, then one measured drain, on a one-thread session:
    * the single-threaded baseline. */
  def singleThread(s: SparkSession): Map[String, Any] = {
    spark = s
    drain(noop)
    val (_, totalMs, progress, done) = drain(noop)
    val rows = progress.map(_.numInputRows).sum
    Map("threads" -> 1, "wall_ms" -> totalMs, "rows" -> rows,
      "ok" -> (done && rows == expectRows),
      "batch_ms" -> progress.map(_.durationMs.get("triggerExecution").doubleValue))
  }
}

/** event_analytics: a fixed mix of SparkEntry registry entries run in
  * order by one sequential client; each operation is one entry call
  * plus a noop-sink write. */
final class RegistryMix(spark: SparkSession, a: Map[String, String], work: String)
    extends Workload {
  private val input = a("input")
  private val entries = a("entries").split(",").toSeq
  private val fns = entries.map(n => n -> SparkEntry.queries(n))

  // The entries read the generated parquet tables in place, so staging
  // writes nothing; setup is the session build plus the warm-up.
  override def stage(rep: Int): Double = 0.0

  override def warmUpAndCheck(): Seq[Map[String, Any]] = {
    val out = s"$work/check-out"
    fns.foreach { case (name, fn) =>
      fn(spark, input).write.mode("overwrite").parquet(s"$out/$name")
    }
    val oracles = SparkEntry.oracleSql.filter(kv => entries.contains(kv._1))
    new ObjectMapper().writeValue(new java.io.File(s"$out/oracle_sql.json"),
      Record.java(oracles))
    // the DuckDB comparison runs after the JVM exits (run.py)
    Seq(Map("name" -> "oracle_outputs_written", "ok" -> (oracles.size == entries.size),
      "detail" -> s"$out"))
  }

  override def iteration(it: Int, tr: Tracer, parent: Int, more: Int => Boolean): Iter = {
    var failed = 0
    val ops = ArrayBuffer.empty[Op]
    val todo = fns.iterator
    while (todo.hasNext && (ops.isEmpty || more(ops.size))) {
      val (name, fn) = todo.next()
      ops += tr.span("operation", parent) { op =>
        val t0 = System.nanoTime()
        try {
          val df = tr.span("construct", op)(_ => fn(spark, input))
          val t1 = System.nanoTime()
          tr.span("action", op)(_ => df.write.format("noop").mode("overwrite").save())
          val t2 = System.nanoTime()
          Op(it, name, (t2 - t0) / 1e6, 1L, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $name failed: $e")
            failed += 1
            Op(it, name, Harness.ms(t0), 0L)
        }
      }
    }
    Iter(ops.map(_.latencyMs).sum, ops.toSeq, failed,
      if (ops.size < fns.size) s"partial round, ${ops.size} of ${fns.size} entries" else "")
  }

  /** Per-row cost of the four native expressions: each projected over
    * generated documents into a noop sink, minus the same pass
    * projecting only its input columns; median of three. */
  def nativeNsPerRow(docsPath: String): Map[String, Any] = {
    import org.apache.spark.sql.graft.{LongArrayDot, MinHashMd5, SimHashMd5, WordShingles3}
    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val rows = docs.count()
    val sh = docs.select(WordShingles3.column(col("text")).as("sh")).localCheckpoint()
    def vec(salt: Int) = transform(sequence(lit(0), lit(63)),
      i => pmod(xxhash64(col("doc_id"), i, lit(salt)), lit(1000)))
    val vecs = docs.select(vec(1).as("a"), vec(2).as("b")).localCheckpoint()
    def pass(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    def net(fn: DataFrame, inputOnly: DataFrame): Double = {
      pass(fn); pass(inputOnly)
      val xs = (1 to 3).map(_ => pass(fn) - pass(inputOnly)).sorted
      xs(1) / rows
    }
    Map(
      "rows" -> rows,
      "word_shingles3" -> net(docs.select(WordShingles3.column(col("text"))), docs.select(col("text"))),
      "minhash_md5" -> net(sh.select(MinHashMd5.column(col("sh"), 8)), sh.select(col("sh"))),
      "simhash_md5" -> net(docs.select(SimHashMd5.column(col("text"))), docs.select(col("text"))),
      "long_array_dot" -> net(vecs.select(LongArrayDot.column(col("a"), col("b"))),
        vecs.select(col("a"), col("b"))))
  }
}
