package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Remove stale graft-owned artifacts from `tmp` (java.io.tmpdir) BEFORE
    * timing anything. Round-12 root cause: ~2,500 accumulated
    * spec/stage/checkpoint tmpdirs from prior verify/test runs
    * degraded the streaming gates 2x+ (state-store directory scans
    * and file-listing slow down with a polluted tmp); runs 1-3 of
    * that round's idle sweep were contaminated. Only names with
    * graft-owned prefixes are touched — the staged layouts the
    * warm-up pass needs are rebuilt by the queries themselves. */
  private[graft] def cleanStaleTmp(tmp: java.nio.file.Path =
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"))): Unit = {
    val owned = Seq("graft-", "graft_", "spec_q")
    // Age guard: only entries last modified BEFORE this JVM started
    // are stale by construction. A concurrently running test/verify
    // JVM keeps touching its live staging dirs, so its entries are
    // younger than our start time and survive the sweep.
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // A run directory (graft.operators.Stage.runRoot) whose JVM is
    // still alive is live whatever its age.
    def staleOwned(p: java.nio.file.Path): Boolean = {
      val name = p.getFileName.toString
      owned.exists(name.startsWith) &&
        !graft.operators.Stage.liveRunDir(name) && {
          try java.nio.file.Files.getLastModifiedTime(p).toMillis < jvmStartMs
          catch { case _: java.io.IOException => false }
        }
    }
    val entries = java.nio.file.Files.list(tmp)
    // best effort: an entry that fails to delete is retried next run
    try entries.iterator().forEachRemaining { p =>
      if (staleOwned(p))
        try graft.operators.Stage.deleteTree(p)
        catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException => ()
        }
    } finally entries.close()
  }

  /** The local session every dev main runs on: `local[N]` with N
    * shuffle partitions, N = SPARK_GRAFT_CPUS (default 4), UTC, no
    * UI, WARN logging. */
  private[graft] def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (1m, 5m, 15m) load averages from /proc/loadavg — recorded into
    * the bench JSON so drift analyses can cite measured host
    * contention instead of narrating it (round-15 lesson: the driver
    * sweep timed out under contention the artifacts couldn't prove). */
  private[graft] def loadAvg(): Seq[Double] = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).toSeq.map(_.toDouble)
  } catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  def main(args: Array[String]): Unit = {
    cleanStaleTmp()
    val loadBefore = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The state-store maintenance interval stays at its default: a
    // shorter one runs snapshot passes inside long streaming gates.
    // State-store providers a finished gate leaves loaded are unloaded
    // between entries instead (unloadState below).
    val spark = localSession()
    // Timed action = noop-sink write: every output column is fully
    // evaluated and serialized (a count() lets Catalyst prune the
    // projections/aggregates it doesn't need, under-timing
    // expression-heavy queries).
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Drop the state-store providers a finished query left loaded, so
    // their heap and maintenance work do not land in the next entry
    // (see StateStoreHooks). Called outside the timed region: it is
    // housekeeping between entries, not part of any query's cost.
    def unloadState(): Unit =
      org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
    // Dev-only subset filter (regex on query name), mirroring
    // Verify's: the driver never sets it, so the published bench
    // always covers the full inventory. A subset run also skips the
    // x_* contrast blocks.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    val gated = SparkEntry.queries.filter(kv => selected(kv._1))
    // Warm-up: one untimed pass of every entry over the sf0.001
    // dataset (SPARK_GRAFT_WARM_DIR), which exercises codegen, JIT
    // paths and per-operator first-use init (state-store providers,
    // micro-batch planner, codec seams) as the timed run does, since
    // plan structure does not depend on data volume; then a full
    // pre-read of every input table warms the page cache for the
    // timed dataset. Every gate restages its own inputs per call, so
    // a warm-up at the timed SF would skip no real work.
    // Reads through Tables.load, so the warm-up also fills its schema
    // memo for the timed dataset.
    def preReadTables(): Unit = Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    gated.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      unloadState()
    }
    preReadTables()
    // burn-in at the TIMED SF: tiered-JIT (C2) compilation of the
    // shared per-row hot loops (json WAL parse, unsafe-row state
    // ops, parquet scan) only triggers at real row counts — the
    // sf0.001 warm-up never reaches the backedge thresholds. Two
    // streaming gates (HDFS + RocksDB state providers) push those
    // loops to steady state before anything is timed.
    Seq("q53_wal_stream_materialize", "q100_rocksdb_materialize")
      .flatMap(SparkEntry.queries.get).foreach { fn =>
        try run(fn) catch { case _: Throwable => () }
        unloadState()
      }
    // Incremental partial artifact: after each timed entry the
    // results-so-far are flushed to bench_partial.json (tmp+rename)
    // so a driver-side timeout still leaves a parseable artifact of
    // everything that DID complete (r15's rc=124 left nothing).
    // Path is overridable (SPARK_GRAFT_PARTIAL) so two concurrent
    // sweeps — builder + judge — can't clobber each other's partials
    // in a shared cwd (round-16 ADVICE hygiene item).
    val partialName =
      sys.env.getOrElse("SPARK_GRAFT_PARTIAL", "bench_partial.json")
    val partialPath = java.nio.file.Paths.get(partialName)
    def flushPartial(done: Map[String, Double]): Unit = try {
      val qs = done.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val tmp = java.nio.file.Paths.get(partialName + ".tmp")
      java.nio.file.Files.write(tmp,
        s"""{"metric":"partial","value":${done.values.filter(_ >= 0).sum},"unit":"sec","queries":$qs,"sf":"$sfDir","n":${done.size}}"""
          .getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, partialPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Throwable => () }
    // a failed query records -1.0 (sentinel) — its time-to-failure
    // must not read as a fast success in the BENCH json
    var acc = Map.empty[String, Double]
    val results = gated.map { case (name, fn) =>
      System.gc() // drain cross-query garbage so timings don't bleed
      val t0 = System.nanoTime()
      val ok = try { run(fn); true } catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      unloadState()
      acc += name -> (if (ok) t else -1.0)
      flushPartial(acc)
      name -> (if (ok) t else -1.0)
    } ++ (if (only.isDefined) Map.empty[String, Double] else {
      // skew stress: every doc shares a hot boilerplate header, the
      // classic posting-list skew that kills a naive inverted index;
      // q21's prefix filter must stay near its unskewed time
      import org.apache.spark.sql.functions._
      val boiler = "breaking news update for subscribers of the premium daily channel " +
        "feed please share and subscribe for more updates from the editorial team"
      val skewed = Tables.documents(spark, sfDir)
        .select(col("doc_id"), concat(lit(boiler + " "), col("text")).as("text"))
      val t0 = System.nanoTime()
      val ok = try {
        graft.operators.Dedup.ngramJaccardOf(skewed, 0.5)
          .write.format("noop").mode("overwrite").save(); true
      } catch { case _: Throwable => false }
      Map("x_skew_boilerplate_jaccard" ->
        (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0))
    } ++ {
      // aggregation-skew pair: 10x-expanded events with half the rows
      // on one hot key; plain groupBy vs the salted two-phase plan on
      // the IDENTICAL input. Keeps the saltedAgg trade measured, not
      // assumed (Spark's map-side partial agg already absorbs
      // distributive-agg skew — see Skew.saltedHotKeyAgg notes).
      import org.apache.spark.sql.functions._
      val skewed = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"),
          explode(sequence(lit(0), lit(9))).as("r"))
        .withColumn("skew_key",
          when(col("event_id") % 2 === 0, lit(-1L)).otherwise(col("user_id")))
      def time(df: => org.apache.spark.sql.DataFrame): Double = {
        System.gc()
        val t0 = System.nanoTime()
        try { df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      }
      val plain = time(skewed.groupBy(col("skew_key"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
          max(col("value")).as("mv")))
      val salted = time(graft.operators.Skew.saltedAgg(skewed, col("skew_key"), 16,
        Seq(count(lit(1)).as("n"), sum(col("value")).as("sv"),
          max(col("value")).as("mv")),
        Seq(sum(col("n")).as("n"), sum(col("sv")).as("sv"),
          max(col("mv")).as("mv"))))
      Map("x_skew_agg_plain" -> plain, "x_skew_agg_salted" -> salted)
    } ++ {
      // runtime-filter pair: q137's selective join WITH the bloom
      // pre-filter vs the plain shuffle join on the IDENTICAL input —
      // the measured value of pruning probe rows before the shuffle
      import org.apache.spark.sql.functions._
      def time(df: => org.apache.spark.sql.DataFrame): Double = {
        System.gc()
        val t0 = System.nanoTime()
        try { df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      }
      val urgent = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val plain = time(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(urgent.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_joined"), sum(col("cents")).as("revenue_cents")))
      val filtered = time(graft.operators.Bucketing.bloomSemiJoin(spark, sfDir))
      Map("x_bloom_join_plain" -> plain, "x_bloom_join_filtered" -> filtered)
    })
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val loadAfter = loadAvg()
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","warmup":"small","loadavg_before":${arr(loadBefore)},"loadavg_after":${arr(loadAfter)}}""")
    // Compact summary LAST: the round driver keeps only a 2000-char
    // stdout tail, and the full result line above is ~25 KB for 477
    // entries — structurally unparseable from the tail (16 rounds of
    // `parsed: null`). This second line is < 200 chars, so the tail
    // always ends with a parseable record (VERDICT r16 Next #3).
    val failedN = results.values.count(_ < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedN,"sf":"$sfDir","warmup":"small"}""")
    spark.stop()
  }
}
