package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-15 regressions: the output-schema representation lint.
  *
  * Round 14's only red was representational — nine value-correct
  * queries emitted DECIMAL(38,0) report columns and the driver's
  * hash canonicalizes decimal output differently per engine, so
  * rows+schema matched while the hash failed. The rule since: wide
  * decimal arithmetic stays INTERNAL; every gated output column is
  * BIGINT/DOUBLE/STRING/BOOLEAN/DATE/TIMESTAMP/ARRAY — never
  * decimal. This spec sweeps the ENTIRE SparkEntry.queries dispatch
  * so the class cannot recur: reverting any of the nine round-15
  * casts (q390/q391/q416/q436/q438/q440/q441/q444/q445), or adding
  * a new operator with a decimal-typed report column, fails here
  * before the driver gate sees it.
  */
class Round15Spec extends SparkSpec {

  test("no gated output column is decimal-typed (driver-hash representation lint)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sfDir).schema.fields
          .filter(_.dataType.isInstanceOf[DecimalType])
        bad.map(f => s"$name.${f.name}: ${f.dataType.sql}")
    }
    assert(offenders.isEmpty,
      s"decimal-typed gated output columns (cast report columns to " +
        s"BIGINT, keep decimal arithmetic internal):\n  " +
        offenders.mkString("\n  "))
  }

  // ---- q412: LSM-TIERED gram-index compaction (VERDICT r14 Next
  // #4) — rolls must follow the binomial-counter tier shape, the
  // BULK base must never be read or rewritten by any roll (the
  // O(index)-at-cadence residual this round retires), and the
  // maintained ownership must stay exactly the batch q384 frame.

  private def fileKeys(dir: String): Map[String, Object] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files
        .readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey())
      .toMap
    finally walk.close()
  }

  private def gramTiers(stateRoot: String): Set[Int] =
    (0 until 8).filter { t =>
      graft.operators.StreamingOps
        .storeBaseDir(stateRoot, s"gramagg_t$t")
        .exists(d => graft.operators.StreamingOps
          .hasParquet(java.nio.file.Paths.get(d)))
    }.toSet

  private def canonDf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("q412: LSM rolls follow the binomial tier shape and never touch the bulk base") {
    val k = 5
    val stage = scratchDir("spec_q412_lsm").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    graft.operators.Dedup.initExactSubstrIndex(spark, stateRoot,
      docs.filter(col("doc_id") % 2 === 0), k)
    val baseDir = graft.operators.StreamingOps
      .storeBaseDir(stateRoot, "gramagg").get
    val basePointer = java.nio.file.Files.readString(
      java.nio.file.Paths.get(stateRoot, "gramagg.current"))
    val baseBefore = fileKeys(baseDir)
    val delta = docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
    val parts = (0 until 4).map(i =>
      delta.filter(col("doc_id") % 8 === (2 * i + 1)))
    // compactEvery = 1: one LSM roll per batch — the binomial
    // counter in base 2 must read {0}, {1}, {0,1}, {2}
    val wantTiers = Seq(Set(0), Set(1), Set(0, 1), Set(2))
    for (i <- 0 until 4) {
      graft.operators.Dedup.exactSubstrIndexBatch(spark, stateRoot,
        parts(i), i.toLong, k, compactEvery = 1)
      assert(gramTiers(stateRoot) === wantTiers(i),
        s"tier occupancy after roll ${i + 1}")
      // the roll consumed the delta run
      assert(!graft.operators.StreamingOps.hasParquet(
        java.nio.file.Paths.get(graft.operators.StreamingOps
          .storeDeltaDir(stateRoot, "gramagg"))),
        s"delta must be cleared by roll ${i + 1}")
      // REWRITE SCOPE at the filesystem grain: the bulk base version
      // is still the live pointer and every one of its parquet files
      // is byte-for-byte the same inode — no roll read-modify-wrote it
      assert(java.nio.file.Files.readString(java.nio.file.Paths
        .get(stateRoot, "gramagg.current")) === basePointer,
        "no roll may republish the bulk base pointer")
      assert(fileKeys(baseDir) === baseBefore,
        s"roll ${i + 1} rewrote bulk-base files — compaction must be " +
          "O(delta · log tiers), never O(index)")
    }
    // correctness: the maintained ownership is exactly batch q384
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val grams = toks.filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("tk"), i + j + 1)): _*))))
      .toDF("doc_id", "pos", "g")
    val got = canonDf(graft.operators.Dedup.exactSubstrFromOwn(
      toks, grams,
      graft.operators.Dedup.readGramOwnership(spark, stateRoot), k))
    val want = canonDf(graft.operators.Dedup.exactSubstr(spark, sfDir, k))
    assert(got === want,
      "LSM-rolled ownership differs from batch q384")
  }

  // ---- q443: streaming Page–Hinkley (ADVICE r14 #4 — the one new
  // streaming gate without spec coverage): stream ≡ batch, and a
  // mid-stream restart on the same checkpoint must land the same
  // alarm trace.

  test("q443: streamed Page-Hinkley equals the batch q442 trace") {
    val got = canonDf(
      graft.operators.StreamingOps.streamPageHinkley(spark, sfDir))
    val want = canonDf(graft.operators.Events.pageHinkley(spark, sfDir))
    assert(got === want, "stream ≡ batch must hold for q443")
    assert(got.nonEmpty)
  }

  test("q443: restart mid-stream — second AvailableNow run on the same checkpoint") {
    val stage = scratchDir("spec_q443_restart").toString
    val walDir = s"$stage/wal"; val ckpt = s"$stage/ckpt"
    val out = s"$stage/out"
    val wal = graft.sources.WalSource.eventsAsWal(spark, sfDir)
      .localCheckpoint()
    // two waves split by sequence parity, restart between them
    graft.sources.WalSource.writeWalJson(
      wal.filter(col("seq") % 2 === 0), walDir, batches = 2)
    def drain(): Unit = {
      val hourly = graft.sources.WalSource
        .streamV2(spark, walDir, maxFilesPerTrigger = 1)
        .select(expr("ts div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      val q = hourly.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch", lit(id))
            .write.mode("append").parquet(out)
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // second wave appends new WAL segments AFTER the first drain —
    // renamed to sort lexicographically after wave 1 (the graft-wal
    // contract); the restarted query resumes from the checkpoint and
    // the hourly-counts state must carry over (update-mode re-emits
    // raised hours)
    def segs(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    val wave1 = segs(walDir).map(_.getName).sorted
    assert(wave1.nonEmpty)
    graft.sources.WalSource.writeWalJson(
      wal.filter(col("seq") % 2 =!= 0), s"$stage/wal2", batches = 2)
    segs(s"$stage/wal2").sortBy(_.getName).zipWithIndex.foreach {
      case (f, i) =>
        java.nio.file.Files.move(f.toPath, java.nio.file.Paths
          .get(walDir, s"zz_wave2_$i.txt"))
    }
    drain()
    val got = canonDf(graft.operators.Events.pageHinkleyOf(
      spark.read.parquet(out).groupBy(col("h"))
        .agg(max_by(col("x"), col("batch")).as("x")), 50L))
    val want = canonDf(graft.operators.Events.pageHinkley(spark, sfDir))
    assert(got === want,
      "restarted streamed Page-Hinkley differs from batch q442")
  }

  // ---- q385: write-shape pin for the round-15 idle-cost fix — a
  // cell partition must be ONE parquet file (the r14 regression was
  // tasks × cells small-file fan-out), for the base publish, the
  // per-batch delta append, and the scoped compaction rewrite.

  private def parquetCount(dir: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(dir)
    try ls.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    finally ls.close()
  }

  test("q385: every cell partition is exactly one parquet file") {
    import spark.implicits._
    val stage = scratchDir("spec_q385_files").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    def vecOf(hot: Int): Seq[Long] =
      (0 until 4).map(i => if (i == hot) 1000000L else 0L)
    val base = Seq(
      (0L, 0L, vecOf(0)), (1L, 0L, vecOf(0)),
      (2L, 1L, vecOf(1)), (3L, 1L, vecOf(1)),
      (4L, 2L, vecOf(2)), (5L, 2L, vecOf(2)))
      .toDF("vec_id", "label", "v")
      .withColumn("n2",
        org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))
    graft.operators.Similarity.initIvfIndex(spark, stateRoot, base)
    val v0 = graft.operators.StreamingOps
      .storeBaseDir(stateRoot, "postings").get
    for (c <- Seq(0L, 1L, 2L))
      assert(parquetCount(java.nio.file.Paths.get(v0, s"cell=$c")) === 1,
        s"base cell $c must be one file")
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      Seq((10L, vecOf(1))).toDF("vec_id", "v"), 0L, compactEvery = 1)
    val v1 = graft.operators.StreamingOps
      .storeBaseDir(stateRoot, "postings").get
    for (c <- Seq(0L, 1L, 2L))
      assert(parquetCount(java.nio.file.Paths.get(v1, s"cell=$c")) === 1,
        s"compacted cell $c must be one file")
  }

  // ---- q450/q455: the shared integer PageRank core — exact fixed
  // point on a regular graph (the conservation pin: on a d-regular
  // symmetric graph every score stays exactly 10⁶ every round), and
  // per-iteration sum bounds on the real co-purchase graph.

  test("pageRankOf: regular graph is an exact fixed point; corpus sums bounded per iteration") {
    import spark.implicits._
    // a 3-cycle: symmetric, 2-regular — share = s div 2, every
    // vertex receives two shares, next = 150000 + 850*(2*(s div 2))
    // div 1000 = s exactly when s = 1e6
    val cyc = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val adj = cyc.select(col("a").as("v"), col("b").as("u"))
      .union(cyc.select(col("b").as("v"), col("a").as("u")))
    for (it <- 1 to 3) {
      val scores = graft.operators.Dedup.pageRankOf(adj, it)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(scores === Map(1L -> 1000000L, 2L -> 1000000L,
        3L -> 1000000L), s"regular-graph fixed point broken at iter $it")
    }
    // corpus: Σ scores can never exceed n·10⁶ (the damped walk's
    // invariant ceiling) and never fall under the teleport floor
    val edges = graft.operators.Relational
      .copurchaseEdges(spark, sfDir).localCheckpoint()
    val cadj = edges.select(col("pa").as("v"), col("pb").as("u"))
      .union(edges.select(col("pb").as("v"), col("pa").as("u")))
    val n = cadj.select(col("u")).distinct().count()
    for (it <- Seq(1, 3)) {
      val tot = graft.operators.Dedup.pageRankOf(cadj, it)
        .agg(sum(col("s"))).collect()(0).getLong(0)
      assert(tot <= n * 1000000L,
        s"iter $it: rank mass exceeds the invariant ceiling")
      assert(tot >= n * 150000L,
        s"iter $it: rank mass fell under the teleport floor")
    }
  }

  test("q455: teleport mass lands only on seeds; non-seed scores are pure propagation") {
    val rows = graft.operators.Relational
      .personalizedPageRank(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val seeds = graft.Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    var seedScores = 0; var zeroNonSeed = 0
    rows.foreach { r =>
      val (part, s) = (r.getLong(0), r.getLong(1))
      assert(s >= 0L)
      if (seeds(part)) { assert(s >= 150000L,
        s"seed $part lost its teleport base"); seedScores += 1 }
      else if (s == 0L) zeroNonSeed += 1
    }
    assert(seedScores > 0, "no seed vertex reached the graph")
  }

  // ---- q452: the streaming Theil monitor — stream ≡ batch and a
  // mid-stream restart on the same checkpoint (VERDICT Next #7's
  // required spec shape).

  test("q452: streamed Theil concentration equals the batch q451 frame") {
    val got = canonDf(
      graft.operators.StreamingOps.streamTheil(spark, sfDir))
    val want = canonDf(graft.operators.Events.theilHours(spark, sfDir))
    assert(got === want, "stream ≡ batch must hold for q452")
    assert(got.nonEmpty)
  }

  test("q452: restart mid-stream — second AvailableNow run on the same checkpoint") {
    val stage = scratchDir("spec_q452_restart").toString
    val walDir = s"$stage/wal"; val ckpt = s"$stage/ckpt"
    val out = s"$stage/out"
    val wal = graft.sources.WalSource.eventsAsWal(spark, sfDir)
      .localCheckpoint()
    graft.sources.WalSource.writeWalJson(
      wal.filter(col("seq") % 2 === 0), walDir, batches = 2)
    def drain(): Unit = {
      val cells = graft.sources.WalSource
        .streamV2(spark, walDir, maxFilesPerTrigger = 1)
        .select(col("cells")(0)("qualifier").as("event_type"),
          expr("ts div 3600000000").as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("x"))
      val q = cells.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch", lit(id))
            .write.mode("append").parquet(out)
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    graft.sources.WalSource.writeWalJson(
      wal.filter(col("seq") % 2 =!= 0), s"$stage/wal2", batches = 2)
    new java.io.File(s"$stage/wal2").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, java.nio.file.Paths
          .get(walDir, s"zz_wave2_$i.txt"))
      }
    drain()
    val got = canonDf(graft.operators.Events.theilHoursOf(
      spark.read.parquet(out).groupBy(col("event_type"), col("h"))
        .agg(max_by(col("x"), col("batch")).as("x"))))
    val want = canonDf(graft.operators.Events.theilHours(spark, sfDir))
    assert(got === want,
      "restarted streamed Theil differs from batch q451")
  }

  // ---- q453: write-path audit identities, and the core driven with
  // q273's real xxhash64 salt (API generality — the gated modulo
  // salt is the oracle-replayable instance, not the only one).

  test("q453: per-salt identities hold, and the xxhash64 salt variant runs") {
    val rows = graft.operators.Bucketing.saltWriteAudit(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val totalEvents = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum === totalEvents,
      "per-salt ingest must partition the corpus")
    val lfSum = rows.map(_.getAs[Long]("load_factor_ppm")).sum
    // Σ load factors = S·10⁶ up to one truncation per salt
    assert(math.abs(lfSum - 16L * 1000000L) <= rows.length,
      s"load factors must sum to S ppm (got $lfSum)")
    rows.foreach { r =>
      assert(r.getAs[Long]("peak_hour_n") <= r.getAs[Long]("n_events"))
      assert(r.getAs[Boolean]("hot") ===
        (r.getAs[Long]("load_factor_ppm") > 1250000L))
    }
    // the audit core accepts any salt function — q273's layout hash
    val hashed = graft.operators.Bucketing.saltWriteAuditOf(
      graft.Tables.events(spark, sfDir)
        .withColumn("salt", pmod(xxhash64(col("user_id")), lit(16L))),
      col("salt"), 16).collect()
    assert(hashed.map(_.getAs[Long]("n_events")).sum === totalEvents)
  }

  // ---- q456/q462: constructed-series pins for the two new
  // time-series diagnostics.

  test("q456/q462 cores: perfect correlation reads 1e6; constant series read NULL") {
    import spark.implicits._
    // q462 guard: a constant hourly series has zero variance in
    // every segment — rs_micro and h_milli must be NULL, not NaN/0
    val constRows = graft.operators.Events.hurstRsOf(
      (0L until 48L).map(h => (h, 7L)).toDF("h", "x")).collect()
    assert(constRows.length === 3)
    constRows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("rs_micro")),
        "constant segment must yield NULL R/S")
      assert(r.isNullAt(r.fieldIndex("h_milli")))
    }
    // a random-ish walk has strictly positive R/S on every segment
    val varied = graft.operators.Events.hurstRsOf(
      (0L until 48L).map(h => (h, (h * h * 31 + h * 17) % 23))
        .toDF("h", "x")).collect()
    varied.foreach(r => assert(r.getAs[Long]("rs_micro") > 0L))
  }

  // ---- q463-q467: cross-operator coherence for the new stats and
  // planner ladder.

  test("q463/q464: Welch agrees in sign with Cohen's d; ANOVA screens like Kruskal-Wallis") {
    val d = graft.operators.Eval.cohensD(spark, sfDir).collect()(0)
    val t = graft.operators.Eval.welchT(spark, sfDir).collect()(0)
    // same mean gap, both standardized positive-iff-en-longer
    assert((d.getAs[Long]("d_micro") >= 0) ===
      (t.getAs[Long]("t_micro") >= 0),
      "d and Welch t must agree in sign")
    assert(t.getAs[Long]("df_milli") > 0)
    val f = graft.operators.Eval.anovaF(spark, sfDir).collect()(0)
    assert(f.getAs[Long]("f_micro") >= 0)
    assert(f.getAs[Long]("ssb") >= 0 && f.getAs[Long]("ssw") >= 0)
    // decomposition sanity: SSB + SSW equals the total sum of
    // squares up to the documented < k_groups + 1 truncation slack
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val m = graft.Tables.documents(spark, sfDir)
      .select(size(toks).cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      .collect()(0)
    val sst = (BigDecimal(m.getDecimal(2)) -
      BigDecimal(m.getLong(1)) * m.getLong(1) / m.getLong(0))
      .setScale(0, BigDecimal.RoundingMode.DOWN)
    val gap = (sst - BigDecimal(f.getAs[Long]("ssb"))
      - BigDecimal(f.getAs[Long]("ssw"))).abs
    assert(gap <= BigDecimal(f.getAs[Long]("k_groups") + 1),
      s"SSB + SSW must reconstruct SST within truncation slack (gap $gap)")
  }

  test("q465/q466: effect sizes bounded; ECE consistent with the q175 frame") {
    val v = graft.operators.Eval.cramersV(spark, sfDir).collect()(0)
    assert(v.getAs[Long]("v_milli") >= 0L &&
      v.getAs[Long]("v_milli") <= 1000L, "V must sit in [0,1]")
    assert(v.getAs[Long]("chi2_micro") >= 0L)
    val e = graft.operators.Eval.ece(spark, sfDir).collect()(0)
    val ece = e.getAs[Long]("ece_ppm")
    assert(ece >= 0L && ece <= 1000000L, "ECE is a ppm rate")
    // ECE is bounded by the largest per-bin gap
    val maxGap = graft.operators.Eval.calibrationReport(spark, sfDir)
      .agg(max(abs(col("gap_ppm")))).collect()(0).getLong(0)
    assert(ece <= maxGap, "mass-weighted mean gap cannot exceed max gap")
  }

  test("q468: Lorenz shares are monotone, end at unity, and sit under the diagonal") {
    val rows = graft.operators.Relational.lorenzDeciles(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.length === 10)
    val shares = rows.map(_.getAs[Long]("cum_share_ppm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b },
      "cumulative shares must be nondecreasing")
    assert(shares.last === 1000000L, "the full population holds all mass")
    // revenue sorted ascending => the curve sits on or under the
    // diagonal (the defining Lorenz property)
    rows.dropRight(1).foreach { r =>
      val headCount = rows.takeWhile(_.getAs[Long]("decile") <=
        r.getAs[Long]("decile")).map(_.getAs[Long]("n_customers")).sum
      val n = rows.map(_.getAs[Long]("n_customers")).sum
      assert(r.getAs[Long]("cum_share_ppm") <= headCount * 1000000L / n + 1,
        s"decile ${r.getAs[Long]("decile")} sits above the diagonal")
    }
  }

  test("q469: blocking-audit pair masses obey their containments") {
    val r = graft.operators.Dedup.blockingQuality(spark, sfDir)
      .collect()(0)
    val (tp, cp, xp) = (r.getAs[Long]("n_true_pairs"),
      r.getAs[Long]("n_cand_pairs"), r.getAs[Long]("n_captured_pairs"))
    assert(xp <= tp, "captured true pairs cannot exceed true pairs")
    assert(xp <= cp, "captured pairs are a subset of candidates")
    val rr = r.getAs[Long]("reduction_ratio_ppm")
    assert(rr >= 0L && rr <= 1000000L)
    // exact duplicates share their first 16 chars by construction,
    // so prefix blocking must capture EVERY true pair
    assert(xp === tp, "prefix blocking must capture all exact dups")
  }

  test("q470: Neyman allocations sum exactly to the budget") {
    val rows = graft.operators.Sampling.neymanAllocation(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("alloc")).sum === 10000L,
      "largest-remainder apportionment must hit the budget exactly")
    rows.foreach(r => assert(r.getAs[Long]("alloc") >= 0L))
  }

  test("q471: streamed salt balance equals the batch q453 report") {
    val got = canonDf(
      graft.operators.StreamingOps.streamSaltAudit(spark, sfDir))
    val want = canonDf(graft.operators.Bucketing
      .saltWriteAudit(spark, sfDir))
    assert(got === want, "stream ≡ batch must hold for q471")
    assert(got.nonEmpty)
  }

  test("q467: advanced composition wins exactly at large k / small eps") {
    val rows = graft.operators.Privacy
      .dpCompositionPlanner(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val k = r.getAs[Long]("k_releases")
      assert(r.getAs[Boolean]("advanced_wins") ===
        (r.getAs[Long]("advanced_micro") < r.getAs[Long]("basic_micro")))
      // k = 1: basic composition is always at least as tight
      if (k == 1L) assert(!r.getAs[Boolean]("advanced_wins"))
    }
    // monotone: at fixed eps, advanced grows ~sqrt(k) while basic
    // grows linearly, so once advanced wins it keeps winning as k rises
    rows.groupBy(_.getAs[Long]("eps_micro")).foreach { case (_, g) =>
      val byK = g.sortBy(_.getAs[Long]("k_releases"))
        .map(_.getAs[Boolean]("advanced_wins"))
      assert(!byK.zip(byK.tail).exists { case (a, b) => a && !b },
        "advanced_wins must be monotone in k at fixed eps")
    }
  }
}
