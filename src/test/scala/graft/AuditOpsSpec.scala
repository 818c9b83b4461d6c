package graft

import graft.operators.{Dedup, Events, Similarity, StreamingOps, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge-case specs for the round-6 audit operators: q192 WAL
  * sequence integrity, q193 rate-series ACF + baseline chooser,
  * q194 edit-distance verify (incl. the round-7 full-length ratio
  * guard). Each test builds a synthetic table whose expected output
  * is hand-computable — the sf-data oracle asserts parity, these
  * assert SEMANTICS (gap arithmetic, duplicate collapse, null
  * guards, FP rejection) at points the shipped data doesn't hit. */
class AuditOpsSpec extends SparkSpec {

  /** Writes (event_id, ts-in-nanos) rows as a `$dir/events.parquet`
    * the [[Tables.events]] legacy LongType branch reads. */
  private def eventsDir(rows: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = scratchDir("graft_audit").toString
    rows.toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    dir
  }

  private def byShard(df: DataFrame): Map[Long, Map[String, Any]] =
    df.collect().map { r =>
      r.getAs[Long]("shard") ->
        df.columns.map(c => c -> r.getAs[Any](c)).toMap
    }.toMap

  test("q192: gap, duplicate, reordering, and empty shard each surface once") {
    val us = 1000L // ts below are micros; store nanos
    // shard = event_id % 5:
    //  shard 0: ids 0,5,10 in order            -> clean row
    //  shard 1: ids 1,11 (6 missing)           -> n_gaps 1
    //  shard 2: ids 2,7,7 (dup, and min-ts of 7 precedes 2's ts)
    //           -> n_dups 1, reordering counted ONCE despite 2 copies
    //  shard 3: ids 3,8 in order               -> clean row
    //  shard 4: no ids at all                  -> all-zero row, null min/max
    val dir = eventsDir(Seq(
      0L -> 10L * us, 5L -> 20L * us, 10L -> 30L * us,
      1L -> 10L * us, 11L -> 40L * us,
      2L -> 100L * us, 7L -> 50L * us, 7L -> 150L * us,
      3L -> 10L * us, 8L -> 20L * us))
    val got = byShard(Events.walIntegrity(spark, dir, shards = 5))
    assert(got.size == 5, s"expected exactly 5 shard rows, got ${got.size}")
    assert(got(0L)("n_gaps") == 0L && got(0L)("n_dups") == 0L &&
      got(0L)("n_late") == 0L, s"shard 0 not clean: ${got(0L)}")
    assert(got(1L)("n_gaps") == 1L, s"shard 1 gap missed: ${got(1L)}")
    assert(got(2L)("n_dups") == 1L && got(2L)("n_late") == 1L,
      s"shard 2 dup/reorder wrong (reordering must count once): ${got(2L)}")
    assert(got(3L)("n_late") == 0L, s"shard 3 falsely late: ${got(3L)}")
    assert(got(4L)("n_rows") == 0L && got(4L)("n_ids") == 0L &&
      got(4L)("min_id") == null && got(4L)("max_id") == null &&
      got(4L)("n_gaps") == null,
      s"empty shard must be an all-zero row with null id stats: ${got(4L)}")
  }

  test("q193: constant series yields explicit-null r at every lag and 'flat'") {
    val hourNs = 3600L * 1000000000L
    // 48 hours, exactly 2 events each hour -> zero variance both sides
    val dir = eventsDir((0 until 48).flatMap(h =>
      Seq((h * 2L) -> (h * hourNs), (h * 2 + 1L) -> (h * hourNs + 1000L))))
    val rows = Events.acfLags(spark, dir).collect()
    assert(rows.length == 24)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("r"))),
      "constant series must emit explicit null r, not NaN or a value")
    assert(rows.forall(_.getAs[String]("recommended") == "flat")
      , "all-null ACF must recommend the flat baseline")
  }

  test("q193: period-24 series peaks at lag 24 and recommends 'seasonal'") {
    val hourNs = 3600L * 1000000000L
    // 120 hours (5 days); 10 events at midnight hours, 1 otherwise
    var id = -1L
    val dir = eventsDir((0 until 120).flatMap { h =>
      val n = if (h % 24 == 0) 10 else 1
      (0 until n).map { _ => id += 1; id -> (h * hourNs) }
    })
    val rows = Events.acfLags(spark, dir).collect()
      .map(r => r.getAs[Long]("lag") ->
        (if (r.isNullAt(r.fieldIndex("r"))) None
         else Some(r.getAs[Double]("r")))).toMap
    // lag-24 pairs align spike with spike: exactly periodic -> r = 1
    assert(rows(24L).contains(1.0), s"lag-24 r should be 1.0: ${rows(24L)}")
    assert(rows(24L).get > rows(12L).getOrElse(-2.0),
      "lag 24 must beat the off-period lag 12")
    val rec = Events.acfLags(spark, dir)
      .select("recommended").distinct().collect()
    assert(rec.map(_.getString(0)).toSeq == Seq("seasonal"),
      s"period-24 series must recommend the seasonal baseline: ${rec.toSeq}")
  }

  test("q134: grid clamp keeps the most recent maxGridRows points and flags them") {
    import spark.implicits._
    val hourUs = 3600000000L
    val dir = scratchDir("graft_audit").toString
    // user 1 spans 10 grid hours (events at hour 0 and hour 9);
    // user 2 spans 2 (no clamp at maxGridRows = 5)
    Seq((1L, 1L, 0L * hourUs, 10.0), (2L, 1L, 9L * hourUs, 99.0),
        (3L, 2L, 0L * hourUs, 7.0), (4L, 2L, 1L * hourUs, 8.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts") * 1000) // stored nanos
      .write.parquet(s"$dir/events.parquet")
    val got = Events.resampleFfill(spark, dir, hourUs, maxGridRows = 5L)
      .collect().groupBy(_.getAs[Long]("user_id"))
    val u1 = got(1L).sortBy(_.getAs[Long]("grid_ts"))
    assert(u1.length == 5, s"clamped user must emit exactly 5 grid rows: ${u1.length}")
    assert(u1.head.getAs[Long]("grid_ts") == 5L * hourUs,
      "clamp must keep the most RECENT points")
    assert(u1.forall(_.getAs[Boolean]("truncated")), "clamped rows must be flagged")
    // forward-fill still works across the clamped start: hour 5
    // carries the hour-0 observation, hour 9 its own
    assert(u1.head.getAs[Double]("asof_value") == 10.0)
    assert(u1.last.getAs[Double]("asof_value") == 99.0)
    val u2 = got(2L)
    assert(u2.length == 2 && u2.forall(!_.getAs[Boolean]("truncated")),
      "unclamped user keeps the full grid, unflagged")
  }

  /** Writes (doc_id, text) rows as `$dir/documents.parquet`. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = scratchDir("graft_audit").toString
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q194: equal-prefix/divergent-tail band candidates are rejected") {
    // Base doc: >120 normalized chars so the prefixes are identical.
    val base = ("the quick brown fox jumps over the lazy dog while the " +
      "patient grey owl watches from a very tall oak tree near the " +
      "quiet river bank at dawn")
    val tail = " every single morning without fail or complaint"
    // Doc B = A plus the SAME sentence repeated 30x: its shingle SET
    // barely changes (only seam shingles), so it stays a minhash band
    // candidate of A — but its full normalized length is ~8x A's.
    val a = base + tail
    val b = base + (tail * 30)
    val dir = docsDir(Seq(1L -> a, 2L -> b))
    val cands = Dedup.minhashLsh(spark, dir).collect()
    assert(cands.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "test premise: the repeated-tail pair must be an LSH band candidate")
    val verified = Dedup.editVerify(spark, dir).collect()
    assert(!verified.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "full-length ratio guard must reject the equal-prefix/divergent-tail pair")
  }

  test("q194: near-identical docs of similar length still pass") {
    val base = ("the quick brown fox jumps over the lazy dog while the " +
      "patient grey owl watches from a very tall oak tree near the " +
      "quiet river bank at dawn every single morning")
    val dir = docsDir(Seq(
      1L -> (base + " without fail"),
      2L -> (base + " without complaint")))
    val verified = Dedup.editVerify(spark, dir).collect()
    assert(verified.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "a genuine near-duplicate pair must survive the length guard")
  }

  test("q196: vocab curve is exhaustive, monotone, and ends at the corpus totals") {
    import graft.functions.TextFunctions.tokens
    val rows = TextAnalysis.heapsVocab(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("bucket"))
    val docs = Tables.documents(spark, sfDir)
    val totalDocs = docs.count()
    val totalTypes = docs.select(explode(tokens(col("text"))).as("t"))
      .select(countDistinct(col("t"))).head.getLong(0)
    assert(rows.last.getAs[Long]("n_docs_cum") == totalDocs)
    assert(rows.last.getAs[Long]("vocab_cum") == totalTypes,
      "every distinct token must be counted exactly once at its first bucket")
    assert(rows.map(_.getAs[Long]("vocab_cum")).sliding(2)
      .forall(p => p.length < 2 || p(0) <= p(1)), "vocab_cum must be monotone")
    assert(rows.map(_.getAs[Long]("new_types")).sum == totalTypes)
  }

  test("q197: delta-only probe with self-consistent candidate counts and verdicts") {
    val out = Similarity.ivfDeltaProbe(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("vec_id") % 5 == 0),
      "probe output must cover exactly the delta ids")
    out.foreach { r =>
      val (nc, bc, v) = (r.getAs[Long]("n_cands"),
        Option(r.getAs[Any]("best_cos")).map(_.asInstanceOf[Double]),
        r.getAs[String]("verdict"))
      if (nc == 0) assert(bc.isEmpty && v == "keep",
        s"empty-cell delta must keep with no match: $r")
      else {
        assert(bc.isDefined, s"candidates but no best match: $r")
        // best_cos is rounded to 6 decimals; allow that slack at the
        // threshold boundary
        if (v == "drop_near") assert(bc.get >= 0.4 - 1e-6,
          s"drop verdict below threshold: $r")
        else assert(bc.get < 0.4 + 1e-6, s"keep verdict above threshold: $r")
      }
    }
  }

  test("q197 plan: probe reads the persisted index, base search is shuffle-hash") {
    val p = Similarity.ivfDeltaProbe(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("q197idx"), s"probe plan does not read the frozen index:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"cell-local base search lost its shuffle-hash shape:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"probe has an unbounded cross product:\n$p")
  }

  test("q198: completeness curve is cumulative, bounded by the jitter, ends at 100%") {
    val rows = StreamingOps.completenessCurve(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("delay_steps"))
    assert(rows.last.getAs[Long]("frac_ppm") == 1000000L,
      "the curve must reach exactly 100% at the final step")
    assert(rows.forall(_.getAs[Long]("delay_steps") <= 6L),
      "a 30-min jitter cannot spill past hour end + 6 five-minute steps")
    assert(rows.map(_.getAs[Long]("n_cum")).sliding(2)
      .forall(p => p.length < 2 || p(0) < p(1)), "n_cum must strictly increase")
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      rows.last.getAs[Long]("n_cum"))
  }

  test("q199: EMD is 0 for a global-matching class and flags the skewed one") {
    import graft.operators.Privacy
    import spark.implicits._
    val dir = scratchDir("graft_audit").toString
    // class (A,1): 100% band 0; class (B,3): the exact global mix —
    // EMD must be 0.5 and 0.0 respectively (m=2 bands, 150 rows)
    val rows =
      (1 to 50).map(i => (s"c$i", "A", 1L, 500.0)) ++
      (1 to 50).map(i => (s"d$i", "A", 2L, 9500.0)) ++
      (1 to 25).map(i => (s"e$i", "B", 3L, 500.0)) ++
      (1 to 25).map(i => (s"f$i", "B", 3L, 9500.0))
    rows.toDF("c_name", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = Privacy.tCloseness(spark, dir)
      .collect().map(r => r.getAs[String]("c_mktsegment") -> r).toMap
    assert(got("A").getAs[Double]("max_emd") == 0.5,
      s"one-band class must sit at EMD 0.5: ${got("A")}")
    assert(got("A").getAs[Long]("n_risk_classes") == 2L)
    assert(got("B").getAs[Double]("max_emd") == 0.0,
      s"global-matching class must have EMD 0: ${got("B")}")
    assert(got("B").getAs[Long]("n_risk_classes") == 0L)
  }

  test("q200: chosen count equals the monitor the recommendation names") {
    val r = Events.autoAnomaly(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    val expected = row.getAs[String]("recommended") match {
      case "flat" => row.getAs[Long]("n_spikes_flat")
      case "ewma" => row.getAs[Long]("n_spikes_ewma")
      case _      => row.getAs[Long]("n_spikes_seasonal")
    }
    assert(row.getAs[Long]("n_spikes_chosen") == expected)
    // and the component totals equal the public monitors' own sums
    val flat = Events.rateSpikes(spark, sfDir)
      .agg(sum(col("n_spikes"))).head.getLong(0)
    assert(row.getAs[Long]("n_spikes_flat") == flat,
      "flat total diverges from the q163 operator")
  }

  test("q200: empty corpus still emits its one 'flat' report row") {
    // the rec is an AGGREGATE, not a distinct over report rows — an
    // empty events table must match the oracle's always-one-row CTE
    val dir = eventsDir(Seq.empty)
    val r = Events.autoAnomaly(spark, dir).collect()
    assert(r.length == 1, s"empty corpus must emit exactly one row: ${r.toSeq}")
    val row = r.head
    assert(row.getAs[String]("recommended") == "flat")
    assert(row.getAs[Long]("n_spikes_flat") == 0L &&
      row.getAs[Long]("n_spikes_ewma") == 0L &&
      row.getAs[Long]("n_spikes_seasonal") == 0L &&
      row.getAs[Long]("n_spikes_chosen") == 0L)
  }

  test("q200/q203: corpus is scanned once — report plans carry no file scan") {
    // both operators pin their single corpus pass behind one
    // localCheckpoint-ed bounded frame; a FileScan in the report plan
    // would mean a chain re-reads events behind the seam's back
    for ((name, df) <- Seq("q200" -> Events.autoAnomaly(spark, sfDir),
        "q203" -> Events.activeUsers(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan"),
        s"$name report plan re-scans the corpus:\n$plan")
    }
  }

  test("q201: sweep is monotone and its 0.5 row equals the gated q21 pair count") {
    val rows = Dedup.dedupThresholdSweep(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("threshold_ppm"))
    assert(rows.length == 7)
    assert(rows.map(_.getAs[Long]("n_pairs")).sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1)),
      "tightening the threshold cannot add pairs")
    assert(rows.map(_.getAs[Long]("n_docs_hit")).sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1)))
    val at05 = rows.find(_.getAs[Long]("threshold_ppm") == 500000L).get
    val q21 = Dedup.ngramJaccard(spark, sfDir).count()
    assert(at05.getAs[Long]("n_pairs") == q21,
      s"sweep@0.5 (${at05.getAs[Long]("n_pairs")}) != q21 ($q21)")
  }

  test("q202: weights normalize per alpha and flatten as alpha drops") {
    val rows = graft.operators.Pipeline.mixtureTemperature(spark, sfDir).collect()
    val byAlpha = rows.groupBy(_.getAs[Long]("alpha_pct"))
    assert(byAlpha.keySet == Set(25L, 50L, 75L, 100L))
    for ((a, rs) <- byAlpha) {
      val total = rs.map(_.getAs[Long]("weight_ppm")).sum
      // integral-ppm truncation loses < 1 ppm per source
      assert(total > 1000000L - rs.length && total <= 1000000L,
        s"alpha=$a ppm sum $total not normalized")
    }
    def spread(a: Long) = {
      val w = byAlpha(a).map(_.getAs[Long]("weight_ppm"))
      w.max - w.min
    }
    assert(spread(25L) < spread(100L),
      "lower temperature must flatten the mixture toward uniform")
  }

  test("q203: DAU <= WAU <= MAU, stickiness bounded, first day degenerate-equal") {
    val rows = Events.activeUsers(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, w, m) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"),
        r.getAs[Long]("mau"))
      assert(d <= w && w <= m, s"active-user containment violated: $r")
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L)
    }
    // the first observed day has no history: all three metrics equal
    val first = rows.head
    assert(first.getAs[Long]("dau") == first.getAs[Long]("wau") &&
      first.getAs[Long]("wau") == first.getAs[Long]("mau"),
      s"first day must have DAU=WAU=MAU: $first")
    assert(!first.getAs[Boolean]("full_window"))
  }

  test("q204: per-source percentiles are ordered and complete") {
    val rows = graft.operators.Pipeline.sourceQualityCalibration(spark, sfDir)
      .collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    for ((src, rs) <- bySource) {
      val m = rs.map(r => r.getAs[String]("q_label") ->
        r.getAs[Long]("est_ppm")).toMap
      assert(m.keySet == Set("p10", "p50", "p90"),
        s"$src missing percentile rows: ${m.keySet}")
      assert(m("p10") <= m("p50") && m("p50") <= m("p90"),
        s"$src percentile ordering violated: $m")
      assert(rs.forall(r => r.getAs[Long]("est_ppm") >= 0))
    }
  }

  test("q205: a deliberately dirty load names exactly the broken rules") {
    import graft.operators.Relational
    import spark.implicits._
    val dir = scratchDir("graft_audit").toString
    // violations: one null key, one qty=99, one discount=0.5, one
    // duplicated (orderkey, linenumber); orders: one bad status
    Seq(
      (Option(1L), 1, 10.0, 0.05), (Option(1L), 2, 99.0, 0.05),
      (Option(2L), 1, 5.0, 0.5), (Option(2L), 1, 5.0, 0.0),
      (None: Option[Long], 9, 1.0, 0.0))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "O", "2024-01-01"), (2L, "X", "2024-01-02"))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val got = Relational.constraintChecks(spark, dir)
      .collect().map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))).toMap
    assert(got("not_null:l_orderkey") == (1L, false))
    assert(got("range:l_quantity:1-50") == (1L, false))
    assert(got("range:l_discount:0-0.1") == (1L, false))
    assert(got("unique:l_orderkey+l_linenumber") == (1L, false),
      s"dup composite key must count once: ${got}")
    assert(got("not_null:o_orderdate") == (0L, true))
    assert(got("accepted:o_orderstatus") == (1L, false))
  }

  test("q206: day-0 survival is 100%, at-risk shrinks with horizon, counts contained") {
    val rows = Events.survivalCurve(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("k"))
    assert(rows.head.getAs[Long]("k") == 0L &&
      rows.head.getAs[Long]("survival_ppm") == 1000000L,
      "every user survives at least to their own first day")
    assert(rows.map(_.getAs[Long]("n_at_risk")).sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1)),
      "censoring can only shrink the at-risk set as the horizon grows")
    assert(rows.forall(r =>
      r.getAs[Long]("n_survived") <= r.getAs[Long]("n_at_risk")))
  }

  test("q207: the 2-core keeps the clique and peels chains and stars") {
    import spark.implicits._
    // triangle {1,2,3} (survives: every node has 2 in-core partners),
    // chain 4-5-6 (peels from the endpoints in), star 7-{8,9,10}
    // (leaves peel, then the hub)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L),
      (7L, 8L), (7L, 9L), (7L, 10L)).toDF("d1", "d2")
    val got = Dedup.kCoreOf(edges, k = 2, rounds = 6).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L),
      s"2-core must be exactly the triangle: ${got.toSeq}")
    assert(got.forall(_.getAs[Long]("core_degree") == 2L))
    assert(got.forall(_.getAs[Boolean]("converged")))
  }

  test("q207: insufficient rounds report converged=false, never a silent partial core") {
    import spark.implicits._
    // a 6-chain needs 3 peel rounds; with 1 round the endpoints are
    // gone but 2-degree interior nodes with dead neighbors remain
    val chain = (1L to 6L).sliding(2)
      .map(p => (p(0), p(1))).toSeq.toDF("d1", "d2")
    val partial = Dedup.kCoreOf(chain, k = 2, rounds = 1).collect()
    assert(partial.nonEmpty && partial.forall(!_.getAs[Boolean]("converged")),
      s"a cut-short peel must say so: ${partial.toSeq}")
    val full = Dedup.kCoreOf(chain, k = 2, rounds = 6).collect()
    assert(full.isEmpty, "a chain has no 2-core")
  }

  test("q209: conversion needs a purchase AT/AFTER the first view, per cohort") {
    import spark.implicits._
    val wk = 604800000000L
    val dir = scratchDir("graft_audit").toString
    // week 0: u1 view->purchase (converts), u2 purchase->view with no
    // later purchase (must NOT convert); week 1: u3 view-only,
    // u4 purchase-only (not even a viewer)
    Seq(
      (1L, 1L, "view", 10L), (2L, 1L, "purchase", 20L),
      (3L, 2L, "purchase", 10L), (4L, 2L, "view", 20L),
      (5L, 3L, "view", wk + 10L),
      (6L, 4L, "purchase", wk + 10L))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts", col("ts") * 1000) // stored nanos
      .write.parquet(s"$dir/events.parquet")
    val got = Events.cohortFunnel(spark, dir)
      .collect().map(r => r.getAs[Long]("cohort_week") -> r).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L).getAs[Long]("n_users") == 2 &&
      got(0L).getAs[Long]("n_viewed") == 2 &&
      got(0L).getAs[Long]("n_converted") == 1,
      s"purchase-before-view must not convert: ${got(0L)}")
    assert(got(1L).getAs[Long]("n_users") == 2 &&
      got(1L).getAs[Long]("n_viewed") == 1 &&
      got(1L).getAs[Long]("n_converted") == 0, s"week 1 wrong: ${got(1L)}")
  }

  test("q210: seeded PII is detected per pattern; clean docs stay unflagged") {
    import graft.operators.Privacy
    import spark.implicits._
    val dir = scratchDir("graft_audit").toString
    Seq(
      (1L, "web", "contact me at jane.doe@example.com for details"),
      (2L, "web", "call 555-123-4567 or 555 987 6543 today"),
      (3L, "web", "account number 123456789012 on file"),
      (4L, "web", "a perfectly clean document about owls"),
      (5L, "books", "also clean, 42 is short and 12345678 is too"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = Privacy.piiScan(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val web = got("web")
    assert(web.getAs[Long]("n_email_hits") == 1L)
    assert(web.getAs[Long]("n_phone_hits") == 2L,
      s"both phone formats must match: $web")
    assert(web.getAs[Long]("n_longid_hits") == 1L)
    assert(web.getAs[Long]("n_docs_flagged") == 3L &&
      web.getAs[Long]("flagged_ppm") == 750000L)
    val books = got("books")
    assert(books.getAs[Long]("n_docs_flagged") == 0L,
      s"8-digit runs are below the long-id floor: $books")
  }

  test("q211: confusion rows partition each true language exactly") {
    val rows = TextAnalysis.langConfusion(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for ((lang, rs) <- rows.groupBy(_.getAs[String]("lang"))) {
      val nTrue = rs.head.getAs[Long]("n_true")
      assert(rs.map(_.getAs[Long]("n")).sum == nTrue,
        s"$lang cells don't partition its docs")
      val ppm = rs.map(_.getAs[Long]("cell_ppm")).sum
      assert(ppm > 1000000L - rs.length && ppm <= 1000000L,
        s"$lang cell shares don't sum to ~1e6: $ppm")
    }
  }

  test("q194 plan: shuffle-hash text lookups, no cartesian, no broadcast hint") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Dedup.editVerify(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"q194 plan has an unbounded join:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"q194 text lookups lost their shuffle-hash shape:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"q194 hints a broadcast of a corpus-derived table:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
