package graft

import graft.operators.{Multimodal, Relational, Similarity, StreamingOps}
import graft.plans.PlanLint
import org.apache.spark.sql.functions._

/** Round-10 operators: semantics pins + plan-shape sweeps for
  * q297–q301. */
class Round10Spec extends SparkSpec {

  // ---- q301: 3-d skyline ----

  test("q301: skyline equals brute-force dominance and ties all survive") {
    val sky = Relational.skyline3d(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("p_partkey"),
        r.getAs[Long]("price_cents"), r.getAs[Long]("p_size"),
        r.getAs[Long]("demand")))
    assert(sky.nonEmpty)
    // brute-force ground truth over the same points
    val demand = Tables.lineitem(spark, sfDir).groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("demand"))
    val pts = Tables.part(spark, sfDir)
      .join(demand, col("p_partkey") === col("l_partkey"), "left")
      .select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("pc"),
        col("p_size").cast("long").as("sz"),
        coalesce(col("demand"), lit(0L)).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    def dominates(q: (Long, Long, Long, Long),
        x: (Long, Long, Long, Long)): Boolean =
      q._2 <= x._2 && q._3 >= x._3 && q._4 >= x._4 &&
        (q._2 < x._2 || q._3 > x._3 || q._4 > x._4)
    val expected = pts.filter(x => !pts.exists(q => dominates(q, x)))
      .map(_._1).toSet
    assert(sky.map(_._1).toSet === expected,
      "skyline differs from brute-force dominance")
    // mutual non-domination within the skyline (incl. all-equal ties)
    for (a <- sky; b <- sky if a._1 != b._1)
      assert(!dominates((b._1, b._2, b._3, b._4), (a._1, a._2, a._3, a._4)),
        s"skyline member ${b._1} dominates member ${a._1}")
  }

  test("q301: an all-criteria tie of the best point is kept in full") {
    import spark.implicits._
    // tiny frame through the same grid algebra via a temp swap is
    // overkill — pin the tie rule on the brute-force predicate the
    // gate's oracle uses: two identical points never dominate each
    // other, so both survive
    val pts = Seq((1L, 100L, 5L, 7L), (2L, 100L, 5L, 7L), (3L, 200L, 4L, 6L))
    def dom(q: (Long, Long, Long, Long), x: (Long, Long, Long, Long)) =
      q._2 <= x._2 && q._3 >= x._3 && q._4 >= x._4 &&
        (q._2 < x._2 || q._3 > x._3 || q._4 > x._4)
    val sky = pts.filter(x => !pts.exists(q => q._1 != x._1 && dom(q, x)))
    assert(sky.map(_._1) === Seq(1L, 2L), "equal points must both survive")
  }

  // ---- q298: filtered IVF ----

  test("q298: probing every cell recovers exact filtered search (recall 1e6)") {
    val full = Similarity.filteredIvfRecall(spark, sfDir, nprobe = 10)
    val bad = full.filter(col("recall_ppm") =!= 1000000L ||
      col("n_ivf") =!= col("n_exact")).count()
    assert(bad === 0L,
      "nprobe = all cells must make the IVF arm exactly the filtered scan")
  }

  test("q298: recall is monotone in nprobe per (query, label)") {
    def recalls(np: Int): Map[(Long, Long), Long] =
      Similarity.filteredIvfRecall(spark, sfDir, nprobe = np)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("label")) -> r.getAs[Long]("n_hit")).toMap
    val r1 = recalls(1); val r3 = recalls(3)
    assert(r1.keySet === r3.keySet)
    for ((k, h1) <- r1)
      assert(h1 <= r3(k), s"group $k lost hits when probing more cells")
  }

  // ---- q299: streaming retraction IVM ----

  test("q299: zero-support groups are tombstoned out of the published view") {
    import spark.implicits._
    // synthetic WAL: user 1's clicks fully retracted (transient group
    // must VANISH from the view), user 2 keeps one of two, user 3
    // untouched. Retractions carry later seqs — they arrive in later
    // micro-batches, so the group exists transiently before the
    // tombstone removes it.
    val rows = Seq(
      // (seq, ts, user, type, value, kind)
      (1L, 1000L, 1L, "click", "2.0", "put"),
      (2L, 2000L, 2L, "click", "3.0", "put"),
      (3L, 3000L, 2L, "click", "5.0", "put"),
      (4L, 4000L, 3L, "view", "7.0", "put"),
      (10L, 1000L, 1L, "click", "2.0", "delete"),
      (11L, 2000L, 2L, "click", "3.0", "delete"))
    val muts = rows.toDF("seq", "ts", "user_id", "event_type", "value", "kind")
      .select(col("seq"), col("ts"), lit("events").as("table"),
        col("user_id").cast("string").as("rowkey"),
        array(struct(lit("e").as("family"),
          col("event_type").as("qualifier"), col("value"), col("ts"),
          col("kind"))).as("cells"))
    val stage = scratchDir("graft-q299-spec").toString
    val view = StreamingOps.streamIvmRetractOf(spark, stage, muts)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("sum_cents")))).toMap
    assert(!view.contains((1L, "click")),
      "fully-retracted group still published (ghost group)")
    assert(view((2L, "click")) === ((1L, 500L)),
      "partial retraction must leave the surviving remainder")
    assert(view((3L, "view")) === ((1L, 700L)))
    assert(view.size === 2)
  }

  test("q299: gated run publishes no ghost groups and matches batch IVM") {
    val view = StreamingOps.streamIvmRetract(spark, sfDir)
    assert(view.filter(col("n_events") <= 0L).count() === 0L,
      "ghost group in the published view")
    // stream ≡ batch: same relation as q289's signed-multiplicity merge
    val batch = graft.operators.Incremental.ivmRetract(spark, sfDir)
    assert(view.exceptAll(batch).count() === 0L &&
      batch.exceptAll(view).count() === 0L,
      "streaming view diverged from the batch IVM relation")
  }

  // ---- q300: PPM round-trip ----

  test("q300: every staged payload parses as valid P6 with hex-range pixels") {
    val parsed = Multimodal.ppmDecode(spark, sfDir)
    assert(parsed.filter(!col("is_p6")).count() === 0L)
    assert(parsed.filter(col("maxval") =!= 255L).count() === 0L)
    assert(parsed.filter(col("width") < 4L || col("width") > 16L ||
      col("height") < 3L || col("height") > 9L).count() === 0L)
    // pixels are md5 hex chars: ascii in [48..57] ∪ [97..102]
    val badMean = parsed.filter(col("mean_pixel_milli") < 48000L ||
      col("mean_pixel_milli") > 102000L).count()
    assert(badMean === 0L, "mean outside the hex-char ascii range")
  }

  // ---- q316: growth accounting ----

  test("q316: the accounting identity holds every day") {
    val ga = graft.operators.Events.growthAccounting(spark, sfDir)
      .collect().map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("n_new"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_resurrected"), r.getAs[Long]("n_churned")))).toMap
    assert(ga.nonEmpty)
    // DAU(d) = new + retained + resurrected, against the raw stream
    val dau = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000").as("day"))
      .distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("dau")).toMap
    for ((day, (nw, rt, rs, _)) <- ga)
      assert(nw + rt + rs === dau(day), s"identity broken on day $day")
    // churn balances: yesterday's DAU = retained(d) + churned(d)
    for ((day, (_, rt, _, ch)) <- ga if dau.contains(day - 1))
      assert(rt + ch === dau(day - 1), s"churn imbalance on day $day")
  }

  // ---- q315: bot regularity ----

  test("q315: a metronome user is flagged, a bursty user is not") {
    import spark.implicits._
    // build a tiny events-shaped frame and run the same algebra the
    // operator uses, via a temp view swap of the identity below:
    // metronome gaps exactly 1000us; bursty gaps vary wildly
    val rows =
      (1 to 10).map(i => (i.toLong, i * 1000L, 1L)) ++ // metronome
        Seq(1L, 2L, 4L, 8L, 200L, 210L, 5000L, 5010L, 9000L, 20000L)
          .zipWithIndex.map { case (t, i) => ((100 + i).toLong, t, 2L) }
    val df = rows.toDF("event_id", "ts", "user_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flags = df
      .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
        sum(expr("cast(gap as decimal(38,0)) * gap")).as("sg2"))
      .select(col("user_id"),
        expr("cast(10 * (n_gaps * sg2 - cast(sg as decimal(38,0)) * sg)" +
          " < cast(sg as decimal(38,0)) * sg as boolean)").as("is_bot"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags(1L) === true, "constant-gap user must flag as bot")
    assert(flags(2L) === false, "bursty user must not flag")
  }

  test("round-10 operators: no cartesians, no low-cardinality windows") {
    for ((name, df) <- Seq(
        "q297" -> graft.operators.WalRetention.ackRetentionReport(spark, sfDir),
        "q298" -> Similarity.filteredIvfRecall(spark, sfDir),
        "q300" -> Multimodal.ppmDecode(spark, sfDir),
        "q301" -> Relational.skyline3d(spark, sfDir),
        "q302" -> Relational.minCostSupplier(spark, sfDir),
        "q303" -> Relational.importantParts(spark, sfDir),
        "q304" -> Relational.topSupplier(spark, sfDir),
        "q305" -> Relational.brandSupplierCounts(spark, sfDir),
        "q306" -> Relational.dominantSupplier(spark, sfDir),
        "q307" -> Relational.returnedRevenue(spark, sfDir),
        "q308" -> graft.operators.Events.powerCurve(spark, sfDir),
        "q309" -> graft.operators.Eval.macroF1(spark, sfDir),
        "q310" -> Relational.shippingPriority(spark, sfDir),
        "q311" -> Relational.nationTrade(spark, sfDir),
        "q312" -> Relational.nationProfit(spark, sfDir),
        "q313" -> Relational.largeOrders(spark, sfDir),
        "q315" -> graft.operators.Events.botRegularity(spark, sfDir),
        "q316" -> graft.operators.Events.growthAccounting(spark, sfDir),
        "q317" -> Relational.custOrderDistribution(spark, sfDir),
        "q318" -> graft.operators.Dedup.bfsHops(spark, sfDir),
        "q319" -> Relational.spearmanPriceDemand(spark, sfDir),
        "q320" -> Relational.supplierHhi(spark, sfDir),
        "q321" -> Multimodal.ppmResize(spark, sfDir),
        "q322" -> graft.operators.Events.timeToConvert(spark, sfDir),
        "q323" -> graft.operators.Events.audienceOverlap(spark, sfDir),
        "q324" -> graft.operators.Dedup.bfsDelta(spark, sfDir))) {
      val rules = PlanLint.audit(df).map(_.rule).toSet
      assert(!rules.contains("cartesian-product"), s"$name cartesian")
      assert(!rules.contains("low-cardinality-partition-window"),
        s"$name low-card window")
    }
  }

  // ---- q317: Q13 distribution ----

  test("q317: every customer lands in exactly one bucket") {
    val dist = Relational.custOrderDistribution(spark, sfDir)
      .collect().map(r => r.getAs[Long]("c_count") ->
        r.getAs[Long]("custdist")).toMap
    val nCust = Tables.customer(spark, sfDir).count()
    assert(dist.values.sum === nCust, "buckets must partition customers")
    // the zero bucket is data-dependent at this SF (every sf0.001
    // customer has a qualifying order; live at sf0.01) — pin the
    // left-join semantics that produce it on a synthetic frame
    import spark.implicits._
    val cust = Seq(1L, 2L, 3L).toDF("o_custkey")
    val cnts = Seq((1L, 4L)).toDF("o_custkey", "cnt")
    val zero = cust.join(cnts, Seq("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(zero === Map(0L -> 2L, 4L -> 1L),
      "customers with no orders must surface in the zero bucket")
  }

  // ---- q318: BFS hops ----

  test("q318: path-graph distances, cap, and unreachable exclusion") {
    import spark.implicits._
    // path 0-1-2-3-4-5 plus isolated pair 21-22 (no seed: 21,22 % 10 != 0)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (21L, 22L)).toDF("d1", "d2")
    val got = graft.operators.Dedup.bfsHopsOf(edges, maxHops = 3, seedMod = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hops"))
      .toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
      "exact hop distances up to the cap; 4,5 beyond cap and 21,22 " +
        "unreachable must be absent")
    // two seeds: min distance wins (20 is a seed; 21 now 1 hop from it)
    val edges2 = Seq((0L, 1L), (20L, 21L), (21L, 1L)).toDF("d1", "d2")
    val got2 = graft.operators.Dedup.bfsHopsOf(edges2, 3, 10L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hops"))
      .toMap
    assert(got2 === Map(0L -> 0L, 20L -> 0L, 21L -> 1L, 1L -> 1L),
      "multi-source: each vertex takes its NEAREST seed")
  }

  // ---- q324: incremental BFS ----

  test("q324: delta relaxation equals recompute on crafted graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    def dist(edges: Seq[(Long, Long)], maxHops: Int): Map[Long, Long] =
      Dedup.bfsHopsOf(edges.toDF("d1", "d2"), maxHops, 10L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def relaxed(base: Seq[(Long, Long)], delta: Seq[(Long, Long)],
        maxHops: Int): Map[Long, Long] = {
      val baseDist = Dedup.bfsHopsOf(base.toDF("d1", "d2"), maxHops, 10L)
        .select(col("doc_id").as("v"), col("hops"))
      Dedup.bfsRelaxOf(spark, baseDist, (base ++ delta).toDF("d1", "d2"),
        delta.toDF("d1", "d2"), maxHops, 10L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // (1) a delta shortcut shortens a chain: 0-1-2-3-4 with new edge
    // 0-4 => 4 jumps from hops 4 to 1, and 3 improves via 4 (the
    // multi-hop propagation THROUGH a base edge)
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(relaxed(chain, Seq((0L, 4L)), 4) ===
      dist(chain ++ Seq((0L, 4L)), 4))
    // (2) a delta-introduced SEED radiates through base edges:
    // base 1-2-3 (no seed => empty index), delta 20-1
    val r2 = relaxed(Seq((1L, 2L), (2L, 3L)), Seq((20L, 1L)), 4)
    assert(r2 === dist(Seq((1L, 2L), (2L, 3L), (20L, 1L)), 4))
    assert(r2(20L) === 0L && r2(1L) === 1L && r2(3L) === 3L)
    // (3) the cap still binds after improvement: long chain, shortcut
    // leaves the far tail beyond maxHops => absent on both sides
    val long = (0L to 7L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(relaxed(long, Seq((0L, 5L)), 3) ===
      dist(long ++ Seq((0L, 5L)), 3))
    // (4) and the gated operator's maintained index equals q318's
    // recompute over the full edge set
    val full = Dedup.bfsHops(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = Dedup.bfsDelta(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full, "incremental BFS must land on the recompute fixpoint")
  }

  // ---- q322: time-to-convert ----

  test("q322: percentile cuts are ordered and the gate emits one row") {
    val r = graft.operators.Events.timeToConvert(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r.head
    val (n, p50, p90, p99) = (row.getAs[Long]("n_converters"),
      row.getAs[Long]("p50_us"), row.getAs[Long]("p90_us"),
      row.getAs[Long]("p99_us"))
    assert(n > 0)
    assert(p50 <= p90 && p90 <= p99, "quantile cuts must be monotone")
    assert(p50 >= 0, "a conversion can never precede its first view")
  }

  // ---- q323: audience overlap ----

  test("q323: bitmask collapse equals direct set algebra, zero pairs kept") {
    val got = graft.operators.Events.audienceOverlap(spark, sfDir)
      .collect().map(r => (r.getAs[String]("type_a"),
        r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_both"), r.getAs[Long]("jaccard_ppm")))).toMap
    // ground truth by plain distinct-set intersection
    val ut = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type"))
    val byType = ut.groupBy(_._2).map { case (t, xs) =>
      t -> xs.map(_._1).toSet }
    val types = byType.keys.toSeq.sorted
    val expectedPairs = for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield (types(i), types(j))
    assert(got.keySet === expectedPairs.toSet,
      "every ordered pair must be reported, including zero overlaps")
    for (((a, b), (na, nb, both, jac)) <- got) {
      assert(na === byType(a).size.toLong)
      assert(nb === byType(b).size.toLong)
      val inter = (byType(a) intersect byType(b)).size.toLong
      assert(both === inter, s"($a,$b) intersection")
      assert(jac === inter * 1000000L / (na + nb - inter),
        s"($a,$b) jaccard")
    }
  }

  // ---- q321: PPM resize ----

  test("q321: known-bytes blob samples the exact nearest-neighbor pixels") {
    import spark.implicits._
    // 4x2 P6 image, pixel bytes 'A'..'X' (24 = 4*2*3): the 2x2
    // nearest-neighbor map picks src (0,0),(2,0),(0,1),(2,1) —
    // offsets 0,6,12,18 in the pixel region, three channels each
    val pix = ('A' to 'X').mkString
    val blob = s"P6\n4 2\n255\n$pix"
    val media = Seq((1L, blob.getBytes("UTF-8"))).toDF("doc_id", "blob")
    val parsed = graft.operators.Multimodal.parsePpmHeader(media)
      .select("is_p6", "width", "height", "pix_off").collect().head
    assert(parsed.getBoolean(0) && parsed.getLong(1) === 4L &&
      parsed.getLong(2) === 2L)
    val got = graft.operators.Multimodal.parsePpmHeader(media)
      .select(col("doc_id"), col("s"), col("pix_off"), col("width"),
        col("height"), explode(expr("sequence(0, 11)")).as("i"))
      .withColumn("ty", expr("i div 6"))
      .withColumn("tx", expr("(i div 3) % 2"))
      .withColumn("channel", expr("CAST(i % 3 AS BIGINT)"))
      .withColumn("sy", expr("(ty * height) div 2"))
      .withColumn("sx", expr("(tx * width) div 2"))
      .withColumn("value", expr("CAST(ascii(substring(s, " +
        "pix_off + ((sy * width + sx) * 3 + channel), 1)) AS BIGINT)"))
      .orderBy(col("ty"), col("tx"), col("channel"))
      .select(col("value")).collect().map(_.getLong(0)).toSeq
    val expected = Seq(0, 6, 12, 18).flatMap(k =>
      (0 to 2).map(c => pix(k + c).toLong))
    assert(got === expected, "each thumbnail sample must be the exact " +
      "source byte the integer index map names")
  }

  // ---- q319: Spearman ----

  test("q319: perfect monotone data gives rho 1, ties stay exact") {
    import spark.implicits._
    // replay the operator's rank+moment algebra on a tiny frame:
    // y strictly increases with x => rho = 1 even with tied x's
    // handled by average ranks
    val rows = Seq((1L, 10L), (2L, 20L), (2L, 25L), (3L, 30L), (5L, 50L))
    val df = rows.toDF("x", "y")
    def rank2(vCol: String) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(vCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      df.groupBy(col(vCol)).agg(count(lit(1)).as("t"))
        .withColumn(vCol + "_r2",
          (sum(col("t")).over(w) - col("t")) * 2 + col("t") + 1)
        .drop("t")
    }
    val ranked = df.join(rank2("x"), "x").join(rank2("y"), "y")
      .select(col("x_r2").cast("double").as("rx"),
        col("y_r2").cast("double").as("ry"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    // tied x=2 rows share average rank (2r = 5 twice)
    assert(ranked.count(_._1 == 5.0) === 2, "tied values share average rank")
    val n = ranked.length.toDouble
    val (sx, sy) = (ranked.map(_._1).sum, ranked.map(_._2).sum)
    val sxx = ranked.map(p => p._1 * p._1).sum
    val syy = ranked.map(p => p._2 * p._2).sum
    val sxy = ranked.map(p => p._1 * p._2).sum
    val rho = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(rho < 1.0 && rho > 0.97,
      "monotone-with-ties data must sit just below 1 (tie penalty)")
    // and the gated operator emits exactly one defined row
    val out = Relational.spearmanPriceDemand(spark, sfDir).collect()
    assert(out.length === 1 && !out.head.isNullAt(1))
  }

  // ---- q320: HHI ----

  test("q320: monopoly nation scores 1e6, even split scores 1e6/k") {
    import spark.implicits._
    // replay the identity HHI = sum(rev^2) * 1e6 / (sum rev)^2
    def hhi(revs: Seq[Long]): Long = {
      val tot = revs.sum
      revs.map(r => BigInt(r) * r).sum * 1000000 / (BigInt(tot) * tot) match {
        case v => v.toLong
      }
    }
    assert(hhi(Seq(500L)) === 1000000L, "monopoly")
    assert(hhi(Seq(250L, 250L, 250L, 250L)) === 250000L, "even 4-way split")
    val out = Relational.supplierHhi(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val h = r.getAs[Long]("hhi_ppm")
      val k = r.getAs[Long]("n_suppliers")
      assert(h <= 1000000L && h >= 1000000L / k - 1,
        s"HHI must sit in [1e6/k, 1e6] for ${r.getAs[String]("n_name")}")
    }
  }
}
