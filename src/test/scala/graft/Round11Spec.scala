package graft

import graft.operators.{Dedup, Events, StreamingOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 operators: the streaming dedup-index protocol
  * (replay / restart / compaction invariance) and the growth-
  * accounting full-outer fix. */
class Round11Spec extends SparkSpec {

  private def canon(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  // ---- q326/q327: the spec drives batches DIRECTLY through
  // dedupIndexBatch (the factored seam), so it can replay a batch
  // and force compaction at will — the crash windows the streaming
  // query's checkpoint replay produces.

  test("q326: batch replay + mid-stream compaction leave verdicts and pairs exact") {
    val stage = scratchDir("spec_q326_replay").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Dedup.initDedupIndex(spark, stateRoot, docs.filter(col("doc_id") % 2 === 0))
    val delta = docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
    val parts = Seq(
      delta.filter(col("doc_id") % 6 === 1),
      delta.filter(col("doc_id") % 6 === 3),
      delta.filter(col("doc_id") % 6 === 5))
    Dedup.dedupIndexBatch(spark, stateRoot, parts(0), 0L, compactEvery = 2)
    Dedup.dedupIndexBatch(spark, stateRoot, parts(1), 1L, compactEvery = 2)
    // crash window: checkpoint replay re-delivers batch 1 verbatim
    Dedup.dedupIndexBatch(spark, stateRoot, parts(1), 1L, compactEvery = 2)
    Dedup.dedupIndexBatch(spark, stateRoot, parts(2), 2L, compactEvery = 2)
    Dedup.compactDedupIndex(spark, stateRoot)
    val got = canon(Dedup.streamDedupVerdicts(spark, sfDir, stateRoot))
    val want = canon(Dedup.incrementalDedup(spark, sfDir))
    assert(got === want, "replayed stream verdicts differ from batch q105")
    // pair evidence: batching- and replay-invariant vs the full
    // band self-join over the streamed half
    val bands = Dedup.minhashBands(spark, sfDir).filter(col("doc_id") % 2 === 1)
    val wantPairs = canon(bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct())
    val gotPairs = canon(StreamingOps.readStoreAll(spark, stateRoot, "pairs")
      .get.distinct())
    assert(gotPairs === wantPairs, "replayed stream pairs differ from batch self-join")
  }

  test("q326: restart mid-stream — a second AvailableNow run over the same checkpoint absorbs the remaining files") {
    val stage = scratchDir("spec_q326_restart").toString
    val stateRoot = s"$stage/state"
    val inDir = s"$stage/in"; val ckpt = s"$stage/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Dedup.initDedupIndex(spark, stateRoot, docs.filter(col("doc_id") % 2 === 0))
    val delta = docs.filter(col("doc_id") % 2 =!= 0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          Dedup.dedupIndexBatch(spark, stateRoot, df, id, compactEvery = 2)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // phase 1: only the first half of the stream exists; the query
    // drains it and TERMINATES (the "crash")
    delta.filter(col("doc_id") % 4 === 1)
      .repartitionByRange(2, col("doc_id")).toJSON
      .write.mode("overwrite").text(inDir)
    drain()
    // phase 2: the rest of the stream lands; a NEW query on the SAME
    // checkpoint picks up exactly the unseen files
    delta.filter(col("doc_id") % 4 === 3)
      .repartitionByRange(2, col("doc_id")).toJSON
      .write.mode("append").text(inDir)
    drain()
    val got = canon(Dedup.streamDedupVerdicts(spark, sfDir, stateRoot))
    val want = canon(Dedup.incrementalDedup(spark, sfDir))
    assert(got === want, "restarted stream verdicts differ from batch q105")
  }

  // ---- q316: the full-outer churn fix — a churn day with zero
  // active users still emits its row.

  test("q316: growth accounting books churn on zero-DAU gap days (full outer)") {
    // synthetic: user 1 active day 0 only; user 2 active days 0 and 3.
    // day 1 has churn (user 1) AND activity... make day 1 truly empty:
    // both users active day 0 only except user 2 returns day 3 →
    // day 1: zero active, churned = 1 (user 1) + 1 (user 2) = 2.
    import spark.implicits._
    val us = 86400000000L
    val events = Seq((1L, 0L * us), (2L, 0L * us), (2L, 3L * us))
      .toDF("user_id", "ts")
    val days = events
      .select(col("user_id"), expr("ts div 86400000000").as("day")).distinct()
    // mirror growthAccounting's internals on the tiny frame: the
    // operator reads from Tables.documents, so pin the SHAPE via the
    // same algebra inline
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    val anchor = days.agg(max(col("day")).as("mxd"))
    val classified = days
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .crossJoin(broadcast(anchor))
    val active = classified.groupBy(col("day"))
      .agg(sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_day") === col("day") - 1L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_day").isNotNull &&
          col("prev_day") < col("day") - 1L, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churned = classified
      .filter((col("next_day").isNull || col("next_day") > col("day") + 1L) &&
        col("day") + 1L <= col("mxd"))
      .groupBy((col("day") + 1L).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    val full = active.join(churned, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // day 1 exists with zero active and 2 churned — the row the old
    // left join dropped
    assert(full.contains((1L, 0L, 0L, 0L, 2L)),
      s"zero-DAU churn day missing or wrong: $full")
    assert(full.contains((0L, 2L, 0L, 0L, 0L)))
    assert(full.contains((3L, 0L, 0L, 1L, 0L)))
  }

  // ---- q331: KLL sketch laws (driven directly — the Aggregator's
  // reduce/merge ARE the distributed protocol, so fixed adversarial
  // orders here pin exactly what Spark's arbitrary orders exercise).

  private def kllWeight(sk: graft.functions.KllSketch): Long =
    sk.levels.zipWithIndex.map { case (b, l) => b.length.toLong << l }.sum

  test("q331: KLL is exact below capacity (no compactions, err = 0)") {
    val agg = new graft.functions.KllAgg(400)
    val vals = (0 until 300).map(i => ((i * 7919) % 300).toLong)
    val sk = vals.foldLeft(agg.zero)(agg.reduce)
    assert(sk.err === 0L && sk.n === 300L)
    for (qm <- Seq(10, 250, 500, 750, 990)) {
      val est = sk.quantile(qm / 1000.0)
      val target = math.max(1L, math.ceil(qm / 1000.0 * 300).toLong)
      assert(est === target - 1, s"q=$qm exact below cap")
    }
  }

  test("q331: carried bound holds and weight is conserved at 10k inserts") {
    val agg = new graft.functions.KllAgg(64)
    val n = 10000
    val vals = (0 until n).map(i => ((i * 7919) % n).toLong)
    val sk = vals.foldLeft(agg.zero)(agg.reduce)
    assert(sk.n === n.toLong)
    assert(kllWeight(sk) === n.toLong, "total weight must equal n")
    assert(sk.err > 0L, "compactions happened at this cap")
    val bound = sk.err + sk.maxWeight
    // bound must be non-trivial (a sketch with err ~ n is useless)
    assert(bound < n / 4, s"bound $bound degenerate vs n=$n")
    for (qm <- 1 to 99) {
      val est = sk.quantile(qm / 100.0)
      val trueRank = est + 1 // values are exactly 0..n-1
      val target = math.max(1L, math.ceil(qm / 100.0 * n).toLong)
      assert(math.abs(trueRank - target) <= bound,
        s"q=$qm: |${trueRank - target}| > bound $bound")
    }
  }

  test("q331: merge conserves n/weight and the bound survives any split order") {
    // chunked merge is ALSO the streaming-state-reuse shape: a
    // foreachBatch that folds each micro-batch's sketch into a
    // persisted one runs exactly this sequence
    val agg = new graft.functions.KllAgg(64)
    val n = 8000
    val vals = (0 until n).map(i => ((i * 7919) % n).toLong)
    val chunks = vals.grouped(1100).toSeq
      .map(c => c.foldLeft(agg.zero)(agg.reduce))
    for (merged <- Seq(chunks.reduceLeft(agg.merge),
        chunks.reverse.reduceLeft(agg.merge))) {
      assert(merged.n === n.toLong)
      assert(kllWeight(merged) === n.toLong)
      val bound = merged.err + merged.maxWeight
      for (qm <- Seq(1, 10, 25, 50, 75, 90, 99)) {
        val est = merged.quantile(qm / 100.0)
        val target = math.max(1L, math.ceil(qm / 100.0 * n).toLong)
        assert(math.abs((est + 1) - target) <= bound,
          s"merged q=$qm out of bound $bound")
      }
    }
  }

  test("q331: tie-heavy data satisfies the rank-INTERVAL gate " +
      "(the |count(<=est) - target| form is not a theorem under ties)") {
    // an exact sub-cap sketch of [1,1,1,5,6,...,n]: at q small enough
    // that the estimate is 1, count(c <= 1) = 3 swallows the full
    // duplicate mass — the old absolute-difference form fails with
    // bound 0+1, while the interval form holds by construction
    val agg = new graft.functions.KllAgg(400)
    val vals = Seq(1L, 1L, 1L) ++ (5L to 100L)
    val sk = vals.foldLeft(agg.zero)(agg.reduce)
    assert(sk.err === 0L, "sub-cap: exact sketch")
    val n = vals.length
    val bound = sk.err + sk.maxWeight // = 1
    val qm = 10L // target = ceil(0.01*99*10) = 1 → estimate value 1
    val target = math.max(1L, math.ceil(qm / 1000.0 * n).toLong)
    val est = sk.quantile(qm / 1000.0)
    assert(est === 1L)
    val rankLe = vals.count(_ <= est).toLong // 3: full duplicate mass
    val rankLt = vals.count(_ < est).toLong // 0
    assert(math.abs(rankLe - target) > bound,
      "precondition: the old form must actually fail on this corpus")
    assert(target <= rankLe + bound && target >= rankLt + 1L - bound,
      "the interval form is the theorem")
  }

  // ---- q333: DSIR selection invariants.

  test("q333: selection keeps exactly `keep` docs and weights are finite") {
    val r = graft.operators.Pipeline.dsirSelection(spark, sfDir, keep = 20)
      .collect()
    assert(r.nonEmpty)
    assert(r.count(_.getAs[Boolean]("selected")) === 20)
    // only raw-split (odd) docs are candidates
    assert(r.forall(_.getAs[Long]("doc_id") % 2 == 1))
    assert(r.forall(x => !x.getAs[Double]("dsir_score").isNaN &&
      !x.getAs[Double]("dsir_score").isInfinite))
    // the selected set is exactly the top-20 by (score desc, id asc)
    val byScore = r.sortBy(x =>
      (-x.getAs[Double]("dsir_score"), x.getAs[Long]("doc_id")))
    val selected = r.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(byScore.take(20).map(_.getAs[Long]("doc_id")).toSet === selected)
  }

  // ---- q334/q336: round-11 batch additions.

  test("q334: silhouette sign separates own-cell vs other-cell proximity") {
    val r = graft.operators.Eval.silhouette(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (x <- r if !x.isNullAt(x.fieldIndex("silhouette"))) {
      val s = x.getAs[Double]("silhouette")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
      val a = x.getAs[Double]("a_cos"); val b = x.getAs[Double]("b_cos")
      if (a > b) assert(s > 0 || math.abs(s) < 1e-9)
      else if (b > a) assert(s < 0 || math.abs(s) < 1e-9)
    }
  }

  test("q336: benchmark docs are never candidates; hits bounded by grams") {
    val r = graft.operators.TextAnalysis.ngramContamination(spark, sfDir)
      .collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("doc_id") % 2 == 1))
    assert(r.forall(x => x.getAs[Long]("n_hits") <= x.getAs[Long]("n_grams")))
  }

  test("q337: rank-1 members survive — every cell keeps at least one vector") {
    val r = graft.operators.Similarity.semDedup(spark, sfDir).collect()
    assert(r.nonEmpty)
    val cells = r.map(_.getAs[Long]("cell")).toSet
    val keptCells = r.filter(!_.getAs[Boolean]("removed"))
      .map(_.getAs[Long]("cell")).toSet
    assert(keptCells === cells)
    assert(r.forall(x =>
      x.getAs[Boolean]("removed") === (x.getAs[Long]("n_dup_earlier") > 0)))
  }

  test("q338: per-language terciles are dense-ranked and quota-balanced") {
    val r = graft.operators.Pipeline.ccnetBuckets(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Long]("lang_rank")).sorted
      assert(ranks === (1L to rows.length.toLong))
      val sizes = rows.groupBy(_.getAs[String]("bucket")).values.map(_.length)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("q339: grouping-set accounting — every grain totals the base table") {
    val r = graft.operators.Relational.groupingSetsSales(spark, sfDir).collect()
    val total = Tables.orders(spark, sfDir).count()
    assert(r.map(_.getAs[Long]("gid")).toSet === Set(0L, 1L, 2L, 3L))
    for (g <- Seq(0L, 1L, 2L, 3L))
      assert(r.filter(_.getAs[Long]("gid") == g)
        .map(_.getAs[Long]("n_orders")).sum === total)
  }

  test("q341: each HITS side renormalizes to a 1e6 max; scores stay in (0, 1e6]") {
    val r = graft.operators.Events.hits(spark, sfDir).collect()
    for (k <- Seq("authority", "hub")) {
      val side = r.filter(_.getAs[String]("kind") == k)
        .map(_.getAs[Long]("score_scaled"))
      assert(side.nonEmpty && side.max === 1000000L)
      assert(side.forall(s => s > 0L && s <= 1000000L))
    }
  }

  test("q342: refining rows into bands grows volume and recall monotonically") {
    val r = graft.operators.Dedup.lshPlanner(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("n_bands"))
    assert(r.map(_.getAs[Long]("n_bands")).toSeq === Seq(1L, 2L, 4L, 8L))
    def mono(c: String) = {
      val v = r.map(_.getAs[Long](c)).toSeq
      assert(v.zip(v.tail).forall { case (a, b) => a <= b }, s"$c: $v")
    }
    mono("candidate_pairs"); mono("n_found"); mono("predicted_recall_ppm")
  }

  test("q343: reciprocal-rank arithmetic and miss encoding are consistent") {
    val r = graft.operators.Eval.mrr(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (x <- r) {
      val rk = x.getAs[Long]("first_hit_rank"); val rr = x.getAs[Long]("rr_ppm")
      if (rk == 0L) assert(rr === 0L) else assert(rr === 1000000L / rk)
    }
  }

  test("q344: distinct n-grams never exceed totals; ppm stays in range") {
    val r = graft.operators.TextAnalysis.intradocRepetition(spark, sfDir)
      .collect()
    assert(r.nonEmpty)
    for (x <- r; n <- Seq(2, 3)) {
      assert(x.getAs[Long](s"n${n}_distinct") <= x.getAs[Long](s"n${n}_grams"))
      val p = x.getAs[Long](s"dup${n}_ppm")
      assert(p >= 0L && p <= 1000000L)
    }
  }

  test("q345: the range join stays an equi-join and overlapping bands double-count") {
    val df = graft.operators.Relational.priceBandJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q345 range join degenerated to a nested loop")
    val r = df.collect()
    val total = Tables.orders(spark, sfDir).count()
    assert(r.map(_.getAs[Long]("n_orders")).sum > total,
      "overlap bands should multi-count orders")
  }

  test("q346: conditional log-probabilities are never positive") {
    val r = graft.operators.TextAnalysis.condBigramLm(spark, sfDir).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Double]("cond_lm_score") <= 0.0))
  }

  test("q347: packed context respects the budget and fills greedily in order") {
    val r = graft.operators.Pipeline.ragPack(spark, sfDir).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("cum_tokens") <= 512L))
    r.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(x =>
        (x.getAs[Long]("rank"), x.getAs[Long]("chunk_id")))
      val cums = ordered.map(_.getAs[Long]("cum_tokens"))
      assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
      assert(cums.head === ordered.head.getAs[Long]("n_toks"))
    }
  }

  test("q348: cluster PII accounting balances and clusters have >= 2 members") {
    val r = graft.operators.Privacy.clusterPiiPropagation(spark, sfDir)
      .collect()
    assert(r.nonEmpty)
    for (x <- r) {
      assert(x.getAs[Long]("n_docs") >= 2L)
      val fl = x.getAs[Long]("n_flagged")
      assert(x.getAs[Boolean]("cluster_flagged") === (fl > 0))
      assert(x.getAs[Long]("n_inherited") ===
        (if (fl > 0) x.getAs[Long]("n_docs") - fl else 0L))
    }
  }

  test("q349: removal axes are disjoint and the accounting identity holds") {
    val r = graft.operators.Pipeline.effectiveTokens(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (x <- r) {
      assert(x.getAs[Long]("n_exact_removed") + x.getAs[Long]("n_near_removed")
        + x.getAs[Long]("n_effective_docs") === x.getAs[Long]("n_docs"))
      assert(x.getAs[Long]("effective_tokens") <= x.getAs[Long]("n_tokens"))
      assert(x.getAs[Long]("yield_ppm") <= 1000000L)
    }
  }

  test("q350: estimator stays on the 8-hash lattice over threshold pairs") {
    val r = graft.operators.Dedup.minhashEstimatorAudit(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (x <- r) {
      val m = x.getAs[Long]("matches")
      assert(m >= 0L && m <= 8L)
      assert(x.getAs[Long]("est_ppm") === m * 125000L)
      assert(x.getAs[Long]("jaccard_ppm") >= 500000L)
    }
  }

  test("q351: subsampled pair table is a full bounded top-k in count order") {
    val r = graft.operators.TextAnalysis.skipgramPairs(spark, sfDir).collect()
    assert(r.length === 20)
    val ns = r.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    assert(ns.forall(_ >= 1L))
  }

  test("q352: sampling table is normalized, ordered, and on the integer grid") {
    val r = graft.operators.TextAnalysis.negativeSampling(spark, sfDir).collect()
    assert(r.length === 30)
    val cnts = r.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    var run = 0L
    for (x <- r) {
      assert(x.getAs[Long]("prob_ppm") <= 1000000L)
      run += x.getAs[Long]("prob_ppm")
      assert(x.getAs[Long]("cum_ppm") === run)
    }
    assert(run <= 1000000L)
  }

  test("q353: TV distance is a bounded ppm and bucket coverage is sane") {
    val r = graft.operators.Pipeline.sourceDivergence(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (x <- r) {
      val tv = x.getAs[Long]("tv_ppm")
      assert(tv >= 0L && tv <= 1000000L)
      val nb = x.getAs[Long]("n_buckets")
      assert(nb >= 1L && nb <= 4096L)
      assert(x.getAs[Long]("n_tokens") >= nb)
    }
  }

  test("q354: covering radii are nonincreasing and centers distinct") {
    val r = graft.operators.Similarity.kcenterCoreset(spark, sfDir)
      .orderBy(col("sel_order")).collect()
    assert(r.length === 4)
    assert(r.map(_.getAs[Long]("vec_id")).distinct.length === 4)
    assert(r(0).getAs[Long]("d2") === 0L)
    val radii = r.drop(1).map(_.getAs[Long]("d2"))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
    assert(radii.forall(_ >= 0L))
  }

  test("q355: matrix is square and the diagonal is every row's best LM") {
    val r = graft.operators.Pipeline.domainTransferMatrix(spark, sfDir).collect()
    val srcs = r.map(_.getAs[String]("src_corpus")).distinct
    assert(r.length === srcs.length * srcs.length)
    for (src <- srcs) {
      val row = r.filter(_.getAs[String]("src_corpus") == src)
      val best = row.filter(_.getAs[Boolean]("is_best_lm"))
      assert(best.length === 1)
      assert(best.head.getAs[String]("src_lm") === src,
        s"source $src not best modeled by itself")
      assert(row.forall(_.getAs[Long]("xent_e6") > 0L))
    }
  }

  test("q356: predictions are genuine non-edges with positive overlap") {
    val r = graft.operators.Relational.linkPrediction(spark, sfDir).collect()
    assert(r.length === 20)
    val edges = graft.operators.Relational.associationRules(spark, sfDir, k = Int.MaxValue)
      .select(col("antecedent"), col("consequent")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    for (x <- r) {
      val (a, b) = (x.getAs[Long]("part_a"), x.getAs[Long]("part_b"))
      assert(a < b)
      assert(!edges.contains((a, b)) && !edges.contains((b, a)))
      val c = x.getAs[Long]("common")
      assert(c >= 1L && c <= math.min(x.getAs[Long]("deg_v"), x.getAs[Long]("deg_u")))
      assert(x.getAs[Long]("jacc_ppm") <= 1000000L)
    }
  }

  test("q357: confidence dominates support and lift is consistent") {
    val r = graft.operators.Relational.associationRules(spark, sfDir).collect()
    assert(r.length === 20)
    for (x <- r) {
      assert(x.getAs[Long]("confidence_ppm") >= x.getAs[Long]("support_ppm"))
      assert(x.getAs[Long]("confidence_ppm") <= 1000000L)
      assert(x.getAs[Long]("n_both") >= 2L)
      assert(x.getAs[Long]("lift_micro") > 0L)
    }
    val confs = r.map(_.getAs[Long]("confidence_ppm"))
    assert(confs.zip(confs.tail).forall { case (a, b) => a >= b })
  }

  test("q358: matches are mutual, cross-source, and symmetric-unique") {
    val r = graft.operators.Dedup.reciprocalBestMatch(spark, sfDir).collect()
    assert(r.nonEmpty)
    val ids = r.flatMap(x =>
      Seq(x.getAs[Long]("d1"), x.getAs[Long]("d2")))
    // reciprocity: a doc can appear in at most ONE mutual pair
    assert(ids.distinct.length === ids.length)
    for (x <- r) {
      assert(x.getAs[Long]("d1") < x.getAs[Long]("d2"))
      assert(x.getAs[String]("src1") !== x.getAs[String]("src2"))
      assert(x.getAs[Long]("jacc_ppm") > 0L &&
        x.getAs[Long]("jacc_ppm") <= 1000000L)
    }
  }

  test("q359: every vector audited; majority bounded by neighbor count") {
    val r = graft.operators.Similarity.labelNoise(spark, sfDir).collect()
    assert(r.length === 500)
    for (x <- r) {
      val nm = x.getAs[Long]("n_majority")
      val nn = x.getAs[Long]("n_neighbors")
      assert(nm <= nn && nn <= 5L)
      if (x.getAs[Boolean]("flagged"))
        assert(x.getAs[Long]("majority_label") !== x.getAs[Long]("label"))
    }
    // the audit flags a nonzero pool on this corpus (the synthetic
    // labels are weakly geometric — a high flag rate is the data's
    // truth, not an operator property, so only nonzero is pinned)
    assert(r.exists(_.getAs[Boolean]("flagged")))
    assert(r.exists(x => !x.getAs[Boolean]("flagged")))
  }

  test("q360: estimator error tightens as k doubles (the 1/√k law)") {
    val r = graft.operators.Dedup.minhashKSweep(spark, sfDir)
      .orderBy(col("k")).collect()
    assert(r.map(_.getAs[Long]("k")).toSeq === Seq(2L, 4L, 8L))
    assert(r.map(_.getAs[Long]("n_pairs")).distinct.length === 1)
    // σ = √(j(1−j)/k) is per-pair non-increasing in k by construction;
    // the MEASURED max error is a small-sample statistic and is NOT
    // guaranteed monotone, so only the analytic column is pinned
    val sds = r.map(_.getAs[Long]("analytic_sd_ppm"))
    assert(sds.zip(sds.tail).forall { case (a, b) => a >= b })
    for (x <- r)
      assert(x.getAs[Long]("mean_abs_err_ppm") <=
        x.getAs[Long]("max_abs_err_ppm"))
  }

  test("q316: identity n_new + n_retained + n_resurrected = DAU holds on the corpus") {
    val ga = Events.growthAccounting(spark, sfDir)
    val dau = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000").as("day")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val bad = ga.join(dau, Seq("day"), "left")
      .filter(col("n_new") + col("n_retained") + col("n_resurrected") =!=
        coalesce(col("dau"), lit(0L)))
      .count()
    assert(bad === 0L)
  }
}
