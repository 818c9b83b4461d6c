package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe (dev main — not part of the driver contract): times
  * the dedup candidate-generation family on 1×/2×/4×/8× expansions
  * of the documents corpus to check the near-linear scaling SURVEY
  * §6 claims, on one machine. Each replica's tokens are prefixed
  * with a replica tag so vocabularies are disjoint: expansion adds
  * work linearly without adding cross-replica near-duplicates (which
  * would grow the OUTPUT quadratically and confound the timing).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.localSession()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def expand(k: Int): DataFrame =
      base.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(k - 1))).as("r"))
        .select((col("doc_id") + col("r") * 10000000L).as("doc_id"),
          expr("array_join(transform(split(text, ' '), x -> concat('g', r, '_', x)), ' ')")
            .as("text"))

    def time(df: => DataFrame): Double = {
      System.gc() // drain cross-measurement garbage (same as Bench)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // minhash-LSH banding over any (doc_id, text) frame — q22's plan
    def minhashOf(docs: DataFrame): DataFrame = {
      import graft.functions.TextFunctions.shingles3
      val withSig = docs
        .select(col("doc_id"), shingles3(col("text")).as("sh"))
        .withColumn("hs", org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
      val bandStructs = array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          md5(concat(col("hs")(2 * b), col("hs")(2 * b + 1)).cast("binary"))
            .as("band_key"))
      }: _*)
      val bands = withSig
        .select(col("doc_id"), explode(bandStructs).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
    }

    // q93's plan over any (doc_id, text) frame — the SHARED
    // Dedup.dupSpanOf core, so the probe measures exactly the gated
    // plan. Replica-disjoint expansion keeps per-shingle df constant,
    // so the output (and the honest cost) grows linearly.
    def dupSpanOf(docs: DataFrame): DataFrame =
      graft.operators.Dedup.dupSpanOf(docs)

    // SPARK_GRAFT_PROBE selects sections: "docs", "emb" (default both)
    val probeSel = sys.env.getOrElse("SPARK_GRAFT_PROBE", "docs,emb")
    if (probeSel.contains("docs")) for (k <- Seq(1, 2, 4, 8)) {
      val docs = expand(k).cache()
      val n = docs.count()
      // warm once at k=1 so codegen/JIT don't bill the first point
      if (k == 1) {
        time(graft.operators.Dedup.ngramJaccardOf(docs, 0.5))
        time(minhashOf(docs))
        time(dupSpanOf(docs))
      }
      val tJac = time(graft.operators.Dedup.ngramJaccardOf(docs, 0.5))
      val pairs = graft.operators.Dedup.ngramJaccardOf(docs, 0.5).count()
      val tMh = time(minhashOf(docs))
      val tDs = time(dupSpanOf(docs))
      println(f"""{"k":$k,"docs":$n,"jaccard_sec":$tJac%.2f,"pairs":$pairs,"minhash_sec":$tMh%.2f,"dupspan_sec":$tDs%.2f}""")
      docs.unpersist()
    }

    // ---- embedding candidate generators (q24 banding / q99 IVF) ----
    // Replica r keeps vec norms but flips component signs by a
    // deterministic per-(r, i) pattern: within-replica dot products
    // are EXACTLY preserved (s_i² = 1), cross-replica cosines are
    // sign-scrambled to ~0 — replica-disjoint expansion that adds
    // corpus linearly without adding cross-replica near-dups. The
    // probe contrasts FIXED knobs (the round-4 weakness: candidate
    // volume goes quadratic) with LOG-SCALED knobs (bandBits/subBits
    // += log2 k: volume stays near-linear) — both running the exact
    // gated cores (embedNearDupOf / ivfSelfJoinOf).
    import graft.operators.Similarity
    val baseEmb = Similarity.quantizedL(spark, sfDir)
    def expandEmb(k: Int): DataFrame =
      baseEmb.select(col("vec_id"), col("label"), col("v"),
          explode(sequence(lit(0), lit(k - 1))).as("r"))
        .select((col("vec_id") + col("r") * 10000000L).as("vec_id"), col("label"),
          expr("transform(v, (x, i) -> IF(pmod(hash(r, i), 2) = 0, x, -x))").as("v"))
        .withColumn("n2", org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))

    if (probeSel.contains("emb")) for (k <- Seq(1, 2, 4, 8)) {
      val emb = expandEmb(k).cache()
      val nv = emb.count()
      val log2k = 31 - Integer.numberOfLeadingZeros(k)
      val q = emb.select(col("vec_id"), col("v"), col("n2"))
      if (k == 1) { // warm codegen
        Similarity.embedCandidatesOf(q, 64, 8, 2).count()
        time(Similarity.embedNearDupOf(q, 64, 8, 2, 0.4))
      }
      val candFixed = Similarity.embedCandidatesOf(q, 64, 8, 2).count()
      val candScaled = Similarity.embedCandidatesOf(q, 64, 8, 2 + log2k).count()
      val tBandScaled = time(Similarity.embedNearDupOf(q, 64, 8, 2 + log2k, 0.4))
      val volFixed = Similarity.ivfAssignedOf(emb, 0, 64)._2
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n"))).head().getLong(0)
      val volScaled = Similarity.ivfAssignedOf(emb, 2 + log2k, 64)._2
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n"))).head().getLong(0)
      val tIvfScaled = time(Similarity.ivfSelfJoinOf(emb, 0.4, 2 + log2k, 64))
      println(f"""{"k":$k,"vecs":$nv,"band_cand_fixed":$candFixed,"band_cand_scaled":$candScaled,"band_scaled_sec":$tBandScaled%.2f,"ivf_vol_fixed":$volFixed,"ivf_vol_scaled":$volScaled,"ivf_scaled_sec":$tIvfScaled%.2f}""")
      emb.unpersist()
    }
    // ---- market-basket pairs (q141) ----
    // Replica-disjoint expansion of BOTH keys (orders and parts), so
    // baskets replicate without cross-replica pairs: candidate volume
    // and output must grow linearly — the bounded-basket Θ(orders·k²)
    // claim, measured.
    if (probeSel.contains("basket")) {
      val items0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      def expandB(k: Int): DataFrame =
        items0.select(col("l_orderkey"), col("l_partkey"),
            explode(sequence(lit(0), lit(k - 1))).as("r"))
          .select((col("l_orderkey") + col("r") * 1000000000L).as("l_orderkey"),
            (col("l_partkey") + col("r") * 10000000L).as("l_partkey"))
      for (k <- Seq(1, 2, 4, 8)) {
        val items = expandB(k).cache()
        val n = items.count()
        if (k == 1) time(graft.operators.Relational.basketPairsOf(items, 2L))
        val t = time(graft.operators.Relational.basketPairsOf(items, 2L))
        val pairs = graft.operators.Relational.basketPairsOf(items, 2L).count()
        println(f"""{"k":$k,"items":$n,"basket_sec":$t%.2f,"pairs":$pairs}""")
        items.unpersist()
      }
    }

    // ---- wedge-join link prediction (q356) ----
    // Replica-disjoint expansion of the co-purchase items (same
    // construction as the basket section): edges, degrees, and the
    // Σ deg² wedge budget all grow k× with NO cross-replica wedges,
    // so the claimed bound predicts near-linear wall time. The probe
    // prints the measured time next to the budget so the prediction
    // is checkable, not asserted.
    if (probeSel.contains("wedge")) {
      val items0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      def expandW(k: Int): DataFrame =
        items0.select(col("l_orderkey"), col("l_partkey"),
            explode(sequence(lit(0), lit(k - 1))).as("r"))
          .select((col("l_orderkey") + col("r") * 1000000000L).as("l_orderkey"),
            (col("l_partkey") + col("r") * 10000000L).as("l_partkey"))
      for (k <- Seq(1, 2, 4, 8)) {
        val items = expandW(k).cache()
        val n = items.count()
        if (k == 1) time(graft.operators.Relational.linkPredictionOf(items, 2L, 20))
        val t = time(graft.operators.Relational.linkPredictionOf(items, 2L, 20))
        // the claimed cost bound: Σ deg² over the q141 edge graph
        val edges = items.as("a")
          .join(items.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("d1"), col("b.l_partkey").as("d2"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2L)
          .select(col("d1"), col("d2")).cache()
        val nEdges = edges.count()
        val budget = edges.select(col("d1").as("v"))
          .unionAll(edges.select(col("d2").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
          .agg(sum(col("deg") * col("deg"))).collect()(0).getLong(0)
        println(f"""{"k":$k,"items":$n,"edges":$nEdges,"wedge_budget":$budget,"linkpred_sec":$t%.2f}""")
        edges.unpersist(); items.unpersist()
      }
    }

    // ---- incremental view maintenance (q126) ----
    // Base grows k× (replica-disjoint users: user_id + r·10⁷ keeps
    // the per-user grain intact); the DELTA stays FIXED (replica 0's
    // post-cutoff tail). The full recompute must re-scan the whole
    // k×-base every increment; the merge reads the persisted
    // partial-agg snapshot + the fixed delta — the measured gap IS
    // the IVM argument (at 100 TB "recompute" is the unaffordable
    // axis; merge cost is pinned to |snapshot| + |delta|).
    if (probeSel.contains("ivm")) {
      import graft.operators.Incremental
      val cutoff = Incremental.DefaultCutoffMicros
      val baseEv = Tables.events(spark, sfDir)
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      def expandEv(k: Int): DataFrame =
        baseEv.select(col("ts"), col("user_id"), col("event_type"), col("value"),
            explode(sequence(lit(0), lit(k - 1))).as("r"))
          .select(col("ts"), (col("user_id") + col("r") * 10000000L).as("user_id"),
            col("event_type"), col("value"), col("r"))
      for (k <- Seq(1, 2, 4, 8)) {
        val ev = expandEv(k).cache()
        val n = ev.count()
        val baseSide = ev.filter(col("r") > 0 || col("ts") < cutoff)
        val delta = ev.filter(col("r") === 0 && col("ts") >= cutoff)
        val snap = s"${sys.props("java.io.tmpdir")}/graft-probe-ivm-$k"
        Incremental.partialAgg(baseSide).write.mode("overwrite").parquet(snap)
        if (k == 1) { // warm codegen
          time(Incremental.partialAgg(ev))
          time(Incremental.mergeDelta(spark.read.parquet(snap), delta))
        }
        val tRecompute = time(Incremental.partialAgg(ev))
        val tMerge = time(Incremental.mergeDelta(spark.read.parquet(snap),
          delta))
        val nDelta = delta.count()
        println(f"""{"k":$k,"events":$n,"delta":$nDelta,"recompute_sec":$tRecompute%.2f,"merge_sec":$tMerge%.2f}""")
        ev.unpersist()
      }
    }

    // ---- incremental connected components (q181) ----
    // Same replica-disjoint expansion as "docs" (prefixed tokens ⇒
    // no cross-replica pairs); the base grows k×, the DELTA stays
    // FIXED (replica 0's doc_id%4==3 slice). Full recompute re-bands
    // and re-propagates the k×-corpus per increment; the probe reads
    // the persisted index + the fixed delta — its cost must track
    // |delta|, not |corpus| (the super-node graph never exceeds
    // |delta| + touched components). The measured gap is q181's
    // 100 TB argument, the pair-graph twin of the IVM probe above.
    if (probeSel.contains("inccc")) {
      import graft.operators.Dedup
      for (k <- Seq(1, 2, 4, 8)) {
        val docs = expand(k).cache()
        val n = docs.count()
        val baseSide = docs.filter(col("doc_id") >= 10000000L || col("doc_id") % 4 =!= 3)
        val delta = docs.filter(col("doc_id") < 10000000L && col("doc_id") % 4 === 3)
        val stage = s"${sys.props("java.io.tmpdir")}/graft-probe-inccc-$k"
        Dedup.writeComponentIndex(spark, baseSide, stage)
        def fullRecompute() = docs.select(col("doc_id"))
          .join(Dedup.components(minhashOf(docs)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
        if (k == 1) { // warm codegen
          time(fullRecompute())
          time(Dedup.probeComponentIndex(spark, stage, delta))
        }
        val tFull = time(fullRecompute())
        val tProbe = time(Dedup.probeComponentIndex(spark, stage, delta))
        val nDelta = delta.count()
        println(f"""{"k":$k,"docs":$n,"delta":$nDelta,"full_sec":$tFull%.2f,"probe_sec":$tProbe%.2f}""")
        docs.unpersist()
      }
    }

    // ---- multi-source BFS (q318) ----
    // Same replica-disjoint doc expansion (prefixed tokens ⇒ no
    // cross-replica edges): each replica carries its own seeds
    // (doc_id % 10 survives the +r·10⁷ offset), so the frontier,
    // settled set, and per-hop join volume all grow k× — wall time
    // must track that linearly; a super-linear curve would mean the
    // per-hop join degenerated (the level-synchronous claim,
    // measured).
    if (probeSel.contains("bfs")) {
      for (k <- Seq(1, 2, 4, 8)) {
        val docs = expand(k).cache()
        docs.count()
        val edges = minhashOf(docs).cache()
        val ne = edges.count()
        if (k == 1) time(graft.operators.Dedup.bfsHopsOf(edges, 4, 10L))
        val t = time(graft.operators.Dedup.bfsHopsOf(edges, 4, 10L))
        val settled = graft.operators.Dedup.bfsHopsOf(edges, 4, 10L).count()
        println(f"""{"k":$k,"edges":$ne,"bfs_sec":$t%.2f,"settled":$settled}""")
        edges.unpersist(); docs.unpersist()
      }
    }

    // ---- histogram-pass operators (q151 range buckets / q154 MAD) ----
    // Row-replica expansion (distribution unchanged; q154's sources
    // suffixed per replica so GROUP count also grows k×): q151's
    // boundaries must stay IDENTICAL while the corpus grows — the
    // window only ever sees the constant-size bin table — and both
    // operators' wall time must stay near-linear (they are pure
    // scan+histogram plans; a hidden global sort would show as
    // super-linear growth and a rangepartitioning exchange).
    if (probeSel.contains("hist")) {
      import graft.operators.{Bucketing, Sketch}
      val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("source"), col("n_chars"))
      def expandD(k: Int): DataFrame =
        d0.select(col("source"), col("n_chars"),
            explode(sequence(lit(0), lit(k - 1))).as("r"))
          .select(concat(col("source"), lit("_"), col("r")).as("source"),
            col("n_chars"))
      // documents are small rows — push to 256× (1.3M rows) so the
      // scan actually dominates the fixed job overhead
      for (k <- Seq(1, 16, 64, 256)) {
        val docs = expandD(k).cache()
        val n = docs.count()
        val gv = docs.select(col("source").as("g"), col("n_chars").as("v"))
        if (k == 1) { // warm codegen
          time(Bucketing.rangeBucketsOf(spark, docs, 32, 8))
          time(Sketch.robustOutliersOf(gv))
        }
        val tRange = time(Bucketing.rangeBucketsOf(spark, docs, 32, 8))
        val nBounds = Bucketing.rangeBucketsOf(spark, docs, 32, 8).count()
        val tMad = time(Sketch.robustOutliersOf(gv))
        println(f"""{"k":$k,"docs":$n,"range_sec":$tRange%.2f,"buckets":$nBounds,"mad_sec":$tMad%.2f}""")
        docs.unpersist()
      }
    }
    // ---- streaming dedup-index batch (q326) ----
    // Base index grows k× (replica-disjoint expansion), the incoming
    // MICRO-BATCH stays fixed (replica 0's doc_id%4==3 slice). One
    // dedupIndexBatch = banding the batch + probing the persisted
    // index + appending. The banding/append work is Θ(|batch|); the
    // probe joins stream the index side, so any growth in the curve
    // is the index SCAN — locally that scan is the cost of not
    // bucketing; at 100 TB the index is bucketBy(h / band_key) and
    // the probe becomes bucket-local (the q111 layout note). The
    // probe measures the scan slope so the bucketing decision rides
    // on a number, not an assumption.
    // q366's simhash banding: candidate volume within the fixed
    // 4 x 2^16 bucket grid. Replica-disjoint vocab gives distinct
    // fingerprints, so this measures how the WWW'07 exact-recall
    // layout's bucket population (and the verify volume it implies)
    // grows with the corpus — the number that says when to shard the
    // band join or move to permuted-table probing at 100 TB.
    if (probeSel.contains("simhash")) for (k <- Seq(1, 2, 4, 8)) {
      import graft.operators.Dedup
      val docs = expand(k).cache()
      val n = docs.count()
      def candidates(d: DataFrame): DataFrame = {
        val sh = Dedup.simhashOf(d)
        val bands = sh.select(col("doc_id"),
            explode(expr("transform(sequence(0, 3), b -> " +
              "struct(b AS band, substring(simhash, b * 4 + 1, 4) AS bk))"))
              .as("x"))
          .select(col("doc_id"), col("x.band"), col("x.bk"))
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
      }
      if (k == 1) time(candidates(docs)) // warm codegen/JIT
      System.gc()
      val t0 = System.nanoTime()
      val nc = candidates(docs).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"""{"k":$k,"docs":$n,"cands":$nc,"cand_sec":$t%.2f}""")
      docs.unpersist()
    }

    // ---- q407 dotplot fan-out (capped vs uncapped) ----
    // A constructed boilerplate-heavy pair: two docs, each k×256
    // tokens long, where every 16-token block OPENS with the same
    // 4-token boilerplate phrase (so the two boilerplate 3-grams
    // recur k×16 times per doc — the shape LSH candidates actually
    // have). Cells per pair are
    // Σ_g p_g·q_g: uncapped that term grows QUADRATICALLY in doc
    // length for the boilerplate grams; with the per-doc per-gram
    // occurrence cap (maxOcc = 8, the q407 knob) it is bounded by
    // maxOcc·min(|d1|,|d2|) — the probe prints both counts and the
    // capped runtime so the knob's trade is a number, not a claim.
    if (probeSel.contains("dotplot")) {
      import graft.operators.Dedup
      for (k <- Seq(1, 2, 4, 8)) {
        val len = k * 256
        val mk = (d: Long) => (0 until len).map { i =>
          if (i % 16 < 4) s"b${i % 16}" else s"w${d}_$i"
        }.mkString(" ")
        val pair = spark.createDataFrame(Seq(
          (1L, mk(1L)), (2L, mk(2L)))).toDF("doc_id", "text")
        def cells(maxOcc: Int): Long = {
          // the pre-island cell count of q407's plan (diag cells
          // after the cap) — replicated inline so the probe prices
          // the fan-out itself, not the downstream window
          import org.apache.spark.sql.expressions.Window
          val grams = pair
            .select(col("doc_id"),
              posexplode(expr("transform(sequence(0, " +
                "size(split(text, ' ')) - 3), i -> concat_ws(' ', " +
                "element_at(split(text, ' '), i + 1), " +
                "element_at(split(text, ' '), i + 2), " +
                "element_at(split(text, ' '), i + 3)))")))
            .toDF("doc_id", "pos", "g")
            .withColumn("occ", row_number().over(Window
              .partitionBy(col("doc_id"), col("g"))
              .orderBy(col("pos"))))
            .filter(col("occ") <= maxOcc).drop("occ")
          grams.filter(col("doc_id") === 1L).as("a")
            .join(grams.filter(col("doc_id") === 2L).as("b"),
              col("a.g") === col("b.g"))
            .count()
        }
        val uncapped = cells(Int.MaxValue)
        val capped = cells(8)
        if (k == 1) time(Dedup.longestSharedSpanOf(pair, 3))
        System.gc()
        val t0 = System.nanoTime()
        Dedup.longestSharedSpanOf(pair, 3)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"""{"k":$k,"doc_tokens":$len,"cells_uncapped":$uncapped,"cells_capped":$capped,"span_capped_sec":$t%.2f}""")
      }
    }

    if (probeSel.contains("streamdedup")) {
      import graft.operators.Dedup
      for (k <- Seq(1, 2, 4, 8)) {
        val docs = expand(k).cache()
        val n = docs.count()
        val baseSide = docs.filter(col("doc_id") >= 10000000L ||
          col("doc_id") % 4 =!= 3)
        val batch = docs.filter(col("doc_id") < 10000000L &&
          col("doc_id") % 4 === 3).cache()
        val nb = batch.count()
        val stage = s"${sys.props("java.io.tmpdir")}/graft-probe-sdedup-$k"
        Dedup.initDedupIndex(spark, stage, baseSide)
        if (k == 1) { // warm codegen/JIT on a throwaway state root
          val warm = s"$stage-warm"
          Dedup.initDedupIndex(spark, warm, baseSide)
          Dedup.dedupIndexBatch(spark, warm, batch, 0L, compactEvery = 0)
        }
        System.gc()
        val t0 = System.nanoTime()
        Dedup.dedupIndexBatch(spark, stage, batch, 0L, compactEvery = 0)
        val t = (System.nanoTime() - t0) / 1e9
        println(f"""{"k":$k,"docs":$n,"batch":$nb,"batch_sec":$t%.2f}""")
        batch.unpersist(); docs.unpersist()
      }
    }
    // ---- q412 LSM-tier compaction IO (round-16, VERDICT Next #3):
    // price the round-15 tiering claim — rewrite bytes per cadence
    // scale with the DELTA (O(delta·log tiers)), not the index. The
    // base gram index is bulk-loaded from k×-expanded corpora (so
    // base bytes grow ~linearly in k) while the streamed delta is
    // HELD FIXED (replica-0 odd docs only); 6 batches at cadence 3
    // drive two rolls. The probe prints the bytes each roll actually
    // published (the tier dirs it wrote) next to the base bytes the
    // OLD design would have rewritten per cadence — the flat-vs-
    // linear pair is the q407 precedent, stated as numbers.
    if (probeSel.contains("lsm")) {
      import graft.operators.Dedup
      import graft.operators.StreamingOps.storeBaseDir
      def dirBytes(d: Option[String]): Long = d.map { dir =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally walk.close()
      }.getOrElse(0L)
      def tierBytes(root: String): Long =
        (0 until 16).map(t => dirBytes(storeBaseDir(root, s"gramagg_t$t"))).sum
      for (k <- Seq(1, 2, 4, 8)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-lsm$k").toString
        val docs = expand(k).cache()
        docs.count()
        Dedup.initExactSubstrIndex(spark, root,
          docs.filter(col("doc_id") % 2 === 0), 5)
        val baseBytes = dirBytes(storeBaseDir(root, "gramagg"))
        // fixed-size delta: replica-0 odd docs, independent of k
        val delta = docs.filter(col("doc_id") < 10000000L &&
          col("doc_id") % 2 === 1).cache()
        val nd = delta.count()
        var rewritten = 0L
        var rollSec = 0.0
        for (b <- 0 until 6) {
          val t0 = System.nanoTime()
          // slice on (doc_id div 2) % 6: the delta holds ONLY odd
          // doc_ids, so doc_id % 6 === b leaves batches 0/2/4 empty
          // (round-16 ADVICE) — halved ids cover every residue
          Dedup.exactSubstrIndexBatch(spark, root,
            delta.filter(expr("(doc_id div 2) % 6") === b), b.toLong, 5,
            compactEvery = 3)
          val t = (System.nanoTime() - t0) / 1e9
          if ((b + 1) % 3 == 0) { // a roll just ran
            // the roll dropped every consumed run and published ONE
            // tier, so the live tier bytes right now ARE that roll's
            // published IO
            rewritten += tierBytes(root)
            rollSec += t
          }
        }
        val baseAfter = dirBytes(storeBaseDir(root, "gramagg"))
        println(f"""{"k":$k,"base_bytes":$baseBytes,"delta_docs":$nd,"roll_published_bytes":$rewritten,"roll_sec":$rollSec%.2f,"base_untouched":${baseBytes == baseAfter},"old_design_rewrite_per_cadence_bytes":$baseBytes}""")
        delta.unpersist(); docs.unpersist()
      }
    }
    // ---- q412 LSM READ side (round-17, VERDICT Next #2): the write
    // side is byte-proven O(delta) above; this prices the READ —
    // ownership-collapse time vs OCCUPIED TIER COUNT at ~constant
    // total tier bytes. k tier runs each hold 1/k of the SAME fixed
    // delta's per-batch gram aggregate, so only the parquet-dir
    // fan-in grows with k: a flat read_sec column is the
    // "read fan-in is O(log #batches) dirs, and dirs are cheap"
    // claim stated as numbers. append_sec (one fixed batch,
    // compactEvery=0) checks the append path never scans tiers;
    // roll_sec grows with the carry prefix it merges BY DESIGN (the
    // amortized O(delta·log) trade the write probe already priced).
    if (probeSel.contains("lsmread")) {
      import graft.operators.{Dedup, StreamingOps}
      val docs = expand(1).cache(); docs.count()
      val delta = docs.filter(col("doc_id") < 10000000L &&
        col("doc_id") % 2 === 1).cache()
      val nd = delta.count()
      val batch1 = delta.filter(expr("(doc_id div 2) % 16") === 0)
        .cache()
      batch1.count()
      def dirBytes2(d: Option[String]): Long = d.map { dir =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally walk.close()
      }.getOrElse(0L)
      for (k <- Seq(1, 2, 4, 8)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-lsmread$k").toString
        Dedup.initExactSubstrIndex(spark, root,
          docs.filter(col("doc_id") % 2 === 0), 5)
        for (t <- 0 until k)
          StreamingOps.publishStore(spark, root, s"gramagg_t$t",
            Dedup.gramAggOf(
              delta.filter(expr(s"(doc_id div 2) % $k") === t), 5)
              .withColumn("batch_id", lit(t.toLong)), Seq.empty)
        val tb = (0 until k).map(t => dirBytes2(
          StreamingOps.storeBaseDir(root, s"gramagg_t$t"))).sum
        if (k == 1) { // warm codegen/JIT on a throwaway root
          val warm = java.nio.file.Files
            .createTempDirectory("graft-probe-lsmread-warm").toString
          Dedup.initExactSubstrIndex(spark, warm,
            docs.filter(col("doc_id") % 2 === 0), 5)
          Dedup.exactSubstrIndexBatch(spark, warm, batch1, 100L, 5,
            compactEvery = 0)
          Dedup.readGramOwnership(spark, warm)
            .write.format("noop").mode("overwrite").save()
        }
        System.gc()
        var t0 = System.nanoTime()
        Dedup.exactSubstrIndexBatch(spark, root, batch1, 100L, 5,
          compactEvery = 0)
        val appendSec = (System.nanoTime() - t0) / 1e9
        System.gc()
        t0 = System.nanoTime()
        Dedup.readGramOwnership(spark, root)
          .write.format("noop").mode("overwrite").save()
        val readSec = (System.nanoTime() - t0) / 1e9
        System.gc()
        t0 = System.nanoTime()
        Dedup.lsmRollGramIndex(spark, root)
        val rollSec = (System.nanoTime() - t0) / 1e9
        println(f"""{"k_tiers":$k,"delta_docs":$nd,"tier_bytes":$tb,"append_sec":$appendSec%.2f,"read_sec":$readSec%.2f,"roll_sec":$rollSec%.2f}""")
      }
      batch1.unpersist(); delta.unpersist(); docs.unpersist()
    }
    spark.stop()
  }
}
