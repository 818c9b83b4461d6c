package graft

import org.apache.spark.sql.functions._

/** Round-13 operators: ExactSubstr maximal-span semantics (the
  * constructed 2k-block case and the q375 reconciliation the round
  * verdict prescribed). */
class Round13Spec extends SparkSpec {

  test("q384: two docs sharing a 2k-token block cut exactly ONE span") {
    import spark.implicits._
    val k = 5
    // doc 1 owns the block; doc 2 embeds the same 2k tokens between
    // unique prefix/suffix tokens — ExactSubstr must merge the k+1
    // overlapping duplicated k-gram anchors into ONE maximal span of
    // exactly 2k cut tokens in doc 2 and cut NOTHING in doc 1
    val block = (0 until 2 * k).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $block u3"),
      (2L, s"v1 v2 v3 $block v4 v5")).toDF("doc_id", "text")
    val r = graft.operators.Dedup.exactSubstrOf(docs, k)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_cut_spans") === 0L, "owner keeps all")
    assert(r(1L).getAs[Long]("n_cut_tokens") === 0L)
    assert(r(2L).getAs[Long]("n_cut_spans") === 1L,
      "a shared 2k block must merge into one maximal span")
    assert(r(2L).getAs[Long]("n_cut_tokens") === (2 * k).toLong)
    assert(r(2L).getAs[Long]("n_cut_occ") === (k + 1).toLong,
      "2k-token block holds k+1 overlapping k-gram anchors")
  }

  test("q384: disjoint shared blocks stay separate maximal spans") {
    import spark.implicits._
    val k = 3
    val a = "x1 x2 x3"
    val b = "y1 y2 y3"
    val docs = Seq(
      (1L, s"$a p1 p2 $b"),
      (2L, s"q1 $a q2 q3 q4 $b q5")).toDF("doc_id", "text")
    val r = graft.operators.Dedup.exactSubstrOf(docs, k)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(2L).getAs[Long]("n_cut_spans") === 2L)
    assert(r(2L).getAs[Long]("n_cut_tokens") === 6L)
  }

  // ---- q385: streaming IVF maintenance — the spec drives batches
  // DIRECTLY through ivfIndexBatch (the factored seam) and restarts
  // the real streaming query mid-stream on its checkpoint.

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def batchIvfWant(): Set[String] = {
    val embQ = graft.operators.Similarity.quantizedL(spark, sfDir)
    canon(graft.operators.Similarity.assignTo(
        embQ.filter(col("vec_id") % 2 =!= 0)
          .select(col("vec_id"), col("v"), col("n2")),
        graft.operators.Similarity.centroidsOf(
          embQ.filter(col("vec_id") % 2 === 0)), 0, 64)
      .select(col("vec_id"), col("cell").cast("long").as("cell")))
  }

  test("q385: batch replay + mid-stream compaction leave postings exact") {
    val stage = scratchDir("spec_q385_replay").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val embQ = graft.operators.Similarity.quantizedL(spark, sfDir)
    graft.operators.Similarity.initIvfIndex(spark, stateRoot,
      embQ.filter(col("vec_id") % 2 === 0))
    val delta = embQ.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("v")).localCheckpoint()
    val parts = Seq(
      delta.filter(col("vec_id") % 6 === 1),
      delta.filter(col("vec_id") % 6 === 3),
      delta.filter(col("vec_id") % 6 === 5))
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      parts(0), 0L, compactEvery = 2)
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      parts(1), 1L, compactEvery = 2)
    // crash window: checkpoint replay re-delivers batch 1 verbatim
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      parts(1), 1L, compactEvery = 2)
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      parts(2), 2L, compactEvery = 2)
    val got = canon(graft.operators.StreamingOps
      .readStoreAll(spark, stateRoot, "postings").get
      .filter(!col("is_base"))
      .select(col("vec_id"), col("cell")).distinct())
    assert(got === batchIvfWant(),
      "replayed stream postings differ from batch assignment")
  }

  test("q385: restart mid-stream — second AvailableNow run on the same checkpoint") {
    val stage = scratchDir("spec_q385_restart").toString
    val stateRoot = s"$stage/state"
    val inDir = s"$stage/in"; val ckpt = s"$stage/ckpt"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val embQ = graft.operators.Similarity.quantizedL(spark, sfDir)
    graft.operators.Similarity.initIvfIndex(spark, stateRoot,
      embQ.filter(col("vec_id") % 2 === 0))
    val delta = embQ.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("v"))
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(LongType))))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
              df, id, compactEvery = 2)
            ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // phase 1: only half the stream exists; drain and TERMINATE
    delta.filter(col("vec_id") % 4 === 1)
      .repartitionByRange(2, col("vec_id")).toJSON
      .write.mode("overwrite").text(inDir)
    drain()
    // phase 2: the rest lands; a NEW query on the SAME checkpoint
    // picks up exactly the unseen files
    delta.filter(col("vec_id") % 4 === 3)
      .repartitionByRange(2, col("vec_id")).toJSON
      .write.mode("append").text(inDir)
    drain()
    val got = canon(graft.operators.StreamingOps
      .readStoreAll(spark, stateRoot, "postings").get
      .filter(!col("is_base"))
      .select(col("vec_id"), col("cell")).distinct())
    assert(got === batchIvfWant(),
      "restarted stream postings differ from batch assignment")
  }

  test("q386: JPEG round trip — exact metadata, tight mean tolerance, stable double-decode") {
    val r = graft.operators.Multimodal.jpegStats(spark, sfDir).collect()
    assert(r.nonEmpty)
    var maxDev = 0L
    for (row <- r) {
      val id = row.getAs[Long]("doc_id")
      assert(row.getAs[Long]("width") === id % 13 + 4, "width is lossless")
      assert(row.getAs[Long]("height") === id % 7 + 3, "height is lossless")
      assert(row.getAs[Long]("n_components") === 3L)
      assert(row.getAs[Boolean]("decode_stable"),
        s"double-decode of doc $id not bit-identical")
      maxDev = math.max(maxDev, math.abs(row.getAs[Long]("mean_dec_milli")
        - row.getAs[Long]("mean_formula_milli")))
    }
    // HARD assertion = the shipped gate tolerance of 8000 milli
    // (8 gray levels). The tighter 5000 bound below is an
    // ENVIRONMENT PIN of THIS JDK's codec (observed 3694 milli at
    // sf0.001 on JDK 17 ImageIO — the tiny 4-16px formula rasters
    // are JPEG's worst case, whole images inside one padded DCT
    // block): a JDK upgrade that changes the encoder's quantization
    // tables surfaces as an info() drift note, not a suite failure —
    // only a breach of the product gate fails.
    assert(maxDev <= 8000L,
      s"JPEG mean-gray deviation $maxDev milli breaches the GATE bound")
    if (maxDev > 5000L)
      info(s"ENV-PIN drift: JPEG mean-gray deviation $maxDev milli " +
        "exceeds the JDK-17 pin of 5000 (gate bound 8000 still holds " +
        "— likely a JDK codec change, not a code regression)")
    else info(s"JPEG mean-gray deviation observed: $maxDev milli " +
      "(env pin 5000, gate 8000)")
  }

  // ---- q364/q369: mid-stream restart on the checkpoint (the
  // QuotaSpec pattern the round-12 verdict asked for) — kill the
  // AvailableNow query after half the WAL, land the rest, restart
  // on the SAME checkpoint, and the final state must be what an
  // uninterrupted run computes (PSI histograms are order-free so
  // equality is exact; the MG sketch asserts its self-carried
  // theorems plus exact arrival accounting).
  //
  // The graft-wal source's offset is a count over the lex-sorted
  // segment list (real WAL semantics: later segments sort later), so
  // the phased append must land files whose names sort AFTER the
  // already-consumed ones — this helper stages them as seg-NNNNN.

  private def stageWalSegments(df: org.apache.spark.sql.DataFrame,
      walDir: String, parts: Int, startIdx: Int): Unit = {
    val tmp = scratchDir("spec_q13_walstage").toString
    df.repartitionByRange(parts, col("seq")).toJSON
      .write.mode("overwrite").text(tmp)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(walDir))
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(walDir, f"seg-${startIdx + i}%05d.jsonl"))
    }
  }

  test("q364: restart mid-stream — streamed PSI histogram equals batch") {
    val stage = scratchDir("spec_q364_restart").toString
    val walDir = s"$stage/wal"; val ckpt = s"$stage/ckpt"
    val out = s"$stage/out"
    val nb = 12
    val wal = graft.sources.WalSource.eventsAsWal(spark, sfDir)
      .localCheckpoint()
    val sideCol = expr("cast(rowkey as bigint) % 2")
    val binCol = least(expr(
      "cast(round(cast(cells[0].value as double) * 100) as bigint)" +
        " div 2000"), lit(nb - 1L))
    def drain(): Unit = {
      val q = graft.sources.WalSource.streamV2(spark, walDir, 2)
        .select(sideCol.as("side"), binCol.as("bin"))
        .groupBy(col("side"), col("bin")).agg(count(lit(1)).as("n"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch", lit(id)).write.mode("append").parquet(out)
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stageWalSegments(wal.filter(col("seq") % 2 === 0), walDir, 3, 0)
    drain()
    stageWalSegments(wal.filter(col("seq") % 2 === 1), walDir, 3, 3)
    drain()
    val got = canon(spark.read.parquet(out)
      .groupBy(col("side"), col("bin"))
      .agg(max_by(col("n"), col("batch")).as("n")))
    val want = canon(wal.select(sideCol.as("side"), binCol.as("bin"))
      .groupBy(col("side"), col("bin")).agg(count(lit(1)).as("n")))
    assert(got === want, "restarted PSI histogram differs from batch")
  }

  test("q369: restart mid-stream — MG state keeps its theorems and exact n") {
    import graft.functions.{MgSketch, MisraGriesAgg}
    val stage = scratchDir("spec_q369_restart").toString
    val walDir = s"$stage/wal"; val ckpt = s"$stage/ckpt"
    val out = s"$stage/out"
    val k = 32
    val wal = graft.sources.WalSource.eventsAsWal(spark, sfDir)
      .localCheckpoint()
    val mg = udaf(new MisraGriesAgg(k))
    def drain(): Unit = {
      val q = graft.sources.WalSource.streamV2(spark, walDir, 2)
        .select(col("cells")(0)("qualifier").as("qualifier"),
          expr("cast(round(cast(cells[0].value as double) * 100) as bigint)")
            .as("c"))
        .groupBy(col("qualifier")).agg(mg(col("c")).as("sk"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch", lit(id)).write.mode("append").parquet(out)
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stageWalSegments(wal.filter(col("seq") % 2 === 0), walDir, 3, 0)
    drain()
    stageWalSegments(wal.filter(col("seq") % 2 === 1), walDir, 3, 3)
    drain()
    val fin = spark.read.parquet(out)
      .groupBy(col("qualifier"))
      .agg(max_by(col("sk"), col("batch")).as("sk"))
      .collect()
      .map { r =>
        val skr = r.getStruct(r.fieldIndex("sk"))
        r.getAs[String]("qualifier") -> MgSketch(
          skr.getSeq[Long](skr.fieldIndex("keys")).toVector,
          skr.getSeq[Long](skr.fieldIndex("counts")).toVector,
          skr.getAs[Long]("d"), skr.getAs[Long]("n"))
      }.toMap
    val exact = wal
      .select(col("cells")(0)("qualifier").as("qualifier"),
        expr("cast(round(cast(cells[0].value as double) * 100) as bigint)")
          .as("c"))
      .groupBy(col("qualifier"), col("c")).agg(count(lit(1)).as("cnt"))
      .collect()
    val perQ = exact.groupBy(_.getAs[String]("qualifier"))
    assert(perQ.keySet === fin.keySet)
    for ((q, rows) <- perQ) {
      val sk = fin(q)
      // restart must neither lose nor double-count an arrival: the
      // sketch's n is the EXACT number of values that streamed
      assert(sk.n === rows.map(_.getAs[Long]("cnt")).sum,
        s"arrival count drifted across the restart for $q")
      assert(sk.d <= sk.n / (k + 1))
      for (r <- rows) {
        val c = r.getAs[Long]("c"); val cnt = r.getAs[Long]("cnt")
        val est = sk.estimate(c)
        assert(est <= cnt, s"overestimate for ($q, $c)")
        assert(cnt <= est + sk.d, s"deficit bound broken for ($q, $c)")
        if (cnt > sk.d) assert(est > 0L, s"heavy hitter ($q, $c) lost")
      }
    }
  }

  test("q387: trigram KN scores are log-probs; unseen accounting nests") {
    val r = graft.operators.TextAnalysis.knTrigramLm(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (row <- r) {
      assert(row.getAs[Long]("kn3_score_micro") <= 0L,
        "log-probabilities cannot be positive")
      assert(row.getAs[Long]("n_unseen_tri") +
        row.getAs[Long]("n_unseen_ctx") <= row.getAs[Long]("n_trigrams"),
        "unseen classes are disjoint subsets of the scored trigrams")
    }
  }

  test("q392: cross-codec bucketed dHash — observed hamming pinned under the gate bound") {
    val r = graft.operators.Multimodal.codecDhashStats(spark, sfDir)
      .collect()
    assert(r.nonEmpty)
    val maxHam = r.map(_.getAs[Long]("hamming")).max
    // HARD assertion = the shipped gate bound of 24. The tighter 20
    // is an ENVIRONMENT PIN of this JDK's JPEG codec (measured 18 at
    // sf0.001 on JDK 17): drift past the pin is an info() note so a
    // JDK bump is distinguishable from a code regression.
    assert(maxHam <= 24L,
      s"bucketed-dHash cross-codec hamming $maxHam breaches the GATE bound")
    if (maxHam > 20L)
      info(s"ENV-PIN drift: cross-codec hamming $maxHam exceeds the " +
        "JDK-17 pin of 20 (gate bound 24 still holds)")
    else info(s"cross-codec hamming observed: $maxHam (env pin 20, gate 24)")
  }

  test("q393: water-filling invariants — exact budget, caps respected, fair spill") {
    val r = graft.operators.Pipeline.unimaxAllocation(spark, sfDir).collect()
    assert(r.nonEmpty)
    val totalSupply = r.map(_.getAs[Long]("supply")).sum
    val budget = totalSupply / 2
    assert(r.map(_.getAs[Long]("alloc")).sum === budget,
      "allocations must sum to the budget exactly")
    for (row <- r)
      assert(row.getAs[Long]("alloc") <= row.getAs[Long]("cap"),
        s"${row.getAs[String]("source")} allocated past its epoch cap")
    // uniform spill: every UNCAPPED source sits within 1 token of
    // the waterline (the div remainder)
    val uncapped = r.filter(x => x.getAs[Long]("alloc") < x.getAs[Long]("cap"))
      .map(_.getAs[Long]("alloc"))
    if (uncapped.length > 1)
      assert(uncapped.max - uncapped.min <= 1L,
        "uncapped sources must share the waterline")
  }

  test("q401: restart mid-stream — streamed NB confusion equals batch q388") {
    val stage = scratchDir("spec_q401_restart").toString
    val stateRoot = s"$stage/state"
    val inDir = s"$stage/in"; val ckpt = s"$stage/ckpt"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.operators.TextAnalysis.publishNbModel(spark, stateRoot,
      docs.filter(col("doc_id") % 2 === 0))
    val delta = docs.filter(col("doc_id") % 2 =!= 0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.TextAnalysis
            .nbClassifyBatch(spark, stateRoot, df)
            .write.mode("append").parquet(
              graft.operators.StreamingOps
                .storeDeltaDir(stateRoot, "preds"))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    delta.filter(col("doc_id") % 4 === 1)
      .repartitionByRange(2, col("doc_id")).toJSON
      .write.mode("overwrite").text(inDir)
    drain()
    delta.filter(col("doc_id") % 4 === 3)
      .repartitionByRange(2, col("doc_id")).toJSON
      .write.mode("append").text(inDir)
    drain()
    val got = canon(graft.operators.StreamingOps
      .readStoreAll(spark, stateRoot, "preds").get.distinct()
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs")))
    val want = canon(
      graft.operators.TextAnalysis.naiveBayesLangId(spark, sfDir))
    assert(got === want,
      "restarted stream confusion differs from batch q388")
  }

  test("q402/q403/q404: round-13 eval invariants") {
    val m = graft.operators.Events.mase(spark, sfDir).collect()
    assert(m.nonEmpty)
    val hours = m.map(_.getAs[Long]("n_hours")).distinct
    assert(hours.length === 1, "all types share the dense hour grid")
    for (row <- m) {
      assert(row.getAs[Long]("sae_naive") >= 0L)
      assert(row.getAs[Long]("sae_seasonal") >= 0L)
    }
    val b = graft.operators.Eval.brierDecomposition(spark, sfDir)
      .collect()(0)
    assert(b.getAs[Long]("unc_micro") >= 0L &&
      b.getAs[Long]("unc_micro") <= 250000L,
      "o(1-o) peaks at 1/4")
    assert(b.getAs[Long]("brier_micro") === b.getAs[Long]("rel_micro")
      - b.getAs[Long]("res_micro") + b.getAs[Long]("unc_micro"),
      "Murphy identity must hold by construction")
    for (row <- graft.operators.TextAnalysis.chao1(spark, sfDir).collect())
      assert(row.getAs[Long]("chao1_milli") >= row.getAs[Long]("v") * 1000L,
        "Chao1 can only add unseen mass")
  }

  test("q407: a constructed shared block reports its exact token length") {
    import spark.implicits._
    // the 7-token block is the longest run; a separate repeated
    // trigram ("x1 x2 x3") must NOT extend it (different diagonal)
    val block = "b1 b2 b3 b4 b5 b6 b7"
    val docs = Seq(
      (1L, s"$block u1 u2 x1 x2 x3"),
      (2L, s"v1 x1 x2 x3 v2 $block")).toDF("doc_id", "text")
    val r = graft.operators.Dedup.longestSharedSpanOf(docs, 3).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("max_shared_span_tokens") === 7L,
      "the shared 7-token block is the maximal diagonal run")
  }

  test("q408: the Youden cut maximizes J over the full sweep") {
    val cut = graft.operators.Eval.youdenCut(spark, sfDir).collect()(0)
    val sweep = graft.operators.Eval.mcc(spark, sfDir).collect()
    // recompute J for every threshold from the q365 confusion and
    // check the chosen one is the max (ties to the smaller threshold)
    val js = sweep.map { r =>
      val tp = r.getAs[Long]("tp"); val fp = r.getAs[Long]("fp")
      val fn = r.getAs[Long]("fn"); val tn = r.getAs[Long]("tn")
      (r.getAs[Long]("threshold_ppm"),
        tp * 1000000L / (tp + fn) - fp * 1000000L / (fp + tn))
    }
    val best = js.minBy { case (t, j) => (-j, t) }
    assert(cut.getAs[Long]("threshold_ppm") === best._1)
    assert(cut.getAs[Long]("j_ppm") === best._2)
  }

  test("q384 at k=3 reconciles with q375: cut occurrences = n_removed") {
    // same grain, same min-doc owner rule => the anchor-occurrence
    // accounting must agree doc by doc on the real corpus
    val es = graft.operators.Dedup.exactSubstr(spark, sfDir, k = 3)
      .select(col("doc_id"), col("n_cut_occ"))
    val sd = graft.operators.Dedup.spanDedup(spark, sfDir)
      .select(col("doc_id"), col("n_removed"))
    val joined = es.join(sd, "doc_id").collect()
    assert(joined.nonEmpty)
    for (row <- joined)
      assert(row.getAs[Long]("n_cut_occ") === row.getAs[Long]("n_removed"),
        s"doc ${row.getAs[Long]("doc_id")} diverges from q375")
  }
}
