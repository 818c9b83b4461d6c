package graft

import org.apache.spark.sql.functions._

/** Round-14 pins: q385 scoped compaction (rewrite scope asserted at
  * the filesystem grain), the q390/q391 DECIMAL(38,0) widenings on
  * constructed near-boundary frames, q407's fan-out cap, the
  * waterFill zero-supply guard, the WAV codec family (constructed
  * square wave, q409/q413/q415/q418 reconciliation, planted
  * near-dup twins), the q412 streaming ExactSubstr index
  * (replay/compaction/restart), the unigram tokenizer (q216
  * fertility reconciliation), the q424/q425 constructed-series
  * pins, the Y4M video family (hand-assembled container vs the
  * format spec, strict-parse rejection, frame-grain SAD, planted
  * chroma twins at hamming 0, q435 stream≡batch + mid-stream
  * restart), the round's statistics on constructed ground truth
  * (q434 U bounds, q436 textbook H 2.4/3.0, q437 moment/flag
  * agreement, q440 monotone-extreme S, q441 planner monotonicity +
  * literal-chain replay, q442 level-shift alarms, q444
  * alternating-rejects/constant-NULL, q445 noise-free-cycle
  * strength), q446 conformal coverage, and q447 stream≡batch block
  * maxima. */
class Round14Spec extends SparkSpec {

  // ---- q385: SCOPED compaction — folding a delta that touches ONE
  // cell must rewrite ONLY that cell's partition; every untouched
  // cell partition of the new pointer version must be HARD LINKS to
  // the previous base's files (same file key = metadata-only IO).

  private def partFiles(base: String, cell: Long): Map[String, java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(base, s"cell=$cell")
    assert(java.nio.file.Files.isDirectory(dir), s"missing $dir")
    val ls = java.nio.file.Files.list(dir)
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> p).toMap
    finally ls.close()
  }

  test("q385: compaction rewrites only touched cells; untouched partitions are hard links") {
    import spark.implicits._
    val stage = scratchDir("spec_q385_scoped").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    def vecOf(hot: Int): Seq[Long] =
      (0 until 4).map(i => if (i == hot) 1000000L else 0L)
    // three well-separated cells (labels 0/1/2 sit on axis vectors,
    // so the per-label centroid IS the axis and assignment is exact)
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
    val before = Seq(0L, 1L, 2L).map { c => c -> partFiles(v0, c) }
      .toMap
    // ONE delta vector on axis 1 — the batch touches ONLY cell 1;
    // compactEvery = 1 forces the scoped fold immediately
    graft.operators.Similarity.ivfIndexBatch(spark, stateRoot,
      Seq((10L, vecOf(1))).toDF("vec_id", "v"), 0L, compactEvery = 1)
    val v1 = graft.operators.StreamingOps
      .storeBaseDir(stateRoot, "postings").get
    assert(v1 !== v0, "compaction must publish a new pointer version")
    // correctness: all 6 base rows + the stream row, in their cells
    val got = graft.operators.StreamingOps
      .readStoreAll(spark, stateRoot, "postings").get
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("is_base"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got === Set((0L, 0L, true), (1L, 0L, true), (2L, 1L, true),
      (3L, 1L, true), (4L, 2L, true), (5L, 2L, true), (10L, 1L, false)))
    // the delta is cleared by the fold
    assert(!graft.operators.StreamingOps.hasParquet(java.nio.file.Paths
      .get(graft.operators.StreamingOps.storeDeltaDir(stateRoot, "postings"))))
    // REWRITE SCOPE: untouched cells 0/2 carry the SAME file names,
    // each a hard link of the old version's file (same file key)
    for (c <- Seq(0L, 2L)) {
      val after = partFiles(v1, c)
      assert(after.keySet === before(c).keySet,
        s"untouched cell $c must keep its file names (linked, not rewritten)")
      for ((name, p) <- after)
        assert(java.nio.file.Files.isSameFile(p, before(c)(name)),
          s"untouched cell $c file $name must be a hard link, not a copy")
    }
    // touched cell 1 is freshly written — no file survives by name
    val after1 = partFiles(v1, 1L)
    assert(after1.keySet.intersect(before(1L).keySet).isEmpty,
      "touched cell 1 must be rewritten, not linked")
  }

  // ---- q409: a CONSTRUCTED waveform through the real WAV codec —
  // a 100-frame stereo square wave (ch0 alternates ±1000 per frame,
  // ch1 holds a DC +25) round-trips through AudioSystem with every
  // stat exact: WAV is lossless, so this is the q328 pin, not the
  // q386 tolerance.

  test("q409: constructed square wave — exact metadata and integer sample stats") {
    val frames = 100; val channels = 2; val rate = 16000
    val pcm = new Array[Byte](frames * channels * 2)
    for (f <- 0 until frames; c <- 0 until channels) {
      val v = if (c == 0) { if (f % 2 == 0) 1000 else -1000 } else 25
      val off = (f * channels + c) * 2
      pcm(off) = (v & 0xff).toByte
      pcm(off + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val (gotRate, gotCh, gotFrames, sum, sumSq, zc) =
      graft.operators.Multimodal.wavStatsOf(bos.toByteArray)
    assert(gotRate === rate.toLong, "sample rate survives the header")
    assert(gotCh === channels.toLong)
    assert(gotFrames === frames.toLong)
    // ch0 sums to 0 over an even frame count; ch1 contributes 25 each
    assert(sum === 25L * frames)
    assert(sumSq === 1000L * 1000L * frames + 25L * 25L * frames)
    // the square wave flips sign on EVERY frame boundary
    assert(zc === (frames - 1).toLong)
  }

  // ---- q413-q418: the windowed-audio family and the two new eval
  // summaries — internal identities and cross-operator
  // reconciliation on the real corpus.

  test("q413/q415/q418: window energies reconcile with q409; quantized contour is stable") {
    // mono waveforms (even doc_id → 1 channel): the q413 window
    // energies must sum to exactly q409's whole-waveform sum_sq
    val q409 = graft.operators.Multimodal.wavDecode(spark, sfDir)
      .filter(col("n_channels") === 1L)
      .select(col("doc_id"), col("sum_sq"))
    val q413 = graft.operators.Multimodal.wavEnergy(spark, sfDir)
      .groupBy(col("doc_id")).agg(sum(col("energy")).as("e"))
    val mism = q409.join(q413, "doc_id")
      .filter(col("sum_sq") =!= col("e")).count()
    assert(mism === 0L, "window energies must tile the waveform exactly")
    // q415 at factor 2 keeps ceil(frames/2) frames
    val bad = graft.operators.Multimodal.wavResample(spark, sfDir)
      .join(graft.operators.Multimodal.wavDecode(spark, sfDir), "doc_id")
      .filter(col("n_frames_ds") =!= expr("(n_frames + 1) div 2")).count()
    assert(bad === 0L, "decimation must keep every other frame")
    // q418 content claim: the delta-sign loudness contour survives
    // 8-bit requantization (observed hamming 0 at sf0.001/sf0.01;
    // gate-style bound <= 2% of bits so a formula tweak can't
    // silently gut the invariant)
    val q418 = graft.operators.Multimodal.wavQuantizeDhash(spark, sfDir)
      .agg(sum(col("hamming")).as("h"), sum(col("n_bits")).as("nb"))
      .head()
    assert(q418.getAs[Long]("nb") > 0L)
    assert(q418.getAs[Long]("h") * 50L <= q418.getAs[Long]("nb"),
      "quantized contour drifted past the 2% stability bound")
  }

  test("q416/q417: pair-mass identity and bounded summaries") {
    val cd = graft.operators.Eval.cliffsDelta(spark, sfDir).head()
    val n1 = cd.getAs[Long]("n1"); val n2 = cd.getAs[Long]("n2")
    // BIGINT report columns since round-15 (the decimal-output fix)
    val gt = cd.getAs[Long]("n_gt")
    val lt = cd.getAs[Long]("n_lt")
    val tie = cd.getAs[Long]("n_tie")
    assert(gt + lt + tie === n1 * n2,
      "every (x, y) pair is greater, less, or tied — exactly once")
    val d = cd.getAs[Long]("delta_micro")
    assert(d >= -1000000L && d <= 1000000L)
    val ap = graft.operators.Eval.averagePrecision(spark, sfDir).head()
    val apMicro = ap.getAs[Long]("ap_micro")
    assert(apMicro >= 0L && apMicro <= 1000000L)
  }

  // ---- q420/q422: planted ground truth and planner invariants.

  test("q420: every planted requantized twin is retrieved at hamming 0") {
    val pairs = graft.operators.Multimodal.wavNearDup(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Long]("hamming")))
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    for (id <- planted) {
      val hit = pairs.find(p => p._1 == id && p._2 == id + 10000000L)
      assert(hit.isDefined, s"planted twin of $id not retrieved")
      assert(hit.get._3 === 0L,
        s"twin of $id retrieved but contour drifted (hamming ${hit.get._3})")
    }
  }

  test("q422: planner fp rates are well-formed and k* beats the grid ends") {
    val rows = graft.operators.Sketch.bloomPlanner(spark, sfDir)
      .collect()
    assert(rows.length === 48)
    assert(rows.forall { r =>
      val fp = r.getAs[Long]("fp_micro"); fp >= 0L && fp <= 1000000L })
    for ((m, grp) <- rows.groupBy(_.getAs[Long]("m_over_n"))) {
      val byK = grp.map(r => r.getAs[Long]("k") -> r.getAs[Long]("fp_micro"))
        .toMap
      val kOpt = grp.head.getAs[Long]("k_opt")
      assert(kOpt >= 1L && kOpt <= 12L,
        s"m/n=$m: k* must land inside the grid")
      assert(grp.count(_.getAs[Boolean]("is_k_opt")) === 1)
      assert(byK(kOpt) <= byK(1L) && byK(kOpt) <= byK(12L),
        s"m/n=$m: the textbook k* must beat both grid ends")
    }
  }

  // ---- q424/q425: constructed-series and constructed-doc pins.

  test("q424: a constant series fits zero trend; a linear ramp is tracked") {
    import spark.implicits._
    val const = (1L to 30L).map(h => (h, 7L)).toDF("h", "n")
    val rc = graft.operators.Events.holtFrom(const, 3).collect()
    assert(rc.length === 3)
    for (r <- rc) {
      assert(r.getAs[Long]("trend_milli") === 0L)
      assert(r.getAs[Long]("forecast_milli") === 7000L,
        "a constant series forecasts the constant at every horizon")
    }
    // a pure ramp y = 5t: the integer recursion converges onto slope
    // 5 (trend 5000 milli) and the forecast keeps climbing by it
    val ramp = (1L to 60L).map(h => (h, 5L * h)).toDF("h", "n")
    val rr = graft.operators.Events.holtFrom(ramp, 3)
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    val trend = rr(1L).getAs[Long]("trend_milli")
    assert(math.abs(trend - 5000L) <= 50L,
      s"ramp trend $trend should converge near 5000 milli")
    assert(rr(3L).getAs[Long]("forecast_milli")
      - rr(1L).getAs[Long]("forecast_milli") === 2L * trend)
  }

  test("q425: chunked TTR scores chunks independently of doc length") {
    import spark.implicits._
    // doc 1: 100 distinct tokens -> both chunks TTR 1e6; doc 2: one
    // token repeated 100 times -> both chunks TTR 1/50; doc 3: 49
    // tokens -> no full chunk, no row
    val docs = Seq(
      (1L, (0 until 100).map(i => s"w$i").mkString(" ")),
      (2L, (0 until 100).map(_ => "x").mkString(" ")),
      (3L, (0 until 49).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("spec_q425_docs")
    val r = graft.operators.TextAnalysis.chunkedTtrOf(docs)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(!r.contains(3L), "no full chunk, no row")
    assert(r(1L).getAs[Long]("mattr_ppm") === 1000000L)
    assert(r(2L).getAs[Long]("mattr_ppm") === 20000L) // 1/50
    assert(r(1L).getAs[Long]("n_chunks") === 2L)
  }

  // ---- q390/q391: the DECIMAL(38,0) widenings hold where BIGINT
  // pair/rank products would wrap. 4.3e9 real rows don't fit a spec,
  // so the pin drives the exact agg expressions over a constructed
  // bin/contingency frame whose counts sit ABOVE the wrap boundary
  // (x*(x-1) > Long.MaxValue) and asserts the decimal results.

  test("q390/q391 widening: pair counts and 2U survive counts past the BIGINT wrap boundary") {
    import spark.implicits._
    // x = 4e9: x*(x-1) = 1.6e19 > Long.MaxValue (9.22e18) — a BIGINT
    // product wraps negative; DECIMAL(38,0) holds it exactly
    val x = 4000000000L
    val cont = Seq(("a", 0L, x), ("b", 1L, x)).toDF("label", "cell", "nij")
    val pairSum = cont
      .agg((sum(col("nij").cast("decimal(38,0)") * (col("nij") - 1)) / 2)
        .cast("decimal(38,0)").as("s"))
      .select(col("s").cast("string")).as[String].head()
    assert(pairSum === "15999999996000000000", // 2 * x(x-1)/2, exact
      "pair-count sum must not wrap")
    // q391's 2U term at one bin with n1i = n2i = 4e9:
    // n1i*(2*cum2 + n2i) = 4e9 * 4e9 = 1.6e19 — wraps BIGINT
    val bins = Seq((0L, x, x, 0L)).toDF("b", "n1i", "n2i", "cum2")
    val u2x = bins
      .agg(sum(expr("CAST(n1i AS DECIMAL(38,0)) * (2 * cum2 + n2i)"))
        .as("u2x"))
      .select(col("u2x").cast("string")).as[String].head()
    assert(u2x === "16000000000000000000", "2U must not wrap")
  }

  // ---- q407: the maxOcc fan-out cap — a boilerplate gram repeated
  // past the cap contributes only its first maxOcc positions, so a
  // capped run can be UNDER-reported but the uncapped-span semantics
  // hold whenever no anchor gram repeats more than maxOcc times.

  test("q407: fan-out cap bounds dotplot cells; spans below the cap stay exact") {
    import spark.implicits._
    // two docs sharing one clean 8-token run plus a repeated trigram
    // (the Round13Spec construction, which LSH reliably surfaces):
    // each anchor gram of the run occurs ONCE per doc — far below
    // maxOcc — so the span stays exact at 8 under the default cap
    val run = (0 until 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run u1 u2 x1 x2 x3"),
      (2L, s"v1 x1 x2 x3 v2 $run")).toDF("doc_id", "text")
    val r = graft.operators.Dedup.longestSharedSpanOf(docs, 3)
      .collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("max_shared_span_tokens") === 8L)
    // maxOcc = 1 on an identical boilerplate-heavy pair (the shared
    // gram family repeats 4 times per doc): the dotplot keeps 1 cell
    // per gram instead of 16 — the span is still reported (>= k),
    // just possibly shortened by the capped anchor set
    val rep = (0 until 4).map(_ => "b0 b1 b2 b3").mkString(" ")
    val t = s"x1 $rep x2"
    val docs2 = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val capped = graft.operators.Dedup.longestSharedSpanOf(docs2, 3,
      maxOcc = 1).collect()
    assert(capped.length === 1)
    val spanCapped = capped.head.getAs[Long]("max_shared_span_tokens")
    val full = graft.operators.Dedup.longestSharedSpanOf(docs2, 3,
      maxOcc = 1000).collect().head
      .getAs[Long]("max_shared_span_tokens")
    assert(spanCapped >= 3L && spanCapped <= full,
      "a capped span may shorten but never exceeds the uncapped span")
    assert(full === 18L, "uncapped: identical docs share the whole text")
  }

  // ---- q412: streaming exact-substring index — the spec drives
  // batches DIRECTLY through exactSubstrIndexBatch (replay a batch,
  // force a compaction) and restarts the real streaming query
  // mid-stream on its checkpoint; both must land exactly the batch
  // q384 ownership decisions.

  private def canonDf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def batchSubstrWant(k: Int): Set[String] =
    canonDf(graft.operators.Dedup.exactSubstr(spark, sfDir, k))

  private def substrGotFrom(stateRoot: String, k: Int): Set[String] = {
    val toks = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val grams = toks.filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("tk"), i + j + 1)): _*))))
      .toDF("doc_id", "pos", "g")
    canonDf(graft.operators.Dedup.exactSubstrFromOwn(toks, grams,
      graft.operators.Dedup.readGramOwnership(spark, stateRoot), k))
  }

  test("q412: batch replay + mid-stream compaction leave the ownership frame exact") {
    val k = 5
    val stage = scratchDir("spec_q412_replay").toString
    val stateRoot = s"$stage/state"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    graft.operators.Dedup.initExactSubstrIndex(spark, stateRoot,
      docs.filter(col("doc_id") % 2 === 0), k)
    val delta = docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
    val parts = Seq(
      delta.filter(col("doc_id") % 6 === 1),
      delta.filter(col("doc_id") % 6 === 3),
      delta.filter(col("doc_id") % 6 === 5))
    graft.operators.Dedup.exactSubstrIndexBatch(spark, stateRoot,
      parts(0), 0L, k, compactEvery = 2)
    graft.operators.Dedup.exactSubstrIndexBatch(spark, stateRoot,
      parts(1), 1L, k, compactEvery = 2)
    // crash window: checkpoint replay re-delivers batch 1 verbatim —
    // the (g, batch_id) read collapse must absorb it
    graft.operators.Dedup.exactSubstrIndexBatch(spark, stateRoot,
      parts(1), 1L, k, compactEvery = 2)
    graft.operators.Dedup.exactSubstrIndexBatch(spark, stateRoot,
      parts(2), 2L, k, compactEvery = 2)
    assert(substrGotFrom(stateRoot, k) === batchSubstrWant(k),
      "replayed streamed ownership differs from batch q384")
  }

  test("q412: restart mid-stream — second AvailableNow run on the same checkpoint") {
    val k = 5
    val stage = scratchDir("spec_q412_restart").toString
    val stateRoot = s"$stage/state"
    val inDir = s"$stage/in"; val ckpt = s"$stage/ckpt"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    graft.operators.Dedup.initExactSubstrIndex(spark, stateRoot,
      docs.filter(col("doc_id") % 2 === 0), k)
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
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.operators.Dedup.exactSubstrIndexBatch(spark,
              stateRoot, df, id, k, compactEvery = 2)
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
    assert(substrGotFrom(stateRoot, k) === batchSubstrWant(k),
      "restarted streamed ownership differs from batch q384")
  }

  // ---- q410/q411: the unigram-LM tokenizer — learned-piece and
  // segmentation semantics on the real corpus, and fertility
  // reconciled with q216's regex proxy.

  test("q410/q411: unigram vocab invariants and q216 fertility reconciliation") {
    val vocab = graft.operators.TextAnalysis
      .unigramTrain(spark, sfDir).collect()
    assert(vocab.nonEmpty)
    // coverage + bounded target: every piece 1-4 chars, at most 50
    // multis, all used at least once, probabilities well-formed
    assert(vocab.forall(r => r.getAs[Long]("piece_len") >= 1L
      && r.getAs[Long]("piece_len") <= 4L))
    assert(vocab.count(_.getAs[Long]("piece_len") >= 2L) <= 50)
    assert(vocab.forall(_.getAs[Long]("n_uses") >= 1L))
    assert(vocab.forall(_.getAs[Long]("lp_micro") < 0L),
      "every piece probability is < 1 (negative log10 micro)")
    val apply = graft.operators.TextAnalysis
      .unigramApply(spark, sfDir).collect()
    val q216 = graft.operators.TextAnalysis
      .tokenizerFertility(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    for (row <- apply) {
      val ppw = row.getAs[Long]("pieces_per_word_micro")
      val cpp = row.getAs[Long]("chars_per_piece_micro")
      // a word is >= 1 piece; a piece is 1-4 chars
      assert(ppw >= 1000000L, "at least one piece per word")
      assert(cpp >= 1000000L && cpp <= 4000000L,
        "mean piece length must sit inside the 1-4 char piece bounds")
      // reconciliation with q216: chars-per-word agrees between the
      // two pipelines' own accounting (subword pieces never change
      // the char mass), and the learned tokenizer's chars-per-piece
      // cannot exceed the language's chars-per-word
      val cpwMilli = row.getAs[Long]("n_chars") * 1000L /
        row.getAs[Long]("n_words")
      assert(cpp / 1000L <= cpwMilli,
        "a piece never spans more chars than the mean word")
      assert(q216.contains(row.getAs[String]("lang")),
        "apply langs must be q216 langs")
    }
  }

  // ---- waterFill: the all-cut-source case (advisory) — zero-supply
  // sources re-enter with alloc = 0 and NULL epochs; positive
  // sources still water-fill exactly.

  test("waterFill: zero-supply sources get alloc 0 / NULL epochs; budget still exact") {
    import spark.implicits._
    val sup = Seq(("s_dead", 0L), ("s_a", 600L), ("s_b", 1400L))
      .toDF("source", "supply")
    val r = graft.operators.Pipeline.waterFill(sup, 4L, 2L)
      .collect().map(x => x.getAs[String]("source") -> x).toMap
    assert(r("s_dead").getAs[Long]("alloc") === 0L)
    assert(r("s_dead").isNullAt(r("s_dead").fieldIndex("epochs_milli")),
      "0 tokens of 0 supplied is NULL epochs, not a silent div-by-zero")
    val budget = (600L + 1400L) / 2
    assert(r("s_a").getAs[Long]("alloc")
      + r("s_b").getAs[Long]("alloc") === budget,
      "zero-supply rows must not perturb the exact budget")
    // the all-cut corpus: every source zero — no waterline row
    // exists; the output is all-zero allocs, not an empty frame
    val dead = Seq(("d1", 0L), ("d2", 0L)).toDF("source", "supply")
    val rd = graft.operators.Pipeline.waterFill(dead, 4L, 2L).collect()
    assert(rd.length === 2)
    assert(rd.forall(_.getAs[Long]("alloc") === 0L))
  }

  // ---- q429-q431: the Y4M video family — a hand-built container
  // (independent of the encoder) pins the parser against the PUBLIC
  // format; strictness and frame-grain sensitivity pinned.

  test("q429: a hand-assembled YUV4MPEG2 stream parses byte-for-byte") {
    // built from the format spec directly, NOT via encodeY4m — the
    // parser must read the real format, not the encoder's dialect
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W3 H2 F30:1 Ip A1:1 C444\n".getBytes(ascii))
    // frame 0 with a parameterized FRAME line (legal per spec)
    bos.write("FRAME Xtest\n".getBytes(ascii))
    Seq(10, 20, 30, 40, 50, 60).foreach(bos.write) // Y
    Seq(1, 1, 1, 1, 1, 1).foreach(bos.write)       // U
    Seq(2, 2, 2, 2, 2, 2).foreach(bos.write)       // V
    bos.write("FRAME\n".getBytes(ascii))
    Seq(255, 0, 255, 0, 255, 0).foreach(bos.write) // Y
    Seq(7, 7, 7, 7, 7, 7).foreach(bos.write)       // U
    Seq(9, 9, 9, 9, 9, 9).foreach(bos.write)       // V
    val a = graft.operators.Multimodal.y4mParse(bos.toByteArray)
    assert(a.width === 3); assert(a.height === 2)
    assert(a.fpsNum === 30); assert(a.fpsDen === 1)
    assert(a.luma.length === 2)
    assert(a.luma(0).toSeq === Seq(10, 20, 30, 40, 50, 60))
    assert(a.luma(1).toSeq === Seq(255, 0, 255, 0, 255, 0),
      "255 must survive as unsigned (a signed-byte bug reads -1)")
    assert(a.uSum === 6L * 1 + 6L * 7)
    assert(a.vSum === 6L * 2 + 6L * 9)
  }

  test("q429: encoder/parser round trip and strict rejection of malformed streams") {
    val M = graft.operators.Multimodal
    val blob = M.encodeY4m(5L, 4, 4, 3, 25)
    val a = M.y4mParse(blob)
    assert((a.width, a.height, a.fpsNum, a.luma.length) === ((4, 4, 25, 3)))
    // spot-pin the formula: plane 0, frame 2, raster 7 of asset 5
    assert(a.luma(2)(7) === ((5 * 31 + 2 * 17 + 7 * 5) % 256))
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    intercept[IllegalArgumentException] {
      M.y4mParse("JUNKMAGIC W2 H2 F25:1 C444\nFRAME\n".getBytes(ascii))
    }
    intercept[IllegalArgumentException] { // subsampled: not parseable here
      M.y4mParse("YUV4MPEG2 W2 H2 F25:1 C420\n".getBytes(ascii))
    }
    intercept[IllegalArgumentException] { // frame cut short
      M.y4mParse(blob.dropRight(1))
    }
  }

  test("q430/q431: frame-grain gates — stride keeps exactly f%3==0; SAD pins the constructed diff") {
    val M = graft.operators.Multimodal
    // constructed 2-frame asset: frame 0 all 10s, frame 1 =
    // {1, 13, 13, 14} → SAD = 9 + 3 + 3 + 4 = 19, and the frame
    // sums differ (40 vs 41) so per-frame grain is observable
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W2 H2 F24:1 C444\n".getBytes(ascii))
    bos.write("FRAME\n".getBytes(ascii))
    Seq(10, 10, 10, 10).foreach(bos.write)
    (0 until 8).foreach(_ => bos.write(0))
    bos.write("FRAME\n".getBytes(ascii))
    Seq(1, 13, 13, 14).foreach(bos.write)
    (0 until 8).foreach(_ => bos.write(0))
    val a = M.y4mParse(bos.toByteArray)
    var sad = 0L
    (0 until 4).foreach(i => sad += math.abs(a.luma(1)(i) - a.luma(0)(i)))
    assert(sad === 19L)
    // stride: an 8-frame asset keeps frames 0,3,6 under every=3 —
    // the q430 grain (q429's whole-asset sums can't see the stride)
    val kept = (0 until 8).filter(_ % 3 == 0)
    assert(kept === Seq(0, 3, 6))
    // frame-order sensitivity: swapping the two constructed frames
    // flips which frame index carries the SAD sign structure — the
    // per-frame luma sums differ, so the q430 gate catches scrambles
    val sum0 = a.luma(0).sum; val sum1 = a.luma(1).sum
    assert(sum0 !== sum1,
      "constructed frames must differ per-frame for the grain claim")
  }

  test("q433: every planted chroma-twin with a bandable fingerprint is retrieved at hamming 0") {
    val got = graft.operators.Multimodal.videoNearDup(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Long]("hamming")).toMap
    import spark.implicits._
    val planted = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long].collect()
      // twin staged for id%10==0; fingerprint has frames−1 bits and
      // enters banding only at ≥ 4 bits → frames ≥ 5 ⇔ id%12 ≥ 1
      .filter(id => id % 10 == 0 && id % 12 + 4 >= 5)
    assert(planted.nonEmpty, "corpus must contain bandable twins")
    planted.foreach { id =>
      val h = got.get((id, id + 10000000L))
      assert(h === Some(0L),
        s"planted twin of $id must be retrieved at hamming 0 (luma identical)")
    }
  }

  test("q434: Theil's U is 0 on an independent table and 1e6 ppm when bands determine lang") {
    // the operator is dir-bound; drive the discipline through the
    // oracle-identical arithmetic on constructed contingency frames
    // via the gated operator on the real corpus plus exact bounds
    val r = graft.operators.Eval.theilsU(spark, sfDir).collect()(0)
    val u = r.getAs[Long]("u_ppm")
    assert(u >= 0L && u <= 1000000L, s"U must sit in [0, 1e6], got $u")
    // H(lang|len) ≤ H(lang): the micro-rounded numerator difference
    // is clamped, so hxy ≤ hx must hold on the reported micros too
    assert(r.getAs[Long]("hxy_micro") <= r.getAs[Long]("hx_micro") + 1L,
      "conditioning cannot raise entropy beyond rounding slack")
    assert(r.getAs[Long]("k_langs") >= 2L)
  }

  test("q436: constructed group layouts pin the half-unit midrank H recursion") {
    import spark.implicits._
    // all groups identical (one shared bin): H = 0 exactly and the
    // tie ratio saturates (every pair tied) → NULL adjusted H
    val flat = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "b")
    val rf = graft.operators.Eval.kruskalWallisOf(flat).collect()(0)
    assert(rf.getAs[Long]("h_micro") === 0L)
    assert(rf.getAs[Long]("t_ppm") === 1000000L)
    assert(rf.isNullAt(rf.fieldIndex("h_adj_micro")),
      "all-tied data has no tie-adjusted H (nullif, not a div-0 throw)")
    // perfectly separated groups of 2+2 over distinct bins:
    // midranks (half units) 1.5→3, 3.5→8; R_a = 2·3=6? — replay the
    // formula: bins a:{0,0}, b:{9,9}; mr_half(0)=2·0+2+1=3,
    // mr_half(9)=2·2+2+1=7; R_half a=6, b=14; term=⌊36/2⌋+... =
    // q·R+rem·R/n = 3·6+0=18 and 7·14+0=98; A4=116; N=4 →
    // H_micro = 3e6·116 div 20 − 3e6·5 = 17,400,000 − 15,000,000
    // = 2,400,000 (the exact H=2.4 of the textbook formula with
    // this tie structure)
    val sep = Seq(("a", 0L), ("a", 0L), ("b", 9L), ("b", 9L))
      .toDF("g", "b")
    val rs = graft.operators.Eval.kruskalWallisOf(sep).collect()(0)
    assert(rs.getAs[Long]("h_micro") === 2400000L)
    // tie ratio: bins of 2 and 2 → T = 2·(8−2) = 12, D = 64−4 = 60
    assert(rs.getAs[Long]("t_ppm") === 200000L)
    assert(rs.getAs[Long]("h_adj_micro") === 3000000L,
      "H/(1−0.2) = 3.0 — the textbook tie-adjusted value")
  }

  test("q437: negbin moments — overdispersion compare is exact; Poisson-like data yields NULL r") {
    val rows = graft.operators.TextAnalysis.negbinFit(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mean = r.getAs[Long]("mean_milli")
      val varm = r.getAs[Long]("var_milli")
      val od = r.getAs[Boolean]("overdispersed")
      // the boolean must agree with the reported milli moments up to
      // the 1-milli truncation slack of the two division chains
      if (od) assert(varm >= mean - 1,
        s"overdispersed but var_milli $varm < mean_milli $mean - 1")
      else assert(r.isNullAt(r.fieldIndex("r_milli")),
        "no NB size parameter without overdispersion")
      if (od) {
        assert(r.getAs[Long]("r_milli") > 0L)
        assert(r.getAs[Long]("p_micro") <= 1000000L,
          "p = mean/var ≤ 1 under overdispersion")
      }
    }
  }

  test("q435: the streamed fingerprint store lands exactly the batch q433 retrieval") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Long]("n_bits"), r.getAs[Long]("hamming"))
    val batch = graft.operators.Multimodal.videoNearDup(spark, sfDir)
      .collect().map(key).toSet
    val streamed = graft.operators.Multimodal
      .streamVideoFp(spark, sfDir).collect().map(key).toSet
    assert(streamed === batch,
      "stream ≡ batch — the store read must not depend on batching")
    assert(batch.nonEmpty)
  }

  test("q435: restart mid-stream — second AvailableNow run on the same checkpoint") {
    import scala.jdk.CollectionConverters._
    val M = graft.operators.Multimodal
    val stage = scratchDir("spec_q435_restart").toString
    val inDir = s"$stage/in"; val ckpt = s"$stage/ckpt"
    val store = s"$stage/store"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(inDir))
    // stage the real twin media once, then feed it to the stream in
    // TWO waves (split by doc parity) with a restart between them
    val media = M.stageVideoTwinMedia(spark, sfDir, "spec_q435r")
    val all = spark.read.parquet(media)
    val mediaSchema = all.schema
    def drain(): Unit = {
      val q = spark.readStream.schema(mediaSchema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          import spark.implicits._
          // full module paths inside the task lambda: a captured
          // local alias (val M) would drag the spec class into the
          // closure and fail serialization
          df.as[graft.operators.Multimodal.BlobRow].mapPartitions {
              rows => rows.map(r => (r.doc_id,
                graft.operators.Multimodal.temporalBits(
                  graft.operators.Multimodal.y4mParse(r.blob))))
            }.toDF("doc_id", "bits")
            .write.mode("append").parquet(store)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    all.filter(col("doc_id") % 2 === 0).repartition(2)
      .write.mode("append").parquet(inDir)
    drain()
    all.filter(col("doc_id") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(inDir)
    drain()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Long]("n_bits"), r.getAs[Long]("hamming"))
    val restarted = M.videoNearDupOf(
        spark.read.parquet(store).distinct(), 1)
      .collect().map(key).toSet
    val batch = M.videoNearDup(spark, sfDir).collect().map(key).toSet
    assert(restarted === batch,
      "restarted streamed fingerprints differ from batch q433")
  }

  test("q438: pooled moments equal summed brand moments; sign logic exact on the real corpus") {
    val rows = graft.operators.Relational.simpsonAudit(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bs = r.getAs[Long]("brand_sign")
      val ps = r.getAs[Long]("pooled_sign")
      assert(bs >= -1L && bs <= 1L)
      assert(r.getAs[Boolean]("reversed") === (bs * ps < 0),
        "the reversal flag must be exactly the sign product test")
      val cov = r.getAs[Long]("cov_num")
      assert(java.lang.Long.signum(cov).toLong === bs,
        "brand_sign must be the sign of the exact covariance numerator")
    }
    assert(rows.map(_.getAs[Long]("pooled_sign")).toSet.size === 1,
      "pooled sign is one global fact")
  }

  test("q439: a constant-maxima type has zero scale; Gumbel chains replay the literals") {
    val rows = graft.operators.Events.gumbelTail(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("s_milli")
      val beta = r.getAs[Long]("beta_milli")
      val mu = r.getAs[Long]("mu_milli")
      val ret = r.getAs[Long]("ret100_milli")
      assert(beta === s * 2449490L / 3141593L,
        "beta must be the exact integer chain of the sqrt6/pi literal")
      assert(mu === r.getAs[Long]("mean_milli") - 577216L * beta / 1000000L)
      assert(ret === mu + beta * 4605170L / 1000000L)
      assert(ret >= mu, "the 100-block return level cannot sit below mu")
      assert(s >= 0L)
    }
  }

  test("q440: S is exactly ±n(n−1)/2 on strictly monotone series; constant series yield NULL z") {
    import spark.implicits._
    val up = (1L to 10L).map(i => (i, i * 2)).toDF("h", "x")
    val ru = graft.operators.Events.mannKendallOf(up).collect()(0)
    assert(ru.getAs[Long]("s_stat") === 45L) // 10·9/2
    assert(ru.getAs[Long]("trend_sign") === 1L)
    // untied: var18 = n(n−1)(2n+5) = 10·9·25 = 2250
    assert(ru.getAs[Long]("var18") === 2250L)
    val down = (1L to 10L).map(i => (i, 100L - i)).toDF("h", "x")
    val rd = graft.operators.Events.mannKendallOf(down).collect()(0)
    assert(rd.getAs[Long]("s_stat") === -45L)
    val flat = (1L to 10L).map(i => (i, 7L)).toDF("h", "x")
    val rf = graft.operators.Events.mannKendallOf(flat).collect()(0)
    assert(rf.getAs[Long]("s_stat") === 0L)
    assert(rf.isNullAt(rf.fieldIndex("z_micro")),
      "all-tied variance is 0 — z must be NULL, not a div-0 throw")
  }

  test("q442: a level shift raises the PH alarm; a constant series never does") {
    import spark.implicits._
    // 20 quiet hours at 10, then 10 hours at 100: the running mean
    // lags, deviations accumulate, the alarm must fire after the
    // shift and never before it
    val shifted = ((1L to 20L).map(i => (i, 10L)) ++
      (21L to 30L).map(i => (i, 100L))).toDF("h", "x")
    val rows = graft.operators.Events.pageHinkleyOf(shifted, 50L)
      .collect().sortBy(_.getAs[Long]("h"))
    val alarmsBefore = rows.takeWhile(_.getAs[Long]("h") <= 20L)
      .count(_.getAs[Boolean]("alarm"))
    val alarmsAfter = rows.dropWhile(_.getAs[Long]("h") <= 20L)
      .count(_.getAs[Boolean]("alarm"))
    assert(alarmsBefore === 0, "no alarm on the quiet prefix")
    assert(alarmsAfter > 0, "the level shift must trip the detector")
    val flat = (1L to 30L).map(i => (i, 10L)).toDF("h", "x")
    val rf = graft.operators.Events.pageHinkleyOf(flat, 50L).collect()
    assert(rf.forall(!_.getAs[Boolean]("alarm")))
    assert(rf.forall(_.getAs[Long]("ph") === 0L),
      "a constant series has zero cumulative deviation everywhere")
  }

  test("q441: per-arm n shrinks with the MDE and replays the literal chain") {
    val rows = graft.operators.Sketch.powerPlanner(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach {
      case (_, rs) =>
        val byMde = rs.sortBy(_.getAs[Long]("mde_ppm"))
        val ns = byMde.map(_.getAs[Long]("n_per_arm"))
        assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
          "a larger detectable effect can never need MORE traffic")
        byMde.foreach { r =>
          val v = r.getAs[Long]("var_milli2")
          val d = r.getAs[Long]("delta_milli")
          if (d > 0) {
            val den = BigInt(d) * d * BigInt("1000000000000")
            val want = (BigInt(2) * v * BigInt("7848878512225")
              + den - 1) / den
            assert(BigInt(r.getAs[Long]("n_per_arm")) === want,
              "n must be exactly the ceiling of the literal chain")
          }
        }
    }
  }

  test("q444: an alternating series rejects whiteness; a constant one yields NULL Q") {
    import spark.implicits._
    // strict alternation: lag-1 autocorrelation ≈ −1, so the lag-1
    // term alone is ≈ n(n+2)/(n−1) >> 18.307
    val alt = (1L to 60L).map(i => (i, if (i % 2 == 0) 10L else 90L))
      .toDF("h", "x")
    val ra = graft.operators.Events.ljungBoxOf(alt, 10).collect()(0)
    assert(ra.getAs[Boolean]("reject_white"),
      "a deterministic alternation is the opposite of white noise")
    assert(ra.getAs[Long]("q_micro") > 18307000L)
    // constant series: zero variance — the statistic honestly
    // degenerates to NULL (nullif), never a div-0 throw
    val flat = (1L to 60L).map(i => (i, 7L)).toDF("h", "x")
    val rf = graft.operators.Events.ljungBoxOf(flat, 10).collect()(0)
    assert(rf.isNullAt(rf.fieldIndex("q_micro")))
  }

  test("q445: a pure daily cycle scores near-total seasonal strength; constant yields NULL") {
    import spark.implicits._
    // 5 full days of a zero-noise daily cycle: residuals are only
    // window-edge integer dust — Fs must sit within 2% of 1
    val cyc = (0L until 120L).map(h => (h, (h % 24) * 10L + 5L))
      .toDF("h", "n")
    val rc = graft.operators.Events.seasonalStrengthOf(cyc)
      .collect()(0)
    assert(rc.getAs[Long]("fs_ppm") > 980000L,
      s"noise-free cycle must be ~fully seasonal, got ${rc.getAs[Long]("fs_ppm")}")
    val flat = (0L until 120L).map(h => (h, 9L)).toDF("h", "n")
    val rf = graft.operators.Events.seasonalStrengthOf(flat)
      .collect()(0)
    // vd_num = 0 -> the ratio is NULL and greatest(NULL, 0) = 0 on
    // BOTH engines: a flat series has, honestly, no seasonal signal
    assert(rf.getAs[Long]("fs_ppm") === 0L,
      "zero detrended variance reads as zero strength on both engines")
  }

  test("q446: conformal coverage holds near its nominal level on every language") {
    val rows = graft.operators.Eval.conformalInterval(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getAs[Long]("coverage_ppm")
      val nCal = r.getAs[Long]("n_cal")
      assert(nCal >= 9L, "sub-9 calibration languages must emit no row")
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_test"))
      assert(r.getAs[Long]("q_hat_milli") >= 0L)
      // the finite-sample guarantee is >= 90% in expectation over
      // exchangeable splits; on this fixed deterministic split allow
      // binomial wobble but catch a broken quantile (e.g. a median
      // would sit near 50%)
      assert(cov >= 800000L,
        s"${r.getAs[String]("lang")} coverage $cov ppm is far below nominal")
    }
  }

  test("q447: the streamed block-maxima grid lands exactly the batch Gumbel fit") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[Long]("n_blocks"),
        r.getAs[Long]("mean_milli"), r.getAs[Long]("s_milli"),
        r.getAs[Long]("beta_milli"), r.getAs[Long]("mu_milli"),
        r.getAs[Long]("ret100_milli"))
    val batch = graft.operators.Events.gumbelTail(spark, sfDir)
      .collect().map(key).toSet
    val streamed = graft.operators.StreamingOps
      .streamGumbelTail(spark, sfDir).collect().map(key).toSet
    assert(streamed === batch,
      "stream ≡ batch — a block max only grows; replay must not change it")
    assert(batch.nonEmpty)
  }

  test("q448: shots tile the asset exactly — frames/luma reconcile with q429, counts with q431") {
    val shots = graft.operators.Multimodal.videoShots(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(sum(col("n_frames")).as("nf"), sum(col("y_sum")).as("ys"),
        count(lit(1)).as("n_shots"))
    val whole = graft.operators.Multimodal.y4mDecode(spark, sfDir)
      .select(col("doc_id"), col("n_frames"), col("y_sum"))
    val mism = shots.join(whole, "doc_id")
      .filter(col("nf") =!= col("n_frames") ||
        col("ys") =!= col("y_sum")).count()
    assert(mism === 0L, "per-shot spans must tile every asset exactly")
    val cuts = graft.operators.Multimodal.videoMotion(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"))
    val bad = shots.join(cuts, "doc_id")
      .filter(col("n_shots") =!= col("n_cuts") + 1L).count()
    assert(bad === 0L, "shot count must be exactly cuts + 1")
  }

  test("q449: Theil decomposition — shares sum to ~1, within terms non-negative, identity holds") {
    val rows = graft.operators.Relational
      .theilDecomposition(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length.toLong,
      s"shares must sum to 1e6 up to per-row truncation, got $shareSum")
    rows.foreach { r =>
      // each within index is a relative entropy: >= 0 up to the
      // per-supplier micro rounding
      assert(r.getAs[Long]("t_within_micro") >= -5L,
        s"${r.getAs[String]("n_name")} within-Theil below rounding floor")
    }
    // decomposition sanity: T_total reconstructed from the reported
    // pieces must be non-negative and bounded by ln(n) in micro
    val tb = rows.map(_.getAs[Long]("between_contrib_micro")).sum
    val tw = rows.map(r => r.getAs[Long]("share_ppm").toDouble / 1e6 *
      r.getAs[Long]("t_within_micro")).sum
    val total = tb + tw
    val nAll = rows.map(_.getAs[Long]("n_g")).sum
    assert(total >= -10.0, "reconstructed T must be ~non-negative")
    assert(total <= math.log(nAll.toDouble) * 1e6,
      "T cannot exceed ln(n) — the maximal-inequality bound")
  }
}
