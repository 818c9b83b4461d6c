package graft

import graft.operators.{Dedup, Pipeline, Relational, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Semantics specs for the round-8 corpus operators (q213–q220):
  * synthetic tables whose expected outputs are hand-computable, at
  * edge points the shipped sf data doesn't hit (the AuditOpsSpec
  * convention). The sf0.01 DuckDB oracle asserts engine parity;
  * these assert the MEANING — chunk boundary arithmetic, dup
  * provenance, split containment, codebook-exactness, degenerate
  * divisions. */
class CorpusOpsSpec extends SparkSpec {

  /** Writes (doc_id, text, lang, source) rows as documents.parquet. */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = scratchDir("graft_corpus").toString
    rows.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(n: Int, pfx: String = "w"): String =
    (0 until n).map(i => s"$pfx$i").mkString(" ")

  // ---------------------------------------------------------- q217
  test("q217: chunk boundaries — single-chunk, overlap, short tail") {
    val dir = docsDir(Seq(
      (1L, words(200), "en", "a"), // 2 chunks: [0,128) + [96,200)
      (2L, words(128), "en", "a"), // exactly one chunk
      (3L, words(129), "en", "a"), // 2 chunks, tail of 33
      (4L, "solo", "en", "a")))    // 1-token doc: one 1-token chunk
    val got = Pipeline.chunkManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("tok_start"), r.getAs[Long]("n_toks"))).toMap
    assert(got.size == 6, s"expected 6 chunks, got: $got")
    assert(got((1L, 0L)) == (0L, 128L) && got((1L, 1L)) == (96L, 104L))
    assert(got((2L, 0L)) == (0L, 128L) && !got.contains((2L, 1L)),
      "a 128-token doc must be exactly one chunk")
    assert(got((3L, 1L)) == (96L, 33L), "129-token tail chunk must be 33")
    assert(got((4L, 0L)) == (0L, 1L))
  }

  test("q217: single-chunk hash equals the md5 of the whole text") {
    val dir = docsDir(Seq((9L, "alpha beta gamma", "en", "a")))
    val got = Pipeline.chunkManifest(spark, dir)
      .select(col("chunk_hash")).collect().map(_.getString(0))
    val want = spark.sql("SELECT md5(cast('alpha beta gamma' as binary))")
      .collect().head.getString(0)
    assert(got.toSeq == Seq(want))
  }

  // ---------------------------------------------------------- q219
  test("q219: incoming vs within dup provenance per id-range slice") {
    // 20 ids, 10 buckets => 2 ids per bucket. Content X first lands at
    // id 0 (bucket 0), recurs at id 5 (bucket 2) and twice in bucket 6
    // (ids 12, 13) — all three later copies are INCOMING dups. Content
    // Y occupies ids 8,9 (both bucket 4): one WITHIN dup.
    val x = "dup content x"; val y = "dup content y"
    val rows = (0L to 19L).map { id =>
      val t = if (Seq(0L, 5L, 12L, 13L).contains(id)) x
        else if (id == 8L || id == 9L) y
        else s"unique $id"
      (id, t, "en", "a")
    }
    val got = Dedup.dupDrift(spark, docsDir(rows)).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_incoming_dup"),
          r.getAs[Long]("n_within_dup"))).toMap
    assert(got(0L) == (2L, 0L, 0L), s"bucket 0 is all-first: ${got(0L)}")
    assert(got(2L) == (2L, 1L, 0L), s"id 5 is an incoming dup: ${got(2L)}")
    assert(got(6L) == (2L, 2L, 0L),
      s"both copies in a later bucket are incoming: ${got(6L)}")
    assert(got(4L) == (2L, 0L, 1L), s"ids 8,9 are a within dup: ${got(4L)}")
    assert(got.values.map(_._1).sum == 20L)
  }

  // ---------------------------------------------------------- q220
  test("q220: train copy scores zero novelty; unique test doc full") {
    // learn the operator's own split for candidate ids, then plant
    // an exact train-duplicate and a unique text on TEST ids
    import spark.implicits._
    val split = (0L to 30L).toDF("doc_id")
      .withColumn("is_train",
        Sampling.hashBucket(concat(lit("novel|"), col("doc_id").cast("string")))
          < 2147483648L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val trainId = split.collectFirst { case (id, true) => id }.get
    val testIds = split.collect { case (id, false) => id }.toSeq.sorted
    val (copyId, freshId) = (testIds.head, testIds(1))
    val shared = words(12, "s")
    val dir = docsDir(Seq(
      (trainId, shared, "en", "a"),
      (copyId, shared, "en", "a"),
      (freshId, words(12, "q"), "en", "a"),
      (testIds(2), "too short", "en", "a"))) // < 5 tokens: excluded
    val got = TextAnalysis.ngramNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("novelty_ppm"))).toMap
    assert(got.keySet == Set(copyId, freshId),
      s"only >=5-token TEST docs appear: $got")
    assert(got(copyId) == (8L, 0L),
      s"an exact train copy must be 0 novel: ${got(copyId)}")
    assert(got(freshId) == (8L, 1000000L),
      s"disjoint-vocab test doc must be fully novel: ${got(freshId)}")
  }

  // ---------------------------------------------------------- q213
  test("q213: digits partition the rows and expectations sum to 1e6") {
    val rows = Relational.benfordAudit(spark, sfDir).collect()
    val digits = rows.map(_.getAs[Long]("digit"))
    assert(digits.toSet.subsetOf((1L to 9L).toSet) && digits.length == digits.toSet.size)
    assert(rows.map(_.getAs[Long]("benford_ppm")).sum == 1000000L,
      "Benford expected shares must sum to exactly 1e6")
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(round(col("l_extendedprice") * 100) > 0).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "every positive-cents row lands in exactly one digit")
  }

  // ---------------------------------------------------------- q214
  test("q214: po matches q29 accuracy; single-class corpus yields null kappa") {
    val r = TextAnalysis.raterAgreement(spark, sfDir).collect().head
    val acc = TextAnalysis.langId(spark, sfDir)
      .agg(sum(col("is_correct")).cast("long").as("c"), count(lit(1)).as("n"))
      .collect().head
    assert(r.getAs[Long]("n_agree") == acc.getAs[Long]("c"))
    assert(r.getAs[Long]("po_ppm") == acc.getAs[Long]("c") * 1000000L / acc.getAs[Long]("n"))
    val kappa = r.getAs[Long]("kappa_ppm")
    assert(kappa <= 1000000L, s"kappa cannot exceed 1: $kappa")
    // degenerate: every doc 'en' and predicted 'en' => pe = 1, kappa NULL
    val dir = docsDir(Seq((1L, "the the the", "en", "a"),
      (2L, "the a of", "en", "a")))
    val d = TextAnalysis.raterAgreement(spark, dir).collect().head
    assert(d.getAs[Long]("po_ppm") == 1000000L &&
      d.getAs[Long]("pe_ppm") == 1000000L && d.isNullAt(d.fieldIndex("kappa_ppm")),
      s"single-class kappa must be NULL (0/0), got $d")
  }

  // ---------------------------------------------------------- q215
  test("q215: fixed-point readability arithmetic on a crafted doc") {
    // "aaa bbb. ccc ddd." => 4 words, 2 sentences, 1 vowel group
    val dir = docsDir(Seq((1L, "aaa bbb. ccc ddd.", "en", "s")))
    val r = TextAnalysis.readability(spark, dir).collect().head
    assert(r.getAs[Long]("wps_milli") == 2000L, s"wps: $r")
    assert(r.getAs[Long]("spw_milli") == 250L, s"spw: $r")
    assert(r.getAs[Long]("hard_ppm") == 0L, s"hard: $r")
    // no terminator at all: sentence count clamps to 1, never 0-div
    val r2 = TextAnalysis.readability(spark,
      docsDir(Seq((1L, "no punctuation here", "en", "s")))).collect().head
    assert(r2.getAs[Long]("wps_milli") == 3000L, s"clamped sents: $r2")
  }

  // ---------------------------------------------------------- q216
  test("q216: fertility counts BPE-ish tokens against words exactly") {
    val dir = docsDir(Seq((1L, "ab cd-ef", "en", "a")))
    val r = TextAnalysis.tokenizerFertility(spark, dir).collect().head
    assert(r.getAs[Long]("n_words") == 2L && r.getAs[Long]("n_tokens") == 4L,
      s"'ab cd-ef' is 2 words / 4 regex tokens: $r")
    assert(r.getAs[Long]("fertility_milli") == 2000L)
    assert(r.getAs[Long]("chars_per_tok_milli") == 2000L)
  }

  // ---------------------------------------------------------- q222
  test("q222: identical snapshots drift zero; a vanishing source registers") {
    import graft.operators.Incremental
    // ids avoid %11 and %13 zeros => old == new => tvd 0, tops equal
    val same = docsDir(Seq((1L, "t", "en", "a"), (2L, "t", "en", "a"),
      (3L, "t", "de", "b")))
    val r0 = Incremental.categoryDrift(spark, same).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(r0("lang").getAs[Long]("tvd_ppm") == 0L &&
      r0("source").getAs[Long]("tvd_ppm") == 0L, s"equal snapshots: $r0")
    assert(r0("lang").getAs[String]("top_old") ==
      r0("lang").getAs[String]("top_new"))
    // id 22 (%11==0) exists only in the NEW snapshot: its unique
    // source 'z' must register as drift on the source column
    val drift = docsDir(Seq((1L, "t", "en", "a"), (2L, "t", "en", "a"),
      (22L, "t", "en", "z")))
    val r1 = Incremental.categoryDrift(spark, drift).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(r1("source").getAs[Long]("tvd_ppm") > 0L &&
      r1("lang").getAs[Long]("tvd_ppm") == 0L,
      s"new-only source must drift source, not lang: $r1")
    assert(r1("source").getAs[Long]("ndv_new") == 2L &&
      r1("source").getAs[Long]("ndv_old") == 1L)
  }

  // ---------------------------------------------------------- q218
  test("q218: a corpus equal to its own codebook has perfect recall") {
    import spark.implicits._
    // 16 far-apart corpus vectors (ids 5..20) => the 16 hash-ranked
    // seeds ARE the corpus, every vector snaps to itself, ADC equals
    // the exact distance, and PQ top-k == exact top-k for k=10.
    val dir = scratchDir("graft_pq").toString
    def vec(hot: Int, mag: Float): Seq[Float] =
      (0 until 64).map(i => if (i == hot) mag else 0.0f)
    val rows =
      (0 until 5).map(q => (q.toLong, vec(q % 16, 0.31f + q * 0.01f), 0)) ++
      (0 until 16).map(c => ((c + 5).toLong, vec(c, 0.9f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.pqRecall(spark, dir).collect()
    assert(got.length == 5)
    got.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 10L &&
        r.getAs[Long]("recall_ppm") == 1000000L,
        s"codebook-exact corpus must recall perfectly: $r")
    }
  }

  // ---------------------------------------------------------- q225
  test("q225: identical consecutive frames never cut; single frame has no transitions") {
    import graft.operators.Multimodal
    val dir = docsDir(Seq(
      (1L, "a" * 64, "en", "m"),          // one frame
      (2L, "b" * 128, "en", "m"),         // two IDENTICAL frames
      (3L, ("c" * 64) + ("d" * 64), "en", "m"))) // two distinct frames
    val got = Multimodal.sceneCuts(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_transitions"),
          r.getAs[Long]("n_cuts"),
          Option(r.get(r.fieldIndex("mean_ham_milli"))))).toMap
    assert(got(1L) == (1L, 0L, 0L, None),
      s"single frame must have null mean distance: ${got(1L)}")
    assert(got(2L) == (2L, 1L, 0L, Some(0L)),
      s"identical frames must measure distance 0: ${got(2L)}")
    val (f3, t3, _, m3) = got(3L)
    assert(f3 == 2L && t3 == 1L && m3.exists(_.asInstanceOf[Long] > 0L),
      s"distinct frames must measure a positive distance: ${got(3L)}")
  }

  // ---------------------------------------------------------- q226
  test("q226: midnight-straddling session counts once, on its first day") {
    import spark.implicits._
    import graft.operators.Events
    val us = 1000L // store nanos; Tables.events re-types to micros
    val day = 86400000000L
    val dir = scratchDir("graft_bounce").toString
    // u1: one 2-event session early day 0; one 2-event session
    // straddling midnight (gap 15 min < 30 min) starting day 0;
    // u2: a single-event bounce on day 1
    Seq(
      (1L, 1L, 1000000L), (2L, 1L, 601000000L),
      (3L, 1L, day - 600000000L), (4L, 1L, day + 300000000L),
      (5L, 2L, day + 1000000L))
      .map { case (id, u, ts) => (id, u, ts * us) }
      .toDF("event_id", "user_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = Events.bounceRate(spark, dir).collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounce"),
          r.getAs[Long]("n_events"), r.getAs[Long]("depth_milli"))).toMap
    assert(got(0L) == (2L, 0L, 4L, 2000L),
      s"straddling session must land on day 0 only: ${got(0L)}")
    assert(got(1L) == (1L, 1L, 1L, 1000L), s"day-1 bounce: ${got(1L)}")
  }

  // ---------------------------------------------------------- q227
  test("q227: constant text is 0 bits; a fair two-char mix is 1 bit") {
    val dir = docsDir(Seq((1L, "aaaaaaaa", "en", "mono"),
      (2L, "abababab", "en", "duo")))
    val got = TextAnalysis.charEntropy(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_distinct_chars"),
          r.getAs[Double]("entropy_bits"))).toMap
    assert(got("mono") == (1L, 0.0), s"constant: ${got("mono")}")
    assert(got("duo") == (2L, 1.0), s"fair binary mix: ${got("duo")}")
  }

  /** Full-schema synthetic events table. */
  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = scratchDir("graft_ev").toString
    rows.map { case (id, u, tsUs, et, v) => (id, u, tsUs * 1000L, et, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  // ---------------------------------------------------------- q228
  test("q228: revenue accumulates along the cohort age axis") {
    import graft.operators.Events
    val wk = 604800000000L
    // u1 signs up week 0: buys 2.00 at age 0, 3.00 at age 1;
    // u2 signs up week 0, never buys; u3 signs up week 1, buys 1.00
    val dir = eventsDir(Seq(
      (1L, 1L, 10L, "purchase", 2.0), (2L, 1L, wk + 10L, "purchase", 3.0),
      (3L, 2L, 20L, "view", 0.0), (4L, 3L, wk + 20L, "purchase", 1.0)))
    val got = Events.cohortLtv(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("age_week")) ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_cohort_users"),
          r.getAs[Long]("cum_rev_cents"), r.getAs[Long]("ltv_millicents")))
      .toMap
    assert(got((0L, 0L)) == (2L, 2L, 200L, 100000L), s"w0a0: ${got((0L, 0L))}")
    assert(got((0L, 1L)) == (1L, 2L, 500L, 250000L),
      s"cumulative 5.00 over 2 members: ${got((0L, 1L))}")
    assert(got((1L, 0L)) == (1L, 1L, 100L, 100000L), s"w1a0: ${got((1L, 0L))}")
  }

  // ---------------------------------------------------------- q229
  test("q229: empty cells are reported as zeros and a lone spike peaks") {
    import graft.operators.Events
    // all events in one (dow, hod) cell: epoch day 0 is Thursday
    // (dow = 4), hour 5
    val h = 3600000000L
    val dir = eventsDir((1L to 10L).map(i =>
      (i, i, 5L * h + i * 1000L, "view", 1.0)))
    val rows = Events.seasonalProfile(spark, dir).collect()
    assert(rows.length == 168, s"grid must be complete: ${rows.length}")
    val hot = rows.filter(_.getAs[Long]("n") > 0L)
    assert(hot.length == 1 &&
      hot.head.getAs[Long]("dow") == 4L && hot.head.getAs[Long]("hod") == 5L &&
      hot.head.getAs[Boolean]("peak") &&
      hot.head.getAs[Long]("share_ppm") == 1000000L, s"${hot.toSeq}")
    assert(rows.filter(!_.getAs[Boolean]("peak")).length == 167)
  }

  // ------------------------------------------------------ q237-q240
  test("q237: labels partition cleanly and negatives avoid known positives") {
    import graft.operators.{Dedup, Pipeline}
    val rows = Pipeline.contrastivePairs(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("anchor_id") != r.getAs[Long]("partner_id"),
        s"self pair: $r")
    }
    val pos = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val negPairs = rows.filter(_.getAs[Long]("label") == 0L)
      .map(r => (math.min(r.getAs[Long]("anchor_id"), r.getAs[Long]("partner_id")),
        math.max(r.getAs[Long]("anchor_id"), r.getAs[Long]("partner_id"))))
    assert(negPairs.forall(p => !pos.contains(p)),
      "a negative must never be a known near-dup pair")
    val emitted = rows.filter(_.getAs[Long]("label") == 1L)
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("partner_id"))).toSet
    assert(emitted == pos, "positives must be exactly the q22 pair set")
  }

  test("q238: a constant dimension calibrates to zero error; bounds hold") {
    import spark.implicits._
    val dir = scratchDir("graft_sq8").toString
    // dim 0 constant 0.5; dim 1 spans [-0.5, 0.5]
    val rows: Seq[(Long, Seq[Float], Int)] = (0L to 9L).map { i =>
      (i, (0 until 64).map(j => if (j == 0) 0.5f
        else if (j == 1) -0.5f + i * (1.0f / 9) else 0.0f), 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.sq8Calibration(spark, dir).collect()
      .map(r => r.getAs[Long]("pos") ->
        (r.getAs[Long]("mn_micro"), r.getAs[Long]("mx_micro"),
          r.getAs[Long]("mean_err2_micro2"), r.getAs[Long]("max_abs_err_micro")))
      .toMap
    assert(got(0L) == (500000L, 500000L, 0L, 0L),
      s"constant dim must be exact: ${got(0L)}")
    val (mn1, mx1, _, maxErr1) = got(1L)
    assert(mn1 == -500000L && mx1 == 500000L &&
      maxErr1 <= (mx1 - mn1) / 510 + 1,
      s"8-bit error must respect the half-step bound: ${got(1L)}")
  }

  test("q239: positions are dense per shard and epochs decorrelate") {
    import graft.operators.Sampling
    val rows = Sampling.epochShuffle(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard"),
        r.getAs[Long]("position"), r.getAs[Long]("doc_id")))
    val n = rows.count(_._1 == 0L)
    assert(rows.length == 2 * n, "every doc appears once per epoch")
    rows.groupBy(r => (r._1, r._2)).foreach { case (k, g) =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq,
        s"positions must be dense in $k")
    }
    val e0 = rows.filter(_._1 == 0L).map(r => r._4 -> (r._2, r._3)).toMap
    val e1 = rows.filter(_._1 == 1L).map(r => r._4 -> (r._2, r._3)).toMap
    assert(e0.keySet == e1.keySet &&
      e0.count { case (id, v) => e1(id) != v } > n / 2,
      "epoch orders must actually differ")
  }

  test("q240: fill plus waste accounts for every budgeted slot") {
    import graft.operators.Pipeline
    val rows = Pipeline.packingEfficiency(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fp = r.getAs[Long]("fill_ppm"); val wp = r.getAs[Long]("waste_ppm")
      assert(fp > 0 && fp + wp >= 999998L,
        s"underfilled chunks must be fully accounted: $r")
    }
  }

  // ------------------------------------------------------ q234-q236
  test("q234/q235: books balance, mismatches and impossible latencies surface") {
    import spark.implicits._
    import graft.operators.Relational
    val dir = scratchDir("graft_whse").toString
    val d0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // order 1 (status O): one line, charge == header => clean
    // order 2 (status F): one line, header off by 5 cents => mismatch;
    //   its line ships BEFORE the order date => impossible latency
    // order 3 (status O): no lines at all => lineless
    Seq((1L, 1L, "O", 110.0, d0), (2L, 1L, "F", 100.05, d0),
      (3L, 2L, "O", 50.0, d0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1, 1.0, 100.0, 0.0, 0.10, ts("2020-01-11")),
      (2L, 1L, 1, 1.0, 100.0, 0.0, 0.0, ts("2019-12-30")))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val rec = Relational.reconciliation(spark, dir).collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("n_lineless"),
          r.getAs[Long]("n_mismatched"), r.getAs[Long]("max_delta_cents")))
      .toMap
    assert(rec("O") == (2L, 1L, 1L, 5000L),
      s"status O: clean order + the lineless one (delta = its header): ${rec("O")}")
    assert(rec("F") == (1L, 0L, 1L, 5L), s"5-cent mismatch: ${rec("F")}")
    val lat = Relational.shipLatency(spark, dir).collect().head
    assert(lat.getAs[Long]("n_lines") == 2L &&
      lat.getAs[Long]("n_impossible") == 1L &&
      lat.getAs[Long]("max_days") == 10L, s"latency: $lat")
  }

  test("q236: exact integer billed-vs-retail ratio per brand") {
    import spark.implicits._
    import graft.operators.Relational
    val dir = scratchDir("graft_price").toString
    val d = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    // brand A: billed exactly retail*qty (ratio 1e6, in band);
    // brand B: billed at half retail (ratio 5e5, out of band)
    Seq((1L, 1L, 1, 2.0, 20.0, 0.0, 0.0, d),
      (2L, 2L, 1, 1.0, 5.0, 0.0, 0.0, d))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "A", 10.0), (2L, "B", 10.0))
      .toDF("p_partkey", "p_brand", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    val got = Relational.priceConsistency(spark, dir).collect()
      .map(r => r.getAs[String]("p_brand") ->
        (r.getAs[Long]("mean_ratio_ppm"), r.getAs[Long]("n_out_of_band")))
      .toMap
    assert(got("A") == (1000000L, 0L), s"brand A at par: ${got("A")}")
    assert(got("B") == (500000L, 1L), s"brand B half-billed: ${got("B")}")
  }

  // ---------------------------------------------------------- q231
  test("q231: bin-selected per-group quantiles equal the brute ranks") {
    import graft.operators.Sketch
    // type a: cents 1..100 => p50 = 50, p95 = 95, p99 = 99;
    // type b: cents 1..10  => p50 = 5,  p95 = 10, p99 = 10
    val dir = eventsDir(
      (1L to 100L).map(i => (i, i, i * 1000L, "a", i / 100.0)) ++
      (1L to 10L).map(i => (100L + i, i, i * 1000L, "b", i / 100.0)))
    val got = Sketch.groupQuantileBands(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("q_label")) ->
        (r.getAs[Long]("exact_cents"), r.getAs[Long]("est_cents"))).toMap
    assert(got(("a", "p50")) == (50L, 99L) && got(("a", "p95")) == (95L, 99L)
      && got(("a", "p99")) == (99L, 99L), s"type a: $got")
    assert(got(("b", "p50")) == (5L, 99L) && got(("b", "p99")) == (10L, 99L),
      s"type b: $got")
  }

  // ---------------------------------------------------------- q232
  test("q232: near-tied second language flags mixed; clear margins don't") {
    val dir = docsDir(Seq(
      (1L, "the the und und x", "en", "a"),  // en 2 / de 2: tie => mixed
      (2L, "the the the und x", "en", "a"),  // en 3 / de 1: clear
      (3L, "the of and a x y", "en", "a")))  // en 4 / others 0: s2 < 2
    val got = TextAnalysis.codeSwitch(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("top_lang"), r.getAs[String]("second_lang"),
          r.getAs[Boolean]("mixed"))).toMap
    assert(got(1L) == (("de", "en", true)),
      s"tie breaks to 'de' (lang asc) and flags mixed: ${got(1L)}")
    assert(got(2L) == (("en", "de", false)), s"clear margin: ${got(2L)}")
    assert(!got(3L)._3, s"second score below 2 never flags: ${got(3L)}")
  }

  // ---------------------------------------------------------- q233
  test("q233: a single far vector among tight inliers is the one outlier") {
    import spark.implicits._
    val dir = scratchDir("graft_outl").toString
    def axis(i: Int, mag: Float): Seq[Float] =
      (0 until 64).map(j => if (j == i) mag else 0.0f)
    // label 0: 19 identical inliers + 1 far vector (n = 20 so the
    // mean-pull identity at n = 10 doesn't sit exactly on the 9x
    // boundary); label 1: all identical => zero distances, no outlier
    val rows: Seq[(Long, Seq[Float], Int)] =
      (1L to 19L).map(id => (id, axis(1, 0.1f), 0)) ++
      Seq((20L, axis(0, 0.9f), 0)) ++
      (21L to 25L).map(id => (id, axis(2, 0.5f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embedOutliers(spark, dir).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_outliers"),
          r.getAs[Long]("worst_vec_id"))).toMap
    assert(got(0) == (20L, 1L, 20L), s"label 0: ${got(0)}")
    assert(got(1) == (5L, 0L, 21L), s"identical vectors: ${got(1)}")
  }

  // ---------------------------------------------------------- q224
  test("q224: MMR demotes an exact duplicate below a diverse hit") {
    import spark.implicits._
    val dir = scratchDir("graft_mmr").toString
    def axis(i: Int, mag: Float): Seq[Float] =
      (0 until 64).map(j => if (j == i) mag else 0.0f)
    val queryVec = (0 until 64).map(j =>
      if (j == 0) 0.6f else if (j == 1) 0.5f else 0.0f)
    // corpus: A (id 5) and its exact clone A' (id 6) on axis 0,
    // B (id 7) on axis 1 with lower relevance than A
    val rows: Seq[(Long, Seq[Float], Int)] =
      (0L to 4L).map(id => (id, queryVec, 0)) ++
      Seq((5L, axis(0, 0.9f), 1), (6L, axis(0, 0.9f), 1), (7L, axis(1, 0.9f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.mmrDiversify(spark, dir).filter(col("query_id") === 0)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    // rank 1: A beats its clone on the id tie-break; rank 2: the
    // clone's max-sim penalty (sim = 1.0) demotes it below the
    // diverse B despite higher relevance; rank 3: the clone; a
    // 3-candidate corpus yields 3 rows even though k = 5
    assert(got.toSeq == Seq((1L, 5L), (2L, 7L), (3L, 6L)),
      s"MMR order wrong: ${got.toSeq}")
  }

  test("q218: recall bounded and n_exact = k on the sf corpus") {
    val got = Similarity.pqRecall(spark, sfDir).collect()
    assert(got.length == 5)
    got.foreach { r =>
      val rec = r.getAs[Long]("recall_ppm")
      assert(r.getAs[Long]("n_exact") == 10L && rec >= 0L && rec <= 1000000L, s"$r")
    }
  }
}
