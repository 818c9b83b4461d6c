package graft

import org.apache.spark.sql.functions._

/** Round-16 pins: the WordPiece family (q472–q474), BH-FDR step-up
  * (q475), incremental/weighted PageRank (q476/q477), the q461
  * truncation contract, and the store-version orphan-recovery fix
  * (round-15 ADVICE).
  */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private def wordsDF(rows: (String, Long)*) =
    rows.toDF("w", "freq")

  // ---- q472: the published WordPiece/BPE training distinction —
  // likelihood score n/(c_l·c_r), NOT raw pair count. Constructed
  // corpus: pair (a,##b) has the HIGHER raw count (10 vs 8) but 'a'
  // is 10x inflated by singleton words, so the likelihood argmax is
  // (c,##d). BPE would merge ab; WordPiece must merge cd.

  test("q472: WordPiece picks the likelihood argmax, not the count argmax") {
    val words = wordsDF("ab" -> 10L, "cd" -> 8L, "a" -> 90L)
    val best = graft.operators.TextAnalysis.wpLearn(words, 1).head
      .select(col("l"), col("r"), col("n"), col("score")).collect().head
    assert(best.getString(0) == "c" && best.getString(1) == "##d")
    assert(best.getLong(2) == 8L)
    // score = 8·10¹² div (8·8) = 125 000 000 000 exactly
    assert(best.getLong(3) == 125000000000L)
    // the raw-count argmax really is the other pair (construction check)
    assert(best.getLong(2) < 10L)
  }

  test("q472: merged symbol consumes the continuation prefix") {
    val words = wordsDF("abc" -> 5L)
    val b1 = graft.operators.TextAnalysis.wpLearn(words, 2)
    // round 1 merges one adjacent pair; the merged symbol must be in
    // l's namespace with r's '##' stripped — so round 2's winning
    // pair contains a 2-char-surface symbol, never a '####'.
    val r2 = b1(1).select(col("l"), col("r")).collect().head
    val syms = Seq(r2.getString(0), r2.getString(1))
    assert(syms.forall(!_.contains("####")))
    assert(syms.exists(_.replace("##", "").length == 2))
  }

  // ---- q473: greedy longest-match-first with the positional
  // namespace — initial pieces match bare, continuations only via
  // '##'; unknown characters advance one char (UNK fallback).

  private def vocabDF(pieces: String*) = pieces.toDF("piece")

  private def segPicks(w: String, vocab: Seq[String],
      maxLen: Int = 5): Seq[(Int, Int)] =
    graft.operators.TextAnalysis
      .wpSegment(wordsDF(w -> 1L), vocabDF(vocab: _*), maxLen)
      .select(expr("transform(picks, p -> struct(p.pos, p.l))"))
      .as[Seq[(Int, Int)]].collect().head

  test("q473: longest match wins at every position") {
    // "ab" beats "a" at pos 1; "##cd" beats "##c" at pos 3
    assert(segPicks("abcd", Seq("a", "ab", "##b", "##c", "##cd", "##d"))
      == Seq((1, 2), (3, 2)))
  }

  test("q473: continuation namespace is enforced") {
    // 'cd' is in the vocab ONLY as an initial piece — at pos 3 it
    // must NOT match, so the walk falls back to 1-char continuations
    assert(segPicks("abcd", Seq("a", "cd", "##b", "##c", "##d"))
      == Seq((1, 1), (2, 1), (3, 1), (4, 1)))
  }

  test("q473: unknown characters advance one char (UNK fallback)") {
    assert(segPicks("axd", Seq("a", "##d"))
      == Seq((1, 1), (2, 1), (3, 1)))
  }

  // ---- q475: BH step-up structure — the rejection set is a prefix
  // of the p-ascending ranking and grows monotonically in α.

  test("q475: rejection set is a k-prefix and monotone in alpha") {
    val byAlpha = Seq(1L, 50L, 900L).map { a =>
      val rows = graft.operators.Eval.bhFdr(spark, sfDir, a)
        .select(col("test"), col("k"), col("reject_bh")).collect()
      // downward-closed in k: if k is rejected, every k' < k is too
      val rejectedKs = rows.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
      assert(rejectedKs == (1L to rejectedKs.size).toSet,
        s"alpha=$a: rejected ranks $rejectedKs are not a prefix")
      a -> rows.filter(_.getBoolean(2)).map(_.getString(0)).toSet
    }
    byAlpha.sliding(2).foreach { case Seq((a1, r1), (a2, r2)) =>
      assert(r1.subsetOf(r2),
        s"alpha $a1 rejected $r1 not ⊆ alpha $a2 rejected $r2")
    }
  }

  // ---- q476: the splice contract — incremental (old per-round
  // history + frontier-bounded recompute) must equal the full
  // recompute EXACTLY, on a constructed two-component graph (the
  // delta confined to one component, so the other's scores are
  // read from yesterday's frames verbatim) and on the real
  // co-purchase graph.

  test("q476: incremental equals full on a two-component graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L),
      (10L, 11L), (11L, 12L)).toDF("pa", "pb")
    def sym(e: org.apache.spark.sql.DataFrame) =
      e.select(col("pa").as("v"), col("pb").as("u"))
        .union(e.select(col("pb").as("v"), col("pa").as("u")))
    val inc = graft.operators.Relational
      .incrementalPageRankOf(edges,
        col("pa") === 1L && col("pb") === 4L, 3)
      .as[(Long, Long)].collect().toMap
    val full = graft.operators.Dedup.pageRankOf(sym(edges), 3)
      .as[(Long, Long)].collect().toMap
    assert(inc == full)
    assert(inc.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L))
  }

  test("q476: incremental equals full on the co-purchase graph") {
    val inc = graft.operators.Relational
      .incrementalPageRank(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val full = graft.operators.Relational
      .copurchasePageRank(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(inc == full)
  }

  // ---- q477: constant weights collapse to the unweighted core
  // EXACTLY ((s·w) div (deg·w) = s div deg for every integer s) —
  // the generalized regular-graph fixed-point pin.

  test("q477: constant-weight PageRank equals unweighted") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
      .toDF("pa", "pb")
    val adj = edges.select(col("pa").as("v"), col("pb").as("u"))
      .union(edges.select(col("pb").as("v"), col("pa").as("u")))
    val weighted = graft.operators.Dedup
      .weightedPageRankOf(adj.withColumn("w", lit(7L)), 4)
      .as[(Long, Long)].collect().toMap
    val plain = graft.operators.Dedup.pageRankOf(adj, 4)
      .as[(Long, Long)].collect().toMap
    assert(weighted == plain)
  }

  // ---- pageRankOf's documented precondition (round-15 ADVICE):
  // on a DIRECTED adjacency the vertex universe is the SOURCE set
  // and a source with no in-edges keeps its bare teleport base —
  // the exact asymmetry the symmetric-vertex precondition exists
  // to rule out. Pinned so the docstring's claim stays true.

  test("pageRankOf directed counterexample: source-only vertex keeps base") {
    val adj = Seq((2L, 1L)).toDF("v", "u") // edge 1 → 2; only 1 is a source
    val out = graft.operators.Dedup.pageRankOf(adj, 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 150000L)) // vertex 2 dropped, 1 at bare base
  }

  // ---- round-15 ADVICE: dropStore crash-window orphan recovery —
  // version numbering must resume from surviving name_v* dirs, not
  // restart at v0 behind a missing pointer, so orphans age into
  // "stale beyond grace" and later publishes sweep them.

  test("store versioning resumes past orphaned version dirs") {
    import graft.operators.StreamingOps.{publishStore, storeBaseDir, storePointer}
    val root = scratchDir("graft-r16-store").toString
    def pub(n: Int): Unit =
      publishStore(spark, root, "st", Seq((n, "x")).toDF("k", "v"), Seq())
    pub(0); pub(1)
    assert(storeBaseDir(root, "st").exists(_.endsWith("st_v1")))
    // simulate the dropStore crash window: pointer gone, dirs remain
    java.nio.file.Files.deleteIfExists(storePointer(root, "st"))
    pub(2)
    assert(storeBaseDir(root, "st").exists(_.endsWith("st_v2")),
      "numbering must resume at max(existing)+1, not restart at v0")
    pub(3)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    val versions = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("st_v")).toSet
    } finally dirs.close()
    // v3 live + v2 reader grace; the pre-crash v0/v1 orphans swept
    assert(versions == Set("st_v2", "st_v3"), s"got $versions")
    val back = spark.read
      .parquet(storeBaseDir(root, "st").get).as[(Int, String)].collect()
    assert(back.toSeq == Seq((3, "x")))
  }

  // ---- q461 truncation contract (round-15 ADVICE): a blob cut
  // short inside an SOF header flips the row invalid — never an
  // ArrayIndexOutOfBounds.

  test("q461: jpegMarkerWalk handles truncated and misframed SOF") {
    import graft.operators.Multimodal.jpegMarkerWalk
    val sof = Array[Int](0xff, 0xd8, 0xff, 0xc0, 0x00, 0x11, 0x08,
      0x00, 0x10, 0x00, 0x20, 0x03) ++ Array.fill(9)(0) ++
      Array(0xff, 0xd9)
    val full = sof.map(_.toByte)
    assert(jpegMarkerWalk(full) == ((32L, 16L, 3L, true)))
    // truncated INSIDE the SOF header — must not throw
    assert(jpegMarkerWalk(full.take(8))._4 == false)
    assert(jpegMarkerWalk(full.take(10))._4 == false)
    // declared length running past the blob — misframed
    val misframed = Array(0xff, 0xd8, 0xff, 0xc0, 0x7f, 0xff, 0x08)
      .map(_.toByte)
    assert(jpegMarkerWalk(misframed)._4 == false)
    // declared length too short to hold an SOF payload
    val shortLen = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x04, 0x08,
      0x00, 0xff, 0xd9).map(_.toByte)
    assert(jpegMarkerWalk(shortLen)._4 == false)
  }
}
