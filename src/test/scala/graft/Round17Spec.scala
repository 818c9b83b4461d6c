package graft

import org.apache.spark.sql.functions._

/** Round-17 pins: graph-ANN beam search (q478), one-level
  * modularity communities (q479), and the streaming incremental-
  * PageRank protocol (q480) — determinism, synchronous-move
  * semantics, and batch-replay idempotence respectively.
  */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  // ---- q478: beam-search determinism — every ranking uses the
  // (cos desc, id asc) total order over IEEE doubles built from
  // exact integer dots, so two runs must land byte-identical rows.

  test("q478: beam search is deterministic and k-bounded per query") {
    val a = graft.operators.Similarity.graphAnnBeam(spark, sfDir)
      .collect().toSeq
    val b = graft.operators.Similarity.graphAnnBeam(spark, sfDir)
      .collect().toSeq
    assert(a.nonEmpty && a.toSet == b.toSet, "two runs diverged")
    val perQuery = a.groupBy(_.getLong(0))
    perQuery.foreach { case (q, rows) =>
      assert(rows.size <= 5, s"query $q emitted ${rows.size} > k rows")
      assert(rows.map(_.getLong(1)).sorted == (1L to rows.size).toList,
        s"query $q ranks not contiguous")
      val rp = rows.map(_.getLong(4)).distinct
      assert(rp.size == 1 && rp.head >= 0L && rp.head <= 1000000L,
        s"query $q recall_ppm $rp out of range")
    }
  }

  test("q478: beam rounds only improve the found set (recall sanity)") {
    // Per-query recall > 0 is NOT guaranteed at the sf0.001 toy
    // corpus — the LSH candidate graph there is sparse enough that
    // an entry point can strand a query (measured: query 2 lands 0
    // while the rest land 200k–600k ppm) — so pin the aggregate:
    // the beam must find SOME of the exact top-k, and every
    // per-query value must be a valid ppm.
    val rec = graft.operators.Similarity.graphAnnBeam(spark, sfDir)
      .select(col("query_id"), col("recall_ppm")).distinct()
      .as[(Long, Long)].collect().toMap
    assert(rec.nonEmpty && rec.values.sum > 0L,
      s"the beam found none of the exact top-k anywhere: $rec")
    assert(rec.values.forall(v => v >= 0L && v <= 1000000L), s"$rec")
  }

  // ---- q479: synchronous one-level modularity moves — two
  // triangles bridged by one edge must split into the two obvious
  // communities, with exact integer stats.

  test("q479: louvain one level separates two bridged triangles") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), // triangle A
      (4L, 5L), (4L, 6L), (5L, 6L), // triangle B
      (3L, 4L)                      // bridge
    ).toDF("pa", "pb")
    val out = graft.operators.Dedup.louvainOneLevelOf(edges, 4)
      .orderBy(col("community"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 3L), (4L, 3L)),
      s"expected two 3-member communities rooted at 1 and 4: $out")
    // triangle A: members 1,2,3 → degrees 2+2+3 = 7, 3 internal
    // edges; m = 7 ⇒ q_num = 4·7·3 − 49 = 35
    val a = out.find(_._1 == 1L).get
    assert(a._3 == 7L && a._4 == 3L && a._5 == 35L, s"A stats: $a")
  }

  test("q479: result is invariant to edge-frame row order") {
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    val out1 = graft.operators.Dedup
      .louvainOneLevelOf(e1.toDF("pa", "pb"), 4).collect().toSet
    val out2 = graft.operators.Dedup
      .louvainOneLevelOf(e1.reverse.toDF("pa", "pb").repartition(3), 4)
      .collect().toSet
    assert(out1 == out2, "synchronous moves must be order-invariant")
  }

  // ---- q480: the streaming protocol driven batch-by-batch —
  // replaying a batch must hit spliceRounds' fixed point, and the
  // final round frame must equal the full recompute on all edges.

  test("q480: batch replay is idempotent and final equals full recompute") {
    import graft.operators.{Dedup, Relational, StreamingOps}
    val root = scratchDir("graft-r17-pr").toString
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (2L, 5L), (1L, 6L), (2L, 6L)
    ).toDF("pa", "pb")
    val iters = 3
    val slice = (col("pa") * 31 + col("pb")) % 3
    StreamingOps.initIncrementalPageRank(spark, root,
      edges.filter(slice === 0), iters)
    for (b <- Seq(1L, 2L, 2L, 1L)) // 2 and 1 replayed out of order
      StreamingOps.incrementalPageRankBatch(spark, root,
        edges.filter(slice === b), iters)
    val streamed = spark.read.parquet(
        StreamingOps.storeBaseDir(root, "prstate").get)
      .filter(col("kind") === "s" && col("round") === iters)
      .select(col("a").as("v"), col("b").as("s"))
      .as[(Long, Long)].collect().toMap
    val full = Dedup.pageRankOf(Relational.symEdges(edges), iters)
      .as[(Long, Long)].collect().toMap
    assert(streamed == full,
      s"stream ≠ batch:\nstream=$streamed\nfull=$full")
  }

  test("q480: state store holds edges and every round frame consistently") {
    import graft.operators.StreamingOps
    val root = scratchDir("graft-r17-pr2").toString
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("pa", "pb")
    StreamingOps.initIncrementalPageRank(spark, root, edges, 2)
    val st = spark.read.parquet(
      StreamingOps.storeBaseDir(root, "prstate").get)
    assert(st.filter(col("kind") === "e").count() == 2L)
    // rounds 0..2 all present, each covering the 3 vertices
    (0 to 2).foreach { r =>
      assert(st.filter(col("kind") === "s" && col("round") === r)
        .count() == 3L, s"round $r frame incomplete")
    }
  }

  // ---- round-17 ADVICE: the WordPiece apply cap now derives from
  // the frozen vocab, so a compounded merge longer than rounds+1
  // surface chars still matches at apply.

  test("wpMaxPieceLen reads the longest surface form in the vocab") {
    import graft.operators.TextAnalysis
    val vocab = Seq("a", "##b", "abcdef", "##cdefgh")
      .toDF("piece")
    // bare 'abcdef' = 6; '##cdefgh' = 8 − 2 = 6 ⇒ max 6
    assert(TextAnalysis.wpMaxPieceLen(vocab) == 6)
  }
}
