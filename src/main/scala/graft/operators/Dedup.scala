package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators (SURVEY §2.C) over the documents table.
  *
  * Scale design: nothing here is O(n²) over the corpus.
  *  - exact dedup: hash groupBy (one shuffle of |docs| hashes);
  *  - jaccard near-dup: shingle inverted index — only pairs sharing
  *    ≥1 shingle are scored, bounded by shingle-posting-list joins;
  *  - MinHash+LSH: banding shrinks candidates further — at 100 TB the
  *    band join touches only colliding buckets.
  */
object Dedup {

  /** q20: exact dedup via content hash — representative = min doc_id. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))

  /** q21: exact n-gram Jaccard near-dup pairs (threshold 0.5) via a
    * PREFIX-FILTERED shingle inverted index (Bayardo/Chaudhuri
    * AllPairs): shingles are globally ordered by (doc-frequency,
    * shingle); each doc indexes only its |sh| − ⌈t·|sh|⌉ + 1 rarest
    * shingles. Two sets with Jaccard ≥ t must collide inside those
    * prefixes (symmetric-prefix theorem), so recall is exactly 100%
    * while stop-shingles — the posting-list skew risk at 100 TB —
    * almost never enter an index: a hot shingle is indexed only when
    * a doc has nothing rarer, and the `postingCap` guard bounds even
    * that degenerate case (exact dedup q20/q49 upstream removes the
    * identical-text corpora where every prefix is hot). Candidates
    * are then verified with an exact array_intersect on the full
    * shingle sets — never a cross join, never an unbounded posting
    * self-join. */
  def ngramJaccard(s: SparkSession, dir: String, threshold: Double = 0.5,
      postingCap: Int = Int.MaxValue): DataFrame =
    ngramJaccardOf(Tables.documents(s, dir), threshold, postingCap)

  /** Same operator over any (doc_id, text) DataFrame. */
  def ngramJaccardOf(docs: DataFrame, threshold: Double = 0.5,
      postingCap: Int = Int.MaxValue): DataFrame =
    // r18: the r17 bare Tables.spread here was a measured net LOSS
    // at the ground-truth SF (q21 3.9→5.6 s, x_skew_boilerplate
    // +2 s — VERDICT r17 "What's wrong" #2): it re-paid the
    // round-robin exchange in EVERY one of the five subtrees that
    // consume the shingle frame (prefix chain, 2 hashed-verify
    // lookups, 2 exact-verify lookups) while still re-shingling the
    // corpus five times. Fix per guide §1.2 (don't compute things
    // twice): shingle ONCE — wide, text rows spread before the
    // extraction — and pin the frame; all five consumers read the
    // materialized partitions. Same seam q133 already used.
    ngramJaccardShingles(
      Tables.spread(docs.sparkSession, docs)
        .select(col("doc_id"), shingles3(col("text")).as("sh"))
        .localCheckpoint(),
      threshold, postingCap)

  /** Same operator over a PRE-EXTRACTED (doc_id, sh) shingle frame —
    * the shared-extraction seam: q133 computes the shingle frame once
    * (checkpointed) and feeds this index AND q22's signatures, instead
    * of each blocker re-reading and re-shingling the corpus. */
  def ngramJaccardShingles(t: DataFrame, threshold: Double = 0.5,
      postingCap: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Candidate generation runs on xxhash64(shingle) longs, not the
    // 3-word strings — the two window sorts and the posting groupBy
    // shuffle 8-byte keys instead of ~30-byte strings. Sound: the
    // prefix theorem needs any consistent global element order, and a
    // hash collision only MERGES posting lists (extra candidates that
    // exact verification discards), never loses one.
    val ex = t.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    // doc-frequency as a count-over-window: one shuffle on shingle
    // hash, no separate aggregate + re-join of the exploded table
    val wd = Window.partitionBy(col("doc_id"))
    val prefix = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .withColumn("rk", row_number().over(wd.orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(wd))
      .filter(col("rk") <= col("n") - ceil(col("n") * threshold) + 1)
    val pairs = prefix
      .groupBy(col("h")).agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, postingCap))
      .select(explode(col("ds")).as("d1"), col("ds"))
      .select(col("d1"), explode(col("ds")).as("d2"))
      .filter(col("d1") < col("d2"))
      .distinct()
    // Two-stage verification. Stage 1 prunes with hashed arrays:
    // |hashset(A)∩hashset(B)| ≥ |A∩B| — up to the ~2^-64 chance that
    // two distinct common shingles collide under xxhash64
    // (array_intersect counts distinct hashes), so jaccard on hashes
    // upper-bounds true jaccard modulo that negligible caveat; 8-byte
    // elements reach millions of candidates cheaply. Stage 2 runs
    // the exact string intersect on the few survivors.
    // Join shape: the lookup tables carry SHUFFLE_HASH hints, not
    // broadcast() — a broadcast hint is honored regardless of size
    // and would ship the corpus-sized shingle table to the driver
    // and every executor at 100 TB, while a sort-merge join (the
    // size-based fallback) sorts the multi-million-row candidate
    // stream per join (measured 3-6x slowdown at an 8x corpus:
    // ScaleProbe). Shuffle-hash keeps the equi-join shape, builds
    // its per-partition hash map over |corpus|/P rows (bounded by
    // partitioning, spillable), and never sorts the candidates.
    val t2 = t.select(col("doc_id"),
      transform(col("sh"), x => xxhash64(x)).as("hs"), size(col("sh")).as("n"))
      .hint("shuffle_hash")
    val survivors = pairs
      .join(t2.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n").as("n1")), "d1")
      .join(t2.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n").as("n2")), "d2")
      // length filter: jaccard ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|)
      .filter(least(col("n1"), col("n2")) >= ceil(greatest(col("n1"), col("n2")) * threshold))
      .withColumn("ch", size(array_intersect(col("hs1"), col("hs2"))))
      .filter(col("ch").cast("double") / (col("n1") + col("n2") - col("ch")) >= threshold)
      .select(col("d1"), col("d2"))
    survivors
      .join(t.hint("shuffle_hash").select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(t.hint("shuffle_hash").select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("common").cast("double") / (size(col("sh1")) + size(col("sh2")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** q201: dedup THRESHOLD-SWEEP — the knob-tuning curve run BEFORE
    * committing a 100 TB dedup pass: how many near-dup pairs, and
    * how much of the corpus, does each Jaccard threshold implicate?
    * (0.9 removes only true near-copies; 0.3 starts eating
    * templated-but-distinct docs — this table is the data for that
    * decision, the dedup analogue of q171's nprobe sweep.) ONE pair
    * generation at the LOOSEST threshold (q21's exact AllPairs —
    * 100% recall at minThreshold, hence for every tighter one), then
    * every threshold's counts from that one pair set: a 7-row
    * threshold table nested-loop-joined (broadcast, bounded ×7
    * fan-out) onto the pairs, never a re-run per threshold. Pair
    * doubles are ratios of exact integers ⇒ the ≥ i/10 gates replay
    * identically. Output: 7 rows — pairs, distinct docs implicated,
    * corpus fraction. */
  def dedupThresholdSweep(s: SparkSession, dir: String,
      minThreshold: Double = 0.3): DataFrame = {
    val p = ngramJaccard(s, dir, minThreshold)
    val th = s.range(3, 10).select(col("id").as("i"))
    val hit = broadcast(th).join(p, col("jaccard") >= col("i") / lit(10.0))
    val pairsPer = hit.groupBy(col("i")).agg(count(lit(1)).as("n_pairs"))
    val docsPer = hit
      .select(col("i"), explode(array(col("d1"), col("d2"))).as("d"))
      .groupBy(col("i")).agg(countDistinct(col("d")).as("n_docs_hit"))
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    th.join(pairsPer, Seq("i"), "left").join(docsPer, Seq("i"), "left")
      .crossJoin(broadcast(nd))
      .select((col("i") * 100000L).as("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        expr("coalesce(n_docs_hit, 0) * 1000000 div nd").as("hit_frac_ppm"))
  }

  /** q207: k-CORE of the near-dup graph — the dense-duplication
    * extractor between q59 (components: any connectivity) and q129
    * (triangles: local cohesion): the k-core is what remains after
    * repeatedly peeling nodes with degree < k, isolating the
    * template/boilerplate clusters where every member has ≥ k
    * near-dup partners (chains and stars peel away — exactly the
    * banding artifacts q129's docs warn about). Peeling runs a
    * FIXED `rounds` count so both engines compute the identical
    * relation (a data-dependent fixpoint loop would diverge between
    * engines whenever their iteration counts differ); the
    * `converged` audit column reports whether the peel actually
    * reached the fixpoint (min surviving degree ≥ k) — at 100 TB
    * you raise `rounds` when it says false, instead of silently
    * shipping a partial core. Each round: one degree agg + two
    * id-keyed shuffle-hash semi-joins on the shrinking edge set —
    * cost is rounds × |edges|, never quadratic. Each round
    * localCheckpoints (the q59/q94 iteration policy): the round
    * references `cur` three times, so an unbroken lineage would
    * re-execute the banding 3^rounds times. */
  def kCore(s: SparkSession, dir: String, k: Int = 2,
      rounds: Int = 6): DataFrame =
    kCoreOf(minhashLsh(s, dir), k, rounds)

  /** [[kCore]] over an arbitrary (d1, d2) undirected edge list —
    * the generic seam (same policy as [[components]]). */
  def kCoreOf(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var cur = edges.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(edges.select(col("d2").as("a"), col("d1").as("b")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = cur.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a"))
      cur = cur
        .join(keep.hint("shuffle_hash"), Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")).hint("shuffle_hash"),
          Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    val f = cur.groupBy(col("a").as("doc_id"))
      .agg(count(lit(1)).as("core_degree"))
    f.crossJoin(broadcast(
      f.agg(coalesce(min(col("core_degree")) >= k, lit(true)).as("converged"))))
  }

  /** Per-doc LSH band keys: 8 md5-family minhashes (one native pass —
    * [[org.apache.spark.sql.graft.MinHashMd5]]), 4 bands × 2 rows. */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    minhashBandsOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** [[minhashBands]] over an arbitrary (doc_id, text) frame — the
    * band-index builder the persisted-index path (q111) writes once
    * and the per-corpus queries compute inline. */
  def minhashBandsOf(docs: DataFrame): DataFrame =
    // r18: spread the (doc_id, text) rows BEFORE shingling — the
    // 8-md5-per-shingle signature pass is the hottest loop in this
    // family and otherwise runs on however few partitions the scan
    // yields, but the r17 fix (spreading the SHINGLE frame inside
    // minhashBandsOfShingles) paid the exchange on the exploded
    // arrays — the guide §8 anti-pattern and the driver-measured
    // q133 blow-up. Shuffling the raw text rows instead moves ~10x
    // fewer bytes and leaves the checkpointed-shingle seam (q133)
    // free to pre-partition its own input. Identity at cluster
    // scale (input-derived target, see Tables.spread).
    minhashBandsOfShingles(
      Tables.spread(docs.sparkSession, docs)
        .select(col("doc_id"), shingles3(col("text")).as("sh")))

  /** [[minhashBandsOf]] over a pre-extracted (doc_id, sh) shingle
    * frame — the q133 shared-extraction seam. */
  def minhashBandsOfShingles(sh: DataFrame): DataFrame = {
    // r18: the r17 Tables.spread here is REMOVED (VERDICT r17 "Next
    // #1" names this exact seam): it round-robin-shuffled the full
    // shingle ARRAYS (the heavy payload — guide §8's anti-pattern)
    // to parallelize a hash pass whose banding posting-join shuffles
    // immediately after anyway, and on the q133 shared checkpointed
    // seam it was the driver-measured 7.9→39.9 s blow-up.
    val withSig = sh
      .withColumn("hs", org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col("hs")(2 * b), col("hs")(2 * b + 1)).cast("binary")).as("band_key"))
    }: _*)
    withSig
      .select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
  }

  /** q22: MinHash+LSH candidate pairs — docs sharing ≥1 band bucket. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // r18 (guide §1.2): pin the banded frame — the self-join below
    // otherwise computes the 8-md5 signature pass TWICE (once per
    // side), and every graph query built on these candidate pairs
    // (components, k-core, BFS, label propagation, PageRank) paid
    // the double pass through this seam. 4 small rows per doc.
    val bands = minhashBands(s, dir).localCheckpoint()
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** q153: LSH RECALL audit — the measured miss rate of the MinHash
    * band index (q22) against ground truth (q21's AllPairs pairs,
    * which are EXACT for the threshold: 100% recall by the prefix
    * theorem), broken out by Jaccard decile. This is the empirical
    * s-curve 1−(1−s^r)^b that the banding parameters (r=2 rows,
    * b=4 bands here) only promise analytically — at 100 TB you run
    * this audit on a slice BEFORE trusting the cheap index for the
    * corpus, because every missed pair is a duplicate that survives
    * dedup and a leak q146 then has to catch. One id-keyed left join
    * between the two pair sets + one bounded agg (≤6 decile rows);
    * cost is dominated by the two generators it audits. Expected
    * shape: recall climbs toward 1.0 as similarity → 1 (near-exact
    * dups are almost never missed; borderline-threshold pairs are
    * where LSH leaks). */
  def lshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccard(s, dir)
    val cand = minhashLsh(s, dir).withColumn("found", lit(1L))
    exact.join(cand, Seq("d1", "d2"), "left")
      .groupBy(floor(col("jaccard") * 10).as("sim_band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select(col("sim_band"), col("n_exact"), col("n_found"),
        round(col("n_found") / col("n_exact").cast("double"), 4).as("recall"))
  }

  /** q170: dedup-graph DEGREE-DISTRIBUTION audit — the graph-health
    * observability every pair-graph consumer (q59 components, q94
    * rank, q129 triangles) wants BEFORE it runs: the degree
    * histogram is where pathologies show as data — a fat tail means
    * a boilerplate mega-cluster forming (q110's territory, and the
    * thing that makes q129's wedge volume cluster³), degree 0 is
    * the singleton mass dedup will pass through untouched. One
    * count per node over the symmetrized edge list + one histogram
    * agg on the BOUNDED degree domain; singletons counted by
    * subtraction from the corpus total (never materialized). Output
    * ≤ max-degree rows: degree, node count, corpus fraction. */
  def degreeAudit(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashLsh(s, dir)
    val deg = edges.select(col("d1").as("v"))
      .unionAll(edges.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val connected = hist.agg(sum(col("n_nodes")).as("n_connected"))
    val zero = total.crossJoin(connected)
      .select(lit(0L).as("degree"),
        (col("n_docs") - col("n_connected")).as("n_nodes"))
    hist.unionByName(zero)
      .crossJoin(broadcast(total))
      .select(col("degree"), col("n_nodes"),
        round(col("n_nodes") / col("n_docs").cast("double"), 4).as("frac"))
  }

  /** q129: triangle count + global clustering coefficient over the
    * near-dup pair graph (q22's edges) — the cohesion audit that
    * separates tight duplicate cliques (high clustering: every pair
    * verified against every other) from chain-like banding artifacts
    * (low clustering: A~B~C hits without A~C — transitive-merge risk
    * for q59's components). Distributed shape is the classic
    * degree-ordered enumeration: orient every edge toward its higher
    * (deg, id) endpoint — out-degree is then O(√m) — so the wedge
    * self-join on the source vertex is Σ d_out², and each triangle is
    * counted exactly once, centered at its lowest-ordered corner.
    * Every step an equi-join or agg (degree lookups shuffle-hash by
    * id); never node × node. n_wedges is Σ C(deg,2) from the degree
    * frame alone; clustering = 3·triangles / wedges. */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    triangleCountOf(minhashLsh(s, dir))

  private[graft] def triangleCountOf(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("d1").as("node"))
      .union(edges.select(col("d2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.toDF("d1", "deg1").hint("shuffle_hash"), "d1")
      .join(deg.toDF("d2", "deg2").hint("shuffle_hash"), "d2")
    val lower = struct(col("deg1"), col("d1")) < struct(col("deg2"), col("d2"))
    val oriented = withDeg.select(
      when(lower, col("d1")).otherwise(col("d2")).as("s"),
      when(lower, col("d2")).otherwise(col("d1")).as("t"),
      when(lower, col("deg2")).otherwise(col("deg1")).as("td"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          struct(col("e1.td"), col("e1.t")) < struct(col("e2.td"), col("e2.t")))
      .select(col("e1.t").as("v"), col("e2.t").as("w"))
    val closed = wedges.join(
        oriented.select(col("s").as("v"), col("t").as("w")).hint("shuffle_hash"),
        Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sizes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val ecount = edges.agg(count(lit(1)).as("n_edges"))
    // three single-row frames — the scalar cross-join-of-one pattern
    sizes.crossJoin(ecount).crossJoin(closed)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges").cast("double"), 4))
          .as("clustering"))
  }

  /** q59: dedup cluster assignment — connected components over the
    * MinHash-LSH candidate pair graph (q22's edges), by iterative
    * min-label propagation: every vertex repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint.
    * This is the step that turns pairwise near-dup hits into "keep
    * one doc per cluster" decisions. Each iteration is one join + one
    * groupBy (all distributed; the driver sees only a change count),
    * converging in ≤ component-diameter rounds; lineage is truncated
    * per round with localCheckpoint so plans stay constant-size. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    components(minhashLsh(s, dir))

  /** Connected components over an undirected (d1, d2) edge list.
    *
    * Default: iterative min-label propagation — every vertex adopts
    * the smallest label among itself and its neighbors; ≤ diameter
    * rounds, each one join + one agg, all distributed (the driver
    * sees only change counts; localCheckpoint truncates lineage so
    * plans stay constant-size). LSH dedup graphs are near-cliques
    * (tiny diameter), so this is the right default.
    *
    * Fault-tolerance note on the localCheckpoint policy: a
    * localCheckpoint pins blocks on the executors WITHOUT a
    * recompute lineage — if an executor is lost mid-iteration the
    * job fails and restarts from the start, which is the right trade
    * for these gates (minutes of work, local mode, no distributed
    * FS round-trip per round). A 1000-executor run iterating for
    * hours should flip to reliable `checkpoint()` into the cluster's
    * checkpoint dir (same lineage-truncation effect, executor-loss
    * survivable at the cost of a DFS write per round) — the policy
    * is a one-line swap at each localCheckpoint site.
    *
    * `pointerDoubling = true` interleaves a label-shortcutting step —
    * l(v) ← l(l(v)), valid because labels are always vertex ids of
    * the same component — which halves remaining path lengths per
    * round (the pointer-doubling idea behind large-star/small-star
    * MapReduce CC): O(log diameter) rounds at one extra self-join
    * each. The upgrade path if dedup graphs ever chain instead of
    * clustering; property-tested equal to plain propagation on
    * chain-heavy random graphs (PipelinePropertySpec).
    *
    * This frame-taking entry point is the pair-graph REUSE SEAM for
    * a 100 TB run: band once, persist the edge relation (parquet /
    * the caller's catalog), and feed the SAME edges to components →
    * histogram → canonical → rank instead of re-banding per query —
    * q112 gates exactly that composition (one banding pass, every
    * downstream decision from it). */
  def components(edges: DataFrame, pointerDoubling: Boolean = false): DataFrame = {
    // r17 optimization (guide §2.4): hash-partition the (static)
    // adjacency by the join key ONCE at materialization —
    // localCheckpoint preserves outputPartitioning, so every
    // iteration's shuffle-hash join exchanges only the label frame
    // (whose groupBy/join chain is itself v-partitioned round to
    // round), not the edge list. One up-front shuffle of the edges
    // replaces one per round, at any scale.
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
      .repartition(col("u")).localCheckpoint()
    // r18: rounds run under input-derived loop sizing (see
    // GraphLoop) — the count is on the materialized checkpoint.
    GraphLoop.withSizing(edges.sparkSession, adj.count()) {
      var labels = adj.select(col("v")).distinct()
        .withColumn("label", col("v")).localCheckpoint()
      var changed = 1L
      while (changed > 0) {
        val updated =
          componentsRelaxRound(adj, labels, pointerDoubling).localCheckpoint()
        changed = updated.filter(col("next") < col("label")).count()
        labels = updated.select(col("v"), col("next").as("label"))
      }
      labels.select(col("v").as("doc_id"), col("label").as("component"))
    }
  }

  /** ONE relax round of [[components]] — factored out (r18, VERDICT
    * r17 "Next #7") so the loop body's plan is dumpable: the loop's
    * localCheckpoint otherwise hides the per-round join shape from
    * every explain. Explain's `q59_components_round` probe dumps
    * exactly this frame over the real banded edges. */
  private[graft] def componentsRelaxRound(adj: DataFrame,
      labels: DataFrame, pointerDoubling: Boolean): DataFrame = {
    // labels side shuffle-hash: SMJ would re-sort the (bigger)
    // adjacency list on every iteration
    val neigh = adj.join(
        labels.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
      .groupBy(col("v")).agg(min(col("label")).as("nl"))
    val relaxed = labels.join(neigh, Seq("v"), "left")
      .select(col("v"), col("label"),
        least(col("label"), coalesce(col("nl"), col("label"))).as("next"))
    if (!pointerDoubling) relaxed
    else {
      // shortcut: next(v) ← next(next(v)); a label is itself a
      // vertex with a label, so one self-join follows the pointer
      val byV = relaxed.select(col("v").as("lv"), col("next").as("ll"))
      relaxed.join(byV, relaxed("next") === byV("lv"), "left")
        .select(relaxed("v"), relaxed("label"),
          least(relaxed("next"), coalesce(col("ll"), relaxed("next"))).as("next"))
    }
  }

  /** q74: dedup impact report — cluster-size histogram over the
    * connected components (how much of the corpus collapses, and into
    * how many clusters of what size — the number a curation run
    * reports before dropping duplicates). */
  def clusterSizes(s: SparkSession, dir: String): DataFrame =
    dedupComponents(s, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** q47: entity resolution by edit distance via deletion-neighborhood
    * (FastSS) blocking: every name emits its |name| single-deletion
    * variants PLUS itself (the delete-0 member). Same-length pairs at
    * substitution distance 1 share a deletion variant (pigeonhole);
    * insertion/deletion pairs (lengths n, n+1) share a block because
    * the longer name's deletion equals the shorter name itself —
    * which is why the unmodified name must be in the neighborhood.
    * Candidates come from a groupBy on variants — block sizes stay tiny even on degenerate key
    * distributions (a plain prefix block would put all zero-padded ids
    * in one giant block). Exact levenshtein then confirms.
    *
    * `blockCap` makes the hot-block quadratic bound EXPLICIT: a
    * variant block of b ids emits C(b,2) candidates, so one
    * degenerate name repeated a million times would be a 5·10¹¹-pair
    * bomb at 100 TB. Blocks are sorted (determinism) and truncated
    * at the cap — per-block candidate volume is bounded by
    * C(cap,2), and [[nameBlockStats]] (q332) measures exactly what
    * the truncation would drop, so the knob is operated on evidence,
    * not hope. At the gated SF no block approaches the cap, so the
    * gate result is cap-invariant. */
  def nameMatch(s: SparkSession, dir: String, blockCap: Int = 256): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val variants = c.select(col("c_custkey"),
      explode(expr(
        "concat(transform(sequence(1, length(c_name)), i -> " +
          "concat(substr(c_name, 1, i-1), substr(c_name, i+1))), array(c_name))"))
        .as("variant"))
    val pairs = variants
      // block on the variant's hash: the groupBy shuffles 8-byte keys
      // instead of strings; a collision only merges two blocks (extra
      // candidates that the exact levenshtein confirm discards)
      .select(col("c_custkey"), xxhash64(col("variant")).as("variant"))
      .groupBy(col("variant")).agg(collect_list(col("c_custkey")).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("ids", slice(sort_array(col("ids")), 1, blockCap))
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .distinct()
    // name lookups shuffle-hash for the same reason as q21's verify
    // stage: never sort the candidate stream, never broadcast a
    // corpus-sized table
    pairs
      .join(c.hint("shuffle_hash")
        .select(col("c_custkey").as("id1"), col("c_name").as("name1")), "id1")
      .join(c.hint("shuffle_hash")
        .select(col("c_custkey").as("id2"), col("c_name").as("name2")), "id2")
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= 1)
      .select(col("id1"), col("id2"), col("name1"), col("name2"), col("dist"))
  }

  /** q332: q47's BLOCK-SIZE AUDIT (round-11, VERDICT Next #8) — the
    * evidence behind the blockCap knob: the deletion-variant block
    * size histogram over RAW variant strings (the true block grain;
    * the hashed grain only merges blocks on collision), each row
    * carrying the C(b,2) candidate volume a block of that size emits
    * and whether it overflows the default cap. The operator a
    * blocking-based resolver runs BEFORE committing to a cap — at
    * 100 TB the overflow rows are the hot names that need a
    * different strategy (exact-group first, or length+prefix
    * sub-blocking). One groupBy to block grain, one to the bounded
    * size histogram. */
  def nameBlockStats(s: SparkSession, dir: String,
      blockCap: Int = 256): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        explode(expr(
          "concat(transform(sequence(1, length(c_name)), i -> " +
            "concat(substr(c_name, 1, i-1), substr(c_name, i+1))), array(c_name))"))
          .as("variant"))
      .groupBy(col("variant")).agg(count(lit(1)).as("bsz"))
      .groupBy(col("bsz").as("block_size"))
      .agg(count(lit(1)).as("n_blocks"))
      .select(col("block_size"), col("n_blocks"),
        expr("block_size * (block_size - 1) div 2").as("pairs_per_block"),
        expr("block_size * (block_size - 1) div 2 * n_blocks").as("total_pairs"),
        (col("block_size") > blockCap).as("is_overflow"))

  /** q469: BLOCKING-QUALITY AUDIT (reduction ratio + pairs
    * completeness — Christen 2012, the two numbers every
    * entity-resolution blocking scheme is graded by) — the
    * q332/q342 planners price block SIZES; this prices the
    * TRADE-OFF: reduction ratio = how many of the C(n,2) comparisons
    * the blocking avoids; pairs completeness = how many TRUE
    * duplicate pairs still share a block (recall of the candidate
    * generator). Truth = exact content duplicates (q20's md5
    * groups); blocking = 16-char normalized-prefix keys. ENTIRELY
    * from group sizes — Σ C(m,2) per block / per hash / per (block,
    * hash) — no pair set is ever materialized, so the audit itself
    * never pays the comparisons it prices. Pair counts on
    * DECIMAL(38,0) INTERNAL (C(n,2) wraps BIGINT at ~4.3e9 docs),
    * BIGINT/ppm out. */
  def blockingQuality(s: SparkSession, dir: String): DataFrame = {
    // One shuffle to the (block, content-hash) grid — the frame all
    // four masses derive from: captured = ΣC(m,2) on the grid rows,
    // candidate = ΣC(Σ_hash m, 2) regrouped by blk, truth =
    // ΣC(Σ_blk m, 2) regrouped by hash, n_docs = Σm. The three
    // consumers share an identical scan→partial-agg→exchange
    // subtree, so Catalyst's ReuseExchange materializes the corpus
    // shuffle once; nothing corpus-sized is pinned to the block
    // manager (round-15 ADVICE: the old localCheckpoint cached the
    // full (doc_id, hash, blk) projection just to dodge recomputing
    // a cheap md5 — the grid is the bounded thing to share).
    val grid = Tables.documents(s, dir)
      .groupBy(substring(lower(col("text")), 1, 16).as("blk"),
        md5(col("text").cast("binary")).as("hash"))
      .agg(count(lit(1)).as("m"))
    def pairs2(c: Column): Column =
      (sum(c.cast("decimal(38,0)") * (c - 1)) / 2)
        .cast("decimal(38,0)")
    val zero = lit(0).cast("decimal(38,0)")
    val n = grid.agg(sum(col("m")).as("n_docs"),
        coalesce(pairs2(col("m")), zero).as("captured_pairs"))
      .withColumn("all_pairs", expr(
        """CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2
          | AS DECIMAL(38,0))""".stripMargin))
    val cand = grid.groupBy(col("blk")).agg(sum(col("m")).as("mb"))
      .agg(coalesce(pairs2(col("mb")), zero).as("cand_pairs"))
    val truth = grid.groupBy(col("hash")).agg(sum(col("m")).as("mh"))
      .agg(coalesce(pairs2(col("mh")), zero).as("true_pairs"))
    n.crossJoin(broadcast(cand)).crossJoin(broadcast(truth))
      .select(col("n_docs"),
        col("true_pairs").cast("long").as("n_true_pairs"),
        col("cand_pairs").cast("long").as("n_cand_pairs"),
        col("captured_pairs").cast("long").as("n_captured_pairs"),
        expr("""CAST((all_pairs - cand_pairs) * 1000000
          | div nullif(all_pairs, 0) AS BIGINT)""".stripMargin)
          .as("reduction_ratio_ppm"),
        expr("""CAST(captured_pairs * 1000000
          | div nullif(true_pairs, 0) AS BIGINT)""".stripMargin)
          .as("pairs_completeness_ppm"))
  }

  /** q48: cross-source canonical document selection — exact-duplicate
    * groups where the SAME content arrives from multiple sources keep
    * one canonical copy by source priority (lexicographic source,
    * then min doc_id — swap in any priority ranking), and the audit
    * reports how many sources/copies each surviving document
    * represents. min(struct) under hash aggregation: one shuffle of
    * one 16-byte hash + small struct per doc, no window sort. */
  def canonicalDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(struct(col("source"), col("doc_id"))).as("keep"),
        countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col("keep.source").as("keep_source"),
        col("keep.doc_id").as("keep_id"), col("n_sources"), col("n_copies"))

  /** q49: normalization dedup — lowercase, strip non-alphanumerics,
    * collapse whitespace, then hash-group (the canonical LLM-corpus
    * normalization pass before exact dedup). */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
      "  +", " ")
    Tables.documents(s, dir)
      .groupBy(md5(norm.cast("binary")).as("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** q23: 64-bit SimHash per doc via md5-nibble bit votes, fully
    * distributed: explode (doc × bit) → sum votes → reassemble.
    * Bit b of a token = bit (b%4) of hex nibble (b/4) of md5(token) —
    * the same bits DuckDB derives from its md5 hex, so the oracle
    * replays exactly. Output is the 16-hex-char signature (a BIGINT
    * would need 1<<63, which overflows the oracle engine). */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(s, dir))

  /** q23's fingerprint over any (doc_id, text) frame — the shared
    * seam ScaleProbe's simhash section measures (same reason as
    * dupSpanOf: two inline copies would drift). */
  private[graft] def simhashOf(docs: DataFrame): DataFrame =
    // r18 wave 2 (guide step 2 / §4): ONE native codegen pass
    // (org.apache.spark.sql.graft.SimHashMd5) replaces the explode →
    // per-token md5+conv → 65-aggregate groupBy chain — the shuffle
    // disappears entirely (the old shape exchanged one 65-long row
    // per doc; the new one is a zero-exchange project).
    // Bit-identical by construction (same " "-split incl. empty
    // tokens, same md5-of-UTF-8-bytes, same nibble→bit mapping, same
    // 2·set>n majority, same lowercase hex) — replayed end-to-end in
    // PropertySpec "SimHashMd5 matches the SQL explode+vote chain".
    // Preconditions the old groupBy shape also relied on: doc_id
    // unique, text non-null (Tables.documents guarantees both).
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.SimHashMd5.column(col("text"))
        .as("simhash"))

  /** q98: containment near-dup pairs — for each MinHash-LSH candidate
    * pair, the asymmetric containment C = |A∩B| / min(|A|,|B|)
    * alongside Jaccard. Containment catches the doc-embedded-in-doc
    * dups (a short doc fully quoted inside a long one) that Jaccard
    * scores low because the union is large; pairs passing the
    * containment floor but failing q21's Jaccard floor are exactly
    * the pairs a Jaccard-only pipeline ships as "unique".
    * Candidates come from the q22 bands (LSH recalls by Jaccard, so
    * extreme short-in-long pairs can evade banding — the documented
    * trade; the prefix-probe-vs-full-index variant is the exhaustive
    * upgrade). Verify joins are shuffle-hash like q21's: the id-only
    * candidate stream is never sorted, the shingle lookup builds
    * per-partition maps. */
  def containmentPairs(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val t = docShingles(s, dir).hint("shuffle_hash")
    minhashLsh(s, dir)
      .join(t.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(t.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("n1", size(col("sh1")))
      .withColumn("n2", size(col("sh2")))
      .withColumn("containment",
        round(col("common").cast("double") / least(col("n1"), col("n2")), 4))
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("common").cast("long").as("n_common"), col("containment"),
        round(col("common").cast("double")
          / (col("n1") + col("n2") - col("common")), 4).as("jaccard"))
  }

  /** q105: INCREMENTAL dedup — a delta batch probed against an
    * existing base corpus (the production shape at 100 TB: the daily
    * increment dedups against the persisted index, never corpus ×
    * corpus). Split here is doc_id parity (a stable stand-in for
    * base/delta snapshots); each delta doc gets an exact-hash flag
    * (content md5 ∈ base hashes) and a near-dup flag (shares ≥1
    * minhash band bucket with a base doc), folded to a verdict.
    *
    * Join shapes: delta-hash → base-hash-set and delta-bands →
    * base-bands are both equi-joins keyed by hash/bucket; at scale
    * the base side is the bucketed persisted index and the delta is
    * orders of magnitude smaller — exactly the asymmetric probe this
    * plan expresses. Nothing scans base × delta. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isBase = col("doc_id") % 2 === 0
    val baseHashes = docs.filter(isBase)
      .select(md5(col("text").cast("binary")).as("h")).distinct()
      .withColumn("in_base", lit(1))
    val delta = docs.filter(!isBase)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val exact = delta.join(baseHashes.hint("shuffle_hash"), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_base").isNotNull, 1).otherwise(0).as("exact_dup"))
    val bands = minhashBands(s, dir)
    val near = bands.filter(col("doc_id") % 2 =!= 0).as("d")
      .join(bands.filter(col("doc_id") % 2 === 0).as("b"),
        col("d.band") === col("b.band") && col("d.band_key") === col("b.band_key"))
      .select(col("d.doc_id").as("doc_id")).distinct()
      .withColumn("near_hit", lit(1))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        when(col("near_hit").isNotNull, 1).otherwise(0).as("near_dup"))
      .withColumn("verdict",
        when(col("exact_dup") === 1, "drop_exact")
          .when(col("near_dup") === 1, "drop_near")
          .otherwise("keep"))
  }

  /** Write the incremental-dedup BASE INDEX once: the exact-content
    * hash set and the minhash band index of a base corpus, persisted
    * to parquet. This is the catalog artifact a 100 TB deployment
    * maintains: built in one pass over the base, then probed by
    * every daily increment WITHOUT rescanning or re-banding the base
    * (q105 computes the same probe with both sides inline; q111 is
    * the persisted-path gate). Both relations are written
    * partitioned by their probe key's hash bucket via a plain
    * parquet layout — at scale, bucketBy on h / (band, band_key)
    * makes each delta probe a bucket-local join. */
  def writeBaseIndex(base: DataFrame, indexPath: String): Unit = {
    base.select(md5(col("text").cast("binary")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$indexPath/hashes")
    minhashBandsOf(base)
      .write.mode("overwrite").parquet(s"$indexPath/bands")
  }

  /** Probe a delta (doc_id, text) frame against a PERSISTED base
    * index — the q105 verdict semantics (exact-hash membership +
    * ≥1 shared band bucket → keep/drop), but the base side is the
    * parquet index from [[writeBaseIndex]]: the plan scans the
    * documents table ONLY for the delta (spec-pinned), so the
    * daily-increment cost is |delta| banding + two asymmetric
    * equi-joins into the index, however large the base corpus. */
  def probeBaseIndex(s: SparkSession, indexPath: String, delta: DataFrame): DataFrame = {
    // the index stores [[writeBaseIndex]]'s schemas, which the delta's
    // own hashes and bands share: bind them instead of inferring
    val deltaH = delta.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val dBands = minhashBandsOf(delta)
    val baseHashes = s.read.schema(deltaH.select(col("h")).schema)
      .parquet(s"$indexPath/hashes").withColumn("in_base", lit(1))
    val baseBands = s.read.schema(dBands.schema).parquet(s"$indexPath/bands")
    val exact = deltaH.join(baseHashes.hint("shuffle_hash"), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_base").isNotNull, 1).otherwise(0).as("exact_dup"))
    val near = dBands.as("d")
      .join(baseBands.as("b"),
        col("d.band") === col("b.band") && col("d.band_key") === col("b.band_key"))
      .select(col("d.doc_id").as("doc_id")).distinct()
      .withColumn("near_hit", lit(1))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        when(col("near_hit").isNotNull, 1).otherwise(0).as("near_dup"))
      .withColumn("verdict",
        when(col("exact_dup") === 1, "drop_exact")
          .when(col("near_dup") === 1, "drop_near")
          .otherwise("keep"))
  }

  /** q111: INCREMENTAL dedup against the PERSISTED base index —
    * q105's verdicts computed the way production actually runs them:
    * [[writeBaseIndex]] materializes the base (even doc_ids) index
    * to parquet once, [[probeBaseIndex]] answers from the index and
    * the delta (odd doc_ids) alone. Same split, same verdict
    * semantics, same oracle SQL as q105 — the gate proves the
    * persisted path computes EXACTLY what the inline path computes,
    * and the spec pins that the probe plan never rescans the base
    * documents. */
  def persistedIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val idx = Stage("q111idx", dir).root
    writeBaseIndex(docs.filter(col("doc_id") % 2 === 0), idx)
    probeBaseIndex(s, idx, docs.filter(col("doc_id") % 2 =!= 0))
  }

  // ---------------------------------------------------------------
  // q326/q327: STREAMING dedup-index MAINTENANCE (round-11, VERDICT
  // Next #1) — q111's persisted index made CONTINUOUS with the q195
  // productionization pattern: a streaming query whose foreachBatch
  // probes the persisted index for each micro-batch's docs, emits
  // match evidence, appends the batch's hashes + bands to the index,
  // and compacts on a cadence. Every store is pointer-versioned
  // (crash-atomic publish) and read-idempotent (distinct at read),
  // so checkpoint replays and compaction crash windows degrade to
  // duplicate rows the read collapses — never wrong verdicts.
  // ---------------------------------------------------------------

  /** Publish the initial index stores for a base corpus: the exact
    * md5 hash set and the minhash band index, each tagged
    * `is_base = true` (origin rides ON THE ROW, so compaction can
    * fold delta appends into the base dirs without losing the
    * base-vs-stream distinction the verdict gate needs). Bands are
    * partitioned by band — at 100 TB this layout is bucketBy on
    * (band, band_key) and the per-batch probe is a bucket-local
    * join against a delta that is orders of magnitude smaller. */
  private[graft] def initDedupIndex(s: SparkSession, stateRoot: String,
      base: DataFrame): Unit = {
    StreamingOps.publishStore(s, stateRoot, "hashes",
      base.select(md5(col("text").cast("binary")).as("h"))
        .distinct().withColumn("is_base", lit(true)), Seq.empty)
    StreamingOps.publishStore(s, stateRoot, "bands",
      minhashBandsOf(base).withColumn("is_base", lit(true)), Seq("band"))
  }

  /** ONE micro-batch of the streaming dedup-index protocol (factored
    * out of the streaming query so specs can drive batches directly —
    * replay a batch, force a compaction — the q195 walLedgerBatch
    * discipline):
    *  1. the batch's docs are hashed and banded (per-doc work only,
    *     identical code paths to the batch operators);
    *  2. the batch PROBES the index (base ∪ delta appends): exact
    *     md5 membership and band collisions against BASE-origin
    *     entries append (doc_id, kind) evidence — the new-doc →
    *     canonical verdicts q105 computes inline; band collisions
    *     against STREAM-origin entries (docs from earlier batches)
    *     append symmetric (d1 < d2) near-dup PAIRS — a pair is
    *     discovered when its SECOND member arrives, whichever member
    *     that is, so the evidence set is independent of how the
    *     stream happened to be batched;
    *  3. an intra-batch band self-join catches pairs landing in the
    *     SAME micro-batch (neither side indexed yet);
    *  4. the batch's hashes and bands APPEND to the index deltas,
    *     tagged `is_base = false` — probe-then-append, so nothing
    *     matches itself;
    *  5. every `compactEvery` batches, [[compactDedupIndex]] folds
    *     each store's delta into a fresh pointer-versioned base.
    * Per-batch cost: |batch| banding + asymmetric equi-joins into
    * the index (the tiny batch side broadcasts; at scale the index
    * side is bucketed so the probe is bucket-local) — never
    * index × index. */
  private[graft] def dedupIndexBatch(s: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long, compactEvery: Int = 3): Unit = {
    import StreamingOps.{readStoreAll, storeDeltaDir}
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val bh = b.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val bb = minhashBandsOf(b).localCheckpoint()
    val idxH = readStoreAll(s, stateRoot, "hashes")
    val idxB = readStoreAll(s, stateRoot, "bands")
    // base-origin evidence → the q326 verdicts
    val exactEv = idxH.map(ih =>
      bh.join(ih.filter(col("is_base")).select(col("h")).distinct()
          .hint("shuffle_hash"), "h")
        .select(col("doc_id"), lit("exact").as("kind")).distinct())
    val nearBaseEv = idxB.map(ib =>
      bb.as("d").join(ib.filter(col("is_base")).as("b"),
          col("d.band") === col("b.band") &&
            col("d.band_key") === col("b.band_key"))
        .select(col("d.doc_id").as("doc_id"), lit("near").as("kind"))
        .distinct())
    (exactEv.toSeq ++ nearBaseEv.toSeq).reduceOption(_ unionByName _)
      .foreach(_.write.mode("append")
        .parquet(storeDeltaDir(stateRoot, "matches")))
    // stream-origin evidence → the q327 pairs (cross-batch probe +
    // intra-batch self-join; least/greatest make the pair canonical)
    val crossPairs = idxB.map(ib =>
      bb.as("d").join(ib.filter(!col("is_base")).as("b"),
          col("d.band") === col("b.band") &&
            col("d.band_key") === col("b.band_key") &&
            col("d.doc_id") =!= col("b.doc_id"))
        .select(least(col("d.doc_id"), col("b.doc_id")).as("d1"),
          greatest(col("d.doc_id"), col("b.doc_id")).as("d2")))
    val selfPairs = bb.toDF("xd", "band", "band_key").as("x")
      .join(bb.toDF("yd", "band", "band_key").as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.xd") < col("y.yd"))
      .select(col("x.xd").as("d1"), col("y.yd").as("d2"))
    (crossPairs.toSeq :+ selfPairs).reduce(_ unionByName _).distinct()
      .write.mode("append").parquet(storeDeltaDir(stateRoot, "pairs"))
    // probe-then-append: the batch joins the index only now (the
    // hash index is a bare membership set — same (h, is_base)
    // schema as the published base, so base ∪ delta unions cleanly)
    bh.select(col("h")).distinct().withColumn("is_base", lit(false))
      .write.mode("append").parquet(storeDeltaDir(stateRoot, "hashes"))
    bb.withColumn("is_base", lit(false))
      .write.mode("append").parquet(storeDeltaDir(stateRoot, "bands"))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactDedupIndex(s, stateRoot)
  }

  /** Fold every dedup-index store's per-batch delta appends into a
    * fresh compacted pointer-versioned base (distinct-at-compaction
    * keeps replay duplicates from accumulating; localCheckpoint pins
    * each merged store before its publish so the new base never
    * reads through the dirs being replaced). File count is bounded
    * by the compaction cadence, not the stream's lifetime. */
  private[graft] def compactDedupIndex(s: SparkSession,
      stateRoot: String): Unit = {
    import StreamingOps.{publishStore, readStoreAll}
    readStoreAll(s, stateRoot, "hashes").foreach(r => publishStore(
      s, stateRoot, "hashes", r.distinct().localCheckpoint(), Seq.empty))
    readStoreAll(s, stateRoot, "bands").foreach(r => publishStore(
      s, stateRoot, "bands", r.distinct().localCheckpoint(), Seq("band")))
    readStoreAll(s, stateRoot, "matches").foreach(r => publishStore(
      s, stateRoot, "matches", r.distinct().localCheckpoint(), Seq.empty))
    readStoreAll(s, stateRoot, "pairs").foreach(r => publishStore(
      s, stateRoot, "pairs", r.distinct().localCheckpoint(), Seq.empty))
  }

  /** Stage the q326/q327 pipeline: publish the base (even doc_ids)
    * index, write the delta (odd doc_ids) docs as a 6-file JSONL
    * stream, and drain it with a foreachBatch streaming query (2
    * files per trigger → 3 micro-batches, compaction mid-stream).
    * Idempotent per staging root — both gates and the specs drive
    * the SAME protocol. */
  private[graft] def runStreamDedup(s: SparkSession, dir: String,
      stage: String, compactEvery: Int = 3): Unit = {
    val st = Stage.at(stage)
    val stateRoot = st.path("state")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    initDedupIndex(s, stateRoot, docs.filter(col("doc_id") % 2 === 0))
    val delta = st.jsonStream("in", docs.filter(col("doc_id") % 2 =!= 0),
      col("doc_id"), files = 6, maxFilesPerTrigger = 2)
    // md5 banding per batch is CPU-bound: see StreamGate's sizing
    st.run(delta, OutputMode.Append(), workFactor = 256L) { (df, id) =>
      dedupIndexBatch(s, stateRoot, df, id, compactEvery)
    }
  }

  /** Assemble the q326 verdict report from the match-evidence store:
    * every delta doc left-joins its accumulated base-origin evidence
    * — the q105 (doc_id, exact_dup, near_dup, verdict) schema. */
  private[graft] def streamDedupVerdicts(s: SparkSession, dir: String,
      stateRoot: String): DataFrame = {
    import s.implicits._
    val ev = StreamingOps.readStoreAll(s, stateRoot, "matches")
      .getOrElse(Seq.empty[(Long, String)].toDF("doc_id", "kind"))
      .distinct().localCheckpoint()
    Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"))
      .join(ev.filter(col("kind") === "exact")
        .select(col("doc_id"), lit(1).as("e")), Seq("doc_id"), "left")
      .join(ev.filter(col("kind") === "near")
        .select(col("doc_id"), lit(1).as("n")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("e").isNotNull, 1).otherwise(0).as("exact_dup"),
        when(col("n").isNotNull, 1).otherwise(0).as("near_dup"))
      .withColumn("verdict",
        when(col("exact_dup") === 1, "drop_exact")
          .when(col("near_dup") === 1, "drop_near")
          .otherwise("keep"))
  }

  /** q326: STREAMING incremental dedup against the MAINTAINED index —
    * [[persistedIncrementalDedup]] made continuous: the odd-doc delta
    * arrives as a file stream, each micro-batch probes the persisted
    * index and appends itself to it ([[dedupIndexBatch]]), and the
    * final verdict report must EQUAL the one-shot batch q105/q111
    * computation on the same split — same oracle SQL, proving the
    * continuous path computes exactly what the batch path computes
    * however the stream was batched, compacted, or replayed. */
  def streamDedupIndex(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q326", dir)
    runStreamDedup(s, dir, stage.root)
    streamDedupVerdicts(s, dir, stage.path("state"))
  }

  /** q327: WITHIN-STREAM near-dup pair discovery — the evidence the
    * maintained index accumulates BEYOND the base verdicts: every
    * band collision between two STREAMED docs, found either when the
    * later one probes the earlier one's appended bands or by the
    * intra-batch self-join when both land together. The result must
    * equal the batch band self-join over the whole delta (q22's
    * shape restricted to odd ids) — pair discovery is
    * batching-invariant. */
  def streamDedupPairs(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q327", dir)
    runStreamDedup(s, dir, stage.root)
    StreamingOps.readStoreAll(s, stage.path("state"), "pairs")
      .map(_.distinct())
      .getOrElse {
        import s.implicits._
        Seq.empty[(Long, Long)].toDF("d1", "d2")
      }
  }

  /** q119: SEGMENT-level dedup cleaning (the CCNet/RefinedWeb
    * duplicated-line removal stage, at 8-token segment grain since
    * the corpus has no line breaks): each doc's non-overlapping
    * 8-token segments are hashed (one narrow pass); a corpus-wide
    * document-frequency agg (map-side combinable) marks segments
    * appearing in > 1 document; the per-doc report accounts exactly
    * what cleaning would strip. Complements q93 (overlapping-trigram
    * SPAN flags — detection) with the non-overlapping REMOVAL grain
    * (what you actually cut, and how many tokens survive). Shapes:
    * two segment-hash-keyed shuffles (df agg + shuffle-hash
    * lookback join), never doc × doc. */
  def segmentClean(s: SparkSession, dir: String, segTokens: Int = 8): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // sequence(0, -1) would yield [0, -1] (the q52 phantom-frame
      // guard): docs shorter than one segment are excluded
      .filter(size(col("toks")) >= segTokens)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(expr(
          s"transform(sequence(0, CAST(size(toks) / $segTokens AS INT) - 1), " +
            s"j -> md5(cast(array_join(slice(toks, j * $segTokens + 1, $segTokens), ' ') as binary)))"))
          .as(Seq("seg_idx", "h")))
    val df = segs.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
    segs.join(df.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_segments"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_tokens"), col("n_segments"),
        col("n_dup_segments"),
        (col("n_tokens") - col("n_dup_segments") * segTokens).as("n_tokens_clean"),
        round(col("n_dup_segments") * segTokens / col("n_tokens").cast("double"), 4)
          .as("dup_token_frac"))
  }

  /** q120: cross-source duplication matrix — which sources copy
    * from which (the licensing/contamination audit a corpus run
    * publishes): q22's near-dup band candidates whose two docs come
    * from DIFFERENT sources, aggregated to an unordered source-pair
    * matrix (exact-dup hashes never cross sources in this corpus —
    * near-dup banding is where cross-source copying shows). Shapes:
    * the banding candidate join (q22's bounded buckets) + two
    * shuffle-hash source lookups by doc id + a |sources|²-bounded
    * matrix agg — never doc × doc, output constant-size. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    minhashLsh(s, dir)
      .join(src.toDF("d1", "s1").hint("shuffle_hash"), "d1")
      .join(src.toDF("d2", "s2").hint("shuffle_hash"), "d2")
      .filter(col("s1") =!= col("s2"))
      .groupBy(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q106: cluster-canonical selection — the decision q59's
    * components exist to feed: per near-dup cluster, KEEP the
    * highest-quality member (q28's composite score; ties to the
    * smallest doc_id) and report what gets dropped. One max_by under
    * hash aggregation over (component) — no window, no sort; the
    * same argmax shape as q38's centroid assignment. */
  def clusterCanonical(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    val comps = dedupComponents(s, dir)
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("qual"))
    comps.join(quality.hint("shuffle_hash"), "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        // tiebreak on the NEGATED LONG (not a double cast): doc_ids
        // above 2^53 would lose precision in double and make the
        // smallest-id pick nondeterministic vs the oracle's ORDER BY
        max_by(col("doc_id"),
          struct(col("qual"), negate(col("doc_id")))).as("keep_id"),
        round(max(col("qual")), 4).as("keep_quality"))
  }

  /** q112: single-pass dedup decision REPORT — the [[components]]
    * reuse seam under the gate: ONE banding pass (q22's edges), one
    * component propagation, then every downstream decision — cluster
    * size (q74's grain), canonical keeper (q106's argmax), and the
    * token-savings accounting a curation run reports — from that one
    * shared result in a single hash aggregation. Contrast: calling
    * q74 + q106 separately re-bands and re-propagates the corpus per
    * query; at 100 TB the edge relation is banded once, persisted,
    * and every report reads it (writeBaseIndex is the same idea for
    * the incremental probe). tokens_dropped = cluster tokens minus
    * the keeper's tokens, keyed by the SAME (quality, −doc_id)
    * argmax as keep_id so the two columns can never disagree. */
  def dedupReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokens}
    val edges = minhashLsh(s, dir)
    val comps = components(edges)
    val info = Tables.documents(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("qual"),
        size(tokens(col("text"))).cast("long").as("toks"))
    comps.join(info.hint("shuffle_hash"), "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), struct(col("qual"), negate(col("doc_id")))).as("keep_id"),
        round(max(col("qual")), 4).as("keep_quality"),
        sum(col("toks")).as("n_tokens"),
        (sum(col("toks"))
          - max_by(col("toks"), struct(col("qual"), negate(col("doc_id")))))
          .as("tokens_dropped"))
  }

  /** q133: the PRODUCTION text near-dup run — q118's union argument
    * applied to text: all three blockers (q21 AllPairs Jaccard ≥ 0.5,
    * q22 MinHash band collisions, q101 winnowing shared passages)
    * UNIONED into one provenance-flagged edge relation — each
    * catches what the others miss (Jaccard: whole-doc overlap with
    * 100% recall above threshold; MinHash: probabilistic whole-doc
    * at lower cost; winnowing: shared PASSAGES in otherwise
    * different docs) — then ONE component propagation and a
    * per-cluster signal audit: how many edges each blocker
    * contributed and how many pairs ≥ 2 blockers agree on (the
    * high-confidence core a conservative curation run keeps).
    * Shapes: the q21/q22 candidate plans run off ONE checkpointed
    * shingle frame (the corpus is read and shingled once for both —
    * and the AllPairs index's several uses of the shingle table stop
    * re-deriving it from the scan); q101 keeps its own single pass
    * (its POSITIONAL trigram extraction is a different computation
    * by design); then a union + max-flag hash agg on the pair key
    * (one shuffle), the shared [[components]] propagation, two
    * component-keyed aggs — never doc × doc, nothing re-banded
    * twice. */
  def multiSignalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // r18: spread the TEXT rows before shingling so the shared
    // checkpoint is born parallel — both consumers (the AllPairs
    // window chain and the 8-md5 banding pass) then run wide with
    // no further exchange of the shingle arrays. r17 instead
    // round-robin-shuffled the CHECKPOINTED arrays inside the
    // banding consumer (heavy payload moved to make a cheap
    // decision — guide §8), the driver-measured 7.9→39.9 s q133
    // regression; that spread is gone (see minhashBandsOfShingles).
    val sh = Tables.spread(s, docs)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .localCheckpoint()
    val jac = ngramJaccardShingles(sh).select(col("d1"), col("d2"),
      lit(1L).as("sj"), lit(0L).as("sm"), lit(0L).as("sw"))
    val mhBands = minhashBandsOfShingles(sh)
    val mh = mhBands.as("a")
      .join(mhBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .select(col("d1"), col("d2"),
        lit(0L).as("sj"), lit(1L).as("sm"), lit(0L).as("sw"))
    val wn = winnowPairsOf(docs).select(col("d1"), col("d2"),
      lit(0L).as("sj"), lit(0L).as("sm"), lit(1L).as("sw"))
    // checkpoint the merged edge relation: it feeds BOTH the component
    // propagation and the per-edge signal audit — without the pin the
    // three blocker plans execute twice
    val edges = jac.unionByName(mh).unionByName(wn)
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("sj")).as("sj"), max(col("sm")).as("sm"),
        max(col("sw")).as("sw"))
      .localCheckpoint()
    val comps = components(edges.select(col("d1"), col("d2")))
    val perEdge = edges
      .join(comps.toDF("d1", "component").hint("shuffle_hash"), "d1")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("sj")).as("n_jaccard"),
        sum(col("sm")).as("n_minhash"),
        sum(col("sw")).as("n_winnow"),
        sum(when(col("sj") + col("sm") + col("sw") >= 2, 1L).otherwise(0L))
          .as("n_multi_signal"))
    comps.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
      .join(perEdge, "component")
      .select(col("component"), col("n_docs"), col("n_pairs"),
        col("n_jaccard"), col("n_minhash"), col("n_winnow"),
        col("n_multi_signal"))
  }

  /** q101: winnowing fingerprint pairs (Schleimer/Wilkerson/Aiken —
    * the MOSS algorithm): each doc keeps the MIN trigram hash of
    * every w=4 consecutive-trigram window, giving position-robust
    * fingerprints with a guarantee the random min-shingle (q30) and
    * MinHash (q22) families lack: any shared run of ≥ w+2 tokens
    * yields a shared fingerprint. Pairs sharing ≥ `minShared`
    * fingerprints are overlap candidates — the partial-plagiarism /
    * shared-passage detector that complements whole-doc Jaccard.
    *
    * Shapes: fingerprint extraction is one narrow pass (nested
    * transform/slice/array_min — all codegen, no shuffle); pair
    * generation is the q22 posting-join with a `postingCap` guard so
    * boilerplate fingerprints (hot postings, the 100 TB skew risk)
    * are dropped exactly like q21's stop-shingles; the md5 hash
    * family makes every fingerprint — and thus every candidate —
    * oracle-replayable. */
  def winnowPairs(s: SparkSession, dir: String, w: Int = 4,
      minShared: Int = 2, postingCap: Int = 50): DataFrame =
    winnowPairsOf(Tables.documents(s, dir), w, minShared, postingCap)

  /** Distinct winnowing fingerprints per doc — the shared extraction
    * behind q101 (pairs) and q110 (boilerplate report): one narrow
    * codegen pass, no shuffle, emits (doc_id, fp) rows. */
  private[graft] def winnowFingerprints(docs: DataFrame, w: Int): DataFrame = {
    val toks = tokens(col("text"))
    val tri = transform(sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", element_at(toks, i + 1),
        element_at(toks, i + 2), element_at(toks, i + 3)))
    val hashes = transform(tri, t =>
      conv(substring(md5(concat(lit("wn|"), t).cast("binary")), 1, 8), 16, 10)
        .cast("long"))
    val fps = array_distinct(transform(
      sequence(lit(0), size(col("hs")) - w),
      j => array_min(slice(col("hs"), j + 1, lit(w)))))
    // r17, re-sized r18: Tables.spread — per-trigram md5 on a
    // single-file scan is otherwise serial (guide §2.5) and this is
    // the one seam where the r17 driver bench PROVED the win (q110
    // 6.0→1.3 s, q101 4.8→2.3 s: the md5 pass dominates and nothing
    // downstream shuffles before the fingerprint agg). Target now
    // input-derived (see Tables.spread); identity at cluster scale.
    Tables.spread(docs.sparkSession, docs)
      // need ≥ w trigram windows ⇒ ≥ w+2 tokens (sequence guard too)
      .filter(size(toks) >= w + 2)
      .select(col("doc_id"), hashes.as("hs"))
      .select(col("doc_id"), explode(fps).as("fp"))
  }

  /** Same operator over any (doc_id, text) DataFrame. The w+2-token
    * guarantee (any shared run of ≥ w+2 tokens ⇒ ≥1 shared
    * fingerprint) is property-tested in PipelinePropertySpec. */
  def winnowPairsOf(docs: DataFrame, w: Int = 4,
      minShared: Int = 2, postingCap: Int = 50): DataFrame = {
    val fpe = winnowFingerprints(docs, w)
    val posts = fpe.groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, postingCap))
    posts
      .select(explode(col("ds")).as("d1"), col("ds"))
      .select(col("d1"), explode(col("ds")).as("d2"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** q110: boilerplate-passage report — the other half of q101's
    * `postingCap`. Capped pairing DROPS fingerprints hotter than the
    * cap (a passage shared by > cap docs stops pairing the docs that
    * carry it); production must not lose that signal silently, so
    * this report surfaces exactly those hot fingerprints: each is a
    * passage (≥ w+2-token run) present in > cap distinct docs — the
    * site template / license header / navigation chrome a training
    * pipeline strips corpus-wide rather than pairwise.
    *
    * One extraction pass (shared with q101, no shuffle) + one
    * map-side-combinable agg keyed by fingerprint — strictly cheaper
    * than the pairing it complements; never a posting explode, so
    * the hotter the passage the CHEAPER this path (vs the O(df²)
    * pair blow-up the cap exists to prevent). Gated at cap=5 so
    * every SF exercises the path; production runs it with the same
    * cap as winnowPairs, making drop-vs-report exhaustive. */
  def winnowBoilerplate(s: SparkSession, dir: String, w: Int = 4,
      postingCap: Int = 5): DataFrame =
    winnowBoilerplateOf(Tables.documents(s, dir), w, postingCap)

  def winnowBoilerplateOf(docs: DataFrame, w: Int = 4,
      postingCap: Int = 5): DataFrame =
    winnowFingerprints(docs, w)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("sample_doc_id"))
      .filter(col("n_docs") > postingCap)

  /** q94: PageRank-style centrality over the MinHash-LSH near-dup
    * graph (q22's edges) — the "most-linked" doc per dup cluster is
    * the natural canonical-copy pick, and rank mass concentrating on
    * template hubs is a boilerplate signal q74's size histogram
    * can't see.
    *
    * Iterative distributed compute, same shape as q59: each of the
    * fixed `iters` rounds is one equi-join (scores+degrees onto the
    * adjacency list, shuffle-hash so the bigger adjacency side is
    * never re-sorted) and one map-side-combinable sum; the driver
    * never sees data, and localCheckpoint keeps plans constant-size.
    * ALL arithmetic is integer: scores are ppm-scaled longs, each
    * contribution is s div deg and damping is (850·Σ) div 1000 — so
    * the result is bit-identical on any engine and any partitioning
    * (float PageRank would be order-dependent), and the oracle
    * replays the 5 rounds as unrolled CTEs. Σ-bound: 850·Σshares ≤
    * 850·10⁶·n fits a long up to n ≈ 10¹⁰ docs.
    */
  def pageRank(s: SparkSession, dir: String, iters: Int = 5,
      checkpoint: Boolean = true): DataFrame = {
    val edges = minhashLsh(s, dir)
    // both directions; the two selects are disjoint (d1 < d2), so
    // this matches the oracle's UNION without a distinct
    val adj0 = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
    pageRankOf(adj0, iters, checkpoint)
      .select(col("v").as("doc_id"), col("s").as("score_scaled"))
  }

  /** Integer PageRank CORE over an arbitrary directed adjacency
    * frame (v = target, u = source) — factored out of q94
    * (round-15) so the co-purchase graph (q450), seeded/personalized
    * teleport (q455), and word graphs (q454 TextRank) reuse the one
    * deterministic-arithmetic loop: ppm-scaled long scores, share =
    * s div deg, damping (850·Σ) div 1000, fixed `iters` rounds of
    * one shuffle-hash equi-join + one map-side-combinable sum,
    * localCheckpoint per round — bit-identical on any engine and
    * partitioning (the q94 contract), replayed by unrolled oracle
    * CTEs. `seeds`: when set, teleport mass lands ONLY on the seed
    * vertices (personalized PageRank — Jeh & Widom 2003 —
    * init 10⁶ on seeds / 0 elsewhere, per-round base 150000 on
    * seeds / 0 elsewhere). Returns (v, s).
    *
    * PRECONDITION (round-15 ADVICE): the adjacency must be
    * SYMMETRIC-VERTEXED — every edge target must also appear as a
    * source (trivially true for the symmetrized/undirected graphs
    * all current callers build: q94/q450 union both directions, q454
    * windows are bidirectional, q455 reuses q450's edges). The
    * vertex universe here is the SOURCE set (deg keys), and each
    * round LEFT-joins it onto the contribution sum, so a source with
    * no in-edges keeps exactly its teleport base — which is what the
    * unrolled oracle CTEs' inner-join `150000 + …` form computes
    * only when no sink-only/source-only asymmetry exists. A future
    * DIRECTED-graph caller must symmetrize the VERTEX SET first
    * (union zero-degree rows) or its dangling/source-only vertices
    * silently diverge from the oracle template. Checked structurally
    * in Round16Spec (directed counterexample pinned), not per-call —
    * a targets⊆sources anti-join per invocation would cost a full
    * extra shuffle at 100 TB for a property the callers guarantee by
    * construction. */
  private[graft] def pageRankOf(adj0: DataFrame, iters: Int,
      checkpoint: Boolean = true, seeds: Option[DataFrame] = None)
      : DataFrame = {
    // checkpoint=false keeps the composed plan visible (PlanSpec
    // pins the iteration's join shape through it)
    val adj = if (checkpoint) adj0.localCheckpoint() else adj0
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val verts = deg.select(col("u").as("v"))
    val seedCol = seeds match {
      case Some(sd) => verts.join(
          sd.toDF("v").distinct().withColumn("mark", lit(1L))
            .hint("shuffle_hash"),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("mark"), lit(0L)).as("is_seed"))
      case None => verts.select(col("v"), lit(1L).as("is_seed"))
    }
    val base = seedCol.select(col("v"),
        (col("is_seed") * 150000L).as("b"))
      .localCheckpoint() // bounded: one row per vertex, reused per round
    // r17 optimization (guide §2.4 — loop-invariant work out of the
    // loop): the out-degree never changes across rounds, so join it
    // onto the adjacency ONCE instead of once per iteration. The old
    // loop paid, per round, a full deg recompute (scan + exchange +
    // agg over the checkpointed adj) plus a shuffle-hash join; now
    // both happen once. deg is unique per u and the join is inner
    // 1:1, so the contribution rows — and every integer share — are
    // bit-identical to the per-round-join form.
    val adjDeg0 = adj.join(deg.hint("shuffle_hash"), "u")
      .select(col("v"), col("u"), col("deg"))
    // hash-partitioned by the loop's join key at materialization, so
    // each round exchanges only the score frame (see components)
    val adjDeg =
      if (checkpoint) adjDeg0.repartition(col("u")).localCheckpoint()
      else adjDeg0
    // r18: rounds run under input-derived loop sizing (the
    // components treatment — GraphLoop) when the adjacency is
    // materialized; the checkpoint=false probe path keeps the
    // session conf so Explain dumps the production plan shape.
    def rounds(): DataFrame = {
      var scores = base.select(col("v"),
        when(col("b") > 0L, lit(1000000L)).otherwise(lit(0L)).as("s"))
      for (_ <- 1 to iters) {
        val contrib = adjDeg
          .join(scores.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
          .select(col("v"), expr("s div deg").as("share"))
        val next = base
          .join(contrib.groupBy(col("v"))
              .agg(expr("cast((850 * sum(share)) div 1000 as bigint)")
                .as("m")),
            Seq("v"), "left")
          .select(col("v"),
            (col("b") + coalesce(col("m"), lit(0L))).as("s"))
        scores = if (checkpoint) next.localCheckpoint() else next
      }
      scores
    }
    if (checkpoint)
      GraphLoop.withSizing(adj0.sparkSession, adjDeg.count())(rounds())
    else rounds()
  }

  /** Unseeded integer-PageRank ROUND HISTORY over a symmetric-vertex
    * adjacency — the same loop as [[pageRankOf]] (seeds = None) but
    * returning EVERY round's (v, s) frame, index 0 (the uniform 10⁶
    * init) through `iters`. This is q476's substrate: with exact
    * integer arithmetic and a fixed round budget, score_r(v) is a
    * pure function of v's r-hop in-neighborhood, so a delta run can
    * splice UNTOUCHED vertices' old round-r scores into round r+1
    * verbatim — which needs the old run's per-round frames, not just
    * its final one. Each frame is one localCheckpointed (v, s)
    * projection: the O(V·iters) retention IS the incremental
    * maintenance storage cost, priced openly (at 100 TB these are
    * the "yesterday's per-round score tables" a daily job keeps
    * next to yesterday's final ranks). */
  private[graft] def pageRankRounds(adj0: DataFrame, iters: Int)
      : Seq[DataFrame] = {
    val adj = adj0.localCheckpoint()
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val verts = deg.select(col("u").as("v"))
    // r17 optimization: loop-invariant degree joined once (see
    // pageRankOf) — one fewer shuffle-hash join per round, shares
    // bit-identical.
    val adjDeg = adj.join(deg.hint("shuffle_hash"), "u")
      .select(col("v"), col("u"), col("deg"))
      .repartition(col("u")).localCheckpoint()
    // r18: rounds under input-derived loop sizing (see GraphLoop).
    GraphLoop.withSizing(adj0.sparkSession, adjDeg.count()) {
      var scores = verts.select(col("v"), lit(1000000L).as("s"))
        .localCheckpoint()
      scores +: (1 to iters).map { _ =>
        val contrib = adjDeg
          .join(scores.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
          .select(col("v"), expr("s div deg").as("share"))
        scores = verts
          .join(contrib.groupBy(col("v"))
              .agg(expr("cast((850 * sum(share)) div 1000 as bigint)")
                .as("m")),
            Seq("v"), "left")
          .select(col("v"),
            (lit(150000L) + coalesce(col("m"), lit(0L))).as("s"))
          .localCheckpoint()
        scores
      }
    }
  }

  /** WEIGHTED integer-PageRank core (round-16, VERDICT Next #7) —
    * [[pageRankOf]] with per-edge weights: share along u→v is
    * (s_u·w_uv) div W_u where W_u = Σ w over u's out-edges, damping
    * and base unchanged. The s·w product rides DECIMAL(38,0)
    * INTERNAL (s ≤ 10⁶·|V|, w unbounded micro — the q256 overflow
    * treatment), the share is BIGINT after the integer division, so
    * the result stays bit-identical on any engine and partitioning.
    * `adj0` carries (v, u, w); same symmetric-vertex precondition
    * as [[pageRankOf]]. With constant weights the integer shares
    * collapse to s div deg exactly ((s·w) div (deg·w) = s div deg),
    * so constant-weight ≡ unweighted — Round16Spec pins it. */
  private[graft] def weightedPageRankOf(adj0: DataFrame, iters: Int)
      : DataFrame = {
    val adj = adj0.localCheckpoint()
    val wdeg = adj.groupBy(col("u"))
      .agg(sum(col("w")).as("sw")).localCheckpoint()
    val verts = wdeg.select(col("u").as("v"))
    // r17 optimization: loop-invariant weight total joined once (see
    // pageRankOf) — one fewer shuffle-hash join per round, shares
    // bit-identical.
    val adjW = adj.join(wdeg.hint("shuffle_hash"), "u")
      .select(col("v"), col("u"), col("w"), col("sw"))
      .repartition(col("u")).localCheckpoint()
    // r18: rounds under input-derived loop sizing (see GraphLoop).
    GraphLoop.withSizing(adj0.sparkSession, adjW.count()) {
      var scores = verts.select(col("v"), lit(1000000L).as("s"))
        .localCheckpoint()
      for (_ <- 1 to iters) {
        val contrib = adjW
          .join(scores.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
          .select(col("v"), expr(
            """CAST(CAST(s AS DECIMAL(38,0)) * w div nullif(sw, 0)
              | AS BIGINT)""".stripMargin).as("share"))
        scores = verts
          .join(contrib.groupBy(col("v"))
              .agg(expr("cast((850 * sum(share)) div 1000 as bigint)")
                .as("m")),
            Seq("v"), "left")
          .select(col("v"),
            (lit(150000L) + coalesce(col("m"), lit(0L))).as("s"))
          .localCheckpoint()
      }
      scores
    }
  }

  /** ONE-LEVEL MODULARITY COMMUNITY DETECTION (Louvain first level,
    * Blondel et al. 2008; round-17, VERDICT Next #5) over an
    * undirected (pa, pb) edge frame — the modularity-based member
    * the graph family (centrality q450/q455/q477, components q109,
    * cores, propagation) was missing. SYNCHRONOUS label moves with
    * EXACT INTEGER gain arithmetic: every node starts in its own
    * community; each round every node scores, for each community c
    * among its neighbors' labels ∪ its own,
    *
    *   score(i, c) = 2m·k_in(i,c) − deg_i·(Σtot(c) − deg_i·[i ∈ c])
    *
    * (the standard ΔQ numerator over the common 1/(2m²) factor,
    * with i's own degree removed from its current community's
    * total — all BIGINT products), and adopts the argmax under the
    * (score desc, label asc) total order. All eligible nodes move
    * SIMULTANEOUSLY from the round-(r−1) state, so the result is
    * move-ORDER-invariant by construction (classic sequential
    * Louvain is order-dependent — the determinism trade a
    * distributed implementation makes). Pure synchronous moves
    * OSCILLATE on symmetric structures (two nodes swapping labels
    * forever — the known distributed-Louvain pathology), so round r
    * restricts eligibility to nodes with (v + r) even — the
    * deterministic alternating-subset mitigation (each parity class
    * moves on alternate rounds; a swap cycle needs both partners to
    * move at once and cannot form). Round17Spec pins both the
    * semantics and the convergence on a constructed bridged-
    * triangles graph. Fixed round budget; per-round work is one
    * label join + two bounded aggregates — O(E) shuffle-hash work,
    * localCheckpointed label frame, no driver-side graph state.
    *
    * Report: one row per surviving community — canonical id =
    * min member, member count, total degree, internal edge count,
    * and the exact integer modularity NUMERATOR contribution
    * 4m·in(c) − Σtot(c)² (over the common (2m)² denominator; kept
    * as the numerator so the report stays all-integer — products
    * ride DECIMAL(38,0) internally for the 100 TB edge counts). */
  private[graft] def louvainOneLevelOf(edges0: DataFrame,
      rounds: Int): DataFrame = {
    val edges = edges0.localCheckpoint()
    val adj = edges.select(col("pa").as("v"), col("pb").as("u"))
      .union(edges.select(col("pb").as("v"), col("pa").as("u")))
      .localCheckpoint()
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val mRow = edges.agg(count(lit(1)).as("m")).localCheckpoint()
    // r18: label rounds under input-derived loop sizing (see
    // GraphLoop) — the per-round sig/kin/score chain is 5 shuffle
    // stages of label-sized rows; sizing collapses the AQE per-stage
    // job fan-out exactly as in components/pageRankOf.
    val labFinal = GraphLoop.withSizing(edges0.sparkSession, adj.count()) {
    var lab = deg.select(col("v"), col("v").as("lab")).localCheckpoint()
    for (r <- 1 to rounds) {
      val sig = lab.join(deg.hint("shuffle_hash"), "v")
        .groupBy(col("lab")).agg(sum(col("deg")).as("sig"))
      // k_in(v, c): v's neighbor count inside community c (round-
      // (r−1) labels — the synchronous read)
      val kin = adj
        .join(lab.toDF("u", "nlab").hint("shuffle_hash"), "u")
        .groupBy(col("v"), col("nlab")).agg(count(lit(1)).as("kin"))
        .withColumnRenamed("nlab", "c")
      // the current community is always a candidate, even when no
      // neighbor lives there (k_in = 0 — the "stay" option)
      val curr = lab.select(col("v"), col("lab").as("c"))
        .join(kin, Seq("v", "c"), "left")
        .select(col("v"), col("c"),
          coalesce(col("kin"), lit(0L)).as("kin"))
      val cands = kin.unionByName(curr)
        .groupBy(col("v"), col("c")).agg(max(col("kin")).as("kin"))
      val scored = cands
        .join(lab.hint("shuffle_hash"), "v")
        .join(deg.hint("shuffle_hash"), "v")
        .join(sig.withColumnRenamed("lab", "c").hint("shuffle_hash"), "c")
        .crossJoin(broadcast(mRow))
        .withColumn("score",
          lit(2L) * col("m") * col("kin") -
            col("deg") * (col("sig") -
              when(col("c") === col("lab"), col("deg"))
                .otherwise(lit(0L))))
      val picked = scored.groupBy(col("v"))
        .agg(max_by(col("c"),
          struct(col("score"), negate(col("c")))).as("plab"))
      lab = lab.join(picked.hint("shuffle_hash"), "v")
        .select(col("v"),
          when((col("v") + lit(r.toLong)) % 2 === 0, col("plab"))
            .otherwise(col("lab")).as("lab"))
        .localCheckpoint()
    }
    lab
    }
    val lab = labFinal
    val comm = lab.join(deg.hint("shuffle_hash"), "v")
      .groupBy(col("lab"))
      .agg(min(col("v")).as("community"), count(lit(1)).as("n_members"),
        sum(col("deg")).as("total_degree"))
    val internal = edges
      .join(lab.toDF("pa", "la").hint("shuffle_hash"), "pa")
      .join(lab.toDF("pb", "lb").hint("shuffle_hash"), "pb")
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(count(lit(1)).as("internal_edges"))
      .withColumnRenamed("la", "lab")
    comm.join(internal.hint("shuffle_hash"), Seq("lab"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_members"), col("total_degree"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        expr(
          """CAST(4 * CAST(m AS DECIMAL(38,0))
            | * coalesce(internal_edges, 0)
            | - CAST(total_degree AS DECIMAL(38,0)) * total_degree
            | AS BIGINT)""".stripMargin).as("q_num_contrib"))
  }

  /** q93: duplicated-span fraction — for each doc, the fraction of
    * its 3-gram POSITIONS whose shingle also appears in ≥1 other doc
    * (the RefinedWeb/CCNet "duplicated content" quality signal; docs
    * above a threshold are mostly boilerplate and get dropped or
    * span-trimmed before training).
    *
    * Two shuffles at corpus scale: a distinct-shingle document-
    * frequency agg (map-side combinable) and the span→frequency
    * equi-join + per-doc agg. Shuffle payload is the ~20-byte shingle
    * string (kept raw, not hashed, so the flag is EXACT and the
    * oracle replays it verbatim — the hashed-key variant of q21 is
    * the option once collisions are acceptable). No window, no
    * cartesian; per-doc span explode is bounded by doc length.
    */
  def dupSpanFraction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    docs.select(col("doc_id")).join(dupSpanOf(docs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
          .otherwise(lit(0.0)))
  }

  /** The core of q93 over any (doc_id, text) frame: per-doc span and
    * dup-span counts (docs with < 3 tokens are absent — q93 left-joins
    * them back as zeros). Shared by [[dupSpanFraction]] and
    * [[graft.ScaleProbe]] so the probe measures EXACTLY the gated
    * plan (two inline copies could silently drift apart). */
  def dupSpanOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    // positional trigrams (with multiplicity) — size guard first:
    // sequence(0, -1) would yield [0, -1] (negative-step trap)
    val spans = toks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2),
          element_at(col("toks"), i + 3)))).as("sh"))
    // document frequency over DISTINCT per-doc shingles; shuffle-hash
    // so the (bigger) positional span stream is never sort-merged —
    // the same candidate-stream-vs-lookup cliff ScaleProbe measured
    // on q21's verify joins
    val freq = docs
      .select(explode(shingles3(col("text"))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("docs_with"))
      .hint("shuffle_hash")
    spans.join(freq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** q178: LSH PRECISION audit — the other half of q153's
    * measurement: q153 asks "which true pairs does the cheap index
    * MISS" (recall); this asks "how much of the candidate volume the
    * index emits is WASTED" (precision) — the number that prices the
    * verify stage, because at 100 TB every false candidate is a
    * shuffled shingle-set pair and an array-intersect you paid for
    * nothing. Each MinHash band candidate (q22's generator,
    * unchanged) is verified against exact trigram Jaccard at the 0.5
    * threshold in INTEGER form (2·common ≥ |A|+|B|−common ⟺
    * J ≥ ½ — no float compare at the boundary); output is one row:
    * candidates, survivors, precision ppm (exact integral div).
    * Shapes: the banding self-join (bounded buckets) + two id-keyed
    * shuffle-hash joins to fetch shingle sets — candidate-volume
    * cost, never corpus². */
  def lshPrecisionAudit(s: SparkSession, dir: String): DataFrame = {
    val cand = minhashLsh(s, dir)
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    cand
      .join(t.hint("shuffle_hash")
        .select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(t.hint("shuffle_hash")
        .select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("true_pair",
        (lit(2L) * col("common") >=
          size(col("sh1")) + size(col("sh2")) - col("common")).cast("long"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("true_pair")).as("n_true"))
      .select(col("n_candidates"), col("n_true"),
        expr("n_true * 1000000 div n_candidates").as("precision_ppm"))
  }

  /** q181: INCREMENTAL connected components — the pair-graph
    * counterpart of q111's persisted-index dedup: the base corpus
    * (doc_id%4 ≠ 3) has its band index AND component labels written
    * once (parquet under a [[Stage]] standing in for the catalog);
    * an increment (doc_id%4 = 3) is folded in WITHOUT re-banding or
    * re-propagating the base. The algebra that makes this exact:
    * base components collapse to SUPER-NODES (their min-id label),
    * delta-incident edges (delta bands probing the persisted index +
    * a delta×delta self-join) map endpoints through the label table,
    * and components run on the SUPER-NODE graph — which is |deltas +
    * touched components| big, never corpus-sized. Min-label over the
    * super graph = global min doc_id of each merged component, so
    * the result is IDENTICAL to a full recompute — which is exactly
    * what the oracle (recursive closure over the full corpus's band
    * graph) proves. Output: (doc_id, component) for every doc. */
  def incrementalComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 4 =!= 3)
    val delta = docs.filter(col("doc_id") % 4 === 3)
    val stage = Stage("q181idx", dir).root
    writeComponentIndex(s, base, stage)
    probeComponentIndex(s, stage, delta)
  }

  /** [[incrementalComponents]]'s write-once phase: band index +
    * component labels of the base corpus, persisted to `stage`
    * (parquet standing in for the catalog). Paid once, amortized
    * across every subsequent increment. */
  def writeComponentIndex(s: SparkSession, base: DataFrame, stage: String): Unit = {
    val st = Stage.at(stage)
    val bb = st.parquet("bands", minhashBandsOf(base))
    val baseEdges = bb.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    st.parquet("labels", base.select(col("doc_id"))
      .join(components(baseEdges), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("sn")))
  }

  /** [[incrementalComponents]]'s per-increment phase: reads ONLY the
    * persisted index + labels and the delta — the base corpus is
    * never rescanned, re-banded, or re-propagated; the component
    * join runs on the |delta|-sized super-node graph. */
  def probeComponentIndex(s: SparkSession, stage: String, delta: DataFrame): DataFrame = {
    // pin the delta banding — it feeds the base-probe join and BOTH
    // sides of the delta self-join, so un-pinned the 8-md5 signature
    // pass over the delta ran 3x
    val dBands = minhashBandsOf(delta).localCheckpoint()
    // the index holds the delta's own band and label schemas: bind
    // them instead of inferring
    val deltaMap = delta.select(col("doc_id"), col("doc_id").as("sn"))
    val idx = s.read.schema(dBands.schema).parquet(stage + "/bands")
    val baseMap = s.read.schema(deltaMap.schema).parquet(stage + "/labels")
    val deltaBase = dBands.as("a")
      .join(idx.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val deltaDelta = dBands.as("a")
      .join(dBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val allMap = baseMap.union(deltaMap)
    val superEdges = deltaBase.union(deltaDelta)
      .join(allMap.select(col("doc_id").as("d1"), col("sn").as("sn1"))
        .hint("shuffle_hash"), "d1")
      .join(allMap.select(col("doc_id").as("d2"), col("sn").as("sn2"))
        .hint("shuffle_hash"), "d2")
      .filter(col("sn1") =!= col("sn2"))
      .select(col("sn1").as("d1"), col("sn2").as("d2")).distinct()
    val superLabels = components(superEdges)
      .select(col("doc_id").as("sn"), col("component").as("super_label"))
    allMap.join(superLabels.hint("shuffle_hash"), Seq("sn"), "left")
      .select(col("doc_id"),
        coalesce(col("super_label"), col("sn")).as("component"))
  }

  /** q182: b-BIT MinHash compression audit — the signature-storage
    * trade (Li & König): keeping only the LOWEST BIT of each of the
    * 8 MinHash values shrinks the persisted index 32× (1 byte vs 32
    * per doc here; at 100 TB the index is a real table and this is
    * the difference between RAM and disk), at the cost of estimator
    * variance the b=1 correction ĵ = 2·(agree/k) − 1 only partially
    * recovers. The audit quantifies that trade ON THIS CORPUS: per
    * band-candidate pair (q22's generator), the full-signature
    * estimate (matches/8, exact integral ppm) against the 1-bit
    * estimate (clamped correction, exact integral ppm) and the
    * signed error. Low-bit parity comes from the minhash md5 hex's
    * last nibble — deterministic on both engines. Bounded by
    * candidate volume; two id-keyed shuffle-hash joins. */
  def bbitMinhashAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val sig = docs
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .withColumn("hs", org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
      .select(col("doc_id"), col("hs"))
    val cand = minhashLsh(s, dir)
    val m8 = (0 until 8).map(i =>
      when(col("hs1")(i) === col("hs2")(i), 1L).otherwise(0L)).reduce(_ + _)
    val a8 = (0 until 8).map { i =>
      val b1 = conv(substring(col("hs1")(i), 32, 1), 16, 10).cast("long") % 2
      val b2 = conv(substring(col("hs2")(i), 32, 1), 16, 10).cast("long") % 2
      when(b1 === b2, 1L).otherwise(0L)
    }.reduce(_ + _)
    cand
      .join(sig.hint("shuffle_hash")
        .select(col("doc_id").as("d1"), col("hs").as("hs1")), "d1")
      .join(sig.hint("shuffle_hash")
        .select(col("doc_id").as("d2"), col("hs").as("hs2")), "d2")
      .withColumn("m8", m8)
      .withColumn("a8", a8)
      .select(col("d1"), col("d2"), col("m8"), col("a8"),
        expr("m8 * 1000000 div 8").as("est_full_ppm"),
        greatest(expr("2 * (a8 * 1000000 div 8) - 1000000"), lit(0L))
          .as("est_b1_ppm"))
      .withColumn("err_ppm", col("est_b1_ppm") - col("est_full_ppm"))
  }

  /** q194: EDIT-DISTANCE verification of the LSH candidate pairs —
    * the third verify metric over the q22 band index (set-based
    * Jaccard in q21/q22, sequence-based winnowing in q101; edit
    * distance is the ORDER-SENSITIVE string metric that catches
    * scrambled-bag-of-words false positives the set metrics accept).
    * Levenshtein is O(len²) per pair, so it runs on the NORMALIZED
    * PREFIX (q49's normalizer, first `prefixLen` chars) — a constant
    * per-pair cost bound that holds at any corpus size; the quadratic
    * cost lives per-pair, never per-corpus, and the pair volume is
    * the band index's (bounded by bandBits, ScaleProbe-measured).
    * Vector lookups are shuffle-hash id-joins (the q24 rationale:
    * only ids travel in the wide shuffle). A pair passes at relative
    * distance ≤ maxRelPpm of the longer prefix AND at a FULL-LENGTH
    * ratio gate: the prefix truncation would otherwise admit a
    * named false-positive class — two documents identical in their
    * first `prefixLen` normalized chars but arbitrarily divergent
    * after — so the relative difference of the UN-truncated
    * normalized lengths must also be ≤ maxRelPpm (one cheap extra
    * column; a tail 10× the prefix cannot hide behind an equal
    * prefix). sim_ppm is the integer normalized similarity over the
    * prefix. Both engines implement textbook Levenshtein over ASCII
    * chars, so parity is exact. */
  def editVerify(s: SparkSession, dir: String, prefixLen: Int = 120,
      maxRelPpm: Long = 300000L): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
      "  +", " ")
    val pfx = Tables.documents(s, dir)
      .select(col("doc_id"), substring(norm, 1, prefixLen).as("t"),
        length(norm).cast("long").as("fl"))
    minhashLsh(s, dir)
      .join(pfx.toDF("d1", "t1", "fl1").hint("shuffle_hash"), "d1")
      .join(pfx.toDF("d2", "t2", "fl2").hint("shuffle_hash"), "d2")
      .withColumn("dist", levenshtein(col("t1"), col("t2")).cast("long"))
      .withColumn("len", greatest(length(col("t1")), length(col("t2"))).cast("long"))
      .filter(col("len") > 0 && col("dist") * 1000000L <= col("len") * maxRelPpm &&
        abs(col("fl1") - col("fl2")) * 1000000L <=
          greatest(col("fl1"), col("fl2")) * maxRelPpm)
      .select(col("d1"), col("d2"), col("dist"),
        expr("(len - dist) * 1000000 div len").as("sim_ppm"))
  }

  /** q223: EDGE-COHESION audit of the near-dup graph — q129's
    * clustering question answered PER EDGE, which is the actionable
    * form: an edge whose endpoints share NO other neighbor (a local
    * bridge) is exactly the banding artifact that chains two
    * unrelated clusters through q59's transitive closure — the
    * single-edge failure mode behind every "dedup merged my whole
    * site" incident — while a high-cohesion edge is corroborated by
    * the cluster around it. Per q22 edge: endpoint degrees, common
    * neighbor count (one triangle-listing join: edges ⋈ adj ⋈ adj on
    * the shared neighbor — Σ deg² bounded, the q129 wedge volume),
    * neighborhood-Jaccard cohesion in integer ppm (nullif-guarded:
    * an isolated pair has an empty union → NULL cohesion, flagged
    * bridge), is_local_bridge. Edges localCheckpointed once — the
    * banding pipeline runs once, not three times. The mitigation a
    * consumer applies: verify bridges with q194's order-sensitive
    * metric before letting them into the closure. */
  def edgeCohesion(s: SparkSession, dir: String): DataFrame =
    edgeCohesionOf(minhashLsh(s, dir).localCheckpoint())

  /** [[edgeCohesion]] over any distinct (d1 < d2) edge frame —
    * GraphSpec drives clique/chain/star shapes through it. */
  def edgeCohesionOf(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .unionAll(edges.select(col("d2").as("v"), col("d1").as("u")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val common = edges
      .join(adj.toDF("d1", "w"), "d1")
      .join(adj.toDF("d2", "w"), Seq("d2", "w"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_common"))
    edges
      .join(deg.toDF("d1", "deg1").hint("shuffle_hash"), "d1")
      .join(deg.toDF("d2", "deg2").hint("shuffle_hash"), "d2")
      .join(common, Seq("d1", "d2"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("d1"), col("d2"), col("deg1"), col("deg2"), col("n_common"),
        expr("n_common * 1000000 div nullif(deg1 + deg2 - 2 - n_common, 0)")
          .as("cohesion_ppm"),
        (col("n_common") === 0L).as("is_local_bridge"))
  }

  /** q219: DUP-RATE DRIFT — the ingest-monitoring curve over q20's
    * exact signal: per id-range ingestion slice (q196's bucket
    * derivation — doc_id order stands in for arrival order), how
    * much of the slice is (a) a rehash of content already seen in an
    * EARLIER slice ("incoming dup" — the crawler re-fetching the
    * web) vs (b) duplicated WITHIN the slice (a feed gone circular).
    * A drifting incoming-dup rate is the first signal a crawl has
    * saturated its frontier — the "stop paying for this source"
    * curve. Shape: one content-hash agg to (hash → first bucket,
    * per-bucket counts) — the q20 scan — then a bounded per-bucket
    * rollup; |buckets| rows out at any corpus size. A doc is an
    * incoming dup iff its hash's FIRST bucket precedes its own;
    * within-slice dups are (slice count − distinct hashes) there. */
  def dupDrift(s: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val bounds = Tables.documents(s, dir)
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val hashed = Tables.documents(s, dir).crossJoin(broadcast(bounds))
      .select(md5(col("text").cast("binary")).as("h"),
        least(lit(buckets - 1L),
          expr(s"(doc_id - mn) * $buckets div (mx - mn + 1)")).as("bucket"))
    val perHashBucket = hashed.groupBy(col("h"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val firstBucket = perHashBucket.groupBy(col("h"))
      .agg(min(col("bucket")).as("first_bucket"))
    perHashBucket.join(firstBucket, "h")
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("bucket") > col("first_bucket"), col("n")).otherwise(0L))
          .as("n_incoming_dup"),
        sum(when(col("bucket") === col("first_bucket"), col("n") - 1L)
          .otherwise(0L)).as("n_within_dup"))
      .select(col("bucket"), col("n_docs"), col("n_incoming_dup"),
        col("n_within_dup"),
        expr("n_incoming_dup * 1000000 div n_docs").as("incoming_ppm"),
        expr("n_within_dup * 1000000 div n_docs").as("within_ppm"))
  }

  /** q243: SOFT-DEDUP SAMPLING WEIGHTS — the alternative to dropping
    * near-duplicates outright: keep every document but DOWNWEIGHT
    * each near-dup cluster to unit total mass (w = 1/cluster_size,
    * integer ppm), so an epoch samples each piece of CONTENT once
    * however many copies exist — the soft-dedup knob between "train
    * on duplicates" (memorization risk) and "hard-drop" (loses the
    * best copy's formatting). Composed from the gated graph: q59's
    * connected components label clustered docs; unpaired docs are
    * their own singleton cluster (left join + coalesce — never an
    * all-docs closure). Shapes: the component relation (bounded by
    * docs IN the pair graph), one cluster-size agg, one doc-grain
    * join, one per-source rollup. Report per source: docs, docs in
    * >1-clusters, effective docs (Σw in ppm — the number an epoch
    * budget actually buys), and retention (effective/total, ppm):
    * the per-source "how much of this feed is really new content"
    * number that prices a crawl refresh. */
  /** q261: TWO-HOP REACH — the neighborhood-growth audit of the
    * near-dup graph (degree q170 sees one hop; components q59 see
    * the closure; the 2-hop shell in between is what predicts how
    * fast q59's propagation will EXPLODE a cluster, and which nodes
    * are one merge away from joining a mega-component — the "blast
    * radius" number per doc). reach2(v) = |{u ≠ v reachable in ≤ 2
    * hops}| via ONE adjacency self-join on the shared middle vertex
    * (Σ deg(m)² bounded — the same wedge budget q129's triangles
    * already price) + a distinct; amplification = reach2·10⁶ div
    * degree says how much bigger the 2-hop shell is than the
    * 1-hop. */
  def twoHopReach(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashLsh(s, dir)
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
      .distinct().localCheckpoint()
    val two = adj.toDF("v", "m")
      .join(adj.toDF("m", "u").hint("shuffle_hash"), "m")
      .select(col("v"), col("u"))
    val reach = adj.unionByName(two)
      .filter(col("v") =!= col("u")).distinct()
      .groupBy(col("v")).agg(count(lit(1)).as("reach2"))
    adj.groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .join(reach, Seq("v"))
      .select(col("v").as("doc_id"), col("degree"), col("reach2"),
        expr("reach2 * 1000000 div degree").as("amplification_ppm"))
  }

  /** q266: DEGREE ASSORTATIVITY of the near-dup graph — do
    * high-degree docs link to other high-degree docs (one boilerplate
    * blob chaining through hubs — q110's mega-cluster forming) or to
    * low-degree ones (a hub-and-spoke template with unique tails)?
    * The one-number answer is the Pearson correlation of endpoint
    * degrees over the symmetrized edge list — computed with q108's
    * exact-integer-moment pattern (n, Σx, Σy, Σx², Σy², Σxy as
    * Decimal(38,0) sums in ONE agg over edges; r is scalar IEEE on
    * the single result row). Positive r = assortative clustering
    * (components will snowball under q59); negative = star/template
    * structure (cluster growth bounded by the hubs). One degree agg
    * + two endpoint joins + one moment agg. */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashLsh(s, dir)
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    def w(c: Column): Column = c.cast("decimal(38,0)")
    adj
      .join(deg.toDF("v", "dx").hint("shuffle_hash"), "v")
      .join(deg.toDF("u", "dy").hint("shuffle_hash"), "u")
      .agg(count(lit(1)).as("n_dirs"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .withColumn("vx", w(col("n_dirs")) * w(col("sxx")) - w(col("sx")) * w(col("sx")))
      .withColumn("vy", w(col("n_dirs")) * w(col("syy")) - w(col("sy")) * w(col("sy")))
      .select(col("n_dirs"), col("sx"), col("sxy"),
        when(col("vx") <= 0 || col("vy") <= 0, lit(null).cast("double"))
          .otherwise(round(
            (w(col("n_dirs")) * w(col("sxy")) - w(col("sx")) * w(col("sy")))
              .cast("double") /
              (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))),
            4))
          .as("assortativity"))
  }

  def softdedupWeights(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(s, dir)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val withC = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    val sizes = withC.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    withC.join(sizes.hint("shuffle_hash"), Seq("cluster"))
      .withColumn("w_ppm", expr("1000000L div csize"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("n_in_clusters"),
        sum(col("w_ppm")).as("eff_docs_ppm"))
      .withColumn("retention_ppm", expr("eff_docs_ppm div n_docs"))
  }

  /** q281: LABEL-PROPAGATION communities of the near-dup graph —
    * the mesoscale between q59 (components: ANY connectivity chains
    * everything a banding artifact touches) and q207 (k-core:
    * strict density): synchronous LPA finds the dense template
    * families inside a component without a density knob. Fully
    * DETERMINISTIC replay (classic LPA random-iterates; a gate
    * can't): every node starts labeled with its own id, and each
    * of `rounds` SYNCHRONOUS rounds relabels every node with its
    * neighbors' MAJORITY label, ties broken by SMALLEST label —
    * argmax via min over a (−count, label) struct, exact integers.
    * Fixed round count (the q207 rule: a data-dependent fixpoint
    * diverges between engines); the output is the bounded
    * community-SIZE histogram, never per-node rows. Each round is
    * one b-keyed shuffle join + two aggs on the edge list —
    * rounds × |edges|, localCheckpoint per round (the q59/q94
    * lineage policy). */
  def labelPropagation(s: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    labelPropagationOf(minhashLsh(s, dir), rounds)

  /** [[labelPropagation]] over an arbitrary (d1, d2) undirected
    * edge list — the generic seam (same policy as [[kCoreOf]]). */
  private[graft] def labelPropagationOf(edges: DataFrame,
      rounds: Int): DataFrame = {
    // r17: partitioned by the loop's join key once (see components)
    val und = edges.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(edges.select(col("d2").as("a"), col("d1").as("b")))
      .repartition(col("b")).localCheckpoint()
    // r18: rounds under input-derived loop sizing (see GraphLoop).
    val labels = GraphLoop.withSizing(edges.sparkSession, und.count()) {
      var l = und.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      for (_ <- 1 to rounds) {
        l = und
          .join(l.withColumnRenamed("node", "b").hint("shuffle_hash"), "b")
          .groupBy(col("a"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("a").as("node"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .getField("l").as("label"))
          .localCheckpoint()
      }
      l
    }
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("community_size"))
      .agg(count(lit(1)).as("n_communities"))
  }

  /** q318: MULTI-SOURCE BFS hop distance over the near-dup graph —
    * the "how far is every doc from a trusted set" primitive the
    * graph shelf lacked (components say WHETHER connected, PageRank
    * says how CENTRAL; neither says how many hops): shortest hop
    * count from any seed (here the deterministic `doc_id % seedMod
    * == 0` vertices — in production, the human-audited canonicals),
    * capped at `maxHops`. Level-synchronous frontier expansion, the
    * only BFS that distributes: per round, ONE equi-join of the
    * edge list with the CURRENT frontier (never the visited set),
    * distinct, anti-join against settled vertices, settle at the
    * round's hop count. Work per round is Θ(edges incident to the
    * frontier) and the frontier only shrinks once the graph is
    * swept; rounds are a fixed knob (an empty frontier makes the
    * remaining rounds no-op joins, so no driver-side convergence
    * poll). localCheckpoint per round truncates the growing lineage
    * (the q281 discipline). Unreached-within-cap vertices are
    * absent — their distance is unknown, not maxHops.
    * Oracle: DuckDB WITH RECURSIVE over the same banded edges,
    * min(hops) per vertex. */
  def bfsHops(s: SparkSession, dir: String, maxHops: Int = 4,
      seedMod: Long = 10L): DataFrame =
    bfsHopsOf(minhashLsh(s, dir), maxHops, seedMod)

  /** [[bfsHops]] over an arbitrary (d1, d2) undirected edge list —
    * the generic seam (same policy as [[labelPropagationOf]]). */
  private[graft] def bfsHopsOf(edges: DataFrame, maxHops: Int,
      seedMod: Long, checkpoint: Boolean = true): DataFrame = {
    // checkpoint=false keeps the composed plan visible (PlanSpec pins
    // the per-hop join shape through it — the q94 policy)
    def cp(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint() else df
    // r17: partitioned by the loop's join key once (see components);
    // checkpoint=false keeps the pinned plan shape untouched
    val adj0 = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
    val adj = cp(if (checkpoint) adj0.repartition(col("u")) else adj0)
    // (r18 note: GraphLoop sizing was A/B-tested here and REVERTED —
    // q324 3.26→4.17 s PJ: under the shrunken partition count every
    // relax round re-exchanged the session-partitioned banded
    // adjacency against the 1-partition frontier, costing more than
    // the per-round scheduling it saved. The pageRank/labelProp/
    // Louvain graphs measured the other way; see OPTIMIZATION_r18.)
    var settled = cp(adj.select(col("u")).distinct()
      .filter(col("u") % seedMod === 0)
      .select(col("u").as("v"), lit(0L).as("hops")))
    var frontier = settled.select(col("v"))
    for (h <- 1 to maxHops) {
      val next = cp(adj
        .join(frontier.withColumnRenamed("v", "u").hint("shuffle_hash"), "u")
        .select(col("v")).distinct()
        .join(settled.select(col("v")), Seq("v"), "left_anti")
        .withColumn("hops", lit(h.toLong)))
      settled = cp(settled.union(next))
      frontier = next.select(col("v"))
    }
    settled.select(col("v").as("doc_id"), col("hops"))
  }

  /** q324: INCREMENTAL BFS — new edges arrive, distances only
    * IMPROVE (the monotone half of dynamic shortest paths), so the
    * index is MAINTAINED, not recomputed: the fourth member of the
    * incremental family (q105/q111 dedup index, q181 components,
    * q197 IVF) and the maintenance story q318 needs at 100 TB (the
    * crawl adds edges daily; re-running BFS over the full graph per
    * day is the recompute-axis cost IVM exists to kill).
    *
    * Decrease-only relaxation, the textbook dynamic-BFS argument
    * stated in the scaladoc because the gate leans on it: on any new
    * shortest path, walk from the seed — the FIRST vertex whose
    * distance improved must be reached THROUGH A DELTA EDGE from an
    * unimproved predecessor (were its incoming edge a base edge, the
    * old index would already have the shorter value). So seeding the
    * worklist with (a) delta-edge relaxations off the persisted
    * distances and (b) delta-introduced seed vertices, then
    * propagating decreases through the FULL adjacency for maxHops
    * rounds, reaches exactly the affected region — work proportional
    * to improvements, never the graph. Final state must equal
    * [[bfsHopsOf]] over base ∪ delta — the gate (same oracle as
    * q318: the maintained index IS the recomputed one).
    *
    * The 80/20 edge split is a deterministic md5 bucket of the
    * (d1, d2) pair, replayable at any SF; the base index is a REAL
    * persisted parquet artifact (the q181 discipline) — the relax
    * path reads it back, never the base edges. */
  def bfsDelta(s: SparkSession, dir: String, maxHops: Int = 4,
      seedMod: Long = 10L): DataFrame = {
    // r17: band ONCE and reuse the checkpointed pair set for the
    // base split, the delta split, AND the full adjacency — the old
    // shape re-ran the whole MinHash banding (the md5-heavy pass)
    // a second time for the relax step's allEdges (guide §1.2)
    val edges = minhashLsh(s, dir)
      .withColumn("__b", Sampling.hashBucket(
        concat(lit("bfs|"), col("d1").cast("string"), lit("|"),
          col("d2").cast("string"))) % 5)
      .localCheckpoint()
    val base = edges.filter(col("__b") =!= 0).drop("__b")
    val delta = edges.filter(col("__b") === 0).drop("__b")
    val baseDist = Stage("q324", dir)
      .parquet("bfs_index", bfsHopsOf(base, maxHops, seedMod))
      .select(col("doc_id").as("v"), col("hops"))
    bfsRelaxOf(s, baseDist, edges.drop("__b"), delta, maxHops, seedMod)
  }

  /** [[bfsDelta]]'s relaxation core over explicit frames: persisted
    * distances + the FULL adjacency's edge list + the delta edges —
    * the generic seam (spec drives crafted graphs through it). */
  private[graft] def bfsRelaxOf(s: SparkSession, baseDist: DataFrame,
      allEdges: DataFrame, delta: DataFrame, maxHops: Int,
      seedMod: Long): DataFrame = {
    // r17: partitioned by the loop's join key once (see components)
    val adjAll = allEdges.select(col("d1").as("u"), col("d2").as("v"))
      .union(allEdges.select(col("d2").as("u"), col("d1").as("v")))
      .repartition(col("u")).localCheckpoint()
    val deltaAdj = delta.select(col("d1").as("u"), col("d2").as("v"))
      .union(delta.select(col("d2").as("u"), col("d1").as("v")))
    // (b) delta-introduced seeds: seed-id vertices absent from the
    // base index (every base-graph seed is already settled at 0)
    val newSeeds = deltaAdj.select(col("u").as("v")).distinct()
      .filter(col("v") % seedMod === 0)
      .join(baseDist.select(col("v")), Seq("v"), "left_anti")
      .withColumn("hops", lit(0L))
      .localCheckpoint()
    // (r18 note: GraphLoop sizing A/B-tested and REVERTED here —
    // see bfsHopsOf.)
    var dist = baseDist.union(newSeeds).localCheckpoint()
    // (a) first-wave improvements: delta edges relaxed off the
    // persisted distances (plus the new seeds merged above)
    def relax(adj: DataFrame, frontier: DataFrame): DataFrame =
      adj.join(frontier.withColumnRenamed("v", "u")
          .withColumnRenamed("hops", "du").hint("shuffle_hash"), "u")
        .select(col("v"), (col("du") + 1).as("cand"))
        .filter(col("cand") <= maxHops)
        .groupBy(col("v")).agg(min(col("cand")).as("cand"))
        .join(dist.withColumnRenamed("hops", "d"), Seq("v"), "left")
        .filter(col("d").isNull || col("cand") < col("d"))
        .select(col("v"), col("cand").as("hops"))
    var frontier = newSeeds.union(relax(deltaAdj, dist)).localCheckpoint()
    dist = dist.join(frontier.select(col("v")), Seq("v"), "left_anti")
      .union(frontier).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val improved = relax(adjAll, frontier).localCheckpoint()
      dist = dist.join(improved.select(col("v")), Seq("v"), "left_anti")
        .union(improved).localCheckpoint()
      frontier = improved
    }
    dist.select(col("v").as("doc_id"), col("hops"))
  }

  /** q350: MINHASH ESTIMATOR AUDIT (round-11) — how good is the
    * 8-hash signature as a JACCARD ESTIMATE, pair by pair (q153
    * audits the banding's recall — whether pairs are FOUND; this
    * audits the signatures' accuracy — what similarity they CLAIM):
    * for every q21 ground-truth pair, matching-hash fraction
    * (matches/8, the unbiased MinHash estimator) vs the exact
    * Jaccard, both integer ppm, plus the absolute error. The error
    * histogram is the "do I trust 8 hashes or pay for 64?" knob at
    * 100 TB — the estimator's σ = √(j(1−j)/k) is ~17% at k=8, and
    * this table is that analytic claim measured on real pairs.
    * Cost: the exact generator it audits + two id-keyed
    * shuffle-hash signature joins (ids shuffle, not shingle sets). */
  def minhashEstimatorAudit(s: SparkSession, dir: String): DataFrame = {
    // r18: the r17 spread-of-both-passes is replaced by spread-once
    // + localCheckpoint — the signature pass (8 md5/shingle) feeds
    // two differently-keyed joins, so un-pinned it executed TWICE;
    // r17 parallelized both executions but q350 still regressed
    // 4.3→5.3 s (driver bench). Computing the (doc_id, hs) frame
    // once (wide — text rows spread before shingling) and pinning
    // it removes the duplicate pass outright (guide §1.2: don't
    // compute things twice) — the pinned frame is one 8-long array
    // per doc, far smaller than the corpus.
    val sig = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .withColumn("hs",
        org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
      .select(col("doc_id"), col("hs"))
      .localCheckpoint()
    ngramJaccard(s, dir)
      .join(sig.toDF("d1", "h1").hint("shuffle_hash"), "d1")
      .join(sig.toDF("d2", "h2").hint("shuffle_hash"), "d2")
      .withColumn("matches", expr(
        "size(filter(zip_with(h1, h2, (a, b) -> a = b), x -> x))")
        .cast("long"))
      .select(col("d1"), col("d2"),
        round(col("jaccard") * 1e6).cast("long").as("jaccard_ppm"),
        col("matches"), (col("matches") * 125000L).as("est_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
  }

  /** q358: RECIPROCAL BEST-MATCH alignment (round-11) — the mutual-
    * argmax pattern parallel-corpus mining uses (bitext alignment's
    * "reciprocal nearest neighbors" rule) pointed at CROSS-SOURCE
    * doc alignment: for every LSH candidate pair spanning two
    * different sources, verify with the exact Jaccard, take each
    * doc's single best cross-source partner, and keep only MUTUAL
    * best pairs — the high-precision doc↔doc mapping you'd trust to
    * canonicalize one feed against another (one-directional best is
    * noisy exactly where boilerplate hubs attract many suitors; the
    * reciprocal rule kills hub matches for free). Shapes: the q22
    * banded candidate generator (cross-source filter before the
    * expensive verify), two id-keyed shingle joins for the exact
    * score, one max_by argmax per endpoint, one self-join for
    * mutuality. Deterministic: jaccard in integer ppm, argmax by
    * (jacc desc, partner asc). Never all-pairs — candidates exist
    * only through band collisions. */
  def reciprocalBestMatch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val t = docs.select(col("doc_id"), shingles3(col("text")).as("sh"))
    val src = docs.select(col("doc_id"), col("source"))
    val verified = minhashLsh(s, dir)
      .join(src.toDF("d1", "src1"), "d1")
      .join(src.toDF("d2", "src2"), "d2")
      .filter(col("src1") =!= col("src2"))
      .join(t.toDF("d1", "sh1").hint("shuffle_hash"), "d1")
      .join(t.toDF("d2", "sh2").hint("shuffle_hash"), "d2")
      .withColumn("common",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("jacc_ppm", round(col("common").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("common")).cast("double")
        * 1e6).cast("long"))
      .select(col("d1"), col("d2"), col("jacc_ppm"))
    val sym = verified
      .select(col("d1").as("a"), col("d2").as("b"), col("jacc_ppm"))
      .unionByName(verified
        .select(col("d2").as("a"), col("d1").as("b"), col("jacc_ppm")))
    val best = sym.groupBy(col("a"))
      .agg(max_by(struct(col("b"), col("jacc_ppm")),
        struct(col("jacc_ppm"), negate(col("b")))).as("c"))
      .select(col("a"), col("c.b").as("b"), col("c.jacc_ppm").as("jacc_ppm"))
    best.as("x")
      .join(best.as("y"),
        col("x.b") === col("y.a") && col("y.b") === col("x.a") &&
          col("x.a") < col("y.a"))
      .select(col("x.a").as("d1"), col("y.a").as("d2"),
        col("x.jacc_ppm").as("jacc_ppm"))
      .join(src.toDF("d1", "src1"), "d1")
      .join(src.toDF("d2", "src2"), "d2")
      .select(col("d1"), col("src1"), col("d2"), col("src2"),
        col("jacc_ppm"))
  }

  /** q360: MINHASH k-SWEEP (round-11) — q350 measured the 8-hash
    * estimator's error; this measures the LAW it obeys: the same
    * ground-truth pairs estimated from the FIRST k of the 8 hashes
    * for k ∈ {2,4,8} (a prefix of a fixed hash family is itself a
    * valid family — no re-hashing), mean/max absolute error per k
    * next to the analytic σ = √(j(1−j)/k), per-pair micro-rounded
    * then integer-averaged so the aggregate is order-free. The
    * measured-vs-analytic agreement is what licenses extrapolating
    * to k=64 at 100 TB WITHOUT running k=64 — the sweep is the
    * evidence the q342 planner's S-curve arithmetic rests on. Cost:
    * ONE pass over the q350 join (all three match counts computed
    * from the same signature arrays, stacked) + one 3-row agg. */
  def minhashKSweep(s: SparkSession, dir: String): DataFrame = {
    // r18 (guide §1.2): spread wide + pin — the signature pass (8
    // md5/shingle) feeds both lookup sides, so un-pinned it ran
    // twice, serial (the q350 fix).
    val sig = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .withColumn("hs",
        org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
      .select(col("doc_id"), col("hs"))
      .localCheckpoint()
    def matches(k: Int) = expr(
      s"cast(size(filter(zip_with(slice(h1, 1, $k), slice(h2, 1, $k), " +
        s"(a, b) -> a = b), x -> x)) as bigint)")
    ngramJaccard(s, dir)
      .join(sig.toDF("d1", "h1").hint("shuffle_hash"), "d1")
      .join(sig.toDF("d2", "h2").hint("shuffle_hash"), "d2")
      .select(col("jaccard"), matches(2).as("m2"), matches(4).as("m4"),
        matches(8).as("m8"))
      .selectExpr("jaccard", "stack(3, 2L, m2, 4L, m4, 8L, m8) as (k, m)")
      .withColumn("err", abs(expr("m * (1000000 div k)") -
        round(col("jaccard") * 1e6).cast("long")))
      .withColumn("asd", round(sqrt(col("jaccard") *
        (lit(1.0) - col("jaccard")) / col("k").cast("double")) * 1e6)
        .cast("long"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(err) div count(1)").as("mean_abs_err_ppm"),
        max(col("err")).as("max_abs_err_ppm"),
        expr("sum(asd) div count(1)").as("analytic_sd_ppm"))
  }

  /** q342: LSH PARAMETER PLANNER (round-11) — the (bands × rows)
    * decision table a 100 TB dedup run reads BEFORE committing to a
    * banding layout (the q201 threshold sweep's sibling, one knob
    * over): from the SAME 8 minhashes q22 uses, every way to cut
    * them into b bands × r rows — (1×8, 2×4, 4×2, 8×1) — is
    * evaluated on three axes at once:
    *  - candidate VOLUME: Σ C(bucket,2) over that cut's buckets —
    *    the join cost the cut would actually incur (8×1 floods,
    *    1×8 starves);
    *  - ACTUAL recall on ground truth: fraction of q21's exact
    *    pairs colliding in ≥1 band under the cut;
    *  - ANALYTIC recall: the 1−(1−s^r)^b S-curve averaged over the
    *    same pairs' exact Jaccards — powers expanded to literal
    *    multiplication chains (r, b ≤ 8) so both engines compute
    *    the identical fixed IEEE product, never a libm pow; per-pair
    *    values integer-ppm-rounded before the mean so the aggregate
    *    is order-free.
    * Actual ≈ analytic validates the model the production knob
    * extrapolates from (at 100 TB you re-run the volume axis on the
    * full corpus but the recall axes on a slice). Cost: signatures
    * once, ≤4 bounded band aggregations + pair joins — output 4
    * rows. */
  def lshPlanner(s: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documents(s, dir)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .withColumn("hs",
        org.apache.spark.sql.graft.MinHashMd5.column(col("sh"), 8))
      .select(col("doc_id"), col("hs")).localCheckpoint()
    val exact = ngramJaccard(s, dir).localCheckpoint()
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    configs.map { case (nb, r) =>
      val bandStructs = array((0 until nb).map { b =>
        struct(lit(b).as("band"),
          md5(concat((0 until r).map(j => col("hs")(b * r + j)): _*)
            .cast("binary")).as("k"))
      }: _*)
      // r18 (guide §1.2): pin the per-config banding rows — they
      // feed the volume agg AND both sides of the recall join, so
      // un-pinned each config re-exploded the signature table 3x.
      val bands = sig.select(col("doc_id"), explode(bandStructs).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.k"))
        .localCheckpoint()
      val vol = bands.groupBy(col("band"), col("k"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))
          .as("candidate_pairs"))
      val found = exact
        .join(bands.toDF("d1", "band", "k1"), "d1")
        .join(bands.toDF("d2", "band", "k2"), Seq("d2", "band"))
        .filter(col("k1") === col("k2"))
        .select(col("d1"), col("d2")).distinct()
        .agg(count(lit(1)).as("n_found"))
      val sr = (1 to r).map(_ => col("jaccard")).reduce(_ * _)
      val qb = (1 to nb).map(_ => lit(1.0) - sr).reduce(_ * _)
      val stats = exact
        .select(round((lit(1.0) - qb) * 1e6).cast("long").as("p_ppm"))
        .agg(count(lit(1)).as("n_exact_pairs"),
          expr("sum(p_ppm) div nullif(count(1), 0)")
            .as("predicted_recall_ppm"))
      stats.crossJoin(broadcast(found)).crossJoin(broadcast(vol))
        .select(lit(nb.toLong).as("n_bands"),
          lit(r.toLong).as("rows_per_band"), col("candidate_pairs"),
          col("n_exact_pairs"), col("n_found"),
          expr("n_found * 1000000 div nullif(n_exact_pairs, 0)")
            .as("actual_recall_ppm"),
          col("predicted_recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** q366: SIMHASH BANDED NEAR-DUP PAIRS + PRECISION/RECALL audit
    * (round-12) — closes the audit symmetry: q178 prices the
    * MinHash-LSH banding against exact Jaccard; nothing priced
    * q23's simhash, which a 100 TB pipeline prefers when it wants
    * FIXED 8-byte state per doc (Manku, Jain & Sarma, WWW'07 — the
    * Google web-crawl dedup design). Pairing is the WWW'07 recipe:
    * the 64-bit fingerprint splits into 4 bands of 16 bits; any
    * shared band is a candidate (hamming ≤ 3 ⇒ the 3 differing bits
    * hit ≤ 3 bands ⇒ at least one band is clean — EXACT recall for
    * the hamming predicate, by pigeonhole, never probabilistic);
    * candidates verify with one xor+bit_count on the decoded
    * 60+4-bit longs. The audit then prices the hamming≤3 PREDICTED
    * pair set against q21's exact-Jaccard ground truth — precision
    * (verified pairs that are true dups) and recall (true dups the
    * fingerprint finds) in one row. Shapes: band equi-join on
    * 16-bit keys (bucket count 2^16 per band — the knob that keeps
    * buckets bounded), id-keyed shuffle-hash verify joins; never
    * doc × doc. */
  def simhashNearDup(s: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    // r18 (guide §1.2): pin the fingerprint frame — it feeds the
    // band self-join (both sides) and the hamming-verify lookups,
    // so un-pinned the per-token-md5 simhash pass over the corpus
    // ran three times. One 3-long row per doc.
    val sh = simhashOf(Tables.documents(s, dir))
      .withColumn("hi", conv(substring(col("simhash"), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("lo", conv(substring(col("simhash"), 16, 1), 16, 10)
        .cast("long"))
      .localCheckpoint()
    val bands = sh.select(col("doc_id"),
        explode(expr("transform(sequence(0, 3), b -> " +
          "struct(b AS band, substring(simhash, b * 4 + 1, 4) AS bk))"))
          .as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bk"))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val fp = sh.select(col("doc_id"), col("hi"), col("lo"))
    val predicted = cands
      .join(fp.toDF("d1", "hi1", "lo1").hint("shuffle_hash"), "d1")
      .join(fp.toDF("d2", "hi2", "lo2").hint("shuffle_hash"), "d2")
      .withColumn("hamming",
        (bit_count(expr("hi1 ^ hi2")) + bit_count(expr("lo1 ^ lo2")))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"))
    // pinned: consumed by the precision join AND the recall count
    val exact = ngramJaccard(s, dir)
      .select(col("d1"), col("d2"), lit(1L).as("is_true"))
      .localCheckpoint()
    val p = predicted.join(exact, Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_predicted"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_true_found"))
    val e = exact.agg(count(lit(1)).as("n_exact"))
    p.crossJoin(broadcast(e))
      .select(col("n_predicted"), col("n_true_found"), col("n_exact"),
        expr("n_true_found * 1000000 div nullif(n_predicted, 0)")
          .as("precision_ppm"),
        expr("n_true_found * 1000000 div nullif(n_exact, 0)")
          .as("recall_ppm"))
  }

  // Fellegi–Sunter field weights in centibans (round(log2(m/u)·1000)
  // for agreement, round(log2((1−m)/(1−u))·1000) for disagreement)
  // from fixed published-style (m, u) priors; the SAME literals are
  // inlined in the oracle SQL, so gate and oracle cannot drift.
  //   name    (m=0.90, u=0.001): +9814 / −3320
  //   nation  (m=0.95, u=0.04):  +4570 / −4263
  //   segment (m=0.90, u=0.20):  +2170 / −3000
  //   balance (m=0.80, u=0.01):  +6322 / −2307
  private[graft] val FsWeights = Map(
    "name" -> (9814L, -3320L), "nation" -> (4570L, -4263L),
    "segment" -> (2170L, -3000L), "balance" -> (6322L, -2307L))

  /** q367: FELLEGI–SUNTER probabilistic record linkage (round-12) —
    * the decision-theoretic layer q47's name matcher feeds (Fellegi
    * & Sunter, JASA 1969 — still the canonical model behind every
    * production ER system): each candidate pair gets a COMPOSITE
    * match weight Σ_f log2(m_f/u_f) over its field agreement vector
    * (m = P(agree|match), u = P(agree|non-match); agreement on a
    * discriminating field adds evidence, disagreement subtracts),
    * and two thresholds split the pairs into match / possible
    * (clerical review) / non-match. Candidates are the q47
    * deletion-variant name pairs (blocking provably complete for
    * edit distance ≤ 1), so the name field always agrees and the
    * OTHER fields carry the decision — exactly the "same name,
    * different person?" calibration question. All weights are
    * integer centibans from fixed (m, u) priors (literals shared
    * with the oracle); the gate is exact. Shapes: the q47 block
    * pairing + one customer-attribute shuffle-hash join per side. */
  def fellegiSunter(s: SparkSession, dir: String,
      tUpper: Long = 18000L, tLower: Long = 10000L): DataFrame = {
    val attrs = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("bal_cents"))
    def w(f: String, agree: org.apache.spark.sql.Column) = {
      val (a, d) = FsWeights(f)
      when(agree, lit(a)).otherwise(lit(d))
    }
    // blockCap = MaxValue: the gate's oracle enumerates the FULL
    // lev<=1 pair set, so the candidate generator must be uncapped
    // here — a variant block past the default 256 cap would silently
    // drop pairs at larger SF (q332 documents the cap's tradeoff).
    nameMatch(s, dir, blockCap = Int.MaxValue)
      .join(attrs.toDF("id1", "nat1", "seg1", "bal1").hint("shuffle_hash"),
        "id1")
      .join(attrs.toDF("id2", "nat2", "seg2", "bal2").hint("shuffle_hash"),
        "id2")
      .withColumn("agree_nation", col("nat1") === col("nat2"))
      .withColumn("agree_segment", col("seg1") === col("seg2"))
      .withColumn("agree_balance",
        abs(col("bal1") - col("bal2")) <= 10000L)
      .withColumn("score_cb",
        lit(FsWeights("name")._1) +
          w("nation", col("agree_nation")) +
          w("segment", col("agree_segment")) +
          w("balance", col("agree_balance")))
      .select(col("id1"), col("id2"), col("agree_nation"),
        col("agree_segment"), col("agree_balance"), col("score_cb"),
        when(col("score_cb") >= tUpper, "match")
          .when(col("score_cb") >= tLower, "possible")
          .otherwise("nonmatch").as("decision"))
  }

  /** q371: LOCAL CLUSTERING COEFFICIENT per node (round-12) — q129's
    * cohesion question answered PER VERTEX: lcc(v) = triangles at v /
    * C(deg v, 2), the number that tells q59's component splitter
    * WHICH docs sit in verified cliques (lcc → 1: every neighbor
    * pair also collided — safe transitive merge) vs which are
    * banding-artifact cut vertices (lcc → 0: a hub whose neighbors
    * never met — the A~B~C chain q129's docs warn about, now
    * locatable instead of a global average). Same degree-ordered
    * enumeration as q129 (orient to the higher (deg, id) endpoint,
    * wedge self-join bounded by Σ d_out², semi-join closure) — but
    * each closed wedge emits its THREE corners, so per-node counts
    * are one explode + hash agg more than the global count, never a
    * second enumeration. Integer ppm; nodes with deg < 2 have no
    * wedge and report null lcc. */
  def localClustering(s: SparkSession, dir: String): DataFrame =
    localClusteringOf(minhashLsh(s, dir))

  private[graft] def localClusteringOf(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("d1").as("node"))
      .union(edges.select(col("d2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.toDF("d1", "deg1").hint("shuffle_hash"), "d1")
      .join(deg.toDF("d2", "deg2").hint("shuffle_hash"), "d2")
    val lower = struct(col("deg1"), col("d1")) < struct(col("deg2"), col("d2"))
    val oriented = withDeg.select(
      when(lower, col("d1")).otherwise(col("d2")).as("s"),
      when(lower, col("d2")).otherwise(col("d1")).as("t"),
      when(lower, col("deg2")).otherwise(col("deg1")).as("td"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          struct(col("e1.td"), col("e1.t")) < struct(col("e2.td"), col("e2.t")))
      .select(col("e1.s").as("u"), col("e1.t").as("v"), col("e2.t").as("w"))
    val closed = wedges.join(
        oriented.select(col("s").as("v"), col("t").as("w")).hint("shuffle_hash"),
        Seq("v", "w"), "left_semi")
    val perNode = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("coalesce(n_tri, 0) * 1000000 div ((deg * (deg - 1)) div 2)"))
          .as("lcc_ppm"))
  }

  /** q375: SPAN-LEVEL DEDUP with keeper attribution (round-12, the
    * Lee et al. 2021 "Deduplicating Training Data" decision grain) —
    * q93 measures how much of each doc is cross-doc duplicated
    * spans; this makes the REMOVAL decision: every span keeps
    * exactly ONE owner (the min doc_id holding it — the q48
    * canonicalization rule at span grain), every other occurrence is
    * removable, and the per-doc surviving fraction is what the
    * token-budget accounting (q349) actually subtracts. Same
    * positional-trigram × doc-frequency machinery as q93 (span
    * stream equi-joined to the distinct-shingle frequency frame,
    * shuffle-hash so the positional stream is never sorted) with one
    * extra min() in the same agg — owner attribution costs nothing.
    * Docs under 3 tokens re-enter as zero-span rows with full
    * survival. */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val spans = toks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2),
          element_at(col("toks"), i + 3)))).as("sh"))
    val own = docs
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("docs_with"), min(col("doc_id")).as("owner"))
      .hint("shuffle_hash")
    val agged = spans.join(own, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_removed"))
    docs.select(col("doc_id")).join(agged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("surviving_ppm",
        expr("coalesce((n_spans - n_removed) * 1000000" +
          " div nullif(n_spans, 0), 1000000)"))
  }

  /** Core of [[exactSubstr]] over any (doc_id, text) frame — split
    * out so specs can pin constructed overlap cases (two docs
    * sharing a 2k-token block must cut exactly ONE span). */
  def exactSubstrOf(docs: DataFrame, k: Int): DataFrame = {
    val toks = substrToks(docs)
    val grams = substrGrams(toks, k)
    // ownership frame at the q375 grain: docs containing the gram,
    // owner = min doc_id — so removed-occurrence accounting is
    // IDENTICAL to q375's n_removed when k = 3 (the reconciliation
    // the Round13 spec pins)
    val own = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("docs_with"), min(col("doc_id")).as("owner"))
      .hint("shuffle_hash")
    exactSubstrFromOwn(toks, grams, own, k)
  }

  private def substrToks(docs: DataFrame): DataFrame =
    // r18: the r17 Tables.spread is removed — measured net loss at
    // the ground-truth SF (q384 2.3→3.3 s on the r17 driver bench);
    // the gram explode feeds a groupBy whose shuffle parallelizes
    // the ownership agg regardless of scan partitioning.
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))

  /** Positional k-gram stream: posexplode's index IS the 0-based
    * token start position of the gram. */
  private def substrGrams(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("tk"), i + j + 1)): _*))))
      .toDF("doc_id", "pos", "g")

  /** The q384 decision layer against ANY gram-ownership frame
    * (g, docs_with, owner) — split out so q412 can run it over the
    * STREAMING-maintained index. */
  private[graft] def exactSubstrFromOwn(toks: DataFrame, grams: DataFrame,
      own: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cut = grams.join(own, "g")
      .filter(col("docs_with") >= 2 && col("owner") =!= col("doc_id"))
      .select(col("doc_id"), col("pos"))
    val nOcc = cut.groupBy(col("doc_id")).agg(count(lit(1)).as("n_cut_occ"))
    // token-position coverage of all cut occurrences, merged into
    // MAXIMAL spans via island detection (pos − row_number is
    // constant within a run of consecutive covered positions); the
    // window partitions by doc_id, so its sort is bounded by one
    // document's length — never a corpus sort
    val cov = cut.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
    val isl = cov.withColumn("grp",
      col("p") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("p"))))
    val spans = isl.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut_tokens"),
        countDistinct(col("grp")).as("n_cut_spans"))
    toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"))
      .join(nOcc, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_cut_occ"), lit(0L)).as("n_cut_occ"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("n_cut_tokens"), lit(0L)).as("n_cut_tokens"))
      .withColumn("surviving_ppm",
        expr("(n_toks - n_cut_tokens) * 1000000 div nullif(n_toks, 0)"))
  }

  /** q396: ROUGE-2 OVERLAP on the LSH candidate pairs (round-13) —
    * the MULTISET n-gram precision/recall grain the dedup family's
    * Jaccard (q21, distinct-set) deliberately ignores: Jaccard says
    * "how much vocabulary is shared", ROUGE-2 with clipped counts
    * (Lin 2004) says "how much of each document's actual bigram MASS
    * the other one covers" — repeated boilerplate counts every
    * occurrence, which is exactly why summarization eval and
    * containment QA use it. Candidates are q22's band collisions
    * (never doc × doc); per pair: clipped match Σ min(c₁, c₂), then
    * recall (of d1), precision (of d2), and F1 via the integer
    * harmonic identity 2m/(t₁+t₂) — everything exact integer ppm.
    * Shapes: one multiset bigram agg, two shuffle-hash joins fanning
    * the candidate list over shared grams only. */
  def rougePairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // r18 (guide §1.2): pin the three multiply-consumed frames —
    // the banded rows (self-joined), the candidate pairs (overlap
    // join + final report), and the per-doc bigram counts (both
    // lookup sides + totals). Un-pinned, the 8-md5 banding ran
    // twice and the corpus bigram explode three times.
    val bands = minhashBandsOf(docs).localCheckpoint()
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .localCheckpoint()
    val bg = docs.filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = bg.groupBy(col("doc_id")).agg(sum(col("c")).as("tot"))
    val matched = cands
      .join(bg.toDF("d1", "g", "c1").hint("shuffle_hash"), Seq("d1"))
      .join(bg.toDF("d2", "g", "c2").hint("shuffle_hash"), Seq("d2", "g"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(least(col("c1"), col("c2"))).as("match2"))
    cands.join(matched, Seq("d1", "d2"), "left")
      .join(totals.toDF("d1", "tot1").hint("shuffle_hash"), "d1")
      .join(totals.toDF("d2", "tot2").hint("shuffle_hash"), "d2")
      .withColumn("match2", coalesce(col("match2"), lit(0L)))
      .select(col("d1"), col("d2"), col("match2"), col("tot1"), col("tot2"),
        expr("match2 * 1000000 div tot1").as("recall_ppm"),
        expr("match2 * 1000000 div tot2").as("precision_ppm"),
        expr("2 * match2 * 1000000 div (tot1 + tot2)").as("f_ppm"))
  }

  /** q397: POSITIONAL DUPLICATION PROFILE (round-13) — WHERE in the
    * document the cross-doc duplication lives, per source: q93
    * measures how much of a doc is duplicated span mass; this bins
    * every positional trigram into head/middle/tail thirds and
    * reports each (source, third)'s duplicated fraction. The number
    * a cleaning pipeline acts on directly: boilerplate concentrates
    * at document EDGES (headers, navigation, footers, signatures —
    * the CCNet/RefinedWeb motivation for line-level cleaning), so
    * head/tail dup_ppm far above the middle says "strip edges before
    * doc-level dedup", while a flat profile says the duplication is
    * genuine content overlap only dedup can fix. Same machinery as
    * q375 (positional span stream × distinct-doc frequency frame,
    * shuffle-hash), one extra integer bucket column; output is
    * |sources| × 3 rows. */
  def positionalDupProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val toks = docs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("tk"))
    val spans = toks.filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("source"),
        expr("size(tk) - 2").cast("long").as("n_sp"),
        posexplode(transform(
          sequence(lit(0), size(col("tk")) - 3),
          i => concat_ws(" ", element_at(col("tk"), i + 1),
            element_at(col("tk"), i + 2), element_at(col("tk"), i + 3)))))
      .toDF("doc_id", "source", "n_sp", "pos", "sh")
      .withColumn("bucket", expr("pos * 3 div n_sp"))
    val own = docs
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("docs_with"))
      .hint("shuffle_hash")
    spans.join(own, "sh")
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 div n_spans"))
  }

  /** q407: LONGEST SHARED TOKEN SPAN per candidate pair (round-13) —
    * the dedup-forensics number q384 aggregates away: for each LSH
    * candidate pair, the length of the longest CONTIGUOUS token run
    * the two documents share — "is this a quoted paragraph or a
    * wholesale copy", the evidence a removal appeal actually reads.
    * Mechanism: positional k-gram anchors joined per pair on gram
    * content; a shared run of length L contributes L−k+1 anchor
    * matches along ONE DIAGONAL (pos₁ − pos₂ constant), so maximal
    * runs are island detection over (pair, diagonal) — windows
    * bounded by one document pair's anchors, never the corpus. A
    * multi-occurrence gram contributes every (pos₁, pos₂) cell, each
    * on its own diagonal — exactly the dotplot matrix, sparsified to
    * matching anchors. Pairs sharing no k-gram report no row.
    *
    * FAN-OUT CAP (`maxOcc`, the winnowing-style knob): a gram
    * occurring p times in d1 and q times in d2 emits p·q dotplot
    * cells, and boilerplate-heavy near-dup pairs — exactly what LSH
    * surfaces — go quadratic per pair. Each document therefore
    * contributes only its FIRST `maxOcc` positions of any gram, so
    * cells per gram per pair are ≤ maxOcc² and total cells per pair
    * are ≤ maxOcc·min(|d1|,|d2|) anchors — LINEAR in document
    * length. The reported span is exact whenever no anchor gram of
    * the true longest run repeats more than maxOcc times within a
    * document (k-grams that frequent inside ONE doc are boilerplate
    * by definition); past the cap a run can only be UNDER-reported,
    * never invented. The `dotplot` ScaleProbe section prices
    * cells-per-pair capped vs uncapped on a constructed
    * boilerplate-heavy pair. */
  def longestSharedSpan(s: SparkSession, dir: String, k: Int = 3,
      maxOcc: Int = 8): DataFrame =
    longestSharedSpanOf(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), k,
      maxOcc)

  /** Core of [[longestSharedSpan]] over any (doc_id, text) frame —
    * split out so specs can pin constructed shared-block cases. */
  def longestSharedSpanOf(docs: DataFrame, k: Int, maxOcc: Int = 8)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18 (guide §1.2): pin the banding — both sides of the
    // candidate self-join consume it, so un-pinned the signature
    // pass ran twice.
    val bands = minhashBandsOf(docs).localCheckpoint()
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val grams = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("tk"), i + j + 1)): _*))))
      .toDF("doc_id", "pos", "g")
      // the fan-out cap: keep each doc's first maxOcc positions of a
      // gram (window keyed by (doc, gram) — bounded per partition by
      // one document's occurrences of one gram)
      .withColumn("occ", row_number().over(Window
        .partitionBy(col("doc_id"), col("g")).orderBy(col("pos"))))
      .filter(col("occ") <= maxOcc).drop("occ")
      // r18 (guide §1.2): pinned — the gram explode + cap window
      // feeds both lookup sides of the cell join.
      .localCheckpoint()
    val cells = cands
      .join(grams.toDF("d1", "p1", "g").hint("shuffle_hash"), Seq("d1"))
      .join(grams.toDF("d2", "p2", "g").hint("shuffle_hash"),
        Seq("d2", "g"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("diag"))
      .distinct()
    val isl = cells.withColumn("grp",
      col("p1") - row_number().over(Window
        .partitionBy(col("d1"), col("d2"), col("diag"))
        .orderBy(col("p1"))))
    isl.groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("n_anchors"))
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("n_anchors")).as("max_anchors"))
      .select(col("d1"), col("d2"),
        (col("max_anchors") + (k - 1)).cast("long")
          .as("max_shared_span_tokens"))
  }

  /** q384: EXACT-SUBSTRING DEDUP at the Lee et al. 2021 ExactSubstr
    * decision grain (round-13) — q375 decides span ownership gram by
    * gram; production ExactSubstr cuts MAXIMAL duplicated substrings
    * ≥ k tokens mid-doc: a 2k-token block shared by two docs is ONE
    * cut span in the non-owner, not k+1 independent gram decisions.
    * Pipeline, bucketed end to end (never a suffix array on one
    * task): positional k-gram anchors → gram-equi-joined ownership
    * frame (docs_with, min-doc owner — the q48/q375 canonical-keeper
    * rule) → non-owner occurrences explode to their covered token
    * positions → consecutive positions merge into maximal spans by
    * island detection under a PER-DOC window. Per doc: anchor
    * occurrences cut (n_cut_occ — equals q375's n_removed at k = 3,
    * the reconciliation grain), maximal spans cut, tokens removed,
    * surviving ppm. The owner keeps every span; intra-doc repeats
    * inside the owner survive (q375's convention). At 100 TB the
    * gram frame shuffles on gram hash and every downstream shape is
    * keyed by doc_id — the suffix-grain machinery without any
    * global order. */
  def exactSubstr(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    exactSubstrOf(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), k)

  // ---------------------------------------------------------------
  // q412: STREAMING exact-substring index (round-14, VERDICT Next
  // #7) — the q326/q327/q385 continuous-index treatment applied to
  // q384's gram-ownership frame: maintain (gram → docs_with, owner)
  // incrementally per micro-batch, then run the UNCHANGED q384
  // decision layer over the maintained frame. The store holds one
  // AGGREGATE row per (gram, batch): n_docs and min_doc of the docs
  // that batch contributed — checkpoint replay re-appends an
  // IDENTICAL (gram, batch) row, which the read collapses (max/min
  // per (g, batch_id) — the q195 counts discipline), so the
  // maintained ownership is batching-, replay- and compaction-
  // invariant. docs_with = Σ per-batch n_docs (each doc arrives in
  // exactly one batch), owner = min over per-batch minima (a min
  // lattice — merge-order-free).
  //
  // Compaction is LSM-TIERED (round-15, VERDICT Next #4): gram-hash
  // deltas touch essentially every gram partition, so the q385
  // cell-scoped treatment cannot apply — instead the (g, batch)
  // runs organize as geometric tiers (the logarithmic method /
  // binomial counter, fan-in 2): a roll folds the delta run plus
  // every consecutive occupied tier from 0 upward into the first
  // unoccupied tier. Each row is rewritten once per tier it climbs,
  // so compaction IO is amortized O(delta · log(index/delta)) per
  // roll — and the BULK-LOADED base is the untouched top: never
  // read, never rewritten by any roll. Read fan-in is
  // O(log #batches) parquet dirs, and the read-side (g, batch_id)
  // collapse makes every crash window (roll published but lower
  // tiers not yet dropped; checkpoint replay re-appending a batch)
  // degrade to duplicate rows the read collapses — never to a wrong
  // ownership.
  // ---------------------------------------------------------------

  /** Per-batch gram aggregate: for each k-gram, how many docs of
    * this frame contain it and the smallest such doc_id. */
  private[graft] def gramAggOf(docs: DataFrame, k: Int): DataFrame =
    substrGrams(substrToks(docs), k)
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))

  private[graft] def initExactSubstrIndex(s: SparkSession,
      stateRoot: String, base: DataFrame, k: Int): Unit =
    StreamingOps.publishStore(s, stateRoot, "gramagg",
      gramAggOf(base, k).withColumn("batch_id", lit(-1L)), Seq.empty)

  /** Tier-run store names: `gramagg` is the bulk-loaded base (the
    * top the rolls never touch); `gramagg_t0 < t1 < …` are the
    * geometric LSM tiers between the delta and that base. */
  private def gramTierName(t: Int): String = s"gramagg_t$t"

  /** The CONSECUTIVE occupied LSM tiers from 0 — the binomial
    * counter's carry run, i.e. exactly the runs the next roll must
    * consume (a fan-in-2 roll always merges the full occupied
    * prefix and lands on the first gap). NOT a read set: tiers
    * above the first gap stay live. */
  private def carryGramTiers(stateRoot: String): List[(Int, String)] =
    Iterator.from(0)
      .map(t => t -> StreamingOps.storeBaseDir(stateRoot, gramTierName(t))
        .filter(d => StreamingOps.hasParquet(java.nio.file.Paths.get(d))))
      .takeWhile(_._2.isDefined)
      .map { case (t, d) => (t, d.get) }.toList

  /** EVERY occupied LSM tier — the read set (after a roll leaves
    * e.g. {2} occupied, the consecutive-prefix scan sees nothing;
    * reads must union all live runs). 63 tiers bound 2⁶³ rolls. */
  private def allGramTiers(stateRoot: String): List[(Int, String)] =
    (0 until 63).flatMap { t =>
      StreamingOps.storeBaseDir(stateRoot, gramTierName(t))
        .filter(d => StreamingOps.hasParquet(java.nio.file.Paths.get(d)))
        .map(d => (t, d))
    }.toList

  /** ONE LSM ROLL (round-15): fold the delta run and every
    * consecutive occupied tier from 0 upward into the first
    * unoccupied tier, then retire the consumed runs. The merge
    * collapses per (g, batch_id) (max/min — replay duplicates die
    * here), so a crash after the publish but before the retire only
    * leaves rows the read collapses again. IO per roll = the merged
    * tier bytes; the bulk `gramagg` base is NEVER read or rewritten
    * — compaction cost is amortized O(delta · log tiers), not
    * O(index) at cadence. No delta → no-op. */
  private[graft] def lsmRollGramIndex(s: SparkSession,
      stateRoot: String): Unit = {
    import StreamingOps.{dropStore, hasParquet, publishStore, storeDeltaDir}
    val deltaDir = storeDeltaDir(stateRoot, "gramagg")
    if (!hasParquet(java.nio.file.Paths.get(deltaDir))) return
    val lower = carryGramTiers(stateRoot)
    val target = lower.size // first unoccupied tier
    val merged = (s.read.parquet(deltaDir) ::
        lower.map { case (_, d) => s.read.parquet(d) })
      .reduce(_ unionByName _)
      .groupBy(col("g"), col("batch_id"))
      .agg(max(col("n_docs")).as("n_docs"),
        min(col("min_doc")).as("min_doc"))
      .localCheckpoint()
    publishStore(s, stateRoot, gramTierName(target), merged, Seq.empty)
    // retire consumed runs AFTER the publish (crash-safe order): the
    // lower tiers and the gramagg delta were folded into the target
    lower.foreach { case (t, _) => dropStore(stateRoot, gramTierName(t)) }
    StreamingOps.dropStoreDelta(stateRoot, "gramagg")
  }

  /** ONE micro-batch of the streaming exact-substring protocol
    * (factored out so specs can drive batches directly — replay a
    * batch, force a roll): aggregate the batch's grams and append
    * tagged with the batch id; LSM-roll at cadence. Per-batch cost
    * is Θ(|batch| grams) — the index is never rescanned on the
    * append path, and rolls never touch the bulk base. */
  private[graft] def exactSubstrIndexBatch(s: SparkSession,
      stateRoot: String, batch: DataFrame, batchId: Long, k: Int,
      compactEvery: Int = 3): Unit = {
    import StreamingOps.storeDeltaDir
    gramAggOf(batch, k).withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(storeDeltaDir(stateRoot, "gramagg"))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      lsmRollGramIndex(s, stateRoot)
  }

  /** The maintained ownership frame: union the bulk base, every LSM
    * tier run, and the un-rolled delta (O(log #batches) dirs);
    * collapse replay duplicates per (gram, batch), then merge
    * batches — docs_with by sum, owner by the min lattice. */
  private[graft] def readGramOwnership(s: SparkSession,
      stateRoot: String): DataFrame = {
    val tierFrames = allGramTiers(stateRoot)
      .map { case (_, d) => s.read.parquet(d) }
    val baseAndDelta = StreamingOps.readStoreAll(s, stateRoot, "gramagg")
    (baseAndDelta.toList ++ tierFrames)
      .reduce(_ unionByName _)
      .groupBy(col("g"), col("batch_id"))
      .agg(max(col("n_docs")).as("n_docs"),
        min(col("min_doc")).as("min_doc"))
      .groupBy(col("g"))
      .agg(sum(col("n_docs")).as("docs_with"), min(col("min_doc")).as("owner"))
  }

  /** Stage + drain the q412 stream: publish the base (even doc_id)
    * gram index, stream the odd docs as a 6-file JSONL source, and
    * drain it through [[StreamGate.run]] over a checkpoint
    * (compaction mid-stream at the default cadence). */
  private[graft] def runStreamExactSubstr(s: SparkSession, dir: String,
      stage: String, k: Int, compactEvery: Int = 3): Unit = {
    val st = Stage.at(stage)
    val stateRoot = st.path("state")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    initExactSubstrIndex(s, stateRoot, docs.filter(col("doc_id") % 2 === 0), k)
    val delta = st.jsonStream("in", docs.filter(col("doc_id") % 2 =!= 0),
      col("doc_id"), files = 6, maxFilesPerTrigger = 2)
    // the positional-gram explode per batch is CPU-bound
    st.run(delta, OutputMode.Append(), workFactor = 256L) { (df, id) =>
      exactSubstrIndexBatch(s, stateRoot, df, id, k, compactEvery)
    }
  }

  /** q412: STREAMING ExactSubstr under the oracle gate — the q384
    * per-doc cut report computed from the CONTINUOUSLY MAINTAINED
    * ownership frame must EQUAL the one-shot batch q384 on the same
    * corpus, however the stream was batched, replayed, or compacted
    * (same oracle SQL as q384 — the q326/q385 gate discipline). The
    * per-doc positional machinery is doc-local and recomputed at
    * read; the GLOBAL object — who else has this gram, and who owns
    * it — is what the stream maintains. */
  def streamExactSubstr(s: SparkSession, dir: String, k: Int = 5)
      : DataFrame = {
    val stage = Stage("q412", dir)
    runStreamExactSubstr(s, dir, stage.root, k)
    val toks = substrToks(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    exactSubstrFromOwn(toks, substrGrams(toks, k),
      readGramOwnership(s, stage.path("state")).hint("shuffle_hash"), k)
  }
}
