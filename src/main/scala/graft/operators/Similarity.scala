package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.Tables

/** Similarity search over the embeddings table (SURVEY §2.D).
  *
  * Oracle-parity trick: embeddings are quantized to integer
  * micro-units (round(x⋅10⁶) as BIGINT) so dot products and norms are
  * EXACT integer arithmetic — bit-identical across engines and across
  * any summation order. Cosine = intDot / (√n2a·√n2b) is then a fixed
  * IEEE double expression. Quantization error on cosine is < 1e-5 —
  * and int8/int16-quantized vector search is the standard production
  * technique at 100 TB anyway (4-8× less memory bandwidth).
  */
object Similarity {

  /** vec_id, v: quantized int vector, n2: exact squared norm.
    * r18: the r17 [[Tables.spread]] on this scan is REMOVED — the
    * r17 driver bench measured the ~25 small ANN consumers of this
    * seam 1.5–2x slower with it (q26 0.5→1.0 s, q288, q354, q370,
    * q171, q224: the extra exchange's fixed cost dwarfs the
    * quantization it parallelizes), while the one heavy consumer
    * that DID win (the q24/q109 banding path) now pins its own
    * wide frame inside [[embedNearDupOf]] instead. */
  def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("v"))
      .withColumn("n2", org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))

  /** Exact integer dot product of two quantized vectors — a custom
    * codegen Catalyst expression (see [[org.apache.spark.sql.graft.LongArrayDot]]);
    * identical values to the interpreted fold, ~30× faster. */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.LongArrayDot.column(a, b)

  def cosineQ(va: Column, vb: Column, n2a: Column, n2b: Column): Column =
    dotQ(va, vb).cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Deterministic ±1 hyperplane component: parity of the first hex
    * nibble of md5("p|i") — the same value DuckDB computes from
    * `md5(p || '|' || i)`, so every LSH bucketing built on these
    * planes is oracle-replayable. */
  private[graft] def planeSign(p: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$i".getBytes("UTF-8"))
    // first hex nibble = high nibble of byte 0
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
  }

  private[graft] def plane(p: Int, dim: Int): Array[Long] =
    (0 until dim).map(i => planeSign(p, i)).toArray

  /** Sign bit (0/1) of the dot of `v` against md5-parity plane `p`. */
  private def planeBit(v: Column, p: Int, dim: Int): Column =
    when(org.apache.spark.sql.graft.LongArrayDot.column(v, lit(plane(p, dim))) > 0,
      lit(1L)).otherwise(lit(0L))

  /** Gated q24 banding parameters. 2^bandBits is the bucket count
    * per band — the knob that keeps bucket SIZE bounded as the
    * corpus grows (bits ∝ log n); nBands is the recall knob
    * (collision in ≥1 band). Both flow into the oracle SQL from
    * these same constants, so gate and oracle cannot drift. */
  val DefaultNBands  = 8
  val DefaultBandBits = 2

  /** (vec_id, band, band_key) banding rows for a quantized frame:
    * band b reads planes b·bandBits … b·bandBits+bandBits−1, key =
    * big-endian sign bits. Keyspace per band = 2^bandBits. */
  private[graft] def embedBandsOf(q: DataFrame, dim: Int,
      nBands: Int, bandBits: Int): DataFrame = {
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        (0 until bandBits).map(j =>
            planeBit(col("v"), b * bandBits + j, dim) * (1L << (bandBits - 1 - j)))
          .reduce(_ + _).as("band_key"))
    }: _*)
    q.select(col("vec_id"), explode(bandStructs).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.band_key"))
  }

  /** Distinct candidate pairs colliding in ≥1 band — the volume the
    * bandBits knob bounds (ScaleProbe measures this count). */
  private[graft] def embedCandidatesOf(q: DataFrame, dim: Int,
      nBands: Int, bandBits: Int): DataFrame = {
    val bands = embedBandsOf(q, dim, nBands, bandBits)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
  }

  /** q24 core over an arbitrary quantized (vec_id, v, n2) frame —
    * shared by the gated query and ScaleProbe. */
  private[graft] def embedNearDupOf(q: DataFrame, dim: Int,
      nBands: Int, bandBits: Int, threshold: Double): DataFrame = {
    // r18 (guide §1.2 — don't compute things twice): this operator
    // consumes the quantized frame FOUR times (both sides of the
    // band self-join, both vector lookups), so un-pinned the
    // quantization ran 4x and the 16-hyperplane dot pass 2x. Pin
    // the quantized frame once — spread wide first, the per-vector
    // plane dots are the hot loop — and pin the (id, band, key)
    // banding rows once; the self-join and both lookups then read
    // materialized partitions. Replaces r17's spread-inside-
    // quantized, which re-paid its exchange in all four subtrees.
    val qq = Tables.spread(q.sparkSession, q).localCheckpoint()
    val cands = {
      val bands = embedBandsOf(qq, dim, nBands, bandBits).localCheckpoint()
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
        .distinct()
    }
    // vector lookups as SHUFFLE_HASH joins: broadcast would be
    // honored regardless of corpus size, and the sort-merge fallback
    // sorts the candidate stream per join (the q21 ScaleProbe cliff);
    // shuffle-hash builds per-partition maps over |corpus|/P vectors
    cands
      .join(qq.toDF("id1", "v1", "n21").hint("shuffle_hash"), "id1")
      .join(qq.toDF("id2", "v2", "n22").hint("shuffle_hash"), "id2")
      .withColumn("cosine", cosineQ(col("v1"), col("v2"), col("n21"), col("n22")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** q24: embedding-cosine near-duplicate pairs (threshold 0.4) via
    * hyperplane-LSH banding: nBands·bandBits md5-parity planes →
    * nBands bands × bandBits-bit keys; candidates are pairs colliding
    * in ≥1 band (equi-join on (band, band_key) — never a cross join),
    * then exact cosine verification on candidates only. Band rows
    * carry only (vec_id, band, key); vectors are re-joined per
    * candidate, so the wide shuffle moves ids, not embeddings.
    *
    * The two knobs separate the two LSH trades: bandBits bounds
    * bucket size (2^bandBits buckets per band — raise it ∝ log n so
    * candidate volume stays near-linear as the corpus grows; at 100×
    * the sf0.1 corpus, bandBits 8–10 keeps expected bucket size
    * flat), nBands buys recall (1-(1-p^bandBits)^nBands; at the 8×2
    * default and cos ≥ 0.4, p = 1-θ/π ≈ 0.63 ⇒ recall ≈ 0.98).
    * Growing bandBits with the same planes strictly SHRINKS each
    * bucket (a (4·j)-bit key refines the (2·j)-bit key), so the
    * candidate set is monotone in the knob — property-tested. The
    * oracle replays the identical md5 banding from the same
    * constants, so parity is exact by construction. */
  def embedNearDup(s: SparkSession, dir: String, dim: Int = 64,
      nBands: Int = DefaultNBands, bandBits: Int = DefaultBandBits,
      threshold: Double = 0.4): DataFrame =
    embedNearDupOf(quantized(s, dir), dim, nBands, bandBits, threshold)

  /** q25: brute-force cosine top-5 neighbors for query vectors
    * (vec_id < 5) against the rest of the corpus. The query set is
    * broadcast; every corpus partition scores locally and keeps a
    * bounded top-k buffer ([[graft.functions.TopKAgg]]) — the shuffle
    * moves ≤ k rows per (partition × query), never the scored corpus
    * (a window-rank formulation would shuffle every scored row). */
  def annBruteForce(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.functions.TopK
    val q = quantized(s, dir)
    val queries = broadcast(q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2"))
    val corpus = q.filter(col("vec_id") >= 5).toDF("neighbor_id", "cv", "cn2")
    corpus.join(queries, lit(true))
      .withColumn("cosine", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
  }

  /** q288: FILTERED vector search — top-k under a metadata predicate,
    * the capability every vector store sells ("nearest neighbors
    * WHERE label = X") and the one that breaks post-filtered indexes
    * (filter after a global top-k starves selective predicates of
    * results). Done filter-FIRST: the corpus is scored per (query,
    * label) group, so each group keeps its own bounded TopKAgg
    * buffer — the shuffle carries ≤ k rows per (partition × query ×
    * label), k results are GUARANTEED per filter value however
    * selective it is, and the label filter rides the column-pruned
    * scan. One pass scores every label's search simultaneously —
    * |labels| filtered searches for the price of one corpus scan.
    * This is the EXACT baseline; the serving-scale path that prunes
    * the scan to probed index cells is [[filteredIvfRecall]] (q298),
    * which audits its recall against this result. */
  def annFiltered(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import graft.functions.TopK
    val q = quantized(s, dir)
    val queries = broadcast(q.filter(col("vec_id") < 5)
      .toDF("query_id", "qv", "qn2"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(q, "vec_id")
      .filter(col("vec_id") >= 5)
      .toDF("neighbor_id", "label", "cv", "cn2")
    corpus.join(queries, lit(true))
      .withColumn("cosine", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"), col("label"))
      .agg(TopK.topk(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), col("label"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
  }

  /** q298: FILTERED-IVF vector search with its recall audit (round-10,
    * VERDICT Next #2) — the SERVING-scale composition q288's scaladoc
    * promised: the label predicate pushed INTO q38's IVF probing.
    * Each query probes its `nprobe` nearest coarse cells once; the
    * probed members carry their metadata label, so ONE bounded
    * TopKAgg pass yields the per-(query, label) top-k from probed
    * cells only — |labels| filtered searches for the price of nprobe
    * cell scans, instead of q288's full-corpus scan per query. The
    * trust number ships WITH the result, q155-style: each (query,
    * label) group is audited against q288's exact filtered top-k
    * (n_exact / n_ivf / n_hit / recall_ppm) — sub-1M recall on a
    * selective label is precisely the "probed cells missed your
    * filter" signal that tells an operator to raise nprobe for that
    * tenant. At 100 TB the corpus is bucketed by cell, the probe
    * join is cell-local, and the audit joins touch only
    * O(queries × labels × k) rows. */
  def filteredIvfRecall(s: SparkSession, dir: String, nprobe: Int = 2,
      k: Int = 3): DataFrame = {
    import graft.functions.TopK
    val q = quantized(s, dir)
    val (centN, assigned) = ivfAssigned(s, dir)
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("mlabel"))
    val probes = q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2")
      .join(centN, lit(true))
      .withColumn("ccos", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"))
      .agg(first(col("qv")).as("qv"), first(col("qn2")).as("qn2"),
        TopK.topk(nprobe)(col("label").cast("long"), col("ccos")).as("top"))
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("t.id").cast("int").as("cell"))
    val ivfK = probes.join(assigned.filter(col("vec_id") >= 5), "cell")
      .join(labels.hint("shuffle_hash"), "vec_id")
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .groupBy(col("query_id"), col("mlabel"))
      .agg(TopK.topk(k)(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), col("mlabel").as("label"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("label"), col("t.id").as("neighbor_id"))
      .localCheckpoint()
    val ivfCounts = ivfK.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_ivf"))
    annFiltered(s, dir, k)
      .select(col("query_id"), col("label"), col("neighbor_id"))
      .join(ivfK.withColumn("found", lit(1L)),
        Seq("query_id", "label", "neighbor_id"), "left")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_hit"))
      .join(ivfCounts, Seq("query_id", "label"), "left")
      .select(col("query_id"), col("label"), col("n_exact"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"), col("n_hit"),
        expr("n_hit * 1000000L div n_exact").as("recall_ppm"))
  }

  /** q330: IVF+PQ — product-quantized RESIDUAL codes over the
    * existing IVF cells (round-11, VERDICT Next #6): the
    * serving-memory story. Each indexed vector stores only its cell
    * id plus a 64-bit code — the per-dimension SIGN of its residual
    * against its cell's centroid (8 subspaces × 8 sign bits); a
    * shared per-dimension scale vector s_j = mean |residual_j|
    * (integer, corpus-wide — the 1-byte-per-subspace codebook
    * equivalent, trained in ONE narrow aggregation pass) turns the
    * code back into a reconstruction v̂ = centroid ± s. Queries run
    * ADC: exact query vector against reconstructed candidates from
    * the probed cells only (q298's nprobe probe), bounded TopKAgg
    * top-k. The trust numbers ship WITH the result, q155/q298-style:
    * per query, PQ top-k audited against the EXACT brute-force
    * top-k (n_exact / n_pq / n_hit / recall_ppm), plus the memory
    * ratio the code buys (float32×64 = 256 B → 8 B code = 32×).
    * At 100 TB this is why IVF+PQ exists: the index holds codes, not
    * vectors — 32× more corpus per executor-memory byte, with the
    * measured recall cost reported next to it. All arithmetic is
    * integer (residuals, scales, reconstructions) so the oracle
    * replays it exactly. */
  def ivfPqRecall(s: SparkSession, dir: String, nprobe: Int = 2,
      k: Int = 5): DataFrame = {
    import graft.functions.TopK
    val (centN, assigned) = ivfAssigned(s, dir)
    // residual per vector vs OWN cell centroid (broadcast dim table)
    val withCent = assigned
      .join(broadcast(centN.select(col("label").as("cell"), col("cv"))), "cell")
      .withColumn("resid", zip_with(col("v"), col("cv"), (a, b) => a - b))
    // per-dim integer scale: ONE narrow explode over the indexed
    // corpus, map-side combinable, re-packed to a 64-long array
    val scales = withCent.filter(col("vec_id") >= 5)
      .select(posexplode(col("resid")).as(Seq("pos", "r")))
      .groupBy(col("pos"))
      .agg(sum(abs(col("r"))).as("sa"), count(lit(1)).as("n"))
      .select(col("pos"), expr("sa div n").as("sj"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sj)))," +
        " x -> x.sj)").as("scales"))
    // decode: v̂ = centroid + sign(residual)·scale, exact integer
    val rec = withCent.crossJoin(broadcast(scales))
      .withColumn("vhat", expr("zip_with(cv, zip_with(resid, scales," +
        " (r, s) -> CASE WHEN r >= 0 THEN s ELSE -s END)," +
        " (c, d) -> c + d)"))
      .withColumn("vn2", dotQ(col("vhat"), col("vhat")))
      .select(col("vec_id"), col("cell"), col("vhat"), col("vn2"))
    // q298's probe: each query scans only its nprobe nearest cells
    val q = quantized(s, dir)
    val probes = q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2")
      .join(centN, lit(true))
      .withColumn("ccos", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"))
      .agg(first(col("qv")).as("qv"), first(col("qn2")).as("qn2"),
        TopK.topk(nprobe)(col("label").cast("long"), col("ccos")).as("top"))
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("t.id").cast("int").as("cell"))
    val pqK = probes.join(rec.filter(col("vec_id") >= 5), "cell")
      .withColumn("score", cosineQ(col("qv"), col("vhat"), col("qn2"), col("vn2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("vec_id"), col("score")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
      .localCheckpoint()
    val pqCounts = pqK.groupBy(col("query_id")).agg(count(lit(1)).as("n_pq"))
    annBruteForce(s, dir, k)
      .select(col("query_id"), col("neighbor_id"))
      .join(pqK.withColumn("found", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_hit"))
      .join(pqCounts, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_pq"), lit(0L)).as("n_pq"), col("n_hit"),
        expr("n_hit * 1000000L div n_exact").as("recall_ppm"),
        lit(32L).as("mem_ratio"))
  }

  /** q75: embedding norm audit per label — the health check run
    * before any similarity work (collapsed/exploded norms flag a bad
    * encoder batch). Norms from the exact integer n2. */
  def normStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("v"))
      .withColumn("n2", org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))
      .withColumn("nrm", sqrt(col("n2").cast("double")) / 1e6)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("nrm")), 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))

  /** q37: per-label centroid sums — exact integer element-wise sums
    * of quantized vectors, emitted as (label, pos, sx) rows. The
    * posexplode→groupBy shape is the scalable centroid pattern: the
    * shuffle carries (label, pos) partial sums, never whole vectors;
    * this is the k-means/IVF training step at 100 TB. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("v"))
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n_vecs"))

  /** Plane index offset for the IVF sub-cell key family — disjoint
    * from q24's banding planes (which use indices 0..nBands·bandBits)
    * so the two blockers are independent hash families. */
  private val IvfPlaneBase = 1000

  /** IVF building block shared by q38/q99: the broadcastable coarse
    * quantizer (per-label integer centroids, q37's sums scaled to a
    * mean vector) and every corpus vector's nearest-centroid cell.
    * Assignment is max_by under hash aggregation — one shuffle of one
    * row per vector, never a window over |corpus|×|centroids| scored
    * rows; ties break to the smallest label via the negated tiebreak
    * column.
    *
    * `subBits` is the quantizer-size knob the 100 TB run needs: the
    * label cell count is fixed by the data (10 here), so each cell
    * grows linearly with the corpus and a within-cell self-join goes
    * quadratic. subBits > 0 splits every label cell by `subBits`
    * md5-parity hyperplane sign bits (an independent plane family,
    * [[IvfPlaneBase]]) ⇒ cell = label·2^subBits + subKey, keyspace =
    * nLabels·2^subBits — raise subBits ∝ log n to keep cell size
    * flat. Hyperplane splits are geometry-aware: near-identical
    * vectors land on the same side of every plane except the
    * measure-zero boundary band, so within-cell candidates keep the
    * near-dup mass. subBits = 0 is the plain label quantizer. */
  private[graft] def ivfAssigned(s: SparkSession, dir: String,
      subBits: Int = 0, dim: Int = 64): (DataFrame, DataFrame) =
    ivfAssignedOf(quantizedL(s, dir), subBits, dim)

  /** Labelled quantized frame (vec_id, label, v, n2). */
  private[graft] def quantizedL(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("v"))
      .withColumn("n2", org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))

  /** [[ivfAssigned]] over an arbitrary labelled quantized frame
    * (vec_id, label, v, n2) — shared with ScaleProbe so the probe
    * measures exactly the gated quantizer plan on expanded corpora. */
  private[graft] def ivfAssignedOf(embQ: DataFrame,
      subBits: Int, dim: Int): (DataFrame, DataFrame) = {
    val centN = centroidsOf(embQ)
    (centN, assignTo(embQ.select(col("vec_id"), col("v"), col("n2")),
      centN, subBits, dim))
  }

  /** Per-label integer mean centroids + norms, broadcast-wrapped —
    * the trainable half of the coarse quantizer, split out so the
    * incremental path (q197) can FREEZE it to parquet and assign
    * later deltas without retraining. */
  private[graft] def centroidsOf(embQ: DataFrame): DataFrame = {
    val cent = embQ
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("nv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), (col("sx") / col("nv")).cast("long").as("cx")))),
        e => e.getField("cx")).as("cv"))
    broadcast(cent
      .withColumn("cn2", org.apache.spark.sql.graft.LongArrayDot.column(col("cv"), col("cv"))))
  }

  /** Assign (vec_id, v, n2) rows to their max-cosine centroid cell
    * (max_by under hash aggregation — one shuffle of one row per
    * vector; smallest-label ties), optionally split by `subBits`
    * hyperplane sign bits. The assignment half of the quantizer,
    * shared by the inline (q38/q99) and frozen-index (q197) paths. */
  private[graft] def assignTo(q: DataFrame, centN: DataFrame,
      subBits: Int, dim: Int): DataFrame = {
    val labelled = q.join(centN, lit(true))
      .withColumn("ccos", cosineQ(col("v"), col("cv"), col("n2"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("label"), col("v"), col("n2")),
        struct(col("ccos"), negate(col("label")))).as("c"))
      .select(col("vec_id"), col("c.v").as("v"), col("c.n2").as("n2"),
        col("c.label").as("cell"))
    if (subBits == 0) labelled
    else {
      val subKey = (0 until subBits).map(j =>
          planeBit(col("v"), IvfPlaneBase + j, dim) * (1L << (subBits - 1 - j)))
        .reduce(_ + _)
      labelled.withColumn("cell",
        col("cell").cast("long") * (1L << subBits) + subKey)
    }
  }

  /** q99: embedding near-dup SELF-JOIN blocked by IVF cell — the
    * coarse-quantizer alternative to q24's hyperplane banding: a
    * candidate pair is two vectors assigned to the SAME nearest
    * centroid, verified with the exact integer cosine. The within-
    * cell equi-join is the classic IVF blocking trade: k cells bound
    * each block to ~n/k vectors (`subBits` sizes the quantizer —
    * keyspace nLabels·2^subBits, splitting a cell only REMOVES
    * candidates so the subBits > 0 result is a strict subset of
    * subBits = 0, property-tested — so a cell's
    * pairs fit a task); recall misses pairs straddling a centroid
    * boundary, which banding (q24) catches — production runs both
    * and unions, each one equi-join, never a cross join. */
  def ivfSelfJoin(s: SparkSession, dir: String, threshold: Double = 0.4,
      subBits: Int = 0): DataFrame =
    ivfSelfJoinOf(quantizedL(s, dir), threshold, subBits, 64)

  /** q99 core over an arbitrary labelled quantized frame — shared
    * with ScaleProbe (measures the gated plan on expanded corpora). */
  private[graft] def ivfSelfJoinOf(embQ: DataFrame, threshold: Double,
      subBits: Int, dim: Int): DataFrame = {
    val (_, assigned) = ivfAssignedOf(embQ, subBits, dim)
    val a = assigned.toDF("id1", "v1", "n21", "cell")
    val b = assigned.toDF("id2", "v2", "n22", "cell")
    a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", cosineQ(col("v1"), col("v2"), col("n21"), col("n22")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cell").cast("long").as("cell"),
        col("cosine"))
  }

  /** Materialize the IVF index of a labelled quantized base frame to
    * parquet: the frozen centroids ([[centroidsOf]]) and every base
    * vector's cell assignment. The catalog artifact a 100 TB vector
    * deployment maintains — built in one pass over the base, then
    * probed by every embedding increment WITHOUT retraining the
    * quantizer or rescanning the base (the q111 persisted-index
    * pattern applied to the similarity family). At scale both
    * relations bucket by `cell` so a delta probe is a bucket-local
    * join. Returns the (centroids, cells) read-backs. */
  def writeIvfIndex(base: DataFrame, stage: Stage): (DataFrame, DataFrame) = {
    val centN = stage.parquet("centroids", centroidsOf(base))
    (centN, stage.parquet("cells",
      assignTo(base.select(col("vec_id"), col("v"), col("n2")), centN, 0, 64)))
  }

  /** q197: INCREMENTAL ANN — a delta of new embeddings probed
    * against the PERSISTED IVF index (the similarity-family twin of
    * q105/q111's incremental dedup, closing the one production gap
    * in the D family: indexes are built once and fed daily, never
    * retrained per increment). [[writeIvfIndex]] freezes the
    * base-trained centroids + base cell assignments to parquet;
    * the delta (20% of vectors by id) is assigned to the FROZEN
    * centroids — assignment drift is impossible by construction, the
    * invariant hand-rolled re-train-per-batch pipelines break — and
    * searched only within its cell against the base assignments
    * (shuffle-hash equi-join on cell, never delta × base). Per delta
    * vector: its cell, candidate count, best base match
    * (max-cosine, smallest-id ties) and a keep/drop_near verdict at
    * `threshold` — a delta vector landing in a cell with NO base
    * members keeps with zero candidates (the new-region signal an
    * index monitor alerts on). Integer-quantized cosine ⇒ both
    * engines replay bit-identically. */
  def ivfDeltaProbe(s: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val all = quantizedL(s, dir)
    val (cent, cells) = writeIvfIndex(all.filter(col("vec_id") % 5 =!= 0),
      Stage("q197idx", dir))
    val centN = broadcast(cent)
    val dAsg = assignTo(all.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("v"), col("n2")), centN, 0, 64)
    val scored = dAsg.as("d")
      .join(cells.as("b").hint("shuffle_hash"), col("d.cell") === col("b.cell"))
      .withColumn("cosine",
        cosineQ(col("d.v"), col("b.v"), col("d.n2"), col("b.n2")))
      .groupBy(col("d.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_cands"),
        max_by(struct(col("b.vec_id").as("bid"), col("cosine")),
          struct(col("cosine"), negate(col("b.vec_id")))).as("best"))
    dAsg.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(scored, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        col("best.bid").as("best_id"),
        round(col("best.cosine"), 6).as("best_cos"),
        when(col("best.cosine") >= threshold, "drop_near")
          .otherwise("keep").as("verdict"))
  }

  /** q109: embedding dedup END-TO-END — q24's banded near-dup pairs
    * folded to connected components (the generic
    * [[Dedup.components]] min-label propagation), keeping the
    * max-norm member per cluster (norm from the exact integer n2 —
    * among near-identical copies the strongest norm is the
    * least-degraded encoder output; ties to the smallest vec_id).
    * Completes the embedding modality's pipeline to parity with
    * text's q22→q59→q106: pairs → clusters → keep-one decision,
    * every stage distributed and oracle-replayable. */
  def embedClusters(s: SparkSession, dir: String,
      nBands: Int = DefaultNBands, bandBits: Int = DefaultBandBits): DataFrame = {
    val edges = embedNearDup(s, dir, 64, nBands, bandBits)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val norms = quantized(s, dir)
      .select(col("vec_id").as("doc_id"), col("n2")).hint("shuffle_hash")
    Dedup.components(edges)
      .join(norms, "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_vecs"),
        // negated-long tiebreak (not a double cast): ids above 2^53
        // would lose precision and break min-id determinism
        max_by(col("doc_id"),
          struct(col("n2"), negate(col("doc_id")))).as("keep_id"),
        max(col("n2")).as("keep_n2"))
  }

  /** q118: the PRODUCTION embedding near-dup run — q24's hyperplane
    * banding and q99's IVF-cell blocking UNIONED, which is what the
    * per-operator scaladocs promise a real deployment does: banding
    * misses nothing a band catches but loses cell-straddling pairs'
    * complement, IVF catches centroid-local pairs banding's random
    * planes split; the union's recall dominates either alone. Each
    * side is its gated plan unchanged (equi-join blocking + exact
    * integer cosine verify); the merge is a full-outer equi-join on
    * the pair key carrying provenance flags, so the output also
    * AUDITS the generators against each other (a pair found by only
    * one blocker is the recall gap of the other, quantified). */
  def embedNearDupUnion(s: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val band = embedNearDup(s, dir, threshold = threshold)
      .select(col("id1"), col("id2"), col("cosine").as("cos_b"))
    val ivf = ivfSelfJoin(s, dir, threshold)
      .select(col("id1"), col("id2"), col("cosine").as("cos_i"))
    band.join(ivf, Seq("id1", "id2"), "full_outer")
      .select(col("id1"), col("id2"),
        coalesce(col("cos_b"), col("cos_i")).as("cosine"),
        when(col("cos_b").isNotNull, 1).otherwise(0).as("in_band"),
        when(col("cos_i").isNotNull, 1).otherwise(0).as("in_ivf"))
  }

  /** q38: IVF-style ANN — per-label centroids act as the
    * coarse quantizer (inverted file): every corpus vector is assigned
    * to its nearest centroid; a query probes only the `nprobe` nearest
    * centroid lists. At 100 TB the corpus is partitioned by centroid
    * id, so a probe touches nprobe/k of the data. Returns top-3
    * neighbors per query from the probed lists. */
  def ivfTopK(s: SparkSession, dir: String, nprobe: Int = 2, k: Int = 3): DataFrame = {
    val q = quantized(s, dir)
    val (centN, assigned) = ivfAssigned(s, dir)
    // queries probe their nprobe nearest cells — bounded TopKAgg keeps
    // the k-buffer map-side (same rationale as q25)
    import graft.functions.TopK
    val probes = q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2")
      .join(centN, lit(true))
      .withColumn("ccos", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"))
      .agg(first(col("qv")).as("qv"), first(col("qn2")).as("qn2"),
        TopK.topk(nprobe)(col("label").cast("long"), col("ccos")).as("top"))
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("qv"), col("qn2"), col("t.id").cast("int").as("cell"))
    // search only the probed cells; final top-3 again via bounded agg
    probes.join(assigned.filter(col("vec_id") >= 5), "cell")
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
  }

  /** q161: embedding CENTROID DRIFT monitor — the model-monitoring
    * check run when a new encoder batch lands: per label, old-batch
    * vs new-batch centroid. A label whose centroid MOVES is a class
    * the new encoder embeds differently — mixing its vectors into
    * the old index silently breaks that class's recall (q155 would
    * find it later, expensively; this catches it at ingest). The
    * detector is the centroid L2 SHIFT in micro units against the
    * per-label sampling-noise floor (~σ·√(dim/n)): on THIS corpus
    * the labels are NOT geometric clusters (measured — parity-half
    * centroids are near-orthogonal residual noise, so centroid
    * cosine is uninformative here; it is still emitted for corpora
    * with real cluster structure, where ≈1.0 is the healthy
    * baseline). Batches = vec_id parity halves; a known regression
    * is INJECTED into label 0's new-batch centroid (+0.5 on dim 0,
    * micro units, oracle-replayed) and separates cleanly: shift
    * ≈ 6.1·10⁵ vs the ≤3.3·10⁵ noise floor of the healthy labels
    * at sf0.01 (1.9×; the floor shrinks as batches grow).
    * Shape: q37's scalable centroid pattern twice ((label, pos)
    * partial sums — the shuffle carries dims, never vectors) + one
    * |labels|-row join; integer micro-unit arithmetic, doubles only
    * in the final sqrt/cosine per label. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    def centroidsOf(half: DataFrame, pfx: String): DataFrame = half
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("nv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("sx") / col("nv")).cast("long").as("cx")))),
          e => e.getField("cx")).as(s"${pfx}v"),
        max(col("nv")).as(s"${pfx}n"))
    val q = quantizedL(s, dir)
    val oldC = centroidsOf(q.filter(col("vec_id") % 2 === 0), "o")
    val newC = centroidsOf(q.filter(col("vec_id") % 2 === 1), "n")
      // injected drift: label 0's new-batch centroid shifts +0.5 on
      // dim 0 (micro units) — the simulated encoder regression
      .withColumn("nv_drift", when(col("label") === 0,
        concat(array(element_at(col("nv"), 1) + 500000L),
          expr("slice(nv, 2, 63)"))).otherwise(col("nv")))
      .select(col("label"), col("nv_drift").as("nv"), col("nn"))
    oldC.join(newC, "label")
      .withColumn("on2", org.apache.spark.sql.graft.LongArrayDot.column(col("ov"), col("ov")))
      .withColumn("nn2", org.apache.spark.sql.graft.LongArrayDot.column(col("nv"), col("nv")))
      .withColumn("d2", expr(
        "aggregate(zip_with(ov, nv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .select(col("label"), col("on").as("n_old"), col("nn").as("n_new"),
        round(sqrt(col("d2").cast("double"))).cast("long").as("shift_micro"),
        round(cosineQ(col("ov"), col("nv"), col("on2"), col("nn2")), 4)
          .as("drift_cosine"),
        (col("label") === 0).as("drift_injected"))
  }

  /** q155: ANN RECALL audit — q38's IVF top-k measured against q25's
    * brute-force ground truth per query: recall@k, THE standard ANN
    * quality metric, and q153's missing half (text LSH recall there,
    * embedding IVF recall here). At 100 TB you run the exact scorer
    * on a small query sample exactly like this — ground truth is
    * affordable per-query (one corpus scan for a bounded query set),
    * never per-corpus — and tune nprobe until sampled recall meets
    * target before trusting the index for the workload. Both top-k
    * sets use the shared (score desc, id asc) total order, so set
    * membership at the k boundary is engine-identical. One id-keyed
    * left join + bounded agg; |queries| rows out. Misses are REAL
    * here (nprobe=2 of 10 cells): a true neighbor whose cell the
    * probe skips is invisible, and the audit quantifies exactly
    * that. */
  def annRecallAudit(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val exact = annBruteForce(s, dir).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(s, dir)
      .select(col("query_id"), col("neighbor_id")).withColumn("found", lit(1L))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("found"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("k"), col("n_hit"),
        round(col("n_hit") / col("k").cast("double"), 4).as("recall_at_k"))
  }

  /** q171: NPROBE TUNING SWEEP — the measurement q155's scaladoc
    * says to run ("tune nprobe until sampled recall meets target"),
    * made a gated query: corpus-level recall@3 for nprobe = 1, 2, 3
    * against one brute-force ground truth. This is the actual
    * tuning loop of a production ANN deploy — the output row where
    * recall_ppm crosses the target IS the config decision, and the
    * cost column (probed cells / total cells) is the price. Ground
    * truth computed once; each sweep arm re-probes with its own
    * nprobe (the probe stage is the cheap part — the argument for
    * why this sweep is affordable on a query sample at 100 TB). */
  def annNprobeSweep(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val exact = annBruteForce(s, dir).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    (1 to 3).map { np =>
      val approx = ivfTopK(s, dir, nprobe = np)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("found", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("found"), lit(0L))).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_exact"), col("n_hit"),
          expr("(n_hit * 1000000L) div n_exact").as("recall_ppm"),
          lit(np.toLong * 100000L).as("probe_cost_ppm")) // np of 10 cells
    }.reduce(_ unionByName _)
  }

  /** q172: HYBRID RETRIEVAL FUSION (reciprocal-rank fusion) — the
    * production RAG primitive the two proven arms were built for:
    * a lexical arm (q169's BM25 core, "more-like-this" — each query
    * doc's distinct tokens probe the corpus-wide inverted index) and
    * a vector arm (q25's exact integer cosine top-k) are fused with
    * the standard RRF score Σ 1/(60+rank), in integer ppm-of-1M form
    * (`1000000 div (60+rank)`) so the fused ordering is
    * engine-exact. Each arm contributes ≤ kArm rows PER QUERY — the
    * fusion join and final top-k touch O(queries·k) rows no matter
    * the corpus size, so at 100 TB the whole fusion stage costs
    * nothing beyond the two arms (each already k-bounded via
    * TopKAgg). Provenance flags in_lex/in_vec audit which arm found
    * each winner — the column a relevance engineer actually reads
    * when tuning arm weights. Lexical arm ranks on round(score,4)
    * (parity-robust vs raw ln() ulp; same rounding the q169 gate
    * proves engine-identical) with doc_id tiebreak. */
  def hybridRrf(s: SparkSession, dir: String, kArm: Int = 5,
      kOut: Int = 5): DataFrame = {
    import graft.functions.TopK
    val qTokens = broadcast(Tables.documents(s, dir)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok")))
    val lex = TextAnalysis.bm25Scored(s, dir, qTokens, col("doc_id") >= 5)
      .groupBy(col("query_id"))
      .agg(TopK.topk(kArm)(col("doc_id"), round(col("score"), 4)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    val vec = annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L))
          + coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
      .withColumn("in_lex",
        when(col("lex_rank").isNotNull, 1L).otherwise(0L))
      .withColumn("in_vec",
        when(col("vec_rank").isNotNull, 1L).otherwise(0L))
    fused.groupBy(col("query_id"))
      .agg(TopK.topk(kOut)(col("doc_id"), col("rrf").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), col("t.score").cast("long").as("rrf_ppm"))
      .join(fused.select(col("query_id"), col("doc_id"),
        col("in_lex"), col("in_vec")), Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_ppm"), col("in_lex"), col("in_vec"))
  }

  /** q124: SQ8 compress-then-rerank ANN — the memory-bandwidth scale
    * path production vector search actually runs: (1) every vector is
    * scalar-quantized to int8 codes (`round(x·127)` — exact for these
    * unit-ish embeddings, |x| < 1; a per-dim scale would make it a
    * calibrated SQ8, same plan) so the APPROXIMATE scoring pass
    * touches 8-bit codes, ~8× less memory traffic than the exact
    * int64 micro-unit vectors; (2) the bounded [[graft.functions.TopKAgg]]
    * keeps the top-`m` approximate candidates per query (k-buffer
    * map-side, ≤ m rows per partition×query shuffled — q25's
    * argument); (3) ONLY those m candidates re-join their exact
    * vectors (shuffle-hash by id) for the exact integer-cosine
    * re-rank to top-`k`. At 100 TB the exact vectors live in a
    * separate store touched m/|corpus| of the time — the plan here
    * has exactly that asymmetry. Output keeps both scores, so the
    * gate also audits the quantization gap (approx vs exact cosine)
    * per surviving neighbor. Both stages use the (score desc, id asc)
    * total order; all dots are exact integer sums — both engines
    * replay bit-for-bit. */
  def sq8Rerank(s: SparkSession, dir: String, m: Int = 10, k: Int = 3): DataFrame = {
    import graft.functions.TopK
    val codes = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 127).cast("long")).as("c"))
      .withColumn("cn2", org.apache.spark.sql.graft.LongArrayDot.column(col("c"), col("c")))
    val codeQueries = broadcast(codes.filter(col("vec_id") < 5).toDF("query_id", "qc", "qcn2"))
    val cands = codes.filter(col("vec_id") >= 5).toDF("neighbor_id", "cc", "ccn2")
      .join(codeQueries, lit(true))
      .withColumn("approx", cosineQ(col("qc"), col("cc"), col("qcn2"), col("ccn2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(m)(col("neighbor_id"), col("approx")).as("cand"))
      .select(col("query_id"), explode(col("cand")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("approx_cosine"))
    val exact = quantized(s, dir)
    val exactQueries = broadcast(exact.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2"))
    cands
      .join(exact.toDF("neighbor_id", "v", "n2").hint("shuffle_hash"), "neighbor_id")
      .join(exactQueries, "query_id")
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
      .join(cands, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("approx_cosine"))
  }

  /** q26: random-hyperplane LSH buckets — the ANN scale path.
    * Hyperplane p component i is a deterministic ±1 from the md5
    * parity family ([[planeSign]]); bucket = 8 sign bits, so at
    * 100 TB each probe visits ~1/256 of the corpus instead of all of
    * it. The dot against the literal plane runs through the codegen
    * LongArrayDot; the oracle replays the identical md5 parity math. */
  def annLshBuckets(s: SparkSession, dir: String, dim: Int = 64,
      nPlanes: Int = 8): DataFrame = {
    val q = quantized(s, dir)
    val bucket = (0 until nPlanes).map(p => planeBit(col("v"), p, dim) * (1L << p)).reduce(_ + _)
    val withBucket = q.select(col("vec_id"), bucket.as("bucket"))
    val sizes = withBucket.groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
    withBucket.join(sizes, "bucket")
      .select(col("vec_id"), col("bucket"), col("bucket_size"))
  }

  /** q218: PRODUCT-QUANTIZATION recall audit — the third point on
    * the compression curve after exact int64 (q25) and SQ8 (q124):
    * PQ splits each vector into `m` subvectors, snaps every
    * subvector to one of `ksub` codebook entries, and scores a
    * query against the corpus by Asymmetric Distance Computation
    * (ADC) — sum over subspaces of a precomputed query↔codeword
    * table lookup. Memory per vector collapses to m code ids (here
    * 4 bytes vs 512), which is why PQ is what actually fits a
    * 100 TB corpus in RAM; this audit prices the recall it costs.
    *
    * Everything is deterministic and oracle-replayable:
    *  - codebooks = the ksub hash-ranked corpus vectors per subspace
    *    (the q54 salted-md5 order via the bounded TopK agg — a real
    *    deployment k-means-refines these seeds; assignment, ADC, and
    *    the recall math are IDENTICAL either way, so the audit
    *    exercises the true PQ plan shape with a weaker codebook);
    *  - encode = per (vector, subspace) argmin over the broadcast
    *    codebook by exact integer L2² (micro² units; ties →
    *    smallest seed) — corpus×m×ksub bounded rows, the linear
    *    PQ-encode pass;
    *  - ADC = codes equi-joined to the broadcast per-query distance
    *    table on (subspace, code), summed per (query, vector) —
    *    never a full-vector scan at query time;
    *  - recall@k vs the exact integer-L2² top-k (tie order
    *    (dist, id) on both sides; all distances < 2⁵³ so the double
    *    TopK scores are exact).
    * Output: one row per query — hits and recall_ppm. */
  def pqRecall(s: SparkSession, dir: String, m: Int = 4, ksub: Int = 16,
      k: Int = 10): DataFrame = {
    import graft.functions.TopK
    val dsub = 64 / m
    val q = quantized(s, dir)
    def l2sq(a: Column, b: Column): Column =
      dotQ(a, a) + dotQ(b, b) - lit(2L) * dotQ(a, b)
    def subv(c: Column, sub: Column): Column =
      slice(c, (sub * dsub + 1).cast("int"), lit(dsub))
    val subSeq = explode(sequence(lit(0L), lit((m - 1).toLong)))
    // codebook: ksub hash-ranked corpus vectors, split per subspace
    val seedIds = q.filter(col("vec_id") >= 5)
      .agg(TopK.topk(ksub)(col("vec_id"),
        -Sampling.hashBucket(concat(lit("pqseed|"), col("vec_id").cast("string")))
          .cast("double")).as("top"))
      .select(posexplode(col("top")).as(Seq("seed_id", "t")))
      .select(col("seed_id").cast("long").as("seed_id"),
        col("t.id").as("seed_vec_id"))
    val seedSubs = seedIds
      .join(q.select(col("vec_id").as("seed_vec_id"), col("v")), "seed_vec_id")
      .select(col("seed_id"), subSeq.as("sub"), col("v"))
      .select(col("seed_id"), col("sub"), subv(col("v"), col("sub")).as("sv"))
    // encode: argmin codeword per (vector, subspace)
    val corpusSubs = q.filter(col("vec_id") >= 5)
      .select(col("vec_id"), subSeq.as("sub"), col("v"))
      .select(col("vec_id"), col("sub"), subv(col("v"), col("sub")).as("vv"))
    val codes = corpusSubs.join(broadcast(seedSubs), "sub")
      .withColumn("d", l2sq(col("vv"), col("sv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("seed_id"), struct(col("d"), col("seed_id"))).as("code"))
    // per-query ADC table: distance to every codeword per subspace
    val qtab = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), subSeq.as("sub"), col("v"))
      .select(col("query_id"), col("sub"), subv(col("v"), col("sub")).as("qv"))
      .join(seedSubs, "sub")
      .select(col("query_id"), col("sub"), col("seed_id").as("code"),
        l2sq(col("qv"), col("sv")).as("qd"))
    val approxTop = codes.join(broadcast(qtab), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).as("adist"))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("vec_id"), -col("adist").cast("double")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    val exactTop = q.filter(col("vec_id") >= 5).toDF("neighbor_id", "cv", "cn2")
      .join(broadcast(q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2")),
        lit(true))
      .withColumn("d", col("qn2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("neighbor_id"), -col("d").cast("double")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    exactTop.join(approxTop.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
  }

  /** q233: EMBEDDING-OUTLIER audit — per label, vectors
    * anomalously far from their label centroid: the rows a broken
    * encoder batch, mislabeled example, or corrupted vector
    * produces, caught BEFORE they poison q37's centroids and q38's
    * IVF cells (q161 catches a whole batch drifting; this catches
    * individual rows). All-integer: centroid = truncated per-dim
    * mean (the q37 (label, pos) partial-sum shuffle — dims cross
    * the wire, never vectors), per-vector squared distance d² in
    * micro² Long, and the cut is the integer rule d²·n > 9·Σd²
    * (9× the label's mean squared distance) — NO float σ threshold,
    * whose rounding could flip a boundary row between engines.
    * Output one row per label: count, mean d², outliers, and the
    * worst offender (max d², ties → smaller id). */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long"))
          .as("v"))
    val exploded = q.select(col("vec_id"), col("label"),
      posexplode(col("v")).as(Seq("pos", "x")))
    val cent = exploded.groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), expr("sx div n").as("c"))
    val d2 = exploded.join(cent.hint("shuffle_hash"), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    // Σd² and the cut's products are Decimal(38,0): per-vector d² is
    // ~1e15 micro², so a 1e12-row label wraps Long in the sum and in
    // d²·n — the q193/q199/q214 widening policy
    val stats = d2.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast("decimal(38,0)")).cast("decimal(38,0)").as("sum_d2"))
    d2.join(broadcast(stats), "label")
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        expr("cast(max(sum_d2 div n_vecs) as bigint)").as("mean_d2"),
        sum(when(col("d2").cast("decimal(38,0)") * col("n_vecs") >
          col("sum_d2") * 9L, 1L).otherwise(0L)).as("n_outliers"),
        max_by(col("vec_id"), struct(col("d2"), negate(col("vec_id"))))
          .as("worst_vec_id"),
        max(col("d2")).as("worst_d2"))
  }

  /** q238: SQ8 CALIBRATION — the per-dimension scale table q124's
    * scaladoc defers ("a per-dim scale would make it a calibrated
    * SQ8") plus the error audit that tells you whether 8 bits are
    * enough per dimension BEFORE committing the index format: per
    * dim, corpus min/max (the affine quantizer's range), and the
    * reconstruction error of round-to-255-levels quantization —
    * mean squared and worst-case, exact. All integer micro units:
    * the rounded quantizer is ((x−mn)·510 + range) div (2·range)
    * (integer round-half-up — no float division to diverge),
    * dequant truncates, a CONSTANT dim (range 0) quantizes to code
    * 0 with zero error via nullif. One (pos) agg for ranges, one
    * re-join, one 64-row error agg; Σerr² in Decimal(38,0) (the
    * widening policy — err² ~10⁸ per row wraps Long at ~10¹¹
    * rows). */
  def sq8Calibration(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(posexplode(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")))
        .as(Seq("pos", "x")))
    val ranges = ex.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("range", col("mx") - col("mn"))
    ex.join(broadcast(ranges), "pos")
      .withColumn("q", coalesce(
        expr("((x - mn) * 510 + range) div nullif(2 * range, 0)"), lit(0L)))
      .withColumn("dq", col("mn") +
        coalesce(expr("(q * range) div 255"), lit(0L)))
      .withColumn("err", col("x") - col("dq"))
      .groupBy(col("pos"))
      .agg(max(col("mn")).as("mn_micro"), max(col("mx")).as("mx_micro"),
        count(lit(1)).as("n"),
        expr("cast(sum(cast(err * err as decimal(38,0))) div count(1) as bigint)")
          .as("mean_err2_micro2"),
        max(abs(col("err"))).as("max_abs_err_micro"))
      .select(col("pos").cast("long").as("pos"), col("mn_micro"),
        col("mx_micro"), col("n"), col("mean_err2_micro2"),
        col("max_abs_err_micro"))
  }

  /** q224: MMR-DIVERSIFIED retrieval — the re-rank between raw
    * top-k (q25) and a RAG prompt: Maximal Marginal Relevance picks
    * `k` of the top-`m` candidates greedily by
    * λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s), so near-duplicate
    * hits (exactly what a near-dup-heavy corpus returns) don't fill
    * the whole context window with one document's clones. Cost
    * shape: ONE corpus pass builds the bounded top-m candidate set
    * per query (TopKAgg — the q25 argument); the greedy loop then
    * runs k fixed DataFrame iterations over queries·m rows — at
    * 100 TB the loop's cost is independent of corpus size, which is
    * the property that makes MMR deployable as a re-ranker and NOT
    * as a corpus operator. Determinism: rel and sim are the exact
    * integer dots divided by IEEE sqrt norms — both engines compute
    * the identical double from identical integers — and every
    * argmax carries the (score desc, id asc) total order; the
    * oracle unrolls the same greedy steps. λ in ppm to keep the
    * knob integer (0.7 ≡ 700000). */
  def mmrDiversify(s: SparkSession, dir: String, m: Int = 20, k: Int = 5,
      lambdaPpm: Long = 700000L): DataFrame = {
    import graft.functions.TopK
    val lam = lambdaPpm.toDouble / 1e6
    val q = quantized(s, dir)
    val corpus = q.filter(col("vec_id") >= 5).toDF("cand_id", "cv", "cn2")
    val cand = corpus
      .join(broadcast(q.filter(col("vec_id") < 5).toDF("query_id", "qv", "qn2")),
        lit(true))
      .withColumn("rel", cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(m)(col("cand_id"), col("rel")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("cand_id"), col("t.score").as("rel"))
      .join(corpus, "cand_id")
      .localCheckpoint() // queries·m rows; the loop below reuses it k times
    var picked = cand.limit(0)
      .select(col("query_id"), lit(0).as("rank"), col("cand_id"),
        col("cv").as("pv"), col("cn2").as("pn2"))
    for (step <- 1 to k) {
      val remaining = cand.join(picked.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
      val scored =
        if (step == 1) remaining.withColumn("maxsim", lit(0.0))
        else {
          val ms = remaining
            .join(picked.select(col("query_id"), col("pv"), col("pn2")), "query_id")
            .withColumn("sim", cosineQ(col("cv"), col("pv"), col("cn2"), col("pn2")))
            .groupBy(col("query_id"), col("cand_id"))
            .agg(max(col("sim")).as("maxsim"))
          remaining.join(ms, Seq("query_id", "cand_id"))
        }
      val next = scored
        .withColumn("score", lit(lam) * col("rel") - lit(1.0 - lam) * col("maxsim"))
        .groupBy(col("query_id"))
        .agg(min_by(struct(col("cand_id"), col("cv"), col("cn2")),
          struct(negate(col("score")), col("cand_id"))).as("p"))
        .select(col("query_id"), lit(step).as("rank"), col("p.cand_id"),
          col("p.cv").as("pv"), col("p.cn2").as("pn2"))
      picked = picked.unionByName(next).localCheckpoint()
    }
    picked.join(cand.select(col("query_id"), col("cand_id"), col("rel")),
        Seq("query_id", "cand_id"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id").as("neighbor_id"), round(col("rel"), 4).as("rel_cosine"))
  }

  /** q260: JOHNSON–LINDENSTRAUSS PROJECTION + distortion audit —
    * the dimensionality-reduction lever the ANN shelf hasn't priced
    * yet (SQ8/PQ compress VALUES; JL compresses DIMENSIONS): a
    * ±1 random-sign projection 64→16 dims shrinks every distance
    * computation 4× while the JL lemma bounds the squared-distance
    * distortion — and the audit MEASURES that distortion before an
    * index commits to it (the q139/q251 price-before-you-pay
    * pattern). Determinism end-to-end: the sign matrix is the md5
    * parity of ('jl|i|j') — no RNG, replayed cell-for-cell by the
    * oracle; embeddings quantize once to exact integer micros, so
    * projections, squared distances, and the ratio
    * proj²·(d/k) / orig² are all integer (Decimal(38,0) for the
    * ppm cross-multiply). Pairs audited: a hash-chosen vector
    * sample paired within itself, hash-thinned — a BOUNDED pair
    * set, never vectors². One report row: pairs, mean/min/max
    * ratio ppm (1e6 = distortion-free). */
  def jlProjection(s: SparkSession, dir: String, k: Int = 16,
      d: Int = 64): DataFrame = {
    // md5-parity sign in {-1, +1}: same arithmetic as hex8Sql & 1
    def sign(i: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl|$i|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) & 1L) * 2L - 1L
    }
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
          .as("xm"))
      .withColumn("y", array((0 until k).map { j =>
        val signs = (0 until d).map(i => sign(i, j)).mkString(",")
        expr(s"aggregate(sequence(0, ${d - 1}), 0L, (acc, i) -> " +
          s"acc + element_at(xm, i + 1) * element_at(array($signs), i + 1))")
      }: _*))
    val sampled = vecs.filter(
      pmod(Sampling.hashBucket(concat(lit("jlv|"),
        col("vec_id").cast("string"))), lit(5L)) === 0L)
    // bounded-sample inequality join: the hash sample is a constant
    // fraction of the (dim-sized) vector table, broadcastable
    val pairs = sampled.toDF("a", "xa", "ya")
      .join(broadcast(sampled.toDF("b", "xb", "yb")), col("a") < col("b"))
      .filter(pmod(Sampling.hashBucket(concat(lit("jlp|"),
        col("a").cast("string"), lit("|"), col("b").cast("string"))),
        lit(100L)) === 0L)
    pairs
      .withColumn("d2o", expr(
        "aggregate(zip_with(xa, xb, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)"))
      .withColumn("d2p", expr(
        "aggregate(zip_with(ya, yb, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)"))
      .filter(col("d2o") > 0)
      // E[(Σᵢ sᵢⱼ δᵢ)²] = Σ δᵢ² per output dim ⇒ E[d2p] = k·d2o: the
      // unnormalized ±1 projection inflates squared distances by
      // exactly k (JL's 1/√k scaling undone), so the distortion
      // ratio divides it back out
      .withColumn("ratio_ppm", expr(
        s"cast(cast(d2p as decimal(38,0)) * 1000000" +
          s" div (cast(d2o as decimal(38,0)) * $k) as bigint)"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ratio_ppm) div count(1)").as("mean_ratio_ppm"),
        min(col("ratio_ppm")).as("min_ratio_ppm"),
        max(col("ratio_ppm")).as("max_ratio_ppm"))
  }

  /** q337: SEMANTIC DEDUP (round-11) — the SemDeDup recipe (Abbas et
    * al. 2023, arXiv 2303.09540) over the IVF assignment: cluster the
    * corpus with the coarse quantizer, then WITHIN each cell order
    * members by similarity to their own centroid ascending (the
    * paper's keep-the-far-from-centroid rule — preserves the
    * diverse/hard examples) and remove any member whose cosine to an
    * EARLIER-ordered cellmate reaches `eps`: within every semantic
    * near-dup group exactly the lowest-centroid-similarity example
    * survives, and chains collapse greedily in one deterministic
    * order. Shapes (the paper's own scale argument): candidate pairs
    * exist only WITHIN a cell — the quadratic is bounded by cell
    * size, which the `subBits` quantizer knob keeps flat as the
    * corpus grows (raise ∝ log n, q99's argument); ranks come from
    * [[Relational.twoPhaseRank]], never a whole-cell sort on one
    * task; the pair verify is the exact integer cosine re-joined by
    * id so the wide shuffle moves ids, not vectors. Emitted per
    * vector: cell, centroid cosine, how many earlier cellmates it
    * duplicates, and the removal flag — `removed=false` rows ARE the
    * deduplicated corpus manifest. */
  def semDedup(s: SparkSession, dir: String, eps: Double = 0.4,
      subBits: Int = 0): DataFrame = {
    val (centN, assigned) = ivfAssigned(s, dir, subBits)
    val withOwn = assigned
      .join(centN.select(col("label").as("cell"), col("cv"), col("cn2")),
        "cell")
      .withColumn("ccos", cosineQ(col("v"), col("cv"), col("n2"), col("cn2")))
      .select(col("vec_id"), col("cell"), col("v"), col("n2"), col("ccos"))
    val ranked = Relational.twoPhaseRank(withOwn, col("cell"),
      floor(col("ccos") * 100), Seq(col("ccos"), col("vec_id")),
      "rk", "n_cell")
    val slim = ranked.select(col("vec_id"), col("cell"), col("rk"))
    val dup = slim.toDF("a_id", "cell", "a_rk")
      .join(slim.toDF("b_id", "cell", "b_rk"), "cell")
      .filter(col("a_rk") < col("b_rk"))
      .join(withOwn.select(col("vec_id").as("a_id"), col("v").as("va"),
        col("n2").as("n2a")).hint("shuffle_hash"), "a_id")
      .join(withOwn.select(col("vec_id").as("b_id"), col("v").as("vb"),
        col("n2").as("n2b")).hint("shuffle_hash"), "b_id")
      .filter(cosineQ(col("va"), col("vb"), col("n2a"), col("n2b")) >= eps)
      .groupBy(col("b_id")).agg(count(lit(1)).as("n_dup_earlier"))
      .withColumnRenamed("b_id", "vec_id")
    ranked.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(col("ccos"), 4).as("c_cos"),
        coalesce(col("n_dup_earlier"), lit(0L)).as("n_dup_earlier"),
        (coalesce(col("n_dup_earlier"), lit(0L)) > 0L).as("removed"))
  }

  /** q359: LABEL-NOISE AUDIT via kNN consistency (round-11) — the
    * confident-learning-family check (Northcutt et al.'s cleanlab
    * heuristic grain): a vector whose k nearest neighbors
    * majority-vote a DIFFERENT label than its own is a candidate
    * mislabel — the pool a labeling team re-reviews before the
    * labels train anything. Neighbors come from the q99 IVF cells
    * (within-cell candidates — the same bounded blocking every ANN
    * op here rides; boundary-straddling neighbors are q99's
    * documented recall trade), top-k per vector by exact integer
    * cosine via the bounded TopK aggregator, majority with ties to
    * the smallest label. Output per vector: own label, neighbor
    * majority, agreement counts, flagged. Shapes: the q38
    * assignment, one within-cell equi-join, TopK shuffle of ≤ k
    * rows per vector, one id-keyed label join, two bounded aggs —
    * never an all-pairs kNN. */
  def labelNoise(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.functions.TopK
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val (_, assigned) = ivfAssigned(s, dir)
    val top = assigned.toDF("vec_id", "v", "n2", "cell")
      .join(assigned.toDF("nb_id", "nv", "nn2", "cell"), Seq("cell"))
      .filter(col("vec_id") =!= col("nb_id"))
      .withColumn("cos", cosineQ(col("v"), col("nv"), col("n2"), col("nn2")))
      .groupBy(col("vec_id"))
      .agg(TopK.topk(k)(col("nb_id"), col("cos")).as("top"))
      .select(col("vec_id"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("t.id").as("nb_id"))
      .join(labels.toDF("nb_id", "nb_label").hint("shuffle_hash"), "nb_id")
    val maj = top.groupBy(col("vec_id"), col("nb_label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("nb_label"), col("cnt")),
          struct(col("cnt"), negate(col("nb_label")))).as("m"),
        sum(col("cnt")).as("n_neighbors"))
      .select(col("vec_id"), col("m.nb_label").as("majority_label"),
        col("m.cnt").as("n_majority"), col("n_neighbors"))
    labels.join(maj, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("majority_label"),
        coalesce(col("n_majority"), lit(0L)).as("n_majority"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        coalesce(col("majority_label") =!= col("label"), lit(false))
          .as("flagged"))
  }

  /** q354: GREEDY K-CENTER CORESET (round-11) — the data-pruning
    * selection the coreset literature uses (Sener & Savarese's
    * k-center greedy, the backbone of diversity-first subset
    * selection): seed with the smallest vec_id, then k−1 rounds of
    * "pick the point FARTHEST from everything selected" — each
    * selection's distance is the covering radius the next center
    * removes, so the emitted (order, id, d²) rows ARE the pruning
    * curve a data lead reads to pick the subset size. Exactness:
    * distances are exact integer squared-L2 on the quantized
    * vectors (d² = n²_a + n²_b − 2·dot, all BIGINT), ties broken
    * by vec_id — bit-deterministic on both engines; the oracle
    * unrolls the identical greedy rounds. Cost shape: k scans, each
    * one narrow distance column + a TakeOrdered(1) — O(n·k) total,
    * the textbook bound; the per-round argmax row is a bounded
    * driver decision (one row per round, the documented
    * driver-decision pattern), never a data-scale collect. */
  def kcenterCoreset(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val m = quantized(s, dir)
    def d2To(cv: Array[Long], cn2: Long) =
      (col("n2") + lit(cn2) - lit(2L) * dotQ(col("v"), lit(cv))).cast("long")
    val seed = m.orderBy(col("vec_id")).limit(1).collect()(0)
    def vecOf(r: org.apache.spark.sql.Row): Array[Long] =
      r.getAs[scala.collection.Seq[Long]]("v").toArray
    var selected = List((seed.getAs[Long]("vec_id"), 0L))
    var cur = m.withColumn("mind2",
      d2To(vecOf(seed), seed.getAs[Long]("n2")))
    for (_ <- 1 until k) {
      val nxt = cur.orderBy(col("mind2").desc, col("vec_id")).limit(1)
        .collect()(0)
      selected ::= (nxt.getAs[Long]("vec_id"), nxt.getAs[Long]("mind2"))
      cur = cur.withColumn("mind2", least(col("mind2"),
        d2To(vecOf(nxt), nxt.getAs[Long]("n2"))))
    }
    import s.implicits._
    selected.reverse.zipWithIndex
      .map { case ((id, d2), i) => (i.toLong, id, d2) }
      .toDF("sel_order", "vec_id", "d2")
  }

  /** q370: COSINE RADIUS SEARCH with per-query recall audit
    * (round-12) — the missing retrieval mode next to top-k (q25/q38)
    * and threshold-pairs (q24): "EVERYTHING within cosine ≥ τ of
    * this query", the shape dedup-against-index and policy-match
    * lookups take (top-k truncates arbitrarily when a query has
    * many legitimate matches; radius search returns the actual
    * neighborhood). Exact side: the bounded query set (vec_id < 5)
    * broadcast against the corpus — one narrow scored pass, a COUNT
    * per query, never a stored corpus-scale result. LSH side: q24's
    * hyperplane banding (same DefaultNBands×DefaultBandBits
    * constants and md5 planes), query-to-corpus candidates by band
    * collision, exact cosine verify on candidates only. recall_ppm
    * per query prices what the banding knobs buy at radius τ — the
    * q155/q298 audit pattern applied to the radius mode. */
  def radiusSearch(s: SparkSession, dir: String, dim: Int = 64,
      threshold: Double = 0.2): DataFrame = {
    val q = quantized(s, dir)
    val queries = q.filter(col("vec_id") < 5)
    val corpus = q.filter(col("vec_id") >= 5)
    val exact = corpus.crossJoin(
        broadcast(queries.toDF("query_id", "qv", "qn2")))
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    val bands = embedBandsOf(q, dim, DefaultNBands, DefaultBandBits)
    val qBands = bands.filter(col("vec_id") < 5)
      .toDF("query_id", "band", "band_key")
    val cands = bands.filter(col("vec_id") >= 5)
      .join(qBands, Seq("band", "band_key"))
      .select(col("query_id"), col("vec_id")).distinct()
    val found = cands
      .join(corpus.hint("shuffle_hash"), "vec_id")
      .join(broadcast(queries.toDF("query_id", "qv", "qn2")), "query_id")
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_found"))
    // drive from the bounded query set, not the exact side's groupBy:
    // a query with an EMPTY neighborhood (no corpus vec at cosine >=
    // threshold) still emits a row with n_exact = 0 and NULL
    // recall_ppm — "no neighbors" is distinguishable from "query
    // missing", and LSH false-positive cost on such queries is
    // visible instead of silently dropped.
    queries.select(col("vec_id").as("query_id"))
      .join(exact, Seq("query_id"), "left")
      .join(found, Seq("query_id"), "left")
      .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
      .withColumn("n_found", coalesce(col("n_found"), lit(0L)))
      .select(col("query_id"), col("n_exact"), col("n_found"),
        expr("n_found * 1000000 div nullif(n_exact, 0)").as("recall_ppm"))
  }

  // ---------------------------------------------------------------
  // q385: STREAMING IVF-index MAINTENANCE (round-13, VERDICT Next
  // #3) — the q326/q327 continuous-index treatment applied to the
  // similarity index: centroids are TRAINED ONCE on the base split
  // and frozen (the q197 discipline — deltas are assigned, never
  // retrained), new embeddings arrive as a stream, every micro-batch
  // assigns its vectors to the frozen centroids and APPENDS postings,
  // and a compaction cadence folds the delta into a fresh pointer-
  // versioned base. Assignment is a pure per-vector function of the
  // frozen centroids, so the maintained postings are batching-,
  // replay- and compaction-INVARIANT — which is exactly what the
  // oracle gate checks (stream result ≡ one-shot batch assignment).
  // ---------------------------------------------------------------

  /** Publish the initial IVF stores for a base corpus: frozen
    * centroids (label, cv, cn2) and the base postings (vec_id,
    * cell, is_base=true — origin rides on the row, the q326 rule,
    * so compaction never loses the base-vs-stream distinction). */
  private[graft] def initIvfIndex(s: SparkSession, stateRoot: String,
      base: DataFrame, dim: Int = 64): Unit = {
    val centN = centroidsOf(base)
    StreamingOps.publishStore(s, stateRoot, "centroids", centN, Seq.empty)
    // postings live PARTITIONED BY CELL (base and delta alike) so
    // compaction can scope its rewrite to the cells a delta touched
    StreamingOps.publishStore(s, stateRoot, "postings",
      assignTo(base.select(col("vec_id"), col("v"), col("n2")),
          centN, 0, dim)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .withColumn("is_base", lit(true))
        // hash-cluster by cell so each cell partition is ONE file,
        // not tasks × cells small files (round-15: the write fan-out
        // was the bulk of q385's r14 idle regression)
        .repartition(col("cell")),
      Seq("cell"))
  }

  /** ONE micro-batch of the streaming IVF protocol (factored out of
    * the streaming query so specs can drive batches directly —
    * replay a batch, force a compaction — the q195/q326 discipline):
    * the batch's quantized vectors are assigned to the FROZEN
    * centroids read from the store and appended to the postings
    * delta; every `compactEvery` batches the delta folds into a
    * fresh pointer-versioned base (distinct-at-compaction collapses
    * checkpoint-replay duplicates). Per-batch cost: |batch| × k
    * centroid cosines with the centroids BROADCAST (k rows), plus
    * one bounded append — the index is never rescanned. Compaction
    * is SCOPED (round-14 hardening): both stores ride partitioned by
    * cell, so folding the delta rewrites only the cell partitions
    * the delta touched — every untouched cell partition enters the
    * new pointer version as hard links to the previous base's files
    * (metadata-only). Compaction IO is O(delta · fanout), never
    * O(index). */
  private[graft] def ivfIndexBatch(s: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long, compactEvery: Int = 3,
      dim: Int = 64): Unit = {
    import StreamingOps.{readStoreAll, storeDeltaDir}
    val b = batch.select(col("vec_id"), col("v"))
      .withColumn("n2",
        org.apache.spark.sql.graft.LongArrayDot.column(col("v"), col("v")))
      .localCheckpoint()
    val cent = broadcast(
      readStoreAll(s, stateRoot, "centroids").get.distinct())
    assignTo(b, cent, 0, dim)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .withColumn("is_base", lit(false))
      // one file per touched cell per batch (not tasks × cells)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(storeDeltaDir(stateRoot, "postings"))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactIvfScoped(s, stateRoot)
  }

  /** Fold the postings delta into the base, rewriting ONLY the cell
    * partitions the delta touched (the touched-cell list is bounded
    * by the centroid count — one bounded collect). No delta → no-op. */
  private[graft] def compactIvfScoped(s: SparkSession,
      stateRoot: String): Unit = {
    import StreamingOps.{hasParquet, readStoreAll, storeDeltaDir}
    val deltaDir = storeDeltaDir(stateRoot, "postings")
    if (!hasParquet(java.nio.file.Paths.get(deltaDir))) return
    val touched = s.read.parquet(deltaDir)
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val compacted = readStoreAll(s, stateRoot, "postings").get
      .filter(col("cell").cast("long").isin(touched.toSeq: _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("is_base"))
      .distinct()
      // one file per rewritten cell (round-15 write-shape fix)
      .repartition(col("cell"))
    StreamingOps.publishStoreScoped(s, stateRoot, "postings",
      compacted, "cell", touched.map(_.toString))
  }

  /** Stage + drain the q385 stream: publish the base (even vec_id)
    * index, write the delta (odd vec_id) QUANTIZED vectors as a
    * 6-file JSONL stream (fixed-point longs survive the JSON round
    * trip exactly; raw floats would not), and drain it through
    * [[StreamGate.run]] over a checkpoint. */
  private[graft] def runStreamIvf(s: SparkSession, dir: String,
      stage: String, compactEvery: Int = 3): Unit = {
    val st = Stage.at(stage)
    val stateRoot = st.path("state")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    // pin the quantized frame: it feeds BOTH the base-index build
    // (even split) and the delta JSONL staging (odd split)
    val embQ = quantizedL(s, dir).localCheckpoint()
    initIvfIndex(s, stateRoot, embQ.filter(col("vec_id") % 2 === 0))
    val delta = st.jsonStream("in",
      embQ.filter(col("vec_id") % 2 =!= 0).select(col("vec_id"), col("v")),
      col("vec_id"), files = 6, maxFilesPerTrigger = 2)
    // the 64-centroid integer-dot assignment per batch is CPU-bound
    st.run(delta, OutputMode.Append(), workFactor = 256L) { (df, id) =>
      ivfIndexBatch(s, stateRoot, df, id, compactEvery)
    }
  }

  /** q385: STREAMING IVF-index maintenance under the oracle gate —
    * [[ivfTopK]]'s coarse quantizer made CONTINUOUS: the maintained
    * postings' stream-origin rows must EQUAL the one-shot batch
    * assignment of the odd split to even-trained frozen centroids,
    * however the stream was batched, replayed, or compacted. Closes
    * the "both flagship indexes maintained continuously" story next
    * to q326/q327 (dedup index). */
  def streamIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q385", dir)
    runStreamIvf(s, dir, stage.root)
    StreamingOps.readStoreAll(s, stage.path("state"), "postings").get
      .filter(!col("is_base"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .distinct()
  }

  /** q426: IVF CELL-BALANCE AUDIT — the index-health number the
    * whole q38/q99/q298 probe family's latency rides on: a probe
    * touches nprobe cells, so ONE hot cell sets the tail latency and
    * a starving cell wastes its centroid. Per cell: vector count,
    * corpus share (ppm), and load factor vs the uniform ideal
    * (n_vecs·k·10⁶ div n_total — 1e6 means perfectly balanced; the
    * "when do I re-train or split the quantizer" signal, priced
    * before any probe runs). One assignment pass (centroids
    * broadcast) + one bounded per-cell agg. */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val embQ = quantizedL(s, dir)
    val asg = assignTo(embQ.select(col("vec_id"), col("v"), col("n2")),
      centroidsOf(embQ), 0, 64)
    val cells = asg.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 1000000 div n_total").as("share_ppm"),
        expr("n_vecs * n_cells * 1000000 div n_total")
          .as("load_factor_ppm"))
  }

  /** q394: HARD-NEGATIVE MINING via IVF cells (round-13) — the
    * contrastive-training data op q237's random pairing can't
    * provide: for every anchor, the MOST SIMILAR vector of a
    * DIFFERENT label inside the anchor's IVF cell — the classic
    * in-batch-negatives upgrade (hard negatives near the decision
    * boundary carry the gradient signal; random negatives are
    * trivially separable). IVF-cell blocking is exactly the ANN
    * production shape for this: within-cell equi-join (never vec ×
    * vec), exact integer-quantized cosine verify, per-anchor argmax
    * with (cosine desc, neg_id asc) ties. Anchors whose cell holds
    * no other label emit no row — the "cell too pure to mine"
    * signal. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val embQ = quantizedL(s, dir)
    val asg = assignTo(embQ.select(col("vec_id"), col("v"), col("n2")),
        centroidsOf(embQ), 0, 64)
      .join(embQ.select(col("vec_id"), col("label")), "vec_id")
    val a = asg.toDF("vec_id", "v", "n2", "cell", "label")
    val b = asg.toDF("neg_id", "nv", "nn2", "cell", "neg_label")
    a.join(b.hint("shuffle_hash"), "cell")
      .filter(col("label") =!= col("neg_label"))
      .withColumn("cosine",
        cosineQ(col("v"), col("nv"), col("n2"), col("nn2")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max_by(struct(col("neg_id"), col("neg_label"), col("cosine")),
        struct(col("cosine"), negate(col("neg_id")))).as("c"))
      .select(col("vec_id"), col("label"), col("c.neg_id").as("neg_id"),
        col("c.neg_label").as("neg_label"), col("c.cosine").as("cosine"))
  }

  /** q478: GRAPH-ANN BEAM SEARCH (HNSW-family; round-17, VERDICT
    * Next #4) — the graph-based member of the ANN family §D so far
    * covered by IVF (q38/q155/q171), PQ, SQ8 (q124) and LSH (q26):
    * a bounded-degree proximity graph + fixed-round beam search,
    * the single-node industry standard (HNSW/NSG) re-expressed as
    * the iterative bounded-frontier shuffle-hash pattern of q450.
    *
    * INDEX BUILD (the part a 100 TB deploy runs offline): candidate
    * edges from the q24 hyperplane-LSH banding (equi-join on
    * (band, band_key) — never vec×vec), each scored by exact
    * integer-quantized cosine, then top-`degree` out-edges per node
    * with the (cosine desc, id asc) total order. Edge count ≤
    * degree·|corpus| by construction — the bounded-degree property
    * that makes graph ANN serveable.
    *
    * SEARCH: `entries` fixed entry points (smallest corpus ids —
    * deterministic; HNSW's hierarchy is an entry-point accelerator,
    * approximated here by the fixed-round budget), then `rounds`
    * synchronous expansions: frontier = current beam, expand along
    * adj (shuffle_hash), score ONLY new candidates against the
    * broadcast query set, keep top-`beam` per query. Every round's
    * frame is ≤ queries·beam·(degree+1) rows — localCheckpoint
    * bounded, O(rounds) shuffles total, corpus touched only through
    * the candidate joins (never scanned per query — the whole point
    * vs q25's brute force).
    *
    * Output: approximate top-`k` per query PLUS recall_ppm vs the
    * q25 exact brute-force top-`k` on the same query set (the q171
    * recall-audit convention) — the row a deploy reads to decide
    * whether the beam/degree budget meets its recall target next to
    * q171's nprobe sweep. All comparisons ride exact integer dots →
    * IEEE sqrt/division doubles (bit-identical cross-engine, the
    * q124 argument); the oracle replays banding, graph build, and
    * every beam round from the same constants. */
  def graphAnnBeam(s: SparkSession, dir: String, dim: Int = 64,
      degree: Int = 6, beam: Int = 8, rounds: Int = 3,
      entries: Int = 4, k: Int = 5,
      // r18 (VERDICT r17 "Next #7"): checkpoint seam — Explain's
      // q478_beam_round probe passes `identity` so one round's
      // composed plan is dumpable; default behavior unchanged.
      cp: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    import graft.functions.TopK
    val q = quantized(s, dir)
    val corpus = q.filter(col("vec_id") >= 5)
    val cands = embedCandidatesOf(corpus, dim, DefaultNBands, DefaultBandBits)
    // r17 optimization (guide §1.2 — don't compute things twice):
    // score each candidate PAIR once and mirror the scored edge,
    // instead of mirroring first and scoring both directions — the
    // exact-cosine verify (the expensive half of the index build)
    // halves, and the two corpus lookup joins run on half the rows.
    // cosineQ is symmetric in its operands (element products and the
    // norm factors commute), so the mirrored edge carries the
    // bit-identical double. localCheckpoint pins the scored pairs so
    // the union's two branches don't re-execute the verify joins.
    val scored = cands
      .join(corpus.toDF("id1", "v1", "n21").hint("shuffle_hash"), "id1")
      .join(corpus.toDF("id2", "v2", "n22").hint("shuffle_hash"), "id2")
      .withColumn("cos",
        cosineQ(col("v1"), col("v2"), col("n21"), col("n22")))
      .select(col("id1"), col("id2"), col("cos"))
      .transform(cp)
    // bounded-degree adjacency: ≤ degree out-edges per node, ranked
    // by exact cosine (desc, dst asc) — reused every round, so the
    // one localCheckpoint here is the index materialization itself
    // (r17) adj and the corpus lookup are joined once per beam round
    // on a static key — hash-partition them ONCE at materialization
    // (localCheckpoint preserves outputPartitioning), so each round's
    // shuffle-hash join exchanges only the beam frame, not the index
    // (guide §2.4: two operations keyed the same way share one
    // exchange; the index IS the reused side).
    val adj = scored.select(col("id1").as("src"), col("id2").as("dst"), col("cos"))
      .union(scored.select(col("id2").as("src"), col("id1").as("dst"), col("cos")))
      .groupBy(col("src"))
      .agg(TopK.topk(degree)(col("dst"), col("cos")).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
      .repartition(col("src"))
      .transform(cp)
    val corpusByNode = corpus.toDF("node", "cv", "cn2")
      .repartition(col("node")).transform(cp)
    val queries = broadcast(q.filter(col("vec_id") < 5)
      .toDF("query_id", "qv", "qn2"))
    val entry = corpus.orderBy(col("vec_id")).limit(entries)
      .select(col("vec_id").as("node"), col("v"), col("n2"))
    var beamDf = entry.crossJoin(queries)
      .withColumn("cos", cosineQ(col("qv"), col("v"), col("qn2"), col("n2")))
      .groupBy(col("query_id"))
      .agg(TopK.topk(beam)(col("node"), col("cos")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("node"),
        col("t.score").as("cos"))
      .transform(cp)
    for (_ <- 1 to rounds) {
      // (r17) no pre-join distinct: duplicate (query, node)
      // expansions are ≤ beam·degree rows and the dedup groupBy
      // below collapses them anyway (cos is a pure function of the
      // pair, so max over duplicates is the one value) — dropping
      // the distinct removes one exchange per round
      val expand = beamDf.select(col("query_id"), col("node").as("src"))
        .join(adj.hint("shuffle_hash"), "src")
        .select(col("query_id"), col("dst").as("node"))
        .join(corpusByNode.hint("shuffle_hash"), "node")
        .join(queries, "query_id")
        .withColumn("cos",
          cosineQ(col("qv"), col("cv"), col("qn2"), col("cn2")))
        .select(col("query_id"), col("node"), col("cos"))
      // dedup re-visited nodes per query (cos is a pure function of
      // (query, node), so max == the one value), keep top-beam
      beamDf = beamDf.unionByName(expand)
        .groupBy(col("query_id"), col("node")).agg(max(col("cos")).as("cos"))
        .groupBy(col("query_id"))
        .agg(TopK.topk(beam)(col("node"), col("cos")).as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("node"),
          col("t.score").as("cos"))
        .transform(cp)
    }
    val approx = beamDf
      .groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("node"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
    val exact = annBruteForce(s, dir, k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    val recall = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(expr("sum(coalesce(hit, 0L)) * 1000000 div count(1)")
        .as("recall_ppm"))
    approx.join(recall.hint("shuffle_hash"), "query_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("recall_ppm"))
  }
}
