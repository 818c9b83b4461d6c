package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** End-to-end corpus curation — the composition the individual
  * operators exist for, as one call. Order matters at 100 TB:
  * cheap narrow filters cannot go first here because dedup must see
  * the whole corpus, so the pipeline runs normalize+exact-dedup
  * (hash shuffle), then narrow quality/language filters (no
  * shuffle), then the decontamination semi-join (broadcast probe
  * set), then the deterministic sample (narrow filter). Everything
  * is engine-reproducible: md5 dedup keys, md5 sample buckets,
  * exact token arithmetic.
  */
object Pipeline {

  /** q65: curate the documents table into a training corpus:
    *  1. normalization + exact dedup (min doc_id per normalized hash)
    *  2. quality floor (q28's composite ≥ 0.5)
    *  3. language selection (q29's classifier says 'en')
    *  4. decontamination (no 3-gram overlap with probe docs 0-4)
    *  5. 50% deterministic hash sample
    * Output: the curated doc ids with their audit columns. */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // 1. normalize + exact dedup
    val norm = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " ")
    val deduped = docs
      .withColumn("nh", md5(norm.cast("binary")))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("nh"))))
      .filter(col("doc_id") === col("rep"))
      .drop("nh", "rep")
    // 2. quality floor (q28's composite) + 3. language selection
    //    (q29's argmax) — both from the shared canonical definitions
    val filtered = deduped
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("quality", qualityScore(col("text")))
      .filter(col("quality") >= 0.5 && isEnglish(col("text")) && col("doc_id") >= 5)
    // 4. decontamination: drop docs sharing any 3-gram with the probe
    val sh = docs.select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
    val probe = broadcast(sh.filter(col("doc_id") < 5).select(col("sh")).distinct())
    val contaminated = sh.join(probe, "sh").select(col("doc_id")).distinct()
    val clean = filtered.join(contaminated, Seq("doc_id"), "left_anti")
    // 5. deterministic 50% sample
    clean
      .filter(Sampling.hashBucket(
        concat(lit("curate|"), col("doc_id").cast("string"))) < 2147483648L)
      .select(col("doc_id"), col("n_tokens"), round(col("quality"), 4).as("quality"))
  }

  /** q46: domain-mixture reweighting — the per-source sampling rates
    * a training-data pipeline computes before drawing a mixed corpus:
    * given a global token budget (`targetFraction` of the corpus)
    * split evenly across sources, each source's rate is
    * min(1, budget/source_tokens) — undersized domains keep
    * everything, oversized ones downsample to their share. One
    * aggregation plus a broadcast of the single global row; exact
    * integer token arithmetic so the oracle replays it. */
  def sourceMix(s: SparkSession, dir: String, targetFraction: Double = 0.5): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"CAST(total_tokens * $targetFraction AS BIGINT) div n_sources"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        least(lit(1.0), col("budget").cast("double") / col("n_tokens")).as("rate"))
  }

  /** q202: TEMPERATURE-based mixture reweighting — the other
    * mixture policy (q46 splits a budget evenly; this is the
    * multilingual/source sampling-temperature curve from LLM
    * training: weight ∝ tokensᵅ, α=1 proportional, α→0 uniform —
    * upsampling the tail without flattening it). The α grid is
    * {0.25, 0.5, 0.75, 1.0} COMPUTED ONLY FROM sqrt COMPOSITIONS
    * (n^¼ = √√n, n^¾ = √(n·√n)): sqrt is IEEE-correctly-rounded on
    * every engine, so the weights are bit-identical cross-engine
    * where a libm pow() could differ by ulps. Weights then quantize
    * to integer milli-units (round half-up — engine-stable for
    * positive values) so the normalizing SUM is exact integer
    * arithmetic — a double Σw would depend on summation order across
    * partitions. Output: |sources|·4 rows of integral ppm weights.
    * One corpus rollup; everything after runs on the bounded
    * source×α grid. The ppm normalization runs in decimal(38,0)
    * (HUGEINT in the oracle): wq·10⁶ would overflow a BIGINT once a
    * source holds ~9.2e12 tokens at α=1 — inside 100 TB range — and
    * Spark wraps silently where DuckDB errors (the q193/q199
    * widening policy). */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(sum(col("t")).as("n_tokens"))
    val nt = col("n_tokens").cast("double")
    val w = per
      .withColumn("alpha_pct",
        explode(array(lit(25L), lit(50L), lit(75L), lit(100L))))
      .withColumn("wv",
        when(col("alpha_pct") === 25, sqrt(sqrt(nt)))
          .when(col("alpha_pct") === 50, sqrt(nt))
          .when(col("alpha_pct") === 75, sqrt(nt * sqrt(nt)))
          .otherwise(nt))
      .withColumn("wq", round(col("wv") * 1000, 0).cast("long"))
    val tot = w.groupBy(col("alpha_pct")).agg(sum(col("wq")).as("tw"))
    w.join(broadcast(tot), "alpha_pct")
      .select(col("alpha_pct"), col("source"), col("n_tokens"),
        expr("CAST(CAST(wq AS DECIMAL(38,0)) * 1000000 div tw AS BIGINT)")
          .as("weight_ppm"))
  }

  /** q204: per-SOURCE quality CALIBRATION — the reason a global
    * quality cut is wrong: the same composite score means different
    * things in different sources (a 0.6 in a curated corpus is junk;
    * in a web crawl it's good), so curation should compare each
    * doc against ITS SOURCE'S distribution. This report measures
    * that drift: per source, the p10/p50/p90 of the canonical q28
    * score, computed the SCALABLE way — integer score bins (10⁴-ppm
    * grain) → per-(source, bin) counts (one map-side-combinable
    * corpus pass) → cumulative + ceil-rank crossing on the BOUNDED
    * |sources|·100 bin table (the q97/q164 histogram-quantile
    * pattern; q117's row_number window sorts corpus rows per group —
    * fine at report grain, not as the corpus-wide primitive).
    * Estimate = bin upper edge, exact integer arithmetic
    * throughout. Divergent p50s across sources = the calibration
    * evidence; feeding each source's own cut threshold is then q117
    * with this table as input. */
  def sourceQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val binUnit = 10000L // 100 bins over the [0, 1e6] ppm score range
    val bins = Tables.documents(s, dir)
      .select(col("source"),
        (round(qualityScore(col("text")) * 1000000).cast("long") / binUnit)
          .cast("long").as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum(col("cnt")).over(wcum))
    val totals = bins.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    Seq(("p10", 10L), ("p50", 50L), ("p90", 90L)).toDF("q_label", "q")
      .crossJoin(broadcast(totals))
      .withColumn("rnk", expr("(q * n + 99) div 100"))
      .join(cum, Seq("source"))
      .filter(col("cum") >= col("rnk") && (col("cum") - col("cnt")) < col("rnk"))
      .select(col("source"), col("q_label"), col("n"),
        ((col("bin") + 1) * binUnit - 1).as("est_ppm"))
  }

  /** q85: APPLY the q46 mixture — deterministic per-source sampling
    * at the computed rates (md5-bucket keep decision, so the draw is
    * reproducible across engines, reruns and partitionings), audited
    * as the realized per-source doc/token counts. Composes
    * [[sourceMix]] → broadcast of 20 rate rows → narrow filter: the
    * whole "rebalance the corpus" step is one scan over documents
    * plus two tiny aggregations. */
  def mixtureSample(s: SparkSession, dir: String,
      targetFraction: Double = 0.5, salt: String = "mix"): DataFrame = {
    val rates = sourceMix(s, dir, targetFraction)
      .select(col("source"), col("rate"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("t"))
      .join(broadcast(rates), "source")
      .filter(Sampling.hashBucket(
        concat(lit(s"$salt|"), col("doc_id").cast("string")))
        < expr("CAST(floor(rate * 4294967296.0) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("t")).as("kept_tokens"))
  }

  /** q66: token-budget packing — assign each document to a training
    * chunk of ≤ `budget` tokens by a running token sum. The window
    * is keyed by (lang, shard) where shard = md5-bucket(doc_id) %
    * `shards` — the md5 family ([[Sampling.hashBucket]]) so the
    * oracle replays the same sharding. Sharding by language alone
    * (~4 values) would sort ~¼ of a 100 TB corpus in ONE task; the
    * hash shard bounds every window sort to corpus/(langs·shards),
    * with `shards` sized so a shard fits one task (~10⁶ docs). The
    * greedy running-sum pack is the standard pre-tokenization
    * batching step; chunk boundaries are deterministic: docs ordered
    * by doc_id within (lang, shard). */
  def tokenPack(s: SparkSession, dir: String, budget: Long = 4096L,
      shards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(
        Sampling.hashBucket(concat(lit("pack|"), col("doc_id").cast("string"))),
        lit(shards.toLong)))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $budget").as("chunk_id"))
  }

  /** q117: per-language QUANTILE quality cut — drop the bottom 20%
    * of each language by q28's quality score, with the exact
    * threshold found WITHOUT a per-language corpus sort (the
    * curation step where a naive window rank sorts every language in
    * one task — the q66/q102 scale trap, solved q97-style):
    *  1. bin quality into 101 constant-width bins; per-(lang, bin)
    *     counts (one map-side-combinable agg);
    *  2. cumulative counts over the ≤101-row per-language bin table
    *     (constant-size window) locate the single BOUNDARY BIN
    *     where the quota rank r = ⌈n/5⌉ falls;
    *  3. rank-select inside that one bin only (window over the
    *     bin's population, corpus/101-ish rows, never the language)
    *     → the exact threshold doc (qual, doc_id);
    *  4. the cut is then a narrow broadcast-threshold comparison —
    *     kept ⟺ (qual, doc_id) > (thr_qual, thr_id), a total order
    *     so exactly r docs drop, ties impossible.
    * Output per language: doc/drop counts, the threshold, and the
    * surviving token budget. Quota arithmetic is integer
    * ((n+4) div 5), so both engines agree without float ceil. */
  def qualityCut(s: SparkSession, dir: String): DataFrame = {
    val ql = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("qual"),
        size(tokens(col("text"))).cast("long").as("toks"))
    val binned = ql.withColumn("bin",
      least(floor(col("qual") * 100).cast("int"), lit(100)))
    val binCounts = binned.groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = binCounts.withColumn("cum", sum(col("c")).over(wcum))
    val quota = ql.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", expr("div(n + 4, 5)"))
    // the ONE bin per language where rank r lands
    val boundary = withCum.join(quota, "lang")
      .filter(col("cum") >= col("r"))
      .groupBy(col("lang"))
      .agg(min_by(struct(col("bin"), (col("cum") - col("c")).as("cum_before")),
        col("bin")).as("b"), first(col("r")).as("r"))
      .select(col("lang"), col("b.bin").as("bin"),
        col("b.cum_before").as("cum_before"), col("r"))
    // in-bin rank selection: the window sorts ONLY the boundary bin
    val wbin = Window.partitionBy(col("lang")).orderBy(col("qual"), col("doc_id"))
    val thr = binned.join(broadcast(boundary), Seq("lang", "bin"))
      .withColumn("rk", row_number().over(wbin))
      .filter(col("rk") === col("r") - col("cum_before"))
      .select(col("lang"), col("qual").as("thr_qual"), col("doc_id").as("thr_id"))
    ql.join(broadcast(thr), "lang")
      .withColumn("kept", col("qual") > col("thr_qual") ||
        (col("qual") === col("thr_qual") && col("doc_id") > col("thr_id")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        round(first(col("thr_qual")), 4).as("threshold_quality"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).as("n_tokens_kept"))
  }

  /** q146: train/val/test SPLIT-LEAKAGE audit — the eval-contamination
    * check q57/q88 (external benchmark decontamination) does NOT
    * cover: near-duplicate pairs that straddle a split boundary leak
    * training text into val/test, inflating eval scores. Splits are
    * assigned deterministically (md5 bucket % 100 → 98/1/1), so the
    * same doc always lands in the same split on any engine or
    * cluster; leakage candidates are q22's MinHash-LSH band pairs —
    * the bounded-bucket candidate path, never corpus². The report is
    * the full (split, split) pair matrix (≤ 6 rows at any corpus
    * size): off-diagonal rows (cross_split = true) are the leaks a
    * pipeline must fix by moving whole near-dup CLUSTERS into one
    * split (q59's components give the cluster ids). Cost on top of
    * banding: two id-keyed shuffle-hash joins against the ~|docs|
    * split frame + one tiny agg. */
  def splitLeakage(s: SparkSession, dir: String, salt: String = "sp"): DataFrame = {
    val bucket = Sampling.hashBucket(
      concat(lit(s"$salt|"), col("doc_id").cast("string"))) % 100
    val splits = Tables.documents(s, dir).select(col("doc_id"),
      when(bucket < 98, "train").when(bucket === 98, "val")
        .otherwise("test").as("split"))
    Dedup.minhashLsh(s, dir)
      .join(splits.as("sa"), col("d1") === col("sa.doc_id"))
      .join(splits.as("sb"), col("d2") === col("sb.doc_id"))
      .select(least(col("sa.split"), col("sb.split")).as("s1"),
        greatest(col("sa.split"), col("sb.split")).as("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_split", col("s1") =!= col("s2"))
  }

  /** q147: the FIX for q146's leaks — CLUSTER-COHERENT split
    * assignment: hash the near-dup CLUSTER label (q59's min-id
    * component; the doc's own id for singletons) instead of the doc
    * id, so every member of a near-dup cluster lands in the same
    * split BY CONSTRUCTION and the re-audit's off-diagonal is
    * structurally empty — any cross_split row in this output is a
    * components bug, which is exactly why the audit re-runs instead
    * of asserting. Same candidate path and report shape as q146;
    * extra cost over it is the components propagation (≤ diameter
    * bounded rounds — near-clique dedup graphs converge in 2–3) plus
    * one left join to attach labels. Split sizes stay ~98/1/1
    * because clusters are small relative to the corpus (q74's
    * histogram is the check). */
  /** q149: the split MANIFEST under cluster-coherent assignment —
    * per-split doc/token counts and realized fractions, the balance
    * audit run after q147's fix: keying splits on cluster labels
    * must NOT skew the 98/1/1 budget (clusters are small relative
    * to the corpus — if one split inherited a giant cluster the
    * realized fraction would drift, and this report is where it
    * shows). One components pass + one left join + one
    * map-side-combinable agg; 3 output rows at any corpus size. */
  def splitManifest(s: SparkSession, dir: String,
      salt: String = "sp"): DataFrame = {
    val comp = Dedup.components(Dedup.minhashLsh(s, dir))
    val skey = coalesce(col("component"), col("doc_id"))
    val bucket = Sampling.hashBucket(
      concat(lit(s"$salt|"), skey.cast("string"))) % 100
    val bySplit = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long")
        .as("toks"))
      .join(comp, Seq("doc_id"), "left")
      .select(when(bucket < 98, "train").when(bucket === 98, "val")
          .otherwise("test").as("split"),
        col("toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    // total from the ≤3-row agg itself: scalar broadcast, no re-scan
    val total = bySplit.agg(sum(col("n_docs")).as("total"))
    bySplit.crossJoin(total)
      .select(col("split"), col("n_docs"), col("n_tokens"),
        round(col("n_docs") / col("total").cast("double"), 4).as("doc_frac"))
  }

  def coherentSplitAudit(s: SparkSession, dir: String,
      salt: String = "sp"): DataFrame = {
    val pairs = Dedup.minhashLsh(s, dir)
    val comp = Dedup.components(pairs)
    val skey = coalesce(col("component"), col("doc_id"))
    val bucket = Sampling.hashBucket(
      concat(lit(s"$salt|"), skey.cast("string"))) % 100
    val splits = Tables.documents(s, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(bucket < 98, "train").when(bucket === 98, "val")
          .otherwise("test").as("split"))
    pairs
      .join(splits.as("sa"), col("d1") === col("sa.doc_id"))
      .join(splits.as("sb"), col("d2") === col("sb.doc_id"))
      .select(least(col("sa.split"), col("sb.split")).as("s1"),
        greatest(col("sa.split"), col("sb.split")).as("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_split", col("s1") =!= col("s2"))
  }

  /** q165: MIXTURE PLANNER — derives the per-language sampling rates
    * q85 then APPLIES: given target language fractions (ppm) and the
    * no-upsampling constraint (rate ≤ 1 — repeating documents to hit
    * a quota is a training-quality decision this planner refuses to
    * make silently), the achievable token budget is
    * T = min_l tokens_l·10⁶ / target_l — the BINDING language sets
    * the budget, every other language downsamples to its share of T.
    * Per-language output: corpus tokens, current vs target mix,
    * budget, needed tokens, rate (ppm) — with the binding language
    * flagged at rate = 10⁶, which is the row a pipeline owner reads
    * first ("we are constrained by zh; collect more zh or shrink
    * the run"). One map-side-combinable token rollup + |langs|-row
    * arithmetic; all integer (truncated div, pinned order). */
  def mixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val targets = Seq(("en", 300000L), ("de", 175000L), ("es", 175000L),
      ("fr", 175000L), ("zh", 175000L)).toDF("lang", "target_ppm")
    val tokens = Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
    val joined = tokens.join(broadcast(targets), "lang")
    val total = joined.agg(sum(col("tokens")).as("all_tokens"),
      min(expr("(tokens * 1000000L) div target_ppm")).as("budget_tokens"))
    joined.crossJoin(broadcast(total))
      .select(col("lang"), col("tokens"),
        expr("(tokens * 1000000L) div all_tokens").as("current_ppm"),
        col("target_ppm"), col("budget_tokens"),
        expr("(budget_tokens * target_ppm) div 1000000L").as("need_tokens"),
        expr("((budget_tokens * target_ppm) div 1000000L * 1000000L) div tokens")
          .as("rate_ppm"))
  }

  /** q237: CONTRASTIVE-PAIR manifest — the training-data emitter on
    * top of the dedup graph: every q22 near-dup pair is a POSITIVE
    * (label 1 — texts known similar by the gated blocker); each
    * positive's anchor also gets one deterministic NEGATIVE (label
    * 0) drawn by salted hash over the id RANGE (q196's bounds
    * broadcast) — the uniform random partner a bi-encoder trains
    * against, reproducible across runs because the "randomness" is
    * md5(anchor). A hash-drawn negative can collide with the anchor
    * or land on a real near-dup; both are EXCLUDED exactly (self by
    * filter, accidental positives by anti-join against the positive
    * pair set — the standard false-negative scrub). Output: (anchor,
    * partner, label) rows, ~2·|pairs|; every step an equi-join or
    * narrow map. */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val pos = Dedup.minhashLsh(s, dir).localCheckpoint()
    val bounds = Tables.documents(s, dir)
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val neg = pos.select(col("d1")).distinct()
      .crossJoin(broadcast(bounds))
      .withColumn("cand", col("mn") +
        pmod(Sampling.hashBucket(concat(lit("neg|"), col("d1").cast("string"))),
          col("mx") - col("mn") + 1))
      .filter(col("cand") =!= col("d1"))
      .select(col("d1"), least(col("d1"), col("cand")).as("a"),
        greatest(col("d1"), col("cand")).as("b"), col("cand"))
      .join(pos.toDF("a", "b"), Seq("a", "b"), "left_anti")
      .select(col("d1").as("anchor_id"), col("cand").as("partner_id"),
        lit(0L).as("label"))
    pos.select(col("d1").as("anchor_id"), col("d2").as("partner_id"),
        lit(1L).as("label"))
      .unionByName(neg)
  }

  /** q240: PACKING-EFFICIENCY audit — what q66's greedy budget
    * packing actually costs: per language, chunk count, mean fill
    * (tokens per 4096 budget, ppm), and the PAD-WASTE share — the
    * fraction of paid context window carrying padding, which at
    * training scale is the same unit as money. Waste counts only
    * UNDERFILL (budget − fill for chunks below budget; an overfull
    * final chunk wastes nothing). Composes the q66 manifest (same
    * per-(lang, shard) bounded window) + two bounded aggs. */
  def packingEfficiency(s: SparkSession, dir: String,
      budget: Long = 4096L): DataFrame =
    tokenPack(s, dir, budget)
      .groupBy(col("lang"), col("shard"), col("chunk_id"))
      .agg(sum(col("n_tokens")).as("fill"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("fill")).as("n_tokens"),
        sum(when(col("fill") < budget, lit(budget) - col("fill")).otherwise(0L))
          .as("pad_tokens"))
      .select(col("lang"), col("n_chunks"), col("n_tokens"), col("pad_tokens"),
        expr(s"n_tokens * 1000000 div (n_chunks * $budget)").as("fill_ppm"),
        expr(s"pad_tokens * 1000000 div (n_chunks * $budget)").as("waste_ppm"))

  /** q217: CHUNK MANIFEST — sliding-window document chunking with
    * overlap (chunk 128 tokens, stride 96 → 32-token overlap), the
    * step between q66's greedy packing (whole docs into budgets) and
    * an embedding/RAG indexer that needs fixed-size overlapping
    * passages. Per doc: chunk count from ONE integer formula
    * (1 + ⌈(n−128)/96⌉, truncation-safe as (n−128+95) div 96), each
    * chunk materialized by a bounded per-row sequence explode —
    * output rows ≈ corpus_tokens/stride, a constant factor of the
    * input, NEVER quadratic; no shuffle at all (narrow explode off
    * the scan; the manifest inherits the scan's partitioning).
    * Chunk identity = md5 of the chunk's token span, so downstream
    * dedup (q127's chunk-hash family) and cache keys are stable
    * under re-chunking. Boundary semantics spec-pinned: a doc at or
    * under 128 tokens is exactly one chunk; the LAST chunk may be
    * short (n − start tokens) but always ≥ 1 token because start <
    * n by construction. */
  def chunkManifest(s: SparkSession, dir: String, chunk: Int = 128,
      stride: Int = 96): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        expr(s"CASE WHEN n > $chunk THEN (n - $chunk + ${stride - 1}) div $stride ELSE 0 END"))))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("n_toks", least(lit(chunk.toLong), col("n") - col("tok_start")))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"), col("n_toks"),
        md5(concat_ws(" ", slice(col("toks"),
          (col("tok_start") + 1).cast("int"), col("n_toks").cast("int")))
          .cast("binary")).as("chunk_hash"))

  /** q257: CSV INGESTION ROBUSTNESS — schema-on-read with PERMISSIVE
    * corrupt-record capture, the front door every external feed comes
    * through before any operator here sees it: a malformed row must
    * become a COUNTED quarantine row, never a job failure (FAILFAST
    * at 100 TB = one bad byte kills a day of compute) and never a
    * silent drop (DROPMALFORMED = unmeasured data loss). The gate
    * stages the document metadata as CSV with a DETERMINISTIC
    * corruption (every doc_id ≡ 0 mod 50 ships `n_chars` as
    * unparseable text — a type violation, the real-world "header
    * drifted / locale changed" failure), reads it back with an
    * explicit schema + `_corrupt` capture column, and reports per
    * source: rows, quarantined rows, and the n_chars sum over clean
    * rows. The oracle computes the same numbers arithmetically from
    * the raw table — the CSV round-trip and quarantine must lose
    * nothing. (Fields here are alphanumeric, so no quoting ambiguity
    * clouds what "corrupt" means.) */
  /** q259: TEMPORAL SPLIT + ENTITY-LEAKAGE audit — the time-based
    * train/test cut evaluation actually requires (q146 audits
    * CONTENT leakage between random splits; a temporal model eval
    * needs train strictly BEFORE test, and the subtler leak is the
    * ENTITY: a user active on both sides lets the model memorize
    * user-specific behavior and call it generalization). Cut at 80%
    * of the event-time span (exact integer micros); per user one
    * map-side-combinable conditional agg classifies train_only /
    * test_only / both; the ≤3-row report carries users and event
    * volumes per class — `both` is the population a leakage-clean
    * eval must hold out or stratify, `test_only` users are the true
    * cold-start set. One corpus scan, one user-keyed agg. */
  def temporalSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val cut = ev.agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(expr("t0 + (t1 - t0) * 8 div 10").as("cut"))
    ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < col("cut"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("ts") >= col("cut"), 1L).otherwise(0L)).as("n_te"))
      .withColumn("class",
        when(col("n_tr") > 0 && col("n_te") > 0, "both")
          .when(col("n_tr") > 0, "train_only").otherwise("test_only"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_tr")).as("n_train_events"),
        sum(col("n_te")).as("n_test_events"))
  }

  def csvIngest(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q257", dir)
    Tables.documents(s, dir)
      .select(when(col("doc_id") % 50 === 0,
          concat_ws(",", col("doc_id"), col("lang"), col("source"),
            concat(lit("x"), col("n_chars"))))
        .otherwise(concat_ws(",", col("doc_id"), col("lang"), col("source"),
          col("n_chars"))).as("value"))
      .write.mode("overwrite").text(stage.path("csv"))
    s.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(stage.path("csv"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when(col("_corrupt").isNull, col("n_chars")).otherwise(0L))
          .as("clean_chars"))
  }

  /** q333: DSIR-style importance selection (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS'23 — public method): pick raw-corpus documents whose
    * HASHED-N-GRAM distribution looks most like a target domain.
    * Target = even doc_ids (the "domain" sample), candidates = odd.
    * Features are hashed word bigrams (md5 bucket % `buckets` — the
    * DSIR hashing trick: a bounded feature space regardless of
    * vocabulary); both splits' bucket unigram-LMs get add-one
    * smoothing, and each candidate's importance weight is the
    * log-likelihood ratio Σ log p̂_target(b)/p̂_raw(b) =
    * Σ [ln(ct+1) − ln(cr+1)] − n·[ln(Nt+B) − ln(Nr+B)]. The top
    * `keep` docs by (rounded score, id) are flagged selected — both
    * engines rank the ROUNDED score, so the cut is deterministic.
    * Shapes for 100 TB: one narrow bigram explode; bucket counts are
    * a BOUNDED (B-row) broadcast table; per-doc scoring is one
    * hash agg over the explode; selection is the bounded TopKAgg,
    * never a global sort. The corpus is scanned twice (count, score)
    * — the DSIR paper's own two-pass structure. */
  def dsirSelection(s: SparkSession, dir: String, buckets: Int = 4096,
      keep: Int = 50): DataFrame = {
    import graft.functions.TopK
    val isTarget = col("doc_id") % 2 === 0
    val big = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // the q52 phantom-frame guard: sequence(0, -1) is NOT empty
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bg"))
      .select(col("doc_id"),
        (Sampling.hashBucket(concat(lit("dsir|"), col("bg"))) % buckets)
          .as("b"))
    val counts = big.groupBy(col("b"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
        sum(when(isTarget, 0L).otherwise(1L)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val scored = big.filter(!isTarget)
      .join(broadcast(counts), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log(col("ct") + 1) - log(col("cr") + 1)).as("ssum"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("ssum") - col("n_bigrams") *
          (log(col("nt") + buckets) - log(col("nr") + buckets)), 4)
          .as("dsir_score"))
      .localCheckpoint()
    val sel = scored
      .agg(TopK.topk(keep)(col("doc_id"), col("dsir_score")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("doc_id"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("dsir_score"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** q349: EFFECTIVE-TOKEN YIELD per source (round-11) — the corpus
    * accounting a data lead actually budgets with: raw token counts
    * overstate a source's value by exactly its duplication, so per
    * source this reports docs/tokens RAW, docs removed by exact
    * dedup (q20: not the content-hash keeper), docs removed by
    * near-dedup (q59: non-canonical component members, exact dups
    * excluded so the axes stay disjoint — the accounting identity
    * n_docs = exact + near + effective is spec-pinned), and the
    * surviving EFFECTIVE docs/tokens + yield ppm. A source at 600k
    * yield costs 1.67× its effective tokens in storage/compute —
    * this table is where that shows. Canonicals are attributed
    * globally (a copy's keeper may sit in another source — removal
    * is charged to the source holding the COPY, which is the
    * curation decision's grain). Shapes: one hash agg (q20), the
    * q59 iteration, one source-keyed roll-up. */
  def effectiveTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        md5(col("text").cast("binary")).as("h"))
    val keep = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val comp = Dedup.dedupComponents(s, dir)
    docs.join(keep, "h")
      .withColumn("exact_dup", col("doc_id") =!= col("keep_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("near_dup", !col("exact_dup") &&
        coalesce(col("component") =!= col("doc_id"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_removed"),
        sum(when(col("near_dup"), 1L).otherwise(0L)).as("n_near_removed"),
        sum(when(!col("exact_dup") && !col("near_dup"), 1L).otherwise(0L))
          .as("n_effective_docs"),
        sum(when(!col("exact_dup") && !col("near_dup"), col("n_toks"))
          .otherwise(0L)).as("effective_tokens"))
      .withColumn("yield_ppm",
        expr("effective_tokens * 1000000 div n_tokens"))
  }

  /** q353: SOURCE-DIVERGENCE table (round-11) — how far each
    * source's unigram distribution sits from the corpus mixture,
    * the quantity mixture planners (DoReMi-adjacent reweighting,
    * CCNet's domain buckets) read before assigning sampling rates.
    * Distance = TOTAL VARIATION over a HASHED feature space (md5
    * bucket % 4096 — the q333 bound: the grid is 4096 rows per
    * source at ANY vocabulary size), with add-one smoothing so
    * empty buckets are priced. Determinism treatment: TV's per-
    * bucket term |p_s − p| is put over the common denominator
    * (n_s+V)(N+V) so the numerator is EXACT integer cross-
    * multiplication, summed exactly; one final correctly-rounded
    * double division produces tv_ppm — no transcendental (KL's ln)
    * ever runs, so both engines agree bit-for-bit. Shapes: one
    * narrow explode, three hash aggs, a bounded |sources|×4096 grid
    * (broadcast range + broadcast bucket totals), one source
    * roll-up. */
  def sourceDivergence(s: SparkSession, dir: String,
      buckets: Int = 4096): DataFrame = {
    val v = buckets.toLong
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .withColumn("b", pmod(Sampling.hashBucket(col("w")), lit(v)))
      .select(col("source"), col("b"))
    val srcCnt = toks.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c_sb"))
    val srcTot = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val corpusCnt = toks.groupBy(col("b")).agg(count(lit(1)).as("c_b"))
    val corpusTot = toks.agg(count(lit(1)).as("n"))
    srcTot
      .crossJoin(broadcast(s.range(buckets).select(col("id").as("b"))))
      .join(srcCnt, Seq("source", "b"), "left")
      .join(broadcast(corpusCnt), Seq("b"), "left")
      .crossJoin(broadcast(corpusTot))
      .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
      .withColumn("c_b", coalesce(col("c_b"), lit(0L)))
      .withColumn("num", abs(
        (col("c_sb") + lit(1L)) * (col("n") + lit(v)) -
        (col("c_b") + lit(1L)) * (col("n_s") + lit(v))))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), max(col("n")).as("n"),
        sum(col("num")).as("ss"),
        sum(when(col("c_sb") > 0L, 1L).otherwise(0L)).as("n_buckets"))
      .withColumn("tv_ppm", round(lit(1e6) * col("ss").cast("double") /
        (lit(2.0) * (col("n_tokens") + lit(v)).cast("double") *
          (col("n") + lit(v)).cast("double"))).cast("long"))
      .select(col("source"), col("n_tokens"), col("n_buckets"),
        col("tv_ppm"))
  }

  /** q355: DOMAIN-TRANSFER MATRIX (round-11) — the |S|×|S| cross-
    * entropy table "corpus of source r scored under source t's LM"
    * that domain-weighting work reads (Paloma-style domain
    * perplexity grids, CCNet's domain filters): the diagonal should
    * be each row's minimum (a source models itself best) and a
    * small off-diagonal entry means t's data can stand in for r's.
    * LM = q333's hashed-bigram bucket model (md5 % 4096, add-one
    * smoothed — 4096 rows per source at ANY vocabulary); entry
    * (r,t) = Σ_b c_r(b)·surprisal_t(b) / n_r. Determinism: the
    * surprisal log10((n_t+V)/(c_t+1)) is ONE fixed IEEE expression
    * of exact integers, micro-rounded to an integer PER BUCKET
    * before the multiply-accumulate, so the sum is exact integer
    * arithmetic in any order and the mean is one positive integer
    * division. Shapes: one bigram explode + hash agg, a bounded
    * |S|×4096 zero-filled grid, one b-keyed join producing the
    * |S|²×4096 bounded product, one roll-up; is_best_lm = the
    * (xent, lm) min-struct per corpus row. */
  def domainTransferMatrix(s: SparkSession, dir: String,
      buckets: Int = 4096): DataFrame = {
    val v = buckets.toLong
    val bg = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("source"), explode(bigrams2(col("text"))).as("bg"))
      .withColumn("b", pmod(Sampling.hashBucket(col("bg")), lit(v)))
    // r18 (guide §1.2): pin the bucket counts and derive the
    // per-source totals FROM them (n = Σ_b c, exactly the old
    // per-row count) — un-pinned, the corpus bigram explode + hash
    // ran twice. `grid` is pinned too: it feeds both the LM side
    // and the cross-entropy side. Bounded: sources × buckets rows.
    val cnt = bg.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nS = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val grid = nS
      .crossJoin(broadcast(s.range(buckets).select(col("id").as("b"))))
      .join(cnt, Seq("source", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .localCheckpoint()
    val lm = grid.select(col("source").as("src_lm"), col("b"),
      round(lit(1e6) * log10((col("n") + lit(v)).cast("double") /
        (col("c") + lit(1L)).cast("double"))).cast("long").as("nlogp_e6"))
    val xent = grid
      .select(col("source").as("src_corpus"), col("b"), col("c"), col("n"))
      .join(lm, "b")
      .groupBy(col("src_corpus"), col("src_lm"))
      .agg(max(col("n")).as("n_r"),
        sum(col("c") * col("nlogp_e6")).as("ssum"))
      .withColumn("xent_e6", expr("ssum div n_r"))
    xent
      .withColumn("best", min(struct(col("xent_e6"), col("src_lm")))
        .over(Window.partitionBy(col("src_corpus"))))
      .select(col("src_corpus"), col("src_lm"), col("xent_e6"),
        (col("best.xent_e6") === col("xent_e6") &&
          col("best.src_lm") === col("src_lm")).as("is_best_lm"))
  }

  /** q347: RAG CONTEXT-PACK manifest (round-11) — the end-to-end
    * retrieval composition the pieces exist for: each query vector
    * retrieves its top-k documents through the IVF index (q38's
    * probed search; doc_id = vec_id, the repo's standing embeddings↔
    * documents association), the hits expand to the q217 overlapping
    * chunk manifest, and chunks are packed GREEDILY in (rank,
    * chunk_id) order into a fixed token budget — exactly the context
    * window a RAG prompt assembler fills, emitted as a reproducible
    * manifest (chunk hashes ride along for caching). The running
    * total is a window over (rank, chunk_id) — unique keys, frame
    * pinned to ROWS — partitioned BY QUERY: each partition's input
    * is bounded by k·chunks-per-doc whatever the corpus size (this
    * is per-query context assembly, not a corpus op). Cost: the IVF
    * search + one chunk equi-join on k·|queries| doc ids. */
  def ragPack(s: SparkSession, dir: String, k: Int = 3,
      budget: Long = 512L): DataFrame = {
    val hits = Similarity.ivfTopK(s, dir, k = k)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    val cand = hits.join(chunkManifest(s, dir), "doc_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rank"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand.withColumn("cum_tokens", sum(col("n_toks")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_id"),
        col("n_toks"), col("cum_tokens"), col("chunk_hash"))
  }

  /** q338: CCNet-STYLE PERPLEXITY TERCILES (round-11) — the public
    * CCNet recipe (Wenzek et al., LREC 2020): score every document
    * with a language-model signal, then split EACH LANGUAGE's corpus
    * into head/middle/tail thirds by that score — the head feeds
    * high-quality training mixes, the tail gets dropped or
    * down-weighted, and the split is per-language so low-resource
    * languages aren't graded on the dominant language's curve. The
    * LM signal is q56's bigram corpus-frequency score (higher =
    * more probable = lower-perplexity proxy), quantized to integer
    * ten-thousandths so both engines rank the identical value; the
    * per-language thirds come from [[Relational.twoPhaseRank]] on
    * (−score, doc_id) — never a per-language corpus sort on one
    * task (bin = the negated score's thousand-bucket, monotone in
    * the rank key) — and the tercile is pure integer quota
    * arithmetic 3·(rank−1) div n. Docs with <2 tokens have no
    * bigram signal and are excluded, as in q56. */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = docs.filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("bg"))
    val scored = bg.withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("bg"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(log10(col("cnt"))) * 10000).cast("long")
          .as("score_micro"),
        count(lit(1)).as("n_bigrams"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    Relational.twoPhaseRank(scored, col("lang"),
      expr("(-score_micro) div 1000"),
      Seq(negate(col("score_micro")), col("doc_id")), "lang_rank", "n_lang")
      .select(col("doc_id"), col("lang"), col("score_micro"),
        col("n_bigrams"), col("lang_rank"),
        when(expr("(lang_rank - 1) * 3 div n_lang") < 1L, "head")
          .when(expr("(lang_rank - 1) * 3 div n_lang") < 2L, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** q362: MOORE-LEWIS cross-entropy-difference data selection
    * (round-12) — the classic domain-adaptation selector (Moore &
    * Lewis, ACL 2010): rank every candidate document by
    * H_general(doc) − H_indomain(doc), equivalently the mean per-
    * token ln P_in(w) − ln P_gen(w) — "looks like my target domain,
    * unusual for the general corpus". q333's DSIR is the hashed-
    * bigram importance-WEIGHT descendant; this is the original
    * unigram log-likelihood-ratio form, still the first tool
    * reached for when curating a domain slice out of a 100 TB web
    * corpus. In-domain = the 'en' slice (the corpus' lang column),
    * general = everything; both LMs add-1 smoothed over the SHARED
    * vocab V. Float discipline: the per-WORD ratio is one fixed
    * IEEE expression micro-rounded once on the vocab-sized frame;
    * per-doc scores are integer sums of those micro values div
    * n_toks — order-free by construction (no cross-row float
    * summation anywhere). Selection = bounded TopK on
    * (score desc, doc_id). */
  def mooreLewis(s: SparkSession, dir: String, keep: Int = 50): DataFrame = {
    import graft.functions.TopK
    val docs = Tables.documents(s, dir)
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
    val vocab = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("cg"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cin"))
    val tot = vocab.agg(sum(col("cg")).as("ng"), sum(col("cin")).as("nin"),
      count(lit(1)).as("v"))
    val lp = vocab.crossJoin(broadcast(tot))
      .withColumn("lp_micro", round((
        log((col("cin") + 1).cast("double") /
            (col("nin") + col("v")).cast("double")) -
        log((col("cg") + 1).cast("double") /
            (col("ng") + col("v")).cast("double"))) * 1e6).cast("long"))
      .select(col("w"), col("lp_micro"))
    val scored = tok.join(lp, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        expr("sum(lp_micro) div count(1)").as("ml_micro"))
      .localCheckpoint()
    val sel = scored
      .agg(TopK.topk(keep)(col("doc_id"), col("ml_micro").cast("double"))
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("doc_id"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("ml_micro"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** q379: CURRICULUM PACING manifests (round-12) — the easy-first
    * training schedule (Bengio et al. 2009; linear pacing function
    * per Hacohen & Weinshall 2019): difficulty = the doc's length
    * rank (short = easy, the standard text proxy), pacing p(e) =
    * min(1, 0.25 + 0.25·e), so epoch 1 trains on the easiest half,
    * epoch 2 on 75%, epoch 3 on everything. Difficulty ppm comes
    * from [[Relational.twoPhaseRank]] (bounded-histogram rank, no
    * corpus sort); the epoch fan-out is a NARROW array filter per
    * row (explode of the epochs the doc is admitted to — ≤ 3 rows
    * per doc), then one bounded agg. Output: per epoch, the admitted
    * doc/token volume — the manifest a data loader samples from. */
  def curriculumPacing(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
    val ranked = Relational.twoPhaseRank(lens, lit(1), col("n_toks"),
      Seq(col("n_toks"), col("doc_id")), "rk", "n_all")
      .withColumn("diff_ppm", expr("rk * 1000000 div n_all"))
    ranked
      .withColumn("epoch", explode(expr(
        "filter(array(1, 2, 3), e -> " +
          "diff_ppm <= least(1000000, 250000 + 250000 * e))")))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("threshold_ppm",
        least(lit(1000000L), lit(250000L) + lit(250000L) * col("epoch")))
      .select(col("epoch").cast("long").as("epoch"), col("threshold_ppm"),
        col("n_docs"), col("n_tokens"))
  }

  /** q380: CHINCHILLA COMPUTE-OPTIMAL planner (round-12) — the
    * capacity question the whole dedup/curation stack exists to
    * answer: given the corpus' EXACT-DEDUPED token supply, which
    * model sizes can be trained compute-optimally (Hoffmann et al.
    * 2022: ~20 tokens per parameter) and how many EPOCHS of the
    * corpus each needs — with the ≤ 4-epoch repeat ceiling of
    * Muennighoff et al. 2023 flagging the data-constrained regime.
    * Supply = tokens of md5-keeper docs (q20's grain — the cheapest
    * defensible "unique tokens" number; q349's near-dup accounting
    * refines it). One corpus agg + a 4-row literal model grid; all
    * integer (tokens/needs/epochs-milli). */
  def chinchillaPlanner(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"),
        md5(col("text").cast("binary")).as("h"))
    val keep = docs.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), max(col("n_toks")).as("n_toks"))
    val supply = keep.agg(sum(col("n_toks")).as("effective_tokens"))
    val grid = s.createDataFrame(Seq(
      ("125M", 125000000L), ("1.3B", 1300000000L),
      ("13B", 13000000000L), ("70B", 70000000000L)))
      .toDF("model", "params")
    grid.crossJoin(broadcast(supply))
      .withColumn("optimal_tokens", col("params") * 20L)
      .withColumn("epochs_milli",
        expr("optimal_tokens * 1000 div effective_tokens"))
      .withColumn("data_constrained", col("epochs_milli") > 4000L)
      .select(col("model"), col("params"), col("effective_tokens"),
        col("optimal_tokens"), col("epochs_milli"), col("data_constrained"))
  }

  /** q383: QUALITY × NEAR-DUPLICATION interaction table (round-12)
    * — the curation-ORDER question answered with data: how much of
    * the low-quality mass is ALSO near-duplicated (cut once, not
    * twice), and how much duplicated mass hides inside the
    * quality-passing set. The 2×2 (quality_pass, is_dup) cell table
    * with doc/token volumes and corpus token share — what a pipeline
    * lead reads before deciding dedup-then-filter vs
    * filter-then-dedup. is_dup is the PAIRWISE min-keeper grain over
    * q21's exact-Jaccard pairs (a doc is a dup iff some
    * smaller-id doc is ≥ 0.5-similar — q21 emits d1 < d2, so the
    * right column is exactly the removable set; the q59 component
    * grain coarsens it); quality is the q28/q65 shared composite at
    * the 0.7 cut that splits this corpus. Near-dup is exactly where
    * ORDER MATTERS: filtering first can remove a keeper whose copy
    * then survives dedup — this table bounds that leakage by the
    * (pass, dup) cell mass. Costs: the q21 generator + one id
    * semi-join + one 4-row agg. */
  def qualityDupInteraction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_toks"),
      (qualityScore(col("text")) >= 0.7).as("quality_pass"))
    val dups = Dedup.ngramJaccard(s, dir)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val tot = docs.agg(sum(col("n_toks")).as("total_tokens"))
    docs.join(dups, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
      .groupBy(col("quality_pass"), col("is_dup"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("quality_pass"), col("is_dup"), col("n_docs"),
        col("n_tokens"),
        expr("n_tokens * 1000000 div total_tokens").as("token_share_ppm"))
  }

  /** q393: UNIMAX token-budget allocation across sources (Chung,
    * Garcia, Constant et al., "UniMax: Fairer and More Effective
    * Language Sampling", ICLR 2023) — the principled answer to the
    * mixture-weight question q202's temperature scaling approximates:
    * distribute a total training budget UNIFORMLY across sources,
    * capped at E epochs of each source's supply, and spill the
    * leftover uniformly over the uncapped rest — exact integer
    * WATER-FILLING. With capacities c_i = E·s_i sorted ascending and
    * prefix sums P_k: the waterline sits at w = (B − P_k) div (m−k)
    * for the unique k with c_k ≤ w < c_{k+1} (all-capped when the
    * budget exceeds ΣC), and the div remainder goes +1 each to the
    * first r uncapped sources by name — so Σ alloc = min(B, ΣC)
    * EXACTLY, fully deterministic, no float anywhere. Shapes: one
    * corpus agg to per-source supplies, then every step on the
    * BOUNDED source frame (windows over |sources| rows). */
  def unimaxAllocation(s: SparkSession, dir: String, epochCap: Long = 4L,
      budgetShare: Long = 2L): DataFrame =
    waterFill(Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("supply")),
      epochCap, budgetShare)

  /** The UniMax water-filling core over any (source, supply) frame —
    * split out so the composed pipeline (q400) can allocate over the
    * POST-CURATION supply. */
  private[graft] def waterFill(supply: DataFrame, epochCap: Long,
      budgetShare: Long): DataFrame = {
    // Zero-supply sources (possible in q400 when quality + ExactSubstr
    // cuts keep nothing of a source) are excluded from the
    // water-filling itself: a zero-cap row can never host the
    // waterline (w < cap is unsatisfiable at cap = 0) and, ranked
    // last among ties, would leave the waterline condition
    // unsatisfiable. They re-enter the output with alloc = 0 and NULL
    // epochs (0 tokens allocated of 0 supplied is 0/0 — NULL, the
    // nullif house convention, on both engines).
    val zeroSup = supply.filter(col("supply") <= 0L)
      .select(col("source"), col("supply"),
        (col("supply") * epochCap).as("cap"), lit(0L).as("alloc"),
        lit(null).cast("long").as("epochs_milli"))
    val sup = supply.filter(col("supply") > 0L)
      .withColumn("cap", col("supply") * epochCap)
    val tot = sup.agg(sum(col("supply")).as("n_total"),
      sum(col("cap")).as("cap_total"), count(lit(1)).as("m"))
    // budget = half the corpus tokens (budgetShare = 2)
    val ranked = sup.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"n_total div $budgetShare"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cap"), col("source"))))
      .withColumn("p_prev",
        coalesce(sum(col("cap")).over(Window.orderBy(col("cap"), col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_cap",
        coalesce(lag(col("cap"), 1).over(
          Window.orderBy(col("cap"), col("source"))), lit(0L)))
    // the valid waterline row (min rk defensively — c_{k−1} ≤ w < c_k
    // has a unique solution whenever budget ≤ ΣC, which epochCap ≥ 1
    // and budgetShare ≥ 1 guarantee by construction): sources ranked
    // below are at capacity; w = remaining budget div remaining
    // sources, div remainder spread +1 to the first `rem` uncapped
    val wline = ranked
      .withColumn("w", expr("(budget - p_prev) div (m - rk + 1)"))
      .filter(col("w") < col("cap") && col("w") >= col("prev_cap"))
      .withColumn("pick", row_number().over(Window.orderBy(col("rk"))))
      .filter(col("pick") === 1)
      .select(col("rk").as("k_row"), col("w"),
        expr("(budget - p_prev) % (m - rk + 1)").as("rem"))
    ranked.crossJoin(broadcast(wline))
      .withColumn("alloc",
        when(col("rk") < col("k_row"), col("cap"))
          .otherwise(col("w") +
            when(col("rk") - col("k_row") + 1 <= col("rem"), 1L)
              .otherwise(0L)))
      .select(col("source"), col("supply"), col("cap"), col("alloc"),
        expr("alloc * 1000 div nullif(supply, 0)").as("epochs_milli"))
      .unionByName(zeroSup)
  }

  /** q400: CURATION PIPELINE v2 (round-13 flagship composition) —
    * the round's new decision layers composed end to end the way a
    * production corpus build runs them, with per-source accounting
    * at every stage: (1) the q28 composite quality cut; (2) the q384
    * ExactSubstr survival cut (docs keeping < 80% of their tokens
    * after maximal-duplicated-span removal are dropped — the Lee et
    * al. removal applied at doc grain); (3) UniMax water-filling
    * (q393) over the SURVIVING token supply — allocation follows
    * what curation left, not the raw counts (allocating on raw
    * supply over-samples duplicated sources by exactly their cut
    * mass). Output per source: docs in/kept, raw/kept tokens, the
    * exact allocation and implied epochs. Every stage is a gated
    * operator reused unchanged; order matters (quality before dedup
    * is the q383 interaction measured here as one pipeline). */
  def curateV2(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        (qualityScore(col("text")) >= 0.7).as("qpass"))
    val es = Dedup.exactSubstr(s, dir)
      .select(col("doc_id"), col("n_toks"), col("n_cut_tokens"),
        col("surviving_ppm"))
    val staged = docs.join(es, "doc_id")
      .withColumn("kept", col("qpass") && col("surviving_ppm") >= 800000L)
    val acct = staged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("tokens_raw"),
        sum(when(col("kept"), col("n_toks") - col("n_cut_tokens"))
          .otherwise(0L)).as("tokens_kept"))
    acct.join(
      waterFill(acct.select(col("source"),
        col("tokens_kept").as("supply")), 4L, 2L)
        .select(col("source"), col("alloc"), col("epochs_milli")),
      "source")
  }

  /** q395: SELECTOR AGREEMENT — DSIR (q333) vs Moore–Lewis (q362) on
    * the shared scoring universe (round-13): two principled data
    * selectors trained toward the SAME target half should mostly
    * agree, and where they don't is exactly the "which selection
    * method do we trust" calibration question; this reports the
    * selection-set Jaccard and Cohen's κ (chance-corrected — with a
    * 10% selection rate, 81% raw agreement is FREE, so κ is the
    * honest number). Both flags come from the gated operators
    * unchanged; the contingency is one integer agg over the joined
    * domain; κ is one fixed IEEE expression of exact integers,
    * micro-rounded on the single output row. */
  def selectorAgreement(s: SparkSession, dir: String): DataFrame = {
    val ds = dsirSelection(s, dir)
      .select(col("doc_id"), col("selected").as("sel_dsir"))
    val ml = mooreLewis(s, dir)
      .select(col("doc_id"), col("selected").as("sel_ml"))
    ds.join(ml, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("sel_dsir"), 1L).otherwise(0L)).as("n_dsir"),
        sum(when(col("sel_ml"), 1L).otherwise(0L)).as("n_ml"),
        sum(when(col("sel_dsir") && col("sel_ml"), 1L).otherwise(0L))
          .as("n_both"))
      .withColumn("n00",
        col("n") - col("n_dsir") - col("n_ml") + col("n_both"))
      .withColumn("pe",
        col("n_dsir").cast("double") * col("n_ml").cast("double") /
          (col("n").cast("double") * col("n").cast("double")) +
          (col("n") - col("n_dsir")).cast("double") *
            (col("n") - col("n_ml")).cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
      .select(col("n"), col("n_dsir"), col("n_ml"), col("n_both"),
        expr("n_both * 1000000 div nullif(n_dsir + n_ml - n_both, 0)")
          .as("jaccard_ppm"),
        round(((col("n_both") + col("n00")).cast("double") /
          col("n").cast("double") - col("pe")) / (lit(1.0) - col("pe"))
          * 1e6).cast("long").as("kappa_micro"))
  }
}
