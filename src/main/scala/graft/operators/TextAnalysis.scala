package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.Tables
import graft.functions.TextFunctions._

/** Text analysis operators (SURVEY §2.E) — language ID, quality
  * scoring, token counting, fingerprinting. All per-row column
  * expressions: embarrassingly parallel, whole-stage codegen, no
  * shuffle at all (narrow transformations over the scan).
  */
object TextAnalysis {

  private val bpeIshPattern = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

  /** q27: token counting — whitespace tokens + a BPE-ish regex count. */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      regexp_count(col("text"), lit(bpeIshPattern)).cast("long").as("n_re_tokens"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks))
        .as("mean_tok_len"))
  }

  /** q28: quality scoring — type/token ratio, stopword ratio, composite. */
  def docQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "a")
    Tables.documents(s, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_unique"),
        tokenHits(toks, stop).cast("long").as("n_stop"))
      .withColumn("ttr", col("n_unique").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality",
        col("ttr") * 0.5 + (lit(1.0) - col("stop_ratio")) * 0.5)
  }

  /** q29: language ID via per-language stopword-hit scores with a
    * deterministic argmax (n-gram-heuristic family). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val sets = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "la", "les", "et"),
      "es" -> Seq("el", "los", "las", "y"))
    val scored = Tables.documents(s, dir).select(
      (col("doc_id") +: col("lang").as("lang") +:
        sets.map { case (l, ws) => tokenHits(toks, ws).cast("long").as(s"s_$l") }): _*)
    scored.withColumn("pred_lang",
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es"), "en")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
        .when(col("s_fr") >= col("s_es"), "fr")
        .otherwise("es"))
      .withColumn("is_correct", (col("pred_lang") === col("lang")).cast("int"))
  }

  /** q32: corpus word frequency — explode + count + deterministic
    * top-k; the shuffle moves (token, partial count) pairs only. */
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** q50: unigram LM score — per-doc mean log10 corpus frequency of
    * its tokens (the standard cheap quality/perplexity proxy for
    * corpus filtering). Two shuffles: token-frequency agg + doc agg;
    * at 100 TB the frequency table is broadcast after aggregation. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    tok.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(round(avg(log10(col("cnt"))), 4).as("lm_score"),
        count(lit(1)).as("n_tokens"))
  }

  /** q77: repetition filter — adjacent-duplicate token rate per doc
    * (the standard "repetition penalty" quality signal: generated or
    * corrupted text repeats; high rep_ratio docs get dropped before
    * training). Pure narrow list arithmetic, no shuffle. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nRep = when(size(toks) >= 2,
      size(filter(sequence(lit(0), size(toks) - 2),
        i => element_at(toks, i + 1) === element_at(toks, i + 2))))
      .otherwise(0)
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      nRep.cast("long").as("n_rep"))
      .withColumn("rep_ratio",
        when(col("n_tokens") >= 2,
          round(col("n_rep").cast("double") / (col("n_tokens") - 1), 4))
          .otherwise(lit(0.0)))
  }

  /** q30: fingerprinting — full-content md5 + min-shingle fingerprint
    * (the rolling-hash-family document signature). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("content_hash"),
      array_min(transform(shingles3(col("text")),
        x => md5(x.cast("binary")))).as("min_shingle_hash"))

  /** q56: bigram LM score — per-doc mean log10 corpus frequency of its
    * word bigrams (the order-sensitive upgrade of q50's unigram proxy;
    * low scores flag shuffled/garbled text that unigram stats miss). */
  def bigramLmScore(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2) // sequence(0,-1) guard
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("bg"))
    // corpus frequency as count-over-window: bigrams are mostly
    // unique, so a groupBy+re-join would shuffle the exploded table
    // twice and hash-join ~|corpus| rows; the window does one shuffle
    bg.withColumn("cnt",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("bg"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(log10(col("cnt"))), 4).as("lm2_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** q72: corpus bigram top-k — the n-gram count table an LM data
    * pipeline exports (q32's unigram counts, order-sensitive). */
  def bigramTopK(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(bigrams2(col("text"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(20)
  }

  /** q454: TEXTRANK KEYWORDS (Mihalcea & Tarau 2004) — the corpus
    * keyword ranking the frequency family (q32/q58/q363) cannot
    * give: TF-IDF scores words by counts; TextRank scores them by
    * CENTRALITY in the co-occurrence graph (a word matters because
    * it keeps company with words that matter — the recursive
    * definition PageRank resolves), which surfaces connective
    * vocabulary that raw frequency under-ranks. Graph: adjacent-token
    * pairs (the window-2 co-occurrence of the paper), normalized
    * (least, greatest), kept at corpus count ≥ `minCount`,
    * symmetrized — the vertex set is the VOCABULARY (bounded), never
    * the corpus. Then the q94/q450 integer PageRank core
    * ([[Dedup.pageRankOf]]): 5 fixed rounds, ppm longs, replayed by
    * unrolled oracle CTEs; top-k by (score desc, word asc) via
    * TakeOrdered — never a vocab-wide window sort. */
  def textrankKeywords(s: SparkSession, dir: String,
      minCount: Long = 3L, iters: Int = 5, k: Int = 20): DataFrame = {
    val edges = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(bigrams2(col("text"))).as("bg"))
      .select(split(col("bg"), " ").as("p"))
      .select(col("p")(0).as("w1"), col("p")(1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy(least(col("w1"), col("w2")).as("wa"),
        greatest(col("w1"), col("w2")).as("wb"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("wa"), col("wb"))
    val adj = edges.select(col("wa").as("v"), col("wb").as("u"))
      .union(edges.select(col("wb").as("v"), col("wa").as("u")))
    Dedup.pageRankOf(adj, iters)
      .orderBy(col("s").desc, col("v"))
      .limit(k)
      .select(col("v").as("word"), col("s").as("score_scaled"))
  }

  /** q143: BPE merge-pair frequencies — the first step of byte-pair-
    * encoding TOKENIZER INDUCTION over the corpus: count every
    * adjacent CHARACTER pair inside words (occurrence-weighted, as
    * the BPE algorithm requires) and rank the merge candidates; the
    * top pair is BPE's first merge rule. Shapes: one narrow explode
    * per word (char pairs via substring over a sequence — codegen,
    * no shuffle), one map-side-combinable count keyed by a ≤
    * |alphabet|² pair space, and the bounded top-k is
    * TakeOrderedAndProject over that constant-size aggregate (the
    * q96 argument) — never a corpus sort. Iterating merges re-runs
    * this with the learned pair collapsed; each round is the same
    * plan. */
  def bpeMergeFreq(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** q57: benchmark decontamination — flag corpus docs sharing 3-gram
    * shingles with a held-out probe set (docs 0-4 stand in for the
    * benchmark test set). The probe shingle set is tiny and broadcast;
    * the corpus side is one explode + semi-shaped join + per-doc agg —
    * the standard n-gram-overlap contamination check run before every
    * training run. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
    val probe = broadcast(
      sh.filter(col("doc_id") < 5).select(col("sh")).distinct())
    sh.filter(col("doc_id") >= 5)
      .join(probe, "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hits"))
  }

  /** q88: BLOOM-FILTER decontamination — the scale path for q57 when
    * the probe set is too big to broadcast exactly: the probe
    * shingles are folded into a 65536-bit bloom filter (3 md5-family
    * hashes — deterministic, so even the false positives replay in
    * the oracle), and a corpus shingle is flagged when all 3 of its
    * bits are set. The filter travels as a bounded set of bit ids joined
    * broadcast-semi three ways; at 100 TB the probe side shrinks
    * from |probe shingles| strings to a constant-size bitmap while
    * the corpus side stays one explode + narrow hashing. Flagged
    * docs are a superset of q57's exact hits (bloom false-positive
    * rate is the documented trade). */
  def bloomDecontaminate(s: SparkSession, dir: String, bits: Int = 65536): DataFrame = {
    def bit(i: Int, c: org.apache.spark.sql.Column) =
      Sampling.hashBucket(concat(lit(s"bl$i|"), c)) % bits
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
    val probeBits = sh.filter(col("doc_id") < 5)
      .select(explode(array((0 until 3).map(i => bit(i, col("sh"))): _*)).as("bit"))
      .distinct()
    val cand = sh.filter(col("doc_id") >= 5)
      .select(col("doc_id"), col("sh"),
        bit(0, col("sh")).as("b0"), bit(1, col("sh")).as("b1"),
        bit(2, col("sh")).as("b2"))
    cand
      .join(broadcast(probeBits.withColumnRenamed("bit", "b0")), Seq("b0"), "left_semi")
      .join(broadcast(probeBits.withColumnRenamed("bit", "b1")), Seq("b1"), "left_semi")
      .join(broadcast(probeBits.withColumnRenamed("bit", "b2")), Seq("b2"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_bloom_hits"))
  }

  /** q90: bloom false-positive audit — q88's bloom flags joined
    * against q57's exact overlap set, reporting how many flagged
    * docs are real hits vs bloom false positives (and the FP rate).
    * The number an operator checks before trusting the
    * constant-size filter at full scale; one row, assembled from
    * the two decontamination passes. */
  def bloomFpAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = decontaminate(s, dir).select(col("doc_id"))
    val bloom = bloomDecontaminate(s, dir).select(col("doc_id"))
    bloom
      .join(exact.withColumn("real", lit(1L)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_flagged"),
        sum(coalesce(col("real"), lit(0L))).as("n_real"))
      .select(col("n_flagged"), col("n_real"),
        (col("n_flagged") - col("n_real")).as("n_false_pos"),
        round((col("n_flagged") - col("n_real")).cast("double") /
          col("n_flagged"), 4).as("fp_rate"))
  }

  /** q89: Zipf-law corpus audit — least-squares slope of
    * log10(freq) vs log10(rank) over the top-N token frequencies.
    * Natural-language corpora sit near slope −1; a corpus whose
    * slope drifts (boilerplate floods, template spam, tokenizer
    * breakage) fails the health check before training. One
    * frequency aggregation, a bounded top-N (the only window runs
    * over N=100 rows post-limit), and closed-form regression from
    * distributive sums. */
  def zipfAudit(s: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topN)
    val xy = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))).cast("long"))
      .select(log10(col("rank").cast("double")).as("x"),
        log10(col("n").cast("double")).as("y"))
    xy.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("k").as("n_ranks"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"),
        round((col("sy") - (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("k"), 4)
          .as("intercept"))
  }

  /** q58: per-doc top-3 TF-IDF terms — the classic keyword extraction
    * / relevance-weighting pass. tf from the doc, df from one corpus
    * agg, score = tf·log10(N/df) with deterministic (score, token)
    * tie-breaking. */
  def tfidfTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(df_, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log10(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"),
        round(col("score"), 4).as("score"))
  }

  /** q169: BM25 FULL-TEXT RETRIEVAL — the search primitive the
    * corpus-management family was missing: rank documents for a
    * bounded query set under Okapi BM25 (k1 = 1.2, b = 0.75). Exact
    * classic shapes: tf per (doc, term) and doc lengths in one
    * tokenize pass; df + avgdl from bounded aggregates; the query
    * term list (|terms| rows) BROADCASTS against the tf table — the
    * inverted-index probe, no corpus shuffle on the query path; the
    * per-(query, doc) score sum and the bounded
    * [[graft.functions.TopKAgg]] top-10 keep the shuffle at k rows
    * per partition×query (q25's argument — a window-rank would
    * shuffle every scored doc). At 100 TB the tf/df tables are the
    * persisted inverted index this computes inline. All-double
    * scoring with pinned order; ranking by (score desc, doc_id) is
    * the engine-identical total order. */
  /** Shared BM25 scoring core (q169 search / q172 hybrid fusion):
    * scores `queries` (query_id, tok) against candidate docs passing
    * `candidate`. The tf/df/dl/avgdl statistics are ALWAYS computed
    * over the full corpus — restricting the candidate set must not
    * change term weights (the production inverted index is
    * corpus-wide; a query-time candidate filter only prunes the
    * probe). Returns (query_id, doc_id, score) with score the raw
    * double BM25 sum — callers choose their own rank/rounding. */
  private[graft] def bm25Scored(s: SparkSession, dir: String,
      queries: DataFrame, candidate: Column): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    tf.filter(candidate).join(broadcast(queries), "tok")
      .join(df_.hint("shuffle_hash"), "tok")
      .join(dl.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("term_score", col("idf")
        * (col("tf") * lit(2.2))
        / (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
  }

  def bm25Search(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import graft.functions.TopK
    import s.implicits._
    // BM25 constants appear as the same decimal LITERALS in the
    // oracle SQL (2.2 = k1+1, 0.25 = 1-b) — a Scala-computed k1+1
    // could differ from the parsed literal 2.2 by one ulp
    val queries = Seq(("qa", "stream"), ("qa", "window"), ("qa", "merge"),
      ("qb", "customer"), ("qb", "key"),
      ("qc", "fast"), ("qc", "scan"), ("qc", "sort"))
      .toDF("query_id", "tok")
    val scored = bm25Scored(s, dir, queries, lit(true))
    scored.groupBy(col("query_id"))
      .agg(TopK.topk(k)(col("doc_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), round(col("t.score"), 4).as("score"))
  }

  /** q166: cross-split N-GRAM CONTAMINATION rate — the metric behind
    * every LLM eval-integrity claim: what fraction of val/test
    * 8-grams also appear in train? q146 audits PAIR-level leakage
    * (near-dup docs straddling the split); this measures the
    * finer-grained phrase-level leak that survives even when no doc
    * pair crosses the near-dup threshold — the thing eval
    * decontamination (q57/q88) is calibrated against. Same 98/1/1
    * doc-keyed split as q146 (salt 'sp', so the two audits describe
    * the same split). Shapes: 8-grams per doc (narrow codegen,
    * per-doc distinct), train gram set as DISTINCT 16-byte digests,
    * one digest-keyed left join (shuffle-hash — never strings, never
    * corpus²), 2 report rows. Docs under 8 tokens have no 8-grams
    * and are absent by construction (can't be phrase-contaminated at
    * this n). */
  def splitContamination(s: SparkSession, dir: String,
      salt: String = "sp"): DataFrame = {
    val bucket = Sampling.hashBucket(
      concat(lit(s"$salt|"), col("doc_id").cast("string"))) % 100
    val gramsExpr = expr(
      """CASE WHEN size(split(text, ' ')) >= 8
        | THEN transform(sequence(1, size(split(text, ' ')) - 7),
        |   i -> array_join(slice(split(text, ' '), i, 8), ' '))
        | ELSE array() END""".stripMargin)
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(bucket < 98, "train").when(bucket === 98, "val")
          .otherwise("test").as("split"),
        explode(array_distinct(gramsExpr)).as("g"))
      .select(col("doc_id"), col("split"),
        md5(col("g").cast("binary")).as("h"))
    val trainSet = grams.filter(col("split") === "train")
      .select(col("h")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("split") =!= "train")
      .join(trainSet.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit_grams"),
        countDistinct(when(col("hit") === 1, col("doc_id")))
          .as("n_docs_hit"))
      .select(col("split"), col("n_docs"), col("n_grams"),
        col("n_hit_grams"),
        expr("(n_hit_grams * 1000000L) div n_grams").as("hit_ppm"),
        col("n_docs_hit"))
  }

  /** q162: χ² INDEPENDENCE audit — is document length independent of
    * language? The corpus-balance check a mixture designer (q46/q85)
    * runs before treating length and language quotas as separable
    * knobs: a significant χ² means cutting by length RESHAPES the
    * language mix (and vice versa), so the two filters cannot be
    * tuned independently. One corpus scan → |langs|×|bands|
    * contingency counts (map-side combinable); the expected-count
    * grid is built from the TINY marginal frames (including
    * zero-observed cells — a left join from the full cross of
    * marginals, never from observed cells only, which would bias χ²
    * low); one bounded agg emits a single report row. Counts are
    * exact longs; expected/χ² are doubles with pinned evaluation
    * order. */
  def langLengthChi2(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("lang"),
      when(col("n_chars") < 200, "short")
        .when(col("n_chars") < 350, "medium")
        .otherwise("long").as("band"))
    val cells = docs.groupBy(col("lang"), col("band"))
      .agg(count(lit(1)).as("n"))
    val rowsM = cells.groupBy(col("lang")).agg(sum(col("n")).as("nr"))
    val colsM = cells.groupBy(col("band")).agg(sum(col("n")).as("nc"))
    val total = cells.agg(sum(col("n")).as("nt"))
    rowsM.crossJoin(colsM).crossJoin(broadcast(total))
      .join(cells, Seq("lang", "band"), "left")
      .withColumn("n0", coalesce(col("n"), lit(0L)))
      .withColumn("e", (col("nr") * col("nc")).cast("double") / col("nt"))
      .withColumn("contrib",
        (col("n0") - col("e")) * (col("n0") - col("e")) / col("e"))
      .agg(max(col("nt")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("band")).as("n_bands"),
        round(sum(col("contrib")), 4).as("chi2"))
      .select(col("n_docs"), col("n_langs"), col("n_bands"),
        ((col("n_langs") - 1) * (col("n_bands") - 1)).as("dof"),
        col("chi2"))
  }

  /** q177: PMI COLLOCATION mining — the corpus-linguistics primitive
    * behind multi-word-expression vocab entries ("new york"-style
    * merges a tokenizer wants as one unit) and phrase-table seeding:
    * over the adjacent-bigram distribution, score each bigram by
    * pointwise LIFT c(ab)·N / (c(a·)·c(·b)) — the exp of PMI, rank-
    * identical to it but computable EXACTLY in integers (PMI's ln
    * would put a float in the ordering; lift keeps the top-k
    * engine-exact). Marginals are first-position / second-position
    * counts from the SAME bigram table (the standard adjacent-pair
    * convention), a min-count floor of 5 kills the noise tail, and
    * lift is integral ppm over decimal(38,0) (c·N·1e6 overflows
    * BIGINT at ~1e12 bigrams). Scale: one exploded-bigram shuffle +
    * two bounded-domain marginal aggs re-joined by token key (skew-
    * safe: marginal tables are vocab-sized); global top-20 via
    * TakeOrderedAndProject, never a full sort. */
  def pmiCollocations(s: SparkSession, dir: String,
      minCount: Long = 5L, k: Int = 20): DataFrame = {
    val bg = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(bigrams2(col("text"))).as("bg"))
      .select(split(col("bg"), " ")(0).as("w1"), split(col("bg"), " ")(1).as("w2"))
    // r18 (guide §1.2): pin the pair counts — they feed FOUR
    // subtrees (the marginals, the total, and the main branch), so
    // un-pinned the corpus-wide bigram explode + agg ran four
    // times. The pinned frame is one row per DISTINCT bigram —
    // vocabulary-sized, far smaller than the exploded corpus.
    val pairs = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val left = pairs.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val right = pairs.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val total = pairs.agg(sum(col("c_ab")).as("n_bigrams"))
    pairs.filter(col("c_ab") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        expr("CAST(CAST(c_ab AS DECIMAL(38,0)) * n_bigrams * 1000000" +
          " div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** q187: suffix-strip NORMALIZATION (porter-lite stemming) vocab
    * audit — the text-normalization stage between raw tokens and
    * vocabulary induction (q143's BPE works on whatever surface
    * forms reach it; stripping inflection first shrinks the
    * long tail): surface tokens lose one trailing `ing|ed|es|s`
    * suffix (longest-first alternation, anchored — identical
    * leftmost-first semantics in Java regex and RE2, so both
    * engines stem identically), and the report quantifies what
    * normalization buys: surface vocab, stem vocab, reduction ppm,
    * and how many stems actually MERGE ≥ 2 surface forms (the
    * conflation count; a stemmer that only renames buys nothing).
    * The synthetic corpus's fixed vocabulary carries no inflection,
    * so surface forms are DERIVED deterministically (position-hash
    * picks none/'s'/'ing'/'ed' per token instance — the q176/q161
    * injected-signal pattern): the gate proves the stemmer
    * CONFLATES, not merely that it renames an uninflected corpus.
    * Shapes: one token explode → two map-side-combinable distinct
    * aggs on vocab-sized domains; one report row. */
  def stemVocabAudit(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "t0")))
      .filter(length(col("t0")) > 0)
      .withColumn("v", graft.operators.Sampling.hashBucket(
        concat(lit("inflect|"), col("doc_id"), lit("|"), col("p"))) % 4)
      .withColumn("t", concat(col("t0"),
        when(col("v") === 1, "s").when(col("v") === 2, "ing")
          .when(col("v") === 3, "ed").otherwise("")))
      .withColumn("stem",
        when(length(col("t")) >= 5,
          regexp_replace(col("t"), "(ing|ed|es|s)$", ""))
          .otherwise(col("t")))
    val perStem = tok.groupBy(col("stem"))
      .agg(countDistinct(col("t")).as("n_forms"))
    perStem.agg(
        sum(col("n_forms")).as("vocab_surface"),
        count(lit(1)).as("vocab_stems"),
        sum(when(col("n_forms") >= 2, 1L).otherwise(0L)).as("n_merged_stems"))
      .select(col("vocab_surface"), col("vocab_stems"),
        expr("(vocab_surface - vocab_stems) * 1000000 div vocab_surface")
          .as("reduction_ppm"),
        col("n_merged_stems"))
  }

  /** q211: language-ID CONFUSION matrix — q29's classifier audited
    * against the corpus's own labels, the way any heuristic filter
    * must be before it gates a 100 TB ingest: per (true lang,
    * predicted lang) cell counts plus the cell's share of its true
    * language (recall on the diagonal, the specific confusion off
    * it — "es mislabeled as en" is an actionable stopword-list gap,
    * a bare accuracy number is not). Two bounded aggs over q29's
    * per-doc scores; ≤ |langs|² rows at any corpus size. */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val scored = langId(s, dir).select(col("lang"), col("pred_lang"))
    val cells = scored.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n"), col("n_true"),
        expr("n * 1000000 div n_true").as("cell_ppm"))
  }

  /** q196: HEAPS-LAW vocabulary-growth audit — the corpus-scaling
    * complement of q89's Zipf rank-frequency check: how fast does
    * the TYPE vocabulary grow as the corpus grows (V ≈ K·Nᵝ)? The
    * curve sizes tokenizer vocabularies and predicts OOV rates
    * before a 10× crawl expansion — sublinear growth flattening
    * early means more data buys breadth, not new vocabulary, while
    * near-linear growth means the corpus is still vocabulary-open
    * (or full of noise/ids — the q187 audit's territory). Docs are
    * binned into `buckets` equal id-range slices (broadcast 1-row
    * min/max — ingestion order, the order a streaming tokenizer
    * would see); a token's first appearance is min(bucket) (bucket
    * is monotone in doc_id, so this IS the first-occurrence bucket);
    * per-bucket new-type counts + token counts then cumulate over
    * the BUCKETS-row table (bounded window — never over tokens).
    * Shapes: one token explode → min-agg on the vocab-sized domain →
    * bounded join; all-integer output. */
  def heapsVocab(s: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = Tables.documents(s, dir)
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val d = Tables.documents(s, dir).crossJoin(broadcast(bounds))
      .withColumn("bucket", least(lit(buckets - 1L),
        expr(s"(doc_id - mn) * $buckets div (mx - mn + 1)")))
    val perBucket = d.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val newTypes = d.select(col("bucket"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    // the window runs over <= `buckets` rows — bounded by the knob,
    // never by the corpus (same class as q97's bin table)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .select(col("bucket"),
        sum(col("n_docs")).over(w).as("n_docs_cum"),
        sum(col("n_tokens")).over(w).as("n_tokens_cum"),
        col("new_types"),
        sum(col("new_types")).over(w).as("vocab_cum"))
  }

  /** q214: RATER-AGREEMENT audit — Cohen's kappa between q29's
    * heuristic language classifier and the corpus's own labels: the
    * chance-corrected agreement a bare accuracy number overstates
    * when the class distribution is skewed (a 90%-English corpus
    * gives a constant-"en" rater 90% accuracy and kappa 0). This is
    * the go/no-go statistic for replacing a labeled pipeline stage
    * with a cheap heuristic. Shape: ONE bounded-domain agg over
    * q29's per-doc predictions (|langs|² cells), marginals and the
    * expected-agreement sum over that bounded cell table — the
    * corpus is scanned once, everything after is |langs|-sized.
    * pe's marginal products are Decimal(38,0) (row·col overflows
    * Long at ~3·10⁹ docs per class — the q193/q199 widening policy);
    * kappa in integer ppm with symmetric truncation-toward-zero on
    * both engines (Spark `div` truncates toward zero and so does
    * DuckDB's `//` — measured, not assumed). Degenerate single-class
    * corpus (pe = 1): the denominator is nullif-guarded on BOTH
    * engines, so kappa is NULL — Spark 4 runs ANSI mode by default
    * and a bare `div 0` would THROW, not null out (spec-pinned). */
  def raterAgreement(s: SparkSession, dir: String): DataFrame = {
    val cells = langId(s, dir)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // |langs|^2 rows; marginals + po derive from it
    val agg = cells.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
        .as("n_agree"))
    val rowM = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_row"))
    val colM = cells.groupBy(col("pred_lang")).agg(sum(col("n")).as("n_col"))
    val peSum = rowM.join(colM, col("lang") === col("pred_lang"))
      .agg(sum(col("n_row").cast("decimal(38,0)") * col("n_col"))
        .cast("decimal(38,0)").as("pe_num"))
    agg.crossJoin(broadcast(peSum))
      .select(col("n_docs"), col("n_agree"),
        expr("n_agree * 1000000 div n_docs").as("po_ppm"),
        expr("cast(pe_num * 1000000 div (cast(n_docs as decimal(38,0)) * n_docs) as bigint)")
          .as("pe_ppm"))
      .select(col("n_docs"), col("n_agree"), col("po_ppm"), col("pe_ppm"),
        expr("(po_ppm - pe_ppm) * 1000000 div nullif(1000000 - pe_ppm, 0)")
          .as("kappa_ppm"))
  }

  /** q221: READABILITY scoring — Flesch-reading-ease-style composite
    * from three counts a regex scan gets exactly (words, sentence
    * terminators, vowel-group "syllables"): the classic quality
    * gate between q28's lexical ratios and q50's LM score. All
    * fixed-point integer arithmetic (milli units) so Spark and the
    * oracle agree bit-for-bit — the float formula's 206.835 constant
    * becomes 206835 milli. Per-row expressions (no shuffle) then ONE
    * bounded rollup per (lang, source): mean words-per-sentence,
    * syllables-per-word and score, plus the low-readability doc
    * count the curation pipeline actually filters on. Sums first,
    * divide once — integer mean of sums, not mean of per-doc
    * truncations, so the rollup is exact at any corpus size. */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir).select(
      col("lang"), col("source"),
      size(tokens(col("text"))).cast("long").as("words"),
      greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
        .as("sents"),
      regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
        .as("sylls"))
      .withColumn("score_milli",
        lit(206835L) - expr("1015 * (words * 1000 div sents) div 1000") -
          expr("84600 * (sylls * 1000 div greatest(words, 1)) div 1000"))
    perDoc.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("n_words"),
        sum(col("sents")).as("n_sents"),
        sum(col("sylls")).as("n_sylls"),
        sum(when(col("score_milli") < 30000L, 1L).otherwise(0L))
          .as("n_hard_docs"))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("n_words * 1000 div n_sents").as("wps_milli"),
        expr("n_sylls * 1000 div n_words").as("spw_milli"),
        expr("n_hard_docs * 1000000 div n_docs").as("hard_ppm"))
  }

  /** q222: TOKENIZER-FERTILITY stats — tokens-per-word and
    * chars-per-token per language under the BPE-ish regex tokenizer
    * (q27's pattern): the pre-training budget question "how many
    * model tokens does a TB of each language cost?" — high fertility
    * means a language is systematically over-charged context window,
    * the signal that drives per-language tokenizer vocab allocation.
    * One narrow scan (regexp_count per row), one bounded agg; ratios
    * as integer milli on summed counts (exact, order-free). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("lang"),
      size(tokens(col("text"))).cast("long").as("words"),
      regexp_count(col("text"), lit(bpeIshPattern)).cast("long").as("re_toks"),
      length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("n_words"),
        sum(col("re_toks")).as("n_tokens"), sum(col("chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        expr("n_tokens * 1000 div n_words").as("fertility_milli"),
        expr("n_chars * 1000 div n_tokens").as("chars_per_tok_milli"))

  /** q232: CODE-SWITCH / mixed-language detector — the doc-level
    * audit between q29 (one label per doc) and q211 (corpus
    * confusion): a document whose SECOND-language evidence is close
    * to its first is mixed-language text — the rows that break
    * mono-lingual tokenizers, poison per-language mixtures (q46/
    * q165 budgets count them once), and show up in q211 as
    * unexplained off-diagonal mass. Per doc: q29's four stopword
    * scores unpivoted, top-2 by (score desc, lang asc) via a
    * BOUNDED per-doc window (exactly 4 rows per partition key);
    * mixed ⟺ second ≥ 60% of top AND second ≥ 2 hits — all-integer
    * (s2·10 ≥ s1·6), no float ratio. Output per doc with the
    * per-language rollup left to q211's machinery. */
  def codeSwitch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = langId(s, dir)
    val unpiv = scored.select(col("doc_id"), col("lang"),
      explode(array(
        struct(lit("en").as("l"), col("s_en").as("sc")),
        struct(lit("de").as("l"), col("s_de").as("sc")),
        struct(lit("fr").as("l"), col("s_fr").as("sc")),
        struct(lit("es").as("l"), col("s_es").as("sc")))).as("e"))
      .select(col("doc_id"), col("lang"), col("e.l"), col("e.sc"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("sc").desc, col("l"))
    unpiv.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(when(col("rn") === 1, col("l"))).as("top_lang"),
        max(when(col("rn") === 1, col("sc"))).as("s_top"),
        min(when(col("rn") === 2, col("l"))).as("second_lang"),
        max(when(col("rn") === 2, col("sc"))).as("s_second"))
      .withColumn("mixed",
        col("s_second") * 10 >= col("s_top") * 6 && col("s_second") >= 2)
  }

  /** q227: CHARACTER-ENTROPY profile per source — the
    * storage-planning number (a source's char entropy bounds its
    * compressed footprint: est. bytes/char ≈ H/8) and a cheap
    * garbage detector in the same pass — binary-junk-as-text scores
    * near 8 bits/char, natural language near 4, template spam
    * collapses below it, all long before a tokenizer runs. q91's
    * exact-count entropy formulation (H = log2(n) − Σc·log2(c)/n —
    * the float log touches only the BOUNDED per-(source, char)
    * count table, never per-row) over a chars explode: linear,
    * map-side combinable, |sources|·|alphabet| intermediate. Empty
    * texts are filtered (Spark's sequence(1, 0) is [1, 0], not
    * [] — the q52 guard). */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("source"), explode(expr(
        "transform(sequence(1, length(text)), i -> substr(text, i, 1))"))
        .as("ch"))
      .groupBy(col("source"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * log2(col("c"))).as("slc"))
      .select(col("source"), col("n_chars"), col("n_distinct_chars"),
        round(log2(col("n_chars")) - col("slc") / col("n_chars"), 4)
          .as("entropy_bits"),
        round((log2(col("n_chars")) - col("slc") / col("n_chars")) / 8, 4)
          .as("est_compression_ratio"))

  /** q220: N-GRAM NOVELTY — the memorization-risk audit the
    * decontamination family (q57/q88/q166) does not cover: those ask
    * "does the corpus CONTAIN these specific eval texts?"; this asks,
    * for every held-out document, WHAT FRACTION of its 5-gram
    * phrases already exists anywhere in the training half — the
    * per-doc novelty score that separates genuinely new text from
    * recombinated boilerplate before it is paid for. Split = the
    * q54 salted-hash bucket on doc_id (deterministic, engine-equal);
    * 5-grams are hashed (16-byte md5 — never raw phrases at 100 TB)
    * and DISTINCT per doc, the train side collapses to a distinct
    * hash set; one equi-join on the hash (bucketed, linear — the
    * q57 shape) and a per-doc agg. Docs under 5 tokens have no
    * 5-grams and are excluded (novelty undefined, not 0 — reporting
    * them as fully novel would reward empty docs). Two corpus scans
    * (train build + test probe), matching the decontamination
    * family's honest cost. */
  def ngramNovelty(s: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") >= n)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(transform(sequence(lit(0), col("nt") - n),
          i => md5(concat_ws(" ",
            (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*)
            .cast("binary"))))).as("g"))
      .withColumn("is_train",
        Sampling.hashBucket(concat(lit("novel|"), col("doc_id").cast("string")))
          < 2147483648L)
    val train = grams.filter(col("is_train")).select(col("g")).distinct()
    grams.filter(!col("is_train"))
      .join(train.withColumn("seen", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("lang"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** q248: VOCAB-COVERAGE curve — how many vocabulary entries cover
    * 50 / 90 / 99% of token MASS: the tokenizer-budget question
    * (every vocab slot costs embedding rows; the long tail costs
    * slots and buys almost no coverage). The naive shape sorts the
    * whole vocabulary by frequency and walks the cumulative sum —
    * a corpus-vocab-sized global sort. Here the sort collapses onto
    * the FREQUENCY-CLASS table instead: group tokens by their count
    * f → (f, n_toks, mass = f·n_toks); distinct frequencies number
    * O(√corpus_tokens) (Σf over distinct f ≤ total), so the desc
    * cumulative window runs over a provably tiny table. Tokens
    * within a class are interchangeable, so the crossing class
    * contributes exactly ⌈remaining/f⌉ entries — the answer is
    * EXACT, identical to the full-sort walk, with ceil targets
    * (total·p + 99) div 100 all-integer. 3 report rows. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val fcls = counts.groupBy(col("n").as("f"))
      .agg(count(lit(1)).as("n_toks"))
      .withColumn("mass", col("f") * col("n_toks"))
    // bounded single-partition window: O(√corpus) frequency classes
    val wAbove = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = fcls
      .withColumn("mass_above", coalesce(sum(col("mass")).over(wAbove), lit(0L)))
      .withColumn("toks_above", coalesce(sum(col("n_toks")).over(wAbove), lit(0L)))
    val tot = fcls.agg(sum(col("mass")).as("total_mass"),
      sum(col("n_toks")).as("vocab_total"))
    Seq(50L, 90L, 99L).toDF("pct")
      .crossJoin(broadcast(tot))
      .withColumn("target", expr("(total_mass * pct + 99) div 100"))
      // bounded nested-loop: 3 targets × the tiny class table
      .join(cum, col("mass_above") < col("target") &&
        col("target") <= col("mass_above") + col("mass"))
      .withColumn("vocab_needed",
        col("toks_above") + expr("(target - mass_above + f - 1) div f"))
      .select(col("pct"), col("target").as("target_mass"), col("vocab_needed"),
        col("vocab_total"),
        expr("vocab_needed * 1000000 div vocab_total").as("vocab_ppm"))
  }

  /** q275: ITERATED BPE TRAINING — the tokenizer-induction LOOP
    * (q143 is the single counting step; this runs the actual merge
    * loop, gated): per round, count adjacent symbol pairs, select
    * the argmax merge rule (n desc, then lexicographic (l, r) —
    * deterministic), collapse it greedily left-to-right in every
    * word, recount on the collapsed symbols. Emits the learned
    * rules: (merge_round, left_sym, right_sym, n-at-selection).
    *
    * Scale shape: the loop state is the (symbols, freq)
    * WORD-FREQUENCY table — vocabulary-sized (Heaps: ~corpus^0.5),
    * built by the one corpus-scale pass up front; every round after
    * that touches vocab rows only. Pair counting explodes ≤ len−1
    * structs per vocab entry into a map-side-combinable agg over
    * the bounded pair space; the winning rule is a 1-row broadcast
    * cross-joined into the collapse — an `aggregate` higher-order
    * fold, codegen, no UDF; `localCheckpoint` per round cuts
    * lineage so round i+1 never re-derives rounds 1..i (the q207
    * iterative discipline). The look-back fold is provably the
    * left-to-right greedy merge: a merged symbol l||r can never
    * equal l (symbols non-empty), so a fresh merge never re-fires
    * on its own output; the oracle replays the identical fold via
    * DuckDB list_reduce. */
  def bpeTrain(s: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeLearn(s, dir, rounds).zipWithIndex.map { case (best, i) =>
      best.select(lit((i + 1).toLong).as("merge_round"),
        col("l").as("left_sym"), col("r").as("right_sym"), col("n"))
    }.reduce(_ unionAll _)

  /** One greedy left-to-right collapse of the broadcast 1-row (l, r)
    * rule into `df`'s `syms` arrays (other columns pass through) —
    * the codegen `aggregate` fold shared by train and apply. */
  private def bpeCollapse(df: DataFrame, rule: DataFrame): DataFrame = {
    val rest = df.columns.filterNot(_ == "syms").map(col).toSeq
    df.crossJoin(broadcast(rule.select(col("l"), col("r"))))
      .select(expr(
        """aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]),
          |(acc, x) -> if(element_at(acc, -1) = l AND x = r,
          |  concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))),
          |  concat(acc, array(x))))""".stripMargin).as("syms") +: rest: _*)
  }

  /** The train loop's per-round argmax rules (1-row frames, each
    * localCheckpointed) — shared by [[bpeTrain]] and [[bpeApply]]. */
  private def bpeLearn(s: SparkSession, dir: String,
      rounds: Int): Seq[DataFrame] =
    bpeLearnOf(Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq")), rounds)

  /** The same loop over an arbitrary (w, freq) word table — q275/
    * q282 train on the full corpus (above); q474's apples-to-apples
    * fertility comparison trains on the even split. */
  private def bpeLearnOf(wordsIn: DataFrame, rounds: Int)
      : Seq[DataFrame] = {
    var words = wordsIn
      .select(expr("split(w, '')").as("syms"), col("freq"))
      .localCheckpoint()
    (1 to rounds).map { r =>
      val pairs = words
        .select(col("freq"), explode(expr(
          // guard: sequence(1, 0) DESCENDS in Spark, so a 1-symbol
          // word would index past its end — emit no pairs instead
          "CASE WHEN size(syms) < 2 THEN array() " +
            "ELSE transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)) END"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
      val best = pairs.orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .localCheckpoint() // the 1-row merge decision, materialized once
      if (r < rounds) words = bpeCollapse(words, best).localCheckpoint()
      best
    }
  }

  /** q282: BPE TOKENIZER APPLY — the encode half that closes q275's
    * loop: the 3 globally-learned merge rules applied IN LEARNED
    * ORDER (one left-to-right pass each — exactly the pass the
    * trainer's own statistics were counted under) to each
    * language's word vocabulary, pricing the tokenizer per
    * language: token counts before/after, saved ppm — q216's
    * fertility question asked of the REAL learned tokenizer
    * instead of a regex proxy. Scale: rules come from the
    * vocab-sized train loop (one corpus pass up front); apply
    * touches only the (lang, word, freq) vocab (corpus pass #2),
    * each rule a broadcast 1-row cross join + codegen fold; the
    * report is a |langs|-row agg of exact integers. */
  def bpeApply(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val rules = bpeLearn(s, dir, rounds)
    var vocab = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
      .select(col("lang"), expr("split(w, '')").as("syms"), col("freq"),
        length(col("w")).cast("long").as("n_chars"))
      .localCheckpoint()
    for (rule <- rules) vocab = bpeCollapse(vocab, rule).localCheckpoint()
    vocab.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_chars")).as("n_tokens_char"),
        sum(col("freq") * size(col("syms"))).as("n_tokens_bpe"))
      .withColumn("saved_ppm", expr(
        "(n_tokens_char - n_tokens_bpe) * 1000000 div n_tokens_char"))
  }

  /** q335: GOPHER-STYLE QUALITY RULE BATTERY (round-11) — the
    * per-rule filter report of the Rae et al. (Gopher) / C4 cleaning
    * recipes, adapted to this corpus's shape: rather than one opaque
    * composite (q28), each rule emits its own flag so a curation run
    * can see WHICH rule fires and tune thresholds per source:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10] chars (integer cross-multiply
    *    — no float division);
    *  - stopword fraction ≥ 5% (the 8-word English function-word
    *    list — the "natural language, not keyword spam" test);
    *  - alpha-word fraction ≥ 80% (words containing a letter);
    *  - adjacent-repetition ratio < 20% (q77's signal as a gate).
    * pass_all = conjunction. All rules are integer arithmetic over
    * one token explode-free pass (size/filter/transform on the token
    * array — narrow, codegen, zero shuffle). */
  def gopherRules(s: SparkSession, dir: String, minWords: Int = 20,
      maxWords: Int = 100000): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_words"),
      length(regexp_replace(col("text"), " ", "")).cast("long")
        .as("n_word_chars"),
      size(filter(toks, t => t.isin("the", "of", "and", "to",
        "a", "in", "is", "for"))).cast("long").as("n_stop"),
      size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
        .as("n_alpha"),
      when(size(toks) >= 2,
        size(filter(sequence(lit(0), size(toks) - 2),
          i => element_at(toks, i + 1) === element_at(toks, i + 2))))
        .otherwise(0).cast("long").as("n_rep"))
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        col("n_alpha"), col("n_rep"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("ok_count"),
        (col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10).as("ok_word_len"),
        (col("n_stop") * 100 >= col("n_words") * 5).as("ok_stopwords"),
        (col("n_alpha") * 100 >= col("n_words") * 80).as("ok_alpha"),
        (col("n_rep") * 100 < (col("n_words") - 1) * 20 ||
          col("n_words") < 2).as("ok_repetition"))
      .withColumn("pass_all",
        col("ok_count") && col("ok_word_len") && col("ok_stopwords") &&
          col("ok_alpha") && col("ok_repetition"))
  }

  /** q344: INTRA-DOC DUPLICATE-NGRAM fractions (round-11) — the
    * remaining Gopher repetition rules (Rae et al. 2021 §A1.1):
    * q77 catches ADJACENT token repeats and q93 catches CROSS-doc
    * duplicated spans; this measures how much of a single document
    * is its own n-grams repeated ANYWHERE in the document (looping
    * generations, boilerplate stutter, keyword stuffing) — the
    * "duplicate 2-gram / 3-gram fraction" thresholds of the Gopher
    * battery. dup_frac = 1 − distinct/total over the doc's own
    * n-gram multiset, integer ppm. Entirely narrow array
    * arithmetic (transform/slice/array_distinct on the token split)
    * — codegen, zero shuffle, the cheapest rule family at 100 TB. */
  def intradocRepetition(s: SparkSession, dir: String): DataFrame = {
    def gramStats(n: Int): Seq[org.apache.spark.sql.Column] = {
      val grams = s"transform(sequence(0, size(split(text, ' ')) - $n)," +
        s" i -> array_join(slice(split(text, ' '), i + 1, $n), ' '))"
      val total = s"cast(if(size(split(text, ' ')) >= $n," +
        s" size(split(text, ' ')) - ${n - 1}, 0) as bigint)"
      val dist = s"cast(if(size(split(text, ' ')) >= $n," +
        s" size(array_distinct($grams)), 0) as bigint)"
      Seq(expr(total).as(s"n${n}_grams"), expr(dist).as(s"n${n}_distinct"),
        expr(s"coalesce(($total - $dist) * 1000000 div nullif($total, 0), 0)")
          .as(s"dup${n}_ppm"))
    }
    Tables.documents(s, dir)
      .select(col("doc_id") +: (gramStats(2) ++ gramStats(3)): _*)
  }

  /** q346: CONDITIONAL bigram LM score (round-11) — the properly
    * normalized upgrade of q56's joint-frequency proxy: per doc, the
    * mean log10 of p(w₂|w₁) = cnt(w₁w₂)/cnt(w₁·), where cnt(w₁·) is
    * the corpus count of bigrams STARTING with w₁ (so each factor is
    * a true conditional probability and the score is the doc's
    * negative cross-entropy under the corpus bigram LM — the actual
    * CCNet/KenLM quantity, up to smoothing). Two count-over-window
    * passes on the SAME exploded frame (by full bigram, by first
    * token — each one shuffle of the 8-byte-ish keys), one per-doc
    * agg. Scores ≤ 0; higher = more probable text. */
  def condBigramLm(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("bg"))
      .withColumn("w1", split(col("bg"), " ")(0))
    import org.apache.spark.sql.expressions.Window
    bg.withColumn("cbg", count(lit(1)).over(Window.partitionBy(col("bg"))))
      .withColumn("cw1", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(log10(col("cbg")) - log10(col("cw1"))), 4)
          .as("cond_lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** q351: SKIP-GRAM TRAINING PAIRS with frequency subsampling
    * (round-11) — the word2vec data generator (Mikolov et al. 2013)
    * as a corpus operator: (center, context) pairs within a ±window
    * token distance, after the paper's frequent-word SUBSAMPLING
    * P(keep w) = min(1, √(t/f(w))) — the step that stops "the"/"of"
    * from dominating the pair distribution. Determinism treatment:
    * the keep decision is a PURE function of (doc, position) — an
    * md5 bucket compared against the word's keep threshold in
    * integer ppm (√ is one fixed IEEE expression per DISTINCT word,
    * micro-rounded before any comparison) — so both engines, and
    * any two cluster runs, sample the identical positions (q54's
    * reproducible-sampling argument, applied to data augmentation).
    * Shapes: one posexplode, one bounded word-frequency agg
    * (broadcast back), keep-filter, then pairs via a ±window OFFSET
    * EXPLODE + (doc, position) equi-join — linear in kept tokens ×
    * 2·window, never a per-doc quadratic self-join. Output: the
    * top-k pair-count table (bounded TakeOrdered). */
  def skipgramPairs(s: SparkSession, dir: String, window: Int = 2,
      k: Int = 20): DataFrame = {
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "w")))
    val freq = pos.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_total"))
    val thr = freq.crossJoin(broadcast(tot))
      .withColumn("keep_ppm", least(lit(1000000L),
        round(sqrt(lit(0.001) * col("n_total") / col("cnt")) * 1e6)
          .cast("long")))
      .select(col("w"), col("keep_ppm"))
    val kept = pos.join(thr, "w")
      .filter(pmod(graft.operators.Sampling.hashBucket(
        concat(lit("sg|"), col("doc_id").cast("string"), lit("|"),
          col("p").cast("string"))), lit(1000000L)) < col("keep_ppm"))
      .select(col("doc_id"), col("p"), col("w"))
    val offs = array((-window to window).filter(_ != 0).map(o => lit(o)): _*)
    kept.select(col("doc_id"), col("p"), col("w").as("center"),
        explode(offs).as("o"))
      .withColumn("p2", col("p") + col("o"))
      .join(kept.select(col("doc_id"), col("p").as("p2"),
        col("w").as("context")), Seq("doc_id", "p2"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(k)
  }

  /** q352: NEGATIVE-SAMPLING TABLE (round-11) — q351's companion
    * word2vec artifact (Mikolov et al. 2013): negatives are drawn
    * from the unigram distribution raised to the 3/4 power — the
    * published exponent that lifts rare words without letting "the"
    * dominate. Determinism treatment: cnt^0.75 is computed as
    * √(cnt·√cnt) — two correctly-rounded IEEE sqrts and one product,
    * NEVER libm pow (whose last-ulp differs across engines) — then
    * micro-rounded to an integer weight BEFORE normalization, so the
    * ppm probabilities are exact integer division on both engines.
    * Output: the top-k rows of the sampling table (word, count,
    * fixed-point weight, probability ppm, cumulative ppm — the
    * cumulative column IS the inverse-CDF lookup a sampler binary-
    * searches). Shapes: one explode + hash agg, scalar total
    * broadcast back, bounded TakeOrdered cut; the in-frame running
    * total windows over k rows, never the vocabulary. */
  def negativeSampling(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val wt = freq.withColumn("w_fixed",
      round(sqrt(col("cnt") * sqrt(col("cnt"))) * 1e6).cast("long"))
    val tot = wt.agg(sum(col("w_fixed")).as("tot"))
    wt.crossJoin(broadcast(tot))
      .withColumn("prob_ppm", expr("w_fixed * 1000000 div tot"))
      .select(col("w"), col("cnt"), col("w_fixed"), col("prob_ppm"))
      .orderBy(col("cnt").desc, col("w")).limit(k)
      .withColumn("cum_ppm", sum(col("prob_ppm")).over(
        Window.orderBy(col("cnt").desc, col("w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** q336: 13-GRAM BENCHMARK CONTAMINATION (round-11) — the
    * GPT-3/PaLM decontamination standard grain: a training doc is
    * contaminated if it shares ANY 13-token n-gram with the
    * benchmark split (here: even doc_ids stand in for the benchmark,
    * odd for training — q57/q88 flag whole-doc and bloom overlap;
    * this is the industry-standard SUB-document grain that catches
    * quoted benchmark questions inside otherwise-novel documents).
    * Shapes: overlapping 13-grams hashed to md5 (never the raw
    * string past the explode), benchmark side distinct, ONE
    * hash-keyed semi-join-shaped left join + per-doc agg — never
    * doc × doc. The join strategy is deliberately left to AQE: the
    * distinct benchmark gram set is O(benchmark tokens) — corpus-
    * scale, not knob-bounded — so a forced broadcast would become a
    * driver OOM as the benchmark grows; AQE broadcasts when the
    * built side measures small and falls back to shuffle otherwise,
    * and the q88 bloom pre-filter seam is the at-scale shape when
    * even the shuffle is too hot. */
  def ngramContamination(s: SparkSession, dir: String,
      n: Int = 13): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), " +
          s"i -> md5(cast(array_join(slice(t, i + 1, $n), ' ') as binary)))"))
        .as("g"))
    val bench = grams.filter(col("doc_id") % 2 === 0)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") % 2 =!= 0)
      .join(bench, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits") > 0L).as("contaminated"),
        expr("n_hits * 1000000 div n_grams").as("contaminated_ppm"))
  }

  /** q361: STUPID-BACKOFF bigram LM scoring on a TRAIN/SCORE split
    * (round-12) — the web-scale LM recipe of Brants et al. (EMNLP
    * 2007, "Large Language Models in Machine Translation"): when the
    * bigram is unseen in training, back off to α·unigram instead of
    * computing a proper discount (α = 0.4, the paper's constant) —
    * no normalization pass, which is exactly why it scales to
    * trillion-token counts. q56/q346 score docs against the corpus'
    * OWN bigrams, so no bigram is ever unseen there; the split here
    * (even doc_ids train the LM, odd docs get scored) makes the
    * backoff path real — n_backoff counts how often it fires, the
    * coverage number a data lead reads next to q248's vocab
    * coverage. Per-bigram score: seen ⇒ log10(cnt(w₁w₂)/cnt(w₁·));
    * unseen w₂ known ⇒ log10(0.4·cnt(w₂)/N); OOV ⇒ log10(0.4/N).
    * Shapes: two bounded count aggs over the train half (bigram,
    * unigram), two hash LEFT joins from the scored half's exploded
    * bigrams (strategy AQE's — vocab is corpus-scale), one per-doc
    * agg. House float discipline: each bigram's log-prob is ONE
    * fixed IEEE expression of exact integers micro-rounded PER ROW,
    * then the per-doc mean is an integer sum div count — no
    * cross-row float summation, so partial-aggregation order can
    * never flip a digit (the q374 lp_micro treatment). */
  def backoffLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val bgT = train.filter(size(tokens(col("text"))) >= 2)
      .select(explode(bigrams2(col("text"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .withColumn("w1", split(col("bg"), " ")(0))
    // conditional denominator: count of TRAIN bigrams starting w1
    val cw1T = bgT.groupBy(col("w1")).agg(sum(col("cb")).as("cw1"))
    val uniT = train.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nT = uniT.agg(sum(col("cu")).as("n_train"))
    docs.filter(col("doc_id") % 2 =!= 0)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("bg"))
      .withColumn("w1", split(col("bg"), " ")(0))
      .withColumn("w2", split(col("bg"), " ")(1))
      .join(bgT.select(col("bg"), col("cb")), Seq("bg"), "left")
      .join(cw1T, Seq("w1"), "left")
      .join(uniT.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(nT))
      .withColumn("lp_micro", round((
        when(col("cb").isNotNull,
          log10(col("cb")) - log10(col("cw1")))
          .when(col("cu").isNotNull,
            log10(lit(0.4)) + log10(col("cu")) - log10(col("n_train")))
          .otherwise(log10(lit(0.4)) - log10(col("n_train")))) * 1e6)
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("cb").isNull && col("cu").isNull, 1L).otherwise(0L))
          .as("n_oov"),
        expr("sum(lp_micro) div count(1)").as("backoff_micro"))
  }

  /** q363: DISTINCTIVE TERMS per source via weighted log-odds with
    * an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    * "Fightin' Words") — the per-source keyword surface q58's TF-IDF
    * ranks per DOCUMENT: for source s and word w, δ = ln((y+a)/
    * (n_s+a₀−y−a)) − ln((y'+a)/(n_r+a₀−y'−a)) with the corpus
    * unigram distribution as prior (a_w = corpus count · a₀/N,
    * a₀ = 1000 pseudo-tokens), z = δ/√(1/(y+a) + 1/(y'+a)) — the
    * variance-standardized form that stops raw-frequency words from
    * drowning the genuinely OVER-represented ones (plain
    * count-ratio ranking surfaces "the"; log-odds-z surfaces the
    * source's vocabulary fingerprint). Determinism: counts exact
    * integers, a_w micro-fixed-point, δ and z each ONE fixed IEEE
    * expression per (source, word) row micro-rounded before the
    * rank — no cross-row float ever. Shapes: one unigram agg, one
    * (source × word) agg, corpus totals broadcast; the top-5 cut
    * rides [[Relational.twoPhaseRank]] on (−z, word) — the bounded-
    * histogram rank, so even a 100 TB-corpus vocabulary is never
    * sorted per source. */
  def logOddsTerms(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val bySrc = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("y"))
    // r17 optimization (guide §2.3/§2.4): corpus counts, per-source
    // totals and the corpus total are all sums of the (source, word)
    // counts — derive them from bySrc instead of re-aggregating the
    // corpus-scale token stream 3 more times. ReuseExchange shares
    // the one (source, w) exchange; counts identical by associativity.
    val corpus = bySrc.groupBy(col("w")).agg(sum(col("y")).as("yc"))
    val totals = bySrc.groupBy(col("source")).agg(sum(col("y")).as("ns"))
    val nAll = bySrc.agg(sum(col("y")).as("n_corpus"))
    val a0 = 1000L
    val scored = bySrc
      .join(corpus, "w")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(nAll))
      // prior mass for w, micro fixed-point: a_w = yc*a0/N, floored
      // at 1 micro so a source-exclusive word (yr = 0) never yields
      // ln(0) once n_corpus exceeds yc·a0·1e6 — the truncation-to-
      // zero regime where Spark would emit -Infinity while DuckDB
      // errors on the cast, diverging the gate at corpus scale.
      .withColumn("a_micro",
        expr(s"greatest(yc * $a0 * 1000000 div n_corpus, 1)"))
      .withColumn("yr", col("yc") - col("y")) // w count in the REST
      .withColumn("nr", col("n_corpus") - col("ns"))
      .withColumn("num_s", expr("y * 1000000 + a_micro"))
      .withColumn("den_s",
        expr(s"ns * 1000000 + $a0 * 1000000 - y * 1000000 - a_micro"))
      .withColumn("num_r", expr("yr * 1000000 + a_micro"))
      .withColumn("den_r",
        expr(s"nr * 1000000 + $a0 * 1000000 - yr * 1000000 - a_micro"))
      .withColumn("delta",
        log(col("num_s").cast("double") / col("den_s").cast("double")) -
        log(col("num_r").cast("double") / col("den_r").cast("double")))
      .withColumn("z_micro", round(col("delta") /
          sqrt(lit(1e6) / col("num_s").cast("double") +
               lit(1e6) / col("num_r").cast("double")) * 1e6)
        .cast("long"))
    Relational.twoPhaseRank(scored, col("source"),
        negate(col("z_micro")), Seq(negate(col("z_micro")), col("w")),
        "rank", "n_vocab")
      .filter(col("rank") <= k)
      .select(col("source"), col("w").as("term"), col("y").as("cnt"),
        col("z_micro"), col("rank"))
  }

  /** q373: HILL TAIL-INDEX estimator over per-source document
    * lengths (round-12) — q89's Zipf audit fits the WORD-frequency
    * power law; this fits the DOC-LENGTH tail, the number that
    * decides shuffle-partition sizing and straggler risk at 100 TB
    * (α ≤ 2 ⇒ infinite variance ⇒ salting/AQE-skew mandatory, q81's
    * territory — measured, not guessed). Hill (Annals of Statistics
    * 1975): over the top k+1 order statistics, H = (1/k)·Σ ln(x₍ᵢ₎/
    * x₍ₖ₊₁₎), α̂ = 1/H. Order statistics via [[Relational
    * .twoPhaseRank]] on (−n_toks, doc_id) — the bounded-histogram
    * rank, never a per-source corpus sort. Float discipline: each
    * ln is one fixed IEEE expression of two exact integers,
    * micro-rounded PER ROW, then integer-summed — the k-row
    * aggregation is order-free by construction. */
  def hillTail(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val ranked = Relational.twoPhaseRank(lens, col("source"),
      negate(col("n_toks")), Seq(negate(col("n_toks")), col("doc_id")),
      "rk", "n_src")
      .filter(col("rk") <= k + 1)
    val xk1 = ranked.filter(col("rk") === k + 1)
      .select(col("source"), col("n_toks").as("x_k1"))
    ranked.filter(col("rk") <= k)
      .join(broadcast(xk1), "source")
      .withColumn("ln_micro",
        round((log(col("n_toks")) - log(col("x_k1"))) * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("k"), max(col("x_k1")).as("x_k1"),
        sum(col("ln_micro")).as("sum_ln_micro"))
      .withColumn("hill_micro", expr("sum_ln_micro div k"))
      .withColumn("alpha_milli",
        expr("if(hill_micro > 0, 1000000000 div hill_micro, null)"))
      .select(col("source"), col("k"), col("x_k1"), col("hill_micro"),
        col("alpha_milli"))
  }

  /** q374: INTERPOLATED KNESER–NEY bigram scoring on the q361
    * train/score split (round-12) — the LM-quality ladder's top rung
    * (q50 unigram → q56 joint → q346 conditional → q361 backoff →
    * this): absolute discount D = 0.75 frees mass from every seen
    * bigram, re-spent through the CONTINUATION distribution — "how
    * many contexts has w₂ completed" rather than "how often has w₂
    * appeared" — the fix for the Francisco-follows-San pathology
    * that makes KN the production n-gram smoother (Kneser & Ney
    * 1995; Chen & Goodman 1999). p(w₂|w₁) = (c(w₁w₂)−D)/c(w₁·)
    * + D·N₁₊(w₁·)/c(w₁·) · p_cont(w₂); unseen w₁ falls back to
    * p_cont alone; p_cont is +1-smoothed over the train bigram-type
    * total so OOV w₂ keeps a nonzero floor. Everything is integer
    * counts; p and its log10 are ONE fixed IEEE expression per
    * scored bigram row, micro-rounded per row, per-doc INTEGER
    * means — order-free by construction. Shapes: four bounded train
    * aggs (pair/context/continuation/vocab), three hash left joins
    * off the scored explode, one per-doc agg. */
  def knLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trainBg = docs.filter(col("doc_id") % 2 === 0)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(bigrams2(col("text"))).as("bg"))
      .withColumn("w1", split(col("bg"), " ")(0))
      .withColumn("w2", split(col("bg"), " ")(1))
    // r17 optimization (guide §2.3/§2.4, the q387 treatment): all
    // four training statistics derive from the per-TYPE bigram
    // counts, so aggregate the instance stream to (w1, w2, cb) ONCE
    // — the branches share that one exchange via ReuseExchange and
    // the old ~4 corpus passes collapse to 1. Identical counts:
    // cw1 = Σ cb per w1, n1w1 = type count per w1 ≡ countDistinct
    // over instances, cont2 = type count per w2, cont_all = total
    // type count ≡ countDistinct(bg), n_vocab = distinct w2.
    val cnt2 = trainBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val ctx = cnt2.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cw1"), count(lit(1)).as("n1w1"))
    val cont = cnt2.groupBy(col("w2")).agg(count(lit(1)).as("cont2"))
    val tots = cnt2.agg(
      count(lit(1)).as("cont_all"),
      countDistinct(col("w2")).as("n_vocab"))
    docs.filter(col("doc_id") % 2 =!= 0)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(bigrams2(col("text"))).as("bg"))
      .withColumn("w1", split(col("bg"), " ")(0))
      .withColumn("w2", split(col("bg"), " ")(1))
      // (w1, w2) ↔ bg bijectively (tokens carry no spaces)
      .join(cnt2, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("pc",
        (coalesce(col("cont2"), lit(0L)) + 1).cast("double") /
          (col("cont_all") + col("n_vocab")).cast("double"))
      .withColumn("p",
        when(col("cb").isNotNull,
          (col("cb").cast("double") - 0.75) / col("cw1").cast("double") +
            lit(0.75) * col("n1w1").cast("double") /
              col("cw1").cast("double") * col("pc"))
          .when(col("cw1").isNotNull,
            lit(0.75) * col("n1w1").cast("double") /
              col("cw1").cast("double") * col("pc"))
          .otherwise(col("pc")))
      .withColumn("lp_micro", round(log10(col("p")) * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cb").isNull && col("cw1").isNotNull, 1L)
          .otherwise(0L)).as("n_unseen_pair"),
        sum(when(col("cw1").isNull, 1L).otherwise(0L)).as("n_unseen_ctx"),
        expr("sum(lp_micro) div count(1)").as("kn_score_micro"))
  }

  /** q387: TRIGRAM interpolated Kneser–Ney (round-13) — q374 recursed
    * one order up, the production n-gram order, which exposes the
    * plumbing the bigram version hides: the MIDDLE order's counts are
    * CONTINUATION counts, not raw counts (Chen & Goodman 1999 —
    * "for all orders below the highest, replace c by N₁₊(·…)").
    * p(w₃|w₁w₂) = (c₃−D)/c(w₁w₂·) + D·N₁₊(w₁w₂·)/c(w₁w₂·)·p(w₃|w₂);
    * p(w₃|w₂) = (N₁₊(·w₂w₃)−D)/N₁₊(·w₂·) +
    * D·N₁₊(w₂·)/N₁₊(·w₂·)·p_cont(w₃); p_cont(w₃) is +1-smoothed over
    * the distinct-(w₂,w₃)-pair total (the q374 floor, so OOV stays
    * nonzero). Unseen trigram backs into the bigram term scaled by
    * the context's freed mass; an unseen CONTEXT falls through to
    * the lower order whole — at each of the two levels. Every count
    * is an exact integer from ONE trigram frame of the train half
    * (five bounded aggs); p and log10(p) are ONE fixed IEEE
    * expression per scored trigram, micro-rounded per row, per-doc
    * INTEGER means — order-free by construction. Shapes: five hash
    * left joins off the scored explode (strategies AQE's — the
    * n-gram frames are corpus-scale), one per-doc agg: the q374 plan
    * one order deeper, still no global sort anywhere. */
  def knTrigramLm(s: SparkSession, dir: String, d: Double = 0.75)
      : DataFrame = {
    val docs = Tables.documents(s, dir)
    val trainTg = docs.filter(col("doc_id") % 2 === 0)
      .filter(size(tokens(col("text"))) >= 3)
      .select(explode(trigrams3(col("text"))).as("tg"))
      .withColumn("w1", split(col("tg"), " ")(0))
      .withColumn("w2", split(col("tg"), " ")(1))
      .withColumn("w3", split(col("tg"), " ")(2))
    // r17 optimization (guide §2.3/§2.4): every training statistic
    // is a function of the per-TYPE trigram counts, so aggregate the
    // corpus-scale instance stream to (w1, w2, w3, c3) ONCE and
    // derive the rest from that type-scale frame. The old shape ran
    // the explode+split over the train half separately under each of
    // tri / ctx2 / types (~5 corpus passes); now all branches share
    // the one hash-aggregate exchange (ReuseExchange dedups the
    // identical subtree — plan-checked), and every downstream agg
    // reads type-scale rows. Counts are identical: c3 per type is
    // the instance count, c2ctx = Σ c3 over the context, n3 = type
    // count per context ≡ countDistinct(w3) over instances.
    val cnt3 = trainTg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val ctx2 = cnt3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c2ctx"), count(lit(1)).as("n3"))
    // middle order: CONTINUATION counts over distinct (w1, w2, w3)
    val types = cnt3.select(col("w1"), col("w2"), col("w3"))
    val cc2 = types.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("cc2"))
    val ctx1 = cc2.groupBy(col("w2"))
      .agg(sum(col("cc2")).as("cc2ctx"), count(lit(1)).as("n2"))
    // lowest order: distinct middles preceding w3, +1-smoothed
    val cc1 = types.select(col("w2"), col("w3")).distinct()
      .groupBy(col("w3")).agg(count(lit(1)).as("cc1"))
    val tots = types.select(col("w2"), col("w3")).distinct().agg(
      count(lit(1)).as("cc_all"),
      countDistinct(col("w3")).as("n_vocab"))
    docs.filter(col("doc_id") % 2 =!= 0)
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), explode(trigrams3(col("text"))).as("tg"))
      .withColumn("w1", split(col("tg"), " ")(0))
      .withColumn("w2", split(col("tg"), " ")(1))
      .withColumn("w3", split(col("tg"), " ")(2))
      // (w1, w2, w3) ↔ tg bijectively (tokens carry no spaces), so
      // the word-key join is the old tg-key join
      .join(cnt3, Seq("w1", "w2", "w3"), "left")
      .join(ctx2, Seq("w1", "w2"), "left")
      .join(cc2, Seq("w2", "w3"), "left")
      .join(ctx1, Seq("w2"), "left")
      .join(cc1, Seq("w3"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("p1",
        (coalesce(col("cc1"), lit(0L)) + 1).cast("double") /
          (col("cc_all") + col("n_vocab")).cast("double"))
      .withColumn("p2",
        when(col("cc2").isNotNull,
          (col("cc2").cast("double") - d) / col("cc2ctx").cast("double") +
            lit(d) * col("n2").cast("double") /
              col("cc2ctx").cast("double") * col("p1"))
          .when(col("cc2ctx").isNotNull,
            lit(d) * col("n2").cast("double") /
              col("cc2ctx").cast("double") * col("p1"))
          .otherwise(col("p1")))
      .withColumn("p",
        when(col("c3").isNotNull,
          (col("c3").cast("double") - d) / col("c2ctx").cast("double") +
            lit(d) * col("n3").cast("double") /
              col("c2ctx").cast("double") * col("p2"))
          .when(col("c2ctx").isNotNull,
            lit(d) * col("n3").cast("double") /
              col("c2ctx").cast("double") * col("p2"))
          .otherwise(col("p2")))
      .withColumn("lp_micro", round(log10(col("p")) * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c3").isNull && col("c2ctx").isNotNull, 1L)
          .otherwise(0L)).as("n_unseen_tri"),
        sum(when(col("c2ctx").isNull, 1L).otherwise(0L))
          .as("n_unseen_ctx"),
        expr("sum(lp_micro) div count(1)").as("kn3_score_micro"))
  }

  /** q388: TRAINED NAIVE-BAYES language id (round-13) — the learned
    * upgrade of q29's fixed stopword heuristic and the simplest
    * member of the fastText/CLD classifier family every production
    * curation stack runs: multinomial NB with +1 smoothing, trained
    * on the even half (per-(lang, word) counts, per-lang token
    * totals, shared vocab V, document priors), argmax-scored on the
    * odd half, reported as the lang × predicted CONFUSION matrix
    * (the q211 surface, now for a trained model — the off-diagonal
    * mass is the model's actual error structure, and comparing it to
    * q211's heuristic confusion prices what training buys).
    * Determinism: each token's log-likelihood log10((c+1)/(n_l+V))
    * is ONE fixed IEEE expression of exact integers micro-rounded
    * PER (token, lang) ROW; per-doc scores are integer sums plus an
    * integer prior; argmax ties break on lang asc. Shapes: one
    * train agg, the scored token stream fanned out by the BOUNDED
    * broadcast lang list (|langs| rows), one hash left join on
    * (w, lang), a per-(doc, lang) agg, and a per-doc window over
    * |langs| rows — never a corpus sort. */
  def naiveBayesLangId(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val trainTok = docs.filter(col("doc_id") % 2 === 0)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
    val cw = trainTok.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cw"))
    val nl = trainTok.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val vocab = trainTok.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("nd_l"))
    val ndAll = priors.agg(sum(col("nd_l")).as("nd"))
    val langs = broadcast(nl.join(priors, "lang").crossJoin(vocab)
      .crossJoin(ndAll)
      .withColumn("prior_micro",
        round(log10(col("nd_l").cast("double") / col("nd").cast("double"))
          * 1e6).cast("long"))
      .select(col("lang").as("cand"), col("nl"), col("v"),
        col("prior_micro")))
    val scored = docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .crossJoin(langs)
      .join(cw.toDF("cand", "w", "cw").hint("shuffle_hash"),
        Seq("cand", "w"), "left")
      .withColumn("lp_micro",
        round(log10((coalesce(col("cw"), lit(0L)) + 1).cast("double") /
          (col("nl") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg((sum(col("lp_micro")) + max(col("prior_micro")))
        .as("score_micro"))
    val pred = scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_micro").desc, col("cand"))))
      .filter(col("rk") === 1)
    pred.groupBy(col("lang"), col("cand").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q404: CHAO1 VOCABULARY-RICHNESS estimator per source (Chao
    * 1984; the species-richness standard) — q196's Heaps fit says
    * how vocabulary GROWS with sampling; Chao1 says where it's
    * GOING: V + f₁²/(2f₂) from the frequency-of-frequencies (words
    * seen once/twice carry all the information about the unseen
    * mass — Good-Turing's insight as a point estimate), the number
    * that decides whether a source's vocabulary is near-exhausted
    * (crawl more adds little) or barely sampled. Bias-corrected
    * f₁(f₁−1)/2 form when f₂ = 0. Two bounded aggs (word counts →
    * freq-of-freq); pure integer milli. */
  def chao1(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("source"))
      .agg(count(lit(1)).as("v"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1_milli", expr(
        """v * 1000 + if(f2 > 0, f1 * f1 * 1000 div (2 * f2),
          | f1 * (f1 - 1) * 1000 div 2)""".stripMargin))
  }

  // ---------------------------------------------------------------
  // q401: the q388 NB classifier SERVED ON A STREAM — the frozen-
  // model discipline of q385 applied to a trained text model: train
  // once on the base half, freeze the model to pointer-versioned
  // stores, classify each arriving micro-batch against the frozen
  // model, and the accumulated predictions must equal the one-shot
  // batch classification however the stream was batched or replayed
  // (classification is a pure per-doc function of the frozen model,
  // so the evidence store is batching/replay-invariant by
  // construction — duplicates collapse at read).
  // ---------------------------------------------------------------

  /** Train the q388 NB model on `train` docs and publish it:
    * "nblangs" = (cand, nl, v, prior_micro), "nbcw" = (cand, w, cw). */
  private[graft] def publishNbModel(s: SparkSession, stateRoot: String,
      train: DataFrame): Unit = {
    val trainTok = train
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
    val cw = trainTok.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cw"))
      .select(col("lang").as("cand"), col("w"), col("cw"))
    val nl = trainTok.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val vocab = trainTok.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("lang")).agg(count(lit(1)).as("nd_l"))
    val ndAll = priors.agg(sum(col("nd_l")).as("nd"))
    val langs = nl.join(priors, "lang").crossJoin(vocab).crossJoin(ndAll)
      .withColumn("prior_micro",
        round(log10(col("nd_l").cast("double") / col("nd").cast("double"))
          * 1e6).cast("long"))
      .select(col("lang").as("cand"), col("nl"), col("v"),
        col("prior_micro"))
    StreamingOps.publishStore(s, stateRoot, "nblangs", langs, Seq.empty)
    StreamingOps.publishStore(s, stateRoot, "nbcw", cw, Seq.empty)
  }

  /** Classify one batch of (doc_id, lang, text) rows against the
    * frozen model — the q388 scoring plan verbatim, model frames
    * read from the stores (langs broadcast; cw hash-joined). */
  private[graft] def nbClassifyBatch(s: SparkSession, stateRoot: String,
      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val langs = broadcast(
      StreamingOps.readStoreAll(s, stateRoot, "nblangs").get.distinct())
    val cw = StreamingOps.readStoreAll(s, stateRoot, "nbcw").get.distinct()
    batch
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .crossJoin(langs)
      .join(cw.hint("shuffle_hash"), Seq("cand", "w"), "left")
      .withColumn("lp_micro",
        round(log10((coalesce(col("cw"), lit(0L)) + 1).cast("double") /
          (col("nl") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg((sum(col("lp_micro")) + max(col("prior_micro")))
        .as("score_micro"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_micro").desc, col("cand"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("predicted"))
  }

  /** q401: STREAMING NB language id under the oracle gate — the odd
    * half arrives as a JSONL doc stream, each micro-batch classifies
    * against the frozen even-half model and appends its predictions;
    * the final confusion matrix must EQUAL batch q388's. */
  def streamNbLangId(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q401", dir)
    val stateRoot = stage.path("state")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateRoot))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    publishNbModel(s, stateRoot, docs.filter(col("doc_id") % 2 === 0))
    val delta = stage.jsonStream("in", docs.filter(col("doc_id") % 2 =!= 0),
      col("doc_id"), files = 6, maxFilesPerTrigger = 2)
    stage.run(delta, OutputMode.Append()) { (df, _) =>
      nbClassifyBatch(s, stateRoot, df).write.mode("append")
        .parquet(StreamingOps.storeDeltaDir(stateRoot, "preds"))
    }
    StreamingOps.readStoreAll(s, s"$stateRoot", "preds").get.distinct()
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q405: GOOD–TURING frequency re-estimation table (Good 1953) —
    * the smoothing ground truth under the whole LM ladder (q361's
    * 0.4 backoff and q374/q387's 0.75 discount are fixed-constant
    * approximations of exactly this): adjusted count r* = (r+1)·
    * N_{r+1}/N_r from the frequency-of-frequencies, for the low
    * counts (r ≤ 10) where smoothing matters, plus the Good–Turing
    * unseen-mass estimate N₁/N — the number that says how much
    * probability the corpus owes to words it has never seen. One
    * vocab agg → one freq-of-freq agg (≤ corpus-independent rows
    * after the r ≤ 10 cut); pure integer milli/ppm. */
  def goodTuring(s: SparkSession, dir: String, maxR: Long = 10L)
      : DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val fof = wc.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = wc.agg(sum(col("c")).as("n_tokens"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"))
    s.range(1, maxR + 1).select(col("id").as("r"))
      .join(broadcast(fof), Seq("r"), "left")
      .join(broadcast(fof.select((col("r") - 1).as("r"),
        col("n_r").as("n_r_next"))), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("n_r_next"), lit(0L)).as("n_r_next"),
        expr("(r + 1) * coalesce(n_r_next, 0) * 1000" +
          " div nullif(coalesce(n_r, 0), 0)").as("r_star_milli"),
        expr("n1 * 1000000 div n_tokens").as("p_unseen_ppm"))
  }

  /** q406: LOG-NORMAL FIT of document length per source (round-13) —
    * q373's Hill estimator prices the power-law TAIL; this fits the
    * BODY (doc lengths are classically log-normal), giving each
    * source its (μ, σ) of ln(tokens) and the implied median — the
    * two-parameter summary that sizes shuffle partitions and
    * predicts straggler mass where a mean alone misleads. House
    * float discipline: per-doc ln micro-rounded to an INTEGER, so
    * Σl and Σl² (decimal-38 — l² ~ 4·10¹⁴ would overflow BIGINT·n
    * past ~2·10⁴ docs) aggregate order-free; μ is an integer div,
    * σ and the median are each ONE fixed IEEE expression per
    * bounded source row. */
  def lognormalFit(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .filter(col("n_toks") >= 1)
      .withColumn("l", round(log(col("n_toks")) * 1e6).cast("long"))
    lens.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("l")).as("sl"),
        sum(expr("CAST(l AS DECIMAL(38,0)) * l")).as("sl2"))
      .select(col("source"), col("n"),
        expr("sl div n").as("mu_micro"),
        round(sqrt((col("sl2").cast("double") -
          col("sl").cast("double") * col("sl").cast("double") /
            col("n").cast("double")) / col("n").cast("double")))
          .cast("long").as("sigma_micro"),
        round(exp((expr("sl div n")).cast("double") / 1e6) * 1000)
          .cast("long").as("median_toks_milli"))
  }

  /** q398: TERM BURSTINESS ranking (Church & Gale 1995, "Poisson
    * mixtures": content words are BURSTY — once a document mentions
    * one, it mentions it again; function words spread uniformly) —
    * burstiness = cf/df, the mean occurrences per CONTAINING
    * document, the signal keyword extraction and stopword discovery
    * read that raw frequency (q32) and doc frequency (TF-IDF's df)
    * both miss: "the" has huge cf AND huge df (ratio ≈ constant),
    * while a topical term has modest cf concentrated in few docs
    * (ratio spikes). Pure integer (burst_ppm = cf·10⁶ div df); the
    * min-cf floor kills the unstable singleton tail; top-k rides
    * [[Relational.twoPhaseRank]] — the bounded-histogram rank, so a
    * 100 TB vocabulary is never globally sorted. */
  def burstiness(s: SparkSession, dir: String, minCf: Long = 20L,
      k: Int = 25): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val stats = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .filter(col("cf") >= minCf)
      .withColumn("burst_ppm", expr("cf * 1000000 div df"))
    Relational.twoPhaseRank(stats, lit(1), negate(col("burst_ppm")),
        Seq(negate(col("burst_ppm")), col("w")), "rank", "n_vocab")
      .filter(col("rank") <= k)
      .select(col("w"), col("cf"), col("df"), col("burst_ppm"),
        col("rank"))
  }

  /** q425: CHUNKED TYPE-TOKEN RATIO (MATTR-family; Covington &
    * McFall 2010) — raw TTR (q28's signal) collapses as documents
    * grow (every long document looks "low diversity"), which is why
    * length-stratified quality cuts misfire; the moving/chunked fix
    * scores diversity over FIXED 50-token chunks so documents of any
    * length are comparable. Per doc: full 50-token chunks only, TTR
    * ppm per chunk (exact integers), document score = integer mean
    * over chunks. Pure per-row array expressions — zero shuffle,
    * whole-stage codegen; docs under 50 tokens emit no row (no
    * full chunk — exactly the honesty raw TTR lacks). */
  def chunkedTtr(s: SparkSession, dir: String, chunk: Int = 50)
      : DataFrame =
    chunkedTtrOf(Tables.documents(s, dir), chunk)

  /** q425 over any (doc_id, text) frame — the spec seam. */
  private[graft] def chunkedTtrOf(docs: DataFrame, chunk: Int = 50)
      : DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n_chunks",
        (size(col("tk")) / chunk).cast("long"))
      .filter(col("n_chunks") >= 1)
      .select(col("doc_id"), col("n_chunks"),
        expr(s"""aggregate(
          |  transform(sequence(0, CAST(n_chunks AS INT) - 1), c ->
          |    size(array_distinct(slice(tk, c * $chunk + 1, $chunk)))
          |      * 1000000L div $chunk),
          |  0L, (acc, t) -> acc + t)""".stripMargin).as("ttr_sum"))
      .select(col("doc_id"), col("n_chunks"),
        expr("ttr_sum div n_chunks").as("mattr_ppm"))

  // ---------------------------------------------------------------
  // q410/q411: UNIGRAM-LM (SentencePiece-family) tokenizer — the
  // OTHER production tokenizer family next to BPE (q275/q282), per
  // Kudo 2018 ("Subword Regularization"): a bounded candidate piece
  // vocabulary, an E-step that segments the training words with the
  // current vocabulary and counts piece usage, an M-step that
  // re-estimates piece probabilities from those counts, and a prune
  // loop that shrinks the vocabulary to target size by expected
  // count. The E-step segmenter here is the DETERMINISTIC
  // longest-match-from-left walk (the q282 machinery — a hard
  // Viterbi approximation; the full soft-EM lattice is the noted
  // refinement), which keeps every count an exact integer the
  // DuckDB oracle replays via a recursive walk. Trained on the even
  // doc_id split (the q361/q388 convention); q411 applies the
  // frozen vocabulary to the ODD split per language. Scale: every
  // step runs on the BOUNDED word vocabulary (one corpus agg up
  // front), candidates equi-join the broadcast piece set, both
  // prune top-ks ride twoPhaseRank (no global candidate sort), and the
  // walk is a codegen fold over one word's characters.
  // ---------------------------------------------------------------

  /** Per-word longest-match segmentation against a bounded piece
    * set: adds a `picks` column (array of (pos, l) steps). Unknown
    * characters fall back to 1-char UNK pieces so the walk always
    * advances. `words` must carry a distinct-per-row `w`; extra
    * columns pass through. */
  private def segmentWords(words: DataFrame, pieces: DataFrame)
      : DataFrame = {
    val cand = words.select(col("w")).distinct()
      .select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
      .select(col("w"), col("pos"), explode(expr(
        "transform(sequence(1, 4), l -> " +
          "named_struct('l', l, 'sub', substr(w, pos, l)))")).as("c"))
      .select(col("w"), col("pos"), col("c.l").as("l"),
        col("c.sub").as("sub"))
      .filter(length(col("sub")) === col("l"))
    val grid = cand
      .join(broadcast(pieces.select(col("piece"))),
        cand("sub") === col("piece"), "left")
      .groupBy(col("w"), col("pos"))
      .agg(coalesce(max(when(col("piece").isNotNull, col("l"))),
        lit(1)).as("bl"))
    val larr = grid.groupBy(col("w"))
      .agg(expr("transform(array_sort(collect_list(" +
        "named_struct('pos', pos, 'bl', bl))), e -> e.bl)").as("larr"))
    words.join(larr, "w")
      .withColumn("picks", expr(
        """aggregate(sequence(1, size(larr)),
          |named_struct('pos', 1,
          |  'ls', cast(array() as array<struct<pos:int,l:int>>)),
          |(acc, i) -> IF(i = acc.pos,
          |  named_struct('pos', acc.pos + element_at(larr, i),
          |    'ls', concat(acc.ls, array(named_struct('pos', acc.pos,
          |      'l', element_at(larr, i))))),
          |  acc),
          |acc -> acc.ls)""".stripMargin))
      .drop("larr")
  }

  /** Piece-usage counts (sum of word freq per used piece) of one
    * segmentation pass — the E-step. */
  private def pieceCounts(seg: DataFrame): DataFrame =
    seg.select(col("w"), col("freq"), explode(col("picks")).as("pk"))
      .select(expr("substr(w, pk.pos, pk.l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("n"))

  /** Train-split word vocabulary (w, freq) — even doc_ids. */
  private def trainWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** The frozen final vocabulary: all train-split single characters
    * (coverage) ∪ the top `target` multi-char pieces surviving one
    * E-step prune of the top-`seedMultis` substring candidates
    * (tie-broken (count desc, piece asc) — fully deterministic). */
  private def unigramVocab(words: DataFrame, seedMultis: Int,
      target: Int): DataFrame = {
    val singles = words
      .select(explode(expr("split(w, '')")).as("piece"))
      .filter(length(col("piece")) === 1).distinct()
    val multiCand = words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
      .select(col("w"), col("freq"), col("pos"), explode(expr(
        "transform(sequence(2, 4), l -> " +
          "named_struct('l', l, 'p', substr(w, pos, l)))")).as("c"))
      // a substring truncated short of its requested length is the
      // shorter candidate already emitted — drop it, don't recount
      .filter(length(col("c.p")) === col("c.l"))
      .select(col("w"), col("freq"), col("pos"), col("c.p").as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("n"))
      .transform(c => Relational.twoPhaseRank(c, lit(1), negate(col("n")),
        Seq(negate(col("n")), col("piece")), "rk", "n_cand"))
      .filter(col("rk") <= seedMultis).select(col("piece"))
    val seed = singles.unionByName(multiCand).localCheckpoint()
    val c1 = pieceCounts(segmentWords(words, seed))
    val kept = c1.filter(length(col("piece")) >= 2)
      .transform(c => Relational.twoPhaseRank(c, lit(1), negate(col("n")),
        Seq(negate(col("n")), col("piece")), "rk", "n_kept"))
      .filter(col("rk") <= target).select(col("piece"))
    singles.unionByName(kept).localCheckpoint()
  }

  /** q410: UNIGRAM-LM TOKENIZER TRAIN — the final vocabulary with
    * its M-step mass: piece, length, exact usage count under the
    * frozen vocabulary's own segmentation of the train split, and
    * the unigram log-probability in integer micro (one fixed IEEE
    * log10 of exact integers, micro-rounded — the q50 convention).
    * Pieces the final segmentation never uses carry no mass and are
    * dropped (no ln(0) at any scale — the q363 lesson). */
  def unigramTrain(s: SparkSession, dir: String, seedMultis: Int = 200,
      target: Int = 50): DataFrame = {
    val words = trainWords(s, dir).localCheckpoint()
    val vocab = unigramVocab(words, seedMultis, target)
    val counts = pieceCounts(segmentWords(words, vocab))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"),
        col("n").as("n_uses"),
        expr("CAST(round(log10(CAST(n AS DOUBLE) " +
          "/ CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT)").as("lp_micro"))
  }

  /** q411: UNIGRAM-LM TOKENIZER APPLY — the frozen even-split
    * vocabulary segments the ODD split's per-language word
    * vocabulary (the q361 holdout convention), pricing the tokenizer
    * where it will run: per language, vocab size, word/char/piece
    * totals, and the two fertility numbers (pieces per word, chars
    * per piece — q216's question asked of the REAL learned
    * tokenizer). All integer; unknown holdout characters segment as
    * 1-char UNK pieces (counted — exactly what a production
    * tokenizer's byte-fallback pays). */
  def unigramApply(s: SparkSession, dir: String, seedMultis: Int = 200,
      target: Int = 50): DataFrame = {
    val vocab = unigramVocab(
      trainWords(s, dir).localCheckpoint(), seedMultis, target)
    unigramApplyReport(
      holdoutWords(Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)),
      vocab)
  }

  /** Per-(lang, word) vocabulary of a holdout frame — shared by the
    * batch (q411) and streaming (q423) apply paths. */
  private def holdoutWords(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))

  /** The q411 fertility report over any (lang, w, freq) holdout
    * vocabulary and frozen piece set. */
  private def unigramApplyReport(holdout: DataFrame, vocab: DataFrame)
      : DataFrame =
    segmentWords(holdout, vocab)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_words"),
        sum(col("freq") * length(col("w"))).as("n_chars"),
        sum(col("freq") * size(col("picks"))).as("n_pieces"))
      .withColumn("pieces_per_word_micro",
        expr("n_pieces * 1000000 div n_words"))
      .withColumn("chars_per_piece_micro",
        expr("n_chars * 1000000 div nullif(n_pieces, 0)"))

  // ---------------------------------------------------------------
  // q423: STREAMING unigram-tokenizer apply — the q412 store
  // treatment for q411's holdout vocabulary: the odd split arrives
  // as a stream, each micro-batch appends its per-(lang, word)
  // counts TAGGED WITH THE BATCH ID (checkpoint replay re-appends
  // identical rows the read collapses — max per (lang, w, batch),
  // then sum across batches, since each doc arrives exactly once),
  // and the fertility report runs the UNCHANGED q411 tail over the
  // maintained vocabulary with the same frozen even-split pieces.
  // Gate: stream ≡ batch q411, oracle verbatim.
  // ---------------------------------------------------------------

  /** ONE micro-batch of the q423 protocol (factored for specs). */
  private[graft] def unigramStreamBatch(s: SparkSession,
      stateRoot: String, batch: DataFrame, batchId: Long,
      compactEvery: Int = 3): Unit = {
    import graft.operators.StreamingOps.{readStoreAll, publishStore, storeDeltaDir}
    holdoutWords(batch).withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(storeDeltaDir(stateRoot, "uvocab"))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      readStoreAll(s, stateRoot, "uvocab").foreach(r => publishStore(
        s, stateRoot, "uvocab",
        r.groupBy(col("lang"), col("w"), col("batch_id"))
          .agg(max(col("freq")).as("freq")).localCheckpoint(),
        Seq.empty))
  }

  /** The maintained holdout vocabulary: collapse replay duplicates
    * per (lang, w, batch), then merge batches by sum. */
  private[graft] def readStreamVocab(s: SparkSession,
      stateRoot: String): DataFrame =
    StreamingOps.readStoreAll(s, stateRoot, "uvocab").get
      .groupBy(col("lang"), col("w"), col("batch_id"))
      .agg(max(col("freq")).as("freq"))
      .groupBy(col("lang"), col("w")).agg(sum(col("freq")).as("freq"))

  /** q423: the continuously maintained holdout vocabulary priced by
    * the frozen tokenizer — must EQUAL one-shot q411 however the
    * stream was batched, replayed, or compacted. */
  def streamUnigramApply(s: SparkSession, dir: String,
      seedMultis: Int = 200, target: Int = 50): DataFrame = {
    val stage = Stage("q423", dir)
    val stateRoot = stage.path("state")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateRoot))
    val delta = stage.jsonStream("in", Tables.documents(s, dir)
        .filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"), files = 6, maxFilesPerTrigger = 2)
    stage.run(delta, OutputMode.Append()) { (df, id) =>
      unigramStreamBatch(s, stateRoot, df, id)
    }
    unigramApplyReport(readStreamVocab(s, stateRoot),
      unigramVocab(trainWords(s, dir).localCheckpoint(), seedMultis,
        target))
  }

  /** q437: NEGATIVE-BINOMIAL OVERDISPERSION FIT of per-document
    * token counts, per language (method of moments; the NB is the
    * canonical model for overdispersed counts — Cameron & Trivedi,
    * Regression Analysis of Count Data). q398 measures burstiness
    * WITHIN docs; this fits the ACROSS-doc length distribution the
    * batch packer and dedup-rate estimator consume: if variance
    * exceeds the mean (it always does for web text), the Poisson
    * assumption under-provisions tail buffers, and the NB (r, p)
    * says by how much. Everything exact-integer until the final
    * documented truncation chains: mean/variance from (n, Σx, Σx²)
    * on DECIMAL(38,0) (n·Σx² − (Σx)² wraps BIGINT long before
    * corpus scale), overdispersion decided by the EXACT integer
    * compare vnum > Σx·(n−1) (⇔ var > mean, cross-multiplied — no
    * division, no float), p̂ = mean/var and r̂ = mean²/(var−mean) as
    * integer-division chains both engines replay. One map-side agg
    * per language; |langs| rows. */
  def negbinFit(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("lang"), size(toks).cast("long").as("x"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      .filter(col("n_docs") >= 2)
      .withColumn("vnum", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * s2" +
          " - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("mean_milli",
        expr("CAST(s1 AS DECIMAL(38,0)) * 1000 div n_docs")
          .cast("long"))
      .withColumn("var_milli", expr(
        """CAST(vnum * 1000 div (CAST(n_docs AS DECIMAL(38,0))
          | * (n_docs - 1)) AS BIGINT)""".stripMargin))
      .withColumn("overdispersed",
        col("vnum") > expr("CAST(s1 AS DECIMAL(38,0)) * (n_docs - 1)"))
      .withColumn("p_micro", expr(
        """CAST(CAST(s1 AS DECIMAL(38,0)) * (n_docs - 1) * 1000000
          | div nullif(vnum, 0) AS BIGINT)""".stripMargin))
      .withColumn("r_milli", expr(
        """CASE WHEN overdispersed THEN
          | CAST(CAST(mean_milli AS DECIMAL(38,0))
          |  * (CAST(s1 AS DECIMAL(38,0)) * (n_docs - 1) * 1000
          |     div (vnum - CAST(s1 AS DECIMAL(38,0)) * (n_docs - 1)))
          |  div 1000 AS BIGINT) END""".stripMargin))
      .select(col("lang"), col("n_docs"), col("mean_milli"),
        col("var_milli"), col("overdispersed"), col("p_micro"),
        col("r_milli"))
  }

  // ---------------------------------------------------------------
  // q472/q473/q474: WORDPIECE tokenizer (Schuster & Nakajima 2012;
  // the BERT-family standard — round-16, VERDICT Next #4) — the
  // third and last major public tokenizer family next to BPE
  // (q275/q282) and unigram-LM (q410/q411). Two published
  // distinctions from BPE, both implemented: (1) TRAINING picks the
  // merge maximizing LIKELIHOOD gain, score(l,r) =
  // count(lr)/(count(l)·count(r)) — pair mass normalized by symbol
  // mass — not raw pair count; (2) SYMBOLS live in a positional
  // namespace: word-initial pieces bare, continuations carry the
  // '##' prefix, and APPLY is greedy longest-match-first per
  // position (the q410 walk) against that two-namespace vocabulary.
  // Trained on the even doc_id split (the q410 convention), applied
  // to the odd split. Scale shape identical to q275/q410: one
  // corpus pass to the word-frequency table, every training round
  // touches vocab rows only; scores ride DECIMAL(38,0) INTERNAL
  // (n·10¹² div (c_l·c_r) — exact integer, BIGINT out), argmax
  // tie-broken (score desc, l, r) — fully deterministic, replayed
  // by unrolled DuckDB CTEs.
  // ---------------------------------------------------------------

  /** Word → WordPiece symbol array: first char bare, later chars in
    * the '##' continuation namespace. */
  private def wpSymsExpr: String =
    "transform(sequence(1, length(w)), i -> " +
      "IF(i = 1, substr(w, 1, 1), concat('##', substr(w, i, 1))))"

  /** One greedy left-to-right collapse of the broadcast 1-row (l, r)
    * WordPiece rule: merged symbol = l || substr(r, 3) (r is always
    * a continuation, so its '##' is consumed by the merge; l keeps
    * its own namespace). Same fold-safety argument as bpeCollapse:
    * the merged symbol is strictly longer than l, so a fresh merge
    * never re-fires on its own output. */
  private def wpCollapse(df: DataFrame, rule: DataFrame): DataFrame = {
    val rest = df.columns.filterNot(_ == "syms").map(col).toSeq
    df.crossJoin(broadcast(rule.select(col("l"), col("r"))))
      .select(expr(
        """aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]),
          |(acc, x) -> if(element_at(acc, -1) = l AND x = r,
          |  concat(slice(acc, 1, size(acc) - 1),
          |    array(concat(l, substr(r, 3)))),
          |  concat(acc, array(x))))""".stripMargin).as("syms") +: rest: _*)
  }

  /** The WordPiece train loop over a (w, freq) word table: per
    * round, adjacent-pair counts n(l,r) AND symbol counts c(x) (both
    * map-side-combinable aggs over the bounded vocab frame), the
    * likelihood score n·10¹² div (c_l·c_r) on DECIMAL(38,0), argmax
    * (score desc, l, r), greedy collapse. Returns the per-round
    * 1-row best frames (l, r, n, score). */
  private[graft] def wpLearn(wordsIn: DataFrame, rounds: Int): Seq[DataFrame] = {
    var words = wordsIn
      .select(expr(wpSymsExpr).as("syms"), col("freq"))
      .localCheckpoint()
    (1 to rounds).map { r =>
      val pairs = words
        .select(col("freq"), explode(expr(
          "CASE WHEN size(syms) < 2 THEN array() " +
            "ELSE transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)) END"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
      val symCounts = words
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("c"))
      val best = pairs
        .join(symCounts.select(col("sym").as("l"), col("c").as("cl"))
          .hint("shuffle_hash"), "l")
        .join(symCounts.select(col("sym").as("r"), col("c").as("cr"))
          .hint("shuffle_hash"), "r")
        .select(col("l"), col("r"), col("n"), expr(
          """CAST(CAST(n AS DECIMAL(38,0)) * 1000000000000
            | div (CAST(cl AS DECIMAL(38,0)) * cr) AS BIGINT)"""
            .stripMargin).as("score"))
        .orderBy(col("score").desc, col("l"), col("r")).limit(1)
        .localCheckpoint() // the 1-row merge decision
      if (r < rounds) words = wpCollapse(words, best).localCheckpoint()
      best
    }
  }

  /** q472: WORDPIECE TOKENIZER TRAIN — the learned merge rules with
    * their selection statistics: (merge_round, left_sym, right_sym,
    * n_pair, score_scaled = n·10¹² div (c_l·c_r)). */
  def wordpieceTrain(s: SparkSession, dir: String, rounds: Int = 4)
      : DataFrame =
    wpLearn(trainWords(s, dir).localCheckpoint(), rounds)
      .zipWithIndex.map { case (best, i) =>
        best.select(lit((i + 1).toLong).as("merge_round"),
          col("l").as("left_sym"), col("r").as("right_sym"),
          col("n").as("n_pair"), col("score").as("score_scaled"))
      }.reduce(_ unionAll _)

  /** Frozen WordPiece vocabulary: every train-split symbol (bare
    * initials + ##continuations — full character coverage) ∪ the
    * merged tokens the train rounds produced. */
  private[graft] def wpVocab(words: DataFrame, rounds: Int): DataFrame = {
    val singles = words
      .select(explode(expr(wpSymsExpr)).as("piece")).distinct()
    val merged = wpLearn(words, rounds)
      .map(_.select(expr("concat(l, substr(r, 3))").as("piece")))
      .reduce(_ unionAll _)
    singles.unionByName(merged).distinct().localCheckpoint()
  }

  /** SURFACE length of the longest piece in a frozen WordPiece
    * vocabulary ('##' continuations contribute len-2) — the
    * candidate cap [[wpSegment]] needs for longest-match-first to
    * honor the WHOLE vocabulary. Round-16 ADVICE: the old rounds+1
    * cap silently excluded compounded merges (a round-2 merge of two
    * round-1 merges already spans 4 surface chars, round 3 up to 8),
    * so learned pieces longer than the cap could never match at
    * apply. Bounded action: a 1-row max over the vocab frame. */
  private[graft] def wpMaxPieceLen(vocab: DataFrame): Int =
    vocab.agg(coalesce(max(
      when(col("piece").startsWith("##"), length(col("piece")) - 2)
        .otherwise(length(col("piece")))), lit(1)).cast("int"))
      .head.getInt(0)

  /** Greedy longest-match-first WordPiece segmentation of a word
    * table against a frozen two-namespace vocabulary: at pos = 1
    * candidates match bare, at pos > 1 in the '##' namespace;
    * longest match wins, unknown characters advance 1 char (the
    * byte-fallback a production tokenizer pays). Adds `picks`. */
  private[graft] def wpSegment(words: DataFrame, vocab: DataFrame,
      maxLen: Int): DataFrame = {
    val cand = words.select(col("w")).distinct()
      .select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
      .select(col("w"), col("pos"), explode(expr(
        s"transform(sequence(1, $maxLen), l -> " +
          "named_struct('l', l, 'sub', substr(w, pos, l)))")).as("c"))
      .select(col("w"), col("pos"), col("c.l").as("l"),
        col("c.sub").as("sub"))
      .filter(length(col("sub")) === col("l"))
      .withColumn("key",
        when(col("pos") === 1, col("sub"))
          .otherwise(concat(lit("##"), col("sub"))))
    val grid = cand
      .join(broadcast(vocab.select(col("piece"))),
        cand("key") === col("piece"), "left")
      .groupBy(col("w"), col("pos"))
      .agg(coalesce(max(when(col("piece").isNotNull, col("l"))),
        lit(1)).as("bl"))
    val larr = grid.groupBy(col("w"))
      .agg(expr("transform(array_sort(collect_list(" +
        "named_struct('pos', pos, 'bl', bl))), e -> e.bl)").as("larr"))
    words.join(larr, "w")
      .withColumn("picks", expr(
        """aggregate(sequence(1, size(larr)),
          |named_struct('pos', 1,
          |  'ls', cast(array() as array<struct<pos:int,l:int>>)),
          |(acc, i) -> IF(i = acc.pos,
          |  named_struct('pos', acc.pos + element_at(larr, i),
          |    'ls', concat(acc.ls, array(named_struct('pos', acc.pos,
          |      'l', element_at(larr, i))))),
          |  acc),
          |acc -> acc.ls)""".stripMargin))
      .drop("larr")
  }

  /** q473: WORDPIECE TOKENIZER APPLY — the frozen even-split
    * vocabulary segments the ODD split's per-language word
    * vocabulary (the q411 holdout convention), same per-language
    * fertility report: vocab size, word/char/piece totals, pieces
    * per word and chars per piece in integer micro. */
  def wordpieceApply(s: SparkSession, dir: String, rounds: Int = 4)
      : DataFrame = {
    val vocab = wpVocab(trainWords(s, dir).localCheckpoint(), rounds)
    wpSegment(
      holdoutWords(Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)),
      vocab, wpMaxPieceLen(vocab))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_words"),
        sum(col("freq") * length(col("w"))).as("n_chars"),
        sum(col("freq") * size(col("picks"))).as("n_pieces"))
      .withColumn("pieces_per_word_micro",
        expr("n_pieces * 1000000 div n_words"))
      .withColumn("chars_per_piece_micro",
        expr("n_chars * 1000000 div nullif(n_pieces, 0)"))
  }

  /** q474: TOKENIZER FERTILITY COMPARISON — the three learned
    * families (BPE q275, unigram-LM q410, WordPiece q472), each
    * trained on the SAME even split at its gated default size and
    * applied to the SAME odd-split holdout word vocabulary: one row
    * per family with exact word/piece totals and pieces-per-word in
    * integer micro — the number a multi-tokenizer pipeline actually
    * compares before committing to a family. */
  def tokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val train = trainWords(s, dir).localCheckpoint()
    val hold = Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    def report(name: String, pieced: DataFrame): DataFrame =
      pieced.agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * col("n_pieces")).as("n_pieces"))
        .select(lit(name).as("family"), col("n_words"), col("n_pieces"),
          expr("n_pieces * 1000000 div n_words")
            .as("pieces_per_word_micro"))
    val wpV = wpVocab(train, 4)
    val wp = report("wordpiece",
      wpSegment(hold, wpV, wpMaxPieceLen(wpV))
        .select(col("freq"), size(col("picks")).cast("long").as("n_pieces")))
    val ug = report("unigram",
      segmentWords(hold, unigramVocab(train, 200, 50))
        .select(col("freq"), size(col("picks")).cast("long").as("n_pieces")))
    var bpeVocab = hold
      .select(expr("split(w, '')").as("syms"), col("freq"))
      .localCheckpoint()
    for (rule <- bpeLearnOf(train, 3))
      bpeVocab = bpeCollapse(bpeVocab, rule).localCheckpoint()
    val bp = report("bpe",
      bpeVocab.select(col("freq"), size(col("syms")).cast("long").as("n_pieces")))
    wp.unionByName(ug).unionByName(bp)
  }
}
