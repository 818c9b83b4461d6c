package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Bucketed-table co-located joins — the SURVEY §6 100 TB table
  * layout made executable: both fact tables written bucketed+sorted
  * by the join key, so the fact-fact join reads co-partitioned
  * buckets IN PLACE with no Exchange below the join. At 100 TB this
  * is the difference between re-shuffling both fact tables on every
  * query and a one-time layout cost amortized across the workload.
  */
object Bucketing {

  /** q82: order-status revenue over BUCKETED fact tables — stages
    * orders and lineitem bucketed (8 buckets, sorted) on the join
    * key, then joins and aggregates. With size-based broadcasts
    * disabled the join has NO Exchange below it (PlanSpec pin); at
    * this SF the optimizer may still choose to broadcast orders,
    * which is equally correct — bucketing is the plan that survives
    * when neither side fits. The oracle replays the plain join on
    * the raw parquet: layout must never change results. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q82", dir)
    Tables.orders(s, dir).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", stage.path("orders_b"))
      .mode("overwrite").saveAsTable("graft_q82_orders")
    Tables.lineitem(s, dir).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", stage.path("lineitem_b"))
      .mode("overwrite").saveAsTable("graft_q82_lineitem")
    s.table("graft_q82_lineitem")
      .join(s.table("graft_q82_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
  }

  /** q137: RUNTIME FILTER — bloom semi-join pushdown, the
    * selective-join optimization a 100 TB engine applies by hand (or
    * via Spark's runtime row-level filtering) when a fact-fact join
    * has a selective build side: the filtered orders keys fold into
    * a 3-hash bloom over 2^16 bits — a CONSTANT-SIZE broadcast
    * however large the build side (vs broadcasting the key set
    * itself, which grows with it) — and the probe scan drops
    * non-matching lineitems BEFORE the shuffle. Bloom false
    * positives pass the filter and are eliminated by the real join,
    * so the RESULT is exactly the plain join (what the oracle
    * replays); the audit columns quantify the filter's pruning power
    * and FP count — deterministic because the bloom is the md5 bit
    * family (q88's construction on join keys). */
  def bloomSemiJoin(s: SparkSession, dir: String, bits: Int = 65536): DataFrame = {
    def bit(i: Int, c: org.apache.spark.sql.Column) =
      Sampling.hashBucket(concat(lit(s"bj$i|"), c.cast("string"))) % bits
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // r18 (guide §1.2): pin the bit set — it backs THREE broadcast
    // semi-joins, and un-pinned the urgent scan + hash agg ran once
    // per broadcast. Bounded: ≤ `bits` distinct rows by construction.
    val bloomBits = urgent
      .select(explode(array((0 until 3).map(i => bit(i, col("o_orderkey"))): _*))
        .as("bit"))
      .distinct()
      .localCheckpoint()
    val passed = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .withColumn("b0", bit(0, col("l_orderkey")))
      .withColumn("b1", bit(1, col("l_orderkey")))
      .withColumn("b2", bit(2, col("l_orderkey")))
      .join(broadcast(bloomBits.withColumnRenamed("bit", "b0")), Seq("b0"), "left_semi")
      .join(broadcast(bloomBits.withColumnRenamed("bit", "b1")), Seq("b1"), "left_semi")
      .join(broadcast(bloomBits.withColumnRenamed("bit", "b2")), Seq("b2"), "left_semi")
    // r18 (guide §1.2): ONE pass instead of two — the old shape ran
    // `passed` (full lineitem scan + 3 semi-joins) twice, once for
    // the inner-join revenue agg and once for the bloom-pass count.
    // o_orderkey is the orders PRIMARY KEY (unique), so the inner
    // join matches each passed row at most once and the left join
    // below computes the identical three aggregates in one pass:
    // count(*) = bloom passes, count(o_orderkey) = joined rows,
    // sum(cents | matched) = joined revenue. Bit-identical, oracle-
    // re-gated.
    passed
      .join(urgent.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_bloom_pass"),
        count(col("o_orderkey")).as("n_joined"),
        sum(when(col("o_orderkey").isNotNull, col("cents")))
          .as("revenue_cents"))
      .select(col("n_bloom_pass"), col("n_joined"),
        (col("n_bloom_pass") - col("n_joined")).as("n_false_pos"),
        col("revenue_cents"))
  }

  /** q138: PARTITIONED table layout + partition pruning — the other
    * physical-layout lever next to q82's bucketing: events staged
    * once as a day-partitioned parquet table (the universal 100 TB
    * event-lake layout), then a one-day query reads ONLY that
    * partition — the day predicate becomes a PartitionFilter (a
    * directory listing decision; zero data files of other days are
    * even opened — PlanSpec-pinned), vs the raw table where the same
    * predicate is at best row-group stats pruning. The oracle
    * replays the filter on the raw table: layout must never change
    * results. */
  def partitionPruning(s: SparkSession, dir: String,
      day: Long = 19739L): DataFrame = {
    Stage("q138", dir).parquet("events_p", Tables.events(s, dir)
        .withColumn("day", expr("ts div 86400000000")), "day")
      .filter(col("day") === day)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  /** q139: Z-ORDER locality audit — multi-dimensional clustering for
    * file skipping: interleaving the low 8 bits of (customer bucket,
    * order day) into a z-value and splitting the z-range into 64
    * "files" gives every file a SMALL min-max span in BOTH
    * dimensions (~sqrt of the cells), so a filter on EITHER column
    * skips most files; a linear (cust, day) sort spans the full day
    * range in every customer run. The audit materializes exactly
    * what a lake's zone maps would store — per z-file row counts and
    * both dims' min/max — so the locality claim is checkable data,
    * not prose. Bit interleave is integer arithmetic (shift/and/or)
    * identical on both engines. */
  def zOrderAudit(s: SparkSession, dir: String): DataFrame = {
    val x = (col("o_custkey") % 256).cast("long")
    // timezone-free day number: datediff on the NTZ date — identical
    // to the oracle's epoch_us // day on the naive parquet timestamp
    val y = expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long") % 256
    val z = (0 until 8).map { i =>
      (shiftleft(shiftrightunsigned(x, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftrightunsigned(y, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce((a, b) => a + b)
    Tables.orders(s, dir)
      .select(x.as("xb"), y.as("yb"), z.as("zv"))
      .groupBy(shiftrightunsigned(col("zv"), 10).as("z_file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("xb")).as("cust_min"), max(col("xb")).as("cust_max"),
        min(col("yb")).as("day_min"), max(col("yb")).as("day_max"))
      .select(col("z_file"), col("n_rows"),
        col("cust_min"), col("cust_max"), col("day_min"), col("day_max"),
        ((col("cust_max") - col("cust_min") + 1) *
          (col("day_max") - col("day_min") + 1)).as("span_area"))
  }

  /** q151: SORT-FREE RANGE BUCKETING — Spark's RangePartitioner shape
    * made explicit and auditable: equal-frequency range boundaries
    * estimated from a bounded histogram (never a global sort), every
    * row assigned its bucket by comparing against the tiny boundary
    * array, then a balance report proving the buckets are near-equal.
    * This is how a 100 TB engine does global ordering — curriculum
    * ordering by document length, length-clustered write layout,
    * `orderBy` itself — without any task ever sorting the corpus:
    *  - pass 1: histogram on `n_chars div W` — map-side combinable,
    *    ≤ max_chars/W bins at any corpus size; the cumulative window
    *    runs over that CONSTANT-SIZE bin table (q97's argument);
    *  - boundary k = first bin where cum·B ≥ k·n (all-integer
    *    crossing test, no division) → boundary value (bin+1)·W;
    *  - pass 2: bucket(row) = |{boundaries ≤ value}| via
    *    `functions.aggregate` over the broadcast ≤(B−1)-element
    *    array — zero extra shuffle, codegen'd, never a per-row join;
    *  - report: per-bucket count + value span + realized fraction
    *    (B rows out). Bucket skew is bounded by the histogram bin
    *    width W — the explicit resolution/size knob.
    * A skewed distribution dups boundary values ⇒ some buckets empty
    * — the report SHOWS that rather than hiding it, which is the
    * audit's job. */
  def rangeBuckets(s: SparkSession, dir: String, binWidth: Long = 32L,
      nBuckets: Int = 8): DataFrame =
    rangeBucketsOf(s, Tables.documents(s, dir).select(col("n_chars")),
      binWidth, nBuckets)

  /** [[rangeBuckets]] over any frame with an `n_chars` column —
    * shared with ScaleProbe so the probe measures exactly the gated
    * plan on expanded corpora. */
  private[graft] def rangeBucketsOf(s: SparkSession, docsIn: DataFrame,
      binWidth: Long, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn.select(col("n_chars"))
    val hist = docs.groupBy(expr(s"n_chars div $binWidth").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    // Bounded single-partition window: ≤ max_chars/W bin rows at any SF.
    val wcum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val total = hist.agg(sum(col("cnt")).as("n"))
    val boundaries = s.range(1, nBuckets).toDF("k")
      .crossJoin(broadcast(total))
      .join(cum, col("cum") * nBuckets >= col("k") * col("n") &&
        (col("cum") - col("cnt")) * nBuckets < col("k") * col("n"))
      .select(((col("bin") + 1) * binWidth).as("boundary"))
    val bds = boundaries.agg(sort_array(collect_list(col("boundary")))
      .as("bds"))
    docs.crossJoin(broadcast(bds))
      .select(expr("aggregate(bds, 0L, (acc, b) -> acc + if(n_chars >= b, 1L, 0L))")
        .as("bucket"), col("n_chars"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_docs"), col("min_chars"),
        col("max_chars"),
        round(col("n_docs") / col("n").cast("double"), 4).as("doc_frac"))
  }

  /** q179: SCHEMA EVOLUTION read — the lakehouse reality every
    * long-lived event table hits: old files were written before a
    * column existed (here: v1 files lack `value_cents`; v2 files
    * carry it), and the engine must union them WITHOUT a rewrite.
    * Stages the two generations as separate parquet dirs (event_id
    * parity standing in for write-time), reads them back in ONE scan
    * with mergeSchema=true (Spark resolves the superset schema;
    * missing columns surface as NULL — exactly the semantics a
    * 100 TB table migration needs, since rewriting history is the
    * thing you can't afford), and aggregates across generations:
    * per-type totals where legacy rows count but contribute zero
    * revenue. The oracle computes the same from the raw table — the
    * layout/generation split must never change results. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val stage = Stage("q179", dir)
    val ev = Tables.events(s, dir)
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(stage.path("v1"))
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .write.mode("overwrite").parquet(stage.path("v2"))
    // the schema merge is what this entry exercises: it stays inferred
    s.read.option("mergeSchema", "true")
      .parquet(stage.path("v1"), stage.path("v2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value_cents").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("value_cents"), lit(0L))).as("value_cents"))
  }

  /** q180: Z-ORDER layout locality audit — the multi-dimensional
    * clustering lever next to q82's bucketing (one key) and q138's
    * partitioning (one dimension): when queries filter on TWO
    * dimensions (user × day here), neither single-dimension sort
    * helps both; a Morton/Z-code interleaving their bits keeps
    * 2-D-close rows file-close. This query MEASURES that on the
    * events table: rows map to 16-cell blocks ("files") under (a)
    * Z-order and (b) row-major (user-then-day) layout, and a 4×4
    * aligned box query (u,d ∈ [8,11]) counts blocks it would touch
    * under each — the Z-layout's aligned box lands in ONE block
    * while row-major scatters it across one block PER user value.
    * The bit interleave is pure integer div/mod arithmetic (5 bits
    * per dimension), identical on both engines; one narrow pass +
    * one agg, no shuffle beyond the final fold. At 100 TB this
    * audit prices a re-layout before you pay for it: blocks touched
    * IS the I/O ratio. */
  def zorderLocality(s: SparkSession, dir: String): DataFrame = {
    val z = (0 until 5).map { i =>
      val pu = 1L << i; val pz = 1L << (2 * i + 1)
      val pd = 1L << i; val pzd = 1L << (2 * i)
      expr(s"((u div $pu) % 2) * $pz + ((d div $pd) % 2) * $pzd")
    }.reduce(_ + _)
    Tables.events(s, dir)
      .select((col("user_id") % 32).as("u"),
        expr("(ts div 86400000000) % 32").as("d"))
      .withColumn("z", z)
      .withColumn("zb", expr("z div 16"))
      .withColumn("lb", expr("(u * 32 + d) div 16"))
      .withColumn("in_box",
        col("u").between(8, 11) && col("d").between(8, 11))
      .agg(
        sum(when(col("in_box"), 1L).otherwise(0L)).as("n_box_rows"),
        countDistinct(col("zb")).as("z_blocks_total"),
        countDistinct(col("lb")).as("lin_blocks_total"),
        countDistinct(when(col("in_box"), col("zb"))).as("z_blocks_touched"),
        countDistinct(when(col("in_box"), col("lb"))).as("lin_blocks_touched"))
  }

  /** q251: PARTITION-LEVEL BLOOM pruning audit — the file-skipping
    * index the day-partitioned layout (q138) can't give a POINT
    * lookup: partition pruning skips by the PARTITION column; a
    * per-partition bloom over a high-cardinality column (user_id)
    * prices skipping partitions for "all events of user X" — the
    * lakehouse bloom-filter-index decision (bits per partition vs
    * partitions scanned), MEASURED before you pay for it, like
    * q139/q180 price clustering. Per day-partition: a 512-bit
    * 3-hash md5 bloom over its distinct users (deliberately tight —
    * ~0.58 fill at sf0.01 — so false positives are OBSERVABLE, not
    * a 1e-9 rounding ghost); probes: a deterministic ~1/16
    * hash-chosen user subset. Per probe user: partitions it truly
    * occupies, partitions the bloom makes a reader open (hits =
    * true + FPs — a bloom never misses, pinned by hit ≥ true), and
    * the skip rate the index buys. Shapes: one distinct
    * (day, user) rollup, bloom bit sets and probes are
    * bounded-by-|days|·bits tables; every decision is md5
    * arithmetic that replays exactly in the oracle. */
  def partitionBloomAudit(s: SparkSession, dir: String, bits: Int = 512,
      hashes: Int = 3, probeMod: Int = 16): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("ts div 86400000000").as("day"), col("user_id"))
      .distinct()
    def pos(r: Int, user: org.apache.spark.sql.Column) =
      pmod(Sampling.hashBucket(concat(lit(s"pb$r|"), user.cast("string"))),
        lit(bits.toLong))
    val bloomBits = du
      .select(col("day"), explode(array((0 until hashes).map(r =>
        pos(r, col("user_id"))): _*)).as("pos"))
      .distinct()
    val probes = du.select(col("user_id")).distinct()
      .filter(pmod(Sampling.hashBucket(concat(lit("probe|"),
        col("user_id").cast("string"))), lit(probeMod.toLong)) === 0L)
    val days = du.select(col("day")).distinct()
    val probeGrid = probes.crossJoin(days)
      .select(col("user_id"), col("day"), explode(array((0 until hashes).map(r =>
        pos(r, col("user_id"))): _*)).as("pos"))
    val hits = probeGrid
      .join(bloomBits, Seq("day", "pos"), "left_semi")
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_pos"))
      .filter(col("n_pos") === hashes)
      .select(col("user_id"), col("day"))
    val truth = du.join(probes, Seq("user_id"), "left_semi")
    val nDays = days.agg(count(lit(1)).as("n_days"))
    probes
      .join(hits.groupBy(col("user_id")).agg(count(lit(1)).as("hit_days")),
        Seq("user_id"), "left")
      .join(truth.groupBy(col("user_id")).agg(count(lit(1)).as("true_days")),
        Seq("user_id"), "left")
      .crossJoin(broadcast(nDays))
      .select(col("user_id"), col("n_days"),
        coalesce(col("true_days"), lit(0L)).as("true_days"),
        coalesce(col("hit_days"), lit(0L)).as("hit_days"),
        (coalesce(col("hit_days"), lit(0L)) -
          coalesce(col("true_days"), lit(0L))).as("fp_days"),
        expr("(n_days - coalesce(hit_days, 0)) * 1000000 div n_days")
          .as("skip_ppm"))
  }

  /** q258: DYNAMIC PARTITION PRUNING — the runtime half of q138's
    * layout story: static pruning needs the day literal IN the
    * query; production queries filter a DIMENSION ("weekend days")
    * and the partition set is only known at runtime. Spark's DPP
    * injects the dim-side filter result as a subquery into the
    * fact scan's PartitionFilters (a DynamicPruningExpression — the
    * broadcast feeding both the join and the scan), so only the
    * qualifying day directories are ever opened — at 100 TB the
    * difference between scanning 2/7 of the lake and all of it.
    * Gate: events staged day-partitioned (q138's layout), a
    * day-dimension built from the span with dow = (day+4)%7
    * (0=Sunday), weekend dim rows joined against the fact on the
    * partition column; the plan pin (PlanSpec) asserts the
    * dynamicpruning subquery is present; the oracle filters the raw
    * table with the same dow arithmetic — layout and pruning never
    * change results. */
  def dynamicPartitionPruning(s: SparkSession, dir: String): DataFrame = {
    dppJoined(s, dir, Stage("q258", dir).parquet("events_p",
        Tables.events(s, dir).withColumn("day", expr("ts div 86400000000")),
        "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  /** q258's fact⋈dim join over the already-staged layout — exposed
    * so PlanSpec can pin the DynamicPruningExpression on the scan
    * (run [[dynamicPartitionPruning]] first to stage; this reopens
    * the SAME path without wiping it, so its read infers). */
  private[graft] def dppStagedJoin(s: SparkSession, dir: String): DataFrame =
    dppJoined(s, dir,
      s.read.parquet(s"${Stage.path("q258", dir)}/events_p"))

  private def dppJoined(s: SparkSession, dir: String,
      fact: DataFrame): DataFrame = {
    val dim = Tables.events(s, dir)
      .agg(expr("min(ts div 86400000000)").as("d0"),
        expr("max(ts div 86400000000)").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .withColumn("dow", expr("(day + 4) % 7"))
      .filter(col("dow").isin(0L, 6L))
    fact.join(broadcast(dim), "day")
  }

  /** q273: SALTED ROWKEY POINT SCAN — the HBase read pattern the SEP
    * lineage materializes its tables for (SURVEY §1: rowkeys are
    * salted to spread hot key ranges across regions; a point read
    * recomputes the salt from the key and touches exactly one
    * region). Spark translation: the event log is staged partitioned
    * by `salt = pmod(xxhash64(user_id), S)` — the salt is a pure
    * function of the key, so a single-user scan carries a FOLDABLE
    * salt predicate and static partition pruning opens exactly ONE
    * of the S directories, however large the table. That 1/S bound
    * is the whole point at 100 TB: a per-user "get" costs one
    * directory listing + the matching row groups, never a lake scan
    * (PlanSpec pins the selected-partition count to 1). The salt is
    * layout-only — the oracle replays the plain filter on the raw
    * table, so the layout can never change results. The time range
    * on the sorted-within-partition layout is the HBase
    * reversed-timestamp scan bound, here served by parquet row-group
    * min/max on ts. */
  def rowkeyScan(s: SparkSession, dir: String,
      userId: Long = 7L, salts: Int = 16): DataFrame = {
    rowkeyScanOf(Stage("q273", dir).parquet("events_s", Tables.events(s, dir)
      .withColumn("salt", pmod(xxhash64(col("user_id")), lit(salts.toLong)))
      // salt FIRST: FileFormatWriter requires ordering by the partition
      // column and would inject its own (unstable) sort if unsatisfied,
      // destroying the (user_id, ts) clustering the row-group min/max
      // pruning story relies on
      .sortWithinPartitions(col("salt"), col("user_id"), col("ts")),
      "salt"), userId, salts)
  }

  /** q273's read half over an already-staged layout at `path` — split
    * out so the PlanSpec pin can reopen the scan WITHOUT re-staging
    * (and without the stage's fresh-start delete), so its read
    * infers. */
  private[graft] def rowkeyScanStaged(s: SparkSession, path: String,
      userId: Long, salts: Int): DataFrame =
    rowkeyScanOf(s.read.parquet(path), userId, salts)

  private def rowkeyScanOf(staged: DataFrame, userId: Long,
      salts: Int): DataFrame = {
    staged
      // foldable salt predicate == HBase's salt-from-key point read:
      // static partition pruning keeps exactly one of the S dirs
      // [2024-01-08, 2024-01-22) in epoch micros — Tables.events'
      // canonical integer event-time axis; served by row-group
      // min/max inside the one surviving salt directory
      .filter(col("salt") === pmod(xxhash64(lit(userId)), lit(salts.toLong)) &&
        col("user_id") === userId &&
        col("ts") >= 1704672000000000L && col("ts") < 1705881600000000L)
      .select(col("event_id"), col("ts").as("ts_us"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
  }

  /** q273's semantics on the RAW table (no salt layout) — the layout-
    * never-changes-results contract the PlanSpec pin asserts. */
  private[graft] def rowkeyScanRaw(s: SparkSession, dir: String,
      userId: Long = 7L): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id") === userId &&
        col("ts") >= 1704672000000000L && col("ts") < 1705881600000000L)
      .select(col("event_id"), col("ts").as("ts_us"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))

  /** q453: SALTED-ROWKEY WRITE-PATH AUDIT (round-15, VERDICT Next
    * #8) — q273 prices the READ side of the salted layout (point
    * scans open 1/S of the lake); this prices the WRITE side: does
    * ingest actually balance across the S salt buckets, both in
    * total and within every time window? A salt that balances totals
    * but funnels each hour's burst into one region (e.g. a modulo
    * salt over a round-robin key) still serializes the write path —
    * the q272 skew treatment applied to the layout the SEP lineage
    * shards. The audit STAGES the salted layout (the real write —
    * partitionBy(salt), one dir per region server) and reads its own
    * staged files back, so the numbers price the layout as written.
    * Per salt: total ingest, its load factor vs the uniform ideal
    * (n·S·10⁶ div total — 10⁶ = perfectly balanced), the peak
    * single-hour count and its share of the salt's traffic, and the
    * hot flag at the 1.25× threshold. The gated salt is the
    * oracle-replayable modulo salt; [[saltWriteAuditOf]] takes any
    * salt column (the spec also drives it with q273's xxhash64
    * salt). The corpus collapses map-side to the bounded (salt,
    * hour) grid — the audit itself is never the skew. */
  def saltWriteAudit(s: SparkSession, dir: String,
      salts: Int = 16): DataFrame = {
    saltWriteAuditOf(Stage("q453", dir).parquet("events_s",
        Tables.events(s, dir)
          .withColumn("salt", pmod(col("user_id"), lit(salts.toLong)))
          .repartition(col("salt")), // one file per salt dir, the q385 rule
        "salt"),
      col("salt"), salts)
  }

  /** Audit core over any salted frame — per-salt totals, load
    * factor, peak-hour burst. */
  private[graft] def saltWriteAuditOf(events: DataFrame,
      salt: org.apache.spark.sql.Column, salts: Int): DataFrame =
    saltAuditFromCells(
      events.groupBy(salt.cast("long").as("salt"),
          expr("ts div 3600000000").as("h"))
        .agg(count(lit(1)).as("n")),
      salts)

  /** Report tail over a pre-aggregated (salt, h, n) grid — shared
    * verbatim by batch q453 and the q471 stream read-out (the
    * gate-reuse discipline). */
  private[graft] def saltAuditFromCells(cellsIn: DataFrame,
      salts: Int): DataFrame = {
    val cells = cellsIn.localCheckpoint() // bounded: S × hours
    val perSalt = cells.groupBy(col("salt"))
      .agg(sum(col("n")).as("n_events"), max(col("n")).as("peak_hour_n"))
    val tot = perSalt.agg(sum(col("n_events")).as("n_total"))
    perSalt.crossJoin(broadcast(tot))
      .select(col("salt"), col("n_events"),
        // n·S·10⁶ wraps BIGINT past ~5.7e11 events — decimal
        // INTERNAL, BIGINT out (the round-14 representation rule)
        expr(s"""CAST(CAST(n_events AS DECIMAL(38,0)) * $salts
          | * 1000000 div n_total AS BIGINT)""".stripMargin)
          .as("load_factor_ppm"),
        col("peak_hour_n"),
        expr("""CAST(CAST(peak_hour_n AS DECIMAL(38,0)) * 1000000
          | div n_events AS BIGINT)""".stripMargin)
          .as("peak_share_ppm"))
      .withColumn("hot", col("load_factor_ppm") > 1250000L)
  }
}
