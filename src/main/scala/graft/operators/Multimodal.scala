package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.Tables

/** Multimodal column plumbing (SURVEY §2.F).
  *
  * Images/audio/video are opaque `binary` columns with typed metadata.
  * The container has no NATIVE decode libs (libjpeg/ffmpeg), so those
  * decode steps are clearly-marked deterministic fakes — but the
  * Spark plumbing (binary columns, schema, partition-iterator batch
  * shape, typed Encoders) is real, and THREE pure-JDK codec
  * families run on REAL bytes end-to-end: PPM P6 (q300/q321 —
  * pure-SQL parse of staged netpbm payloads), PNG/JPEG via
  * `javax.imageio` (q328/q329/q376/q386/q392 — real compressed
  * raster formats encoded AND decoded with the public JDK codec),
  * and WAV/PCM audio via `javax.sound.sampled` (q409 — RIFF
  * containers parsed back to exact integer samples). Video remains
  * the one honest digest stub (no pure-JDK codec exists).
  */
object Multimodal {

  case class BlobRow(doc_id: Long, blob: Array[Byte])

  /** The name a stager writes its (doc_id, blob) media table under,
    * inside the entry's [[Stage]]. Stagers encode in a single pass
    * over the documents' own partitions: a repartition before the
    * encode measured 2-3x slower across the staged-media family. */
  private val Media = "media"
  case class DecodedMeta(
      doc_id: Long, byte_len: Long, content_sha: String,
      width: Int, height: Int, n_frames: Int)

  /** q31: declarative metadata over binary columns — stays in
    * codegen, no decode needed. STUB dimensions: deterministic fakes
    * derived from the bytes (length mod, first 8 sha nibbles as an
    * int) — a real decoder would parse the container header here.
    * Every field is md5/sha/length math replayable by the oracle. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .select(
        col("doc_id"),
        length(col("blob")).cast("long").as("byte_len"),
        sha2(col("blob"), 256).as("content_sha"),
        (length(col("blob")) % 1920).cast("long").as("width"),
        (length(col("blob")) % 1080).cast("long").as("height"),
        (conv(substring(sha2(col("blob"), 256), 1, 8), 16, 10).cast("long") % 120)
          .as("n_frames"))

  /** q52: frame sampling — fixed-stride slices of the binary column,
    * one row per sampled frame with its digest (the video-keyframe /
    * audio-chunk extraction shape; substr on binary is codegen'd, the
    * explode parallelizes frames across the cluster). A real decoder
    * replaces the digest with pixels. Oracle-replayable because the
    * docs are ASCII (byte slices == char slices in DuckDB). */
  def frameSample(s: SparkSession, dir: String, frameBytes: Int = 64,
      maxFrames: Int = 8): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      // guard: Spark's sequence(0, -1) yields [0, -1], not [] — an
      // empty blob would emit phantom frames the oracle doesn't
      .filter(length(col("blob")) > 0)
      .withColumn("n_frames",
        least(ceil(length(col("blob")) / frameBytes.toDouble), lit(maxFrames.toLong)))
      .select(col("doc_id"), col("n_frames"),
        posexplode(expr(
          s"transform(sequence(0, CAST(n_frames AS INT) - 1), i -> " +
            s"sha2(substr(blob, i * $frameBytes + 1, $frameBytes), 256))"))
          .as(Seq("frame_idx", "frame_sha")))
      .select(col("doc_id"), col("n_frames"),
        col("frame_idx").cast("long").as("frame_idx"), col("frame_sha"))

  /** q113: perceptual-hash near-duplicate pairs over the binary
    * column — the image/video dedup shape, end-to-end: (1) a 64-bit
    * dHash-style difference hash per binary (bit i = byte i < byte
    * i+1 over the first 65 bytes — on decoded media these are the
    * downscaled-lightness gradient signs dHash uses; on the raw
    * bytes it is the same signal-gradient construction, honestly
    * decoder-free), packed to 16 hex nibbles in one narrow codegen
    * pass, no shuffle; (2) LSH banding ON THE HASH — 8 bands × 1
    * hex-byte key, band collision ⇒ candidate (equi-join, never a
    * cross join; pigeonhole: ≤ 7 of 64 bits wrong leaves ≥ 1 of the
    * 8 bands exactly matching — 100% recall below the gate's ≤ 8
    * threshold except the single corner of exactly 8 errors spread
    * one per band); (3) hamming-distance verify on
    * candidates only, hashes re-joined by id (shuffle-hash, the q24
    * pattern — the wide shuffle moves ids + 16-char hashes, never
    * binaries). Every stage is byte arithmetic the oracle replays
    * exactly. */
  /** 64-bit dHash per doc as 16 hex chars (shared by q113/q255). */
  private[graft] def dhashes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 65)
      .withColumn("bits", expr(
        "transform(sequence(1, 64), i -> IF(ascii(substring(text, i, 1)) < ascii(substring(text, i + 1, 1)), 1, 0))"))
      .select(col("doc_id"), expr(
        "concat_ws('', transform(sequence(0, 15), j -> substring('0123456789abcdef', " +
          "element_at(bits, j*4+1)*8 + element_at(bits, j*4+2)*4 + " +
          "element_at(bits, j*4+3)*2 + element_at(bits, j*4+4) + 1, 1)))").as("dhash"))

  /** Hamming distance between two 16-hex-char 64-bit signatures. */
  private[graft] def hexHamming64(a: String, b: String):
      org.apache.spark.sql.Column = expr(
    s"aggregate(transform(sequence(0, 15), j -> " +
      s"bit_count(CAST(instr('0123456789abcdef', substring($a, j+1, 1)) - 1 AS INT) ^ " +
      s"CAST(instr('0123456789abcdef', substring($b, j+1, 1)) - 1 AS INT))), 0, (acc, x) -> acc + x)")

  def phashNearDup(s: SparkSession, dir: String, maxHamming: Int = 8,
      bandChars: Int = 2): DataFrame = {
    // bandChars is the q24-style bucket-size knob: nBands = 16 /
    // bandChars bands of 16^bandChars buckets each. More chars per
    // band ⇒ exponentially more buckets (bounded bucket size as the
    // corpus grows) at the pigeonhole-recall trade (≤ nBands − 1 bit
    // errors guaranteed caught); coarser keys are refined by finer
    // ones, so raising the knob only shrinks the candidate set
    // (same subset property as q24's bandBits, spec-pinned).
    require(16 % bandChars == 0, "bandChars must divide 16")
    val nBands = 16 / bandChars
    // r18 (guide §1.2): pin the dHash frame — it feeds the band
    // self-join (both sides) AND both verify lookups, so un-pinned
    // the 64-comparator hash pass over the corpus ran four times.
    // One 16-char row per doc.
    val h = dhashes(s, dir).localCheckpoint()
    val bands = h.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> substring(dhash, b*$bandChars + 1, $bandChars))"))
      .as(Seq("band", "band_key")))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")).distinct()
    cands.join(h.toDF("id1", "h1").hint("shuffle_hash"), "id1")
      .join(h.toDF("id2", "h2").hint("shuffle_hash"), "id2")
      .withColumn("hamming", expr(
        "aggregate(transform(sequence(0, 15), j -> " +
          "bit_count(CAST(instr('0123456789abcdef', substring(h1, j+1, 1)) - 1 AS INT) ^ " +
          "CAST(instr('0123456789abcdef', substring(h2, j+1, 1)) - 1 AS INT))), 0, (acc, x) -> acc + x)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
  }

  /** q114: per-binary byte-entropy / size audit — the corrupt-media
    * detector run before any decode at scale (all-zero padding,
    * truncated containers, and double-compressed blobs separate
    * cleanly on Shannon byte entropy). Distributed histogram shape:
    * explode to (doc_id, byte) with map-side partial aggregation
    * (≤ |alphabet| rows per doc per partition cross the wire), then
    * q91's integer-sum entropy formulation — H = log2 n − Σc·log2 c
    * / n — rounded to 4 decimals for cross-engine parity. */
  def binaryEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bytes"),
        count(lit(1)).as("n_distinct_bytes"),
        sum(col("c") * log2(col("c"))).as("slc"))
      .select(col("doc_id"), col("n_bytes"), col("n_distinct_bytes"),
        round(log2(col("n_bytes")) - col("slc") / col("n_bytes"), 4)
          .as("entropy"))

  /** q127: content-addressed chunk dedup over the binary column — the
    * CAS/storage-dedup estimate a 100 TB media lake runs before
    * ingest: every blob split into fixed 64-byte chunks, each chunk
    * content-hashed (one narrow codegen pass — the q52 slice shape
    * without the frame cap), and the global report says how many
    * physical bytes a dedupe store would hold vs the logical bytes.
    * Shapes: explode to (chunk_sha, chunk_len) then ONE
    * map-side-combinable agg keyed by chunk hash (16-byte keys cross
    * the wire, never chunk bytes), folded to a constant-size report —
    * distinct-chunk accounting via min(chunk_len) per hash (identical
    * content ⇒ identical length; a sha collision would break dedup
    * itself, not just the report). Fixed-size chunking is the honest
    * codec-free cut; content-defined (rolling-hash) boundaries would
    * raise the dedup ratio on shifted content at the same plan shape. */
  def chunkDedup(s: SparkSession, dir: String, chunkBytes: Int = 64): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .filter(length(col("blob")) > 0) // q52's phantom-frame guard
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(ceil(length(blob) / $chunkBytes.0D) AS INT) - 1), " +
          s"i -> struct(sha2(substr(blob, i * $chunkBytes + 1, $chunkBytes), 256) AS sha, " +
          s"length(substr(blob, i * $chunkBytes + 1, $chunkBytes)) AS len))")).as("c"))
      .select(col("doc_id"), col("c.sha").as("sha"), col("c.len").cast("long").as("len"))
    chunks.groupBy(col("sha"))
      .agg(count(lit(1)).as("refs"), min(col("len")).as("clen"))
      .agg(count(lit(1)).as("n_distinct_chunks"),
        sum(col("refs")).as("n_chunks"),
        sum(col("refs") * col("clen")).as("logical_bytes"),
        sum(col("clen")).as("stored_bytes"))
      .select(col("n_chunks"), col("n_distinct_chunks"),
        col("logical_bytes"), col("stored_bytes"),
        round(lit(1.0) - col("stored_bytes") / col("logical_bytes").cast("double"), 4)
          .as("dedup_ratio"))
  }

  /** Partition-iterator decode path — the batch shape a native decoder
    * (libjpeg/ffmpeg via JNI, or an Arrow-batched python worker) needs:
    * one initialization per partition, streaming over rows. */
  def decodePartitions(s: SparkSession, dir: String): Dataset[DecodedMeta] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[BlobRow]
      .mapPartitions { rows =>
        // per-partition init happens HERE (decoder handle, model, ...)
        val decoder = new StubDecoder
        rows.map(r => decoder.decode(r))
      }
  }

  /** STUB: deterministic fake decoder — replace with a real codec. */
  final class StubDecoder extends Serializable {
    private val digest = java.security.MessageDigest.getInstance("SHA-256")
    def decode(r: BlobRow): DecodedMeta = {
      digest.reset()
      val sha = digest.digest(r.blob).map("%02x".format(_)).mkString
      val crc = new java.util.zip.CRC32()
      crc.update(r.blob)
      DecodedMeta(r.doc_id, r.blob.length.toLong, sha,
        r.blob.length % 1920, r.blob.length % 1080, (crc.getValue % 120).toInt)
    }
  }

  /** q186: media dedup CANONICAL keep-list — the full
    * pairs→clusters→keep-one pipeline for the binary modality (what
    * q106 is for text and q109's keeper stage is for embeddings),
    * completing the media-dedup story q113 starts: q113's
    * perceptual-hash near-dup pairs feed [[Dedup.components]]
    * (min-label over the hamming graph), and each cluster keeps the
    * LARGEST binary (most-complete encoding — media's quality
    * proxy, where text uses q48's source rank), ties to the
    * smallest id on the negated long (never a double cast). Output
    * is one row per cluster over the eligible (≥65-byte) corpus —
    * the keep-list a media-lake cleanup actually executes. Scale:
    * the pieces' own gated plans unchanged + one id-keyed join and
    * one max_by hash agg; at 100 TB the edge relation comes from
    * the persisted band index (q181's seam), not a re-band. */
  def mediaCanonical(s: SparkSession, dir: String): DataFrame = {
    val edges = phashNearDup(s, dir)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val eligible = Tables.documents(s, dir)
      .filter(length(col("text")) >= 65)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_bytes"))
    eligible
      .join(Dedup.components(edges), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bytes"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"),
          struct(col("n_bytes"), negate(col("doc_id")))).as("keep_id"),
        max(col("n_bytes")).as("keep_bytes"))
  }

  /** q225: SCENE-CUT detection over the sampled frame sequence —
    * the video-segmentation step between q52's frame extraction and
    * a per-scene embedding/captioning stage: consecutive frames
    * whose FEATURE distance exceeds a threshold mark a cut, and the
    * per-media cut count + mean inter-frame distance is the "is
    * this a slideshow or a single take?" triage a sampling budget
    * allocator reads. Feature = the first 32 bits of each q52 frame
    * digest (STUB: on decoded media this is a perceptual feature —
    * dHash/histogram — and the distance law is identical); distance
    * = Hamming via bit_count(xor), exact on both engines. Shape:
    * q52's narrow extraction, a lag() on the per-media window
    * (≤ maxFrames rows per partition — bounded, never corpus-wide),
    * one per-media agg; |docs| rows out. */
  def sceneCuts(s: SparkSession, dir: String, threshold: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frameSample(s, dir)
      .withColumn("f", conv(substring(col("frame_sha"), 1, 8), 16, 10).cast("long"))
      .withColumn("prev", lag(col("f"), 1).over(w))
      .withColumn("ham", expr("bit_count(f ^ prev)").cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        count(col("ham")).as("n_transitions"),
        sum(when(col("ham") >= threshold, 1L).otherwise(0L)).as("n_cuts"),
        sum(coalesce(col("ham"), lit(0L))).as("ham_sum"))
      .select(col("doc_id"), col("n_frames"), col("n_transitions"),
        col("n_cuts"),
        expr("ham_sum * 1000 div nullif(n_transitions, 0)").as("mean_ham_milli"))
  }

  /** q255: IMAGE↔TEXT ALIGNMENT filter — the LAION/CLIP-style "does
    * the caption match the image" gate a multimodal training
    * pipeline runs before paying for a pair: each doc's binary
    * (image stand-in) is encoded to a 64-bit code (the q113 dHash),
    * its text to another (q23's SimHash), and the pair's alignment
    * distance is their Hamming distance. The ENCODERS are the
    * clearly-marked stubs (a real pipeline swaps in CLIP image/text
    * embeddings and cosine — this container has no model weights);
    * the PLUMBING is the real thing and is what the gate pins:
    * pair-wise scoring stays narrow/codegen per row (no shuffle
    * until the rollup), the per-source report prices each feed's
    * alignment quality, and the threshold count is the drop
    * decision. Docs under 65 bytes carry no dHash and are excluded
    * (mirrored by the oracle). Stub distances are ~Binomial(64, ½)
    * — the audit shape, not a quality claim. */
  def alignmentFilter(s: SparkSession, dir: String,
      threshold: Int = 40): DataFrame = {
    val img = dhashes(s, dir)
    val txt = Dedup.simhash(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    img.join(txt.hint("shuffle_hash"), "doc_id")
      .join(src.hint("shuffle_hash"), "doc_id")
      .withColumn("dist", hexHamming64("dhash", "simhash").cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(dist) * 1000 div count(1)").as("mean_dist_milli"),
        max(col("dist")).as("max_dist"),
        sum(when(col("dist") > threshold, 1L).otherwise(0L))
          .as("n_misaligned"))
      .withColumn("misaligned_ppm",
        expr("n_misaligned * 1000000 div n_pairs"))
  }

  /** q291: MEDIA SHARD PACKING — the webdataset/tar-shard builder
    * every media training pipeline runs: blobs laid out in a
    * deterministic hash-shuffled order (reproducible "random"
    * interleave — no source runs) and cut into fixed-capacity
    * shards by BYTE OFFSET (a blob belongs to the shard its first
    * byte lands in; boundary straddlers counted — the resume/read
    * amplification knob). The global byte offset is TWO-PHASE, the
    * q246 rank machinery on bytes: per-hash-bin byte totals (bounded
    * grid) → exclusive prefix bases → within-bin running sums
    * (2^(32−binShift)-way parallel windows) — no task ever
    * prefix-sums the corpus. Report: per-shard blob count, bytes,
    * fill ppm, straddlers — the balance audit that decides whether
    * the capacity knob is right before a 100 TB re-encode. */
  def mediaShardPack(s: SparkSession, dir: String,
      capacityBytes: Long = 16384L, binShift: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blobs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("bytes"),
        Sampling.hashBucket(concat(lit("shard|"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("bin", expr(s"h div ${1L << binShift}"))
    val bases = blobs.groupBy(col("bin")).agg(sum(col("bytes")).as("bb"))
      .withColumn("base", coalesce(sum(col("bb")).over(
        Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bin"), col("base"))
    blobs.join(broadcast(bases), "bin")
      .withColumn("start", col("base") + sum(col("bytes")).over(
        Window.partitionBy(col("bin")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("bytes"))
      .withColumn("shard_id", expr(s"start div $capacityBytes"))
      .withColumn("straddle", expr(s"cast(start div $capacityBytes != " +
        s"(start + bytes - 1) div $capacityBytes as long)"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_blobs"), sum(col("bytes")).as("bytes"),
        sum(col("straddle")).as("n_straddlers"))
      .withColumn("fill_ppm", expr(s"bytes * 1000000 div $capacityBytes"))
  }

  /** q300: the REAL-PAYLOAD seam (round-10, VERDICT Next #6) — the
    * one multimodal gate that runs on ACTUAL image bytes end-to-end,
    * no digest stub. PPM P6 (netpbm) is a public format simple
    * enough to encode and parse in pure JVM/SQL: `P6\n<w> <h>\n255\n`
    * followed by w·h·3 raw pixel bytes.
    *
    * Stage: every document becomes a real P6 file — dimensions from
    * doc_id (w = id%13+4, h = id%7+3), pixel bytes the md5 hex chars
    * of the text repeated cyclically (legal 8-bit samples that keep
    * the whole file ASCII, which is what lets the parse stay in
    * codegen string ops — the seam for arbitrary bytes is
    * [[decodePartitions]]'s per-partition decoder). Written to
    * parquet as a binary column: a real on-disk media table.
    *
    * Parse: reads the staged table and decodes THE BYTES — magic
    * check, whitespace-scanned header ints, pixel-region offset from
    * the parsed header lengths, then sum/mean over the actual pixel
    * samples. Nothing flows from the generator to the parser except
    * the file; the DuckDB oracle predicts every field from the
    * generation formula, so the gate proves the encode→parse
    * round-trip is exact. Per-row work is O(bytes); no shuffle at
    * all — at 100 TB this is the embarrassingly-parallel scan shape
    * a decode pass should be. */
  def ppmDecode(s: SparkSession, dir: String): DataFrame =
    parsePpmHeader(stagePpmMedia(s, dir, Stage("q300", dir)))
      .withColumn("n_pixel_bytes", col("width") * col("height") * 3)
      .withColumn("sum_pixels", expr(
        "aggregate(transform(sequence(1, CAST(n_pixel_bytes AS INT)), " +
          "i -> CAST(ascii(substring(s, pix_off + i - 1, 1)) AS BIGINT)), " +
          "0L, (acc, x) -> acc + x)"))
      .select(col("doc_id"), col("is_p6"), col("width"), col("height"),
        col("maxval"), col("n_pixel_bytes"), col("sum_pixels"),
        expr("sum_pixels * 1000 div n_pixel_bytes").as("mean_pixel_milli"))

  /** The q300 encode stage: every document written as a REAL P6 file
    * (binary column) under the op's staging root — dims from doc_id,
    * pixel bytes the md5 hex chars cycled (legal 8-bit ASCII samples,
    * which is what keeps the parse in codegen string ops). Shared by
    * every real-payload multimodal gate so encode and parse meet
    * ONLY at the staged file. */
  private[graft] def stagePpmMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    stage.parquet(Media, Tables.documents(s, dir)
      .select(col("doc_id"),
        (col("doc_id") % 13 + 4).cast("int").as("w"),
        (col("doc_id") % 7 + 3).cast("int").as("h"),
        md5(col("text").cast("binary")).as("m"))
      .withColumn("np", expr("w * h * 3"))
      .withColumn("pix",
        expr("substring(repeat(m, CAST(ceil(np / 32.0) AS INT)), 1, np)"))
      .select(col("doc_id"),
        concat(lit("P6\n"), col("w").cast("string"), lit(" "),
          col("h").cast("string"), lit("\n255\n"), col("pix"))
          .cast("binary").as("blob")))
  }

  /** The q300 header parse over a staged (doc_id, blob) media table —
    * magic check, whitespace-scanned header ints, pixel-region offset
    * from the parsed lengths; oblivious to the encoder. */
  private[graft] def parsePpmHeader(media: DataFrame): DataFrame =
    media
      .withColumn("s", col("blob").cast("string"))
      .withColumn("is_p6", expr("substring(s, 1, 3) = 'P6\n'"))
      .withColumn("dim_line", expr("substring_index(substring(s, 4), '\n', 1)"))
      .withColumn("maxval_line", expr(
        "substring_index(substring(s, 4 + length(dim_line) + 1), '\n', 1)"))
      .withColumn("width", expr(
        "CAST(substring_index(dim_line, ' ', 1) AS BIGINT)"))
      .withColumn("height", expr(
        "CAST(substring_index(dim_line, ' ', -1) AS BIGINT)"))
      .withColumn("maxval", expr("CAST(maxval_line AS BIGINT)"))
      .withColumn("pix_off", expr(
        "3 + length(dim_line) + 1 + length(maxval_line) + 1 + 1"))

  /** q321: NEAREST-NEIGHBOR RESIZE on the real bytes (round-10) —
    * the thumbnail step of the decode→resize→featurize media
    * pipeline, run on q300's ACTUAL staged P6 payloads (no digest
    * stub): every image downsampled to a fixed 2×2 RGB thumbnail by
    * the classic integer index map src = (dst · src_dim) div
    * out_dim, each sample read straight out of the staged blob's
    * pixel region at its computed offset. Output is the thumbnail AS
    * A TABLE — (doc_id, ty, tx, channel, value) rows, 12 per image —
    * so the gate checks every sampled byte, not a digest of them.
    * Per-row work is O(out_pixels) regardless of source size (the
    * point of resize-before-featurize at 100 TB); narrow explode, no
    * shuffle anywhere. The DuckDB oracle predicts each sample from
    * the generation formula (byte k of the pixel region = md5 hex
    * char k mod 32) — parse and prediction meet only at the staged
    * file, proving the offset arithmetic exact. */
  def ppmResize(s: SparkSession, dir: String): DataFrame =
    parsePpmHeader(stagePpmMedia(s, dir, Stage("q321", dir)))
      .select(col("doc_id"), col("s"), col("pix_off"), col("width"),
        col("height"), explode(expr("sequence(0, 11)")).as("i"))
      .withColumn("ty", expr("i div 6"))
      .withColumn("tx", expr("(i div 3) % 2"))
      .withColumn("channel", expr("CAST(i % 3 AS BIGINT)"))
      .withColumn("sy", expr("(ty * height) div 2"))
      .withColumn("sx", expr("(tx * width) div 2"))
      .withColumn("value", expr("CAST(ascii(substring(s, " +
        "pix_off + ((sy * width + sx) * 3 + channel), 1)) AS BIGINT)"))
      .select(col("doc_id"), col("ty"), col("tx"), col("channel"),
        col("value"))

  // ---------------------------------------------------------------
  // q328/q329: REAL-CODEC PNG via javax.imageio (round-11, VERDICT
  // Next #2) — a real COMPRESSED raster format through the
  // decodePartitions mapPartitions seam: zlib-deflated scanlines,
  // filters, CRCs, the works, encoded and decoded by the public JDK
  // codec (pure JVM, no new jars). The pixel FORMULA is the only
  // thing the oracle shares with the generator — encode and decode
  // meet at the staged compressed file, so the gate proves the
  // round-trip through a real codec is pixel-exact.
  // ---------------------------------------------------------------

  /** Pixel formula shared by the PNG stage and (via SQL) the oracle:
    * channel c of pixel (x, y) in image doc_id. Kept to pure integer
    * arithmetic so DuckDB replays it exactly. */
  @inline private def pngPixel(id: Long, x: Int, y: Int, c: Int): Int =
    c match {
      case 0 => ((id + 3L * x + 5L * y) % 256).toInt
      case 1 => ((2L * id + 7L * x + 11L * y) % 256).toInt
      case _ => ((3L * id + 13L * x + 17L * y) % 256).toInt
    }

  /** The q328/q329 encode stage: every document becomes a REAL PNG
    * (binary column) — dims from doc_id (the q300 family: w = id%13+4,
    * h = id%7+3), RGB samples from [[pngPixel]], compressed by
    * `javax.imageio.ImageIO.write` ON THE EXECUTORS (mapPartitions —
    * one codec context per partition, the [[decodePartitions]] batch
    * shape). PNG is lossless 8-bit sRGB, so decode must return the
    * formula exactly. */
  private[graft] def stagePngMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    import s.implicits._
    stage.parquet(Media, Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (id % 13 + 4).toInt; val h = (id % 7 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (pngPixel(id, x, y, 0) << 16) |
                (pngPixel(id, x, y, 1) << 8) | pngPixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "blob"))
  }

  /** Per-partition PNG decode of a staged (doc_id, blob) media table
    * — `ImageIO.read` on the executors, pixels back out as sRGB
    * ints. The shared read path of q328/q329. */
  private def decodedPngs(s: SparkSession, media: DataFrame)
      : Dataset[(Long, Int, Int, Array[Int])] = {
    import s.implicits._
    media.as[BlobRow]
      .mapPartitions { rows =>
        // per-partition codec init happens HERE (ImageIO scans its
        // service registry once per task, not once per image)
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.blob))
          val w = img.getWidth; val h = img.getHeight
          (r.doc_id, w, h, img.getRGB(0, 0, w, h, null, 0, w))
        }
      }
  }

  /** q328: REAL PNG DECODE — metadata + per-channel pixel sums from
    * ACTUALLY DECODED bytes: the staged blobs are genuine deflate-
    * compressed PNGs, and every number here comes out of
    * `ImageIO.read`'s raster, not the generator. The DuckDB oracle
    * recomputes the sums from the pixel formula over the (x, y)
    * grid — agreement means the compressed round-trip reproduced
    * every sample of every image. Per-row work is O(pixels), no
    * shuffle — the embarrassingly-parallel scan shape a 100 TB
    * decode pass needs. */
  def pngDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedPngs(s, stagePngMedia(s, dir, Stage("q328", dir)))
      .map { case (id, w, h, px) =>
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < px.length) {
          val p = px(i)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          i += 1
        }
        (id, w.toLong, h.toLong, (w * h).toLong, sr, sg, sb)
      }
      .toDF("doc_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b")
      .withColumn("mean_gray_milli",
        expr("(sum_r + sum_g + sum_b) * 1000 div (n_pixels * 3)"))
  }

  /** q329: dHash on REAL decoded pixels — the perceptual fingerprint
    * of the media-dedup family (q113's phash neighborhood) computed
    * the production way: decode the compressed PNG, gray each sample
    * ((r+g+b) div 3), nearest-neighbor the gray plane onto a 9×8
    * grid (src = (dst·src_dim) div out_dim — q321's index map), and
    * emit each of the 64 horizontal-gradient bits as its OWN ROW
    * (doc_id, gy, gx, bit) — the gate checks every bit against the
    * oracle's formula replay, not a digest of them (and 64 rows
    * sidesteps signed-64-bit packing entirely). O(pixels) per row,
    * no shuffle. */
  def pngDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedPngs(s, stagePngMedia(s, dir, Stage("q329", dir)))
      .flatMap { case (id, w, h, px) =>
        def gray(gx: Int, gy: Int): Int = {
          val sx = gx * w / 9; val sy = gy * h / 8
          val p = px(sy * w + sx)
          (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        }
        for (gy <- 0 until 8; gx <- 0 until 8) yield
          (id, gy.toLong, gx.toLong,
            if (gray(gx, gy) > gray(gx + 1, gy)) 1L else 0L)
      }
      .toDF("doc_id", "gy", "gx", "bit")
  }

  /** q376: LUMINANCE HISTOGRAM on REAL decoded pixels (round-12) —
    * the per-image tonal profile (the thing auto-exposure filters,
    * dark/blank-frame detectors, and near-dup pre-filters read)
    * computed the production way: decode the staged deflate-
    * compressed PNG on the executors (the q328 seam), gray each
    * sample ((r+g+b) div 3), bucket into 8 bands of 32 gray levels,
    * one row per (image, bucket). The DuckDB oracle recomputes every
    * bucket count from the pixel formula over the (x, y) grid —
    * agreement means the codec round-trip reproduced every sample,
    * now checked at DISTRIBUTION grain (q328 checks channel sums —
    * a transposed raster would pass sums but not histograms).
    * O(pixels) per row, zero shuffle before the bounded per-image
    * agg. */
  def pngHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedPngs(s, stagePngMedia(s, dir, Stage("q376", dir)))
      .flatMap { case (id, w, h, px) =>
        val buckets = new Array[Long](8)
        var i = 0
        while (i < px.length) {
          val p = px(i)
          val gray = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
          buckets(gray / 32) += 1L
          i += 1
        }
        (0 until 8).map(b => (id, b.toLong, buckets(b)))
      }
      .toDF("doc_id", "bucket", "n_px")
  }

  /** The q386 encode stage: the q328 formula raster compressed as a
    * REAL JPEG (JDK ImageIO encoder on the executors, default
    * quality). Same dims/pixel formula as [[stagePngMedia]], so the
    * oracle knows the pre-compression raster exactly. */
  private[graft] def stageJpegMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    import s.implicits._
    stage.parquet(Media, Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (id % 13 + 4).toInt; val h = (id % 7 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (pngPixel(id, x, y, 0) << 16) |
                (pngPixel(id, x, y, 1) << 8) | pngPixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "blob"))
  }

  /** q386: REAL JPEG DECODE through the q328 ImageIO executor seam
    * (round-13) — the second COMPRESSED codec, and the first LOSSY
    * one, so the gate pins decoder-independent invariants instead of
    * exact pixels (Lee-grade exactness is a PNG property, not a JPEG
    * one): (a) metadata is EXACT — width/height/components survive
    * any conformant decoder; (b) the decoded per-image mean gray
    * must sit within a SELF-CARRIED tolerance (`tolMilli`,
    * spec-pinned far tighter than the gate bound) of the staged
    * formula raster's exact integer mean — JPEG's DC coefficients
    * carry block means nearly losslessly, so a sane round trip
    * cannot drift the global mean; (c) DOUBLE-DECODE is bit-
    * identical — decoding the same bytes twice in the same task must
    * give the same raster (a nondeterministic decoder would poison
    * every downstream dedup/fingerprint). The oracle replays the
    * formula mean and asserts the two booleans TRUE — failure of
    * either flips a row and fails the hash gate. O(pixels) per row,
    * no shuffle: the 100 TB decode-pass shape. */
  def jpegDecode(s: SparkSession, dir: String,
      tolMilli: Long = 8000L): DataFrame =
    jpegStats(s, dir).select(col("doc_id"), col("width"), col("height"),
      col("n_components"), col("mean_formula_milli"),
      (abs(col("mean_dec_milli") - col("mean_formula_milli")) <= tolMilli)
        .as("within_tol"),
      col("decode_stable"))

  /** Raw decode statistics behind [[jpegDecode]], with the decoded
    * mean still visible — the spec pins the OBSERVED deviation far
    * tighter than the gate tolerance here. */
  private[graft] def jpegStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    stageJpegMedia(s, dir, Stage("q386", dir)).as[BlobRow]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val img1 = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.blob))
          val img2 = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.blob))
          val w = img1.getWidth; val h = img1.getHeight
          val px1 = img1.getRGB(0, 0, w, h, null, 0, w)
          val px2 = img2.getRGB(0, 0, w, h, null, 0, w)
          val stable = java.util.Arrays.equals(px1, px2)
          val comps = img1.getColorModel.getNumComponents.toLong
          var dec = 0L
          var i = 0
          while (i < px1.length) {
            val p = px1(i)
            dec += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            i += 1
          }
          // exact pre-compression mean from the formula raster —
          // recomputed here, NOT decoded, so the tolerance check is
          // against ground truth the oracle shares
          var form = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              form += pngPixel(r.doc_id, x, y, 0) +
                pngPixel(r.doc_id, x, y, 1) + pngPixel(r.doc_id, x, y, 2)
              x += 1
            }
            y += 1
          }
          val n3 = 3L * w * h
          (r.doc_id, w.toLong, h.toLong, comps,
            form * 1000L / n3, dec * 1000L / n3, stable)
        }
      }
      .toDF("doc_id", "width", "height", "n_components",
        "mean_formula_milli", "mean_dec_milli", "decode_stable")
  }

  /** q392: CROSS-CODEC dHASH STABILITY (round-13) — the property the
    * whole perceptual-dedup family (q113/q329) rests on at 100 TB,
    * where the same image arrives PNG from one crawl and JPEG from
    * another: the fingerprint must survive the codec, or near-dup
    * recall silently splits by file format. Per doc: ONE formula
    * raster encoded through BOTH codecs on the executors, both
    * decoded, both fingerprinted with the BUCKETED dHash (the q329
    * 9×8 gradient grid over 32-level gray buckets — raw dHash
    * measures up to 36/64 flipped bits across codecs on the tiny
    * formula rasters because any near-equal adjacent pair sits
    * inside JPEG's noise band; bucketing is the standard robustness
    * trade). The gate carries (a) the PNG hash's popcount — EXACT,
    * formula-replayed by the oracle since PNG is lossless — and
    * (b) the PNG↔JPEG Hamming distance under a self-carried bound
    * (the q386 tolerance treatment; the spec pins the observed
    * maximum, 18, tighter than the 24 gate bound). What this prices
    * is the near-dup RADIUS a cross-codec fingerprint match needs —
    * measured, not assumed. O(pixels) per row, no shuffle. */
  def codecDhashStability(s: SparkSession, dir: String,
      maxHamming: Long = 24L): DataFrame =
    codecDhashStats(s, dir).select(col("doc_id"), col("png_bits_set"),
      (col("hamming") <= maxHamming).as("hamming_le_bound"))

  /** Raw cross-codec stats behind [[codecDhashStability]] (hamming
    * still visible for the spec pin). */
  private[graft] def codecDhashStats(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        // COARSENED gradient: compare 32-level gray buckets, not raw
        // grays — raw dHash flips whenever two adjacent samples are
        // within the codec's noise band (measured: up to 36/64 bits
        // on the tiny formula rasters), while a bucket boundary is
        // only crossed when the true gradient is small AND sits near
        // a multiple of 32. This is the production robust-fingerprint
        // trade: a little discrimination for codec invariance.
        def dhash(px: Array[Int], w: Int, h: Int): Array[Int] = {
          def grayB(gx: Int, gy: Int): Int = {
            val p = px((gy * h / 8) * w + (gx * w / 9))
            ((((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3) / 32
          }
          (for (gy <- 0 until 8; gx <- 0 until 8)
            yield if (grayB(gx, gy) > grayB(gx + 1, gy)) 1 else 0).toArray
        }
        ids.map { id =>
          val w = (id % 13 + 4).toInt; val h = (id % 7 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (pngPixel(id, x, y, 0) << 16) |
                (pngPixel(id, x, y, 1) << 8) | pngPixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          def roundTrip(fmt: String): Array[Int] = {
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, fmt, bos)
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            dec.getRGB(0, 0, w, h, null, 0, w)
          }
          val hp = dhash(roundTrip("png"), w, h)
          val hj = dhash(roundTrip("jpg"), w, h)
          val hamming = hp.zip(hj).count { case (a, b) => a != b }.toLong
          (id, hp.map(_.toLong).sum, hamming)
        }
      }
      .toDF("doc_id", "png_bits_set", "hamming")
  }

  /** q459: REAL BMP DECODE at ROW grain (round-15) — the fourth
    * still-image container through the ImageIO executor seam, and a
    * STRICTER exactness cut than its siblings: q328 checks
    * whole-image channel sums, q376 checks gray histograms; this
    * checks a per-SCANLINE gray checksum (doc, y, row_gray_sum), so
    * a vertically flipped or row-shuffled raster — which passes both
    * image-grain gates — fails here. BMP is uncompressed 24-bit
    * BGR, lossless by construction (round-trip verified exact for
    * the full formula grid), staged from the q328 pixel formula by
    * `ImageIO.write(…, "bmp")` on the executors. The oracle replays
    * each row sum from the formula. O(pixels) per row, no shuffle —
    * the 100 TB decode-pass shape. */
  def bmpDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Stage("q459", dir).parquet(Media,
      Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (id % 13 + 4).toInt; val h = (id % 7 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (pngPixel(id, x, y, 0) << 16) |
                (pngPixel(id, x, y, 1) << 8) | pngPixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "bmp", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "blob"))
    media.as[BlobRow]
      .flatMap { r =>
        javax.imageio.ImageIO.setUseCache(false)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.blob))
        val w = img.getWidth; val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        (0 until h).map { y =>
          var srow = 0L
          var x = 0
          while (x < w) {
            val p = px(y * w + x)
            srow += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) +
              (p & 0xff)) / 3
            x += 1
          }
          (r.doc_id, y.toLong, w.toLong, srow)
        }
      }
      .toDF("doc_id", "y", "width", "row_gray_sum")
  }

  /** q461: JPEG MARKER-SEGMENT INTROSPECTION (round-15) — binary
    * schema-on-read WITHOUT a codec: the container structure of the
    * staged q386 JPEGs parsed byte-for-byte (SOI, the marker chain's
    * length-prefixed segments, SOF0's dimensions/components, EOI) —
    * what an ingest pipeline runs to validate/route millions of
    * blobs BEFORE paying any decode (the q31 metadata idea taken
    * inside the container). The gate pins the oracle-replayable
    * invariants: SOF dimensions and component count must equal the
    * staged formula's, and the marker walk must terminate cleanly at
    * EOI (structure_valid — a truncated or misframed blob flips the
    * row). O(bytes) per row, zero decode, no shuffle. */
  def jpegMarkers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    stageJpegMedia(s, dir, Stage("q461", dir)).as[BlobRow]
      .map { r =>
        val (sofW, sofH, sofC, valid) = jpegMarkerWalk(r.blob)
        (r.doc_id, sofW, sofH, sofC, valid)
      }
      .toDF("doc_id", "sof_width", "sof_height", "n_components",
        "structure_valid")
  }

  /** The q461 marker walk over one blob — factored (round-16) so the
    * truncation contract is spec-pinned: ANY misframed or truncated
    * blob (length field past the buffer, SOF header cut short) flips
    * the row to structure_valid = false; the walk never throws.
    * Returns (sof_width, sof_height, n_components, structure_valid),
    * dimensions −1 when no complete SOF was seen. */
  private[graft] def jpegMarkerWalk(b: Array[Byte])
      : (Long, Long, Long, Boolean) = {
        var sofW = -1L; var sofH = -1L; var sofC = -1L
        // marker walk: FFD8, then FF-prefixed segments; SOS ends the
        // structured region (entropy-coded data follows, scan to EOI)
        var valid = false
        if (b.length >= 2 && (b(0) & 0xff) == 0xff &&
            (b(1) & 0xff) == 0xd8) {
          var i = 2
          var done = false
          var ok = true
          while (!done && ok && i + 1 < b.length) {
            if ((b(i) & 0xff) != 0xff) { ok = false }
            else {
              val m = b(i + 1) & 0xff
              if (m == 0xd9) { done = true; i += 2 } // EOI
              else if (m == 0xda) { // SOS: skip entropy data to EOI
                var j = b.length - 2
                var found = false
                while (j >= i && !found) {
                  if ((b(j) & 0xff) == 0xff && (b(j + 1) & 0xff) == 0xd9) {
                    found = true; done = true; i = j + 2
                  }
                  j -= 1
                }
                if (!found) ok = false
              } else if (m >= 0xd0 && m <= 0xd7) { i += 2 } // RSTn
              else {
                if (i + 3 >= b.length) ok = false
                else {
                  val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
                  // a segment whose declared length runs past the
                  // blob is misframed: flip the row invalid rather
                  // than throw (the documented truncation contract)
                  if (i + 2 + len > b.length) ok = false
                  else if (m == 0xc0 || m == 0xc1 || m == 0xc2) { // SOFn
                    // SOF payload needs 9 bytes past the marker
                    // (precision, H, W, components); a blob truncated
                    // INSIDE the SOF header is likewise invalid, not
                    // an ArrayIndexOutOfBounds crash
                    if (i + 9 >= b.length || len < 8) ok = false
                    else {
                      sofH = (((b(i + 5) & 0xff) << 8) |
                        (b(i + 6) & 0xff)).toLong
                      sofW = (((b(i + 7) & 0xff) << 8) |
                        (b(i + 8) & 0xff)).toLong
                      sofC = (b(i + 9) & 0xff).toLong
                    }
                  }
                  i += 2 + len
                }
              }
            }
          }
          valid = ok && done
        }
        (sofW, sofH, sofC, valid)
  }

  // ---------------------------------------------------------------
  // q409: REAL-CODEC AUDIO via javax.sound.sampled (round-14,
  // VERDICT Next #1) — the THIRD modality through the executor
  // decode seam, unlocked by the same pure-JDK argument as PNG
  // (q328) and JPEG (q386): WAV/PCM needs no native lib. Synthetic
  // 16-bit PCM waveforms are staged from a deterministic integer
  // sample formula, containerized by `AudioSystem.write` ON THE
  // EXECUTORS, and every number the gate checks comes back out of
  // `AudioSystem.getAudioInputStream` — header metadata AND the
  // samples themselves. WAV is LOSSLESS, so Lee-grade exactness
  // holds: the DuckDB oracle replays the sample formula and the
  // decoded integer stats must match bit for bit.
  // ---------------------------------------------------------------

  /** Sample formula shared by the WAV stage and (via SQL) the
    * oracle: frame f, channel c of waveform doc_id as a signed
    * 16-bit PCM sample. Pure integer arithmetic, DuckDB-replayable. */
  @inline private def wavSample(id: Long, f: Int, c: Int): Int =
    (((id * 31L + f.toLong * 17L + c.toLong * 7919L) % 65536L)
      - 32768L).toInt

  /** The q409 encode stage: every document becomes a REAL RIFF/WAVE
    * container (binary column) — mono or stereo from doc_id, frame
    * count and sample rate likewise, samples from [[wavSample]],
    * written little-endian 16-bit signed PCM through
    * `javax.sound.sampled.AudioSystem.write` on the executors (the
    * [[decodePartitions]] batch shape: one codec context per task). */
  private[graft] def stageWavMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    import s.implicits._
    stage.parquet(Media, Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val channels = (id % 2 + 1).toInt
          val frames = (id % 400 + 50).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val pcm = new Array[Byte](frames * channels * 2)
          var f = 0
          while (f < frames) {
            var c = 0
            while (c < channels) {
              val v = wavSample(id, f, c)
              val off = (f * channels + c) * 2
              pcm(off) = (v & 0xff).toByte
              pcm(off + 1) = ((v >> 8) & 0xff).toByte
              c += 1
            }
            f += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, channels, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "blob"))
  }

  /** Integer decode stats of ONE WAV blob — header metadata from the
    * parsed RIFF container plus exact sample accounting: sum,
    * sum-of-squares (the integer RMS carrier: rms = sqrt(sum_sq /
    * (frames·channels)) whenever a float is wanted downstream), and
    * channel-0 zero crossings (sign flips between consecutive
    * frames — the classic voiced/unvoiced & silence heuristic).
    * Factored per-blob so specs can pin constructed waveforms. */
  private[graft] def wavStatsOf(blob: Array[Byte])
      : (Long, Long, Long, Long, Long, Long) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob))
    val fmt = ais.getFormat
    val frames = ais.getFrameLength.toInt
    val channels = fmt.getChannels
    val rate = math.round(fmt.getSampleRate).toLong
    val bytes = ais.readAllBytes()
    var sum = 0L; var sumSq = 0L; var zc = 0L
    var prev0 = 0
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        val off = (f * channels + c) * 2
        // little-endian signed 16-bit: high byte sign-extends
        val v = (bytes(off) & 0xff) | (bytes(off + 1).toInt << 8)
        sum += v; sumSq += v.toLong * v
        if (c == 0) {
          if (f > 0 && ((prev0 < 0) != (v < 0))) zc += 1
          prev0 = v
        }
        c += 1
      }
      f += 1
    }
    (rate, channels.toLong, frames.toLong, sum, sumSq, zc)
  }

  /** q409: REAL WAV/PCM DECODE — metadata + exact integer sample
    * stats from ACTUALLY PARSED RIFF containers: the staged blobs
    * are genuine WAVE files and every number here comes out of
    * `AudioSystem.getAudioInputStream`, not the generator. The
    * DuckDB oracle recomputes rate/channels/frames and the sample
    * sums from the formula — agreement means the container round
    * trip reproduced every sample of every waveform exactly (WAV is
    * lossless, the q328 argument). Per-row work is O(frames), no
    * shuffle — the embarrassingly-parallel scan shape a 100 TB
    * decode pass needs. */
  def wavDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    stageWavMedia(s, dir, Stage("q409", dir)).as[BlobRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (rate, ch, fr, sum, sumSq, zc) = wavStatsOf(r.blob)
          (r.doc_id, rate, ch, fr, sum, sumSq, zc)
        }
      }
      .toDF("doc_id", "sample_rate", "n_channels", "n_frames",
        "sum_samples", "sum_sq", "zero_cross_ch0")
  }

  /** q460: AUDIO CLIPPING AUDIT on REAL decoded samples (round-15)
    * — the ingest data-quality gate every speech corpus runs before
    * training: clipped audio (samples pinned at full scale) carries
    * unrecoverable distortion, and the damning signal is not the
    * clipped COUNT but the longest clipped RUN (one-sample peaks are
    * benign, sustained rails are not). Per asset, channel 0 of the
    * PARSED RIFF container: frames, samples at |v| ≥ the 16-bit rail
    * threshold (32700), the longest consecutive clipped run, and the
    * clipped fraction in ppm. The DuckDB oracle replays the sample
    * formula over the frame grid including the run-length structure
    * (an island count over the per-doc frame sequence) — agreement
    * means the codec round trip reproduced sample ORDER, not just
    * sums. O(frames) per row, no shuffle. */
  def wavClipping(s: SparkSession, dir: String,
      rail: Int = 32700): DataFrame = {
    import s.implicits._
    stageWavMedia(s, dir, Stage("q460", dir)).as[BlobRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val v = wavCh0Of(r.blob)
          var nClip = 0L; var maxRun = 0L; var run = 0L
          var f = 0
          while (f < v.length) {
            if (math.abs(v(f)) >= rail) {
              nClip += 1; run += 1
              if (run > maxRun) maxRun = run
            } else run = 0
            f += 1
          }
          (r.doc_id, v.length.toLong, nClip, maxRun,
            nClip * 1000000L / math.max(v.length, 1))
        }
      }
      .toDF("doc_id", "n_frames", "n_clipped", "max_clip_run",
        "clipped_ppm")
  }

  /** Channel-0 samples of ONE decoded WAV blob — the per-blob decode
    * core the windowed audio ops (q413/q414/q415/q418) share. */
  private[graft] def wavCh0Of(blob: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob))
    val channels = ais.getFormat.getChannels
    val frames = ais.getFrameLength.toInt
    val bytes = ais.readAllBytes()
    val out = new Array[Int](frames)
    var f = 0
    while (f < frames) {
      val off = f * channels * 2
      out(f) = (bytes(off) & 0xff) | (bytes(off + 1).toInt << 8)
      f += 1
    }
    out
  }

  /** Decoded (doc_id, ch0 samples) over freshly staged WAV media —
    * the shared scan of the windowed audio family. */
  private def decodedWavCh0(s: SparkSession, dir: String, tag: String)
      : Dataset[(Long, Array[Int])] = {
    import s.implicits._
    stageWavMedia(s, dir, Stage(tag, dir)).as[BlobRow]
      .mapPartitions(rows => rows.map(r => (r.doc_id, wavCh0Of(r.blob))))
  }

  /** q413: WINDOWED AUDIO ENERGY PROFILE on REAL decoded samples —
    * the per-window accounting every silence trimmer, VAD
    * pre-filter, and loudness normalizer reads: channel 0 in
    * 50-frame windows, per window the frame count, exact energy
    * (Σv² — the integer RMS carrier), peak |sample|, and
    * within-window zero crossings. Every number comes out of the
    * PARSED RIFF container; the DuckDB oracle replays the sample
    * formula over the (frame, window) grid — agreement means the
    * codec round trip reproduced every sample at WINDOW grain (q409
    * checks whole-waveform sums; a frame-order scramble would pass
    * q409 but not this). O(frames) per row, no shuffle. */
  def wavEnergy(s: SparkSession, dir: String, winFrames: Int = 50)
      : DataFrame = {
    import s.implicits._
    decodedWavCh0(s, dir, "q413")
      .flatMap { case (id, v) =>
        val nWin = (v.length + winFrames - 1) / winFrames
        (0 until nWin).map { w =>
          val lo = w * winFrames
          val hi = math.min(lo + winFrames, v.length)
          var e = 0L; var peak = 0L; var zc = 0L
          var f = lo
          while (f < hi) {
            val x = v(f)
            e += x.toLong * x
            if (math.abs(x.toLong) > peak) peak = math.abs(x.toLong)
            if (f > lo && ((v(f - 1) < 0) != (x < 0))) zc += 1
            f += 1
          }
          (id, w.toLong, (hi - lo).toLong, e, peak, zc)
        }
      }
      .toDF("doc_id", "win", "n_f", "energy", "peak_abs", "zc_w")
  }

  /** q414: AUDIO DELTA-SIGN FINGERPRINT — the q329 dHash idea on the
    * time axis: per consecutive window pair, one bit = "energy
    * rose", the coarse loudness CONTOUR that survives gain changes
    * and re-encoding (what audio near-dup blocking actually keys
    * on). Bits emit as rows (doc_id, win, bit) so the gate checks
    * every bit against the oracle's formula replay. Waveforms with
    * one window emit no rows. */
  def wavFingerprint(s: SparkSession, dir: String, winFrames: Int = 50)
      : DataFrame = {
    import s.implicits._
    decodedWavCh0(s, dir, "q414")
      .flatMap { case (id, v) =>
        val e = windowEnergies(v, winFrames)
        (0 until e.length - 1).map(w =>
          (id, w.toLong, if (e(w) > e(w + 1)) 1L else 0L))
      }
      .toDF("doc_id", "win", "bit")
  }

  private def windowEnergies(v: Array[Int], winFrames: Int): Array[Long] = {
    val nWin = (v.length + winFrames - 1) / winFrames
    val e = new Array[Long](nWin)
    var f = 0
    while (f < v.length) {
      e(f / winFrames) += v(f).toLong * v(f)
      f += 1
    }
    e
  }

  /** q415: AUDIO DECIMATION (resample by integer factor) on REAL
    * decoded samples — the q321 nearest-neighbor-resize analog for
    * the time axis: keep every `factor`-th frame of channel 0 (the
    * 2:1 downsample a 16 kHz → 8 kHz pipeline stage performs, sans
    * anti-alias filter — deterministic integer selection, so WAV
    * losslessness makes the gate exact), and report the decimated
    * signal's exact integer stats. The oracle replays the formula at
    * the kept frames only — agreement means decode + decimate
    * touched exactly the right samples. */
  def wavResample(s: SparkSession, dir: String, factor: Int = 2)
      : DataFrame = {
    import s.implicits._
    decodedWavCh0(s, dir, "q415")
      .map { case (id, v) =>
        var sum = 0L; var sumSq = 0L; var zc = 0L; var n = 0L
        var prev = 0; var f = 0
        while (f < v.length) {
          if (f % factor == 0) {
            val x = v(f)
            sum += x; sumSq += x.toLong * x
            if (n > 0 && ((prev < 0) != (x < 0))) zc += 1
            prev = x; n += 1
          }
          f += 1
        }
        (id, n, sum, sumSq, zc)
      }
      .toDF("doc_id", "n_frames_ds", "sum_ds", "sum_sq_ds",
        "zero_cross_ds")
  }

  /** q418: FINGERPRINT STABILITY UNDER REQUANTIZATION — the q392
    * cross-codec dHash audit's audio analog, with an EXACT gate
    * where q392 needed a tolerance: requantizing 16-bit samples to
    * 8 bits and back (v' = (v div 256) · 256 — truncation toward
    * zero on both engines) is a deterministic integer formula, so
    * the oracle replays BOTH fingerprints and the per-doc hamming
    * exactly. The content claim: the delta-sign loudness contour
    * (q414) must be nearly invariant under the 8-bit quantization a
    * lossy/telephony re-encode applies — per doc the original bits
    * set, requantized bits set, and their hamming distance. */
  def wavQuantizeDhash(s: SparkSession, dir: String,
      winFrames: Int = 50): DataFrame = {
    import s.implicits._
    decodedWavCh0(s, dir, "q418")
      .map { case (id, v) =>
        val vq = v.map(x => (x / 256) * 256)
        val e = windowEnergies(v, winFrames)
        val eq = windowEnergies(vq, winFrames)
        var bitsOrig = 0L; var bitsQ = 0L; var ham = 0L
        var w = 0
        while (w < e.length - 1) {
          val b = e(w) > e(w + 1); val bq = eq(w) > eq(w + 1)
          if (b) bitsOrig += 1
          if (bq) bitsQ += 1
          if (b != bq) ham += 1
          w += 1
        }
        (id, (e.length - 1).toLong, bitsOrig, bitsQ, ham)
      }
      .toDF("doc_id", "n_bits", "bits_orig", "bits_quant", "hamming")
  }

  /** q419: STREAMING WAV DECODE under the oracle gate — q409's
    * per-blob decode run as a structured stream over the staged
    * media files (8 files per micro-batch), each batch appending
    * its decoded stats; the final table must
    * EQUAL batch q409 (same oracle SQL — the q401 argument: stats
    * are a pure per-blob function, so the streamed result is
    * batching- and replay-invariant, with replay duplicates
    * identical rows the final distinct collapses). The 100 TB shape:
    * media lands continuously, decode stats ride the ingest stream —
    * no second scan of the archive. */
  def streamWavStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stage = Stage("q419", dir)
    val stats = mediaStream(stage, stageWavMedia(s, dir, stage))
      .mapPartitions { rows =>
        rows.map { r =>
          val (rate, ch, fr, sum, sumSq, zc) = wavStatsOf(r.blob)
          (r.doc_id, rate, ch, fr, sum, sumSq, zc)
        }
      }.toDF("doc_id", "sample_rate", "n_channels", "n_frames",
        "sum_samples", "sum_sq", "zero_cross_ch0")
    stage.toParquet(stats, OutputMode.Append()).distinct()
  }

  /** The (doc_id, blob) `media` a stager wrote under `stage`, as a
    * stream of 8 files per micro-batch bound to the writer's schema. */
  private def mediaStream(stage: Stage, media: DataFrame)
      : Dataset[BlobRow] = {
    import media.sparkSession.implicits._
    media.sparkSession.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 8).parquet(stage.path(Media)).as[BlobRow]
  }

  /** Encode one channel-0 sample array as a real mono RIFF/WAVE blob
    * (16-bit signed LE PCM at 8 kHz) — the q420 twin-staging core. */
  private def encodeWavMono(v: Array[Int]): Array[Byte] = {
    val pcm = new Array[Byte](v.length * 2)
    var f = 0
    while (f < v.length) {
      pcm(2 * f) = (v(f) & 0xff).toByte
      pcm(2 * f + 1) = ((v(f) >> 8) & 0xff).toByte
      f += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, v.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** q420: AUDIO NEAR-DUP PAIRS end to end — the q22 MinHash-LSH
    * blocking discipline on the new modality, run over REAL decoded
    * bytes: every tenth waveform is also staged as its 8-bit
    * REQUANTIZED twin (id + 10⁷ — a simulated telephony re-encode,
    * the q418 transform), every staged blob is decoded and
    * fingerprinted (delta-sign loudness contour, 10-frame windows —
    * fine enough that unrelated waveforms don't collide), and pairs
    * are found the production way: BAND the fingerprint into 4
    * equal slices, equi-join on (n_bits, band, slice) — never blob ×
    * blob — and verify candidates with the exact hamming distance
    * (≤ maxHam). The staged twins are the planted ground truth: the
    * oracle replays fingerprints, banding, and verification from the
    * sample formula, so the gate checks the WHOLE retrieval
    * pipeline, not just the transform. */
  def wavNearDup(s: SparkSession, dir: String, winFrames: Int = 10,
      maxHam: Int = 2): DataFrame = {
    import s.implicits._
    val media = Stage("q420", dir).parquet(Media,
      Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val frames = (id % 400 + 50).toInt
          val v = Array.tabulate(frames)(f =>
            (((id * 31L + f.toLong * 17L) % 65536L) - 32768L).toInt)
          val orig = Seq((id, encodeWavMono(v)))
          if (id % 10 == 0)
            orig :+ ((id + 10000000L,
              encodeWavMono(v.map(x => (x / 256) * 256))))
          else orig
        }
      }.toDF("doc_id", "blob"))
    val fp = media.as[BlobRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val e = windowEnergies(wavCh0Of(r.blob), winFrames)
          val bits = (0 until e.length - 1)
            .map(w => if (e(w) > e(w + 1)) '1' else '0').mkString
          (r.doc_id, bits)
        }
      }.toDF("doc_id", "bits")
      .withColumn("nb", length(col("bits")).cast("long"))
      .filter(col("nb") >= 4)
      // r18 (guide step-2 per-task work): the energy-slope
      // fingerprint is ≤ 44 bits (≤ 449 frames / winFrames 10,
      // tumbling), so it fits ONE long — decode it once per doc and
      // verify candidates with bit_count(xor) instead of the old
      // per-bit substring compare (nb sequence allocs + 2·nb
      // substring calls per candidate pair; the pair volume is the
      // corpus' band-collision count, so that expression dominated
      // the whole query — 5.2 s of a 7.3 s run measured). Same
      // integer result: XOR popcount IS the per-position mismatch
      // count of the two equal-length bit strings.
      .withColumn("bl", conv(col("bits"), 2, 10).cast("long"))
      .localCheckpoint()
    // 4 equal bands by integer boundaries (band i covers
    // [i·nb div 4, (i+1)·nb div 4) — same formula both engines)
    val bands = fp.select(col("doc_id"), col("bl"), col("nb"),
      posexplode(expr(
        """transform(sequence(0, 3), i ->
          |  substring(bits, CAST(i * nb div 4 AS INT) + 1,
          |    CAST((i + 1) * nb div 4 - i * nb div 4 AS INT)))"""
          .stripMargin)))
      .toDF("doc_id", "bl", "nb", "band", "slice")
    val cand = bands.toDF("d1", "b1", "nb", "band", "slice").as("a")
      .join(bands.toDF("d2", "b2", "nb", "band", "slice")
        .hint("shuffle_hash").as("b"),
        Seq("nb", "band", "slice"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("b1"), col("b2"), col("nb"))
      .distinct()
    cand.withColumn("hamming",
        bit_count(expr("b1 ^ b2")).cast("long"))
      .filter(col("hamming") <= maxHam)
      .select(col("d1"), col("d2"), col("nb").as("n_bits"),
        col("hamming"))
  }

  /** q428: LOUDNESS-NORMALIZATION GAIN on REAL decoded samples — the
    * per-asset number a batch audio normalizer computes before
    * touching a sample: channel-0 RMS (sqrt is IEEE
    * correctly-rounded on every engine — the q202 argument — so the
    * milli-rounded chain is bit-stable cross-engine), the linear
    * gain that would bring it to the target RMS, and whether
    * applying that gain would CLIP (peak·gain past full scale —
    * exact integer compare, no float). O(frames) per row, zero
    * shuffle. */
  def wavGain(s: SparkSession, dir: String,
      targetRms: Long = 8000L): DataFrame = {
    import s.implicits._
    stageWavMedia(s, dir, Stage("q428", dir)).as[BlobRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val v = wavCh0Of(r.blob)
          var ssq = 0L; var peak = 0L
          var f = 0
          while (f < v.length) {
            ssq += v(f).toLong * v(f)
            if (math.abs(v(f).toLong) > peak) peak = math.abs(v(f).toLong)
            f += 1
          }
          (r.doc_id, v.length.toLong, ssq, peak)
        }
      }.toDF("doc_id", "n_frames", "sum_sq_ch0", "peak_abs")
      .withColumn("rms_milli", expr(
        "CAST(round(sqrt(CAST(sum_sq_ch0 AS DOUBLE) / n_frames)" +
          " * 1000) AS BIGINT)"))
      .withColumn("gain_milli", expr(
        s"CAST(round($targetRms * 1000 /" +
          " sqrt(CAST(sum_sq_ch0 AS DOUBLE) / n_frames)) AS BIGINT)"))
      .withColumn("would_clip",
        col("peak_abs") * col("gain_milli") > lit(32767000L))
  }

  // ---------------------------------------------------------------
  // q429+: REAL-CONTAINER VIDEO via YUV4MPEG2 (round-14) — the
  // FOURTH modality through the executor seam, and the brief's
  // "frame-sample" op on real bytes. Y4M is the public raw-video
  // interchange format (mjpegtools; every ffmpeg build reads and
  // writes it): an ASCII header line `YUV4MPEG2 W.. H.. F..:..`,
  // then per frame an ASCII `FRAME` line followed by raw planes.
  // That makes it the WAV of video — a genuine container with NO
  // native codec dependency, parseable byte-for-byte in pure JDK,
  // and LOSSLESS, so the Lee-grade exactness argument (q328/q409)
  // holds: the oracle replays the pixel formula and every decoded
  // number must match bit for bit. C444 keeps all three planes at
  // full resolution (no subsampling arithmetic to mirror).
  // ---------------------------------------------------------------

  /** Pixel formula shared by the Y4M stage and (via SQL) the oracle:
    * plane p (0=Y, 1=U, 2=V), frame f, raster index i of asset
    * doc_id as an unsigned 8-bit value. Pure integer arithmetic,
    * DuckDB-replayable. */
  @inline private def videoPixel(id: Long, f: Int, p: Int, i: Int): Int =
    ((id * 31L + f.toLong * 17L + p.toLong * 101L + i.toLong * 5L)
      % 256L).toInt

  /** The q429 encode stage: every document becomes a REAL YUV4MPEG2
    * container — header + per-frame `FRAME` markers + raw C444
    * planes — assembled ON THE EXECUTORS. Geometry, frame count and
    * frame rate all derive from doc_id so the oracle can replay
    * them; pixels come from [[videoPixel]]. */
  private[graft] def stageY4mMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    import s.implicits._
    stage.parquet(Media, Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + (id % 3) * 2).toInt
          val h = (4 + (id % 2) * 2).toInt
          val frames = (id % 12 + 4).toInt
          val fpsNum = (24 + id % 2).toInt
          (id, encodeY4m(id, w, h, frames, fpsNum))
        }
      }.toDF("doc_id", "blob"))
  }

  /** Assemble one genuine Y4M blob (header, FRAME markers, raw C444
    * planes from [[videoPixel]]) — factored so specs can stage
    * constructed assets. */
  private[graft] def encodeY4m(id: Long, w: Int, h: Int, frames: Int,
      fpsNum: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bos.write(s"YUV4MPEG2 W$w H$h F$fpsNum:1 Ip A1:1 C444\n"
      .getBytes(ascii))
    var f = 0
    while (f < frames) {
      bos.write("FRAME\n".getBytes(ascii))
      var p = 0
      while (p < 3) {
        var i = 0
        while (i < w * h) {
          bos.write(videoPixel(id, f, p, i))
          i += 1
        }
        p += 1
      }
      f += 1
    }
    bos.toByteArray
  }

  /** Parsed Y4M asset: stream header metadata + the luma plane of
    * every frame (chroma planes are summed, not kept — the decode
    * ops read luma). Strict parse: a malformed magic, a missing
    * geometry tag, an unexpected colourspace, or a truncated frame
    * all throw — the gate must never pass on bytes the parser
    * guessed through. */
  private[graft] case class Y4mAsset(width: Int, height: Int,
      fpsNum: Int, fpsDen: Int, luma: Array[Array[Int]],
      uSum: Long, vSum: Long)

  /** Parse one Y4M blob byte-for-byte (pure JDK). */
  private[graft] def y4mParse(blob: Array[Byte]): Y4mAsset = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    var pos = blob.indexOf('\n'.toByte)
    require(pos > 0, "missing Y4M header terminator")
    val header = new String(blob, 0, pos, ascii)
    pos += 1
    val toks = header.split(' ')
    require(toks(0) == "YUV4MPEG2", s"bad magic: ${toks(0)}")
    var w = -1; var h = -1; var fn = -1; var fd = -1
    var cs = "C420jpeg" // the Y4M default when no C tag is present
    toks.iterator.drop(1).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'F' =>
          val r = t.substring(1).split(':')
          fn = r(0).toInt; fd = r(1).toInt
        case 'C' => cs = t
        case _   => () // Ip / A1:1 / X comments — legal, unused here
      }
    }
    require(w > 0 && h > 0 && fn > 0 && fd > 0,
      s"incomplete Y4M geometry: $header")
    require(cs == "C444", s"unsupported colourspace $cs (C444 only)")
    val planeLen = w * h
    val luma = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var uSum = 0L; var vSum = 0L
    while (pos < blob.length) {
      val nl = blob.indexOf('\n'.toByte, pos)
      require(nl > 0, "missing FRAME terminator")
      val marker = new String(blob, pos, nl - pos, ascii)
      require(marker == "FRAME" || marker.startsWith("FRAME "),
        s"bad frame marker: $marker")
      pos = nl + 1
      require(pos + 3 * planeLen <= blob.length, "truncated frame")
      val y = new Array[Int](planeLen)
      var i = 0
      while (i < planeLen) { y(i) = blob(pos + i) & 0xff; i += 1 }
      luma += y
      i = 0
      while (i < planeLen) {
        uSum += blob(pos + planeLen + i) & 0xff
        vSum += blob(pos + 2 * planeLen + i) & 0xff
        i += 1
      }
      pos += 3 * planeLen
    }
    Y4mAsset(w, h, fn, fd, luma.toArray, uSum, vSum)
  }

  /** Decoded (doc_id, asset) over freshly staged Y4M media — the
    * shared scan of the video family. */
  private def decodedY4m(s: SparkSession, dir: String, tag: String)
      : Dataset[(Long, Y4mAsset)] = {
    import s.implicits._
    stageY4mMedia(s, dir, Stage(tag, dir)).as[BlobRow]
      .mapPartitions(rows => rows.map(r => (r.doc_id, y4mParse(r.blob))))
  }

  /** q429: REAL Y4M VIDEO DECODE — header metadata + exact integer
    * pixel stats from ACTUALLY PARSED YUV4MPEG2 containers: the
    * staged blobs are genuine Y4M streams and every number here
    * comes out of [[y4mParse]]'s byte walk, not the generator. The
    * DuckDB oracle recomputes geometry/fps/frame-count and the
    * plane sums from the pixel formula — agreement means the
    * container round trip reproduced every byte of every frame
    * (Y4M is lossless, the q409 argument). Per-row work is
    * O(frames·pixels), no shuffle — the embarrassingly-parallel
    * scan shape a 100 TB decode pass needs. */
  def y4mDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedY4m(s, dir, "q429")
      .map { case (id, a) =>
        var ySum = 0L; var ySumSq = 0L
        var yMin = 255L; var yMax = 0L
        a.luma.foreach { fr =>
          var i = 0
          while (i < fr.length) {
            val v = fr(i).toLong
            ySum += v; ySumSq += v * v
            if (v < yMin) yMin = v
            if (v > yMax) yMax = v
            i += 1
          }
        }
        (id, a.width.toLong, a.height.toLong, a.luma.length.toLong,
          a.fpsNum.toLong, ySum, ySumSq, yMin, yMax, a.uSum, a.vSum)
      }
      .toDF("doc_id", "width", "height", "n_frames", "fps_num",
        "y_sum", "y_sum_sq", "y_min", "y_max", "u_sum", "v_sum")
  }

  /** q430: FRAME SAMPLING on REAL decoded video — the brief's
    * frame-sample op: keep every `every`-th frame (the deterministic
    * stride a contact-sheet / preview / training-frame extractor
    * uses), and report each KEPT frame's exact luma sum and
    * sum-of-squares. Gate at FRAME grain: a frame-order scramble or
    * an off-by-one stride would pass q429's whole-asset sums but not
    * this (the q413 windowed-gate argument). O(frames·pixels) per
    * row, no shuffle. */
  def videoFrameSample(s: SparkSession, dir: String, every: Int = 3)
      : DataFrame = {
    import s.implicits._
    decodedY4m(s, dir, "q430")
      .flatMap { case (id, a) =>
        a.luma.indices.collect { case f if f % every == 0 =>
          var sum = 0L; var sumSq = 0L
          val fr = a.luma(f)
          var i = 0
          while (i < fr.length) {
            sum += fr(i); sumSq += fr(i).toLong * fr(i); i += 1
          }
          (id, f.toLong, sum, sumSq)
        }
      }
      .toDF("doc_id", "frame", "y_sum", "y_sum_sq")
  }

  /** q431: MOTION PROFILE / SHOT-BOUNDARY SCAN on REAL decoded video
    * — the classic cut detector: per consecutive frame pair the
    * exact luma SAD (Σ|y_f − y_{f−1}| over the raster) and a cut
    * flag by integer compare against a per-pixel threshold
    * (sad ≥ thresholdPerPx·w·h — no float). This is the q414
    * delta-contour idea at full pixel grain: the number scene-split
    * preprocessing (dedup by shot, thumbnail selection, training
    * clip segmentation) runs on every archive pass. O(frames·pixels)
    * per row, no shuffle; single-frame assets honestly emit no
    * rows. */
  def videoMotion(s: SparkSession, dir: String,
      thresholdPerPx: Int = 30): DataFrame = {
    import s.implicits._
    decodedY4m(s, dir, "q431")
      .flatMap { case (id, a) =>
        (1 until a.luma.length).map { f =>
          val cur = a.luma(f); val prev = a.luma(f - 1)
          var sad = 0L
          var i = 0
          while (i < cur.length) {
            sad += math.abs(cur(i) - prev(i)); i += 1
          }
          (id, f.toLong, sad,
            sad >= thresholdPerPx.toLong * a.width * a.height)
        }
      }
      .toDF("doc_id", "frame", "sad", "is_cut")
  }

  /** q432: STREAMING Y4M DECODE under the oracle gate — q429's
    * per-blob decode run as a structured stream over the staged
    * media (8 files per micro-batch), final
    * table ≡ batch q429 (same oracle SQL — the q419 argument: decode
    * stats are a pure per-blob function, so the streamed result is
    * batching- and replay-invariant, replay duplicates identical
    * rows the final distinct collapses). The 100 TB shape: video
    * lands continuously, decode stats ride the ingest stream — no
    * second scan of the archive. */
  def streamY4mStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stage = Stage("q432", dir)
    val stats = mediaStream(stage, stageY4mMedia(s, dir, stage)).map { r =>
      val a = y4mParse(r.blob)
      var ySum = 0L; var ySumSq = 0L
      var yMin = 255L; var yMax = 0L
      a.luma.foreach { fr =>
        var i = 0
        while (i < fr.length) {
          val v = fr(i).toLong
          ySum += v; ySumSq += v * v
          if (v < yMin) yMin = v
          if (v > yMax) yMax = v
          i += 1
        }
      }
      (r.doc_id, a.width.toLong, a.height.toLong,
        a.luma.length.toLong, a.fpsNum.toLong, ySum, ySumSq,
        yMin, yMax, a.uSum, a.vSum)
    }.toDF("doc_id", "width", "height", "n_frames", "fps_num",
      "y_sum", "y_sum_sq", "y_min", "y_max", "u_sum", "v_sum")
    stage.toParquet(stats, OutputMode.Append()).distinct()
  }

  /** Temporal luma fingerprint of one parsed asset: per consecutive
    * frame pair one bit = "mean luma rose" (frame-sum compare — the
    * q414 delta-sign contour at frame grain). Chroma-blind by
    * construction: a recolour/regrade leaves it untouched. */
  private[graft] def temporalBits(a: Y4mAsset): String =
    (1 until a.luma.length).map { f =>
      if (a.luma(f).sum > a.luma(f - 1).sum) '1' else '0'
    }.mkString

  /** q433: VIDEO NEAR-DUP RETRIEVAL end to end — the q420 blocking
    * discipline on the fourth modality over REAL decoded pixels:
    * every tenth asset is also staged as its CHROMA-SHIFTED twin
    * (id + 10⁷, U/V planes +16 mod 256 — a simulated regrade;
    * luma untouched), every staged blob is parsed and temporally
    * fingerprinted ([[temporalBits]]), and pairs are found the
    * production way: band the fingerprint into 4 equal slices,
    * equi-join on (n_bits, band, slice) — never blob × blob — and
    * verify candidates by exact hamming (≤ maxHam). The twins are
    * planted ground truth the oracle replays from the pixel formula
    * (luma-identical ⇒ hamming 0), so the gate checks the WHOLE
    * retrieval pipeline: decode, fingerprint, banding, verification. */
  def videoNearDup(s: SparkSession, dir: String, maxHam: Int = 1)
      : DataFrame = {
    import s.implicits._
    val fp = stageVideoTwinMedia(s, dir, Stage("q433", dir)).as[BlobRow]
      .mapPartitions { rows =>
        rows.map(r => (r.doc_id, temporalBits(y4mParse(r.blob))))
      }.toDF("doc_id", "bits")
    videoNearDupOf(fp, maxHam)
  }

  /** [[stageVideoTwinMedia]] under the stage of `tag`, returning the
    * staged table's path. */
  private[graft] def stageVideoTwinMedia(s: SparkSession, dir: String,
      tag: String): String = {
    val stage = Stage(tag, dir)
    stageVideoTwinMedia(s, dir, stage)
    stage.path(Media)
  }

  /** Stage base assets + planted chroma-shifted twins (every tenth
    * asset; id + 10⁷, U/V +16 mod 256, luma untouched) — shared by
    * batch q433 and streaming q435. */
  private[graft] def stageVideoTwinMedia(s: SparkSession, dir: String,
      stage: Stage): DataFrame = {
    import s.implicits._
    // Twin ids live at doc_id + 10⁷ — a corpus with doc_id ≥ 10⁷
    // would silently collide twins with real assets, corrupting the
    // planted ground truth on BOTH engines (parity would still pass,
    // hiding it). Refuse loudly instead (round-15, ADVICE).
    val maxId = Tables.documents(s, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    require(maxId < 10000000L, s"twin-id keyspace collision: " +
      s"max(doc_id)=$maxId >= 1e7 — widen the twin offset")
    stage.parquet(Media, Tables.documents(s, dir).select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val w = (4 + (id % 3) * 2).toInt
          val h = (4 + (id % 2) * 2).toInt
          val frames = (id % 12 + 4).toInt
          val fpsNum = (24 + id % 2).toInt
          val base = encodeY4m(id, w, h, frames, fpsNum)
          if (id % 10 == 0) {
            // chroma-shifted twin: reparse-proof — rebuild from the
            // formula with U/V (p ≥ 1) values +16 mod 256
            val bos = new java.io.ByteArrayOutputStream()
            val ascii = java.nio.charset.StandardCharsets.US_ASCII
            bos.write(s"YUV4MPEG2 W$w H$h F$fpsNum:1 Ip A1:1 C444\n"
              .getBytes(ascii))
            var f = 0
            while (f < frames) {
              bos.write("FRAME\n".getBytes(ascii))
              var p = 0
              while (p < 3) {
                var i = 0
                while (i < w * h) {
                  val v = videoPixel(id, f, p, i)
                  bos.write(if (p == 0) v else (v + 16) % 256)
                  i += 1
                }
                p += 1
              }
              f += 1
            }
            Seq((id, base), (id + 10000000L, bos.toByteArray))
          } else Seq((id, base))
        }
      }.toDF("doc_id", "blob"))
  }

  /** The q433 retrieval tail over a (doc_id, bits) fingerprint frame
    * — shared verbatim by batch q433 and the streamed store read of
    * q435 (the gate-reuse discipline: the tail must not know where
    * the fingerprints came from). */
  private[graft] def videoNearDupOf(fpRaw: DataFrame, maxHam: Int)
      : DataFrame = {
    val fp = fpRaw
      .withColumn("nb", length(col("bits")).cast("long"))
      .filter(col("nb") >= 4)
      // r18: the temporal fingerprint is ≤ 14 bits (≤ 15 frames per
      // asset), so it fits ONE long — verify candidates with
      // bit_count(xor) instead of a per-bit substring compare (the
      // q420 fix; identical mismatch count by construction).
      .withColumn("bl", conv(col("bits"), 2, 10).cast("long"))
      .localCheckpoint()
    val bands = fp.select(col("doc_id"), col("bl"), col("nb"),
      posexplode(expr(
        """transform(sequence(0, 3), i ->
          |  substring(bits, CAST(i * nb div 4 AS INT) + 1,
          |    CAST((i + 1) * nb div 4 - i * nb div 4 AS INT)))"""
          .stripMargin)))
      .toDF("doc_id", "bl", "nb", "band", "slice")
    val cand = bands.toDF("d1", "b1", "nb", "band", "slice").as("a")
      .join(bands.toDF("d2", "b2", "nb", "band", "slice")
        .hint("shuffle_hash").as("b"),
        Seq("nb", "band", "slice"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("b1"), col("b2"), col("nb"))
      .distinct()
    cand.withColumn("hamming",
        bit_count(expr("b1 ^ b2")).cast("long"))
      .filter(col("hamming") <= maxHam)
      .select(col("d1"), col("d2"), col("nb").as("n_bits"),
        col("hamming"))
  }

  /** q435: STREAMING VIDEO FINGERPRINT INDEX — the q326/q385/q412
    * continuous-index treatment on the fourth modality: media lands
    * continuously (maxFilesPerTrigger batches over the staged
    * base+twin archive), each batch decodes and temporally
    * fingerprints its blobs and APPENDS (doc_id, bits) to the
    * store; replay re-appends identical rows (the fingerprint is a
    * pure per-blob function) that the read's distinct collapses —
    * at-least-once + idempotent, the SEP delivery contract. The
    * UNCHANGED q433 retrieval tail runs over the maintained store;
    * gate = the q433 oracle verbatim. The 100 TB shape: the
    * near-dup index rides the ingest stream, with per-batch cost
    * |batch| decodes + one bounded append — the archive is never
    * rescanned to rebuild fingerprints. */
  def streamVideoFp(s: SparkSession, dir: String, maxHam: Int = 1)
      : DataFrame = {
    import s.implicits._
    val stage = Stage("q435", dir)
    val fps = mediaStream(stage, stageVideoTwinMedia(s, dir, stage))
      .mapPartitions { rows =>
        rows.map(r => (r.doc_id, temporalBits(y4mParse(r.blob))))
      }.toDF("doc_id", "bits")
    videoNearDupOf(stage.toParquet(fps, OutputMode.Append()).distinct(),
      maxHam)
  }

  /** q448: PER-SHOT VIDEO STATS — q431's cut detector composed into
    * the segmentation it exists for: frames between consecutive cuts
    * form a SHOT (shot id = running count of cut boundaries — frame
    * 0 opens shot 0, every flagged frame opens the next), and each
    * shot reports its exact frame span and luma mass. This is the
    * grain video curation actually operates at — dedup by shot,
    * thumbnail per shot, clip sampling per shot — and the per-shot
    * rows are what a per-scene embedder consumes. Same SAD/threshold
    * arithmetic as q431 (exact integer, 30/px), computed inside the
    * per-blob decode pass: O(frames·px) per row, zero shuffle, the
    * oracle replays pixels → SADs → cut flags → the cumulative shot
    * id → the per-shot group. */
  def videoShots(s: SparkSession, dir: String,
      thresholdPerPx: Int = 30): DataFrame = {
    import s.implicits._
    decodedY4m(s, dir, "q448")
      .flatMap { case (id, a) =>
        val npx = a.width * a.height
        val sums = a.luma.map { fr =>
          var sm = 0L; var sq = 0L
          var i = 0
          while (i < fr.length) {
            sm += fr(i); sq += fr(i).toLong * fr(i); i += 1
          }
          (sm, sq)
        }
        var shot = 0L
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        var f = 0
        while (f < a.luma.length) {
          if (f > 0) {
            val cur = a.luma(f); val prev = a.luma(f - 1)
            var sad = 0L
            var i = 0
            while (i < cur.length) {
              sad += math.abs(cur(i) - prev(i)); i += 1
            }
            if (sad >= thresholdPerPx.toLong * npx) shot += 1
          }
          rows += ((id, shot, f.toLong, 1L, sums(f)._1, sums(f)._2))
          f += 1
        }
        rows.groupBy(r => r._2).map { case (sh, rs) =>
          (id, sh, rs.map(_._3).min, rs.size.toLong,
            rs.map(_._5).sum, rs.map(_._6).sum)
        }
      }
      .toDF("doc_id", "shot", "first_frame", "n_frames", "y_sum",
        "y_sum_sq")
  }
}
