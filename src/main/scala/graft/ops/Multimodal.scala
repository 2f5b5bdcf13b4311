package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Artifacts

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * payloads as opaque `binary` columns with a typed metadata struct, plus the
  * operations a 100-TB media pipeline runs over them — decode/feature-extract
  * (stubbed codec, real distributed plumbing), frame sampling, and per-type
  * stats.
  *
  * The testdata has no real media files (and this container has no
  * image/audio codecs), so [[mediaTable]] derives a deterministic synthetic
  * media table from `documents`: payload = UTF-8 bytes of `text`, modality
  * assigned round-robin by doc_id. What is REAL and load-bearing here is the
  * Spark side: the schema contract (`payload binary, meta struct`), the
  * batched per-partition execution shape of [[extractFeatures]] (the same
  * iterator-of-batches contract a Pandas-UDF/`mapInPandas` decode has in
  * PySpark), and the pure-column [[frameSample]]. A real deployment swaps
  * [[FeatureCodec.decode]] for an actual codec and nothing else moves.
  */
object Multimodal {

  val Modalities = Seq("image/png", "audio/wav", "video/mp4")
  val FrameBytes = 64 // synthetic fixed-size "frame" within a payload

  /** Media table: one row per document — `doc_id, payload (binary), meta
    * (mime, n_bytes)`. Deterministic; both engines can derive it identically.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val mime = element_at(
      array(Modalities.map(lit): _*), (col("doc_id") % 3).cast("int") + 1)
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        mime.as("mime"),
        length(col("text").cast("binary")).as("n_bytes")).as("meta"))
  }

  /** Per-modality stats — the kind of scan a pipeline runs before deciding
    * how to shard a decode job. One narrow projection + tiny hash agg.
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .groupBy(col("meta.mime").as("mime"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("meta.n_bytes")).cast("long").as("total_bytes"),
        round(avg(col("meta.n_bytes")), 2).as("avg_bytes"))
      .orderBy("mime")

  val mediaStatsSql: String =
    """SELECT mime, count(*) AS n,
      |  sum(n_bytes)::bigint AS total_bytes,
      |  round(avg(n_bytes), 2) AS avg_bytes
      |FROM (
      |  SELECT CASE (doc_id % 3)::int
      |      WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |      ELSE 'video/mp4' END AS mime,
      |    octet_length(text::BLOB) AS n_bytes
      |  FROM documents)
      |GROUP BY mime
      |ORDER BY mime""".stripMargin

  /** Frame sampling: every k-th fixed-size slice of the payload, as a pure
    * column expression (binary `substring` over a generated index array) —
    * no UDF, codegen-friendly, and the generated rows carry only the frame,
    * not the whole payload.
    */
  def frameSample(spark: SparkSession, dir: String, every: Int = 4): DataFrame = {
    val media = mediaTable(spark, dir)
    val nFrames = ceil(col("meta.n_bytes").cast("double") / FrameBytes).cast("int")
    media
      // zero-byte (or null) payloads have zero frames — without this filter
      // the sequence endpoint clamp would emit one phantom empty frame
      .filter(col("meta.n_bytes") > 0)
      .select(col("doc_id"), col("payload"),
        posexplode(sequence(lit(0), nFrames - 1, lit(every)))
          .as(Seq("sample_idx", "frame_idx")))
      .select(col("doc_id"), col("frame_idx"),
        substring(col("payload"), col("frame_idx") * FrameBytes + 1, lit(FrameBytes))
          .as("frame"))
  }

  /** The raw-frame release in driver-hashable form: the COMPLETE sampled
    * frame payload, hex-encoded — LOSSLESS, unlike the md5 twin below
    * (binary cells defeat the driver's pandas-side value hash; uppercase
    * hex text round-trips the identical bytes through both engines — the
    * `bpe_byte_merges` symbolization precedent). This is what the
    * registered `frame_sample` serves; the binary [[frameSample]] stays
    * the internal form downstream consumers ([[frameNearDup]]) slice.
    */
  def frameSampleHex(spark: SparkSession, dir: String, every: Int = 4): DataFrame =
    frameSample(spark, dir, every)
      .select(col("doc_id"), col("frame_idx"), hex(col("frame")).as("frame_hex"))
      .orderBy("doc_id", "frame_idx")

  /** EXACT oracle for [[frameSampleHex]]: the digest twin's slice
    * arithmetic with `hex(::BLOB)` in place of md5 (DuckDB's hex emits the
    * same uppercase text as Spark's hex-over-binary; payload ≡ the ASCII
    * text's UTF-8 bytes, so byte slicing ≙ character slicing). */
  val frameSampleHexSql: String =
    s"""WITH media AS (
       |  SELECT doc_id, text, length(text) AS n_bytes FROM documents
       |), frames AS (
       |  SELECT doc_id,
       |    unnest(range(0, (n_bytes + ${FrameBytes - 1}) // $FrameBytes, 4)) AS frame_idx,
       |    text
       |  FROM media WHERE n_bytes > 0
       |)
       |SELECT doc_id, frame_idx,
       |  hex(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)::BLOB) AS frame_hex
       |FROM frames
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** [[frameSample]] reduced to driver-hashable scalars: per frame, its
    * byte length and md5 digest — the oracle-checked digest twin that pins
    * the slicing logic cross-engine byte-for-byte.
    */
  def frameSampleDigest(spark: SparkSession, dir: String, every: Int = 4): DataFrame =
    frameSample(spark, dir, every)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Valid because the synthetic payload is the ASCII text's UTF-8 bytes:
    * byte slicing ≙ character slicing, and DuckDB's md5 hashes the same
    * UTF-8 bytes Spark's md5-over-binary sees.
    */
  val frameSampleDigestSql: String =
    s"""WITH media AS (
       |  SELECT doc_id, text, length(text) AS n_bytes FROM documents
       |), frames AS (
       |  SELECT doc_id,
       |    unnest(range(0, (n_bytes + ${FrameBytes - 1}) // $FrameBytes, 4)) AS frame_idx,
       |    text
       |  FROM media WHERE n_bytes > 0
       |)
       |SELECT doc_id, frame_idx,
       |  length(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_bytes,
       |  md5(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_md5
       |FROM frames
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** Per-payload perceptual fingerprint ([[graft.functions.DHash64]]):
    * dHash over a 65-window byte grid, one codegen'd map-side pass, no
    * shuffle. The media twin of [[Dedup.simhash]].
    */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"),
        graft.functions.DHash64(col("payload")).as("phash"))
      .orderBy("doc_id")

  /** Perceptual near-dup pairs over any `(doc_id, payload)` frame: dHash
    * fingerprints through the shared segment-blocked Hamming join
    * (`Dedup.hammingBlockedPairs` — exhaustive for maxDist ≤ 3, refused
    * above), so the candidate join is an equi-join, never O(n²).
    */
  def mediaNearDupFrom(media: DataFrame, maxDist: Int = 3): DataFrame = {
    // Persisted like the simhash index: the self-join's two legs are
    // independent subtrees that would each recompute the fingerprint scan.
    val fp = media.select(col("doc_id"),
      graft.functions.DHash64(col("payload")).as("phash")).persist()
    Dedup.hammingBlockedPairs(fp, "phash", maxDist)
  }

  /** Registered near-dup query: the media table doubled with shifted ids
    * (planted exact duplicates, like [[Dedup.winnowNearDupPairs]]) so the
    * pair set is guaranteed non-degenerate at every SF, plus whatever
    * genuine perceptual collisions the corpus holds.
    */
  def mediaNearDup(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val media = mediaTable(spark, dir).select("doc_id", "payload")
    mediaNearDupFrom(Dedup.doubledWithShift(media), maxDist)
  }

  /** dHash re-derived in DuckDB (valid because the synthetic payload is the
    * ASCII text's UTF-8 bytes — `ord` of a one-char substring IS the byte,
    * the same caveat as the winnow/simhash oracles): byte i of n lands in
    * window `(i*65)//n`, window mean = integer floor division, missing
    * windows fill 0, bit i compares window i+1 to window i, and the 64-bit
    * fingerprint converts unsigned→signed exactly like
    * [[SimHashOracle]]'s HUGEINT mapping.
    */
  private val phashBitsRows: String =
    (0 until 64).map(i => s"($i, ${BigInt(2).pow(i)}::HUGEINT)").mkString(", ")

  private val phashCore: String =
    s"""WITH media AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents
       |), bytes AS (
       |  SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM media WHERE n > 0
       |), cellsums AS (
       |  SELECT doc_id, (i * 65) // n AS cell,
       |    sum(ord(substr(text, (i + 1)::BIGINT, 1))) AS s, count(*) AS c
       |  FROM bytes GROUP BY 1, 2
       |), grid AS (
       |  SELECT m.doc_id, g.cell, coalesce(cs.s // cs.c, 0) AS a
       |  FROM (SELECT doc_id FROM media) m
       |  CROSS JOIN (SELECT unnest(range(0, 65)) AS cell) g
       |  LEFT JOIN cellsums cs ON cs.doc_id = m.doc_id AND cs.cell = g.cell
       |), bits(bit, pw) AS (VALUES $phashBitsRows),
       |fp AS (
       |  SELECT lo.doc_id AS doc_id,
       |    coalesce(sum(CASE WHEN hi.a > lo.a THEN pw ELSE 0 END), 0)::HUGEINT AS hu
       |  FROM grid lo
       |  JOIN grid hi ON hi.doc_id = lo.doc_id AND hi.cell = lo.cell + 1
       |  JOIN bits b ON b.bit = lo.cell
       |  GROUP BY lo.doc_id
       |), sfp AS (
       |  SELECT doc_id, hu,
       |    ((CASE WHEN hu >= ${BigInt(2).pow(63)} THEN hu - ${BigInt(2).pow(64)} ELSE hu END))::BIGINT AS phash
       |  FROM fp
       |)""".stripMargin

  val mediaPhashSql: String =
    phashCore + "\nSELECT doc_id, phash FROM sfp ORDER BY doc_id"

  /** Blocking + verify mirror of [[mediaNearDup]] over the doubled corpus
    * (copies share the source text, so each fingerprint is computed once
    * and re-labeled): 16-bit segments via integer powers, per-segment
    * equi-join, Hamming via `bit_count(xor(...))` on the signed value —
    * the [[SimHashOracle.simhashNearDupSql]] tail verbatim.
    */
  val mediaNearDupSql: String =
    phashCore +
      s""",
         |doubled AS (
         |  SELECT doc_id, hu, phash FROM sfp
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM sfp),
         |    hu, phash FROM sfp
         |),
         |segpw(seg, pw) AS (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
         |  (2, 4294967296::HUGEINT), (3, 281474976710656::HUGEINT)),
         |segs AS (
         |  SELECT doc_id, phash, seg, (hu // pw) % 65536 AS seg_val
         |  FROM doubled CROSS JOIN segpw
         |)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.phash, b.phash)) AS hamming
         |FROM segs a JOIN segs b ON a.seg = b.seg AND a.seg_val = b.seg_val
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin

  /** Frame-level perceptual dedup: [[graft.functions.DHash64]] over every
    * sampled frame ([[frameSample]]), then frames whose fingerprint occurs
    * in ≥ 2 distinct documents — the repeated-asset detector (intro/outro
    * cards, boilerplate imagery) that video/image pipelines run, the same
    * two-level-aggregate + equi-join shape as [[Dedup.repeatedNgramSpans]].
    * Frames shorter than `minFrameBytes` are excluded: a near-empty tail
    * frame's comparison pattern is degenerate (fingerprint ~0) and would
    * cluster unrelated media.
    */
  def frameNearDup(spark: SparkSession, dir: String, every: Int = 4,
      minFrameBytes: Int = 16): DataFrame = {
    val fr = frameSample(spark, dir, every)
      .filter(length(col("frame")) >= minFrameBytes)
      .select(col("doc_id"), col("frame_idx"),
        graft.functions.DHash64(col("frame")).as("fhash"))
      .persist() // feeds the doc-frequency count and the re-join
    val rep = fr.select("doc_id", "fhash").distinct()
      .groupBy("fhash").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    fr.join(rep, Seq("fhash"))
      .select("fhash", "n_docs", "doc_id", "frame_idx")
      .orderBy("fhash", "doc_id", "frame_idx")
  }

  /** Exact mirror: the [[frameSampleDigestSql]] frame slicing + the
    * [[mediaPhashSql]] window arithmetic per (doc, frame), then the
    * two-level cross-doc support count. */
  val frameNearDupSql: String =
    s"""WITH media AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |frames AS (
       |  SELECT doc_id, unnest(range(0, (n + ${FrameBytes - 1}) // $FrameBytes, 4)) AS frame_idx, text
       |  FROM media WHERE n > 0
       |), fslice AS (
       |  SELECT doc_id, frame_idx,
       |    substr(text, frame_idx * $FrameBytes + 1, $FrameBytes) AS ftext
       |  FROM frames
       |), fkept AS (
       |  SELECT doc_id, frame_idx, ftext, length(ftext) AS fn
       |  FROM fslice WHERE length(ftext) >= 16
       |), fbytes AS (
       |  SELECT doc_id, frame_idx, fn, unnest(range(0, fn)) AS i, ftext FROM fkept
       |), cellsums AS (
       |  SELECT doc_id, frame_idx, (i * 65) // fn AS cell,
       |    sum(ord(substr(ftext, (i + 1)::BIGINT, 1))) AS s, count(*) AS c
       |  FROM fbytes GROUP BY 1, 2, 3
       |), grid AS (
       |  SELECT f.doc_id, f.frame_idx, g.cell, coalesce(cs.s // cs.c, 0) AS a
       |  FROM fkept f
       |  CROSS JOIN (SELECT unnest(range(0, 65)) AS cell) g
       |  LEFT JOIN cellsums cs ON cs.doc_id = f.doc_id
       |    AND cs.frame_idx = f.frame_idx AND cs.cell = g.cell
       |), bits(bit, pw) AS (VALUES $phashBitsRows),
       |fp AS (
       |  SELECT lo.doc_id AS doc_id, lo.frame_idx AS frame_idx,
       |    coalesce(sum(CASE WHEN hi.a > lo.a THEN pw ELSE 0 END), 0)::HUGEINT AS hu
       |  FROM grid lo
       |  JOIN grid hi ON hi.doc_id = lo.doc_id AND hi.frame_idx = lo.frame_idx
       |    AND hi.cell = lo.cell + 1
       |  JOIN bits b ON b.bit = lo.cell
       |  GROUP BY 1, 2
       |), sfp AS (
       |  SELECT doc_id, frame_idx,
       |    ((CASE WHEN hu >= ${BigInt(2).pow(63)} THEN hu - ${BigInt(2).pow(64)} ELSE hu END))::BIGINT AS fhash
       |  FROM fp
       |), rep AS (
       |  SELECT fhash, count(*) AS n_docs
       |  FROM (SELECT DISTINCT fhash, doc_id FROM sfp)
       |  GROUP BY fhash HAVING count(*) >= 2
       |)
       |SELECT fhash, n_docs, doc_id, frame_idx FROM sfp JOIN rep USING (fhash)
       |ORDER BY fhash, doc_id, frame_idx""".stripMargin

  /** Thumbnail grid: the first ThumbSrc×ThumbSrc payload bytes downsample
    * 2× to ThumbDst×ThumbDst. */
  val ThumbSrc = 16
  val ThumbDst = 8

  /** Media resize — the thumbnailing leg of the decode/extract/resize/
    * frame-sample family: the leading 16×16 byte grid of each payload
    * block-average downsamples to an 8×8 thumbnail (each output cell =
    * ⌊mean of its 2×2 source block⌋ — exact integer arithmetic, the
    * standard box-filter in its smallest form). Payloads shorter than the
    * source grid are skipped, mirroring a decoder rejecting truncated
    * images. Output: the thumbnail as a CSV string (engine-portable exact
    * representation) plus its brightness stats.
    *
    * Pure per-row projection over generated indices — no UDF, no shuffle
    * beyond presentation; a real pipeline swaps the byte-grid reader for
    * an image decoder and keeps the same plan shape. Oracle: identical
    * arithmetic over `ascii(substr(...))` — valid because the synthetic
    * payload is the ASCII text's UTF-8 bytes (the [[frameSampleDigest]]
    * identity).
    */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    val cell =
      s"""(ascii(substring(text, (CAST(j DIV $ThumbDst AS INT) * 2) * $ThumbSrc + (CAST(j % $ThumbDst AS INT) * 2) + 1, 1))
         | + ascii(substring(text, (CAST(j DIV $ThumbDst AS INT) * 2) * $ThumbSrc + (CAST(j % $ThumbDst AS INT) * 2) + 2, 1))
         | + ascii(substring(text, (CAST(j DIV $ThumbDst AS INT) * 2 + 1) * $ThumbSrc + (CAST(j % $ThumbDst AS INT) * 2) + 1, 1))
         | + ascii(substring(text, (CAST(j DIV $ThumbDst AS INT) * 2 + 1) * $ThumbSrc + (CAST(j % $ThumbDst AS INT) * 2) + 2, 1))
         |) DIV 4""".stripMargin.replace("\n", " ")
    Tables(spark, dir, "documents")
      .filter(col("n_chars") >= ThumbSrc * ThumbSrc)
      .withColumn("thumb",
        expr(s"transform(sequence(0, ${ThumbDst * ThumbDst - 1}), j -> $cell)"))
      .select(col("doc_id"),
        expr("array_join(thumb, ',')").as("thumb_csv"),
        expr("aggregate(thumb, 0L, (a, x) -> a + x)").as("brightness_sum"),
        expr("array_min(thumb)").cast("long").as("px_min"),
        expr("array_max(thumb)").cast("long").as("px_max"))
      .orderBy("doc_id")
  }

  val mediaResizeSql: String = {
    val cell =
      s"""(ascii(substr(text, ((j // $ThumbDst) * 2) * $ThumbSrc + ((j % $ThumbDst) * 2) + 1, 1))
         | + ascii(substr(text, ((j // $ThumbDst) * 2) * $ThumbSrc + ((j % $ThumbDst) * 2) + 2, 1))
         | + ascii(substr(text, ((j // $ThumbDst) * 2 + 1) * $ThumbSrc + ((j % $ThumbDst) * 2) + 1, 1))
         | + ascii(substr(text, ((j // $ThumbDst) * 2 + 1) * $ThumbSrc + ((j % $ThumbDst) * 2) + 2, 1))
         |) // 4""".stripMargin.replace("\n", " ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_transform(range(0, ${ThumbDst * ThumbDst}), j -> $cell) AS thumb
       |  FROM documents WHERE n_chars >= ${ThumbSrc * ThumbSrc}
       |)
       |SELECT doc_id,
       |  array_to_string(thumb, ',') AS thumb_csv,
       |  list_sum(thumb)::BIGINT AS brightness_sum,
       |  list_min(thumb)::BIGINT AS px_min,
       |  list_max(thumb)::BIGINT AS px_max
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** The codec boundary — REAL since round 11 (was a PRNG stub through
    * round 10). `decode` computes an actual content-derived descriptor from
    * the payload bytes; `project` applies the learned PCA reduction fitted
    * by `fitPcaFrom`. A production pipeline swaps `decode` for a heavier
    * image/audio decoder + model; everything around it (per-partition
    * batching, bounded fit sample, literal-embedded oracle) stays as-is.
    */
  object FeatureCodec {
    /** Raw descriptor width: 16 coarse byte-value histogram shares
      * (bin = byte / 16) + 16 byte-grid window means (byte i of n lands in
      * window (i·16)/n — the [[graft.functions.DHash64]] grid rule) scaled
      * to [0,1]. Every operation is exact integer arithmetic followed by
      * one IEEE double division, so the identical value is re-derivable in
      * DuckDB for the generated oracle. */
    val RawDims = 32
    /** Learned-projection output width. */
    val OutDims = 8

    /** Content descriptor of a payload: histogram shares + window means.
      * Pure, allocation-bounded, null/empty-safe (all-zero descriptor). */
    def decode(payload: Array[Byte]): Array[Double] = {
      val out = new Array[Double](RawDims)
      if (payload == null || payload.isEmpty) return out
      val n = payload.length
      val hist = new Array[Long](16)
      val wsum = new Array[Long](16)
      val wcnt = new Array[Long](16)
      var i = 0
      while (i < n) {
        val b = payload(i) & 0xff
        hist(b >> 4) += 1
        val w = (i.toLong * 16 / n).toInt
        wsum(w) += b
        wcnt(w) += 1
        i += 1
      }
      var j = 0
      while (j < 16) { out(j) = hist(j).toDouble / n; j += 1 }
      j = 0
      while (j < 16) {
        out(16 + j) = if (wcnt(j) == 0) 0.0 else (wsum(j).toDouble / wcnt(j)) / 255.0
        j += 1
      }
      out
    }

    /** Centered projection through the fitted components. Accumulation is
      * left-to-right from the FIRST term (no 0.0 seed) — the exact order
      * the generated oracle's left-associative `+` chain re-states, so the
      * doubles agree bit-for-bit before rounding. */
    def project(raw: Array[Double], mean: Array[Double],
        comps: Array[Array[Double]]): Array[Double] = {
      val out = new Array[Double](comps.length)
      var j = 0
      while (j < comps.length) {
        val w = comps(j)
        var acc = (raw(0) - mean(0)) * w(0)
        var i = 1
        while (i < raw.length) { acc += (raw(i) - mean(i)) * w(i); i += 1 }
        out(j) = acc
        j += 1
      }
      out
    }
  }

  /** Deterministic driver-side PCA over an in-memory raw-descriptor sample:
    * column means, dense covariance (32×32 — trivially driver-sized
    * regardless of corpus scale), then a full cyclic-Jacobi
    * eigendecomposition. Jacobi over a symmetric matrix converges to
    * machine precision in a handful of sweeps with NO dependence on
    * eigenvalue separation (power iteration stalls on the clustered
    * spectrum this descriptor produces), and the rotations keep the
    * eigenvector basis orthonormal structurally. No RNG anywhere: fixed
    * sweep order, eigenvalues sorted descending with index tiebreak, sign
    * fixed so each component's largest-magnitude entry is positive — the
    * fitted model is bit-reproducible and embeddable as oracle literals,
    * exactly like [[Similarity.fitCentroidsFrom]]'s Lloyd fit.
    */
  private[ops] def fitPca(sample: Array[Array[Double]], k: Int)
      : (Array[Double], Array[Array[Double]]) = {
    val d = FeatureCodec.RawDims
    val n = sample.length
    require(n > 1, s"PCA fit sample too small ($n)")
    val mean = new Array[Double](d)
    for (v <- sample) { var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    { var i = 0; while (i < d) { mean(i) /= n; i += 1 } }
    val a = Array.ofDim[Double](d, d) // covariance, diagonalized in place
    val c = new Array[Double](d)
    for (v <- sample) {
      var i = 0
      while (i < d) { c(i) = v(i) - mean(i); i += 1 }
      var p = 0
      while (p < d) {
        val cp = c(p); val row = a(p); var q = 0
        while (q < d) { row(q) += cp * c(q); q += 1 }
        p += 1
      }
    }
    for (p <- 0 until d; q <- 0 until d) a(p)(q) /= n
    // eigenvector matrix, columns accumulate the Jacobi rotations
    val vec = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-20) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        val apq = a(p)(q)
        off += apq * apq
        if (math.abs(apq) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
          val t =
            if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
          val cs = 1.0 / math.sqrt(t * t + 1.0)
          val sn = t * cs
          var i = 0
          while (i < d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = cs * aip - sn * aiq
            a(i)(q) = sn * aip + cs * aiq
            i += 1
          }
          i = 0
          while (i < d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = cs * api - sn * aqi
            a(q)(i) = sn * api + cs * aqi
            val vip = vec(i)(p); val viq = vec(i)(q)
            vec(i)(p) = cs * vip - sn * viq
            vec(i)(q) = sn * vip + cs * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(j => (-a(j)(j), j)).take(k)
    val comps = order.map { j =>
      var v = Array.tabulate(d)(i => vec(i)(j))
      var am = 0
      for (i <- 1 until d) if (math.abs(v(i)) > math.abs(v(am))) am = i
      if (v(am) < 0) v = v.map(x => -x)
      v
    }.toArray
    (mean, comps)
  }

  /** Fit the projection on a BOUNDED, layout-independent sample of the
    * media frame — the [[Similarity]] fit discipline: hash-mod thinning,
    * hash-ordered 50k cap (TakeOrderedAndProject keeps the SAME rows under
    * any partition arrival order). The payloads decode to 32-double
    * descriptors IN THE EXECUTORS; only the descriptors come back to the
    * driver (≤ 12.8 MB), never the payload bytes — at 100 TB of media the
    * decode stays distributed and the fit collects a fixed-size matrix.
    */
  private[ops] def fitPcaFrom(media: DataFrame)
      : (Array[Double], Array[Array[Double]]) = {
    val spark = media.sparkSession
    import spark.implicits._
    val sample = media
      .filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
      .select(col("doc_id"), xxhash64(col("doc_id")).as("h"), col("payload"))
      .as[(Long, Long, Array[Byte])]
      .map { case (id, h, p) => (id, h, FeatureCodec.decode(p)) }
      .orderBy(col("_2"), col("_1"))
      .limit(50000)
      .collect()
      .map(_._3)
    fitPca(sample, FeatureCodec.OutDims)
  }

  /** The PCA fit for `dir`, one per process in the [[graft.Artifacts]]
    * store, shared by the query builder and the oracle generated from it. */
  private[graft] def fitPcaCached(spark: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]]) =
    Artifacts.fit("pca", dir)(
      fitPcaFrom(mediaTable(spark, dir).select(col("doc_id"), col("payload"))))

  /** Distributed feature extraction over the media table: decode each
    * payload to its content descriptor, then project through the fitted
    * PCA — both inside ONE `mapPartitions` pass over an iterator (never
    * materializing the partition), the JVM-side equivalent of the
    * `mapInPandas` batch contract: one executor task decodes a stream of
    * payloads and emits fixed-width vectors; partition count, not row
    * count, bounds peak memory. The fitted model rides the closure
    * (8×32 + 32 doubles — broadcast-sized by construction).
    */
  def extractFeatures(spark: SparkSession, dir: String): DataFrame = {
    val (mean, comps) = fitPcaCached(spark, dir)
    val media = mediaTable(spark, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"), col("payload"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("mime", StringType, nullable = true),
      StructField("feature", ArrayType(DoubleType, containsNull = false))))
    val encoder = org.apache.spark.sql.Encoders.row(schema)
    val out: Dataset[Row] = media.mapPartitions { rows =>
      rows.map { r =>
        val raw = FeatureCodec.decode(r.getAs[Array[Byte]]("payload"))
        val feature = FeatureCodec.project(raw, mean, comps)
        Row(r.getAs[Long]("doc_id"), r.getAs[String]("mime"), feature.toSeq)
      }
    }(encoder)
    out
  }

  /** The registered query surface over [[extractFeatures]]: each projected
    * component as its own rounded scalar column (an `array<double>` cell is
    * not hashable by the driver's pandas-side compare) — oracle-exact since
    * round 11 via `extractFeaturesSql`. Library callers wanting vectors
    * use [[extractFeatures]] directly.
    */
  def extractFeaturesScalars(spark: SparkSession, dir: String): DataFrame = {
    val fCols = (0 until FeatureCodec.OutDims).map(j =>
      round(element_at(col("feature"), j + 1), 6).as(s"f$j"))
    extractFeatures(spark, dir)
      .select(col("doc_id") +: col("mime") +: fCols: _*)
      .orderBy("doc_id")
  }

  /** Generated-literal exact oracle for [[extractFeaturesScalars]]: DuckDB
    * re-derives the descriptor from the text bytes (`ord(substr)` ≙ byte —
    * the ASCII-corpus premise every binary oracle here shares), re-states
    * each division in the same order, and projects through the FITTED mean
    * and components embedded as double literals in an explicitly
    * left-associative `+` chain — matching [[FeatureCodec.project]]'s
    * accumulation order term for term, so the pre-rounding doubles are
    * bit-identical.
    */
  private[graft] def extractFeaturesSql(
      mean: Array[Double], comps: Array[Array[Double]]): String = {
    val hPivot = (0 until 16).map(b =>
      s"sum(CASE WHEN bin = $b THEN c ELSE 0 END) AS h$b").mkString(",\n    ")
    val wPivot = (0 until 16).map(w =>
      s"sum(CASE WHEN w = $w THEN s END) AS s$w, sum(CASE WHEN w = $w THEN c END) AS c$w")
      .mkString(",\n    ")
    val rHist = (0 until 16).map(b =>
      s"CASE WHEN m.n = 0 THEN 0.0 ELSE coalesce(h.h$b, 0)::DOUBLE / m.n END AS r$b")
      .mkString(",\n    ")
    val rWin = (0 until 16).map(w =>
      s"CASE WHEN w.c$w IS NULL OR w.c$w = 0 THEN 0.0 ELSE (w.s$w::DOUBLE / w.c$w) / 255.0 END AS r${16 + w}")
      .mkString(",\n    ")
    val proj = comps.zipWithIndex.map { case (wRow, j) =>
      val chain = wRow.zipWithIndex.map { case (wv, i) =>
        s"(r$i - ${mean(i)}) * $wv"
      }.mkString(" + ")
      s"round($chain, 6) AS f$j"
    }.mkString(",\n  ")
    s"""WITH media AS (
       |  SELECT doc_id,
       |    CASE (doc_id % 3)::int WHEN 0 THEN 'image/png'
       |      WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
       |    text, coalesce(length(text), 0) AS n
       |  FROM documents
       |), bytes AS (
       |  SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM media WHERE n > 0
       |), byteval AS (
       |  SELECT doc_id, n, i, ord(substr(text, (i + 1)::BIGINT, 1)) AS b FROM bytes
       |), hist AS (
       |  SELECT doc_id, b // 16 AS bin, count(*) AS c FROM byteval GROUP BY 1, 2
       |), hpivot AS (
       |  SELECT doc_id,
       |    $hPivot
       |  FROM hist GROUP BY doc_id
       |), wins AS (
       |  SELECT doc_id, (i * 16) // n AS w, sum(b) AS s, count(*) AS c
       |  FROM byteval GROUP BY 1, 2
       |), wpivot AS (
       |  SELECT doc_id,
       |    $wPivot
       |  FROM wins GROUP BY doc_id
       |), raw AS (
       |  SELECT m.doc_id, m.mime,
       |    $rHist,
       |    $rWin
       |  FROM media m
       |  LEFT JOIN hpivot h USING (doc_id)
       |  LEFT JOIN wpivot w USING (doc_id)
       |)
       |SELECT doc_id, mime,
       |  $proj
       |FROM raw ORDER BY doc_id""".stripMargin
  }
}
