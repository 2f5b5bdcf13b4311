package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout machinery for the 100-TB deployment: bucketed tables for
  * shuffle-free co-located fact⋈fact joins, and date-partitioned sinks whose
  * scans prune to the queried partitions.
  *
  * Both are WRITE-side investments that repay every downstream read:
  *
  *  - '''Bucketing''': a fact table bucketed (and sorted) on its join key is
  *    already hash-distributed the way a shuffle would distribute it, so a
  *    join of two tables bucketed on the same key with the same bucket count
  *    runs as a sort-merge join with NO Exchange on either side — at 100 TB
  *    that deletes the two largest shuffles in the pipeline (lineitem and
  *    orders each rewritten across the cluster). The bucket count here is
  *    sized for the test SFs; a cluster deployment sizes it to
  *    `table_bytes / target_partition_bytes` (e.g. 100 TB / 256 MB ≈ 400k —
  *    in practice capped by file-count pressure and paired with AQE).
  *  - '''Partitioned layout''': a sink partitioned by a low-cardinality
  *    query-predicate column (event day) turns time-range scans into
  *    directory pruning — the scan lists only matching partitions and reads
  *    none of the rest, the same effect partition pruning has on a 100-TB
  *    event log where a 7-day query must not touch 3 years of files.
  *
  * The demo tables are written once per (session, sfDir) under the JVM temp
  * dir and registered in the session catalog; repeat calls reuse them (the
  * first bench sample pays the write, later samples time the join itself —
  * which is the steady-state a production bucketed table amortizes to).
  */
object StorageLayout {

  private[graft] def tag(dir: String): String = {
    val base = Paths.get(dir).getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
    s"${base}_${Integer.toHexString(dir.hashCode).takeRight(6)}"
  }

  private[graft] def tmpRoot: String =
    sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_layout"

  /** Write `table` bucketed+sorted on `key` (idempotent per session+dir). */
  def bucketedTable(spark: SparkSession, dir: String, table: String,
      key: String, buckets: Int = 8): String = {
    val name = s"graft_b_${table}_${tag(dir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$tmpRoot/${tag(dir)}/bucketed_$table"
      Tables(spark, dir, table).write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    }
    name
  }

  /** Revenue by order priority off a co-located orders⋈lineitem join: both
    * sides bucketed on the order key with the same bucket count, so the join
    * itself needs no Exchange (pinned by `graft.StorageLayoutSpec`); the
    * only shuffle left is the 5-group aggregate above it. The merge hint
    * keeps the plan on the bucket-aligned sort-merge path even at test SF,
    * where the optimizer would otherwise broadcast `orders` and the
    * co-location property would go unexercised.
    */
  def bucketedJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.table(bucketedTable(spark, dir, "orders", "o_orderkey"))
    val lineitem = spark.table(bucketedTable(spark, dir, "lineitem", "l_orderkey"))
    // exact-decimal money sum: five groups each aggregate ~20% of lineitem,
    // where double-sum reordering error exceeds the cent at large SF (see
    // TpchAdapted.q9ProductProfit for the derivation and cast-safety note)
    lineitem.hint("merge")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(15,2)") *
          (lit(1) - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Oracle: the join result is layout-independent, so the reference
    * formulation is the plain join+aggregate over the original parquet. */
  val bucketedJoinRevenueSql: String =
    """SELECT o_orderpriority,
      |  CAST(round(sum(l_extendedprice::DECIMAL(15,2)
      |                   * (1 - l_discount::DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Write events partitioned by day (idempotent per session+dir). */
  def partitionedEvents(spark: SparkSession, dir: String): String = {
    val name = s"graft_p_events_${tag(dir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$tmpRoot/${tag(dir)}/partitioned_events"
      Tables(spark, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("day")
        .option("path", path)
        .saveAsTable(name)
    }
    name
  }

  /** Seven-day activity summary over the date-partitioned events sink. The
    * `day` predicate is a partition filter: the scan lists 7 of the 30 day
    * directories and reads nothing else (`graft.StorageLayoutSpec` pins
    * `PartitionFilters` non-empty and the pruned-partition count).
    * `day` is cast back to string because partition-column type inference
    * may surface ISO dates as DATE; the cast renders the same ISO form
    * either way, keeping the schema aligned with the oracle.
    */
  def prunedEventsDaily(spark: SparkSession, dir: String): DataFrame =
    spark.table(partitionedEvents(spark, dir))
      .withColumn("day", col("day").cast("string"))
      .filter(col("day").between("2024-01-08", "2024-01-14"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy("day", "event_type")

  val prunedEventsDailySql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
      |GROUP BY day, event_type
      |ORDER BY day, event_type""".stripMargin

  val ZBits = 10      // bits per dimension in the Morton key
  val ZChunkShift = 12 // chunk = z >> shift → top (2·ZBits − shift)/2 bits per dim

  /** Two-column Morton (Z-order) key: bit i of `x` lands at position 2i,
    * bit i of `y` at 2i+1 — pure integer shift/mask column arithmetic,
    * fully codegen'd, exactly re-derivable in any engine.
    */
  private[graft] def mortonKey(x: Column, y: Column, bits: Int = ZBits): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce[Column](_ bitwiseOR _)

  /** Z-ORDER clustering manifest — the third leg of the layout family
    * (bucketing co-locates joins, partitioning prunes one column,
    * Z-order makes data skipping work on TWO columns at once): events
    * keyed by the Morton interleave of (user bucket, value bucket), chunk =
    * the key's top bits, reported as per-chunk min/max of BOTH
    * dimensions. Because a Z-chunk fixes the high bits of each dim, every
    * chunk's footprint is a small axis-aligned box (≤ 2^(ZBits−4) per dim
    * at the default shift) — so when chunks become output files
    * ([[zorderedEvents]], the write path that realizes this manifest),
    * parquet footer min/max stats are tight on EITHER column and a
    * predicate on either one prunes most files. A doc_id/event_id-ordered
    * layout bounds neither (spec measures the contrast).
    *
    * Plan shape: one scan, integer projection, one hash aggregate —
    * no window, no sort beyond the chunk-manifest presentation ordering.
    */
  def zorderChunks(spark: SparkSession, dir: String): DataFrame = {
    // both dims clamped into [0, 1023] explicitly: pmod handles any
    // user_id sign, and the value bucket clamps from BELOW too — without
    // it a negative value would bit-extract two's-complement low bits in
    // Spark but signed div/mod terms in the oracle, silently landing the
    // row in different chunks per engine
    val ev = Tables(spark, dir, "events").select(
      pmod(col("user_id"), lit(1024L)).as("ux"),
      greatest(least(floor(col("value")), lit(1023L)), lit(0L)).cast("long").as("vy"))
    ev.withColumn("chunk", shiftright(mortonKey(col("ux"), col("vy")), ZChunkShift))
      .groupBy("chunk")
      .agg(
        count(lit(1)).as("n"),
        min("ux").as("min_ux"), max("ux").as("max_ux"),
        min("vy").as("min_vy"), max("vy").as("max_vy"))
      .orderBy("chunk")
  }

  /** The CLUSTERED WRITE the manifest promises — events physically laid
    * out in Z-order: `repartitionByRange(z)` makes every output file own
    * a contiguous z-range, `sortWithinPartitions(z)` orders rows inside
    * it, so each file's parquet footer min/max on BOTH `ux` and `vy` is a
    * tight axis-aligned box (a contiguous z-range fixes the high
    * interleaved bits of both dims). A predicate on EITHER column then
    * skips most files/row-groups at scan time — the two-column
    * generalization of what `partitionedEvents` does for one column.
    * Idempotent per (session, dir), same as the other layout legs; the
    * EXPLICIT file count pins the layout against AQE's small-partition
    * coalescing at test SF (one merged file would leave nothing to skip)
    * — a cluster deployment sizes it to `table_bytes / target_file_bytes`
    * output files, the same sizing note as [[bucketedTable]].
    */
  val ZWriteFiles = 16

  def zorderedEvents(spark: SparkSession, dir: String): String = {
    val name = s"graft_z_events_${tag(dir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$tmpRoot/${tag(dir)}/zordered_events"
      val ev = Tables(spark, dir, "events")
        .withColumn("ux", pmod(col("user_id"), lit(1024L)))
        .withColumn("vy",
          greatest(least(floor(col("value")), lit(1023L)), lit(0L)).cast("long"))
        .withColumn("z", mortonKey(col("ux"), col("vy")))
      ev.repartitionByRange(ZWriteFiles, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .option("path", path)
        .saveAsTable(name)
    }
    name
  }

  /** Two-dimensional pruned scan over the Z-ordered layout: a box
    * predicate on (ux, vy) — both plain min/max comparisons that push to
    * the parquet scan, where the clustered files' tight footer stats turn
    * them into file/row-group SKIPS rather than reads
    * (`graft.ops.StorageLayoutSpec` measures the file-footprint
    * contrast vs an event_id-ordered layout of the same rows). The
    * aggregate itself is layout-independent, which is exactly what the
    * oracle (raw events, ux/vy re-derived inline) checks.
    */
  def zorderPrunedScan(spark: SparkSession, dir: String): DataFrame =
    spark.table(zorderedEvents(spark, dir))
      .filter(col("ux").between(1L, 9L) && col("vy").between(80L, 159L))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")

  val zorderPrunedScanSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM (
      |  SELECT event_type, value,
      |    ((user_id % 1024) + 1024) % 1024 AS ux,
      |    greatest(least(floor(value), 1023), 0)::BIGINT AS vy
      |  FROM events)
      |WHERE ux BETWEEN 1 AND 9 AND vy BETWEEN 80 AND 159
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Day-activity dimension written once per (session, dir): one row per
    * event day with its event count and the corpus mean daily count. The
    * busy-day SET (count above 1.02× the mean) is DATA-derived — it
    * exists nowhere as a static predicate, which is exactly the situation
    * dynamic partition pruning exists for (a fiscal-calendar or campaign
    * dim whose qualifying rows are only known at runtime). The 1.02
    * multiply and the sum/count division are single correctly-rounded
    * IEEE ops, so the qualifying set is bit-identical cross-engine.
    *
    * The threshold stays a query-side COMPARISON (`n_day > 1.02·mean_n`)
    * rather than a precomputed boolean column: Spark's PartitionPruning
    * rule only plants a dynamic filter when the dim side has a "likely
    * selective" predicate, and a bare boolean attribute is not on that
    * list — binary comparisons are.
    */
  def dayActivityDim(spark: SparkSession, dir: String): String = {
    val name = s"graft_d_days_${tag(dir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$tmpRoot/${tag(dir)}/day_dim"
      val byDay = Tables(spark, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_day"))
      val mean = byDay.agg(
        (sum(col("n_day")).cast("double") / count(lit(1))).as("mean_n"))
      byDay.crossJoin(broadcast(mean))
        .select("day", "n_day", "mean_n")
        .write.mode("overwrite")
        .option("path", path)
        .saveAsTable(name)
    }
    name
  }

  /** Busy-day activity summary via DYNAMIC partition pruning — the fourth
    * layout leg. [[prunedEventsDaily]] prunes on a STATIC day range the
    * optimizer can read off the query; here the qualifying days are a
    * runtime-only row set in [[dayActivityDim]], so no static filter can
    * exist — instead Spark plants a `dynamicpruningexpression` on the
    * fact scan's PartitionFilters (reusing the join's broadcast of the
    * dim), and the 100-TB event log still lists only the qualifying day
    * directories. `graft.ops.StorageLayoutSpec` pins the pruning
    * expression in the executed plan.
    *
    * The dim side casts to the fact's partition-column dtype (partition
    * type inference may surface ISO days as DATE): DPP requires the FACT
    * side of the join key to stay the bare partition attribute — a cast
    * there would disable it; a cast on the dim side is free.
    */
  def dppPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.table(partitionedEvents(spark, dir))
    val dayType = ev.schema(ev.schema.fieldIndex("day")).dataType
    val busyDays = spark.table(dayActivityDim(spark, dir))
      .filter(col("n_day") > lit(1.02) * col("mean_n"))
      .select(col("day").cast(dayType).as("day"))
    ev.join(busyDays, Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")
  }

  /** Oracle: layout-independent re-statement — busy days from a CTE over
    * raw events, joined back on the derived day string. */
  val dppPrunedJoinSql: String =
    """WITH by_day AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_day
      |  FROM events GROUP BY 1
      |), busy AS (
      |  SELECT day FROM by_day
      |  WHERE n_day > 1.02 * (SELECT sum(n_day)::DOUBLE / count(*) FROM by_day)
      |)
      |SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value FROM events) e
      |JOIN busy USING (day)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Hilbert-curve clustering manifest — the locality-tightest variant of
    * [[zorderChunks]], same (user bucket, value bucket) grid and chunk
    * granularity so the two manifests are directly comparable. Z-order
    * seams (a contiguous z-range can own two disjoint boxes when a high
    * interleaved bit flips) are what the Hilbert walk removes: every
    * curve step moves one grid cell, so equal-width index ranges form
    * strictly tighter bounding boxes — StorageLayoutSpec pins
    * Σ(span_ux + span_vy) over Hilbert chunks ≤ the Morton manifest's.
    *
    * The key is the codegen'd [[graft.functions.HilbertIndex]] expression;
    * the oracle re-derives it as a 10-level unrolled CTE chain in pure
    * integer arithmetic (the PageRank unrolled-oracle convention).
    */
  def hilbertChunks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      pmod(col("user_id"), lit(1024L)).as("ux"),
      greatest(least(floor(col("value")), lit(1023L)), lit(0L)).cast("long").as("vy"))
    ev.withColumn("chunk",
        shiftright(graft.functions.HilbertIndex(col("ux"), col("vy")), ZChunkShift))
      .groupBy("chunk")
      .agg(
        count(lit(1)).as("n"),
        min("ux").as("min_ux"), max("ux").as("max_ux"),
        min("vy").as("min_vy"), max("vy").as("max_vy"))
      .orderBy("chunk")
  }

  /** The xy2d walk unrolled: one CTE per level carries (x, y, d); rx/ry
    * are bit tests as integer div/mod, the reflection is N−1−coordinate,
    * the swap is column renaming. Identical arithmetic to
    * [[graft.functions.HilbertIndex.compute]], level by level.
    */
  val hilbertChunksSql: String = {
    val bits = graft.functions.HilbertIndex.Bits
    val n = 1L << bits
    val steps = (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      s"""s${k + 1} AS (
         |  SELECT ux, vy,
         |    d + ${s * s} * xor(3 * ((x // $s) % 2), (y // $s) % 2) AS d,
         |    CASE WHEN (y // $s) % 2 = 0
         |      THEN (CASE WHEN (x // $s) % 2 = 1 THEN ${n - 1} - y ELSE y END)
         |      ELSE x END AS x,
         |    CASE WHEN (y // $s) % 2 = 0
         |      THEN (CASE WHEN (x // $s) % 2 = 1 THEN ${n - 1} - x ELSE x END)
         |      ELSE y END AS y
         |  FROM s$k)""".stripMargin
    }
    s"""WITH s0 AS (
       |  SELECT ux, vy, ux AS x, vy AS y, 0::BIGINT AS d
       |  FROM (
       |    SELECT ((user_id % 1024) + 1024) % 1024 AS ux,
       |      greatest(least(floor(value), 1023), 0)::BIGINT AS vy
       |    FROM events)),
       |${steps.mkString(",\n")}
       |SELECT chunk, count(*) AS n,
       |  min(ux) AS min_ux, max(ux) AS max_ux,
       |  min(vy) AS min_vy, max(vy) AS max_vy
       |FROM (SELECT ux, vy, d // ${1L << ZChunkShift} AS chunk FROM s$bits)
       |GROUP BY chunk
       |ORDER BY chunk""".stripMargin
  }

  /** Morton restated as exact integer arithmetic (bit i of v ≙
    * `(v // 2^i) % 2`; position p ≙ `· 2^p`). */
  val zorderChunksSql: String = {
    val terms = (0 until ZBits).flatMap { i =>
      Seq(s"((ux // ${1L << i}) % 2) * ${1L << (2 * i)}",
        s"((vy // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""SELECT chunk, count(*) AS n,
       |  min(ux) AS min_ux, max(ux) AS max_ux,
       |  min(vy) AS min_vy, max(vy) AS max_vy
       |FROM (
       |  SELECT ux, vy, ($terms) // ${1L << ZChunkShift} AS chunk
       |  FROM (
       |    SELECT ((user_id % 1024) + 1024) % 1024 AS ux,
       |      greatest(least(floor(value), 1023), 0)::BIGINT AS vy
       |    FROM events))
       |GROUP BY chunk
       |ORDER BY chunk""".stripMargin
  }

  /** Ring topology: shard count before the change, virtual nodes per
    * shard. The rebalance adds ONE shard. */
  val RingShards = 16
  val RingVnodes = 16

  /** Shard-rebalance blast radius: consistent hashing vs modulo — the
    * topology-change audit a storage team runs before growing a cluster
    * from N to N+1 shards. Under `key mod N` almost every key moves
    * (expected (N−1)/N — a full-cluster rewrite); under a consistent-hash
    * ring (Karger et al. STOC'97; the memcached/Dynamo placement) only
    * the arc the new shard's vnodes capture moves (expected ≈ 1/(N+1)).
    * The report is one row per scheme with exact moved-key counts — the
    * numbers that justify ring placement for any stateful 100-TB store.
    *
    * Determinism: positions are md5-derived uint32s computed IN-ENGINE on
    * both sides (no RNG, no literals); the clockwise-successor choice is
    * `min(adj·1024 + shard)` over exact integers, where
    * `adj = (vpos − kpos) mod 2³²` — ties and wraparound resolve
    * identically everywhere.
    *
    * Scale shape: the vnode table is O(shards·vnodes) rows — broadcast by
    * construction; assignment is one broadcast cross join + one hash
    * aggregate per key (no shuffle of the key table beyond its aggregate);
    * the mod scheme is a pure projection. At a real deployment the key
    * table is a key SAMPLE — the audit needs proportions, not a census.
    */
  def ringRebalance(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("key"),
        expr("cast(conv(substring(md5(cast(concat('key:', cast(o_orderkey as string)) as binary)), 1, 8), 16, 10) as bigint)")
          .as("kpos"))
    def vnodes(n: Int) = {
      val grid = for (s <- 0 until n; r <- 0 until RingVnodes) yield (s, r)
      val df = spark.createDataFrame(grid).toDF("shard", "replica")
      df.select(col("shard"),
        expr("cast(conv(substring(md5(cast(concat('ring:', cast(shard as string), ':', cast(replica as string)) as binary)), 1, 8), 16, 10) as bigint)")
          .as("vpos"))
    }
    def assign(ring: DataFrame, name: String) =
      keys.crossJoin(broadcast(ring))
        .select(col("key"),
          (((col("vpos") - col("kpos") + lit(4294967296L)) % lit(4294967296L))
            * lit(1024L) + col("shard")).as("comb"))
        .groupBy("key").agg((min(col("comb")) % 1024L).as(name))
    val ringMoves = assign(vnodes(RingShards), "before")
      .join(assign(vnodes(RingShards + 1), "after"), "key")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("before") =!= col("after"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("ring").as("scheme"), col("n_keys"), col("n_moved"))
    val modMoves = keys
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("key") % RingShards =!= col("key") % (RingShards + 1), 1L)
          .otherwise(0L)).as("n_moved"))
      .select(lit("mod").as("scheme"), col("n_keys"), col("n_moved"))
    modMoves.union(ringMoves)
      .withColumn("moved_permille", expr("(n_moved * 1000L) div n_keys"))
      .orderBy("scheme")
  }

  val ringRebalanceSql: String =
    s"""WITH keys AS (
       |  SELECT o_orderkey AS key,
       |    ('0x' || substr(md5('key:' || o_orderkey::VARCHAR), 1, 8))::BIGINT AS kpos
       |  FROM orders
       |), vn AS (
       |  SELECT s.range::INT AS shard, r.range::INT AS replica,
       |    ('0x' || substr(md5('ring:' || s.range::VARCHAR || ':' || r.range::VARCHAR), 1, 8))::BIGINT AS vpos
       |  FROM range($RingShards + 1) s CROSS JOIN range($RingVnodes) r
       |), assigned AS (
       |  SELECT key,
       |    min(CASE WHEN shard < $RingShards
       |      THEN ((vpos - kpos + 4294967296) % 4294967296) * 1024 + shard END)
       |      % 1024 AS before,
       |    min(((vpos - kpos + 4294967296) % 4294967296) * 1024 + shard)
       |      % 1024 AS after
       |  FROM keys CROSS JOIN vn
       |  GROUP BY key, kpos
       |)
       |SELECT scheme, n_keys, n_moved, (n_moved * 1000) // n_keys AS moved_permille
       |FROM (
       |  SELECT 'mod' AS scheme, count(*) AS n_keys,
       |    sum(CASE WHEN key % $RingShards <> key % (${RingShards} + 1)
       |        THEN 1 ELSE 0 END)::BIGINT AS n_moved
       |  FROM keys
       |  UNION ALL
       |  SELECT 'ring', count(*),
       |    sum(CASE WHEN before <> after THEN 1 ELSE 0 END)::BIGINT
       |  FROM assigned
       |)
       |ORDER BY scheme""".stripMargin
}
