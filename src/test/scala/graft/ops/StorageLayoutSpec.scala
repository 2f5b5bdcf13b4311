package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the two properties the storage-layout module exists to provide:
  *
  *  1. a join of two tables bucketed on the join key runs with NO Exchange
  *     under the SortMergeJoin (the co-location IS the shuffle, paid once
  *     at write time), and
  *  2. a day-range predicate over the date-partitioned events sink reaches
  *     the scan as a PartitionFilter (directory pruning, not row filtering).
  *
  * Both queries are also value-pinned against their layout-independent
  * plain-parquet formulations, and both carry DuckDB oracles in SparkEntry
  * (the result of a join/aggregate must not depend on physical layout).
  */
class StorageLayoutSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed orders⋈lineitem joins without shuffling either side") {
    val df = StorageLayout.bucketedJoinRevenue(spark, dir)
    df.collect() // finalize the adaptive plan before reading it
    // AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    // only the final plan is what ran
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val smjAt = plan.indexOf("SortMergeJoin")
    assert(smjAt >= 0, s"bucketed join lost its sort-merge path:\n$plan")
    // tree printing puts a node's subtree strictly below it: everything
    // after the SMJ line is its two (bucketed-scan) inputs
    val below = plan.substring(smjAt)
    assert(!below.contains("Exchange"),
      s"bucketed join shuffled its input — co-location lost:\n$plan")
  }

  test("bucketed join result equals the plain-parquet join") {
    val bucketed = StorageLayout.bucketedJoinRevenue(spark, dir).collect()
    val plain = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(15,2)") *
          (lit(1) - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
      .collect()
    assert(bucketed.toSeq == plain.toSeq)
  }

  test("day-range predicate prunes partitions at the scan") {
    val df = StorageLayout.prunedEventsDaily(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val filters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1))
    assert(filters.exists(f => f.contains("day") && f.trim.nonEmpty),
      s"day predicate did not reach the scan as a partition filter:\n$plan")
    // the pruned scan must not also re-apply day as a data filter — the
    // partition column never materializes in the files
    assert(!plan.contains("PushedFilters: [IsNotNull(day)"),
      "day leaked into data filters — partition column written into files?")
  }

  test("pruned scan result equals the plain-parquet aggregate") {
    val pruned = StorageLayout.prunedEventsDaily(spark, dir).collect()
    val plain = Tables(spark, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("day").between("2024-01-08", "2024-01-14"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy("day", "event_type")
      .collect()
    assert(pruned.toSeq == plain.toSeq)
    assert(pruned.nonEmpty, "empty week — wrong date range for the fixture")
  }

  test("mortonKey interleaves bits exactly") {
    import spark.implicits._
    // x=0b011, y=0b101 → bits: x0@0 + y0@1 + x1@2 + (y1=0) + (x2=0) + y2@5
    // = 1 + 2 + 4 + 32 = 39; plus identity cases on each axis
    val got = Seq((3L, 5L), (1L, 0L), (0L, 1L), (0L, 0L), (1023L, 1023L))
      .toDF("x", "y")
      .select(StorageLayout.mortonKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(39L, 1L, 2L, 0L, (1L << 20) - 1))
  }

  test("z-chunks bound BOTH dimensions; an id-ordered layout bounds neither") {
    val chunks = StorageLayout.zorderChunks(spark, dir).collect()
    assert(chunks.nonEmpty)
    // a Z-chunk fixes the top 4 bits of each dim → intra-chunk range < 64
    for (r <- chunks) {
      assert(r.getLong(3) - r.getLong(2) < 64, s"ux range loose in chunk ${r.getLong(0)}")
      assert(r.getLong(5) - r.getLong(4) < 64, s"vy range loose in chunk ${r.getLong(0)}")
    }
    // contrast: chunk the SAME rows by event_id ranges (the default write
    // order) into the same chunk count — per-chunk dim ranges stay wide,
    // so footer stats would prune nothing on either column
    val n = chunks.length
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      pmod(col("user_id"), lit(1024L)).as("ux"),
      greatest(least(floor(col("value")), lit(1023L)), lit(0L)).cast("long").as("vy"))
    val maxId = ev.agg(max("event_id")).head().getLong(0)
    val idChunks = ev
      .withColumn("chunk", expr(s"event_id div ${maxId / n + 1}"))
      .groupBy("chunk")
      .agg(min("ux").as("a"), max("ux").as("b"), min("vy").as("c"), max("vy").as("d"))
      .collect()
    def rangeSum(rows: Array[org.apache.spark.sql.Row], lo1: Int, hi1: Int, lo2: Int, hi2: Int) =
      rows.map(r => (r.getLong(hi1) - r.getLong(lo1)) + (r.getLong(hi2) - r.getLong(lo2))).sum
    val zSum = rangeSum(chunks, 2, 3, 4, 5)
    val idSum = rangeSum(idChunks, 1, 2, 3, 4)
    info(s"per-chunk dim-range sums: z-order $zSum vs id-order $idSum (${chunks.length}/${idChunks.length} chunks)")
    assert(zSum < idSum / 2,
      s"z-order layout ($zSum) not at least 2x tighter than id-order ($idSum)")
  }

  test("hilbert index: inverse round-trip and single-step adjacency (the property Morton lacks)") {
    import graft.functions.HilbertIndex
    val n = 1L << HilbertIndex.Bits
    // canonical d2xy inverse, test-local: d -> (x, y)
    def d2xy(d: Long): (Long, Long) = {
      var t = d; var x = 0L; var y = 0L; var s = 1L
      while (s < n) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4; s *= 2
      }
      (x, y)
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val d = math.abs(rnd.nextLong()) % (n * n)
      val (x, y) = d2xy(d)
      assert(HilbertIndex.compute(x, y) == d, s"xy2d(d2xy($d)) != $d")
    }
    // consecutive curve positions are GRID-ADJACENT — only a true Hilbert
    // walk has this everywhere; Morton jumps across the grid at seams
    for (_ <- 1 to 500) {
      val d = math.abs(rnd.nextLong()) % (n * n - 1)
      val (x1, y1) = d2xy(d); val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"seam at d=$d")
    }
    // corner anchors of the 1024-grid curve
    assert(HilbertIndex.compute(0L, 0L) == 0L)
    assert(HilbertIndex.compute(n - 1, 0L) == n * n - 1)
  }

  test("hilbert chunks bound both dims and beat the Morton manifest's total spans") {
    val h = StorageLayout.hilbertChunks(spark, dir).collect()
    val z = StorageLayout.zorderChunks(spark, dir).collect()
    assert(h.nonEmpty)
    for (r <- h) {
      assert(r.getLong(3) - r.getLong(2) < 64, s"ux range loose in chunk ${r.getLong(0)}")
      assert(r.getLong(5) - r.getLong(4) < 64, s"vy range loose in chunk ${r.getLong(0)}")
    }
    def spanSum(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(3) - r.getLong(2)) + (r.getLong(5) - r.getLong(4))).sum
    val (hs, zs) = (spanSum(h), spanSum(z))
    info(s"per-chunk dim-range sums: hilbert $hs vs morton $zs (${h.length}/${z.length} chunks)")
    assert(hs <= zs, s"hilbert spans ($hs) should not exceed morton's ($zs)")
  }

  test("zorder_pruned_scan result equals the plain-parquet aggregate, and the box predicate reaches the scan pushed down") {
    val df = StorageLayout.zorderPrunedScan(spark, dir)
    val got = df.collect()
    assert(got.nonEmpty, "empty box — wrong predicate for the fixture")
    val plain = Tables(spark, dir, "events")
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(1024L)).as("ux"),
        greatest(least(floor(col("value")), lit(1023L)), lit(0L)).cast("long").as("vy"))
      .filter(col("ux").between(1L, 9L) && col("vy").between(80L, 159L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")
      .collect()
    assert(got.toSeq == plain.toSeq, "clustered-layout result diverged from raw events")
    // both box bounds are pushed to the parquet scan, where row-group
    // footer stats turn them into skips inside the clustered files
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pushed.exists(f => f.contains("ux") && f.contains("vy") &&
      f.contains("GreaterThanOrEqual") && f.contains("LessThanOrEqual")),
      s"box predicate not pushed to the scan:\n$plan")
  }

  test("z-ordered files: the box predicate's stats footprint skips files an id-ordered layout must read") {
    StorageLayout.zorderedEvents(spark, dir) // ensure written
    def partFiles(path: String): Seq[java.io.File] =
      Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    def intersectingBox(files: Seq[java.io.File]): (Int, Int) = {
      val boxes = files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("ux"), max("ux"), min("vy"), max("vy")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      // a stats-driven pruner reads a file iff its [min,max]^2 box
      // intersects the query box (what parquet row-group skipping and a
      // file-stats catalog both evaluate)
      val hit = boxes.count { case (uxLo, uxHi, vyLo, vyHi) =>
        uxHi >= 1L && uxLo <= 9L && vyHi >= 80L && vyLo <= 159L
      }
      (hit, boxes.length)
    }
    val zPath = s"${StorageLayout.tmpRoot}/${StorageLayout.tag(dir)}/zordered_events"
    val (zHit, zTotal) = intersectingBox(partFiles(zPath))
    // contrast: the SAME enriched rows written in event_id order (the
    // default ingest layout) — every file sees the full ux/vy spread, so
    // its stats box intersects any non-trivial query box
    val idPath = s"${StorageLayout.tmpRoot}/${StorageLayout.tag(dir)}/idordered_events_contrast"
    if (partFiles(idPath).isEmpty)
      spark.table(StorageLayout.zorderedEvents(spark, dir))
        .repartitionByRange(StorageLayout.ZWriteFiles, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(idPath)
    val (idHit, idTotal) = intersectingBox(partFiles(idPath))
    info(s"box-intersecting files: z-order $zHit/$zTotal vs id-order $idHit/$idTotal")
    assert(zTotal > 1, "single output file — nothing to skip; widen the layout")
    assert(idHit == idTotal,
      "id-ordered contrast unexpectedly prunable — fixture distribution changed?")
    assert(zHit < zTotal,
      s"z-order layout skipped nothing ($zHit/$zTotal) — clustering not effective")
    assert(zHit.toDouble / zTotal <= 0.5,
      s"z-order read fraction ${zHit.toDouble / zTotal} above 0.5 — box should prune most files")
  }

  test("busy-day join prunes fact partitions DYNAMICALLY (runtime-only day set)") {
    val df = StorageLayout.dppPrunedJoin(spark, dir)
    val got = df.collect()
    assert(got.nonEmpty, "no busy days — threshold wrong for the fixture")
    // the busy-day set is data-derived (count > 1.02×mean), so no static
    // partition filter can exist; the scan must carry a dynamic pruning
    // subquery instead — this is the property the leg exists to pin
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruningexpression"),
      s"fact scan not dynamically pruned:\n$plan")
    // value parity with the layout-independent formulation over raw events
    val byDay = Tables(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_day"))
    val mean = byDay.agg(
      (sum(col("n_day")).cast("double") / count(lit(1))).as("mean_n"))
    val busy = byDay.crossJoin(mean)
      .filter(col("n_day") > lit(1.02) * col("mean_n")).select("day")
    val plain = Tables(spark, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .join(busy, Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")
      .collect()
    assert(got.toSeq == plain.toSeq, "DPP-path result diverged from raw events")
    // and the pruning must do real work: fewer busy days than days on disk
    val busyN = busy.count()
    val root = new java.io.File(
      s"${StorageLayout.tmpRoot}/${StorageLayout.tag(dir)}/partitioned_events")
    val dayDirs = Option(root.listFiles()).toSeq.flatten
      .count(_.getName.startsWith("day="))
    assert(busyN < dayDirs, s"busy days $busyN of $dayDirs — nothing pruned")
  }

  test("the partitioned sink actually has more partitions than the query reads") {
    StorageLayout.partitionedEvents(spark, dir) // ensure written
    // Scoped to THIS dir's tag subdirectory — a glob over every tag under
    // graft_layout could be satisfied by a stale write for another sfDir.
    val root = new java.io.File(
      s"${StorageLayout.tmpRoot}/${StorageLayout.tag(dir)}/partitioned_events")
    val dayDirs = Option(root.listFiles()).toSeq.flatten
      .count(_.getName.startsWith("day="))
    assert(dayDirs > 7, s"only $dayDirs day partitions on disk — nothing to prune")
  }

  test("ringRebalance: assignments equal a brute ring walk; ring beats mod") {
    import java.security.MessageDigest
    def md5hex(x: String): String =
      MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def pos(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val dir = "/root/testdata/sf0.001"
    val keys = Tables(spark, dir, "orders").select("o_orderkey").collect().map(_.getLong(0))
    def vnodes(n: Int) = for {
      s <- 0 until n; r <- 0 until StorageLayout.RingVnodes
    } yield (s, pos(s"ring:$s:$r"))
    def assign(k: Long, vs: Seq[(Int, Long)]): Int = {
      val kp = pos(s"key:$k")
      vs.map { case (s, vp) => ((vp - kp + 4294967296L) % 4294967296L) * 1024L + s }
        .min % 1024L
    }.toInt
    val vsB = vnodes(StorageLayout.RingShards)
    val vsA = vnodes(StorageLayout.RingShards + 1)
    val ringMoved = keys.count(k => assign(k, vsB) != assign(k, vsA)).toLong
    val modMoved = keys.count(k =>
      k % StorageLayout.RingShards != k % (StorageLayout.RingShards + 1)).toLong
    val out = StorageLayout.ringRebalance(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("mod") == ((keys.length.toLong, modMoved, modMoved * 1000 / keys.length)))
    assert(out("ring") == ((keys.length.toLong, ringMoved, ringMoved * 1000 / keys.length)))
    // the point of the ring: an N->N+1 grow moves ~1/(N+1), not ~N/(N+1)
    assert(ringMoved > 0 && ringMoved * 5 < modMoved,
      s"ring $ringMoved should be far below mod $modMoved")
  }
}
