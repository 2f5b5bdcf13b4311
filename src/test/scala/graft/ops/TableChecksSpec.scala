package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TableChecksSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("every constraint fires on planted violations, with exact counts") {
    val orders = Seq(
      // duplicate key (1 extra row), null date, negative price, bad status
      (1L, "F", "2024-01-01", 10.0),
      (1L, "F", "2024-01-02", 20.0),
      (2L, "O", null, 30.0),
      (3L, "X", "2024-01-03", -5.0),
      (4L, "P", "2024-01-04", 40.0)
    ).toDF("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
    val lineitem = Seq(
      (1L, 1), (4L, 1),
      (99L, 1), (99L, 2) // two orphan rows
    ).toDF("l_orderkey", "l_linenumber")
    val out = TableChecks.checksOf(orders, lineitem).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      "orderkey_unique" -> ((1L, false)),
      "orderdate_complete" -> ((1L, false)),
      "totalprice_positive" -> ((1L, false)),
      "status_in_domain" -> ((1L, false)),
      "lineitem_fk_orders" -> ((2L, false))), s"got $out")
  }

  test("the testdata star schema passes all constraints (violations = 0)") {
    val out = TableChecks.dataQualityChecks(spark, dir).collect()
    assert(out.length == 5)
    assert(out.forall(_.getBoolean(2)), s"unexpected violations: ${out.mkString(", ")}")
    assert(out.forall(_.getLong(1) == 0L))
  }

  test("snapshotDiff classifies exactly the planted mutations, id sums reconcile") {
    val docs = Tables(spark, dir, "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val out = TableChecks.snapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val deletes = ids.filter(_ % 31 == 0)
    val updates = ids.filter(id => id % 31 != 0 && id % 7 == 0)
    val inserts = ids.filter(_ % 53 == 0).map(_ + 1000000L)
    val unchanged = ids.filter(id => id % 31 != 0 && id % 7 != 0)
    def want(s: Set[Long]) = (s.size.toLong, s.sum)
    assert(out("delete") == want(deletes), s"deletes: ${out("delete")} vs ${want(deletes)}")
    assert(out("update") == want(updates))
    assert(out("insert") == want(inserts))
    assert(out("unchanged") == want(unchanged))
    // classes partition the key universe: totals reconcile
    assert(out.values.map(_._1).sum == (ids.size + inserts.size).toLong)
  }

  test("mergeUpsert: op classes land exactly — updates in place, inserts added, deletes gone") {
    val dim = Tables(spark, dir, "customer")
    val before = dim.collect().map(r => r.getLong(0) -> r).toMap
    val after = TableChecks.mergeUpsert(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val keys = before.keySet
    val del = keys.filter(k => k % 31 == 0 && k % 7 != 0)
    val upd = keys.filter(_ % 7 == 0)
    val ins = keys.filter(_ % 53 == 0).map(_ + 1000000L)
    assert(after.size == before.size - del.size + ins.size, "row accounting off")
    for (k <- del) assert(!after.contains(k), s"deleted key $k survived")
    for (k <- ins) assert(after(k).getString(1).startsWith("new "), s"insert $k wrong")
    for (k <- upd.take(50)) {
      assert(after(k).getString(4) == "AUTOMOBILE", s"update $k segment")
      assert(math.abs(after(k).getDouble(3) - (before(k).getDouble(3) + 10)) < 1e-9)
    }
    // untouched rows byte-identical
    val untouched = (keys -- del -- upd).take(50)
    for (k <- untouched) assert(after(k) == before(k), s"untouched $k changed")
  }

  test("kAnonymityAudit: exactly the cells an independent group-count puts below k") {
    val out = TableChecks.kAnonymityAudit(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val all = Tables(spark, dir, "documents")
      .groupBy("lang", "source").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val want = all.filter(_._2 < TableChecks.AnonymityK)
    assert(out == want, s"audit ${out.size} cells vs independent ${want.size}")
    assert(out.nonEmpty, "no small cells at this SF — audit untested")
    // and the safe cells really are safe
    assert((all -- out.keys).values.forall(_ >= TableChecks.AnonymityK))
  }

  test("lDiversityAudit: exactly the cells an independent distinct-count puts below l") {
    import org.apache.spark.sql.functions.{col, countDistinct, count, lit, expr}
    val out = TableChecks.lDiversityAudit(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val all = Tables(spark, dir, "documents")
      .groupBy(col("source"), expr("n_chars DIV 100").as("b"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("d")).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val want = all.filter(_._2._2 < TableChecks.DiversityL)
    assert(out == want, s"audit ${out.size} cells vs independent ${want.size}")
    assert(out.nonEmpty, "no low-diversity cells at this SF — audit untested")
    // a cell can be k-anonymous yet fail diversity: the audits are
    // genuinely different gates (at least one flagged cell has >= k docs)
    assert(out.values.exists(_._1 >= TableChecks.AnonymityK),
      "expected a k-anonymous cell that still fails l-diversity")
  }

  test("mergeChangeFeed: replaying the feed onto the dimension reproduces the merged table") {
    import org.apache.spark.sql.functions.col
    val feed = TableChecks.mergeChangeFeed(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(feed.nonEmpty)
    val dim = Tables(spark, dir, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    // replay: delete, then overwrite with postimages, then add inserts
    val state = scala.collection.mutable.Map(dim.toSeq: _*)
    for ((t, k, _, _) <- feed if t == "delete") state.remove(k)
    for ((t, k, bal, seg) <- feed if t == "update_postimage") state(k) = (bal, seg)
    for ((t, k, bal, seg) <- feed if t == "insert") state(k) = (bal, seg)
    val merged = TableChecks.mergeUpsert(spark, dir)
      .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(state.toMap == merged,
      "feed replay must reproduce exactly the merged table state")
    // preimages match the pre-merge dimension
    for ((t, k, bal, seg) <- feed if t == "update_preimage")
      assert(dim(k) == ((bal, seg)), s"preimage of $k")
  }

  test("skewReport: the planted mega-key leads with an integer-exact share; counts re-derive") {
    import org.apache.spark.sql.functions._
    val out = Skew.skewReport(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == Skew.SkewTopK)
    assert(out.head._2 == "h_mega" && out.head._1 == 1)
    val ev = Tables(spark, dir, "events")
    val total = ev.count()
    val mega = ev.filter(expr("event_id % 100 < 50")).count()
    assert(out.head._3 == mega)
    assert(out.head._4 == (1000 * mega) / total, "integer permille share")
    assert(out.head._4 > 400, "mega key should hold ~half the corpus")
    // uniform-share multiple flags the hot key unambiguously
    assert(out.head._5 > 10 * 1000, "x_uniform must scream")
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse, "ranked by count")
  }

  test("pseudonymizedRevenue: token join equals the raw-key join; tokens are collision-free") {
    import org.apache.spark.sql.functions._
    val got = TableChecks.pseudonymizedRevenue(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // the same aggregate on RAW keys — pseudonymization must not change
    // any analytical result
    val raw = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(15,2)")), 2)
          .cast("double").as("revenue"))
      .orderBy("c_mktsegment").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == raw, "tokenization changed an analytical result")
    // token ↔ key is injective over the live key set (no silent merge of
    // two customers into one token)
    val cust = Tables(spark, dir, "customer")
    val nKeys = cust.select("c_custkey").distinct().count()
    val nToks = cust.select(
      sha2(concat(lit(TableChecks.TokenSalt), lit(":"), col("c_custkey").cast("string")), 256))
      .distinct().count()
    assert(nKeys == nToks, "token collision")
  }

  test("profileColumns: stats re-derive per column; one row per profiled column") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir = "/root/testdata/sf0.001"
    val orders = Tables(spark, dir, "orders")
    val out = TableChecks.profileColumns(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val allCols = TableChecks.ProfileNumCols ++ TableChecks.ProfileStrCols ++
      TableChecks.ProfileTsCols
    assert(out.keySet == allCols.toSet)
    val n = orders.count()
    for (c <- allCols) {
      val r = out(c)
      assert(r.getLong(1) + r.getLong(2) == n, s"$c: nonnull+null = rows")
      val nd = orders.agg(countDistinct(col(c))).collect()(0).getLong(0)
      assert(r.getLong(3) == nd, s"$c: distinct count")
    }
    // typed min/max: numeric columns carry num bounds, string/ts carry str
    for (c <- TableChecks.ProfileNumCols)
      assert(!out(c).isNullAt(4) && out(c).isNullAt(6), s"$c numeric bounds")
    for (c <- TableChecks.ProfileStrCols ++ TableChecks.ProfileTsCols)
      assert(out(c).isNullAt(4) && !out(c).isNullAt(6), s"$c string bounds")
    assert(out("o_orderkey").getDouble(4) <= out("o_orderkey").getDouble(5))
  }

  test("profileColumnsApprox: exact everywhere but n_distinct, which stays in envelope") {
    val dir = "/root/testdata/sf0.001"
    val exact = TableChecks.profileColumns(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = TableChecks.profileColumnsApprox(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((c, e) <- exact) {
      val a = approx(c)
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2),
        s"$c: null stats must stay exact")
      assert(a.getString(6) == e.getString(6) && a.getString(7) == e.getString(7),
        s"$c: string bounds must stay exact")
      assert(math.abs(a.getLong(3) - e.getLong(3)) <= math.max(2.0, 0.1 * e.getLong(3)),
        s"$c: sketch ${a.getLong(3)} vs exact ${e.getLong(3)}")
    }
    // and the sketch profile's plan is the point: no Expand anywhere
    val phys = TableChecks.profileColumnsApprox(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Expand"), s"sketch profile must not Expand:\n$phys")
  }

  test("tClosenessAudit: EMD matches an independently computed ordered-EMD per cell") {
    val rows = Tables(spark, dir, "documents")
      .select(col("lang"), col("source"), expr("n_chars DIV 100").as("b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val buckets = rows.map(_._3).distinct.sorted
    val m = buckets.length
    val bigN = rows.length.toLong
    val globByB = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    def emdOf(cell: Array[(String, String, Long)]): (Long, Double) = {
      val n = cell.length.toLong
      val cellByB = cell.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      var cc = 0L; var cg = 0L; var num = 0L
      for (b <- buckets) {
        cc += cellByB.getOrElse(b, 0L); cg += globByB(b)
        num += math.abs(bigN * cc - n * cg)
      }
      val emd = BigDecimal(num.toDouble / (n.toDouble * bigN * (m - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (n, emd)
    }
    val want = rows.groupBy(r => (r._1, r._2)).view.mapValues(c => emdOf(c)).toMap
    val out = TableChecks.tClosenessAudit(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.keySet == want.keySet)
    for ((k, (n, emd)) <- want) {
      assert(out(k)._1 == n, s"$k n_docs")
      assert(math.abs(out(k)._2 - emd) < 1e-9, s"$k emd ${out(k)._2} vs $emd")
      assert(out(k)._3 == (out(k)._2 <= TableChecks.ClosenessT), s"$k close flag")
    }
    // the gate is live in both directions at this SF
    assert(out.values.exists(_._3) && out.values.exists(!_._3),
      "expected both close and non-close cells — audit untested otherwise")
  }

  test("dpNoisyCounts: noise re-derives from the seeded inverse-CDF; release is deterministic") {
    import org.apache.spark.sql.functions._
    val out = TableChecks.dpNoisyCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val truth = Tables(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def laplace(key: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp1:$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (Integer.parseInt(hex.take(4), 16) + 0.5) / 65536.0
      -(1.0 / TableChecks.DpEpsilon) * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    assert(out.nonEmpty)
    out.foreach { case (lang, source, noisy) =>
      val want = truth((lang, source)) + laplace(s"$lang|$source")
      assert(math.abs(noisy - want) < 1e-6, s"($lang,$source): $noisy vs $want")
    }
    assert(out.exists { case (l, s, noisy) =>
      math.abs(noisy - truth((l, s))) > 1e-3
    }, "at least one cell is actually perturbed")
    val again = TableChecks.dpNoisyCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.sameElements(again), "the release is a pure function of the data")
  }

  test("dpNoisySumMean: clamping engages, noise re-derives, mean is the noisy ratio") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    // sensitivity bound must be LOAD-BEARING: rows above the clamp exist,
    // so an unclamped sum (unbounded sensitivity — not DP at any scale)
    // would release a different table
    val nOver = docs.filter(length(col("text")) > TableChecks.DpClampChars).count()
    assert(nOver > 0, "pick DpClampChars so the clamp engages on testdata")
    val truth = docs
      .select(col("lang"), col("source"),
        least(length(col("text")).cast("long"),
          lit(TableChecks.DpClampChars.toLong)).as("x"),
        length(col("text")).cast("long").as("raw"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum("x").as("s"), sum("raw").as("sraw"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def laplace(tag: String, key: String, b: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (Integer.parseInt(hex.take(4), 16) + 0.5) / 65536.0
      -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    val out = TableChecks.dpNoisySumMean(spark, dir).collect()
    assert(out.nonEmpty)
    var clampMattered = false
    out.foreach { r =>
      val (lang, source) = (r.getString(0), r.getString(1))
      val (n, s, sraw) = truth((lang, source))
      val nb = laplace("dpn:", s"$lang|$source", 1.0 / TableChecks.DpEpsilon)
      val sb = laplace("dps:", s"$lang|$source",
        TableChecks.DpClampChars / TableChecks.DpEpsilon)
      assert(math.abs(r.getDouble(2) - (n + nb)) < 1e-6, s"noisy_n of ($lang,$source)")
      assert(math.abs(r.getDouble(3) - (s + sb)) < 1e-6, s"noisy_sum of ($lang,$source)")
      val mean = (s + sb) / math.max(n + nb, 1.0)
      assert(math.abs(r.getDouble(4) - mean) < 1e-6, s"noisy_mean of ($lang,$source)")
      if (s != sraw) clampMattered = true
    }
    assert(clampMattered, "at least one cell's sum is actually clamped")
  }

  test("subjectAccessExport broadcast gate: past it the probes shuffle, answer unchanged") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hinted = TableChecks.subjectAccessExport(spark, dir)
    val gatedOff = TableChecks.subjectAccessExport(spark, dir, broadcastGate = 0L)
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints(hinted).nonEmpty, "within the gate the request batch broadcasts")
    assert(hints(gatedOff).isEmpty, "past the gate no broadcast hint survives")
    assert(gatedOff.collect().toSeq == hinted.collect().toSeq,
      "the gate changes join layout, never the disclosure")
  }

  test("subjectAccessExport: inventory equals a brute per-subject walk; zero-row tables still export") {
    import org.apache.spark.sql.functions._
    val out = TableChecks.subjectAccessExport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val subs = Tables(spark, dir, "customer")
      .filter(col("c_custkey") % TableChecks.AccessModulus === 0L)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(subs.nonEmpty, "the smoke SF yields at least one subject")
    assert(out.size == subs.size * 3, "three lines per subject, no more")
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lines = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    subs.foreach { case (s, bal) =>
      val so = orders.filter(_._2 == s)
      val sl = lines.filter(l => so.exists(_._1 == l._1))
      assert(out((s, "customer")) == ((1L,
        BigDecimal(bal).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      val (no, ao) = out((s, "orders"))
      assert(no == so.length && math.abs(ao - so.map(_._3).sum) < 0.01, s"orders of $s")
      val (nl, al) = out((s, "lineitem"))
      assert(nl == sl.length && math.abs(al - sl.map(_._2).sum) < 0.01, s"lineitem of $s")
    }
    assert(out.exists { case ((_, t), (n, _)) => t == "orders" && n == 0L } ||
      out.forall { case ((_, t), (n, _)) => t != "orders" || n > 0L },
      "zero-order subjects, when present, still export a line")
  }

  test("ttlPurgePlan: expiry tallies equal a brute policy walk; nothing retained predates policy") {
    import org.apache.spark.sql.functions._
    import java.time.LocalDateTime
    implicit val ldtOrd: Ordering[LocalDateTime] = Ordering.fromLessThan(_ isBefore _)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    def ts(r: org.apache.spark.sql.Row, i: Int): LocalDateTime = r.get(i) match {
      case l: LocalDateTime => l
      case t: java.sql.Timestamp => t.toLocalDateTime
      case other => sys.error(s"unexpected timestamp repr: $other")
    }
    val out = TableChecks.ttlPurgePlan(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          LocalDateTime.parse(r.getString(4), fmt))).toMap
    val oCut = LocalDateTime.parse(s"${TableChecks.OrdersRetainFrom}T00:00:00")
    val eCut = LocalDateTime.parse(s"${TableChecks.EventsRetainFrom}T00:00:00")
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), ts(r, 1)))
    val expiredKeys = orders.filter(_._2.isBefore(oCut)).map(_._1).toSet
    val lines = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), ts(r, 1)))
    val events = Tables(spark, dir, "events").select("ts").collect()
      .map(r => ts(r, 0))
    val (oN, oE) = (orders.length.toLong, expiredKeys.size.toLong)
    assert(out("orders") == ((oN, oE, oE * 1000L / oN,
      orders.filter(o => !o._2.isBefore(oCut)).map(_._2).min.withNano(0))))
    val lE = lines.count(l => expiredKeys.contains(l._1)).toLong
    assert(out("lineitem") == ((lines.length.toLong, lE,
      lE * 1000L / lines.length,
      lines.filter(l => !expiredKeys.contains(l._1)).map(_._2).min.withNano(0))))
    val eE = events.count(_.isBefore(eCut)).toLong
    assert(out("events") == ((events.length.toLong, eE,
      eE * 1000L / events.length,
      events.filter(e => !e.isBefore(eCut)).min.withNano(0))))
    assert(eE > 0 && lE > 0 && oE > 0, "the policy actually expires rows at smoke SF")
  }

  test("erasureCascade: blast radius equals a brute cascade walk") {
    val dir = "/root/testdata/sf0.001"
    val cust = Tables(spark, dir, "customer").select("c_custkey").collect().map(_.getLong(0))
    val orders = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val li = Tables(spark, dir, "lineitem").select("l_orderkey").collect().map(_.getLong(0))
    val tomb = cust.filter(_ % TableChecks.ErasureModulus == 0).toSet
    val eo = orders.filter(o => tomb(o._2)).map(_._1).toSet
    val el = li.count(eo)
    val want = Map(
      "customer" -> (cust.length.toLong, tomb.size.toLong),
      "orders" -> (orders.length.toLong, eo.size.toLong),
      "lineitem" -> (li.length.toLong, el.toLong))
    val out = TableChecks.erasureCascade(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == want.keySet)
    for ((t, (n, e)) <- want) {
      assert(out(t)._1 == n && out(t)._2 == e, s"$t: got ${out(t)} want ($n, $e)")
      assert(out(t)._3 == e * 1000L / n, s"$t permille")
    }
    // cascade must actually bite at every level at this SF
    assert(want.values.forall(_._2 > 0), "tombstone set empty — audit untested")
  }

  test("psiDrift: per-column PSI equals a brute Laplace-smoothed walk") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables(spark, dir, "events")
      .select("ts", "value", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getString(2)))
    val split = java.sql.Timestamp.valueOf(s"${TableChecks.PsiSplitDate} 00:00:00")
    def psiOf(buckets: Map[String, (Long, Long)]): Double = {
      val b = buckets.size
      val ne = buckets.values.map(_._1).sum
      val na = buckets.values.map(_._2).sum
      buckets.values.map { case (ce, ca) =>
        val pe = (ce + 1).toDouble / (ne + b)
        val pa = (ca + 1).toDouble / (na + b)
        BigDecimal((pa - pe) * math.log(pa / pe))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    }
    def counts(key: ((java.sql.Timestamp, Double, String)) => String) =
      rows.groupBy(key).view.mapValues { g =>
        (g.count(_._1.before(split)).toLong, g.count(!_._1.before(split)).toLong)
      }.toMap
    val valBuckets = counts(r => math.min(math.floor(r._2 / 20.0), 9.0).toInt.toString)
    val typBuckets = counts(_._3)
    val out = TableChecks.psiDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out.keySet == Set("value", "event_type"))
    assert(out("value")._1 == valBuckets.size.toLong)
    assert(out("event_type")._1 == typBuckets.size.toLong)
    assert(math.abs(out("value")._2 - psiOf(valBuckets)) < 1e-5,
      s"value psi ${out("value")._2} vs ${psiOf(valBuckets)}")
    assert(math.abs(out("event_type")._2 - psiOf(typBuckets)) < 1e-5)
    for ((_, (_, psi, drifted)) <- out) assert(drifted == (psi > 0.2))
    // synthetic stream is stationary across the split: PSI should be tiny
    assert(out.values.forall(_._2 < 0.2), "stationary corpus must not drift")
  }

  test("replicaBucketDiff flags exactly the planted-mutation buckets") {
    val out = TableChecks.replicaBucketDiff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): BigInt =
      BigInt(md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(15), 16)
    val rows = Tables(spark, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_orderpriority"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getString(4), r.getString(5))
      }
    def canon(k: Long, c: Long, st: String, p: Double, d: String, pr: String) =
      s"$k:$c:$st:${math.floor(p * 100.0 + 0.5).toLong}:$d:$pr"
    val w = TableChecks.ReplicaBucketKeys
    def sums(rs: Seq[(Long, String)]): Map[Long, (Long, BigInt)] =
      rs.groupBy(_._1 / w).view.mapValues(g =>
        (g.length.toLong, g.map(x => h(x._2)).sum)).toMap
    val a = sums(rows.toSeq.map(t => (t._1, canon(t._1, t._2, t._3, t._4, t._5, t._6))))
    val b = sums(rows.toSeq.filter(_._1 % 1499 != 1).map { t =>
      val p2 = if (t._1 % 997 == 0) t._4 + 1.0 else t._4
      (t._1, canon(t._1, t._2, t._3, p2, t._5, t._6))
    })
    val brute = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { bk =>
      val (na, ca) = a.getOrElse(bk, (0L, BigInt(-1)))
      val (nb, cb) = b.getOrElse(bk, (0L, BigInt(-1)))
      if (na != nb || ca != cb) Some((bk, na, nb)) else None
    }
    assert(out.toSeq == brute, "bucket checksum diff must equal brute")
    assert(out.nonEmpty, "planting produced no divergent bucket at this SF")
    // every flagged bucket contains a planted key; every planted key's
    // bucket is flagged
    val planted = rows.map(_._1).filter(k => k % 1499 == 1 || k % 997 == 0)
      .map(_ / w).toSet
    assert(out.map(_._1).toSet == planted,
      s"flagged ${out.map(_._1).toSet} vs planted-buckets $planted")
  }

  test("correlationMatrix equals a BigInt moment re-derivation; r in [-1,1]") {
    val out = TableChecks.correlationMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows = Tables(spark, dir, "lineitem")
      .select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(r => cols.indices.map(i =>
        BigInt(math.floor(r.getDouble(i) * 100.0 + 0.5).toLong)))
    val n = BigInt(rows.length)
    def s(i: Int) = rows.map(_(i)).sum
    def sx(i: Int, j: Int) = rows.map(v => v(i) * v(j)).sum
    for {
      i <- cols.indices; j <- cols.indices if i < j
    } {
      val num = (n * sx(i, j) - s(i) * s(j)).toDouble
      val den = math.sqrt((n * sx(i, i) - s(i) * s(i)).toDouble *
        (n * sx(j, j) - s(j) * s(j)).toDouble)
      val want = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gn, gr) = out((cols(i), cols(j)))
      assert(gn == rows.length.toLong)
      assert(math.abs(gr - want) < 2e-6, s"${cols(i)}x${cols(j)}: $gr vs $want")
      assert(gr >= -1.0 && gr <= 1.0)
    }
    // the synthetic generator draws the four columns independently, so
    // every r is near zero — which is itself the profile's finding; the
    // law above (exact moment re-derivation) is the test, not the domain
    assert(out.size == 6)
  }

  test("dpThresholdedVocab: threshold suppresses the long tail; survivors clear tau; repeatable") {
    val dir = "/root/testdata/sf0.001"
    val out = TableChecks.dpThresholdedVocab(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val b = TableChecks.DpVocabCap / TableChecks.DpEpsilon
    val tau = TableChecks.DpVocabCap +
      b * math.log(1.0 / (2 * TableChecks.DpVocabDelta))
    assert(out.nonEmpty, "nothing cleared the threshold — cap/eps miscalibrated")
    assert(out.forall(_._2 >= tau - 1e-6), "a published count below tau")
    // the release must actually SUPPRESS: the capped vocabulary is far
    // larger than the published head (that suppression IS the privacy)
    val cappedVocab = Tables(spark, dir, "documents")
      .select(explode(slice(sort_array(array_distinct(
        split(lower(col("text")), "\\s+"))), 1, TableChecks.DpVocabCap)).as("t"))
      .select("t").distinct().count()
    assert(out.length < cappedVocab / 2,
      s"published ${out.length} of $cappedVocab capped-vocab tokens — threshold not engaging")
    val again = TableChecks.dpThresholdedVocab(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(out.toSeq == again.toSeq, "seeded release must be deterministic")
  }

  test("dpQuantiles: releases sit on the public grid and match the brute Gumbel-max recompute") {
    val dir = "/root/testdata/sf0.001"
    val out = TableChecks.dpQuantiles(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getAs[Number](2).longValue)).toMap
    assert(out.nonEmpty && out.keys.map(_._2).toSet == Set("0.25", "0.5", "0.75"))
    assert(out.values.forall(x =>
      x >= 0 && x <= TableChecks.DpQuantGridMax && x % TableChecks.DpQuantGridStep == 0),
      "released value must be a public grid point")
    // independent recompute: utility + seeded Gumbel draw + argmax in Scala
    val vals = Tables(spark, dir, "documents")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).intValue))
    val md = java.security.MessageDigest.getInstance("MD5")
    def u01(key: String): Double = {
      val hex = md.digest(key.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString
      (java.lang.Integer.parseInt(hex, 16) + 0.5) / 65536.0
    }
    for (((lang, q), released) <- out) {
      val vs = vals.filter(_._1 == lang).map(_._2)
      val n = vs.length
      val best = (0 to TableChecks.DpQuantGridMax by TableChecks.DpQuantGridStep)
        .map { x =>
          val u = -math.abs(vs.count(_ <= x).toDouble - q.toDouble * n)
          val g = -math.log(-math.log(u01(s"dpq:$lang|$q|$x")))
          (1.0 / 2.0 * u + g, -x)
        }.max
      assert(released == -best._2.toLong, s"($lang, $q): $released vs ${-best._2}")
    }
  }
}
