package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SamplingSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("hash split is deterministic and ~25% test") {
    val a = Sampling.splitCounts(spark, dir).collect().toSeq
    val b = Sampling.splitCounts(spark, dir).collect().toSeq
    assert(a == b)
    val total = a.map(_.getLong(2)).sum
    val test = a.filter(_.getString(1) == "test").map(_.getLong(2)).sum
    val frac = test.toDouble / total
    assert(frac > 0.10 && frac < 0.40, s"test fraction $frac far from 25%")
  }

  test("hash stratified sample: per-stratum rates within binomial noise") {
    val byLang = Tables(spark, dir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Sampling.stratifiedSampleHash(spark, dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("en" -> 0.5, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.75)
    for ((lang, f) <- want if byLang.getOrElse(lang, 0L) > 0) {
      val n = byLang(lang)
      val got = sampled.getOrElse(lang, 0L).toDouble / n
      // 4 sigma of Binomial(n, f) — deterministic given the data, the
      // bound just documents that the hex-threshold draw is unbiased
      val tol = 4 * math.sqrt(f * (1 - f) / n)
      assert(math.abs(got - f) <= tol, s"$lang: rate $got vs $f (n=$n, tol $tol)")
    }
  }

  test("hash stratified sample: fraction 1.0 keeps every row, 0.0 keeps none") {
    val n = Tables(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    val all = Sampling.stratifiedSampleHash(spark, dir, Seq("en" -> 1.0)).count()
    val none = Sampling.stratifiedSampleHash(spark, dir, Seq("en" -> 0.0)).count()
    assert(all == n, s"fraction 1.0 kept $all of $n")
    assert(none == 0L)
  }

  test("temperature sample: smallest stratum kept whole, rates track sqrt(n_min/n_l), mix flattened") {
    val out = Sampling.temperatureSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out.map(_._1).toSet == Set("en", "de", "es", "fr", "zh"))
    val minN = out.map(_._2).min
    for ((lang, n, kept, frac) <- out) {
      val want = math.sqrt(minN.toDouble / n)
      assert(math.abs(frac - want) < 1e-6, s"$lang: frac $frac vs sqrt ${want}")
      // binomial noise bound on the achieved rate, 4 sigma
      val tol = 4 * math.sqrt(want * (1 - want) / n)
      assert(math.abs(kept.toDouble / n - want) <= tol,
        s"$lang: rate ${kept.toDouble / n} vs $want (tol $tol)")
    }
    // the smallest stratum is kept in full (frac 1.0 exactly)
    val smallest = out.minBy(_._2)
    assert(smallest._3 == smallest._2, s"smallest stratum lost rows: $smallest")
    // α=0.5 flattens: the kept max/min share ratio must shrink vs natural
    val natRatio = out.map(_._2).max.toDouble / out.map(_._2).min
    val keptRatio = out.map(_._3).max.toDouble / out.map(_._3).min
    assert(keptRatio < natRatio,
      s"mix not flattened: kept ratio $keptRatio vs natural $natRatio")
  }

  test("urlCanonicalDedup: canonicalizer collapses every planted variant class; keeper is min id") {
    import spark.implicits._
    // the canonicalizer on hand-built raw URLs: each row is (raw, want)
    val cases = Seq(
      ("https://a.example.com/articles/3", "https://a.example.com/articles/3"),
      ("https://a.example.com/articles/3?utm_source=feed&ref=77", "https://a.example.com/articles/3"),
      ("https://a.example.com/articles/3/", "https://a.example.com/articles/3"),
      ("HTTPS://A.EXAMPLE.COM:443/articles/3", "https://a.example.com/articles/3"),
      // non-tracking params SURVIVE, in place, wherever the tracking ones sat
      ("https://h.example.com/p?a=1&utm_x=2", "https://h.example.com/p?a=1"),
      ("https://h.example.com/p?utm_x=2&a=1", "https://h.example.com/p?a=1"),
      ("http://h.example.com:8080/p", "http://h.example.com:8080/p"))
    val got = cases.map(_._1).toDF("url")
      .select(Sampling.canonicalUrl(col("url")).as("c")).collect().map(_.getString(0))
    for (((_, want), g) <- cases.zip(got)) assert(g == want, s"got $g want $want")
    // on the table: groups exist with n > 1 (the planted variants collapse)
    // and every keeper is its group's min doc_id by construction (min agg)
    val out = Sampling.urlCanonicalDedup(spark, dir).collect()
    assert(out.nonEmpty && out.exists(_.getLong(2) > 1),
      "no collapsed URL groups — planting too sparse for this SF")
    // canonical forms carry none of the planted mess
    assert(out.forall { r =>
      val u = r.getString(0)
      !u.contains("HTTPS") && !u.contains(":443") && !u.endsWith("/") &&
        !u.contains("utm_") && !u.contains("ref=")
    }, "planted variant artifacts survived canonicalization")
  }

  test("mixture sample: achieved shares track the targets, limiting stratum kept whole") {
    import org.apache.spark.sql.functions.col
    val out = Sampling.mixtureSample(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set("en", "de", "es", "fr", "zh"))
    for ((lang, (_, target, achieved)) <- out)
      // strata here have O(100) docs → binomial noise on a share is a few
      // points; 0.08 pins the mixing logic without pinning the noise
      assert(math.abs(achieved - target) < 0.08, s"$lang: $achieved vs $target")
    // the limiting stratum (min lang_n/target) must be kept in full
    val byLang = Tables(spark, dir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val limiting = out.keys.minBy(l => byLang(l) / out(l)._2)
    assert(out(limiting)._1 == byLang(limiting),
      s"limiting stratum $limiting lost rows: ${out(limiting)._1} of ${byLang(limiting)}")
  }

  test("shuffleShards: every doc lands once, positions dense per shard, order deterministic") {
    val out = Sampling.shuffleShards(spark, dir).collect()
    val total = Tables(spark, dir, "documents").count()
    assert(out.length == total)
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == total)
    // positions within each shard are exactly 1..n_shard
    out.groupBy(_.getAs[Int]("shard")).foreach { case (s, rows) =>
      val ps = rows.map(_.getAs[Int]("pos")).sorted
      assert(ps.toSeq == (1 to rows.length), s"shard $s positions not dense")
      assert(s >= 0 && s < 16)
    }
    // deterministic: a second run yields the identical order
    val again = Sampling.shuffleShards(spark, dir).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("urlHostCaps: cap boundary — under, at, and over the cap; md5 order decides survivors") {
    import spark.implicits._
    // host a: 3 docs (< cap), host b: 5 (== cap), host c: 9 (> cap)
    val docs = ((1L to 3L).map(i => (i, "a")) ++ (10L to 14L).map(i => (i, "b")) ++
      (20L to 28L).map(i => (i, "c"))).toDF("doc_id", "host")
    val out = Sampling.urlHostCapsFrom(docs, cap = 5).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    val byHost = out.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    assert(byHost("a").length == 3 && byHost("b").length == 5 && byHost("c").length == 5)
    // ranks are dense 1..kept per host
    for ((h, rows) <- byHost)
      assert(rows.map(_._3).toSeq == (1 to rows.length), s"host $h ranks not dense")
    // host c's survivors are exactly the top 5 by md5(seed:id) — recomputed
    // independently of the operator
    val md = java.security.MessageDigest.getInstance("MD5")
    def okey(id: Long): String =
      md.digest(s"s42:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectC = (20L to 28L).sortBy(id => (okey(id), id)).take(5).toSet
    assert(byHost("c").map(_._2).toSet == expectC)
  }

  test("urlHostCaps: result is independent of the input partitioning") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"h${i % 3}")).toDF("doc_id", "host")
    val one = Sampling.urlHostCapsFrom(docs.coalesce(1), cap = 7).collect().map(_.toSeq)
    val many = Sampling.urlHostCapsFrom(docs.repartition(13), cap = 7).collect().map(_.toSeq)
    assert(one.toSeq == many.toSeq,
      "capped rank must not depend on physical partitioning")
  }

  test("urlHostCaps: Catalyst plans the map-side partial cap (skew armor at 100 TB)") {
    val plan = Sampling.urlHostCaps(spark, dir)
      .queryExecution.executedPlan.toString
    // the rank<=cap filter must compile to a two-phase WindowGroupLimit:
    // a Partial top-cap per host BEFORE the host exchange (so a mega-host
    // ships at most cap rows per input slice), then the Final pass after
    val partialAt = plan.indexOf("WindowGroupLimit")
    assert(partialAt >= 0 && plan.indexOf("WindowGroupLimit", partialAt + 1) > 0,
      s"expected two-phase WindowGroupLimit in:\n$plan")
    assert(plan.contains("Partial") && plan.contains("Final"),
      s"expected Partial+Final WindowGroupLimit phases in:\n$plan")
    val exchangeAt = plan.indexOf("Exchange hashpartitioning(host")
    val partialPhaseAt = plan.indexOf("row_number(), 10, Partial")
    assert(exchangeAt >= 0 && partialPhaseAt > exchangeAt,
      "the Partial WindowGroupLimit must sit BELOW (after, in tree print order) the host exchange")
  }

  test("hostLangEntropy: zero for a monolingual host, ln(k) for a uniform k-language host") {
    import spark.implicits._
    // build via a temp docs frame through the same aggregates the operator
    // uses over the real table — recomputed here from first principles
    val out = Sampling.hostLangEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // recompute every host's entropy independently
    val raw = Tables(spark, dir, "documents").select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    for ((host, rows) <- raw.groupBy(_._1)) {
      val n = rows.length.toDouble
      val expected = -rows.groupBy(_._2).values
        .map(g => { val p = g.length / n; p * math.log(p) }).sum
      val (nDocs, nLangs, got) = out(host)
      assert(nDocs == rows.length && nLangs == rows.map(_._2).distinct.length)
      assert(math.abs(got - expected) < 1e-6, s"$host: $got vs $expected")
      // entropy is bounded by ln(n_langs), zero only if monolingual
      assert(got >= 0 && got <= math.log(nLangs.toDouble) + 1e-9)
      if (nLangs == 1) assert(got == 0.0)
    }
  }

  test("sizeBalancedShards: two-phase prefix sum equals the naive global window; shards are contiguous and bounded") {
    val out = Sampling.sizeBalancedShards(spark, dir).collect()
    // spec-form recomputation: ONE global running sum (test-scale only)
    val naive = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("shard",
        expr(s"(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) div ${Sampling.ShardTargetChars}"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("total_chars"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard").collect()
    assert(out.map(_.toSeq).toSeq == naive.map(_.toSeq).toSeq,
      "two-phase offsets diverged from the global running sum")
    // shards partition the corpus contiguously in doc_id order
    val ranges = out.map(r => (r.getLong(3), r.getLong(4)))
    for (i <- 1 until ranges.length)
      assert(ranges(i - 1)._2 < ranges(i)._1, s"shard ranges interleave at $i")
    // every shard except the last carries at least the target (a shard
    // closes only once the running offset crosses the boundary)
    val maxDoc = Tables(spark, dir, "documents")
      .agg(max("n_chars")).head().getLong(0)
    val totals = out.map(r => r.getLong(2))
    totals.dropRight(1).zipWithIndex.foreach { case (t, i) =>
      assert(t >= Sampling.ShardTargetChars - maxDoc && t <= Sampling.ShardTargetChars + maxDoc,
        s"shard $i total $t outside the one-doc band around the target")
    }
    assert(out.map(_.getLong(1)).sum ==
      Tables(spark, dir, "documents").count(), "shards lost or duplicated docs")
  }

  test("sizeBalancedShards: bucket count bounded by parallelism regardless of corpus size; manifest invariant to bucket width") {
    val par = spark.sessionState.conf.numShufflePartitions
    val bound = par.toLong * Sampling.ShardBucketsPerPartition
    // 1e3 → 1e13 ids: the chosen width always keeps the bucket count (the
    // rows under the one unpartitioned window) at or under the bound — the
    // property a constant width (the old ShardBucket=64) violates linearly
    for (idRange <- Seq(1000L, 1000000L, 1000000000L, 10000000000000L)) {
      val w = Sampling.shardBucketWidth(idRange, par)
      val buckets = (idRange + w - 1) / w
      assert(buckets <= bound, s"id range $idRange: $buckets buckets > bound $bound")
      assert(w >= 1L)
    }
    // the two-phase decomposition is provably equal to the global cumsum
    // for ANY width — pin the manifest across widths incl. the dynamic one
    val dyn = Sampling.sizeBalancedShards(spark, dir).collect().map(_.toSeq).toSeq
    for (w <- Seq(1L, 7L, 64L, Long.MaxValue)) {
      val fixed = Sampling.sizeBalancedShards(spark, dir, bucket = Some(w))
        .collect().map(_.toSeq).toSeq
      assert(fixed == dyn, s"manifest changed under bucket width $w")
    }
  }

  test("shuffleShards: shards actually mix the languages (that is the point)") {
    val out = Sampling.shuffleShards(spark, dir)
    val langsPerShard = out.groupBy("shard")
      .agg(countDistinct(col("lang")).as("n_langs"), count(lit(1)).as("n"))
      .collect()
    // the fixture has 5 languages; a shard big enough to statistically
    // contain several must not be monolingual (a sorted-by-source layout
    // would be — the shuffle is what prevents it)
    for (r <- langsPerShard if r.getAs[Long]("n") >= 20)
      assert(r.getAs[Long]("n_langs") >= 3,
        s"shard ${r.get(0)} with ${r.getAs[Long]("n")} docs has only ${r.get(1)} langs")
  }

  test("weightedSampleEs: distributed top-k plan, weight-biased selection, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = Sampling.weightedSampleEs(spark, dir)
    // A-ES selection must plan as per-partition top-k + driver merge,
    // never a global sort of the corpus
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$phys")
    val rows = out.collect()
    assert(rows.length == Sampling.EsK)
    assert(rows.map(_.getLong(0)).distinct.length == Sampling.EsK, "without replacement")
    // weighting does real work: the n_chars-weighted draw must pull the
    // sample's mean length above the corpus mean
    val sampleMean = rows.map(_.getLong(2)).sum.toDouble / rows.length
    val corpusMean = Tables(spark, dir, "documents")
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean — weights ignored?")
    // pure function of (seed, key): identical on re-run
    assert(Sampling.weightedSampleEs(spark, dir).collect().sameElements(rows))
  }

  test("stratifiedTopkSample: per-lang exact-k ES draw equals a brute rank") {
    val out = Sampling.stratifiedTopkSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))

    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(id: Long): Long = {
      val hex = md.digest(s"${Sampling.EsSeed}:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = docs.groupBy(_._2).toSeq.flatMap { case (lang, g) =>
      g.map { case (id, _, nc) =>
          (math.log((draw(id) + 1.0) / 65537.0) / nc, id, nc) }
        .sortBy { case (k, id, _) => (-k, id) }
        .take(Sampling.StratumK).zipWithIndex
        .map { case ((_, id, nc), i) => (lang, i + 1, id, nc) }
    }.sortBy(t => (t._1, t._2))
    assert(out.toSeq == brute, "WindowGroupLimit rank must equal brute ES rank")
    // exactly k per stratum (every lang has >= k docs at this SF)
    assert(out.groupBy(_._1).values.forall(_.length == Sampling.StratumK))
  }

  test("distributionMatchSample equals a BigInt rejection-rule re-derivation") {
    val out = Sampling.distributionMatchSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getLong(2) / Sampling.DmBucketChars))
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(id: Long): Long = {
      val hex = md.digest(s"${Sampling.DmSeed}:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    val tb = docs.groupBy(_._3).view.mapValues(g => BigInt(g.length)).toMap
    val brute = docs.groupBy(_._2).flatMap { case (src, g) =>
      val cb = g.groupBy(_._3).view.mapValues(x => BigInt(x.length)).toMap
      // argmax of tb/cb via the same IEEE-double quotient + bucket tie
      val bStar = cb.keys.toSeq
        .sortBy(b => (-(tb(b).toDouble / cb(b).toDouble), b)).head
      val (tbS, cbS) = (tb(bStar), cb(bStar))
      cb.keys.toSeq.map { b =>
        val kept = g.filter(_._3 == b).count(d =>
          BigInt(draw(d._1)) * cb(b) * tbS < tb(b) * cbS * 65536)
        (src, b) -> (cb(b).toLong, kept.toLong,
          (1000 * tb(b) * cbS / (cb(b) * tbS)).toLong)
      }
    }.toMap
    assert(out == brute, "rejection rule must re-derive exactly")
    // the tightest-constant law: each source's argmax bucket accepts all
    assert(brute.groupBy(_._1._1).forall { case (_, cells) =>
      cells.values.map(_._3).max == 1000L })
    // the sampler actually rejects somewhere (the mix is not already flat)
    assert(out.values.map(_._2).sum < out.values.map(_._1).sum)
  }

  test("kcenterCoreset: greedy chain matches an independent in-memory recompute; assignment is nearest-center") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = Tables(spark, dir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var daa = 0.0; var dab = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) { daa += a(i) * a(i); dab += a(i) * b(i); dbb += b(i) * b(i); i += 1 }
      daa - 2.0 * dab + dbb
    }
    // independent farthest-point traversal
    var centers = Vector(rows.head)
    for (_ <- 2 to Sampling.KcK) {
      val next = rows.map { case (id, v) =>
        (id, v, centers.map(c => d2(v, c._2)).min)
      }.maxBy { case (id, _, d) => (d, -id) } // max d, tie -> smaller id
      centers = centers :+ ((next._1, next._2))
    }
    val got = Sampling.kcenterCoreset(spark, dir).collect()
    val gotCenters = got.filter(r => r.getLong(0) == r.getLong(2))
      .sortBy(_.getInt(1)).map(_.getLong(0)).toVector
    assert(gotCenters == centers.map(_._1),
      s"greedy chain diverged: engine $gotCenters vs reference ${centers.map(_._1)}")
    // every assignment is the true nearest center (tie -> lowest rank)
    val cByRank = centers.zipWithIndex.map { case ((id, v), i) => (i + 1, id, v) }
    for (r <- got) {
      val v = rows.find(_._1 == r.getLong(0)).get._2
      val best = cByRank.map { case (rk, id, cv) => (d2(v, cv), rk, id) }.min
      assert(r.getInt(1) == best._2, s"vec ${r.getLong(0)} assigned to rank ${r.getInt(1)}, nearest is ${best._2}")
    }
    // determinism
    val again = Sampling.kcenterCoreset(spark, dir).collect().map(_.toString).toSeq
    assert(got.map(_.toString).toSeq == again)
  }
}
