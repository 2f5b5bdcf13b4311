package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class CorpusSpec extends SparkSuite {
  import spark.implicits._

  test("repetitionStats: degenerate repetition is measured and dropped") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "every word here appears exactly once in this clean document")
    ).toDF("doc_id", "text")
    val out = Corpus.repetitionStatsOf(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_gram_frac"), r.getAs[Boolean]("keep"))).toMap
    // "spam spam spam" ×8 occurrences, all duplicates of one gram
    assert(out(1L)._1 == 1.0 && !out(1L)._2)
    assert(out(2L)._1 == 0.0 && out(2L)._2)
  }

  test("piiScrub: plants are found, scrubbed text has no residual matches") {
    val dir = "/root/testdata/sf0.001"
    val out = Corpus.piiScrub(spark, dir)
    val planted = out.filter(col("doc_id") % 5 === 0)
    assert(planted.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0)
    assert(out.filter(col("doc_id") % 5 =!= 0)
      .filter(col("n_emails") =!= 0 || col("n_phones") =!= 0).count() == 0)
    // idempotence: scrubbing already-scrubbed text finds nothing
    val df = Seq((0L, "reach me at a.b+c@mail.example.org or +44-201-9999 ok"))
      .toDF("doc_id", "text")
    val once = df.select(col("doc_id"), Corpus.scrubbed(col("text")).as("text"))
    val counts = Corpus.piiScrubOf(once).head()
    assert(counts.getAs[Int]("n_emails") == 0 && counts.getAs[Int]("n_phones") == 0)
    assert(once.head().getString(1) == "reach me at [EMAIL] or [PHONE] ok")
  }

  test("boilerplateScrub: planted banner cut from every carrier, 2-doc segment survives, reassembly exact") {
    // a 4-token banner in 3 docs (≥ BoilerplateMinDocs) must go; a 4-token
    // segment shared by only 2 docs must stay; tails (<4 tokens) always stay
    val banner = "accept all cookies now"
    val rare = "only two docs share"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta tail bit"),
      (2L, s"epsilon zeta eta theta $banner"),
      (3L, s"$banner $rare"),
      (4L, s"$rare iota kappa lambda mu"),
      (5L, "nothing shared here at all five")
    ).toDF("doc_id", "text")
    val out = Corpus.boilerplateScrubOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // only the 3 banner carriers are affected
    assert(out.keySet == Set(1L, 2L, 3L), s"affected set wrong: ${out.keySet}")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: banner is chunk 0 → remainder is the other two chunks
    assert(out(1L) == ((3L, 1L, md5hex("alpha beta gamma delta tail bit"))))
    // doc 2: banner is the SECOND aligned chunk → leading chunk survives
    assert(out(2L) == ((2L, 1L, md5hex("epsilon zeta eta theta"))))
    // doc 3: banner cut, the rare 2-doc segment survives
    assert(out(3L) == ((2L, 1L, md5hex(rare))))
  }

  test("boilerplateScrub: a document that is ALL boilerplate reassembles to the empty digest") {
    val banner = "accept all cookies now"
    val docs = Seq(
      (1L, banner), (2L, banner), (3L, banner),
      (4L, s"unique text one two $banner")
    ).toDF("doc_id", "text")
    val out = Corpus.boilerplateScrubOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(out(1L) == emptyMd5 && out(2L) == emptyMd5 && out(3L) == emptyMd5)
    assert(out(4L) != emptyMd5)
  }

  test("decontaminate: flagged train docs really share grams; near-dup planted pair is caught") {
    val dir = "/root/testdata/sf0.001"
    val flagged = Corpus.decontaminate(spark, dir).collect()
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text"), 5).as("sh"))
    val test = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("test_id"), col("sh").as("test_sh"))
    for (r <- flagged) {
      val shared = docs.filter(col("doc_id") === r.getAs[Long]("train_id"))
        .crossJoin(test)
        .select(size(array_intersect(col("sh"), col("test_sh"))).as("k"))
        .agg(max(col("k"))).head().getInt(0)
      assert(shared >= 2, s"train ${r.getAs[Long]("train_id")} flagged but shares $shared grams")
    }
  }

  test("decontaminateBloom: superset of the exact scan (no false negatives), fpp-bounded extras") {
    val dir = "/root/testdata/sf0.01"
    val exact = Corpus.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("train_id") -> r.getAs[Long]("n_shared_grams")).toMap
    val bloom = Corpus.decontaminateBloom(spark, dir).collect()
      .map(r => r.getAs[Long]("train_id") -> r.getAs[Long]("n_hit_grams")).toMap
    // mightContain never misses a member: every exactly-flagged doc is
    // bloom-flagged, with at least as many hit grams as true shared grams
    for ((id, nShared) <- exact) {
      assert(bloom.contains(id), s"exactly-flagged train doc $id missed by the bloom scan")
      assert(bloom(id) >= nShared,
        s"doc $id: ${bloom(id)} bloom hits < $nShared true shared grams")
    }
    // false-positive tail is fpp-bounded: probe every distinct non-member
    // train gram against the same filter and measure the per-gram FP rate
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val testGramSet = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(col("text"), 5)).as("g"))
      .distinct().collect().map(_.getString(0)).toSet
    val trainGrams = docs.filter(col("doc_id") % 50 =!= 0)
      .select(explode(Dedup.shingles(col("text"), 5)).as("g"))
      .distinct().collect().map(_.getString(0))
    val bf = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(col("text"), 5)).as("g")).distinct()
      .stat.bloomFilter("g", math.max(testGramSet.size, 1).toLong, 0.001)
    val nonMembers = trainGrams.filterNot(testGramSet)
    val fps = nonMembers.count(bf.mightContainString)
    val rate = fps.toDouble / math.max(nonMembers.length, 1)
    // 5x slack over the configured 1e-3: the bound is a guarantee-shaped
    // regression check, not a statistical knife edge
    assert(rate <= 0.005, s"bloom false-positive rate $rate over ${nonMembers.length} probes")
    // and at the DOC level the over-flagging tail is small: extras beyond
    // the exact scan stay under 1% of the train corpus
    val nTrain = docs.filter(col("doc_id") % 50 =!= 0).count()
    val extras = bloom.keySet -- exact.keySet
    assert(extras.size <= math.max(1, nTrain / 100),
      s"${extras.size} bloom-only flagged docs of $nTrain train docs")
  }

  test("bigramLogProb: shuffled text scores below natural text with the same word inventory") {
    import spark.implicits._
    val natural = "the cat sat on the mat and the dog sat on the rug"
    // same multiset of words, sequence destroyed — unigram scoring cannot
    // tell these apart; the bigram conditional must
    val shuffled = "mat the on dog sat rug the cat the and on sat the"
    // a corpus of natural sentences establishes the bigram statistics
    val docs = ((1L to 8L).map(i => (i, natural)) :+ (100L, shuffled)).toDF("doc_id", "text")
    val out = Corpus.bigramLogProbScoreFrom(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(100L),
      s"natural ${out(1L)} must outscore shuffled ${out(100L)}")
    // every score is a negative mean log-probability
    assert(out.values.forall(_ < 0.0))
  }

  test("chunkDocuments: full coverage, correct overlap, no phantom chunks") {
    val dir = "/root/testdata/sf0.001"
    val width = 128; val stride = 96
    val chunks = Corpus.chunkDocuments(spark, dir, width, stride)
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max(col("chunk_idx")).as("last_idx"),
        min(col("n_tokens")).as("min_tok"), max(col("n_tokens")).as("max_tok"))
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(Dedup.tokens(col("text"))).as("n_tok"))
    val joined = perDoc.join(toks, "doc_id").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      val (n, nChunks, lastIdx) =
        (r.getAs[Int]("n_tok"), r.getAs[Long]("n_chunks"), r.getAs[Int]("last_idx"))
      val expected = 1 + math.ceil(math.max(0, n - width).toDouble / stride).toLong
      assert(nChunks == expected, s"doc ${r.getAs[Long]("doc_id")}: $nChunks vs $expected")
      assert(lastIdx == expected - 1)
      // chunks are width tokens except possibly the last; coverage: the
      // last chunk's start (lastIdx*stride) + its length reaches n
      assert(r.getAs[Int]("max_tok") <= width)
      assert(lastIdx * stride + r.getAs[Int]("min_tok") >= n ||
        r.getAs[Int]("min_tok") == width)
    }
  }

  test("chunkDocumentsGen: generator output row-identical to the declarative form; plan uses the custom Generate") {
    val dir = "/root/testdata/sf0.001"
    val a = Corpus.chunkDocuments(spark, dir).collect().toSeq
    val b = Corpus.chunkDocumentsGen(spark, dir).collect().toSeq
    assert(a == b, s"generator diverged from declarative chunking (first diff: ${
      a.zip(b).find { case (x, y) => x != y }})")
    val plan = Corpus.chunkDocumentsGen(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("sliding_chunks"), s"custom generator not in the plan:\n$plan")
    assert(!plan.contains("sequence("), s"index-array sequence survived:\n$plan")
    // null and empty inputs: explode-of-null → zero rows; empty text → the
    // formula's floor of one (empty) chunk
    import spark.implicits._
    val edge = Seq((1L, Option("")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val rows = Corpus.chunkDocumentsGenOf(edge, 4, 3).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1L, 0, 1)), s"edge semantics: ${rows.mkString(", ")}")
  }

  test("chunkDocuments: multi-chunk slicing is exact on a planted long doc") {
    // 300 numbered tokens, width 128 / stride 96 → 3 chunks starting at
    // 0, 96, 192; the last holds 108 tokens
    val longDoc = (0 until 300).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, longDoc)).toDF("doc_id", "text")
    val chunks = Corpus.chunkDocumentsOf(df).collect()
    assert(chunks.length == 3)
    assert(chunks.map(_.getAs[Int]("n_tokens")).toSeq == Seq(128, 128, 108))
    // chunk digests match the directly-sliced token windows
    val expected = Seq(0, 96, 192).map { start =>
      val s = (start until math.min(start + 128, 300)).map(i => s"w$i").mkString(" ")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(chunks.map(_.getAs[String]("chunk_md5")).toSeq == expected)
  }

  test("unigramLogProbScore: negative mean logprobs that actually discriminate") {
    val dir = "/root/testdata/sf0.001"
    val out = Corpus.unigramLogProbScore(spark, dir)
    assert(out.count() == Tables(spark, dir, "documents").count())
    // log of a probability < 1 is negative, for every document
    assert(out.filter(col("logp_avg") >= 0).count() == 0)
    // and the score separates documents (not a constant)
    assert(out.select("logp_avg").distinct().count() > 1)
  }

  test("kneserNeyLogProbScore: equals a from-first-principles re-derivation") {
    val dir = "/root/testdata/sf0.001"
    // collect the bigram multiset and rebuild the interpolated-KN model in
    // plain Scala — counts, N1+ fertilities, continuation mass — then
    // score per doc with the same fixed-shape arithmetic
    val bi = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val t = r.getString(1).toLowerCase.split("\\s+").toSeq
        t.sliding(2).filter(_.size == 2).map(p => (r.getLong(0), p(0), p(1)))
      }
    val cpc = bi.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.length.toLong }
    val cp = cpc.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val n1prev = cpc.groupBy(_._1._1).map { case (p, m) => p -> m.size.toLong }
    val n1cur = cpc.groupBy(_._1._2).map { case (c, m) => c -> m.size.toLong }
    val tt = cpc.size.toLong
    val D = Corpus.KnDiscount
    val expected = bi.groupBy(_._1).map { case (doc, rows) =>
      val lps = rows.map { case (_, p, c) =>
        math.log(math.max(cpc((p, c)) - D, 0.0) / cp(p)
          + (D * n1prev(p) / cp(p)) * (n1cur(c).toDouble / tt))
      }
      doc -> (rows.length.toLong,
        BigDecimal(lps.sum / lps.length).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val out = Corpus.kneserNeyLogProbScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == expected.keySet)
    for ((doc, (n, lp)) <- expected) {
      assert(out(doc)._1 == n, s"doc $doc n_bigrams")
      // the engine averages in partition order; re-derivation sums in file
      // order — allow one ulp-at-scale-4 of reassociation drift
      assert(math.abs(out(doc)._2 - lp) <= 1e-4 + 1e-12, s"doc $doc logp")
    }
  }

  test("kneserNey: observed-mass per context bounded by 1; continuation mass normalized") {
    val dir = "/root/testdata/sf0.001"
    val bi = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val t = r.getString(1).toLowerCase.split("\\s+").toSeq
        t.sliding(2).filter(_.size == 2).map(p => (p(0), p(1)))
      }
    val cpc = bi.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cp = cpc.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val n1prev = cpc.groupBy(_._1._1).map { case (p, m) => p -> m.size.toLong }
    val n1cur = cpc.groupBy(_._1._2).map { case (c, m) => c -> m.size.toLong }
    val tt = cpc.size.toLong
    val D = Corpus.KnDiscount
    // continuation distribution sums to exactly 1 over distinct curs
    assert(math.abs(n1cur.values.map(_.toDouble / tt).sum - 1.0) < 1e-9)
    // per context: discounted observed mass + backoff weight sums to 1
    // when the continuation mass is taken over the FULL vocabulary — the
    // interpolated-KN normalization identity
    for ((p, cnt) <- cp.take(50)) {
      val obs = cpc.collect { case ((pp, _), c) if pp == p => math.max(c - D, 0.0) / cnt }.sum
      val backoff = D * n1prev(p) / cnt
      assert(math.abs(obs + backoff - 1.0) < 1e-9, s"context $p mass")
    }
  }

  test("ccScrub: Luhn gates the mask — valid cards scrubbed, the checksum near-miss survives") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Corpus.ccScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.nonEmpty)
    for ((id, nCand, nValid, gotMd5) <- out) {
      val (wantCand, wantValid, planted, scrubbed) = (id % 7) match {
        case 0 =>
          val t = docs(id) + " card 4111111111111111 on file"
          (1, 1, t, t.replace("4111111111111111", "[CARD]"))
        case 3 => // regex hit, checksum miss: an order id the naive scrub destroys
          val t = docs(id) + " order 4111111111111112 ref"
          (1, 0, t, t)
        case 5 =>
          val t = docs(id) + " pay 5500-0000-0000-0004 now"
          (1, 1, t, t.replace("5500-0000-0000-0004", "[CARD]"))
        case _ => (0, 0, docs(id), docs(id))
      }
      assert(nCand == wantCand, s"doc $id candidates")
      assert(nValid == wantValid, s"doc $id valid")
      assert(gotMd5 == md5Hex(scrubbed), s"doc $id scrub bytes")
      if (wantValid == 0) assert(gotMd5 == md5Hex(planted), s"doc $id must survive untouched")
    }
  }

  test("qualityFilter: each rule fires, in its documented precedence") {
    import spark.implicits._
    // one doc per rule, plus one hitting TWO rules to pin precedence:
    // too_short wins over low_stopword when both apply. The base doc has
    // no repeated trigram (repetition is the LAST rule, so every earlier
    // fixture must be clean of it).
    val good = "the quick brown fox jumps over a lazy dog and runs to " +
      "the river of silver light under bright autumn skies while children " +
      "watch from tall grass near an old wooden bridge"
    val docs = Seq(
      1L -> good,                               // ok
      2L -> "tiny doc of the day",              // too_short (5 tokens, has stopwords)
      3L -> ("w " * 3000).trim,                 // too_long
      4L -> (("pneumonoultramicroscopic " * 20) + "the of and a to " * 4).trim, // bad_word_length
      5L -> ("alpha bravo charlie delta echo " * 6).trim, // low_stopword (0 hits)
      6L -> (good + " " + ("spam ham jam " * 30).trim)    // repetitive trigrams, has stopwords
    ).toDF("doc_id", "text")
    val out = Corpus.qualityFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(out(1L) == "ok")
    assert(out(2L) == "too_short")
    assert(out(3L) == "too_long")
    assert(out(4L) == "bad_word_length")
    assert(out(5L) == "low_stopword")
    assert(out(6L) == "repetitive")
  }

  test("qualityFilter: keep is exactly reason == ok and the funnel drops something real") {
    val out = Corpus.qualityFilter(spark, "/root/testdata/sf0.001")
    val bad = out.filter(col("keep") =!= (col("reason") === "ok")).count()
    assert(bad == 0)
    val kept = out.filter(col("keep")).count()
    val total = out.count()
    assert(kept > 0 && kept < total, s"degenerate funnel: $kept of $total kept")
  }

  test("lengthBatching: batches bounded, padding priced exactly and bounded by the bucket width") {
    val dir = "/root/testdata/sf0.001"
    val out = Corpus.lengthBatching(spark, dir, bucketWidth = 16, batchSize = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5)))
    assert(out.nonEmpty)
    val total = out.map(_._4).sum
    val docs = Tables(spark, dir, "documents").count()
    assert(total == docs, s"batched $total of $docs docs")
    for ((bucket, _, _, n, maxLen, padding) <- out) {
      assert(n <= 8, s"batch over size: $n")
      assert(padding >= 0)
      // members share a 16-wide length bucket → per-doc padding < 16
      assert(padding < n * 16, s"padding $padding breaks the bucket bound (n=$n)")
      assert(maxLen / 16 == bucket, s"max_len $maxLen outside bucket $bucket")
    }
  }

  test("packSequences: token totals preserved, packing starts at bin 0") {
    val dir = "/root/testdata/sf0.001"
    val packed = Corpus.packSequences(spark, dir)
    val perLang = packed.groupBy("lang")
      .agg(sum(col("n_tokens")).as("packed_tok"), min(col("bin")).as("bin0"))
    val truth = Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(sum(size(Dedup.tokens(col("text")))).as("true_tok"))
    val joined = perLang.join(truth, "lang").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      assert(r.getAs[Long]("packed_tok") == r.getAs[Long]("true_tok"), r.toString)
      assert(r.getAs[Long]("bin0") == 0L, r.toString)
    }
  }

  test("quantileNormalizeMap: exact rank matching; map is monotone and covers every cell") {
    val dir = "/root/testdata/sf0.001"
    val qdf = Corpus.quantileNormalizeMap(spark, dir)
    // the rank-match must plan as the native as-of merge — no theta-join
    // candidate enumeration over histogram pairs
    assert(qdf.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "rank-match should run through the native as-of operator")
    val out = qdf.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

    val rows = Tables(spark, dir, "documents")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val pool = rows.map(_._2).sorted
    val nPool = BigInt(pool.length)
    val poolVals = pool.distinct
    def cumPool(u: Long) = BigInt(pool.count(_ <= u))
    val brute = rows.groupBy(_._1).flatMap { case (src, g) =>
      val vs = g.map(_._2).sorted
      val nSrc = BigInt(vs.length)
      vs.distinct.toSeq.map { v =>
        val r = BigInt(vs.count(_ <= v))
        val mapped = poolVals.find(u => cumPool(u) * nSrc >= r * nPool).get
        (src, v) -> ((vs.count(_ == v).toLong, mapped))
      }
    }.toMap
    assert(out == brute, "rank matching must equal the brute inverse-CDF compose")
    // law: the map is monotone non-decreasing within each source
    for ((src, cells) <- out.groupBy(_._1._1)) {
      val sorted = cells.toSeq.sortBy(_._1._2).map(_._2._2)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
        s"non-monotone map for $src")
    }
    // law: the largest value of every source maps to the pooled maximum
    for ((src, cells) <- out.groupBy(_._1._1))
      assert(cells.toSeq.maxBy(_._1._2)._2._2 == pool.max, s"$src top cell")
  }
}
