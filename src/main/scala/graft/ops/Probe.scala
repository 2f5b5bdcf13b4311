package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Standing stage-level timing probe for optimization work (the
  * [[graft.PlanDump]] convention: a measurement tool, never registered or
  * benched — r17 shipped it as a scratch file, r18 keeps it as the
  * documented instrument). Runs on [[graft.GraftSession]], as Bench does.
  *
  * Modes: `acct <query>` — warm one registered query, then re-run it under
  * a SparkListener and report jobs / stages / tasks / stage wall+CPU (the
  * r18 attribution workhorse: it is how the kmeans argmin-under-Generate
  * bug and the per-superstep job counts of the graph family were found);
  * `knn` / `knn2` — phase decomposition of the NN-Descent construction and
  * search; `kcore`, `link`, `hits`, `bm25`, `kmeans` — family probes.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.headOption.getOrElse("knn") match {
      case "knn" =>
        val e = Tables(spark, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        println("[probe] emb rows: " + e.count())
        val cent = t("fitCentroids")(Similarity.fitCentroids(spark, dir, Similarity.NCentroids))
        val (reps, members) = GraphAnn.repsOf(e)
        val re = reps.persist(); val mem = members.persist()
        t("reps+members materialize")(println("[probe] reps: " + re.count() + " members: " + mem.count()))
        val init = GraphAnn.initStage(re, cent)
        t("initStage noop")(noop(init))
        var edges = t("init topPerSrc ckpt")(
          GraphAnn.topPerSrc(init, GraphAnn.KnnDegree).localCheckpoint(true))
        for (i <- 1 to GraphAnn.KnnRounds) {
          edges = t(s"descent round $i")(
            GraphAnn.topPerSrc(GraphAnn.descentRound(re, edges), GraphAnn.KnnDegree)
              .localCheckpoint(true))
        }
        t("full query warm 1")(noop(GraphAnn.knnGraphTopK(spark, dir)))
        t("full query warm 2")(noop(GraphAnn.knnGraphTopK(spark, dir)))
        t("full query warm 3")(noop(GraphAnn.knnGraphTopK(spark, dir)))
      case "knn2" =>
        // phase decomposition of the registered query, warm
        val e = Tables(spark, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        e.count()
        val cent = Similarity.fitCentroids(spark, dir, Similarity.NCentroids)
        noop(GraphAnn.knnGraphTopK(spark, dir)) // warm everything once
        spark.catalog.clearCache()
        val (reps, members) = GraphAnn.repsOf(e)
        val re = reps.persist(); val mem = members.persist()
        t("reps+members")(println("[probe] reps: " + re.count() + " members: " + mem.count()))
        val edges = t("knnGraphEdges (init+2 rounds)")(GraphAnn.knnGraphEdges(re, cent))
        t("search+expand tail")(noop(GraphAnn.searchTail(e, re, mem, edges, cent)))
      case "acct" =>
        // generic accounting: jobs/stages/tasks/stage-ms for one registered
        // query, warm: Probe acct <query_name>
        val qname = args(1)
        val fn = graft.SparkEntry.queries(qname)
        noop(fn(spark, dir)) // warm
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        // the warm pass's localCheckpoint blocks are only released after
        // their RDD objects are GC'd (the graft.Bench lesson) — without
        // this, the accounted run is squeezed by dead storage blocks and
        // reports inflated deserialize/spill times, not the plan
        System.gc()
        val jobs = new java.util.concurrent.atomic.AtomicInteger()
        val stageMs = new java.util.concurrent.atomic.AtomicLong()
        val stageN = new java.util.concurrent.atomic.AtomicInteger()
        val taskN = new java.util.concurrent.atomic.AtomicInteger()
        val big = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
            stageMs.addAndGet(ms); stageN.incrementAndGet(); taskN.addAndGet(i.numTasks)
            if (ms > 150) {
              val m = i.taskMetrics
              big.add(f"stage ${i.stageId}%4d tasks=${i.numTasks}%3d ${ms}%5d ms " +
                f"run=${m.executorRunTime} deser=${m.executorDeserializeTime} " +
                f"gc=${m.jvmGCTime} resSer=${m.resultSerializationTime} " +
                f"cpu=${m.executorCpuTime / 1000000} " +
                f"rdds=${i.rddInfos.map(_.name).distinct.mkString("|")} " +
                f"site=${i.details.linesIterator.take(1).mkString}")
            }
          }
        })
        t(s"$qname accounted")(noop(fn(spark, dir)))
        Thread.sleep(500)
        println(s"[probe] jobs=${jobs.get} stages=${stageN.get} tasks=${taskN.get} stageMsSum=${stageMs.get}")
        big.forEach(s => println("[probe] big " + s))
      case "kcore" =>
        val docs = Tables(spark, dir, "documents")
        val edges = PageRank.linkGraph(docs)
        t("linkGraph noop")(noop(edges))
        t("docCoreness full")(noop(PageRank.docCoreness(spark, dir)))
      case "link" =>
        val docs = Tables(spark, dir, "documents")
        println("[probe] docs rows: " + docs.count())
        val ex = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
        t("explode noop (x2)")(noop(ex)); t("explode noop warm")(noop(ex))
        println("[probe] shingle rows: " + ex.count())
        val rareKeys = ex.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") >= PageRank.RareMinDf && col("df") <= PageRank.RareMaxDf)
          .select("s")
        t("df agg noop")(noop(rareKeys))
        println("[probe] rare keys: " + rareKeys.count())
        val rare = ex.join(rareKeys, Seq("s"))
        t("rare join noop")(noop(rare))
        val edges = rare.select(col("s"), col("doc_id").as("src"))
          .join(rare.select(col("s"), col("doc_id").as("dst")), Seq("s"))
          .filter(col("src") =!= col("dst"))
          .select("src", "dst").distinct()
        t("edges noop")(noop(edges))
        println("[probe] edges: " + edges.count())
        t("linkGraph full warm")(noop(PageRank.linkGraph(docs)))
      case "hits" =>
        val docs = Tables(spark, dir, "documents")
        t("linkGraph noop")(noop(PageRank.linkGraph(docs)))
        t("docHits full")(noop(PageRank.docHits(spark, dir)))
        t("docPageRank full")(noop(PageRank.docPageRank(spark, dir)))
        t("docPersonalizedPageRank full")(noop(PageRank.docPersonalizedPageRank(spark, dir)))
      case "kmeans" =>
        t("kmeans full")(noop(Clustering.kmeansClusters(spark, dir)))
      case "bq2" =>
        // tier attribution of the binary->ADC->exact cascade
        val e = Tables(spark, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("v"))
        println("[probe] emb rows: " + e.count())
        val books = t("fitPq (session fit)")(
          Similarity.fitPq(spark, dir, Similarity.PqM, Similarity.PqKs))
        t("assignCodes noop")(noop(Similarity.assignCodes(e, books, Seq("vec_id"))))
        t("assignCodes noop 2")(noop(Similarity.assignCodes(e, books, Seq("vec_id"))))
        t("tier1 hamming s1=200")(noop(Similarity.bqHammingTopK(spark, dir, 200)))
        t("tier1 again")(noop(Similarity.bqHammingTopK(spark, dir, 200)))
        t("full cascade")(noop(Similarity.bqAdcRerankTopK(spark, dir)))
        t("full cascade 2")(noop(Similarity.bqAdcRerankTopK(spark, dir)))
        // is the 64-reference transform(v) the tier-1 cost? sign words
        // computed over the cast array vs the raw float array
        def sw(v: Column, off: Int, bits: Int): Column =
          (0 until bits).map { j =>
            when(element_at(v, off + j + 1) >= 0, shiftleft(lit(1L), j))
              .otherwise(lit(0L))
          }.reduce[Column](_.bitwiseOR(_))
        val raw = Tables(spark, dir, "embeddings")
        val viaCast = e.select(col("vec_id"),
          sw(col("v"), 0, 32).as("w0"), sw(col("v"), 32, 32).as("w1"))
        val viaRaw = raw.select(col("vec_id"),
          sw(col("embedding"), 0, 32).as("w0"),
          sw(col("embedding"), 32, 32).as("w1"))
        t("codes via cast 1")(noop(viaCast)); t("codes via cast 2")(noop(viaCast))
        t("codes via raw 1")(noop(viaRaw)); t("codes via raw 2")(noop(viaRaw))
        // tier-1 decomposition: pair expansion vs window
        val q2 = viaCast.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
        val sc2 = viaCast.join(broadcast(q2), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("int").as("hamming"))
        t("pairs noop 1")(noop(sc2)); t("pairs noop 2")(noop(sc2))
        import org.apache.spark.sql.expressions.Window
        val w2 = Window.partitionBy(col("q_id")).orderBy(col("hamming").asc, col("n_id"))
        val ranked = sc2.withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 200).select("q_id", "n_id")
        t("ranked noop 1")(noop(ranked)); t("ranked noop 2")(noop(ranked))
        // fix candidate: materialize the 16-byte codes through an exchange
        // before the pair expansion
        val cp = viaCast.repartition(32, col("vec_id"))
        val sc3 = cp.join(broadcast(q2), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("int").as("hamming"))
        t("pairs exch noop 1")(noop(sc3)); t("pairs exch noop 2")(noop(sc3))
        val ranked3 = sc3.withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 200).select("q_id", "n_id")
        t("ranked exch noop 1")(noop(ranked3)); t("ranked exch noop 2")(noop(ranked3))
      case "txix" =>
        // phase split of bm25_topk_indexed's lifecycle + the serve plan
        // (the registered query checkpoints its result, so PlanDump only
        // shows the truncated scan)
        val phase = new java.util.concurrent.atomic.AtomicReference[String]("init")
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
            if (ms > 150) {
              println(f"[probe] big [${phase.get}] stage ${i.stageId}%4d " +
                f"tasks=${i.numTasks}%3d ${ms}%5d ms cpu=${i.taskMetrics.executorCpuTime / 1000000}")
              println("[probe]   rdds: " + i.rddInfos.map(_.name).distinct.mkString(" | "))
            }
          }
        })
        def ph[A](tag: String)(f: => A): A = { phase.set(tag); t(tag)(f) }
        val docs = Tables(spark, dir, "documents").select("doc_id", "text")
        docs.count() // warm the scan
        val base = ph("build (90%)")(TextIndex.build(docs.filter(col("doc_id") % 10 =!= 0)))
        val grown = ph("append (10%)")(TextIndex.append(base, docs.filter(col("doc_id") % 10 === 0)))
        val queries = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("q_id"), col("text"))
        val served = TextIndex.topK(grown, queries)
        ph("topK noop 1")(noop(served))
        ph("topK noop 2")(noop(TextIndex.topK(grown, queries)))
        // the serve plan, post-execution (this mode is how the r18
        // broadcast-flip/serial-candidate-stage bug was found)
        println(served.queryExecution.executedPlan.toString.take(8000))
        Thread.sleep(300)
        TextIndex.release(grown)
      case "bm25" =>
        t("bm25 tf build")(noop(Tables(spark, dir, "documents")
          .select(col("doc_id"), explode(graft.ops.Dedup.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))))
        t("bm25_topk full")(noop(TextAnalysis.bm25TopK(spark, dir)))
        t("bm25_topk_served full")(noop(TextAnalysis.bm25TopKServed(spark, dir)))
        t("qld_topk full")(noop(TextAnalysis.qldTopK(spark, dir)))
      case other => println(s"[probe] unknown mode $other")
    }
    spark.stop()
  }
}
