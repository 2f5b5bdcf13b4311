package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Overlap.overlap

/** Append-only incremental maintenance for the INVERTED text index — the
  * BM25 sibling of [[IncrementalIndex]] (vectors). The serving loops
  * ([[TextAnalysis.bm25TopKFor]], the streaming scorer) rebuild or cache
  * the `(doc_id, tok, tf)` postings aggregate per context; at 100 TB the
  * tokenize-and-count pass over the corpus is the expensive leg, and an
  * ingest batch should pay it only for ITSELF.
  *
  * The key contrast with the PQ index, worth stating because it changes
  * the maintenance contract: PQ serving depends on a FROZEN fitted model
  * (codebooks), so appends need a drift gate and eventually a re-fit.
  * BM25's "model" — df, N, avgdl — is a MERGEABLE AGGREGATE of the
  * postings themselves: per-doc postings rows are a pure function of that
  * document alone, and every global statistic re-derives from the grown
  * postings table exactly. Incremental maintenance is therefore EXACT BY
  * CONSTRUCTION — no drift statistic, no re-fit path — and the registered
  * query pins precisely that: an index built on 90% of the corpus and
  * appended with the rest must equal the one-shot full-corpus ranking
  * under the full-corpus DuckDB oracle.
  *
  * Mechanics shared with [[IncrementalIndex]] (same snapshot/staging/
  * compaction helpers): the postings table is a WRITTEN parquet snapshot
  * (an index artifact, not a cached plan); `append` tokenizes ONLY the
  * batch and promotes a staged write (no committed orphans on failure);
  * an appends-gated compaction rewrites-and-swaps to keep the file count
  * bounded. At production scale the snapshot is a catalog table, `append`
  * an `INSERT INTO`, and df/dl/stats incrementally-maintained aggregate
  * tables; the serve-time re-derivation here is one index-sized (never
  * text-sized) aggregate pass, which the shared scoring tail
  * ([[TextAnalysis.bm25Against]]) already performs.
  */
object TextIndex {

  /** The served index artifact: `tf` is an immutable read of the written
    * postings snapshot at `tfPath`; `appends` counts batches since the
    * last compaction. */
  final case class InvertedIndex(tf: DataFrame, tfPath: String, appends: Int)

  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** Full build: tokenize + aggregate the corpus once, WRITE the postings
    * snapshot (with the scan-parallelism floor — the postings are every
    * serve's scoring fan-out side, see [[IncrementalIndex.writeServing]]),
    * read it back as the immutable serving frame. */
  def build(docs: DataFrame): InvertedIndex = {
    val (tf, path) =
      IncrementalIndex.writeServing(postings(docs), "graft_text_index")
    InvertedIndex(tf, path, 0)
  }

  /** Release the snapshot directory (swap/teardown discipline as
    * [[IncrementalIndex.release]]). */
  def release(idx: InvertedIndex): Unit =
    IncrementalIndex.deleteDir(idx.tfPath)

  /** Append a document batch (ids disjoint from the indexed corpus — the
    * caller's ingest contract): tokenize ONLY the batch, stage, promote,
    * compact at the [[IncrementalIndex.CompactEvery]] gate. Work ∝ batch;
    * exactness needs no gate (see the object doc's mergeability argument).
    */
  def append(idx: InvertedIndex, batch: DataFrame,
      compactEvery: Int = IncrementalIndex.CompactEvery): InvertedIndex =
    appendWith(idx, batch, compactEvery, compact)

  /** [[append]] with the compaction step injectable — exists so the
    * compact-failure contract (grown snapshot served, never a stale
    * listing) is spec-testable without real I/O fault injection. */
  private[graft] def appendWith(idx: InvertedIndex, batch: DataFrame,
      compactEvery: Int,
      compactFn: InvertedIndex => InvertedIndex): InvertedIndex = {
    if (batch.isEmpty) return idx
    appendPostingsWith(idx, postings(batch), compactEvery, compactFn)
  }

  /** [[appendWith]] from an ALREADY-TOKENIZED batch postings frame — the
    * overlap path of [[bm25TopKIndexed]] (the batch tokenize is
    * independent of the base build until the staged promote, guide §2.6).
    * Same staging/promote/compaction contract; callers guarantee the
    * frame is `postings(batch)` for a doc-disjoint batch. */
  private def appendPostingsWith(idx: InvertedIndex, post: DataFrame,
      compactEvery: Int,
      compactFn: InvertedIndex => InvertedIndex): InvertedIndex = {
    val staging = s"${idx.tfPath}.staging-${
      java.util.UUID.randomUUID.toString.replace("-", "")}"
    try {
      post.write.mode("overwrite").parquet(staging)
      IncrementalIndex.promoteStaged(staging, idx.tfPath)
    } catch { case e: Throwable =>
      IncrementalIndex.deleteDir(staging); throw e
    }
    val appended = idx.copy(
      tf = idx.tf.sparkSession.read.parquet(idx.tfPath),
      appends = idx.appends + 1)
    if (compactEvery > 0 && appended.appends >= compactEvery) {
      // Compaction is a file-layout optimization over an ALREADY-promoted,
      // consistent snapshot. Propagating its failure would hand the caller
      // back the PRE-append index, whose frame holds a stale file listing
      // of tfPath — the next refresh's anti-join would then re-select the
      // already-promoted doc_ids and append them again, duplicating
      // postings rows and inflating tf/df. Serve the grown, uncompacted
      // snapshot instead; the next gated append retries the compaction.
      try compactFn(appended)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[TextIndex] compaction failed (serving the grown uncompacted " +
              s"snapshot; will retry at the next gate): ${e.getMessage}")
          appended
      }
    } else appended
  }

  /** Rewrite the append-accumulated snapshot to the byte-sized file target
    * and swap — rows unchanged, file count bounded (the
    * [[IncrementalIndex.compact]] discipline). */
  private[ops] def compact(idx: InvertedIndex): InvertedIndex = {
    val bytes = Option(new java.io.File(idx.tfPath).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // byte-sized file target, floored at the session parallelism so the
    // compacted snapshot stays scan-parallel (writeServing's rationale —
    // at scale the byte target dominates and the floor is moot)
    val targetFiles = math.max(
      idx.tf.sparkSession.sparkContext.defaultParallelism.toLong,
      (bytes + IncrementalIndex.CompactTargetFileBytes - 1) /
        IncrementalIndex.CompactTargetFileBytes).toInt
    val path = IncrementalIndex.snapshotDir("graft_text_index")
    try idx.tf.coalesce(targetFiles).write.mode("overwrite").parquet(path)
    catch { case e: Throwable => IncrementalIndex.deleteDir(path); throw e }
    val out = idx.copy(
      tf = idx.tf.sparkSession.read.parquet(path), tfPath = path, appends = 0)
    IncrementalIndex.deleteDir(idx.tfPath)
    out
  }

  /** ERASURE from the lexical index (the GDPR cascade's reach into the
    * search stack, next to [[IncrementalIndex.remove]]'s vector-side
    * form) — and here erasure is EXACT end to end, the designed contrast
    * with the PQ side's documented codebook residual: BM25's model
    * statistics (df, N, avgdl) re-derive from the postings at serve
    * time, so deleting a document's postings rows IS deleting it from
    * the model — serving after `remove` is row-identical to an index
    * built from scratch on the remaining corpus (spec-pinned). Same
    * swap discipline: the snapshot rewrites minus the erased doc_ids
    * into a fresh directory, and the superseded one — holding the
    * erased documents' term statistics, which reconstruct their
    * vocabulary — is deleted, so the bytes leave disk.
    */
  def remove(idx: InvertedIndex, ids: DataFrame): InvertedIndex = {
    val gone = ids.select("doc_id")
    val path = IncrementalIndex.snapshotDir("graft_text_index")
    try idx.tf.join(gone, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(path)
    catch { case e: Throwable => IncrementalIndex.deleteDir(path); throw e }
    val out = idx.copy(
      tf = idx.tf.sparkSession.read.parquet(path), tfPath = path, appends = 0)
    IncrementalIndex.deleteDir(idx.tfPath)
    out
  }

  /** Serve a query batch (`q_id`, `text`) — the shared BM25 scoring tail,
    * so indexed/one-shot parity is structural. */
  def topK(idx: InvertedIndex, queries: DataFrame, k: Int = 10): DataFrame =
    TextAnalysis.bm25Against(idx.tf, queries, k)

  private val servingCache =
    scala.collection.concurrent.TrieMap.empty[String, InvertedIndex]
  private val servingLock = new Object

  /** The session-held serving index for a corpus directory: built (and its
    * postings snapshot written) ONCE per session, then reused by every
    * indexed retrieval serve — [[TextAnalysis.bm25PrfTopKIndexed]],
    * [[TextAnalysis.qldTopKIndexed]], the hybrid's lexical leg. This is the
    * amortized-build convention the fitted-model caches
    * ([[Similarity.fitPq]] etc.) already follow: in production the
    * snapshot is a catalog table maintained by `append`/`remove`, and a
    * query NEVER pays the corpus tokenize — here the first call per
    * directory pays it and the session holds the artifact. (Keyed by dir;
    * assumes an immutable corpus table, exactly like the fit caches — a
    * LIVE corpus goes through the explicit build/append lifecycle instead.
    * Session-guarded like [[TextAnalysis.servedBm25Model]]: an entry bound
    * to another session is rebuilt, never returned — and its superseded
    * snapshot is released ONLY once that session has STOPPED (a second
    * LIVE session must not delete files the first still reads; two live
    * sessions alternating pay a rebuild per switch, never a dangling
    * read). The build-or-get is serialized so concurrent first calls
    * can't double-build and orphan a snapshot.)
    */
  def servingIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): InvertedIndex = servingLock.synchronized {
    servingCache.get(dir).filter(_.tf.sparkSession eq spark).getOrElse {
      servingCache.get(dir)
        .filter(_.tf.sparkSession.sparkContext.isStopped)
        .foreach(release)
      val built = build(Tables(spark, dir, "documents").select("doc_id", "text"))
      servingCache.put(dir, built)
      built
    }
  }

  /** Registered query: build on 90% of the corpus, `append` the remaining
    * 10% ingest batch, serve the benchmark query set ([[TextAnalysis
    * .bm25TopK]]'s `doc_id % 50` formulation) from the grown snapshot.
    * The oracle is the FULL-CORPUS one-shot BM25 SQL — equality IS the
    * exact-incremental-maintenance claim, checked in the correctness gate
    * itself rather than only in a spec. The snapshot directories are
    * transient per run (released on completion); production would hold
    * them as catalog tables.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    // §2.6 overlap: the base build and the ingest batch's tokenize are
    // independent jobs until the staged promote — actions are only
    // sequential because the driver calls them sequentially, and the
    // build's tokenize stage (a single input split at bench SF) leaves
    // cores idle that the batch tokenize back-fills. Rows, artifacts and
    // the promote ordering are unchanged.
    val (batchPost, base) = overlap(spark)(
      postings(docs.filter(col("doc_id") % 10 === 0)).localCheckpoint(true),
      build(docs.filter(col("doc_id") % 10 =!= 0)))
    val grown = appendPostingsWith(base, batchPost, IncrementalIndex.CompactEvery, compact)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    // bounded result (|queries| × k): materialize, then release the
    // transient snapshot before returning
    val out = topK(grown, queries, k).localCheckpoint(true)
    release(grown)
    out
  }
}
