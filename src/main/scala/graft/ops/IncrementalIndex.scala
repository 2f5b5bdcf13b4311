package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Append-only incremental maintenance for the PQ/ADC index family.
  *
  * A PQ index rebuilt on every refresh re-fits codebooks and re-encodes
  * the WHOLE corpus — correct, but at 100 TB a full re-encode per refresh
  * is the cost of rebuilding the index from scratch while the typical
  * refresh only adds an ingest batch that is orders of magnitude smaller
  * than the corpus.
  * This is the `incremental_near_dup` shape applied to the vector index:
  * work is proportional to the INCOMING batch, history is never
  * re-processed — until measured drift says the frozen model no longer
  * fits the data, at which point a full deterministic re-fit runs.
  *
  * Mechanics:
  *  - `build` fits codebooks (bounded driver-side sample, the
  *    `Similarity.fitPqFrom` discipline), encodes the corpus, WRITES
  *    the code table as an on-disk parquet snapshot (see [[build]] for
  *    why a cached plan is not an index artifact), and records the
  *    corpus' mean quantization error as the drift baseline.
  *  - `append` encodes ONLY the new batch with the FROZEN codebooks and
  *    appends the files into the index directory — one narrow pass over
  *    the batch, the historical codes untouched on disk. Before encoding
  *    it measures the batch's mean quantization error under the frozen
  *    books; if that exceeds `driftFactor ×` the fit-time baseline, the
  *    batch's distribution has moved away from what the codebooks were
  *    fitted on (recall would decay silently), so the index re-fits over
  *    the grown corpus instead — deterministic, so the result is
  *    bit-identical to `build` on that corpus.
  *  - `topK` serves queries through the SHARED batch scoring tail
  *    (`Similarity.adcTopKAgainst`), so incremental/full index parity is
  *    structural.
  *
  * Scale shape: the drift statistic is one scan-and-aggregate over the
  * BATCH (never the corpus); the no-drift path touches only batch-sized
  * data. The code table IS a table — at production scale a catalog table
  * and `append` an `INSERT INTO`; the tmp-dir parquet here is the
  * single-session rendering of exactly that contract.
  */
object IncrementalIndex {

  /** The served index artifact. `codes` is an immutable read over
    * `codesPath` — the ON-DISK code table (see `snapshotDir`); `corpus`
    * is the raw `(vec_id, v)` source the index derives from (needed only
    * on the re-fit path); `baseErr` is the fit-time mean quantization
    * error the drift test compares against; `appends` counts no-refit
    * unions since the last fit (observability + spec hook). */
  final case class PqIndex(
      books: Array[Array[Array[Double]]],
      codes: DataFrame,
      codesPath: String,
      corpus: DataFrame,
      baseErr: Double,
      appends: Int)

  /** The code table is a WRITTEN parquet snapshot, not a cached plan.
    * Round-11 lesson: a `persist()`ed (or `localCheckpoint`ed) frame is
    * not a durable index artifact over a LIVE corpus directory —
    * persist's lineage can silently re-derive from the current directory
    * (a new-vector anti-join against it then sees everything as
    * indexed), and localCheckpoint is non-fault-tolerant (one executor
    * loss kills serving) with no prompt release path. Writing the codes
    * and reading them back gives exactly
    * the production contract the scale note below promises: the index IS
    * a table — immutable listing (a later corpus append cannot leak in),
    * recomputable after executor loss, appendable in place (the no-drift
    * path is literally a file append), and released by deleting the
    * superseded directory at swap time. */
  private[ops] def snapshotDir(family: String = "graft_pq_index"): String = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), family,
      java.util.UUID.randomUUID.toString)
    p.toString
  }

  /** Write a SERVING artifact with a scan-parallelism floor on its file
    * layout (r17 optimization round). Rationale: a serve-time scoring
    * join fans each index row out against the query batch — the join's
    * INPUT is index-sized but its OUTPUT is the scoring work, so the scan
    * stage must parallelize. A small index written in one AQE-coalesced
    * parquet file is one row group, and one row group is ONE scan task:
    * every serve then funnels its entire scoring fan-out through a single
    * core (measured: the bm25_prf_indexed pass was a 1.9 s single-task
    * stage at 32 idle cores). At 100 TB the plain write already lands far
    * more files than cores (AQE sizes shuffle partitions to the advisory
    * target), so the floor never fires there — it reshapes only small
    * artifacts, where the rewrite costs as much as the (tiny) write.
    * Returns (re-read frame, path). Rows are unchanged — layout only. */
  private[ops] def writeServing(frame: org.apache.spark.sql.DataFrame,
      family: String,
      clusterBy: Seq[String] = Nil): (org.apache.spark.sql.DataFrame, String) = {
    val spark = frame.sparkSession
    import org.apache.spark.sql.functions.col
    // Optional serving-layout clustering (r18): hash-cluster the artifact
    // by the key the serve AGGREGATES on (doc_id for postings, vec_id for
    // bands), so every scan task holds whole key groups and the serve's
    // per-key partial aggregate (the (q, doc) score sums / the (q, n)
    // band dedup) collapses map-side instead of shipping one partial per
    // file the key straddles. Rows unchanged — layout only; the serve's
    // released values are order-insensitive aggregates with deterministic
    // tie-breaks (oracle-verified). At scale this replaces the write's
    // round-robin-ish layout with the clustering search engines store
    // anyway (norms/postings grouped per document).
    def layout(df: org.apache.spark.sql.DataFrame, n: Option[Int]) =
      (clusterBy, n) match {
        case (Nil, None) => df
        case (Nil, Some(k)) => df.repartition(k)
        case (cols, None) => df.repartition(cols.map(col): _*)
        case (cols, Some(k)) => df.repartition(k, cols.map(col): _*)
      }
    val path = snapshotDir(family)
    try layout(frame, None).write.mode("overwrite").parquet(path)
    catch { case e: Throwable => deleteDir(path); throw e }
    val floor = spark.sparkContext.defaultParallelism
    val files = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    if (files >= floor) (spark.read.parquet(path), path)
    else {
      val p2 = snapshotDir(family)
      try layout(spark.read.parquet(path), Some(floor))
        .write.mode("overwrite").parquet(p2)
      catch { case e: Throwable => deleteDir(p2); throw e }
      deleteDir(path)
      (spark.read.parquet(p2), p2)
    }
  }

  /** Recursive delete of a superseded snapshot — the prompt-release half
    * of the swap (failure-safe: missing paths are a no-op). */
  def release(idx: PqIndex): Unit = deleteDir(idx.codesPath)

  private[graft] def deleteDir(path: String): Unit = {
    val root = new java.io.File(path)
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rec)
      f.delete(); ()
    }
    if (root.exists()) rec(root)
  }

  /** Full build: fit, encode, WRITE the code table, read it back as the
    * immutable serving frame, baseline the drift statistic. A write
    * failure (corpus mid-write) cleans its partial directory before
    * rethrowing into the caller's failure-isolation Try. */
  def build(corpus: DataFrame,
      m: Int = Similarity.PqM, ks: Int = Similarity.PqKs): PqIndex = {
    val books = Similarity.fitPqFrom(corpus, m, ks)
    val path = snapshotDir()
    try Similarity.assignCodes(corpus, books, Seq("vec_id"))
      .write.mode("overwrite").parquet(path)
    catch { case e: Throwable => deleteDir(path); throw e }
    val codes = corpus.sparkSession.read.parquet(path)
    PqIndex(books, codes, path, corpus, quantizationError(corpus, books), 0)
  }

  /** Mean per-vector quantization error under `books`: Σ over subspaces of
    * the squared L2 distance to the nearest codeword, averaged over `e`.
    * Pure column arithmetic (dist² = |sub|² − 2·max(⟨sub,c⟩ − |c|²/2), the
    * same score the encoder maximizes) + one scalar aggregate — a single
    * narrow pass, no shuffle beyond the partial-agg exchange.
    */
  private[ops] def quantizationError(
      e: DataFrame, books: Array[Array[Array[Double]]]): Double = {
    val dsub = books(0)(0).length
    val errCols = books.zipWithIndex.map { case (book, j) =>
      val sub = slice(col("v"), j * dsub + 1, dsub)
      val bestScore = greatest(book.map { c =>
        val halfNormSq = c.map(x => x * x).sum / 2.0
        graft.functions.DotProduct(sub, lit(c)) - halfNormSq
      }: _*)
      graft.functions.DotProduct(sub, sub) - bestScore * 2.0
    }
    e.select(errCols.reduce(_ + _).as("qerr"))
      .agg(avg("qerr")).head().getDouble(0)
  }

  /** No-refit appends tolerated before the snapshot directory is
    * compacted: each frozen-books append lands one small parquet batch in
    * the serving directory, and a long-running ingest would otherwise
    * accumulate unbounded small files (only a drift re-fit ever rewrote
    * before round 12) — degrading every later codes scan. At the gate the
    * whole snapshot is rewritten into a fresh directory and swapped, so
    * the steady-state file count is bounded by
    * `build-files + CompactEvery × append-files` while the amortized
    * compaction cost stays O(corpus / CompactEvery) per append. */
  val CompactEvery = 8

  /** Append `batch` (schema `vec_id, v`; ids disjoint from the indexed
    * corpus — the caller's ingest contract). No drift → frozen-books
    * encode STAGED then promoted into the index directory (work ∝ batch —
    * the production `INSERT INTO` shape), with an appends-gated compaction
    * ([[CompactEvery]]). Drift → full deterministic re-fit over the
    * grown corpus into a fresh directory, the superseded one deleted only
    * after its replacement is live. */
  def append(idx: PqIndex, batch: DataFrame, driftFactor: Double = 1.5,
      compactEvery: Int = CompactEvery): PqIndex = {
    val grown = idx.corpus.unionByName(batch)
    // materialize the incoming batch ONCE (bounded, transient): `batch`
    // may be a lazy anti-join over the LIVE corpus directory, and without
    // this the emptiness check, the drift gate, and the encode would each
    // re-evaluate it — three scans, and files landing between the gate
    // and the encode would enter the index un-measured
    val snap = batch.localCheckpoint(true)
    if (snap.isEmpty) return idx // nothing new (avg over zero rows is null)
    val batchErr = quantizationError(snap, idx.books)
    if (batchErr > driftFactor * idx.baseErr) {
      val fresh = build(grown)
      release(idx)
      fresh
    } else {
      // STAGED append: a direct mode("append") into the serving directory
      // would leave committed part-files behind if the job fails after
      // some tasks commit — and because the retained `idx.codes` listing
      // is then stale, the next refresh's anti-join would re-encode and
      // re-append the same vectors alongside the orphans (duplicate
      // vec_ids in the code table, duplicate n_ids in served topK). The
      // batch therefore encodes into its own staging directory (cleaned
      // whole on any failure) and only complete output is renamed in.
      val staging = s"${idx.codesPath}.staging-${
        java.util.UUID.randomUUID.toString.replace("-", "")}"
      try {
        Similarity.assignCodes(snap, idx.books, Seq("vec_id"))
          .write.mode("overwrite").parquet(staging)
        promoteStaged(staging, idx.codesPath)
      } catch { case e: Throwable => deleteDir(staging); throw e }
      val appended = idx.copy(
        codes = idx.codes.sparkSession.read.parquet(idx.codesPath),
        corpus = grown,
        appends = idx.appends + 1)
      if (compactEvery > 0 && appended.appends >= compactEvery)
        compact(appended)
      else appended
    }
  }

  /** Rename the staging directory's data files into the serving directory
    * (same-filesystem moves — no data copy). Names are prefixed with the
    * staging id so a resident file can never be overwritten; if any move
    * fails, the files promoted so far are pulled back out before the
    * staging cleanup in [[append]]'s catch deletes them with the rest.
    */
  private[ops] def promoteStaged(staging: String, dest: String): Unit = {
    val stamp = staging.substring(staging.lastIndexOf('-') + 1)
    val parts = Option(new java.io.File(staging).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    val moved = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    try parts.foreach { f =>
      val tgt = new java.io.File(dest, s"b$stamp-${f.getName}")
      java.nio.file.Files.move(f.toPath, tgt.toPath)
      moved += tgt
    } catch { case e: Throwable =>
      moved.foreach(t => java.nio.file.Files.move(
        t.toPath, new java.io.File(staging, t.getName).toPath))
      throw e
    }
    deleteDir(staging)
  }

  /** Target size of a compacted snapshot file — the rewrite coalesces to
    * `ceil(snapshot bytes / this)` outputs, so compaction actually MERGES
    * the accumulated small files instead of echoing one output per tiny
    * input split (at 100 TB the same sizing as any parquet table:
    * ~128 MB files). */
  val CompactTargetFileBytes: Long = 128L << 20

  /** Rewrite the append-accumulated snapshot into a fresh directory and
    * swap — the rows (and therefore every served result) are unchanged;
    * only the file count drops to the byte-sized target. The superseded
    * directory is deleted only after its replacement is live, the same
    * swap/release discipline as the drift re-fit. */
  private[ops] def compact(idx: PqIndex): PqIndex = {
    val bytes = Option(new java.io.File(idx.codesPath).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val targetFiles = math.max(1L,
      (bytes + CompactTargetFileBytes - 1) / CompactTargetFileBytes).toInt
    val path = snapshotDir()
    try idx.codes.coalesce(targetFiles).write.mode("overwrite").parquet(path)
    catch { case e: Throwable => deleteDir(path); throw e }
    val codes = idx.codes.sparkSession.read.parquet(path)
    val out = idx.copy(codes = codes, codesPath = path, appends = 0)
    deleteDir(idx.codesPath)
    out
  }

  /** ERASURE from the serving index (GDPR Art. 17 applied to a vector
    * store — the [[graft.ops.TableChecks]] erasure-cascade family's
    * reach into the ANN stack): delete `ids` from the code table WITHOUT
    * a rebuild or re-fit. The snapshot is rewritten minus the erased
    * rows into a fresh directory and swapped (the `compact`
    * discipline), so the erased vectors' code BYTES leave disk — a
    * tombstone filter would serve correctly but retain the 8-byte codes,
    * which still leak coarse geometry of the erased vectors (their cell
    * and nearest codewords); Art. 17 wants the data gone, not masked.
    * The retained `corpus` frame narrows by the same anti-join, so a
    * LATER drift re-fit can never resurrect erased vectors into the
    * rebuilt index, and codebooks/baseErr stay frozen — serving for the
    * remaining corpus is bit-identical to an index that never contained
    * the erased rows under the same books (spec-pinned). Work ∝
    * |snapshot| rewrite, the same cost class as one compaction — at
    * 100 TB this is a partition-pruned rewrite of the (label, cell)
    * partitions the erased ids live in, not the whole table. The
    * codebooks themselves were fitted on a ≤50k-vector sample that may
    * have included erased vectors; a strict deployment schedules a
    * re-fit at the next drift boundary (the narrowed corpus makes that
    * automatic) — documented residual, standard for quantizer models.
    */
  def remove(idx: PqIndex, ids: DataFrame): PqIndex = {
    // Materialize the erasure targets BEFORE the old snapshot is deleted:
    // if `ids` was derived lazily from idx.codes (the natural way to pick
    // targets), any later evaluation of the retained `corpus` — e.g. the
    // drift re-fit in a subsequent append — would re-read the deleted
    // snapshot directory and fail. Mirrors append's batch checkpoint.
    val gone = ids.select("vec_id").localCheckpoint(true)
    val path = snapshotDir()
    try idx.codes.join(gone, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(path)
    catch { case e: Throwable => deleteDir(path); throw e }
    val codes = idx.codes.sparkSession.read.parquet(path)
    val out = idx.copy(
      codes = codes, codesPath = path,
      corpus = idx.corpus.join(gone, Seq("vec_id"), "left_anti"),
      appends = 0)
    deleteDir(idx.codesPath) // the erased codes' bytes leave disk here
    out
  }

  /** Serve a query batch (`q_id`, `q_v`) — the shared ADC scan+rank tail,
    * so results are definitionally comparable with the batch PQ family. */
  def topK(idx: PqIndex, queries: DataFrame, k: Int = 10): DataFrame =
    Similarity.adcTopKAgainst(idx.codes, queries, idx.books, k)
}
