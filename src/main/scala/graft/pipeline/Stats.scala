package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Overlap.overlap

import TextClean.isBlank

case class ReasonCount(reason: String, count: Long, firstRowId: Long)
case class FailedDetail(index: Long, reason: String, message: String)
case class DateRange(earliest: Option[Timestamp], latest: Option[Timestamp], withDate: Long)

/** Everything the quality/validation reports need (reference O10–O14). */
case class QualityStats(
    originalCount: Long,
    cleanedCount: Long,
    deletedIncomplete: Long,
    deletedDuplicates: Long,
    passed: Long,
    failed: Long,
    completeness: Seq[(String, Long)], // data column -> non-blank count, in column order
    reasons: Seq[ReasonCount],         // count desc, first-occurrence asc (= Counter.most_common)
    failedDetails: Seq[FailedDetail],
    dateRange: Option[DateRange]) {
  def total: Long = cleanedCount
  def passRate: Double = if (total > 0) passed.toDouble / total * 100 else 0.0
  def retentionPct: Double = if (originalCount > 0) cleanedCount.toDouble / originalCount * 100 else 0.0
  def validPct: Double = if (originalCount > 0) passed.toDouble / originalCount * 100 else 0.0
}

/** Batch statistics (reference O10–O14, validator.py:144-166 +
  * cleaner.py:193-242).
  *
  * The reference makes one pandas pass per metric (a per-column loop for
  * completeness, an `iterrows` loop for validation). Here the counts,
  * per-column completeness, the date range AND the reason histogram come
  * from ONE aggregate grouped by `reason` — at most one group per reason
  * code plus the passed rows' null group — whose few rows are collected
  * and summed. The failure-detail listing and its positions run side by
  * side with it on [[graft.Overlap]]; the positions take one more job,
  * only when the listing passes its gate (see `failureDetails`). Call on a
  * cached flagged frame.
  */
object Stats {

  private val metaCols = Set("row_id", "errors", "passed", "reason", "message")

  def collect(
      flagged: DataFrame,
      originalCount: Long,
      deletedIncomplete: Long,
      deletedDuplicates: Long,
      includeFailedDetails: Boolean = true,
      maxFailedDetails: Long = 10000): QualityStats = {

    val dataCols = flagged.columns.filterNot(metaCols.contains).toSeq
    val dateCol = Seq("published_date", "published").find(flagged.columns.contains)

    // --- one grouped aggregate: counts + completeness + date range + histogram ---
    val failed = !col("passed")
    val baseAggs = Seq(
      count(lit(1)).as("_total"),
      count(when(col("passed"), 1)).as("_passed"),
      count(when(failed, 1)).as("_failed"),
      min(when(failed, col("row_id"))).as("_first_failed"))
    // O13 semantics note: null counts as MISSING here (intended semantics,
    // README "empty/None/whitespace"). The reference's live behavior differs:
    // its astype(str) cast turns null into the literal "None", so its golden
    // report shows published_date at 100% where this reports 90.9% — a
    // documented deviation (SURVEY.md §0 item 2 / H3), pinned in
    // GoldenPipelineSpec.
    val complAggs = dataCols.map(c =>
      count(when(!isBlank(col(c).cast("string")), 1)).as(s"_ok_$c"))
    val dateAggs = dateCol.toSeq.flatMap { c =>
      // report re-parses with pandas to_datetime(errors="coerce"); the column
      // holds ISO strings (or raw `published`), so a try-parse chain suffices
      val ts = Dates.parseTimestamp(col(c))
      Seq(min(ts).as("_d_min"), max(ts).as("_d_max"), count(ts).as("_d_n"))
    }
    val aggs = baseAggs ++ complAggs ++ dateAggs
    val (groups, failedDetails) = overlap(flagged.sparkSession)(
      flagged.groupBy(col("reason")).agg(aggs.head, aggs.tail: _*).collect().toSeq,
      if (includeFailedDetails) failureDetails(flagged, maxFailedDetails) else Seq.empty)
    def sum(name: String): Long = groups.map(_.getAs[Long](name)).sum
    def stamps(name: String): Seq[Timestamp] = groups.flatMap(r => Option(r.getAs[Timestamp](name)))

    val total = sum("_total")
    val passed = sum("_passed")
    val completeness = dataCols.map(c => c -> sum(s"_ok_$c"))
    val dateRange = dateCol.map { _ =>
      DateRange(stamps("_d_min").minByOption(_.toInstant), stamps("_d_max").maxByOption(_.toInstant),
        sum("_d_n"))
    }

    // --- reason histogram (O11): count desc, ties by first occurrence, which
    // reproduces Counter.most_common()'s stable insertion-order ties ---
    val reasons = groups.filter(_.getAs[Long]("_failed") > 0)
      .map(r => ReasonCount(r.getAs[String]("reason"), r.getAs[Long]("_failed"), r.getAs[Long]("_first_failed")))
      .sortBy(r => (-r.count, r.firstRowId))

    QualityStats(
      originalCount = originalCount,
      cleanedCount = total,
      deletedIncomplete = deletedIncomplete,
      deletedDuplicates = deletedDuplicates,
      passed = passed,
      failed = total - passed,
      completeness = completeness,
      reasons = reasons,
      failedDetails = failedDetails,
      dateRange = dateRange)
  }

  /** Failure details (O10): the failed rows in `row_id` order, each with
    * its positional index in the cleaned frame, as the reference reports
    * (SURVEY.md H2) — the number of rows with a smaller `row_id`.
    *
    * Gated on |failed| ≤ maxFailedDetails: a report that would print >10k
    * per-row lines is useless anyway, and past the cap the scalable answer
    * is a side sink keyed by row_id, not a report section. The listing
    * collects at most one row past the cap, which is how it knows the gate.
    *
    * Positions are computed WITHOUT a global window or sort: the m failed
    * ids are broadcast sorted; each partition counts its rows into m + 1
    * buckets by binary search (bucket j = rows whose `row_id` is at or past
    * exactly j failed ids), and failed row k's position is the prefix sum
    * of the collected buckets 0..k. One job over all rows, O(n log m).
    */
  private def failureDetails(flagged: DataFrame, maxFailedDetails: Long): Seq[FailedDetail] = {
    val listed = (maxFailedDetails.max(-1L).min(Int.MaxValue - 1L) + 1).toInt
    val failed = flagged.filter(!col("passed"))
      .select(col("row_id"), col("reason"), col("message"))
      .limit(listed).collect().sortBy(_.getLong(0))
    if (failed.isEmpty || failed.length > maxFailedDetails) Seq.empty
    else {
      val ids = flagged.sparkSession.sparkContext.broadcast(failed.map(_.getLong(0)))
      val buckets = flagged.select(col("row_id")).rdd.mapPartitions { rows =>
        val fs = ids.value
        val counts = new Array[Long](fs.length + 1)
        rows.foreach { r =>
          val i = java.util.Arrays.binarySearch(fs, r.getLong(0))
          counts(if (i >= 0) i + 1 else -i - 1) += 1
        }
        Iterator.single(counts)
      }.reduce { (a, b) => a.indices.foreach(i => a(i) += b(i)); a }
      ids.destroy()
      val positions = buckets.scanLeft(0L)(_ + _).tail
      failed.toSeq.zip(positions).map { case (r, idx) =>
        FailedDetail(idx, r.getString(1), r.getString(2))
      }
    }
  }
}
