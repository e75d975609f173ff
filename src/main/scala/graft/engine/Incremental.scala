package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared frontier/high-water-mark plumbing for incremental-append
  * models — the reference's HWM idiom (`stg_accounts.sql:9-11`)
  * factored out of the dedup modules so every incremental operator
  * composes the same three verified pieces instead of re-implementing
  * them:
  *
  *  - [[hwm]]: the prior state's high-water mark, one scalar answered
  *    from parquet footer statistics (no data scan);
  *  - [[frontier]]: the scan frontier of THIS build — what the state
  *    table must record as "seen through", whether or not the batch
  *    emitted any data rows;
  *  - [[markerRow]] / [[emptyFrame]]: the one-row frontier marker and
  *    the empty idempotent-re-run branch, built from one schema
  *    declaration so the two can never drift apart.
  *
  * Why markers exist at all: watermarking on EMITTED rows stalls when a
  * batch emits nothing (a duplicate-free batch for pair emission, an
  * all-duplicate batch for first-occurrence state) — the next build
  * would re-scan everything since the last emission, O(corpus) work per
  * build at 100 TB. The marker row advances the frontier unconditionally;
  * operators whose every input row emits exactly one output row (e.g.
  * [[graft.dedup.IncrementalDecontam]]) need no marker because their
  * data rows ARE the frontier.
  */
object Incremental {

  /** Column spec for marker/empty construction: (name, Spark SQL type). */
  type Schema = Seq[(String, String)]

  /** `max(watermarkCol)` over a prior-state frame, as a one-row result:
    * an artifact of the frame's [[Resolver]] entry, so the engine's
    * IncrementalAppend guard and a buildFn's [[hwm]] over the same
    * served prior share one footer-stats job per build. */
  def maxRow(prior: DataFrame, watermarkCol: String): Row =
    Resolver(prior.sparkSession).artifact(prior, s"max($watermarkCol)")(
      prior.agg(max(col(watermarkCol))).first())

  /** The prior state's high-water mark on `watermarkCol`, or -1 when
    * there is no prior state (first build) or it is empty. `max` over an
    * append-only parquet table is answered from footer stats — the same
    * cost class as reading the footer itself ([[maxRow]]). */
  def hwm(prior: Option[DataFrame], watermarkCol: String): Long =
    prior.map(maxRow(_, watermarkCol))
      .filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(-1L)

  /** The scan frontier of this build: max of `watermarkCol` over the
    * frame actually scanned, None when the frame is empty (nothing
    * scanned ⇒ nothing to watermark). */
  def frontier(scanned: DataFrame, watermarkCol: String): Option[Long] = {
    val row = scanned.agg(max(col(watermarkCol))).first()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Zero rows in the declared schema — the append-nothing branch of an
    * idempotent re-run. */
  def emptyFrame(s: SparkSession, schema: Schema): DataFrame =
    s.range(0).select(schema.map { case (n, t) =>
      lit(null).cast(t).as(n)
    }: _*)

  /** One marker row: every column null except `watermarkCol`, which
    * carries the frontier. The engine's HWM append filter
    * (`watermarkCol > previous frontier`) drops the marker along with
    * everything else on a no-new-data rebuild, so re-runs stay
    * append-nothing idempotent. */
  def markerRow(s: SparkSession, schema: Schema,
      watermarkCol: String, frontierValue: Long): DataFrame =
    s.range(1).select(schema.map { case (n, t) =>
      (if (n == watermarkCol) lit(frontierValue) else lit(null)).cast(t).as(n)
    }: _*)
}
