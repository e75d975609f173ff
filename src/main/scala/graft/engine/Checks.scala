package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt's generic test library as violation-returning DataFrame builders
  * (test protocol: pass ⇔ empty result, SURVEY.md §2.11). Reference:
  * `/root/reference/models/staging/schema.yml:4-27`,
  * `models/reporting/facts/schema.yml:1-44`.
  *
  * Scale: `notNull`/`acceptedValues` are scan-local filters (pushed to
  * parquet). `unique` is one hash-aggregate shuffle on the key.
  * `relationships` is a left-anti join — broadcast when the parent is a
  * dim, shuffled otherwise; for a 100 TB child a bloom-filter pre-pass
  * would cut the shuffle, noted as the scale-out variant.
  */
object Checks {

  def notNull(cols: String*): Check =
    Check(s"not_null(${cols.mkString(",")})",
      df => df.filter(cols.map(c => col(c).isNull).reduce(_ || _)))

  /** dbt's generic single-column `unique` test, which excludes NULL keys
    * before grouping (`where column is not null`): several NULL-keyed
    * rows are not a uniqueness violation — pair with `notNull` when nulls
    * themselves should fail. */
  def unique(col0: String): Check =
    Check(s"unique($col0)",
      df => df.filter(col(col0).isNotNull)
        .groupBy(col(col0)).count().filter(col("count") > 1))

  /** dbt_utils.unique_combination_of_columns
    * (`models/reporting/schema.yml:44-46`). Unlike the single-column
    * `unique` test, dbt_utils applies NO null filter — its `group by` +
    * `having count(*) > 1` treats NULLs as equal, so duplicate NULL-keyed
    * combinations ARE violations here, matching the macro exactly. */
  def uniqueCombination(cols: String*): Check =
    Check(s"unique(${cols.mkString(",")})",
      df => df.groupBy(cols.map(col): _*).count().filter(col("count") > 1))

  /** relationships: child FK values ⊆ parent key values. */
  def relationships(childCol: String, parent: DataFrame, parentCol: String): Check =
    Check(s"relationships($childCol -> $parentCol)",
      df => df.filter(col(childCol).isNotNull)
        .join(parent.select(col(parentCol).as(childCol)), Seq(childCol), "left_anti"))

  /** relationships against another MODEL of the DAG, resolved at check
    * time (dbt `relationships: to: ref('dim_x')`, `facts/schema.yml:10-26`).
    * The parent is recorded in [[Check.refs]], so a build runs the child
    * after the parent even when the parent is not one of its deps.
    * The anti-join broadcasts when the parent is dim-sized; a bloom-filter
    * pre-pass is the 100 TB-child variant. */
  def relationshipsTo(childCol: String, parentModel: String, parentCol: String): Check =
    Check(s"relationships($childCol -> $parentModel.$parentCol)",
      (df: DataFrame, r: String => DataFrame) => df.filter(col(childCol).isNotNull)
        .join(r(parentModel).select(col(parentCol).as(childCol)), Seq(childCol), "left_anti"),
      refs = Seq(parentModel))

  /** Singular test that reads other models through the resolver
    * (`tests/test_account_month_ties_subscription_month.sql`). The query
    * is opaque, so it records no [[Check.refs]]: it may read only the
    * node's upstream closure (its deps and their ancestors), which the
    * build has finished before the node runs. A model outside that
    * closure may still be mid-build, or not built yet, when the check
    * reads it. */
  def singularWithRefs(name: String)(
      q: (DataFrame, String => DataFrame) => DataFrame): Check = Check(name, q)

  def acceptedValues(col0: String, values: Seq[Any]): Check =
    Check(s"accepted_values($col0)",
      df => df.filter(col(col0).isNotNull && !col(col0).isin(values: _*)))

  /** Singular test: arbitrary violation query over the model. */
  def singular(name: String)(q: DataFrame => DataFrame): Check = Check(name, q)

  /** dbt source-freshness (`dbt source freshness`, `loaded_at_field` +
    * `error_after`) as a check: fails when the newest `tsCol` value is
    * older than `maxAgeSeconds` before `asOf` — attach it to the staging
    * model that reads the source (this engine's checks run on models;
    * dbt's run on the source table — same predicate either way). An
    * EMPTY frame is also a violation: a source that has never loaded is
    * the stalest possible source, which dbt reports as an error too.
    *
    * Scale: one max-aggregate over the timestamp column — parquet footer
    * stats make it metadata-only in practice, like the incremental HWM.
    */
  def freshness(tsCol: String, maxAgeSeconds: Long,
      asOf: java.sql.Timestamp): Check =
    Check(s"freshness($tsCol < ${maxAgeSeconds}s before $asOf)",
      df => df.agg(max(col(tsCol)).as("newest"))
        .filter(col("newest").isNull ||
          col("newest") < lit(asOf) - expr(s"INTERVAL $maxAgeSeconds SECONDS")))

  /** Numeric reconciliation helper used by the reference's singular tests
    * (`tests/test_waterfall_ties_out.sql:20-22`): |a-b| > tol rows. */
  def tiesOut(a: Column, b: Column, tol: Double = 1e-4): Column = abs(a - b) > tol

  /** Elementary-style VOLUME ANOMALY test — the "anomalies" leg of the
    * reference README:159's monitoring wishlist (freshness/anomalies/
    * test-history/alerting): flags a build whose WRITTEN row count
    * deviates more than `sigma` standard deviations from the model's
    * trailing build history (per-batch volume is the signal that
    * catches a broken upstream feed on an incremental model, where the
    * total count still looks plausible). Requires
    * `Engine(testHistory = true)`: every materialized node appends its
    * build stats to `_audit/build_history.jsonl` pre-checks, and this
    * check reads them back through the engine's `_build_history` ref —
    * the newest line is THIS build, the rest are the baseline. Passes
    * silently until `minBuilds` prior builds exist (no baseline, no
    * verdict — Elementary's min training set). Cost: a driver-side read
    * of one line per build per node, contract-bounded; no data scan.
    * Failure gates the node and its downstream like any dbt test. */
  def volumeAnomaly(model: String, sigma: Double = 3.0,
      minBuilds: Int = 3): Check =
    Check(s"volume_anomaly($model)", (_, r) => {
      val hist = r("_build_history")
        .filter(col("model") === model && col("status") === "ok")
      val s = hist.sparkSession
      import s.implicits._
      val arr = hist.select(col("seq").cast("long"), col("rows").cast("long"))
        .orderBy(col("seq").desc).as[(Long, Long)].collect()
      require(arr.nonEmpty,
        s"volume_anomaly($model) found no build history — it requires " +
          "Engine(testHistory = true) and must be attached to a " +
          "materialized (non-View) model")
      val current = arr.head._2.toDouble
      val prior = arr.tail.map(_._2.toDouble)
      def empty = Seq.empty[(String, Long, Double, Double, Double)]
        .toDF("model", "rows", "mean", "stddev", "z")
      if (prior.length < minBuilds) empty
      else {
        val mean = prior.sum / prior.length
        val sd = math.sqrt(prior.map(x => (x - mean) * (x - mean)).sum / prior.length)
        val z =
          if (sd == 0.0) { if (current == mean) 0.0 else Double.PositiveInfinity }
          else (current - mean) / sd
        if (math.abs(z) > sigma)
          Seq((model, arr.head._2, mean, sd, z))
            .toDF("model", "rows", "mean", "stddev", "z")
        else empty
      }
    })
}
