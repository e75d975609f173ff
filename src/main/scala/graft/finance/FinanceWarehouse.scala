package graft.finance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._

/** The reference warehouse's complete model DAG on the engine runtime:
  * raw → staging (incremental append + record_hash) → current views →
  * SCD2 snapshots → dimensions (surrogate keys, as-of account attach) →
  * monthly facts (months spine, EOM semantics, SCD2 key attach, movement
  * classification, rolling restatement) → MRR waterfall mart, with the
  * reference's generic + singular tests attached to their nodes.
  *
  * Column-for-column mirror of `/root/reference/models` and
  * `/root/reference/snapshots` (SURVEY.md §2, §3.4): the staging layer
  * carries every business column of the reference data CSVs, the facts emit the
  * reference's exact output schema (`fct_subscription_month.sql:140-174`,
  * `fct_account_month.sql:129-167`), and the mart is densified over the
  * full calendar with `net_mrr_change` and the four account counts
  * (`mart_mrr_waterfall_month.sql:29-82`). Exercised end-to-end on the
  * reference's own CSVs in ReferenceDataParitySpec and multi-batch in
  * FinanceWarehouseSpec.
  *
  * Documented divergences (each covered by a spec):
  *  - facts read `int_subscriptions_current` where the reference reads
  *    the append-only `stg_subscriptions` (`fct_subscription_month.sql:41`)
  *    — with more than one ingestion batch the reference formulation
  *    duplicates re-sent subscriptions and violates its own
  *    unique_combination test; single-batch the two are identical.
  *  - `fct_account_month`'s incremental branch computes begin-MRR / the
  *    has-paid-before flag over FULL history and only then filters to the
  *    restatement window: the reference computes `lag` inside the
  *    window-filtered spine (`fct_account_month.sql:14-22,70-101`), which
  *    zeroes `mrr_begin_mrr` at the window's first month on every
  *    incremental run. Restated rows here always equal a full refresh
  *    (FinanceWarehouseSpec proves it).
  *  - staging `unique` tests live on `int_*_current` (the reference
  *    declares them on append-only staging, where any second batch
  *    violates them).
  *
  * Scale: staging appends only the new batch (high-water mark); facts are
  * month-partitioned and restated via dynamic partition overwrite (cost ∝
  * restatement window, not table size); dims and the months spine are
  * broadcast-sized at any fact scale; the snapshot merge shuffles on the
  * natural key only; the account-month spine is explode(sequence) —
  * scan-local fan-out, no join.
  */
object FinanceWarehouse {

  final case class Vars(
      dateStart: String = "2023-01-01",
      dateEnd: String = "2025-12-31",
      reprocessMonths: Int = 2) // dbt_project.yml:42

  private val BackDate = "1900-01-01" // first-version back-dating, fct_subscription_month.sql:131-136

  private def hashText(c: Column): Column = coalesce(c.cast("string"), lit(""))

  /** Negative money → null (stg_subscriptions.sql:27-28). */
  private def nonNegative(c: Column): Column =
    when(c.cast("double") < 0, lit(null).cast("double")).otherwise(c.cast("double"))

  def models(vars: Vars): Seq[Model] = Seq(

    // ---- staging: defensive casts + content hash, incremental append
    // (stg_accounts.sql — full reference column set). Each build appends
    // one file; past 4 the engine compacts them back to one, so the
    // daily build's reads never pay an unbounded file list
    Model("stg_accounts", Seq("raw_accounts"),
      Materialization.IncrementalAppend("ingested_at", compactAfterFiles = Some(4)),
      checks = Seq(Checks.notNull("account_id", "signup_date")))((_, r) => {
      val a = r("raw_accounts")
      val cleaned = a.select(
        trim(col("account_id")).as("account_id"),
        Exprs.cleanString(col("account_name")).as("account_name"),
        Exprs.cleanString(col("industry")).as("industry"),
        Exprs.cleanString(col("country")).as("country"),
        col("signup_date").cast("date").as("signup_date"),
        Exprs.cleanString(col("referral_source")).as("referral_source"),
        Exprs.cleanString(col("plan_tier")).as("signup_plan_tier"),
        col("seats").cast("int").as("signup_seats"),
        col("is_trial").cast("boolean").as("signup_is_trial"),
        col("churn_flag").cast("boolean").as("churn_flag"),
        col("ingested_at"), col("source_file"))
      cleaned.withColumn("record_hash", md5(concat_ws("|",
        hashText(col("account_id")), hashText(col("account_name")),
        hashText(col("industry")), hashText(col("country")),
        hashText(date_format(col("signup_date"), "yyyy-MM-dd")),
        hashText(col("referral_source")), hashText(col("signup_plan_tier")),
        hashText(col("signup_seats")), hashText(col("signup_is_trial")),
        hashText(col("churn_flag")))))
    }),

    // stg_subscriptions.sql — raw + cleaned money, all flags (same
    // compaction bound as stg_accounts)
    Model("stg_subscriptions", Seq("raw_subscriptions", "stg_accounts"),
      Materialization.IncrementalAppend("ingested_at", compactAfterFiles = Some(4)),
      checks = Seq(
        Checks.notNull("subscription_id", "account_id"),
        Checks.acceptedValues("billing_frequency", Seq("monthly", "annual")),
        Checks.relationshipsTo("account_id", "stg_accounts", "account_id")))((_, r) => {
      val s = r("raw_subscriptions")
      val cleaned = s.select(
        trim(col("subscription_id")).as("subscription_id"),
        trim(col("account_id")).as("account_id"),
        col("start_date").cast("date").as("start_date"),
        col("end_date").cast("date").as("end_date"),
        Exprs.cleanString(col("plan_tier")).as("plan_tier"),
        col("seats").cast("int").as("seats"),
        col("mrr_amount").cast("double").as("mrr_amount_raw"),
        col("arr_amount").cast("double").as("arr_amount_raw"),
        nonNegative(col("mrr_amount")).as("mrr_amount"),
        nonNegative(col("arr_amount")).as("arr_amount"),
        col("is_trial").cast("boolean").as("is_trial"),
        col("upgrade_flag").cast("boolean").as("upgrade_flag"),
        col("downgrade_flag").cast("boolean").as("downgrade_flag"),
        col("churn_flag").cast("boolean").as("churn_flag"),
        lower(Exprs.cleanString(col("billing_frequency"))).as("billing_frequency"),
        col("auto_renew_flag").cast("boolean").as("auto_renew_flag"),
        col("ingested_at"), col("source_file"))
      cleaned.withColumn("record_hash", md5(concat_ws("|",
        hashText(col("subscription_id")), hashText(col("account_id")),
        hashText(date_format(col("start_date"), "yyyy-MM-dd")),
        hashText(date_format(col("end_date"), "yyyy-MM-dd")),
        hashText(col("plan_tier")), hashText(col("seats")),
        hashText(col("mrr_amount")), hashText(col("arr_amount")),
        hashText(col("is_trial")), hashText(col("upgrade_flag")),
        hashText(col("downgrade_flag")), hashText(col("churn_flag")),
        hashText(col("billing_frequency")), hashText(col("auto_renew_flag")))))
    }),

    // stg_support_tickets.sql — table materialization, is_closed derived
    Model("stg_support_tickets", Seq("raw_support_tickets"),
      Materialization.Table,
      checks = Seq(Checks.notNull("ticket_id", "account_id")))((_, r) => {
      val t = r("raw_support_tickets")
      t.select(
        trim(col("ticket_id")).as("ticket_id"),
        trim(col("account_id")).as("account_id"),
        col("submitted_at").cast("timestamp").as("submitted_at"),
        col("closed_at").cast("timestamp").as("closed_at"),
        col("resolution_time_hours").cast("double").as("resolution_time_hours_raw"),
        nonNegative(col("resolution_time_hours")).as("resolution_time_hours"),
        lower(Exprs.cleanString(col("priority"))).as("priority"),
        col("first_response_time_minutes").cast("double").as("first_response_time_minutes_raw"),
        nonNegative(col("first_response_time_minutes")).as("first_response_time_minutes"),
        col("satisfaction_score").cast("double").as("satisfaction_score"),
        col("escalation_flag").cast("boolean").as("escalation_flag"),
        col("closed_at").cast("timestamp").isNotNull.as("is_closed"),
        col("ingested_at"), col("source_file"))
        .withColumn("record_hash", md5(concat_ws("|",
          hashText(col("ticket_id")), hashText(col("account_id")),
          hashText(date_format(col("submitted_at"), "yyyy-MM-dd HH:mm:ss")),
          hashText(date_format(col("closed_at"), "yyyy-MM-dd HH:mm:ss")),
          hashText(col("resolution_time_hours")), hashText(col("priority")),
          hashText(col("first_response_time_minutes")),
          hashText(col("satisfaction_score")), hashText(col("escalation_flag")))))
    }),

    // ---- current truth: latest row per key (int_*_current.sql, W1)
    Model("int_accounts_current", Seq("stg_accounts"), Materialization.View,
      checks = Seq(Checks.unique("account_id")))((_, r) =>
      latestPerKey(r("stg_accounts"), "account_id")),

    Model("int_subscriptions_current", Seq("stg_subscriptions"), Materialization.View,
      checks = Seq(Checks.unique("subscription_id")))((_, r) =>
      latestPerKey(r("stg_subscriptions"), "subscription_id")),

    // ---- the reference README's OWN roadmap item (README.md:166-170):
    // "make the int_*_current model an incremental table that keeps one
    // latest row per subscription_id" — dbt incremental_strategy='merge'
    // with unique_key, re-expressed as a MergeUpsert model. Each build
    // keeps the latest row per key WITHIN the staging delta (rows past
    // the prior's ingested_at frontier — the delta-only scan is the
    // point: the view recomputes a whole-staging window on every ref,
    // this maintains the same truth incrementally) and the merge
    // displaces the stored row, restating only buckets containing
    // delta keys. Semantics ≡ the view for append-monotone ingestion
    // (later batches carry later ingested_at, so cross-batch "latest"
    // is always the newer batch; within a batch the view's exact
    // tiebreak order decides) — FinanceWarehouseSpec pins merged ≡ view
    // over multi-batch ingestion and the touched-bucket-only rewrite.
    // The delta scan is INCLUSIVE of the frontier timestamp: a later
    // batch may carry rows that TIE the prior max ingested_at, and a
    // strict > would silently drop them (diverging merged from view).
    // Re-scanning the frontier sliver alone would rewrite every
    // frontier-key bucket on every build (for batch-stamped ingestion
    // that is the whole previous batch), so rows the merged table
    // already reflects are anti-joined out by (key, ingested_at): the
    // delta is exactly "frontier-or-later rows not yet merged", the
    // empty-delta build stays a byte-level no-op, and only genuinely
    // new keys' buckets rewrite. Assumes the landing zone never emits
    // two DIFFERENT rows for one (key, ingested_at) — the same
    // ambiguity the view resolves by arbitrary tiebreak.
    // At 100 TB this is the materialization current-truth WANTS: consumers
    // read a table sized |keys|, not a window over an ever-growing log.
    Model.incremental("int_subscriptions_current_merged", Seq("stg_subscriptions"),
      Materialization.MergeUpsert("subscription_id", 16),
      checks = Seq(Checks.unique("subscription_id")))((_, r, prior) => {
      val stg = r("stg_subscriptions")
      val delta = prior.map(_.agg(max(col("ingested_at"))).first())
        .filter(!_.isNullAt(0)).map(_.getTimestamp(0)) match {
        case None => stg
        case Some(w) =>
          // reflected = merged rows AT the frontier ts: a pushed
          // timestamp-equality scan of the |keys|-sized table yielding
          // ~one batch of (key, ts) pairs — broadcastable by size
          val reflected = prior.get.filter(col("ingested_at") === lit(w))
            .select(col("subscription_id"), col("ingested_at"))
          stg.filter(col("ingested_at") >= lit(w))
            .join(broadcast(reflected),
              Seq("subscription_id", "ingested_at"), "left_anti")
      }
      latestPerKey(delta, "subscription_id")
    }),

    // ---- SCD2 snapshots on record_hash (snap_*.sql)
    Model("snap_accounts", Seq("int_accounts_current"),
      Materialization.Scd2Snapshot("account_id", Seq("record_hash")))(
      (_, r) => r("int_accounts_current")),

    Model("snap_subscriptions", Seq("int_subscriptions_current"),
      Materialization.Scd2Snapshot("subscription_id", Seq("record_hash")))(
      (_, r) => r("int_subscriptions_current")),

    // ---- conformed calendar (dim_date.sql — full reference column set)
    Model("dim_date", Seq(), Materialization.Table,
      checks = Seq(Checks.unique("date_day")))((s, _) => {
      val spine = s.range(1).select(explode(sequence(
        lit(vars.dateStart).cast("date"), lit(vars.dateEnd).cast("date"),
        expr("interval 1 day"))).as("date_day"))
      val m = Exprs.monthStart(col("date_day"))
      spine.select(
        col("date_day"),
        m.as("month_start_date"),
        months_between(m, lit("1970-01-01").cast("date")).cast("int").as("month_index"),
        year(col("date_day")).as("year"),
        quarter(col("date_day")).as("quarter"),
        month(col("date_day")).as("month"),
        (year(col("date_day")) * 100 + month(col("date_day"))).cast("int").as("year_month"),
        date_format(col("date_day"), "MMMM").as("month_name"),
        last_day(col("date_day")).as("month_end_date"),
        (col("date_day") === m).as("is_month_start"),
        (col("date_day") === last_day(col("date_day"))).as("is_month_end"),
        add_months(m, -1).as("prev_month_start_date"),
        add_months(m, 1).as("next_month_start_date"))
    }),

    // ---- SCD2 dimensions with surrogate keys (dim_account.sql)
    Model("dim_account", Seq("snap_accounts"), Materialization.Table,
      checks = Seq(
        Checks.unique("account_key"),
        Checks.notNull("account_key", "account_id", "valid_from")))(
      (_, r) => r("snap_accounts").select(
        Exprs.surrogateKey(col("account_id"), col(Snapshot.ValidFrom)).as("account_key"),
        col("account_id"), col("account_name"), col("industry"), col("country"),
        col("signup_date"), col("referral_source"), col("signup_plan_tier"),
        col("signup_seats"), col("signup_is_trial"), col("churn_flag"),
        col(Snapshot.ValidFrom).as("valid_from"),
        col(Snapshot.ValidTo).as("valid_to"),
        col(Snapshot.ValidTo).isNull.as("is_current"),
        col("ingested_at"), col("source_file"), col("record_hash"))),

    // dim_subscription attaches the account version valid at the
    // subscription version's birth (J5 as-of at timestamp grain)
    Model("dim_subscription", Seq("snap_subscriptions", "dim_account"),
      Materialization.Table,
      checks = Seq(
        Checks.unique("subscription_key"),
        Checks.notNull("subscription_key", "subscription_id", "valid_from"),
        Checks.relationshipsTo("account_key", "dim_account", "account_key")))((_, r) => {
      val snap = r("snap_subscriptions").select(
        Exprs.surrogateKey(col("subscription_id"), col(Snapshot.ValidFrom)).as("subscription_key"),
        col("subscription_id"), col("account_id"),
        col("start_date"), col("end_date"), col("plan_tier"), col("seats"),
        col("billing_frequency"), col("is_trial"), col("upgrade_flag"),
        col("downgrade_flag"), col("churn_flag"), col("auto_renew_flag"),
        col("mrr_amount"), col("arr_amount"),
        col("mrr_amount_raw"), col("arr_amount_raw"),
        col(Snapshot.ValidFrom).as("valid_from"),
        col(Snapshot.ValidTo).as("valid_to"),
        col(Snapshot.ValidTo).isNull.as("is_current"),
        col("ingested_at"), col("source_file"), col("record_hash"))
      val acct = r("dim_account").select(
        col("account_key"), col("account_id").as("a_account_id"),
        col("valid_from").as("a_from"), col("valid_to").as("a_to"))
      snap.join(broadcast(acct),
          col("account_id") === col("a_account_id") &&
            col("valid_from") >= col("a_from") &&
            (col("a_to").isNull || col("valid_from") < col("a_to")), "left")
        .drop("a_account_id", "a_from", "a_to")
    }),

    // ---- subscription-month periodic snapshot fact
    // (fct_subscription_month.sql traced in SURVEY §3.4), incremental
    // delete+insert with the rolling reprocess_months window (S11/S12)
    Model.incremental("fct_subscription_month",
      Seq("int_subscriptions_current", "dim_date", "dim_subscription", "dim_account"),
      Materialization.DeleteInsert("month_start_date"),
      checks = Seq(
        Checks.uniqueCombination("subscription_id", "month_start_date"),
        Checks.notNull("subscription_key", "account_key", "month_start_date"),
        Checks.relationshipsTo("subscription_key", "dim_subscription", "subscription_key"),
        Checks.relationshipsTo("account_key", "dim_account", "account_key"),
        Checks.relationshipsTo("month_start_date", "dim_date", "date_day"),
        // tests/test_eom_end_date_boundary.sql: a sub that ended before
        // the month's last day must contribute 0 MRR that month
        Checks.singular("eom_boundary")(df =>
          df.filter(col("subscription_end_date").isNotNull &&
            col("subscription_end_date") < date_sub(add_months(col("month_start_date"), 1), 1) &&
            coalesce(col("mrr_amount"), lit(0.0)) =!= 0.0)),
        // Out-of-window late-data tripwire: the audit the reference
        // README DESCRIBES but never ships (README.md:75,124-132 — late
        // rows older than reprocess_months are silently unrestated, the
        // documented fix being a manual wider-window backfill). Violation
        // rows are current-truth subscriptions whose expected month span
        // (clamped to the calendar) disagrees with the months actually in
        // the fact. Normal operation always yields SPAN EQUALITY (the
        // first build writes exactly expected_start..expected_end and
        // DeleteInsert rewrites whole window months), so the check tests
        // equality on BOTH endpoints — catching all four drift modes: a
        // late arrival missing pre-window history (min too high), a late
        // end-EXTENSION missing trailing months (max too low — a mode a
        // one-sided test would silently pass), a late end-shrink leaving
        // stale trailing months (max too high), and a late start-shift
        // leaving stale leading months (min too low). Value-level
        // corrections within existing months restate inside the window
        // and do not trip. A null start_date generates no fact rows BY
        // DESIGN (the spine's between() is null-false), so such rows are
        // excluded here — they are a data-quality condition no
        // restatement window can fix, not late data. Cost: one fact scan
        // + one per-subscription agg shuffle — the price of the audit,
        // run as a gating check like every dbt test.
        Checks.singularWithRefs("late_data_outside_restatement_window") { (df, r) =>
          val cal = r("dim_date").filter(col("is_month_start"))
            .agg(min(col("date_day")).as("cal_min"), max(col("date_day")).as("cal_max"))
          val present = df.groupBy(col("subscription_id"))
            .agg(min(col("month_start_date")).as("min_present"),
              max(col("month_start_date")).as("max_present"))
          r("int_subscriptions_current")
            .filter(col("start_date").isNotNull)
            .crossJoin(broadcast(cal))
            .select(col("subscription_id"),
              greatest(Exprs.monthStart(col("start_date")), col("cal_min")).as("expected_start"),
              least(coalesce(Exprs.monthStart(col("end_date")), col("cal_max")), col("cal_max"))
                .as("expected_end"))
            .filter(col("expected_start") <= col("expected_end"))
            .join(present, Seq("subscription_id"), "left")
            .filter(col("min_present").isNull ||
              col("min_present") =!= col("expected_start") ||
              col("max_present") =!= col("expected_end"))
        }))((s, r, target) => {
      val allMonths = r("dim_date").filter(col("is_month_start"))
        .select(col("date_day").as("month_start_date"))
      // rolling restatement window (fct_subscription_month.sql:14-22):
      // recompute only months >= max(existing month) - reprocess_months
      val months = restatementWindow(allMonths, target, vars.reprocessMonths)
      val maxMonth = months.agg(max(col("month_start_date"))).first().getDate(0)
      val subs = r("int_subscriptions_current")
      val bounded = subs
        .withColumn("start_month", Exprs.monthStart(col("start_date")))
        .withColumn("end_month_b",
          least(coalesce(Exprs.monthStart(col("end_date")), lit(maxMonth)), lit(maxMonth)))
      // J1 range join onto the broadcast months spine — months is already
      // window-filtered, so the fan-out (and the write) covers exactly
      // the restated months
      val spine = bounded.join(broadcast(months),
        col("month_start_date").between(col("start_month"), col("end_month_b")))
      val active = Exprs.activeAtEom(col("start_date"), col("end_date"), col("month_start_date"))
      val base = spine.select(
        col("subscription_id"), col("account_id"), col("month_start_date"),
        col("start_date").as("subscription_start_date"),
        col("end_date").as("subscription_end_date"),
        active.as("is_active_at_eom"),
        // trial-aware MRR zeroing (fct_subscription_month.sql:84-92)
        when(active && !coalesce(col("is_trial"), lit(false)),
          coalesce(col("mrr_amount"), lit(0.0))).otherwise(0.0).as("mrr_amount"),
        (col("month_start_date") === col("start_month")).as("is_start_month"),
        // end flag only when a real end_date lands in this month
        (col("end_date").isNotNull &&
          Exprs.monthStart(col("end_date")) === col("month_start_date")).as("is_end_month"))
      // J3/J4 as-of SCD2 key attach, first version back-dated (W4); the
      // interval predicate is part of the LEFT join condition so
      // unmatched fact rows survive with a null key (reference
      // fct_subscription_month.sql:123-138)
      val subDim = scd2AtMonthGrain(r("dim_subscription"), "subscription_id",
        Seq("subscription_key" -> "subscription_key",
          "account_key" -> "subscription_account_key"))
        .withColumnRenamed("subscription_id", "d_id")
      val acctDim = scd2AtMonthGrain(r("dim_account"), "account_id",
        Seq("account_key" -> "acct_account_key"))
        .withColumnRenamed("account_id", "d_id")
      def asOf(df: DataFrame, dim: DataFrame, factKey: String) =
        df.join(broadcast(dim),
            col(factKey) === col("d_id") &&
              col("month_start_date") >= col("vf_month") &&
              (col("vt_month").isNull || col("month_start_date") < col("vt_month")),
            "left")
          .drop("d_id", "vf_month", "vt_month")
      asOf(asOf(base, subDim, "subscription_id"), acctDim, "account_id")
        .select(
          col("subscription_key"),
          // sub-version account key wins; account dim as-of is fallback
          // (fct_subscription_month.sql:144)
          coalesce(col("subscription_account_key"), col("acct_account_key")).as("account_key"),
          col("subscription_id"), col("account_id"), col("month_start_date"),
          col("mrr_amount"), col("is_active_at_eom"),
          col("is_start_month"), col("is_end_month"),
          col("subscription_start_date"), col("subscription_end_date"))
    }),

    // ---- account-month MRR rollup of fct_subscription_month, BUCKETED
    // by account_id — the pay-the-shuffle-once-at-write shape
    // (engine/Model.scala BucketedTable): fct_account_month's J6 join,
    // its account spine, its account-partitioned windows, and the
    // tie-out check below all key on account_id (alone or with month),
    // and HashPartitioning(account_id) from the bucket metadata
    // satisfies every one of those clustered distributions — the whole
    // downstream hot path plans with zero exchanges
    // (FinanceWarehouseSpec pins this on the executed plan). At 100 TB
    // the rollup is the narrow (account, month) grain: one bucketed
    // write of the small table per build buys a shuffle-free read in
    // every consumer, where before each consumer re-aggregated the
    // sub×month fact and re-shuffled the result.
    Model("int_account_monthly_mrr", Seq("fct_subscription_month"),
      Materialization.BucketedTable("account_id"),
      checks = Seq(
        Checks.uniqueCombination("account_id", "month_start_date"),
        Checks.notNull("account_id", "month_start_date", "mrr_end_mrr")))((_, r) =>
      r("fct_subscription_month")
        .groupBy(col("account_id"), col("month_start_date"))
        .agg(sum(coalesce(col("mrr_amount"), lit(0.0))).as("mrr_end_mrr"))),

    // ---- account-month fact with movement classification
    // (fct_account_month.sql — reference column names and 7-arm taxonomy)
    Model.incremental("fct_account_month",
      Seq("int_account_monthly_mrr", "dim_date", "dim_account"),
      Materialization.DeleteInsert("month_start_date"),
      checks = Seq(
        Checks.uniqueCombination("account_id", "month_start_date"),
        Checks.notNull("account_key", "month_start_date"),
        Checks.relationshipsTo("account_key", "dim_account", "account_key"),
        Checks.relationshipsTo("month_start_date", "dim_date", "date_day"),
        // tests/test_account_month_ties_subscription_month.sql — reads
        // the bucketed rollup (which IS the sub-month fact aggregated;
        // its own unique/notNull checks gate it, and
        // ReferenceDataParitySpec pins end values against DuckDB-derived
        // goldens), so the join probes co-located buckets instead of
        // re-aggregating the sub×month fact every build
        Checks.singularWithRefs("ties_to_subscription_month") { (df, r) =>
          val subsRoll = r("int_account_monthly_mrr")
            .withColumnRenamed("mrr_end_mrr", "subs_end_mrr")
          df.join(subsRoll, Seq("account_id", "month_start_date"), "left")
            .filter(Checks.tiesOut(col("mrr_end_mrr"), coalesce(col("subs_end_mrr"), lit(0.0))))
        }))((s, r, target) => {
      val monthly = r("int_account_monthly_mrr")
      val maxMonth = r("dim_date").filter(col("is_month_start"))
        .agg(max(col("date_day"))).first().getDate(0)
      // account spine: first activity → one month past last activity
      // (fct_account_month.sql:37-47) via explode(sequence) — scan-local,
      // no join
      val spine = monthly.groupBy(col("account_id"))
        .agg(min(col("month_start_date")).as("first_m"), max(col("month_start_date")).as("last_m"))
        .withColumn("month_start_date", explode(sequence(
          col("first_m"),
          least(add_months(col("last_m"), 1), lit(maxMonth)),
          expr("interval 1 month"))))
        .select("account_id", "month_start_date")
      val w = Window.partitionBy(col("account_id")).orderBy(col("month_start_date"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val classified = spine.join(monthly, Seq("account_id", "month_start_date"), "left")
        .withColumn("mrr_end_mrr", coalesce(col("mrr_end_mrr"), lit(0.0)))
        .withColumn("mrr_begin_mrr", coalesce(lag(col("mrr_end_mrr"), 1).over(w), lit(0.0)))
        .withColumn("mrr_delta", col("mrr_end_mrr") - col("mrr_begin_mrr"))
        .withColumn("has_paid_before",
          coalesce(max(when(col("mrr_end_mrr") > 0, 1).otherwise(0)).over(wPrev), lit(0)) === 1)
        .withColumn("movement_type",
          when(col("mrr_begin_mrr") === 0 && col("mrr_end_mrr") > 0 && !col("has_paid_before"), "new")
            .when(col("mrr_begin_mrr") === 0 && col("mrr_end_mrr") > 0, "reactivation")
            .when(col("mrr_begin_mrr") > 0 && col("mrr_end_mrr") === 0, "churn")
            .when(col("mrr_begin_mrr") > 0 && col("mrr_end_mrr") > 0 && col("mrr_delta") > 0, "upgrade")
            .when(col("mrr_begin_mrr") > 0 && col("mrr_end_mrr") > 0 && col("mrr_delta") < 0, "downgrade")
            .when(col("mrr_begin_mrr") === 0 && col("mrr_end_mrr") === 0, "zero")
            .otherwise("no_change"))
      val acctDim = scd2AtMonthGrain(r("dim_account"), "account_id",
        Seq("account_key" -> "account_key"))
        .withColumnRenamed("account_id", "d_id")
      val keyed = classified.join(broadcast(acctDim),
          col("account_id") === col("d_id") &&
            col("month_start_date") >= col("vf_month") &&
            (col("vt_month").isNull || col("month_start_date") < col("vt_month")), "left")
        .drop("d_id", "vf_month", "vt_month")
      val full = keyed.select(
        col("account_key"), col("account_id"), col("month_start_date"),
        col("mrr_begin_mrr"), col("mrr_end_mrr"), col("mrr_delta"), col("movement_type"),
        when(col("movement_type") === "new", col("mrr_end_mrr")).otherwise(0.0).as("new_mrr"),
        when(col("movement_type") === "reactivation", col("mrr_end_mrr")).otherwise(0.0).as("reactivation_mrr"),
        when(col("movement_type") === "upgrade", col("mrr_delta")).otherwise(0.0).as("upgrade_mrr"),
        when(col("movement_type") === "downgrade", abs(col("mrr_delta"))).otherwise(0.0).as("downgrade_mrr"),
        when(col("movement_type") === "churn", col("mrr_begin_mrr")).otherwise(0.0).as("churn_mrr"))
      // incremental: windows/lags above used FULL history (correctness at
      // the window edge); only the restated months are written
      restatementFilter(full, target, vars.reprocessMonths)
    }),

    // ---- MRR waterfall mart (mart_mrr_waterfall_month.sql) — densified
    // over the full calendar, net change + four account counts
    Model("mart_mrr_waterfall_month", Seq("fct_account_month", "dim_date"),
      Materialization.Table,
      checks = Seq(
        Checks.unique("month_start_date"),
        Checks.notNull("month_start_date", "begin_mrr", "end_mrr", "net_mrr_change",
          "new_mrr", "reactivation_mrr", "expansion_mrr", "contraction_mrr", "churn_mrr",
          "active_accounts", "churned_accounts", "new_accounts", "reactivated_accounts"),
        Checks.relationshipsTo("month_start_date", "dim_date", "date_day"),
        // tests/test_waterfall_ties_out.sql
        Checks.singular("waterfall_ties_out")(df => df.filter(Checks.tiesOut(
          col("begin_mrr") + col("new_mrr") + col("reactivation_mrr") +
            col("expansion_mrr") - col("contraction_mrr") - col("churn_mrr"),
          col("end_mrr")))),
        // aspirational models in the reference's schema.yml — skipped
        // with a warning by the engine (dimensions/schema.yml:28-34)
        Checks.relationshipsTo("month_start_date", "mart_subscription_month_enriched", "month_start_date")))((_, r) => {
      val months = r("dim_date").filter(col("is_month_start"))
        .select(col("date_day").as("month_start_date"))
      val am = r("fct_account_month")
      val agg = am.groupBy(col("month_start_date")).agg(
        sum(col("mrr_begin_mrr")).as("begin_mrr"),
        sum(col("mrr_end_mrr")).as("end_mrr"),
        (sum(col("mrr_end_mrr")) - sum(col("mrr_begin_mrr"))).as("net_mrr_change"),
        sum(col("new_mrr")).as("new_mrr"),
        sum(col("reactivation_mrr")).as("reactivation_mrr"),
        sum(col("upgrade_mrr")).as("expansion_mrr"),
        sum(col("downgrade_mrr")).as("contraction_mrr"),
        sum(col("churn_mrr")).as("churn_mrr"),
        // the fact is unique on (account_id, month) — gated by its
        // uniqueCombination check — so the reference's count(distinct
        // case ...) (`mart_mrr_waterfall_month.sql:44-47`) is a plain
        // conditional count here: same values, no distinct-agg expand
        count(when(col("mrr_end_mrr") > 0, lit(1))).as("active_accounts"),
        count(when(col("movement_type") === "churn", lit(1))).as("churned_accounts"),
        count(when(col("movement_type") === "new", lit(1))).as("new_accounts"),
        count(when(col("movement_type") === "reactivation", lit(1))).as("reactivated_accounts"))
      val outCols = Seq(col("month_start_date")) ++
        Seq("begin_mrr", "end_mrr", "net_mrr_change", "new_mrr", "reactivation_mrr",
          "expansion_mrr", "contraction_mrr", "churn_mrr").map(c =>
          coalesce(col(c), lit(0.0)).as(c)) ++
        Seq("active_accounts", "churned_accounts", "new_accounts", "reactivated_accounts").map(c =>
          coalesce(col(c), lit(0L)).as(c))
      months.join(agg, Seq("month_start_date"), "left").select(outCols: _*)
    })
  )

  /** W1 latest-row-per-key with deterministic tiebreak (SURVEY §7.4
    * risk 4: `source_file` then stable hash order breaks exact ties). */
  def latestPerKey(df: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("ingested_at").desc, col("source_file").desc, col("record_hash").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Months spine filtered to the rolling restatement window:
    * `month >= date_trunc('month', max(existing month) - N months)`
    * (fct_subscription_month.sql:14-22; `reprocess_months`
    * dbt_project.yml:42). Full spine on first run / empty target. */
  private def restatementWindow(
      allMonths: DataFrame, target: Option[DataFrame], n: Int): DataFrame =
    restatementBound(target, n) match {
      case Some(b) => allMonths.filter(col("month_start_date") >= lit(b))
      case None => allMonths
    }

  /** Filter a fully-computed fact to the restatement window's months. */
  private def restatementFilter(
      full: DataFrame, target: Option[DataFrame], n: Int): DataFrame =
    restatementBound(target, n) match {
      case Some(b) => full.filter(col("month_start_date") >= lit(b))
      case None => full
    }

  private def restatementBound(
      target: Option[DataFrame], n: Int): Option[java.sql.Date] =
    target.flatMap { t =>
      // single scalar off parquet footer stats — the reference's scalar
      // subquery over {{ this }}
      Option(t.agg(max(col("month_start_date"))).first().getDate(0))
        .map(d => java.sql.Date.valueOf(d.toLocalDate.minusMonths(n.toLong).withDayOfMonth(1)))
    }

  /** Month-truncated SCD2 validity with first-version back-dating
    * (fct_subscription_month.sql:97-121): the earliest version of a key
    * covers all history before the snapshot first saw it. `carry` maps
    * dim columns to their names in the output (e.g. dim_subscription
    * contributes both its surrogate key and its account_key).
    *
    * Divergence from the reference (documented per SURVEY §7.4): when
    * several versions of a key start in the SAME month, raw
    * month-truncation makes their intervals degenerate and a month can
    * match more than one version. At month grain only the latest version
    * of each month is visible at EOM, so we keep that one and rebuild
    * contiguous month intervals with `lead` — exactly one match per
    * fact month, always. */
  private def scd2AtMonthGrain(
      dim: DataFrame, key: String, carry: Seq[(String, String)]): DataFrame = {
    val wKey = Window.partitionBy(col(key))
    val wInMonth = Window.partitionBy(col(key), col("vf_raw")).orderBy(col("valid_from").desc)
    val wOrder = Window.partitionBy(col(key)).orderBy(col("vf_raw"))
    val selCols = Seq(col(key)) ++ carry.map { case (c, as) => col(c).as(as) } ++
      Seq(col("valid_from"), Exprs.monthStart(col("valid_from")).as("vf_raw"))
    dim.select(selCols: _*)
      .withColumn("rn", row_number().over(wInMonth)).filter(col("rn") === 1).drop("rn")
      .withColumn("vt_month", lead(col("vf_raw"), 1).over(wOrder))
      .withColumn("vf_month",
        when(col("vf_raw") === min(col("vf_raw")).over(wKey), lit(BackDate).cast("date"))
          .otherwise(col("vf_raw")))
      .drop("vf_raw", "valid_from")
  }
}
