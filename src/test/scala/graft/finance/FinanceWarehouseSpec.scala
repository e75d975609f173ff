package graft.finance

import graft.SparkSpec
import graft.engine.{BuildReport, Checks, Engine, Materialization, Model, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}

/** End-to-end DAG runs over multiple ingestion batches: the reference's
  * `dbt build` lifecycle (SURVEY §3.2) — incremental staging, SCD2
  * versioning, dimension/fact/mart refresh, rolling restatement, inline
  * tests — verified batch over batch.
  */
class FinanceWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: Int) = Timestamp.valueOf(f"2024-06-$d%02d 00:00:00")

  // fixtures carry the reference CSVs' full column sets
  // (data/accounts.csv, data/subscriptions.csv headers)
  private def accounts(rows: (String, String, String, String)*)(bt: Timestamp) =
    rows.toSeq.toDF("account_id", "account_name", "industry", "signup_date")
      .withColumn("signup_date", col("signup_date").cast("date"))
      .withColumn("country", lit("US"))
      .withColumn("referral_source", lit("organic"))
      .withColumn("plan_tier", lit("Basic"))
      .withColumn("seats", lit(5))
      .withColumn("is_trial", lit(false))
      .withColumn("churn_flag", lit(false))
      .withColumn("ingested_at", lit(bt))
      .withColumn("source_file", lit(s"accounts_$bt.csv"))

  private def subs(rows: (String, String, String, String, String, Double, Boolean)*)(bt: Timestamp) =
    rows.toSeq.toDF("subscription_id", "account_id", "plan_tier", "start_date",
        "end_date", "mrr_amount", "is_trial")
      .withColumn("start_date",
        when(col("start_date") === "", null).otherwise(col("start_date")).cast("date"))
      .withColumn("end_date", when(col("end_date") === "", null).otherwise(col("end_date")).cast("date"))
      .withColumn("seats", lit(3))
      .withColumn("arr_amount", col("mrr_amount") * 12)
      .withColumn("upgrade_flag", lit(false))
      .withColumn("downgrade_flag", lit(false))
      .withColumn("churn_flag", lit(false))
      .withColumn("billing_frequency", lit("monthly"))
      .withColumn("auto_renew_flag", lit(true))
      .withColumn("ingested_at", lit(bt))
      .withColumn("source_file", lit(s"subs_$bt.csv"))

  private def tickets(bt: Timestamp) =
    Seq(("t1", "a1", "2024-05-01 10:00:00", "2024-05-02 10:00:00", 24.0, "high", 30.0, 4.5, false))
      .toDF("ticket_id", "account_id", "submitted_at", "closed_at",
        "resolution_time_hours", "priority", "first_response_time_minutes",
        "satisfaction_score", "escalation_flag")
      .withColumn("submitted_at", col("submitted_at").cast("timestamp"))
      .withColumn("closed_at", col("closed_at").cast("timestamp"))
      .withColumn("ingested_at", lit(bt))
      .withColumn("source_file", lit("tickets.csv"))

  // batch 1 (June 1): a1 paid monthly, a2 trial
  private val b1Accounts = Seq(
    ("a1", "Acme", "enterprise", "2023-12-01"),
    ("a2", "Globex", "smb", "2024-01-15"))
  private val b1Subs = Seq(
    ("s1", "a1", "Basic", "2024-01-10", "", 100.0, false),
    ("s2", "a2", "Basic", "2024-02-01", "", 50.0, true))

  // batch 2 (June 2): a1 renamed (SCD2 version), s1 churns end of March,
  // s3 born in April, s2 unchanged
  private val b2Accounts = Seq(
    ("a1", "Acme Corp", "enterprise", "2023-12-01"),
    ("a2", "Globex", "smb", "2024-01-15"))
  private val b2Subs = Seq(
    ("s1", "a1", "Basic", "2024-01-10", "2024-03-15", 100.0, false),
    ("s2", "a2", "Basic", "2024-02-01", "", 50.0, true),
    ("s3", "a2", "Pro", "2024-04-05", "", 80.0, false))

  // reprocessMonths=12 covers the whole 2024 fact range, so these tests
  // exercise the non-windowed semantics; the dedicated restatement test
  // below uses the default window of 2
  private def vars = FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 12)

  private def engine(dir: String, acc: DataFrame, sub: DataFrame, bt: Timestamp,
      v: FinanceWarehouse.Vars = vars) =
    new Engine(spark, dir,
      Map("raw_accounts" -> acc, "raw_subscriptions" -> sub,
        "raw_support_tickets" -> tickets(bt)),
      FinanceWarehouse.models(v))

  private def run(dir: String, batches: Seq[(Timestamp, DataFrame, DataFrame)]) =
    batches.map { case (bt, acc, sub) =>
      val e = engine(dir, acc, sub, bt)
      (e, e.build(bt))
    }

  test("two-batch build: staging append, SCD2 versions, facts, waterfall") {
    val dir = tmpDir("wh")
    val runs = run(dir, Seq(
      (ts(1), accounts(b1Accounts: _*)(ts(1)), subs(b1Subs: _*)(ts(1))),
      (ts(2), accounts(b2Accounts: _*)(ts(2)), subs(b2Subs: _*)(ts(2)))))
    runs.foreach { case (_, rpt) => assert(rpt.ok, rpt.results.mkString("; ")) }
    val e = runs.last._1

    // staging holds both batches (incremental append, no duplicates)
    assert(e.ref("stg_accounts").count() == 4)
    assert(e.ref("stg_subscriptions").count() == 5)
    assert(e.ref("stg_support_tickets").count() == 1)

    // SCD2: a1 has two versions (rename), a2 one
    val snapA = e.ref("snap_accounts")
    assert(snapA.filter($"account_id" === "a1").count() == 2)
    val a1Versions = snapA.filter($"account_id" === "a1")
      .orderBy($"dbt_valid_from")
      .select($"account_name", $"dbt_valid_to".isNull).as[(String, Boolean)].collect().toSeq
    assert(a1Versions == Seq(("Acme", false), ("Acme Corp", true)))

    // dim_account surrogate keys unique; exactly one current row per id
    val dimA = e.ref("dim_account")
    assert(dimA.select("account_key").distinct().count() == dimA.count())
    assert(dimA.filter($"is_current").count() == 2)

    // fct: s1 active Jan..Mar (EOM boundary: churned Mar 15 ⇒ 0 MRR in
    // March), trial s2 contributes 0 all months, s3 active from April
    val fct = e.ref("fct_subscription_month")
    val s1 = fct.filter($"subscription_id" === "s1")
      .orderBy($"month_start_date")
      .select(date_format($"month_start_date", "yyyy-MM"), $"mrr_amount")
      .as[(String, Double)].collect().toSeq
    assert(s1 == Seq("2024-01" -> 100.0, "2024-02" -> 100.0, "2024-03" -> 0.0))
    assert(fct.filter($"subscription_id" === "s2" && $"mrr_amount" =!= 0.0).count() == 0)
    // is_end_month marks only the real end month (reference semantics):
    // s1 ends 2024-03-15 → flagged in March only; open-ended s3 never
    assert(fct.filter($"subscription_id" === "s1" && $"is_end_month")
      .select(date_format($"month_start_date", "yyyy-MM")).as[String].collect().toSeq == Seq("2024-03"))
    assert(fct.filter($"subscription_id" === "s3" && $"is_end_month").count() == 0)
    // every fact row got an SCD2 account key (also a gating notNull check)
    assert(fct.filter($"account_key".isNull).count() == 0)
    // both a1 versions were born in the same month (June), so at month
    // grain only the latest is visible; its back-dated interval covers
    // all a1 fact months
    val curKey = dimA.filter($"account_id" === "a1" && $"is_current")
      .select("account_key").as[String].head()
    assert(fct.filter($"account_id" === "a1").select("account_key")
      .distinct().as[String].collect().toSeq == Seq(curKey))

    // movement classification (7-arm reference taxonomy): a1 new in Jan,
    // churn in MARCH — s1 ended Mar 15, which fails the EOM-activity
    // predicate, so March end-MRR is already 0; a2 new in Apr (s3 is its
    // first non-trial MRR); a2's trial months are 'zero'
    val am = e.ref("fct_account_month")
    def mv(a: String, m: String) = am.filter($"account_id" === a &&
      date_format($"month_start_date", "yyyy-MM") === m)
      .select("movement_type").as[String].collect().toSeq
    assert(mv("a1", "2024-01") == Seq("new"))
    assert(mv("a1", "2024-03") == Seq("churn"))
    assert(mv("a2", "2024-02") == Seq("zero"))
    assert(mv("a2", "2024-04") == Seq("new"))

    // BI surface: ad-hoc SQL over the registered warehouse views
    e.registerViews()
    val viaSql = spark.sql(
      """SELECT month_start_date, end_mrr FROM mart_mrr_waterfall_month
        |WHERE month_start_date = DATE '2024-02-01'""".stripMargin)
      .as[(Date, Double)].head()
    assert(viaSql._2 == 100.0) // Feb: s1 active (100), s2 trial (0), s3 not born

    // waterfall: densified over the WHOLE calendar (dim_date months),
    // zero-filled before first activity, with net_mrr_change
    val wf = e.ref("mart_mrr_waterfall_month")
    assert(wf.count() == 18) // 2023-01 .. 2024-06
    assert(wf.filter($"month_start_date" === Date.valueOf("2023-05-01"))
      .select($"end_mrr", $"active_accounts").as[(Double, Long)].head() == ((0.0, 0L)))
    assert(wf.filter($"month_start_date" === Date.valueOf("2024-03-01"))
      .select("churn_mrr").as[Double].head() == 100.0)
    assert(wf.filter($"month_start_date" === Date.valueOf("2024-04-01"))
      .select($"new_mrr", $"net_mrr_change").as[(Double, Double)].head() == ((80.0, 80.0)))
  }

  test("randomized multi-batch builds: checks hold and incremental ≡ full refresh") {
    val rnd = new scala.util.Random(7)
    val accountIds = (1 to 8).map(i => s"a$i")
    val subIds = (1 to 20).map(i => s"s$i")
    def randAccounts() = accountIds.map(a =>
      (a, s"Name${rnd.nextInt(3)}_$a", Seq("smb", "mid", "enterprise")(rnd.nextInt(3)), "2023-11-01"))
    def randSubs() = subIds.map { sid =>
      val start = f"2024-0${1 + rnd.nextInt(3)}%s-0${1 + rnd.nextInt(9)}%s"
      val end = if (rnd.nextBoolean()) "" else f"2024-0${4 + rnd.nextInt(3)}%s-1${rnd.nextInt(9)}%s"
      (sid, accountIds(rnd.nextInt(accountIds.size)),
        Seq("Basic", "Pro")(rnd.nextInt(2)), start, end,
        (1 + rnd.nextInt(50)) * 10.0, rnd.nextInt(5) == 0)
    }
    val batches = (1 to 6).map(i => (ts(i), randAccounts(), randSubs()))

    // the staging models compact past 4 files: each build lands one
    // file (one input split, like a daily CSV batch), the fifth trips
    // the rewrite back to one, and no build leaves more than 4
    val stgDebt = """"name":"(stg_accounts|stg_subscriptions)"[^}]*"max_files_per_partition":(\d+)""".r
    val dir = tmpDir("whr")
    val runs = batches.zipWithIndex.map { case ((bt, a, su), i) =>
      val e = engine(dir, accounts(a: _*)(bt).coalesce(1), subs(su: _*)(bt).coalesce(1), bt)
      val rpt = e.build(bt)
      assert(rpt.ok, rpt.results.mkString("; "))
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8")
      val debt = stgDebt.findAllMatchIn(raw).map(m => m.group(1) -> m.group(2).toInt).toMap
      assert(debt.keySet == Set("stg_accounts", "stg_subscriptions") &&
        debt.values.forall(_ <= 4), raw)
      if (i == 4) assert(debt.values.forall(_ == 1), raw)
      (e, rpt)
    }

    // full refresh with only the final state (snapshot history differs,
    // but current-truth-derived facts must agree)
    val dirF = tmpDir("whrf")
    val (bt, aF, sF) = batches.last
    val eF = engine(dirF, accounts(aF: _*)(bt), subs(sF: _*)(bt), bt)
    assert(eF.build(bt).ok)

    def facts(e: Engine) = e.ref("fct_subscription_month")
      .select($"subscription_id", $"month_start_date", $"mrr_amount")
      .orderBy($"subscription_id", $"month_start_date")
      .as[(String, Date, Double)].collect().toSeq
    assert(facts(runs.last._1) == facts(eF))
  }

  test("incremental staging equals full refresh; third build is a no-op") {
    val dir = tmpDir("wh")
    val runs = run(dir, Seq(
      (ts(1), accounts(b1Accounts: _*)(ts(1)), subs(b1Subs: _*)(ts(1))),
      (ts(2), accounts(b2Accounts: _*)(ts(2)), subs(b2Subs: _*)(ts(2)))))
    val e = runs.last._1

    // full refresh: one engine, one batch containing everything
    val dirF = tmpDir("whf")
    val all = accounts(b1Accounts: _*)(ts(1)).union(accounts(b2Accounts: _*)(ts(2)))
    val allS = subs(b1Subs: _*)(ts(1)).union(subs(b2Subs: _*)(ts(2)))
    val eF = engine(dirF, all, allS, ts(2))
    assert(eF.build(ts(2)).ok)

    // the incremental facts equal the full-refresh facts
    def sorted(df: DataFrame) = df
      .select($"subscription_id", $"month_start_date", $"mrr_amount", $"is_active_at_eom")
      .orderBy($"subscription_id", $"month_start_date")
      .as[(String, Date, Double, Boolean)].collect().toSeq
    assert(sorted(e.ref("fct_subscription_month")) == sorted(eF.ref("fct_subscription_month")))

    // re-running batch 2 changes nothing (idempotent: watermark filters
    // the replayed batch, snapshot sees no hash changes)
    val e3 = engine(dir, accounts(b2Accounts: _*)(ts(2)), subs(b2Subs: _*)(ts(2)), ts(3))
    assert(e3.build(ts(3)).ok)
    assert(e3.ref("stg_accounts").count() == 4)
    assert(e3.ref("snap_accounts").count() == 3)
    assert(sorted(e3.ref("fct_subscription_month")) == sorted(eF.ref("fct_subscription_month")))
  }

  test("rolling restatement (reprocess_months=2): window restated to full-refresh values, stale months stay put") {
    // batch 1: s1 open-ended at 100 → fact Jan..Jun all 100
    // batch 2: s1's MRR corrected to 200 retroactively (SCD2 re-version);
    // only months >= 2024-04 (max 2024-06 minus 2) are restated
    val v = FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 2)
    val b1 = Seq(("s1", "a1", "Basic", "2024-01-10", "", 100.0, false))
    val b2 = Seq(("s1", "a1", "Basic", "2024-01-10", "", 200.0, false))
    val acc = Seq(("a1", "Acme", "enterprise", "2023-12-01"))

    val dir = tmpDir("whw")
    val e1 = engine(dir, accounts(acc: _*)(ts(1)), subs(b1: _*)(ts(1)), ts(1), v)
    assert(e1.build(ts(1)).ok)
    val e2 = engine(dir, accounts(acc: _*)(ts(2)), subs(b2: _*)(ts(2)), ts(2), v)
    assert(e2.build(ts(2)).ok)

    val got = e2.ref("fct_subscription_month")
      .select(date_format($"month_start_date", "yyyy-MM"), $"mrr_amount")
      .as[(String, Double)].collect().toMap
    // Jan..Mar outside the window keep the stale 100 (the reference's
    // documented late-correction tradeoff, README.md:124-132); Apr..Jun
    // are restated to 200
    assert(got == Map(
      "2024-01" -> 100.0, "2024-02" -> 100.0, "2024-03" -> 100.0,
      "2024-04" -> 200.0, "2024-05" -> 200.0, "2024-06" -> 200.0))

    // inside the window, restated rows equal a clean full refresh
    val dirF = tmpDir("whwf")
    val eF = engine(dirF, accounts(acc: _*)(ts(2)), subs(b2: _*)(ts(2)), ts(2), v)
    assert(eF.build(ts(2)).ok)
    def window(e: Engine) = e.ref("fct_subscription_month")
      .filter($"month_start_date" >= Date.valueOf("2024-04-01"))
      .select($"subscription_id", $"month_start_date", $"mrr_amount", $"is_active_at_eom")
      .orderBy($"subscription_id", $"month_start_date")
      .as[(String, Date, Double, Boolean)].collect().toSeq
    assert(window(e2) == window(eF))

    // account-month: window months recomputed over FULL history — April's
    // begin-MRR is March's (stale) end, so the movement is an upgrade,
    // not a spurious 'new' (divergence note in FinanceWarehouse scaladoc)
    val am = e2.ref("fct_account_month")
      .filter(date_format($"month_start_date", "yyyy-MM") === "2024-04")
      .select($"mrr_begin_mrr", $"mrr_end_mrr", $"movement_type")
      .as[(Double, Double, String)].head()
    assert(am == ((100.0, 200.0, "upgrade")))
  }

  test("late-data tripwire: a 3-months-late subscription fails the build; widened-window backfill clears it") {
    val v = FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 2)
    val acc = Seq(("a1", "Acme", "enterprise", "2023-12-01"))
    val b1 = Seq(("s1", "a1", "Basic", "2024-01-10", "", 100.0, false))
    // batch 2: s2 arrives LATE with a February start — 3 months older
    // than the Apr..Jun restatement window
    val b2 = Seq(
      ("s1", "a1", "Basic", "2024-01-10", "", 100.0, false),
      ("s2", "a1", "Basic", "2024-02-05", "", 50.0, false))

    val dir = tmpDir("whtrip")
    val e1 = engine(dir, accounts(acc: _*)(ts(1)), subs(b1: _*)(ts(1)), ts(1), v)
    assert(e1.build(ts(1)).ok)
    val e2 = engine(dir, accounts(acc: _*)(ts(2)), subs(b2: _*)(ts(2)), ts(2), v)
    val rpt = e2.build(ts(2))

    // the engine would previously drop s2's Feb/Mar history silently
    // (the reference's documented tradeoff); the tripwire turns that
    // into a visible build failure instead
    assert(!rpt.ok)
    assert(rpt("fct_subscription_month").status == "test_failed")
    assert(rpt("fct_subscription_month").failedChecks
      .contains("late_data_outside_restatement_window"))
    assert(rpt("fct_account_month").status == "skipped_upstream")
    // the condition it flagged: s2's pre-window months are absent
    assert(e2.ref("fct_subscription_month")
      .filter($"subscription_id" === "s2" &&
        $"month_start_date" < Date.valueOf("2024-04-01")).count() == 0)

    // the documented fix (reference README.md:124-132): re-run with a
    // widened reprocess window — backfill lands, tripwire goes green
    val e3 = engine(dir, accounts(acc: _*)(ts(3)), subs(b2: _*)(ts(3)), ts(3),
      FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 12))
    assert(e3.build(ts(3)).ok)
    assert(e3.ref("fct_subscription_month")
      .filter($"subscription_id" === "s2").count() == 5) // Feb..Jun
  }

  test("late-data tripwire: an end-date EXTENSION outside the window trips (missing trailing months)") {
    // the drift mode a one-sided max_present > expected_end test passes
    // silently: s1's correction EXTENDS its end past the months the fact
    // holds, but the restatement window (anchored by long-running s0 at
    // Apr..Jun) never rewrites March — revenue silently understated
    val v = FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 2)
    val acc = Seq(("a1", "Acme", "enterprise", "2023-12-01"))
    val b1 = Seq(
      ("s0", "a1", "Basic", "2024-01-10", "", 100.0, false), // runs through Jun
      ("s1", "a1", "Basic", "2024-01-10", "2024-02-15", 50.0, false))
    val b2 = Seq(
      ("s0", "a1", "Basic", "2024-01-10", "", 100.0, false),
      ("s1", "a1", "Basic", "2024-01-10", "2024-03-20", 50.0, false))
    val dir = tmpDir("whext")
    assert(engine(dir, accounts(acc: _*)(ts(1)), subs(b1: _*)(ts(1)), ts(1), v)
      .build(ts(1)).ok)
    val rpt = engine(dir, accounts(acc: _*)(ts(2)), subs(b2: _*)(ts(2)), ts(2), v)
      .build(ts(2))
    assert(!rpt.ok)
    assert(rpt("fct_subscription_month").failedChecks
      .contains("late_data_outside_restatement_window"))
    // widened window backfills March and the check clears
    val e3 = engine(dir, accounts(acc: _*)(ts(3)), subs(b2: _*)(ts(3)), ts(3),
      FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 12))
    assert(e3.build(ts(3)).ok)
    assert(e3.ref("fct_subscription_month")
      .filter($"subscription_id" === "s1").count() == 3) // Jan..Mar
  }

  test("late-data tripwire: a null start_date is a data-quality condition, not late data") {
    // a malformed start casts to null in staging; the spine's between()
    // emits no fact rows for it BY DESIGN and no restatement window can
    // fix that — the tripwire must exclude it, not fail every build
    val v = FinanceWarehouse.Vars(dateEnd = "2024-06-30", reprocessMonths = 2)
    val acc = Seq(("a1", "Acme", "enterprise", "2023-12-01"))
    val b = Seq(
      ("s0", "a1", "Basic", "2024-01-10", "", 100.0, false),
      ("sx", "a1", "Basic", "", "", 50.0, false)) // null start
    val dir = tmpDir("whnull")
    val rpt = engine(dir, accounts(acc: _*)(ts(1)), subs(b: _*)(ts(1)), ts(1), v)
      .build(ts(1))
    assert(rpt.ok, rpt.results.mkString("; "))
  }

  test("bucketed monthly-MRR rollup: fct_account_month's hot path plans with zero exchanges") {
    val dir = tmpDir("whbkt")
    val Seq((e, rpt)) = run(dir, Seq(
      (ts(1), accounts(b1Accounts: _*)(ts(1)), subs(b1Subs: _*)(ts(1)))))
    assert(rpt.ok, rpt.results.mkString("; "))

    // MEASURED shuffle accounting (NodeResult.shuffleBytes): the rollup
    // pays the bucket shuffle once at write; its consumer's build rides
    // the buckets — only the scalar max-month aggregate exchanges (a
    // handful of partial-agg rows), never fact data
    val rollupBytes = rpt("int_account_monthly_mrr").shuffleBytes
    val factBytes = rpt("fct_account_month").shuffleBytes
    assert(rollupBytes > 0, s"rollup should pay its bucket shuffle, got $rollupBytes")
    assert(factBytes >= 0 && factBytes < 4096,
      s"fct_account_month should shuffle only the scalar agg, got $factBytes")

    // replicate fct_account_month's J6-join + spine + window composition
    // over the bucketed ref; with broadcast off, only bucket metadata
    // can elide the exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val monthly = e.ref("int_account_monthly_mrr")
      val spine = monthly.groupBy($"account_id")
        .agg(min($"month_start_date").as("first_m"), max($"month_start_date").as("last_m"))
        .withColumn("month_start_date",
          explode(sequence($"first_m", add_months($"last_m", 1), expr("interval 1 month"))))
        .select("account_id", "month_start_date")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"account_id").orderBy($"month_start_date")
      val hot = spine.join(monthly, Seq("account_id", "month_start_date"), "left")
        .withColumn("prev_mrr", lag($"mrr_end_mrr", 1).over(w))
      hot.collect()
      val p = hot.queryExecution.executedPlan.toString
      // the scan reports its buckets; NOTHING downstream re-shuffles —
      // HashPartitioning(account_id) satisfies the spine agg, the
      // 2-key join, and the window in one pass
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // the tie-out check consumed the same rollup — values unchanged
    // vs the pre-bucketing formulation
    val am = e.ref("fct_account_month")
    val roll = e.ref("int_account_monthly_mrr")
      .withColumnRenamed("mrr_end_mrr", "roll_end_mrr")
    assert(am.join(roll, Seq("account_id", "month_start_date"))
      .filter(abs($"mrr_end_mrr" - $"roll_end_mrr") > 0.005)
      .count() == 0)
  }

  // ---- dbt 1.8 unit tests on the REAL finance models (reference
  // README:158-160 "does my model produce expected outputs?"): fixture
  // rows exercise fct_subscription_month's spine/trial/as-of logic and
  // mart_mrr_waterfall_month's rollup/densify logic with hand-computed
  // expectations, run pre-build on every dbt-build of the DAG.

  private def d(s: String) = Date.valueOf(s)

  private def fctSubMonthUnitTest = graft.engine.UnitTest(
    "ut_fct_subscription_month", "fct_subscription_month",
    given = Map(
      "dim_date" -> Seq("2024-01-01", "2024-02-01", "2024-03-01")
        .map(x => (d(x), true)).toDF("date_day", "is_month_start"),
      // s1 paid, ends Feb 10 (active at Jan EOM, NOT at Feb EOM, and
      // Feb is its is_end_month); s2 trial, open-ended from Feb
      "int_subscriptions_current" -> Seq(
        ("s1", "a1", d("2024-01-15"), Some(d("2024-02-10")), 100.0, false),
        ("s2", "a2", d("2024-02-01"), Option.empty[Date], 50.0, true))
        .toDF("subscription_id", "account_id", "start_date", "end_date",
          "mrr_amount", "is_trial"),
      // s2's version carries NO account_key — exercises the
      // coalesce-fallback to the account dim's as-of key
      "dim_subscription" -> Seq(
        ("s1", "SK1", Some("AK1"), d("2024-01-15")),
        ("s2", "SK2", Option.empty[String], d("2024-02-05")))
        .toDF("subscription_id", "subscription_key", "account_key", "valid_from"),
      "dim_account" -> Seq(
        ("a1", "AK1a", d("2024-01-10")), ("a2", "AK2a", d("2024-02-02")))
        .toDF("account_id", "account_key", "valid_from")),
    expect = Seq(
      ("SK1", "AK1", "s1", "a1", d("2024-01-01"), 100.0, true, true, false,
        d("2024-01-15"), Some(d("2024-02-10"))),
      ("SK1", "AK1", "s1", "a1", d("2024-02-01"), 0.0, false, false, true,
        d("2024-01-15"), Some(d("2024-02-10"))),
      ("SK2", "AK2a", "s2", "a2", d("2024-02-01"), 0.0, true, true, false,
        d("2024-02-01"), Option.empty[Date]),
      ("SK2", "AK2a", "s2", "a2", d("2024-03-01"), 0.0, true, false, false,
        d("2024-02-01"), Option.empty[Date]))
      .toDF("subscription_key", "account_key", "subscription_id", "account_id",
        "month_start_date", "mrr_amount", "is_active_at_eom", "is_start_month",
        "is_end_month", "subscription_start_date", "subscription_end_date"))

  private def waterfallUnitTest(expectFebEnd: Double) = graft.engine.UnitTest(
    "ut_mart_mrr_waterfall_month", "mart_mrr_waterfall_month",
    given = Map(
      "dim_date" -> Seq("2024-01-01", "2024-02-01", "2024-03-01")
        .map(x => (d(x), true)).toDF("date_day", "is_month_start"),
      // Jan: a1 new at 100; Feb: a1 upgrades to 150, a2 new at 80;
      // Mar: no fact rows — the calendar densifies it to zeros
      "fct_account_month" -> Seq(
        (d("2024-01-01"), 0.0, 100.0, 100.0, 0.0, 0.0, 0.0, 0.0, "new"),
        (d("2024-02-01"), 100.0, 150.0, 0.0, 0.0, 50.0, 0.0, 0.0, "upgrade"),
        (d("2024-02-01"), 0.0, 80.0, 80.0, 0.0, 0.0, 0.0, 0.0, "new"))
        .toDF("month_start_date", "mrr_begin_mrr", "mrr_end_mrr", "new_mrr",
          "reactivation_mrr", "upgrade_mrr", "downgrade_mrr", "churn_mrr",
          "movement_type")),
    expect = Seq(
      (d("2024-01-01"), 0.0, 100.0, 100.0, 100.0, 0.0, 0.0, 0.0, 0.0, 1L, 0L, 1L, 0L),
      (d("2024-02-01"), 100.0, expectFebEnd, 130.0, 80.0, 0.0, 50.0, 0.0, 0.0, 2L, 0L, 1L, 0L),
      (d("2024-03-01"), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0L, 0L, 0L, 0L))
      .toDF("month_start_date", "begin_mrr", "end_mrr", "net_mrr_change",
        "new_mrr", "reactivation_mrr", "expansion_mrr", "contraction_mrr",
        "churn_mrr", "active_accounts", "churned_accounts", "new_accounts",
        "reactivated_accounts"))

  test("merged model absorbs frontier-timestamp ties; reflected buckets stay byte-identical") {
    val dir = tmpDir("whmrgtie")
    // staging stubbed as a full-rebuild Table so frontier TIES actually
    // reach the merged model (the real stg_subscriptions' own HWM would
    // drop them upstream — this pins the merged layer's own guard)
    var staged = Seq(
      ("s1", 100.0, ts(1), "f1", "h1"),
      ("s2", 200.0, ts(2), "f1", "h2"))
      .toDF("subscription_id", "mrr", "ingested_at", "source_file", "record_hash")
    val merged = FinanceWarehouse.models(vars)
      .find(_.name == "int_subscriptions_current_merged").get
    def mk() = new Engine(spark, dir, Map.empty, Seq(
      Model("stg_subscriptions", Seq(), Materialization.Table)((_, _) => staged),
      merged))
    assert(mk().build().ok)
    def filesByBucket: Map[String, Set[String]] =
      new java.io.File(s"$dir/int_subscriptions_current_merged").listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_graft_bucket="))
        .map(b => b.getName -> b.listFiles.map(f =>
          s"${f.getName}:${f.lastModified}:${f.length}").toSet).toMap
    val before = filesByBucket
    // batch 2 carries s3 stamped EXACTLY at the prior frontier ts(2): a
    // strict > delta scan would silently drop it forever
    staged = staged.unionByName(Seq(("s3", 300.0, ts(2), "f2", "h3"))
      .toDF("subscription_id", "mrr", "ingested_at", "source_file", "record_hash"))
    val e2 = mk()
    assert(e2.build().ok)
    val out = e2.ref("int_subscriptions_current_merged")
    assert(out.count() == 3 &&
      out.filter($"subscription_id" === "s3").count() == 1,
      "frontier-tie row was dropped by the merged delta scan")
    // and the already-reflected frontier row (s2) did NOT force its
    // bucket to rewrite: only s3's bucket changed
    val touched = (before.keySet ++ filesByBucket.keySet).filter(b =>
      before.getOrElse(b, Set.empty) != filesByBucket.getOrElse(b, Set.empty))
    val s3Bucket = "_graft_bucket=" + spark.range(1)
      .select(pmod(hash(lit("s3")), lit(16)).cast("int")).first().getInt(0)
    assert(touched == Set(s3Bucket),
      s"expected only $s3Bucket to change, got $touched")
  }

  test("merged int_subscriptions_current ≡ the view across batches; only delta-key buckets rewrite") {
    val dir = tmpDir("whmrg")
    // batch 1: s1 + s2; batch 2: s3 born (s1/s2 NOT re-ingested);
    // batch 3: s1 churns (update). Raw is cumulative like a real
    // landing zone — stg_subscriptions' HWM append takes the delta.
    val raw1 = subs(b1Subs: _*)(ts(1))
    val raw2 = raw1.unionByName(
      subs(("s3", "a2", "Pro", "2024-04-05", "", 80.0, false))(ts(2)))
    val raw3 = raw2.unionByName(
      subs(("s1", "a1", "Basic", "2024-01-10", "2024-03-15", 100.0, false))(ts(3)))
    def filesByBucket: Map[String, Set[String]] =
      new java.io.File(s"$dir/int_subscriptions_current_merged").listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_graft_bucket="))
        .map(b => b.getName -> b.listFiles.map(f =>
          s"${f.getName}:${f.lastModified}:${f.length}").toSet).toMap
    def check(e: Engine): Unit = {
      val view = e.ref("int_subscriptions_current")
      val merged = e.ref("int_subscriptions_current_merged")
      val cols = view.columns.sorted.map(col).toSeq
      assert(merged.count() == view.count())
      assert(merged.select(cols: _*).exceptAll(view.select(cols: _*)).isEmpty &&
        view.select(cols: _*).exceptAll(merged.select(cols: _*)).isEmpty,
        "merged table diverged from the view's current truth")
    }
    val batches = Seq(ts(1) -> raw1, ts(2) -> raw2, ts(3) -> raw3)
    var before: Map[String, Set[String]] = Map.empty
    batches.zipWithIndex.foreach { case ((bt, raw), i) =>
      val e = new Engine(spark, dir,
        Map("raw_accounts" -> accounts(b1Accounts: _*)(bt),
          "raw_subscriptions" -> raw, "raw_support_tickets" -> tickets(bt)),
        FinanceWarehouse.models(vars))
      val rpt = e.build(bt)
      assert(rpt.ok, rpt.results.mkString("; "))
      check(e)
      val after = filesByBucket
      if (i == 1) {
        // batch 2's delta is s3 alone: every pre-existing bucket's
        // files must be byte-identical — only s3's bucket rewrote
        val touched = before.keySet.filter(b =>
          after.getOrElse(b, Set.empty) != before(b)) ++
          (after.keySet -- before.keySet)
        val s3Bucket = "_graft_bucket=" + spark.range(1)
          .select(pmod(hash(lit("s3")), lit(16)).cast("int")).first().getInt(0)
        assert(touched == Set(s3Bucket),
          s"expected only $s3Bucket to change, got $touched")
      }
      before = after
    }
    // idempotent re-run: no new raw rows => empty delta => the merge is
    // a byte-level no-op (no bucket rewrites, same truth)
    val eAgain = new Engine(spark, dir,
      Map("raw_accounts" -> accounts(b1Accounts: _*)(ts(3)),
        "raw_subscriptions" -> raw3, "raw_support_tickets" -> tickets(ts(3))),
      FinanceWarehouse.models(vars))
    assert(eAgain.build(ts(4)).ok)
    check(eAgain)
    assert(filesByBucket == before, "empty-delta merge rewrote bucket files")
  }

  test("unit tests on fct_subscription_month and mart_mrr_waterfall_month run pre-build") {
    val dir = tmpDir("whut")
    val e = new Engine(spark, dir,
      Map("raw_accounts" -> accounts(b1Accounts: _*)(ts(1)),
        "raw_subscriptions" -> subs(b1Subs: _*)(ts(1)),
        "raw_support_tickets" -> tickets(ts(1))),
      FinanceWarehouse.models(vars),
      unitTests = Seq(fctSubMonthUnitTest, waterfallUnitTest(230.0)))
    val rpt = e.build(ts(1))
    assert(rpt.ok, rpt.results.mkString("; "))

    // a wrong expectation gates the mart (and would block downstream)
    // without touching the materialized DAG state
    val e2 = new Engine(spark, dir,
      Map("raw_accounts" -> accounts(b1Accounts: _*)(ts(2)),
        "raw_subscriptions" -> subs(b1Subs: _*)(ts(2)),
        "raw_support_tickets" -> tickets(ts(2))),
      FinanceWarehouse.models(vars),
      unitTests = Seq(waterfallUnitTest(999.0)))
    val rpt2 = e2.build(ts(2))
    assert(!rpt2.ok)
    assert(rpt2("mart_mrr_waterfall_month").status == "unit_test_failed",
      rpt2.results.mkString("; "))
  }

  // ---- concurrent dispatch, the build default, against one worker

  /** `models` with model `name` replaced by `f` of it. */
  private def replaced(models: Seq[Model], name: String)(f: Model => Model): Seq[Model] =
    models.map(m => if (m.name == name) f(m) else m)

  test("the default concurrent build equals threads = 1: rows, reports, run_results order, a red day") {
    val red = replaced(FinanceWarehouse.models(vars), "dim_account")(m =>
      new Model(m.name, m.deps, m.materialization,
        m.checks :+ Checks.singular("injected_red")(df => df), m.buildFn, m.contract, m.version))
    val days = Seq(
      (ts(1), accounts(b1Accounts: _*)(ts(1)), subs(b1Subs: _*)(ts(1)), FinanceWarehouse.models(vars)),
      (ts(2), accounts(b2Accounts: _*)(ts(2)), subs(b2Subs: _*)(ts(2)), FinanceWarehouse.models(vars)),
      (ts(3), accounts(b2Accounts: _*)(ts(3)), subs(b2Subs: _*)(ts(3)), red))
    val (conc, serial) = (tmpDir("whconc"), tmpDir("whser"))
    def norm(r: BuildReport) = r.results.map(n => (n.name, n.status, n.rows, n.failedChecks))
    def runOrder(dir: String) = """"name":"([^"]+)","status"""".r
      .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8"))
      .map(_.group(1)).toSeq
    val reports = days.map { case (bt, acc, sub, models) =>
      def eng(dir: String) = new Engine(spark, dir,
        Map("raw_accounts" -> acc, "raw_subscriptions" -> sub,
          "raw_support_tickets" -> tickets(bt)), models)
      val (ec, es) = (eng(conc), eng(serial))
      assert(ec.defaultThreads == math.min(spark.sparkContext.defaultParallelism, models.size))
      val (rc, rs) = (ec.build(bt), es.build(bt, threads = 1))
      assert(norm(rc) == norm(rs), s"$bt\n${rc.results.mkString("\n")}\n${rs.results.mkString("\n")}")
      assert(runOrder(conc) == rc.results.map(_.name))
      assert(runOrder(serial) == runOrder(conc))
      models.foreach { m =>
        val (a, b) = (ec.ref(m.name), es.ref(m.name))
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$bt: ${m.name} differs")
      }
      rc
    }
    reports.init.foreach(r => assert(r.ok, r.results.mkString("; ")))
    val day3 = reports.last
    assert(day3("dim_account").status == "test_failed")
    assert(day3("dim_account").failedChecks == Seq("injected_red"))
    Seq("dim_subscription", "fct_subscription_month", "int_account_monthly_mrr",
      "fct_account_month", "mart_mrr_waterfall_month").foreach(n =>
      assert(day3(n).status == "skipped_upstream", n))
    Seq("stg_support_tickets", "dim_date", "int_subscriptions_current_merged",
      "snap_subscriptions").foreach(n => assert(day3(n).status == "ok", n))
  }

  test("a warehouse whose rollup has 32 buckets rebuilds on the session's bucket count") {
    val fixed32 = replaced(FinanceWarehouse.models(vars), "int_account_monthly_mrr")(m =>
      new Model(m.name, m.deps, Materialization.BucketedTable("account_id", 32),
        m.checks, m.buildFn, m.contract, m.version))
    def eng(dir: String, d: Int, models: Seq[Model]) = new Engine(spark, dir,
      Map("raw_accounts" -> accounts((if (d == 1) b1Accounts else b2Accounts): _*)(ts(d)),
        "raw_subscriptions" -> subs((if (d == 1) b1Subs else b2Subs): _*)(ts(d)),
        "raw_support_tickets" -> tickets(ts(d))), models)
    // the bucket count a keyed aggregate's bucketed scan reports
    def buckets(e: Engine) = {
      val q = e.ref("int_account_monthly_mrr").groupBy($"account_id").count()
      q.collect()
      """SelectedBucketsCount: \d+ out of (\d+)""".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString).map(_.group(1).toInt)
    }
    val dir = tmpDir("whb32")
    val e1 = eng(dir, 1, fixed32)
    assert(e1.build(ts(1)).ok)
    assert(buckets(e1) == Some(32))
    val e2 = eng(dir, 2, FinanceWarehouse.models(vars))
    val rpt = e2.build(ts(2))
    assert(rpt.ok, rpt.results.mkString("; "))
    assert(buckets(e2) == Some(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // same truth as a warehouse that never had 32 buckets
    val fresh = tmpDir("whbfresh")
    Seq(1, 2).foreach(d => assert(eng(fresh, d, FinanceWarehouse.models(vars)).build(ts(d)).ok))
    val ef = eng(fresh, 2, FinanceWarehouse.models(vars))
    Seq("int_account_monthly_mrr", "fct_account_month", "mart_mrr_waterfall_month").foreach { n =>
      val (a, b) = (e2.ref(n), ef.ref(n))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, n)
    }
  }
}
