package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a model's result is persisted — the Spark re-expression of the
  * reference's dbt materializations (`/root/reference/dbt_project.yml:14-31`
  * and per-model `config(...)` headers).
  */
sealed trait Materialization

object Materialization {

  /** Unmaterialized: downstream refs recompute the plan (Catalyst fuses it).
    * Reference: `models/intermediate/int_accounts_current.sql:1`
    * (`materialized='view'`). At scale a view costs nothing — it is just a
    * logical subtree; Catalyst prunes/pushes through it.
    */
  case object View extends Materialization

  /** Full rebuild on every run.
    * Reference: `models/reporting/dimensions/dim_date.sql:1` etc.
    */
  case object Table extends Materialization

  /** Like [[Table]], but built on the FIRST run only: when the target
    * already exists the node is SKIPPED outright — the buildFn is not
    * invoked, so neither its plan (a training pass over the snapshot)
    * nor its eager construction work (driver-side collects for
    * broadcast state) costs anything. This is the FROZEN-ARTIFACT
    * materialization for trained state with a fixed training input —
    * coarse-quantizer centroids, PQ codebooks, cluster means: the
    * frozen-quantizer contract means a rebuild is bit-identical by
    * construction, so re-deriving it per incremental batch pays a full
    * training pass (at 100 TB, a pass over the training snapshot) for
    * nothing. Being skipped-when-present rather than re-derived is also
    * what makes a maintenance SWAP durable (e.g.
    * [[graft.similarity.IncrementalIvfIndex.retrain]] replaces the
    * stored centroids; the next build reads the retrained state instead
    * of silently reverting it). `--full-refresh` rebuilds from the
    * current inputs, exactly like [[Table]] — a CHANGED training
    * snapshot still means full refresh by design. */
  case object TrainOnceTable extends Materialization

  /** Full rebuild like [[Table]], persisted as a BUCKETED table:
    * hash-bucketed and sorted by `key` into `buckets` buckets, registered
    * in the session catalog (bucket metadata lives there — a plain
    * parquet path read would discard it) under a warehouse-scoped
    * database so same-named models of two engines cannot collide. The
    * data files still live under `warehouseDir/<name>` like every other
    * model; refs resolve through the catalog so downstream joins and
    * aggregations on `key` read co-located buckets with NO exchange
    * (the BucketingSpec shape, lifted into the engine).
    *
    * At 100 TB this is the materialization for a fact several consumers
    * re-join on one key: the shuffle is paid once at write time, not
    * once per consumer per build.
    *
    * Sessions should set
    * `spark.sql.requireAllClusterKeysForCoPartition=false` so a
    * MULTI-key join (e.g. on `(key, month)`) also rides the buckets:
    * clustering on a subset of the join keys is always CORRECT — equal
    * `key` implies equal full join key on both sides, so matches stay
    * colocated — and the default-true guard only hedges against reduced
    * parallelism, which is the trade bucketing makes deliberately.
    *
    * `buckets` unset (the default) sizes the table from the session's
    * `spark.sql.shuffle.partitions` at write time: that is the partition
    * count the planner gives the consumer's other join side, so the
    * bucketed side needs no exchange, and the file count follows the
    * session's parallelism instead of a constant.
    */
  final case class BucketedTable(key: String, buckets: Option[Int] = None)
    extends Materialization

  object BucketedTable {
    /** A fixed bucket count. */
    def apply(key: String, buckets: Int): BucketedTable = BucketedTable(key, Some(buckets))
  }

  /** Incremental append: on first run write everything; afterwards append
    * only rows with `watermarkCol > max(watermarkCol)` already in the target.
    * Reference: `models/staging/stg_accounts.sql:1-11` (high-water-mark
    * `is_incremental()` filter on `ingested_at`).
    *
    * Scale: the watermark is a single scalar collected from a
    * max-aggregate over the target's `watermarkCol` — parquet footer
    * statistics make this a metadata-only scan in practice; the filtered
    * source append never shuffles.
    *
    * `partitionCols` (optional) stores the target hive-partitioned on
    * those columns, so a consumer filtering on them gets planning-time
    * directory pruning instead of a full scan — the read-side contract a
    * cluster-keyed index table (e.g. `ivf_index`) needs: a probe of one
    * cluster reads one cluster's partition, N/k of the data. Appends
    * land inside the partitions their rows belong to; nothing else is
    * touched.
    *
    * RESERVED ROW SHAPE: a row with every non-watermark column null is
    * the engine's frontier MARKER (written by [[Engine.compact]] when a
    * delete removes the high-water-mark row, so the next build still
    * appends strictly past the old mark). Compaction classifies such
    * rows as markers — folds them into the new frontier and excludes
    * them from data counts — so an IncrementalAppend model's DATA rows
    * must carry at least one non-null value outside the watermark
    * column. Models whose rows can legitimately be all-null there
    * should add a constant discriminator column rather than rely on
    * this shape.
    *
    * `compactAfterFiles` (optional) puts compaction cadence under the
    * ENGINE's control (the batch twin of the streaming loops'
    * `maintenanceMaxFiles`): after each build's append, the engine runs
    * [[Engine.compactIfNeeded]] with this threshold — a metadata-only
    * listing until the files-per-partition debt trips, then one
    * content-identical rewrite. `run_results.json`'s
    * `max_files_per_partition` then reports the post-maintenance debt,
    * so CI sees the policy holding.
    *
    * `onSchemaChange` is dbt's `on_schema_change` contract for
    * incremental models, decided PER BUILD against the target's current
    * (merged) schema: [[SchemaChange.Ignore]] (dbt's default) freezes
    * the schema at first build — new batch columns are dropped and
    * stored columns missing from the batch append as nulls;
    * [[SchemaChange.AppendNewColumns]] evolves the target — new batch
    * columns append to the schema and PRIOR rows read as null for them
    * (parquet schema merge, no rewrite of history — the 100 TB-safe
    * evolution); [[SchemaChange.Fail]] refuses the build on any column-
    * set difference. Watermark and partition columns must be present in
    * every batch regardless of policy. */
  final case class IncrementalAppend(
      watermarkCol: String,
      partitionCols: Seq[String] = Nil,
      compactAfterFiles: Option[Int] = None,
      onSchemaChange: SchemaChange = SchemaChange.Ignore) extends Materialization

  /** Incremental delete+insert over a partitioned table: recompute only the
    * partitions inside the restatement window and overwrite exactly those
    * via dynamic partition overwrite (no row-level deletes on parquet).
    * Reference: `models/reporting/facts/fct_subscription_month.sql:1-5,14-22`
    * (delete+insert on `['subscription_id','month_start_date']` with a
    * rolling `reprocess_months` window).
    *
    * `partitionCol` must be the window grain (month start date here). At
    * 100 TB this touches only `reprocess_months` partitions per run — cost
    * is proportional to the restatement window, not table size.
    *
    * `onSchemaChange` is the same dbt contract as on
    * [[IncrementalAppend]], applied to the restated window: under
    * [[SchemaChange.AppendNewColumns]] the restated partitions carry
    * the evolved schema while untouched partitions keep their old
    * files — reads merge footers, history is never rewritten. */
  final case class DeleteInsert(
      partitionCol: String,
      onSchemaChange: SchemaChange = SchemaChange.Ignore) extends Materialization

  /** Incremental MERGE (dbt's `incremental_strategy='merge'` with a
    * `unique_key`): each build's rows UPSERT into the target — a delta
    * row whose `uniqueKey` matches a stored row replaces it; unmatched
    * delta rows insert. The one dbt incremental strategy the engine
    * lacked: append can't restate a key, delete+insert restates a
    * partition-grain WINDOW — merge restates individual KEYS anywhere
    * in history.
    *
    * Storage/scale: parquet has no row-level delete, so the target is
    * hive-partitioned on a synthetic key-hash bucket column
    * ([[MergeUpsert.BucketCol]] = `pmod(hash(uniqueKey), buckets)`) and
    * a merge rewrites ONLY the buckets containing delta keys via
    * dynamic partition overwrite: stored rows of touched buckets are
    * read back (partition-pruned — planning-time directory pruning, not
    * a scan-and-filter), anti-joined against the delta's keys, and
    * rewritten together with the delta. Untouched buckets' files are
    * not opened, read, or rewritten (spec-pinned at file level), so a
    * build's cost is (touched buckets) × bucket size, not table size —
    * the same restatement economics a table format's MERGE gets from
    * file-level skipping. Size `buckets` so one bucket ≈ a few
    * partitions' worth of rows at the target SF; a delta touching all
    * buckets degrades to a full rewrite, exactly like format-native
    * MERGE with uniformly-spread keys.
    *
    * Semantics match ANSI MERGE joined `ON target.key = delta.key`:
    * an incremental build FAILS if the delta carries duplicate
    * `uniqueKey` values ("multiple source rows matched"); NULL keys
    * never equal anything, so null-key delta rows always insert and
    * null-key stored rows are never displaced. The first build (and
    * `--full-refresh`) is create-table-as: uniqueness is not enforced
    * there (dbt likewise), and a later merge on a key that was
    * duplicated at bootstrap displaces ALL its copies — merge
    * converges the table toward key-uniqueness.
    *
    * The bucket column is engine-internal to CONSUMERS: `ref()` hides
    * it. The model's own `{{ this }}` prior-target view KEEPS it, so a
    * layout-aware incremental build (merge-maintained aggregate state:
    * new_count = delta_count + prior_count for touched keys) can prune
    * its prior-side read to the delta's buckets — without that filter
    * the read-modify-write join rescans the whole prior table per
    * build; with it, prior-side cost is touched buckets only, matching
    * the write side. The build's OUTPUT must still not carry the
    * column (the engine recomputes it). `onSchemaChange` is the same dbt
    * contract as on [[IncrementalAppend]]; under
    * [[SchemaChange.AppendNewColumns]] only touched buckets carry the
    * evolved schema (reads merge footers — history untouched).
    *
    * `updateColumns` is dbt's `merge_update_columns`: when non-empty, a
    * MATCHED key's stored row is kept and ONLY the listed columns take
    * the delta's values (unmatched delta rows still insert whole) —
    * partial updates without re-supplying the full row, e.g. a CDC feed
    * that carries only the changed measure. Empty (default) replaces
    * the whole matched row. dbt's `merge_exclude_columns` is the
    * complement: pass every column except the excluded ones. The listed
    * columns must exist on both sides and must not include the key. */
  final case class MergeUpsert(
      uniqueKey: String,
      buckets: Int,
      onSchemaChange: SchemaChange = SchemaChange.Ignore,
      updateColumns: Seq[String] = Nil) extends Materialization

  object MergeUpsert {
    /** Synthetic key-hash bucket partition column; reserved — a merge
      * model's build output must not carry a column of this name. */
    val BucketCol = "_graft_bucket"
  }

  /** Incremental MICROBATCH (dbt 1.9's `incremental_strategy=
    * 'microbatch'` with `event_time`, `batch_size`, `lookback`): the
    * table is processed and stored in event-time batches — one hive
    * partition per `grain` window of `eventTime` (the synthetic
    * [[Microbatch.BatchCol]], engine-derived, hidden from consumers) —
    * and an incremental build restates every batch from
    * `frontier − lookback` forward, where frontier = the newest stored
    * batch. Late-arriving rows inside the lookback window are captured
    * by their batch's restatement; rows arriving later than that are
    * dropped, exactly dbt's documented microbatch trade (bounded
    * reprocessing in exchange for a bounded lateness horizon — the
    * batch analogue of a streaming watermark).
    *
    * Each batch is written as its OWN job (dbt runs microbatches as
    * independently retryable units): a failure mid-build leaves earlier
    * batches committed — re-running resumes from the same window
    * because the restatement window derives from the stored frontier,
    * and per-batch dynamic partition overwrite is idempotent. A batch
    * whose restatement has NO surviving rows is deleted outright
    * (dynamic overwrite cannot replace a partition with nothing).
    *
    * Scale: cost per build = (lookback + new batches) × batch size —
    * table size never enters; at 100 TB with daily grain a build
    * touches days, not years. The model's transform must be ROW-WISE
    * in event time (each output row's batch determined by its own
    * `eventTime`) — cross-batch aggregates belong downstream, as in
    * dbt, where the engine filters each batch's input window.
    *
    * `grain` ∈ day | month (dbt's hour/year omitted until needed);
    * `lookback` ≥ 0 in grain units. `onSchemaChange` as on
    * [[DeleteInsert]], applied to the restated window. */
  final case class Microbatch(
      eventTime: String,
      grain: String = "day",
      lookback: Int = 1,
      onSchemaChange: SchemaChange = SchemaChange.Ignore) extends Materialization {
    require(grain == "day" || grain == "month", s"unsupported grain '$grain'")
    require(lookback >= 0, "lookback must be >= 0")
  }

  object Microbatch {
    /** Synthetic event-time batch partition column; reserved. */
    val BatchCol = "_graft_batch_start"
  }

  /** dbt's `on_schema_change` policy for [[IncrementalAppend]] models. */
  sealed trait SchemaChange
  object SchemaChange {
    /** Target schema frozen at first build: new batch columns dropped,
      * stored columns missing from the batch appended as nulls. */
    case object Ignore extends SchemaChange
    /** Target schema evolves: new batch columns are appended (prior
      * rows read as null for them via parquet schema merge — history is
      * never rewritten); stored columns missing from the batch append
      * as nulls. */
    case object AppendNewColumns extends SchemaChange
    /** Any column-set difference between batch and target fails the
      * build (surfaces upstream contract breaks instead of absorbing
      * them). */
    case object Fail extends SchemaChange
  }

  /** SCD2 snapshot (dbt snapshot block): the model's build result is the
    * current truth (one row per key); materialization merges it against
    * the prior snapshot state via [[Snapshot.merge]] at the build's
    * `batchTs`. Reference: `snapshots/snap_accounts.sql:3-11`. */
  final case class Scd2Snapshot(key: String, checkCols: Seq[String]) extends Materialization
}

/** Column-level / singular data checks, dbt-test-protocol: a check compiles
  * to a DataFrame of VIOLATING rows; pass ⇔ empty. Reference:
  * `models/staging/schema.yml` and the singular tests under `tests/`
  * (SURVEY.md §2.11).
  *
  * A check may reference OTHER models through the resolver (second
  * argument) — dbt's `relationships` test and the singular tests under
  * `tests/` are cross-model queries (`facts/schema.yml:10-26`,
  * `tests/test_account_month_ties_subscription_month.sql`).
  *
  * @param refs the models the check reads through the resolver, as
  *   declared by its constructor ([[Checks.relationshipsTo]]). The build
  *   runs the node after each of them that is in the same build, so the
  *   check reads the parent's generation of THIS build. Ordering only: a
  *   red parent does not skip the node.
  */
final case class Check(
    name: String,
    violationsWithRefs: (DataFrame, String => DataFrame) => DataFrame,
    refs: Seq[String] = Nil) {
  /** Single-model form for tests/specs that have no resolver. */
  def violations(df: DataFrame): DataFrame =
    violationsWithRefs(df, n => throw new IllegalArgumentException(
      s"check '$name' needs ref '$n' but no resolver was provided"))
}

object Check {
  def apply(name: String, violations: DataFrame => DataFrame): Check =
    new Check(name, (df, _) => violations(df))
}

/** dbt 1.8 unit test (`unit_tests:` — reference `README.md:158-160`'s
  * "does my model produce expected outputs? (dbt unit tests)"): run a
  * model's BUILD LOGIC against declarative fixture rows instead of real
  * upstream state, compare to expected rows, BEFORE the model
  * materializes — a failing unit test gates the node (and its
  * downstream) exactly like a failing data test, but costs fixture-rows
  * work instead of a warehouse scan.
  *
  * @param given  fixture DataFrame per ref name the build reads; a ref
  *               the build requests but `given` lacks fails the test
  *               loudly (dbt requires fixtures for every input)
  * @param expect expected output rows. Comparison is multiset equality
  *               (order-insensitive, duplicates counted) over EXACTLY
  *               `expect`'s columns — naming a subset checks just those
  *               columns, dbt's partial-expect idiom. Fixture values are
  *               cast to the model's actual output types first, so a
  *               `Seq(...).toDF` int fixture matches a bigint column.
  */
final case class UnitTest(
    name: String,
    model: String,
    given: Map[String, DataFrame],
    expect: DataFrame)

/** One node of the warehouse DAG: the Spark analogue of a dbt model.
  * The build function is pure from resolved upstream DataFrames to this
  * model's DataFrame — testable with no I/O (SURVEY.md §7.1).
  *
  * Incremental models additionally receive their own persisted target
  * (dbt's `{{ this }}` + `is_incremental()`, reference
  * `fct_subscription_month.sql:14-22`) to compute a restatement window;
  * `None` on the first run.
  *
  * @param deps upstream model/source names (the `ref()`/`source()` edges,
  *             e.g. `int_subscriptions_current.sql:8`)
  */
final class Model(
    val name: String,
    val deps: Seq[String],
    val materialization: Materialization,
    val checks: Seq[Check],
    val buildFn: (SparkSession, String => DataFrame, Option[DataFrame]) => DataFrame,
    /** dbt model CONTRACT (`contract: enforced` + per-column
      * `data_type`): declared (column, Spark `simpleString` type) pairs
      * the build output must match EXACTLY — same column set, same
      * types — checked BEFORE materializing, so a producer-side change
      * fails the node instead of silently rewriting the table's shape
      * for every consumer. Empty = no contract (dbt's default). */
    val contract: Seq[(String, String)] = Nil,
    /** Declared logic version, the `state:modified` change signal for
      * the build FUNCTION itself: Scala closures have no stable content
      * hash across compilations (dbt diffs SQL text; there is no text
      * here), so a logic change that alters none of the declared shape
      * (deps/materialization/checks/contract) is announced by bumping
      * this. Shape changes are fingerprinted automatically. */
    val version: Int = 0,
    /** dbt pre-hooks: named side actions run INSIDE the node's slot,
      * after unit tests gate but before materialization (dbt runs them
      * in the model's transaction). A throwing hook fails the node with
      * status "error" and blocks downstream. `ref` resolves upstream
      * state; the model's own target only exists if a prior build made
      * it. */
    val preHooks: Seq[Hook] = Nil,
    /** dbt post-hooks: run right after materialization, before the
      * check pass — the audit-row / grant / cache-pin slot. `ref(name)`
      * sees the freshly materialized target. */
    val postHooks: Seq[Hook] = Nil) {
  /** Non-incremental view of the build (views, specs). */
  def build(spark: SparkSession, ref: String => DataFrame): DataFrame =
    buildFn(spark, ref, None)
}

/** A named pre/post-hook (dbt `pre-hook:`/`post-hook:`). A Scala
  * function rather than a SQL string: on Spark the realistic hook
  * effects are engine-side (audit appends, cache pins, catalog ops),
  * and a function composes with `ref` — a SQL-string hook is just
  * `Hook(n, (s, _) => { s.sql(text); () })` when wanted. */
final case class Hook(name: String,
    run: (SparkSession, String => DataFrame) => Unit)

/** dbt exposure: a DECLARED downstream consumer (dashboard, notebook,
  * ML job) outside the DAG — documentation that participates in
  * selection (`+exposure:name` builds everything the consumer needs)
  * and lands in manifest.json for lineage tooling. */
final case class Exposure(name: String, dependsOn: Seq[String],
    owner: String = "", url: String = "")

object Model {
  def apply(
      name: String,
      deps: Seq[String],
      materialization: Materialization,
      checks: Seq[Check] = Nil,
      contract: Seq[(String, String)] = Nil,
      version: Int = 0,
      preHooks: Seq[Hook] = Nil,
      postHooks: Seq[Hook] = Nil)(
      build: (SparkSession, String => DataFrame) => DataFrame): Model =
    new Model(name, deps, materialization, checks, (s, r, _) => build(s, r),
      contract, version, preHooks, postHooks)

  /** dbt seed: a version-controlled CSV materialized as a table — the
    * small reference data (currency codes, country maps, test fixtures)
    * a project checks in next to its models. Header + type inference
    * like the reference's loader, WITHOUT lineage stamping (a seed is
    * declared data, not an ingested feed — dbt seeds carry no
    * ingested_at either); `columnTypes` pins dialect-sensitive columns
    * (dbt's `seeds: +column_types:`). Rebuilt in full every build, like
    * `dbt seed`. */
  def seed(
      name: String,
      csvPath: String,
      columnTypes: Map[String, String] = Map.empty,
      checks: Seq[Check] = Nil): Model =
    Model(name, Seq(), Materialization.Table, checks) { (s, _) =>
      val raw = s.read.option("header", "true")
        .option("inferSchema", "true").csv(csvPath)
      columnTypes.foldLeft(raw) { case (df, (c, t)) =>
        df.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
      }
    }

  /** Model whose build sees its own prior target (`{{ this }}`). */
  def incremental(
      name: String,
      deps: Seq[String],
      materialization: Materialization,
      checks: Seq[Check] = Nil,
      contract: Seq[(String, String)] = Nil,
      version: Int = 0)(
      build: (SparkSession, String => DataFrame, Option[DataFrame]) => DataFrame): Model =
    new Model(name, deps, materialization, checks, build, contract, version)
}
