package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** A `ref()` that resolves to no source or model. */
final class UnknownRefException(val refName: String)
  extends IllegalArgumentException(s"unknown ref '$refName'")

/** Outcome of one node in a build (≈ one line of `dbt build` output).
  *
  * @param shuffleBytes shuffle bytes WRITTEN by this node's
  *   materialization jobs (Σ exchange payloads — see
  *   [[ShuffleBytesListener]]); −1 where nothing was materialized
  *   (views, skipped nodes). This is the measured counterpart to every
  *   "one exchange" claim in the model scaladocs: a bucketed-input
  *   consumer should show ~0 here while the bucketed write upstream
  *   pays the shuffle once.
  * @param maxFilesPerPartition small-files debt of a partitioned
  *   model's storage (IncrementalAppend, DeleteInsert, Microbatch,
  *   MergeUpsert) AFTER this build ([[Engine.maxFilesPerPartition]]; for
  *   an append-only model ≈ builds-since-last-compaction, for the
  *   rewrite kinds 1 under the write-layout rule) — surfaced per build
  *   so CI watches layout debt from the artifact instead of re-listing
  *   the store; −1 for every other materialization. */
final case class NodeResult(
    name: String,
    status: String, // "ok" | "test_failed" | "unit_test_failed" | "skipped_upstream" | "error"
    rows: Long,
    failedChecks: Seq[String] = Nil,
    error: Option[String] = None,
    shuffleBytes: Long = -1L,
    elapsedMs: Long = -1L,
    maxFilesPerPartition: Int = -1)

final case class BuildReport(results: Seq[NodeResult]) {
  def ok: Boolean = results.forall(_.status == "ok")
  def apply(name: String): NodeResult = results.find(_.name == name).get
}

/** The warehouse runtime: model registry + DAG scheduler + materializer —
  * the Spark re-expression of dbt-core's parse/compile/materialize/test
  * lifecycle (SURVEY.md §3.2) minus Jinja (models are plain Scala).
  *
  * Storage: one parquet directory per materialized model under
  * `warehouseDir` ("<dir>/<model>"). Sources are caller-provided
  * DataFrames. Refs resolve materialized models by re-reading their
  * parquet (so a downstream node sees exactly the persisted bytes, as dbt
  * does) and View models by re-composing their logical plan (Catalyst
  * fuses them into the consumer — column pruning/predicate pushdown reach
  * through, SURVEY.md §4).
  *
  * Scale posture: every node's work is a distributed Spark job; nothing
  * is collected except incremental watermarks (single scalar).
  * `DeleteInsert` models write with dynamic partition overwrite so a
  * 100 TB fact restates only the window's partitions. The driver
  * dispatches independent DAG branches concurrently (dbt's `threads:`,
  * one worker per core of the session by default — see [[build]]): a
  * DAG of many small nodes is bound by per-job scheduling cost, which
  * overlapping branches hides.
  */
final class Engine(
    spark: SparkSession,
    warehouseDir: String,
    sources: Map[String, DataFrame],
    models: Seq[Model],
    /** dbt's `store_failures`: when true, every failing check's
      * VIOLATION rows are persisted to
      * `warehouseDir/_test_failures/<model>__<check>` (overwritten per
      * build) so a red test is auditable from storage without re-running
      * the query. Off by default, like dbt — the write costs one extra
      * job per failing check, and only failing checks pay it. */
    val storeFailures: Boolean = false,
    /** dbt 1.8 unit tests: run PRE-build against fixture rows; a failing
      * unit test fails the node before it materializes and blocks its
      * transitive downstream (see [[UnitTest]]). */
    val unitTests: Seq[UnitTest] = Nil,
    /** Test-history trend log (the reference README:162's "ongoing
      * monitoring/observability … test history" — what Elementary layers
      * onto dbt): when true, every check and unit test appends one
      * strict-JSON line per build to
      * `warehouseDir/_audit/test_history.jsonl` (model, check, kind,
      * status, violation count, wall ms, batch ts), ACCUMULATING across
      * builds so trends are queryable from storage. Off by default: the
      * trend log needs exact violation counts, which upgrades a green
      * check's short-circuit `isEmpty` probe to a full `count()`. */
    val testHistory: Boolean = false,
    /** dbt exposures: declared downstream consumers — manifest entries
      * that participate in selection (`[+]exposure:name`). */
    val exposures: Seq[Exposure] = Nil) {

  import Engine.{rewrite, writeCounted, writePartitioned}

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")
  exposures.foreach { e =>
    val unknown = e.dependsOn.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"exposure '${e.name}' depends on unknown model(s): ${unknown.mkString(", ")}")
  }
  private val exposureByName: Map[String, Exposure] =
    exposures.map(e => e.name -> e).toMap
  require(exposureByName.size == exposures.size, "duplicate exposure names")
  // a unit test naming an unknown model would otherwise silently never
  // run (execNode filters by name, selection drops it) — the opposite
  // of dbt, which errors on a unit test referencing an unknown model
  locally {
    val unknown = unitTests.map(_.model).distinct.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unit test(s) reference unknown model(s): ${unknown.mkString(", ")}")
  }

  private def path(name: String): String = s"$warehouseDir/$name"

  /** Catalog home for [[Materialization.BucketedTable]] models — bucket
    * metadata only exists in the catalog, and scoping the database to the
    * warehouse dir keeps same-named models of two engines apart. The name
    * is a 64-bit MD5 prefix of the CANONICAL path: `String.hashCode`'s 32
    * bits collide across warehouses plausibly often, and a collision
    * would let one engine `DROP` the other's tables. */
  private lazy val bucketDb: String = {
    val canon = java.nio.file.Paths.get(warehouseDir)
      .toAbsolutePath.normalize.toString
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
    "graft_" + md5.take(8).map("%02x".format(_)).mkString
  }
  private def bucketTable(name: String): String = s"$bucketDb.$name"
  private def isBucketed(name: String): Boolean = byName.get(name).exists(
    _.materialization.isInstanceOf[Materialization.BucketedTable])
  private def exists(name: String): Boolean = {
    // Recover-before-touch: a compact/expireBefore swap torn between its
    // two renames leaves (dir missing, .old = the only generation). An
    // unhealed exists() would answer FALSE, the next build would take
    // the first-write overwrite branch — resurrecting tombstone-deleted
    // and expired rows and losing the restated frontier marker — and the
    // recreated target would make the NEXT swap's .old cleanup destroy
    // the surviving generation. Heal first; no-op in healthy states.
    DirSwap.recover(path(name))
    // A root _SUCCESS marker means the last full write committed.
    // Dynamic-partition-overwrite writes create no root marker, so
    // committed `part-*` data files also count — but a directory torn by
    // a crashed write (an in-flight staging dir, or no data file at all)
    // must NOT count as materialized: the next build has to take the
    // rebuild branch, not incremental-append onto a corrupt target.
    // Committed data = any part-* outside hidden/metadata paths — the
    // EXACT rule Spark's own reads apply: '.'-prefixed always hidden,
    // '_'-prefixed hidden only when the name has no '=' (so partition
    // dirs like `_graft_bucket=0` are DATA while `_temporary/` and
    // `.spark-staging-*` contents stay out). Stop at the FIRST hit: at
    // 100 TB a model dir holds millions of part files, and this
    // predicate runs per model per build — a full driver-side tree walk
    // here would dwarf the planning it gates.
    def hasPart(fs: Array[java.io.File]): Boolean = fs.exists { f =>
      val n = f.getName
      if (n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
        false
      else if (f.isDirectory) {
        val sub = f.listFiles
        sub != null && hasPart(sub)
      } else n.startsWith("part-")
    }
    val rootFiles = new java.io.File(path(name)).listFiles
    if (rootFiles == null) return false // not a directory
    if (Files.exists(Paths.get(path(name), "_SUCCESS"))) {
      // _SUCCESS alone is NOT enough: a zero-row PARTITIONED first
      // write commits the marker with no data file at all (Spark emits
      // no schema-bearing part for empty partitioned output), leaving a
      // target every later incremental read bricks on ("unable to infer
      // schema"). Such a dir must count as NOT materialized so the next
      // build retakes the bootstrap branch. (A zero-row NON-partitioned
      // write emits a footer-only part file, so it still counts.)
      return hasPart(rootFiles)
    }
    // Both committers stage at the ROOT of the write path:
    // FileOutputCommitter under `_temporary/`, dynamic-partition-overwrite
    // under `.spark-staging-<jobId>/`. Either present without a
    // committed _SUCCESS ⇒ torn first write. (part-* files INSIDE a
    // staging dir are uncommitted and must not count — the hidden-dir
    // skip in hasPart keeps them out of the data scan too.)
    if (rootFiles.exists { f =>
        f.getName == "_temporary" || f.getName.startsWith(".spark-staging")
      }) return false
    hasPart(rootFiles)
  }

  /** The models of this build a node runs after: its deps plus the
    * models its checks read ([[Check.refs]]). A check ref orders the
    * node and nothing else: only a red DEP skips it. */
  private def runsAfter(m: Model): Seq[String] =
    (m.deps ++ m.checks.flatMap(_.refs)).distinct
      .filter(d => d != m.name && byName.contains(d))

  /** Kahn topological order over [[runsAfter]]; fails fast on cycles or
    * unknown refs. */
  private[engine] def topoOrder: Seq[String] = {
    for (m <- models; d <- m.deps if !byName.contains(d) && !sources.contains(d))
      throw new IllegalArgumentException(s"model ${m.name}: unknown ref '$d'")
    val indeg = mutable.Map(models.map(m => m.name -> 0): _*)
    val out = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    for (m <- models; d <- runsAfter(m)) { indeg(m.name) += 1; out(d) ::= m.name }
    val q = mutable.Queue(models.map(_.name).filter(indeg(_) == 0).sorted: _*)
    val order = mutable.ArrayBuffer.empty[String]
    while (q.nonEmpty) {
      val n = q.dequeue(); order += n
      for (c <- out(n).sorted) { indeg(c) -= 1; if (indeg(c) == 0) q.enqueue(c) }
    }
    if (order.size != models.size)
      throw new IllegalArgumentException(
        s"cycle among: ${models.map(_.name).diff(order).mkString(", ")}")
    order.toSeq
  }

  /** SCD2 snapshots store two slices under the model dir: `closed/` is
    * APPEND-ONLY immutable history, `open/` (one row per live key) is the
    * only part a batch rewrites — so snapshot write cost is
    * O(open + changed), not O(history) (SURVEY §7.4; at 100 TB the closed
    * partition would dwarf every batch's delta). */
  private def openPath(name: String): String = s"${path(name)}/open"
  private def closedPath(name: String): String = s"${path(name)}/closed"
  private def snapExists(name: String): Boolean = {
    // open/ is swap-managed (rewrite); heal a torn swap before the
    // marker check — see exists() for the hazard chain
    DirSwap.recover(openPath(name))
    Files.exists(Paths.get(openPath(name), "_SUCCESS"))
  }
  private def isSnapshot(name: String): Boolean = byName.get(name).exists(
    _.materialization.isInstanceOf[Materialization.Scd2Snapshot])
  private def readSnapshot(name: String): DataFrame = {
    // closed/ became swap-managed when expireSnapshotHistory shipped: a
    // crash between ITS two renames leaves only closed.old. Unhealed,
    // this read silently answers as-of queries with the entire closed
    // history missing — and worse, the next snapshot build would
    // recreate closed/ from just its own batch's rows, after which the
    // next expire's .old cleanup destroys the real history forever
    // (closed history is accumulated state, NOT rebuildable from
    // sources). Same contract for open/ (swap-managed by rewrite).
    DirSwap.recover(openPath(name))
    DirSwap.recover(closedPath(name))
    val open = spark.read.parquet(openPath(name))
    if (Files.exists(Paths.get(closedPath(name))))
      open.unionByName(spark.read.parquet(closedPath(name)))
    else open
  }

  /** A model's own persisted state, if any — what dbt's
    * `is_incremental()` + `{{ this }}` expose (reference
    * `fct_subscription_month.sql:14-22`): lets an incremental model
    * compute its restatement window from the current target.
    *
    * Under `fullRefresh` an INCREMENTAL model sees no prior state —
    * dbt's `--full-refresh` semantics (`is_incremental()` returns
    * false; the table is rebuilt from scratch, reference
    * `README.md:115`). Snapshots are deliberately exempt, as in dbt:
    * SCD2 history is the one state a rebuild cannot reconstruct. */
  def targetIfExists(name: String, fullRefresh: Boolean = false): Option[DataFrame] =
    if (isSnapshot(name)) {
      if (snapExists(name)) Some(readSnapshot(name)) else None
    } else if (fullRefresh && byName.get(name).exists(m =>
        m.materialization.isInstanceOf[Materialization.IncrementalAppend] ||
        m.materialization.isInstanceOf[Materialization.DeleteInsert] ||
        m.materialization.isInstanceOf[Materialization.MergeUpsert] ||
        m.materialization.isInstanceOf[Materialization.Microbatch])) None
    else if (exists(name)) Some(
      // A model's own `{{ this }}` view keeps a merge model's bucket
      // column (unlike ref()): a layout-aware incremental build — e.g.
      // merge-maintained aggregate state — prunes its prior-side read
      // to the delta's buckets by filtering on it (planning-time
      // directory pruning), which a consumer-facing ref never needs.
      if (byName.get(name).exists(
          _.materialization.isInstanceOf[Materialization.MergeUpsert]))
        readEvolved(name)
      else consumerView(name))
    else None

  /** Heal a merge model's bucket dirs after a crash mid-commit: each
    * touched bucket is swapped individually (DirSwap.replace), so a torn
    * swap leaves either (bucket missing, bucket.old = only generation) —
    * rename it back — or (bucket committed, obsolete .old leftover) —
    * delete it, both because it is dead weight and because an unparsable
    * `bucket=N.old` dir name would poison partition-type discovery.
    * A crash before the swap loop's cleanup also strands the `.merge`
    * staging dir — deleted here so it cannot linger until the next merge
    * build happens to overwrite it (safe: the staging dir is only live
    * inside THIS model's own materialize call, and builds of one model
    * never run concurrently with its reads).
    *
    * CONTRACT — per-bucket atomicity, not cross-bucket: each bucket is
    * atomically old-or-new generation, but a crash mid-loop commits a
    * MIXED-generation table (some buckets new, some old) that this heal
    * preserves as-is. For merge upsert that torn state is self-repairing,
    * not corrupt: every bucket is a valid generation, keys never move
    * buckets (hash-bucketed), and the next build re-reads staging +
    * re-merges the touched buckets. Cross-bucket all-or-nothing would
    * need a generation manifest (a table-format commit log) — deliberate
    * non-goal for a filesystem-parquet warehouse.
    * No-op in healthy states; called before every merge-model read. */
  private def healMergeBuckets(name: String): Unit = {
    Option(new java.io.File(path(name)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.endsWith(".old"))
      .foreach { old =>
        val target = old.getPath.stripSuffix(".old")
        if (!DirSwap.recover(target)) DirSwap.deleteRecursively(old.getPath)
      }
    val stage = new java.io.File(path(name) + ".merge")
    if (stage.isDirectory) DirSwap.deleteRecursively(stage.getPath)
  }

  /** Parquet read of a model dir, with footer schema merging exactly
    * when the model's materialization can have EVOLVED its schema
    * (AppendNewColumns): older generations lack the evolved columns, and
    * a single-footer read would surface a generation-dependent schema.
    * Resolved through the session [[Resolver]] (README, "Read resolution
    * and staleness"), which serves one frame per committed generation.
    * Heal-before-read runs on every read, before the listing is
    * fingerprinted — the crash-heal-on-read contract (EngineSpec's
    * torn-swap tests). */
  private def readEvolved(name: String): DataFrame = {
    DirSwap.recover(path(name))
    if (byName.get(name).exists(
        _.materialization.isInstanceOf[Materialization.MergeUpsert]))
      healMergeBuckets(name)
    val evolving = byName.get(name).map(_.materialization).exists {
      case m: Materialization.IncrementalAppend =>
        m.onSchemaChange == Materialization.SchemaChange.AppendNewColumns
      case m: Materialization.DeleteInsert =>
        m.onSchemaChange == Materialization.SchemaChange.AppendNewColumns
      case m: Materialization.MergeUpsert =>
        m.onSchemaChange == Materialization.SchemaChange.AppendNewColumns
      case m: Materialization.Microbatch =>
        m.onSchemaChange == Materialization.SchemaChange.AppendNewColumns
      case _ => false
    }
    Resolver(spark).read(path(name), mergeSchema = evolving)
  }

  /** Consumer view of a materialized model: merge models hide their
    * synthetic key-hash bucket column — it is storage layout, not data
    * (neither `ref()` nor the model's own `{{ this }}` should see it). */
  private def consumerView(name: String): DataFrame = {
    val raw = readEvolved(name)
    byName.get(name).map(_.materialization) match {
      case Some(_: Materialization.MergeUpsert) =>
        raw.drop(Materialization.MergeUpsert.BucketCol)
      case Some(_: Materialization.Microbatch) =>
        raw.drop(Materialization.Microbatch.BatchCol)
      case _ => raw
    }
  }

  /** Resolve a ref the way a downstream model sees it. */
  def ref(name: String): DataFrame =
    if (name == "_build_history") buildHistoryDf
    else if (sources.contains(name)) sources(name)
    else byName.get(name) match {
      case Some(m) if m.materialization == Materialization.View =>
        m.build(spark, ref)
      case Some(_) if isSnapshot(name) => readSnapshot(name)
      case Some(_) if isBucketed(name) =>
        // A fresh session over an existing warehouse (or a build resumed
        // after a failure between DROP and re-register) has the parquet
        // files but no catalog entry: fall back to the plain path read —
        // correctness is unchanged, only the bucket-metadata exchange
        // elision is lost until the model's next materialization.
        if (spark.catalog.tableExists(bucketTable(name)))
          spark.table(bucketTable(name))
        else spark.read.parquet(path(name))
      case Some(_) => consumerView(name)
      case None => throw new UnknownRefException(name)
    }

  /** COMPACT an [[Materialization.IncrementalAppend]] model's storage —
    * the maintenance rewrite append-only layouts need at streaming
    * cadence. Every build (or micro-batch, for the streaming writers)
    * appends one file per touched partition, so after B builds a
    * partition directory holds B files and scan cost at 100 TB is
    * dominated by per-file open/footer overhead, not bytes — the
    * classic small-files problem. Compaction rewrites the storage
    * content-identically: one shuffle on the partition columns, exactly
    * one file per partition value, same rows / schema / hive layout
    * (readers, including partition-pruned probes, see no difference —
    * pinned in EngineSpec and IncrementalIvfIndexSpec).
    *
    * `tombstones` additionally applies DELETES during the rewrite: rows
    * whose `keyCol` value (default: the model's watermark column — the
    * right key when the watermark is a unique row id, like `ivf_index`'s
    * `vec_id`; on a TIME-typed watermark the default is an ERROR, not a
    * footgun — keying deletes on a non-unique timestamp would silently
    * drop every row sharing a value, so such models must pass the key
    * column explicitly) appears in the tombstone
    * frame are dropped — physical deletion from an append-only model,
    * the deletion-vector + rewrite lifecycle of production table formats
    * (readers anti-join the same tombstone set at probe time until a
    * compaction retires it). The tombstone set is broadcast-sized by
    * contract: it is bounded by compaction cadence, not corpus size.
    *
    * The scan FRONTIER survives even when the frontier row itself is
    * deleted: the pre-compaction high-water mark is re-stated as a
    * marker row (the [[Incremental]] marker idiom — all columns null
    * except the watermark; null partition columns land in the hive
    * default-partition directory, which no equi-join or
    * cluster-literal probe ever reads), so the next incremental build
    * still appends strictly past the old mark instead of re-ingesting —
    * and resurrecting — deleted history.
    *
    * Crash-safe via write-swap: the rewrite lands in a staging dir and
    * replaces the original only after committing (rename-aside swap —
    * a recoverable copy exists through the whole window). Returns the
    * compacted DATA row count: marker rows — this compaction's AND any
    * earlier compaction's, which are folded into the new frontier
    * rather than accumulated — are excluded. */
  def compact(
      name: String,
      tombstones: Option[DataFrame] = None,
      keyCol: Option[String] = None): Long =
    rewriteAppendOnly(name) { (cur, wm) =>
      // Guard the documented footgun: defaulting the tombstone key to
      // the watermark is only sound when the watermark is a unique row
      // id. A time-typed watermark (timestamp/date) is non-unique by
      // nature — one tombstone value would silently delete EVERY row
      // sharing it — so tombstones against such a model require an
      // explicit keyCol.
      if (tombstones.nonEmpty && keyCol.isEmpty) {
        import org.apache.spark.sql.types.{DateType, TimestampType, TimestampNTZType}
        val wmType = cur.schema(wm).dataType
        require(!Seq(DateType, TimestampType, TimestampNTZType).contains(wmType),
          s"compact($name): tombstones need an explicit keyCol — the watermark " +
            s"'$wm' is $wmType-typed (non-unique), so keying deletes on it would " +
            "drop every row sharing a tombstoned value")
      }
      val key = keyCol.getOrElse(wm)
      data => tombstones.fold(data) { t =>
        data.join(broadcast(t.select(col(key)).distinct()), Seq(key), "left_anti")
      }
    }

  /** RETENTION for an IncrementalAppend model — the event-log TTL the
    * append-only layout needs at 100 TB (compliance horizons; cost
    * bounded to live data): drops data rows whose WATERMARK value is
    * strictly before `cutoff` in the same content-identical
    * one-file-per-partition rewrite as [[compact]] (markers folded,
    * crash-safe swap). The scan FRONTIER survives even when every row
    * expires — the high-water mark is restated as a marker row exactly
    * as under tombstone deletion — so later builds stay delta-only and
    * never re-ingest (and thereby resurrect) expired history. The
    * [[graft.engine.Engine.expireSnapshotHistory]] twin for event logs. */
  def expireBefore(name: String, cutoff: Any): Long =
    rewriteAppendOnly(name) { (_, wm) => data =>
      data.filter(col(wm) >= lit(cutoff))
    }

  /** Shared rewrite core for the append-only maintenance ops
    * ([[compact]] / [[expireBefore]]): read the model, split marker
    * rows out, apply `drop`'s row filter, restate the frontier as a
    * marker when the kept rows no longer carry it, and swap in the
    * one-file-per-partition rewrite. `drop` sees the full current frame
    * first (for schema-dependent validation) and returns the row
    * filter. */
  private def rewriteAppendOnly(name: String)(
      drop: (DataFrame, String) => DataFrame => DataFrame): Long = {
    val m = byName(name)
    val (wm, pcols) = m.materialization match {
      case Materialization.IncrementalAppend(w, p, _, _) => (w, p)
      case other => throw new IllegalArgumentException(
        s"compact: ${m.name} is ${other.getClass.getSimpleName}, not IncrementalAppend")
    }
    DirSwap.recover(path(name)) // heal a swap torn mid-rename before reading
    // mergeSchema: an AppendNewColumns model's older generations lack
    // the evolved columns — a single-footer read would silently DROP
    // them from the rewrite
    val cur = spark.read.option("mergeSchema", "true").parquet(path(name))
    val dropFn = drop(cur, wm)
    // frontier over EVERYTHING, marker rows included — a prior
    // compaction's marker may itself hold the high-water mark
    val hwmRow = cur.agg(max(col(wm))).first()
    val oldHwm: Any = if (hwmRow.isNullAt(0)) null else hwmRow.get(0)
    // marker rows (the Incremental idiom: every column null except the
    // watermark) are split out — the rewrite re-derives ONE marker from
    // the frontier instead of carrying markers from every past
    // compaction forward, and they never count as data rows
    val nonWm = cur.schema.fieldNames.toSeq.filterNot(_ == wm)
    val markerPred = nonWm.map(col(_).isNull)
      .reduceOption(_ && _).getOrElse(lit(false))
    val data = cur.filter(!markerPred)
    val kept = dropFn(data)
    // one pass: the post-delete frontier (decides the marker) + row count
    val stat = kept.agg(max(col(wm)), count(lit(1))).first()
    val newHwm: Any = if (stat.isNullAt(0)) null else stat.get(0)
    // deletes only remove rows, so max(wm) can only drop: inequality ⇒
    // the frontier row was deleted (or lives only in a prior marker) and
    // its mark must be restated (any orderable watermark type)
    val out =
      if (oldHwm != null && oldHwm != newHwm)
        kept.unionByName(kept.sparkSession.range(1).select(
          cur.schema.fields.toSeq.map { f =>
            (if (f.name == wm) lit(oldHwm) else lit(null).cast(f.dataType)).as(f.name)
          }: _*))
      else kept
    // an unpartitioned model is ONE partition value: a column-less
    // rebalance lets AQE pack it into advisory-size files instead of
    // writing one file per read split, which can stay past the debt
    // threshold and trip a compaction on every later build
    rewrite(if (pcols.isEmpty) out.hint("rebalance") else out, pcols, path(name))
    if (viewsRegistered) registerViews() // refresh pinned file listings
    stat.getLong(1)
  }

  /** Small-files debt of a model's storage: the MAX data file count
    * across its leaf partition directories (the whole dir for an
    * unpartitioned model). Every incremental build appends one file
    * per touched partition, so for an append-only model this is ≈
    * builds-since-last-compaction — the number that decides when
    * [[compact]] is due. A rewrite kind (delete+insert, microbatch,
    * merge) reads 1 under [[writePartitioned]]'s layout rule; more
    * means layout inherited from an older writer. Local-fs listing
    * here; on HDFS/object stores this is the same listing the planner
    * already performs, and table formats expose it as manifest
    * statistics. */
  def maxFilesPerPartition(name: String): Int = {
    def leafCounts(d: java.io.File): Seq[Int] = {
      val (dirs, files) = d.listFiles.toSeq.partition(_.isDirectory)
      val dataFiles = files.count(f => f.getName.endsWith(".parquet"))
      val sub = dirs.flatMap(leafCounts)
      // a mixed layout (data files ALONGSIDE partition dirs) still owes
      // its loose files to the debt count, not just its leaf dirs
      if (sub.isEmpty) Seq(dataFiles)
      else if (dataFiles > 0) dataFiles +: sub
      else sub
    }
    val root = new java.io.File(path(name))
    if (!root.exists) 0 else leafCounts(root).foldLeft(0)(math.max)
  }

  /** CADENCE-POLICY compaction: run [[compact]] only when the model's
    * small-files debt ([[maxFilesPerPartition]]) exceeds `maxFiles` —
    * the engine-owned bound that keeps probe cost tied to bytes, not
    * file-open overhead, without relying on operator discipline. At
    * streaming/build cadence call this after every build: it is a
    * metadata-only listing until the threshold trips, then one
    * partition-shuffle rewrite resets the debt to one file per
    * partition. Returns the compacted data row count when a compaction
    * ran. */
  def compactIfNeeded(
      name: String,
      maxFiles: Int,
      tombstones: Option[DataFrame] = None,
      keyCol: Option[String] = None): Option[Long] =
    if (maxFilesPerPartition(name) > maxFiles)
      Some(compact(name, tombstones, keyCol))
    else None

  /** RETENTION for an SCD2 snapshot's closed history — the lifecycle
    * op the append-only `closed/` slice needs: history grows forever by
    * design (every superseded version appends one immutable row), and
    * at 100 TB compliance/retention policies bound how far back closed
    * versions may be kept. Drops closed rows whose `dbt_valid_to` is
    * strictly BEFORE `cutoff` — rows that stopped being current before
    * the horizon; the open slice (live truth) and any closed row still
    * valid into the horizon are untouched, so every as-of query at or
    * after `cutoff` still answers exactly as before (as-of queries past
    * the horizon are the semantics being retired). One pruned rewrite
    * of `closed/` via the crash-safe rename-aside swap; returns the
    * retained closed-row count. Snapshot builds remain delta-only
    * afterwards: the merge never reads `closed/`, so retention and
    * ingestion compose without coordination. */
  def expireSnapshotHistory(name: String, cutoff: java.sql.Timestamp): Long = {
    val m = byName(name)
    require(m.materialization.isInstanceOf[Materialization.Scd2Snapshot],
      s"expireSnapshotHistory: ${m.name} is not an Scd2Snapshot")
    val dir = closedPath(name)
    // recover BEFORE the existence check: in the torn state (dir
    // missing, .old the only generation) the unhealed check would
    // answer "no history" and skip the heal entirely
    DirSwap.recover(dir)
    if (!Files.exists(Paths.get(dir))) return 0L
    val n = rewrite(
      spark.read.parquet(dir).filter(col(Snapshot.ValidTo) >= lit(cutoff)), Nil, dir)
    if (viewsRegistered) registerViews()
    n
  }

  /** Apply the model's `on_schema_change` policy to an append delta —
    * dbt's incremental schema contract, decided against the target's
    * CURRENT (merged) schema so evolution composes across builds. Only
    * column SETS evolve; a type change of an existing column is an
    * upstream contract break and fails here under EVERY policy —
    * appending it as-is would produce mixed-type parquet footers that
    * single-footer reads surface nondeterministically. Fast path:
    * identical column sets (post type-check) touch nothing. */
  private def alignSchema(name: String, delta: DataFrame,
      policy: Materialization.SchemaChange,
      requiredCols: Seq[String],
      partitionCols: Seq[String] = Seq.empty): DataFrame = {
    import Materialization.SchemaChange._
    val batchCols = delta.columns.toSet
    // Ignore/Fail freeze the schema at first build, so every file
    // shares it and the single-footer read is exact; only an EVOLVING
    // model pays the all-footers merge (bounded by compaction cadence —
    // the rewrite collapses generations back to few files)
    // readEvolved applies the same policy-conditional footer merge (the
    // model's declared on_schema_change IS `policy` at every call site)
    // and memoizes the resolution, so this costs no extra job when the
    // target was already read this build
    val stored = readEvolved(name).schema
    val storedCols = stored.map(_.name).toSet
    // type-drift guard BEFORE the fast path (identical column sets can
    // still carry a drifted type); checked against every existing column
    // the batch shares with the target, under all three policies.
    // Structural compare ignoring nullability (a non-null batch column
    // appending into a nullable stored one is widening, not drift);
    // hive PARTITION columns are exempt — their stored type comes from
    // directory-name inference (a long batch_id reads back int), a
    // storage round-trip artifact, not an upstream contract break.
    val batchTypes = delta.schema.map(f => f.name -> f.dataType).toMap
    val pcolSet = partitionCols.toSet
    val drifted = stored.collect {
      case f if !pcolSet(f.name) && batchTypes.get(f.name).exists(
          !org.apache.spark.sql.types.DataType.equalsStructurally(
            _, f.dataType, ignoreNullability = true)) =>
        s"${f.name} (stored ${f.dataType.simpleString}, " +
          s"batch ${batchTypes(f.name).simpleString})"
    }
    require(drifted.isEmpty,
      s"$name: batch column type(s) drifted from the stored schema — " +
        s"${drifted.mkString("; ")}; no on_schema_change policy absorbs a " +
        "type change (cast upstream or --full-refresh)")
    if (batchCols == storedCols) return delta
    val required = requiredCols.toSet
    require(required.subsetOf(batchCols),
      s"$name: batch is missing watermark/partition column(s) " +
        s"${(required -- batchCols).mkString(", ")} — no schema policy absorbs those")
    policy match {
      case Fail => throw new IllegalStateException(
        s"$name: on_schema_change=Fail and the batch schema differs from the " +
          s"target (new: ${(batchCols -- storedCols).toSeq.sorted.mkString(", ")}; " +
          s"missing: ${(storedCols -- batchCols).toSeq.sorted.mkString(", ")})")
      case Ignore =>
        delta.select(stored.map(f =>
          if (batchCols(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      case AppendNewColumns =>
        val newCols = delta.columns.filterNot(storedCols)
        delta.select((stored.map(f =>
          if (batchCols(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)) ++ newCols.map(col)): _*)
    }
  }

  /** Materialize one model per its strategy; returns the rows WRITTEN by
    * this build (dbt's "rows affected": appended rows for incremental
    * append, the restated window for delete+insert, open+newly-closed for
    * snapshots; -1 for View models — a view is an unmaterialized plan, and
    * running `count()` on it would pay its full cost once per build on top
    * of what each consumer already pays; dbt likewise reports no row count
    * for views). */
  private def materialize(m: Model, batchTs: java.sql.Timestamp,
      fullRefresh: Boolean = false): Long = {
    // frozen-artifact skip BEFORE the buildFn runs: a TrainOnceTable
    // whose target exists costs zero jobs on this build — not even the
    // buildFn's eager construction work (driver-side collects) runs.
    if (m.materialization == Materialization.TrainOnceTable &&
        !fullRefresh && exists(m.name)) return 0L
    val seed = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.types.StructType]()
    val n = materializeInner(m, batchTs, fullRefresh, seed)
    // SUCCESS-only writer-side schema seed: the engine knows exactly what
    // a read-back of the layout it just committed infers, so the first
    // post-write resolution launches no footer-inference job. A failed
    // write never reaches this line, so a partial dir is re-inferred.
    Option(seed.get).foreach(s => Resolver(spark).seed(path(m.name), s))
    n
  }

  /** Record the written schema for the post-write seed when the layout
    * is inference-stable: unpartitioned, or every partition column of a
    * type whose directory-value inference round-trips exactly (int and
    * date — a long would read back int when its values fit, a string
    * could read back as anything). Column order: data columns first in
    * written order, partition columns appended — what discovery yields. */
  private def recordSeed(
      seed: java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.types.StructType],
      written: org.apache.spark.sql.types.StructType,
      pcols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{DateType, IntegerType}
    val ok = pcols.forall(p => written.find(_.name == p).map(_.dataType).exists {
      case IntegerType | DateType => true
      case _ => false
    })
    if (ok) {
      val data = written.fields.filterNot(f => pcols.contains(f.name))
      val parts = pcols.flatMap(p => written.fields.find(_.name == p))
      seed.set(org.apache.spark.sql.types.StructType(data ++ parts))
    }
  }

  private def materializeInner(m: Model, batchTs: java.sql.Timestamp,
      fullRefresh: Boolean,
      seed: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.types.StructType]): Long = {
    val prior = targetIfExists(m.name, fullRefresh)
    val df = m.buildFn(spark, ref, prior)
    // dbt model contract (`contract: enforced`): the build output's
    // column set and types must match the declaration EXACTLY, checked
    // against the ANALYZED schema before any write — a producer-side
    // drift fails this node here instead of rewriting the table's shape
    // under every consumer. Pure metadata, no job runs.
    if (m.contract.nonEmpty) {
      val actual = df.schema.map(f => f.name -> f.dataType.simpleString)
      val actualNames = actual.map(_._1).toSet
      val declaredNames = m.contract.map(_._1).toSet
      val missing = m.contract.collect {
        case (n, t) if !actualNames(n) => s"$n $t (missing)" }
      val undeclared = actual.collect {
        case (n, t) if !declaredNames(n) => s"$n $t (undeclared)" }
      val drifted = m.contract.collect {
        case (n, t) if actual.exists(a => a._1 == n && a._2 != t) =>
          s"$n (declared $t, built ${actual.find(_._1 == n).get._2})" }
      val broken = missing ++ undeclared ++ drifted
      require(broken.isEmpty,
        s"${m.name}: contract violation — ${broken.mkString("; ")}")
    }
    m.materialization match {
      case Materialization.View => -1L
      case Materialization.Table | Materialization.TrainOnceTable =>
        val n = writeCounted(df, _.write.mode("overwrite").parquet(path(m.name)))
        recordSeed(seed, df.schema, Nil)
        n
      case Materialization.BucketedTable(key, buckets) =>
        val n = buckets.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        // external table at the model's normal path; DROP clears stale
        // catalog metadata (not the files — overwrite rewrites those).
        // Repartition ON the bucket key first: bucketBy splits each
        // WRITE TASK's rows across all n buckets, so an unaligned
        // upstream (say 1000 executor tasks) would emit up to tasks×n
        // small files; aligning task == bucket pays the one shuffle the
        // materialization exists to amortize and writes exactly n files.
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $bucketDb")
        spark.sql(s"DROP TABLE IF EXISTS ${bucketTable(m.name)}")
        writeCounted(df.repartition(n, col(key)),
          _.write.bucketBy(n, key).sortBy(key)
            .option("path", path(m.name)).mode("overwrite")
            .saveAsTable(bucketTable(m.name)))
      case Materialization.IncrementalAppend(wm, pcols, policy, schemaPolicy) =>
        if (fullRefresh || !exists(m.name)) {
          val n = writePartitioned(df, pcols, path(m.name))
          recordSeed(seed, df.schema, pcols)
          n
        } else {
          // High-water mark: single scalar off parquet min/max footer
          // stats — one artifact of the served prior frame, shared with
          // the buildFn's Incremental.hwm
          val prev = Incremental.maxRow(readEvolved(m.name), wm)
          val delta =
            if (prev.isNullAt(0)) df else df.filter(col(wm) > lit(prev.get(0)))
          val aligned = alignSchema(m.name, delta, schemaPolicy, wm +: pcols, pcols)
          val n = writePartitioned(aligned, pcols, path(m.name), "append")
          recordSeed(seed, aligned.schema, pcols)
          // engine-owned compaction cadence (the streaming loops'
          // maintenanceMaxFiles twin): listing-only until the debt
          // threshold trips; rows stays the APPENDED count (dbt's
          // rows-affected), and execNode reads the POST-maintenance
          // debt into run_results
          policy.foreach(mf => compactIfNeeded(m.name, mf))
          n
        }
      case Materialization.DeleteInsert(pcol, schemaPolicy) =>
        // df is expected to contain ONLY the restatement window's rows
        // (the model's own window predicate, as in the reference's
        // incremental branch). Dynamic overwrite replaces exactly the
        // partitions present in df. The overwrite mode is a PER-WRITER
        // option, not a session-conf mutation: with build(threads>1) two
        // concurrent DeleteInsert nodes would race a set/restore of the
        // shared conf, and a restore-to-static mid-plan turns a window
        // restatement into a full-table overwrite (data loss).
        // Under fullRefresh the build saw prior=None, so df is the FULL
        // history — use a static overwrite so partitions that no longer
        // exist in the recomputed result are dropped too (dbt's
        // --full-refresh drops and recreates the table).
        val mode = if (fullRefresh) "static" else "dynamic"
        val aligned =
          if (fullRefresh || !exists(m.name)) df
          else alignSchema(m.name, df, schemaPolicy, Seq(pcol), Seq(pcol))
        val n = writePartitioned(aligned, Seq(pcol), path(m.name),
          overwriteMode = Some(mode))
        recordSeed(seed, aligned.schema, Seq(pcol))
        n
      case Materialization.Microbatch(ev, grain, lookback, schemaPolicy) =>
        val pcol = Materialization.Microbatch.BatchCol
        require(!df.columns.contains(pcol),
          s"${m.name}: '$pcol' is the microbatch materialization's " +
            "reserved batch column — the build output must not carry it")
        require(df.columns.contains(ev),
          s"${m.name}: microbatch output lacks event_time column '$ev'")
        def withBatch(d: DataFrame) =
          d.withColumn(pcol, date_trunc(grain, col(ev)).cast("date"))
        // initial load / --full-refresh: one static overwrite is
        // output-equivalent to replaying every historical batch
        def initialLoad(): Long = {
          val w = withBatch(df)
          val n = writePartitioned(w, Seq(pcol), path(m.name),
            overwriteMode = Some("static"))
          recordSeed(seed, w.schema, Seq(pcol))
          n
        }
        if (fullRefresh || !exists(m.name)) initialLoad()
        else {
          // frontier = newest stored batch; a partition-column max is a
          // directory-listing read, no data scan. A stored target with
          // ZERO batches (first build saw no rows) has no frontier —
          // everything is "new", same as the initial load.
          val fRow = readEvolved(m.name).agg(max(col(pcol))).first()
          if (fRow.isNullAt(0)) initialLoad()
          else {
            val frontier = fRow.getDate(0).toLocalDate
            val cutoff = java.sql.Date.valueOf(
              if (grain == "month") frontier.minusMonths(lookback.toLong)
              else frontier.minusDays(lookback.toLong))
            val aligned = alignSchema(m.name, withBatch(df), schemaPolicy,
              Seq(ev, pcol), Seq(pcol))
            // Stage the restatement window ONCE, partitioned by batch:
            // each batch job then reads exactly its partition instead of
            // re-running the model's upstream plan per batch (dbt's
            // per-batch input filter, paid as one window-sized write)
            val staging = path(m.name) + ".win"
            writePartitioned(aligned.filter(col(pcol) >= lit(cutoff)),
              Seq(pcol), staging)
            try {
              val win = spark.read.parquet(staging)
              // batches to (re)process: every batch the source has in
              // the window ∪ every batch already stored in it (a stored
              // batch whose restatement is empty must still be
              // deleted). Driver-side list is (lookback + new batches)
              // entries — bounded by the lateness horizon, never by
              // table size.
              val srcBatches = win.select(col(pcol)).distinct()
                .collect().map(_.getDate(0))
              val storedBatches = readEvolved(m.name)
                .select(col(pcol)).distinct()
                .filter(col(pcol) >= lit(cutoff)).collect().map(_.getDate(0))
              val batches = (srcBatches ++ storedBatches).distinct.sortBy(_.getTime)
              // each batch write reads ONE staged partition, already one
              // file by the layout rule: no second exchange
              val total = batches.map { b =>
                val n = writeCounted(win.filter(col(pcol) === lit(b)),
                  _.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(pcol).parquet(path(m.name)))
                if (n == 0L)
                  // dynamic overwrite wrote nothing — the batch's stored
                  // partition (if any) is stale history; remove it
                  DirSwap.deleteRecursively(s"${path(m.name)}/$pcol=$b")
                n
              }.sum
              recordSeed(seed, aligned.schema, Seq(pcol))
              total
            } finally DirSwap.deleteRecursively(staging)
          }
        }
      case Materialization.MergeUpsert(key, nb, schemaPolicy, updateCols) =>
        val bcol = Materialization.MergeUpsert.BucketCol
        require(!df.columns.contains(bcol),
          s"${m.name}: '$bcol' is the merge materialization's reserved " +
            "bucket column — the build output must not carry it")
        require(df.columns.contains(key),
          s"${m.name}: merge delta lacks unique_key column '$key'")
        val bucketed = df.withColumn(bcol, pmod(hash(col(key)), lit(nb)))
        if (fullRefresh || !exists(m.name))
          // create-table-as (dbt's first build / --full-refresh): static
          // overwrite so a refresh drops buckets absent from the rebuild
          writePartitioned(bucketed, Seq(bcol), path(m.name),
            overwriteMode = Some("static"))
        else {
          val aligned = alignSchema(m.name, bucketed, schemaPolicy,
            Seq(key, bcol), Seq(bcol))
          // Stage the delta once: the merge references it three times
          // (uniqueness check, touched-bucket list, anti-join + union),
          // and re-running an arbitrary upstream plan three times is the
          // real cost at scale — one delta-sized write bounds it.
          val staging = path(m.name) + ".delta"
          aligned.write.mode("overwrite").parquet(staging)
          // a prior merge crashed mid-bucket-swap? heal before reading:
          // every bucket dir must be a committed generation, not a torn
          // (missing, .old) pair or an obsolete leftover .old that would
          // poison partition discovery.
          healMergeBuckets(m.name)
          try {
            val delta = spark.read.parquet(staging)
            // ONE pass over the staged delta answers both pre-merge
            // questions (they used to be two jobs): per-bucket max
            // key-multiplicity — >1 for any NON-NULL key is ANSI MERGE's
            // "multiple source rows matched" (null keys never match, so
            // their lumped group counts as 1) — and the touched-bucket
            // list (≤ buckets scalars, bounded by the layout).
            val bucketStats = delta.groupBy(col(bcol), col(key)).count()
              .groupBy(col(bcol))
              .agg(max(when(col(key).isNotNull, col("count"))
                .otherwise(lit(1L))).as("maxk"))
              .collect()
            require(bucketStats.forall(_.getLong(1) <= 1L),
              s"${m.name}: merge delta has duplicate '$key' values — " +
                "ANSI MERGE rejects multiple source rows per target row")
            val touched = bucketStats.map(_.getInt(0)).toSeq
            // partition-pruned read of exactly the touched buckets
            // (readEvolved applies the same policy-conditional footer
            // merge and reuses this build's resolved frame)
            val stored = readEvolved(m.name)
              .filter(col(bcol).isin(touched: _*))
            // displaced = stored rows whose key appears in the delta;
            // EqualTo (not null-safe) keeps ANSI null semantics
            val kept = stored.join(delta.select(col(key)), Seq(key), "left_anti")
            val out =
              if (updateCols.isEmpty) delta.unionByName(kept, allowMissingColumns = true)
              else {
                // merge_update_columns: MATCHED rows keep the stored
                // values everywhere except the listed columns
                val upd = updateCols.toSet
                require(!upd.contains(key) && !upd.contains(bcol),
                  s"${m.name}: merge_update_columns must not list the key/bucket")
                require(upd.subsetOf(delta.columns.toSet) &&
                    upd.subsetOf(stored.columns.toSet),
                  s"${m.name}: merge_update_columns ${updateCols.mkString(",")} " +
                    "must exist on both the delta and the stored target")
                val d = delta.select((key +: updateCols).distinct
                  .map(c => col(c).as(s"_d_$c")): _*)
                val matched = stored.join(d, stored(key) === col(s"_d_$key"))
                  .select(stored.columns.map(c =>
                    (if (upd(c)) col(s"_d_$c") else stored(c)).as(c)): _*)
                val inserts = delta.join(stored.select(col(key)), Seq(key), "left_anti")
                inserts.unionByName(matched, allowMissingColumns = true)
                  .unionByName(kept, allowMissingColumns = true)
              }
            // Crash-safe commit: dynamic partition overwrite deletes the
            // touched buckets at commit time before renaming new files
            // in, and the displaced 'kept' rows were READ FROM those same
            // dirs — a crash inside that window would lose them with no
            // recovery source (the .delta stage holds only the delta).
            // Instead stage the full merged output (delta ∪ kept) to a
            // side dir, then DirSwap each touched bucket dir: every
            // bucket is atomically either the old or the new generation,
            // and a torn swap is healed by healMergeBuckets on the next
            // read/build — the same torn-swap contract compact/replace
            // already honor.
            val mergeStage = path(m.name) + ".merge"
            val n = writePartitioned(out, Seq(bcol), mergeStage)
            try {
              Option(new java.io.File(mergeStage).listFiles())
                .getOrElse(Array.empty)
                .filter(f => f.isDirectory && f.getName.startsWith(s"$bcol="))
                .foreach(b => DirSwap.replace(
                  b.getPath, s"${path(m.name)}/${b.getName}"))
            } finally DirSwap.deleteRecursively(mergeStage)
            n
          } finally DirSwap.deleteRecursively(staging)
        }
      case Materialization.Scd2Snapshot(key, checkCols) =>
        if (!snapExists(m.name)) {
          val (opened, _) =
            Snapshot.mergeDelta(spark, None, df, key, checkCols, batchTs)
          writeCounted(opened, _.write.mode("overwrite").parquet(openPath(m.name)))
        } else {
          // Append-only closed history + swapped open slice: the batch
          // reads ONLY the open rows and writes O(open + changed) rows —
          // immutable closed history is neither read nor rewritten.
          // recover-before-write: appending to a closedPath torn by a
          // crashed expireSnapshotHistory swap would recreate closed/
          // with only this batch's rows and orphan the full history in
          // .old for the next swap's cleanup to destroy (readSnapshot
          // has the read-side twin of this contract)
          DirSwap.recover(closedPath(m.name))
          val prior = spark.read.parquet(openPath(m.name))
          val (openOut, newlyClosed0) = Snapshot.mergeDelta(
            spark, Some(prior), df, key, checkCols, batchTs)
          // closed/ append and open/ swap are TWO separate commits; a
          // crash between them would re-close the same versions on the
          // rerun and permanently DUPLICATE immutable closed history
          // (nothing ever dedups closed/). A `.closing` marker brackets
          // the window: only a rerun that finds the marker pays the
          // recovery work — an open-vs-closed reconcile (below) plus an
          // anti-join dedup against closed/ — a version's identity is
          // (key, ValidFrom) and each version closes at most once — so
          // steady-state batches stay O(open + changed) with zero extra
          // reads. (A crash in the window still costs the torn batch's
          // open/ generation until the rerun — a bounded visibility gap,
          // not corruption; full two-dir atomicity needs a table format
          // with a transaction log.)
          val marker = Paths.get(path(m.name), ".closing")
          val newlyClosed =
            if (Files.exists(marker) &&
                Files.exists(Paths.get(closedPath(m.name)))) {
              // marker-found rerun — RECONCILE closed/ against what the
              // RERUN derives, in both contradiction modes. The torn
              // batch appended closures that never became visible (the
              // open swap didn't commit, so reads kept serving the old
              // open rows); the rerun re-derives each such version's
              // fate from the CURRENT input:
              //  - still open after this merge ⇒ the stale closure is
              //    underivable and must go (else full history holds a
              //    ValidTo'd row whose (key, ValidFrom) twin is open);
              //  - re-closed by this merge ⇒ the rerun's ValidTo is the
              //    one reflecting SERVED reality (the version stayed
              //    visible until this batch), so the stale closure is
              //    dropped and the rerun's appended — keeping the torn
              //    ValidTo would bake a permanent validity hole
              //    [stale VT, rerun VT) into closed history.
              // Either way: drop closed/ rows whose version identity
              // the rerun re-derived (semi-probe first — the atomic
              // rewrite is paid only when a contradiction exists, and
              // only on the rare recovery path), then append the
              // rerun's closures in full.
              val closedPrior = spark.read.parquet(closedPath(m.name))
              val rederived = openOut.select(col(key), col(Snapshot.ValidFrom))
                .unionByName(
                  newlyClosed0.select(col(key), col(Snapshot.ValidFrom)))
              if (!closedPrior.join(rederived, Seq(key, Snapshot.ValidFrom),
                  "left_semi").isEmpty)
                rewrite(
                  closedPrior.join(rederived, Seq(key, Snapshot.ValidFrom),
                    "left_anti"),
                  Nil, closedPath(m.name))
              newlyClosed0
            } else newlyClosed0
          Files.createDirectories(Paths.get(path(m.name)))
          Files.write(marker, Array.emptyByteArray)
          val nClosed = writeCounted(newlyClosed,
            _.write.mode("append").parquet(closedPath(m.name)))
          val nOpen = rewrite(openOut, Nil, openPath(m.name))
          Files.deleteIfExists(marker)
          nClosed + nOpen
        }
    }
  }

  /** Expose every model as a catalog view so `spark.sql` works as the
    * BI surface over the warehouse (SURVEY §3.3 — free once models are
    * registered; views of View-models stay unmaterialized plans that
    * Catalyst fuses into consumers).
    *
    * Registration pins parquet file listings for materialized models, so
    * `build()` re-registers automatically after writing (a later
    * overwrite/swap would otherwise leave views over deleted files). */
  def registerViews(): Unit = {
    viewsRegistered = true
    models.foreach(m => ref(m.name).createOrReplaceTempView(m.name))
  }

  private var viewsRegistered = false

  /** One strict-JSON trend-log line (see [[testHistory]]); `violations`
    * is -1 when a unit test failed structurally (missing fixture). */
  private def historyLine(model: String, check: String, kind: String,
      pass: Boolean, violations: Long, wallMs: Long,
      batchTs: java.sql.Timestamp): String =
    s"""{"model":"${esc(model)}","check":"${esc(check)}","kind":"$kind"""" +
      s""","status":"${if (pass) "pass" else "fail"}"""" +
      s""","violations":$violations,"wall_ms":$wallMs""" +
      s""","batch_ts":"${esc(batchTs.toString)}"}"""

  private val historyLock = new Object
  private def appendAudit(file: String, lines: Seq[String]): Unit =
    historyLock.synchronized {
      val p = Paths.get(warehouseDir, "_audit", file)
      Files.createDirectories(p.getParent)
      Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
  private def appendTestHistory(lines: Seq[String]): Unit =
    appendAudit("test_history.jsonl", lines)

  /** Amend one build_history line's provisional status (matched by its
    * unique seq). The line is appended with status "ok" BEFORE the check
    * pass — Checks.volumeAnomaly must see the current build as the
    * newest row — then corrected here when the check pass fails (or the
    * node errors), so failed builds never enter future anomaly
    * baselines (volumeAnomaly filters status == "ok"). Whole-file
    * rewrite under historyLock + atomic move: the log is line-oriented
    * jsonl and a torn in-place patch would corrupt it; the file stays
    * small (one line per materialized build). */
  private def rewriteBuildStatus(seq: Long, status: String): Unit =
    historyLock.synchronized {
      val p = Paths.get(warehouseDir, "_audit", "build_history.jsonl")
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val needle = s""","seq":$seq}"""
        val lines = Files.readAllLines(p).asScala.map { l =>
          if (l.endsWith(needle))
            l.replaceFirst("\"status\":\"[a-z_]+\"", s"\"status\":\"$status\"")
          else l
        }
        val tmp = p.resolveSibling("build_history.jsonl.tmp")
        Files.write(tmp, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** The build-volume trend log as a DataFrame — resolvable as
    * `ref("_build_history")` so checks (Checks.volumeAnomaly) and
    * monitoring models can read the engine's own audit state, the way
    * Elementary's models read dbt artifacts. Empty-but-typed when no
    * build has logged yet. */
  private def buildHistoryDf: DataFrame = {
    val schema = "model STRING, status STRING, rows LONG, " +
      "elapsed_ms LONG, batch_ts STRING, seq LONG"
    val p = Paths.get(warehouseDir, "_audit", "build_history.jsonl")
    if (Files.exists(p)) spark.read.schema(schema).json(p.toString)
    else spark.read.schema(schema).json(
      spark.emptyDataset(org.apache.spark.sql.Encoders.STRING))
  }

  /** Materialize one node + run its checks; `depBlocked` short-circuits
    * to the dbt skip status. */
  private def execNode(name: String, batchTs: java.sql.Timestamp,
      depBlocked: Boolean, shuffle: ShuffleBytesListener,
      buildTag: String, fullRefresh: Boolean = false,
      priorChecks: Map[String, Seq[String]] = Map.empty): NodeResult = {
    val m = byName(name)
    // seq of this node's provisional build_history line, for post-check
    // status correction (see rewriteBuildStatus)
    var histSeq: Option[Long] = None
    if (depBlocked) NodeResult(name, "skipped_upstream", 0)
    else try {
      val t0 = System.nanoTime()
      // dbt 1.8 unit tests run FIRST, against fixture rows only: a
      // failing one gates the node before any warehouse state is
      // touched, exactly like dbt (unit tests precede the model build).
      val utRecords = unitTests.filter(_.model == name).map { ut =>
        val u0 = System.nanoTime()
        val fail = try {
          val actual = m.buildFn(spark,
            n => ut.given.getOrElse(n, throw new UnknownRefException(n)),
            None)
          // multiset equality over expect's columns; fixture values cast
          // to the model's actual output types (Seq.toDF int vs bigint)
          val cols = ut.expect.columns.toSeq
          val act = actual.select(cols.map(col): _*)
          val exp = ut.expect.select(cols.map(c =>
            col(c).cast(act.schema(c).dataType).as(c)): _*)
          val unexpected = act.exceptAll(exp).count()
          val missing = exp.exceptAll(act).count()
          if (unexpected + missing > 0)
            Some(s"${ut.name} ($unexpected unexpected / $missing missing rows)"
              -> (unexpected + missing))
          else None
        } catch {
          case u: UnknownRefException => Some(
            s"${ut.name} (build reads ref '${u.refName}' but no fixture was given)"
              -> -1L)
        }
        (ut.name, fail, (System.nanoTime() - u0) / 1000000L)
      }
      if (testHistory && utRecords.nonEmpty)
        appendTestHistory(utRecords.map { case (n, fail, wall) =>
          historyLine(name, n, "unit", fail.isEmpty,
            fail.map(_._2).getOrElse(0L), wall, batchTs)
        })
      val utFailed = utRecords.flatMap(_._2).map(_._1)
      if (utFailed.nonEmpty)
        return NodeResult(name, "unit_test_failed", 0, utFailed,
          elapsedMs = (System.nanoTime() - t0) / 1000000L)
      // dbt pre/post-hooks run inside the node's slot; a throwing hook
      // fails the node (outer catch → status "error") and, like any
      // error, blocks transitive downstream.
      def runHooks(hooks: Seq[Hook], phase: String): Unit = hooks.foreach { h =>
        try h.run(spark, ref)
        catch {
          case e: Exception => throw new RuntimeException(
            s"${phase}_hook '${h.name}' on $name failed: ${e.getMessage}", e)
        }
      }
      runHooks(m.preHooks, "pre")
      // Tag THIS node's jobs (thread-local property — safe under
      // threads>1) so the listener can attribute shuffle bytes; drain
      // the async bus before reading the total so it is final.
      val group = s"graft.$buildTag.$name"
      val sc = spark.sparkContext
      sc.setJobGroup(group, s"graft build: $name")
      val rows = try materialize(m, batchTs, fullRefresh) finally sc.clearJobGroup()
      // build-volume trend line (consumed by Checks.volumeAnomaly via
      // the `_build_history` ref): appended IMMEDIATELY after
      // materialize — before post-hooks and the check pass — with a
      // PROVISIONAL "ok", so every COMMITTED generation is represented
      // in the trend log even when a post-hook throws (the table swap
      // has already happened by then; skipping the line would make
      // future volumeAnomaly baselines silently miss a generation that
      // changed the table). If a post-hook or the check pass then fails
      // (or the node errors), rewriteBuildStatus corrects the line, so
      // a failed build never enters future anomaly baselines as "ok".
      if (testHistory && m.materialization != Materialization.View) {
        val sq = Engine.nextSeq()
        histSeq = Some(sq)
        appendAudit("build_history.jsonl", Seq(
          s"""{"model":"${esc(name)}","status":"ok","rows":$rows""" +
            s""","elapsed_ms":${(System.nanoTime() - t0) / 1000000L}""" +
            s""","batch_ts":"${esc(batchTs.toString)}"""" +
            s""","seq":$sq}"""))
      }
      runHooks(m.postHooks, "post")
      org.apache.spark.graftaccess.SparkListenerAccess.drain(sc)
      val sb =
        if (m.materialization == Materialization.View) -1L
        else shuffle.totalFor(group)
      def ms = (System.nanoTime() - t0) / 1000000L
      // dbt rebuilds the failures table every run: clear THIS model's
      // prior violation parquet before the check pass, so a check that
      // was red last build and is green now leaves no stale rows
      // misreporting current state. (The per-check overwrite below only
      // fires for currently-failing checks, so it cannot clean these up.)
      // Delete EXACTLY this model's check dirs, never a prefix scan:
      // sanitization collapses distinct names (models "a.b" and "a_b"
      // share a prefix) and a prefix match could delete a sibling
      // model's stored failures — or race its in-flight write under
      // threads > 1. The dir set is declared checks ∪ the checks the
      // stored manifest recorded for this model LAST invocation, so a
      // check that was renamed or removed cannot leave its old red
      // violation parquet behind misreporting current state.
      if (storeFailures) {
        val checkDirs = (m.checks.map(_.name) ++ priorChecks.getOrElse(name, Nil))
          .distinct.map(cn => sanitizeDirName(s"${name}__$cn"))
        checkDirs.foreach { safe =>
          val dir = new java.io.File(s"$warehouseDir/_test_failures/$safe")
          if (dir.isDirectory) DirSwap.deleteRecursively(dir.getPath)
        }
      }
      // A check referencing a model that does not exist is skipped with
      // a warning, matching dbt (the reference declares tests against
      // nonexistent `dim_feature` / `mart_subscription_month_enriched`
      // models — SURVEY §5 note 1). The check jobs carry their own
      // group, so a trace attributes them to this node while other
      // nodes' jobs overlap them.
      sc.setJobGroup(s"graft-check.$buildTag.$name", s"graft checks: $name")
      val checkRecords = try m.checks.flatMap { c =>
        try {
          val c0 = System.nanoTime()
          val v = c.violationsWithRefs(ref(name), ref)
          // one execution of the violation plan, never two: with
          // store_failures the WRITE itself carries the exact count
          // (observed metric — writeCounted), so a red check under
          // testHistory no longer pays count() + write() back to back.
          // Without store_failures the trend log still needs count();
          // with neither, the cheap limit-1 probe decides pass/fail
          // (-1 = "failing, count not taken").
          val nViol: Long =
            if (storeFailures) {
              if (v.isEmpty) 0L
              else writeCounted(v, _.write.mode("overwrite").parquet(
                s"$warehouseDir/_test_failures/${sanitizeDirName(s"${name}__${c.name}")}"))
            } else if (testHistory) v.count()
            else if (v.isEmpty) 0L else -1L
          val bad = nViol != 0L
          Some((c.name, bad, nViol, (System.nanoTime() - c0) / 1000000L))
        } catch {
          case u: UnknownRefException =>
            System.err.println(
              s"WARN: skipping check '${c.name}' on $name: unknown ref '${u.refName}'")
            None
        }
      } finally sc.clearJobGroup()
      if (testHistory && checkRecords.nonEmpty)
        appendTestHistory(checkRecords.map { case (cn, bad, nViol, wall) =>
          historyLine(name, cn, "data", !bad, nViol, wall, batchTs)
        })
      val failed = checkRecords.filter(_._2).map(_._1)
      // layout-debt reading for partitioned storage: a local-fs listing
      // here; manifest statistics on a real table format
      val debt = m.materialization match {
        case _: Materialization.IncrementalAppend | _: Materialization.DeleteInsert |
            _: Materialization.Microbatch | _: Materialization.MergeUpsert =>
          maxFilesPerPartition(name)
        case _ => -1
      }
      if (failed.nonEmpty) {
        histSeq.foreach(rewriteBuildStatus(_, "test_failed"))
        NodeResult(name, "test_failed", rows, failed, shuffleBytes = sb,
          elapsedMs = ms, maxFilesPerPartition = debt)
      } else NodeResult(name, "ok", rows, shuffleBytes = sb, elapsedMs = ms,
        maxFilesPerPartition = debt)
    } catch {
      case e: Exception =>
        // a post-materialize error (e.g. a check that threw) must not
        // leave the provisional "ok" line in the anomaly baseline
        histSeq.foreach(rewriteBuildStatus(_, "error"))
        NodeResult(name, "error", 0, error = Some(e.getMessage))
    }
  }

  /** dbt-style node selection (`dbt build --select`): a plain name
    * selects one model, `+name` adds its transitive upstream, `name+`
    * its transitive downstream. `state:modified` selects models whose
    * declared fingerprint differs from the stored manifest.json (or that
    * the manifest has never seen) — dbt's slim-CI selector against the
    * previous invocation's manifest; `state:modified+` adds each one's
    * transitive consumers. Unselected upstream models are NOT rebuilt —
    * refs resolve to their existing materialized state, which is exactly
    * dbt's behavior (and the point: restate one fact without paying the
    * whole DAG). */
  private def selectNodes(select: Seq[String]): Set[String] = {
    val parents = models.map(m => m.name -> m.deps.filter(byName.contains)).toMap
    val children = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    for (m <- models; d <- m.deps if byName.contains(d)) children(d) ::= m.name
    def closure(start: String, next: String => Seq[String]): Set[String] = {
      val seen = mutable.Set(start)
      val q = mutable.Queue(start)
      while (q.nonEmpty) next(q.dequeue()).foreach(n => if (seen.add(n)) q.enqueue(n))
      seen.toSet
    }
    // Every selector form validates its model name up front — a typo'd
    // `name+` would otherwise return just the unknown name and make an
    // empty no-op build look like success.
    def known(s: String): String =
      if (byName.contains(s)) s else throw new UnknownRefException(s)
    // dbt `[+]exposure:name`: the exposure's declared model deps; the
    // "+" form adds their transitive upstream — "build what this
    // dashboard needs".
    def exposureDeps(n: String): Seq[String] =
      exposureByName.getOrElse(n,
        throw new UnknownRefException(s"exposure:$n")).dependsOn
    select.flatMap {
      case s if s == "state:modified" || s == "state:modified+" =>
        val mod = modifiedSinceManifest
        if (s.endsWith("+")) mod.flatMap(closure(_, children(_))) else mod
      case s if s.startsWith("+exposure:") =>
        exposureDeps(s.stripPrefix("+exposure:"))
          .flatMap(closure(_, parents(_))).toSet
      case s if s.startsWith("exposure:") =>
        exposureDeps(s.stripPrefix("exposure:")).toSet
      case s if s.startsWith("+") => closure(known(s.drop(1)), parents(_))
      case s if s.endsWith("+") => closure(known(s.dropRight(1)), children(_))
      case s => Set(known(s))
    }.toSet
  }

  /** Models whose fingerprint differs from the stored manifest (or are
    * absent from it). The manifest is rewritten after every build, so
    * the comparison state is the PREVIOUS invocation — a build selected
    * by `state:modified` immediately re-baselines itself, like dbt slim
    * CI promoting the new manifest. No manifest on disk = everything is
    * modified (first invocation). Parsing rides the writer's own fixed
    * field order (fingerprint last in each node object). */
  private def modifiedSinceManifest: Set[String] =
    models.filterNot(m => storedFingerprints.get(m.name).contains(fingerprint(m)))
      .map(_.name).toSet

  /** Fingerprints as the LAST written manifest recorded them (empty map
    * when no manifest exists). Read both by `state:modified` (the
    * comparison side) and by manifest writing (the carry-forward side —
    * see writeManifest). Parsing rides the writer's own fixed field
    * order (fingerprint last in each node object); a node written with
    * the non-hex "unbuilt" sentinel simply fails the hex match and stays
    * absent — i.e. still modified. */
  private def storedFingerprints: Map[String, String] = {
    val p = Paths.get(warehouseDir, "manifest.json")
    if (!Files.exists(p)) Map.empty
    else {
      val text = new String(Files.readAllBytes(p), "UTF-8")
      """"name":"((?:[^"\\]|\\.)*)"[^{}]*?"fingerprint":"([0-9a-f]+)"""".r
        .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  /** Check names the stored manifest recorded PER MODEL on the LAST
    * invocation (empty when no manifest). Drives store_failures
    * staleness cleanup: a renamed or removed check's violation dir is
    * only discoverable through this record. ONE read + parse per build
    * — execNode consumes a per-build capture (a per-node re-read was
    * O(models × manifest-size) file I/O on the build hot path), and
    * writeManifest unions these into NON-promoted nodes, so a check
    * renamed while its model is unselected keeps its stored name on
    * record until the model next builds green and the cleanup runs. */
  private def storedCheckNamesAll: Map[String, Seq[String]] = {
    val p = Paths.get(warehouseDir, "manifest.json")
    if (!Files.exists(p)) Map.empty
    else {
      val text = new String(Files.readAllBytes(p), "UTF-8")
      // the array body matches whole QUOTED STRINGS, not [^\]]* — a
      // check name containing ']' (esc() only escapes quotes/controls)
      // must not truncate the capture and silently lose stored names
      """"name":"((?:[^"\\]|\\.)*)"[^{}]*?"checks":\[((?:"(?:[^"\\]|\\.)*",?)*)\]""".r
        .findAllMatchIn(text).map { m =>
          unesc(m.group(1)) -> """"((?:[^"\\]|\\.)*)"""".r
            .findAllMatchIn(m.group(2)).map(g => unesc(g.group(1))).toSeq
        }.toMap
    }
  }

  private def unesc(s: String): String =
    """\\(u[0-9a-fA-F]{4}|.)""".r.replaceAllIn(s, m => {
      val g = m.group(1)
      java.util.regex.Matcher.quoteReplacement(
        if (g.startsWith("u")) Integer.parseInt(g.drop(1), 16).toChar.toString
        else g)
    })

  /** One sanitization for every `_test_failures` dir derivation — write
    * and cleanup MUST agree on it byte-for-byte. */
  private def sanitizeDirName(s: String): String =
    s.map(ch => if (ch.isLetterOrDigit || ch == '_') ch else '_')

  /** [[build]]'s default worker count: the session's
    * `defaultParallelism` (its cores), capped at the model count. */
  private[graft] def defaultThreads: Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, models.size))

  /** The build's one scheduler. `threads` workers take ready nodes in
    * [[topoOrder]] rank: a node is ready once every model it
    * [[runsAfter]] has a result, and `run` gets whether a DEP's result
    * is not "ok" (the dbt skip). Results come back in topological
    * order. */
  private def dispatch(threads: Int)(
      run: (String, Boolean) => NodeResult): Seq[NodeResult] = {
    val order = topoOrder
    val rank = order.zipWithIndex.toMap
    val waiting = mutable.Map(models.map(m => m.name -> runsAfter(m).size): _*)
    val children = models.flatMap(m => runsAfter(m).map(_ -> m.name)).groupMap(_._1)(_._2)
    val ready = mutable.PriorityQueue(order.filter(waiting(_) == 0): _*)(
      Ordering.by((n: String) => -rank(n)))
    val results = mutable.Map.empty[String, NodeResult]
    val lock = new Object
    def take(): Option[String] = lock.synchronized {
      while (ready.isEmpty && results.size < order.size) lock.wait()
      if (ready.isEmpty) None else Some(ready.dequeue())
    }
    def work(): Unit = {
      var next = take()
      while (next.nonEmpty) {
        val name = next.get
        val depBlocked = lock.synchronized(
          byName(name).deps.exists(d => results.get(d).exists(_.status != "ok")))
        // execNode catches Exceptions itself; this also turns an Error
        // into the node's result, so no worker leaves the others waiting
        val res =
          try run(name, depBlocked)
          catch { case t: Throwable => NodeResult(name, "error", 0, error = Some(t.toString)) }
        lock.synchronized {
          results(name) = res
          for (c <- children.getOrElse(name, Nil)) {
            waiting(c) -= 1
            if (waiting(c) == 0) ready.enqueue(c)
          }
          lock.notifyAll()
        }
        next = take()
      }
    }
    val workers = (1 to math.max(1, math.min(threads, order.size))).map { _ =>
      val t = new Thread(() => work())
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    order.map(results)
  }

  /** `dbt retry`: re-execute exactly the nodes the LAST invocation left
    * unfinished — status != ok in run_results.json (errors, failed
    * tests, and their skipped downstream, which run_results already
    * enumerates) — resolving refs to successful nodes from warehouse
    * state. Returns an empty report when there is nothing to retry,
    * like dbt's "Nothing to do". */
  def buildRetry(batchTs: java.sql.Timestamp =
      new java.sql.Timestamp(System.currentTimeMillis()),
      threads: Int = defaultThreads): BuildReport = {
    val p = Paths.get(warehouseDir, "run_results.json")
    require(Files.exists(p),
      "buildRetry: no run_results.json in the warehouse — run build() first")
    val text = new String(Files.readAllBytes(p), "UTF-8")
    // writer-controlled format (runResultsJson): name first, status second
    val redo = """\{"name":"((?:[^"\\]|\\.)*)","status":"([^"]*)"""".r
      .findAllMatchIn(text)
      .collect { case m if m.group(2) != "ok" => m.group(1) }
      .filter(byName.contains).toSeq
    if (redo.isEmpty) BuildReport(Nil)
    else build(batchTs, threads, select = redo)
  }

  /** `dbt build`: topo-ordered materialize + inline tests; a node whose
    * checks fail blocks its transitive downstream (SURVEY.md §3.2 step 5).
    *
    * `threads` is dbt's `threads:`: that many driver workers take ready
    * nodes — every model it [[runsAfter]] finished — in [[topoOrder]]
    * rank, so independent DAG branches run concurrently and one worker
    * runs exactly the topological order. The default is one worker per
    * core of the session ([[defaultThreads]]). Each node still runs as
    * distributed Spark jobs; the workers overlap per-job scheduling
    * gaps and independent writes, which bound a DAG of many small nodes.
    * Spark sessions are thread-safe for concurrent job submission.
    *
    * `fullRefresh` = dbt's `--full-refresh` (reference `README.md:115`):
    * incremental-append and delete+insert models ignore their persisted
    * state and rebuild from scratch; snapshots keep their history (dbt
    * exempts snapshots for the same reason — it is the one state a
    * rebuild cannot reconstruct). */
  def build(batchTs: java.sql.Timestamp =
      new java.sql.Timestamp(System.currentTimeMillis()),
      threads: Int = defaultThreads,
      select: Seq[String] = Nil,
      fullRefresh: Boolean = false): BuildReport = {
    if (select.nonEmpty) {
      val sel = selectNodes(select)
      val sub = models.filter(m => sel(m.name))
      // Unselected deps resolve from the shared warehouse state. A
      // MATERIALIZED dep may be pinned eagerly — the selection never
      // rewrites it. A VIEW dep must NOT be pinned: its plan can read
      // models the selection is about to rebuild (A -> view -> B), and an
      // eager ref() would freeze the view over the pre-rebuild parquet
      // listing, so after A is overwritten B would read deleted files.
      // View deps (transitively) ride along as checkless models instead,
      // re-resolved lazily per consumer; they are dropped from the report.
      val viewsAlong = mutable.Map.empty[String, Model]
      val pinned = mutable.Set.empty[String]
      def visit(d: String): Unit =
        if (!sel(d) && !viewsAlong.contains(d) && !pinned(d)) byName.get(d) match {
          case Some(v) if v.materialization == Materialization.View =>
            viewsAlong(d) = new Model(v.name, v.deps, Materialization.View, Nil, v.buildFn)
            v.deps.foreach(visit)
          case Some(_) => pinned += d
          case None => () // raw source: passes through `sources` below
        }
      sub.flatMap(_.deps).distinct.foreach(visit)
      // forward the audit/test surface: a selected build (including
      // buildRetry and state:modified) must still gate on unit tests,
      // log trend lines and persist failures for the selected nodes —
      // dropping the flags here would silently weaken partial builds
      val eng = new Engine(spark, warehouseDir,
        sources ++ pinned.map(n => n -> ref(n)).toMap, sub ++ viewsAlong.values,
        storeFailures = storeFailures,
        unitTests = unitTests.filter(ut => sel(ut.model)),
        testHistory = testHistory)
      // capture the pre-build fingerprints AND check records NOW: the
      // inner engine's own manifest write (subset view) clobbers the
      // file before the full rewrite below, and unselected nodes must
      // carry forward their PRE-build state, not the subset view's
      val prior = storedFingerprints
      val priorChecksSel = storedCheckNamesAll
      val rpt = eng.build(batchTs, threads, Nil, fullRefresh)
      if (viewsRegistered) registerViews()
      // the inner engine wrote the subset's view; the full project wins.
      // Promote only SELECTED nodes that built green — a ride-along view
      // or unselected model keeps its prior fingerprint (and stored
      // check-name record), so state:modified still sees it and a later
      // build can still clean a renamed check's orphaned failure dir
      // (dbt promotes --state only on green)
      writeManifest(
        rpt.results.filter(r => sel(r.name) && r.status == "ok").map(_.name).toSet,
        prior, priorChecksSel)
      return BuildReport(rpt.results.filter(r => sel(r.name)))
    }
    // one manifest read for the whole build (per-node re-reads were
    // O(models × manifest-size)); also the carry-forward record for
    // non-promoted nodes' check names in the manifest rewrite below
    val priorChecks = storedCheckNamesAll
    // Per-build shuffle accounting: one listener, removed on exit; the
    // tag keeps two overlapping builds' job groups distinct.
    val shuffle = new ShuffleBytesListener
    val buildTag = java.util.UUID.randomUUID().toString.take(8)
    spark.sparkContext.addSparkListener(shuffle)
    val report = try {
      BuildReport(dispatch(threads) { (name, depBlocked) =>
        execNode(name, batchTs, depBlocked, shuffle, buildTag, fullRefresh, priorChecks)
      })
    } finally {
      spark.sparkContext.removeSparkListener(shuffle)
      // release engine-internal persisted frames (PQ cell stream,
      // substring delta, assigned training): every registered frame's
      // last consumer is a write THIS build ran, so unpersisting here
      // bounds cached-block lifetime to the build (VERDICT r21 item 7)
      Resolver(spark).drainPersists()
    }
    if (viewsRegistered) registerViews() // refresh pinned file listings
    // promote fingerprints only for green nodes; errored/test-failed/
    // skipped ones carry forward so state:modified re-selects them
    writeManifest(
      report.results.filter(_.status == "ok").map(_.name).toSet,
      storedFingerprints, priorChecks)
    Files.write(Paths.get(warehouseDir, "run_results.json"),
      runResultsJson(report).getBytes("UTF-8"))
    report
  }

  private def esc(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }
  private def arr(xs: Seq[String]): String =
    xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")

  /** Content fingerprint of a model's DECLARED definition: name, deps,
    * materialization, check names, contract and logic `version` — the
    * `state:modified` change signal (dbt hashes the model's SQL text;
    * the closure equivalent is the declared version, see Model). */
  private def fingerprint(m: Model): String = {
    val text = Seq(m.name, m.deps.mkString(","),
      m.materialization.toString, m.checks.map(_.name).mkString(","),
      m.contract.map { case (c, t) => s"$c:$t" }.mkString(","),
      m.version.toString,
      (m.preHooks.map("pre:" + _.name) ++ m.postHooks.map("post:" + _.name))
        .mkString(",")).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** dbt writes `target/manifest.json` on every invocation — the project
    * graph as a machine-readable artifact for docs, lineage tooling and
    * CI diffing. The engine analogue: `warehouseDir/manifest.json` with
    * the source names and every node in topological order carrying its
    * deps, materialization and check names. Driver-side metadata only —
    * building it runs no Spark job. */
  def manifestJson: String =
    manifestJson(models.map(_.name).toSet, Map.empty, Map.empty)

  /** The manifest view with SELECTIVE fingerprint promotion — the dbt
    * slim-CI state rule. Only nodes in `promote` (those this invocation
    * actually built green) get their CURRENT fingerprint; every other
    * node carries forward its fingerprint from `prior` (the manifest as
    * it stood before the build), so a modified-but-unselected (or
    * failed) model is NOT silently re-baselined — a later
    * `state:modified` still selects it. A node that is neither promoted
    * nor previously stored gets the non-hex "unbuilt" sentinel, which
    * the stored-fingerprint parse rejects → still modified.
    *
    * Check names follow the same rule: a PROMOTED node records its
    * current declarations, but a non-promoted node records the UNION of
    * current and previously stored names (`priorChecks`) — a check
    * renamed while its model is unselected must keep its old name on
    * record, or the store_failures staleness cleanup can never find the
    * orphaned violation dir when the model finally builds. */
  private def manifestJson(promote: Set[String], prior: Map[String, String],
      priorChecks: Map[String, Seq[String]]): String = {
    val nodes = topoOrder.map(byName).map { m =>
      val fp =
        if (promote(m.name)) fingerprint(m)
        else prior.getOrElse(m.name, "unbuilt")
      val checks =
        if (promote(m.name)) m.checks.map(_.name)
        else (m.checks.map(_.name) ++ priorChecks.getOrElse(m.name, Nil)).distinct
      s"""{"name":"${esc(m.name)}","deps":${arr(m.deps)}""" +
        s""","materialization":"${esc(m.materialization.toString)}"""" +
        s""","checks":${arr(checks)}""" +
        s""","fingerprint":"$fp"}"""
    }
    val exps = exposures.sortBy(_.name).map { e =>
      s"""{"name":"${esc(e.name)}","depends_on":${arr(e.dependsOn)}""" +
        s""","owner":"${esc(e.owner)}","url":"${esc(e.url)}"}"""
    }
    s"""{"sources":${arr(sources.keys.toSeq.sorted)}""" +
      s""","nodes":${nodes.mkString("[", ",", "]")}""" +
      s""","exposures":${exps.mkString("[", ",", "]")}}"""
  }

  /** dbt's OTHER per-invocation artifact, `target/run_results.json`: one
    * entry per EXECUTED node with its outcome, rows affected, wall time
    * and (engine extension) measured shuffle-write bytes — the numbers
    * CI reads to spot a regressed materialization without re-profiling
    * the build. Driver-side metadata only. */
  def runResultsJson(report: BuildReport): String = {
    val nodes = report.results.map { r =>
      s"""{"name":"${esc(r.name)}","status":"${esc(r.status)}","rows":${r.rows}""" +
        s""","elapsed_ms":${r.elapsedMs},"shuffle_bytes":${r.shuffleBytes}""" +
        (if (r.maxFilesPerPartition >= 0)
          s""","max_files_per_partition":${r.maxFilesPerPartition}""" else "") +
        (if (r.failedChecks.nonEmpty) s""","failed_checks":${arr(r.failedChecks)}""" else "") +
        r.error.map(e => s""","error":"${esc(e)}"""").getOrElse("") + "}"
    }
    s"""{"results":${nodes.mkString("[", ",", "]")}}"""
  }

  private def writeManifest(promote: Set[String], prior: Map[String, String],
      priorChecks: Map[String, Seq[String]]): Unit = {
    Files.createDirectories(Paths.get(warehouseDir))
    Files.write(Paths.get(warehouseDir, "manifest.json"),
      manifestJson(promote, prior, priorChecks).getBytes("UTF-8"))
    ()
  }

  /** dbt's `docs generate` artifact, `catalog.json`: what is actually IN
    * the warehouse — per materialized model its columns with storage
    * types (the consumer view, parquet footer schema; synthetic layout
    * columns hidden), row count and on-disk bytes. Row counts ride
    * parquet row-group metadata (a count() over a bare scan never reads
    * data pages) and bytes are a directory listing, so generation is
    * metadata-cost like dbt's, and — like dbt — it is a SEPARATE
    * on-demand step, not part of every build. Views are unmaterialized
    * plans and are listed with columns only (analyzed schema, no
    * storage facts). */
  def catalogJson(): String = {
    val nodes = topoOrder.map(byName).flatMap { m =>
      def colsOf(df: DataFrame): String = df.schema.map(f =>
        s"""{"name":"${esc(f.name)}","type":"${esc(f.dataType.simpleString)}"}""")
        .mkString("[", ",", "]")
      m.materialization match {
        case Materialization.View =>
          Some(s"""{"name":"${esc(m.name)}","materialized":false,""" +
            s""""columns":${colsOf(m.build(spark, ref))}}""")
        case _ if exists(m.name) || (isSnapshot(m.name) && snapExists(m.name)) =>
          val view = ref(m.name)
          val rows = view.count() // footer-metadata count, no data pages
          def dirBytes(p: String): Long = {
            def rec(f: java.io.File): Long =
              if (f.isDirectory) f.listFiles.map(rec).sum
              else if (f.getName.startsWith("part-")) f.length else 0L
            val d = new java.io.File(p)
            if (d.exists) rec(d) else 0L
          }
          val bytes =
            if (isSnapshot(m.name)) dirBytes(openPath(m.name)) + dirBytes(closedPath(m.name))
            else dirBytes(path(m.name))
          Some(s"""{"name":"${esc(m.name)}","materialized":true,""" +
            s""""columns":${colsOf(view)},"row_count":$rows,"bytes":$bytes}""")
        case _ => None // declared but never built
      }
    }
    s"""{"nodes":${nodes.mkString("[", ",", "]")}}"""
  }

  /** Write [[catalogJson]] to `warehouseDir/catalog.json` (dbt's `docs
    * generate`). */
  def docsGenerate(): Unit = {
    Files.createDirectories(Paths.get(warehouseDir))
    Files.write(Paths.get(warehouseDir, "catalog.json"),
      catalogJson().getBytes("UTF-8"))
    ()
  }
}

object Engine {
  /** Monotone sequence for audit-log ordering: wall-clock millis bumped
    * past the last issued value, so same-millisecond builds (and engine
    * instances within one JVM) still order totally. */
  private val lastSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private[engine] def nextSeq(): Long =
    lastSeq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Run `write` on `df` and return the row count the write actually
    * produced, harvested from an observed metric ON the write plan itself
    * — dbt's "rows affected", at zero extra cost. The alternative
    * (post-write `count()` re-scan) pays a parquet footer scan of the
    * WHOLE target per model per build — metadata-cheap in the sandbox, a
    * full-table footer pass at 100 TB. */
  private[graft] def writeCounted(df: DataFrame, write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** The engine's write-layout rule: every partitioned write goes
    * through here and lands ONE file per written partition value.
    * Without it each upstream task writes one file per value it holds
    * (a 32-bucket input gives 32 files per value), and every later scan,
    * listing and check pays per file. An AQE `rebalance` on the
    * partition columns sends each value to one write task before
    * `partitionBy`. `rebalance`, not `repartition`: at scale AQE splits
    * an oversized value into advisory-size files and merges tiny tasks
    * instead of pinning one task per value. No plan inspection: an input
    * already clustered on the columns pays one more small exchange,
    * which measured within noise. Unpartitioned writes (`pcols` empty) keep
    * their layout and pay no exchange. `overwriteMode` is the per-writer
    * `partitionOverwriteMode` (see the DeleteInsert case); None keeps
    * the session's. Returns the rows written ([[writeCounted]]). */
  private[graft] def writePartitioned(df: DataFrame, pcols: Seq[String], dest: String,
      mode: String = "overwrite", overwriteMode: Option[String] = None): Long = {
    val shaped = if (pcols.isEmpty) df else df.hint("rebalance", pcols.map(col): _*)
    writeCounted(shaped, { d =>
      val w = overwriteMode.foldLeft(d.write.mode(mode))(
        _.option("partitionOverwriteMode", _))
      (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(dest)
    })
  }

  /** Rewrite `dir` as `df` under the write-layout rule and swap it in —
    * the one rewrite-and-swap every maintenance action shares (append
    * compaction and retention, snapshot slices, the IVF index's
    * compaction and retrain). The write lands in the staging sibling
    * `<dir>.rewrite` and [[DirSwap.replace]] renames it over `dir` only
    * after it committed, so `df` may read `dir` itself and a crash at
    * any point leaves a readable generation. Returns the rows written,
    * off the write's observed metric. */
  private[graft] def rewrite(df: DataFrame, partitionCols: Seq[String], dir: String): Long = {
    val staging = dir + ".rewrite"
    val n = writePartitioned(df, partitionCols, staging)
    DirSwap.replace(staging, dir)
    n
  }
}

/** dbt source-freshness config (`loaded_at_field` + `warn_after` /
  * `error_after`): how stale a source's newest row may be before the
  * pipeline should warn or stop trusting it. */
final case class Freshness(
    loadedAtCol: String,
    warnAfter: java.time.Duration,
    errorAfter: java.time.Duration) {
  require(!errorAfter.minus(warnAfter).isNegative,
    "error_after must be >= warn_after")
}

/** One source's freshness verdict (dbt's `target/sources.json` row). */
final case class FreshnessResult(
    source: String,
    maxLoadedAt: Option[java.sql.Timestamp],
    ageSeconds: Long,
    status: String) // "pass" | "warn" | "error"

object Freshness {

  /** dbt's `source freshness` command: for each configured source, the
    * age of its newest `loaded_at` row against the thresholds.
    * [[Checks.freshness]] is the build-GATING form of the same idea (a
    * red check blocks downstream, error-only); this is the standalone
    * command with dbt's full warn/error band and the `sources.json`
    * artifact, run outside any build. The max
    * is a single-scalar aggregate — parquet footer statistics make it
    * metadata-cost on columnar sources; an EMPTY source has no
    * freshness evidence at all and reports `error` (never silently
    * passes). Pass `asOf` explicitly so runs are reproducible (dbt uses
    * wall clock; a replayed build should not). */
  def check(
      sources: Map[String, DataFrame],
      configs: Map[String, Freshness],
      asOf: java.sql.Timestamp): Seq[FreshnessResult] =
    configs.toSeq.sortBy(_._1).map { case (name, cfg) =>
      val src = sources.getOrElse(name,
        throw new IllegalArgumentException(s"unknown source '$name'"))
      val row = src.agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(cfg.loadedAtCol))).first()
      if (row.isNullAt(0)) FreshnessResult(name, None, Long.MaxValue, "error")
      else {
        val ts = row.getTimestamp(0)
        val age = (asOf.getTime - ts.getTime) / 1000L
        val status =
          if (age > cfg.errorAfter.getSeconds) "error"
          else if (age > cfg.warnAfter.getSeconds) "warn"
          else "pass"
        FreshnessResult(name, Some(ts), age, status)
      }
    }

  /** `target/sources.json`: the freshness verdicts as a JSON artifact. */
  def json(results: Seq[FreshnessResult]): String =
    results.map { r =>
      s"""{"source":"${r.source.replace("\"", "\\\"")}",""" +
        s""""max_loaded_at":${r.maxLoadedAt.fold("null")(t => s""""$t"""")},""" +
        s""""age_s":${r.ageSeconds},"status":"${r.status}"}"""
    }.mkString("""{"sources":[""", ",", "]}")
}
