package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.9): the reference's
  * micro-batch incremental semantics re-expressed as real streams.
  * The arrival log (`stg_*` + `ingested_at` watermark,
  * `stg_accounts.sql:9-11`) maps to a file/`readStream` source with
  * event-time watermarking; the rolling `reprocess_months` restatement
  * window maps to allowed lateness.
  *
  * Scale notes:
  *  - Windowed aggregation state is bounded by the watermark — late rows
  *    beyond it are dropped, state for closed windows is evicted; state
  *    partitions shard by group key across executors.
  *  - Sessionization uses `flatMapGroupsWithState` with event-time
  *    timeout: per-key state is O(1) (current session bounds), emitted on
  *    gap expiry — the streaming analogue of q_win_sessionize's batch
  *    window.
  */
object Streaming {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      start: Timestamp, last: Timestamp, nEvents: Int, sumValue: Double)

  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Int, sum_value: Double)

  /** Tumbling event-time window aggregate with watermark-bounded state.
    * Works on both batch and streaming DataFrames (same plan — Spark's
    * unified semantics; the batch run is the oracle for the stream). */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session ends
    * when no event arrives within `gap`. Emits completed sessions;
    * `EventTimeTimeout` flushes idle sessions once the watermark passes
    * last+gap. */
  /** @param emitTrailing also emit the still-open trailing session per
    *        key — required in batch mode, where each key is visited once
    *        and timeouts never fire (Spark's batch execution of stateful
    *        operators discards leftover state). Leave false on streams:
    *        the event-time timeout emits idle sessions there. */
  def sessionize(
      events: Dataset[Event],
      gap: java.time.Duration,
      emitTrailing: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gap.toMillis

    def finish(userId: Long, st: SessionState): Session =
      Session(userId, st.start, st.last, st.nEvents, st.sumValue)

    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "10 minutes") else events
    withWm
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, it, state: GroupState[SessionState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed: flush the idle session
            val out = state.getOption.map(finish(userId, _))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              cur match {
                case Some(s) if e.ts.getTime - s.last.getTime < gapMs =>
                  // a late-but-within-watermark event from a later batch may
                  // have ts < s.last (or even < s.start) — extend, never shrink,
                  // so streaming output matches the batch formulation
                  val start = if (e.ts.before(s.start)) e.ts else s.start
                  val last = if (e.ts.after(s.last)) e.ts else s.last
                  cur = Some(SessionState(start, last, s.nEvents + 1, s.sumValue + e.value))
                case Some(s) =>
                  closed += finish(userId, s)
                  cur = Some(SessionState(e.ts, e.ts, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1, e.value))
              }
            }
            if (emitTrailing) cur.foreach(closed += finish(userId, _))
            else cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class UserTotals(
      user_id: Long, n_events: Long, lifetime_value: Double, last_ts: Timestamp)

  /** Per-key running totals via `mapGroupsWithState` (the one-output-
    * per-key-per-batch stateful API; `flatMapGroupsWithState` above is
    * the many-outputs variant): state = lifetime aggregate, updated each
    * micro-batch, emitted as the key's current totals. Works identically
    * on batch Datasets (one call per key over all rows). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout()) {
        (userId, it, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(
            UserTotals(userId, 0L, 0.0, new Timestamp(0L)))
          val next = it.foldLeft(prev) { (acc, e) =>
            UserTotals(userId, acc.n_events + 1, acc.lifetime_value + e.value,
              if (e.ts.after(acc.last_ts)) e.ts else acc.last_ts)
          }
          state.update(next)
          next
      }
  }

  /** The reference's incremental-append staging model as a stream: file
    * source + AvailableNow ≈ "process all new batches then stop" — the
    * streaming-native form of the `ingested_at > max(ingested_at)`
    * high-water mark (S10), with exactly-once offsets in the checkpoint
    * instead of a scanned watermark. */
  def incrementalAppend(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val q = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** CDC upsert stream: keyed change events flow through `foreachBatch`
    * into a [[graft.engine.Materialization.MergeUpsert]] engine model —
    * the streaming twin of dbt's merge strategy, i.e. continuous
    * change-data-capture apply. Within a micro-batch, last-writer-wins
    * by `seqCol` (a per-key change sequence from the producer) collapses
    * the batch to one row per key (the merge materialization's
    * uniqueness contract); across micro-batches the merge's displacement
    * applies batches in offset order.
    *
    * Exactly-once in EFFECT, not by idempotent file writes: after a
    * crash the checkpoint replays only the last uncommitted batch, and
    * re-merging an identical delta is idempotent (same keys displaced,
    * same rows written). This is the documented foreachBatch recovery
    * contract — batch-id based dedup is unnecessary because the upsert
    * itself is a natural idempotent apply. StreamingSpec pins
    * stream-applied state ≡ one-shot batch truth across a restart.
    *
    * Scale: each micro-batch pays (touched buckets) × bucket size —
    * the merge materialization's restatement economics — so steady-state
    * CDC cost tracks the change rate, not the table size. */
  def cdcMergeStream(
      spark: SparkSession,
      sourceDir: String,
      warehouse: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      key: String,
      seqCol: String,
      buckets: Int = 8): Unit =
    availableNow(spark.readStream.schema(schema).parquet(sourceDir), checkpointDir) {
      (batch, _) =>
        val delta = batch
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(key)).orderBy(col(seqCol).desc)))
          .filter(col("_rn") === 1).drop("_rn")
        val rpt = new graft.engine.Engine(spark, warehouse,
          Map("cdc_delta" -> delta), Seq(
            graft.engine.Model("cdc_state", Seq("cdc_delta"),
              graft.engine.Materialization.MergeUpsert(key, buckets))(
              (_, r) => r("cdc_delta")))).build()
        require(rpt.ok, rpt.results.mkString("; "))
    }

  /** The one AvailableNow `foreachBatch` runner behind every stream
    * here: drain everything `source` has not yet committed to
    * `checkpointDir`, one `perBatch(batch, batchId)` call per
    * micro-batch, then stop. */
  private def availableNow(source: DataFrame, checkpointDir: String)(
      perBatch: (DataFrame, Long) => Unit): Unit =
    source.writeStream
      .foreachBatch(perBatch)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The idempotent micro-batch sink: `df` lands under its own
    * `batch_id` partition with dynamic partition overwrite, so a
    * replayed batch replaces its earlier attempt instead of doubling
    * it. */
  private def overwriteBatch(df: DataFrame, batchId: Long, partitionCols: Seq[String],
      dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** The IVF index's maintenance loop as a STREAM: arriving vector
    * batches flow through the same scan-local nearest-centroid kernel
    * the batch/engine forms use ([[graft.similarity.CentroidAssign]],
    * frozen trained centroids) into the same cluster-partitioned layout
    * — exactly-once via checkpoint offsets instead of the engine's
    * vec_id high-water mark. The kernel is STATELESS per row, which is
    * what makes it legal inside a streaming plan; assignment immutability
    * under frozen centroids (IncrementalIvfIndex scaladoc) is what makes
    * append-only output correct. StreamingSpec pins stream ≡ one-shot
    * batch assignment and exactly-once across restarts.
    *
    * The sink is a `foreachBatch` writer into a `(cluster, batch_id)`
    * hive layout with dynamic partition overwrite — NOT the built-in
    * parquet `FileStreamSink`, for two 100 TB reasons. (1) The built-in
    * sink's `_spark_metadata` log records every file ever written and
    * must be read (and periodically log-compacted) in full by both the
    * writer and every batch reader — cost grows with the TOTAL file
    * count of the index's lifetime, the known FileStreamSink scale
    * wall. (2) The log also freezes the layout: rewriting data files
    * (compaction) strands the log's file list, so a sink-managed
    * directory can never be maintained. Here exactly-once comes from
    * the layout itself — a replayed micro-batch overwrites its own
    * `batch_id` partitions idempotently (the [[vectorSearchStream]]
    * sink contract) — readers are plain partition-pruned parquet scans
    * (`cluster=` stays the leading partition level), and
    * [[compactVectorIndex]] can rewrite micro-batch dust freely.
    *
    * `maintenanceMaxFiles` puts compaction cadence under the ENGINE'S
    * control instead of operator discipline: at the start of each
    * micro-batch the accumulated layout's small-files debt
    * ([[indexFilesPerCluster]]) is checked — a local listing, no Spark
    * job — and a threshold trip folds every COMMITTED generation into
    * `batch_id = -1` before the batch appends (`keepFrom = batchId`
    * keeps a torn earlier attempt of THIS batch replay-safe; see
    * [[compactVectorIndex]]).
    *
    * `codebook` selects the PRODUCTION layout: each arriving vector is
    * also PQ-encoded in the same scan — codes from the frozen
    * codebook's plane signs (whole-stage codegen), reconstructed norm
    * from the ≈128 KB codebook-norm literal — so the stream maintains
    * exactly the [[graft.similarity.IncrementalIvfIndex.modelsPQ]]
    * index shape and [[graft.similarity.IncrementalIvfIndex.searchTopKPQ]]
    * probes the accumulated directory directly (code-column scan +
    * shortlist re-rank). Both quantizers (centroids AND codebook) are
    * frozen training-snapshot artifacts by the same contract as the
    * engine DAG; encoding is stateless per row, which keeps it legal
    * inside the streaming plan. StreamingSpec pins stream-built ≡
    * engine-built, row-for-row and through the ADC probe. */
  def vectorIndexStream(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      cents: Array[(Int, Array[Long], Long)],
      maintenanceMaxFiles: Option[Int] = None,
      codebook: Option[graft.similarity.ProductQuantizer.Codebook] = None): Unit = {
    val PQ = graft.similarity.ProductQuantizer
    val assigned = graft.similarity.CentroidAssign.kernel(
      spark.readStream.schema(schema).parquet(sourceDir), cents)
      .select("vec_id", "cluster", "q", "nsq")
    val rows = codebook.fold(assigned)(cb =>
      assigned.withColumn("codes", PQ.codesCol).withColumn("npq", PQ.npqCol(cb)))
    availableNow(rows, checkpointDir) { (batch, batchId) =>
      // recover-before-write: recreating a missing swap-managed dir on
      // top of a torn compaction would orphan the .old generation
      graft.engine.DirSwap.recover(targetDir)
      maintenanceMaxFiles.foreach { mf =>
        compactVectorIndexIfNeeded(batch.sparkSession, targetDir, mf,
          keepFrom = batchId)
      }
      overwriteBatch(batch, batchId, LayoutCols, targetDir)
    }
  }

  /** The stream index's hive layout: `cluster` leads (probe pruning),
    * `batch_id` generations under it (the idempotent sink). */
  private val LayoutCols = Seq("cluster", "batch_id")

  /** The `keepFrom` fold of the stream layout's maintenance rewrites:
    * every generation below `keepFrom` folds into `batch_id = -1`, the
    * rest keep their own (see [[compactVectorIndex]]). */
  private def foldBelow(keepFrom: Long)(df: DataFrame): DataFrame =
    df.withColumn("batch_id",
      when(col("batch_id") >= keepFrom, col("batch_id")).otherwise(lit(-1L)))

  /** COMPACT a quiesced [[vectorIndexStream]] target: at streaming
    * cadence every micro-batch leaves one file per touched cluster, so
    * a long-lived index accumulates `batches × clusters` small files
    * and probe cost drifts from bytes to file-open overhead. The
    * rewrite merges everything into the reserved `batch_id = -1`
    * generation — one [[graft.engine.Engine.rewrite]] under the
    * write-layout rule, ONE file per `(cluster, batch_id)` dir,
    * content-identical, `cluster=` pruning untouched — via staging-dir
    * write-swap (a torn compaction leaves the original readable;
    * [[graft.engine.Engine.compact]] is the engine-model twin of this
    * operation). Run it only while the stream is stopped AND its last
    * batch committed: compacting an uncommitted batch's files would
    * let the replay double them under a fresh batch_id — UNLESS those
    * files are excluded via `keepFrom`. Resuming the stream just
    * appends new `batch_id` generations beside `-1` — checkpoint
    * offsets are untouched because the SOURCE, not the sink, owns
    * progress.
    *
    * `keepFrom` makes the rewrite safe to run INSIDE the build stream's
    * micro-batch loop (the [[vectorIndexStream]] `maintenanceMaxFiles`
    * wiring): generations with `batch_id >= keepFrom` keep their own
    * batch_id instead of folding into `-1`. At the START of batch N
    * every generation `< N` is checkpoint-committed (the stream only
    * reaches batch N after committing N−1), while a torn earlier
    * attempt of batch N itself — the replay-doubling hazard — carries
    * `batch_id = N ≥ keepFrom`, stays under its own partition, and the
    * replay's dynamic overwrite replaces it idempotently.
    *
    * Two contract edges, both inherited from the sink's exactly-once
    * model rather than introduced here: (1) `keepFrom` assumes the
    * stream has owned `targetDir` since ITS batch 0 — pointing a FRESH
    * checkpoint at an existing populated dir restarts batch ids at 0,
    * which already breaks the idempotent-overwrite contract (colliding
    * batch_id partitions) before keepFrom ever matters; (2) combining
    * `tombstones` with a finite `keepFrom` deletes reliably only from
    * the FOLDED generations — a kept generation is by definition one a
    * replay may rewrite, and the replay re-emits its source rows
    * without the tombstones. Apply tombstones from the maintenance
    * path only to committed history (the in-loop wiring passes none).
    *
    * `tombstones` applies vector DELETES during the rewrite (the
    * [[graft.engine.Engine.compact]] lifecycle) — and unlike the
    * engine-model twin, NO frontier marker is needed: the engine's
    * incremental build watermarks on the data rows themselves, so
    * deleting its max row would re-ingest history, but here progress
    * lives in the checkpoint's SOURCE offsets — deleting any stored
    * row can never cause re-ingestion. */
  def compactVectorIndex(
      spark: SparkSession,
      targetDir: String,
      tombstones: Option[DataFrame] = None,
      keepFrom: Long = Long.MaxValue): Long = {
    graft.engine.DirSwap.recover(targetDir) // heal a torn prior swap first
    val all = graft.engine.Resolver(spark).read(targetDir)
    val cur = tombstones.fold(all) { t =>
      all.join(broadcast(t.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_anti")
    }
    // one file per (cluster, batch_id) dir; the row count rides the
    // rewrite as an observed metric. Shared rename-aside swap: unlike an
    // engine model, a streaming target may not be rebuildable once
    // source batches are retired, so the swap must never pass through a
    // state with no readable copy
    graft.engine.Engine.rewrite(foldBelow(keepFrom)(cur), LayoutCols, targetDir)
  }

  /** RETRAIN the accumulated streaming index layout — one Lloyd step
    * over everything the stream has written, through the retrain core
    * the engine-built index uses
    * ([[graft.similarity.IncrementalIvfIndex.retrainLayout]]): centroid
    * update from actual membership (k-row aggregate), scan-local kernel
    * reassignment of every stored row (`batch_id` and any PQ columns
    * ride along), `(cluster, batch_id)` rewrite + swap. Returns `(rows, updatedCentroids)` —
    * centroids are CALLER-OWNED state in the streaming API (each
    * AvailableNow maintenance run passes them in), so the caller feeds
    * the returned quantizer to its next [[vectorIndexStream]] /
    * [[vectorSearchStream]] run; the engine-DAG world instead persists
    * them in the train-once `ivf_centroids` model.
    *
    * Replay safety is [[compactVectorIndex]]'s `keepFrom` contract
    * verbatim: committed generations fold into `batch_id = -1` under
    * their NEW clusters; generations `>= keepFrom` keep their batch_id
    * so a torn current batch replays idempotently. Run it BETWEEN
    * stream runs (the maintenance window), like compaction. */
  def retrainVectorIndex(
      spark: SparkSession,
      targetDir: String,
      dims: Int,
      keepFrom: Long = Long.MaxValue): (Long, Array[(Int, Array[Long], Long)]) = {
    val (r, cents) = graft.similarity.IncrementalIvfIndex.retrainLayout(
      spark, targetDir, dims, LayoutCols, foldBelow(keepFrom), None)
    (r.rows, cents)
  }

  /** DRIFT-POLICY streaming retrain (the quantizer twin of
    * [[compactVectorIndexIfNeeded]]): the engine index's drift policy
    * ([[graft.similarity.IncrementalIvfIndex.retrainIfDrifted]]) against
    * the CALLER's current centroids — one k-row centroid-update
    * aggregate + k driver cosines; only below `minSelfCos` does the
    * [[retrainVectorIndex]] rewrite run, reusing the detect pass's
    * centroids. Appends one JSON line per check to
    * `<targetDir>.maintenance.jsonl` (the compaction sidecar), so
    * quantizer drift is CI-observable beside small-files debt. Returns
    * the updated centroids when a retrain ran. */
  def retrainVectorIndexIfNeeded(
      spark: SparkSession,
      targetDir: String,
      cents: Array[(Int, Array[Long], Long)],
      dims: Int,
      minSelfCos: Double,
      keepFrom: Long = Long.MaxValue): Option[(Long, Array[(Int, Array[Long], Long)])] = {
    val IIX = graft.similarity.IncrementalIvfIndex
    IIX.retrainIfDrifted(spark, targetDir, cents, dims, minSelfCos)(up =>
      IIX.retrainLayout(spark, targetDir, dims, LayoutCols, foldBelow(keepFrom), Some(up))._1)
      .map { case (r, updated) => (r.rows, updated) }
  }

  /** Small-files debt of a streaming index layout: the max parquet-file
    * count under one `cluster=` partition, summed across its `batch_id`
    * generations — ≈ micro-batches since the last compaction, the
    * number that decides when [[compactVectorIndex]] is due (the
    * streaming twin of [[graft.engine.Engine.maxFilesPerPartition]]).
    * Local-fs listing; manifest statistics on a real table format. */
  def indexFilesPerCluster(targetDir: String): Int = {
    def countParquet(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles.map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val root = new java.io.File(targetDir)
    if (!root.exists) 0
    else root.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .map(countParquet).foldLeft(0)(math.max)
  }

  /** CADENCE-POLICY index maintenance (the streaming twin of
    * [[graft.engine.Engine.compactIfNeeded]]): compact only when
    * [[indexFilesPerCluster]] exceeds `maxFiles` — a metadata-only
    * listing until the threshold trips, then one cluster-shuffle
    * rewrite resets the debt to one file per cluster (plus any
    * `keepFrom`-preserved generations). Returns the compacted row count
    * when a compaction ran.
    *
    * Each compaction appends one JSON line to the SIDECAR log
    * `<targetDir>.maintenance.jsonl` (outside the swap-managed dir, so
    * it survives every rewrite) — the streaming counterpart of the
    * engine's `max_files_per_partition` run_results field: CI watches
    * cadence and debt from the artifact instead of re-listing the
    * store. Idempotent under replay like the sink itself: a replayed
    * batch re-checks a debt the earlier compaction already reset, so
    * no duplicate event is written. */
  def compactVectorIndexIfNeeded(
      spark: SparkSession,
      targetDir: String,
      maxFiles: Int,
      tombstones: Option[DataFrame] = None,
      keepFrom: Long = Long.MaxValue): Option[Long] = {
    val debt = indexFilesPerCluster(targetDir)
    if (debt > maxFiles) {
      val n = compactVectorIndex(spark, targetDir, tombstones, keepFrom)
      graft.similarity.IncrementalIvfIndex.logMaintenance(targetDir,
        s"""{"event":"compact","files_per_cluster":$debt,""" +
          s""""max_files":$maxFiles,"keep_from":$keepFrom,"rows":$n}""")
      Some(n)
    } else None
  }

  /** The READ side of the streaming vector index: arriving QUERY vectors
    * stream against the accumulated cluster-partitioned index
    * ([[vectorIndexStream]]'s sink) — each query is kernel-assigned its
    * probe cluster (stateless, broadcast frozen centroids), candidates
    * come from a stream-static cluster-equi join against the index scan,
    * and the top-k reduce is the BOUNDED topk_cos aggregate, so per-batch
    * state is ≤k rows per arriving query — never the probed cluster.
    *
    * The per-query top-k depends only on (query row, static index) —
    * no state crosses queries or batches — so the aggregation runs with
    * exact batch semantics inside `foreachBatch` (the documented pattern
    * for stream-static join + aggregation), and exactly-once comes from
    * the IDEMPOTENT sink: results are partitioned by `batch_id` with
    * dynamic partition overwrite, so a replayed batch overwrites its own
    * partition instead of duplicating it (checkpoint offsets decide WHAT
    * each batch contains; the overwrite makes re-delivery harmless).
    * StreamingSpec pins stream ≡ batch [[graft.similarity
    * .IncrementalIvfIndex.searchTopK]] and no-duplication under restart.
    *
    * `nprobe > 1` probes each arriving query's nprobe nearest clusters
    * — probe ranking computed SCAN-LOCALLY by
    * [[graft.similarity.CentroidAssign.kernelTopN]] (the ad-hoc
    * multi-probe path's driver-side ranking would serialize a
    * continuous stream on the driver); StreamingSpec pins the nprobe=2
    * stream ≡ batch `searchTopKFor(nprobe = 2)` and its strict recall
    * win over the single-probe stream.
    *
    * `candFilter` is FILTERED search as a stream (the
    * `q_ann_ivf_filtered` semantics): the metadata predicate applies to
    * the index candidate scan inside every micro-batch — queries probe
    * regardless — so a continuous query stream serves per-tenant /
    * per-facet searches without a per-predicate index copy; widen
    * `nprobe` by the filter's inverse selectivity (the batch rule). */
  def vectorSearchStream(
      spark: SparkSession,
      querySourceDir: String,
      indexDir: String,
      targetDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      cents: Array[(Int, Array[Long], Long)],
      topK: Int,
      nprobe: Int = 1,
      candFilter: Option[org.apache.spark.sql.Column] = None): Unit =
    searchStream(spark, querySourceDir, indexDir, targetDir, checkpointDir, schema) {
      (index, batch) => graft.similarity.IncrementalIvfIndex
        .searchTopKFor(index, batch, cents, topK, nprobe, candFilter)
    }

  /** The loop both search streams share: per micro-batch, `search` the
    * arriving queries against the index and land the results in the
    * idempotent `batch_id` sink. The index resolves PER BATCH, not once
    * at stream start: a maintenance compaction between micro-batches
    * swaps indexDir's files, and a listing pinned at start would 404
    * every later batch. recover() first heals a swap torn mid-rename.
    * (A swap concurrent with a RUNNING batch can still lose the race —
    * that batch fails and the restart replays it idempotently.) */
  private def searchStream(
      spark: SparkSession,
      querySourceDir: String,
      indexDir: String,
      targetDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType)(
      search: (DataFrame, DataFrame) => DataFrame): Unit =
    availableNow(spark.readStream.schema(schema).parquet(querySourceDir), checkpointDir) {
      (batch, batchId) =>
        graft.engine.DirSwap.recover(indexDir)
        val index = graft.engine.Resolver(batch.sparkSession).read(indexDir)
        overwriteBatch(search(index, batch), batchId, Seq("batch_id"), targetDir)
    }

  /** The READ side over the PRODUCTION (PQ / residual-PQ) index layout —
    * the ADC-scored twin of [[vectorSearchStream]] (both run one loop),
    * which completes the streaming lifecycle: [[vectorIndexStream]] with
    * a `codebook` builds the layout, this probes it,
    * [[compactVectorIndex]] maintains it. Each arriving query
    * flows through [[graft.similarity.IncrementalIvfIndex
    * .searchTopKPQFor]]: probe ranking AND the per-query ADC lookup
    * table are computed INSIDE the query's scan task against the
    * broadcast frozen centroids + ≈128 KB codebook
    * ([[graft.similarity.ProductQuantizer.adcProbeKernel]]) — the ad-hoc
    * PQ probes' driver-side ADC tables are fine for driver-sized query
    * batches but would serialize a continuous micro-batch loop on the
    * driver. Candidates come from an EQUI-join on the exploded probe
    * list (BroadcastHashJoin + dynamic partition pruning over the
    * cluster-partitioned scan, reading only the code columns), scoring
    * is integer table lookups, the shortlist reduce is the bounded
    * topk_cos aggregate (per-batch state ≤ shortK rows per query), and
    * only the shortlist's full vectors are re-read for the exact
    * re-rank.
    *
    * Pass `means` (the `ivf_means` table collected to its k-row map) for
    * a residual-PQ index — the kernel then adds each probe's
    * `dot(q, m_c)` IVFADC numerator term; empty for the plain-PQ layout.
    * Same exactly-once contract as [[vectorSearchStream]]: batch results
    * land in a `batch_id` partition with dynamic overwrite, so replays
    * are idempotent — and the same `candFilter` filtered-search option
    * (the predicate rides the code-column candidate scan; the shortlist
    * and re-rank inherit it). StreamingSpec pins stream ≡ batch
    * `searchTopKPQFor` ≡ the driver-ranked `searchTopKPQ[MultiProbe]`
    * on the same index, and no duplication under restart. */
  def vectorSearchStreamPQ(
      spark: SparkSession,
      querySourceDir: String,
      indexDir: String,
      targetDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      cents: Array[(Int, Array[Long], Long)],
      cb: graft.similarity.ProductQuantizer.Codebook,
      means: Map[Int, Array[Long]],
      topK: Int,
      shortK: Int,
      nprobe: Int = 1,
      candFilter: Option[org.apache.spark.sql.Column] = None): Unit =
    searchStream(spark, querySourceDir, indexDir, targetDir, checkpointDir, schema) {
      (index, batch) => graft.similarity.IncrementalIvfIndex
        .searchTopKPQFor(index, batch, cents, cb, means, topK, shortK, nprobe, candFilter)
    }
}
