package graft.streaming

import graft.SparkSpec
import graft.streaming.Streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(m: Int) = new Timestamp(3600L * 1000 * 24 * 365 * 50 + m * 60000L)

  /** True when every generation dir under a stream index layout's
    * `cluster=` dirs whose name passes `gen` holds exactly one part
    * file (and one such dir exists). */
  private def onePartPerDir(tgt: String, gen: String => Boolean): Boolean = {
    val dirs = new java.io.File(tgt).listFiles
      .filter(_.getName.startsWith("cluster=")).toSeq
      .flatMap(_.listFiles.filter(d => d.isDirectory && gen(d.getName)))
    dirs.nonEmpty && dirs.forall(_.listFiles.count(_.getName.startsWith("part-")) == 1)
  }

  private val fixture = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(5), 1, "click", 2.0), // same session (gap 5m < 30m)
    Event(3, ts(90), 1, "purchase", 10.0), // new session (gap 85m)
    Event(4, ts(0), 2, "click", 5.0), // user 2, one session
    Event(5, ts(200), 9, "signup", 0.0)) // watermark pusher

  test("windowed counts: streaming result equals batch result") {
    val input = MemoryStream[Event]
    val q = windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    input.addData(fixture: _*)
    q.processAllAvailable()
    val streamed = spark.table("wc")
      .select($"window_start", $"event_type", $"n", $"sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    q.stop()
    val batch = windowedCounts(fixture.toDF())
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static join: events enrich against a static dimension, equals batch") {
    // the static side is a plan, not a snapshot — each micro-batch joins
    // against it (broadcast: dim is tiny); the batch run is the oracle
    val dim = Seq((1L, "gold"), (2L, "silver"), (9L, "trial")).toDF("user_id", "tier")
    def enrich(events: org.apache.spark.sql.DataFrame) =
      events.join(broadcast(dim), Seq("user_id"), "left")
        .select($"user_id", $"event_id", coalesce($"tier", lit("none")).as("tier"), $"value")
    val input = MemoryStream[Event]
    val q = enrich(input.toDF())
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    input.addData(fixture: _*)
    q.processAllAvailable()
    val streamed = spark.table("enriched")
      .as[(Long, Long, String, Double)].collect().toSet
    q.stop()
    val batch = enrich(fixture.toDF()).as[(Long, Long, String, Double)].collect().toSet
    assert(streamed == batch && batch.size == fixture.size)
  }

  test("sessionize: gap splits sessions; watermark flushes idle state") {
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), java.time.Duration.ofMinutes(30))
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    input.addData(fixture: _*)
    q.processAllAvailable()
    // second micro-batch far in the future so the watermark passes every
    // session's last+gap and EventTimeTimeout flushes them
    input.addData(Event(6, ts(100000), 9, "signup", 0.0))
    q.processAllAvailable()
    val sessions = spark.table("sess")
      .select($"user_id", $"n_events", $"sum_value")
      .as[(Long, Int, Double)].collect().toSet
    q.stop()
    // user 1: [e1,e2] then [e3]; user 2: [e4]; user 9: [e5]
    assert(sessions.contains((1L, 2, 3.0)))
    assert(sessions.contains((1L, 1, 10.0)))
    assert(sessions.contains((2L, 1, 5.0)))
  }

  test("streaming exact dedup: duplicate events across micro-batches emit once") {
    val input = MemoryStream[Event]
    val q = input.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    input.addData(fixture.head, fixture(1))
    q.processAllAvailable()
    input.addData(fixture.head) // replay of event 1 in a later micro-batch
    q.processAllAvailable()
    input.addData(fixture(2))
    q.processAllAvailable()
    val ids = spark.table("dedup").select($"event_id").as[Long].collect().toSeq
    q.stop()
    assert(ids.sorted == Seq(1L, 2L, 3L)) // the replayed event 1 deduped
  }

  test("mapGroupsWithState: per-user lifetime totals accumulate across batches") {
    val input = MemoryStream[Event]
    val q = runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    input.addData(fixture.take(2): _*) // user 1: two clicks, value 1+2
    q.processAllAvailable()
    input.addData(fixture(2)) // user 1: purchase value 10 — state carries over
    q.processAllAvailable()
    val latest = spark.table("totals")
      .groupBy($"user_id").agg(max(struct($"n_events", $"lifetime_value")).as("s"))
      .select($"user_id", $"s.n_events", $"s.lifetime_value")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, v) => k -> ((n, v)) }.toMap
    q.stop()
    assert(latest(1L) == ((3L, 13.0)))
    // batch mode: same function over the full dataset
    val batch = runningUserTotals(fixture.toDS())
      .filter($"user_id" === 1L).as[UserTotals].head()
    assert(batch.n_events == 3 && batch.lifetime_value == 13.0)
  }

  test("stream-stream interval join: purchases enrich with recent clicks") {
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val c = clicks.toDF().withWatermark("ts", "1 hour")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val p = purchases.toDF().withWatermark("ts", "1 hour")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    // join each purchase to clicks within the preceding 30 minutes —
    // watermarks bound both sides' state
    val joined = p.join(c,
      $"user_id" === $"c_user" && $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr("interval 30 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    clicks.addData(Event(1, ts(0), 1, "click", 0), Event(2, ts(100), 1, "click", 0))
    purchases.addData(Event(10, ts(10), 1, "purchase", 5.0), Event(11, ts(200), 2, "purchase", 1.0))
    q.processAllAvailable()
    val rows = spark.table("ssj").select($"purchase_id", $"click_id")
      .as[(Long, Long)].collect().toSet
    q.stop()
    // purchase 10 at t+10m joins click 1 at t+0 (within 30m); click 2 is
    // later; purchase 11 is another user — no match
    assert(rows == Set((10L, 1L)))
  }

  test("stateful aggregation recovers from checkpoint across restarts") {
    val dir = tmpDir("streamagg")
    val src = s"$dir/src"; val out = s"$dir/out"; val ckp = s"$dir/ckp"
    val schema = Seq.empty[Event].toDS().schema
    def runOnce(): Unit = {
      val q = Streaming.windowedCounts(
          spark.readStream.schema(schema).parquet(src), watermark = "5 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: events in hour window 0; a far-future row pushes the
    // watermark so window 0 closes and is emitted
    Seq(fixture.head, fixture(1), fixture(3), fixture(4)).toDS()
      .write.mode("append").parquet(src)
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0) // closed windows flushed
    // restart with new data: state (open windows, watermark) restored
    // from the checkpoint, already-emitted windows are NOT re-emitted
    Seq(Event(7, ts(100000), 9, "signup", 0.0)).toDS()
      .write.mode("append").parquet(src)
    runOnce()
    val finalRows = spark.read.parquet(out)
      .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
      .collect().toSeq
    // no duplicated windows across the restart
    assert(finalRows.distinct.size == finalRows.size)
    // the click window from batch 1 appears exactly once with n=3
    assert(finalRows.count { case (_, et, n) => et == "click" && n == 3 } == 1)
  }

  test("incremental append stream: AvailableNow processes each batch exactly once") {
    val dir = tmpDir("stream")
    val src = s"$dir/src"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    val schema = Seq.empty[Event].toDS().schema
    fixture.take(2).toDS().write.mode("append").parquet(src)
    incrementalAppend(spark, src, tgt, ckp, schema)
    assert(spark.read.parquet(tgt).count() == 2)
    // new files only — the first two must not be reprocessed
    fixture.drop(2).toDS().write.mode("append").parquet(src)
    incrementalAppend(spark, src, tgt, ckp, schema)
    assert(spark.read.parquet(tgt).count() == 5)
    assert(spark.read.parquet(tgt).select("event_id").distinct().count() == 5)
  }

  test("vector index stream: kernel assignment ≡ one-shot batch, exactly-once, partitioned") {
    val dir = tmpDir("vecstream")
    val src = s"$dir/src"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    // the IncrementalIvfIndexSpec corpus: two axis-aligned clusters,
    // vector 5 labeled 0 but nearest to centroid 1 (learned ≠ labeled)
    def vecs(rows: Seq[(Long, Seq[Long])]) = {
      graft.functions.GraftFunctions.register(spark)
      rows.toDF("vec_id", "q")
        .withColumn("q", $"q".cast("array<long>"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
    }
    val training = Seq(
      (0L, Seq(10L, 1L, 0L, 0L)), (1L, Seq(9L, 0L, 1L, 0L)),
      (2L, Seq(0L, 10L, 0L, 1L)), (3L, Seq(1L, 9L, 0L, 0L)))
    val arrivals = Seq(
      (4L, Seq(8L, 1L, 1L, 0L)), (5L, Seq(0L, 8L, 1L, 0L)), (6L, Seq(1L, 7L, 0L, 1L)))
    val labeled = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1)).toDF("vec_id", "label")
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      vecs(training).join(labeled, "vec_id")
        .groupBy($"label")
        .agg(org.apache.spark.sql.functions.array((1 to 4).map(i =>
          sum(element_at($"q", i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)")))
    val schema = vecs(training).schema
    // batch 1: training vectors arrive
    vecs(training).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents)
    assert(spark.read.parquet(tgt).count() == 4)
    // batch 2: arrivals only — the first files must NOT be reprocessed
    vecs(arrivals).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents)
    val got = spark.read.parquet(tgt)
    assert(got.count() == 7)
    // stream ≡ one-shot batch assignment over everything
    val oneShot = graft.similarity.CentroidAssign.kernel(
        vecs(training ++ arrivals), cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    assert(got.select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet == oneShot)
    // learned, not labeled: vector 5 crossed to cluster 1
    assert(oneShot.contains(5L -> 1))
    // cluster-partitioned sink layout (cluster= is the leading level,
    // so probes prune exactly as on the engine-built index)
    val dirs = new java.io.File(tgt).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cluster=")).toSet
    assert(dirs == Set("cluster=0", "cluster=1"), dirs)
    // no FileStreamSink metadata log: readers are plain parquet scans
    // and the layout stays compactable
    assert(!new java.io.File(tgt, "_spark_metadata").exists)

    // micro-batch dust: two batches → two batch_id generations under
    // the clusters they touched
    def gens(cluster: Int): Set[String] =
      new java.io.File(s"$tgt/cluster=$cluster").listFiles
        .filter(_.isDirectory).map(_.getName).toSet
    assert(gens(0) == Set("batch_id=0", "batch_id=1"), gens(0))

    // compaction merges everything into the batch_id=-1 generation:
    // content-identical, one file per cluster, pruning intact
    assert(Streaming.compactVectorIndex(spark, tgt) == 7)
    assert(gens(0) == Set("batch_id=-1") && gens(1) == Set("batch_id=-1"))
    val compacted = spark.read.parquet(tgt)
    assert(compacted.select($"vec_id", $"cluster").as[(Long, Int)]
      .collect().toSet == oneShot)
    assert(new java.io.File(s"$tgt/cluster=0/batch_id=-1").listFiles
      .count(_.getName.startsWith("part-")) == 1)

    // the stream RESUMES over the compacted layout: a third arrival
    // appends its own generation beside -1, exactly-once (checkpoint
    // offsets untouched — the source owns progress, not the sink)
    vecs(Seq((7L, Seq(7L, 1L, 0L, 0L)))).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents)
    val after = spark.read.parquet(tgt)
    assert(after.count() == 8)
    assert(after.filter($"vec_id" === 7L && $"cluster" === 0).count() == 1)

    // tombstoned compaction: deletes apply physically; no marker row is
    // needed (progress lives in the checkpoint's source offsets, so
    // deleting ANY stored row — even the newest — can't re-ingest), and
    // the stream still resumes exactly-once afterwards
    assert(Streaming.compactVectorIndex(spark, tgt,
      Some(Seq(4L, 7L).toDF("vec_id"))) == 6)
    val pruned = spark.read.parquet(tgt)
    assert(pruned.count() == 6)
    assert(pruned.filter($"vec_id".isin(4L, 7L)).count() == 0)
    vecs(Seq((8L, Seq(0L, 9L, 0L, 0L)))).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents)
    val fin = spark.read.parquet(tgt)
    assert(fin.count() == 7)
    assert(fin.filter($"vec_id".isin(4L, 7L)).count() == 0) // stays deleted
  }

  test("vector index stream maintenance: files-per-cluster threshold trips auto-compaction in the batch loop") {
    val dir = tmpDir("vecmaint")
    val src = s"$dir/src"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    def vecs(rows: Seq[(Long, Seq[Long])]) = {
      graft.functions.GraftFunctions.register(spark)
      rows.toDF("vec_id", "q")
        .withColumn("q", $"q".cast("array<long>"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
    }
    val training = Seq(
      (0L, Seq(10L, 1L, 0L, 0L)), (1L, Seq(9L, 0L, 1L, 0L)),
      (2L, Seq(0L, 10L, 0L, 1L)), (3L, Seq(1L, 9L, 0L, 0L)))
    val labeled = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1)).toDF("vec_id", "label")
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      vecs(training).join(labeled, "vec_id")
        .groupBy($"label")
        .agg(org.apache.spark.sql.functions.array((1 to 4).map(i =>
          sum(element_at($"q", i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)")))
    val schema = vecs(training).schema
    // every arrival batch lands in cluster 0, so its debt climbs one
    // file per micro-batch — the small-files shape the cadence bounds
    val all = (0 to 3).map(i => (10L + i, Seq(10L - i, 1L, 0L, 0L)))
    def run(): Unit = Streaming.vectorIndexStream(
      spark, src, tgt, ckp, schema, cents, maintenanceMaxFiles = Some(2))
    for ((v, i) <- all.zipWithIndex) {
      vecs(Seq(v)).write.mode("append").parquet(src)
      run()
      val debt = Streaming.indexFilesPerCluster(tgt)
      assert(debt <= 3, s"batch $i: debt $debt escaped the cadence bound")
    }
    def gens(): Set[String] =
      new java.io.File(s"$tgt/cluster=0").listFiles
        .filter(_.isDirectory).map(_.getName).toSet
    // batches 0-2 accumulated to debt 3 > 2, so batch 3's loop folded
    // them into -1 BEFORE appending its own generation (keepFrom kept
    // batch 3 out of the fold — it wasn't committed yet)
    assert(gens() == Set("batch_id=-1", "batch_id=3"), gens())
    // the write-layout rule on the in-loop rewrite: ONE part file in each
    // batch_id=-1 dir it wrote (batch 3's own dir is the sink's)
    assert(onePartPerDir(tgt, _ == "batch_id=-1"))
    // exactly-once through the maintenance: every arrival exactly once,
    // assignments ≡ one-shot batch kernel
    val got = spark.read.parquet(tgt)
    assert(got.count() == 4)
    val oneShot = graft.similarity.CentroidAssign.kernel(vecs(all), cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    assert(got.select($"vec_id", $"cluster").as[(Long, Int)]
      .collect().toSet == oneShot)
    // the stream RESUMES exactly-once over the rewritten layout
    vecs(Seq((20L, Seq(9L, 2L, 0L, 0L)))).write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(tgt).count() == 5)
    assert(spark.read.parquet(tgt)
      .filter($"vec_id" === 20L).count() == 1)
    // keepFrom preserves uncommitted generations under a DIRECT call
    // too: fold everything below the newest gen, keep it in place
    assert(Streaming.compactVectorIndex(spark, tgt, keepFrom = 4L) == 5)
    assert(gens() == Set("batch_id=-1", "batch_id=4"), gens())

    // the sidecar maintenance log recorded the in-loop compaction (one
    // strict-JSON line with the tripped debt) and survived the swap
    val logLines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$tgt.maintenance.jsonl"))
    assert(logLines.size == 1, logLines)
    val ev = spark.read.option("mode", "FAILFAST")
      .json(spark.createDataset(Seq(logLines.get(0)))(
        org.apache.spark.sql.Encoders.STRING)).first()
    assert(ev.getAs[String]("event") == "compact")
    assert(ev.getAs[Long]("files_per_cluster") == 3L)
    assert(ev.getAs[Long]("keep_from") == 3L)
    assert(ev.getAs[Long]("rows") == 3L)
  }

  test("vector search stream: stream-static probe ≡ batch searchTopK, exactly-once under restart") {
    val dir = tmpDir("vecsearch")
    val isrc = s"$dir/isrc"; val idx = s"$dir/idx"; val ickp = s"$dir/ickp"
    val qsrc = s"$dir/qsrc"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    def vecs(rows: Seq[(Long, Seq[Long])]) = {
      graft.functions.GraftFunctions.register(spark)
      rows.toDF("vec_id", "q")
        .withColumn("q", $"q".cast("array<long>"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
    }
    val training = Seq(
      (0L, Seq(10L, 1L, 0L, 0L)), (1L, Seq(9L, 0L, 1L, 0L)),
      (2L, Seq(0L, 10L, 0L, 1L)), (3L, Seq(1L, 9L, 0L, 0L)))
    val arrivals = Seq(
      (4L, Seq(8L, 1L, 1L, 0L)), (5L, Seq(0L, 8L, 1L, 0L)), (6L, Seq(1L, 7L, 0L, 1L)))
    val labeled = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1)).toDF("vec_id", "label")
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      vecs(training).join(labeled, "vec_id")
        .groupBy($"label")
        .agg(org.apache.spark.sql.functions.array((1 to 4).map(i =>
          sum(element_at($"q", i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)")))
    val schema = vecs(training).schema
    // accumulate the full cluster-partitioned index via the maintenance
    // stream, then probe it with a SEPARATE stream of arriving queries
    vecs(training ++ arrivals).write.mode("append").parquet(isrc)
    Streaming.vectorIndexStream(spark, isrc, idx, ickp, schema, cents)
    val index = spark.read.parquet(idx)

    def hitSet() = spark.read.parquet(tgt)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet

    // query batch 1: vector 0 arrives — stream result ≡ the batch probe
    vecs(training.take(1)).write.mode("append").parquet(qsrc)
    Streaming.vectorSearchStream(spark, qsrc, idx, tgt, ckp, schema, cents, topK = 2)
    val batchTruth = graft.similarity.IncrementalIvfIndex
      .searchTopK(index, nQueries = 1, topK = 2)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(hitSet() == batchTruth)
    assert(batchTruth == Set((0L, 4L, 1), (0L, 1L, 2))) // cluster-0 probe

    // restart with no new queries: checkpoint offsets + idempotent
    // batch_id-partitioned sink ⇒ nothing reprocessed, nothing duplicated
    Streaming.vectorSearchStream(spark, qsrc, idx, tgt, ckp, schema, cents, topK = 2)
    assert(spark.read.parquet(tgt).count() == 2)

    // query batch 2: vector 5 (the learned≠labeled crosser) — only its
    // rows are appended, and they match the batch probe of ITS cluster
    vecs(arrivals.filter(_._1 == 5L)).write.mode("append").parquet(qsrc)
    Streaming.vectorSearchStream(spark, qsrc, idx, tgt, ckp, schema, cents, topK = 2)
    val truth5 = graft.similarity.IncrementalIvfIndex
      .searchTopKFor(index, vecs(arrivals.filter(_._1 == 5L)), cents, topK = 2)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(truth5.map(_._1) == Set(5L))
    assert(hitSet() == batchTruth ++ truth5)
  }

  test("PQ-encoded index stream: stream-built ≡ engine-built, row-for-row and through the ADC probe") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmpDir("vecstreampq")
    val src = s"$dir/src"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    // 64-dim corpus (ProductQuantizer's fixed subspace geometry)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"label".cast("int").as("label"),
        transform($"embedding", x => round(x * 100, 0).cast("long")).as("q"))
      .withColumn("nsq", expr("dot_i64(q, q)"))
      .localCheckpoint()
    val bounds = e.agg(min($"vec_id"), max($"vec_id")).first()
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2

    // the engine-built reference index (one-shot modelsPQ build)
    val engDir = tmpDir("vecstreampq_eng")
    val rpt = new graft.engine.Engine(spark, engDir,
      Map("vectors" -> e, "vectors_training" -> e),
      graft.similarity.IncrementalIvfIndex.modelsPQ(
        "vectors", "vectors_training", 64)).build()
    assert(rpt.ok, rpt.results.mkString("; "))

    // stream the same corpus in two micro-batches through the same
    // frozen quantizers (centroids + codebook from the engine build)
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      spark.read.parquet(s"$engDir/ivf_centroids"))
    val cb = graft.similarity.ProductQuantizer.collectCodebook(
      spark.read.parquet(s"$engDir/pq_codebook"))
    val feed = e.select($"vec_id", $"q", $"nsq")
    val schema = feed.schema
    feed.filter($"vec_id" <= mid).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents, codebook = Some(cb))
    feed.filter($"vec_id" > mid).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents, codebook = Some(cb))

    // row-for-row: same (vec_id, cluster, codes, npq) as the engine DAG
    def rowsOf(d: String) = spark.read.parquet(d)
      .select($"vec_id", $"cluster", $"codes", $"npq")
      .as[(Long, Int, Seq[Int], Long)].collect().toSet
    assert(rowsOf(tgt) == rowsOf(s"$engDir/ivf_index"))

    // and the ADC probe over the stream-accumulated directory gives
    // the engine-built index's results exactly
    def probe(d: String) = graft.similarity.IncrementalIvfIndex
      .searchTopKPQ(spark.read.parquet(d),
        spark.read.parquet(s"$engDir/pq_codebook"),
        nQueries = 5, topK = 10, shortK = 30)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)]
      .collect().toSet
    assert(probe(tgt) == probe(s"$engDir/ivf_index"))
  }

  test("vector search stream nprobe=2: ≡ batch multi-probe, strict recall win over single-probe stream") {
    val dir = tmpDir("vecsearchmp")
    val isrc = s"$dir/isrc"; val idx = s"$dir/idx"; val ickp = s"$dir/ickp"
    val qsrc = s"$dir/qsrc"
    def vecs(rows: Seq[(Long, Seq[Long])]) = {
      graft.functions.GraftFunctions.register(spark)
      rows.toDF("vec_id", "q")
        .withColumn("q", $"q".cast("array<long>"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
    }
    val training = Seq(
      (0L, Seq(10L, 1L, 0L, 0L)), (1L, Seq(9L, 0L, 1L, 0L)),
      (2L, Seq(0L, 10L, 0L, 1L)), (3L, Seq(1L, 9L, 0L, 0L)))
    // vector 7: query 0's near-boundary true neighbor that lands in
    // cluster 1 — what single-probe loses and nprobe=2 recovers
    val arrivals = Seq(
      (4L, Seq(8L, 1L, 1L, 0L)), (5L, Seq(0L, 8L, 1L, 0L)),
      (6L, Seq(1L, 7L, 0L, 1L)), (7L, Seq(6L, 7L, 1L, 0L)))
    val labeled = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1)).toDF("vec_id", "label")
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      vecs(training).join(labeled, "vec_id")
        .groupBy($"label")
        .agg(org.apache.spark.sql.functions.array((1 to 4).map(i =>
          sum(element_at($"q", i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)")))
    val schema = vecs(training).schema
    vecs(training ++ arrivals).write.mode("append").parquet(isrc)
    Streaming.vectorIndexStream(spark, isrc, idx, ickp, schema, cents)
    val index = spark.read.parquet(idx)

    def hits(tgt: String): Set[(Long, Long, Int)] = spark.read.parquet(tgt)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet

    // same arriving query through a single-probe and an nprobe=2 sink
    vecs(training.take(1)).write.mode("append").parquet(qsrc)
    Streaming.vectorSearchStream(
      spark, qsrc, idx, s"$dir/tgt1", s"$dir/ckp1", schema, cents, topK = 3)
    Streaming.vectorSearchStream(
      spark, qsrc, idx, s"$dir/tgt2", s"$dir/ckp2", schema, cents, topK = 3,
      nprobe = 2)
    val single = hits(s"$dir/tgt1")
    val multi = hits(s"$dir/tgt2")

    // stream ≡ batch for the multi-probe read path
    val batchTruth = graft.similarity.IncrementalIvfIndex
      .searchTopKFor(index, vecs(training.take(1)), cents, topK = 3, nprobe = 2)
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(multi == batchTruth)

    // strict recall win: the boundary neighbor only the second probe sees
    assert(single.map(t => (t._1, t._2)).subsetOf(multi.map(t => (t._1, t._2))))
    assert(multi.exists(t => t._2 == 7L) && !single.exists(t => t._2 == 7L))

    // FILTERED search as a stream: the metadata predicate (even vec_id)
    // applies to the candidate scan inside the micro-batch — queries
    // probe regardless — and the stream equals the batch filtered probe
    val pred = $"vec_id" % 2 === 0
    Streaming.vectorSearchStream(
      spark, qsrc, idx, s"$dir/tgt3", s"$dir/ckp3", schema, cents, topK = 3,
      nprobe = 2, candFilter = Some(pred))
    val filtered = hits(s"$dir/tgt3")
    assert(filtered.nonEmpty && filtered.forall(_._2 % 2 == 0), filtered)
    val batchFiltered = graft.similarity.IncrementalIvfIndex
      .searchTopKFor(index, vecs(training.take(1)), cents, topK = 3,
        nprobe = 2, candFilter = Some(pred))
      .select($"query_id", $"vec_id", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(filtered == batchFiltered)
    // pre-filtering recovers qualifying neighbors below the unfiltered
    // top-3 (post-filtering that result would miss them)
    assert((filtered.map(_._2) -- multi.map(_._2)).nonEmpty)
  }

  test("PQ search stream: scan-local ADC read ≡ batch probe ≡ driver-ranked probe, exactly-once under restart") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmpDir("vecsearchadc")
    val qsrc = s"$dir/qsrc"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    // engine-built RESIDUAL-PQ index (the full IVFADC production layout)
    // over the 64-dim corpus
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"label".cast("int").as("label"),
        transform($"embedding", x => round(x * 100, 0).cast("long")).as("q"))
      .withColumn("nsq", expr("dot_i64(q, q)"))
      .localCheckpoint()
    val engDir = tmpDir("vecsearchadc_eng")
    val rpt = new graft.engine.Engine(spark, engDir,
      Map("vectors" -> e, "vectors_training" -> e),
      graft.similarity.IncrementalIvfIndex.modelsPQResidual(
        "vectors", "vectors_training", 64)).build()
    assert(rpt.ok, rpt.results.mkString("; "))
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      spark.read.parquet(s"$engDir/ivf_centroids"))
    val cb = graft.similarity.ProductQuantizer.collectCodebook(
      spark.read.parquet(s"$engDir/pq_codebook"))
    val means = graft.similarity.IncrementalIvfIndex.collectMeans(
      spark.read.parquet(s"$engDir/ivf_means"))
    val index = spark.read.parquet(s"$engDir/ivf_index")
    val queries = e.filter($"vec_id" < 5).select($"vec_id", $"q", $"nsq")
      .localCheckpoint()
    val schema = queries.schema
    def run(): Unit = Streaming.vectorSearchStreamPQ(
      spark, qsrc, s"$engDir/ivf_index", tgt, ckp, schema,
      cents, cb, means, topK = 10, shortK = 30, nprobe = 2)
    def hits() = spark.read.parquet(tgt)
      .select($"query_id", $"vec_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet

    // two query micro-batches through the ADC stream — the union must
    // equal one batch `searchTopKPQFor` over all queries (per-query
    // results are independent of batching)
    queries.filter($"vec_id" < 2).write.mode("append").parquet(qsrc)
    run()
    queries.filter($"vec_id" >= 2).write.mode("append").parquet(qsrc)
    run()
    val batchTruth = graft.similarity.IncrementalIvfIndex
      .searchTopKPQFor(index, queries, cents, cb, means,
        topK = 10, shortK = 30, nprobe = 2)
      .select($"query_id", $"vec_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(hits() == batchTruth)
    assert(batchTruth.nonEmpty)

    // …and the scan-local path agrees with the DRIVER-ranked ad-hoc
    // probe on the same index (ranking + ADC scoring homes bit-equal)
    val driverTruth = graft.similarity.IncrementalIvfIndex
      .searchTopKPQResidualMultiProbe(index,
        spark.read.parquet(s"$engDir/pq_codebook"),
        spark.read.parquet(s"$engDir/ivf_means"),
        spark.read.parquet(s"$engDir/ivf_centroids"),
        nQueries = 5, topK = 10, shortK = 30, nprobe = 2)
      .select($"query_id", $"vec_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(batchTruth == driverTruth)

    // restart with no new queries: checkpoint offsets + the idempotent
    // batch_id sink ⇒ nothing reprocessed, nothing duplicated
    val n = spark.read.parquet(tgt).count()
    run()
    assert(spark.read.parquet(tgt).count() == n)

    // FILTERED ADC stream: the metadata predicate rides the code-column
    // candidate scan; the shortlist and full-vector re-rank inherit it.
    // Stream ≡ batch filtered probe, predicate honored exactly.
    val pred = $"vec_id" % 2 === 0
    Streaming.vectorSearchStreamPQ(
      spark, qsrc, s"$engDir/ivf_index", s"$dir/tgtf", s"$dir/ckpf", schema,
      cents, cb, means, topK = 10, shortK = 30, nprobe = 2,
      candFilter = Some(pred))
    val filtered = spark.read.parquet(s"$dir/tgtf")
      .select($"query_id", $"vec_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(filtered.nonEmpty && filtered.forall(_._2 % 2 == 0))
    val batchFiltered = graft.similarity.IncrementalIvfIndex
      .searchTopKPQFor(index, queries, cents, cb, means,
        topK = 10, shortK = 30, nprobe = 2, candFilter = Some(pred))
      .select($"query_id", $"vec_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(filtered == batchFiltered)
    // pre-filtering recovers qualifying neighbors below the unfiltered
    // top-k (post-filtering batchTruth would miss them)
    assert((filtered.map(_._2) -- batchTruth.map(_._2)).nonEmpty)
  }

  test("CDC merge stream: upsert state ≡ batch truth; restart applies each change once") {
    val dir = tmpDir("cdcmerge")
    val src = s"$dir/src"; val wh = s"$dir/wh"; val ckp = s"$dir/ckp"
    val schema = Seq.empty[(Long, String, Long)]
      .toDF("k", "v", "seq").schema
    def run(): Unit =
      Streaming.cdcMergeStream(spark, src, wh, ckp, schema, "k", "seq")
    def state = spark.read.parquet(s"$wh/cdc_state")
      .select($"k", $"v", $"seq").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // batch 1: inserts, including an in-batch overwrite of k=2
    // (last-writer-wins by seq inside a micro-batch)
    Seq((1L, "a", 1L), (2L, "b", 2L), (2L, "b2", 3L), (3L, "c", 4L))
      .toDF("k", "v", "seq").write.mode("append").parquet(src)
    run()
    assert(state == Map(1L -> ("a", 1L), 2L -> ("b2", 3L), 3L -> ("c", 4L)))
    // batch 2 after a "restart" (same checkpoint): update k=1, delete-
    // style tombstone is out of scope, insert k=4; k=2/3 untouched
    Seq((1L, "A", 5L), (4L, "d", 6L)).toDF("k", "v", "seq")
      .write.mode("append").parquet(src)
    run()
    assert(state == Map(1L -> ("A", 5L), 2L -> ("b2", 3L),
      3L -> ("c", 4L), 4L -> ("d", 6L)))
    // re-run with NO new files: checkpoint offsets make it a no-op —
    // state unchanged (each change applied exactly once)
    run()
    assert(state == Map(1L -> ("A", 5L), 2L -> ("b2", 3L),
      3L -> ("c", 4L), 4L -> ("d", 6L)))
  }

  test("streaming retrain preserves null-q marker rows verbatim") {
    // the streaming layout stores no markers today, but the retrain
    // rewrite must carry any future maintenance marker through — and
    // the assignment kernel must never see the null vector
    val dir = tmpDir("vecstreamrtm")
    val tgt = s"$dir/tgt"
    graft.functions.GraftFunctions.register(spark)
    val data = Seq(
      (0L, Seq(10L, 0L, 0L, 0L), 0, 1L), (1L, Seq(9L, 1L, 0L, 0L), 0, 1L),
      (2L, Seq(0L, 10L, 0L, 1L), 1, 1L), (3L, Seq(1L, 9L, 0L, 0L), 1, 2L))
      .toDF("vec_id", "q", "cluster", "batch_id")
      .withColumn("q", $"q".cast("array<long>"))
      .withColumn("nsq", expr("dot_i64(q, q)"))
    val marker = Seq((99L, 0, 0L)).toDF("vec_id", "cluster", "batch_id")
      .withColumn("q", lit(null).cast("array<long>"))
      .withColumn("nsq", lit(null).cast("long"))
    data.unionByName(marker.select(data.columns.map(col): _*))
      .repartition($"cluster")
      .write.partitionBy("cluster", "batch_id").parquet(tgt)
    val (n, cents) = Streaming.retrainVectorIndex(spark, tgt, 4)
    assert(n == 4 && cents.length == 2) // markers carry no data weight
    val post = spark.read.parquet(tgt)
    assert(post.count() == 5)
    val m = post.filter($"q".isNull)
    assert(m.count() == 1)
    assert(m.select($"vec_id").first().getLong(0) == 99L)
    // the marker's generation folds like any committed row's (cast: the
    // hive partition column reads back with directory-name-inferred type)
    assert(m.select($"batch_id".cast("long")).first().getLong(0) == -1L)
    // and the drift-check CADENCE path must survive the marker layout
    // too (it aggregates the same table — a null label would crash the
    // typed centroid collect): no retrain due when centroids match
    val none = Streaming.retrainVectorIndexIfNeeded(
      spark, tgt, cents, 4, minSelfCos = 0.0)
    assert(none.isEmpty, "identical centroids must not trip a retrain")
    // and a due check still runs the full rewrite with markers present
    val some = Streaming.retrainVectorIndexIfNeeded(
      spark, tgt, cents, 4, minSelfCos = 1.1)
    assert(some.nonEmpty && some.get._1 == 4L)
    assert(spark.read.parquet(tgt).filter($"q".isNull).count() == 1)
  }

  test("streaming retrain: drift gate over the stream-built layout; caller-owned centroids rotate") {
    val dir = tmpDir("vecstreamrt")
    val src = s"$dir/src"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    def vecs(rows: Seq[(Long, Seq[Long])]) = {
      graft.functions.GraftFunctions.register(spark)
      rows.toDF("vec_id", "q")
        .withColumn("q", $"q".cast("array<long>"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
    }
    // the IncrementalIvfIndexSpec retrain geometry: drift mass pulls
    // cluster 1 toward the diagonal; vector 6 ties to 0 under the
    // snapshot quantizer but belongs to the UPDATED cluster 1
    val training = Seq(
      (0L, Seq(10L, 1L, 0L, 0L)), (1L, Seq(9L, 0L, 1L, 0L)),
      (2L, Seq(0L, 10L, 0L, 1L)), (3L, Seq(1L, 9L, 0L, 0L)))
    val drift = Seq(
      (4L, Seq(5L, 9L, 0L, 0L)), (5L, Seq(6L, 8L, 0L, 0L)),
      (6L, Seq(7L, 7L, 0L, 0L)))
    val labeled = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1)).toDF("vec_id", "label")
    val cents = graft.similarity.CentroidAssign.collectCentroids(
      vecs(training).join(labeled, "vec_id")
        .groupBy($"label")
        .agg(org.apache.spark.sql.functions.array((1 to 4).map(i =>
          sum(element_at($"q", i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)")))
    val schema = vecs(training).schema
    vecs(training ++ drift).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents)
    def assigned(): Set[(Long, Int)] = spark.read.parquet(tgt)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    assert(assigned().contains(6L -> 0)) // snapshot-quantizer tie

    // permissive threshold: detect-only, layout untouched
    assert(Streaming.retrainVectorIndexIfNeeded(spark, tgt, cents, 4, minSelfCos = 0.5).isEmpty)
    assert(assigned().contains(6L -> 0))

    // tight threshold: retrain runs — boundary row moves, generations
    // fold, the UPDATED quantizer comes back to the caller
    val (Some((n, cents2)), dueJobs) = jobsDuring(Streaming.retrainVectorIndexIfNeeded(
      spark, tgt, cents, 4, minSelfCos = 0.9999))
    // the detect pass's centroid update feeds the retrain: the corpus
    // aggregate runs once, not once more inside the rewrite
    assert(dueJobs <= 5, s"a due drift retrain launched $dueJobs jobs")
    assert(n == 7)
    assert(assigned().contains(6L -> 1))
    assert(cents2.map(c => (c._1, c._2.toSeq, c._3)).toSet == Set(
      (0, Seq(26L, 8L, 1L, 0L), 741L), (1, Seq(12L, 36L, 0L, 1L), 1441L)))
    def gens(cluster: Int): Set[String] =
      new java.io.File(s"$tgt/cluster=$cluster").listFiles
        .filter(_.isDirectory).map(_.getName).toSet
    assert(gens(0) == Set("batch_id=-1") && gens(1) == Set("batch_id=-1"))
    // the write-layout rule on the retrain rewrite: one part file per dir
    assert(onePartPerDir(tgt, _ => true))

    // the NEXT stream run assigns against the rotated quantizer,
    // exactly-once over the rewritten layout: (51,50,0,0) discriminates
    // (snapshot → cluster 0, retrained → cluster 1)
    vecs(Seq((7L, Seq(51L, 50L, 0L, 0L)))).write.mode("append").parquet(src)
    Streaming.vectorIndexStream(spark, src, tgt, ckp, schema, cents2)
    assert(assigned().contains(7L -> 1))
    assert(spark.read.parquet(tgt).count() == 8)
    // stream-after-retrain ≡ one-shot kernel under the retrained cents
    val oneShot = graft.similarity.CentroidAssign
      .kernel(vecs(training ++ drift :+ ((7L, Seq(51L, 50L, 0L, 0L)))), cents2)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    assert(assigned() == oneShot)

    // at the fixed point the policy is a permanent no-op, and the
    // sidecar carries one line per check
    assert(Streaming.retrainVectorIndexIfNeeded(spark, tgt, cents2, 4, 0.9999)
      .forall(_._1 == 8L))
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tgt.maintenance.jsonl")).trim.split("\n")
    assert(log.length == 3, log.mkString("|"))
    assert(log(0).contains("\"due\":false"))
    assert(log(1).contains("\"due\":true") && log(1).contains("\"rows\":7"))
  }
}
