package whbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine.{BuildReport, CsvLoader, Engine, Materialization}
import graft.finance.FinanceWarehouse
import graft.queries._

/** JVM side of the benchmark: one client, one operation at a time, only
  * public entry points of the program. It runs a fixed op sequence that
  * `run.py` sized and generated, and writes per-op timings, the outputs
  * the correctness gates need, and (traced runs) spans and job records
  * to `<work>/result.json`. All metric math happens in `run.py`.
  *
  * Args: workload data work cores shuffle warmup ops trace [reads]
  * (`reads`, the dashboard loads per op, is for `wh_daily` only)
  */
object Main {

  final case class Args(workload: String, data: String, work: String, cores: Int,
      shuffle: Int, warmup: Int, ops: Int, trace: Boolean, reads: Int)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = Args(argv(0), argv(1), argv(2), argv(3).toInt, argv(4).toInt,
      argv(5).toInt, argv(6).toInt, argv(7) == "1", argv.lift(8).fold(0)(_.toInt))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("whbench")
      .config("spark.sql.shuffle.partitions", a.shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, a)
    try {
      a.workload match {
        case "wh_daily" => new Warehouse(spark, a, rec).daily()
        case "board" => new Board(spark, a, rec).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.write(s"${a.work}/result.json")
    } finally spark.stop()
  }
}

/** Collects ops, spans and (traced ops only) Spark job records. */
final class Recorder(spark: SparkSession, a: Main.Args) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  val ops = mutable.ArrayBuffer.empty[Json.Obj]
  val spans = mutable.ArrayBuffer.empty[Json.Obj]
  val control = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var spanId = 0
  private val stack = mutable.Stack.empty[Int]
  private val listener = new JobListener
  var setupS: Double = -1.0
  private var heapPeakMb = 0.0

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Wrap `body` in a span; returns its result and duration in seconds. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): (T, Double) = {
    spanId += 1
    val id = spanId
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val s = System.nanoTime()
    val startMs = nowMs
    val fields = mutable.LinkedHashMap[String, Any]("id" -> id, "parent" -> parent,
      "name" -> name, "start_ms" -> startMs)
    attrs.foreach { case (k, v) => fields(k) = v }
    try {
      val r = body
      val dur = (System.nanoTime() - s) / 1e9
      fields("end_ms") = startMs + dur * 1e3
      (r, dur)
    } finally {
      if (!fields.contains("end_ms")) {
        fields("end_ms") = nowMs
        fields("error") = true
      }
      stack.pop()
      spans += Json.Obj(fields.toSeq)
      notePeak()
    }
  }

  /** Tracing covers every other timed op (the second, fourth, ...), so one
    * traced run measures both the per-layer numbers and its own overhead;
    * with four or more timed ops a linear drift across ops cancels out of
    * the comparison. Warm-up ops and the first timed op, which still
    * carries JIT warm-up, are never traced. */
  def traced(timedIndex: Int): Boolean = a.trace && timedIndex % 2 == 1

  def startTrace(): Unit = spark.sparkContext.addSparkListener(listener)
  def stopTrace(): Unit = {
    org.apache.spark.whbench.BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private val memory = ManagementFactory.getMemoryMXBean
  private var timedRegion = false
  private def heapUsedMb: Double = memory.getHeapMemoryUsage.getUsed / 1048576.0
  /** Peak heap in use, sampled at every span boundary after set-up. */
  private def notePeak(): Unit =
    if (timedRegion) heapPeakMb = math.max(heapPeakMb, heapUsedMb)

  /** Heap in use after a full GC, outside any timed region. */
  def liveHeapMb(): Double = {
    System.gc()
    heapUsedMb
  }

  /** Fixed-work CPU job on `cores` threads, no Spark: attributes host
    * contention between runs. */
  def controlSample(): Unit = {
    val s = System.nanoTime()
    val threads = (0 until a.cores).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) println("")
      })
      th.start(); th
    }
    threads.foreach(_.join())
    control += (System.nanoTime() - s) / 1e9
  }

  def endSetup(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    timedRegion = true
  }

  def write(path: String): Unit = {
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "cores" -> a.cores, "shuffle_partitions" -> a.shuffle,
      "jvm_setup_s" -> setupS, "heap_peak_mb" -> heapPeakMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "control_s" -> control.toSeq, "ops" -> ops.toSeq, "spans" -> spans.toSeq,
      "jobs" -> listener.records)
    extra.foreach { case (k, v) => out(k) = v }
    Files.write(Paths.get(path), Json.render(Json.Obj(out.toSeq)).getBytes("UTF-8"))
  }
}

/** Benchmark-owned SparkListener: jobs with their job group and the
  * summed task metrics of their completed stages. Events are only
  * appended here; the bus is drained once per traced op, outside the
  * timed region. */
final class JobListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private final class J(val id: Int, val group: String, val submitMs: Long) {
    var endMs = -1L; var ok = false; var stages = 0; var tasks = 0; var taskMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var input = 0L; var output = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, J]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = new J(e.jobId, g, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
      val m = si.taskMetrics
      j.stages += 1
      j.tasks += si.numTasks
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def records: Seq[Json.Obj] = synchronized {
    jobs.values.toSeq.map(j => Json.Obj(Seq("id" -> j.id, "group" -> j.group,
      "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "shuffle_write_bytes" -> j.shuffleWrite,
      "spill_bytes" -> j.spill, "input_bytes" -> j.input, "output_bytes" -> j.output)))
  }
}

/** wh_daily: the finance DAG over landed CSV batches. */
final class Warehouse(spark: SparkSession, a: Main.Args, rec: Recorder) {
  private val vars = FinanceWarehouse.Vars()
  private val models = FinanceWarehouse.models(vars)
  private val raw = s"${a.work}/raw"

  private val schemas: Map[String, StructType] = {
    def s(cols: (String, DataType)*) = StructType(cols.map { case (n, t) => StructField(n, t) })
    Map(
      "accounts" -> s("account_id" -> StringType, "account_name" -> StringType,
        "industry" -> StringType, "country" -> StringType, "signup_date" -> DateType,
        "referral_source" -> StringType, "plan_tier" -> StringType, "seats" -> IntegerType,
        "is_trial" -> BooleanType, "churn_flag" -> BooleanType),
      "subscriptions" -> s("subscription_id" -> StringType, "account_id" -> StringType,
        "start_date" -> DateType, "end_date" -> DateType, "plan_tier" -> StringType,
        "seats" -> IntegerType, "mrr_amount" -> DoubleType, "arr_amount" -> DoubleType,
        "is_trial" -> BooleanType, "upgrade_flag" -> BooleanType,
        "downgrade_flag" -> BooleanType, "churn_flag" -> BooleanType,
        "billing_frequency" -> StringType, "auto_renew_flag" -> BooleanType),
      "support_tickets" -> s("ticket_id" -> StringType, "account_id" -> StringType,
        "submitted_at" -> TimestampType, "closed_at" -> TimestampType,
        "resolution_time_hours" -> DoubleType, "priority" -> StringType,
        "first_response_time_minutes" -> DoubleType, "satisfaction_score" -> DoubleType,
        "escalation_flag" -> BooleanType))
  }

  /** Batch directories written by run.py, in landing order. */
  private def batches: Seq[File] =
    new File(s"${a.data}/batches").listFiles.filter(_.isDirectory).sortBy(_.getName).toSeq

  private def batchTs(dir: File): Timestamp =
    Timestamp.valueOf(s"${dir.getName.stripPrefix("b_")} 06:00:00")

  /** Land one batch: accounts and subscriptions append to the raw log,
    * the ticket export replaces its table (reference loader modes). */
  private def land(dir: File, ts: Timestamp): Long =
    Seq("accounts" -> "append", "subscriptions" -> "append", "support_tickets" -> "replace")
      .map { case (name, mode) =>
        CsvLoader.load(spark, s"${dir.getPath}/$name.csv", s"$raw/$name", ts, mode,
          Some(schemas(name)))
      }.sum

  private def engine(dir: String): Engine = new Engine(spark, dir,
    Seq("accounts", "subscriptions", "support_tickets").map(n =>
      s"raw_$n" -> spark.read.parquet(s"$raw/$n")).toMap, models)

  private val kinds: Map[String, String] = models.map(m => m.name -> (m.materialization match {
    case _: Materialization.IncrementalAppend => "append"
    case Materialization.View => "view"
    case _: Materialization.MergeUpsert => "merge_upsert"
    case _: Materialization.Scd2Snapshot => "scd2"
    case _: Materialization.DeleteInsert => "delete_insert"
    case _: Materialization.BucketedTable => "bucketed"
    case _ => "table"
  })).toMap

  /** The fixed dashboard: every tile is `Engine.ref` plus one action. */
  private def dashboard(e: Engine): (Seq[(String, Double)], Seq[Seq[Any]], Double) = {
    val lastMonth = java.sql.Date.valueOf("2025-12-01")
    val window = java.sql.Date.valueOf("2025-10-01")
    var waterfall: Seq[Seq[Any]] = Nil
    var decMrr = 0.0
    val tiles = Seq[(String, () => Unit)](
      "waterfall" -> (() => {
        waterfall = e.ref("mart_mrr_waterfall_month").orderBy("month_start_date")
          .select(col("month_start_date").cast("string"), col("begin_mrr"), col("end_mrr"),
            col("active_accounts"), col("churned_accounts"), col("new_accounts"),
            col("reactivated_accounts"))
          .collect().toSeq.map(_.toSeq)
      }),
      "movements" -> (() => {
        e.ref("fct_account_month").filter(col("month_start_date") >= lit(window))
          .groupBy("month_start_date", "movement_type")
          .agg(count(lit(1)), sum("mrr_delta")).collect()
      }),
      "top_accounts" -> (() => {
        e.ref("fct_account_month").filter(col("month_start_date") === lit(lastMonth))
          .orderBy(desc("mrr_end_mrr"), asc("account_id")).limit(20).collect()
      }),
      "mrr_by_industry" -> (() => {
        val acct = e.ref("dim_account").filter(col("is_current")).select("account_id", "industry")
        decMrr = e.ref("fct_subscription_month")
          .filter(col("month_start_date") === lit(lastMonth))
          .join(acct, "account_id").groupBy("industry").agg(sum("mrr_amount").as("m"))
          .collect().map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1)).sum
      }),
      "tickets" -> (() => {
        e.ref("stg_support_tickets").groupBy("priority")
          .agg(count(lit(1)), avg("resolution_time_hours")).collect()
      }),
      "versions" -> (() => {
        e.ref("dim_subscription").groupBy("is_current").count().collect()
      }))
    val times = tiles.map { case (name, f) => name -> rec.span(s"read.$name")(f())._2 }
    (times, waterfall, decMrr)
  }

  private def reportJson(r: BuildReport): Seq[Json.Obj] = r.results.map(n => Json.Obj(Seq(
    "name" -> n.name, "kind" -> kinds.getOrElse(n.name, "table"), "status" -> n.status,
    "elapsed_ms" -> n.elapsedMs, "rows" -> n.rows,
    "max_files_per_partition" -> n.maxFilesPerPartition,
    "failed_checks" -> n.failedChecks, "error" -> n.error.orNull)))

  private def dirStats(dir: String): (Map[String, (Long, Long)], Long) = {
    val m = mutable.HashMap.empty[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".")) m(f.getPath) = (f.length, f.lastModified)
    walk(new File(dir))
    (m.toMap, m.values.map(_._1).sum)
  }

  private def csvBytes(dir: File): Long = dir.listFiles.map(_.length).sum

  /** One op: land + build, then `a.reads` loads of the dashboard. */
  private def op(kind: String, index: Int, warm: Boolean, timedIndex: Int,
      whDir: String, dir: File): Unit = {
    val tr = !warm && rec.traced(timedIndex)
    val before = if (tr) Some(dirStats(whDir)._1) else None
    if (tr) rec.startTrace()
    val gc0 = rec.gcMs
    val ts = batchTs(dir)
    var report: BuildReport = null
    var err: String = null
    val (dash, buildS, readS) = try {
      val (e, bs) = rec.span("op.build", "op" -> index) {
        rec.span("land", "op" -> index)(land(dir, ts))
        val e = engine(whDir)
        report = rec.span("engine.build", "op" -> index)(e.build(ts))._1
        e
      }
      val loads = (0 until a.reads).map(_ => rec.span("op.read", "op" -> index)(dashboard(e)))
      (loads.map(_._1), bs, loads.map(_._2))
    } catch {
      case t: Throwable =>
        err = t.toString
        (Nil, -1.0, Nil)
    }
    val gcS = (rec.gcMs - gc0) / 1e3
    if (tr) rec.stopTrace()
    val fields = mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "index" -> index, "warmup" -> warm, "traced" -> tr,
      "build_s" -> buildS, "read_s" -> readS, "gc_s" -> gcS, "error" -> err,
      "batch" -> dir.getName, "build_ok" -> (report != null && report.ok))
    if (report != null) fields("nodes") = reportJson(report)
    dash.lastOption.foreach { case (times, wf, dec) =>
      fields("tiles") = Json.Obj(times.map { case (t, _) =>
        t -> dash.map(_._1.collectFirst { case (`t`, s) => s }.get) })
      fields("waterfall") = wf
      fields("dec_mrr_by_industry") = dec
    }
    if (tr) {
      val (after, total) = dirStats(whDir)
      val b = before.get
      fields("files_written") = after.count { case (p, v) => !b.get(p).contains(v) }
      fields("warehouse_bytes") = total
      fields("batch_csv_bytes") = csvBytes(dir)
    }
    fields("live_heap_mb") = rec.liveHeapMb()
    rec.ops += Json.Obj(fields.toSeq)
  }

  /** Bootstrap from the first batch, then one op per later batch. */
  def daily(): Unit = {
    val bs = batches
    require(bs.size == 1 + a.warmup + a.ops, s"expected ${1 + a.warmup + a.ops} batches")
    val wh = s"${a.work}/warehouse"
    rec.controlSample()
    op("bootstrap", 0, warm = true, 0, wh, bs.head)
    bs.tail.zipWithIndex.foreach { case (dir, i) =>
      val warm = i < a.warmup
      if (i == a.warmup) { rec.endSetup(); rec.controlSample(); rec.controlSample() }
      op("daily", i + 1, warm, i - a.warmup, wh, dir)
    }
    rec.controlSample(); rec.controlSample()
  }
}

/** board: fixed passes over a subset of `SparkEntry.queries`. */
final class Board(spark: SparkSession, a: Main.Args, rec: Recorder) {
  /** One row per query module except Finance, whose models `wh_daily`
    * runs. Construction trains a BPE vocabulary (Text) or an IVF
    * index (Similarity), or runs engine builds (SqlSurface); the other
    * rows are scan/shuffle bound. Every row has a DuckDB oracle. */
  val subset: Seq[String] = Seq(
    "q_agg_rollup", "q_win_dedup_latest", "q_date_functions", "q_text_bpe_encode",
    "q_dedup_minhash_lsh", "q_ann_ivf_topk", "q_media_dedup_exact",
    "q_stream_tumbling_window", "q_uv_sketch_incremental", "q_agg_cube",
    "q_pipeline_mix_temperature")

  private val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> RelationalQueries.qs, "Window" -> WindowQueries.qs,
    "Date" -> DateQueries.qs, "Text" -> TextQueries.qs, "Finance" -> FinanceQueries.qs,
    "Dedup" -> DedupQueries.qs, "Similarity" -> SimilarityQueries.qs,
    "Multimodal" -> MultimodalQueries.qs, "Streaming" -> StreamingQueries.qs,
    "SqlSurface" -> SqlSurfaceQueries.qs, "OlapExtras" -> OlapExtrasQueries.qs,
    "Pipeline" -> PipelineQueries.qs)

  /** Warm-up passes write into the noop sink; timed passes write each
    * result to `out/p<pass>/<query>` for the oracle gate. */
  def run(): Unit = {
    val fns = SparkEntry.queries
    val module = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val oracle = SparkEntry.oracleSql
    val missing = subset.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    rec.extra("queries") = Json.Obj(subset.map(q => q -> Json.Obj(Seq(
      "module" -> module(q), "oracle" -> oracle.get(q).orNull))))
    rec.controlSample()
    (0 until a.warmup + a.ops).foreach { p =>
      val warm = p < a.warmup
      if (p == a.warmup) { rec.endSetup(); rec.controlSample(); rec.controlSample() }
      val tables = a.data + "/tables"
      val tr = !warm && rec.traced(p - a.warmup)
      if (tr) rec.startTrace()
      val gc0 = rec.gcMs
      val errors = mutable.LinkedHashMap.empty[String, String]
      val (per, passS) = rec.span("op.pass", "op" -> p) {
        subset.map { q =>
          var buildS, actS = -1.0
          try {
            val (df, b) = rec.span("q.build", "query" -> q, "module" -> module(q))(
              fns(q)(spark, tables))
            buildS = b
            actS = rec.span("q.action", "query" -> q, "module" -> module(q)) {
              if (warm) df.write.format("noop").mode("overwrite").save()
              else df.write.mode("overwrite").parquet(s"${a.work}/out/p$p/$q")
            }._2
          } catch { case t: Throwable => errors(q) = t.toString }
          spark.catalog.clearCache()
          q -> Json.Obj(Seq("build_s" -> buildS, "action_s" -> actS))
        }
      }
      val gcS = (rec.gcMs - gc0) / 1e3
      if (tr) rec.stopTrace()
      rec.ops += Json.Obj(Seq("kind" -> "pass", "index" -> p, "warmup" -> warm,
        "traced" -> tr, "pass_s" -> passS, "gc_s" -> gcS, "queries" -> Json.Obj(per),
        "errors" -> Json.Obj(errors.toSeq), "live_heap_mb" -> rec.liveHeapMb()))
    }
    rec.controlSample(); rec.controlSample()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
