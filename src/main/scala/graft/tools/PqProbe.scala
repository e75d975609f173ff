package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-phase attribution for the PQ/IVFADC bench family (per-step
  * wall time and Spark job counts, applied to CONSTRUCTION): the r20
  * phases map shows q_ann_ivf_pq_residual_incremental spending 9.5 s of
  * its 9.9 s median in the build phase at sf0.1 — yet the embeddings table is 2,000
  * rows, so the time is fixed per-step overhead (Spark jobs, exchanges,
  * write/read round-trips), not data. This probe times each sub-step of
  * one rep and counts the Spark JOBS it launches, so a job-count
  * reduction (the optimization lever at this scale, and the pass-count
  * lever at 100 TB) reads directly off the before/after output.
  *
  * Steps: quantized+minmax scalars, engine build 1 (half corpus),
  * engine build 2 (full), probe construction (driver collects), probe
  * action (noop sink), plus the standalone codebook-training action
  * (`entriesDf` noop) that dominates the pq_codebook model.
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // per-job call-site log (description + first graft frame), to
    // attribute a step's job COUNT to the code that launched each job
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        def p(k: String) = Option(js.properties)
          .flatMap(x => Option(x.getProperty(k))).getOrElse("")
        jobLog.add((p("spark.jobGroup.id") + " | " +
          js.stageInfos.map(_.name.takeWhile(_ != '+')).distinct
            .mkString(" / ")).take(160))
      }
    })
    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Int)]
    def step[T](name: String)(body: => T): T = {
      // drain listener-visible job starts from the previous step
      org.apache.spark.graftaccess.SparkListenerAccess.drain(spark.sparkContext)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftaccess.SparkListenerAccess.drain(spark.sparkContext)
      out += ((name, dt, jobs.get() - j0))
      if (!name.startsWith("warm_")) {
        System.err.println(s"== $name jobs:")
        jobLog.forEach(d => System.err.println(s"  - $d"))
      }
      jobLog.clear()
      r
    }
    val Dims = 64
    // one untimed warm pass of the whole rep, then the timed pass
    (0 to 1).foreach { rep =>
      val tag = if (rep == 0) "warm_" else ""
      val e = step(tag + "quantized")(
        graft.Tables.embeddings(spark, dir).select(
          col("vec_id"), col("label"),
          transform(col("embedding"), x => round(x * 100, 0).cast("long")).as("q"))
          .withColumn("nsq", expr("dot_i64(q, q)")))
      val (mid, wh) = step(tag + "minmax") {
        val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
        ((b.getLong(0) + b.getLong(1)) / 2,
          graft.engine.Scratch.dir("graft_pqprobe"))
      }
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(spark, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQResidual(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      step(tag + "build1")(build(e.filter(col("vec_id") <= mid)))
      step(tag + "build2")(build(e))
      val probe = step(tag + "probe_construct")(
        graft.similarity.IncrementalIvfIndex.searchTopKPQResidual(
          graft.engine.Resolver(spark).read(s"$wh/ivf_index"),
          graft.engine.Resolver(spark).read(s"$wh/pq_codebook"),
          graft.engine.Resolver(spark).read(s"$wh/ivf_means"),
          5, 10, shortK = 30))
      step(tag + "probe_action")(consume(probe))
      // standalone codebook training action (modelsPQ's pq_codebook body)
      step(tag + "entriesDf_action")(consume(
        graft.similarity.ProductQuantizer.entriesDf(
          e.select(col("vec_id"), col("q"), col("nsq")))))
      // decomposition: the exploded cell stream alone, then the cell-sum
      // aggregate alone — locates entriesDf's constant (codegen compile?
      // scan expr cost? exchange?)
      step(tag + "cells_action")(consume(
        graft.similarity.ProductQuantizer.cellRows(
          e.select(col("vec_id"), col("q"), col("nsq")))))
      step(tag + "centroids_action")(consume(
        graft.similarity.IncrementalIvfIndex.centroids(e, Dims)))
    }
    val total = out.collect { case (n, t, _) if !n.startsWith("warm_") => t }.sum
    println(out.map { case (n, t, j) =>
      f""""$n":{"s":$t%.3f,"jobs":$j}""" }.mkString("{", ",", f""","total_s":$total%.3f}"""))
    spark.stop()
  }
}
