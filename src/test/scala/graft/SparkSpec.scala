package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, ScalaTest
  * runs suites sequentially in the forked JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs launched by `body`, counted off the listener bus. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftaccess.SparkListenerAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftaccess.SparkListenerAccess.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("spark-wh").toString)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    // accept bucket-grain co-partitioning for multi-key joins (see
    // Materialization.BucketedTable scaladoc) — subset clustering is
    // always correct; the default-true guard only hedges parallelism
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // off the default 15002 so ConnectSmokeSpec can't collide with a
    // concurrently-running Connect server on the host
    .config("spark.connect.grpc.binding.port", ConnectPort.toString)
    .getOrCreate()
  /** Port the ConnectSmokeSpec gRPC server binds (static conf — must be
    * on the SparkConf before the context exists). */
  val ConnectPort = 15999
}
