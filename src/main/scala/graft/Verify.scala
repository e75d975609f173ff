package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** A Verify row list names rows that [[SparkEntry.queries]] lacks. */
final class UnknownRowException(val names: Seq[String])
  extends IllegalArgumentException(
    s"unknown row name(s): ${names.map(n => s"'$n'").mkString(", ")}")

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The optional comma-separated row list as a name set. Every name must
    * be a row: a typo would otherwise just drop that row from the dump and
    * its oracle_sql.json, and read as one pass fewer, not as an error. */
  def selectRows(list: String, known: Set[String]): Set[String] = {
    val names = list.split(",").toSet
    val unknown = (names -- known).toSeq.sorted
    if (unknown.nonEmpty) throw new UnknownRowException(unknown)
    names
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration
    // only; two args dump the full surface), checked before the session
    // starts or any table is read
    val only: Option[Set[String]] =
      if (args.length > 2) Some(selectRows(args(2), SparkEntry.queries.keySet))
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // bucket-grain co-partitioning for multi-key joins over
      // BucketedTable models (Materialization.BucketedTable scaladoc)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a reused outDir may hold this query's output from a PRIOR
          // run — stale parquet must not pass for current results in
          // the DuckDB compare, so the failure leaves no dir at all
          graft.engine.DirSwap.deleteRecursively(s"$outDir/$name")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // filtered runs dump only the filtered subset's oracle entries, so a
    // partial outDir can never pass for a full surface in a DuckDB compare
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
