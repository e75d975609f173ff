package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage attribution for q_media_clip_filter's scale-letter gap
  * (measure the stages, attribute the constant).
  *
  * The BOARD query synthesizes its image/caption pair from the
  * embeddings table (quantize ×100 + sign-flip — deterministic fixture
  * both engines replay, since the corpus ships no caption embeddings).
  * The OPERATOR (Multimodal.clipFilter) consumes ALREADY-PAIRED integer
  * vectors — the contrastive-encoder emit shape its scaladoc names as
  * the production input. This probe times, median-of-3 noop-sink each,
  * on an amplified corpus dir (arg 1, default /tmp/scale_64):
  *
  *   full     — the board query as benched (fixture + gate)
  *   fixture  — the pair-construction projection alone, no gate
  *   gate     — clipFilter alone over a PRE-MATERIALIZED paired table
  *              (written once to arg 2, default /tmp/clip_paired;
  *              scripts/clip_probe_duck.py times DuckDB's gate over the
  *              SAME parquet for the operator-grain denominator)
  *
  * full ≈ fixture ⇒ the letter-rule gap lives in the synthetic pairing
  * (Spark's higher-order transform() is interpreted per row while
  * DuckDB's list_transform is natively vectorized), not in the gate the
  * operator actually is.
  */
object ClipProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/tmp/scale_64")
    val pairedDir = args.drop(1).headOption.getOrElse("/tmp/clip_paired")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // same pair construction as the board query (MultimodalQueries):
    // ×100-quantize, then sign-flip the first (id % 48) coordinates
    def fixture(d: String) = graft.Tables.embeddings(spark, d)
      .select(col("vec_id").as("media_id"),
        transform(col("embedding"), x => round(x * 100, 0).cast("long"))
          .as("iq"))
      .withColumn("tq", expr(
        "transform(iq, (x, i) -> if(i < media_id % 48, -x, x))"))
    // pre-materialize the operator-grain input ONCE (untimed)
    fixture(dir).write.mode("overwrite").parquet(pairedDir)
    val paired = spark.read.parquet(pairedDir)
    def med3(mk: () => org.apache.spark.sql.DataFrame): Double =
      Seq.fill(3) {
        val t0 = System.nanoTime()
        consume(mk())
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    // warm all three shapes
    consume(graft.SparkEntry.queries("q_media_clip_filter")(spark, dir))
    consume(fixture(dir))
    consume(graft.multimodal.Multimodal.clipFilter(paired, "media_id", "iq", "tq", 28))
    val full = med3(() =>
      graft.SparkEntry.queries("q_media_clip_filter")(spark, dir))
    val fix = med3(() => fixture(dir))
    val gate = med3(() =>
      graft.multimodal.Multimodal.clipFilter(paired, "media_id", "iq", "tq", 28))
    println(f"""{"full_s":$full%.3f,"fixture_s":$fix%.3f,"gate_s":$gate%.3f,"dir":"$dir","paired":"$pairedDir"}""")
    spark.stop()
  }
}
