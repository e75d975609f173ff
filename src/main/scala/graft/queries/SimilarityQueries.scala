package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (builder brief): brute-force cosine top-k as the exactness baseline,
  * and an IVF-style inverted-file variant as the scale path.
  *
  * Engine-portable determinism: embeddings are quantized to integer
  * centi-units, so dot products and squared norms are exact 64-bit
  * integers in both engines; the only float op is the final
  * `dot/sqrt(na·nb)` — computed identically (same operand bits, same IEEE
  * ops) on both sides, so ordering and rounding agree.
  *
  * Scale notes:
  *  - Brute force: queries are broadcast (tiny side), candidates stream —
  *    a BroadcastNestedLoopJoin over the fact side, O(|Q|·N) but
  *    scan-local and embarrassingly parallel; per-partition top-k then a
  *    single k·|Q|-row final reduce via the rank window.
  *  - IVF: centroids are an element-wise SUM per cluster (cosine is
  *    scale-invariant, so sum ≡ mean — and stays integer-exact). Probing
  *    searches only the assigned cluster: N/C of the data per query. At
  *    100 TB, cluster-partitioned storage turns a query into a
  *    partition-pruned scan.
  */
object SimilarityQueries {

  private val Dims = 64
  private val TopK = 10
  private val ShortK = TopK * 3 // code-scored shortlist per query, re-ranked exactly
  private val NQueries = 5
  private val NProbe = 2 // clusters probed by the multi-probe IVF variant
  // filtered-search probe width: single-probe widened by the filter's
  // inverse selectivity (vec_id % 3 = 0 keeps ~1/3 of candidates), so
  // the expected QUALIFYING candidate count matches unfiltered 1-probe
  private val FilteredProbe = 3
  // Matryoshka rerank coarse width: the prefix-dim slice the coarse
  // stage scores on (P/D of the flops and — with the prefix stored as
  // its own column at production layout — of the scanned bytes)
  private val PrefixDims = 16
  // the deterministic tombstone set both deletion-lifecycle queries and
  // their shared oracle use: every DeleteMod-th vec_id ≡ DeleteRem,
  // restricted to non-query rows (declared BEFORE qs: the oracle
  // strings interpolate these during qs's initialization)
  private val DeleteMod = 7
  private val DeleteRem = 3
  // hybrid RRF fusion (q_hybrid_search_rrf): one query document (doc_id
  // ≡ vec_id — the testdata aligns the two tables 1:1), top-N per
  // modality list, fused top-k, and the standard RRF smoothing k=60
  private val HybridQueryDoc = 0
  private val HybridListN = 50
  private val HybridTopK = 20
  private val RrfK = 60
  // MMR diversified re-rank (q_ann_mmr_rerank): shortlist size, picks,
  // and the relevance/diversity trade λ. (1 − λ) is computed at RUNTIME
  // on both sides from the same parsed literal (the BM25K1 idiom).
  private val MmrShortN = 30
  private val MmrPicks = 10
  private val MmrLambda = 0.7

  /** Signed-random-projection planes for the LSH variant: P hyperplanes
    * of small ints, generated ONCE from a fixed seed and inlined
    * verbatim into both the Spark plan (literal arrays) and the DuckDB
    * oracle SQL — bucket bits are signs of exact integer dot products,
    * so both engines bucket identically. P=6 ⇒ 64 buckets: a query
    * scans ~N/64 candidates single-probe; q_ann_lsh_multiprobe flips the
    * two lowest-|margin| bits for ~3N/64 scans at strictly higher
    * recall — the standard multi-probe recall/scan trade at 100 TB. */
  private val Planes: Seq[Array[Long]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(6)(Array.fill(Dims)((rnd.nextInt(19) - 9).toLong))
  }

  /** vec_id, label, q (int array), nsq (squared norm). Dot products use
    * the native codegen'd [[graft.functions.DotI64]] expression — inside
    * whole-stage codegen with no encoder boundary (HOF
    * `aggregate(zip_with(...))` is interpreted per element; a 64-term
    * element_at tree codegens but bloats the generated method). */
  private def quantized(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, dir).select(
      col("vec_id"), col("label"), DedupQueries.quantize(col("embedding")).as("q"))
      .withColumn("nsq", expr("dot_i64(q, q)"))
  }

  private val quantizedSql =
    """e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(round(x * 100) AS BIGINT)) AS q,
      |         list_sum(list_transform(list_transform(embedding,
      |             x -> CAST(round(x * 100) AS BIGINT)), x -> x * x)) AS nsq
      |  FROM embeddings)""".stripMargin

  private def dot(a: String, b: String): Column = expr(s"dot_i64($a, $b)")

  /** Sign-bit packing for the binary-quantization query: 32 bits of `q`
    * starting after `off`, folded into ONE non-negative BIGINT (bit i−1
    * set iff q[off+i] > 0). Two 32-bit words instead of one 64-bit word
    * keeps every packed value in positive range, so the arithmetic
    * (shift + sum) is portable across engines with no dependence on
    * sign-bit shift/overflow behavior. Spark-SQL and DuckDB twins of
    * the same fold. */
  private def packBitsSpark(off: Int): String =
    s"""aggregate(transform(sequence(1, 32),
       |  i -> IF(element_at(q, i + $off) > 0, shiftleft(1L, i - 1), 0L)),
       |  0L, (a, x) -> a + x)""".stripMargin
  private def packBitsDuck(off: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 32),
       |  i -> CASE WHEN q[i + $off] > 0 THEN (1::BIGINT << (i - 1))
       |       ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin

  private def cosine(dotC: Column, na: Column, nb: Column): Column =
    dotC / sqrt(na.cast("double") * nb.cast("double"))

  /** Shared skew-safe final reduce for the ANN family: candidate rows
    * `(query_id, vec_id, dot, nq, nc)` → top-k per query via the native
    * bounded [[graft.functions.TopKCos]] aggregate (map-side partial
    * merge: ≤k rows per partition per query cross the exchange — the
    * row_number window this replaces shuffled every candidate into \|Q\|
    * partitions). Emits the oracle shape `(query_id, vec_id, rnk,
    * cos_sim)`; ties and rounding bit-match the window form. */
  private def topKReduce(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy(col("query_id"))
      .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.vec_id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        round(col("col.cos"), 4).as("cos_sim"))

  /** Element-wise integer sum per label = the unnormalized centroid `c`
    * (cosine is scale-invariant, so sum ≡ mean and stays integer-exact),
    * with its squared norm `ncsq`. */
  private def centroids(e: DataFrame): DataFrame =
    e.groupBy(col("label"))
      .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
      .withColumn("ncsq", expr("dot_i64(c, c)"))

  /** Each query row of `qs` (`query_id`, `qq`, `nq`, …) once per probed
    * cluster: the `label`s of its `n` nearest centroids, cosine DESC then
    * lowest label. The rank filter is pushed below the shuffle as a
    * WindowGroupLimit, so at most n rows per query cross it. */
  private def probeLabels(qs: DataFrame, cent: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosine(dot("qq", "c"), col("nq"), col("ncsq")).desc, col("label"))
    qs.crossJoin(broadcast(cent))
      .withColumn("rnk", row_number().over(w))
      .filter(if (n == 1) col("rnk") === 1 else col("rnk") <= n)
      .select(qs.columns.map(col) :+ col("label"): _*)
  }

  /** SQ8 codes: `q` scaled by ONE global max|component|/127 (a
    * driver-collected scalar, the same double math as the oracle's `s`
    * CTE) into int8-range `c`, with its squared norm `ncsq8`. */
  private def sq8Codes(e: DataFrame): DataFrame = {
    val maxAbs = e.select(max(array_max(transform(col("q"), x => abs(x)))))
      .first().getLong(0)
    e.withColumn("c", transform(col("q"), x => round(x / lit(maxAbs / 127.0), 0).cast("long")))
      .withColumn("ncsq8", expr("dot_i64(c, c)"))
  }

  /** The two-stage tail of every code-scored variant: `scored`
    * (`query_id`, `vec_id`, `dot`, `nq`, `nc` on codes) collapses to
    * [[ShortK]] candidates per query MAP-SIDE through the bounded
    * topk_cos aggregate (a row_number window would shuffle every scored
    * candidate into |Q| partitions: a hot cluster becomes one hot task).
    * The shortlist's full vectors come back by a broadcast of the tiny id
    * set against the corpus `e`, and the final window ranks ≤ ShortK rows
    * per query on exact cosines against `queries`' `qq`/`nq`. */
  private def shortlistRerank(e: DataFrame, scored: DataFrame, queries: DataFrame): DataFrame = {
    val shortIds = scored.groupBy(col("query_id"))
      .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $ShortK)").as("top"))
      .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qq"), col("nq"))), "query_id")
    val cosE = cosine(dot("qq", "q"), col("nq"), col("nsq"))
    val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
    e.join(broadcast(shortIds), "vec_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("vec_id"), col("rnk"), round(cosE, 4).as("cos_sim"))
  }

  // ---- the IVF/PQ variant table: each `Ivf` row below is one board
  // query, and ivfQ generates both its Spark plan and its DuckDB oracle
  // from the row — a new variant is one more row, not another hand-wired
  // plan and oracle pair.

  /** How probed candidates are scored: exact integer cosine (`Flat`), or
    * on codes — `Sq8` int8 codes, `Pq` product-quantization codes with
    * ADC table-lookup scoring (Jégou et al.: M=8 codebook indices per
    * vector, one M×256 dot table per query), or `PqResidual`, PQ of the
    * residual v − m_c to the cluster's floor-divided integer mean (the
    * IVFADC form, §IV-A: lower reconstruction error, pinned in
    * SimilaritySpec) — then shortlisted and re-ranked exactly. Codebooks
    * are trained deterministically (see ProductQuantizer), so both
    * engines derive bit-identical codes and scores. */
  private sealed trait Kind
  private case object Flat extends Kind
  private case object Sq8 extends Kind
  private case object Pq extends Kind
  private case object PqResidual extends Kind

  /** Where the inverted file comes from. `AdHoc`: the raw label, in one
    * query over the checkpointed corpus. `Built`: two `Engine.build`s
    * (half the corpus, then all of it) accumulate the LEARNED index
    * delta-only — each build assigns only its batch against centroids
    * trained once on the fixed snapshot (~half the corpus crosses labels
    * at sf0.01); see [[graft.similarity.IncrementalIvfIndex]].
    * `Streamed`: the same layout from two real AvailableNow micro-batch
    * runs of the index stream (kernel assignment against frozen
    * centroids, idempotent sink, in-loop maintenance). Built and streamed
    * rows hash-match a one-shot oracle: incremental ≡ batch, checked by
    * the driver, not just the specs. */
  private sealed trait Feed
  private case object AdHoc extends Feed
  private case object Built extends Feed
  private case object Streamed extends Feed

  /** How a query picks clusters: its `n` nearest centroids ranked on the
    * driver (n = 1 is single probe; a larger n probes a superset, so
    * recall dominates), the same ranking computed inside each query's
    * scan task (`Kernel`: the streaming-safe path, checked against the
    * SAME oracle, so the driver verifies the two ranking homes agree
    * bit-for-bit), or no search at all (`Stats`: per-cluster row counts
    * and id bounds of the built index — cluster skew is probe skew). */
  private sealed trait Probe
  private final case class Nearest(n: Int) extends Probe
  private final case class Kernel(n: Int) extends Probe
  private case object Stats extends Probe

  /** An index lifecycle step. `Compact` rewrites the cluster-partitioned
    * storage without the tombstones after the second build, after which
    * the plain probe must give the corpus-minus-deleted result. `Retrain`
    * runs one Lloyd step over the stored index between the builds; the
    * swapped-in centroids are durable, so the second build assigns its
    * arrivals against the retrained quantizer. */
  private sealed trait Step
  private case object Compact extends Step
  private case object Retrain extends Step

  /** One IVF/PQ board row. `filtered` pre-filters candidates on the
    * `vec_id % 3 = 0` attribute predicate (it rides the candidate scan,
    * so filtered search is cheaper, never a recall trade); `tombstones`
    * removes [[deleteSet]] from the searched corpus — by an anti-join at
    * probe time, or with `Compact` by rewriting storage. */
  private final case class Ivf(
      name: String, kind: Kind, feed: Feed, probe: Probe = Nearest(1),
      filtered: Boolean = false, tombstones: Boolean = false,
      step: Option[Step] = None)

  /** Single-probe IVF over the raw labels: the board's timed similarity
    * row, and the candidate arm of q_ann_recall_eval. */
  private val IvfTopK = Ivf("q_ann_ivf_topk", Flat, AdHoc)

  private val ivfVariants: Seq[Ivf] = Seq(
    IvfTopK,
    Ivf("q_ann_ivf_multiprobe", Flat, AdHoc, Nearest(NProbe)),
    // a selective filter starves one probe: widen it by 1/selectivity
    Ivf("q_ann_ivf_filtered", Flat, AdHoc, Nearest(FilteredProbe), filtered = true),
    Ivf("q_ann_ivf_sq8", Sq8, AdHoc),
    Ivf("q_ann_ivf_pq", Pq, AdHoc),
    Ivf("q_ann_ivf_pq_residual", PqResidual, AdHoc),
    Ivf("q_ann_ivf_incremental", Flat, Built),
    Ivf("q_ann_ivf_incremental_multiprobe", Flat, Built, Nearest(NProbe)),
    Ivf("q_ann_ivf_incremental_multiprobe_kernel", Flat, Built, Kernel(NProbe)),
    Ivf("q_ann_ivf_incremental_filtered", Flat, Built, Nearest(FilteredProbe),
      filtered = true),
    Ivf("q_ann_ivf_stream_lifecycle", Flat, Streamed),
    Ivf("q_ann_ivf_stream_lifecycle_pq", Pq, Streamed),
    Ivf("q_ann_ivf_index_stats", Flat, Built, Stats),
    // PQ codes stored IN the index: the probe scans (codes, npq) only
    Ivf("q_ann_ivf_pq_incremental", Pq, Built),
    Ivf("q_ann_ivf_pq_incremental_multiprobe", Pq, Built, Nearest(NProbe)),
    Ivf("q_ann_ivf_pq_multiprobe_kernel", Pq, Built, Kernel(NProbe)),
    // the complete production IVFADC configuration
    Ivf("q_ann_ivf_pq_residual_incremental", PqResidual, Built),
    Ivf("q_ann_ivf_pq_residual_incremental_multiprobe", PqResidual, Built, Nearest(NProbe)),
    Ivf("q_ann_ivf_pq_residual_multiprobe_kernel", PqResidual, Built, Kernel(NProbe)),
    // the two halves of the deletion lifecycle share one oracle
    Ivf("q_ann_ivf_incremental_delete", Flat, Built, tombstones = true),
    Ivf("q_ann_ivf_incremental_compact", Flat, Built, tombstones = true,
      step = Some(Compact)),
    Ivf("q_ann_ivf_incremental_retrain", Flat, Built, step = Some(Retrain)))

  val qs: Seq[Q] = Seq(

    // ---- brute-force cosine top-k: exact baseline
    Q.sql(
      "q_ann_bruteforce_topk",
      s"""WITH $quantizedSql,
         |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> qs.q[i] * c.q[i])) AS dot,
         |         qs.nsq AS nq, c.nsq AS nc
         |  FROM qs JOIN e c ON c.vec_id <> qs.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id,
         |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
         |  FROM pairs)
         |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
         |FROM ranked WHERE rnk <= $TopK""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val pairs = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      // skew-safe top-k (see topKReduce): map-side bounded aggregate
      // instead of shuffling all N scored candidates into |Q| window
      // partitions — the worst skew shape at 100 TB
      topKReduce(pairs, TopK)
    },

    // ---- MATRYOSHKA prefix-dimension rerank (Kusupati et al. 2022,
    // "Matryoshka Representation Learning"): MRL-trained embeddings
    // front-load information, so the first P dims are themselves a
    // usable low-dim embedding — the coarse pass scores EVERY candidate
    // on the P-dim prefix (P/D of the flops and, with the prefix stored
    // as its own column at production layout, P/D of the scanned
    // bytes), shortlists 3k per query through the bounded topk_cos
    // aggregate, and only the shortlist touches full-width vectors for
    // the exact re-rank. Same two-stage economics as q_ann_sq8_rerank
    // but cutting DIMENSIONS instead of precision — the two compose.
    // Integer-exact on both stages (prefix dots and norms are exact
    // int64 on both engines), so the shortlist membership and final
    // ranking hash-match.
    Q.sql(
      "q_ann_matryoshka_rerank", {
        val shortN = TopK * 3
        s"""WITH $quantizedSql,
           |ep AS (
           |  SELECT vec_id, q, nsq, list_slice(q, 1, $PrefixDims) AS qp,
           |         list_sum(list_transform(list_slice(q, 1, $PrefixDims),
           |                  x -> x * x)) AS nsp
           |  FROM e),
           |qs AS (SELECT * FROM ep WHERE vec_id < $NQueries),
           |coarse AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $PrefixDims),
           |                  i -> qs.qp[i] * c.qp[i])) AS dot,
           |         qs.nsp AS nq, c.nsp AS nc
           |  FROM qs JOIN ep c ON c.vec_id <> qs.vec_id),
           |sl AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
           |                      vec_id) AS rnk8
           |    FROM coarse) t
           |  WHERE rnk8 <= $shortN),
           |exact AS (
           |  SELECT s.query_id, s.vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims), i -> q1.q[i] * c.q[i]))
           |           / sqrt(CAST(q1.nsq AS DOUBLE) * CAST(c.nsq AS DOUBLE)) AS cos_raw
           |  FROM sl s JOIN e q1 ON q1.vec_id = s.query_id JOIN e c ON c.vec_id = s.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id, cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY cos_raw DESC, vec_id) AS rnk
           |  FROM exact) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir)
        .withColumn("qp", expr(s"slice(q, 1, $PrefixDims)"))
        .withColumn("nsp", expr("dot_i64(qp, qp)"))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq_full"),
          col("nsq").as("nq_full"), col("qp").as("qqp"), col("nsp").as("nqp"))
      val coarse = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qqp", "qp").as("dot"),
          col("nqp").as("nq"), col("nsp").as("nc"))
      val shortIds = coarse.groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), ${TopK * 3})").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qs.select(col("query_id"),
          col("qq_full").as("qq"), col("nq_full").as("nq"))), "query_id")
      val rerank = quantized(s, dir).select(col("vec_id"), col("q"), col("nsq"))
        .join(broadcast(shortIds), "vec_id")
      val cosE = dot("qq", "q") /
        sqrt(col("nq").cast("double") * col("nsq").cast("double"))
      val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
      rerank.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= TopK)
        .select(col("query_id"), col("vec_id"), col("rnk"),
          round(cosE, 4).as("cos_sim"))
    },

    // ---- HARD-NEGATIVE mining: for each query, the top-k most
    // similar candidates with a DIFFERENT label — the contrastive-
    // training data op (the label is the relevance proxy: same-label
    // candidates are positives, so the highest-cosine cross-label rows
    // are exactly the near-miss negatives a retrieval/embedding trainer
    // wants in its batches; the semi-hard variant additionally floors
    // similarity at the easiest positive's — same plan, one extra
    // scalar bound). Same brute-force economics as
    // q_ann_bruteforce_topk: queries broadcast, label test rides the
    // candidate scan, bounded topk_cos reduce — at 100 TB the coarse
    // stage runs over an IVF/PQ index instead, identical tail.
    Q.sql(
      "q_ann_hard_negatives",
      s"""WITH $quantizedSql,
         |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> qs.q[i] * c.q[i])) AS dot,
         |         qs.nsq AS nq, c.nsq AS nc
         |  FROM qs JOIN e c ON c.vec_id <> qs.vec_id AND c.label <> qs.label),
         |ranked AS (
         |  SELECT query_id, vec_id,
         |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
         |  FROM pairs)
         |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
         |FROM ranked WHERE rnk <= $TopK""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("q").as("qq"), col("nsq").as("nq"))
      val pairs = e.join(broadcast(qs),
          col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- SEMI-HARD negative mining (Schroff et al. 2015, FaceNet):
    // hard negatives FLOORED by the anchor's nearest positive — only
    // cross-label candidates strictly LESS similar than the query's
    // most-similar same-label candidate qualify (sim(a,n) < sim(a,p)),
    // excluding the pathological negatives that sit closer than any
    // positive (which collapse contrastive training). Same plan as
    // q_ann_hard_negatives plus one |Q|-row bound aggregate broadcast
    // back; the strict-< compare is on cosines computed from identical
    // integer operand bits through identical IEEE ops on both engines,
    // so the qualifying set matches exactly.
    Q.sql(
      "q_ann_semi_hard_negatives",
      s"""WITH $quantizedSql,
         |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
         |         c.label AS clabel, qs.label AS qlabel,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> qs.q[i] * c.q[i])) AS dot,
         |         qs.nsq AS nq, c.nsq AS nc
         |  FROM qs JOIN e c ON c.vec_id <> qs.vec_id),
         |pb AS (
         |  SELECT query_id,
         |         max(dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE))) AS pos_cos
         |  FROM pairs WHERE clabel = qlabel GROUP BY 1),
         |neg AS (
         |  SELECT p.query_id, p.vec_id,
         |         p.dot / sqrt(CAST(p.nq AS DOUBLE) * CAST(p.nc AS DOUBLE)) AS cos_raw
         |  FROM pairs p JOIN pb ON p.query_id = pb.query_id
         |  WHERE p.clabel <> p.qlabel
         |    AND p.dot / sqrt(CAST(p.nq AS DOUBLE) * CAST(p.nc AS DOUBLE)) < pb.pos_cos)
         |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
         |FROM (
         |  SELECT query_id, vec_id, cos_raw,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_raw DESC, vec_id) AS rnk
         |  FROM neg) t
         |WHERE rnk <= $TopK""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("q").as("qq"), col("nsq").as("nq"))
      val pairs = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("label"), col("qlabel"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      val cosC = cosine(col("dot"), col("nq"), col("nc"))
      val posBound = pairs.filter(col("label") === col("qlabel"))
        .groupBy(col("query_id")).agg(max(cosC).as("pos_cos"))
      val neg = pairs.filter(col("label") =!= col("qlabel"))
        .join(broadcast(posBound), "query_id")
        .filter(cosC < col("pos_cos"))
        .select(col("query_id"), col("vec_id"), col("dot"), col("nq"), col("nc"))
      topKReduce(neg, TopK)
    },

    // ---- BINARY (sign-bit) quantization + Hamming shortlist + exact
    // re-rank: the 1-bit extreme of the SQ8→PQ compression family — a
    // 64-dim vector becomes 64 sign bits (here two 32-bit words, kept in
    // positive BIGINT range so the packing is portable across engines
    // with no sign-bit shift hazards), and the coarse pass ranks EVERY
    // candidate by Hamming distance: two XOR + popcount ops per
    // candidate (bit_count is a single POPCNT instruction class — this
    // is the memory-bandwidth floor of vector search: 8 bytes scanned
    // per candidate, 512× less than the float vector). Top-3k Hamming
    // shortlist per query through the bounded topk_cos aggregate (dot =
    // −hamming, nq = nc = 1 ⇒ cos ≡ −hamming exactly: integer-valued
    // doubles, so ordering ≡ (hamming ASC, vec_id ASC) bit-for-bit),
    // then only the shortlist touches full vectors for the exact
    // integer-cosine re-rank. Composes with IVF the same way SQ8 does.
    Q.sql(
      "q_ann_binary_hamming", {
        val shortN = TopK * 3
        s"""WITH $quantizedSql,
           |b AS (
           |  SELECT vec_id, q, nsq, ${packBitsDuck(0)} AS w1,
           |         ${packBitsDuck(32)} AS w2
           |  FROM e),
           |qs AS (SELECT * FROM b WHERE vec_id < $NQueries),
           |coarse AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         CAST(bit_count(xor(qs.w1, c.w1))
           |              + bit_count(xor(qs.w2, c.w2)) AS BIGINT) AS ham
           |  FROM qs JOIN b c ON c.vec_id <> qs.vec_id),
           |sl AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY ham, vec_id) AS rnkh
           |    FROM coarse) t
           |  WHERE rnkh <= $shortN),
           |exact AS (
           |  SELECT s.query_id, s.vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> q1.q[i] * c.q[i])) AS dot,
           |         q1.nsq AS nq, c.nsq AS nc
           |  FROM sl s JOIN e q1 ON q1.vec_id = s.query_id
           |            JOIN e c ON c.vec_id = s.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id,
           |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
           |                    vec_id) AS rnk
           |  FROM exact) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val shortN = TopK * 3
      val e = quantized(s, dir)
        .withColumn("w1", expr(packBitsSpark(0)))
        .withColumn("w2", expr(packBitsSpark(32)))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nqf"), col("w1").as("qw1"), col("w2").as("qw2"))
      val coarse = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          expr("-CAST(bit_count(qw1 ^ w1) + bit_count(qw2 ^ w2) AS BIGINT)").as("dot"),
          lit(1L).as("nq"), lit(1L).as("nc"))
      val shortIds = coarse.groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $shortN)").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qs.select(col("query_id"), col("qq"),
          col("nqf").as("nq"))), "query_id")
      val pairs = quantized(s, dir).select(col("vec_id"), col("q"), col("nsq"))
        .join(broadcast(shortIds), "vec_id")
        .select(col("query_id"), col("vec_id"), dot("qq", "q").as("dot"),
          col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- IVF probe + binary code scoring composed: the 1-bit analogue
    // of q_ann_ivf_sq8's production probe economics. A query (1)
    // coarse-quantizes to its nearest cluster (candidates = N/C; at
    // production layout a partition-pruned scan), (2) Hamming-scores
    // ONLY that cluster's members on the two packed sign words — 8
    // bytes touched per candidate, the cheapest code scan that exists —
    // (3) exactly re-ranks the shortlist on full vectors. Recall is
    // bounded by the cluster stage (codes cannot recover a neighbor the
    // probe lost) — pinned in SimilaritySpec.
    Q.sql(
      "q_ann_ivf_binary", {
        val shortN = TopK * 3
        s"""WITH $quantizedSql,
           |b AS (
           |  SELECT vec_id, label, q, nsq, ${packBitsDuck(0)} AS w1,
           |         ${packBitsDuck(32)} AS w2
           |  FROM e),
           |${centSql("cent")},
           |qs AS (SELECT * FROM b WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.c[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
           |coarse AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         CAST(bit_count(xor(qs.w1, c.w1))
           |              + bit_count(xor(qs.w2, c.w2)) AS BIGINT) AS ham
           |  FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |          JOIN b c ON c.label = a.label AND c.vec_id <> qs.vec_id),
           |sl AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY ham, vec_id) AS rnkh
           |    FROM coarse) t
           |  WHERE rnkh <= $shortN),
           |exact AS (
           |  SELECT s.query_id, s.vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> q1.q[i] * c.q[i])) AS dot,
           |         q1.nsq AS nq, c.nsq AS nc
           |  FROM sl s JOIN e q1 ON q1.vec_id = s.query_id
           |            JOIN e c ON c.vec_id = s.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id,
           |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
           |                    vec_id) AS rnk
           |  FROM exact) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir)
        .withColumn("w1", expr(packBitsSpark(0)))
        .withColumn("w2", expr(packBitsSpark(32)))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("w1").as("qw1"), col("w2").as("qw2"))
      val assign = probeLabels(qs, centroids(e), 1)
        .select(col("query_id"), col("qw1"), col("qw2"), col("label"))
      val shortIds = e.as("c").join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          expr("-CAST(bit_count(qw1 ^ w1) + bit_count(qw2 ^ w2) AS BIGINT)").as("dot"),
          lit(1L).as("hq"), lit(1L).as("hc"))
        .groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, hq, hc), ${TopK * 3})").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qs.select(col("query_id"), col("qq"), col("nq"))), "query_id")
      val pairs = quantized(s, dir).select(col("vec_id"), col("q"), col("nsq"))
        .join(broadcast(shortIds), "vec_id")
        .select(col("query_id"), col("vec_id"), dot("qq", "q").as("dot"),
          col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- cluster-bounded kNN GRAPH construction: top-3 most-similar
    // same-cluster neighbors for EVERY vector — the batch graph build
    // that SemDeDup-style clustering, graph-based dedup survivorship
    // and diversity analyses start from. Bounding candidates to the
    // vector's own cluster is what makes the graph buildable at all:
    // pairs = Σ_c |c|² ≈ N·(N/C), versus N² all-pairs — and at the
    // production layout the self-join on cluster rides the
    // cluster-partitioned index CO-LOCATED (a same-key equi-join, zero
    // extra exchanges; here AQE broadcasts the 2k-row side). Every
    // vector is its own query through the same bounded topk_cos reduce,
    // so no task ever holds more than k edges per source.
    Q.sql(
      "q_ann_knn_graph",
      s"""WITH $quantizedSql,
         |pairs AS (
         |  SELECT a.vec_id AS src_id, c.vec_id AS nbr_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> a.q[i] * c.q[i])) AS dot,
         |         a.nsq AS nq, c.nsq AS nc
         |  FROM e a JOIN e c ON c.label = a.label AND c.vec_id <> a.vec_id)
         |SELECT src_id, nbr_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
         |FROM (
         |  SELECT src_id, nbr_id,
         |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
         |         row_number() OVER (PARTITION BY src_id
         |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                    nbr_id) AS rnk
         |  FROM pairs) t
         |WHERE rnk <= 3""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val pairs = e.as("a").join(
          e.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
            col("q").as("cq"), col("nsq").as("cnsq")),
          col("clabel") === col("label") && col("cand_id") =!= col("vec_id"))
        .select(col("vec_id").as("query_id"), col("cand_id").as("vec_id"),
          dot("q", "cq").as("dot"), col("nsq").as("nq"), col("cnsq").as("nc"))
      topKReduce(pairs, 3)
        .withColumnRenamed("query_id", "src_id")
        .withColumnRenamed("vec_id", "nbr_id")
    },

    // ---- kNN-graph HUBNESS diagnostics: per-vector in-degree and
    // mutual-edge count over the q_ann_knn_graph edge set — the
    // standard embedding-quality pathology check (Radovanović et al.:
    // in high dimensions a few "hub" points appear in many neighbor
    // lists while "anti-hubs" appear in none; a skewed in-degree
    // distribution means similarity-based dedup/retrieval over these
    // embeddings will over-weight hubs). Out-degree is k by
    // construction, so in-degree and reciprocity are the informative
    // moments. Plan: the edge reduce is the same bounded aggregate;
    // in-degree is one count per edge target, mutuality one
    // edge-grain self-equi-join on the (k·N)-row edge set — never
    // vector-grain pairs.
    Q.sql(
      "q_ann_graph_hubness",
      s"""WITH $quantizedSql,
         |pairs AS (
         |  SELECT a.vec_id AS src_id, c.vec_id AS nbr_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> a.q[i] * c.q[i])) AS dot,
         |         a.nsq AS nq, c.nsq AS nc
         |  FROM e a JOIN e c ON c.label = a.label AND c.vec_id <> a.vec_id),
         |g AS (
         |  SELECT src_id, nbr_id FROM (
         |    SELECT src_id, nbr_id,
         |           row_number() OVER (PARTITION BY src_id
         |             ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                      nbr_id) AS rnk
         |    FROM pairs) t
         |  WHERE rnk <= 3),
         |ind AS (SELECT nbr_id AS vec_id, count(*) AS ind FROM g GROUP BY 1),
         |mut AS (
         |  SELECT x.src_id AS vec_id, count(*) AS mut
         |  FROM g x JOIN g y ON x.src_id = y.nbr_id AND x.nbr_id = y.src_id
         |  GROUP BY 1)
         |SELECT e.vec_id,
         |       CAST(coalesce(ind.ind, 0) AS BIGINT) AS in_degree,
         |       CAST(coalesce(mut.mut, 0) AS BIGINT) AS n_mutual
         |FROM e LEFT JOIN ind ON ind.vec_id = e.vec_id
         |       LEFT JOIN mut ON mut.vec_id = e.vec_id""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val pairs = e.as("a").join(
          e.select(col("vec_id").as("cand_id"), col("label").as("clabel"),
            col("q").as("cq"), col("nsq").as("cnsq")),
          col("clabel") === col("label") && col("cand_id") =!= col("vec_id"))
        .select(col("vec_id").as("query_id"), col("cand_id").as("vec_id"),
          dot("q", "cq").as("dot"), col("nsq").as("nq"), col("cnsq").as("nc"))
      val edges = topKReduce(pairs, 3)
        .select(col("query_id").as("src_id"), col("vec_id").as("nbr_id"))
      val indeg = edges.groupBy(col("nbr_id").as("vec_id"))
        .agg(count(lit(1)).as("in_degree"))
      val mutual = edges.as("x").join(edges.as("y"),
          col("x.src_id") === col("y.nbr_id") && col("x.nbr_id") === col("y.src_id"))
        .groupBy(col("x.src_id").as("vec_id")).agg(count(lit(1)).as("n_mutual"))
      e.select(col("vec_id"))
        .join(indeg, Seq("vec_id"), "left").join(mutual, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("in_degree"), lit(0L)).as("in_degree"),
          coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
    },

    // ---- INCREMENTAL kNN-graph maintenance: the edge set as a
    // DeleteInsert engine model restated BY CLUSTER — edges are not
    // append-only (an arrival displaces old vectors' neighbors), so
    // each build recomputes exactly the clusters containing new
    // arrivals and dynamic partition overwrite replaces those
    // partitions; untouched clusters' edges are bit-identical to a
    // full rebuild because a cluster's edges depend only on its own
    // members (IncrementalKnnGraph scaladoc). Two-batch build must
    // hash-match the one-shot batch graph.
    Q.sql(
      "q_ann_knn_graph_incremental",
      s"""WITH $quantizedSql,
         |pairs AS (
         |  SELECT a.vec_id AS src_id, a.label AS cluster, c.vec_id AS nbr_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> a.q[i] * c.q[i])) AS dot,
         |         a.nsq AS nq, c.nsq AS nc
         |  FROM e a JOIN e c ON c.label = a.label AND c.vec_id <> a.vec_id)
         |SELECT src_id, nbr_id, CAST(rnk AS INT) AS rnk,
         |       round(cos_raw, 4) AS cos_sim, cluster
         |FROM (
         |  SELECT src_id, cluster, nbr_id,
         |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
         |         row_number() OVER (PARTITION BY src_id
         |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                    nbr_id) AS rnk
         |  FROM pairs) t
         |WHERE rnk <= 3""".stripMargin
    ) { (s, dir) =>
      val wh = graft.engine.Scratch.dir("graft_incknn")
      buildHalves(s, wh, quantized(s, dir),
        graft.similarity.IncrementalKnnGraph.models("vectors"), batch => Map("vectors" -> batch))
      graft.engine.Resolver(s).read(s"$wh/knn_edges")
        .select(col("src_id"), col("nbr_id"), col("rnk"), col("cos_sim"),
          col("cluster").cast("int").as("cluster"))
    },

    // ---- hybrid retrieval: reciprocal-rank fusion (Cormack et al.) of
    // a LEXICAL candidate list and a VECTOR candidate list for the same
    // query document — the standard RAG first-stage fusion (keyword
    // recall catches what the embedding misses and vice versa; RRF
    // needs no score calibration between the two modalities, only
    // ranks). Lexical rank = shared-distinct-term count with the query
    // doc (integer-exact; ties by doc_id); vector rank = exact
    // quantized cosine (deterministic ordering — see the file header);
    // rrf = Σ 1/(k + rank) over the lists the doc appears in, k=60.
    // Plan shape: both rank lists are global top-N via orderBy+limit
    // (TakeOrderedAndProject — map-side partial top-k, never a
    // single-partition window over the corpus); the rnk windows run
    // AFTER the limit over N rows; the fusion joins two N-row frames.
    Q.sql(
      "q_hybrid_search_rrf",
      s"""WITH $quantizedSql,
         |toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |qterms AS (SELECT DISTINCT term FROM toks WHERE doc_id = $HybridQueryDoc),
         |lex AS (
         |  SELECT doc_id, count(DISTINCT term) AS overlap FROM toks
         |  WHERE doc_id <> $HybridQueryDoc
         |    AND term IN (SELECT term FROM qterms)
         |  GROUP BY 1),
         |lextop AS (
         |  SELECT doc_id, overlap FROM lex
         |  ORDER BY overlap DESC, doc_id LIMIT $HybridListN),
         |lexr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY overlap DESC, doc_id) AS r_lex
         |  FROM lextop),
         |qv AS (SELECT q, nsq FROM e WHERE vec_id = $HybridQueryDoc),
         |vec AS (
         |  SELECT c.vec_id AS doc_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> qv.q[i] * c.q[i])) AS dot,
         |         qv.nsq AS nq, c.nsq AS nc
         |  FROM e c, qv WHERE c.vec_id <> $HybridQueryDoc),
         |vectop AS (
         |  SELECT doc_id, dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos
         |  FROM vec ORDER BY cos DESC, doc_id LIMIT $HybridListN),
         |vecr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_vec
         |  FROM vectop),
         |fused AS (
         |  SELECT doc_id, r_lex, r_vec,
         |         coalesce(1.0 / ($RrfK + r_lex), 0) +
         |         coalesce(1.0 / ($RrfK + r_vec), 0) AS rrf
         |  FROM lexr FULL JOIN vecr USING (doc_id))
         |SELECT doc_id, CAST(r_lex AS INT) AS r_lex, CAST(r_vec AS INT) AS r_vec,
         |       round(rrf, 6) AS rrf
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT $HybridTopK""".stripMargin
    ) { (s, dir) =>
      val docs = graft.Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val qterms = toks.filter(col("doc_id") === HybridQueryDoc)
        .select(col("term")).distinct()
      val lexTop = toks.filter(col("doc_id") =!= HybridQueryDoc)
        .join(broadcast(qterms), Seq("term"))
        .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("overlap"))
        .orderBy(col("overlap").desc, col("doc_id")).limit(HybridListN)
      val lexr = lexTop.select(col("doc_id"),
        row_number().over(Window.orderBy(col("overlap").desc, col("doc_id")))
          .cast("int").as("r_lex"))
      val e = quantized(s, dir)
      val qv = e.filter(col("vec_id") === HybridQueryDoc)
        .select(col("q").as("qq"), col("nsq").as("nq"))
      val vecTop = e.filter(col("vec_id") =!= HybridQueryDoc)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          cosine(dot("qq", "q"), col("nq"), col("nsq")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(HybridListN)
      val vecr = vecTop.select(col("doc_id"),
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id")))
          .cast("int").as("r_vec"))
      lexr.join(vecr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          (coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(HybridTopK)
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          round(col("rrf"), 6).as("rrf"))
    },

    // ---- MMR diversified re-rank (Carbonell & Goldstein): greedily
    // pick k results maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)
    // over a relevance shortlist — the standard diversity re-rank for
    // retrieval AND for diversity-aware training-data sampling (pick
    // representative, non-redundant documents). MMR is DEFINED on a
    // shortlist: the distributed work is shortlist construction (exact
    // quantized cosine, TakeOrdered) and the N² pairwise sims; the
    // greedy loop is O(k·N) over ≤ N=30 rows and runs driver-side by
    // contract (the multi-probe driver-ranking idiom — at 100 TB the
    // shortlist is still k-bounded per query). Oracle: the greedy is
    // UNROLLED into k CTE stages (argmax-with-exclusion per stage), so
    // DuckDB replays the identical selection; every double on both
    // sides derives from the same integer dots and the same runtime-
    // parsed λ literals, so scores and tie-order bit-match.
    Q.sql(
      "q_ann_mmr_rerank", {
        val stages = (2 to MmrPicks).map { k =>
          s"""sc$k AS (
             |  SELECT c.doc_id, $MmrLambda * c.rel - (1 - $MmrLambda) * max(p.sim) AS sc
             |  FROM cand c JOIN pairs p ON p.a = c.doc_id
             |       AND p.b IN (SELECT doc_id FROM sel${k - 1})
             |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})
             |  GROUP BY c.doc_id, c.rel),
             |s$k AS MATERIALIZED (SELECT doc_id, sc, $k AS rnk FROM sc$k
             |        ORDER BY sc DESC, doc_id LIMIT 1),
             |sel$k AS MATERIALIZED (SELECT doc_id FROM sel${k - 1}
             |          UNION ALL SELECT doc_id FROM s$k)""".stripMargin
        }.mkString(",\n")
        val unionAll = (1 to MmrPicks).map(k => s"SELECT * FROM s$k")
          .mkString("\n UNION ALL ")
        // shared/chained CTEs are MATERIALIZED: the k unrolled greedy
        // stages reference cand/pairs/sel repeatedly, and DuckDB's
        // default inline-CTE planning would re-execute (and re-open the
        // parquet behind) each reference exponentially down the chain
        s"""WITH $quantizedSql,
           |qv AS (SELECT q, nsq FROM e WHERE vec_id = $HybridQueryDoc),
           |cand AS MATERIALIZED (
           |  SELECT c.vec_id AS doc_id, c.q AS q, c.nsq AS nsq,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qv.q[i] * c.q[i]))
           |           / sqrt(CAST(qv.nsq AS DOUBLE) * CAST(c.nsq AS DOUBLE)) AS rel
           |  FROM e c, qv WHERE c.vec_id <> $HybridQueryDoc
           |  ORDER BY rel DESC, c.vec_id LIMIT $MmrShortN),
           |pairs AS MATERIALIZED (
           |  SELECT x.doc_id AS a, y.doc_id AS b,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> x.q[i] * y.q[i]))
           |           / sqrt(CAST(x.nsq AS DOUBLE) * CAST(y.nsq AS DOUBLE)) AS sim
           |  FROM cand x JOIN cand y ON x.doc_id <> y.doc_id),
           |s1 AS MATERIALIZED (SELECT doc_id, $MmrLambda * rel AS sc, 1 AS rnk FROM cand
           |       ORDER BY sc DESC, doc_id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT doc_id FROM s1),
           |$stages
           |SELECT CAST(rnk AS INT) AS rnk, doc_id, round(sc, 4) AS mmr_score
           |FROM ($unionAll)""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val qv = e.filter(col("vec_id") === HybridQueryDoc)
        .select(col("q").as("qq"), col("nsq").as("nq"))
      val shortlist = e.filter(col("vec_id") =!= HybridQueryDoc)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("q"), col("nsq"),
          cosine(dot("qq", "q"), col("nq"), col("nsq")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(MmrShortN)
        .localCheckpoint() // two consumers (rel collect + pairwise self-join)
      val pa = shortlist.select(col("vec_id").as("a"), col("q").as("qa"),
        col("nsq").as("na"))
      val pb = shortlist.select(col("vec_id").as("b"), col("q").as("qb"),
        col("nsq").as("nb"))
      val pairs = pa.join(broadcast(pb), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          cosine(dot("qa", "qb"), col("na"), col("nb")).as("sim"))
      // bounded-by-contract driver greedy: ≤ N rel rows + N² sims
      val rel = shortlist.select(col("vec_id"), col("rel")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val simMap = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val lam = MmrLambda
      val oneMinus = 1 - MmrLambda // runtime-computed, like the SQL's (1 - λ)
      var remaining = rel.toVector
      val picked = Vector.newBuilder[(Int, Long, Double)]
      var chosen = Vector.empty[Long]
      for (step <- 1 to MmrPicks) {
        val scored = remaining.map { case (id, r) =>
          val pen = if (chosen.isEmpty) 0.0
            else chosen.map(sid => simMap((id, sid))).max
          (id, lam * r - oneMinus * pen)
        }
        val (bestId, bestSc) = scored.minBy { case (id, sc) => (-sc, id) }
        picked += ((step, bestId, bestSc))
        chosen :+= bestId
        remaining = remaining.filterNot(_._1 == bestId)
      }
      s.createDataFrame(picked.result()).toDF("rnk", "doc_id", "mmr_score")
        .select(col("rnk"), col("doc_id"), round(col("mmr_score"), 4).as("mmr_score"))
    },

    // ---- index-quality evaluation: recall@k of the single-probe IVF
    // result against the exact brute-force truth, per query — the
    // metric every production vector platform reports continuously
    // (recall regressions mean the index needs retraining / more
    // probes, and the recall/nprobe curve is what sizes nprobe). Runs
    // the two retrieval plans side by side and joins their k-sets; at
    // 100 TB the truth side is computed over a SAMPLE of queries at
    // eval cadence, not per request — the query shape is identical.
    // Integer-exact: hit counts are ints, recall = n_hit/k rounded.
    Q.sql(
      "q_ann_recall_eval", {
        val (ivfCtes, ivfTop) = ivfOracleParts(IvfTopK)
        s"""WITH $quantizedSql,
           |${ivfCtes.mkString(",\n")},
           |ivf_top AS (
           |$ivfTop),
           |bfp AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, ${dotSql("q.q", "c.q")} AS dot,
           |         q.nsq AS nq, c.nsq AS nc
           |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < $NQueries),
           |bf AS (
           |${rankedSql("query_id, vec_id", "query_id", s"$pairCosSql DESC, vec_id", "bfp", TopK)}),
           |hits AS (
           |  SELECT query_id, count(*) AS n_hit
           |  FROM bf JOIN ivf_top USING (query_id, vec_id) GROUP BY 1)
           |SELECT q.query_id, CAST($TopK AS INT) AS k,
           |       CAST(coalesce(h.n_hit, 0) AS INT) AS n_hit,
           |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $TopK, 4) AS recall_at_k
           |FROM (SELECT DISTINCT query_id FROM bf) q
           |LEFT JOIN hits h USING (query_id)""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val qsq = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      // exact truth: brute-force top-k (the q_ann_bruteforce_topk plan)
      val bfPairs = e.join(broadcast(qsq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      val bf = topKReduce(bfPairs, TopK).select(col("query_id"), col("vec_id"))
      // candidate: the q_ann_ivf_topk plan over the same checkpoint
      val ivf = probeAdHoc(IvfTopK, e).select(col("query_id"), col("vec_id"))
      val hits = bf.join(ivf, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      bf.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), lit(TopK).cast("int").as("k"),
          coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / TopK, 4)
            .as("recall_at_k"))
    },

    // ---- index retraining: one deterministic Lloyd assignment step —
    // the action the recall_eval metric triggers (recall degrades as
    // the corpus drifts from the partition the index was trained on;
    // periodic retraining reassigns vectors to their true nearest
    // centroid). Assignment is the scan-local CentroidAssign kernel
    // (zero exchanges, broadcast centroids — the same hot loop semantic
    // dedup and the incremental IVF index run); the k-means guarantee
    // (each vector moves only to a STRICTLY closer centroid, so the
    // objective Σ cos(v, c_assign) can only improve) is spec-pinned in
    // SimilaritySpec. Output is the integer-exact migration matrix the
    // operator would publish: per cluster, population before/after and
    // how many members stayed — the drift diagnostic that decides
    // whether to swap the retrained layout in. At 100 TB this is one
    // scan + one k-row aggregate per iteration; the cluster-partitioned
    // rewrite after convergence is the existing compact/DirSwap path.
    Q.sql(
      "q_ann_ivf_retrain", {
        s"""WITH $quantizedSql,
           |${centSql("cent")},
           |assign AS (
           |  SELECT vec_id, old_label, new_label FROM (
           |    SELECT e.vec_id, e.label AS old_label, cent.label AS new_label,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> e.q[i] * cent.c[i]))
           |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM e CROSS JOIN cent) t WHERE rnk = 1),
           |pre AS (SELECT label, count(*) AS n_before FROM e GROUP BY 1),
           |post AS (
           |  SELECT new_label AS label, count(*) AS n_after,
           |         sum(CASE WHEN old_label = new_label THEN 1 ELSE 0 END) AS n_stay
           |  FROM assign GROUP BY 1)
           |SELECT label,
           |       CAST(coalesce(n_before, 0) AS INT) AS n_before,
           |       CAST(coalesce(n_after, 0) AS INT) AS n_after,
           |       CAST(coalesce(n_stay, 0) AS INT) AS n_stay
           |FROM pre FULL JOIN post USING (label)""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val cents = graft.similarity.CentroidAssign.collectCentroids(centroids(e))
      val assigned = graft.similarity.CentroidAssign
        .kernel(e.select(col("vec_id"), col("q"), col("nsq")), cents)
        .select(col("vec_id"), col("cluster").as("new_label"))
      val moves = e.select(col("vec_id"), col("label").as("old_label"))
        .join(assigned, Seq("vec_id"))
      val pre = e.groupBy(col("label")).agg(count(lit(1)).as("n_before"))
      val post = moves.groupBy(col("new_label").as("label"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("old_label") === col("new_label"), 1L).otherwise(0L))
            .as("n_stay"))
      pre.join(post, Seq("label"), "full_outer")
        .select(col("label"),
          coalesce(col("n_before"), lit(0L)).cast("int").as("n_before"),
          coalesce(col("n_after"), lit(0L)).cast("int").as("n_after"),
          coalesce(col("n_stay"), lit(0L)).cast("int").as("n_stay"))
    },

    // ---- FILTERED vector search (brute-force baseline): top-k among
    // candidates satisfying an attribute predicate (vec_id % 3 = 0) —
    // the faceted/metadata-filtered search every production vector
    // store exposes (filter by language, license, source, date).
    // Pre-filtering (predicate BEFORE scoring) is the correct-recall
    // form: post-filtering a k-sized result can return < k or miss
    // qualifying neighbors entirely. The predicate is on a plain
    // column, so it rides the parquet scan (PushedFilters) and the
    // scored candidate set is sel·N — filtered search is CHEAPER than
    // unfiltered at equal recall, never a recall trade.
    Q.sql(
      "q_ann_filtered_topk",
      s"""WITH $quantizedSql,
         |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |                  i -> qs.q[i] * c.q[i])) AS dot,
         |         qs.nsq AS nq, c.nsq AS nc
         |  FROM qs JOIN e c ON c.vec_id <> qs.vec_id AND c.vec_id % 3 = 0),
         |ranked AS (
         |  SELECT query_id, vec_id,
         |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
         |  FROM pairs)
         |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
         |FROM ranked WHERE rnk <= $TopK""".stripMargin
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      // predicate applied to the CANDIDATE scan before scoring — a
      // plain column filter, so it reaches the parquet reader
      val pairs = e.filter(col("vec_id") % 3 === 0)
        .join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- LSH (signed random projections): hash every vector to a
    // 6-bit bucket of hyperplane signs; a query scans only its bucket.
    // The scale path when no cluster structure exists for IVF: bucketing
    // is scan-local (no training), and bucket-partitioned storage turns
    // a query into a partition-pruned scan at 100 TB.
    Q.sql(
      "q_ann_lsh_topk", {
        val bucketBitsSql = Planes.zipWithIndex.map { case (p, i) =>
          val lst = p.mkString("[", ",", "]")
          s"(CASE WHEN list_sum(list_transform(generate_series(1, $Dims), i -> q[i] * $lst[i])) >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH $quantizedSql,
           |h AS (SELECT vec_id, q, nsq, $bucketBitsSql AS bucket FROM e),
           |qs AS (SELECT * FROM h WHERE vec_id < $NQueries),
           |pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN h c ON c.bucket = qs.bucket AND c.vec_id <> qs.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id,
           |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
           |  FROM pairs) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir)
      // bucket bits via the native dot expression over literal plane
      // arrays — stays in whole-stage codegen, one pass over the scan
      val bucket = Planes.indices.map(i =>
        when(expr(s"dot_i64(q, p$i) >= 0"), 1 << i).otherwise(0))
      val withPlanes = Planes.zipWithIndex.foldLeft(e) { case (df, (p, i)) =>
        df.withColumn(s"p$i", array(p.map(v => lit(v)): _*))
      }
      val h = withPlanes
        .withColumn("bucket", bucket.reduce(_ + _))
        .select(col("vec_id"), col("q"), col("nsq"), col("bucket"))
      val qs = h.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("bucket"))
      val pairs = h.as("c").join(broadcast(qs.as("a")),
          col("c.bucket") === col("a.bucket") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- multi-probe LSH: single-probe recall is bounded by true
    // neighbors whose sign vector differs from the query's — exactly the
    // planes the query sits closest to. Probing the query's bucket PLUS
    // the buckets reached by flipping its two lowest-|margin| bits
    // (|margin| = |q·plane|, the distance to the hyperplane) recovers
    // those neighbors at 3× the candidate scan — still ~3N/64 per query
    // vs N for brute force. Margins are exact integer dot products, so
    // both engines derive identical probe sequences.
    Q.sql(
      "q_ann_lsh_multiprobe", {
        val bucketBitsSql = Planes.zipWithIndex.map { case (p, i) =>
          val lst = p.mkString("[", ",", "]")
          s"(CASE WHEN list_sum(list_transform(generate_series(1, $Dims), i -> q[i] * $lst[i])) >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ")
        val absMarginsSql = Planes.map { p =>
          val lst = p.mkString("[", ",", "]")
          s"abs(list_sum(list_transform(generate_series(1, $Dims), i -> q[i] * $lst[i])))"
        }.mkString("[", ", ", "]")
        s"""WITH $quantizedSql,
           |h AS (SELECT vec_id, q, nsq, $bucketBitsSql AS bucket,
           |             $absMarginsSql AS am FROM e),
           |q1 AS (SELECT vec_id, q, nsq, bucket, am,
           |              list_position(am, list_min(am)) AS imin
           |       FROM h WHERE vec_id < $NQueries),
           |q2 AS (SELECT vec_id, q, nsq, bucket, imin,
           |              list_position(
           |                list_transform(generate_series(1, ${Planes.size}),
           |                  i -> CASE WHEN i = imin THEN 9000000000000000000 ELSE am[i] END),
           |                list_min(list_transform(generate_series(1, ${Planes.size}),
           |                  i -> CASE WHEN i = imin THEN 9000000000000000000 ELSE am[i] END))) AS imin2
           |       FROM q1),
           |probes AS (
           |  SELECT vec_id, q, nsq,
           |         unnest([bucket,
           |                 xor(bucket, (1 << (imin - 1))),
           |                 xor(bucket, (1 << (imin2 - 1)))]) AS probe_bucket
           |  FROM q2),
           |pairs AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> p.q[i] * c.q[i])) AS dot,
           |         p.nsq AS nq, c.nsq AS nc
           |  FROM probes p JOIN h c ON c.bucket = p.probe_bucket AND c.vec_id <> p.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id,
           |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
           |  FROM pairs) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val bucket = Planes.indices.map(i =>
        when(expr(s"dot_i64(q, p$i) >= 0"), 1 << i).otherwise(0))
      val withPlanes = Planes.zipWithIndex.foldLeft(e) { case (df, (p, i)) =>
        df.withColumn(s"p$i", array(p.map(v => lit(v)): _*))
      }
      val h = withPlanes
        .withColumn("bucket", bucket.reduce(_ + _))
        .select(col("vec_id"), col("q"), col("nsq"), col("bucket"))
      val big = "CAST(9000000000000000000 AS BIGINT)"
      val qsProbes = withPlanes.filter(col("vec_id") < NQueries)
        .withColumn("bucket", bucket.reduce(_ + _))
        .withColumn("am",
          array(Planes.indices.map(i => abs(expr(s"dot_i64(q, p$i)"))): _*))
        .withColumn("imin", array_position(col("am"), array_min(col("am"))))
        .withColumn("am2", expr(
          s"""transform(sequence(1, ${Planes.size}),
             |  i -> CASE WHEN CAST(i AS BIGINT) = imin THEN $big
             |            ELSE element_at(am, i) END)""".stripMargin))
        .withColumn("imin2", array_position(col("am2"), array_min(col("am2"))))
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"),
          explode(array(
            col("bucket"),
            expr("bucket ^ shiftleft(1, CAST(imin AS INT) - 1)"),
            expr("bucket ^ shiftleft(1, CAST(imin2 AS INT) - 1)")
          )).as("probe_bucket"))
      val pairs = h.as("c").join(broadcast(qsProbes.as("a")),
          col("c.bucket") === col("a.probe_bucket") &&
            col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
    },

    // ---- scalar-quantized (SQ8) shortlist + exact re-rank: the
    // memory-bandwidth half of the PQ/SQ story the IVF index's scaladoc
    // points at. Vectors are compressed to int8 codes with ONE global
    // scale (max|component| / 127 — a driver-collected scalar, the P8
    // idiom); the full corpus is scored on CODES (8× less data touched
    // per candidate at production layout: array<tinyint>/binary — here
    // the algebra and recall behavior are the demonstrated part), the
    // top-C=3k shortlist is then re-ranked with EXACT integer cosine on
    // the full vectors, and only top-k survives. Quantization error can
    // reorder the shortlist BOUNDARY, so recall < 1 is possible by
    // design — measured against brute-force truth in SimilaritySpec.
    // Every step (scale, rounding, tie order) is bit-specified in both
    // engines, so the result hash-checks like the other ANN variants.
    Q.sql(
      "q_ann_sq8_rerank", {
        val short = TopK * 3
        s"""WITH $quantizedSql,
           |s AS (SELECT max(list_max(list_transform(q, x -> abs(x)))) / 127.0 AS sc FROM e),
           |c8 AS (
           |  SELECT vec_id, nsq, q,
           |         list_transform(q, x -> CAST(round(x / sc) AS BIGINT)) AS c
           |  FROM e, s),
           |n8 AS (SELECT vec_id, nsq, q, c,
           |              list_sum(list_transform(c, x -> x * x)) AS ncsq8 FROM c8),
           |qs AS (SELECT * FROM n8 WHERE vec_id < $NQueries),
           |shortlist AS (
           |  SELECT query_id, vec_id, q, nsq, qq, nq FROM (
           |    SELECT qs.vec_id AS query_id, c.vec_id AS vec_id, c.q, c.nsq,
           |           qs.q AS qq, qs.nsq AS nq,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.c[i] * c.c[i]))
           |                      / sqrt(CAST(qs.ncsq8 AS DOUBLE) * CAST(c.ncsq8 AS DOUBLE)) DESC,
           |                      c.vec_id) AS rnk8
           |    FROM qs JOIN n8 c ON c.vec_id <> qs.vec_id) t
           |  WHERE rnk8 <= $short),
           |exact AS (
           |  SELECT query_id, vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qq[i] * q[i]))
           |           / sqrt(CAST(nq AS DOUBLE) * CAST(nsq AS DOUBLE)) AS cos_raw
           |  FROM shortlist)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
           |FROM (
           |  SELECT query_id, vec_id, cos_raw,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY cos_raw DESC, vec_id) AS rnk
           |  FROM exact) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val c8 = sq8Codes(e)
      val qs = c8.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("c").as("qc"), col("ncsq8").as("nq8"))
      // the full-corpus code scan, shortlisted and re-ranked exactly
      val scored = c8.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qc", "c").as("dot"), col("nq8").as("nq"), col("ncsq8").as("nc"))
      shortlistRerank(e, scored, qs)
    },

    // ---- multi-vector MaxSim late interaction (Khattab & Zaharia
    // 2020, ColBERT): documents and queries are BAGS of token vectors,
    // and relevance = Σ_i max_j <q_i, d_j> — each query token matches
    // its best document token, so fine-grained term interactions
    // survive that single-vector pooling averages away. The corpus has
    // one 64-dim vector per doc, so both engines derive the SAME
    // 4-subvector bag (16-dim slices — the PQ subspace decomposition
    // reused as token granularity); the op under test is the MaxSim
    // scorer, not the embedder. Scoring is integer-exact (16 int dots,
    // 4 greatest, 1 sum per pair — all scan-local inside whole-stage
    // codegen against the broadcast query bag); ranking rides the
    // bounded topk_cos aggregate with nq = nc = 1, so cos ≡ the
    // integer-valued score exactly (the binary-Hamming idiom) and ties
    // break vec_id ASC bit-for-bit with the oracle's row_number. Scale
    // shape: ZERO vector-grain exchanges — candidates stream scan-local
    // past the broadcast queries, ≤k rows per partition per query cross
    // the one reduce exchange; at production layout the same scorer
    // composes with the IVF probe (score only the probed cluster) like
    // every other coarse stage here.
    Q.sql(
      "q_ann_maxsim_colbert", {
        def sliceDuck(j: Int) = s"list_slice(q, ${j * 16 + 1}, ${j * 16 + 16})"
        def dotDuck(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, 16), i -> $a[i] * $b[i]))"
        val maxTerms = (0 to 3).map { j =>
          "greatest(" + (0 to 3).map(k =>
            dotDuck(s"qs.s${j + 1}", s"c.s${k + 1}")).mkString(", ") + ")"
        }.mkString("\n         + ")
        s"""WITH $quantizedSql,
           |s AS (
           |  SELECT vec_id, ${(1 to 4).map(j => s"${sliceDuck(j - 1)} AS s$j").mkString(", ")}
           |  FROM e),
           |qs AS (SELECT * FROM s WHERE vec_id < $NQueries),
           |pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         CAST($maxTerms AS BIGINT) AS score
           |  FROM qs JOIN s c ON c.vec_id <> qs.vec_id)
           |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, score
           |FROM (
           |  SELECT query_id, vec_id, score,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY score DESC, vec_id) AS rnk
           |  FROM pairs) t
           |WHERE rnk <= $TopK""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir).select(
        Seq(col("vec_id")) ++
          (1 to 4).map(j => expr(s"slice(q, ${(j - 1) * 16 + 1}, 16)").as(s"s$j")): _*)
      val qs = e.filter(col("vec_id") < NQueries).select(
        Seq(col("vec_id").as("query_id")) ++
          (1 to 4).map(j => col(s"s$j").as(s"qs$j")): _*)
      val maxSim = (1 to 4).map { j =>
        greatest((1 to 4).map(k => dot(s"qs$j", s"s$k")): _*)
      }.reduce(_ + _)
      val pairs = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          maxSim.as("dot"), lit(1L).as("nq"), lit(1L).as("nc"))
      pairs.groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $TopK)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.vec_id").as("vec_id"),
          (col("pos") + 1).cast("int").as("rnk"),
          col("col.cos").cast("long").as("score"))
    }
  ) ++ ivfVariants.map(ivfQ)

  /** The deterministic tombstone set both deletion queries share: every
    * [[DeleteMod]]-th vec_id, restricted to non-query rows so every
    * query still issues a search (deleting a query is well-defined —
    * it simply stops searching — but would make the oracle's qs CTE
    * depend on the delete predicate too). */
  private def deleteSet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % DeleteMod === DeleteRem &&
        col("vec_id") >= NQueries)
      .select(col("vec_id"))

  /** The vec_id midpoint of `e`: the two-batch feeds split there. */
  private def midId(e: DataFrame): Long = {
    val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
    (b.getLong(0) + b.getLong(1)) / 2
  }

  /** Two `Engine.build`s of `models` into `wh`, fed by `inputs(batch)`:
    * first `e`'s lower half (vec_id ≤ [[midId]]), then all of `e`, with
    * `between` run after the first. Returns the second build's engine. */
  private def buildHalves(s: SparkSession, wh: String, e: DataFrame,
      models: Seq[graft.engine.Model], inputs: DataFrame => Map[String, DataFrame],
      between: () => Unit = () => ()): graft.engine.Engine = {
    def build(batch: DataFrame): graft.engine.Engine = {
      val eng = new graft.engine.Engine(s, wh, inputs(batch), models)
      val rpt = eng.build()
      require(rpt.ok, rpt.results.mkString("; "))
      eng
    }
    build(e.filter(col("vec_id") <= midId(e)))
    between()
    build(e)
  }

  /** One [[Ivf]] row as a board query: its Spark plan and its oracle. */
  private def ivfQ(v: Ivf): Q =
    Q.sql(v.name, ivfOracle(v)) { (s, dir) =>
      // ad hoc: the quantized table feeds centroids, queries and
      // candidates — checkpoint it once instead of re-scanning parquet
      // and re-quantizing per subtree
      if (v.feed == AdHoc) probeAdHoc(v, quantized(s, dir).localCheckpoint())
      else probeIndex(v, s, dir)
    }

  /** An ad hoc variant over the checkpointed corpus `e`: the queries
    * probe their nearest label centroids, and only those clusters'
    * members are scored (N/C of the corpus per probe; at production
    * layout a partition-pruned scan). */
  private def probeAdHoc(v: Ivf, e: DataFrame): DataFrame = {
    val n = v.probe match {
      case Nearest(n) => n
      case p => throw new IllegalArgumentException(s"${v.name}: no ad hoc $p probe")
    }
    require(v.kind == Flat || n == 1, s"${v.name}: code-scored ad hoc rows probe one cluster")
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
    v.kind match {
      case Flat =>
        // the filter rides the candidate scan, before scoring
        val cand = if (v.filtered) e.filter(col("vec_id") % 3 === 0) else e
        val pairs = cand.as("c").join(broadcast(probeLabels(qs, centroids(e), n).as("a")),
            col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
          .select(col("query_id"), col("vec_id"),
            dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
        topKReduce(pairs, TopK)
      case Sq8 =>
        val c8 = sq8Codes(e)
        val qs8 = c8.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("q").as("qq"),
            col("nsq").as("nq"), col("c").as("qc"), col("ncsq8").as("nq8"))
        val scored = c8.as("c").join(broadcast(probeLabels(qs8, centroids(e), 1).as("a")),
            col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
          .select(col("query_id"), col("c.vec_id").as("vec_id"),
            dot("qc", "c").as("dot"), col("nq8").as("nq"), col("ncsq8").as("nc"))
        shortlistRerank(e, scored, qs8)
      case Pq | PqResidual =>
        val s = e.sparkSession
        import s.implicits._
        val PQ = graft.similarity.ProductQuantizer
        val residual = v.kind == PqResidual
        // m_c: each label's floor-divided integer mean ((S − pmod(S, n))
        // div n — exact and engine-identical for negative sums too)
        val means = e.groupBy(col("label"))
          .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("s"),
            count(lit(1)).as("n"))
          .select(col("label"), expr("transform(s, x -> (x - pmod(x, n)) div n)").as("mc"))
        val coded = if (!residual) e else e
          .select(col("vec_id"), col("label"), col("q").as("qv"))
          .join(broadcast(means), "label")
          .withColumn("q", expr("zip_with(qv, mc, (a, b) -> a - b)"))
          .withColumn("nsq", expr("dot_i64(q, q)"))
        val cb = PQ.train(if (residual) coded.select(col("vec_id"), col("q"), col("nsq")) else e)
        // |Q| probed query rows collected to the driver to precompute each
        // query's ADC table against the driver-resident codebook, and the
        // IVFADC numerator's dot(q, m_c) term (0 for raw-vector codes)
        val meanByLabel =
          if (residual) means.as[(Int, Seq[Long])].collect().toMap else Map.empty[Int, Seq[Long]]
        val qDf = probeLabels(qs, centroids(e), 1).collect().toSeq.map { r =>
          val qq = r.getSeq[Long](1).toArray
          val label = r.getInt(3)
          val qm = meanByLabel.get(label).fold(0L)(mc => qq.indices.map(i => qq(i) * mc(i)).sum)
          (r.getLong(0), qq.toSeq, r.getLong(2), label, qm, PQ.adcTable(qq, cb))
        }.toDF("query_id", "qq", "nq", "cluster", "qm", "adc")
        // candidates carry only their M-int code + reconstructed norm —
        // both scan-local (plane-sign codegen + codebook-norm lookups)
        val encoded = coded.withColumn("codes", PQ.codesCol)
          .withColumn("npq", if (residual) PQ.npqResidualCol(cb) else PQ.npqCol(cb))
        val adcDot = if (residual) col("qm") + PQ.adcDotCol else PQ.adcDotCol
        val scored = encoded.join(broadcast(qDf),
            col("label") === col("cluster") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"), adcDot.as("dot"), col("nq"), col("npq").as("nc"))
        shortlistRerank(e, scored, qDf)
    }
  }

  /** A built or streamed variant: feed the learned index at
    * `<scratch>/ivf_index` from two halves of the corpus, with the row's
    * lifecycle step, then probe it through the matching
    * [[graft.similarity.IncrementalIvfIndex]] search. */
  private def probeIndex(v: Ivf, s: SparkSession, dir: String): DataFrame = {
    val IIX = graft.similarity.IncrementalIvfIndex
    val PQ = graft.similarity.ProductQuantizer
    val e = if (v.feed == Streamed) quantized(s, dir).localCheckpoint() else quantized(s, dir)
    val wh = graft.engine.Scratch.dir(v.name)
    def read(table: String): DataFrame = graft.engine.Resolver(s).read(s"$wh/$table")
    val codebook: () => DataFrame = v.feed match {
      case Streamed =>
        val cents = graft.similarity.CentroidAssign.collectCentroids(IIX.centroids(e, Dims))
        val vecs = e.select(col("vec_id"), col("q"), col("nsq"))
        lazy val cb = PQ.collectCodebook(PQ.entriesDf(vecs))
        val (src, ckp, mid) = (s"$wh/src", s"$wh/ckp", midId(e))
        for (half <- Seq(col("vec_id") <= mid, col("vec_id") > mid)) {
          vecs.filter(half).write.mode("append").parquet(src)
          graft.streaming.Streaming.vectorIndexStream(
            s, src, s"$wh/ivf_index", ckp, vecs.schema, cents, maintenanceMaxFiles = Some(2),
            codebook = if (v.kind == Flat) None else Some(cb))
        }
        // the probe takes the codebook as a frame: re-emit the collected
        // one as a local relation, so its collect runs no job
        () => {
          import s.implicits._
          (for (m <- cb.ent.indices; c <- cb.ent(m).indices)
            yield (m, c, cb.ent(m)(c).toSeq, cb.entNsq(m)(c))).toDF("m", "code", "ent", "ent_nsq")
        }
      case _ =>
        val models = v.kind match {
          case Flat => IIX.models("vectors", "vectors_training", Dims)
          case Pq => IIX.modelsPQ("vectors", "vectors_training", Dims)
          case _ => IIX.modelsPQResidual("vectors", "vectors_training", Dims)
        }
        val last = buildHalves(s, wh, e, models,
          batch => Map("vectors" -> batch, "vectors_training" -> e),
          between = () => if (v.step.contains(Retrain)) IIX.retrain(s, wh, Dims))
        if (v.step.contains(Compact)) last.compact("ivf_index", Some(deleteSet(e)))
        () => read("pq_codebook")
    }
    val index = read("ivf_index")
    def queries = index.filter(col("vec_id") < NQueries).select(col("vec_id"), col("q"), col("nsq"))
    def cents = graft.similarity.CentroidAssign.collectCentroids(read("ivf_centroids"))
    def codes = PQ.collectCodebook(codebook())
    (v.kind, v.probe) match {
      case (_, Stats) =>
        index.groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_vec_id"), max(col("vec_id")).as("max_vec_id"))
      case (Flat, Nearest(1)) if v.tombstones && !v.step.contains(Compact) =>
        IIX.searchTopKWithDeletes(index, deleteSet(e), NQueries, TopK)
      case (Flat, Nearest(1)) => IIX.searchTopK(index, NQueries, TopK)
      case (Flat, Nearest(n)) =>
        IIX.searchTopKMultiProbe(index, read("ivf_centroids"), NQueries, TopK, n,
          if (v.filtered) Some(col("vec_id") % 3 === 0) else None)
      case (Flat, Kernel(n)) => IIX.searchTopKFor(index, queries, cents, TopK, n)
      case (Pq, Nearest(1)) => IIX.searchTopKPQ(index, codebook(), NQueries, TopK, ShortK)
      case (Pq, Nearest(n)) => IIX.searchTopKPQMultiProbe(
        index, codebook(), read("ivf_centroids"), NQueries, TopK, ShortK, n)
      case (Pq, Kernel(n)) =>
        IIX.searchTopKPQFor(index, queries, cents, codes, Map.empty, TopK, ShortK, n)
      case (PqResidual, Nearest(1)) => IIX.searchTopKPQResidual(
        index, codebook(), read("ivf_means"), NQueries, TopK, ShortK)
      case (PqResidual, Nearest(n)) => IIX.searchTopKPQResidualMultiProbe(index, codebook(),
        read("ivf_means"), read("ivf_centroids"), NQueries, TopK, ShortK, n)
      case (PqResidual, Kernel(n)) => IIX.searchTopKPQFor(index, queries, cents, codes,
        IIX.collectMeans(read("ivf_means")), TopK, ShortK, n)
      case other => throw new IllegalArgumentException(s"${v.name}: no index probe for $other")
    }
  }

  // ---- DuckDB builders the IVF oracles are composed from

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $Dims), i -> $a[i] * $b[i]))"

  private def cosSql(dot: String, na: String, nb: String): String =
    s"$dot / sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))"

  /** Cosine of a `(dot, nq, nc)` pair row. */
  private def pairCosSql: String = cosSql("dot", "nq", "nc")

  /** Element-wise `e.q` sums: the integer centroid / mean numerators. */
  private def sumsSql: String = (1 to Dims).map(i => s"sum(e.q[$i])").mkString("[", ", ", "]")

  /** The one row_number shape of the IVF oracles: `from`'s rows as
    * `sel`, numbered per `part` in `order`, the first `k` kept and
    * returned as `out`. */
  private def rankedSql(sel: String, part: String, order: String, from: String, k: Int,
      out: String = "* EXCLUDE (rnk)"): String =
    s"""SELECT $out FROM (
       |  SELECT $sel,
       |         row_number() OVER (PARTITION BY $part ORDER BY $order) AS rnk
       |  FROM $from) t
       |WHERE rnk <= $k""".stripMargin

  /** `name(label, c, ncsq)`: integer member sums per `key` over `from` —
    * the [[centroids]] mirror. */
  private def centSql(name: String, from: String = "e", key: String = "e.label"): String =
    s"""$name AS (
       |  SELECT $key AS label, $sumsSql AS c,
       |         list_sum(list_transform($sumsSql, x -> x * x)) AS ncsq
       |  FROM $from GROUP BY $key)""".stripMargin

  /** `name(vec_id, cluster)`: each `e` row passing `where` with its `k`
    * nearest `cent` centroids, cosine DESC then lowest label — the order
    * of the [[probeLabels]] window and of the CentroidAssign kernels
    * (their max-of-struct(sim, −label)). */
  private def nearestSql(name: String, cent: String, k: Int, where: String = ""): String =
    s"$name AS (\n" + rankedSql(s"e.vec_id, $cent.label AS cluster", "e.vec_id",
      s"${cosSql(dotSql("e.q", s"$cent.c"), "e.nsq", s"$cent.ncsq")} DESC, $cent.label",
      s"e CROSS JOIN $cent$where", k) + ")"

  /** Top-k per query over `pairs(query_id, vec_id, dot, nq, nc)`, cosine
    * DESC then vec_id: the [[topKReduce]] output. */
  private def topKSql(pairs: String): String =
    rankedSql(s"query_id, vec_id, $pairCosSql AS cos_raw", "query_id",
      s"$pairCosSql DESC, vec_id", pairs, TopK,
      out = "query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim")

  /** A variant's one-shot oracle. */
  private def ivfOracle(v: Ivf): String = {
    val (ctes, select) = ivfOracleParts(v)
    (quantizedSql +: ctes).mkString("WITH ", ",\n", "\n") + select
  }

  /** The CTEs after `e` and the final SELECT of a variant's oracle:
    * centroids over the full fixed snapshot, the inverted file
    * `ivf(vec_id, cluster)` (the raw label ad hoc; every vector's
    * nearest trained centroid for built and streamed indexes), each
    * query's `probe`d clusters, then the kind's scoring of those
    * clusters' members. Every vector sits in exactly one cluster, so a
    * multi-probe candidate set is duplicate-free. */
  private def ivfOracleParts(v: Ivf): (Seq[String], String) = {
    import graft.similarity.ProductQuantizer.SubDims
    // the retrain lifecycle's quantizer: one Lloyd update of the snapshot
    // centroids from batch-1 membership, then every vector against it —
    // batch 1 via retrain's rewrite, batch 2 via the stored quantizer
    val retrain = v.step.contains(Retrain)
    val quantizer = if (retrain) "cent2" else "cent"
    val index = Seq(centSql("cent")) ++ (if (!retrain) Nil else Seq(
      "mid AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS m FROM e)",
      nearestSql("assign1", "cent", 1, " WHERE e.vec_id <= (SELECT m FROM mid)"),
      centSql("cent2", "e JOIN assign1 a ON a.vec_id = e.vec_id", "a.cluster"))) :+
      (if (v.feed == AdHoc) "ivf AS (SELECT vec_id, label AS cluster FROM e)"
       else nearestSql("ivf", quantizer, 1))
    val n = v.probe match { case Nearest(n) => n; case Kernel(n) => n; case Stats => 1 }
    val probe = nearestSql("probe", quantizer, n, s" WHERE e.vec_id < $NQueries")
    def qs(rel: String) =
      s"qs AS (SELECT x.*, p.cluster AS pcluster FROM $rel x JOIN probe p ON p.vec_id = x.vec_id)"
    val members = "qs JOIN ivf ca ON ca.cluster = qs.pcluster AND ca.vec_id <> qs.vec_id" +
      (if (v.filtered) " AND ca.vec_id % 3 = 0" else "") +
      (if (v.tombstones) s" AND NOT (ca.vec_id % $DeleteMod = $DeleteRem AND ca.vec_id >= $NQueries)"
       else "")
    // the code-scored tail: ShortK per query on codes, exact re-rank
    val rerank = Seq(
      s"sl AS (\n${rankedSql("query_id, vec_id", "query_id", s"$pairCosSql DESC, vec_id", "scored", ShortK)})",
      s"""exact AS (
         |  SELECT s.query_id, s.vec_id, ${dotSql("q1.q", "c.q")} AS dot, q1.nsq AS nq, c.nsq AS nc
         |  FROM sl s JOIN e q1 ON q1.vec_id = s.query_id JOIN e c ON c.vec_id = s.vec_id)""".stripMargin)
    (v.kind, v.probe) match {
      case (_, Stats) => (index,
        """SELECT cluster, count(*) AS n_vectors,
          |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
          |FROM ivf GROUP BY cluster""".stripMargin)
      case (Flat, _) => (index ++ Seq(probe, qs("e"),
        s"""pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id, ${dotSql("qs.q", "c.q")} AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM $members JOIN e c ON c.vec_id = ca.vec_id)""".stripMargin), topKSql("pairs"))
      case (Sq8, _) => (index ++ Seq(probe,
        "s AS (SELECT max(list_max(list_transform(q, x -> abs(x)))) / 127.0 AS sc FROM e)",
        """n8 AS (
          |  SELECT vec_id, nsq, q, c, list_sum(list_transform(c, x -> x * x)) AS ncsq8 FROM (
          |    SELECT vec_id, nsq, q, list_transform(q, x -> CAST(round(x / sc) AS BIGINT)) AS c
          |    FROM e, s) t)""".stripMargin,
        qs("n8"),
        s"""scored AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id, ${dotSql("qs.c", "c.c")} AS dot,
           |         qs.ncsq8 AS nq, c.ncsq8 AS nc
           |  FROM $members JOIN n8 c ON c.vec_id = ca.vec_id)""".stripMargin) ++ rerank,
        topKSql("exact"))
      case (kind, _) =>
        val residual = kind == PqResidual
        // codebook + each vector's reconstructed norm: |v̂|² from the
        // entries' norms, or |m_c + r̂|² for residual codes
        val codes = if (!residual) Seq(pqCodebookSql("e"),
          """enc AS (
            |  SELECT c.vec_id, sum(en.ent_nsq) AS npq
            |  FROM cells c JOIN entries en ON en.m = c.m AND en.code = c.code
            |  GROUP BY c.vec_id)""".stripMargin)
        else Seq(
          s"""meanst AS (
             |  SELECT ca.cluster, $sumsSql AS s, count(*) AS n
             |  FROM e JOIN ivf ca ON ca.vec_id = e.vec_id GROUP BY ca.cluster)""".stripMargin,
          """means AS (
            |  SELECT cluster, list_transform(s, x -> (x - (((x % n) + n) % n)) // n) AS mc
            |  FROM meanst)""".stripMargin,
          s"""resid AS (
             |  SELECT e.vec_id, ca.cluster AS label,
             |         list_transform(generate_series(1, $Dims), i -> e.q[i] - m.mc[i]) AS q
             |  FROM e JOIN ivf ca ON ca.vec_id = e.vec_id JOIN means m ON m.cluster = ca.cluster)""".stripMargin,
          pqCodebookSql("resid"),
          s"""enc AS (
             |  SELECT c.vec_id, sum(list_sum(list_transform(generate_series(1, $SubDims),
             |           j -> (m.mc[c.m * $SubDims + j] + en.ent[j])
             |              * (m.mc[c.m * $SubDims + j] + en.ent[j])))) AS npq
             |  FROM cells c
             |  JOIN entries en ON en.m = c.m AND en.code = c.code
             |  JOIN means m ON m.cluster = c.label
             |  GROUP BY c.vec_id)""".stripMargin)
        // the IVFADC numerator: dot(q, m_c) per (query, probed cluster)
        // plus the per-subspace dots against the code's entries
        val qm = if (!residual) Nil else Seq(
          s"""qmt AS (
             |  SELECT qs.vec_id AS query_id, qs.pcluster, ${dotSql("qs.q", "m.mc")} AS qm
             |  FROM qs JOIN means m ON m.cluster = qs.pcluster)""".stripMargin)
        val (qmTerm, qmJoin, qmKey) =
          if (!residual) ("", "", "")
          else ("qmt.qm + ", "\n  JOIN qmt ON qmt.query_id = qs.vec_id AND qmt.pcluster = qs.pcluster",
            ", qmt.qm")
        val adc = Seq(
          s"""adc AS (
             |  SELECT qs.vec_id AS query_id, cr.vec_id AS vec_id, qs.nsq AS nq,
             |         ${qmTerm}sum(list_sum(list_transform(generate_series(1, $SubDims),
             |             j -> qs.q[cr.m * $SubDims + j] * en.ent[j]))) AS dot
             |  FROM $members$qmJoin
             |  JOIN cells cr ON cr.vec_id = ca.vec_id
             |  JOIN entries en ON en.m = cr.m AND en.code = cr.code
             |  GROUP BY qs.vec_id, cr.vec_id, qs.nsq$qmKey)""".stripMargin,
          """scored AS (
            |  SELECT adc.query_id, adc.vec_id, adc.dot, adc.nq, ec.npq AS nc
            |  FROM adc JOIN enc ec ON ec.vec_id = adc.vec_id)""".stripMargin)
        (index ++ codes ++ Seq(probe, qs("e")) ++ qm ++ adc ++ rerank, topKSql("exact"))
    }
  }

  /** The PQ codebook as CTEs over a `(vec_id, label, q)` relation `rel`:
    * per-(vector, subspace) cells with LSH codes, cell sums, and the
    * exact cosine-to-cell-sum medoid entries (ties lowest vec_id) — the
    * bit-identical mirror of [[graft.similarity.ProductQuantizer]]'s
    * training and encoding. Residual PQ trains it on the residuals. */
  private def pqCodebookSql(rel: String): String = {
    import graft.similarity.ProductQuantizer.{M, PlanesPerSub, SubDims, SubPlanes}
    // per-plane-index literal: planes of ALL M subspaces for bit i,
    // indexed [m+1][j] inside the cell-code CASE terms
    val codeTerms = (0 until PlanesPerSub).map { i =>
      val pl = (0 until M).map(m => SubPlanes(m)(i).mkString("[", ",", "]"))
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, $SubDims), j -> sv[j] * ($pl)[m + 1][j])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n       + ")
    val ssumList = (1 to SubDims).map(j => s"sum(sv[$j])").mkString(", ")
    s"""um AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
       |cells0 AS (
       |  SELECT $rel.vec_id, $rel.label, um.m,
       |         list_slice($rel.q, um.m * $SubDims + 1, um.m * $SubDims + $SubDims) AS sv
       |  FROM $rel CROSS JOIN um),
       |cells AS (
       |  SELECT vec_id, label, m, sv,
       |         list_sum(list_transform(sv, x -> x * x)) AS nsv,
       |         $codeTerms AS code
       |  FROM cells0),
       |bsum AS (
       |  SELECT m, code, [$ssumList] AS ssum FROM cells GROUP BY m, code),
       |bs2 AS (SELECT m, code, ssum,
       |               list_sum(list_transform(ssum, x -> x * x)) AS nssum FROM bsum),
       |entries AS (
       |  SELECT m, code, sv AS ent, nsv AS ent_nsq FROM (
       |    SELECT c.m, c.code, c.sv, c.nsv, c.vec_id,
       |           row_number() OVER (PARTITION BY c.m, c.code ORDER BY
       |             list_sum(list_transform(generate_series(1, $SubDims), j -> c.sv[j] * b.ssum[j]))
       |               / sqrt(CAST(c.nsv AS DOUBLE) * CAST(b.nssum AS DOUBLE)) DESC,
       |             c.vec_id) AS rnk
       |    FROM cells c JOIN bs2 b ON b.m = c.m AND b.code = c.code) t
       |  WHERE rnk = 1)""".stripMargin
  }
}
