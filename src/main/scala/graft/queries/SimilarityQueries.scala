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
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        val shortN = TopK * 3
        s"""WITH $quantizedSql,
           |b AS (
           |  SELECT vec_id, label, q, nsq, ${packBitsDuck(0)} AS w1,
           |         ${packBitsDuck(32)} AS w2
           |  FROM e),
           |cent AS (
           |  SELECT label, [$centroidSums] AS cc,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |qs AS (SELECT * FROM b WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.cc[i]))
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
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("cc"))
        .withColumn("ncsq", expr("dot_i64(cc, cc)"))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("w1").as("qw1"), col("w2").as("qw2"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "cc"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qs.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign)).filter(col("rnk") === 1)
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
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incknn")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh, Map("vectors" -> batch),
          graft.similarity.IncrementalKnnGraph.models("vectors")).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
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

    // ---- IVF: integer centroids per label, probe nearest cluster only
    Q.sql(
      "q_ann_ivf_topk", {
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.c[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
           |pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |          JOIN e c ON c.label = a.label AND c.vec_id <> qs.vec_id)
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
      // the quantized table feeds three subtrees (centroids, queries,
      // candidates) — checkpoint it once instead of re-scanning parquet
      // and re-quantizing per subtree
      val e = quantized(s, dir).localCheckpoint()
      // element-wise integer sum per label = unnormalized centroid
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)"))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "c"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qs.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
      val pairs = e.as("c").join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
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
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
           |bfp AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN e c ON c.vec_id <> qs.vec_id),
           |bf AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
           |                      vec_id) AS rnk
           |    FROM bfp) t WHERE rnk <= $TopK),
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.c[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
           |ivfp AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |          JOIN e c ON c.label = a.label AND c.vec_id <> qs.vec_id),
           |ivf AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
           |                      vec_id) AS rnk
           |    FROM ivfp) t WHERE rnk <= $TopK),
           |hits AS (
           |  SELECT query_id, count(*) AS n_hit
           |  FROM bf JOIN ivf USING (query_id, vec_id) GROUP BY 1)
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
      // candidate: single-probe IVF top-k (the q_ann_ivf_topk plan)
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "c"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qsq.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
      val ivfPairs = e.as("c").join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      val ivf = topKReduce(ivfPairs, TopK).select(col("query_id"), col("vec_id"))
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
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
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
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)"))
      val cents = graft.similarity.CentroidAssign.collectCentroids(cent)
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

    // ---- multi-probe IVF (nprobe = 2): single-probe IVF recall is
    // bounded by true neighbors living in the query's SECOND-nearest
    // cluster — exactly the vectors a query near a centroid boundary
    // loses. Probing the 2 nearest clusters doubles the candidate scan
    // (2N/C per query, still ≪ N) and strictly dominates single-probe
    // recall: the probed set is a superset. Same trade as
    // q_ann_lsh_multiprobe, on the learned-centroid structure; recall
    // vs brute-force truth measured in SimilaritySpec.
    Q.sql(
      "q_ann_ivf_multiprobe", {
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.c[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk <= $NProbe),
           |pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |          JOIN e c ON c.label = a.label AND c.vec_id <> qs.vec_id)
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
      val e = quantized(s, dir).localCheckpoint()
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)"))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "c"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qs.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") <= NProbe) // the ONLY change vs single-probe
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
      val pairs = e.as("c").join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qq", "q").as("dot"), col("nq"), col("nsq").as("nc"))
      topKReduce(pairs, TopK)
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

    // ---- FILTERED IVF search: the predicate composed with the
    // cluster-probe structure. A selective filter starves a single
    // probe (its cluster holds ~sel·N/C qualifying rows — possibly
    // < k), so the standard production rule widens the probe list by
    // the filter's inverse selectivity: nprobe = 1/sel (= 3 here, the
    // vec_id % 3 predicate) keeps the EXPECTED qualifying candidate
    // count equal to the unfiltered single-probe scan. The filter
    // rides the candidate scan (cluster partition + column predicate
    // at 100 TB: partition pruning AND row-group skipping); recall vs
    // the filtered brute-force truth is measured in SimilaritySpec.
    Q.sql(
      "q_ann_ivf_filtered", {
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.c[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk <= $FilteredProbe),
           |pairs AS (
           |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
           |         list_sum(list_transform(generate_series(1, $Dims),
           |                  i -> qs.q[i] * c.q[i])) AS dot,
           |         qs.nsq AS nq, c.nsq AS nc
           |  FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |          JOIN e c ON c.label = a.label AND c.vec_id <> qs.vec_id
           |                   AND c.vec_id % 3 = 0)
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
      val e = quantized(s, dir).localCheckpoint()
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
        .withColumn("ncsq", expr("dot_i64(c, c)"))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "c"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qs.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") <= FilteredProbe) // widened by 1/selectivity
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
      val pairs = e.filter(col("vec_id") % 3 === 0).as("c")
        .join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
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
      // global scale: ONE driver-collected scalar (same bytes a scalar
      // subquery moves); identical double math to the oracle's `s` CTE
      val maxAbs = e.select(max(array_max(transform(col("q"), x => abs(x)))))
        .first().getLong(0)
      val sc = maxAbs / 127.0
      val c8 = e.withColumn("c",
          transform(col("q"), x => round(x / lit(sc), 0).cast("long")))
        .withColumn("ncsq8", expr("dot_i64(c, c)"))
      val qs = c8.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("c").as("qc"), col("ncsq8").as("nq8"))
      val short = TopK * 3
      // skew-safe shortlist: the full-corpus code scan collapses to ≤3k
      // candidates per query map-side via the TopKCos aggregate (the
      // row_number form would shuffle all N scored rows into |Q|
      // partitions); full vectors for the exact re-rank come back via a
      // broadcast of the tiny shortlist against the corpus scan
      val shortIds = c8.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot("qc", "c").as("dot8"), col("nq8"), col("ncsq8"))
        .groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot8, nq8, ncsq8), $short)").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qs.select(col("query_id"), col("qq"), col("nq"))), "query_id")
      val rerank = e.join(broadcast(shortIds), "vec_id")
      val cosE = cosine(dot("qq", "q"), col("nq"), col("nsq"))
      // final ordering over ≤3k rows per query — trivially small window
      val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
      rerank
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("vec_id"), col("rnk"),
          round(cosE, 4).as("cos_sim"))
    },

    // ---- IVF probe + SQ8 code scoring composed: the full production
    // probe economics in one query. A query (1) coarse-quantizes to its
    // nearest cluster (IVF: candidates = N/C of the corpus — at 100 TB a
    // partition-pruned scan, see IncrementalIvfIndex), (2) scores ONLY
    // that cluster's members on int8 codes (8× less data touched per
    // candidate at production layout), (3) exactly re-ranks the code
    // shortlist on full vectors. Recall loss can come from either stage
    // (cluster boundary, code boundary) — measured against brute-force
    // truth in SimilaritySpec.
    Q.sql(
      "q_ann_ivf_sq8", {
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        val short = TopK * 3
        s"""WITH $quantizedSql,
           |s AS (SELECT max(list_max(list_transform(q, x -> abs(x)))) / 127.0 AS sc FROM e),
           |c8 AS (
           |  SELECT vec_id, label, nsq, q,
           |         list_transform(q, x -> CAST(round(x / sc) AS BIGINT)) AS c
           |  FROM e, s),
           |n8 AS (SELECT vec_id, label, nsq, q, c,
           |              list_sum(list_transform(c, x -> x * x)) AS ncsq8 FROM c8),
           |cent AS (
           |  SELECT label, [$centroidSums] AS cc,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |qs AS (SELECT * FROM n8 WHERE vec_id < $NQueries),
           |assign AS (
           |  SELECT query_id, label FROM (
           |    SELECT qs.vec_id AS query_id, cent.label,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.q[i] * cent.cc[i]))
           |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
           |shortlist AS (
           |  SELECT query_id, vec_id, q, nsq, qq, nq FROM (
           |    SELECT qs.vec_id AS query_id, c.vec_id AS vec_id, c.q, c.nsq,
           |           qs.q AS qq, qs.nsq AS nq,
           |           row_number() OVER (PARTITION BY qs.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> qs.c[i] * c.c[i]))
           |                      / sqrt(CAST(qs.ncsq8 AS DOUBLE) * CAST(c.ncsq8 AS DOUBLE)) DESC,
           |                      c.vec_id) AS rnk8
           |    FROM qs JOIN assign a ON qs.vec_id = a.query_id
           |            JOIN n8 c ON c.label = a.label AND c.vec_id <> qs.vec_id) t
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
      val maxAbs = e.select(max(array_max(transform(col("q"), x => abs(x)))))
        .first().getLong(0)
      val sc = maxAbs / 127.0
      val c8 = e.withColumn("c",
          transform(col("q"), x => round(x / lit(sc), 0).cast("long")))
        .withColumn("ncsq8", expr("dot_i64(c, c)"))
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("cc"))
        .withColumn("ncsq", expr("dot_i64(cc, cc)"))
      val qs = c8.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nsq").as("nq"), col("c").as("qc"), col("ncsq8").as("nq8"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "cc"), col("nq"), col("ncsq")).desc, col("label"))
      val assign = qs.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("qq"), col("nq"), col("qc"), col("nq8"), col("label"))
      val short = TopK * 3
      // skew-safe shortlist (the q_ann_sq8_rerank idiom): the probed
      // cluster's code scores collapse to ≤3k candidates per query
      // MAP-SIDE via the TopKCos partial aggregate — the row_number
      // form here would shuffle every scored candidate into |Q|
      // partitions and sort there, the exact skew shape topk_cos was
      // introduced to eliminate (a hot cluster = one hot task). Full
      // vectors for the exact re-rank come back via a broadcast of the
      // tiny shortlist against the corpus scan; ordering is
      // bit-identical (same cos evidence, same vec_id tiebreak).
      val shortIds = c8.as("c").join(broadcast(assign.as("a")),
          col("c.label") === col("a.label") && col("c.vec_id") =!= col("a.query_id"))
        .select(col("query_id"), col("c.vec_id").as("vec_id"),
          dot("qc", "c").as("dot8"), col("nq8"), col("ncsq8"))
        .groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot8, nq8, ncsq8), $short)").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qs.select(col("query_id"), col("qq"), col("nq"))), "query_id")
      val rerank = e.join(broadcast(shortIds), "vec_id")
      val cosE = cosine(dot("qq", "q"), col("nq"), col("nsq"))
      // final ordering over ≤3k rows per query — trivially small window
      val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
      rerank
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("vec_id"), col("rnk"),
          round(cosE, 4).as("cos_sim"))
    },

    // ---- IVF-PQ: product quantization + ADC table-lookup scoring —
    // the full published probe economics (Jégou et al.). Vectors are
    // coded as M=8 per-subspace codebook indices (M bytes at production
    // layout vs 64×8 for the raw vector); a query (1) coarse-quantizes
    // to its nearest cluster (candidates = N/C of the corpus), (2)
    // precomputes ONE ADC table — its exact integer dot against every
    // codebook entry, M×256 longs — and scores each candidate with M
    // TABLE LOOKUPS + adds (zero per-candidate vector arithmetic: the
    // scan touches only the M-byte code), (3) exactly re-ranks the
    // code shortlist on full vectors. Codebooks are trained
    // deterministically (LSH cells + exact cosine medoids — see
    // ProductQuantizer), so both engines build bit-identical codebooks
    // and the result hash-checks like every other ANN variant; recall
    // vs brute-force truth measured in SimilaritySpec.
    Q.sql(
      "q_ann_ivf_pq",
      ivfPqOracleSql
    ) { (s, dir) =>
      import s.implicits._
      val PQ = graft.similarity.ProductQuantizer
      val e = quantized(s, dir).localCheckpoint()
      val cb = PQ.train(e)
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("cc"))
        .withColumn("ncsq", expr("dot_i64(cc, cc)"))
      val qs0 = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "cc"), col("nq"), col("ncsq")).desc, col("label"))
      // |Q| assigned query rows collected to the driver (the P8
      // driver-collected-bound idiom) to precompute each query's ADC
      // lookup table against the driver-resident codebook
      val assigned = qs0.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
        .collect()
      val qDf = assigned.toSeq.map { r =>
        val qq = r.getSeq[Long](1).toArray
        (r.getLong(0), qq.toSeq, r.getLong(2), r.getInt(3), PQ.adcTable(qq, cb))
      }.toDF("query_id", "qq", "nq", "cluster", "adc")
      // candidates carry only their M-int code + reconstructed norm —
      // both scan-local (plane-sign codegen + codebook-norm lookups)
      val encoded = e
        .withColumn("codes", PQ.codesCol)
        .withColumn("npq", PQ.npqCol(cb))
      val pairs = encoded.join(broadcast(qDf),
          col("label") === col("cluster") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          PQ.adcDotCol.as("dot"), col("nq"), col("npq").as("nc"))
      val short = TopK * 3
      val shortIds = pairs.groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $short)").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qDf.select(col("query_id"), col("qq"), col("nq"))), "query_id")
      val rerank = e.join(broadcast(shortIds), "vec_id")
      val cosE = cosine(dot("qq", "q"), col("nq"), col("nsq"))
      // final ordering over ≤3k rows per query — trivially small window
      val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
      rerank
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("vec_id"), col("rnk"),
          round(cosE, 4).as("cos_sim"))
    },

    // ---- RESIDUAL product quantization — the published IVFADC
    // formulation (Jégou et al. §IV-A: quantize v − m_c, the residual
    // to the coarse centroid, not the raw vector): residuals center
    // near zero, so the same 8×256-entry codebook budget spends its
    // entries on a tighter distribution — measurably lower total
    // reconstruction error than raw-vector PQ (pinned in
    // SimilaritySpec). m_c is the cluster's floor-divided integer mean
    // ((S − pmod(S, n)) div n — exact and engine-identical for
    // negative sums too), so everything stays in the established
    // integer-exactness contract. ADC keeps the zero-arithmetic scan:
    // the numerator decomposes as dot(q, m_c) — one integer per
    // (query, probed cluster), precomputed — plus residual-codebook
    // table lookups, and the stored npq is |m_c + r̂|², an integer
    // computed at ENCODE time (per-subspace reconstruction dots
    // against the 128 KB entries literal). Hash-checks via the
    // own-oracle idiom: both engines derive bit-identical means,
    // codebooks, and scores.
    Q.sql(
      "q_ann_ivf_pq_residual",
      ivfPqResidualOracleSql
    ) { (s, dir) =>
      import s.implicits._
      val PQ = graft.similarity.ProductQuantizer
      val e = quantized(s, dir).localCheckpoint()
      val means = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("s"),
          count(lit(1)).as("n"))
        .select(col("label"),
          expr("transform(s, x -> (x - pmod(x, n)) div n)").as("mc"))
      val resid = e
        .select(col("vec_id"), col("label"), col("q").as("qv"))
        .join(broadcast(means), "label")
        .withColumn("q", expr("zip_with(qv, mc, (a, b) -> a - b)"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
      val cb = PQ.train(resid.select(col("vec_id"), col("q"), col("nsq")))
      val cent = e.groupBy(col("label"))
        .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("cc"))
        .withColumn("ncsq", expr("dot_i64(cc, cc)"))
      val qs0 = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nsq").as("nq"))
      val wAssign = Window.partitionBy(col("query_id"))
        .orderBy(cosine(dot("qq", "cc"), col("nq"), col("ncsq")).desc, col("label"))
      val assigned = qs0.crossJoin(broadcast(cent))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("qq"), col("nq"), col("label"))
        .collect()
      val meanByLabel = means.select(col("label"), col("mc"))
        .as[(Int, Seq[Long])].collect().toMap
      val qDf = assigned.toSeq.map { r =>
        val qq = r.getSeq[Long](1).toArray
        val lbl = r.getInt(3)
        val mc = meanByLabel(lbl)
        var qm = 0L
        var i = 0
        while (i < qq.length) { qm += qq(i) * mc(i); i += 1 }
        (r.getLong(0), qq.toSeq, r.getLong(2), lbl, qm, PQ.adcTable(qq, cb))
      }.toDF("query_id", "qq", "nq", "cluster", "qm", "adc")
      val encoded = resid
        .withColumn("codes", PQ.codesCol)
        .withColumn("npq", PQ.npqResidualCol(cb))
      val pairs = encoded.join(broadcast(qDf),
          col("label") === col("cluster") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (col("qm") + PQ.adcDotCol).as("dot"), col("nq"), col("npq").as("nc"))
      val short = TopK * 3
      val shortIds = pairs.groupBy(col("query_id"))
        .agg(expr(s"topk_cos(struct(vec_id, dot, nq, nc), $short)").as("top"))
        .select(col("query_id"), explode(col("top.vec_id")).as("vec_id"))
        .join(broadcast(qDf.select(col("query_id"), col("qq"), col("nq"))), "query_id")
      val rerank = e.join(broadcast(shortIds), "vec_id")
      val cosE = cosine(dot("qq", "q"), col("nq"), col("nsq"))
      val w = Window.partitionBy(col("query_id")).orderBy(cosE.desc, col("vec_id"))
      rerank.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= TopK)
        .select(col("query_id"), col("vec_id"), col("rnk"),
          round(cosE, 4).as("cos_sim"))
    },

    // ---- incrementally-built IVF index: two engine builds (half the
    // corpus, then all of it) accumulate `ivf_index` delta-only — each
    // build assigns ONLY its batch against centroids trained once on
    // the fixed snapshot — and probing the accumulated index must
    // hash-match the one-shot oracle: incremental ≡ batch, checked by
    // the driver, not just the spec. Unlike q_ann_ivf_topk (whose
    // inverted file is the raw label), the index here is the LEARNED
    // partition — every vector's nearest trained centroid (~half the
    // corpus crosses labels at sf0.01). See
    // [[graft.similarity.IncrementalIvfIndex]].
    Q.sql(
      "q_ann_ivf_incremental",
      ivfIncrementalOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivf")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopK(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"), NQueries, TopK)
    },

    // ---- multi-probe over the SAME incrementally-built index: each
    // query probes its NProbe nearest trained centroids instead of only
    // its own cluster — the ad-hoc q_ann_ivf_multiprobe recall win
    // wired through the index's partition-pruned read path. The probed
    // cluster set is a driver-derived LITERAL isin on the
    // cluster-partitioned storage, so the executed scan's
    // PartitionFilters names exactly the probed directories (pinned in
    // IncrementalIvfIndexSpec along with single ⊆ multi recall).
    Q.sql(
      "q_ann_ivf_incremental_multiprobe",
      ivfIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfmp")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKMultiProbe(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/ivf_centroids"), NQueries, TopK, NProbe)
    },

    // ---- the SAME multi-probe search through the scan-local
    // kernelTopN ranking (the streaming-safe path: probe lists
    // computed inside each query's scan task, not on the driver) —
    // hash-checked against the SAME oracle as the driver-ranked form,
    // so the driver verifies the two ranking homes agree bit-for-bit
    // on top of the spec's fixture pin.
    Q.sql(
      "q_ann_ivf_incremental_multiprobe_kernel",
      ivfIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfmpk")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      val index = graft.engine.Resolver(s).read(s"$wh/ivf_index")
      graft.similarity.IncrementalIvfIndex.searchTopKFor(
        index,
        index.filter(col("vec_id") < NQueries)
          .select(col("vec_id"), col("q"), col("nsq")),
        graft.similarity.CentroidAssign.collectCentroids(
          graft.engine.Resolver(s).read(s"$wh/ivf_centroids")),
        TopK, nprobe = NProbe)
    },

    // ---- the STREAMING index lifecycle under the driver's hash gate:
    // two REAL AvailableNow micro-batch runs of vectorIndexStream
    // (kernel assignment against frozen centroids, idempotent
    // (cluster, batch_id) sink, in-loop cadence-gated maintenance via
    // maintenanceMaxFiles) build the cluster-partitioned layout, then
    // the standard searchTopK probes it — and the result must
    // hash-match the SAME one-shot oracle as the engine-built
    // incremental index, because stream and engine share the
    // assignment kernel and the layout contract. StreamingSpec pins
    // the stream's exactly-once/restart semantics; THIS entry makes
    // the whole lifecycle's output oracle-checked, not just spec'd.
    Q.sql(
      "q_ann_ivf_stream_lifecycle",
      ivfIncrementalOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val cents = graft.similarity.CentroidAssign.collectCentroids(
        graft.similarity.IncrementalIvfIndex.centroids(e, Dims))
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val tmp = graft.engine.Scratch.dir("graft_streamivf")
      val src = s"$tmp/src"; val idx = s"$tmp/idx"; val ckp = s"$tmp/ckp"
      val vecs = e.select(col("vec_id"), col("q"), col("nsq"))
      val schema = vecs.schema
      vecs.filter(col("vec_id") <= mid).write.mode("append").parquet(src)
      graft.streaming.Streaming.vectorIndexStream(
        s, src, idx, ckp, schema, cents, maintenanceMaxFiles = Some(2))
      vecs.filter(col("vec_id") > mid).write.mode("append").parquet(src)
      graft.streaming.Streaming.vectorIndexStream(
        s, src, idx, ckp, schema, cents, maintenanceMaxFiles = Some(2))
      graft.similarity.IncrementalIvfIndex.searchTopK(
        graft.engine.Resolver(s).read(idx), NQueries, TopK)
    },

    // ---- index BALANCE diagnostics: per-cluster row counts and id
    // bounds over the incrementally-built index — the operational
    // query an IVF deployment watches, because cluster skew IS probe
    // skew (a probe reads its cluster's partition: the hottest cluster
    // bounds tail latency, and a degenerate quantizer shows up here
    // before it shows up in recall). Pure metadata aggregation over
    // the cluster-partitioned layout: one partial-agg scan, no joins.
    Q.sql(
      "q_ann_ivf_index_stats", {
        val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
        s"""WITH $quantizedSql,
           |cent AS (
           |  SELECT label, [$centroidSums] AS c,
           |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
           |  FROM e GROUP BY label),
           |assign AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT e.vec_id, cent.label AS cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
           |                        i -> e.q[i] * cent.c[i]))
           |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
           |                      cent.label) AS rnk
           |    FROM e CROSS JOIN cent) t WHERE rnk = 1)
           |SELECT cluster, count(*) AS n_vectors,
           |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
           |FROM assign GROUP BY cluster""".stripMargin
      }
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfstats")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.engine.Resolver(s).read(s"$wh/ivf_index")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_vec_id"),
          max(col("vec_id")).as("max_vec_id"))
    },

    // ---- the PQ (production-layout) streaming lifecycle under the
    // same gate: vectorIndexStreamPQ encodes each arriving vector
    // in-scan (cluster + PQ codes + reconstructed norm against the
    // frozen codebook) across two real micro-batch runs with in-loop
    // maintenance, and the ADC probe over the streamed directory must
    // hash-match the engine-built PQ index's one-shot oracle.
    Q.sql(
      "q_ann_ivf_stream_lifecycle_pq",
      ivfPqIncrementalOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir).localCheckpoint()
      val PQ = graft.similarity.ProductQuantizer
      val cents = graft.similarity.CentroidAssign.collectCentroids(
        graft.similarity.IncrementalIvfIndex.centroids(e, Dims))
      val cb = PQ.collectCodebook(
        PQ.entriesDf(e.select(col("vec_id"), col("q"), col("nsq"))))
      // the probe below takes the codebook as a frame: re-emit the
      // collected one as a local relation, so its collect runs no job
      import s.implicits._
      val cbDf = (for (m <- cb.ent.indices; c <- cb.ent(m).indices)
        yield (m, c, cb.ent(m)(c).toSeq, cb.entNsq(m)(c))).toDF("m", "code", "ent", "ent_nsq")
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val tmp = graft.engine.Scratch.dir("graft_streamivfpq")
      val src = s"$tmp/src"; val idx = s"$tmp/idx"; val ckp = s"$tmp/ckp"
      val vecs = e.select(col("vec_id"), col("q"), col("nsq"))
      val schema = vecs.schema
      vecs.filter(col("vec_id") <= mid).write.mode("append").parquet(src)
      graft.streaming.Streaming.vectorIndexStreamPQ(
        s, src, idx, ckp, schema, cents, cb, maintenanceMaxFiles = Some(2))
      vecs.filter(col("vec_id") > mid).write.mode("append").parquet(src)
      graft.streaming.Streaming.vectorIndexStreamPQ(
        s, src, idx, ckp, schema, cents, cb, maintenanceMaxFiles = Some(2))
      graft.similarity.IncrementalIvfIndex.searchTopKPQ(
        graft.engine.Resolver(s).read(idx), cbDf, NQueries, TopK, shortK = TopK * 3)
    },

    // ---- FILTERED search over the SAME incrementally-built index:
    // q_ann_ivf_filtered's metadata-predicate semantics wired through
    // the index's partition-pruned read path. The predicate applies to
    // the candidate scan only (cluster isin pruning + row predicate in
    // one scan — at 100 TB: directory pruning AND row-group skipping),
    // queries probe regardless, and the probe list is widened by the
    // filter's inverse selectivity (nprobe = 3). Incremental build ≡
    // one-shot filtered oracle, driver-checked.
    Q.sql(
      "q_ann_ivf_incremental_filtered",
      ivfIncrementalFilteredOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivff")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKMultiProbe(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/ivf_centroids"), NQueries, TopK,
        nprobe = FilteredProbe,
        candFilter = Some(col("vec_id") % 3 === 0))
    },

    // ---- PQ codes stored IN the incremental index: the modelsPQ DAG
    // adds a pq_codebook Table (trained once on the same fixed snapshot
    // as the centroids — frozen-quantizer contract) and stores each
    // vector's M-index PQ code + reconstructed norm beside its cluster.
    // The probe is then the full production ADC economics over the
    // index layout itself: a partition-pruned, COLUMN-PRUNED scan of
    // (codes, npq) only — M bytes per candidate at production layout —
    // ADC table-lookup scoring, and full vectors touched only for the
    // shortlist re-rank. Incremental build ≡ one-shot oracle, checked
    // by the driver like q_ann_ivf_incremental.
    Q.sql(
      "q_ann_ivf_pq_incremental",
      ivfPqIncrementalOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpq")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQ(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKPQ(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/pq_codebook"), NQueries, TopK, shortK = TopK * 3)
    },

    // ---- MULTI-PROBE over the PQ-coded incremental index — the
    // production ANN configuration (IVFADC economics with nprobe>1):
    // each query ADC-scores its NProbe nearest clusters' code columns
    // (partition-pruned union isin, per-query array_contains match),
    // exact re-rank on the shortlist. Candidate superset ⇒ recall
    // dominates single-probe PQ (SimilaritySpec); incremental build ≡
    // one-shot oracle, driver-checked.
    Q.sql(
      "q_ann_ivf_pq_incremental_multiprobe",
      ivfPqIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpqmp")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQ(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKPQMultiProbe(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/pq_codebook"),
        graft.engine.Resolver(s).read(s"$wh/ivf_centroids"),
        NQueries, TopK, shortK = TopK * 3, nprobe = NProbe)
    },

    // ---- the full IVFADC index: residual PQ composed with the
    // incremental cluster-partitioned layout. The modelsPQResidual DAG
    // adds an `ivf_means` Table (the learned clusters' floor-divided
    // integer means over the fixed snapshot, frozen with the
    // centroids) and trains the codebook on the snapshot's RESIDUALS;
    // every stored row carries residual codes + |m_c + r̂|². The probe
    // is searchTopKPQ's partition-pruned, code-column-only scan with
    // the IVFADC numerator decomposition dot(q,m_c) + ADC lookups.
    // Incremental build ≡ one-shot oracle, driver-checked.
    Q.sql(
      "q_ann_ivf_pq_residual_incremental",
      ivfPqResidualIncrementalOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpqr")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQResidual(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKPQResidual(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/pq_codebook"),
        graft.engine.Resolver(s).read(s"$wh/ivf_means"), NQueries, TopK, shortK = TopK * 3)
    },

    // ---- the COMPLETE production IVFADC configuration: residual
    // codes AND nprobe>1 on the same incremental index. The ADC
    // numerator's dot(q, m_c) term differs per probed cluster, so the
    // broadcast query side carries one row per (query, probed cluster)
    // with its own precomputed qm; everything else is the residual
    // probe's partition-pruned, code-only economics. Incremental build
    // ≡ one-shot oracle (the residual oracle generalized to a probe
    // CTE), driver-checked.
    Q.sql(
      "q_ann_ivf_pq_residual_incremental_multiprobe",
      ivfPqResidualIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpqrmp")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQResidual(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKPQResidualMultiProbe(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"),
        graft.engine.Resolver(s).read(s"$wh/pq_codebook"),
        graft.engine.Resolver(s).read(s"$wh/ivf_means"),
        graft.engine.Resolver(s).read(s"$wh/ivf_centroids"),
        NQueries, TopK, shortK = TopK * 3, nprobe = NProbe)
    },

    // ---- the SAME multi-probe ADC search through the SCAN-LOCAL
    // kernel (ProductQuantizer.adcProbeKernel): probe ranking AND the
    // per-query ADC table computed inside each query's scan task — the
    // streaming-safe path the driver-side tables of the ad-hoc probes
    // can't take — hash-checked against the SAME oracle as the
    // driver-ranked form, so the driver verifies the two ADC homes
    // agree bit-for-bit (the q_ann_ivf_incremental_multiprobe_kernel
    // idiom, completed for PQ scoring).
    Q.sql(
      "q_ann_ivf_pq_multiprobe_kernel",
      ivfPqIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpqk")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQ(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      val index = graft.engine.Resolver(s).read(s"$wh/ivf_index")
      graft.similarity.IncrementalIvfIndex.searchTopKPQFor(
        index,
        index.filter(col("vec_id") < NQueries)
          .select(col("vec_id"), col("q"), col("nsq")),
        graft.similarity.CentroidAssign.collectCentroids(
          graft.engine.Resolver(s).read(s"$wh/ivf_centroids")),
        graft.similarity.ProductQuantizer.collectCodebook(
          graft.engine.Resolver(s).read(s"$wh/pq_codebook")),
        means = Map.empty,
        TopK, shortK = TopK * 3, nprobe = NProbe)
    },

    // ---- and the COMPLETE production configuration through the same
    // scan-local kernel: residual codes, nprobe>1, per-probe dot(q,m_c)
    // numerator terms — all computed in-scan against the broadcast
    // frozen centroids/codebook/means. Same oracle as the driver-ranked
    // residual multi-probe ⇒ driver-verified bit-equal.
    Q.sql(
      "q_ann_ivf_pq_residual_multiprobe_kernel",
      ivfPqResidualIncrementalMultiProbeOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfpqrk")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.modelsPQResidual(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      val index = graft.engine.Resolver(s).read(s"$wh/ivf_index")
      graft.similarity.IncrementalIvfIndex.searchTopKPQFor(
        index,
        index.filter(col("vec_id") < NQueries)
          .select(col("vec_id"), col("q"), col("nsq")),
        graft.similarity.CentroidAssign.collectCentroids(
          graft.engine.Resolver(s).read(s"$wh/ivf_centroids")),
        graft.similarity.ProductQuantizer.collectCodebook(
          graft.engine.Resolver(s).read(s"$wh/pq_codebook")),
        graft.similarity.IncrementalIvfIndex.collectMeans(
          graft.engine.Resolver(s).read(s"$wh/ivf_means")),
        TopK, shortK = TopK * 3, nprobe = NProbe)
    },

    // ---- DELETION from the append-only index, probe-time half: a
    // tombstone set (every 7th non-query vec_id) is anti-joined out of
    // the index read in both roles — broadcast-sized by the
    // compaction-cadence contract, so the anti-join rides the pruned
    // probe scan as a BroadcastHashJoin with zero added exchanges. The
    // oracle is the one-shot index over corpus-minus-deleted: deletion
    // semantics, not just filter semantics, are what's hash-checked
    // (the deleted vectors still sit in the stored layout here).
    Q.sql(
      "q_ann_ivf_incremental_delete",
      ivfDeleteOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfdel")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopKWithDeletes(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"), deleteSet(e), NQueries, TopK)
    },

    // ---- DELETION, compaction half: Engine.compact applies the same
    // tombstones by REWRITING the cluster-partitioned storage (one
    // shuffle on cluster, one file per cluster, frontier preserved via
    // a marker row if the high-water-mark row was deleted), after which
    // the plain probe — no tombstone join at all — must produce the
    // same corpus-minus-deleted results. Same oracle as the probe-time
    // half, so the driver hash-checks that the two halves of the
    // deletion lifecycle agree with each other AND with the one-shot
    // truth.
    Q.sql(
      "q_ann_ivf_incremental_compact",
      ivfDeleteOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfcmp")
      val models = graft.similarity.IncrementalIvfIndex.models(
        "vectors", "vectors_training", Dims)
      def engine(batch: DataFrame): graft.engine.Engine =
        new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e), models)
      def build(batch: DataFrame): graft.engine.Engine = {
        val eng = engine(batch)
        val rpt = eng.build()
        require(rpt.ok, rpt.results.mkString("; "))
        eng
      }
      build(e.filter(col("vec_id") <= mid))
      val eng = build(e)
      eng.compact("ivf_index", Some(deleteSet(e)))
      graft.similarity.IncrementalIvfIndex.searchTopK(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"), NQueries, TopK)
    },

    // ---- RETRAIN lifecycle: build half the corpus, run one Lloyd
    // retrain step over the STORED index (centroid update from actual
    // membership → kernel reassignment → cluster-partitioned rewrite +
    // DirSwap, IncrementalIvfIndex.retrain), then build the REST of the
    // corpus and probe. The post-retrain build assigns its arrivals
    // against the retrained quantizer — because `ivf_centroids` is a
    // train-once incremental model, the swapped-in centroids are
    // durable state, not reverted by re-materialization — so the
    // oracle's final assignment is simply EVERY vector against the
    // Lloyd-updated centroids: batch-1 rows via the retrain rewrite,
    // batch-2 arrivals via the stored quantizer. Hash-matching it
    // checks retrain's reassignment, the swap, AND the durability in
    // one query.
    Q.sql(
      "q_ann_ivf_incremental_retrain",
      ivfRetrainLifecycleOracleSql
    ) { (s, dir) =>
      val e = quantized(s, dir)
      val b = e.agg(min(col("vec_id")), max(col("vec_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incivfrt")
      def build(batch: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("vectors" -> batch, "vectors_training" -> e),
          graft.similarity.IncrementalIvfIndex.models(
            "vectors", "vectors_training", Dims)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(e.filter(col("vec_id") <= mid))
      graft.similarity.IncrementalIvfIndex.retrain(s, wh, Dims)
      build(e)
      graft.similarity.IncrementalIvfIndex.searchTopK(
        graft.engine.Resolver(s).read(s"$wh/ivf_index"), NQueries, TopK)
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
  )

  /** The deterministic tombstone set both deletion queries share: every
    * [[DeleteMod]]-th vec_id, restricted to non-query rows so every
    * query still issues a search (deleting a query is well-defined —
    * it simply stops searching — but would make the oracle's qs CTE
    * depend on the delete predicate too). */
  private def deleteSet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % DeleteMod === DeleteRem &&
        col("vec_id") >= NQueries)
      .select(col("vec_id"))

  /** Own-oracle for IVF-PQ (the q_dedup_semantic_probed idiom — both
    * engines compute the same approximation bit-for-bit): derive the
    * SAME deterministic codebooks (LSH cells from the inlined subspace
    * planes, exact cosine-to-cell-sum medoids, ties lowest vec_id),
    * code every vector, ADC-score the query's coarse cluster with exact
    * integer dots against entries, shortlist, exact re-rank. */
  /** Shared PQ-codebook CTE block (assumes `e` is already defined):
    * per-(vector, subspace) cells with LSH codes, cell sums, exact
    * medoid entries, and each vector's reconstructed norm — the
    * bit-identical mirror of [[graft.similarity.ProductQuantizer]]'s
    * training + encoding. */
  private lazy val pqCodebookCtesSql: String = pqCodebookCtesSqlFrom("e")

  /** [[pqCodebookCtesSql]] over an arbitrary `(vec_id, label, q)`
    * relation — the residual-PQ oracle trains the same codebook
    * machinery on the residual frame instead of the raw vectors. */
  private def pqCodebookCtesSqlFrom(rel: String): String = {
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
       |  WHERE rnk = 1),
       |enc AS (
       |  SELECT c.vec_id, sum(en.ent_nsq) AS npq
       |  FROM cells c JOIN entries en ON en.m = c.m AND en.code = c.code
       |  GROUP BY c.vec_id)""".stripMargin
  }

  private lazy val ivfPqOracleSql: String = {
    import graft.similarity.ProductQuantizer.SubDims
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    val shortN = TopK * 3
    s"""WITH $quantizedSql,
       |$pqCodebookCtesSql,
       |cent AS (
       |  SELECT label, [$centroidSums] AS cc,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
       |assign AS (
       |  SELECT query_id, label FROM (
       |    SELECT qs.vec_id AS query_id, cent.label,
       |           row_number() OVER (PARTITION BY qs.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> qs.q[i] * cent.cc[i]))
       |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
       |adc AS (
       |  SELECT qs.vec_id AS query_id, cr.vec_id AS vec_id, qs.nsq AS nq,
       |         sum(list_sum(list_transform(generate_series(1, $SubDims),
       |             j -> qs.q[cr.m * $SubDims + j] * en.ent[j]))) AS dot
       |  FROM qs
       |  JOIN assign a ON a.query_id = qs.vec_id
       |  JOIN cells cr ON cr.label = a.label AND cr.vec_id <> qs.vec_id
       |  JOIN entries en ON en.m = cr.m AND en.code = cr.code
       |  GROUP BY qs.vec_id, cr.vec_id, qs.nsq),
       |sl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT adc.query_id, adc.vec_id,
       |           row_number() OVER (PARTITION BY adc.query_id ORDER BY
       |             adc.dot / sqrt(CAST(adc.nq AS DOUBLE) * CAST(ec.npq AS DOUBLE)) DESC,
       |             adc.vec_id) AS rnk8
       |    FROM adc JOIN enc ec ON ec.vec_id = adc.vec_id) t
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

  /** Own-oracle for RESIDUAL PQ (IVFADC): integer cluster means by
    * floor division, the [[pqCodebookCtesSqlFrom]] codebook machinery
    * over the residual frame, encode-time |m_c + r̂|² norms, and ADC
    * scoring whose numerator is dot(q, m_c) + residual-codebook
    * lookups — the bit-identical mirror of the Spark side. */
  private lazy val ivfPqResidualOracleSql: String = {
    import graft.similarity.ProductQuantizer.SubDims
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    val shortN = TopK * 3
    s"""WITH $quantizedSql,
       |meanst AS (
       |  SELECT label, [$centroidSums] AS s, count(*) AS n FROM e GROUP BY label),
       |means AS (
       |  SELECT label,
       |         list_transform(s, x -> (x - (((x % n) + n) % n)) // n) AS mc
       |  FROM meanst),
       |resid AS (
       |  SELECT e.vec_id, e.label,
       |         list_transform(generate_series(1, $Dims), i -> e.q[i] - m.mc[i]) AS q
       |  FROM e JOIN means m ON m.label = e.label),
       |${pqCodebookCtesSqlFrom("resid")},
       |encr AS (
       |  SELECT c.vec_id, sum(list_sum(list_transform(generate_series(1, $SubDims),
       |           j -> (m.mc[c.m * $SubDims + j] + en.ent[j])
       |              * (m.mc[c.m * $SubDims + j] + en.ent[j])))) AS npq
       |  FROM cells c
       |  JOIN entries en ON en.m = c.m AND en.code = c.code
       |  JOIN means m ON m.label = c.label
       |  GROUP BY c.vec_id),
       |cent AS (
       |  SELECT label, [$centroidSums] AS cc,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |qs AS (SELECT * FROM e WHERE vec_id < $NQueries),
       |assign AS (
       |  SELECT query_id, label FROM (
       |    SELECT qs.vec_id AS query_id, cent.label,
       |           row_number() OVER (PARTITION BY qs.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> qs.q[i] * cent.cc[i]))
       |                      / sqrt(CAST(qs.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM qs CROSS JOIN cent) t WHERE rnk = 1),
       |qmt AS (
       |  SELECT a.query_id,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |           i -> q1.q[i] * m.mc[i])) AS qm
       |  FROM assign a
       |  JOIN e q1 ON q1.vec_id = a.query_id
       |  JOIN means m ON m.label = a.label),
       |adc AS (
       |  SELECT qs.vec_id AS query_id, cr.vec_id AS vec_id, qs.nsq AS nq,
       |         qmt.qm + sum(list_sum(list_transform(generate_series(1, $SubDims),
       |             j -> qs.q[cr.m * $SubDims + j] * en.ent[j]))) AS dot
       |  FROM qs
       |  JOIN assign a ON a.query_id = qs.vec_id
       |  JOIN qmt ON qmt.query_id = qs.vec_id
       |  JOIN cells cr ON cr.label = a.label AND cr.vec_id <> qs.vec_id
       |  JOIN entries en ON en.m = cr.m AND en.code = cr.code
       |  GROUP BY qs.vec_id, cr.vec_id, qs.nsq, qmt.qm),
       |sl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT adc.query_id, adc.vec_id,
       |           row_number() OVER (PARTITION BY adc.query_id ORDER BY
       |             adc.dot / sqrt(CAST(adc.nq AS DOUBLE) * CAST(ec.npq AS DOUBLE)) DESC,
       |             adc.vec_id) AS rnk8
       |    FROM adc JOIN encr ec ON ec.vec_id = adc.vec_id) t
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

  /** One-shot oracle for the PQ-coded incremental index
    * (`q_ann_ivf_pq_incremental`): the [[pqCodebookCtesSql]] codebook
    * over the full fixed snapshot, every vector LEARNED-assigned to its
    * nearest centroid (the [[ivfIncrementalOracleSql]] inverted file,
    * not the raw label), queries ADC-score their own cluster's members
    * on codes, shortlist, exact re-rank. nprobe=1's probe CTE top-1 is
    * exactly the query's assigned cluster (identical ranking), so one
    * core serves both the single- and multi-probe entries. */
  private lazy val ivfPqIncrementalOracleSql: String =
    ivfPqIncrementalOracleSqlCore(1)

  private lazy val ivfPqIncrementalMultiProbeOracleSql: String =
    ivfPqIncrementalOracleSqlCore(NProbe)

  private def ivfPqIncrementalOracleSqlCore(nprobe: Int): String = {
    import graft.similarity.ProductQuantizer.SubDims
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    val shortN = TopK * 3
    s"""WITH $quantizedSql,
       |$pqCodebookCtesSql,
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |assignall AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent) t WHERE rnk = 1),
       |probe AS (
       |  SELECT vec_id, pcluster FROM (
       |    SELECT e.vec_id, cent.label AS pcluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent WHERE e.vec_id < $NQueries) t WHERE rnk <= $nprobe),
       |qs AS (
       |  SELECT e.vec_id, e.q, e.nsq, p.pcluster FROM e
       |  JOIN probe p ON p.vec_id = e.vec_id),
       |adc AS (
       |  SELECT qs.vec_id AS query_id, cr.vec_id AS vec_id, qs.nsq AS nq,
       |         sum(list_sum(list_transform(generate_series(1, $SubDims),
       |             j -> qs.q[cr.m * $SubDims + j] * en.ent[j]))) AS dot
       |  FROM qs
       |  JOIN assignall ca ON ca.cluster = qs.pcluster AND ca.vec_id <> qs.vec_id
       |  JOIN cells cr ON cr.vec_id = ca.vec_id
       |  JOIN entries en ON en.m = cr.m AND en.code = cr.code
       |  GROUP BY qs.vec_id, cr.vec_id, qs.nsq),
       |sl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT adc.query_id, adc.vec_id,
       |           row_number() OVER (PARTITION BY adc.query_id ORDER BY
       |             adc.dot / sqrt(CAST(adc.nq AS DOUBLE) * CAST(ec.npq AS DOUBLE)) DESC,
       |             adc.vec_id) AS rnk8
       |    FROM adc JOIN enc ec ON ec.vec_id = adc.vec_id) t
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

  /** One-shot oracle for the RESIDUAL-PQ incremental index
    * (`q_ann_ivf_pq_residual_incremental`): learned assignment of
    * every vector, floor-divided integer means per learned cluster,
    * the codebook machinery over residuals, encode-time |m_c + r̂|²
    * norms, IVFADC-decomposed ADC scoring, shortlist, exact re-rank. */
  private lazy val ivfPqResidualIncrementalOracleSql: String =
    ivfPqResidualIncrementalOracleSqlCore(1)

  private lazy val ivfPqResidualIncrementalMultiProbeOracleSql: String =
    ivfPqResidualIncrementalOracleSqlCore(NProbe)

  private def ivfPqResidualIncrementalOracleSqlCore(nprobe: Int): String = {
    import graft.similarity.ProductQuantizer.SubDims
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    val residSums = (1 to Dims).map(i => s"sum(e.q[$i])").mkString(", ")
    val shortN = TopK * 3
    s"""WITH $quantizedSql,
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |assignall AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent) t WHERE rnk = 1),
       |meanst AS (
       |  SELECT a.cluster, [$residSums] AS s, count(*) AS n
       |  FROM e JOIN assignall a ON a.vec_id = e.vec_id GROUP BY a.cluster),
       |means AS (
       |  SELECT cluster,
       |         list_transform(s, x -> (x - (((x % n) + n) % n)) // n) AS mc
       |  FROM meanst),
       |resid AS (
       |  SELECT e.vec_id, a.cluster AS label,
       |         list_transform(generate_series(1, $Dims), i -> e.q[i] - m.mc[i]) AS q
       |  FROM e
       |  JOIN assignall a ON a.vec_id = e.vec_id
       |  JOIN means m ON m.cluster = a.cluster),
       |${pqCodebookCtesSqlFrom("resid")},
       |encr AS (
       |  SELECT c.vec_id, sum(list_sum(list_transform(generate_series(1, $SubDims),
       |           j -> (m.mc[c.m * $SubDims + j] + en.ent[j])
       |              * (m.mc[c.m * $SubDims + j] + en.ent[j])))) AS npq
       |  FROM cells c
       |  JOIN entries en ON en.m = c.m AND en.code = c.code
       |  JOIN means m ON m.cluster = c.label
       |  GROUP BY c.vec_id),
       |probe AS (
       |  SELECT vec_id, pcluster FROM (
       |    SELECT e.vec_id, cent.label AS pcluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent WHERE e.vec_id < $NQueries) t WHERE rnk <= $nprobe),
       |qs AS (
       |  SELECT e.vec_id, e.q, e.nsq, p.pcluster FROM e
       |  JOIN probe p ON p.vec_id = e.vec_id),
       |qmt AS (
       |  SELECT qs.vec_id AS query_id, qs.pcluster,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |           i -> qs.q[i] * m.mc[i])) AS qm
       |  FROM qs JOIN means m ON m.cluster = qs.pcluster),
       |adc AS (
       |  SELECT qs.vec_id AS query_id, cr.vec_id AS vec_id, qs.nsq AS nq,
       |         qmt.qm + sum(list_sum(list_transform(generate_series(1, $SubDims),
       |             j -> qs.q[cr.m * $SubDims + j] * en.ent[j]))) AS dot
       |  FROM qs
       |  JOIN qmt ON qmt.query_id = qs.vec_id AND qmt.pcluster = qs.pcluster
       |  JOIN assignall ca ON ca.cluster = qs.pcluster AND ca.vec_id <> qs.vec_id
       |  JOIN cells cr ON cr.vec_id = ca.vec_id
       |  JOIN entries en ON en.m = cr.m AND en.code = cr.code
       |  GROUP BY qs.vec_id, cr.vec_id, qs.nsq, qmt.qm),
       |sl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT adc.query_id, adc.vec_id,
       |           row_number() OVER (PARTITION BY adc.query_id ORDER BY
       |             adc.dot / sqrt(CAST(adc.nq AS DOUBLE) * CAST(ec.npq AS DOUBLE)) DESC,
       |             adc.vec_id) AS rnk8
       |    FROM adc JOIN encr ec ON ec.vec_id = adc.vec_id) t
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

  /** Multi-probe variant of [[ivfIncrementalOracleSql]]: same one-shot
    * assignment, but each query probes its [[NProbe]] nearest trained
    * centroids ((cos DESC, label ASC) rank ≤ NProbe) and candidates are
    * the union of those clusters' ASSIGNED members — each vector has
    * exactly one assigned cluster, so the union is duplicate-free. */
  private lazy val ivfIncrementalMultiProbeOracleSql: String =
    ivfIncrementalMultiProbeOracleSqlCore(NProbe, "")

  /** [[ivfIncrementalMultiProbeOracleSqlCore]] with the filtered-search
    * predicate on the candidate side and the 1/sel-widened probe width
    * — the one-shot truth `q_ann_ivf_incremental_filtered` must match. */
  private lazy val ivfIncrementalFilteredOracleSql: String =
    ivfIncrementalMultiProbeOracleSqlCore(
      FilteredProbe, " AND ca.vec_id % 3 = 0")

  private def ivfIncrementalMultiProbeOracleSqlCore(
      nprobe: Int, candFilter: String): String = {
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    s"""WITH $quantizedSql,
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |assign AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent) t WHERE rnk = 1),
       |probe AS (
       |  SELECT vec_id, pcluster FROM (
       |    SELECT e.vec_id, cent.label AS pcluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent WHERE e.vec_id < $NQueries) t WHERE rnk <= $nprobe),
       |qs AS (
       |  SELECT e.vec_id, e.q, e.nsq, p.pcluster FROM e
       |  JOIN probe p ON p.vec_id = e.vec_id),
       |pairs AS (
       |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |                  i -> qs.q[i] * c.q[i])) AS dot,
       |         qs.nsq AS nq, c.nsq AS nc
       |  FROM qs JOIN assign ca ON ca.cluster = qs.pcluster AND ca.vec_id <> qs.vec_id$candFilter
       |          JOIN e c ON c.vec_id = ca.vec_id)
       |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
       |FROM (
       |  SELECT query_id, vec_id,
       |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
       |  FROM pairs) t
       |WHERE rnk <= $TopK""".stripMargin
  }

  /** One-shot oracle for the incrementally-built IVF index: centroids
    * over the full (fixed) snapshot, EVERY vector assigned to its
    * nearest centroid (`ORDER BY sim DESC, label` ties to the lowest
    * label — the Spark side's max-of-struct(sim, −label) mirror), then
    * each query probes its own cluster. */
  private lazy val ivfIncrementalOracleSql: String = ivfIncrementalOracleSqlCore("")

  /** [[ivfIncrementalOracleSqlCore]] with the [[deleteSet]] tombstones
    * filtered out of the candidate (inverted-file) side — the one-shot
    * truth over corpus-minus-deleted that both deletion-lifecycle
    * queries must match. */
  private lazy val ivfDeleteOracleSql: String = ivfIncrementalOracleSqlCore(
    s" AND NOT (ca.vec_id % $DeleteMod = $DeleteRem AND ca.vec_id >= $NQueries)")

  /** One-shot oracle for the retrain lifecycle
    * (`q_ann_ivf_incremental_retrain`): snapshot-trained centroids,
    * batch 1 (vec_id ≤ mid) assigned against them, ONE Lloyd update
    * from batch-1 membership (element-wise integer member sums — the
    * exact arithmetic [[graft.similarity.IncrementalIvfIndex.retrain]]
    * runs), then EVERY vector assigned against the updated centroids:
    * batch-1 rows because retrain reassigned the stored layout, batch-2
    * arrivals because the train-once centroid table serves the
    * retrained quantizer to the post-retrain build. Probe = each
    * query's own retrained cluster. */
  private lazy val ivfRetrainLifecycleOracleSql: String = {
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    val memberSums = (1 to Dims).map(i => s"sum(e.q[$i])").mkString(", ")
    s"""WITH $quantizedSql,
       |mid AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS m FROM e),
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |assign1 AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent WHERE e.vec_id <= (SELECT m FROM mid)) t
       |  WHERE rnk = 1),
       |cent2 AS (
       |  SELECT a.cluster AS label, [$memberSums] AS c,
       |         list_sum(list_transform([$memberSums], x -> x * x)) AS ncsq
       |  FROM e JOIN assign1 a ON a.vec_id = e.vec_id GROUP BY a.cluster),
       |assign AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent2.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent2.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent2.ncsq AS DOUBLE)) DESC,
       |                      cent2.label) AS rnk
       |    FROM e CROSS JOIN cent2) t WHERE rnk = 1),
       |qs AS (
       |  SELECT e.vec_id, e.q, e.nsq, a.cluster FROM e
       |  JOIN assign a ON a.vec_id = e.vec_id WHERE e.vec_id < $NQueries),
       |pairs AS (
       |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |                  i -> qs.q[i] * c.q[i])) AS dot,
       |         qs.nsq AS nq, c.nsq AS nc
       |  FROM qs JOIN assign ca ON ca.cluster = qs.cluster AND ca.vec_id <> qs.vec_id
       |          JOIN e c ON c.vec_id = ca.vec_id)
       |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
       |FROM (
       |  SELECT query_id, vec_id,
       |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
       |  FROM pairs) t
       |WHERE rnk <= $TopK""".stripMargin
  }

  private def ivfIncrementalOracleSqlCore(candFilter: String): String = {
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    s"""WITH $quantizedSql,
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM e GROUP BY label),
       |assign AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, cent.label AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                        i -> e.q[i] * cent.c[i]))
       |                      / sqrt(CAST(e.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM e CROSS JOIN cent) t WHERE rnk = 1),
       |qs AS (
       |  SELECT e.vec_id, e.q, e.nsq, a.cluster FROM e
       |  JOIN assign a ON a.vec_id = e.vec_id WHERE e.vec_id < $NQueries),
       |pairs AS (
       |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |                  i -> qs.q[i] * c.q[i])) AS dot,
       |         qs.nsq AS nq, c.nsq AS nc
       |  FROM qs JOIN assign ca ON ca.cluster = qs.cluster AND ca.vec_id <> qs.vec_id$candFilter
       |          JOIN e c ON c.vec_id = ca.vec_id)
       |SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk, round(cos_raw, 4) AS cos_sim
       |FROM (
       |  SELECT query_id, vec_id,
       |         dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) AS cos_raw,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dot / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC, vec_id) AS rnk
       |  FROM pairs) t
       |WHERE rnk <= $TopK""".stripMargin
  }
}
