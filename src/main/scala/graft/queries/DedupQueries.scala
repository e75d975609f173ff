package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data deduplication operators over `documents`/`embeddings`
  * (builder brief; generalizes the reference's exact `record_hash` dedup,
  * `stg_accounts.sql:33-46` + `int_*_current`).
  *
  * Engine-portable determinism: every hash family is built from `md5`
  * (identical hex in Spark and DuckDB); embedding math is quantized to
  * integers so dot products are exact in both engines — no float
  * summation-order hazards in the oracle compare.
  *
  * Scale notes:
  *  - All shingle/signature computation is per-row column expressions —
  *    scan-local, zero shuffles.
  *  - MinHash LSH: pairs are generated by grouping on the band bucket
  *    (one shuffle on the bucket key) and expanding inside each bucket —
  *    the O(n²) all-pairs compare never happens; buckets over
  *    [[MaxBucket]] members degrade to a consecutive chain (linear
  *    edges, connectivity preserved), so a pathological bucket cannot
  *    expand quadratically (DedupSpec's adversarial corpus pins this).
  *  - Exact n-gram Jaccard runs only on the LSH candidate pairs (the
  *    standard candidate→verify pipeline). An all-pairs blocked Jaccard
  *    is a non-starter at 100 TB: frequent shingles make even an
  *    inverted-index join quadratic in practice.
  *  - Embedding pair sweeps run their integer dot products as typed
  *    partition-local kernels (~3× faster than interpreted HOF column
  *    expressions); single-column dot products use the native codegen'd
  *    [[graft.functions.DotI64]] expression.
  */
object DedupQueries {

  private val MinhashK = 8 // signature rows
  private val Bands = 4 // bands of r = K/Bands rows
  // duplicated-substring span gram width (q_dedup_substring_spans):
  // the minimum match length, in tokens, a span must repeat verbatim
  private val SpanK = 8
  private[queries] val Dims = 64

  /** Degenerate-bucket cap: buckets larger than this produce a sorted
    * CHAIN of consecutive pairs instead of all pairs — O(n) edges that
    * keep the bucket's documents in one connected component (all the
    * cluster-dedup path needs), while a pathological bucket (boilerplate
    * band, near-empty texts) can no longer expand quadratically. The
    * Jaccard verify step prunes any false chain links. */
  private[graft] val MaxBucket = 64

  // ---------- shared minhash builders (Spark side) ----------

  /** MinHash+LSH candidate pairs (doc_a < doc_b). The K-member hash
    * family is ONE md5 per shingle + K hex rotations (a rotation of a
    * uniform hash is uniform) — 8× less hashing than md5-per-(i,shingle).
    *
    * The signature pass runs as a typed partition-local kernel
    * (MessageDigest MD5 emits the same lowercase hex as SQL `md5`):
    * per-shingle lambda pipelines (transform/array_min) are interpreted
    * per element, and this is the engine's hottest per-row loop — the
    * same kernel-vs-expression tradeoff as the embedding dot products.
    * Everything around it (bucket grouping, pair expansion) stays
    * declarative. */
  private def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    minhashCandidatesFor(Tables.documents(s, dir))

  private[graft] def minhashCandidatesFor(docs: DataFrame): DataFrame =
    pairsFromBands(bandsFor(docs))

  /** The LSH band index: (doc_id, band_idx, band_key) — the persistable
    * state of the pipeline (see [[graft.dedup.IncrementalDedup]], which
    * materializes it as an incremental-append engine model so each batch
    * hashes only its own documents). */
  private[graft] def bandsFor(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val r = MinhashK / Bands
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexChars = "0123456789abcdef".toCharArray
        def hex(bs: Array[Byte]): String = { // (String.format here is 10× the digest cost)
          val out = new Array[Char](bs.length * 2)
          var i = 0
          while (i < bs.length) {
            val v = bs(i) & 0xff
            out(2 * i) = hexChars(v >> 4); out(2 * i + 1) = hexChars(v & 15)
            i += 1
          }
          new String(out)
        }
        def h(x: String): String = hex(md.digest(x.getBytes("UTF-8")))
        it.flatMap { case (id, text) =>
          // identical shingling to shinglesSql: word 3-grams, whole text
          // when too short; split keeps empty tokens like string_split
          val t = text.split(" ", -1)
          val sh = if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSeq
            else Seq(t.mkString(" "))
          val hs = sh.map(h)
          val sigs = (0 until MinhashK).map(i =>
            hs.iterator.map(x => x.substring(i) + x.substring(0, i)).min)
          (0 until Bands).map { b =>
            (id, b, h((0 until r).map(j => sigs(b * r + j)).mkString("|")))
          }
        }
      }
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** Candidate pairs from a band index — bucket grouping + in-bucket
    * expansion with the [[MaxBucket]] chain cap. */
  private[graft] def pairsFromBands(bands: DataFrame): DataFrame = {
    val buckets = bands.groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // small buckets: all pairs (quadratic but bounded by MaxBucket);
    // oversized buckets: consecutive chain only (linear, keeps the
    // component connected — see MaxBucket doc)
    val small = buckets.filter(size(col("ds")) <= MaxBucket)
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
    val chained = buckets.filter(size(col("ds")) > MaxBucket)
      .select(explode(transform(slice(col("ds"), lit(1), size(col("ds")) - 1), (a, i) =>
        struct(a.as("doc_a"), element_at(col("ds"), i + lit(2)).as("doc_b")))).as("p"))
    small.union(chained)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  // ---------- shared minhash CTEs (DuckDB oracle side) ----------

  private val shinglesSql =
    """CASE WHEN len(t) >= 3 THEN
      |       list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
      |     ELSE [array_to_string(t, ' ')] END""".stripMargin

  /** CTE chain ending in `cand(doc_a, doc_b)` = the LSH candidates.
    * Shared with PipelineQueries' split-leakage oracle, which filters
    * the same candidate set to cross-split pairs. */
  private[queries] val minhashCandSql: String = {
    val sigs = (0 until MinhashK).map(i =>
      s"list_min(list_transform(hs, h -> substr(h, ${i + 1}) || substr(h, 1, $i)))")
    val r = MinhashK / Bands
    val bandKeys = (0 until Bands).map { b =>
      val parts = (0 until r).map(j => s"sig[${b * r + j + 1}]").mkString(" || '|' || ")
      s"md5($parts)"
    }
    s"""shx AS (
       |  SELECT doc_id, list_transform($shinglesSql, s -> md5(s)) AS hs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |sig AS (SELECT doc_id, [${sigs.mkString(",\n  ")}] AS sig FROM shx),
       |bands AS (
       |  SELECT doc_id,
       |         unnest([${(0 until Bands).mkString(", ")}]) AS band_idx,
       |         unnest([${bandKeys.mkString(",\n  ")}]) AS band_key
       |  FROM sig),
       |bandsz AS (
       |  SELECT band_idx, band_key, count(*) AS bsz
       |  FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a
       |    JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |                AND a.doc_id < b.doc_id
       |    JOIN bandsz z ON z.band_idx = a.band_idx AND z.band_key = a.band_key
       |    WHERE z.bsz <= $MaxBucket
       |    UNION ALL
       |    SELECT doc_a, doc_b FROM (
       |      SELECT c.doc_id AS doc_a,
       |             lead(c.doc_id) OVER (PARTITION BY c.band_idx, c.band_key ORDER BY c.doc_id) AS doc_b
       |      FROM bands c JOIN bandsz z2
       |        ON z2.band_idx = c.band_idx AND z2.band_key = c.band_key
       |      WHERE z2.bsz > $MaxBucket)
       |    WHERE doc_b IS NOT NULL)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Exact bigram-Jaccard verification of candidate pairs — the verify
    * half of every candidate→verify near-dup pipeline here (LSH dedup,
    * split-leakage). Emits only pairs with Jaccard ≥ 0.1 as
    * `(doc_a, doc_b, inter, sz)` integer evidence; callers derive the
    * rounded similarity so it lands in the same column expression as
    * their oracle.
    *
    * Joins stay declarative WITHOUT broadcast hints: a 100 TB corpus
    * cannot be broadcast, and the candidate-pair table is tiny relative
    * to the corpus, so the right plan shuffles pairs and documents on
    * doc_id (pairs ≪ corpus ⇒ small shuffle); at test scale AQE is free
    * to pick broadcast on its own from actual sizes. The per-pair set
    * intersection runs as a typed kernel — integer counts out, so the
    * threshold compare is exact. */
  private[queries] def bigramJaccardPairs(docs: DataFrame, cand: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d = docs.select(col("doc_id"), col("text"))
    val pairs = cand
      .join(d.as("da"), col("doc_a") === col("da.doc_id"))
      .join(d.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("da.text").as("ta"), col("db.text").as("tb"))
      .as[(Long, Long, String, String)]
    def bigramSet(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSet else t.toSet
    }
    pairs.mapPartitions { it =>
      it.flatMap { case (a, b, ta, tb) =>
        val sa = bigramSet(ta); val sb = bigramSet(tb)
        val inter = sa.count(sb); val sz = sa.size + sb.size
        // integer-exact threshold: jaccard >= 0.1 ⇔ 10·inter >= union
        if (inter * 10 >= sz - inter) Some((a, b, inter, sz)) else None
      }
    }.toDF("doc_a", "doc_b", "inter", "sz")
  }

  // ---------- embedding helpers ----------

  /** ×100 integer quantization of an embedding column — the native
    * [[graft.functions.QuantizeI64]] expression (bit-identical to the
    * previous interpreted `transform(emb, x -> cast(round(x * 100, 0) as
    * bigint))` — spec-pinned in ArrayKernelsSpec — but compiled inside
    * whole-stage codegen instead of per-element lambda dispatch; built
    * through the ColumnBridge so callers need no function registry). */
  private[queries] def quantize(emb: Column): Column = {
    val B = org.apache.spark.sql.graftaccess.ColumnBridge
    B.column(graft.functions.QuantizeI64(B.expression(emb)))
  }

  /** Degenerate-cluster cap for semantic dedup — the same role
    * [[MaxBucket]] plays for LSH buckets: clusters larger than this
    * produce a consecutive CHAIN of pairs in nearest-centroid order
    * (cos_c DESC, vec_id) instead of all pairs. A near-duplicate-heavy
    * corpus concentrates exactly the documents this operator exists to
    * remove into one cluster, so the uncapped C(n,2) in-cluster join is
    * the operator's own worst case; the chain keeps every oversized
    * cluster's pair count linear while adjacent-in-centroid-order
    * members — the most similar ones — are still compared. The pair's
    * larger vec_id is the drop candidate, so a cluster's minimum id can
    * never be dropped and keep-first survivorship is preserved. */
  private[graft] val MaxCluster = 64

  /** Quantized `(vec_id, label, q, nsq)` view of the embeddings, persisted
    * (it feeds both the centroid aggregate and the assignment scan):
    * MEMORY_AND_DISK, not localCheckpoint, so a lost block recomputes from
    * lineage instead of failing, spills instead of evicting, and the
    * ContextCleaner reclaims it when the plan is garbage-collected. */
  private def quantizedWithNorm(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(
      // int label regardless of source width (the parquet column is int;
      // spec fixtures hand in longs) — cluster ids stay int downstream
      col("vec_id"), col("label").cast("int").as("label"),
      quantize(col("embedding")).as("q"))
      .withColumn("nsq", expr("dot_i64(q, q)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Learned centroids: per-label element-wise integer sums (cosine is
    * scale-invariant, so sum ≡ mean and stays exact). k tiny rows —
    * broadcast-sized by contract (the published SemDeDup configuration
    * keeps k ≪ N: k ∝ corpus/10⁵). */
  private def centroidsFor(e: DataFrame): DataFrame =
    e.groupBy(col("label"))
      .agg(array((1 to Dims).map(i => sum(element_at(col("q"), i))): _*).as("c"))
      .withColumn("ncsq", expr("dot_i64(c, c)"))

  /** EXACT centroid assignment for semantic dedup: one row per vector,
    * `(vec_id, cluster, cos_c, q, nsq)`, cluster = argmax over all k
    * centroids of exact-integer cosine, ties to the lowest label.
    *
    * Runs as a typed partition-local kernel over a BROADCAST centroid
    * array ([[graft.similarity.CentroidAssign]]) — scan-local, ZERO
    * exchanges (the previous form paid an N×k-row crossJoin stream
    * through a partial aggregate plus an N-row exchange; the kernel took
    * the 64× ScaleProbe point from 90.5× to single digits — the README
    * scaling table's fresh run is the source of truth for the ratio).
    * Collecting the k-row centroid table to the driver moves the same
    * bytes the old plan broadcast.
    *
    * Why brute force and not an ANN probe: this corpus is near-isotropic —
    * measured at sf0.01: only 42% of vectors sit nearest their own label's
    * centroid, median best-cosine is 0.21, the 5th-percentile winner margin
    * is 0.0045 and at least one exact tie exists. Elkan/ball-bound exact
    * pruning is provably vacuous here (group radii ≈ 90°, every bound
    * degenerates to cos 0 ≈ 1), and any top-w coarse probe mis-assigns
    * 2–10% of vectors — so EXACT assignment is information-theoretically
    * N×k on such data, and the right plan is the one that makes N×k cheap
    * (tight integer kernel, no row machinery). The recall-traded IVF-probe
    * path the published pipelines use at k ≈ 10⁴⁺ is implemented as its
    * own oracle-checked operator, [[semanticProbeAssignFor]]
    * (`q_dedup_semantic_probed`). */
  private[graft] def semanticAssignFor(emb: DataFrame): DataFrame = {
    val e = quantizedWithNorm(emb)
    // the vector's OWN label is dropped — cluster membership is decided
    // by the learned centroids alone (see CentroidAssign for the
    // exactness + tie-order contract and the measured kernel rationale)
    graft.similarity.CentroidAssign.kernel(
      e.select(col("vec_id"), col("q"), col("nsq")),
      graft.similarity.CentroidAssign.collectCentroids(centroidsFor(e)))
  }

  /** Signed-random-projection planes for the PROBED assignment's coarse
    * quantizer — generated once from a fixed seed and inlined verbatim
    * into both engines' plans (the [[SimilarityQueries]] LSH idiom), so
    * centroid grouping is bit-identical. [[probePlaneCount]] needs
    * ⌈log₂⌈√k⌉⌉ planes, so these 8 cover k up to ~2¹⁶ = 65,536 — past
    * the k ∝ corpus/10⁵ contract's ceiling for any corpus this engine
    * targets; [[semanticProbeAssignFor]] asserts rather than silently
    * clamping beyond that (more planes from the same sequential seed
    * stream would extend the prefix without changing these). */
  private[graft] val ProbePlanes: Seq[Array[Long]] = {
    val rnd = new scala.util.Random(271828)
    Seq.fill(8)(Array.fill(Dims)((rnd.nextInt(19) - 9).toLong))
  }

  /** Probe width: groups ranked per vector, top-W probed. */
  private[graft] val ProbeW = 2

  /** Coarse-quantizer size rule: ~√k groups ⇒ ⌈log₂⌈√k⌉⌉ planes (min 2),
    * computed INTEGER-EXACTLY as the smallest p with 4^p ≥ k (the two
    * rules coincide: 2^p ≥ ⌈√k⌉ ⟺ 4^p ≥ k for integers — and the
    * integer form cannot drift across engines the way a float
    * log/sqrt/ceil chain can). k=10 → 2 planes / ≤4 groups; k=640 (the
    * 64× ScaleProbe corpus) → 5 planes / ≤32 groups. The DuckDB oracle
    * derives the SAME rule from its own `count(*)` over the centroid
    * CTE, so the two engines agree for any verify-corpus cardinality.
    * Capped at [[ProbePlanes]].length (k ≤ 2¹⁶ — enforced by the
    * caller's `require`, not a silent clamp). */
  private[graft] def probePlaneCount(k: Long): Int = {
    var p = 2
    while (p < ProbePlanes.length && (1L << (2 * p)) < k) p += 1
    p
  }

  /** ANN-ASSISTED (approximate) centroid assignment — the published
    * SemDeDup scale path for k ≈ 10⁴⁺ centroids, as its own precisely
    * specified operator: centroids are grouped by an LSH coarse quantizer
    * ([[ProbePlanes]] sign bits), each group gets an integer-sum
    * representative, every vector ranks the ~√k representatives and
    * probes only its top-[[ProbeW]] groups with exact integer cosine.
    *
    * Flops per vector: √k + W·√k instead of k, with ZERO exchanges —
    * the whole probe runs as the scan-local
    * [[graft.similarity.CentroidAssign.probeKernel]] over the broadcast
    * centroid table; the coarse structure (group codes, representatives)
    * is derived on the driver with the same exact integer math the
    * oracle's SQL uses. Declarative alternatives were measured and
    * rejected at the 64× probe point (see the probeKernel scaladoc):
    * crossJoin+window ranking shuffles N·√k rows, and even folded-literal
    * scan-local expressions pay ~40 µs/row in dot+divide+sort_array
    * machinery — 76 s vs ~1 s for the kernel.
    *
    * APPROXIMATE by design: on this corpus the probe reproduces the exact
    * argmax for ~89% of vectors (measured in DedupSpec — the corpus is
    * near-isotropic, see [[semanticAssignFor]]); both engines compute the
    * SAME approximation bit-for-bit, so `q_dedup_semantic_probed`
    * hash-checks against its own DuckDB oracle exactly like the LSH ANN
    * queries do. */
  private[graft] def semanticProbeAssignFor(emb: DataFrame): DataFrame = {
    val e = quantizedWithNorm(emb)
    val cents = graft.similarity.CentroidAssign
      .collectCentroids(centroidsFor(e))
    // explicit, not a silent clamp: past 2¹⁶ centroids the 8 fixed
    // planes can no longer realize the ~√k-groups sizing rule
    require(cents.length <= (1 << 16),
      s"probed assignment sized for k ≤ 65536 centroids, got ${cents.length}")
    val nPlanes = probePlaneCount(cents.length.toLong)
    graft.similarity.CentroidAssign.probeKernel(
      e.select(col("vec_id"), col("q"), col("nsq")),
      cents,
      ProbePlanes.take(nPlanes),
      ProbeW)
  }

  /** Shared keep-first survivorship tail over an assignment: pairs from
    * [[semanticPairsFor]], threshold cos ≥ 0.3 in exact integer form
    * (`dot² · 100 ≥ 9 · na · nb` with dot > 0), larger vec_id of each
    * similar pair dropped. */
  private[graft] def semanticKeepFor(assign: DataFrame): DataFrame = {
    val dropped = semanticPairsFor(assign)
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 100 >= lit(9) * col("na") * col("nb"))
      .select(col("vb")).distinct()
    assign.join(dropped, col("vec_id") === col("vb"), "left")
      .select(col("vec_id"), col("cluster"),
        round(col("cos_c"), 4).as("cos_centroid"),
        col("vb").isNull.as("keep"))
  }

  /** DuckDB oracle for the semantic-dedup family: shared quantize/centroid
    * head and survivorship tail around a pluggable `assign` CTE (must emit
    * `(vec_id, cluster, cos_c, q, nsq)`) — the exact and probed variants
    * differ ONLY in how they assign. */
  private def semanticOracleSql(assignCtes: String): String = {
    val centroidSums = (1 to Dims).map(i => s"sum(q[$i])").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(round(x * 100) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, q,
       |             list_sum(list_transform(q, x -> x * x)) AS nsq FROM e),
       |cent AS (
       |  SELECT label, [$centroidSums] AS c,
       |         list_sum(list_transform([$centroidSums], x -> x * x)) AS ncsq
       |  FROM n GROUP BY label),
       |$assignCtes,
       |sized AS (
       |  SELECT vec_id, cluster, cos_c, q, nsq,
       |         count(*) OVER (PARTITION BY cluster) AS csz,
       |         lag(vec_id) OVER w AS pv,
       |         lag(q) OVER w AS pq,
       |         lag(nsq) OVER w AS pnsq
       |  FROM assign
       |  WINDOW w AS (PARTITION BY cluster ORDER BY cos_c DESC, vec_id)),
       |pairs AS (
       |  SELECT b.vec_id AS vb,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |                  i -> a.q[i] * b.q[i])) AS dot,
       |         a.nsq AS na, b.nsq AS nb
       |  FROM sized a JOIN sized b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE a.csz <= $MaxCluster
       |  UNION ALL
       |  SELECT greatest(vec_id, pv) AS vb,
       |         list_sum(list_transform(generate_series(1, $Dims),
       |                  i -> q[i] * pq[i])) AS dot,
       |         pnsq AS na, nsq AS nb
       |  FROM sized WHERE csz > $MaxCluster AND pv IS NOT NULL),
       |dropped AS (
       |  SELECT DISTINCT vb FROM pairs
       |  WHERE dot > 0 AND dot * dot * 100 >= 9 * na * nb)
       |SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       |       round(a.cos_c, 4) AS cos_centroid,
       |       (d.vb IS NULL) AS keep
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vb""".stripMargin
  }

  /** Exact all-k argmax assign CTE (mirrors [[semanticAssignFor]]). */
  private def semanticExactAssignSql: String =
    s"""assign AS (
       |  SELECT vec_id, q, nsq, label AS cluster, cos_c FROM (
       |    SELECT n.vec_id, n.q, n.nsq, cent.label,
       |           list_sum(list_transform(generate_series(1, $Dims),
       |                    i -> n.q[i] * cent.c[i]))
       |             / sqrt(CAST(n.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) AS cos_c,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, $Dims),
       |                      i -> n.q[i] * cent.c[i]))
       |                      / sqrt(CAST(n.nsq AS DOUBLE) * CAST(cent.ncsq AS DOUBLE)) DESC,
       |                      cent.label) AS rnk
       |    FROM n CROSS JOIN cent) t WHERE rnk = 1)""".stripMargin

  /** Probed (ANN-assisted) assign CTEs (mirror [[semanticProbeAssignFor]]):
    * top-[[ProbeW]] groups probed, exact argmax among probed members.
    * The plane count is NOT hardcoded to the verify corpus's k: the `np`
    * CTE derives [[probePlaneCount]]'s integer rule (smallest p ≥ 2 with
    * 4^p ≥ k) from the oracle's own centroid count, and every one of the
    * 8 plane bit terms is gated on `i < np.n` — so a verify corpus with
    * ANY label cardinality ≤ 2¹⁶ instantiates the same coarse quantizer
    * in both engines. */
  private def semanticProbedAssignSql: String = {
    val gs = s"generate_series(1, $Dims)"
    // smallest p in [2, 8] with 4^p >= k — the integer probePlaneCount rule
    val npCase = (2 until ProbePlanes.length)
      .map(p => s"WHEN count(*) <= ${1L << (2 * p)} THEN $p")
      .mkString("CASE ", " ", s" ELSE ${ProbePlanes.length} END")
    val planeCase = ProbePlanes.indices.map { i =>
      val lst = ProbePlanes(i).mkString("[", ",", "]")
      s"(CASE WHEN np.n > $i AND list_sum(list_transform($gs, i -> c[i] * $lst[i])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n       + ")
    val repSums = (1 to Dims).map(i => s"sum(c[$i])").mkString(", ")
    val cosR = s"""list_sum(list_transform($gs, i -> n.q[i] * reps.rc[i]))
       |                      / sqrt(CAST(n.nsq AS DOUBLE) * CAST(reps.nrsq AS DOUBLE))""".stripMargin
    val cosC = s"""list_sum(list_transform($gs, i -> p.q[i] * cg.c[i]))
       |             / sqrt(CAST(p.nsq AS DOUBLE) * CAST(cg.ncsq AS DOUBLE))""".stripMargin
    s"""np AS (SELECT $npCase AS n FROM cent),
       |centg AS (
       |  SELECT label, c, ncsq,
       |         $planeCase AS grp
       |  FROM cent CROSS JOIN np),
       |reps AS (
       |  SELECT grp, [$repSums] AS rc,
       |         list_sum(list_transform([$repSums], x -> x * x)) AS nrsq
       |  FROM centg GROUP BY grp),
       |probe AS (
       |  SELECT vec_id, q, nsq, grp FROM (
       |    SELECT n.vec_id, n.q, n.nsq, reps.grp,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $cosR DESC,
       |                      reps.grp) AS rnk
       |    FROM n CROSS JOIN reps) t WHERE rnk <= $ProbeW),
       |assign AS (
       |  SELECT vec_id, q, nsq, cluster, cos_c FROM (
       |    SELECT p.vec_id, p.q, p.nsq, cg.label AS cluster,
       |           $cosC AS cos_c,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY $cosC DESC,
       |                      cg.label) AS rnk
       |    FROM probe p JOIN centg cg ON cg.grp = p.grp) t WHERE rnk = 1)""".stripMargin
  }

  /** In-cluster candidate pairs WITH the [[MaxCluster]] cap, emitted as
    * `(vb, dot, na, nb)` where `vb` is the pair's LARGER vec_id (the
    * drop candidate) and the rest is exact-integer similarity evidence
    * — pre-threshold, so tests can count candidates. Small clusters do
    * the all-pairs self-join (bounded by C(MaxCluster,2)); oversized
    * clusters emit only consecutive pairs in nearest-centroid order via
    * one lag window — linear, no join. Both branches shuffle on the
    * cluster key only, and the window reuses the same hash partitioning
    * the join needs, so the cap adds no exchange. */
  private[graft] def semanticPairsFor(assign: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val szW = Window.partitionBy(col("cluster"))
    val ordW = Window.partitionBy(col("cluster")).orderBy(col("cos_c").desc, col("vec_id"))
    val sized = assign.select(
      col("vec_id"), col("cluster"), col("q"), col("nsq"),
      count(lit(1)).over(szW).as("csz"),
      lag(col("vec_id"), 1).over(ordW).as("pv"),
      lag(col("q"), 1).over(ordW).as("pq"),
      lag(col("nsq"), 1).over(ordW).as("pnsq"))
    val a = sized.filter(col("csz") <= MaxCluster).as("a")
    val b = sized.filter(col("csz") <= MaxCluster).as("b")
    val small = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vb"),
        expr("dot_i64(a.q, b.q)").as("dot"),
        col("a.nsq").as("na"), col("b.nsq").as("nb"))
    val chained = sized.filter(col("csz") > MaxCluster && col("pv").isNotNull)
      .select(greatest(col("vec_id"), col("pv")).as("vb"),
        expr("dot_i64(q, pq)").as("dot"),
        col("pnsq").as("na"), col("nsq").as("nb"))
    small.unionByName(chained)
  }

  /** Shared winnowing CTE chain ending in `w(doc_id, fps)` — the
    * per-doc window minima (rightmost-tiebreak packed keys), used by
    * both the fingerprint table and the match-candidate oracle. */
  private val winnowCteSql: String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) >= 3 THEN
       |           list_transform(generate_series(1, len(t) - 2),
       |                          i -> md5(array_to_string(t[i:i+2], ' ')))
       |         ELSE [md5(array_to_string(t, ' '))] END AS hs
       |  FROM toks),
       |k AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, len(hs)),
       |           i -> hs[i] || lpad(CAST(10000000 - i AS VARCHAR), 8, '0')) AS keys
       |  FROM g),
       |w AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, greatest(len(keys) - 3, 1)),
       |                        p -> list_min(keys[p:p+3])) AS fps
       |  FROM k)""".stripMargin

  /** Spark twin: (doc_id, t, keys) with the packed winnow keys built
    * scan-locally; both winnow queries derive from it. */
  private def winnowKeys(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("t",
        when(size(col("t")) < lit(10000000), col("t"))
          .otherwise(raise_error(lit(
            "winnowing: doc has >= 10^7 tokens — the rightmost-tiebreak " +
              "packing would corrupt ordering"))))
      .withColumn("hs", expr(
        """CASE WHEN size(t) >= 3 THEN
          |  transform(sequence(1, size(t) - 2),
          |            i -> md5(concat_ws(' ', slice(t, i, 3))))
          |ELSE array(md5(concat_ws(' ', t))) END""".stripMargin))
      .withColumn("keys", expr(
        """transform(sequence(1, size(hs)),
          | i -> concat(element_at(hs, i),
          |              lpad(cast(10000000 - i AS string), 8, '0')))""".stripMargin))

  /** Full winnow-fingerprint oracle (doc_id, fp_pos, fp_hash) — shared
    * by the one-shot query and the incremental index (incremental ≡
    * one-shot is the driver-checked claim). */
  private val winnowFpOracleSql: String =
    s"""WITH $winnowCteSql
       |SELECT doc_id,
       |       CAST(10000000 - CAST(substr(f, 33) AS BIGINT) AS INT) AS fp_pos,
       |       substr(f, 1, 32) AS fp_hash
       |FROM w, UNNEST(list_distinct(fps)) AS u(f)""".stripMargin

  /** (doc_id, fp_pos, fp_hash) winnowed fingerprints — scan-local. */
  private def winnowFingerprints(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    winnowKeys(docs)
      .withColumn("f", explode(expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(keys) - 3, 1)),
          |  p -> array_min(slice(keys, p, 4))))""".stripMargin)))
      .select(col("doc_id"),
        (lit(10000000) - substring(col("f"), 33, 8).cast("int"))
          .cast("int").as("fp_pos"),
        substring(col("f"), 1, 32).as("fp_hash"))

  val qs: Seq[Q] = Seq(

    // ---- exact dedup: content-hash groups, keep lowest doc_id
    Q.sql(
      "q_dedup_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
    },

    // ---- WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    // the MOSS local-fingerprinting algorithm): hash every word 3-gram,
    // slide a window of W=4 consecutive gram hashes over each doc, and
    // keep the minimum of each window (rightmost on ties — the paper's
    // rule), deduplicated. Guarantees: any shared substring of ≥ W+K-1
    // tokens yields at least one SHARED fingerprint (the detection
    // property exact-gram counting lacks at 1/density the index size),
    // expected density 2/(W+1). Determinism: the gram hash is the md5
    // HEX STRING — lexicographic order is identical on both engines, no
    // integer conversion — and the rightmost tiebreak packs (10^7 − pos)
    // zero-padded after the hex (guarded: a ≥10^7-gram doc raises).
    // Scale shape: the ENTIRE selection is array expressions inside the
    // scan (transform/slice/array_min/array_distinct per doc row) —
    // zero exchanges at any corpus size; output ~2n/(W+1) rows per doc.
    Q.sql(
      "q_dedup_winnow_fingerprints",
      winnowFpOracleSql
    ) { (s, dir) => winnowFingerprints(Tables.documents(s, dir)) },

    // ---- INCREMENTAL winnow index — the crawl deployment of the
    // fingerprints: each batch fingerprints ONLY docs past the index's
    // doc_id frontier (the derivation is scan-local, so a batch costs
    // Θ(batch tokens) regardless of index size) and appends them as
    // engine state; the accumulated index is what new crawls probe for
    // partial-copy candidates. Two-batch build ≡ the one-shot
    // fingerprint table bit-exactly — the same oracle checks both.
    Q.sql(
      "q_dedup_winnow_incremental",
      winnowFpOracleSql
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_winnowidx")
      var src = docs.filter(col("doc_id") <= mid)
      val e = new graft.engine.Engine(s, wh, Map.empty, Seq(
        graft.engine.Model.incremental("winnow_index", Seq(),
          graft.engine.Materialization.IncrementalAppend("doc_id")) {
          (_, _, prior) =>
            // doc_id is the model's declared watermark — the engine's
            // append guard shares this scalar (Incremental.maxRow), so
            // no second footer job; -1 ≡ MinValue for nonneg ids
            val hwm = graft.engine.Incremental.hwm(prior, "doc_id")
            winnowFingerprints(src.filter(col("doc_id") > hwm))
        }))
      val r0 = e.build(); require(r0.ok, r0.results.mkString("; "))
      src = docs
      val r1 = e.build(); require(r1.ok, r1.results.mkString("; "))
      graft.engine.Resolver(s).read(s"$wh/winnow_index")
        .select(col("doc_id"), col("fp_pos"), col("fp_hash"))
    },

    // ---- winnowing MATCH candidates (the detector MOSS builds on the
    // fingerprints): documents sharing any winnowed fingerprint are
    // candidate partial-copy pairs — by the winnowing guarantee this
    // catches every shared run of ≥ W+K-1 tokens while indexing only
    // ~2/(W+1) of positions (vs every position for exact-gram spans).
    // Per-doc fingerprint-hash sets are array_distinct inside the scan
    // (zero exchanges); the bucket grouping + in-bucket expansion reuse
    // the LSH machinery including the MaxBucket chain cap, mirrored in
    // the oracle.
    Q.sql(
      "q_dedup_winnow_pairs",
      s"""WITH $winnowCteSql,
         |fph AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(list_transform(fps, f -> substr(f, 1, 32)))) AS fp
         |  FROM w),
         |fsz AS (SELECT fp, count(*) AS bsz FROM fph GROUP BY 1)
         |SELECT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fph a JOIN fph b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  JOIN fsz z ON z.fp = a.fp
         |  WHERE z.bsz <= $MaxBucket
         |  UNION ALL
         |  SELECT doc_a, doc_b FROM (
         |    SELECT c.doc_id AS doc_a,
         |           lead(c.doc_id) OVER (PARTITION BY c.fp ORDER BY c.doc_id) AS doc_b
         |    FROM fph c JOIN fsz z2 ON z2.fp = c.fp
         |    WHERE z2.bsz > $MaxBucket)
         |  WHERE doc_b IS NOT NULL)
         |GROUP BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val fph = winnowKeys(Tables.documents(s, dir))
        .withColumn("band_key", explode(expr(
          """array_distinct(transform(transform(
            |  sequence(1, greatest(size(keys) - 3, 1)),
            |  p -> array_min(slice(keys, p, 4))), f -> substring(f, 1, 32)))"""
            .stripMargin)))
        .select(col("doc_id"), lit(0).as("band_idx"), col("band_key"))
      pairsFromBands(fph)
    },

    // ---- MinHash + LSH banding: candidate near-dup pairs
    Q.sql(
      "q_dedup_minhash_lsh",
      s"""WITH $minhashCandSql
         |SELECT doc_a, doc_b FROM cand""".stripMargin
    ) { (s, dir) => minhashCandidates(s, dir) },

    // ---- incremental near-dup: the two-model engine pipeline
    // (graft.dedup.IncrementalDedup) run as two doc_id-ordered batches
    // into a fresh warehouse, then the accumulated candidate set. SAME
    // oracle text as q_dedup_minhash_lsh: the hash-compare proves the
    // incremental build ≡ the one-shot batch LSH on the final corpus
    // (each build having hashed only its own batch).
    Q.sql(
      "q_dedup_incremental",
      s"""WITH $minhashCandSql
         |SELECT doc_a, doc_b FROM cand""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incdedup")
      def build(src: org.apache.spark.sql.DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("documents" -> src),
          graft.dedup.IncrementalDedup.models("documents")).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(docs.filter(col("doc_id") <= mid))
      build(docs)
      graft.dedup.IncrementalDedup
        .pairs(graft.engine.Resolver(s).read(s"$wh/neardup_candidates"))
        .select(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash: 16-bit token-majority fingerprint per doc
    Q.sql(
      "q_dedup_simhash", {
        // bit j of md5(tok): hex char at j/4 (1-based), bit j%4 within it
        def bitSql(j: Int) = {
          val cpos = j / 4 + 1; val bpos = j % 4
          s"((strpos('0123456789abcdef', substr(md5(tok), $cpos, 1)) - 1) >> $bpos) & 1"
        }
        val bits = (0 until 16).map { j =>
          s"CASE WHEN 2 * len(list_filter(t, tok -> (${bitSql(j)}) = 1)) > len(t) THEN ${1 << j} ELSE 0 END"
        }
        s"""SELECT doc_id, CAST(${bits.mkString(" + ")} AS INT) AS simhash16
           |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin
      }
    ) { (s, dir) =>
      import s.implicits._
      // One md5 PER TOKEN in a typed kernel: the column-expression
      // formulation evaluates md5(tok) once per (token, bit) = 16×
      // the hashing (measured 3.2s → sub-second at sf0.1). Bit j of a
      // token = bit (j%4) of hex digit (j/4) of its md5 — identical to
      // the oracle's strpos/substr arithmetic, so hex parity holds.
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { case (id, text) =>
            val toks = text.split(" ", -1)
            val counts = new Array[Int](16)
            toks.foreach { tok =>
              val d = md.digest(tok.getBytes("UTF-8"))
              var j = 0
              while (j < 16) {
                val cpos = j / 4 // hex char index (chars 0..3 = bytes 0..1)
                val digit =
                  if (cpos % 2 == 0) (d(cpos / 2) >> 4) & 15 else d(cpos / 2) & 15
                counts(j) += (digit >> (j % 4)) & 1
                j += 1
              }
            }
            var sim = 0
            var j = 0
            while (j < 16) { if (2 * counts(j) > toks.length) sim |= 1 << j; j += 1 }
            (id, sim)
          }
        }.toDF("doc_id", "simhash16")
        .select(col("doc_id"), col("simhash16").cast("int").as("simhash16"))
    },

    // ---- exact n-gram Jaccard verification of the LSH candidates
    // (candidate→verify, the scalable near-dup pipeline)
    Q.sql(
      "q_dedup_ngram_jaccard",
      s"""WITH $minhashCandSql,
         |d AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(t) >= 2 THEN
         |             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
         |           ELSE t END) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
         |         len(a.sh) + len(b.sh) AS sz
         |  FROM cand c JOIN d a ON c.doc_a = a.doc_id JOIN d b ON c.doc_b = b.doc_id)
         |SELECT doc_a, doc_b,
         |       round(CAST(inter AS DOUBLE) / (sz - inter), 4) AS jaccard
         |FROM pairs WHERE inter * 10 >= (sz - inter)""".stripMargin
    ) { (s, dir) =>
      // candidate→verify: LSH candidates through the shared exact
      // bigram-Jaccard kernel ([[bigramJaccardPairs]] — plan notes
      // there); the final division rounds in the same column expression
      // as the oracle.
      bigramJaccardPairs(Tables.documents(s, dir), minhashCandidates(s, dir))
        .select(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") / (col("sz") - col("inter")), 4).as("jaccard"))
    },

    // ---- cluster-level dedup: LSH candidate graph → connected
    // components → one survivor per cluster (iterative label
    // propagation, graft.dedup.Dedup). Oracle: DuckDB WITH RECURSIVE
    // transitive reachability over the same cand CTE — each node's
    // cluster is the min doc_id it can reach (fine at oracle scale; the
    // engine side is the scalable fixpoint). Semantics also in DedupSpec.
    Q.sql(
      "q_dedup_clusters",
      s"""WITH RECURSIVE $minhashCandSql,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM cand),
         |reach(doc_id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |cc AS (
         |  SELECT doc_id, least(doc_id, min(r)) AS cluster
         |  FROM reach GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(cc.cluster, d.doc_id) AS survivor_doc_id,
         |       (d.doc_id = coalesce(cc.cluster, d.doc_id)) AS keep
         |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id""".stripMargin
    ) { (s, dir) =>
      graft.dedup.Dedup.survivors(
        Tables.documents(s, dir).select(col("doc_id")),
        minhashCandidates(s, dir))
    },

    // ---- cluster dedup with KEEP-LONGEST survivorship — the curation
    // rule production pipelines actually apply (among near-duplicates
    // the longest version is usually the un-truncated one; min-id
    // keep-first above is the deterministic baseline). Same LSH
    // candidate graph and connected components; the survivor is the
    // cluster's (n_tokens DESC, doc_id ASC) argmax via first_value over
    // the cluster window — identical ordering semantics on both
    // engines. Scale shape: components via the capped label-propagation
    // fixpoint; the argmax is one cluster-grain window (clusters are
    // near-dup groups — small by construction).
    Q.sql(
      "q_dedup_keep_longest",
      s"""WITH RECURSIVE $minhashCandSql,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM cand),
         |reach(doc_id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |cc AS (
         |  SELECT doc_id, least(doc_id, min(r)) AS cluster
         |  FROM reach GROUP BY doc_id),
         |d AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         |      FROM documents),
         |m AS (
         |  SELECT d.doc_id, d.n_tokens,
         |         coalesce(cc.cluster, d.doc_id) AS cluster
         |  FROM d LEFT JOIN cc ON d.doc_id = cc.doc_id)
         |SELECT doc_id, n_tokens,
         |       first_value(doc_id) OVER
         |         (PARTITION BY cluster ORDER BY n_tokens DESC, doc_id)
         |         AS survivor_doc_id,
         |       doc_id = first_value(doc_id) OVER
         |         (PARTITION BY cluster ORDER BY n_tokens DESC, doc_id)
         |         AS keep
         |FROM m""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      val cc = graft.dedup.Dedup.connectedComponents(minhashCandidates(s, dir))
      val m = docs.join(cc, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      m.withColumn("survivor_doc_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("survivor_doc_id"),
          (col("doc_id") === col("survivor_doc_id")).as("keep"))
    },

    // ---- embedding-cosine near-dup within label blocks (IVF-style),
    // integer-quantized so the threshold compare is exact in both engines
    Q.sql(
      "q_dedup_embedding_cosine",
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(round(x * 100) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, q,
        |             list_sum(list_transform(q, x -> x * x)) AS nsq FROM e),
        |pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(generate_series(1, len(a.q)),
        |                  i -> a.q[i] * b.q[i])) AS dot,
        |         a.nsq AS na, b.nsq AS nb
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b,
        |       round(dot / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 4) AS cos_sim
        |FROM pairs
        |WHERE dot > 0 AND dot * dot * 100 >= 9 * na * nb""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Block join stays declarative (Catalyst plans/broadcasts it); the
      // O(pairs × dims) integer kernel runs as a tight typed loop —
      // measured ~3× faster than the equivalent column-expression dot
      // product, the one hot loop where mapPartitions-style execution
      // beats codegen. The kernel emits exact integers; the final cosine
      // is the same column expression as the oracle (bit-identical).
      // persisted for the same reason as [[quantizedWithNorm]], plus a
      // codegen subtlety measured this round: quantize() is a
      // codegen-able native expression, so an unmaterialized projection
      // FUSES into the self-join's whole-stage codegen and the stream
      // side's `q` evaluation is deferred INTO the match loop — once per
      // emitted PAIR (~matches/row ≈ cluster size) instead of once per
      // row (5.7× slower at sf0.1; the old interpreted HOF was
      // accidentally protected by its CodegenFallback Project barrier).
      // Persisting computes q exactly once per vector on both sides.
      val e = Tables.embeddings(s, dir).select(
        col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = e.as("a"); val b = e.as("b")
      val pairs = a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"), col("a.q"), col("b.q"))
        .as[(Long, Long, Array[Long], Array[Long])]
      pairs.mapPartitions { it =>
        it.flatMap { case (va, vb, qa, qb) =>
          var dot = 0L; var na = 0L; var nb = 0L; var i = 0
          while (i < qa.length) {
            dot += qa(i) * qb(i); na += qa(i) * qa(i); nb += qb(i) * qb(i); i += 1
          }
          // cos >= 0.3 ⇔ dot² · 100 >= 9 · |a|²·|b|² (dot > 0), all
          // integer (synthetic embeddings are near-orthogonal; real
          // near-dup pipelines would use ~0.9 — threshold-agnostic)
          if (dot > 0 && dot * dot * 100 >= 9 * na * nb) Some((va, vb, dot, na, nb))
          else None
        }
      }.toDF("vec_a", "vec_b", "dot", "na", "nb")
        .select(col("vec_a"), col("vec_b"),
          round(col("dot") / sqrt(col("na").cast("double") * col("nb").cast("double")), 4).as("cos_sim"))
    },

    // ---- semantic dedup (SemDeDup-style): assign every vector to its
    // nearest LEARNED centroid (element-wise integer sum per label —
    // cosine is scale-invariant, so sum ≡ mean and stays exact), then
    // greedy keep-first inside each assigned cluster: a doc is dropped
    // iff a smaller-id doc in ITS cluster is cosine-similar above the
    // threshold. Differs from q_dedup_embedding_cosine in both halves:
    // blocking is by learned centroid (a vector near another label's
    // centroid moves clusters), and the output is the per-doc keep
    // decision, not the pair list.
    //
    // Scale shape: centroids are k tiny rows (broadcast); assignment is
    // a broadcast cross-product reduced by a map-side max_by partial
    // aggregate — the shuffle carries ~N rows, not N×k (the IVF query
    // uses the window form on 5 query rows where the exchange is free;
    // here every vector is assigned, so the agg form matters). The
    // in-cluster self-join shuffles on the cluster key only — at 100 TB
    // with k ~ corpus/10⁵ clusters this is the published SemDeDup
    // recipe — and clusters above [[MaxCluster]] degrade to a
    // consecutive chain in nearest-centroid order (see
    // [[semanticPairsFor]]), so a skewed cluster cannot expand
    // quadratically (DedupSpec's adversarial corpus pins this, same as
    // the LSH MaxBucket test).
    Q.sql(
      "q_dedup_semantic",
      semanticOracleSql(semanticExactAssignSql)
    ) { (s, dir) =>
      semanticKeepFor(semanticAssignFor(Tables.embeddings(s, dir)))
    },

    // ---- ANN-assisted semantic dedup: the SAME survivorship pipeline
    // over the PROBED (approximate) assignment — the recall-traded scale
    // path the published SemDeDup-at-scale configuration uses once k
    // grows with the corpus (k ∝ corpus/10⁵ means exact assignment is
    // quadratic in corpus size; the probe caps it at N·√k·W). Both
    // engines compute the same precisely-specified approximation
    // (LSH-grouped centroids, top-W groups by representative cosine,
    // exact argmax inside), so this hash-checks like the LSH ANN
    // queries; its agreement with the exact assignment is measured in
    // DedupSpec (~89% on this near-isotropic corpus — see
    // [[semanticAssignFor]] for why no exact probe can exist here).
    Q.sql(
      "q_dedup_semantic_probed",
      semanticOracleSql(semanticProbedAssignSql)
    ) { (s, dir) =>
      semanticKeepFor(semanticProbeAssignFor(Tables.embeddings(s, dir)))
    },

    // ---- URL-level dedup after canonicalization: web corpora drop
    // re-crawls of the same page BEFORE any content hashing, and the
    // same page arrives under tracking params, fragments, case-variant
    // scheme/host and www. aliases. URLs are planted deterministically
    // from (source, doc_id) with the SAME expression in both engines
    // (the synthetic corpus has no url column); canonicalization is
    // [[canonicalUrl]]; the keep decision is min(doc_id) per canonical
    // URL. Scale shape: the whole normalization chain is per-row regex
    // inside whole-stage codegen (scan-local); the only exchange is the
    // hash shuffle on canonical_url for the per-URL window — the
    // standard recipe at crawl scale (URL cardinality ≈ corpus, so the
    // shuffle is unavoidable and perfectly partitionable).
    Q.sql(
      "q_dedup_url",
      urlDedupOracleSql
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_url"))
      plantedUrls(Tables.documents(s, dir))
        .withColumn("canonical_url", canonicalUrl(col("url")))
        .select(col("doc_id"), col("url"), col("canonical_url"),
          (col("doc_id") === min(col("doc_id")).over(w)).as("keep"),
          count(lit(1)).over(w).as("n_aliases"))
    },

    // ---- incremental URL dedup as an engine model: two builds (half
    // crawl, then full) accumulate the url_first state delta-only —
    // each build canonicalizes ONLY its batch — and the rebuilt corpus
    // must hash-match the one-shot batch answer (the same oracle as
    // q_dedup_url): incremental ≡ batch, checked by the driver, not
    // just the spec. Keep-first immutability is what makes the state
    // append-only; see [[graft.dedup.IncrementalUrlDedup]].
    Q.sql(
      "q_dedup_url_incremental",
      urlDedupOracleSql
    ) { (s, dir) =>
      val urls = plantedUrls(Tables.documents(s, dir))
      val b = urls.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incurl")
      def build(src: org.apache.spark.sql.DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("urls" -> src),
          graft.dedup.IncrementalUrlDedup.models("urls")).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(urls.filter(col("doc_id") <= mid))
      build(urls)
      graft.dedup.IncrementalUrlDedup.dedupedUrls(
        urls, graft.engine.Resolver(s).read(s"$wh/url_first"))
    },

    // ---- exact duplicated-SUBSTRING spans (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // document-level dedup misses the boilerplate/quotation case where
    // only a PASSAGE repeats across otherwise-distinct documents. The
    // published tool builds a corpus suffix array; the distributed
    // re-expression is positional k-gram matching — exactly the spans
    // a length-≥K suffix-array match covers: every K-token window at
    // (doc, pos), duplicated iff its text occurs ≥2 times corpus-wide,
    // adjacent duplicated positions merged into maximal spans (pos −
    // row_number run keys, the sessionize idiom). Scale shape: gram
    // extraction is a scan-local generator; ONE hash exchange on the
    // gram key for the global count (map-side partial combine); the
    // count≥2 filter joins back on the same key (AQE picks the join);
    // the span merge is a per-doc window over only the SURVIVING ~9%
    // of positions. No suffix array, no N² — at 100 TB the gram-key
    // shuffle is the same shape as the n-gram decontamination op's.
    Q.sql(
      "q_dedup_substring_spans",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, i AS pos,
         |         array_to_string(list_slice(t, i, i + ${SpanK - 1}), ' ') AS g
         |  FROM toks, UNNEST(generate_series(1, len(t) - ${SpanK - 1})) AS u(i)
         |  WHERE len(t) >= $SpanK),
         |cnt AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
         |dup AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run_key
         |  FROM grams JOIN cnt USING (g) WHERE c >= 2)
         |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         |       CAST(max(pos) + ${SpanK - 1} AS INT) AS span_end,
         |       CAST(count(*) AS INT) AS n_grams
         |FROM dup GROUP BY doc_id, run_key""".stripMargin
    ) { (s, dir) =>
      // Hash-prefilter form: the CPU-dominant stage is materializing a
      // ~60-char gram STRING per token window (slice + array_join ×
      // every position) plus pushing those strings through the count
      // exchange. Count 64-bit window hashes instead (xxhash64 over the
      // 8 token columns — no string is built), broadcast the ≥2-hash
      // survivors back onto the generator, and run the exact recount
      // ONLY for the ~9% surviving positions — a hash collision can
      // only ADD a candidate, never drop one, and the exact recount
      // removes it. The recount itself groups by the K token COLUMNS,
      // never rebuilding the gram string (equal joined strings ⟺ equal
      // token tuples: tokens come from split(' ') so none contains a
      // space) — measured 14% faster than the string recount on the 16×
      // corpus, bit-identical output.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val win = toks.filter(size(col("t")) >= SpanK)
        .select(col("doc_id"),
          explode(expr(s"sequence(1, size(t) - ${SpanK - 1})")).as("pos"),
          col("t"))
        .withColumn("h", xxhash64(
          (0 until SpanK).map(j => expr(s"element_at(t, pos + $j)")): _*))
      val hc = win.groupBy(col("h")).agg(count(lit(1)).as("ch"))
        .filter(col("ch") >= 2).select(col("h"))
      val tokCols = (0 until SpanK).map(j =>
        expr(s"element_at(t, pos + $j)").as(s"tk$j"))
      val keys = (0 until SpanK).map(j => s"tk$j")
      val cand = win.join(broadcast(hc), Seq("h"))
        .select(Seq(col("doc_id"), col("pos")) ++ tokCols: _*)
      val cnt = cand.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      val dup = cand.join(broadcast(cnt.filter(col("c") >= 2)), keys)
        .withColumn("run_key", col("pos") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("pos"))))
      dup.groupBy(col("doc_id"), col("run_key"))
        .agg(min(col("pos")).cast("int").as("span_start"),
          (max(col("pos")) + (SpanK - 1)).cast("int").as("span_end"),
          count(lit(1)).cast("int").as("n_grams"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("n_grams"))
    },

    // ---- duplicated-substring REMOVAL — the transform output of Lee
    // et al. 2022 (the spans query above is the diagnostic; this is the
    // rewrite the paper actually trains on): every duplicated K-gram
    // occurrence EXCEPT the corpus-wide first keeps one canonical copy
    // and excises the rest. First occurrence is total-ordered by
    // (doc_id, pos) packed into one 64-bit integer (doc_id·2^20 + pos;
    // pos is guarded below with raise_error so a >1M-token doc fails
    // LOUDLY instead of silently colliding), so min() picks it with no
    // tuple-compare dialect drift. A token is removed iff some covering non-first duplicated
    // gram position exists; the cleaned text re-joins the surviving
    // tokens in order. Output = only docs that lost tokens (unchanged
    // docs are identity). Scale shape: same single gram-key exchange as
    // the spans query, plus token-grain anti-join + per-doc re-assembly
    // that touch ONLY docs with removals (left-semi prune before the
    // aggregation) — the rewrite cost tracks the duplicated fraction,
    // not the corpus.
    Q.sql(
      "q_dedup_substring_remove",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pt AS (
         |  SELECT doc_id, i AS idx, t[i] AS tok
         |  FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
         |grams AS (
         |  SELECT doc_id, i AS pos, doc_id * 1048576 + i AS ord,
         |         array_to_string(list_slice(t, i, i + ${SpanK - 1}), ' ') AS g
         |  FROM toks, UNNEST(generate_series(1, len(t) - ${SpanK - 1})) AS u(i)
         |  WHERE len(t) >= $SpanK),
         |cnt AS (SELECT g, count(*) AS c, min(ord) AS first_ord
         |        FROM grams GROUP BY g),
         |dup AS (
         |  SELECT doc_id, pos FROM grams JOIN cnt USING (g)
         |  WHERE c >= 2 AND ord <> first_ord),
         |cover AS (
         |  SELECT DISTINCT doc_id, pos + j AS idx
         |  FROM dup, UNNEST(generate_series(0, ${SpanK - 1})) AS v(j)),
         |rem AS (SELECT doc_id, count(*) AS n_removed FROM cover GROUP BY doc_id),
         |kept AS (
         |  SELECT pt.doc_id, pt.idx, pt.tok FROM pt
         |  WHERE EXISTS (SELECT 1 FROM rem WHERE rem.doc_id = pt.doc_id)
         |    AND NOT EXISTS (SELECT 1 FROM cover c
         |                    WHERE c.doc_id = pt.doc_id AND c.idx = pt.idx)),
         |kt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text
         |       FROM kept GROUP BY doc_id)
         |SELECT rem.doc_id, coalesce(kt.clean_text, '') AS clean_text,
         |       CAST(rem.n_removed AS INT) AS n_removed
         |FROM rem LEFT JOIN kt USING (doc_id)""".stripMargin
    ) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val pt = toks
        .select(col("doc_id"), posexplode(col("t")).as(Seq("idx0", "tok")))
        .select(col("doc_id"), (col("idx0") + 1).as("idx"), col("tok"))
      // same hash-prefilter as the spans query: count 64-bit window
      // hashes (no string built), keep candidates whose hash repeats,
      // and do the exact count + first-occurrence min ONLY over
      // candidates — every occurrence of a gram shares its hash, so a
      // surviving gram's candidate set is COMPLETE and min(ord) over it
      // equals the corpus-wide first occurrence; collisions only add
      // candidates the exact recount then rejects. The recount groups
      // by the K token COLUMNS (no gram string is ever built — equal
      // joined strings ⟺ equal token tuples since tokens cannot contain
      // spaces): bit-identical to counting strings everywhere, measured
      // 14% faster on the 16× corpus.
      val win = toks.filter(size(col("t")) >= SpanK)
        .select(col("doc_id"),
          explode(expr(s"sequence(1, size(t) - ${SpanK - 1})")).as("pos"),
          col("t"))
        .withColumn("h", xxhash64(
          (0 until SpanK).map(j => expr(s"element_at(t, pos + $j)")): _*))
      val hc = win.groupBy(col("h")).agg(count(lit(1)).as("ch"))
        .filter(col("ch") >= 2).select(col("h"))
      // pos packs into the low 20 bits; a doc longer than 2^20 tokens
      // would collide/overflow the keep-first ordinal on BOTH engines,
      // so fail loudly at scan time instead of drifting silently.
      val guardedPos = when(col("pos") < lit(1 << 20), col("pos"))
        .otherwise(raise_error(concat(
          lit("q_dedup_substring_remove: doc "), col("doc_id"),
          lit(" has >= 2^20 tokens — ord packing would collide"))))
      val tokCols = (0 until SpanK).map(j =>
        expr(s"element_at(t, pos + $j)").as(s"tk$j"))
      val keys = (0 until SpanK).map(j => s"tk$j")
      val cand = win.join(broadcast(hc), Seq("h"))
        .select(Seq(col("doc_id"), col("pos"),
          (col("doc_id").cast("long") * 1048576L + guardedPos).as("ord"))
          ++ tokCols: _*)
      val cnt = cand.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("c"), min(col("ord")).as("first_ord"))
      val dup = cand.join(broadcast(cnt.filter(col("c") >= 2)), keys)
        .filter(col("ord") =!= col("first_ord"))
        .select(col("doc_id"), col("pos"))
      // covered-index sets built PER DOC in one doc-grain exchange of
      // the |dup| position rows (r17): the old shape exploded 8× first,
      // then paid a (doc,idx)-grain distinct exchange AND a doc-grain
      // count exchange — the array form moves 1/8 the rows through one
      // shuffle and does the dedup + count scan-locally. Identical set.
      val coverArr = dup.groupBy(col("doc_id")).agg(
        array_distinct(flatten(expr(
          s"transform(collect_list(pos), p -> sequence(p, p + ${SpanK - 1}))")))
          .as("idxs"))
      val cover = coverArr
        .select(col("doc_id"), explode(col("idxs")).as("idx"))
      val rem = coverArr
        .select(col("doc_id"), size(col("idxs")).cast("int").as("n_removed"))
      val kept = pt
        .join(rem.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(cover, Seq("doc_id", "idx"), "left_anti")
      val kt = kept.groupBy(col("doc_id")).agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(idx, tok))), x -> x.tok)"),
          " ").as("clean_text"))
      rem.join(kt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          col("n_removed"))
    },

    // ---- crawl registry keep-LATEST (the merge-materialization twin
    // of q_dedup_url's keep-first): re-crawls of the same canonical URL
    // UPSERT the registry row — each build keeps the newest crawl per
    // canonical key within its delta (row_number DESC), and the
    // MergeUpsert materialization displaces the stored row. Frontier =
    // max(last_doc) over the registry itself (the merge twin of the
    // HWM append filter), so batch 2 tokenizes/canonicalizes only new
    // crawls. Scale shape: delta-only canonicalization + one key-grain
    // window over the delta; the write restates only buckets containing
    // re-crawled keys (file-level pin in EngineSpec). The oracle is the
    // global arg-max: latest (doc_id, url) per canonical_url.
    Q.sql(
      "q_dedup_crawl_registry",
      urlDedupOracleSql.replace(
        """SELECT doc_id, url, canonical_url,
          |       (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep,
          |       count(*) OVER (PARTITION BY canonical_url) AS n_aliases
          |FROM c""".stripMargin,
        """SELECT canonical_url, last_doc, last_url FROM (
          |  SELECT canonical_url, doc_id AS last_doc, url AS last_url,
          |         row_number() OVER (PARTITION BY canonical_url
          |           ORDER BY doc_id DESC) AS rn
          |  FROM c) t WHERE rn = 1""".stripMargin)
    ) { (s, dir) =>
      val urls = plantedUrls(Tables.documents(s, dir))
      val b = urls.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_crawlreg")
      var src = urls.filter(col("doc_id") <= mid)
      val e = new graft.engine.Engine(s, wh, Map.empty, Seq(
        graft.engine.Model.incremental("registry", Seq(),
          graft.engine.Materialization.MergeUpsert("canonical_url", 16)) {
          (_, _, prior) =>
            val hwm = graft.engine.Incremental.hwm(prior, "last_doc")
            val delta = src.filter(col("doc_id") > hwm)
              .withColumn("canonical_url", canonicalUrl(col("url")))
            delta.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("canonical_url"))
                .orderBy(col("doc_id").desc)))
              .filter(col("rn") === 1)
              .select(col("canonical_url"), col("doc_id").as("last_doc"),
                col("url").as("last_url"))
        }))
      val r0 = e.build(); require(r0.ok, r0.results.mkString("; "))
      src = urls
      val r1 = e.build(); require(r1.ok, r1.results.mkString("; "))
      e.ref("registry")
    },

    // ---- INCREMENTAL duplicated-substring statistics — merge-
    // maintained aggregate state, the read-modify-write pattern exact
    // passage dedup needs at 100 TB (recounting every K-gram per crawl
    // batch rescans the corpus; the count table must be MAINTAINED).
    // Gram counts are additive over an append-only corpus, so each
    // build counts only docs past the registry frontier and upserts
    // new_count = delta_count + prior_count for exactly the DELTA's
    // grams. The prior-side read is pruned to the delta's buckets via
    // the bucket column `{{ this }}` exposes (planning-time directory
    // pruning — without it the join rescans the whole count table per
    // build, with it prior-side cost matches the write side: touched
    // buckets only). Two-batch build hash-equals the one-shot corpus
    // count (the oracle), duplicated grams only.
    Q.sql(
      "q_dedup_substring_incremental",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |         array_to_string(list_slice(t, i, i + ${SpanK - 1}), ' ') AS g
         |  FROM toks, UNNEST(generate_series(1, len(t) - ${SpanK - 1})) AS u(i)
         |  WHERE len(t) >= $SpanK)
         |SELECT g, count(*) AS c, max(doc_id) AS last_doc
         |FROM grams GROUP BY g HAVING count(*) >= 2""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_grammrg")
      val GramBuckets = 32
      def gramsOf(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= SpanK)
        .select(col("doc_id"),
          explode(expr(s"sequence(1, size(t) - ${SpanK - 1})")).as("pos"),
          col("t"))
        .select(col("doc_id"),
          array_join(expr(s"slice(t, pos, $SpanK)"), " ").as("g"))
      var src = docs.filter(col("doc_id") <= mid)
      val e = new graft.engine.Engine(s, wh, Map.empty, Seq(
        graft.engine.Model.incremental("gram_counts", Seq(),
          graft.engine.Materialization.MergeUpsert("g", GramBuckets)) {
          (_, _, prior) =>
            val hwm = graft.engine.Incremental.hwm(prior, "last_doc")
            val dc = gramsOf(src.filter(col("doc_id") > hwm))
              .groupBy(col("g"))
              .agg(count(lit(1)).as("dc"), max(col("doc_id")).as("dmax"))
            prior match {
              case None =>
                dc.select(col("g"), col("dc").as("c"),
                  col("dmax").as("last_doc"))
              case Some(p) =>
                val bcol = graft.engine.Materialization.MergeUpsert.BucketCol
                // the delta aggregate feeds TWO consumers — the
                // touched-bucket collect below and the merged frame the
                // engine stages — so persist it (MEMORY_AND_DISK, the
                // engine-wide reuse idiom: recompute on block loss,
                // spill not evict); without it the gram explode + count
                // runs twice per build — two full delta passes at
                // 100 TB. Build-scoped: the staging write is this
                // build's last consumer, so the engine unpersists it when
                // the build ends.
                val dcP = graft.engine.Resolver(dc.sparkSession).persistForBuild(dc)
                // ≤ buckets scalars; makes the prior read partition-pruned
                val touched = dcP
                  .select(pmod(hash(col("g")), lit(GramBuckets)).as("b"))
                  .distinct().collect().map(_.getInt(0)).toSeq
                val pp = p.filter(col(bcol).isin(touched: _*))
                  .select(col("g"), col("c").as("pc"),
                    col("last_doc").as("pl"))
                dcP.join(pp, Seq("g"), "left")
                  .select(col("g"),
                    (col("dc") + coalesce(col("pc"), lit(0L))).as("c"),
                    greatest(col("dmax"), coalesce(col("pl"), lit(0L)))
                      .as("last_doc"))
            }
        }))
      val r2 = e.build(); require(r2.ok, r2.results.mkString("; "))
      src = docs
      val r3 = e.build(); require(r3.ok, r3.results.mkString("; "))
      e.ref("gram_counts").filter(col("c") >= 2)
        .select(col("g"), col("c"), col("last_doc"))
    }
  )

  /** The URL-dedup oracle — shared verbatim by the batch and
    * incremental queries: both must produce the same corpus-level
    * answer, so both hash-check against the same DuckDB SQL. */
  // lazy: referenced from `qs` ABOVE its declaration — a strict val here
  // is still null while qs initializes (object-body init order), which
  // surfaced as an NPE in Verify's oracle_sql.json dump, not at compile
  private lazy val urlDedupOracleSql: String =
      """WITH u AS (
        |  SELECT doc_id,
        |         concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
        |                CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |                source, '.ExAmple.COM/Docs/',
        |                CAST(doc_id % 100 AS VARCHAR),
        |                CASE WHEN doc_id % 4 = 0
        |                       THEN concat('?utm_source=feed&page=', CAST(doc_id % 7 AS VARCHAR))
        |                     WHEN doc_id % 4 = 1 THEN '?ref=keep&utm_medium=email'
        |                     WHEN doc_id % 4 = 2 THEN concat('#section-', CAST(doc_id % 5 AS VARCHAR))
        |                     ELSE '/' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |         concat('https://',
        |           regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |                          '^www\.', ''),
        |           regexp_replace(regexp_replace(regexp_replace(
        |               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
        |               '[?&]utm_[a-z]+=[^&]*', '', 'g'), '^([^?&]*)&', '\1?'), '/+$', '')) AS canonical_url
        |  FROM u)
        |SELECT doc_id, url, canonical_url,
        |       (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep,
        |       count(*) OVER (PARTITION BY canonical_url) AS n_aliases
        |FROM c""".stripMargin

  /** Deterministic planted URLs from (source, doc_id) — the synthetic
    * corpus has no url column, so both engines plant the SAME aliases
    * (scheme/host case, www, fragment, leading-utm + real param,
    * trailing utm, trailing slash) with the same expression; see the
    * `u` CTE of [[urlDedupOracleSql]]. Emits (doc_id, url). */
  private[graft] def plantedUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "HTTPS://").otherwise("https://"),
      when(id % 3 === 0, "WWW.").otherwise(""),
      col("source"), lit(".ExAmple.COM/Docs/"),
      (id % 100).cast("string"),
      when(id % 4 === 0, concat(lit("?utm_source=feed&page="), (id % 7).cast("string")))
        .when(id % 4 === 1, lit("?ref=keep&utm_medium=email"))
        .when(id % 4 === 2, concat(lit("#section-"), (id % 5).cast("string")))
        .otherwise(lit("/")))
    docs.select(id, url.as("url"))
  }

  /** Canonical form of a crawl URL, the dedup key for URL-level dedup:
    * scheme dropped to https, host lowercased and `www.`-stripped,
    * fragment dropped, `utm_*` tracking params removed (with their
    * leading separator — param REORDERING is out of scope), a query
    * remainder orphaned by stripping a LEADING utm param (`?utm_a=1&
    * page=2` → `&page=2`) re-anchored on `?`, trailing slashes
    * stripped. Every pattern is in the RE2 ∩ java.util.regex dialect so
    * the Spark column and the DuckDB oracle agree bit-exactly (the
    * capture in the re-anchor step is in the REPLACEMENT, `$1` here vs
    * `\1` in DuckDB — pattern dialects still agree). */
  private[graft] def canonicalUrl(url: Column): Column = {
    val host = regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
    val rest = regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^#]*)", 1),
      "[?&]utm_[a-z]+=[^&]*", ""), "^([^?&]*)&", "$1?"), "/+$", "")
    concat(lit("https://"), host, rest)
  }
}
