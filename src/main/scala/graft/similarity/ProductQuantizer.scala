package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the published ANN compression scheme
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
  * split each vector into [[M]] orthogonal subspaces, learn a small
  * per-subspace codebook, and represent a vector by its M codebook
  * indices (M bytes instead of M·[[SubDims]]·8). Candidates are then
  * scored by ASYMMETRIC DISTANCE COMPUTATION (ADC): the query
  * precomputes one dot product against every codebook entry
  * (M × [[CodebookSize]] values), and scoring a candidate is M table
  * lookups + adds — no per-candidate vector arithmetic at all. This is
  * the other half of the story [[graft.queries.SimilarityQueries]]'s
  * SQ8 operator starts (SQ8 shrinks the bytes per component; PQ shrinks
  * the COMPONENTS per candidate and moves the arithmetic off the scan).
  *
  * Training here is deterministic and engine-portable (the own-oracle
  * idiom — both Spark and the DuckDB oracle derive bit-identical
  * codebooks from the same corpus): each subspace's 256 cells are an
  * LSH coarse quantizer (sign bits of [[PlanesPerSub]] fixed seeded
  * integer planes — one k-medoid-style iteration over LSH init, not
  * iterative k-means, which would need float centroids and engine-exact
  * iteration order), and each cell's codebook ENTRY is its exact medoid
  * under cosine-to-the-cell-sum: the member subvector maximizing
  * `dot(sv, Σ members) / √(|sv|²·|Σ members|²)`, ties to the lowest
  * vec_id. Entries are REAL member subvectors, so all ADC dot products
  * stay exact 64-bit integers — the established integer-exactness
  * contract — and the only float op anywhere is the final
  * `dot/sqrt(nq·npq)` cosine, computed with identical IEEE ops in both
  * engines.
  *
  * Scale shape: code assignment is scan-local (sign bits of literal
  * plane dots inside whole-stage codegen); codebook training is one
  * groupBy on (subspace, cell) over the FIXED training snapshot (the
  * same frozen-quantizer contract as `ivf_centroids` — at 100 TB a
  * sample, retraining = full refresh); the trained codebook is
  * M×256×SubDims longs ≈ 128 KB — broadcast/driver-sized by
  * construction, independent of corpus size.
  */
object ProductQuantizer {

  val M = 8 // subspaces
  val SubDims = 8 // dims per subspace
  val PlanesPerSub = 8 // LSH planes per subspace -> 256 cells
  val CodebookSize = 1 << PlanesPerSub
  val Dims: Int = M * SubDims

  /** subPlanes(m)(i): the i-th hyperplane of subspace m, SubDims small
    * ints from one fixed seed — inlined verbatim into both engines'
    * plans so cell codes are bit-identical. */
  val SubPlanes: IndexedSeq[IndexedSeq[Array[Long]]] = {
    val rnd = new scala.util.Random(16180339)
    IndexedSeq.fill(M)(IndexedSeq.fill(PlanesPerSub)(
      Array.fill(SubDims)((rnd.nextInt(19) - 9).toLong)))
  }

  /** SQL fragment (Spark dialect): the m-th subspace's cell code for the
    * quantized vector column `vcol` — sign bits of SubDims-dim integer
    * plane dots, all inside whole-stage codegen via the native dot_i64. */
  private def codeExpr(m: Int, vcol: String = "q"): Column =
    (0 until PlanesPerSub).map { i =>
      val lits = SubPlanes(m)(i).map(v => s"${v}L").mkString(",")
      when(expr(
        s"dot_i64(slice($vcol, ${m * SubDims + 1}, $SubDims), array($lits)) >= 0"),
        1 << i).otherwise(0)
    }.reduce(_ + _)

  /** `array<int>` of the M cell codes for column `q` — the stored PQ
    * code of a vector (M bytes at production layout). */
  def codesCol: Column = codesColOf("q")

  /** [[codesCol]] over an arbitrary vector column — the residual-coded
    * index stores the ORIGINAL vector in `q` and codes the residual
    * held in another column. */
  def codesColOf(vcol: String): Column =
    array((0 until M).map(m => codeExpr(m, vcol).cast("int")): _*)

  /** One row per (vector, subspace): `(vec_id, m, code, sv, nsv)` —
    * the exploded view codebook training and the oracle's ADC join both
    * run over. */
  def cellRows(e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    e.select(col("vec_id"), explode(array((0 until M).map(m =>
        struct(lit(m).as("m"), codeExpr(m).cast("int").as("code"),
          slice(col("q"), m * SubDims + 1, SubDims).as("sv"))): _*)).as("c"))
      .select(col("vec_id"), col("c.m").as("m"), col("c.code").as("code"),
        col("c.sv").as("sv"))
      .withColumn("nsv", expr("dot_i64(sv, sv)"))
  }

  /** Trained codebook, dense [m][code]: entry subvectors (zero-filled
    * for cells no training vector landed in — such codes can never be
    * emitted by [[codesCol]] on the same corpus, so the filler is never
    * read) and each entry's squared norm. */
  final case class Codebook(
      ent: Array[Array[Array[Long]]],
      entNsq: Array[Array[Long]])

  /** Train on the (fixed) snapshot: group subvectors by (m, cell), take
    * each cell's exact medoid-under-cosine-to-the-sum (ties lowest
    * vec_id). Emits `(m, code, ent, ent_nsq)` — materializable as an
    * engine Table model (the frozen-quantizer contract, like
    * `ivf_centroids`).
    *
    * Shape (r21): pass 1 aggregates the ≤ M·256-row cell-sum table
    * (one tiny exchange); pass 2 re-streams the cells through a
    * BROADCAST join of that table and reduces each cell to its medoid
    * with ONE partial-aggregating `max_by` — at most M·256 rows per
    * task cross the second exchange. The previous join + row_number
    * window paid two sorts and shuffled EVERY cell row (the whole
    * training corpus ×M) into the window exchange; max_by over
    * `struct(cos, -vec_id)` is the identical (cos DESC, vec_id ASC)
    * medoid — Spark's struct max uses the same NaN-greatest double
    * ordering as the window sort, and the vec_id negation flips the tie
    * to lowest-id — with map-side partial merge instead of a sort. */
  def entriesDf(e: DataFrame): DataFrame = {
    val (df, _) = entriesDfAndCells(e)
    df
  }

  /** [[entriesDf]] plus the persisted cell-stream handle, for callers
    * that can release it after their consuming action ([[train]]). */
  private def entriesDfAndCells(e: DataFrame): (DataFrame, DataFrame) = {
    // The cell stream feeds BOTH passes below, so persist it
    // (MEMORY_AND_DISK — same rationale as DedupQueries.quantizedWithNorm:
    // recompute-from-lineage on block loss, spill not evict): unpersisted,
    // the whole upstream — the training scan, the quantize/residual
    // projections and the 64-plane-sign code assignment — runs once under
    // the cell-sum aggregate and AGAIN as the join's stream side, i.e.
    // two full passes over the training snapshot per codebook training.
    // The snapshot is training-sample-sized by the frozen-quantizer
    // contract, so the cached footprint is bounded by design. Lifetime:
    // build-scoped, so an engine build (the pq_codebook write is the
    // last consumer) unpersists it at build end; [[train]] unpersists
    // directly after its collect; other callers fall back to
    // ContextCleaner reclamation as before.
    val cells = graft.engine.Resolver(e.sparkSession).persistForBuild(cellRows(e))
    val bsum = cells.groupBy(col("m"), col("code"))
      .agg(array((1 to SubDims).map(j => sum(element_at(col("sv"), j))): _*).as("ssum"))
      .withColumn("nssum", expr("dot_i64(ssum, ssum)"))
    val cos = expr("dot_i64(sv, ssum)") /
      sqrt(col("nsv").cast("double") * col("nssum").cast("double"))
    (cells.join(broadcast(bsum), Seq("m", "code"))
      .groupBy(col("m"), col("code"))
      .agg(max_by(struct(col("sv"), col("nsv")),
        struct(cos.as("cos"), (-col("vec_id")).as("negid"))).as("med"))
      .select(col("m"), col("code"),
        col("med.sv").as("ent"), col("med.nsv").as("ent_nsq")), cells)
  }

  /** Collect a trained `(m, code, ent, ent_nsq)` table into the dense
    * driver-side [[Codebook]] (≤ M×256 entries ≈ 128 KB — the
    * broadcast-state contract), memoized as an artifact of a
    * [[graft.engine.Resolver]]-served frame. */
  def collectCodebook(entries: DataFrame): Codebook = {
    val s = entries.sparkSession
    import s.implicits._
    graft.engine.Resolver(s).artifact(entries, "codebook") {
      val ent = Array.fill(M, CodebookSize)(Array.fill(SubDims)(0L))
      val nsq = Array.fill(M, CodebookSize)(0L)
      entries.select(col("m"), col("code"), col("ent"), col("ent_nsq"))
        .as[(Int, Int, Array[Long], Long)].collect().foreach {
          case (m, c, sv, nsv) => ent(m)(c) = sv; nsq(m)(c) = nsv
        }
      Codebook(ent, nsq)
    }
  }

  /** [[entriesDf]] + [[collectCodebook]] in one step; the cell-stream
    * persist is released right after the collect (its last consumer
    * here — recompute-from-lineage keeps a late reader correct). */
  def train(e: DataFrame): Codebook = {
    val (df, cells) = entriesDfAndCells(e)
    try collectCodebook(df)
    finally { try { cells.unpersist(false); () } catch { case _: Throwable => () } }
  }

  /** PQ-reconstructed squared norm of a coded vector: Σ_m |ent_m|² —
    * an integer, M table lookups per candidate against the broadcast
    * codebook-norm literal (subspaces are orthogonal, so the
    * reconstruction's norm is the sum of entry norms). */
  def npqCol(cb: Codebook): Column = {
    val tab = typedLit(cb.entNsq.map(_.toSeq).toSeq)
    (0 until M).map(m =>
      element_at(element_at(tab, m + 1), element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
  }

  /** The full codebook entries as a literal (M×256×SubDims longs ≈
    * 128 KB — same broadcast budget as [[npqCol]]'s norm table), for
    * reconstruction arithmetic in expressions. */
  def entriesLit(cb: Codebook): Column =
    typedLit(cb.ent.map(_.map(_.toSeq).toSeq).toSeq)

  /** RESIDUAL-coded reconstructed squared norm: |m_c + r̂|² for a row
    * carrying `codes` (PQ codes of the residual v − m_c) and `mc` (its
    * cluster's integer mean vector) — the norm IVFADC's ADC cosine
    * denominator needs. Subspaces partition the dims, so the norm
    * decomposes per subspace: Σ_m |mc_sub + ent|², each term an exact
    * integer dot over an 8-element zip — scan-local lookups + adds
    * against the 128 KB entries literal, zero per-candidate vector
    * reads. */
  def npqResidualCol(cb: Codebook): Column = {
    val tab = entriesLit(cb)
    (0 until M).map { m =>
      val ent = element_at(element_at(tab, m + 1),
        element_at(col("codes"), m + 1) + 1)
      val sub = zip_with(
        slice(col("mc"), m * SubDims + 1, SubDims), ent, (a, b) => a + b)
      call_function("dot_i64", sub, sub)
    }.reduce(_ + _)
  }

  /** The query's ADC lookup table: adc(m)(code) = exact integer
    * `dot(q_sub_m, ent[m][code])` — M×256 longs precomputed ONCE per
    * query, after which scoring a candidate is M lookups + adds. */
  def adcTable(q: Array[Long], cb: Codebook): Seq[Seq[Long]] =
    (0 until M).map { m =>
      (0 until CodebookSize).map { c =>
        val ent = cb.ent(m)(c)
        var d = 0L
        var j = 0
        while (j < SubDims) { d += q(m * SubDims + j) * ent(j); j += 1 }
        d
      }
    }

  /** ADC score numerator for a candidate row carrying `codes`, against
    * a query row carrying its `adc` table column: Σ_m adc[m][codes[m]]
    * — integer table lookups, zero per-candidate vector arithmetic. */
  def adcDotCol: Column =
    (0 until M).map(m =>
      element_at(element_at(col("adc"), m + 1), element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)

  /** SCAN-LOCAL probe preparation for a PQ/IVFADC read: rank each
    * `(vec_id, q, nsq)` query row's top-`nprobe` coarse clusters AND
    * build its ADC lookup table INSIDE the query's scan task, against
    * the broadcast frozen centroids + codebook — no driver collect, so
    * the form composes with a continuous micro-batch loop (the same
    * move [[graft.similarity.CentroidAssign.kernelTopN]] made for
    * cluster RANKING in the raw-vector path; this completes it for ADC
    * SCORING, which [[graft.similarity.IncrementalIvfIndex]]'s ad-hoc
    * probes still do driver-side per their driver-sized-query-batch
    * contract).
    *
    * Emits `(vec_id, probes, qms, adc, q, nsq)`: `probes` = the
    * top-`nprobe` cluster labels by (cos DESC, label ASC) — identical
    * insertion-order math to kernelTopN, so position 0 is exactly
    * [[graft.similarity.CentroidAssign.kernel]]'s argmax and the whole
    * list is bit-equal to the driver-side ranking the oracle-checked
    * ad-hoc probes use; `qms(i)` = the IVFADC numerator term
    * `dot(q, m_probes(i))` against `means` (all-zero when `means` is
    * empty — the non-residual layout, whose codes quantize raw
    * vectors); `adc` = the M×256 integer lookup table of
    * [[adcTable]]. Everything integer-exact; per-row cost is
    * k·Dims + M·256·SubDims multiplies, independent of corpus size. */
  def adcProbeKernel(
      vecs: DataFrame,
      cents: Array[(Int, Array[Long], Long)],
      cb: Codebook,
      means: Map[Int, Array[Long]],
      nprobe: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast((cents, cb, means))
    vecs.selectExpr("vec_id", "q", "nsq")
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val (cs, book, ms) = bc.value
        val take = math.min(nprobe, cs.length)
        it.map { case (id, q, nsq) =>
          // top-`take` clusters by (cos DESC, label ASC): strictly-
          // greater moves up, ascending-label scan keeps ties in label
          // order — kernelTopN's exact contract
          val selCos = new Array[Double](take)
          val selL = new Array[Int](take)
          var filled = 0
          var j = 0
          while (j < cs.length) {
            val (l, c, ncsq) = cs(j)
            var dot = 0L
            var i = 0
            while (i < q.length) { dot += q(i) * c(i); i += 1 }
            val cos = dot / math.sqrt(nsq.toDouble * ncsq.toDouble)
            var slot = filled
            while (slot > 0 && java.lang.Double.compare(cos, selCos(slot - 1)) > 0) slot -= 1
            if (slot < take) {
              val last = math.min(filled, take - 1)
              var m = last
              while (m > slot) {
                selCos(m) = selCos(m - 1); selL(m) = selL(m - 1); m -= 1
              }
              selCos(slot) = cos
              selL(slot) = l
              if (filled < take) filled += 1
            }
            j += 1
          }
          val probes = selL.take(filled)
          val qms = probes.map { pc =>
            ms.get(pc).fold(0L) { mc =>
              var d = 0L
              var i = 0
              while (i < q.length) { d += q(i) * mc(i); i += 1 }
              d
            }
          }
          val adc = (0 until M).map { m =>
            (0 until CodebookSize).map { c =>
              val ent = book.ent(m)(c)
              var d = 0L
              var j2 = 0
              while (j2 < SubDims) { d += q(m * SubDims + j2) * ent(j2); j2 += 1 }
              d
            }
          }
          (id, probes.toSeq, qms.toSeq, adc, q, nsq)
        }
      }.toDF("vec_id", "probes", "qms", "adc", "q", "nsq")
  }
}
