package graft.similarity

import org.apache.spark.sql.DataFrame

/** Shared EXACT nearest-centroid assignment kernel — the one hot loop
  * behind both SemDeDup-style semantic dedup
  * ([[graft.queries.DedupQueries]]) and the incremental IVF index
  * ([[IncrementalIvfIndex]]).
  *
  * Why a typed kernel and not a declarative argmax: the assignment is a
  * dense N×k integer GEMM with an argmax reduction. The declarative
  * forms (broadcast crossJoin + partial `max_by`/max-of-struct) are
  * correct and shuffle only ~N rows, but they MATERIALIZE N×k joined
  * rows through codegen'd projection + hash-aggregate machinery — at the
  * 64× ScaleProbe point (N=128k, k=640, 82M rows) that row machinery is
  * ~6–10× the cost of the arithmetic. The kernel runs the loop directly
  * over a broadcast centroid array: scan-local, zero exchanges, and the
  * measured 64× points dropped from 90.5× (semantic dedup, r10) / 77.9×
  * (IVF assign, r11 pre-kernel) to single-digit ratios (README scaling
  * table). Same measured-kernel-over-expression tradeoff as the MinHash
  * signature and bigram-Jaccard loops.
  *
  * Exactness contract (hash-checked by the DuckDB oracles): cosine is
  * `dot / sqrt(nsq · ncsq)` over exact 64-bit integer dots — identical
  * IEEE double ops to the declarative/SQL forms — and ascending-label
  * iteration with `Double.compare` reproduces `ORDER BY cos DESC,
  * label ASC` tie-breaking bit-for-bit, INCLUDING the degenerate
  * zero-norm case (cos = NaN sorts as the largest double in both Spark
  * and DuckDB — raw `>` would silently sink it last; see TopKCos).
  */
object CentroidAssign {

  /** Collect the k-row centroid table `(label, c, ncsq)` to the driver,
    * sorted by label (the tie order). Centroids are broadcast-sized by
    * contract — the published SemDeDup/IVF configurations keep
    * k ∝ corpus/10⁵ — so this moves the same bytes the declarative plan
    * broadcast; at k = 10⁵, 64 dims it is ~50 MB, the standard broadcast
    * budget. Memoized as an artifact of a [[graft.engine.Resolver]]-served
    * frame: one build resolves `ivf_centroids` to ONE frame per committed
    * generation, and the several nodes that collect it pay one job. */
  def collectCentroids(cent: DataFrame): Array[(Int, Array[Long], Long)] = {
    val s = cent.sparkSession
    import s.implicits._
    graft.engine.Resolver(s).artifact(cent, "centroids")(
      cent.selectExpr("cast(label as int) label", "c", "ncsq")
        .as[(Int, Array[Long], Long)].collect().sortBy(_._1))
  }

  /** PROBED (ANN-assisted, approximate) assignment kernel — the same
    * scan-local shape as [[kernel]], for the two-level probe operator
    * (`q_dedup_semantic_probed`): centroids are grouped by an LSH coarse
    * quantizer (sign bits of integer plane dots — computed HERE on the
    * driver with the same exact integer math the DuckDB oracle uses),
    * each group gets an element-wise integer-sum representative, and each
    * row ranks the ~√k representatives (cos DESC, grp ASC), probes its
    * top-`w` groups and takes the exact argmax (cos DESC, label ASC)
    * among their members. Flops per row: √k + w·√k instead of k; zero
    * exchanges.
    *
    * Why a kernel here too: the declarative forms were measured at the
    * 64× probe point — crossJoin+window ranking shuffles N·√k rows
    * (11.1 s), and even scan-local folded-literal expressions pay ~43 µs/
    * row for the g=32 dot+divide chain plus a 32-struct sort_array per
    * row (76 s for the full pass) against ~1 s for this loop. Same
    * broadcast-size contract as [[kernel]]; the coarse structure is
    * derived from the collected centroids at no extra distributed cost. */
  def probeKernel(
      vecs: DataFrame,
      cents: Array[(Int, Array[Long], Long)],
      planes: Seq[Array[Long]],
      w: Int): DataFrame = {
    val dims = cents.headOption.map(_._2.length).getOrElse(0)
    // group code per centroid: sign bits of exact integer plane dots
    val grpOf: Array[Int] = cents.map { case (_, c, _) =>
      planes.zipWithIndex.map { case (p, i) =>
        var d = 0L
        var j = 0
        while (j < dims) { d += c(j) * p(j); j += 1 }
        if (d >= 0) 1 << i else 0
      }.sum
    }
    val grpIds: Array[Int] = grpOf.distinct.sorted
    val members: Array[Array[Int]] =
      grpIds.map(g => cents.indices.filter(i => grpOf(i) == g).toArray)
    // representative = element-wise integer sum of member centroids
    val reps: Array[(Array[Long], Long)] = grpIds.indices.toArray.map { gi =>
      val rc = new Array[Long](dims)
      members(gi).foreach { ci =>
        val c = cents(ci)._2
        var j = 0
        while (j < dims) { rc(j) += c(j); j += 1 }
      }
      var n = 0L
      var j = 0
      while (j < dims) { n += rc(j) * rc(j); j += 1 }
      (rc, n)
    }
    val s = vecs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast((cents, grpIds, members, reps))
    vecs.selectExpr("vec_id", "q", "nsq")
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val (cs, gids, mem, rps) = bc.value
        val g = gids.length
        val take = math.min(w, g)
        it.map { case (id, q, nsq) =>
          // top-`take` groups by (cos DESC, grp-code ASC) — insertion
          // into a small array reproduces the oracle's row_number order
          val selCos = new Array[Double](take)
          val selGi = new Array[Int](take)
          var filled = 0
          var gi = 0
          while (gi < g) {
            val (rc, nrsq) = rps(gi)
            var dot = 0L
            var i = 0
            while (i < q.length) { dot += q(i) * rc(i); i += 1 }
            val cos = dot / math.sqrt(nsq.toDouble * nrsq.toDouble)
            // find insertion slot (ascending gi scan keeps grp ASC ties)
            var slot = filled
            while (slot > 0 && java.lang.Double.compare(cos, selCos(slot - 1)) > 0) slot -= 1
            if (slot < take) {
              val last = math.min(filled, take - 1)
              var m = last
              while (m > slot) {
                selCos(m) = selCos(m - 1); selGi(m) = selGi(m - 1); m -= 1
              }
              selCos(slot) = cos
              selGi(slot) = gi
              if (filled < take) filled += 1
            }
            gi += 1
          }
          // exact argmax among the probed groups' members
          var bestL = -1
          var bestCos = Double.NegativeInfinity
          var si = 0
          while (si < filled) {
            val ms = mem(selGi(si))
            var mi = 0
            while (mi < ms.length) {
              val (l, c, ncsq) = cs(ms(mi))
              var dot = 0L
              var i = 0
              while (i < q.length) { dot += q(i) * c(i); i += 1 }
              val cos = dot / math.sqrt(nsq.toDouble * ncsq.toDouble)
              val cmp = java.lang.Double.compare(cos, bestCos)
              if (cmp > 0 || (cmp == 0 && l < bestL)) {
                bestCos = cos; bestL = l
              }
              mi += 1
            }
            si += 1
          }
          (id, bestL, bestCos, q, nsq)
        }
      }.toDF("vec_id", "cluster", "cos_c", "q", "nsq")
  }

  /** Rank every `(vec_id, q, nsq)` row's `n` nearest centroids — the
    * scan-local multi-probe ASSIGNMENT: emits `(vec_id, probes, q,
    * nsq)` with `probes` = the top-`n` cluster labels by (cos DESC,
    * label ASC), position 0 being exactly [[kernel]]'s argmax. Same
    * zero-exchange shape and tie/NaN contract as [[kernel]] (ascending-
    * label scan + `Double.compare` insertion reproduces the oracle's
    * `ORDER BY cos DESC, label` rank ≤ n bit-for-bit).
    *
    * This is what lets the STREAMING read side probe nprobe clusters
    * with no driver involvement: [[IncrementalIvfIndex
    * .searchTopKMultiProbe]] derives its probe sets by collecting the
    * query vectors to the driver — fine for an ad-hoc query set, wrong
    * inside a micro-batch loop where queries arrive continuously. The
    * kernel computes each arriving query's probe list inside its scan
    * task against the same broadcast centroids ([[IncrementalIvfIndex
    * .searchTopKFor]] with nprobe > 1, via
    * [[graft.streaming.Streaming.vectorSearchStream]]). */
  def kernelTopN(
      vecs: DataFrame,
      cents: Array[(Int, Array[Long], Long)],
      n: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    vecs.selectExpr("vec_id", "q", "nsq")
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        val take = math.min(n, cs.length)
        it.map { case (id, q, nsq) =>
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
            // insertion slot: strictly-greater moves up, so equal-cos
            // keeps ascending-label order (labels scan ascending)
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
          (id, selL.take(filled).toSeq, q, nsq)
        }
      }.toDF("vec_id", "probes", "q", "nsq")
  }

  /** Assign every `(vec_id, q, nsq)` row to its nearest centroid. Emits
    * `(vec_id, cluster, cos_c, q, nsq)` with `cos_c` = cosine to the
    * assigned centroid. */
  def kernel(
      vecs: DataFrame,
      cents: Array[(Int, Array[Long], Long)]): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    vecs.selectExpr("vec_id", "q", "nsq")
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, q, nsq) =>
          var bestL = -1
          var bestCos = Double.NegativeInfinity
          var j = 0
          while (j < cs.length) {
            val (l, c, ncsq) = cs(j)
            var dot = 0L
            var i = 0
            while (i < q.length) { dot += q(i) * c(i); i += 1 }
            val cos = dot / math.sqrt(nsq.toDouble * ncsq.toDouble)
            if (java.lang.Double.compare(cos, bestCos) > 0) { bestCos = cos; bestL = l }
            j += 1
          }
          (id, bestL, bestCos, q, nsq)
        }
      }.toDF("vec_id", "cluster", "cos_c", "q", "nsq")
  }
}
