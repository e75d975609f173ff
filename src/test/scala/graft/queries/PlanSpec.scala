package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions (SURVEY.md §4, builder brief "explain
  * and iterate"): the scale-critical properties — scan pushdown, column
  * pruning, broadcast dimension joins, map-side partial aggregation,
  * whole-stage codegen — are pinned here so a regression in plan shape
  * fails CI, not just the benchmark.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect() // materialize so AQE finalizes the physical plan
    df.queryExecution.executedPlan.toString
  }

  test("scalar bounds are in-plan broadcast aggs: construction launches zero jobs") {
    // the max-month / global-average scalars ride a crossJoin(broadcast(
    // 1-row agg)) INSIDE the plan — a .first() pre-collect would launch
    // a driver job at DataFrame construction time (measured ~35% slower,
    // BASELINE.md r17 notes). Pin: building these queries runs no job.
    class JobCounter extends org.apache.spark.scheduler.SparkListener {
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.lastOption.map(_.name).getOrElse(""))
        ()
      }
    }
    val counter = new JobCounter
    val qs = Seq("q_fct_subscription_month", "q_fct_account_month_delta",
      "q_mrr_waterfall_delta", "q_scalar_subquery", "q_rag_chunk_retrieval")
    spark.sparkContext.addSparkListener(counter)
    try {
      for (q <- qs) {
        org.apache.spark.graftaccess.SparkListenerAccess.drain(spark.sparkContext)
        counter.sites.clear()
        graft.SparkEntry.queries(q)(spark, dir) // construction only, no action
        org.apache.spark.graftaccess.SparkListenerAccess.drain(spark.sparkContext)
        // parquet footer/schema-inference jobs ("parquet at ...") are
        // per-read session metadata; any OTHER job at construction time
        // is a driver pre-collect (first/collect) — the regression
        import scala.jdk.CollectionConverters._
        val preJobs = counter.sites.asScala.filterNot(_.startsWith("parquet at"))
        assert(preJobs.isEmpty,
          s"$q launched pre-collect job(s) at construction: $preJobs")
      }
    } finally { spark.sparkContext.removeSparkListener(counter); () }
  }

  test("Gopher rules: entirely scan-local (zero exchanges, no join, no window)") {
    // every metric is an array expression over the per-row token array;
    // a corpus-grain exchange here would mean the per-doc n-gram mode
    // accidentally became a groupBy
    val p = plan("q_text_gopher_rules").split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("best-fit packing: ONE salt exchange; the FFD fold runs inside the scan") {
    // groupBy(salt) is the only shuffle — the pack itself is an
    // aggregate() fold over the group's sorted array, never a per-doc
    // iterative job or a driver loop. The only join is the 1-row
    // derived-salt-count broadcast (the in-plan scalar idiom).
    val p = plan("q_pipeline_pack_bestfit").split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Window"), p)
  }

  test("quality classifier: weights broadcast onto the feature stream, ONE doc exchange") {
    // fastText-style scorer: feature gen + bucket hash scan-local, 65k
    // weight table broadcast (codegen hash join — never a corpus
    // shuffle), per-doc score agg is the single exchange
    val p = plan("q_pipeline_quality_classifier").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$p")
  }

  test("semantic decontamination scans against a broadcast eval side (no corpus shuffle)") {
    val p = plan("q_pipeline_decontaminate_semantic")
    // eval embeddings broadcast under the corpus scan: the cross join
    // plans as BroadcastNestedLoopJoin; the only exchange is the final
    // per-doc aggregation — a sort-merge join would mean the CORPUS got
    // shuffled to meet the MB-sized eval set, backwards at 100 TB
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("> 0.07"), p) // discount predicate evaluated at scan
    // pruned read schema: only the 6 referenced columns, not all 11
    assert(!p.contains("l_returnflag"), "column pruning failed: " + p)
  }

  test("dimension joins broadcast (no fact-side shuffle)") {
    val p = plan("q_join_equi_chain")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val p2 = plan("q_join_broadcast_dim")
    assert(p2.contains("BroadcastHashJoin"), p2)
  }

  test("aggregations are partial (map-side combine) + whole-stage codegen") {
    val p = plan("q_agg_rollup")
    assert(p.contains("partial_sum"), p)
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // codegen'd stages print as "*(n) Op"
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p)
  }

  test("months-spine range join broadcasts the tiny side") {
    val p = plan("q_range_join_spine")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semi/anti joins plan as join semi/anti, not materialized distinct") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("account-month fact is two exchanges, no fact join, no window sort") {
    // the month->MRR map formulation: monthly rollup (exchange 1) +
    // per-account map collect (exchange 2); everything downstream is
    // per-row expressions. A regression to the spine-join formulation
    // would show a SortMergeJoin/BroadcastHashJoin and extra exchanges.
    // The only join allowed is the 1-row max-month broadcast bound
    // (BroadcastNestedLoopJoin — the in-plan scalar-subquery idiom).
    // AQE prints Final + Initial plan sections; count the final only
    val p = plan("q_fct_account_month").split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges in:\n$p")
  }

  test("jaccard verify does not FORCE a broadcast of the documents table") {
    // at 100 TB the corpus cannot be broadcast; the verify join must be
    // hint-free so the planner picks from actual sizes. With the
    // auto-broadcast threshold disabled, any Broadcast* join here could
    // only come from a (scale-hostile) hint — assert there is none.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("waterfall delta transitions reuse ONE account_id exchange") {
    // the per-account transition section must be: repartition(account_id)
    // → (account_id, month) hash aggregate → account-partitioned windows,
    // all on the SAME exchange (hash on a subset of the grouping keys
    // clusters the full key). A regression to a bare groupBy(account_id,
    // month) shows up as an exchange on BOTH keys plus a second one on
    // account_id alone for the windows.
    val p = plan("q_mrr_waterfall_delta").split("== Initial Plan ==")(0)
    val exchanges =
      "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(!exchanges.exists(e => e.contains("account_id") && e.contains("month")),
      s"(account_id, month) exchange reappeared:\n$p")
    // account_id exchanges: the transitions repartition + the presence
    // branch's per-account bounds aggregate — exactly two
    val acct = exchanges.count(_.contains("account_id"))
    assert(acct == 2, s"expected 2 account_id exchanges, got $acct in:\n$p")
  }

  test("token entropy is scan-local: ZERO exchanges, per-row kernel") {
    // entropy is a per-document quantity — term counts never leave the
    // row. The r21 kernel form computes it inside the scan task
    // (MapPartitions over (doc_id, text)): no token ever crosses the
    // wire. A regression to any exploded-token formulation shows an
    // Exchange (the old shape paid a corpus-sized doc_id repartition).
    val p = plan("q_text_token_entropy").split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 0, s"expected 0 exchanges, got $exchanges in:\n$p")
    assert(p.contains("MapPartitions"), s"expected the scan-local kernel in:\n$p")
  }

  test("repeated-ngrams is two exchanges, no join, hashed gram keys") {
    // gram frequency comes from a count window over the hashed-gram
    // partition, not an aggregate-and-join-back: one gram-grain exchange
    // (64-bit xxhash keys, not ~50-byte strings) + one doc-grain rollup
    // exchange. A regression to the join formulation shows a Join and a
    // third corpus-sized exchange.
    val p = plan("q_pipeline_repeated_ngrams").split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), p)
    assert(p.contains("xxhash64"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges in:\n$p")
  }

  test("as-of union formulation is a single shuffle on the key") {
    val p = plan("q_asof_join_scd2")
    // no join operator at all — the window carries the state; every
    // exchange is the same user_id partitioning (one per union branch)
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning\\(\\w+".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.endsWith("user_id")), p)
  }

  test("block dedup is two exchanges, no join: block window + doc rollup") {
    // keep-first is a row_number window over the block partition (one
    // block-grain exchange), then one doc-grain rollup exchange. A
    // regression to a first-occurrence aggregate joined back to the
    // blocks would show a Join and a third corpus-sized exchange.
    val p = plan("q_pipeline_block_dedup").split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges in:\n$p")
  }

  test("temperature sampling broadcasts its derived thresholds") {
    // the k-row threshold table joins the corpus via broadcast — the
    // per-row keep decision must stay scan-local (no corpus shuffle)
    val p = plan("q_pipeline_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // at 100 TB the big side of a selective fact-dim join should not be
    // scanned in full: Catalyst's InjectRuntimeFilter builds a bloom
    // filter from the filtered build side and pushes a
    // bloom_filter_might_contain probe into the other side's scan. The
    // size thresholds exist for small-data regimes, so the test lowers
    // the application-side floor to let the sf0.001 plan show the shape
    // a production-size plan gets by default.
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = graft.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = graft.Tables.lineitem(spark, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      // InjectRuntimeFilter: a bloom_filter_agg subquery on the filtered
      // build side feeds a might_contain probe on the big side's scan
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg"), p)
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("ANN brute-force top-k is a partial aggregate, not a |Q|-partition window") {
    // the TopKCos aggregate collapses each partition to ≤k candidates
    // per query BEFORE the exchange; the row_number window it replaced
    // shuffled all N scored candidates into |Q| partitions (worst-case
    // skew at scale)
    val p = plan("q_ann_bruteforce_topk")
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
    assert(!p.contains("row_number"), p)
  }

  test("semantic dedup assignment is scan-local (kernel argmax, no assignment exchange)") {
    // exact assignment runs as a partition-local kernel over broadcast
    // centroids: no crossJoin row explosion, no argmax aggregate, no
    // exchange anywhere in the assignment subtree — the N×k flops happen
    // inside one narrow stage (6.4× the old BNLJ+partial_max_by form at
    // 64× scale). Downstream survivorship still shuffles on cluster only.
    val p = plan("q_dedup_semantic")
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("max_by"), p)
  }

  test("probed semantic assignment is scan-local (probe kernel, no assignment exchange)") {
    // the ANN-assisted variant runs its whole probe (rank √k reps,
    // top-W groups, exact argmax among members) as one partition-local
    // kernel over broadcast structures — no crossJoin, no window, no
    // join, no aggregate anywhere in the assignment subtree. The
    // measured justification for kernel-over-declarative lives in
    // CentroidAssign.probeKernel's scaladoc (76 s vs ~1 s at 64×).
    // (the BroadcastHashJoin that remains in the full plan is the
    // downstream survivorship's keep-join, not part of assignment)
    val p = plan("q_dedup_semantic_probed")
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("max_by"), p)
    assert(!p.contains("row_number"), p)
  }

  test("BM25 top-k is TakeOrdered over pruned postings, never a corpus window") {
    // the global top-k must plan as TakeOrderedAndProject (map-side
    // partial top-k); the only window allowed is the post-limit rnk
    // window over k rows. The term prune must land on the exploded
    // tokens (only query-term postings leave the scan stage), and the
    // per-term df + corpus stats must broadcast.
    val p = plan("q_text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    // exactly one window operator (the k-row rnk), not one over scored
    // corpus rows: it must appear ABOVE the TakeOrdered in the tree
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p)
  }

  test("hybrid RRF fuses two TakeOrdered lists; windows only post-limit") {
    val p = plan("q_hybrid_search_rrf")
    // three TakeOrderedAndProject cuts (lexical list, vector list,
    // fused top-k) — map-side partial top-k everywhere; each rnk
    // window sits ABOVE a TakeOrdered (its input is the k-row list,
    // printed below it in the tree), never over corpus-grain rows
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3, p)
    val lastTake = p.lastIndexOf("TakeOrderedAndProject")
    "Window ".r.findAllMatchIn(p).foreach(m =>
      assert(m.start < lastTake, s"window over un-limited input:\n$p"))
  }

  test("IVF top-k: partial topk_cos reduce, WindowGroupLimit-pushed assignment, broadcast probe side") {
    val p = plan("q_ann_ivf_topk").split("== Initial Plan ==")(0)
    // candidates collapse map-side through the bounded aggregate; the
    // only window is the centroid assignment (rnk = 1 over |C| centroid
    // rows per query, pushed below its exchange as a WindowGroupLimit);
    // the corpus scan joins the broadcast probed-query side, never a
    // sort-merge shuffle of candidates
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("recall eval: both retrieval arms reduce via partial topk_cos") {
    val p = plan("q_ann_recall_eval")
    // exact arm AND ivf arm both collapse candidates map-side via the
    // bounded aggregate; the only row_number window allowed is the
    // centroid ASSIGNMENT (rnk=1 over |C| centroid rows per query,
    // WindowGroupLimit-pushed — same shape q_ann_ivf_topk pins)
    assert("partial_topk_cos".r.findAllIn(p.toLowerCase).size >= 2, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("BPE pair counts: one combined exchange into TakeOrdered, no corpus window") {
    val p = plan("q_text_bpe_pairs")
    // word-count shape: partial count before the exchange (the pair
    // alphabet collapses map-side), global top-k as TakeOrdered, and
    // the only window is the post-limit rnk over k rows
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.toLowerCase.contains("partial_count"), p)
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p)
  }

  test("bigram LM score: scan-local bigrams, top-N via TakeOrdered, no window at all") {
    val p = plan("q_text_lm_score")
    // bigram extraction must be the transform-over-split-array form —
    // no positional self-join of the token table (doc_id-grain joins
    // only happen AFTER aggregation, on count rows)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("IVF retrain: assignment is the scan-local kernel, not a window over N×C") {
    val p = plan("q_ann_ivf_retrain")
    // the reassignment of EVERY corpus vector must run inside the
    // mapPartitions kernel (broadcast centroids, zero exchanges) — a
    // row_number window partitioned by vec_id would shuffle N×C rows
    assert(!p.contains("Window"), p)
    assert(p.contains("SerializeFromObject"), p) // the typed kernel seam
  }

  test("linear interpolation: both neighbor lookups are RUNNING frames, never unbounded-following") {
    // Spark recomputes a CURRENT..UNBOUNDED FOLLOWING aggregate frame
    // from scratch per row (O(n²) per partition — measured 2.7× the
    // query cost); the next-observation columns must stay on the
    // reversed-sort unbounded-PRECEDING running frame
    val p = plan("q_ts_interpolate_linear")
    assert(!p.contains("unboundedfollowing$()"), p)
    assert(p.contains("currentrow$()"), p)
  }

  test("negative mining (hard + semi-hard) reduces via partial topk_cos, never a corpus window") {
    val ph = plan("q_ann_hard_negatives")
    assert(ph.toLowerCase.contains("partial_topk_cos"), ph)
    assert(!ph.contains("row_number"), ph)
    // semi-hard adds only a |Q|-row partial-max bound broadcast back —
    // still no window anywhere over candidate-grain rows
    val ps = plan("q_ann_semi_hard_negatives")
    assert(ps.toLowerCase.contains("partial_topk_cos"), ps)
    assert(ps.toLowerCase.contains("partial_max"), ps)
    assert(!ps.contains("row_number"), ps)
  }

  test("IVF+SQ8 compose: the code shortlist reduces via partial topk_cos, window only post-shortlist") {
    // the probed cluster's code scores must collapse map-side (≤3k
    // candidates per query cross the exchange) — a row_number window
    // over the raw candidate stream would shuffle a hot cluster into
    // one task; the only window allowed is the final TopK rank over
    // the bounded shortlist
    val p = plan("q_ann_ivf_sq8")
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
  }

  test("binary Hamming: BOTH stages are bounded topk_cos partial aggregates, no window") {
    // coarse (−hamming through the aggregate's cos slot: nq=nc=1 makes
    // cos ≡ −hamming exactly) AND the exact re-rank reduce map-side;
    // no candidate ever crosses an exchange unranked
    val p = plan("q_ann_binary_hamming")
    assert("partial_topk_cos".r.findAllIn(p.toLowerCase).size >= 2, p)
    assert(!p.contains("row_number"), p)
  }

  test("kNN graph: per-source edges reduce via partial topk_cos, no corpus window") {
    // every vector is a query, so the window form would shuffle ALL
    // Σ|c|² candidate pairs into N partitions — the aggregate keeps ≤k
    // edges per source per task instead
    val p = plan("q_ann_knn_graph")
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
    assert(!p.contains("row_number"), p)
  }

  test("substring spans: surviving-gram join broadcasts the count side, no corpus sort-merge") {
    // the count≥2 filter shrinks the build side to duplicated grams
    // only (~9% of distinct grams) — it must broadcast back onto the
    // gram stream; a SortMergeJoin here would shuffle every gram
    // occurrence a second time at 100 TB
    val p = plan("q_dedup_substring_spans")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // r17 kernel: the exact recount groups by the K token columns — no
    // gram string is ever materialized anywhere in the spans plan
    assert(!p.contains("array_join"), p)
  }

  test("BPE encode: trained merges inline as literals — scan → project, ZERO exchanges") {
    // training runs eagerly as loop control (16 bounded argmax jobs,
    // the bpeVocab contract); the RETURNED frame must be a pure
    // projection — 16 replaces + token count + md5 over the scan, so
    // the encode pass is embarrassingly parallel at any corpus size
    val p = plan("q_text_bpe_encode")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("BPE decode: roundtrip detokenization stays a pure projection — ZERO exchanges") {
    // decode adds two replaces and an equality over the encode chain;
    // nothing about auditing losslessness may introduce a shuffle
    val p = plan("q_text_bpe_decode")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("BPE incremental encode: persisted-vocab shards union scan-local branches, ZERO exchanges") {
    // each shard tokenizes in its own pass from the reloaded artifact;
    // the union concatenates partitions — no exchange, no join, so the
    // per-shard passes parallelize independently at any corpus size
    val p = plan("q_text_bpe_encode_incremental")
    assert(p.contains("Union"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("token-true packing: two-phase prefix sum over encoded counts, offsets broadcast back") {
    // bucket totals reduce via partial_sum BEFORE their exchange, the
    // global prefix sum windows over ≤|buckets| rows (bounded
    // SinglePartition), offsets return as a BroadcastHashJoin, and the
    // encode replace-chain stays scan-local on BOTH arms — token-true
    // counts add ZERO exchanges over the whitespace-count form
    val p = plan("q_pipeline_pack_tokens").split("== Initial Plan ==")(0)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$p")
  }

  test("CLIP alignment filter: pure projection over the paired scan, ZERO exchanges") {
    // the pair is one row, so the gate must never shuffle the corpus:
    // three codegen'd integer dots + an integer compare, no join, no
    // window, no aggregate
    val p = plan("q_media_clip_filter")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.toLowerCase.contains("dot_i64"), p)
  }

  test("chunk windows: scan-local generators, ZERO exchanges") {
    val p = plan("q_text_chunk_windows")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("MaxSim: candidates stream past the broadcast query bag; rank via partial topk_cos, no window") {
    // scoring must stay scan-local (BNLJ against the broadcast query
    // bag — the inequality join condition rules out a hash join) and
    // the ranking must collapse through the bounded aggregate: a
    // row_number window would shuffle all |Q|·N scored pairs
    val p = plan("q_ann_maxsim_colbert")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
    assert(!p.contains("row_number"), p)
  }

  test("RAG chunk retrieval: query-term weights broadcast onto the chunk-term stream; per-query rank is group-limited") {
    // the ~250-row query-term×idf table must broadcast (a sort-merge
    // here would shuffle every chunk-term row to meet a KB-sized build
    // side) and the per-query top-10 window must be WindowGroupLimit-
    // pushed so each task keeps ≤ k rows before the final rank
    val p = plan("q_rag_chunk_retrieval")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    // r17: both term-set distincts are scan-local array_distinct inside
    // the generators — the LOGICAL plan must carry no Deduplicate node
    // at all (a .distinct() would shuffle every (key, tok) row)
    val df = graft.SparkEntry.queries("q_rag_chunk_retrieval")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Deduplicate"), opt)
    assert(opt.contains("array_distinct"), opt)
  }

  test("Zipf fit: the top-100 rank collapses to TakeOrderedAndProject; window runs over 100 rows") {
    // an empty-partition rank + filter plans as a GLOBAL top-k
    // (per-partition top-100 then merge) — the Window operator numbers
    // only the 100 survivors, never the vocabulary
    val p = plan("q_text_zipf_fit")
    assert(p.contains("TakeOrderedAndProject(limit=100"), p)
  }

  test("Matryoshka: prefix coarse stage is a partial topk_cos; window only over the bounded shortlist") {
    val p = plan("q_ann_matryoshka_rerank")
    // the N-candidate prefix scoring must collapse through the bounded
    // aggregate; the single row_number window ranks the ≤|Q|·3k-row
    // shortlist join, never corpus-grain rows (one `Window [` operator —
    // AQE prints it twice, final + initial plan — and it is
    // WindowGroupLimit-pushed so each task keeps ≤ k rows)
    assert(p.toLowerCase.contains("partial_topk_cos"), p)
    assert("Window \\[".r.findAllIn(p).size <= 2, p)
    assert(p.contains("WindowGroupLimit"), p)
  }
}
