package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data curation operators a 100 TB pretraining pipeline runs
  * between dedup and shard writing (builder brief — these generalize the
  * reference's quality-gate idea, `models/staging/schema.yml` tests, to
  * corpus curation):
  *
  *  - '''Decontamination''': flag training documents that share any
  *    word n-gram with an evaluation/benchmark set (the standard
  *    n-gram-overlap protocol). The eval side of the join is tiny
  *    (benchmarks are MBs, the corpus is TBs), so the right 100 TB plan
  *    broadcasts the eval gram set and the corpus side stays scan-local
  *    until the per-doc count aggregation; nothing here forces a hint —
  *    AQE picks broadcast from actual sizes.
  *  - '''Shard packing''': assign documents to fixed-token-budget
  *    training shards by global running token offset. The global prefix
  *    sum is the classic non-distributable window; it is computed in two
  *    phases — per-bucket totals (one small agg), a prefix sum over the
  *    bucket-totals table (1/64th the rows; apply the same split again
  *    at extreme scale), then a per-bucket window with the bucket offset
  *    joined back (broadcast-sized). No single-partition window ever
  *    sees document-grain rows.
  *  - '''Mix sampling''': deterministic stratified downsampling by
  *    source weight (upweight low-resource languages). Keep decisions
  *    hash the stable doc id with md5 and compare the first 4 hex chars
  *    against a per-stratum threshold string — lexicographic compare of
  *    lowercase hex equals numeric compare, so the same rows survive in
  *    any engine with md5, with zero hex→int conversion. Scan-local,
  *    zero shuffles, trivially reproducible (the keep set is a pure
  *    function of doc_id).
  *  - '''Quantile quality gate''': keep documents above a per-language
  *    quantile of a quality metric (here integer lexical diversity —
  *    exact in both engines). Exact ranking costs one shuffle + sort per
  *    stratum; at corpus scale the approx_percentile sketch (SURVEY
  *    §7.4) computes the threshold instead and the gate becomes a
  *    scan-local filter — both shapes are library functions here.
  */
object PipelineQueries {

  /** Word n-grams as `(id, ng)` rows, distinct per document. Documents
    * shorter than `n` tokens emit nothing (they cannot carry an n-gram
    * match). Scan-local: split/slice/join are per-row expressions. */
  def ngrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = split(col(textCol), " ")
    docs
      .select(col(idCol), t.as("t"))
      .filter(size(col("t")) >= n)
      .select(col(idCol), explode(array_distinct(
        transform(sequence(lit(0), size(col("t")) - n),
          i => array_join(slice(col("t"), i + 1, lit(n)), " ")))).as("ng"))
  }

  /** N-gram-overlap decontamination: training docs sharing ≥1 `n`-gram
    * with the eval set, with match counts (how many distinct n-grams,
    * how many distinct eval docs). Join stays hint-free: the eval gram
    * set is benchmark-sized, AQE broadcasts it.
    *
    * Unlike [[repeatedNgrams]], grams here stay strings: under the
    * broadcast plan the corpus-side grams never shuffle (they probe the
    * broadcast eval map scan-locally and only matches — a sliver —
    * reach the aggregation), so hashing them to 64-bit keys would buy
    * nothing and cost exactness of the match counts. */
  def decontaminate(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val tg = ngrams(train, idCol, textCol, n)
    val eg = ngrams(eval, idCol, textCol, n)
      .select(col(idCol).as("eval_id"), col("ng"))
    tg.join(eg, Seq("ng"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("ng")).as("matched_ngrams"),
        countDistinct(col("eval_id")).as("eval_docs"))
  }

  /** Fixed-token-budget shard assignment: a document lands in the shard
    * where its global running token offset starts (deterministic
    * sequential packing — the distributed equivalent of concatenate-
    * and-chunk with document alignment). Two-phase prefix sum as
    * described in the object doc; `bucketWidth` trades bucket-table size
    * against per-bucket window width. */
  def shardPack(docs: DataFrame, idCol: String, tokens: Column,
      budget: Long, bucketWidth: Long = 64): DataFrame = {
    val d = docs.select(col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"$idCol div $bucketWidth"))
    // bucket-totals table: 1/bucketWidth the rows; its prefix-sum window
    // is single-partition over THAT table only (recurse for more depth)
    val boff = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("boff"))
    val wi = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    d.join(boff, Seq("bucket")) // bucket offsets are broadcast-sized
      .withColumn("cum", col("boff") + sum(col("n_tokens")).over(wi))
      .select(col(idCol), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("shard_id"))
  }

  /** Fixed-context SEQUENCE PACKING map (the GPT-style "concatenate the
    * corpus and cut every `ctx` tokens" training-batch prep, with
    * boundary SPLITS — unlike [[shardPack]], a document straddling a
    * cut contributes a row per sequence it touches, with the token span
    * each sequence takes): for every (doc, seq) pair, `tok_from..tok_to`
    * (1-based, inclusive) is the slice of the doc that lands in that
    * sequence. Global token offsets come from the same two-phase prefix
    * sum as shardPack (range buckets → per-bucket window → ≤|buckets|
    * offset rows broadcast back) — never a single-task global window;
    * the span explode is scan-local and fans out ≤ n/ctx + 1 rows per
    * doc. */
  def sequencePack(docs: DataFrame, idCol: String, tokens: Column,
      ctx: Long, bucketWidth: Long = 64): DataFrame =
    packSpans(packOffsets(docs, idCol, tokens, bucketWidth), idCol, ctx)

  /** The packing-map STATE: each doc's global token offset
    * (`start`, plus `end_tok = start + n_tokens` so an incremental
    * maintainer reads its base as a footer-stats max) via the two-phase
    * prefix sum. This is the table a 100 TB pipeline PERSISTS — spans
    * re-derive from it scan-locally for any context length. */
  def packOffsets(docs: DataFrame, idCol: String, tokens: Column,
      bucketWidth: Long = 64): DataFrame = {
    val d = docs.select(col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"$idCol div $bucketWidth"))
    val boff = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("boff"))
    val wi = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    d.join(boff, Seq("bucket")) // bucket offsets are broadcast-sized
      .withColumn("start",
        col("boff") + sum(col("n_tokens")).over(wi) - col("n_tokens"))
      .select(col(idCol), col("n_tokens"), col("start"),
        (col("start") + col("n_tokens")).as("end_tok"))
  }

  /** Scan-local span derivation from a packing-offset state: ≤ n/ctx+1
    * rows per doc, zero exchanges. Zero-token docs (possible once
    * counts come from a real tokenizer rather than whitespace) occupy
    * no sequence and emit no span — also guards Spark's descending
    * `sequence(a, b)` when b < a. */
  def packSpans(offsets: DataFrame, idCol: String, ctx: Long): DataFrame =
    offsets
      .filter(col("n_tokens") >= 1L)
      .withColumn("seq_id", explode(expr(
        s"sequence(start div $ctx, (start + n_tokens - 1) div $ctx)")))
      .select(col(idCol), col("seq_id"),
        (greatest(col("seq_id") * ctx - col("start"), lit(0L)) + 1L)
          .cast("int").as("tok_from"),
        least((col("seq_id") + 1L) * ctx - col("start"), col("n_tokens"))
          .cast("int").as("tok_to"))

  /** 4-hex-char keep threshold for a sampling rate: floor(rate·16^4) as
    * a zero-padded lowercase hex string; `hkey < threshold` keeps ~rate
    * of uniformly-hashed rows. Inlined verbatim into oracle SQL (the
    * deterministic-constants trick SimilarityQueries uses for its LSH
    * hyperplanes). */
  def rateThreshold(rate: Double): String =
    f"${math.min((rate * 65536).toLong, 65535L)}%04x"

  /** Deterministic stratified sampling: per-stratum rates, md5-keyed.
    * Strata absent from `rates` are kept whole. */
  def mixSample(docs: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame = {
    val hkey = substring(md5(col(idCol).cast("string")), 1, 4)
    val keep = rates.foldLeft(when(lit(false), lit(true))) {
      case (acc, (stratum, rate)) =>
        acc.when(col(stratumCol) === stratum, hkey < lit(rateThreshold(rate)))
    }.otherwise(lit(true))
    docs.withColumn("hkey", hkey).filter(keep)
  }

  /** Temperature-based mixture sampling (α = 0.5): target stratum share
    * ∝ n_s^α, realized as per-stratum keep rate r_s = sqrt(n_min/n_s) —
    * the smallest stratum is kept (almost) whole, larger strata are
    * downsampled toward balance. Unlike [[mixSample]], the rates are
    * DERIVED FROM THE DATA: the float chain (sqrt, divide, multiply,
    * floor) uses only correctly-rounded IEEE-754 ops evaluated in the
    * same order as the oracle SQL, so the 4-hex keep threshold is
    * bit-identical across engines. (`rate·65536` saturates at 65535 the
    * same way [[rateThreshold]] does, so a rate-1.0 stratum sheds its
    * `hkey = 'ffff'` 1/65536.) Scale: one stratum-count aggregate, a
    * 1-row global min, a k-row broadcast join — the per-row keep
    * decision is scan-local. */
  def mixTemperature(docs: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_s"))
    val thr = counts.crossJoin(counts.agg(min(col("n_s")).as("n_min")))
      .withColumn("thr", format_string("%04x",
        least(floor(sqrt(col("n_min").cast("double")) /
          sqrt(col("n_s").cast("double")) * 65536), lit(65535L)).cast("int")))
      .select(col(stratumCol), col("thr"))
    val hkey = substring(md5(col(idCol).cast("string")), 1, 4)
    docs.join(broadcast(thr), Seq(stratumCol))
      .withColumn("hkey", hkey)
      .filter(col("hkey") < col("thr"))
  }

  /** Fractional-epoch UPSAMPLING toward balance (α = 0.5) — the mirror
    * of [[mixTemperature]]'s downsampling, and how trainers actually
    * realize domain weights > 1: epochs_s = min(sqrt(n_max/n_s), cap),
    * each row replicated ⌊epochs⌋ times plus one extra md5-Bernoulli
    * copy with p = frac(epochs) (so the EXPECTED replication equals the
    * fractional epoch count exactly — "fractional epochs" à la Chinchilla
    * /LLaMA data recipes). The float chain (sqrt, divide, floor, ×65536)
    * runs the same correctly-rounded IEEE ops in the same order as the
    * oracle SQL, so base counts and the 4-hex threshold are
    * bit-identical across engines. Scale: k-row epochs table broadcast;
    * the per-row copy count is scan-local and the explode multiplies
    * rows by at most `cap` — no shuffle beyond the stratum count agg. */
  def mixEpochs(docs: DataFrame, idCol: String, stratumCol: String,
      cap: Double = 4.0): DataFrame = {
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_s"))
    val ep = counts.crossJoin(counts.agg(max(col("n_s")).as("n_max")))
      .withColumn("epochs", least(
        sqrt(col("n_max").cast("double") / col("n_s").cast("double")), lit(cap)))
      .withColumn("base", floor(col("epochs")).cast("int"))
      .withColumn("thr", format_string("%04x",
        least(floor((col("epochs") - floor(col("epochs"))) * 65536),
          lit(65535L)).cast("int")))
      .select(col(stratumCol), col("base"), col("thr"))
    val hkey = substring(md5(col(idCol).cast("string")), 1, 4)
    docs.join(broadcast(ep), Seq(stratumCol))
      .withColumn("n_copies",
        (col("base") + when(hkey < col("thr"), 1).otherwise(0)).cast("int"))
      .withColumn("copy", explode(expr("sequence(1, n_copies)")))
  }

  /** Deterministic FIXED-SIZE per-stratum sample: the k rows with the
    * smallest md5 keys in each stratum — bottom-k-by-hash, the
    * order-statistics dual of [[mixSample]]'s rate threshold (and the
    * same theory MinHash rests on: the k smallest of N uniform hashes
    * are a uniform k-subset). This is how a pipeline pins a
    * FIXED-BUDGET eval/holdout set per language that is stable under
    * corpus growth order and layout. Plan: the rank-≤-k predicate
    * compiles to WindowGroupLimit, so each task keeps only its k best
    * rows per stratum before the stratum exchange — never a full sort
    * of the corpus. */
  def sampleFixedK(docs: DataFrame, idCol: String, stratumCol: String,
      k: Int): DataFrame = {
    val hkey = substring(md5(col(idCol).cast("string")), 1, 8)
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("hkey"), col(idCol))
    docs.withColumn("hkey", hkey)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Embedding-coverage audit: per stratum, how much of the document
    * corpus actually has an embedding row (and whether orphan vectors
    * exist) — the referential-integrity check a multi-table training
    * pipeline runs before any similarity-based stage (a silently
    * partial embedding table poisons dedup/decontamination downstream;
    * this is the reference's `relationships` test generalized to the
    * doc↔vector pair). One broadcast-or-shuffle equi-join + one
    * stratum aggregate; `n_orphan_vectors` rides the same pass via a
    * full-outer join, costing nothing extra at the aggregate grain. */
  def embeddingCoverage(docs: DataFrame, vecs: DataFrame, idCol: String,
      vecIdCol: String, stratumCol: String): DataFrame =
    docs.select(col(idCol), col(stratumCol))
      .join(vecs.select(col(vecIdCol), lit(1).as("has_vec")),
        col(idCol) === col(vecIdCol), "full_outer")
      .groupBy(coalesce(col(stratumCol), lit("_orphan")).as(stratumCol))
      .agg(
        sum(when(col(idCol).isNotNull, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col(idCol).isNotNull && col("has_vec").isNotNull, 1L)
          .otherwise(0L)).as("n_with_embedding"),
        sum(when(col(idCol).isNull, 1L).otherwise(0L)).as("n_orphan_vectors"))
      .withColumn("coverage",
        round(col("n_with_embedding").cast("double") /
          greatest(col("n_docs").cast("double"), lit(1.0)), 4))

  /** Cross-document repetition signal: per document, how many of its
    * distinct word `n`-grams occur in at least one OTHER document — the
    * boilerplate/template detector (headers, licence blocks, scraped
    * nav text) that corpus-curation pipelines threshold on alongside
    * near-dup removal.
    *
    * Shuffle economics, since the output never exposes gram text:
    * grams shuffle as 64-bit xxhash keys (~6× fewer bytes than ~50-byte
    * 8-gram strings; a key collision — ~V²/2⁶⁵ for V distinct grams —
    * merges two gram-frequency rows, the same benign failure class as
    * any hashed-key dedup at corpus scale), and corpus frequency comes
    * from a count window over the gram partition rather than an
    * aggregate-and-join-back — one gram-grain exchange of the corpus
    * instead of two, then one doc-grain exchange for the rollup.
    * Nothing is ever all-pairs. */
  def repeatedNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val g = ngrams(docs, idCol, textCol, n) // distinct per doc by construction
      .select(col(idCol), xxhash64(col("ng")).as("ngh"))
    val ndocs = count(lit(1)).over(Window.partitionBy(col("ngh")))
    val rep = sum(when(col("ndocs") >= 2, 1).otherwise(0))
    g.withColumn("ndocs", ndocs)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        rep.as("n_repeated"),
        round(rep.cast("double") / count(lit(1)), 4).as("repeated_ratio"))
  }

  /** Exact per-stratum quantile gate: keep rows whose percent_rank over
    * `(metric, id)` within the stratum is ≥ q. The `(metric, id)` order
    * is total, so ranks — and the kept set — are deterministic. */
  def quantileFilter(docs: DataFrame, idCol: String, stratumCol: String,
      metric: Column, q: Double): DataFrame = {
    val d = docs.select(col(idCol), col(stratumCol), metric.as("metric"))
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("metric"), col(idCol))
    d.withColumn("pr", percent_rank().over(w)).filter(col("pr") >= q)
  }

  /** Scale-path variant of the quantile gate: the threshold comes from
    * the approx_percentile sketch (partial-aggregable, one small agg)
    * and the gate is a scan-local filter — no per-stratum sort. Not
    * oracle-checked (sketch internals differ across engines); bounds in
    * PipelineSpec. */
  def quantileFilterApprox(docs: DataFrame, idCol: String, stratumCol: String,
      metric: Column, q: Double): DataFrame = {
    val d = docs.select(col(idCol), col(stratumCol), metric.as("metric"))
    val thr = d.groupBy(col(stratumCol))
      .agg(expr(s"approx_percentile(metric, $q, 10000)").as("thr"))
    d.join(broadcast(thr), Seq(stratumCol)).filter(col("metric") >= col("thr"))
      .select(col(idCol), col(stratumCol), col("metric"))
  }

  /** The end-to-end curation decision — the row a production pipeline
    * materializes per document before shard writing: quality score band,
    * classifier score (the CCNet-style learned gate), token-entropy
    * floor (boilerplate/low-information cut), cross-doc repetition
    * ceiling, then deterministic stratified sampling; `keep` is the
    * conjunction. Composes [[TextQueries.qualityScore]],
    * [[qualityClassifier]], [[TextQueries.tokenEntropy]],
    * [[repeatedNgrams]] and the [[mixSample]] hash rule — all doc-grain
    * frames, so the joins shuffle on the id and every signal stays
    * independently testable. Documents too short to carry an n-gram
    * have no repetition evidence: their ratio coalesces to 0 (kept by
    * that stage), matching the oracle's LEFT JOIN. Thresholds compare
    * on ROUNDED values so the cut is engine-portable. */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, rates: Map[String, Double], n: Int,
      minEntropy: Double, maxRepeat: Double): DataFrame = {
    val qual = TextQueries.qualityScore(docs, idCol, textCol)
      .select(col(idCol), col("quality_score"), col("keep").as("q_keep"))
    val clf = qualityClassifier(docs, idCol, textCol)
      .select(col(idCol), col("score").as("clf_score"))
    val ent = TextQueries.tokenEntropy(docs, idCol, textCol)
      .select(col(idCol), col("token_entropy"))
    val rep = repeatedNgrams(docs, idCol, textCol, n)
      .select(col(idCol), col("repeated_ratio"))
    val sampled = mixSample(docs.select(col(idCol), col(stratumCol)),
      idCol, stratumCol, rates)
      .select(col(idCol), lit(true).as("s_keep"))
    docs.select(col(idCol), col(stratumCol),
        substring(md5(col(idCol).cast("string")), 1, 4).as("hkey"))
      .join(qual, Seq(idCol))
      .join(clf, Seq(idCol))
      .join(ent, Seq(idCol))
      .join(rep, Seq(idCol), "left")
      .join(sampled, Seq(idCol), "left")
      .select(col(idCol), col(stratumCol),
        col("quality_score"), col("clf_score"), col("token_entropy"),
        coalesce(col("repeated_ratio"), lit(0.0)).as("repeated_ratio"),
        col("hkey"),
        (col("q_keep") && col("clf_score") > 0 &&
          col("token_entropy") >= minEntropy &&
          coalesce(col("repeated_ratio"), lit(0.0)) <= maxRepeat &&
          coalesce(col("s_keep"), lit(false))).as("keep"))
  }

  /** Best-fit sequence packing: first-fit-decreasing bin packing within
    * salted groups — the padding-minimizing packer training loaders
    * prefer when documents must NOT split across sequence boundaries
    * (complement of [[packSpans]]' concat-and-cut, which splits). Bin
    * ids are (salt, bin) — deterministic: the salt is an md5 slice of
    * the doc id and the in-group FFD order is (n desc, doc_id).
    * Documents longer than `capacity` open a dedicated overflow bin
    * (flagged) rather than being truncated here.
    *
    * Scale shape: FFD is inherently sequential, so exactness is scoped
    * to salted groups — ONE exchange (groupBy salt), then the whole
    * pack runs as an `aggregate` fold over the group's sorted doc array
    * inside the scan. The salt count DERIVES FROM THE CORPUS in-plan
    * (ceil(count/targetGroup) via a broadcast 1-row agg), so groups stay
    * ~targetGroup docs at any scale and the fold's O(group × bins) cost
    * is a constant per group — the r18 anchor measured a FIXED salt
    * count going quadratic (8.9 s at sf0.1) exactly as the scaladoc
    * predicted; the adaptive count is the designed fix, not a tuning.
    * Cross-group padding cost of salting is bounded (each group wastes
    * < capacity tokens in its last bin). The oracle replays the
    * identical fold as a recursive CTE with the same derived count. */
  def packBestFit(docs: DataFrame, idCol: String, textCol: String,
      capacity: Int, targetGroup: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs.select(
      col(idCol).cast("long").as("doc_id"),
      expr(s"cast(md5_bucket16(cast($idCol as string)) as bigint)").as("h16"),
      expr(s"cast(size(split($textCol, ' ')) as bigint)").as("n"))
    base
      .crossJoin(broadcast(base.agg(expr(
        s"cast((count(1) + ${targetGroup - 1}) div $targetGroup as bigint)")
        .as("nsalts"))))
      .select(col("doc_id"), (col("h16") % col("nsalts")).as("salt"), col("n"))
      .groupBy(col("salt"))
      // FFD total order (n desc, doc_id) via struct sort on (-n, doc_id)
      .agg(array_sort(collect_list(
        struct((-col("n")).as("k1"), col("doc_id").as("k2"), col("n")))).as("ds"))
      // the FFD fold itself is the native ffd_pack expression (r21):
      // the previous interpreted aggregate() lambda chain re-built the
      // loads array three times and COPIED the accumulated assignment
      // array once per element (O(group²) allocations, per-lambda
      // interpreted) — it WAS the bench row's cost; ffd_pack is the
      // identical first-fit-decreasing walk (ArrayKernelsSpec pins
      // bin-for-bin equality against the fold) as one compiled loop
      .select(col("salt"), explode(expr(s"ffd_pack(ds, $capacity)")).as("a"))
      .select(col("a.doc_id").as("doc_id"), col("a.n").as("n_tokens"),
        col("salt"), col("a.bin").as("bin"),
        (col("a.n") > capacity).as("overflow"))
  }

  /** Hashed-feature buckets for the linear quality classifier: 16 bits
    * of md5 (the repo's engine-portable hash), so the weight table is
    * 65,536 rows — ~1 MB broadcast, the fastText "hashing trick" bucket
    * count scaled to the fixture. */
  val ClfBuckets = 65536

  /** The classifier's integer-quantized weight vector as a DataFrame —
    * the shape a LEARNED model ships in (weights are data, not code):
    * one row per hash bucket, weight a deterministic Knuth-multiply
    * spread over [-1000, 1000]. A production pipeline would load this
    * table from the training job's output; the query plan is identical
    * (broadcast hash join on bucket). */
  def classifierWeights(s: SparkSession): DataFrame =
    s.range(ClfBuckets).select(
      col("id").as("bucket"),
      ((col("id") * lit(2654435761L)) % 2001 - 1000).as("w"))

  /** CCNet/LLaMA-style classifier quality filter: a fixed linear model
    * over hashed unigram+bigram features (the fastText architecture
    * minus the learned embedding — a dot product of integer-quantized
    * per-bucket weights), thresholded at logistic 0.5 (score > 0), so
    * the decision is EXACT in integers on any engine.
    *
    * Scale shape: feature generation (split + bigram zip) and bucket
    * hashing are scan-local; the 65k-row weight table broadcast-joins
    * onto the exploded feature stream (codegen hash join, no corpus
    * shuffle); the only exchange is the |docs|-row per-doc score
    * aggregation — partial sums already collapse each doc to one row
    * per input partition before the shuffle. At 100 TB the broadcast
    * is ~1 MB and nothing else grows super-linearly. */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = docs.sparkSession
    graft.functions.GraftFunctions.register(s)
    val t = col("t")
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol), split(col(textCol), " ").as("t"))
      .select(col(idCol), explode(concat(t, bigrams)).as("feat"))
      // md5_bucket16 = the native-expression form of
      // conv(substring(md5(feat), 1, 4), 16, 10) — bit-identical,
      // measured 2.5× on this hot path (Md5Bucket16 scaladoc)
      .select(col(idCol),
        expr("md5_bucket16(feat)").cast("long").as("bucket"))
      .join(broadcast(classifierWeights(s)), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("score"))
      .select(col(idCol), col("n_feats"), col("score"),
        (col("score") > 0).as("keep"))
  }

  /** Leakage-guarded train/val split: assign each document a split with
    * `splitCol` (deterministic — e.g. an md5-threshold rule like
    * [[mixSample]]'s), then flag documents with a *near-duplicate on the
    * other side of the split*: the standard eval-contamination guard a
    * training pipeline runs before trusting held-out loss (a val doc
    * whose near-twin was trained on measures memorization, not
    * generalization).
    *
    * Cross-split near-dups reuse the dedup pipeline wholesale:
    * [[DedupQueries]] LSH band candidates → keep only pairs whose
    * members land in different splits → exact bigram-Jaccard verify
    * (≥ 0.1) via the shared typed kernel. Scale shape therefore
    * inherits: candidate generation is bucket-grouped (never all-pairs,
    * degenerate buckets chain-capped), the split filter halves the
    * candidate table before any text is fetched, and the verify join
    * shuffles only candidate pairs against the corpus on doc_id. The
    * final per-doc leak count is one doc-grain aggregation of the
    * (tiny) verified-pair table. Requires `doc_id`/`text` columns like
    * the band builders. */
  def splitLeakage(docs: DataFrame, splitCol: Column): DataFrame = {
    val sp = docs.select(col("doc_id"), splitCol.as("split"))
    val cross = DedupQueries.minhashCandidatesFor(docs)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"))
    val verified = DedupQueries.bigramJaccardPairs(docs, cross)
    val leaks = verified.select(col("doc_a").as("doc_id"))
      .union(verified.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaks"))
    sp.join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_leaks"), lit(0L)).as("n_leaks"),
        (coalesce(col("n_leaks"), lit(0L)) > 0).as("leaky"))
  }

  /** Global keep-first dedup of fixed-width token blocks (the
    * C4/RefinedWeb-style "remove duplicated spans corpus-wide" pass,
    * with non-overlapping `blockTokens`-token blocks standing in for
    * lines/sentences — the testdata corpus has no newline structure).
    * A block survives only at its first occurrence in the corpus's
    * total (doc_id, block_no) order — later copies are dropped from
    * their documents, and each document's cleaned text is rebuilt from
    * its surviving blocks in order.
    *
    * Scale shape: blocking is scan-local (`slice` over the token
    * array); the keep-first decision is one block-grain exchange (a
    * row_number window over the block text — the hashed-key variant of
    * [[repeatedNgrams]] applies verbatim if block strings ever dominate
    * shuffle width, at the cost of oracle-exactness); the rebuild is
    * one doc-grain aggregation with an in-memory sort of that doc's
    * blocks only. Nothing is all-pairs, no driver-side state. */
  def blockDedup(docs: DataFrame, blockTokens: Int): DataFrame = {
    val firstSeen = Window.partitionBy(col("block"))
      .orderBy(col("doc_id"), col("block_no"))
    rebuildCleaned(blocksOf(docs, blockTokens)
      .withColumn("keep", row_number().over(firstSeen) === 1))
  }

  /** Non-overlapping `blockTokens`-token blocks as
    * `(doc_id, block_no, block)` rows — scan-local (`slice` over the
    * token array). Shared by [[blockDedup]] and the incremental
    * block-dedup engine models ([[graft.dedup.IncrementalBlockDedup]]). */
  def blocksOf(docs: DataFrame, blockTokens: Int): DataFrame = {
    val b = lit(blockTokens)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), expr(s"(size(t) + ${blockTokens - 1}) div $blockTokens") - 1),
        j => array_join(slice(col("t"), j * b + 1, b), " "))))
      .toDF("doc_id", "block_no", "block")
  }

  /** Per-document rollup of `(doc_id, block_no, block, keep)` rows into
    * `(doc_id, n_blocks, n_kept, text_clean)`. */
  private[graft] def rebuildCleaned(blocks: DataFrame): DataFrame =
    blocks
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls `when` leaves for dropped blocks;
        // array_sort on (block_no, block) structs restores doc order
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("block_no"), col("block"))))),
          x => x.getField("block")), " ").as("text_clean"))

  // ---------- driver-contract queries over `documents` ----------

  private val NGram = 8
  private val Budget = 512L
  private val CtxLen = 64L // sequence-pack context length (tokens)

  /** One-shot semantic spec for sequence packing — shared by the batch
    * and incremental forms (incremental ≡ one-shot is the claim the
    * driver checks). */
  private val sequencePackOracleSql: String =
    s"""WITH d AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |           FROM documents),
       |c AS (SELECT doc_id, n,
       |             CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS start
       |      FROM d)
       |SELECT doc_id, seq_id,
       |       CAST(greatest(seq_id * $CtxLen - start, 0) + 1 AS INT) AS tok_from,
       |       CAST(least((seq_id + 1) * $CtxLen - start, n) AS INT) AS tok_to
       |FROM c, UNNEST(generate_series(start // $CtxLen,
       |                               (start + n - 1) // $CtxLen)) AS u(seq_id)""".stripMargin
  private val PackCapacity = 128 // best-fit bin capacity (tokens)
  // target docs per salted FFD group: the fold is O(group²)-ish
  // (interpreted HOF + assignment-array copies), so group size is the
  // latency knob — 320 measured 2.6 s vs 625's 6.6 s at sf0.1 with
  // padding unchanged (~3%); the salt count derives as ceil(docs/group)
  private val PackGroup = 320
  private val ValRate = 0.1 // held-out fraction for the leakage-guarded split
  private val BlockTokens = 16 // block width for corpus-wide block dedup
  // en is the dominant stratum in the synthetic corpus; downsample it
  // hard, trim the mid-resource languages, keep zh whole
  private val MixRates = Map("en" -> 0.35, "de" -> 0.8, "es" -> 0.8, "fr" -> 0.8)
  // funnel cuts, set from the measured sf0.01 distributions: entropy
  // ≥ 2.8 trims the repetitive-text quartile, repetition ≤ 0.5 drops
  // documents sharing most 8-grams with the rest of the corpus
  private val MinEntropy = 2.8
  private val MaxRepeat = 0.5

  // integer lexical diversity: distinct-token ratio ×10000, exact in
  // both engines (`div`, not `/` — Spark's Divide widens to double)
  private val diversity: Column = expr(
    "(cast(size(array_distinct(split(text, ' '))) as bigint) * 10000)" +
      " div size(split(text, ' '))")

  /** DuckDB replay of [[qualityClassifier]]'s score: the weight formula
    * inlined per feature (bucket = first 16 md5 bits, weight = the same
    * Knuth-multiply spread the broadcast table carries) — identical
    * integers, so sum/threshold hash-match exactly. */
  private val clfCteSql: String =
    """clf AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |         CAST(sum((('0x' || substr(md5(feat), 1, 4))::BIGINT
      |                   * 2654435761) % 2001 - 1000) AS BIGINT) AS score
      |  FROM (
      |    SELECT doc_id,
      |           unnest(t || CASE WHEN len(t) >= 2 THEN
      |               list_transform(generate_series(1, len(t) - 1),
      |                              i -> t[i] || ' ' || t[i+1])
      |             ELSE []::VARCHAR[] END) AS feat
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      |  GROUP BY 1)""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- n-gram decontamination against an embedded eval set (every
    // 50th document stands in for the benchmark)
    Q.sql(
      "q_pipeline_decontaminate",
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $NGram THEN
         |      list_transform(generate_series(1, len(t) - ${NGram - 1}),
         |                     i -> array_to_string(t[i:i+${NGram - 1}], ' '))
         |    ELSE []::VARCHAR[] END)) AS ng
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
         |SELECT tr.doc_id, count(DISTINCT tr.ng) AS matched_ngrams,
         |       count(DISTINCT ev.doc_id) AS eval_docs
         |FROM g tr JOIN g ev ON tr.ng = ev.ng AND ev.doc_id % 50 = 0
         |WHERE tr.doc_id % 50 <> 0
         |GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", NGram)
    },

    // ---- SEMANTIC decontamination: the embedding-similarity
    // complement of the n-gram protocol above — paraphrased or
    // format-shifted benchmark leakage shares no surface n-grams but
    // sits close in embedding space, so modern pipelines ALSO flag
    // training items whose embedding cosine against any eval-set
    // embedding clears a threshold. Eval side broadcast (benchmarks
    // are MBs), corpus side scan-local through the codegen'd integer
    // dot; the threshold compare is integer-exact (dot²·100 ≥ 9·|c|²·|e|²
    // ⇔ cos ≥ 0.3 for dot > 0 — the q_dedup_embedding_cosine idiom),
    // so both engines flag identical rows. Output = flagged doc + how
    // many eval items it collided with (the triage signal).
    Q.sql(
      "q_pipeline_decontaminate_semantic",
      s"""WITH e AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(x * 100) AS BIGINT)) AS q
         |  FROM embeddings),
         |n AS (SELECT vec_id, q,
         |             list_sum(list_transform(q, x -> x * x)) AS nsq FROM e),
         |pairs AS (
         |  SELECT c.vec_id AS vec_id,
         |         list_sum(list_transform(generate_series(1, len(c.q)),
         |                  i -> c.q[i] * ev.q[i])) AS dot,
         |         c.nsq AS nc, ev.nsq AS ne
         |  FROM n c CROSS JOIN n ev
         |  WHERE ev.vec_id % 50 = 0 AND c.vec_id % 50 <> 0)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits
         |FROM pairs WHERE dot > 0 AND dot * dot * 100 >= 9 * nc * ne
         |GROUP BY vec_id""".stripMargin
    ) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir).select(
        col("vec_id"), DedupQueries.quantize(col("embedding")).as("q"))
        .withColumn("nsq", expr("dot_i64(q, q)"))
      val ev = e.filter(col("vec_id") % 50 === 0)
        .select(col("q").as("eq"), col("nsq").as("ne"))
      e.filter(col("vec_id") % 50 =!= 0)
        .crossJoin(broadcast(ev))
        .withColumn("dot", expr("dot_i64(q, eq)"))
        .filter(col("dot") > 0 &&
          col("dot") * col("dot") * 100 >= col("nsq") * col("ne") * 9)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_eval_hits"))
    },

    // ---- token-budget shard packing (global offsets via the two-phase
    // prefix sum; the oracle's single ORDER BY window is the semantic
    // spec the distributed form must reproduce exactly)
    Q.sql(
      "q_pipeline_shard_pack",
      s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         |           FROM documents)
         |SELECT doc_id, n_tokens,
         |       (CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) - n_tokens)
         |         // $Budget AS shard_id
         |FROM d""".stripMargin
    ) { (s, dir) =>
      shardPack(Tables.documents(s, dir), "doc_id",
        size(split(col("text"), " ")), Budget)
    },

    // ---- fixed-context SEQUENCE packing with boundary splits (the
    // concat-and-cut-every-L training-batch map; shard_pack above is the
    // whole-doc variant). Output = one row per (doc, sequence) pair with
    // the 1-based token span the sequence takes from the doc — the map a
    // loader needs to assemble context windows without re-tokenizing.
    // All-integer arithmetic on both engines (prefix sums, div, min/max)
    // so the comparison is exact at any corpus size; the oracle's single
    // ORDER BY window is the semantic spec the distributed two-phase
    // prefix sum must reproduce exactly.
    Q.sql(
      "q_pipeline_sequence_pack",
      sequencePackOracleSql
    ) { (s, dir) =>
      sequencePack(Tables.documents(s, dir), "doc_id",
        size(split(col("text"), " ")), CtxLen)
    },

    // ---- TOKEN-TRUE sequence packing: the same concat-and-cut map,
    // but over REAL tokenizer token counts — BPE-encode the corpus with
    // the trained merge table (TextQueries.bpeEncode: merges inlined as
    // literals, the count is one scan-local projection), then pack.
    // This is what a loader actually consumes: whitespace counts
    // (q_pipeline_sequence_pack above) mis-size every context window
    // once a real tokenizer is in play. The oracle replays the full
    // chain — 16 training stages, 16 encode replaces, then the single
    // ORDER BY window that specs the distributed two-phase prefix sum.
    Q.sql(
      "q_pipeline_pack_tokens",
      "WITH " + (TextQueries.bpeTrainStages() ++ TextQueries.bpeEncodeStages)
        .mkString(",\n") +
        s""",
           |d AS (SELECT doc_id, CAST(${TextQueries.bpeTokensSql} AS BIGINT) AS n
           |      FROM e${TextQueries.BpeMerges} WHERE ${TextQueries.bpeTokensSql} >= 1),
           |c AS (SELECT doc_id, n,
           |             CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS start
           |      FROM d)
           |SELECT doc_id, seq_id,
           |       CAST(greatest(seq_id * $CtxLen - start, 0) + 1 AS INT) AS tok_from,
           |       CAST(least((seq_id + 1) * $CtxLen - start, n) AS INT) AS tok_to
           |FROM c, UNNEST(generate_series(start // $CtxLen,
           |                               (start + n - 1) // $CtxLen)) AS u(seq_id)""".stripMargin
    ) { (s, dir) =>
      val enc = TextQueries.bpeEncode(Tables.documents(s, dir),
        "doc_id", "text", TextQueries.BpeMerges)
      sequencePack(enc, "doc_id", col("n_tokens"), CtxLen)
    },

    // ---- best-fit packing (FFD within salted groups, no doc splits):
    // the oracle replays the identical deterministic fold as a
    // recursive CTE — bin ids hash-match, not just fill statistics
    Q.sql(
      "q_pipeline_pack_bestfit",
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
         |           % (SELECT (count(*) + ${PackGroup - 1}) // $PackGroup
         |              FROM documents) AS salt,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |o AS (SELECT salt, doc_id, n,
         |        row_number() OVER (PARTITION BY salt ORDER BY n DESC, doc_id) AS rn
         |      FROM d),
         |sz AS (SELECT salt, count(*) AS cnt FROM o GROUP BY 1),
         |pack AS (
         |  SELECT salt, CAST(0 AS BIGINT) AS rn, []::BIGINT[] AS loads,
         |         []::STRUCT(doc_id BIGINT, n BIGINT, bin BIGINT)[] AS asg
         |  FROM sz
         |  UNION ALL
         |  SELECT p.salt, p.rn + 1,
         |    CASE WHEN coalesce(list_position(
         |                list_transform(p.loads, l -> l + o.n <= $PackCapacity), true), 0) = 0
         |         THEN list_append(p.loads, o.n)
         |         ELSE list_concat(list_concat(
         |                p.loads[1:list_position(list_transform(p.loads, l -> l + o.n <= $PackCapacity), true)-1],
         |                [p.loads[list_position(list_transform(p.loads, l -> l + o.n <= $PackCapacity), true)] + o.n]),
         |                p.loads[list_position(list_transform(p.loads, l -> l + o.n <= $PackCapacity), true)+1:]) END,
         |    list_append(p.asg, {'doc_id': o.doc_id, 'n': o.n,
         |      'bin': CAST(coalesce(nullif(list_position(
         |               list_transform(p.loads, l -> l + o.n <= $PackCapacity), true), 0),
         |             len(p.loads) + 1) AS BIGINT)})
         |  FROM pack p JOIN o ON o.salt = p.salt AND o.rn = p.rn + 1),
         |f AS (SELECT p.salt, unnest(p.asg) AS a
         |      FROM pack p JOIN sz USING (salt) WHERE p.rn = sz.cnt)
         |SELECT a.doc_id AS doc_id, a.n AS n_tokens, f.salt AS salt,
         |       a.bin AS bin, a.n > $PackCapacity AS overflow
         |FROM f""".stripMargin
    ) { (s, dir) =>
      packBestFit(Tables.documents(s, dir), "doc_id", "text",
        PackCapacity, PackGroup)
    },

    // ---- INCREMENTAL packing map — the maintained form: at 100 TB the
    // offset table is engine STATE appended per crawl batch (new docs'
    // offsets = prior frontier end_tok + delta-local prefix sum; the
    // base reads as ONE footer-stats max), never a corpus-wide
    // recompute. Docs enter in doc_id order past the HWM, so offsets
    // are append-monotone and two-batch ≡ one-shot bit-exactly — the
    // same oracle checks both. Spans re-derive scan-locally from the
    // state at read time for ANY context length without touching
    // offsets again.
    Q.sql(
      "q_pipeline_sequence_pack_incremental",
      sequencePackOracleSql
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_seqpack")
      var src = docs.filter(col("doc_id") <= mid)
      val e = new graft.engine.Engine(s, wh, Map.empty, Seq(
        graft.engine.Model.incremental("pack_offsets", Seq(),
          graft.engine.Materialization.IncrementalAppend("doc_id")) {
          (_, _, prior) =>
            val base = prior.map(_.agg(max(col("end_tok"))).first())
              .filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
            // doc_id is the model's declared watermark, so the engine's
            // append guard shares this scalar (Incremental.maxRow)
            // — no second footer job; -1 ≡ MinValue for nonneg doc_ids
            val hwm = graft.engine.Incremental.hwm(prior, "doc_id")
            val delta = src.filter(col("doc_id") > hwm)
            packOffsets(delta, "doc_id", col("n_tokens"))
              .select(col("doc_id"), col("n_tokens"),
                (col("start") + base).as("start"),
                (col("end_tok") + base).as("end_tok"))
        }))
      val r0 = e.build(); require(r0.ok, r0.results.mkString("; "))
      src = docs
      val r1 = e.build(); require(r1.ok, r1.results.mkString("; "))
      packSpans(graft.engine.Resolver(s).read(s"$wh/pack_offsets"), "doc_id", CtxLen)
    },

    // ---- cross-document repeated-n-gram coverage (boilerplate signal)
    Q.sql(
      "q_pipeline_repeated_ngrams",
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $NGram THEN
         |      list_transform(generate_series(1, len(t) - ${NGram - 1}),
         |                     i -> array_to_string(t[i:i+${NGram - 1}], ' '))
         |    ELSE []::VARCHAR[] END)) AS ng
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |f AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1)
         |SELECT g.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_ngrams,
         |       CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
         |       round(CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 4) AS repeated_ratio
         |FROM g JOIN f USING (ng)
         |GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      repeatedNgrams(Tables.documents(s, dir), "doc_id", "text", NGram)
    },

    // ---- deterministic stratified mix sampling
    Q.sql(
      "q_pipeline_mix_sample",
      s"""SELECT doc_id, lang, source,
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hkey
         |FROM documents
         |WHERE CASE
         |  WHEN lang = 'en'
         |    THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${rateThreshold(0.35)}'
         |  WHEN lang IN ('de', 'es', 'fr')
         |    THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${rateThreshold(0.8)}'
         |  ELSE true END""".stripMargin
    ) { (s, dir) =>
      mixSample(Tables.documents(s, dir), "doc_id", "lang", MixRates)
        .select(col("doc_id"), col("lang"), col("source"), col("hkey"))
    },

    // ---- temperature-based mixture sampling: rates derived from the
    // observed stratum sizes (α = 0.5), not a hand-written rate map
    Q.sql(
      "q_pipeline_mix_temperature",
      """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
        |m AS (SELECT min(n_s) AS n_min FROM c),
        |t AS (SELECT lang, printf('%04x', CAST(LEAST(floor(
        |         sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_s AS DOUBLE)) * 65536),
        |         65535) AS INT)) AS thr
        |      FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang,
        |       substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS hkey, t.thr
        |FROM documents d JOIN t ON d.lang = t.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < t.thr""".stripMargin
    ) { (s, dir) =>
      mixTemperature(Tables.documents(s, dir), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("hkey"), col("thr"))
    },

    // ---- fractional-epoch upsampling (the weights-greater-than-1 half
    // of mixture realization: small strata repeat toward balance,
    // α = 0.5, capped; expected replication = the fractional epoch
    // count exactly via an md5-Bernoulli extra copy)
    Q.sql(
      "q_pipeline_mix_epochs",
      """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
        |m AS (SELECT max(n_s) AS n_max FROM c),
        |t AS (SELECT lang,
        |        LEAST(sqrt(CAST(n_max AS DOUBLE) / CAST(n_s AS DOUBLE)), 4.0) AS epochs
        |      FROM c CROSS JOIN m),
        |t2 AS (SELECT lang, CAST(floor(epochs) AS INT) AS base,
        |        printf('%04x', CAST(LEAST(floor((epochs - floor(epochs)) * 65536),
        |                                  65535) AS INT)) AS thr
        |       FROM t),
        |r AS (
        |  SELECT d.doc_id, d.lang,
        |         t2.base + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < t2.thr
        |                        THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN t2 ON d.lang = t2.lang)
        |SELECT doc_id, lang, CAST(n_copies AS INT) AS n_copies,
        |       CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy
        |FROM r""".stripMargin
    ) { (s, dir) =>
      mixEpochs(Tables.documents(s, dir), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("n_copies"), col("copy"))
    },

    // ---- deterministic fixed-size per-stratum sample (bottom-k by
    // md5: a uniform k-subset per language, stable under corpus growth
    // order — the fixed-budget holdout/eval-set constructor)
    Q.sql(
      "q_pipeline_sample_fixed_k",
      """SELECT doc_id, lang,
        |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hkey,
        |       CAST(rk AS INT) AS rk
        |FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 25""".stripMargin
    ) { (s, dir) =>
      sampleFixedK(Tables.documents(s, dir), "doc_id", "lang", 25)
        .select(col("doc_id"), col("lang"), col("hkey"), col("rk"))
    },

    // ---- embedding-coverage audit (doc↔vector referential integrity
    // per stratum: missing embeddings starve similarity stages, orphan
    // vectors signal a stale embedding table)
    Q.sql(
      "q_pipeline_embedding_coverage",
      """SELECT coalesce(d.lang, '_orphan') AS lang,
        |       CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_embedding,
        |       CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_vectors,
        |       round(CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / GREATEST(CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |                            AS DOUBLE), 1.0), 4) AS coverage
        |FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      embeddingCoverage(Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "vec_id", "lang")
    },

    // ---- the composed curation decision per document (quality band +
    // entropy floor + repetition ceiling + stratified sample)
    Q.sql(
      "q_pipeline_curation_funnel",
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY 1, 2),
         |ent AS (
         |  SELECT doc_id, round(ln(CAST(sum(c) AS DOUBLE))
         |         - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS token_entropy
         |  FROM tf GROUP BY 1),
         |qf AS (
         |  SELECT doc_id,
         |         len(string_split(text, ' ')) AS n_tok,
         |         len(list_filter(string_split(text, ' '),
         |             t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
         |         len(list_distinct(string_split(text, ' '))) AS n_uniq
         |  FROM documents),
         |qual AS (
         |  SELECT doc_id,
         |         CAST((CASE WHEN n_tok BETWEEN 20 AND 200 THEN 2
         |                    WHEN n_tok >= 10 THEN 1 ELSE 0 END)
         |            + (CASE WHEN n_stop * 100 BETWEEN 2 * n_tok AND 40 * n_tok THEN 2 ELSE 0 END)
         |            + (CASE WHEN n_uniq * 2 > n_tok THEN 1 ELSE 0 END) AS INT) AS quality_score
         |  FROM qf),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $NGram THEN
         |      list_transform(generate_series(1, len(t) - ${NGram - 1}),
         |                     i -> array_to_string(t[i:i+${NGram - 1}], ' '))
         |    ELSE []::VARCHAR[] END)) AS ng
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |fr AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1),
         |rep AS (
         |  SELECT g.doc_id,
         |         round(CAST(sum(CASE WHEN fr.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |               / count(*), 4) AS repeated_ratio
         |  FROM g JOIN fr USING (ng) GROUP BY 1),
         |$clfCteSql
         |SELECT d.doc_id, d.lang, qual.quality_score, clf.score AS clf_score,
         |       ent.token_entropy,
         |       coalesce(rep.repeated_ratio, 0.0) AS repeated_ratio,
         |       substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS hkey,
         |       (qual.quality_score >= 4
         |        AND clf.score > 0
         |        AND ent.token_entropy >= $MinEntropy
         |        AND coalesce(rep.repeated_ratio, 0.0) <= $MaxRepeat
         |        AND CASE
         |          WHEN d.lang = 'en'
         |            THEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < '${rateThreshold(0.35)}'
         |          WHEN d.lang IN ('de', 'es', 'fr')
         |            THEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < '${rateThreshold(0.8)}'
         |          ELSE true END) AS keep
         |FROM documents d
         |JOIN qual USING (doc_id) JOIN clf USING (doc_id) JOIN ent USING (doc_id)
         |LEFT JOIN rep USING (doc_id)""".stripMargin
    ) { (s, dir) =>
      curationFunnel(Tables.documents(s, dir), "doc_id", "text", "lang",
        MixRates, NGram, MinEntropy, MaxRepeat)
    },

    // ---- classifier-based quality filtering (CCNet/LLaMA-style
    // fastText scorer: hashed unigram+bigram features, integer weights
    // broadcast, logistic-0.5 threshold exact in integers)
    Q.sql(
      "q_pipeline_quality_classifier",
      s"""WITH $clfCteSql
         |SELECT doc_id, n_feats, score, score > 0 AS keep FROM clf""".stripMargin
    ) { (s, dir) =>
      qualityClassifier(Tables.documents(s, dir), "doc_id", "text")
    },

    // ---- per-language quality-quantile gate (exact form; the sketch
    // form is quantileFilterApprox, bounds-checked in PipelineSpec)
    Q.sql(
      "q_pipeline_quality_quantile",
      """WITH d AS (SELECT doc_id, lang,
        |    (len(list_distinct(string_split(text, ' '))) * 10000)
        |      // len(string_split(text, ' ')) AS diversity
        |  FROM documents),
        |r AS (SELECT doc_id, lang, diversity,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY diversity, doc_id) AS pr
        |  FROM d)
        |SELECT doc_id, lang, diversity, round(pr, 4) AS pct_rank
        |FROM r WHERE pr >= 0.25""".stripMargin
    ) { (s, dir) =>
      quantileFilter(Tables.documents(s, dir), "doc_id", "lang", diversity, 0.25)
        .select(col("doc_id"), col("lang"), col("metric").as("diversity"),
          round(col("pr"), 4).as("pct_rank"))
    },

    // ---- leakage-guarded train/val split (cross-split near-dup flag
    // through the shared LSH-candidate → bigram-Jaccard pipeline)
    Q.sql(
      "q_pipeline_split_leakage",
      s"""WITH ${DedupQueries.minhashCandSql},
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |                   < '${rateThreshold(ValRate)}'
         |              THEN 'val' ELSE 'train' END AS split
         |  FROM documents),
         |d AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(t) >= 2 THEN
         |             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
         |           ELSE t END) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |x AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN sp a ON c.doc_a = a.doc_id
         |              JOIN sp b ON c.doc_b = b.doc_id
         |  WHERE a.split <> b.split),
         |v AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT x.doc_a, x.doc_b,
         |           len(list_filter(a.sh, g -> list_contains(b.sh, g))) AS inter,
         |           len(a.sh) + len(b.sh) AS sz
         |    FROM x JOIN d a ON x.doc_a = a.doc_id JOIN d b ON x.doc_b = b.doc_id)
         |  WHERE inter * 10 >= (sz - inter)),
         |l AS (
         |  SELECT doc_id, count(*) AS n
         |  FROM (SELECT doc_a AS doc_id FROM v
         |        UNION ALL SELECT doc_b AS doc_id FROM v)
         |  GROUP BY 1)
         |SELECT s.doc_id, s.split,
         |       CAST(coalesce(l.n, 0) AS BIGINT) AS n_leaks,
         |       coalesce(l.n, 0) > 0 AS leaky
         |FROM sp s LEFT JOIN l ON s.doc_id = l.doc_id""".stripMargin
    ) { (s, dir) =>
      splitLeakage(Tables.documents(s, dir),
        when(substring(md5(col("doc_id").cast("string")), 1, 4)
               < lit(rateThreshold(ValRate)), "val").otherwise("train"))
    },

    // ---- corpus-wide keep-first block dedup + document text rebuild
    Q.sql(
      "q_pipeline_block_dedup",
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |bn AS (
         |  SELECT doc_id, t,
         |         unnest(generate_series(0, ((len(t) + ${BlockTokens - 1}) // $BlockTokens) - 1)) AS block_no
         |  FROM tok),
         |b AS (
         |  SELECT doc_id, block_no,
         |         array_to_string(t[block_no * $BlockTokens + 1 : block_no * $BlockTokens + $BlockTokens], ' ') AS block
         |  FROM bn),
         |k AS (
         |  SELECT doc_id, block_no, block,
         |         row_number() OVER (PARTITION BY block ORDER BY doc_id, block_no) = 1 AS keep
         |  FROM b)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_blocks,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(block, ' ' ORDER BY block_no) FILTER (WHERE keep), '') AS text_clean
         |FROM k GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      blockDedup(Tables.documents(s, dir), BlockTokens)
    },

    // ---- incremental block dedup under the same oracle as the batch
    // op: two engine builds (half corpus, then full) accumulate the
    // block_first state, and the rebuilt corpus must hash-match the
    // one-shot batch dedup — the incremental ≡ batch claim checked by
    // the driver, not just the spec
    Q.sql(
      "q_pipeline_block_dedup_incremental",
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |bn AS (
         |  SELECT doc_id, t,
         |         unnest(generate_series(0, ((len(t) + ${BlockTokens - 1}) // $BlockTokens) - 1)) AS block_no
         |  FROM tok),
         |b AS (
         |  SELECT doc_id, block_no,
         |         array_to_string(t[block_no * $BlockTokens + 1 : block_no * $BlockTokens + $BlockTokens], ' ') AS block
         |  FROM bn),
         |k AS (
         |  SELECT doc_id, block_no, block,
         |         row_number() OVER (PARTITION BY block ORDER BY doc_id, block_no) = 1 AS keep
         |  FROM b)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_blocks,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(block, ' ' ORDER BY block_no) FILTER (WHERE keep), '') AS text_clean
         |FROM k GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incblock")
      def build(src: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("documents" -> src),
          graft.dedup.IncrementalBlockDedup.models("documents", BlockTokens)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(docs.filter(col("doc_id") <= mid))
      build(docs)
      graft.dedup.IncrementalBlockDedup.cleanedDocs(
        docs, graft.engine.Resolver(s).read(s"$wh/block_first"), BlockTokens)
    },

    // ---- incremental decontamination as an engine model: two builds
    // accumulate per-doc contamination flags delta-only; the result must
    // hash-match the batch protocol's full-corpus answer (zeros incl.)
    Q.sql(
      "q_pipeline_decontaminate_incremental",
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $NGram THEN
         |      list_transform(generate_series(1, len(t) - ${NGram - 1}),
         |                     i -> array_to_string(t[i:i+${NGram - 1}], ' '))
         |    ELSE []::VARCHAR[] END)) AS ng
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |m AS (
         |  SELECT tr.doc_id, count(DISTINCT tr.ng) AS matched_ngrams,
         |         count(DISTINCT ev.doc_id) AS eval_docs
         |  FROM g tr JOIN g ev ON tr.ng = ev.ng AND ev.doc_id % 50 = 0
         |  WHERE tr.doc_id % 50 <> 0
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       CAST(coalesce(m.matched_ngrams, 0) AS BIGINT) AS matched_ngrams,
         |       CAST(coalesce(m.eval_docs, 0) AS BIGINT) AS eval_docs,
         |       (m.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |WHERE d.doc_id % 50 <> 0""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val b = train.agg(min(col("doc_id")), max(col("doc_id"))).first()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val wh = graft.engine.Scratch.dir("graft_incdecon")
      def build(src: DataFrame): Unit = {
        val rpt = new graft.engine.Engine(s, wh,
          Map("train" -> src, "evalset" -> evalSet),
          graft.dedup.IncrementalDecontam.models("train", "evalset", NGram)).build()
        require(rpt.ok, rpt.results.mkString("; "))
      }
      build(train.filter(col("doc_id") <= mid))
      build(train)
      graft.engine.Resolver(s).read(s"$wh/contam_flags")
    }
  )
}
