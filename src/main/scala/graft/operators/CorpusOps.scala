package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators — the selection/mixing steps of an
  * LLM-training-data pipeline that sit downstream of cleaning (Dedup) and
  * scoring (TextAnalysis): pick the best documents under a token budget,
  * and rebalance the language/source mixture with deterministic sampling.
  * Both are exact-oracle queries (integer arithmetic end to end).
  */
object CorpusOps {

  /** Knuth multiplicative constant (2654435761 = ⌊2³²/φ⌋, Knuth TAOCP
    * vol. 3 §6.4) shared by the deterministic-sampling family
    * (q112/q141/q191) and their oracle replays. */
  private[graft] val KnuthA = 2654435761L

  /** ANSI-safe `(id * KnuthA) mod 2³²` — the deterministic "uniform"
    * behind q112/q141/q191, computed with carry-split 16-bit limbs so it
    * cannot overflow at corpus scale. The naive `id * 2654435761L` throws
    * ARITHMETIC_OVERFLOW under Spark's default ANSI mode once
    * id > Long.MaxValue / KnuthA ≈ 3.47e9 — and a 100 TB corpus at
    * 2–20 KB/doc holds 5e9–5e10 documents, so the naive form crashes at
    * exactly the scale these queries target. Identities used:
    * (x·A) mod 2³² = ((x mod 2³²)·A) mod 2³², and with
    * lo = x mod 2³² = hi16·2¹⁶ + lo16,
    * (lo·A) mod 2³² = (((hi16·A) mod 2¹⁶)·2¹⁶ + lo16·A) mod 2³².
    * Every intermediate stays < 2⁴⁹ ≪ Long.MaxValue. The DuckDB oracle
    * mirror is `SparkEntry.knuthHash32Sql` — keep both in sync. */
  private[graft] def knuthHash32(c: String): Column = expr(
    s"((((($c % 4294967296) div 65536) * $KnuthA) % 65536) * 65536" +
      s" + ($c % 65536) * $KnuthA) % 4294967296")

  /** Greedy corpus selection under a token budget: order documents by
    * (quality_pm DESC, doc_id), accumulate token counts in that order,
    * and select every document whose running total fits the budget (here:
    * half the corpus's tokens, so the query is scale-free).
    *
    * The global running sum is DISTRIBUTED with the same two-pass shape as
    * the CSR prefix sum (GraphOps.adjacencyBuildFrom) and the global
    * ranking (Windows.windowRanking) — an unpartitioned `SUM() OVER` would
    * funnel the whole corpus into one task, which is exactly what this
    * query must not do at 100 TB:
    *
    *   1. value-bucket rows by the leading sort key (fixed-width bins over
    *      the observed quality [min,max]; equal keys share a bucket, so
    *      the within-bucket order extends to the global order);
    *   2. per-bucket token totals (≤ #buckets rows, metadata scale) are
    *      cumulated on the driver into exclusive prefix offsets and
    *      broadcast back;
    *   3. each bucket computes its local running sum in parallel; the
    *      global cumsum = bucket offset + local cumsum.
    */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir).documents.select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality_pm"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    GraftCache.persisted("CorpusOps.score", scored)
    // descending quality ⇒ bucket 0 holds the best documents; the order
    // (quality DESC, doc_id) is unique, so ties may split across buckets
    // — a clamp-saturated corpus cannot concentrate one window task
    val bucketed = GlobalOrder
      .bucketizeForUniqueOrder(scored, col("quality_pm"), desc = true,
        col("doc_id"))
    // pass 1: per-bucket token totals → exclusive cumulative offsets; the
    // grand total fixes the budget (integer half: Spark Long division ≡
    // DuckDB // on positives, engine-order-independent)
    val (bases, totals) = GlobalOrder.exclusiveOffsets(bucketed,
      Seq(sum(col("n_tokens")).as("t")))
    val budget = totals.head / 2
    import spark.implicits._
    val offsets = bases.map { case (b, Seq(t)) => (b, t) }.toDF("bucket", "tok_base")
    // pass 2: local running sums, parallel across buckets
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_pm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("lcum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("quality_pm"), col("n_tokens"),
        (col("tok_base") + col("lcum")).as("cum_tokens"),
        ((col("tok_base") + col("lcum")) <= budget).as("selected"))
      .orderBy(col("doc_id"))
  }

  private val Context = 2048L

  /** Sequence packing — the batch-construction step of LLM training:
    * documents are concatenated in doc_id (arrival) order and split into
    * fixed Context-token windows; each document reports its global start
    * token, the pack (context window) its first token lands in, and the
    * offset inside that pack. The running token sum is the same
    * distributed two-pass prefix as [[tokenBudgetSelect]] ([[GlobalOrder]]),
    * here ordered by doc_id. All arithmetic is integer (`div`/`%`), so
    * the pack index map is exact at any corpus size. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents.select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    packByTokens(spark, toks)
  }

  /** The pack-index map over an arbitrary (doc_id, n_tokens) relation —
    * shared by q113 (whitespace/regex tokens) and q214 (BPE tokens). */
  private def packByTokens(spark: SparkSession, toks: DataFrame): DataFrame = {
    val bucketed = GlobalOrder.bucketizeByValue(toks, col("doc_id"), desc = false)
    val (bases, _) = GlobalOrder.exclusiveOffsets(bucketed,
      Seq(sum(col("n_tokens")).as("t")))
    import spark.implicits._
    val offsets = bases.map { case (b, Seq(t)) => (b, t) }.toDF("bucket", "tok_base")
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("lcum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("start_tok", col("tok_base") + col("lcum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $Context").as("pack_id"),
        (col("start_tok") % lit(Context)).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  /** BPE-budget sequence packing (q214) — q113's pack-index map
    * computed over the TOKENIZER-aware counts (q210's trained BPE
    * encoder): documents concatenate in doc_id order and split into
    * fixed Context-token windows measured in BPE tokens, which is the
    * budget a training-data writer actually packs against (model
    * tokens, not whitespace words — the whitespace map misplaces every
    * boundary by the expansion factor q210 measures). Cost = q210's
    * two corpus passes (training cached per snapshot) + the
    * [[GlobalOrder]] two-pass; nothing new scales with corpus mass. */
  def bpeSequencePack(spark: SparkSession, dir: String): DataFrame = {
    val toks = Bpe.bpeTokenStats(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    packByTokens(spark, toks)
  }

  /** Global quality deciles — binning every document of the corpus into
    * ntile(10) buckets of its quality score: THE canonical global-order
    * operation an LLM pipeline runs over 100 TB of quality scores (keep
    * the top deciles, drop the tail). Naively this is one unpartitioned
    * ntile window = the whole corpus through ONE task; here it is the
    * [[GlobalOrder]] two-pass — per-bucket row numbers in parallel +
    * metadata-scale offsets — and the decile derives arithmetically from
    * the global row number (the SQL-spec ntile formula: the first
    * total%10 tiles get one extra row). */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir).documents.select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality_pm"))
    val bucketed = GlobalOrder
      .bucketizeForUniqueOrder(scored, col("quality_pm"), desc = true,
        col("doc_id"))
    GraftCache.persisted("CorpusOps.decile", bucketed)
    val (bases, totals) = GlobalOrder.exclusiveOffsets(bucketed,
      Seq(count(lit(1)).as("cnt")))
    val total = totals.head
    import spark.implicits._
    val offsets = bases.map { case (b, Seq(c)) => (b, c) }.toDF("bucket", "rn_base")
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_pm").desc, col("doc_id"))
    val rn = col("rn_base") + row_number().over(wLocal)
    bucketed
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("quality_pm"),
        GlobalOrder.ntileFromRank(rn, lit(total), 10).cast("long").as("decile"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end corpus build — the stages composed the way a real
    * training-data pipeline chains them: exact-dedup (canonical min id
    * per distinct text) → quality/length gate → per-(lang, source)
    * mixture report. Each stage is an operator this library ships
    * standalone; the composition is one declarative plan, so Catalyst
    * fuses the scoring into the dedup output and the gate prunes before
    * the final shuffle. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // content-hash dedup key (16-byte digest, not the document — see
    // Dedup.exactDedup for the shuffle-volume rationale)
    val keep = docs.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val scored = docs.join(keep, Seq("doc_id"))
      .select(col("lang"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"))
    scored.filter(col("q") >= 300 && col("t") >= 50)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("sum_tokens"),
        sum(col("q")).as("sum_quality"))
      .orderBy(col("lang"), col("source"))
  }

  /** The corpus pipeline with the round-4 cleaning stages composed in —
    * exact-dedup → benchmark DECONTAMINATION (drop every doc sharing a
    * word 8-gram with the held-out benchmark set) → quality + REPETITION
    * gates (Gopher-style: duplicate-bigram and top-word caps) →
    * per-(lang, source) mixture report. One declarative plan: the
    * contamination anti-join probes a broadcast benchmark gram set, the
    * repetition signals are per-row folds, and the only shuffles are the
    * dedup's digest group-by and the final mixture rollup (the
    * contaminated ids feed the anti-join as probed, with no distinct). */
  def fullPipeline(spark: SparkSession, dir: String): DataFrame =
    cleaningPipeline(Tables(spark, dir).documents, lmGate = false)

  /** The shared q121/q242 chain: exact dedup → benchmark
    * decontamination → (optional reference-LM tail-drop) → heuristic
    * quality/repetition gates → mixture rollup. One private builder so
    * the two registered queries cannot drift apart stage-by-stage —
    * q242 is BY CONSTRUCTION q121 plus exactly the one semi-join. */
  private def cleaningPipeline(docs: DataFrame, lmGate: Boolean): DataFrame = {
    val keep = docs.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // no distinct on either side of the decontamination: a semi-join
    // probe and an anti-join answer the same for duplicate keys, and
    // each distinct is a shuffle (and a job) the answer does not need
    val bench = TextAnalysis.docGrams(docs.filter(col("doc_id") % 5 === 0))
      .select(col("g"))
    // NOT cached deliberately: the corpus relation carries full text
    // blobs, and materializing them costs more than re-deriving the
    // cheap md5-keep join from the (column-pruned) scan — measured
    // 4.9 s cached vs 3.0 s recomputed at sf0.1.
    val corpus = docs.join(keep, Seq("doc_id"))
      .filter(col("doc_id") % 5 =!= 0)
    // Gram-probe the SCAN, not the deduped corpus: contamination is a
    // per-doc_id fact, so probing the dedup losers too changes nothing
    // (the anti-join below restricts to the kept corpus), while probing
    // corpus-after-join would chain the explode behind the keep join —
    // past broadcast scale that join becomes a shuffle whose output AQE
    // coalesces by PRE-explode byte size, and the whole gram explode
    // lands on a handful of tasks (found live at 100×: the 500k-doc
    // shingle pass ran on 2 AQE-coalesced partitions, >20× the stage
    // wall). Scan-attached, the explode keeps scan parallelism at any
    // corpus size and the doc_id filter still pushes down.
    val contaminated = TextAnalysis.docGrams(
        docs.filter(col("doc_id") % 5 =!= 0))
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("doc_id"))
    val decontaminated = corpus.join(contaminated, Seq("doc_id"), "left_anti")
    val gated =
      if (!lmGate) decontaminated
      else decontaminated.join(
        TextAnalysis.lmQualityBucketsFrom(docs)
          .filter(col("bucket") < TextAnalysis.LmQualityTiles)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    gated
      .select(col("lang"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"),
        TextAnalysis.topwordPm(col("text")).as("tw"),
        TextAnalysis.dupBigramPm(col("text")).as("db"))
      .filter(col("q") >= 300 && col("t") >= 50 &&
        col("tw") <= 200 && col("db") <= 100)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("sum_tokens"),
        sum(col("q")).as("sum_quality"))
      .orderBy(col("lang"), col("source"))
  }

  /** Flagship cleaning pipeline WITH the reference-LM gate (q242) —
    * q121 upgraded to the full CCNet posture: exact dedup →
    * decontamination → heuristic quality/repetition gates → and now
    * the MODEL-based gate (q235's head/middle terciles kept, the tail
    * dropped — the perplexity split CCNet runs after its heuristics) →
    * per-(lang, source) mixture report. The trusted doc_id % 5 slice
    * plays BOTH its roles consistently: benchmark for decontamination
    * (q117) and LM training corpus (q235).
    *
    * Scale shape: q121's chain (each stage independently bounded) plus
    * q235's (one pair explode + vocabulary-scale model + the
    * GlobalOrder tercile); the gate lands as one doc-keyed semi-join
    * on the survivor relation. One declarative plan end-to-end. */
  def fullPipelineLm(spark: SparkSession, dir: String): DataFrame =
    cleaningPipeline(Tables(spark, dir).documents, lmGate = true)

  /** Best-N-per-stratum selection — keep each language's top documents by
    * quality (champion selection before expensive downstream stages).
    * A per-stratum window: one hash exchange on `lang`, per-partition
    * bounded work — scale-safe by construction, unlike its global cousin
    * ([[qualityDeciles]]) which needs the two-pass primitive. */
  def groupTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_pm").desc, col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality_pm"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("lang"), col("rk"), col("doc_id"), col("quality_pm"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Deterministic stratified sampling — the mixture-rebalancing step: each
    * language keeps a fixed fraction of its documents, decided by an
    * arithmetic hash of the doc id (Knuth multiplicative, folded to
    * [0, 1000)) rather than an RNG, so the sample is reproducible across
    * engines, runs, and partitionings, and any SQL dialect can replay it.
    * One codegen'd map pass, no shuffle before the presentation sort. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, lang, text) corpus. */
  private[graft] def stratifiedSampleFrom(docs: DataFrame): DataFrame = {
    val h = knuthHash32("doc_id") % lit(1000L)
    val rate = when(col("lang") === "en", lit(100L))
      .when(col("lang") === "fr", lit(250L))
      .when(col("lang") === "de", lit(500L))
      .otherwise(lit(750L))
    docs
      .select(col("doc_id"), col("lang"), h.as("bucket_pm"), rate.as("rate_pm"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("kept", col("bucket_pm") < col("rate_pm"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping-window chunking (q144) — the retrieval-ingestion prep
    * step that splits each document into fixed-size token windows with
    * 50% stride overlap, so every passage boundary appears mid-window in
    * some chunk (the standard RAG indexing layout; q137's disjoint
    * segmentation is the dedup-side sibling). Chunk count is
    * 1 + max(0, ⌈(n − size) / stride⌉) in exact integer arithmetic; the
    * final window clamps at the document end. Pure per-row explode —
    * output rows ≈ 2× token mass, no shuffle before the presentation
    * sort — so it composes into the written-corpus scan for free. */
  def chunkWindows(spark: SparkSession, dir: String,
      sizeW: Int = 40, stride: Int = 20): DataFrame =
    chunkWindowsFrom(Tables(spark, dir).documents, sizeW, stride)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def chunkWindowsFrom(docs: DataFrame, sizeW: Int = 40,
      stride: Int = 20): DataFrame =
    chunkWindowArrays(docs, sizeW, stride)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("arr")).cast("long").as("n_chunk_tokens"),
        array_join(col("arr"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunk windows with the token ARRAY kept (no chunk_text
    * materialization): consumers that need tokens — the BM25 posting
    * build re-split `chunk_text` right after q144 array_join'ed it,
    * paying one string build + one regex split per chunk for nothing —
    * explode `arr` directly instead. `split(array_join(arr, " "), " ")
    * == arr` exactly here (split-on-space tokens cannot contain
    * spaces; `arr` is never empty because `split(text, " ")` never is),
    * so both consumers see identical rows. */
  private[graft] def chunkWindowArrays(docs: DataFrame, sizeW: Int = 40,
      stride: Int = 20): DataFrame = {
    // fused kernel ≡ the HOF form transform(sequence(0, nc-1), i =>
    //   slice(w, i*stride+1, sizeW)) with nc = 1 + greatest(0,
    //   (size(w) - sizeW + stride-1) div stride) folded in (spec-pinned).
    // Null-text note: a null text yields ONE (doc_id, 0, null) chunk
    // row, as the q144 oracle does (greatest(0, NULL) = 0 → one window
    // over a NULL list). The kernel maps null to null, so the outer
    // explode keeps the row and chunk_idx is pinned to 0; a non-null
    // text never yields an empty window array (`split` never does).
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        posexplode_outer(graft.functions.ShingleKernels
          .chunk_windows(col("w"), sizeW, stride))
          .as(Seq("chunk_idx", "arr")))
      .withColumn("chunk_idx", coalesce(col("chunk_idx"), lit(0)))
  }

  /** Training-shard assignment (q141) — the WebDataset-style layout step
    * that turns a cleaned corpus into shard files a trainer streams:
    * documents are pseudorandomly PERMUTED (the same Knuth
    * multiplicative hash as q112 — deterministic across engines, runs,
    * and partitionings; no RNG state), hashed into `nShards` shards, and
    * given their within-shard position plus the exclusive running token
    * offset (= the byte/token offset where the document starts in its
    * shard file, and the number a batch loader needs for seeking).
    *
    * Scale shape: the permutation key and shard id are one codegen'd map
    * pass; position/offset are `row_number`/`sum` windows PARTITIONED by
    * shard — shards are the units a 1000-executor write fans out over,
    * so per-task state is one shard's slice, never a global order. The
    * hash-permutation inside each shard means shard files are unbiased
    * corpus samples (loader-side shuffle buffers stay small) — the
    * reason trainers shuffle BEFORE sharding, done here without a
    * single-task global sort. */
  def shardAssignment(spark: SparkSession, dir: String,
      nShards: Int = 32): DataFrame =
    shardAssignmentFrom(Tables(spark, dir).documents, nShards)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def shardAssignmentFrom(docs: DataFrame,
      nShards: Int = 32): DataFrame = {
    val h = knuthHash32("doc_id")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hkey"), col("doc_id"))
    docs
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        h.as("hkey"))
      .withColumn("shard", col("hkey") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("tok_offset"))
      .orderBy(col("doc_id"))
  }

  /** Domain-mixture selection (q145) — the mixture-rebalancing step of
    * corpus construction: each source (domain) gets a token QUOTA
    * proportional to its mixture weight, and spends it on its own best
    * documents (quality DESC, doc_id) — the static-weight form of
    * DoReMi-style domain reweighting. Weights here are the source's
    * 1-based alphabetical rank (deterministic in any engine, no config
    * table); the global budget is half the corpus's tokens, so the query
    * is scale-free like q111.
    *
    * Scale shape: q111's [[GlobalOrder]] two-pass, GROUPED — an
    * unpartitioned per-source cumsum window would still funnel each
    * source's full slice (at 100 TB a single web domain is TBs) into one
    * task. Instead rows are value-bucketed by quality globally, per-
    * (source, bucket) token totals (≤ sources × buckets rows — metadata
    * scale) are cumulated into per-source exclusive offsets on the
    * driver, and each (source, bucket) window runs in parallel. Source
    * weights and quotas are a broadcast relation. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame =
    domainMixtureFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, source, text) corpus. */
  def domainMixtureFrom(docs: DataFrame): DataFrame = {
    val scored = docs.select(
        col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality_pm"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    GraftCache.persisted("CorpusOps.mixture", scored)
    // weight table: #sources rows (metadata scale — domains are curated).
    // Alphabetical rank is by UTF-8 BYTE order (≡ code-point order — a
    // UTF-8 property), matching SQL binary collation (DuckDB ORDER BY);
    // Scala's default String ordering is UTF-16 code-UNIT order, which
    // diverges for non-BMP source names.
    val srcs = scored.select(col("source")).distinct()
      .collect().map(_.getString(0))
      .sortWith { (a, b) =>
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n && x(i) == y(i)) i += 1
        if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
      }
    val weights = srcs.zipWithIndex.map { case (s, i) => (s, (i + 1).toLong) }
    val sumW = weights.map(_._2).sum
    val total = scored.agg(sum(col("n_tokens"))).head().getLong(0)
    // Long division floors on positives ≡ DuckDB // — quota is exact
    val quotas = weights.map { case (s, w) => (s, w, w * total / (2 * sumW)) }
    import docs.sparkSession.implicits._
    val quotaDf = quotas.toSeq.toDF("source", "weight", "budget_tok")
    val bucketed = GlobalOrder
      .bucketizeForUniqueOrder(scored, col("quality_pm"), desc = true,
        col("doc_id"))
    // per-(source, bucket) totals → per-source exclusive prefix offsets
    val (bases2, _) = GlobalOrder.exclusiveOffsetsBy(bucketed, "source",
      sum(col("n_tokens")).as("t"))
    val offsets = bases2.toDF("source", "bucket", "tok_base")
    val wLocal = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("quality_pm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("lcum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("source", "bucket"))
      .join(broadcast(quotaDf), Seq("source"))
      .select(col("doc_id"), col("source"), col("weight"),
        col("quality_pm"), col("n_tokens"),
        (col("tok_base") + col("lcum")).as("cum_tokens"), col("budget_tok"),
        ((col("tok_base") + col("lcum")) <= col("budget_tok")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Per-language quality deciles (q157) — q114's global ntile(10)
    * computed WITHIN each language: the mixture-aware form of quality
    * binning (drop each language's own bottom deciles, so low-resource
    * languages aren't wiped out by a global threshold tuned on English).
    *
    * Scale shape: the grouped [[GlobalOrder]] two-pass (the q145
    * discipline) — an unpartitioned per-lang ntile window would funnel
    * each language's slice into one task, and at 100 TB one language IS
    * most of the corpus. Rows are value-bucketed by quality globally;
    * per-(lang, bucket) counts (metadata scale) are cumulated into
    * per-lang exclusive rank bases on the driver; each (lang, bucket)
    * window ranks in parallel; the decile derives arithmetically from
    * the per-lang global rank via the SQL-spec ntile formula with the
    * language's own total. */
  def groupedDeciles(spark: SparkSession, dir: String): DataFrame =
    groupedDecilesFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, lang, text) corpus. */
  def groupedDecilesFrom(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      col("doc_id"), col("lang"),
      TextFunctions.qualityScore(col("text")).as("quality_pm"))
    val bucketed = GlobalOrder
      .bucketizeForUniqueOrder(scored, col("quality_pm"), desc = true,
        col("doc_id"))
    GraftCache.persisted("CorpusOps.grpDec", bucketed)
    val (bases, totals) = GlobalOrder.exclusiveOffsetsBy(bucketed, "lang",
      count(lit(1)).as("c"))
    import docs.sparkSession.implicits._
    val offsetsDf = bases.toDF("lang", "bucket", "rn_base")
    val totalsDf = totals.toDF("lang", "n_lang")
    val wLocal = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("quality_pm").desc, col("doc_id"))
    val rn = col("rn_base") + row_number().over(wLocal)
    bucketed
      .join(broadcast(offsetsDf), Seq("lang", "bucket"))
      .join(broadcast(totalsDf), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality_pm"),
        GlobalOrder.ntileFromRank(rn, col("n_lang"), 10)
          .cast("long").as("decile"))
      .orderBy(col("doc_id"))
  }

  /** Corpus health report (q155) — the one-page dashboard a data-curation
    * team reads per snapshot: document counts and token mass cross-
    * tabulated by quality decile × cleaning status, where status is the
    * priority chain duplicate > contaminated > clean (a doc that is both
    * a dup and benchmark-tainted is counted once, as the dup the dedup
    * pass would drop first). Composes three independently-oracled
    * fragments — q114's distributed deciles, q40's md5 canonical rule,
    * q117's benchmark-gram gate — into one declarative plan.
    *
    * Scale shape: the fragments are each linear scans + key-bounded
    * shuffles (documented at their own entries); the composition joins
    * on doc_id and ends in a ≤ 10 × 3-cell aggregate — metadata out. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val deciles = qualityDeciles(spark, dir).select(col("doc_id"), col("decile"))
    val hashed = GraftCache.persisted("CorpusOps.report",
      docs.select(col("doc_id"), md5(col("text")).as("h")))
    val canon = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("canonical_id"))
    val dup = hashed.join(canon, Seq("h"))
      .select(col("doc_id"), (col("doc_id") =!= col("canonical_id")).as("is_dup"))
    val contam = TextAnalysis.decontaminate(spark, dir)
      .select(col("doc_id")).withColumn("contaminated", lit(true))
    docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(deciles, Seq("doc_id"))
      .join(dup, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("is_dup"), lit("duplicate"))
          .when(col("contaminated"), lit("contaminated"))
          .otherwise(lit("clean")))
      .groupBy(col("decile"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("decile"), col("status"))
  }

  /** Per-source quality drift (q170) — the monitoring readout between
    * corpus snapshots (same A/B split as q151): per source, document
    * counts and EXACT integer quality sums for both versions plus the
    * drift of the mean in per-mille (old/new means compared as exact
    * integer cross-products — no float division). A souring source
    * (crawler regression, template change) shows as negative drift
    * before it poisons training. One scored scan per side, one
    * source-keyed aggregate — metadata out. */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    def scored(side: DataFrame) = side.select(col("source"),
      TextFunctions.qualityScore(col("text")).as("q"))
    val a = scored(docs.filter(col("doc_id") % 5 =!= 4))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("old_n"), sum(col("q")).as("old_q_sum"))
    val b = scored(docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("new_n"), sum(col("q")).as("new_q_sum"))
    a.join(b, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"),
        coalesce(col("old_q_sum"), lit(0L)).as("old_q_sum"),
        coalesce(col("new_q_sum"), lit(0L)).as("new_q_sum"))
      // drift of the mean as an exact RATIONAL (num/den) — a division
      // here would hit the div-truncates vs //-floors divergence on
      // NEGATIVE drift, the one place the engines' integer division
      // disagrees; the sign lives in the numerator
      .withColumn("drift_num",
        col("new_q_sum") * col("old_n") - col("old_q_sum") * col("new_n"))
      .withColumn("drift_den", col("old_n") * col("new_n"))
      .orderBy(col("source"))
  }

  /** Incremental corpus diff (q151) — the snapshot-to-snapshot delta a
    * pipeline computes before an incremental re-crawl/re-train: which
    * documents were added, removed, changed, or kept between corpus
    * versions. The fixture simulates two snapshots from one table
    * (version A drops doc_id%5==4, version B drops doc_id%5==0 and
    * revises doc_id%7==0); real deployments pass two corpus dirs.
    *
    * Scale shape: each side is reduced to (doc_id, md5) BEFORE the
    * join — 48 bytes/row through the shuffle instead of document text —
    * and the diff is one full-outer equi-join on doc_id with the status
    * derived from null-ness and digest equality. Content addressing by
    * digest means a moved/re-ordered corpus diffs as `same`. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val a = docs.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id"), md5(col("text")).as("old_md5"))
    val b = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("new_md5"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") === col("new_md5"), lit("same"))
          .otherwise(lit("changed")).as("status"),
        col("old_md5"), col("new_md5"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash sampling (q173) — the reproducible
    * corpus-subsetting primitive every training-data pipeline needs:
    * a document is sampled iff the first two hex chars of md5(text)
    * fall below a threshold (here "29" → 41/256 ≈ 16%), so the SAME
    * subset comes out on any engine, any partitioning, any run — no
    * RNG, no seed plumbing, and content-addressed (a re-ingested copy
    * of a doc samples identically). Per-source realized rates are
    * reported next to the shared nominal rate, the drift readout that
    * catches a source whose content correlates with its digests (it
    * cannot, for a cryptographic hash — which is exactly why the
    * realized pm hugs 160 for every healthy source).
    *
    * Scale shape: one codegen'd map over the text scan (md5 + one
    * string compare), then a source-keyed partial+final aggregate —
    * ≤ #sources result rows. Zero joins, zero windows. */
  def hashSampling(spark: SparkSession, dir: String): DataFrame =
    hashSamplingFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, source, text) corpus. */
  private[graft] def hashSamplingFrom(docs: DataFrame,
      hexBound: String = "29"): DataFrame = {
    val sampled = substring(md5(col("text")), 1, 2) < lit(hexBound)
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("realized_pm",
        expr("1000 * n_sampled div n_docs"))
      .orderBy(col("source"))
  }

  /** Cross-source duplicate matrix (q174) — for every ordered source
    * pair, how many distinct document CONTENTS (md5 digests) appear in
    * both: the contamination/forking diagnostic read before mixing
    * corpora (a high-overlap pair means one source republishes the
    * other, and dedup budgets should be planned jointly). Diagonal
    * excluded; pairs ordered source_a < source_b so each unordered
    * pair appears once. The fixture's sources never share content, so
    * the registered query simulates the production scenario the same
    * way q151 simulates two snapshots: a `zz_mirror` source
    * republishing every fourth document verbatim — each real source
    * then overlaps the mirror by exactly its republished digests.
    *
    * Scale shape: the join runs on the (digest, source) DISTINCT
    * relation — one row per source a digest appears in, far below
    * document scale — and fans out per digest only over its own source
    * set (bounded by the curated source count, the q140 prefix-filter
    * argument in miniature). The final aggregate is ≤ sources² rows. */
  def crossSourceDuplicates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    crossSourceDuplicatesFrom(docs.select(col("source"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 4 === 0)
        .select(lit("zz_mirror").as("source"), col("text"))))
  }

  /** Same, over an arbitrary (source, text) corpus. */
  private[graft] def crossSourceDuplicatesFrom(docs: DataFrame): DataFrame = {
    val d = docs.select(md5(col("text")).as("h"), col("source")).distinct()
    d.alias("a").join(d.alias("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_digests"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Temperature-scaled source mixture (q182) — the epoch-mixture
    * design step every multi-source training run starts from: raw
    * per-source doc counts are flattened by a temperature exponent
    * (α = 1/2 here: weight = ⌊√n⌋ — the standard up-weight-the-tail
    * rule that keeps big sources from drowning small ones), then a
    * fixed epoch budget is split proportionally. Weights and quotas
    * stay integer (⌊√n⌋ is exact in IEEE for any representable n, and
    * the split is floor division over BIGINTs), so the mixture replays
    * bit-identically in the oracle. Output per source: raw count,
    * weight, per-mille mixture share, and the document quota at the
    * registered 100k-doc epoch budget.
    *
    * Scale shape: one source-keyed count aggregate (map-side
    * combinable, ≤ #sources rows) + a broadcast 1-row weight total —
    * the corpus is scanned once, nothing else moves. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    temperatureMixtureFrom(Tables(spark, dir).documents)

  /** Registered epoch budget for q182 — mirrored literally in the
    * oracle SQL; keep the two in sync. */
  private[graft] val MixtureEpochBudget = 100000L

  /** Source vocabulary overlap (q185) — for every ordered source pair,
    * the overlap of their top-100 term sets (count DESC, term ASC
    * tie-break — a total order, so the sets are deterministic) as a
    * shared-term count and an exact per-mille Jaccard over the REALIZED
    * set sizes. The content-level sibling of q174's exact-digest
    * matrix: two sources can share zero whole documents yet write about
    * the same things — this is the diagnostic that catches it before
    * mixture weights double-count a topic.
    *
    * Scale shape: per-source term counts (map-side combinable) → the
    * per-source top-k is a source-partitioned WindowGroupLimit (per-
    * group heap, bounded state — the q139 shape, never a global sort);
    * the pair join runs over ≤ sources·100 rows and fans out per term
    * only over the sources that share it; output ≤ sources² rows. */
  def sourceVocabOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceVocabOverlapFrom(Tables(spark, dir).documents)

  /** Top-set size for q185 — mirrored literally in the oracle SQL. */
  private[graft] val VocabTopN = 100

  /** Same, over an arbitrary (source, text) corpus. */
  private[graft] def sourceVocabOverlapFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("term").asc)
    val top = tc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= VocabTopN)
      .select(col("source"), col("term"))
    val sizes = top.groupBy(col("source")).agg(count(lit(1)).as("n"))
    top.alias("a").join(top.alias("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("na"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("1000 * n_shared div (na + nb - n_shared)").as("jaccard_pm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Deterministic weighted priority sample (q191) — the
    * priority-sampling family (Ohlsson's sequential Poisson / Duffield
    * et al.) with the randomness DERANDOMIZED: each document draws its
    * "uniform" from the Knuth multiplicative hash of its id (the q112
    * discipline — reproducible across engines, runs, partitionings) and
    * competes with priority ⌊u·10⁶ / weight⌋, weight = its quality
    * score — so high-quality documents systematically win the sample
    * while every document keeps weight-proportional inclusion odds
    * under the hash's uniformity. The integer floor makes the order
    * (priority, doc_id) exact, so the sample replays bit-identically.
    *
    * Scale shape: one codegen map pass (hash + score), then a global
    * top-k that plans as TakeOrderedAndProject — per-partition bounded
    * heaps, no global sort, no window. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def weightedSampleFrom(docs: DataFrame): DataFrame = {
    val w = greatest(TextFunctions.qualityScore(col("text")), lit(1L))
    val u = knuthHash32("doc_id") + lit(1L)
    docs
      .select(col("doc_id"), w.as("weight"), u.as("u"))
      .withColumn("priority", expr("(u * 1000000) div weight"))
      .select(col("doc_id"), col("weight"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(64)
  }

  /** Bucket count of the hashed-ngram feature space (q196) — 256 is
    * fixture-sized; DSIR's published setting is 10⁴, a one-constant
    * change (the histograms stay broadcastable at any plausible B). */
  private[graft] val DsirBuckets = 256

  /** DSIR-style importance selection (q196) — Data Selection via
    * Importance Resampling (Xie et al., NeurIPS 2023): score every raw
    * document by how much more likely its tokens are under a TARGET
    * distribution than under the raw-corpus distribution, using hashed
    * n-gram bag-of-words models (here: unigrams FNV-hashed into
    * [[DsirBuckets]] buckets, the paper's hashed-feature trick that makes
    * the model size independent of vocabulary). Per bucket b the
    * log-likelihood ratio under add-one smoothing is
    * ln(((ct_b+1)/(T+B)) / ((cr_b+1)/(R+B))); a document's importance is
    * the sum over its tokens. The target here is the fixture's held-out
    * doc_id%5 slice (the q117 decontamination convention — in production
    * it is the high-quality reference corpus, e.g. curated text).
    *
    * Determinism: the per-bucket ratio quantizes to floor(llr·10⁴) BEFORE
    * the per-document integer sum (the q143 discipline — ln is the only
    * cross-engine ulp hazard and it never survives the floor), and the
    * DSIR resampling step is derandomized into the exact order
    * (dsir_q DESC, doc_id): top-k selection rather than Gumbel noise,
    * the same derandomization as q191's priority sample.
    *
    * Scale shape: one B-row histogram (target and raw count per bucket,
    * one bucket-keyed aggregate) is collected to the driver — T and R are
    * its column sums, and the model is kilobytes no matter how big the
    * corpus is; it comes back as a broadcast per-bucket score. The raw
    * tokens then take one doc-keyed sum of their bucket's score (the sum
    * of n·score_q over (doc, bucket) groups equals the per-token sum,
    * exactly in longs), and a global top-k plans as
    * TakeOrderedAndProject (bounded per-partition heaps, no global
    * sort). Nothing quadratic, nothing persisted. */
  def dsirImportance(spark: SparkSession, dir: String): DataFrame =
    dsirImportanceFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def dsirImportanceFrom(docs: DataFrame,
      buckets: Int = DsirBuckets, k: Int = 64): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    import docs.sparkSession.implicits._
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"),
        pmod(poly_hash(col("term"), lit(0L)), lit(buckets.toLong)).as("b"))
    val raw = col("doc_id") % 5 =!= 0
    val hist = toks.groupBy(col("b"))
      .agg(count(when(col("doc_id") % 5 === 0, 1)).as("ct"),
        count(when(raw, 1)).as("cr"))
      .as[(Long, Long, Long)].collect().toSeq
    val (tTot, rTot) = (hist.map(_._2).sum, hist.map(_._3).sum)
    // per-bucket quantized log-likelihood ratio, the same Spark
    // expression over the collected histogram
    val scores = hist.toDF("b", "ct", "cr")
      .select(col("b"), floor(log(
        ((col("ct") + 1).cast("double")
          / lit(tTot + buckets).cast("double"))
          / ((col("cr") + 1).cast("double")
            / lit(rTot + buckets).cast("double"))) * lit(1e4))
        .as("score_q"))
    toks.filter(raw)
      .join(broadcast(scores), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("score_q")).as("dsir_q"))
      .orderBy(col("dsir_q").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("dsir_q"))
  }

  /** Length-class width and sequences-per-batch for dynamic batching
    * (q239) — mirrored literally in the oracle. Production knobs:
    * the class width trades padding inside a batch against class
    * count; B is the training micro-batch size. */
  private[graft] val LenBucketWidth = 32L
  private[graft] val BatchSeqs = 8L

  /** Length-bucketed dynamic batching (q239) — the group-by-length
    * batch scheduler every variable-length trainer runs (the
    * fairseq/HF `group_by_length` recipe): batching random sequences
    * pads every one to the batch max, so ingest first classes
    * sequences by token length ([[LenBucketWidth]]-wide classes), then
    * fills fixed-[[BatchSeqs]] batches inside each class in
    * deterministic (len, doc_id) order, and prices each batch's
    * padding waste — n_seqs·max_len − token_mass, the number the
    * scheduler exists to minimize. All integers with a total order, so
    * the batch layout and its cost carry a DuckDB oracle.
    *
    * Scale shape: the within-class rank is the GROUPED [[GlobalOrder]]
    * two-pass (the q145/q157 discipline) — length classes are FEW and
    * HUGE at corpus scale (one class is most of a web corpus), so a
    * per-class rank window would funnel the corpus through a handful
    * of tasks; instead rows value-bucket globally by length, per-
    * (class, bucket) counts cumulate into exclusive rank bases on the
    * driver (metadata scale), and every (class, bucket) ranks in
    * parallel. The batch index derives arithmetically from the rank;
    * the final relation is batch-count scale. */
  def lengthBatching(spark: SparkSession, dir: String): DataFrame =
    lengthBatchingFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def lengthBatchingFrom(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"))
      .withColumn("lb", expr(s"(len - 1) div $LenBucketWidth"))
      .withColumn("g", col("lb").cast("string"))
    val bucketed = GraftCache.persisted("CorpusOps.lenBatch", GlobalOrder
      .bucketizeForUniqueOrder(scored, col("len"), desc = false,
        col("doc_id")))
    val (bases, _) = GlobalOrder.exclusiveOffsetsBy(bucketed, "g",
      count(lit(1)).as("c"))
    import docs.sparkSession.implicits._
    val offsetsDf = bases.toDF("g", "bucket", "rn_base")
    val wLocal = Window.partitionBy(col("g"), col("bucket"))
      .orderBy(col("len"), col("doc_id"))
    val rn = col("rn_base") + row_number().over(wLocal)
    bucketed
      .join(broadcast(offsetsDf), Seq("g", "bucket"))
      .withColumn("rn", rn)
      .withColumn("batch_idx", expr(s"(rn - 1) div $BatchSeqs"))
      .groupBy(col("lb").as("len_bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n_seqs"), max(col("len")).as("max_len"),
        sum(col("len")).as("token_mass"))
      .withColumn("padding",
        col("n_seqs") * col("max_len") - col("token_mass"))
      .orderBy(col("len_bucket"), col("batch_idx"))
  }

  /** Same, over an arbitrary (source) corpus. */
  private[graft] def temperatureMixtureFrom(docs: DataFrame,
      budget: Long = MixtureEpochBudget): DataFrame = {
    val w = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    w.crossJoin(broadcast(w.agg(sum(col("weight")).as("tw"))))
      .select(col("source"), col("n_docs"), col("weight"),
        expr("1000 * weight div tw").as("mix_pm"),
        expr(s"($budget * weight) div tw").as("quota_docs"))
      .orderBy(col("source"))
  }
}
