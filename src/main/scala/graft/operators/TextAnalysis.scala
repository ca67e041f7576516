package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY §2.l):
  * corpus statistics, token counting, quality scoring, language ID.
  * Everything is built from codegen'd built-ins (see TextFunctions) and
  * has an exact integer-arithmetic SQL oracle.
  */
object TextAnalysis {

  /** Corpus rollup per (lang, source): doc counts and integer-exact
    * word/token/quality sums. The group-by is the only shuffle. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"), col("source"),
        wordCount(col("text")).as("n_words"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        qualityScore(col("text")).as("quality_pm"),
        col("n_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("quality_pm")).as("sum_quality"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("source"))

  /** Per-document token metrics + quality score (integer fixed-point). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        wordCount(col("text")).as("n_words"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"),
        qualityScore(col("text")).as("quality_pm"))
      .orderBy(col("doc_id"))

  /** Language identification via the deterministic stopword-marker
    * heuristic; emits the per-language scores so the oracle can replay the
    * argmax exactly. */
  def languageId(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang").as("lang_claimed"),
        langId(col("text")).as("lang_pred"),
        langScore(col("text"), "de").as("score_de"),
        langScore(col("text"), "en").as("score_en"),
        langScore(col("text"), "es").as("score_es"),
        langScore(col("text"), "fr").as("score_fr"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: corpus documents that share at least one
    * word 8-gram with the held-out benchmark set (here: every 5th doc —
    * the standard eval-leakage check an LLM pipeline runs before
    * training). The benchmark side is distinct-gram deduplicated and
    * BROADCAST: eval suites are fixed-size (MBs) no matter how big the
    * corpus is, so the probe is one shuffle-free scan of the corpus grams
    * followed by a per-doc count — the contamination check stays linear
    * in corpus size at 100 TB. (The fixture's doc_id%5 benchmark split
    * is a stand-in sized for oracle strength at tiny SF; a benchmark
    * side that ever outgrew broadcast would drop the hint and shuffle
    * both gram sides on `g` instead.) */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(Tables(spark, dir).documents)
    val bench = grams.filter(col("doc_id") % 5 === 0).select(col("g")).distinct()
    contaminationCounts(grams.filter(col("doc_id") % 5 =!= 0), bench)
      .orderBy(col("doc_id"))
  }

  /** Contamination core shared by the batch query and the streaming form:
    * distinct per-doc gram overlap counts against a broadcast benchmark
    * gram set. `corpusGrams` may be a STREAMING DataFrame — a
    * stream-static equi-join is stateless (each micro-batch probes the
    * broadcast table), so the same code decontaminates a live ingestion
    * feed; only the final aggregation carries streaming state (one count
    * per contaminated doc). */
  def contaminationCounts(corpusGrams: DataFrame, bench: DataFrame): DataFrame =
    corpusGrams
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Per-document distinct word-8-grams of an arbitrary (doc_id, text)
    * relation (streaming or batch). */
  def docGrams(docs: DataFrame): DataFrame =
    // fused kernel ≡ wordGrams(text, 8) (spec-pinned) — one pass per
    // document instead of an interpreted lambda + slice + join per gram
    docs.select(col("doc_id"),
      explode(array_distinct(graft.functions.ShingleKernels
        .word_grams_arr(split(col("text"), " "), 8))).as("g"))

  /** Per-document n-gram NOVELTY score (q213) — the inverse quality
    * signal of the dup tier: the per-mille-of-million fraction of a
    * document's distinct word-8-grams that occur in NO other document
    * (corpus document frequency 1). Near-duplicate and boilerplate-
    * heavy documents score near 0; genuinely original text scores near
    * 10⁶. A curation pipeline uses this as a soft mixture weight where
    * q40/q42 make hard drop decisions — the standard "repetition vs
    * novelty" axis of corpus quality dashboards.
    *
    * Scale shape: the distinct (doc, gram) relation shuffles once on
    * the gram for document frequencies (map-side combinable), probes
    * back (same key — one shuffle pair, the q117 family shape), and
    * aggregates per doc. Linear in distinct gram mass, no pair
    * enumeration, no caps. Documents shorter than 8 words have no
    * grams and no row (the gate family's convention). */
  def noveltyScores(spark: SparkSession, dir: String): DataFrame =
    noveltyScoresFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def noveltyScoresFrom(docs: DataFrame): DataFrame = {
    val g = docGrams(docs)
    val dfreq = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .withColumn("novelty_pm", expr("n_novel * 1000000 div n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Per-document contamination SCORE — the graded companion to the
    * binary [[decontaminate]] gate: for every corpus document, the
    * fraction (per-mille) of its distinct 8-grams that appear in the
    * benchmark gram set. Pipelines threshold this score (drop > x‰, keep
    * but tag above 0) instead of hard-dropping on a single shared gram.
    *
    * Same scale shape as q117: the benchmark side is BROADCAST (eval
    * suites are fixed-size regardless of corpus size), every corpus gram
    * probes it in one shuffle-free scan (left join keeps the misses so
    * zero-overlap documents score 0 instead of vanishing), and the only
    * shuffle is the per-doc count aggregation. Documents shorter than 8
    * words have no grams and no row — the score is undefined, matching
    * the gate's behavior. */
  def contaminationScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val grams = docGrams(docs.filter(col("doc_id") % 5 =!= 0))
    val bench = docGrams(docs.filter(col("doc_id") % 5 === 0))
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams.join(broadcast(bench), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_shared"))
      .withColumn("contamination_pm",
        expr("1000 * n_shared div greatest(n_grams, 1)"))
      .orderBy(col("doc_id"))
  }

  /** Span-level decontamination (q194) — the surgical companion to the
    * q117 gate and q146 score: instead of dropping or tagging a WHOLE
    * document that shares benchmark 8-grams, mask exactly the tokens
    * covered by benchmark-overlapping windows and keep the rest — the
    * modern eval-hygiene posture for long documents where one quoted
    * benchmark passage shouldn't cost the other 10k tokens. ALL
    * occurrences drop (benchmark text must not survive anywhere — no
    * canonical-copy rule here, unlike q193). Output is the q137/q193
    * cleaning shape over the corpus split.
    *
    * Scale shape: the benchmark window set is BROADCAST (eval suites
    * are fixed-size at any corpus scale — the q117 argument); marking
    * is a shuffle-free left-semi scan of the corpus windows; then the
    * shared covered-token drop + per-doc reassembly
    * (Dedup.dropCoveredTokens — ≤ n × hit mass explode, doc-bounded
    * aggregate). Linear in corpus size, zero self-joins. */
  def spanDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    spanDecontaminateFrom(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** Same, over arbitrary corpus/benchmark (doc_id, text) relations. */
  private[graft] def spanDecontaminateFrom(corpus: DataFrame,
      bench: DataFrame, n: Int = 8): DataFrame = {
    val benchSet = Dedup.spanShingles(bench, n)
      .select(col("h")).distinct()
    val masked = Dedup.spanShingles(corpus, n)
      .join(broadcast(benchSet), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    Dedup.dropCoveredTokens(corpus, masked, n)
  }

  /** Most-frequent-word share in per-mille (longest equal run in the
    * sorted word array — shuffle-free). */
  private[graft] def topwordPm(text: Column): Column = {
    val ws = split(text, " ")
    // fused hash-count kernel ≡ the longest-equal-run fold over
    // array_sort(ws) (sorting only groups equal words; max run = max
    // multiplicity — QuantKernelsSpec asserts value-equality incl. the
    // fold's empty-string seed edge). The HOF original sorted every
    // word array with an interpreted comparator and allocated a
    // 3-field struct per word.
    val maxWordCnt = graft.functions.TextKernels.max_elem_count(ws)
    (lit(1000L) * maxWordCnt / greatest(size(ws).cast("long"), lit(1L)))
      .cast("long")
  }

  /** Duplicate-bigram fraction in per-mille. */
  private[graft] def dupBigramPm(text: Column): Column = {
    // fused kernel ≡ size(wordGrams(text,2)) /
    // size(array_distinct(wordGrams(text,2))) — counts only, no bigram
    // array materialization (split tokens cannot contain spaces, so
    // joined-string equality is pair equality; spec-asserted)
    val st = graft.functions.TextKernels.bigram_stats(split(text, " "))
    val nBi = element_at(st, 1)
    val uBi = element_at(st, 2)
    (lit(1000L) * (nBi - uBi) / greatest(nBi, lit(1L))).cast("long")
  }

  /** Per-document repetition signals (Gopher-style quality rules): the
    * most-frequent-word share and the duplicate-bigram fraction, both in
    * integer per-mille. Computed entirely with higher-order array
    * functions inside one codegen'd projection — NO shuffle: per-document
    * signals over 100 TB must not pay an explode + group-by when a
    * per-row fold computes the same number. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        topwordPm(col("text")).as("topword_pm"),
        dupBigramPm(col("text")).as("dup_bigram_pm"))
      .orderBy(col("doc_id"))

  /** Count-min-sketch heavy hitters over words — the last classic sketch
    * next to HLL (q54), approx-percentile (q85) and bloom (q86). One
    * linear pass builds the sketch (merge is commutative ⇒ the estimate
    * is partitioning-independent; the sketch is KB-scale driver metadata,
    * same class as the IVF centroids); the exact top-20 counts verify it.
    * The oracle-hashed output is the exact counts only; the sketch's
    * over-count band (CMS never under-counts; over-count ≤ ⌈eps·N⌉) is
    * asserted spec-side via [[cmsTopEstimates]], mirroring the q54/q85
    * sketch-oracle pattern. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cmsTopEstimates(spark, dir)
      .map { case (g, cnt, _, _) => (g, cnt) }
      .toDF("g", "cnt")
  }

  /** (word, exact count, CMS estimate, ⌈eps·N⌉ over-count bound) for the
    * top-20 — the sketch-bearing surface. The bound `cnt ≤ est ≤ cnt +
    * bound` is asserted spec-side (PropertySpec), NOT in the oracle-hashed
    * q122 output, so a Spark-internal CountMinSketch change can never fail
    * hash verification for a correct sketch (the previous constant-`true`
    * flag oracle could). */
  def cmsTopEstimates(spark: SparkSession,
      dir: String): Seq[(String, Long, Long, Long)] = {
    val words = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("g"))
    val eps = 0.001
    val cms = words.stat.countMinSketch("g", eps, 0.99, seed = 42)
    val bound = math.ceil(eps * cms.totalCount()).toLong
    words.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1),
        cms.estimateCount(r.getString(0)), bound)).toSeq
  }

  /** Corpus-wide frequent word 3-grams (boilerplate detection): explode →
    * partial-aggregated count → top-20. The group-by carries map-side
    * partial aggregation and the final ordering is a TakeOrderedAndProject
    * (top-k heap per partition, k rows to the driver), so the only full
    * shuffle is on the gram key. */
  def ngramTopK(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(graft.functions.ShingleKernels
        .word_grams_arr(split(col("text"), " "), 3)).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g"))
      .limit(20)

  // ------------------------------------------------------ PII redaction

  /** PII patterns shared verbatim by the operator and its oracle — kept
    * to the regex subset whose semantics are identical in Java (Spark's
    * codegen'd regexp_*) and RE2 (DuckDB): character classes, bounded
    * quantifiers, `\b`; no lookaround, no backreferences. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII redaction (q138) — the Dolma/CCNet-style scrub a training
    * pipeline runs before anything else touches the text: emails, IPv4
    * addresses, and phone numbers are replaced with typed placeholders
    * and per-class match counts are emitted for audit. Counts are
    * measured on the RAW text (one regex scan per class); the redaction
    * itself is the sequential email→ip→phone replace, so a phone-shaped
    * substring inside an already-redacted email is counted under phone
    * but never double-redacted — the oracle replays the same order.
    *
    * Scale shape: a pure per-row codegen'd map (three regexp_extract_all
    * + three chained regexp_replace) — zero shuffles, zero joins; the
    * scan cost is the corpus read itself, so the operator composes into
    * any pipeline position for free. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus — lets tests plant
    * PII and assert it vanishes while clean text passes through. */
  def piiRedactFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          .cast("long").as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>").as("clean_text"))
      .orderBy(col("doc_id"))

  // ----------------------------------------------------------- TF-IDF

  /** Per-document TF-IDF top terms (q139) — the classic salience
    * ranking a corpus-analysis / retrieval pipeline derives per
    * document: tf(d,t) · ln(N / df(t)), top 3 terms per document.
    *
    * The score is emitted QUANTIZED: `tfidf_q = floor(tf · ln(N/df) ·
    * 10^4)` as a BIGINT, and the ranking orders by the quantized value
    * (ties broken by term, so the ranking is total). Rationale: the
    * oracle compares values strictly, and `ln` is the one place two
    * correct engines can legitimately differ by an ulp (HotSpot's
    * intrinsic vs libm); fixed-point flooring absorbs that noise —
    * a boundary hit would need the true score within ~1e-9 of a
    * 1e-4 grid line, and tf·ln(N/df) is irrational for every df < N
    * (df = N gives exactly 0 in both engines) — while keeping the
    * ranking itself deterministic because it never compares raw
    * doubles across engines.
    *
    * Scale shape: tokenize/explode is per-row; tf is one shuffle on
    * (doc_id, term) with map-side partial counts; df aggregates the tf
    * relation again on term (NOT the raw token stream — df counts
    * documents, and tf is already one row per (doc, term)); N is a
    * 1-row broadcast scalar, so the idf join adds no shuffle; the
    * final top-3 is a row_number window PARTITIONED by doc_id —
    * per-group heap state, never a global sort. Every count stays on
    * small keys until the final projection. */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfTopKFrom(Tables(spark, dir).documents, k)

  /** Unigram-LM surprisal scoring (q143) — the CCNet-style language-model
    * quality signal without an external model: the corpus's own unigram
    * distribution IS the model, each document scores the total
    * self-information of its tokens, Σ tf(d,w) · ln(T / cnt(w)), and the
    * per-token mean separates repetitive/common-word documents (low
    * surprisal — the head of the distribution) from rare-token ones
    * (high). Scores are fixed-point: each token's surprisal quantizes to
    * floor(ln(T/cnt)·10^4) BEFORE the integer sum, so the accumulated
    * value is bit-identical across engines and partitionings (same
    * rationale as q139 — ln is the only cross-engine ulp hazard and it
    * never survives the floor; cnt = T gives exactly 0 in both).
    *
    * Scale shape: one token explode feeding three aggregates off a
    * persisted barrier — corpus unigram counts (term shuffle), per-doc
    * tf (doc+term shuffle), and the 1-row total that broadcasts; the
    * scoring join is term-keyed against the count relation and the final
    * rollup is one doc-keyed sum. Nothing rescans the corpus. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisalFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def unigramSurprisalFrom(docs: DataFrame): DataFrame = {
    val toks = GraftCache.persisted("TextAnalysis.lm",
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term")))
    val cnt = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("t"))
    toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(cnt, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("q",
        floor(log(col("t").cast("double") / col("c")) * lit(1e4)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("q")).as("surprisal_q"))
      .withColumn("mean_surprisal_q", expr("surprisal_q div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** BM25 top-k and the stopword df cut — mirrored in the oracle. */
  private[graft] val Bm25TopK = 5

  /** Serving-time query-term bound (mirrored in the oracle): a query
    * scores only its [[Bm25QueryTermBound]] HIGHEST-idf terms
    * (deterministic (idf desc, term) rank). This is the BucketGuard
    * discipline for the BM25 funnel — the scoring join's mass is
    * Σ_q Σ_t df(t), and the unbounded worst case is a stopword's
    * corpus-wide posting list; ranking by idf caps the terms per query
    * AND biases the kept ones toward the SHORTEST posting lists (high
    * idf = low df), so the candidate mass per query is bounded by
    * m · max-kept-df instead of the query's full stopword mass. The
    * standard serving trade (query-term pruning): dropped terms are
    * the lowest-idf ones, whose per-candidate contribution is smallest
    * and flattest across candidates — the fixture divergence is
    * measured in TextAnalysisSpec and the 1×/10× cost in SCALING.md. */
  private[graft] val Bm25QueryTermBound = 16

  /** Serving-time per-TERM posting-prefix bound (mirrored in the
    * oracle) — the batch analogue of impact-ordered early termination
    * (WAND/MaxScore): each kept query term scores only its
    * [[Bm25PostingBound]] HIGHEST-impact postings, ranked by the same
    * quantized integer contribution the scorer sums (deterministic
    * (impact desc, cid) order, so the kept set is bit-stable
    * cross-engine). [[Bm25QueryTermBound]] caps WHICH terms a query
    * pays for; this caps HOW MUCH each of those terms can cost — the
    * candidate mass per query drops from Σ_t df(t) to
    * Σ_t min(df(t), P), so the scoring join's size is
    * (queries × m × P) — a constant per query — instead of growing
    * with the corpus's hottest posting list (the 30× squeeze's
    * ~16 GB external-sort cliff was exactly that join). The dropped
    * postings are each term's LOWEST-impact ones — the tail
    * contributions a WAND scorer proves can't change the top-k in the
    * common case; the fidelity trade is measured in PipelineSpec and
    * the skipped mass is a first-class audited relation (q243). */
  private[graft] val Bm25PostingBound = 128

  /** Field-metadata key carrying the bound a compacted posting store
    * was ranked to. Parquet persists Spark field metadata in its footer
    * schema, so a serve reads the bound driver-side with zero jobs. */
  private[graft] val PboundMetaKey = "graft.pbound"

  /** The row-constant pbound column WITH the bound in its field
    * metadata — one constructor so the compaction writer and any spec
    * simulating an old store attach the same shape. */
  private[graft] def pboundCol(bound: Long): Column = {
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(PboundMetaKey, bound).build()
    lit(bound).as("pbound", m)
  }

  /** Salt fan-out for the posting prune's two-phase per-term top-N: a
    * stopword's corpus-wide posting list must never land in ONE window
    * partition (the skew rule), so phase 1 ranks inside
    * (term, cid % salt) buckets — each global top-N survivor is top-N
    * in its own bucket, so phase 2's exact per-term rank runs over
    * ≤ salt·bound rows per term, bounded by construction. */
  private[graft] val Bm25PruneSalt = 32

  /** BM25 lexical retrieval over chunks (q229) — the SPARSE side of
    * hybrid retrieval: every RAG stack runs a lexical ranker next to
    * the dense index (q223) because exact-term evidence catches what
    * embeddings blur (identifiers, numbers, rare names). Corpus and
    * query batch are EXACTLY q223's (the chunk relation, queries =
    * chunk ids ≡ 0 mod 50 — more-like-this retrieval), so the two
    * rankers fuse rank-for-rank in q230. Scoring is Robertson/Lucene
    * BM25 (k₁ = 1.2, b = 0.75, idf = ln((N−df+½)/(df+½)+1)): the idf
    * quantizes to floor(·10⁴) per TERM and each (term, candidate)
    * contribution floors again before the integer per-pair sum — the
    * q143 rule, so ranking is bit-stable cross-engine (every double op
    * in between is IEEE-determined given the shared expression shape).
    *
    * Scale shape: the scoring join is query terms × posting lists —
    * Σ_q Σ_t df(t) pair rows, shuffled on the term key. The classic
    * unbounded term is a stopword's corpus-wide posting list; the
    * serving bound is ENFORCED: each query scores only its
    * [[Bm25QueryTermBound]] highest-idf terms (one per-query window
    * on the query-term × idf relation — vocabulary-scale — BEFORE the
    * posting-list join), the standard query-term-pruning trade whose
    * dropped terms are exactly the long-posting-list low-idf ones.
    * The oracle replays the same (idf desc, term) rank, so bounded
    * ranking is bit-stable cross-engine; PipelineSpec measures the
    * fixture divergence vs the unbounded definition. On top of the
    * term bound, each KEPT term scores only its
    * [[Bm25PostingBound]] highest-impact postings (impact-ordered
    * early termination — the WAND/MaxScore batch analogue; see the
    * constant's scaladoc and q243's audit relation). The
    * fixture's 31-term vocabulary makes every term frequent, which is
    * exactly the regime where length normalization and tf saturation
    * carry the ranking. Model relations (df, idf) live at vocabulary
    * scale. Corpus stats and idf are paid once per posting relation,
    * the posting prune once per relation and bound
    * ([[bm25ServeModel]]); a repeated serve pays only the
    * query-dependent tail. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopKFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus; `topK` deepens the
    * served list (q230's fusion reads both rankers at RrfDepth) and
    * `queryMod` thins the query batch (ScaleSmoke holds it fixed while
    * the corpus scales). */
  def bm25TopKFrom(docs: DataFrame, topK: Int = Bm25TopK,
      queryMod: Long = 50L,
      termBound: Int = Bm25QueryTermBound,
      postingBound: Int = Bm25PostingBound): DataFrame =
    bm25TopKFromPostings(bm25Postings(docs), topK, queryMod, termBound,
      postingBound)

  /** The (cid, len, t, tf) chunk-term POSTING relation BM25 scores
    * over — one chunk explode + a (cid, term)-keyed count. Split out
    * so the streaming lexical-index rung (q233) can build it
    * per-batch: a batch's postings are self-contained (tf and len are
    * within-chunk facts), and df/N/avgdl are sums over the union, so
    * appending per-batch postings reconstructs this relation exactly. */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    // explode the chunk token ARRAY directly — the previous form went
    // through q144's chunk_text (array_join) and re-split it; rows are
    // identical (see chunkWindowArrays' roundtrip note) without one
    // string build + regex split per chunk
    CorpusOps.chunkWindowArrays(docs)
      .select((col("doc_id") * lit(1048576L) +
          col("chunk_idx").cast("long")).as("cid"),
        size(col("arr")).cast("long").as("len"),
        explode(col("arr")).as("t"))
      .groupBy(col("cid"), col("len"), col("t"))
      .agg(count(lit(1)).as("tf"))

  /** The BM25 serve over a given posting relation: the frozen
    * [[bm25ServeModel]] (corpus stats, idf, the posting prune) plus the
    * per-request tail — the bounded query-term selection, the join
    * against the kept postings, the score aggregate and the per-query
    * rank. Shared by the one-shot path (postings built inline) and the
    * store-backed serve (postings read from the accumulated lexical
    * index, q233). */
  private[graft] def bm25TopKFromPostings(postings: DataFrame,
      topK: Int = Bm25TopK, queryMod: Long = 50L,
      termBound: Int = Bm25QueryTermBound,
      postingBound: Int = Bm25PostingBound): DataFrame = {
    val cc = GraftCache.persisted("TextAnalysis.bm", postings)
    val (idf, kept) = bm25ServeModel(cc, postingBound)
    val qTerms = cc.filter(col("cid") % queryMod === 0)
      .select(col("cid").as("query_id"), col("t")).distinct()
    // the query-term bound: keep each query's top-`termBound` idf
    // terms (deterministic (idf desc, term) rank) BEFORE the posting-
    // list join — the funnel's one unbounded edge, guarded
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("idf_q").desc, col("t"))
    val qSel = qTerms.join(idf, Seq("t"))
      .withColumn("trk", row_number().over(wt))
      .filter(col("trk") <= termBound)
      .select(col("query_id"), col("t"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("cand"))
    qSel
      .join(kept.select(col("t"), col("cid").as("cand"), col("impact")),
        Seq("t"))
      .filter(col("cand") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand"))
      .agg(sum(col("impact")).as("score_q"))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"),
        expr("cand div 1048576").as("doc_id"),
        expr("cand % 1048576").as("chunk_idx"), col("score_q"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The batch-independent half of a BM25 serve: the persisted
    * (t, idf_q) relation and the persisted (t, cid, impact) kept
    * postings, each in its own [[GraftCache.trained]] slot keyed on the
    * same analyzed plan as the `TextAnalysis.bm` posting slot. The idf
    * (with the corpus-stats job behind it) is keyed on the posting
    * relation alone, the kept postings also on the bound, so a changed
    * bound re-runs only the posting prune; a retrain unpersists the
    * frame it replaces. The stored-bound guard runs on EVERY call
    * before the slots are consulted, so an over-bound request fails
    * each time and never evicts a held model. */
  private[graft] def bm25ServeModel(cc: DataFrame,
      postingBound: Int): (DataFrame, DataFrame) = {
    bm25CheckStoredBound(cc, postingBound)
    val (idf, avgdl) = GraftCache.trained("TextAnalysis.bmIdf", cc, Nil,
      (m: (DataFrame, Double)) => { m._1.unpersist(); () }) {
      val (idf, avgdl) = bm25IdfModel(cc)
      (idf.persist(), avgdl)
    }
    val kept = GraftCache.trained("TextAnalysis.bmKept", cc,
      Seq(postingBound), (k: DataFrame) => { k.unpersist(); () }) {
      bm25KeptFor(cc, idf, avgdl, postingBound)
        .select(col("t"), col("cid"), col("impact")).persist()
    }
    (idf, kept)
  }

  /** The one construction of the model relations — (t, idf_q) and the
    * kept (t, cid, impact, prk) prefix — shared by the serve model and
    * q246's compaction annotation, so a stored prefix equals the
    * serve-time prune by construction. */
  private def bm25ModelOf(cc: DataFrame,
      postingBound: Int): (DataFrame, DataFrame) = {
    val (idf, avgdl) = bm25IdfModel(cc)
    (idf, bm25KeptFor(cc, idf, avgdl, postingBound))
  }

  /** The bound-free half of the model: (t, idf_q) and avgdl. One eager
    * job: the corpus stats. */
  private def bm25IdfModel(cc: DataFrame): (DataFrame, Double) = {
    val (nChunks, avgdl) = bm25CorpusStats(cc)
    (bm25IdfOf(cc, nChunks), avgdl)
  }

  /** Whether a posting relation carries q246's materialized `prk`
    * annotation — the predicate the serve dispatches on. */
  private def storedRank(cc: DataFrame): Boolean = cc.columns.contains("prk")

  /** A serve's prune audit — the q243 kept/skipped split at the SERVED
    * relation's shape plus which prune path a serve over it takes, so a
    * deployment sees what the bound is dropping on ITS data without a
    * separate audit query. Lazy: reading it costs one vocabulary-scale
    * aggregate; never building it costs nothing. */
  private[graft] def bm25ServeAudit(postings: DataFrame,
      bound: Int): DataFrame =
    bm25PruneAuditOf(postings.select(col("cid"), col("t")), bound)
      .withColumn("prune_path",
        lit(if (storedRank(postings)) "stored_rank" else "inline_rank"))

  /** The stored-rank guard: over a relation carrying q246's `prk`
    * annotation, validate the requested bound against the bound the
    * store was ACTUALLY compacted with (the row-constant `pbound`
    * column the annotation writes — NOT the current compile-time
    * constant, which a later build could raise and silently serve
    * truncated prefixes from an old store). A no-op on the inline path. */
  private def bm25CheckStoredBound(cc: DataFrame, postingBound: Int): Unit =
    if (storedRank(cc)) {
      // The compacted bound rides in the pbound FIELD METADATA (written
      // once at compaction; parquet persists field metadata in its
      // footer schema), so the serve guard reads it driver-side with no
      // job — a per-serve store scan for one row-constant is exactly
      // the driver-action-on-the-query-path anti-pattern (guide §5).
      // A legacy store without the metadata still carries the bound in
      // its row-constant column, read with one job; only a store with
      // no pbound column at all predates the bound and was necessarily
      // compacted with the compile-time constant.
      val storedBound = cc.schema.find(_.name == "pbound") match {
        case Some(f) if f.metadata.contains(PboundMetaKey) =>
          f.metadata.getLong(PboundMetaKey)
        case Some(_) =>
          val r = cc.agg(min(col("pbound"))).head()
          if (r.isNullAt(0)) Bm25PostingBound.toLong else r.getLong(0)
        case None => Bm25PostingBound.toLong
      }
      require(postingBound <= storedBound,
        s"store was compacted with posting ranks only to prk <= " +
          s"$storedBound; asked for $postingBound — recompact or rank " +
          "inline")
    }

  /** The kept-posting prefix (t, cid, impact, prk), dispatched on the
    * same predicate as [[bm25ServeAudit]]: over q246's annotated store
    * a filter of the stored rank, otherwise the inline two-phase rank.
    * Callers that serve run [[bm25CheckStoredBound]] first. */
  private def bm25KeptFor(cc: DataFrame, idf: DataFrame,
      avgdl: Double, postingBound: Int): DataFrame =
    if (storedRank(cc))
      cc.filter(col("prk") <= postingBound)
        .select(col("t"), col("cid"), col("impact"), col("prk"))
    else
      bm25KeptPostings(cc, idf, avgdl, postingBound)

  /** The two-phase per-term top-`bound` posting prune: phase 1 ranks
    * inside (t, cid % [[Bm25PruneSalt]]) buckets so a stopword's
    * corpus-wide posting list never sorts in one window partition
    * (every global top-`bound` row is top-`bound` in its own bucket);
    * phase 2's exact per-term (impact desc, cid) rank runs over
    * ≤ salt·bound survivors per term. The posting bound itself is the
    * batch WAND/MaxScore: each term keeps only its top-`bound`
    * postings by the SAME quantized integer impact the scorer sums, so
    * rank-thresholding it (impact desc, cid tie-break) keeps identical
    * sets cross-engine. Returns (t, cid, impact, prk) for the kept
    * prefix. */
  private def bm25KeptPostings(cc: DataFrame, idf: DataFrame,
      avgdl: Double, postingBound: Int): DataFrame = {
    val impact = floor(col("idf_q") *
      ((col("tf") * lit(2.2)) / (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("len") / lit(avgdl))))).cast("long")
    val wLocal = Window.partitionBy(col("t"), col("salt"))
      .orderBy(col("impact").desc, col("cid"))
    val wTerm = Window.partitionBy(col("t"))
      .orderBy(col("impact").desc, col("cid"))
    cc.join(idf, Seq("t"))
      .withColumn("impact", impact)
      .withColumn("salt", pmod(col("cid"), lit(Bm25PruneSalt.toLong)))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= postingBound)
      .withColumn("prk", row_number().over(wTerm).cast("long"))
      .filter(col("prk") <= postingBound)
      .select(col("t"), col("cid"), col("impact"), col("prk"))
  }

  /** Annotate a FULL posting relation with the materialized prune —
    * every row kept (df/N/avgdl must remain reconstructible from the
    * stored relation), the kept prefix carrying (impact, prk), pruned
    * rows null — the rewrite q246's lexical compaction persists so
    * every later serve filters a stored column instead of re-running
    * the two-phase rank. The prefix comes from the serve model's own
    * builder ([[bm25ModelOf]]) over the accumulated corpus, so the
    * stored prefix equals the serve-time prune by construction (the
    * oracle stays q229's SQL). */
  private[graft] def bm25AnnotatePostings(postings: DataFrame): DataFrame =
    postings.join(bm25ModelOf(postings, Bm25PostingBound)._2,
      Seq("t", "cid"), "left")
      // the bound this store is ranked to, carried ON the store (one
      // RLE-constant column, plus the same value in the field METADATA
      // so the serve guard reads it without a job): the guard validates
      // requests against what was ACTUALLY compacted, so raising the
      // compile-time constant can never silently serve an old store's
      // shorter prefixes
      .withColumn("pbound", pboundCol(Bm25PostingBound.toLong))

  /** (N, avgdl) of a posting relation — one grouped pass, run once per
    * model build ([[bm25IdfModel]]), so serve and compaction cannot
    * derive different corpus statistics. */
  private def bm25CorpusStats(cc: DataFrame): (Long, Double) = {
    val st = cc.groupBy(col("cid")).agg(first(col("len")).as("len"))
      .agg(count(lit(1)), sum(col("len"))).head()
    (st.getLong(0), st.getLong(1).toDouble / st.getLong(0))
  }

  /** The quantized (t, idf_q) model relation — vocabulary-scale;
    * shared by serve and compaction (same drift argument). */
  private def bm25IdfOf(cc: DataFrame, nChunks: Long): DataFrame =
    cc.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .withColumn("idf_q", floor(
        log((lit(nChunks) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) * lit(1e4)))
      .select(col("t"), col("idf_q"))

  /** Posting-prune audit (q243) — the sentinel report for
    * [[Bm25PostingBound]] (the funnel-guard convention: a bound that
    * drops mass must REPORT the dropped mass): per the whole corpus,
    * how many terms exist, how many carry more than the bound, and the
    * exact posting split kept/skipped. kept(t) = min(df(t), P) by
    * construction of the rank prune, so the report needs only the
    * vocabulary-scale df relation — no ranking, no posting join; it is
    * the cheap query you run BEFORE deciding the bound fits a corpus.
    * One row; every column integer. */
  def bm25PruneReport(spark: SparkSession, dir: String): DataFrame =
    bm25PruneReportFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def bm25PruneReportFrom(docs: DataFrame,
      postingBound: Int = Bm25PostingBound): DataFrame =
    bm25PruneAuditOf(bm25Postings(docs), postingBound)

  /** The audit itself, over a POSTING relation — shared by q243 (one-
    * shot corpus report) and [[bm25ServeAudit]] (the per-serve summary),
    * so the report a deployment plans with and the split a serve
    * publishes are the same construction by definition. */
  private[graft] def bm25PruneAuditOf(postings: DataFrame,
      postingBound: Int): DataFrame = {
    val p = lit(postingBound.toLong)
    postings
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("df") > p, 1L).otherwise(0L)).as("n_pruned_terms"),
        sum(col("df")).as("n_postings"),
        sum(least(col("df"), p)).as("n_kept_postings"),
        sum(greatest(col("df") - p, lit(0L))).as("n_skipped_postings"))
  }

  /** Bigram-LM conditional surprisal scoring (q228) — the next model
    * rung above q143's unigram: the corpus's own bigram MLE is the
    * language model (the in-engine stand-in for the KenLM n-gram model
    * the CCNet recipe scores with), and each document pays
    * Σ −ln P(w₂|w₁) = Σ ln(c(w₁·)/c(w₁w₂)) over its ADJACENT token
    * pairs — repetitive and formulaic text (high-probability
    * continuations) scores LOW, incoherent token soup scores HIGH,
    * which is exactly the perplexity split curation uses. Every bigram
    * scored occurs in the corpus, so the MLE is never zero and no
    * smoothing is needed. Fixed-point: each pair's surprisal quantizes
    * to floor(ln(·)·10⁴) BEFORE the integer sum (the q143/q139 rule —
    * ln is the only cross-engine ulp hazard and it never survives the
    * floor), and c(w₁w₂) ≤ c(w₁·) keeps every quantum ≥ 0, so the
    * integer mean matches `//` on both engines.
    *
    * Scale shape: one adjacent-pair explode (≈ token mass) feeding
    * three aggregates off a persisted barrier — bigram counts, prefix
    * counts, per-doc pair tf — then a pair-keyed scoring join and a
    * doc-keyed rollup. Nothing rescans the corpus; the model relations
    * live at bigram-vocabulary scale. Documents under 2 tokens have no
    * bigrams and no row (mirrored by the oracle's empty range). */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalFrom(Tables(spark, dir).documents)

  /** The adjacent-pair explode shared by q228/q235: the token array is
    * materialized as a COLUMN first (≥2 static uses → projection
    * collapse refuses to inline it), so the pair lambda reads an
    * attribute array — with the split inlined at every use site the
    * interpreted lambda re-splits the document per pair element (the
    * audio-tier re-evaluation trap, SCALING.md round-17). */
  private def adjacentPairs(docs: DataFrame): DataFrame =
    // fused kernel ≡ transform(sequence(1, size(w)-1), i =>
    //   struct(element_at(w, i), element_at(w, i+1))) with the
    // single-token guard folded in (spec-pinned)
    docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), explode(graft.functions.ShingleKernels
        .adjacent_pairs(col("w"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def bigramSurprisalFrom(docs: DataFrame): DataFrame = {
    val pairs = GraftCache.persisted("TextAnalysis.bg", adjacentPairs(docs))
    val cb = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val cp = pairs.groupBy(col("w1")).agg(count(lit(1)).as("cp"))
    pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .join(cb, Seq("w1", "w2"))
      .join(cp, Seq("w1"))
      .withColumn("q",
        floor(log(col("cp").cast("double") / col("cb")) * lit(1e4)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("q")).as("surprisal_q"))
      .withColumn("mean_surprisal_q", expr("surprisal_q div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def tfidfTopKFrom(docs: DataFrame, k: Int = 3): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    // persisted barrier: tf feeds BOTH the df aggregation and the scored
    // join — without it the token explode + (doc,term) shuffle runs twice
    val tf = GraftCache.persisted("TextAnalysis.tf", d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf_q").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_q",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df"))
          * lit(1e4)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf_q"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** Reference slice selector for the LM quality filter (q235) —
    * mirrored in the oracle: documents with doc_id % LmRefMod == 0
    * play the "trusted corpus" the language model trains on (the
    * CCNet recipe trains its KenLM on Wikipedia; any curated slice
    * works — the selector is the fixture's stand-in). */
  private[graft] val LmRefMod = 5L

  /** Number of quality buckets (head / middle / tail) — the CCNet
    * split; mirrored in the oracle's ntile. */
  private[graft] val LmQualityTiles = 3L

  /** Reference-LM perplexity quality buckets (q235) — the CCNet
    * quality split, the missing half of q228: there the corpus scores
    * itself (an in-distribution fluency readout); here a bigram LM
    * trains on a TRUSTED REFERENCE SLICE only and every document is
    * scored under that FROZEN model, so text unlike the reference —
    * boilerplate, token soup, wrong-language — pays high conditional
    * surprisal regardless of how self-consistent it is. Documents are
    * then split into head/middle/tail terciles of the score (the
    * CCNet buckets: keep head, maybe-keep middle, drop tail).
    *
    * Model: add-one smoothing over the reference continuation
    * alphabet — P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) with V = distinct
    * continuations in the reference bigrams, clamped to ≥ 1 so an
    * EMPTY reference slice degrades to a finite all-zero readout on
    * both engines instead of Spark-NULL vs DuckDB -inf — so unseen
    * pairs and
    * unseen prefixes (impossible in q228, routine under a held-out
    * model) score finitely and every surprisal is ≥ 0 (c(w₁w₂) ≤
    * c(w₁·) and 1 ≤ V keep the ratio ≥ 1). Fixed-point: each pair
    * quantizes to floor(ln((c₁+V)/(c₁₂+1))·10⁴) BEFORE the integer
    * sum (the q143/q228 rule — ln never survives the floor), and the
    * tercile derives from the GLOBAL (mean, doc_id) rank via the
    * SQL-spec ntile formula, so the whole readout carries a DuckDB
    * oracle.
    *
    * Scale shape: ONE persisted adjacent-pair explode (≈ token mass)
    * feeds the reference counts (a filter on the same relation —
    * model relations stay at bigram-vocabulary scale) and the per-doc
    * scoring; the smoothing constant V is a 1-row broadcast. The
    * global tercile is the [[GlobalOrder]] two-pass (per-bucket ranks
    * in parallel + metadata-scale offsets), never an unpartitioned
    * ntile window — the q157 deciles shape at corpus scale. */
  def lmQualityBuckets(spark: SparkSession, dir: String): DataFrame =
    lmQualityBucketsFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def lmQualityBucketsFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = GraftCache.persisted("TextAnalysis.lmq", adjacentPairs(docs))
    val ref = pairs.filter(col("doc_id") % LmRefMod === 0)
    val cb = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cp = ref.groupBy(col("w1")).agg(count(lit(1)).as("cp"))
    // V clamped to ≥ 1 (oracle mirrors): an empty reference slice
    // otherwise yields log(0) → NULL here but ln(0) = -inf in DuckDB —
    // divergent failure modes; with the clamp both sides degrade to a
    // finite all-zero-surprisal readout identically
    val vv = ref.agg(greatest(count_distinct(col("w2")), lit(1L)).as("v"))
    val ds = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .join(cb, Seq("w1", "w2"), "left")
      .join(cp, Seq("w1"), "left")
      .crossJoin(broadcast(vv))
      .withColumn("q", floor(log(
        (coalesce(col("cp"), lit(0L)) + col("v")).cast("double") /
          (coalesce(col("cb"), lit(0L)) + lit(1L))) * lit(1e4)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("q")).as("surprisal_q"))
      .withColumn("mean_surprisal_q", expr("surprisal_q div n_bigrams"))
    val bucketed = GraftCache.persisted("TextAnalysis.lmqBucket", GlobalOrder
      .bucketizeForUniqueOrder(ds, col("mean_surprisal_q"),
        desc = false, col("doc_id")))
    val (bases, totals) = GlobalOrder.exclusiveOffsets(bucketed,
      Seq(count(lit(1)).as("cnt")))
    val total = totals.head
    val offsets = bases.map { case (b, Seq(c)) => (b, c) }
      .toDF("bucket", "rn_base")
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("mean_surprisal_q"), col("doc_id"))
    val rn = col("rn_base") + row_number().over(wLocal)
    bucketed
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_q"),
        col("mean_surprisal_q"),
        GlobalOrder.ntileFromRank(rn, lit(total), LmQualityTiles)
          .cast("long").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary frequency spectrum (q177) — the Zipf/Heaps readout a
    * corpus audit runs before tokenizer training: for each term
    * frequency class k (1..10, then an 11+ tail bucket), how many
    * DISTINCT terms occur exactly k times (k=1 is the hapax count — the
    * misspelling/noise mass) and how many tokens that class carries.
    * Whitespace tokens, the same rule as the surprisal/TF-IDF tier, so
    * the spectra compose.
    *
    * Scale shape: a double aggregation — token explode → per-term
    * counts (term-keyed, map-side combinable), then counts-of-counts
    * over the TERM relation (vocabulary scale, far below token scale) —
    * the classic frequency-of-frequencies shape; result is ≤ 11 rows. */
  def vocabularySpectrum(spark: SparkSession, dir: String): DataFrame =
    vocabularySpectrumFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (text) corpus — ScaleSmoke runs this at
    * amplified vocabulary scale. */
  private[graft] def vocabularySpectrumFrom(docs: DataFrame): DataFrame = {
    val termCounts = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    termCounts
      .withColumn("freq_class", when(col("c") <= 10, col("c")).otherwise(11L))
      .groupBy(col("freq_class"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_tokens"))
      .orderBy(col("freq_class"))
  }
}
