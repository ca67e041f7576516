package graft.operators

import graft.Tables
import graft.functions.PolyHash.poly_hash
import graft.functions.SimHash64.simhash64
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (SURVEY §2.l; north star
  * in BASELINE.json). Four tiers, cheapest first — the standard cascade a
  * 100 TB corpus clean-up runs:
  *
  *  1. exact (hash group-by) — one shuffle on the text hash;
  *  2. minhash + LSH banding — shingle → 64 seeded min-hashes → 16 bands →
  *     bucket self-join, so candidate generation never goes quadratic;
  *  3. simhash — one 64-bit fingerprint per doc, near-dups differ in few
  *     bits (banded by 16-bit chunks for the same sub-quadratic property);
  *  4. exact n-gram Jaccard — the expensive verifier, run only on small
  *     candidate sets (here: a bounded id range so the SQL oracle can
  *     recompute it exactly).
  *
  * Scale notes: every self-join is on a bucket/band key (shuffle on that
  * key, never a cross join); the shingle explosion is the big intermediate
  * (docs × shingles) and flows straight into a partial-aggregated group-by,
  * so it never materializes. The hash inner loops are native codegen'd
  * Catalyst expressions (PolyHash / SimHash64), not Scala UDFs.
  */
object Dedup {

  private val K = 8            // shingle length
  private[graft] val NumHashes = 64   // minhash signature width
  private[graft] val NumBands = 16    // LSH bands (4 rows each)

  /** Exact dedup clusters: canonical (min) doc id + multiplicity per
    * distinct text. The group-by key is the CONTENT HASH (md5), not the
    * text itself: the shuffle then carries 16-byte digests instead of
    * whole documents — at corpus scale the difference between shuffling
    * ~100 TB and ~a few GB. Collision probability is 2⁻¹²⁸ (the standard
    * exact-dedup key in production corpus pipelines); the oracle computes
    * the identical digest, so the compare stays bit-exact. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy(col("canonical_id"))

  /** doc_id → exploded distinct shingles.
    *
    * The input is repartitioned first: shingling expands each row ~450×,
    * so splits must be sized for the *expanded* data (the cluster-scale
    * analogue is lowering `spark.sql.files.maxPartitionBytes` ahead of an
    * explode) — a single tiny parquet row group would otherwise serialize
    * the whole pipeline onto one core. */
  private def shingleRows(docs: DataFrame): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // fused kernel ≡ TextFunctions.shingles (array_distinct over the
    // lower+substr HOF transform) — spec-pinned bit-equality
    docs.repartition(p)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.ShingleKernels.char_shingles(col("text"), K))).as("sh"))
  }

  /** Same, multiset shingles (cheaper; what minhash consumes). */
  private def shingleRowsAll(docs: DataFrame): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(p)
      .select(col("doc_id"), explode(
        graft.functions.ShingleKernels.char_shingles(col("text"), K)).as("sh"))
  }

  /** Exact n-gram Jaccard top-k similar pairs over a bounded id range
    * (the verification tier; oracle recomputes it in pure SQL). jacc_pm is
    * integer parts-per-thousand — floor(1000·|∩| / |∪|). */
  def ngramJaccardTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.filter(col("doc_id") < 100)
    val sh = shingleRows(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("ia"), col("sh"))
    val b = sh.select(col("doc_id").as("ib"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), Seq("ia"))
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        floor(lit(1000) * col("ninter") / (col("na") + col("nb") - col("ninter")))
          .cast("long").as("jacc_pm"))
      .orderBy(col("jacc_pm").desc, col("ia"), col("ib"))
      .limit(20)
  }

  /** Minhash signature per document via the MinHashSig
    * TypedImperativeAggregate (one array buffer per doc — see
    * functions/MinHashSig.scala), plus the 16 band keys (xxhash64 of 4
    * consecutive signature slots). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shingleRowsAll(docs)
    val sigs = sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSig.minhash_sig(col("sh"), NumHashes).as("sig"))
    val bandCols: Seq[Column] = (0 until NumBands).map { b =>
      xxhash64(lit(b) +: (0 until 4).map(r =>
        element_at(col("sig"), 4 * b + r + 1)): _*).as(s"band$b")
    }
    sigs.select(col("doc_id") +: col("sig") +: bandCols: _*)
  }

  /** MinHash-LSH near-dup detection, reported as a 1-row summary
    * (candidate pairs from band-bucket collisions; "duplicates" = estimated
    * Jaccard ≥ 0.5, i.e. ≥ 32 of 64 signature slots agree). The fixture
    * corpus carries a small planted near-dup mass (25 dup pairs of 34
    * candidates at sf0.01), so the whole funnel — docs → candidates →
    * dups — is assertable, and the q129 keep-list acts on those pairs. */
  def minhashLshSummary(spark: SparkSession, dir: String): DataFrame =
    minhashLshSummaryFrom(Tables(spark, dir).documents)

  /** The shared minhash-LSH candidate stage: cached signatures, band
    * explosion, [[BucketGuard]], the band-bucket self-join and the
    * signature agreement count. Returns (cached sigs, candidate pairs
    * with `agree`, 1-row skipped-mass summary, escalated exact-dup
    * pairs). The signature persist is the materialization barrier — the
    * scan feeds 4 downstream branches (2 band sides + 2 signature sides)
    * which would each recompute the shingle explosion otherwise.
    *
    * The escalation rung: inside each over-cap band bucket, docs whose
    * md5(text) matches a lower-id doc in the same bucket are exact
    * duplicates — returned as (canonical, dup) pairs. Sound under the
    * funnel's own rule (identical text ⇒ identical signature ⇒ agree
    * 64/64 ≥ 32) and LINEAR in the bucket (group-by + join back, no
    * self-join) — so the mass-duplicated boilerplate that MAKES a bucket
    * hot still dedups; only non-identical near-dup mass inside hot
    * buckets stays conservative-kept. */
  private def minhashCandidates(docs: DataFrame, maxBucket: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sigs = GraftCache.persisted("Dedup.sig", minhashSignatures(docs))
    val sigArr = sigs.select(col("doc_id"), col("sig"))
    // candidates: same band value in any band, deduplicated across bands
    val bandRows = sigs.select(col("doc_id"),
      posexplode(array((0 until NumBands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_val")))
    val (keptRows, hotRowsOpt, skipped) =
      BucketGuard(bandRows, Seq("band_idx", "band_val"), maxBucket)
    val escPairs = hotRowsOpt match {
      case None =>
        // no over-cap bucket ⇒ the md5 re-scan of `docs` is never planned
        val s = docs.sparkSession
        s.range(0).select(col("id").as("ia"), col("id").as("ib"))
      case Some(hotRows) =>
        val escHot = hotRows.join(
          docs.select(col("doc_id"), md5(col("text")).as("_md5")), Seq("doc_id"))
        val escCanon = escHot.groupBy(col("band_idx"), col("band_val"), col("_md5"))
          .agg(min(col("doc_id")).as("ia"))
        escHot.join(escCanon, Seq("band_idx", "band_val", "_md5"))
          .filter(col("doc_id") =!= col("ia"))
          .select(col("ia"), col("doc_id").as("ib"))
          .distinct()
    }
    val cand = keptRows.alias("x")
      .join(keptRows.alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    val withEst = cand
      .join(sigArr.select(col("doc_id").as("ia"), col("sig").as("sa")), Seq("ia"))
      .join(sigArr.select(col("doc_id").as("ib"), col("sig").as("sb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        graft.functions.QuantKernels.vec_eq_count(col("sa"), col("sb")).as("agree"))
    (sigs, withEst, skipped, escPairs)
  }

  /** Same, over an arbitrary (doc_id, text) corpus — lets tests plant
    * synthetic near-duplicates and assert the funnel finds them.
    * `maxBucket` is the [[BucketGuard]] cap: band buckets holding more
    * documents than this are excluded from candidate generation and
    * reported as skipped mass (columns 4-5 of the summary), bounding the
    * worst case on a degenerate corpus at maxBucket²/2 pairs per bucket. */
  def minhashLshSummaryFrom(docs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val (sigs, withEst, skipped, escPairs) = minhashCandidates(docs, maxBucket)
    // Funnel denominator: `n_docs` counts SIGNABLE documents (≥ 1
    // shingle, i.e. non-null text of ≥ K chars). Unsignable docs cannot
    // participate in near-dup detection, so they are intentionally
    // outside the funnel — and counting the cached signatures avoids a
    // second full scan of `docs` just for a cosmetic total. (Filter/
    // report empties upstream; a mass of empty docs would otherwise need
    // its own trivial-dup rule.)
    val nDocs = sigs.count()
    // n_escalated: docs dropped by the exact-dedup rung inside over-cap
    // buckets — the summary's answer to "did the guard swallow the
    // boilerplate, or did the escalation still dedup it?"
    val nEsc = escPairs.select(col("ib")).distinct()
      .agg(count(lit(1)).as("n_escalated"))
    withEst.agg(
        lit(nDocs).as("n_docs"),
        count(lit(1)).as("n_candidate_pairs"),
        coalesce(sum(when(col("agree") >= NumHashes / 2, 1L).otherwise(0L)),
          lit(0L)).as("n_dup_pairs"))
      .crossJoin(skipped) // 1 row × 1 row: funnel counts + skipped mass
      .crossJoin(nEsc)
  }

  /** Candidate-agreement histogram (q168) — the threshold-tuning
    * diagnostic behind the funnel's `agree >= 32` dup rule: how many
    * candidate pairs agree on exactly k of 64 signature slots. A
    * bimodal histogram (noise hump low, near-dup spike high) validates
    * the threshold; mass piling at the cut means the τ needs moving —
    * the readout a pipeline owner checks before re-tuning minhash
    * parameters. Same funnel as q42 (band-bounded candidates, guard
    * applied), so the histogram costs one extra metadata-scale
    * aggregate over the candidate relation. */
  def agreementHistogram(spark: SparkSession, dir: String): DataFrame = {
    val (_, withEst, _, _) = minhashCandidates(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")), 1000)
    withEst.groupBy(col("agree").cast("long").as("agree"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("agree"))
  }

  /** Fuzzy-dedup keep-list — the ACTION tier on top of the q42 funnel:
    * the same minhash-LSH candidates and agree >= 32 dup rule, then
    * connected components over the dup-pair graph (GraphX min-id labels,
    * the q35 primitive: near-dup clusters are tiny, so the component
    * step converges in a handful of supersteps), and canonical =
    * component minimum. EVERY document appears in the output —
    * non-duplicated and unsignable docs are their own canonical — so the
    * table is directly joinable as a dedup filter
    * (`WHERE doc_id = canonical_id` keeps one representative per
    * near-dup cluster, the standard corpus-pipeline contract).
    *
    * Scale shape: inherits the funnel's bucket bounds; the CC step runs
    * on dup PAIRS only (orders of magnitude smaller than the corpus) and
    * transitivity is handled exactly — A~B~C collapses to one canonical
    * even when A and C never shared a band. */
  def fuzzyDedupKeep(spark: SparkSession, dir: String): DataFrame =
    fuzzyDedupKeepFrom(spark, Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def fuzzyDedupKeepFrom(spark: SparkSession, docs: DataFrame,
      maxBucket: Int = 1000): DataFrame =
    keepListFrom(spark, docs, maxBucket).orderBy(col("doc_id"))

  /** Unordered (doc_id, canonical_id) keep-list core shared by the
    * registered q129 form and the consumers that post-process it
    * (q166 savings rollup, q195 leakage-safe split) — those add their
    * own shuffle/order, so the core stays sort-free. */
  private[graft] def keepListFrom(spark: SparkSession, docs: DataFrame,
      maxBucket: Int = 1000): DataFrame =
    GraphOps.canonicalIds(docs.select(col("doc_id")),
      dupPairsFrom(docs, maxBucket))

  /** The verified near-dup PAIR relation (agree ≥ 32 funnel pairs ∪
    * the escalated exact pairs inside over-cap buckets) — the graph the
    * keep-list's CC and the topic-grouping rung (q219) both consume. */
  private[graft] def dupPairsFrom(docs: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    val (_, withEst, _, escPairs) = minhashCandidates(docs, maxBucket)
    // the escalated exact-dup pairs join the graph: identical docs inside
    // over-cap buckets collapse to the same canonical even though they
    // never reached the band self-join
    withEst.filter(col("agree") >= NumHashes / 2)
      .select(col("ia"), col("ib"))
      .unionByName(escPairs)
  }

  /** Near-dup-graph topic communities (q219) — the q211 modularity
    * rung run over q129's verified dup-pair graph: where the keep-list
    * collapses each CONNECTED component to one canonical (the drop
    * decision), this groups the dup graph into modularity communities
    * (the MIXTURE decision — which boilerplate/template families
    * dominate, which clusters to down-weight together). A giant
    * transitively-chained component that CC cannot split — template A
    * near-dup of B, B of C, A unrelated to C — partitions into its
    * dense cores here. Documents outside every dup pair are trivially
    * their own community and are excluded (the output covers the dup
    * graph, not the corpus). Inherits the funnel's bucket caps and the
    * q211 move-phase's edge-linear rounds. */
  def dupGraphCommunities(spark: SparkSession, dir: String): DataFrame =
    dupGraphCommunitiesFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def dupGraphCommunitiesFrom(docs: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = dupPairsFrom(docs, maxBucket).distinct()
    val ue = pairs.select(col("ia").as("src"), col("ib").as("dst"))
      .unionByName(pairs.select(col("ib").as("src"), col("ia").as("dst")))
      .distinct()
    GraphOps.modularityCommunitiesFrom(ue)
      .select(col("node").as("doc_id"), col("community"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/validation/test split (q195): assign every
    * NEAR-DUP COMPONENT — not every document — to a split, so two
    * near-duplicate documents can never land on opposite sides of an
    * evaluation boundary. Splitting i.i.d. per document is the classic
    * train/test-contamination bug (the eval set "leaks" via paraphrases
    * and boilerplate twins of training docs); splitting per canonical
    * component closes it by construction.
    *
    * The component labels are exactly q129's keep-list ([[keepListFrom]]:
    * the q42 minhash funnel, agree >= 32, CC over dup pairs), and the
    * split decision is the deterministic Knuth uniform of the CANONICAL
    * id — `hash(canonical) mod 100` → [0,90) train / [90,95) validation /
    * [95,100) test — the same carry-split ANSI-safe hash as the sampling
    * family (CorpusOps.knuthHash32), so the split is reproducible across
    * runs, engines, and corpus growth (a component keeps its side when
    * new members join it, as long as its minimum id survives).
    *
    * Scale shape: inherits the funnel's bucket bounds and pairs-only CC;
    * the split itself is one hash + CASE on the already-joined canonical
    * column — zero additional shuffles over q129. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    leakageSafeSplitFrom(spark, Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def leakageSafeSplitFrom(spark: SparkSession, docs: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    val h = CorpusOps.knuthHash32("canonical_id") % lit(100L)
    keepListFrom(spark, docs, maxBucket)
      .withColumn("split",
        when(h < 90, lit("train"))
          .when(h < 95, lit("validation"))
          .otherwise(lit("test")))
      .orderBy(col("doc_id"))
  }

  /** Per-document fingerprints: rolling PolyHash of the full text + 64-bit
    * SimHash of the token stream + its four 16-bit band keys (the join keys
    * a banded Hamming-distance self-join would use). Both hashes are native
    * codegen'd expressions. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprintsFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  def fingerprintsFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        poly_hash(lower(col("text")), lit(0L)).as("fingerprint"),
        simhash64(split(lower(col("text")), " ")).as("simhash"))
      .select(col("doc_id"), col("fingerprint"), col("simhash"),
        // bitwiseAND, not %: signed remainder of a negative simhash is
        // negative, which would split the low-16-bit band into two buckets
        col("simhash").bitwiseAND(lit(0xFFFFL)).as("band0"),
        shiftrightunsigned(col("simhash"), 16).bitwiseAND(lit(0xFFFFL)).as("band1"),
        shiftrightunsigned(col("simhash"), 32).bitwiseAND(lit(0xFFFFL)).as("band2"),
        shiftrightunsigned(col("simhash"), 48).as("band3"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (the MOSS scheme, Schleimer et al. 2003):
    * polynomial hash of every char 16-gram, then the minimum hash of each
    * window of 8 consecutive gram hashes, deduplicated per document. Two
    * documents sharing any ≥23-char substring are GUARANTEED to share a
    * fingerprint (window+gram-1), which is what makes this the
    * position-robust substring analogue of q40's whole-text hash.
    *
    * Scale shape: the production path is ONE codegen'd
    * [[graft.functions.WinnowFps]] call per document (the staged
    * higher-order-function form survives only as the cross-check,
    * [[winnowFingerprintSetsHofFrom]]) — per-document work, NO shuffle
    * before the output explode; a downstream near-dup join would bucket
    * on `fp` exactly like the minhash bands. The hash is (h*31+c) mod
    * 1e9+7 so the DuckDB oracle can replay it bit-exactly in BIGINT (no
    * overflow, no unsigned mismatch). */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsFrom(Tables(spark, dir).documents)

  /** Per-document fingerprint SET (doc_id, fps array) — the testable unit.
    * One codegen'd [[graft.functions.WinnowFps]] evaluation per document;
    * see [[winnowFingerprintSetsHofFrom]] for the built-in-only reference
    * formulation this is cross-checked against. */
  def winnowFingerprintSetsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WinnowFps.winnow_fps(lower(col("text"))).as("fps"))

  /** The same winnow stated purely with built-in higher-order functions —
    * the formulation a user without the extension jar would write, kept as
    * the exact-equality cross-check for the codegen expression (and as the
    * 1:1 mirror of the DuckDB oracle's list-lambda SQL).
    *
    * Equality caveat: this form reads each character via `ascii()`, which
    * returns the first BYTE of the UTF-8 encoding, while the native
    * [[graft.functions.WinnowFps]] iterates full codepoints. The two agree
    * exactly on ASCII corpora (the fixtures, and the DuckDB replay, are
    * ASCII) and diverge on multi-byte characters — there the codepoint
    * form is authoritative; this cross-check is pinned to ASCII input.
    *
    * Cost discipline (higher-order functions run interpreted, so the
    * expression shape IS the algorithm):
    *   - char codes come from `split(text, "")` — one O(L) pass; indexing
    *     a gram is then an O(K) numeric-array slice. A per-char
    *     `substr(text, i, 1)` would walk the UTF8 bytes from the start
    *     every call: O(L²) per document, fatal on long documents;
    *   - each stage is its OWN projection column, referenced twice
    *     (size guard + slice), which stops CollapseProject from inlining
    *     an array subtree into a downstream lambda — an inlined array is
    *     re-evaluated per lambda ELEMENT, turning O(L·K) into
    *     O(L²·K);
    *   - the query-facing summary below aggregates the array instead of
    *     exploding it: a Generate would let InferFiltersFromGenerate
    *     plant a `size(fps) > 0` filter with the whole pipeline inlined,
    *     recomputing it once more per row. */
  def winnowFingerprintSetsHofFrom(docs: DataFrame): DataFrame = {
    val K = 16 // gram length (chars)
    val W = 8  // winnow window (grams)
    val P = 1000000007L
    val nGram = size(col("cs")) - lit(K - 1)
    val nWin = size(col("hs")) - lit(W - 1)
    docs
      .select(col("doc_id"),
        transform(filter(split(lower(col("text")), ""), c => c =!= ""),
          c => ascii(c).cast("long")).as("cs"))
      .select(col("doc_id"),
        transform(
          when(nGram >= 1, sequence(lit(1), nGram))
            .otherwise(array().cast("array<int>")),
          i => aggregate(slice(col("cs"), i, lit(K)), lit(0L),
            (acc, c) => (acc * 31L + c) % P)).as("hs"))
      .select(col("doc_id"),
        array_distinct(transform(
          when(nWin >= 1, sequence(lit(1), nWin))
            .otherwise(array().cast("array<int>")),
          i => array_min(slice(col("hs"), i, lit(W))))).as("fps"))
  }

  /** Same, summarized one row per document for the oracle compare: the
    * fingerprint count plus min/max/sum of the set (order-independent,
    * bit-exact in BIGINT). */
  def winnowFingerprintsFrom(docs: DataFrame): DataFrame =
    winnowFingerprintSetsFrom(docs)
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum"))
      .orderBy(col("doc_id"))

  /** Repeated-segment removal (q137) — segment-granular exact dedup, the
    * CCNet/RefinedWeb-style cleaning step that whole-document dedup
    * cannot express: boilerplate (headers, navigation, license blocks)
    * repeats ACROSS documents that are otherwise distinct, so the dedup
    * unit must be the segment, not the document. Documents are split
    * into consecutive `segWords`-word segments (the fixture corpus is
    * newline-free, so fixed word windows stand in for CCNet's lines —
    * the funnel is identical for any deterministic segmenter); a segment
    * appearing in ≥ `minDocs` DISTINCT documents is removed from every
    * document, and the survivors are reassembled in original order.
    * Output per document: (doc_id, n_segments, n_dropped, cleaned_text)
    * — directly hash-comparable, and the cleaned_text column is the
    * operator's actual product for a training pipeline.
    *
    * Scale shape: the explosion is ~L/segWords rows per document; the
    * frequency tier shuffles (md5 digest, doc_id) pairs — 16-byte keys,
    * not segment text — into a two-level distinct-count aggregate; the
    * hot digests mark dropped positions through a digest-keyed
    * left_semi join, each document's dropped indices group into one
    * array row, and one doc-keyed join rebuilds the text locally from
    * the scan. No self-join anywhere — the whole funnel is two
    * key-shuffles plus the reassembly, linear in corpus size. */
  def repeatedSegmentRemoval(spark: SparkSession, dir: String): DataFrame =
    repeatedSegmentRemovalFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus — lets tests plant a
    * shared boilerplate segment and assert it vanishes everywhere while
    * unique segments survive verbatim. */
  def repeatedSegmentRemovalFrom(docs: DataFrame, segWords: Int = 10,
      minDocs: Int = 2): DataFrame = {
    // No repartition of the text: the final per-doc join's `dropped`
    // side holds drop indices only and broadcasts at shard scale; past
    // broadcast scale the join plans sort-merge and shuffles the text
    // once, as a doc-keyed repartition here would have.
    val words = docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
    // fused kernel ≡ transform(sequence(0, ceil(size(w)/segWords)-1),
    //   i => array_join(slice(w, i*segWords+1, segWords), " ")) —
    // one pass, no interpreted lambda / per-segment slice (spec-pinned)
    val segArr = graft.functions.ShingleKernels
      .word_segments(col("w"), segWords)
    // The digest relation carries (doc_id, seg_idx, h) ONLY — segment
    // text never leaves the scan task. The prior formulation shuffled
    // segment TEXT through a digest-keyed anti-join and a doc-keyed
    // sort-collect reassembly; now the frequency tier elects hot
    // digests, each doc collects its DROPPED segment indices into one
    // array row (dropped mass only), and the cleaned text is rebuilt
    // LOCALLY from the doc row's own word array (omit_segments —
    // consecutive fixed segments joined with " " reproduce the original
    // word sequence exactly, so keeping all segments ≡ the original
    // text). §2.3 / guide §8: shuffle the lightweight proxy, move the
    // heavy bytes once.
    val segs = words
      .select(col("doc_id"), posexplode(segArr).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        md5(col("seg")).as("h"))
    val hot = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val dropped = segs.join(hot, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("seg_idx")).as("drop_idx"))
    val nseg = ceil(size(col("w")) / lit(segWords.toDouble)).cast("long")
    // null-text parity with the pre-restructure assembly (a null text
    // produced no exploded segments, so every column coalesced):
    // n_segments/cleaned_text coalesce to 0/"" exactly as the old
    // LEFT-join-the-aggregates shape did
    words
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(nseg, lit(0L)).as("n_segments"),
        coalesce(size(col("drop_idx")), lit(0)).cast("long").as("n_dropped"),
        coalesce(when(col("drop_idx").isNull, col("text"))
          .otherwise(graft.functions.ShingleKernels
            .omit_segments(col("w"), col("drop_idx"), segWords)), lit(""))
          .as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Arbitrary-span repeated-substring detection (q192) — the rung
    * between q137's FIXED 10-word segments and q40's whole documents:
    * the Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better") cleaning tier that flags repeated spans of ANY length ≥
    * `n` tokens. The suffix-array formulation is pointer-chasing; this
    * is the shuffle-idiom equivalent: every `n`-token window (shingle)
    * is counted corpus-wide, and per document the positions whose
    * window is corpus-duplicated (≥ 2 occurrences anywhere, including
    * within the same document) are RUN-MERGED — maximal runs of
    * consecutive duplicated windows — so a repeated span of k ≥ n
    * tokens surfaces as one row with its exact start and length
    * (k − n + 1 consecutive duplicated windows ⟺ a k-token span).
    * Semantics note: this is span COVERAGE (every n-window of the span
    * is duplicated somewhere), the practical cleaning rule — a true
    * suffix array additionally proves the span repeats as one unit;
    * coverage is the superset a pipeline masks.
    *
    * Output: (doc_id, span_start 1-based, span_tokens, n_windows) per
    * maximal span — integer end to end, full DuckDB oracle.
    *
    * Scale shape: the shingle explosion is ~token mass; the frequency
    * tier shuffles md5 digests (16-byte keys, q137's discipline) into a
    * map-side-combinable count; the mark step is a digest-keyed
    * left_semi (same key, same partitioning); the run-merge window is
    * PARTITIONED BY doc — per-task state bounded by document length.
    * No self-join, no pair enumeration anywhere: two key-shuffles plus
    * a per-doc window, linear in corpus size — the reason no
    * BucketGuard cap is needed (a hot shingle costs one count row, not
    * a candidate blow-up). */
  def repeatedSpans(spark: SparkSession, dir: String): DataFrame =
    repeatedSpansFrom(Tables(spark, dir).documents)

  /** The (doc_id, pos, h) sliding-window digest relation shared by
    * [[repeatedSpans]], [[spanDedupClean]] and the span-level
    * decontamination (TextAnalysis.spanDecontaminate): every n-token
    * window's md5, 1-based start position. Not persisted: callers read
    * a fresh corpus each time, so a held copy would cost a cache build
    * (and a job per consumer) and never be reused. */
  private[graft] def spanShingles(docs: DataFrame, n: Int): DataFrame = {
    // fused kernel ≡ the HOF form `when(size(w) >= n,
    // transform(sequence(1, size(w)-(n-1)), i =>
    //   md5(array_join(slice(w, i, n), " ")))).otherwise(array())`
    // — one pass per document instead of an interpreted lambda + a
    // sliced array + a joined string per window (spec-pinned)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleKernels.window_md5(col("w"), n))
          .as(Seq("off", "h")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"),
        col("h"))
  }

  /** Same, over an arbitrary (doc_id, text) corpus — lets tests plant a
    * known k-token repeated span and assert exact boundaries. */
  def repeatedSpansFrom(docs: DataFrame, n: Int = 8): DataFrame = {
    val sh = spanShingles(docs, n)
    val rep = sh.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    sh.join(rep, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"),
        (col("n_windows") + (n - 1)).as("span_tokens"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Verbatim-unit verification over the span tier (q212) — the rung
    * that distinguishes "this passage is a VERBATIM repeated unit"
    * from "this span is a MOSAIC of independently-common phrases".
    * q192's coverage semantics flag every maximal run of duplicated
    * n-token windows; two very different corpus phenomena produce such
    * runs: a passage copied whole (every window AND the whole unit
    * repeat), and a chain of boilerplate phrases whose windows each
    * repeat SOMEWHERE but whose concatenation exists only here. A
    * cleaning pipeline treats them differently (drop the copy; keep
    * the mosaic, maybe down-weight), so each span gets a unit check:
    * span_digest = md5 of the span's member-window digests in position
    * order, and `verbatim` ⟺ ≥2 maximal runs in the corpus share that
    * digest (equal digest sequence ⟺ equal token sequence, modulo
    * md5). Note the unit is the MAXIMAL run: a verbatim passage
    * embedded in a longer flagged run (e.g. extended by adjacent
    * boilerplate) reports the longer run's digest — the honest
    * coverage-tier semantics, spec-pinned on a planted
    * mosaic-vs-verbatim corpus.
    *
    * Scale shape: q192's funnel plus ONE extra aggregate over flagged
    * mass only (the ordered digest concat rides the existing per-span
    * group-by; the unit count is a digest-keyed count over span rows —
    * spans, not windows). Zero pair enumeration, no cap needed. */
  def spanUnits(spark: SparkSession, dir: String): DataFrame =
    spanUnitsFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def spanUnitsFrom(docs: DataFrame, n: Int = 8): DataFrame = {
    val sh = spanShingles(docs, n)
    val rep = sh.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = sh.join(rep, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_windows"),
        md5(concat_ws("|", transform(
          array_sort(collect_list(struct(col("pos"), col("h")))),
          p => p.getField("h")))).as("span_digest"))
    val units = spans.groupBy(col("span_digest"))
      .agg(count(lit(1)).as("n_unit_copies"))
    spans.join(units, Seq("span_digest"))
      .select(col("doc_id"), col("span_start"),
        (col("n_windows") + (n - 1)).as("span_tokens"), col("n_windows"),
        col("span_digest"), col("n_unit_copies"),
        (col("n_unit_copies") >= 2).as("verbatim"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Repeated-span CLEANING (q193) — the action tier over [[repeatedSpans]]'
    * detection, completing the Lee et al. rule: every duplicated n-token
    * window elects ONE canonical occurrence (the lexicographically first
    * (doc_id, pos) in the corpus); all other occurrences are masked, and
    * EVERY token covered by ANY masked window is dropped; survivors
    * reassemble in original order. For repeats that don't overlap each
    * other this keeps exactly one copy of each repeated span (unlike
    * q137, which drops a hot segment from EVERY document). When a repeat
    * overlaps its own canonical occurrence — a self-repeat with period
    * &lt; n, e.g. 10 identical tokens at n = 8 — masked windows cover
    * part of the canonical copy too, so the canonical occurrence is only
    * guaranteed to survive intact for non-overlapping repeats. The
    * oracle replays the same covered-token rule, so both engines agree
    * on this semantics by construction.
    *
    * Output per document: (doc_id, n_tokens, n_dropped, cleaned_text),
    * the q137 shape — directly hash-comparable and the actual product a
    * training pipeline writes.
    *
    * Scale shape: the q192 funnel plus (a) a per-digest lexicographic-min
    * aggregate (min(struct) ≡ the oracle's two-step min — map-side
    * combinable), (b) an n-fold bounded explode of MASKED positions into
    * covered token indices (≤ n × duplicated-window mass), and (c) the
    * q137 per-doc reassembly (state bounded by document length). Still
    * zero pair enumeration. */
  def spanDedupClean(spark: SparkSession, dir: String): DataFrame =
    spanDedupCleanFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def spanDedupCleanFrom(docs: DataFrame,
      n: Int = 8): DataFrame = {
    val sh = spanShingles(docs, n)
    // canonical occurrence per duplicated window: lexicographic min of
    // (doc_id, pos) — the struct min, identical to the oracle's
    // min(doc_id)-then-min(pos) two-step
    val canon = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("c"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("c.doc_id").as("cd"), col("c.pos").as("cp"))
    val masked = sh.join(canon, Seq("h"))
      .filter(!(col("doc_id") === col("cd") && col("pos") === col("cp")))
      .select(col("doc_id"), col("pos"))
    dropCoveredTokens(docs, masked, n)
  }

  /** Drop every token covered by a masked window position and reassemble
    * the survivors in order — the reassembly tier shared by the span
    * cleaners ([[spanDedupClean]] keep-one-copy masking, span-level
    * decontamination drop-all masking). `masked` is (doc_id, pos) of
    * n-token window starts; output is the q137 shape
    * (doc_id, n_tokens, n_dropped, cleaned_text) over ALL of `docs`.
    * Scale: the covered explode is ≤ n × masked-window mass; the
    * reassembly is one per-doc aggregate bounded by document length. */
  private[graft] def dropCoveredTokens(docs: DataFrame, masked: DataFrame,
      n: Int): DataFrame = {
    // Collect each doc's covered positions into ONE array row and drop
    // the tokens LOCALLY (omit_tokens) — the prior formulation exploded
    // EVERY token of EVERY document through a (doc, ti)-keyed anti-join
    // and re-collected the survivors through a doc-keyed sort-collect
    // aggregate: two full shuffles of the corpus token mass to rebuild
    // text that the doc row already carries (§2.3 / guide §8: decide on
    // the lightweight proxy, move the heavy bytes once). covered mass
    // (≤ n × masked windows) is the only thing shuffled now. Covered
    // positions are in [1, len] by construction; collect_set ≡ the old
    // distinct. A doc with no masked window keeps its text verbatim
    // (the old path re-joined all its tokens — identical string, since
    // split/join on single spaces round-trips exactly).
    val covered = masked
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("ti"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("ti")).as("drop"))
    // null-text parity with the pre-restructure assembly: n_tokens was
    // size(split(null)) = NULL there too, n_dropped = NULL − 0 = NULL
    // (propagate via n_tokens), cleaned_text coalesced to ""
    docs.select(col("doc_id"), col("text"),
        split(col("text"), " ").as("w"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        when(col("w").isNull, lit(null).cast("long"))
          .otherwise(coalesce(size(col("drop")), lit(0)).cast("long"))
          .as("n_dropped"),
        coalesce(when(col("drop").isNull, col("text"))
          .otherwise(graft.functions.ShingleKernels
            .omit_tokens(col("w"), col("drop"))), lit(""))
          .as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs via banded Hamming join: candidate pairs share
    * a 16-bit band; verified if Hamming distance ≤ 12. 1-row summary. */
  def simhashNearDupSummary(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupSummaryFrom(fingerprints(spark, dir))

  /** Same, over precomputed fingerprints (testable with planted dups).
    * `maxBucket` caps the per-band bucket size (see [[BucketGuard]]).
    *
    * Escalation rung inside over-cap buckets: docs sharing the FULL
    * 64-bit fingerprint with a lower-id doc in the same bucket count as
    * escalated dups — Hamming 0 trivially passes the funnel's own ≤ 12
    * verify rule, and the fingerprint is already in the row, so the rung
    * is one linear group-by with no text re-scan. */
  def simhashNearDupSummaryFrom(fps: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val fp = fps
      .select(col("doc_id"), col("simhash"),
        posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
          .as(Seq("band_idx", "band_val")))
    val (kept, hotRowsOpt, skipped) =
      BucketGuard(fp, Seq("band_idx", "band_val"), maxBucket)
    val nEsc = hotRowsOpt match {
      case None => fps.sparkSession.range(1).select(lit(0L).as("n_escalated"))
      case Some(hotRows) =>
        val escCanon = hotRows
          .groupBy(col("band_idx"), col("band_val"), col("simhash"))
          .agg(min(col("doc_id")).as("_canon"))
        hotRows.join(escCanon, Seq("band_idx", "band_val", "simhash"))
          .filter(col("doc_id") =!= col("_canon"))
          .select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_escalated"))
    }
    val cand = kept.alias("x").join(kept.alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand.agg(
        count(lit(1)).as("n_candidate_pairs"),
        coalesce(sum(when(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 12, 1L)
          .otherwise(0L)), lit(0L)).as("n_near_dup_pairs"))
      .crossJoin(skipped) // 1 row × 1 row: funnel counts + skipped mass
      .crossJoin(nEsc)
  }

  // ------------------------------------------- exact τ-Jaccard self-join

  /** Exact token-set Jaccard self-join (q140) — every document pair with
    * Jaccard(tokens(A), tokens(B)) ≥ τ, computed EXACTLY via prefix
    * filtering (the AllPairs/PPJoin family, Bayardo et al. WWW'07):
    * order the vocabulary by ascending document frequency, keep only
    * each document's first `|A| - ⌈τ·|A|⌉ + 1` rarest tokens as its
    * prefix, and generate candidates from prefix collisions — any pair
    * with Jaccard ≥ τ MUST collide on at least one prefix token (if two
    * sets share none of each other's rarest tokens, their overlap is
    * provably below τ), so the filter has zero false negatives and the
    * exact verification join restores precision. Unlike the minhash
    * funnel (q42, probabilistic recall) this is the EXACT variant the
    * near-dup audit tier runs on flagged slices.
    *
    * τ is a rational `tauNum/tauDen` and every comparison is integer
    * arithmetic (`tauDen·inter ≥ tauNum·union`, sizes and counts are
    * longs; the reported `jac_pm` is floor(inter·1e6/union), whose
    * double rounding is exact for union ≪ 2^26) — no float enters any
    * decision, so the output is bit-stable across engines and
    * partitionings.
    *
    * Representation: the vocabulary is dictionary-encoded once (tid =
    * rank in the (df asc, term asc) total order, a GlobalOrder
    * two-pass at vocabulary scale), so per-doc ordered sets, the
    * prefix self-join key, and the verification intersect all carry
    * LONGS — the strings leave the plan after the dictionary join
    * (the q188 representation lesson applied to the PPJoin funnel).
    *
    * Scale shape: tokens shuffle once on (doc_id, term) for the
    * distinct, once on term for df; per-doc prefix assembly is one
    * doc-keyed aggregation (state bounded by document vocabulary); the
    * candidate join shuffles PREFIX rows only on the term key — prefix
    * terms are each document's rarest, so collision lists are the
    * vocabulary's sparse tail, exactly why the algorithm survives
    * Zipfian corpora at scale — with the pair-count length filter
    * (`tauDen·min ≥ tauNum·max`) applied before verification; the
    * verification join is candidates × tokens on (doc, term) keys,
    * linear in candidate mass. Degenerate tiny-vocabulary corpora (the
    * fixture) collapse toward all-pairs of genuinely-similar documents —
    * which is the OUTPUT size, not avoidable work. */
  def jaccardJoin(spark: SparkSession, dir: String): DataFrame =
    jaccardJoinFrom(Tables(spark, dir).documents)

  /** q140's registered τ = [[JaccardTauNum]]/[[JaccardTauDen]] — one
    * definition, referenced by the oracle SQL generator and the
    * PhaseProbe diagnostic so a τ change cannot leave a tool silently
    * measuring a different query. */
  private[graft] val JaccardTauNum = 4
  private[graft] val JaccardTauDen = 5

  /** Same, over an arbitrary (doc_id, text) corpus; τ = tauNum/tauDen. */
  def jaccardJoinFrom(docs: DataFrame, tauNum: Int = JaccardTauNum,
      tauDen: Int = JaccardTauDen): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, "need 0 < tau <= 1")
    val toks = GraftCache.persisted("Dedup.tok", docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct())
    val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // DICTIONARY-ENCODE the vocabulary: tid = the term's 1-based rank
    // in the (df asc, term asc) total order, assigned by the GlobalOrder
    // two-pass (df value-bins keep df-ties together; the per-bucket
    // window is vocabulary-scale). tid order ≡ the PPJoin total order,
    // so prefixes, candidates, and verified pairs are IDENTICAL to the
    // string form (property-tested) — but every downstream structure
    // (per-doc sorted arrays, the prefix self-join key, the
    // verification intersect) carries longs instead of (df, term)
    // structs and strings: smaller shuffles, allocation-free compares.
    val dict0 = GlobalOrder.bucketizeByValue(dfreq, col("df"),
      desc = false)
    val (tidBases, _) = GlobalOrder.exclusiveOffsets(dict0,
      Seq(count(lit(1)).as("cnt")))
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val tidOffsets = tidBases.map { case (b, Seq(c)) => (b, c) }
      .toDF("bucket", "tid_base")
    val wd = Window.partitionBy(col("bucket"))
      .orderBy(col("df"), col("term"))
    val dict = dict0.join(broadcast(tidOffsets), Seq("bucket"))
      .withColumn("tid",
        (col("tid_base") + row_number().over(wd)).cast("long"))
      .select(col("term"), col("tid"))
    // per-doc tokens sorted by (df asc, term asc) ≡ tid asc — a total
    // order, so the prefix is deterministic; L = n - ceil(tau*n) + 1 in
    // exact integers. Persisted barrier: byDoc feeds both sides of the
    // prefix self-join AND both verification joins (4 plan references),
    // and the persist also gives the planner its true dimension-relation
    // size so the verification joins broadcast.
    val byDoc = GraftCache.persisted("Dedup.jacDoc",
      toks.join(dict, Seq("term")).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(col("tid"))).as("ordered")))
    val lenP = (col("n") -
      expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen") + 1).cast("int")
    val prefix = byDoc.select(col("doc_id"), col("n"),
      posexplode(slice(col("ordered"), lit(1), lenP)).as(Seq("p0", "tid")))
      .select(col("doc_id"), col("n"), (col("p0") + 1).as("pos"),
        col("tid"))
    // candidates: prefix collisions (ia < ib) surviving the length
    // filter AND the PPJoin positional filter (Xiao et al. WWW'08): a
    // collision at 1-based positions (posA, posB) of the shared
    // (df, term) total order can witness at most
    // 1 + min(nA - posA, nB - posB) overlapping tokens (everything
    // before either position is disjoint by the order), and Jaccard ≥ τ
    // needs overlap ≥ tn·(nA+nB)/(tn+td). The FIRST common token of any
    // qualifying pair always passes (its upper bound covers the true
    // overlap), so pruning later collisions loses nothing — exactness is
    // property-tested against brute force at three taus.
    val cand = prefix.alias("x").join(prefix.alias("y"),
        col("x.tid") === col("y.tid") &&
        col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n"), col("y.n")) * tauDen >=
          greatest(col("x.n"), col("y.n")) * tauNum &&
        (lit(1) + least(col("x.n") - col("x.pos"),
            col("y.n") - col("y.pos"))) * (tauNum + tauDen) >=
          (col("x.n") + col("y.n")) * tauNum)
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    // exact verification: |A ∩ B| as a per-pair codegen'd
    // array_intersect against the per-doc token-ID arrays — the
    // doc-array relation is one row per document (dimension-sized next
    // to the candidate mass, so these joins broadcast; at corpus scales
    // past broadcast they degrade to ia/ib-keyed shuffles, still linear
    // in candidates). This beats re-exploding candidates × tokens
    // through a (doc, term) shuffle by the average set size; the
    // intersect runs over longs (the dictionary is a bijection, so
    // |A ∩ B| is unchanged).
    val withToks = byDoc.select(col("doc_id"), col("n"),
      col("ordered").as("toks"))
    cand
      .join(withToks.select(col("doc_id").as("ia"), col("n").as("size_a"),
        col("toks").as("ta")), Seq("ia"))
      .join(withToks.select(col("doc_id").as("ib"), col("n").as("size_b"),
        col("toks").as("tb")), Seq("ib"))
      // fused merge-count ≡ size(array_intersect(ta, tb)) on these
      // array_sort'ed unique-tid arrays: array_intersect hash-builds a
      // set and materializes the intersection array per candidate pair
      // just to take its size — the verification stage's allocation
      // hot spot at millions of candidates (QuantKernelsSpec asserts
      // count-equality incl. duplicate runs)
      .withColumn("inter",
        graft.functions.QuantKernels
          .sorted_inter_count(col("ta"), col("tb")))
      .withColumn("u", col("size_a") + col("size_b") - col("inter"))
      .filter(col("inter") * tauDen >= col("u") * tauNum)
      .select(col("ia"), col("ib"), col("inter"), col("size_a"),
        col("size_b"),
        floor(col("inter") * lit(1000000.0) / col("u")).as("jac_pm"))
      .orderBy(col("ia"), col("ib"))
  }

  /** Candidate-mass diagnostic for the q140 filter rungs (ScaleSmoke's
    * zipf-vocabulary row): distinct (ia, ib) pairs surviving each stage
    * — (every token collision, prefix+length filter, prefix+length+
    * positional filter, verified true pairs). Same construction as
    * [[jaccardJoinFrom]], counts only; exists because the registered
    * fixture's ~50-word vocabulary is the WORST case for df-ordered
    * prefixes (lowest-df terms still hit most docs) — on a realistic
    * skewed vocabulary this measures what the filters actually buy. */
  private[graft] def jaccardCandidateDiag(docs: DataFrame,
      tauNum: Int = 4, tauDen: Int = 5): (Long, Long, Long, Long) = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct().persist()
    val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val byDoc = toks.join(dfreq, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("df"), col("term"))))
          .as("ordered"))
      .persist()
    val lenP = (col("n") -
      expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen") + 1).cast("int")
    val prefix = byDoc.select(col("doc_id"), col("n"),
      posexplode(slice(col("ordered"), lit(1), lenP)).as(Seq("p0", "p")))
      .select(col("doc_id"), col("n"), (col("p0") + 1).as("pos"),
        col("p.term").as("term"))
    def pairs(df: DataFrame, extra: Column): Long = df.alias("x")
      .join(df.alias("y"), col("x.term") === col("y.term") &&
        col("x.doc_id") < col("y.doc_id") && extra)
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val lengthF = least(col("x.n"), col("y.n")) * tauDen >=
      greatest(col("x.n"), col("y.n")) * tauNum
    val posF = (lit(1) + least(col("x.n") - col("x.pos"),
        col("y.n") - col("y.pos"))) * (tauNum + tauDen) >=
      (col("x.n") + col("y.n")) * tauNum
    val unfiltered = pairs(toks, lit(true))
    val prefixLen = pairs(prefix, lengthF)
    val full = pairs(prefix, lengthF && posF)
    val verified = jaccardJoinFrom(docs, tauNum, tauDen).count()
    toks.unpersist(); byDoc.unpersist()
    (unfiltered, prefixLen, full, verified)
  }

  /** Hot-gram cap for the containment join (q199) — a gram shared by
    * more documents than this is excluded from candidate generation
    * (its df² pair mass would dominate) and its mass reported; mirrored
    * literally in the oracle SQL. */
  private[graft] val ContainmentGramCap = 1000

  /** Containment join (q199) — Broder's containment coefficient over
    * word-8-gram shingle sets: c(A→B) = |S(A) ∩ S(B)| / |S(A)|, the
    * DIRECTED near-dup relation that resemblance Jaccard (q41/q140)
    * structurally misses — a short document quoted whole inside a long
    * one has tiny Jaccard (the union is large) but containment ≈ 1.
    * This is the quote-inclusion / subset-dup tier of a training
    * pipeline: drop or down-weight documents that are mostly contained
    * in another (syndicated excerpts, quoted posts, re-published
    * abstracts). Emits every ordered pair with c(ia→ib) ≥ 1/2 plus the
    * exact parts-per-million coefficient (`containment_ppm` =
    * shared·10⁶ div |S(A)| — ppm, deliberately finer-grained than the
    * repo's per-mille `_pm` columns, hence the distinct suffix).
    *
    * Cap contract (the q183/q188 doctrine): grams with document
    * frequency above [[ContainmentGramCap]] are EXCLUDED from the
    * shared count — `shared` is then a LOWER bound (conservative:
    * misses, never false pairs, since the denominator stays the full
    * set size) — and the skipped mass rides every row
    * (n_skipped_grams, n_skipped_rows), as a sentinel row when no pair
    * verifies. The oracle replays the cap literally.
    *
    * Scale shape: distinct (doc, gram) rows shuffle once on the
    * 16-byte digest key; per-gram pair mass is df² bounded by the cap
    * (8-gram digests are naturally selective — hot grams are exactly
    * the boilerplate the cap reports); the verify side is one
    * (ia, ib)-keyed count plus a doc-keyed size join. No token-level
    * pair enumeration anywhere. Builds on [[spanShingles]], the
    * q192-q194 span family's window relation. */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame =
    containmentJoinFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus; τ = tauNum/tauDen
    * on the contained side's gram count. */
  private[graft] def containmentJoinFrom(docs: DataFrame, n: Int = 8,
      tauNum: Int = 1, tauDen: Int = 2,
      maxDf: Int = ContainmentGramCap): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, "need 0 < tau <= 1")
    // the distinct grams feed four plan arms (sizes, df/hot, pair
    // generation, the sentinel probe), the verified pairs two
    val grams = GraftCache.persisted("Dedup.contGram", spanShingles(docs, n)
      .select(col("doc_id"), col("h")).distinct())
    val sz = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("size_a"))
    val hot = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
    val skipped = hot.agg(count(lit(1)).as("n_skipped_grams"),
      coalesce(sum(col("df")), lit(0L)).as("n_skipped_rows"))
    val inPlay = grams.join(hot.select(col("h")), Seq("h"), "left_anti")
    // Group-once pair generation replaces the h-keyed self-join: ONE
    // exchange of the in-play gram mass builds each gram's doc list
    // (|list| ≤ maxDf by construction — the cap is the skew guard), and
    // the ordered pairs explode LOCALLY into the same (ia, ib) partial
    // aggregate. The self-join shuffled the in-play mass twice and —
    // worse — recomputed its whole upstream per join arm.
    val byGram = inPlay.groupBy(col("h"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    val pairs = GraftCache.persisted("Dedup.contPair", byGram
      .select(explode(col("ds")).as("ia"), col("ds"))
      .select(col("ia"), explode(col("ds")).as("ib"))
      .filter(col("ia") =!= col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("shared"))
      .join(sz.withColumnRenamed("doc_id", "ia"), Seq("ia"))
      .filter(col("shared") * tauDen >= col("size_a") * tauNum)
      .withColumn("containment_ppm",
        expr("shared * 1000000 div size_a")))
    val sentinel = skipped.join(pairs.limit(1), lit(true), "left_anti")
      .select(lit(null).cast("long").as("ia"),
        lit(null).cast("long").as("ib"),
        lit(null).cast("long").as("shared"),
        lit(null).cast("long").as("size_a"),
        lit(null).cast("long").as("containment_ppm"),
        col("n_skipped_grams"), col("n_skipped_rows"))
    pairs.crossJoin(broadcast(skipped))
      .unionByName(sentinel)
      .orderBy(col("ia"), col("ib"))
  }

  /** Dedup savings report (q166) — what the q129 fuzzy-dedup pass is
    * WORTH: per near-duplicate cluster (keep-list canonical with >1
    * member), the member count, total token mass, and the tokens
    * recovered by dropping the non-canonical members — the number a
    * curation team reads before scheduling the dedup job (near-dup
    * members differ slightly, so savings sum each member's own count
    * exactly rather than multiplying one representative).
    *
    * Scale shape: the keep-list is the q129 funnel (band-bounded, CC on
    * pairs only — documented there); the report adds one doc-keyed join
    * against the token projection and one canonical-keyed aggregate;
    * output is one row per DUPLICATE cluster, far below corpus scale. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val kl = fuzzyDedupKeep(spark, dir)
    val tok = Tables(spark, dir).documents.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("t"))
    kl.join(tok, Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("sum_tokens"),
        sum(when(col("doc_id") =!= col("canonical_id"), col("t"))
          .otherwise(0L)).as("tokens_saved"))
      .filter(col("n_docs") > 1)
      .orderBy(col("canonical_id"))
  }

  /** Blocking cap and compared-slice length for q183 — mirrored
    * literally in the oracle SQL; keep the two in sync. */
  private[graft] val LinkageBlockCap  = 64
  private[graft] val LinkageSliceLen  = 80

  /** Blocked edit-distance linkage (q183) — the classic record-linkage
    * shape over document text: block on the first 16 characters (a
    * cheap deterministic key — near-identical records share it), then
    * verify within-block pairs by LEVENSHTEIN distance ≤ 8 over the
    * first [[LinkageSliceLen]] characters. This is the edit-distance
    * complement to the set-based funnels (minhash/Jaccard measure
    * shared vocabulary; edit distance catches character-level variants
    * — OCR noise, typo farms, template fills — that token sets miss).
    * Levenshtein is an exact integer in both engines, so the pair list
    * carries a full oracle.
    *
    * Scale shape: the self-join is BLOCK-keyed (shuffle on the prefix),
    * and blocks above [[LinkageBlockCap]] members are excluded and
    * REPORTED (the BucketGuard discipline — a boilerplate prefix cannot
    * go quadratic); per-pair work is the O(slice²) DP on an 80-char
    * slice — constant. Output: verified pairs + the skipped-block
    * summary on every row. */
  def editLinkage(spark: SparkSession, dir: String): DataFrame =
    editLinkageFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. The skipped-block
    * summary rides every verified pair; when NO pair verifies (the
    * degenerate case the cap exists for) it is emitted as one sentinel
    * row with null pair columns instead of being silently lost — the
    * oracle mirrors the same rule. */
  private[graft] def editLinkageFrom(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      substring(col("text"), 1, 16).as("bk"),
      substring(col("text"), 1, LinkageSliceLen).as("slice"))
    val hot = keyed.groupBy(col("bk")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > LinkageBlockCap)
    val skipped = hot.agg(
      count(lit(1)).as("n_skipped_blocks"),
      coalesce(sum(col("bsz")), lit(0L)).as("n_skipped_docs"))
    val inPlay = keyed.join(hot.select(col("bk")), Seq("bk"), "left_anti")
    val pairs = inPlay.alias("a").join(inPlay.alias("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        levenshtein(col("a.slice"), col("b.slice")).cast("long").as("dist"))
      .filter(col("dist") <= 8)
    // sentinel: the 1-row summary survives the anti-join only when the
    // pair set is empty (limit(1) early-exits as soon as any pair shows)
    val sentinel = skipped.join(pairs.limit(1), lit(true), "left_anti")
      .select(lit(null).cast("long").as("ia"),
        lit(null).cast("long").as("ib"),
        lit(null).cast("long").as("dist"),
        col("n_skipped_blocks"), col("n_skipped_docs"))
    pairs.crossJoin(broadcast(skipped))
      .unionByName(sentinel)
      .orderBy(col("ia"), col("ib"))
  }
}
