package graft.streaming

import graft.Tables
import graft.operators.{Dedup, GraphOps, Similarity}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming sibling of the q129 fuzzy-dedup keep-list: the ingest-time
  * formulation of the batch minhash-LSH funnel (Dedup.fuzzyDedupKeepFrom),
  * run per micro-batch against an ACCUMULATING signature store — the
  * stream-static accumulation pattern a production corpus ingest runs via
  * `foreachBatch` (the same pattern the reference covers only as one-shot
  * batch dedup; its streaming surface has no near-dup tier).
  *
  * Store layout (all artifacts batch-keyed, see exactly-once below; the
  * joinable stores — bands and the semantic tier's asg — add a second
  * `pb=` level, hash(join key) mod [[StoreBuckets]], so the per-batch
  * candidate join partition-prunes to the buckets the batch touches):
  * {{{
  *   store/sigs/b=N       (doc_id, sig)                  minhash signatures
  *   store/bands/b=N/pb=K (doc_id, band_idx, band_val)   pre-exploded bands,
  *                                                       K = hash(band key)
  *                                                       mod 64
  *   store/ids/b=N        (doc_id, md5)                  every seen doc
  *   store/pairs/b=N      (ia, ib, band_idx, band_val)   verified dup pairs,
  *                                                       keyed by the bucket
  *                                                       that generated them
  *   store/counts/b=N     (band_idx, band_val, n)        CUMULATIVE bucket
  *                                                       counts through N
  * }}}
  *
  * Per batch of (doc_id, text):
  *  1. minhash signatures + band rows for the NEW docs only — each doc's
  *     shingle explosion is computed exactly once over the stream's life;
  *  2. cumulative bucket counts = previous counts snapshot + this batch's
  *     delta (an O(batch + touched-buckets) merge — the store's band rows
  *     are NEVER re-scanned for the guard);
  *  3. candidate pairs = new×new band-bucket collisions (ia < ib) plus
  *     new×store collisions — every unordered pair is generated in exactly
  *     the batch where its LATER doc arrives; buckets already over
  *     `maxBucket` in the cumulative counts are skipped (pure optimization,
  *     see the equivalence note);
  *  4. verify candidates with the batch rule (signature agreement ≥ 32/64)
  *     and append them WITH the (band_idx, band_val) that generated them;
  *  5. append the new signatures, band rows, and ALL new ids + content
  *     hashes (signable or not) to the store.
  *
  * [[keepList]] then assembles the q129 contract from the store — and this
  * is where streaming ≡ batch holds EXACTLY, for any corpus and any
  * batching, including buckets that cross the cap mid-stream: bucket
  * counts only grow, so "hot" is monotone over the stream. A pair the
  * one-shot batch run would generate is one whose generating bucket is
  * cold in the FINAL counts — and a finally-cold bucket was cold in every
  * batch, so streaming generated the pair too. Conversely a pair streaming
  * generated through a bucket that LATER crossed the cap is exactly a pair
  * batch would not generate; assembly drops it by anti-joining the pair
  * store's provenance keys against the finally-hot buckets. The exact-md5
  * escalation the batch tier runs inside hot buckets
  * (Dedup.minhashCandidates) runs at assembly over the finally-hot
  * buckets' members — this IS the store compaction the per-batch path
  * defers: over-cap buckets dedup their identical mass when the keep-list
  * is assembled, not never. StreamingSpec pins equivalence on planted-dup
  * corpora, on a corpus whose buckets straddle the cap mid-stream, and on
  * a degenerate all-identical corpus (where assembly == batch q129's
  * escalation output).
  *
  * Exactly-once: every artifact of batch N is written with Overwrite into
  * its own `b=N` partition directory, and the cumulative counts snapshot —
  * written LAST — is the commit marker. A foreachBatch replay (normal
  * structured-streaming semantics after a task failure) either sees the
  * marker and no-ops, or overwrites the same `b=N` directories it half
  * wrote; reads of "the store before N" filter on the partition column
  * (`b < N`), so a half-written `b=N` never leaks into its own replay.
  * Snapshots older than N-1 are pruned after commit.
  *
  * Scale shape: per-batch work is |batch| signature computation, an
  * O(batch + touched-buckets) counts merge, and a band-key equi-join
  * against the stored band rows — a shuffle on (band_idx, band_val),
  * never all-pairs and never a full-store re-aggregation. The store side
  * of that join is partition-pruned to the batch's touched hash buckets
  * (`pb=` dirs), so its READ mass tracks the batch's key spread, not the
  * accumulated store size — a trailing small batch against a season of
  * corpus reads touched/64 of the band store. Store probes go through
  * Hadoop `FileSystem`, so the store can live on HDFS/S3.
  */
object StreamingDedup {

  // ---------------------------------------------------------------- store

  // batch-keyed snapshot mechanics shared with the streaming MV —
  // see [[Snapshots]] for the commit/replay/prune contract
  private def fs(spark: SparkSession, path: String): FileSystem =
    Snapshots.fs(spark, path)

  private def pathExists(spark: SparkSession, path: String): Boolean =
    Snapshots.pathExists(spark, path)

  /** The commit marker of batch N: its counts snapshot's _SUCCESS. */
  private def committed(spark: SparkSession, storeDir: String,
      batchId: Long): Boolean =
    Snapshots.committed(spark, s"$storeDir/counts", batchId)

  /** Accumulated artifact rows from batches strictly before `before`
    * (partition-pruned on the `b=` directory column, so a half-written
    * current batch is invisible to its own replay). */
  private def readBefore(spark: SparkSession, root: String, before: Long,
      emptyLike: DataFrame): DataFrame =
    if (pathExists(spark, root))
      spark.read.parquet(root).filter(col("b") < before).drop("b")
    else emptyLike.limit(0)

  /** Hash-bucket fan-out of the band/assignment stores: each batch's
    * rows are written under `b=N/pb=K` where K = hash(join key) mod
    * this. The per-batch candidate equi-join then reads ONLY the
    * buckets the batch's own keys touch (equal keys hash to the same
    * bucket, so pruning is lossless) — directory-level partition
    * pruning, no data file of an untouched bucket is ever opened. A
    * small trailing batch against a large accumulated store reads
    * touched-buckets/64 of it instead of all of it — the store-layout
    * fix for the last O(store)-per-batch term. */
  private[graft] val StoreBuckets = 64

  private def bucketCol(keys: Seq[String]) =
    pmod(hash(keys.map(col): _*), lit(StoreBuckets))

  /** The ≤[[StoreBuckets]] bucket ids a batch's join keys touch —
    * a bounded (metadata-scale) driver collect. */
  private def touchedBuckets(rows: DataFrame, keys: Seq[String]): Seq[Int] =
    rows.select(bucketCol(keys).as("pb")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Accumulated rows from batches before `before` restricted to the
    * given hash buckets — both filters are on partition directory
    * columns, so the scan plans only the touched `b=`/`pb=` dirs. */
  private def readBeforeBuckets(spark: SparkSession, root: String,
      before: Long, emptyLike: DataFrame, touched: Seq[Int]): DataFrame =
    if (pathExists(spark, root)) {
      val df = spark.read.parquet(root)
      // Migration path: a store written BEFORE the pb= bucket level was
      // added has no `pb` partition column — filtering on it would fail
      // with an unresolved-column error mid-resume. Probe the discovered
      // schema and fall back to the unpruned (but still b=-pruned) read.
      // Spark's partition discovery rejects a MIXED tree (some b= dirs
      // bucketed, some not), so a pre-change store that resumes here
      // keeps its flat layout for ALL subsequent batches too (the write
      // path probes the same way — see writeBucketed); converting to
      // the bucketed layout is a one-time store rebuild (re-run the
      // feed).
      if (df.columns.contains("pb"))
        df.filter(col("b") < before && col("pb").isin(touched: _*))
          .drop("b", "pb")
      else df.filter(col("b") < before).drop("b")
    } else emptyLike.limit(0)

  /** Once-per-store memo of "this store predates the pb= bucket level"
    * (probed from the discovered schema). Keeps a resumed legacy store's
    * layout CONSISTENT — Spark's partition discovery rejects a mixed
    * tree — while new stores bucket from batch 0. */
  private val legacyFlatStore =
    new scala.collection.concurrent.TrieMap[String, Boolean]()
  private def isLegacyFlat(spark: SparkSession, root: String): Boolean =
    legacyFlatStore.getOrElseUpdate(root,
      pathExists(spark, root) &&
        !spark.read.parquet(root).columns.contains("pb"))

  /** Write a batch artifact hash-bucketed by its join key: one
    * batch-local shuffle into ~[[StoreBuckets]] tasks so each `pb=` dir
    * gets one file, not one per task. A store that predates the bucket
    * level keeps its flat layout (see [[isLegacyFlat]]) so resume never
    * produces a mixed tree; such stores read unpruned until rebuilt. */
  private def writeBucketed(rows: DataFrame, keys: Seq[String],
      root: String, batchId: Long): Unit = {
    val path = s"$root/b=$batchId"
    if (isLegacyFlat(rows.sparkSession, root))
      rows.repartition(StoreBuckets, bucketCol(keys))
        .write.mode("overwrite").parquet(path)
    else
      rows.withColumn("pb", bucketCol(keys))
        .repartition(StoreBuckets, col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(path)
  }

  /** All committed artifact rows (assembly-time read). */
  private def readAll(spark: SparkSession, root: String,
      emptyLike: => DataFrame): DataFrame =
    if (pathExists(spark, root)) spark.read.parquet(root).drop("b", "pb")
    else emptyLike.limit(0)

  private def pruneSnapshots(spark: SparkSession, countsDir: String,
      batchId: Long): Unit =
    Snapshots.prune(spark, countsDir, batchId)

  /** Latest COMMITTED counts snapshot strictly before `before`. */
  private def latestSnapshot(spark: SparkSession, countsDir: String,
      before: Long): Option[String] =
    Snapshots.latest(spark, countsDir, before)

  /** Merge the previous cumulative counts snapshot with this batch's
    * per-key delta. O(previous distinct keys + batch keys) — NOT
    * O(store rows); the guard never re-aggregates the band/cell store. */
  private def mergedCounts(spark: SparkSession, countsDir: String,
      batchId: Long, delta: DataFrame, keys: Seq[String]): DataFrame =
    Snapshots.merge(spark, countsDir, batchId, delta, keys, Seq("n"))

  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until Dedup.NumBands).map(b => col(s"band$b")): _*))
        .as(Seq("band_idx", "band_val")))

  // ------------------------------------------------------- minhash tier

  /** Process one micro-batch: generate and verify dup pairs vs the
    * accumulated store, then fold the batch into the store under the
    * `batchId` key. Replays of a committed batch are no-ops; replays of a
    * half-written batch overwrite it (see the exactly-once note above). */
  def dedupBatch(batch: DataFrame, storeDir: String, batchId: Long,
      maxBucket: Int = 1000): Unit = {
    val spark = batch.sparkSession
    if (committed(spark, storeDir, batchId)) return
    val countsDir = s"$storeDir/counts"
    val sigs = Dedup.minhashSignatures(batch).persist()
    try {
      val newBands = bandRows(sigs)
      val delta = newBands.groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("n"))
      val counts = mergedCounts(spark, countsDir, batchId, delta,
        Seq("band_idx", "band_val"))
      // cumulative guard: skip buckets already over cap. Purely an
      // optimization — hot is monotone, so anything generated through a
      // bucket that is (or later goes) hot is filtered at assembly by its
      // provenance key; skipping here just avoids the quadratic work.
      val hotNow = counts.filter(col("n") > maxBucket)
        .select(col("band_idx"), col("band_val"))
      // store read pruned to the hash buckets this batch's band keys
      // touch — a trailing small batch reads a fraction of the store
      val oldBands = readBeforeBuckets(spark, s"$storeDir/bands", batchId,
        newBands, touchedBuckets(newBands, Seq("band_idx", "band_val")))
      val kept = newBands.join(hotNow, Seq("band_idx", "band_val"),
        "left_anti")
      val keptOld = oldBands.join(hotNow, Seq("band_idx", "band_val"),
        "left_anti")
      val within = kept.alias("x").join(kept.alias("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.band_idx").as("band_idx"),
          col("x.band_val").as("band_val"),
          col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      val cross = kept.alias("x").join(keptOld.alias("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val"))
        .select(col("x.band_idx").as("band_idx"),
          col("x.band_val").as("band_val"),
          least(col("x.doc_id"), col("y.doc_id")).as("ia"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("ib"))
      // provenance-keyed candidates: one row per (pair, generating bucket)
      val cand = within.unionByName(cross).distinct()
      val oldSigs = readBefore(spark, s"$storeDir/sigs", batchId,
        sigs.select(col("doc_id"), col("sig")))
      val allSigs = sigs.select(col("doc_id"), col("sig")).unionByName(oldSigs)
      val dupPairs = cand.select(col("ia"), col("ib")).distinct()
        .join(allSigs.select(col("doc_id").as("ia"), col("sig").as("sa")),
          Seq("ia"))
        .join(allSigs.select(col("doc_id").as("ib"), col("sig").as("sb")),
          Seq("ib"))
        .select(col("ia"), col("ib"),
          graft.functions.QuantKernels.vec_eq_count(col("sa"), col("sb")).as("agree"))
        .filter(col("agree") >= Dedup.NumHashes / 2)
        .select(col("ia"), col("ib"))
      val verified = cand.join(dupPairs, Seq("ia", "ib"), "left_semi")
      verified.write.mode("overwrite").parquet(s"$storeDir/pairs/b=$batchId")
      sigs.select(col("doc_id"), col("sig"))
        .write.mode("overwrite").parquet(s"$storeDir/sigs/b=$batchId")
      writeBucketed(newBands, Seq("band_idx", "band_val"),
        s"$storeDir/bands", batchId)
      batch.select(col("doc_id"), md5(col("text")).as("md5"))
        .write.mode("overwrite").parquet(s"$storeDir/ids/b=$batchId")
      // the commit marker — written last
      counts.write.mode("overwrite").parquet(s"$countsDir/b=$batchId")
      pruneSnapshots(spark, countsDir, batchId)
    } finally sigs.unpersist()
  }

  /** Assemble the keep-list from the accumulated store — same output
    * contract as batch q129, and the same DECISIONS as batch q129 run
    * one-shot over everything the stream has seen: pairs whose every
    * generating bucket finally went hot are filtered out, the exact-md5
    * compaction rung dedups identical docs inside finally-hot buckets,
    * connected components ([[GraphOps.canonicalIds]]) run over the
    * surviving dup PAIRS only (tiny by construction), canonical =
    * component minimum, every seen doc present. */
  def keepList(spark: SparkSession, storeDir: String,
      maxBucket: Int = 1000): DataFrame = {
    val ids = readAll(spark, s"$storeDir/ids",
      spark.range(0).select(col("id").as("doc_id"),
        lit(null).cast("string").as("md5")))
    val finalHot = latestSnapshot(spark, s"$storeDir/counts", Long.MaxValue)
      .map(spark.read.parquet(_)).getOrElse(
        spark.range(0).select(col("id").cast("int").as("band_idx"),
          col("id").as("band_val"), col("id").as("n")))
      .filter(col("n") > maxBucket)
      .select(col("band_idx"), col("band_val"))
    val emptyPairs = spark.range(0)
      .select(col("id").as("ia"), col("id").as("ib"))
    val stored = readAll(spark, s"$storeDir/pairs",
      emptyPairs.select(col("ia"), col("ib"),
        lit(0).as("band_idx"), lit(0L).as("band_val")))
    // batch equivalence, leg 1: only pairs with a finally-cold generating
    // bucket survive (exactly the one-shot candidate set, hot monotone)
    val surviving = stored.join(finalHot, Seq("band_idx", "band_val"),
      "left_anti").select(col("ia"), col("ib")).distinct()
    // batch equivalence, leg 2: the exact-md5 escalation inside finally-
    // hot buckets — the batch tier's rung (Dedup.minhashCandidates),
    // here doubling as the deferred store compaction. Plan-level skip
    // when no bucket is hot (the healthy case): the probe scans only the
    // counts snapshot.
    val escPairs =
      if (finalHot.isEmpty) emptyPairs
      else {
        val bands = readAll(spark, s"$storeDir/bands",
          spark.range(0).select(col("id").as("doc_id"),
            lit(0).as("band_idx"), lit(0L).as("band_val")))
        val escHot = bands.join(finalHot, Seq("band_idx", "band_val"),
          "left_semi").join(ids, Seq("doc_id"))
        val escCanon = escHot
          .groupBy(col("band_idx"), col("band_val"), col("md5"))
          .agg(min(col("doc_id")).as("ia"))
        escHot.join(escCanon, Seq("band_idx", "band_val", "md5"))
          .filter(col("doc_id") =!= col("ia"))
          .select(col("ia"), col("doc_id").as("ib"))
          .distinct()
      }
    GraphOps.canonicalIds(ids.select(col("doc_id")),
        surviving.unionByName(escPairs))
      .orderBy(col("doc_id"))
  }

  /** Registered q133 entry: feed the fixture corpus through a DISTRIBUTED
    * micro-batched stream — the corpus is written as 4 range-chunked
    * parquet files and read back as a file-source stream with
    * `maxFilesPerTrigger 1`, so micro-batches arrive without ever
    * materializing the corpus on the driver — then run the per-batch
    * incremental dedup and return the assembled keep-list. Oracle: the
    * SAME recursive-CTE replay as q129 — the streaming formulation must
    * land on the identical keep-list (it does for ANY batching; see the
    * equivalence note on the object). Temp feed/store/checkpoint dirs are
    * registered for deletion at JVM exit. */
  def streamingKeepList(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = Snapshots.storeDir(spark, "stream_keep_store")
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
    FileFeed.run(spark, docs, nChunks = 4, col("doc_id"),
      ordered = false, purpose = "keep") { (batch, batchId) =>
      dedupBatch(batch, storeDir, batchId)
    }
    keepList(spark, storeDir)
  }

  // ----- streaming repeated spans (q202): the ingest-time formulation of
  // the q192 arbitrary-span detector. The expensive step of the batch
  // operator — exploding every document into md5-digested 8-token
  // windows — happens exactly ONCE per document, at ingest; the store
  // accumulates the window index (doc_id, pos, h) plus each batch's own
  // per-digest occurrence counts. Nothing is merged per batch:
  // "duplicated" (total occurrences >= 2) is MONOTONE over the stream,
  // so per-batch work is a pure O(batch) append — no cumulative-snapshot
  // rewrite, no store re-scan — and the readout sums the per-batch
  // count deltas (O(distinct digests), the same aggregate the one-shot
  // batch run pays) before the q192 run-merge over the stored index.
  // Streaming ≡ batch EXACTLY for any batching: the accumulated window
  // index IS spanShingles of the accumulated corpus, and counts sum to
  // the same per-digest totals — which is why q202's oracle is literally
  // q192's SQL.

  /** Fold one micro-batch of (doc_id, text) into the span store: window
    * index rows under `windows/b=N`, the batch's own digest counts under
    * `wcounts/b=N` (written LAST — the commit marker). Replays of a
    * committed batch no-op; replays of a half-written one overwrite. */
  def spanBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (Snapshots.committed(spark, s"$storeDir/wcounts", batchId)) return
    val sh = Dedup.spanShingles(batch, 8)
    sh.write.mode("overwrite").parquet(s"$storeDir/windows/b=$batchId")
    sh.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$storeDir/wcounts/b=$batchId")
  }

  /** Current monitor contents: q192's exact output over everything
    * ingested so far — duplicated digests from the summed count deltas,
    * run-merged into maximal spans over the stored window index (the
    * corpus text is never re-shingled). Only `windows/b=N` partitions
    * whose `wcounts/b=N` commit marker exists are read: [[spanBatch]]
    * writes the index BEFORE the marker, so a batch that crashed
    * between the two writes must stay invisible until its replay — the
    * `b`-column isin filter prunes uncommitted partitions at the
    * directory level (one driver-side listing of the wcounts dirs). */
  def spanTable(spark: SparkSession, storeDir: String): DataFrame = {
    val committedIds: Seq[Long] =
      if (pathExists(spark, s"$storeDir/wcounts")) {
        val f = fs(spark, s"$storeDir/wcounts")
        f.listStatus(new Path(s"$storeDir/wcounts")).toSeq
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("b="))
          .flatMap(n => scala.util.Try(n.drop(2).toLong).toOption)
          .filter(id => Snapshots.committed(spark, s"$storeDir/wcounts", id))
      } else Seq.empty
    val w = (if (pathExists(spark, s"$storeDir/windows"))
        spark.read.parquet(s"$storeDir/windows")
          .filter(col("b").isin(committedIds: _*)).drop("b", "pb")
      else spark.range(0).select(col("id").as("doc_id"),
        col("id").as("pos"), lit(null).cast("string").as("h")).limit(0))
    val rep = (if (pathExists(spark, s"$storeDir/wcounts"))
        spark.read.parquet(s"$storeDir/wcounts")
          .filter(col("b").isin(committedIds: _*)).drop("b", "pb")
      else spark.range(0).select(lit(null).cast("string").as("h"),
        col("id").as("n")).limit(0))
      .groupBy(col("h")).agg(sum(col("n")).as("n"))
      .filter(col("n") >= 2).select(col("h"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    w.join(rep, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"),
        (col("n_windows") + 7).as("span_tokens"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Registered q202 entry: the fixture corpus as a 4-chunk file-source
    * stream (the q133 feed discipline) folded through [[spanBatch]];
    * returns the final monitor, whose oracle is exactly q192's SQL. */
  def streamingRepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = Snapshots.storeDir(spark, "stream_span_store")
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
    FileFeed.run(spark, docs, nChunks = 4, col("doc_id"),
      ordered = false, purpose = "spans") { (batch, batchId) =>
      spanBatch(batch, storeDir, batchId)
    }
    spanTable(spark, storeDir)
  }

  // ----- streaming SemDeDup (q135): the embedding sibling of the minhash
  // keep-list above, with the same store discipline: batch-keyed
  // idempotent appends, an incrementally merged cumulative cell-count
  // snapshot as the guard AND the commit marker, and assembly-time
  // equivalence with batch q128 — drops are attributable to the dropped
  // vector's cell, so drops whose cell finally went hot are filtered at
  // assembly and the exact-embedding escalation (the batch rung, doubling
  // as compaction) dedups identical vectors inside finally-hot cells. The
  // quantizer (centroid set) is trained/frozen BEFORE the stream starts
  // (standard SemDeDup/IVF ingest posture), so assignment is identical
  // across batches and exact duplicates always co-locate.

  /** Process one micro-batch of (vec_id, embedding): assign cells against
    * the frozen centroids, emit drops vs the accumulating assignment
    * store, fold the batch in under the `batchId` key. Same exactly-once
    * posture as [[dedupBatch]]. */
  def semanticBatch(batch: DataFrame, storeDir: String,
      cents: Array[Array[Double]], tau: Double, batchId: Long,
      maxCell: Int = 1000): Unit = {
    val spark = batch.sparkSession
    if (committed(spark, storeDir, batchId)) return
    val countsDir = s"$storeDir/counts"
    val asg = Similarity.assignCellsFlatAuto(batch, cents).persist()
    try {
      val delta = asg.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val counts = mergedCounts(spark, countsDir, batchId, delta, Seq("cell"))
      val hotNow = counts.filter(col("n") > maxCell).select(col("cell"))
      val old = readBeforeBuckets(spark, s"$storeDir/asg", batchId, asg,
        touchedBuckets(asg, Seq("cell")))
      val newIn = asg.join(hotNow, Seq("cell"), "left_anti")
      val oldIn = old.join(hotNow, Seq("cell"), "left_anti")
      val within = newIn.alias("a").join(newIn.alias("b"),
          col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
        .filter(Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")) >= tau)
        .select(col("b.vec_id").as("vec_id"))
      val cross = newIn.alias("a").join(oldIn.alias("b"),
          col("a.cell") === col("b.cell"))
        .filter(Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")) >= tau)
        .select(greatest(col("a.vec_id"), col("b.vec_id")).as("vec_id"))
      within.unionByName(cross).distinct()
        .write.mode("overwrite").parquet(s"$storeDir/dropped/b=$batchId")
      writeBucketed(asg, Seq("cell"), s"$storeDir/asg", batchId)
      counts.write.mode("overwrite").parquet(s"$countsDir/b=$batchId")
      pruneSnapshots(spark, countsDir, batchId)
    } finally asg.unpersist()
  }

  /** Assemble the decision table from the accumulated store — same output
    * contract AND same decisions as batch q128 over everything the stream
    * has seen: (vec_id, cell, kept, escalated), one row per non-zero-norm
    * vector; drops whose cell finally went hot are discarded (batch never
    * compares inside a hot cell), the exact-embedding compaction rung
    * re-drops identical vectors there, and `escalated` marks cells over
    * `maxCell` in the FINAL cumulative counts. */
  def semanticDecisionTable(spark: SparkSession, storeDir: String,
      maxCell: Int = 1000): DataFrame = {
    val asg = readAll(spark, s"$storeDir/asg",
      spark.range(0).select(col("id").as("vec_id"),
        array().cast("array<float>").as("embedding"),
        lit(0.0).as("nrm"), col("id").as("cell")))
    val finalHot = latestSnapshot(spark, s"$storeDir/counts", Long.MaxValue)
      .map(spark.read.parquet(_)).getOrElse(
        spark.range(0).select(col("id").as("cell"), col("id").as("n")))
      .filter(col("n") > maxCell)
      .select(col("cell"))
    val emptyIds = spark.range(0).select(col("id").as("vec_id"))
    val stored = readAll(spark, s"$storeDir/dropped", emptyIds).distinct()
    // batch equivalence, leg 1: a drop survives only if the dropped
    // vector's cell is finally cold (its pair evidence is exactly a pair
    // batch q128 compares; hot is monotone)
    val surviving = stored
      .join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(finalHot, Seq("cell"), "left_anti")
      .select(col("vec_id"))
    // batch equivalence, leg 2: exact-embedding escalation inside finally-
    // hot cells (the batch rung, doubling as the deferred compaction);
    // plan-level skip when no cell is hot — the probe scans only the
    // counts snapshot.
    val escDropped =
      if (finalHot.isEmpty) emptyIds
      else {
        val hotRows = asg.join(finalHot, Seq("cell"), "left_semi")
        val escCanon = hotRows.groupBy(col("cell"), col("embedding"))
          .agg(min(col("vec_id")).as("_canon"))
        hotRows.join(escCanon, Seq("cell", "embedding"))
          .filter(col("vec_id") =!= col("_canon"))
          .select(col("vec_id"))
      }
    val allDropped = surviving.unionByName(escDropped)
      .distinct().withColumn("_drop", lit(true))
    asg.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(allDropped, Seq("vec_id"), "left")
      .join(finalHot.select(col("cell").cast("long").as("cell"),
        lit(true).as("_esc")), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"), col("_drop").isNull.as("kept"),
        coalesce(col("_esc"), lit(false)).as("escalated"))
      .orderBy(col("vec_id"))
  }

  /** Registered q135 entry: freeze the quantizer over the fixture corpus
    * (the K=16 lowest-id vectors — identical to batch q128's), feed the
    * corpus through a DISTRIBUTED micro-batched stream (4 range-chunked
    * parquet files, file-source read, `maxFilesPerTrigger 1` — no driver
    * materialization), run the per-batch incremental compare, and return
    * the assembled decision table. Oracle: the SAME replay as q128. */
  def streamingSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.centroidDirs(vecs, 16)
    val storeDir = Snapshots.storeDir(spark, "stream_sem_store")
    FileFeed.run(spark, vecs, nChunks = 4, col("vec_id"),
      ordered = false, purpose = "sem") { (batch, batchId) =>
      semanticBatch(batch, storeDir, cents, 0.35, batchId)
    }
    semanticDecisionTable(spark, storeDir)
  }
}
