package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY §2.l).
  *
  * Brute-force cosine top-k is the exactness baseline (and the oracle);
  * the scale path is LSH bucketing (random signed projections) so the
  * candidate set per query is a bucket, not the corpus. All vector math is
  * higher-order array functions (`zip_with` + `aggregate`) over
  * double-cast elements — sequential, deterministic, codegen'd; no UDF.
  *
  * Scale notes: queries are broadcast against the corpus (k queries ×
  * corpus rows is linear, never corpus²); the all-pairs variant is
  * explicitly bounded to an id range. At 100 TB the LSH variant's bucket
  * join shuffles on the signature — the same sub-quadratic shape as the
  * dedup band joins.
  */
object Similarity {

  /** Deterministic dot product in double precision, left-to-right — the
    * codegen'd DotProduct expression (see functions/DotProduct.scala);
    * IEEE-identical to the aggregate(zip_with(...)) formulation it
    * replaced, so oracle results are unchanged to the bit. */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

  /** All-pairs cosine over a bounded id range, top-20 most similar pairs.
    * cos4 = round(cosine, 4) — both engines compute the same double-
    * precision expression, so the rounded value is comparable. */
  def cosineTopKPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables(spark, dir).embeddings.filter(col("vec_id") < 120))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos4"))
      .orderBy(col("cos4").desc, col("ia"), col("ib"))
      .limit(20)
  }

  /** Exact ANN baseline: for each query vector (vec_id < 10), the top-5
    * nearest corpus vectors by cosine. The query side is broadcast; the
    * corpus is scanned once — the linear-scan baseline every ANN index is
    * measured against. */
  def annBruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    annBruteForceTopKFrom(e, e.filter(col("vec_id") < 10))
  }

  /** Same, over arbitrary corpus/query frames (vec_id, embedding) — lets
    * tests plant perturbed copies and assert recovery. */
  def annBruteForceTopKFrom(corpusRaw: DataFrame, queriesRaw: DataFrame): DataFrame = {
    val queries = withNorm(queriesRaw)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val corpus = withNorm(corpusRaw)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("cos4"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos4"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Deterministic ±1 hyperplane weight for (plane, dim) — a tiny
    * splitmix-style mix, reproducible anywhere. */
  private def planeSign(p: Int, d: Int): Double = {
    var z = (p.toLong * 0x9e3779b97f4a7c15L) + (d.toLong * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
  }

  private val Dim = 64
  private val BitsPerTable = 6
  private val NumTables = 4

  /** The LSH hyperplane matrix rendered as a DuckDB DOUBLE[][] literal —
    * single source of truth for the q47/q67 oracle replays (SparkEntry):
    * the oracle buckets with the exact same signed projections, so a
    * change to the mix or geometry here changes both sides together. */
  private[graft] def planesSqlLiteral: String =
    (0 until NumTables * BitsPerTable).map(p =>
      (0 until Dim).map(d => if (planeSign(p, d) > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** The `table`-th LSH bucket signature of an embedding: BitsPerTable
    * signed random projections packed into an int. Shared by the ANN path
    * and the near-dup funnel — the two must bucket identically. */
  private def lshSignature(emb: Column, table: Int): Column =
    (0 until BitsPerTable).map { bit =>
      val plane = array((0 until Dim).map(d =>
        lit(planeSign(table * BitsPerTable + bit, d))): _*)
      when(dot(emb, plane) >= 0, lit(1 << bit)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH-bucketed ANN (the scale path): 4 independent 6-bit random-signed-
    * projection signatures; candidates = corpus vectors sharing any
    * table's bucket with the query; top-5 of candidates by exact cosine.
    * Output shape matches the brute-force baseline (recall is asserted in
    * tests against it). */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    annLshTopKFrom(e, e.filter(col("vec_id") < 10))
  }

  /** Same, over arbitrary corpus/query frames. */
  def annLshTopKFrom(corpusRaw: DataFrame, queriesRaw: DataFrame): DataFrame = {

    def withBuckets(df: DataFrame, idCol: String): DataFrame =
      df.select(col("vec_id").as(idCol), col("embedding"), col("nrm"),
          posexplode(array((0 until NumTables).map(t =>
            lshSignature(col("embedding"), t)): _*)).as(Seq("table_idx", "bucket")))

    val corpus = withBuckets(withNorm(corpusRaw), "neighbor_id")
      .withColumnRenamed("embedding", "ce").withColumnRenamed("nrm", "cn")
    val queries = withBuckets(withNorm(queriesRaw), "query_id")
      .withColumnRenamed("embedding", "qe").withColumnRenamed("nrm", "qn")

    val cand = corpus.join(broadcast(queries), Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qe"), col("qn"),
        col("ce"), col("cn"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("cos4"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos4"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF-style ANN (the second index family next to LSH): a deterministic
    * coarse quantizer — K centroid directions taken by id order from the
    * corpus itself — partitions the corpus into K inverted lists by
    * nearest-centroid assignment; each query probes only the `nprobe`
    * cells nearest to it and scans those lists. The vector analogue of
    * partition pruning: per-query work is nprobe/K of the corpus, and the
    * cell assignment is one broadcast-free map (K codegen'd dot products
    * per row). Output shape matches the brute-force baseline; recall is
    * asserted against it in tests, and since round 6 the full path —
    * quantizer, cell argmax, probes, top-5 — replays bit-exactly in the
    * DuckDB oracle (strict-order double folds). */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    annIvfTopKFrom(e, e.filter(col("vec_id") < 10))
  }

  /** Coarse quantizer directions: the K lowest-id corpus vectors,
    * normalized into literal arrays (K × Dim doubles — metadata scale,
    * inlined into the assignment expression, no join needed).
    *
    * K BOUND: literal inlining is only sane while K × Dim stays metadata
    * scale — a 10^6-literal expression tree would bottleneck Catalyst
    * analysis long before execution. The flat quantizer therefore
    * dispatches at [[MaxInlineCentroidDoubles]]: beyond it,
    * [[assignCellsFlatBcast]] carries the centroids as a broadcast
    * relation instead (bit-compatible; equality spec'd). */
  private[graft] def centroidDirs(corpusRaw: DataFrame, k: Int): Array[Array[Double]] =
    corpusRaw
      .orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => if (n == 0) 0.0 else x / n)
      }

  /** Rows of `raw` with their K cell-cosine scores (`ca`). Zero-norm
    * rows are excluded: a zero vector has no cosine direction — its NaN
    * cell scores would null out array_position on the corpus side and
    * sort FIRST under desc on the query side, selecting bogus cells.
    * The nrm > 0 guard inside the array is redundant at runtime but
    * required at plan time: ANSI constant folding evaluates the division
    * for an all-literal row (e.g. a planted zero vector in a union
    * branch) before the filter can prune it. */
  private def withCellScores(raw: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    def cosArr(emb: Column, nrm: Column): Column =
      array(cents.toIndexedSeq.map { c =>
        when(nrm > 0, dot(emb, array(c.toIndexedSeq.map(lit): _*)) / nrm)
          .otherwise(lit(0.0))
      }: _*)
    withNorm(raw).filter(col("nrm") > 0)
      .withColumn("ca", cosArr(col("embedding"), col("nrm")))
  }

  /** Flat argmax cell assignment of an arbitrary (vec_id, embedding)
    * frame against a FIXED centroid set — the quantizer hook the
    * streaming semantic dedup (q135) ingests with: the quantizer is
    * trained/frozen ahead of the stream (standard SemDeDup/IVF ingest
    * posture), so every micro-batch assigns against identical literals
    * and exact duplicates co-locate across batches by construction.
    * Zero-norm vectors are excluded (no cosine direction), matching the
    * batch decision-table contract. */
  private[graft] def assignCellsFlat(vecs: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    withCellScores(vecs, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        array_position(col("ca"), array_max(col("ca"))).as("cell"))

  /** Broadcast-relation flat assignment — the same argmax contract as
    * [[assignCellsFlat]] but with the centroids carried as a broadcast
    * TABLE (one row per cell) instead of inlined literal expressions: the
    * scale path once K × Dim leaves metadata scale, where a literal tree
    * would bottleneck Catalyst analysis (see the K BOUND note on
    * [[centroidDirs]]). Bit-compatible with the literal path: the same
    * DotProduct fold computes each score, and the windowed argmax
    * (score desc, cell asc) reproduces array_position's first-max
    * tie-break exactly — asserted score-for-score in PipelineSpec. */
  private[graft] def assignCellsFlatBcast(vecs: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centDf = cents.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i.toLong + 1L, c.toSeq) }.toDF("cell", "dir")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cell").asc)
    withNorm(vecs).filter(col("nrm") > 0)
      .join(broadcast(centDf))
      .withColumn("cscore", dot(col("embedding"), col("dir")) / col("nrm"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }

  /** Above this many inlined doubles (K × Dim) the flat quantizer switches
    * from literal expressions to the broadcast relation. 4096 ≈ 64 cells
    * of 64 dims — comfortably inside Catalyst's literal-tree budget. */
  private[graft] val MaxInlineCentroidDoubles = 4096

  /** Flat assignment with the literal/broadcast dispatch applied — the
    * entry point semanticDedupFrom and the streaming tier share. */
  private[graft] def assignCellsFlatAuto(vecs: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    if (cents.length.toLong * cents.headOption.map(_.length).getOrElse(0)
        <= MaxInlineCentroidDoubles) assignCellsFlat(vecs, cents)
    else assignCellsFlatBcast(vecs, cents)

  /** Same, over arbitrary corpus/query frames. */
  def annIvfTopKFrom(corpusRaw: DataFrame, queriesRaw: DataFrame,
      k: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = centroidDirs(corpusRaw, k)
    // corpus side: argmax cell (first-position tie-break — deterministic)
    val corpus = withCellScores(corpusRaw, cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("nrm").as("cn"),
        array_position(col("ca"), array_max(col("ca"))).as("cell"))
    // query side: the nprobe best cells each
    val qScored = withCellScores(queriesRaw, cents)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"),
        posexplode(col("ca")).as(Seq("pos", "cos_c")))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("pos").asc)
    val qProbes = qScored.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qe"), col("qn"),
        (col("pos") + 1).cast("long").as("cell"))
    val scored = corpus.join(broadcast(qProbes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("cos4"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos4"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Hierarchical (two-level) cell assignment: argmax over ceil(√K)
    * super-directions (the first √K centroids, a small inlined array
    * expression), then argmax over only the centroids belonging to that
    * super-cell — realized as a BROADCAST join against the centroid
    * dimension table (cell, super, dir) followed by a per-vector
    * windowed argmax, so a row pays √K inlined dots plus ~K/√K joined
    * rows instead of K inlined dots. (A first attempt inlined the whole
    * second level as a K-branch CASE expression — the generated code
    * blew past JVM method limits into interpreted evaluation and ran 6×
    * SLOWER than flat; the dimension-table form stays in codegen.)
    * Tie-breaks mirror the flat argmax exactly: first super index, then
    * lowest global centroid index among score ties. Output schema
    * matches the flat path: (vec_id, embedding, nrm, cell) with cell a
    * GLOBAL 1-based centroid index — downstream (guard, self-join,
    * decision table) is shared.
    *
    * The vector-side argmax runs over only the supers that actually
    * RECEIVED >= 1 centroid in the centroid→super mapping (on float data
    * a super can end up empty — a duplicated or zero-norm direction among
    * the first ceil(√K) corpus vectors maps its own centroid elsewhere).
    * Restricting the candidate set keeps the downstream join total: every
    * vector lands in a non-empty super, so the one-row-per-non-zero-norm-
    * vector contract of the decision table holds by construction instead
    * of by luck. The restriction is metadata (≤ √K literal indices) and
    * replayed identically by the q130 oracle. */
  private def withTwoLevelCell(raw: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val s = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    val supers = cents.take(s)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // centroid -> super (first-max tie-break, mirroring array_position);
    // K×√K dots, driver-side metadata
    val cellSup = cents.zipWithIndex.map { case (c, i) =>
      val scores = supers.map(sd => dotA(c, sd))
      (i.toLong + 1L, scores.indexOf(scores.max) + 1, c.toSeq)
    }
    val centDf = cellSup.toSeq.toDF("cell", "sup", "dir")
    val present: Array[Int] = cellSup.map(_._2).distinct.sorted
    val supArr = array(present.toIndexedSeq.map { j =>
      val sd = supers(j - 1)
      when(col("nrm") > 0,
          dot(col("embedding"), array(sd.toIndexedSeq.map(lit): _*)) / col("nrm"))
        .otherwise(lit(0.0))
    }: _*)
    val presentLit = array(present.toIndexedSeq.map(j => lit(j)): _*)
    val assigned = withNorm(raw).filter(col("nrm") > 0)
      .withColumn("sup", element_at(presentLit,
        array_position(supArr, array_max(supArr)).cast("int")))
    // within-super argmax as a max_by AGGREGATE, not a sort+window: the
    // array-typed buffer plans it as a partial+final SortAggregate pair,
    // so the exchange carries ~one row per (vec_id, map partition) —
    // the windowed form shuffled and sorted EVERY joined
    // (vector × in-super centroid) row before row_number could pick one.
    // The ordering struct (cscore, -cell) reproduces the windowed
    // (cscore desc, cell asc) row_number tie-break exactly — max struct
    // = highest score, then lowest global centroid index — so the
    // assignment is bit-identical (q130's oracle pins it).
    assigned.join(broadcast(centDf), Seq("sup"))
      .withColumn("cscore", dot(col("embedding"), col("dir")) / col("nrm"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("embedding"), col("nrm"), col("cell")),
        struct(col("cscore"), (-col("cell")).as("_nc"))).as("_best"))
      .select(col("vec_id"), col("_best.embedding").as("embedding"),
        col("_best.nrm").as("nrm"), col("_best.cell").as("cell"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540, public method description): quantize embeddings into K
    * cells with the SAME deterministic coarse quantizer as the IVF index,
    * compare pairs only within a cell, and drop every vector that has a
    * LOWER-id cell-mate with cosine >= tau. The paper keeps the vector
    * farthest from the centroid per duplicate group; the keep-lowest-id
    * rule here pins a deterministic total order instead so the whole
    * decision table is oracle-checkable — the funnel shape (cluster,
    * compare within cell, keep one) is the published method's.
    *
    * Divergence from the paper's GROUP semantics, stated explicitly: the
    * drop rule is per-PAIR, so a similarity chain A~B~C with A!~C drops
    * both B and C (B's lower-id mate is A, C's is B — even though B is
    * itself dropped), keeping no representative within tau of C. This
    * over-drops relative to keep-one-per-connected-group; it is
    * deterministic, oracle-matched, and the aggressive end of the dedup
    * spectrum. For keep-one-per-group semantics compose the dup PAIRS
    * with connected components exactly as [[Dedup.fuzzyDedupKeepFrom]]
    * (q129) does for the minhash funnel.
    *
    * Scale shape: the pairwise compare is quadratic only WITHIN a cell —
    * K grows with the corpus (K ~ N/B for a target cell size B), so
    * per-cell work stays bounded; the self-join shuffles on the cell id
    * exactly like the LSH band joins. Cells larger than `maxCell` are
    * excluded from the PAIRWISE compare, but not silently kept whole:
    * the escalation rung runs exact-embedding dedup inside each hot cell
    * (linear group-by — identical vectors have cosine exactly 1 ≥ tau,
    * so the drop is evidence-backed), and only non-identical vectors in
    * hot cells stay conservative-kept. The decision table's `escalated`
    * column marks rows decided by that rung. tau is fixture-calibrated
    * to 0.35 here (the synthetic embeddings are near-orthogonal; a
    * production corpus uses ~0.95 per the paper). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(Tables(spark, dir).embeddings, 0.35)

  /** The q130 registered form: the SAME decision-table contract as q128
    * but with the hierarchical (two-level) quantizer — the assignment that
    * stays sub-quadratic when K scales with the corpus (O(N·2√K) dots vs
    * the flat path's O(N·K); measured at 50×, SCALING.md). Oracled
    * bit-exactly: the DuckDB replay recomputes the centroid→super map,
    * the present-super argmax and the within-super windowed argmax with
    * the same strict-fold float geometry as the q68/q128 replays. */
  def semanticDedup2l(spark: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(Tables(spark, dir).embeddings, 0.35, twoLevel = true)

  /** SemDeDup with keep-one-per-GROUP semantics (q136) — the composition
    * the q128 docstring prescribes: the same within-cell tau-pair
    * evidence, then connected components over the dup-pair graph and
    * canonical = component minimum, exactly the q129 action applied to
    * embeddings. Differs from q128's per-pair rule on similarity chains:
    * a vector whose only tau-mates have HIGHER ids is kept by the pair
    * rule but collapses to the component minimum here (spec'd on a
    * constructed 3-vector chain). Output is the q129 contract: one row
    * per (non-zero-norm) vector, directly joinable as a dedup filter.
    *
    * Scale shape: pair generation is cell-bounded (inherits the hot-cell
    * guard; exact-embedding escalation pairs inside hot cells feed the
    * graph, as q129's escalation feeds its keep-list), and the CC step
    * runs on dup PAIRS only. */
  def semanticKeepList(spark: SparkSession, dir: String): DataFrame =
    semanticKeepListFrom(Tables(spark, dir).embeddings, 0.35)

  /** Same, over an arbitrary (vec_id, embedding) frame. */
  def semanticKeepListFrom(vecs: DataFrame, tau: Double, k: Int = 16,
      maxCell: Int = 1000): DataFrame = {
    val asg = GraftCache.persisted("Similarity.cell",
      assignCellsFlatAuto(vecs, centroidDirs(vecs, k)))
    val (pairs, _) = cellDupPairs(asg, tau, maxCell)
    GraphOps.canonicalIds(asg.select(col("vec_id")), pairs)
      .orderBy(col("vec_id"))
  }

  /** The dup-pair evidence of a cell assignment, as (ia, ib) with ia the
    * lower id, next to the hot cells (over `maxCell` rows): within-cell
    * τ-pairs from the pairwise compare of the cells in play, plus the
    * escalation rung's pairs inside hot cells — exact-embedding dedup,
    * ia = the lowest id of each identical group — linear and
    * evidence-backed (identical ⇒ cosine 1 ≥ tau), so an all-identical
    * hot cell of any size collapses to one representative instead of
    * being kept whole. As in BucketGuard, an empty hot list (the healthy
    * case) skips the escalation stages at plan level — `asg` is
    * persisted, so the probe is a scan of cached cell counts, and the
    * result is unchanged (empty hot ⇒ empty escalation set). */
  private def cellDupPairs(asg: DataFrame, tau: Double,
      maxCell: Int): (DataFrame, DataFrame) = {
    val hot = asg.groupBy(col("cell")).agg(count(lit(1)).as("_csz"))
      .filter(col("_csz") > maxCell)
    val hotCells = hot.select(col("cell"))
    val inPlay = asg.join(hotCells, Seq("cell"), "left_anti")
    val a = inPlay.select(col("cell"), col("vec_id").as("ia"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = inPlay.select(col("cell"), col("vec_id").as("ib"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("ia") < col("ib"))
      .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= tau)
      .select(col("ia"), col("ib"))
    val escPairs =
      if (hot.isEmpty)
        asg.sparkSession.range(0).select(col("id").as("ia"), col("id").as("ib"))
      else {
        val hotRows = asg.join(hotCells, Seq("cell"), "left_semi")
        val escCanon = hotRows.groupBy(col("cell"), col("embedding"))
          .agg(min(col("vec_id")).as("_canon"))
        hotRows.join(escCanon, Seq("cell", "embedding"))
          .filter(col("vec_id") =!= col("_canon"))
          .select(col("_canon").as("ia"), col("vec_id").as("ib"))
      }
    (pairs.unionByName(escPairs), hotCells)
  }

  /** Same, over an arbitrary (vec_id, embedding) frame — lets tests plant
    * exact duplicates and assert the drop/keep decisions. Output is the
    * full decision table: (vec_id, cell, kept, escalated), one row per
    * non-zero-norm vector; `escalated` marks rows whose cell was over
    * `maxCell` and therefore decided by the exact-match rung instead of
    * the pairwise compare.
    *
    * `twoLevel = true` switches to the hierarchical assignment that
    * keeps the quantizer sub-quadratic when K scales with the corpus
    * (K ~ N/B makes the flat argmax O(N·K) = O(N²/B) — measured at 50×,
    * see SCALING.md): vectors first pick the best of ceil(√K) super-
    * directions, then the best centroid within that super-cell only —
    * O(N·2√K) dots. Assignments can differ from the flat argmax at
    * super-cell borders (the standard IVF-hierarchy recall trade);
    * identical vectors always evaluate identical expressions, so
    * exact duplicates still co-locate and the drop rule is unchanged. */
  def semanticDedupFrom(vecs: DataFrame, tau: Double, k: Int = 16,
      maxCell: Int = 1000, twoLevel: Boolean = false): DataFrame = {
    val cents = centroidDirs(vecs, k)
    val cellExpr: DataFrame => DataFrame =
      // flat path: literal inlining for metadata-scale K (the registered
      // q128, K=16), broadcast relation once K × Dim leaves literal-tree
      // scale — bit-compatible, see assignCellsFlatBcast
      if (!twoLevel) df => assignCellsFlatAuto(df, cents)
      else df => withTwoLevelCell(df, cents)
    val asg = GraftCache.persisted("Similarity.cell", cellExpr(vecs))
    val (pairs, hotCells) = cellDupPairs(asg, tau, maxCell)
    val allDropped = pairs.select(col("ib").as("vec_id"))
      .distinct().withColumn("_drop", lit(true))
    asg.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(allDropped, Seq("vec_id"), "left")
      .join(hotCells.select(col("cell").cast("long").as("cell"),
        lit(true).as("_esc")), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"), col("_drop").isNull.as("kept"),
        coalesce(col("_esc"), lit(false)).as("escalated"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-duplicate detection — the vector-space sibling
    * of the minhash/simhash text funnels: LSH signed-projection buckets
    * generate candidate pairs (corpus self-join on (table, bucket), never
    * all-pairs), exact cosine verifies them against the threshold. Output
    * is the funnel summary, hash-verified since round 6 (the oracle
    * replays the projections with the same IEEE operation sequence);
    * planted-duplicate recovery is additionally spec'd. */
  def embeddingNearDupSummary(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupSummaryFrom(Tables(spark, dir).embeddings, 0.9)

  /** Same, over an arbitrary (vec_id, embedding) frame — lets tests plant
    * perturbed copies and assert the funnel recovers them. `maxBucket`
    * caps the per-(table, bucket) size (see [[BucketGuard]]): projection
    * buckets holding more vectors than this are excluded from candidate
    * generation and reported as skipped mass. */
  def embeddingNearDupSummaryFrom(vecs: DataFrame, tau: Double,
      maxBucket: Int = 1000): DataFrame = {
    val e = GraftCache.persisted("Similarity.norm", withNorm(vecs))
    // materialization barrier: the normed scan feeds both self-join sides
    // — and one row per vector, so this count IS the corpus size
    val nVecs = e.count()
    val raw = e.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array((0 until NumTables).map(t =>
        lshSignature(col("embedding"), t)): _*)).as(Seq("table_idx", "bucket")))
    val (bucketed, hotRowsOpt, skipped) =
      BucketGuard(raw, Seq("table_idx", "bucket"), maxBucket)
    // escalation rung inside over-cap buckets: vectors whose embedding is
    // EXACTLY equal to a lower-id bucket-mate count as escalated dups
    // (cosine 1 ≥ tau by construction) — linear group-by on the vector
    // value, so the mass-duplicated vectors that made the bucket hot are
    // still counted
    val nEsc = hotRowsOpt match {
      case None => vecs.sparkSession.range(1).select(lit(0L).as("n_escalated"))
      case Some(hotRows) =>
        val escCanon = hotRows
          .groupBy(col("table_idx"), col("bucket"), col("embedding"))
          .agg(min(col("vec_id")).as("_canon"))
        hotRows.join(escCanon, Seq("table_idx", "bucket", "embedding"))
          .filter(col("vec_id") =!= col("_canon"))
          .select(col("vec_id")).distinct()
          .agg(count(lit(1)).as("n_escalated"))
    }
    val a = bucketed.select(col("table_idx"), col("bucket"),
      col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = bucketed.select(col("table_idx"), col("bucket"),
      col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    val cand = a.join(b, Seq("table_idx", "bucket"))
      .filter(col("ia") < col("ib"))
      .dropDuplicates("ia", "ib")
    cand.select(
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .agg(
        lit(nVecs).as("n_vecs"),
        count(lit(1)).as("n_candidate_pairs"),
        coalesce(sum(when(col("cos") >= tau, 1L).otherwise(0L)), lit(0L))
          .as("n_dup_pairs"))
      .crossJoin(skipped) // 1 row × 1 row: funnel counts + skipped mass
      .crossJoin(nEsc)
  }

  // --------------------------------------------- fixed-point k-means

  /** THE fixed-point quantization rule (floor(x·10⁶) longs — floor, not
    * round: round's half-tie rule differs between engines) shared by the
    * k-means (q142), PQ (q148/q159), and recall (q158) tiers. One
    * definition so the cross-engine determinism contract cannot
    * desynchronize between operators and their oracles. */
  private def quantized(vecs: DataFrame): DataFrame =
    // fused codegen kernel ≡ transform(embedding,
    //   x => floor(x.cast("double") * 1e6).cast("long")) — the HOF form
    // is CodegenFallback (interpreted lambda per element); bit-equality
    // asserted in QuantKernelsSpec
    vecs.select(col("vec_id"),
      graft.functions.QuantKernels.quantize_vec(col("embedding")).as("e"))

  /** Exact distributed k-means (q142) — Lloyd iterations in FIXED-POINT
    * integer arithmetic, the quantizer-TRAINING step the SemDeDup/IVF
    * tier freezes its centroids from (centroidDirs seeds cells from the
    * K lowest-id vectors; this trains them). Floating-point k-means is
    * not replayable across engines (float means depend on reduction
    * order), so every quantity here is integer: components are
    * floor(x·10^6) longs (floor, not round — round's half-tie rule
    * differs between engines; floor of an identical double is
    * identical), distances are integer squared-L2 (≤ 64·(1.1e6)² ≈
    * 7.7e13, long-safe), the argmin tie-breaks to the lowest cell id
    * (array_position takes the FIRST minimum), and centroid updates are
    * floor(sum/count) with the division done in doubles that are exact
    * below 2^53. Empty cells carry their previous centroid forward. The
    * same discipline as the fixed-point pagerank: bit-stable across
    * engines, runs, and partitionings, hence a full DuckDB oracle.
    *
    * Scale shape per iteration: assignment is one codegen'd map over the
    * quantized scan ([[assignQuantizedCells]]'s fused kernel holds the
    * K×Dim centroids as one array, so any K plans the same);
    * centroid update is one (cell, component) partial+final aggregate —
    * ≤ K·Dim result rows, collected to the driver exactly like the
    * GlobalOrder bucket offsets. Nothing in the loop scans more than
    * the corpus once per iteration. */
  def kmeansCells(spark: SparkSession, dir: String): DataFrame =
    kmeansCellsFrom(graft.Tables(spark, dir).embeddings, k = 8, iters = 3)

  /** Quantized (integer squared-L2) argmin assignment — one rule for
    * the whole integer-quantizer family (q142 k-means, q159 coarse
    * cells): one codegen'd map over the scan, `array_position`
    * first-min tie-break (lowest cell id). The fused kernel holds the
    * centroids as one array and loops over it, so no K×Dim literal tree
    * reaches Catalyst at any K. Output: (vec_id, e, cell, dist_q). */
  private[graft] def assignQuantizedCells(eq: DataFrame,
      cents: Array[Array[Long]]): DataFrame = {
    // fused argmin kernel ≡ the transform/zip_with/aggregate distance
    // array + array_position(array_min) first-min rule (the HOF chain
    // is CodegenFallback — ~K·Dim boxed ops and K allocations per row
    // interpreted; QuantKernelsSpec asserts bit-equality)
    val ad = graft.functions.QuantKernels.cent_argmin(col("e"), cents)
    eq.withColumn("ad", ad)
      .select(col("vec_id"), col("e"),
        element_at(col("ad"), 1).as("cell"),
        element_at(col("ad"), 2).as("dist_q"))
  }

  /** The Lloyd loop itself, factored so the IVF coarse quantizer
    * (q159/q179) trains its cells through the SAME fixed-point rule as
    * q142: seeds = the K lowest-id vectors' quantized components, then
    * `iters` rounds of (integer-L2 argmin assignment → per-(cell,
    * component) floor-mean update), empty cells carrying forward. Per
    * round: one [[assignQuantizedCells]] kernel map over the scan (any
    * K) + a ≤ K·Dim-row aggregate collected to the driver (the
    * GlobalOrder-offsets collect scale).
    *
    * `sampleMod` bounds the TRAINING relation to the deterministic
    * `vec_id % sampleMod == 0` subset (seeds included — they are the
    * sample's K lowest ids), the Jégou et al. posture: codebook quality
    * needs ~100·K training points, not the corpus, so at 100 TB each
    * Lloyd pass scans a fixed-size sample while assignment/encoding
    * still covers everything. 1 (train on all) for the registered
    * fixture queries — the oracles replay that unroll directly; a
    * cluster deployment raises one argument. The sampled path is
    * spec'd on the clustered corpus. */
  private[graft] def trainQuantizedCents(eq: DataFrame, k: Int,
      iters: Int, sampleMod: Long = 1L): Array[Array[Long]] = {
    val tr = if (sampleMod == 1L) eq
      else eq.filter(col("vec_id") % sampleMod === 0)
    var cents: Array[Array[Long]] = tr.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    // An empty (or sub-K) sample would train an empty codebook and
    // surface later as an opaque analysis error inside the assignment
    // map — fail here with the actual cause instead. (Found live: a
    // composite-id corpus where vec_id = doc_id·2^20 + chunk_idx and a
    // sampleMod sharing factors with 2^20 selected only ids a prior
    // filter had removed.)
    require(cents.length == k,
      s"coarse training sample has only ${cents.length} of $k needed " +
        s"seed vectors (sampleMod=$sampleMod) — lower sampleMod or check " +
        "the id structure against the modulus")
    for (_ <- 1 to iters) {
      val means = assignQuantizedCells(tr, cents)
        .select(col("cell"), posexplode(col("e")).as(Seq("comp", "v")))
        .groupBy(col("cell"), col("comp"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("m",
          floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("comp"), col("m")))),
          p => p.getField("m")).as("c"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap
      cents = Array.tabulate(cents.length)(j => means.getOrElse(j, cents(j)))
    }
    cents
  }

  /** Same, over an arbitrary (vec_id, embedding) relation. Assignment
    * is the fused [[assignQuantizedCells]] map at every K (ScaleSmoke
    * runs K=160 × 64 dims through the same plan as K=8). */
  def kmeansCellsFrom(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val eq = GraftCache.persisted("Similarity.km", quantized(vecs))
    val cents = trainQuantizedCents(eq, k, iters)
    assignQuantizedCells(eq, cents)
      .select(col("vec_id"), col("cell"), col("dist_q"))
      .orderBy(col("vec_id"))
  }

  /** Per-cell corpus populations under the (optionally trained) coarse
    * quantizer — the balance diagnostic ScaleSmoke records: a hot cell
    * is a straggler task for every query probing it at 100 TB. */
  private[graft] def coarseCellPopulations(vecs: DataFrame, k: Int,
      coarseIters: Int): DataFrame = {
    val eqd = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val coarse = trainQuantizedCents(eqd, k, coarseIters)
    assignQuantizedCells(eqd, coarse)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("cell"))
  }

  /** Top-`nprobe` quantized cells per query — the probe-side sibling of
    * [[assignQuantizedCells]] (same integer squared-L2, same
    * (dist asc, cell asc) tie rule), keeping the best `nprobe` cells
    * instead of the single argmin. One fused all-distances kernel map,
    * centroids held as one array at any K. Output: (query_id, cell),
    * 0-based cells. */
  private[graft] def probeQuantizedCells(eqQ: DataFrame,
      cents: Array[Array[Long]], nprobe: Int): DataFrame = {
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_c").asc, col("cell").asc)
    // fused all-distances kernel ≡ the transform/zip_with/aggregate
    // distance array (QuantKernelsSpec asserts bit-equality)
    val d = graft.functions.QuantKernels.cent_dists(col("e"), cents)
    eqQ.select(col("vec_id").as("query_id"),
        posexplode(d).as(Seq("cell", "dist_c")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cell").cast("long").as("cell"))
  }

  /** Residualize a cell-assigned relation: (vec_id, e, cell, …) →
    * (vec_id, cell, e := e − cents(cell)) — the Jégou et al. IVFADC
    * posture: the PQ codebook quantizes the residual x − q₁(x), not x,
    * so its capacity goes to WITHIN-cell detail instead of re-describing
    * the coarse structure the cell id already carries. Pure integer
    * subtraction in the shared floor(x·10⁶) fixed-point space —
    * components stay within ±2.2·10⁶, squared sub-distances within
    * ~3·10¹⁴ (Long-safe) — so the whole residual composition keeps the
    * bit-stable cross-engine contract. One fused kernel map, centroids
    * held as one array at any K. */
  private[graft] def residualize(assigned: DataFrame,
      cents: Array[Array[Long]]): DataFrame =
    // fused kernel ≡ zip_with(e, cents[cell], _ - _)
    assigned.select(col("vec_id"), col("cell"),
      graft.functions.QuantKernels
        .cent_residual(col("e"), col("cell"), cents).as("e"))

  // --------------------------------------- product quantization + ADC

  /** Product-quantization ANN with asymmetric distance (q148) — the
    * memory-scale path of embedding search: each 64-dim vector is split
    * into M=4 sub-vectors of 16 dims, each sub-vector quantized to its
    * nearest of 16 sub-codewords, so a vector compresses 64 floats →
    * 4 code bytes (64× smaller — the difference between an index that
    * fits executor memory at 100 TB and one that doesn't). A query is
    * answered ASYMMETRICALLY: per sub-space, the exact distances from
    * the query's sub-vector to all 16 codewords form a lookup table
    * (M×16 = 64 entries — metadata), and each corpus vector's distance
    * is M table lookups on its codes instead of a Dim-wide scan — the
    * Jégou et al. ADC formulation, re-expressed as a broadcast join.
    *
    * Everything is FIXED-POINT (floor(x·10⁶) longs, integer squared-L2,
    * argmin ties to the lowest codeword id) with the q142 discipline, so
    * the codes and distances are bit-stable across engines — a full
    * DuckDB oracle replays codebook, encoding, and ADC ranking exactly.
    * Codebook = the sub-vectors of the 16 lowest-id vectors (the q142
    * seeding rule; training them further is [[kmeansCellsFrom]] per
    * sub-space).
    *
    * Scale shape: the codebook is a driver-side 16-row collect held by
    * the fused kernels as one array (4×16×16 longs — metadata);
    * ENCODING is one codegen'd map pass over the corpus (no shuffle, no
    * join); queries with their
    * LUTs are BROADCAST (query batches are small by definition); the
    * per-(query, vector) work is M element_at lookups; the only shuffle
    * is the per-query top-k window, partitioned by query. The corpus is
    * scanned once, never joined to itself. At production scale the scan
    * composes with the IVF cell filter (q68) to probe only a cell's
    * codes — the classic IVFADC layout. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopKFrom(graft.Tables(spark, dir).embeddings)

  private val PqM = 4        // sub-spaces
  private val PqSub = 16     // dims per sub-space (M × Sub = Dim = 64)
  private val PqK = 16       // codewords per sub-space

  /** PQ encode + query-LUT core shared by q148 (flat ADC), q158
    * (trained ADC) and the IVFADC encode: returns (codes: (neighbor_id,
    * codes), queries: (query_id, lut)) over one quantized relation.
    * Encoding is one codegen'd map pass, no shuffle; the fused kernels
    * hold the codebook as one array and read every sub-space width off
    * its own shape (4×16 full index, q244's 1×16, q247's 2×8 prefix). */
  private[graft] def pqEncode(eq: DataFrame, cb: Array[Array[Array[Long]]],
      queryMod: Long): (DataFrame, DataFrame) = {
    // fused codegen kernels ≡ the per-(m, j) transform/zip_with/
    // aggregate sub-distance chain with array_position(array_min)
    // first-min encode; QuantKernelsSpec asserts bit-equality against
    // the HOF forms.
    // ENCODE: codes[m] = argmin_j (ties → lowest j); one map pass
    val codes = eq.withColumn("codes",
      graft.functions.QuantKernels.pq_codes(col("e"), cb))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    // queries: LUT[m][j] = exact dist from query sub-vector m to cw[m][j]
    val queries = eq.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"),
        graft.functions.QuantKernels.pq_lut(col("e"), cb).as("lut"))
    (codes, queries)
  }

  /** Per-(query, probed cell) ADC lookup tables over a RESIDUAL query
    * relation (query_id, cell, e = query − centroid(cell)): LUT[m][j] =
    * integer squared-L2 from the query's residual sub-vector m to
    * codeword cb[m][j]. In residual IVFADC the LUT is per (query, cell)
    * — the query's residual differs in every probed cell — where flat
    * ADC has one LUT per query. nprobe·queries rows of M·K longs:
    * metadata, broadcast by the caller. One codegen'd map, the same
    * fused LUT kernel as [[pqEncode]]'s queries. */
  private[graft] def pqQueryLuts(qres: DataFrame,
      cb: Array[Array[Array[Long]]]): DataFrame =
    qres.select(col("query_id"), col("cell"),
      graft.functions.QuantKernels.pq_lut(col("e"), cb).as("lut"))

  /** ADC distance from the query's LUT over the neighbor's codes — the
    * sub-space count derives from the row's own codes array, so the
    * same fold serves the 4-sub-space 64-dim index and the q244
    * 1-sub-space prefix index. */
  private def adcDist: Column =
    // fused kernel ≡ aggregate(sequence(0, size(codes)-1), 0L,
    //   (acc, m) => acc + lut[m+1][codes[m+1]+1]) — the sub-space count
    // still derives from the row's own codes array
    graft.functions.QuantKernels.adc_dist_lut(col("lut"), col("codes"))

  /** Per-query ADC top-k ranking over (codes, queries) — shared by the
    * untrained (q148) and trained (q158) tiers. */
  private def adcRank(codes: DataFrame, queries: DataFrame,
      topK: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    codes
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist)
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Per-sub-space Lloyd training of the PQ codebook — q142's
    * fixed-point k-means rung run independently in each of the M
    * sub-spaces (the Jégou et al. training recipe): assign every corpus
    * sub-vector to its nearest codeword (integer squared-L2, ties to
    * the lowest j), update each codeword to the floor(sum/count)
    * component-wise integer mean, keep empty codewords unchanged.
    * Exactly the q142 determinism discipline, so the trained codebook —
    * and everything encoded with it — replays bit-for-bit in the q158
    * oracle's per-sub-space CTE unroll.
    *
    * Scale shape per iteration: one codegen'd argmin map over the
    * (vector × M sub-space) explosion, then a (m, code, component)
    * partial+final aggregate — ≤ M·K·Sub result rows (1024 at the
    * registered geometry) collected to the driver, the same
    * metadata-scale collect as kmeansCellsFrom's means. */
  private[graft] def pqTrainCodebook(eqd: DataFrame,
      iters: Int, sampleMod: Long = 1L,
      pqM: Int = PqM, pqSub: Int = PqSub): Array[Array[Array[Long]]] = {
    // same bounded-training-sample knob as trainQuantizedCents: the
    // codebook trains on the vec_id % sampleMod == 0 subset (1 = all,
    // the registered fixture posture the oracles replay), encoding
    // always covers the full relation. `pqM` selects the sub-space
    // count for non-64-dim inputs (the q244 prefix index trains 1
    // sub-space over its 16 dims); everything downstream derives the
    // count from the codebook's own shape.
    val tr = if (sampleMod == 1L) eqd
      else eqd.filter(col("vec_id") % sampleMod === 0)
    val seeds: Array[Array[Long]] = tr.orderBy(col("vec_id")).limit(PqK)
      .collect().map(_.getSeq[Long](1).toArray)
    require(seeds.length == PqK,
      s"PQ training sample has only ${seeds.length} of $PqK needed seed " +
        s"vectors (sampleMod=$sampleMod) — lower sampleMod or check the " +
        "id structure against the modulus")
    var cb: Array[Array[Array[Long]]] = Array.tabulate(pqM) { m =>
      seeds.map(_.slice(m * pqSub, (m + 1) * pqSub))
    }
    val sub = tr.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(pqM - 1)), m =>
        slice(col("e"), (m * lit(pqSub) + 1).cast("int"), lit(pqSub))))
        .as(Seq("m", "sv")))
    for (_ <- 1 to iters) {
      // fused kernel ≡ transform(cb[m], cw =>
      //   aggregate(zip_with(sv, cw, (x,y) => (x-y)*(x-y)), 0L, _+_))
      val d = graft.functions.QuantKernels
        .sub_cent_dists(col("sv"), col("m"), cb)
      val upd = sub.withColumn("d", d)
        .withColumn("code",
          (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("comp", "v")))
        .groupBy(col("m"), col("code"), col("comp"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("mv",
          floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy(col("m"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("comp"), col("mv")))),
          p => p.getField("mv")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray)
        .toMap
      cb = Array.tabulate(pqM)(m =>
        Array.tabulate(PqK)(j => upd.getOrElse((m, j), cb(m)(j))))
    }
    cb
  }

  /** Registered Lloyd rounds for q158's trained codebook — mirrored in
    * the oracle's CTE unroll (SparkEntry builds cb0..cb10 from this
    * constant); keep the two in sync. 10 rounds doubles fixture
    * recall@3 over the untrained seed codebook (0.3 → 0.6 mean hits);
    * past ~10 the isotropic fixture saturates — the remaining gap is
    * quantization granularity (M=4, K=16), not training. */
  private[graft] val PqTrainIters = 10

  /** Same, over an arbitrary (vec_id, embedding) relation. `queryMod`
    * picks the query subset (vec_id % queryMod == 0) — ScaleSmoke scales
    * it with the corpus to hold the query batch size fixed, isolating
    * the per-query linear ADC scan from the fixture's query-count
    * growth. The codebook is the untrained seed one: 0 Lloyd rounds
    * of [[pqTrainCodebook]]. */
  def pqAdcTopKFrom(vecs: DataFrame, topK: Int = 3,
      queryMod: Long = 50L): DataFrame = {
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val (codes, queries) = pqEncode(eq, pqTrainCodebook(eq, 0), queryMod)
    adcRank(codes, queries, topK).orderBy(col("query_id"), col("rk"))
  }

  /** IVFADC (q159) — the production 100 TB ANN layout, composed from
    * this library's own parts: the q68 coarse quantizer buckets the
    * corpus into IVF cells, each query probes only its nprobe best
    * cells, and WITHIN those cells distance is the asymmetric PQ
    * lookup instead of a full-dimension scan. The PQ codebook encodes
    * RESIDUALS x − centroid(cell(x)) — Jégou et al.'s actual IVFADC
    * formulation: the cell id already carries the coarse structure, so
    * quantizing the residual spends the codebook's capacity on
    * within-cell detail (the textbook recall lift over raw-vector
    * encoding; measured by the q179 gate). Queries carry one LUT per
    * PROBED cell (their residual differs per cell — nprobe·queries
    * LUTs, still metadata). Per query the work is (probed-cell mass) ×
    * M table lookups — cell-bounded AND dimension-free, the Jégou et
    * al. IVFADC layout as one declarative plan. Residuals are integer
    * subtractions in the shared fixed-point space, so everything
    * stays bit-stable (float cell scores replay via
    * the strict-fold discipline of q68's oracle; PQ distances are
    * integers), so the full composition carries a DuckDB oracle.
    *
    * Scale shape: cell assignment is the q68 codegen map; codes ride a
    * corpus-keyed equi-join onto their cells; query probes + LUTs are
    * BROADCAST; the candidate join is on the cell id (shuffle-free
    * against the broadcast side); the only shuffle is the per-query
    * top-k window. */
  def ivfAdcTopK(spark: SparkSession, dir: String): DataFrame =
    ivfAdcTopKFrom(graft.Tables(spark, dir).embeddings)

  /** Registered Lloyd rounds for the IVF COARSE quantizer — mirrored in
    * the oracle's kc0..kcN unroll (SparkEntry generates it from this
    * constant); keep the two in sync. Training the cells moves them off
    * the arbitrary lowest-id seeds onto the corpus's actual density,
    * which both balances cell populations (the 100 TB skew argument)
    * and lifts the recall the q179 gate measures. */
  private[graft] val IvfCoarseIters = 5

  /** Served ANN depth and probe width — q159's serving knobs, shared
    * by the one-shot rank ([[ivfAdcTopKFrom]]), the store-backed serve
    * ([[ivfAdcServe]] — q226/q231) and the generated oracle SQL
    * (ivfAdcTopkOracle / the qprobe CTE), so a knob change moves every
    * consumer and its oracle together instead of silently diverging. */
  private[graft] val AnnTopK = 3
  private[graft] val AnnNprobe = 4

  /** Training-sample modulus for the SAMPLED-train rung (q248): both
    * quantizers (coarse cells + residual PQ codebook) train on the
    * deterministic `vec_id % 4 == 0` quarter of the corpus while
    * assignment, encoding and serving still cover everything — the
    * Jégou et al. deployment posture (codebook quality needs ~100·K
    * training points, not the corpus; at 100 TB a Lloyd pass over
    * everything is the one thing in this tier you'd never run). The
    * oracle replays the same sampled unroll; the recall cost of
    * sampling vs the full-train index is measured in SimilaritySpec
    * and SCALING.md. */
  private[graft] val IvfTrainSampleMod = 4L

  /** Same, over an arbitrary (vec_id, embedding) relation: the
    * train → encode → serve pipeline run once over `vecs`, queries the
    * `vec_id % queryMod == 0` rows. `trainIters` selects the PQ codebook
    * rung and `coarseIters` the coarse-cell rung (0 = the untrained
    * seeds — the prior-round baselines the recall gate measures
    * training against). */
  def ivfAdcTopKFrom(vecs: DataFrame, topK: Int = AnnTopK,
      queryMod: Long = 50L,
      k: Int = 16, nprobe: Int = AnnNprobe,
      trainIters: Int = PqTrainIters,
      coarseIters: Int = IvfCoarseIters,
      pqM: Int = PqM, pqSub: Int = PqSub,
      sampleMod: Long = 1L): DataFrame = {
    val (coarse, cb) = ivfAdcTrain(vecs, k, coarseIters, trainIters,
      sampleMod, pqM, pqSub)
    ivfAdcServe(ivfAdcEncode(vecs, coarse, cb),
      vecs.filter(col("vec_id") % queryMod === 0), coarse, cb, topK, nprobe)
  }

  /** The trained coarse cells of a quantized relation, held in one
    * cache slot under one param shape for every IVF caller (q159's
    * train, q200's sample, q244/q247's read-mass probe), so no caller
    * evicts another's cells. */
  private def coarseCents(eqd: DataFrame, k: Int, coarseIters: Int,
      sampleMod: Long): Array[Array[Long]] =
    GraftCache.trained("Similarity.coarse", eqd,
        Seq(k, coarseIters, sampleMod.toInt))(
      trainQuantizedCents(eqd, k, coarseIters, sampleMod))

  /** Frozen-quantizer training — the TRAIN step of q159's pipeline and
    * of the streaming ingest rung (q226): the coarse cells + residual-PQ
    * codebook, returned as driver-side metadata so a stream can encode
    * micro-batches under a FROZEN index (the q133/q135
    * train-on-snapshot posture). Coarse cells follow the q142
    * fixed-point Lloyd rule, so corpus assignment and query probes are
    * integer L2 and the oracle replays the coarse unroll exactly like
    * the PQ one. The codebook trains on RESIDUALS x − centroid(cell(x))
    * (the Jégou IVFADC rule); its cache key carries the coarse rung
    * (k, coarseIters, sampleMod) the residuals depend on. `pqM`/`pqSub`
    * shape the codebook for non-64-dim inputs (q244's 1×16, q247's
    * 2×8). Both artifacts are cached per input plan, so training
    * replays are free within a session. */
  private[graft] def ivfAdcTrain(vecs: DataFrame, k: Int = 16,
      coarseIters: Int = IvfCoarseIters,
      trainIters: Int = PqTrainIters, sampleMod: Long = 1L,
      pqM: Int = PqM, pqSub: Int = PqSub)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val eqd = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val coarse = coarseCents(eqd, k, coarseIters, sampleMod)
    val cb = GraftCache.trained("Similarity.cbRes", eqd,
        Seq(trainIters, k, coarseIters, pqM, pqSub, sampleMod.toInt))(
      pqTrainCodebook(residualize(assignQuantizedCells(eqd, coarse), coarse)
        .select(col("vec_id"), col("e")), trainIters, sampleMod,
        pqM = pqM, pqSub = pqSub))
    (coarse, cb)
  }

  /** Encode a (vec_id, embedding) batch under a frozen quantizer:
    * (vec_id, cell, codes) — the ENCODE step of q159's pipeline and the
    * index rows a streaming ingest appends. Assign, residualize and
    * PQ-argmin are one fused kernel map each, so batch-wise encoding is
    * exactly the one-shot index for ANY batching. */
  private[graft] def ivfAdcEncode(batch: DataFrame,
      coarse: Array[Array[Long]],
      cb: Array[Array[Array[Long]]]): DataFrame = {
    val assigned = assignQuantizedCells(quantized(batch), coarse)
    val res = residualize(assigned, coarse).select(col("vec_id"), col("e"))
    val codes = pqEncode(res, cb, Long.MaxValue)._1
    assigned.select(col("vec_id"), col("cell"))
      .join(codes.withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"))
  }

  /** (vec_id, cell, dist_q) of a batch under FROZEN coarse cells — the
    * unit of work of the q227 staleness probe (and the q226 encode's
    * first stage): one codegen'd integer-L2 argmin map, the distance
    * kept. */
  private[graft] def assignWithDist(batch: DataFrame,
      coarse: Array[Array[Long]]): DataFrame =
    assignQuantizedCells(quantized(batch), coarse)
      .select(col("vec_id"), col("cell"), col("dist_q"))

  /** Serve per-query ADC top-k from a STORED (vec_id, cell, codes)
    * relation under the same frozen quantizer — the SERVE step of
    * q159's pipeline: probe the `nprobe` best cells, broadcast per-(query,
    * probed cell) residual LUTs, rank on the cell equi-join. */
  private[graft] def ivfAdcServe(stored: DataFrame, queryVecs: DataFrame,
      coarse: Array[Array[Long]], cb: Array[Array[Array[Long]]],
      topK: Int = AnnTopK, nprobe: Int = AnnNprobe): DataFrame = {
    val eqq = quantized(queryVecs)
    val qProbes = probeQuantizedCells(eqq, coarse, nprobe)
    val qres = residualize(
      qProbes.join(eqq.select(col("vec_id"), col("e")),
        qProbes("query_id") === eqq("vec_id"))
        .select(col("vec_id"), col("e"), col("cell")), coarse)
      .select(col("vec_id").as("query_id"), col("cell"), col("e"))
    val qLuts = pqQueryLuts(qres, cb)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    stored.select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
      .join(broadcast(qLuts), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDist)
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** PQ recall evaluation (q158) — the index-quality gate an ANN
    * deployment runs before switching traffic: per query, how many of
    * the PQ-ADC top-3 (q148) appear in the EXACT fixed-point L2 top-3
    * over the full 64 dims. Both rankings are integer arithmetic with
    * (dist, vec_id) tie-breaks, so recall@3 is bit-stable and carries a
    * full DuckDB oracle — approximation quality measured exactly, not
    * sampled. Scale shape: the exact side is the q46 brute-force shape
    * (BROADCAST query batch × corpus scan, per-query top-k window); the
    * overlap join is on (query_id, neighbor_id) at k×queries rows —
    * metadata. */
  def pqRecallEval(spark: SparkSession, dir: String): DataFrame =
    pqRecallEvalFrom(graft.Tables(spark, dir).embeddings)

  /** Same, over an arbitrary (vec_id, embedding) relation. The approx
    * side uses the TRAINED codebook — [[pqTrainCodebook]]'s
    * per-sub-space Lloyd rung (`trainIters` rounds from the seed
    * codebook, the deployment posture: train, freeze, encode, gate) —
    * so the measured recall@3 is what a production index would ship
    * with; the untrained seed codebook's ≈0.1 fixture recall (the
    * round-11 honest baseline, still visible at `trainIters = 0`) is
    * what training buys back. Everything stays fixed-point, so the
    * trained recall carries a full DuckDB oracle that replays the
    * training unroll itself. The planted-cluster spec shows full recall
    * when the codebook fits the data. */
  def pqRecallEvalFrom(vecs: DataFrame, queryMod: Long = 50L,
      trainIters: Int = PqTrainIters): DataFrame = {
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val cb = GraftCache.trained("Similarity.cb", eq, Seq(trainIters))(
      pqTrainCodebook(eq, trainIters))
    val (codes, luts) = pqEncode(eq, cb, queryMod)
    val approx = adcRank(codes, luts, topK = 3)
      .select(col("query_id"), col("neighbor_id"))
    val queries = eq.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("d"), col("neighbor_id"))
    val exact = eq.select(col("vec_id").as("neighbor_id"), col("e"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .withColumn("d", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    queries.select(col("query_id"))
      .join(approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("recall3"))
      .orderBy(col("query_id"))
  }

  /** Shortlist size for the exact re-rank rung (q198): how many ADC
    * candidates per query get their full vector fetched and re-scored
    * exactly — Faiss's "IVFADC,R" refine parameter. 12 = 4× the served
    * top-3; the re-rank can repair any ADC ranking error within the
    * shortlist but never recall a neighbor the IVF pruning dropped. */
  private[graft] val RerankShortlist = 12

  /** IVFADC + exact re-rank (q198) — the production ANN serving
    * posture (Jégou et al.'s IVFADC with re-ranking, the Faiss
    * "IVFADC,R" index): the trained q159 index produces a SHORTLIST of
    * [[RerankShortlist]] candidates per query by approximate ADC
    * distance, then the full vectors of just those candidates are
    * fetched and re-scored with EXACT fixed-point L2, and the served
    * top-k is ranked by the exact distance. ADC quantization error can
    * reorder true neighbors inside the shortlist; the refine step
    * repairs exactly that class of error at the cost of R full-vector
    * reads per query — the standard accuracy/IO knob a deployment
    * tunes. Fixture readout (the q179 methodology, measured at HEAD
    * with RESIDUAL-encoded codes, mean hits per query of 3): 0.40
    * served-by-ADC → 0.90 re-ranked at nprobe=4 on the sf0.01 fixture
    * (0.275 → 0.60 at sf0.1; 0.10 → 0.60 on the 10-query sf0.001
    * slice) — and the residual gap is IVF pruning loss, which only
    * nprobe buys back (re-rank recall ≥ ADC recall at any shortlist,
    * by construction: an exact-top-3 member inside the shortlist
    * always re-ranks into the served top-3).
    *
    * Determinism: both rankings are integer arithmetic with
    * (dist, neighbor_id) tie-breaks, so the composition — coarse
    * training, PQ training, ADC shortlist, exact re-rank — carries a
    * full DuckDB oracle.
    *
    * Scale shape: q159's cell-bounded plan for the shortlist; the
    * shortlist itself is R×queries rows (metadata — BROADCAST), so the
    * refine is one broadcast-join pass over the corpus scan fetching
    * only shortlisted vectors, then a per-query window over ≤R rows.
    * No new shuffle at corpus scale. */
  def ivfAdcRerankTopK(spark: SparkSession, dir: String): DataFrame =
    ivfAdcRerankTopKFrom(graft.Tables(spark, dir).embeddings)

  /** Same, over an arbitrary (vec_id, embedding) relation. */
  def ivfAdcRerankTopKFrom(vecs: DataFrame, topK: Int = 3,
      shortlist: Int = RerankShortlist, queryMod: Long = 50L,
      nprobe: Int = 4): DataFrame = {
    val short = ivfAdcTopKFrom(vecs, topK = shortlist, queryMod = queryMod,
        nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val queries = eq.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_dist"), col("neighbor_id"))
    eq.select(col("vec_id").as("neighbor_id"), col("e"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("exact_dist", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("exact_dist"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Positive depth / served negative depth for hard-negative mining
    * (q236) — mirrored in the oracle. Positives are the exact top-3
    * (the planted-relevance convention shared with q232's truth side);
    * each query serves its 5 hardest non-positive candidates. */
  private[graft] val HardNegPositives = 3
  private[graft] val HardNegK = 5

  /** Hard-negative mining (q236) — the retrieval-model TRAINING-data
    * op (the DPR/ANCE recipe): a contrastive embedding model needs,
    * per query, negatives that the CURRENT retrieval path already
    * ranks close — random negatives are too easy and the model stops
    * learning. The mined pool is therefore exactly what the serving
    * path answers (the q198 posture: IVFADC top-[[RerankShortlist]]
    * shortlist, exact-re-ranked); positives — here the exact
    * full-dimension top-[[HardNegPositives]], the q232 planted-
    * relevance convention standing in for labels — are removed, and
    * the [[HardNegK]] nearest survivors are emitted in exact-distance
    * order. Everything is integer arithmetic with deterministic
    * tie-breaks, so the whole mining pass carries a DuckDB oracle.
    *
    * Scale shape: the pool is q198's documented plan (cell-bounded
    * probe + a broadcast shortlist re-rank); the positive side is the
    * brute-force truth shape (broadcast query batch × corpus scan) —
    * the OFFLINE posture: mining runs per training epoch over a query
    * sample, never inline at serving time, and with real labels the
    * truth scan disappears entirely (positives arrive as a relation).
    * The anti-join and final rank live on (queries × shortlist) rank
    * rows — metadata. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesFrom(graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding")))

  /** Same, over an arbitrary (vec_id, embedding) relation. */
  private[graft] def hardNegativesFrom(vecs: DataFrame): DataFrame = {
    val pool = ivfAdcRerankTopKFrom(vecs, topK = RerankShortlist)
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val queries = eq.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dd"), col("neighbor_id"))
    val pos = eq.select(col("vec_id").as("neighbor_id"), col("e"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .withColumn("dd", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= HardNegPositives)
      .select(col("query_id"), col("neighbor_id"))
    val wn = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_dist"), col("neighbor_id"))
    pool.join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("neg_rk", row_number().over(wn).cast("long"))
      .filter(col("neg_rk") <= HardNegK)
      .select(col("query_id"), col("neg_rk"), col("neighbor_id"),
        col("exact_dist"))
      .orderBy(col("query_id"), col("neg_rk"))
  }

  /** Per-cell quota for the cluster-balanced sample (q200) — mirrored
    * literally in the oracle; the production knob is corpus_budget / K. */
  private[graft] val ClusterSampleQuota = 8

  /** Cluster-balanced sampling (q200) — the topic-balancing selection
    * step of an embedding-curated corpus (the DCLM / cluster-balanced
    * curation recipe): assign every vector to its TRAINED k-means cell
    * (the q159 coarse quantizer — same fixed-point Lloyd rule, same
    * cached artifact), then keep up to [[ClusterSampleQuota]] members
    * per cell, chosen by the deterministic carry-split Knuth uniform of
    * vec_id with id tie-break. A raw corpus over-represents its dense
    * topics; per-cell quotas flatten that distribution — and because
    * the choice rule is a pure hash of the id, the sample is
    * reproducible across runs, engines, and corpus growth (a vector's
    * selection changes only if its cell gains lower-hash members).
    *
    * Scale shape: one assignment pass over the scan (the shared
    * quantizer kernel), then a per-cell top-quota
    * window over cells of ~N/K rows — K-bounded parallelism with NO
    * global sort, and the training cost rides the cached
    * train-once-freeze artifact. Output is ≤ K·quota rows. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame =
    clusterBalancedSampleFrom(graft.Tables(spark, dir).embeddings)

  /** Same, over an arbitrary (vec_id, embedding) relation. */
  private[graft] def clusterBalancedSampleFrom(vecs: DataFrame,
      k: Int = 16, quota: Int = ClusterSampleQuota,
      coarseIters: Int = IvfCoarseIters): DataFrame = {
    val eqd = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val coarse = coarseCents(eqd, k, coarseIters, 1L)
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("u"), col("vec_id"))
    assignQuantizedCells(eqd, coarse)
      .withColumn("u", graft.operators.CorpusOps.knuthHash32("vec_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= quota)
      .select(col("vec_id"), col("cell"), col("rk"))
      .orderBy(col("cell"), col("rk"))
  }

  /** RAG retrieval rung (q223) — the serving-side read every RAG
    * pipeline runs, composed end-to-end from this library's own parts:
    * q144's overlapping chunk windows are the retrieval units, each
    * chunk carries an embedding from the EMBED FIXTURE (below), the
    * q159 trained residual-IVFADC index is built over the CHUNK
    * vectors, and a query batch (every 50th chunk id) retrieves its
    * top-3 chunks through the index — returned with (doc_id,
    * chunk_idx) provenance, the columns a generation stage feeds its
    * context assembly from.
    *
    * Embed fixture: no embedding model runs in-engine (the multimodal
    * stub policy — make the Spark-side plumbing real, stub the model),
    * so each chunk deterministically borrows a vector from the
    * `embeddings` fixture table: vec(chunk) = embeddings[(cid·37 + 11)
    * mod (max vec_id + 1)] with cid = doc_id·2²⁰ + chunk_idx. The
    * mapping is injective on chunk ids (documents would need 2²⁰
    * chunks ≈ 20M words to collide; cid·37 stays Long-exact through
    * doc_id < 2.4×10¹¹) and trivially SQL-replayable, so the WHOLE
    * composition — chunking, fixture, coarse+PQ training, probing,
    * ranking — carries a DuckDB oracle.
    *
    * Scale shape: chunking is q144's per-row explode; the fixture
    * assignment is one equi-join against the (small) vector table;
    * everything after is q159's cell-bounded plan over the chunk-
    * granular corpus — the layout that serves chunk retrieval at
    * 100 TB (the index is over CHUNKS, not documents, so the candidate
    * mass per probe stays proportional to probed-cell chunk counts).
    * The recall gate vs exact chunk-level brute force runs through
    * [[ivfAdcRecallEvalFrom]] on the same relation (spec + SCALING
    * row). */
  def ragRetrieval(spark: SparkSession, dir: String): DataFrame =
    ragRetrievalFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def ragRetrievalFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame, topK: Int = 3): DataFrame = {
    val cv = chunkVectors(docs, emb)
    ivfAdcTopKFrom(cv, topK = topK, queryMod = 50L)
      .select(col("query_id"), col("rk"),
        expr("neighbor_id div 1048576").as("doc_id"),
        expr("neighbor_id % 1048576").as("chunk_idx"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Store-backed RAG serving (q231) — q223's build/serve SPLIT, the
    * deployment posture: BUILD trains the quantizer and encodes the
    * chunk corpus into a persisted (vec_id, cell, codes) index ONCE
    * (the q226 store contents, here an in-session persisted relation);
    * SERVE answers a query batch from that store via [[ivfAdcServe]] —
    * probe cells, broadcast per-query LUTs, rank — paying probed-cell
    * work only, with NO per-call corpus re-encode (q223 re-runs the
    * full encode pass per call because it IS the one-shot build+serve
    * composition; this rung is what repeated serving actually costs).
    * Output and oracle are EXACTLY q223's: batch encoding under a
    * frozen quantizer equals the one-shot encode row-for-row (the q226
    * parity), so the served top-k is identical for the same queries.
    *
    * Scale shape: build is q159's two corpus map passes (assign +
    * PQ-argmin), amortized over every subsequent serve; a serve reads
    * the store's probed cells only (equi-join on cell against
    * broadcast query LUTs — no corpus term beyond the store read) plus
    * one lightweight chunk pass to materialize the query vectors. At
    * 100 TB the store is the q226 parquet relation, cell-partitioned,
    * and a serve's scan prunes to probed cells. */
  def ragServe(spark: SparkSession, dir: String): DataFrame =
    ragServeFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def ragServeFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame, topK: Int = AnnTopK): DataFrame = {
    val cv = chunkVectors(docs, emb)
    val (coarse, cb) = ivfAdcTrain(cv)
    val stored = GraftCache.persisted("Similarity.storedIndex",
      ivfAdcEncode(cv, coarse, cb))
    val queries = cv.filter(col("vec_id") % 50 === 0)
    ivfAdcServe(stored, queries, coarse, cb, topK = topK)
      .select(col("query_id"), col("rk"),
        expr("neighbor_id div 1048576").as("doc_id"),
        expr("neighbor_id % 1048576").as("chunk_idx"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Retrieval depth and token budget for the context-assembly rung
    * (q225) — mirrored literally in the oracle. The production knobs:
    * retrieve deeper than the context holds, pack greedily by rank. */
  private[graft] val ContextTopK = 5
  private[graft] val ContextBudgetTokens = 100L

  /** MMR candidate pool and selection depth (q224) — mirrored in the
    * oracle's greedy unroll. */
  private[graft] val MmrShortlist = 8
  private[graft] val MmrSelect = 3

  /** RRF fusion knobs (q230) — the standard k = 60 (Cormack et al.),
    * a 10⁶ integer scale so the reciprocal stays exact, per-ranker
    * depth 10, served depth 5. All mirrored in the oracle. */
  private[graft] val RrfK = 60L
  private[graft] val RrfScale = 1000000L
  private[graft] val RrfDepth = 10
  private[graft] val RrfTopK = 5

  /** Hybrid retrieval by Reciprocal Rank Fusion (q230) — how every
    * production RAG stack actually serves: the dense ranker (q223's
    * trained IVFADC over chunk vectors) catches paraphrase and the
    * lexical ranker (q229's BM25 over the SAME chunks and query batch)
    * catches exact-term evidence; RRF fuses them on RANKS alone —
    * score(c) = Σ_rankers ⌊10⁶/(60 + rank_r(c))⌋ over the rankers that
    * returned c in their top-[[RrfDepth]] — so no score calibration
    * between cosine space and BM25 space is ever needed (the reason
    * RRF won out operationally; Cormack/Clarke/Büttcher '09). Pure
    * integer arithmetic end-to-end: the fused ranking replays exactly
    * in SQL over the two rankers' own oracle chains.
    *
    * Scale shape: both input rankers run their own documented plans;
    * fusion itself touches only (queries × ≤2·depth) rank rows — one
    * union, one sum aggregate keyed by (query, candidate), one
    * per-query window over ≤ 2·depth rows. Metadata. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def hybridRrfFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame): DataFrame = {
    val cid = col("doc_id") * lit(1048576L) + col("chunk_idx")
    val contrib = expr(s"$RrfScale div ($RrfK + rk)")
    val dense = ragRetrievalFrom(spark, docs, emb, topK = RrfDepth)
      .select(col("query_id"), cid.as("cand"), contrib.as("c"))
    val lex = TextAnalysis.bm25TopKFrom(docs, topK = RrfDepth)
      .select(col("query_id"), cid.as("cand"), contrib.as("c"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_q").desc, col("cand"))
    dense.unionByName(lex)
      .groupBy(col("query_id"), col("cand"))
      .agg(sum(col("c")).as("rrf_q"))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= RrfTopK)
      .select(col("query_id"), col("rk"),
        expr("cand div 1048576").as("doc_id"),
        expr("cand % 1048576").as("chunk_idx"), col("rrf_q"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Eval depth for the retrieval-quality gate (q232) — recall@5,
    * matching [[RrfTopK]] so the fused ranker's full served list is
    * what gets judged. Mirrored in the oracle. */
  private[graft] val RetrievalEvalDepth = 5

  /** Retrieval-quality gate for the hybrid tier (q232) — the
    * deployment question q230's fusion leaves open: does fusing BEAT
    * the rankers it fuses? Ground truth is the exact fixed-point
    * integer-L2 top-[[RetrievalEvalDepth]] over the full-dimension
    * chunk vectors (the q158/q179 truth side, re-rooted on the chunk
    * relation — embedding similarity as planted relevance); each
    * ranker — dense (q223's trained IVFADC), lexical (q229's BM25),
    * fused (q230's RRF) — is cut to the same depth and scored by
    * overlap per query. Everything is integer arithmetic with
    * deterministic tie-breaks, so the whole three-way readout carries
    * a full DuckDB oracle: approximation quality measured exactly.
    *
    * Scale shape: the three rankers run their own documented plans;
    * the truth side is the q46 brute-force shape (broadcast query
    * batch × corpus scan, per-query top-k window) — the offline-eval
    * posture: the gate runs on a query SAMPLE before traffic switches,
    * never inline at serving time. The overlap joins live on
    * (queries × depth) rank rows — metadata. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame =
    retrievalEvalFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def retrievalEvalFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame): DataFrame = {
    val d = RetrievalEvalDepth
    val cid = col("doc_id") * lit(1048576L) + col("chunk_idx")
    val dense = ragRetrievalFrom(spark, docs, emb, topK = d)
      .select(col("query_id"), cid.as("cand"))
    val lex = TextAnalysis.bm25TopKFrom(docs, topK = d)
      .select(col("query_id"), cid.as("cand"))
    val fused = hybridRrfFrom(spark, docs, emb)
      .filter(col("rk") <= d)
      .select(col("query_id"), cid.as("cand"))
    val cv = chunkVectors(docs, emb)
    val eq = GraftCache.persisted("Similarity.pq", quantized(cv))
    val queries = eq.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dd"), col("cand"))
    val truth = eq.select(col("vec_id").as("cand"), col("e"))
      .join(broadcast(queries), col("cand") =!= col("query_id"))
      .withColumn("dd", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= d)
      .select(col("query_id"), col("cand"))
    def hits(r: DataFrame, name: String): DataFrame =
      r.join(truth, Seq("query_id", "cand"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    queries.select(col("query_id"))
      .join(hits(dense, "dense_r5"), Seq("query_id"), "left")
      .join(hits(lex, "lex_r5"), Seq("query_id"), "left")
      .join(hits(fused, "fused_r5"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dense_r5"), lit(0L)).as("dense_r5"),
        coalesce(col("lex_r5"), lit(0L)).as("lex_r5"),
        coalesce(col("fused_r5"), lit(0L)).as("fused_r5"))
      .orderBy(col("query_id"))
  }

  /** Prefix dimensions measured by the Matryoshka serving gate (q241)
    * — mirrored in the oracle. The MRL serving trade: embeddings
    * trained with matryoshka losses rank almost as well on a PREFIX of
    * their dimensions, and serving on 16 of 64 dims reads 4× less
    * vector data per candidate. */
  private[graft] val MrlPrefixA = 16
  private[graft] val MrlPrefixB = 32

  /** Matryoshka prefix-dimension serving gate (q241) — the third
    * member of the eval family (q232 embedding truth, q240 lexical
    * truth): before a deployment serves truncated vectors it measures
    * what ranking the prefix retains. Per query: overlap of the exact
    * top-3 computed on the FIRST [[MrlPrefixA]] and [[MrlPrefixB]] of
    * the 64 dimensions against the full-dimension integer-L2 truth —
    * the recall-vs-read-mass curve's two interior points (the fixture
    * embeddings are not MRL-trained, so the honest expectation is a
    * LOW reading at 16 — the gate exists to measure, not to flatter;
    * an MRL-trained corpus reads near 1.0 and unlocks the 4× read
    * saving). Both rankings are fixed-point integer with
    * (distance, neighbor) ties — full DuckDB oracle.
    *
    * Scale shape: the q46 brute-force truth shape three times over the
    * same broadcast query batch and corpus scan (prefix distances are
    * slices of the same quantized array — one pass computes all
    * three); offline-eval posture, query-sample bounded. At serving
    * scale the prefix ranker composes with the IVFADC chain (truncate
    * before training) — this gate decides whether that's safe. */
  def mrlPrefixRecall(spark: SparkSession, dir: String): DataFrame =
    mrlPrefixRecallFrom(graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding")))

  /** Same, over an arbitrary (vec_id, embedding) relation. */
  private[graft] def mrlPrefixRecallFrom(vecs: DataFrame): DataFrame = {
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val queries = eq.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    def dist(d: Int): Column = graft.functions.QuantKernels.vec_l2q(
      slice(col("e"), 1, d), slice(col("qe"), 1, d))
    val pairs = eq.select(col("vec_id").as("cand"), col("e"))
      .join(broadcast(queries), col("cand") =!= col("query_id"))
      .withColumn("d64", dist(64))
      .withColumn("dA", dist(MrlPrefixA))
      .withColumn("dB", dist(MrlPrefixB))
    def top(dc: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(dc), col("cand"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select(col("query_id"), col("cand"))
    }
    val truth = top("d64")
    def hits(r: DataFrame, name: String): DataFrame =
      r.join(truth, Seq("query_id", "cand"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    queries.select(col("query_id"))
      .join(hits(top("dA"), s"r3_p$MrlPrefixA"), Seq("query_id"), "left")
      .join(hits(top("dB"), s"r3_p$MrlPrefixB"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col(s"r3_p$MrlPrefixA"), lit(0L)).as(s"r3_p$MrlPrefixA"),
        coalesce(col(s"r3_p$MrlPrefixB"), lit(0L)).as(s"r3_p$MrlPrefixB"))
      .orderBy(col("query_id"))
  }

  /** Planted-cluster count for the q244 MRL corpus — mirrored in the
    * oracle's plant CTE. */
  private[graft] val MrlPlantClusters = 8L

  /** Tail damping for the planted MRL corpus — dims past the prefix
    * scale by this EXACT power of two (2⁻⁴; squared contributions
    * shrink 256×), reproducing the matryoshka training property that
    * the gate looks for: distance mass decays along the dimension
    * axis, so the full-dimension ordering is PREFIX-dominated.
    * Mirrored in the oracle. */
  private[graft] val MrlTailScale = 0.0625

  /** The planted MRL corpus (q244 input): the fixture embeddings with
    * the matryoshka structure injected deterministically — cluster
    * c = vec_id % [[MrlPlantClusters]]; dims 1..[[MrlPrefixA]] gain
    * the exact-double offset ((c·31 + j·17) mod 7 − 3)·4.0 (j
    * 1-based — same-cluster offsets CANCEL in pairwise distances,
    * cross-cluster pairs pay the offset mass, so the SEPARATION lives
    * entirely in the prefix); dims past the prefix scale by
    * [[MrlTailScale]] (information front-loading: the tail refines but
    * cannot reorder what the prefix decides). All arithmetic is double
    * (float → double promotion is exact on both engines; the offset is
    * an exact small-integer multiple of 4.0 and the tail scale an
    * exact power of two), so the plant replays bit-stably in SQL ahead
    * of the shared floor(x·10⁶) quantization. */
  private[graft] def mrlPlanted(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i < MrlPrefixA,
          x.cast("double") +
            ((pmod(col("vec_id"), lit(MrlPlantClusters)) * 31 +
              (i + 1) * 17) % 7 - 3).cast("double") * lit(4.0))
          .otherwise(x.cast("double") * lit(MrlTailScale))).as("embedding"))

  /** Truncate-BEFORE-training MRL serving rung (q244) — the deployment
    * move q241's gate decides on, exercised end-to-end: on the planted
    * corpus (where prefixes DO carry the structure, [[mrlPlanted]])
    * build TWO production indexes — the full 64-dim IVFADC (q159's
    * posture, 4 sub-quantizers) and a 16-dim PREFIX IVFADC trained on
    * the truncated vectors themselves (coarse cells AND residual
    * codebook learned in prefix space — 1 sub-quantizer; truncation
    * BEFORE training, not a truncated read of the full index) — and
    * serve the same query batch from both. Per query the output reads
    * recall against the exact full-dimension truth (r3_full vs
    * r3_prefix) next to the measured serving read mass (lut_reads =
    * scored candidates × sub-quantizer lookups — the prefix index pays
    * 1 lookup per candidate where the full index pays 4, on top of
    * storing 16/64 of the vector data). On an MRL corpus the two
    * recall columns read level and the read column reads 4× apart —
    * the measured case FOR truncating before training; on a corpus
    * without prefix structure q241's gate already says don't.
    *
    * Scale shape: two q159 plans (each cell-bounded, training
    * sample-bounded) + the q46 brute-force truth scan (offline-eval
    * posture, query-sample bounded) + metadata-scale overlap joins;
    * the candidate-count relation derives from (probed cells ×
    * cell sizes) — vocabulary-scale, no corpus term. */
  def mrlPrefixIvfAdc(spark: SparkSession, dir: String): DataFrame =
    mrlPrefixIvfAdcFrom(graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding")))

  /** Scored candidates per query = Σ_{probed cells} |cell| − 1 (the
    * query's own cell is always its rank-1 probe, so self is counted
    * exactly once); × sub-quantizer count = LUT lookups actually paid
    * — the q244/q247 read-mass column. */
  private def mrlLutReads(corpus: DataFrame, m: Int, out: String,
      queryMod: Long): DataFrame = {
    val eqd = GraftCache.persisted("Similarity.pq", quantized(corpus))
    val coarse = coarseCents(eqd, 16, IvfCoarseIters, 1L)
    val sizes = assignQuantizedCells(eqd, coarse)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    probeQuantizedCells(eqd.filter(col("vec_id") % queryMod === 0),
        coarse, AnnNprobe)
      .join(sizes, Seq("cell"))
      .groupBy(col("query_id"))
      .agg(((sum(col("n")) - 1L) * m).as(out))
  }

  /** Exact full-dimension top-3 truth over the planted corpus — the
    * q46 brute-force shape, shared by q244/q247. */
  private def mrlExactTruth(planted: DataFrame,
      queryMod: Long): (DataFrame, DataFrame) = {
    val eq = GraftCache.persisted("Similarity.pq", quantized(planted))
    val queries = eq.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dd"), col("cand"))
    val truth = eq.select(col("vec_id").as("cand"), col("e"))
      .join(broadcast(queries), col("cand") =!= col("query_id"))
      .withColumn("dd", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3).select(col("query_id"), col("cand"))
    (queries.select(col("query_id")), truth)
  }

  private def mrlHits(r: DataFrame, truth: DataFrame,
      name: String): DataFrame =
    r.join(truth, Seq("query_id", "cand"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as(name))

  /** Same, over an arbitrary (vec_id, embedding) relation; `queryMod`
    * thins the query batch (ScaleSmoke holds it fixed while the corpus
    * scales — the exact-truth side is queries × corpus by design, the
    * offline-eval posture). */
  private[graft] def mrlPrefixIvfAdcFrom(vecs: DataFrame,
      queryMod: Long = 50L): DataFrame = {
    val planted = mrlPlanted(vecs)
    val prefix = planted.select(col("vec_id"),
      slice(col("embedding"), 1, MrlPrefixA).as("embedding"))
    val servedFull = ivfAdcTopKFrom(planted, queryMod = queryMod)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    val readsFull = mrlLutReads(planted, PqM, "lut_reads_full", queryMod)
    val (queries, truth) = mrlExactTruth(planted, queryMod)
    val servedPrefix = ivfAdcTopKFrom(prefix, queryMod = queryMod, pqM = 1)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    val readsPrefix = mrlLutReads(prefix, 1, "lut_reads_prefix", queryMod)
    queries
      .join(mrlHits(servedFull, truth, "r3_full"), Seq("query_id"), "left")
      .join(mrlHits(servedPrefix, truth, "r3_prefix"),
        Seq("query_id"), "left")
      .join(readsFull, Seq("query_id"), "left")
      .join(readsPrefix, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("r3_full"), lit(0L)).as("r3_full"),
        coalesce(col("r3_prefix"), lit(0L)).as("r3_prefix"),
        col("lut_reads_full"), col("lut_reads_prefix"))
      .orderBy(col("query_id"))
  }

  /** Finer sub-quantization at the SAME stored prefix (q247) — the
    * resolution knob q244's 10× squeeze named: with one 16-dim
    * sub-space (M=1, K=16) near-tie candidates quantize to the same
    * ADC distance and the id tie-break picks wrong once duplicates
    * flood in; splitting the SAME 16-dim prefix into two 8-dim
    * sub-spaces (M=2 — trained, encoded, and served through the
    * identical machinery, which derives every width from the
    * codebook's own shape) prices candidates at 16²=256 effective
    * codewords instead of 16. Read mass doubles to 2 LUT lookups per
    * candidate — still half the full index's 4, and the STORED vector
    * data is the same 16/64 prefix. Output mirrors q244's prefix
    * columns so the two rungs read side by side; the corpus, truth,
    * and query batch are exactly q244's. */
  def mrlPrefixIvfAdc2(spark: SparkSession, dir: String): DataFrame =
    mrlPrefixIvfAdc2From(graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding")))

  /** Same, over an arbitrary (vec_id, embedding) relation. */
  private[graft] def mrlPrefixIvfAdc2From(vecs: DataFrame,
      queryMod: Long = 50L): DataFrame = {
    val planted = mrlPlanted(vecs)
    val prefix = planted.select(col("vec_id"),
      slice(col("embedding"), 1, MrlPrefixA).as("embedding"))
    val (queries, truth) = mrlExactTruth(planted, queryMod)
    val served = ivfAdcTopKFrom(prefix, queryMod = queryMod,
        pqM = 2, pqSub = 8)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    val reads = mrlLutReads(prefix, 2, "lut_reads_prefix2", queryMod)
    queries
      .join(mrlHits(served, truth, "r3_prefix2"), Seq("query_id"), "left")
      .join(reads, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("r3_prefix2"), lit(0L)).as("r3_prefix2"),
        col("lut_reads_prefix2"))
      .orderBy(col("query_id"))
  }

  /** Lexical-truth retrieval-quality gate (q240) — q232's complement,
    * completing the two-regime eval: q232's planted relevance IS
    * embedding similarity, and its measured reading (SCALING.md) shows
    * the dense ranker dominating while RRF fusion dilutes it. This
    * rung plants the OPPOSITE regime — relevance = exact token-set
    * Jaccard over the chunk TEXTS, a signal the fixture embeddings
    * (borrowed by chunk-id hash, carrying no text information) cannot
    * see — so dense reads ~random here, the lexical ranker carries the
    * signal (it shares the modality with this truth BY DESIGN — that
    * is the regime being measured, not a leak), and the two gates
    * together answer the hybrid tier's deployment question from both
    * sides: run the gate matching YOUR labels, serve what wins.
    * Jaccard quantizes to (∩·10⁶) div ∪ per pair — pure integers with
    * (score desc, candidate) ties, so the gate carries a full DuckDB
    * oracle.
    *
    * Scale shape: the three rankers run their own documented plans;
    * the truth side joins query token sets against the distinct
    * (chunk, token) relation — the posting-join shape, UNBOUNDED here
    * by design because truth must be exact: the offline-eval posture
    * (a query sample, never inline at serving time), same rule as
    * q232's brute-force scan. Overlap joins on (queries × depth) rank
    * rows — metadata. */
  def retrievalEvalLex(spark: SparkSession, dir: String): DataFrame =
    retrievalEvalLexFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def retrievalEvalLexFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame): DataFrame = {
    val d = RetrievalEvalDepth
    val cid = col("doc_id") * lit(1048576L) + col("chunk_idx")
    val dense = ragRetrievalFrom(spark, docs, emb, topK = d)
      .select(col("query_id"), cid.as("cand"))
    val lex = TextAnalysis.bm25TopKFrom(docs, topK = d)
      .select(col("query_id"), cid.as("cand"))
    val fused = hybridRrfFrom(spark, docs, emb)
      .filter(col("rk") <= d)
      .select(col("query_id"), cid.as("cand"))
    val dtok = GraftCache.persisted("Similarity.lexTruth",
      TextAnalysis.bm25Postings(docs).select(col("cid"), col("t")).distinct())
    val sizes = dtok.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
    val qt = dtok.filter(col("cid") % 50 === 0)
      .select(col("cid").as("query_id"), col("t"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("jac_q").desc, col("cand"))
    val truth = qt
      .join(dtok.select(col("cid").as("cand"), col("t")), Seq("t"))
      .filter(col("cand") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("cid").as("query_id"),
        col("sz").as("qsz")), Seq("query_id"))
      .join(sizes.select(col("cid").as("cand"),
        col("sz").as("csz")), Seq("cand"))
      .withColumn("jac_q", expr("(i * 1000000) div (qsz + csz - i)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= d)
      .select(col("query_id"), col("cand"))
    def hits(r: DataFrame, name: String): DataFrame =
      r.join(truth, Seq("query_id", "cand"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    dtok.filter(col("cid") % 50 === 0)
      .select(col("cid").as("query_id")).distinct()
      .join(hits(dense, "dense_r5"), Seq("query_id"), "left")
      .join(hits(lex, "lex_r5"), Seq("query_id"), "left")
      .join(hits(fused, "fused_r5"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dense_r5"), lit(0L)).as("dense_r5"),
        coalesce(col("lex_r5"), lit(0L)).as("lex_r5"),
        coalesce(col("fused_r5"), lit(0L)).as("fused_r5"))
      .orderBy(col("query_id"))
  }

  /** MMR-diversified RAG retrieval (q224) — the redundancy fix every
    * RAG serving stack applies on top of raw top-k: with 50%-overlap
    * chunk windows (q144), a query's nearest chunks are routinely
    * ADJACENT chunks of the same document carrying near-identical
    * text, so a top-3 context wastes its budget on one passage.
    * Maximal Marginal Relevance (Carbonell & Goldstein '98) re-picks
    * greedily: the [[MmrShortlist]]-candidate pool comes from the
    * trained IVFADC index exact-re-ranked (q198's posture), then each
    * of the [[MmrSelect]] selection rounds takes the candidate
    * minimizing `d(q,c) − min_{s∈selected} d(c,s)` (relevance minus
    * redundancy, the λ=½ MMR rule cleared of its common scale factor;
    * smaller is better on both terms) with (score, neighbor) ties.
    * All distances are the chain's exact fixed-point integer L2, so
    * the whole greedy trajectory replays in SQL.
    *
    * Scale shape: the candidate pool is q198's plan; pairwise
    * distances and every greedy round live on (query × ≤shortlist²)
    * rows — METADATA joins keyed by query_id, no corpus term past the
    * index read. Selection rounds are a fixed [[MmrSelect]]-deep loop
    * of broadcast-size joins (the Lloyd/perceptron loop shape). */
  def ragRetrievalMmr(spark: SparkSession, dir: String): DataFrame =
    ragRetrievalMmrFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def ragRetrievalMmrFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame): DataFrame = {
    val cv = chunkVectors(docs, emb)
    val cand = ivfAdcRerankTopKFrom(cv, topK = MmrShortlist)
      .select(col("query_id"), col("neighbor_id"), col("exact_dist"))
      .localCheckpoint(true)
    val eqv = GraftCache.persisted("Similarity.pq", quantized(cv))
      .select(col("vec_id"), col("e"))
    // pairwise exact L2 inside each query's candidate pool — ≤ s²
    // rows per query, metadata (lineage cut so the greedy rounds
    // never replay the index pass)
    val d2 = graft.functions.QuantKernels.vec_l2q(col("ea"), col("eb"))
    val pw = cand.select(col("query_id"), col("neighbor_id").as("ca"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("cb")),
        Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .join(eqv.select(col("vec_id").as("ca"), col("e").as("ea")), Seq("ca"))
      .join(eqv.select(col("vec_id").as("cb"), col("e").as("eb")), Seq("cb"))
      .select(col("query_id"), col("ca"), col("cb"), d2.as("d"))
      .localCheckpoint(true)
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_dist"), col("neighbor_id"))
    var sel = cand
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("sel_rk"))
    for (t <- 2 to MmrSelect) {
      val divers = pw
        .join(sel.select(col("query_id"), col("neighbor_id").as("cb")),
          Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca")).agg(min(col("d")).as("mind"))
        .withColumnRenamed("ca", "neighbor_id")
      val ws = Window.partitionBy(col("query_id"))
        .orderBy(col("score"), col("neighbor_id"))
      val pick = cand
        .join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(divers, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (col("exact_dist") - col("mind")).as("score"))
        .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(t.toLong).as("sel_rk"))
      sel = sel.unionByName(pick)
    }
    val out = sel.join(cand, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("sel_rk"),
        expr("neighbor_id div 1048576").as("doc_id"),
        expr("neighbor_id % 1048576").as("chunk_idx"),
        col("exact_dist"))
      .orderBy(col("query_id"), col("sel_rk"))
    out
  }

  /** RAG context assembly (q225) — the step between retrieval and
    * generation: the top-[[ContextTopK]] retrieved chunks per query are
    * packed IN RANK ORDER into a [[ContextBudgetTokens]]-token context
    * window (a running token sum per query; a chunk is in-context iff
    * its cumulative mass still fits — the greedy rule every RAG runtime
    * applies, and the q111/q214 budget discipline at serving time).
    * Emits one row per retrieved chunk with its packing verdict, so
    * both the served context AND what the budget evicted are readable.
    *
    * Scale shape: q223's retrieval plan plus one (doc_id, chunk_idx)
    * equi-join against the chunk token counts and a per-query window
    * over ≤ [[ContextTopK]] rows — metadata on top of the index read. */
  def ragContextPack(spark: SparkSession, dir: String): DataFrame =
    ragContextPackFrom(spark, graft.Tables(spark, dir).documents,
      graft.Tables(spark, dir).embeddings)

  /** Same, over arbitrary (doc_id, text) + (vec_id, embedding)
    * relations. */
  private[graft] def ragContextPackFrom(spark: SparkSession,
      docs: DataFrame, emb: DataFrame): DataFrame = {
    val retrieved = ragRetrievalFrom(spark, docs, emb, topK = ContextTopK)
    val chunks = CorpusOps.chunkWindowsFrom(docs)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rk"))
    retrieved.join(chunks, Seq("doc_id", "chunk_idx"))
      .withColumn("cum_tokens", sum(col("n_chunk_tokens")).over(w))
      .select(col("query_id"), col("rk"), col("doc_id"), col("chunk_idx"),
        col("n_chunk_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= lit(ContextBudgetTokens)).as("in_context"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The chunk-vector relation the q223 index is built over:
    * (vec_id = doc_id·2²⁰ + chunk_idx, embedding from the fixture). */
  private[graft] def chunkVectors(docs: DataFrame,
      emb: DataFrame): DataFrame = {
    val nv = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val cid = col("doc_id") * lit(1048576L) + col("chunk_idx").cast("long")
    // array-form chunk relation: only (doc_id, chunk_idx) is consumed,
    // so neither chunk_text nor the q144 presentation sort is built
    CorpusOps.chunkWindowArrays(docs)
      .select(cid.as("cid"),
        pmod(cid * lit(37L) + lit(11L), lit(nv)).as("v"))
      .join(emb.select(col("vec_id").as("v"), col("embedding")), Seq("v"))
      .select(col("cid").as("vec_id"), col("embedding"))
  }

  /** IVFADC recall gate (q179) — q158's deployment readout for the
    * PRODUCTION layout: per query, how many of q159's IVFADC top-3
    * (trained codes, nprobe-bounded candidates) appear in the exact
    * full-dimension integer L2 top-3. This is the number an ANN
    * deployment reads before picking its nprobe operating point — the
    * flat-ADC gate (q158) measures quantization loss alone; this one
    * adds the IVF pruning loss on top. Everything stays fixed-point /
    * strict-fold, so the composition carries a full DuckDB oracle.
    * Scale shape: the IVFADC side is q159's cell-bounded plan; the
    * exact side is the q46 broadcast-queries × corpus scan; the overlap
    * join is k×queries rows — metadata. */
  def ivfAdcRecallEval(spark: SparkSession, dir: String): DataFrame =
    ivfAdcRecallEvalFrom(graft.Tables(spark, dir).embeddings)

  /** Sampled-train IVFADC recall (q248) — q179's recall gate with BOTH
    * quantizers trained on the `vec_id % IvfTrainSampleMod == 0`
    * sample (seeds included: they are the sample's K lowest ids) while
    * assignment, encoding, probing and the exact truth side still
    * cover the whole corpus. This is the deployed training posture at
    * 100 TB — Lloyd passes scan a fixed-size sample, never the corpus
    * — registered as its own rung so the recall cost of sampling is an
    * oracle-checked number next to q179's full-train one, not a
    * spec-only claim. The oracle replays the SAME sampled unroll
    * (train CTEs filtered to the sample, everything downstream over
    * the full relation), so a drift in either engine's sampling rule
    * hash-mismatches immediately. */
  def ivfAdcSampleTrainRecall(spark: SparkSession, dir: String): DataFrame =
    ivfAdcRecallEvalFrom(graft.Tables(spark, dir).embeddings,
      sampleMod = IvfTrainSampleMod)

  /** Same, over an arbitrary (vec_id, embedding) relation; `nprobe`,
    * `trainIters` and `coarseIters` expose the knobs the SCALING.md
    * sensitivity sweep reads (iters = 0 reproduces the untrained
    * composition). */
  def ivfAdcRecallEvalFrom(vecs: DataFrame, queryMod: Long = 50L,
      nprobe: Int = 4, trainIters: Int = PqTrainIters,
      coarseIters: Int = IvfCoarseIters, sampleMod: Long = 1L): DataFrame = {
    val approx = ivfAdcTopKFrom(vecs, topK = 3, queryMod = queryMod,
        nprobe = nprobe, trainIters = trainIters,
        coarseIters = coarseIters, sampleMod = sampleMod)
      .select(col("query_id"), col("neighbor_id"))
    val eq = GraftCache.persisted("Similarity.pq", quantized(vecs))
    val queries = eq.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("d"), col("neighbor_id"))
    val exact = eq.select(col("vec_id").as("neighbor_id"), col("e"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .withColumn("d", graft.functions.QuantKernels.vec_l2q(col("e"), col("qe")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    queries.select(col("query_id"))
      .join(approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("recall3"))
      .orderBy(col("query_id"))
  }
}
