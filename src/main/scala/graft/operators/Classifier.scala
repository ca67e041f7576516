package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine quality-classifier rung (q218) — the deterministic
  * stand-in for the fasttext-style classifier a curation pipeline
  * trains to score documents (the CCNet/DCLM recipe: label a reference
  * slice vs the crawl, train a linear bag-of-words model, score
  * everything). The model here is a BATCH PERCEPTRON over hashed
  * unigram counts: features are FNV-hashed token buckets (the q196
  * DSIR hashing — model size independent of vocabulary) plus a bias,
  * and each training round adds Σ y·x over the currently-misclassified
  * training documents to the weight vector (the synchronous batch
  * variant of Rosenblatt's update — one aggregate per round, the q142
  * Lloyd loop shape, embarrassingly parallel where the textbook
  * per-sample perceptron is inherently sequential).
  *
  * Everything is INTEGER — counts, weights, margins — so the training
  * trajectory and every score replay bit-exactly in SQL (the oracle
  * unrolls the rounds). No learning rate is needed: perceptron updates
  * are scale-invariant (sign(w·x) ignores any positive scalar).
  *
  * The registered task: y = +1 ⟺ the document contains the literal
  * token "spark" — a LEARNABLE pseudo-label (the model must recover
  * one indicator bucket modulo hash collisions), which makes the
  * fixture readout meaningful: training accuracy should climb well
  * above the base rate, and the planted separable spec reaches 100%.
  * Documents with doc_id % 3 = 1 are HELD OUT (scored, flagged
  * is_train = false, never updated on) — the generalization readout a
  * real pipeline gates on.
  *
  * Overflow envelope: |w_b| grows by at most the per-round per-bucket
  * token mass, so after R rounds |margin| ≤ R · (corpus tokens) ·
  * (max doc tokens) in the worst case — Long-safe through ~10¹²
  * corpus tokens at R = 5; ANSI fails fast beyond.
  *
  * Scale shape per round: one broadcast of the (B+1)-row weight
  * vector, a doc-keyed margin aggregate over the (doc, bucket) count
  * relation, a semi-join of the misclassified ids back onto the same
  * relation, and a ≤(B+1)-row delta collect (the Lloyd/GlobalOrder
  * metadata-collect scale). Scoring is one more broadcast-join pass.
  * Nothing quadratic, nothing driver-side beyond the weight vector.
  *
  * Bucket-count envelope: [[PerceptronBuckets]] = 64 is demo-scale; a
  * fasttext-scale model hashes to 10⁵-10⁶ buckets. No term in the plan
  * grows with B except the broadcast weight vector and the per-round
  * delta collect — the (doc, bucket) relation's row count is bounded
  * by token mass regardless of B (more buckets only DE-densify it) —
  * so wall must track token mass, not B (measured flat at B = 4096,
  * ScaleSmoke perceptron_B4096). The B ceiling is the broadcast /
  * driver-collect pair: 8 B·16 per weight row keeps B ≈ 10⁶ ≈ 16 MB —
  * inside the default 10 MB autoBroadcastJoinThreshold's same order;
  * raise the threshold or switch the weight join to a shuffle join
  * past ~5×10⁵ buckets. */
object Classifier {

  /** Feature buckets (the q196 DSIR setting); bucket index B is the
    * bias feature (constant 1 per document). */
  private[graft] val PerceptronBuckets = 64

  /** Registered training rounds — mirrored in the oracle's w0..wN
    * unroll (SparkEntry generates it from this constant). */
  private[graft] val PerceptronRounds = 5

  /** Hashed unigram counts + bias row per document: (doc_id, b, n). */
  private def features(docs: DataFrame, buckets: Int): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"),
        pmod(poly_hash(col("term"), lit(0L)), lit(buckets.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .unionByName(docs.select(col("doc_id"),
        lit(buckets.toLong).as("b"), lit(1L).as("n")))
  }

  /** Features joined with labels and the held-out flag:
    * (doc_id, b, n, y, is_train) — the relation every training round
    * and the scorer consume. Shared with the streaming sibling
    * (StreamingClassifier), which builds it per micro-batch. */
  private[graft] def labeled(docs: DataFrame,
      buckets: Int = PerceptronBuckets): DataFrame = {
    val y = docs.select(col("doc_id"),
      when(array_contains(split(col("text"), " "), "spark"), lit(1L))
        .otherwise(lit(-1L)).as("y"),
      (col("doc_id") % 3 =!= 1).as("is_train"))
    features(docs, buckets).join(y, Seq("doc_id"))
  }

  private def wDfOf(spark: SparkSession, w: Array[Long]): DataFrame = {
    import spark.implicits._
    broadcast(w.toIndexedSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("b", "wv"))
  }

  /** One batch-perceptron round: the per-bucket weight delta
    * Σ y·x over the training documents of `xy` misclassified under
    * `w`. One margin aggregate + one semi-join + a ≤(B+1)-row
    * collect. */
  private[graft] def roundDelta(xy: DataFrame,
      w: Array[Long]): Map[Int, Long] = {
    val spark = xy.sparkSession
    val wDf = wDfOf(spark, w)
    val miss = xy.filter(col("is_train"))
      .join(wDf, Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("n") * col("wv")).as("margin"))
      .filter(col("y") * col("margin") <= 0)
      .select(col("doc_id"))
    xy.filter(col("is_train"))
      .join(miss, Seq("doc_id"), "left_semi")
      .groupBy(col("b")).agg(sum(col("y") * col("n")).as("d"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
  }

  /** Score `xy` under frozen weights: (doc_id, label, is_train,
    * margin, predicted). */
  private[graft] def scoreWith(xy: DataFrame,
      w: Array[Long]): DataFrame =
    xy.join(wDfOf(xy.sparkSession, w), Seq("b"))
      .groupBy(col("doc_id"), col("y"), col("is_train"))
      .agg(sum(col("n") * col("wv")).as("margin"))
      .select(col("doc_id"), col("y").as("label"), col("is_train"),
        col("margin"),
        when(col("margin") > 0, lit(1L)).otherwise(lit(-1L))
          .as("predicted"))
      .orderBy(col("doc_id"))

  def qualityPerceptron(spark: SparkSession, dir: String): DataFrame =
    qualityPerceptronFrom(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) corpus. */
  private[graft] def qualityPerceptronFrom(docs: DataFrame,
      buckets: Int = PerceptronBuckets,
      rounds: Int = PerceptronRounds): DataFrame = {
    val xy = GraftCache.persisted("Classifier.feat", labeled(docs, buckets))
    var w = Array.fill(buckets + 1)(0L)
    for (_ <- 1 to rounds) {
      val delta = roundDelta(xy, w)
      w = Array.tabulate(buckets + 1)(b => w(b) + delta.getOrElse(b, 0L))
    }
    scoreWith(xy, w)
  }
}
