package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-size guard for LSH candidate generation (minhash bands, simhash
  * bands, embedding projection buckets).
  *
  * A bucket holding B rows emits O(B²) candidate pairs from the self-join,
  * so one degenerate bucket — a band value shared by a large fraction of
  * the corpus (mass-duplicated boilerplate, all-zero embeddings, a hash
  * pathology) — goes quadratic no matter how good the banding is. The
  * guard excludes buckets larger than `cap` from candidate generation and
  * REPORTS their mass in the funnel summary (never a silent drop): capped
  * pairs remain discoverable through the other bands/tables, and the
  * reported mass tells the pipeline operator to escalate (sample the
  * bucket, add bands, or exact-dedup the boilerplate first). Worst-case
  * candidate count per bucket is bounded at cap²/2.
  *
  * The guard also RETURNS the over-cap rows so callers can run the first
  * escalation rung themselves: exact dedup on a content key inside each
  * hot bucket (one group-by + one join back — linear in the bucket, never
  * pairwise). At production scale the most-duplicated content is exactly
  * what lands in hot buckets, so without this rung a funnel would never
  * dedup its worst offenders; with it, only NON-identical near-dup mass
  * inside hot buckets remains conservative-kept (and still reported).
  */
private[operators] object BucketGuard {

  /** Splits `rows` into (kept rows, over-cap rows, 1-row skipped-mass
    * summary `(n_skipped_buckets, n_skipped_rows)`) by the size of the
    * bucket identified by `keys`. Oversized buckets are found with a
    * map-side-combined group-by (cheap: partial counts collapse to one
    * row per bucket per task) and removed with an anti join on the
    * bucket key — on a healthy corpus the hot-bucket list is empty or
    * tiny, so AQE plans the anti join as a broadcast and the kept side
    * never shuffles. The over-cap rows (a semi join on the same tiny
    * list) feed the caller's exact-dedup escalation rung — returned as
    * None when NO bucket is over cap, so the caller's escalation stages
    * (typically a content re-scan + group-by) are never even planned on
    * a healthy corpus: the rung costs nothing until there is over-cap
    * mass to escalate. The emptiness probe materializes the persisted
    * hot list, which every caller needs for the skipped summary anyway;
    * the outcome is a plan choice only — an empty hot list yields an
    * empty escalation set by construction either way. */
  def apply(rows: DataFrame, keys: Seq[String], cap: Int)
      : (DataFrame, Option[DataFrame], DataFrame) = {
    val kcols = keys.map(col)
    val hot = rows.groupBy(kcols: _*).agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > cap)
    GraftCache.persisted("BucketGuard.hot", hot)
    val kept = rows.join(hot.select(kcols: _*), keys, "left_anti")
    val hotRows = if (hot.isEmpty) None
      else Some(rows.join(hot.select(kcols: _*), keys, "left_semi"))
    val skipped = hot.agg(
      count(lit(1)).as("n_skipped_buckets"),
      coalesce(sum(col("_bsz")), lit(0L)).as("n_skipped_rows"))
    (kept, hotRows, skipped)
  }
}
