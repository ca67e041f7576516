package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink + dataset-lifecycle operators (SURVEY §2.a).
  *
  * The reference's storage engine owns a bulk writer (`alloc_regtest.cpp:
  * 24-36` times a 4 GB allocation+write) and a buffer pool with
  * pin/eviction/dirty-writeback (`buffer_pool.cpp:268-518`). The
  * Spark-native analogues are the parquet sink (measured by `bulkWrite`,
  * wired into Bench so write throughput is tracked round-over-round) and
  * `persist`/`unpersist` (demonstrated by `cachedReuse`: one hot aggregate
  * is cached and answers two queries — the second reads InMemoryRelation,
  * not the source; pinned in PlanSpec).
  */
object Sources {

  /** One scratch dir per (JVM, purpose, fixture dir), deleted on JVM exit
    * — repeated invocations (bench warmup + timed passes, verify sweeps)
    * overwrite in place instead of accumulating full-table copies in /tmp.
    * Concurrent JVMs (test suite vs bench) get distinct temp paths. */
  private val scratchDirs =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  private def scratchDir(purpose: String, dir: String): String =
    scratchDirs.getOrElseUpdate((purpose, dir), {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$purpose")
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
      p.toString
    })

  /** Bulk parquet write + readback count. The write is the timed payload
    * (the readback count both verifies the sink and gives the oracle-
    * checkable output: row count must equal the source's). Snappy parquet,
    * one file per input partition — the same layout a 100 TB export uses,
    * where per-partition files keep the write embarrassingly parallel. */
  def bulkWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("bulk_write", dir)
    Tables(spark, dir).lineitem.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).agg(count(lit(1)).as("n_rows"))
  }

  /** Cached-dataset reuse — the buffer-pool pattern: materialize one hot
    * aggregate, answer multiple queries from the cache. Both output rows
    * read the same InMemoryRelation; only the first evaluation scans
    * `orders`. Money is summed in integer cents (associative → engine-
    * order-independent). */
  def cachedReuse(spark: SparkSession, dir: String): DataFrame = {
    val hot = hotAggregate(spark, dir)
    val all = hot.agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      .select(lit("all").as("metric"), col("n"), col("sum_cents"))
    val repeat = hot.filter(col("n_orders") >= 2)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      .select(lit("repeat").as("metric"), col("n"), col("sum_cents"))
    all.union(repeat).orderBy(col("metric"))
  }

  /** The persisted hot table backing [[cachedReuse]] — exposed so tests can
    * pin InMemoryRelation in dependent plans and exercise unpersist. */
  def hotAggregate(spark: SparkSession, dir: String): DataFrame = {
    val hot = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    GraftCache.persisted("Sources.hot", hot)
  }

  /** Schema-on-read TEXT ingestion — the reference's string-parser surface
    * (`types_utils.cpp:12-85`; its timestamp format is
    * `"%Y-%m-%dT%H:%M:%S"`, `types_utils.cpp:72`). A CSV fixture with
    * STRING timestamps and numerics is derived from `events` once per
    * fixture dir (ISO-seconds timestamps; shortest-roundtrip doubles, so
    * the text hop is value-exact), then read back as raw strings and
    * parsed with `to_timestamp` + `CAST` — every downstream value flows
    * through a real string parse. Aggregates by parsed month in exact
    * cents. At scale this is the standard raw-text → typed-columns
    * ingestion step: one pass, parse codegen'd, no shuffle before the
    * group-by. */
  def parseTimestamps(spark: SparkSession, dir: String): DataFrame = {
    val fixture = scratchDir("csv_events", dir)
    val marker = java.nio.file.Paths.get(fixture, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      Tables(spark, dir).events.select(
          col("event_id").cast("string"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_str"),
          col("value").cast("string").as("value_str"))
        .write.mode("overwrite").csv(fixture)
    }
    spark.read
      .schema("event_id STRING, ts_str STRING, value_str STRING")
      .csv(fixture)
      .select(
        to_timestamp(col("ts_str"), "yyyy-MM-dd'T'HH:mm:ss").as("t"),
        col("value_str").cast("double").as("v"))
      .groupBy(
        year(col("t")).cast("long").as("y"),
        month(col("t")).cast("long").as("m"),
        dayofmonth(col("t")).cast("long").as("d"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("v") * 100).cast("long")).as("cents"))
      .orderBy(col("y"), col("m"), col("d"))
  }

  /** Malformed-record ingestion (q161) — schema-on-read resilience, the
    * property web-scale pipelines live on: a CSV feed where every 97th
    * record is corrupted (numeric field replaced by garbage — the
    * deterministic stand-in for the truncated/mangled lines a crawler
    * emits) is read PERMISSIVE with a `_corrupt_record` rescue column;
    * bad rows are counted and quarantined, good rows aggregate as if
    * the corruption never happened. Emits per-type (n_good, n_bad,
    * exact cents sum) so the oracle replays the corruption rule and
    * skips the same rows.
    *
    * Scale shape: one pass over the feed (the rescue column is filled
    * by the CSV parser itself — no second read); the quarantine split
    * is a codegen'd null check; the aggregate is map-side combinable.
    * The CSV hop is value-exact like q69's. */
  def malformedIngest(spark: SparkSession, dir: String): DataFrame = {
    val fixture = scratchDir("csv_malformed", dir)
    val marker = java.nio.file.Paths.get(fixture, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      Tables(spark, dir).events.select(
          concat_ws(",",
            col("event_id"),
            col("event_type"),
            when(col("event_id") % 97 === 0, lit("garbage"))
              .otherwise(round(col("value") * 100).cast("long").cast("string")))
            .as("line"))
        .write.mode("overwrite").text(fixture)
    }
    spark.read
      .schema("event_id LONG, event_type STRING, cents LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(fixture)
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("_corrupt_record").isNull, col("cents"))).as("sum_cents"))
      .orderBy(col("event_type"))
  }
}
