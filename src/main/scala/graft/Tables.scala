package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * Every read goes through Spark's vectorized Parquet reader, which is the
  * idiomatic replacement for the reference's paged sequential scan
  * (reference: `src/regtests/scan_regtest.cpp:28-34`): row groups play the
  * role of 64 KB pages, and Catalyst pushes filters + column pruning into
  * the scan, so downstream operators never see bytes they don't need.
  *
  * At cluster scale the same code reads a partitioned table from a
  * distributed FS; nothing here assumes local mode.
  *
  * Tables are `lazy val`s so that join conditions written against column
  * references from this object resolve to the same logical relation.
  *
  * A table's schema is read from its parquet footer on the driver — the
  * same footer-to-schema conversion Spark's inference runs, without the
  * Spark job that inference submits per read, so building a table
  * submits no job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** `name`'s frame as the reader surfaces it, before any loader
    * normalization (see [[events]]). */
  private[graft] def read(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(new Path(path))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema Spark infers for a single-file table, from its footer
    * through `ParquetToSparkSchemaConverter` under the session's reader
    * confs (a footer holding a Spark-written schema yields that schema,
    * as in inference). None for a directory, whose file choice is left
    * to Spark's own inference. */
  private def footerSchema(path: Path): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val status = path.getFileSystem(conf).getFileStatus(path)
    Option.when(status.isFile) {
      val footer = ParquetFileReader.readFooter(
        HadoopInputFile.fromStatus(status, conf),
        ParquetMetadataConverter.NO_FILTER)
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  lazy val region: DataFrame     = read("region")
  lazy val nation: DataFrame     = read("nation")
  lazy val customer: DataFrame   = read("customer")
  lazy val supplier: DataFrame   = read("supplier")
  lazy val part: DataFrame       = read("part")
  lazy val orders: DataFrame     = read("orders")
  lazy val lineitem: DataFrame   = read("lineitem")
  lazy val documents: DataFrame  = read("documents")
  lazy val embeddings: DataFrame = read("embeddings")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's TimestampType
    * (microseconds) cannot represent exactly. How the reader surfaces it
    * depends on the Spark version, so we dispatch on the observed schema:
    *
    *  - Spark ≤4.0 only admits it as a raw nanosecond Long under the
    *    `nanosAsLong` legacy conf → truncate to micros via `ts div 1000`.
    *  - Spark 4.1+ reads it natively as TIMESTAMP_NTZ (already truncated
    *    to micros) → cast to TimestampType. The session TZ is pinned UTC,
    *    so the NTZ wall-clock reinterpretation is byte-identical to the
    *    naive TIMESTAMP the DuckDB oracles compare against.
    *
    * All engine queries bucket at ≥1-second granularity, so the micro
    * truncation is semantics-free either way.
    */
  lazy val events: DataFrame = {
    // Best-effort: the legacy conf may not exist on newer Spark versions.
    scala.util.Try(spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    val raw = read("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
