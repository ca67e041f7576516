package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY §2.a): the engine must read/write the
  * formats a pipeline meets — parquet (primary), orc, csv, json, text —
  * and use partitioned layouts with partition pruning.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("fixture-schema guard: every Tables loader yields its FIXTURES.md schema") {
    // The ingest boundary contract (FIXTURES.md §B, post-loader view).
    // Round 9 lesson: a Spark upgrade changed how parquet TIMESTAMP(NANOS)
    // is surfaced and silently broke 14 queries + 12 tests with a cryptic
    // AnalysisException — this spec turns any future fixture/reader drift
    // into ONE named failure. (Reference analogue: smile's golden storage
    // round-trip, src/tests/file_storage_test.cpp:53-76.)
    //
    // o_orderdate / l_shipdate are pinned as timestamp_ntz: Spark 4.1
    // reads un-TZ-annotated parquet timestamps as TIMESTAMP_NTZ, and the
    // full oracle battery is hash-green against DuckDB with that type
    // under the pinned-UTC session — NTZ IS the working contract. events
    // `ts` is pinned as `timestamp` because its loader normalizes the
    // version-dependent TIMESTAMP(NANOS) read (see Tables.events).
    val t = Tables(spark, sf)
    val expected = Map(
      "region" -> (t.region,
        "r_regionkey int,r_name string"),
      "nation" -> (t.nation,
        "n_nationkey int,n_name string,n_regionkey int"),
      "customer" -> (t.customer,
        "c_custkey bigint,c_name string,c_nationkey int,c_acctbal double,c_mktsegment string"),
      "supplier" -> (t.supplier,
        "s_suppkey bigint,s_name string,s_nationkey int,s_acctbal double"),
      "part" -> (t.part,
        "p_partkey bigint,p_name string,p_brand string,p_type string,p_size int,p_retailprice double"),
      "orders" -> (t.orders,
        "o_orderkey bigint,o_custkey bigint,o_orderstatus string,o_totalprice double,o_orderdate timestamp_ntz,o_orderpriority string"),
      "lineitem" -> (t.lineitem,
        "l_orderkey bigint,l_partkey bigint,l_suppkey bigint,l_linenumber int,l_quantity double,l_extendedprice double,l_discount double,l_tax double,l_returnflag string,l_linestatus string,l_shipdate timestamp_ntz"),
      "events" -> (t.events,
        "event_id bigint,ts timestamp,user_id bigint,event_type string,value double,props string"),
      "documents" -> (t.documents,
        "doc_id bigint,text string,lang string,source string,n_chars bigint"),
      "embeddings" -> (t.embeddings,
        "vec_id bigint,embedding array<float>,label int"))
    val diffs = expected.flatMap { case (name, (df, want)) =>
      val got = df.schema.fields
        .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(",")
      if (got == want) None else Some(s"$name:\n  want $want\n  got  $got")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("Tables reads schemas from parquet footers: equal to Spark's inference, no job") {
    // the footer-read schema must be exactly what spark.read.parquet
    // infers, for every fixture table at both scales (events before its
    // ts normalization), and building a table must submit no Spark job
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    for (dir <- Seq(sf, sf01); name <- names) {
      val want = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables(spark, dir).read(name).schema == want, s"$dir $name")
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf(Tables(spark, sf).documents) == 0,
        "building a table must submit no Spark job")
      // the listener sees the job the footer read replaces
      assert(jobsOf(spark.read.parquet(s"$sf/documents.parquet")) >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("binaryFile source ingests media blobs (multimodal ingest path)") {
    // Production multimodal ingest: media arrive as FILES; the engine
    // reads them with the built-in `binaryFile` source into the same
    // opaque-binary column shape the q51-q53/q123 operators process
    // (Multimodal.scala builds payloads synthetically because the fixture
    // set carries no blobs — this covers the missing first hop).
    val dir = tmp("graft_binfiles")
    val payloads = Tables(spark, sf).documents
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val want = payloads.select(col("doc_id"), md5(col("payload")).as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    payloads.collect().foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
        r.getAs[Array[Byte]]("payload"))
    }
    // a decoy file the glob filter must exclude
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "ignore.tmp"), Array[Byte](1, 2, 3))
    val back = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
      .select(regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
        .cast("long").as("doc_id"), md5(col("content")).as("d"))
    val got = back.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == want,
      s"binaryFile roundtrip digests diverged (${got.size}/${want.size} files)")
  }

  test("csv sink/source roundtrip preserves rows") {
    val dir = tmp("graft_csv")
    val orders = Tables(spark, sf).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    orders.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(orders.schema).csv(dir)
    assert(back.count() == orders.count())
    assert(math.abs(back.agg(sum("o_totalprice")).head().getDouble(0) -
      orders.agg(sum("o_totalprice")).head().getDouble(0)) < 1e-4)
  }

  test("json sink/source roundtrip preserves rows") {
    val dir = tmp("graft_json")
    val docs = Tables(spark, sf).documents
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() == docs.count())
    assert(back.select(sum(length(col("text")))).head().getLong(0) ==
      docs.select(sum(length(col("text")))).head().getLong(0))
  }

  test("orc sink/source roundtrip preserves rows and sums") {
    // second columnar format (built-in ORC writer/reader) — same
    // predicate-pushdown/column-pruning machinery as parquet
    val dir = tmp("graft_orc")
    val li = Tables(spark, sf).lineitem
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    li.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == li.count())
    assert(back.agg(sum(round(col("l_quantity") * 100).cast("long"))).head().getLong(0) ==
      li.agg(sum(round(col("l_quantity") * 100).cast("long"))).head().getLong(0))
    val pushed = back.filter(col("l_returnflag") === "R")
    assert(pushed.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "no pushed filter on the ORC scan")
  }

  test("text source reads lines") {
    val dir = tmp("graft_text")
    Tables(spark, sf).documents.select(col("text")).write.mode("overwrite").text(dir)
    assert(spark.read.text(dir).count() == 500)
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tmp("graft_part")
    Tables(spark, sf).orders.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderstatus"), s"no partition pruning in:\n$plan")
    val want = Tables(spark, sf).orders.filter(col("o_orderstatus") === "F").count()
    assert(pruned.count() == want)
  }

  test("schema catalog: saveAsTable + spark.catalog round-trip") {
    // parity with the reference's persisted type catalog (schema.cpp:26-146):
    // register a table in the catalog, read it back by name, verify the
    // schema survived, then drop it.
    spark.sql("DROP TABLE IF EXISTS graft_orders_cat")
    val orders = Tables(spark, sf).orders
    orders.write.mode("overwrite").saveAsTable("graft_orders_cat")
    assert(spark.catalog.tableExists("graft_orders_cat"))
    val cols = spark.catalog.listColumns("graft_orders_cat")
      .collect().map(c => c.name -> c.dataType).toMap
    val want = orders.schema.fields.map(f =>
      f.name -> f.dataType.simpleString).toMap
    assert(cols == want, s"catalog columns $cols != source schema $want")
    val back = spark.table("graft_orders_cat")
    assert(back.count() == orders.count())
    assert(back.except(orders).isEmpty && orders.except(back).isEmpty)
    spark.sql("DROP TABLE graft_orders_cat")
    assert(!spark.catalog.tableExists("graft_orders_cat"))
  }

  test("edge-list text source roundtrip (loadgraph parity)") {
    // parity with the reference's whitespace edge-list reader
    // (loadgraph_regtest.cpp:39-68): header line + src dst pairs
    val dir = tmp("graft_edges")
    val edges = graft.operators.GraphOps.directedEdges(Tables(spark, sf))
    edges.select(concat_ws(" ", col("src"), col("dst")).as("value"))
      .write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
      .select(split(col("value"), " ").as("parts"))
      .select(element_at(col("parts"), 1).cast("long").as("src"),
        element_at(col("parts"), 2).cast("long").as("dst"))
    assert(back.count() == edges.count())
    assert(back.except(edges).isEmpty && edges.except(back).isEmpty)
  }

  test("malformed ingest: corrupt rows quarantined, good rows aggregate untouched") {
    val rows = graft.operators.Sources.malformedIngest(spark, sf).collect()
    val ev = Tables(spark, sf).events
    val total = ev.count()
    val bad = ev.filter(col("event_id") % 97 === 0).count()
    assert(bad > 0, "fixture must exercise the corrupt path")
    assert(rows.map(_.getLong(1)).sum == total - bad, "good rows")
    assert(rows.map(_.getLong(2)).sum == bad, "quarantined rows")
    // good-row cents match a direct aggregate that never saw corruption
    val want = ev.filter(col("event_id") % 97 =!= 0)
      .groupBy(col("event_type"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(3) == want(r.getString(0)),
      s"${r.getString(0)} cents"))
  }
}
