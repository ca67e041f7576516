package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale properties the engine
  * promises (pushdown, broadcast, no accidental cartesian products) are
  * pinned here so a refactor can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every registered query planned once, shared by the inventory-wide
    * tests; None when constructing or planning the query throws. */
  private lazy val inventory
      : Map[String, Option[org.apache.spark.sql.execution.SparkPlan]] =
    SparkEntry.queries.keys.map { name =>
      name -> (try Some(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      catch { case _: Throwable => None })
    }.toMap

  test("q02: filter is pushed into the parquet scan, single column read") {
    val p = plan("q02_scan_filter_count")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double>"), p)
  }

  test("q06: dimension side is broadcast") {
    val p = plan("q06_hashjoin_sum")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q08: star join broadcasts all three dimensions") {
    val p = plan("q08_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("shuffle-hash hint selects the third join strategy; result unchanged") {
    // the physical strategy triangle: broadcast (q06), sort-merge (q07),
    // and shuffled-hash — build a hash table per partition instead of
    // sorting both sides; preferable when one side is much smaller but
    // too big to broadcast
    val t = Tables(spark, sf)
    val base = t.lineitem.join(t.orders.hint("shuffle_hash"),
        t.lineitem("l_orderkey") === t.orders("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
    val p = base.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    val plain = t.lineitem.join(t.orders,
        t.lineitem("l_orderkey") === t.orders("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
    assert(base.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      plain.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("fact-fact join falls back to sort-merge when broadcast is disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val t = Tables(spark, sf)
      val p = t.lineitem.join(t.orders,
          t.lineitem("l_orderkey") === t.orders("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("as-of join plans as a keyed window, not an inequality join") {
    val p = plan("q27_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"asof must not plan a join:\n$p")
  }

  test("no accidental cartesian products in the query inventory") {
    // bounded nested-loop joins are by design in the all-pairs similarity
    // ops (documented); everything else must be hash/merge joins
    val allowed = Set("q45_cosine_topk_pairs", "q46_ann_bruteforce_topk",
      "q47_ann_lsh_topk")
    SparkEntry.queries.keys.filterNot(allowed).foreach { name =>
      val p = inventory(name).map(_.toString).getOrElse("")
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
  }

  test("q117: benchmark gram set is broadcast; probe side never shuffles the corpus grams twice") {
    val p = plan("q117_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"contamination probe must not sort-merge the corpus against the benchmark set:\n$p")
  }

  test("q118: per-document repetition signals are shuffle-free up to the presentation sort") {
    val p = plan("q118_repetition_stats")
    // one Exchange is allowed: the final ORDER BY doc_id (presentation);
    // the signal computation itself must not shuffle (no aggregation
    // exchange, no join)
    assert(!p.contains("Join"), s"q118 must not join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"q118 must fold per-row, not explode + aggregate:\n$p")
  }

  test("q119: frequent n-grams aggregate partially map-side and top-k to the driver") {
    val p = plan("q119_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"q119 must partial-aggregate before the shuffle:\n$p")
  }

  test("q120: winnowing is one codegen'd projection — no join, no aggregate exchange") {
    val p = plan("q120_winnow_fingerprints")
    assert(p.contains("winnow_fps"), p)
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"q120 must stay a per-row projection:\n$p")
  }

  test("q30: CSR prefix sum is distributed — no single-partition window") {
    val p = plan("q30_adjacency_build")
    // the local running sums window on the bucket key, in parallel...
    assert("hashpartitioning\\(bucket".r.findAllIn(p).nonEmpty, p)
    // ...and nothing funnels the whole adjacency into one task
    assert(!p.contains("Exchange SinglePartition"),
      s"q30 moves all rows to a single partition:\n$p")
  }

  test("cached reuse: hot aggregate reads InMemoryRelation; unpersist evicts") {
    val out = SparkEntry.queries("q66_cached_reuse")(spark, sf)
    assert(out.collect().length == 2)
    assert(out.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      out.queryExecution.optimizedPlan.toString)
    // the cache entry is keyed by logical plan: ANY query over the same
    // subtree now reads the cache instead of rescanning orders
    def probe = Tables(spark, sf).orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .agg(count(lit(1)).as("n"))
    assert(probe.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    // unpersist = the reference's buffer-pool eviction: back to source scans
    operators.Sources.hotAggregate(spark, sf).unpersist(true)
    assert(!probe.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
  }

  test("AQE splits a fabricated hot key: final SMJ shows skew=true") {
    // The adaptive complement to the manual salted join (q56): AQE
    // detects the oversized shuffle partition at runtime and splits it,
    // so moderate skew needs no query rewrite. Thresholds are lowered to
    // make a ~200k-row hot key "skewed" at test scale; the marker
    // asserted is the skew=true flag on the final sort-merge join.
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // ~200k rows pile onto ONE join key; the rest are uniform
      val hot = spark.range(200000).select(lit(0L).as("k"), col("id").as("v"))
      val rest = spark.range(2000)
        .select((pmod(col("id"), lit(50)) + 1).as("k"), col("id").as("v"))
      val right = spark.range(51).select(col("id").as("k"), (col("id") * 7).as("w"))
      val joined = hot.union(rest).join(right, "k")
      assert(joined.collect().length == 202000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${plan.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no unpartitioned window anywhere in the query inventory") {
    // an empty partitionSpec means "move every row to one task" — the
    // classic 100×-scale killer. q26's global ranking is two-pass
    // distributed (Windows.windowRanking); nothing may reintroduce one.
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.keys.foreach { name =>
      inventory(name).foreach { exec =>
        val bad = exec.collectWithSubqueries {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(bad.isEmpty, s"$name has an unpartitioned window:\n$exec")
      }
    }
  }

  test("q26: global ranking is distributed — no single-partition funnel") {
    val p = plan("q26_window_ranking")
    assert("hashpartitioning\\(bucket".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Exchange SinglePartition"),
      s"q26 moves all rows to a single partition:\n$p")
  }

  test("window queries exchange once on the partition key") {
    val p = plan("q23_window_running_sum")
    assert(p.contains("Window"), p)
    // one hash exchange for the window partition key (+ range for orderBy)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty, p)
  }

  test("rank-filter top-k-per-key plans a WindowGroupLimit, not a full per-key sort") {
    // Catalyst's InferWindowGroupLimit turns `row_number() <= k` into
    // partial+final per-group bounded heaps — the built-in optimization
    // this engine relies on instead of hand-rolling one (README design
    // stance: don't hand-schedule what the optimizer already does).
    // Pinned so a conf or version change can't silently drop it.
    for (name <- Seq("q116_group_topk", "q22_window_rank")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit group-limit optimization:\n$p")
    }
  }

  test("cleaning chain: every explode is scan-attached, even past broadcast scale") {
    // The 100× composition found the gram explode chained behind the
    // md5-keep join: once that join outgrows broadcast it becomes a
    // shuffle whose output AQE coalesces by PRE-explode byte size, and
    // the whole shingle pass lands on a couple of tasks (measured: the
    // 500k-doc explode on 2 partitions, >20× the stage wall). Pin the
    // fixed shape — no join anywhere beneath a Generate — in BOTH the
    // broadcastable regime and the at-scale one (broadcast threshold
    // off, which forces the keep join to sort-merge exactly as a
    // 100 TB corpus would). AQE disabled so the plan tree is walkable;
    // the property is about logical structure, not AQE's re-planning.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (thresh <- Seq(prevB, "-1");
           q <- Seq("q121_full_pipeline", "q242_full_pipeline_lm")) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val offenders = p.collect {
          case g: GenerateExec if g.children.exists(
              _.collect { case j: BaseJoinExec => j }.nonEmpty) => g
        }
        assert(offenders.isEmpty,
          s"$q at broadcastThreshold=$thresh: explode planned downstream " +
            s"of a join (AQE would coalesce it by pre-explode size):\n" +
            offenders.map(_.simpleStringWithNodeId()).mkString("\n"))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("corpus-cleaning ops (q121/q137/q193/q196): no persist, bounded write stages, one bucket histogram") {
    // Each op reads a fresh shard, so a persist slot is a cache build
    // plus a job per consumer that is never reused, and every query
    // stage is a Spark job on a shard this size. Pinned on the write the
    // op ends in: no InMemoryRelation, at most `maxStages` query stages
    // in the final AQE plan, and q196's model as ONE bucket-keyed
    // histogram (target and raw counts side by side).
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val maxStages = Map("q121_full_pipeline" -> 7,
      "q137_repeated_segment_removal" -> 7, "q193_span_dedup_clean" -> 6,
      "q196_dsir_importance" -> 3)
    // a fresh copy of sf0.001, as each op reads a fresh shard: Spark's
    // cache manager would otherwise substitute a relation another spec
    // persisted over the same files
    val shard = java.nio.file.Files.createTempDirectory("graft_clean_shard")
    java.nio.file.Files.list(java.nio.file.Paths.get(sf)).forEach(f =>
      java.nio.file.Files.copy(f, shard.resolve(f.getFileName)))
    val out = java.nio.file.Files.createTempDirectory("graft_clean_ops")
    spark.listenerManager.register(listener)
    try maxStages.foreach { case (q, bound) =>
      plans.clear()
      val df = SparkEntry.queries(q)(spark, shard.toString)
      val cached = df.queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, s"$q persists a frame it never reuses")
      df.write.mode("overwrite").parquet(s"$out/$q")
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      val all = plans.asScala.toSeq.map(nodes)
      val write = all.filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
      assert(write.size == 1, s"$q: ${write.size} write plans")
      val stages = write.head.count(_.isInstanceOf[QueryStageExec])
      assert(stages <= bound, s"$q: $stages query stages in its write (at most $bound)")
      if (q.startsWith("q196")) {
        val byBucket = all.flatten.collect {
          case a: BaseAggregateExec
            if a.aggregateExpressions.forall(_.mode == Final) &&
              (a.groupingExpressions match {
                case Seq(at: Attribute) => at.name == "b"
                case _ => false
              }) => a
        }
        assert(byBucket.size == 1,
          s"q196: ${byBucket.size} final aggregates keyed on the bucket alone")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
