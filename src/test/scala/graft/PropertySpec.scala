package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY §5 engine test plan): engine results vs
  * in-memory Scala models on randomized inputs — the upgrade of the
  * reference's randomized buffer-pool stress test to query semantics.
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  /** Raw-ScalaCheck sampling (the scalatest bridge isn't on the offline
    * classpath): run the property over N deterministic generator draws. */
  private def forAllSampled[T](gen: Gen[T], n: Int = 8)(prop: T => Unit): Unit =
    (1 to n).foreach { i =>
      prop(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val kvGen = Gen.listOfN(200,
    Gen.zip(Gen.choose(0, 20), Gen.choose(-100, 100)))

  test("groupBy sum matches in-memory model") {
    forAllSampled(kvGen) { kvs =>
      import spark.implicits._
      val df = kvs.toDF("k", "v")
      val got = df.groupBy($"k").agg(sum($"v").as("s")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = kvs.groupBy(_._1).view
        .mapValues(_.map(_._2.toLong).sum).toMap
      assert(got == want)
    }
  }

  test("inner join + aggregate matches in-memory model") {
    forAllSampled(Gen.zip(kvGen, kvGen)) { case (l, r) =>
      import spark.implicits._
      val left = l.toDF("k", "v")
      val right = r.distinct.toDF("k", "w")
      val got = left.join(right, "k")
        .agg(count(lit(1)), sum($"v" + $"w")).head()
      val rm = r.distinct.groupBy(_._1)
      val pairs = for {
        (k, v) <- l
        (_, w) <- rm.getOrElse(k, Nil)
      } yield (v.toLong + w)
      assert(got.getLong(0) == pairs.size.toLong)
      assert(Option(got.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L) == pairs.sum)
    }
  }

  test("minhash signature agreement estimates Jaccard") {
    // two documents built from controlled shingle overlap
    import spark.implicits._
    val shared = (1 to 60).map(i => f"sh$i%04d")
    val onlyA = (1 to 40).map(i => f"aa$i%04d")
    val onlyB = (1 to 40).map(i => f"bb$i%04d")
    val rows = shared.map(("a", _)) ++ onlyA.map(("a", _)) ++
      shared.map(("b", _)) ++ onlyB.map(("b", _))
    val sigs = rows.toDF("doc_id", "sh")
      .groupBy($"doc_id")
      .agg(graft.functions.MinHashSig.minhash_sig($"sh", 64).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs("a").zip(sigs("b")).count { case (x, y) => x == y }
    val est = agree.toDouble / 64
    val trueJacc = 60.0 / 140.0 // |∩|/|∪|
    assert(math.abs(est - trueJacc) < 0.2,
      s"minhash estimate $est vs true $trueJacc")
  }

  test("approx_count_distinct within 5% of exact") {
    // the sketch bound lives HERE, on the funnel surface — the oracle-
    // hashed q54 output pins only the exact count, so sketch drift can
    // never fail hash verification (it fails this spec instead)
    val row = operators.Relational.approxDistinctFunnel(spark, sf).head()
    val (approx, exact) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
    val q54 = operators.Relational.approxDistinct(spark, sf).head()
    assert(q54.length == 1 && q54.getLong(0) == exact, q54.toString)
  }

  test("approx_percentile within 1% of exact") {
    // same convention as q54: bound spec-side on the funnel, exact-only
    // projection in the oracle-hashed q85 output
    val r = operators.Relational.approxPercentileFunnel(spark, sf).head()
    val (approx, exact) = (r.getSeq[Double](0), r.getSeq[Double](1))
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.01, s"$a vs $e") }
    val q85 = operators.Relational.approxPercentile(spark, sf).head()
    assert(q85.length == 2 &&
      q85.getLong(0) == math.round(exact(0) * 1000) &&
      q85.getLong(1) == math.round(exact(1) * 1000), q85.toString)
  }

  test("bloom membership has no false negatives") {
    val (nBloom, nExact) = operators.Relational.bloomFunnel(spark, sf)
    assert(nBloom >= nExact, s"bloom $nBloom < exact $nExact — false negative!")
    assert(nExact > 0)
    // and the filter is actually selective (not pass-everything)
    val total = Tables(spark, sf).lineitem.count()
    assert(nBloom < total)
    // the oracle-checked q86 surface reports the same funnel as a flag
    val q86 = operators.Relational.bloomMembership(spark, sf).head()
    assert(q86.getLong(0) == nExact && q86.getBoolean(1), q86.toString)
  }

  test("bernoulli sample is statistically sane and seed-reproducible in-session") {
    val li = Tables(spark, sf).lineitem
    val n = li.count()
    val s1 = li.sample(withReplacement = false, 0.1, seed = 42).count()
    val s2 = li.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(s1 == s2, "same seed+plan must reproduce")
    assert(math.abs(s1 - 0.1 * n) < 0.03 * n, s"sample $s1 of $n far from 10%")
  }

  test("stratified sampleBy approximates requested fractions") {
    val li = Tables(spark, sf).lineitem
    val fractions = Map("A" -> 0.2, "N" -> 0.05, "R" -> 0.1)
    val sampled = li.stat.sampleBy("l_returnflag", fractions, seed = 7L)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (k, f) =>
      val got = sampled.getOrElse(k, 0L).toDouble / totals(k)
      assert(math.abs(got - f) < 0.05, s"stratum $k: got $got want $f")
    }
  }

  test("map functions: create/transform/concat round-trip an in-memory model") {
    import spark.implicits._
    val df = Seq((1, "a", 10), (2, "b", 20)).toDF("k", "name", "v")
      .select(col("k"),
        map(lit("name"), col("name")).as("m1"),
        map(lit("v2"), (col("v") * 2).cast("string")).as("m2"))
      .select(col("k"), map_concat(col("m1"), col("m2")).as("m"))
      .select(col("k"), map_keys(col("m")).as("ks"),
        transform_values(col("m"), (_, v) => upper(v)).as("mu"))
    val rows = df.orderBy("k").collect()
    assert(rows(0).getSeq[String](1).toSet == Set("name", "v2"))
    assert(rows(0).getMap[String, String](2) == Map("name" -> "A", "v2" -> "20"))
    assert(rows(1).getMap[String, String](2) == Map("name" -> "B", "v2" -> "40"))
  }

  test("typed cogroup matches full-outer-join model") {
    import spark.implicits._
    val l = Seq((1, "x"), (1, "y"), (3, "z")).toDS()
    val r = Seq((1, 10), (2, 20)).toDS()
    val got = l.groupByKey(_._1).cogroup(r.groupByKey(_._1)) {
      (k, ls, rs) => Iterator((k, ls.size, rs.size))
    }.collect().toSet
    assert(got == Set((1, 2, 1), (3, 1, 0), (2, 0, 1)))
  }

  test("shingles of text shorter than k are empty, not bogus partials") {
    import spark.implicits._
    val rows = Seq("abc", "abcdefg", "abcdefgh", "abcdefghi").toDF("text")
      .select(col("text"),
        functions.TextFunctions.shinglesAll(col("text"), 8).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(rows("abc").isEmpty)
    assert(rows("abcdefg").isEmpty)
    assert(rows("abcdefgh") == Seq("abcdefgh"))
    assert(rows("abcdefghi") == Seq("abcdefgh", "bcdefghi"))
  }

  test("simhash band0 is the unsigned low 16 bits even for negative simhash") {
    val fps = operators.Dedup.fingerprints(spark, sf)
      .select(col("simhash"), col("band0"), col("band1"), col("band2"), col("band3"))
      .collect()
    assert(fps.exists(_.getLong(0) < 0), "fixture should contain a negative simhash")
    fps.foreach { r =>
      val sh = r.getLong(0)
      assert(r.getLong(1) == (sh & 0xFFFFL))
      assert(r.getLong(2) == ((sh >>> 16) & 0xFFFFL))
      assert(r.getLong(3) == ((sh >>> 32) & 0xFFFFL))
      assert(r.getLong(4) == (sh >>> 48))
      (1 to 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) <= 0xFFFFL))
    }
  }

  test("minhash_sig supports signature widths beyond 64") {
    import spark.implicits._
    val sig = Seq(("a", "tok1"), ("a", "tok2"), ("a", "tok3")).toDF("doc_id", "sh")
      .groupBy($"doc_id")
      .agg(functions.MinHashSig.minhash_sig($"sh", 128).as("sig"))
      .head().getSeq[Long](1)
    assert(sig.length == 128)
    assert(sig.forall(_ != Long.MaxValue))
  }

  test("dot_product rejects dimension mismatch instead of truncating") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(functions.DotProduct.dot_product(col("a"), col("b")))
    val e = intercept[Exception](df.head())
    assert(e.toString.contains("dimension mismatch") ||
      Option(e.getCause).exists(_.toString.contains("dimension mismatch")))
  }

  test("dot_product type-checks its inputs at analysis time") {
    import spark.implicits._
    val df = Seq(("x", 1)).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(functions.DotProduct.dot_product(col("a"), col("b"))).head()
    }
    assert(e.getMessage.contains("dot_product expects"))
  }

  test("asof join: every matched signup is at or before its purchase") {
    val t = Tables(spark, sf)
    val out = operators.Joins.asofJoin(spark, sf)
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("pts"))
    val joined = out.join(purchases, "event_id")
      .filter(col("signup_ts_us") =!= -1L)
    assert(joined.filter(col("signup_ts_us") > col("pts")).count() == 0)
  }

  test("GlobalOrder two-pass rank/cumsum ≡ unpartitioned window on tie-heavy data") {
    // The primitive behind q26/q111/q113/q114: value-bucket + local
    // window + driver-cumulated offsets must equal the single-partition
    // window EXACTLY — the risky case is ties, which must never span a
    // bucket boundary. Keys are drawn from a small domain so nearly
    // every key value carries many ties.
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(300,
      Gen.zip(Gen.choose(-15L, 15L), Gen.choose(1L, 50L)))
    forAllSampled(gen, n = 4) { rows =>
      import spark.implicits._
      // unique id per row (the tiebreaker every caller carries)
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val bucketed = operators.GlobalOrder
        .bucketizeByValue(df, col("k"), desc = true)
      val (bases, totals) = operators.GlobalOrder.exclusiveOffsets(bucketed,
        Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sv")))
      val offsets = bases.map { case (b, Seq(c, s)) => (b, c, s) }
        .toDF("bucket", "rn_base", "cum_base")
      val wLocal = Window.partitionBy(col("bucket"))
        .orderBy(col("k").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = bucketed
        .withColumn("lrn", count(lit(1)).over(wLocal))
        .withColumn("lcum", sum(col("v")).over(wLocal))
        .join(broadcast(offsets), Seq("bucket"))
        .select(col("id"),
          (col("rn_base") + col("lrn")).as("rn"),
          (col("cum_base") + col("lcum")).as("cum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val wGlobal = Window.orderBy(col("k").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("rn", count(lit(1)).over(wGlobal))
        .withColumn("cum", sum(col("v")).over(wGlobal))
        .select(col("id"), col("rn"), col("cum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
      assert(totals == Seq(rows.size.toLong, rows.map(_._2).sum))
    }
  }

  test("GlobalOrder unique-order bucketizer ≡ global window when one key value dominates") {
    // the clamp-saturation case: most rows share ONE key value (a score
    // clamped at its bound). bucketizeForUniqueOrder may split those
    // ties across buckets (the order carries the unique id) — results
    // must still equal the global window, and the tie mass must actually
    // occupy multiple buckets (the point of the variant).
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(400, Gen.zip(
      Gen.frequency(7 -> Gen.const(1000L), 1 -> Gen.choose(0L, 999L)),
      Gen.choose(1L, 50L)))
    forAllSampled(gen, n = 4) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val bucketed = operators.GlobalOrder
        .bucketizeForUniqueOrder(df, col("k"), desc = true, col("id"))
      val hotBuckets = bucketed.filter(col("k") === 1000L)
        .select(col("bucket")).distinct().count()
      assert(hotBuckets > 1, "tie mass was not spread across buckets")
      val (bases, _) = operators.GlobalOrder.exclusiveOffsets(bucketed,
        Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sv")))
      val offsets = bases.map { case (b, Seq(c, s)) => (b, c, s) }
        .toDF("bucket", "rn_base", "cum_base")
      val wLocal = Window.partitionBy(col("bucket"))
        .orderBy(col("k").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = bucketed
        .withColumn("lrn", count(lit(1)).over(wLocal))
        .withColumn("lcum", sum(col("v")).over(wLocal))
        .join(broadcast(offsets), Seq("bucket"))
        .select(col("id"),
          (col("rn_base") + col("lrn")).as("rn"),
          (col("cum_base") + col("lcum")).as("cum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val wGlobal = Window.orderBy(col("k").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("rn", count(lit(1)).over(wGlobal))
        .withColumn("cum", sum(col("v")).over(wGlobal))
        .select(col("id"), col("rn"), col("cum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
    }
  }

  test("GlobalOrder handles an empty input (no min/max to bucket on)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id", "k")
    val bucketed = operators.GlobalOrder
      .bucketizeByValue(empty, col("k"), desc = false)
    val (bases, totals) = operators.GlobalOrder.exclusiveOffsets(bucketed,
      Seq(count(lit(1)).as("cnt")))
    assert(bucketed.count() == 0 && bases.isEmpty && totals == Seq(0L))
  }

  test("multi-source Bellman-Ford matches in-memory hop-capped model on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(80, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L),
      Gen.choose(1L, 9L)))
    forAllSampled(edgeGen, n = 4) { es =>
      val edges = es.toDF("src", "dst", "w")
      val sources = Seq(0L, 1L)
      val maxHops = 5
      val got = operators.GraphOps
        .multiSourceCostsFrom(spark, edges, sources, maxHops)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // model: k rounds of full relaxation = min cost over <= k-hop paths
      val want = sources.flatMap { s =>
        var best = Map((s: Long) -> 0L)
        (1 to maxHops).foreach { _ =>
          val relaxed = es.flatMap { case (a, b, w) =>
            best.get(a).map(c => b -> (c + w))
          }
          best = (best.toSeq ++ relaxed).groupBy(_._1).view
            .mapValues(_.map(_._2).min).toMap
        }
        best.map { case (n, c) => (s, n) -> c }
      }.toMap
      assert(got == want, s"engine=$got model=$want")
    }
  }

  test("fuzzy-dedup keep-list contract holds on random corpora with planted chains") {
    import spark.implicits._
    // random corpora: 8 independent ~40-word base docs (negligible mutual
    // shingle overlap), each optionally growing a near-dup chain of up to
    // 3 links — every link mutates the PREVIOUS link's last 4 words, so
    // adjacent Jaccard stays high while base↔tail drifts (transitivity
    // must do the collapsing). Draws are seed-deterministic, so the
    // minhash funnel's behavior is reproducible run to run.
    val wordGen = Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    val corpusGen = for {
      bases <- Gen.listOfN(8, Gen.listOfN(40, wordGen))
      chainLens <- Gen.listOfN(8, Gen.choose(0, 3))
      fresh <- Gen.listOfN(24, wordGen)
    } yield (bases, chainLens, fresh)
    forAllSampled(corpusGen, n = 4) { case (bases, chainLens, fresh) =>
      val docs = scala.collection.mutable.ListBuffer[(Long, String)]()
      val groups = scala.collection.mutable.ListBuffer[Seq[Long]]()
      bases.zipWithIndex.foreach { case (words, i) =>
        docs += ((i.toLong, words.mkString(" ")))
        var cur = words
        val ids = scala.collection.mutable.ListBuffer(i.toLong)
        (0 until chainLens(i)).foreach { j =>
          val w = fresh(i * 3 + j) // distinct replacement block per link
          cur = cur.dropRight(4) ++ Seq(w, w.reverse, s"$w$j", s"q$w")
          val id = 100L * (i + 1) + j
          docs += ((id, cur.mkString(" ")))
          ids += id
        }
        groups += ids.toSeq
      }
      val keep = operators.Dedup
        .fuzzyDedupKeepFrom(spark, docs.toSeq.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val keepMap = keep.toMap
      // (a) every document appears exactly once
      assert(keep.length == docs.size && keepMap.size == docs.size,
        s"keep-list must cover the corpus once: ${keep.length}/${docs.size}")
      // (b) canonical is the component minimum: never above the doc id
      assert(keep.forall { case (d, c) => c <= d },
        s"canonical above doc id: ${keep.filter { case (d, c) => c > d }.toSeq}")
      // (c) canonicals are fixed points, so WHERE doc_id = canonical_id
      // keeps exactly one representative per cluster and nothing else
      assert(keepMap.values.toSet.forall(c => keepMap(c) == c),
        "a canonical id must map to itself")
      // planted chains collapse transitively to the base (minimum) id
      groups.filter(_.size > 1).foreach { g =>
        val canon = g.map(keepMap).toSet
        assert(canon == Set(g.min),
          s"chain $g expected canonical ${g.min}, got ${g.map(keepMap)}")
      }
    }
  }

  test("streaming dedup tiers ≡ batch under random feed order and chunking") {
    import spark.implicits._
    // The equivalence argument for q133/q135 is that the drop/pair rule is
    // per-PAIR and therefore feed-order-independent: every unordered pair
    // is evaluated in exactly the micro-batch where its LATER element
    // arrives. This property drives both tiers with seed-deterministic
    // random permutations and chunk counts — not just the doc-id-ordered
    // 4-chunk feed the registered queries use — and demands the exact
    // batch result each time.
    val base = Tables(spark, sf).documents
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    val mutated = base.select((col("doc_id") + 1000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 20)"),
        lit(" zz mutated tail zz")).as("text"))
    val corpus = base.union(mutated)
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val wantKeep = operators.Dedup.fuzzyDedupKeepFrom(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ebase = Tables(spark, sf).embeddings
      .filter(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    val ecopy = ebase.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val ecorpus = ebase.union(ecopy)
    val cents = operators.Similarity.centroidDirs(ecorpus, 16)
    val efeed = ecorpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val wantSem = operators.Similarity.semanticDedupFrom(ecorpus, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq.sorted
    forAllSampled(Gen.zip(Gen.choose(0, Int.MaxValue), Gen.choose(2, 5)),
        n = 3) { case (seed, nChunks) =>
      val rnd = new scala.util.Random(seed)
      val store = java.nio.file.Files
        .createTempDirectory("graft_prop_stream").toString
      rnd.shuffle(feed).grouped(math.max(1, feed.size / nChunks))
        .zipWithIndex.foreach { case (c, i) =>
          graft.streaming.StreamingDedup
            .dedupBatch(c.toDF("doc_id", "text"), store, i)
        }
      val got = graft.streaming.StreamingDedup.keepList(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == wantKeep,
        s"keep-list diverged under seed=$seed chunks=$nChunks")
      val estore = java.nio.file.Files
        .createTempDirectory("graft_prop_sem").toString
      rnd.shuffle(efeed).grouped(math.max(1, efeed.size / nChunks))
        .zipWithIndex.foreach { case (c, i) =>
          graft.streaming.StreamingDedup
            .semanticBatch(c.toDF("vec_id", "embedding"), estore, cents, 0.35, i)
        }
      val gotSem = graft.streaming.StreamingDedup
        .semanticDecisionTable(spark, estore)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          r.getBoolean(3))).toSeq.sorted
      assert(gotSem == wantSem,
        s"semantic table diverged under seed=$seed chunks=$nChunks")
    }
  }

  test("count-min heavy hitters: estimate bounds hold for every top word") {
    // bounds live HERE (cnt ≤ est ≤ cnt + ceil(eps·N)) — the oracle-hashed
    // q122 output pins only the exact counts, so a Spark-internal CMS
    // change fails this spec, never hash verification
    val est = operators.TextAnalysis.cmsTopEstimates(spark, sf)
    assert(est.length == 20)
    est.foreach { case (g, cnt, e, bound) =>
      assert(e >= cnt && e <= cnt + bound,
        s"CMS estimate out of bounds for '$g': est=$e cnt=$cnt bound=$bound")
    }
    val rows = SparkEntry.queries("q122_cms_heavy_hitters")(spark, sf).collect()
    assert(rows.length == 20 && rows.head.length == 2)
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      est.map { case (g, cnt, _, _) => g -> cnt })
    // counts are a descending sequence (heavy hitters, deterministic tiebreak)
    val cnts = rows.map(_.getLong(1)).toSeq
    assert(cnts == cnts.sorted.reverse)
  }

  test("wordGrams: k-gram count, ordering, short-text and NULL contracts") {
    import spark.implicits._
    import graft.functions.TextFunctions.wordGrams
    val df = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, "solo"), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = df.select(col("id"), wordGrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(got(1L) == Some(List("a b c", "b c d"))) // n-k+1 grams, in order
    assert(got(2L) == Some(Nil) && got(3L) == Some(Nil)) // shorter than k
    assert(got(4L) == None) // NULL in, NULL out
  }

  test("repetition fold: longest-equal-run top-word count matches groupBy model") {
    import spark.implicits._
    forAllSampled(Gen.listOfN(60, Gen.oneOf("a", "b", "c", "ab")), n = 6) { words =>
      val text = words.mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      // replicate the fold used by repetitionStats via the public query on
      // a temp parquet fixture is heavyweight; assert on the fold itself
      val ws = split(col("text"), " ")
      val fold = aggregate(
        array_sort(ws),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, w) => {
          val run = when(w === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(w.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      val got = df.select(fold.as("m")).head().getLong(0)
      val want = words.groupBy(identity).values.map(_.size).max.toLong
      assert(got == want, s"text=$text got=$got want=$want")
    }
  }

  test("interval join matches brute-force overlap on random boundary-heavy intervals") {
    import spark.implicits._
    val base = java.time.LocalDate.parse("2024-01-01")
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      base.plusDays(day.toLong).atStartOfDay())
    // starts across 4 months, lengths 0-45 days (plenty cross a bin)
    val gen = Gen.zip(
      Gen.listOfN(15, Gen.zip(Gen.chooseNum(0, 120), Gen.chooseNum(0, 45))),
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(0, 120), Gen.chooseNum(0, 45))))
    forAllSampled(gen, n = 6) { case (as, bs) =>
      val a = as.zipWithIndex.map { case ((s, len), i) =>
        (i.toLong, i, ts(s), ts(s + len)) }
        .toDF("l_orderkey", "l_linenumber", "a_start", "a_end")
      val b = bs.zipWithIndex.map { case ((s, len), j) =>
        (j.toLong, ts(s), ts(s + len)) }
        .toDF("o_orderkey", "b_start", "b_end")
      val got = operators.Joins.intervalOverlapJoinFrom(a, b).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      val want = (for {
        ((sa, la), i) <- as.zipWithIndex
        ((sb, lb), j) <- bs.zipWithIndex
        if sa <= sb + lb && sb <= sa + la
      } yield (i.toLong, j.toLong,
        (math.min(sa + la, sb + lb) - math.max(sa, sb) + 1).toLong)).toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("hierarchy rollup matches the JVM parent walk on random sparse key sets") {
    import spark.implicits._
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(0L, 1000000L), Gen.chooseNum(1L, 9999L)))
      .map(_.distinctBy(_._1))
    forAllSampled(gen, n = 6) { parts =>
      val got = operators.Relational
        .hierarchyRollupFrom(parts.toDF("p_partkey", "cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val agg = scala.collection.mutable.Map[Long, (Long, Long)]()
      parts.foreach { case (p, c) =>
        var a = p
        while (a >= 0) {
          val (n, s) = agg.getOrElse(a, (0L, 0L))
          agg(a) = (n + 1, s + c)
          a = if (a >= 1) (a - 1) / 2 else -1L
        }
      }
      val want = agg.toSeq.filter(_._1 < 50)
        .map { case (x, (n, s)) => (x, n - 1, s) }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("BPE training matches an in-memory reference on random tie-heavy corpora") {
    import spark.implicits._
    // tiny alphabet → constant pair-count ties, exercising the
    // (n DESC, pa, pb) tie-break and the greedy left-to-right merge
    // on every round; the reference implements textbook BPE
    // independently of the engine's sentinel-string replace trick
    def refBpe(words: Seq[String],
        rounds: Int): (Seq[(String, String, Long)], Map[String, Int]) = {
      val wc = words.filter(_.nonEmpty).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      var syms: Map[String, Vector[String]] =
        wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      var done = false
      for (_ <- 1 to rounds if !done) {
        val pc = scala.collection.mutable.Map
          .empty[(String, String), Long]
        for ((w, s) <- syms; i <- 0 until s.length - 1)
          pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + wc(w)
        if (pc.isEmpty) done = true
        else {
          val ((pa, pb), n) = pc.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((pa, pb, n))
          def merge(s: Vector[String]): Vector[String] = {
            val r = Vector.newBuilder[String]; var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == pa && s(i + 1) == pb) {
                r += pa + pb; i += 2
              } else { r += s(i); i += 1 }
            }
            r.result()
          }
          syms = syms.view.mapValues(merge).toMap
        }
      }
      (out.toSeq, syms.view.mapValues(_.length).toMap)
    }
    val corpusGen = Gen.listOfN(8, Gen.chooseNum(3, 8).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString)))))
    forAllSampled(corpusGen, n = 6) { docsWords =>
      val docs = docsWords.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = operators.Bpe.bpeMergesFrom(spark, docs).collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val (want, wordTok) = refBpe(docsWords.flatten,
        operators.Bpe.BpeMerges)
      assert(got == want, s"merge tables diverged:\n$got\n$want")
      // token accounting under the same merges
      val stats = operators.Bpe.bpeTokenStatsFrom(spark, docs).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      docsWords.zipWithIndex.foreach { case (ws, i) =>
        val nz = ws.filter(_.nonEmpty)
        if (nz.nonEmpty) {
          val (nWs, nBpe) = stats(i.toLong)
          assert(nWs == nz.length)
          assert(nBpe == nz.map(w => wordTok(w).toLong).sum,
            s"doc $i token count")
        }
      }
    }
  }

  test("BPE delta training is bit-identical to the full recount") {
    import spark.implicits._
    // the delta trainer only re-counts words containing the merged
    // pair; equality with the full per-round recount must hold
    // including selected-pair COUNTS (not just the pairs) and the
    // early-stop round. Tie-heavy tiny alphabet again so a single
    // off-by-one count would flip a tie-break and diverge.
    val corpusGen = Gen.listOfN(30, Gen.chooseNum(1, 7).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b")).map(_.mkString)))
    forAllSampled(corpusGen, n = 4) { words =>
      val wc = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val rel = operators.Bpe.wordCounts(wc)
      val full = operators.Bpe.trainMerges(rel, operators.Bpe.BpeMerges)
      val delta = operators.Bpe.trainMergesDelta(rel,
        operators.Bpe.BpeMerges)
      assert(delta == full, s"delta diverged:\n$delta\n$full")
    }
  }

  test("BPE fold encode is bit-identical to the replace chain on random corpora") {
    import spark.implicits._
    // same tie-heavy tiny alphabet: any ordering or sentinel slip in
    // the fold diverges the token counts immediately
    val corpusGen = Gen.listOfN(30, Gen.chooseNum(1, 7).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString)))
    forAllSampled(corpusGen, n = 4) { words =>
      val wc = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val rel = operators.Bpe.wordCounts(wc)
      val merges = operators.Bpe
        .trainMergesDelta(rel, operators.Bpe.BpeMerges)
        .map(m => (m._1, m._2))
      val chain = operators.Bpe.wordTokensChain(rel, merges).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val fold = operators.Bpe.wordTokensFold(rel, merges).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(fold == chain, s"fold diverged from chain on $words")
    }
  }

  test("containment join matches an in-memory model on random embed-heavy corpora") {
    import spark.implicits._
    // base docs of 8-14 words over a 6-word vocabulary (8-grams collide
    // often), plus derived docs that EMBED a full base doc inside extra
    // words — the quote-inclusion structure the operator exists for
    val corpusGen = for {
      bases <- Gen.listOfN(6, Gen.chooseNum(8, 14).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("wa", "wb", "wc", "wd", "we", "wf"))))
      embeds <- Gen.listOfN(4, Gen.zip(Gen.chooseNum(0, 5),
        Gen.chooseNum(0, 6)))
    } yield {
      val baseDocs = bases.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val embedDocs = embeds.zipWithIndex.map { case ((b, pad), j) =>
        (100L + j, ((1 to pad).map(p => s"u${j}x$p") ++ bases(b)
          ++ (1 to pad).map(p => s"v${j}y$p")).mkString(" ")) }
      baseDocs ++ embedDocs
    }
    forAllSampled(corpusGen, n = 6) { docs =>
      val got = operators.Dedup.containmentJoinFrom(docs.toDF("doc_id", "text"))
        .collect().filter(!_.isNullAt(0))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
        .toSet
      // in-memory model: distinct word-8-gram sets, directed containment
      val grams = docs.map { case (id, t) =>
        id -> t.split(" ", -1).sliding(8).filter(_.length == 8)
          .map(_.mkString(" ")).toSet }.toMap
      val want = (for {
        (ia, ga) <- grams.toSeq if ga.nonEmpty
        (ib, gb) <- grams.toSeq if ia != ib
        shared = (ga & gb).size.toLong
        if shared * 2 >= ga.size
      } yield (ia, ib, shared, shared * 1000000L / ga.size)).toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("jaccard join: prefix filter is exact vs an in-memory model at several taus") {
    import spark.implicits._
    // random corpora over a 25-token vocabulary, 30 docs of 5-20 distinct
    // tokens — dense enough that pairs land on every side of each tau
    val corpusGen = Gen.listOfN(30, Gen.chooseNum(5, 20).flatMap(k =>
      Gen.pick(k, 0 until 25).map(_.toSet)))
    for ((tn, td) <- Seq((1, 2), (4, 5), (9, 10))) {
      forAllSampled(corpusGen, n = 4) { sets =>
        val docs = sets.zipWithIndex.map { case (s, i) =>
          (i.toLong, s.toSeq.sorted.map(t => s"tok$t").mkString(" "))
        }.toDF("doc_id", "text")
        val got = graft.operators.Dedup.jaccardJoinFrom(docs, tn, td)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val want = (for {
          i <- sets.indices; j <- sets.indices if i < j
          inter = (sets(i) & sets(j)).size
          union = (sets(i) | sets(j)).size
          if inter.toLong * td >= union.toLong * tn
        } yield (i.toLong, j.toLong, inter.toLong)).toSet
        assert(got == want,
          s"tau=$tn/$td: missing=${want -- got} extra=${got -- want}")
      }
    }
  }

  test("grouped deciles match a per-group ntile model on tie-heavy random corpora") {
    import spark.implicits._
    // clamp-heavy quality domain: many docs share one score, exactly the
    // regime where bucketizeForUniqueOrder splits ties across buckets —
    // the per-lang rank must still be the (quality DESC, doc_id) order
    val docGen = Gen.listOfN(120, Gen.zip(
      Gen.oneOf("aa", "bb", "cc"),             // lang
      Gen.choose(0, 3)))                       // word-count bucket → ties
    forAllSampled(docGen, n = 5) { raw =>
      val docs = raw.zipWithIndex.map { case ((lang, w), i) =>
        (i.toLong, lang, Seq.fill(w + 1)("word").mkString(" "))
      }.toDF("doc_id", "lang", "text")
      val got = operators.CorpusOps.groupedDecilesFrom(docs).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      // model: per-lang SQL-spec ntile over (quality DESC, doc_id)
      got.groupBy(_._2._1).foreach { case (lang, rs) =>
        val n = rs.length
        val ordered = rs.sortBy { case (id, (_, q, _)) => (-q, id) }
        val (q, r) = (n / 10, n % 10)
        ordered.zipWithIndex.foreach { case ((id, (_, _, dec)), idx) =>
          val rn = idx + 1
          val expect =
            if (rn <= (q + 1) * r) (rn - 1) / (q + 1) + 1
            else r + (rn - r * (q + 1) - 1) / math.max(q, 1) + 1
          assert(dec == expect, s"$lang doc $id rank $rn")
        }
      }
    }
  }

  test("point-in-time lookup matches an in-memory as-of model on random events") {
    import spark.implicits._
    val probes = Seq("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")
      .map(p => p -> java.sql.Timestamp.valueOf(s"$p 00:00:00").getTime)
    val evGen = Gen.listOfN(80, Gen.zip(
      Gen.choose(1L, 5L),                      // user
      Gen.choose(0L, 29L * 24 * 3600),         // seconds offset into January
      Gen.choose(-100, 100)))                  // value
    forAllSampled(evGen, n = 5) { raw =>
      val evs = raw.zipWithIndex.map { case ((u, off, v), i) =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + off * 1000), u,
          v.toDouble)
      }
      val got = operators.Joins.pointInTimeFrom(
        evs.toDF("event_id", "ts", "user_id", "value")).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      // model: per (user, probe) the latest event at or before the probe
      // by (ts, event_id)
      val want = (for {
        u <- evs.map(_._3).distinct
        (p, pMs) <- probes
        best = evs.filter(e => e._3 == u && e._2.getTime <= pMs)
          .sortBy(e => (e._2.getTime, e._1)).lastOption
        b <- best
      } yield (u, p) -> (b._1, b._4)).toMap
      assert(got == want)
    }
  }

  test("k-core peel matches an in-memory model on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(120,
      Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 30L)))
    forAllSampled(edgeGen, n = 5) { raw =>
      val canon = raw.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      if (canon.nonEmpty) {
        // in-memory fixed-round peel (4 rounds, k=2)
        var edges = canon
        for (_ <- 1 to 4) {
          val deg = (edges.map(_._1) ++ edges.map(_._2))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val keep = deg.collect { case (n0, d) if d >= 2 => n0 }.toSet
          edges = edges.filter { case (a, b) => keep(a) && keep(b) }
        }
        val wantDeg = (edges.map(_._1) ++ edges.map(_._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val ue = (canon ++ canon.map(_.swap)).toDF("src", "dst")
        val got = operators.GraphOps.kCoreFrom(ue, k = 2, rounds = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == wantDeg, s"edges=$canon")
      }
    }
  }

  test("k-truss peel matches an in-memory model on random graphs") {
    import spark.implicits._
    // The Spark side enumerates triangles under a per-round (deg,id)
    // DEGREE ORIENTATION; the model counts supports naively over a<b<c
    // triples — equal results prove the orientation never changes
    // support counts, only where the wedge work lands.
    val edgeGen = Gen.listOfN(140,
      Gen.zip(Gen.choose(1L, 25L), Gen.choose(1L, 25L)))
    forAllSampled(edgeGen, n = 5) { raw =>
      val canon = raw.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      if (canon.nonEmpty) {
        def supports(edges: List[(Long, Long)]): Map[(Long, Long), Long] = {
          val es = edges.toSet
          val tris = for {
            (a, b) <- edges
            c <- edges.collect { case (`b`, x) => x }
            if es.contains((a, c))
          } yield (a, b, c)
          tris.flatMap { case (a, b, c) => Seq((a, b), (a, c), (b, c)) }
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
        }
        // in-memory fixpoint peel, k=3 (support ≥ 1)
        var edges = canon
        var changed = true
        while (changed) {
          val sup = supports(edges)
          val next = edges.filter(e => sup.getOrElse(e, 0L) >= 1L)
          changed = next.size != edges.size
          edges = next
        }
        val want = edges.map(e => e -> supports(edges).getOrElse(e, 0L)).toMap
        val ue = (canon ++ canon.map(_.swap)).toDF("src", "dst")
        val got = operators.GraphOps.kTrussWithRounds(ue, k = 3)._1
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        assert(got == want, s"edges=$canon")
      }
    }
  }

  test("funnel state machine ≡ batch min-chain on random ordered event feeds") {
    import spark.implicits._
    val evGen = Gen.listOfN(60, Gen.zip(
      Gen.choose(1L, 6L),                                    // user
      Gen.oneOf("view", "click", "purchase", "error"),       // type
      Gen.choose(0L, 100000L)))                              // seconds offset
    forAllSampled(evGen, n = 5) { raw =>
      val evs = raw.zipWithIndex.map { case ((u, ty, off), i) =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + off * 1000), u, ty)
      }
      // batch min-chain model
      def model(u: Long): (Long, Long, Long) = {
        val mine = evs.filter(_._3 == u).sortBy(e => (e._2.getTime, e._1))
        val v = mine.collectFirst { case e if e._4 == "view" => e._2.getTime }
          .getOrElse(-1L)
        val c = if (v < 0) -1L
          else mine.collectFirst {
            case e if e._4 == "click" && e._2.getTime > v => e._2.getTime
          }.getOrElse(-1L)
        val p = if (c < 0) -1L
          else mine.collectFirst {
            case e if e._4 == "purchase" && e._2.getTime > c => e._2.getTime
          }.getOrElse(-1L)
        (v, c, p)
      }
      val got = graft.operators.Behavioral.eventFunnelFrom(
          evs.toDF("event_id", "ts", "user_id", "event_type")).collect()
        .map { r =>
          def us(i: Int) = Option(r.getTimestamp(i)).map(_.getTime).getOrElse(-1L)
          r.getLong(0) -> (us(1), us(2), us(3))
        }.toMap
      got.foreach { case (u, t) => assert(t == model(u), s"user $u") }
    }
  }
}
