package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality of the fused codegen quantizer kernels (QuantKernels)
  * against the higher-order-function formulations they replaced — the
  * optimization-round proof that swapping the kernels in cannot change
  * any oracle-checked result. Inputs include adversarial ties (the
  * first-minimum tie-break), negative components, and the non-default
  * codebook shapes (q244's 1×16, q247's 2×8). Also asserts both
  * evaluation paths agree (interpreted eval via a non-codegen context is
  * exercised implicitly through Spark's fallback; here we rely on the
  * default codegen path, which is what production runs).
  */
class QuantKernelsSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.functions.QuantKernels._

  private def vecsDf(dim: Int, n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      // mix of magnitudes incl. negatives and exact ties across rows
      val v = Array.tabulate(dim)(j =>
        if (i % 5 == 0) ((j % 3) - 1).toFloat           // repeated tie rows
        else (rnd.nextFloat() * 2.2f - 1.1f))
      (i.toLong, v.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  private def quantHof = transform(col("embedding"),
    x => floor(x.cast("double") * lit(1e6)).cast("long")).as("e")

  test("quantize_vec ≡ transform(floor(x*1e6))") {
    val df = vecsDf(64, 200, 1L)
    val n = df.select(quantHof, quantize_vec(col("embedding")).as("k"))
      .filter(col("e") =!= col("k")).count()
    assert(n == 0L)
  }

  private def centsOf(df: DataFrame, k: Int): Array[Array[Long]] =
    df.select(quantHof).limit(k).collect()
      .map(_.getSeq[Long](0).toArray)

  test("cent_dists / cent_argmin ≡ HOF distance array + first-min") {
    val df = vecsDf(64, 300, 2L)
    val cents = centsOf(df, 16)
    // force exact ties: centroid 3 == centroid 7
    cents(7) = cents(3).clone()
    val cl = array(cents.map(c => array(c.map(lit(_)): _*)): _*)
    val dHof = transform(sequence(lit(0), lit(cents.length - 1)), j =>
      aggregate(zip_with(col("e"), element_at(cl, j + 1),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, b) => a + b))
    val q = df.select(quantHof)
      .withColumn("dh", dHof)
      .withColumn("dk", cent_dists(col("e"), cents))
      .withColumn("cellh",
        (array_position(col("dh"), array_min(col("dh"))) - 1).cast("long"))
      .withColumn("disth",
        element_at(col("dh"), (col("cellh") + 1).cast("int")))
      .withColumn("ak", cent_argmin(col("e"), cents))
    assert(q.filter(col("dh") =!= col("dk")).count() == 0L)
    assert(q.filter(col("cellh") =!= element_at(col("ak"), 1) ||
      col("disth") =!= element_at(col("ak"), 2)).count() == 0L)
  }

  test("cent_residual ≡ zip_with subtraction") {
    val df = vecsDf(64, 150, 3L)
    val cents = centsOf(df, 16)
    val cl = array(cents.map(c => array(c.map(lit(_)): _*)): _*)
    val q = df.select(quantHof)
      .withColumn("cell", pmod(col("e").getItem(0), lit(16L)))
      .withColumn("rh",
        zip_with(col("e"), element_at(cl, (col("cell") + 1).cast("int")),
          (x, c) => x - c))
      .withColumn("rk", cent_residual(col("e"), col("cell"), cents))
    assert(q.filter(col("rh") =!= col("rk")).count() == 0L)
  }

  test("vec_l2q ≡ aggregate(zip_with(sq diff))") {
    val df = vecsDf(64, 150, 4L)
    val q = df.select(quantHof)
      .withColumn("qe", reverse(col("e")))
      .withColumn("dh", aggregate(
        zip_with(col("e"), col("qe"), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, b) => a + b))
      .withColumn("dk", vec_l2q(col("e"), col("qe")))
    assert(q.filter(col("dh") =!= col("dk")).count() == 0L)
  }

  test("sorted_inter_count ≡ size(array_intersect) on sorted arrays") {
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 300).map { i =>
      def arr() = Seq.fill(rnd.nextInt(50))(rnd.nextInt(30).toLong)
        .sorted ++ (if (i % 7 == 0) Seq(5L, 5L, 5L) else Nil)
      (i.toLong, arr().sorted, arr().sorted)
    } :+ ((300L, Seq.empty[Long], Seq(1L, 2L))) :+
      ((301L, Seq(1L, 1L, 2L), Seq(1L, 1L, 1L, 2L, 2L)))
    val df = spark.createDataFrame(rows).toDF("id", "ta", "tb")
    val q = df
      .withColumn("h", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("k", sorted_inter_count(col("ta"), col("tb")))
    assert(q.filter(col("h") =!= col("k")).count() == 0L)
  }

  test("vec_eq_count ≡ size(filter(zip_with(_ === _)))") {
    val df = vecsDf(64, 200, 9L)
    val q = df.select(quantHof)
      .withColumn("qe", when(col("e").getItem(0) % 2 === 0,
        reverse(col("e"))).otherwise(col("e")))
      .withColumn("h", size(filter(
        zip_with(col("e"), col("qe"), (x, y) => x === y), x => x)))
      .withColumn("k", vec_eq_count(col("e"), col("qe")))
    assert(q.filter(col("h") =!= col("k")).count() == 0L)
  }

  test("max_elem_count / bigram_stats ≡ the sorted-run fold / wordGrams counts") {
    import graft.functions.TextKernels._
    val rnd = new scala.util.Random(11L)
    val words = Seq("a", "b", "cc", "ddd", "a", "", "b b")  // incl. empty
    val texts = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    } :+ ((300L, "")) :+ ((301L, "x")) :+ ((302L, "a a a"))
    val df = spark.createDataFrame(texts).toDF("id", "text")
    val ws = split(col("text"), " ")
    // the replaced HOF formulations, verbatim
    val foldRun = aggregate(
      array_sort(ws),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val bi = graft.functions.TextFunctions.wordGrams(col("text"), 2)
    val q = df
      .withColumn("mh", foldRun)
      .withColumn("mk", max_elem_count(ws))
      .withColumn("nh", size(bi).cast("long"))
      .withColumn("uh", size(array_distinct(bi)).cast("long"))
      .withColumn("bs", bigram_stats(ws))
    assert(q.filter(col("mh") =!= col("mk")).count() == 0L)
    assert(q.filter(col("nh") =!= element_at(col("bs"), 1) ||
      col("uh") =!= element_at(col("bs"), 2)).count() == 0L)
  }

  test("shingle kernels ≡ their HOF forms (window_md5 / word_segments / word_grams_arr / char_shingles / chunk_windows)") {
    import graft.functions.ShingleKernels._
    val rnd = new scala.util.Random(13L)
    val words = Seq("a", "bb", "ccc", "dddd", "a", "", "Üßx")
    val texts = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(60))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    } :+ ((300L, "")) :+ ((301L, "x")) :+ ((302L, "a a a a a a a a a a a a")) :+
      ((303L, "ÜBERß mixed Ça"))
    val df = spark.createDataFrame(texts).toDF("id", "text")
    val w = split(col("text"), " ")
    // verbatim HOF forms being replaced
    val hofWin = when(size(w) >= 8,
      transform(sequence(lit(1), size(w) - 7),
        i => md5(array_join(slice(w, i, lit(8)), " "))))
      .otherwise(array().cast("array<string>"))
    val nseg = ceil(size(w) / lit(10.0)).cast("int")
    val hofSeg = transform(sequence(lit(0), nseg - 1),
      i => array_join(slice(w, i * 10 + 1, lit(10)), " "))
    val hofGrams = graft.functions.TextFunctions.wordGrams(col("text"), 3)
    val hofShingles = graft.functions.TextFunctions.shinglesAll(col("text"), 9)
    val nc = lit(1) + greatest(lit(0L),
      expr("(size(split(text, ' ')) - 40 + 19) div 20"))
    val hofChunks = transform(sequence(lit(0L), nc - 1),
      i => slice(w, (i * 20 + 1).cast("int"), lit(40)))
    val q = df
      .withColumn("wh", hofWin).withColumn("wk", window_md5(w, 8))
      .withColumn("sh", hofSeg).withColumn("sk", word_segments(w, 10))
      .withColumn("gh", hofGrams).withColumn("gk", word_grams_arr(w, 3))
      .withColumn("ch", hofShingles)
      .withColumn("ck", char_shingles(col("text"), 9))
      .withColumn("kh", hofChunks).withColumn("kk", chunk_windows(w, 40, 20))
    assert(q.filter(col("wh") =!= col("wk")).count() == 0L, "window_md5")
    assert(q.filter(col("sh") =!= col("sk")).count() == 0L, "word_segments")
    assert(q.filter(col("gh") =!= col("gk")).count() == 0L, "word_grams_arr")
    assert(q.filter(col("ch") =!= col("ck")).count() == 0L, "char_shingles")
    assert(q.filter(col("kh") =!= col("kk")).count() == 0L, "chunk_windows")
    // omit_tokens / omit_segments ≡ the filter-and-rejoin HOF forms
    // (drop sets derived deterministically per row, incl. empty and
    // all-dropped edges)
    val drop = filter(sequence(lit(1L), size(w).cast("long")),
      i => (i + col("id")) % 3 === 0)
    val zipped = arrays_zip(
      sequence(lit(1L), size(w).cast("long")).as("i"), w.as("t"))
    val hofOmit = array_join(transform(
      filter(zipped, s => !array_contains(drop, s.getField("i"))),
      s => s.getField("t")), " ")
    val segDrop = filter(sequence(lit(0L),
      ceil(size(w) / lit(10.0)).cast("long") - 1),
      i => (i + col("id")) % 2 === 0)
    val hofSegOmit = array_join(transform(
      filter(zipped, s => !array_contains(segDrop,
        floor((s.getField("i") - 1) / 10.0).cast("long"))),
      s => s.getField("t")), " ")
    val o = df
      .withColumn("oh", hofOmit)
      .withColumn("ok", omit_tokens(w, drop))
      .withColumn("sh2", hofSegOmit)
      .withColumn("sk2", omit_segments(w, segDrop, 10))
    assert(o.filter(col("oh") =!= col("ok")).count() == 0L, "omit_tokens")
    assert(o.filter(col("sh2") =!= col("sk2")).count() == 0L, "omit_segments")
    // adjacent_pairs ≡ the guarded transform over element_at
    val idx = when(size(w) > 1, sequence(lit(1), size(w) - 1))
      .otherwise(array().cast("array<int>"))
    val hofPairs = transform(idx, i =>
      struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val a2 = df.withColumn("ph", hofPairs)
      .withColumn("pk", adjacent_pairs(w))
    assert(a2.filter(col("ph") =!= col("pk")).count() == 0L, "adjacent_pairs")
  }

  test("kernel generated code compiles (no silent whole-stage fallback)") {
    // With fallback disabled, a Janino compile failure in any kernel's
    // doGenCode throws instead of silently running the stage interpreted
    // (the r19 MaxElemCount generics bug slipped through exactly this way).
    import graft.functions.TextKernels._
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val texts = Seq((0L, "a a b c c c"), (1L, "x"), (2L, ""))
      val tdf = spark.createDataFrame(texts).toDF("id", "text")
      val ws = split(col("text"), " ")
      assert(tdf.select(max_elem_count(ws).as("m"), bigram_stats(ws).as("b"))
        .collect().length == 3)
      import graft.functions.ShingleKernels._
      assert(tdf.select(window_md5(ws, 2).as("w"),
        word_segments(ws, 3).as("s"), word_grams_arr(ws, 2).as("g"),
        char_shingles(col("text"), 4).as("c"),
        chunk_windows(ws, 4, 2).as("k"),
        adjacent_pairs(ws).as("p"),
        omit_tokens(ws, array(lit(1L))).as("ot"),
        omit_segments(ws, array(lit(0L)), 3).as("os"))
        .collect().length == 3)
      val vdf = vecsDf(64, 50, 21L)
      val cents = centsOf(vdf, 16)
      val cb = Array.tabulate(4)(m => cents.map(_.slice(m * 16, (m + 1) * 16)))
      val q = vdf.select(col("embedding"), quantHof)
        .withColumn("qv", quantize_vec(col("embedding")))
        .withColumn("a", cent_argmin(col("e"), cents))
        .withColumn("sd", sub_cent_dists(slice(col("e"), 1, 16), lit(0L), cb))
        .withColumn("d", cent_dists(col("e"), cents))
        .withColumn("r", cent_residual(col("e"), lit(0L), cents))
        .withColumn("c", pq_codes(col("e"), cb))
        .withColumn("l", pq_lut(col("e"), cb))
        .withColumn("adc", adc_dist_lut(col("l"), col("c")))
        .withColumn("l2", vec_l2q(col("e"), col("e")))
        .withColumn("eq", vec_eq_count(col("e"), col("e")))
        .withColumn("ic", sorted_inter_count(col("e"), col("e")))
      assert(q.collect().length == 50)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("codebook kernels compare structurally equal across instances") {
    // case-class equality on Array fields is reference-based; without
    // the DeepEq overrides two semantically identical kernels never
    // compare equal, defeating Catalyst subexpression elimination
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit = Literal.create(Seq(1L, 2L), ArrayType(LongType))
    def cents = Array(Array(1L, 2L), Array(3L, 4L))
    def cb = Array(Array(Array(1L, 2L)), Array(Array(3L, 4L)))
    assert(CentDists(lit, cents) == CentDists(lit, cents))
    assert(CentDists(lit, cents).hashCode == CentDists(lit, cents).hashCode)
    assert(CentArgmin(lit, cents) == CentArgmin(lit, cents))
    assert(CentResidual(lit, lit, cents) == CentResidual(lit, lit, cents))
    assert(PqCodes(lit, cb) == PqCodes(lit, cb))
    assert(PqLut(lit, cb) == PqLut(lit, cb))
    assert(SubCentDists(lit, lit, cb) == SubCentDists(lit, lit, cb))
    assert(PqCodes(lit, cb).semanticEquals(PqCodes(lit, cb)))
    // different codebooks must NOT compare equal
    val cents2 = Array(Array(1L, 2L), Array(3L, 5L))
    assert(CentDists(lit, cents) != CentDists(lit, cents2))
  }

  private def cbShapes(df: DataFrame): Seq[Array[Array[Array[Long]]]] = {
    val seeds = centsOf(df, 16)
    Seq(
      Array.tabulate(4)(m => seeds.map(_.slice(m * 16, (m + 1) * 16))),  // 4×16
      Array.tabulate(1)(m => seeds.map(_.slice(0, 16))),                 // q244 1×16
      Array.tabulate(2)(m => seeds.map(_.slice(m * 8, (m + 1) * 8))))    // q247 2×8
  }

  test("pq_codes / pq_lut / sub_cent_dists / adc_dist_lut ≡ HOF forms") {
    val df = vecsDf(64, 200, 5L)
    for (cb <- cbShapes(df)) {
      val pqSub = cb.head.head.length
      val cbLit = array(cb.map(sub => array(sub.map(cw =>
        array(cw.map(lit(_)): _*)): _*)): _*)
      def subvec(m: org.apache.spark.sql.Column) =
        slice(col("e"), (m * pqSub + 1).cast("int"), lit(pqSub))
      def subDists(m: org.apache.spark.sql.Column) =
        transform(element_at(cbLit, (m + 1).cast("int")), cw =>
          aggregate(zip_with(subvec(m), cw, (x, y) => (x - y) * (x - y)),
            lit(0L), (a, b) => a + b))
      val q = df.select(quantHof)
        .withColumn("ch", transform(sequence(lit(0), lit(cb.length - 1)), m => {
          val d = subDists(m)
          (array_position(d, array_min(d)) - 1).cast("long")
        }))
        .withColumn("ck", pq_codes(col("e"), cb))
        .withColumn("lh", transform(sequence(lit(0), lit(cb.length - 1)),
          m => subDists(m)))
        .withColumn("lk", pq_lut(col("e"), cb))
        .withColumn("adch", aggregate(
          sequence(lit(0), size(col("ck")) - 1), lit(0L), (acc, m) =>
            acc + element_at(element_at(col("lh"), (m + 1).cast("int")),
              (element_at(col("ck"), (m + 1).cast("int")) + 1).cast("int"))))
        .withColumn("adck", adc_dist_lut(col("lk"), col("ck")))
      assert(q.filter(col("ch") =!= col("ck")).count() == 0L, s"codes cb=${cb.length}x$pqSub")
      assert(q.filter(col("lh") =!= col("lk")).count() == 0L, s"lut cb=${cb.length}x$pqSub")
      assert(q.filter(col("adch") =!= col("adck")).count() == 0L, s"adc cb=${cb.length}x$pqSub")
      // sub_cent_dists vs the per-(m, sv) HOF over the explosion
      val sub = df.select(quantHof).select(col("e"),
        posexplode(transform(sequence(lit(0), lit(cb.length - 1)), m =>
          slice(col("e"), (m * lit(pqSub) + 1).cast("int"), lit(pqSub))))
          .as(Seq("m", "sv")))
      val s2 = sub
        .withColumn("dh", transform(element_at(cbLit, (col("m") + 1).cast("int")),
          cw => aggregate(zip_with(col("sv"), cw, (x, y) => (x - y) * (x - y)),
            lit(0L), (a, b) => a + b)))
        .withColumn("dk", sub_cent_dists(col("sv"), col("m"), cb))
      assert(s2.filter(col("dh") =!= col("dk")).count() == 0L, s"subdists cb=${cb.length}x$pqSub")
    }
  }
}
