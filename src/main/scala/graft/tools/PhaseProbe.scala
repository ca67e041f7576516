package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-phase wall-clock probe for the expensive bench rows (guide §1:
  * decide WHERE the time goes before touching anything). Each phase is
  * forced with the same noop-sink action the bench uses, so phase sums
  * are comparable to bench rows. Usage: PhaseProbe <sfDir> [probe,...]
  */
object PhaseProbe {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[phase] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.lift(1).getOrElse("rag,jaccard,pipeline")
      .split(",").toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = graft.Tables(spark, dir)

    if (which("rag")) {
      // q223 decomposition: chunk+embed fixture, coarse Lloyd,
      // residual PQ train, encode+probe+rank tail. Two passes: pass 1
      // pays codegen/JIT of the literal-tree generated classes, pass 2
      // is the warm per-phase cost (what bench iterations 2-3 see).
      for (pass <- 1 to 2) {
        val cv = time(s"rag p$pass: chunkVectors materialize") {
          val cv = graft.operators.Similarity.chunkVectors(t.documents, t.embeddings)
          noop(cv); cv
        }
        val (coarse, cb) = time(s"rag p$pass: ivfAdcTrain (coarse 5 + pq 10 iters)") {
          graft.operators.Similarity.ivfAdcTrain(cv)
        }
        val enc = time(s"rag p$pass: encode corpus under frozen quantizer") {
          val e = graft.operators.Similarity.ivfAdcEncode(cv, coarse, cb)
          noop(e); e
        }
        time(s"rag p$pass: serve tail (probe+LUT+rank)") {
          val q = cv.filter(col("vec_id") % 50 === 0)
          noop(graft.operators.Similarity.ivfAdcServe(enc, q, coarse, cb))
        }
        time(s"rag p$pass: q223 end-to-end (one-shot)") {
          noop(graft.operators.Similarity.ragRetrieval(spark, dir))
        }
      }
    }

    if (which("jaccard")) {
      // q140 decomposition (two passes: p2 = warm): candidate-stage
      // mass + end-to-end, then the diag counts for stage attribution.
      for (pass <- 1 to 2)
        time(s"jaccard p$pass: q140 end-to-end") {
          noop(graft.operators.Dedup.jaccardJoin(spark, dir))
        }
      val (collisions, prefLen, prefPos, verified) =
        graft.operators.Dedup.jaccardCandidateDiag(t.documents)
      println(s"[phase] jaccard diag: collisions=$collisions " +
        s"prefix+len=$prefLen prefix+len+pos=$prefPos verified=$verified")
      // stage walls, mirroring jaccardJoinFrom's structure with explicit
      // materialization barriers so each stage is timed alone
      val docs = t.documents
      val toks = time("jaccard stage: tokens distinct") {
        val tk = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term")).distinct().persist()
        noop(tk); tk
      }
      val dfreq = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val dict = time("jaccard stage: dictionary rank") {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("df"), col("term"))
        val d = dfreq.withColumn("tid", row_number().over(w).cast("long"))
          .select(col("term"), col("tid")).persist()
        noop(d); d
      }
      val byDoc = time("jaccard stage: byDoc arrays") {
        val b = toks.join(dict, Seq("term"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"),
            array_sort(collect_list(col("tid"))).as("ordered")).persist()
        noop(b); b
      }
      // tau referenced from Dedup (not re-hardcoded): a tauNum/tauDen
      // change there cannot leave this probe measuring a different query
      val (tn, td) = (graft.operators.Dedup.JaccardTauNum,
        graft.operators.Dedup.JaccardTauDen)
      val prefix = byDoc.select(col("doc_id"), col("n"),
        posexplode(slice(col("ordered"), lit(1),
          (col("n") - expr(s"(n * $tn + ${td - 1}) div $td") + 1).cast("int")))
          .as(Seq("p0", "tid")))
        .select(col("doc_id"), col("n"), (col("p0") + 1).as("pos"), col("tid"))
      val cand = time("jaccard stage: prefix self-join + distinct") {
        val c = prefix.alias("x").join(prefix.alias("y"),
            col("x.tid") === col("y.tid") &&
            col("x.doc_id") < col("y.doc_id") &&
            least(col("x.n"), col("y.n")) * td >=
              greatest(col("x.n"), col("y.n")) * tn &&
            (lit(1) + least(col("x.n") - col("x.pos"),
                col("y.n") - col("y.pos"))) * (tn + td) >=
              (col("x.n") + col("y.n")) * tn)
          .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
          .distinct().persist()
        noop(c); c
      }
      time("jaccard stage: verification joins + merge count") {
        val withToks = byDoc.select(col("doc_id"), col("n"),
          col("ordered").as("toks"))
        noop(cand
          .join(withToks.select(col("doc_id").as("ia"), col("n").as("size_a"),
            col("toks").as("ta")), Seq("ia"))
          .join(withToks.select(col("doc_id").as("ib"), col("n").as("size_b"),
            col("toks").as("tb")), Seq("ib"))
          .withColumn("inter", graft.functions.QuantKernels
            .sorted_inter_count(col("ta"), col("tb")))
          .withColumn("u", col("size_a") + col("size_b") - col("inter"))
          .filter(col("inter") * td >= col("u") * tn))
      }
      toks.unpersist(); dict.unpersist(); byDoc.unpersist(); cand.unpersist()
    }

    if (which("pipeline")) {
      time("pipeline: q242 end-to-end") {
        noop(graft.operators.CorpusOps.fullPipelineLm(spark, dir))
      }
      time("pipeline: q121 end-to-end") {
        noop(graft.operators.CorpusOps.fullPipeline(spark, dir))
      }
    }

    if (which("containment")) {
      // q199 decomposition, mirroring containmentJoinFrom's structure
      // with explicit barriers so each funnel stage is timed alone.
      for (pass <- 1 to 2)
        time(s"containment p$pass: q199 end-to-end") {
          noop(graft.operators.Dedup.containmentJoin(spark, dir))
        }
      val docs = t.documents
      val grams = time("containment stage: shingles + distinct (doc,h)") {
        val g = graft.operators.Dedup.spanShingles(docs, 8)
          .select(col("doc_id"), col("h")).distinct().persist()
        noop(g); g
      }
      val hot = time("containment stage: df aggregate + hot filter") {
        val h = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > graft.operators.Dedup.ContainmentGramCap)
        noop(h); h
      }
      val inPlay = time("containment stage: anti-join hot") {
        val ip = grams.join(hot.select(col("h")), Seq("h"), "left_anti")
          .persist()
        noop(ip); ip
      }
      time("containment stage: self-join + pair aggregate") {
        noop(inPlay.alias("a").join(inPlay.alias("b"),
            col("a.h") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          .agg(count(lit(1)).as("shared")))
      }
      time("containment stage: size join + tau filter (full tail)") {
        val sz = grams.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("size_a"))
        noop(inPlay.alias("a").join(inPlay.alias("b"),
            col("a.h") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          .agg(count(lit(1)).as("shared"))
          .join(sz.withColumnRenamed("doc_id", "ia"), Seq("ia"))
          .filter(col("shared") * 2 >= col("size_a")))
      }
      grams.unpersist(); inPlay.unpersist()
    }

    if (which("spans")) {
      // q193/q137 decomposition: the shingle HOF transform vs the
      // frequency/mask/reassembly tiers.
      for (pass <- 1 to 2) {
        time(s"spans p$pass: q193 end-to-end") {
          noop(graft.operators.Dedup.spanDedupClean(spark, dir))
        }
        time(s"spans p$pass: q137 end-to-end") {
          noop(graft.operators.Dedup.repeatedSegmentRemoval(spark, dir))
        }
        time(s"spans p$pass: q212 end-to-end") {
          noop(graft.operators.Dedup.spanUnits(spark, dir))
        }
      }
      val docs = t.documents
      time("spans stage: shingle explode (HOF transform + md5)") {
        noop(graft.operators.Dedup.spanShingles(docs, 8))
      }
      time("spans stage: shingle explode again (no cache)") {
        noop(graft.operators.Dedup.spanShingles(docs, 8))
      }
    }

    if (which("ktruss")) {
      for (pass <- 1 to 2)
        time(s"ktruss p$pass: q175 end-to-end") {
          noop(graft.operators.GraphOps.kTruss(spark, dir))
        }
    }

    if (which("corescale")) {
      // Amplified-mass core-scaling probe (the r19 verdict's scaling
      // complaint: at sf0.1 half the bench rows are overhead-bound and
      // 8 cores beats 32 — ratios there measure the scheduler, not the
      // operator). Same near-dup amplification as ScaleSmoke's LLM
      // rows; run with SPARK_GRAFT_CPUS=8 and =32 and compare walls.
      val mult = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "30").toInt
      val docs = (0 until mult).map { i =>
        t.documents.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(col("text"), lit(s" copyvariant$i tail")).as("text"))
      }.reduce(_ union _)
      for (pass <- 1 to 2) {
        time(s"corescale p$pass: q137 shape at ${mult}x ($cpus cores)") {
          noop(graft.operators.Dedup.repeatedSegmentRemovalFrom(docs))
        }
        time(s"corescale p$pass: q193 shape at ${mult}x ($cpus cores)") {
          noop(graft.operators.Dedup.spanDedupCleanFrom(docs))
        }
        time(s"corescale p$pass: q199 shape at ${mult}x ($cpus cores)") {
          noop(graft.operators.Dedup.containmentJoinFrom(docs))
        }
      }
    }
    spark.stop()
  }
}
