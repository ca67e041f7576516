package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.operators.{GraftCache, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped, plan-keyed slot cache every operator persists and
  * trains through. */
class GraftCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf01 = "/root/testdata/sf0.01"

  private def totals(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("t"))

  private def cacheBuilders(df: DataFrame) =
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }

  test("persisted: a same-plan call shares one InMemoryRelation and returns the caller's frame") {
    val (a, b) = (totals(spark, sf), totals(spark, sf))
    assert(a.queryExecution.analyzed.output.map(_.exprId) !=
      b.queryExecution.analyzed.output.map(_.exprId))
    val ra = GraftCache.persisted("spec.same", a)
    val rb = GraftCache.persisted("spec.same", b)
    assert((ra eq a) && (rb eq b))
    val (ca, cb) = (cacheBuilders(ra), cacheBuilders(rb))
    assert(ca.size == 1 && cb.size == 1 && (ca.head eq cb.head))
    assert(ra.storageLevel != StorageLevel.NONE)
    rb.unpersist()
  }

  test("persisted: a same-plan second call asks Spark to cache nothing") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spec.cacheWarnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    log.addAppender(appender)
    try {
      val first = GraftCache.persisted("spec.rewarn", totals(spark, sf))
      warned.clear()
      val second = GraftCache.persisted("spec.rewarn", totals(spark, sf))
      assert(second.storageLevel != StorageLevel.NONE)
      val again = warned.asScala.filter(_.contains("already cached"))
      assert(again.isEmpty, again.mkString("\n"))
      first.unpersist()
    } finally {
      log.removeAppender(appender)
      appender.stop()
    }
  }

  test("persisted: a changed input unpersists the slot's previous frame") {
    val small = GraftCache.persisted("spec.rotate", totals(spark, sf))
    assert(small.storageLevel != StorageLevel.NONE)
    val big = GraftCache.persisted("spec.rotate", totals(spark, sf01))
    assert(small.storageLevel == StorageLevel.NONE)
    assert(big.storageLevel != StorageLevel.NONE)
    big.unpersist()
  }

  test("trained: changed params or input retrain, equal ones do not") {
    var calls = 0
    def train(dir: String, p: Int): Int =
      GraftCache.trained("spec.train", totals(spark, dir), Seq(p)) {
        calls += 1; p * 10
      }
    assert(train(sf, 1) == 10 && train(sf, 1) == 10 && calls == 1)
    assert(train(sf, 2) == 20 && calls == 2)
    assert(train(sf, 2) == 20 && calls == 2)
    assert(train(sf01, 2) == 20 && calls == 3)
  }

  test("IVF quantizers: one key each for coarse cells and codebook across callers") {
    // train (q231), one-shot rank (q223) and cluster sampling (q200)
    // share the coarse-cell and residual-codebook slots; none of them
    // may evict what another trained on the same input
    val t = Tables(spark, sf)
    val cv = Similarity.chunkVectors(t.documents, t.embeddings)
    val (coarse, cb) = Similarity.ivfAdcTrain(cv)
    assert(Similarity.ivfAdcTopKFrom(cv).collect().nonEmpty)
    assert(Similarity.clusterBalancedSampleFrom(cv).collect().nonEmpty)
    val (coarse2, cb2) = Similarity.ivfAdcTrain(cv)
    val (sameCoarse, sameCb) = (coarse2 eq coarse, cb2 eq cb)
    assert(sameCoarse, "coarse cells were retrained")
    assert(sameCb, "residual codebook was retrained")
  }

  test("two sessions over one context do not share slots") {
    val s2 = spark.newSession()
    assert(s2.sparkContext eq spark.sparkContext)
    var calls = 0
    def train(s: SparkSession): Int =
      GraftCache.trained("spec.sessions", totals(s, sf), Nil) {
        calls += 1; calls
      }
    assert(train(spark) == 1 && train(s2) == 2)
    assert(train(spark) == 1 && train(s2) == 2 && calls == 2)
    // a different input in the other session's slot evicts nothing here
    val mine = GraftCache.persisted("spec.sessions.p", totals(spark, sf))
    val theirs = GraftCache.persisted("spec.sessions.p", totals(s2, sf01))
    assert(mine.storageLevel != StorageLevel.NONE)
    mine.unpersist(); theirs.unpersist()
  }

  test("concurrent different-input queries sharing a slot are bit-exact (q111)") {
    // q111 persists its scored scan in the CorpusOps.score slot, so the
    // two inputs evict each other's frame while both queries run
    val q111 = SparkEntry.queries("q111_token_budget_select")
    val dirs = Seq(sf, sf01)
    val serial = dirs.map(d => q111(spark, d).collect().toSeq)
    implicit val ec: ExecutionContext = ExecutionContext.global
    (1 to 2).foreach { _ =>
      val concurrent = Await.result(Future.sequence(dirs.map(d =>
        Future(q111(spark, d).collect().toSeq))), 10.minutes)
      assert(concurrent == serial)
    }
  }

  test("no cache state outside GraftCache in operators/ and streaming/") {
    // every residency decision goes through GraftCache's slots: no
    // operator object constructs its own cache or keeps mutable state
    // that outlives the session that filled it
    val forbidden = Seq(
      """new\s+[\w.]*Cache\b""".r -> "constructs a cache",
      """\b(?:RotatingCache|TrainedCache)\b""".r -> "uses a removed cache",
      """\bprivate(?:\[\w+\])?\s+var\b""".r -> "declares a private var",
      """@volatile\b""".r -> "declares a @volatile var")
    val files = Seq("src/main/scala/graft/operators",
        "src/main/scala/graft/streaming")
      .flatMap(d => Files.walk(Paths.get(d)).iterator.asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("GraftCache.scala")))
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (re, what) <- forbidden if re.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1} $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
