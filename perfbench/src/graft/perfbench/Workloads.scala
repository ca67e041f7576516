package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{GraphOps, Similarity, TextAnalysis}

/** A workload: its set-up (one-time loads plus a warm-up pass over every
  * distinct operation, whose results are kept in the Verify layout), the
  * operations of each cycle, and the outputs scripts/check.py judges. */
abstract class Workload(val spark: SparkSession, man: JsonNode, outDir: String) {
  val base: String = man.get("base").asText()
  protected val verifyOut = s"$outDir/verify_base"
  protected val warm = mutable.ArrayBuffer.empty[String]

  def setup(): Unit
  /** Operations of cycle `c`; each takes inputs no earlier cycle took. */
  def cycle(c: Int): Seq[Op]
  def hasCycle(c: Int): Boolean = true
  def checkGroups: Seq[CheckGroup] = Seq(CheckGroup(base, verifyOut, warm.toSeq))

  protected def full(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
      .getOrElse(sys.error(s"no query $prefix"))
  protected def query(name: String, dir: String): () => DataFrame =
    () => SparkEntry.queries(name)(spark, dir)

  /** Warm-up: run `df` once and keep its result for the oracle check. A
    * failure is left for the check to report as a missing result. */
  protected def warmUp(name: String, df: => DataFrame): Unit = {
    warm += name
    try df.coalesce(1).write.mode("overwrite").parquet(s"$verifyOut/$name")
    catch { case t: Throwable => System.err.println(s"[perfbench] warm-up $name failed: $t") }
  }

  protected def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  protected def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
}

/** smile's regtest ladder and the star schema, read-only, `noop` sink. */
final class OlapLadder(spark: SparkSession, man: JsonNode, outDir: String)
    extends Workload(spark, man, outDir) {
  private val names = Seq("q01", "q02", "q04", "q05", "q06", "q07", "q08",
    "q11", "q16", "q23", "q60", "q70", "q71", "q72").map(full)
  def setup(): Unit = names.foreach(n => warmUp(n, query(n, base)()))
  def cycle(c: Int): Seq[Op] = names.map(n => Op(n, base, query(n, base), Discard))
}

/** The LLM-data batch job: every operation cleans a shard no earlier
  * operation read and writes its result as parquet. */
final class CorpusClean(spark: SparkSession, man: JsonNode, outDir: String)
    extends Workload(spark, man, outDir) {
  // Four of graft.Bench's corpus rows: the flagship pipeline, the two
  // text-reassembly cleaners and DSIR importance. q42 and q129 are left out
  // because their DuckDB oracles take 8 to 30 s per shard, which a run
  // cannot afford for every operation; q235 (3.5 to 4.5 s an operation)
  // and q140 because a run holds too few operations with them.
  private val names = Seq("q121", "q137", "q193", "q196").map(full)
  private val shards = strings(man.get("shards"))
  private val used = mutable.ArrayBuffer.empty[CheckGroup]
  private var next = 0

  /** The first warm-up pass is one cycle on fresh shards, checked like the
    * rest. */
  def setup(): Unit = cycle(-1).foreach { op =>
    try op.build().write.mode("overwrite").parquet(op.sink.asInstanceOf[Parquet].path)
    catch { case t: Throwable => System.err.println(s"[perfbench] warm-up ${op.name} failed: $t") }
  }
  override def hasCycle(c: Int): Boolean = next + names.length <= shards.length
  def cycle(c: Int): Seq[Op] = names.map { n =>
    val shard = shards(next)
    next += 1
    val out = s"$outDir/shards/${new File(shard).getName}"
    new File(out).mkdirs()
    used += CheckGroup(shard, out, Seq(n))
    Op(n, shard, query(n, shard), Parquet(s"$out/$n"))
  }
  override def checkGroups: Seq[CheckGroup] = used.toSeq
}

/** smile's bfsgraph regtest: traversals from seeded sources over a graph
  * loaded once, plus whole-graph analytics on the same graph. */
final class GraphRouting(spark: SparkSession, man: JsonNode, outDir: String)
    extends Workload(spark, man, outDir) {
  private val sources = longs(man.get("sources"))
  private val fixed = Seq("q35", "q153", "q175", "q36").map(full)
  private val (bfs, frontier, sssp) = (full("q32"), full("q37"), full("q33"))
  private var next = 0
  private def source(): Long = { next += 1; sources((next - 1) % sources.length) }

  // The hop caps of GraphOps.bfs / bfsFrontier (10) and sssp (8).
  private lazy val adj: Map[Long, Seq[Long]] =
    GraphOps.symmetrizedEdges(Tables(spark, base)).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSeq }

  /** Hop-capped Bellman-Ford from `s`: min cost over paths of at most
    * `hops` edges, edge cost `w`. */
  private def reference(s: Long, hops: Int, w: (Long, Long) => Long,
      keepIsolated: Boolean): Map[Long, Long] = {
    if (!adj.contains(s) && !keepIsolated) return Map.empty
    var dist = Map(s -> 0L)
    for (_ <- 1 to hops) {
      val next = mutable.Map(dist.toSeq: _*)
      for ((u, du) <- dist; v <- adj.getOrElse(u, Nil)) {
        val c = du + w(u, v)
        if (next.get(v).forall(c < _)) next(v) = c
      }
      dist = next.toMap
    }
    dist
  }
  private def matches(want: => Map[Long, Long])(rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => r.getLong(0) -> r.getLong(1))
    val w = want
    if (got.length == w.size && got.toMap == w) None
    else Some(s"${got.length} rows, reference ${w.size}; " +
      s"first difference ${(got.toSet diff w.toSet).take(3)}")
  }

  def setup(): Unit = (Seq(bfs, frontier, sssp) ++ fixed)
    .foreach(n => warmUp(n, query(n, base)()))

  def cycle(c: Int): Seq[Op] = {
    def traverse(name: String): Op = {
      val s = source()
      val (hops, w): (Int, (Long, Long) => Long) =
        if (name == sssp) (8, GraphOps.edgeWeightJvm) else (10, (_, _) => 1L)
      val build: () => DataFrame =
        if (name == bfs) () => GraphOps.bfs(spark, base, s)
        else if (name == frontier) () => GraphOps.bfsFrontier(spark, base, s)
        else () => GraphOps.sssp(spark, base, s)
      Op(name, s"source=$s", build, Fetch,
        Some(matches(reference(s, hops, w, name == frontier))))
    }
    Seq(traverse(bfs), traverse(bfs), traverse(bfs), traverse(frontier),
      traverse(sssp)) ++ fixed.map(n => Op(n, base, query(n, base), Discard))
  }
}

/** Train once, serve many: the BM25 posting store and the IVFADC index are
  * built in set-up; each operation serves a request batch not served
  * before through the serve paths q229 and q231 are cut from. The traffic
  * follows those queries and graft.Bench: a cycle is one dense and one
  * lexical request, as Bench times q231 and q229 once each, and each
  * request has the shape of the query's canonical batch. */
final class RagServe(spark: SparkSession, man: JsonNode, outDir: String)
    extends Workload(spark, man, outDir) {
  private val residues = longs(man.get("dense_residues"))
  private val lexical = longs(man.get("lexical_mods"))
  private var cv: DataFrame = _
  private var index: (Array[Array[Long]], Array[Array[Array[Long]]]) = _
  private var stored: DataFrame = _
  private var postings: DataFrame = _
  private val served = mutable.LinkedHashSet.empty[Long]

  /** q231's serve tail over the stored index, for `queries`. */
  private def denseServe(queries: DataFrame): DataFrame =
    Similarity.ivfAdcServe(stored, queries, index._1, index._2)
      .select(col("query_id"), col("rk"),
        expr("neighbor_id div 1048576").as("doc_id"),
        expr("neighbor_id % 1048576").as("chunk_idx"), col("adc_dist"))
      .orderBy(col("query_id"), col("rk"))

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val t = Tables(spark, base)
    cv = Similarity.chunkVectors(t.documents, t.embeddings).persist()
    cv.count()
    index = Similarity.ivfAdcTrain(cv)
    stored = Similarity.ivfAdcEncode(cv, index._1, index._2).persist()
    stored.count()
    postings = TextAnalysis.bm25Postings(t.documents).persist()
    postings.count()
    val t1 = System.nanoTime()
    warmUp(full("q229"), TextAnalysis.bm25TopKFromPostings(postings))
    warmUp(full("q231"), denseServe(cv.filter(col("vec_id") % 50 === 0)))
    System.err.println(f"[perfbench] index build ${(t1 - t0) / 1e9}%.1f s, " +
      f"warm-up ${(System.nanoTime() - t1) / 1e9}%.1f s")
  }

  private lazy val denseRef: Map[Long, Seq[String]] =
    denseServe(cv.filter((col("vec_id") % 50).isin(served.toSeq: _*))).collect()
      .toSeq.groupBy(_.getLong(0) % 50).map { case (k, v) => k -> v.map(_.toString) }
  private lazy val lexicalRef: Seq[Row] =
    TextAnalysis.bm25TopKFromPostings(postings, queryMod = 1L).collect().toSeq

  private def same(got: Seq[Row], want: Seq[String]): Option[String] = {
    val g = got.map(_.toString).sorted
    if (g == want.sorted) None
    else Some(s"${g.length} rows, reference ${want.length}; " +
      s"first difference ${(g diff want).take(2)}")
  }

  override def hasCycle(c: Int): Boolean = c < residues.length && c < lexical.length
  def cycle(c: Int): Seq[Op] = {
    val (r, p) = (residues(c), lexical(c))
    served += r
    Seq(
      Op("dense_serve", s"vec_id%50=$r",
        () => denseServe(cv.filter(col("vec_id") % 50 === r)), Fetch,
        Some(rows => same(rows, denseRef.getOrElse(r, Nil)))),
      Op("lexical_serve", s"cid%$p=0",
        () => TextAnalysis.bm25TopKFromPostings(postings, queryMod = p), Fetch,
        Some(rows => same(rows,
          lexicalRef.filter(_.getLong(0) % p == 0).map(_.toString)))))
  }
}
