package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.Fuzz
import graft.operators.{Dedup, HeurFuzz}
import graft.sources.Readers

/** What one pass produced; checked and fingerprinted outside the timer. */
trait Output { def fingerprint: String }

/** Layer metrics of one decomposed pass, and its output. */
final case class Traced(metrics: Map[String, Double], out: Output)

trait Workload {
  def name: String
  /** Input rows one pass finishes. */
  def rowsPerPass: Long
  def sizes: String
  /** Writes the seed's inputs under `dir`. */
  def generate(dir: Path): Unit
  /** One pass through the program's public entry points. */
  def pass(spark: SparkSession, dir: Path, tag: String): Output
  /** Problems found in a pass's output (empty when it is right). */
  def check(spark: SparkSession, dir: Path, out: Output): Seq[String]
  /** The same pass split into its layers, each materialized on its own. */
  def traced(spark: SparkSession, dir: Path, tr: Tracer, jl: JobListener, tag: String): Traced
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "match-catalog" => new MatchWorkload(seed, nRefs = 600, nQueries = 100)
    case "dataprep" => new DataprepWorkload(seed, nDocs = 300, nVecs = 300)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final case class MatchOut(ratio: Double, path: Path) extends Output {
  lazy val lines: IndexedSeq[String] = Files.readAllLines(path, UTF_8).asScala.toIndexedSeq
  def fingerprint: String = s"${Oracles.fingerprint(lines.iterator)}:$ratio"
}

/** HeurFuzz.run, the CLI match path with its defaults, on generated
  * query and catalog files.
  */
final class MatchWorkload(seed: Long, nRefs: Int, nQueries: Int) extends Workload {
  val name = "match-catalog"
  private val params = HeurFuzz.Params()
  private lazy val (refs, queries) = Gen.catalog(seed, nRefs, nQueries)

  def rowsPerPass: Long = nQueries
  def sizes: String = s"$nQueries queries x $nRefs refs, K=${params.topK}, cutoff ${params.scoreCutoff}"

  def generate(dir: Path): Unit = {
    Gen.writeLines(dir.resolve("queries.txt"), queries)
    Gen.writeLines(dir.resolve("refs.txt"), refs)
  }

  def pass(spark: SparkSession, dir: Path, tag: String): Output = {
    val out = dir.resolve(s"out-$tag.tsv")
    MatchOut(HeurFuzz.run(spark, dir.resolve("queries.txt").toString,
      dir.resolve("refs.txt").toString, out.toString, params), out)
  }

  def check(spark: SparkSession, dir: Path, out: Output): Seq[String] = {
    val o = out.asInstanceOf[MatchOut]
    val rows = o.lines.drop(1).map(_.split("\t", -1))
    val shape =
      if (o.lines.headOption.contains("query\tmatch") && rows.size == queries.size &&
        rows.forall(_.length == 2)) Nil
      else Seq(s"output is not a query/match table of ${queries.size} rows")
    if (shape.nonEmpty) return shape
    val expected = Oracles.bestMatches(queries.toIndexedSeq, refs.toIndexedSeq, queries.indices,
      params.topK, params.scoreCutoff)
    val wrongQuery = queries.indices.filter(i => rows(i)(0) != queries(i))
      .map(i => s"row $i query '${rows(i)(0)}' != '${queries(i)}'")
    val wrongMatch = queries.indices.filter(i => rows(i)(1) != expected(i))
      .map(i => s"query $i '${queries(i)}': got '${rows(i)(1)}', brute force '${expected(i)}'")
    val ratio = Oracles.mapRatio(rows.map(_(1)))
    val wrongRatio =
      if (ratio != o.ratio) Seq(s"map ratio ${o.ratio} != $ratio from the output rows") else Nil
    wrongQuery ++ wrongMatch.take(20) ++ wrongRatio
  }

  def traced(spark: SparkSession, dir: Path, tr: Tracer, jl: JobListener, tag: String): Traced = {
    val out = dir.resolve(s"out-$tag.tsv")
    val (k, cutoff) = (params.topK, params.scoreCutoff)
    def layer[T](name: String, root: Int)(body: => T): T = tr.layer(name, root, tag)(body)
    val ((ratio, pairs, topk, best), root) = tr.span("pass", -1, tag) { root =>
      val (qs, rs) = layer("readers.scan", root) {
        (Readers.linesFast(spark, dir.resolve("queries.txt").toString).localCheckpoint(true),
          Readers.linesFast(spark, dir.resolve("refs.txt").toString).localCheckpoint(true))
      }
      val q = HeurFuzz.prepare(qs, "q_")
      val r = HeurFuzz.prepare(rs, "r_")
      val pairs = layer("heurfuzz.pairs", root)(HeurFuzz.pairsCross(q, r).localCheckpoint(true))
      val topk = layer("heurfuzz.topk", root)(HeurFuzz.topKCandidates(pairs, k).localCheckpoint(true))
      val best = layer("heurfuzz.verify", root)(HeurFuzz.bestMatches(topk, cutoff).localCheckpoint(true))
      val ratio = layer("readers.sink", root) {
        val table = q.select(col("q_id"), col("q_term").as("query"))
          .join(best, Seq("q_id"), "left")
          .select(col("q_id"), col("query"), coalesce(col("match"), lit("NA")).as("match"))
        val ratio = HeurFuzz.mapRatio(table)
        Readers.writeTsvFile(table, "q_id", out.toString)
        ratio
      }
      (ratio, pairs, topk, best)
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    def work(layer: String) = jl.total(Seq(tr.find(layer, tag).id))
    val pairsRows = pairs.count().toDouble
    val topkRows = topk.count().toDouble
    val matches = best.count().toDouble
    // direct single-thread scorer calls on the collected top-K candidates
    val cands = new Random(0).shuffle(topk.select("r_term", "q_term").collect().toList)
    var calls = 0
    val f0 = System.nanoTime()
    val it = cands.iterator
    while (it.hasNext && (calls == 0 || System.nanoTime() - f0 < 500000000L)) {
      val row = it.next()
      Fuzz.partialRatioCutoff(row.getString(0), row.getString(1), cutoff)
      calls += 1
    }
    val nsPerCall = (System.nanoTime() - f0).toDouble / calls
    def secs(layer: String) = tr.find(layer, tag).seconds
    Traced(Map(
      "readers.scan_s" -> secs("readers.scan"),
      "readers.sink_s" -> secs("readers.sink"),
      "heurfuzz.pairs_s" -> secs("heurfuzz.pairs"),
      "heurfuzz.pairs_rows" -> pairsRows,
      "heurfuzz.pairs_ns_per_pair" -> work("heurfuzz.pairs").taskNs / pairsRows,
      "heurfuzz.pairs_parallelism" -> work("heurfuzz.pairs").taskNs / 1e9 / secs("heurfuzz.pairs"),
      "heurfuzz.topk_s" -> secs("heurfuzz.topk"),
      "heurfuzz.topk_rows" -> topkRows,
      "heurfuzz.prune_ratio" -> topkRows / pairsRows,
      "heurfuzz.verify_s" -> secs("heurfuzz.verify"),
      "heurfuzz.verify_parallelism" -> work("heurfuzz.verify").taskNs / 1e9 / secs("heurfuzz.verify"),
      "heurfuzz.matches" -> matches,
      "heurfuzz.map_ratio" -> ratio,
      "fuzz.ns_per_call" -> nsPerCall,
      "fuzz.accept_ratio" -> matches / topkRows,
      "trace.glue_s" -> tr.selfSeconds(root)
    ), MatchOut(ratio, out))
  }
}

final case class DataOut(rows: Map[String, Array[Row]]) extends Output {
  def fingerprint: String = rows.toSeq.sortBy(_._1)
    .map { case (q, rs) => s"$q=${Oracles.fingerprint(rs.iterator.map(_.toString))}" }.mkString(";")
}

/** The layers the dataprep decomposition calls directly; the registry's
  * helpers (reader, partition spread, upsert split) are protected, so
  * this object inherits them.
  */
object Layers extends graft.RegistryBase {
  def docs(s: SparkSession, dir: String): DataFrame = spread(s, rd(s, dir, "documents"))
  def baseGraph(s: SparkSession, dir: String): DataFrame = nndGraphBase(s, dir)
  def upsert(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "embeddings")
    val arrivals = e.crossJoin(broadcast(graphUpsertSplit(e))).filter(col("vec_id") >= col("nbase"))
    upsertIntoBaseGraph(s, dir, arrivals).orderBy("src", "rank")
  }
}

/** q52 and q203 through SparkEntry.queries on a generated corpus. */
final class DataprepWorkload(seed: Long, nDocs: Int, nVecs: Int) extends Workload {
  val name = "dataprep"
  private val Queries = Seq("q52_dedup_groups", "q203_knn_graph_upsert")
  def rowsPerPass: Long = nDocs + nVecs
  def sizes: String = s"$nDocs documents, $nVecs embeddings; ${Queries.mkString(", ")}"

  def generate(dir: Path): Unit = Gen.corpus(seed, nDocs, nVecs, dir)

  def pass(spark: SparkSession, dir: Path, tag: String): Output =
    DataOut(Queries.map(q => q -> SparkEntry.queries(q)(spark, dir.toString).collect()).toMap)

  def check(spark: SparkSession, dir: Path, out: Output): Seq[String] = {
    val rows = out.asInstanceOf[DataOut].rows
    val docDf = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val docs = docDf.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // q52: groups are the union-find components of nearDuplicates' pairs
    val pairs = Dedup.nearDuplicates(docDf, "doc_id", "text",
        shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comps = Oracles.components(docs.keys.toSeq, pairs.toSeq)
    val groups = rows("q52_dedup_groups").map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q52 =
      if (groups == comps) Nil
      else Seq(s"q52: ${(groups.toSet diff comps.toSet).size} of ${groups.size} groups differ " +
        s"from the union-find components of ${pairs.length} near-duplicate pairs")

    // q203: every vector keeps its top-K list of other vectors, ranked by
    // the cosine recomputed from the input
    val vecs = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    q52 ++ Oracles.knnProblems(rows("q203_knn_graph_upsert").toSeq, vecs, 3)
  }

  def traced(spark: SparkSession, dir: Path, tr: Tracer, jl: JobListener, tag: String): Traced = {
    val d = dir.toString
    Layers.baseGraph(spark, d) // first-touch artifact build, outside the spans
    def layer[T](name: String, root: Int)(body: => T): T = tr.layer(name, root, tag)(body)
    val ((pairs, q52, q203), root) = tr.span("pass", -1, tag) { root =>
      val docs = Layers.docs(spark, d)
      val pairs = layer("dedup.near_duplicates", root) {
        Dedup.nearDuplicates(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4).localCheckpoint(true)
      }
      val q52 = layer("dedup.resolve_groups", root) {
        Dedup.resolveGroups(docs, "doc_id", pairs).orderBy("doc_id").collect()
      }
      val q203 = layer("nndescent.upsert", root)(Layers.upsert(spark, d).collect())
      (pairs, q52, q203)
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    def secs(layer: String) = tr.find(layer, tag).seconds
    Traced(Map(
      "dedup.near_duplicates_s" -> secs("dedup.near_duplicates"),
      "dedup.candidate_pairs" -> pairs.count().toDouble,
      "dedup.resolve_groups_s" -> secs("dedup.resolve_groups"),
      "nndescent.upsert_s" -> secs("nndescent.upsert"),
      "nndescent.upsert_jobs" -> jl.total(Seq(tr.find("nndescent.upsert", tag).id)).jobs.toDouble,
      "trace.glue_s" -> tr.selfSeconds(root)
    ), DataOut(Map("q52_dedup_groups" -> q52, "q203_knn_graph_upsert" -> q203)))
  }
}
