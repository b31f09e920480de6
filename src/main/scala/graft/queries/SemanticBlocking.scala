package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** The operating point of the blocked-embedding family, in one place:
  * the semantic-dedup registrations (q101b–i, q172), the diversity
  * sample (q107), the blocked kNN graph and label propagation (q109b/c,
  * q114/q114b), blocked decontamination (q124b/c), the embedding LSH
  * near-dup rows (q36b–d) and Bench's telemetry for them all read it
  * from here, so Bench measures exactly the registered pipeline.
  *
  * Every served caller shares one centroid index, whose fingerprint
  * includes the cell count: two callers deriving cells differently
  * would retrain it back and forth. */
private[graft] object SemanticBlocking {

  /** Cosine threshold of the semantic-dedup rule. */
  val Threshold = 0.45

  /** Cells each vector probes in the blocked dedup passes. */
  val Probes = 2

  /** The published centroid index every served caller shares. */
  val IndexTable = "default.semdedup_centroids"

  private val Iters = 2

  /** One count job: cells ∝ n keeps per-vector pair work constant. */
  private def cellCount(e: DataFrame): Int = Similarity.cellCountFor(e.count())

  /** k-means cells trained in the query. */
  def trainedCells(e: DataFrame): DataFrame =
    Similarity.kmeansCentroids(e, "embedding", "vec_id",
      k = cellCount(e), iters = Iters)

  /** The same cells, served from (and on corpus change republished to)
    * [[IndexTable]]. */
  def servedCells(s: SparkSession, e: DataFrame): DataFrame =
    Similarity.servedCentroids(s, e, "embedding", "vec_id",
      k = cellCount(e), iters = Iters, table = IndexTable)

  /** (seed, crawl): the 4/5 standing corpus and the 1/5 crawl batch
    * (`vec_id % 5 = 0`) of the incremental and streaming rows. */
  def seedAndCrawl(e: DataFrame): (DataFrame, DataFrame) =
    (e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0))

  /** Blocked semantic dedup of `e` over `cells`: per-id (id, kept). */
  def dedup(e: DataFrame, cells: DataFrame): DataFrame =
    Dedup.semanticDedupBlocked(e, "embedding", "vec_id", Threshold, cells,
      probes = Probes)

  /** The rows of `seed` (all its columns) that `verdicts` — an (id,
    * kept) relation over it — keeps. */
  def keptBy(seed: DataFrame, verdicts: DataFrame): DataFrame =
    seed.join(verdicts.filter(col("kept")).select(col("id")),
        seed("vec_id") === col("id"))
      .select(seed.columns.map(seed(_)).toIndexedSeq: _*)

  /** The blocked-kept seed: the standing corpus a crawl is vetted against. */
  def keptSeed(seed: DataFrame, cells: DataFrame): DataFrame =
    keptBy(seed, dedup(seed, cells))

  /** The streaming-dedup set-up (q101g, Bench's sink section): serve the
    * cells (snapshotted), publish the blocked-kept seed of `e` as
    * `table`, and return (cells, crawl). */
  def publishSeed(s: SparkSession, e: DataFrame,
      table: String): (DataFrame, DataFrame) = {
    val (seed, crawl) = seedAndCrawl(e)
    val cells = servedCells(s, e).localCheckpoint(eager = true)
    s.sql(s"DROP TABLE IF EXISTS $table")
    graft.core.TableStore.overwriteTable(s, table, keptSeed(seed, cells))
    (cells, crawl)
  }

  /** Blocked top-5 kNN graph (query_id, rnk, neighbor_id, cosine).
    * probes = 4 / replicas = 2: the fixture embeddings' 5-NN edges align
    * weakly with the coarse cells (single-probe recall ≈ 0.5). */
  def knnGraph(e: DataFrame, cells: DataFrame): DataFrame =
    Similarity.knnGraphBlocked(e, "embedding", "vec_id", cells,
      k = 5, probes = 4, replicas = 2)

  /** Label-propagation nodes (node, truth, seed): every fifth vector is
    * a seed that keeps its true label. */
  def labelNodes(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("node"), col("label").as("truth"),
      (col("vec_id") % 5 === 0).as("seed"))

  /** [[labelNodes]] in the propagation operator's (node, seed_label) shape. */
  def seedLabels(nodes: DataFrame): DataFrame =
    nodes.select(col("node"), when(col("seed"), col("truth")).as("seed_label"))

  /** q114b's propagation graph: ([[labelNodes]], (src, dst) edges of the
    * blocked kNN graph over trained cells). */
  def propagationGraph(e: DataFrame): (DataFrame, DataFrame) = {
    val edges = knnGraph(e, trainedCells(e))
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    (labelNodes(e), edges)
  }

  /** A sign-LSH operating point of the embedding near-dup rows. */
  final case class LshPoint(threshold: Double, planes: Int, tables: Int) {
    def pairs(corpus: DataFrame): DataFrame =
      Dedup.embeddingNearDups(corpus, "embedding", "vec_id",
        threshold, planes, tables)
  }

  /** q36b/q36d: p ≈ 0.936 per plane at 0.98, so 8 × 8 is effectively exact. */
  val NearDupLsh = LshPoint(0.98, planes = 8, tables = 8)

  /** q36c: at 0.8, p ≈ 0.795; 6 × 16 holds boundary recall ≈ 0.99. */
  val NearDupLsh08 = LshPoint(0.8, planes = 6, tables = 16)
}
