package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}

import graft.ops.{Dedup, DedupCluster, Export, Similarity, TextAnalysis}

/** Text and embedding curation: text statistics, MinHash near-duplicates,
  * LSH cluster edges → connected components → representatives, k-means
  * blocking → blocked semantic dedup, sharded JSONL export and read-back.
  * A seeded share of the corpus is injected token-edited copies. */
final class Curation extends Workload {
  import Curation._

  type Out = Curation.Out

  private var work: Path = _
  private var docIds: Set[Long] = Set.empty
  private var injected: Seq[(Long, Long)] = Nil
  private var embRows = 0L
  private var exactPruned: Set[Long] = Set.empty

  private def docsPath = work.resolve("documents.parquet").toString
  private def embPath = work.resolve("embeddings.parquet").toString

  def prepare(spark: SparkSession, seed: Long, work: Path): InputSize = {
    import spark.implicits._
    this.work = work
    val (docs, pairs) = Gen.corpus(seed, Docs, Share)
    docs.map(d => (d.id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(docsPath)
    val emb = Gen.embeddings(seed, Embeddings, Dim, Share)
    emb.toDF("vec_id", "embedding", "label").coalesce(1).write.mode("overwrite").parquet(embPath)
    docIds = docs.map(_.id).toSet
    injected = pairs
    embRows = emb.size.toLong
    exactPruned = Gen.semanticPruned(emb.map(e => (e._1, e._2)), SemanticThreshold)
    val bytes = Seq(docsPath, embPath).map(p => Fs.bytes(Path.of(p))).sum
    val tokens = docs.map(_.text.split(' ').length.toDouble)
    InputSize(docs.size.toLong + emb.size, bytes, Map(
      "documents" -> docs.size.toDouble,
      "injected_doc_share" -> pairs.size.toDouble / docs.size,
      "vocabulary" -> docs.flatMap(_.text.split(' ')).distinct.size.toDouble,
      "tokens_q1" -> Stats.quantile(tokens, 0.25),
      "tokens_median" -> Stats.median(tokens),
      "tokens_q3" -> Stats.quantile(tokens, 0.75),
      "embeddings" -> emb.size.toDouble,
      "semantic_pruned_share" -> exactPruned.size.toDouble / emb.size))
  }

  def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Out = {
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    spans("ops.text_stats") {
      TextAnalysis.withTextStats(docs).write.format("noop").mode("overwrite").save()
    }
    val pairs = spans("ops.minhash") {
      Dedup.minhashNearDups(docs, "text", "doc_id", shingleK = 3, numHashes = 32,
        bands = 8, threshold = MinhashThreshold).collect()
    }
    val edges = spans("ops.cluster_edges") {
      DedupCluster.lshClusterEdges(docs, "text", "doc_id", shingleK = 3, numHashes = 32, bands = 8)
        .localCheckpoint(eager = true)
    }
    val components = spans("ops.cc") {
      DedupCluster.connectedComponents(edges).localCheckpoint(eager = true)
    }
    val reps = spans("ops.representatives") {
      DedupCluster.representatives(docs, "doc_id", components).count()
    }
    val centroids = spans("ops.kmeans") {
      Similarity.kmeansCentroids(emb, "embedding", "vec_id",
        k = Similarity.cellCountFor(embRows), iters = 2).localCheckpoint(eager = true)
    }
    val pruned = spans("ops.semantic_dedup") {
      Dedup.semanticDedupBlocked(emb, "embedding", "vec_id", SemanticThreshold, centroids, probes = 2)
        .filter(!col("kept")).select(col("id")).collect().map(_.getLong(0))
    }
    val exportDir = work.resolve(s"export-$index")
    val path = spans("ops.export") {
      Export.shardedJsonl(docs, "doc_id", "text", Seq("doc_id", "text", "source"),
        targetChars = 16384L, basePath = Some(exportDir.toString))
    }
    val exported = spans("ops.read_export") {
      Export.readShardedJsonl(spark, path, "doc_id LONG, text STRING, source STRING, shard INT")
        .select(col("doc_id")).collect().map(_.getLong(0))
    }
    Out(pairs, edges, components, reps, pruned, exportDir, exported)
  }

  /** The engine's exact O(n²) semantic dedup prunes exactly the ids the
    * driver-side exact dedup does; the blocked variant's pruned set is
    * checked against the latter in every pass. */
  override def checkOnce(spark: SparkSession, tally: Tally): Unit = {
    val engine = Dedup.semanticDedup(spark.read.parquet(embPath), "embedding", "vec_id", SemanticThreshold)
      .filter(!col("kept")).select(col("id")).collect().map(_.getLong(0)).toSet
    tally.check("exact_semantic_dedup_equals_driver_side")(engine == exactPruned)
    tally.selfTest("exact_semantic_dedup.drop_id")(engine.drop(1) == exactPruned)
  }

  /** Driver-side union-find over `edges`: node → minimum id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def edgeList(out: Out): Seq[(Long, Long)] =
    out.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def componentMap(out: Out): Map[Long, Long] =
    out.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def pairsOk(pairs: Seq[Row]): Boolean =
    pairs.forall(r => r.getLong(0) < r.getLong(1) && r.getDouble(2) >= MinhashThreshold)

  private def representativesOk(reps: Long, comps: Map[Long, Long]): Boolean =
    reps == docIds.size - comps.size + comps.values.toSet.size

  def check(out: Out, tally: Tally, selfTest: Boolean): Unit = {
    val comps = componentMap(out)
    val uf = unionFind(edgeList(out))
    tally.check("minhash_pairs_verified")(pairsOk(out.pairs.toSeq))
    tally.check("cc_equals_union_find")(comps == uf)
    tally.check("representatives_one_per_component")(representativesOk(out.representatives, comps))
    tally.check("semantic_pruned_subset_of_exact")(out.pruned.forall(exactPruned))
    tally.check("export_round_trip_ids")(out.exported.sorted.toSeq == docIds.toSeq.sorted)
    if (selfTest) {
      val (node, _) = comps.find { case (n, r) => n != r }.get
      tally.selfTest("cc.relabel_node")(comps.updated(node, node) == uf)
      tally.selfTest("representatives.extra_row")(representativesOk(out.representatives + 1, comps))
      tally.selfTest("semantic.prune_outside_exact")((out.pruned :+ -1L).forall(exactPruned))
      tally.selfTest("export.drop_row")(out.exported.sorted.toSeq.drop(1) == docIds.toSeq.sorted)
      tally.selfTest("minhash.below_threshold")(pairsOk(
        out.pairs.toSeq :+ Row(1L, 2L, MinhashThreshold / 2)))
    }
  }

  override def cleanUp(spark: SparkSession, index: Int): Unit =
    Fs.delete(work.resolve(s"export-$index"))

  private val CallSpans = Seq("ops.text_stats", "ops.minhash", "ops.cluster_edges", "ops.cc",
    "ops.representatives", "ops.kmeans", "ops.semantic_dedup", "ops.export", "ops.read_export")

  /** Share of injected (original, copy) pairs that land in one component. */
  private def dupRecall(out: Out): Double = {
    val comps = componentMap(out)
    injected.count { case (a, b) => comps.contains(a) && comps.get(a) == comps.get(b) }.toDouble /
      injected.size
  }

  def extraMetrics(outs: Seq[(Out, Spans, Double)]): Map[String, Double] =
    Map("dup_recall" -> dupRecall(outs.last._1))

  def perLayer(spark: SparkSession, out: Out, spans: Spans, trace: EngineTrace,
      cores: Int): Map[String, Double] = {
    val nFiles = Fs.count(out.exportDir, ".json")
    Map(
      "ops.text_stats.s" -> spans.totalS("ops.text_stats"),
      "ops.minhash.s" -> spans.totalS("ops.minhash"),
      "ops.minhash.shuffle_records" -> trace("ops.minhash").shuffleWriteRecords.toDouble,
      "ops.minhash.pairs" -> out.pairs.length.toDouble,
      "ops.cluster_edges.s" -> spans.totalS("ops.cluster_edges"),
      "ops.cluster_edges.edges" -> out.edges.count().toDouble,
      "ops.cc.s" -> spans.totalS("ops.cc"),
      "ops.cc.jobs" -> trace("ops.cc").jobs.toDouble,
      "ops.kmeans.s" -> spans.totalS("ops.kmeans"),
      "ops.kmeans.jobs" -> trace("ops.kmeans").jobs.toDouble,
      "ops.semantic_dedup.s" -> spans.totalS("ops.semantic_dedup"),
      "ops.semantic_dedup.shuffle_records" -> trace("ops.semantic_dedup").shuffleWriteRecords.toDouble,
      "ops.export.s" -> spans.totalS("ops.export"),
      "ops.export.bytes_written" -> trace("ops.export").bytesWritten.toDouble,
      "ops.export.files" -> nFiles.toDouble,
      "curation.dup_recall" -> dupRecall(out)) ++
      Workload.spanUsage(spans, trace, cores, CallSpans)
  }
}

object Curation {
  /** `edges` and `components` are materialized; checks collect them. */
  final case class Out(pairs: Array[Row], edges: DataFrame, components: DataFrame,
      representatives: Long, pruned: Array[Long], exportDir: Path, exported: Array[Long])

  /** Base documents and embeddings; `Share` of each is injected copies. */
  val Docs = 1000
  val Embeddings = 500
  val Dim = 64
  val Share = 0.2
  val MinhashThreshold = 0.5
  val SemanticThreshold = 0.45
}
