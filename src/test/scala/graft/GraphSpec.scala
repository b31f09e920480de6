package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Similarity}
import graft.queries.{SemanticBlocking, TextVectorQueries}

/** Hand-computed update-rule checks for label propagation plus a
  * geometric-coherence end-to-end: labels that follow the embedding
  * geometry (k-means cell ids) propagate with high accuracy, while the
  * fixture's own `label` column is random w.r.t. the vectors (chance
  * ≈ 0.1), so q114's census verifies MECHANICS through the oracle and
  * this suite demonstrates model quality on coherent labels. */
class GraphSpec extends SparkTestBase {

  import spark.implicits._

  private def lp(nodes: Seq[(Long, java.lang.Integer)],
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Option[Int]] = {
    val n = nodes.toDF("node", "seed_label")
    val e = edges.toDF("src", "dst")
    Graph.labelPropagation(n, e, iters).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
  }

  test("one round: majority of labeled out-neighbors, min-label tie-break, seeds clamped, unreached stay null") {
    // 1 and 4 seeded (10, 20); 2 → 1; 3 → {1,4} tie → min(10,20) = 10;
    // 5 has no edges → stays null
    val out = lp(
      nodes = Seq((1L, Int.box(10)), (2L, null), (3L, null), (4L, Int.box(20)), (5L, null)),
      edges = Seq((2L, 1L), (3L, 1L), (3L, 4L)),
      iters = 1)
    assert(out(1L) === Some(10) && out(4L) === Some(20))
    assert(out(2L) === Some(10))
    assert(out(3L) === Some(10))
    assert(out(5L) === None)
  }

  test("seeds never move even when every neighbor disagrees") {
    val out = lp(
      nodes = Seq((1L, Int.box(7)), (2L, Int.box(9)), (3L, Int.box(9))),
      edges = Seq((1L, 2L), (1L, 3L)),
      iters = 3)
    assert(out(1L) === Some(7))
  }

  test("labels advance one hop per round and persist without labeled neighbors") {
    // chain 3 → 2 → 1(seed): round 1 labels 2; round 2 labels 3.
    // 2's only neighbor is always labeled; 3 keeps its label once set.
    val nodes = Seq((1L, Int.box(5)), (2L, null: java.lang.Integer), (3L, null: java.lang.Integer))
    val edges = Seq((3L, 2L), (2L, 1L))
    assert(lp(nodes, edges, 1)(3L) === None)
    val two = lp(nodes, edges, 2)
    assert(two(2L) === Some(5) && two(3L) === Some(5))
  }

  test("geometrically coherent seed labels propagate accurately over the exact kNN graph") {
    // The driver fixture's embeddings are isotropic noise (mean 1-NN
    // cosine ≈ 0.37, 5-NN edges mostly cross cells), so NO labeling is
    // coherent with that geometry — build a deterministic 8-cluster
    // corpus instead: cluster direction one-hot(c), small id-keyed
    // jitter, labels = cluster, 20 % seeds.
    // jitter must be (i,d)-generic: a small-modulus formula collapses
    // cluster members into identical-vector classes whose tied top-5
    // edges all point at the lowest ids, leaving nodes directed-
    // unreachable from any seed
    val pts = (0 until 200).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(d =>
        (if (d == c) 1.0f else 0.0f) +
          (((i * 2654435761L + d * 40503L) % 1009L) - 504L) * 0.0004f)
      (i.toLong, v, c)
    }
    val e = pts.toDF("vec_id", "embedding", "cluster")
    val edges = Similarity.bruteForceTopKPartial(
        e, e, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = e.select(col("vec_id").as("node"), col("cluster").as("truth"),
      (col("vec_id") % 5 === 0).as("seed"))
    val fin = Graph.labelPropagation(
      nodes.select(col("node"), when(col("seed"), col("truth")).as("seed_label")),
      edges, iters = 4)
    val stats = fin.join(nodes, Seq("node")).filter(not(col("seed")))
      .agg(count(lit(1)).as("n"),
        count(when(col("lab") === col("truth"), 1)).as("ok"),
        count(col("lab")).as("labeled")).head()
    val (n, ok, labeled) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    assert(labeled.toDouble / n >= 0.95, s"coverage ${labeled.toDouble / n}")
    assert(ok.toDouble / labeled >= 0.9,
      s"cluster-label accuracy ${ok.toDouble / labeled} (chance = 0.125)")
  }

  test("q114 census is internally consistent and q114b covers a comparable share") {
    val exact = TextVectorQueries.q114LabelPropagation.run(spark, sfDir)
      .agg(sum("nodes"), sum("seeds"), sum("nonseed")).head()
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(exact.getLong(0) === total)
    assert(exact.getLong(1) + exact.getLong(2) === total)
    val blockedCov = TextVectorQueries.q114bLabelPropagationBlocked.run(spark, sfDir)
      .filter(col("label") >= 0).agg(sum("nodes")).head().getLong(0)
    val exactCov = TextVectorQueries.q114LabelPropagation.run(spark, sfDir)
      .filter(col("label") >= 0).agg(sum("nodes")).head().getLong(0)
    assert(blockedCov >= (exactCov * 0.9).toLong,
      s"blocked coverage $blockedCov vs exact $exactCov")
  }

  test("convergence telemetry: changed-label frontier is non-increasing and the stats twin returns identical labels") {
    // q114b's graph (blocked kNN edges, vec_id % 5 seeds), 3 rounds
    val (labelNodes, blockedEdges) = SemanticBlocking.propagationGraph(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val edges = blockedEdges.localCheckpoint()
    val nodes = SemanticBlocking.seedLabels(labelNodes)
    val (labels, rounds) = Graph.labelPropagationWithStats(nodes, edges, 3)
    assert(rounds.map(_._1) === Seq(1, 2, 3))
    // round 1 labels the seeded neighborhoods — the biggest frontier;
    // later rounds only touch the shrinking unreached boundary, so the
    // changed count must never grow (an oscillating argmax would)
    rounds.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(b <= a, s"frontier grew: ${rounds.mkString(", ")}")
    }
    assert(rounds.head._2 > 0, "round 1 must label something")
    // the telemetry path must not perturb the answer: same labels as
    // the action-free twin on the same edges
    val plain = Graph.labelPropagation(nodes, edges, 3)
    assert(labels.join(plain.withColumnRenamed("lab", "lab2"), Seq("node"))
      .filter(!(col("lab") <=> col("lab2"))).count() === 0L)
  }

  test("triangle census: K4, bowtie, star and path hand graphs count exactly") {
    def census(e: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
      Graph.triangleCounts(e.toDF("u", "v")).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // K4: every node in C(3,2)=3 triangles, degree 3, LCC = 1
    val k4 = census(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(k4.values.toSet === Set((3L, 3L, 1000000L)))
    // bowtie (two triangles sharing node 3): apex sees 2 triangles,
    // degree 4 → LCC = 2·2/(4·3) = 1/3; leaves see 1, degree 2 → LCC 1
    val bow = census(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (3L, 5L), (4L, 5L)))
    assert(bow(3L) === ((2L, 4L, 333333L)))
    assert(Seq(1L, 2L, 4L, 5L).map(bow).toSet === Set((1L, 2L, 1000000L)))
    // star and path: triangle-free, LCC 0 everywhere; duplicate and
    // reversed edge listings do not double-count
    val star = census(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (1L, 2L)))
    assert(star.values.forall(v => v._1 == 0L && v._3 == 0L))
    assert(star(1L)._2 === 3L)
    val path = census(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(path.values.forall(_._1 == 0L))
  }

  test("k-core: pendant chains peel over multiple rounds; the dense core survives intact") {
    // bowtie (every node degree >= 2) + a pendant chain 3-6-7-8 whose
    // tips peel one per round — exercises the fixpoint loop depth
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (3L, 6L), (6L, 7L), (7L, 8L)).toDF("u", "v")
    val (core, rounds, converged) = Graph.kCore(edges, k = 2)
    assert(converged, "peel must report convergence")
    val kept = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(kept(3L) === 4L && kept(1L) === 2L)
    assert(rounds >= 3, s"chain should take multiple peels, took $rounds")
    // k above the max degree empties the graph
    val (empty, _, emptyConverged) = Graph.kCore(edges, k = 5)
    assert(empty.count() === 0L)
    assert(emptyConverged)
    // an insufficient bound must SAY so: the 4-chain needs 2+ peels to
    // reach its (empty) 2-core, so maxRounds = 1 cannot converge —
    // distinguishable from converging exactly on the last round
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val (_, r1, c1) = Graph.kCore(chain, k = 2, maxRounds = 1)
    assert(r1 === 1 && !c1, "truncated peel must report non-convergence")
  }

  test("degree assortativity: star is -1, equal-degree graph is NULL-variance, path is -1") {
    def r(e: Seq[(Long, Long)]): Option[Double] = {
      val row = Graph.degreeAssortativity(e.toDF("u", "v")).head()
      if (row.isNullAt(1)) None else Some(row.getDouble(1))
    }
    // star: every edge joins the hub (deg n) to a leaf (deg 1) —
    // perfectly disassortative
    assert(r(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))) === Some(-1.0))
    // triangle: all degrees equal — zero variance, NULL not a crash
    assert(r(Seq((1L, 2L), (2L, 3L), (1L, 3L))) === None)
    // 3-path: hand-computed r = -1
    assert(r(Seq((1L, 2L), (2L, 3L))) === Some(-1.0))
  }

  test("personalized PageRank: mass stays in the seed's component; stray seeds refused") {
    // two disjoint triangles; seed in the first only
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("node")
    val ranks = Graph.pageRankPersonalized(edges, seeds, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the un-seeded component is EXACTLY zero — no tolerance
    assert(Seq(10L, 11L, 12L).forall(ranks(_) == 0.0))
    // seeded component carries all the mass; the seed outranks its peers
    assert(math.abs(Seq(1L, 2L, 3L).map(ranks).sum - 1.0) < 1e-9)
    assert(ranks(1L) > ranks(2L) && ranks(2L) === ranks(3L))
    // a seed that is not a graph node is refused loudly
    val e = intercept[IllegalArgumentException](
      Graph.pageRankPersonalized(edges, Seq(99L).toDF("node"), iters = 1))
    assert(e.getMessage.contains("not a graph node"))
  }

  test("neighborhood function on a path graph is the hand-computed N(d); HyperBall agrees exactly in coupon mode") {
    // P4: 1-2-3-4. new pairs (ordered, both directions): d=0 → 4
    // self-pairs; d=1 → 6; d=2 → 4; d=3 → 2; N(3) = 16 = n².
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val nf = Graph.neighborhoodFunction(edges, maxD = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nf === Map(0 -> 4L, 1 -> 6L, 2 -> 4L, 3 -> 2L))
    // a horizon past the diameter adds no rows (frontier drains)
    val nf5 = Graph.neighborhoodFunction(edges, maxD = 5)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nf5 === nf)
    // HyperBall: ball sizes ≤ 4 keep the lgK=12 sketches in exact
    // coupon mode, so estimates equal the cumulative N(d) exactly —
    // and they are monotone in d by construction (register max only
    // grows)
    val hb = Graph.hyperBall(edges, maxD = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hb === Map(0 -> 4L, 1 -> 10L, 2 -> 14L, 3 -> 16L))
    // effective diameter at the 90% rule: first d with N(d) ≥ 0.9·16
    // = 14.4 is d = 3 (the true diameter)
    val eff = (0 to 3).find(d => hb(d) * 10 >= 16L * 9).get
    assert(eff === 3)
  }
}
