package graft

import org.scalacheck.Gen

import graft.ops.DedupCluster

/** Connected-components clustering: the distributed large-star/small-star
  * result is cross-checked against a driver-side union-find on the same
  * edges — an independent sequential algorithm, so agreement validates
  * the component structure itself. */
class ClusterSpec extends SparkTestBase {

  import spark.implicits._

  /** Sequential union-find with path compression — the oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** Components as node -> root; fails if any node gets more than one
    * row (a node with two roots would otherwise vanish into `.toMap`). */
  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val rows = DedupCluster.connectedComponents(edges.toDF("u", "v"))
      .as[(Long, Long)].collect().toSeq
    val multi = rows.groupBy(_._1).filter(_._2.size > 1)
    assert(multi.isEmpty, s"nodes with more than one row: $multi")
    rows.toMap
  }

  test("a shuffled long chain collapses to one component rooted at the min") {
    // ids are permuted so the minimum sits mid-chain — forces label
    // propagation across many hops (multiple star rounds, not one)
    val perm = new scala.util.Random(7).shuffle((0L until 64L).toList)
    val edges = perm.sliding(2).map(p => (p.head, p(1))).toSeq
    val comp = ccMap(edges)
    assert(comp.values.toSet === Set(0L))
    assert(comp.keySet === (0L until 64L).toSet)
  }

  test("disjoint components keep distinct minimal roots") {
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L))
    val comp = ccMap(edges)
    assert(comp === Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("children shared by several parents join them into one component") {
    // canonical edges where no node is both parent and child, yet a child
    // has two parents: a star-forest test that only checks roles
    // certifies these as converged and splits the parents apart
    assert(ccMap(Seq((1L, 3L), (2L, 3L))) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(ccMap(Seq((2L, 6L), (5L, 6L), (3L, 7L), (5L, 7L))) === Map(
      2L -> 2L, 3L -> 2L, 5L -> 2L, 6L -> 2L, 7L -> 2L))
  }

  test("random graphs match a driver-side union-find") {
    val genEdges = for {
      n <- Gen.choose(2, 50)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m, for {
        u <- Gen.choose(0L, n.toLong - 1)
        v <- Gen.choose(0L, n.toLong - 1)
      } yield (u, v))
    } yield edges
    // seeded draws: failures replay exactly (PropertySpec convention)
    (1L to 6L).foreach { seed =>
      val edges = genEdges
        .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(ccMap(edges) === unionFind(edges), s"seed=$seed edges=$edges")
    }
  }

  test("shared-shingle edges link copies, not unrelated docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (2L, "beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (3L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val edges = DedupCluster.sharedShingleEdges(docs, "text", "doc_id",
      shingleK = 3, minShared = 5, maxDf = 1000)
      .as[(Long, Long)].collect().toSet
    assert(edges === Set((1L, 2L)))
  }

  test("winnowed edges at w=1 degenerate to the exact shared-shingle edges") {
    // w=1 selects EVERY gram position, so the winnowed postings are the
    // full shingle sets and the edge relation must match bit-for-bit at
    // equal minShared — pins the gramHashSeq ≡ ShingleHashesExpr chain
    // through the whole edge builder
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"),
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "two three four five six seven eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
    val exact = DedupCluster.sharedShingleEdges(docs, "text", "doc_id",
      shingleK = 3, minShared = 5, maxDf = 1000)
      .as[(Long, Long)].collect().toSet
    val win1 = DedupCluster.winnowedShingleEdges(docs, "text", "doc_id",
      shingleK = 3, w = 1, minShared = 5, maxDf = 1000)
      .as[(Long, Long)].collect().toSet
    assert(win1 === exact)
    assert(exact === Set((1L, 2L), (3L, 4L)))
  }

  test("winnowed edges catch guarantee-length copies and skip unrelated docs") {
    // 30 shared tokens → 28 shared grams ≥ (4+1)·4−1 = 19: the MOSS
    // guarantee forces ≥ 4 co-selected fingerprints, so the pair MUST
    // surface at minShared = 4; the unrelated doc must not
    val span = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"prefix $span"),
      (2L, s"$span suffix"),
      (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val edges = DedupCluster.winnowedShingleEdges(docs, "text", "doc_id",
      shingleK = 3, w = 4, minShared = 4, maxDf = 1000)
      .as[(Long, Long)].collect().toSet
    assert(edges === Set((1L, 2L)))
  }

  test("stop-shingle guard drops hot postings") {
    // ten docs all sharing one boilerplate sentence: maxDf below 10
    // removes those shingles, so no edges survive
    val docs = (1L to 10L)
      .map(i => (i, s"common boiler plate sentence here now w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val edges = DedupCluster.sharedShingleEdges(docs, "text", "doc_id",
      shingleK = 3, minShared = 3, maxDf = 5)
    assert(edges.count() === 0L)
  }

  test("representatives keep one root per cluster plus every unclustered doc") {
    val corpus = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"),   // cluster {1,2,3}, root 1
      (7L, "d"), (9L, "e"),              // cluster {7,9}, root 7
      (5L, "f"), (6L, "g"))              // unclustered
      .toDF("doc_id", "text")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("node", "root")
    val reps = DedupCluster.representatives(corpus, "doc_id", comp)
    assert(reps.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 7L, 5L, 6L))
    // schema unchanged — the helper column never leaks
    assert(reps.schema.fieldNames.toSeq === Seq("doc_id", "text"))
  }
}
