package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive dedup clustering: near-duplicate PAIRS (Dedup.scala) only
  * say "a matches b"; picking one survivor per duplicate GROUP needs the
  * connected components of the match graph (a≈b, b≈c ⇒ {a,b,c} is one
  * cluster even when a and c never matched directly). This is the last
  * stage of every production dedup pipeline — the reference's README
  * claims dedup (README.md:17) without code; at 100 TB the component
  * structure is what decides which rows survive.
  *
  * Both stages are pure DataFrame programs: candidate edges come from a
  * shared-shingle equi-join (never a cross join), and components come
  * from the alternating large-star/small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014), which
  * converges in O(log²) rounds of hash shuffles on the EDGE list — the
  * only data that moves is (node, node) pairs, never document payloads.
  */
object DedupCluster {

  /** Candidate duplicate edges by shared-shingle blocking: documents
    * sharing at least `minShared` distinct k-gram shingles. One explode +
    * one equi-join on the shingle hash + one pair aggregate — linear
    * shuffles in corpus size, with the pair join keyed on a uniform
    * 64-bit hash.
    *
    * `maxDf` is the hot-key guard: a shingle occurring in more than
    * `maxDf` documents (boilerplate headers, licence blocks) contributes
    * O(df²) candidate pairs while carrying almost no dup signal, so its
    * postings are dropped before the self-join — the standard stop-
    * shingle trick that keeps the join linear at corpus scale.
    */
  def sharedShingleEdges(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      minShared: Int = 10,
      maxDf: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(TextAnalysis.shingleSet(col(textCol), shingleK)).as("s"))
    val keep = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDf)
      .select(col("s"))
    // the self-join references the postings twice, but both branches
    // canonicalize to the same exchange — Spark's ReusedExchange covers
    // the duplication (checkpointing here measured ~2x SLOWER: it breaks
    // that reuse and pays a materialization instead)
    val postings = sh.join(keep, Seq("s"))
    postings.select(col("s"), col("id").as("u"))
      .join(postings.select(col("s"), col("id").as("v")), Seq("s"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("u"), col("v"))
  }

  /** Winnowed candidate duplicate edges — the SCALE path of
    * [[sharedShingleEdges]]: instead of every k-gram shingle, only the
    * MOSS-winnowed fingerprints ([[TextAnalysis.winnowFingerprints]],
    * Schleimer et al. 2003) enter the postings self-join. Expected
    * selection density is ≈ 2/(w+1) of gram positions, so the pair
    * work — the duplicate-mass term that makes the exact edge builder
    * the probe ledger's one super-linear row — drops by ≈ (2/(w+1))²
    * while the winnowing guarantee (every shared span of ≥ w+k−1
    * tokens shares ≥ 1 selected fingerprint) keeps true near-dup
    * pairs reachable. `minShared` counts SELECTED co-fingerprints and
    * must be scaled by the same density (the q51c default 4 ≈
    * 10 · 2/(w+1) for the exact path's 10).
    *
    * The fingerprint hash space is the exact path's: gramHashSeq is
    * bit-identical to shingleSet's chained XXH64 fold, so each doc's
    * selected-hash set is a SUBSET of its shingle set and a winnowed
    * co-fingerprint IS a shared shingle — the sparse path can only
    * see pairs the dense path sees (up to the documented ~n²/2⁶⁴
    * collision caveat). w = 1 degenerates to selecting every gram,
    * i.e. edges ≡ sharedShingleEdges at equal minShared (DedupSpec
    * pins this). Same hot-key guard (`maxDf`, counted over selecting
    * docs) for the same reason. */
  def winnowedShingleEdges(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      w: Int = 4,
      minShared: Int = 4,
      maxDf: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(array_distinct(transform(
        TextAnalysis.winnowFingerprints(col(textCol), shingleK, w),
        fp => fp.getField("h")))).as("s"))
    val keep = fps.groupBy(col("s"))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDf)
      .select(col("s"))
    // same ReusedExchange-covered double reference as sharedShingleEdges
    val postings = fps.join(keep, Seq("s"))
    postings.select(col("s"), col("id").as("u"))
      .join(postings.select(col("s"), col("id").as("v")), Seq("s"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("u"), col("v"))
  }

  /** LINEAR-in-duplicate-mass candidate edges — the 100 TB clustering
    * path: MinHash-LSH banding (the q30 machinery) with per-bucket STAR
    * linking instead of per-bucket pair expansion. Every bucket of df
    * docs emits df − 1 edges (each member → the bucket minimum), not
    * df·(df−1)/2 pairs, so total edge work is Σ(df − 1) ≤ |postings| =
    * N × bands — strictly linear however the duplicate mass is
    * distributed. The components are EXACTLY the components of the full
    * LSH candidate-pair graph: u and v share a bucket ⇒ both link to
    * that bucket's minimum ⇒ connected through it, and every star edge
    * IS a candidate pair — so star linking changes the edge set, never
    * the clustering (q51f pins this equality through the oracle gate).
    *
    * Precision semantics differ from [[sharedShingleEdges]] by design:
    * membership is "shares ≥ 1 of `bands` signature bands" — the
    * banding threshold curve (P(candidate) = 1−(1−j^r)^b at Jaccard j)
    * — with NO exact shared-shingle verification, the posture of
    * production-scale fuzzy dedup (pair verification would rebuild the
    * quadratic pair relation this path exists to avoid). The verified
    * paths remain q51 (exact) and q51c (winnowed). */
  def lshClusterEdges(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val banded = df
      .select(col(idCol).as("id"),
        TextAnalysis.shingleSet(col(textCol), shingleK).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), explode(Dedup.bandHashes(
        Dedup.minhashSignature(col("shingles"), numHashes),
        bands, rowsPerBand)).as("band"))
    val mins = banded.groupBy(col("band")).agg(min(col("id")).as("u"))
    banded.join(mins, Seq("band"))
      .filter(col("id") =!= col("u"))
      .select(col("u"), col("id").as("v"))
      .distinct()
  }

  /** REPRESENTATIVE COLLAPSE — the graph-family scale move: keep one
    * document per duplicate cluster (the component ROOT, which
    * [[connectedComponents]] guarantees is the minimum member id and
    * therefore itself a member) plus every unclustered document, and
    * run graph analytics on the collapsed corpus. A duplicate cluster
    * of c near-identical docs contributes c·(c−1)/2 intra-cluster
    * edges and Θ(c³) clique-interior triangles — pure output mass with
    * zero telemetry signal (the cluster is already known) — while the
    * structure worth measuring (how clusters relate to each other and
    * to singletons) survives collapse intact. One broadcast-friendly
    * left-join + filter; no shuffle beyond the component labels it is
    * given. `components` is (node, root) as produced by
    * [[connectedComponents]] — typically over the LINEAR
    * [[lshClusterEdges]] star edges, so the whole collapse pipeline
    * stays linear in duplicate mass. */
  def representatives(corpus: DataFrame, idCol: String,
      components: DataFrame): DataFrame =
    corpus
      .join(components.select(col("node").as(idCol), col("root")),
        Seq(idCol), "left")
      .filter(col("root").isNull || col("root") === col(idCol))
      .drop("root")

  /** Large-star round: every node a links each HIGHER neighbor b to
    * m(a) = min(neighbors(a) ∪ {a}). Keeps the graph connected while
    * strictly pulling high nodes toward component minima.
    *
    * The symmetrized edge list is built with ONE explode over the input
    * instead of a self-union: identical rows, but the input subtree
    * appears once, not twice, in the logical plan. That matters because
    * the driver loop composes star rounds — every duplicated reference
    * MULTIPLIES across rounds (k composed rounds with per-round input
    * duplication d reference the leaf d^k times), and ANALYSIS of that
    * tree, not data movement, becomes the iteration cost. */
  private[ops] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("a"), col("mb")).as("m"))
    sym.join(mins, Seq("a"))
      .filter(col("b") > col("a"))
      .select(least(col("b"), col("m")).as("u"),
        greatest(col("b"), col("m")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: every node links its LOWER neighbors (and itself)
    * to the minimum of that set — flattens local chains into stars.
    *
    * Same plan-size discipline as [[largeStar]]: the (lo, m) ∪ (hi, m)
    * relink is one explode after the join instead of a union with a
    * second `mins` reference — (hi, m) is emitted once per (hi, lo) pair
    * instead of once, but the trailing distinct makes the SETS identical
    * while the input subtree appears half as often in the plan. */
  private[ops] def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("hi"),
      least(col("u"), col("v")).as("lo"))
    val mins = dir.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    val relinked = dir.join(mins, Seq("hi"))
      .select(explode(array(
        struct(col("lo").as("x"), col("m")),
        struct(col("hi").as("x"), col("m")))).as("p"))
      .select(col("p.x").as("x"), col("p.m").as("m"))
    relinked.filter(col("x") =!= col("m"))
      .select(least(col("x"), col("m")).as("u"),
        greatest(col("x"), col("m")).as("v"))
      .distinct()
  }

  /** Connected components of an undirected edge list (columns `u`, `v`).
    * Returns one (node, root) row per node that appears in any edge, with
    * `root` = the minimum node id of its component.
    *
    * Alternates large-star/small-star until the edge set reaches its
    * fixpoint (a forest of stars centered at component minima) — O(log²)
    * star rounds, each a constant number of hash shuffles over the edge
    * list. ONE large∘small pair per materialization, checkpointed so
    * `localCheckpoint` + the driver-side plan analysis it truncates stay
    * a constant per-pair cost (composing pairs squares leaf duplication
    * in the analyzed plan — the r3 finding), with the convergence test
    * riding each pair's materializing action (r22; the r21 two-pair
    * fusion checked only every second pair and so always ran one full
    * no-op pair past an odd-count fixpoint).
    *
    * Fixpoint detection is STRUCTURAL (r22): the fixpoints of the
    * alternating star rounds are exactly the star forests rooted at
    * component minima (Kiveris et al. §3 — largeStar only relinks
    * toward neighborhood minima, smallStar flattens what remains, and a
    * star forest is invariant under both: every member's sole neighbor
    * IS its component minimum, so `m(a) = root` on both sides and each
    * round re-emits the same (root, member) edges). A canonical edge
    * set (u < v, distinct) is a star forest iff no node appears both as
    * a parent `u` and a child `v` AND no child `v` appears in two or
    * more edges — with only the first condition, {(1,3),(2,3)} passes
    * while node 3 has two parents and the loop would stop with 1 and 2
    * split. One per-node aggregate (role bitmask plus child count) per
    * materialization tests both — the same single action that
    * materializes the lazy checkpoint. Versus the previous two-tier
    * (count, xor-hash) signature + `except` confirm, the structural
    * test needs no collision argument AND detects convergence one full
    * iteration earlier: set-equality can only see the fixpoint by
    * running one more (no-op) large∘small∘large∘small pass over it —
    * a third of the loop's jobs at sf0.1 — where the role test reads
    * the forest property off the converged relation itself.
    *
    * At 100 TB: swap `localCheckpoint` for reliable `checkpoint(dir)` —
    * the local variant stores blocks in executor memory/disk, so an
    * executor loss mid-iteration is unrecoverable (lineage was truncated);
    * reliable checkpointing pays one distributed write per round for
    * fault tolerance (see SCALING.md).
    */
  // maxIter = 30 is the same ≤30-hop component-diameter assumption as
  // q100's recursive-CTE walk (TextVectorQueries, `w.depth < 30`); both
  // fail loudly beyond it (require below, parity-false there) rather
  // than silently truncating — change the two bounds together. Star
  // contraction roughly halves diameter per round, so 30 rounds cover
  // diameters far beyond any near-dup cluster seen in practice.
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // Star-forest test on a canonical (u < v, distinct) edge set: no
    // node in both the parent (u) and child (v) role, and no child with
    // two parents. One exchange by node (partial aggregate per partition
    // first), then take(1) — and the action doubles as the checkpoint
    // materialization.
    def isStarForest(df: DataFrame): Boolean =
      df.select(explode(array(
          struct(col("u").as("n"), lit(1).as("r")),
          struct(col("v").as("n"), lit(2).as("r")))).as("p"))
        .groupBy(col("p.n"))
        .agg(expr("bit_or(p.r)").as("roles"),
          sum(when(col("p.r") === 2, 1).otherwise(0)).as("kids"))
        .filter(col("roles") === 3 || col("kids") >= 2)
        .isEmpty
    var e = edges
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(eager = false)
    var converged = isStarForest(e)
    var i = 0
    // One large∘small PAIR per check (r22): each pair is lazily
    // checkpointed so the analyzed plan stays constant-size (composing
    // pairs into one plan squares the leaf-duplication factor —
    // measured as seconds of driver-side analysis per iteration at
    // sf0.1), and the role-test rides the pair's materializing action.
    // Checking every pair (the r21 two-pair fusion checked every
    // second) costs one model-sized aggregate job per pair but skips
    // the ENTIRE second pair — ~7 of an iteration's 16 jobs — whenever
    // the forest forms at an odd pair count, which shallow near-dup
    // components (stars, short chains) reach after ONE pair. The pair
    // budget stays 2·maxIter, the same total work bound the fused loop
    // had.
    while (!converged && i < 2 * maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(eager = false)
      converged = isStarForest(e)
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in ${2 * maxIter} star pairs")
    // At the fixpoint every edge is (component-min, member): u IS the root.
    e.select(col("v").as("node"), col("u").as("root"))
      .union(e.select(col("u").as("node"), col("u").as("root")).distinct())
  }
}
