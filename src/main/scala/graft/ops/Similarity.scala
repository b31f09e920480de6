package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, sign-LSH bucketing and
  * an IVF-style coarse index as the scale paths (north-star surface,
  * SURVEY.md §7.1).
  *
  * All vector math is `functions` higher-order ops (zip_with/aggregate)
  * over double-cast elements — codegen'd, deterministic, and bit-identical
  * to a sequential dot product, which keeps the DuckDB oracle exact.
  */
object Similarity {

  /** Cosine similarity of two float/double array columns, accumulated in
    * double in element order. Backed by the fused codegen kernel
    * (graft.functions.VectorKernelExpr) — the three-fold HOF formulation
    * runs interpreted with a materialized zip array per pair, and this is
    * the scoring/verify hot loop of every ANN path; values are
    * bit-identical (asserted in SimilaritySpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.SketchExpressions.cosineSimilarity(
      transform(a, x => x.cast("double")), transform(b, x => x.cast("double")))

  def dotProduct(a: Column, b: Column): Column =
    graft.functions.SketchExpressions.dotProduct(
      transform(a, _.cast("double")), transform(b, _.cast("double")))

  /** The interpreted HOF twin of [[cosine]], kept as the bit-identity
    * reference for SimilaritySpec. */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Exact brute-force cosine top-k: broadcast the (small) query set
    * against the corpus, score every pair, keep k per query.
    *
    * Scale shape: the corpus scan is embarrassingly parallel; the only
    * shuffle is the per-query ranking. The window ranking here shuffles
    * |corpus|×|queries| score rows on query_id; [[bruteForceTopKPartial]]
    * is the same contract with the shuffle bounded to
    * k×partitions×queries rows via per-partition heaps.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Exact top-k with a BOUNDED ranking shuffle: each partition keeps only
    * its k best (cosine, neighbor) per query in a bounded heap, so the
    * exchange carries ≤ k×partitions rows per query instead of the full
    * |corpus|×|queries| score relation — the shape that survives a 100×
    * corpus. Same results as [[bruteForceTopK]] (asserted in
    * SimilaritySpec); ties resolve identically via the (cosine desc,
    * neighbor_id asc) order. */
  def bruteForceTopKPartial(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        cosine(col("qv"), col("cv")).as("cos"))
      .toDF("query_id", "neighbor_id", "cos")
    boundedTopK(scored, k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Bounded-shuffle per-query top-k over a (query_id, neighbor_id, cos)
    * score relation: each partition keeps only its k best per query in a
    * bounded heap, so the ranking exchange carries ≤ k×partitions rows
    * per query instead of the full score relation — the shared kernel
    * behind [[bruteForceTopKPartial]] and the PQ candidate cut. Ties
    * resolve (cos desc, neighbor_id asc), identical to the window-only
    * formulation. Returns (query_id, neighbor_id, cos, rnk), rnk ≤ k. */
  private[graft] def boundedTopK(scored: DataFrame, k: Int): DataFrame = {
    // per-partition bounded heaps: worst (lowest cosine, then HIGHEST
    // neighbor id) on top so the kept set matches the global order's
    // tie-break exactly
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val candidates = scored.mapPartitions { rows =>
      val heapOrd = Ordering.by[(Long, Long, Double), (Double, Long)] {
        case (_, nId, cos) => (-cos, nId)
      } // max-heap head = worst kept entry
      val heaps = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
      rows.foreach { r =>
        val entry = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val h = heaps.getOrElseUpdate(entry._1,
          scala.collection.mutable.PriorityQueue.empty[(Long, Long, Double)](heapOrd))
        if (h.size < k) h.enqueue(entry)
        else if (heapOrd.lt(entry, h.head)) { h.dequeue(); h.enqueue(entry) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
        .map { case (qId, nId, cos) => org.apache.spark.sql.Row(qId, nId, cos) }
    }(enc)
    // global merge over ≤ k×partitions rows per query
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Deterministic pseudo-random hyperplane weight for global plane index
    * `p`, dimension index `i`, in [-1, 1): seeded from xxhash64 so every
    * executor materializes identical planes with zero driver state. */
  private def planeWeight(p: Column, i: Column): Column =
    pmod(xxhash64(p, i), lit(2000)).cast("double") / 1000.0 - 1.0

  /** Sign-LSH signature for hash table `table` (a column, so one explode
    * can fan a row out over L independent tables): plane indices are
    * offset by table·planes, giving every table its own hyperplane set.
    * Multi-table LSH is the standard recall amplifier — candidate recall
    * is 1-(1-p^planes)^tables instead of p^planes. */
  def signBitsTable(v: Column, planes: Int, table: Column): Column = {
    val vd = transform(v, x => x.cast("double"))
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vd, transform(vd, (_, i) => planeWeight(table * planes + p, i)),
          (x, w) => x * w), lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table LSH approximate top-k: score only corpus vectors sharing
    * a sign signature with the query in at least one of `tables`
    * independent hyperplane tables. Candidates dedup id-only (a neighbor
    * found in several tables scores once), then vectors re-join for the
    * exact cosine — the bucket join and the pair dedup never carry vector
    * payloads. Bucket join is an equi-join on (table, signature) — a
    * uniform hash shuffle at any scale; recall vs bruteForceTopK is
    * asserted in SimilaritySpec at floor 0.85 with THESE defaults
    * (measured r8 grid: 0.90 at the 500-vector fixture, 0.88 at the
    * 2000-vector fixture — RecallProbe in the test sourceset reproduces
    * the grid).
    *
    * Parameter posture: recall ≈ 1-(1-p^planes)^tables, candidate mass
    * ≈ n·tables/2^planes per query pre-dedup. planes=3 was rejected
    * (ADVICE r7): mass ≈ 2n means the "approximate" path scores MORE
    * pairs than brute force — recall 1.0 bought by a near-exhaustive
    * scan. planes=4/tables=16 is the smallest grid point holding ≥0.85
    * on both fixtures at mass ≈ 1n. `planes` should grow ~log2(n) to
    * hold the candidate fraction constant as the corpus grows; `tables`
    * buys recall back linearly in cost. A 100 TB corpus wants
    * planes≈16–20, tables 8–32. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, planes: Int = 4, tables: Int = 16): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
    def sigs(df: DataFrame, idAlias: String, vec: String) = df
      .select(col(idAlias), posexplode(
        graft.functions.SketchExpressions.allSignBits(
          transform(col(vec), x => x.cast("double")), planes, tables)))
      .select(col("pos").as("t"), col("col").as("sig"), col(idAlias))
    val candidates = sigs(c, "neighbor_id", "cv")
      .join(broadcast(sigs(q, "query_id", "qv")), Seq("t", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates(Seq("query_id", "neighbor_id"))
    val scored = candidates
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** IVF-style coarse quantizer: pick every `stride`-th corpus vector as a
    * centroid (deterministic), assign corpus vectors to their nearest
    * centroid, probe `nprobe` centroids per query. The inverted lists are
    * the partition layout at scale: repartition by centroid id and each
    * probe touches nprobe/|centroids| of the data. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, stride: Long = 50, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
    val centroids =
      c.filter(pmod(col("neighbor_id"), lit(stride)) === 0)
        .select(col("neighbor_id").as("centroid_id"), col("cv").as("centv"))
    ivfTopKWithCentroids(corpus, queries, corpusId, corpusVec,
      queryId, queryVec, centroids, k, nprobe)
  }

  /** [[ivfTopK]] with the centroid count FIXED instead of the stride:
    * stride = n/cells, so the index keeps ~`cells` inverted lists as the
    * corpus grows and recall@nprobe stays comparable across scales
    * (a fixed stride means cells ∝ n — at 4× the corpus the same nprobe
    * probes 1/4 the fraction and recall collapses; measured r8 grid:
    * cells=10 nprobe=8 holds 0.96 at BOTH the 500- and 2000-vector
    * fixtures, asserted in SimilaritySpec at floor 0.85). The one
    * `count()` here is index-BUILD cost (like the k-means trainer), not
    * per-query cost. stride stays Long end to end — an Int stride would
    * silently overflow above ~cells·2^31 corpus rows (ADVICE r7). */
  def ivfTopKCells(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, cells: Int = 10, nprobe: Int = 8): DataFrame = {
    val stride = math.max(1L, corpus.count() / cells)
    ivfTopK(corpus, queries, corpusId, corpusVec, queryId, queryVec,
      k, stride, nprobe)
  }

  /** ALL centroids collapsed to ONE broadcastable row of parallel arrays
    * (cent_ids, cent_vecs), ordered by centroid_id so the argbest
    * kernel's lowest-index tie-break equals the (score, centroid_id asc)
    * window tie-break it replaces. A centroid relation is model-sized
    * (k ≤ ~√n rows) — collapsing it is one tiny single-partition
    * aggregate, never a data-sized job. */
  private def centroidArrays(centroidRel: DataFrame): DataFrame =
    centroidRel
      .agg(array_sort(collect_list(struct(
        col("centroid_id").as("cid"),
        transform(col("centv"), _.cast("double")).as("cd")))).as("cents"))
      .select(transform(col("cents"), _.getField("cid")).as("cent_ids"),
        transform(col("cents"), _.getField("cd")).as("cent_vecs"))

  /** NARROW nearest-centroid assignment: appends `centroid_id` to every
    * corpus row by folding over the broadcast centroid arrays with the
    * codegen argbest kernel — O(k·d) arithmetic per row, zero shuffles,
    * zero windows (asserted in PlanSpec). The window-argmin formulation
    * this replaces materialized a |corpus|×k relation and shuffled it on
    * a unique key just to take the per-row best — invisible at test k,
    * thousands× the corpus at a production IVF cell count (VERDICT r3).
    * Assignment (incl. ties) is identical to that formulation. */
  private[graft] def assignToCentroids(
      corpus: DataFrame, vecColName: String,
      centroidRel: DataFrame, byCosine: Boolean): DataFrame =
    corpus.crossJoin(broadcast(centroidArrays(centroidRel)))
      .withColumn("__nearest", graft.functions.SketchExpressions.nearestIndex(
        transform(col(vecColName), _.cast("double")), col("cent_vecs"), byCosine))
      .withColumn("centroid_id",
        when(col("__nearest") >= 0, element_at(col("cent_ids"), col("__nearest") + 1)))
      .drop("cent_ids", "cent_vecs", "__nearest")

  /** Multi-probe sibling of [[assignToCentroids]]: each corpus row comes
    * back `min(probes, k)` times, once per its top-`probes` cells by
    * cosine — the standard dial for recovering cell-BOUNDARY neighbors
    * that single-assignment blocking misses. Same narrow shape: the
    * top-p kernel folds over the broadcast centroid arrays (zero
    * shuffle, no corpus×k relation, no window); the only growth is the
    * deliberate ×probes row replication the caller is buying. With
    * probes = 1 the assignment (incl. ties) is exactly
    * assignToCentroids' (SimilaritySpec contract). */
  private[graft] def assignToCentroidsMulti(
      corpus: DataFrame, vecColName: String,
      centroidRel: DataFrame, probes: Int): DataFrame =
    corpus.crossJoin(broadcast(centroidArrays(centroidRel)))
      .withColumn("__probe_idx", explode(
        graft.functions.SketchExpressions.topCosineIndices(
          transform(col(vecColName), _.cast("double")), col("cent_vecs"), probes)))
      .withColumn("centroid_id", element_at(col("cent_ids"), col("__probe_idx") + 1))
      .drop("cent_ids", "cent_vecs", "__probe_idx")

  /** IVF probe against an EXPLICIT centroid relation
    * (centroid_id, centv) — e.g. one trained by [[kmeansCentroids]].
    * Same inverted-list shape as [[ivfTopK]]; better-placed centroids
    * raise recall at the same nprobe. */
  def ivfTopKWithCentroids(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      centroidRel: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
    val centroids = broadcast(
      centroidRel.select(col("centroid_id"), col("centv")))
    // Assign each corpus vector to its nearest centroid (argmax cosine)
    // — narrow kernel fold, no corpus×k relation, no shuffle.
    val assigned = assignToCentroids(c, "cv", centroidRel, byCosine = true)
      .select(col("centroid_id"), col("neighbor_id"), col("cv"))
    // Each query probes its nprobe nearest centroids.
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("centroid_id"))
    val probes = broadcast(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .crossJoin(centroids)
        .withColumn("qcos", cosine(col("qv"), col("centv")))
        .withColumn("prnk", row_number().over(probeW))
        .filter(col("prnk") <= nprobe)
        .select(col("query_id"), col("qv"), col("centroid_id")))
    val scored = assigned.join(probes, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Lloyd's k-means over the embedding corpus, entirely in DataFrame
    * ops: assignment is the NARROW argbest-kernel fold over the broadcast
    * centroid arrays (zero shuffle over the corpus — the only exchange is
    * the elementwise-mean groupBy over (cluster, dim), k·d keys), and the
    * new centroids are reassembled from sorted (dim, mean) structs. A
    * FIXED iteration count with deterministic lowest-id initialization
    * keeps the result reproducible run-to-run — at scale this is the
    * centroid trainer for the IVF index, and the centroid relation stays
    * k rows (model-sized) end to end, never collected to the driver.
    *
    * A cluster that loses all members drops out (standard Lloyd
    * degeneracy); callers get ≤ k centroids. */
  // ---- product quantization (PQ): compressed-domain ANN scoring -----
  //
  // The IVF paths above cut WHICH vectors a query scores; PQ cuts what
  // each score COSTS. The d-dim vector is split into m contiguous
  // subvectors; each subspace trains its own ksub-codeword codebook
  // (Lloyd's, jointly for all subspaces — one corpus pass per
  // iteration, not m); a corpus vector is then m small codes
  // (m·log2(ksub) bits — 10 bytes at the shipped m=16/ksub=32 vs 256
  // bytes of float32, ~26× compression; ksub=256 gives byte codes),
  // and a query scores a candidate with m table lookups
  // (asymmetric distance: dot(q,x) ≈ Σ_j qtab[j][code_j], with
  // qtab[j][c] = dot(q_j, codeword_{j,c}) built once per query in
  // O(ksub·d)) instead of d multiplies. ‖x̂‖ is lookupable the same way
  // from per-codeword norms, so approximate COSINE needs no vector
  // payload at all — the scoring scan carries (id, codes) only, the
  // shape that keeps a 100 TB corpus's hot set in memory. A final
  // exact re-rank of the top `rerank` ADC candidates re-joins true
  // vectors (rerank×|queries| rows — bounded), so the output scores
  // are true cosines and recall loss is only ADC ordering error past
  // position `rerank`. Composes with IVF (train/encode a probed
  // subset) exactly as FAISS's IVF-PQ does; kept orthogonal here.

  /** Train PQ codebooks over `corpus`: `m` subspaces × ≤`ksub` codewords
    * of d/m dims each, d divisible by m. Joint Lloyd's: every iteration
    * is ONE pass over the exploded (subspace, subvector) relation — the
    * assignment is the narrow argbest kernel against the broadcast
    * per-subspace codebooks, the update one (subspace, code, dim)
    * groupBy of k·d keys — so training cost does not scale with m.
    * Deterministic lowest-id initialization like [[kmeansCentroids]];
    * an emptied codeword drops out (standard Lloyd degeneracy), and
    * `code` values are POSITIONS in the code-ascending collapse (the
    * contract [[pqEncode]] and the ADC lookups share). The one `head()`
    * (dimension probe) is index-BUILD cost, like the IVF trainers'
    * count. Returns (subspace, code, codev: array<double>).
    *
    * CONTRACT (ADVICE r21): `idCol` must be unique and non-null — the
    * invariant every vector-corpus id in this library already carries
    * (and the same assumption [[kmeansSeedCentroidsMicros]]' seed rank
    * and the served-index fingerprints make). The r21 seed init (top-ksub
    * ids broadcast-joined back) maps duplicate ids to duplicate seed
    * codes and drops null ids from the equi-join, where the pre-r21
    * corpus window would have ranked them — both inputs are malformed
    * corpora, but the failure shape differs. */
  def pqCodebooks(
      corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 4): DataFrame =
    pqCodebooksKnownD(corpus, vecCol, idCol, m, ksub, iters,
      corpus.select(size(col(vecCol))).head().getInt(0))

  /** [[pqCodebooks]] with the vector dimension already known — the
    * internal build path (r21): every one-row `head()` probe is a full
    * Spark job, and the fused build+serve compositions ([[pqTopK]],
    * [[ivfPqTopK]]) were paying 4-5 of them per call for shape facts
    * they already hold. The self-describing probes stay on the PUBLIC
    * serving entry points, where the index arrives from storage. */
  private def pqCodebooksKnownD(
      corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int, d: Int): DataFrame = {
    require(d % m == 0, s"dimension $d not divisible by $m subspaces")
    val sub = d / m
    val ex = corpus
      .select(col(idCol).as("vid"),
        transform(col(vecCol), _.cast("double")).as("vd"))
      .select(col("vid"), explode(array((0 until m).map(j =>
        struct(lit(j).as("subspace"),
          slice(col("vd"), j * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("e.subspace").as("subspace"), col("vid"), col("e.sv").as("sv"))
    // Seed init via a model-sized top-ksub join, not a corpus window
    // (r21): every vid appears in ALL m subspaces, so the per-subspace
    // ksub lowest-vid rows are exactly the globally lowest ksub vids —
    // the old row_number window sorted the whole exploded (subspace,
    // subvector) relation across only m partitions to pick them. The
    // kmeansSeedCentroidsMicros pattern instead: TakeOrdered the ksub
    // smallest ids (model-sized), rank them in a ksub-row window, and
    // broadcast-join back. Identical seed set, identical code order.
    val seedW = Window.orderBy(col("vid"))
    val seeds = corpus.select(col(idCol).as("vid")).orderBy(col("vid"))
      .limit(ksub)
      .select(col("vid"), (row_number().over(seedW) - 1).as("code"))
    var books = ex.join(broadcast(seeds), Seq("vid"))
      .select(col("subspace"), col("code"), col("sv").as("codev"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      // m-row broadcast of the per-subspace codebook arrays; assignment
      // is positional (argbest index into the code-ascending collapse)
      val collapsed = broadcast(books
        .groupBy(col("subspace"))
        .agg(array_sort(collect_list(struct(col("code"), col("codev")))).as("s"))
        .select(col("subspace"), transform(col("s"), _.getField("codev")).as("cb")))
      books = ex.join(collapsed, Seq("subspace"))
        .withColumn("code", graft.functions.SketchExpressions.nearestIndex(
          col("sv"), col("cb"), byCosine = false))
        .select(col("subspace"), col("code"), posexplode(col("sv")))
        .groupBy(col("subspace"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mu"))
        .groupBy(col("subspace"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("s"))
        .select(col("subspace"), col("code"),
          transform(col("s"), _.getField("mu")).as("codev"))
        .localCheckpoint(eager = false)
    }
    books
  }

  /** All PQ codebooks collapsed to ONE broadcastable row:
    * `cvs[j][c]` = codeword c of subspace j (both code-ascending, so
    * positions match the training assignment), `cnormsq[j][c]` = its
    * squared norm (the ‖x̂‖ lookup table). Model-sized: m·ksub·(d/m)
    * doubles. */
  private def pqOneRow(books: DataFrame): DataFrame =
    books.groupBy(col("subspace"))
      .agg(array_sort(collect_list(struct(col("code"), col("codev")))).as("s"))
      .select(col("subspace"), transform(col("s"), _.getField("codev")).as("cb"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("cb")))).as("t"))
      .select(transform(col("t"), _.getField("cb")).as("cvs"))
      .withColumn("cnormsq", transform(col("cvs"), cb => transform(cb, cw =>
        aggregate(cw, lit(0.0), (a, x) => a + x * x))))

  /** Append `codes` (m argbest positions — the PQ encoding) and
    * `xnormsq` (Σ_j ‖codeword‖² — the reconstructed squared norm) to a
    * relation already cross-joined with the [[pqOneRow]] broadcast.
    * Narrow: m kernel folds per row, zero shuffle. */
  private def withPqCodes(df: DataFrame, vdCol: String,
      m: Int, sub: Int): DataFrame =
    df.withColumn("codes", array((0 until m).map(j =>
        graft.functions.SketchExpressions.nearestIndex(
          slice(col(vdCol), j * sub + 1, sub), element_at(col("cvs"), j + 1),
          byCosine = false)): _*))
      .withColumn("xnormsq", (0 until m).map(j =>
        element_at(element_at(col("cnormsq"), j + 1),
          element_at(col("codes"), j + 1) + 1)).reduce(_ + _))

  /** PQ-encode `corpus` against trained `codebooks`: (id, codes) with
    * codes[j] = the subspace-j codeword position. The compressed
    * representation an ANN serving layer stores instead of vectors. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int): DataFrame =
    pqEncodeKnown(corpus, idCol, vecCol, codebooks, m,
      codebooks.select(size(col("codev"))).head().getInt(0))

  /** [[pqEncode]] with the subspace width already known (the
    * pqCodebooksKnownD rationale). */
  private def pqEncodeKnown(corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, m: Int, sub: Int): DataFrame =
    withPqCodes(
      corpus.select(col(idCol),
          transform(col(vecCol), _.cast("double")).as("__vd"))
        .crossJoin(broadcast(pqOneRow(codebooks))),
      "__vd", m, sub)
      .select(col(idCol), col("codes"))

  /** PQ approximate top-k: train codebooks, encode the corpus, score
    * every candidate in the compressed domain (m table lookups per
    * pair — the scan carries ids and codes only, never vectors), cut to
    * the top `rerank` per query through the bounded-heap merge, then
    * re-rank those exactly (true cosine over re-joined vectors), so the
    * output schema and score semantics match [[bruteForceTopK]] and
    * recall is floor-asserted in SimilaritySpec + emitted per round in
    * the bench JSON. Defaults pinned from the r10 RecallProbe grid on
    * the 64-dim fixtures: m=16 subspaces of 4 dims, ksub=32, iters=2,
    * rerank=100 → recall 1.000 on BOTH fixtures (sf0.001 and sf0.01);
    * more Lloyd iterations bought nothing (1.000/0.980 at iters=4) at
    * twice the training cost, so 2 is the default.
    * The near-uniform fixture embeddings are PQ's WORST case (no
    * cluster structure for the codebooks to exploit, so ADC ordering
    * noise is maximal and `rerank` does the recall work); a real
    * embedding corpus clusters and holds the same recall at smaller
    * rerank. `rerank` cost is O(rerank·d) per query — independent of
    * corpus size, the knob stays cheap at 100 TB. A production corpus
    * wants ksub=256 (byte codes, 16 B per vector here vs 256 B float32). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, m: Int = 16, ksub: Int = 32, iters: Int = 2,
      rerank: Int = 100): DataFrame = {
    // ONE dimension probe for the whole build+serve composition (r21):
    // the codebook trainer, the encoder and the serving scan all derive
    // their shape from (m, d) — probing each stage independently cost
    // 4 extra one-row jobs per call
    val d = corpus.select(size(col(corpusVec))).head().getInt(0)
    val books = pqCodebooksKnownD(corpus, corpusVec, corpusId,
      m, ksub, iters, d)
    val encoded = pqEncodeKnown(corpus, corpusId, corpusVec, books, m, d / m)
    pqTopKEncodedKnown(encoded, books, corpus, queries,
      corpusId, corpusId, corpusVec, queryId, queryVec, k, rerank, m, d / m)
  }

  /** The SERVING phase of PQ top-k, against a PRE-BUILT index: score an
    * already-encoded corpus (`encoded` = [[pqEncode]] output, typically
    * read back from a persisted table) with `codebooks` trained earlier,
    * re-ranking the top `rerank` exactly from `corpus` vectors. This is
    * the build-once/query-many split a 100 TB deployment runs: training
    * and encoding are one-time index builds (persist `codebooks` and
    * `encoded` via TableStore — both are plain relations), and the hot
    * path scans ONLY (id, codes) — the reconstructed-norm lookup is m
    * `element_at`s against the broadcast codebooks, so nothing
    * vector-sized moves until the bounded rerank join. Produces rows
    * IDENTICAL to [[pqTopK]] with the same index (asserted through a
    * parquet + catalog round-trip in SimilaritySpec): ADC scores depend
    * only on (codes, codebooks), both of which persist losslessly.
    * `m` and the subspace width are derived from `codebooks` — the
    * index is self-describing, callers cannot mis-state its shape. */
  def pqTopKEncoded(
      encoded: DataFrame, codebooks: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      encId: String,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, rerank: Int = 100): DataFrame = {
    val m = codebooks.select(max(col("subspace"))).head().getInt(0) + 1
    val sub = codebooks.select(size(col("codev"))).head().getInt(0)
    requireCodesMatch(encoded, m)
    pqTopKEncodedKnown(encoded, codebooks, corpus, queries, encId,
      corpusId, corpusVec, queryId, queryVec, k, rerank, m, sub)
  }

  /** [[pqTopKEncoded]] with the index shape already known and
    * guaranteed consistent (the internally-built [[pqTopK]] path —
    * the pqCodebooksKnownD rationale; the mismatch guard only protects
    * externally-supplied indexes). */
  private def pqTopKEncodedKnown(
      encoded: DataFrame, codebooks: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      encId: String,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, rerank: Int, m: Int, sub: Int): DataFrame = {
    val one = broadcast(pqOneRow(codebooks))
    // reconstructed squared norm from the codes alone — the serving scan
    // never needs a vector payload
    val enc = encoded
      .select(col(encId).cast("long").as("neighbor_id"), col("codes"))
      .crossJoin(one)
      .withColumn("xnormsq", pqXnormsq(m))
      .select(col("neighbor_id"), col("codes"), col("xnormsq"))
    val qrel = queries.select(col(queryId).cast("long").as("query_id"),
      col(queryVec).as("qv"))
    val qtabs = pqQueryAdcTables(qrel, one, m, sub)
    val scored = enc.crossJoin(broadcast(qtabs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcCos(m).as("cos"))
    pqExactRerank(boundedTopK(scored, rerank), corpus, qrel,
      corpusId, corpusVec, k)
  }

  /** Guard a serving call against a MISMATCHED index/codebook pair: a
    * codes array whose length differs from the codebooks' subspace
    * count would otherwise score as nulls coerced to cosine 0.0 —
    * silently garbage results instead of an error. One-row probe
    * (plan-time index metadata, not a corpus scan). */
  private def requireCodesMatch(encoded: DataFrame, m: Int): Unit =
    encoded.select(size(col("codes"))).limit(1).collect().foreach { r =>
      if (r.getInt(0) != m) throw new IllegalArgumentException(
        s"index/codebook mismatch: encoded relation carries ${r.getInt(0)} " +
          s"codes per vector but the codebooks define $m subspaces — " +
          "this index was built against different codebooks")
    }

  /** Per-query ADC lookup tables, built once on the (small, broadcast)
    * query side: `qtabs[j][c]` = dot(q_j, codeword_{j,c}) — O(ksub·d)
    * per query — plus the true query norm. */
  private def pqQueryAdcTables(qrel: DataFrame, one: DataFrame,
      m: Int, sub: Int): DataFrame =
    qrel.crossJoin(one)
      .withColumn("qd", transform(col("qv"), _.cast("double")))
      .withColumn("qtabs", array((0 until m).map(j =>
        transform(element_at(col("cvs"), j + 1), cw =>
          aggregate(zip_with(slice(col("qd"), j * sub + 1, sub), cw,
            (x, y) => x * y), lit(0.0), (a, v) => a + v))): _*))
      .withColumn("qnorm",
        sqrt(aggregate(col("qd"), lit(0.0), (a, x) => a + x * x)))
      .select(col("query_id"), col("qtabs"), col("qnorm"))

  /** Reconstructed squared norm Σ_j ‖codeword_{j,code_j}‖² from the
    * `codes` and `cnormsq` columns — m lookups, no vector payload. */
  private def pqXnormsq(m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(col("cnormsq"), j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)

  /** Approximate cosine from the ADC lookup sum over (`qtabs`, `codes`)
    * and the (`qnorm`, `xnormsq`) norms. */
  private def pqAdcCos(m: Int): Column = {
    val adc = (0 until m).map(j =>
      element_at(element_at(col("qtabs"), j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    when(col("qnorm") > 0 && col("xnormsq") > 0,
      adc / (col("qnorm") * sqrt(col("xnormsq")))).otherwise(lit(0.0))
  }

  /** Exact re-rank of ADC candidates: re-join true vectors for the
    * bounded (query_id, neighbor_id) candidate set, emit true-cosine
    * top-k in the [[bruteForceTopK]] output shape. */
  private def pqExactRerank(candidates: DataFrame, corpus: DataFrame,
      qrel: DataFrame, corpusId: String, corpusVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).cast("long").as("neighbor_id"),
      col(corpusVec).as("cv"))
    val exact = candidates.select(col("query_id"), col("neighbor_id"))
      .join(c, Seq("neighbor_id"))
      .join(broadcast(qrel), Seq("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** IVF-PQ: the production ANN composition — the coarse quantizer cuts
    * WHICH vectors a query scores (only the `nprobe`/`cells` fraction of
    * the corpus in the probed inverted lists) and PQ cuts what each
    * survivor COSTS (m table lookups over 10-byte codes, no vector
    * payload). This is the only path here whose per-query work is
    * sublinear in corpus size AND vector-free until the re-rank: at
    * 100 TB the scan reads (centroid_id, id, codes) for probed cells
    * only — partition the encoded table by centroid_id and the probe
    * join prunes to nprobe partitions per query. Codes encode RAW
    * vectors against one shared codebook (IVF-Flat-style; FAISS's
    * residual encoding would need the codebook trained on x − centroid
    * — a accuracy/complexity trade this corpus doesn't need, since the
    * exact re-rank already recovers ADC ordering error). Recall floor
    * asserted in SimilaritySpec; emitted per round in the bench JSON
    * (defaults from the r10 grid: cells=10, nprobe=8, iters=2,
    * rerank=100 → recall 1.000 at BOTH fixtures). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, cells: Int = 10, nprobe: Int = 8,
      m: Int = 16, ksub: Int = 32, iters: Int = 2,
      rerank: Int = 100): DataFrame = {
    val cents = kmeansCentroids(corpus, corpusVec, corpusId, cells, iters)
    // one dimension probe for the whole composition (the pqTopK r21
    // rationale) — trainer, encoder and index build share (m, d)
    val d = corpus.select(size(col(corpusVec))).head().getInt(0)
    val books = pqCodebooksKnownD(corpus, corpusVec, corpusId,
      m, ksub, iters, d)
    val sub = d / m
    val one = broadcast(pqOneRow(books))
    val assigned = ivfPqIndexKnown(corpus, corpusId, corpusVec, cents,
      books, m, sub)
    val qrel = queries.select(col(queryId).cast("long").as("query_id"),
      col(queryVec).as("qv"))
    val probes = ivfPqProbes(qrel, cents, nprobe)
    val qtabs = broadcast(pqQueryAdcTables(qrel, one, m, sub))
    val scored = assigned
      .select(col("centroid_id"),
        col(corpusId).cast("long").as("neighbor_id"), col("codes"))
      .join(probes, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .crossJoin(one).withColumn("xnormsq", pqXnormsq(m))
      .join(qtabs, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcCos(m).as("cos"))
    pqExactRerank(boundedTopK(scored, rerank), corpus, qrel,
      corpusId, corpusVec, k)
  }

  /** Build the persistable IVF-PQ index relation: every corpus vector
    * gets its inverted-list cell (narrow argbest fold against the
    * broadcast centroids) and its PQ codes (narrow kernel folds) in ONE
    * corpus pass — (centroid_id, `<corpusId>`, codes). Persist this
    * PARTITIONED BY centroid_id (plus `centroids` and `codebooks`, both
    * model-sized) and [[ivfPqTopKEncoded]] serves from it with
    * planning-time partition pruning. */
  def ivfPqIndex(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: DataFrame, codebooks: DataFrame): DataFrame =
    ivfPqIndexKnown(corpus, corpusId, corpusVec, centroids, codebooks,
      codebooks.select(max(col("subspace"))).head().getInt(0) + 1,
      codebooks.select(size(col("codev"))).head().getInt(0))

  /** [[ivfPqIndex]] with the codebook shape already known (the
    * pqCodebooksKnownD rationale). */
  private def ivfPqIndexKnown(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: DataFrame, codebooks: DataFrame,
      m: Int, sub: Int): DataFrame = {
    val c = corpus.select(col(corpusId), col(corpusVec).as("__cv"))
    withPqCodes(
        assignToCentroids(c, "__cv", centroids, byCosine = true)
          .withColumn("__vd", transform(col("__cv"), _.cast("double")))
          .crossJoin(broadcast(pqOneRow(codebooks))), "__vd", m, sub)
      .select(col("centroid_id"), col(corpusId), col("codes"))
  }

  /** Per-query probe list: each query's `nprobe` nearest cells (same
    * probe shape as [[ivfTopKWithCentroids]]) — (query_id, centroid_id),
    * broadcast-sized (nprobe rows per query). */
  private def ivfPqProbes(qrel: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val cents = broadcast(centroids.select(col("centroid_id"), col("centv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("centroid_id"))
    broadcast(
      qrel.crossJoin(cents)
        .withColumn("qcos", cosine(col("qv"), col("centv")))
        .withColumn("prnk", row_number().over(probeW))
        .filter(col("prnk") <= nprobe)
        .select(col("query_id"), col("centroid_id")))
  }

  /** The SERVING phase of IVF-PQ against a PRE-BUILT index:
    * `assigned` = [[ivfPqIndex]] output (typically a table PARTITIONED
    * BY centroid_id), `centroids`/`codebooks` the model-sized relations
    * it was built with. The probed cell set is first collected as
    * bounded metadata — ≤ min(cells, nprobe·|queries|) ids, a few
    * hundred longs at any corpus scale — and applied to the index scan
    * as a LITERAL predicate, because a literal lands in the scan's
    * PartitionFilters at PLANNING time (asserted in PlanSpec) where the
    * broadcast-join pruning of the fused path resolves only at runtime:
    * the file index then lists and reads ONLY the probed cells'
    * directories. Same bounded-metadata discipline as the streaming
    * upsert sink's touched-bucket merge (EventPipeline). Rows are
    * IDENTICAL to [[ivfPqTopK]] with the same index (deterministic
    * training + lossless persistence; asserted in SimilaritySpec). */
  def ivfPqTopKEncoded(
      assigned: DataFrame, codebooks: DataFrame, centroids: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      encId: String, corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int, nprobe: Int = 8, rerank: Int = 100): DataFrame = {
    val m = codebooks.select(max(col("subspace"))).head().getInt(0) + 1
    val sub = codebooks.select(size(col("codev"))).head().getInt(0)
    requireCodesMatch(assigned, m)
    val one = broadcast(pqOneRow(codebooks))
    val qrel = queries.select(col(queryId).cast("long").as("query_id"),
      col(queryVec).as("qv"))
    val probes = ivfPqProbes(qrel, centroids, nprobe)
    // bounded-metadata collect (probed cell ids), then a literal filter
    // the planner can push into PartitionFilters
    val cellIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.get(0)).toSeq
    val pruned =
      if (cellIds.isEmpty) assigned.filter(lit(false))
      else assigned.filter(col("centroid_id").isin(cellIds: _*))
    val qtabs = broadcast(pqQueryAdcTables(qrel, one, m, sub))
    val scored = pruned
      .select(col("centroid_id"),
        col(encId).cast("long").as("neighbor_id"), col("codes"))
      .join(probes, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .crossJoin(one).withColumn("xnormsq", pqXnormsq(m))
      .join(qtabs, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcCos(m).as("cos"))
    pqExactRerank(boundedTopK(scored, rerank), corpus, qrel,
      corpusId, corpusVec, k)
  }

  // ---- persisted IVF-PQ index lifecycle: seed / upsert / serve ------
  //
  // The deployment shape a serving corpus actually runs: the index
  // relation (centroid_id, id, codes) lives as a catalog table
  // PARTITIONED BY centroid_id beside two model-sized tables
  // (`<t>__centroids`, `<t>__codebooks`) trained ONCE at seed time.
  // New corpus batches fold in by encoding against the FROZEN model and
  // rewriting only the touched cell partitions — the same
  // touched-partition discipline as the streaming upsert sink
  // (EventPipeline), applied to the ANN index so 100 TB of standing
  // index never rewrites for a GB of new vectors. Retraining is a
  // deliberate, separate event (re-seed): folding a batch in must never
  // silently shift every existing vector's cell assignment.

  /** The model tables seeded beside `indexTable` — one naming rule, so
    * seed/upsert/serve can never disagree about where the frozen model
    * lives. */
  private def indexModelNames(indexTable: String): (String, String) =
    (indexTable + "__centroids", indexTable + "__codebooks")

  /** Train the IVF-PQ model on `corpus` and publish the three index
    * relations: `indexTable` (PARTITIONED BY centroid_id — the big one,
    * (id, codes) only), `<indexTable>__centroids` and
    * `<indexTable>__codebooks` (model-sized). The model tables are
    * written FIRST and the index encodes against their read-back, so
    * what the index was encoded with is exactly what serving will read
    * — not a separately re-evaluated training plan. */
  def ivfPqSeedIndex(
      spark: org.apache.spark.sql.SparkSession, indexTable: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      cells: Int = 10, m: Int = 16, ksub: Int = 32, iters: Int = 2): Unit = {
    val (centsT, booksT) = indexModelNames(indexTable)
    graft.core.TableStore.overwriteTable(spark, centsT,
      kmeansCentroids(corpus, vecCol, idCol, cells, iters))
    graft.core.TableStore.overwriteTable(spark, booksT,
      pqCodebooks(corpus, vecCol, idCol, m, ksub, iters))
    graft.core.Bucketing.writePartitioned(
      ivfPqIndex(corpus, idCol, vecCol,
        spark.table(centsT), spark.table(booksT)),
      indexTable, "centroid_id")
  }

  /** Fold a batch of new or re-embedded vectors into a seeded index,
    * rewriting ONLY the touched cell partitions. The batch is encoded
    * against the index's frozen model; the merge is latest-wins per id.
    *
    * A RE-EMBEDDED id may move cells (its cell is a function of the
    * VALUE, not the id), so its stale row can sit in a partition the
    * batch's own cells never touch. The default path finds those rows
    * with an id probe over the index — a column-pruned scan of
    * (id, centroid_id) only, never codes; the stale rows' cells join
    * the touched set and the merge drops them. `assumeNewIds = true`
    * skips that probe for the append-only common case (ingesting
    * genuinely new documents); calling it with an EXISTING re-embedded
    * id leaves the stale row serving beside the new one — that is the
    * contract violation the default guards against, so assume only
    * what the pipeline actually guarantees. Returns the touched cell
    * ids (bounded by `cells`). */
  def ivfPqUpsertIndex(
      spark: org.apache.spark.sql.SparkSession, indexTable: String,
      newVectors: DataFrame, idCol: String, vecCol: String,
      assumeNewIds: Boolean = false): Seq[Long] = {
    val (centsT, booksT) = indexModelNames(indexTable)
    require(spark.table(indexTable).columns.contains(idCol),
      s"$indexTable carries no `$idCol` column — the upsert id column " +
        "must match the one the index was seeded with")
    val delta = ivfPqIndex(newVectors, idCol, vecCol,
        spark.table(centsT), spark.table(booksT))
      .localCheckpoint(eager = true) // also: insertInto must not read its target
    val deltaIds = delta.select(col(idCol)).distinct()
    // bounded METADATA collects (≤ cells longs each), same discipline as
    // the sink's touched-bucket list — never rows. Explicit long cast:
    // the trainer emits centroid_id as int, the partitioned table's
    // directory inference may widen it — the collect must not care
    val deltaCells = delta.select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val movedCells =
      if (assumeNewIds) Array.empty[Long]
      else spark.table(indexTable)
        .join(broadcast(deltaIds), Seq(idCol))
        .select(col("centroid_id").cast("long")).distinct()
        .collect().map(_.getLong(0))
    val touched = (deltaCells ++ movedCells).distinct.sorted.toIndexedSeq
    if (touched.isEmpty) return Nil
    val current = spark.table(indexTable)
      .filter(col("centroid_id").isin(touched: _*))
    val merged = current.join(broadcast(deltaIds), Seq(idCol), "left_anti")
      .unionByName(delta)
      // positional insertInto: the catalog keeps partition columns LAST
      .select(spark.table(indexTable).columns.map(col).toIndexedSeq: _*)
      .localCheckpoint(eager = true)
    graft.core.Bucketing.overwritePartitions(merged, indexTable)
    touched
  }

  /** Serve top-k from a seeded (and possibly upserted) index — reads
    * the three index relations and runs [[ivfPqTopKEncoded]]'s
    * planning-time-pruned scan. `corpus` supplies raw vectors for the
    * exact re-rank only. */
  def ivfPqServeIndexed(
      spark: org.apache.spark.sql.SparkSession, indexTable: String,
      corpus: DataFrame, queries: DataFrame,
      idCol: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 8, rerank: Int = 100): DataFrame = {
    val (centsT, booksT) = indexModelNames(indexTable)
    ivfPqTopKEncoded(
      spark.table(indexTable), spark.table(booksT), spark.table(centsT),
      corpus, queries,
      idCol, idCol, corpusVec, queryId, queryVec, k, nprobe, rerank)
  }

  /** Per-cell occupancy of a seeded index — the RETRAIN signal. The
    * frozen-model upsert discipline degrades as the corpus drifts from
    * the seed distribution: new vectors crowd into few cells, the
    * probed fraction of the corpus grows, and serving cost creeps back
    * toward a flat scan. One row: cell count, total rows, min/max/avg
    * cell size, and `balance` = max/avg — re-seed when balance grows
    * past the tolerance the serving latency budget allows. Scans the
    * partition column only (codes are never read). */
  def ivfPqIndexStats(
      spark: org.apache.spark.sql.SparkSession, indexTable: String): DataFrame =
    spark.table(indexTable)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("cells"), sum(col("n")).as("rows"),
        min(col("n")).as("min_cell"), max(col("n")).as("max_cell"),
        avg(col("n")).as("avg_cell"))
      .withColumn("balance", col("max_cell") / col("avg_cell"))

  def kmeansCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val initW = Window.orderBy(col("vid"))
    var centroids = c.orderBy(col("vid")).limit(k)
      .select((row_number().over(initW) - 1).as("centroid_id"),
        col("v").as("centv"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(c, "v", centroids, byCosine = false)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("s"))
        .select(col("centroid_id"),
          transform(col("s"), x => x.getField("m")).as("centv"))
        .localCheckpoint(eager = false)
    }
    centroids
  }

  /** Lloyd's k-means with the q136 integer-micros discipline, emitting
    * ORACLE-EXACT per-cluster telemetry — the trainer twin that lets the
    * clustering itself carry a full DuckDB hash oracle (q147), where
    * [[kmeansCentroids]] (double averages, argbest array kernel) is
    * verified only through the downstream IVF contracts (q65b).
    *
    * Exactness architecture: components quantize once to micro longs
    * (one identical IEEE multiply+round per value in both engines);
    * every distance is an exact INTEGER Σ(xm−cm)² over dims; each
    * recomputed centroid coordinate is round(Σxm/n) — exact integer sum,
    * one division; the assignment argmin breaks ties (dist, cid)
    * ascending, a total order both engines replay. A cluster left empty
    * by an assignment round simply drops out of the next centroid
    * relation — mirrored in the oracle, and the honest telemetry (a
    * production run re-seeds it). Per-iteration state pins through
    * localCheckpoint so iteration i+1 reads materialized blocks, not a
    * re-derivation of the whole lineage.
    *
    * Overflow headroom: unit-scale micro components ≤ ~1e6 → per-vector
    * distance ≤ 64·(2e6)² ≈ 2.6e14; inertia sums the PER-VECTOR
    * milli-scaled quotient (dist div 1000 ≤ 2.6e11, exact floor division
    * in both engines), so the per-cluster total stays exact past 1e7
    * members — re-scale the quotient before training a corpus beyond
    * that.
    *
    * Scale shape: seeds are the k lowest-id vectors (the
    * [[kmeansCentroids]] convention — deterministic, no RNG); each
    * iteration is one join of the exploded corpus against the k×dims
    * centroid relation (AQE broadcasts it — model-sized, the Quantiles
    * no-hint rule) followed by a (vid, cid) partial-agg and a per-vid
    * argmin window partitioned by vid. The n×k distance intermediate is
    * the canonical k-means cost; the production serving path
    * ([[assignToCentroids]]) fuses it into a broadcast argbest kernel,
    * which this twin deliberately trades for oracle-replayable algebra.
    *
    * Returns per surviving cluster, assignments measured against the
    * LAST recomputed centroids' predecessors (the assignment that formed
    * them): cid, n_members, inertia_k (Σ dist div 1000), cnorm2
    * (Σ cm² of the final centroids). */
  /** Exploded integer-micros components of `corpus`: (vid, d, xm) with
    * xm = round(component · 1e6) — the shared quantization of the
    * oracle-exact k-means family (one identical IEEE multiply+round per
    * value in any engine that replays it). */
  private def microComponents(corpus: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    corpus
      .select(col(idCol).as("vid"),
        posexplode(col(vecCol)).as(Seq("d", "xv")))
      .select(col("vid"), col("d"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xm"))

  /** Micro-space seed centroid relation (cid, d, cm): the k lowest-id
    * vectors, cid = seed rank — the deterministic no-RNG init shared by
    * [[kmeansCentroids]] and the q147 oracle. The k-row window after
    * limit(k) is model-sized, never a corpus sort. */
  def kmeansSeedCentroidsMicros(corpus: DataFrame, vecCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val initW = Window.orderBy(col("vid"))
    val seeds = corpus.select(col(idCol).as("vid")).orderBy(col("vid"))
      .limit(k)
      .select(col("vid"), (row_number().over(initW) - 1).cast("int").as("cid"))
    microComponents(corpus, vecCol, idCol).join(seeds, "vid")
      .select(col("cid"), col("d"), col("xm").as("cm"))
  }

  /** Nearest-centroid assignment in exact integer space: (vid, cid,
    * dist) with dist = Σ_d (xm − cm)² and the (dist, cid)-ascending
    * argmin tie-break — one join of the exploded corpus against the
    * k×dims centroid relation (AQE broadcasts it), a (vid, cid)
    * partial-agg, and a per-vid argmin window. */
  private def assignMicros(x: DataFrame, cents: DataFrame): DataFrame = {
    val dist = x.join(cents, Seq("d"))
      .groupBy(col("vid"), col("cid"))
      .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm")))
        .as("dist"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("dist"), col("cid"))
    dist
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vid"), col("cid"), col("dist"))
  }

  /** The micros trainer's SHARED loop — quantize, seed, then `iters`
    * assign/recompute rounds — returning (last assignment, final
    * centroids). ONE implementation on purpose: kmeansTelemetryMicros
    * (q147) and kmeansAssignmentsMicros (q107c) both carry full DuckDB
    * hash oracles that replay this exact arithmetic, so a divergent
    * copy would silently desynchronize one of them from its oracle. */
  private def kmeansLoopMicros(corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1, s"k and iters must be >= 1: $k, $iters")
    val x = microComponents(corpus, vecCol, idCol)
      .localCheckpoint(eager = false)
    var cents = kmeansSeedCentroidsMicros(corpus, vecCol, idCol, k)
      .localCheckpoint(eager = false)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assignMicros(x, cents).localCheckpoint(eager = false)
      cents = x.join(assigned.select(col("vid"), col("cid")), Seq("vid"))
        .groupBy(col("cid"), col("d"))
        .agg(round(sum(col("xm")).cast("double") / count(lit(1)))
          .cast("long").as("cm"))
        .localCheckpoint(eager = false)
    }
    (assigned, cents)
  }

  def kmeansTelemetryMicros(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int): DataFrame = {
    val (assigned, cents) =
      kmeansLoopMicros(corpus, vecCol, idCol, k, iters)
    val norms = cents.groupBy(col("cid"))
      .agg(sum(col("cm") * col("cm")).as("cnorm2"))
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(expr("dist div 1000")).as("inertia_k"))
      .join(norms, Seq("cid"))
      .select(col("cid"), col("n_members"), col("inertia_k"), col("cnorm2"))
  }

  /** ONE Lloyd assignment pass against a FROZEN centroid relation,
    * reduced to the mergeable sufficient statistics of the mean update:
    * per (cid, d), the member count and the exact integer component
    * sum. This is the map side of the decomposed k-means step — and the
    * decomposition LAW that makes it incremental: assignment depends
    * only on the frozen centroids, so each vector's contribution is
    * independent and the sums decompose over any partition of the
    * corpus. [[mergeKmeansStats]] over batches is EXACTLY equal (not
    * approximately) to a scratch pass over their union — the q147b
    * contract — which is what lets a standing corpus fold new arrivals
    * in O(batch) (the mini-batch/web-scale k-means posture, Sculley
    * WWW'10, made exact by freezing the centroids per round). */
  def kmeansAssignStatsMicros(corpus: DataFrame, vecCol: String,
      idCol: String, centroidRel: DataFrame): DataFrame = {
    val x = microComponents(corpus, vecCol, idCol)
      .localCheckpoint(eager = false)
    x.join(assignMicros(x, centroidRel).select(col("vid"), col("cid")),
        Seq("vid"))
      .groupBy(col("cid"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("xm")).as("sxm"))
  }

  /** Fold two assign-stats relations: exact integer addition per
    * (cid, d). Associative and commutative — batch order never
    * matters. */
  def mergeKmeansStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("n")).as("n"), sum(col("sxm")).as("sxm"))

  /** The reduce side of the decomposed Lloyd step: stats → next
    * centroid relation, cm = round(Σxm / n) — the identical mean update
    * [[kmeansTelemetryMicros]] applies monolithically, so one
    * map+merge+reduce round over batches equals one in-memory
    * iteration. */
  def kmeansCentroidsFromStats(stats: DataFrame): DataFrame =
    stats.select(col("cid"), col("d"),
      round(col("sxm").cast("double") / col("n")).cast("long").as("cm"))

  /** Centroids from a PERSISTED index table, trained at most once per
    * corpus: the build/serve split for the blocking family (the k-means
    * twin of the PQ codebook tables). The published table carries the
    * corpus fingerprint — (row count, order-independent id checksum) —
    * on every row; a serve call recomputes the fingerprint with one
    * narrow id-column scan and retrains ONLY when it drifts, so a bench
    * pass or a standing serving deployment pays Lloyd iterations once,
    * not per query. At 100 TB the fingerprint check is the poor man's
    * transaction-log version pin: a lakehouse deployment would key the
    * index to the source table's commit version instead of rescanning
    * ids, but the contract is the same — serve from the published
    * index, rebuild on corpus change, never train in the query path. */
  /** Cell count for a blocked (Σ|cell|²-shaped) pair pass: target ~250
    * members per cell, floor 8. A FIXED cell count makes blocked pair
    * work quadratic in corpus size (each cell grows ∝ n, so Σ|cell|² ∝
    * n²/cells — measured 3.6 s → 71 s at 10× on the kNN-graph row);
    * deriving cells from n holds per-vector work constant (same probe:
    * 8.7 s at 10× with cells ∝ n). At the driver fixtures (n ≤ 2000)
    * this stays exactly the historical k = 8, so fixture behavior,
    * recall telemetry and the served-index fingerprints are unchanged;
    * the fingerprint includes k, so a corpus that grows across a cell-
    * count boundary retrains automatically on next serve. */
  def cellCountFor(n: Long, targetPerCell: Long = 250L): Int =
    math.max(8L, n / targetPerCell).toInt

  def servedCentroids(
      spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, iters: Int,
      table: String): DataFrame = {
    // bit_xor: order-independent and overflow-free under ANSI mode
    // (a sum of 64-bit hashes overflows); xor of per-id hashes is the
    // standard multiset fingerprint for append-only id sets. coalesce:
    // bit_xor over zero rows is null — an empty corpus must fingerprint
    // to a defined value (and then fail kmeans with its own clear
    // require), not NPE on getLong.
    val fp = corpus.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col(idCol))), lit(0L)).as("ck")).head()
    val (n, ck) = (fp.getLong(0), fp.getLong(1))
    require(n > 0L,
      s"servedCentroids($table): corpus is empty — nothing to index")
    // The training hyper-parameters are part of the identity of the
    // published index: the same corpus served under a different (k,
    // iters) is a DIFFERENT index, and matching on corpus fingerprint
    // alone would silently serve the stale geometry. headOption: an
    // existing-but-empty table is "not fresh" (rebuild), not a
    // NoSuchElementException.
    val fpCols = Seq("__corpus_n", "__corpus_ck", "__index_k", "__index_iters")
    val fresh = spark.catalog.tableExists(table) && {
      val t = spark.table(table)
      // A published table missing the fingerprint columns (older index
      // layout) is simply stale — rebuild, don't throw on the select.
      fpCols.forall(t.columns.contains) &&
        t.select(fpCols.map(col): _*)
          .limit(1).collect().headOption.exists { h =>
            h.getLong(0) == n && h.getLong(1) == ck &&
              h.getInt(2) == k && h.getInt(3) == iters
          }
    }
    if (!fresh) {
      val trained = kmeansCentroids(corpus, vecCol, idCol, k, iters)
        .withColumn("__corpus_n", lit(n))
        .withColumn("__corpus_ck", lit(ck))
        .withColumn("__index_k", lit(k))
        .withColumn("__index_iters", lit(iters))
      graft.core.TableStore.overwriteTable(spark, table, trained)
    }
    spark.table(table).select(col("centroid_id"), col("centv"))
  }

  /** Cluster-balanced diversity sampling: at most `perCell` documents
    * from each k-means cell, chosen deterministically by hashed-id order
    * — the subset-selection primitive of data-mixing/curriculum
    * pipelines (equal per-cell quotas flatten the corpus's cluster
    * imbalance, so a 100× over-represented mode contributes the same
    * sample mass as a rare one). Hash order, not id order: ids encode
    * crawl/source locality, and sampling the lowest ids per cell would
    * re-import exactly the bias the cell quota removes. Deterministic —
    * same corpus, same centroids, same sample — so a rerun reproduces
    * the training set bit for bit.
    *
    * Scale shape: assignment is the narrow broadcast-fold kernel; the
    * quota is a per-cell ranking, parallel in the number of CELLS — at
    * production cell counts (√n-ish, thousands+) that is ample
    * parallelism, and the per-cell scan is |cell|, not |corpus|. At a
    * handful of cells the ranking inherits the low-cardinality
    * single-reducer trap the salted pair join documents — there the
    * per-cell work is selection-cheap (no pair explosion), so quota
    * ranking stays linear in the largest cell either way. */
  /** Blocked k-nearest-neighbor GRAPH: every corpus vector's top-k
    * cosine neighbors, with pair work scoped to shared k-means cells —
    * the all-to-all sibling of [[ivfTopKWithCentroids]] (whose
    * broadcast-the-probes shape assumes a small query set; here BOTH
    * sides are the corpus, so the probe relation rides a shuffle
    * equi-join on centroid_id instead). The kNN graph is the backbone
    * primitive of graph-based dedup clustering, label propagation, and
    * kNN-classifier curation passes.
    *
    * Cost: each vector is indexed into its `replicas` nearest cells
    * (cluster closure — replication recovers the cell-BOUNDARY edges
    * that dominate kNN misses) and probes its `probes` nearest cells
    * as a query, so the pair work is ≈ probes·replicas·Σ|cell|², the
    * blocked semantic-dedup budget times the replication dial. The
    * ranking exchange is bounded by the per-partition heaps
    * ([[boundedTopK]]): ≤ k×partitions rows per query, never the full
    * scored relation. Cell skew rides AQE's skew-join splitting, same
    * as the dedup pair join. Recall is cell-boundary-limited (floor
    * asserted in SimilaritySpec); the exact O(n²) twin is the oracle
    * anchor, never the scale path. */
  def knnGraphBlocked(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroidRel: DataFrame, k: Int, probes: Int,
      replicas: Int = 1, saltBuckets: Int = 16): DataFrame = {
    // normalize ONCE so the per-pair score is the raw dot-product
    // kernel — cosine() would cast-rebuild both 64-element arrays per
    // scored pair, O(pairs·d) allocation in the hottest loop (the
    // semanticDedupBlocked lesson)
    val base = corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("vd"))
      .withColumn("norm", sqrt(
        graft.functions.SketchExpressions.dotProduct(col("vd"), col("vd"))))
      .filter(col("norm") > 0)
      .withColumn("vn", transform(col("vd"), x => x / col("norm")))
      .select(col("id"), col("vn"))
    // cluster-closure replication: indexing each vector into its
    // `replicas` nearest cells (not just the argmax cell) recovers the
    // cell-BOUNDARY edges that dominate kNN-graph misses — an edge is
    // found iff probed(q) ∩ assigned(n) ≠ ∅, so replication multiplies
    // the intersection odds at ×replicas index size.
    // Salted cell join (the semanticDedupBlocked shape): the cell key
    // alone has |cells| distinct values, so each cell's quadratic pair
    // output would land on ONE reducer — and AQE coalesces further
    // because the join INPUTS are tiny while the output is Σ|cell|².
    // Sub-blocking queries by a hash of qid and replicating the index
    // side across the salt range turns each cell into saltBuckets
    // independent tasks; a pair still meets exactly once per shared
    // cell, in the (cell, salt(q)) partition.
    val assigned = assignToCentroidsMulti(
        base.select(col("id").as("nid"), col("vn")), "vn",
        centroidRel, replicas)
      .select(col("centroid_id"), col("nid"), col("vn").as("nv"))
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(saltBuckets.toLong - 1L))))
    val probed = assignToCentroidsMulti(
        base.select(col("id").as("qid"), col("vn")), "vn",
        centroidRel, probes)
      .select(col("centroid_id"), col("qid"), col("vn").as("qv"))
      .withColumn("__salt",
        pmod(xxhash64(col("qid")), lit(saltBuckets.toLong)))
    val scored = probed.join(assigned, Seq("centroid_id", "__salt"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        graft.functions.SketchExpressions.dotProduct(
          col("qv"), col("nv")).as("cos"))
    // with replicas > 1 a pair can meet in several shared cells; the
    // copies carry identical cosines, so a pair-keyed max collapses
    // them (one hash shuffle, linear in scored pairs) — without it the
    // duplicate rows would consume top-k slots and break rank density
    // (single-assignment needs no dedup: n lives in exactly one cell,
    // so a pair can match at most once however many cells q probes —
    // that path keeps the bounded-heap ranking, whose exchange is
    // ≤ k×partitions rows per query. With replicas > 1 the pair dedup
    // already shuffles the full (q, n, cos) relation — 24 bytes/row —
    // hash-partitioned by pair key; ranking it with Tungsten's window
    // sort costs one more narrow exchange instead of pushing every row
    // through the boxed per-partition heaps a second time.
    if (replicas <= 1)
      boundedTopK(scored, k)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("cos"), 6).as("cosine"))
    else {
      val deduped = scored.groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cos")).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      deduped.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("cos"), 6).as("cosine"))
    }
  }

  def diversitySample(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroidRel: DataFrame, perCell: Int): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val assigned = assignToCentroids(
      corpus.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v")),
      "v", centroidRel, byCosine = true)
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(xxhash64(col("id")), col("id"))
    assigned
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perCell)
      .select(col("centroid_id"), col("id"))
  }

  /** Final-round assignment of the ORACLE-EXACT micros trainer — the
    * (vid, cid) relation after `iters` assign/recompute rounds of
    * [[kmeansTelemetryMicros]]'s loop (same quantization, seeding,
    * integer distances and (dist, cid) tie-break), exposed so samplers
    * can consume the cell structure itself rather than its telemetry. */
  def kmeansAssignmentsMicros(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansLoopMicros(corpus, vecCol, idCol, k, iters)._1
      .select(col("vid"), col("cid"))

  /** Cluster-balanced diversity sampling over the EXACT-integer cell
    * structure — the oracle-carrying twin of [[diversitySample]]. The
    * served path assigns by double cosine against `kmeansCentroids`'
    * double averages, whose cross-partition partial sums are not
    * bit-replayable in a second engine; this twin trains and assigns
    * in the q147 micros algebra (every step exact-integer or one
    * shared IEEE op) and orders each cell by the Knuth multiplicative
    * hash (the q55 replayable-hash discipline — xxhash64 keys the
    * production path, arithmetic keys the oracle), so DuckDB can
    * refit the model, re-derive every cell, and replay the takes row
    * for row. Quota semantics are identical: at most `perCell` ids
    * per cell, hash-ordered, id tie-break, deterministic. */
  def diversitySampleMicros(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, perCell: Int): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val assigned =
      kmeansAssignmentsMicros(corpus, vecCol, idCol, k, iters)
    val knuth = ((col("vid") % 2147483648L) * lit(2654435761L)) % 4294967296L
    val w = Window.partitionBy(col("cid")).orderBy(knuth, col("vid"))
    assigned
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perCell)
      .select(col("cid").as("centroid_id"), col("vid").as("id"))
  }
}
