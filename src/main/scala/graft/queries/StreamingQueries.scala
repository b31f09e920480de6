package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{GraftQuery, Tables}
import graft.ops.Multimodal
import graft.streaming.EventPipeline

/** Structured Streaming + multimodal surfaces wired to the driver
  * contract. The streaming query runs the real incremental engine (file
  * stream → watermark → windowed state → memory sink) over the static
  * events table and must produce exactly the batch answer — which is why
  * it can carry a DuckDB oracle.
  */
object StreamingQueries {

  /** The q87-family summary: one oracle-facing aggregate over a
    * latest-per-user table, shared by all three sink modes so a change
    * to the oracle's columns cannot desynchronize one of them.
    * Snapshotted (localCheckpoint) so the caller can drop the scratch
    * table before returning the frame. */
  private def upsertSummary(
      s: org.apache.spark.sql.SparkSession,
      table: String): org.apache.spark.sql.DataFrame =
    s.table(table).agg(
        count(lit(1)).as("rows_in_table"),
        countDistinct(col("user_id")).as("distinct_users"),
        round(sum(col("value")), 2).as("sum_latest_value"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("latest_ts"))
      .localCheckpoint(eager = true)

  /** Tumbling-window aggregation executed BY THE STREAMING ENGINE,
    * oracle-checked against the batch semantics. */
  val q37StreamTumbling = GraftQuery(
    "q37_stream_tumbling", { (s, dir) =>
      val sink = s"stream_tumbling_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline
        .runToMemorySink(s, dir, sink, EventPipeline.tumblingCounts)
        .orderBy(col("day"), col("event_type"))
    },
    Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      event_type, count(*) AS n_events, round(sum(value),2) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  /** Trending top-k through the REAL streaming engine (oracle-checked):
    * the watermarked tumbling counts stream into the sink, then the
    * finishing batch ranks the top-3 event types per day — the
    * standard lambda-architecture-free trend detector (streaming
    * aggregation + a BOUNDED post-rank whose window partitions by day
    * over at most |event types| rows; the corpus never sorts). Oracle
    * replays counts + ranking with the same tie discipline. */
  val q132StreamTrending = GraftQuery(
    "q132_stream_trending", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sink = s"stream_trending_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val counts = EventPipeline
        .runToMemorySink(s, dir, sink, EventPipeline.tumblingCounts)
      val w = Window.partitionBy(col("day"))
        .orderBy(col("n_events").desc, col("event_type"))
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("day"), col("rnk"), col("event_type"), col("n_events"))
        .orderBy(col("day"), col("rnk"))
    },
    Some("""WITH c AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT day, rnk, event_type, n_events FROM (
        SELECT day, event_type, n_events,
          row_number() OVER (PARTITION BY day
            ORDER BY n_events DESC, event_type) AS rnk
        FROM c) t
      WHERE rnk <= 3 ORDER BY day, rnk"""))

  /** SLIDING-window aggregation executed BY THE STREAMING ENGINE (the
    * §2.9 window(ts, dur, slide) mapping), oracle-checked against the
    * same epoch-grid recomputation as its batch twin q85. */
  val q86StreamSliding = GraftQuery(
    "q86_stream_sliding", { (s, dir) =>
      val sink = s"stream_sliding_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline
        .runToMemorySink(s, dir, sink, EventPipeline.slidingCounts)
        .orderBy(col("win_start"), col("event_type"))
    },
    Some("""SELECT strftime(make_timestamp(
        ((CAST(floor(epoch(ts) / 21600) AS BIGINT) - i) * 21600) * 1000000),
        '%Y-%m-%d %H:%M') AS win_start,
      event_type, count(*) AS n_events, round(sum(value),2) AS total_value
      FROM events, (SELECT unnest([0,1,2,3]) AS i) shifts
      GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  /** Session windows from the streaming engine, oracle-checked:
    * session_window(ts, 30 min) per user is definitionally the 30-minute
    * gap sessionization, so the oracle recomputes it with lag() in
    * DuckDB (streaming-vs-batch parity is ALSO asserted per user in
    * StreamingSpec). */
  val q38StreamSessions = GraftQuery(
    "q38_stream_sessions", { (s, dir) =>
      val sink = s"stream_sessions_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline
        .runToMemorySink(s, dir, sink, EventPipeline.sessionCounts)
        .agg(count(lit(1)).as("sessions"),
          sum(col("n_events")).as("events_in_sessions"),
          countDistinct(col("user_id")).as("users"))
    },
    Some("""WITH marked AS (
        SELECT user_id,
          CASE WHEN lag(ts) OVER w IS NULL THEN 0
               -- strict > : session_window MERGES events exactly gap
               -- apart (verified empirically on Spark 4.1.2 — an event at
               -- last+gap lands in the same session), matching the batch
               -- sessionizer in q23
               WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1
               ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      per_user AS (
        SELECT user_id, sum(new_session) + 1 AS sessions, count(*) AS events
        FROM marked GROUP BY user_id)
      SELECT CAST(sum(sessions) AS BIGINT) AS sessions,
        CAST(sum(events) AS BIGINT) AS events_in_sessions,
        count(*) AS users
      FROM per_user"""))

  /** Multimodal plumbing: synthesize binary media from documents, decode
    * headers per partition, audit validity (rows-only; byte-level checks
    * in MultimodalSpec). */
  /** REAL pixel codec contract (oracle-checked against pinned
    * constants): three JDK-encoded JFIF images are fully
    * entropy-decoded to pixels (ImageIO), bilinear-resampled to half
    * size, re-encoded, and decoded AGAIN — the decode→transform→encode
    * round trip of a vision preprocess stage, all real bytes. The row
    * pins: every blob decodes (both passes), resized dimensions are
    * exactly halved, the resized blob parses as a real JPEG through
    * the INDEPENDENT T.81 marker walk, and per-channel means survive
    * the resample within a small tolerance (bilinear pooling preserves
    * the mean up to boundary phase). The oracle is the constant
    * expectation — any codec regression flips a count. */
  val q39bPixelCodecContract = GraftQuery(
    "q39b_pixel_codec_contract", { (s, dir) =>
      val jpeg = Multimodal.syntheticJpegMedia(s, n = 3)
      val px = Multimodal.decodePixels(s, jpeg)
        .select(col("media_id"), col("width").as("w1"),
          col("height").as("h1"), col("mean_r").as("r1"),
          col("mean_g").as("g1"), col("mean_b").as("b1"),
          col("valid").as("v1"))
      val res = Multimodal.resizeJpegHalf(s, jpeg)
      val hdr = Multimodal.decodeMeta(s, res)
        .select(col("media_id"), col("valid").as("jfif_ok"))
      val px2 = Multimodal.decodePixels(s, res)
        .select(col("media_id"), col("width").as("w2"),
          col("height").as("h2"), col("mean_r").as("r2"),
          col("mean_g").as("g2"), col("mean_b").as("b2"),
          col("valid").as("v2"))
      px.join(px2, Seq("media_id")).join(hdr, Seq("media_id"))
        .agg(count(lit(1)).as("images"),
          count(when(col("v1") && col("v2"), 1)).as("decoded_both"),
          count(when(col("w2") === col("w1") / 2 &&
            col("h2") === col("h1") / 2, 1)).as("halved_ok"),
          count(when(col("jfif_ok"), 1)).as("resized_parses_as_jpeg"),
          count(when(abs(col("r2") - col("r1")) <= 8 &&
            abs(col("g2") - col("g1")) <= 8 &&
            abs(col("b2") - col("b1")) <= 8, 1)).as("means_track"))
    },
    Some("""SELECT CAST(3 AS BIGINT) AS images,
      CAST(3 AS BIGINT) AS decoded_both, CAST(3 AS BIGINT) AS halved_ok,
      CAST(3 AS BIGINT) AS resized_parses_as_jpeg,
      CAST(3 AS BIGINT) AS means_track"""))

  val q39MultimodalDecode = GraftQuery(
    "q39_multimodal_decode", { (s, dir) =>
      val media = Multimodal.syntheticMediaFromDocs(Tables.load(s, dir, "documents"))
      // real-JPEG leg (r12): three ImageIO-encoded JFIF files decode
      // their TRUE SOF dimensions through the T.81 marker walk; the row
      // asserts decoded == declared across all of them (jpeg_dims_ok),
      // so a parser regression flips a visible column, not just a spec
      val jpeg = Multimodal.syntheticJpegMedia(s, n = 3)
      val jpegAgg = Multimodal.decodeMeta(s, jpeg)
        .join(jpeg.select(col("media_id"),
          col("meta.width").as("dw"), col("meta.height").as("dh")), Seq("media_id"))
        .agg(count(when(col("valid"), 1)).as("jpeg_valid"),
          count(when(col("width") === col("dw") &&
            col("height") === col("dh"), 1)).as("jpeg_dims_ok"),
          max(col("width")).as("jpeg_max_width"))
      Multimodal.decodeMeta(s, media)
        .agg(count(lit(1)).as("blobs"),
          count(when(col("valid"), 1)).as("valid_blobs"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("width")).as("max_width"))
        .crossJoin(Multimodal.sampleFrames(s, media, frameBytes = 16, stride = 4)
          .agg(count(lit(1)).as("sampled_frames")))
        .crossJoin(jpegAgg)
    },
    // Full DuckDB oracle (r12 — was rows-only): every output is
    // deterministic from the documents table plus the codec contracts.
    // The synthetic blobs carry a 12-byte header + UTF-8 text payload
    // (n_bytes = strlen + 12; strlen in DuckDB is BYTE length, matching
    // the JVM's encoded array), widths/heights are the declared
    // doc_id-modulo formulas, frame sampling yields ceil(bytes/64)
    // frames per blob, and the three ImageIO JPEG fixtures decode valid
    // with their encode-time dims (64/96/128 wide) — so the oracle
    // re-derives the whole summary row without ever seeing a blob,
    // which is exactly what makes the binary plumbing auditable.
    Some("""SELECT count(*) AS blobs,
        count(*) AS valid_blobs,
        CAST(sum(strlen(text) + 12) AS BIGINT) AS total_bytes,
        CAST(max(doc_id % 1920 + 1) AS INTEGER) AS max_width,
        CAST(sum(CASE WHEN strlen(text) > 0
          THEN (strlen(text) + 63) // 64 ELSE 0 END) AS BIGINT)
          AS sampled_frames,
        CAST(3 AS BIGINT) AS jpeg_valid,
        CAST(3 AS BIGINT) AS jpeg_dims_ok,
        CAST(128 AS INTEGER) AS jpeg_max_width
      FROM documents"""))

  /** Stream-static enrichment join executed by the streaming engine: the
    * event stream joins a STATIC per-user dimension (order counts) that
    * broadcasts to every micro-batch — the standard streaming enrichment
    * shape — then aggregates per event type. Oracle-checked against the
    * equivalent batch join. */
  val q44StreamStaticJoin = GraftQuery(
    "q44_stream_static_join", { (s, dir) =>
      val userOrders = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("user_orders"))
      val sink = s"stream_static_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline.runToMemorySink(s, dir, sink, ev =>
          ev.join(broadcast(userOrders), Seq("user_id"))
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("user_orders")).as("total_user_orders")))
        .orderBy(col("event_type"))
    },
    Some("""SELECT e.event_type, count(*) AS n_events,
      CAST(sum(u.user_orders) AS BIGINT) AS total_user_orders
      FROM events e JOIN (SELECT o_custkey AS user_id, count(*) AS user_orders
                          FROM orders GROUP BY o_custkey) u USING (user_id)
      GROUP BY e.event_type ORDER BY event_type"""))

  /** Watermark-bounded streaming dedup (ST4) through the real engine: the
    * event stream is replayed TWICE (duplicate injection) and
    * dropDuplicatesWithinWatermark must restore exactly the original —
    * oracle-checked against the batch distinct counts. */
  val q45StreamDedup = GraftQuery(
    "q45_stream_dedup", { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val doubled = EventPipeline.stageAsStreamDir(ev.union(ev))
      val sink = s"stream_dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline.runToMemorySink(s, doubled, sink,
          EventPipeline.dedupedStream,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .agg(count(lit(1)).as("events_after_dedup"),
          countDistinct(col("event_id")).as("distinct_ids"))
    },
    Some("""SELECT count(*) AS events_after_dedup,
      count(DISTINCT event_id) AS distinct_ids FROM events"""))

  /** Arbitrary stateful processing (ST5): flatMapGroupsWithState running
    * per-user totals; the final state per user must equal the batch
    * aggregate, summarized and oracle-checked. */
  val q46StreamState = GraftQuery(
    "q46_stream_state", { (s, dir) =>
      val sink = s"stream_state_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val updates = EventPipeline.runToMemorySink(s, dir, sink,
        df => EventPipeline.runningUserTotals(s, df),
        org.apache.spark.sql.streaming.OutputMode.Append())
      // one update per user per micro-batch: keep the final state
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("userId")).orderBy(col("events").desc)
      updates.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .agg(count(lit(1)).as("users"),
          sum(col("events")).as("total_events"),
          round(sum(col("totalValue")), 2).as("total_value"))
    },
    Some("""SELECT count(DISTINCT user_id) AS users,
      count(*) AS total_events,
      round(sum(value), 2) AS total_value FROM events"""))

  /** Stream-stream interval join executed by the streaming engine
    * (ST surface: the join-state shape Spark manages with two watermarked
    * buffers): clicks join purchases of the same user within 30 minutes.
    * The time-range condition is what lets the engine EVICT join state —
    * without it both buffers grow unboundedly at 100 TB/day; with it,
    * state is bounded by watermark + interval. Inner joins emit on
    * arrival, so the memory-sink result after processAllAvailable is the
    * complete answer and carries a plain batch oracle. */
  val q63StreamStreamJoin = GraftQuery(
    "q63_stream_stream_join", { (s, dir) =>
      val sink = s"stream_join_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline.runToMemorySink(s, dir, sink, ev => {
          val wm = ev.withWatermark("ts", "1 hour")
          val clicks = wm.filter(col("event_type") === "click")
            .select(col("user_id").as("u"), col("ts").as("click_ts"))
          val purchases = wm.filter(col("event_type") === "purchase")
            .select(col("user_id").as("u2"), col("ts").as("purchase_ts"))
          clicks.join(purchases,
            col("u") === col("u2") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        },
        org.apache.spark.sql.streaming.OutputMode.Append())
        .agg(
          count(lit(1)).as("pairs"),
          countDistinct(col("u")).as("users"),
          round(avg(unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))) / 1e6, 2)
            .as("avg_lag_sec"))
    },
    Some("""SELECT count(*) AS pairs, count(DISTINCT l.user_id) AS users,
      round(avg(epoch(r.ts) - epoch(l.ts)), 2) AS avg_lag_sec
      FROM events l JOIN events r ON l.user_id = r.user_id
        AND l.event_type = 'click' AND r.event_type = 'purchase'
        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE"""))

  /** Streaming MERGE/upsert sink through foreachBatch: the event stream
    * is consumed one staged file per micro-batch and upserted into a
    * catalog table keyed by user (latest event wins, total tie-break) —
    * the streaming-MERGE pattern a Delta sink gives transactionally,
    * emulated on parquet (README "Delta Lake stand-in"). The final table
    * state is independent of the micro-batch split, so the oracle is the
    * plain batch latest-per-user window; multiset table parity and the
    * multi-batch execution itself are asserted in StreamingSpec. */
  val q87StreamUpsertSink = GraftQuery(
    "q87_stream_upsert_sink", { (s, dir) =>
      val table = s"upsert_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline.runUpsertSink(s, Tables.load(s, dir, "events"), table, parts = 4)
      val summary = upsertSummary(s, table)
      s.sql(s"DROP TABLE IF EXISTS $table")
      summary
    },
    Some("""SELECT count(*) AS rows_in_table,
      count(DISTINCT user_id) AS distinct_users,
      round(sum(value),2) AS sum_latest_value,
      strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
      FROM (SELECT user_id, value, ts,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1"""))

  /** Partition-scoped twin of q87: same streaming upsert contract
    * (latest event per user, total tie-break, independent of the
    * micro-batch split) through the SCALE-PATH sink — the table is
    * hash-partitioned on the key and each micro-batch merges and
    * rewrites only the partitions it touches (dynamic partition
    * overwrite) instead of snapshotting the whole table. Identical
    * final state, so the oracle is q87's; the partition-scoping itself
    * (untouched partitions byte-identical across a batch) is asserted
    * in StreamingSpec. */
  val q87bStreamUpsertPartitioned = GraftQuery(
    "q87b_stream_upsert_partitioned", { (s, dir) =>
      val table = s"upsert_part_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      EventPipeline.runPartitionedUpsertSink(
        s, Tables.load(s, dir, "events"), table, buckets = 16, parts = 4)
      val summary = upsertSummary(s, table)
      s.sql(s"DROP TABLE IF EXISTS $table")
      summary
    },
    q87StreamUpsertSink.oracle)

  /** Versioned twin of q87: the same upsert contract through the
    * READER-ATOMIC publish — every micro-batch lands as an immutable
    * `__v{k}` snapshot and one catalog op repoints the head view, with
    * per-batch retention vacuum. Identical final state, so the oracle
    * is q87's; head-swap atomicity, snapshot isolation, retention
    * bounds, and cross-session recovery are asserted in
    * StreamingSpec/TableStoreSpec. */
  val q87cStreamUpsertVersioned = GraftQuery(
    "q87c_stream_upsert_versioned", { (s, dir) =>
      val table = s"upsert_vq_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val staged = EventPipeline.stageAsStreamDir(
        Tables.load(s, dir, "events"), parts = 4)
      EventPipeline.runUpsertSinkFromDir(s, staged, table, None, versioned = true)
      val summary = upsertSummary(s, table)
      s.sql(s"DROP VIEW IF EXISTS $table")
      graft.core.TableStore.listVersions(s, table)
        .foreach(v => s.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
      summary
    },
    q87StreamUpsertSink.oracle)

  /** Streaming twin of q93's decontamination screen: corpus documents
    * arrive as a file stream (replayed TWICE across four files so
    * micro-batch boundaries and cross-batch state both matter), each
    * batch explodes to 5-gram keys and left-semi probes the BROADCAST
    * static benchmark gram set, and `Dedup.ngramScreen`'s trailing
    * distinct becomes the engine's stateful streaming dedup — the
    * replayed duplicates must collapse across batches. Same final
    * accounting and same oracle as batch q93: the streaming engine must
    * reproduce the batch answer exactly. */
  val q98StreamDecontaminate = GraftQuery(
    "q98_stream_decontaminate", { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .withColumn("bucket", CurationQueries.hashBucket(col("doc_id"), 2654435761L))
      val corpus = d.filter(col("bucket") < 80)
        .select(col("doc_id"), col("source"), col("text"))
      val bench = d.filter(col("bucket") >= 90)
        .select(col("doc_id"), col("text"))
      val stagePath = java.nio.file.Files.createTempDirectory("graft_decon_stream")
      val stageDir = stagePath.toString
      corpus.union(corpus).repartition(4).write.mode("overwrite").parquet(stageDir)
      EventPipeline.registerTempCleanup(stagePath)
      // stream schema comes from the staged frame itself (streaming
      // sources must never infer) — it cannot drift from corpus's select
      val stream = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(stageDir)
      val flagged = graft.ops.Dedup.ngramScreen(stream, bench, "doc_id", "text", 5)
      val sink =
        s"stream_decon_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = flagged.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .format("memory").queryName(sink).start()
      try q.processAllAvailable()
      finally q.stop()
      val hits = s.table(sink).withColumn("hit", lit(1L))
      // snapshot before dropping the memory sink (as q87 does) so the
      // returned frame doesn't reference a dropped table and repeated
      // runs in one JVM don't accumulate catalog state
      val summary = corpus.select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(coalesce(col("hit"), lit(0L))).as("contaminated"))
        .orderBy(col("source"))
        .localCheckpoint(eager = true)
      s.catalog.dropTempView(sink)
      summary
    },
    CurationQueries.q93Decontaminate.oracle)

  /** Streaming semantic-dedup sink (rows-only; sequential-equivalence,
    * idempotence, and growth contracts are in StreamingSpec): the 4/5
    * seed corpus is blocked-deduplicated once and published as the
    * kept table; the 1/5 "crawl" then lands through
    * [[graft.streaming.CurationStream.runSemanticDedupSink]] in three
    * micro-batches, each vetted against the kept table AS OF the
    * previous batch via the persisted centroid index — the continuous
    * curation loop a standing corpus runs. Returns one row per incoming
    * id with its landed/rejected verdict plus a final-corpus summary
    * column, so the dump pins both the per-doc decisions and the table
    * growth. */
  val q101gStreamSemanticDedup = GraftQuery(
    "q101g_stream_semantic_dedup", { (s, dir) =>
      import graft.streaming.CurationStream
      val table = "default.semdedup_corpus"
      val (cents, inc) = SemanticBlocking.publishSeed(s,
        Tables.load(s, dir, "embeddings"), table)
      val stagedDir = CurationStream.stageEmbeddings(inc, parts = 3)
      CurationStream.runSemanticDedupSink(s, stagedDir, table, cents,
        threshold = SemanticBlocking.Threshold, probes = SemanticBlocking.Probes)
      val landed = s.table(table).select(col("vec_id").as("id"))
        .withColumn("landed", lit(true))
      inc.select(col("vec_id").as("id"))
        .join(landed, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("landed"), lit(false)).as("kept"))
        .crossJoin(s.table(table).agg(count(lit(1)).as("corpus_rows")))
        .orderBy(col("id"))
        .localCheckpoint(eager = true)
    })

  /** Fold-equality contract row for the streaming semantic-dedup sink
    * (oracle-checked, q101d pattern): the micro-batched sink's landed
    * corpus must be multiset-identical to a MANUAL sequential fold of
    * vetBatch over the same staged files in the same (mtime) order —
    * the equivalence StreamingSpec asserts, promoted into the driver's
    * hash gate so engine-level drift (a reordered micro-batch, a
    * dropped append, a vet that silently sees a stale table snapshot)
    * fails CORRECTNESS, not just a locally-run suite. Both runs start
    * from the same blocked-kept seed and the same served centroids;
    * violations carry which side over-landed. */
  val q101iStreamFoldContract = GraftQuery(
    "q101i_stream_fold_contract", { (s, dir) =>
      import graft.streaming.CurationStream
      import SemanticBlocking.{Probes, Threshold}
      val e = Tables.load(s, dir, "embeddings")
      val (seed, inc) = SemanticBlocking.seedAndCrawl(e)
      val cents = SemanticBlocking.servedCells(s, e).localCheckpoint(eager = true)
      val keptSeed = SemanticBlocking.keptSeed(seed, cents)
        .localCheckpoint(eager = true)
      val streamTbl = "default.semdedup_contract_stream"
      val foldTbl = "default.semdedup_contract_fold"
      try {
        val staged = CurationStream.stageEmbeddings(inc, parts = 3)
        s.sql(s"DROP TABLE IF EXISTS $streamTbl")
        graft.core.TableStore.overwriteTable(s, streamTbl, keptSeed)
        CurationStream.runSemanticDedupSink(s, staged, streamTbl, cents,
          threshold = Threshold, probes = Probes)
        s.sql(s"DROP TABLE IF EXISTS $foldTbl")
        graft.core.TableStore.overwriteTable(s, foldTbl, keptSeed)
        for (i <- 0 until 3) {
          val b = s.read.parquet(s"$staged/emb_$i.parquet")
          CurationStream.vetBatch(s, foldTbl, b, cents,
              threshold = Threshold, probes = Probes)
            .write.mode("append").insertInto(foldTbl)
        }
        TextVectorQueries.symmetricDiffViolations(
            s.table(streamTbl).select(col("vec_id").as("id")),
            s.table(foldTbl).select(col("vec_id").as("id")),
            "stream_only", "fold_only", Seq("id"))
          .orderBy(col("kind"), col("id"))
          .localCheckpoint(eager = true)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $streamTbl")
        s.sql(s"DROP TABLE IF EXISTS $foldTbl")
      }
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS id,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""))

  /** CDF-DRIVEN incremental dedup contract (oracle-checked, q101i
    * pattern; r20): the full "crawl updates flow to a clean corpus
    * without rescans" loop — three crawl commits land in a Delta
    * source table, [[graft.streaming.CdfStream.runIncrementalDedup]]
    * tails the table's own change feed one version per micro-batch,
    * vets each batch against the Delta-backed kept corpus through the
    * frozen centroid index, and appends survivors with the batch id as
    * the txn watermark. The query then EXERCISES the crash path
    * (deletes the last commit marker, re-runs — the replayed batch must
    * land nothing twice) and diffs the streamed corpus against a MANUAL
    * sequential fold of the identical vet over the same commits:
    * multiset-identical or the row hash-fails against the empty
    * relation. Engine-level drift — a double-applied replay, a skipped
    * commit, a vet reading a stale kept snapshot — fails CORRECTNESS,
    * not just a locally-run suite. */
  val q172CdfDedupContract = GraftQuery(
    "q172_cdf_dedup_contract", { (s, dir) =>
      import graft.streaming.CdfStream
      import SemanticBlocking.{Probes, Threshold}
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val (seed, crawl) = SemanticBlocking.seedAndCrawl(e)
      val cents = SemanticBlocking.servedCells(s, e).localCheckpoint(eager = true)
      val keptSeed = SemanticBlocking.keptSeed(seed, cents)
        .localCheckpoint(eager = true)
      val splits = (0 until 3).map(i =>
        crawl.filter(col("vec_id") % 3 === i).localCheckpoint(eager = true))
      val src = java.nio.file.Files
        .createTempDirectory("graft_q172_src").toString
      val keptS = java.nio.file.Files
        .createTempDirectory("graft_q172_stream").toString
      val keptF = java.nio.file.Files
        .createTempDirectory("graft_q172_fold").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q172_ckpt").toString
      try {
        val D = graft.core.DeltaExport
        // three crawl commits: v0 create + two appends (pure inserts —
        // the CDF reader synthesizes their feed without cdc actions)
        D.writeDeltaTable(s, splits(0), src)
        D.appendDeltaTable(s, splits(1), src)
        D.appendDeltaTable(s, splits(2), src)
        Seq(keptS, keptF).foreach { d =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
          D.writeDeltaTable(s, keptSeed, d)
        }
        val run1 = CdfStream.runIncrementalDedup(s, src, ckpt, keptS,
          "embedding", "vec_id", Threshold, cents, probes = Probes,
          maxVersionsPerBatch = 1)
        // crash path: lose the LAST commit marker, re-run — the replay
        // must not double-land its batch
        java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt,
          "commits", run1.last.batchId.toString))
        CdfStream.runIncrementalDedup(s, src, ckpt, keptS,
          "embedding", "vec_id", Threshold, cents, probes = Probes,
          maxVersionsPerBatch = 1)
        // the manual sequential fold of the IDENTICAL vet
        splits.zipWithIndex.foreach { case (b, i) =>
          val surv = CdfStream.vetArrivals(s, keptF, b, "embedding",
            "vec_id", Threshold, cents, probes = Probes)
          if (!surv.isEmpty) {
            D.appendDeltaTableIdempotent(s, surv, keptF, "fold", i.toLong)
            ()
          }
        }
        TextVectorQueries.symmetricDiffViolations(
            D.readDeltaTable(s, keptS).select(col("vec_id").as("id")),
            D.readDeltaTable(s, keptF).select(col("vec_id").as("id")),
            "stream_only", "fold_only", Seq("id"))
          .orderBy(col("kind"), col("id"))
          .localCheckpoint(eager = true)
      } finally Seq(src, keptS, keptF, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS id,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""))

  /** Streaming mergeable-statistics contract (oracle-checked, q101d
    * pattern): the token-count accumulator sink
    * ([[graft.streaming.CurationStream.runTokenCountSink]] — per-batch
    * additive merges through the real engine) must land a counts table
    * multiset-identical to one batch aggregation over the same files.
    * This is the property that makes count-derived telemetry (drift
    * KL q120, vocabulary growth, classifier refreshes q112c) safe to
    * maintain incrementally; violations carry which side over-counted. */
  val q120bStreamDriftContract = GraftQuery(
    "q120b_stream_drift_contract", { (s, dir) =>
      import graft.streaming.CurationStream
      val d = Tables.load(s, dir, "documents")
      val table = "default.token_counts_stream"
      s.sql(s"DROP TABLE IF EXISTS $table")
      val staged = CurationStream.stageEmbeddings(d, parts = 3)
      CurationStream.runTokenCountSink(s, staged, table)
      val streamed = s.table(table)
      val batch = d.select(col("source"),
          explode(graft.ops.TextAnalysis.tokens(lower(col("text"))))
            .as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      TextVectorQueries.symmetricDiffViolations(streamed, batch,
          "stream_only", "batch_only", Seq("source", "token", "c"))
        .orderBy(col("kind"), col("source"), col("token"))
        .localCheckpoint(eager = true)
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS source,
      CAST(NULL AS VARCHAR) AS token, CAST(NULL AS BIGINT) AS c,
      CAST(NULL AS VARCHAR) AS kind WHERE 1 = 0"""))

  /** Streaming quantile-sketch contract (oracle-checked, q101d
    * pattern): folding per-micro-batch bottom-k sketches through the
    * real engine ([[graft.streaming.CurationStream.runQuantileSketchSink]])
    * must land a table BIT-IDENTICAL to the batch sketch of the same
    * files — the order-statistics merge identity (q123b) driven
    * through actual micro-batches. Because the merge dedups on
    * (g, id), this sink is replay-idempotent (StreamingSpec pins the
    * no-op), a strictly stronger discipline than the additive
    * token-count sink's checkpoint-mandatory merge. */
  val q123cStreamSketchContract = GraftQuery(
    "q123c_stream_sketch_contract", { (s, dir) =>
      import graft.streaming.CurationStream
      val d = Tables.load(s, dir, "documents")
      val table = "default.quantile_sketch_stream"
      s.sql(s"DROP TABLE IF EXISTS $table")
      val staged = CurationStream.stageEmbeddings(d, parts = 3)
      CurationStream.runQuantileSketchSink(s, staged, table, k = 64)
      val streamed = s.table(table)
      val batch = graft.ops.Quantiles.bottomKSketch(
        d.select(col("source"), col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("ntok")),
        "source", "doc_id", "ntok", k = 64)
      TextVectorQueries.symmetricDiffViolations(streamed, batch,
          "stream_only", "batch_only", Seq("g", "rk", "hkey", "id", "v"))
        .orderBy(col("kind"), col("g"), col("rk"))
        .localCheckpoint(eager = true)
    },
    Some("""SELECT CAST(NULL AS VARCHAR) AS g, CAST(NULL AS INT) AS rk,
      CAST(NULL AS BIGINT) AS hkey, CAST(NULL AS BIGINT) AS id,
      CAST(NULL AS BIGINT) AS v, CAST(NULL AS VARCHAR) AS kind
      WHERE 1 = 0"""))

  val all: Seq[GraftQuery] = Seq(
    q37StreamTumbling, q38StreamSessions, q39MultimodalDecode,
    q39bPixelCodecContract,
    q44StreamStaticJoin, q45StreamDedup, q46StreamState, q63StreamStreamJoin,
    q86StreamSliding, q87StreamUpsertSink, q87bStreamUpsertPartitioned,
    q87cStreamUpsertVersioned, q98StreamDecontaminate,
    q101gStreamSemanticDedup, q101iStreamFoldContract,
    q172CdfDedupContract,
    q120bStreamDriftContract, q123cStreamSketchContract,
    q132StreamTrending)
}
