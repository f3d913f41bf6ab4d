package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, TimeMode}

import graft.storage.{BasicStorage, Storage}

/** One user's open (not yet gap-closed) session — the custom state
  * carried between micro-batches by [[StreamingOps.sessionizeStream]].
  * Epochs are second-granular (same contract as the batch
  * [[graft.ops.Sessionize]]). */
case class OpenSession(start: Long, last: Long, n: Long, total: Double)

/** A gap-closed session as emitted downstream. */
case class ClosedSession(user_id: Long, session_start: Long,
                         n_events: Long, duration_sec: Long,
                         total_value: Double)

/** Structured-Streaming extensions beyond the reference's passthrough
  * file-stream surface (SURVEY.md §2.10): event-time tumbling windows
  * with watermarked late-data handling. Standard Spark streaming
  * machinery — state is bounded by the watermark, partitioned by the
  * group keys, and scales with shuffle partitions.
  */
object StreamingOps {

  /** How long [[replicateStream]]'s file-trigger replay waits for an
    * in-flight capture (batch files visible, `_commit` marker still
    * behind the data rewrite, source commit lock held) to finish
    * before giving up on it for this trigger. Set it at or above the
    * worst captured-merge duration — a capture that outlives the wait
    * on a then-quiet source stays unreplicated until the NEXT trigger
    * or poll tick — or pass `pollInterval`, whose clock converges
    * within one interval regardless. */
  val ReplicateLockWaitKey = "spark.graft.replicateLockWaitMs"
  val ReplicateLockWaitDefaultMs: Long = 10000L

  /** Stream-static enrichment join: every stream row picks up the
    * matching dimension row (left outer — unmatched rows survive with
    * nulls, enrichment must not drop events). The static side is
    * broadcast: stateless per micro-batch, no stream-side state store,
    * no watermark needed — at scale the dimension ships once per
    * executor per batch while the stream only ever streams. Works on
    * batch frames too (same code path, plain broadcast left join). */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey),
      "left_outer").drop(dim(dimKey))

  /** Streaming deduplication with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps one row per key among
    * arrivals within the watermark horizon, and — unlike plain
    * streaming `dropDuplicates`, whose key state grows forever — EVICTS
    * key state once the watermark passes it. That bound is what makes
    * indefinitely-running ingest dedup viable: state is O(keys per
    * watermark window), not O(keys ever seen). The trade-off is
    * re-admission of a key after the horizon, so this is the at-least-
    * once ingest cleaner, not an exact global dedup (that is the batch
    * dedup family in [[graft.ops.Dedup]]). Streaming frames only —
    * Spark rejects it on batch plans. */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           watermarkDelay: String,
                           keyCols: Seq[String]): DataFrame = {
    require(stream.isStreaming,
      "dedupWithinWatermark needs a streaming frame; batch dedup is " +
        "Dedup.exact")
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Tumbling event-time window aggregation with a watermark.
    * Works on both batch and streaming frames (same code path — Spark
    * semantics guarantee the batch result is the stream's final state). */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLength: String,
                     watermarkDelay: String = "10 minutes",
                     valueCol: String = "value"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    withWm
      .groupBy(window(col(tsCol), windowLength).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"),
        col("total_value"))
  }

  /** Per-tumbling-window top-k: the k largest `valCol` rows of each
    * event-time window, ranked (value desc, id asc) — the live
    * leaderboard / worst-offenders view. Same dual batch/stream
    * contract as [[tumblingCounts]]; the pick is the bounded custom
    * aggregate ([[graft.functions.BoundedTopKAgg]]) rather than a rank
    * window, so per-(window) state is ≤ k entries in the streaming
    * state store and ≤ k per partition in batch partial aggregation —
    * a window's full row set never materializes anywhere. Null values
    * are not rankable and are skipped. Output:
    * (window_start, window_end, rank, idCol, valCol). */
  def windowTopK(events: DataFrame, tsCol: String, idCol: String,
                 valCol: String, windowLen: String, k: Int,
                 watermarkDelay: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    withWm
      .filter(col(valCol).isNotNull)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(graft.functions.BoundedTopKAgg.minK(
        struct((-col(valCol)).as("nv"), col(idCol).as("id")), k)
        .as("__top"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(col("window_start"), col("window_end"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__s.id").as(idCol), (-col("__s.nv")).as(valCol))
  }

  /** Per-tumbling-window quantiles via the mergeable sketch
    * ([[graft.functions.QSketch]]): each event-time window carries ONE
    * bounded sketch (≤ k·log levels doubles) through the streaming
    * state store instead of its full value set — the live latency-
    * percentile dashboard shape. Same dual batch/stream contract as
    * [[tumblingCounts]]; exact while a window holds ≤ k values,
    * bounded rank error beyond (QuantileSketchSpec pins both).
    * Output: (window_start, keyCol, n, p50, p90, p99). */
  def windowQuantiles(events: DataFrame, tsCol: String, keyCol: String,
                      valCol: String, windowLen: String,
                      sketchK: Int = graft.functions.QSketch.DefaultK,
                      watermarkDelay: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    val qs = graft.functions.QSketch.sketchQuantiles(
      col("__sk"), Seq(0.5, 0.9, 0.99))
    withWm
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(col(valCol)).as("n"),
        graft.functions.QSketch.sketchAgg(col(valCol), sketchK).as("__sk"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"),
        qs.getItem(0).as("p50"), qs.getItem(1).as("p90"),
        qs.getItem(2).as("p99"))
  }

  /** Native session-window aggregation: Spark's `session_window`
    * merges events separated by gaps ≤ `gap` into one window whose end
    * is the last event + gap — the built-in sibling of the
    * column-algebra batch sessionizer ([[graft.ops.Sessionize]]) and
    * the custom-state stream sessionizer ([[sessionizeStream]], which
    * carries richer per-session payloads). Works on batch and
    * streaming frames (same code path); streaming state is merged and
    * evicted by the watermark. Output:
    * (keyCol, session_start, session_end, n_events). */
  def sessionWindowCounts(events: DataFrame, tsCol: String,
                          keyCol: String, gap: String,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    withWm
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
  }

  /** Sliding (hopping) event-time windows: every event lands in
    * size/slide overlapping windows, each epoch-aligned to the slide.
    * Same batch/stream dual-mode contract as [[tumblingCounts]];
    * state per (window, key) is bounded by the watermark. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLength: String, slide: String,
                    watermarkDelay: String = "10 minutes",
                    valueCol: String = "value"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    withWm
      .groupBy(window(col(tsCol), windowLength, slide).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"),
        col("total_value"))
  }

  /** Stream-stream interval join (the attribution shape: each left
    * event matched to right events of the same key within the
    * preceding `lookbackSeconds`). Right-side columns come back
    * suffixed `_r`. On streams both sides are watermarked and the
    * two-sided time bound lets Spark PRUNE join state — without it a
    * stream-stream join buffers both streams forever; with it state
    * is bounded by (watermark delay + lookback) of data per side.
    * Inner-join emission itself needs no watermark, so batch frames
    * run the identical join — the oracle-checkable twin.
    *
    * `joinType` "left_outer": unmatched left rows ALSO emit (with null
    * `_r` columns) — but on streams only once the watermark passes the
    * point where a match could still arrive, so null rows trail the
    * data by (watermark delay + lookback); the stream's final output
    * equals the batch left join (spec-pinned). Spark requires the
    * watermarks + two-sided time bound for exactly this reason: they
    * bound how long an unmatched row must be held before the engine
    * can PROVE it unmatched. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, lookbackSeconds: Long,
                   watermarkDelay: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val renamed = right.columns.foldLeft(right)(
      (d, c) => d.withColumnRenamed(c, c + "_r"))
    val l = if (left.isStreaming) left.withWatermark(tsCol, watermarkDelay)
            else left
    val r = if (renamed.isStreaming)
              renamed.withWatermark(s"${tsCol}_r", watermarkDelay)
            else renamed
    l.join(r,
      col(keyCol) === col(s"${keyCol}_r") &&
        col(s"${tsCol}_r") >=
          col(tsCol) - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col(s"${tsCol}_r") <= col(tsCol),
      joinType)
  }

  /** CHAINED stateful operators: a stream-stream interval join feeding
    * an event-time tumbling aggregation in ONE streaming query — two
    * state stores back to back (join buffers + window partials), the
    * shape Spark only unblocked in 3.5 and the reason real-time
    * attribution dashboards don't need an intermediate sink anymore.
    * The join's watermark survives into the aggregation (Spark tracks
    * the delayed event-time column through the join), so window
    * emission and BOTH state stores stay watermark-bounded.
    *
    * Counts attributed (left, right-within-lookback) pairs per
    * tumbling window of the left event time. Dual-mode: on batch
    * frames the identical code path runs join + groupBy — the
    * oracle-checkable twin; StreamingOpsSpec pins stream == batch. */
  def attributedWindowCounts(left: DataFrame, right: DataFrame,
                             keyCol: String, tsCol: String,
                             lookbackSeconds: Long, windowLen: String,
                             watermarkDelay: String = "10 minutes")
    : DataFrame = {
    intervalJoin(left, right, keyCol, tsCol, lookbackSeconds,
        watermarkDelay)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("w.start").as("window_start"), col("n_pairs"))
  }

  /** Stateful streaming sessionization via `flatMapGroupsWithState` —
    * the custom-state API for semantics no built-in aggregation
    * expresses (a session's extent isn't known until the inactivity
    * gap elapses). State: ONE [[OpenSession]] per user (four longs —
    * bounded by the active-user cardinality, not the stream length);
    * closed sessions emit when event time passes last+gap via
    * event-time timeouts, so the watermark — not wall clock — drives
    * emission and a stalled source never truncates a session.
    *
    * Dual-mode like [[tumblingCounts]]: on a BATCH frame each group is
    * processed once with all its events (sorted by second-granular
    * epoch + order column — the exact total order of the batch
    * [[graft.ops.Sessionize]] window), timeouts never fire, and
    * trailing open sessions are flushed at group end — so the batch
    * result is the stream's final state, which is what the oracle
    * checks and StreamingOpsSpec pins stream-equal.
    *
    * In-stream contract: events later than the watermark delay are
    * dropped by the watermark; late-but-within-watermark events merge
    * into the user's open session (second-granular gap arithmetic). */
  def sessionizeStream(events: DataFrame, userCol: String, tsCol: String,
                       orderCol: String, valueCol: String,
                       gapSeconds: Long,
                       watermarkDelay: String = "10 minutes")
    : Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val isStream = events.isStreaming
    val src =
      if (isStream) events.withWatermark(tsCol, watermarkDelay) else events
    src.select(
        col(userCol).cast("long").as("user_id"),
        col(tsCol).as("ts"),
        col(orderCol).cast("long").as("order_id"),
        col(valueCol).cast("double").as("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        sessionHandler(gapSeconds, flushAtEnd = !isStream))
  }

  /** The per-group state transition. `flushAtEnd` = batch mode (no
    * later micro-batch will ever fire the timeout). */
  private def sessionHandler(gap: Long, flushAtEnd: Boolean)(
      user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, Double)],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    def close(s: OpenSession) =
      ClosedSession(user, s.start, s.n, s.last - s.start, s.total)
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).iterator
      state.remove()
      out
    } else {
      val evs = it.map(e => (e._2.getTime / 1000, e._3, e._4))
        .toArray.sortBy(e => (e._1, e._2))
      var open = state.getOption
      // far-late stragglers — events more than a gap BEFORE the open
      // session's start (only possible with cross-batch late data) —
      // accumulate in their own pending session so same-batch
      // stragglers co-session exactly as the batch twin would, and a
      // straggler chain that bridges into the open session merges.
      // Only stragglers split across SEPARATE micro-batches still emit
      // apart (the inherent bound of single-OpenSession state;
      // watermarkDelay ≤ gap rules stragglers out entirely).
      var pending: Option[OpenSession] = None
      val closed =
        scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      evs.foreach { case (ep, _, v) =>
        val isStraggler = open.exists(s => ep < s.start - gap)
        if (isStraggler) {
          pending = pending match {
            case Some(p) if ep - p.last <= gap =>
              Some(OpenSession(p.start, math.max(p.last, ep), p.n + 1,
                p.total + v))
            case Some(p) =>
              closed += close(p)
              Some(OpenSession(ep, ep, 1L, v))
            case None => Some(OpenSession(ep, ep, 1L, v))
          }
        } else {
          // event interacts with the open session; a pending straggler
          // chain that reaches to within a gap of it bridges in
          val bridged = pending.filter(p => ep - p.last <= gap)
          if (bridged.isEmpty) pending.foreach(p => closed += close(p))
          pending = None
          open = (open, bridged) match {
            case (Some(s), Some(p)) if ep - s.last <= gap =>
              Some(OpenSession(math.min(p.start, math.min(s.start, ep)),
                math.max(s.last, ep), s.n + p.n + 1, s.total + p.total + v))
            case (Some(s), None) if ep - s.last <= gap =>
              // min: a late-but-within-watermark event can precede the
              // open session's start; without it the streamed
              // session_start diverges from the batch twin
              Some(OpenSession(math.min(s.start, ep), math.max(s.last, ep),
                s.n + 1, s.total + v))
            case (Some(s), _) =>
              // ep > s.last + gap: close and reopen. bridged is
              // provably None here (pending.last < s.start - gap, so
              // ep - pending.last > 2·gap), as is the (None, Some)
              // shape (pending requires an open session)
              closed += close(s)
              Some(OpenSession(ep, ep, 1L, v))
            case (None, _) =>
              Some(OpenSession(ep, ep, 1L, v))
          }
        }
      }
      pending.foreach(p => closed += close(p))
      if (flushAtEnd) {
        open.foreach(s => closed += close(s))
        if (state.exists) state.remove()
      } else {
        open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.last + gap + 1) * 1000L)
        }
      }
      closed.iterator
    }
  }

  /** Streaming MERGE: CDC-style upserts into a managed table, one
    * [[Storage.merge]] per micro-batch via foreachBatch (the standard
    * Spark pattern for merge sinks — Delta's docs prescribe exactly
    * this shape for streaming upserts).
    *
    * Semantics: each micro-batch applies the merge condition against
    * the CURRENT table state, so later batches see earlier batches'
    * upserts.
    *
    * Delivery: with `txnAppId` set, applied batch ids are recorded in
    * the table's op log (Delta's txnAppId/txnVersion pattern) and a
    * replayed batch — after a checkpoint reset or restart race — is
    * SKIPPED instead of re-applied, so a stale batch can never
    * overwrite newer upserts. Without it, delivery is at-least-once
    * and safety relies on the merge being idempotent (key-based
    * conditions). The txn record lands after the merge's swap, so a
    * crash exactly between the two replays one batch — the same
    * at-least-once floor as any two-step commit without a
    * transactional log.
    *
    * Scale: state lives entirely in the target table; the stream side
    * holds no aggregation state, so arbitrarily long streams cost
    * per-batch merge work only (partition-pruned when the table is
    * partitioned — see [[graft.storage.Merge]]).
    *
    * txn bookkeeping reads/writes the op log AT `path` — when running
    * behind storage isolation pass the resolved (isolated) path, or
    * the txn records would land beside a table that lives elsewhere. */
  def mergeStream(storage: Storage, stream: DataFrame, path: String,
                  mergeCondition: String, checkpoint: String,
                  partitionFields: Seq[String] = Nil,
                  mergeSchemas: Boolean = false,
                  updateCondition: Option[String] = None,
                  insertCondition: Option[String] = None,
                  txnAppId: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val alreadyApplied = txnAppId.exists { app =>
          graft.storage.GraftLog.isManagedTable(spark, path) &&
            graft.storage.GraftLog.lastTxnBatch(spark, path, app)
              .exists(_ >= batchId)
        }
        if (!alreadyApplied) {
          storage.merge(batch, path, mergeCondition, partitionFields,
            mergeSchemas, updateCondition, insertCondition)
          txnAppId.foreach(app => graft.storage.GraftLog.append(
            spark, path, "TXN", Nil, Some(app -> batchId)))
        }
      }
      .start()

  /** Continuous corpus ingest with cross-batch exact dedup — the
    * production loop that keeps a growing document corpus text-unique
    * without ever re-deduping (or re-shuffling) the corpus itself.
    * Each micro-batch: (1) intra-batch dedup (smallest `idCol` per
    * normalized text survives — deterministic), (2) anti-join against
    * the CURRENT corpus's distinct normalized-hash index
    * ([[graft.ops.Dedup.dedupAgainst]] — one 64-byte column per corpus
    * doc crosses the join, never the text), (3) append only
    * fresh-text documents. The index updates implicitly: the next
    * batch reads the just-appended corpus.
    *
    * Replay safety for free: re-running a batch after a crash finds
    * its own texts already in the corpus and appends nothing — the
    * dedup IS the idempotence, no txn bookkeeping needed (appends and
    * the sidecar-free read are the only table operations).
    *
    * Scale: per-batch cost is batch × index-hash work; corpus text
    * never reshuffles; at 100 TB persist the distinct-hash frame
    * between ingests ([[graft.ops.Dedup.dedupAgainst]]'s documented
    * index shape) instead of re-deriving it per batch.
    *
    * A FRESH corpus path bootstraps: the first micro-batch finds no
    * managed table and writes its intra-deduped rows directly (the
    * append creates the table) — no pre-seeding required. */
  def ingestDedupStream(storage: Storage, stream: DataFrame,
                        corpusPath: String, idCol: String,
                        textCol: String,
                        checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        val intra = graft.ops.Dedup.exactDeterministic(
            batch.withColumn("__graft_t",
              graft.ops.Dedup.normalizedHash(col(textCol))),
            Seq("__graft_t"), idCol)
          .drop("__graft_t")
        val fresh =
          if (!graft.storage.GraftLog.isManagedTable(
              batch.sparkSession, corpusPath)) intra
          else graft.ops.Dedup.dedupAgainst(
            storage.read(corpusPath, "delta"), intra, textCol)
        storage.write(fresh, corpusPath, "delta", "append")
      }
      .start()

  /** [[ingestDedupStream]] upgraded with NEAR-dup filtering served
    * from (and maintained in) a persisted MinHash-LSH index
    * ([[graft.ops.Dedup.saveNearDupIndex]]): each micro-batch is
    * (1) intra-batch exact-deduped, (2) exact-deduped against the
    * corpus hash index, (3) near-deduped against the fuzzy index
    * (band/bucket candidates + exact verify — the base corpus text is
    * never re-read), and the survivors are (4) appended to the fuzzy
    * index as ONE `inc-N` generation
    * ([[graft.ops.Dedup.appendToNearDupIndex]] — O(batch), never a
    * rebuild) and (5) appended to the corpus. A fresh corpus/index
    * pair bootstraps from the first batch.
    *
    * Replay safety: index-before-corpus ordering + batch-id-excluded
    * near-dup serving. A crash between (4) and (5) replays the batch
    * with its own entries already indexed — every id of the CURRENT
    * micro-batch is excluded from the candidate set's index side
    * ([[graft.ops.Dedup.nearDedupAgainstIndex]] `excludeIds`), so the
    * docs pass the fuzzy stage (neither against their OWN entries nor
    * against each other's — two batch docs that near-dup each other
    * must both survive, exactly as the non-crash run keeps both,
    * since the ingest performs no intra-batch near-dedup), pass the
    * exact stage (their texts never reached the corpus) and complete
    * their corpus append; the duplicate index generation is harmless
    * (the verify stage is set-semantics per (id, shingle)). The
    * reverse ordering would be a silent PERMANENT index gap:
    * corpus-first + crash ⇒ replay's exact stage drops the docs
    * before they are ever indexed, and every future near-dup of them
    * sails through.
    *
    * `compactEveryGenerations` folds the appended `inc-N` generations
    * back into the base whenever their count reaches the threshold
    * ([[graft.ops.Dedup.compactNearDupIndex]] — stored-row I/O only):
    * a long-lived ingest otherwise accumulates one generation dir per
    * micro-batch and the serving plan one parquet scan per
    * generation. Bounded BY DEFAULT (16): an unbounded default made
    * the cost an opt-out footgun — a week-long ingest at one batch
    * per minute would carry ~10⁴ scans per serving plan. 0 = never
    * (only for short-lived streams that compact out-of-band). */
  def ingestNearDedupStream(storage: Storage, stream: DataFrame,
                            corpusPath: String, indexPath: String,
                            idCol: String, textCol: String,
                            checkpoint: String,
                            jaccardThreshold: Double = 0.5,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleSize: Int = 3,
                            compactEveryGenerations: Int = 16): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        val spark = batch.sparkSession
        val intra = graft.ops.Dedup.exactDeterministic(
            batch.withColumn("__graft_t",
              graft.ops.Dedup.normalizedHash(col(textCol))),
            Seq("__graft_t"), idCol)
          .drop("__graft_t")
        val corpusExists =
          graft.storage.GraftLog.isManagedTable(spark, corpusPath)
        val indexExists =
          graft.ops.Dedup.nearDupIndexExists(spark, indexPath)
        val fresh =
          if (!corpusExists) intra // fresh start — nothing to dedup against
          else {
            val corpus = storage.read(corpusPath, "delta")
            val exactFresh = graft.ops.Dedup.dedupAgainst(
              corpus, intra, textCol)
            if (indexExists)
              // exclude the batch ids that are ABSENT from the corpus
              // from the index side, not just self-pairs: after an
              // index-append/corpus-append crash the full batch is
              // already indexed-but-corpusless, and two batch docs
              // that near-dup each other would otherwise drop AGAINST
              // EACH OTHER on replay — permanently indexed but absent
              // from the corpus. Corpus-PRESENT ids are NOT excluded:
              // their index entries are legitimate corpus docs, and a
              // batch that happens to re-send id X alongside a new
              // near-dup of X's text must still drop the near-dup
              // (excluding the whole batch blindly would admit it).
              graft.ops.Dedup.nearDedupAgainstIndex(spark, indexPath,
                exactFresh, idCol, textCol, jaccardThreshold,
                excludeIds = Some(intra.select(col(idCol)).join(
                  corpus.select(col(idCol)), Seq(idCol), "left_anti")))
            else // index lost/not yet built: one inline pass, rebuilt below
              graft.ops.Dedup.nearDedupAgainst(
                storage.read(corpusPath, "delta"), exactFresh, idCol,
                textCol, numHashes, bands, shingleSize, jaccardThreshold)
          }
        // the downstream appends each read `fresh` once — materialize
        // the dedup chain once instead of re-running the candidate
        // join per consumer
        val freshM = fresh.localCheckpoint(true)
        if (indexExists && corpusExists) {
          graft.ops.Dedup.appendToNearDupIndex(spark, indexPath, freshM,
            idCol, textCol)
          // the serving plan carries one parquet scan per generation —
          // fold them back into the base every N appends (stored-row
          // I/O only, no re-shingling) so a long-lived ingest never
          // accumulates unbounded generation dirs
          if (compactEveryGenerations > 0 &&
              graft.ops.Dedup.nearDupIndexGenerations(spark, indexPath)
                >= compactEveryGenerations)
            graft.ops.Dedup.compactNearDupIndex(spark, indexPath)
        } else {
          // bootstrap (or heal a lost index): ONE build over
          // corpus-so-far + this batch — a one-time O(corpus) cost,
          // every later batch appends O(batch)
          val all =
            if (!corpusExists) freshM
            else storage.read(corpusPath, "delta")
              .select(col(idCol), col(textCol)).unionByName(
                freshM.select(col(idCol), col(textCol)))
          graft.ops.Dedup.saveNearDupIndex(spark, indexPath, all,
            idCol, textCol, numHashes, bands, shingleSize)
        }
        storage.write(freshM, corpusPath, "delta", "append")
      }
      .start()

  /** Serve ANN query batches from a PERSISTED coded IVF-PQ index as a
    * stream — the other half of the fit-once/serve-many contract: the
    * index (centroids + codebooks, driver-resident) and the coded
    * corpus (m small ints per vector) load ONCE at stream start; each
    * micro-batch of query vectors runs
    * [[graft.ops.Similarity.ivfPqSearchCoded]] — cell-candidate join +
    * broadcast distance tables + bounded top-k, NO raw corpus vectors
    * anywhere in the plan — and writes its top-k rows under `outPath`.
    *
    * The coded corpus is eagerly localCheckpoint'ed at load: serving
    * reads executor-resident blocks (the memory-resident IVFADC
    * property) pinned to ONE index generation — a concurrent index
    * re-save cannot tear a mid-flight batch. `refreshEveryBatches > 0`
    * lifts the pin for LONG-LIVED serving: every N batches one
    * metadata-sized listing ([[graft.ops.AnnIndex.generationToken]])
    * checks whether the root changed (a re-save OR an
    * [[graft.ops.AnnIndex.appendCorpusCodes]] increment) and, when it
    * did, atomically reloads index + codes BETWEEN batches — each
    * batch is still scored against exactly one coherent generation,
    * never a mix. 0 (default) keeps the pinned-for-life behavior.
    *
    * The refresh is DEFENSIVE against a writer mid-swap: a probe that
    * reads an absent root or a one-off transient token does NOT
    * reload (the root is briefly gone between [[graft.storage
    * .Fs.swapInStaged]]'s two renames); a changed token must repeat
    * on an immediate second probe before the reload runs, so the
    * stream never calls [[graft.ops.AnnIndex.load]] — whose
    * recoverAside heal could yank a LIVE writer's aside back into
    * place and fail its swap — while the swap is in flight. Any
    * exception in the probe or the reload keeps serving the
    * currently pinned generation and retries at the next refresh
    * tick; a refresh can be LATE, never a crash or a torn read.
    *
    * Delivery is EXACTLY-ONCE at the sink: each micro-batch lands as
    * its own `batch=<id>` partition dir in overwrite mode, so a
    * replayed batch (restart from checkpoint) rewrites its own dir
    * byte-for-byte instead of appending duplicates. Readers
    * `spark.read.parquet(outPath)` get the stamping `batch` partition
    * column for free; no (query_id, rank) dedup-on-read needed.
    * MIGRATION: an `outPath` written by the pre-partitioned (flat
    * append) layout cannot be resumed in place — mixing root-level
    * part files with `batch=` dirs breaks partition discovery; this
    * method FAILS FAST at start() when it sees that layout (root-level
    * parquet part files, no `batch=` dirs) instead of letting readers
    * hit an opaque partition-discovery error later; point resumed
    * streams at a fresh `outPath`. */
  def annSearchStream(queryStream: DataFrame, indexPath: String,
                      queryIdCol: String, vecCol: String,
                      outPath: String, checkpoint: String,
                      topK: Int, nProbe: Int = 4,
                      refreshEveryBatches: Int = 0): StreamingQuery = {
    val spark = queryStream.sparkSession
    val base = outPath.stripSuffix("/")
    // fail fast on a pre-batch=<id> sink: root-level part files with
    // no batch= dirs is the old flat-append layout, and writing
    // batch= dirs next to them breaks partition discovery for every
    // later reader with an error that names neither cause nor fix
    if (graft.storage.Fs.listFiles(spark, base)
          .exists(_.endsWith(".parquet")) &&
        !graft.storage.Fs.listSubdirs(spark, base)
          .exists(_.startsWith("batch="))) {
      throw new IllegalArgumentException(
        s"outPath $base holds the pre-partitioned flat-append sink " +
          "layout (root-level parquet part files, no batch= dirs); " +
          "it cannot be resumed in place — point the resumed stream " +
          "at a fresh outPath and migrate readers to the new path")
    }
    def loadGeneration() = (
      graft.ops.AnnIndex.load(spark, indexPath),
      graft.ops.AnnIndex.loadCorpusCodes(spark, indexPath)
        .getOrElse(throw new IllegalArgumentException(
          s"index at $indexPath has no stored corpus codes — " +
            "AnnIndex.save(..., corpusCodes = Some(ivfPqEncodeCorpus(...)))"))
        .localCheckpoint(true))
    var token = graft.ops.AnnIndex.generationToken(spark, indexPath)
    var (index, codes) = loadGeneration()
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (refreshEveryBatches > 0 && batchId % refreshEveryBatches == 0)
          try {
            val now = graft.ops.AnnIndex.generationToken(spark, indexPath)
            // reload only on a STABLE non-absent change: absent /
            // transient tokens are a writer mid-swap (recoverAside
            // from load() here could fail the writer's rename), and
            // an immediate re-probe must agree before load runs
            if (now != token && now != graft.ops.AnnIndex.AbsentToken &&
                !now.startsWith(graft.ops.AnnIndex.TransientTokenPrefix) &&
                graft.ops.AnnIndex.generationToken(spark, indexPath) == now) {
              val fresh = loadGeneration()
              index = fresh._1; codes = fresh._2; token = now
            }
          } catch {
            case scala.util.control.NonFatal(_) =>
              // keep serving the pinned generation; retry next tick —
              // a late refresh beats a dead serving stream
          }
        if (!batch.isEmpty) // vecDim probe needs >= 1 query row
          graft.ops.Similarity.ivfPqSearchCoded(index, codes, batch,
              queryIdCol, vecCol, topK, nProbe)
            .write.mode("overwrite").parquet(s"$base/batch=$batchId")
      }
      .start()
  }

  /** One release-listener per session for the maintainer leases the
    * maintenance streams hold ([[graft.storage.MaintainerLease]]):
    * graceful and failed terminations both release token-checked, so
    * a same-JVM restart-on-checkpoint never waits out the lease
    * horizon. */
  private val leaseListenerSessions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()
  private val leaseByQuery = new java.util.concurrent.ConcurrentHashMap[
    java.util.UUID, (SparkSession, String, String)]()

  /** Acquire the single-maintainer lease for `target`, start the
    * stream `build(token)`, and wire the release: a second maintainer
    * anywhere refuses LOUDLY at start ([[graft.storage
    * .MaintainerLease.acquire]]), and a maintainer taken over past
    * the lease age is fenced at its next micro-batch (the stream
    * bodies call `verifyAndBeat` first). */
  private def startLeased(spark: SparkSession, target: String,
                          owner: String)
                         (build: String => StreamingQuery)
      : StreamingQuery = {
    import graft.storage.MaintainerLease
    val token = MaintainerLease.acquire(spark, target, owner)
    try {
      if (leaseListenerSessions.add(spark))
        spark.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            override def onQueryStarted(
                e: org.apache.spark.sql.streaming.StreamingQueryListener
                  .QueryStartedEvent): Unit = ()
            override def onQueryProgress(
                e: org.apache.spark.sql.streaming.StreamingQueryListener
                  .QueryProgressEvent): Unit = ()
            override def onQueryTerminated(
                e: org.apache.spark.sql.streaming.StreamingQueryListener
                  .QueryTerminatedEvent): Unit = {
              // keyed by RUN id, not query id: the query id persists
              // in the checkpoint across restarts, so a stale
              // termination event from a prior incarnation still on
              // the async bus would otherwise release the RESTARTED
              // maintainer's fresh lease — which the missing-lease
              // fence then turns fatal for a healthy stream
              val v = leaseByQuery.remove(e.runId)
              if (v != null) MaintainerLease.release(v._1, v._2, v._3)
            }
          })
      val q = build(token)
      MaintainerLease.bindQuery(target, token, q.id)
      leaseByQuery.put(q.runId, (spark, target, token))
      // a stream that failed in its first instants can terminate
      // BEFORE the put above — the async listener then saw no entry
      // and released nothing, and the entry would leak. Release is
      // token-checked and idempotent, so the post-put re-check and a
      // racing listener are both safe.
      if (!spark.streams.active.exists(_.runId == q.runId)) {
        leaseByQuery.remove(q.runId)
        MaintainerLease.release(spark, target, token)
      }
      q
    } catch {
      case t: Throwable =>
        MaintainerLease.release(spark, target, token)
        throw t
    }
  }

  /** The listing-trigger scaffold shared by the directory-watching
    * maintenance streams ([[replicateStream]], [[maintainMatView]]):
    * file-triggered on `dir` by default (a micro-batch fires when new
    * files appear; the rows are a trigger only — the foreachBatch body
    * re-lists its real source), or a rate-source clock when
    * `pollInterval` is set (bounded staleness on a quiet source).
    *
    * The file trigger runs `ignoreMissingFiles`, and soundly so
    * PRECISELY because the rows are never used: the watched dir
    * belongs to a live table whose maintenance rewrites it underneath
    * the source — a COW commit's root swap retires listed paths for a
    * beat, [[graft.storage.Maintenance.compactLog]] (auto-run by
    * routine vacuum) replaces every op-log file it has seen, and
    * [[graft.storage.Merge.pruneChangeFeed]] deletes aged batches —
    * and without the option any of those kills the long-lived stream
    * with FILE_NOT_EXIST on a read whose result is discarded anyway
    * (including a checkpoint-recovery replay of a batch whose trigger
    * files are long gone). A listing landing while the dir itself is
    * briefly absent (the swap's two-rename window) is already an
    * empty-result warning in Spark's file index, not an error. */
  private def listingTriggerWriter(spark: SparkSession, dir: String,
                                   schema: => org.apache.spark.sql.types.StructType,
                                   checkpoint: String,
                                   pollInterval: Option[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val trigger = pollInterval match {
      case Some(_) =>
        // pure clock: one tiny rate row per tick fires the listing
        // replay even when no new file ever arrives
        spark.readStream.format("rate")
          .option("rowsPerSecond", "1").load()
      case None =>
        // NO basePath option: the non-glob dir path infers the same
        // partition base, and the explicit option is VALIDATED against
        // the live filesystem on every batch construction — a full
        // feed prune (which removes the whole watched dir until the
        // next capture recreates it) would kill the stream on that
        // check, outside ignoreMissingFiles' reach
        spark.readStream.schema(schema)
          .option("ignoreMissingFiles", "true")
          .parquet(dir)
    }
    val writer = trigger.writeStream
      .option("checkpointLocation", checkpoint)
    pollInterval.foreach(i => writer.trigger(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(i)))
    writer
  }

  /** Continuous replica maintenance from a source table's Change Data
    * Feed: stream the `_graft_changes` batch files
    * ([[graft.storage.Merge]] `captureChanges`) and replay each onto
    * the replica ([[graft.storage.Merge.replayChanges]]) — the
    * ship-batches-never-recopy replication loop, as a stream.
    *
    * Several source merges can land in one micro-batch; their change
    * batches replay in `batch`-stamp order (monotone per writer), so
    * a delete that follows an insert of the same key lands last. The
    * replica is localCheckpoint'ed before its own overwrite (a lazy
    * plan would read the files being replaced).
    *
    * Scale: per micro-batch cost is batch-sized anti-join + union +
    * replica rewrite; state lives in the replica table, not the
    * stream.
    *
    * Delivery: the highest applied change-batch stamp is recorded in
    * the REPLICA's op log (the [[mergeStream]] txnAppId discipline) —
    * after a checkpoint reset or a crash between replay and stream
    * commit, already-applied batches are SKIPPED rather than
    * re-replayed, so delivery is effectively-once as long as the
    * replica's log survives with its data. The txn record lands after
    * the replica write; a crash exactly between the two replays one
    * batch — harmless because [[graft.storage.Merge.replayChanges]]
    * is idempotent BY CONSTRUCTION: every touched key (inserts
    * included) leaves the base before the batch's rows re-enter, so
    * re-applying a batch reproduces the same table.
    *
    * Trigger modes: by default the stream is file-triggered — a
    * micro-batch fires when NEW feed files appear. `_commit` markers
    * are underscore-named and invisible to the parquet file source,
    * so a trigger can fire MID-CAPTURE (files written, marker still
    * behind the data rewrite). Skipping the uncommitted batch there
    * would strand it: its files are consumed, no later trigger comes
    * on a quiet source, and the replica sits one committed batch
    * behind. Instead the body WAITS OUT the in-flight capture —
    * an in-range unmarked batch while the source's commit lock is
    * held is a writer mid-commit whose marker lands before the lock
    * frees (bounded: crashed debris caps the wait and stays skipped,
    * vacuum's to fence) — so `processAllAvailable` converges the
    * replica to every committed capture. Callers that want bounded
    * staleness on a quiet source without file-watching pass
    * `pollInterval` (e.g. `"30 seconds"`), which drives the SAME
    * listing replay off a rate-source ProcessingTime clock instead:
    * every tick lists the feed directory (metadata cost) and applies
    * whatever committed batches the watermark hasn't seen — no-op
    * when there is nothing new, and a quiet source converges within
    * one interval. */
  def replicateStream(spark: SparkSession, storage: Storage,
                      sourcePath: String, replicaPath: String,
                      keyCols: Seq[String],
                      checkpoint: String,
                      pollInterval: Option[String] = None): StreamingQuery = {
    val changesDir = sourcePath.stripSuffix("/") + "/" +
      graft.storage.Merge.ChangesDirName
    val txnApp = s"graft_replicate:$sourcePath"
    startLeased(spark, replicaPath, "replicateStream") { leaseToken =>
    listingTriggerWriter(spark, changesDir,
        spark.read.parquet(changesDir).schema, checkpoint, pollInterval)
      .foreachBatch { (_: DataFrame, _: Long) =>
        // fencing first: a maintainer presumed crashed and taken over
        // must die here, before reading or writing anything
        graft.storage.MaintainerLease.verifyAndBeat(
          spark, replicaPath, leaseToken)
        // The micro-batch is a TRIGGER only; the rows replayed come
        // from the source feed DIRECTORY, listed forward from the
        // replica's applied watermark. Two reasons over replaying the
        // micro-batch rows themselves: (a) a batch without its commit
        // marker is a crashed capture the source never committed —
        // replaying it would diverge the replica from a state the
        // source never reached — so it is filtered out here; (b) the
        // file stream consumes a batch's files exactly once, so a
        // capture whose marker lands AFTER its files were consumed
        // (merge still in flight at trigger time) would be lost
        // forever under row-replay — directory-replay picks it up on
        // the next trigger instead. Feed batches stay listable until
        // pruneChangeFeed, whose contract already requires replicas
        // to be caught up.
        // poll mode ticks on a CLOCK, so a tick can fire before the
        // source's first capture exists (or after a full prune removed
        // the feed dir) — changeFeed would throw on the missing dir
        // and kill the long-lived stream; an empty tick is the correct
        // no-op (the file-trigger mode can never hit this: its batches
        // only fire when feed files exist).
        // The whole replay is LOCK-FREE and so can race a live COW
        // commit's root-swap window (or a feed prune / log compaction
        // retiring files mid-read) — the same transient MatView's
        // refresh retries; bounded retry here too, because each
        // attempt re-reads the applied watermark and replayChanges is
        // idempotent, so a half-applied attempt simply re-converges.
        // Exhausted retries (a genuinely missing source) still kill
        // the stream LOUDLY — nothing is swallowed.
        graft.storage.Txn.retryTransient(maxAttempts = 5) {
          if (graft.storage.Merge.hasChanges(spark, sourcePath)) {
            val applied = graft.storage.GraftLog
              .lastTxnBatch(spark, replicaPath, txnApp)
              .getOrElse(Long.MinValue)
            def unapplied(): Array[(Long, Boolean)] =
              graft.storage.Merge.changeFeed(spark, sourcePath)
                .select(col("batch")).distinct()
                .collect().map(_.getLong(0)).filter(_ > applied)
                .map(b => (b, graft.storage.Merge
                  .isBatchCommitted(spark, sourcePath, b)))
            // an in-range batch WITHOUT its marker while the source's
            // commit lock is held is a capture mid-commit — its marker
            // lands before the lock frees. Waiting it out closes the
            // file-trigger one-batch lag: this trigger fired on the
            // batch's files, and skipping it here would strand the
            // replica one batch behind until the NEXT capture fires
            // (a quiet source never converges). Crashed debris (lock
            // left behind) is capped by the deadline
            // ([[ReplicateLockWaitKey]]) and stays skipped — vacuum's
            // to fence, never replayed. The wait loop re-probes ONLY
            // the missing markers (one driver `exists` each): the
            // stamp SET is frozen while the lock is held (captures
            // are lock-serialized), so re-running the feed listing
            // job every poll would be pure waste — and the same
            // marker re-probe after the loop covers a writer whose
            // marker + release landed between the listing and the
            // first lock probe.
            val waitMs = spark.conf.getOption(ReplicateLockWaitKey)
              .map(_.toLong).getOrElse(ReplicateLockWaitDefaultMs)
            val deadline = System.currentTimeMillis() + waitMs
            var seen = unapplied()
            def reprobe(s: Array[(Long, Boolean)]) = s.map { case (b, c) =>
              (b, c || graft.storage.Merge
                .isBatchCommitted(spark, sourcePath, b))
            }
            // only a YOUNG lock (within the txn timeout) is a live
            // writer worth waiting for — crashed lock debris would
            // otherwise cost the full wait on EVERY trigger and poll
            // tick until vacuum fences it (timeTravel's sibling
            // classification filters by age the same way)
            def liveHolder = graft.storage.Txn.heldBy(spark, sourcePath)
              .exists(_._2 <= graft.storage.Txn.lockTimeoutMs(spark))
            while (seen.exists(!_._2) && liveHolder &&
                System.currentTimeMillis() < deadline) {
              Thread.sleep(100)
              seen = reprobe(seen)
            }
            // PROBE ORDER is load-bearing (the writer's sequence is
            // markers → op append → release): observe the lock FIRST,
            // re-probe markers SECOND. A writer that committed and
            // released in between then shows its markers to the
            // reprobe (they landed before the release) — probing the
            // lock after the reprobe would misread that writer as
            // crashed debris and silently skip its batch (the exact
            // inversion Merge.timeTravel's sibling check avoids).
            val wasLive = liveHolder
            if (seen.exists(!_._2)) seen = reprobe(seen)
            // a batch STILL unmarked here is either crashed debris
            // (no/stale lock — stays skipped, vacuum's to fence) or a
            // LIVE capture that outlived the bounded wait. The live
            // case must NEVER be silently skipped: this trigger
            // consumed the batch's files (no later trigger comes on a
            // quiet source) and a later capture would advance the
            // watermark PAST it — its changes would be stranded
            // forever (a one-batch silent divergence the maintenance
            // soak reproduced under load). Refuse RETRYABLY instead:
            // retryTransient re-enters with a fresh wait; exhausted
            // attempts kill the stream LOUDLY, naming the knob.
            if (seen.exists(!_._2) && wasLive)
              throw new graft.storage.ConcurrentWriteException(
                s"replication of $sourcePath: change batch(es) " +
                  seen.collect { case (b, false) => b }.mkString(", ") +
                  " still unmarked with the source's commit lock " +
                  s"live after ${waitMs} ms — a capture outlived the " +
                  s"bounded wait; raise $ReplicateLockWaitKey if " +
                  "captures legitimately run longer")
            val stamps = seen.collect { case (b, true) => b }.sorted
            if (stamps.nonEmpty) {
              // the replay feed is built FRESH, after every wait: the
              // initial listing can catch a capture's parquet job
              // mid-commit and index only part of its files — replaying
              // a now-committed batch through that stale index would
              // apply a SUBSET of its rows and advance the watermark
              // past the rest (silent divergence). Each batch's files
              // are complete before its marker lands, so a post-wait
              // listing sees committed batches whole.
              val feed = graft.storage.Merge.changeFeed(spark, sourcePath)
              var replica = storage.read(replicaPath, "delta")
              for (b <- stamps)
                replica = graft.storage.Merge.replayChanges(
                  replica, feed.filter(col("batch") === b), keyCols)
              val materialized = replica.localCheckpoint()
              // the checkpointed frame carries its shuffle partition
              // count into the rewrite's files (no exchange feeds the
              // write, so AQE cannot coalesce — guide §6); size the
              // file count from the replica's own on-disk bytes plus
              // the replayed batches'
              val approx = graft.storage.Fs
                .dataFiles(spark, replicaPath).map(_._2).sum +
                stamps.map { b =>
                  graft.storage.Fs.dataFiles(spark,
                    s"${sourcePath.stripSuffix("/")}/" +
                      s"${graft.storage.Merge.ChangesDirName}/batch=$b")
                    .map(_._2).sum
                }.sum
              storage.write(
                graft.storage.Fs.sizedForWrite(spark, materialized, approx),
                replicaPath, "delta", "overwrite")
              graft.storage.GraftLog.append(spark, replicaPath, "TXN", Nil,
                Some(txnApp -> stamps.max))
            }
          }
        }
      }
      .start()
    }
  }

  /** CONTINUOUS MATERIALIZED-VIEW MAINTENANCE: keep a
    * [[graft.storage.MatView]] fresh as its source table mutates —
    * the streaming half of the incremental-view story
    * ([[replicateStream]]'s shape, pointed at aggregates instead of a
    * replica).
    *
    * The trigger source is the table's OP LOG, not its change feed:
    * EVERY mutation — captured or not, even a feed-less uncaptured
    * delete — appends a log file as the last step of its commit, so a
    * micro-batch fires exactly when there is something for the
    * refresh to classify, with no one-batch lag (the op row IS the
    * commit record; the feed's `_commit` markers, by contrast, land
    * invisible to the file source). The micro-batch rows are a
    * trigger only; [[graft.storage.MatView.refresh]] does its own
    * op-log classification and folds, advances, or rebuilds — so the
    * maintained view stays correct across uncaptured DML, restores,
    * overwrites, and log compactions, not just clean captured merges.
    * Replays after a checkpoint recovery re-run refresh, which is
    * idempotent (the view's own watermark decides what applies).
    *
    * `pollInterval` swaps the file trigger for a rate-source clock —
    * same listing semantics, bounded staleness on a quiet source.
    * Transient races with a live COW commit (the source root's
    * two-rename swap window) are retried INSIDE the refresh; a
    * persistent failure (refused null keys, retries exhausted under a
    * hot writer) kills the stream LOUDLY — a silent skip would serve
    * a stale view as fresh.
    *
    * SAFE UNDER LIVE MAINTENANCE of the source: vacuum's
    * auto-[[graft.storage.Maintenance.compactLog]] replaces every
    * op-log file this stream has seen, and feed prunes delete change
    * batches — the trigger source ignores the vanished files (its
    * rows are never used), the refresh classifies LOG_COMPACT as
    * content-invisible, and a prune the watermark has passed is
    * invisible to the fold. StreamingOpsSpec's maintenance soak pins
    * vacuum + compaction + prune under both live streams. Should the
    * stream die anyway (host crash, retries exhausted), RESTART IT ON
    * THE SAME CHECKPOINT: recovery is idempotent — the replayed
    * trigger batch tolerates missing files and the view's own
    * watermark decides what actually applies. */
  def maintainMatView(spark: SparkSession, storage: BasicStorage,
                      viewPath: String, checkpoint: String,
                      pollInterval: Option[String] = None): StreamingQuery = {
    val meta = graft.storage.MatView.loadMeta(spark, viewPath)
    val logDir = graft.storage.GraftLog.logPath(meta.source)
    // bounds the swap-race supersession swallow below: live churn is
    // interspersed with successful refreshes, while a PERSISTENT
    // race-shaped failure (a lost data file, clock-skewed gen sweep)
    // fails every batch — after this many consecutive swallows with
    // no success in between, the stream dies loudly instead of
    // serving a permanently stale view as healthy
    val consecutiveRaceFailures =
      new java.util.concurrent.atomic.AtomicInteger(0)
    startLeased(spark, viewPath, "maintainMatView") { leaseToken =>
    listingTriggerWriter(spark, logDir, graft.storage.GraftLog.schema,
        checkpoint, pollInterval)
      .foreachBatch { (_: DataFrame, _: Long) =>
        // fencing first: a maintainer presumed crashed and taken over
        // must die here, before folding or staging anything
        graft.storage.MaintainerLease.verifyAndBeat(
          spark, viewPath, leaseToken)
        try {
          graft.storage.MatView.refresh(spark, storage, viewPath)
          consecutiveRaceFailures.set(0)
          ()
        }
        catch {
          case _: graft.storage.StaleSnapshotException =>
            // the refresh's bounded retries kept losing to commits
            // landing mid-refresh — a HOT writer, not a failure: each
            // winning commit appended the op-log file that fires the
            // NEXT micro-batch (provably unseen by this one — it
            // landed after this batch's file set was fixed), so the
            // stamp this batch failed to take is superseded, never
            // lost. Rethrowing would kill a healthy stream under
            // load. Lock-wait timeouts (possibly-crashed holder — no
            // follow-up trigger guaranteed) and every other failure
            // still propagate and stop the stream LOUDLY.
            ()
          case e if graft.storage.Txn.isSwapWindowRace(e) &&
              consecutiveRaceFailures.incrementAndGet() <= 3 &&
              (graft.storage.Fs.exists(spark,
                graft.storage.GraftLog.logPath(meta.source)) ||
               graft.storage.Fs.exists(spark,
                graft.storage.GraftLog.logPath(meta.source) + "__old")) =>
            // exhausted swap-race retries with the source's op log
            // still present: the refresh kept losing to live churn
            // (compactLog swaps, COW commits). The SAME supersession
            // argument applies — every swap this refresh could lose
            // to belongs to a mutation whose own new log file
            // (compaction output; op append, which lands AFTER its
            // data swap) fires the next micro-batch, which redoes
            // this work against the settled state. A source whose
            // log is genuinely GONE fails the probe and dies loudly —
            // and so does a race-shaped failure persisting across
            // several batches with no successful refresh in between
            // (the counter above): churn heals, breakage does not.
            ()
        }
      }
      .start()
    }
  }

  /** OPERATIONAL LAG of a maintenance target — the first question an
    * operator asks of a continuously-maintained replica or view at
    * 100 TB: how far behind the source am I? One row:
    *
    *  - `kind`            — "matview" or "replica"
    *  - `source`          — the table being followed
    *  - `applied_batch`   — the target's applied change-batch
    *                        watermark (null before the first apply)
    *  - `source_max_committed` — newest committed batch on the
    *                        source's feed (null when the feed is
    *                        empty/pruned)
    *  - `pending_batches` — committed source batches above the
    *                        watermark (what a drain would apply)
    *  - `pending_ops`     — matview only: source op-log rows past the
    *                        view's fingerprint, which counts
    *                        UNCAPTURED mutations a rebuild will need
    *                        (always 0 for a replica: its contract is
    *                        the captured feed)
    *  - `applied_age_ms`  — ms since the target last committed an
    *                        apply (sidecar / TXN-row timestamp)
    *  - `up_to_date`      — pending_batches == 0 && pending_ops == 0
    *
    * Driver-metadata cost only: one sidecar or op-log read on each
    * side plus one feed listing — safe to poll. The probe is
    * lock-free and unsynchronized with the maintainer by design: a
    * lag probe that blocked the stream would be its own outage. */
  def lag(spark: SparkSession, path: String): DataFrame =
    lag(spark, path, None)

  /** [[lag]] with the index kinds enabled: pointed at a persisted
    * NEAR-DUP INDEX ([[graft.ops.Dedup.saveNearDupIndex]] — the
    * continuous-ingest dedup corpora's serving index) or a persisted
    * ANN INDEX ([[graft.ops.AnnIndex]] — the streaming-ANN serving
    * index), the same how-far-behind-am-I row comes back:
    *
    *  - `applied_batch`   — highest appended generation number
    *                        (`inc-N` / `corpus_codes_inc-N`; 0 =
    *                        base only)
    *  - `pending_ops`     — appended generations not yet compacted
    *                        (the serving plan carries one scan per
    *                        generation — compaction debt)
    *  - `pending_batches` — with `source` (the corpus / vector table
    *                        the index serves): source docs the index
    *                        does not cover (row-count comparison from
    *                        parquet footers; 0 for a healthy
    *                        index-before-corpus ingest). Without a
    *                        source: 0 (the index names no source
    *                        itself — pass it to enable the check)
    *  - `applied_age_ms`  — ms since the index last changed (newest
    *                        stored file; advisory)
    *  - `up_to_date`      — pending_batches == 0
    *
    * Probes are bare existence checks and footer-read counts — no
    * recoverAside anywhere (read-only by construction, like the
    * matview/replica kinds; [[graft.ops.Dedup.nearDupIndexExists]]
    * HEALS and must not be called from a poller). */
  def lag(spark: SparkSession, path: String,
          source: Option[String]): DataFrame = {
    import graft.storage.{Fs, GraftLog, MatView, Merge, Txn}
    val base = path.stripSuffix("/")
    def committedAbove(source: String, wm: Long): (Option[Long], Long) = {
      val feedDir = source.stripSuffix("/") + "/" + Merge.ChangesDirName
      val committed = Fs.listSubdirs(spark, feedDir)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .filter(Merge.isBatchCommitted(spark, source, _))
      (committed.maxOption, committed.count(_ > wm).toLong)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "kind STRING, path STRING, source STRING, applied_batch BIGINT, " +
        "source_max_committed BIGINT, pending_batches BIGINT, " +
        "pending_ops BIGINT, applied_age_ms BIGINT, up_to_date BOOLEAN")
    def frame(kind: String, source: String, applied: Option[Long],
              pendingOps: Long, ageMs: Option[Long]) = {
      val (maxC, pending) =
        committedAbove(source, applied.getOrElse(Long.MinValue))
      val row = org.apache.spark.sql.Row(kind, base, source,
        applied.map(Long.box).orNull, maxC.map(Long.box).orNull,
        Long.box(pending), Long.box(pendingOps),
        ageMs.map(Long.box).orNull,
        Boolean.box(pending == 0L && pendingOps == 0L))
      spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
    }
    // read-only probes throughout: loadMeta/isManagedTable HEAL crash
    // asides, which would make this poller a writer able to roll back
    // the live maintainer's in-flight sidecar swap — the loader here
    // never heals, and the managed-table check is a bare existence
    // probe. A mid-swap poll still resolves (some complete sidecar
    // exists at every instant). The whole probe is additionally a
    // bounded lock-free read: a log/feed read racing a compaction or
    // COW swap retries instead of killing the poll (not-a-target
    // refusals are IllegalArgumentException — never retried).
    // index-kind helpers: generation rows built directly (the feed
    // helper above is replica/matview-shaped)
    def idxFrame(kind: String, maxGen: Long, gens: Long,
                 missing: Option[Long], ageMs: Option[Long]) = {
      val pending = missing.getOrElse(0L)
      val row = org.apache.spark.sql.Row(kind, base,
        source.map(_.stripSuffix("/")).orNull,
        Long.box(maxGen), null, Long.box(pending), Long.box(gens),
        ageMs.map(Long.box).orNull, Boolean.box(pending == 0L))
      spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
    }
    def newestFileAge(dirs: Seq[String]): Option[Long] = {
      var newest = -1L
      dirs.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val hfs = Fs.fileSystem(spark, p)
        try {
          val it = hfs.listFiles(p, true)
          while (it.hasNext) {
            val f = it.next()
            if (f.getModificationTime > newest)
              newest = f.getModificationTime
          }
        } catch { case _: java.io.FileNotFoundException => () }
      }
      if (newest < 0) None
      else Some(System.currentTimeMillis() - newest)
    }
    graft.storage.Txn.retryTransient(maxAttempts = 3) {
    val asMatview =
      try Some(MatView.loadMetaReadOnly(spark, base))
      catch { case _: IllegalArgumentException => None }
    val isNearDupIdx = !asMatview.isDefined &&
      Seq("params", "bands", "shingles")
        .forall(d => Fs.exists(spark, s"$base/$d"))
    val isAnnIdx = !asMatview.isDefined && !isNearDupIdx &&
      Fs.exists(spark, s"$base/ivf_centroids") &&
      Fs.exists(spark, s"$base/pq_codebooks")
    if (isNearDupIdx) {
      // the continuous-ingest near-dup serving index: generations
      // applied, compaction debt, and (with the corpus named)
      // coverage — the ingest appends index-BEFORE-corpus, so a
      // healthy drained pair covers every corpus doc
      val incs = Fs.listSubdirs(spark, base).filter(_.matches("inc-\\d+"))
        .map(_.stripPrefix("inc-").toLong).sorted
      val bandDirs = s"$base/bands" +: incs.map(n => s"$base/inc-$n/bands")
      // DISTINCT indexed ids, not rows/bands: the documented
      // at-least-once index-before-corpus crash replay double-indexes
      // a doc across two generations, and a row-count estimate would
      // let those surplus rows mask a genuinely uncovered corpus doc
      // — the exact divergence this surface exists to expose (the
      // ANN branch counts distinct __cid for the same reason)
      val indexedDocs = spark.read.parquet(bandDirs: _*)
        .select("id").distinct().count()
      val missing = source.map { src =>
        math.max(0L,
          spark.read.parquet(src.stripSuffix("/")).count() - indexedDocs)
      }
      val age = newestFileAge(
        if (incs.nonEmpty) Seq(s"$base/inc-${incs.max}")
        else Seq(s"$base/bands"))
      idxFrame("neardup-index", incs.lastOption.getOrElse(0L),
        incs.size.toLong, missing, age)
    } else if (isAnnIdx) {
      // the served ANN index: coded-corpus generations, compaction
      // debt, and (with the vector table named) coverage of the
      // coded corpus
      val incs = Fs.listSubdirs(spark, base)
        .filter(_.matches("corpus_codes_inc-\\d+"))
        .map(_.stripPrefix("corpus_codes_inc-").toLong).sorted
      val codeDirs =
        (if (Fs.exists(spark, s"$base/corpus_codes"))
          Seq(s"$base/corpus_codes") else Nil) ++
          incs.map(n => s"$base/corpus_codes_inc-$n")
      val missing = source.map { src =>
        val srcCnt = spark.read.parquet(src.stripSuffix("/")).count()
        // one coded row per (vector, probed cell) — corpusSpill
        // assigns a vector to several cells — so coverage counts
        // DISTINCT vector ids (`__cid`, the stored id column), not rows
        val coded =
          if (codeDirs.isEmpty) 0L
          else spark.read.parquet(codeDirs: _*)
            .select("__cid").distinct().count()
        math.max(0L, srcCnt - coded)
      }
      // the _generation nonce rewrites on every mutation — its mtime
      // is the last-changed instant
      val age = newestFileAge(Seq(s"$base/_generation"))
      idxFrame("ann-index", incs.lastOption.getOrElse(0L),
        incs.size.toLong, missing, age)
    } else if (asMatview.isDefined) {
      val meta = asMatview.get
      // snapshotReadOnly, not snapshot: the healing isManagedTable
      // inside Txn.snapshot can rename a parked op log aside from
      // this poller (stale-lock-gated, but a compactLog holder paused
      // past the timeout is exactly the edge) — the poll must stay a
      // reader by construction
      val snap = Txn.snapshotReadOnly(spark, meta.source)
      val sidecar =
        new org.apache.hadoop.fs.Path(base + "/" + MatView.SidecarName)
      val age = try Some(System.currentTimeMillis() -
        Fs.fileSystem(spark, sidecar).getFileStatus(sidecar)
          .getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
      frame("matview", meta.source,
        Some(meta.lastBatch).filter(_ != Long.MinValue),
        math.max(0L, snap.entries - meta.logEntries), age)
    } else if (Fs.exists(spark, GraftLog.logPath(base)) ||
        // a compactLog swap parks the op log aside for two renames —
        // aside-aware like isManagedTable, but NEVER healing from a
        // poller (read-only by contract)
        Fs.exists(spark, GraftLog.logPath(base) + "__old")) {
      // read the log from whichever side is PRESENT (the
      // snapshotReadOnly rule): GraftLog.history reads only the live
      // path, so a poll landing in the parked-aside window — the
      // exact edge the guard above admits — would otherwise die on
      // the missing live dir instead of serving the complete parked
      // copy
      val lp = GraftLog.logPath(base)
      val logDir = if (Fs.exists(spark, lp)) lp else lp + "__old"
      val recs = GraftLog.readRecordsDir(spark, logDir)
      if (recs.isEmpty)
        // a compactLog swap can complete between the exists probes and
        // this read (swapInStaged deletes __old LAST, so the chosen
        // side may vanish mid-probe and list nothing). The old
        // spark.read threw a retryable PATH_NOT_FOUND in this window;
        // keep that classification (isSwapWindowRace → the enclosing
        // retryTransient re-probes) instead of the PERMANENT
        // not-a-replica refusal below, which would misreport a healthy
        // replica to a poller that raced one swap.
        throw new java.io.FileNotFoundException(
          s"op log $logDir read empty mid-probe (compaction swap " +
            "window); retry")
      val rows = recs.filter(r =>
        r.txnApp.exists(_.startsWith("graft_replicate:")) &&
          r.txnBatch.isDefined)
      if (rows.isEmpty)
        throw new IllegalArgumentException(
          s"$path is neither a matview (no ${MatView.SidecarName}) " +
            "nor a maintained replica (no graft_replicate TXN records)")
      // the raw log read above carries no ordering — pick the NEWEST
      // record's app for the reported source (a re-pointed replica
      // must report where it replicates FROM now, not arbitrary
      // parquet file order)
      val newestApp = rows.maxBy(_.tsMicros).txnApp.get
      val source = newestApp.stripPrefix("graft_replicate:")
      // applied/age scoped to the CURRENT source's records — a
      // re-pointed replica pairing the new source with the OLD
      // source's (typically much higher) batch stamp would read as
      // caught-up while genuinely behind
      val current = rows.filter(_.txnApp.contains(newestApp))
      val applied = current.map(_.txnBatch.get).max
      val age = System.currentTimeMillis() -
        current.map(_.tsMicros).max / 1000L
      frame("replica", source, Some(applied), 0L, Some(age))
    } else
      throw new IllegalArgumentException(
        s"$path is neither a matview nor a managed replica")
    } // retryTransient
  }

  /** Per-key running totals via Spark 4's `transformWithState` — the
    * arbitrary-state successor to mapGroupsWithState: typed state
    * handles (ValueState here; List/Map state and TTL for richer
    * shapes) stored in the RocksDB state store, so per-key state is
    * bounded (two longs) and spill-safe at any key cardinality. Each
    * micro-batch emits one cumulative snapshot row per TOUCHED key —
    * the incremental-materialized-view shape: downstream consumers
    * read the latest row per key instead of re-aggregating history.
    *
    * Money rides as pre-quantized integer cents ([[graft.queries
    * .Tables.iscale]] semantics): the running sum is exact and
    * arrival-order independent, which is what lets the full-history
    * oracle hash-match the stream's final state.
    *
    * Dual-mode like [[sessionizeStream]]: on a batch frame Spark runs
    * the same processor once per key (state starts empty, one
    * handleInputRows call with all rows), so the batch result IS the
    * stream's final per-key state — StreamingOpsSpec pins it.
    * Streaming runs need the RocksDB state store provider
    * ([[withRocksDbProvider]] scopes it). */
  def runningTotals(events: DataFrame, keyCol: String,
                    centsCol: String): Dataset[KeyTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    // Batch-mode transformWithState still checks out a (transient)
    // state store, and executors resolve it through the
    // StateStoreCoordinator RPC endpoint — which only registers when
    // the StreamingQueryManager is instantiated. A pure-batch session
    // that never started a stream has no endpoint and the store load
    // fails; touching the manager registers it (idempotent).
    spark.streams
    events
      .select(col(keyCol).cast("long"), col(centsCol).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Last-N feature assembly via transformWithState ListState — the
    * online-feature-store shape: per key, the N most recent values
    * (by a monotone order column) held as BOUNDED list state and
    * re-emitted as a ready-to-serve feature row each time the key is
    * touched. State per key is ≤ N (orderId, value) pairs plus one
    * counter — independent of stream length; a naive window over the
    * raw stream could not stream at all (no rank windows on streams),
    * and `collect_list` state would grow forever.
    *
    * Emission: (key, n_seen, recent) where `recent` joins the values
    * newest-first — n_seen strictly grows per key, so the final
    * snapshot per key is `max_by(recent, n_seen)`, and on a batch
    * frame (one invocation per key, empty state) the result IS that
    * final snapshot — which is what the full-history SQL oracle
    * checks. Same dual-mode + RocksDB contract as [[runningTotals]]. */
  def recentFeatures(events: DataFrame, keyCol: String, orderCol: String,
                     valCol: String, n: Int): Dataset[RecentFeatures] = {
    require(n > 0, s"n must be positive, got $n")
    val spark = events.sparkSession
    import spark.implicits._
    spark.streams // register the StateStoreCoordinator (see runningTotals)
    events
      .select(col(keyCol).cast("long"), col(orderCol).cast("long"),
        col(valCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentFeaturesProcessor(n), TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-key categorical counters via transformWithState MapState —
    * the third state primitive (Value/List/Map) exercised for real:
    * each key holds a map category → count in the RocksDB store, and
    * every batch that touches the key re-emits the key's FULL current
    * histogram. State per key is O(categories actually seen by that
    * key) — for a histogram over a bounded category vocabulary (event
    * types, languages, labels) that's a handful of entries per key
    * regardless of stream length; a streaming groupBy(key, category)
    * could count too, but could never emit the per-key histogram as
    * one consistent row set per batch. Dual-mode + RocksDB contract
    * as [[runningTotals]]. */
  def categoryCounts(events: DataFrame, keyCol: String,
                     catCol: String): Dataset[CategoryCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    spark.streams // register the StateStoreCoordinator (see runningTotals)
    events
      .select(col(keyCol).cast("long"), col(catCol).cast("string"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new CategoryCountsProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Idle-key expiry via transformWithState EVENT-TIME TIMERS — the
    * state primitive the Value/List/Map trio doesn't cover: the
    * engine calls YOU when a key has been quiet past `gapSeconds` of
    * event time (watermark-driven, so a stalled source never
    * false-expires anyone). Each batch re-arms the key's single
    * timer at (last event + gap); expiry emits the key's final
    * profile and clears its state — bounded state AND bounded timer
    * count (one per live key). The abandoned-cart / dead-session /
    * lost-device detector shape.
    *
    * Streaming-only by nature (timers never fire on a batch frame);
    * the declared query drives a REAL stream whose watermark is
    * pushed past every key, so the emission set equals the
    * full-history per-key profile — the oracle. */
  def inactivityExpiry(events: DataFrame, keyCol: String, tsCol: String,
                       gapSeconds: Long,
                       watermarkDelay: String = "10 minutes")
    : Dataset[ExpiredKey] = {
    val spark = events.sparkSession
    import spark.implicits._
    spark.streams // register the StateStoreCoordinator (see runningTotals)
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    src.select(col(keyCol).cast("long"), col(tsCol).cast("timestamp"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** transformWithState only runs on the RocksDB state store; scope
    * the provider conf to `body` and restore the previous value so
    * co-resident HDFS-backed streaming queries are unaffected. */
  def withRocksDbProvider[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** Cumulative per-key snapshot emitted by
  * [[StreamingOps.runningTotals]] each micro-batch. */
case class KeyTotals(user_id: Long, n_events: Long, total_cents: Long)

/** The [[StreamingOps.runningTotals]] state machine: one ValueState
  * cell of (event count, exact integer cents) per key. */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), KeyTotals] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TimeMode => TM, TimerValues,
    TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TM): Unit =
    totals = getHandle.getValueState("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[KeyTotals] = {
    var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { r => n += 1; cents += r._2 }
    totals.update((n, cents))
    Iterator.single(KeyTotals(key, n, cents))
  }
}

/** One (key, category) histogram entry emitted by
  * [[StreamingOps.categoryCounts]] — counts are cumulative, so the
  * final snapshot per (key, category) is the max. */
case class CategoryCount(user_id: Long, category: String, cnt: Long)

/** The [[StreamingOps.categoryCounts]] state machine: one MapState
  * (category → running count) per key. */
class CategoryCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), CategoryCount] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TimeMode => TM, TimerValues,
    TTLConfig, MapState}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TM): Unit =
    counts = getHandle.getMapState("counts", Encoders.STRING,
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timers: TimerValues): Iterator[CategoryCount] = {
    rows.foreach { case (_, cat) =>
      val cur = if (counts.containsKey(cat)) counts.getValue(cat) else 0L
      counts.updateValue(cat, cur + 1L)
    }
    // emit the key's full current histogram, deterministically ordered
    counts.iterator().toArray.sortBy(_._1).iterator
      .map { case (cat, c) => CategoryCount(key, cat, c) }
  }
}

/** Final profile of a key whose event-time inactivity gap elapsed,
  * emitted by [[StreamingOps.inactivityExpiry]]'s timer path. */
case class ExpiredKey(user_id: Long, last_seen: Long, n_events: Long)

/** The [[StreamingOps.inactivityExpiry]] state machine: per-key
  * (last epoch-second, event count) ValueState plus ONE re-armed
  * event-time timer. */
class InactivityProcessor(gapSeconds: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), ExpiredKey] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TimeMode => TM, TimerValues,
    TTLConfig, ValueState, ExpiredTimerInfo}

  @transient private var last: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TM): Unit =
    last = getHandle.getValueState("last",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, java.sql.Timestamp)],
      timers: TimerValues): Iterator[ExpiredKey] = {
    val (prevLast, n0) =
      if (last.exists()) last.get() else (Long.MinValue, 0L)
    var newest = prevLast
    var n = n0
    rows.foreach { r =>
      n += 1
      val ep = r._2.getTime / 1000
      if (ep > newest) newest = ep
    }
    last.update((newest, n))
    // one live timer per key: disarm the stale one, re-arm at the
    // new inactivity deadline
    if (prevLast != Long.MinValue && newest != prevLast)
      getHandle.deleteTimer((prevLast + gapSeconds) * 1000)
    if (newest != prevLast)
      getHandle.registerTimer((newest + gapSeconds) * 1000)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[ExpiredKey] = {
    val (seen, n) = if (last.exists()) last.get() else (Long.MinValue, 0L)
    // only the CURRENT deadline expires a key — a stale timer that
    // raced a same-batch re-arm must not clear live state
    if (seen != Long.MinValue &&
        expired.getExpiryTimeInMs() == (seen + gapSeconds) * 1000) {
      last.clear()
      Iterator.single(ExpiredKey(key, seen, n))
    } else Iterator.empty
  }
}

/** Per-key feature snapshot emitted by
  * [[StreamingOps.recentFeatures]]: total rows seen and the newest-N
  * values joined newest-first (string form — unambiguous to compare
  * across engines). */
case class RecentFeatures(user_id: Long, n_seen: Long, recent: String)

/** The [[StreamingOps.recentFeatures]] state machine: bounded
  * ListState of the newest `n` (orderId, value) pairs + a ValueState
  * row counter per key. */
class RecentFeaturesProcessor(n: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), RecentFeatures] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TimeMode => TM, TimerValues,
    TTLConfig, ListState, ValueState}

  @transient private var recent: ListState[(Long, Long)] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TM): Unit = {
    recent = getHandle.getListState("recent",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
    seen = getHandle.getValueState("seen", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[RecentFeatures] = {
    val incoming = rows.map(r => (r._2, r._3)).toArray
    val held = if (recent.exists()) recent.get().toArray
               else Array.empty[(Long, Long)]
    // newest-first by the monotone order id; bounded to n before it
    // ever re-enters state
    val merged = (held ++ incoming).sortBy(-_._1).take(n)
    recent.put(merged)
    val total = (if (seen.exists()) seen.get() else 0L) + incoming.length
    seen.update(total)
    Iterator.single(
      RecentFeatures(key, total, merged.map(_._2).mkString(",")))
  }
}
