package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one [[MatView.refresh]] call. `mode` is the path taken:
  *  - `"noop"`        — the source op log has not moved; nothing read.
  *  - `"source-crashed"` — the op log has not moved but a change batch
  *                      newer than the view's watermark sits on disk
  *                      with NO live writer holding the source's
  *                      commit lock: a mutation crashed mid-commit
  *                      (possibly after its data swap landed), so the
  *                      table's visible content may be ahead of its
  *                      log. The state is NOT touched — it still
  *                      equals the last COMMITTED source state — and
  *                      the window heals on the next op-log motion
  *                      (vacuum's crash fence, or the next mutation),
  *                      which forces a rebuild. Surfaced as its own
  *                      mode so operators can alert instead of
  *                      mistaking the window for a clean noop.
  *  - `"advance"`     — only content-invisible ops landed (OPTIMIZE,
  *                      constraint DDL); stamps advanced, state untouched.
  *  - `"incremental"` — the new change batches were folded in; only
  *                      `batchesApplied` batches and `groupsRescanned`
  *                      poisoned groups were read, never the full table.
  *  - `"rebuild"`     — something the feed cannot explain happened
  *                      (uncaptured mutation, RESTORE, ALTER, WAP
  *                      publish, crashed capture debris, feed prune);
  *                      the state was recomputed from the current
  *                      snapshot. Always correct, never silent.
  */
case class MatViewRefresh(mode: String, batchesApplied: Long,
                          groupsRescanned: Long)

/** Materialized aggregate views over managed tables, refreshed from
  * the Change Data Feed — Delta/Snowflake-style incremental view
  * maintenance re-expressed on this engine's own CDF sidecar
  * ([[Merge.changeFeed]]).
  *
  * A view is per-key decomposable partials — `cnt`, and per value
  * column `nncnt` (values contributing to sum: non-null after the
  * decimal cast), decimal-exact `sum`, and (in min/max mode) `min`,
  * `max`. Derived forms (avg, ratios) are computed at read time,
  * never stored, so the state stays mergeable (the [[graft.ops
  * .IncrementalAgg]] discipline, extended with `nncnt` so SQL null
  * semantics survive deletes: a group whose non-null values are all
  * gone reads `sum = null`, exactly what a recompute would say).
  *
  * Two axes beyond the single-metric shape:
  *  - MULTIPLE value columns (`valueCols`): one feed read and one
  *    state swap amortized across all metrics — at 100 TB, N metrics
  *    over the same keys cost one refresh, not N. With more than one
  *    value column the stats are suffixed (`sum_x`, `min_y`); the
  *    single-column shape keeps the unsuffixed legacy names.
  *  - A NO-MIN/MAX mode (`withMinMax = false`): every stored partial
  *    is abelian (cnt, nncnt, sum), so deletes fold exactly and the
  *    refresh NEVER attaches the fact table — no rescan branch
  *    exists. Strictly cheaper under heavy deletes; the mode for
  *    sum/count/avg rollups that don't need extremes.
  *
  * Why this exists at 100 TB: a daily metrics rollup over a 100 TB
  * fact table costs a full scan per refresh if recomputed; from the
  * feed it costs O(|changes| + |affected groups|). The refresh folds
  * signed deltas — insert / update_postimage add, delete /
  * update_preimage subtract — which is exact for the abelian partials
  * (cnt, nncnt, sum). min/max are NOT invertible under deletes, so a
  * group is rescanned from the current table iff a removed value ties
  * or crosses its stored extreme (equality is the only reachable
  * case — a removed value below the stored min was never in the
  * group — but the guard is `<=`/`>=` for safety); the rescan is a
  * semi-join on the poisoned keys, touching those groups' rows only.
  *
  * Correctness against everything ELSE that can happen to a managed
  * table is delegation, not cleverness: the refresh classifies every
  * op-log row since its recorded fingerprint and takes the
  * incremental path ONLY when each new op is a captured MERGE/DELETE
  * whose batch is present and committed (plus content-invisible
  * OPTIMIZE / constraint DDL). Any other op — uncaptured mutation,
  * overwrite WRITE, RESTORE, ALTER, WAP_PUBLISH, MoR delete, feed
  * prune, vacuum's crash barrier — and any count mismatch between
  * mutation ops and committed batches triggers a full REBUILD from
  * the current snapshot. The view can therefore be stale (until the
  * next refresh) but never wrong.
  *
  * ALTER on the source: the sidecar records each key/value column's
  * PHYSICAL name alongside the logical one, so a metadata-only
  * RENAME ([[Alter]] via [[ColumnMapping]]) re-resolves on the next
  * rebuild — the view's output columns follow the source's new
  * logical names, exactly as a recompute would. A DROP of a view
  * column (or a rewrite that materialized the mapping away from the
  * recorded physical name) refuses loudly with the view, the column,
  * and the remedy (recreate the view) in the message.
  *
  * Concurrency: the refresh never locks the source while COMPUTING.
  * It fingerprints the op log ([[Txn.snapshot]]) before reading,
  * materializes the new state into a staging dir, and only then
  * gates the swap: first wait for the source's commit lock to be
  * free, then [[Txn.assertUnchanged]], then swap. The probe ORDER is
  * load-bearing — see [[commitState]]: data can be visible without
  * its op-log row ONLY while a writer holds the commit lock, so
  * lock-free-then-log-unmoved (checked after every source read)
  * proves the reads saw exactly the fingerprinted state; a writer
  * committing mid-refresh turns the attempt into a retry (bounded by
  * `maxAttempts`), not a torn or double-folding view. State and the
  * applied-batch watermark can never disagree: a rebuild's sidecar
  * rides the state's own atomic rename, and an incremental refresh's
  * sidecar swap IS the commit point (see BUCKETED STATE). The view
  * itself assumes a single maintainer, like every index sidecar in
  * this engine.
  *
  * BUCKETED STATE (the 100 TB commit story): the fold was always
  * |changes|-sized, but a single-dir state would make the COMMIT
  * |state|-sized — a one-row delta against a 10⁹-key per-user rollup
  * would rewrite the whole state parquet, quietly dominating every
  * refresh. The state is therefore hash-bucketed by key (the
  * sidecar's `buckets`) into immutable
  * GENERATION dirs `g<gen>/b<bucket>` (generation-outer, so the
  * staged generation publishes with ONE atomic dir rename and one
  * birth stamp, see [[bucketDirName]]), resolved through a manifest in
  * the sidecar (`bucketGens`). An incremental refresh reads ONLY the
  * buckets its delta keys hash to (a key absent from the delta cannot
  * live elsewhere — same hash), stages their new generation, and
  * commits everything in the single atomic sidecar swap; untouched
  * buckets are never opened, let alone rewritten.
  *
  * The bucket count is set at create ([[StateBucketsKey]], default
  * [[StateBucketsDefault]]) and kept by every commit that leaves some
  * live bucket untouched, and by every rebuild. It changes in one place: an incremental refresh
  * whose delta hashes into EVERY live bucket is a whole-state rewrite
  * already, so bucketing saved it nothing but paid one small file per
  * bucket. That commit restages the state at
  * `ceil(stateBytes / spark.sql.files.openCostInBytes)` buckets,
  * clamped to [1, [[StateBucketsDefault]]] — Spark's own estimate of
  * what opening a file costs, against the replaced state's on-disk
  * bytes from the fold read's file listing — and its manifest names
  * only the staged buckets. A small view thus settles at one bucket
  * (whose refreshes always cover it) and grows again as its state
  * crosses multiples of the open cost. Setting [[StateBucketsKey]]
  * pins the count for create and every refresh. Superseded and
  * crash-orphaned generations are unreferenced debris, swept past a
  * grace age ([[GenGraceKey]]) that doubles as the snapshot window
  * for lock-free readers whose file list was resolved through the
  * previous sidecar. A per-bucket rename-commit (PartitionSwap) was
  * REJECTED: its heal rolls completed leaf swaps forward while the
  * sidecar still holds the old watermark, so a crash mid-commit
  * would double-fold the same deltas on the next refresh.
  *
  * ON-DISK FORMAT: one epoch. The sidecar records it (`layout` =
  * [[Layout]], `buckets` >= 1); a view written in any other format —
  * the single-dir or bucket-outer trees of older builds — is refused
  * with a recreate hint by every load, never read or committed.
  *
  * CRASHED-WRITER WINDOW (named, not silent): a source writer that
  * dies after its data swap landed but before its op-log append
  * leaves new content visible with the log unmoved. A refresh in
  * that window reports `"source-crashed"` (detected via the orphan
  * change batch + no LIVE lock — i.e. no holder, or a holder whose
  * lock aged past the txn timeout; a hard process crash leaves its
  * lock behind, and that stale debris is part of the signature, not
  * a reason to report noop) instead of `"noop"`, and the state
  * keeps answering for the last COMMITTED source state — stale,
  * never wrong — until vacuum's fence or the next mutation moves the
  * log and forces the rebuild. An UNCAPTURED crashed writer leaves
  * no batch dir to detect, but also leaves the commit lock behind,
  * which [[commitState]]'s gate refuses to stamp past; its window
  * reads as `"noop"` until the same heal.
  *
  * Extension surface (SURVEY §2.11): the incremental-metrics pattern
  * `q_incremental_agg` / `q_state_refresh` gesture at, completed —
  * those fold append-only batches the caller hands over; this folds
  * the table's OWN change feed, under arbitrary captured DML.
  */
object MatView {

  val SidecarName = "_graft_matview.json"

  /** How long [[commitState]] waits for the source's commit lock to
    * free before refusing the swap (the writer may be mid-commit with
    * data visible ahead of its op-log row). Bounded: a crashed holder
    * fails the refresh loudly instead of wedging it. */
  val LockWaitKey = "spark.graft.matviewLockWaitMs"
  val LockWaitDefaultMs: Long = 10000L

  /** Pins the hash-bucket count of a view's state (>= 1): a new view
    * is created with it, and no refresh changes it. Unset, a view is
    * created with [[StateBucketsDefault]] buckets and a refresh whose
    * delta covers every live bucket restages the state at a
    * size-derived count (see BUCKETED STATE in the object doc). A
    * refresh commit rewrites only the buckets containing
    * changed/rescanned keys — |changes|-bucket-sized, never
    * |state|-sized. */
  val StateBucketsKey = "spark.graft.matviewStateBuckets"
  val StateBucketsDefault: Int = 32

  /** Grace age before an UNREFERENCED state generation dir (debris
    * from a superseded refresh or a crash before the sidecar commit)
    * is swept — the window a lock-free reader that resolved its file
    * list from the previous sidecar gets to finish its scan. */
  val GenGraceKey = "spark.graft.matviewGenGraceMs"
  val GenGraceDefaultMs: Long = 900000L

  /** Feed-bytes ceiling under which an incremental refresh COLLECTS
    * its aggregated delta to a driver LocalRelation instead of
    * localCheckpoint-ing it — removing one full Spark job per refresh
    * and making the affected-bucket probe a local scan. Probed from a
    * driver file listing of the new batch dirs (no job). The
    * aggregated delta has at most one row per changed key, so its
    * size is bounded by the probed feed bytes; the steady-state
    * micro-batch delta of a continuously-maintained view is KBs. */
  val LocalDeltaBytesKey = "spark.graft.matviewLocalDeltaBytes"
  val LocalDeltaBytesDefault: Long = 4L * 1024 * 1024

  /** Staging-only bucket column name (never stored in data files —
    * it becomes the partition dir and is dropped on the rename). */
  private[storage] val BucketCol = "__graft_sb"

  /** Ops the feed fully explains (captured mutations) — one committed
    * change batch each. */
  private val MutationOps = Set("MERGE", "DELETE")

  /** Ops that cannot change table content — safe to step across. */
  private val InvisibleOps = Set("OPTIMIZE", "ADD_CONSTRAINT",
    "DROP_CONSTRAINT", "LOG_COMPACT")

  /** The one state-tree layout this build reads and writes
    * (generation-outer `g<gen>/b<bucket>`), stamped into every
    * sidecar; any other value is an older format and is refused. */
  private val Layout = 2

  /** `schemaJson` is the state schema as Spark schema-JSON — the
    * empty-view lifeline: an all-rows-deleted refresh writes a parquet
    * dir with ZERO part files (Spark writes none for an empty frame),
    * and without the recorded schema the next read would die in
    * inference and wedge the view (the same failure mode
    * [[GraftLog.schemaSidecar]] exists for on tables).
    *
    * `keyPhys`/`valuePhys` are the columns' PHYSICAL names at create
    * time (identity unless the source carries a column mapping) — the
    * stable identity a later mapped RENAME re-resolves through.
    * `minMax` selects the state shape (see the object doc).
    *
    * `buckets`/`stateGen`/`bucketGens` describe the BUCKETED state
    * (see the object doc): `buckets` = hash-bucket count (set at
    * create, restaged only by a full-coverage refresh), `stateGen` =
    * monotone refresh counter, `bucketGens` = the
    * live generation per non-empty bucket — the manifest readers
    * resolve state dirs through. */
  case class Meta(source: String, keys: Seq[String],
                  valueCols: Seq[String], minMax: Boolean,
                  lastBatch: Long, logEntries: Long, logMaxSeq: Long,
                  schemaJson: String, keyPhys: Seq[String],
                  valuePhys: Seq[String], buckets: Int,
                  stateGen: Long = 0L,
                  bucketGens: Map[Int, Long] = Map.empty) {
    /** Single-value views keep the unsuffixed legacy stat names. */
    def statName(stat: String, c: String): String =
      if (valueCols.size == 1) stat else s"${stat}_$c"
  }

  private def sidecarPath(viewPath: String): String =
    viewPath.stripSuffix("/") + "/" + SidecarName

  // ------------------------------------------------------- sidecar IO

  private def metaJson(m: Meta): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("source" -> m.source) ~ ("keys" -> m.keys) ~
        ("valueCols" -> m.valueCols) ~ ("minMax" -> m.minMax) ~
        ("lastBatch" -> m.lastBatch) ~
        ("logEntries" -> m.logEntries) ~ ("logMaxSeq" -> m.logMaxSeq) ~
        ("schemaJson" -> m.schemaJson) ~ ("keyPhys" -> m.keyPhys) ~
        ("valuePhys" -> m.valuePhys) ~ ("buckets" -> m.buckets) ~
        ("stateGen" -> m.stateGen) ~
        ("bucketGens" -> m.bucketGens.map {
          case (b, g) => b.toString -> g }) ~
        ("layout" -> Layout)))
  }

  private def saveMetaInto(spark: SparkSession, dir: String,
                           m: Meta): Unit =
    Fs.writeText(spark, dir.stripSuffix("/") + "/" + SidecarName,
      metaJson(m))

  def loadMeta(spark: SparkSession, viewPath: String): Meta = {
    val base = viewPath.stripSuffix("/")
    Fs.recoverAside(spark, base)
    val sc = sidecarPath(base)
    // the advance path swaps the sidecar FILE alone — heal its aside
    // too, or a crash between its two renames (live gone, __old
    // present) would brick every later refresh on a healthy view
    Fs.recoverAside(spark, sc)
    if (!Fs.exists(spark, sc))
      throw new IllegalArgumentException(
        s"$viewPath is not a materialized view (no $SidecarName)")
    parseMeta(viewPath, Fs.readText(spark, sc))
  }

  /** READ-ONLY meta load for pollers ([[graft.streaming.StreamingOps
    * .lag]]): NEVER heals. [[loadMeta]]'s recoverAside is correct for
    * the single maintainer but turns a poller into a WRITER — one
    * probing between swapInStaged's two renames would roll the live
    * maintainer's in-flight swap BACK and fail its commit. Some
    * complete sidecar exists at every instant (the swap contract), so
    * a lock-free reader just looks in order: live, the sidecar's own
    * aside, the view ROOT's aside (a rebuild swaps the whole dir
    * through [[Fs.swapInStaged]], whose aside is `__old`). */
  private[graft] def loadMetaReadOnly(spark: SparkSession,
                                      viewPath: String): Meta = {
    val base = viewPath.stripSuffix("/")
    val sc = sidecarPath(base)
    val candidates = Seq(sc, sc + "__old", base + "__old/" + SidecarName)
    // the exists→read pair races the maintainer's swap (a candidate
    // can vanish in between — race-tolerant, move on), and ONE scan
    // can thread a swap's renames so every probe individually misses
    // (live checked before rename-in, aside checked after its
    // delete) — some complete sidecar exists at every INSTANT, so a
    // bounded rescan always lands. The rescan runs only on EVIDENCE
    // of an in-flight swap (a candidate vanished mid-read, or the
    // staged sidecar is visible): a clean first scan that found no
    // sidecar and no swap is authoritative, so the common
    // not-a-view probe (every replica lag poll) pays 5 existence
    // checks (3 candidates + the 2 swap-evidence probes below) and
    // zero sleeps.
    var scan = 0
    var evidence = false
    while (scan < 3) {
      scan += 1
      candidates.foreach { p =>
        try {
          if (Fs.exists(spark, p))
            return parseMeta(viewPath, Fs.readText(spark, p))
        } catch {
          case e if Txn.isSwapWindowRace(e) => evidence = true
        }
      }
      // before concluding not-a-view, look for a swap that completed
      // ENTIRELY inside this scan: its staged sidecar still visible
      // (in-flight), or — the full-miss threading — the live sidecar
      // back in place even though the first probe missed it (probe
      // saw the rename-out window, the __old probe ran after the
      // aside's delete, and __tmp was already renamed in). The sc
      // re-probe closes that hole: a healthy view's sidecar exists
      // at this instant whenever a swap raced the scan, so a clean
      // miss of BOTH probes is authoritative absence.
      if (scan == 1 && !evidence)
        evidence = Fs.exists(spark, sc + "__tmp") || Fs.exists(spark, sc)
      if (!evidence) scan = 3
      else if (scan < 3) Thread.sleep(50)
    }
    if (evidence)
      // three scans each threaded by a swap: the view EXISTS (we saw
      // its machinery) — refuse retryably rather than lying
      // "not a view" to a poller racing a hot maintainer
      throw new ConcurrentWriteException(
        s"sidecar read on $viewPath kept racing the maintainer's " +
          "swaps; retry")
    throw new IllegalArgumentException(
      s"$viewPath is not a materialized view (no $SidecarName)")
  }

  /** Parse a sidecar of THIS build's on-disk format. Every field is
    * required: a missing one, a `layout` other than [[Layout]], or
    * `buckets` < 1 marks an older format (or a damaged sidecar) and is
    * refused with the fix in the message — never defaulted into a
    * half-read of a tree this build does not write. */
  private def parseMeta(viewPath: String, text: String): Meta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(text)
    def refuse(why: String): Nothing =
      throw new IllegalStateException(
        s"materialized view $viewPath: $why; this build reads only the " +
          "current on-disk format — remove the view and recreate it")
    def field[T](f: String)(pf: PartialFunction[JValue, T]): T =
      pf.applyOrElse(j \ f,
        (_: JValue) => refuse(s"sidecar field '$f' is missing or ill-typed"))
    def str(f: String) = field(f) { case JString(s) => s }
    def lng(f: String) = field(f) {
      case JInt(i) => i.toLong
      case JLong(l) => l
    }
    def strs(f: String) = field(f) {
      case JArray(items) => items.collect { case JString(s) => s }
    }
    val layout = lng("layout")
    if (layout != Layout)
      refuse(s"state layout $layout (this build reads layout $Layout)")
    val buckets = lng("buckets").toInt
    if (buckets < 1)
      refuse(s"$buckets state buckets (the single-dir state layout)")
    val bucketGens = field("bucketGens") {
      case JObject(fields) => fields.collect {
        case (b, JInt(g)) => b.toInt -> g.toLong
        case (b, JLong(g)) => b.toInt -> g
      }.toMap
    }
    Meta(str("source"), strs("keys"), strs("valueCols"),
      field("minMax") { case JBool(b) => b },
      lng("lastBatch"), lng("logEntries"), lng("logMaxSeq"),
      str("schemaJson"), strs("keyPhys"), strs("valuePhys"), buckets,
      lng("stateGen"), bucketGens)
  }

  // --------------------------------------------------------- partials

  /** Per-key (cnt, and per value column nncnt / sum / [min / max]) —
    * the stored state shape. Decimal-exact sum (partition-order
    * independent); explicit final cast keeps the type stable across
    * the fold path, whose decimal addition would otherwise widen to
    * (29,6) and fork the parquet schema between rescanned and folded
    * rows.
    *
    * `nncnt` counts the values that CONTRIBUTE TO SUM — non-null
    * after the decimal cast, not merely non-null: a value the cast
    * nulls out (overflow past decimal(28,6), NaN, Infinity) is
    * ignored by `sum` here, so the fold's null-restoration guard must
    * count by the same rule or an all-overflow group would fold to
    * sum = 0 where a recompute says NULL. min/max stay on the raw
    * values (a recompute's min ignores nothing non-null). */
  private def partials(df: DataFrame, m: Meta): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("cnt") +:
      m.valueCols.flatMap { c =>
        val vc = col(c).try_cast("decimal(28,6)")
        Seq(count(vc).as(m.statName("nncnt", c)),
          sum(vc).cast("decimal(28,6)").as(m.statName("sum", c))) ++
          (if (m.minMax)
            Seq(min(col(c)).as(m.statName("min", c)),
              max(col(c)).as(m.statName("max", c)))
          else Nil)
      }
    df.groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The state column names a key may not shadow — ONE definition for
    * the create-time guard and the post-ALTER re-resolution guard
    * ([[resolveColumns]]), so the two can't drift. min/max are only
    * reserved when the view actually stores them: a no-min/max view
    * has no `max` column for a key named `max` to collide with. */
  private def reservedNames(m: Meta): Set[String] = {
    val stats = Seq("nncnt", "sum") ++
      (if (m.minMax) Seq("min", "max") else Nil)
    ("cnt" +: m.valueCols.flatMap(c => stats.map(m.statName(_, c))))
      .map(_.toLowerCase).toSet
  }

  private def stateCols(m: Meta): Seq[String] =
    m.keys ++ ("cnt" +: m.valueCols.flatMap { c =>
      Seq(m.statName("nncnt", c), m.statName("sum", c)) ++
        (if (m.minMax) Seq(m.statName("min", c), m.statName("max", c))
        else Nil)
    })

  // --------------------------------------------------- bucketed state

  /** THE bucket function — the staging write, the affected-bucket
    * listing, and any future pruning must all hash identically, so it
    * exists exactly once. xxhash64 over the key columns natively
    * (no string round-trip); null keys are refused before any hash. */
  private def bucketIdCol(m: Meta): Column =
    pmod(xxhash64(m.keys.map(col): _*), lit(m.buckets.toLong)).cast("int")

  /** State-dir naming (layout [[Layout]]) — zero-padded for stable
    * listings; the names carry no `=` so nothing ever partition-infers
    * them. `g000000000012/b00007` is GENERATION-outer, so an
    * incremental commit publishes its whole generation with ONE atomic
    * dir rename and ONE birth stamp (guide §6 metadata-op budget: a
    * bucket-outer tree would pay |affected buckets| renames + stamps +
    * mkdirs + exists probes per refresh — 32 at default buckets,
    * multiplied on object stores where rename is a copy). */
  private def genDirName(gen: Long): String = f"g$gen%012d"

  private def bucketDirName(bucket: Int, gen: Long): String =
    genDirName(gen) + f"/b$bucket%05d"

  private def stateSchema(m: Meta): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Zero-row state frame with the sidecar's recorded schema — the
    * all-groups-deleted (or brand-new-bucket) lifeline. */
  private def emptyState(spark: SparkSession, m: Meta): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      stateSchema(m))

  /** The live state, resolved through the manifest — optionally only
    * the `affected` buckets: the refresh fold reads exactly the
    * buckets its delta keys hash to, because a key absent from the
    * delta cannot live in any other bucket (same hash). Read with the
    * sidecar's recorded schema, so no Spark job infers it from a
    * footer. */
  private def readState(spark: SparkSession, base: String, m: Meta,
                        affected: Option[Set[Int]] = None): DataFrame = {
    val dirs = m.bucketGens.toSeq
      .filter { case (b, _) => affected.forall(_.contains(b)) }
      .sortBy(_._1)
      .map { case (b, g) => s"$base/${bucketDirName(b, g)}" }
    if (dirs.isEmpty) emptyState(spark, m)
    else spark.read.schema(stateSchema(m)).parquet(dirs: _*)
  }

  /** On-disk bytes of the files a [[readState]] frame scans — from the
    * file listing the read already made on the driver, so no job and
    * no extra listing. 0 for the empty lifeline. */
  private def listedBytes(state: DataFrame): Long =
    state.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location.sizeInBytes
    }.sum

  /** The size-derived bucket count a full-coverage refresh restages
    * at (see BUCKETED STATE): one bucket per
    * `spark.sql.files.openCostInBytes` of state, in
    * [1, [[StateBucketsDefault]]]. */
  private def sizedBuckets(spark: SparkSession, stateBytes: Long): Int = {
    val openCost = math.max(1L, spark.sessionState.conf.filesOpenCostInBytes)
    math.min(StateBucketsDefault.toLong,
      math.max(1L, (stateBytes + openCost - 1) / openCost)).toInt
  }

  /** Write `state` hash-bucketed under `intoDir` as generation `gen`
    * dirs `g<gen>/b<i>`, one file per bucket (the repartition keys
    * each bucket to one task).
    * Returns the bucket ids that got rows — a bucket with no surviving
    * keys stages nothing. */
  private def stageBuckets(spark: SparkSession, state: DataFrame,
                           m: Meta, intoDir: String,
                           gen: Long): Seq[Int] = {
    val stage = intoDir.stripSuffix("/") + "/__stage"
    state.withColumn(BucketCol, bucketIdCol(m))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).parquet(stage)
    val fs = Fs.fileSystem(spark, new org.apache.hadoop.fs.Path(intoDir))
    val ids = Fs.listSubdirs(spark, stage)
      .filter(_.startsWith(BucketCol + "="))
      .map(_.stripPrefix(BucketCol + "=").toInt)
    // birth stamp BEFORE any rename toward place, so every gen dir
    // carries its creation millis IN A NAME from its first instant —
    // [[sweepStaleGens]] ages orphans by this, never by file mtimes
    // (object-store mtimes can be synthetic/upload-batched, and a
    // fresh crash orphan with batched mtimes could otherwise age
    // instantly past grace while a reader resolved through the
    // previous sidecar still scans it). Underscore-named — parquet
    // reads never see it. The GENERATION dir is stamped once (all its
    // buckets are born together).
    val root = intoDir.stripSuffix("/")
    val genDir = s"$root/${genDirName(gen)}"
    fs.mkdirs(new org.apache.hadoop.fs.Path(genDir))
    Fs.touch(spark, s"$genDir/$GenBornPrefix${System.currentTimeMillis()}")
    ids.foreach { b =>
      Fs.renameChecked(spark, s"$stage/$BucketCol=$b",
        s"$root/${bucketDirName(b, gen)}")
    }
    Fs.deleteChecked(spark, stage)
    ids
  }

  /** Birth-stamp marker file inside every staged generation dir:
    * `_graft_born_<creationMillis>` — the age authority for
    * [[sweepStaleGens]]. */
  private[storage] val GenBornPrefix = "_graft_born_"

  /** Sweep state-generation debris: any `g<gen>/b<i>` dir the manifest
    * does not reference is either a superseded generation or a crashed
    * commit's orphan — deletable, but only past the grace age
    * ([[GenGraceKey]]): a lock-free reader that resolved its file
    * list through the PREVIOUS sidecar gets that window to finish.
    * Metadata-sized (one base listing plus one per generation dir);
    * called on the refresh's mutation paths, never on noop polls. */
  private def sweepStaleGens(spark: SparkSession, base: String,
                             m: Meta): Unit = {
    val grace = spark.conf.getOption(GenGraceKey).map(_.toLong)
      .getOrElse(GenGraceDefaultMs)
    val now = System.currentTimeMillis()
    val fs = Fs.fileSystem(spark, new org.apache.hadoop.fs.Path(base))
    // this sweep is garbage collection ONLY: a failure here must
    // never fail the refresh it runs inside (the view's freshness is
    // healthy regardless) — but it must not be SILENT either, or a
    // persistent listing failure disables the sweep forever with
    // debris accumulating unbounded. Race-shaped failures (another
    // sweep won the dir) skip quietly; anything else warns with the
    // path and error, once per offending dir per sweep.
    def gcGuard(what: String)(body: => Unit): Unit =
      try body catch {
        case e if Txn.isSwapWindowRace(e) => ()
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"matview gen sweep of $what failed (debris left for a " +
              s"later sweep/vacuum): $e")
      }
    // age authority: the BIRTH STAMP the staging write put in the
    // dir's own name-space (`_graft_born_<millis>`) — creation time
    // rides in a NAME, so age never trusts mtimes
    // (synthetic / upload-batched on object stores: a fresh crash
    // orphan could otherwise age instantly past grace under a reader
    // still resolving through the previous sidecar). Mtime only as
    // the fallback for a generation dir that carries no stamp.
    def bornIn(names: Seq[String]): Option[Long] = names.collectFirst {
      case n if n.startsWith(GenBornPrefix) =>
        n.stripPrefix(GenBornPrefix).toLongOption
    }.flatten
    def newestUnder(p: org.apache.hadoop.fs.Path): Long = {
      var n = -1L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getModificationTime > n) n = f.getModificationTime
      }
      if (n < 0) n = fs.getFileStatus(p).getModificationTime
      n
    }
    gcGuard(base) {
      // one listing of the base names the on-disk generations (live
      // ones + in-grace debris — refresh-cadence bounded); each gen
      // dir's single stamp ages ALL its buckets (a commit's buckets
      // are born together).
      Fs.listSubdirs(spark, base).foreach { gd =>
        gd.stripPrefix("g").toLongOption
          .filter(_ => gd.startsWith("g")).foreach { g =>
          gcGuard(s"$base/$gd") {
            val p = new org.apache.hadoop.fs.Path(s"$base/$gd")
            val names = fs.listStatus(p).map(_.getPath.getName).toSeq
            val age = bornIn(names) match {
              case Some(b) => now - b
              case None => now - newestUnder(p)
            }
            if (age > grace) {
              val live = m.bucketGens.collect {
                case (b, lg) if lg == g => b }.toSet
              if (live.isEmpty)
                // the whole generation is unreferenced — superseded
                // everywhere, or a crashed commit's orphan
                Fs.delete(spark, p.toString)
              else names.filter(_.startsWith("b")).foreach { bd =>
                // referenced generation: only its buckets whose
                // manifest pointer moved elsewhere are debris
                bd.stripPrefix("b").toIntOption.foreach { b =>
                  if (!live.contains(b)) gcGuard(s"$base/$gd/$bd") {
                    Fs.delete(spark, s"$base/$gd/$bd")
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  /** Canonicalize ONE collected key value so driver-side Set
    * membership agrees with Spark's join equality: byte arrays (JVM
    * reference equality) become content-equal Seqs, signed zeros
    * collapse to +0.0 (SQL equality — NormalizeFloatingNumbers —
    * treats -0.0 = 0.0), and nested rows/arrays normalize
    * recursively. Boxed NaN already JVM-equals NaN, matching SQL.
    * Without this, a matched BinaryType delta key would read as
    * "brand new" and double-count its group ([[applyIncremental]]'s
    * local-delta path). */
  private def normKeyValue(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: java.lang.Double =>
      if (d.doubleValue() == 0.0d) Double.box(0.0d) else d
    case f: java.lang.Float =>
      if (f.floatValue() == 0.0f) Float.box(0.0f) else f
    case r: org.apache.spark.sql.Row => r.toSeq.map(normKeyValue)
    case s: scala.collection.Seq[_] => s.map(normKeyValue)
    case other => other
  }

  /** The full-outer delta fold joins on the keys with null-UNSAFE
    * equality (Spark's join semantics): a null-valued key would
    * silently fork its group into unmerged rows, so views refuse
    * them. `frame` is state-sized or delta-sized — one cheap probe. */
  private def refuseNullKeys(frame: DataFrame, keys: Seq[String],
                             what: String): Unit = {
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    if (!frame.filter(anyNull).isEmpty)
      throw new IllegalArgumentException(
        s"materialized view keys must be non-null; $what contains a " +
          s"null in ${keys.mkString(", ")}")
  }

  // ------------------------------------------------------ create/read

  /** Create a single-metric min/max view — the legacy shape every
    * round-12 call site uses; sugar over [[createMulti]]. */
  def create(spark: SparkSession, storage: BasicStorage, source: String,
             viewPath: String, keys: Seq[String], valueCol: String,
             maxAttempts: Int = 3): MatViewRefresh =
    createMulti(spark, storage, source, viewPath, keys, Seq(valueCol),
      withMinMax = true, maxAttempts)

  /** Create a view of `source` at `viewPath`: per-key partials of
    * `valueCols`, stamped with the source's op-log fingerprint and
    * applied-batch watermark. `withMinMax = false` stores only the
    * abelian partials — refreshes then never rescan the fact table
    * (see the object doc). Refuses an occupied destination. */
  def createMulti(spark: SparkSession, storage: BasicStorage,
                  source: String, viewPath: String, keys: Seq[String],
                  valueCols: Seq[String], withMinMax: Boolean,
                  maxAttempts: Int = 3): MatViewRefresh = {
    require(keys.nonEmpty, "materialized view needs at least one key")
    require(valueCols.nonEmpty,
      "materialized view needs at least one value column")
    require(valueCols.distinct.size == valueCols.size,
      s"duplicate value column in ${valueCols.mkString(", ")}")
    val nBuckets = spark.conf.getOption(StateBucketsKey)
      .map(_.toInt).getOrElse(StateBucketsDefault)
    require(nBuckets >= 1,
      s"$StateBucketsKey must be >= 1 (got $nBuckets)")
    val probe = Meta("", keys, valueCols, withMinMax, 0L, 0L, 0L, "",
      keys, valueCols, nBuckets)
    val reserved = reservedNames(probe)
    val clash = keys.filter(k => reserved(k.toLowerCase))
    require(clash.isEmpty,
      s"key column(s) ${clash.mkString(", ")} collide with the view's " +
        s"aggregate columns (${reserved.mkString(", ")}) — rename or " +
        "alias them before creating the view")
    require(!(keys ++ valueCols).exists(_.equalsIgnoreCase(BucketCol)),
      s"column name $BucketCol is reserved for the view's state " +
        "bucketing — rename it before creating the view")
    val base = viewPath.stripSuffix("/")
    Fs.recoverAside(spark, base)
    if (Fs.exists(spark, base))
      throw new IllegalArgumentException(
        s"matview destination already exists: $viewPath — refresh it, " +
          "or remove it to recreate")
    if (!GraftLog.isManagedTable(spark, source))
      throw new IllegalArgumentException(
        s"matview source is not a managed table: $source")
    // record the columns' physical identity so a later mapped RENAME
    // re-resolves instead of rebuilding into an unresolved-column error
    val mapping = ColumnMapping.load(spark, source.stripSuffix("/"))
      .getOrElse(ColumnMapping.Mapping(Map.empty, Nil))
    val meta0 = probe.copy(source = source.stripSuffix("/"),
      lastBatch = Long.MinValue, keyPhys = keys.map(mapping.physicalOf),
      valuePhys = valueCols.map(mapping.physicalOf))
    Txn.retryTransient(maxAttempts) {
      rebuildOnce(spark, storage, base, meta0)
    }
  }

  /** The view's state (cnt, and per value column nncnt / sum /
    * [min / max] per key), with SQL null semantics restored on sums
    * at storage time already — serve-ready. Underscore sidecar files
    * are invisible to the parquet read. An EMPTY view (every group
    * deleted — zero part files on disk) serves an empty frame with
    * the sidecar's recorded schema instead of dying in inference. */
  def read(spark: SparkSession, viewPath: String): DataFrame = {
    val base = viewPath.stripSuffix("/")
    // loadMeta recovers the base + sidecar asides
    readState(spark, base, loadMeta(spark, base))
  }

  // ---------------------------------------------------------- refresh

  /** Bring the view up to date with its source. See the object doc
    * for the mode taken per op-log classification; every mode ends
    * with the view equal to a fresh recompute of the CURRENT source
    * snapshot (the invariant MatViewSpec pins against recompute). */
  def refresh(spark: SparkSession, storage: BasicStorage,
              viewPath: String, maxAttempts: Int = 5): MatViewRefresh = {
    val base = viewPath.stripSuffix("/")
    Txn.retryTransient(maxAttempts) {
      val meta = loadMeta(spark, base)
      val source = meta.source
      val snap = Txn.snapshot(spark, source)
      if (snap.entries == meta.logEntries && snap.maxSeq == meta.logMaxSeq) {
        // log unmoved — but a change batch ABOVE the watermark means a
        // capture is in flight or its writer crashed mid-commit. A live
        // writer (lock held) is business as usual: its op row will move
        // the log and the next refresh folds it. The stamp-only listing
        // skips the per-batch marker probes (this hot noop path needs
        // only existence). No lock + LOG STILL UNMOVED + orphan batch
        // = crashed writer (release happens only after the op append),
        // whose data swap may already be visible — name the window
        // (object doc) instead of calling it clean. The re-snapshot
        // closes the liveness race: a writer that committed and
        // released between the first snapshot and the lock probe reads
        // as lock-free with an orphan batch, but its op row has moved
        // the log — re-plan, don't cry crash.
        // "no live lock" = no holder at all, OR a holder whose lock
        // aged past the txn timeout: a PROCESS crash before the op
        // append also dies before Txn.release (the writer's finally
        // never runs), so the lock debris itself is part of the
        // crash signature — requiring isEmpty would misreport that
        // (most common) crash shape as "noop" until vacuum fenced it.
        if (batchStamps(spark, source).exists(_ > meta.lastBatch) &&
            !Txn.heldBy(spark, source)
              .exists(_._2 <= Txn.lockTimeoutMs(spark))) {
          if (Txn.snapshot(spark, source) != snap)
            throw new StaleSnapshotException(
              s"MATVIEW NOOP probe of $source: a writer committed " +
                "mid-probe; re-plan")
          MatViewRefresh("source-crashed", 0L, 0L)
        } else MatViewRefresh("noop", 0L, 0L)
      } else {
        // op-log rows appended since the recorded fingerprint, in
        // commit order. (timestamp, seq) is the engine's documented
        // total order (GraftLog.append); the log is op-count sized.
        val newOps = GraftLog.records(spark, source)
          .sortBy(r => (r.tsMicros, r.seq.getOrElse(Long.MinValue)))
          .iterator
          .drop(meta.logEntries.toInt).map(_.operation).toSeq
        val stamps = batchStamps(spark, source)
        // commit markers are probed only above the watermark: the
        // batches at or below it are folded and never classify
        val inRange = stamps.filter(_ > meta.lastBatch)
          .map(b => (b, Merge.isBatchCommitted(spark, source, b)))
        val committed = inRange.filter(_._2).map(_._1).sorted
        val uncommittedInRange = inRange.exists(!_._2)
        val explainable =
          newOps.forall(op => MutationOps(op) || InvisibleOps(op)) &&
            !uncommittedInRange &&
            newOps.count(MutationOps) == committed.size
        if (!explainable)
          rebuildOnce(spark, storage, base, meta, Some(snap), Some(stamps))
        else if (committed.isEmpty) {
          // content-invisible ops only: advance the fingerprint so
          // later refreshes stop re-reading this span. Sidecar-only
          // single-file swap — the state is untouched, and a crash
          // leaves the old stamps, which merely re-classify.
          Txn.assertUnchanged(spark, source, snap, "MATVIEW ADVANCE")
          swapSidecar(spark, base, meta.copy(
            logEntries = snap.entries, logMaxSeq = snap.maxSeq))
          MatViewRefresh("advance", 0L, 0L)
        } else {
          applyIncremental(spark, storage, base, meta, snap, committed)
        }
      }
    }
  }

  // ----------------------------------------------------- inner phases

  /** Stamps of every change-batch dir currently on disk — ONE
    * directory listing, no marker probes. Callers probe commit markers
    * only for the stamps they classify (above the watermark, or down
    * to the newest committed one): a marker `exists` per retained
    * batch would turn every refresh into N filesystem RPCs on a
    * long-lived feed. */
  private def batchStamps(spark: SparkSession,
                          source: String): Seq[Long] = {
    val feedDir = source.stripSuffix("/") + "/" + Merge.ChangesDirName
    Fs.listSubdirs(spark, feedDir)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
  }

  /** Re-resolve the view's recorded columns through the source's
    * CURRENT schema before a rebuild: a mapped RENAME moved the
    * logical name while the physical identity stayed put — follow it
    * (the rebuilt view's output columns take the new names, exactly
    * as a recompute would). A DROP of a view column, or a rewrite
    * that materialized the mapping away from the recorded physical
    * name, cannot be followed — refuse with the view, the column,
    * and the remedy in the message instead of dying downstream in an
    * unresolved-column error. */
  private def resolveColumns(spark: SparkSession, storage: BasicStorage,
                             viewBase: String, meta: Meta): Meta = {
    val mapping = ColumnMapping.load(spark, meta.source)
      .getOrElse(ColumnMapping.Mapping(Map.empty, Nil))
    val current = storage.read(meta.source, "delta").schema.fieldNames
    def resolve(phys: String, recorded: String, role: String): String = {
      if (mapping.dropped.exists(_.equalsIgnoreCase(phys)))
        throw new IllegalArgumentException(
          s"materialized view $viewBase: source column '$recorded' " +
            s"($role) was DROPPED from ${meta.source} — remove the " +
            "view and recreate it over the surviving columns")
      val logical = mapping.renames.collectFirst {
        case (p, l) if p.equalsIgnoreCase(phys) => l
      }.getOrElse(phys)
      if (!current.exists(_.equalsIgnoreCase(logical)))
        throw new IllegalArgumentException(
          s"materialized view $viewBase: source column '$logical' " +
            s"($role, recorded physical name '$phys') no longer exists " +
            s"in ${meta.source} — a rewrite may have materialized a " +
            "rename past the recorded identity; remove the view and " +
            "recreate it")
      logical
    }
    val resolved = meta.copy(
      keys = meta.keyPhys.zip(meta.keys)
        .map { case (p, r) => resolve(p, r, "view key") },
      valueCols = meta.valuePhys.zip(meta.valueCols)
        .map { case (p, r) => resolve(p, r, "view value") })
    // the same reserved-name guard create() enforces: a RENAME that
    // moved a key onto a stat alias (k → "sum") would otherwise wedge
    // every refresh in an ambiguous-reference crash — refuse with the
    // remedy instead
    val reserved = reservedNames(resolved)
    val clash = resolved.keys.filter(k => reserved(k.toLowerCase))
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"materialized view $viewBase: renamed key column(s) " +
          s"${clash.mkString(", ")} now collide with the view's " +
          s"aggregate columns — rename them apart on ${meta.source}, " +
          "or remove the view and recreate it")
    resolved
  }

  private def rebuildOnce(spark: SparkSession, storage: BasicStorage,
                          viewBase: String, meta0: Meta,
                          snap0: Option[OpLogSnapshot] = None,
                          stamps0: Option[Seq[Long]] = None)
      : MatViewRefresh = {
    val snap = snap0.getOrElse(Txn.snapshot(spark, meta0.source))
    val meta = resolveColumns(spark, storage, viewBase, meta0)
    // every batch committed by now is reflected in the snapshot we are
    // about to read (mutations are serialized by the table lock; a
    // commit landing AFTER this listing moves the op log and fails the
    // assert below). Uncommitted stamps are excluded: a live capture's
    // merge will commit with its op-log row and be applied by the next
    // refresh; crashed debris never commits and is vacuum's to fence.
    // The watermark is the newest committed stamp, so the marker
    // probes run from the newest stamp down and stop at the first
    // committed one. refresh() passes its already-listed stamps.
    val watermark = stamps0.getOrElse(batchStamps(spark, meta.source))
      .sorted(Ordering[Long].reverse)
      .find(Merge.isBatchCommitted(spark, meta.source, _))
      .getOrElse(Long.MinValue)
    // the aggregation is materialized ONCE (state-sized), so the
    // null-key probe and the state write share a single source scan —
    // a rebuild costs exactly one pass over the fact table
    val state = partials(storage.read(meta.source, "delta"), meta)
      .localCheckpoint()
    refuseNullKeys(state, meta.keys, "the source table")
    val out = state.select(stateCols(meta).map(col): _*)
    commitState(spark, viewBase, out,
      meta.copy(lastBatch = watermark, logEntries = snap.entries,
        logMaxSeq = snap.maxSeq, schemaJson = out.schema.json),
      snap, "MATVIEW REBUILD")
    MatViewRefresh("rebuild", 0L, 0L)
  }

  private def applyIncremental(spark: SparkSession, storage: BasicStorage,
                               viewBase: String, meta: Meta,
                               snap: OpLogSnapshot,
                               committed: Seq[Long]): MatViewRefresh = {
    val source = meta.source
    val keys = meta.keys
    // only the new batch dirs are listed and footer-read (`committed`
    // is above the watermark by construction); basePath keeps `batch`
    // a discovered partition column, and mergeSchema is
    // [[Merge.changeFeed]]'s: new batches may straddle an evolution
    val feedDir = s"${source.stripSuffix("/")}/${Merge.ChangesDirName}"
    val batchDirs = committed.map(b => s"$feedDir/batch=$b")
    val feed = spark.read.option("mergeSchema", "true")
      .option("basePath", feedDir).parquet(batchDirs: _*)
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), 1L).otherwise(-1L)
    // per value column: dnncnt/dsum count and add by the DECIMAL-CAST
    // value (partials' rule): a value the cast nulls out contributes
    // to neither, so the fold's sum-null restoration matches a
    // recompute exactly. add/rem extremes only exist in min/max mode.
    def dName(stat: String, c: String) = "d" + meta.statName(stat, c)
    // delta extreme columns follow the ONE suffixing rule (statName)
    def extName(pfx: String, c: String) = meta.statName(pfx, c)
    val deltaAggs: Seq[Column] = sum(sign).as("dcnt") +:
      meta.valueCols.flatMap { c =>
        val v = col(c)
        val vc = v.try_cast("decimal(28,6)")
        Seq(
          sum(when(vc.isNotNull, sign).otherwise(0L))
            .as(dName("nncnt", c)),
          sum(when(vc.isNotNull, sign * vc)
            .otherwise(lit(0).cast("decimal(28,6)")))
            .cast("decimal(28,6)").as(dName("sum", c))) ++
          (if (meta.minMax) Seq(
            min(when(sign === 1L, v)).as(extName("add_min", c)),
            max(when(sign === 1L, v)).as(extName("add_max", c)),
            min(when(sign === -1L, v)).as(extName("rem_min", c)),
            max(when(sign === -1L, v)).as(extName("rem_max", c)))
          else Nil)
      }
    val deltas0 = feed.groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)

    sweepStaleGens(spark, viewBase, meta)
    // The delta must be materialized once (the affected-bucket probe
    // and the fold join would otherwise each re-run the feed scan),
    // and the buckets this refresh touches must be known BEFORE the
    // state read — a key absent from the delta cannot live in any
    // other bucket (same hash), so both the state READ and the commit
    // WRITE are bounded by that set. HOW it materializes is sized by
    // the feed itself, probed from a driver file listing (no job):
    // below [[LocalDeltaBytesKey]] — the steady state of a
    // continuously-maintained view, where every micro-batch delta is
    // KBs — the aggregated delta COLLECTS into a LocalRelation, which
    // removes the localCheckpoint job entirely and turns the
    // affected-bucket probe into a millisecond local-scan job (the
    // bucketed commit's fixed per-refresh overhead, measured at
    // sf0.1 as q_stream_matview's round-14 regression). Above it, the
    // round-14 shape: localCheckpoint + a distinct over the cached
    // blocks — the delta may be large, and |delta| rows never belong
    // on the driver.
    val newBatchBytes: Long =
      batchDirs.map(Fs.dataFiles(spark, _).map(_._2).sum).sum
    val localDelta = newBatchBytes <=
      spark.conf.getOption(LocalDeltaBytesKey).map(_.toLong)
        .getOrElse(LocalDeltaBytesDefault)
    val (deltas, affected: Set[Int], localRows: Option[Array[org.apache.spark.sql.Row]]) =
      if (localDelta) {
        // ONE collect carries the delta rows AND each row's bucket id
        // (bucketIdCol must evaluate through Spark — xxhash64 over the
        // internal row encoding — so it rides the same job instead of
        // a second job over the already-collected LocalRelation)
        val n = deltas0.schema.size
        val withB = deltas0.withColumn("__graft_b", bucketIdCol(meta))
          .collect() // bounded by the probed feed bytes
        val rows = withB.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.take(n)))
        val aff = withB.map(_.getInt(n)).toSet
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), deltas0.schema)
        (local, aff, Some(rows))
      } else {
        val d = deltas0.localCheckpoint()
        val aff = d.select(bucketIdCol(meta).as("__b")).distinct()
          .collect().map(_.getInt(0)).toSet
        (d, aff, None)
      }
    val stateSide = readState(spark, viewBase, meta, Some(affected))
    // a delta that hashes into every live bucket rewrites the whole
    // state anyway: unless the count is pinned, restage it at the
    // size-derived count, under a manifest of only the staged buckets
    // (BUCKETED STATE in the object doc)
    val restage = spark.conf.getOption(StateBucketsKey).isEmpty &&
      meta.bucketGens.keySet.subsetOf(affected)
    val stageMeta =
      if (!restage) meta
      else meta.copy(buckets = sizedBuckets(spark, listedBytes(stateSide)),
        bucketGens = Map.empty)
    val s = stateSide.withColumn("_s", lit(true))
    val d = deltas.withColumn("_d", lit(true))

    // min/max mode: a group must be rescanned from the table iff a
    // removed non-null value ties or crosses a stored extreme — the
    // one case where min/max are not incrementally maintainable — or
    // removals hit a key the state has never seen (insert-then-delete
    // inside this refresh window: the delta's own add_min/add_max may
    // name rows that were since removed). Without min/max every
    // stored partial is abelian and NO group ever needs the table.
    // Defined before the fold join so the local-delta probe below can
    // collect the flag in its one pass.
    val poisoned: Column =
      if (!meta.minMax) lit(false)
      else col("_d").isNotNull && meta.valueCols.map { c =>
        col(extName("rem_min", c)).isNotNull &&
          (col("_s").isNull ||
            col(meta.statName("min", c)).isNull ||
            col(extName("rem_min", c)) <=
              col(meta.statName("min", c)) ||
            col(extName("rem_max", c)) >=
              col(meta.statName("max", c)))
      }.reduce(_ || _)

    // The fold join. All output names are unique (delta stats are
    // d-/add_-/rem_-prefixed, keys may not shadow state stats by the
    // create guard), so no side qualifiers are needed — which lets the
    // two shapes below share every downstream consumer.
    //
    // HOW it joins is the 100 TB refresh cost: a full-outer join can
    // NEVER broadcast in Spark, so the natural shape shuffles + sorts
    // every affected bucket's state per refresh even for a one-row
    // delta. With a LOCAL delta (the steady state of a continuously
    // maintained view) the same result is computed with ZERO exchanges
    // (guide §3.1/§2.4): state LEFT OUTER broadcast(delta) — one
    // map-only pass over the affected buckets — covers state-only and
    // matched groups; the delta rows matching NO state group (brand-new
    // keys) are recovered DRIVER-side from the already-collected delta
    // minus the matched keys (≤ |delta| rows, the LocalDelta bound)
    // and unioned in as a LocalRelation with typed-null state columns.
    //
    // The local path KEEPS its state-sized checkpoint — measured, not
    // assumed (guide §1.1): an A/B with the checkpoint removed (probe
    // and fold each re-evaluating the map-only broadcast join) ran the
    // minMax matview family 5–10% SLOWER at sf0.1 across alternated
    // best-of-2 runs — at refresh scale the per-job parquet-scan fixed
    // cost of the second evaluation exceeds the one-pass
    // materialization it saves. What DID move to the single probe
    // pass: the poisoned-group count job and the rescan semi-join's
    // re-evaluation of the join (both now come from the collected
    // probe rows), two fewer jobs per minMax refresh.
    val (joined, localPoisoned: Option[Seq[Seq[Any]]]) = localRows match {
      case Some(rows) =>
        val main = s.join(broadcast(d), keys, "left_outer")
          .localCheckpoint()
        // null feed keys refuse exactly as the probe below would, but
        // driver-side on the collected rows — no extra job
        val keyIdx = keys.map(deltas0.schema.fieldIndex)
        if (rows.exists(r => keyIdx.exists(r.isNullAt)))
          throw new IllegalArgumentException(
            s"materialized view keys must be non-null; the change " +
              s"feed contains a null in ${keys.mkString(", ")}")
        // ONE pass over the join collects the matched keys (≤ |delta|
        // rows), their poisoned flags, and any null-key STATE rows —
        // zero in a healthy view (every state write probes before
        // committing), but state corrupted by an external writer now
        // REFUSES here, the probe the old full-outer path's
        // refuseNullKeys(joined) gave, without its extra state-sized
        // job (a null-key state row matches no delta in the
        // null-unsafe join, so only the anyNullKey arm can admit it).
        val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
        val probed = main.filter(col("_d").isNotNull || anyNullKey)
          .select(keys.map(col) :+
            coalesce(poisoned, lit(false)).as("__poisoned"): _*)
          .collect()
        if (probed.exists(r => keys.indices.exists(r.isNullAt)))
          throw new IllegalArgumentException(
            s"materialized view keys must be non-null; the stored " +
              s"state contains a null in ${keys.mkString(", ")}")
        // driver-side membership must use the JOIN's equality, not raw
        // JVM equality: a byte-array key compares by REFERENCE here,
        // so every matched binary key would re-union as "brand new"
        // and silently duplicate its group's state row; signed zeros
        // and nested rows/arrays normalize for the same reason
        val matched: Set[Seq[Any]] = probed.map(r => keys.indices.map(i =>
          normKeyValue(r.get(i))): Seq[Any]).toSet
        val dOnly = rows.filterNot(r =>
          matched(keyIdx.map(i => normKeyValue(r.get(i)))))
        // poisoned groups, assembled driver-side so the rescan branch
        // never re-evaluates the join: matched groups carry the flag
        // from the probe pass; a state-less (brand-new-key) group has
        // _s null, so for it the predicate above reduces to "any
        // rem_min non-null" — a plain null check on the already-
        // collected delta row, no job needed.
        val remMinIdx =
          if (!meta.minMax) Nil
          else meta.valueCols.map(c =>
            deltas0.schema.fieldIndex(extName("rem_min", c)))
        val pKeys: Seq[Seq[Any]] =
          probed.toSeq.filter(_.getBoolean(keys.size))
            .map(r => keys.indices.map(r.get)) ++
          dOnly.toSeq.filter(r => remMinIdx.exists(i => !r.isNullAt(i)))
            .map(r => keyIdx.map(r.get))
        val out =
          if (dOnly.isEmpty) main
          else {
            val dOnly0 = spark.createDataFrame(
              java.util.Arrays.asList(dOnly: _*), deltas0.schema)
              .withColumn("_d", lit(true))
              .withColumn("_s", lit(null).cast("boolean"))
            val withNullState = stateSide.schema.fields
              .filterNot(f => keys.exists(_.equalsIgnoreCase(f.name)))
              .foldLeft(dOnly0)((df, f) =>
                df.withColumn(f.name, lit(null).cast(f.dataType)))
            main.unionByName(withNullState)
          }
        (out, Some(pKeys))
      case None =>
        val j = s.join(d, keys, "full_outer").localCheckpoint()
        // a null key on either side would have forked unmerged in the
        // null-unsafe join above — refuse before folding anything.
        // Using-column join output coalesces the key, so one probe
        // covers both sides.
        refuseNullKeys(j, keys, "the change feed")
        (j, None)
    }

    val zero = lit(0).cast("decimal(28,6)")
    val foldedCnt = coalesce(col("cnt"), lit(0L)) +
      coalesce(col("dcnt"), lit(0L))
    val foldedStats: Seq[Column] = meta.valueCols.flatMap { c =>
      val foldedNn = coalesce(col(meta.statName("nncnt", c)), lit(0L)) +
        coalesce(col(dName("nncnt", c)), lit(0L))
      Seq(
        foldedNn.as(meta.statName("nncnt", c)),
        when(foldedNn === 0L, lit(null).cast("decimal(28,6)"))
          .otherwise((coalesce(col(meta.statName("sum", c)), zero) +
            coalesce(col(dName("sum", c)), zero))
            .cast("decimal(28,6)"))
          .as(meta.statName("sum", c))) ++
        (if (meta.minMax) Seq(
          least(col(meta.statName("min", c)),
            col(extName("add_min", c))).as(meta.statName("min", c)),
          greatest(col(meta.statName("max", c)),
            col(extName("add_max", c))).as(meta.statName("max", c)))
        else Nil)
    }
    val folded = joined.filter(!poisoned)
      .select(keys.map(col) ++ (foldedCnt.as("cnt") +: foldedStats): _*)
      // cnt reaches 0 when the group's rows are all gone (in min/max
      // mode that is only reachable for all-null-valued removals —
      // non-null removals poison via the extreme guard); the group is
      // dropped, exactly as a recompute would
      .filter(col("cnt") > 0L)

    // the poisoned listing: on the local path it is already on the
    // driver (assembled by the probe pass — no count job, no join
    // re-evaluation); the big-delta path lists from its checkpoint
    val nRescan =
      if (!meta.minMax) 0L
      else localPoisoned.map(_.size.toLong)
        .getOrElse(joined.filter(poisoned).count())
    // the rescan branch joins the FACT TABLE — attach it only when a
    // group actually needs it, or every pure fold would schedule a
    // full source scan and merely hope AQE's empty-relation pass
    // elides it (MatViewSpec pins this functionally: a no-rescan
    // refresh succeeds with the source's data files hidden)
    val newState =
      if (nRescan == 0L) folded.select(stateCols(meta).map(col): _*)
      else {
        // with a LOCAL delta the poisoned set is ≤ |delta| keys and
        // already collected — a broadcast LocalRelation makes the
        // fact-table semi-join a map-only scan instead of shuffling
        // the table by key (guide §3.1); with a big delta the planner
        // keeps the choice
        val keySchema = org.apache.spark.sql.types.StructType(
          keys.map(k => stateSide.schema(stateSide.schema.fieldIndex(k))))
        val semiSide = localPoisoned match {
          case Some(pks) => broadcast(spark.createDataFrame(
            java.util.Arrays.asList(pks.map(vs =>
              org.apache.spark.sql.Row.fromSeq(vs)): _*), keySchema))
          case None => joined.filter(poisoned).select(keys.map(col): _*)
        }
        val rescanned = partials(
          storage.read(source, "delta")
            .join(semiSide, keys, "left_semi"), meta)
        folded.select(stateCols(meta).map(col): _*)
          .unionByName(rescanned.select(stateCols(meta).map(col): _*))
      }
    val newMeta = stageMeta.copy(lastBatch = committed.max,
      logEntries = snap.entries, logMaxSeq = snap.maxSeq,
      schemaJson = newState.schema.json)
    commitIncremental(spark, viewBase, newState, newMeta, snap,
      if (restage) (0 until newMeta.buckets).toSet else affected)
    MatViewRefresh("incremental", committed.size.toLong, nRescan)
  }

  /** Materialize the new state into a staging dir (sidecar inside,
    * riding the same rename), then gate the swap on the source being
    * provably at the fingerprinted state, then swap.
    *
    * The gate's ORDER is load-bearing: (1) all source reads complete
    * when the staging write returns; (2) THEN wait for the source's
    * commit lock to be free; (3) THEN [[Txn.assertUnchanged]]. A
    * writer's data swap is only ever visible before its op-log row
    * while it holds the commit lock, so any writer whose swap our
    * reads could have seen either released before probe (2) — its op
    * row is in the log and (3) throws — or still holds the lock and
    * (2) refuses/waits. A writer acquiring AFTER probe (2) swapped
    * after our reads finished, so the staged state is still exactly
    * the fingerprinted source state and its commit is the NEXT
    * refresh's work. Probing the lock AFTER the assert would leave a
    * hole: a writer appending between the two probes and releasing
    * passes both, stamping state that may already contain its data
    * under a fingerprint that predates it — the next refresh would
    * fold the batch AGAIN (silent double-count). A commit in the
    * window throws [[ConcurrentWriteException]] — the retry loop's
    * signal; a lock still held past the bounded wait (crashed holder)
    * fails the refresh loudly rather than stamping unprovable state. */
  private def commitState(spark: SparkSession, viewBase: String,
                          state: DataFrame, newMeta: Meta,
                          snap: OpLogSnapshot, action: String): Unit = {
    val tmp = viewBase + "__tmp"
    Fs.deleteChecked(spark, tmp)
    try {
      // the full swap replaces the whole tree, so old generations
      // leave with the aside — no debris
      val gen = newMeta.stateGen + 1
      val ids = stageBuckets(spark, state, newMeta, tmp, gen)
      saveMetaInto(spark, tmp, newMeta.copy(stateGen = gen,
        bucketGens = ids.map(_ -> gen).toMap))
      // a rebuild's root swap must not shed the live maintenance
      // stream's lease (the Txn lock-carry rule)
      MaintainerLease.carryInto(spark, viewBase, tmp)
      awaitSourceUnlocked(spark, newMeta.source, action)
      Txn.assertUnchanged(spark, newMeta.source, snap, action)
      if (!Fs.exists(spark, viewBase)) Fs.renameChecked(spark, tmp, viewBase)
      else Fs.swapInStaged(spark, viewBase, tmp)
    } catch {
      case e: Throwable =>
        try Fs.deleteChecked(spark, tmp)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Highest generation number present ON DISK — crashed attempts'
    * orphans included. Allocating the next gen above
    * this (not just above the sidecar's stateGen) means a retry after
    * an in-process commit failure never collides with its own orphan
    * dirs, so the commit path needs no destructive pre-delete (which
    * could remove a racing refresher's freshly-committed generation).
    * ONE driver listing of the base (generation-outer tree). */
  private def maxGenOnDisk(spark: SparkSession, base: String): Long =
    Fs.listSubdirs(spark, base).filter(_.startsWith("g"))
      .flatMap(_.stripPrefix("g").toLongOption)
      .maxOption.getOrElse(0L)

  /** Commit an incremental refresh of a BUCKETED view: stage only the
    * affected buckets' new generation, gate exactly as [[commitState]]
    * (reads complete → source lock free → log unmoved), rename the
    * generation dirs in — INVISIBLE to readers, who resolve state
    * dirs through the manifest — and commit everything in the single
    * atomic sidecar swap. A crash anywhere before the sidecar swap
    * leaves only unreferenced generation debris ([[sweepStaleGens]]'s
    * to grace-sweep); after it, the superseded generations are the
    * debris. The commit WRITE is therefore |affected buckets|-sized
    * where a single-dir state's would be |state|-sized — and there
    * is no partial-commit window in which the next refresh could see
    * a half-applied fold. (A per-bucket PartitionSwap-style commit
    * was rejected for exactly that hazard: its heal rolls completed
    * leaf swaps FORWARD while the sidecar still holds the old
    * watermark, so a crash mid-commit would make the next refresh
    * fold the same delta batches into the already-folded buckets —
    * silent double-counting.)
    *
    * `affected` is the set the staged buckets must fall in: the
    * delta's hash set, or on a restage (a full-coverage refresh, whose
    * `newMeta` carries the new count and an empty manifest) every
    * bucket of the new count. */
  private def commitIncremental(spark: SparkSession, viewBase: String,
                                state: DataFrame, newMeta: Meta,
                                snap: OpLogSnapshot,
                                affected: Set[Int]): Unit = {
    val gen = math.max(newMeta.stateGen,
      maxGenOnDisk(spark, viewBase)) + 1
    val stage = viewBase + "__genstage"
    Fs.deleteChecked(spark, stage)
    try {
      val ids = stageBuckets(spark, state, newMeta, stage, gen)
      // a staged bucket outside `affected` would corrupt the manifest
      // silently — impossible unless the bucket function forked
      // between the listing and the staging write; refuse loud
      val rogue = ids.filterNot(affected)
      if (rogue.nonEmpty)
        throw new IllegalStateException(
          s"matview $viewBase: staged bucket(s) ${rogue.mkString(", ")} " +
            "are outside the delta's affected set — bucket hash fork?")
      awaitSourceUnlocked(spark, newMeta.source, "MATVIEW REFRESH")
      Txn.assertUnchanged(spark, newMeta.source, snap, "MATVIEW REFRESH")
      // the view assumes a single maintainer, but refresh takes no
      // view-level lock — a SECOND refresher racing this one computes
      // the same gen number, and the orphan-clearing delete below
      // would then remove the winner's LIVE committed generation.
      // Refuse retryably when the live sidecar already moved to (or
      // past) our gen: superseded, exactly like a source commit
      // landing mid-refresh.
      if (loadMetaReadOnly(spark, viewBase).stateGen >= gen)
        throw new StaleSnapshotException(
          s"MATVIEW REFRESH of $viewBase: another refresher committed " +
            s"generation $gen first — re-plan")
      // gen was allocated above every on-disk generation, so a target
      // existing here means a SIMULTANEOUS refresher (outside the
      // documented single-maintainer contract) allocated the same
      // number after our listing — refuse retryably, touching NOTHING
      // (a destructive clear here could delete the racer's freshly-
      // committed live generation; local-FS rename onto an existing
      // dir would nest and double-count). The whole staged generation
      // publishes with ONE existence probe + ONE atomic dir rename.
      val target = s"$viewBase/${genDirName(gen)}"
      if (Fs.exists(spark, target))
        throw new StaleSnapshotException(
          s"MATVIEW REFRESH of $viewBase: generation $gen appeared " +
            "concurrently — a second refresher is racing this one; " +
            "re-plan")
      Fs.renameChecked(spark, s"$stage/${genDirName(gen)}", target)
      // an affected bucket that staged nothing lost its last key —
      // drop it from the manifest (the old generation becomes debris)
      val emptied = affected -- ids
      swapSidecar(spark, viewBase, newMeta.copy(stateGen = gen,
        bucketGens = (newMeta.bucketGens -- emptied) ++
          ids.map(_ -> gen)))
    } finally Fs.deleteChecked(spark, stage)
  }

  /** Bounded wait for the source's commit lock to be free (see
    * [[commitState]] for why the swap must not proceed under a held
    * lock). Throws [[ConcurrentWriteException]] when the wait
    * expires: under a LIVE long mutation the retry loop re-plans
    * against the post-commit state; under a CRASHED holder the
    * refresh fails loudly — the table needs its vacuum/lock-break
    * heal before the view can prove anything. */
  private def awaitSourceUnlocked(spark: SparkSession, source: String,
                                  action: String): Unit = {
    val waitMs = spark.conf.getOption(LockWaitKey).map(_.toLong)
      .getOrElse(LockWaitDefaultMs)
    val deadline = System.currentTimeMillis() + waitMs
    var held = Txn.heldBy(spark, source)
    while (held.isDefined) {
      if (System.currentTimeMillis() >= deadline) {
        val (op, age) = held.get
        throw new ConcurrentWriteException(
          s"$action: the source's commit lock is held by '$op' " +
            s"(age ${age} ms) — its data may be visible ahead of its " +
            s"op-log row, so stamping the view now could double-fold " +
            s"the in-flight batch. Waited ${waitMs} ms ($LockWaitKey); " +
            "if the holder crashed, vacuum or Txn.breakLock the source")
      }
      Thread.sleep(100)
      held = Txn.heldBy(spark, source)
    }
  }

  /** Single-file sidecar swap for stamp-only advances. A crash
    * between its renames is healed by loadMeta's file-level
    * recoverAside. */
  private def swapSidecar(spark: SparkSession, viewBase: String,
                          m: Meta): Unit = {
    val sc = sidecarPath(viewBase)
    Fs.recoverAside(spark, sc)
    val tmp = sc + "__tmp"
    Fs.deleteChecked(spark, tmp)
    Fs.writeText(spark, tmp, metaJson(m))
    Fs.swapInStaged(spark, sc, tmp)
  }
}
