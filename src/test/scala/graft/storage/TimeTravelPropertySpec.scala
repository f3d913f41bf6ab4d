package graft.storage

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Test row (top level — Spark encoders cannot reach inner classes). */
case class TtPropRow(id: Long, v: Long)

/** Model-based property test for time-travel TIMELINE INTEGRITY over
  * random interleavings of EVERY mutation path the storage engine
  * has — captured merges (with delete clauses), captured predicate
  * deletes, uncaptured deletes and merges, managed overwrites, managed
  * appends, feed prunes, MoR tombstone deletes and compacts, captured
  * restores to any servable snapshot, content-invisible OPTIMIZE
  * compactions, ALTER column surgery in both flavors (COW
  * add/rename/drop round trips and metadata-only mapped renames, each
  * behind the prune-then-alter sequence the API requires) — plus two
  * crash events: an
  * ORPHAN change batch (a capture that died between its
  * log-before-data batch write and the data rewrite, so no `_commit`
  * marker exists) and the `Maintenance.vacuum` that sweeps it.
  *
  * After each sequence, every snapshot the model recorded is checked
  * against [[Merge.readAsOf]] under a three-way rule that mirrors the
  * engine's documented contract (checked in this order, the order
  * readAsOf applies):
  *  1. stamp below the newest horizon (prune / barrier fence /
  *     overwrite) → IllegalArgumentException, loudly;
  *  2. an unmarked (crashed) batch would have to be stepped across →
  *     IllegalStateException, loudly;
  *  3. otherwise the reconstruction must equal the model snapshot
  *     exactly (with and without checkpointEvery lineage bounding).
  * The invariant under test: the engine may forget history loudly,
  * never serve a snapshot that never existed.
  *
  * Model-side fence mirror: captured ops extend servable history;
  * uncaptured mutations BEFORE any feed era fold into the documented
  * `Long.MinValue` = "before the first captured batch" state (and the
  * recorded history resets with them); once a feed era exists (any
  * batch dir or horizon record — orphan injection counts, it creates
  * the feed dir) every uncaptured mutation advances the horizon. */
class TimeTravelPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, lit, max}

  private def df(rows: Map[Long, Long]) =
    rows.toSeq.sortBy(_._1).map { case (i, v) => TtPropRow(i, v) }.toDF()

  private def maxFeedStamp(path: String): Long =
    Merge.changeFeed(spark, path).agg(max(col("batch"))).head().getLong(0)

  /** Newest recorded horizon of any kind — the stamp the state right
    * after a fencing op is servable at. Reading it from the log is
    * observation, not oracle reuse: WHAT must hold at that stamp
    * comes from the model. */
  private def maxHorizon(path: String): Long =
    (GraftLog.txnBatches(spark, path, Merge.ChangesPruneApp) ++
      GraftLog.txnBatches(spark, path, Merge.ChangesBarrierApp) ++
      GraftLog.txnBatches(spark, path, Merge.ChangesOverwriteApp)).max

  test("random mutation+crash interleavings: every recorded stamp " +
      "serves its model snapshot or refuses loudly") {
    val st = new BasicStorage(spark)
    // soak knob: GRAFT_TT_PROP_SEEDS=20 for an extended local run
    val nSeeds = sys.env.get("GRAFT_TT_PROP_SEEDS")
      .map(_.toInt).getOrElse(6)
    for (seed <- 0 until nSeeds) {
      val rng = new scala.util.Random(40 + seed)
      val path = tempDir(s"tt_prop_$seed") + "/t"
      def randRows(n: Int): Map[Long, Long] =
        rng.shuffle((0 until 15).toList).take(n)
          .map(i => i.toLong -> rng.nextInt(10).toLong).toMap
      var model: Map[Long, Long] = randRows(8)
      st.write(df(model), path, "delta", "overwrite")
      var nextFreshId = 100L

      val trace = ArrayBuffer[String]()
      var snapshots = ArrayBuffer[(Long, Map[Long, Long])](
        (Long.MinValue, model))
      var horizon = Long.MinValue
      var orphans = Set[Long]() // unmarked batch stamps in the feed
      var tombs = Set[Long]()   // modeled MoR tombstone keys
      var feedEra = false       // model mirror of Merge.feedEraExists

      // model side of an uncaptured mutation: pre-feed-era mutations
      // fold into "before everything" (history resets); post-feed-era
      // ones advance the horizon (old stamps refuse)
      def fenced(): Unit =
        if (feedEra) {
          horizon = maxHorizon(path)
          snapshots += ((horizon, model))
        } else snapshots = ArrayBuffer((Long.MinValue, model))

      // column surgery requires a fully-pruned feed (captured batches
      // name the old schema) — the production prune-then-alter
      // sequence. Pruning to the NEWEST stamp clears every batch,
      // orphans included (their dirs delete with the range; the prune
      // horizon replaces their marker refusal).
      def pruneFeedForAlter(): Unit =
        if (Merge.hasChanges(spark, path)) {
          val tip = maxFeedStamp(path)
          trace += s"pruneForAlter($tip)"
          Merge.pruneChangeFeed(spark, path, tip)
          horizon = math.max(horizon, tip)
          orphans = Set.empty
        }

      for (_ <- 0 until 9) rng.nextInt(20) match {
        case 0 | 1 | 2 | 3 =>
          // captured merge: upsert + delete clause on v = -1
          val inc = rng.shuffle((0 until 18).toList)
            .take(rng.nextInt(5) + 2)
            .map(i => i.toLong ->
              (if (rng.nextInt(5) == 0) -1L else rng.nextInt(10).toLong))
            .toMap
          trace += s"merge($inc)"
          st.merge(df(inc), path, "full.id = incremental.id",
            deleteCondition = Some("incremental.v = -1"),
            captureChanges = true)
          // tombstone reconciliation: keys the merge UPDATES (matched,
          // not taken by the delete clause) or INSERTS (unmatched) are
          // re-introduced — their tombstones clear
          tombs --= inc.keys.filterNot(k =>
            model.contains(k) && inc(k) == -1L)
          model = inc.foldLeft(model) { case (m, (i, v)) =>
            if (m.contains(i)) { if (v == -1L) m - i else m.updated(i, v) }
            else m.updated(i, v) // delete clause never gates inserts
          }
          feedEra = true
          snapshots += ((maxFeedStamp(path), model))
        case 4 =>
          // captured predicate delete → a `delete` change batch
          val cut = rng.nextInt(10)
          trace += s"capdel($cut)"
          val n = Delete.where(spark, st, path, s"v >= $cut",
            captureChanges = true)
          val newModel = model.filterNot(_._2 >= cut)
          assert(n == model.size - newModel.size, s"seed=$seed del count")
          if (n > 0) {
            model = newModel
            feedEra = true
            snapshots += ((maxFeedStamp(path), model))
          }
        case 5 =>
          // UNCAPTURED delete: fences iff a feed era exists
          val cut = rng.nextInt(10)
          trace += s"rawdel($cut)"
          val n = Delete.where(spark, st, path, s"v >= $cut")
          val newModel = model.filterNot(_._2 >= cut)
          assert(n == model.size - newModel.size, s"seed=$seed del count")
          if (n > 0) { model = newModel; fenced() }
        case 6 =>
          // managed overwrite: drops the feed (orphans included) and
          // the MoR tombstones with the table they described
          model = randRows(rng.nextInt(6) + 3)
          trace += "overwrite"
          st.write(df(model), path, "delta", "overwrite")
          tombs = Set.empty
          orphans = Set.empty
          fenced()
        case 7 =>
          // managed append with fresh keys (keeps the table key-unique)
          val extra = (0 until rng.nextInt(3) + 1).map { _ =>
            val i = nextFreshId; nextFreshId += 1
            i -> rng.nextInt(10).toLong
          }.toMap
          trace += s"append($extra)"
          st.write(df(extra), path, "delta", "append")
          model = model ++ extra
          fenced()
        case 8 | 9 =>
          // prune up to a random retained stamp (no-op without a feed)
          if (Merge.hasChanges(spark, path)) {
            val stamps = Merge.changeFeed(spark, path)
              .select("batch").distinct()
              .collect().map(_.getLong(0)).sorted
            // the 20-seed soak found an interleaving (orphan
            // injection + vacuum sweeps + prunes) where the feed dir
            // exists but this listing comes back EMPTY — readAsOf
            // handles that state as "no batches" and serves correctly;
            // the harness's nextInt(0) was what blew up. A prune with
            // nothing to aim at skips, like the no-feed branch.
            if (stamps.nonEmpty) {
              val upTo = stamps(rng.nextInt(stamps.length))
              trace += s"prune($upTo)"
              Merge.pruneChangeFeed(spark, path, upTo)
              horizon = math.max(horizon, upTo)
              orphans = orphans.filter(_ > upTo)
            }
          }
        case 10 =>
          // MoR tombstone delete: the RAW file timeline — what
          // readAsOf serves — is untouched, so `model` is too; only
          // the modeled tombstone set grows (matched against the MoR
          // view: already-tombstoned rows can't re-delete)
          val cut = rng.nextInt(10)
          trace += s"mordel($cut)"
          val n = MorDelete.deleteWhere(spark, st, path, s"v >= $cut",
            Seq("id"))
          val newly = (model -- tombs).filter(_._2 >= cut).keySet
          assert(n == newly.size, s"seed=$seed mordel count")
          tombs ++= newly
        case 11 =>
          // MoR compact: tombstoned LIVE rows leave the raw timeline
          // here, uncaptured — fences like a raw delete, but ONLY
          // when rows actually leave (a compact whose tombstones all
          // point at since-deleted keys is content-identical)
          trace += "compact"
          val removed = MorDelete.compact(spark, st, path, Seq("id"))
          val expected = model.keySet.intersect(tombs)
          assert(removed == expected.size, s"seed=$seed compact count")
          if (removed > 0) {
            model = model -- expected
            fenced()
          }
          tombs = Set.empty // compact consumed the sidecar
        case 12 =>
          // CRASH EVENT — a capture died between its batch write and
          // the data rewrite: batch files present, no _commit marker,
          // table unchanged. Every older stamp must now refuse
          // (stepping across the orphan is unknowable); the orphan's
          // own stamp still serves (never stepped). Writing the batch
          // dir creates the feed dir, so a feed era now exists.
          val stamp = Merge.nextBatchStamp()
          trace += s"orphan($stamp)"
          val victim = model.headOption.getOrElse((999L, 9L))
          Seq(TtPropRow(victim._1, victim._2)).toDF()
            .withColumn("_change_type", lit("delete"))
            .write.parquet(s"$path/${Merge.ChangesDirName}/batch=$stamp")
          orphans += stamp
          feedEra = true
          snapshots += ((stamp, model))
        case 13 =>
          // vacuum. GUARDED (default): every injected orphan is
          // seconds old — indistinguishable from a live in-flight
          // capture, so the sweep must leave them ALL (model: nothing
          // changes; later stamps still hit the marker refusal).
          // FORCED (age 0): sweeps every orphan behind a barrier at
          // its stamp — loud horizon refusal replaces the loud marker
          // refusal, never a silent reconstruction across the gap.
          if (rng.nextBoolean()) {
            trace += "vacuum(forced)"
            if (orphans.nonEmpty)
              horizon = math.max(horizon, orphans.max)
            Maintenance.vacuum(spark, path, orphanMinAgeMs = Some(0L))
            orphans = Set.empty
          } else {
            trace += "vacuum(guarded)"
            Maintenance.vacuum(spark, path)
          }
        case 14 =>
          // UNCAPTURED merge (updates + inserts, no captured batch):
          // with a live feed era the feed now has a gap here, so the
          // engine must fence exactly like an uncaptured delete —
          // pre-era it folds into "before everything" like any other
          // pre-history write
          val inc = rng.shuffle((0 until 18).toList)
            .take(rng.nextInt(4) + 1)
            .map(i => i.toLong -> rng.nextInt(10).toLong).toMap
          trace += s"rawmerge($inc)"
          st.merge(df(inc), path, "full.id = incremental.id")
          // every merged key is an update or insert — re-introduced,
          // so its MoR tombstone clears
          tombs --= inc.keys
          model = model ++ inc
          fenced()
        case 15 =>
          // captured RESTORE to a random SERVABLE recorded snapshot:
          // the timeline is never rewritten, only extended — the
          // restore's own batch lands with the merge crash ordering,
          // every older stamp (including the undone ones) keeps
          // serving its model snapshot, and the restored state is the
          // new current. With a live tombstone sidecar restore must
          // refuse loudly instead (the overlay would apply to
          // different files) — pin that too. A target below the
          // horizon or behind an orphan is unservable by contract, so
          // only servable snapshots are candidates; none ⇒ no-op.
          if (Fs.exists(spark, MorDelete.tombstonePath(path))) {
            trace += "restore(refused:tombstones)"
            intercept[IllegalStateException] {
              Restore.toStamp(spark, st, path, Seq("id"),
                snapshots.last._1)
            }
          } else {
            val servable = snapshots.filter { case (s, _) =>
              s >= horizon && !orphans.exists(_ > s) }
            if (servable.nonEmpty) {
              val (tStamp, tSnap) = servable(rng.nextInt(servable.length))
              trace += s"restore($tStamp)"
              val rs = Restore.toStamp(spark, st, path, Seq("id"), tStamp)
              assert(rs.nonEmpty, "captured restore must return its stamp")
              model = tSnap
              feedEra = true
              snapshots += ((rs.get, model))
            } else trace += "restore(no-servable-target)"
          }
        case 16 =>
          // OPTIMIZE: a content-invisible COW rewrite through the same
          // carryLogAndSwap path as every mutation. The timeline must
          // be untouched — no fence, no feed change, every recorded
          // stamp keeps serving its snapshot, tombstones ride the
          // swap. A compaction that corrupted history would be the
          // quietest data-loss of all: nothing about the CURRENT
          // content changes, only the past goes wrong.
          trace += "optimize"
          Optimize.run(spark, st, path)
        case 17 =>
          // ALTER ADD + DROP round trip (schema returns to (id, v), so
          // the harness's fixed row type keeps working): ADD is
          // travel-compatible and fences nothing — every recorded
          // stamp must keep serving, the added column reading null
          // below the add is invisible to the id→v model; DROP is a
          // COW rewrite behind a barrier, sidecars (tombstones
          // included) riding the swap.
          pruneFeedForAlter()
          trace += "alter(add w, drop w)"
          Alter.addColumn(spark, st, path, "w", "string")
          Alter.dropColumn(spark, st, path, "w")
          fenced()
        case 18 =>
          // COW RENAME round trip v→w→v: two full rewrites, two
          // barriers; the content is identical at the end, and every
          // pre-alter stamp must refuse at the fence rather than
          // reconstruct under a schema that briefly did not exist.
          pruneFeedForAlter()
          trace += "alterRename(v→w→v)"
          Alter.renameColumn(spark, st, path, "v", "w")
          Alter.renameColumn(spark, st, path, "w", "v")
          fenced()
        case 19 =>
          // METADATA-ONLY rename round trip through the column
          // mapping: zero data files move, the second rename collapses
          // the mapping back to identity (sidecar gone) — but the
          // fence contract is the same as the COW flavor, and later
          // captured merges/restores run against a table that briefly
          // carried a mapping.
          pruneFeedForAlter()
          trace += "alterMapped(v→w→v)"
          Alter.renameColumnMetadata(spark, st, path, "v", "w")
          Alter.renameColumnMetadata(spark, st, path, "w", "v")
          assert(ColumnMapping.load(spark, path).isEmpty,
            "the identity round trip must clear the mapping sidecar")
          fenced()
      }

      // the three-way contract, checked against the live table
      for (((stamp, snap), i) <- snapshots.zipWithIndex) {
        val ctx = s"seed=$seed i=$i stamp=$stamp\n  " +
          s"trace=${trace.mkString(" | ")}"
        if (stamp < horizon) {
          val msg = try {
            Merge.readAsOf(spark, st, path, Seq("id"), stamp).collect()
            None
          } catch { case e: IllegalArgumentException => Some(e.getMessage) }
          assert(msg.exists(_.contains("horizon")),
            s"expected horizon refusal, got $msg — $ctx")
        } else if (orphans.exists(_ > stamp)) {
          val msg = try {
            Merge.readAsOf(spark, st, path, Seq("id"), stamp).collect()
            None
          } catch { case e: IllegalStateException => Some(e.getMessage) }
          assert(msg.exists(_.contains("commit marker")),
            s"expected orphan refusal, got $msg — $ctx")
        } else for (ck <- Seq(0, 2)) {
          val got = Merge.readAsOf(spark, st, path, Seq("id"), stamp,
              checkpointEvery = ck)
            .as[TtPropRow].collect().map(r => r.id -> r.v).toMap
          assert(got == snap, s"ck=$ck\n got=$got\n exp=$snap\n $ctx")
        }
      }
    }
  }
}
