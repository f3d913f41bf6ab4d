package graft.storage

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Test row (top level — Spark encoders cannot reach inner classes). */
case class MvPropRow(id: Long, k: String, v: java.lang.Double)

/** Two-metric row for the [[MatView.createMulti]] shapes. */
case class MvPropRow2(id: Long, k: String, v: java.lang.Double,
                      w: java.lang.Double)

/** Model-based property test for [[MatView]] over random interleavings
  * of the storage engine's mutation paths — captured merges (with
  * delete clauses and null values), captured predicate deletes,
  * UNcaptured merges and deletes, managed overwrites and appends,
  * feed prunes, MoR tombstone deletes and compacts, captured restores,
  * and content-invisible OPTIMIZE compactions.
  *
  * The invariant: after EVERY refresh, the view equals a fresh
  * recompute of the current (read-visible) table — whatever
  * classification path the refresh took. Mode checks are pinned only
  * where the outcome is deterministic: a captured merge must fold
  * INCREMENTALLY (catching a regression to silent always-rebuild,
  * which would keep content green while destroying the operator's
  * 100 TB point), OPTIMIZE must ADVANCE, and an overwrite must
  * REBUILD. Everything else may legitimately vary with the
  * interleaving (a zero-row delete appends nothing; a prune's
  * classification depends on whether a capture preceded it).
  */
class MatViewPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def st = new BasicStorage(spark)

  private val keysPool = Array("a", "b", "c", "d")

  private def df(rows: Seq[MvPropRow]) = rows.toDF()

  private def recompute(path: String) =
    MatViewTestSupport.recompute(spark, st, path)

  /** Even seeds pin the state at 32 buckets, so the partial-bucket
    * commit stays covered: unpinned, the first refresh whose delta
    * covers every live bucket restages these 4-key views at one
    * bucket, whose every later commit is a whole-state rewrite. Odd
    * seeds run unpinned and cover the restage. */
  private def bucketsFor[T](seed: Int)(body: => T): T =
    if (seed % 2 == 1) body
    else {
      spark.conf.set(MatView.StateBucketsKey, "32")
      try body finally spark.conf.unset(MatView.StateBucketsKey)
    }

  test("random mutation interleavings: after every refresh the view " +
      "equals a recompute of the current table") {
    // soak knob: GRAFT_MV_PROP_SEEDS=25 for an extended local run
    val nSeeds = sys.env.get("GRAFT_MV_PROP_SEEDS")
      .map(_.toInt).getOrElse(5)
    for (seed <- 0 until nSeeds) bucketsFor(seed) {
      val rng = new scala.util.Random(70 + seed)
      val root = tempDir(s"mv_prop_$seed")
      val (path, view) = (root + "/t", root + "/v")

      def randV(): java.lang.Double =
        if (rng.nextInt(5) == 0) null
        else java.lang.Double.valueOf(rng.nextInt(9).toDouble)
      def randRows(ids: Seq[Long]): Seq[MvPropRow] =
        ids.map(i => MvPropRow(i, keysPool(rng.nextInt(keysPool.length)),
          randV()))
      var nextFreshId = 100L

      st.write(df(randRows(0L to 11L)), path, "delta", "overwrite")
      MatView.create(spark, st, path, view, Seq("k"), "v")
      val trace = new scala.collection.mutable.ArrayBuffer[String]()

      for (step <- 0 until 10) {
        rng.nextInt(15) match {
          case 0 | 1 | 2 | 3 =>
            // captured merge: upserts over a random id mix (existing +
            // maybe new), delete clause on v = -1 — the clean-DML path
            // that MUST stay incremental
            val ids = rng.shuffle((0L to 14L).toList)
              .take(rng.nextInt(4) + 2)
            val inc = ids.map { i =>
              MvPropRow(i, keysPool(rng.nextInt(keysPool.length)),
                if (rng.nextInt(4) == 0) java.lang.Double.valueOf(-1.0)
                else randV())
            }
            trace += s"capmerge($inc)"
            st.merge(df(inc), path, "full.id = incremental.id",
              deleteCondition = Some("incremental.v = -1"),
              captureChanges = true)
            val r = MatView.refresh(spark, st, view)
            assert(r.mode == "incremental",
              s"seed=$seed step=$step captured merge must fold " +
                s"incrementally, took ${r.mode}; trace=$trace")
          case 4 | 5 =>
            // captured predicate delete (null-valued rows are kept by
            // SQL delete semantics — coalesce(cond, false))
            val cut = rng.nextInt(9)
            trace += s"capdel($cut)"
            Delete.where(spark, st, path, s"v >= $cut",
              captureChanges = true)
            MatView.refresh(spark, st, view)
          case 6 =>
            val cut = rng.nextInt(9)
            trace += s"rawdel($cut)"
            Delete.where(spark, st, path, s"v >= $cut")
            MatView.refresh(spark, st, view)
          case 7 =>
            // UNCAPTURED merge — a MERGE op with no batch behind it
            val inc = randRows(rng.shuffle((0L to 14L).toList)
              .take(rng.nextInt(3) + 1))
            trace += s"rawmerge($inc)"
            st.merge(df(inc), path, "full.id = incremental.id")
            MatView.refresh(spark, st, view)
          case 8 =>
            trace += "overwrite"
            st.write(df(randRows(0L to rng.nextInt(8).toLong)), path,
              "delta", "overwrite")
            val r = MatView.refresh(spark, st, view)
            assert(r.mode == "rebuild",
              s"seed=$seed step=$step overwrite must rebuild, took " +
                s"${r.mode}; trace=$trace")
          case 9 =>
            val extra = (0 until rng.nextInt(3) + 1).map { _ =>
              val i = nextFreshId; nextFreshId += 1
              MvPropRow(i, keysPool(rng.nextInt(keysPool.length)), randV())
            }
            trace += s"append($extra)"
            st.write(df(extra), path, "delta", "append")
            MatView.refresh(spark, st, view)
          case 10 =>
            trace += "optimize"
            Optimize.run(spark, st, path)
            val r = MatView.refresh(spark, st, view)
            assert(Set("advance", "noop")(r.mode),
              s"seed=$seed step=$step OPTIMIZE must advance (or noop " +
                s"when nothing moved), took ${r.mode}; trace=$trace")
          case 11 =>
            // prune the feed up to a random retained stamp
            if (Merge.hasChanges(spark, path)) {
              val stamps = Merge.changeFeed(spark, path)
                .select("batch").distinct()
                .collect().map(_.getLong(0)).sorted
              if (stamps.nonEmpty) {
                val upTo = stamps(rng.nextInt(stamps.length))
                trace += s"prune($upTo)"
                Merge.pruneChangeFeed(spark, path, upTo)
                MatView.refresh(spark, st, view)
              }
            }
          case 12 =>
            // MoR tombstone delete: read-visible content changes with
            // NO captured batch — the view must never trust the feed
            // across it
            val cut = rng.nextInt(9)
            trace += s"mordel($cut)"
            MorDelete.deleteWhere(spark, st, path, s"v >= $cut", Seq("id"))
            MatView.refresh(spark, st, view)
          case 13 =>
            trace += "morcompact"
            MorDelete.compact(spark, st, path, Seq("id"))
            MatView.refresh(spark, st, view)
          case 14 =>
            // captured restore to a random servable stamp, when any
            val stamps =
              if (!Merge.hasChanges(spark, path)) Nil
              else Merge.changeFeed(spark, path).select("batch")
                .distinct().collect().map(_.getLong(0)).sorted.toSeq
            if (stamps.nonEmpty) {
              val to = stamps(rng.nextInt(stamps.length))
              trace += s"restore($to)"
              try Restore.toStamp(spark, st, path, Seq("id"), to)
              catch {
                // below a horizon / across an orphan: refusal is the
                // restore contract, not this spec's subject
                case _: IllegalArgumentException => ()
                case _: IllegalStateException => ()
              }
              MatView.refresh(spark, st, view)
            }
        }
        // THE invariant: whatever path the refresh took, the view now
        // equals a recompute of the read-visible table
        assertDfEqual(MatView.read(spark, view), recompute(path))
      }
    }
  }

  /** The same adversarial interleaving driven over the MULTI-METRIC
    * shapes (two value columns × {min/max, abelian}) — a reduced op
    * mix covering every classification path: captured merges with
    * delete clauses (incremental — pinned), captured and uncaptured
    * predicate deletes, overwrites (rebuild — pinned), appends, and
    * OPTIMIZE (advance — pinned). The abelian shape additionally pins
    * groupsRescanned == 0 on every incremental refresh: its whole
    * point is that NO delete pattern can poison a group. */
  for (withMinMax <- Seq(true, false))
    test(s"multi-metric (2 values, minMax=$withMinMax): after every " +
        "refresh the view equals a recompute") {
      val nSeeds = sys.env.get("GRAFT_MV_PROP_SEEDS")
        .map(_.toInt).getOrElse(3)
      for (seed <- 0 until nSeeds) bucketsFor(seed) {
        val rng = new scala.util.Random(700 + seed)
        val root = tempDir(s"mv_prop2_${withMinMax}_$seed")
        val (path, view) = (root + "/t", root + "/v")

        def randV(): java.lang.Double =
          if (rng.nextInt(5) == 0) null
          else java.lang.Double.valueOf(rng.nextInt(9).toDouble)
        def randRows(ids: Seq[Long]): Seq[MvPropRow2] =
          ids.map(i => MvPropRow2(i,
            keysPool(rng.nextInt(keysPool.length)), randV(), randV()))

        st.write(randRows(0L to 11L).toDF(), path, "delta", "overwrite")
        MatView.createMulti(spark, st, path, view, Seq("k"),
          Seq("v", "w"), withMinMax)
        def recomputeM = MatViewTestSupport.recomputeMulti(
          spark, st, path, Seq("k"), Seq("v", "w"), withMinMax)
        val trace = new scala.collection.mutable.ArrayBuffer[String]()

        def checkedRefresh(): MatViewRefresh = {
          val r = MatView.refresh(spark, st, view)
          if (!withMinMax && r.mode == "incremental")
            assert(r.groupsRescanned == 0L,
              s"abelian state must never rescan; trace=$trace")
          r
        }

        for (step <- 0 until 8) {
          rng.nextInt(10) match {
            case 0 | 1 | 2 | 3 =>
              val ids = rng.shuffle((0L to 14L).toList)
                .take(rng.nextInt(4) + 2)
              val inc = ids.map { i =>
                MvPropRow2(i, keysPool(rng.nextInt(keysPool.length)),
                  if (rng.nextInt(4) == 0) java.lang.Double.valueOf(-1.0)
                  else randV(), randV())
              }
              trace += s"capmerge($inc)"
              st.merge(inc.toDF(), path, "full.id = incremental.id",
                deleteCondition = Some("incremental.v = -1"),
                captureChanges = true)
              val r = checkedRefresh()
              assert(r.mode == "incremental",
                s"seed=$seed step=$step captured merge must fold " +
                  s"incrementally, took ${r.mode}; trace=$trace")
            case 4 | 5 =>
              val cut = rng.nextInt(9)
              trace += s"capdel($cut)"
              Delete.where(spark, st, path, s"v >= $cut",
                captureChanges = true)
              checkedRefresh()
            case 6 =>
              val cut = rng.nextInt(9)
              trace += s"rawdel($cut)"
              Delete.where(spark, st, path, s"w >= $cut")
              checkedRefresh()
            case 7 =>
              trace += "overwrite"
              st.write(randRows(0L to rng.nextInt(8).toLong).toDF(),
                path, "delta", "overwrite")
              val r = checkedRefresh()
              assert(r.mode == "rebuild",
                s"seed=$seed step=$step overwrite must rebuild, took " +
                  s"${r.mode}; trace=$trace")
            case 8 =>
              val extra = randRows(
                (100L + step * 3) to (100L + step * 3 + rng.nextInt(2)))
              trace += s"append($extra)"
              st.write(extra.toDF(), path, "delta", "append")
              checkedRefresh()
            case 9 =>
              trace += "optimize"
              Optimize.run(spark, st, path)
              val r = checkedRefresh()
              assert(Set("advance", "noop")(r.mode),
                s"seed=$seed step=$step OPTIMIZE must advance, took " +
                  s"${r.mode}; trace=$trace")
          }
          assertDfEqual(MatView.read(spark, view), recomputeM)
        }
      }
    }
}
