package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE partition-scoped commit mechanism for managed tables —
  * merge, delete, and scoped OPTIMIZE all replace matched partition
  * directories through here instead of Spark's dynamic partition
  * overwrite.
  *
  * Why not `partitionOverwriteMode=dynamic`: its commit DELETES each
  * matched partition dir and then renames the staged copy in — a
  * driver crash in that window leaves the partition MISSING, its rows
  * stranded in an unreadable `.spark-staging` dir no reader or vacuum
  * recognizes. At 100 TB that is whole-partition data loss from one
  * ill-timed crash on the engine's hottest write path.
  *
  * Here the caller stages the replacement partitions in the table's
  * `__graft_tmp` sibling and each matched directory swaps via
  * rename-aside: live → the `__graft_partaside` mirror, staged →
  * live. A COMPLETE copy of every partition exists at every instant
  * (live, staged, or aside). Partitions EMPTIED by the mutation (no
  * surviving rows) rename into the aside with no replacement; brand
  * NEW partitions (no live dir) rename in after their birth is
  * recorded in the aside's manifest. Once every swap landed, the
  * aside retires at the commit point — one rename to its `__consumed`
  * name — and is then deleted: no replaced partition copy is kept for
  * readers (a lock-free read that lost one retries the live root —
  * [[Txn.retryTransient]]).
  *
  * Crash contract: a crash mid-commit leaves some partitions swapped
  * and some not — plus possibly one riding in the aside between its
  * two renames. [[heal]] (run by every mutation at entry, under the
  * commit lock, and by [[Maintenance.vacuum]]) rolls the whole
  * mutation BACK: born partitions (manifest-recorded before their
  * rename) are deleted — the mutation never committed its op-log
  * row, and leaving one live would serve a moved row twice against
  * the restored original — and any leaf whose live dir is missing is
  * restored from the aside (the only complete copy; this also rolls
  * back a crashed removal); leaves whose swap completed are dropped
  * with the aside. Until the heal runs, readers of a crashed table
  * can see the mid-rename partition missing — the trade is a visible,
  * healable gap instead of silent loss; the commit lock means no
  * WRITER ever acts on the un-healed state. */
object PartitionSwap {

  /** Root-level sibling holding parked partition originals in the
    * mirrored hive layout (`<base>__graft_partaside/k=v/...`). A
    * sibling, not an interior dir — an interior name could collide
    * with a partition VALUE; a sibling cannot. */
  def asidePath(base: String): String =
    base.stripSuffix("/") + "__graft_partaside"

  /** Swap `replaced` partitions' staged copies in from `tmp` and park
    * `removed` partitions (no surviving rows) in the aside. EVERY
    * `replaced` partition must have a staged copy — a missing one
    * refuses loudly before touching the live dir; a partition the
    * mutation emptied belongs in `removed`, never in `replaced`. */
  def swap(spark: SparkSession, base: String, tmp: String,
           parts: Seq[String], replaced: Seq[Seq[Any]],
           removed: Seq[Seq[Any]] = Nil): Unit = {
    val aside = asidePath(base)
    Fs.deleteChecked(spark, aside) // heal() ran at mutation entry
    val fs = Fs.fileSystem(spark, new Path(base))
    // partitions this swap CREATES are recorded in the aside's born
    // dir, and each record lands BEFORE its dir's rename into place
    // (record-before-data): [[heal]] must roll a crashed swap's born
    // dirs back (they belong to a mutation that never committed —
    // leaving one live would serve a moved row twice against the
    // restored old copy). A record without its dir is a harmless
    // no-op; a dir without its record would be the silent
    // half-applied heal this ordering exists to prevent. ONE
    // IMMUTABLE FILE PER RECORD,
    // published by rename (content = the hive fragment): rewriting a
    // single manifest in place would truncate EXISTING records in the
    // crash window — worse than no record, since a torn line could
    // even name an untouched partition for heal to delete.
    var bornN = 0
    def recordBorn(frag: String): Unit = {
      val dir = aside + "/" + BornDirName
      fs.mkdirs(new Path(dir))
      val tmpF = s"$dir/.born-$bornN.tmp"
      Fs.writeText(spark, tmpF, frag)
      Fs.renameChecked(spark, tmpF, s"$dir/born-$bornN")
      bornN += 1
    }
    replaced.foreach { values =>
      val frag = Fs.partitionDirName(parts, values)
      val staged = tmp + "/" + frag
      if (!Fs.exists(spark, staged))
        throw new IllegalStateException(
          s"partition swap staged no copy for $frag — refusing to " +
            "touch the live partition (a replaced partition must " +
            "have a staged replacement; emptied partitions go in " +
            "the removed set)")
      val live = base + "/" + frag
      if (Fs.exists(spark, live)) {
        val asideLeaf = aside + "/" + frag
        fs.mkdirs(new Path(asideLeaf).getParent)
        Fs.renameChecked(spark, live, asideLeaf)
      } else {
        // a brand-new partition: nothing to park, but a multi-level
        // layout's intermediate dirs may not exist yet for the rename
        fs.mkdirs(new Path(live).getParent)
        recordBorn(frag)
      }
      Fs.renameChecked(spark, staged, live)
    }
    removed.foreach { values =>
      val frag = Fs.partitionDirName(parts, values)
      val live = base + "/" + frag
      if (Fs.exists(spark, live)) {
        val asideLeaf = aside + "/" + frag
        fs.mkdirs(new Path(asideLeaf).getParent)
        Fs.renameChecked(spark, live, asideLeaf)
      }
    }
    // COMMIT POINT: one rename retires the whole aside. A crash
    // mid-delete of a LIVE aside would leave half-emptied leaves that
    // heal() would then restore as live partitions — a partition
    // serving an arbitrary subset of its rows. A consumed root is
    // never healed from, only swept.
    if (Fs.exists(spark, aside)) {
      Fs.deleteChecked(spark, consumedPath(base))
      Fs.renameChecked(spark, aside, consumedPath(base))
    }
    Fs.deleteChecked(spark, consumedPath(base))
  }

  /** (absolute leaf dir, path relative to `aside`) for every parked
    * partition dir under an aside root (the mirrored hive layout).
    * Descends only `k=v` segments (the born manifest's underscore dir
    * never appears); leaf = a `=`-dir with no `=` children. */
  def asideLeaves(spark: SparkSession,
                  aside: String): Seq[(String, String)] = {
    val root = new Path(aside.stripSuffix("/"))
    val fs = Fs.fileSystem(spark, root)
    val rootStr = fs.makeQualified(root).toString
    def walk(dir: Path): Seq[(String, String)] = {
      val parts = fs.listStatus(dir).toSeq.filter(st =>
        st.isDirectory && !st.getPath.getName.startsWith("_") &&
          st.getPath.getName.contains("="))
      if (parts.isEmpty) {
        val p = fs.makeQualified(dir).toString
        if (p == rootStr) Nil // empty aside
        else Seq((p, p.stripPrefix(rootStr).stripPrefix("/")))
      } else parts.flatMap(s => walk(s.getPath))
    }
    walk(root)
  }

  /** Post-commit retired aside awaiting deletion — pure debris at any
    * age (the rename that created it IS the commit point). */
  def consumedPath(base: String): String = asidePath(base) + "__consumed"

  /** Record dir (aside-root-level, underscore-named — never walked as
    * a partition) holding one immutable rename-published file per
    * partition the swap CREATED, each file's content the hive
    * fragment: the heal's rollback list. */
  val BornDirName = "_graft_born_parts"

  /** The born-partition fragments an aside recorded; empty when the
    * swap created none. In-flight `.tmp` records (crash between write
    * and publish-rename) are ignored — their dirs never renamed in. */
  def bornParts(spark: SparkSession, aside: String): Seq[String] = {
    val dir = aside.stripSuffix("/") + "/" + BornDirName
    val p = new Path(dir)
    val fs = Fs.fileSystem(spark, p)
    if (!fs.exists(p)) Nil
    else if (fs.getFileStatus(p).isFile)
      // an older build's single-file record: healing without its born
      // rollback would leave created partitions behind — refuse
      throw new IllegalStateException(
        s"partition swap record $dir is in an older on-disk format " +
          "this build no longer reads — recreate the table")
    else Fs.listFiles(spark, dir).filter(_.startsWith("born-"))
      .map(f => Fs.readText(spark, s"$dir/$f").trim)
      .filter(_.nonEmpty)
  }

  /** Recover a crashed partition-scoped commit (see the class doc).
    * Idempotent; no-op without an aside. Every partition-mutating
    * entry point calls this FIRST, under the lock — a mutation that
    * read the un-healed table would miss the parked partitions'
    * rows. */
  def heal(spark: SparkSession, base: String): Unit = {
    // a retired aside is post-commit debris — swept, NEVER healed
    // from (its delete may have been interrupted half-way)
    Fs.deleteChecked(spark, consumedPath(base))
    val aside = asidePath(base)
    if (!Fs.exists(spark, aside)) return
    // ROLL BACK the crashed swap's BORN partitions first: a partition
    // the mutation CREATED (recorded in the aside's manifest) has no
    // parked original — it simply must not exist in the rolled-back
    // table. Leaving it live would heal into a half-applied mutation:
    // a row the crashed merge MOVED into a new partition would be
    // served twice (old copy restored from the aside AND the new
    // copy in the born dir) even though the mutation never committed
    // its op-log row. Deleting is safe precisely because the aside
    // still exists — the commit point (the aside's rename away) was
    // never reached, so the born dirs hold only the uncommitted
    // staged copies. Idempotent like the rest of the heal.
    bornParts(spark, aside).foreach { rel =>
      // CHECKED: a silently failed delete here, followed by the
      // aside's removal below, would leave the born dir live with its
      // only record destroyed — permanent double-serving
      Fs.deleteChecked(spark, base + "/" + rel)
    }
    asideLeaves(spark, aside).foreach { case (leaf, rel) =>
      val live = base + "/" + rel
      if (!Fs.exists(spark, live)) Fs.renameChecked(spark, leaf, live)
    }
    Fs.deleteChecked(spark, aside)
  }
}
