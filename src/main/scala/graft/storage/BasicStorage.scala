package graft.storage

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Format-dispatching read/write/merge façade.
  * Reference: jorvik/storage/basic.py.
  *
  * Differences from the reference, driven by the environment (no Delta
  * jar) and the JVM host:
  *   - format "delta" = parquet data + `_graft_log` sidecar ([[GraftLog]]);
  *   - `exists` is a single Hadoop FileSystem call (the reference's 3-tier
  *     fallback, basic.py:222-254, exists only because PySpark must cross
  *     py4j — on the JVM one call suffices);
  *   - `merge` is a copy-on-write DataFrame-algebra upsert ([[Merge]]).
  */
class BasicStorage(spark: SparkSession) extends Storage {

  NioLocalFileSystem.install(spark)

  private val observers = ListBuffer.empty[StorageOutputObserver]

  private val formats = Set("delta", "parquet", "json", "csv", "orc")

  private def requireFormat(format: String): Unit =
    require(formats.contains(format), s"Unsupported format: $format")

  /** Physical format backing a logical format. */
  private def physical(format: String): String =
    if (format == "delta") "parquet" else format

  override def read(path: String, format: String,
                    options: Map[String, String] = Map.empty): DataFrame = {
    val raw = readPhysical(path, format, options)
    // column mapping ([[ColumnMapping]]): managed reads surface
    // LOGICAL names — one projection Catalyst collapses into the
    // scan. Unmapped tables pay two driver metadata stats (sidecar +
    // its crash aside), the same cost class as the managed-table
    // check itself
    if (format == "delta") ColumnMapping.toLogical(spark, path, raw)
    else raw
  }

  /** The raw file read, PHYSICAL column names (what the parquet
    * footers carry). [[read]] wraps it with the column-mapping
    * projection; [[readStream]] needs it directly — a file stream
    * matches columns BY NAME, so its schema probe must be physical. */
  private def readPhysical(path: String, format: String,
                           options: Map[String, String]): DataFrame = {
    requireFormat(format)
    // csv defaults: header + inferSchema (basic.py:35-37)
    val opts =
      if (format == "csv")
        Map("header" -> "true", "inferSchema" -> "true") ++ options
      else options
    try spark.read.format(physical(format)).options(opts).load(path)
    catch {
      // A managed table EMPTIED by delete-all / compact-all has no
      // data files for schema inference (Spark writes zero parquet
      // files for an all-empty frame) — the delete recorded the
      // surviving schema in a sidecar, so the empty table stays
      // readable (and writable: the next write makes files exist
      // again and the stale sidecar is never consulted). Exception
      // path only: zero cost on every normal read.
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" &&
            format == "delta" &&
            Fs.exists(spark, GraftLog.schemaSidecar(path)) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(Fs.readText(spark, GraftLog.schemaSidecar(path)))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).format(physical(format))
          .options(opts).load(path)
    }
  }

  override def readStream(path: String, format: String,
                          options: Map[String, String] = Map.empty): DataFrame = {
    requireFormat(format)
    // File-source streams need an explicit schema: probe with a batch read
    // (basic.py:62-66). Applies to "delta" too here — parquet backing has
    // no transaction log to supply the schema. The probe must be the
    // PHYSICAL schema: the stream scans files and matches columns by
    // name, so probing a mapped table's logical schema would silently
    // read a renamed column as all-null. The logical projection
    // applies ON TOP of the stream instead.
    val schema = readPhysical(path, format, options).schema
    val reader = spark.readStream.schema(schema).format(physical(format))
    val stream = reader.options(options).load(path)
    if (format == "delta") ColumnMapping.toLogical(spark, path, stream)
    else stream
  }

  override def write(df: DataFrame, path: String, format: String, mode: String,
                     partitionFields: Seq[String] = Nil,
                     options: Map[String, String] = Map.empty): Unit = {
    requireFormat(format)
    val opts =
      if (format == "csv")
        Map("header" -> "true", "delimiter" -> ",") ++ options
      else options
    // table CHECK constraints gate the incoming frame BEFORE any file
    // lands (Delta semantics; one aggregation pass, only when the
    // managed table has registered constraints)
    val managed = format == "delta" && GraftLog.isManagedTable(spark, path)
    if (managed) Constraints.validateIncoming(spark, df, path)
    def save(target: String, frame: DataFrame = df): Unit = {
      var writer = frame.write.format(physical(format))
      if (mode == "overwrite") writer = writer.option("overwriteSchema", "true")
      if (partitionFields.nonEmpty)
        writer = writer.partitionBy(partitionFields: _*)
      writer.options(opts).mode(mode).save(target)
    }
    if (managed && mode == "overwrite") {
      // An in-place parquet overwrite deletes the WHOLE table dir —
      // op log, constraints, change feed, tombstones. Stage the new
      // data beside the table and let the swap carry each sidecar per
      // its semantics (GraftLog.overwriteSwap). Bonus: read-then-
      // overwrite of the same table works, since the old files
      // survive until the staged data is complete. The commit lock
      // (Txn) serializes against every other mutation — the staging
      // write may READ this table, so it runs under the lock too.
      Txn.withTableLock(spark, path, "WRITE") {
        val base = path.stripSuffix("/")
        val tmp = base + "__graft_tmp"
        Fs.deleteChecked(spark, tmp)
        save(tmp)
        GraftLog.overwriteSwap(spark, base, tmp)
        GraftLog.append(spark, path, "WRITE", partitionFields)
      }
    } else if (managed && mode == "append") {
      // An append is an uncaptured mutation: on a table with a live
      // change feed it fences time travel (recordChangeBarrier) —
      // appended rows carry no key contract (duplicates allowed), so
      // capturing them as keyed insert changes would make inverse
      // replay remove MORE than the append added; route keyed inserts
      // through merge(captureChanges = true) to keep history servable.
      // The commit lock serializes against rewrites: an append landing
      // mid-merge would vanish with the merge's swap (lost update).
      Txn.withTableLock(spark, path, "WRITE") {
        Merge.recordChangeBarrier(spark, path, "CHANGES_BARRIER",
          partitionFields)
        // appended rows re-introducing MoR-tombstoned keys clear those
        // tombstones (see MorDelete.planReconcile) — data first, then
        // the sidecar, so a crash between the two is healed by retry
        val tombPlan = MorDelete.planReconcile(spark, path, df)
        // appended files must carry PHYSICAL names — mixed-name files
        // would make the scan's inferred schema file-dependent
        save(path, ColumnMapping.toPhysical(spark, path, df))
        tombPlan.foreach(MorDelete.commitReconcile(spark, path, _))
        GraftLog.append(spark, path, "WRITE", partitionFields)
      }
    } else {
      save(path)
      // a first "delta" write creates the op log (the table becomes
      // managed from here on); plain formats record nothing
      if (format == "delta")
        GraftLog.append(spark, path, "WRITE", partitionFields)
    }
    notifyOutputObservers(df, path)
  }

  override def writeStream(df: DataFrame, path: String, format: String,
                           checkpoint: String,
                           partitionFields: Seq[String] = Nil,
                           options: Map[String, String] = Map.empty): StreamingQuery = {
    requireFormat(format)
    // Observers fire before start for streams (basic.py:126 — asymmetric
    // with batch write by design: the query never "completes").
    notifyOutputObservers(df, path)
    // A file-sink stream appends rows the change feed never sees —
    // uncaptured mutations, one per micro-batch. Fence ONCE at stream
    // start: pre-stream stamps refuse (their snapshots are about to
    // stop being reconstructible), and no stamps are issued while the
    // stream runs, so one fence covers its whole lifetime under the
    // engine's single-writer contract. No-op for never-fed tables.
    val managed = format == "delta" && GraftLog.isManagedTable(spark, path)
    if (managed)
      Merge.recordChangeBarrier(spark, path, "CHANGES_BARRIER",
        partitionFields)
    // sink files must carry PHYSICAL names under a column mapping
    // (projections compose with streaming frames)
    val out =
      if (managed) ColumnMapping.toPhysical(spark, path, df) else df
    var writer = out.writeStream.format(physical(format))
    if (partitionFields.nonEmpty) writer = writer.partitionBy(partitionFields: _*)
    writer = writer.options(options)
    val q = writer.option("checkpointLocation", checkpoint).start(path)
    if (format == "delta")
      GraftLog.append(spark, path, "STREAMING", partitionFields)
    q
  }

  override def merge(df: DataFrame, path: String, mergeCondition: String,
                     partitionFields: Seq[String] = Nil,
                     mergeSchemas: Boolean = false,
                     updateCondition: Option[String] = None,
                     insertCondition: Option[String] = None,
                     errorOnMultiMatch: Boolean = false,
                     deleteCondition: Option[String] = None,
                     captureChanges: Boolean = false): Unit = {
    // constraints gate the INCOMING side: kept rows already satisfied
    // them, and every inserted/updated value originates here (the
    // merge's update action replaces whole rows from the incremental)
    if (GraftLog.isManagedTable(spark, path))
      Constraints.validateIncoming(spark, df, path)
    val created = Merge.run(spark, this, df, path, mergeCondition,
      partitionFields, mergeSchemas, updateCondition, insertCondition,
      errorOnMultiMatch, deleteCondition, captureChanges)
    // auto-create goes through write(), which already notified
    // (reference early-returns there: basic.py:170-172)
    if (!created) notifyOutputObservers(df, path)
  }

  override def exists(path: String): Boolean = Fs.exists(spark, path)

  override def registerOutputObserver(observer: StorageOutputObserver): Unit =
    observers += observer

  def notifyOutputObservers(df: DataFrame, outputPath: String): Unit =
    observers.foreach(_.update(df, outputPath))
}
