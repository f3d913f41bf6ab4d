package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Expectations
import graft.examples.pretrain.PretrainPipeline
import graft.lineage.DataLineageLogger
import graft.ops.Similarity
import graft.pipelines.{FileInput, FileOutput, MergeOutput, Pipelines}
import graft.storage._
import graft.streaming.StreamingOps

/** Latency samples per operation kind, plus the attempt and failure
  * counts that feed `fail_ratio`. */
class Ops {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L

  def time[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try body catch { case e: Throwable => failed += 1; throw e }
    record(kind, (System.nanoTime() - t0) / 1e6)
    out
  }

  def record(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload bound to one storage root. `setup` builds its state;
  * each `step` is one cycle of the generated plan (false once the plan
  * is used up). The first `warmup` steps run before the measurement;
  * the measured seconds count from measured step `windowFrom` on.
  * `finish` runs a closing phase that belongs to the measurement;
  * `checks` compares the outputs with an independent computation and
  * runs after the measurement. */
trait Workload {
  def setup(): Unit
  def step(i: Int): Boolean
  def warmup: Int = 0
  def windowFrom: Int = 0
  def finish(): Unit = ()
  def checks(): Seq[Check]
  val ops = new Ops
  var rows = 0L
  var inputBytes = 0L
  def counters(): Map[String, Double] = Map.empty
  /** Tables and views whose current files count as live data. */
  def liveFiles(): Seq[String]
  /** Extra result fields the Python side checks (JSON values). */
  def extra(): Map[String, String] = Map.empty
  def close(): Unit = ()
}

object Workload {
  val mapper = new ObjectMapper()

  def plan(data: String): JsonNode =
    mapper.readTree(new java.io.File(s"$data/plan.json"))

  def fileBytes(path: String): Long = new java.io.File(path).length()

  def keysIn(keys: JsonNode): String =
    keys.elements().asScala.map(_.asLong).mkString("o_orderkey IN (", ",", ")")

  val orderSchema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING")

  /** Row count and the sum of 64-bit row hashes: equal multisets of
    * rows give equal fingerprints, in one pass without a shuffle. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** `actual` holds exactly the rows of `expected`, compared in
    * `expected`'s column order and types; on a mismatch the check
    * counts the differing rows. */
  def sameRows(name: String, actual: DataFrame, expected: DataFrame): Check = {
    val a = actual.select(expected.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    if (fingerprint(a) == fingerprint(expected))
      Check(name, ok = true, "row fingerprints equal")
    else Check(name, ok = false,
      s"${a.exceptAll(expected).count()} unexpected rows, " +
        s"${expected.exceptAll(a).count()} missing rows")
  }

  def apply(name: String, spark: SparkSession, data: String,
            root: String): Workload = name match {
    case "incremental_etl" => new IncrementalEtl(spark, data, root)
    case "view_maintenance" => new ViewMaintenance(spark, data, root)
    case "corpus_curation" => new CorpusCuration(spark, data, root)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** jorvik's own use case: small batches through typed ETL pipelines into
  * a managed silver table, a gold summary republished after each batch,
  * periodic deletes and reads, and routine table maintenance. */
class IncrementalEtl(spark: SparkSession, data: String, root: String)
    extends Workload {
  import Workload._

  private val plan = Workload.plan(data)
  private val st = new TimedStorage(spark)
  private val plain = new BasicStorage(spark)
  private val silver = s"$root/silver_orders"
  private val gold = s"$root/gold_customers"
  private val lineageLog = s"$root/_lineage"
  st.registerOutputObserver(
    new TimedObserver(new DataLineageLogger(lineageLog), "lineage.update"))

  private val goldSchema = StructType.fromDDL(
    "o_custkey BIGINT, n_orders BIGINT, total_cents BIGINT, last_order DATE")
  private val slicesRun = mutable.ArrayBuffer.empty[String]
  private val deletesRun = mutable.ArrayBuffer.empty[JsonNode]
  private var etlRuns = 0L
  private var setupWrites = 0L

  private def summary(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey")).agg(
      count(lit(1)).as("n_orders"),
      sum(functions.round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
      max(col("o_orderdate")).as("last_order"))

  private def ingest(slice: String) = Pipelines.etl(
    Seq(FileInput(slice, "parquet", schema = Some(orderSchema),
      storage = Some(st),
      expectations = Seq(Expectations.InRange("o_totalprice", 0.0, 1.0e7)))),
    Seq(MergeOutput(silver, "full.o_orderkey = incremental.o_orderkey",
      schema = Some(orderSchema), storage = Some(st))))(identity)

  private val publish = Pipelines.etl(
    Seq(FileInput(silver, "delta", schema = Some(orderSchema),
      storage = Some(st))),
    Seq(FileOutput(gold, "delta", "overwrite", schema = Some(goldSchema),
      storage = Some(st))))(dfs => Seq(summary(dfs.head)))

  private def runEtl(etl: graft.pipelines.ETL): Unit = {
    ops.time("commit")(Recorder.span("pipelines.run")(etl.run(spark)))
    etlRuns += 1
  }

  override def setup(): Unit = {
    st.write(spark.read.parquet(s"$data/base_orders.parquet"), silver,
      "delta", "overwrite")
    st.write(summary(st.read(silver, "delta")), gold, "delta", "overwrite")
    setupWrites = 2
  }

  // one step: a batch, and on the plan's schedule a delete, the reads
  // and the maintenance
  override def warmup: Int = 1

  override def step(i: Int): Boolean = {
    val steps = plan.get("steps")
    if (i >= steps.size) return false
    val sp = steps.get(i)
    val slice = s"$data/${sp.get("file").asText}"
    val t0 = System.nanoTime()
    runEtl(ingest(slice))
    runEtl(publish)
    ops.record("cycle", (System.nanoTime() - t0) / 1e6)
    slicesRun += slice
    rows += sp.get("rows").asLong
    inputBytes += fileBytes(slice)
    if (sp.has("delete_keys")) {
      val keys = sp.get("delete_keys")
      ops.time("commit")(Recorder.span("storage.delete")(
        Delete.where(spark, st, silver, keysIn(keys))))
      deletesRun += keys
      rows += keys.size
      ops.time("read") {
        Recorder.span("storage.snapshot")(Txn.snapshot(spark, silver))
        Recorder.span("storage.read")(plain.read(silver, "delta")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)), sum(col("o_totalprice"))).collect())
      }
      ops.time("read")(Recorder.span("storage.history")(
        GraftLog.history(spark, silver).collect()))
      ops.time("read")(Recorder.span("storage.history")(
        GraftLog.tableDetail(spark, silver).collect()))
      ops.time("maintain") {
        Recorder.span("storage.maintain")(Maintenance.compactLog(spark, silver))
        Recorder.span("storage.maintain")(Maintenance.compactLog(spark, gold))
        Recorder.span("storage.maintain")(Optimize.run(spark, st, silver))
        Recorder.span("storage.maintain")(Maintenance.vacuum(spark, silver))
        Recorder.span("storage.maintain")(Maintenance.vacuum(spark, gold))
      }
    }
    true
  }

  /** The expected silver table, recomputed with plain Spark from the
    * generated files: the newest version of every key over the base and
    * the slices this run merged, minus the keys it deleted. */
  private def expectedSilver(): DataFrame = {
    val versions = (s"$data/base_orders.parquet" +: slicesRun.toSeq)
      .zipWithIndex.map { case (f, i) =>
        spark.read.parquet(f).withColumn("__v", lit(i)) }
      .reduce(_ unionByName _)
    val newest = versions.groupBy(col("o_orderkey"))
      .agg(max(col("__v")).as("__v"))
    val deleted = deletesRun.flatMap(_.elements().asScala.map(_.asLong))
    versions.join(newest, Seq("o_orderkey", "__v")).drop("__v")
      .filter(!col("o_orderkey").isin(deleted.toSeq: _*))
  }

  override def checks(): Seq[Check] = {
    val expected = expectedSilver().cache()
    val out = Seq(
      sameRows("etl.silver", plain.read(silver, "delta"),
        expected.select(orderSchema.fieldNames.map(col).toSeq: _*)),
      sameRows("etl.gold", plain.read(gold, "delta"), summary(expected)), {
        val records = plain.read(lineageLog, "delta").count()
        val want = setupWrites + etlRuns
        Check("etl.lineage_records", records == want,
          s"$records lineage records, $want observed writes expected")
      })
    expected.unpersist()
    out
  }

  override def counters(): Map[String, Double] = Map(
    "storage.oplog_files" -> Fs.listFiles(spark, GraftLog.logPath(silver))
      .count(f => !f.startsWith("_") && !f.startsWith(".")).toDouble,
    "storage.table_files" -> Fs.dataFiles(spark, silver).size.toDouble,
    "lineage.records" -> plain.read(lineageLog, "delta").count().toDouble,
    "lineage.log_files" -> Fs.dataFiles(spark, lineageLog).size.toDouble)

  override def liveFiles(): Seq[String] =
    Seq(silver, gold, lineageLog).flatMap(p => plain.read(p, "delta").inputFiles)
}

/** Change-feed consumers: captured merges and deletes on a managed
  * source, two materialized views refreshed after each, and a closing
  * phase where a maintenance stream follows the source. */
class ViewMaintenance(spark: SparkSession, data: String, root: String)
    extends Workload {
  import Workload._

  private val plan = Workload.plan(data)
  private val st = new TimedStorage(spark)
  private val plain = new BasicStorage(spark)
  private val source = s"$root/orders"
  private val byCust = s"$root/v_customer_price"
  private val multi = s"$root/v_customer_multi"
  private val checkpoint = s"$root/_stream_checkpoint"
  private val modes = mutable.ArrayBuffer.empty[String]
  private var rescanned = 0L
  private var streamBatches = 0L
  private var lagPending = -1L
  private var lagOk = false

  override def setup(): Unit = {
    st.write(spark.read.parquet(s"$data/base_orders.parquet"), source,
      "delta", "overwrite")
    MatView.create(spark, st, source, byCust, Seq("o_custkey"), "o_totalprice")
    MatView.createMulti(spark, st, source, multi, Seq("o_custkey"),
      Seq("o_totalprice", "o_orderkey"), withMinMax = false)
  }

  private def commit(c: JsonNode): Unit = c.get("kind").asText match {
    case "merge" =>
      val f = s"$data/${c.get("file").asText}"
      ops.time("commit")(st.merge(spark.read.parquet(f), source,
        "full.o_orderkey = incremental.o_orderkey", captureChanges = true))
      rows += c.get("rows").asLong
      inputBytes += fileBytes(f)
    case kind =>
      ops.time("commit")(Recorder.span("storage.delete")(
        Delete.where(spark, st, source, keysIn(c.get("keys")),
          captureChanges = kind == "delete")))
      rows += c.get("rows").asLong
  }

  private def refresh(view: String): Unit = {
    val r = ops.time("refresh")(Recorder.span("storage.matview.refresh")(
      MatView.refresh(spark, st, view)))
    modes += r.mode
    rescanned += r.groupsRescanned
  }

  private def read(): Unit = ops.time("read") {
    Recorder.span("storage.snapshot")(Txn.snapshot(spark, source))
    Recorder.span("storage.matview.read")(MatView.read(spark, byCust)
      .agg(sum(col("cnt")), max(col("max")), min(col("min"))).collect())
  }

  private def cycle(c: JsonNode): Unit = {
    val t0 = System.nanoTime()
    commit(c)
    refresh(byCust)
    refresh(multi)
    read()
    ops.record("cycle", (System.nanoTime() - t0) / 1e6)
  }

  // one step: one change, alternately a merge and a delete
  override def warmup: Int = 1

  override def step(i: Int): Boolean = {
    val changes = plan.get("changes")
    if (i >= changes.size) return false
    cycle(changes.get(i))
    true
  }

  /** A maintenance stream follows the min/max view while an uncaptured
    * delete lands, which the views can only follow by a rebuild; each
    * commit is drained, and the view's lag must read up to date. */
  override def finish(): Unit = {
    val q = Recorder.span("streaming.drain")(
      StreamingOps.maintainMatView(spark, st, byCust, checkpoint))
    try {
      ops.time("drain")(Recorder.span("streaming.drain")(q.processAllAvailable()))
      plan.get("stream").elements().asScala.foreach { c =>
        commit(c)
        ops.time("drain")(Recorder.span("streaming.drain")(q.processAllAvailable()))
        refresh(multi)
      }
      streamBatches = q.recentProgress.map(_.batchId).distinct.length.toLong
      val lag = StreamingOps.lag(spark, byCust).collect().head
      lagPending = lag.getAs[Long]("pending_batches") + lag.getAs[Long]("pending_ops")
      lagOk = lag.getAs[Boolean]("up_to_date")
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  private def recompute(valueCols: Seq[String], minMax: Boolean): DataFrame = {
    def n(stat: String, c: String) =
      if (valueCols.size == 1) stat else s"${stat}_$c"
    val aggs = count(lit(1)).as("cnt") +: valueCols.flatMap { c =>
      Seq(count(col(c).try_cast("decimal(28,6)")).as(n("nncnt", c)),
        sum(col(c).try_cast("decimal(28,6)")).cast("decimal(28,6)")
          .as(n("sum", c))) ++
        (if (minMax) Seq(min(col(c)).as(n("min", c)), max(col(c)).as(n("max", c)))
         else Nil)
    }
    plain.read(source, "delta").groupBy(col("o_custkey"))
      .agg(aggs.head, aggs.tail: _*)
  }

  override def checks(): Seq[Check] = {
    val a = recompute(Seq("o_totalprice"), minMax = true)
    val b = recompute(Seq("o_totalprice", "o_orderkey"), minMax = false)
    Seq(sameRows("view.customer_price", MatView.read(spark, byCust), a),
      sameRows("view.customer_multi", MatView.read(spark, multi), b),
      Check("view.stream_lag", lagOk && lagPending == 0,
        s"up_to_date=$lagOk pending=$lagPending after the drain"))
  }

  override def counters(): Map[String, Double] = Map(
    "storage.matview.incremental_share" ->
      (if (modes.isEmpty) 0.0 else modes.count(_ == "incremental").toDouble / modes.size),
    "storage.matview.groups_rescanned" -> rescanned.toDouble,
    "storage.matview.rebuilds" -> modes.count(_ == "rebuild").toDouble,
    "storage.oplog_files" -> Fs.listFiles(spark, GraftLog.logPath(source))
      .count(f => !f.startsWith("_") && !f.startsWith(".")).toDouble,
    "storage.table_files" -> Fs.dataFiles(spark, source).size.toDouble,
    "streaming.batches" -> streamBatches.toDouble,
    "streaming.lag_pending" -> lagPending.toDouble)

  override def liveFiles(): Seq[String] =
    plain.read(source, "delta").inputFiles.toSeq ++
      Seq(byCust, multi).flatMap(v => MatView.read(spark, v).inputFiles)
}

/** Pretraining-corpus curation, then an IVF-PQ index fit and query
  * batches served from it. No managed table is touched. */
class CorpusCuration(spark: SparkSession, data: String, root: String)
    extends Workload {
  import Workload._

  private val curated = s"$root/curated"
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var nBatches = 0
  private var packedAgg: Seq[Row] = Nil
  private var stages: Seq[PretrainPipeline.StageCount] = Nil
  private var index: Similarity.IvfPqIndex = _
  private val answers = mutable.LinkedHashMap.empty[Int, Seq[Row]]

  override def setup(): Unit = {
    docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").cache()
    emb = spark.read.parquet(s"$data/embeddings.parquet").cache()
    queries = spark.read.parquet(s"$data/queries.parquet").cache()
    docs.count(); emb.count()
    nBatches = queries.agg(max(col("batch"))).head.getInt(0) + 1
  }

  // steps: the curation, the index fit, then one query batch each; the
  // measured seconds count from the first query batch on
  override def windowFrom: Int = 2

  override def step(i: Int): Boolean = i match {
    case 0 =>
      ops.time("curate")(Recorder.span("examples.curate") {
        val (packed, counts) = PretrainPipeline.curate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          minQuality = 0.5, deflateBounds = (0.0, 1e9),
          jaccardThreshold = 0.8, maxDupFrac = 0.5, spanGram = 13,
          decontamGram = 8, chunkTokens = 64, overlapTokens = 16,
          packBudget = 512, shards = 8,
          shardExpr = Some(pmod(col("chunk_uid"), lit(8L))))
        packed.write.mode("overwrite").parquet(curated)
        packedAgg = spark.read.parquet(curated).groupBy(col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("bin_tokens"))
          .orderBy("shard", "bin").collect().toSeq
        stages = counts
      })
      rows += docs.count()
      inputBytes += fileBytes(s"$data/documents.parquet")
      true
    case 1 =>
      index = ops.time("fit")(Recorder.span("ops.ann.fit")(
        Similarity.ivfPqFit(emb, "vec_id", "embedding", nCentroids = 16,
          ivfIterations = 2, trainSampleMod = 4, m = 4, pqK = 16,
          pqIterations = 2)))
      inputBytes += fileBytes(s"$data/embeddings.parquet")
      true
    case _ if i - 2 < nBatches =>
      // the first batch served after a fit also compiles the serving
      // path; it is reported on its own
      val b = i - 2
      val batch = queries.filter(col("batch") === b).select("vec_id", "embedding")
      answers(b) = ops.time(if (b == 0) "search_first" else "search")(
        Recorder.span("ops.ann.search")(
          Similarity.ivfPqSearchWith(index, batch, emb, "vec_id", "vec_id",
            "embedding", topK = 10, nProbe = 6, corpusSpill = 2)
            .select("query_id", "neighbor_id", "rank").collect()).toSeq)
      true
    case _ => false
  }

  /** recall@10 of the served answers against the exact cosine top-10. */
  def recall(): Double = {
    val qs = queries.filter(col("batch").isin(answers.keys.toSeq: _*))
      .select("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(qs, emb, "vec_id", "vec_id",
      "embedding", 10).select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = answers.values.flatten.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.isEmpty) 0.0 else got.intersect(exact).size.toDouble / exact.size
  }

  override def checks(): Seq[Check] = {
    val perQuery = answers.values.flatten.groupBy(_.getLong(0))
    val nq = queries.filter(col("batch").isin(answers.keys.toSeq: _*)).count()
    val wellFormed = perQuery.size == nq && perQuery.values.forall { rs =>
      rs.size == 10 && rs.map(_.getInt(2)).toSeq.sorted == (1 to 10)
    }
    Seq(Check("corpus.ann_answers", wellFormed,
        s"${perQuery.size}/$nq queries answered with ranks 1..10"),
      Check("corpus.stage_counts", stages.nonEmpty && stages.forall(_.rows > 0),
        stages.map(s => s"${s.stage}=${s.rows}").mkString(",")))
  }

  override def extra(): Map[String, String] = Map(
    "curated" -> packedAgg.map(r =>
      (0 until 4).map(i => r.getAs[Number](i).longValue).mkString("[", ",", "]"))
      .mkString("[", ",", "]"),
    "recall_at_10" -> recall().toString,
    "oracle_sql" -> Json.q(graft.SparkEntry.oracleSql("q_pretrain_e2e")))

  override def liveFiles(): Seq[String] = spark.read.parquet(curated).inputFiles.toSeq

  override def close(): Unit = Seq(docs, emb, queries).foreach(d =>
    if (d != null) d.unpersist())
}
