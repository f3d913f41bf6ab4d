package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.Fs

/** Persistence for trained ANN indexes ([[Similarity.IvfPqIndex]]) —
  * the missing half of production vector serving: the index is built
  * ONCE over the corpus (the expensive pass), written as two tiny
  * parquet dirs, and every later job / stream micro-batch loads it
  * and serves queries with encode + ADC work only. Retraining per
  * query batch — what a naive `ivfPqSearch` caller does — re-pays the
  * training scan and yields a DIFFERENT index each run (float
  * centroid averages are layout-sensitive), so persisted indexes are
  * also what makes results reproducible across serving jobs.
  *
  * Layout (both metadata-sized — k×dim doubles and m×k quantized
  * vectors): `<path>/ivf_centroids` (cell, vec) and
  * `<path>/pq_codebooks` (subspace, cluster, cv). BOTH dirs stage
  * into ONE temp root and the root swaps in as a single rename
  * ([[Fs.swapInStaged]] — the [[Dedup.saveNearDupIndex]] protocol):
  * centroids and codebooks are one generation ALWAYS. The
  * independent-per-dir swap this replaced had a window no guard could
  * see — a crash between the two writes during a re-save with
  * unchanged m/dim (the normal refresh) paired new centroids with old
  * codebooks at identical geometry, and ADC served silently wrong
  * distances. [[load]] still cross-checks the pair (subvector length
  * × m must equal the centroid dim) as defense against a hand-built
  * or foreign-format index.
  */
object AnnIndex {

  private def centroidsPath(path: String) =
    path.stripSuffix("/") + "/ivf_centroids"
  private def codebooksPath(path: String) =
    path.stripSuffix("/") + "/pq_codebooks"
  private def codesPath(path: String) =
    path.stripSuffix("/") + "/corpus_codes"

  private val centroidsSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  /** `corpusCodes` (from [[Similarity.ivfPqEncodeCorpus]]) rides the
    * SAME staged root as the centroids + codebooks, so codes and the
    * codebooks they quantize under are one generation always — codes
    * scored against another generation's codebooks would be silently
    * wrong ADC distances, the exact torn-pair class the single swap
    * exists to kill. The codes dir is data-sized (m small ints per
    * corpus vector) and keeps its parallel layout. A re-save WITHOUT
    * codes over a coded index drops the stored codes with the old
    * root — correct, not a leak: a retrained index's codebooks no
    * longer match them, and stale codes would serve wrong distances;
    * re-encode under the new index and save the pair together. */
  def save(spark: SparkSession, path: String,
           index: Similarity.IvfPqIndex,
           corpusCodes: Option[org.apache.spark.sql.DataFrame] = None)
      : Unit = {
    val centRows = index.centroids.zipWithIndex.map { case (v, i) =>
      Row(i, v)
    }
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centroidsSchema)
    val books = index.codebooks.zipWithIndex.map { case (cb, s) =>
      cb.select(lit(s).as("subspace"), col("cluster"),
        col("__cv").as("cv"))
    }.reduce(_ unionByName _)
    // single-generation discipline: every dir lands under one staged
    // root, then ONE rename — a crash mid-save leaves the previous
    // complete index (or staging debris on first save), never a
    // mixed-generation set
    val root = path.stripSuffix("/")
    val tmp = root + "__tmp"
    Fs.deleteChecked(spark, tmp)
    cents.coalesce(1).write.parquet(centroidsPath(tmp))
    books.coalesce(1).write.parquet(codebooksPath(tmp))
    corpusCodes.foreach(_.write.parquet(codesPath(tmp)))
    stampGeneration(spark, tmp) // rides the swap with its generation
    if (!Fs.exists(spark, root)) Fs.renameChecked(spark, tmp, root)
    else Fs.swapInStaged(spark, root, tmp)
  }

  /** Fresh nonce naming this stored generation. Every mutation of the
    * root ([[save]] re-swap, [[appendCorpusCodes]],
    * [[compactCorpusCodes]]) rewrites it, so [[generationToken]] never
    * depends on filesystem modification times — object-store Hadoop
    * filesystems report synthetic/constant mtimes for directories, on
    * which an mtime-based probe would silently never fire. */
  private def stampGeneration(spark: SparkSession, root: String): Unit =
    Fs.writeText(spark, s"${root.stripSuffix("/")}/_generation",
      java.util.UUID.randomUUID().toString)

  /** The stored corpus codes of [[save]]'s `corpusCodes` — base
    * generation plus every [[appendCorpusCodes]] increment unioned —
    * when this index was saved with them; the
    * [[Similarity.ivfPqSearchCoded]] input. None for an index saved
    * without codes (serve via [[Similarity.ivfPqSearchWith]]
    * re-encoding instead). */
  def loadCorpusCodes(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    if (!Fs.exists(spark, codesPath(root))) None
    else {
      val dirs = codesPath(root) +:
        codeIncDirs(spark, root).map(d => s"$root/$d")
      Some(dirs.map(spark.read.parquet(_)).reduce(_ unionByName _))
    }
  }

  private def codeIncDirs(spark: SparkSession, root: String): Seq[String] =
    Fs.listSubdirs(spark, root)
      .filter(_.matches("corpus_codes_inc-\\d+"))
      .sortBy(_.stripPrefix("corpus_codes_inc-").toLong)

  /** Append codes for NEW corpus vectors (encoded with THIS index's
    * codebooks via [[Similarity.ivfPqEncodeCorpus]]) without
    * rewriting the stored base — the growing-corpus maintenance path
    * of a served ANN index, the same single-rename generation
    * protocol as the near-dup index's `inc-N` dirs: the increment
    * stages under `corpus_codes_inc-N__tmp` and ONE rename publishes
    * it; a crash leaves ignorable `__tmp` debris
    * ([[graft.storage.Maintenance.vacuum]] sweeps it). A full
    * [[save]] re-swap clears all increments with the root. Codes must
    * come from the SAME index generation — encode with a loaded copy
    * of this index, never a refit (refits are float-layout-sensitive
    * and the codebooks would no longer match the stored base). */
  def appendCorpusCodes(spark: SparkSession, path: String,
                        newCodes: org.apache.spark.sql.DataFrame): Unit = {
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    require(Fs.exists(spark, codesPath(root)),
      s"index at $path has no stored corpus codes to append to — " +
        "save(..., corpusCodes = Some(...)) first")
    val base = spark.read.parquet(codesPath(root))
    require(newCodes.columns.sorted.toSeq == base.columns.sorted.toSeq,
      s"appended codes columns ${newCodes.columns.sorted.mkString(",")} " +
        s"do not match the stored base ${base.columns.sorted.mkString(",")}" +
        " — encode with the loaded index, not a refit with different m")
    val n = (0L +: codeIncDirs(spark, root)
        .map(_.stripPrefix("corpus_codes_inc-").toLong)).max + 1L
    val gen = s"$root/corpus_codes_inc-$n"
    val tmp = gen + "__tmp"
    Fs.deleteChecked(spark, tmp)
    newCodes.select(base.columns.toIndexedSeq.map(col): _*).write.parquet(tmp)
    Fs.renameChecked(spark, tmp, gen)
    stampGeneration(spark, root)
  }

  /** Fold appended code generations back into the base — stored-row
    * I/O only. Crash-safe in every window: the base swaps through the
    * staged-dir protocol, and a crash BETWEEN the swap and the
    * generation deletes leaves duplicated code rows, which serving
    * dedups (the candidate stage is distinct over identical rows) —
    * never wrong results. Returns the generations folded. */
  def compactCorpusCodes(spark: SparkSession, path: String): Int = {
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    val incs = codeIncDirs(spark, root)
    if (incs.isEmpty) return 0
    require(Fs.exists(spark, codesPath(root)),
      s"no stored corpus codes at $path")
    // distinct: rows are unique per (vector, cell) by construction, so
    // this only heals the crash-between-swap-and-deletes duplicates a
    // prior compact may have left
    Fs.writeSwapped(spark, codesPath(root),
      loadCorpusCodes(spark, root).get.distinct(), coalesce1 = false)
    incs.foreach(d => Fs.deleteChecked(spark, s"$root/$d"))
    stampGeneration(spark, root)
    incs.size
  }

  /** Opaque token naming the CURRENT stored generation of the index
    * root — the cheap "did anything change?" probe a long-lived
    * serving stream polls between micro-batches
    * ([[graft.streaming.StreamingOps.annSearchStream]]'s
    * `refreshEveryBatches`). Changes on every [[save]] re-swap,
    * [[appendCorpusCodes]], and [[compactCorpusCodes]]: each rewrites
    * the `_generation` nonce, so the probe never depends on directory
    * modification times (synthetic/constant on object-store Hadoop
    * filesystems, where an mtime probe would silently never fire
    * after an in-place re-save). The generation dir name set rides
    * along too: it also covers a crash between [[appendCorpusCodes]]'
    * rename and its stamp. One driver listing + one tiny read —
    * metadata cost, safe to poll per-batch. Tokens are only
    * comparable for equality; a changed token means "reload", nothing
    * more.
    *
    * The probe NEVER throws and NEVER heals: a concurrent
    * [[Fs.swapInStaged]] can remove the root or the nonce file
    * between any exists() and the read, so a vanished root reports
    * [[AbsentToken]] and any other mid-mutation read failure reports
    * a fresh one-off sentinel — both read as "changed, but not yet
    * stable", which is exactly what the caller's stability check
    * wants. Healing (recoverAside) stays OFF this path: a probe that
    * healed could rename a live writer's aside back into place
    * mid-swap and fail the writer's rename. */
  def generationToken(spark: SparkSession, path: String): String =
    try {
      val rootStr = path.stripSuffix("/")
      val root = new org.apache.hadoop.fs.Path(rootStr)
      val fs = Fs.fileSystem(spark, root)
      if (!fs.exists(root)) AbsentToken
      else Fs.readText(spark, s"$rootStr/_generation") + "|" +
        fs.listStatus(root).filter(_.isDirectory)
          .map(_.getPath.getName).sorted.mkString(",")
    } catch {
      case scala.util.control.NonFatal(_) =>
        // mid-mutation transient (root, nonce or listing vanished
        // between probes), or a root without a nonce ([[load]]
        // refuses it): report an unrepeatable token — differs from
        // any pinned one, and from the NEXT probe, so a stability
        // check never reloads on it
        s"$TransientTokenPrefix${java.util.UUID.randomUUID()}"
    }

  /** [[generationToken]] of a missing index root. Not a loadable
    * generation — refresh probes must not trigger a reload on it. */
  val AbsentToken = "absent"

  /** Prefix of the one-off tokens [[generationToken]] reports when a
    * concurrent mutation made the probe fail mid-read. */
  val TransientTokenPrefix = "transient|"

  def load(spark: SparkSession, path: String): Similarity.IvfPqIndex = {
    // the index swaps as ONE unit — recovery at the root
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    if (Fs.exists(spark, root) &&
        !Fs.exists(spark, s"$root/_generation"))
      throw new IllegalStateException(
        s"ANN index at $path has no _generation nonce: it was saved " +
          "in an older on-disk format this build no longer reads — " +
          "recreate it with AnnIndex.save")
    val centroids = spark.read.parquet(centroidsPath(path))
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    require(centroids.nonEmpty, s"no IVF centroids at $path")
    val booksAll = spark.read.parquet(codebooksPath(path))
    // each codebook frame is collected and re-created as a LOCAL
    // relation: serving joins broadcast these (m×k rows), and a local
    // relation keeps the plan free of m extra parquet scans per batch
    val bookRows = booksAll.select("subspace", "cluster", "cv").collect()
    require(bookRows.nonEmpty, s"no PQ codebooks at $path")
    val m = bookRows.map(_.getInt(0)).max + 1
    val dim = centroids.head.size
    // geometry guard: [[save]]'s single-root swap makes a
    // mixed-generation pair impossible from THIS writer, but a
    // hand-assembled or foreign index can still pair mismatched dirs —
    // the geometry must agree or ADC would score truncated/null-padded
    // subvectors silently
    val sub = bookRows.head.getSeq[Long](2).size
    require(sub * m == dim,
      s"torn ANN index at $path: $m codebooks of $sub-dim subvectors " +
        s"do not cover the $dim-dim centroids — re-save the index")
    val cbSchema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("__cv", ArrayType(LongType, containsNull = false))))
    val codebooks = (0 until m).map { s =>
      val rows = bookRows.filter(_.getInt(0) == s)
        .map(r => Row(r.getInt(1), r.getSeq[Long](2)))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.toIndexedSeq: _*), cbSchema)
    }
    Similarity.IvfPqIndex(centroids, codebooks, dim)
  }

  // ---- plain-IVF index: the k×dim centroid matrix is the WHOLE
  // index ([[Similarity.ivfTopKWith]] assigns corpus cells at serve
  // time), so one swap-managed dir is already a single generation ----

  def saveIvf(spark: SparkSession, path: String,
              centroids: Seq[Seq[Double]]): Unit = {
    require(centroids.nonEmpty, "no centroids to save")
    val rows = centroids.zipWithIndex.map { case (v, i) => Row(i, v) }
    Fs.writeSwapped(spark, path.stripSuffix("/"),
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), centroidsSchema))
  }

  def loadIvf(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    val p = path.stripSuffix("/")
    Fs.recoverAside(spark, p)
    val centroids = spark.read.parquet(p)
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    require(centroids.nonEmpty, s"no IVF centroids at $path")
    centroids
  }

  // ---- LSH index: `params` (dim, n_planes, n_tables — one row; the
  // seed-42+t hyperplanes derive from these, so serving cannot hash
  // with a mismatched scheme) + `buckets` (id, table, bucket — the
  // data-sized corpus projection, kept parallel). Both stage under
  // ONE tmp root and swap as a unit — the same single-generation
  // protocol as [[save]]. ----

  private val lshParamsSchema = StructType(Seq(
    StructField("dim", IntegerType, nullable = false),
    StructField("n_planes", IntegerType, nullable = false),
    StructField("n_tables", IntegerType, nullable = false)))

  def saveLsh(spark: SparkSession, path: String, corpus: DataFrame,
              corpusIdCol: String, vecCol: String, dim: Int,
              nPlanes: Int, nTables: Int): Unit = {
    val root = path.stripSuffix("/")
    val tmp = root + "__tmp"
    Fs.deleteChecked(spark, tmp)
    spark.createDataFrame(
        java.util.Collections.singletonList(Row(dim, nPlanes, nTables)),
        lshParamsSchema)
      .coalesce(1).write.parquet(s"$tmp/params")
    Similarity.lshCorpusBuckets(corpus, corpusIdCol, vecCol, dim,
        nPlanes, nTables)
      .write.parquet(s"$tmp/buckets")
    if (!Fs.exists(spark, root)) Fs.renameChecked(spark, tmp, root)
    else Fs.swapInStaged(spark, root, tmp)
  }

  def loadLsh(spark: SparkSession, path: String): Similarity.LshIndex = {
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    Seq("params", "buckets").foreach { d =>
      require(Fs.exists(spark, s"$root/$d"),
        s"missing LSH index at $path: no $d dir — run saveLsh")
    }
    val p = spark.read.parquet(s"$root/params")
      .select("dim", "n_planes", "n_tables").head()
    Similarity.LshIndex(p.getInt(0), p.getInt(1), p.getInt(2),
      spark.read.parquet(s"$root/buckets"))
  }
}
