package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus cleaning.
  *
  * All variants are pure DataFrame algebra: shuffles are bounded by the
  * grouping keys, there is no driver-side state, and every step scales
  * with `spark.sql.shuffle.partitions` — the properties that matter at
  * 100 TB. Probabilistic variants (MinHash, SimHash) use Spark's
  * codegen'd hash functions, not UDFs, except where bit-twiddling would
  * need 64 nested lambda aggregates (see [[simHash64]]).
  */
object Dedup {

  /** Exact dedup on a column subset (arbitrary surviving row, like
    * `dropDuplicates`). One hash-shuffle. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** Deterministic exact dedup: per key group keep the row with the
    * smallest `tieBreaker`. Same shuffle shape as dropDuplicates but the
    * survivor is stable — required for oracle checks and reproducible
    * pipelines. */
  def exactDeterministic(df: DataFrame, keys: Seq[String],
                         tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tieBreaker).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Near-dup by normalized text hash: case/whitespace-insensitive
    * sha256 grouping; keeps the smallest id per group and the group
    * size. Embarrassingly parallel apart from one hash shuffle. */
  def byNormalizedHash(df: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    df.withColumn("__h", normalizedHash(col(textCol)))
      .groupBy(col("__h").as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  def normalizedHash(text: Column): Column =
    sha2(TextAnalysis.normalize(text), 256)

  /** Word-level shingles of size `n` as one row per (id, shingle).
    * Tokens are projected as a column first — see [[shingleHashes]] for
    * why (lambda inlining makes it quadratic otherwise). explode_OUTER
    * on purpose: the array is non-empty by construction (short texts
    * yield their whole text as one shingle), so outer changes no rows —
    * but it keeps InferFiltersFromGenerate from planting a size(...)>0
    * filter whose pushdown re-inlines the tokenizer into the lambda
    * (the same O(tokens²) pathology the checkpoint barrier fixes in
    * [[minHashLshPairs]], avoided here without materializing). */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame = {
    val tokens = split(TextAnalysis.normalize(col(textCol)), " ")
    val toks = col("__graft_tokens")
    val shingleArr = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
    df.select(col(idCol), tokens.as("__graft_tokens"))
      .select(col(idCol), explode_outer(shingleArr).as("shingle")).distinct()
  }

  /** Incremental corpus dedup — the production shape: drop incoming
    * documents whose normalized text already exists in the BASE corpus,
    * without ever re-deduping (or re-shuffling the content of) the
    * corpus itself. The base side is reduced to its distinct hash
    * column before the anti join, so the join moves one 64-byte column
    * per base doc and the increment — the minimum possible; at 100 TB
    * the distinct-hash frame is the "dedup index" you'd persist
    * between ingests. Intra-increment duplicates are kept (run
    * [[exact]]/[[byNormalizedHash]] on the increment first if needed). */
  def dedupAgainst(base: DataFrame, incoming: DataFrame,
                   textCol: String): DataFrame = {
    val baseH = base.select(normalizedHash(col(textCol)).as("__graft_h"))
      .distinct()
    incoming.withColumn("__graft_h", normalizedHash(col(textCol)))
      .join(baseH, Seq("__graft_h"), "left_anti")
      .drop("__graft_h")
  }

  // ------------------------------------- persisted exact-dedup index

  /** Persist the exact-dedup HASH INDEX of a base corpus — the
    * "distinct-hash frame you'd persist between ingests" that
    * [[dedupAgainst]]'s scale note has always promised, now with an
    * API: one 32-byte normalized-text digest per distinct base text,
    * NEVER the text. Layout: `<path>/hashes` plus [[appendToHashIndex]]
    * `inc-N` generations (the near-dup index's single-rename
    * protocol); the base stages under one tmp root and swaps as a
    * unit. Incremental BATCH pipelines dedup against the stored
    * digests without reading (or re-hashing) the corpus text at all —
    * at 100 TB the difference between a 32-byte-column scan and a
    * full text scan per increment. The continuous-ingest STREAMS
    * deliberately do NOT serve from this index: their replay safety
    * IS the corpus-as-index anti-join (a crashed batch re-checks the
    * corpus and self-drops); an index-served stream would need
    * batch-stamped idempotent corpus writes to close the same window
    * — a different table contract, documented here rather than
    * silently traded away. */
  def saveHashIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, base: DataFrame,
                    textCol: String): Unit = {
    import graft.storage.Fs
    val root = path.stripSuffix("/")
    val tmp = root + "__tmp"
    Fs.deleteChecked(spark, tmp)
    base.select(normalizedHash(col(textCol)).as("h")).distinct()
      .write.parquet(s"$tmp/hashes")
    if (!Fs.exists(spark, root)) Fs.renameChecked(spark, tmp, root)
    else Fs.swapInStaged(spark, root, tmp)
  }

  /** Whether a complete hash index exists at `path` (post
    * aside-recovery). */
  def hashIndexExists(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean = {
    import graft.storage.Fs
    val root = path.stripSuffix("/")
    Fs.recoverAside(spark, root)
    Fs.exists(spark, s"$root/hashes")
  }

  /** Append an increment's distinct text digests as one single-rename
    * `inc-N` generation — O(increment), the base digests never
    * re-read. Duplicate digests across generations are harmless (the
    * anti-join is membership, not counting). */
  def appendToHashIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, increment: DataFrame,
                        textCol: String): Unit = {
    import graft.storage.Fs
    val root = path.stripSuffix("/")
    require(hashIndexExists(spark, root),
      s"no hash index at $path — run saveHashIndex")
    val n = (0L +: hashIncDirs(spark, root)
        .map(_.stripPrefix("inc-").toLong)).max + 1L
    val tmp = s"$root/inc-${n}__tmp"
    Fs.deleteChecked(spark, tmp)
    increment.select(normalizedHash(col(textCol)).as("h")).distinct()
      .write.parquet(tmp)
    Fs.renameChecked(spark, tmp, s"$root/inc-$n")
  }

  private def hashIncDirs(spark: org.apache.spark.sql.SparkSession,
                          root: String): Seq[String] =
    graft.storage.Fs.listSubdirs(spark, root)
      .filter(_.matches("inc-\\d+"))
      .sortBy(_.stripPrefix("inc-").toLong)

  /** [[dedupAgainst]] served from the stored digests: drop incoming
    * rows whose normalized text is already indexed. The corpus itself
    * is never touched. */
  def dedupAgainstHashIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, incoming: DataFrame,
                            textCol: String): DataFrame = {
    val root = path.stripSuffix("/")
    require(hashIndexExists(spark, root),
      s"no hash index at $path — run saveHashIndex")
    val dirs = s"$root/hashes" +: hashIncDirs(spark, root)
      .map(d => s"$root/$d")
    val indexed = dirs.map(spark.read.parquet(_))
      .reduce(_ unionByName _)
      .select(col("h").as("__graft_h"))
    incoming.withColumn("__graft_h", normalizedHash(col(textCol)))
      .join(indexed, Seq("__graft_h"), "left_anti")
      .drop("__graft_h")
  }

  /** Fold appended generations into the base — stored-digest I/O
    * only; the whole root re-stages and swaps once, so the fold is
    * crash-atomic. Returns generations folded. */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Int = {
    import graft.storage.Fs
    val root = path.stripSuffix("/")
    require(hashIndexExists(spark, root),
      s"no hash index at $path — run saveHashIndex")
    val incs = hashIncDirs(spark, root)
    if (incs.isEmpty) return 0
    val dirs = s"$root/hashes" +: incs.map(d => s"$root/$d")
    val tmp = root + "__tmp"
    Fs.deleteChecked(spark, tmp)
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .distinct().write.parquet(s"$tmp/hashes")
    Fs.swapInStaged(spark, root, tmp)
    incs.size
  }

  // ------------------------------------------- corpus line/chunk dedup

  /** C4-style corpus-level unit dedup: every distinct unit (line,
    * paragraph, fixed token chunk) survives only at its FIRST corpus
    * occurrence — first = lexicographically smallest (id, pos) — and
    * each document is reassembled from its surviving units in order
    * (C4 drops three-sentence-duplicate spans the same way,
    * arxiv.org/abs/1910.10683 §2.2). Documents whose every unit
    * occurred earlier elsewhere vanish, like C4's empty-page drop.
    *
    * Scale shape: survivor selection is ONE groupBy on the unit itself
    * with a map-side partial min — a heavy-hitter unit (boilerplate
    * lines are Zipfian) collapses to one row per map task BEFORE the
    * shuffle, so unit skew cannot hot-spot a reducer the way the
    * equivalent row_number window (all copies sorted on one partition)
    * would. The aggregate's output IS the kept set — no join back.
    * Reassembly is one groupBy on the id. Two shuffles, no driver
    * state.
    *
    * Input: one row per (idCol, posCol, unitCol).
    * Output: (idCol, n_kept, text_clean). */
  def dedupUnits(units: DataFrame, idCol: String, posCol: String,
                 unitCol: String, delim: String = " "): DataFrame = {
    val kept = units
      .groupBy(col(unitCol))
      .agg(min(struct(col(idCol), col(posCol))).as("__first"))
      .select(col("__first").getField(idCol).as(idCol),
        col("__first").getField(posCol).as(posCol), col(unitCol))
    reassemble(kept, idCol, posCol, unitCol, delim)
  }

  /** Rebuild one document per id from its (pos, unit) rows, in
    * position order: (idCol, n_kept, text_clean). One id-keyed
    * shuffle. */
  private def reassemble(units: DataFrame, idCol: String, posCol: String,
                         unitCol: String, delim: String): DataFrame =
    units.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col(posCol), col(unitCol)))),
          s => s.getField(unitCol))).as("text_clean"))

  /** Units occurring in at least `minDocs` DISTINCT documents — the
    * corpus's boilerplate vocabulary (cookie banners, nav bars,
    * license headers). By construction this set is SMALL relative to
    * the corpus (each member is shared by many documents), which is
    * what makes the anti-join in [[removeBoilerplate]] broadcastable
    * at any corpus size. */
  def boilerplateUnits(units: DataFrame, idCol: String, unitCol: String,
                       minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    units.groupBy(col(unitCol))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** C4's other scrub: remove boilerplate units from EVERY document
    * (unlike [[dedupUnits]], which keeps the first occurrence), then
    * reassemble; documents made of nothing but boilerplate vanish.
    * Scale shape: the frequent-unit set is small by construction →
    * broadcast left_anti join; one distinct-count shuffle + one
    * id-keyed reassembly shuffle. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int, minDocs: Int): DataFrame = {
    val units = tokenChunks(df, idCol, textCol, chunkTokens)
    val bp = boilerplateUnits(units, idCol, "unit", minDocs).select("unit")
    reassemble(units.join(broadcast(bp), Seq("unit"), "left_anti"),
      idCol, "pos", "unit", " ")
  }

  /** Documents split into `chunkTokens`-token units with positions —
    * the "lines" of single-line corpora (and the unit C4 uses when
    * pages lack newlines). Tokens are materialized as a column first
    * (lambda-inlining rule, see [[shingles]]); posexplode_OUTER skips
    * InferFiltersFromGenerate for the same reason explode_outer does
    * there. Output: (idCol, pos, unit). */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(idCol != "pos" && idCol != "unit",
      s"idCol '$idCol' collides with tokenChunks' output columns")
    val toks = col("__graft_tokens")
    val chunks = transform(
      sequence(lit(1),
        ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")),
      i => concat_ws(" ",
        slice(toks, (i - 1) * chunkTokens + 1, lit(chunkTokens))))
    df.select(col(idCol), TextAnalysis.tokens(col(textCol))
        .as("__graft_tokens"))
      .select(col(idCol), posexplode_outer(chunks).as(Seq("pos", "unit")))
  }

  /** Corpus dedup at token-chunk granularity: [[tokenChunks]] →
    * [[dedupUnits]]. */
  def dedupTokenChunks(df: DataFrame, idCol: String, textCol: String,
                       chunkTokens: Int): DataFrame =
    dedupUnits(tokenChunks(df, idCol, textCol, chunkTokens),
      idCol, "pos", "unit")

  /** Newline-delimited corpus line dedup — the literal C4 shape for
    * multi-line pages. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    dedupUnits(
      df.select(col(idCol),
        posexplode_outer(split(col(textCol), "\n")).as(Seq("pos", "unit"))),
      idCol, "pos", "unit", "\n")

  /** Cross-corpus contamination check: for every training row sharing
    * at least one word n-gram with ANY eval row, the count of distinct
    * shared n-grams — the standard benchmark-decontamination primitive
    * (eval questions leaking into the training corpus). Scale shape:
    * one shingle join keyed by the gram itself, eval side deduplicated
    * first; never corpus × corpus. Output: (idCol, shared_grams). */
  def contaminationOverlap(train: DataFrame, eval: DataFrame,
                           idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val tg = shingles(train, idCol, textCol, n)
    val eg = shingles(eval, idCol, textCol, n)
      .select(col("shingle")).distinct()
    tg.join(eg, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Decontaminate: training rows with any `n`-gram overlap against
    * the eval corpus are dropped (anti-join against the contaminated
    * id set — incremental over [[contaminationOverlap]]). */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    train.join(
      contaminationOverlap(train, eval, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** One array of shingle hashes per id. Shingles are hashed in place
    * with xxhash64 over the k token positions (element_at — no
    * intermediate slice arrays or concatenated strings; hashing the
    * strings was the measured bottleneck of the whole LSH pipeline).
    * Hash identity stands in for shingle identity everywhere
    * downstream — collisions are negligible at 2^-64. */
  def shingleHashArrays(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    // Two projections on purpose: tokens must be a materialized column
    // before the lambda references it, otherwise Catalyst inlines the
    // split() into every element_at call — O(tokens²) splits per doc
    // (measured: the entire LSH pipeline's bottleneck). The alias is
    // referenced many times, so CollapseProject leaves it alone.
    val tokens = split(TextAnalysis.normalize(col(textCol)), " ")
    val toks = col("__graft_tokens")
    val hashArr = when(size(toks) >= n, gramHashes(toks, n))
      .otherwise(array(xxhash64(toks)))
    df.select(col(idCol), tokens.as("__graft_tokens"))
      .select(col(idCol), hashArr.as("shingle_hashes"))
  }

  /** xxhash64 of every `n`-token window of the array column `toks`
    * (size(toks) >= n), over the n tokens in place. */
  private def gramHashes(toks: Column, n: Int): Column =
    transform(sequence(lit(0), size(toks) - n),
      i => xxhash64((0 until n).map(j => element_at(toks, i + j + 1)): _*))

  /** One row per (id, shingle-hash) — [[shingleHashArrays]] exploded.
    * Callers that scan the result more than once should checkpoint the
    * ARRAY frame first and explode the cached arrays (see
    * [[minHashLshPairs]]): explode triggers InferFiltersFromGenerate,
    * and without a pushdown barrier its size(...)>0 filter re-inlines
    * the whole hash-array expression — tokenizer inside the lambda,
    * O(tokens²) per doc. */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    explodeShingles(shingleHashArrays(df, idCol, textCol, n), idCol)

  private def explodeShingles(arrays: DataFrame, idCol: String): DataFrame =
    arrays.select(col(idCol), explode(col("shingle_hashes")).as("shingle_hash"))

  /** MinHash signatures: for each of `numHashes` seeded hash functions,
    * the min over the document's shingle hashes. Output: (id, sig:
    * array<long> of length numHashes). One groupBy shuffle — duplicate
    * shingles need no pre-distinct, min() absorbs them. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleSize: Int = 3): DataFrame =
    signaturesFromShingles(shingleHashes(df, idCol, textCol, shingleSize),
      idCol, numHashes)

  private def signaturesFromShingles(sh: DataFrame, idCol: String,
                                     numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle_hash"))).as(s"h$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** LSH banding: split signatures into `bands` bands of
    * numHashes/bands rows, hash each band to a bucket. Pairs sharing any
    * band bucket are candidates; candidates are verified with exact
    * shingle-set Jaccard. Returns (id_a, id_b, jaccard) with
    * jaccard >= threshold, id_a < id_b; `idCol` is a unique document
    * key (one row per id).
    *
    * Scale: the candidate join is per-(band, bucket) — skew-bounded by
    * bucket size, never all-pairs. The verify reads the checkpointed
    * shingle ARRAYS (see [[jaccardFromArrays]]): two joins of the
    * candidates against one row per id, no exploded shingle rows.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleSize: Int = 3,
                      jaccardThreshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The shingle ARRAY frame feeds three downstream scans (signatures
    // and both sides of the verify join); checkpointing it materializes
    // the tokenize ONCE instead of three times, and — the part that
    // matters most — acts as a pushdown barrier so the explode's
    // inferred size(...)>0 filter runs against materialized arrays
    // instead of re-inlining the tokenizer into the lambda (see
    // [[shingleHashes]]). localCheckpoint, not persist, so lineage is
    // truncated and the blocks are reclaimed with the RDD (no unpersist
    // bookkeeping for callers holding the lazy result).
    val arrays =
      shingleHashArrays(df, idCol, textCol, shingleSize).localCheckpoint(true)
    val sigs = signaturesFromShingles(explodeShingles(arrays, idCol), idCol,
      numHashes)
    val banded = bandedBuckets(sigs, idCol, bands, rows)
    val left = banded.alias("a")
    val right = banded.alias("b")
    val candidates = left.join(right,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    jaccardFromArrays(candidates, arrays, idCol)
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** (id, band, bucket) rows from minhash signatures — the LSH
    * bucketing shared by the self-join and bipartite variants. */
  private def bandedBuckets(sigs: DataFrame, idCol: String, bands: Int,
                            rows: Int): DataFrame =
    sigs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("signature"), b * rows + 1, lit(rows)))))
      .as(Seq("band", "bucket")))

  /** Incremental NEAR-dup dedup — [[dedupAgainst]]'s fuzzy sibling:
    * drop incoming docs whose shingle-set Jaccard with ANY base doc
    * reaches `jaccardThreshold`. Bipartite MinHash-LSH: candidates
    * come from (band, bucket) joins of the increment's signatures
    * against the base's (never increment × base content), then exact
    * shingle-set verification — same scale shape as
    * [[minHashLshPairs]] with the self-join replaced by the bipartite
    * join. The base's banded-signature frame is the persistable fuzzy
    * dedup index (bands × base-docs small rows). The base is never
    * re-deduped; intra-increment dups are kept (compose with
    * [[minHashLshPairs]] on the increment if needed). */
  def nearDedupAgainst(base: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3,
                       jaccardThreshold: Double = 0.5): DataFrame = {
    val (bSh, bBand) = baseIndexFrames(base, idCol, textCol,
      numHashes, bands, shingleSize)
    incoming.join(
      nearDupDropIds(incoming, idCol, textCol, bSh, bBand,
        numHashes, bands, shingleSize, jaccardThreshold),
      Seq(idCol), "left_anti")
  }

  /** The base side of the bipartite near-dup join — shingle hashes +
    * banded signatures. ONE definition, shared by the inline form and
    * the index writer, so the spec-pinned "indexed == inline"
    * guarantee cannot drift. */
  private def baseIndexFrames(base: DataFrame, idCol: String,
                              textCol: String, numHashes: Int,
                              bands: Int, shingleSize: Int)
      : (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val bSh = explodeShingles(
      shingleHashArrays(base, idCol, textCol, shingleSize)
        .localCheckpoint(true), idCol)
    val bBand = bandedBuckets(
      signaturesFromShingles(bSh, idCol, numHashes), idCol, bands,
      numHashes / bands)
    (bSh, bBand)
  }

  /** The bipartite candidate-join + exact-verify core shared by
    * [[nearDedupAgainst]] (base frames built inline) and
    * [[nearDedupAgainstIndex]] (base frames loaded from a persisted
    * index). Returns the incoming ids to DROP. */
  private def nearDupDropIds(incoming: DataFrame, idCol: String,
                             textCol: String, bSh: DataFrame,
                             bBand: DataFrame, numHashes: Int,
                             bands: Int, shingleSize: Int,
                             jaccardThreshold: Double,
                             excludeSameId: Boolean = false,
                             excludeIds: Option[DataFrame] = None)
      : DataFrame = {
    val rows = numHashes / bands
    val iSh = explodeShingles(
      shingleHashArrays(incoming, idCol, textCol, shingleSize)
        .localCheckpoint(true), idCol)
    val iBand = bandedBuckets(
      signaturesFromShingles(iSh, idCol, numHashes), idCol, bands, rows)
    val candidates0 = iBand.alias("a").join(bBand.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    // excludeSameId: a doc does not near-dup ITSELF — the replayed-
    // micro-batch case, where the doc's own index entry (appended
    // before the crash) must not block its corpus append on retry
    val cand1 =
      if (excludeSameId) candidates0.filter(col("id_a") =!= col("id_b"))
      else candidates0
    // excludeIds: drop candidates whose INDEX side is any of these ids
    // — the full replayed-micro-batch fix: after a crash between the
    // index append and the corpus append, the WHOLE batch sits in the
    // index, so two distinct batch docs that near-dup each other would
    // otherwise each match the other's entry and BOTH be dropped
    // (permanently indexed-but-absent), where the non-crash run keeps
    // both (the ingest performs no intra-batch near-dedup). Excluding
    // every batch id from the index side restores exactly the
    // non-crash candidate set. The exclude frame is batch-sized —
    // AQE broadcasts the anti-join.
    val candidates = excludeIds match {
      case Some(ex) => cand1.join(
        ex.select(col(idCol).as("id_b")).distinct(), Seq("id_b"),
        "left_anti")
      case None => cand1
    }
    jaccardBipartite(candidates, iSh, bSh, idCol)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a").as(idCol)).distinct()
  }

  /** Persist the fuzzy-dedup INDEX of a base corpus — the frame the
    * scale notes have always called "the persistable fuzzy dedup
    * index", now with an API: a continuous ingest builds it ONCE over
    * the corpus, every later increment dedups against the stored
    * index without re-shingling (or even reading) the base text.
    * Layout under `path`: `params` (num_hashes, bands, shingle_size —
    * one row; search derives the increment's signature scheme FROM the
    * index, so mismatched hashing is impossible by construction),
    * `bands` (id, band, bucket — the LSH candidate side), `shingles`
    * (id, shingle_hash — the exact-verify side; 64-bit hashes, never
    * text). The WHOLE index stages into one temp dir and swaps in as a
    * unit — the three dirs are one generation always; a crash mid-save
    * leaves the previous complete index (or staging debris on first
    * save), never a mixed-generation one whose stale bands would
    * silently under-dedup. */
  def saveNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, base: DataFrame, idCol: String,
                       textCol: String, numHashes: Int = 64,
                       bands: Int = 16, shingleSize: Int = 3): Unit = {
    import graft.storage.Fs
    val root = path.stripSuffix("/")
    val tmp = root + "__tmp"
    Fs.deleteChecked(spark, tmp)
    val (bSh, bBand) = baseIndexFrames(base, idCol, textCol,
      numHashes, bands, shingleSize)
    spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(numHashes, bands, shingleSize)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("num_hashes",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("bands",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("shingle_size",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      .coalesce(1).write.parquet(s"$tmp/params")
    bBand.select(col(idCol).as("id"), col("band"), col("bucket"))
      .write.parquet(s"$tmp/bands")
    bSh.select(col(idCol).as("id"), col("shingle_hash"))
      .write.parquet(s"$tmp/shingles")
    if (!Fs.exists(spark, root)) Fs.renameChecked(spark, tmp, root)
    else Fs.swapInStaged(spark, root, tmp)
  }

  /** [[nearDedupAgainst]] served from a persisted index: drop incoming
    * docs whose shingle-set Jaccard with ANY indexed base doc reaches
    * `jaccardThreshold`. Bit-identical to the inline form over the
    * same base (integer hashes round-trip parquet losslessly —
    * spec-pinned). The base corpus itself is never touched.
    * `excludeSameId = true` skips candidate pairs whose ids are EQUAL
    * — the micro-batch replay case ([[graft.streaming.StreamingOps]]
    * continuous ingest): a doc whose own entry already landed in the
    * index before a crash must not near-dup itself on retry.
    * `excludeIds` generalizes that to a SET of ids ignored on the
    * index side — the ingest stream passes its whole micro-batch, so
    * a replayed batch whose entries all pre-landed in the index
    * cannot drop two batch docs against EACH OTHER's entries either
    * (the crash window excludeSameId alone leaves open). */
  def nearDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, incoming: DataFrame,
                            idCol: String, textCol: String,
                            jaccardThreshold: Double = 0.5,
                            excludeSameId: Boolean = false,
                            excludeIds: Option[DataFrame] = None)
      : DataFrame = {
    val (numHashes, bands, shingleSize, bSh, bBand) =
      loadNearDupIndex(spark, indexPath, idCol)
    incoming.join(
      nearDupDropIds(incoming, idCol, textCol, bSh, bBand,
        numHashes, bands, shingleSize, jaccardThreshold, excludeSameId,
        excludeIds),
      Seq(idCol), "left_anti")
  }

  /** Whether a complete persisted near-dup index exists at `path`
    * (post aside-recovery) — the continuous-ingest bootstrap check. */
  def nearDupIndexExists(spark: org.apache.spark.sql.SparkSession,
                         path: String): Boolean = {
    import graft.storage.Fs
    val base0 = path.stripSuffix("/")
    Fs.recoverAside(spark, base0)
    Seq("params", "bands", "shingles")
      .forall(d => Fs.exists(spark, s"$base0/$d"))
  }

  /** Recover the index root and read its recorded hash scheme —
    * the params-only prefix of a load, shared by serving, append
    * (which must stamp increments with the index's OWN scheme, but
    * has no use for the frames) and compaction. */
  private def nearDupIndexParams(
      spark: org.apache.spark.sql.SparkSession, base0: String)
      : (Int, Int, Int) = {
    import graft.storage.Fs
    // the base index swaps as ONE unit — recovery/validation at the
    // root; appended generations are single-rename dirs (inc-N), so a
    // crashed append leaves only `inc-N__tmp` debris the generation
    // filter never reads
    Fs.recoverAside(spark, base0)
    Seq("params", "bands", "shingles").foreach { d =>
      require(Fs.exists(spark, s"$base0/$d"),
        s"missing near-dup index at $base0: no $d dir — " +
          "run saveNearDupIndex")
    }
    val p = spark.read.parquet(s"$base0/params")
      .select("num_hashes", "bands", "shingle_size").head()
    (p.getInt(0), p.getInt(1), p.getInt(2))
  }

  /** The `inc-N` generation dir names under an index root, oldest
    * first (staging debris excluded by the exact-name match). */
  private def incGenerations(spark: org.apache.spark.sql.SparkSession,
                             base0: String): Seq[String] =
    graft.storage.Fs.listSubdirs(spark, base0)
      .filter(_.matches("inc-\\d+"))
      .sortBy(_.stripPrefix("inc-").toLong)

  /** One stored sub-frame (`bands` or `shingles`) unioned across the
    * base generation and every `inc-N`. */
  private def genFrame(spark: org.apache.spark.sql.SparkSession,
                       base0: String, sub: String): DataFrame = {
    val dirs = s"$base0/$sub" +:
      incGenerations(spark, base0).map(d => s"$base0/$d/$sub")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** The persisted index's parameters and frames — base generation
    * plus every appended `inc-N` generation unioned. */
  private def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String, idCol: String)
      : (Int, Int, Int, DataFrame, DataFrame) = {
    val base0 = indexPath.stripSuffix("/")
    val (numHashes, bands, shingleSize) = nearDupIndexParams(spark, base0)
    (numHashes, bands, shingleSize,
      genFrame(spark, base0, "shingles")
        .select(col("id").as(idCol), col("shingle_hash")),
      genFrame(spark, base0, "bands")
        .select(col("id").as(idCol), col("band"), col("bucket")))
  }

  /** Fold every appended `inc-N` generation into the base — pure
    * stored-row I/O, NO re-shingling or re-hashing: the unioned
    * bands/shingles rewrite as one new base under the same staged
    * single-swap root, and the generation dirs leave with the old
    * root. A continuous ingest appends one generation per micro-batch
    * and the serving plan carries one parquet scan per generation —
    * unbounded generations would eventually dominate planning, so
    * compaction is the other half of the append lifecycle
    * ([[graft.streaming.StreamingOps.ingestNearDedupStream]] can run
    * it automatically every N generations). Serving is bit-identical
    * before and after (same rows, different file layout —
    * spec-pinned). Returns the number of generations folded. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String): Int = {
    import graft.storage.Fs
    val base0 = indexPath.stripSuffix("/")
    nearDupIndexParams(spark, base0) // recover + validate
    val incDirs = incGenerations(spark, base0)
    if (incDirs.isEmpty) return 0
    val tmp = base0 + "__tmp"
    Fs.deleteChecked(spark, tmp)
    spark.read.parquet(s"$base0/params")
      .coalesce(1).write.parquet(s"$tmp/params")
    genFrame(spark, base0, "bands").write.parquet(s"$tmp/bands")
    genFrame(spark, base0, "shingles").write.parquet(s"$tmp/shingles")
    Fs.swapInStaged(spark, base0, tmp)
    incDirs.size
  }

  /** Number of appended generations currently live under the index —
    * the auto-compaction trigger. */
  def nearDupIndexGenerations(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String): Int =
    incGenerations(spark, indexPath.stripSuffix("/")).size

  /** Append an increment to a persisted near-dup index WITHOUT
    * rebuilding it — the continuous-ingest maintenance path: cost is
    * O(increment) (shingle + signature work on the new docs only; the
    * base generations are never read, let alone rewritten). The
    * increment's bands + shingles are computed with the index's OWN
    * recorded parameters (mismatched hashing impossible by
    * construction) and land as one `inc-N` generation dir: both
    * subdirs stage under `inc-N__tmp` and a SINGLE rename publishes
    * them — a crash leaves ignorable `__tmp` debris, never a
    * half-generation whose bands would under-verify. A full
    * [[saveNearDupIndex]] re-save swaps the whole root and clears all
    * increments (the periodic-rebuild lifecycle). Serving from an
    * appended index is bit-identical to serving from a full rebuild
    * over the same docs (spec-pinned): generations only change file
    * layout, and the verify stage is set-semantics over (id,
    * shingle_hash). */
  def appendToNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, increment: DataFrame,
                           idCol: String, textCol: String): Unit = {
    import graft.storage.Fs
    val base0 = indexPath.stripSuffix("/")
    val (numHashes, bands, shingleSize) = nearDupIndexParams(spark, base0)
    val (iSh, iBand) = baseIndexFrames(increment, idCol, textCol,
      numHashes, bands, shingleSize)
    val n = (0L +: incGenerations(spark, base0)
        .map(_.stripPrefix("inc-").toLong)).max + 1L
    val gen = s"$base0/inc-$n"
    val tmp = gen + "__tmp"
    Fs.deleteChecked(spark, tmp)
    iBand.select(col(idCol).as("id"), col("band"), col("bucket"))
      .write.parquet(s"$tmp/bands")
    iSh.select(col(idCol).as("id"), col("shingle_hash"))
      .write.parquet(s"$tmp/shingles")
    Fs.renameChecked(spark, tmp, gen)
  }

  /** Exact shingle-set Jaccard for candidate pairs (the verify stage of
    * LSH), over [[shingleHashArrays]] of `df` — see
    * [[jaccardFromArrays]]. */
  def verifiedJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, shingleSize: Int): DataFrame =
    jaccardFromArrays(pairs,
      shingleHashArrays(df, idCol, textCol, shingleSize).localCheckpoint(true),
      idCol)

  /** Exact Jaccard for (id_a, id_b) pairs from one shingle-hash array
    * per id (`arrays`: idCol, shingle_hashes; ids unique): |A ∩ B| is
    * `size(array_intersect)` of the distinct sets, so nothing is
    * exploded. Pairs sharing no shingle are dropped at any threshold;
    * long sizes keep each jaccard bit-equal to [[jaccardBipartite]]'s. */
  private def jaccardFromArrays(pairs: DataFrame, arrays: DataFrame,
                                idCol: String): DataFrame = {
    val sets = arrays.select(col(idCol),
      array_distinct(col("shingle_hashes")).as("__s"))
    val common = col("common")
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("__s").as("__sa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("common",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(common > 0)
      .withColumn("jaccard", common.cast("double") /
        (size(col("__sa")).cast("long") + size(col("__sb")).cast("long") -
          common))
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact Jaccard for (id_a, id_b) pairs where a-ids index the
    * exploded (id, shingle_hash) rows `shARaw` and b-ids index `shBRaw`
    * — the bipartite near-dup paths, whose persisted index stores its
    * base side exploded. Join-based: |A ∩ B| via a shingle-hash join,
    * sizes via per-id counts. */
  private def jaccardBipartite(pairs: DataFrame, shARaw: DataFrame,
                               shBRaw: DataFrame, idCol: String): DataFrame = {
    val a = shARaw.distinct() // set semantics for Jaccard
    val b = shBRaw.distinct()
    val sizesA = a.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val sizesB = b.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val shA = a.select(col(idCol).as("id_a"), col("shingle_hash"))
    val shB = b.select(col(idCol).as("id_b"), col("shingle_hash"))
    val inter = pairs.join(shA, "id_a").join(shB, Seq("id_b", "shingle_hash"))
    inter.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
      .join(sizesA.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizesB.select(col(idCol).as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .select("id_a", "id_b", "jaccard")
  }

  /** Distinct character n-gram set per row: (id, ngrams: array<string>).
    * Text is case/whitespace-normalized first; rows shorter than `n`
    * contribute their whole text as the single gram. The normalized
    * text is projected as a real column before the lambda references it
    * (lambda inlining — see [[shingleHashes]]). */
  def charNgramSets(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    val t = TextAnalysis.normalize(col(textCol))
    val tc = col("__graft_t")
    df.select(col(idCol), t.as("__graft_t"))
      .select(col(idCol), array_distinct(
        when(length(tc) >= n,
          transform(sequence(lit(1), length(tc) - (n - 1)),
            i => tc.substr(i, lit(n))))
          .otherwise(array(tc))).as("ngrams"))
  }

  /** Exact character-n-gram Jaccard near-dup pairs: all (id_a < id_b)
    * with |A∩B| / |A∪B| ≥ threshold over distinct n-gram sets. O(n²)
    * pairs — the exact baseline for small/capped corpora and the
    * verifier behind sampled audits; the corpus-scale path is
    * [[minHashLshPairs]] (MinHash approximates exactly this Jaccard).
    * Output: (id_a, id_b, common, jaccard). */
  def jaccardNgramPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // both sides of the self-cross-join read the gram frame —
    // checkpoint so tokenization runs once, not once per side (same
    // pathology and fix as minHashLshPairs)
    val g = charNgramSets(df, idCol, textCol, n).localCheckpoint(true)
    val a = g.select(col(idCol).as("id_a"), col("ngrams").as("__ga"))
    val b = g.select(col(idCol).as("id_b"), col("ngrams").as("__gb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("common", size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("__ga")) + size(col("__gb")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }

  /** Char-n-gram Jaccard near-dup pairs with a MinHash-LSH prefilter:
    * the scale form of [[jaccardNgramPairs]], same output contract
    * (id_a, id_b, common, jaccard). Every SURFACED row is byte-identical
    * to the all-pairs form — verification is an exact join over the
    * gram STRINGS (hash-free) — but which pairs surface is subject to
    * LSH recall (below): a true pair only barely above the threshold
    * has a small, dataset-deterministic chance of never sharing a band
    * bucket. The all-pairs product never materializes; candidate work
    * is per-(band, bucket).
    *
    * Recall: a true pair at Jaccard s is a candidate with probability
    * 1-(1-s^r)^b (r = numHashes/bands rows per band). The default
    * (64 hashes, 16 bands, r=4) gives ≥ 1-10⁻³ at s = 0.8 rising to
    * 1-10⁻²² at s = 0.99 — and keeps the candidate rate at LOW Jaccard
    * small (~12% at s=0.3, vs ~95% with r=2, which would degenerate the
    * verify join back toward all-pairs). The verify stage restores
    * exactness on everything surfaced. */
  def jaccardNgramPairsLsh(df: DataFrame, idCol: String, textCol: String,
                           n: Int, threshold: Double,
                           numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The ARRAY frame is checkpointed (not the exploded rows): the
    // explode triggers InferFiltersFromGenerate, whose size(...)>0
    // filter pushes below the projection and re-inlines the whole
    // gram-array expression — normalize() inside the per-element
    // lambda, O(len²·regex) per doc (measured 14 s vs 1 s on the
    // declared query). The checkpoint is a pushdown barrier, so the
    // inferred filter runs against the materialized array; the three
    // downstream scans (signatures, both verify-join sides) re-explode
    // cached arrays, which is cheap.
    val g = charNgramSets(df, idCol, textCol, n).localCheckpoint(true)
    val grams = g.select(col(idCol), explode(col("ngrams")).as("gram"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("gram"))).as(s"h$i"))
    val sigs = grams.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
    val banded = sigs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("signature"), b * rows + 1, lit(rows)))))
      .as(Seq("band", "bucket")))
    val candidates = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    // Exact verify on gram strings: |A∩B| via join (grams are already
    // distinct per id — charNgramSets applies array_distinct), sizes
    // from the set arrays. Matches jaccardNgramPairs bit-for-bit.
    val sizes = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val gA = grams.select(col(idCol).as("id_a"), col("gram"))
    val gB = grams.select(col(idCol).as("id_b"), col("gram"))
    candidates.join(gA, "id_a").join(gB, Seq("id_b", "gram"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("int").as("common"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens (custom Catalyst expression —
    * see [[graft.functions.SimHash64Expr]]). Near-dups have small
    * Hamming distance, see [[hamming64]]. */
  def simHash64(text: Column): Column =
    graft.functions.SimHash64Expr.simhash64(text)

  /** SimHash near-dup pairs: band the 64-bit hash into 4×16-bit chunks
    * (any identical chunk → candidate, guaranteed for Hamming ≤ 3 when
    * bits spread), verify by exact Hamming distance. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val hashed = df.select(col(idCol), simHash64(col(textCol)).as("sh"))
    val banded = hashed.select(col(idCol), col("sh"), posexplode(array(
      (0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(0xffffL)): _*))
      .as(Seq("band", "chunk")))
    val a = banded.select(col(idCol).as("id_a"), col("sh").as("sh_a"),
      col("band"), col("chunk"))
    val b = banded.select(col(idCol).as("id_b"), col("sh").as("sh_b"),
      col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Collapse near-dup PAIRS into duplicate GROUPS: label every id with
    * the minimum id of its connected component (transitive closure —
    * a≈b and b≈c put a, b, c in one group even if a and c never paired).
    *
    * Iterative min-label propagation: each round, every node takes the
    * min label among itself and its neighbors; converges in O(component
    * diameter) rounds. Near-dup components are shallow (dup clusters,
    * not long chains), so a handful of rounds suffices at any corpus
    * size. Each round is one join + one aggregate — no driver state;
    * results are persisted per round to keep the plan from deepening.
    * Output: (id, label). */
  def duplicateGroups(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    // localCheckpoint (not persist): caching truncates COMPUTE but not
    // the logical plan, which references the previous round twice and
    // doubles per iteration - exponential analysis cost (observed as an
    // analyzer OOM by round ~12 on a toy graph).
    // pairs is checkpointed FIRST: the forward+reversed union below
    // scans it twice, and the caller's pair plan (e.g. the whole LSH
    // detection pipeline) would be recomputed per scan.
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .localCheckpoint(true)
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val idType = edges.schema("src").dataType
    var labels: DataFrame = edges.select(col("src").as("id"))
      .distinct().withColumn("label", col("id")) // only used if maxIter=0
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Round 1 needs NO join: every initial label equals its id, so a
      // neighbor's label IS the edge target — the seed-labels frame and
      // its distinct shuffle never materialize. Later rounds join the
      // previous labels as usual.
      val (neighborLabels, selfLabels) =
        if (i == 0)
          (edges.select(col("src").as("id"), col("dst").as("label"),
            lit(null).cast(idType).as("old")),
           edges.select(col("src").as("id"), col("src").as("label"),
             col("src").as("old")))
        else
          (edges.join(labels.withColumnRenamed("id", "dst"), "dst")
             .select(col("src").as("id"), col("label"),
               lit(null).cast(idType).as("old")),
           labels.withColumn("old", col("label")))
      // The previous label rides along through the union (max(old) —
      // it is unique per id; duplicate self rows in round 1 agree) so
      // convergence is read off the SAME checkpointed round result
      // instead of a separate join job per round: each round costs
      // exactly one shuffle.
      val next = neighborLabels.union(selfLabels)
        .groupBy("id").agg(min("label").as("label"), max("old").as("old"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateGroups did not converge after $maxIter rounds - a " +
          "component has diameter > maxIter and the returned labels " +
          "would split it. Raise maxIter (rounds are cheap; the bound " +
          "is the longest chain of pairwise-similar documents).")
    labels
  }

  /** Duplicated-span statistics per document — the suffix-array-style
    * signal of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022), on Spark: every word `n`-gram SPAN
    * (with multiplicity and position — not a set), counted across the
    * whole corpus; a span occurring ≥ `minCount` times anywhere
    * (including within one document) is duplicated text. Output per
    * document with ≥1 span: (id, n_spans, n_dup_spans, dup_frac) —
    * the curation filter drops or trims high-dup_frac documents.
    *
    * Scale shape: ONE gram-keyed shuffle — the corpus-wide occurrence
    * count rides an unordered window partitioned by the gram key (no
    * separate count-then-join-back pass), then a per-doc partial
    * aggregate. Grams key by xxhash64 over their n tokens, hashed in
    * place (no gram strings are built), so the wide grams never cross
    * the shuffle — a 64-bit collision (P ≈ n²/2⁶⁵) could overcount one
    * span; acceptable for a filter signal, and the only concession the
    * single-shuffle shape asks.
    *
    * Alias rule: the tokens are projected as a column before the gram
    * lambda references them — Catalyst inlines an unaliased `split` into
    * every gram, O(tokens²) per document — and explode_outer + isNotNull
    * stands in for explode, whose inferred size(...)>0 filter would
    * re-inline it (as in [[shingleHashArrays]] and [[tokenChunks]]). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 13, minCount: Int = 2): DataFrame = {
    require(n >= 2, s"span length must be >= 2, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val toks = col("__graft_tokens")
    val grams = df
      .select(col(idCol).as("__id"),
        split(trim(lower(col(textCol))), "\\s+").as("__graft_tokens"))
      .select(col("__id"),
        explode_outer(when(size(toks) >= n, gramHashes(toks, n))).as("__g"))
      .filter(col("__g").isNotNull)
    val counted = grams.withColumn("__total",
      count(lit(1)).over(Window.partitionBy(col("__g"))))
    counted
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("__total") >= minCount, lit(1))).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
      .withColumnRenamed("__id", idCol)
  }

  /** End-to-end fuzzy corpus dedup: MinHash-LSH pair detection →
    * transitive grouping → keep one representative (the min id) per
    * duplicate group. Returns the deduplicated frame with the original
    * schema. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 64, bands: Int = 16,
                  shingleSize: Int = 3,
                  jaccardThreshold: Double = 0.8): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, numHashes, bands,
      shingleSize, jaccardThreshold)
    val groups = duplicateGroups(pairs)
    // ids to drop: grouped ids that are not their group's representative
    val toDrop = groups.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(toDrop, Seq(idCol), "left_anti")
  }
}
