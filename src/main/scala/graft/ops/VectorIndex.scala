package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Vectors
import graft.util.Fs

/** Build/serve separation for the IVF+PQ index — the production ANN
  * shape [[Similarity.ivfPqTopK]] computes in-memory, persisted so a
  * corpus is indexed ONCE (maintenance-time) and served many times:
  *
  *  - `cells/` — the index proper: `(id, codes, vec)` written
  *    PARTITIONED BY the coarse cell id, so a probe prunes whole
  *    directories at the scan (PartitionFilters, the same mechanism
  *    CdcTable's date-partitioned layouts use). Codes serve the ADC
  *    scan; vectors ride in the same cell partitions so the exact
  *    re-rank reads only probed cells too.
  *  - `centroids/`, `codebook/` — the quantizers as tiny parquet
  *    sidecar relations (nlist and m×ksub rows; no bespoke
  *    serialization format, `spark.read` gets them back).
  *
  * Search loads the sidecars (driver-bounded, quantizer-sized — the
  * same boundedness class as their training collects), probes
  * `nprobe` cells per query, and reads ONLY those partitions: at a
  * billion vectors the scan cost is nprobe/nlist of the corpus and
  * the pruning is visible in the plan (spec-asserted), not an
  * in-memory artifact of one session.
  *
  * Deterministic end-to-end; [[Similarity.ivfPqTopK]]-identical
  * output on the same corpus (spec-gated), so s13's recall gate
  * covers this path too.
  */
object VectorIndex {

  /** Index `corpus` (id, vec [, metaCols…]) into `dir`. One
    * assignment pass + one fused PqCodes pass; the corpus shuffles
    * once, by cell. `metaCols` ride along in the cell files so
    * [[search]] predicates push into the probed-cell scan (filtered
    * vector search: partition pruning by cell AND parquet pushdown by
    * metadata, the two-level pruning a metadata-scoped retrieval
    * needs). */
  def build(corpus: DataFrame, dir: String,
      nlist: Int = 16, m: Int = 16, ksub: Int = 32,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val e = corpus.select(col("id") +: col("vec") +: metaCols.map(col): _*)
      .filter(Vectors.norm(col("vec")) > 0.0)
    // both quantizers train on ONE collected sample — two separate
    // trainer calls would scan-and-collect the sample twice. The
    // sample must exceed nlist (k-means seeds `take(nlist)` points),
    // so it scales with production nlist ≈ √N; the 2^16 cap bounds
    // driver memory and training flops (iters·sample·nlist·dim)
    val sample = Similarity.trainingSample(e.select(col("id"), col("vec")),
      math.min(1 << 16, math.max(512, 8 * nlist)))
    val cents = Similarity.learnCentroidsFrom(sample, nlist)
    val cb = Similarity.pqTrainFrom(sample, m, ksub)

    spark.createDataFrame(
        cents.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val cbRows = for {
      (sub, s) <- cb.zipWithIndex
      (v, c) <- sub.zipWithIndex
    } yield (s, c, v)
    spark.createDataFrame(cbRows).toDF("subspace", "code", "cvec")
      .select(col("subspace"), col("code"),
        col("cvec").cast("array<float>").as("cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")

    writeCells(e, dir, cb, metaCols, "overwrite", gen = 0L)
    // the caller's corpus is authoritative (same contract as reindex):
    // tombstones left over from a previous index life would otherwise
    // kill the fresh generation-0 cells
    Fs.deleteRecursively(Paths.get(s"$dir/tombstones"))
  }

  /** Highest append generation present in the cell files. Derived
    * from the data (crash-safe — no counter sidecar to desync);
    * parquet column statistics make the scan footer-cheap. Floors at
    * 0 on an empty index so the next append lands at generation ≥ 1 —
    * generation 0 is reserved for build/reindex rows (driftSignal's
    * baseline). */
  private def currentGen(spark: SparkSession, dir: String): Long = {
    val r = readCells(spark, dir).agg(max(col("gen"))).head()
    // empty index floors at 0, NOT -1: generation 0 is reserved for
    // build/reindex rows (driftSignal's baseline), so an append after
    // a compact-to-empty lands at gen ≥ 1 and can never masquerade as
    // the quantizers' training distribution
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def hasParquet(path: String): Boolean = {
    def walk(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".parquet") ||
        f.isDirectory && Option(f.listFiles).exists(_.exists(walk))
    walk(new java.io.File(path))
  }

  /** The cell relation — or, when a compaction tombstoned every row
    * (the partitioned write of an empty relation leaves no data
    * files), the schema-bearing empty relation from the `schema/`
    * sidecar, so delete/search/stats/append keep working on an
    * emptied index instead of dying on schema inference. */
  private def readCells(spark: SparkSession, dir: String): DataFrame = {
    restoreIfCrashed(dir)
    if (hasParquet(s"$dir/cells")) spark.read.parquet(s"$dir/cells")
    else spark.read.parquet(s"$dir/schema")
  }

  /** A compaction that crashed between its two promote renames leaves
    * `cells_old` (the authoritative pre-compaction index) with no
    * `cells`; put it back. Tombstones are deleted last, so the retried
    * compaction still sees them. */
  private def restoreIfCrashed(dir: String): Unit =
    if (!new java.io.File(s"$dir/cells").exists() &&
        new java.io.File(s"$dir/cells_old").exists())
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/cells_old"),
        java.nio.file.Paths.get(s"$dir/cells"))

  /** Assign each row to its cell under `dir`'s FROZEN quantizers and
    * write the `(cid, id, codes, vec, gen, meta…)` cell files. Shared
    * by [[build]] (overwrite, right after training), [[append]]
    * (append-only increment) and [[reindex]] (full rewrite without
    * retraining). `gen` stamps every row with its append generation —
    * the tombstone scope key (see [[delete]]). */
  private def writeCells(e: DataFrame, dir: String,
      cb: IndexedSeq[IndexedSeq[Seq[Float]]],
      metaCols: Seq[String], mode: String, gen: Long): Unit = {
    val spark = e.sparkSession
    val centroids = broadcast(spark.read.parquet(s"$dir/centroids"))
    // map-side-combined assignment (Similarity.assignCells): the
    // exchange carries one row per vector, not vector×nlist — the
    // shape that survives production nlist ≈ √N. Codes project BELOW
    // the centroid cross-product (once per row, in the scan's codegen
    // stage) and ride through the aggregate as a carried column.
    Similarity.assignCells(
        e.withColumn("codes",
          graft.functions.ProductQuantizer.codes(col("vec"), cb)),
        "id", "vec", centroids, 1)
      .select(col("cid") +: col("id") +: col("codes") +:
        col("vec") +: lit(gen).as("gen") +: metaCols.map(col): _*)
      // co-locate each cell before the partitioned write: one shuffle
      // by cell id → one file per cell dir instead of one per task per
      // cell (task-count × nlist tiny files would dominate both the
      // write and every probed read)
      .repartition(col("cid"))
      .write.mode(mode).partitionBy("cid").parquet(s"$dir/cells")
    // overwrite = build/reindex: refresh the schema sidecar (one empty
    // file carrying the full cell schema incl. cid/gen/meta) that
    // readCells falls back to when a compaction empties the index
    if (mode == "overwrite")
      e.select(Seq(col("id"), lit(Array.empty[Int]).as("codes"),
          col("vec"), lit(gen).as("gen")) ++ metaCols.map(col) :+
          lit(0L).as("cid"): _*)
        .limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/schema")
  }

  // Codebook sidecars are tiny but every serve/maintenance call paid
  // a collect job to re-read them; a hot serving process loads its
  // quantizers once. Cache keyed by the sidecar files' CONTENT hash
  // (driver FS read of a few KB — cheaper than the Spark collect it
  // replaces), so a build/reindex that rewrites the codebook misses
  // instead of serving stale quantizers, while byte-identical copies
  // (the frozen-quantizer clone discipline) share one entry. Bounded
  // LRU — a reindexing driver would otherwise strand one orphaned
  // structure per rewrite forever. Paths the local-FS fingerprint
  // cannot see (remote FS → listFiles null, or an implausibly large
  // sidecar file) BYPASS the cache entirely: a degenerate shared key
  // would silently serve one index's quantizers for another.
  private val CbCacheSize = 64
  private val cbCache =
    new java.util.LinkedHashMap[String, IndexedSeq[IndexedSeq[Seq[Float]]]](
      128, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, IndexedSeq[IndexedSeq[Seq[Float]]]])
          : Boolean = size() > CbCacheSize
    }

  /** Content hash of a local sidecar dir, or None when the dir is not
    * enumerable through java.io (remote FS) or any file is too large
    * to hash driver-side — callers skip the cache then. */
  private def sidecarFingerprint(path: String): Option[String] =
    Option(new java.io.File(path).listFiles)
      .map(_.filter(_.isFile))
      .filter(fs => fs.nonEmpty && fs.forall(_.length < (16L << 20)))
      .map { fs =>
        val md = java.security.MessageDigest.getInstance("MD5")
        fs.sortBy(_.getName).foreach { f =>
          md.update(f.getName.getBytes)
          md.update(java.nio.file.Files.readAllBytes(f.toPath))
        }
        md.digest().map("%02x".format(_)).mkString
      }

  /** Read the codebook sidecar back as the driver-side structure the
    * code/LUT kernels take (driver-bounded: m×ksub rows). */
  private def loadCodebook(spark: SparkSession,
      dir: String): IndexedSeq[IndexedSeq[Seq[Float]]] = {
    def load(): IndexedSeq[IndexedSeq[Seq[Float]]] = {
      val cbRows = spark.read.parquet(s"$dir/codebook")
        .orderBy(col("subspace"), col("code")).collect()
      val m = cbRows.map(_.getInt(0)).max + 1
      val ksub = cbRows.map(_.getInt(1)).max + 1
      (0 until m).map(s => (0 until ksub).map(c =>
        cbRows(s * ksub + c).getSeq[Float](2)))
    }
    // fingerprint → load → re-fingerprint: hashing only BEFORE the
    // Spark read would let a reindex that rewrites the codebook
    // between the two steps cache the NEW rows under the OLD content
    // hash (or vice versa), serving mismatched quantizers until
    // eviction. An entry is inserted only when the fingerprints on
    // both sides of the load agree — i.e. the bytes were stable while
    // we read them; an unstable read retries, then degrades to
    // serving the last load uncached (the pre-cache behavior).
    var attempt = 0
    while (attempt < 3) {
      sidecarFingerprint(s"$dir/codebook") match {
        case None => return load()
        case Some(fp) =>
          cbCache.synchronized(Option(cbCache.get(fp))) match {
            case Some(hit) => return hit
            case None =>
              val cb = load()
              if (sidecarFingerprint(s"$dir/codebook").contains(fp)) {
                cbCache.synchronized(cbCache.put(fp, cb))
                return cb
              } // else: rewritten mid-read — retry the whole cycle
          }
      }
      attempt += 1
    }
    load()
  }

  /** Fold new vectors into an existing index WITHOUT retraining: the
    * quantizer sidecars are frozen (never rewritten), the increment is
    * assigned against them and appended into the cell partitions. This
    * is the staleness answer for a live corpus — ingest appends cells
    * at batch cost (one pass over the INCREMENT only); the contract,
    * spec-gated, is that an appended index serves results identical to
    * re-assigning the union under the same quantizers. What append
    * cannot do is adapt the quantizers themselves: a corpus whose
    * distribution drifts far from the trained centroids degrades cell
    * balance — watch [[stats]] and [[build]] fresh when it skews. */
  def append(newRows: DataFrame, dir: String,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = newRows.sparkSession
    val e = newRows.select(col("id") +: col("vec") +: metaCols.map(col): _*)
      .filter(Vectors.norm(col("vec")) > 0.0)
    // one generation past everything already indexed: rows appended
    // AFTER a delete outlive that delete's tombstone (see [[delete]])
    writeCells(e, dir, loadCodebook(spark, dir), metaCols, "append",
      gen = currentGen(spark, dir) + 1)
  }

  /** Rewrite the cell files for `corpus` under `dir`'s existing
    * quantizers — compaction after many appends (or a full re-shard)
    * without the training cost, and the independent construction the
    * append spec compares against. */
  def reindex(corpus: DataFrame, dir: String,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val e = corpus.select(col("id") +: col("vec") +: metaCols.map(col): _*)
      .filter(Vectors.norm(col("vec")) > 0.0)
    writeCells(e, dir, loadCodebook(spark, dir), metaCols, "overwrite",
      gen = 0L)
    // the caller's corpus is authoritative: pre-rewrite tombstones
    // must not hide rows of the fresh generation-0 cells
    Fs.deleteRecursively(Paths.get(s"$dir/tombstones"))
  }

  /** Tombstone-delete ids from the index: O(delete batch) — one tiny
    * parquet append, NO cell rewrite. The serve path anti-joins the
    * tombstone sidecar at probe time, so deleted vectors stop
    * appearing immediately (the GDPR-erasure shape every production
    * vector store needs). Tombstones accumulate until [[compact]]
    * folds them into the cell files; between compactions the probe
    * pays one broadcast anti-join over the tombstone set (bounded by
    * deletes since the last compaction — compact when it grows).
    *
    * Each tombstone is SCOPED to the generations it saw: it records
    * the index's current max `gen` and kills only rows with
    * `gen <= gen_at`. A later [[append]] of the same id lands at a
    * higher generation and serves immediately — resurrection works
    * WITHOUT compaction, and an update (delete + re-append in one
    * maintenance window) never pays a cell rewrite. An id-keyed
    * tombstone would silently hide every future re-insert until the
    * next compaction. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    ids.select(col("id").cast("long").as("id"),
        lit(currentGen(spark, dir)).as("gen_at"))
      .write.mode("append").parquet(s"$dir/tombstones")

  private def tombstones(spark: SparkSession,
      dir: String): Option[DataFrame] =
    if (!new java.io.File(s"$dir/tombstones").exists()) None
    else Some(spark.read.parquet(s"$dir/tombstones"))

  /** Drop every cell row some tombstone covers: same id AND appended
    * at or before the tombstone's recorded generation. Still a
    * broadcast anti-join keyed on id — the generation bound rides as
    * the join's residual condition, so rows re-appended AFTER the
    * delete survive. */
  private def killTombstoned(cells: DataFrame, t: DataFrame): DataFrame = {
    val tb = broadcast(t.select(col("id").as("t_id"),
      col("gen_at").as("t_gen_at")))
    cells.join(tb,
      cells("id") === tb("t_id") && cells("gen") <= tb("t_gen_at"),
      "left_anti")
  }

  /** Fold the tombstones into the cell files: rewrite the cells
    * WITHOUT the deleted rows — assignments are already stored, so
    * this is a filtered copy under the frozen quantizers (no
    * re-assignment, no retraining) — then drop the sidecar. Staged
    * rewrite + directory swap; single-writer maintenance op like
    * [[build]]/[[reindex]] (the versioned-manifest discipline lives
    * in CdcTable — an index is rebuilt-from-source on loss, not
    * recovered). */
  def compact(spark: SparkSession, dir: String): Unit =
    tombstones(spark, dir).foreach { t =>
      // a crashed previous compaction may have left its staging dir
      // behind; readCells below restores an orphaned cells_old
      Fs.deleteRecursively(Paths.get(s"$dir/cells_compacting"))
      val live = killTombstoned(readCells(spark, dir), t)
      val cols = live.columns.filter(_ != "cid").map(col) // cid last:
      live.select(cols :+ col("cid"): _*)                 // partition col
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$dir/cells_compacting")
      // promote via rename-aside: the live cells dir survives until the
      // compacted one is in place — a crash anywhere in this window
      // loses at most the compaction, never the index (cells_old is
      // restored above on the next attempt; tombstones still pending)
      Fs.deleteRecursively(Paths.get(s"$dir/cells_old"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/cells"),
        java.nio.file.Paths.get(s"$dir/cells_old"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/cells_compacting"),
        java.nio.file.Paths.get(s"$dir/cells"))
      Fs.deleteRecursively(Paths.get(s"$dir/cells_old"))
      Fs.deleteRecursively(Paths.get(s"$dir/tombstones"))
    }

  /** Cell-balance report (cid, n_vectors) — the reindex/rebuild
    * trigger: appends under frozen quantizers skew cell sizes as the
    * corpus drifts; a hot cell means probes re-scan ever-larger files.
    * Metadata-cheap: reads cell-partition row counts only. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cid"))

  /** Quantizer-drift report: SHOULD this index retrain its quantizers
    * ([[build]]) rather than keep folding appends in under the frozen
    * ones ([[append]]/[[compact]])? [[stats]] exposes the raw cell
    * sizes; this folds them into the decision signal:
    *
    *  - `tv_drift` — total-variation distance between the LIVE cell
    *    distribution and the build-time one (the surviving gen-0 rows,
    *    which [[compact]] preserves and [[reindex]] resets — no extra
    *    baseline sidecar to version). 0 = appends landed exactly like
    *    the training corpus; 1 = nothing original survives.
    *  - `max_share` — hottest cell's share of live vectors. Probes
    *    scan whole cells, so one hot cell degrades every search that
    *    probes it even when tv is low.
    *  - `needs_retrain` — `tv_drift > tvBar` OR
    *    `max_share > hotCellFactor / nlist` (a balanced index has
    *    share ≈ 1/nlist).
    *
    * One row out; every stage is a partial aggregate over the cells
    * scan (the per-cell relation is nlist-sized, so the tail is
    * size-invariant). An empty index reports zeros / no-retrain; an
    * index whose gen-0 rows were all deleted reports tv_drift = 1. */
  def driftSignal(spark: SparkSession, dir: String,
      tvBar: Double = 0.25, hotCellFactor: Double = 4.0): DataFrame = {
    val nlist = spark.read.parquet(s"$dir/centroids").count()
    val cellsAll = readCells(spark, dir)
    val live = tombstones(spark, dir).fold(cellsAll)(t =>
      killTombstoned(cellsAll, t))
    val perCell = live.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_now"),
        count(when(col("gen") === 0L, 1)).as("n_base"))
    val totals = perCell.agg(
      coalesce(sum("n_now"), lit(0L)).as("n_live"),
      coalesce(sum("n_base"), lit(0L)).as("n_base_tot"),
      coalesce(max("n_now"), lit(0L)).as("max_cell"))
    // TV = Σ|p_now − p_base| / 2 over cells; null-safe on the empty /
    // no-surviving-baseline edges, which the final select resolves
    val tvAgg = perCell.crossJoin(broadcast(totals))
      .agg((sum(when(col("n_live") === 0L || col("n_base_tot") === 0L,
        lit(null)).otherwise(abs(
          col("n_now").cast("double") / col("n_live") -
            col("n_base").cast("double") / col("n_base_tot")))) / 2)
        .as("tv_raw"))
    totals.crossJoin(broadcast(tvAgg))
      .select(
        col("n_live"), col("n_base_tot").as("n_base"), lit(nlist).as("nlist"),
        round(when(col("n_live") === 0L, 0.0)
          .when(col("n_base_tot") === 0L, 1.0)
          .otherwise(coalesce(col("tv_raw"), lit(0.0))), 6).as("tv_drift"),
        round(when(col("n_live") === 0L, 0.0)
          .otherwise(col("max_cell").cast("double") / col("n_live")), 6)
          .as("max_share"))
      .withColumn("needs_retrain",
        col("tv_drift") > tvBar ||
          col("max_share") > lit(hotCellFactor) / lit(nlist.toDouble))
  }

  /** APPROXIMATE corpus self-kNN graph by probing this index once per
    * indexed row — the corpus-scale graph-build shape.
    * [[Similarity.knnGraph]] is exact but information-theoretically
    * quadratic on structureless corpora (its own work-budget guard
    * points here); this form bounds the work at
    * N · nprobe · cellsize ADC code scans regardless of metric
    * structure, trading recall (tune `nprobe`/`shortlist`) for a
    * wall-clock that scales near-linearly with the corpus.
    *
    * Scale shape — every stage shuffle-partitionable, nothing
    * corpus-sized is broadcast or collected (unlike [[search]], whose
    * query side is a small broadcast batch, the query side HERE is
    * the whole corpus):
    *  1. one pass over the live cells computes each row's ADC lookup
    *     table ONCE (not once per probe) and carries it through the
    *     map-side-combined `nprobe`-cell assignment;
    *  2. probe rows equi-join the `(cid, id, codes)` relation on cid.
    *     The probe side carries a ~4 KB ADC lookup table per row, so
    *     it must never be sorted or re-shuffled: the codes relation
    *     (24 bytes/vector) broadcasts when it fits (`broadcastRows`),
    *     else a SHUFFLE_HASH hint keeps the join sort-free (sort-merge
    *     would sort N·nprobe·4 KB of lut rows to co-locate ~nlist
    *     keys);
    *  3. ADC candidates collapse through a structurally-bounded
    *     two-level top-k ([[graft.functions.TopKBuckets.partialTopK]]):
    *     per-partition heaps with a flush valve ship ≤ shortlist rows
    *     per qid per partition to the exchange — the candidate
    *     relation itself (N·nprobe·cellsize rows) is never shuffled
    *     OR sorted. (The previous typed-Aggregator form planned to
    *     ObjectHashAggregateExec, whose 128-distinct-key sort-based
    *     fallback sorts the whole candidate stream — ~10^11 spilled
    *     rows at a 500 k corpus; the hand-rolled partial cannot fall
    *     back.) Build the index with nlist ≈ √N so cellsize — and with
    *     it the scan work — stays √N-bounded per probe;
    *  4. only the shortlist survivors touch full vectors for the
    *     exact re-rank (two shuffle joins of an N×shortlist relation).
    *
    * Tombstoned rows are excluded from both endpoints. Deterministic:
    * ADC sums are fixed-order, top-k orders are total
    * ((score desc, id) / (round(cos,6) desc, id)). Output contract =
    * [[Similarity.knnGraph]] (qid, id, cos, rank); edge recall vs the
    * exact graph is gated by s18. */
  def knnGraph(spark: SparkSession, dir: String, k: Int,
      nprobe: Int = 4, shortlist: Int = 50,
      broadcastRows: Long = 4000000L): DataFrame = {
    import spark.implicits._
    val centroids = broadcast(spark.read.parquet(s"$dir/centroids"))
    val cb = loadCodebook(spark, dir)
    val m = cb.length
    val ksub = cb.head.length
    val cellsAll = readCells(spark, dir)
    val alive = tombstones(spark, dir).fold(cellsAll)(t =>
      killTombstoned(cellsAll, t))
    val q = alive.select(col("id").as("qid"), col("vec").as("qvec"))

    val qprobe = Similarity.assignCells(
        q.withColumn("lut",
            graft.functions.ProductQuantizer.lut(col("qvec"), cb))
          .select(col("qid"), col("qvec"), col("lut")),
        "qid", "qvec", centroids, nprobe)
      .select(col("qid"), col("cid"), col("lut"))

    val adc = (0 until m).map(s =>
      element_at(col("lut"), lit(s * ksub) + element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val codesRel = alive.select(col("cid"), col("id"), col("codes"))
    // one codes-only count decides the join strategy; both branches
    // leave the lut-carrying probe side unsorted and unshuffled
    val joined =
      if (codesRel.count() <= broadcastRows)
        qprobe.join(broadcast(codesRel), "cid")
      else qprobe.join(codesRel.hint("SHUFFLE_HASH"), "cid")
    val short = graft.functions.TopKBuckets.partialTopK(
        joined.filter(col("qid") =!= col("id"))
          .select(col("qid"), col("id"), adc.as("adc"))
          .as[(Long, Long, Double)], shortlist)
      .toDF("qid", "id", "adc")
      .select(col("qid"), col("id"))

    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id"))
    short.join(alive.select(col("id"), col("vec")), "id")
      .join(q, "qid")
      .withColumn("cos", round(Vectors.cosine(col("qvec"), col("vec")), 6))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("cos"), col("rank"))
  }

  /** Top-k search over a built index. Output contract and determinism
    * identical to [[Similarity.ivfPqTopK]].
    *
    * `where` scopes the search to metadata-matching vectors (filtered
    * vector search): the predicate lands in the probed-cell scan as a
    * parquet PushedFilter, so non-matching rows die at the reader —
    * BEFORE any ADC scoring — and the shortlist is drawn entirely
    * from matching candidates (post-filtering a plain top-k would
    * return fewer than k survivors). Selective predicates thin each
    * probed cell rather than emptying the candidate pool; raise
    * `nprobe` when the filter is very selective — the standard
    * filtered-ANN recall lever. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, shortlist: Int = 50,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val centroids = broadcast(spark.read.parquet(s"$dir/centroids"))
    // quantizer sidecars are driver-bounded by construction
    val cb = loadCodebook(spark, dir)
    val m = cb.length
    val ksub = cb.head.length

    // eagerly materialized (still distributed — query×nprobe rows):
    // BOTH consumers below (the probed-cell collect and the probe
    // join) read the checkpointed rows instead of re-running the
    // assignment + LUT subtree once each
    val qprobe = Similarity.assignCells(
        queries.filter(Vectors.norm(col("qvec")) > 0.0)
          .select(col("qid"), col("qvec")), "qid", "qvec",
        centroids, nprobe)
      .select(col("qid"), col("qvec"), col("cid"),
        graft.functions.ProductQuantizer.lut(col("qvec"), cb).as("lut"))
      .localCheckpoint(true)

    // the probed cell set is queries×nprobe-bounded; inlined as a
    // partition-pruning predicate so the cells scan touches only
    // probed directories
    val probed: Array[Long] = qprobe.select(col("cid"))
      .distinct().collect().map(_.getLong(0))
    val pruned = readCells(spark, dir)
      .filter(col("cid").isin(probed.map(_.asInstanceOf[Any]): _*))
    // tombstoned rows die at the probe (broadcast anti-join over the
    // since-last-compaction delete set, generation-scoped) — a deleted
    // vector can never reach scoring, the shortlist, or the re-rank,
    // while a re-appended id (higher generation) serves immediately
    val alive = tombstones(spark, dir).fold(pruned)(t =>
      killTombstoned(pruned, t))
    val cells = where.fold(alive)(alive.filter)

    val adc = (0 until m).map(s =>
      element_at(col("lut"), lit(s * ksub) + element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc, col("id"))
    val short = broadcast(qprobe).join(cells.select(col("cid"),
        col("id"), col("codes")), "cid")
      .filter(col("qid") =!= col("id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= shortlist)
      .select(col("qid"), col("qvec"), col("id"))

    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id"))
    broadcast(short).join(cells.select(col("id"), col("vec")), "id")
      .withColumn("cos", round(Vectors.cosine(col("qvec"), col("vec")), 6))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("cos"), col("rank"))
  }
}
