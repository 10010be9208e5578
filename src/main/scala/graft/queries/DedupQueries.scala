package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.util.{Fs, SessionMemo}
import graft.util.Tables.load

/** Deduplication surface (d01-d05) over documents/embeddings.
  *
  * The DuckDB oracles verify SEMANTICS, not mechanism: d02's oracle is
  * a brute-force all-pairs Jaccard scan, while the Spark side answers
  * through MinHash LSH + verification — at 64 hashes / 16 bands the
  * probability of LSH missing a Jaccard≥0.8 pair is < 1e-5, and every
  * surviving candidate is exact-verified, so the two agree. d03
  * (SimHash) is hash-defined and has no SQL oracle (rows-only check).
  */
object DedupQueries {

  /** The corpus-internal near-dup pair relation at the production 0.8
    * threshold, the input of six downstream operators (d06 clusters,
    * d12 leakage split, d20 weights, d21 hub prune, d24 PageRank, d25
    * canonical pick). `d02_minhash_pairs` stays fresh: the pair
    * relation itself is d02's oracled claim. Checkpointed: the pair
    * list is output-sized, tiny next to the banded join behind it. */
  private val pairsMemo = new SessionMemo[String, DataFrame]
  private def sharedPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo(s, d)(
      Dedup.minhashPairs(load(s, d, "documents"), "doc_id", "text",
        threshold = 0.8).localCheckpoint(true))

  /** CC labels over [[sharedPairs]], consumed by d07, d12, d20 and d25
    * (each was re-running the 2-3 round label-propagation loop).
    * `d06_dup_clusters` stays fresh: the clustering itself is d06's
    * oracled claim. Min-label propagation is partitioning-independent,
    * so sharing cannot change any consumer's rows. */
  private val clustersMemo = new SessionMemo[String, DataFrame]
  private def sharedClusters(s: SparkSession, d: String): DataFrame =
    clustersMemo(s, d)(
      Dedup.connectedComponents(sharedPairs(s, d)).localCheckpoint(true))

  /** [[Dedup.nearDupRank]] over [[sharedPairs]], keyed on `iters` too
    * so a consumer with another iteration count gets its own relation.
    * `d24_pair_rank` stays fresh: the rank relation itself is d24's
    * oracled claim; d25 consumes it. Decimal-summed contributions make
    * it partitioning-order-insensitive. */
  private val rankMemo = new SessionMemo[(String, Int), DataFrame]
  private def sharedRank(s: SparkSession, d: String,
      iters: Int = 6): DataFrame =
    rankMemo(s, (d, iters))(
      Dedup.nearDupRank(load(s, d, "documents"), "doc_id",
        sharedPairs(s, d), iters = iters).localCheckpoint(true))

  /** The persisted near-dup index (members/ + buckets/), read-only for
    * d11 and m06. d19 still builds its own through the streamed ingest
    * loop: the loop is its claim. */
  private val ndIndexMemo = new SessionMemo[String, String]
  private[queries] def nearDupIndexFixture(s: SparkSession,
      d: String): String =
    ndIndexMemo(s, d) {
      val dir = s"target/nd_index_fix_${math.abs(d.hashCode.toLong)}"
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      Dedup.buildNearDupIndex(load(s, d, "documents"), "doc_id", "text",
        dir)
      dir
    }

  // single-line: embedded into stripMargin'd SQL, so no leading "||"
  private val shingleSql =
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] " +
      "|| ' ' || string_split(text,' ')[i+2]))"

  // d24's oracle: brute-force pair graph + every power iteration
  // replayed as an unrolled CTE (recursive CTEs cannot aggregate over
  // the recursive relation). Arithmetic mirrors Dedup.nearDupRank
  // term-for-term: the damping complement is the EXPRESSION
  // (1.0 - 0.85), contributions and ranks re-quantize through
  // DECIMAL(28,18), neighbor sums are decimal.
  private def pairRankCtes(iters: Int): String = {
    val its = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.doc_id,
         |    CAST((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / s.n
         |      + CAST(0.85 AS DOUBLE) * CAST(COALESCE(m.ms, 0) AS DOUBLE)
         |      AS DECIMAL(28,18)) AS r
         |  FROM nodes n CROSS JOIN stats s LEFT JOIN (
         |    SELECT e.dst AS doc_id,
         |      SUM(CAST(CAST(p.r AS DOUBLE) / e.deg AS DECIMAL(28,18))) AS ms
         |    FROM ed e JOIN r${k - 1} p ON p.doc_id = e.src
         |    GROUP BY 1) m USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
       |prs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM d a JOIN d b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
       |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
       |edges AS (SELECT a AS src, b AS dst FROM prs
       |          UNION ALL SELECT b, a FROM prs),
       |degs AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, g.deg FROM edges e JOIN degs g USING (src)),
       |nodes AS (SELECT doc_id FROM documents),
       |stats AS (SELECT COUNT(*) AS n FROM documents),
       |r0 AS (SELECT doc_id,
       |         CAST(CAST(1.0 AS DOUBLE) / s.n AS DECIMAL(28,18)) AS r
       |       FROM nodes CROSS JOIN stats s),
       |$its""".stripMargin
  }

  private def pairRankSql(iters: Int): String =
    s"""${pairRankCtes(iters)}
       |SELECT n.doc_id, CAST(COALESCE(g.deg, 0) AS BIGINT) AS deg,
       |  round(CAST(f.r AS DOUBLE), 6) AS rank
       |FROM nodes n
       |LEFT JOIN degs g ON g.src = n.doc_id
       |JOIN r$iters f USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // d25's oracle: the d24 rank CTEs + d11's recursive min-label
  // clustering over the same edges + one per-cluster pick window
  private def rankCanonicalSql(iters: Int): String =
    s"""${pairRankCtes(iters)},
       |reach(x, label) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) n
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.x),
       |clusters AS (SELECT x AS doc_id, MIN(label) AS cluster
       |             FROM reach GROUP BY x),
       |cl AS (SELECT n.doc_id, COALESCE(c.cluster, n.doc_id) AS cluster
       |       FROM nodes n LEFT JOIN clusters c USING (doc_id)),
       |rk AS (SELECT doc_id, round(CAST(r AS DOUBLE), 6) AS rank
       |       FROM r$iters)
       |SELECT cl.doc_id, cl.cluster, rk.rank,
       |  (ROW_NUMBER() OVER (PARTITION BY cl.cluster
       |    ORDER BY rk.rank DESC, cl.doc_id)) = 1 AS keep
       |FROM cl JOIN rk USING (doc_id)
       |ORDER BY cl.doc_id""".stripMargin

  // exact all-pairs Jaccard ≥ 0.8 — the shared oracle for batch d02
  // and streaming d18 (both must produce this exact pair set)
  private val bruteForcePairsSql =
    s"""WITH d AS (SELECT doc_id, $shingleSql AS sh FROM documents)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
       |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |FROM d a JOIN d b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
       |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
       |ORDER BY a, b""".stripMargin

  private val bruteForceDegreeSql =
    s"""WITH d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b
       |      FROM d a JOIN d b ON a.doc_id < b.doc_id
       |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
       |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
       |e AS (SELECT a AS doc_id FROM p UNION ALL SELECT b AS doc_id FROM p)
       |SELECT doc_id, COUNT(*) AS dup_degree FROM e
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- exact dedup by content fingerprint+metadata group ----
    "d01_exact_dedup" -> { (s, d) =>
      import s.implicits._
      Dedup.exactDedup(load(s, d, "documents"), Seq("lang", "source"), "doc_id")
        .select($"lang", $"source", $"doc_id", $"n_dups")
        .orderBy($"lang", $"source")
    },

    // ---- MinHash LSH near-dup pairs, exact-verified ----
    "d02_minhash_pairs" -> { (s, d) =>
      import s.implicits._
      Dedup.minhashPairs(load(s, d, "documents"), "doc_id", "text",
          threshold = 0.8)
        .orderBy($"a", $"b")
    },

    // ---- COUNT-ONLY duplication report: per-doc partner degree ----
    // the aggregate form of d02 for the 100 TB report shape — the
    // verified pair stream collapses into a map-side-combined count
    // per document; the quadratic pair relation is never materialized
    // (Dedup.minhashDupDegrees). Oracle: degrees derived from the same
    // brute-force pair relation d02 is gated on.
    "d26_dup_degree" -> { (s, d) =>
      import s.implicits._
      Dedup.minhashDupDegrees(load(s, d, "documents"), "doc_id", "text",
          threshold = 0.8)
        .select($"id".as("doc_id"), $"dup_degree")
        .orderBy($"doc_id")
    },

    // ---- the same report at the 100 TB operating point: degrees
    // derived from the PERSISTED near-dup index (stored buckets +
    // member sets — no re-shingle, no pair materialization); must
    // agree with d26's re-derive exactly ----
    "d27_index_degree" -> { (s, d) =>
      import s.implicits._
      Dedup.dupDegreesFromIndex(s, nearDupIndexFixture(s, d),
          threshold = 0.8)
        .select($"id".as("doc_id"), $"dup_degree")
        .orderBy($"doc_id")
    },

    // ---- EXACT-substring duplication coverage per document ----
    // the removal signal of exact-substring dedup (Lee et al. 2022):
    // for every doc, the fraction of its 8-token windows that occur
    // VERBATIM in another doc. d10 reports the hottest shared grams
    // corpus-wide; this is the per-document report a pipeline ACTS on
    // (drop/trim past a dup_frac bar). Count-only discipline: one
    // window explode, min≠max per gram for the ≥2-distinct-docs test
    // (no COUNT DISTINCT), one join back — no pair relation. The
    // xxhash64-keyed scale form is pinned equal in DedupKernelSpec.
    "d28_substring_coverage" -> { (s, d) =>
      import s.implicits._
      Dedup.substringDupStats(
          load(s, d, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", k = 8)
        .orderBy($"doc_id")
    },

    // ...and the ACTION that report gates: Lee et al.'s removal step.
    // Every token covered by an 8-token window occurring verbatim in
    // another doc is dropped and the survivors reassembled in order —
    // per-doc trim counts plus the trimmed text itself. Same linear
    // count-only plumbing as d28 (no pair relation); the interval
    // merge over overlapping duplicated windows is a (doc, token_idx)
    // hash-distinct, so overlap resolution map-side combines instead
    // of sorting per doc. Short docs pass through; a fully-covered
    // doc trims to '' (the drop signal).
    "d29_substring_trim" -> { (s, d) =>
      import s.implicits._
      Dedup.substringTrim(
          load(s, d, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", k = 8)
        .orderBy($"doc_id")
    },

    // ---- containment search: the ASYMMETRIC near-dup relation ----
    // C(a,b) = |Sh(a)∩Sh(b)|/|Sh(a)| flags a document (nearly)
    // CONTAINED in another — quotes, excerpts, subset revisions —
    // which Jaccard-thresholded LSH (d02) misses by construction
    // (verbatim 10-in-1000 tokens: J≈0.01, C=1). Exact, over a
    // DF-capped inverted index whose blocking is part of the
    // operator contract (d04 discipline); the hand-fixture spec
    // carries the asymmetry claim — this corpus' 0.9-containment
    // pairs all sit inside its symmetric near-dup clusters (no
    // excerpt structure in synthetic text), so the gate here proves
    // exact agreement, not asymmetric coverage.
    "d30_containment" -> { (s, d) =>
      import s.implicits._
      // hashGrams: 8-byte gram keys through the checkpoint/df/posting
      // shuffles (the substringTrim hashWindows discipline) — grams
      // never reach the output, oracle-verified identical
      Dedup.containmentPairs(
          load(s, d, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", k = 3, threshold = 0.9, maxDf = 64,
          hashGrams = true)
        .orderBy($"a", $"b")
    },

    // ---- STREAMING near-dup detection: d02 as a continuous ingest ----
    // the near-dup complement of p02's exact dedupe-at-the-door: as
    // documents land, shingle → MinHash → band buckets run stateless
    // per row, and the one stateful operator (flatMapGroupsWithState
    // keyed by band bucket — the resident LSH index) emits candidate
    // pairs the moment the second member of a pair arrives. Exact-
    // Jaccard verification aggregates batch-side from the append sink
    // (the q45/p02 pattern). The emitted-candidate UNION is arrival-
    // order-independent by construction, so the verified output equals
    // batch d02 exactly — same full DuckDB brute-force oracle.
    "d18_stream_near_dup" -> { (s, d) =>
      import s.implicits._
      val k = 3; val numHashes = 64; val bands = 16; val threshold = 0.8
      val docsSchema = load(s, d, "documents").schema
      // the per-row shingle+signature work is CPU-bound and the source
      // file may arrive as one split — spread it first (the same
      // discipline as batch minhashPairs' repartition)
      val sig = s.readStream.schema(docsSchema).parquet(s"$d/documents.*")
        .filter(size(split($"text", " ")) >= k)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id".cast("long").as("id"),
          Dedup.hashedShingleSet($"text", k).as("sh"))
        .select($"id",
          graft.functions.MinHash.signature($"sh", numHashes).as("sig"))
      val cand = Dedup.streamCandidatePairs(
        Dedup.bandBucketRows(sig, numHashes, bands))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",  // local default; env-overridable
        graft.util.StreamConf.statePartitions(4).toString)
      try {
        val q = cand.writeStream
          .format("memory").queryName("d18_stream_near_dup_sink")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      // batch-side verification: candidates (deduped across bands) join
      // text, exact Jaccard gates — identical tail to batch minhashPairs
      val base = load(s, d, "documents")
        .filter(size(split($"text", " ")) >= k)
        .select($"doc_id".cast("long").as("id"), $"text")
      s.table("d18_stream_near_dup_sink")
        .dropDuplicates("a", "b")
        .join(base.select($"id".as("a"), $"text".as("__ta")), "a")
        .join(base.select($"id".as("b"), $"text".as("__tb")), "b")
        .withColumn("sha", Dedup.hashedShingleSet($"__ta", k))
        .withColumn("shb", Dedup.hashedShingleSet($"__tb", k))
        .filter(Dedup.sizeCompatible($"sha", $"shb", threshold))
        .withColumn("jaccard", Dedup.jaccard($"sha", $"shb"))
        .filter($"jaccard" >= threshold)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    },

    // ---- PERSISTED near-dup index + incremental batch lookup ----
    // the third execution discipline for the same near-dup semantics
    // (batch d02 re-derives, streaming d18 keeps resident state): the
    // LSH index persisted as two relations — (id, sh) member sets and
    // (id, band, bucket) buckets — built once from the corpus split,
    // then a NEW batch probes it. At 100 TB the point is what the
    // lookup does NOT do: the indexed corpus is never re-shingled and
    // never shuffled (batch buckets broadcast; stored member sets
    // stream through broadcast joins for verification). Gate: index
    // docs with doc_id%5!=0, look up the %5==0 batch; exact-Jaccard-
    // verified cross pairs against the DuckDB brute-force oracle.
    "d19_index_dedup" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents")
      val dir = s"target/nd_index_${math.abs(d.hashCode.toLong)}"
      Dedup.buildNearDupIndex(docs.filter($"doc_id" % 5 =!= 0),
        "doc_id", "text", dir)
      Dedup.nearDupLookup(docs.filter($"doc_id" % 5 === 0),
          "doc_id", "text", dir, threshold = 0.8)
        .orderBy($"oid", $"nid")
    },

    // ---- SimHash near-dup pairs: exactness gate ----
    // the pair set is xxhash64-defined, so no DuckDB oracle can
    // recompute it (and a VALUES pair fixture would break on every
    // corpus regeneration). The d03 CLAIM is exactness — the
    // Manku-pigeonhole banding finds exactly the pairs with
    // hamming ≤ 4 — so the query emits that measurement: the banded
    // result diffed against an in-plan all-pairs brute force over the
    // same signatures (the DedupKernelSpec gate, now in the driver's
    // artifact). n_missed/n_extra must be structurally 0; n_docs
    // derives from the table, so the gate survives regeneration.
    "d03_simhash_pairs" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents")
      // each relation below feeds BOTH diff directions — checkpointed
      // (pair/signature-sized rows) so the banding pipeline, the
      // signature scan, and the quadratic verify join each run once
      val got = Dedup.simhashPairs(docs, "doc_id", "text")
        .select($"a", $"b").localCheckpoint(true)
      val sigs = Dedup.simhashSignatures(docs, "doc_id", "text", bits = 64)
        .localCheckpoint(true)
      val brute = broadcast(sigs.select($"id".as("a"), $"sig".as("siga")))
        .join(sigs.select($"id".as("b"), $"sig".as("sigb")), $"a" < $"b")
        .filter(Dedup.hamming($"siga", $"sigb") <= 4)
        .select($"a", $"b").localCheckpoint(true)
      val missed = brute.exceptAll(got).agg(count(lit(1)).as("n_missed"))
      val extra = got.exceptAll(brute).agg(count(lit(1)).as("n_extra"))
      docs.agg(count(lit(1)).as("n_docs"))
        .select($"n_docs", lit(4L).as("max_hamming"))
        .crossJoin(missed).crossJoin(extra)
    },

    // ---- blocked n-gram Jaccard pairs ----
    // LSH-within-block: the (lang, source) block key joins the MinHash
    // band-bucket key, so pairwise Jaccard work happens only inside
    // (block × bucket) cells — never all-pairs within a block, whose
    // largest (skewed) block would otherwise dominate quadratically.
    // 64 hashes / 32 bands tunes the band curve to the 0.5 threshold:
    // P(miss) = (1 - j^2)^32 ≈ 1e-4 at j = 0.5, ≈ 1e-48 at j = 0.9.
    // The oracle is exact all-pairs, so this is a measured bet on the
    // corpus's bimodal similarity (planted dups j ≥ 0.88, background
    // ≤ 0.06 — no borderline pairs; verified equal to brute force at
    // sf0.01 AND sf0.1). Data with mass near the threshold would need
    // more bands or the exact tiled join (cosineRangePairs pattern).
    "d04_blocked_jaccard" -> { (s, d) =>
      import s.implicits._
      Dedup.minhashPairs(load(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, numHashes = 64, bands = 32,
          blockCols = Seq("lang", "source"))
        .orderBy($"a", $"b")
    },

    // ---- dup clusters: connected components over near-dup pairs ----
    "d06_dup_clusters" -> { (s, d) =>
      import s.implicits._
      val pairs = sharedPairs(s, d)
      Dedup.connectedComponents(pairs)
        .select($"id".as("doc_id"), $"cluster")
        .orderBy($"doc_id")
    },

    // ---- dup-cluster size distribution (the dedup report): how many
    //      clusters of each size, including singletons — two cheap
    //      aggregates over the CC labels left-joined to the corpus ----
    "d11_cluster_sizes" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents").select($"doc_id")
      // pair relation via the PERSISTED index — at 100 TB the d19
      // ingest loop maintains it and every pair consumer shares ONE
      // artifact instead of re-shingling the corpus per analysis;
      // the session-memoized fixture realizes exactly that sharing
      val dir = nearDupIndexFixture(s, d)
      val labels = Dedup.connectedComponents(
        Dedup.pairsFromIndex(s, dir, threshold = 0.8))
        .select($"id".as("doc_id"), $"cluster")
      docs.join(labels, Seq("doc_id"), "left_outer")
        .select(coalesce($"cluster", $"doc_id").as("cluster"))
        .groupBy($"cluster").agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy($"sz")
    },

    // ---- soft dedup: per-doc training weight 1 / cluster size ----
    // the alternative to DROPPING near-dups a mixture build often
    // prefers: every copy stays in the corpus but the cluster's total
    // sampling mass is one document's (weights sum to 1 per cluster,
    // singletons weigh 1). Same pair+CC derivation as d06, one more
    // shuffle on the cluster label for the size window; the weight is
    // a single IEEE division (1.0/sz) so both engines compute the
    // identical double.
    "d20_dup_weights" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents").select($"doc_id")
      val labels = sharedClusters(s, d)
        .select($"id".as("doc_id"), $"cluster")
      val wCl = org.apache.spark.sql.expressions.Window.partitionBy($"cluster")
      docs.join(labels, Seq("doc_id"), "left_outer")
        .select($"doc_id", coalesce($"cluster", $"doc_id").as("cluster"))
        .withColumn("sz", count(lit(1)).over(wCl).cast("long"))
        .withColumn("weight", lit(1.0) / $"sz")
        .orderBy($"doc_id")
    },

    // ---- canonical dedup: the kept corpus after near-dup clustering ----
    // pair + clustering derivation via the session-memoized
    // sharedClusters (threshold 0.8, the same parameterization
    // canonicalDedup derived per-sample); the canonical PICK — d07's
    // oracled claim — runs fresh below
    "d07_dedup_canonical" -> { (s, d) =>
      import s.implicits._
      Dedup.canonicalDedupFromClusters(load(s, d, "documents"),
          "doc_id", "text", sharedClusters(s, d))
        .orderBy($"cluster_id")
    },

    // ---- deterministic stratified sampling (training-data mixing) ----
    "d08_sample_mix" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Sampling
      Sampling.stratifiedSample(load(s, d, "documents"), "lang", "doc_id",
          rates = Map("en" -> 8, "es" -> 5), defaultRate = 2)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"keep", 1)).as("n_sampled"))
        .withColumn("rate",
          round($"n_sampled".cast("double") / $"n_docs", 6))
        .orderBy($"lang")
    },

    // ---- token-budget sampling (mixture spec in tokens) ----
    // training mixtures are specified as "N tokens of source X":
    // within each source, keep documents in deterministic doc_id
    // order until the cumulative whitespace-token count passes the
    // budget. One cumulative-sum window = one shuffle on the stratum
    // key; fate of a doc depends only on its predecessors within its
    // source, so re-runs reproduce the mixture exactly.
    "d14_token_budget" -> { (s, d) =>
      import s.implicits._
      import graft.ops.{Sampling, TextAnalysis}
      Sampling.tokenBudgetKeep(load(s, d, "documents"), "source", "doc_id",
          TextAnalysis.tokenCount($"text"), budget = 2000L)
        .filter($"keep")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"__nt").as("n_tokens"))
        .orderBy($"source")
    },

    // ---- benchmark decontamination: 8-gram overlap ----
    // the eval-set leak check a training-data build runs before
    // shipping: corpus documents sharing any verbatim 8-token n-gram
    // with a benchmark document are flagged with overlap counts. The
    // benchmark side (doc_id % 10 here) is small by nature, so its
    // distinct n-gram set broadcasts and the corpus side stays one
    // linear explode + broadcast-hash join — no shuffle of the corpus
    // at 100 TB.
    "d09_decontam" -> { (s, d) =>
      import s.implicits._
      val grams = load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", split($"text", " ").as("toks"))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " ")))).as("g"))
      val bench = grams.filter($"doc_id" % 10 === 0)
        .select($"g", $"doc_id".as("bench_id"))
      grams.filter($"doc_id" % 10 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy($"doc_id")
        .agg(countDistinct($"g").as("n_shared"),
          countDistinct($"bench_id").as("n_bench"))
        .orderBy($"doc_id")
    },

    // ---- FUZZY benchmark decontamination: near-dup overlap ----
    // d09's exact-8-gram check misses lightly-edited eval leakage
    // (reworded prompts, reformatted answers) — the contamination
    // audits in recent model reports run a near-dup pass too. Corpus
    // docs whose 3-token shingle set sits within Jaccard 0.8 of any
    // benchmark doc are flagged with the match count and the worst
    // overlap. Dedup.crossPairs keeps the pairwise work BIPARTITE
    // (corpus × bench only): the bench side's band buckets and
    // shingle sets broadcast, so the corpus is one linear scan with
    // no shuffle — minhashPairs over the union would pay for the
    // corpus-internal pairs this query never reads.
    "d23_fuzzy_decontam" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents")
      Dedup.crossPairs(
          docs.filter($"doc_id" % 10 =!= 0),
          docs.filter($"doc_id" % 10 === 0),
          "doc_id", "text", threshold = 0.8)
        .groupBy($"a".as("doc_id"))
        .agg(countDistinct($"b").as("n_bench"),
          max($"jaccard").as("max_jaccard"))
        .orderBy($"doc_id")
    },

    // ---- boilerplate detection: most-repeated verbatim 8-grams ----
    // the intra-corpus complement of d09: which exact 8-token spans
    // recur across distinct documents (headers, footers, templates).
    // One linear explode (per-doc distinct first, so a doc counts one
    // vote per gram) + a hash aggregate + TakeOrdered top-20 — no
    // join at all, so the shape is scan-linear at 100 TB and the
    // ranking tie-break (n_docs desc, gram asc) is total.
    "d10_repeated_ngrams" -> { (s, d) =>
      import s.implicits._
      load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", split($"text", " ").as("toks"))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " ")))).as("g"))
        .groupBy($"g")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
        .filter($"n_docs" >= 2)
        .orderBy($"n_docs".desc, $"g")
        .limit(20)
    },

    // ---- dedup-aware train/val/test split (leakage guard) ----
    // the split a training build actually needs: assignment is by
    // NEAR-DUP CLUSTER, not by document — hashing doc ids would put
    // two near-identical documents on opposite sides of the train/eval
    // wall and leak the eval set. Every doc inherits its cluster label
    // (its own id when unclustered), and `cluster % 10` buckets whole
    // clusters into 80/10/10. Cost = the d06 clustering + one linear
    // pass; the invariant (no cluster straddles splits) is proved in
    // DedupKernelSpec on the pair relation itself.
    "d12_leakage_split" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents").select($"doc_id", $"lang")
      val labels = sharedClusters(s, d)
        .select($"id".as("doc_id"), $"cluster")
      docs.join(labels, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          coalesce($"cluster", $"doc_id").as("cluster"))
        .withColumn("split",
          when(pmod($"cluster", lit(10)) <= 7, "train")
            .when(pmod($"cluster", lit(10)) === 8, "val")
            .otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"cluster").as("n_clusters"))
        .orderBy($"split")
    },

    // ---- boilerplate span coverage ----
    // the measurement behind "strip duplicated spans": what fraction
    // of each document's token positions is covered by a verbatim
    // 8-gram shared with at least one OTHER distinct document. One
    // positional gram explode, a per-doc-distinct frequency table,
    // and a position-union aggregate — explode volume is 8× tokens
    // (bounded), every stage is a hash aggregate or equi-join, no
    // pairwise work anywhere, so the shape is scan-linear at 100 TB.
    "d13_boilerplate_cover" -> { (s, d) =>
      import s.implicits._
      val toks = load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", split($"text", " ").as("t"))
        .filter(size($"t") >= 8)
      val grams = toks.select($"doc_id",
        explode(transform(sequence(lit(1), size($"t") - 7),
          i => struct(i.as("i"),
            array_join(slice($"t", i, lit(8)), " ").as("g")))).as("p"))
        .select($"doc_id", $"p.i", $"p.g")
      val freq = grams.select($"g", $"doc_id").distinct()
        .groupBy($"g").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"g")
      val covered = grams.join(freq, "g")
        .select($"doc_id", explode(sequence($"i", $"i" + 7)).as("pos"))
        .distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("n_covered"))
      toks.select($"doc_id", size($"t").cast("long").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_tokens",
          coalesce($"n_covered", lit(0L)).as("n_covered"),
          round(coalesce($"n_covered", lit(0L)).cast("double") / $"n_tokens", 6)
            .as("boilerplate_frac"))
        .orderBy($"doc_id")
    },

    // ---- boilerplate REMOVAL: the transform behind d13's measurement ----
    // emit each document with the tokens covered by a cross-document
    // verbatim 8-gram stripped out (RefinedWeb/CCNet-style span
    // removal, applied corpus-wide): same linear gram plumbing as d13
    // (per-doc-distinct frequency table, equi-joins, hash aggregates,
    // no pairwise work), then one per-row positional filter rebuilds
    // the text — short docs (<8 tokens) pass through untouched. The
    // per-doc covered-position set is bounded by doc length, so the
    // reassembly join carries O(tokens) total, scan-linear at 100 TB.
    "d17_strip_boilerplate" -> { (s, d) =>
      import s.implicits._
      val toks = load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", split($"text", " ").as("t"))
      val long = toks.filter(size($"t") >= 8)
      val grams = long.select($"doc_id",
        explode(transform(sequence(lit(1), size($"t") - 7),
          i => struct(i.as("i"),
            array_join(slice($"t", i, lit(8)), " ").as("g")))).as("p"))
        .select($"doc_id", $"p.i", $"p.g")
      val freq = grams.select($"g", $"doc_id").distinct()
        .groupBy($"g").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"g")
      val covered = grams.join(freq, "g")
        .select($"doc_id", explode(sequence($"i", $"i" + 7)).as("pos"))
        .distinct()
        .groupBy($"doc_id").agg(collect_set($"pos").as("cov"))
      toks.join(covered, Seq("doc_id"), "left_outer")
        // positions are 1-based gram starts; filter's idx is 0-based
        .withColumn("kept", when($"cov".isNull, $"t")
          .otherwise(filter($"t",
            (tok, idx) => !array_contains($"cov", idx + 1))))
        .select($"doc_id",
          array_join($"kept", " ").as("clean_text"),
          size($"kept").cast("long").as("n_kept"),
          (size($"t") - size($"kept")).cast("long").as("n_dropped"))
        .orderBy($"doc_id")
    },

    // ---- embedding cosine near-dup pairs ----
    // EXACT result (hash-matches the all-pairs oracle on any data) via
    // Similarity.cosineRangePairs: equi-join on triangle-inequality-
    // admitted centroid-cell pairs — no cartesian stage; norms
    // precomputed once, one fused dot per surviving pair.
    "d05_cosine_pairs" -> { (s, d) =>
      import s.implicits._
      Similarity.cosineRangePairs(load(s, d, "embeddings"),
          "vec_id", "embedding", threshold = 0.45)
        .orderBy($"a", $"b")
    },

    // ---- semantic dedup (SemDeDup): cluster-then-dedup over the
    //      embedding manifold — pairwise work confined to clusters ----
    "d15_semantic_dedup" -> { (s, d) =>
      import s.implicits._
      Dedup.semanticDedup(load(s, d, "embeddings"),
          "vec_id", "embedding", "label", tau = 0.35)
        .orderBy($"vec_id")
    },

    // ---- the corpus-scale form: learned k-means cells, nlist =
    //      sqrt(N), so pair work stays ~N^1.5 however the corpus
    //      grows (the one count() job that sizes nlist is metadata-
    //      cheap next to the dedup itself); quantizer-defined →
    //      rows-only check, greedy stage brute-force-gated in
    //      DedupKernelSpec ----
    // GATE (round 9): the (vec_id, cluster, kept) relation is
    // quantizer-defined, but the greedy-dedup CLAIM is checkable from
    // the OUTPUT alone, whatever the clusters are:
    //  - no two KEPT vectors in one cluster with cos >= tau (a missed
    //    drop), and
    //  - every DROPPED vector has a KEPT smaller-id cluster-mate with
    //    cos >= tau (a justified drop — the strict-greedy coverage
    //    guarantee; a drop justified only by another dropped vector
    //    counts as a violation).
    // The query re-derives both invariants in-plan from the result —
    // NOT from the operator's internals, so a broken greedy stage
    // fails the gate — and emits (n_vectors — real data DuckDB counts
    // independently — plus two structural-zero violation counts). The
    // verify's within-cluster pair work is the same N²/nlist bound as
    // the operator itself.
    "d16_semantic_dedup_scaled" -> { (s, d) =>
      import s.implicits._
      val tau = 0.35
      val emb = load(s, d, "embeddings")
      val nlist = math.max(8, math.ceil(math.sqrt(emb.count())).toInt)
      // res feeds three consumers (pair join, dropped-side anti-join,
      // vector count) and the >=tau pair relation feeds two —
      // checkpointed so the kmeans+greedy stage and the within-cluster
      // pair kernel each run once. BOTH consumers only read pairs at
      // cos >= tau, so the filter lands BEFORE the checkpoint: what
      // materializes is the (sparse) near-dup pair set, never the full
      // O(N²/nlist) within-cluster expansion — that one only ever
      // streams through this plan's aggregates
      val res = Dedup.semanticDedupKmeans(emb, "vec_id", "embedding",
        nlist, tau = tau, sampleSize = math.max(4096, nlist * 8))
        .localCheckpoint(true)
      val r = res.join(emb.select($"vec_id", $"embedding"), "vec_id")
      val a = r.select($"vec_id".as("ida"), $"cluster",
        $"kept".as("kepta"), $"embedding".as("va"))
      val b = r.select($"vec_id".as("idb"), $"cluster",
        $"kept".as("keptb"), $"embedding".as("vb"))
      val pairs = a.join(b, Seq("cluster")).filter($"ida" < $"idb")
        .withColumn("cos",
          round(graft.functions.Vectors.cosine($"va", $"vb"), 6))
        .filter($"cos" >= tau)
        .select($"ida", $"idb", $"kepta", $"keptb")
        .localCheckpoint(true)
      val violKept = pairs
        .filter($"kepta" && $"keptb")
        .agg(count(lit(1)).as("n_viol_kept"))
      // a >= tau pair justifies dropping its LARGER id only when the
      // smaller id was KEPT — greedy keeps the first of every chain, so
      // a drop justified solely by another DROPPED vector (a chain the
      // operator should have kept the head of) must count as a
      // violation, not a justification
      val justified = pairs
        .filter($"kepta")
        .select($"idb".as("vec_id")).distinct()
      val violDrop = res.filter(!$"kept")
        .join(justified, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("n_viol_dropped"))
      res.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(violKept).crossJoin(violDrop)
    },

    // ---- near-dup hub report: per-doc degree + hub-prune flag ----
    // the star-vs-clique distinction d11's cluster sizes hide: a
    // boilerplate shell pairs with many mutually-dissimilar docs.
    // Pair relation from minhashPairs here (one self-contained pass
    // for the per-query bench); at 100 TB it derives from the
    // persisted near-dup index (Dedup.pairsFromIndex, the d11 path).
    // hubDegree=2 is calibrated to this synthetic corpus's degree
    // distribution (max observed 2 at sf0.01).
    "d21_hub_prune" -> { (s, d) =>
      import s.implicits._
      Dedup.nearDupDegrees(load(s, d, "documents"), "doc_id",
          sharedPairs(s, d),
          hubDegree = 2L)
        .orderBy($"doc_id")
    },

    // ---- transitive near-dup centrality (PageRank over pairs) ----
    // d21 flags hubs by raw degree; this ranks by TRANSITIVE
    // centrality — a template shell pairing with other well-connected
    // shells outranks one with equal degree into leaves, which is the
    // order a curation run prunes in. Six deterministic power
    // iterations (near-dup components have tiny diameter — round-6
    // ranks are stationary well before 6; each iteration is a
    // checkpointed job, so the count is wall time); the oracle
    // replays every iteration as unrolled CTEs (cross-engine
    // arithmetic contract in Dedup.nearDupRank's doc).
    "d24_pair_rank" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents")
      Dedup.nearDupRank(docs, "doc_id",
          sharedPairs(s, d),
          iters = 6)
        .select($"id".as("doc_id"), $"deg", $"rank")
        .orderBy($"doc_id")
    },

    // ---- canonical selection by centrality ----
    // the curation decision d06 + d24 compose into: each near-dup
    // cluster resolves to its highest-PageRank member (ties to the
    // lowest id) — keep the best-connected copy, not d07's
    // lowest-id convention. ONE pair derivation feeds both the
    // clustering and the rank (checkpointed), the pick is one
    // row_number window over the cluster partition. The oracle
    // assembles d11's recursive min-label clustering and d24's
    // unrolled rank CTEs over the same edge relation under one
    // WITH RECURSIVE.
    // clustering + rank relations via the session-memoized
    // sharedClusters/sharedRank (identical derivations to d06/d24's
    // fresh ones); the canonical PICK — d25's oracled claim — runs
    // fresh below
    "d25_rank_canonical" -> { (s, d) =>
      import s.implicits._
      val docs = load(s, d, "documents")
      Dedup.rankCanonicalFrom(docs, "doc_id",
          sharedClusters(s, d), sharedRank(s, d))
        .select($"id".as("doc_id"), $"cluster", $"rank", $"keep")
        .orderBy($"doc_id")
    },

    // ---- cross-source verbatim-overlap matrix ----
    // the between-SOURCES contamination signal (d09 guards corpus vs
    // eval benchmarks; d13/d17 measure per-document coverage; this is
    // the corpus-curation view: which source pairs share verbatim
    // 8-gram material, as exact Jaccard/containment over each source's
    // distinct-gram SET). Skew-proof shape: the distinct (source, gram)
    // relation is one explode + distinct (linear); pair expansion is a
    // groupBy(gram) -> sorted collect_set(source) whose size is bounded
    // by |sources| (tiny), then an in-expression combination unfold —
    // no gram-keyed self-join, so a mega-shared gram costs |sources|²
    // rows, never n_docs². Sizes broadcast back (a |sources|-row
    // relation). All ratios are integer-ratio doubles (bit-exact across
    // engines, the t10 discipline).
    "d22_source_overlap" -> { (s, d) =>
      import s.implicits._
      val grams = load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"source", split($"text", " ").as("t"))
        .filter(size($"t") >= 8)
        .select($"source", explode(array_distinct(
          transform(sequence(lit(1), size($"t") - 7),
            i => array_join(slice($"t", i, lit(8)), " ")))).as("g"))
        .distinct()
      // one gram-grouped relation feeds BOTH consumers: sizes unfolds
      // the per-gram source set (each distinct (source, gram) appears
      // exactly once across the ss arrays), pairs unfolds its 2-combos
      // — the exchange below the collect_set is identical in the two
      // subtrees, so ReuseExchange runs the corpus scan+explode ONCE
      // (a per-source groupBy for sizes would be a second full scan)
      val bySrc = grams.groupBy($"g")
        .agg(sort_array(collect_set($"source")).as("ss"))
      val sizes = bySrc.select(explode($"ss").as("source"))
        .groupBy($"source").agg(count(lit(1)).as("n_grams"))
      val pairs = bySrc
        .filter(size($"ss") >= 2)
        .select(explode(flatten(transform($"ss", (a, i) =>
          transform(slice($"ss", i + 2, size($"ss")),
            b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
        .groupBy($"p.src_a", $"p.src_b")
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(sizes.select($"source".as("src_a"),
          $"n_grams".as("grams_a"))), "src_a")
        .join(broadcast(sizes.select($"source".as("src_b"),
          $"n_grams".as("grams_b"))), "src_b")
        .select($"src_a", $"src_b", $"grams_a", $"grams_b", $"n_shared",
          round($"n_shared".cast("double") /
            ($"grams_a" + $"grams_b" - $"n_shared"), 6).as("jaccard"),
          round($"n_shared".cast("double") /
            least($"grams_a", $"grams_b"), 6).as("containment"))
        .orderBy($"src_a", $"src_b")
    }
  )

  val oracle: Map[String, String] = Map(
    // d16: greedy-dedup invariant gate (see the query) — clusters are
    // quantizer-defined; the oracleable claims are the structural
    // zeros plus the vector count
    "d16_semantic_dedup_scaled" ->
      """SELECT COUNT(*) AS n_vectors,
        |  CAST(0 AS BIGINT) AS n_viol_kept,
        |  CAST(0 AS BIGINT) AS n_viol_dropped
        |FROM embeddings""".stripMargin,

    // d03: exactness gate (see the query) — the pair set itself is
    // xxhash64-defined; the oracleable claim is banded ≡ brute force
    "d03_simhash_pairs" ->
      """SELECT COUNT(*) AS n_docs, CAST(4 AS BIGINT) AS max_hamming,
        |  CAST(0 AS BIGINT) AS n_missed, CAST(0 AS BIGINT) AS n_extra
        |FROM documents""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT lang, source, doc_id, n_dups FROM (
        |  SELECT lang, source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang, source) AS n_dups
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY lang, source""".stripMargin,

    "d02_minhash_pairs" -> bruteForcePairsSql,

    // the count-only reports must agree with the PAIR-RELATION
    // aggregate: same brute-force pair set, folded to degrees — one
    // oracle for the re-derive form (d26) and the persisted-index
    // form (d27), the d02/d18/d19 multi-discipline pattern
    "d26_dup_degree" -> bruteForceDegreeSql,
    "d27_index_degree" -> bruteForceDegreeSql,

    "d28_substring_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |    i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks WHERE len(t) >= 8),
        |d AS (
        |  SELECT g, 1 AS _dup FROM w
        |  GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id))
        |SELECT w.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(SUM(_dup), 0) AS BIGINT) AS n_dup_windows,
        |  round(CAST(COALESCE(SUM(_dup), 0) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_frac
        |FROM w LEFT JOIN d USING (g)
        |GROUP BY w.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the trim replays the identical text-keyed plan: positioned
    // windows, min<>max dup grams, covered = dup-window fan-out to
    // the 8 token indices (DISTINCT = the interval merge), anti-join
    // survivors reassembled in token order. 1-based here, 0-based in
    // Spark — same kept set either way.
    "d29_substring_trim" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    string_split(COALESCE(text,''),' ') AS t FROM documents),
        |w0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos
        |  FROM toks WHERE len(t) >= 8),
        |w AS (
        |  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
        |  FROM w0),
        |dupg AS (
        |  SELECT g FROM w GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + o AS i
        |  FROM w JOIN dupg USING (g)
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS o) off),
        |tok0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
        |tok AS (SELECT doc_id, i, t[i] AS tk FROM tok0),
        |kept AS (
        |  SELECT tok.doc_id, tok.i, tok.tk
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
        |  WHERE cov.doc_id IS NULL),
        |kc AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tk, ' ' ORDER BY i) AS trimmed
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(COALESCE(d.text,''),' ')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(string_split(COALESCE(d.text,''),' '))
        |    - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(kc.trimmed, '') AS trimmed_text
        |FROM documents d LEFT JOIN kc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // exact containment over the same DF-capped index contract the
    // operator declares: [2, 64]-df shingles, intersection counts
    // from the index join, denominators the FULL per-doc
    // distinct-shingle counts (n reads from sh, NOT idx — indexable-
    // only denominators would read any two docs sharing only their
    // indexable shingles as mutual containments; see containmentPairs'
    // CONTRACT note and the spec leg that pins it)
    "d30_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, gg AS g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
        |      i -> array_to_string(t[i:i+2],' '))) AS gg
        |    FROM toks WHERE len(t) >= 3)),
        |idx AS (
        |  SELECT sh.doc_id, sh.g FROM sh
        |  JOIN (SELECT g FROM sh GROUP BY g
        |        HAVING COUNT(*) BETWEEN 2 AND 64) d USING (g)),
        |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_inter
        |  FROM idx x JOIN idx y USING (g)
        |  WHERE x.doc_id <> y.doc_id GROUP BY 1, 2)
        |SELECT a, b,
        |  round(n_inter::DOUBLE / na.n, 6) AS containment,
        |  round(n_inter::DOUBLE / (na.n + nb.n - n_inter), 6) AS jaccard
        |FROM inter JOIN n na ON inter.a = na.doc_id
        |           JOIN n nb ON inter.b = nb.doc_id
        |WHERE round(n_inter::DOUBLE / na.n, 6) >= 0.9
        |ORDER BY a, b""".stripMargin,

    // the streaming detector must converge to the SAME pair set as
    // batch d02 — one oracle, two execution disciplines
    "d18_stream_near_dup" -> bruteForcePairsSql,

    // ...and the persisted-index lookup is the third: the same exact
    // brute force, restricted to (indexed, new-batch) cross pairs
    "d19_index_dedup" ->
      s"""WITH d AS (SELECT doc_id, $shingleSql AS sh FROM documents
         |           WHERE len(string_split(text,' ')) >= 3)
         |SELECT a.doc_id AS oid, b.doc_id AS nid,
         |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM d a JOIN d b
         |  ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
         |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         |ORDER BY oid, nid""".stripMargin,

    "d04_blocked_jaccard" ->
      s"""WITH d AS (SELECT doc_id, lang, source, $shingleSql AS sh
         |           FROM documents)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
         |  AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
         |ORDER BY a, b""".stripMargin,

    "d06_dup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
         |reach(x, label) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM edges) n
         |  UNION
         |  SELECT e.y, r.label FROM reach r JOIN edges e ON e.x = r.x)
         |SELECT x AS doc_id, MIN(label) AS cluster
         |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,

    "d20_dup_weights" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
         |reach(x, label) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM edges) n
         |  UNION
         |  SELECT e.y, r.label FROM reach r JOIN edges e ON e.x = r.x),
         |lab AS (SELECT x AS doc_id, MIN(label) AS cluster
         |        FROM reach GROUP BY x),
         |f AS (
         |  SELECT dd.doc_id, COALESCE(lab.cluster, dd.doc_id) AS cluster
         |  FROM documents dd LEFT JOIN lab ON dd.doc_id = lab.doc_id)
         |SELECT doc_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS sz,
         |  CAST(1 AS DOUBLE) / COUNT(*) OVER (PARTITION BY cluster) AS weight
         |FROM f ORDER BY doc_id""".stripMargin,

    "d14_token_budget" ->
      """WITH c AS (
        |  SELECT source, len(string_split(text,' ')) AS nt,
        |    SUM(len(string_split(text,' ')))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens
        |FROM c WHERE cum <= 2000
        |GROUP BY source ORDER BY source""".stripMargin,

    "d08_sample_mix" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN doc_id % 10 <
        |    (CASE WHEN lang = 'en' THEN 8 WHEN lang = 'es' THEN 5
        |     ELSE 2 END) THEN 1 END) AS n_sampled,
        |  round(CAST(COUNT(CASE WHEN doc_id % 10 <
        |    (CASE WHEN lang = 'en' THEN 8 WHEN lang = 'es' THEN 5
        |     ELSE 2 END) THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "d07_dedup_canonical" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
         |reach(x, label) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM edges) n
         |  UNION
         |  SELECT e.y, r.label FROM reach r JOIN edges e ON e.x = r.x),
         |clusters AS (SELECT x AS doc_id, MIN(label) AS cluster
         |             FROM reach GROUP BY x),
         |members AS (
         |  SELECT doc.doc_id AS doc, len(doc.text) AS l,
         |    COALESCE(c.cluster, doc.doc_id) AS cluster_id
         |  FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.doc_id)
         |SELECT cluster_id, doc AS canonical, n_members FROM (
         |  SELECT cluster_id, doc,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY l DESC, doc) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM members) t
         |WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "d09_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))) AS g
        |  FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT g, doc_id AS bench_id FROM g WHERE doc_id % 10 = 0),
        |corpus AS (SELECT * FROM g WHERE doc_id % 10 <> 0)
        |SELECT corpus.doc_id AS doc_id,
        |  COUNT(DISTINCT corpus.g) AS n_shared,
        |  COUNT(DISTINCT bench_id) AS n_bench
        |FROM corpus JOIN bench ON corpus.g = bench.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // brute-force bipartite Jaccard — the d02/d18 oracle discipline:
    // the oracle states the semantics (all corpus × bench pairs), the
    // engine answers through LSH + exact verification
    "d23_fuzzy_decontam" ->
      s"""WITH d AS (SELECT doc_id, $shingleSql AS sh FROM documents
         |           WHERE len(string_split(text,' ')) >= 3),
         |prs AS (
         |  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
         |    round(len(list_intersect(c.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(c.sh, b.sh))), 6) AS j
         |  FROM d c JOIN d b
         |    ON c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
         |  WHERE len(list_intersect(c.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(c.sh, b.sh))) >= 0.8)
         |SELECT doc_id, COUNT(DISTINCT bench_id) AS n_bench,
         |  MAX(j) AS max_jaccard
         |FROM prs GROUP BY 1 ORDER BY 1""".stripMargin,

    "d11_cluster_sizes" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
         |reach(x, label) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM edges) n
         |  UNION
         |  SELECT e.y, r.label FROM reach r JOIN edges e ON e.x = r.x),
         |clusters AS (SELECT x AS doc_id, MIN(label) AS cluster
         |             FROM reach GROUP BY x),
         |sizes AS (
         |  SELECT COALESCE(c.cluster, doc.doc_id) AS cluster,
         |    COUNT(*) AS sz
         |  FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.doc_id
         |  GROUP BY 1)
         |SELECT sz, COUNT(*) AS n_clusters
         |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin,

    "d12_leakage_split" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
         |reach(x, label) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM edges) n
         |  UNION
         |  SELECT e.y, r.label FROM reach r JOIN edges e ON e.x = r.x),
         |clusters AS (SELECT x AS doc_id, MIN(label) AS cluster
         |             FROM reach GROUP BY x),
         |assigned AS (
         |  SELECT doc.doc_id,
         |    COALESCE(c.cluster, doc.doc_id) AS cluster,
         |    CASE WHEN COALESCE(c.cluster, doc.doc_id) % 10 <= 7 THEN 'train'
         |         WHEN COALESCE(c.cluster, doc.doc_id) % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.doc_id)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT cluster) AS n_clusters
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    "d10_repeated_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))) AS g
        |  FROM toks WHERE len(t) >= 8)
        |SELECT g, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM g GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, g LIMIT 20""".stripMargin,

    "d13_boilerplate_cover" ->
      """WITH toksl AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents
        |  WHERE len(string_split(text,' ')) >= 8),
        |g AS (
        |  SELECT doc_id, u.i AS i, u.g AS g
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |          i -> struct_pack(i := i,
        |            g := array_to_string(t[i:i+7], ' ')))) AS u
        |        FROM toksl) s),
        |freq AS (
        |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM g) dg
        |  GROUP BY g HAVING COUNT(*) >= 2),
        |cov0 AS (
        |  SELECT doc_id, unnest(range(i, i + 8)) AS p
        |  FROM g JOIN freq USING (g)),
        |covc AS (
        |  SELECT doc_id, COUNT(*) AS n_covered
        |  FROM (SELECT DISTINCT doc_id, p FROM cov0) c GROUP BY 1)
        |SELECT t.doc_id, len(t.t) AS n_tokens,
        |  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
        |  round(CAST(COALESCE(c.n_covered, 0) AS DOUBLE) / len(t.t), 6)
        |    AS boilerplate_frac
        |FROM toksl t LEFT JOIN covc c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d17_strip_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |toksl AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
        |g AS (
        |  SELECT doc_id, u.i AS i, u.g AS g
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |          i -> struct_pack(i := i,
        |            g := array_to_string(t[i:i+7], ' ')))) AS u
        |        FROM toksl) s),
        |freq AS (
        |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM g) dg
        |  GROUP BY g HAVING COUNT(*) >= 2),
        |cov AS (
        |  SELECT doc_id, list(DISTINCT p) AS plist
        |  FROM (SELECT doc_id, unnest(range(i, i + 8)) AS p
        |        FROM g JOIN freq USING (g)) z
        |  GROUP BY doc_id),
        |kept AS (
        |  SELECT t.doc_id,
        |    CASE WHEN c.plist IS NULL THEN t.t
        |      ELSE list_filter(t.t, (x, i) -> NOT list_contains(c.plist, i))
        |    END AS k, t.t AS t
        |  FROM toks t LEFT JOIN cov c USING (doc_id))
        |SELECT doc_id, COALESCE(array_to_string(k, ' '), '') AS clean_text,
        |  CAST(len(k) AS BIGINT) AS n_kept,
        |  CAST(len(t) - len(k) AS BIGINT) AS n_dropped
        |FROM kept ORDER BY doc_id""".stripMargin,

    "d05_cosine_pairs" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
        |ORDER BY a, b""".stripMargin,

    // centroid means use s06's exact decimal-sum arithmetic rounded to
    // 6 decimals, so both engines rank against bit-identical centroid
    // vectors; all cosine comparisons happen on round(...,6) values on
    // both sides (the d05 boundary-safety pattern)
    "d15_semantic_dedup" ->
      """WITH cm AS (
        |  SELECT CAST(label AS BIGINT) AS cl, t.pos AS pos,
        |    round(CAST(SUM(CAST(CAST(embedding[t.pos+1] AS DOUBLE)
        |      AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS m
        |  FROM embeddings, range(0, 64) t(pos) GROUP BY 1, 2),
        |cv AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM cm GROUP BY cl),
        |asg AS (
        |  SELECT vec_id, cl AS cluster FROM (
        |    SELECT e.vec_id, c.cl,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)
        |          DESC, c.cl ASC) AS rn
        |    FROM embeddings e CROSS JOIN cv c) r WHERE rn = 1),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
        |    eb.embedding::DOUBLE[]), 6) >= 0.35)
        |SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept
        |FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "d21_hub_prune" ->
      s"""WITH d AS (SELECT doc_id, $shingleSql AS sh FROM documents),
         |prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |deg AS (
         |  SELECT x AS doc_id, COUNT(*) AS degree
         |  FROM (SELECT a AS x FROM prs UNION ALL SELECT b FROM prs)
         |  GROUP BY 1)
         |SELECT doc.doc_id, COALESCE(deg.degree, 0) AS degree,
         |  COALESCE(deg.degree, 0) >= 2 AS is_hub
         |FROM documents doc LEFT JOIN deg ON doc.doc_id = deg.doc_id
         |ORDER BY doc.doc_id""".stripMargin,

    "d24_pair_rank" -> pairRankSql(6),
    "d25_rank_canonical" -> rankCanonicalSql(6),

    "d22_source_overlap" ->
      """WITH g AS (
        |  SELECT DISTINCT source, gg AS g FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))))
        |      AS gg
        |    FROM (SELECT source, string_split(text,' ') AS t
        |          FROM documents) s
        |    WHERE len(t) >= 8) u),
        |sizes AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY 1),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |  sa.n_grams AS grams_a, sb.n_grams AS grams_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE)
        |    / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard,
        |  round(CAST(n_shared AS DOUBLE)
        |    / least(sa.n_grams, sb.n_grams), 6) AS containment
        |FROM shared
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin
  )
}
