package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables.load

/** Scale validation harness: replicate sf0.1 `replicas`× with
  * key-space offsets, run representative queries at both sizes, and
  * report the wall-time ratio per query. A plan that is linear in the
  * data shows a ratio ≈ replicas (or lower, where fixed scheduling
  * cost dominates at sf0.1); anything super-linear is a plan bug this
  * harness exists to catch before a real cluster does.
  *
  * Replication is NOT naive copying — copies are perturbed so the
  * data's *structure* scales the way a real corpus grows:
  *  - fact/dim keys get per-replica offsets (referential integrity
  *    kept; region/nation stay shared dimensions)
  *  - document text gets a per-token replica suffix: each replica
  *    keeps its internal near-dup clusters, but replicas never pair
  *    with each other (naive copies would turn every doc into a
  *    10-way near-dup cluster and blow pair counts up 100×, testing
  *    the data generator rather than the plan)
  *  - embeddings flip the sign of one replica-dependent dimension —
  *    same reasoning for cosine pairs
  *  - events keep their time range but widen the user space (more
  *    users in the same window, the usual growth shape)
  *
  * Usage: runMain graft.ScaleCheck [outDir] [replicas] [tablesCsv] [queriesCsv]
  * (writes tables once; reuses them if the directory exists).
  * `tablesCsv`/`queriesCsv` restrict the replica set and the query
  * panel — e.g. a documents-only 100× run for the text/dedup path,
  * where replicating the full TPC-H side would dominate wall time.
  */
object ScaleCheck {

  private val SrcDir = "/root/testdata/sf0.1"

  private val Queries = Seq(
    "q01_pricing_summary", "q05_regional_revenue", "q09_top_orders_per_cust",
    "q23_percentiles", "q17_hourly_counts", "q18_sessions",
    "t01_token_stats", "t03_langid", "t07_char_trigrams",
    "d01_exact_dedup", "d02_minhash_pairs", "d04_blocked_jaccard",
    "s01_cosine_topk", "q46_sliding_window", "t09_tfidf",
    "d09_decontam", "d10_repeated_ngrams", "q53_corr_stats",
    "t13_lm_score", "p01_train_pipeline",
    // round 4
    "s08_pq_adc", "d12_leakage_split", "t14_bigram_lm",
    "q56_stream_state_v2", "q57_scalar_subquery",
    "d13_boilerplate_cover", "s09_range_search", "t15_bpe_count",
    // round 5
    "t16_blocklist", "d14_token_budget", "q31_salted_join",
    // round 6 — c18/c19 replay a FIXED golden fixture regardless of
    // sfDir, so their panel ratio ≈1 evidences the per-action floor,
    // not data scaling; their scale story is the CdfFollow tail-bound
    // spec + the state rows of the Bench work record (`--only=` on a
    // ScaleCheck replica dir)
    "d16_semantic_dedup_scaled", "q59_recursive_cte",
    "s10_hybrid_rrf", "s11_mmr_rerank", "t18_novelty",
    "d15_semantic_dedup", "q60_rank_functions",
    "c18_incremental_agg", "c19_stream_ivm",
    // round 8 — the events-family queries that regained their gates
    // under the type-adaptive loader (q46/q17/q18 already above)
    "q19_asof_purchase_click", "q43_range_join",
    "q51_cohort_retention", "q58_forward_fill",
    "d17_strip_boilerplate", "p02_stream_pipeline", "s12_knn_graph",
    // round-8 additions: entropy kernel, IVF+PQ, streaming near-dup,
    // persisted index build+serve
    "t19_token_entropy", "s13_ivf_pq", "d18_stream_near_dup",
    "s14_vector_index", "s15_filtered_search",
    // round-8 third wave: redaction pass, persisted near-dup index,
    // incremental vector-index append
    "t20_redact", "d19_index_dedup", "s16_index_append",
    "p03_dataset_card", "c20_scd2_history", "m07_media_shards",
    "q61_stream_session", "q62_stream_dedup_wm", "q63_stream_enrich",
    // round-8 fifth wave: DSIR importance scoring, soft-dedup
    // weights, nearest as-of join
    "t21_dsir_score", "d20_dup_weights", "q64_asof_nearest",
    "t22_source_divergence",
    // round 9: append-mode session windows (the q61 production shape),
    // index tombstone-delete lifecycle, left-outer stream-stream join
    "q65_stream_session_append", "s17_index_delete",
    "q66_stream_left_join", "c21_cdc_vector_sync",
    // round 10: approximate index-probe kNN graph (the scale path
    // where exact s12 degrades toward N² work), near-dup hub degrees,
    // temperature mixture, BM25 retrieval, cross-source overlap
    "s18_knn_graph_approx", "d21_hub_prune", "p04_temperature_mix",
    "t23_bm25_topk", "d22_source_overlap",
    // round-10 second wave: bipartite fuzzy decontamination, NB
    // classifier filter, SQ8 compressed-scan ANN, perceptual dHash
    "d23_fuzzy_decontam", "t24_nb_filter", "s20_sq8", "m09_phash_pairs",
    "d24_pair_rank", "p05_stream_classify", "c23_model_ivm",
    "d25_rank_canonical",
    // round 12: count-only duplication reports — the claim is the
    // wall at 100× is NO LONGER output-bound (m10's 19 M-pair
    // relation collapses to per-doc degrees map-side) — and the BPE
    // trainer, whose rounds are vocab-bound after one corpus pass
    "d26_dup_degree", "m12_phash_degree", "t25_bpe_train",
    // late round 12: BPE encode — vocabulary-bounded fold passes plus
    // one corpus join; wall should track corpus size ~linearly with
    // the vocab passes amortized — and exact-substring coverage,
    // whose window explode + gram group + join-back is linear in
    // corpus windows (count-only, no pair relation)
    "t26_bpe_encode", "d28_substring_coverage",
    // ...and the trim (d29): same linear window/gram plumbing plus a
    // keyed anti-join and per-doc reassembly — output is corpus-sized
    // (the trimmed text), so the wall must track corpus size, never
    // the dup-pair count
    "d29_substring_trim",
    // containment search (d30): DF-capped inverted index — per-gram
    // pair fan-out bounded by maxDf², so the wall must track corpus
    // postings, never N²
    "d30_containment",
    // audio fingerprint (linear decode + one groupBy) and centroid
    // outliers (one posexplode aggregate + literal-centroid scan +
    // TakeOrdered) — both must track data ~linearly
    "m13_audio_fingerprint", "s21_centroid_outliers",
    // JL projection gate: projection is linear in corpus values, the
    // compressed scan is Q-broadcast x N — wall must track N
    "s22_jl_topk",
    // full-outer stream-stream join: state is the 30-min window per
    // user on both sides; wall tracks event volume like q45/q66
    "q67_stream_full_join")

  def generate(spark: SparkSession, outDir: String, replicas: Int,
      tables: Set[String]): Unit = {
    val done = new java.io.File(s"$outDir/_DONE")
    if (done.exists()) { println(s"[scale] reusing $outDir"); return }

    def reps(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(r => f(df, r)).reduce(_.unionByName(_))

    def write(name: String, df: DataFrame): Unit =
      if (tables(name)) {
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/$name.parquet")
        println(s"[scale] wrote $name")
      }

    // shared dimensions: one copy
    Seq("region", "nation").foreach(t => write(t, load(spark, SrcDir, t)))

    write("supplier", reps(load(spark, SrcDir, "supplier")) { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * 100000L))
    })
    write("part", reps(load(spark, SrcDir, "part")) { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * 10000000L))
    })
    write("customer", reps(load(spark, SrcDir, "customer")) { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * 10000000L))
    })
    write("orders", reps(load(spark, SrcDir, "orders")) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(r * 10000000L))
    })
    write("lineitem", reps(load(spark, SrcDir, "lineitem")) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(r * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * 100000L))
    })
    write("events", reps(load(spark, SrcDir, "events")) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * 100000000L))
        .withColumn("user_id", col("user_id") + lit(r * 10000000L))
    })
    write("documents", reps(load(spark, SrcDir, "documents")) { (df, r) =>
      df.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$r"))), " "))
        .withColumn("n_chars", length(col("text")))
    })
    write("embeddings", reps(load(spark, SrcDir, "embeddings")) { (df, r) =>
      val d = r % 64
      df.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> IF(i = $d, -x, x))"))
    })
    done.createNewFile()
    ()
  }

  private val AllTables = Set("region", "nation", "supplier", "part",
    "customer", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/scale10")
    val replicas = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val tables = args.drop(2).headOption
      .map(_.split(",").toSet).getOrElse(AllTables)
    val queries = args.drop(3).headOption
      .map(_.split(",").toSeq).getOrElse(Queries)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    generate(spark, outDir, replicas, tables)

    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    val rows = queries.map { q =>
      val base = time(q, SrcDir)
      val big = time(q, outDir)
      val ratio = big / base
      println(f"SCALE $q%-26s sf0.1=$base%6.2fs ${replicas}x=$big%7.2fs ratio=$ratio%5.2f")
      (q, base, big, ratio)
    }
    val qs = rows.map { case (q, b, g, r) =>
      f""""$q":{"base":$b%.3f,"big":$g%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ratio","replicas":$replicas,"queries":$qs}""")
    spark.stop()
  }
}
