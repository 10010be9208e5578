package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Sampling, TextAnalysis}
import graft.ops.TextAnalysis._
import graft.util.{Fs, SessionMemo}
import graft.util.Tables.load

/** The end-to-end training-data build, composed from the operators the
  * individual queries gate one by one: quality filter → exact dedup →
  * benchmark decontamination → stratified sampling → sequence packing.
  * One DataFrame chain, one DuckDB oracle of the same CTE chain — the
  * composition is the capability here: every stage is linear or
  * hash-partitioned exactly as its standalone query, and nothing
  * materializes between stages (Catalyst plans the whole build as one
  * job graph).
  *
  * Scale shape: quality/fingerprint are per-row expressions on the
  * scan; dedup is one window over the fingerprint hash partition;
  * decontam broadcasts the (small by nature) benchmark 8-gram set and
  * left-anti joins; sampling is a deterministic per-row predicate;
  * packing windows per source stratum. No stage shuffles the corpus
  * more than once.
  */
object Pipeline {

  /** Materialize a 1-row NB stats relation as a LocalRelation (same
    * schema, same single row). NbClassifier.applyDelta/scoreWith read
    * `n_buckets` via stats.head() and broadcast the stats row into
    * every scoring plan; on a LAZY or checkpointed stats relation each
    * of those reads is a Spark job (and on a lazy one, a full
    * re-aggregation of the model subtree). A LocalRelation's
    * executeTake returns driver-side — zero jobs — so the c23/c24
    * gates pay ONE job per stats generation instead of one per
    * consumer (c24's serving loop had three head() jobs per folded
    * version; guide §5: the driver should not re-run data work it
    * already holds one row of). */
  private def localStats(st: DataFrame): DataFrame = {
    // take(2) + require: an empty or >1-row stats relation must fail
    // with a diagnosis, not a bare NoSuchElementException / a silent
    // truncation that skews the exceptAll diffs downstream
    val rows = st.take(2)
    require(rows.length == 1,
      s"localStats: expected exactly one stats row, got ${rows.length}")
    st.sparkSession.createDataFrame(
      java.util.Collections.singletonList(rows(0)), st.schema)
  }

  /** Three-commit CDC documents table for c24 (v0 snapshot = the 90%
    * base split, v1 re-texts as update pre/post images, v2 deletes +
    * held-out inserts). The gate's claims (feed folding, per-version
    * retrain equivalence) run inside the gate. */
  private val c24Memo = new SessionMemo[String, String]
  private def c24Table(s: SparkSession, d: String): graft.cdc.CdcTable = {
    val tdir = c24Memo(s, d) {
      import s.implicits._
      val dir = s"target/cdcdocs_${math.abs(d.hashCode.toLong)}"
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      val docs = load(s, d, "documents").select($"doc_id", $"text", $"lang")
      def key(seq: Long) = struct(lit(seq).as("ts_ms"), lit(seq).as("scn"),
        lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key")
      val t = new graft.cdc.CdcTable(s, dir, Seq("doc_id"), numBuckets = 4)
      val base = docs.filter($"doc_id" % 7 =!= 0)
      val holdout = docs.filter($"doc_id" % 7 === 0)
      t.applyBatch(base.select(struct($"doc_id", $"text", $"lang").as("row"),
        lit("INSERT").as("op"), key(0)), 0L)
      t.applyBatch(base.filter($"doc_id" % 5 === 0)
        .select(struct($"doc_id",
          concat($"text", lit(" ivm ivm")).as("text"), $"lang").as("row"),
          lit("UPDATE").as("op"), key(1)), 1L)
      t.applyBatch(
        base.filter($"doc_id" % 3 === 0)
          .select(struct($"doc_id", $"text", $"lang").as("row"),
            lit("DELETE").as("op"), key(2))
          .unionByName(holdout
            .select(struct($"doc_id", $"text", $"lang").as("row"),
              lit("INSERT").as("op"), key(2))),
        2L)
      dir
    }
    new graft.cdc.CdcTable(s, tdir, Seq("doc_id"), numBuckets = 4)
  }

  /** Stages 1–4 (quality → dedup → decontam → sample): the shared
    * pre-packing chain; p01 packs it, p01b gates its per-stratum
    * counts so an empty packing output can never again hide a broken
    * upstream stage behind a vacuous 0-row hash match. */
  private def sampledDocs(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val docs = load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)

      // benchmark side (doc_id % 10 == 0, the d09 convention): its
      // distinct 8-grams ban corpus docs verbatim-overlapping an eval set
      val benchGrams = docs.filter($"doc_id" % 10 === 0)
        .select(split($"text", " ").as("toks"))
        .filter(size($"toks") >= 8)
        .select(explode(array_distinct(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " ")))).as("g"))
        .distinct()

      // 1. corpus = non-benchmark docs passing the quality gate.
      // 0.715 ≈ in-band length + ≥5% function-word density: selective
      // (~22% of docs survive) but non-empty at every generated SF —
      // the old 0.75 bar emptied the whole pipeline on the regenerated
      // corpus and made the oracle gate vacuous (0 rows vs 0 rows).
      val quality = docs.filter($"doc_id" % 10 =!= 0)
        .withColumn("q", qualityScore($"text"))
        .filter($"q" >= 0.715)

      // 2. exact dedup: keep the lowest doc_id per content fingerprint
      val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
      val deduped = quality
        .withColumn("fp", fingerprint($"text"))
        .withColumn("rn", row_number().over(wFp))
        .filter($"rn" === 1).drop("rn")

      // 3. decontamination: drop docs sharing any verbatim 8-gram.
      // NOT an anti-join of deduped against a subset of itself — that
      // consumes the dedup pipeline twice and Catalyst re-executes the
      // whole scan→quality→window subtree (measured; the r2 lesson).
      // Instead one pass: explode grams (null row for short docs),
      // mark hits against the broadcast bench set, keep docs whose
      // max(hit) is null. The per-doc aggregate partially collapses
      // map-side, so the shuffle carries one row per doc.
      val toks = split($"text", " ")
      val clean = deduped
        .select($"doc_id", $"lang", $"source",
          tokenCount($"text").as("n_tok"),
          explode_outer(when(size(toks) >= 8,
            array_distinct(transform(sequence(lit(1), size(toks) - 7),
              i => array_join(slice(toks, i, lit(8)), " "))))).as("g"))
        .join(broadcast(benchGrams.withColumn("hit", lit(1))),
          Seq("g"), "left_outer")
        .groupBy($"doc_id", $"lang", $"source", $"n_tok")
        .agg(max($"hit").as("hit"))
        .filter($"hit".isNull)

      // 4. deterministic stratified sampling by language
      Sampling.stratifiedSample(clean, "lang", "doc_id",
          rates = Map("en" -> 8, "es" -> 5), defaultRate = 2)
        .filter($"keep")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_train_pipeline" -> { (s, d) =>
      import s.implicits._
      // 5. pack into 512-token training sequences per source stratum
      val wPack = Window.partitionBy($"source").orderBy($"doc_id")
      sampledDocs(s, d)
        .select($"source", $"doc_id", $"n_tok")
        .withColumn("cum", sum($"n_tok").over(wPack))
        .withColumn("seq_id", expr("(cum - n_tok) div 512"))
        .groupBy($"source", $"seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"source", $"seq_id")
    },

    // ---- the pipeline as a STREAMING ingest: quality → exact dedup →
    // decontam as data lands, the "dedupe at the door" shape a 100 TB
    // corpus build runs continuously. Structured Streaming allows only
    // one stateful aggregation per query, so the stages are shaped
    // accordingly: quality and decontamination are per-row predicates
    // (no join — the benchmark 8-gram set is "small by nature" like
    // d09's, collected once and BROADCAST; membership runs in a
    // function over the token array, the same shipped-filter shape
    // real decontamination services use), dedup is the one stateful
    // operator (dropDuplicates on the content fingerprint), and the
    // rollup aggregates batch-side from the append sink (the q45
    // pattern). The GATE must not depend on which duplicate wins the
    // arrival race, so every output column derives from TEXT (lang via
    // langId, tokens via tokenCount): same fingerprint ⇒ same text ⇒
    // same contribution, whichever copy survives.
    "p02_stream_pipeline" -> { (s, d) =>
      import s.implicits._
      val docsSchema = load(s, d, "documents").schema
      val benchGrams: Set[String] = load(s, d, "documents")
        .filter($"doc_id" % 10 === 0)
        .select(split($"text", " ").as("toks"))
        .filter(size($"toks") >= 8)
        .select(explode(array_distinct(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " ")))).as("g"))
        .distinct().as[String].collect().toSet
      val bset = s.sparkContext.broadcast(benchGrams)
      val contaminated = udf { toks: Seq[String] =>
        toks.length >= 8 &&
          toks.sliding(8).exists(w => bset.value.contains(w.mkString(" ")))
      }
      val stream = s.readStream.schema(docsSchema)
        .parquet(s"$d/documents.*")
        .filter($"doc_id" % 10 =!= 0)
        .withColumn("q", qualityScore($"text"))
        .filter($"q" >= 0.715)
        .withColumn("fp", fingerprint($"text"))
        .dropDuplicates("fp")
        .filter(!contaminated(split($"text", " ")))
        .select(langId($"text").as("pred_lang"),
          tokenCount($"text").cast("long").as("n_tok"))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",  // local default; env-overridable
        graft.util.StreamConf.statePartitions(4).toString)
      try {
        val q = stream.writeStream
          .format("memory").queryName("p02_stream_pipeline_sink")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      // len_bucket is text-derived too, so the gate stays duplicate-
      // winner-independent while hashing >1 row per language
      s.table("p02_stream_pipeline_sink")
        .groupBy($"pred_lang", expr("n_tok div 16").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"pred_lang", $"len_bucket")
    },

    // ---- the dataset card: the per-stratum summary a training-data
    // build publishes with the corpus (datasheets-for-datasets shape).
    // Composes the measurement ops the individual queries gate —
    // token stats, exact-dup rate via fingerprint, quality score,
    // language-ID agreement, exact median tokens — into ONE report.
    // Execution: per-row expressions on the scan, one hash aggregate
    // by (lang, source) + Quantiles.quantileCont's single sorted
    // shuffle for the median; the stratum count is small by nature so
    // the final join broadcasts. Linear at any corpus size.
    "p03_dataset_card" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Quantiles
      val docs = load(s, d, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars",
          tokenCount($"text").as("n_tok"),
          fingerprint($"text").as("fp"),
          qualityScore($"text").as("q"),
          (langId($"text") === $"lang").as("lid_ok"))
      val agg = docs.groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"),
          sum($"n_chars").cast("long").as("total_chars"),
          (count(lit(1)) - count_distinct($"fp")).as("n_exact_dups"),
          sum($"q".cast("decimal(18,9)")).cast("double").as("qsum"),
          count(when($"lid_ok", 1)).as("n_lid_ok"))
      // null-safe composite key derived identically on BOTH sides (a
      // split-back of a concat key breaks on null metadata — found by
      // EdgeCaseSweepSpec)
      def stratumKey(lang: org.apache.spark.sql.Column,
          source: org.apache.spark.sql.Column) =
        concat(coalesce(lang, lit("\u0000")), lit("|"),
          coalesce(source, lit("\u0000")))
      val med = Quantiles.quantileCont(
          docs.withColumn("stratum", stratumKey($"lang", $"source")),
          "stratum", Seq(("median_tokens", "n_tok", 0.5)))
      agg.withColumn("stratum", stratumKey($"lang", $"source"))
        .join(broadcast(med), Seq("stratum"))
        .drop("stratum")
        .select($"lang", $"source", $"n_docs", $"n_tokens",
          $"total_chars", $"n_exact_dups",
          round($"qsum" / $"n_docs", 4).as("avg_quality"),
          round($"n_lid_ok".cast("double") / $"n_docs", 6)
            .as("lid_match_rate"),
          round($"median_tokens", 1).as("median_tokens"))
        .orderBy($"lang", $"source")
    },

    // pre-packing gate: per-(lang, source) survivors of stages 1–4 —
    // a multi-row oracle entry that stays non-empty at every SF and
    // pins the filter/dedup/decontam/sample composition even when the
    // packed output is small or empty
    "p01b_pipeline_strata" -> { (s, d) =>
      import s.implicits._
      sampledDocs(s, d)
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"lang", $"source")
    },

    // ---- temperature-flattened language mixture (alpha = 0.5) ----
    // the missing third mixture spec next to d08's rates and d14's
    // budgets: shares derive from the corpus's OWN token masses
    "p04_temperature_mix" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Sampling
      Sampling.temperatureMix(load(s, d, "documents"), "lang",
          size(split($"text", " ")), alpha = 0.5)
        .orderBy($"lang")
    },

    // ---- the model-SERVING loop: batch-trained classifier, streamed
    //      corpus scored per micro-batch ----
    // the deployment shape behind t24's self-scoring gate: the NB
    // model trains ONCE on the curated split (doc_id % 10 = 0, the
    // d09/p02 convention for the small curated side), persists, and
    // every arriving micro-batch of the main corpus scores against
    // the LOADED model inside foreachBatch — stream-static scoring,
    // per-doc deterministic, so the report is batching- and
    // arrival-order-independent. Tokens unseen at training time are
    // REAL here (the main corpus's vocabulary is larger than the
    // seed's) and exercise scoreWith's smoothed zero-count path; the
    // per-language keep report aggregates from the scored sink
    // batch-side (the d18/p02 discipline), deduped on doc_id so a
    // foreachBatch retry (at-least-once) can never double-count.
    "p05_stream_classify" -> { (s, d) =>
      import s.implicits._
      import graft.ops.NbClassifier
      val docs = load(s, d, "documents")
      val tag = math.abs(d.hashCode.toLong)
      // the trained model sidecar is a pure function of the immutable
      // corpus split — train+save once per sf-dir (Staging); the
      // stream-scoring loop below is the gate's claim and runs fresh
      val mdir = graft.util.Staging.once("nbmodel_p05", d,
        graft.util.Staging.fingerprint(s"$d/documents.parquet")) { dir =>
        NbClassifier.save(NbClassifier.train(
          docs.filter($"doc_id" % 10 === 0), "doc_id", "text",
          targetPred = $"lang" === "en"), s"$dir/model")
      }.getPath + "/model"
      val model = NbClassifier.load(s, mdir)

      val outDir = s"target/p05_scored_$tag"
      // append sink: never accumulate runs
      Fs.deleteRecursively(java.nio.file.Paths.get(outDir))
      val ckDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "p05ck").toString
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",  // local default; env-overridable
        graft.util.StreamConf.statePartitions(4).toString)
      try {
        val q = s.readStream.schema(docs.schema).parquet(s"$d/documents.*")
          .filter($"doc_id" % 10 =!= 0)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            NbClassifier.scoreWith(batch, "doc_id", "text", model)
              .join(batch.select($"doc_id".as("id"), $"lang"), Seq("id"))
              .write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", ckDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        // a fresh temp checkpoint is created per invocation (the stream
        // stopped above) — reap it here or bench runs accumulate dead
        // p05ck* dirs
        Fs.deleteRecursively(java.nio.file.Paths.get(ckDir))
      }
      s.read.parquet(outDir)
        .dropDuplicates("id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"keep", 1)).as("n_keep"),
          round(sum($"nb_score".cast("decimal(28,18)")).cast("double"), 6)
            .as("score_sum"))
        .orderBy($"lang")
    },

    // ---- incremental model maintenance from a change feed ----
    // the c18/c19 IVM discipline applied to the classifier: NB
    // sufficient statistics are exact integer counts, so a
    // delta-maintained model (inserts added, deletes subtracted at
    // delta cost — never a corpus rescan) must equal a from-scratch
    // retrain on the post-change corpus BIT-FOR-BIT. The gate runs
    // train(base) → applyDelta(inserts + deletes) and a full retrain
    // in one plan: n_term_diff / n_stat_diff count row-level
    // disagreements (must be 0), and the surviving stats row is
    // oracled against DuckDB's independent recount of the final
    // corpus — structural equivalence AND semantic truth in one gate
    // (the d16/s14 pattern).
    "c23_model_ivm" -> { (s, d) =>
      import s.implicits._
      import graft.ops.NbClassifier
      val docs = load(s, d, "documents")
      val pred = $"lang" === "en"
      val base = docs.filter($"doc_id" % 7 =!= 0)
      val changes = docs.filter($"doc_id" % 7 === 0)
        .withColumn("op", lit("I"))
        .unionByName(docs
          .filter($"doc_id" % 7 =!= 0 && $"doc_id" % 3 === 0)
          .withColumn("op", lit("D"))) // before-image deletes
      // base stats materialized to a LocalRelation FIRST: applyDelta's
      // n_buckets head() and its nd-prior crossJoin both read it job-
      // free instead of re-running the base-model aggregation each
      val m0 = NbClassifier.train(base, "doc_id", "text", pred)
      val m1 = NbClassifier.applyDelta(
        (m0._1, localStats(m0._2)),
        changes, "doc_id", "text", pred, $"op")
      val m2 = NbClassifier.train(
        docs.filter($"doc_id" % 7 === 0 ||
          ($"doc_id" % 7 =!= 0 && $"doc_id" % 3 =!= 0)),
        "doc_id", "text", pred)
      // each model relation feeds two exceptAll legs — pin them (term
      // relations are V-sized → checkpoint; 1-row stats → local)
      val (t1, t2) = (m1._1.localCheckpoint(true), m2._1.localCheckpoint(true))
      val (s1, s2) = (localStats(m1._2), localStats(m2._2))
      val termDiff = t1.exceptAll(t2).unionAll(t2.exceptAll(t1))
        .agg(count(lit(1)).as("n_term_diff"))
      val statDiff = s1.exceptAll(s2).unionAll(s2.exceptAll(s1))
        .agg(count(lit(1)).as("n_stat_diff"))
      s1.select($"n_tgt", $"n_oth", $"v", $"nd_tgt", $"nd_all")
        .crossJoin(termDiff).crossJoin(statDiff)
    },

    // ---- model-serving IVM loop: the c23 + p05 composition (round-11
    //      verdict item 7) ----
    // The classifier's corpus lives in a CdcTable; the model is
    // BOOTSTRAPPED from the v0 snapshot and then maintained purely
    // from the live change feed (CdfFollow → NbClassifier.applyDelta,
    // the c19 pattern applied to the model artifact) WHILE serving:
    // after every folded commit the maintained model scores a fixed
    // probe batch, and the gate compares those scores row-for-row
    // against a from-scratch retrain on the table's state AT THAT
    // VERSION. NB sufficient statistics are exact integer counts, so
    // the comparison is equality, not a bound — n_score_diff must be
    // 0 on every batch. Commits exercise all three delta shapes:
    // update pre/post-image pairs (v1 re-texts), delete before-images
    // + fresh inserts (v2). Output: the final maintained model's
    // stats row (DuckDB recomputes it from the mutated corpus, the
    // c23 oracle pattern) + the loop counters.
    "c24_model_serving_ivm" -> { (s, d) =>
      import s.implicits._
      import graft.ops.NbClassifier
      val docs = load(s, d, "documents").select($"doc_id", $"text", $"lang")
      val pred = $"lang" === "en"
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-c24-ckpt").toString
      // the follower checkpoint is fresh per invocation: the
      // feed-folding loop is the claim
      val t = c24Table(s, d)

      // bootstrap from the v0 snapshot, then follow the tail — the
      // production consumer shape. The pre-seeded delivered-watermark
      // marks v0 as already consumed (CdfFollow's documented resume
      // contract), so the feed delivers exactly v1 and v2.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(ckpt, "delivered-watermark"),
        "0".getBytes)
      val modelRef = new java.util.concurrent.atomic.AtomicReference({
        val m0 = NbClassifier.train(
          t.stateAt(0L).get.filter(!$"_is_deleted"), "doc_id", "text", pred)
        // terms pinned, stats local: the v1 delta and the first scorer
        // read both without re-running the bootstrap aggregation
        (m0._1.localCheckpoint(true), localStats(m0._2))
      })
      val probe = docs.filter($"doc_id" % 11 === 0)
        .localCheckpoint(true)
      val nDiff = new java.util.concurrent.atomic.AtomicLong(0L)
      val nVersions = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = graft.streaming.CdfFollow.run(s, t, ckpt, { (v, cdf) =>
        val changes = cdf.select($"doc_id", $"text", $"lang",
          when($"_change_type".isin("insert", "update_postimage"), "I")
            .otherwise("D").as("op"))
        val m0 = modelRef.get()
        val m1 = NbClassifier.applyDelta(m0, changes, "doc_id", "text",
          pred, $"op")
        // pin each round: the next delta and both scorers read these
        // relations several times (V-sized terms → checkpoint; 1-row
        // stats → LocalRelation, so scoreWith/applyDelta head() reads
        // and the stats broadcast cost no further jobs)
        val m = (m1._1.localCheckpoint(true), localStats(m1._2))
        modelRef.set(m)
        val served = NbClassifier
          .scoreWith(probe, "doc_id", "text", m).localCheckpoint(true)
        val rt = NbClassifier.train(
          t.stateAt(v).get.filter(!$"_is_deleted"), "doc_id", "text", pred)
        // same treatment for the from-scratch reference: its scorer
        // would otherwise head() the LAZY stats (one full aggregation
        // job) and then recompute it inside the scoring plan
        val retrain = (rt._1, localStats(rt._2))
        val reserved = NbClassifier
          .scoreWith(probe, "doc_id", "text", retrain).localCheckpoint(true)
        nDiff.addAndGet(served.exceptAll(reserved)
          .unionAll(reserved.exceptAll(served)).count())
        nVersions.incrementAndGet()
        ()
      })
      try {
        if (!q.awaitTermination(120000)) {
          q.stop()
          throw new IllegalStateException(
            "c24_model_serving_ivm: follower did not drain within 120 s; " +
              "refusing to emit a partial gate")
        }
      } finally {
        // per-invocation temp checkpoint: stop the follower, then reap it
        q.stop()
        Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
      }
      modelRef.get()._2
        .select($"n_tgt", $"n_oth", $"v", $"nd_tgt", $"nd_all")
        .crossJoin(Seq((nVersions.get(), nDiff.get()))
          .toDF("n_versions", "n_score_diff"))
    }
  )

  private val markersSql: String = TextAnalysis.LangMarkers
    .flatMap(_._2).map(w => s"'$w'").mkString(", ")

  /** Shared CTE chain for stages 1–4 — the SQL twin of [[sampledDocs]]. */
  private val sampledCtes: String =
    s"""WITH bench_grams AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    range(1, len(string_split(text,' ')) - 6),
       |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS g
       |  FROM documents
       |  WHERE doc_id % 10 = 0 AND len(string_split(text,' ')) >= 8),
       |quality AS (
       |  SELECT doc_id, lang, source, text FROM documents
       |  WHERE doc_id % 10 <> 0 AND
       |    CAST(len(list_filter(string_split(text,' '),
       |        x -> x IN ($markersSql))) AS DOUBLE)
       |      / len(string_split(text,' ')) * 0.3 +
       |    CASE WHEN CAST(length(text) - (len(string_split(text,' ')) - 1)
       |           AS DOUBLE) / len(string_split(text,' ')) >= 3.0
       |      AND CAST(length(text) - (len(string_split(text,' ')) - 1)
       |           AS DOUBLE) / len(string_split(text,' ')) <= 10.0
       |      THEN 0.7 ELSE 0.2 END >= 0.715),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(text),
       |        '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |    FROM quality) t
       |  WHERE rn = 1),
       |contaminated AS (
       |  SELECT DISTINCT d.doc_id
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |      range(1, len(string_split(text,' ')) - 6),
       |      i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS g
       |    FROM deduped WHERE len(string_split(text,' ')) >= 8) d
       |  JOIN bench_grams USING (g)),
       |sampled AS (
       |  SELECT doc_id, lang, source, len(string_split(text,' ')) AS n_tok
       |  FROM deduped
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND doc_id % 10 <
       |      (CASE WHEN lang = 'en' THEN 8 WHEN lang = 'es' THEN 5
       |       ELSE 2 END))""".stripMargin

  val oracle: Map[String, String] = Map(
    "p03_dataset_card" -> {
      def hits(listSql: String) =
        s"len(list_filter(string_split(text,' '), x -> x IN ($listSql)))"
      val byLang = TextAnalysis.LangMarkers.toMap
        .map { case (l, ws) => l -> ws.map(w => s"'$w'").mkString(", ") }
      val avgLen = "CAST(length(text) - (len(string_split(text,' ')) - 1) " +
        "AS DOUBLE) / len(string_split(text,' '))"
      s"""WITH h AS (
         |  SELECT lang, source, n_chars,
         |    len(string_split(text,' ')) AS n_tok,
         |    ${hits(byLang("en"))} AS h_en, ${hits(byLang("es"))} AS h_es,
         |    ${hits(byLang("fr"))} AS h_fr, ${hits(byLang("de"))} AS h_de,
         |    CAST(${hits(markersSql)} AS DOUBLE)
         |      / len(string_split(text,' ')) * 0.3 +
         |    CASE WHEN $avgLen >= 3.0 AND $avgLen <= 10.0
         |      THEN 0.7 ELSE 0.2 END AS q,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |f AS (
         |  SELECT lang, source, n_chars, n_tok, q, fp,
         |    (CASE WHEN h_en = 0 AND h_es = 0 AND h_fr = 0 AND h_de = 0
         |            THEN 'unknown'
         |          WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de
         |            THEN 'en'
         |          WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
         |          WHEN h_fr >= h_de THEN 'fr'
         |          ELSE 'de' END) = lang AS lid_ok
         |  FROM h)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups,
         |  round(CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE)
         |    / COUNT(*), 4) AS avg_quality,
         |  round(CAST(COUNT(CASE WHEN lid_ok THEN 1 END) AS DOUBLE)
         |    / COUNT(*), 6) AS lid_match_rate,
         |  round(quantile_cont(n_tok, 0.5), 1) AS median_tokens
         |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "p01_train_pipeline" ->
      s"""$sampledCtes,
         |packed AS (
         |  SELECT source, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sampled)
         |SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p01b_pipeline_strata" ->
      s"""$sampledCtes
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sampled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // p02 mirrors stages 1–3 (no sampling/packing) with TEXT-derived
    // output columns; the dedup representative (min doc_id) is
    // irrelevant to the result since same fingerprint ⇒ same text
    "p02_stream_pipeline" ->
      s"""WITH bench_grams AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(1, len(string_split(text,' ')) - 6),
         |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS g
         |  FROM documents
         |  WHERE doc_id % 10 = 0 AND len(string_split(text,' ')) >= 8),
         |quality AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 10 <> 0 AND
         |    CAST(len(list_filter(string_split(text,' '),
         |        x -> x IN ($markersSql))) AS DOUBLE)
         |      / len(string_split(text,' ')) * 0.3 +
         |    CASE WHEN CAST(length(text) - (len(string_split(text,' ')) - 1)
         |           AS DOUBLE) / len(string_split(text,' ')) >= 3.0
         |      AND CAST(length(text) - (len(string_split(text,' ')) - 1)
         |           AS DOUBLE) / len(string_split(text,' ')) <= 10.0
         |      THEN 0.7 ELSE 0.2 END >= 0.715),
         |dedup AS (
         |  SELECT MIN(doc_id) AS doc_id FROM quality
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
         |docs2 AS (SELECT q.doc_id, q.text FROM quality q JOIN dedup USING (doc_id)),
         |contaminated AS (
         |  SELECT DISTINCT d.doc_id
         |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, len(string_split(text,' ')) - 6),
         |      i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS g
         |    FROM docs2 WHERE len(string_split(text,' ')) >= 8) d
         |  JOIN bench_grams USING (g)),
         |clean AS (
         |  SELECT doc_id, text FROM docs2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |h AS (
         |  SELECT doc_id,
         |    ${langHitsSql("en")} AS h_en, ${langHitsSql("es")} AS h_es,
         |    ${langHitsSql("fr")} AS h_fr, ${langHitsSql("de")} AS h_de,
         |    len(string_split(text,' ')) AS n_tok
         |  FROM clean)
         |SELECT CASE
         |    WHEN h_en = 0 AND h_es = 0 AND h_fr = 0 AND h_de = 0 THEN 'unknown'
         |    WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
         |    WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
         |    WHEN h_fr >= h_de THEN 'fr'
         |    ELSE 'de' END AS pred_lang,
         |  CAST(n_tok // 16 AS BIGINT) AS len_bucket,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // token masses are exact BIGINTs; sqrt is IEEE exactly-rounded in
    // both engines; the |strata|-sized normalizer sums
    // DECIMAL(28,18)-cast terms so addition order cannot differ
    "p04_temperature_mix" ->
      """WITH t AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM t),
        |f AS (
        |  SELECT lang, n_docs, n_tokens,
        |    n_tokens::DOUBLE / tot AS p_raw,
        |    sqrt(n_tokens::DOUBLE / tot) AS fl
        |  FROM t, tt),
        |z AS (SELECT SUM(CAST(fl AS DECIMAL(28,18))) AS zz FROM f)
        |SELECT lang, n_docs, n_tokens, round(p_raw, 6) AS p_raw,
        |  round(fl / CAST(zz AS DOUBLE), 6) AS mix_share
        |FROM f, z ORDER BY lang""".stripMargin,

    // the t24 arithmetic with the train/score split: model counts and
    // priors from the curated split only, scored docs LEFT-join the
    // model (unseen term → smoothed zero-count weight)
    "p05_stream_classify" ->
      """WITH tr AS (
        |  SELECT (lang = 'en') AS tgt, string_split(text,' ') AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |ttok AS (SELECT tgt, u AS term FROM tr, unnest(t) x(u)),
        |model AS (
        |  SELECT term, COUNT(CASE WHEN tgt THEN 1 END) AS c_tgt,
        |    COUNT(*) AS c_all
        |  FROM ttok GROUP BY 1),
        |tstats AS (
        |  SELECT CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
        |    CAST(SUM(c_all) - SUM(c_tgt) AS BIGINT) AS n_oth,
        |    COUNT(*) AS v
        |  FROM model),
        |dstats AS (
        |  SELECT COUNT(CASE WHEN lang = 'en' THEN 1 END) AS nd_tgt,
        |    COUNT(*) AS nd_all
        |  FROM documents WHERE doc_id % 10 = 0),
        |sc AS (
        |  SELECT doc_id, lang, string_split(text,' ') AS t
        |  FROM documents WHERE doc_id % 10 <> 0),
        |dtf AS (
        |  SELECT doc_id, u AS term, COUNT(*) AS tf
        |  FROM sc, unnest(t) x(u) GROUP BY 1, 2),
        |contrib AS (
        |  SELECT d.doc_id, CAST(d.tf * (
        |      round(ln((COALESCE(m.c_tgt, 0) + 1.0) / (s.n_tgt + s.v)), 6)
        |    - round(ln((COALESCE(m.c_all, 0) - COALESCE(m.c_tgt, 0) + 1.0)
        |               / (s.n_oth + s.v)), 6)) AS DECIMAL(28,18)) AS c
        |  FROM dtf d LEFT JOIN model m USING (term) CROSS JOIN tstats s),
        |scored AS (SELECT doc_id, SUM(c) AS sc FROM contrib GROUP BY 1),
        |pr AS (
        |  SELECT CAST(round(ln(CAST(nd_tgt AS DOUBLE) / nd_all), 6)
        |            - round(ln(CAST(nd_all - nd_tgt AS DOUBLE) / nd_all), 6)
        |         AS DECIMAL(28,18)) AS p
        |  FROM dstats),
        |persc AS (
        |  SELECT s.doc_id, s.lang,
        |    round(CAST(COALESCE(c.sc, CAST(0 AS DECIMAL(28,18))) + pr.p
        |      AS DOUBLE), 6) AS nb_score
        |  FROM sc s LEFT JOIN scored c USING (doc_id) CROSS JOIN pr)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN nb_score > 0 THEN 1 END) AS n_keep,
        |  round(CAST(SUM(CAST(nb_score AS DECIMAL(28,18))) AS DOUBLE), 6)
        |    AS score_sum
        |FROM persc GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle recounts the POST-CHANGE corpus independently — if
    // the delta-maintained stats row disagrees with the true final
    // corpus, the hash fails even with n_*_diff structurally zero
    "c23_model_ivm" ->
      """WITH fin AS (
        |  SELECT lang, text FROM documents
        |  WHERE doc_id % 7 = 0 OR (doc_id % 7 <> 0 AND doc_id % 3 <> 0)),
        |tok AS (
        |  SELECT (lang = 'en') AS tgt, u AS term
        |  FROM (SELECT lang, string_split(text,' ') AS t FROM fin) x,
        |    unnest(t) y(u)),
        |m AS (
        |  SELECT term, COUNT(CASE WHEN tgt THEN 1 END) AS c_tgt,
        |    COUNT(*) AS c_all
        |  FROM tok GROUP BY 1)
        |SELECT CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
        |  CAST(SUM(c_all) - SUM(c_tgt) AS BIGINT) AS n_oth,
        |  COUNT(*) AS v,
        |  (SELECT COUNT(CASE WHEN lang = 'en' THEN 1 END) FROM fin)
        |    AS nd_tgt,
        |  (SELECT COUNT(*) FROM fin) AS nd_all,
        |  CAST(0 AS BIGINT) AS n_term_diff,
        |  CAST(0 AS BIGINT) AS n_stat_diff
        |FROM m""".stripMargin,

    // c24: final corpus = base (doc_id%7<>0) minus the v2 deletes
    // (%3=0), with the v1 re-texts (%5=0 → ' ivm ivm' appended)
    // applied to survivors, plus the held-out %7=0 inserts; loop
    // counters are the gate's claims (2 versions folded, 0 score
    // diffs vs per-version retrains)
    "c24_model_serving_ivm" ->
      """WITH fin AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' ivm ivm'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT lang, text FROM documents WHERE doc_id % 7 = 0),
        |tok AS (
        |  SELECT (lang = 'en') AS tgt, u AS term
        |  FROM (SELECT lang, string_split(text,' ') AS t FROM fin) x,
        |    unnest(t) y(u)),
        |m AS (
        |  SELECT term, COUNT(CASE WHEN tgt THEN 1 END) AS c_tgt,
        |    COUNT(*) AS c_all
        |  FROM tok GROUP BY 1)
        |SELECT CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
        |  CAST(SUM(c_all) - SUM(c_tgt) AS BIGINT) AS n_oth,
        |  COUNT(*) AS v,
        |  (SELECT COUNT(CASE WHEN lang = 'en' THEN 1 END) FROM fin)
        |    AS nd_tgt,
        |  (SELECT COUNT(*) FROM fin) AS nd_all,
        |  CAST(2 AS BIGINT) AS n_versions,
        |  CAST(0 AS BIGINT) AS n_score_diff
        |FROM m""".stripMargin
  )

  /** DuckDB hit-count for one language's marker list (t03's shape). */
  private def langHitsSql(lang: String): String = {
    val words = TextAnalysis.LangMarkers.toMap.apply(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text,' '), x -> x IN ($words)))"
  }
}
