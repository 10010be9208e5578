package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger

import graft.util.Tables
import graft.util.Tables.load
import graft.util.Cols.dec4
import graft.ops.AsOfJoin

/** Event-stream operator surface over the `events` table: tumbling
  * window aggregation, gap-based sessionization, backward as-of join,
  * and a Structured Streaming variant whose result must equal the
  * batch oracle (stream/batch parity).
  *
  * `events.ts` has shipped as both TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) across corpus regenerations; every consumer here
  * derives the epoch-µs `ts_us` via the type-adaptive
  * [[graft.util.Tables.tsMicros]] — the same floor the DuckDB oracle
  * applies via epoch_ns(ts)//1000.
  */
object Events {

  /** events + `ts_us` (long, µs) + `t` (TimestampType, UTC session). */
  private def ev(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.loadEvents(s, d)
      .withColumn("t", timestamp_micros($"ts_us"))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` = `n` — for
    * streaming queries this fixes the state-store instance count (the
    * standard stateful-query sizing knob): every instance pays
    * checkpoint commits per micro-batch, so a small keyed stream wants
    * a few stores, not the relational default. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // n is the LOCAL default; SPARK_GRAFT_STATE_PARTITIONS overrides
    // for cluster runs (state partitioning is fixed at a stateful
    // query's first run, so it must be deployment-sized, not baked)
    s.conf.set("spark.sql.shuffle.partitions",
      graft.util.StreamConf.statePartitions(n).toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val SessionGapUs = 30L * 60 * 1000 * 1000 // 30 min

  /** `File.setLastModified` returns false on failure instead of
    * throwing; a silent failure here leaves every staged file at its
    * write-time mtime, so FileStreamSource's mtime ordering (which the
    * watermark/late-data discipline depends on) becomes an arbitrary
    * tie-break and older-slice rows could drop as late — fail staging
    * loudly instead. */
  private def stampMtime(f: java.io.File, t: Long): Unit =
    require(f.setLastModified(t),
      s"setLastModified failed for $f — staged mtime ordering would be " +
        "arbitrary and the stream could drop older slices as late data")

  /** q66/q67's shared staged corpus: one filesystem copy of events
    * plus two far-future sentinel files carrying BOTH event types (the
    * q65 discipline) so the min-watermark advances past every real
    * row's join window and the outer sides emit. Sentinels are written
    * in the corpus's OWN ts encoding (nanos-long corpora shipped
    * before; the type-adaptive loader reads both). */
  private def stageQ66Corpus(s: SparkSession, d: String,
      schema: org.apache.spark.sql.types.StructType,
      stageDir: java.io.File): Unit = {
    import s.implicits._
    val evRaw = load(s, d, "events")
    val mtime0 = System.currentTimeMillis() - 3600L * 1000
    // the corpus may be a single parquet FILE (the sf dirs) or a
    // DIRECTORY of part files (ScaleCheck replicas, any real lake). A
    // bare Files.copy of a directory staged an EMPTY corpus and the
    // stream joined near-nothing — caught by the q67 100× panel
    // reading FASTER than its base. And copying the parts verbatim
    // would be just as wrong: hash-distributed parts each span the
    // whole time range, so under maxFilesPerTrigger=1 the first part
    // advances the watermark to (global max − 1 h) and every later
    // part's older rows silently drop as late. Directory corpora are
    // therefore re-sliced by EVENT TIME (the q65 staging discipline):
    // time-ordered batches never produce late data, and cross-slice
    // joins stay inside the 1 h watermark delay (> the 30 min window).
    val src0 = new java.io.File(s"$d/events.parquet")
    val tmp = new java.io.File(stageDir, "_tmp") // _-prefixed: unlisted
    if (src0.isDirectory) {
      val slices = 8
      val tsUs = Tables.tsMicros(schema)
      val mm = evRaw.agg(min(tsUs), max(tsUs)).head()
      require(!mm.isNullAt(0), s"events corpus under $src0 is empty")
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val span = (mx - mn) / slices + 1
      evRaw.withColumn("_slice", floor((tsUs - mn) / span).cast("int"))
        .repartition(slices, col("_slice"))
        .write.mode("overwrite").partitionBy("_slice").parquet(tmp.getPath)
      for {
        i <- 0 until slices
        sd = new java.io.File(tmp, s"_slice=$i") if sd.isDirectory
      } {
        val parts = sd.listFiles.filter(_.getName.endsWith(".parquet"))
        // repartition(slices, $"_slice") puts each slice in exactly one
        // shuffle partition → one part file; if that invariant ever
        // breaks (plan change, AQE coalescing), moving only the head
        // would silently DROP rows — fail loudly instead
        require(parts.length == 1,
          s"staging invariant broken: ${sd.getName} has ${parts.length} " +
            "part files (expected exactly 1 per slice)")
        val dst = new java.io.File(stageDir, f"ev$i%04d.parquet")
        java.nio.file.Files.move(parts.head.toPath, dst.toPath)
        // strictly increasing, all BEFORE the sentinels' mtimes: the
        // file source orders by mtime, and the watermark/late-data
        // discipline depends on older slices listing first
        stampMtime(dst, mtime0 - (slices - i) * 1000L)
      }
    } else {
      val ev0 = new java.io.File(stageDir, "ev0000.parquet")
      java.nio.file.Files.copy(src0.toPath, ev0.toPath)
      stampMtime(ev0, mtime0)
    }
    val tsIsLong = schema("ts").dataType
      .isInstanceOf[org.apache.spark.sql.types.LongType]
    def plusDays(c: org.apache.spark.sql.Column, days: Int) =
      if (tsIsLong) c + lit(days.toLong * 86_400_000_000_000L)
      else c + expr(s"INTERVAL $days DAYS")
    val maxRow = evRaw.orderBy($"ts".desc).limit(1)
    for (j <- 1 to 2) {
      val sdir = new java.io.File(tmp, s"sent$j")
      maxRow.withColumn("ts", plusDays($"ts", j))
        .withColumn("user_id", lit(-1L))
        .withColumn("event_id", lit(-1L))
        .withColumn("event_type",
          explode(array(lit("purchase"), lit("click"))))
        .coalesce(1).write.mode("overwrite").parquet(sdir.getPath)
      val part = sdir.listFiles.filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(stageDir, f"sent0$j.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      stampMtime(dst, mtime0 + j * 2000L)
    }
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- tumbling-window (hourly) aggregation ----
    "q17_hourly_counts" -> { (s, d) =>
      import s.implicits._
      ev(s, d)
        // to_date().cast(string) renders the same yyyy-MM-dd as
        // date_format but skips the per-row pattern formatter — this
        // query's work is pure per-row CPU with a bounded output
        // (hours x types), so the rendering path IS the scale cost
        // (100x panel: date_format 21.3s, date cast 2.6s)
        .groupBy(to_date($"t").cast("string").as("day"),
          hour($"t").cast("long").as("h"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).cast("double").as("total_value"))
        .orderBy($"day", $"h", $"event_type")
    },

    // ---- gap-based sessionization (30-min inactivity gap) ----
    "q18_sessions" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      ev(s, d)
        .withColumn("prev", lag($"ts_us", 1).over(w))
        .withColumn("is_new",
          when($"prev".isNull || $"ts_us" - $"prev" > SessionGapUs, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum($"is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts_us").as("start_us"),
          max($"ts_us").as("end_us"),
          sum(dec4($"value")).cast("double").as("total_value"))
        .orderBy($"user_id", $"session_id")
    },

    // ---- backward as-of join: last click strictly before a purchase ----
    "q19_asof_purchase_click" -> { (s, d) =>
      import s.implicits._
      val e = ev(s, d).select($"event_id", $"user_id", $"event_type", $"ts_us")
      val purchases = e.filter($"event_type" === "purchase")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts_us")
      AsOfJoin.backward(purchases, clicks, Seq("user_id"),
          leftOn = "ts_us", rightOn = "ts_us", strict = true)
        .select($"event_id", $"user_id", $"ts_us", $"asof_ts_us")
        .orderBy($"event_id")
    },

    // ---- nearest as-of join: closest click in EITHER direction ----
    // completes the as-of family (q19 is backward/strict): attribution
    // against the temporally closest interaction, ties to the earlier
    // click. Both candidate frames ride one shuffle + sort (shared
    // window partitioning/ordering); gap_us is signed.
    "q64_asof_nearest" -> { (s, d) =>
      import s.implicits._
      val e = ev(s, d).select($"event_id", $"user_id", $"event_type", $"ts_us")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts_us")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts_us")
      AsOfJoin.nearest(purchases, clicks, Seq("user_id"),
          leftOn = "ts_us", rightOn = "ts_us")
        .select($"event_id", $"user_id", $"ts_us", $"nearest_ts_us",
          ($"nearest_ts_us" - $"ts_us").as("gap_us"))
        .orderBy($"event_id")
    },

    // ---- binned range join: clicks within ±60 s of each purchase ----
    "q43_range_join" -> { (s, d) =>
      import s.implicits._
      val e = Tables.loadEvents(s, d)
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id", $"ts_us")
      val clicks = e.filter($"event_type" === "click")
        .select($"ts_us".as("c_ts"))
      val near = graft.ops.RangeJoin.interval(purchases, clicks,
          "ts_us", "c_ts", lower = -60000000L, upper = 60000000L)
        .groupBy($"event_id").agg(count(lit(1)).as("n_near"))
      purchases.select($"event_id")
        .join(near, Seq("event_id"), "left_outer")
        .select($"event_id", coalesce($"n_near", lit(0L)).as("n_near"))
        .orderBy($"event_id")
    },

    // ---- sliding-window (1 h window, 15 min slide) aggregation:
    //      every event lands in exactly 4 overlapping windows; the
    //      built-in `window()` generator keeps this one hash
    //      aggregate after a 4-way row expansion (no self-join) ----
    "q46_sliding_window" -> { (s, d) =>
      import s.implicits._
      ev(s, d)
        .groupBy(window($"t", "1 hour", "15 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).cast("double").as("total_value"))
        .select(unix_micros($"w.start").as("ws_us"), $"event_type",
          $"n", $"total_value")
        .orderBy($"ws_us", $"event_type")
    },

    // ---- cohort retention: users bucketed by first-seen day, distinct
    //      actives per (cohort, day offset) — two hash aggregates and
    //      one equi-join on user_id, the standard product-analytics
    //      rollup at any scale ----
    "q51_cohort_retention" -> { (s, d) =>
      import s.implicits._
      val e = ev(s, d).select($"user_id", to_date($"t").as("day"))
      val first = e.groupBy($"user_id").agg(min($"day").as("cohort"))
      e.join(first, "user_id")
        .groupBy($"cohort".cast("string").as("cohort"), // same yyyy-MM-dd, no formatter
          datediff($"day", $"cohort").cast("long").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort", $"day_offset")
    },

    // ---- stream-stream join: clicks joined to purchases per user
    //      within a 30-minute lookback, both sides watermarked (the
    //      time-range condition is what lets Spark expire join state);
    //      pair counts aggregate batch-side from the append sink ----
    "q45_stream_join" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      // deterministic 10% user sample: stream-stream join state is
      // per-row state-store traffic, and the capability is identical
      // at a tenth of the volume (the oracle samples the same users)
      def src = s.readStream.schema(schema).parquet(s"$d/events.*")
        .filter($"user_id" % 10 === 0)
        .withColumn("t", timestamp_micros(Tables.tsMicros(schema)))
      val purchases = src.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"t".as("p_t"),
          $"event_id".as("event_id"))
        .withWatermark("p_t", "1 hour")
      val clicks = src.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"t".as("c_t"))
        .withWatermark("c_t", "1 hour")
      val joined = purchases.join(clicks,
        $"p_user" === $"c_user" &&
          $"c_t" >= $"p_t" - expr("INTERVAL 30 MINUTES") &&
          $"c_t" <= $"p_t")
      withStatePartitions(s, 4) {
        val q = joined.select($"event_id").writeStream
          .format("memory").queryName("q45_stream_join_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q45_stream_join_sink")
        .groupBy($"event_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy($"event_id")
    },

    // ---- LEFT OUTER stream-stream join: the outer complement of
    //      q45's inner join — a purchase with NO prior click inside
    //      the 30-minute lookback emits explicitly (n_clicks = 0) once
    //      the watermark passes its join window, instead of silently
    //      vanishing (attribution pipelines need the "organic
    //      purchase" rows as much as the attributed ones). Outer null
    //      emission happens one batch behind the watermark advance and
    //      evicts on the MIN of the two sides' watermarks, so the
    //      corpus stages as one file plus two far-future sentinel
    //      files (the q65 discipline) carrying BOTH event types; the
    //      sentinel user (-1) passes the sample filter via its own
    //      clause and is dropped from the sink aggregate. ----
    "q66_stream_left_join" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      // staged corpus copy + sentinels memoized per sf-dir (Staging;
      // same discipline as q65 — the outer-join streaming run below
      // is the claim and stays fresh)
      val stage = graft.util.Staging.once("q66", d,
          graft.util.Staging.fingerprint(s"$d/events.parquet")) { stageDir =>
        stageQ66Corpus(s, d, schema, stageDir)
      }

      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.getPath)
        .filter($"user_id" % 10 === 0 || $"user_id" < 0) // q45's sample
        .withColumn("t", timestamp_micros(Tables.tsMicros(schema)))
      val purchases = src.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"t".as("p_t"),
          $"event_id".as("event_id"))
        .withWatermark("p_t", "1 hour")
      val clicks = src.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"t".as("c_t"))
        .withWatermark("c_t", "1 hour")
      val joined = purchases.join(clicks,
        $"p_user" === $"c_user" &&
          $"c_t" >= $"p_t" - expr("INTERVAL 30 MINUTES") &&
          $"c_t" <= $"p_t",
        "left_outer")
      withStatePartitions(s, 4) {
        val q = joined.select($"event_id", $"c_t").writeStream
          .format("memory").queryName("q66_stream_left_join_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q66_stream_left_join_sink")
        .filter($"event_id" >= 0) // drop the sentinel's own rows
        .groupBy($"event_id")
        .agg(count($"c_t").as("n_clicks")) // non-null only: 0 = organic
        .orderBy($"event_id")
    },

    // ---- FULL OUTER stream-stream join: completes the family (q45
    //      inner, q66 left) — BOTH orphan kinds emit explicitly once
    //      the min-watermark passes their join window: purchases with
    //      no prior click (q66's organic rows) AND clicks that never
    //      led to a purchase within the next 30 minutes (the
    //      abandoned-intent rows a funnel pipeline wants). Same
    //      staged corpus + far-future sentinels as q66 — the fixture
    //      is a pure function of the source, so the SAME Staging key
    //      is correct and the two queries share one staged copy. ----
    "q67_stream_full_join" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stage = graft.util.Staging.once("q66", d,
          graft.util.Staging.fingerprint(s"$d/events.parquet")) { stageDir =>
        stageQ66Corpus(s, d, schema, stageDir)
      }
      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.getPath)
        .filter($"user_id" % 10 === 0 || $"user_id" < 0) // q45's sample
        .withColumn("t", timestamp_micros(Tables.tsMicros(schema)))
      val purchases = src.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"t".as("p_t"),
          $"event_id".as("event_id"))
        .withWatermark("p_t", "1 hour")
      val clicks = src.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"t".as("c_t"))
        .withWatermark("c_t", "1 hour")
      val joined = purchases.join(clicks,
        $"p_user" === $"c_user" &&
          $"c_t" >= $"p_t" - expr("INTERVAL 30 MINUTES") &&
          $"c_t" <= $"p_t",
        "full_outer")
      withStatePartitions(s, 4) {
        val q = joined.select($"event_id", $"c_user", $"c_t").writeStream
          .format("memory").queryName("q67_stream_full_join_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      val sink = s.table("q67_stream_full_join_sink")
      // purchase side: n_clicks per purchase (0 = organic, like q66);
      // click side: orphan clicks per user (event_id null = the
      // purchase side never existed for this row). Sentinel rows
      // (ids/users < 0) drop on both legs.
      val pSide = sink.filter($"event_id".isNotNull && $"event_id" >= 0)
        .groupBy($"event_id").agg(count($"c_t").as("n"))
        .select(lit("purchase").as("side"), $"event_id".as("key"), $"n")
      val cSide = sink.filter($"event_id".isNull && $"c_user" >= 0)
        .groupBy($"c_user").agg(count(lit(1)).as("n"))
        .select(lit("click_orphan").as("side"), $"c_user".as("key"), $"n")
      pSide.unionByName(cSide).orderBy($"side", $"key")
    },

    // ---- Structured Streaming parity: q17 through a streaming plan ----
    "q20_stream_hourly" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      // file-stream source needs a directory or glob, not a bare file path
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .withColumn("ts_us", Tables.tsMicros(schema))
        .withColumn("t", timestamp_micros($"ts_us"))
        .groupBy(to_date($"t").cast("string").as("day"), // match q17's path
          hour($"t").cast("long").as("h"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).cast("double").as("total_value"))
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q20_stream_hourly_sink")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q20_stream_hourly_sink")
        .orderBy($"day", $"h", $"event_type")
    },

    // ---- Structured Streaming dedup parity: the emitted KEY SET is
    //      deterministic (which physical row won is not, so only keys
    //      are projected); watermark-bounded state is exercised by
    //      StreamingOpsSpec via Dedup.streamingExactDedup ----
    // ---- streaming sliding windows: the OVERLAPPING-window stateful
    //      shape (each event updates 4 window states), parity-gated
    //      against q46's batch oracle like q20 vs q17 ----
    "q55_stream_sliding" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .withColumn("t", timestamp_micros(Tables.tsMicros(schema)))
        .groupBy(window($"t", "1 hour", "15 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).cast("double").as("total_value"))
        .select(unix_micros($"w.start").as("ws_us"), $"event_type",
          $"n", $"total_value")
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q55_stream_sliding_sink")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q55_stream_sliding_sink")
        .orderBy($"ws_us", $"event_type")
    },

    // ---- STREAMING session windows: the gap-session complement of
    //      q20 (tumbling) and q55 (sliding), closing the window-family
    //      trio in streaming form. Spark's session_window merges
    //      events whose [t, t+gap) windows overlap — i.e. a gap of
    //      EXACTLY 30 min starts a new session (strict <), unlike
    //      q18's batch rule (> gap); the oracle mirrors the streaming
    //      semantics with `>=`. Complete mode so the final state holds
    //      every session (append would hold back each user's last
    //      session behind the watermark); session end = last event +
    //      gap, the session_window contract. ----
    "q61_stream_session" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .withColumn("t", timestamp_micros(Tables.tsMicros(schema)))
        .groupBy(session_window($"t", "30 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(dec4($"value")).cast("double").as("total_value"))
        .select($"user_id", unix_micros($"w.start").as("start_us"),
          unix_micros($"w.end").as("end_us"), $"n_events", $"total_value")
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q61_stream_session_sink")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q61_stream_session_sink")
        .orderBy($"user_id", $"start_us")
    },

    // ---- session windows, PRODUCTION shape: watermark + APPEND mode
    //      over a multi-batch, event-time-ordered delivery. q61's
    //      complete-mode gate proves session semantics on a drained
    //      fixture but re-emits every session per batch and keeps all
    //      of them in state (its one-batch commit tracks OUTPUT size
    //      at 100×); this entry runs the deployment discipline: each
    //      closed session emits exactly ONCE as the watermark passes
    //      its end, and state holds only the sessions the watermark
    //      hasn't closed. The corpus is staged as 8 event-time-range
    //      slices — one file per micro-batch, mtime-ordered so the
    //      file source delivers them in time order — plus a far-future
    //      sentinel row that closes the final sessions; the sentinel
    //      user is filtered AFTER the watermark node (it advances the
    //      clock, never reaches the aggregate), so the drained output
    //      is every real session exactly once and the oracle is
    //      exactly q61's. Exactly-once is load-bearing here: a double
    //      emission fails the driver's hash compare.
    //      StreamingOpsSpec carries the state-boundedness assertions
    //      (open sessions only after each batch). ----
    "q65_stream_session_append" -> { (s, d) =>
      import s.implicits._
      val slices = 8
      // staged input memoized per sf-dir (graft.util.Staging: the
      // slices + sentinels are a pure function of the immutable
      // corpus); the watermark+append streaming run below — the
      // gate's claim — is fresh on every call
      val stage = graft.util.Staging.once("q65", d,
          graft.util.Staging.fingerprint(s"$d/events.parquet")) { stageDir =>
        val evd = ev(s, d).select($"user_id", $"t", $"value", $"ts_us")
        val mm = evd.agg(min($"ts_us"), max($"ts_us")).head()
        require(!mm.isNullAt(0),
          "q65_stream_session_append: events table is empty — nothing to stage")
        val (mn, mx) = (mm.getLong(0), mm.getLong(1))
        val span = (mx - mn) / slices + 1
        val tmp = new java.io.File(stageDir, "_tmp") // _-prefixed: unlisted
        val mtime0 = System.currentTimeMillis() - 3600L * 1000
        def place(i: Int, part: java.io.File): Unit = {
          val dst = new java.io.File(stageDir, f"slice$i%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          // explicit, strictly increasing mtimes: the file source orders
          // by modification time, and slice order IS event-time order —
          // an out-of-order slice would be dropped as late data
          stampMtime(dst, mtime0 + i * 2000L)
        }
        // ONE corpus pass stages every slice: repartition on the slice
        // key puts each slice's rows in one task, so partitionBy writes
        // exactly one part file per slice dir (8 filtered scans before —
        // measured ~2× the staging cost at sf0.1)
        evd.select($"user_id", $"t", $"value",
            floor(($"ts_us" - mn) / span).cast("int").as("slice"))
          .repartition(slices, $"slice")
          .write.mode("overwrite").partitionBy("slice").parquet(tmp.getPath)
        for {
          i <- 0 until slices
          sd = new java.io.File(tmp, s"slice=$i") if sd.isDirectory
        } {
          val parts = sd.listFiles.filter(_.getName.endsWith(".parquet"))
          // one shuffle partition per slice ⇒ exactly one part file;
          // fail loudly if the invariant ever breaks (rows would drop)
          require(parts.length == 1,
            s"staging invariant broken: ${sd.getName} has " +
              s"${parts.length} part files (expected exactly 1)")
          place(i, parts.head)
        }
        // TWO sentinels: the watermark advances at the END of the batch
        // that read sentinel 1, and closed sessions emit in the NEXT
        // batch — sentinel 2 is that batch (without it the final ~gap of
        // real sessions stays in state forever; measured: 7 sessions
        // short at sf0.01)
        for (j <- 0 to 1) {
          val sdir = new java.io.File(tmp, s"sent$j")
          Seq((-1L,
              new java.sql.Timestamp((mx + (j + 1) * 86_400_000_000L) / 1000),
              0.0))
            .toDF("user_id", "t", "value")
            .coalesce(1).write.mode("overwrite").parquet(sdir.getPath)
          place(slices + j,
            sdir.listFiles.filter(_.getName.endsWith(".parquet")).head)
        }
        def deleteRec(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(); ()
        }
        deleteRec(tmp)
      }

      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val raw = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.getPath)
      // the watermark+append session pipeline is the ENGINE API
      // (Sessionize.sessionWindows — round-9 stretch item: the q65
      // discipline as a reusable surface, not a query-local pattern).
      // 1-minute delay: slices are range-disjoint and ascending, so
      // nothing real ever arrives behind the watermark; the margin
      // only guards the slice-boundary equality case. The sentinel
      // rows flow THROUGH the stream (a pre-aggregate filter would
      // be predicate-pushed below the EventTimeWatermark node and
      // the sentinel would never advance the clock — measured: the
      // final 31 min of sessions stuck open); their own sessions are
      // dropped from the sink table below.
      val stream = graft.streaming.Sessionize.sessionWindows(raw,
        gap = java.time.Duration.ofMinutes(30),
        watermarkDelay = java.time.Duration.ofMinutes(1))
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q65_stream_session_append_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q65_stream_session_append_sink")
        .filter($"user_id" >= 0) // drop the sentinel's own sessions
        .orderBy($"user_id", $"start_us")
    },

    // ---- gap filling: forward-fill a sparse metric per user ----
    // the time-series staple: only purchases carry the metric;
    // every event sees the most recent purchase value via
    // last_value(IGNORE NULLS) over a running frame — one window,
    // one shuffle on user_id, values pass through bit-exact ----
    "q58_forward_fill" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      ev(s, d)
        .select($"user_id", $"event_id", unix_micros($"t").as("ts_us"),
          when($"event_type" === "purchase", $"value").as("v"))
        .withColumn("filled", last($"v", ignoreNulls = true).over(w))
        .select($"user_id", $"event_id", $"ts_us", $"filled")
        .orderBy($"user_id", $"ts_us", $"event_id")
    },

    // ---- transformWithState parity: per-user running totals on the
    //      Spark 4.x arbitrary-state API (RocksDB-backed ValueState).
    //      Append sink rows carry a per-key batch seq; the final state
    //      is the max-seq row per user, so the oracle holds under any
    //      file-source batching (see graft.streaming.StateV2) ----
    "q56_stream_state_v2" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .filter($"user_id" % 10 === 0) // same deterministic sample as q45
        // null value would break the non-nullable typed encoder
        // (EdgeCaseSweepSpec); a valueless event still counts, adding 0
        .select($"user_id".as[Long], coalesce($"value", lit(0.0)).as[Double])
      val out = graft.streaming.StateV2.runningTotals(stream)
      val prevProv = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try withStatePartitions(s, 4) {
        val q = out.toDF().writeStream
          .format("memory").queryName("q56_stream_state_v2_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally prevProv match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"seq".desc)
      s.table("q56_stream_state_v2_sink")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"n_events", $"total_value")
        .orderBy($"user_id")
    },

    // ---- stream-STATIC enrichment join: the most common production
    //      streaming pattern (q45 covers stream-stream). The dimension
    //      is a batch relation joined per micro-batch — broadcast on
    //      the small side, NO join state (unlike stream-stream, where
    //      both sides buffer; spec-asserted on the state operators).
    //      Note a parquet-backed static side snapshots its file index
    //      at plan time — a LIVE dimension should come from a
    //      change-tracked relation (CdcTable.live) instead. Aggregate
    //      in complete mode over the enriched stream.
    "q63_stream_enrich" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val dim = load(s, d, "customer").select($"c_custkey", $"c_mktsegment")
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .join(broadcast(dim), $"user_id" === $"c_custkey")
        .groupBy($"c_mktsegment", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).cast("double").as("total_value"))
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q63_stream_enrich_sink")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q63_stream_enrich_sink")
        .orderBy($"c_mktsegment", $"event_type")
    },

    // ---- watermark-BOUNDED streaming dedup: the production form of
    //      q41. Plain dropDuplicates keeps every key forever — state
    //      grows with distinct keys, exactly key-linear at 100× (q41's
    //      state rows, 100× replica), which at a 100 TB fingerprint-keyed
    //      ingest is unbounded memory. dropDuplicatesWithinWatermark
    //      bounds state to the watermark horizon: keys older than the
    //      delay evict, trading global uniqueness for "no duplicate
    //      admitted within the horizon" — the contract real ingest
    //      dedup runs under (StreamingOpsSpec shows the eviction:
    //      state SHRINKS below total distinct keys across batches
    //      while q41-style state grows monotonically). The GATE drains
    //      the corpus in ONE AvailableNow batch, where every duplicate
    //      is within the live horizon, so the output equals global
    //      DISTINCT and the same oracle shape as q41 applies. ----
    "q62_stream_dedup_wm" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stream = graft.ops.Dedup.streamingExactDedup(
          s.readStream.schema(schema).parquet(s"$d/events.*")
            .withColumn("t", timestamp_micros(Tables.tsMicros(schema))),
          Seq("user_id", "event_type"), "t", "1 hour")
        .select($"user_id", $"event_type")
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q62_stream_dedup_wm_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q62_stream_dedup_wm_sink")
        .orderBy($"user_id", $"event_type")
    },

    "q41_stream_dedup" -> { (s, d) =>
      import s.implicits._
      val schema = load(s, d, "events").schema
      val stream = s.readStream.schema(schema).parquet(s"$d/events.*")
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      withStatePartitions(s, 4) {
        val q = stream.writeStream
          .format("memory").queryName("q41_stream_dedup_sink")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q41_stream_dedup_sink")
        .orderBy($"user_id", $"event_type")
    }
  )

  private val hourlySql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, hour(ts) AS h, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private val slidingSql =
    """WITH e AS (SELECT epoch_ns(ts)//1000 AS t_us, event_type, value
      |           FROM events),
      |w AS (SELECT (t_us // 900000000 - j) * 900000000 AS ws_us,
      |        event_type, value
      |      FROM e, (SELECT unnest([0,1,2,3]) AS j))
      |SELECT ws_us, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // streaming session_window semantics: windows merge on OVERLAP, so a
  // gap of exactly 30 min starts a new session (`>=`, vs q18's `>`)
  // and session end = last event + gap
  private val streamSessionSql =
    """WITH e AS (
      |  SELECT event_id, user_id, value, epoch_ns(ts)//1000 AS ts_us
      |  FROM events),
      |p AS (
      |  SELECT *, lag(ts_us) OVER
      |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
      |n AS (
      |  SELECT *, CASE WHEN prev IS NULL
      |      OR ts_us - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM p),
      |sids AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM n)
      |SELECT user_id, MIN(ts_us) AS start_us,
      |  MAX(ts_us) + 1800000000 AS end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sids GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  val oracle: Map[String, String] = Map(
    "q17_hourly_counts" -> hourlySql,
    "q20_stream_hourly" -> hourlySql,

    "q41_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // single-batch drain ⇒ every duplicate is within the watermark
    // horizon ⇒ the bounded-state dedup equals global DISTINCT
    "q62_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q63_stream_enrich" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q51_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |  date_diff('day', cohort, day) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // a µs timestamp t lands in the 4 slide-aligned windows starting
    // at (t div 15min - j) * 15min for j in 0..3 — the same epoch
    // alignment Spark's window() uses for a UTC session
    "q46_sliding_window" -> slidingSql,
    "q55_stream_sliding" -> slidingSql,

    "q61_stream_session" -> streamSessionSql,
    // identical session semantics, append-mode multi-batch execution:
    // the oracle doubles as the exactly-once gate (a session emitted
    // twice fails the hash compare)
    "q65_stream_session_append" -> streamSessionSql,

    "q58_forward_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN value END AS v
        |  FROM events)
        |SELECT user_id, event_id, ts_us,
        |  last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS filled
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q56_stream_state_v2" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // LEFT OUTER: COUNT(c.c_ts) gives 0 for unmatched purchases — the
    // explicit "organic purchase" rows the inner join drops
    "q66_stream_left_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_ns(ts)//1000 AS ts_us FROM events
        |           WHERE user_id % 10 = 0),
        |p AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us AS c_ts FROM e
        |      WHERE event_type = 'click')
        |SELECT p.event_id, COUNT(c.c_ts) AS n_clicks
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts BETWEEN p.ts_us - 1800000000 AND p.ts_us
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // FULL OUTER: q66's purchase-side counts PLUS the clicks no
    // purchase followed within 30 minutes (anti-join per user) — the
    // two orphan kinds the inner join drops
    "q67_stream_full_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_ns(ts)//1000 AS ts_us FROM events
        |           WHERE user_id % 10 = 0),
        |p AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us AS c_ts FROM e
        |      WHERE event_type = 'click'),
        |pc AS (SELECT 'purchase' AS side, p.event_id AS key,
        |         COUNT(c.c_ts) AS n
        |       FROM p LEFT JOIN c ON p.user_id = c.user_id
        |         AND c.c_ts BETWEEN p.ts_us - 1800000000 AND p.ts_us
        |       GROUP BY 2),
        |co AS (SELECT 'click_orphan' AS side, c.user_id AS key,
        |         COUNT(*) AS n
        |       FROM c WHERE NOT EXISTS (SELECT 1 FROM p
        |         WHERE p.user_id = c.user_id
        |           AND c.c_ts BETWEEN p.ts_us - 1800000000 AND p.ts_us)
        |       GROUP BY 2)
        |SELECT side, key, n
        |FROM (SELECT * FROM pc UNION ALL SELECT * FROM co)
        |ORDER BY side, key""".stripMargin,

    "q45_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_ns(ts)//1000 AS ts_us FROM events
        |           WHERE user_id % 10 = 0),
        |p AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us AS c_ts FROM e
        |      WHERE event_type = 'click')
        |SELECT p.event_id, COUNT(*) AS n_clicks
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts BETWEEN p.ts_us - 1800000000 AND p.ts_us
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_range_join" ->
      """WITH e AS (SELECT event_id, event_type,
        |             epoch_ns(ts)//1000 AS ts_us FROM events),
        |p AS (SELECT event_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT ts_us AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p.event_id, COUNT(c.c_ts) AS n_near
        |FROM p LEFT JOIN c
        |  ON c.c_ts BETWEEN p.ts_us - 60000000 AND p.ts_us + 60000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_sessions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, epoch_ns(ts)//1000 AS ts_us
        |  FROM events),
        |p AS (
        |  SELECT *, lag(ts_us) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        |n AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
        |    THEN 1 ELSE 0 END AS is_new FROM p),
        |sids AS (
        |  SELECT *, CAST(SUM(is_new) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM n)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sids GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q19_asof_purchase_click" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us
        |  FROM events WHERE event_type IN ('purchase','click'))
        |SELECT event_id, user_id, ts_us, asof_ts_us FROM (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    MAX(CASE WHEN event_type = 'click' THEN ts_us END) OVER
        |      (PARTITION BY user_id ORDER BY ts_us
        |       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts_us
        |  FROM e) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q64_asof_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us
        |  FROM events WHERE event_type IN ('purchase','click')),
        |t AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    MAX(CASE WHEN event_type = 'click' THEN ts_us END) OVER
        |      (PARTITION BY user_id ORDER BY ts_us
        |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
        |    MIN(CASE WHEN event_type = 'click' THEN ts_us END) OVER
        |      (PARTITION BY user_id ORDER BY ts_us
        |       RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |  FROM e)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN b IS NULL THEN f WHEN f IS NULL THEN b
        |       WHEN ts_us - b <= f - ts_us THEN b ELSE f END AS nearest_ts_us,
        |  CASE WHEN b IS NULL THEN f WHEN f IS NULL THEN b
        |       WHEN ts_us - b <= f - ts_us THEN b ELSE f END - ts_us AS gap_us
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin
  )
}
