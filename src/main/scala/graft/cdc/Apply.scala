package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** CDC apply: collapse change events to the latest per primary key and
  * merge them into the current table state with soft deletes —
  * the downstream contract of the reference pipeline
  * (docs/OracleDatastream-cdcSource.md:114-119: `_is_deleted`,
  * `_sequence_num`, last-writer-wins by sort keys; e2e validation
  * ValidationHelper.java:38-56).
  *
  * Scale: `collapse` is one window over the PK hash partitioning;
  * `merge` is one full-outer shuffle join on the PK. Both AQE/skew-safe
  * and free of driver-side loops. With at-least-once, out-of-order
  * delivery (the reference's 3-day rescan), replays are idempotent:
  * an event only wins if its sort_key is strictly greater than the
  * state's recorded `_sort_key`.
  */
object Apply {

  val MetaCols: Seq[String] = Seq("_is_deleted", "_sequence_num", "_sort_key")

  private def pkCol(c: String): Column = col(s"row.$c")

  /** Reduce a batch to at most one event per PK: the latest by
    * sort_key. A full sort-key tie (same transaction/statement) breaks
    * DELETE-wins — the conservative choice; real Datastream events
    * differ at least in ssn, so this is a corner-case guard. Remaining
    * full ties resolve by row hash, a total order, so the pick is
    * deterministic whatever the partitioning.
    *
    * Executes as one `max_by` aggregate, NOT a window: windows cannot
    * partially aggregate, so a hot PK (one row updated millions of
    * times in a batch — the realistic CDC skew) would sort its entire
    * event pile in a single task. The aggregate map-side-combines:
    * every input partition reduces the hot key to ONE row before the
    * exchange, the shuffle carries at most (#map partitions) rows per
    * key, and the final reduce is tiny — hot-key cost stays bounded by
    * scan parallelism, not by the key's event count (measured in the
    * MergeSkew panel, SURVEY §9). */
  def collapse(events: DataFrame, pkCols: Seq[String]): DataFrame =
    collapseBy(events, pkCols.map(pkCol))

  /** [[collapse]] with explicit key columns — [[mergeMulti]]
    * collapses a MULTI-table batch in one aggregate by prepending the
    * table discriminator to the PK keys. */
  private[graft] def collapseBy(events: DataFrame,
      keys: Seq[Column]): DataFrame = {
    val all = events.columns.toSeq
    val ord = struct(
      col("sort_key").as("__sk"),
      when(col("op") === "DELETE", 1).otherwise(0).as("__del"),
      xxhash64(all.map(col): _*).as("__tb"))
    events.groupBy(keys: _*)
      .agg(max_by(struct(all.map(col): _*), ord).as("__e"))
      .select(col("__e.*"))
  }

  /** Merge collapsed events into `state`.
    *
    * State schema = payload columns ++ (_is_deleted, _sequence_num,
    * _sort_key). An empty/absent state is represented by `None`.
    * Returns the new state. Payload schema drift is handled by
    * aligning both sides to the union of their payload fields
    * (missing → null), i.e. mergeSchema semantics.
    */
  def merge(state: Option[DataFrame], events: DataFrame,
      pkCols: Seq[String], sequenceNum: Long): DataFrame = {
    val collapsed = collapse(events, pkCols)
    val incoming = collapsed.select(
      col("row.*") +:
        (col("op") === "DELETE").as("_is_deleted") +:
        lit(sequenceNum).as("_sequence_num") +:
        col("sort_key").as("_sort_key") +: Nil: _*)

    state match {
      case None => incoming
      case Some(cur) =>
        // schema drift: align payload columns on both sides, recursing
        // into STRUCT columns — the reference's Avro conversion is
        // recursive, so drift lands at any depth; a nested add must
        // null-fill on the side missing it (mirroring SchemaDrift's
        // widen-only policy) or the merge's CASE WHEN would see two
        // different struct types and fail analysis
        val curPayload = cur.columns.filterNot(MetaCols.contains)
        val newPayload = incoming.columns.filterNot(MetaCols.contains)
        val allPayload = (curPayload ++ newPayload.filterNot(curPayload.contains)).toSeq
        def widenType(a: org.apache.spark.sql.types.DataType,
            b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
          (a, b) match {
            case (as: StructType, bs: StructType) =>
              val aNames = as.fieldNames.toSet
              StructType(as.fields.map { af =>
                bs.fields.find(_.name == af.name) match {
                  case Some(bf) =>
                    af.copy(dataType = widenType(af.dataType, bf.dataType))
                  case None => af // dropped nested field stays, null-filled
                }
              } ++ bs.fields.filterNot(bf => aNames(bf.name))
                .map(_.copy(nullable = true)))
            // non-struct disagreement: keep current (CdcTable rejects
            // incompatible type drift before the merge ever runs)
            case _ => a
          }
        val curTypes = cur.schema.map(f => f.name -> f.dataType).toMap
        val incTypes = incoming.schema.map(f => f.name -> f.dataType).toMap
        val tpe: Map[String, org.apache.spark.sql.types.DataType] =
          allPayload.map { c =>
            c -> ((curTypes.get(c), incTypes.get(c)) match {
              case (Some(a), Some(b)) => widenType(a, b)
              case (Some(a), None) => a
              case (None, b) => b.get
            })
          }.toMap
        def alignExpr(e: Column,
            from: org.apache.spark.sql.types.DataType,
            to: org.apache.spark.sql.types.DataType): Column =
          (from, to) match {
            case (f, t) if f == t => e
            case (f: StructType, t: StructType) =>
              val fByName = f.fields.map(x => x.name -> x).toMap
              // preserve null STRUCTS: struct() of null fields would
              // fabricate a non-null row
              when(e.isNull, lit(null).cast(t)).otherwise(
                struct(t.fields.toSeq.map { tf =>
                  (fByName.get(tf.name) match {
                    case Some(ff) => alignExpr(e.getField(tf.name),
                      ff.dataType, tf.dataType)
                    case None => lit(null).cast(tf.dataType)
                  }).as(tf.name)
                }: _*))
            case _ => e
          }
        def align(df: DataFrame, have: Seq[String]): DataFrame = {
          val haveTypes = df.schema.map(f => f.name -> f.dataType).toMap
          df.select(allPayload.map(c =>
            if (have.contains(c))
              alignExpr(col(c), haveTypes(c), tpe(c)).as(c)
            else lit(null).cast(tpe(c)).as(c)) ++ MetaCols.map(col): _*)
        }
        lastWriterWins(align(cur, curPayload.toSeq),
          align(incoming, newPayload.toSeq), pkCols, allPayload ++ MetaCols)
    }
  }

  /** The merge join both [[merge]] and [[mergeMulti]] share: full
    * outer on `keys` (null-safe), and per output column the event
    * side wins when the state has no match or the event's `_sort_key`
    * is strictly greater — so replays and late events never regress
    * a row. */
  private def lastWriterWins(state: DataFrame, events: DataFrame,
      keys: Seq[String], cols: Seq[String]): DataFrame = {
    val joinCond = keys.map(c => col(s"s.$c") <=> col(s"e.$c")).reduce(_ && _)
    val eWins = col("s._sort_key").isNull ||
      (col("e._sort_key").isNotNull && col("e._sort_key") > col("s._sort_key"))
    state.as("s").join(events.as("e"), joinCond, "full_outer").select(
      cols.map(c => when(eWins, col(s"e.$c")).otherwise(col(s"s.$c")).as(c)): _*)
  }

  /** Multi-table [[merge]] for [[ConsolidatedStore]]: `state` and the
    * collapsed events both carry a top-level table discriminator
    * (`tblCol`), and collapse + the full-outer merge key on
    * (table, pk…) — one aggregate and ONE shuffle join for a batch
    * spanning hundreds of tables, instead of one Spark job per table.
    * Precondition (the store reads `state` under its widened fleet
    * schema): `state` holds every column of the incoming events. */
  private[graft] def mergeMulti(state: Option[DataFrame],
      events: DataFrame, tblCol: String, pkCols: Seq[String],
      sequenceNum: Long): DataFrame = {
    val collapsed = collapseBy(events, col(tblCol) +: pkCols.map(pkCol))
    val incoming = collapsed.select(
      col(tblCol) +: col("row.*") +:
        (col("op") === "DELETE").as("_is_deleted") +:
        lit(sequenceNum).as("_sequence_num") +:
        col("sort_key").as("_sort_key") +: Nil: _*)
    state match {
      case None => incoming
      case Some(cur) =>
        // uniform payload on both sides: align by NAME (column order
        // in bucket files is historical), no widening needed
        val cols = incoming.columns.toSeq
        lastWriterWins(cur.select(cols.map(col): _*), incoming,
          tblCol +: pkCols, cols)
    }
  }

  /** Live view of a state DataFrame (hide soft-deleted rows and
    * bookkeeping columns). */
  def liveView(state: DataFrame): DataFrame =
    state.filter(!coalesce(col("_is_deleted"), lit(false)))
      .drop(MetaCols: _*)

  /** Post-image change feed of one commit: the rows of `post` that the
    * commit inserted, updated or soft-deleted. `post` and `pre` are
    * the state rows of the buckets the commit RE-POINTED, at the commit
    * and at the version before it; `pre` is None when none of them
    * existed before (a first commit or a new bucket), and every post
    * row is then a change. A row changed when its PK has no pre match
    * or its `_sort_key` or `_is_deleted` differs, so a pure compaction
    * rewrite yields an empty feed. Lazy: no Spark action runs here. */
  def feed(post: DataFrame, pre: Option[DataFrame],
      pk: Seq[String]): DataFrame = pre match {
    case None => post
    case Some(p) =>
      changed(post, p, pk).select(post.columns.map(c => col(s"n.$c")): _*)
  }

  /** CDF-style change feed of one commit, over the same inputs as
    * [[feed]]: pre- AND post-images tagged with `_change_type` — the
    * contract downstream incremental view maintenance consumes (an
    * aggregate is maintained by ADDING insert/update_postimage rows and
    * RETRACTING update_preimage/delete rows; the table is never
    * rescanned). Mirrors the Delta Lake change-data-feed row set:
    *
    *  - `insert`            — post image of a new live row (including
    *                          a resurrected tombstone)
    *  - `update_preimage`   — the replaced live row's old values
    *  - `update_postimage`  — its new values
    *  - `delete`            — the old values of a row this commit
    *                          tombstoned (the tombstone itself is not
    *                          emitted; both sides of a dead→dead
    *                          rewrite are invisible to consumers)
    *
    * Widen-only drift can leave `pre` without columns the commit
    * added: pre images carry them as nulls, like a read of the old
    * version would. Lazy: no Spark action runs here. */
  def cdf(post: DataFrame, pre: Option[DataFrame],
      pk: Seq[String]): DataFrame = pre match {
    case None =>
      post.filter(!col("_is_deleted")).withColumn("_change_type", lit("insert"))
    case Some(p) =>
      val cols = post.columns
      val joined = changed(post, p, pk)
      val preCols = p.columns.toSet
      def oCol(c: String) =
        if (preCols(c)) col(s"o.$c")
        else lit(null).cast(post.schema(c).dataType).as(c)
      val oldLive = col("o._sort_key").isNotNull && !col("o._is_deleted")
      val postImg = joined.filter(!col("n._is_deleted"))
        .select(cols.map(c => col(s"n.$c")) :+
          when(oldLive, lit("update_postimage"))
            .otherwise(lit("insert")).as("_change_type"): _*)
      val preImg = joined.filter(oldLive)
        .select(cols.map(oCol) :+
          when(col("n._is_deleted"), lit("delete"))
            .otherwise(lit("update_preimage")).as("_change_type"): _*)
      postImg.unionByName(preImg)
  }

  /** `post` (aliased `n`) left-outer joined to `pre` (aliased `o`) on
    * the PK, null-safe, keeping the rows whose PK is new or whose
    * `_sort_key` or `_is_deleted` changed. */
  private def changed(post: DataFrame, pre: DataFrame,
      pk: Seq[String]): DataFrame =
    post.as("n").join(pre.as("o"),
      pk.map(c => col(s"n.$c") <=> col(s"o.$c")).reduce(_ && _), "left_outer")
      .filter(col("o._sort_key").isNull ||
        !(col("n._sort_key") <=> col("o._sort_key")) ||
        !(col("n._is_deleted") <=> col("o._is_deleted")))

  /** Type-2 slowly-changing-dimension history from a change relation —
    * the OTHER standard CDC consumer shape next to [[merge]]'s
    * current-state table: instead of last-writer-wins, every change
    * opens a VERSION row stamped `valid_from`, closed (`valid_to`) by
    * the next change on the same PK; a DELETE closes the open version
    * without opening one, so a PK whose last change is a DELETE has no
    * `is_current` row.
    *
    * Input shape is [[Decode]]'s: `(row struct, op, sort_key struct)`.
    * Ordering is entirely sort_key-defined (the same discipline as
    * [[collapse]]: at a full sort-key tie DELETE orders last and wins
    * the close), so delivery order is irrelevant and at-least-once
    * replays are idempotent — exact duplicate changes are dropped on
    * (pk, sort_key, op) before versioning.
    *
    * Scale: ONE shuffle on the PK; both window passes (the closing
    * `lead` and the version `row_number`) share the same partitioning
    * AND ordering, so Catalyst plans them over a single sort. Linear
    * in the change volume, memory bounded by the sort buffers.
    */
  def scd2(changes: DataFrame, pkCols: Seq[String],
      attrCols: Seq[String]): DataFrame = {
    val flat = changes.select(
      pkCols.map(c => pkCol(c).as(c)) ++
        attrCols.map(c => col(s"row.$c").as(c)) ++
        Seq(col("op"), col("sort_key")): _*)
      .dropDuplicates(pkCols ++ Seq("sort_key", "op"))
    val ord = Seq(col("sort_key").asc,
      when(col("op") === "DELETE", 1).otherwise(0).asc)
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(ord: _*)
    flat
      .withColumn("valid_to", lead(col("sort_key.ts_ms"), 1).over(w))
      .filter(col("op") =!= "DELETE")
      .withColumn("version", row_number().over(w))
      .select(pkCols.map(col) ++ Seq(col("version")) ++
        attrCols.map(col) ++
        Seq(col("sort_key.ts_ms").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current")): _*)
  }
}
