package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Apply, CdcTable, Decode}

/** SURVEY §7.2 minimum end-to-end slice: replay the reference's
  * fixture sequence into a merged table and assert the final state
  * implied by DatastreamEventConsumerTest + the merge contract of
  * docs/OracleDatastream-cdcSource.md:114-119. */
class CdcApplySpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshTable(): CdcTable = {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "cdc-replay")
    new CdcTable(spark, dir.toString, Seq("EMPLOYEE_ID"))
  }

  private def replay(table: CdcTable, files: Seq[String]): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      table.applyBatch(Decode.fromAvro(spark, s"$fixtures/$f"), i.toLong)
    }

  test("fixture replay: 211 live at 12131.00, 210 soft-deleted") {
    val table = freshTable()
    replay(table, Seq("dump.avro", "insert.avro", "update.avro",
      "update-pk.avro", "delete.avro"))
    val st = table.state.get.collect()
      .map(r => r.getAs[Long]("EMPLOYEE_ID") -> r).toMap

    val e210 = st(210L)
    assert(e210.getAs[Boolean]("_is_deleted"))
    val e211 = st(211L)
    assert(!e211.getAs[Boolean]("_is_deleted"))
    assert(e211.getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("12131.00")) == 0)
    assert(e211.getAs[String]("FIRST_NAME") == "Sean")

    val live = table.live.get
    val ids = live.select("EMPLOYEE_ID").collect().map(_.getLong(0)).toSet
    assert(ids.contains(211L) && !ids.contains(210L))
    assert(live.count() == 108 + 1) // dump rows + resurrected-as-211
    assert(!live.columns.contains("_is_deleted"))
  }

  test("replaying an old batch is a no-op (idempotent, ordered by sort key)") {
    val table = freshTable()
    replay(table, Seq("dump.avro", "insert.avro", "update.avro",
      "update-pk.avro", "delete.avro"))
    val before = table.state.get.orderBy("EMPLOYEE_ID").collect().toSeq
    // re-apply earlier files out of order — sort-key guard must hold
    replay(table, Seq("insert.avro", "update.avro"))
    val after = table.state.get.orderBy("EMPLOYEE_ID").collect().toSeq
    assert(before.map(_.toString) == after.map(_.toString))
  }

  test("collapse keeps only the latest event per PK within a batch") {
    val all = Decode.fromAvro(spark, s"$fixtures/{insert,update}.avro")
    assert(all.count() == 2)
    val collapsed = Apply.collapse(all, Seq("EMPLOYEE_ID"))
    val rows = collapsed.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Row]("row")
      .getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("8888.00")) == 0)
  }

  test("single-PK batch rewrites only its bucket; others carried forward") {
    val dirPath = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "cdc-bucket")
    val table = new CdcTable(spark, dirPath.toString, Seq("EMPLOYEE_ID"),
      numBuckets = 8)
    table.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val v0Dirs = java.nio.file.Files.list(dirPath).iterator()
    val before = new String(java.nio.file.Files.readAllBytes(
      dirPath.resolve("manifest-0.json")))
    // one-row batch touches exactly one bucket
    table.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    val after = new String(java.nio.file.Files.readAllBytes(
      dirPath.resolve("manifest-1.json")))
    val changed = "\"(\\d+)\": \"([^\"]+)\"".r.findAllMatchIn(after)
      .map(m => m.group(1) -> m.group(2)).toMap
    val orig = "\"(\\d+)\": \"([^\"]+)\"".r.findAllMatchIn(before)
      .map(m => m.group(1) -> m.group(2)).toMap
    val rewritten = changed.filter { case (b, d) => orig.get(b) != Some(d) }
    assert(rewritten.size == 1, s"expected 1 rewritten bucket: $rewritten")
    // untouched buckets point at the SAME v0 dirs
    assert((changed -- rewritten.keySet) == (orig -- rewritten.keySet))
    // and the merged view is intact
    assert(table.state.get.count() == 109)
  }

  test("scd2: versions are contiguous and non-overlapping, DELETE " +
      "retires without opening, delivery order is irrelevant, and the " +
      "current rows equal the merge state's live view") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // per-PK stories: pk 1 = update, update, delete (no current row);
    // pk 2 = single update (one open version); pk 3 = update, delete,
    // update (re-created after retirement); replay duplicate included
    val raw = Seq(
      (1L, 10.0, "UPDATE", 100L, 1L), (1L, 11.0, "UPDATE", 200L, 2L),
      (1L, 11.0, "DELETE", 300L, 3L),
      (2L, 20.0, "UPDATE", 150L, 4L),
      (3L, 30.0, "UPDATE", 100L, 5L), (3L, 30.0, "DELETE", 250L, 6L),
      (3L, 31.0, "UPDATE", 400L, 7L),
      (3L, 31.0, "UPDATE", 400L, 7L) // at-least-once duplicate
    )
    def changes(rows: Seq[(Long, Double, String, Long, Long)]) =
      rows.toDF("id", "v", "opc", "ts", "scn")
        .select(struct($"id", $"v").as("row"), $"opc".as("op"),
          struct($"ts".as("ts_ms"), $"scn".as("scn"),
            lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))

    val hist = Apply.scd2(changes(raw), Seq("id"), Seq("v"))
      .orderBy($"id", $"version").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getBoolean(5)))
    assert(hist.toSeq == Seq(
      (1L, 1, 10.0, 100L, Some(200L), false),
      (1L, 2, 11.0, 200L, Some(300L), false), // closed by the DELETE
      (2L, 1, 20.0, 150L, None, true),
      (3L, 1, 30.0, 100L, Some(250L), false), // closed by the DELETE
      (3L, 2, 31.0, 400L, None, true)))       // re-created afterwards
    // structural invariants: per PK, versions count 1..n and
    // valid_from of version k+1 equals some later-or-equal close
    hist.groupBy(_._1).foreach { case (_, vs) =>
      assert(vs.map(_._2).toSeq == (1 to vs.length))
      vs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a._5.exists(_ <= b._4),
          s"overlap between $a and $b")
        case _ =>
      }
    }

    // delivery order must not matter: reversed and interleaved inputs
    // produce the identical history
    val shuffled = Apply.scd2(changes(raw.reverse), Seq("id"), Seq("v"))
      .orderBy($"id", $"version").collect().map(_.toSeq).toSeq
    assert(shuffled == hist.map(t => Seq[Any](t._1, t._2, t._3, t._4,
      t._5.map(_.asInstanceOf[AnyRef]).orNull, t._6)).toSeq)

    // consistency with the current-state discipline: is_current rows
    // == merge-then-liveView on the same changes
    val current = hist.filter(_._6).map(t => (t._1, t._3)).toSet
    val live = Apply.liveView(
        Apply.merge(None, changes(raw), Seq("id"), 0L))
      .select($"id", $"v").as[(Long, Double)].collect().toSet
    assert(current == live)
  }

  test("DDL log: CREATE_TABLE on first batch, ALTER_TABLE on drift") {
    import org.apache.spark.sql.functions._
    val t = freshTable()
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 0L)
    val afterCreate = t.ddlEvents
    assert(afterCreate.size == 1 && afterCreate.head.contains("CREATE_TABLE"))
    assert(afterCreate.head.contains("EMPLOYEE_ID"))
    // same schema again → no new DDL
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/update.avro"), 1L)
    assert(t.ddlEvents.size == 1)
    // drifted payload → ALTER_TABLE with the added column
    val drifted = Decode.fromAvro(spark, s"$fixtures/delete.avro")
      .withColumn("row", struct(col("row.*"), lit("x").as("NEW_COL")))
    t.applyBatch(drifted, 2L)
    val afterAlter = t.ddlEvents
    assert(afterAlter.size == 2 && afterAlter.last.contains("ALTER_TABLE"))
    assert(afterAlter.last.contains("NEW_COL"))
  }

  test("schema drift: new payload column widens state with nulls") {
    import org.apache.spark.sql.functions._
    val base = Decode.fromAvro(spark, s"$fixtures/insert.avro")
    val t = freshTable()
    t.applyBatch(base, 0L)
    // simulate a drifted file: extra column in the payload struct
    val drifted = Decode.fromAvro(spark, s"$fixtures/update.avro")
      .withColumn("row", struct(col("row.*"), lit("x").as("NEW_COL")))
    t.applyBatch(drifted, 1L)
    val st = t.state.get
    assert(st.columns.contains("NEW_COL"))
    val r = st.collect().head
    assert(r.getAs[String]("NEW_COL") == "x")
  }
}
