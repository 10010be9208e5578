package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Decode, TableAllowlist}
import graft.sources.DatastreamAvro
import graft.streaming.CdcRouter

/** Replication scoping (reference util/Utils.java:297-342) and the
  * router's DDL emission order (CREATE_DATABASE →
  * CREATE_TABLE → ALTER_TABLE, DatastreamEventReader.java:399-405,
  * :558-570, :669-672). */
class AllowlistRouterSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("wildcard semantics: *.*, schema.*, schema.table, bare table") {
    assert(TableAllowlist(Nil).allowsAll)
    assert(TableAllowlist(Seq("*.*")).allowsAll)
    val al = TableAllowlist(Seq("HR.*", "SALES.ORDERS", "EVENTS"))
    assert(al.matches("hr", "anything"))
    assert(al.matches("SALES", "orders"))
    assert(!al.matches("SALES", "LINES"))
    assert(al.matches("any_schema", "events")) // bare table: any schema
    assert(!al.matches("OTHER", "PRODUCTS"))
    assert(TableAllowlist(Seq("HR.")).validate().nonEmpty)
  }

  test("row-level filter drops excluded tables before payload projection") {
    val envelope = DatastreamAvro.read(spark, s"$fixtures/insert.avro")
    val kept = Decode.changeEvents(envelope,
      Decode.Options(allowlist = TableAllowlist(Seq("HR.EMPLOYEES"))))
    val dropped = Decode.changeEvents(envelope,
      Decode.Options(allowlist = TableAllowlist(Seq("HR.SOMETHING_ELSE"))))
    assert(kept.count() == 1)
    assert(dropped.count() == 0)
  }

  test("concrete allowlist prunes excluded tables' files before decode") {
    val dir = Files.createTempDirectory(Paths.get("target"), "allow-prune")
    Files.copy(Paths.get(s"$fixtures/insert.avro"),
      dir.resolve("EMPLOYEES_0_1.avro"))
    // an EXCLUDED table's file with a deliberately corrupt body:
    // if the source ever tried to avro-decode it, the read would throw
    Files.write(dir.resolve("SECRETS_0_1.avro"),
      "this is not an avro container".getBytes)
    val al = TableAllowlist(Seq("HR.EMPLOYEES"))
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/insert.avro")
    val df = DatastreamAvro.read(spark, s"$dir/*", Some(schema),
      pathFilter = al.pathFilter(col("path")))
    assert(df.count() == 1) // corrupt excluded file listed but never decoded
    // wildcard-table patterns cannot prune by filename
    assert(TableAllowlist(Seq("HR.*")).pathFilter(col("path")).isEmpty)
  }

  test("router emits CREATE_DATABASE, then CREATE_TABLE, then ALTER_TABLE") {
    val root = Files.createTempDirectory(Paths.get("target"), "router-ddl")
    val router = new CdcRouter(spark, root.toString,
      _ => Seq("EMPLOYEE_ID"), numBuckets = 2, databaseName = "xe")
    val events = Decode.fromAvro(spark, s"$fixtures/dump.avro")
    router.applyBatch(events, 0L)

    val dbLog = router.databaseDdlEvents
    assert(dbLog.size == 1 && dbLog.head.contains("CREATE_DATABASE"), dbLog)
    assert(dbLog.head.contains("\"xe\""))

    val tableName = events.select("table_name").head.getString(0)
    val tableLog0 = router.store.ddlEvents
    assert(tableLog0.size == 1 && tableLog0.head.contains("CREATE_TABLE") &&
      tableLog0.head.contains(s""""table": "$tableName""""), tableLog0)

    // drift: second batch with an extra payload column → ALTER_TABLE,
    // while the database-level event is NOT re-emitted
    val drifted = events.withColumn("row",
      org.apache.spark.sql.functions.struct(
        col("row.*"), org.apache.spark.sql.functions.lit(1L).as("NEW_COL")))
    router.applyBatch(drifted, 1L)
    assert(router.databaseDdlEvents.size == 1)
    val tableLog = router.store.ddlEvents
    assert(tableLog.size == 2 && tableLog(1).contains("ALTER_TABLE"), tableLog)
    assert(tableLog(1).contains("NEW_COL"))
  }

  /** Rewrite a fixture avro container with `source_metadata.table`
    * replaced — synthesizes a second table's change files (the
    * fixtures are all HR.EMPLOYEES). */
  private def retable(src: String, dst: java.nio.file.Path,
      table: String): Unit = {
    import org.apache.avro.file.{DataFileStream, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val in = new java.io.FileInputStream(src)
    val r = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](r.getSchema))
    w.create(r.getSchema, dst.toFile)
    try {
      while (r.hasNext) {
        val rec = r.next()
        rec.get("source_metadata").asInstanceOf[GenericRecord]
          .put("table", table)
        w.append(rec)
      }
    } finally { w.close(); r.close(); in.close() }
  }

  test("widen: mid-stream table addition backfills the new table's " +
      "already-committed history and converges to the from-scratch " +
      "full-allowlist state") {
    import org.apache.spark.sql.streaming.Trigger
    val trig = Trigger.ProcessingTime(100L)
    val src = Files.createTempDirectory(Paths.get("target"), "widen-src")
    // phase-1 files: EMPLOYEES dump + a DEPARTMENTS history file the
    // restricted stream will COMMIT (file log) but never decode
    Files.copy(Paths.get(s"$fixtures/dump.avro"),
      src.resolve("EMPLOYEES_0_dump.avro"))
    retable(s"$fixtures/insert.avro",
      src.resolve("DEPARTMENTS_0_hist.avro"), "DEPARTMENTS")
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    def tmp(tag: String) =
      Files.createTempDirectory(Paths.get("target"), tag).toString

    val r1 = new CdcRouter(spark, tmp("widen-root"),
      _ => Seq("EMPLOYEE_ID"), numBuckets = 2,
      allowlist = TableAllowlist(Seq("HR.EMPLOYEES")),
      databaseName = "xe", filenameKeyed = true)
    val ckpt = tmp("widen-ckpt")
    val q1 = r1.start(s"$src/*.avro", schema, ckpt, trigger = trig)
    q1.processAllAvailable()
    assert(r1.knownTables == Seq("EMPLOYEES"),
      s"restricted stream leaked: ${r1.knownTables}")

    // widen: DEPARTMENTS joins mid-stream; its historical file is
    // already in the checkpoint's committed file log under the OLD
    // allowlist, so only widen's backfill batch can recover it
    val (r2, q2) = r1.widen(Seq("HR.DEPARTMENTS"), q1, s"$src/*.avro",
      schema, ckpt, trigger = trig)
    // phase-2 files: both tables receive new changes post-widen
    Files.copy(Paths.get(s"$fixtures/update.avro"),
      src.resolve("EMPLOYEES_1_upd.avro"))
    retable(s"$fixtures/update.avro",
      src.resolve("DEPARTMENTS_1_upd.avro"), "DEPARTMENTS")
    q2.processAllAvailable()
    q2.stop(); q2.awaitTermination()
    assert(r2.knownTables == Seq("DEPARTMENTS", "EMPLOYEES"))

    // from-scratch reference: full allowlist over the final file set
    val rb = new CdcRouter(spark, tmp("widen-ref"),
      _ => Seq("EMPLOYEE_ID"), numBuckets = 2,
      allowlist = TableAllowlist(Seq("HR.EMPLOYEES", "HR.DEPARTMENTS")),
      databaseName = "xe", filenameKeyed = true)
    val qb = rb.start(s"$src/*.avro", schema, tmp("widen-refckpt"),
      trigger = trig)
    qb.processAllAvailable()
    qb.stop(); qb.awaitTermination()

    def state(r: CdcRouter, t: String): Seq[String] =
      r.stateOf(t).get
        .select(col("EMPLOYEE_ID"), col("FIRST_NAME"), col("SALARY"),
          col("_is_deleted"))
        .collect().map(_.toSeq.toString).sorted.toSeq
    for (t <- Seq("DEPARTMENTS", "EMPLOYEES")) {
      val got = state(r2, t)
      assert(got.nonEmpty && got == state(rb, t),
        s"$t diverged from the from-scratch run")
    }

    // widen on an allow-all router must refuse: appending patterns to
    // an EMPTY pattern list would silently NARROW replication to only
    // the added tables (empty means "*.*")
    val rAll = new CdcRouter(spark, tmp("widen-all"),
      _ => Seq("EMPLOYEE_ID"), numBuckets = 2, databaseName = "xe")
    val qAll = rAll.start(s"$src/*.avro", schema, tmp("widen-allckpt"),
      trigger = trig)
    qAll.processAllAvailable()
    val e = intercept[IllegalArgumentException] {
      rAll.widen(Seq("HR.NEW"), qAll, s"$src/*.avro", schema, "unused")
    }
    assert(e.getMessage.contains("allow-all"), e.getMessage)
    qAll.stop(); qAll.awaitTermination()
  }
}
