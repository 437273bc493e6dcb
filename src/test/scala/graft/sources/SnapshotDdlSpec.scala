package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog

/** SQL DDL through the catalog: CREATE TABLE with PARTITIONED BY
  * transforms (metadata-only empty snapshot, spec declared), CTAS
  * through the write builder, and DROP TABLE — with the declared spec
  * actually routing SQL INSERTs and pruning SQL reads.
  */
class SnapshotDdlSpec extends SparkSpec {

  private lazy val wh: String = {
    val w = graft.TempDirs.create("ddl_wh").toString
    spark.conf.set("spark.sql.catalog.ddlcat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.ddlcat.root", w)
    w
  }

  private def multiFile[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  test("CREATE TABLE declares schema and days() spec, INSERT routes by it") {
    wh
    spark.sql("CREATE TABLE ddlcat.ev (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val root = s"$wh/ev"
    assert(SnapshotLog.currentId(spark, root) == 1L)
    assert(SnapshotLog.operationOf(spark, root, 1L) == "create")
    assert(SnapshotLog.partitionSpecOf(spark, root) ==
      Seq(SnapshotLog.PartField("days", "ts")))
    // an empty created table reads as zero rows through both doors
    assert(spark.sql("SELECT * FROM ddlcat.ev").count() == 0L)
    assert(SnapshotLog.read(spark, root).count() == 0L)
    // SQL INSERT routes through the declared spec: distinct day bands
    // land in distinct files, and a raw ts-range SQL read prunes
    multiFile {
      spark.sql("INSERT INTO ddlcat.ev SELECT id AS k, " +
        "timestamp_micros(id * 86400000000) AS ts FROM range(0, 200)")
    }
    val df = spark.sql("SELECT k FROM ddlcat.ev " +
      "WHERE ts >= TIMESTAMP '1970-02-20 00:00:00' " +
      "AND ts < TIMESTAMP '1970-02-22 00:00:00'")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.totalFiles > 1, "staging must produce several files")
    assert(scan.keptFiles.size < scan.totalFiles,
      s"day-band pruning must skip files (${scan.keptFiles.size}/${scan.totalFiles})")
    assert(rowSet(df) == Seq(Seq("50"), Seq("51")))
  }

  test("CTAS with PARTITIONED BY creates, writes, and prunes") {
    wh
    multiFile {
      spark.sql("CREATE TABLE ddlcat.ev_ctas PARTITIONED BY (days(ts)) AS " +
        "SELECT id AS k, timestamp_micros(id * 86400000000) AS ts " +
        "FROM range(0, 100)")
    }
    val root = s"$wh/ev_ctas"
    assert(SnapshotLog.partitionSpecOf(spark, root) ==
      Seq(SnapshotLog.PartField("days", "ts")))
    assert(spark.sql("SELECT count(*) AS n FROM ddlcat.ev_ctas")
      .head().getLong(0) == 100L)
    val df = spark.sql("SELECT k FROM ddlcat.ev_ctas " +
      "WHERE ts = TIMESTAMP '1970-01-11 00:00:00'")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.keptFiles.size < scan.totalFiles)
    assert(rowSet(df) == Seq(Seq("10")))
  }

  test("bucket and truncate transforms round-trip through DDL") {
    wh
    spark.sql("CREATE TABLE ddlcat.bkt (k BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(8, k), truncate(4, s))")
    val root = s"$wh/bkt"
    assert(SnapshotLog.partitionSpecOf(spark, root) == Seq(
      SnapshotLog.PartField("bucket", "k", 8),
      SnapshotLog.PartField("trunc", "s", 4)))
    // the DSv2 report (DESCRIBE's source) reproduces the transforms
    val parts = spark.sessionState.catalogManager.catalog("ddlcat")
      .asInstanceOf[SnapshotCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "bkt")).partitioning().map(_.toString).toSeq
    assert(parts.exists(_.contains("bucket")) && parts.exists(_.contains("k")))
  }

  test("duplicate CREATE fails; IF NOT EXISTS is silent; DROP removes") {
    wh
    spark.sql("CREATE TABLE ddlcat.dup (k BIGINT)")
    intercept[Exception] { spark.sql("CREATE TABLE ddlcat.dup (k BIGINT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS ddlcat.dup (k BIGINT)")
    spark.sql("INSERT INTO ddlcat.dup VALUES (1), (2)")
    assert(spark.sql("SELECT * FROM ddlcat.dup").count() == 2L)
    spark.sql("DROP TABLE ddlcat.dup")
    intercept[Exception] { spark.sql("SELECT * FROM ddlcat.dup").collect() }
    // recreate after drop works (the directory is really gone)
    spark.sql("CREATE TABLE ddlcat.dup (k BIGINT)")
    assert(spark.sql("SELECT * FROM ddlcat.dup").count() == 0L)
  }

  test("created-empty table accepts MERGE (insert-only) and DELETE") {
    import spark.implicits._
    wh
    spark.sql("CREATE TABLE ddlcat.m (k BIGINT, v STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .createOrReplaceTempView("ddl_m_src")
    spark.sql("MERGE INTO ddlcat.m t USING ddl_m_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(rowSet(spark.sql("SELECT * FROM ddlcat.m")) ==
      Seq(Seq("1", "a"), Seq("2", "b")))
    spark.sql("DELETE FROM ddlcat.m WHERE k = 1")
    assert(rowSet(spark.sql("SELECT * FROM ddlcat.m")) == Seq(Seq("2", "b")))
  }

  test("REPLACE TABLE AS SELECT is one atomic overwrite, history preserved") {
    wh
    spark.sql("CREATE TABLE ddlcat.rt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO ddlcat.rt VALUES (1, 'a'), (2, 'b')")
    val root = s"$wh/rt"
    val preId = SnapshotLog.currentId(spark, root)
    spark.sql("REPLACE TABLE ddlcat.rt AS " +
      "SELECT id AS k2, CAST(id AS STRING) AS v2 FROM range(0, 5)")
    // ONE commit: content and schema replaced wholesale
    assert(SnapshotLog.currentId(spark, root) == preId + 1)
    assert(SnapshotLog.operationOf(spark, root, preId + 1) == "replace")
    assert(spark.sql("SELECT * FROM ddlcat.rt").columns.toSeq ==
      Seq("k2", "v2"))
    assert(spark.sql("SELECT count(*) AS n FROM ddlcat.rt")
      .head().getLong(0) == 5L)
    // the WRITE_TRUNCATE point: the pre-replace snapshot is still there
    assert(spark.sql(s"SELECT * FROM ddlcat.rt VERSION AS OF $preId")
      .columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT count(*) AS n FROM ddlcat.rt VERSION AS OF $preId")
      .head().getLong(0) == 2L)
    // plain REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      spark.sql("REPLACE TABLE ddlcat.rt_missing AS SELECT 1 AS x")
    }
    spark.sql("CREATE OR REPLACE TABLE ddlcat.rt2 PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT id AS k FROM range(0, 10)")
    assert(SnapshotLog.partitionSpecOf(spark, s"$wh/rt2") ==
      Seq(SnapshotLog.PartField("bucket", "k", 4)))
    spark.sql("CREATE OR REPLACE TABLE ddlcat.rt2 AS SELECT 9 AS only_k")
    assert(rowSet(spark.sql("SELECT * FROM ddlcat.rt2")) == Seq(Seq("9")))
    // a second plain CTAS on an existing table still refuses
    intercept[Exception] {
      spark.sql("CREATE TABLE ddlcat.rt2 AS SELECT 1 AS x")
    }
  }

  test("ALTER TABLE routes to the metadata-only evolution commits") {
    wh
    spark.sql("CREATE TABLE ddlcat.alt (k INT, v STRING)")
    spark.sql("INSERT INTO ddlcat.alt VALUES (1, 'a'), (2, 'b')")
    val root = s"$wh/alt"
    val dataBefore = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files.map(_.path).toSet
    spark.sql("ALTER TABLE ddlcat.alt RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE ddlcat.alt ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE ddlcat.alt ADD COLUMN note STRING")
    // three metadata commits, zero data movement
    assert(SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files.map(_.path).toSet == dataBefore)
    val out = spark.sql("SELECT k, label, note FROM ddlcat.alt ORDER BY k")
    assert(out.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rowSet(out) == Seq(Seq("1", "a", "null"), Seq("2", "b", "null")))
    // new column takes writes; old rows stay NULL
    spark.sql("INSERT INTO ddlcat.alt VALUES (3, 'c', 'n3')")
    assert(rowSet(spark.sql(
      "SELECT k, note FROM ddlcat.alt WHERE note IS NOT NULL")) ==
      Seq(Seq("3", "n3")))
    spark.sql("ALTER TABLE ddlcat.alt DROP COLUMN note")
    assert(spark.sql("SELECT * FROM ddlcat.alt").columns.toSeq ==
      Seq("k", "label"))
    // pre-rename history still reads under ITS schema
    assert(spark.sql("SELECT * FROM ddlcat.alt VERSION AS OF 2")
      .columns.toSeq == Seq("k", "v"))
    // narrowing is refused (the library's lossless-promotion rule)
    intercept[Exception] {
      spark.sql("ALTER TABLE ddlcat.alt ALTER COLUMN k TYPE INT")
    }
  }

  test("identity partition transforms are rejected with the vocabulary") {
    wh
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE ddlcat.ident (k BIGINT, d STRING) " +
        "PARTITIONED BY (d)")
    }
    assert(e.getMessage.contains("days/hours/months") ||
      String.valueOf(e.getCause).contains("days/hours/months"))
  }
}
