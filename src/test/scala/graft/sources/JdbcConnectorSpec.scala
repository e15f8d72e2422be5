package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._

/** JDBC transport against embedded Derby (in-memory) — the S1-S3 parity
  * suite the reference runs against live MySQL
  * (`spec/integration/mysql_spec.rb`). */
class JdbcConnectorSpec extends SparkSpec {

  private var n = 0
  private def fresh(): JdbcConnector = {
    n += 1
    new JdbcConnector(spark, s"jdbc:derby:memory:graft_test_$n;create=true",
      partitionColumn = Some("id"), numPartitions = 3, batchSize = 2)
  }

  test("batchSize reaches the JDBC reader as fetchsize; explicit option wins") {
    val c = new JdbcConnector(spark, "jdbc:derby:memory:graft_fetch;create=true", batchSize = 500)
    assert(c.props.getProperty("fetchsize") == "500")
    val o = new JdbcConnector(spark, "jdbc:derby:memory:graft_fetch2;create=true",
      options = Map("fetchsize" -> "77"), batchSize = 500)
    assert(o.props.getProperty("fetchsize") == "77")
  }

  test("lazy create + append write + read roundtrip (S2/S4)") {
    val c = fresh()
    c.write(usersDf, "users", SaveMode.Append)
    assert(c.exists("users"))
    val out = c.read("users")
    assert(out.count() == 5)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(out.filter(col("id") === 3).head().getAs[String]("email") == "user3@example.com")
  }

  test("partitioned read splits on the numeric partition column") {
    val c = fresh()
    c.write(usersDf, "users", SaveMode.Append)
    val scan = c.read("users")
    assert(scan.rdd.getNumPartitions == 3)
    assert(scan.select(sum("id")).head().getLong(0) == 15L)
  }

  test("readQuery: arbitrary SELECT passthrough runs server-side (mysql.rb:28)") {
    val c = fresh()
    c.write(usersDf, "users", SaveMode.Append)
    val out = c.readQuery("""SELECT COUNT(1) AS n, MAX("id") AS mx FROM "users"""").head()
    assert(out.getAs[Number](0).longValue() == 5L && out.getAs[Number](1).longValue() == 5L)
  }

  test("overwrite publishes via tmp table + RENAME (atomic publish parity)") {
    val c = fresh()
    c.write(usersDf, "users", SaveMode.Append)
    c.write(usersDf.limit(2), "users", SaveMode.Overwrite)
    assert(c.count("users") == 2)
    assert(!c.tables.exists(_.contains("_graft_tmp")))
  }

  test("upsert: delete-then-insert, no duplicates, new keys insert (mysql_spec.rb:69-73)") {
    val c = fresh()
    c.upsert(usersDf, "users", "id") // lazy create w/ declared pk
    assert(c.primaryKeyOf("users") == "id")
    val updates = df(usersSchema, Seq(
      Row(2L, "upd@example.com", "F", "L", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00")),
      Row(9L, "new@example.com", "N", "U", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))))
    c.upsert(updates, "users", "id")
    assert(c.count("users") == 6)
    assert(c.read("users").filter(col("id") === 2).head().getAs[String]("email") == "upd@example.com")
  }

  test("upsert is idempotent across re-runs") {
    val c = fresh()
    c.upsert(usersDf, "users", "id")
    c.upsert(usersDf, "users", "id")
    assert(c.count("users") == 5)
  }

  test("add-column evolution on write (D7, mysql.rb:64-73)") {
    val c = fresh()
    c.write(usersDf, "users", SaveMode.Append)
    val withNew = usersDf.limit(1).withColumn("points", lit(42L))
    c.upsert(withNew, "users", "id")
    val out = c.read("users")
    assert(out.columns.map(_.toLowerCase).contains("points"))
    assert(out.filter(col("id") === 1).head().getAs[Long]("points") == 42L)
    assert(out.filter(col("points").isNull).count() == 4)
  }

  test("null values write and read back as nulls") {
    val c = fresh()
    val withNull = df(usersSchema, Seq(
      Row(1L, null, "F", "L", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))))
    c.write(withNull, "t", SaveMode.Append)
    assert(c.read("t").head().isNullAt(1))
  }

  test("catalog ops: tables/drop/rename/truncate/count (D1/D4/D5/D6/A1)") {
    val c = fresh()
    c.write(usersDf, "a", SaveMode.Append)
    c.write(usersDf, "b", SaveMode.Append)
    assert(c.tables.map(_.toLowerCase).sorted == Seq("a", "b"))
    c.rename("a", "c")
    assert(c.tables.map(_.toLowerCase).sorted == Seq("b", "c"))
    c.truncate("b")
    assert(c.count("b") == 0 && c.count("c") == 5)
    c.drop("b")
    assert(c.tables.map(_.toLowerCase) == Seq("c"))
    assert(c.count("missing") == 0)
  }

  test("maxTimestamp watermark with epoch fallback (A2)") {
    val c = fresh()
    assert(c.maxTimestamp("missing", "updated_at").getTime == 0L)
    c.write(usersDf, "users", SaveMode.Append)
    assert(c.maxTimestamp("users", "updated_at") == ts("2024-01-05 12:00:00"))
  }

  /** The trait's Spark-path watermark (`Connector.maxTimestamp`), the
    * reference the server-side override must agree with. */
  private def sparkMax(c: JdbcConnector, table: String, matcher: String): java.sql.Timestamp = {
    val r = c.read(table).agg(max(col(matcher)).cast("timestamp")).head()
    if (r.isNullAt(0)) new java.sql.Timestamp(0L) else r.getTimestamp(0)
  }

  test("maxTimestamp epoch fallback: missing table, missing column, all-null column (A2)") {
    val c = fresh()
    c.write(usersDf.withColumn("deleted_at", lit(null).cast("timestamp")), "users", SaveMode.Append)
    assert(c.maxTimestamp("no_such_table", "updated_at").getTime == 0L)
    assert(c.maxTimestamp("users", "no_such_col").getTime == 0L)
    assert(c.maxTimestamp("users", "deleted_at").getTime == 0L)
    c.truncate("users")
    assert(c.maxTimestamp("users", "updated_at").getTime == 0L)
  }

  test("maxTimestamp on a TIMESTAMP column is server-side and equals the Spark path (UTC session)") {
    val c = fresh()
    val rows = usersDf.withColumn("updated_at",
      when(col("id") === 4L, lit(ts("2024-03-07 23:59:58.123456"))).otherwise(col("updated_at")))
    c.write(rows, "users", SaveMode.Append)
    val (wm, jobs) = jobsDuring(c.maxTimestamp("users", "updated_at"))
    assert(jobs == 0)
    assert(wm == ts("2024-03-07 23:59:58.123456"))
    assert(wm == sparkMax(c, "users", "updated_at"))
  }

  test("maxTimestamp on a DATE or string matcher falls back to the Spark path") {
    val c = fresh()
    c.execScript(
      """CREATE TABLE "dated" ("id" BIGINT, "d" DATE, "s" VARCHAR(32));
        |INSERT INTO "dated" VALUES (1, DATE('2024-02-01'), '2024-02-01 10:00:00');
        |INSERT INTO "dated" VALUES (2, DATE('2024-02-03'), '2024-02-03 11:30:00');""".stripMargin)
    for (m <- Seq("d", "s")) {
      val (wm, jobs) = jobsDuring(c.maxTimestamp("dated", m))
      assert(jobs >= 1, s"$m must take the Spark path")
      assert(wm == sparkMax(c, "dated", m))
    }
    assert(c.maxTimestamp("dated", "d") == ts("2024-02-03 00:00:00"))
    assert(c.maxTimestamp("dated", "s") == ts("2024-02-03 11:30:00"))
  }

  test("maxTimestamp on a table matched only case-insensitively takes the Spark path, not epoch") {
    val c = fresh()
    c.execScript(
      """CREATE TABLE folded (id BIGINT, updated_at TIMESTAMP);
        |INSERT INTO folded VALUES (1, TIMESTAMP('2024-02-03 11:30:00'));""".stripMargin)
    assert(c.exists("folded"), "exists ignores case; the table is stored as FOLDED")
    val (wm, jobs) = jobsDuring(c.maxTimestamp("FOLDED", "UPDATED_AT"))
    assert(wm == ts("2024-02-03 11:30:00") && jobs == 0)
    // epoch here would mean a silent full re-import; the trait's quoted
    // read fails visibly instead
    intercept[java.sql.SQLException](c.maxTimestamp("folded", "UPDATED_AT"))
  }

  test("execScript runs DELIMITER-aware multi-statement DDL (T3)") {
    val c = fresh()
    c.execScript(
      """CREATE TABLE "scripted" ("id" BIGINT, "v" VARCHAR(10));
        |INSERT INTO "scripted" VALUES (1, 'a');
        |INSERT INTO "scripted" VALUES (2, 'b');""".stripMargin)
    assert(c.count("scripted") == 2)
  }

  test("incremental import from JDBC into parquet (cross-store, P5)") {
    val src = fresh()
    val dst = new ParquetConnector(spark, tmpDir("graft_jdbc_dst_"))
    src.write(usersDf, "users", SaveMode.Append)
    dst.write(usersDf.filter(col("id") <= 2), "users")
    graft.operators.Patterns.incrementalImport(src, "users", dst, "users",
      matcher = "updated_at", primaryKey = "id")
    assert(dst.count("users") == 5)
  }

  test("currentDatabase returns the connection schema (D2)") {
    val c = fresh()
    assert(c.currentDatabase.nonEmpty)
  }
}
