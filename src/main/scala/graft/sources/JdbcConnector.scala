package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

/** JDBC source/sink — the Spark re-expression of the reference's MySQL
  * transport (taskrabbit/forklift `lib/forklift/transports/mysql.rb`),
  * the system's actual data plane:
  *
  *  - S2 paginated read (`mysql.rb:28-53`): the `LIMIT offset,n` driver
  *    loop becomes a PARTITIONED jdbc read — `partitionColumn` splits the
  *    table into `numPartitions` range scans executed by executors in
  *    parallel; bounds are fetched with one MIN/MAX round-trip. Arbitrary
  *    SELECT passthrough survives as [[readQuery]].
  *  - A1/A2 metadata (`mysql.rb:160-168`, `:182-184`): `count`,
  *    `maxTimestamp` and the read bounds are single statements on a
  *    driver connection, as in the reference — no Spark job.
  *  - S3 write w/ upsert + evolve (`mysql.rb:55-103`): delete-then-insert
  *    per batch, executed ON THE EXECUTORS via `foreachPartition` with
  *    prepared-statement batching — one `DELETE … WHERE pk IN (…)` plus
  *    one batched INSERT per `batchSize` rows, exactly the reference's
  *    write shape but N-way parallel. In-batch duplicate pks all insert
  *    (the reference quirk, encoded in UpsertWriterSpec).
  *  - S4 lazy create (`mysql.rb:105-132`): first write CREATEs from the
  *    DataFrame schema, with optional synthetic PRIMARY KEY.
  *  - D1-D9 catalog ops via JDBC metadata; T1/T3 script execution via
  *    [[exec]]/[[execScript]].
  *
  * Identifier quoting defaults to ANSI double quotes (Derby, Postgres);
  * pass "`" for MySQL. Tested against embedded Derby (in-memory), the
  * same engine Spark itself uses for its Hive metastore tests.
  *
  * DERBY-TESTED vs MYSQL-STRING-EXACT: no MySQL server exists in this
  * build's sandbox, so the MySQL-specific surfaces are reproduced
  * string-for-string from the reference but exercised only against
  * Derby semantics. Concretely: the CREATE TABLE type lattice
  * (`mysql.rb:105-147` — BIGINT/DOUBLE/BOOLEAN/VARCHAR/CLOB choices)
  * and the DELIMITER-aware script splitting are MySQL-faithful by
  * construction; PK detection, add-column evolution, truncate, and
  * atomic-rename go through standard JDBC metadata/DDL calls that both
  * engines accept. Behaviors that genuinely differ server-side —
  * MySQL's implicit-commit DDL, `RENAME TABLE` atomicity across
  * schemas, index-length limits on long VARCHAR pks — are NOT covered
  * by the Derby suite; point this connector at a live MySQL and run
  * JdbcConnectorSpec before relying on them in production.
  */
class JdbcConnector(
    val spark: SparkSession,
    url: String,
    options: Map[String, String] = Map.empty,
    partitionColumn: Option[String] = None,
    numPartitions: Int = 8,
    batchSize: Int = 1000,
    stringType: String = "VARCHAR(4096)",
    quote: String = "\"")
  extends Connector {

  /** JDBC properties for every read/write: user options plus `fetchsize`
    * from `batchSize` (unless explicitly overridden) — the reference's
    * `config[:batch_size]` page size (`plan.rb:148`) becomes the driver
    * row-streaming window, so a 10B-row scan never buffers server-side
    * results in one gulp. */
  private[sources] def props: Properties = {
    val p = new Properties()
    p.setProperty("fetchsize", batchSize.toString)
    options.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def q(ident: String): String = quote + ident + quote

  /** Driver-side connection for DDL/metadata (data never flows here). */
  private def withConn[A](body: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try body(c) finally c.close()
  }

  /** One server-side query on a driver connection; `f` reads its first
    * (for an aggregate, only) result row. */
  private def queryRow[A](sql: String)(f: java.sql.ResultSet => A): A = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      require(rs.next(), s"no result row for: $sql")
      f(rs)
    } finally st.close()
  }

  /** T1/T3: execute one statement (DDL/DML) server-side. */
  def exec(sql: String): Unit = withConn { c =>
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Run a multi-statement SQL script through the DELIMITER-aware
    * splitter (`transports/mysql.rb:234-249`). */
  def execScript(script: String): Unit =
    graft.plans.SqlScript.split(script).foreach(exec)

  /** S2: table scan. With a configured partition column this is a
    * parallel range read (bounds via one MIN/MAX round-trip); otherwise a
    * single-partition read — fine for dims, wrong for facts, exactly like
    * the reference's single-threaded page loop. */
  override def read(table: String): DataFrame = partitionColumn match {
    case Some(pc) if exists(table) =>
      val (lo, hi) = queryRow(s"SELECT MIN(${q(pc)}), MAX(${q(pc)}) FROM ${q(table)}")(rs =>
        (rs.getObject(1), rs.getObject(2)))
      if (lo == null) spark.read.jdbc(url, q(table), props)
      else spark.read.jdbc(url, q(table), pc, toLong(lo), toLong(hi), numPartitions, props)
    case _ => spark.read.jdbc(url, q(table), props)
  }

  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case t: java.sql.Timestamp => t.getTime
    case d: java.sql.Date => d.getTime
    case _ => 0L
  }

  /** Arbitrary-SELECT passthrough (`read(query)`, `mysql.rb:28`): the
    * query runs server-side as a derived table. */
  def readQuery(sql: String): DataFrame =
    spark.read.jdbc(url, s"($sql) graft_q", props)

  override def tables: Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val b = Seq.newBuilder[String]
    while (rs.next()) b += rs.getString("TABLE_NAME")
    rs.close()
    b.result().filterNot(_.toLowerCase.endsWith("_graft_tmp")).sorted
  }

  override def exists(table: String): Boolean =
    tables.exists(_.equalsIgnoreCase(table))

  /** D2 `current_database` (`mysql.rb:178-180`). */
  def currentDatabase: String = withConn { c =>
    Option(c.getCatalog).filter(_.nonEmpty).orElse(Option(c.getSchema)).getOrElse("")
  }

  /** D9 PK detection (`patterns/mysql_patterns.rb:148-150`): declared
    * primary key or the `id` default. */
  def primaryKeyOf(table: String): String = withConn { c =>
    val rs = c.getMetaData.getPrimaryKeys(null, null, storedName(table))
    val k = if (rs.next()) rs.getString("COLUMN_NAME") else "id"
    rs.close()
    k
  }

  /** Metadata stores unquoted-created names per dialect folding; we
    * always create quoted, so the stored name is the exact string. */
  private def storedName(table: String): String = table

  override def drop(table: String): Unit =
    if (exists(table)) exec(s"DROP TABLE ${q(table)}")

  override def rename(from: String, to: String): Unit = {
    drop(to)
    exec(s"RENAME TABLE ${q(from)} TO ${q(to)}")
  }

  override def truncate(table: String): Unit =
    if (exists(table)) exec(s"TRUNCATE TABLE ${q(table)}")

  /** A1 COUNT pushed server-side (`mysql.rb:182-184`). Dialects differ on
    * COUNT's return width (Derby INTEGER, MySQL BIGINT) — extract
    * numerically. */
  override def count(table: String): Long =
    if (!exists(table)) 0L
    else queryRow(s"SELECT COUNT(1) FROM ${q(table)}")(_.getLong(1))

  /** A2 `SELECT MAX(matcher)` pushed server-side (`mysql.rb:160-168`)
    * for a TIMESTAMP matcher, with the trait's epoch fallback for a
    * missing column or no non-null value. The value goes through the
    * conversions Spark's JDBC reader applies (the dialect's, then
    * Spark's internal micros), so it equals what the Spark path returns.
    * Everything else keeps the trait's Spark path: other matcher types
    * (DATE, strings) for their cast semantics, and a table that is not
    * stored under exactly this name (missing, or matched by `exists` only
    * case-insensitively) for its `exists`/`read` behavior. */
  override def maxTimestamp(table: String, matcher: String): java.sql.Timestamp = {
    val epoch = new java.sql.Timestamp(0L)
    val types = columnTypes(table)
    if (types.isEmpty) super.maxTimestamp(table, matcher)
    else types.get(matcher) match {
      case None => epoch
      case Some(java.sql.Types.TIMESTAMP | java.sql.Types.TIMESTAMP_WITH_TIMEZONE) =>
        val dialect = JdbcDialects.get(url)
        queryRow(s"SELECT MAX(${q(matcher)}) FROM ${q(table)}") { rs =>
          Option(rs.getTimestamp(1)).fold(epoch)(t =>
            DateTimeUtils.toJavaTimestamp(DateTimeUtils.fromJavaTimestamp(
              dialect.convertJavaTimestampToTimestamp(t))))
        }
      case Some(_) => super.maxTimestamp(table, matcher)
    }
  }

  /** Column name → `java.sql.Types` code of the table stored under
    * exactly `table`, from JDBC metadata; empty when there is none.
    * Names compare exactly (metadata patterns treat `_` as a wildcard). */
  private def columnTypes(table: String): Map[String, Int] = withConn { c =>
    val rs = c.getMetaData.getColumns(null, null, storedName(table), "%")
    try {
      val b = Map.newBuilder[String, Int]
      while (rs.next())
        if (rs.getString("TABLE_NAME") == storedName(table))
          b += rs.getString("COLUMN_NAME") -> rs.getInt("DATA_TYPE")
      b.result()
    } finally rs.close()
  }

  // ---- DDL generation (S4/S5) ----

  private def sqlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE"
    case _: DecimalType => "DOUBLE"   // reference narrows decimals (mysql.rb:137)
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case _ => stringType            // catchall text (mysql.rb:146)
  }

  /** S4 lazy create: DDL from the DataFrame schema; `primaryKey` (when a
    * schema column) becomes the declared PRIMARY KEY, mirroring the
    * reference's synthetic-pk + matcher-index create. */
  def createTable(table: String, schema: StructType, primaryKey: Option[String] = None): Unit = {
    val cols = schema.fields.map { f =>
      val notNull = if (primaryKey.contains(f.name)) " NOT NULL" else ""
      s"${q(f.name)} ${sqlType(f.dataType)}$notNull"
    }
    val pk = primaryKey.filter(k => schema.fieldNames.contains(k))
      .map(k => s", PRIMARY KEY (${q(k)})").getOrElse("")
    exec(s"CREATE TABLE ${q(table)} (${cols.mkString(", ")}$pk)")
  }

  /** D3/D7: existing column names (as created). */
  def columnNames(table: String): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getColumns(null, null, storedName(table), "%")
    val b = Seq.newBuilder[String]
    while (rs.next()) b += rs.getString("COLUMN_NAME")
    rs.close()
    b.result()
  }

  /** D7 add-column evolution (`mysql.rb:64-73`). */
  private def evolveTable(table: String, incoming: StructType): Unit = {
    val have = columnNames(table).map(_.toLowerCase).toSet
    incoming.fields.filterNot(f => have.contains(f.name.toLowerCase)).foreach { f =>
      exec(s"ALTER TABLE ${q(table)} ADD COLUMN ${q(f.name)} ${sqlType(f.dataType)}")
    }
  }

  /** S3 write. Append = executor-parallel batched INSERT (lazy create +
    * evolve first); Overwrite = write tmp table then DROP+RENAME — the
    * reference's atomic publish (`patterns/mysql_patterns.rb:35-39`). */
  override def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit = mode match {
    case SaveMode.Append =>
      if (!exists(table)) createTable(table, SchemaInfer.writable(df.schema))
      else evolveTable(table, df.schema)
      insertRows(df, table, deleteByKey = None)
    case _ =>
      val tmp = table + "_graft_tmp"
      drop(tmp)
      createTable(tmp, SchemaInfer.writable(df.schema))
      insertRows(df, tmp, deleteByKey = None)
      drop(table)
      exec(s"RENAME TABLE ${q(tmp)} TO ${q(table)}")
  }

  /** S3 upsert: DELETE-by-pk then INSERT, batched per partition on the
    * executors (`mysql.rb:78-87` shape, N-way parallel). No target scan:
    * cost is O(delta), the property the file connectors need copy-on-
    * write machinery to approximate. */
  override def upsert(df: DataFrame, table: String, primaryKey: String = "id"): Unit = {
    if (!exists(table)) {
      createTable(table, SchemaInfer.writable(df.schema), Some(primaryKey))
      insertRows(df, table, deleteByKey = None)
      return
    }
    evolveTable(table, df.schema)
    if (!df.columns.contains(primaryKey)) { insertRows(df, table, deleteByKey = None); return }
    insertRows(df, table, deleteByKey = Some(primaryKey))
  }

  /** Executor-side batched DML: per partition, chunks of `batchSize` rows
    * get one `DELETE … IN` (when upserting) and one batched INSERT —
    * the reference's per-batch write cycle (`mysql.rb:78-87`). */
  private def insertRows(df: DataFrame, table: String, deleteByKey: Option[String]): Unit = {
    val cols = df.schema.fieldNames.toSeq
    val insertSql = s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val keyIdx = deleteByKey.map(cols.indexOf(_))
    val (u, o, bs, qt) = (url, options, batchSize, quote)
    val deleteKeyName = deleteByKey
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val p = new Properties(); o.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = DriverManager.getConnection(u, p)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(insertSql)
          try {
            // per-slot SQL types for setNull (Derby rejects Types.NULL)
            val pmd = ps.getParameterMetaData
            val slotTypes = Array.tabulate(cols.length)(i =>
              try pmd.getParameterType(i + 1) catch { case _: Exception => java.sql.Types.VARCHAR })
            rows.grouped(bs).foreach { chunk =>
              deleteKeyName.foreach { k =>
                val keys = chunk.map(r => r.get(keyIdx.get)).filter(_ != null)
                if (keys.nonEmpty) {
                  val del = s"DELETE FROM $qt$table$qt WHERE $qt$k$qt IN (${keys.map(_ => "?").mkString(", ")})"
                  val dps = conn.prepareStatement(del)
                  try {
                    keys.zipWithIndex.foreach { case (v, i) => dps.setObject(i + 1, v) }
                    dps.executeUpdate()
                  } finally dps.close()
                }
              }
              chunk.foreach { r =>
                var i = 0
                while (i < cols.length) {
                  val v = r.get(i)
                  if (v == null) ps.setNull(i + 1, slotTypes(i))
                  else ps.setObject(i + 1, v)
                  i += 1
                }
                ps.addBatch()
              }
              ps.executeBatch()
              conn.commit()
            }
          } finally ps.close()
        } finally conn.close()
      }
    }
  }
}
