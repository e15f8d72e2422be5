package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageTypeParser, PrimitiveType}
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connector metadata answered on the driver: the schema of every parquet
  * read comes from a footer instead of Spark's one-task inference job,
  * flat-table counts from footer row counts, and JDBC watermarks and
  * counts from single server-side statements. Each footer schema must
  * equal what `spark.read.parquet` infers for the same path. */
class ConnectorMetadataSpec extends SparkSpec {

  /** readTable sets the session's parquet timestamp confs; comparisons
    * against plain inference run under the same confs. */
  private def inferred(path: String): StructType = {
    ParquetConnector.readTable(spark, path)
    spark.read.parquet(path).schema
  }

  /** The footer route's schema for `path`, and the jobs resolving it took. */
  private def viaFooter(path: String): (StructType, Int) = {
    val (df, jobs) = jobsDuring(ParquetConnector.footerReader(spark, path).parquet(path))
    (df.schema, jobs)
  }

  private def assertFooterSchema(path: String): Unit = {
    val expected = inferred(path)
    val (got, jobs) = viaFooter(path)
    assert(got == expected, s"footer schema $got != inferred $expected")
    assert(jobs == 0, s"footer schema resolution submitted $jobs Spark jobs")
  }

  /** One parquet file written by parquet-mr's example writer, the way
    * non-Spark producers (arrow, pandas) write: no Spark schema in the
    * key-value metadata, only the parquet logical types. */
  private def writeRaw(schemaText: String, rows: Seq[(Long, Long)]): String = {
    val file = Paths.get(tmpDir("graft_raw_"), "t.parquet").toString
    val schema = MessageTypeParser.parseMessageType(schemaText)
    val w = ExampleParquetWriter.builder(new HPath(file)).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, t) => w.write(g.newGroup().append("id", id).append("ts", t)) }
    finally w.close()
    file
  }

  test("footer schema = inferred schema: Spark-written INT96 table") {
    val c = new ParquetConnector(spark, tmpDir("graft_fs_int96_"))
    c.write(usersDf, "users")
    val path = c.tablePath("users").toString
    val file = FileTableOps.dataFiles(path, spark.sessionState.newHadoopConf()).next().getPath
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    val tsType = try r.getFooter.getFileMetaData.getSchema
      .getType(usersSchema.fieldIndex("updated_at")).asPrimitiveType
      .getPrimitiveTypeName finally r.close()
    assert(tsType == PrimitiveType.PrimitiveTypeName.INT96, "fixture must store INT96 timestamps")
    assertFooterSchema(path)
  }

  test("footer schema = inferred schema: arrow naive-timestamp (isAdjustedToUTC=false) file") {
    val t0 = ts("2024-01-05 12:00:00.123456").getTime * 1000L + 456L
    val file = writeRaw(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(MICROS,false)); }",
      Seq(1L -> t0, 2L -> (t0 + 1000000L)))
    assertFooterSchema(file)
    val read = ParquetConnector.readTable(spark, file)
    assert(read.schema("ts").dataType == TimestampType)
    assert(read.agg(max("ts")).head().getTimestamp(0) == ts("2024-01-05 12:00:01.123456"))
  }

  test("footer schema = inferred schema: TIMESTAMP(NANOS) file surfaces as micros timestamps") {
    val nanos = (ts("2024-01-05 12:00:00.123456").getTime * 1000L + 456L) * 1000L + 789L
    val file = writeRaw(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(1L -> nanos))
    assertFooterSchema(file)
    val read = ParquetConnector.readTable(spark, file)
    assert(read.schema("ts").dataType == TimestampType)
    assert(read.head().getAs[java.sql.Timestamp]("ts") == ts("2024-01-05 12:00:00.123456"))
  }

  test("footer schema = inferred schema: partitioned table; gpart surfaces the same via readWithPart") {
    val c = new PartitionedParquetConnector(spark, tmpDir("graft_fs_part_"))
    c.write(usersDf, "users")
    val path = c.tablePath("users").toString
    assertFooterSchema(path)
    val inferredWithPart = spark.read.parquet(path).withColumn("gpart", col("gpart").cast("string"))
    assert(c.readWithPart("users").schema == inferredWithPart.schema)
    assert(c.readWithPart("users").select("gpart").distinct().count() == 5)
  }

  test("footer schema = inferred schema: NullType-promoted tagged-string column") {
    val c = new ParquetConnector(spark, tmpDir("graft_fs_null_"))
    c.write(usersDf.withColumn("later", lit(null)), "users")
    val path = c.tablePath("users").toString
    assert(spark.read.parquet(path).schema("later").metadata != Metadata.empty,
      "fixture must carry the sentinel tag")
    assertFooterSchema(path)
    assert(SchemaInfer.logicalType(c.read("users").schema("later")) == NullType)
  }

  /** A table directory holding one single-file write of each frame:
    * `first`'s file sorts first by path. The files are created in the
    * opposite order, so a listing in creation order disagrees with path
    * order. */
  private def twoFileTable(first: DataFrame, second: DataFrame): String = {
    val table = Files.createDirectories(Paths.get(tmpDir("graft_fs_two_"), "t.parquet"))
    for ((frame, name) <- Seq(second -> "part-1.parquet", first -> "part-0.parquet")) {
      val staging = tmpDir("graft_fs_stage_")
      frame.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
      val file = FileTableOps.dataFiles(staging, spark.sessionState.newHadoopConf()).next().getPath
      Files.move(Paths.get(file.toUri), table.resolve(name))
    }
    table.toString
  }

  test("footer schema = inferred schema: files differing only in the sentinel tag") {
    val tagged = usersDf.withColumn("later", lit(null))
    val taggedOut = SchemaInfer.evolve(tagged, tagged.schema)
    val plain = usersDf.withColumn("later", when(col("id") > 2L, lit("x")))
    val taggedFirst = twoFileTable(taggedOut, plain)
    val plainFirst = twoFileTable(plain, taggedOut)
    assert(inferred(taggedFirst)("later").metadata != inferred(plainFirst)("later").metadata,
      "fixture: the first file in path order must decide the inferred schema")
    assertFooterSchema(taggedFirst)
    assertFooterSchema(plainFirst)
    assert(SchemaInfer.logicalType(ParquetConnector.readTable(spark, taggedFirst).schema("later")) == NullType)
    assert(SchemaInfer.logicalType(ParquetConnector.readTable(spark, plainFirst).schema("later")) == StringType)
  }

  test("dataFiles lists data files in full-path order and skips hidden names") {
    val root = Paths.get(tmpDir("graft_fs_order_"), "t.parquet")
    val data = Seq("part-b", "part-a", "part-a.x", "k=1/f", "k=10/f", "k=1.5/f", "k=1/g", "_k=2/f",
      "k=2/sub/f", "k=2/sub.x")
    val hiddenNames = Seq("_SUCCESS", ".part-a.crc", "part-c._COPYING_", "_graft_pkidx/f", "k=1/.f.crc")
    for (n <- (data ++ hiddenNames).reverse) {
      val f = root.resolve(n)
      Files.createDirectories(f.getParent)
      Files.createFile(f)
    }
    val listed = FileTableOps.dataFiles(root.toString, spark.sessionState.newHadoopConf())
      .map(_.getPath.toUri.getPath).toSeq
    assert(listed == data.map(n => root.resolve(n).toString).sorted)
  }

  test("a directory with no data files takes the inference fallback") {
    val dir = Files.createDirectories(Paths.get(tmpDir("graft_fs_empty_"), "t.parquet"))
    Files.createFile(dir.resolve("_SUCCESS"))
    Files.createDirectories(dir.resolve("_graft_pkidx"))
    val plain = intercept[AnalysisException](spark.read.parquet(dir.toString))
    val viaHelper = intercept[AnalysisException](
      ParquetConnector.footerReader(spark, dir.toString).parquet(dir.toString))
    assert(viaHelper.getCondition == plain.getCondition)
  }

  test("job counter: ParquetConnector.read and a flat-table count submit no Spark job") {
    val c = new ParquetConnector(spark, tmpDir("graft_fs_jobs_"))
    c.write(usersDf, "users")
    c.write(usersDf.limit(2), "users", SaveMode.Append) // a second file
    val (schema, readJobs) = jobsDuring(c.read("users").schema)
    assert(schema.fieldNames.toSeq == usersSchema.fieldNames.toSeq)
    assert(readJobs == 0)
    val (n, countJobs) = jobsDuring(c.count("users"))
    assert(n == 7L && n == c.read("users").count())
    assert(countJobs == 0)
    // the probe counts real jobs: plain inference is one
    assert(jobsDuring(spark.read.parquet(c.tablePath("users").toString))._2 >= 1)
  }

  test("job counter: JdbcConnector.count and the partitioned read's bounds submit no Spark job") {
    val c = new JdbcConnector(spark, "jdbc:derby:memory:graft_meta_jobs;create=true",
      partitionColumn = Some("id"), numPartitions = 2)
    c.write(usersDf, "users", SaveMode.Append)
    val (n, countJobs) = jobsDuring(c.count("users"))
    assert(n == 5L && countJobs == 0)
    val (scan, readJobs) = jobsDuring(c.read("users"))
    assert(readJobs == 0 && scan.rdd.getNumPartitions == 2)
  }
}
