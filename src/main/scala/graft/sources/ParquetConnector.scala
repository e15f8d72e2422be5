package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import scala.jdk.CollectionConverters._

/** Path-addressed parquet "database": each table is `<dir>/<name>.parquet`.
  * Plays the role the MySQL transport plays in the reference
  * (`lib/forklift/transports/mysql.rb`) for file-backed analytics tables.
  *
  * Atomic publish: every overwrite writes `<dir>/.tmp_<name>_<nonce>` and
  * then atomically renames over the destination — the reference's
  * `CREATE tmp LIKE src; INSERT …; DROP dst; RENAME tmp→dst` pattern
  * (`patterns/mysql_patterns.rb:28-43`) at the filesystem layer. Readers
  * never observe partial state.
  *
  * Scale: parquet dirs written by all executors in parallel; the rename is
  * O(1) driver-side metadata. On object stores the same contract is met by
  * a metastore pointer swap — the connector API is the stable seam.
  */
object ParquetConnector {
  /** Parquet read that normalizes the timestamp shapes arrow-based
    * producers emit to ONE public type (session-zoned TimestampType):
    *
    *  - TIMESTAMP(NANOS) (Spark has no nanos type): with `nanosAsLong`
    *    the column surfaces as LongType nanos; convert to micros with
    *    integer `div` (NOT double division — 2024 epoch-nanos ≈ 1.7e18
    *    exceeds a double's 53-bit mantissa) and cast, matching how
    *    nanos-aware engines truncate ns→us. Keyed on the parquet
    *    footer's logical-type annotation — never on a column's name —
    *    so ordinary bigint columns (epoch counters, ids) are untouched.
    *  - TIMESTAMP(isAdjustedToUTC=false) (pandas naive timestamps):
    *    surfaces as TimestampNTZType; cast to TimestampType under the
    *    pinned-UTC session, which preserves every wall-clock value. */
  def readTable(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    // Without this flag Spark refuses TIMESTAMP(NANOS) files outright, so
    // it is an availability-only setting; with footer-keyed detection it
    // never changes the type of a non-nanos column.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read isAdjustedToUTC=false micros as session-zoned TimestampType AT
    // THE SCAN (not NTZ + a cast above it): the values are identical
    // under the pinned-UTC session, and a cast above the scan would block
    // parquet predicate pushdown on the timestamp — fatal for the
    // incremental readSince watermark at scale (PlanEvidenceSpec pins
    // pushdown on the naive-timestamp events table).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val footer = firstFooter(spark, path)
    val nanos = footer.fold(Set.empty[String])(nanosAnnotatedColumns)
    val df = readerFor(spark, footer).parquet(path)
    import org.apache.spark.sql.functions.{col, expr}
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (nanos.contains(f.name) && f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn(f.name, expr(s"timestamp_micros(`${f.name}` div 1000)"))
      // Defensive fallback only: with inferTimestampNTZ disabled above,
      // naive-timestamp columns already surface as TimestampType at the
      // scan. If an NTZ column still appears (schema evolution, an
      // upstream frame merged in), normalize it — value-preserving under
      // the pinned-UTC session — so the connector keeps ONE public
      // timestamp type.
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }

  /** `spark.read` carrying the schema `spark.read.parquet(path)` would
    * infer, built on the driver from the footer of the first data file
    * under `path` in path order. Spark's own inference reads that same
    * single footer but as a one-task Spark job per read; the footer route
    * submits none. Falls back to inference when
    * there is no data file (so an empty directory fails exactly as
    * before) or when schema merging is on. */
  def footerReader(spark: SparkSession, path: String): DataFrameReader =
    readerFor(spark, firstFooter(spark, path))

  /** The footer's schema converted exactly as Spark's inference converts
    * it: the writer's embedded Spark schema when present, else the
    * parquet schema through a converter configured from the session
    * (nanos-as-long, NTZ inference, INT96, binary-as-string). */
  private def readerFor(spark: SparkSession, footer: Option[Footer]): DataFrameReader =
    footer.fold(spark.read)(f => spark.read.schema(ParquetFileFormat.readSchemaFromFooter(f,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))))

  /** Footer of the first data file under `path` in path order — the file
    * Spark's inference would pick — searched recursively
    * (partitioned Hive-layout tables keep their files in `col=val/`
    * subdirectories; metadata dirs such as the partitioned connector's
    * `_graft_pkidx` sidecar are skipped). A footer that cannot be read is
    * logged and answered with None, which leaves the read to Spark's
    * inference — and so to Spark's own error for a corrupt file. */
  private def firstFooter(spark: SparkSession, path: String): Option[Footer] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      FileTableOps.dataFiles(path, conf).nextOption()
        .map(s => new Footer(s.getPath, readFooter(s.getPath, conf)))
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"parquet footer read failed for $path, inferring the schema instead: ${e.getMessage}")
        None
    }

  private def readFooter(f: HPath, conf: org.apache.hadoop.conf.Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try reader.getFooter finally reader.close()
  }

  /** Columns annotated TIMESTAMP(unit=NANOS) in a footer. */
  private def nanosAnnotatedColumns(footer: Footer): Set[String] =
    footer.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.collect {
      case fld if fld.isPrimitive && (fld.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }) => fld.getName
    }.toSet

  /** Total rows of `files`, summed from their footers' row-group counts
    * — read in parallel on the driver, no Spark job. */
  private[sources] def footerRowCount(spark: SparkSession, files: Array[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    java.util.Arrays.stream(files).parallel().mapToLong { f =>
      readFooter(new HPath(new java.net.URI(f)), conf).getBlocks.asScala.map(_.getRowCount).sum
    }.sum()
  }
}

class ParquetConnector(val spark: SparkSession, protected val dir: String) extends Connector {
  Files.createDirectories(Paths.get(dir))

  protected def path(table: String): Path = Paths.get(dir, table + ".parquet")

  /** The table's directory path — for driver-side metadata-table access
    * (e.g. the tick-state reader) that must share this connector's
    * naming and atomic-publish contract. */
  def tablePath(table: String): Path = path(table)

  override def read(table: String): DataFrame =
    ParquetConnector.readTable(spark, path(table).toString)

  override def tables: Seq[String] = FileTableOps.list(dir, ".parquet")

  /** `SELECT COUNT(1)` from the footers: the row-group counts of the
    * files the table's scan would read, summed on the driver. */
  override def count(table: String): Long =
    if (!exists(table)) 0L
    else ParquetConnector.footerRowCount(spark, read(table).inputFiles)

  override def exists(table: String): Boolean = Files.exists(path(table))

  override def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit = mode match {
    case SaveMode.Append if exists(table) =>
      // Parquet directories are naturally file-additive: when the incoming
      // schema already conforms to the table's, write the new files to a
      // tmp dir and move them in — O(delta), not O(table). Only a genuine
      // schema evolution (new column / type widening) pays the
      // union-rewrite. Per-file moves are atomic; a crash mid-move leaves
      // a partial append of whole files (the reference's non-transactional
      // multi-row INSERT has the same partial-failure contract,
      // mysql.rb:87), never a torn file.
      val existing = read(table).schema
      if (!SchemaInfer.evolves(existing, df.schema))
        additiveAppend(SchemaInfer.evolve(df, existing), table)
      else {
        val merged = SchemaInfer.merge(existing, df.schema)
        val out = SchemaInfer.evolve(read(table), merged)
          .unionByName(SchemaInfer.evolve(df, merged))
        atomicWrite(out, table)
      }
    case _ => atomicWrite(df, table)
  }

  private def additiveAppend(df: DataFrame, table: String): Unit = {
    val tmp = Paths.get(dir, s".tmp_${table}_${System.nanoTime()}")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val dst = path(table)
    val s = Files.list(tmp)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        // only data files; spark part-file names carry a UUID so they
        // cannot collide with existing files in the table dir
        if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
          Files.move(f, dst.resolve(n), StandardCopyOption.ATOMIC_MOVE)
      }
    } finally s.close()
    FileTableOps.deleteRecursively(tmp)
  }

  protected def atomicWrite(df: DataFrame, table: String): Unit = {
    // NullType (the varchar(0) sentinel) is unwritable in parquet —
    // promote to tagged string at the storage edge so it stays promotable
    val out = if (df.schema.fields.exists(_.dataType == org.apache.spark.sql.types.NullType))
      SchemaInfer.evolve(df, df.schema) else df
    val tmp = Paths.get(dir, s".tmp_${table}_${System.nanoTime()}")
    out.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    FileTableOps.replace(dir, tmp, path(table))
  }

  override def drop(table: String): Unit =
    if (exists(table)) FileTableOps.deleteRecursively(path(table))

  override def rename(from: String, to: String): Unit = {
    drop(to)
    Files.move(path(from), path(to), StandardCopyOption.ATOMIC_MOVE)
  }

  override def truncate(table: String): Unit =
    if (exists(table)) atomicWrite(read(table).limit(0), table)

}
