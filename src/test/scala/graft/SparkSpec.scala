package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local session for the whole suite (sbt forks a single test
  * JVM; specs run sequentially against it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Small typed DataFrame builder for fixtures. */
  def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** `body`'s result and the number of Spark jobs it submitted, counted
    * by a SparkListener on a local property tag. A tagged fence job run
    * afterwards proves every earlier job event was delivered (the
    * listener bus is asynchronous but ordered). */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = s"probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) jobs.incrementAndGet() else if (t == tag + "-fence") fence.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      def tagged[B](t: String)(b: => B): B = {
        sc.setLocalProperty(key, t)
        try b finally sc.setLocalProperty(key, null)
      }
      val out = tagged(tag)(body)
      tagged(tag + "-fence")(sc.parallelize(Seq(1), 1).count())
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener fence never arrived")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The FIXTURES-style `users` seed: the reference's integration specs
    * run against 5-row seed tables (spec/support/dumps/mysql/
    * forklift_test_source_a.sql) — same shape here. */
  val usersSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("email", StringType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  def usersRows: Seq[Row] = (1L to 5L).map { i =>
    Row(i, s"user$i@example.com", s"First$i", s"Last$i",
      ts(s"2024-01-0$i 10:00:00"), ts(s"2024-01-0$i 12:00:00"))
  }

  def usersDf: DataFrame = df(usersSchema, usersRows)
}
