package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.plans.{Plan, PlanConfig}
import graft.sources.Connector

/** One traced interval. Times are microseconds on one clock shared with
  * the listener's job records (epoch-based, nanoTime-precise). `op` is the
  * id of the root span of the timed operation the span belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String, tag: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are kept only while `enabled`; with it
  * off, `span` is a plain call of its body. The open span's id travels to
  * Spark as the `graftbench.span` local property, so every job a span
  * submits is charged to it (see [[JobListener]]). */
object Trace {
  val SpanProperty = "graftbench.span"
  @volatile var enabled = false
  @volatile var sc: SparkContext = _

  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  val spans = ArrayBuffer[Span]()
  /** The spans as the results file's rows. */
  def spanRows: Seq[Seq[Any]] =
    spans.toSeq.map(s => Seq(s.id, s.parent, s.op, s.name, s.tag, s.startUs, s.endUs))
  private var nextId = 0L
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[A](name: String, tag: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val op = outer.headOption.map(_._2).getOrElse(id)
      stack.set((id, op) :: outer)
      if (sc != null) sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = nowUs
      try body
      finally {
        val t1 = nowUs
        stack.set(outer)
        if (sc != null) sc.setLocalProperty(SpanProperty,
          if (parent == 0L) null else parent.toString)
        synchronized { spans += Span(id, parent, op, name, tag, t0, t1) }
      }
    }
}

final case class JobRec(jobId: Int, span: Long, startUs: Long, var endUs: Long,
                        stageIds: Seq[Int], var ok: Boolean)
final case class StageRec(stageId: Int, attempt: Int, jobId: Int, numTasks: Int,
                          runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, input: Long, output: Long, failed: Boolean)

/** Spark counters for the traced run: jobs carry the span that submitted
  * them; stage metrics are charged to the first job that ran the stage. */
class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val taskFailures = scala.collection.mutable.HashMap[Int, Int]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Int]()
  private val byId = scala.collection.mutable.HashMap[Int, JobRec]()

  /** Jobs and stages as the results file's rows. */
  def jobRows: Seq[Seq[Any]] = synchronized {
    jobs.toSeq.map(j => Seq(j.jobId, j.span, j.startUs, j.endUs, j.ok))
  }
  def stageRows: Seq[Seq[Any]] = synchronized {
    stages.toSeq.map(s => Seq(s.stageId, s.attempt, s.jobId, s.numTasks, s.runMs, s.cpuNs,
      s.shuffleWrite, s.shuffleRead, s.spill, s.input, s.output, s.failed,
      taskFailures.getOrElse(s.stageId, 0)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val j = JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds, ok = false)
    jobs += j; byId(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach { j =>
      j.endUs = e.time * 1000L
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success)
      taskFailures(e.stageId) = taskFailures.getOrElse(e.stageId, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages += StageRec(s.stageId, s.attemptNumber(), stageJob.getOrElse(s.stageId, -1), s.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      s.failureReason.isDefined)
  }
}

/** Plan whose steps and runs are spans: `<prefix>.step.<name>` around
  * every step body, `plans.run` around the whole run. */
class TracedPlan(spark: SparkSession, config: PlanConfig, prefix: String)
    extends Plan(spark, config) {
  override def step(name: String, onError: (String, Throwable) => Unit)(body: => Unit): Plan =
    super.step(name, onError)(Trace.span(s"$prefix.step.$name")(body))
  override def run(selected: Seq[String]): Unit =
    Trace.span("plans.run")(super.run(selected))
}

/** Timing decorator over a connector: every call of the trait's public
  * API is a `sources.<method>` span tagged with the connector's role. */
class TracedConnector(val inner: Connector, val tag: String) extends Connector {
  private def t[A](m: String)(body: => A): A = Trace.span(s"sources.$m", tag)(body)
  def spark: SparkSession = inner.spark
  override def read(table: String): DataFrame = t("read")(inner.read(table))
  override def readSince(table: String, matcher: String, since: java.sql.Timestamp): DataFrame =
    t("read")(inner.readSince(table, matcher, since))
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    t("write")(inner.write(df, table, mode))
  override def upsert(df: DataFrame, table: String, primaryKey: String): Unit =
    t("upsert")(inner.upsert(df, table, primaryKey))
  override def tables: Seq[String] = t("catalog")(inner.tables)
  override def exists(table: String): Boolean = t("catalog")(inner.exists(table))
  override def columns(table: String): StructType = t("catalog")(inner.columns(table))
  override def drop(table: String): Unit = t("catalog")(inner.drop(table))
  override def rename(from: String, to: String): Unit = t("catalog")(inner.rename(from, to))
  override def truncate(table: String): Unit = t("catalog")(inner.truncate(table))
  override def count(table: String): Long = t("count")(inner.count(table))
  override def maxTimestamp(table: String, matcher: String): java.sql.Timestamp =
    t("watermark")(inner.maxTimestamp(table, matcher))
}
