package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.Patterns
import graft.pipelines.TrainingDataPipeline
import graft.plans.{PlanConfig, SqlScript}
import graft.sources.{JdbcConnector, ParquetConnector, PartitionedParquetConnector}
import graft.streaming.IncrementalStream

/** One timed operation of a closed loop. */
final case class Op(kind: String, seconds: Double, ok: Boolean, traced: Boolean,
                    items: Long, err: String)

/** Benchmark main: one workload, one process, one client thread.
  *
  *   graftbench.Main --workload <name> --in <inputs> --work <scratch>
  *                   --out <results.json> --seconds <s> --trace <0|1>
  *                   --cores <n>
  *
  * Writes every raw sample (ops, set-ups, spans, Spark job/stage records,
  * check outcomes) to `--out`; the Python front end turns them into
  * metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val traceRun = a("trace") == "1"
    val listener = new JobListener
    if (traceRun) {
      Trace.sc = spark.sparkContext
      spark.sparkContext.addSparkListener(listener)
    }
    val ctx = new Ctx(spark, a("in"), work, a("seconds").toDouble, traceRun, cores)
    val wl: Workload = a("workload") match {
      case "etl_ticks" => new EtlTicks(ctx)
      case "crawl_lifecycle" => new CrawlLifecycle(ctx)
    }
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val loopT0 = System.nanoTime()
    wl.run()
    val loopS = (System.nanoTime() - loopT0) / 1e9
    Trace.enabled = false
    val checks =
      try wl.check()
      catch { case scala.util.control.NonFatal(e) =>   // an unreadable output fails every op
        Seq("outputs_readable" -> ((false, s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300), ctx.ops.map(_.kind).distinct.toSeq)))
      }
    if (traceRun) org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val out = Json.obj(
      "workload" -> a("workload"),
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "loop_s" -> loopS,
      "ops" -> ctx.ops.map(o => Json.obj("kind" -> o.kind, "seconds" -> o.seconds, "ok" -> o.ok,
        "traced" -> o.traced, "items" -> o.items, "err" -> o.err)),
      "checks" -> checks.map { case (name, (ok, detail, kinds)) =>
        Json.obj("name" -> name, "ok" -> ok, "detail" -> detail, "op_kinds" -> kinds) },
      "extra" -> ctx.extra.toMap,
      "per_op" -> ctx.perOp.map(m => m.toMap),
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> Trace.spanRows, "jobs" -> listener.jobRows, "stages" -> listener.stageRows)
    Files.write(Paths.get(a("out")), Json.render(out).getBytes("UTF-8"))
    wl.close()
    spark.stop()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Shared run state: settings, the op log, and the per-op extras. */
final class Ctx(val spark: SparkSession, val in: String, val work: String, val seconds: Double,
                val traceRun: Boolean, val cores: Int) {
  val ops = ArrayBuffer[Op]()
  val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
  val perOp = ArrayBuffer[scala.collection.mutable.LinkedHashMap[String, Any]]()

  /** Time one op; with `traced` its span tree and Spark jobs are kept. */
  def op(kind: String, traced: Boolean, items: Long = 0L)(body: => Unit): Unit = {
    Trace.enabled = traced
    val t0 = System.nanoTime()
    var err = ""
    try Trace.span(s"op.$kind")(body)
    catch { case scala.util.control.NonFatal(e) =>
      err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      System.err.println(s"[perfbench] op $kind failed: $err")
    }
    ops += Op(kind, (System.nanoTime() - t0) / 1e9, err.isEmpty, traced, items, err)
    Trace.enabled = false
  }

  /** Whole cycles until `seconds` have passed since `t0`; at least one, and
    * two in a trace run, whose odd cycles are traced and even ones not. */
  def another(cycle: Int, t0: Long): Boolean =
    cycle < (if (traceRun) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds
  def traced(cycle: Int): Boolean = traceRun && cycle % 2 == 1
}

trait Workload {
  /** Build the state right before the first timed op, from nothing. */
  def setup(): Unit
  def run(): Unit
  /** name -> (passed, detail, op kinds a failure charges) */
  def check(): Seq[(String, (Boolean, String, Seq[String]))]
  def close(): Unit = ()
}

object Disk {
  /** path -> size of every regular file under `root` */
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
  def dataFiles(root: String): Int = sizes(root).keys.count { k =>
    val n = Paths.get(k).getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".") && !k.contains("/_")
  }
  def bytes(root: String): Long = sizes(root).values.sum
}

// ---------------------------------------------------------------- etl_ticks
class EtlTicks(c: Ctx) extends Workload {
  import c.spark
  private val manifest = Manifest.load(s"${c.in}/manifest.json")
  private val ticks = manifest.list("ticks")
  private val ws = new Ws(s"${c.work}/etl")
  private var ticksRun = 0
  private var streamBatches = 0L

  final class Ws(val root: String) {
    val stagingDir = s"$root/staging"
    Files.createDirectories(Paths.get(stagingDir, "events.parquet"))
    val staging = new TracedConnector(new ParquetConnector(spark, stagingDir), "staging")
    val flat = new TracedConnector(new ParquetConnector(spark, s"$root/flat"), "flat")
    val part = new TracedConnector(new PartitionedParquetConnector(spark, s"$root/part",
      matcher = "ts", pkIndexMinBytes = 0L), "part")
    val jdbcUrl = s"jdbc:derby:$root/derby;create=true"
    val jdbc = new TracedConnector(new JdbcConnector(spark, jdbcUrl,
      partitionColumn = Some("event_id"), numPartitions = c.cores), "jdbc")
    val rollup = new TracedConnector(new ParquetConnector(spark, s"$root/rollup"), "rollup")
    val sink = s"$root/stream_sink"
    val ckpt = s"$root/stream_ckpt"
    def destDirs: Seq[String] = Seq(s"$root/flat", s"$root/part", s"$root/derby",
      s"$root/rollup", sink)
  }

  private def stage(name: String, file: String): Unit =
    Files.copy(Paths.get(file), Paths.get(ws.stagingDir, "events.parquet", s"part-$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private val script =
    """CREATE OR REPLACE TEMP VIEW cust_orders AS
      |  SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS spend
      |  FROM orders GROUP BY o_custkey;
      |CREATE OR REPLACE TEMP VIEW enriched AS
      |  SELECT e.event_id, e.event_type, e.value, c.c_mktsegment,
      |         COALESCE(co.n_orders, 0) AS n_orders, COALESCE(co.spend, 0.0) AS spend
      |  FROM fresh_events e
      |  JOIN customer c ON c.c_custkey = e.user_id
      |  LEFT JOIN cust_orders co ON co.o_custkey = e.user_id;
      |SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
      |       ROUND(SUM(value), 2) AS value_sum, ROUND(SUM(spend), 2) AS spend_sum
      |FROM enriched GROUP BY c_mktsegment, event_type""".stripMargin

  /** One `Plan` run: the six ETL steps in order. `since` bounds the fresh
    * events the SQL transformation reads. */
  private def tick(since: java.sql.Timestamp): Unit = {
    val plan = new TracedPlan(spark, PlanConfig(pidDir = s"${ws.root}/pid"), "plans")
    plan.step("pipe_flat") {
      Trace.span("patterns.incremental_pipe")(
        Patterns.incrementalPipe(ws.staging, "events", ws.flat, "events", primaryKey = "event_id"))
    }
    plan.step("pipe_part") {
      Trace.span("patterns.incremental_pipe_part")(
        Patterns.incrementalPipe(ws.staging, "events", ws.part, "events", primaryKey = "event_id"))
    }
    plan.step("import_jdbc") {
      Trace.span("patterns.incremental_import")(
        Patterns.incrementalImport(ws.staging, "events", ws.jdbc, "events", primaryKey = "event_id"))
    }
    plan.step("rollup") {
      Trace.span("patterns.incremental_aggregate")(
        Patterns.incrementalAggregate(ws.staging, "events", ws.rollup, "user_daily",
          Seq("user_id", "change_day"),
          Seq(("count", "*", "n_changes"), ("sum", "value", "value_sum"),
            ("max", "value", "value_max"))))
    }
    plan.step("sql_script") {
      Trace.span("plans.sql_script") {
        ws.flat.read("events").filter(col("updated_at") >= lit(since))
          .createOrReplaceTempView("fresh_events")
        val res = SqlScript.execBang(spark, script).get
        ws.flat.write(res, "segment_summary", SaveMode.Overwrite)
      }
    }
    plan.step("stream") {
      Trace.span("streaming.tick") {
        val q = IncrementalStream.pipeStream(spark, s"${ws.stagingDir}/events.parquet",
          eventsSchema, ws.sink, ws.ckpt)
        streamBatches += q.recentProgress.count(_.numInputRows > 0)
      }
    }
    plan.run()
  }

  private lazy val eventsSchema =
    ParquetConnector.readTable(spark, s"${c.in}/events_base.parquet").schema

  def setup(): Unit = {
    ParquetConnector.readTable(spark, s"${c.in}/tables/customer.parquet")
      .createOrReplaceTempView("customer")
    ParquetConnector.readTable(spark, s"${c.in}/tables/orders.parquet")
      .createOrReplaceTempView("orders")
    stage("base", s"${c.in}/events_base.parquet")
    tick(new java.sql.Timestamp(0L)) // bootstrap: the full first load of every destination
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    // whole append+update pairs; the trace run alternates traced pairs
    while (k + 1 < ticks.size && c.another(k / 2, t0)) {
      val traced = c.traced(k / 2)
      for (j <- Seq(k, k + 1)) {
        val t = ticks(j)
        val kind = t.str("kind")
        stage(f"tick_$j%04d", f"${c.in}/deltas/tick_$j%04d.parquet")
        val before = if (traced) ws.destDirs.map(Disk.sizes).reduce(_ ++ _) else Map.empty[String, Long]
        val since = new java.sql.Timestamp(t.num("since_us") / 1000L)
        val batches0 = streamBatches
        c.op(s"${kind}_tick", traced, t.num("rows"))(tick(since))
        if (traced) {
          val after = ws.destDirs.map(Disk.sizes).reduce(_ ++ _)
          // new files count whole, files changed in place (Derby) by their growth
          val written = after.map { case (p, s) => (s - before.getOrElse(p, 0L)).max(0L) }.sum
          c.perOp += scala.collection.mutable.LinkedHashMap("op" -> (c.ops.size - 1),
            "bytes_written" -> written, "delta_bytes" -> t.num("bytes"),
            "stream_batches" -> (streamBatches - batches0))
        }
      }
      k += 2
    }
    ticksRun = k
  }

  def check(): Seq[(String, (Boolean, String, Seq[String]))] = {
    // the front end compares every destination with the state the
    // generator predicts: the parquet ones in place, Derby's exported
    val st = s"${c.work}/state"
    ws.jdbc.inner.read("events").write.mode("overwrite").parquet(s"$st/jdbc")
    val liveRows = ws.flat.inner.count("events")
    val stored = Seq(s"${ws.root}/flat/events.parquet", s"${ws.root}/part/events.parquet",
      s"${ws.root}/derby", s"${ws.root}/rollup/user_daily.parquet").map(Disk.bytes).sum
    c.extra ++= Seq("ticks_run" -> ticksRun, "live_rows" -> liveRows, "stored_bytes" -> stored,
      "dest_dirs" -> Map("flat" -> s"${ws.root}/flat/events.parquet",
        "part" -> s"${ws.root}/part/events.parquet", "jdbc" -> s"$st/jdbc",
        "rollup" -> s"${ws.root}/rollup/user_daily.parquet", "stream" -> ws.sink),
      "live_files" -> Seq("flat", "part", "rollup").map(d => Disk.dataFiles(s"${ws.root}/$d")).sum,
      "stream_batches" -> streamBatches)
    Seq("segment_summary" -> {
      val n = ws.flat.inner.read("segment_summary").count()
      (n > 0, s"$n rows", Seq("append_tick", "update_tick"))
    })
  }

  override def close(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an error
}

// ---------------------------------------------------------- crawl_lifecycle
class CrawlLifecycle(c: Ctx) extends Workload {
  import c.spark
  import spark.implicits._
  private val manifest = Manifest.load(s"${c.in}/manifest.json")
  private val gens = manifest.list("generations")
  private val notices = manifest.list("notices")
  private val work = s"${c.work}/crawl"
  private val removedIds = scala.collection.mutable.Set[Long]()
  private val removedFps = scala.collection.mutable.Set[Long]()

  private def plan() = new TracedPlan(spark, PlanConfig(pidDir = s"$work/pid"), "pipelines")
  private def warc(g: Int) = f"${c.in}/warc/gen_$g%04d"
  private def conn = new ParquetConnector(spark, work)

  private def crawl(g: Int): Unit = {
    val p = plan()
    TrainingDataPipeline.crawlTick(p, warc(g), work)
    Trace.span("pipelines.crawl")(p.run())
  }

  /** Resolve a notice against the current release (untimed): the ids it
    * will remove and their fingerprints, for the end-of-run check; returns
    * the feed the takedown tick reads. */
  private def resolve(n: Manifest.Obj, byDomain: Boolean): DataFrame = {
    val rel = conn.read("release_current")
    val hit =
      if (byDomain) rel.filter(col("url").startsWith(s"http://${n.str("domain")}/"))
      else {
        val ids = rel.select("doc_id").as[Long].collect().sorted
        rel.filter(col("doc_id").isin(n.numList("positions").map(p =>
          ids(((p * ids.length).toInt).min(ids.length - 1))): _*))
      }
    val rows = hit.select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp")).as[(Long, Long)].collect()
    removedIds ++= rows.map(_._1); removedFps ++= rows.map(_._2)
    if (byDomain) Seq(n.str("domain")).toDF("domain") else rows.map(_._1).toSeq.toDF("doc_id")
  }

  private def takedown(feed: DataFrame, byDomain: Boolean): Unit = {
    val p = plan()
    if (byDomain) TrainingDataPipeline.takedownByDomain(p, work, feed)
    else TrainingDataPipeline.takedownTick(p, work, feed)
    Trace.span("pipelines.takedown")(p.run())
  }

  private def maintain(): Unit = {
    val p = plan()
    TrainingDataPipeline.maintenanceTick(p, work)
    Trace.span("pipelines.maintenance")(p.run())
  }

  // ---- query pass: read-only SparkEntry queries, one per family, in a
  // seeded order; each is built, planned, and executed into parquet that
  // the front end checks against the query's DuckDB oracle
  private val tables = s"${c.in}/tables"
  private val queries = manifest.list("queries").map(q => q.str("name") -> q.str("family"))
  private val rnd = new scala.util.Random(manifest.num("order_seed"))

  private def queryPass(times: scala.collection.mutable.Map[String, Double]): Unit =
    rnd.shuffle(queries).foreach { case (q, fam) =>
      val t0 = System.nanoTime()
      val df = Trace.span("entry.build", fam)(SparkEntry.queries(q)(spark, tables))
      Trace.span("entry.plan", fam)(df.queryExecution.executedPlan)
      Trace.span(s"entry.exec.$fam", fam)(
        df.write.mode("overwrite").parquet(s"${c.work}/results/$q"))
      times(q) = (System.nanoTime() - t0) / 1e9
    }

  def setup(): Unit = {
    crawl(0) // bootstrap: generation 0 builds the release and every index
    queryPass(scala.collection.mutable.Map()) // first executions, untimed
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    var cyc = 0
    while (cyc + 1 < gens.size && c.another(cyc, t0)) {
      val traced = c.traced(cyc)
      val g = gens(cyc + 1)
      val pages = g.num("changed") + g.num("added") + g.num("near_dup") + g.num("exact_dup")
      c.op("crawl_tick", traced, pages)(crawl(cyc + 1))
      for (byDomain <- Seq(false, true)) {
        val feed = resolve(notices(cyc), byDomain)
        c.op(if (byDomain) "domain_takedown_tick" else "takedown_tick", traced)(
          takedown(feed, byDomain))
      }
      c.op("maintenance_tick", traced)(maintain())
      val times = scala.collection.mutable.LinkedHashMap[String, Double]()
      c.op("query_pass", traced, queries.size)(queryPass(times))
      c.perOp += scala.collection.mutable.LinkedHashMap("op" -> (c.ops.size - 1),
        "traced" -> traced, "query_s" -> times)
      cyc += 1
    }
    c.extra ++= Seq("cycles_run" -> cyc)
  }

  def check(): Seq[(String, (Boolean, String, Seq[String]))] = {
    val w = conn
    val rel = w.read("release_current").select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp")).localCheckpoint(true)
    val n = rel.count()
    val distinct = rel.select("doc_id").distinct().count()
    val relIds = rel.select("doc_id").as[Long].collect().toSet
    val relFps = rel.select("fp").as[Long].collect().toSet
    val fpIdx = w.read("fp_index").select("fp").as[Long].collect().toSet
    val mhIds = w.read("mh_index").select("_id").distinct().as[Long].collect().toSet
    val chIds = if (w.tables.contains("chunk_index"))
      w.read("chunk_index").select("doc_id").distinct().as[Long].collect().toSet else Set.empty[Long]
    val leftRel = removedIds.intersect(relIds)
    val leftIdx = removedIds.intersect(mhIds ++ chIds)
    val leftFp = removedFps.intersect(fpIdx).diff(relFps)
    val unindexed = relFps.diff(fpIdx)
    val indexBytes = Seq("fp_index", "mh_index", "chunk_index")
      .map(t => Disk.bytes(s"$work/$t.parquet")).sum
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"${c.work}/results"))
    Files.write(Paths.get(s"${c.work}/results/oracle_sql.json"), Json.render(
      Json.obj(queries.map { case (q, _) => q -> oracle.getOrElse(q, "") }: _*)).getBytes("UTF-8"))
    val takedowns = Seq("takedown_tick", "domain_takedown_tick")
    c.extra ++= Seq("results_dir" -> s"${c.work}/results", "tables_dir" -> tables,
      "release_rows" -> n, "removed_ids" -> removedIds.size,
      "index_bytes" -> indexBytes, "release_bytes" -> Disk.bytes(s"$work/release_current.parquet"))
    Seq(
      "release_ids_unique" -> ((n == distinct, s"$n rows, $distinct ids", Seq("crawl_tick"))),
      "takedown_gone_from_release" -> ((leftRel.isEmpty, s"${leftRel.size} of ${removedIds.size} remain",
        takedowns)),
      "takedown_gone_from_indexes" -> (((leftIdx ++ leftFp).isEmpty,
        s"${leftIdx.size} ids, ${leftFp.size} fingerprints remain", takedowns)),
      "published_in_fp_index" -> ((unindexed.isEmpty, s"${unindexed.size} of ${relFps.size} missing",
        Seq("crawl_tick"))))
  }
}
