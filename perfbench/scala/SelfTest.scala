package graftbench

import org.apache.spark.sql.SparkSession

/** Listener-attribution probe for the benchmark's own tests: span `outer`
  * submits two jobs itself and one more inside its child span `inner`.
  * Prints the recorded spans and jobs as one JSON line. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    Trace.sc = sc
    Trace.enabled = true
    sc.parallelize(1 to 10).count() // outside every span
    Trace.span("outer") {
      sc.parallelize(1 to 10).count()
      Trace.span("inner")(sc.parallelize(1 to 10, 3).map(_ * 2).count())
      sc.parallelize(1 to 10).sum()
    }
    Trace.enabled = false
    org.apache.spark.graftbench.BusDrain(sc)
    println(Json.render(Json.obj(
      "spans" -> Trace.spanRows, "jobs" -> listener.jobRows, "stages" -> listener.stageRows)))
    spark.stop()
  }
}
