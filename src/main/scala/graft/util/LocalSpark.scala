package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory of the mains (`Bench`, `BenchExtra`,
  * `Verify`, `ScalingBench`, `tools.PlanDump`): master `local[n]` with n
  * shuffle partitions, UTC session time zone, no UI, WARN logging. The
  * test suite keeps its own fixed session (`TestSpark`).
  */
object LocalSpark {

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` adds settings on top of the shared ones (ScalingBench's split
    * sizes and local dir).
    */
  def session(appName: String, cores: Int = cpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
