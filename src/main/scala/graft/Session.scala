package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every graft entry point (and the spec harness)
  * goes through: `local[cores]` with as many shuffle partitions as cores,
  * the UI off, [[Tables.sessionConf]] ++ [[Tables.staticConf]], WARN
  * logging, plus whatever the caller varies (`conf`, applied last).
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS` when set, else the machine's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(conf: Map[String, String] = Map.empty,
      cores: Int = cpus): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConf ++ Tables.staticConf ++ conf).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
