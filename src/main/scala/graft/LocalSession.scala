package graft

import org.apache.spark.sql.SparkSession

/** The local session every `main` runs on (Bench, Verify and the
  * `graft.tools` probes): `local[cpus]` with `cpus` shuffle partitions,
  * UTC, the graft SQL extensions, no UI and WARN logging; `conf` adds
  * or overrides settings.
  */
object LocalSession {
  def apply(cpus: String, conf: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
