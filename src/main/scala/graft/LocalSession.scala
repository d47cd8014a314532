package graft

import org.apache.spark.sql.SparkSession

/** The one session shape of a measured or verified run ([[Bench]],
  * [[Verify]], `tools.GenScale`): the pins those runs' numbers and
  * results depend on, in one place so they cannot drift apart.
  *  - `local[cpus]` with `spark.sql.shuffle.partitions` = cpus, where
  *    cpus is `SPARK_GRAFT_CPUS` (default 4);
  *  - session time zone UTC, so the events-lake timestamp normalization
  *    (Tables.load NTZ→UTC micros) is box-independent;
  *  - UI off, and a temp warehouse dir: bucketed-table queries
  *    saveAsTable into it, and the default ./spark-warehouse would land
  *    in the working tree;
  *  - ERROR logging from the context's start on (`spark.log.level`,
  *    which Spark applies before its start-up INFO lines).
  * Callers add only their own keys (`conf`). */
private[graft] object LocalSession {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
