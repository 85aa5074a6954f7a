package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every graft main: `local[N]` with N
  * from `$SPARK_GRAFT_CPUS` (default 4), N shuffle partitions, UTC
  * session time zone, no UI, WARN log level. */
object GraftSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
