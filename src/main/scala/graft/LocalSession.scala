package graft

import org.apache.spark.sql.SparkSession

/** The in-process session the command-line mains run on: local[n] with
  * n shuffle partitions, UTC, no UI, the graft extensions, WARN logging.
  * n is SPARK_GRAFT_CPUS when set, else the main's `defaultCpus`.
  */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
