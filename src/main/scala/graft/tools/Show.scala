package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev helper: print one query's full result for a scale dir —
  * `sbt "runMain graft.tools.Show q86_kmv_bound /root/testdata/sf0.01"`.
  * Same session shape as Verify so what you see is what gets graded.
  */
object Show {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // row-level SQL (UPDATE / MERGE INTO / DELETE-with-subquery)
      .config("spark.sql.extensions", "graft.plans.GraftSqlExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries(name)(spark, sfDir).show(200, false)
    spark.stop()
  }
}
