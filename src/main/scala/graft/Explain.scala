package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump the formatted physical plan of some or all queries.
  * `runMain graft.Explain [sfDir] [query,query,...]` — an unknown name
  * exits 2 before any plan is built. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val only = args.lift(1).map(_.split(",").toSet)
    SparkEntry.exitOnUnknown("explain", only)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the local filesystem GraftSession.build serves file: with
      .config(graft.sources.LocalFs.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allDefs
      .filter(d => only.forall(_.contains(d.name)))
      .foreach { d =>
        println(s"\n===================== ${d.name} =====================")
        println(d.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    spark.stop()
  }
}
