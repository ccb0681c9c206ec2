package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** All oracle-checked operators, aggregated from the modules. */
  def allDefs: Seq[QueryDef] =
    MrCore.defs ++ Relational.defs ++ TpchSuite.defs ++ Advanced.defs ++ ScalarOps.defs ++
      Events.defs ++ TextAnalysis.defs ++ Dedup.defs ++ Similarity.defs ++
      Multimodal.defs ++ Pipelines.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** DuckDB-runnable oracle SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** Fail fast on a query subset naming an unregistered query: print
    * the unknown and the known names to stderr and exit 2, so a typo'd
    * subset never runs (or checks) nothing and reports success. */
  private[graft] def exitOnUnknown(tool: String, names: Option[Iterable[String]]): Unit = {
    val unknown = names.toSeq.flatten.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[$tool] unknown queries: ${unknown.mkString(", ")}; " +
        s"known: ${queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
  }
}
