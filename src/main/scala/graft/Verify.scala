package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare and registered.json (every
  * registered name, so tools/check.py can tell a rows-only query that
  * failed from a name that was never registered). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration aid;
    // the driver always runs the full set)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    SparkEntry.exitOnUnknown("verify", only)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the local filesystem GraftSession.build serves file: with
      .config(graft.sources.LocalFs.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional broadcast-threshold override. The no-broadcast sweep
    // (SPARK_GRAFT_BCAST_THRESHOLD=-1) withholds every dimHint AND
    // demotes every auto-broadcast to a shuffle join — run against
    // the oracle it proves the suite's RESULTS never depend on which
    // join strategy the planner picked (the 100-TB insurance: at
    // cluster scale AQE makes that choice per-query, per-day).
    sys.env.get("SPARK_GRAFT_BCAST_THRESHOLD")
      .foreach(v => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    // generic runtime-conf override for invariance sweeps
    // (semicolon-separated k=v pairs), e.g. the AQE-off sweep:
    // SPARK_GRAFT_SQL_CONF="spark.sql.adaptive.enabled=false"
    // trim around '=' and reject empty keys: "a = b" must set key "a",
    // not the silently-unread key "a " (ADVICE r14 — a sweep run with a
    // mis-parsed override would test the WRONG configuration and pass)
    sys.env.get("SPARK_GRAFT_SQL_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        if (k.nonEmpty) spark.conf.set(k, v)
        else System.err.println(s"[verify] skipping SQL_CONF pair with empty key: '$kv'")
      })
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release each query's internal persists/checkpoints: a full
      // 100+-query dump would otherwise accumulate every kernel's
      // cached frames in one block manager. BLOCKING (round 18): an
      // async removal can land after the NEXT query's job was
      // scheduled against a stale block-availability view — observed
      // as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND retry flurries; waiting
      // here costs milliseconds per query and removes the race class
      CacheHygiene.sweep(spark, blocking = true)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/registered.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
