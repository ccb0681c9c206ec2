package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  /** Build a FRESH SparkSession with GraftExtensions applied even when
    * another suite already owns the default session: getOrCreate only
    * applies extensions to a NEW session, so clear the active/default
    * slots, build (reusing the shared SparkContext), and restore. */
  private def withExtensionSession[A](f: SparkSession => A): A = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.sql.ui.enabled", "false")
        // as TestSpark: this builder may be the one that starts the
        // shared SparkContext
        .config(graft.sources.LocalFs.sparkConf)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(s) // do NOT stop: it would stop the shared SparkContext
    } finally {
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions exposes dot_product / l2_norm to SQL") {
    withExtensionSession { spark =>
      val row = spark.sql(
        """SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d,
          |       l2_norm(array(3.0d, 4.0d)) AS n""".stripMargin).collect()(0)
      assert(row.getDouble(0) == 32.0)
      assert(row.getDouble(1) == 5.0)
      // the imperative-aggregate sketch ships through the same entry
      // point: 'b' dominates and must lead the heavy-hitter output
      val hh = spark.sql(
        """SELECT mg_topk(t, 2) AS hh FROM VALUES ('a'),('b'),('b'),('b'),('c')
          |  AS v(t)""".stripMargin).selectExpr("hh[0].token").collect()(0)
      assert(hh.getString(0) == "b")
    }
  }

  test("GraftExtensions alone plans the native as-of join (no AsOf.register)") {
    // the cluster deployment path: spark.sql.extensions=graft.GraftExtensions
    // must be sufficient for the whole-operator stack
    withExtensionSession { spark =>
      import spark.implicits._
      import org.apache.spark.sql.graftbridge.DatasetBridge
      val l = DatasetBridge.analyzedPlan(Seq((1L, 10L), (2L, 20L)).toDF("k", "t"))
      val r = DatasetBridge.analyzedPlan(Seq((1L, 5L, "x")).toDF("rk", "rt", "p"))
      val joined = DatasetBridge.ofRows(spark,
        graft.plans.AsOfJoin(l, r, l.output.head, r.output.head, l.output(1), r.output(1)))
      // physical nodeName prints without the Exec suffix; check the type
      assert(joined.queryExecution.executedPlan.collectWithSubqueries {
        case e: graft.plans.AsOfJoinExec => e
      }.nonEmpty || joined.queryExecution.executedPlan.toString.contains("AsOfJoin"),
        s"strategy did not plan the operator:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 2)
    }
  }

  test("register() makes the functions available on an existing session") {
    val spark = TestSpark.spark
    graft.functions.VectorFunctions.register(spark)
    val row = spark.sql("SELECT dot_product(array(1.0d, 1.0d), array(2.0d, 3.0d)) AS d")
      .collect()(0)
    assert(row.getDouble(0) == 5.0)
  }
}
