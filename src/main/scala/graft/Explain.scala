package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection aid: print the formatted physical plan of named
  * registered queries (`runMain graft.Explain q1 q2 …`), against
  * `SPARK_GRAFT_SF_DIR` (default sf0.001). `SPARK_GRAFT_EXPLAIN_EXEC=1`
  * additionally executes each query and prints the AQE-final tree —
  * the plan the cluster actually ran, which is what scale audits care
  * about. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("weekly_summary")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"########## $name ##########")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      if (sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")) {
        df.write.format("noop").mode("overwrite").save()
        println(s"---------- $name AQE-final ----------")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
