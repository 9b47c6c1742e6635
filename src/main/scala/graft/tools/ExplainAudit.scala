package graft.tools

import graft.{Harness, SparkEntry}

/** Dev tool: dump formatted physical plans for selected queries so
  * pushdown / broadcast / codegen can be audited. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "s2_scan_pushdown", "j1_meta_join", "a3_group_stats", "j3_nn_join",
      "j9_dust_theta_join", "m3_iqr_outlier_clean", "w1_nearest_rank")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
