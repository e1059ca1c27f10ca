package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection utility: prints the formatted physical plan for one
  * query (or all) so scan pruning, pushed filters, broadcast joins and
  * whole-stage-codegen coverage can be audited.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) Seq(args(1)) else SparkEntry.queries.keys.toSeq.sorted
    // same profile as Bench/Verify so the audited plan IS the shipped plan
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
