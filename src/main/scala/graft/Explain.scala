package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    for (n <- args) {
      println(s"\n======== $n ========")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }
    spark.stop()
  }
}
