package graft

/** Dump `.explain("formatted")` for named registry queries to files —
  * the optimization-round evidence artifact (`plans/rNN/<q>_<tag>.txt`).
  *
  *   tools/grun.sh graft.ExplainTo plans/r18 before q1_pricing q3_shipping
  *
  * Session config mirrors Bench (same AQE/partitions/hugeMethodLimit) so
  * the captured initial plans are the ones the bench executes.
  */
object ExplainTo {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[explainto] wrote $outDir/${n}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
