package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** EXPLAIN ANALYZE for registry queries: execute, then print the FINAL
  * physical plan annotated with each operator's runtime metrics
  * (rows out, spill, shuffle bytes...) — the per-operator truth that
  * `.explain` cannot show and a 100 TB tuning session lives on
  * (which join exploded, which aggregate reduced, where rows actually
  * died). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Analyze q3_shipping"
  *
  * AQE-aware: the tree printed is the adaptively re-planned FINAL plan,
  * not the initial guess.
  */
object Analyze {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    args.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = q.run(spark, sfDir)
      // drive THIS QueryExecution's physical plan (a noop write would
      // wrap the query in its own command plan and leave these metric
      // instances untouched)
      df.queryExecution.toRdd.foreachPartition(_ => ())
      println(s"\n======== $name (analyzed) ========")
      print(render(df.queryExecution.executedPlan, 0))
    }
    spark.stop()
  }

  /** The interesting per-operator metrics, skipping zeros. */
  private val Shown = Seq("numOutputRows", "numFiles", "filesSize",
    "shuffleBytesWritten", "dataSize", "spillSize", "numPartitions",
    "peakMemory", "maxProbeKeys")

  def render(p: SparkPlan, indent: Int): String = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => return render(a.executedPlan, indent)
      case other => other
    }
    val ms = self.metrics.toSeq
      .filter { case (k, m) => Shown.contains(k) && m.value > 0 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }
      .mkString(" ")
    val line = ("  " * indent) + self.nodeName +
      (if (ms.nonEmpty) s"  [$ms]" else "") + "\n"
    line + self.children.map(render(_, indent + 1)).mkString +
      // AQE nests re-used/shuffle stages as leaf wrappers with inner plans
      (self match {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          render(s.plan, indent + 1)
        case _ => ""
      })
  }
}
