package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Writes the rows of `df`'s own plan to `path` as one parquet file.
    * A scoped query builds and pins its plan inside its scope
    * (`GraftSession.pinned`); `df.coalesce(1)` would be a new Dataset,
    * optimized again after the scope has closed, without its rules or
    * confs. `localCheckpoint` runs `df`'s own executed plan.
    */
  def dump(df: DataFrame, path: String): Unit =
    df.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional 3rd+ args: restrict the dump to the named queries (local
    // iteration; the driver always passes exactly two args → full run).
    val only: Set[String] = rest.toSet
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // One schema line per table: when the driver regenerates testdata
    // with a different encoding (it has — events.ts, twice), this log is
    // the first diagnostic to read.
    Tables.names.foreach { n =>
      try System.err.println(s"[verify] schema $n: " +
        Tables.t(spark, sfDir, n).schema.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(","))
      catch { case e: Throwable =>
        System.err.println(s"[verify] schema $n: UNREADABLE ${e.getMessage}")
      }
    }
    // COVERAGE GATE (round 8): a query that throws must still leave an
    // artifact on disk — a 1-row parquet whose `__error` column names the
    // failure — so the driver's compare reports an explicit FAIL row
    // instead of silently dropping the query from the report. Round 7
    // shipped "176/176 pass" while 69 broken queries had simply fallen
    // out of the report; this makes that failure mode impossible.
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    ran.foreach { case (name, fn) =>
      try dump(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        failed += name -> msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq((name, msg.take(500))).toDF("__query", "__error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-artifact write failed: $e2")
        }
      }
    }
    // Registry self-check: every query attempted must have produced an
    // output directory. A mismatch here means a silent drop — fail loudly.
    val dumped = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    val missing = ran.keySet.diff(dumped)
    System.err.println(s"[verify] attempted=${ran.size} dumped=${dumped.size} " +
      s"errored=${failed.size} missing=${missing.size}" +
      (if (missing.nonEmpty) s" MISSING=${missing.toSeq.sorted.mkString(",")}" else ""))
    if (failed.nonEmpty)
      System.err.println(s"[verify] errored queries: " +
        failed.map(_._1).sorted.mkString(","))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest: the AUTHORITATIVE list of attempted queries, written as a
    // flat file (not a dir, so dir-globbing compares skip it). The local
    // gate (tools/check.py) compares against this instead of trusting the
    // set of output dirs it happens to find — a query whose __error
    // artifact write ALSO failed would otherwise still vanish silently.
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      ran.keySet.toSeq.sorted.map(Bench.jstr).mkString("[", ",", "]"))
    spark.stop()
    // The coverage gate's teeth: a silent drop (attempted but no artifact
    // on disk, not even the __error row) must fail the PROCESS, not just
    // print to stderr — automation that only checks the exit code would
    // otherwise read a dropped query as success. Errored-but-artifacted
    // queries deliberately do NOT flip the exit code: their __error rows
    // surface as per-query FAILs in the driver's compare, which is the
    // designed reporting path.
    if (missing.nonEmpty) sys.exit(3)
  }
}
