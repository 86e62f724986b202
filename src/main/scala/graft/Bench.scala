package graft

/** Benchmark main: times the headline queries (GQuery.bench) on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is forced through the noop sink (`format("noop")`) so the
  * FULL plan executes — `count()` would let Catalyst prune projections
  * and undercount the real work.
  */
object Bench {

  /** Single-JVM local mode: shuffle/broadcast bytes never cross a wire,
    * so compression is pure CPU overhead at this scale (on a real
    * cluster these stay at their network-bound defaults).
    */
  val LocalCompressionOff: Map[String, String] = Map(
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.broadcast.compress" -> "false")

  /** A JSON string literal: quote, backslash and ALL control chars
    * below 0x20 escaped. An exception message carrying a raw tab or CR,
    * or a tab in builder-authored oracle SQL, would otherwise make the
    * bench line or Verify's `oracle_sql.json` unparseable.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(extra = LocalCompressionOff)
    spark.sparkContext.setLogLevel("WARN")

    val headline = SparkEntry.registry.filter(_.bench)
    val loadStart = QuietBox.readLoadAvg
    // Quiet-box self-label (QuietBox): /proc/stat busy-fraction over a
    // 1.5 s SLEEP window at process start — before any warmup — so the
    // sample sees OTHER processes' load, not this benchmark's own. The
    // previous loadavg(1m)-at-start gate could never pass under the sbt
    // launcher: sbt's own startup pushes the 1-minute average past the
    // 0.5 threshold before Bench reads it (measured twice on an idle
    // box, r13), so committed artifacts always self-labeled contended.
    // loadavg start/end stay in-band as context.
    val busyFrac: Double = QuietBox.busyWindow()
    // Warm one-time SESSION costs so the first timed query doesn't pay
    // them (a fresh cluster pays these once at startup, not per query):
    // file listings + parquet footers for every table (Tables.t caches
    // the relations), the events read path, and the engine's
    // codegen/JIT paths — window exec, broadcast + sort-merge join,
    // HOF lambdas, string kernels — on a 100-row synthetic frame. The
    // timed queries themselves are never planned or executed here.
    //
    // Every warmup step is individually guarded: a warmup throw must
    // NEVER kill the artifact (an unguarded events load here ate the
    // entire r6 AND r7 bench output). Errors are reported in-band as
    // "warmup_errors" so the JSON line always prints.
    val warmupErrors = scala.collection.mutable.ListBuffer.empty[String]
    def warm(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        warmupErrors += s"$step: ${e.toString.take(200)}"
      }
    warm("table_footers")(Tables.names.foreach(n => Tables.t(spark, sfDir, n).schema))
    warm("scan_agg")(spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count())
    warm("events_read")(
      Tables.t(spark, sfDir, "events").select("event_id").limit(1).count())
    warm("codegen_paths") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = (1 to 100).map(i => (i.toLong, s"k${i % 7}", i * 1.5)).toDF("id", "k", "v")
      val dim = Seq(("k1", "a"), ("k2", "b")).toDF("k", "lbl")
      w.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(desc("v"))))
        .where(col("rn") <= 3)
        .join(broadcast(dim), Seq("k"), "left")
        .join(w.select(col("k"), col("v").as("v2")), "k")
        .select(col("k"), upper(col("lbl")), col("v") + col("v2"),
          aggregate(transform(sequence(lit(1), lit(8)), _.cast("double")),
            lit(0.0), (a, x) => a + x))
        .write.format("noop").mode("overwrite").save()
    }

    // Per-query failures are caught AND surfaced in the JSON artifact
    // (not just stderr) — a failed query otherwise reads as a ~0s time,
    // i.e. a silent improvement.
    val queryErrors = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeOnce(q: GQuery): Double = {
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        queryErrors += q.name
        System.err.println(s"[bench] ${q.name}: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Cold pass (includes per-query plan+codegen compile — the contract
    // number, single rep by design), then WARM_REPS full warm passes.
    // Warm times are reported as per-query MIN and MEDIAN across reps:
    // this machine is shared with the driver's own jobs, and a single-rep
    // warm pass under contention once overstated warm times 3.5× (the
    // r8 artifact read 21.4s warm while an idle-machine re-run measured
    // 6.1s). Min filters transient load; median shows the typical rep;
    // the raw per-rep values ride the detail SIDECAR (r16 split — the
    // stdout line must fit the driver's 2000-char tail window), keyed
    // back to this run by the run_id stamped in both emissions.
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val cold = headline.map(q => q.name -> timeOnce(q))
    val warmRuns: Seq[Seq[(String, Double)]] =
      (1 to warmReps).map(_ => headline.map(q => q.name -> timeOnce(q)))
    val byQuery: Seq[(String, Seq[Double])] =
      headline.map(_.name).zipWithIndex.map { case (n, i) =>
        n -> warmRuns.map(_(i)._2)
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val warmMin = byQuery.map { case (n, xs) => n -> xs.min }
    val warmMed = byQuery.map { case (n, xs) => n -> median(xs) }
    def fmt(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    // stdout per-query figures at 2 decimals — the line's r17 growth
    // (run_id + detail_file) ate the tail-window head margin back below
    // the 800-char target; totals stay 3dp (the BASELINE-comparable
    // numbers) and full-precision per-query figures ride the sidecar.
    def fmt2(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + f"""":$v%.2f""" }.mkString("{", ",", "}")
    def fmtReps(m: Seq[(String, Seq[Double])]) =
      m.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val total = cold.map(_._2).sum
    val totalWarm = warmMin.map(_._2).sum
    // The headline set grew 12 → 14 in r14 (the adaptive-width scale
    // twins sim_pairs_threshold_scaled / sim_ann_lsh_scaled) and → 15
    // in r15 (emb_hard_negatives — the third restructured production
    // path, previously the only one with no committed cold/warm row),
    // so a regression in the 100 TB production paths shows
    // round-over-round. "value"/"warm_total" therefore stop being
    // comparable to the r5-accepted BASELINE total, which timed
    // exactly these 12 names; the legacy12_* fields keep the
    // like-for-like number in-band.
    val legacy12 = Set("ingest_latest_global", "q1_pricing", "q3_shipping",
      "q5_region_revenue", "join_broadcast", "window_topk_per_group",
      "sort_topk", "q6_forecast_revenue", "text_bigrams",
      "dedup_ngram_jaccard", "sim_topk_bruteforce", "asof_join")
    val legacyCold = cold.filter(p => legacy12(p._1)).map(_._2).sum
    val legacyWarm = warmMin.filter(p => legacy12(p._1)).map(_._2).sum
    def strArr(xs: Iterable[String]) = xs.map(jstr).mkString("[", ",", "]")
    // Machine-load context: this host is shared with the driver's own
    // jobs, and a loaded machine once inflated a single-rep artifact
    // 3.5×. The 1-minute load average at start and end lets a reader
    // judge whether an outlier rep was the engine or the machine.
    val loadEnd = QuietBox.readLoadAvg
    // Second quiet window AFTER the timed runs (r14 advisor: a single
    // 1.5 s start window can miss bursty contenders — that round's
    // artifact sampled busy_frac 0.0004 while loadavg already read
    // 3.53), and after spark.stop() so this session's own residual
    // GC/JIT/daemon threads don't count toward busy and spuriously
    // trip the label (r15 advisor). Contended if EITHER window trips.
    spark.stop()
    val busyFracEnd: Double = QuietBox.busyWindow()
    val contended = busyFrac > QuietBox.Threshold || busyFracEnd > QuietBox.Threshold
    // Two emissions (r15: the single stdout line had grown past the
    // driver's tail-capture window, truncating the JSON's HEAD — the
    // committed BENCH_r15.json artifact carried `parsed: null`):
    //  - stdout gets ONE COMPACT line — the driver-contract fields
    //    (metric/value/unit/queries/sf) plus the warm mins, legacy12
    //    sums, errors, and the quiet-box label;
    //  - the per-rep detail (median + raw reps per query) goes to a
    //    sidecar file whose path rides in-band as "detail_file".
    // Per-run id shared by the stdout line and the sidecar: the fixed
    // default sidecar path let successive runs overwrite each other, so
    // a saved artifact's detail_file could silently point at ANOTHER
    // run's per-rep data (r16 advisor). The id makes the default path
    // unique per run AND lets a reader verify a sidecar belongs to the
    // line even when SPARK_GRAFT_BENCH_DETAIL pins a shared path.
    // base36 timestamp keeps the id (and the default path it names)
    // short — every char here is tail-window head margin.
    val runId = s"${ProcessHandle.current().pid()}-" +
      java.lang.Long.toString(System.currentTimeMillis(), 36)
    val core = f""""metric":"total","value":$total%.3f,"unit":"sec","queries":${fmt2(cold)},"warm_total":$totalWarm%.3f,"queries_warm":${fmt2(warmMin)},"warm_reps":$warmReps,"legacy12_total":$legacyCold%.3f,"legacy12_warm_total":$legacyWarm%.3f,"warmup_errors":${strArr(warmupErrors)},"query_errors":${strArr(queryErrors)},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"busy_frac_start":$busyFrac%.4f,"busy_frac_end":$busyFracEnd%.4f,"contended":$contended,"run_id":"$runId","sf":"$sfDir""""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"target/gbd_$runId.json")
    // Rotate stale default-stem sidecars before writing this run's
    // (r17 advisor: unique per-run paths otherwise accumulate in
    // `target/` forever). Like the line mirror below, the sidecar is an
    // output read after the JVM exits, so it lives in the build tree,
    // not in scratch. Only the default stems are swept — an env-pinned
    // SPARK_GRAFT_BENCH_DETAIL path is the caller's to manage. A prior
    // artifact's detail_file dangling after the sweep is the accepted
    // cost: the run_id stamped in both emissions is what binds a saved
    // line to a sidecar, and a reader who archives a bench run archives
    // the sidecar with it.
    try {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get("target"))
      try listing.forEach { p =>
        val n = p.getFileName.toString
        if ((n.startsWith("gbd_") || n.startsWith("graft_bench_detail_")) &&
            n.endsWith(".json"))
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () }
      } finally listing.close()
    } catch { case _: Throwable => () } // rotation is best-effort too
    val wroteDetail =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
          s"""{$core,"queries_cold":${fmt(cold)},"queries_warm_min":${fmt(warmMin)},"queries_warm_median":${fmt(warmMed)},"queries_warm_all":${fmtReps(byQuery)}}\n"""
            .getBytes("UTF-8"))
        true
      } catch { case _: Throwable => false } // detail is best-effort; the line must print
    val line =
      s"""{$core${if (wroteDetail) s""","detail_file":${jstr(detailPath)}""" else ""}}"""
    // Belt-and-braces copy of the EXACT stdout line at a fixed path
    // inside the build tree (r18 verdict task 2): if a launcher ever
    // mangles stdout again the line is still recoverable verbatim. Fixed
    // (not per-run) by design — it is "the last bench run of this
    // checkout", not an archive; SPARK_GRAFT_BENCH_LINE overrides it.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE",
        "target/graft_bench_line.json")), (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // the mirror is best-effort too
    println(line)
  }
}
