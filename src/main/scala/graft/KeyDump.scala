package graft

import org.apache.spark.sql.functions._

/** Codegen-kernel microbench for the SRP keying stage (part of the
  * measurement protocol, next to [[BenchOne]]/[[ScaleUp]]/[[Analyze]]):
  * times `SimilarityOps.srpKeyed` on the grown `SrpStride` layout at
  * pinned (planes, tables) widths over the SAME input slice —
  * independent of corpus size — and prints per-stage generated-code
  * sizes and janino bytecode stats, the numbers that show whether the
  * keying method stays under HotSpot's 8000-bytecode JIT ceiling
  * (SCALE.md "Round-16: the hugeMethodLimit evidence" and the r19
  * KeyDump rows).
  *
  *   sbt "runMain graft.KeyDump /tmp/sf16x/embeddings.parquet 20000 12:16 13:18 14:20"
  *
  * args: inputParquet [rowCap] [planes:tables ...] (defaults: 20000
  * rows, widths 12:16 13:18 14:20 — the production-grown steps).
  * Env: KEYDUMP_HML sets spark.sql.codegen.hugeMethodLimit (default
  * 65535 = Spark's default, i.e. the BEFORE leg; pass 8000 for the
  * engine's production setting), KEYDUMP_FACTORY sets
  * spark.sql.codegen.factoryMode, KEYDUMP_CODE=1 dumps each stage's
  * generated source to target/keydump/p<planes>_t<tables>_s<stageIdx>.java.
  */
object KeyDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: KeyDump <embeddings.parquet> [rowCap] [planes:tables ...]")
    val inputPath = args(0)
    val rowCap = args.drop(1).headOption.filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(20000)
    val widths = args.drop(1).filter(_.contains(":")).toSeq match {
      case Seq() => Seq((12, 16), (13, 18), (14, 20))
      case ws => ws.map { w =>
        val Array(p, t) = w.split(":"); (p.toInt, t.toInt)
      }
    }
    val spark = GraftSession(aqe = false, extra = Map(
      "spark.sql.codegen.hugeMethodLimit" -> sys.env.getOrElse("KEYDUMP_HML", "65535"),
      "spark.sql.codegen.factoryMode" -> sys.env.getOrElse("KEYDUMP_FACTORY", "FALLBACK")))
    spark.sparkContext.setLogLevel("WARN")
    val e = spark.read.parquet(inputPath)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as em")
      .where(col("vec_id") < rowCap)
    e.count()
    for ((p, t) <- widths) {
      val keyed = graft.operators.SimilarityOps
        .srpKeyed(e, p, t, dims = 64, stride = graft.operators.SimilarityOps.SrpStride)
        .select(count(col("bk")))
      val codes = org.apache.spark.sql.execution.debug
        .codegenStringSeq(keyed.queryExecution.executedPlan)
      val t0 = System.nanoTime()
      try {
        keyed.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[keydump] planes=$p tables=$t wall=$secs%.2f s " +
          s"stages=${codes.size} codeChars=${codes.map(_._2.length).mkString(",")} " +
          s"bytecodeStats=${codes.map(_._3.toString).mkString(";")}")
        if (sys.env.contains("KEYDUMP_CODE")) {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target/keydump"))
          codes.zipWithIndex.foreach { case ((_, code, bcs), i) =>
            val name = s"target/keydump/p${p}_t${t}_s$i.java"
            java.nio.file.Files.write(java.nio.file.Paths.get(name), code.getBytes)
            println(s"[keydump] wrote $name bytecodeStats=$bcs")
          }
        }
      } catch { case ex: Throwable =>
        println(s"[keydump] planes=$p tables=$t FAILED: " +
          ex.toString.take(300))
      }
    }
    spark.stop()
  }
}
