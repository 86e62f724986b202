package graft

import graft.operators.Ingest
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property gates (SURVEY §5.3): latest-wins dedup is
  * row-order-insensitive and idempotent, and `to_json ∘ from_json` is
  * the identity on the reference payload schema — each checked over
  * generated inputs, not fixtures. Versions are made globally unique by
  * construction: with ties, `max_by` legitimately picks an arbitrary
  * winner (same as the reference's HashMap, whose winner depends on
  * arrival order), so only the tie-free contract is law.
  */
object PropertySpec extends Properties("graft") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** (id, msg) pairs over a tiny key space (collisions guaranteed);
    * version = global index → unique, so latest-wins is a function.
    */
  private val records: Gen[List[(Long, String, Long)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(0L, 6L)
      msg <- Gen.alphaNumStr.map(_.take(8))
    } yield (id, msg))
      .map(_.take(40).zipWithIndex.map { case ((id, m), i) => (id, m, i.toLong) })

  private def dedup(rows: Seq[(Long, String, Long)]): Set[(Long, String, Long)] =
    Ingest.latestWins(rows.toDF("id", "msg", "version"),
        keys = Seq("id"), version = Seq("version"))
      .as[(Long, String, Long)].collect().toSet

  property("latestWins is row-order-insensitive") =
    forAll(records) { rows =>
      dedup(rows) == dedup(scala.util.Random.shuffle(rows))
    }

  property("latestWins is idempotent") =
    forAll(records) { rows =>
      val once = dedup(rows)
      dedup(once.toSeq) == once
    }

  property("latestWins keeps exactly the max-version row per key (vs reference fold)") =
    forAll(records) { rows =>
      val expect = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._3) }.toSet
      dedup(rows) == expect
    }

  property("to_json round-trips the payload schema through from_json") =
    forAll(records) { rows =>
      import org.apache.spark.sql.functions._
      val back = rows.toDF("id", "msg", "version")
        .select(to_json(struct(col("id"), col("msg"))).as("j"), col("version"))
        .select(from_json(col("j"), Ingest.msgSchema).as("p"), col("version"))
        .select(col("p.id"), col("p.msg"), col("version"))
        .as[(Long, String, Long)].collect().toSet
      back == rows.toSet
    }

  /** Keyed timed rows over tiny key/time spaces so equal-time ties and
    * missing-match cases are generated constantly.
    */
  private val timedRows: Gen[(List[(Long, Long)], List[(Long, Long, Long)])] =
    for {
      left <- Gen.nonEmptyListOf(for {
        k <- Gen.chooseNum(0L, 4L); t <- Gen.chooseNum(0L, 12L)
      } yield (k, t)).map(_.take(25))
      right <- Gen.nonEmptyListOf(for {
        k <- Gen.chooseNum(0L, 4L); t <- Gen.chooseNum(0L, 12L)
      } yield (k, t)).map(_.take(25).zipWithIndex.map {
        case ((k, t), i) => (k, t, 100L + i) // unique payload id
      })
    } yield (left, right)

  property("asofForward attaches the min-(time, id) right row at-or-after, vs brute force") =
    forAll(timedRows) { case (left, right) =>
      import org.apache.spark.sql.functions.col
      val lDf = left.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val rDf = right.toDF("rk", "rt", "rid")
      val got = graft.plans.AsOfJoin.asofForward(lDf, rDf,
          leftKey = "k", rightKey = "rk", leftTime = "t", rightTime = "rt",
          rightPayload = Seq("rid"), rightTiebreak = Seq("rid"))
        .select(col("lid"), col("rid"))
        .as[(Long, Option[Long])].collect().toMap
      val want = left.zipWithIndex.map { case ((k, t), i) =>
        val cands = right.filter(r => r._1 == k && r._2 >= t)
        i.toLong -> (if (cands.isEmpty) None
                     else Some(cands.minBy(r => (r._2, r._3))._3))
      }.toMap
      got == want
    }

  /** Random dotted hosts over a tiny label pool (suffix collisions
    * guaranteed) + a random blocklist from the same pool.
    */
  private val hostsAndBlocklist: Gen[(List[String], List[String])] = {
    val label = Gen.oneOf("a", "bb", "c0", "dd", "e")
    // hosts may be a bare 1-label TLD (exercises the empty-suffix guard);
    // blocklist entries are registrable domains, always >= 2 labels
    val host = Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, label).map(_.mkString(".")))
    val domain = Gen.chooseNum(2, 5).flatMap(n =>
      Gen.listOfN(n, label).map(_.mkString(".")))
    for {
      hosts <- Gen.nonEmptyListOf(host).map(_.take(30))
      bl <- Gen.nonEmptyListOf(domain).map(_.take(5).distinct)
    } yield (hosts, bl)
  }

  property("hostSuffixes blocking == (host = d OR host endsWith .d) for any blocklist") =
    forAll(hostsAndBlocklist) { case (hosts, bl) =>
      import org.apache.spark.sql.functions.{array, arrays_overlap, col, lit}
      val got = hosts.toDF("host")
        .select(col("host"), arrays_overlap(
          graft.operators.NetOps.hostSuffixes(col("host")),
          array(bl.map(lit): _*)).as("blocked"))
        .as[(String, Boolean)].collect().toMap
      hosts.forall { h =>
        val want = bl.exists(d => h == d || h.endsWith("." + d))
        got(h) == want
      }
    }

  /** CIDR containment: the one-division equality used by the /8-bucket
    * join is exactly interval membership, for every prefix and address.
    */
  property("ip div 2^(32-p) == net div 2^(32-p)  <=>  net <= ip <= net+2^(32-p)-1") =
    forAll(for {
      p <- Gen.chooseNum(1, 32)
      ip <- Gen.chooseNum(0L, (1L << 32) - 1)
      raw <- Gen.chooseNum(0L, (1L << 32) - 1)
    } yield (p, ip, raw)) { case (p, ip, raw) =>
      val div = 1L << (32 - p)
      val net = (raw / div) * div // aligned network address
      val byDiv = ip / div == net / div
      val byRange = ip >= net && ip <= net + div - 1
      byDiv == byRange
    }

  /** Partial-aggregate merge: any K-way split of the rows merges to the
    * direct aggregate (the incremental-refresh contract, generated form).
    */
  property("mergePartials over any split == direct monthly aggregate") =
    forAll(for {
      rows <- Gen.nonEmptyListOf(for {
        m <- Gen.chooseNum(1, 4)
        cents <- Gen.chooseNum(1L, 500L)
      } yield (m, cents)).map(_.take(30))
      cuts <- Gen.chooseNum(1, 3)
    } yield (rows, cuts)) { case (rows, k) =>
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      def partials(rs: Seq[(Int, Long)]) =
        rs.toDF("m", "c")
          .select(org.apache.spark.sql.functions.make_date(lit(2020), col("m"), lit(1))
            .cast("timestamp").as("month"), col("c"))
          .groupBy("month")
          .agg(count(lit(1)).as("n_orders"), sum("c").as("cents"))
      val parts = rows.grouped(math.max(1, rows.size / k)).map(partials).toSeq
      val merged = graft.operators.IncrOps.mergePartials(parts)
        .as[(java.sql.Timestamp, Long, Long)].collect().toSet
      val direct = partials(rows)
        .as[(java.sql.Timestamp, Long, Long)].collect().toSet
      merged == direct
    }

  /** Unicode normalization: codegen path == interpreted helper, and both
    * modes are idempotent, over strings mixing ASCII, precomposed and
    * combining-mark forms.
    */
  property("normalize_text codegen == interpreted; idempotent in both modes") = {
    val piece = Gen.oneOf("abc", "caf\u00e9", "cafe\u0301", "\u00fc", "u\u0308",
      "na\u00efve", " ", "x")
    forAll(Gen.listOf(piece).map(_.take(12).mkString)) { s0 =>
      Seq(false, true).forall { fold =>
        import org.apache.spark.sql.functions.expr
        val viaExpr = Seq(s0).toDF("w")
          .select(expr(s"normalize_text(w, $fold)")).as[String].collect()(0)
        val direct = graft.functions.NormalizeText.normalize(
          org.apache.spark.unsafe.types.UTF8String.fromString(s0), fold).toString
        val again = graft.functions.NormalizeText.normalize(
          org.apache.spark.unsafe.types.UTF8String.fromString(direct), fold).toString
        viaExpr == direct && again == direct
      }
    }
  }

  /** SargableDateRule: for random timestamp sets, patterns, comparison
    * operators, and literals (canonical period strings derived from a
    * row, so boundary cases are guaranteed to occur), the rewritten
    * predicate selects exactly the rows the date_format string
    * comparison selects — and the rewrite actually fired.
    */
  property("sargable-date rewrite preserves comparison semantics for all shapes") = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val micros = Gen.chooseNum(1700000000000000L, 1760000000000000L) // 2023-11..2025-10
    val pattern = Gen.oneOf("yyyy", "yyyy-MM", "yyyy-MM-dd")
    val op = Gen.oneOf("=", "<", "<=", ">", ">=")
    forAll(Gen.nonEmptyListOf(micros).map(_.take(30)), pattern, op,
      Gen.chooseNum(0, 29)) { (tss, pat, o, pickIdx) =>
      val df = tss.toDF("us").select(col("us"), timestamp_micros(col("us")).as("ts"))
      // literal = the pattern-rendering of one of the rows → real
      // boundary collisions every case
      val pick = tss(pickIdx % tss.length)
      val lit0 = df.where(col("us") === pick)
        .select(expr(s"date_format(ts, '$pat')")).as[String].collect()(0)
      val cond = expr(s"date_format(ts, '$pat') $o '$lit0'")
      val brute = df.where(cond).select("us").as[Long].collect().toSet
      GraftSession.scoped(spark, rules = Seq(graft.plans.SargableDateRule)) {
        val q = df.where(cond)
        val rewritten = !q.queryExecution.optimizedPlan.toString.contains("date_format")
        rewritten && q.select("us").as[Long].collect().toSet == brute
      }
    }
  }

  /** Log compaction ≡ the per-(partition, key) max-offset fold, for any
    * generated log (keys colliding, null keys, multiple partitions),
    * and idempotent.
    */
  property("kafkalog compaction keeps exactly the per-(partition,key) maxima; idempotent") = {
    import graft.sources.kafkalog.{KafkaLog, KafkaLogCompaction}
    import org.apache.spark.sql.functions.{col, get_json_object}
    val recGen = for {
      p <- Gen.chooseNum(0, 2)
      k <- Gen.option(Gen.chooseNum(0, 5))
    } yield (p, k)
    forAll(Gen.nonEmptyListOf(recGen).map(_.take(40))) { rs =>
      // per-partition dense offsets by arrival order; null key ~ 1/7
      val rows = rs.groupBy(_._1).toSeq.flatMap { case (p, prs) =>
        prs.zipWithIndex.map { case ((_, k), off) =>
          (p, off.toLong,
            k.map(kk => s"""{"k":"$kk"}""").getOrElse("no key here"))
        }
      }
      val dir = Scratch.dir("compact_prop") + "/log"
      KafkaLog.write(rows.toDF("partition", "offset", "value"), dir)
      def read() = spark.read.format("kafkalog").load(dir)
        .as[(Int, Long, String)].collect().toSet
      KafkaLogCompaction.compact(spark, dir, get_json_object(col("value"), "$.k"))
      val got = read()
      val keyed = rows.filter(_._3.startsWith("{"))
        .groupBy(r => (r._1, r._3)).map { case (_, g) => g.maxBy(_._2) }.toSet
      val nullKeyed = rows.filterNot(_._3.startsWith("{")).toSet
      val expected = keyed ++ nullKeyed
      KafkaLogCompaction.compact(spark, dir, get_json_object(col("value"), "$.k"))
      got == expected && read() == expected
    }
  }

  /** Waterfilling invariants over random availabilities/weights/budgets:
    * caps respected, no overshoot, bounded undershoot, saturation is a
    * ratio prefix, and sources with equal ratios are treated alike.
    * Pure-Scala replica of the registered arithmetic (same int64 ops).
    */
  property("waterfilling allocation: caps, tightness, ratio-prefix saturation") = {
    val srcGen = for {
      avail <- Gen.chooseNum(1L, 1000L)
      w <- Gen.chooseNum(1L, 5L)
    } yield (avail, w)
    forAll(Gen.nonEmptyListOf(srcGen).map(_.take(12).zipWithIndex),
      Gen.chooseNum(1L, 100L)) { (srcs, pct) =>
      val total = srcs.map(_._1._1).sum
      val budget = total * (pct % 100 + 1) / 100
      val wtot = srcs.map(_._1._2).sum
      val ordered = srcs.sortBy { case ((a, w), i) => (a.toDouble / w, i) }
      var (pa, pw) = (0L, 0L)
      val flagged = ordered.map { case ((a, w), i) =>
        val sat = a * (wtot - pw) <= (budget - pa) * w
        pa += a; pw += w
        ((a, w), i, sat)
      }
      val cm = flagged.filter(_._3).map(_._1._1).sum
      val wm = flagged.filter(_._3).map(_._1._2).sum
      val allocs = flagged.map { case ((a, w), _, sat) =>
        if (sat) a
        else if (wtot == wm) 0L
        else math.max(0L, (budget - cm) * w / (wtot - wm))
      }
      val capsOk = flagged.zip(allocs).forall { case (((a, _), _, _), al) =>
        al >= 0 && al <= a
      }
      val totalAlloc = allocs.sum
      val noOvershoot = totalAlloc <= budget
      val tight = budget >= total || budget - totalAlloc <= flagged.count(!_._3) + 1
      val prefix = {
        val firstUnsat = flagged.indexWhere(!_._3)
        firstUnsat < 0 || flagged.drop(firstUnsat).forall(!_._3)
      }
      capsOk && noOvershoot && tight && prefix
    }
  }

  /** Small keyed base (unique keys) + a delta over an overlapping key
    * space (updates/deletes hit base keys, inserts miss), one action per
    * delta key — the MERGE precondition.
    */
  private val keyedTableAndDelta: Gen[(List[(Long, String)], List[(Long, String, Boolean)])] =
    for {
      baseKeys <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 9L)).map(_.distinct.take(8))
      delta <- Gen.listOf(for {
        k <- Gen.chooseNum(0L, 14L)
        del <- Gen.oneOf(true, false)
        msg <- Gen.alphaNumStr.map(s => s"d${s.take(3)}")
      } yield (k, msg, del))
        .map(_.groupBy(_._1).map(_._2.head).toList.take(8))
    } yield (baseKeys.map(k => (k, s"v$k")), delta)

  property("changeFeed applied to v1 reconstructs v2 (round-trip law)") =
    forAll(keyedTableAndDelta) { case (base, delta) =>
      import graft.sources.VersionedTable
      val dir = Scratch.dir("cdf_prop") + "/t"
      VersionedTable.append(base.toDF("k", "payload"), dir)
      VersionedTable.merge(spark, dir,
        delta.toDF("k", "payload", "del"), keys = Seq("k"), deleteFlag = "del")
      val feed = VersionedTable.changeFeed(spark, dir, Seq("k"), 1, 2)
        .as[(Long, String, String)].collect()
      val applied = feed.foldLeft(base.toMap) {
        case (m, (k, "insert", p))           => m + (k -> p)
        case (m, (k, "update_postimage", p)) => m + (k -> p)
        case (m, (k, "delete", _))           => m - k
        case (m, (_, "update_preimage", _))  => m
        case (_, (_, ct, _)) => sys.error(s"unknown change_type $ct")
      }
      val v2 = VersionedTable.read(spark, dir).as[(Long, String)].collect().toMap
      applied == v2
    }

  property("mergePruned ≡ merge: identical final state on any base+delta") =
    forAll(keyedTableAndDelta) { case (base0, delta0) =>
      import graft.sources.VersionedTable
      import org.apache.spark.sql.functions.col
      // zero-padded string keys (the stats grammar needs order-preserving
      // images); same payloads through both merge paths
      val base = base0.map { case (k, p) => (f"$k%06d", p) }
      val delta = delta0.map { case (k, p, d) => (f"$k%06d", p, d) }
      val full = Scratch.dir("mp_full") + "/t"
      val pruned = Scratch.dir("mp_pru") + "/t"
      val baseDf = base.toDF("k", "payload").repartitionByRange(3, col("k"))
      VersionedTable.append(baseDf, full)
      VersionedTable.appendWithStats(baseDf, pruned, "k")
      val deltaDf = delta.toDF("k", "payload", "del")
      VersionedTable.merge(spark, full, deltaDf, keys = Seq("k"), deleteFlag = "del")
      VersionedTable.mergePruned(spark, pruned, deltaDf, key = "k", deleteFlag = "del")
      val a = VersionedTable.read(spark, full).as[(String, String)].collect().toSet
      val b = VersionedTable.read(spark, pruned).as[(String, String)].collect().toSet
      a == b
    }

  // Spark job per case — 10 cases hits plenty of collision/shuffle
  // variety with the 7-key space above
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)
}
