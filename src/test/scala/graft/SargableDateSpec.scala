package graft

import graft.plans.SargableDateRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sargable-date rewrite: every comparison shape agrees with the
  * unrewritten form, bounds reach the scan's pushed filters, and
  * malformed/unsupported inputs are left untouched.
  */
class SargableDateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.t(spark, sf, "events")

  private def hasDateFormat(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("date_format")

  test("all six comparison shapes rewrite and agree with the brute form") {
    val shapes: Seq[org.apache.spark.sql.Column] = Seq(
      date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15",
      date_format(col("ts"), "yyyy-MM-dd") >= "2024-01-20",
      date_format(col("ts"), "yyyy-MM-dd") > "2024-01-20",
      date_format(col("ts"), "yyyy-MM-dd") <= "2024-01-10",
      date_format(col("ts"), "yyyy-MM-dd") < "2024-01-10",
      lit("2024-01-15") === date_format(col("ts"), "yyyy-MM-dd"))
    shapes.foreach { cond =>
      val brute = events.where(cond).count()
      GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
        val q = events.where(cond)
        assert(!hasDateFormat(q), s"not rewritten: $cond\n" +
          q.queryExecution.optimizedPlan)
        assert(q.count() == brute, s"row drift under rewrite: $cond")
      }
    }
  }

  test("year and month patterns rewrite too") {
    GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
      val y = events.where(date_format(col("ts"), "yyyy") === "2024")
      assert(!hasDateFormat(y))
      assert(y.count() == events.count()) // the whole fixture is 2024
      val m = events.where(date_format(col("ts"), "yyyy-MM") === "2024-02")
      assert(!hasDateFormat(m))
      assert(m.count() == 0) // fixture is January only
    }
  }

  test("the rewritten bounds reach the parquet scan's pushed filters") {
    GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
      val q = events.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15")
        .select("event_id")
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: [") &&
        (physical.contains("GreaterThanOrEqual(ts") || physical.contains("LessThan(ts")),
        s"bounds not pushed:\n$physical")
    }
  }

  test("extreme years (BCE, year 1, 9999, +10000) keep string semantics") {
    // Out-of-span renders go signed-proleptic (+10000, -0500) and sort
    // BELOW digit-leading literals while +10000 is chronologically
    // ABOVE them — the span-end guard on the range shapes exists for
    // exactly these rows. Differential: every shape, rewritten vs
    // brute, on a fixture spanning the breakage points.
    val wild = Seq(
      "-0500-03-01 12:00:00", "0001-01-01 00:00:00", "0999-12-31 23:59:59",
      "1000-01-01 00:00:00", "2024-06-15 12:34:56", "9999-12-31 23:59:59",
      "10000-01-15 00:00:00", "10500-07-01 00:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    assert(wild.where(col("ts").isNull).count() == 0, "fixture parse failure")
    for {
      pat <- Seq("yyyy", "yyyy-MM", "yyyy-MM-dd")
      lit0 <- Seq("2024", "0999", "9999").map {
        case y if pat == "yyyy" => y
        case y if pat == "yyyy-MM" => s"$y-06"
        case y => s"$y-06-15"
      }
      cond <- Seq(
        date_format(col("ts"), pat) === lit0,
        date_format(col("ts"), pat) >= lit0,
        date_format(col("ts"), pat) > lit0,
        date_format(col("ts"), pat) <= lit0,
        date_format(col("ts"), pat) < lit0)
    } {
      val brute = wild.where(cond).collect().map(_.toString).sorted.toSeq
      GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
        val q = wild.where(cond)
        assert(!hasDateFormat(q), s"not rewritten: $cond")
        assert(q.collect().map(_.toString).sorted.toSeq == brute,
          s"extreme-year drift under rewrite: $cond")
      }
    }
  }

  test("malformed literals and unsupported patterns are untouched") {
    GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
      // wrong width, invalid month, garbage, unsupported pattern
      Seq(
        date_format(col("ts"), "yyyy-MM-dd") === "2024-1-15",
        date_format(col("ts"), "yyyy-MM") === "2024-13",
        date_format(col("ts"), "yyyy-MM-dd") === "garbage",
        date_format(col("ts"), "dd/MM/yyyy") === "15/01/2024"
      ).foreach { cond =>
        val q = events.where(cond)
        assert(hasDateFormat(q), s"should not have rewritten: $cond")
      }
      // invalid month/garbage predicates still evaluate to empty
      assert(events.where(date_format(col("ts"), "yyyy-MM") === "2024-13").count() == 0)
    }
  }

  test("null timestamps behave identically under the rewrite") {
    val withNulls = Seq((1L, Some("2024-01-15 12:00:00")), (2L, None))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp").as("ts"))
    val cond = date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15"
    val brute = withNulls.where(cond).select("id").as[Long].collect().toSet
    GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
      val q = withNulls.where(cond)
      assert(!hasDateFormat(q))
      assert(q.select("id").as[Long].collect().toSet == brute)
      assert(brute == Set(1L))
    }
  }
}
