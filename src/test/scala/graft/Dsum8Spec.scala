package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Dsum8}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Dsum8 ≡ CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE), bitwise, and
  * [[FixedPointSum]] swaps it in exactly where that identity holds.
  * Every converted bench/oracle query leans on this identity; the DuckDB
  * oracle keeps running the decimal formulation, so these legs prove the
  * two plans agree bit-for-bit before the oracle ever sees a result. The
  * decimal reference runs with the rule excluded (checked on its plan).
  */
class Dsum8Spec extends AnyFunSuite {
  private lazy val spark = Engine.session(cores = 4, app = "dsum8-spec")
  import org.apache.spark.sql.DataFrame

  private def bits(d: Any): Any = d match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case other => other
  }

  private val excluded = "spark.sql.optimizer.excludedRules"

  /** `read` of the decimal reference `q` builds with [[FixedPointSum]]
    * excluded from the optimizer — asserted on its plan, so the identity
    * legs never compare Dsum8 with itself. */
  private def unruled[T](q: => DataFrame)(read: DataFrame => T): T = {
    spark.conf.set(excluded, FixedPointSum.ruleName)
    try {
      val ref = q
      assert(dsum8s(ref).isEmpty, ref.queryExecution.optimizedPlan)
      read(ref)
    } finally spark.conf.unset(excluded)
  }

  /** Dsum8 aggregates in `df`'s optimized plan. */
  private def dsum8s(df: DataFrame): Seq[AggregateExpression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case ae @ AggregateExpression(_: Dsum8, _, _, _, _) => ae
    }))

  private def byGroup(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> bits(r.get(1))).toMap

  /** The decimal reference for `agg` over `df`: Spark's own sum. */
  private def reference(df: DataFrame, agg: org.apache.spark.sql.Column): Map[Any, Any] =
    unruled(df.groupBy("g").agg(agg.as("s")))(byGroup)

  /** Runs the decimal formulation (Spark's sum, and the rule's rewrite of
    * it) and `dsum8` over (g, x); compares per-group bitwise. */
  private def check(df: DataFrame, clue: String): Unit = {
    val decimal = sum(col("x").cast(DecimalType(30, 8))).cast("double")
    val dec = reference(df, decimal)
    val fast = byGroup(df.groupBy("g").agg(expr("dsum8(x)").as("s")))
    val ruled = df.groupBy("g").agg(decimal.as("s"))
    assert(dsum8s(ruled).size == 1, clue)
    val viaRule = byGroup(ruled)
    assert(fast.keySet == dec.keySet && viaRule.keySet == dec.keySet, clue)
    dec.foreach { case (k, v) =>
      assert(fast(k) == v, s"$clue group=$k")
      assert(viaRule(k) == v, s"$clue (rule) group=$k")
    }
  }

  test("random doubles incl. negatives, nulls, empty-ish groups — bitwise equal") {
    val rnd = new scala.util.Random(4217)
    val rows = (1 to 20000).map { i =>
      val x: java.lang.Double =
        if (rnd.nextInt(20) == 0) null
        else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12)) // up to ~5e10
      (i % 37, x)
    } ++ Seq((997, null.asInstanceOf[java.lang.Double])) // an all-null group
    import spark.implicits._
    check(rows.toDF("g", "x"), "random bank")
  }

  test("sf0.001 lineitem money products — bitwise equal to the decimal plan") {
    val li = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
    val df = li.select(col("l_returnflag").as("g"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("x"))
    check(df, "lineitem charge")
  }

  test("128-bit carry path: accumulation far past one long of unscaled") {
    // 3000 rows of ~9.1e10 → unscaled sum ≈ 2.7e22 ≫ 2^63; hi word engaged
    import spark.implicits._
    val rows = (1 to 3000).map(i => (i % 3, 9.1e10 - i * 0.37))
    check(rows.toDF("g", "x"), "carry")
    // and a negative-heavy mix so the signed-128 path is exercised
    val rows2 = (1 to 3000).map(i => (i % 3, (if (i % 2 == 0) -9.1e10 else 9.05e10) + i * 0.11))
    check(rows2.toDF("g", "x"), "signed carry")
  }

  test("merge across partitions — bitwise equal") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = (1 to 50000).map(i => (i % 5, (rnd.nextDouble() - 0.5) * 1e7))
    check(rows.toDF("g", "x").repartition(16), "merged partials")
  }

  test("out-of-domain input raises loudly instead of truncating") {
    // the domain edge is finite |x| < 9.2e10: at and past it dsum8 raises
    // where the decimal formulation returns a value; just inside, the two
    // plans agree bitwise
    import spark.implicits._
    // the decimal idiom raises too: FixedPointSum converts it on a graft
    // session (README "Known divergences")
    Seq("dsum8(x)", "SUM(CAST(x AS DECIMAL(30,8)))").foreach { agg =>
      Seq(1.0e11, 9.2e10, -9.2e10).foreach { x =>
        val e = intercept[Exception] {
          Seq((1, x)).toDF("g", "x").groupBy("g").agg(expr(agg)).collect()
        }
        assert(e.getMessage.contains("dsum8") ||
          Option(e.getCause).exists(_.getMessage.contains("dsum8")), s"$agg x=$x: ${e.getMessage}")
      }
    }
    Seq(9.19e10, -9.19e10).foreach(x => check(Seq((1, x)).toDF("g", "x"), s"x=$x"))
  }

  test("NaN and infinities match the decimal formulation: cast-null rows skipped") {
    // CAST(NaN/±Inf AS DECIMAL) is null, so the decimal sum skips the row
    // and an all-non-finite group is NULL; dsum8 must agree bitwise (r18 —
    // previously NaN tripped the magnitude guard via Spark's NaN-greatest
    // ordering and raised where the decimal plan proceeds).
    import spark.implicits._
    val rows: Seq[(Int, Double)] = Seq(
      (1, 5.5), (1, Double.NaN), (1, 3.25),
      (2, Double.PositiveInfinity), (2, 1.0),
      (3, Double.NaN), (3, Double.NegativeInfinity),
      (4, -2.75), (4, Double.NegativeInfinity))
    check(rows.toDF("g", "x"), "non-finite bank")
  }

  /** Registers (g, x, d, f, i, n, v) as `fps_t`: x DOUBLE, d DECIMAL(12,2),
    * f FLOAT, i INT, n BIGINT, v STRING holding the idiom as text. */
  private def fpsTable(): DataFrame = {
    import spark.implicits._
    val df = (1 to 4000).map { i =>
      val x = (i % 97) * 13.37 - 500.0 + i * 1e-3
      (i % 7, x, BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        x.toFloat, i * 31 - 60000, i.toLong * 1000003L,
        "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)")
    }.toDF("g", "x", "d", "f", "i", "n", "v")
      .withColumn("d", col("d").cast(DecimalType(12, 2)))
    df.createOrReplaceTempView("fps_t")
    df
  }

  /** `SELECT g, <agg> AS s FROM fps_t GROUP BY g`: the rule's plan must hold
    * `n` Dsum8 aggregates and, when it holds any, agree bitwise with the
    * same text run with the rule excluded. */
  private def sqlLeg(agg: String, n: Int): Unit = {
    val q = s"SELECT g, $agg AS s FROM fps_t GROUP BY g"
    val ruled = spark.sql(q)
    assert(dsum8s(ruled).size == n, s"$agg\n${ruled.queryExecution.optimizedPlan}")
    if (n > 0) assert(byGroup(ruled) == unruled(spark.sql(q))(byGroup), agg)
  }

  test("FixedPointSum converts the idiom in any spelling, FILTER clause kept") {
    fpsTable()
    sqlLeg("CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)", 1)
    sqlLeg("cast(sum(cast(x as decimal(30,8))) as double)", 1)
    sqlLeg("CAST( SUM (  CAST( x  AS  DECIMAL( 30 , 8 ) ) )  AS DOUBLE )", 1)
    sqlLeg("sum(cast(x as decimal(30, 8)))", 1)
    // integral inputs ride the dsum8 function's implicit DOUBLE cast
    sqlLeg("CAST(SUM(CAST(i AS DECIMAL(30,8))) AS DOUBLE)", 1)
    sqlLeg("SUM(CAST(n AS DECIMAL(30,8)))", 1)
    // the optimizer pushes the cast into CASE branches: ELSE 0 becomes 0E-8
    sqlLeg("CAST(SUM(CAST(CASE WHEN g = 1 THEN x ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE)", 1)
    sqlLeg("SUM(CAST(CASE WHEN g = 1 THEN x END AS DECIMAL(30,8)))", 1)
    sqlLeg("SUM(CASE WHEN g = 1 THEN CAST(x AS DECIMAL(30,8)) " +
      "ELSE CAST(1234567890.125 AS DECIMAL(30,8)) END)", 1)
    // decimal-ROUND form: ROUND runs on the identical exact decimal
    sqlLeg("CAST(ROUND(SUM(CAST(x AS DECIMAL(30,8))), 2) AS DOUBLE)", 1)
    val filtered = "CAST(SUM(CAST(x AS DECIMAL(30,8))) FILTER (WHERE x > 0) AS DOUBLE)"
    sqlLeg(filtered, 1)
    val fae = dsum8s(spark.sql(s"SELECT g, $filtered AS s FROM fps_t GROUP BY g"))
    assert(fae.forall(_.filter.isDefined), fae)
  }

  test("FixedPointSum converts window sums, SQL and DataFrame, through the window's child") {
    // a range source, not a local one: the analyzer projects a window
    // sum's CAST into the window's child, which a local relation would
    // fold away before the optimizer rule sees it
    spark.range(1, 4001).select((col("id") % 7).cast("int").as("g"),
      ((col("id") % 97) * 13.37 - 500.0 + col("id") * 1e-3).as("x"))
      .createOrReplaceTempView("fps_r")
    // every row, not one per group: a running sum differs row by row
    // (Double.toString round-trips, so equal strings are equal bits)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def leg(n: Int, q: () => DataFrame): Unit = {
      val ruled = q()
      assert(dsum8s(ruled).size == n, ruled.queryExecution.optimizedPlan)
      assert(rows(ruled) == unruled(q())(rows))
    }
    leg(1, () => spark.table("fps_r").select(col("g"),
      sum(col("x").cast(DecimalType(30, 8))).over(Window.partitionBy("g")).cast("double").as("s")))
    leg(1, () => spark.sql("SELECT g, CAST(SUM(CAST(x AS DECIMAL(30,8))) " +
      "OVER (PARTITION BY g ORDER BY x) AS DOUBLE) AS s FROM fps_r"))
    // another window between the sum's window and the projection
    leg(1, () => spark.sql("SELECT g, RANK() OVER (ORDER BY x) AS r, " +
      "CAST(SUM(CAST(x AS DECIMAL(30,8))) OVER (PARTITION BY g) AS DOUBLE) AS s FROM fps_r"))
    // the window sums an aggregate's output: its child is the Aggregate
    leg(2, () => spark.sql("SELECT g, CAST(SUM(CAST(t AS DECIMAL(30,8))) OVER () AS DOUBLE) AS s " +
      "FROM (SELECT g, CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS t FROM fps_r GROUP BY g)"))
  }

  test("fixedPointRewrite: decimal-ROUND form rewrites to dsum8_dec") {
    // ROUND over the exact decimal sum, or over its DOUBLE: the rule hands
    // either the exact sum (dsum8_dec), bitwise equal through ROUND
    fpsTable()
    Seq("CAST(ROUND(SUM(CAST(x AS DECIMAL(30,8))), 2) AS DOUBLE)",
      "ROUND(CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE), 6)").foreach { agg =>
      sqlLeg(agg, 1)
      val fae = dsum8s(spark.sql(s"SELECT g, $agg AS s FROM fps_t GROUP BY g"))
      assert(fae.forall(_.aggregateFunction.asInstanceOf[Dsum8].exactDecimal), fae)
    }
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 7, i * 0.37 - 900)).toDF("g", "x")
    val rounded = round(sum(col("x").cast(DecimalType(30, 8))), 2).cast("double")
    val dec = reference(df, rounded)
    val fast = byGroup(df.groupBy("g").agg(round(expr("dsum8_dec(x)"), 2).cast("double")))
    val ruled = df.groupBy("g").agg(rounded)
    assert(dsum8s(ruled).size == 1)
    assert(fast == dec && byGroup(ruled) == dec)
  }

  test("FixedPointSum leaves other precisions, DISTINCT and non-DOUBLE inputs alone") {
    fpsTable()
    sqlLeg("CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE)", 0)
    sqlLeg("CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE)", 0)
    sqlLeg("CAST(SUM(DISTINCT CAST(x AS DECIMAL(30,8))) AS DOUBLE)", 0)
    sqlLeg("CAST(SUM(CAST(d AS DECIMAL(30,8))) AS DOUBLE)", 0)
    sqlLeg("CAST(SUM(CAST(f AS DECIMAL(30,8))) AS DOUBLE)", 0)
    // a constant outside Dsum8's domain, where the decimal sum goes on, and
    // one no DOUBLE holds, which Dsum8's own cast could not reproduce
    sqlLeg("SUM(CASE WHEN g = 1 THEN CAST(x AS DECIMAL(30,8)) " +
      "ELSE CAST(1e11 AS DECIMAL(30,8)) END)", 0)
    sqlLeg("SUM(CASE WHEN g = 1 THEN CAST(x AS DECIMAL(30,8)) " +
      "ELSE CAST(1234567890.12345678 AS DECIMAL(30,8)) END)", 0)
  }

  test("FixedPointSum never touches a string literal holding the idiom") {
    // the idiom as text — in a literal and in a column — rides through
    // verbatim while the real aggregate beside it is converted
    fpsTable()
    val lit = "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)"
    val df = spark.sql(
      s"SELECT '$lit' AS lit_a, MAX(v) AS col_v, " +
        "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS real_sum FROM fps_t")
    assert(dsum8s(df).size == 1)
    val r = df.collect().head
    assert(r.getString(0) == lit && r.getString(1) == lit)
  }

  test("empty input and WHERE-false input return null like SUM") {
    import spark.implicits._
    val df = Seq((1, 2.5)).toDF("g", "x").filter(col("g") === 42)
    val out = df.groupBy("g").agg(expr("dsum8(x)")).collect()
    assert(out.isEmpty)
    val global = df.agg(expr("dsum8(x)")).collect()
    assert(global.length == 1 && global(0).isNullAt(0))
  }
}
