package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Dsum8 ≡ CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE), bitwise.
  * Every converted bench/oracle query leans on this identity; the DuckDB
  * oracle keeps running the decimal formulation, so these legs prove the
  * two plans agree bit-for-bit before the oracle ever sees a result.
  */
class Dsum8Spec extends AnyFunSuite {
  private lazy val spark = Engine.session(cores = 4, app = "dsum8-spec")
  import org.apache.spark.sql.DataFrame

  private def bits(d: Any): Any = d match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case other => other
  }

  /** Runs both formulations over (g, x) and compares per-group bitwise. */
  private def check(df: DataFrame, clue: String): Unit = {
    val dec = df.groupBy("g")
      .agg(sum(col("x").cast(DecimalType(30, 8))).cast("double").as("s"))
      .collect().map(r => r.get(0) -> bits(r.get(1))).toMap
    val fast = df.groupBy("g")
      .agg(expr("dsum8(x)").as("s"))
      .collect().map(r => r.get(0) -> bits(r.get(1))).toMap
    assert(fast.keySet == dec.keySet, clue)
    dec.foreach { case (k, v) => assert(fast(k) == v, s"$clue group=$k") }
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
    Seq(1.0e11, 9.2e10, -9.2e10).foreach { x =>
      val e = intercept[Exception] {
        Seq((1, x)).toDF("g", "x").groupBy("g").agg(expr("dsum8(x)")).collect()
      }
      assert(e.getMessage.contains("dsum8") ||
        Option(e.getCause).exists(_.getMessage.contains("dsum8")), s"x=$x: ${e.getMessage}")
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

  test("fixedPointRewrite rewrites exactly the full pattern and nothing else") {
    // full pattern, incl. a CASE arm with a quoted literal and a nested paren
    val in =
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS a,
        |  ROUND(CAST(SUM(CAST(CASE WHEN n = 'X(' THEN v ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE), 2) AS b,
        |  CAST(SUM(CAST(q * q AS DECIMAL(38,8))) AS DOUBLE) AS c
        |FROM t
        |HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 200""".stripMargin
    val out = Q.fixedPointRewrite(in)
    assert(out.contains("dsum8(l_extendedprice * (1 - l_discount)) AS a"))
    assert(out.contains("ROUND(dsum8(CASE WHEN n = 'X(' THEN v ELSE 0 END), 2) AS b"))
    // other precision untouched; bare HAVING sum becomes the decimal-out
    // variant (type- and value-identical, so the compare is unchanged)
    assert(out.contains("CAST(SUM(CAST(q * q AS DECIMAL(38,8))) AS DOUBLE) AS c"))
    assert(out.contains("HAVING dsum8_dec(l_quantity) > 200"))
    assert(!out.contains("SUM(CAST(l_quantity"))
    // FILTER (WHERE …) stays on the built-in SUM (the temp-function path
    // cannot carry a filter clause)
    val f = "SELECT CAST(SUM(CAST(v AS DECIMAL(30,8))) FILTER (WHERE v > 0) AS DOUBLE) AS a,\n" +
      "  SUM(CAST(v AS DECIMAL(30,8))) FILTER (WHERE v < 0) AS b FROM t"
    assert(Q.fixedPointRewrite(f) == f)
  }

  test("fixedPointRewrite: decimal-ROUND form rewrites to dsum8_dec") {
    val in =
      """SELECT CAST(ROUND(SUM(CAST(sales_price AS DECIMAL(30,8))), 2) AS DOUBLE) AS s,
        |  ROUND(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE), 6) AS r,
        |  CAST(ROUND(SUM(CAST(w AS DECIMAL(30,8))), x) AS DOUBLE) AS bad
        |FROM t""".stripMargin
    val out = Q.fixedPointRewrite(in)
    assert(out.contains("CAST(ROUND(dsum8_dec(sales_price), 2) AS DOUBLE) AS s"))
    assert(out.contains("ROUND(dsum8(v), 6) AS r")) // double-ROUND form rides pass 1
    // non-literal scale: pass 2 skips it, pass 3's bare-sum rewrite still
    // applies (value-identical decimal out; ROUND sees the same value)
    assert(out.contains("CAST(ROUND(dsum8_dec(w), x) AS DOUBLE) AS bad"))
    // dsum8_dec ≡ the exact decimal sum, bitwise through ROUND + double cast
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val df = (1 to 5000).map(i => (i % 7, i * 0.37 - 900)).toDF("g", "x")
    val dec = df.groupBy("g")
      .agg(round(sum(col("x").cast(DecimalType(30, 8))), 2).cast("double").as("s"))
      .collect().map(r => r.get(0) -> bits(r.get(1))).toMap
    val fast = df.groupBy("g")
      .agg(round(expr("dsum8_dec(x)"), 2).cast("double").as("s"))
      .collect().map(r => r.get(0) -> bits(r.get(1))).toMap
    assert(fast == dec)
  }

  test("fixedPointRewrite never fires inside a string literal") {
    // the OUTER head scan is quote-aware (r18, ADVICE_r17): a pattern
    // occurring inside a SQL string literal must ride through verbatim
    // while the real aggregate around it still rewrites
    val in = "SELECT 'CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)' AS lit_a, " +
      "'SUM(CAST(y AS DECIMAL(30,8)))' AS lit_b, " +
      "CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS real_sum FROM t"
    val out = Q.fixedPointRewrite(in)
    assert(out.contains("'CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)' AS lit_a"))
    assert(out.contains("'SUM(CAST(y AS DECIMAL(30,8)))' AS lit_b"))
    assert(out.contains("dsum8(v) AS real_sum"))
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
