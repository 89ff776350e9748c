package graft.plans

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Cast, EvalMode, GenericInternalRow, Literal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import graft.SparkSpec

/** [[DecimalSums]]: the double → unscaled kernel against Spark's `Cast`,
  * the limb sums against Spark's decimal `Sum` (the same query with the
  * rule excluded), what the rule leaves alone, and the overflow path of
  * the final expression. */
object DecimalSumSpec {
  /** Sums over a decimal input of precision ≤ 18 left in the plan. */
  def decimalSums(plan: LogicalPlan): Seq[Sum] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case s: Sum if (s.child.dataType match {
        case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
        case _ => false
      }) => s
    }))
}

class DecimalSumSpec extends SparkSpec {
  import spark.implicits._
  import DecimalSumSpec.decimalSums

  private val RuleName = DecimalSums.ruleName

  private def ansi(on: Boolean) = "spark.sql.ansi.enabled" -> on.toString

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[LimbsToDecimal])))

  /** Rows of `build()` with the rule, and with it excluded (Spark's own
    * decimal `Sum`). Asserts that the rule fired only in the first. */
  private def bothWays(build: => DataFrame): (Seq[Row], Seq[Row]) = {
    val withRule = build
    assert(rewritten(withRule), withRule.queryExecution.optimizedPlan)
    val got = withRule.collect().toSeq
    withConf("spark.sql.optimizer.excludedRules" -> RuleName) {
      val spark0 = build
      assert(!rewritten(spark0))
      assert(decimalSums(spark0.queryExecution.optimizedPlan).nonEmpty)
      (got, spark0.collect().toSeq)
    }
  }

  // ---- the kernel -------------------------------------------------------

  /** Doubles the kernel must agree with Spark's cast on: money values,
    * half-cent and half-basis-point ties, products like TPC-H revenue,
    * magnitudes from 1e-20 to 1e20 (1e16 is past decimal(18,2)),
    * subnormals, and any bit pattern (NaN, ±Inf, huge). */
  private def doubles(n: Int): Array[Double] = {
    val rnd = new scala.util.Random(42)
    val fixed = Array(0.0, -0.0, 0.005, 1.005, 2.675, 0.015, 0.125, 1.115,
      -0.005, -1.005, -2.675, 0.00005, 1.00005, 0.5, 0.49999999999999994,
      1e16, -1e16, 9.999999999999999e15, 1e15 + 0.5, 4.5035996273704955e15,
      4.503599627370495e13, 1e13 + 0.005, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue,
      Double.MinValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.1 + 0.2, 1e-20, 123456.785, 99999.995)
    val sign = () => if (rnd.nextBoolean()) 1.0 else -1.0
    fixed ++ Array.fill(n - fixed.length) {
      rnd.nextInt(10) match {
        case 0 => sign() * rnd.nextLong(10000000000L) / 100.0
        case 1 => sign() * (rnd.nextLong(100000000L) * 10 + 5) / 1000.0
        case 2 => sign() * (rnd.nextLong(100000000L) * 10 + 5) / 100000.0
        case 3 => sign() * rnd.nextLong(1000000000L) / 10000.0
        case 4 => (rnd.nextLong(10000000L) / 100.0) *
          (1.0 - rnd.nextInt(11) / 100.0)
        case 5 => sign() * rnd.nextDouble() *
          math.pow(10, rnd.nextInt(41) - 20)
        case 6 => sign() * math.pow(10, rnd.nextInt(6) + 12) *
          (1 + rnd.nextInt(1000) / 1000.0)
        case 7 => java.lang.Double.longBitsToDouble(rnd.nextLong(1L << 52))
        case 8 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case _ => sign() * rnd.nextInt(100000) / 8.0
      }
    }
  }

  /** One value: the result, or the innermost Spark error's class and
    * condition (a task failure wraps it on the driver). */
  private def outcome(f: => Any): Either[String, Any] =
    try Right(f) catch {
      case e: Throwable =>
        val spark = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable => t }.toSeq.lastOption
          .getOrElse(throw e)
        Left(s"${spark.getClass.getName}:${spark.getCondition}")
    }

  private def checkKernel(values: Array[Double], precision: Int, scale: Int,
      mode: EvalMode.Value): Unit = {
    val in = BoundReference(0, DoubleType, nullable = true)
    val cast = Cast(in, DecimalType(precision, scale), None, mode)
    val kernel = UnscaledDouble(in, precision, scale, mode, None)
    val codegen = GenerateUnsafeProjection.generate(Seq(kernel))
    val row = new GenericInternalRow(1)
    var fast = 0
    var failures = List.empty[String]
    values.foreach { d =>
      row.update(0, d)
      val expected = outcome {
        val dec = cast.eval(row)
        if (dec == null) null else dec.asInstanceOf[Decimal].toUnscaledLong
      }
      val interpreted = outcome(kernel.eval(row))
      val generated = outcome {
        val r = codegen(row)
        if (r.isNullAt(0)) null else r.getLong(0)
      }
      if (DecimalSums.unscaledOrMin(d, math.pow(10, scale),
          Decimal.POW_10(precision)) != Long.MinValue) fast += 1
      if ((interpreted != expected || generated != expected) &&
          failures.length < 10)
        failures ::= s"$d: cast $expected, kernel $interpreted, " +
          s"codegen $generated"
    }
    assert(failures.isEmpty,
      s"decimal($precision,$scale) $mode:\n${failures.mkString("\n")}")
    // at money scales the fast path must carry most values, or the
    // kernel is only a slower cast
    assert(scale > 4 || fast > values.length / 2, s"fast path took $fast")
  }

  test("kernel == Spark's cast on 10^6 doubles, ANSI and legacy") {
    val many = doubles(1000000)
    val few = many.take(100000)
    checkKernel(many, 18, 2, EvalMode.ANSI)
    checkKernel(many, 18, 2, EvalMode.LEGACY)
    for ((p, s) <- Seq((18, 4), (12, 2), (9, 0), (18, 9));
         mode <- Seq(EvalMode.ANSI, EvalMode.LEGACY, EvalMode.TRY))
      checkKernel(few, p, s, mode)
  }

  test("kernel: half-cent ties round HALF_UP on the shortest decimal") {
    val in = BoundReference(0, DoubleType, nullable = true)
    val k = UnscaledDouble(in, 18, 2, EvalMode.ANSI, None)
    def u(d: Double) = k.eval(new GenericInternalRow(Array[Any](d)))
    // 2.675 is 2.67499999… in binary, but Spark casts "2.675"
    assert(Seq(0.005, 1.005, 2.675, -2.675, 0.125, -0.0).map(u) ==
      Seq(1L, 101L, 268L, -268L, 13L, 0L))
  }

  // ---- the rewrite ------------------------------------------------------

  /** Grouped input with nulls, negatives and an all-null group (g = 7):
    * `x` holds small values and half-cent ties, `y` magnitudes up to
    * 10^11, whose unscaled values fill all three limbs. */
  private def input: DataFrame = {
    val rows = (0 until 4000).map { i =>
      val x = if (i % 11 == 0) None
        else Some(((i * 7919L) % 200001 - 100000) / 100.0 +
          (if (i % 5 == 0) 0.005 else 0.0))
      val y = if (i % 13 == 0) None
        else Some(((i * 104729L) % 20000001 - 10000000) * 1000003L / 100.0)
      (i % 7, i, x, y)
    } ++ Seq((7, -1, None, None), (7, -2, None, None))
    rows.toDF("g", "i", "x", "y")
  }

  private def dsum(c: org.apache.spark.sql.Column, s: Int = 2) =
    sum(c.cast(DecimalType(18, s)))

  for (on <- Seq(true, false)) {
    val mode = if (on) "ANSI" else "legacy"

    test(s"limb sums == Spark's decimal Sum ($mode): grouped, global, " +
        "empty, all-null") {
      withConf(ansi(on)) {
        val (a, b) = bothWays(input.groupBy("g")
          .agg(dsum(col("x")).as("s2"), dsum(col("x"), 4).as("s4"),
            sum(col("x").cast(DecimalType(10, 1))).as("s10"),
            dsum(col("y")).as("y2"), dsum(col("y"), 4).as("y4"),
            count(lit(1)).as("n"))
          .orderBy("g"))
        assert(a == b)
        assert(a.length == 8 && a.last.isNullAt(1), a.last)
        val (c, d) = bothWays(input.agg(dsum(col("x")).as("s"),
          dsum(col("y")).as("t")))
        assert(c == d)
        val (e, f) = bothWays(input.filter(col("i") < -100)
          .agg(dsum(col("x")).as("s")))
        assert(e == f && e == Seq(Row(null)))
        val (g, h) = bothWays(input.filter(col("g") === 7)
          .agg(dsum(col("x")).as("s")))
        assert(g == h && g == Seq(Row(null)))
      }
    }

    test(s"limb sums == Spark's decimal Sum ($mode): negatives, decimal " +
        "columns, window frame, FILTER") {
      withConf(ansi(on)) {
        val neg = input.select(col("g"), col("i"), (-col("x")).as("x"),
          (-col("y")).as("y"))
        val (a, b) = bothWays(neg.groupBy("g")
          .agg(dsum(col("x")).as("s"), dsum(col("y")).as("t")).orderBy("g"))
        assert(a == b)
        val dec = input.select(col("g"),
          col("y").cast(DecimalType(16, 3)).as("y"))
        val (c, d) = bothWays(dec.groupBy("g")
          .agg(sum(col("y")).as("s")).orderBy("g"))
        assert(c == d)
        val w = Window.partitionBy("g").orderBy("i").rowsBetween(-3, 0)
        val (e, f) = bothWays(input.select(col("g"), col("i"),
          dsum(col("x")).over(w).as("s"), dsum(col("y")).over(w).as("t"))
          .orderBy("g", "i"))
        assert(e == f)
        input.createOrReplaceTempView("decimal_sum_input")
        val (g, h) = bothWays(spark.sql(
          """SELECT g, sum(cast(y AS decimal(18,2))) FILTER (WHERE i % 3 = 0)
            |  AS s FROM decimal_sum_input GROUP BY g ORDER BY g""".stripMargin))
        assert(g == h)
      }
    }
  }

  test("DISTINCT sums and try_sum are left to Spark") {
    input.createOrReplaceTempView("decimal_sum_input")
    for (q <- Seq(
        "SELECT g, sum(DISTINCT cast(x AS decimal(18,2))) AS s " +
          "FROM decimal_sum_input GROUP BY g",
        "SELECT g, try_sum(cast(x AS decimal(18,2))) AS s " +
          "FROM decimal_sum_input GROUP BY g")) {
      val df = spark.sql(q)
      assert(!rewritten(df), df.queryExecution.optimizedPlan)
      assert(decimalSums(df.queryExecution.optimizedPlan).nonEmpty)
    }
  }

  test("limbs past 10^28: Spark's overflow error under ANSI, null under " +
      "legacy") {
    val out = DecimalType(28, 2)
    // Spark's own error for a decimal sum that leaves its result type
    val sparkError = outcome(withConf(ansi(true)) {
      spark.sql("SELECT sum(x) FROM VALUES (CAST('9e37' AS DECIMAL(38,0))), " +
        "(CAST('9e37' AS DECIMAL(38,0))) AS t(x)").collect()
    })
    assert(sparkError.isLeft, sparkError)
    for (on <- Seq(true, false)) withConf(ansi(on)) {
      val x = AttributeReference("x", DecimalType(18, 2))()
      val mode = NumericEvalContext(if (on) EvalMode.ANSI else EvalMode.LEGACY)
      val plan = DecimalSums(Aggregate(Nil,
        Seq(Alias(Sum(x, mode).toAggregateExpression(), "s")()),
        LocalRelation(x)))
      val Seq(Alias(finalExpr, _)) = plan.asInstanceOf[Aggregate]
        .aggregateExpressions
      assert(finalExpr.dataType == out)
      // replace the three limb sums (low limb first) by crafted totals
      val sums = finalExpr.collect { case a: AggregateExpression => a }
        .distinct
      assert(sums.length == 3)
      def at(limbs: Long*): Either[String, Any] = outcome(
        finalExpr.transformDown {
          case a: AggregateExpression => Literal(limbs(sums.indexOf(a)))
        }.eval())
      // 2^42 rows of |u| = 2^59: fits; 2^63 · 2^42 / 10^28 ≈ 40 does not
      val big = 1L << 61
      assert(at(0, 0, big) == Left(sparkError.left.get) || !on)
      assert(at(0, 0, big) == Right(null) || on)
      assert(at(0, 0, -big) == Left(sparkError.left.get) || !on)
      val fits = at(5, 3, 1L << 40).toOption.get.asInstanceOf[Decimal]
      assert(fits.toJavaBigDecimal.unscaledValue ==
        java.math.BigInteger.valueOf(1L << 40).shiftLeft(42)
          .add(java.math.BigInteger.valueOf(3L << 21 | 5L)))
    }
  }
}
