package graft

import java.math.BigInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.FixedPoint

/** Parity of the fixed-point decimal kernels ([[graft.plans.FixedPointRule]])
  * with the Spark expressions they replace, in the same session: every
  * frame is built twice, once as the graft session plans it and once
  * with the rule in `spark.sql.optimizer.excludedRules`, and the two
  * results must agree row for row — decimal value, null-ness, the
  * value's `cast(… AS string)` and `cast(… AS double)`, and the error
  * class and message where Spark raises.
  */
class FixedPointSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Rule = "graft.plans.FixedPointRule"
  /** Every double→decimal cast type with precision ≤ 18 in src/main. */
  private val CastTypes = Seq((8, 2), (8, 4), (10, 0), (18, 2), (18, 4), (18, 6))
  private val Ansi = "spark.sql.ansi.enabled"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def plan(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  /** Outcome of collecting `df`: its sorted rows, or the error class and
    * message it raised.
    */
  private def outcome(df: DataFrame): Either[(String, String), Seq[String]] =
    try Right(df.collect().map(_.toString).toSeq.sorted)
    catch {
      case e: org.apache.spark.SparkException if e.getCause.isInstanceOf[SparkThrowable] =>
        val c = e.getCause.asInstanceOf[SparkThrowable]
        Left((c.getCondition, e.getCause.getMessage))
      case e: SparkThrowable => Left((e.getCondition, e.getMessage))
    }

  /** `build()`'s outcome with the rule (which must place `kernel`) and
    * without it (which must place no kernel).
    */
  private def sides(kernel: String, build: () => DataFrame)
      : (Either[(String, String), Seq[String]], Either[(String, String), Seq[String]]) = {
    val on = build()
    assert(plan(on).contains(kernel), s"rule placed no $kernel:\n${plan(on)}")
    val off = withConf("spark.sql.optimizer.excludedRules" -> Rule) {
      val df = build()
      assert(!plan(df).contains("fixed_"), s"kernel left with the rule excluded:\n${plan(df)}")
      outcome(df)
    }
    (outcome(on), off)
  }

  private def assertParity(kernel: String, build: () => DataFrame): Unit = {
    val (on, off) = sides(kernel, build)
    assert(on == off)
  }

  /** Row-level parity at scale: an order-free digest of every row (its
    * columns' xxhash64, high 44 bits summed) on each side; when they
    * differ, both sides are written out and the differing rows shown.
    */
  private def assertParityAtScale(kernel: String, build: () => DataFrame): Unit = {
    def digest(df: DataFrame) =
      df.agg(count(lit(1)), sum(shiftright(xxhash64(df.columns.map(col): _*), 20))).head.toSeq
    val on = build()
    assert(plan(on).contains(kernel), s"rule placed no $kernel:\n${plan(on)}")
    val excluded = "spark.sql.optimizer.excludedRules" -> Rule
    val off = withConf(excluded) {
      val df = build()
      assert(!plan(df).contains("fixed_"))
      digest(df)
    }
    if (digest(on) != off) {
      val dir = java.nio.file.Files.createTempDirectory("graft_fixedpoint").toString
      build().write.parquet(s"$dir/on")
      withConf(excluded)(build().write.parquet(s"$dir/off"))
      val a = spark.read.parquet(s"$dir/on")
      val b = spark.read.parquet(s"$dir/off")
      val bad = a.exceptAll(b).limit(5).collect() ++ b.exceptAll(a).limit(5).collect()
      fail(s"kernel and Spark disagree:\n${bad.mkString("\n")}")
    }
  }

  /** A column's decimal, its string and its double. */
  private def observed(d: Column, name: String): Seq[Column] =
    Seq(d.as(name), d.cast("string").as(s"${name}_s"), d.cast("double").as(s"${name}_f"))

  private def randomDoubles(n: Long, reach: Double): DataFrame = {
    val types = CastTypes
    spark.range(n).map { id =>
      val xs = types.map { case (p, s) => FixedPointSpec.draw(id, p, s, reach) }
      (id, xs(0), xs(1), xs(2), xs(3), xs(4), xs(5))
    }.toDF("id" +: CastTypes.map { case (p, s) => s"x_${p}_$s" }: _*)
  }

  private def casts(df: DataFrame, fn: String): DataFrame =
    df.select(col("id") +: CastTypes.flatMap { case (p, s) =>
      observed(expr(s"$fn(x_${p}_$s AS decimal($p,$s))"), s"d_${p}_$s")
    }: _*)

  test("double→decimal casts: 10^6 random doubles per type, ANSI off, overflow to null") {
    withConf(Ansi -> "false") {
      assertParityAtScale("fixed_cast", () => casts(randomDoubles(1000000, 1.2), "cast"))
    }
  }

  test("double→decimal casts: 10^6 random doubles per type, ANSI on, and try_cast") {
    withConf(Ansi -> "true") {
      assertParityAtScale("fixed_cast", () => casts(randomDoubles(1000000, 0.9), "cast"))
      assertParityAtScale("fixed_cast", () => casts(randomDoubles(1000000, 1.2), "try_cast"))
    }
  }

  /** An RDD-backed frame, so the optimizer cannot fold the kernels into
    * a local relation before the plan runs.
    */
  private def frame(xs: Seq[Double]): DataFrame = spark.sparkContext.parallelize(xs, 4).toDF("x")

  /** Every tie (m + 0.5)·10^-s for |m| ≤ 10^5, near 10^p and near the
    * fast-path bound 2^40, each with its nextUp/nextDown neighbours.
    */
  private def ties(p: Int, s: Int): DataFrame = {
    val scale = math.pow(10, s)
    val bound = math.floor((1L << 40) / scale)
    val top = math.pow(10, p)
    val ms = (-100000L to 100000L).map(_.toDouble) ++
      (-1000 to 1000).flatMap(i => Seq(bound + i, top - 1 + i, -(top - 1 + i)))
    frame(ms.flatMap { m =>
      val t = (m + 0.5) / scale
      Seq(t, Math.nextUp(t), Math.nextDown(t))
    })
  }

  test("double→decimal casts: every .5 tie and its neighbours, specials, 10^(p-s), the 2^40 bound") {
    for ((p, s) <- CastTypes) {
      val scale = math.pow(10, s)
      val edge = math.pow(10, p - s)
      val bound = (1L << 40) / scale
      val specials = frame(Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
        java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL, 1e-300, 2.675, 1.005, -2.675,
        0.5 / scale, -0.5 / scale, 1.5 / scale, Double.MaxValue, -Double.MaxValue,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
        Seq(edge, -edge, edge - 0.5 / scale, bound, -bound).flatMap(v =>
          Seq(v, Math.nextUp(v), Math.nextDown(v))))
      val tied = ties(p, s).union(specials)
      val d = s"decimal($p,$s)"
      withConf(Ansi -> "false") {
        assertParityAtScale("fixed_cast", () =>
          tied.select(col("x") +: observed(col("x").cast(d), "d"): _*))
      }
      withConf(Ansi -> "true") {
        assertParityAtScale("fixed_cast", () =>
          tied.select(col("x") +: observed(expr(s"try_cast(x AS $d)"), "d"): _*))
        // ANSI raises on NaN, ±Inf and overflow: one value per query, so
        // the error class and message are compared, not just the failure
        for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, edge, -edge,
                      edge - 0.5 / scale, Math.nextDown(edge - 0.5 / scale), 1e300, 2.675)) {
          val one = frame(Seq(v))
          assertParity("fixed_cast", () => one.select(observed(col("x").cast(d), "d"): _*))
        }
      }
    }
  }

  /** Random decimal factors: q1's price × (1 − discount) × (1 + tax)
    * shape, and wide factors whose unscaled values pass 2^63.
    */
  private def products(df: DataFrame): DataFrame = {
    val price = col("x_18_2").cast("decimal(18,2)")
    val disc = col("x_8_2").cast("decimal(8,2)")
    val tax = col("x_8_4").cast("decimal(8,2)")
    // decimal(35,0) products past 2^63, then times a decimal(2,0)
    val wide = expr("cast(id * 1000003 AS decimal(20,0)) * cast(10000000000000 AS decimal(14,0))")
    df.select(Seq(col("id")) ++ observed(price * disc, "pd") ++ observed(price * disc * tax, "pdt") ++
      observed(wide, "w") ++ observed(wide * expr("cast(id % 100 AS decimal(2,0))"), "w2"): _*)
  }

  test("exact decimal products: random factors, long and BigDecimal operands, ANSI on and off") {
    for (ansi <- Seq("false", "true")) withConf(Ansi -> ansi) {
      assertParityAtScale("fixed_multiply", () => products(randomDoubles(1000000, 0.9)))
    }
  }

  private def grouped(df: DataFrame, fn: Column => Column): DataFrame = {
    val price = col("x_18_2").cast("decimal(18,2)")
    val disc = col("x_8_2").cast("decimal(8,2)")
    val tax = col("x_8_4").cast("decimal(8,2)")
    // group 7 is all null; others carry scattered nulls
    val maybe = (c: Column) => when(col("id") % 1000 === 7 || col("id") % 13 === 0, lit(null)).otherwise(c)
    df.repartition(7).groupBy((col("id") % 1000).as("g"))
      .agg(fn(maybe(col("x_18_4").cast("decimal(18,4)"))).as("a"),
        fn(maybe(price * disc)).as("b"),
        fn(maybe(price * disc * tax)).as("c"),
        fn(col("x_10_0").cast("decimal(10,0)")).as("e"),
        count(lit(1)).as("n"))
      .select(Seq(col("g"), col("n")) ++ Seq("a", "b", "c", "e").flatMap(c => observed(col(c), c)): _*)
  }

  test("grouped decimal sums: nulls, all-null groups, merges after repartition(7), sum and try_sum") {
    for (ansi <- Seq("false", "true")) withConf(Ansi -> ansi) {
      assertParityAtScale("fixed_sum", () => grouped(randomDoubles(300000, 0.9), sum))
      assertParityAtScale("fixed_sum", () => grouped(randomDoubles(300000, 0.9), try_sum))
      assertParity("fixed_sum", () => grouped(randomDoubles(1000, 0.9).filter(col("id") < 0), sum))
    }
  }

  test("grouped decimal sums that cross 10^38 and come back: null, ANSI error or try_sum null") {
    val big = "9" * 38
    val rows = Seq(
      (1, "9e37"), (1, "9e37"), (1, "-9e37"), (1, "-9e37"), // crosses, comes back: overflow
      (2, "9e37"), (2, "-9e37"), (2, "9e37"), (2, "-9e37"), // never crosses: 0
      (3, "-9e37"), (3, "-9e37"), (3, "9e37"), (3, "9e37"), // crosses below -10^38
      (4, big), (4, "1"), (4, "-1"),                          // 10^38 exactly, then back
      (5, big), (5, big), (5, big), (5, s"-$big"), (5, s"-$big"), (5, s"-$big"), // past 2^127
      (6, "1.5"), (6, "2.25"))
    val in = spark.sparkContext.parallelize(rows, 1).toDF("g", "v")
    def q(fn: Column => Column, g: Option[Int]) = () =>
      g.fold(in)(k => in.filter(col("g") === k))
        .groupBy("g").agg(fn(col("v").cast("decimal(38,0)")).as("s"))
        .select(col("g") +: observed(col("s"), "s"): _*)
    for (ansi <- Seq("false", "true")) withConf(Ansi -> ansi) {
      for (g <- 1 to 6) {
        assertParity("fixed_sum", q(sum, Some(g)))
        assertParity("fixed_sum", q(try_sum, Some(g)))
      }
    }
    withConf(Ansi -> "false") {
      val (on, _) = sides("fixed_sum", q(sum, None))
      assert(on.toOption.get.count(_.contains("null")) == 4) // groups 1, 3, 4, 5
    }
    withConf(Ansi -> "true") {
      val (on, _) = sides("fixed_sum", q(sum, Some(1)))
      assert(on.isLeft)
    }
    // the same crossings when each row sits in its own partition, so
    // the overflow happens in the merge
    withConf(Ansi -> "false") {
      assertParity("fixed_sum", () =>
        spark.sparkContext.parallelize(rows, 23).toDF("g", "v").groupBy("g")
          .agg(sum(col("v").cast("decimal(38,0)")).as("s")).select(col("g"), col("s").cast("string")))
    }
  }

  test("the rule leaves window sums, global sums, p ≤ 8 sums and streaming aggregates to Spark") {
    val df = randomDoubles(100, 0.9)
    val d = col("x_18_4").cast("decimal(18,4)")
    val win = df.select(sum(d).over(Window.partitionBy(col("id") % 3).orderBy("id")).as("w"))
    assert(plan(win).contains("fixed_cast") && !plan(win).contains("fixed_sum"))
    val global = df.agg(sum(d))
    assert(!plan(global).contains("fixed_sum"))
    val small = df.groupBy(col("id") % 3).agg(sum(col("x_8_4").cast("decimal(8,4)")))
    assert(!plan(small).contains("fixed_sum"))
    val distinct = df.groupBy(col("id") % 3).agg(sum_distinct(d))
    assert(!plan(distinct).contains("fixed_sum"))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val agg = ms.toDF().toDF("k", "x")
      .groupBy("k").agg(sum(col("x").cast("decimal(18,4)")).as("s"))
    val q = agg.writeStream.format("memory").queryName("fixedpoint_stream")
      .outputMode("complete").start()
    try {
      ms.addData((1L, 1.25), (1L, 2.5), (2L, 0.125))
      q.processAllAvailable()
      val optimized = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan.toString
      assert(optimized.contains("sum(") && !optimized.contains("fixed_sum"), optimized)
      assert(spark.table("fixedpoint_stream").orderBy("k").collect().map(_.getDecimal(1).toPlainString).toSeq ==
        Seq("3.7500", "0.1250"))
    } finally q.stop()
  }

  test("128-bit accumulator words and overflow match BigInteger arithmetic") {
    val r = new java.util.SplittableRandom(14)
    val two128 = BigInteger.ONE.shiftLeft(128)
    def words(b: BigInteger) = (b.shiftRight(64).longValue, b.longValue)
    def big(h: Long, l: Long) = BigInteger.valueOf(h).shiftLeft(64).add(new BigInteger(java.lang.Long.toUnsignedString(l)))
    def rnd(digits: Int) = {
      val b = new BigInteger(128, new java.util.Random(r.nextLong())).mod(BigInteger.TEN.pow(digits))
      if (r.nextBoolean()) b.negate else b
    }
    for (_ <- 0 until 200000) {
      val p = 19 + r.nextInt(20)
      val a = rnd(1 + r.nextInt(p))
      val x = rnd(1 + r.nextInt(p))
      val (ah, al) = words(a)
      val (xh, xl) = words(x)
      val s = a.add(x)
      val want = s.mod(two128)
      val got = big(FixedPoint.addHi(ah, al, xh, xl), al + xl).mod(two128)
      assert(got == want)
      assert(FixedPoint.addOverflows(ah, al, xh, xl, p) == (s.abs.compareTo(BigInteger.TEN.pow(p)) >= 0),
        s"$a + $x at p=$p")
      if (s.abs.compareTo(BigInteger.TEN.pow(p)) < 0) {
        val (sh, sl) = words(s)
        assert(FixedPoint.toDecimal(sh, sl, p, 3) == Decimal(new java.math.BigDecimal(s, 3), p, 3))
      }
    }
  }
}

object FixedPointSpec {
  /** A deterministic double for (row, type): random magnitudes up to
    * `reach`·10^(p−s), short decimals k/10^(s+1) (a tenth of them exact
    * ties), or tiny values down to 1e-30.
    */
  def draw(id: Long, p: Int, s: Int, reach: Double): Double = {
    val r = new java.util.SplittableRandom(id * 1000003L + p * 101 + s)
    val sign = if (r.nextBoolean()) 1.0 else -1.0
    (id % 3) match {
      case 0 => sign * r.nextDouble() * math.pow(10, r.nextInt(p - s + 1)) * reach
      case 1 =>
        val e = r.nextInt(p - s + 1)
        val bound = math.min(9 * math.pow(10, e + s), 9e17).toLong
        sign * r.nextLong(bound).toDouble / math.pow(10, s + 1)
      case _ => sign * r.nextDouble() * math.pow(10, -r.nextInt(31))
    }
  }
}
