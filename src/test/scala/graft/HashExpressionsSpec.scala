package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashExpressions.{bitLength64, md5Prefix}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[org.apache.spark.sql.graft.Md5Prefix]] and
  * [[org.apache.spark.sql.graft.BitLength64]] to the string formulas they
  * replaced — `CAST(conv(substring(md5(x), 1, k), 16, 10) AS BIGINT)` and
  * the `bin()` register rank — bit for bit, on the generated-code and the
  * interpreted path.
  */
class HashExpressionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stringForm(x: Column, k: Int): Column =
    conv(substring(md5(x.cast("string").cast("binary")), 1, k), 16, 10).cast("long")

  /** ≥ 10k keys: negative and positive integers, random ASCII, multi-byte
    * UTF-8, the empty string and NULL. The repartition keeps the projection
    * out of the optimizer's local-relation folding, so it really executes.
    */
  private def keys: DataFrame = {
    val rnd = new scala.util.Random(7)
    val ints = (-5000 to 5100).map(_.toString)
    val ascii = Seq.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString)
    val utf8 = Seq("ü", "日本語のテキスト", "emoji 🚀🎉", "naïve café", "Ωμέγα",
                   "\u0000nul", "tab\tand\nnewline")
    (ints ++ ascii ++ utf8 ++ Seq("", null)).toDF("s").repartition(4)
  }

  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.filter(!(a <=> b)).count()

  private def withInterpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkAllK(): Unit = {
    val df = keys.cache()
    try {
      assert(df.count() > 10000)
      for (k <- 1 to 15) {
        val bad = mismatches(df, md5Prefix(col("s"), k), stringForm(col("s"), k))
        assert(bad == 0, s"k=$k: $bad keys differ from the string formula")
      }
      val nul = df.filter(col("s").isNull).select(md5Prefix(col("s"), 8)).head()
      assert(nul.isNullAt(0), "a NULL key must hash to NULL")
      // the lambda-body path (Dedup.simhash32 hashes inside aggregate())
      val hof = df.filter(col("s").isNotNull).select(
        transform(array(col("s")), t => md5Prefix(t, 8)).getItem(0).as("a"),
        stringForm(col("s"), 8).as("b"))
      assert(mismatches(hof, col("a"), col("b")) == 0, "HOF lambda path differs")
    } finally df.unpersist()
  }

  /** Whether the executed (final adaptive) plan of a projection over the
    * keys holds a whole-stage codegen stage. */
  private def wholeStage(): Boolean = {
    val df = keys.select(md5Prefix(col("s"), 8))
    df.collect()
    find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
  }

  test("md5Prefix equals the string formula for every k in 1..15 (generated code)") {
    assert(wholeStage(), "expected a whole-stage codegen plan")
    checkAllK()
  }

  test("md5Prefix equals the string formula for every k in 1..15 (NO_CODEGEN)") {
    withInterpreted {
      assert(!wholeStage())
      checkAllK()
    }
  }

  test("md5_prefix and bit_length64 are callable from SQL") {
    keys.createOrReplaceTempView("hash_keys")
    try {
      val r = spark.sql(
        """SELECT count_if(NOT (md5_prefix(s, 15) <=>
          |         CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))) AS bad,
          |       bit_length64(CAST(0 AS BIGINT)) AS z,
          |       bit_length64(CAST(-1 AS BIGINT)) AS m
          |FROM hash_keys""".stripMargin).head()
      assert(r.getLong(0) == 0L && r.getInt(1) == 0 && r.getInt(2) == 64)
    } finally spark.catalog.dropTempView("hash_keys")
  }

  test("bit_length64 pins: 0 → 0, -1 → 64, and 64 − leading zeros in between") {
    val xs = Seq(0L, -1L, 1L, 2L, 3L, (1L << 52) - 1, 1L << 52, Long.MaxValue, Long.MinValue)
    for (interp <- Seq(false, true)) {
      def run() = xs.toDF("x").repartition(2)
        .select(col("x"), bitLength64(col("x")).as("b")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = if (interp) withInterpreted(run()) else run()
      xs.foreach(x => assert(got(x) == 64 - java.lang.Long.numberOfLeadingZeros(x),
        s"bit_length64($x) = ${got(x)} (interpreted=$interp)"))
      assert(got(0L) == 0 && got(-1L) == 64)
    }
  }

  test("the HLL rank 53 − bit_length64(tail) equals both bin() forms on every lineitem tail") {
    val li = Tables.lineitem(spark, TestSpark.sfDir)
    val tails = li.select(
        (md5Prefix(col("l_orderkey"), 15) % lit(1L << 52)).as("t"))
      .union(li.select((md5Prefix(concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")), 15) % lit(1L << 52)).as("t")))
      .union(Seq(0L, 1L, (1L << 52) - 1).toDF("t"))
    val t = col("t")
    val rho = lit(53) - bitLength64(t)
    val padded = lit(53) - length(ltrim(lpad(bin(t), 52, "0"), "0"))
    val guarded = when(t === 0L, lit(53)).otherwise(lit(53) - length(bin(t)))
    assert(tails.count() > 3)
    assert(mismatches(tails, rho, padded) == 0, "rank differs from the lpad/ltrim form")
    assert(mismatches(tails, rho, guarded) == 0, "rank differs from the zero-guarded form")
  }

  test("k outside 1..15 fails with IllegalArgumentException, on both faces") {
    for (k <- Seq(0, 16, -1)) {
      val e = intercept[IllegalArgumentException](md5Prefix(lit("x"), k))
      assert(e.getMessage.contains("1..15"), e.getMessage)
    }
    def rootIae(sql: String): IllegalArgumentException = {
      val t = intercept[Throwable](spark.sql(sql).collect())
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }
        .getOrElse(fail(s"no IllegalArgumentException behind $t"))
    }
    assert(rootIae("SELECT md5_prefix('x', 16)").getMessage.contains("1..15"))
    rootIae("SELECT md5_prefix('x', CAST(id AS INT)) FROM range(1)")
  }
}
