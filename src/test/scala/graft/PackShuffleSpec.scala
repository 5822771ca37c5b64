package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** The encode path's exchange carries FOR-packed token arrays; unpacking
  * them after the exchange must give back every row exactly. Evaluated
  * through a DataFrame with the same shape as the engine (pack, exchange,
  * unpack), under generated code and under the interpreted fallback.
  */
class PackShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val rnd = new scala.util.Random(0xF0DAC)

  private val cases: Seq[(String, Array[Int])] = Seq(
    "empty" -> Array.emptyIntArray,
    "single token" -> Array(42),
    "Int.MinValue" -> Array(Int.MinValue),
    "Int.MaxValue" -> Array(Int.MaxValue),
    "Int.MinValue/Int.MaxValue" -> Array(Int.MinValue, Int.MaxValue, Int.MinValue),
    "negatives" -> Array.fill(1000)(rnd.nextInt(4000) - 9000),
    "full int range" -> Array.fill(4096)(rnd.nextInt()),
    "full int range, short" -> Array.fill(7)(rnd.nextInt()))

  private def roundTrip(): Map[String, Seq[Int]] = {
    import spark.implicits._
    val df = cases.map { case (k, t) => (k, t, t.length) }.toDF("k", "tokens", "n_tok")
    df.repartition(2)
      .withColumn("packed", GraftColumns.of(ForPack(GraftColumns.expr(col("tokens")))))
      .select("k", "packed", "n_tok")
      .repartition(3)
      .withColumn("tokens", GraftColumns.of(ForUnpack(
        GraftColumns.expr(col("packed")), GraftColumns.expr(col("n_tok")))))
      .select("k", "tokens")
      .as[(String, Array[Int])].collect()
      .map { case (k, t) => k -> t.toSeq }.toMap
  }

  private def check(mode: String): Unit = {
    val back = roundTrip()
    for ((k, t) <- cases)
      assert(back.get(k).contains(t.toSeq), s"$mode: '$k' did not survive pack/unpack")
  }

  test("ForPack -> ForUnpack is the identity on every row shape (codegen)") {
    check("codegen")
  }

  test("ForPack -> ForUnpack is the identity on every row shape (interpreted)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check("interpreted")
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
