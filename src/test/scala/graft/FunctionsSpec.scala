package graft

import org.apache.spark.sql.functions._
import graft.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosineSim matches hand computation") {
    val df = Seq((Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(cosineSim(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 0.5) < 1e-12)
  }

  test("cosineSim of identical vectors is 1") {
    val df = Seq((Seq(0.3f, -2.0f, 5.5f), Seq(0.3f, -2.0f, 5.5f))).toDF("a", "b")
    val got = df.select(cosineSim(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("hamming64 counts differing bits") {
    val df = Seq((5L, 3L)).toDF("a", "b") // 101 vs 011 -> 2 bits differ
    assert(df.select(hamming64(col("a"), col("b"))).as[Int].head() == 2)
  }

  test("polyFingerprint matches reference implementation") {
    val s = "hello world"
    val expected = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    val got = Seq(s).toDF("t").select(polyFingerprint(col("t"))).as[Long].head()
    assert(got == expected)
  }

  test("normalizeText lowercases, strips punctuation, collapses spaces") {
    val got = Seq("  Hello,   WORLD!! 42 ").toDF("t")
      .select(normalizeText(col("t"))).as[String].head()
    assert(got == "hello world 42")
  }

  test("roundMeanE4 half-up rounds exact boundary means") {
    // 33909 cents over 8 rows = 42.38625 -> must round UP to 42.3863
    val df = Seq((33909.0, 8L)).toDF("s", "n")
    val got = df.select(roundMeanE4(col("s"), col("n"))).as[Double].head()
    assert(got == 42.3863)
  }
}
