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

  test("halfUpDiv rounds half away from zero, exactly past 2^53, generated and interpreted") {
    val big = 900719925474099350L // 9007199254740993.5 * 100: not a double
    // (t, d, half-up t/d): 1.5 -> 2 and -1.5 -> -2; -0.49 -> 0, not -0
    val cases = Seq((151L, 100L, 2L), (150L, 100L, 2L), (149L, 100L, 1L),
      (50L, 100L, 1L), (49L, 100L, 0L), (0L, 100L, 0L), (-49L, 100L, 0L),
      (-50L, 100L, -1L), (-149L, 100L, -1L), (-150L, 100L, -2L), (-151L, 100L, -2L),
      (big, 100L, 9007199254740994L), (-big, 100L, -9007199254740994L),
      (7L, 2L, 4L), (-7L, 2L, -4L), (5L, 3L, 2L), (-4L, 3L, -1L), (1L, 3L, 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft_halfup").toString + "/t"
    cases.toDF("t", "d", "want").write.parquet(dir)
    val df = spark.read.parquet(dir)
    def run(): Seq[(Long, Long, Long)] =
      df.select(col("t"), halfUpDiv(col("t"), lit(100L)), halfUpDiv(col("t"), col("d")),
          col("d"), col("want"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
        .map { case (t, by100, byD, d, want) =>
          assert(d != 100L || by100 == byD, s"t=$t")
          (t, byD, want)
        }
    def check(rows: Seq[(Long, Long, Long)]): Unit = {
      assert(rows.size == cases.size)
      rows.foreach { case (t, got, want) => assert(got == want, s"t=$t") }
    }
    check(run())
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check(run())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("roundMeanE4 half-up rounds exact boundary means") {
    // 33909 cents over 8 rows = 42.38625 -> must round UP to 42.3863
    val df = Seq((33909.0, 8L)).toDF("s", "n")
    val got = df.select(roundMeanE4(col("s"), col("n"))).as[Double].head()
    assert(got == 42.3863)
  }
}
