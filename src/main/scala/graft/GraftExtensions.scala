package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.StringExpressions.{NormalizeText, PackedGrams, PolyHash, ShingleHashes}
import graft.functions.VectorExpressions.{ArrayAbsMax, ArrayDot, ArrayNorm2, QuantizeInt8, SortedIntersectCount}
import org.apache.spark.sql.catalyst.expressions.Literal

/** Session extension registering the engine's native expressions as SQL
  * functions, so `spark.sql("... array_dot(a, b) ...")` works anywhere
  * the library's Column API does. Installed via
  * `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[GraftSession.build]]) — the standard `SparkSessionExtensions`
  * injection path for Spark-native libraries. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** (SQL name, usage, arity, builder over exactly `arity` arguments). */
  private val functions: Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("array_dot", "array_dot(a, b) - dot product of two numeric arrays (codegen'd)",
      2, a => ArrayDot(a(0), a(1))),
    ("array_norm2", "array_norm2(a) - sum of squares of a numeric array (codegen'd)",
      1, a => ArrayNorm2(a(0))),
    ("array_abs_max", "array_abs_max(a) - max absolute element of a numeric array (codegen'd)",
      1, a => ArrayAbsMax(a(0))),
    ("quantize_int8", "quantize_int8(a, scale) - symmetric int8 codes floor(v/scale*127+0.5) (codegen'd)",
      2, a => QuantizeInt8(a(0), a(1))),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two SORTED array<bigint> (codegen'd two-pointer merge)",
      2, a => SortedIntersectCount(a(0), a(1))),
    ("poly_hash", "poly_hash(s) - polynomial rolling hash (acc*31+byte) mod 1e9+7 (codegen'd)",
      1, a => PolyHash(a(0))),
    ("normalize_text",
      "normalize_text(s) - lower-case, non-alnum to space, collapse whitespace, trim; one fused pass",
      1, a => NormalizeText(a(0))),
    ("packed_grams",
      "packed_grams(s, n) - sorted distinct byte-packed character n-grams of normalized text (codegen'd)",
      2, a => PackedGrams(a(0), intLit(a(1), "packed_grams"))),
    ("shingle_hashes",
      "shingle_hashes(s, n) - poly_hash of every n-word shingle of normalized text (codegen'd)",
      2, a => ShingleHashes(a(0), intLit(a(1), "shingle_hashes"))))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", ""),
        (args: Seq[Expression]) => {
          require(args.length == arity,
            s"$name takes $arity argument${if (arity == 1) "" else "s"}")
          build(args)
        }))
    }

  /** The n of the gram/shingle builders is a STRUCTURAL parameter
    * (baked into the generated code), so the SQL form requires a
    * foldable integer literal. */
  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument 2 must be an integer literal, got $other")
  }
}
