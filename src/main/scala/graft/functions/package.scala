package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Shared column-level building blocks.
  *
  * Everything here composes built-in (codegen'd) Catalyst expressions —
  * no Scala UDFs — so whole-stage codegen stays intact at 100 TB.
  */
package object functions {

  /** Cosine similarity between two array<float|double> columns —
    * native codegen'd primitive loops ([[VectorExpressions]]; the HOF
    * zip_with/aggregate composition is CodegenFallback and boxes every
    * element). Elements promote to double inside the loops, which is
    * bit-identical to casting the arrays first. */
  def cosineSim(a: Column, b: Column): Column =
    VectorExpressions.arrayDot(a, b) /
      (sqrt(VectorExpressions.arrayNorm2(a)) * sqrt(VectorExpressions.arrayNorm2(b)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash fingerprint of a string, mod 1e9+7.
    * Wraparound-free (fits int64) so DuckDB (which raises on BIGINT
    * overflow) can compute the identical value for the oracle. Native
    * codegen'd byte loop ([[StringExpressions.PolyHash]]) — the HOF
    * char fold was interpreted and dominated hash-per-shingle paths. */
  def polyFingerprint(text: Column): Column =
    ColumnBridge.column(StringExpressions.PolyHash(ColumnBridge.expression(text)))

  /** Half-up 4-decimal rounding of the mean `sumCents / (100 * n)`,
    * computed in exact integer arithmetic: floor((200*s + n) / (2n)) / 1e4.
    * Engine-portable — float `round()` implementations disagree when the
    * true mean lands exactly on a x.xxxx5 boundary (Spark rounds the
    * shortest decimal repr, DuckDB rounds the raw binary double). */
  def roundMeanE4(sumCents: Column, n: Column): Column =
    floor((sumCents * 200 + n) / (n * 2)) / 10000.0

  /** Half-up e4-rounded ratio num/den of non-negative longs, in exact
    * integer arithmetic (the roundMeanE4 idiom without the cents
    * factor) — engine-portable at ...5 boundaries. */
  def fracE4(num: Column, den: Column): Column =
    floor((num * 20000 + den) / (den * 2)) / 10000.0

  /** Exact integral division (SQL `div`) of two long columns. Column
    * `/` casts both operands to double, so quotients drift once the
    * dividend passes 2^53 — this stays exact at any int64 magnitude.
    * Truncates toward zero: equal to floor division only for
    * non-negative operands, so callers keep sign handling explicit. */
  def divLong(a: Column, b: Column): Column =
    ColumnBridge.column(IntegralDivide(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Sign-aware half-up integer division of exact-long `t` by a
    * positive long `d` — negatives round away from zero, matching
    * round-half-up on the decimal value — as a signed long. [[divLong]]
    * keeps it exact past 2^53, where `/` detours through doubles. */
  def halfUpDiv(t: Column, d: Column): Column = {
    val q = divLong(abs(t) + divLong(d, lit(2L)), d)
    when(t < 0, -q).otherwise(q)
  }

  /** Exact-cents sum of a 2-decimal column: the per-value cents are
    * summed as longs, so the total is independent of summation order
    * at any group size, where a double sum drifts in the 4th decimal
    * once a group grows with the corpus (the d1 sf30 lesson). */
  def centsSum(v: Column): Column =
    sum(cents(v).cast("long")) / 100.0

  /** A 2-decimal value on the cents grid, `round(v * 100, 0)`, as a double:
    * long sums add `.cast("long")`; squared-cents sums keep double range. */
  def cents(v: Column): Column = round(v * 100, 0)

  /** A value on the micro-unit grid: `floor(v * 1e6)` as a long. */
  def micros(v: Column): Column = floor(v * 1e6).cast("long")

  /** One PSI term `(pc - pr) * ln(pc / pr)` in micro-units, over the
    * smoothed current and reference shares: b14's and f11's one term. */
  def psiTermMicro(pc: Column, pr: Column): Column = micros((pc - pr) * log(pc / pr))

  /** The series clock: `tsCol` truncated to the second, unaliased, so
    * every gap, lag and epoch is integer-exact on both engines. */
  def periodOf(tsCol: String): Column = date_trunc("second", col(tsCol))

  /** The series order within each `keyCol`: by `period` ([[periodOf]]),
    * `idCol` breaking ties. Callers add their own frame. */
  def seriesOrder(keyCol: String, idCol: String): WindowSpec =
    Window.partitionBy(col(keyCol)).orderBy(col("period"), col(idCol))

  /** Lower-cased, punctuation-stripped, whitespace-normalized text —
    * the canonical form used by dedup and fingerprinting. One fused
    * native pass ([[StringExpressions.NormalizeText]]), bit-identical
    * to the composed chain
    * trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "),
    * "\\s+", " ")) that every DuckDB oracle replicates. */
  def normalizeText(text: Column): Column =
    ColumnBridge.column(StringExpressions.NormalizeText(ColumnBridge.expression(text)))
}
