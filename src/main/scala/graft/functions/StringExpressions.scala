package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native string-hash expressions.
  *
  * The HOF form of the polynomial fingerprint
  * (`aggregate(transform(split(text, "")...))`) is CodegenFallback:
  * every character goes through an interpreted lambda with a boxed
  * Long, and on hash-per-shingle paths (MinHash, SimHash) that cost
  * dominated the query. This expression runs the same recurrence as a
  * primitive byte loop inside whole-stage codegen.
  */
object StringExpressions {

  /** Analysis-time validation shared by every expression here: the one
    * child must be a string. */
  private def checkString(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name argument must be string, got ${other.catalogString}")
    }

  /** Polynomial rolling hash acc = (acc*31 + byte) mod 1e9+7 over the
    * UTF-8 bytes of the input. On ASCII input this is bit-identical to
    * the per-character `ascii()` fold (the form the DuckDB oracles
    * replicate); all callers hash normalized text, which is ASCII by
    * construction. Wraparound-free: acc < 2^30, so acc*31 + 255 < 2^35. */
  case class PolyHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = checkString("poly_hash", child)
    override protected def nullSafeEval(input: Any): Any =
      ShinglePack.polyHash(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.ShinglePack.polyHash($a)")
    override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
  }

  /** SORTED DISTINCT byte-packed character n-grams of a string — the
    * PPJoin gram builder as ONE primitive pass per document. The HOF
    * chain it replaces (split per char → transform(ascii) → transform
    * with n element_at lookups per gram → array_distinct → array_sort)
    * is CodegenFallback end to end: one UTF8String allocation per
    * CHARACTER plus boxed lambdas per gram dominated the e4 base build
    * (~half of its sf1 wall). Byte-for-byte identical to that chain on
    * normalized text, which is ASCII by construction (the PolyHash
    * precondition): each code-point lookup equals the UTF-8 byte, and
    * the shifts mirror cp·2^(8·(n−1−i)). Empty result below n chars;
    * 1 <= n <= 7 keeps codes in the top byte-slots of an int64. */
  case class PackedGrams(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1 && n <= 7, s"gram packing supports 1 <= n <= 7, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = checkString("packed_grams", child)
    override protected def nullSafeEval(input: Any): Any =
      GramPack.pack(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.GramPack.pack($a, $n)")
    override protected def withNewChildInternal(c: Expression): PackedGrams =
      copy(child = c)
  }

  def packedGrams(text: Column, n: Int): Column =
    ColumnBridge.column(PackedGrams(ColumnBridge.expression(text), n))

  /** Polynomial hashes of every n-word shingle of a normalized string,
    * in position order — the MinHash/decontamination shingle builder as
    * ONE primitive pass. Because normalized text is single-space joined
    * and trimmed (see [[graft.functions.normalizeText]]), each shingle
    * STRING is a contiguous byte window of the parent text, so its
    * [[PolyHash]] folds directly over the parent's bytes: no words
    * array, no per-shingle slice/concat allocation (the HOF chain this
    * replaces re-sliced and re-joined strings per shingle,
    * interpreted). Bit-identical to polyHash(concat_ws(" ",
    * slice(words, i, n))) on that input domain. Fewer than n words (or
    * an empty string) yields an empty array — callers gate on word
    * count anyway; note split()'s [""] for empty text makes the n = 1
    * empty-input case diverge, so keep n >= 2 (enforced). */
  case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    // n = 1 is the per-token hash (identical to polyFingerprint of each
    // token) — the boundary walk handles it by construction; e50's
    // hash-keyed context join is the consumer
    require(n >= 1 && n <= 64, s"shingle size must be in [1, 64], got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = checkString("shingle_hashes", child)
    override protected def nullSafeEval(input: Any): Any =
      ShinglePack.hashes(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.ShinglePack.hashes($a, $n)")
    override protected def withNewChildInternal(c: Expression): ShingleHashes =
      copy(child = c)
  }

  def shingleHashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))

  /** Every n-word shingle of a normalized string AS A STRING, in
    * position order — the vocabulary-building counterpart of
    * [[ShingleHashes]] for consumers that need the gram text itself
    * (n-gram frequency tables feeding BPE merge selection), not a
    * hash. Same single boundary walk; each shingle is a zero-copy
    * byte-window slice of the parent (single-space-joined normalized
    * input), bit-identical to concat_ws(" ", slice(words, i, n)) on
    * that domain. Same n >= 2 gate as the hash form. */
  case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 2 && n <= 64, s"shingle size must be in [2, 64], got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = checkString("shingle_strings", child)
    override protected def nullSafeEval(input: Any): Any =
      ShinglePack.strings(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.ShinglePack.strings($a, $n)")
    override protected def withNewChildInternal(c: Expression): ShingleStrings =
      copy(child = c)
  }

  def shingleStrings(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleStrings(ColumnBridge.expression(text), n))

  /** Canonical text normalization (lower-case, non-alnum → space,
    * whitespace collapsed, trimmed) fused into ONE pass — this chain
    * runs per document in front of nearly every text operator (dedup,
    * language ID, tokens, TF-IDF, fingerprints), where the composed
    * form costs a lower() materialization plus two full regex walks
    * per doc.
    *
    * ASCII inputs (the overwhelming case after ingest) take a single
    * byte loop. Any byte >= 0x80 falls back to the JDK replication of
    * the exact composed chain — lower, the two regexes, trim — so the
    * result is bit-identical to
    * trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "),
    * "\\s+", " ")) on EVERY input (parity spec: random unicode
    * included). The fast path is identical because for ASCII the net
    * effect of that chain is precisely: keep [a-z0-9] (lower-casing
    * A-Z), everything else becomes a separator, collapse separator
    * runs to one space, trim the ends. */
  case class NormalizeText(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult = checkString("normalize_text", child)
    override protected def nullSafeEval(input: Any): Any =
      TextNorm.normalize(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextNorm.normalize($a)")
    override protected def withNewChildInternal(c: Expression): NormalizeText =
      copy(child = c)
  }
}

/** Shared kernel for [[StringExpressions.NormalizeText]] — top-level so
  * generated Java calls the static forwarder directly. */
object TextNorm {
  // the exact patterns of the composed chain, compiled once
  private val nonAlnum = java.util.regex.Pattern.compile("[^a-z0-9\\s]")
  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  def normalize(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < b.length) { if (b(i) < 0) ascii = false; i += 1 }
    if (!ascii) {
      // non-ASCII: replicate the composed chain verbatim via the JDK
      // (UTF8String.toLowerCase is what Spark's lower() calls)
      val lowered = s.toLowerCase.toString
      val replaced = wsRun.matcher(nonAlnum.matcher(lowered).replaceAll(" ")).replaceAll(" ")
      return UTF8String.fromString(replaced.trim)
    }
    val out = new Array[Byte](b.length)
    var w = 0
    var pendingSep = false
    i = 0
    while (i < b.length) {
      val c = b(i)
      val lower: Byte = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      if ((lower >= 'a' && lower <= 'z') || (lower >= '0' && lower <= '9')) {
        if (pendingSep && w > 0) { out(w) = ' '; w += 1 }
        out(w) = lower
        w += 1
        pendingSep = false
      } else {
        pendingSep = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, w))
  }
}

/** Shared kernels for [[StringExpressions.PolyHash]],
  * [[StringExpressions.ShingleHashes]] and
  * [[StringExpressions.ShingleStrings]] — top-level so generated Java
  * calls the static forwarders directly. */
object ShinglePack {
  /** Modulus of the poly-hash recurrence. */
  private val P = 1000000007L

  /** The poly-hash recurrence acc = (acc*31 + byte) mod P over
    * b[from, until). */
  private def polyFold(b: Array[Byte], from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    while (i < until) { acc = (acc * 31L + (b(i) & 0xff)) % P; i += 1 }
    acc
  }

  def polyHash(s: UTF8String): Long = {
    val b = s.getBytes
    polyFold(b, 0, b.length)
  }

  /** The word-boundary walk: the start offset of every word of
    * single-space-joined text (word k spans [starts(k), next space)),
    * or null when the text is empty or has fewer than n words. */
  private def wordStarts(b: Array[Byte], n: Int): Array[Int] = {
    if (b.length == 0) return null
    var words = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' '.toByte) words += 1; i += 1 }
    if (words < n) return null
    val starts = new Array[Int](words)
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' '.toByte) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts
  }

  /** End (exclusive) of the n-word shingle that starts at word k. */
  private def shingleEnd(starts: Array[Int], len: Int, k: Int, n: Int): Int =
    if (k + n == starts.length) len else starts(k + n) - 1

  def hashes(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val starts = wordStarts(b, n)
    if (starts == null)
      return ArrayData.toArrayData(Array.empty[Long])
    val out = new Array[Long](starts.length - n + 1)
    var k = 0
    while (k < out.length) {
      out(k) = polyFold(b, starts(k), shingleEnd(starts, b.length, k, n))
      k += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Same boundary walk as [[hashes]], returning the shingle STRINGS as
    * zero-copy byte-window slices of the parent. */
  def strings(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val starts = wordStarts(b, n)
    if (starts == null)
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](starts.length - n + 1)
    var k = 0
    while (k < out.length) {
      val from = starts(k)
      out(k) = UTF8String.fromBytes(b, from, shingleEnd(starts, b.length, k, n) - from)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared packing kernel for [[StringExpressions.PackedGrams]] — a
  * TOP-LEVEL object so the Scala compiler emits static forwarders and
  * the generated Java can call `graft.functions.GramPack.pack(...)`
  * directly: the whole-stage pipeline stays compiled while the per-doc
  * work is one tight primitive pass. */
object GramPack {
  def pack(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    if (b.length < n)
      return ArrayData.toArrayData(Array.empty[Long])
    val m = b.length - n + 1
    val codes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var code = 0L
      var j = 0
      while (j < n) { code = (code << 8) | (b(i + j) & 0xffL); j += 1 }
      codes(i) = code
      i += 1
    }
    java.util.Arrays.sort(codes)
    // in-place dedup of the sorted codes
    var w = 1
    i = 1
    while (i < m) {
      if (codes(i) != codes(w - 1)) { codes(w) = codes(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(
      java.util.Arrays.copyOf(codes, w))
  }
}
