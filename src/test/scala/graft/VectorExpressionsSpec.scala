package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val dim = 16
  lazy val vecs = (0 until 100).map { i =>
    (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }
  lazy val df = vecs.toDF("id", "vec")

  test("array type checks name the first bad argument and its type") {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
    import VectorExpressions.{ArrayDot, SortedIntersectCount}
    val doubles = Literal.create(Seq(1.0), ArrayType(DoubleType))
    val longs = Literal.create(Seq(1L), ArrayType(LongType))
    val strings = Literal.create(Seq("a"), ArrayType(StringType))
    def failure(e: Expression): String = e.checkInputDataTypes() match {
      case TypeCheckFailure(message) => message
      case other => fail(s"expected a type-check failure, got $other")
    }
    assert(ArrayDot(doubles, longs).checkInputDataTypes().isSuccess)
    assert(failure(ArrayDot(doubles, strings)) ==
      "array_dot argument 2 must be array<double|float|bigint|int>, got array<string>")
    assert(failure(ArrayDot(Literal(1.0), strings)) ==
      "array_dot argument 1 must be array<double|float|bigint|int>, got double")
    assert(SortedIntersectCount(longs, longs).checkInputDataTypes().isSuccess)
    assert(failure(SortedIntersectCount(longs, doubles)) ==
      "sorted_intersect_count argument 2 must be array<bigint>, got array<double>")
  }

  /** Driver-side reference: identical float->double promotion and
    * left-to-right accumulation order as the native loops. */
  private def refDot(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  test("arrayDot and arrayNorm2 match driver-side loops bit-exactly") {
    val out = df.select(col("id"),
      VectorExpressions.arrayDot(col("vec"), col("vec")).as("dot"),
      VectorExpressions.arrayNorm2(col("vec")).as("n2"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    vecs.foreach { case (id, v) =>
      val expect = refDot(v, v.map(_.toDouble))
      assert(out(id)._1 == expect && out(id)._2 == expect)
    }
  }

  test("arraySub and arrayAdd are bit-identical to the zip_with forms they replace") {
    // round 12: the IVF-PQ residual path swapped interpreted
    // zip_with(_-_)/zip_with(_+_) for these natives — equality must be
    // EXACT (the e62 lossless spec depends on bit-identical x̂), with
    // the raw float input widening per element like an up-front cast
    val cent = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val centCol = typedLit(cent.toSeq)
    val out = df.select(col("id"),
      VectorExpressions.arraySub(col("vec"), centCol).as("sub"),
      VectorExpressions.arrayAdd(col("vec"), centCol).as("add"),
      zip_with(transform(col("vec"), _.cast("double")), centCol, (a, b) => a - b).as("zsub"),
      zip_with(transform(col("vec"), _.cast("double")), centCol, (a, b) => a + b).as("zadd"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Double]](1) == r.getAs[scala.collection.Seq[Double]](3))
      assert(r.getAs[scala.collection.Seq[Double]](2) == r.getAs[scala.collection.Seq[Double]](4))
    }
  }

  test("pqReconstruct and pqAssign match the slice/argmin/element_at composition") {
    // round 12: the fused kernels replace the m-way unrolled
    // composition (which generated JIT-uncompilable whole-stage code);
    // equality must be EXACT — same slice offsets, distance fold
    // order, tie resolution, and short-tail guard
    val m = 4; val dsub = dim / m
    val cbs: Array[Array[Array[Double]]] = Array.fill(m)(
      Array.fill(6)(Array.fill(dsub)(rnd.nextDouble() * 2 - 1)))
    val composed = concat(cbs.zipWithIndex.map { case (cb, s) =>
      element_at(typedLit(cb.map(_.toSeq).toSeq),
        VectorExpressions.nearestCentroid(slice(col("vec"), s * dsub + 1, dsub), cb) + 1)
    }.toIndexedSeq: _*)
    val assignsComposed = array(cbs.zipWithIndex.map { case (cb, s) =>
      VectorExpressions.nearestCentroid(slice(col("vec"), s * dsub + 1, dsub), cb)
    }.toIndexedSeq: _*)
    val out = df.select(
      VectorExpressions.pqReconstruct(col("vec"), cbs, dsub).as("f"),
      composed.as("c"),
      VectorExpressions.pqAssign(col("vec"), cbs, dsub).as("fa"),
      assignsComposed.as("ca")).collect()
    out.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Double]](0) == r.getAs[scala.collection.Seq[Double]](1))
      assert(r.getAs[scala.collection.Seq[Int]](2) == r.getAs[scala.collection.Seq[Int]](3))
    }
  }

  test("nearestCentroid and centroidDistances match driver argmin") {
    val cents = Array.fill(5)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val out = df.select(col("id"),
      VectorExpressions.nearestCentroid(col("vec"), cents).as("c"),
      VectorExpressions.centroidDistances(col("vec"), cents).as("d"))
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getAs[scala.collection.Seq[Double]](2))).toMap
    vecs.foreach { case (id, v) =>
      val dists = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < dim) { val t = v(i).toDouble - c(i); s += t * t; i += 1 }
        s
      }
      val best = dists.indexOf(dists.min)
      assert(out(id)._1 == best)
      assert(out(id)._2.toSeq == dists.toSeq)
    }
  }

  test("planeSignature sets exactly the sign bits of the plane dots") {
    val planes = Array.fill(10)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val out = df.select(col("id"),
      VectorExpressions.planeSignature(col("vec"), planes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      var expect = 0L
      planes.zipWithIndex.foreach { case (p, b) =>
        if (refDot(v, p) >= 0) expect |= 1L << b
      }
      assert(out(id) == expect)
    }
  }

  test("extensions expose array_dot / array_norm2 to SQL") {
    val r = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "array_norm2(array(3.0D, 4.0D)) AS n").head()
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 25.0)
  }

  test("extensions expose array_abs_max / quantize_int8 to SQL") {
    val r = spark.sql(
      "SELECT array_abs_max(array(0.5D, -2.0D, 1.0D)) AS m, " +
        "quantize_int8(array(0.5D, -2.0D, 1.0D), 2.0D) AS q").head()
    assert(r.getDouble(0) == 2.0)
    // floor(0.25*127+0.5)=32, floor(-127+0.5)=-127, floor(63.5+0.5)=64
    assert(r.getAs[scala.collection.Seq[Int]](1).toSeq == Seq(32, -127, 64))
  }

  test("native expressions accept array<double> input too") {
    val ddf = vecs.map { case (id, v) => (id, v.map(_.toDouble)) }.toDF("id", "vec")
    val got = ddf.select(VectorExpressions.arrayNorm2(col("vec")).as("n2"))
      .agg(sum("n2")).head().getDouble(0)
    val expect = vecs.map { case (_, v) => refDot(v, v.map(_.toDouble)) }.sum
    assert(math.abs(got - expect) < 1e-9)
  }

  test("null element slots read as 0.0 on interpreted and codegen paths") {
    val ndf = Seq((1L, Array[java.lang.Double](1.0, null, 3.0)))
      .toDF("id", "vec")
    // DataFrame path (a local Seq frame: ConvertToLocalRelation folds it
    // and evaluates it interpreted — the projections below run codegen)
    val cg = ndf.select(
      VectorExpressions.arrayDot(col("vec"), col("vec")).as("d"),
      VectorExpressions.arrayNorm2(col("vec")).as("n")).head()
    assert(cg.getDouble(0) == 10.0 && cg.getDouble(1) == 10.0)
    // interpreted path (force eval through a literal-only expression tree)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
      InterpretedUnsafeProjection, Literal, UnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val arr = Literal.create(ArrayData.toArrayData(Array[Any](1.0, null, 3.0)),
      ArrayType(DoubleType, containsNull = true))
    assert(VectorExpressions.ArrayDot(arr, arr).eval(null) == 10.0)
    assert(VectorExpressions.ArrayNorm2(arr).eval(null) == 10.0)

    // Both paths for real, for every native projection expression in
    // graft.functions: the same expressions run through compiled
    // generated code (GenerateUnsafeProjection) and through nullSafeEval
    // (InterpretedUnsafeProjection) over UnsafeRow input, and every
    // output field must be bit-equal. Columns: 0-3 vector x and 4-7
    // vector y as array<double|float|bigint|int>, 8-9 sorted
    // array<bigint>, 10 string, 11 double scale, 12 bigint key.
    import graft.functions.StringExpressions._
    import graft.functions.VectorExpressions._
    val elemTypes = Seq(DoubleType, FloatType, LongType, IntegerType)
    val schema: Seq[DataType] = (elemTypes ++ elemTypes).map(ArrayType(_, containsNull = true)) ++
      Seq(ArrayType(LongType, containsNull = true), ArrayType(LongType, containsNull = true),
        StringType, DoubleType, LongType)
    val prnd = new scala.util.Random(41)
    type Vec = Seq[Option[Double]]
    def dense(n: Int): Vec = Seq.fill(n)(Some(prnd.nextDouble() * 4 - 2))
    def typed(v: Vec, et: DataType): ArrayData = if (v == null) null else
      new GenericArrayData(v.map(_.map[Any] { d => et match {
        case DoubleType => d
        case FloatType => d.toFloat
        case LongType => math.round(d * 50)
        case _ => math.round(d * 50).toInt
      }}.orNull))
    def longs(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
    val big = 1L << 53
    // (x, y, sorted a, sorted b, text, scale, key): null slots, unequal
    // lengths (both ways, and past/short of the PQ width 6), empty and
    // null arrays
    val rows: Seq[(Vec, Vec, ArrayData, ArrayData, String, java.lang.Double, java.lang.Long)] = Seq(
      (dense(6), dense(6), longs(1L, 5L, 9L), longs(5L, 9L, 11L), "the quick brown fox", 2.0, 7L),
      (dense(6).updated(1, None).updated(4, None), dense(6).updated(0, None),
        longs(null, 3L, big + 1), longs(null, big + 1, big + 2),
        "Hello,  World! 42", 1.5, 11L),
      (dense(3), dense(6), longs(), longs(2L), "a", 0.0, -3L),
      (Seq(), dense(4), longs(big + 1), longs(big + 2), "", -1.0, 0L),
      (dense(8), Seq(), longs(1L, 2L, 3L), longs(), "repeat repeat repeat", 3.0, 42L),
      (null, dense(6), null, longs(4L), "ÀÉÎ unicode éß", null, null),
      (dense(6), null, longs(4L), null, null, 2.5, 5L))
    val input = UnsafeProjection.create(schema.toArray)
    val inputRows = rows.map { case (x, y, a, b, s, scale, key) =>
      input(InternalRow.fromSeq(elemTypes.map(typed(x, _)) ++ elemTypes.map(typed(y, _)) ++
        Seq(a, b, if (s == null) null else UTF8String.fromString(s), scale, key))).copy()
    }
    def ref(i: Int): Expression = BoundReference(i, schema(i), nullable = true)
    val cents = Array.fill(5)(Array.fill(6)(prnd.nextDouble() * 4 - 2)) :+ Array(0.5, -0.5, 1.0, 0.0)
    val planes = Array.fill(10)(Array.fill(6)(prnd.nextDouble() * 2 - 1)) :+ Array(1.0, -1.0)
    val codebooks = Array.fill(2)(Array.fill(4)(Array.fill(3)(prnd.nextDouble() * 4 - 2)))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    Seq(7L, 42L, -3L).foreach(bloom.putLong)
    val exprs: Seq[Expression] =
      elemTypes.indices.flatMap { xi =>
        val x = ref(xi)
        Seq(ArrayNorm2(x), ArrayAbsMax(x), NearestCentroid(x, cents),
          CentroidDistances(x, cents), PlaneSignature(x, planes),
          QuantizeInt8(x, ref(11)), QuantizeInt8(x, ArrayAbsMax(x)),
          PqReconstruct(x, codebooks, 3), PqAssign(x, codebooks, 3)) ++
          elemTypes.indices.flatMap { yi =>
            Seq(ArrayDot(x, ref(4 + yi)), ArraySub(x, ref(4 + yi)), ArrayAdd(x, ref(4 + yi)))
          }
      } ++ Seq(SortedIntersectCount(ref(8), ref(9)),
        PolyHash(ref(10)), PackedGrams(ref(10), 3), PackedGrams(ref(10), 7),
        ShingleHashes(ref(10), 1), ShingleHashes(ref(10), 2), ShingleStrings(ref(10), 2),
        NormalizeText(ref(10)),
        graft.functions.SketchExpressions.BloomMightContainLong(ref(12), bloom))
    // every native projection expression is covered (SimhashVotes is an
    // aggregate with no projection form)
    assert(exprs.map(_.getClass.getSimpleName).toSet == Set("ArrayDot", "ArrayNorm2",
      "NearestCentroid", "CentroidDistances", "PlaneSignature", "ArrayAbsMax", "QuantizeInt8",
      "SortedIntersectCount", "ArraySub", "ArrayAdd", "PqReconstruct", "PqAssign", "PolyHash",
      "PackedGrams", "ShingleHashes", "ShingleStrings", "NormalizeText", "BloomMightContainLong"))
    assert(exprs.forall(_.checkInputDataTypes().isSuccess))
    // the interpreted side evaluates copies shipped through Java
    // serialization, as every task binary ships them
    val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf).newInstance()
    val generated = GenerateUnsafeProjection.generate(exprs)
    val interpreted = InterpretedUnsafeProjection.createProjection(
      exprs.map(e => ser.deserialize[Expression](ser.serialize(e))))
    inputRows.zipWithIndex.foreach { case (row, r) =>
      val (g, p) = (generated(row).copy(), interpreted(row).copy())
      exprs.zipWithIndex.foreach { case (e, i) =>
        assert(java.util.Objects.equals(g.get(i, e.dataType), p.get(i, e.dataType)),
          s"row $r: $e codegen ${g.get(i, e.dataType)} != interpreted ${p.get(i, e.dataType)}")
      }
      assert(g == p, s"row $r: output rows differ in bytes")
    }
    // the null-slot rule holds on the compiled path too (row 1: x has
    // null slots; the norm equals the sum over the non-null ones)
    val x1 = rows(1)._1.map(_.getOrElse(0.0))
    assert(generated(inputRows(1)).getDouble(0) == x1.foldLeft(0.0)((s, d) => s + d * d))
  }

  test("sortedIntersectCount matches a driver-side set intersection") {
    val rnd2 = new scala.util.Random(13)
    val rows = (0 until 60).map { i =>
      val a = Array.fill(rnd2.nextInt(50))(rnd2.nextInt(40).toLong).distinct.sorted
      val b = Array.fill(rnd2.nextInt(50))(rnd2.nextInt(40).toLong).distinct.sorted
      (i.toLong, a, b)
    }
    // codegen path
    val out = rows.toDF("id", "a", "b")
      .select(col("id"),
        graft.functions.VectorExpressions.sortedIntersectCount(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, a, b) =>
      assert(out(id) == a.toSet.intersect(b.toSet).size, s"row $id")
    }
    // interpreted path + 64-bit exactness above 2^53 (7-gram codes)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val big = Array((1L << 53) + 1L, (1L << 53) + 2L, (1L << 62))
    val l1 = Literal.create(ArrayData.toArrayData(big),
      ArrayType(LongType, containsNull = false))
    val l2 = Literal.create(ArrayData.toArrayData(Array((1L << 53) + 2L, (1L << 62))),
      ArrayType(LongType, containsNull = false))
    assert(graft.functions.VectorExpressions.SortedIntersectCount(l1, l2).eval(null) == 2)
    // a double-compared version would collapse 2^53+1 and 2^53+2
    val l3 = Literal.create(ArrayData.toArrayData(Array((1L << 53) + 2L)),
      ArrayType(LongType, containsNull = false))
    assert(graft.functions.VectorExpressions.SortedIntersectCount(l1, l3).eval(null) == 1)
  }

  test("packedGrams and shingleHashes match the HOF chains they replaced") {
    import graft.functions.StringExpressions
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "abc", "ab", "", "single",
      "repeat repeat repeat repeat")
    val df2 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    // reference: the original split/transform/ascii packing
    val hof = df2.select(col("id"),
        transform(split(col("t"), ""), c => ascii(c).cast("long")).as("cc"))
      .select(col("id"),
        when(size(col("cc")) >= 3,
          array_sort(array_distinct(transform(
            sequence(lit(1), greatest(size(col("cc")) - 2, lit(1))),
            p => (0 until 3).map(i => element_at(col("cc"), p + i) *
              lit(1L << (8 * (2 - i)))).reduce(_ + _)))))
          .otherwise(array().cast("array<bigint>")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val nat = df2.select(col("id"), StringExpressions.packedGrams(col("t"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach(i => assert(nat(i.toLong) == hof(i.toLong), s"grams of '${texts(i)}'"))
    // reference: the original slice/concat_ws/polyHash shingles
    val shof = df2.select(col("id"), split(col("t"), " ").as("w"))
      .select(col("id"), col("w"),
        explode(when(size(col("w")) >= 2,
            sequence(lit(1), size(col("w")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("id"),
        graft.functions.polyFingerprint(concat_ws(" ", slice(col("w"), col("i"), lit(2)))).as("h"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val snat = df2.select(col("id"),
        explode(StringExpressions.shingleHashes(col("t"), 2)).as("h"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    texts.indices.foreach { i =>
      assert(snat.getOrElse(i.toLong, Seq()) == shof.getOrElse(i.toLong, Seq()),
        s"shingles of '${texts(i)}'")
    }
    // reference: the original slice/concat_ws STRING shingles
    val strHof = df2.select(col("id"), split(col("t"), " ").as("w"))
      .select(col("id"), col("w"),
        explode(when(size(col("w")) >= 2,
            sequence(lit(1), size(col("w")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("id"), concat_ws(" ", slice(col("w"), col("i"), lit(2))).as("g"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    val strNat = df2.select(col("id"),
        explode(StringExpressions.shingleStrings(col("t"), 2)).as("g"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    texts.indices.foreach { i =>
      assert(strNat.getOrElse(i.toLong, Seq()) == strHof.getOrElse(i.toLong, Seq()),
        s"string shingles of '${texts(i)}'")
    }
  }

  test("extensions expose the text kernels and sorted_intersect_count to SQL") {
    import spark.implicits._
    Seq((1L, "Hello, World!  42")).toDF("id", "t").createOrReplaceTempView("__sqlt")
    val r = spark.sql(
      """SELECT normalize_text(t) AS n, poly_hash(normalize_text(t)) AS h,
         size(packed_grams(normalize_text(t), 3)) AS g,
         size(shingle_hashes(normalize_text(t), 2)) AS s,
         sorted_intersect_count(array(1L, 5L, 9L), array(5L, 9L, 11L)) AS c
         FROM __sqlt""").head()
    assert(r.getString(0) == "hello world 42")
    assert(r.getInt(4) == 2)
    assert(r.getInt(2) > 0 && r.getInt(3) == 2)
  }

  test("native normalizeText is bit-identical to the composed regex chain") {
    val rnd3 = new scala.util.Random(99)
    val alphabet = "abzAZ09 \t\n!@#.é漢ΩßKİ" // incl. Kelvin sign + dotted I
    val rows = (0 until 300).map { i =>
      val len = rnd3.nextInt(40)
      (i.toLong, Seq.fill(len)(alphabet(rnd3.nextInt(alphabet.length))).mkString)
    } ++ Seq((1000L, ""), (1001L, "   "), (1002L, "a!!b  c"), (1003L, "ÀÉÎ"),
      (1004L, null.asInstanceOf[String]))
    val df3 = rows.toDF("id", "t")
    val out = df3.select(col("id"),
        graft.functions.normalizeText(col("t")).as("nat"),
        trim(regexp_replace(regexp_replace(lower(col("t")), "[^a-z0-9\\s]", " "),
          "\\s+", " ")).as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch id=${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getString(1) == r.getString(2),
          s"id=${r.getLong(0)}: '${r.getString(1)}' != '${r.getString(2)}'")
    }
  }

  test("non-array input fails at analysis time, not as a runtime CCE") {
    val bad = Seq((1L, "oops")).toDF("id", "vec")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(VectorExpressions.arrayNorm2(col("vec"))).collect()
    }
    assert(e.getMessage.contains("array_norm2") || e.getMessage.contains("DATATYPE"))
  }

  test("arrayAbsMax and quantizeInt8 match driver-side reference exactly") {
    val out = df.select(col("id"),
      VectorExpressions.arrayAbsMax(col("vec")).as("scale"),
      VectorExpressions.quantizeInt8(col("vec"),
        VectorExpressions.arrayAbsMax(col("vec"))).as("q"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getAs[scala.collection.Seq[Int]](2))).toMap
    vecs.foreach { case (id, v) =>
      val scale = v.map(x => math.abs(x.toDouble)).max
      val codes = v.map(x => math.floor(x.toDouble / scale * 127.0 + 0.5).toInt)
      assert(out(id)._1 == scale)
      assert(out(id)._2.toSeq == codes.toSeq)
      assert(codes.forall(c => c >= -127 && c <= 127))
    }
    // zero vector: scale 0, all-zero codes (no division)
    val z = Seq((1L, Array(0f, 0f, 0f))).toDF("id", "vec")
      .select(VectorExpressions.arrayAbsMax(col("vec")).as("s"),
        VectorExpressions.quantizeInt8(col("vec"), lit(0.0)).as("q")).head()
    assert(z.getDouble(0) == 0.0 && z.getAs[scala.collection.Seq[Int]](1).forall(_ == 0))
  }

  test("quantized cosine top-k agrees with exact float top-1 for most queries") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    def top1(dfr: org.apache.spark.sql.DataFrame) = dfr
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(graft.vector.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1))
    val quant = top1(graft.vector.Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 1))
    val agree = exact.count { case (q, n) => quant.get(q).contains(n) }
    // int8 on 64 dims: angle error ~1e-3 — top-1 flips only on near-ties
    assert(agree >= (exact.size * 8) / 10, s"top-1 agreement $agree/${exact.size}")
  }

  test("assign maps matrix positions back to non-contiguous cluster ids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("cluster", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    // ids 7 and 3 (unsorted, non-contiguous): rows near (1,0) must get 7
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(7, Seq(1.0, 0.0)), Row(3, Seq(0.0, 1.0))),
      schema)
    val pts = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.9f)))
      .toDF("id", "vec")
    val got = graft.vector.Cluster.assign(pts, "id", "vec", cents)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cluster")).toMap
    assert(got(1L) == 7 && got(2L) == 3)
  }
}
