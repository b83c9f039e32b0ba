package graft.functions

import graft.SparkSpec
import graft.functions.VectorExpressions.{adcSum, arrayDot, binarySignWords, hammingWords,
  l2Norm, nearestCell, nearestCells, sqDist}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

object VectorExpressionsSpec {
  /** One centroid-array entry, named as the ANN model rows are. */
  case class Cent(cell: Option[Long], ce: Option[Seq[Option[Double]]])
}

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._
  import VectorExpressionsSpec.Cent

  test("array_dot matches the higher-order-function formulation bit-for-bit") {
    val df = (0 until 100).map { i =>
      (Seq.tabulate(32)(j => math.sin(i * 31 + j).toFloat),
        Seq.tabulate(32)(j => math.cos(i * 17 + j).toFloat))
    }.toDF("a", "b")
    val got = df.select(arrayDot(col("a"), col("b")).as("d")).as[Double].collect()
    val ref = df.select(
      aggregate(zip_with(transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double")), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d")).as[Double].collect()
    got.zip(ref).foreach { case (g, r) => assert(g == r, s"$g != $r") }
  }

  test("array_dot works on float and double arrays, nulls propagate") {
    val f = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("a", "b")
    assert(f.select(arrayDot(col("a"), col("b"))).as[Double].head() == 11.0)
    assert(f.select(l2Norm(col("a"))).as[Double].head() == math.sqrt(5.0))
    val n = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(n.select(arrayDot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("array_dot participates in whole-stage codegen") {
    // non-foldable input (range) so the projection isn't constant-folded
    val df = spark.range(100).select(
      transform(sequence(lit(0), lit(7)), i => (col("id") + i).cast("double")).as("a"))
      .select(arrayDot(col("a"), col("a")).as("d"))
    // `*(n)` marks a WholeStageCodegen stage in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[array_dot""".r.findFirstIn(plan).isDefined, plan)
    assert(df.agg(sum("d")).as[Double].head() > 0)
  }

  test("binary_asym_score: exact integer contract, codegen participates") {
    import graft.functions.VectorExpressions.binaryAsymScore
    // dim=40 exercises the partial second word
    val dim = 40
    def signs(seed: Int): Seq[Double] =
      Seq.tabulate(dim)(i => math.sin(seed * 37 + i + 1))
    def packed(v: Seq[Double]): Seq[Long] =
      Seq.tabulate((dim + 31) / 32) { w =>
        (0 until math.min(32, dim - w * 32)).map { b =>
          if (v(w * 32 + b) > 0.0) 1L << b else 0L
        }.sum
      }
    val qq = Seq.tabulate(dim)(i => ((i * 13) % 255 - 127).toLong)
    val rows = (1 to 20).map(s => (qq, packed(signs(s)), signs(s)))
    val df = rows.toDF("qq", "bw", "v")
    val got = df.select(binaryAsymScore(col("qq"), col("bw"), dim).as("s"))
      .as[Long].collect()
    val ref = rows.map { case (q, _, v) =>
      q.zip(v).map { case (qi, vi) => if (vi > 0.0) qi else -qi }.sum
    }
    got.zip(ref).foreach { case (g, r) => assert(g == r, s"$g != $r") }
    // inside whole-stage codegen (non-foldable input)
    // double-reference the HOF outputs so CollapseProject keeps them in
    // their own projection (lambda HOFs are CodegenFallback and would
    // drag the whole collapsed Project out of WSCG — the array_dot
    // test's trick)
    val cg = spark.range(50).select(
      transform(sequence(lit(0), lit(dim - 1)),
        i => (col("id") % 7 - 3).cast("long")).as("qq"),
      transform(sequence(lit(0), lit((dim + 31) / 32 - 1)),
        w => (col("id") * 2654435761L).bitwiseAND(lit(0xffffffffL))).as("bw"))
      .select(binaryAsymScore(col("qq"), col("bw"), dim).as("s"),
        size(col("qq")).as("nq"), size(col("bw")).as("nw"))
    val plan = cg.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[binary_asym_score""".r.findFirstIn(plan).isDefined,
      plan)
    assert(cg.count() == 50)
    // too-short inputs fail loud, not silently truncate
    intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L))).toDF("qq", "bw")
        .select(binaryAsymScore(col("qq"), col("bw"), 40)).collect()
    }
  }

  // ------------------------------------------------------------ ANN kernels
  //
  // Each kernel is compared with the built-in formulation it replaced,
  // bit for bit (doubles by their IEEE bits, so -0.0 != 0.0), and error
  // for error (the same Spark error condition), under ANSI on and off,
  // interpreted and generated.

  private val rnd = new scala.util.Random(20261017L)

  /** A double drawn to make exact ties, signed zeros, NaN and infinities
    * common, with some plain randoms mixed in.
    */
  private def edgyDouble(): Double = rnd.nextInt(10) match {
    case 0 => -0.0
    case 1 => 0.0
    case 2 => Double.NaN
    case 3 => if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
    case 4 | 5 | 6 => (rnd.nextInt(5) - 2).toDouble / 2
    case _ => rnd.nextGaussian()
  }

  private def edgyVec(n: Int, nullRate: Int): Option[Seq[Option[Double]]] =
    if (rnd.nextInt(25) == 0) None
    else Some(Seq.fill(n)(if (nullRate > 0 && rnd.nextInt(nullRate) == 0) None
      else Some(edgyDouble())))

  /** Canonical form of a collected value: doubles by their bits. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToIntBits(f)}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case st: SparkThrowable if st.getCondition != null => st.getCondition
    }.getOrElse(t.getClass.getName)

  /** Rows as canonical strings, or the error condition that failed them. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().toSeq.map(canon))
    catch { case t: Throwable => Left(condition(t)) }

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"),
    "generated" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      // generated code that does not compile fails the query
      "spark.sql.codegen.fallback" -> "false",
      // keep local test rows from being folded on the driver
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))

  private def withConf[T](kv: Map[String, String])(body: => T): T = {
    val old = kv.keys.map(k => k -> spark.conf.getOption(k))
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Under ANSI on and off, interpreted and generated: the kernel column
    * and the reference column over `df` give identical outcomes. Both
    * columns are built inside the conf scope (ANSI is read when an
    * expression is built).
    */
  private def sameAsReference(df: => DataFrame, kernel: => Column,
      reference: => Column, ansi: Seq[Boolean] = Seq(true, false)): Unit =
    for (a <- ansi; (mode, conf) <- modes) {
      withConf(conf + ("spark.sql.ansi.enabled" -> a.toString)) {
        val d = df
        val got = outcome(d.select(kernel.as("r")))
        val want = outcome(d.select(reference.as("r")))
        assert(got == want, s"ansi=$a $mode:\n kernel    $got\n reference $want")
      }
    }

  /** The generated-code check of the `array_dot` test: the kernel sits in
    * a whole-stage-codegen Project over non-foldable input, and that
    * stage compiles (no fallback to interpreted evaluation).
    */
  private def assertCodegenStage(df: => DataFrame, name: String): Unit =
    withConf(modes.toMap.apply("generated")) {
      val d = df
      val plan = d.queryExecution.executedPlan.toString
      assert(s"""\\*\\(\\d+\\) Project \\[$name""".r.findFirstIn(plan).isDefined, plan)
      d.collect()
    }

  test("binary_sign_words matches the CASE WHEN packing bit for bit") {
    def reference(vec: Column, dim: Int): Column =
      array((0 until (dim + 31) / 32).map { w =>
        (0 until math.min(32, dim - w * 32)).map { b =>
          when(element_at(vec, w * 32 + b + 1).cast("double") > 0.0,
            lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*)
    for (dim <- Seq(1, 40, 64)) {
      val full = Seq.fill(60)(edgyVec(dim + rnd.nextInt(3), 6)).toDF("v")
      val asFloat = full.select(col("v").cast("array<float>").as("v"))
      for (df <- Seq(full, asFloat))
        sameAsReference(df, binarySignWords(col("v"), dim), reference(col("v"), dim))
      // short vectors: bits past the end are 0, or (ANSI) the first
      // missing index fails, as element_at does
      if (dim > 1) {
        val short = Seq(edgyVec(dim - 1, 6), Some(Seq.empty[Option[Double]])).toDF("v")
        for (df <- Seq(short.limit(1), short.filter(size(col("v")) === 0)))
          sameAsReference(df, binarySignWords(col("v"), dim), reference(col("v"), dim))
      }
    }
    // a null vector packs to zero words, never null
    val nullVec = Seq(Option.empty[Seq[Double]]).toDF("v")
    assert(nullVec.select(binarySignWords(col("v"), 40)).head().getSeq[Long](0) == Seq(0L, 0L))
    assertCodegenStage(spark.range(50).select(
      transform(sequence(lit(0), lit(63)), i => sin(col("id") * 7 + i)).as("v"))
      .select(binarySignWords(col("v"), 64).as("bw"), size(col("v")).as("n")),
      "binary_sign_words")
  }

  test("hamming_words matches the zip_with/bit_count fold bit for bit") {
    def reference(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, x) => acc + x)
    def words(n: Int): Option[Seq[Option[Long]]] =
      if (rnd.nextInt(20) == 0) None
      else Some(Seq.fill(n)(if (rnd.nextInt(30) == 0) None
        else Some(rnd.nextInt(3) match {
          case 0 => rnd.nextLong()
          case 1 => rnd.nextLong() & 0xffffffffL
          case _ => -1L
        })))
    val df = Seq.fill(200) {
      val n = rnd.nextInt(4)
      (words(n), words(if (rnd.nextInt(5) == 0) n + 1 else n))
    }.toDF("a", "b")
    sameAsReference(df, hammingWords(col("a"), col("b")), reference(col("a"), col("b")))
    assertCodegenStage(spark.range(50).select(
      array(col("id"), col("id") * 31).as("a"), array(col("id") + 1, lit(7L)).as("b"))
      .select(hammingWords(col("a"), col("b")).as("h"), size(col("a")).as("n")),
      "hamming_words")
  }

  test("sq_dist matches the zip_with square-difference fold bit for bit") {
    def reference(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    val df = Seq.fill(300) {
      val n = rnd.nextInt(9)
      (edgyVec(n, 20), edgyVec(if (rnd.nextInt(6) == 0) n + 1 - rnd.nextInt(3) else n, 20))
    }.toDF("a", "b")
    sameAsReference(df, sqDist(col("a"), col("b")), reference(col("a"), col("b")))
    // plain randoms: rounding of the left-to-right fold, not just edge values
    val gauss = Seq.fill(100)((Seq.fill(64)(rnd.nextGaussian()),
      Seq.fill(64)(rnd.nextGaussian() * 1e3))).toDF("a", "b")
    sameAsReference(gauss, sqDist(col("a"), col("b")), reference(col("a"), col("b")),
      ansi = Seq(true))
    assertCodegenStage(spark.range(50).select(
      transform(sequence(lit(0), lit(7)), i => sin(col("id") + i)).as("a"))
      .select(sqDist(col("a"), reverse(col("a"))).as("d"), size(col("a")).as("n")),
      "sq_dist")
  }

  test("zip-fold kernels over non-nullable inputs of equal and unequal lengths") {
    // non-nullable arrays, as binary_sign_words and array(...) produce;
    // odd ids differ in length, so the kernel result is still null there
    def rows: DataFrame = spark.range(40).select(
      transform(sequence(lit(0), lit(39)), i => sin(col("id") * 3 + i)).as("v"),
      transform(sequence(lit(0), lit(39)), i => cos(col("id") + i * 5)).as("w"),
      (col("id") % 2 === 1).as("odd"))
    def cut(c: Column, n: Int): Column = when(col("odd"), slice(c, 1, n - 1)).otherwise(c)
    assert(!rows.select(cut(col("v"), 40)).schema.head.nullable)
    val hamming = (hammingWords(binarySignWords(col("v"), 40),
      cut(binarySignWords(col("w"), 40), 2)), aggregate(zip_with(binarySignWords(col("v"), 40),
      cut(binarySignWords(col("w"), 40), 2), (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x))
    val sq = (sqDist(col("v"), cut(col("w"), 40)), aggregate(zip_with(col("v"), cut(col("w"), 40),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
    for ((kernel, reference) <- Seq(hamming, sq)) {
      sameAsReference(rows, kernel, reference)
      val got = rows.select(kernel.isNull).collect().map(_.getBoolean(0))
      assert(got.toSeq == (0 until 40).map(_ % 2 == 1))
    }
    assertCodegenStage(rows.select(hamming._1.as("h"), sq._1.as("d")), "hamming_words")
  }

  /** Centroid arrays with exact d² ties (repeated centroids under
    * different, unordered cells), NaN and infinite d², null d² (null or
    * mismatched-length centroids), null cells and null entries.
    */
  private def centroidRows(n: Int): DataFrame = {
    val palette = Seq.fill(4)(edgyVec(3, 0))
    def cent(i: Int): Cent = Cent(
      if (rnd.nextInt(15) == 0) None else Some((i * 7919L) % 23 - rnd.nextInt(2)),
      rnd.nextInt(12) match {
        case 0 => None
        case 1 => edgyVec(2 + rnd.nextInt(3), 0)
        case 2 => edgyVec(3, 4)
        case _ => palette(rnd.nextInt(palette.size))
      })
    Seq.fill(n) {
      val k = rnd.nextInt(8)
      val cents =
        if (rnd.nextInt(20) == 0) None
        else Some(Seq.tabulate(k)(i => if (rnd.nextInt(25) == 0) null else cent(i)))
      val e = if (rnd.nextInt(3) == 0) palette(rnd.nextInt(palette.size)) else edgyVec(3, 10)
      (cents, e)
    }.toDF("cents", "e")
  }

  /** Non-foldable (cents, e) rows for the codegen-stage checks. */
  private def centroidsInCodegen: DataFrame = spark.range(50).select(
      array(
        struct((col("id") % 3).as("cell"), array(col("id").cast("double")).as("ce")),
        struct(lit(5L).as("cell"), array(lit(2.0)).as("ce"))).as("cents"),
      array((col("id") % 4).cast("double")).as("e"))

  private def refPairs(cents: Column, e: Column): Column =
    transform(cents, c => struct(
      aggregate(zip_with(e, c.getField("ce"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("d2"),
      c.getField("cell").as("cell")))

  test("nearest_cell matches the array_min (d2, cell) argmin bit for bit") {
    val df = centroidRows(400)
    sameAsReference(df, nearestCell(col("cents"), col("e")),
      array_min(refPairs(col("cents"), col("e"))).getField("cell"))
    assertCodegenStage(centroidsInCodegen
      .select(nearestCell(col("cents"), col("e")).as("c"), size(col("cents")).as("n")),
      "nearest_cell")
  }

  test("nearest_cells matches the sorted (d2, cell) prefix bit for bit") {
    val df = centroidRows(300)
    for (nProbe <- Seq(0, 1, 3, 9))
      sameAsReference(df, nearestCells(col("cents"), col("e"), nProbe),
        slice(sort_array(refPairs(col("cents"), col("e"))), 1, nProbe))
    // a negative probe count fails as slice does
    sameAsReference(df.filter(col("cents").isNotNull).limit(1),
      nearestCells(col("cents"), col("e"), -1),
      slice(sort_array(refPairs(col("cents"), col("e"))), 1, -1))
    assertCodegenStage(centroidsInCodegen
      .select(nearestCells(col("cents"), col("e"), 1).as("c"), size(col("cents")).as("n")),
      "nearest_cells")
  }

  test("adc_sum matches the element_at lookup fold bit for bit, failures included") {
    def reference(dtabs: Column, codes: Column, m: Int): Column =
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc + element_at(element_at(dtabs, s + 1),
          (element_at(codes, s + 1) + 1).cast("int")))
    val m = 3
    def tabs(): Option[Seq[Option[Seq[Option[Double]]]]] =
      Option(Seq.fill(m)(Option(Seq.fill(4)(Option(edgyDouble())))))
    val valid = Seq.fill(200)((tabs(),
      Option(Seq.fill(m)(Option(rnd.nextInt(4).toLong))))).toDF("dtabs", "codes")
    sameAsReference(valid, adcSum(col("dtabs"), col("codes"), m),
      reference(col("dtabs"), col("codes"), m))
    // one row per edge case: out-of-range, end-relative, zero-index and
    // overflowing codes; null and short tables and codes; a null first
    // term short-circuiting a later failure
    val t = tabs()
    val cases: Seq[(Option[Seq[Option[Seq[Option[Double]]]]], Option[Seq[Option[Long]]])] = Seq(
      (t, Some(Seq(Some(4L), Some(0L), Some(0L)))),
      (t, Some(Seq(Some(-2L), Some(-5L), Some(0L)))),
      (t, Some(Seq(Some(0L), Some(-1L), Some(0L)))),
      (t, Some(Seq(Some(0L), Some(Long.MaxValue), Some(0L)))),
      (t, Some(Seq(Some(0L), Some(1L << 31), Some(0L)))),
      (t, Some(Seq(Some(0L), None, Some(9L)))),
      (t, Some(Seq(Some(0L), Some(1L)))),
      (t, None),
      (None, Some(Seq(Some(0L)))),
      (Some(Seq(None, Some(Seq(Some(1.0))), None)), Some(Seq(Some(0L)))),
      (Some(Seq(Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0))))), Some(Seq(Some(1L), Some(0L)))),
      (Some(Seq(Some(Seq(Some(1.0))))), Some(Seq(Some(0L), Some(0L), Some(0L)))))
    for (c <- cases)
      sameAsReference(Seq(c).toDF("dtabs", "codes"),
        adcSum(col("dtabs"), col("codes"), m), reference(col("dtabs"), col("codes"), m))
    assertCodegenStage(spark.range(50).select(
      array(array(col("id").cast("double"), lit(0.5)), array(lit(-1.0), lit(2.0))).as("dtabs"),
      array(col("id") % 2, lit(1L)).as("codes"))
      .select(adcSum(col("dtabs"), col("codes"), 2).as("a"), size(col("codes")).as("n")),
      "adc_sum")
  }
}
