package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the custom Catalyst expressions (reference gap
  * functions, SqlFunctionUtils.java semantics) — both the codegen path
  * (DataFrame select) and SQL registration. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark
  import GraftFunctions._

  private def evalOne(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).head.get(0)
  }

  test("is_alpha") {
    assert(evalOne(is_alpha(lit("Hello"))) == true)
    assert(evalOne(is_alpha(lit("Hello1"))) == false)
    assert(evalOne(is_alpha(lit(""))) == false)
    assert(evalOne(is_alpha(lit(null).cast("string"))) == null)
  }

  test("is_digit / is_decimal") {
    assert(evalOne(is_digit(lit("0123"))) == true)
    assert(evalOne(is_digit(lit("12a"))) == false)
    assert(evalOne(is_decimal(lit("-12.5"))) == true)
    assert(evalOne(is_decimal(lit(".5"))) == true)
    assert(evalOne(is_decimal(lit("1e5"))) == false)
  }

  test("split_index 0-based with out-of-range null") {
    assert(evalOne(split_index(lit("a,b,c"), lit(","), lit(1))) == "b")
    assert(evalOne(split_index(lit("a,b,c"), lit(","), lit(5))) == null)
    assert(evalOne(split_index(lit("a..b"), lit("."), lit(1))) == "")
  }

  test("nGramShingles: n-gram construction and short-input edge") {
    import graft.functions.TextFunctions
    def sh(text: String, n: Int): Seq[String] = {
      import spark.implicits._
      Seq(text).toDF("t")
        .select(TextFunctions.tokens(col("t")).as("_toks"))
        .select(TextFunctions.nGramShinglesFromTokens(col("_toks"), n).as("s"))
        .head.getSeq[String](0)
    }
    assert(sh("a b c d", 3) == Seq("a b c", "b c d"))
    assert(sh("a b c d", 2) == Seq("a b", "b c", "c d"))
    assert(sh("a b", 3) == Seq.empty)   // fewer tokens than n → empty, not error
    assert(sh("a", 5) == Seq.empty)
  }

  test("nGramShingles: NULL token array → empty array (HOF parity)") {
    // the HOF this kernel replaced mapped a NULL token array to the
    // EMPTY array (size(NULL) >= n is NULL → otherwise branch); the
    // kernel must never silently diverge on a nullable token column.
    import graft.functions.TextFunctions
    import spark.implicits._
    val rows = Seq((1, Seq("a", "b", "c")), (2, null))
      .toDF("id", "toks")
      .select(col("id"),
        TextFunctions.nGramShinglesFromTokens(col("toks"), 2).as("s"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[String](1) == Seq("a b", "b c"))
    assert(!rows(1).isNullAt(1) && rows(1).getSeq[String](1).isEmpty)
  }

  test("rolling_hash kernel: HOF parity incl. empty and null") {
    import graft.functions.TextFunctions
    import spark.implicits._
    // reference = the exact HOF the kernel replaced
    def hofRoll(toks: org.apache.spark.sql.Column) =
      aggregate(transform(toks, t => TextFunctions.hash32(t)), lit(0L),
        (acc, x) => pmod(acc * lit(31L) + x, lit(4294967296L)))
    val df = Seq("a b c", "hello", "", "x y z w v u t s").toDF("t")
      .select(TextFunctions.tokens(col("t")).as("tk"))
      .select(TextFunctions.rollingHash(col("tk")).as("k"),
        hofRoll(col("tk")).as("h"))
    assert(df.collect().forall(r => r.get(0) == r.get(1)))
    // null array → null, like aggregate(null, ...)
    val nr = Seq((1, null: Seq[String])).toDF("id", "tk")
      .select(TextFunctions.rollingHash(col("tk"))).head
    assert(nr.isNullAt(0))
  }

  test("token_len_sum kernel: HOF parity incl. empty and null") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val df = Seq(Seq("ab", "c", "défg"), Seq.empty[String], null)
      .toDF("tk")
      .select(TextFunctions.tokenLengthSum(col("tk")).as("k"),
        aggregate(transform(col("tk"), x => length(x)), lit(0),
          (acc, x) => acc + x).as("h"))
    assert(df.collect().forall(r => r.get(0) == r.get(1)))
  }

  /** Evaluate a binary vector kernel three ways over the same inputs:
    * whole-stage codegen over an RDD-backed frame (no constant folding
    * can pre-evaluate it), interpreted `eval` over literals, and the
    * caller's plain-Scala fold. Every case must agree on all three. */
  private def kernelParity(name: String, lType: DataType, rType: DataType,
                           cases: Seq[(Any, Any)],
                           mk: (Expression, Expression) => Expression)(
                           ref: (Any, Any) => Option[Double]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("l", lType), StructField("r", rType)))
    val rows = cases.zipWithIndex.map { case ((l, r), i) => Row(i, l, r) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        schema)
      .select(col("i"), call_function(name, col("l"), col("r")).as("k"))
    assert(df.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
      s"$name did not run under whole-stage codegen")
    val codegen = df.collect().sortBy(_.getInt(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    cases.zip(codegen).foreach { case ((l, r), cg) =>
      val interp = Option(mk(Literal.create(l, lType), Literal.create(r, rType))
        .eval(null)).map(_.asInstanceOf[Double])
      val want = ref(l, r)
      assert(cg == want && interp == want,
        s"$name($l, $r): codegen $cg, interpreted $interp, fold $want")
    }
  }

  /** Float elements widen to double exactly as the kernels read them. */
  private def elems(v: Any): Option[Seq[Option[Double]]] = Option(v).map(
    _.asInstanceOf[Seq[Any]].map {
      case null => None
      case f: Float => Some(f.toDouble)
      case d: Double => Some(d)
    })

  test("quant_abs_err_sum kernel: codegen, interpreted and fold parity") {
    // the HOF it replaced: aggregate(transform(v, x -> abs(x - floor(x *
    // sc) / sc)), 0.0, +) — an empty array folds to 0.0 even under a NULL
    // scale; a NULL element or scale on a non-empty array is NULL
    def fold(v: Any, sc: Any): Option[Double] = elems(v).flatMap { xs =>
      if (xs.isEmpty) Some(0.0)
      else if (sc == null || xs.contains(None)) None
      else {
        val s = sc.asInstanceOf[Double]
        Some(xs.flatten.foldLeft(0.0)((a, x) => a + math.abs(x - math.floor(x * s) / s)))
      }
    }
    val cases: Seq[(Any, Any)] = Seq(
      (Seq.empty[Double], null), (Seq.empty[Double], 127.0),
      (Seq(0.1, -2.7, 3.14159), 127.0), (Seq(0.1, null, 3.0), 127.0),
      (null, 127.0), (Seq(0.5, 1.25), null))
    kernelParity("quant_abs_err_sum", ArrayType(DoubleType), DoubleType,
      cases, (l, r) => graft.functions.QuantAbsErrSum(l, r))(fold)
    val floats: Seq[(Any, Any)] = Seq(
      (Seq.empty[Float], null), (Seq(0.1f, -2.7f, 3.14159f), 127.0),
      (Seq(0.1f, null, 3.0f), 127.0), (null, 3.0))
    kernelParity("quant_abs_err_sum", ArrayType(FloatType), DoubleType,
      floats, (l, r) => graft.functions.QuantAbsErrSum(l, r))(fold)
    // float input is read at float precision, not re-rounded to double
    assert(fold(Seq(0.1f), 127.0) != fold(Seq(0.1), 127.0))
  }

  test("gauss_log_sum kernel: codegen, interpreted and fold parity") {
    // Σ over (dim, mu, v) stats in array order of ln(2πv) + (x[dim] −
    // mu)² / v; any NULL (array, stat, field, referenced element) or a
    // dim outside the vector is NULL; no stats sum to 0.0
    def fold(x: Any, st: Any): Option[Double] =
      for {
        xs <- elems(x)
        stats <- Option(st).map(_.asInstanceOf[Seq[Row]])
        terms <- stats.foldLeft(Option(0.0)) { (acc, s) =>
          acc.flatMap { a =>
            if (s == null || s.isNullAt(0) || s.isNullAt(1) || s.isNullAt(2)) None
            else {
              val (d, mu, v) = (s.getInt(0), s.getDouble(1), s.getDouble(2))
              xs.lift(d).flatten.map(xv =>
                a + math.log(2.0 * math.Pi * v) + (xv - mu) * (xv - mu) / v)
            }
          }
        }
      } yield terms
    val stT = ArrayType(StructType(Seq(StructField("dim", IntegerType),
      StructField("mu", DoubleType), StructField("v", DoubleType))))
    val st = Seq(Row(0, 0.5, 2.0), Row(2, -1.0, 0.25))
    val cases: Seq[(Any, Any)] = Seq(
      (Seq.empty[Double], Seq.empty[Row]), (Seq.empty[Double], st),
      (Seq(1.0, 9.0, -0.5), st), (Seq(1.0, 9.0, null), st),
      (Seq(1.0, null, -0.5), st), (null, st), (Seq(1.0, 9.0, -0.5), null),
      (Seq(1.0, 9.0, -0.5), Seq(Row(3, 0.0, 1.0))),
      (Seq(1.0, 9.0, -0.5), Seq(Row(-1, 0.0, 1.0))),
      (Seq(1.0, 9.0, -0.5), Seq(Row(0, null, 1.0))),
      (Seq(1.0, 9.0, -0.5), Seq(Row(0, 0.0, 1.0), null)))
    kernelParity("gauss_log_sum", ArrayType(DoubleType), stT, cases,
      (l, r) => graft.functions.GaussLogSum(l, r))(fold)
    val floats: Seq[(Any, Any)] = Seq(
      (Seq.empty[Float], st), (Seq(1.1f, 9.0f, -0.3f), st),
      (Seq(1.1f, 9.0f, null), st), (null, st),
      (Seq(1.1f), Seq(Row(1, 0.0, 1.0))))
    kernelParity("gauss_log_sum", ArrayType(FloatType), stT, floats,
      (l, r) => graft.functions.GaussLogSum(l, r))(fold)
  }

  test("SQL registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT is_alpha('abc') a, is_digit('12') d, split_index('x:y', ':', 1) s").head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getString(2) == "y")
  }

  test("INITCAP and CONVERT_TZ stragglers (no DuckDB oracle twin — value-pinned here)") {
    // the reference's INITCAP and CONVERT_TZ map onto Spark's initcap
    // and convert_timezone; DuckDB has neither, so the f-corpus cannot
    // oracle them — pin exact values instead (f15 covers the rest of
    // the straggler battery through the gate).
    val r = spark.sql(
      """SELECT initcap('hello spark WORLD') ic,
        |  CAST(convert_timezone('UTC', 'America/New_York',
        |       TIMESTAMP_NTZ'2024-01-15 12:00:00') AS STRING) tz,
        |  CAST(convert_timezone('UTC', 'Asia/Tokyo',
        |       TIMESTAMP_NTZ'2024-06-01 00:30:00') AS STRING) tz2""".stripMargin).head
    assert(r.getString(0) == "Hello Spark World")
    assert(r.getString(1) == "2024-01-15 07:00:00")   // EST = UTC-5 in January
    assert(r.getString(2) == "2024-06-01 09:30:00")   // JST = UTC+9
  }

  test("hash_code = Java String.hashCode; sha224/384/512 named spellings (r10)") {
    val spark = StreamHarness.spark
    val r = spark.sql(
      """SELECT hash_code('abc'), hash_code(''), hash_code('graft engine'),
        |  hash_code(CAST(NULL AS STRING)),
        |  sha224('abc'), sha384('abc'), sha512('abc'), sha2('abc', 224)"""
        .stripMargin).head
    assert(r.getInt(0) == "abc".hashCode)          // 96354
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == "graft engine".hashCode) // wraps through negatives
    assert(r.isNullAt(3))
    // the named spellings ARE sha2(x, n): equality + the standard
    // digest lengths (hex chars = bits / 4)
    assert(r.getString(4) == r.getString(7))
    assert(r.getString(4).length == 56 && r.getString(5).length == 96 &&
      r.getString(6).length == 128)
    // NIST test vector for SHA-224("abc")
    assert(r.getString(4) ==
      "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
    // codegen path: the expression evaluates inside whole-stage codegen
    // over a column, not just constant-folded
    val col = spark.range(3).selectExpr("hash_code(CAST(id AS STRING)) AS h")
      .collect().map(_.getInt(0)).toSeq
    assert(col == Seq("0".hashCode, "1".hashCode, "2".hashCode))
    // KEYVALUE: first-match wins, value may contain the kv separator
    // (split at the FIRST occurrence), missing key / empty str → null
    val kv = spark.sql(
      """SELECT keyvalue('a=1;b=2;a=3', ';', '=', 'a'),
        |  keyvalue('k==v;x=y', ';', '=', 'k'),
        |  keyvalue('a=1;b=2', ';', '=', 'z'),
        |  keyvalue('', ';', '=', 'a')""".stripMargin).head
    assert(kv.getString(0) == "1")   // first match, not last
    assert(kv.getString(1) == "=v")  // split at first kvSep
    assert(kv.isNullAt(2) && kv.isNullAt(3))
    // TRUNCATE: toward zero, shortest-decimal semantics (0.29 stays
    // 0.29 — a binary-scaled floor would give 0.28), negative scale
    // zeroes integer digits, negatives truncate toward zero
    val tr = spark.sql(
      """SELECT truncate(0.29D, 2), truncate(12.345D, 2), truncate(12.999D),
        |  truncate(1234, -2), truncate(-12.345D, 2)""".stripMargin).head
    assert(tr.getDouble(0) == 0.29)
    assert(tr.getDouble(1) == 12.34)
    assert(tr.getDouble(2) == 12.0)
    assert(tr.getDouble(3) == 1200.0)
    assert(tr.getDouble(4) == -12.34)
    // MATCH_PROCTIME() names the proc-time attribute route — loud
    val e = intercept[RuntimeException] {
      graft.operators.MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_PROCTIME() AS p ONE ROW PER MATCH
          |  PATTERN (A) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS kind = 'x')""".stripMargin)
    }
    assert(e.getMessage.contains("MATCH_PROCTIME"), e.getMessage)
  }
}
