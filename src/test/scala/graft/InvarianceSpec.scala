package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-invariance properties: a distributed operator's RESULT
  * must not depend on the physical layout of its input — partition
  * count, partitioning key, or within-partition row order. This is
  * the executable form of the "same answer on a 1000-executor
  * cluster" claim: every layout below is one the shuffle planner
  * could legitimately hand the operator at some scale.
  *
  * Each case runs the operator over (a) the input as read, (b) a
  * round-robin repartition to a prime partition count, (c) a
  * hash-repartition on a NON-key column with within-partition order
  * scrambled by a deterministic sort on an unrelated expression —
  * and requires bit-identical sorted output.
  */
class InvarianceSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark
  private val dir = "/root/testdata/sf0.001"

  /** Deterministically hostile layouts of the same dataset. */
  private def layouts(df: DataFrame): Seq[DataFrame] = {
    val scramble = abs(hash(df.columns.map(col).toIndexedSeq: _*))
    Seq(
      df,
      df.repartition(7),
      df.repartition(3, scramble % 3).sortWithinPartitions(scramble))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertInvariant(name: String)(op: DataFrame => DataFrame)
                             (input: DataFrame): Unit = {
    val results = layouts(input).map(l => canon(op(l)))
    assert(results(1) == results.head,
      s"$name result changed under repartition(7)")
    assert(results(2) == results.head,
      s"$name result changed under non-key hash layout + scrambled order")
  }

  private def events: DataFrame =
    Tables(spark, dir, "events").select(
      col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
      col("event_id").as("id"), col("event_type").as("kind"), col("value"))

  test("PatternNFA match set is partition-invariant") {
    assertInvariant("PatternNFA") { ev =>
      PatternNFA.run(spark, ev, PatternNFA.Pattern(Seq(
          PatternNFA.Step("signup", "signup"),
          PatternNFA.Step("click", "click", PatternNFA.Optional),
          PatternNFA.Step("purchase", "purchase")), 7200000000L))
    }(events)
  }

  test("MATCH_RECOGNIZE MEASURES output is partition-invariant") {
    assertInvariant("MatchRecognize/MEASURES") { ev =>
      MatchRecognize.run(spark, ev,
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS mno, COUNT(B.id) AS nb,
          |           ROUND(AVG(B.value), 6) AS avg_b
          |  ONE ROW PER MATCH
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup', B AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin)
    }(events)
  }

  test("MATCH_RECOGNIZE context-predicate scan is partition-invariant") {
    assertInvariant("MatchRecognize/navigation") { ev =>
      MatchRecognize.run(spark, ev,
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup',
          |         B AS kind = 'click' AND B.value > A.value,
          |         P AS kind = 'purchase' AND P.value > FIRST(B.value))""".stripMargin)
    }(events)
  }

  test("statement-door general partition path is partition-invariant") {
    // the r11 surrogate-key (multi-column/string PARTITION BY) and
    // secondary-ORDER-BY paths: the xxhash64 key, the injectivity
    // gate, the row_number canonical id, and the tuple join-back must
    // all be layout-independent — the executable any-executor-count
    // claim for the new door shapes
    assertInvariant("MatchRecognizeSql/general-path") { ev =>
      ev.createOrReplaceTempView("inv_mr_general")
      graft.sources.MatchRecognizeSql.sql(spark,
        """SELECT * FROM inv_mr_general MATCH_RECOGNIZE (
          |  PARTITION BY uid, kind
          |  ORDER BY tsMicros, value DESC
          |  MEASURES MATCH_NUMBER() AS mno, FIRST(A.event_id) AS a_id,
          |           LAST(R.event_id) AS r_id
          |  ONE ROW PER MATCH
          |  PATTERN (A R) WITHIN INTERVAL '72' HOUR
          |  DEFINE R AS value > A.value)""".stripMargin)
    }(events.withColumnRenamed("id", "event_id")
      .withColumnRenamed("key", "uid"))
    // canonical-name collision on the general path is LOUD
    events.createOrReplaceTempView("inv_mr_clash")
    val e = intercept[RuntimeException](graft.sources.MatchRecognizeSql.sql(
      spark,
      """SELECT * FROM inv_mr_clash MATCH_RECOGNIZE (
        |  PARTITION BY key, kind ORDER BY tsMicros
        |  PATTERN (A R) WITHIN INTERVAL '72' HOUR
        |  DEFINE A AS kind = 'signup', R AS kind = 'click')""".stripMargin))
    assert(e.getMessage.contains("canonical"), e.getMessage)
  }

  test("AsOfJoin.batch is partition-invariant on both sides") {
    val left = events.filter(col("kind") === "purchase")
    val right = events.filter(col("kind") === "click")
      .select(col("key"), col("tsMicros"), col("id"))
    // vary the layout of each side independently
    layouts(left).zip(layouts(right)).zipWithIndex.foreach {
      case ((l, r), i) =>
        val out = canon(AsOfJoin.batch(l, r, "key", "tsMicros", "id"))
        if (i == 0) assert(out.nonEmpty)
        else assert(out == canon(AsOfJoin.batch(left, right, "key", "tsMicros", "id")),
          s"AsOfJoin result changed under layout $i")
    }
  }

  test("MinHash-LSH near-dup pair set is partition-invariant") {
    assertInvariant("minHashNearDups") { docs =>
      TextDedup.minHashNearDups(docs, "doc_id", "text",
        numHashes = 8, bands = 2, threshold = 0.2)
    }(Tables(spark, dir, "documents"))
  }

  test("mixture-sampling rates and token-budget threshold are partition-invariant") {
    // both queries derive floating-point scalars from aggregates
    // (sqrt(min/n) rate; histogram cumulative threshold) — the claim
    // that those doubles are partial-agg-order invariant (no FP
    // summation feeds them) is exactly what hostile layouts test
    Seq("x26_mixture_sample", "x27_token_budget").foreach { qn =>
      val fn = SparkEntry.queries(qn)
      val base = canon(fn(spark, dir))
      // the query functions read through Tables(dir), so a relaid input
      // is not injectable; vary spark.sql.shuffle.partitions instead —
      // the planner knob that changes the physical layout (and thus
      // partial-agg grouping/order) corpus-wide
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        Seq("7", "3").foreach { p =>
          spark.conf.set("spark.sql.shuffle.partitions", p)
          assert(canon(fn(spark, dir)) == base,
            s"$qn result changed under shuffle.partitions=$p")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("whole-corpus sweep: every batch query is shuffle-partition-count invariant") {
    // The DuckDB oracle checks each query's RESULT, but only under one
    // physical configuration. This sweep re-runs the entire batch
    // corpus with spark.sql.shuffle.partitions dropped to a prime (3)
    // and requires canonically-identical output — the property that
    // breaks when a query leans on partial-aggregation order,
    // per-partition row order, or partition count anywhere (float
    // accumulation order, first/last without full ordering, limit
    // ties). Streaming queries pin their own partition count through
    // StreamRunner and carry a per-query micro-batch floor — the
    // batch corpus is where layout sensitivity hides.
    val skip = Set(
      "ty14_datagen_seq" // datagen binds generator params at parse time
    )
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val failures = Seq.newBuilder[String]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach {
        case (name, _) if name.startsWith("st") || skip(name) =>
        case (name, fn) =>
          spark.conf.set("spark.sql.shuffle.partitions", prev)
          val base = canon(fn(spark, dir))
          spark.conf.set("spark.sql.shuffle.partitions", "3")
          val alt = canon(fn(spark, dir))
          if (alt != base)
            failures += s"$name: ${base.size} vs ${alt.size} rows, " +
              s"first diff ${base.zip(alt).find(p => p._1 != p._2)}"
          // operators persist() for intra-query reuse; release between
          // queries exactly like Bench does
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} layout-sensitive queries:\n${fs.mkString("\n")}")
  }

  test("delta-iteration connected components are partition-invariant") {
    val docs = Tables(spark, dir, "documents")
    assertInvariant("labelPropagationDelta") { d =>
      val pairs = TextDedup.minHashNearDups(d, "doc_id", "text",
        numHashes = 8, bands = 2, threshold = 0.2).select("id_a", "id_b")
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      GraphOps.labelPropagationDelta(
        d.select(col("doc_id").as("node")), edges, maxIterations = 50)
    }(docs)
  }
}
