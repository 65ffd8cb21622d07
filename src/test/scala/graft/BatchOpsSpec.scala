package graft

import graft.operators.{AsOfJoin, Dedup, PatternNFA}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch operator unit tests over small inline fixtures (the
  * reference's TestData.scala style — FIXTURES.md §2). */
class BatchOpsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark

  private def events = {
    import spark.implicits._
    Seq(
      // (user, tsSec, id, type)
      (1L, 100L, 1L, "signup"), (1L, 150L, 2L, "purchase"),
      (1L, 200L, 3L, "signup"), (1L, 210L, 4L, "purchase"),
      (1L, 9999L, 5L, "purchase"),
      (2L, 50L, 6L, "purchase"), (2L, 60L, 7L, "signup"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
  }

  test("AsOfJoin.batch matches latest right <= left time, null otherwise") {
    val got = AsOfJoin.batch(
      left = events.filter(col("event_type") === "purchase"),
      right = events.filter(col("event_type") === "signup"),
      keyCol = "user_id", timeCol = "ts", tieBreakCol = "event_id")
      .select(col("event_id"), col("_asof_event_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got(2L).contains(1L))
    assert(got(4L).contains(3L))
    assert(got(5L).contains(3L))
    assert(got(6L).isEmpty)   // purchase before any signup
  }

  test("Dedup keepFirst / keepLast") {
    val first = Dedup.keepFirst(events, Seq("user_id", "event_type"), "ts", "event_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 2L, 6L, 7L))
    val last = Dedup.keepLast(events, Seq("user_id", "event_type"), "ts", "event_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(last == Set(3L, 5L, 6L, 7L))
  }

  test("followedBy pattern finds earliest B within window") {
    val got = PatternNFA.run(spark, events.select(col("user_id").as("key"),
          unix_micros(col("ts")).as("tsMicros"), col("event_id").as("id"),
          col("event_type").as("kind")),
        PatternNFA.Pattern(Seq(PatternNFA.Step("A", "signup"),
          PatternNFA.Step("B", "purchase")), 60L * 1000000L))
      .select("anchor_id", "end_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == Set(1L -> 2L, 3L -> 4L)) // id5 outside window; user2 B precedes A
  }

  test("followedBy binds a same-timestamp B with a later id (positional contiguity)") {
    import spark.implicits._
    // ties order by id, as in the reference's NFA: the purchase sharing
    // the signup's timestamp binds when its id is later (2 after 1), not
    // when it is earlier (3 before 4)
    val ev = Seq((1L, 100L, 1L, "signup"), (1L, 100L, 2L, "purchase"),
        (2L, 100L, 3L, "purchase"), (2L, 100L, 4L, "signup"))
      .toDF("key", "sec", "id", "kind")
      .select(col("key"), (col("sec") * 1000000L).as("tsMicros"), col("id"),
        col("kind"))
    val got = PatternNFA.run(spark, ev,
        PatternNFA.Pattern(Seq(PatternNFA.Step("A", "signup"),
          PatternNFA.Step("B", "purchase")), 60L * 1000000L))
      .select("anchor_id", "end_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == Set(1L -> 2L))
  }

  test("AsyncLookup.orderedWait keeps input order with bounded in-flight requests") {
    import scala.concurrent.{ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = graft.operators.AsyncLookup.orderedWait((1 to 50).iterator, capacity = 4, { (i: Int) =>
      Future {
        val cur = inFlight.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, cur))
        Thread.sleep((i % 3).toLong)
        inFlight.decrementAndGet()
        i * 10
      }
    }).toSeq
    assert(out == (1 to 50).map(i => i -> i * 10))
    assert(maxSeen.get() <= 4)
  }

  test("delta iteration converges to the full label-propagation fixpoint") {
    import spark.implicits._
    // two chains + an isolate: 1-2-3-4, 10-11, 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val nodes = (Seq(20L) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct.toDF("node")
    val edges = (pairs ++ pairs.map(_.swap) ++
      (Seq(20L) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct.map(n => (n, n)))
      .toDF("src", "dst")
    val full = graft.operators.GraphOps.labelPropagation(nodes, edges, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = graft.operators.GraphOps.labelPropagationDelta(nodes, edges, maxIterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta == full)
    assert(delta(4L) == 1L && delta(11L) == 10L && delta(20L) == 20L)
  }

  test("generic vertex-centric iteration reproduces the specialized loops") {
    import spark.implicits._
    import graft.operators.GraphOps
    // connected components through the generic API: min-label flood
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val nodes = (Seq(20L) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct.toDF("node")
    val bidir = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val generic = GraphOps.vertexCentric(
        nodes.select(col("node"), col("node").as("value")), bidir,
        iterations = 6,
        message = col("value"),
        combine = c => min(c),
        update = (o, m) => least(o, coalesce(m, o)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lib = GraphOps.labelPropagation(nodes, bidir, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(generic == lib, s"generic=$generic lib=$lib")
    // SSSP through the generic API: min-plus relaxation, null = ∞
    val vnodes = Seq(1L, 2L, 3L, 4L, 5L, 99L).toDF("node")
    val wedges = Seq((1L, 2L, 2L), (2L, 4L, 2L), (1L, 3L, 5L),
      (3L, 4L, 1L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val d = GraphOps.vertexCentric(
        vnodes.select(col("node"),
          when(col("node") === 1L, 0L).otherwise(lit(null).cast("long")).as("value")),
        wedges, iterations = 6,
        message = col("value") + col("w"),
        combine = c => min(c),
        update = (o, m) => least(o, m))
      .filter(col("value").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 4L, 5L -> 5L), d)
  }

  test("RMat generator: deterministic, exact edge count, bounded vertex ids, skewed") {
    import graft.operators.GraphGenerators
    val a = GraphGenerators.rmat(spark, scale = 8, edgeCount = 2000, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // layout-independence AT THE GENERATION SITE: splitting the index
    // range across a different task count must not change the graph
    // (a post-generation repartition would only trivially exercise it)
    val b = GraphGenerators.rmat(spark, scale = 8, edgeCount = 2000, seed = 7L,
        parallelism = Some(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b2 = GraphGenerators.rmat(spark, scale = 8, edgeCount = 2000, seed = 7L,
        parallelism = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a.sorted == b.sorted && b.sorted == b2.sorted && a.size == 2000)
    assert(a.forall { case (s, d) => s >= 0 && s < 256 && d >= 0 && d < 256 })
    // power-law signature: the hottest vertex far exceeds the mean
    val maxDeg = a.groupBy(_._1).map(_._2.size).max
    assert(maxDeg > 3 * (2000.0 / 256), s"maxDeg=$maxDeg not skewed")
    // a different seed is a different graph
    val c = GraphGenerators.rmat(spark, 8, 2000, seed = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(c.sorted != a.sorted)
  }

  test("SSSP relaxes to known distances; unreachable nodes stay absent") {
    import spark.implicits._
    // weighted diamond + a far chain + an unreachable isolate:
    //   1 -2-> 2 -2-> 4,  1 -5-> 3 -1-> 4 (so best 4 = 4 via 2)
    //   4 -1-> 5;  99 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 99L).toDF("node")
    val edges = Seq((1L, 2L, 2L), (2L, 4L, 2L), (1L, 3L, 5L),
      (3L, 4L, 1L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val d = graft.operators.GraphOps.sssp(nodes, edges, sourceId = 1L,
      iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 4L, 5L -> 5L), d)
    assert(!d.contains(99L), "unreachable node must carry no distance row")
    // too few supersteps: the far node is not yet relaxed (Gelly's
    // iteration cap semantics — distances are over <=k-hop paths)
    val k1 = graft.operators.GraphOps.sssp(nodes, edges, 1L, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 == Map(1L -> 0L, 2L -> 2L, 3L -> 5L), k1)
  }

  test("graph iteration under RELIABLE checkpointing matches the local-checkpoint result") {
    // the cluster posture: localCheckpoint blocks die with their
    // executor; a reliable checkpoint dir bounds recompute to `every`
    // supersteps. Same fixpoint either way.
    import graft.operators.GraphOps
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val nodes = (Seq(20L) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct.toDF("node")
    val edges = (pairs ++ pairs.map(_.swap) ++
      (Seq(20L) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct.map(n => (n, n)))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ckpt = GraphOps.IterationCheckpointing(Some(dir), every = 2)
    val reliable = GraphOps.labelPropagation(nodes, edges, iterations = 6, ckpt)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // reliable checkpoint files actually landed in the directory
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, s"no reliable checkpoint written under $dir")
    val pr = GraphOps.pageRank(nodes, edges.filter(col("src") =!= col("dst")),
      d = 0.85, iterations = 3, ckpt = ckpt)
    assert(pr.count() == 7)
  }

  test("PatternNFA binds earliest chain and counts OneOrMore events") {
    import graft.operators.PatternNFA._
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "C"), (1L, 50L, 5L, "B"), (1L, 60L, 6L, "C"),
      (2L, 10L, 7L, "B"), (2L, 20L, 8L, "C")) // no anchor → no match
      .toDF("key", "tsMicros", "id", "kind")
    val got = graft.operators.PatternNFA.run(spark, ev, Pattern(Seq(
        Step("a", "A"), Step("bs", "B", OneOrMore()), Step("c", "C")), 100L))
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("chain"),
        r.getAs[String]("counts"))).toSeq
    assert(got == Seq((1L, "1,2,4", "bs:2"))) // B@50 is after C-binding → not counted
  }

  test("PatternNFA WITHIN is boundary-exclusive (reference advanceTime-before-process order)") {
    // r12 flip of the r8 inclusive pin: the reference NFA expires an
    // anchor with deadline t BEFORE processing an event at t
    // (NFAITCase.testSimplePatternWithTimeWindowNFA), so an event
    // exactly AT anchor.ts + within can never bind.
    import graft.operators.PatternNFA._
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 1L, "A"), (1L, 100L, 2L, "B"),   // B exactly at deadline
      (2L, 0L, 3L, "A"), (2L, 99L, 4L, "B"))    // B inside the window
      .toDF("key", "tsMicros", "id", "kind")
    val got = graft.operators.PatternNFA.run(spark, ev,
        Pattern(Seq(Step("a", "A"), Step("b", "B")), 100L))
      .select("key").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L)) // exclusive at the boundary, inclusive inside
  }

  test("PatternNFA full algebra: optional, not, until, timesRange, consecutive, skip") {
    import graft.operators.PatternNFA._
    import spark.implicits._
    def run(ev: Seq[(Long, Long, Long, String)], steps: Seq[Step],
            within: Long = 1000L, am: AfterMatch = SkipToNextRow) =
      graft.operators.PatternNFA.run(spark, ev.toDF("key", "tsMicros", "id", "kind"), Pattern(steps, within, am))
        .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
        .toSeq.sorted

    // Optional binds when the remainder completes, backtracks when not
    val opt = Seq(Step("a", "A"), Step("b", "B", Optional), Step("c", "C"))
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "C")), opt)
      == Seq(("1,2,3", "")))
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "C"), (1L, 20L, 3L, "B")), opt)
      == Seq(("1,2", ""))) // B after the only C → drop the optional

    // Not forbids the kind between neighbors; trailing Not scans to horizon
    val not = Seq(Step("a", "A"), Step("e", "E", Not), Step("c", "C"))
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 5L, 2L, "E"), (1L, 10L, 3L, "C")), not)
      == Seq.empty)
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 3L, "C"), (1L, 15L, 4L, "E")), not)
      == Seq(("1,3", "")))

    // until stops the loop at the first stop-kind event
    val until = Seq(Step("a", "A"),
      Step("bs", "B", OneOrMore(untilKind = Some("S"))), Step("c", "C"))
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "S"),
        (1L, 30L, 4L, "B"), (1L, 40L, 5L, "C")), until)
      == Seq(("1,2,5", "bs:1"))) // B@30 is past the stop → not absorbed

    // TimesRange(1,3) is greedy but backtracks to keep the tail feasible
    val tr = Seq(Step("a", "A"), Step("bs", "B", TimesRange(1, 3)), Step("c", "C"))
    assert(run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"),
        (1L, 30L, 4L, "C"), (1L, 40L, 5L, "B")), tr)
      == Seq(("1,2,3,4", ""))) // binds 2 Bs (3rd B is after C)

    // consecutive requires adjacency in the event sequence. r14: the
    // entry is the FIRST takeable B — the broken (B, X) run kills the
    // attempt (the reference's waiting state is consumed, no entry
    // advance); the advance is the ANY entry's branch set
    val consEv = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 15L, 9L, "X"),
      (1L, 20L, 3L, "B"), (1L, 25L, 6L, "B"), (1L, 30L, 4L, "C"))
    val cons = Seq(Step("a", "A"), Step("bs", "B", Times(2, consecutive = true)),
      Step("c", "C"))
    assert(run(consEv, cons) == Seq.empty)
    val consAny = Seq(Step("a", "A"),
      Step("bs", "B", AnyEntry(Times(2, consecutive = true))), Step("c", "C"))
    assert(run(consEv, consAny) == Seq(("1,3,6,4", "bs:2")))

    // SkipPastLastEvent re-arms only past the previous match's end
    val two = Seq(Step("a", "A"), Step("c", "C"))
    val ev = Seq((1L, 0L, 1L, "A"), (1L, 5L, 2L, "A"), (1L, 10L, 3L, "C"),
      (1L, 20L, 4L, "A"), (1L, 30L, 5L, "C"))
    assert(run(ev, two) == Seq(("1,3", ""), ("2,3", ""), ("4,5", "")))
    assert(run(ev, two, am = SkipPastLastEvent) == Seq(("1,3", ""), ("4,5", "")))

    // allowCombinations emits every loop pair
    val comb = graft.operators.PatternNFA.runCombinationsPairs(spark,
        Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"),
          (1L, 30L, 6L, "B"), (1L, 40L, 4L, "C"))
          .toDF("key", "tsMicros", "id", "kind"),
        "A", "B", "C", withinMicros = 1000L)
      .collect().map(_.getAs[String]("chain")).toSeq.sorted
    assert(comb == Seq("1,2,3,4", "1,2,6,4", "1,3,6,4"))
  }

  test("PatternNFA context predicates: cross-variable navigation, committed greedy, window-bounded PREV") {
    import graft.operators.{MatchRecognize, PatternNFA}
    import spark.implicits._
    def run(ev: Seq[(Long, Long, Long, String, Double)], clause: String) =
      MatchRecognize.run(spark,
          ev.toDF("key", "tsMicros", "id", "kind", "value"), clause)
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("chain"),
          r.getAs[String]("counts"))).toSeq.sorted

    val navClause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B+ P) WITHIN INTERVAL '30' MINUTE
        |  DEFINE A AS kind = 'A',
        |         B AS kind = 'B' AND B.value > A.value,
        |         P AS kind = 'P' AND P.value > FIRST(B.value))""".stripMargin
    // STRICT contiguity: key 1's adjacent run [v10, v8] (both beat
    //   A=5) ends at the adjacent P=12, which beats FIRST(B)=10 ✓.
    // key 2: the adjacent B=3 FAILS the A.value cut, so the loop exits
    //   THERE and P must bind that very row — a B-kind row → dead
    //   (committed greedy never re-splits).
    // key 5: the loop exits at the P row, which fails the value cut
    //   (4 < FIRST(B)=5) → the attempt dies; no extent re-split (the
    //   reference's updateWithGreedyCondition — the committed-greedy
    //   divergence itself is pinned by MatchStrictSpec's doc vectors,
    //   where DEFINEs overlap).
    val nav = run(Seq(
      (1L, 10L, 1L, "A", 5.0), (1L, 20L, 2L, "B", 10.0),
      (1L, 30L, 3L, "B", 8.0), (1L, 40L, 4L, "P", 12.0),
      (2L, 10L, 7L, "A", 5.0), (2L, 20L, 8L, "B", 3.0),
      (2L, 30L, 9L, "P", 6.0),
      (5L, 10L, 12L, "A", 0.0), (5L, 20L, 13L, "B", 5.0),
      (5L, 30L, 14L, "B", 6.0), (5L, 40L, 15L, "P", 4.0)), navClause)
    assert(nav == Seq((1L, "1,2,4", "B:2")), nav)

    // PREV is PHYSICAL and bounded to the match window: rows before
    // the anchor read as NULL (and NULL fails every comparison)
    val prevClause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A X B) WITHIN INTERVAL '30' MINUTE
        |  DEFINE A AS kind = 'A', X AS kind = 'X',
        |         B AS kind = 'B' AND B.value > PREV(value, 2))""".stripMargin
    val prev = run(Seq(
      // key 3: PREV(value,2) from B lands ON the anchor (v1) → 50>1 ✓
      (3L, 5L, 20L, "Z", 100.0), (3L, 10L, 21L, "A", 1.0),
      (3L, 20L, 22L, "X", 2.0), (3L, 30L, 23L, "B", 50.0)), prevClause)
    assert(prev == Seq((3L, "21,22,23", "")), prev)
    // pre-anchor rows read as NULL: in (A B), PREV(value,2) from B
    // lands one row BEFORE the anchor — the Z there has value 0 (the
    // comparison would pass if it were read), yet the window bound
    // makes it NULL and NULL fails every comparison
    val prevNull = run(Seq(
      (4L, 2L, 27L, "Z", 0.0), (4L, 5L, 26L, "A", 1.0),
      (4L, 10L, 24L, "B", 50.0)),
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B) WITHIN INTERVAL '30' MINUTE
        |  DEFINE A AS kind = 'A',
        |         B AS kind = 'B' AND B.value > PREV(value, 2))""".stripMargin)
    assert(prevNull.isEmpty, prevNull)

    // forward references are rejected at compile time (SQL:2016)
    val fwd = intercept[RuntimeException] {
      MatchRecognize.run(spark,
        Seq((1L, 10L, 1L, "A", 1.0)).toDF("key", "tsMicros", "id", "kind", "value"),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'A' AND A.value > B.value,
          |         B AS kind = 'B')""".stripMargin)
    }
    assert(fwd.getMessage.contains("LATER"), fwd.getMessage)
  }

  test("MatchRecognize DEFINE compiler: row-local residue vs context conjuncts") {
    import graft.operators.MatchRecognize
    import graft.operators.PatternNFA.{CtxCmp, NavExpr}
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a',
        |         B AS kind = 'b' AND B.value > 100 AND B.value > A.value + 1
        |)""".stripMargin)
    // current-variable-only conjunct is rewritten row-local (stays in
    // the pre-shuffle bitmask); only the true navigation conjunct
    // compiles to a context tree
    assert(c.defines == Seq("A" -> "kind = 'a'",
      "B" -> "kind = 'b' AND value > 100"))
    assert(c.navCols == Seq("value"))
    assert(c.ctx == Map("B" -> Seq(CtxCmp(">", NavExpr.Cur(0),
      NavExpr.Bin('+', NavExpr.VarNav(Seq("A"), 0, first = false, off = 0),
        NavExpr.Lit(1.0))))))
  }

  test("batch NFA scan: hot-key buffer is WITHIN-bounded, results exact") {
    import graft.operators.PatternNFA
    import graft.operators.PatternNFA.{OneOrMore, Step}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // ONE hot key, 60k events at 1s spacing, within = 60s: a whole-key
    // scan would buffer all 60k; the sliding scan may hold only ~one
    // window (+ the pending-anchor horizon). Pattern fires every 20
    // events so matches, skip handling, and eviction all interleave.
    val n = 60000
    val rows = (0 until n).map { i =>
      val kind = (i % 20) match {
        case 0 => "a"; case 5 => "b"; case 10 => "p"; case _ => "x"
      }
      (1L, i.toLong * 1000000L, i.toLong, kind)
    }
    val df = rows.toDF("key", "tsMicros", "id", "kind")
    val gauge = spark.sparkContext.longAccumulator("nfaBufPeak")
    val preds = Seq("a" -> (col("kind") === lit("a")),
      "b" -> (col("kind") === lit("b")), "p" -> (col("kind") === lit("p")))
    val out = PatternNFA.run(spark, df, PatternNFA.Pattern(Seq(
        Step("A", "a"), Step("B", "b", OneOrMore()), Step("P", "p")), 60L * 1000000L,
          preds = preds), bufGauge = Some(gauge))
      .collect()
    assert(out.length == n / 20, s"expected ${n / 20} matches, got ${out.length}")
    // single key → the accumulator holds exactly that key's peak
    assert(gauge.value <= 200,
      s"hot-key buffer peaked at ${gauge.value} events — not window-bounded")
  }

  test("runTimeouts honors every AfterMatch strategy (same offered anchors)") {
    import graft.operators.PatternNFA
    import graft.operators.PatternNFA.{NotNext, SkipToFirst, Step}
    import spark.implicits._
    // a2 sits between a1 and the match's first B; under SKIP TO FIRST B
    // it is never OFFERED, so the timeout side output must not surface
    // it either (a2's NotNext fails against the adjacent error — the
    // old SkipPastLastEvent-only scan emitted a bogus timeout for it)
    val events = Seq(
      (1L, 1000000L, 0L, "a"), (1L, 2000000L, 1L, "a"),
      (1L, 3000000L, 2L, "error"), (1L, 4000000L, 3L, "b"),
      (1L, 5000000L, 4L, "p")
    ).toDF("key", "tsMicros", "id", "kind")
    val steps = Seq(Step("A", "a"), Step("N", "error", NotNext),
      Step("B", "b"), Step("P", "p"))
    val matches = PatternNFA.run(spark, events, PatternNFA.Pattern(steps, 100000000L, SkipToFirst("B")))
      .select("anchor_id").as[Long].collect().toSeq
    assert(matches == Seq(0L))
    val tmos = PatternNFA.run(spark, events, PatternNFA.Pattern(steps, 100000000L, SkipToFirst("B")), PatternNFA.Timeouts)
      .collect()
    assert(tmos.isEmpty,
      s"skipped anchors must not emit timeouts, got ${tmos.mkString(",")}")
  }

  test("MATCH_RECOGNIZE SUBSET clause grammar: parse, expand, validate") {
    import graft.operators.MatchRecognize
    import graft.operators.PatternNFA.{CtxCmp, NavExpr}
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES SUM(U.value) AS sum_u, COUNT(U.id) AS n_u
        |  ONE ROW PER MATCH
        |  PATTERN (A B C)
        |  SUBSET U = (B, C)
        |  WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b',
        |         C AS kind = 'c' AND C.value > FIRST(U.value)
        |)""".stripMargin)
    assert(c.subsets == Map("U" -> Seq("B", "C")))
    // subset navigation expands to the member list at parse time
    assert(c.ctx == Map("C" -> Seq(CtxCmp(">", NavExpr.Cur(0),
      NavExpr.VarNav(Seq("B", "C"), 0, first = true, off = 0)))))
    assert(c.measures.map(_.varName) == Seq("U", "U"))
    // unknown member / collision with a DEFINE name are loud
    val bad = intercept[IllegalArgumentException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A) SUBSET U = (A, X) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'a')""".stripMargin)
    }
    assert(bad.getMessage.contains("undefined pattern variable X"))
    val collide = intercept[IllegalArgumentException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B) SUBSET B = (A) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'a', B AS kind = 'b')""".stripMargin)
    }
    assert(collide.getMessage.contains("collides"))
    // a member with a DEFINE entry but absent from PATTERN has no step
    // to read bindings from — loud at compile, not bindings(-1) later
    val notInPattern = intercept[IllegalArgumentException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B) SUBSET U = (B, C) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c')""".stripMargin)
    }
    assert(notInPattern.getMessage.contains("does not appear in PATTERN"))
    // a union variable may include LATER members in DEFINE (they bind
    // nothing yet — running semantics); only all-later is rejected
    MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES COUNT(U.id) AS n ONE ROW PER MATCH
        |  PATTERN (A B C) SUBSET U = (B, C)
        |  WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a',
        |         B AS kind = 'b' AND SUM(U.value) < 10,
        |         C AS kind = 'c')""".stripMargin)
  }

  test("DEFINE aggregates over typed values: COUNT strings, MIN/MAX lexical") {
    import graft.operators.MatchRecognize
    import spark.implicits._
    // COUNT counts non-null STRING values; key 2's second b has a NULL
    // tag, so COUNT(B.tag) stays 1 there and MIN skips it — the
    // two-b match survives on both keys (the old numeric-only
    // aggregate returned COUNT 0 / MIN NULL and killed every match)
    val events = Seq(
      (1L, 10L, 1L, "a", "x"), (1L, 20L, 2L, "b", "p"),
      (1L, 30L, 3L, "b", "q"), (1L, 40L, 4L, "c", "z"),
      (2L, 10L, 5L, "a", "x"), (2L, 20L, 6L, "b", "p"),
      (2L, 30L, 7L, "b", null), (2L, 40L, 8L, "c", "z")
    ).toDF("key", "tsMicros", "id", "kind", "tag")
    val out = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES COUNT(B.id) AS n_b ONE ROW PER MATCH
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a',
        |         B AS kind = 'b' AND COUNT(B.tag) <= 2,
        |         C AS kind = 'c' AND MIN(B.tag) = 'p')""".stripMargin)
      .select("key", "n_b").as[(Long, Long)].collect().toMap
    // key 1: both b's have tags (COUNT(B.tag) = 1, 2 <= 2; MIN = 'p')
    // key 2: the null tag is skipped by COUNT and MIN — still matches
    assert(out == Map(1L -> 2L, 2L -> 2L), out.toString)
  }

  test("MATCH_RECOGNIZE RUNNING/FINAL measure keywords") {
    import graft.operators.MatchRecognize
    import spark.implicits._
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES RUNNING SUM(B.value) AS rs, FINAL SUM(B.value) AS fs,
        |           SUM(B.value) AS ds
        |  ALL ROWS PER MATCH
        |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b')""".stripMargin)
    assert(c.measures.map(_.running) == Seq(true, false, false))
    // RUNNING does not apply to MATCH_NUMBER()
    intercept[IllegalArgumentException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES RUNNING MATCH_NUMBER() AS m
          |  ONE ROW PER MATCH
          |  PATTERN (A) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'a')""".stripMargin)
    }
    // ONE ROW PER MATCH: RUNNING evaluates at the final row, where it
    // coincides with FINAL (SQL:2016) — same single output row. (The
    // pattern ends with a simple variable — a greedy loop may not end
    // a pattern under the reference's restriction.)
    val events = Seq(
      (1L, 10L, 1L, "a", 1.0), (1L, 20L, 2L, "b", 2.0),
      (1L, 30L, 3L, "b", 3.0), (1L, 40L, 4L, "c", 9.0)
    ).toDF("key", "tsMicros", "id", "kind", "value")
    val one = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES RUNNING SUM(B.value) AS rs, FINAL SUM(B.value) AS fs
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c')""".stripMargin)
      .select("rs", "fs").as[(Double, Double)].collect().toSeq
    assert(one == Seq((5.0, 5.0)))
    // CLASSIFIER() under both keywords in ALL ROWS PER MATCH: RUNNING
    // = the current row's variable (last-so-far), FINAL = the match's
    // last variable on every row
    val cls = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES RUNNING CLASSIFIER() AS rc, FINAL CLASSIFIER() AS fc
        |  ALL ROWS PER MATCH
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c')""".stripMargin)
      .select("event_id", "rc", "fc").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(cls == Seq((1L, "A", "C"), (2L, "B", "C"), (3L, "B", "C"),
      (4L, "C", "C")), cls)
  }

  test("MATCH_RECOGNIZE typed navigation: string literals and columns") {
    import graft.operators.MatchRecognize
    import graft.operators.PatternNFA.{CtxCmp, NavExpr}
    import spark.implicits._
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a',
        |         B AS kind = 'b' AND B.tag <> LAST(A.tag)
        |           AND PREV(tag, 1) <> 'it''s'
        |)""".stripMargin)
    assert(c.ctx("B") == Seq(
      CtxCmp("<>", NavExpr.Cur(0),
        NavExpr.VarNav(Seq("A"), 0, first = false, off = 0)),
      CtxCmp("<>", NavExpr.Prev(0, 1), NavExpr.LitS("it's"))))
    // end-to-end: string inequality against the earlier binding — the
    // (x, x) pair fails, (x, y) matches; NULL tag fails (SQL semantics)
    val events = Seq(
      (1L, 10L, 1L, "a", "x"), (1L, 20L, 2L, "b", "x"),   // equal → no
      (2L, 10L, 3L, "a", "x"), (2L, 20L, 4L, "b", "y"),   // differ → yes
      (3L, 10L, 5L, "a", "x"), (3L, 20L, 6L, "b", null)   // NULL → no
    ).toDF("key", "tsMicros", "id", "kind", "tag")
    val out = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a',
        |         B AS kind = 'b' AND B.tag <> LAST(A.tag))""".stripMargin)
      .select("key", "anchor_id", "end_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(out == Set((2L, 3L, 4L)))
  }

  test("MATCH_RECOGNIZE running aggregates in DEFINE + aggregate MEASURES") {
    import graft.operators.MatchRecognize
    import spark.implicits._

    // The reference's null-handling vector (MatchRecognizeITCase
    // testAggregatesWithNullInputs: running SUM(A.price) < 30 with
    // null prices skipped, COUNT(col) counts non-nulls, COUNT(*)
    // counts rows), adapted to this engine's One-anchor shape with a
    // leading start marker. Trace: A absorbs rows 2..8 (running sum
    // 10,20,20,20,23,26,29 — nulls contribute nothing), row 9 would
    // make 31 → skipped; shrink finds C at row 9.
    val nullEv = Seq[(Long, Long, Long, String, Option[Double])](
      (0L, 1L, 1L, "s", Some(100.0)), (0L, 2L, 2L, "a", Some(10.0)),
      (0L, 3L, 3L, "z", Some(10.0)), (0L, 4L, 4L, "b", None),
      (0L, 5L, 5L, "c", None), (0L, 6L, 6L, "d", Some(3.0)),
      (0L, 7L, 7L, "c", Some(3.0)), (0L, 8L, 8L, "c", Some(3.0)),
      (0L, 9L, 9L, "c", Some(2.0)))
      .toDF("key", "tsMicros", "id", "name", "price")
    val nullOut = MatchRecognize.run(spark, nullEv,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES SUM(A.price) AS sum_a, COUNT(A.event_id) AS count_a_id,
        |           COUNT(A.price) AS count_a_price, COUNT(*) AS count_all,
        |           COUNT(price) AS count_all_price, LAST(event_id) AS end_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (S A+ C) WITHIN INTERVAL '30' MINUTE
        |  DEFINE S AS name = 's',
        |         A AS SUM(A.price) < 30,
        |         C AS name = 'c')""".stripMargin).collect()
    assert(nullOut.length == 1, nullOut.toSeq)
    val r = nullOut.head
    assert(r.getAs[Double]("sum_a") == 29.0, r)
    assert(r.getAs[Long]("count_a_id") == 7L, r)
    assert(r.getAs[Long]("count_a_price") == 5L, r)
    assert(r.getAs[Long]("count_all") == 9L, r)
    assert(r.getAs[Long]("count_all_price") == 7L, r)
    assert(r.getAs[Long]("end_id") == 9L, r)

    // Expression aggregates under STRICT contiguity: the running
    // SUM(B.price * B.price) < 50 holds for all four adjacent b rows
    // (9, 34, 43, 47), the loop exits at the p row (kind fails), and
    // P compares against AVG over the FINAL bound set. (A mid-run
    // aggregate failure would END the run and kill the attempt — the
    // committed-greedy contract — pinned in MatchStrictSpec.)
    val exprEv = Seq(
      (1L, 1L, 11L, "s", 0.0), (1L, 2L, 12L, "b", 3.0),
      (1L, 3L, 13L, "b", 5.0), (1L, 4L, 14L, "b", 3.0),
      (1L, 5L, 15L, "b", 2.0), (1L, 6L, 16L, "p", 4.0))
      .toDF("key", "tsMicros", "id", "name", "price")
    val exprOut = MatchRecognize.run(spark, exprEv,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES ROUND(AVG(B.price), 6) AS avg_b,
        |           ROUND(SUM(B.price * B.price), 6) AS sumsq_b,
        |           MAX(B.price) AS max_b, COUNT(B.event_id) AS n_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (S B+ P) WITHIN INTERVAL '30' MINUTE
        |  DEFINE S AS name = 's',
        |         B AS name = 'b' AND SUM(B.price * B.price) < 50,
        |         P AS name = 'p' AND P.price > AVG(B.price))""".stripMargin)
      .collect()
    assert(exprOut.length == 1, exprOut.toSeq)
    val e = exprOut.head
    assert(e.getAs[Double]("avg_b") == 3.25, e)
    assert(e.getAs[Double]("sumsq_b") == 47.0, e)
    assert(e.getAs[Double]("max_b") == 5.0, e)
    assert(e.getAs[Long]("n_b") == 4L, e)

    // loud failure modes
    def bad(clause: String): String = intercept[RuntimeException] {
      MatchRecognize.run(spark, exprEv,
        s"""MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
           |  PATTERN (S B) WITHIN INTERVAL '1' MINUTE
           |  DEFINE S AS name = 's', B AS $clause)""".stripMargin).collect()
      ""
    }.getMessage
    // an aggregate may reference exactly one variable's columns
    assert(bad("SUM(S.price + B.price) > 0").contains("exactly one"),
      bad("SUM(S.price + B.price) > 0"))
    // columns inside an aggregate must be variable-qualified
    assert(bad("SUM(price) > 0").contains("qualified"))
    // aggregating over a LATER variable is a forward reference
    val fwd = intercept[RuntimeException] {
      MatchRecognize.run(spark, exprEv,
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (S B) WITHIN INTERVAL '1' MINUTE
          |  DEFINE S AS name = 's' AND SUM(B.price) > 0,
          |         B AS name = 'b')""".stripMargin).collect()
    }
    assert(fwd.getMessage.contains("LATER"), fwd.getMessage)
  }

  test("PatternNFA group patterns: greedy repeat, fallback, validation") {
    import graft.operators.PatternNFA._
    import spark.implicits._
    def run(ev: Seq[(Long, Long, Long, String)], steps: Seq[Step]) =
      graft.operators.PatternNFA.run(spark, ev.toDF("key", "tsMicros", "id", "kind"), Pattern(steps, 1000L))
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("chain"),
          r.getAs[String]("counts"))).toSeq.sorted
    val g = Seq(Step("a", "A"),
      Step("G", "", GroupTimes(Seq(Step("b", "B"), Step("c", "C")), 1, 2)))
    // r14: a TRAILING group under the committed scan binds the
    // MINIMAL extent — the k=1 completion emits first and the
    // reference's skipToNext prune discards the extension (the
    // trailing-loop discipline at group granularity)
    val got = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "C"),
      (1L, 30L, 4L, "B"), (1L, 40L, 5L, "C"),
      (2L, 0L, 6L, "A"), (2L, 10L, 7L, "B"), (2L, 20L, 8L, "C")), g)
    assert(got == Seq((1L, "1,2,3", "G:1"), (2L, "6,7,8", "G:1")), got)
    // the greedy maximal extent shows when the pattern CONTINUES
    val gMid = Seq(Step("a", "A"),
      Step("G", "", GroupTimes(Seq(Step("b", "B"), Step("c", "C")), 1, 2)),
      Step("d", "D"))
    val gotMid = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "C"),
      (1L, 30L, 4L, "B"), (1L, 40L, 5L, "C"), (1L, 50L, 9L, "D")), gMid)
    assert(gotMid == Seq((1L, "1,2,3,4,5,9", "G:2")), gotMid)

    // zero-repeat lower bound makes the whole group optional
    val g0 = Seq(Step("a", "A"),
      Step("G", "", GroupTimes(Seq(Step("b", "B")), 0, 2)), Step("c", "C"))
    val opt = run(Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "C")), g0)
    assert(opt == Seq((1L, "1,2", "G:0")), opt)

    val ev1 = Seq((1L, 0L, 1L, "A")).toDF("key", "tsMicros", "id", "kind")
    // sub-steps must be plain One
    intercept[Exception] {
      graft.operators.PatternNFA.run(spark, ev1, Pattern(Seq(Step("a", "A"),
        Step("G", "", GroupTimes(Seq(Step("b", "B", Optional)), 1, 2))), 1000L))
    }
    // r14: group-FIRST patterns anchor on the head leaf (GroupITCase
    // testGroupBegin) — every first-repetition start anchors its run
    val gf = run(Seq((1L, 0L, 2L, "B"), (1L, 10L, 3L, "C"),
      (1L, 20L, 4L, "B"), (1L, 30L, 5L, "C")),
      Seq(Step("G", "", GroupTimes(Seq(Step("b", "B"), Step("c", "C")), 1, 2))))
    assert(gf == Seq((1L, "2,3", "G:1"), (1L, "4,5", "G:1")), gf)
  }

  test("AFTER MATCH SKIP TO FIRST/LAST: clause parse, semantics, loud failure modes") {
    import graft.operators.{MatchRecognize, PatternNFA}
    import PatternNFA._
    import spark.implicits._
    // clause grammar → strategy objects
    val base =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  AFTER MATCH SKIP TO %s
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'A', B AS kind = 'B', P AS kind = 'P')""".stripMargin
    // MR compiles the THROWING mode (the reference's
    // throwExceptionOnMiss — the MATCH_RECOGNIZE contract)
    assert(MatchRecognize.compile(base.format("FIRST B")).afterMatch ==
      SkipToFirst("B", throwOnMiss = true))
    assert(MatchRecognize.compile(base.format("LAST B")).afterMatch ==
      SkipToLast("B", throwOnMiss = true))
    assert(MatchRecognize.compile(base.format("NEXT ROW")).afterMatch == SkipToNextRow)
    // unknown variable is rejected at compile time
    val unk = intercept[RuntimeException] {
      MatchRecognize.compile(base.format("FIRST X"))
    }
    assert(unk.getMessage.contains("no such pattern variable"), unk.getMessage)

    // semantics: skip-to-last re-arms AT the last loop event — the
    // second anchor (between last B and P) survives; skip-past kills it
    val ev = Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"),
      (1L, 25L, 4L, "A"), (1L, 30L, 5L, "P"), (1L, 40L, 6L, "B"),
      (1L, 50L, 7L, "P")).toDF("key", "tsMicros", "id", "kind")
    val steps = Seq(Step("A", "A"), Step("B", "B", OneOrMore()), Step("P", "P"))
    def chains(am: AfterMatch) =
      graft.operators.PatternNFA.run(spark, ev, Pattern(steps, 1000L, am))
        .collect().map(_.getAs[String]("chain")).toSeq.sorted
    assert(chains(SkipToLast("B")) == Seq("1,2,5", "4,6,7"))
    assert(chains(SkipPastLastEvent) == Seq("1,2,5"))

    // the reference's loud failure modes (AfterMatchSkipStrategy.java):
    // re-anchoring at the match start is an infinite loop → throw;
    // a skip variable that bound no rows → throw
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(e => Option(e.getMessage)).toSeq
    // r14: the loud modes ride the throwOnMiss flag (the reference's
    // throwExceptionOnMiss); the CEP default silently prunes nothing —
    // AfterMatchSkipVectorsSpec pins both against the reference vectors
    val loop = intercept[Exception] {
      graft.operators.PatternNFA.run(spark, ev,
        Pattern(Seq(Step("A", "A"), Step("P", "P")), 1000L, SkipToFirst("A", throwOnMiss = true))).collect()
    }
    assert(messages(loop).exists(_.contains("re-anchor")), messages(loop))
    val missEv = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "P"))
      .toDF("key", "tsMicros", "id", "kind")
    val missSteps = Seq(Step("A", "A"), Step("B", "B", Optional),
      Step("P", "P"))
    val miss = intercept[Exception] {
      graft.operators.PatternNFA.run(spark, missEv, Pattern(missSteps, 1000L, SkipToFirst("B", throwOnMiss = true))).collect()
    }
    assert(messages(miss).exists(_.contains("bound no rows")), messages(miss))
    // the CEP default: the miss prunes nothing, the match still emits
    val silent = graft.operators.PatternNFA.run(spark, missEv, Pattern(missSteps, 1000L, SkipToFirst("B")))
      .collect().map(_.getAs[String]("chain")).toSeq
    assert(silent == Seq("1,2"), silent)
  }

  test("MatchRecognize compiles the clause grammar onto the NFA algebra") {
    import graft.operators.{MatchRecognize, PatternNFA}
    import PatternNFA._
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY ts
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+ C? E{1,3} D{2})
        |  WITHIN INTERVAL '30' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c',
        |         D AS kind = 'd', E AS kind = 'e'
        |)""".stripMargin)
    // (a variable-extent greedy loop may not END the pattern — the
    // reference's restriction — so D{2} closes it)
    assert(c.steps == Seq(
      Step("A", "A", One), Step("B", "B", OneOrMore()),
      Step("C", "C", Optional), Step("E", "E", TimesRange(1, 3)),
      Step("D", "D", Times(2))))
    assert(c.defines.toMap == Map(
      "A" -> "kind = 'a'", "B" -> "kind = 'b'", "C" -> "kind = 'c'",
      "D" -> "kind = 'd'", "E" -> "kind = 'e'"))
    assert(c.withinMicros == 30L * 60000000L)
    assert(c.afterMatch == SkipPastLastEvent)
    intercept[RuntimeException] {
      MatchRecognize.compile("MATCH_RECOGNIZE (PATTERN (A) DEFINE A AS kind = 'a')")
    } // WITHIN required
    // reluctant markers: B+? and E{1,3}? (the reference's non-greedy
    // MATCH_RECOGNIZE quantifiers)
    val rel = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B+? E{1,3}?) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', E AS kind = 'e')""".stripMargin)
    assert(rel.steps.map(_.quant) == Seq(One,
      OneOrMore(reluctant = true), TimesRange(1, 3, reluctant = true)), rel.steps)
    // zero-or-more and n-or-more forms
    val zm = MatchRecognize.compile(
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B* C*? D{2,} E{3,}?) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c',
        |         D AS kind = 'd', E AS kind = 'e')""".stripMargin)
    assert(zm.steps.map(_.quant) == Seq(One, ZeroOrMore(),
      ZeroOrMore(reluctant = true), TimesOrMore(2),
      TimesOrMore(3, reluctant = true)), zm.steps)
  }

  test("MlPipeline: dual role, fit-on-transformed semantics, JSON round-trip, loud errors") {
    import graft.operators.MlPipeline._
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    // a pipeline with an Estimator is itself an Estimator...
    val p = Pipeline(Seq(
      StandardScaler(Params().set("inputCol", "x").set("outputCol", "z")),
      SigmoidGate(Params().set("inputCol", "z").set("keepCol", "keep"))))
    assert(p.needFit)
    // ...and refuses to transform before fitting (Pipeline.java check)
    val unfit = intercept[IllegalArgumentException](p.transform(df))
    assert(unfit.getMessage.contains("unfitted"), unfit.getMessage)
    val m = p.fit(df)
    val out = m.transform(df).orderBy("id")
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(2) * 1e6) / 1e6,
        r.getInt(3))).toSeq
    // mu=20, sd=sqrt(200/3): z = ±1.2247.., 0; keep = z > 0
    assert(out.map(_._3) == Seq(0, 0, 1), out)
    assert(math.abs(out.head._2 + 1.224745) < 1e-5, out)
    // a second Estimator fits on the data AS TRANSFORMED SO FAR: the
    // re-scaled z has mean 0 / var 1, so the second scaler's model is
    // (0, 1) — the reference's sequential-fit semantics
    val p2 = Pipeline(Seq(
      StandardScaler(Params().set("inputCol", "x").set("outputCol", "z")),
      StandardScaler(Params().set("inputCol", "z").set("outputCol", "z2"))))
    val m2 = p2.fit(df)
    val second = m2.fitted(1).asInstanceOf[ScalerModel]
    assert(math.abs(second.mu) < 1e-9 && math.abs(second.v - 1.0) < 1e-9,
      (second.mu, second.v))
    // nested pipeline as a stage; JSON round-trip preserves behavior
    val nested = Pipeline(Seq(Pipeline(Seq(
      StandardScaler(Params().set("inputCol", "x").set("outputCol", "z")))),
      SigmoidGate(Params().set("inputCol", "z").set("keepCol", "keep"))))
    val nm = nested.fit(df)
    val rt = Pipeline.fromJson(Pipeline(nm.fitted).toJson)
    assert(!rt.needFit)
    assert(rt.transform(df).orderBy("id").collect().map(_.getInt(3)).toSeq ==
      Seq(0, 0, 1))
    // unknown stage names fail loudly
    val bad = intercept[RuntimeException](Pipeline.fromJson(
      """[{"stage":"mystery","params":{}}]"""))
    assert(bad.getMessage.contains("unknown pipeline stage"), bad.getMessage)
  }

  test("PatternNFA zero-or-more and times-or-more loop semantics") {
    import graft.operators.PatternNFA._
    import spark.implicits._
    def run(ev: Seq[(Long, Long, Long, String)], steps: Seq[Step]) =
      graft.operators.PatternNFA.run(spark, ev.toDF("key", "tsMicros", "id", "kind"), Pattern(steps, 1000L))
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("chain"),
          r.getAs[String]("counts"))).toSeq.sorted
    // B*: key 1 binds the loop (absorbing both Bs), key 2 skips it
    val zs = Seq(Step("a", "A"), Step("B", "B", ZeroOrMore()), Step("c", "C"))
    val z = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"),
      (1L, 30L, 4L, "C"),
      (2L, 0L, 5L, "A"), (2L, 10L, 6L, "C")), zs)
    assert(z == Seq((1L, "1,2,4", "B:2"), (2L, "5,6", "B:0")), z)
    // B*? (reluctant): prefers the EMPTY binding even when Bs exist
    val zr = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "C")),
      Seq(Step("a", "A"), Step("B", "B", ZeroOrMore(reluctant = true)),
        Step("c", "C")))
    assert(zr == Seq((1L, "1,3", "B:0")), zr)
    // B{2,}: needs two Bs before C; absorbs the third
    val ts = Seq(Step("a", "A"), Step("B", "B", TimesOrMore(2)), Step("c", "C"))
    val t2 = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 15L, 3L, "B"),
      (1L, 20L, 4L, "B"), (1L, 30L, 5L, "C"),
      (2L, 0L, 6L, "A"), (2L, 10L, 7L, "B"), (2L, 20L, 8L, "C")), ts)
    assert(t2 == Seq((1L, "1,2,5", "B:3")), t2) // key 2: only one B → no match
    // B{2,}? (reluctant): stops at exactly two
    val tr = run(Seq(
      (1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 15L, 3L, "B"),
      (1L, 20L, 4L, "B"), (1L, 30L, 5L, "C")),
      Seq(Step("a", "A"), Step("B", "B", TimesOrMore(2, reluctant = true)),
        Step("c", "C")))
    assert(tr == Seq((1L, "1,2,5", "B:2")), tr)
  }

  test("MATCH_RECOGNIZE MEASURES grammar parses and validates") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize.Measure
    val c = MatchRecognize.compile(
      """MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY ts
        |  MEASURES MATCH_NUMBER() AS mno, FIRST(A.ts) AS a0,
        |           ROUND(AVG(B.v), 6) AS avg_v, COUNT(B.id) AS nb,
        |           B.v AS last_v
        |  ALL ROWS PER MATCH
        |  PATTERN (A B+ C)
        |  WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
        |)""".stripMargin)
    assert(c.measures == Seq(
      Measure("MATCH_NUMBER", "", "", None, "mno"),
      Measure("FIRST", "A", "ts", None, "a0"),
      Measure("AVG", "B", "v", Some(6), "avg_v"),
      Measure("COUNT", "B", "id", None, "nb"),
      Measure("LAST", "B", "v", None, "last_v"))) // bare VAR.col ≡ LAST
    assert(c.allRows)
    // measures referencing an undefined variable must fail loudly
    intercept[RuntimeException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (MEASURES SUM(Z.v) AS s PATTERN (A)
          |  WITHIN INTERVAL '1' MINUTE DEFINE A AS kind = 'a')""".stripMargin)
    }
    // duplicate aliases would produce an ambiguous output schema
    intercept[IllegalArgumentException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (MEASURES COUNT(A.id) AS x, SUM(A.v) AS x
          |  PATTERN (A) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'a')""".stripMargin)
    }
    // ALL ROWS PER MATCH without MEASURES has no output contract here
    intercept[RuntimeException] {
      MatchRecognize.compile(
        """MATCH_RECOGNIZE (ALL ROWS PER MATCH PATTERN (A)
          |  WITHIN INTERVAL '1' MINUTE DEFINE A AS kind = 'a')""".stripMargin)
    }
  }

  test("MEASURES over an unbound Optional variable: COUNT 0, value measures null") {
    import spark.implicits._
    import graft.operators.MatchRecognize
    // key 1 matches with the optional B bound; key 2 without it —
    // the SQL contract for a variable with no rows is COUNT = 0 and
    // NULL for value measures (same as an empty aggregation group).
    val events = Seq(
      (1L, 100L, 1L, "a", 1.0), (1L, 200L, 2L, "b", 5.0), (1L, 300L, 3L, "c", 2.0),
      (2L, 100L, 4L, "a", 3.0), (2L, 200L, 5L, "c", 4.0))
      .toDF("key", "tsMicros", "id", "kind", "v")
    val out = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES COUNT(B.id) AS nb, SUM(B.v) AS sum_b, LAST(C.v) AS cv
        |  ONE ROW PER MATCH
        |  PATTERN (A B? C) WITHIN INTERVAL '1' SECOND
        |  DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("nb"),
        Option(r.get(r.fieldIndex("sum_b"))), r.getAs[Double]("cv"))).toSet
    assert(out == Set(
      (1L, 1L, Some(5.0), 2.0),
      (2L, 0L, None, 4.0)))
  }

  test("MATCH_RECOGNIZE DEFINE accepts arbitrary boolean predicates") {
    import spark.implicits._
    import graft.operators.MatchRecognize
    // v > 50 only matched by event 2; predicate references a non-kind
    // column and composes AND/comparison — the general DEFINE surface.
    // (strict contiguity: B must be the row ADJACENT to A)
    val events = Seq(
      (1L, 100L, 1L, "a", 10.0), (1L, 200L, 2L, "b", 80.0),
      (1L, 300L, 3L, "b", 20.0), (2L, 100L, 4L, "a", 99.0),
      (3L, 100L, 5L, "a", 1.0), (3L, 200L, 6L, "b", 20.0))
      .toDF("key", "tsMicros", "id", "kind", "v")
    val out = MatchRecognize.run(spark, events,
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B) WITHIN INTERVAL '1' SECOND
        |  DEFINE A AS kind = 'a', B AS kind = 'b' AND v > 50
        |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("chain")))
    assert(out.toSeq == Seq((1L, "1,2"))) // key 3's adjacent b fails v > 50
  }

  test("Changelog unfold/fold round-trips to final versions") {
    import spark.implicits._
    val versions = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0), (2L, 5L, 7.0))
      .toDF("k", "seq", "v")
    val log = graft.operators.Changelog.unfold(versions, Seq("k"), "seq")
    val kinds = log.groupBy("_change_kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == Map("+I" -> 2, "+U" -> 2, "-U" -> 2)) // 2 keys, 4 versions
    val fin = graft.operators.Changelog.fold(log, Seq("k"), "seq")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(fin == Map(1L -> 30.0, 2L -> 7.0))
  }

  test("CDC parsers: unknown envelope types dropped, null halves null-safe") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rowSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    // canal: unknown type dropped; UPDATE with missing "old" keeps +U
    val canal = Seq(
      """{"type":"INSERT","data":[{"k":1,"v":10.0}]}""",
      """{"type":"ALTER","data":[{"k":9,"v":9.0}]}""",
      """{"type":"UPDATE","data":[{"k":1,"v":20.0}]}""").toDF("msg")
    val c = graft.operators.ChangelogJson.parse(canal, "msg", rowSchema)
      .select("_change_kind", "k").as[(String, Long)].collect().toSet
    assert(c == Set(("+I", 1L), ("+U", 1L))) // no ALTER row, no null -U row
    // debezium: c/u/d/r ops; unknown op dropped; delete uses before
    val dbz = Seq(
      """{"op":"c","after":{"k":1,"v":10.0}}""",
      """{"op":"u","before":{"k":1,"v":10.0},"after":{"k":1,"v":20.0}}""",
      """{"op":"d","before":{"k":1,"v":20.0}}""",
      """{"op":"r","after":{"k":2,"v":5.0}}""",
      """{"op":"t","after":{"k":7,"v":7.0}}""").toDF("msg")
    val d = graft.operators.ChangelogJson.parseDebezium(dbz, "msg", rowSchema)
      .select("_change_kind", "k", "v").as[(String, Long, Double)].collect()
    assert(d.toSet == Set(("+I", 1L, 10.0), ("-U", 1L, 10.0),
      ("+U", 1L, 20.0), ("-D", 1L, 20.0), ("+I", 2L, 5.0)))
  }

  test("approx sketches stay within tolerance of exact answers") {
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
    val r = li.agg(
      org.apache.spark.sql.functions.approx_count_distinct(col("l_partkey")).as("apx"),
      countDistinct(col("l_partkey")).as("exact")).head
    val (apx, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(apx - exact) / exact < 0.1, s"approx $apx vs exact $exact")
  }

  test("SparkEntry smoke: entry() returns rows; names are consistent") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("ivfSearch recall@3 vs brute force stays useful at nProbe=2/8") {
    import graft.operators.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", k = 3))
    val approx = pairs(Similarity.ivfSearch(emb, q, "vec_id", "embedding",
      seedIds = 0L to 7L, iterations = 2, nProbe = 2, k = 3))
    val recall = (exact & approx).size.toDouble / exact.size
    // nProbe=2 of 8 coarse cells: recall must beat random cell choice
    // by a wide margin (empirically ~0.7+ on this data; 0.5 is the
    // regression floor, not the target).
    assert(recall >= 0.5, s"IVF recall@3 degraded: $recall")
  }

  test("saltedJoin is row-identical to the plain join and fans the dim by salts") {
    import graft.operators.SkewJoin
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val p = Tables(spark, "/root/testdata/sf0.001", "part")
    val salted = SkewJoin.saltedJoin(li, p, "l_partkey", "p_partkey",
      saltExpr = hash(col("l_orderkey"), col("l_linenumber")), salts = 8)
    val plain = li.join(p, li("l_partkey") === p("p_partkey"))
    // multiset identity (not just count): salting must neither drop
    // nor duplicate any joined row.
    val cols = plain.columns.map(col).toIndexedSeq
    assert(salted.select(cols: _*).exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted.select(cols: _*)).count() == 0)
  }

  test("bpeTokens and rollingHash handle edge-case text deterministically") {
    import graft.functions.TextFunctions._
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, world! 42"),
      (2L, "world! Hello, 42"), // reordered: same multiset, different order
      (3L, "Hello, world! 42") // exact copy of 1
    ).toDF("id", "text")
      .select(col("id"), size(bpeTokens(col("text"))).as("nb"),
        rollingHash(tokens(col("text"))).as("rh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    val byId = df.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 5) // Hello , world ! 42 → letter/punct/digit runs
    assert(byId(1L)._3 == byId(3L)._3, "identical text must fingerprint equal")
    assert(byId(1L)._3 != byId(2L)._3, "reordered text must fingerprint differently")
  }
}
