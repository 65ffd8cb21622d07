package graft

import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import graft.streaming.{GEvent, StreamingMatchRecognize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** AfterMatchSkipStrategy parity pinned to the REFERENCE'S OWN
  * expected match sets — vectors transcribed from
  * flink-libraries/flink-cep/src/test/java/org/apache/flink/cep/nfa/
  * AfterMatchSkipITCase.java (line anchors at each test). 26 tests:
  * 24 transcribed + 1 throw-mode pair + 1 documented-internal
  * (testSharedBufferIsProperlyCleared asserts SharedBuffer node
  * accounting; the observable twin — state pruned after a match under
  * SKIP_PAST_LAST — is the skipPastLast vectors themselves plus the
  * bounded-state streaming specs, the NFAITCase precedent).
  *
  * Adaptations follow CepVectorsSpec: events feed at ts = position
  * (the reference harness feeds StreamRecords without timestamps —
  * list order IS the order); conditions become kind columns, or
  * `runPredicates` name-contains predicates where the reference's
  * conditions overlap (the "ab" events matching both variables).
  * Match sets compare as (chain, counts) pairs.
  *
  * Reference semantics these vectors pin (NFA.java:391-430
  * processMatchesAccordingToSkipStrategy + the aftermatch package):
  *  - matches EMIT in start-event order (a completion is HELD while a
  *    strictly-earlier-start partial is live — the
  *    testSkipBeforeOtherAlreadyCompleted discipline);
  *  - at emission, prune discards partial AND held-completed matches
  *    by START event: start <= pruningId for skipToNext (own start) /
  *    skipPastLast (match's last event), start < pruningId for
  *    skipToFirst/skipToLast(v) (first/last event bound to v);
  *  - consequently a TRAILING loop under ANY committed strategy binds
  *    the MINIMAL extent — the shortest completion emits first (its
  *    events arrive first) and the prune kills the same anchor's
  *    longer extensions (testSkipToNextWithQuantifierAtTheEnd,
  *    testSkipTo{First,Last}WithOneOrMore);
  *  - skipToFirst/skipToLast on a MISSED variable or re-anchoring at
  *    the match start prune nothing (SkipToElementStrategy.java:
  *    pruningId null / start < start); with throwExceptionOnMiss they
  *    throw — the engine's `throwOnMiss` flag (MATCH_RECOGNIZE mode).
  */
class AfterMatchSkipVectorsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark

  private val W = 3600000000L // wider than any vector's span

  /** Events at ts = id = feed position, kind column. */
  private def ev(kinds: String*): DataFrame = {
    import spark.implicits._
    kinds.zipWithIndex.map { case (k, i) =>
      (0L, (i + 1).toLong * 1000000L, (i + 1).toLong, k) }
      .toDF("key", "tsMicros", "id", "kind")
  }

  /** Events with a `name` column for contains-predicates. */
  private def evN(names: String*): DataFrame = {
    import spark.implicits._
    names.zipWithIndex.map { case (n, i) =>
      (0L, (i + 1).toLong * 1000000L, (i + 1).toLong, n) }
      .toDF("key", "tsMicros", "id", "name")
  }

  private def chains(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet

  /** The batch door's match set — which the streaming pattern door
    * must reproduce: the same events fed in two micro-batches, then one
    * event on another key far past every deadline so every anchor
    * matures. The two doors meet in the shared anchor offer; this is
    * where their skip marks (minimum anchor index vs carried Mark)
    * are held equal. */
  private def matches(df: DataFrame, steps: Seq[Step],
                      am: AfterMatch): Set[(String, String)] = {
    val batch = chains(PatternNFA.run(spark, df, Pattern(steps, W, am)))
    import spark.implicits._
    val evs = df.as[(Long, Long, Long, String)].collect()
      .map { case (k, ts, id, kind) => GEvent(k, ts, id, kind, 0.0) }.toSeq
    val (b1, b2) = evs.splitAt(evs.size / 2)
    val flush = GEvent(1L, evs.map(_.tsMicros).max + 10 * W, 0L, "flush", 0.0)
    val streamed = chains(StreamHarness.run(Seq(b1, b2, Seq(flush)),
        OutputMode.Append, "amskip_stream") { ds =>
      StreamingMatchRecognize.pattern(spark, ds.toDF(), steps, W, am,
        watermarkDelay = "0 seconds").toDF()
    })
    assert(streamed == batch, s"streaming door $streamed != batch door $batch")
    batch
  }

  private def matchesP(df: DataFrame, steps: Seq[Step],
                       preds: Seq[(String, org.apache.spark.sql.Column)],
                       am: AfterMatch): Set[(String, String)] =
    PatternNFA.run(spark, df, Pattern(steps, W, am, preds = preds))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet

  private def contains(s: String) = {
    import org.apache.spark.sql.functions.col
    col("name").contains(s)
  }

  test("AfterMatchSkipITCase testNoSkip:50 — times(3) loop-first emits every sliding window") {
    val df = ev("a", "a", "a", "a", "a", "a")
    val got = matches(df, Seq(Step("S", "a", Times(3))), NoSkip)
    assert(got == Set(("1,2,3", ""), ("2,3,4", ""), ("3,4,5", ""),
      ("4,5,6", "")), got)
  }

  test("AfterMatchSkipITCase testNoSkipWithFollowedByAny:93 / testSkipToNextWithFollowedByAny:109") {
    val df = ev("a", "b", "a", "b")
    val steps = Seq(Step("S", "a"), Step("E", "b", AnyOne))
    val no = matches(df, steps, NoSkip)
    assert(no == Set(("1,2", ""), ("1,4", ""), ("3,4", "")), no)
    // skipToNext: ONE committed match per anchor — the reference
    // prunes the anchor's own sibling branches (start <= own start)
    val next = matches(df, steps, SkipToNextRow)
    assert(next == Set(("1,2", ""), ("3,4", "")), next)
  }

  test("AfterMatchSkipITCase testNoSkipWithQuantifierAtTheEnd:167 / testSkipToNextWithQuantifierAtTheEnd:188") {
    val df = ev("a", "b", "b", "b")
    val steps = Seq(Step("S", "a"), Step("E", "b", NextEntry(OneOrMore())))
    val no = matches(df, steps, NoSkip)
    assert(no == Set(("1,2", "E:1"), ("1,2", "E:2"), ("1,2", "E:3")), no)
    // the shortest extent completes FIRST (b1's arrival); its emission
    // prunes the partial continuing the same anchor — trailing loops
    // under committed strategies bind the minimal extent
    val next = matches(df, steps, SkipToNextRow)
    assert(next == Set(("1,2", "E:1")), next)
  }

  test("AfterMatchSkipITCase testSkipPastLast:247 — times(3) loop-first re-arms past the match") {
    val df = ev("a", "a", "a", "a", "a", "a")
    val got = matches(df, Seq(Step("S", "a", Times(3))), SkipPastLastEvent)
    assert(got == Set(("1,2,3", ""), ("4,5,6", "")), got)
  }

  test("AfterMatchSkipITCase testSkipToFirst:286 — overlapping conditions, skip to first of the end loop") {
    val df = evN("ab", "ab", "ab", "ab", "ab", "ab")
    val steps = Seq(Step("S", "S", Times(2)),
      Step("E", "E", NextEntry(Times(2))))
    val preds = Seq("S" -> contains("a"), "E" -> contains("b"))
    val got = matchesP(df, steps, preds, SkipToFirst("E"))
    assert(got == Set(("1,2,3,4", ""), ("3,4,5,6", "")), got)
  }

  test("AfterMatchSkipITCase testSkipToLast:337 — skip to last of the end loop") {
    val df = evN("ab", "ab", "ab", "ab", "ab", "ab", "ab")
    val steps = Seq(Step("S", "S", Times(2)),
      Step("E", "E", NextEntry(Times(2))))
    val preds = Seq("S" -> contains("a"), "E" -> contains("b"))
    val got = matchesP(df, steps, preds, SkipToLast("E"))
    assert(got == Set(("1,2,3,4", ""), ("4,5,6,7", "")), got)
  }

  test("AfterMatchSkipITCase testSkipPastLast2:389 — ANY branches collapse to the earliest, then re-arm past it") {
    // a1 a2 b1 b2 c1 c2 d1 d2; a fByAny b fByAny c fBy d: the earliest
    // completion (a1,b1,c1,d1) emits; skipPastLast prunes every other
    // branch and anchor (all start <= d1)
    val df = ev("a", "a", "b", "b", "c", "c", "d", "d")
    val got = matches(df, Seq(Step("A", "a"), Step("B", "b", AnyOne),
      Step("C", "c", AnyOne), Step("D", "d")), SkipPastLastEvent)
    assert(got == Set(("1,3,5,7", "")), got)
  }

  test("AfterMatchSkipITCase testSkipPastLast3:455 — a failed next() anchor emits nothing") {
    val df = ev("a", "c", "a", "b")
    val got = matches(df, Seq(Step("A", "a"), Step("B", "b", Next)),
      SkipPastLastEvent)
    assert(got == Set(("3,4", "")), got)
  }

  test("AfterMatchSkipITCase testSkipToFirstWithOptionalMatch:496 — skip target inside an UNBOUND loop prunes nothing") {
    // begin(x)* (no x exists) next b next c: both zero-class matches
    // emit; skipToFirst("b") = match start → no prune
    val df = evN("ab1", "c1", "ab2", "c2")
    val steps = Seq(Step("X", "X", ZeroOrMore()),
      Step("B", "B", Next), Step("C", "C", Next))
    val preds = Seq("X" -> contains("x"), "B" -> contains("b"),
      "C" -> contains("c"))
    val got = matchesP(df, steps, preds, SkipToFirst("B"))
    assert(got == Set(("1,2", "X:0"), ("3,4", "X:0")), got)
  }

  test("AfterMatchSkipITCase testSkipToFirstAtStartPosition:548 — degenerate skip-to-start prunes nothing") {
    val df = evN("ab1", "c1", "ab2", "c2")
    val steps = Seq(Step("B", "B"), Step("C", "C", Next))
    val preds = Seq("B" -> contains("b"), "C" -> contains("c"))
    val got = matchesP(df, steps, preds, SkipToFirst("B"))
    assert(got == Set(("1,2", ""), ("3,4", "")), got)
  }

  test("AfterMatchSkipITCase testSkipToFirstWithOneOrMore:589 / testSkipToLastWithOneOrMore:753") {
    // a1 b1 a2 b2 b3 a3 b4; a next(b)+ consecutive: the trailing
    // loop's SHORTEST extent emits and the skip prunes the extension —
    // (a2,b2,b3) never forms
    val df = ev("a", "b", "a", "b", "b", "a", "b")
    val steps = Seq(Step("A", "a"),
      Step("B", "b", NextEntry(OneOrMore(consecutive = true))))
    val first = matches(df, steps, SkipToFirst("B"))
    assert(first == Set(("1,2", "B:1"), ("3,4", "B:1"), ("6,7", "B:1")),
      first)
    val last = matches(df, steps, SkipToLast("B"))
    assert(last == Set(("1,2", "B:1"), ("3,4", "B:1"), ("6,7", "B:1")),
      last)
  }

  test("AfterMatchSkipITCase testSkipToFirstElementOfMatch:640 — throwOnMiss throws on skip-to-own-start") {
    val df = ev("a")
    val ex = intercept[Exception] {
      matches(df, Seq(Step("A", "a")),
        SkipToFirst("A", throwOnMiss = true))
    }
    assert(ex.getMessage != null)
  }

  test("AfterMatchSkipITCase testSkipToFirstNonExistentPosition:670 / testSkipToLastNonExistentPosition:687 — throwOnMiss throws on an unbound variable") {
    val df = ev("a", "c")
    val steps = Seq(Step("A", "a"),
      Step("B", "b", NextEntry(ZeroOrMore(consecutive = true))),
      Step("C", "c", Next))
    val ex1 = intercept[Exception] {
      matches(df, steps, SkipToFirst("B", throwOnMiss = true))
    }
    assert(ex1.getMessage != null)
    val ex2 = intercept[Exception] {
      matches(df, steps, SkipToLast("B", throwOnMiss = true))
    }
    assert(ex2.getMessage != null)
  }

  test("AfterMatchSkipITCase testSkipToFirstNonExistentPositionWithoutException:678/694 — a missed variable prunes nothing") {
    val df = ev("a", "c")
    val steps = Seq(Step("A", "a"),
      Step("B", "b", NextEntry(ZeroOrMore(consecutive = true))),
      Step("C", "c", Next))
    val got = matches(df, steps, SkipToFirst("B"))
    assert(got == Set(("1,2", "B:0")), got)
  }

  test("AfterMatchSkipITCase testSkipPastLastWithOneOrMoreAtBeginning:806 — greedy consecutive loop-first + skipPastLast (docs example)") {
    val df = ev("a", "a", "a", "b")
    val steps = Seq(Step("A", "a", Greedy(OneOrMore(consecutive = true))),
      Step("B", "b", Next))
    val got = matches(df, steps, SkipPastLastEvent)
    assert(got == Set(("1,4", "A:3")), got)
  }

  test("AfterMatchSkipITCase testSkipToLastWithOneOrMoreAtBeginning:850 — greedy loop-first + skipToLast (docs example)") {
    val df = ev("a", "a", "a", "b")
    val steps = Seq(Step("A", "a", Greedy(OneOrMore(consecutive = true))),
      Step("B", "b", Next))
    val got = matches(df, steps, SkipToLast("A"))
    assert(got == Set(("1,4", "A:3"), ("3,4", "A:1")), got)
  }

  test("AfterMatchSkipITCase testSkipToFirstWithOneOrMoreAtBeginning:895 / testNoSkipWithOneOrMoreAtBeginning:943 (docs examples)") {
    val df = ev("a", "a", "a", "b")
    val steps = Seq(Step("A", "a", Greedy(OneOrMore(consecutive = true))),
      Step("B", "b", Next))
    val want = Set(("1,4", "A:3"), ("2,4", "A:2"), ("3,4", "A:1"))
    // skipToFirst("a") re-anchors at each match's own start → no prune
    val first = matches(df, steps, SkipToFirst("A"))
    assert(first == want, first)
    val no = matches(df, steps, NoSkip)
    assert(no == want, no)
  }

  test("AfterMatchSkipITCase testSkipToFirstDiscarding:991 — skip into a greedy loop (docs example)") {
    // a b c1 c2 c3 d; (a|c) fBy (b|c) fBy c+greedy fBy d,
    // skipToFirst("c*"): (a,b,c1,c2,c3,d) then from c1: (c1,c2,c3,d)
    val df = evN("a", "b", "c1", "c2", "c3", "d")
    val steps = Seq(Step("AC", "AC"), Step("BC", "BC"),
      Step("CS", "CS", Greedy(OneOrMore())), Step("D", "D"))
    val preds = Seq(
      "AC" -> (contains("a") || contains("c")),
      "BC" -> (contains("b") || contains("c")),
      "CS" -> contains("c"), "D" -> contains("d"))
    val got = matchesP(df, steps, preds, SkipToFirst("CS"))
    assert(got == Set(("1,2,3,6", "CS:3"), ("3,4,5,6", "CS:1")), got)
  }

  test("AfterMatchSkipITCase testSkipBeforeOtherAlreadyCompleted:1060 — a held earlier-start match survives a later match's prune") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a1(0) c1(0) a2(1) c2(0) b1(1) b2(0); b must carry the price of
    // ITS match's a (iterative condition). (a2,c2,b1) completes FIRST
    // but matches emit in START order, so (a1,c1,·) is not pruned by
    // skipToFirst("c") = c2 — both matches emit.
    val df = Seq(
      (0L, 1000000L, 1L, "a", 0.0), (0L, 2000000L, 2L, "c", 0.0),
      (0L, 3000000L, 3L, "a", 1.0), (0L, 4000000L, 4L, "c", 0.0),
      (0L, 5000000L, 5L, "b", 1.0), (0L, 6000000L, 6L, "b", 0.0))
      .toDF("key", "tsMicros", "id", "kind", "price")
    val preds = Seq("A" -> (col("kind") === "a"),
      "C" -> (col("kind") === "c"), "B" -> (col("kind") === "b"))
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("A", "A"), Step("C", "C"), Step("B", "B")), W, SkipToFirst("C"),
          preds = preds,
          navCols = Seq("price"),
          ctx = Map("B" -> Seq(CtxCmp("=",
          NavExpr.VarNav(Seq("A"), 0, first = true, 0), NavExpr.Cur(0))))))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet
    assert(got == Set(("1,2,6", ""), ("3,4,5", "")), got)
  }
}
