package graft

import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** CEP-library parity pinned to the REFERENCE'S OWN expected match
  * sets — the r10/r11 structural lesson (self-authored oracles can
  * encode the engine's own semantics) applied to the CEP API doors,
  * whose cep* oracles are all self-authored. Vectors transcribed from
  * flink-libraries/flink-cep/src/test/java/org/apache/flink/cep/nfa/
  * NFAITCase.java (line anchors at each test). All run with NO SKIP,
  * the reference harness's default (feedNFA emits every match).
  *
  * Adaptations: the reference's where()-conditions become kind
  * columns (condition evaluation is data prep for a kind-equality
  * NFA — the engine's predicate generality is exercised by the
  * MATCH_RECOGNIZE family); match sets compare as (chain, counts)
  * pairs — a loop's binding is its first element + extent, which
  * uniquely names the reference's event lists under prefix-contiguous
  * loop semantics. r13 removed the r12 distinct-timestamp adaptation:
  * relaxed contiguity is now POSITIONAL ((ts, id) order with the id
  * tiebreak), so the feeders below carry the reference's ORIGINAL
  * timestamps, ties included (testOneOrMore's middleEvent2/3 share
  * ts 4 — NFAITCase.java:2734-2735).
  *
  * r12 closed all three r11 structural deltas: SKIP_TILL_ANY loops
  * beyond the times(2) pairs door ([[PatternNFA.LoopAny]] — subset
  * enumeration), next()-ENTRY into a loop ([[PatternNFA.NextEntry]]),
  * and loop-FIRST patterns on the relaxed door (every loop-kind event
  * anchors its own run — enumFromAnchor; the empty-loop class anchors
  * on the rest head), plus the WITHIN boundary flip and per-branch
  * timeout emission ([[PatternNFA.runTimeoutBranches]]). r13 closed
  * the last structural delta: same-timestamp neighbor bindings in
  * relaxed relations (positional contiguity).
  */
class CepVectorsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark

  private val W = 3600000000L // 1 hour — wider than any vector's span

  private def ev(rows: (Int, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (id, k) => (0L, id.toLong * 1000000L, id.toLong, k) }
      .toDF("key", "tsMicros", "id", "kind")
  }

  /** Explicit (ts, id, kind) rows — for the feeders where the
    * reference REUSES a timestamp across events (ties bind in (ts, id)
    * order, positionally, like the reference's arrival order). */
  private def evT(rows: (Int, Int, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (ts, id, k) =>
      (0L, ts.toLong * 1000000L, id.toLong, k) }
      .toDF("key", "tsMicros", "id", "kind")
  }

  private def matches(df: DataFrame, steps: Seq[Step],
                      am: AfterMatch = NoSkip): Set[(String, String)] =
    PatternNFA.run(spark, df, Pattern(steps, W, am))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet

  // the shared ConsecutiveData shape (NFAITCase:2606 + the
  // testOneOrMore/testZeroOrMore feeders :2730-2738): c@1, d@2, a@3,
  // a@4, a@4 (the reference's TIED timestamp — middleEvent2 and
  // middleEvent3 both fed at ts 4, ordered by insertion = id), d@5,
  // a@6, b@7. Every vector below uses the reference's own timestamps.
  private val consecData = evT((1, 1, "c"), (2, 2, "d"), (3, 3, "a"),
    (4, 4, "a"), (4, 5, "a"), (5, 6, "d"), (6, 7, "a"), (7, 8, "b"))

  test("NFAITCase testSimplePatternWithTimeWindowNFA:338 — WITHIN is boundary-exclusive") {
    // start@1, start@2, middle@3, foobar@4, end@11, end@13, within 10:
    // the reference expires a deadline-t anchor BEFORE processing an
    // event at t (advanceTime-first order), so start@1 (deadline 11)
    // must NOT match end@11 — only (start@2, middle@3, end@11) does.
    // r12 acceptance vector for the boundary flip.
    import spark.implicits._
    val df = Seq(
      (0L, 1L, 1L, "start"), (0L, 2L, 2L, "start"), (0L, 3L, 3L, "middle"),
      (0L, 4L, 4L, "foobar"), (0L, 11L, 5L, "end"), (0L, 13L, 6L, "end"))
      .toDF("key", "tsMicros", "id", "kind")
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("S", "start"), Step("M", "middle"), Step("E", "end")), 10L, NoSkip))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet
    assert(got == Set(("2,3,5", "")), got)
  }

  test("tied timestamps bind positionally in every relaxed relation (r13)") {
    // a@1, b@1, c@1 — one timestamp for the whole pattern: followedBy
    // binds the same-ts successors in id order (the reference's NFA
    // has no ts-increase requirement between bindings — arrival order
    // decides), and next() chains same-ts ADJACENT events.
    val df = evT((1, 1, "a"), (1, 2, "b"), (1, 3, "c"))
    val relaxed = matches(df, Seq(Step("A", "a"), Step("B", "b"),
      Step("C", "c")))
    assert(relaxed == Set(("1,2,3", "")), relaxed)
    val strict = matches(df, Seq(Step("A", "a"), Step("B", "b", Next),
      Step("C", "c", Next)))
    assert(strict == Set(("1,2,3", "")), strict)
    // and the WITHIN window stays TEMPORAL: all three share ts 1, so
    // even within=1µs (deadline 1µs + 1µs = 2µs > 1µs... use the
    // smallest window that excludes nothing at one ts) — a window of
    // 1µs has deadline ts+1 and ties at ts bind (ts < ts+1)
    val tiny = PatternNFA.run(spark, df,
        Pattern(Seq(Step("A", "a"), Step("B", "b"), Step("C", "c")), 1L, NoSkip))
      .collect().map(_.getAs[String]("chain")).toSet
    assert(tiny == Set("1,2,3"), tiny)
  }

  test("NFAITCase testSimplePatternNFA:187 — one committed match across noise") {
    val df = ev(1 -> "start", 2 -> "x", 3 -> "x2", 4 -> "mid",
      5 -> "start", 6 -> "end")
    val got = matches(df, Seq(Step("S", "start"), Step("M", "mid"),
      Step("E", "end")))
    // the second start has no mid after it — exactly one match
    assert(got == Set(("1,4,6", "")), got)
  }

  test("NFAITCase testStrictContinuityWithResults:248 — next() binds the adjacent event") {
    val got = matches(ev(1 -> "a", 2 -> "b"),
      Seq(Step("M", "a"), Step("E", "b", Next)))
    assert(got == Set(("1,2", "")), got)
  }

  test("NFAITCase testStrictContinuityNoResults:291 — an intervening event kills next()") {
    val got = matches(ev(1 -> "a", 2 -> "c", 3 -> "b"),
      Seq(Step("M", "a"), Step("E", "b", Next)))
    assert(got.isEmpty, got)
  }

  test("NFAITCase testSkipTillNextOneOrMore:2642 — relaxed 1+ emits run prefixes") {
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore()), Step("E", "b")))
    // prefixes of the eligible run m@3..m@7 (the d's are skipped),
    // never shifted starts
    assert(got == (1 to 4).map(k => ("1,3,8", s"M:$k")).toSet, got)
  }

  test("NFAITCase testSkipTillNextZeroOrMore:2930 — 0+ adds the empty extent") {
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", ZeroOrMore()), Step("E", "b")))
    assert(got == ((1 to 4).map(k => ("1,3,8", s"M:$k")).toSet +
      (("1,8", "M:0"))), got)
  }

  test("NFAITCase testStrictOneOrMore:2618 — consecutive() run ends at the first gap") {
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(consecutive = true)), Step("E", "b")))
    // adjacent run m@3,m@4,m@5 — d@6 ends it, m@7 is unreachable;
    // entry m@3 is NOT adjacent to the start (entry stays relaxed)
    assert(got == (1 to 3).map(k => ("1,3,8", s"M:$k")).toSet, got)
  }

  test("NFAITCase testStrictEagerZeroOrMore:2795 — consecutive 0+ adds the empty extent") {
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", ZeroOrMore(consecutive = true)), Step("E", "b")))
    assert(got == ((1 to 3).map(k => ("1,3,8", s"M:$k")).toSet +
      (("1,8", "M:0"))), got)
  }

  test("NFAITCase testEagerZeroOrMore:774 — relaxed run skips interleaved noise") {
    val df = ev(1 -> "c", 3 -> "a", 4 -> "a", 5 -> "d", 6 -> "a", 7 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", ZeroOrMore()), Step("E", "b")))
    assert(got == ((1 to 3).map(k => ("1,3,7", s"M:$k")).toSet +
      (("1,7", "M:0"))), got)
  }

  test("NFAITCase testOptional:1455 — NO SKIP emits both optional branches") {
    val df = ev(1 -> "c", 5 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("S", "c"), Step("M", "a", Optional),
      Step("E", "b")))
    assert(got == Set(("1,5,6", ""), ("1,6", "")), got)
  }

  test("NFAITCase testTimesStrict:2976 — followedByAny times(2).consecutive() branches past a broken pair") {
    // r14 correction: the reference's entry is followedByANY
    // (NFAITCase:2990) — the advance past the broken (m1, f) pair is
    // the ANY entry's m2 BRANCH, not an entry slide; a committed
    // followedBy entry is CONSUMED by its first takeable candidate
    // (ignore = NOT(take)) and the broken pair kills the attempt
    val df = ev(1 -> "c", 2 -> "f", 3 -> "a", 4 -> "f", 5 -> "a",
      6 -> "a", 7 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(Times(2, consecutive = true))),
      Step("E", "b")))
    assert(got == Set(("1,5,6,7", "M:2")), got)
    // the committed followedBy form: the broken first pair is fatal
    val committed = matches(df, Seq(Step("S", "c"),
      Step("M", "a", Times(2, consecutive = true)), Step("E", "b")))
    assert(committed.isEmpty, committed)
  }

  test("NFAITCase testTimesNonStrict:3039 — times(2).allowCombinations() emits every pair") {
    val df = ev(1 -> "c", 2 -> "f", 3 -> "a", 4 -> "f", 5 -> "a",
      6 -> "a", 7 -> "b")
    val got = PatternNFA.runCombinationsPairs(spark, df, "c", "a", "b", W)
      .collect().map(_.getAs[String]("chain")).toSet
    assert(got == Set("1,3,5,7", "1,3,6,7", "1,5,6,7"), got)
  }

  test("NFAITCase testEndWithZeroOrMore:1928 — a trailing loop emits every extent") {
    val df = ev(1 -> "c", 3 -> "a", 4 -> "a", 5 -> "a")
    val got = matches(df, Seq(Step("S", "c"), Step("M", "a", ZeroOrMore())))
    assert(got == ((1 to 3).map(k => ("1,3", s"M:$k")).toSet +
      (("1", "M:0"))), got)
  }

  test("NFAITCase testBranchingPattern:499 — followedByAny chains branch into the full cross product") {
    // start, three qualifying middles, two next-ones, one end — every
    // (middle, next) combination emits its own match: 3 × 2 × 1 = 6
    val df = ev(1 -> "start", 3 -> "mid", 4 -> "mid", 5 -> "mid",
      6 -> "nx", 7 -> "nx", 8 -> "end")
    val got = matches(df, Seq(Step("S", "start"),
      Step("M", "mid", AnyOne), Step("N", "nx", AnyOne),
      Step("E", "end", AnyOne)))
    assert(got == (for (m <- 3 to 5; n <- 6 to 7)
      yield (s"1,$m,$n,8", "")).toSet, got)
  }

  test("NFAITCase testNoConditionNFA:82 — condition-less steps commit to the next event") {
    // begin.followedBy with NO conditions: every event anchors and the
    // second step commits to the immediately-following event — exactly
    // the reference's (a,b),(b,c),(c,d),(d,e)
    import org.apache.spark.sql.functions.lit
    val df = ev(1 -> "x", 2 -> "x", 3 -> "x", 4 -> "x", 5 -> "x")
    val preds = Seq("S" -> lit(true), "E" -> lit(true))
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("S", "S"), Step("E", "E")), W, NoSkip, preds = preds))
      .collect().map(_.getAs[String]("chain")).toSet
    assert(got == Set("1,2", "2,3", "3,4", "4,5"), got)
  }

  test("NFAITCase testNoConditionLoopingNFA:113 — condition-less trailing 1+ emits every contiguous substring") {
    import org.apache.spark.sql.functions.lit
    val df = ev(1 -> "x", 2 -> "x", 3 -> "x", 4 -> "x", 5 -> "x")
    val preds = Seq("S" -> lit(true), "E" -> lit(true))
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("S", "S"), Step("E", "E", OneOrMore())), W, NoSkip,
          preds = preds))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet
    // the reference's ten substrings: anchors a..d, loop extents 1..4
    val want = (for (a <- 1 to 4; k <- 1 to 5 - a)
      yield (s"$a,${a + 1}", s"E:$k")).toSet
    assert(got == want, got)
  }

  test("NFAITCase testSkipTillAnyOneOrMore:2674 — ANY-interior 1+ emits every in-order subset") {
    // allowCombinations on a 1+ loop: entry commits to the earliest
    // eligible (all reference matches start with middleEvent1), the
    // interior branches on EVERY later eligible — 2^3 = 8 subsets.
    // ANY-loop chains carry FULL loop ids (subsets are otherwise
    // indistinguishable — the times(2) pairs door's convention).
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue)), Step("E", "b")))
    val want = Set(
      ("1,3,8", "M:1"), ("1,3,4,8", "M:2"), ("1,3,5,8", "M:2"),
      ("1,3,7,8", "M:2"), ("1,3,4,5,8", "M:3"), ("1,3,4,7,8", "M:3"),
      ("1,3,5,7,8", "M:3"), ("1,3,4,5,7,8", "M:4"))
    assert(got == want, got)
  }

  test("NFAITCase testSkipTillAnyZeroOrMore:2820 — ANY-interior 0+ adds the empty extent") {
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, zeroOk = true)),
      Step("E", "b")))
    val want = Set(
      ("1,8", "M:0"),
      ("1,3,8", "M:1"), ("1,3,4,8", "M:2"), ("1,3,5,8", "M:2"),
      ("1,3,7,8", "M:2"), ("1,3,4,5,8", "M:3"), ("1,3,4,7,8", "M:3"),
      ("1,3,5,7,8", "M:3"), ("1,3,4,5,7,8", "M:4"))
    assert(got == want, got)
  }

  test("NFAITCase testNextZeroOrMore:1323 — next()-entry kills non-adjacent loop binds") {
    // next(middle).oneOrMore().optional().consecutive(): the loop's
    // first element must be ADJACENT to start; the noise event at 2
    // kills every bound branch — only (start, end) survives.
    val df = ev(1 -> "start", 2 -> "event", 3 -> "middle", 4 -> "middle",
      5 -> "middle", 6 -> "end")
    val got = matches(df, Seq(Step("S", "start"),
      Step("M", "middle", NextEntry(ZeroOrMore(consecutive = true))),
      Step("E", "end")))
    assert(got == Set(("1,6", "M:0")), got)
  }

  test("NFAITCase testTimesNonStrictWithNext:1629 — next()-entry pairs with ANY interior") {
    // next(middle).times(2).allowCombinations(): entry adjacent (m1@2
    // IS adjacent to c@1), second element = every later eligible.
    val df = ev(1 -> "c", 2 -> "a", 3 -> "f", 4 -> "a", 5 -> "f",
      6 -> "a", 7 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 2, entryNext = true)), Step("E", "b")))
    assert(got == Set(("1,2,4,7", "M:2"), ("1,2,6,7", "M:2")), got)
  }

  test("NFAITCase testOptionalTimesNonStrictWithNext:2535 — optional adds the empty branch") {
    val df = ev(1 -> "c", 2 -> "a", 3 -> "f", 4 -> "a", 5 -> "f",
      6 -> "a", 7 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 2, zeroOk = true, entryNext = true)),
      Step("E", "b")))
    assert(got == Set(("1,2,4,7", "M:2"), ("1,2,6,7", "M:2"),
      ("1,7", "M:0")), got)
  }

  test("NFAITCase testTimesStrictWithNextAndConsecutive:1828 — adjacency gap starves the run") {
    // next(middle).times(2).consecutive(): entry adjacent (m1@2), but
    // the consecutive second element must be at index 3 — it's 'f'.
    val df = ev(1 -> "c", 2 -> "a", 3 -> "f", 4 -> "a", 6 -> "a", 7 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", NextEntry(Times(2, consecutive = true))),
      Step("E", "b")))
    assert(got.isEmpty, got)
  }

  test("NFAITCase testSimplePatternWithTimeoutHandling:403 — every live partial branch times out") {
    // followedByAny twice, within 10: FOUR timeouts — two per anchor
    // (the bare anchor's stay and the [start, middle] branch), each
    // stamped with the anchor's deadline, INCLUDING the anchor that
    // also fully matched (start@2's stays expire at 12).
    import spark.implicits._
    val df = Seq(
      (0L, 1L, 1L, "start"), (0L, 2L, 2L, "start"), (0L, 3L, 3L, "middle"),
      (0L, 4L, 4L, "foobar"), (0L, 11L, 5L, "end"), (0L, 13L, 6L, "end"))
      .toDF("key", "tsMicros", "id", "kind")
    val steps = Seq(Step("S", "start"), Step("M", "middle", AnyOne),
      Step("E", "end", AnyOne))
    // the full-match side is unchanged: exactly one match
    val full = PatternNFA.run(spark, df, Pattern(steps, 10L, NoSkip))
      .collect().map(_.getAs[String]("chain")).toSet
    assert(full == Set("2,3,5"), full)
    val tmo = PatternNFA.run(spark, df, Pattern(steps, 10L), BranchTimeouts)
      .collect().map(r => (r.getAs[Long]("anchor_id"),
        r.getAs[String]("chain"), r.getAs[Int]("n_bound"),
        r.getAs[Long]("timeout_us"))).toSet
    val want = Set(
      (1L, "1", 1, 11L), (1L, "1,3", 2, 11L),
      (2L, "2", 1, 12L), (2L, "2,3", 2, 12L))
    assert(tmo == want, tmo)
  }

  test("NFAITCase testBeginWithZeroOrMore:842 — loop-first anchors every loop event + one empty class") {
    // begin(a).oneOrMore().optional() followedBy b: every 'a' anchors
    // its own run (relaxed prefixes from that anchor), and every
    // rest-head 'b' anchors the empty-loop branch.
    val df = ev(3 -> "a", 4 -> "a", 5 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("M", "a", ZeroOrMore()),
      Step("E", "b")))
    val want = Set(
      ("3,6", "M:3"), ("3,6", "M:2"), ("4,6", "M:2"),
      ("3,6", "M:1"), ("4,6", "M:1"), ("5,6", "M:1"), ("6", "M:0"))
    assert(got == want, got)
  }

  test("NFAITCase testBeginWithAtLeastOne:1267 — ANY-loop-first emits every subset per anchor") {
    val df = ev(3 -> "a", 4 -> "a", 5 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("S", "a", LoopAny(1, Int.MaxValue)),
      Step("E", "b")))
    val want = Set(
      ("3,6", "S:1"), ("3,4,6", "S:2"), ("3,5,6", "S:2"),
      ("3,4,5,6", "S:3"), ("4,6", "S:1"), ("4,5,6", "S:2"),
      ("5,6", "S:1"))
    assert(got == want, got)
  }

  test("NFAITCase testStartWithTimes:1578 — times(2).consecutive() first anchors each adjacent pair") {
    val df = ev(2 -> "a", 3 -> "a", 4 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("M", "a", Times(2, consecutive = true)),
      Step("E", "b")))
    assert(got == Set(("2,3,6", ""), ("3,4,6", "")), got)
  }

  test("NFAITCase testStartWithOneOrMoreStrict:3133 / ZeroOrMoreStrict:3112 — loop-only pattern") {
    // a+ consecutive as the WHOLE pattern: each 'a' anchors its
    // adjacent run's prefixes; the zeroOrMore spelling emits the SAME
    // set (a zero-width match with nothing else bound is no match)
    val df = ev(1 -> "c", 3 -> "a", 4 -> "c", 5 -> "a", 6 -> "a")
    // loop chains carry the FIRST element + extent (emit convention)
    val want = Set(("3", "S:1"), ("5", "S:1"), ("5", "S:2"),
      ("6", "S:1"))
    val one = matches(df,
      Seq(Step("S", "a", OneOrMore(consecutive = true))))
    assert(one == want, one)
    val zero = matches(df,
      Seq(Step("S", "a", ZeroOrMore(consecutive = true))))
    assert(zero == want, zero)
  }

  test("NFAITCase testStartWithOptional:1883 — optional-first emits both classes") {
    val got = matches(ev(1 -> "c", 6 -> "b"),
      Seq(Step("S", "c", Optional), Step("E", "b")))
    assert(got == Set(("1,6", ""), ("6", "")), got)
  }

  test("NFAITCase testComplexBranchingAfterZeroOrMore:582 — ANY-entry ANY-loop × AnyOne tail cross product") {
    // c, a, a, a, b, d, d, e; pattern c followedByAny a*(combinations)
    // followedByAny b followedByAny d followedByAny e: EVERY in-order
    // subset of the a's (entry branches too — followedByAny into the
    // loop) × both d's = 16 matches.
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (5, 4, "a"),
      (6, 5, "b"), (7, 6, "d"), (8, 7, "d"), (9, 8, "e"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, zeroOk = true, entryAny = true)),
      Step("E1", "b", AnyOne), Step("E2", "d", AnyOne),
      Step("E3", "e", AnyOne)))
    val msubs = Seq(Seq(), Seq(2), Seq(3), Seq(4), Seq(2, 3), Seq(2, 4),
      Seq(3, 4), Seq(2, 3, 4))
    val want = (for (m <- msubs; d <- Seq(6, 7)) yield
      ((Seq(1) ++ m ++ Seq(5, d, 8)).mkString(","), s"M:${m.size}")).toSet
    assert(got == want, got)
  }

  test("NFAITCase testZeroOrMoreAfterBranching:982 — kleene subsets after an AnyOne branch") {
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (5, 4, "f"),
      (6, 5, "d"), (7, 6, "d"), (8, 7, "e"))
    val got = matches(df, Seq(Step("S", "c"), Step("B", "a", AnyOne),
      Step("F", "f", AnyOne),
      Step("K", "d", LoopAny(1, Int.MaxValue, zeroOk = true, entryAny = true)),
      Step("E", "e")))
    val ksubs = Seq(Seq(), Seq(5), Seq(6), Seq(5, 6))
    val want = (for (b <- Seq(2, 3); k <- ksubs) yield
      ((Seq(1, b, 4) ++ k ++ Seq(7)).mkString(","), s"K:${k.size}")).toSet
    assert(got == want, got)
  }

  test("NFAITCase testStartAndEndWithZeroOrMore:1981 — loop-only relaxed pattern, tied-ts noise") {
    // a+ (optional) as the whole pattern; three 'd' noise events share
    // ts 6 (the reference feeds end1/end2/end3 all at 6)
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (5, 4, "a"),
      (6, 5, "d"), (6, 6, "d"), (6, 7, "d"))
    val got = matches(df, Seq(Step("S", "a", ZeroOrMore())))
    val want = Set(("2", "S:1"), ("2", "S:2"), ("2", "S:3"),
      ("3", "S:1"), ("3", "S:2"), ("4", "S:1"))
    assert(got == want, got)
  }

  test("NFAITCase testTimesNonStrictOptional1:2131 — times(3).optional() binds nothing cleanly") {
    val df = evT((1, 1, "c"), (2, 2, "f"), (7, 3, "b"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", Times(3, zeroOk = true)), Step("E", "b")))
    assert(got == Set(("1,3", "")), got)
  }

  test("NFAITCase testTimesNonStrictOptional2:2186 — ANY-entry pairs + the empty branch") {
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 2, zeroOk = true, entryAny = true)),
      Step("E", "b")))
    assert(got == Set(("1,3,5,7", "M:2"), ("1,3,6,7", "M:2"),
      ("1,5,6,7", "M:2"), ("1,7", "M:0")), got)
  }

  test("NFAITCase testTimesNonStrictOptional3:2261 — ANY-entry successive pairs (no combinations)") {
    // followedByAny(a).times(2).optional() WITHOUT allowCombinations:
    // the entry branches on every 'a', the interior binds the
    // successive pair from it — (m1,m2), (m2,m3), and the empty branch
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(Times(2, zeroOk = true))), Step("E", "b")))
    assert(got == Set(("1,3,5,7", "M:2"), ("1,5,6,7", "M:2"),
      ("1,7", "M:0")), got)
  }

  test("NFAITCase testBranchingPatternMixedFollowedBy:3508 — Any, One, Any composition") {
    val df = evT((1, 1, "s"), (3, 2, "m"), (4, 3, "m"), (5, 4, "m"),
      (6, 5, "n"), (7, 6, "n"), (8, 7, "e"))
    val got = matches(df, Seq(Step("S", "s"), Step("M", "m", AnyOne),
      Step("N", "n"), Step("E", "e", AnyOne)))
    assert(got == Set(("1,2,5,7", ""), ("1,3,5,7", ""), ("1,4,5,7", "")),
      got)
  }

  test("NFAITCase testMultipleTakesVersionCollision:3588 — two adjacent ANY loops, exact multiset") {
    // c, a×5, b; a+(comb) followedBy a+(comb) followedBy b: the
    // reference's 20 matches arrive as a MULTISET (different loop
    // splits flatten to the same event list); our (chain, counts)
    // pairs are split-distinct, so the flattened-chain multiset must
    // equal the reference's list exactly.
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (5, 4, "a"),
      (6, 5, "a"), (7, 6, "a"), (10, 7, "b"))
    val rows = PatternNFA.run(spark, df, Pattern(Seq(Step("S", "c"),
        Step("M1", "a", LoopAny(1, Int.MaxValue)),
        Step("M2", "a", LoopAny(1, Int.MaxValue)),
        Step("E", "b")), W, NoSkip))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
    assert(rows.length == rows.distinct.length, "splits must be counts-distinct")
    val gotMultiset = rows.groupBy(_._1).view.mapValues(_.length).toMap
    val want = Map(
      "1,2,3,4,5,6,7" -> 4, "1,2,3,4,5,7" -> 3, "1,2,4,5,6,7" -> 2,
      "1,2,3,4,6,7" -> 2, "1,2,3,5,6,7" -> 2, "1,2,3,4,7" -> 2,
      "1,2,4,5,7" -> 1, "1,2,5,6,7" -> 1, "1,2,3,5,7" -> 1,
      "1,2,3,6,7" -> 1, "1,2,3,7" -> 1)
    assert(gotMultiset == want, gotMultiset)
  }

  test("NFAITCase *ClearingBuffer quartet:3180-3430 — WITHIN-8 match sets + post-expiry timeout digests") {
    // The reference quartet asserts the partial-match buffer is pruned
    // to the bare start state after advanceTime past the window. The
    // observable twin here: (a) the match each pattern emits inside
    // WITHIN 8, (b) with the end event REMOVED, the timeout digest
    // emits exactly the pruned partial, once per anchor — the content
    // the buffer held when the window expired.
    val W8 = 8L * 1000000L
    // times: c next(a).times(2) followedBy b (feeds 1,2,3,4,6)
    val dtimes = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "a"), (4, 4, "a"),
      (6, 5, "b"))
    val timesSteps = Seq(Step("S", "c"),
      Step("M", "a", NextEntry(Times(2))), Step("E", "b"))
    assert(matches(dtimes, timesSteps) == Set(("1,2,3,5", "")))
    val dtimesCut = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "a"), (4, 4, "a"))
    val tmo1 = PatternNFA.run(spark, dtimesCut, Pattern(timesSteps, W8), Timeouts)
      .collect().map(r => (r.getAs[Long]("anchor_id"),
        r.getAs[String]("chain"), r.getAs[Int]("n_bound"))).toSet
    assert(tmo1 == Set((1L, "1,2,3", 2)), tmo1)
    // optional: c a? b (feeds 1,5,6)
    val dopt = evT((1, 1, "c"), (5, 2, "a"), (6, 3, "b"))
    val optSteps = Seq(Step("S", "c"), Step("M", "a", Optional),
      Step("E", "b"))
    assert(matches(dopt, optSteps) == Set(("1,2,3", ""), ("1,3", "")))
    val tmo2 = PatternNFA.run(spark, evT((1, 1, "c"), (5, 2, "a")), Pattern(optSteps, W8), Timeouts)
      .collect().map(r => (r.getAs[Long]("anchor_id"),
        r.getAs[String]("chain"), r.getAs[Int]("n_bound"))).toSet
    assert(tmo2 == Set((1L, "1,2", 2)), tmo2)
    // atLeastOne / zeroOrMore (allowCombinations): c a+(comb) b and
    // c a*(comb) b (feeds 1,3,4,6)
    val dloop = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (6, 4, "b"))
    val got1 = matches(dloop, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue)), Step("E", "b")))
    assert(got1 == Set(("1,2,4", "M:1"), ("1,2,3,4", "M:2")), got1)
    val got0 = matches(dloop, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, zeroOk = true)),
      Step("E", "b")))
    assert(got0 == Set(("1,4", "M:0"), ("1,2,4", "M:1"),
      ("1,2,3,4", "M:2")), got0)
    val tmo3 = PatternNFA.run(spark, evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a")),
        Pattern(Seq(Step("S", "c"), Step("M", "a", LoopAny(1, Int.MaxValue)),
          Step("E", "b")), W8), Timeouts)
      .collect().map(r => (r.getAs[Long]("anchor_id"),
        r.getAs[String]("chain"), r.getAs[Int]("n_bound"))).toSet
    assert(tmo3 == Set((1L, "1,2,3", 2)), tmo3)
  }

  test("NFAITCase testAnyWithNoConditionNFA:150 — condition-less followedByAny emits every ordered pair") {
    import org.apache.spark.sql.functions.lit
    val df = ev(1 -> "x", 2 -> "x", 3 -> "x", 4 -> "x", 5 -> "x")
    val preds = Seq("S" -> lit(true), "E" -> lit(true))
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("S", "S"), Step("E", "E", AnyOne)), W, NoSkip, preds = preds))
      .collect().map(_.getAs[String]("chain")).toSet
    val want = (for (i <- 1 to 4; j <- (i + 1) to 5) yield s"$i,$j").toSet
    assert(got == want, got)
  }

  test("NFAITCase testZeroOrMoreAfterZeroOrMore:898 — two adjacent optional ANY loops") {
    // c a d d e; a*(comb, ANY entry) then d*(comb, committed entry):
    // the d-subsets must start at the EARLIEST d (entry commits under
    // followedBy), so {d2} alone never appears — exactly the
    // reference's 6 matches.
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "d"), (5, 4, "d"),
      (6, 5, "e"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M1", "a", LoopAny(1, Int.MaxValue, zeroOk = true, entryAny = true)),
      Step("M2", "d", LoopAny(1, Int.MaxValue, zeroOk = true)),
      Step("E", "e")))
    val want = Set(
      ("1,2,3,4,5", "M1:1,M2:2"), ("1,2,3,5", "M1:1,M2:1"),
      ("1,3,4,5", "M1:0,M2:2"), ("1,3,5", "M1:0,M2:1"),
      ("1,2,5", "M1:1,M2:0"), ("1,5", "M1:0,M2:0"))
    assert(got == want, got)
  }

  test("NFAITCase testStrictContinuityNoResultsAfterZeroOrMore:1081 — next() after a loop finds no adjacency") {
    val df = ev(1 -> "d", 2 -> "a", 3 -> "a", 4 -> "c", 5 -> "b")
    val got = matches(df, Seq(Step("S", "d"),
      Step("M", "a", ZeroOrMore()), Step("E", "b", Next)))
    assert(got.isEmpty, got)
  }

  test("NFAITCase testStrictContinuityResultsAfterZeroOrMore:1141 — next() after an ANY loop keeps adjacent subsets") {
    val df = ev(1 -> "d", 2 -> "a", 3 -> "a", 4 -> "b")
    val got = matches(df, Seq(Step("S", "d"),
      Step("M", "a", LoopAny(1, Int.MaxValue, zeroOk = true, entryAny = true)),
      Step("E", "b", Next)))
    assert(got == Set(("1,2,3,4", "M:2"), ("1,3,4", "M:1")), got)
  }

  test("NFAITCase testAtLeastOne:1204 — ANY-entry ANY-interior 1+") {
    val df = ev(1 -> "c", 3 -> "a", 4 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, entryAny = true)),
      Step("E", "b", AnyOne)))
    assert(got == Set(("1,3,4,6", "M:2"), ("1,3,6", "M:1"),
      ("1,4,6", "M:1")), got)
  }

  test("NFAITCase testAtLeastOneEager:1387 — ANY-entry relaxed 1+ emits prefixes per entry") {
    val df = ev(1 -> "c", 3 -> "a", 4 -> "a", 5 -> "a", 6 -> "b")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(OneOrMore())), Step("E", "b", AnyOne)))
    val want = Set(
      ("1,3,4,5,6", "M:3"), ("1,3,4,6", "M:2"), ("1,3,6", "M:1"),
      ("1,4,5,6", "M:2"), ("1,4,6", "M:1"), ("1,5,6", "M:1"))
    assert(got == want, got)
  }

  test("NFAITCase testTimesNotStrictWithFollowedBy{Eager:1697,NotEager:1757} — committed vs ANY pairs") {
    val df = evT((1, 1, "c"), (2, 2, "a"), (4, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    // eager (followedBy, no combinations): the earliest pair only
    val eager = matches(df, Seq(Step("S", "c"), Step("M", "a", Times(2)),
      Step("E", "b")))
    assert(eager == Set(("1,2,3,5", "")), eager)
    // not-eager (followedByAny + allowCombinations): all three pairs
    val any = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 2, entryAny = true)), Step("E", "b")))
    assert(any == Set(("1,2,3,5", "M:2"), ("1,2,4,5", "M:2"),
      ("1,3,4,5", "M:2")), any)
  }

  test("NFAITCase testEndWithOptional:2031 / testEndWithOneOrMore:2077 — trailing optional and loop") {
    val opt = matches(ev(1 -> "c", 3 -> "a"),
      Seq(Step("S", "c"), Step("M", "a", Optional)))
    assert(opt == Set(("1,3", ""), ("1", "")), opt)
    val loop = matches(ev(1 -> "c", 3 -> "a", 4 -> "a", 5 -> "a"),
      Seq(Step("S", "c"), Step("M", "a", OneOrMore())))
    assert(loop == (1 to 3).map(k => ("1,3", s"M:$k")).toSet, loop)
  }

  test("NFAITCase testTimesStrictOptional:2330 / testOneOrMoreStrictOptional:2395 — ANY-entry consecutive + optional") {
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    // times(2).consecutive().optional() via followedByAny: only the
    // adjacent pair (m2, m3) qualifies, plus the empty branch
    val t2 = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(Times(2, consecutive = true, zeroOk = true))),
      Step("E", "b")))
    assert(t2 == Set(("1,5,6,7", "M:2"), ("1,7", "M:0")), t2)
    // oneOrMore().consecutive().optional(): every entry's adjacent
    // run prefixes, plus the empty branch
    val o1 = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(ZeroOrMore(consecutive = true))),
      Step("E", "b")))
    assert(o1 == Set(("1,3,7", "M:1"), ("1,5,7", "M:1"),
      ("1,5,6,7", "M:2"), ("1,6,7", "M:1"), ("1,7", "M:0")), o1)
  }

  test("NFAITCase testTimesStrictOptional1:2472 — next()-entry consecutive pair + the empty branch") {
    val df = evT((1, 1, "c"), (3, 2, "a"), (5, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", NextEntry(Times(2, consecutive = true, zeroOk = true))),
      Step("E", "b")))
    assert(got == Set(("1,2,3,5", ""), ("1,5", "")), got)
  }

  test("NFAITCase testBranchingPatternSkipTillNext:3430 — followedBy commits inside a branching pattern") {
    val df = ev(1 -> "s", 3 -> "m", 4 -> "m", 5 -> "m", 6 -> "n",
      7 -> "n", 8 -> "e")
    val got = matches(df, Seq(Step("S", "s"), Step("M", "m"),
      Step("N", "n"), Step("E", "e", AnyOne)))
    // one match: the committed earliest middle (m@3) and next-one (n@6)
    assert(got == Set(("1,3,6,8", "")), got)
  }

  // ---- TimesOrMoreITCase (r13 — all 11 tests; {n,} across every
  // entry relation × interior × optional combination) ----

  test("TimesOrMoreITCase testTimesOrMore / NotStrictWithFollowedBy{,Any}") {
    // committed-entry ANY interior: subsets >= 2 from the earliest a
    val d1 = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "a"), (4, 4, "a"),
      (6, 5, "b"))
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, Int.MaxValue)), Step("E", "b")))
    assert(g1 == Set(("1,2,3,4,5", "M:3"), ("1,2,3,5", "M:2"),
      ("1,2,4,5", "M:2")), g1)
    // plain {2,} via followedBy: successive k = 2, 3 (absorb door)
    val d2 = evT((1, 1, "c"), (2, 2, "a"), (4, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    val g2 = matches(d2, Seq(Step("S", "c"),
      Step("M", "a", TimesOrMore(2)), Step("E", "b")))
    assert(g2 == Set(("1,2,5", "M:2"), ("1,2,5", "M:3")), g2)
    // followedByAny + combinations: every subset >= 2 from every entry
    val g3 = matches(d2, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, Int.MaxValue, entryAny = true)),
      Step("E", "b")))
    assert(g3 == Set(("1,2,3,4,5", "M:3"), ("1,2,3,5", "M:2"),
      ("1,2,4,5", "M:2"), ("1,3,4,5", "M:2")), g3)
  }

  test("TimesOrMoreITCase testTimesOrMore{NonStrict,Strict,StrictOptional}") {
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    // followedByAny {2,} combinations: subsets >= 2, every entry
    val non = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, Int.MaxValue, entryAny = true)),
      Step("E", "b")))
    assert(non == Set(("1,3,5,7", "M:2"), ("1,3,6,7", "M:2"),
      ("1,3,5,6,7", "M:3"), ("1,5,6,7", "M:2")), non)
    // followedByAny times(2).consecutive(): only the adjacent pair
    val strict = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(Times(2, consecutive = true))),
      Step("E", "b")))
    assert(strict == Set(("1,5,6,7", "M:2")), strict)
    // followedByAny {2,}.consecutive().optional(): the adjacent run
    // >= 2 plus the empty branch
    val opt = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(TimesOrMore(2, consecutive = true,
        zeroOk = true))),
      Step("E", "b")))
    assert(opt == Set(("1,5,6,7", "M:2"), ("1,7", "M:0")), opt)
  }

  test("TimesOrMoreITCase testTimesOrMore{StrictOptional2,NonStrictOptional,NonStrictOptional2,NonStrictOptional3,NonStrictWithNext}") {
    // next-entry {2,}.consecutive().optional(): adjacent run prefixes
    // >= 2 from the adjacent entry, plus the empty branch
    val d1 = evT((1, 1, "c"), (3, 2, "a"), (5, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", NextEntry(TimesOrMore(2, consecutive = true,
        zeroOk = true))),
      Step("E", "b")))
    assert(g1 == Set(("1,2,5", "M:2"), ("1,2,5", "M:3"),
      ("1,5", "M:0")), g1)
    // followedBy {2,}.optional() with NO loop events: the empty branch
    val d2 = evT((1, 1, "c"), (2, 2, "f"), (7, 3, "b"))
    val g2 = matches(d2, Seq(Step("S", "c"),
      Step("M", "a", TimesOrMore(2, zeroOk = true)), Step("E", "b")))
    assert(g2 == Set(("1,3", "M:0")), g2)
    // followedByAny + combinations + optional
    val d3 = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    val g3 = matches(d3, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, Int.MaxValue, zeroOk = true,
        entryAny = true)),
      Step("E", "b")))
    assert(g3 == Set(("1,3,5,7", "M:2"), ("1,3,6,7", "M:2"),
      ("1,3,5,6,7", "M:3"), ("1,5,6,7", "M:2"), ("1,7", "M:0")), g3)
    // followedByAny (no combinations) + optional: successive runs
    // >= 2 per entry, plus the empty branch
    val g4 = matches(d3, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(TimesOrMore(2, zeroOk = true))),
      Step("E", "b")))
    assert(g4 == Set(("1,3,5,7", "M:2"), ("1,3,5,6,7", "M:3"),
      ("1,5,6,7", "M:2"), ("1,7", "M:0")), g4)
    // next-entry {2,} combinations: adjacent entry, ANY interior
    val d5 = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "f"), (4, 4, "a"),
      (5, 5, "f"), (6, 6, "a"), (7, 7, "b"))
    val g5 = matches(d5, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, Int.MaxValue, entryNext = true)),
      Step("E", "b")))
    assert(g5 == Set(("1,2,4,7", "M:2"), ("1,2,6,7", "M:2"),
      ("1,2,4,6,7", "M:3")), g5)
  }

  // ---- TimesRangeITCase (r13 — all 12 tests; times(lo, hi) across
  // the same relation × interior × optional grid) ----

  test("TimesRangeITCase testTimesRange / FromZero / NonStrictWithNext (next-entry ANY ranges)") {
    val d1 = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "a"), (4, 4, "a"),
      (6, 5, "b"))
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, 3, entryNext = true)), Step("E", "b")))
    assert(g1 == Set(("1,2,3,4,5", "M:3"), ("1,2,3,5", "M:2"),
      ("1,2,4,5", "M:2"), ("1,2,5", "M:1")), g1)
    val g2 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, 2, zeroOk = true, entryNext = true)),
      Step("E", "b")))
    assert(g2 == Set(("1,2,3,5", "M:2"), ("1,2,4,5", "M:2"),
      ("1,2,5", "M:1"), ("1,5", "M:0")), g2)
    val d3 = evT((1, 1, "c"), (2, 2, "a"), (3, 3, "f"), (4, 4, "a"),
      (5, 5, "f"), (6, 6, "a"), (7, 7, "b"))
    val g3 = matches(d3, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 3, entryNext = true)), Step("E", "b")))
    assert(g3 == Set(("1,2,4,6,7", "M:3"), ("1,2,4,7", "M:2"),
      ("1,2,6,7", "M:2")), g3)
  }

  test("TimesRangeITCase testTimesRange{NonStrict,Strict,StrictOptional,StrictOptional1}") {
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    // followedByAny times(1,3) combinations: subsets 1..3, every entry
    val non = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, 3, entryAny = true)), Step("E", "b")))
    assert(non == Set(("1,3,7", "M:1"), ("1,3,5,7", "M:2"),
      ("1,3,6,7", "M:2"), ("1,3,5,6,7", "M:3"), ("1,5,7", "M:1"),
      ("1,5,6,7", "M:2"), ("1,6,7", "M:1")), non)
    // followedByAny times(0,3).consecutive(): adjacent runs 1..3 per
    // entry + the empty branch
    val strict = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(TimesRange(0, 3, consecutive = true))),
      Step("E", "b")))
    val wantStrict = Set(("1,3,7", "M:1"), ("1,5,7", "M:1"),
      ("1,5,6,7", "M:2"), ("1,6,7", "M:1"), ("1,7", "M:0"))
    assert(strict == wantStrict, strict)
    // times(1,3).consecutive().optional() — same set (0 or 1..3)
    val opt = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(TimesRange(1, 3, consecutive = true,
        zeroOk = true))),
      Step("E", "b")))
    assert(opt == wantStrict, opt)
    // next-entry times(1,3).consecutive().optional()
    val d1 = evT((1, 1, "c"), (3, 2, "a"), (5, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", NextEntry(TimesRange(1, 3, consecutive = true,
        zeroOk = true))),
      Step("E", "b")))
    assert(g1 == Set(("1,2,3,4,5", ""), ("1,2,3,5", ""), ("1,2,5", ""),
      ("1,5", "")), g1)
  }

  test("TimesRangeITCase testTimesRangeNonStrictOptional{1,2,3} / NotStrictWithFollowedBy{,Any}") {
    // followedBy times(1,3).optional() with no loop events
    val d1 = evT((1, 1, "c"), (2, 2, "f"), (7, 3, "b"))
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", TimesRange(1, 3, zeroOk = true)), Step("E", "b")))
    assert(g1 == Set(("1,3", "")), g1)
    val df = evT((1, 1, "c"), (2, 2, "f"), (3, 3, "a"), (4, 4, "f"),
      (5, 5, "a"), (6, 6, "a"), (7, 7, "b"))
    // followedByAny times(2,3) combinations optional
    val g2 = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 3, zeroOk = true, entryAny = true)),
      Step("E", "b")))
    assert(g2 == Set(("1,3,5,6,7", "M:3"), ("1,3,5,7", "M:2"),
      ("1,3,6,7", "M:2"), ("1,5,6,7", "M:2"), ("1,7", "M:0")), g2)
    // followedByAny times(2,3).optional() (no combinations):
    // successive runs of 2..3 per entry + the empty branch — {0, 2, 3},
    // never 1
    val g3 = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(TimesRange(2, 3, zeroOk = true))),
      Step("E", "b")))
    assert(g3 == Set(("1,3,5,6,7", "M:3"), ("1,3,5,7", "M:2"),
      ("1,5,6,7", "M:2"), ("1,7", "M:0")), g3)
    // plain followedBy times(2,3): successive k = 2 and 3
    val d4 = evT((1, 1, "c"), (2, 2, "a"), (4, 3, "a"), (6, 4, "a"),
      (7, 5, "b"))
    val g4 = matches(d4, Seq(Step("S", "c"),
      Step("M", "a", TimesRange(2, 3)), Step("E", "b")))
    assert(g4 == Set(("1,2,3,5", ""), ("1,2,3,4,5", "")), g4)
    // followedByAny + combinations
    val g5 = matches(d4, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(2, 3, entryAny = true)), Step("E", "b")))
    assert(g5 == Set(("1,2,3,4,5", "M:3"), ("1,2,3,5", "M:2"),
      ("1,2,4,5", "M:2"), ("1,3,4,5", "M:2")), g5)
  }

  // ---- GreedyITCase (r13 — all 17 tests; Pattern.greedy():
  // NFACompiler.updateWithGreedyCondition removes the PROCEED edge
  // while the take condition holds, so a non-trailing greedy loop
  // yields the single MAXIMAL run and a trailing one emits every
  // extent — each prefix completed before the next take) ----

  test("GreedyITCase testGreedy{Zero,One}OrMore / InBetween / DummyEvents{After,Before}Quantifier") {
    val steps0 = Seq(Step("S", "c"), Step("M", "a", Greedy(ZeroOrMore())),
      Step("E", "d"))
    val steps1 = Seq(Step("S", "c"), Step("M", "a", Greedy(OneOrMore())),
      Step("E", "d"))
    // plain: maximal run, NO shorter extents (the non-greedy door
    // would emit M:1..3)
    val d1 = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "a", 5 -> "d")
    assert(matches(d1, steps0) == Set(("1,2,5", "M:3")))
    assert(matches(d1, steps1) == Set(("1,2,5", "M:3")))
    // interleaved noise: the relaxed run skips it
    val d2 = ev(1 -> "c", 2 -> "x", 3 -> "a", 4 -> "x", 5 -> "a",
      6 -> "x", 7 -> "a", 8 -> "d")
    assert(matches(d2, steps0) == Set(("1,3,8", "M:3")))
    assert(matches(d2, steps1) == Set(("1,3,8", "M:3")))
    // noise after the loop events
    val d3 = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "x", 5 -> "d")
    assert(matches(d3, steps0) == Set(("1,2,5", "M:2")))
    assert(matches(d3, steps1) == Set(("1,2,5", "M:2")))
    // no loop event at all: zero branch for 0+, nothing for 1+
    val d4 = ev(1 -> "c", 2 -> "x", 3 -> "d")
    assert(matches(d4, steps0) == Set(("1,3", "M:0")))
    assert(matches(d4, steps1).isEmpty)
  }

  test("GreedyITCase testGreedyUntil{Zero,One}OrMoreWithDummyEvents{After,Before}Quantifier") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // the reference's until condition is price == 5.0 and the
    // breaking event ALSO matches the loop's where (name 'a') — the
    // predicates door reproduces the overlapping bits exactly
    def run(rows: Seq[(Long, Long, String, Double)], inner: Quant) = {
      val df = rows.map { case (ts, id, k, p) => (0L, ts, id, k, p) }
        .toDF("key", "tsMicros", "id", "kind", "price")
      val preds = Seq("S" -> (col("kind") === "c"),
        "M" -> (col("kind") === "a"), "U" -> (col("price") === 5.0),
        "E" -> (col("kind") === "d"))
      PatternNFA.run(spark, df,
          Pattern(Seq(Step("S", "S"), Step("M", "M", Greedy(inner)),
            Step("E", "E")), W, NoSkip, preds = preds))
        .collect().map(r => (r.getAs[String]("chain"),
          r.getAs[String]("counts"))).toSet
    }
    // breaking AFTER the loop events: the run stops before it
    val after = Seq((1L, 1L, "c", 1.0), (2L, 2L, "a", 2.0),
      (3L, 3L, "a", 3.0), (4L, 4L, "a", 4.0), (5L, 5L, "a", 5.0),
      (6L, 6L, "d", 6.0))
    assert(run(after, ZeroOrMore(untilKind = Some("U"))) ==
      Set(("1,2,6", "M:3")))
    assert(run(after, OneOrMore(untilKind = Some("U"))) ==
      Set(("1,2,6", "M:3")))
    // breaking BEFORE the loop events: the stop fires first — no
    // entry ever; zero branch for 0+, nothing for 1+
    val before = Seq((1L, 1L, "c", 1.0), (2L, 2L, "a", 5.0),
      (3L, 3L, "a", 2.0), (4L, 4L, "a", 3.0), (5L, 5L, "a", 4.0),
      (6L, 6L, "d", 6.0))
    assert(run(before, ZeroOrMore(untilKind = Some("U"))) ==
      Set(("1,6", "M:0")))
    assert(run(before, OneOrMore(untilKind = Some("U"))).isEmpty)
  }

  test("GreedyITCase testGreedyZeroOrMoreBeforeGroupPattern:836 — greedy loop feeding a group") {
    val df = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "x", 5 -> "a",
      6 -> "d", 7 -> "e", 8 -> "d", 9 -> "e", 10 -> "f")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", Greedy(ZeroOrMore())),
      Step("G", "", GroupTimes(Seq(Step("D", "d"), Step("Ee", "e")), 2, 2)),
      Step("E", "f")))
    assert(got == Set(("1,2,6,7,8,9,10", "M:3,G:2")), got)
  }

  test("GreedyITCase testEndWith{ZeroOrMoreGreedy,ZeroOrMoreConsecutiveGreedy,GreedyTimesRange} — trailing greedy emits every extent") {
    val d1 = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "x", 5 -> "a")
    val g1 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", Greedy(ZeroOrMore()))))
    assert(g1 == Set(("1", "M:0"), ("1,2", "M:1"), ("1,2", "M:2"),
      ("1,2", "M:3")), g1)
    val g2 = matches(d1, Seq(Step("S", "c"),
      Step("M", "a", Greedy(ZeroOrMore(consecutive = true)))))
    assert(g2 == Set(("1", "M:0"), ("1,2", "M:1"), ("1,2", "M:2")), g2)
    val d3 = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "a", 5 -> "a",
      6 -> "x")
    val g3 = matches(d3, Seq(Step("S", "c"),
      Step("M", "a", Greedy(TimesRange(2, 5)))))
    assert(g3 == Set(("1,2,3", ""), ("1,2,3,4", ""),
      ("1,2,3,4,5", "")), g3)
  }

  test("GreedyITCase testGreedyTimesRange — non-trailing greedy range binds the maximal extent") {
    val df = ev(1 -> "c", 2 -> "a", 3 -> "a", 4 -> "a", 5 -> "a",
      6 -> "d")
    val got = matches(df, Seq(Step("S", "c"),
      Step("M", "a", Greedy(TimesRange(2, 5))), Step("E", "d")))
    assert(got == Set(("1,2,3,4,5,6", "")), got)
  }

  // ---- UntilConditionITCase (r13 — the until-stop family against
  // the reference's own vectors; the until condition becomes a kind
  // column like every other where(), and the reference's end step
  // REUSES the until condition, so the stop event binds E) ----

  test("UntilConditionITCase testUntilConditionFollowedBy{One,Zero}OrMore:55/305 — until stops the loop, the stop binds the next step") {
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (6, 4, "u"),
      (7, 5, "a"))
    val one = matches(df, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(untilKind = Some("u"))), Step("E", "u")))
    assert(one == Set(("1,2,4", "M:1"), ("1,2,4", "M:2")), one)
    val zero = matches(df, Seq(Step("S", "c"),
      Step("M", "a", ZeroOrMore(untilKind = Some("u"))), Step("E", "u")))
    assert(zero == Set(("1,2,4", "M:1"), ("1,2,4", "M:2"),
      ("1,4", "M:0")), zero)
  }

  test("UntilConditionITCase testUntilConditionFollowedBy{One,Zero}OrMoreCombinations:116/367 — until bounds ANY subsets") {
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (5, 4, "a"),
      (6, 5, "u"), (7, 6, "a"))
    val one = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, untilKind = Some("u"))),
      Step("E", "u")))
    val want = Set(("1,2,5", "M:1"), ("1,2,3,5", "M:2"),
      ("1,2,4,5", "M:2"), ("1,2,3,4,5", "M:3"))
    assert(one == want, one)
    val zero = matches(df, Seq(Step("S", "c"),
      Step("M", "a", LoopAny(1, Int.MaxValue, zeroOk = true,
        untilKind = Some("u"))),
      Step("E", "u")))
    assert(zero == want + (("1,5", "M:0")), zero)
  }

  test("UntilConditionITCase testUntilConditionFollowedBy{One,Zero}OrMoreConsecutive:182/435 + Consecutive2:243") {
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (7, 4, "u"),
      (8, 5, "a"))
    val one = matches(df, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(untilKind = Some("u"), consecutive = true)),
      Step("E", "u")))
    assert(one == Set(("1,2,4", "M:1"), ("1,2,4", "M:2")), one)
    val zero = matches(df, Seq(Step("S", "c"),
      Step("M", "a", ZeroOrMore(untilKind = Some("u"), consecutive = true)),
      Step("E", "u")))
    assert(zero == Set(("1,2,4", "M:1"), ("1,2,4", "M:2"),
      ("1,4", "M:0")), zero)
    // Consecutive2: a 'b' breaks the adjacent run after m1 — the
    // committed entry yields only the one-element run
    val df2 = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "b"), (5, 4, "a"),
      (7, 5, "u"), (8, 6, "a"))
    val got2 = matches(df2, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(untilKind = Some("u"), consecutive = true)),
      Step("E", "u")))
    assert(got2 == Set(("1,2,5", "M:1")), got2)
  }

  test("UntilConditionITCase testUntilConditionFollowedByAny{One,Zero}OrMore:498/553 — the stop bounds each run from its OWN entry") {
    // trailing followedByAny loop: middleEvent3 arrives AFTER the
    // breaking event and still anchors its own run (the reference's
    // [startEvent, middleEvent3] match) — the until is per-run, not a
    // global cut.
    val df = evT((1, 1, "c"), (3, 2, "a"), (4, 3, "a"), (6, 4, "u"),
      (7, 5, "a"))
    val one = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(OneOrMore(untilKind = Some("u"))))))
    val want = Set(("1,2", "M:1"), ("1,2,3", "M:2"), ("1,3", "M:1"),
      ("1,5", "M:1"))
    assert(one == want, one)
    val zero = matches(df, Seq(Step("S", "c"),
      Step("M", "a", AnyEntry(ZeroOrMore(untilKind = Some("u"))))))
    assert(zero == want + (("1", "M:0")), zero)
  }

  test("UntilConditionITCase testUntilConditionWithEmptyWhere:610 — condition-less loop bounded only by the stop") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // events carry a price column; the loop has NO where (lit(true))
    // so it absorbs a's AND the d — everything before the stop
    val df = Seq(
      (0L, 1000000L, 1L, "c", 1.0), (0L, 3000000L, 2L, "a", 2.0),
      (0L, 4000000L, 3L, "a", 3.0), (0L, 5000000L, 4L, "d", 1.0),
      (0L, 6000000L, 5L, "a", 5.0), (0L, 7000000L, 6L, "a", 6.0))
      .toDF("key", "tsMicros", "id", "kind", "price")
    val preds = Seq("S" -> (col("kind") === "c"), "M" -> lit(true),
      "U" -> (col("price") === 5.0))
    val got = PatternNFA.run(spark, df,
        Pattern(Seq(Step("S", "S"),
          Step("M", "M", OneOrMore(untilKind = Some("U")))), W, NoSkip, preds = preds))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet
    assert(got == Set(("1,2", "M:1"), ("1,2", "M:2"), ("1,2", "M:3")),
      got)
  }

  test("UntilConditionITCase testIterativeUntilCondition{One,Zero}OrMore:662/727 — running-aggregate stop over the partial match") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // start c(1.0)@1; middle loop has NO where (lit(true)) and an
    // ITERATIVE until: SUM of the prices bound to middle SO FAR
    // == 6.0, evaluated pre-take (ctx.getEventsForPattern sees only
    // already-bound events). m1(2.0)@3, m2(3.0)@4, m3(1.0)@5 bind
    // (sums seen: 0, 2, 5); breaking(5.0)@6 sees sum 6 → the stop
    // fires and the run terminates — ignored(6.0)@7 never binds.
    // (SUM over the empty run is SQL NULL here vs the reference's
    // 0.0 — comparisons with NULL are false either way for == 6.0.)
    val df = Seq(
      (0L, 1000000L, 1L, "c", 1.0), (0L, 3000000L, 2L, "a", 2.0),
      (0L, 4000000L, 3L, "a", 3.0), (0L, 5000000L, 4L, "d", 1.0),
      (0L, 6000000L, 5L, "a", 5.0), (0L, 7000000L, 6L, "a", 6.0))
      .toDF("key", "tsMicros", "id", "kind", "price")
    val preds = Seq("S" -> (col("kind") === "c"), "M" -> lit(true))
    val stop = Seq(CtxCmp("=",
      NavExpr.VarAgg("SUM", Seq("M"), NavExpr.Cur(0)), NavExpr.Lit(6.0)))
    def got(q: Quant): Set[(String, String)] =
      PatternNFA.run(spark, df,
          Pattern(Seq(Step("S", "S"), Step("M", "M", q)), W, NoSkip,
            preds = preds,
            navCols = Seq("price"),
            untilCtx = Map("M" -> stop)))
        .collect().map(r => (r.getAs[String]("chain"),
          r.getAs[String]("counts"))).toSet
    val one = got(OneOrMore())
    assert(one == Set(("1,2", "M:1"), ("1,2", "M:2"), ("1,2", "M:3")),
      one)
    val zero = got(ZeroOrMore())
    assert(zero == Set(("1,2", "M:1"), ("1,2", "M:2"), ("1,2", "M:3"),
      ("1", "M:0")), zero)
  }

  // ---- IterativeConditionsITCase (r14 — iterative WHERE conditions
  // over the partial match, flink-cep/.../nfa/
  // IterativeConditionsITCase.java; the reference harness's
  // comparePatterns sorts each match, so the expected lists are event
  // SETS — transcribed here as the engine's (chain, counts) pairs.
  // Conditions become CtxCmp running aggregates with the candidate
  // counting as the loop's latest binding (sum += value.getPrice()
  // in every reference condition). 7/7. ----

  private def evP(rows: (Int, Int, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (ts, id, k, p) =>
      (0L, ts.toLong * 1000000L, id.toLong, k, p) }
      .toDF("key", "tsMicros", "id", "kind", "price")
  }
  private def matchesCtx(df: DataFrame, steps: Seq[Step],
                         preds: Seq[(String, org.apache.spark.sql.Column)],
                         ctx: Map[String, Seq[CtxCmp]]): Set[(String, String)] =
    PatternNFA.run(spark, df, Pattern(steps, W, NoSkip,
      preds = preds,
      navCols = Seq("price"),
      ctx = ctx))
      .collect().map(r => (r.getAs[String]("chain"),
        r.getAs[String]("counts"))).toSet
  private def kindIs(pairs: (String, String)*): Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.col
    pairs.map { case (v, k) => v -> (col("kind") === k) }
  }
  /** sum(bound-to-v so far, candidate included) `op` `lim` — every
    * IterativeConditionsITCase condition is this shape. */
  private def sumCond(v: String, op: String, lim: Double): Map[String, Seq[CtxCmp]] =
    Map(v -> Seq(CtxCmp(op,
      NavExpr.VarAgg("SUM", Seq(v), NavExpr.Cur(0)), NavExpr.Lit(lim))))

  test("IterativeConditionsITCase testIterativeWithBranchingPattern{Eager:58,Combinations:73}") {
    // s1(1.0)@1, foo1(1.0)@2, foo2(2.0)@3, s2(3.0)@4, foo3(3.0)@5,
    // foo4(1.0)@5 (TIED ts), next@6, end@8; middle loop takes while
    // sum(bound)+cand < 5. Eager: foo3 fails (3+3=6) and is IGNORED —
    // the run continues to foo4 (3+1=4), the reference's relaxed
    // ignore edge on a failing iterative take.
    val df = evP((1, 1, "start", 1.0), (2, 2, "foo", 1.0),
      (3, 3, "foo", 2.0), (4, 4, "start", 3.0), (5, 5, "foo", 3.0),
      (5, 6, "foo", 1.0), (6, 7, "next", 1.0), (8, 8, "end", 1.0))
    val preds = kindIs("S" -> "start", "M" -> "foo", "E" -> "end")
    val eager = matchesCtx(df,
      Seq(Step("S", "S"), Step("M", "M", OneOrMore()), Step("E", "E")),
      preds, sumCond("M", "<", 5.0))
    assert(eager == Set(("1,2,8", "M:1"), ("1,2,8", "M:2"),
      ("1,2,8", "M:3"), ("4,5,8", "M:1"), ("4,5,8", "M:2")), eager)
    // allowCombinations: in-order SUBSETS, each take re-tested against
    // ITS run — {m1,m3} (1+3=4) and {m1,m4} live alongside the eager
    // prefixes; {m1,m3,m4} dies (4+1=5 not < 5)
    val comb = matchesCtx(df,
      Seq(Step("S", "S"), Step("M", "M", LoopAny(1, Int.MaxValue)),
        Step("E", "E")),
      preds, sumCond("M", "<", 5.0))
    assert(comb == Set(("1,2,8", "M:1"), ("1,2,3,8", "M:2"),
      ("1,2,5,8", "M:2"), ("1,2,6,8", "M:2"), ("1,2,3,6,8", "M:3"),
      ("4,5,8", "M:1"), ("4,5,6,8", "M:2")), comb)
  }

  test("IterativeConditionsITCase testIterativeWithLoopingStarting{Eager:182,Combination:196}") {
    // loop-FIRST zero-allowed head with an iterative condition:
    // start* (sum+cand < 5) then end. s1(1.0)@1, s2(2.0)@2,
    // s3(3.0)@3, end@4; the bare {end} match rides the empty-loop
    // anchor class.
    val df = evP((1, 1, "start", 1.0), (2, 2, "start", 2.0),
      (3, 3, "start", 3.0), (4, 4, "end", 1.0))
    val preds = kindIs("S" -> "start", "E" -> "end")
    val eager = matchesCtx(df,
      Seq(Step("S", "S", ZeroOrMore()), Step("E", "E")),
      preds, sumCond("S", "<", 5.0))
    assert(eager == Set(("1,4", "S:1"), ("1,4", "S:2"), ("2,4", "S:1"),
      ("3,4", "S:1"), ("4", "S:0")), eager)
    // combinations adds the {s1,s3} subset (1+3=4 < 5)
    val comb = matchesCtx(df,
      Seq(Step("S", "S", LoopAny(1, Int.MaxValue, zeroOk = true)),
        Step("E", "E")),
      preds, sumCond("S", "<", 5.0))
    assert(comb == Set(("1,4", "S:1"), ("1,2,4", "S:2"),
      ("1,3,4", "S:2"), ("2,4", "S:1"), ("3,4", "S:1"), ("4", "S:0")),
      comb)
  }

  test("IterativeConditionsITCase testIterativeWithPrevPatternDependency:283 — iterative condition on a LATER step over the loop's bindings") {
    // start+ then end where sum(start) >= 2 — the end candidate is
    // NOT a start binding, so the aggregate sees only the loop's rows
    // (rowsOf resolves a non-current step through acc). [s1] (sum 1)
    // fails; [s1,s2] (3) and [s2] (2) pass.
    val df = evP((1, 1, "start", 1.0), (2, 2, "start", 2.0),
      (4, 3, "end", 1.0))
    val got = matchesCtx(df,
      Seq(Step("S", "S", OneOrMore()), Step("E", "E")),
      kindIs("S" -> "start", "E" -> "end"), sumCond("E", ">=", 2.0)
        .map { case (k, v) => k -> v.map(c => c.copy(l =
          NavExpr.VarAgg("SUM", Seq("S"), NavExpr.Cur(0)))) })
    assert(got == Set(("1,3", "S:2"), ("2,3", "S:1")), got)
  }

  test("IterativeConditionsITCase testIterativeWithABACPattern:336 — ANY branch then an iterative loop over a REUSED underlying kind") {
    // A(start) B(foo, followedByAny) C(start, oneOrMore, sum+cand
    // <= 5) E(end): two variables (A, C) over the same underlying
    // kind; seven events share ts 2 (positional binding).
    val df = evP((1, 1, "start", 1.0), (2, 2, "foo", 1.0),
      (2, 3, "start", 2.0), (2, 4, "start", 3.0), (2, 5, "foo", 2.0),
      (2, 6, "start", 4.0), (2, 7, "foo", 3.0), (2, 8, "foo", 1.0),
      (4, 9, "end", 1.0))
    val preds = kindIs("A" -> "start", "B" -> "foo", "C" -> "start",
      "E" -> "end")
    val got = matchesCtx(df,
      Seq(Step("A", "A"), Step("B", "B", AnyOne),
        Step("C", "C", OneOrMore()), Step("E", "E")),
      preds, sumCond("C", "<=", 5.0))
    assert(got == Set(("1,2,3,9", "C:1"), ("1,2,3,9", "C:2"),
      ("1,5,6,9", "C:1"), ("3,5,6,9", "C:1"), ("4,5,6,9", "C:1")), got)
  }

  test("IterativeConditionsITCase testIterativeWithPrevPatternDependencyAfterBranching:425") {
    // start+ (loop-FIRST) then followedByAny foo then followedByAny
    // end with sum(start) >= 2: the [s1]-only runs die at the end
    // condition, every longer run branches per foo.
    val df = evP((1, 1, "start", 1.0), (2, 2, "start", 2.0),
      (4, 3, "foo", 1.0), (5, 4, "start", 3.0), (6, 5, "foo", 2.0),
      (7, 6, "end", 1.0))
    val got = matchesCtx(df,
      Seq(Step("S", "S", OneOrMore()), Step("B", "B", AnyOne),
        Step("E", "E", AnyOne)),
      kindIs("S" -> "start", "B" -> "foo", "E" -> "end"),
      Map("E" -> Seq(CtxCmp(">=",
        NavExpr.VarAgg("SUM", Seq("S"), NavExpr.Cur(0)),
        NavExpr.Lit(2.0)))))
    assert(got == Set(("1,3,6", "S:2"), ("2,3,6", "S:1"),
      ("1,5,6", "S:2"), ("1,5,6", "S:3"), ("2,5,6", "S:2"),
      ("2,5,6", "S:1"), ("4,5,6", "S:1")), got)
  }

  // NOT transcribed, with reasons: testNFAResultOrdering /
  // testNFAResultKeyOrdering assert the ORDER of the harness's
  // result-list collection — this engine emits DataFrame rows whose
  // chains are deterministic strings, compared as sets; ordering is a
  // SQL ORDER BY concern, pinned by the cep*/mr* oracle queries.
  // testSharedBufferClearing asserts internal SharedBuffer node
  // accounting — the observable twin (state pruned at window expiry)
  // is the ClearingBuffer-quartet vector above plus the bounded-state
  // streaming specs.

  test("per-branch timeouts for LOOP interiors (r13 — NFA.advanceTime over computation states)") {
    // A B+ C within 10 — the r12 VERDICT's Missing #2 shape. Semantics
    // derived from NFA.computeNextStates (NFA.java:573-706): each loop
    // take arms a ONE-SHOT proceed window; the first subsequent event
    // either proceed-takes (full match, leaves) or spawns the frozen
    // waiting-at-next sibling (ignore-after-PROCEED); relaxed waiting
    // states die on takes, survive non-matching events.
    val steps = Seq(Step("S", "s"), Step("M", "c", OneOrMore()),
      Step("E", "p"))
    val W10 = 10L * 1000000L
    def tmo(df: org.apache.spark.sql.DataFrame) =
      PatternNFA.run(spark, df, Pattern(steps, W10), BranchTimeouts)
        .collect().map(r => (r.getAs[String]("chain"),
          r.getAs[Int]("n_bound"), r.getAs[Long]("timeout_us"))).toSet
    // scenario 1: prefixes [a,c2] and [a,c2,c3] COMPLETE on p@5 (their
    // frozen siblings take it), so only the post-purchase extension
    // [a,c2,c3,c6] is live at expiry
    val s1 = evT((1, 1, "s"), (2, 2, "c"), (3, 3, "c"), (4, 4, "x"),
      (5, 5, "p"), (6, 6, "c"))
    assert(tmo(s1) == Set(("1,2,3,6", 2, 11000000L)), tmo(s1))
    // scenario 2: no purchase at all — every loop prefix is live
    // (frozen siblings for k < K, the active run for k = K; the
    // active/frozen pair at k = K dedups to one row)
    val s2 = evT((1, 1, "s"), (2, 2, "c"), (3, 3, "c"), (4, 4, "x"))
    assert(tmo(s2) == Set(("1,2", 2, 11000000L), ("1,2,3", 2, 11000000L)),
      tmo(s2))
    // scenario 3: no click — the bare anchor waits out its window
    val s3 = evT((1, 1, "s"), (2, 2, "x"))
    assert(tmo(s3) == Set(("1", 1, 11000000L)), tmo(s3))
    // scenario 4: zero-allowed loop (A B* C): the anchor's zero branch
    // fully matches on p@3, yet the anchor's own waiting state still
    // times out (match status never suppresses)
    val zsteps = Seq(Step("S", "s"), Step("M", "c", ZeroOrMore()),
      Step("E", "p"))
    val s4 = evT((1, 1, "s"), (2, 2, "x"), (3, 3, "p"))
    val full4 = PatternNFA.run(spark, s4, Pattern(zsteps, W10, NoSkip))
      .collect().map(_.getAs[String]("chain")).toSet
    assert(full4 == Set("1,3"), full4)
    val t4 = PatternNFA.run(spark, s4, Pattern(zsteps, W10), BranchTimeouts)
      .collect().map(r => (r.getAs[String]("chain"),
        r.getAs[Int]("n_bound"))).toSet
    assert(t4 == Set(("1", 1)), t4)
  }

  test("committed doors: consecutive loops bind the greedy adjacent run") {
    // the committed (SkipToNextRow) scan of the same testStrictOneOrMore
    // shape: one match per anchor, the full adjacent run
    val got = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(consecutive = true)), Step("E", "b")),
      am = SkipToNextRow)
    assert(got == Set(("1,3,8", "M:3")), got)
    // reluctant consecutive grows from the front instead
    val rel = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", OneOrMore(reluctant = true, consecutive = true)),
      Step("E", "b")), am = SkipToNextRow)
    assert(rel == Set(("1,3,8", "M:1")), rel)
    // timesOrMore(2).consecutive(): floor honored, greedy to the gap
    val t2 = matches(consecData, Seq(Step("S", "c"),
      Step("M", "a", TimesOrMore(2, consecutive = true)), Step("E", "b")),
      am = SkipToNextRow)
    assert(t2 == Set(("1,3,8", "M:3")), t2)
    // a gap directly after the only entry starves the 2-floor
    val starved = matches(ev(1 -> "c", 3 -> "a", 4 -> "d", 5 -> "a",
      6 -> "d", 7 -> "b"), Seq(Step("S", "c"),
      Step("M", "a", TimesOrMore(2, consecutive = true)), Step("E", "b")),
      am = SkipToNextRow)
    assert(starved.isEmpty, starved)
  }
}
