package graft

import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** NOT-pattern parity pinned to the REFERENCE'S OWN expected match
  * sets — vectors transcribed from flink-libraries/flink-cep/src/test/
  * java/org/apache/flink/cep/nfa/NotPatternITCase.java (line anchors
  * at each test; all 25 tests). Events feed at ts = position; the
  * reference harness's default NO SKIP throughout (feedNFA).
  *
  * The reference semantics these vectors pin, beyond the Not/NotNext
  * interval basics already oracle-gated by cep6/cep17:
  *  - STOP-STATE POISONING (NFA.doProcess:347-353 — reaching a stop
  *    state discards the WHOLE computation path, sibling branches
  *    included): a loop followed by notFollowedBy carries the stop on
  *    every interior state (NFACompiler.addStopStateToLooping), so it
  *    cannot skip an event matching the NOT condition after its FIRST
  *    take; followed by notNext, the pending PROCEED into the notNext
  *    state poisons from the loop's MIN-reach binding.
  *  - a NOT whose following steps bind NOTHING has an EMPTY interval
  *    — the match completed at the previous binding before any
  *    banned event could arrive (testNotFollowedByBeforeOptionalAtTheEnd).
  *
  * Documented divergence (no reference vector): a trailing notNext
  * with NO witness event after the last binding emits here (batch
  * retrospect — nothing adjacent, so nothing banned) where the
  * reference's NFA would hold the match pending a next event; the
  * only reference trailing-notNext vector (testNotNextNoMatchesAtTheEnd)
  * has a witness and both engines emit nothing.
  */
class NotPatternVectorsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark

  private val W = 3600000000L

  private def ev(kinds: String*): DataFrame = {
    import spark.implicits._
    kinds.zipWithIndex.map { case (k, i) =>
      (0L, (i + 1).toLong * 1000000L, (i + 1).toLong, k) }
      .toDF("key", "tsMicros", "id", "kind")
  }

  private def matches(df: DataFrame, steps: Seq[Step]): Set[(String, String)] =
    PatternNFA.run(spark, df, Pattern(steps, W, NoSkip))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet

  test("NotPatternITCase testNotNext:44 — notNext bans only the adjacent event") {
    val got = matches(ev("a", "c", "b", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", NotNext),
        Step("M", "c", AnyOne), Step("E", "d")))
    assert(got == Set(("1,2,5", ""), ("1,4,5", "")), got)
  }

  test("NotPatternITCase testNotNextNoMatches:116 — the adjacent ban kills the anchor") {
    val got = matches(ev("a", "b", "c", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", NotNext),
        Step("M", "c"), Step("E", "d")))
    assert(got.isEmpty, got)
  }

  test("NotPatternITCase testNotNextNoMatchesAtTheEnd:185 — trailing notNext with a banned witness") {
    val got = matches(ev("a", "c", "c", "d", "b"),
      Seq(Step("A", "a"), Step("M", "c", AnyOne),
        Step("E", "d", AnyOne), Step("N", "b", NotNext)))
    assert(got.isEmpty, got)
  }

  test("NotPatternITCase testNotFollowedBy:254 — the ban interval kills the later branch") {
    val got = matches(ev("a", "c", "b", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("M", "c", AnyOne), Step("E", "d")))
    assert(got == Set(("1,2,5", "")), got)
  }

  test("NotPatternITCase testNotFollowedByBeforeOptional:323 — the empty-optional branch inherits the ban") {
    val got = matches(ev("a", "c", "b", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("M", "c", Optional), Step("E", "d")))
    assert(got == Set(("1,2,5", "")), got)
  }

  test("NotPatternITCase testTimesWithNotFollowedBy:393 — a times loop cannot skip the banned kind (stop poisoning)") {
    // the pair (b@2, b@4) must skip c@3 — the interior state carries
    // the stop-on-c, so the path dies before the pair completes
    val got = matches(ev("a", "b", "c", "b", "d"),
      Seq(Step("A", "a"), Step("M", "b", AnyEntry(Times(2))),
        Step("N", "c", Not), Step("E", "d")))
    assert(got.isEmpty, got)
  }

  test("NotPatternITCase testIgnoreStateOfTimesWithNotFollowedBy:463 — the zero branch completes before the ban") {
    // feed order a, d1, e, b, c, c, d2: the optional pair's ZERO
    // branch binds end = d1 (earliest) with nothing banned before it
    val got = matches(ev("a", "d", "e", "b", "c", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("M", "c", AnyEntry(Times(2, zeroOk = true))), Step("E", "d")))
    assert(got == Set(("1,2", "M:0")), got)
  }

  test("NotPatternITCase testTimesWithNotFollowedByAfter:538 — the ban between the pair and the end kills it") {
    val got = matches(ev("a", "d", "e", "b", "b", "c", "d"),
      Seq(Step("A", "a"), Step("M", "b", AnyEntry(Times(2))),
        Step("N", "c", Not), Step("E", "d")))
    assert(got.isEmpty, got)
  }

  test("NotPatternITCase testNotFollowedByBeforeOptionalAtTheEnd:612 — the empty trailing branch completes INSTANTLY") {
    // (a1) alone is a match: the optional end proceeds to final AT a1,
    // before b@3 arrives — the not interval is empty, not to-horizon
    val got = matches(ev("a", "c", "b", "c"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("E", "c", Optional)))
    assert(got == Set(("1,2", ""), ("1", "")), got)
  }

  test("NotPatternITCase testNotFollowedByBeforeOptionalTimes:672 — the optional pair binds around the ban check") {
    val got = matches(ev("a", "c", "b", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("M", "c", AnyEntry(Times(2, zeroOk = true))), Step("E", "d")))
    assert(got == Set(("1,2,4,5", "M:2")), got)
  }

  test("NotPatternITCase testNotFollowedByWithBranchingAtStart:744 — only the clean later anchor survives") {
    val got = matches(ev("a", "b", "c", "a", "c", "d"),
      Seq(Step("A", "a"), Step("N", "b", Not),
        Step("M", "c"), Step("E", "d")))
    assert(got == Set(("4,5,6", "")), got)
  }

  test("NotPatternITCase testNotNextAfterOneOrMoreSkipTill{Next:829,Any:835} — pending-proceed poisoning from min-reach") {
    val df = ev("a", "b", "c", "b", "d")
    // followedBy entry: the committed run starts at b@2 — [b] dies on
    // the adjacent c, [b,b] dies crossing it (poison) → nothing
    val next = matches(df, Seq(Step("A", "a"),
      Step("B", "b", OneOrMore()), Step("N", "c", NotNext),
      Step("E", "d")))
    assert(next.isEmpty, next)
    // followedByAny entry: the b@4 run's adjacent event is d — alive
    val any = matches(df, Seq(Step("A", "a"),
      Step("B", "b", AnyEntry(OneOrMore())), Step("N", "c", NotNext),
      Step("E", "d")))
    assert(any == Set(("1,4,5", "B:1")), any)
  }

  // shared NotFollowByData feed: A b b b C b b b D (positions 1-9)
  private val nfData = ev("a", "b", "b", "b", "c", "b", "b", "b", "d")

  test("NotPatternITCase testNotFollowedByNextAfterOneOrMore{Eager:909,Combinations:945} — committed runs die crossing the ban") {
    val eager = matches(nfData, Seq(Step("A", "a"),
      Step("B", "b", OneOrMore()), Step("N", "c", Not), Step("E", "d")))
    assert(eager.isEmpty, eager)
    val comb = matches(nfData, Seq(Step("A", "a"),
      Step("B", "b", LoopAny(1, Int.MaxValue)), Step("N", "c", Not),
      Step("E", "d")))
    assert(comb.isEmpty, comb)
  }

  test("NotPatternITCase testNotFollowedByAnyAfterOneOrMoreEager:915 — only post-ban entries survive") {
    val got = matches(nfData, Seq(Step("A", "a"),
      Step("B", "b", AnyEntry(OneOrMore())), Step("N", "c", Not),
      Step("E", "d")))
    assert(got == Set(
      ("1,6,9", "B:1"), ("1,6,7,9", "B:2"), ("1,6,7,8,9", "B:3"),
      ("1,7,9", "B:1"), ("1,7,8,9", "B:2"), ("1,8,9", "B:1")), got)
  }

  test("NotPatternITCase testNotFollowedByAnyAfterOneOrMoreCombinations:951 — post-ban subsets survive") {
    val got = matches(nfData, Seq(Step("A", "a"),
      Step("B", "b", LoopAny(1, Int.MaxValue, entryAny = true)),
      Step("N", "c", Not), Step("E", "d")))
    assert(got == Set(
      ("1,6,9", "B:1"), ("1,6,7,9", "B:2"), ("1,6,8,9", "B:2"),
      ("1,6,7,8,9", "B:3"), ("1,7,9", "B:1"), ("1,7,8,9", "B:2"),
      ("1,8,9", "B:1")), got)
  }

  // "before" family feed: A b C b b b D (positions 1-7) — the ban sits
  // between the anchor and the loop's FIRST element only; the loop
  // interior freely skips the banned kind
  private val beforeData = ev("a", "b", "c", "b", "b", "b", "d")

  test("NotPatternITCase testNotFollowedByBeforeOneOrMore{Eager:1137,Combinations:1166}") {
    val eager = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not), Step("B", "b", OneOrMore()), Step("E", "d")))
    assert(eager == Set(("1,2,7", "B:1"), ("1,2,7", "B:2"),
      ("1,2,7", "B:3"), ("1,2,7", "B:4")), eager)
    val comb = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not), Step("B", "b", LoopAny(1, Int.MaxValue)),
      Step("E", "d")))
    assert(comb == Set(
      ("1,2,7", "B:1"), ("1,2,4,7", "B:2"), ("1,2,5,7", "B:2"),
      ("1,2,6,7", "B:2"), ("1,2,4,5,7", "B:3"), ("1,2,4,6,7", "B:3"),
      ("1,2,5,6,7", "B:3"), ("1,2,4,5,6,7", "B:4")), comb)
  }

  test("NotPatternITCase testNotFollowedByAnyBeforeOneOrMore{Eager:1057,Combinations:1086} — post-ban ANY entries die") {
    val eager = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not), Step("B", "b", AnyEntry(OneOrMore())),
      Step("E", "d")))
    assert(eager == Set(("1,2,7", "B:1"), ("1,2,4,7", "B:2"),
      ("1,2,4,5,7", "B:3"), ("1,2,4,5,6,7", "B:4")), eager)
    val comb = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not),
      Step("B", "b", LoopAny(1, Int.MaxValue, entryAny = true)),
      Step("E", "d")))
    assert(comb == Set(
      ("1,2,7", "B:1"), ("1,2,4,7", "B:2"), ("1,2,5,7", "B:2"),
      ("1,2,6,7", "B:2"), ("1,2,4,5,7", "B:3"), ("1,2,4,6,7", "B:3"),
      ("1,2,5,6,7", "B:3"), ("1,2,4,5,6,7", "B:4")), comb)
  }

  test("NotPatternITCase testNotFollowedByBeforeZeroOrMore{Eager:1287,Combinations:1315}SkipTillNext — the zero branch dies in the ban interval") {
    val eager = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not), Step("B", "b", ZeroOrMore()), Step("E", "d")))
    assert(eager == Set(("1,2,7", "B:1"), ("1,2,7", "B:2"),
      ("1,2,7", "B:3"), ("1,2,7", "B:4")), eager)
    val comb = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not),
      Step("B", "b", LoopAny(1, Int.MaxValue, zeroOk = true)),
      Step("E", "d")))
    assert(comb == Set(
      ("1,2,7", "B:1"), ("1,2,4,7", "B:2"), ("1,2,5,7", "B:2"),
      ("1,2,6,7", "B:2"), ("1,2,4,5,7", "B:3"), ("1,2,4,6,7", "B:3"),
      ("1,2,5,6,7", "B:3"), ("1,2,4,5,6,7", "B:4")), comb)
  }

  test("NotPatternITCase testNotFollowedByBeforeZeroOrMore{Eager:1365,Combinations:1393}SkipTillAny") {
    val eager = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not), Step("B", "b", AnyEntry(ZeroOrMore())),
      Step("E", "d")))
    assert(eager == Set(("1,2,7", "B:1"), ("1,2,4,7", "B:2"),
      ("1,2,4,5,7", "B:3"), ("1,2,4,5,6,7", "B:4")), eager)
    val comb = matches(beforeData, Seq(Step("A", "a"),
      Step("N", "c", Not),
      Step("B", "b", LoopAny(1, Int.MaxValue, zeroOk = true,
        entryAny = true)),
      Step("E", "d")))
    assert(comb == Set(
      ("1,2,7", "B:1"), ("1,2,4,7", "B:2"), ("1,2,5,7", "B:2"),
      ("1,2,6,7", "B:2"), ("1,2,4,5,7", "B:3"), ("1,2,4,6,7", "B:3"),
      ("1,2,5,6,7", "B:3"), ("1,2,4,5,6,7", "B:4")), comb)
  }
}
