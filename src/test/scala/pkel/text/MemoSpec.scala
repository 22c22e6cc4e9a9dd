package pkel.text

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide bounded memo must be a transparent wrapper: same results as
  * the raw kernel, one underlying call per distinct input under the cap, and
  * graceful degradation (not an error, not unbounded memory) past the cap.
  * Each test names its own table: tables are keyed by id alone.
  */
class MemoSpec extends AnyFunSuite {

  test("memoized function returns exactly the raw kernel's results") {
    val raw = (s: String) => PkTokenizer.blockingKey(Option(s).getOrElse(""))
    val memod = Memo.named("memo-spec-raw")(raw)
    val inputs = Seq("clearance", "AUC (0-24)", "", "half-life", "clearance",
      "Cmax/Dose", "clearance", "AUC (0-24)")
    assert(inputs.map(memod) == inputs.map(raw))
  }

  test("underlying kernel runs once per distinct input under the cap") {
    val calls = new AtomicInteger(0)
    val memod = Memo.named("memo-spec-once")((s: String) => { calls.incrementAndGet(); s.length })
    val inputs = Seq.tabulate(1000)(i => s"surface-${i % 7}")
    inputs.foreach(memod)
    assert(calls.get == 7)
  }

  test("past the cap: results stay correct, map stays bounded, no eviction churn") {
    val calls = new AtomicInteger(0)
    val cap = 16
    val memod = new Memo("memo-spec-cap", (s: String) => { calls.incrementAndGet(); s.reverse }, cap)
    // 3 passes over 64 distinct inputs: first `cap` entries memoize, the
    // rest re-run every pass (bounded degradation, never wrong).
    val inputs = Seq.tabulate(64)(i => s"unique-$i")
    (1 to 3).foreach(_ => inputs.foreach(s => assert(memod(s) == s.reverse)))
    assert(calls.get == cap + 3 * (64 - cap))
  }

  test("null kernel results are passed through unmemoized") {
    val calls = new AtomicInteger(0)
    val memod = Memo.named("memo-spec-null-result")((s: String) => { calls.incrementAndGet(); null: String })
    assert(memod("x") == null && memod("x") == null)
    assert(calls.get == 2)
  }

  test("null inputs bypass the table (CHM rejects null keys) but still compute") {
    val calls = new AtomicInteger(0)
    val memod = Memo.named("memo-spec-null-input")((s: String) => { calls.incrementAndGet(); if (s == null) -1 else s.length })
    assert(memod(null) == -1 && memod(null) == -1)
    assert(calls.get == 2) // unmemoized, never thrown
  }

  test("clearAll empties live instances' tables (no orphaned stale results)") {
    val calls = new AtomicInteger(0)
    val memod = Memo.named("memo-spec-clear")((s: String) => { calls.incrementAndGet(); s.length })
    assert(memod("xyz") == 3 && memod("xyz") == 3)
    assert(calls.get == 1)
    Memo.clearAll()
    assert(memod("xyz") == 3)
    assert(calls.get == 2) // recomputed after the clear, even on the SAME instance
  }
}
