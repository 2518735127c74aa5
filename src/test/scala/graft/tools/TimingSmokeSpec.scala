package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins the timing-smoke suspect gate without running the smoke: the
  * ledger is single-sample by design, so the gate must tolerate the
  * 2-3× swings single samples show on a shared box and still catch a
  * genuine pathological regression (say, a fixture self-join gone
  * quadratic) in a query the bench headliners never time.
  */
class TimingSmokeSpec extends AnyFunSuite {

  test("suspect gate: big absolute + big relative only; jitter and new queries never flag") {
    val prev = Map(
      "q_fast" -> 0.2, // sub-second: jitter territory
      "q_mid" -> 1.0,
      "q_slow" -> 3.0,
      "q_zero" -> 0.0) // degenerate prev sample must not divide-by-zero
    val cur = Map(
      "q_fast" -> 1.9, // 9.5x but under the absolute floor — jitter
      "q_mid" -> 5.9, // 5.9x AND > 2s — a genuine suspect
      "q_slow" -> 8.0, // 2.7x — large but under the ratio gate
      "q_zero" -> 9.0, // no valid prev baseline
      "q_new" -> 50.0) // no prev at all: first ledger entry, never flags
    val sus = TimingSmoke.suspects(cur, prev)
    assert(sus.keySet == Set("q_mid"), s"gate misfired: $sus")
    assert(sus("q_mid") == ((5.9, 1.0)))
    // boundary: exactly the ratio or exactly the floor does not flag
    assert(TimingSmoke.suspects(
      Map("q" -> 5.0), Map("q" -> 1.0)).isEmpty, "ratio boundary must not flag")
    assert(TimingSmoke.suspects(
      Map("q" -> 2.0), Map("q" -> 0.3)).isEmpty, "floor boundary must not flag")
  }

  test("prev-ledger parse: whitespace-tolerant, sf-gated, guarded extraction") {
    val sf = "/root/testdata/sf0.01"
    val compact =
      s"""{"tool":"timing_smoke","sf":"$sf","queries":{"q_a":1.5,"q_b":0.25},"x":1}"""
    assert(graft.Bench.queriesAt(compact, sf) == Map("q_a" -> 1.5, "q_b" -> 0.25))
    // a pretty-printer re-dump must NOT silently reset the comparison
    // (the r4 bench lesson, applied here since r14)
    val pretty =
      s"""{\n  "tool": "timing_smoke",\n  "sf": "$sf",\n  "queries": {\n    "q_a": 1.5,\n    "q_b": 0.25\n  }\n}"""
    assert(graft.Bench.queriesAt(pretty, sf) == Map("q_a" -> 1.5, "q_b" -> 0.25),
      "pretty-printed ledger silently disabled the suspect gate")
    // a ledger recorded at another sf resets the comparison DELIBERATELY
    assert(graft.Bench.queriesAt(compact, "/root/testdata/sf0.1").isEmpty)
    // malformed ledgers degrade to empty, never throw or slice garbage
    assert(graft.Bench.queriesAt(s"""{"sf":"$sf","queries":{""", sf).isEmpty)
    assert(graft.Bench.queriesAt(s"""{"sf":"$sf"}""", sf).isEmpty)
    assert(graft.Bench.queriesAt("", sf).isEmpty)
  }
}
