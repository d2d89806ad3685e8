#!/usr/bin/env python3
"""Self-test for tools/bench_guard.py (VERDICT r11 task 8).

The guard has grown real adjudication logic — contention quarantine
(stamp + rename), same-sf walk-back across mixed rounds, min-vs-min
keying, canon self-compare skip — none of which had tests: a wrong
guard silently blesses a regression. Each case below builds a synthetic
artifact directory and runs the guard as a subprocess (its globs are
cwd-relative), asserting on the chosen reference, the flags, and the
exit code.

Run:  pytest tools/test_bench_guard.py     (or)
      python3 tools/test_bench_guard.py    (standalone, no pytest needed)

NOT part of the library — developer tooling only (driver-side python).
"""
import json
import os
import subprocess
import sys
import tempfile

GUARD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_guard.py")


def write(d, name, queries, sf="/root/testdata/sf0.1", contended=False,
          detail=None, mtime=None, driver_shape=False, filtered=False,
          trace=None):
    """Write a synthetic artifact. `queries` is {name: median}; `detail`
    optionally {name: (median, min)} for the query_detail shape, each
    entry carrying `trace` (a dict) as its nested "trace" when given."""
    art = {"metric": "total", "value": sum(queries.values()),
           "n_queries": len(queries), "sf": sf, "queries": queries}
    if not driver_shape:
        art["contended"] = contended
    if filtered:
        art["filtered"] = True
    if detail is not None:
        art["query_detail"] = {
            k: {"median": med, "min": mn, "max": med, "runs": [med, mn, med]}
            for k, (med, mn) in detail.items()}
        if trace is not None:
            for v in art["query_detail"].values():
                v["trace"] = dict(trace)
    p = os.path.join(d, name)
    with open(p, "w") as f:
        json.dump(art, f)
    if mtime is not None:
        os.utime(p, (mtime, mtime))
    return p


def run_guard(d, *args):
    r = subprocess.run([sys.executable, GUARD, *args], cwd=d,
                       capture_output=True, text=True)
    return r.returncode, r.stdout


def test_clean_pass_and_flag_exit_codes():
    """Baseline behavior: same numbers pass (exit 0); a >1.5x regression
    above the MIN_SEC floor flags and exits 1."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0, "q2": 0.5}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 1.0, "q2": 0.5}, mtime=2000)
        code, out = run_guard(d)
        assert code == 0, out
        assert "vs BENCH_SELF_r08.json" in out, out
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 2.0}, mtime=2000)
        code, out = run_guard(d)
        assert code == 1 and "FLAG q1" in out, out


def test_min_sec_jitter_floor():
    """Sub-100ms queries can triple without flagging — both medians under
    MIN_SEC is jitter, not a regression."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 0.04}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 0.12}, mtime=2000)
        code, out = run_guard(d)
        assert code == 0, out


def test_contended_stamp_quarantined_as_reference():
    """A contended-stamped artifact must never be the comparison
    reference: the guard walks past r09 (stamped) to r08 (clean)."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 9.0}, contended=True, mtime=2000)
        write(d, "BENCH_SELF_r10.json", {"q1": 1.1}, mtime=3000)
        code, out = run_guard(d)
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 0, out


def test_contended_rename_quarantined_as_reference():
    """The *_contended.json rename protocol quarantines the same way as
    the stamp."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09_contended.json", {"q1": 9.0}, mtime=2000)
        write(d, "BENCH_SELF_r10.json", {"q1": 1.1}, mtime=3000)
        code, out = run_guard(d)
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 0, out


def test_same_sf_walkback_within_a_mixed_round():
    """r10 ADVICE case: the previous round published BOTH an sf0.1 and a
    newer sf1 artifact. A current sf0.1 run must compare against the
    same-sf one, not skip the round (or worse, compare cross-sf)."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r09_sf01.json", {"q1": 1.0},
              sf="/root/testdata/sf0.1", mtime=1000)
        write(d, "BENCH_SELF_r09_sf1.json", {"q1": 4.0},
              sf="/tmp/graft_sf1", mtime=2000)  # newer, wrong sf
        write(d, "BENCH_SELF_r10.json", {"q1": 1.1},
              sf="/root/testdata/sf0.1", mtime=3000)
        code, out = run_guard(d)
        assert "vs BENCH_SELF_r09_sf01.json" in out, out
        assert code == 0, out


def test_same_sf_walkback_across_rounds():
    """When the whole previous round is at a different sf, walk back a
    further round to find a same-sf reference."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0},
              sf="/root/testdata/sf0.1", mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 4.0},
              sf="/tmp/graft_sf1", mtime=2000)
        write(d, "BENCH_SELF_r10.json", {"q1": 1.1},
              sf="/root/testdata/sf0.1", mtime=3000)
        code, out = run_guard(d)
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 0, out


def test_no_comparable_reference_skips_cleanly():
    """Nothing at the current sf anywhere: skip with exit 0 (nothing
    comparable), never a cross-sf compare."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r09.json", {"q1": 4.0},
              sf="/tmp/graft_sf1", mtime=2000)
        write(d, "BENCH_SELF_r10.json", {"q1": 1.1},
              sf="/root/testdata/sf0.1", mtime=3000)
        code, out = run_guard(d)
        assert code == 0 and "nothing comparable" in out, out


def test_min_vs_min_keying():
    """Both sides carry query_detail: the guard keys on per-query MIN.
    A median spike with a stable min (co-tenant load shape, r08's
    doc_quality [4.13, 4.09, 1.12]) must NOT flag; a genuine min
    regression must."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0, "q2": 1.0},
              detail={"q1": (1.0, 1.0), "q2": (1.0, 1.0)}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 4.0, "q2": 1.0},
              detail={"q1": (4.0, 1.05), "q2": (1.0, 1.0)}, mtime=2000)
        code, out = run_guard(d)
        assert code == 0, out  # median 4x but min stable: not a regression
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0},
              detail={"q1": (1.0, 1.0)}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 2.0},
              detail={"q1": (2.0, 1.9)}, mtime=2000)
        code, out = run_guard(d)
        assert code == 1 and "FLAG q1" in out, out


def test_canon_self_compare_skipped():
    """BENCH_CANON.json byte-identical to the current artifact (refresh-
    then-guard) can never flag — the guard must fall through to the
    prior round's artifact."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        cur = write(d, "BENCH_SELF_r09.json", {"q1": 3.0}, mtime=2000)
        with open(cur) as f:
            content = f.read()
        with open(os.path.join(d, "BENCH_CANON.json"), "w") as f:
            f.write(content)
        code, out = run_guard(d)
        assert "using prior round instead" in out, out
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 1 and "FLAG q1" in out, out


def test_canon_cross_sf_skipped():
    """A canon pinned at a different sf is not a comparable reference."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0},
              sf="/root/testdata/sf0.1", mtime=1000)
        write(d, "BENCH_CANON.json", {"q1": 0.2}, sf="/tmp/graft_sf1")
        write(d, "BENCH_SELF_r09.json", {"q1": 1.1},
              sf="/root/testdata/sf0.1", mtime=2000)
        code, out = run_guard(d)
        assert "cross-sf medians are not comparable" in out, out
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 0, out


def test_driver_wrapper_numeric_sf_normalization():
    """The driver wrapper stores sf as a NUMBER (0.1) where BENCH_SELF
    stores the dir string — sf_of must normalize both so the wrapper
    fallback stays same-sf comparable."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_r08.json", {"q1": 1.0}, sf=0.1,
              driver_shape=True, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 1.1},
              sf="/root/testdata/sf0.1", mtime=2000)
        code, out = run_guard(d)
        assert "vs BENCH_r08.json" in out, out
        assert code == 0, out


def test_failed_query_flags():
    """A query that went from working (positive time) to failing (-1)
    must flag, not silently drop out of the compare."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": -1.0}, mtime=2000)
        code, out = run_guard(d)
        assert code == 1 and "FLAG q1" in out, out


def test_filtered_subset_quarantined_as_reference():
    """r12 ADVICE: a SPARK_GRAFT_BENCH_QUERIES subset artifact saved
    under a BENCH_SELF name carries "filtered": true — it must never be
    the reference (queries absent from it would drop out of the
    compare). The guard walks past it to the full-run artifact."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0, "q2": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 0.9}, filtered=True, mtime=2000)
        write(d, "BENCH_SELF_r10.json", {"q1": 1.0, "q2": 3.0}, mtime=3000)
        code, out = run_guard(d)
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 1 and "FLAG q2" in out, out  # q2 visible via r08 only


def test_filtered_canon_quarantined_as_reference():
    """A filtered subset cp-ed over BENCH_CANON.json must likewise fall
    through to the prior full-run round."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0, "q2": 1.0}, mtime=1000)
        write(d, "BENCH_CANON.json", {"q1": 0.9}, filtered=True)
        write(d, "BENCH_SELF_r09.json", {"q1": 1.0, "q2": 1.0}, mtime=2000)
        code, out = run_guard(d)
        assert "FILTERED subset" in out, out
        assert "vs BENCH_SELF_r08.json" in out, out
        assert code == 0, out


def test_abs_delta_drift_floor():
    """r12 verdict task 8: a ratio flag whose absolute delta is under
    0.4s on an untouched query is boot-to-boot drift — reported as
    informational, exit 0. The same ratio with a large absolute delta
    still flags."""
    with tempfile.TemporaryDirectory() as d:
        # word_count-shaped: 0.15 -> 0.26s is 1.73x but |delta| = 0.11s
        write(d, "BENCH_SELF_r08.json", {"q1": 0.15}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 0.26}, mtime=2000)
        code, out = run_guard(d)
        assert code == 0 and "drift q1" in out, out
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 1.0}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 1.6}, mtime=2000)
        code, out = run_guard(d)
        assert code == 1 and "FLAG q1" in out, out  # |delta| 0.6 >= 0.4


def test_touched_query_bypasses_drift_floor():
    """A query declared touched this round (--touched=) must flag even
    under the absolute-delta floor — a deliberately-changed plan never
    hides behind the drift heuristic."""
    with tempfile.TemporaryDirectory() as d:
        write(d, "BENCH_SELF_r08.json", {"q1": 0.15}, mtime=1000)
        write(d, "BENCH_SELF_r09.json", {"q1": 0.26}, mtime=2000)
        code, out = run_guard(d, "--touched=q1")
        assert code == 1 and "FLAG q1" in out, out


def test_nested_trace_leaves_per_query_mins_unchanged():
    """Bench's query_detail entries carry the last run's Trace totals as a
    nested "trace" object: medians() and rebaseline.py read the same
    per-query mins from such an artifact as from one without it."""
    sys.path.insert(0, os.path.dirname(GUARD))
    import bench_guard
    import rebaseline
    detail = {"q1": (1.0, 0.8), "q2": (0.5, 0.4)}
    trace = {"jobs": 3, "stages": 4, "tasks": 16, "run_ms": 120,
             "spill_bytes": 0, "max_task_shuffle_records": 7}
    with tempfile.TemporaryDirectory() as d:
        plain = write(d, "BENCH_SELF_r08.json", {"q1": 1.0, "q2": 0.5}, detail=detail)
        traced = write(d, "BENCH_SELF_r09.json", {"q1": 1.0, "q2": 0.5}, detail=detail,
                       trace=trace)
        assert bench_guard.medians(plain) == {"q1": 0.8, "q2": 0.4}
        assert bench_guard.medians(traced) == bench_guard.medians(plain)
        root = rebaseline.ROOT
        anchored = []
        try:
            for i, p in enumerate((plain, traced)):
                # anchor() writes BASELINE_PERQUERY_* under ROOT: keep it in the temp dir
                rebaseline.ROOT = os.path.join(d, str(i))
                os.makedirs(rebaseline.ROOT)
                anchored.append(bench_guard.medians(rebaseline.anchor(p)))
        finally:
            rebaseline.ROOT = root
        assert anchored[0] == anchored[1] == {"q1": 0.8, "q2": 0.4}, anchored


def test_driver_tail_window_parse():
    """Pin the Bench stdout contract that makes the DRIVER's
    BENCH_r{N}.json parse succeed (r15 VERDICT task 3). The driver
    extracts the metric JSON from a 2000-char stdout TAIL; the full
    metric line (~6 KB at 225+ queries) never fits that window, which
    is why `parsed` was null in EVERY round 1-15. Bench therefore
    prints a second COMPACT summary line (no per-query map, <200
    chars) immediately after the full one. This test rebuilds both
    lines in Bench's exact formats plus the trailing sbt noise,
    applies the 2000-char tail cut, and asserts a complete
    {"metric": ...} object survives for BOTH plausible driver parses:
    a reverse line scan with json.loads, and a first-{"metric"-brace
    regex. If Bench's println format drifts (compact line dropped,
    reordered after [success], or bloated past the window), this
    fails before the driver does."""
    import re
    queries = {f"q{i:03d}_some_operator_name": round(0.1 + i * 0.003, 3)
               for i in range(230)}
    qs = "{" + ",".join(f'"{k}":{v}' for k, v in queries.items()) + "}"
    total = round(sum(queries.values()), 3)
    sf = "/root/testdata/sf0.1"
    full = (f'{{"metric":"total","value":{total},"unit":"sec",'
            f'"queries":{qs},"n_queries":{len(queries)},"sf":"{sf}"}}')
    compact = (f'{{"metric":"total","value":{total},"unit":"sec",'
               f'"n_queries":{len(queries)},"sf":"{sf}"}}')
    assert len(full) > 2000, "pin is vacuous unless the full line overflows the window"
    assert len(compact) < 200, f"compact line must stay tiny, got {len(compact)}"
    stdout = (full + "\n" + compact + "\n"
              + "[error] [bench] self-published /root/repo/./BENCH_SELF_r16.json\n"
              + "[success] Total time: 825 s (13:45), completed Aug 16, 2026\n")
    tail = stdout[-2000:]
    # parse 1: reverse line scan, first json.loads that succeeds
    parsed = None
    for line in reversed(tail.splitlines()):
        try:
            obj = json.loads(line)
            if isinstance(obj, dict) and "metric" in obj:
                parsed = obj
                break
        except ValueError:
            continue
    assert parsed is not None and parsed["value"] == total, tail[-400:]
    # parse 2: regex from the first '{"metric' in the tail to a line end
    m = re.search(r'^\{"metric".*\}$', tail, re.M)
    assert m is not None and json.loads(m.group(0))["n_queries"] == len(queries)


# The LITERAL final 600 chars of BENCH_r16.json's captured stdout tail
# (copied verbatim from the driver artifact, commit 0734c9d) — the
# evidence base for the r17 parse fix. The compact metric line IS
# inside the 2000-char window, but sbt's default LoggedOutput decorates
# every forked-run line with "[info] " (stderr with "[error] "), so no
# line is bare JSON and every plausible parser returns null.
R16_LITERAL_TAIL = (
    '_nucleus":0.486,"vocab_oov":0.549,"weighted_sample":0.316,'
    '"window_analytic":0.517,"window_distribution":0.866,'
    '"window_distribution_orders":0.588,"window_ntile":0.821,'
    '"window_ranking":0.98,"window_running":1.028,'
    '"window_topk_per_group":0.478,"word_count":0.231,"zipf_fit":0.312,'
    '"zorder_keys":0.355,"zorder_layout":0.425},"n_queries":227,'
    '"sf":"/root/testdata/sf0.1"}\n'
    '[info] {"metric":"total","value":169.56,"unit":"sec",'
    '"n_queries":227,"sf":"/root/testdata/sf0.1"}\n'
    '[error] [bench] self-published /root/repo/./BENCH_SELF_r16.json\n'
    '[success] Total time: 973 s (16:13), completed Aug 16, 2026, 12:15:33 PM\n'
)


def _tail_parsers(tail):
    """The two plausible driver parses the r15/r16 pins modeled:
    (1) reverse line scan, first json.loads dict with 'metric';
    (2) first ^{"metric"...}$ line-anchored regex match."""
    import re
    by_scan = None
    for line in reversed(tail.splitlines()):
        try:
            obj = json.loads(line)
            if isinstance(obj, dict) and "metric" in obj:
                by_scan = obj
                break
        except ValueError:
            continue
    m = re.search(r'^\{"metric".*\}$', tail, re.M)
    by_regex = json.loads(m.group(0)) if m else None
    return by_scan, by_regex


def test_r16_literal_tail_explains_null_and_fix_restores_parse():
    """r16 VERDICT task 2: test against the OBSERVED bytes, not an
    assumed parser. On the literal r16 tail both plausible parsers
    return null — the compact line fits the window but carries sbt's
    '[info] ' LoggedOutput prefix, which is the root cause of 16
    rounds of "parsed": null (truncation was disproven in r16). The
    r17 fix (build.sbt `Compile / run / outputStrategy :=
    Some(StdoutOutput)`, verified live via graft.StdoutProbe) removes
    exactly that decoration; the same tail minus the [info]/[error]
    prefixes — byte-for-byte what the fixed binary emits — parses
    under BOTH parsers."""
    tail = R16_LITERAL_TAIL[-2000:]
    by_scan, by_regex = _tail_parsers(tail)
    assert by_scan is None and by_regex is None, (
        "the r16 tail should NOT parse — if it does, the null came "
        "from somewhere else and the StdoutOutput theory is wrong too")
    # what the identical run emits once forked stdout is undecorated:
    fixed = "".join(
        line[len("[info] "):] + "\n" if line.startswith("[info] {") else line + "\n"
        for line in R16_LITERAL_TAIL.splitlines())
    by_scan, by_regex = _tail_parsers(fixed[-2000:])
    assert by_scan is not None and by_scan["value"] == 169.56, fixed[-400:]
    assert by_regex is not None and by_regex["n_queries"] == 227


ALL_TESTS = [v for k, v in sorted(globals().items()) if k.startswith("test_")]

if __name__ == "__main__":
    failed = 0
    for t in ALL_TESTS:
        try:
            t()
            print(f"PASS {t.__name__}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
    print(f"{len(ALL_TESTS) - failed} pass, {failed} fail")
    sys.exit(1 if failed else 0)
