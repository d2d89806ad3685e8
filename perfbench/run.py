#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. The inputs
are generated from --seed under .bench_build/work/, which is removed
when the run ends.

With --trace 0 the last line carries the end-to-end metrics, with
--trace 1 the per-layer metrics. Lines before it print every metric by
name and unit, plus the workload's own derived figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the source tree

import checks  # noqa: E402
import gen  # noqa: E402

JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# kind: the harness entry (perfbench.Main); reps: timed warm set-ups;
# warm / settle: untimed passes before / after those set-ups; passes:
# the fewest timed passes; the rest sizes the inputs. BENCHMARK.json
# gates stream_ingest and ngram_corpus; registry_sf0.001 is run by name
# for its layers (see spec.json)
WORKLOADS = {
    "registry_sf0.001": dict(kind="registry", reps=3, warm=2, settle=3, passes=7,
                             scale=0.001, docs=500, vecs=500, queries=[
        # every 50th oracled query by name among those that read no index
        # artifact (as registered when the benchmark was defined) ...
        "ab_test_welch", "grouping_sets", "pq_quantize", "tpch_q17ish",
        # ... and one oracled query whose index artifact builds in about a
        # second, so every set-up builds it
        "dedup_incremental"]),
    "ngram_corpus": dict(kind="ngram", reps=4, warm=2, settle=1, passes=9, files=32, mb=6),
    "stream_ingest": dict(kind="stream", reps=4, warm=1, settle=0, passes=2, events=10000, files=4),
}


def metric_lists():
    """(end_to_end, per_layer) as [(name, unit)], from BENCHMARK.json."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found; run from the repository root")
    out = os.path.join(root, ".bench_build")
    cp_file = os.path.join(out, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "writeClasspath"], cwd=HERE, env=env,
                            stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (exit {rc}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def make_inputs(w, seed, work):
    """Generate the workload's inputs; return the harness arguments."""
    data = os.path.join(work, "data")
    if w["kind"] == "registry":
        gen.tables(data, seed, w["scale"], w["docs"], w["vecs"])
        return {"data": data, "queries": ",".join(w["queries"])}
    if w["kind"] == "ngram":
        corpus = os.path.join(work, "corpus")
        gen.corpus(corpus, seed, w["files"], w["mb"])
        return {"corpus": corpus}
    stage = os.path.join(work, "stage")
    gen.events_split(data, stage, seed, w["events"], w["files"])
    return {"data": data, "stage": stage}


def run_jvm(cp, kind, args, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main", kind]
           + [f"{k}={v}" for k, v in {**args, "work": work, "out": out}.items()])
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            raise BenchError("harness exceeded its time limit")
    with open(os.path.join(work, "jvm.log")) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[perfbench] "):
            log("harness " + line[len("[perfbench] "):])
    if not os.path.exists(out):
        raise BenchError(f"harness exited {rc} without a result:\n{text[-3000:]}")
    with open(out) as f:
        res = json.load(f)
    spans = out + ".spans.json"
    return rc, res, spans if os.path.exists(spans) else None


def cpu_ticks():
    """(stolen, total) CPU ticks since boot, from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def percentile(xs, q):
    """Linear-interpolated percentile (0 < q < 100)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


TAIL_PCT = 90


def summarize(res):
    plain = [p for p in res["passes"] if not p["traced"]]
    items = [i["s"] for p in plain for i in p["items"]]
    if not items:
        raise BenchError("no item completed")
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(p["wall_s"] for p in plain),
        "item_p50_s": statistics.median(items),
        "item_tail_s": percentile(items, TAIL_PCT),
    }, len(items)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    w = WORKLOADS[a.workload]
    end_to_end, per_layer = metric_lists()
    t_start = time.time()
    built_before = os.path.exists(os.path.join(root, ".bench_build", "stamp"))
    cp = build(root)
    limit = RUN_LIMIT_S if built_before else RUN_LIMIT_S + BUILD_LIMIT_S
    deadline = t_start + limit

    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        args = make_inputs(w, a.seed, work)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        t0 = time.time()
        args.update(seed=a.seed, seconds=a.seconds, trace=a.trace,
                    **{k: w[k] for k in ("reps", "warm", "settle", "passes")})
        ticks0 = cpu_ticks()
        rc, res, spans = run_jvm(cp, w["kind"], args, work, deadline)
        ticks1 = cpu_ticks()
        log(f"harness ran {time.time() - t0:.1f}s")
        t0 = time.time()
        for e in res["errors"]:
            log(f"error: {e}")
        if rc != 0:
            raise BenchError(f"harness exited {rc}")

        mismatches, notes, facts = 0, [], {}
        if w["kind"] == "registry":
            mismatches, notes = checks.registry(args["data"], os.path.join(work, "results"))
        elif w["kind"] == "ngram":
            mismatches, notes, facts = checks.ngram(
                args["corpus"], res["facts"]["output"], 3)
        else:
            mismatches = res["facts"]["stream_mismatches"]
        for n in notes:
            log(f"mismatch: {n}")

        log(f"outputs checked in {time.time() - t0:.1f}s")
        e2e, n_items = summarize(res)
        derived = {}
        if w["kind"] == "ngram":
            mb = sum(os.path.getsize(os.path.join(args["corpus"], f))
                     for f in os.listdir(args["corpus"])) / (1 << 20)
            derived["ngram_input_mb_per_s"] = (mb / e2e["wall_s"], "MB/s")
        if w["kind"] == "stream":
            derived["stream_rows_per_s"] = (res["facts"]["stream_rows"] / e2e["wall_s"], "rows/s")
        derived["setup_cold_s"] = (res["facts"]["setup_cold_s"], "s")
        derived["heap_live_mb"] = (res["facts"]["heap_live_mb"], "MB")
        derived["peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MB")
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # CPU time the hypervisor gave to other guests during the run: a
            # high share marks a run slowed from outside the program
            derived["cpu_steal_share"] = (
                (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), "ratio")
        derived["failed_ratio"] = (res["failed"] / max(1, res["attempted"]), "ratio")
        derived["result_mismatches"] = (mismatches, "count")

        if a.trace:
            layers = dict(res["layers"])
            if w["kind"] == "ngram":
                layers["ngram.combine_ratio"] = layers.get("ngram.map_records", 0) / facts["ngrams_emitted"]
                layers["placement.skew"] = facts["placement_skew"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in per_layer}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end}

        print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
              f"{len(res['passes'])} passes, {n_items} timed items, tail = p{TAIL_PCT}")
        print("  pass walls (s): " + " ".join(
            f"{p['wall_s']:.3f}{'*' if p['traced'] else ''}" for p in res["passes"])
              + ("   (* traced)" if a.trace else ""))
        for k, m in metrics.items():
            print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
        for k, (v, u) in derived.items():
            print(f"  {k:28s} {v:.6g} {u}")
        if spans:
            keep = os.path.join(root, ".bench_build", "traces")
            os.makedirs(keep, exist_ok=True)
            dest = os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.json")
            shutil.copyfile(spans, dest)
            print(f"  spans: {os.path.relpath(dest, root)}")
        print(json.dumps({"correct": mismatches == 0, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}), flush=True)
        return 0
    except BenchError as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
