#!/usr/bin/env python3
"""graft crawl benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

It builds the engine from source (perfbench/build.py), makes the inputs
from the seed, sets up and warms a Spark session sized to the host, checks
the outputs, measures for ``--seconds`` and prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics). The exit code is 0 only when every output check passed.

See perfbench/README.md for the workloads, metrics and checks.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
EXPECTED = HERE / "expected.json"
WORKLOADS = ("crawl", "analytics")
DEADLINE_S = 175
# size of the analytics tables (1.0 = 60k lineitem rows)
ANALYTICS_SCALE = 1.0

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_fit() -> tuple:
    """(cores, heap GB): every core of the process's affinity set, and a
    quarter of physical memory, clamped to 2..6 GB."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_gb = 8
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_gb = int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return max(1, cores), max(2, min(6, mem_gb // 4))


def evict(parent: Path, keep: str) -> None:
    """Keep only the current seed's cached inputs under `parent`."""
    if parent.is_dir():
        for d in parent.iterdir():
            if d.name != keep:
                shutil.rmtree(d, ignore_errors=True)


def run_jvm(args, classpath: str, cores: int, heap_gb: int, budget_s: float) -> dict:
    work = WORK / args.workload
    out = work / "result.json"
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    if out.exists():
        out.unlink()
    cmd = ["java", f"-Xmx{heap_gb}g", f"-Xms{heap_gb}g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--cpus", str(cores), "--out", str(out)]
    if args.workload == "analytics":
        cmd += ["--data", str(WORK / "analytics" / str(args.seed))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        text, _ = proc.communicate(timeout=max(10.0, budget_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"benchmark JVM exceeded {budget_s:.0f} s")
    if proc.returncode != 0 or not out.exists():
        tail = "\n".join(text.splitlines()[-30:])
        raise RuntimeError(f"benchmark JVM failed (exit {proc.returncode}):\n{tail}")
    return json.loads(out.read_text())


class Gate:
    """Counts attempted work and output checks, and which failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def work(self, n: int) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")


def load_expected(path: Path) -> dict:
    return json.loads(path.read_text()) if path.exists() else {}


def compare(gate: Gate, what: str, got, want) -> None:
    gate.check(what, got == want, f"{got} != {want}")


def crawl_gate(gate: Gate, doc: dict, recorded) -> dict:
    """The crawl must reproduce the recorded digest of this (workload, seed),
    and the traced crawl the timed one's; RefSim's checks of the warm-up
    crawl come from the JVM."""
    for c in doc["checks"]:
        gate.check(c["name"], c["ok"], c["detail"])
    digest = doc["timed"]["digest"]
    gate.work(len(doc["timed"]["rounds"]))
    if recorded is not None:
        compare(gate, "digest", digest, recorded)
    if doc["traced"] is not None:
        gate.work(len(digest["attempts"]))
        compare(gate, "digest traced", doc["traced"]["run"]["digest"], digest)
    return digest


def analytics_gate(gate: Gate, doc: dict, recorded) -> dict:
    """The first warm-up pass must match DuckDB running each query's oracle
    SQL; then every other pass (warm-up, timed or traced) must reproduce the
    recorded per-query digests, or the first pass's when none are recorded."""
    from analytics import oracle_check
    out = Path(doc["capture_dir"])
    oracle_sql = json.loads((out / "oracle_sql.json").read_text())
    verdict = oracle_check(WORK / "analytics" / str(doc["seed"]), out, oracle_sql)
    for q, why in sorted(verdict.items()):
        gate.check(f"oracle {q}", why == "", why)
    first, *warmups = doc["warmups"]
    reference = recorded if recorded is not None else first
    passes = [first, *warmups, *(r["digest"] for r in doc["reps"])]
    if doc["traced"] is not None:
        passes.append(doc["traced"]["run"]["digest"])
    for i, digests in enumerate(passes):
        gate.work(len(digests))
        for q in sorted(reference):
            compare(gate, f"pass {i} {q}", digests.get(q), reference[q])
    return first


def repetitions(doc: dict) -> list:
    """The timed repetitions: the crawl's rounds, or the analytics passes."""
    return doc["timed"]["rounds"] if doc["workload"] == "crawl" else doc["reps"]


def e2e_metrics(doc: dict) -> dict:
    reps = repetitions(doc)
    return {
        "setup_s": statistics.median(doc["setup_s"]),
        "rep_wall_s": statistics.median(r["wall_s"] for r in reps),
        "items_per_s": statistics.median(int(r["items"]) / r["wall_s"] for r in reps),
        "heap_after_gc_peak_mb": max(doc["heap_mb"]),
    }


def describe(doc: dict) -> None:
    """Human-readable lines on standard error: what ran and how long."""
    for i, r in enumerate(repetitions(doc)):
        extra = ""
        if "fetch_s" in r:
            extra = (f" (fetchAndParse {r['fetch_s']:.3f} s,"
                     f" update {r['update_s']:.3f} s)")
        log(f"rep {i}: {r['wall_s']:.3f} s, {r['items']} items{extra}")
    if doc["workload"] == "crawl":
        t = doc["timed"]
        log(f"update rows {t['update_rows']}, table {t['table_bytes']} B"
            f" = {t['table_bytes'] / t['digest']['live_urls']:.0f} B per live URL")
    log(f"setup_s samples {['%.3f' % s for s in doc['setup_s']]}")
    log("JVM phases (s since start): " +
        ", ".join(f"{k} {v:.1f}" for k, v in doc.get("phases", {}).items()))
    if doc["traced"] is not None:
        # a traced run times one untraced crawl (all rounds) or one pass
        t = doc["traced"]["run"]["wall_s"]
        u = sum(r["wall_s"] for r in repetitions(doc))
        log(f"tracing overhead: traced {t:.3f} s - untraced {u:.3f} s = {t - u:+.3f} s")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expected", type=Path, default=EXPECTED,
                   help="recorded digests to compare with (default perfbench/expected.json)")
    p.add_argument("--record", action="store_true",
                   help="after a fully passing run, record its digests in --expected")
    args = p.parse_args()
    t0 = time.monotonic()

    bench = ROOT / "BENCHMARK.json"
    if not bench.exists():
        log(f"missing {bench}")
        return 2
    spec = json.loads(bench.read_text())
    sys.path.insert(0, str(HERE))
    import build
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    t_build = time.monotonic()

    cores, heap_gb = host_fit()
    log(f"{args.workload} seed {args.seed}: local[{cores}], heap {heap_gb} GB")
    evict(WORK / args.workload / "corpus", str(args.seed))
    if args.workload == "analytics":
        evict(WORK / "analytics", str(args.seed))
        import analytics
        analytics.write_tables(WORK / "analytics" / str(args.seed), args.seed, ANALYTICS_SCALE)

    gate = Gate()
    budget = DEADLINE_S - (time.monotonic() - t_build) - 10
    try:
        doc = run_jvm(args, classpath, cores, heap_gb, budget)
    except RuntimeError as e:
        log(str(e))
        return 1
    expected = load_expected(args.expected)
    recorded = expected.get(args.workload, {}).get(str(args.seed))
    # a seed without a recorded digest is checked against an earlier passing
    # run of the same seed in this checkout, when there was one
    seen_before = WORK / "digests" / f"{args.workload}-{args.seed}.json"
    if recorded is None and seen_before.exists():
        recorded = json.loads(seen_before.read_text())
    if args.workload == "crawl":
        digest = crawl_gate(gate, doc, recorded)
    else:
        digest = analytics_gate(gate, doc, recorded)
    describe(doc)
    shutil.rmtree(WORK / args.workload / "tables", ignore_errors=True)

    if args.trace:
        metrics = {m["name"]: {"value": doc["traced"]["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = e2e_metrics(doc)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = gate.failed == 0
    if correct:
        seen_before.parent.mkdir(exist_ok=True)
        seen_before.write_text(json.dumps(digest))
    if args.record and correct:
        expected.setdefault(args.workload, {})[str(args.seed)] = digest
        args.expected.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    log(f"ops_failed_frac {gate.failed / max(1, gate.attempted):.6f} "
        f"({gate.failed} of {gate.attempted}); {time.monotonic() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": gate.attempted,
                      "failed": gate.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
