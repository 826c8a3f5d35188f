#!/usr/bin/env python3
"""The repository benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (``sbt``, once per source
state), generates the workload's inputs from the seed, runs the harness in
one JVM (``local[nproc]``, one closed-loop client: each operation starts
when the previous one ends), checks every output, and prints a summary
followed by one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Workloads, query lists and generator parameters are in
``perfbench/workloads.json``; metric definitions in ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
MB = 1024 * 1024
# Metric units and definitions; a layer that a workload does not run reads
# 0 there (the reviews layers on dedup_pairs, the dedup and graph layers on
# reviews_chisq).
METRICS = json.load(open(os.path.join(BENCH, "metrics.json")))
SETUPS = 3
MIN_PASSES = 4
HEAP = "1g"
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def walk(top, skip=("target", ".bsp", "project/project")):
    out = []
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs
                   if x not in skip and not os.path.join(d, x).endswith(skip)]
        out += [os.path.join(d, f) for f in files]
    return out


def source_files():
    return (walk(os.path.join(ROOT, "src", "main"))
            + walk(os.path.join(BENCH, "harness")) + [os.path.abspath(__file__)]
            + [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties")])


def build():
    """Compile engine + harness once per source state; returns the
    classpath and the source hash."""
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    stamp = sha256_files(source_files())
    if (os.path.exists(cp_path) and os.path.exists(stamp_path)
            and open(stamp_path).read() == stamp):
        return open(cp_path).read(), stamp
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=os.path.join(BENCH, "harness"), capture_output=True, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    cps = [ln for ln in r.stdout.splitlines()
           if not ln.startswith("[") and "harness_2.13" in ln]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_path, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_path, "w") as f:
        f.write(stamp)
    for f in os.listdir(WORK):   # class archives of the previous build
        if f.endswith(".jsa"):
            os.remove(os.path.join(WORK, f))
    return cps[-1].strip(), stamp


# ------------------------------------------------------------- inputs --
def generator_sha256():
    """Inputs and expected outputs are cached under a key that includes
    the code that makes them."""
    return sha256_files([os.path.join(BENCH, f) for f in ("gen.py", "refchisq.py")])


def reviews_input(seed, n):
    import gen
    import refchisq
    stop_path = os.path.join(ROOT, "src", "main", "resources", "stopwords.txt")
    stopwords = refchisq.load_stopwords(stop_path)
    key = hashlib.sha256(json.dumps([seed, n, gen.REVIEW_PARAMS, generator_sha256()],
                                    sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(WORK, "data", f"reviews-{key}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "reviews.json")
        meta = gen.reviews(path, seed, n, stopwords)
        chisq, counters = refchisq.expected(path, stopwords)
        for name, data in (("chisq.txt", chisq), ("counters.txt", counters)):
            with open(os.path.join(d, "expected_" + name), "wb") as f:
                f.write(data)
        meta["input_sha256"] = sha256_files([path])
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    meta = json.load(open(meta_path))
    return d, meta, {"reviews": os.path.join(d, "reviews.json"),
                     "stopwords": stop_path,
                     "expected_chisq": os.path.join(d, "expected_chisq.txt"),
                     "expected_counters": os.path.join(d, "expected_counters.txt")}


def tables_input(seed, spec):
    import gen
    key = hashlib.sha256(json.dumps([seed, spec, gen.TABLE_ROWS, generator_sha256()],
                                    sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(WORK, "data", f"tables-{key}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(d, exist_ok=True)
        meta = gen.tables(d, seed, spec["sf"], spec["documents"],
                          spec["embeddings"])
        meta["input_sha256"] = sha256_files(
            [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")])
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    return d, json.load(open(meta_path))


def check_queries(data_dir, run_dir, names):
    """DuckDB check of every set-up pass's outputs; expected digests are
    cached per input directory and oracle SQL."""
    import oracle
    sql = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:16]
    cache = os.path.join(data_dir, f"expected-{key}.json")
    if not os.path.exists(cache):
        with open(cache, "w") as f:
            json.dump(oracle.expected(data_dir, sql), f)
    want = json.load(open(cache))
    bad = []
    check_root = os.path.join(run_dir, "check")
    for s in sorted(os.listdir(check_root)):
        got = oracle.actual(os.path.join(check_root, s), names)
        bad += [f"{n} (set-up {s}): expected {want[n]}, got {got[n]}"
                for n in names if got[n] != want[n]]
    return bad


# ------------------------------------------------------------ harness --
def run_harness(cp, props, run_dir, deadline):
    """Run the harness JVM and wait for it; exits the benchmark on failure.

    Class loading and verification are most of a cold JVM's start. Before
    the first run of a workload after a build, a short JVM (one set-up, no
    measured pass) dumps the classes it loaded into an application
    class-data archive, which every measured run then maps; this changes
    no code that runs once a class is loaded."""
    archive = os.path.join(WORK, f"classes-{props['workload']}.jsa")
    if not os.path.exists(archive):
        dump = dict(props, setups=1, min_passes=0, seconds=0,
                    work=os.path.join(run_dir, "cds"))
        _java(cp, dump, f"-XX:ArchiveClassesAtExit={archive}.tmp", deadline)
        os.replace(archive + ".tmp", archive)
    _java(cp, props, f"-XX:SharedArchiveFile={archive}", deadline)


def _java(cp, props, cds_flag, deadline):
    work = props["work"]
    os.makedirs(work, exist_ok=True)
    props_path = os.path.join(work, "run.properties")
    with open(props_path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [cds_flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
              f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
              props_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail("harness timed out" if code is None else f"harness exited with {code}")


def load_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


# ------------------------------------------------------------ metrics --
def med(xs):
    return statistics.median(xs) if xs else 0.0


class Trace:
    """Spans of one run, with listener totals rolled up to ancestors."""

    def __init__(self, run_dir):
        self.spans = {s["id"]: s for s in load_jsonl(os.path.join(run_dir, "spans.jsonl"))}
        for s in self.spans.values():
            s["dur"] = (s["end_ns"] - s["start_ns"]) / 1e9
            s["children"] = []
        for s in self.spans.values():
            if s["parent"] in self.spans:
                self.spans[s["parent"]]["children"].append(s)
        self.own = {r["span"]: r for r in load_jsonl(os.path.join(run_dir, "spanstats.jsonl"))}
        self.stages = load_jsonl(os.path.join(run_dir, "stages.jsonl"))

    def find(self, name, traced):
        """Spans called ``name`` in measured passes, plain or traced."""
        return [s for s in self.spans.values()
                if s["name"] == name and s["pass"] > 0 and s["traced"] == traced]

    def by_pass(self, name, traced):
        out = {}
        for s in self.find(name, traced):
            out.setdefault(s["pass"], []).append(s)
        return out

    def ids(self, s):
        out = [s["id"]]
        for c in s["children"]:
            out += self.ids(c)
        return out

    def stat(self, spans, key):
        return sum(self.own.get(i, {}).get(key, 0) for s in spans for i in self.ids(s))

    def child(self, s, name):
        return sum(c["dur"] for c in s["children"] if c["name"] == name)

    def child_stat(self, s, name, key):
        return self.stat([c for c in s["children"] if c["name"] == name], key)

    def heaviest(self, spans):
        ids = {i for s in spans for i in self.ids(s)}
        st = [x for x in self.stages if x["span"] in ids]
        return max(st, key=lambda x: x["run_ms"]) if st else None


def spark_metrics(tr, ops_by_pass, cores):
    """Runtime metrics under every layer, per traced pass, then medians."""
    rows = []
    for ops in ops_by_pass.values():
        wall = sum(s["dur"] for s in ops)
        h = tr.heaviest(ops)
        rows.append({
            "spark.jobs": tr.stat(ops, "jobs"),
            "spark.stages": tr.stat(ops, "stages"),
            "spark.tasks": tr.stat(ops, "tasks"),
            "spark.executor_cpu_s": tr.stat(ops, "cpu_ns") / 1e9,
            "spark.core_util": tr.stat(ops, "run_ms") / 1e3 / (wall * cores),
            "spark.gc_s": tr.stat(ops, "gc_ms") / 1e3,
            "spark.shuffle_read_mb": tr.stat(ops, "shuffle_read") / MB,
            "spark.shuffle_write_mb": tr.stat(ops, "shuffle_write") / MB,
            "spark.spill_mb": tr.stat(ops, "spill") / MB,
            "spark.heaviest_stage_max_task_s": h["max_task_ms"] / 1e3 if h else 0.0,
            "spark.heaviest_stage_median_task_s": h["median_task_ms"] / 1e3 if h else 0.0,
        })
    return {k: med([r[k] for r in rows]) for k in rows[0]} if rows else {}


def layer_metrics(workload, tr, spec, cores, run):
    m = {}
    if workload == "reviews_chisq":
        runs = tr.by_pass("pipeline.run", True)
        pre = {n: tr.by_pass("prefix." + n, True)
               for n in ("parse", "tokenize", "docfreq", "chisq")}
        rows = []
        for p, (r,) in runs.items():
            P = {n: pre[n][p][0] for n in pre}
            d = {n: P[n]["dur"] for n in P}
            tokens = P["tokenize"]["rows"]["tokens"]
            pairs = P["docfreq"]["rows"]["pairs_out"]
            rows.append({
                "model.parse_s": d["parse"],
                "model.rows_in": P["parse"]["rows"]["rows_in"],
                "text.tokenize_s": d["tokenize"] - d["parse"],
                "text.tokens": tokens,
                "wordcount.docfreq_s": d["docfreq"] - d["tokenize"],
                "wordcount.pairs_out": pairs,
                "wordcount.pairs_per_token": pairs / tokens if tokens else 0.0,
                "wordcount.shuffle_mb": (tr.stat([P["docfreq"]], "shuffle_write")
                                         - tr.stat([P["tokenize"]], "shuffle_write")) / MB,
                "chisq.score_s": d["chisq"] - d["docfreq"],
                "chisq.scored_rows": P["chisq"]["rows"]["scored_rows"],
                "chisq.topk_rows": P["chisq"]["rows"]["topk_rows"],
                "pipeline.self_s": r["dur"] - d["chisq"],
                "pipeline.jobs": tr.stat([r], "jobs"),
                "pipeline.write_mb": tr.stat([r], "written") / MB,
                "entry.construct_s": tr.child(P["chisq"], "construct"),
                "entry.execute_s": tr.child(P["chisq"], "execute"),
                "entry.construct_jobs": tr.child_stat(P["chisq"], "construct", "jobs"),
                "entry.execute_jobs": tr.child_stat(P["chisq"], "execute", "jobs"),
                "trace.wall_s": r["dur"],
            })
        m.update({k: med([r[k] for r in rows]) for k in rows[0]})
        m["model.malformed_rows"] = run["malformed_rows"]
        ops = {p: [r] for p, (r,) in runs.items()}
        m["trace.overhead_s"] = m["trace.wall_s"] - med(
            [s["dur"] for s in tr.find("pipeline.run", False)])
    else:
        layers = spec.get("layers", {})
        ops = {}
        for s in tr.find("pass", True):
            ops[s["pass"]] = [c for c in s["children"] if c["name"].startswith("q:")]
        rows = []
        for qs in ops.values():
            r = {}
            for prefix, sel in (("entry", qs),
                                ("dedup", [q for q in qs if layers.get(q["name"][2:]) == "dedup"]),
                                ("graph", [q for q in qs if layers.get(q["name"][2:]) == "graph"])):
                r[f"{prefix}.construct_s"] = sum(tr.child(q, "construct") for q in sel)
                r[f"{prefix}.execute_s"] = sum(tr.child(q, "execute") for q in sel)
                r[f"{prefix}.construct_jobs"] = sum(tr.child_stat(q, "construct", "jobs")
                                                   for q in sel)
                r[f"{prefix}.execute_jobs"] = sum(tr.child_stat(q, "execute", "jobs")
                                                 for q in sel)
                if prefix == "dedup":
                    r["dedup.pairs_emitted"] = sum(q["rows"].get("rows", 0) for q in sel)
                    r["dedup.shuffle_mb"] = tr.stat(sel, "shuffle_write") / MB
            r["trace.wall_s"] = sum(q["dur"] for q in qs)
            rows.append(r)
        m.update({k: med([r[k] for r in rows]) for k in rows[0]})
        untraced = [sum(c["dur"] for c in s["children"]) for s in tr.find("pass", False)]
        m["trace.overhead_s"] = m["trace.wall_s"] - med(untraced)
    m["entry.construct_share"] = (m["entry.construct_s"]
                                  / (m["entry.construct_s"] + m["entry.execute_s"]))
    m.update(spark_metrics(tr, ops, cores))
    return m


def e2e_metrics(workload, tr, run):
    """End-to-end metrics (the JSON line's) and per-operation latencies.
    The first measured pass still warms the JIT up; medians skip it."""
    def warm(spans):
        return [s["dur"] for s in spans if s["pass"] > 1]
    if workload == "reviews_chisq":
        ops = warm(tr.find("pipeline.run", False))
    else:
        ops = warm(s for s in tr.spans.values()
                   if s["name"].startswith("q:") and s["pass"] > 0 and not s["traced"])
    return {
        "wall_s": med(warm(tr.find("pass", False))),
        "setup_s": med(run["setup_s"]),
        "peak_heap_mb": med(run["heap_peak_bytes"][1:]) / MB,
    }, ops


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    for need in ("build.sbt", "src/main/scala", "src/main/resources/stopwords.txt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")
    workloads = json.load(open(os.path.join(BENCH, "workloads.json")))
    spec = workloads.get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    os.makedirs(WORK, exist_ok=True)
    load_start = os.getloadavg()[0]
    cp, source_sha256 = build()
    deadline = max(deadline, time.time() + DEADLINE_S)   # a build restarts the clock

    cores = os.cpu_count()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    props = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
             "cores": cores, "setups": SETUPS,
             # a traced run alternates plain and traced passes: two of each
             "min_passes": MIN_PASSES + args.trace,
             "work": run_dir}
    if args.workload == "reviews_chisq":
        data_dir, meta, files = reviews_input(args.seed, spec["reviews"])
        props.update(files)
    else:
        data_dir, meta = tables_input(args.seed, spec["tables"])
        names = list(spec["queries"])
        random.Random(args.seed).shuffle(names)
        props.update({"data": data_dir, "queries": ",".join(names)})

    ticks0 = cpu_ticks()
    run_harness(cp, props, run_dir, deadline)
    ticks1 = cpu_ticks()
    run = json.load(open(os.path.join(run_dir, "run.json")))
    failures = list(run["failures"])
    if args.workload != "reviews_chisq":
        failures += check_queries(data_dir, run_dir, names)
    tr = Trace(run_dir)
    e2e, ops = e2e_metrics(args.workload, tr, run)
    attempted = run["attempted"]
    failed = len(failures)

    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": cores, "heap": HEAP,
             "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
             "steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]
                                                          + ticks1[1] - ticks0[1]),
             "setup_cold_s": run["setup_s"][0], "git_commit": git_commit(),
             "source_sha256": source_sha256, "input": meta}
    for f in failures:
        print(f"FAILED {f}")
    for k, v in e2e.items():
        print(f"{k:>14} {v:12.4f} {METRICS['end_to_end'][k]['unit']}")
    print(f"{'failed_ops':>14} {failed / attempted:12.4f} ratio ({failed}/{attempted})")
    print(f"{'cpu_s':>14} {med(run['pass_cpu_s'][1:]):12.4f} s (JVM process CPU per pass)")
    if args.workload == "reviews_chisq":
        print(f"{'reviews_per_s':>14} {meta['reviews'] / med(ops):12.1f} 1/s "
              f"({meta['reviews']} reviews)")
    # per-call latency; a percentile is reported only with ten samples beyond it
    print(f"{'query_p50_s':>14} {med(ops):12.4f} s (over {len(ops)} calls"
          + (f"; query_p80_s {statistics.quantiles(ops, n=5)[3]:.4f} s)" if len(ops) >= 50
             else "; too few for query_p80_s)"))
    if args.trace:
        layers = layer_metrics(args.workload, tr, spec, cores, run)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": d["unit"]}
                   for k, d in METRICS["per_layer"].items()}
        for k, v in metrics.items():
            print(f"{k:>36} {v['value']:14.4f} {v['unit']}")
        parts = (["model.parse_s", "text.tokenize_s", "wordcount.docfreq_s", "chisq.score_s",
                  "pipeline.self_s"] if args.workload == "reviews_chisq" else
                 ["dedup.construct_s", "dedup.execute_s", "graph.construct_s",
                  "graph.execute_s"])
        print(f"layer sum {sum(layers[k] for k in parts):.4f} s = "
              f"{' + '.join(parts)}; trace.wall_s {layers['trace.wall_s']:.4f} s; "
              f"trace.overhead_s {layers['trace.overhead_s']:.4f} s")
    else:
        metrics = {k: {"value": v, "unit": METRICS["end_to_end"][k]["unit"]}
                   for k, v in e2e.items()}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
