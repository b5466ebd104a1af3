#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client, one query at a time.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1
  python3 perfbench/run.py ... --corrupt-pin <query>   # shows the check failing

Run from the root of a checkout. Each run:
1. builds the program and the benchmark's JVM side from source (perfbench/build.py);
2. derives the workload's inputs from the harness tables with the seed
   (perfbench/gen.py), cached per (source, seed, copies);
3. times the cold set-up in SETUP_JVMS fresh JVMs: all but one run
   perfbench.PerfBench with no queries, and the last runs the workload on
   local[nproc]: one untimed check lap that dumps every output, then a
   fixed number of timed laps worth about --seconds; with --trace 1 even
   laps carry Spark listeners;
4. checks every dumped output, untimed, against the (rows, digest) of its
   DuckDB oracle twin run on the same inputs; q_wordcount's top 20 is also
   checked against a sequential count;
5. prints one line per metric, then the result as one JSON line.

Everything is written under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

SPEC = json.loads((HERE / "workloads.json").read_text())
NPROC = os.cpu_count() or 1
SETUP_JVMS = 2     # cold set-ups per run, each in a fresh JVM; setup_s is their median
DEADLINE_S = 150   # for all of a run's JVMs, so the run ends within 180 s
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
DELIM = r"[!.:;_,'@?()/° \n\t]+"  # graft.operators.Tokenize.Delim
KEEP = r"[`-z]"                     # graft.operators.Tokenize.KeepRegex


def testdata_dir(root, sf):
    """The harness table directory for scale `sf` as TESTDATA.md lists it
    (or $PERFBENCH_TESTDATA/<sf>)."""
    if "PERFBENCH_TESTDATA" in os.environ:
        d = Path(os.environ["PERFBENCH_TESTDATA"]) / sf
    else:
        doc = root / "TESTDATA.md"
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(sf), doc.read_text() if doc.exists() else "")
        d = Path(m.group(1)) if m else None
    if d is None or not d.is_dir():
        raise SystemExit(f"perfbench: no harness tables for {sf}")
    return d


def inputs(root, work, w, seed, keep=8):
    """The generated input dir for (source, seed, copies); the cache keeps
    the `keep` most recently used ones."""
    src = testdata_dir(root, w["source"])
    dst = work / "data" / f"{w['source']}-seed{seed}-x{w['copies']}"
    if not dst.is_dir():
        gen.generate(src, dst, seed, w["copies"])
    dst.touch()
    for old in sorted(dst.parent.iterdir(), key=lambda d: d.stat().st_mtime)[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return dst


def run_jvm(jar, jars, work, data, queries, laps, trace, tag, deadline):
    """Runs perfbench.PerfBench, killing it at `deadline` (a time.monotonic()
    value); returns its raw records and the dump dir."""
    dump, tmp = work / "dump" / tag, work / "tmp" / tag
    for d in (dump, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    out, spans = work / "results" / f"{tag}.raw.json", work / "results" / f"{tag}.spans.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.language=en", "-Duser.country=US",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-cp", f"{jar}:{jars}/*", "perfbench.PerfBench",
        f"data={data}", "queries=" + ",".join(queries), f"laps={laps}",
        f"trace={trace}", f"cpus={NPROC}",
        f"dump={dump}", f"out={out}", f"spans={spans}"])
    log = work / "results" / f"{tag}.log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-3000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (rc={rc})")
    shutil.rmtree(tmp, ignore_errors=True)
    return json.loads(out.read_text()), dump


# ---------------------------------------------------------------- checks

def digest(con, relation):
    """(rows, sorted column names, order-independent digest) of a relation:
    the sum over rows of a 64-bit md5 of the row's canonical text."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    def canon(name, typ):
        c = '"' + name.replace('"', '""') + '"'
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            c = f"CAST({c} AS TIMESTAMP)"
        elif typ in ("DOUBLE", "FLOAT"):
            c = f"({c} + 0.0)"  # -0.0 and 0.0 are one value
        return f"coalesce(CAST({c} AS VARCHAR), '\\N')"
    cols = sorted((c[0], c[1]) for c in cols)
    row = " || '|' || ".join(canon(n, t) for n, t in cols) or "''"
    n, h = con.execute(f"SELECT count(*), coalesce(sum(md5_number_lower({row})::HUGEINT), 0) "
                       f"FROM {relation}").fetchone()
    return {"rows": int(n), "cols": [c[0] for c in cols], "digest": str(int(h) % (1 << 64))}


def sequential_top20(docs_parquet):
    """q_wordcount's top 20 by a plain sequential count, as the reference's
    WordCounter does it, with the engine's delimiter and keep rule."""
    import pyarrow.parquet as pq
    split, keep = re.compile(DELIM), re.compile(KEEP)
    cnt = Counter()
    for text in pq.read_table(docs_parquet, columns=["text"]).column("text").to_pylist():
        if text is not None:
            cnt.update(w for w in split.split(text) if keep.search(w.lower()))
    return sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0].encode()))[:20]


def check(raw, dump, data, w, work, args):
    """Returns {query: error or None} for every query in the workload."""
    import duckdb
    con = duckdb.connect(config={"temp_directory": str(work / "tmp" / "duckdb")})
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    ran = {r["query"]: r for r in raw["records"] if r["lap"] == 0}
    errors = {}
    for q in w["queries"]:
        r = ran.get(q)
        if r is None or not r["ok"]:
            errors[q] = (r or {}).get("error", "not run")
            continue
        if q not in raw["oracle"]:
            errors[q] = "no DuckDB oracle twin"
            continue
        got = digest(con, f"read_parquet('{dump}/{q}/*.parquet')")
        want = digest(con, "(" + raw["oracle"][q] + ")")
        if q == args.corrupt_pin:
            want["digest"] = str((int(want["digest"]) + 1) % (1 << 64))
        if got != want:
            errors[q] = f"output {got} != oracle {want}"
        elif q == "q_wordcount":
            top = con.execute(f"SELECT word, cnt FROM read_parquet('{dump}/{q}/*.parquet') "
                              "ORDER BY cnt DESC, word LIMIT 20").fetchall()
            seq = sequential_top20(data / "documents.parquet")
            if [tuple(x) for x in top] != seq:
                errors[q] = f"top-20 {top[:3]}... != sequential {seq[:3]}..."
        errors.setdefault(q, None)
    return errors


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0], xs[0], xs[0]]


def metrics(raw, setup, w, trace):
    timed = [r for r in raw["records"] if r["lap"] > 0]
    laps = sorted({r["lap"] for r in timed})
    lap_rows = {l: [r for r in timed if r["lap"] == l] for l in laps}
    lap_s = {l: sum(r["wall_s"] for r in rows) for l, rows in lap_rows.items()}
    if not trace:
        per_q = [median([r["wall_s"] for r in timed if r["query"] == q]) for q in w["queries"]]
        return {
            "setup_s": (median([s["total_s"] for s in setup]), "s"),
            "lap_s": (median(list(lap_s.values())), "s"),
            "query_geomean_s": (math.exp(sum(math.log(t) for t in per_q) / len(per_q)), "s"),
            "heap_live_peak_mb": (max(r["heap_mb"] for r in raw["records"]), "MB"),
        }, lap_s
    traced = [l for l in laps if lap_rows[l][0]["traced"]]
    plain = [l for l in laps if not lap_rows[l][0]["traced"]]

    def per_lap(f):
        return median([f(lap_rows[l], lap_s[l]) for l in traced])

    def total(key):
        return lambda rows, wall: sum(r[key] for r in rows)

    def planning(rows):
        return sum(r["analysis_s"] + r["optimization_s"] + r["planning_s"] for r in rows)
    m = {
        "sessions.build_s": (median([s["build_s"] for s in setup]), "s"),
        "queries.build_s": (per_lap(total("build_s")), "s"),
        "queries.build_jobs": (per_lap(total("build_jobs")), "count"),
        "queries.pinned_mb": (per_lap(total("pinned_mb")), "MB"),
        "plans.analysis_s": (per_lap(total("analysis_s")), "s"),
        "plans.optimization_s": (per_lap(total("optimization_s")), "s"),
        "plans.planning_s": (per_lap(total("planning_s")), "s"),
        "exec.jobs": (per_lap(total("jobs")), "count"),
        "exec.stages": (per_lap(total("stages")), "count"),
        "exec.tasks": (per_lap(total("tasks")), "count"),
        "exec.task_failures": (per_lap(total("task_failures")), "count"),
        "exec.busy_s": (per_lap(total("busy_s")), "s"),
        "exec.idle_s": (per_lap(lambda rows, wall: wall - sum(r["busy_s"] for r in rows) - planning(rows)), "s"),
        "exec.task_cpu_s": (per_lap(total("task_run_s")), "s"),
        "exec.core_util": (per_lap(lambda rows, wall: sum(r["task_run_s"] for r in rows) / (wall * NPROC)), "ratio"),
        "exec.shuffle_write_mb": (per_lap(total("shuffle_write_mb")), "MB"),
        "exec.shuffle_read_mb": (per_lap(total("shuffle_read_mb")), "MB"),
        "exec.spill_mb": (per_lap(total("spill_mb")), "MB"),
        "exec.input_rows": (per_lap(total("input_rows")), "count"),
        "exec.input_mb": (per_lap(total("input_mb")), "MB"),
        "exec.skew_max": (per_lap(lambda rows, wall: max(r["skew_max"] for r in rows)), "ratio"),
        "jvm.gc_s": (per_lap(total("gc_s")), "s"),
        # self time per span layer: span duration minus what its child job
        # spans cover. A query span is exactly its build and sink spans, and
        # a job span's self time is exec.busy_s.
        "self.build_s": (per_lap(lambda rows, wall: sum(r["build_s"] - r["busy_build_s"] for r in rows)), "s"),
        "self.sink_s": (per_lap(lambda rows, wall: sum(r["sink_s"] - r["busy_sink_s"] for r in rows)), "s"),
        "trace.lap_traced_s": (median([lap_s[l] for l in traced]), "s"),
        "trace.lap_untraced_s": (median([lap_s[l] for l in plain]), "s"),
        # traced lap minus the mean of the untraced laps around it
        "trace.overhead_s": (median([lap_s[l] - (lap_s[l - 1] + lap_s[l + 1]) / 2
                                     for l in traced if l + 1 in lap_s]), "s"),
    }
    return m, lap_s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-pin", default=None,
                    help="perturb this query's oracle digest: the run must report it as failed")
    args = ap.parse_args()
    root = Path.cwd()
    work = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    w = SPEC[args.workload]

    jar, jars = build.build(root, work), build.spark_jars(root)
    data = inputs(root, work, w, args.seed)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    deadline = time.monotonic() + DEADLINE_S
    setup = [run_jvm(jar, jars, work, data, [], 0, 0, f"{tag}-setup{i}", deadline)[0]["setup"]
             for i in range(1, SETUP_JVMS)]
    # A fixed lap count per workload, sized so the laps take --seconds at the
    # workload's recorded lap time: with the JIT still warming lap after lap,
    # a count that followed the clock would shift the median with host speed.
    laps = max(3 if args.trace else 2, round(args.seconds / w["lap_estimate_s"]))
    raw, dump = run_jvm(jar, jars, work, data, w["queries"], laps, args.trace, tag, deadline)
    setup.append(raw["setup"])
    errors = check(raw, dump, data, w, work, args)
    if not any(errors.values()):
        shutil.rmtree(dump)  # kept only when a check failed

    recs = raw["records"]
    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"] or (r["lap"] == 0 and errors.get(r["query"])))
    m, lap_s = metrics(raw, setup, w, args.trace == 1)

    for q, e in errors.items():
        if e:
            print(f"FAIL {q}: {e}")
    for name, (v, unit) in m.items():
        print(f"{args.workload} {name} = {v:.6g} {unit}")
    laps = list(lap_s.values())
    q1, q2, q3 = quartiles(laps)
    print(f"{args.workload} laps n={len(laps)} median={q2:.4f}s q1={q1:.4f}s q3={q3:.4f}s")
    heap = {}
    for r in recs:
        heap[r["lap"]] = max(heap.get(r["lap"], 0.0), r["heap_mb"])
    print(f"{args.workload} heap_live_mb by lap: " + " ".join(f"{l}:{v:.0f}" for l, v in sorted(heap.items())))
    print(f"{args.workload} fail_frac = {failed / attempted:.6g} ({failed}/{attempted})")
    print(json.dumps({
        "correct": not any(errors.values()) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))


if __name__ == "__main__":
    main()
