#!/usr/bin/env python3
"""The graft benchmark: one named workload, one seed, one run.

    python3 graftbench/run.py --workload corpus_ops --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (later runs reuse the build while no Scala
source changes). Each run generates its inputs from the seed, runs the
workload in one JVM (see README.md), checks every op's output, prints the
metrics by name with their units, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
`graftbench/.traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

CORPUS_OPS = [
    "dd_minhash_lsh", "dd_ssjoin_prefix", "dd_incremental", "dd_chunk_overlap", "g7_cdc_chunk",
    "tx_bigram_lm", "tx_ppl_buckets", "tx_langid_trained", "sm_dsir", "g4_pagerank",
    "g5_label_prop", "ann_mplsh_topk",
]
WORKLOADS = {
    "corpus_ops": {"sf": 0.01, "ops": CORPUS_OPS},
    # day 0 is the cold op; days 1-3 are the warm round (compaction on day 2,
    # a late correction on day 3)
    "daily_load": {"cities": 100, "days": 4},
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
TARGET = os.path.join(HERE, "target")


def log(msg):
    print(f"[graftbench] {msg}", flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(ROOT, "src", "main", "resources", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")])
    files = [f for f in files if os.path.isfile(f)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    digest = sources_digest()
    cp_file = os.path.join(TARGET, "graftbench.classpath")
    stamp_file = os.path.join(TARGET, "graftbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return open(cp_file).read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=700)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return lines[-1]


def write_daily_inputs(data, plan):
    with open(os.path.join(data, "days.tsv"), "w") as fh:
        for d in plan:
            corrected_iso = gen.day_stamp(d["corrected_day"])[0] if d["corrected_day"] >= 0 else ""
            fh.write(f"{d['day']}\t{d['iso']}\t{d['date']}\t{corrected_iso}\t{','.join(d['corrected_cities'])}\n")
            for kind in ("current", "forecast"):
                with open(os.path.join(data, f"day{d['day']:03d}_{kind}.jsonl"), "w") as out:
                    out.write("\n".join(d[kind]) + "\n")


def run_jvm(classpath, args, work, deadline):
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file under /tmp: the run writes only inside the checkout
           + ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC"]
           + ["-cp", classpath, "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=max(10.0, deadline - time.time()))
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"graftbench: the harness JVM exited with {p.returncode}")


# ---------------------------------------------------------------- checks

def _canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    nonf = [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])]
    flts = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    key = pd.concat([df[nonf].astype(str), df[flts].round(6)], axis=1)
    order = key.sort_values(by=nonf + flts, kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def _kind(s):
    import pandas as pd
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "other"


def compare(got, want):
    """None when the op's output equals the oracle's, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got, want = _canon(got), _canon(want)
    for c in got.columns:
        a, b = got[c], want[c]
        if _kind(a) != _kind(b):
            return f"column {c}: dtype {a.dtype} != {b.dtype}"
        if _kind(a) == "float":
            ok = ((a - b).abs() < 1e-9) | (a.isna() & b.isna())
        else:
            ok = a.astype(str) == b.astype(str)
        if not ok.all():
            i = int((~ok).values.argmax())
            return f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def check_queries(result, data):
    """op -> failure reason, for every op whose output check failed."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(result["summary"]["oracle_sql"]))
    failed = {}
    for op, verdict in result["checks"].items():
        if verdict == "ok":
            continue
        if not verdict.startswith("dump:"):
            failed[op] = verdict
            continue
        files = glob.glob(os.path.join(verdict[5:], "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.DataFrame()
        try:
            want = con.execute(oracles[op]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            failed[op] = f"oracle error: {e}"
            continue
        diff = compare(got, want)
        if diff:
            failed[op] = diff
    return failed


def check_daily(result, plan, cities):
    """op -> failure reason, from the invariants the generator knows."""
    obs = result["summary"]
    failed = {}
    ran = [s["op"] for s in result["samples"]]
    for op in ran:
        d = plan[int(op[3:])]
        want = {"silver_rows": d["valid_current"], "forecast_rows": cities * gen.FORECAST_POINTS}
        want.update(d["expect"])
        bad = [f"{k} {obs.get(f'{op}.{k}')} != {v}" for k, v in want.items() if obs.get(f"{op}.{k}") != v]
        if bad:
            failed[op] = "; ".join(bad)
    days = [plan[int(op[3:])] for op in ran]
    end = {"end.dim_rows": cities + sum(d["drifts"] for d in days),
           "end.dim_current_rows": cities,
           "end.silver_rows": sum(d["valid_current"] for d in days),
           "end.forecast_rows": cities * gen.FORECAST_POINTS * len(days)}
    bad = [f"{k} {obs.get(k)} != {v}" for k, v in end.items() if obs.get(k) != v]
    if bad and ran:
        failed[ran[-1]] = "; ".join([failed.get(ran[-1], "")] + bad).strip("; ")
    return failed


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    # a terminated run still stops its JVM (subprocess.run kills the child
    # on any exception) and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: run from a checkout of the repository (program sources not found)")
    classpath = build()
    deadline = (time.time() if time.time() - started > 60 else started) + RUN_LIMIT_S

    cfg = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(data)
    os.makedirs(out)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--out", out]
        plan = None
        if a.workload == "daily_load":
            plan = gen.weather_days(a.seed, cfg["cities"], cfg["days"])
            write_daily_inputs(data, plan)
        else:
            gen.tables(data, a.seed, cfg["sf"])
            args += ["--ops", ",".join(cfg["ops"])]
        run_jvm(classpath, args, work, deadline)
        result = json.load(open(os.path.join(out, "result.json")))
        failed = (check_daily(result, plan, cfg["cities"]) if plan is not None
                  else check_queries(result, data))
        for s in result["samples"]:
            if s.get("error"):
                failed.setdefault(s["op"], s["error"])
        for op, why in sorted(failed.items()):
            log(f"FAILED {op}: {why}")
        attempted, n_failed = metrics.count_failures(result["samples"], failed)

        e2e = metrics.end_to_end(result)
        _, pct, n = metrics.latency_tail(result["samples"])
        extra = {"run.failed_ratio": n_failed / attempted, "run.latency_tail_pct": pct,
                 "run.latency_tail_samples": n}
        if a.trace:
            values = dict(metrics.per_layer(result), **extra)
            values["trace.ops_per_s"] = e2e["ops_per_s"]
            spec, shown = metrics.PER_LAYER, values
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            trace_path = os.path.join(HERE, ".traces", f"{a.workload}-seed{a.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": values,
                           "per_op": metrics.breakdown(result), "samples": result["samples"],
                           "spans": result["spans"], "counters": result["counters"]}, fh)
            log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        else:
            spec, values, shown = metrics.END_TO_END, e2e, dict(e2e, **extra)
        absent = metrics.missing(values, spec)
        if absent:
            raise SystemExit(f"graftbench: metrics missing: {absent}")
        units = dict(metrics.PER_LAYER, **metrics.END_TO_END)
        for k in sorted(shown):
            log(f"{k:40s} {shown[k]:.6g} {units[k][0]}")
        log(f"run took {time.time() - started:.1f} s")
        print(json.dumps({
            "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
            "metrics": {k: {"value": values[k], "unit": spec[k][0]} for k in spec}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
