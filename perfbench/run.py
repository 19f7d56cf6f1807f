"""graft benchmark: one seeded workload per invocation, end to end.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the program from
``src/main/scala`` together with the JVM harness in ``perfbench/harness``
(scalac from the Spark jars; no sbt), then every call:

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. launches one fresh JVM on ``local[n]``, n = nproc, which runs the
   workload as a closed loop with a single client, in whole passes or
   blocks of its op mix until ``--seconds`` have passed;
3. checks the program's outputs outside the timed ops: query_mix against
   each query's DuckDB oracle on an sf0.01 instance of the same seed, the
   other workloads against the generator's model;
4. prints every metric by name and unit, then one JSON line.

``--trace 1`` installs the Spark, query-execution and streaming listeners and
reports the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("query_mix", "etl_cdc", "store_churn")
# query_mix session size (family-stratified, see query_session)
SESSION = 6
ETL_BATCHES = 40
STORE_BLOCKS = 12
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_DEADLINE_S = 165


def log(*a):
    print(*a, flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- environment

def pinned_env():
    """Cores from nproc; heap by the tier-1 rule (half of MemTotal, 2-8g)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_g = min(8, max(2, kb // 2097152))
    return cores, heap_g


def build(root):
    """Compile the program and the harness once per source state; reuse the
    classes while no source file changes."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail(f"no program sources under {root}/src/main/scala (run from a checkout root)")
    harness = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    res = sorted(p for p in glob.glob(f"{root}/src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + harness + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = f"{HERE}/.out/build-{h.hexdigest()[:16]}"
    classes = f"{out}/classes"
    if os.path.exists(f"{out}/ok"):
        return classes
    for old in glob.glob(f"{HERE}/.out/build-*"):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    log(f"[perfbench] building {len(srcs)} program + {len(harness)} harness sources")
    t0 = time.time()
    cp = f"{SPARK_JARS}/*"
    p = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs + harness,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    for r in res:
        dst = os.path.join(classes, os.path.relpath(r, f"{root}/src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(r, dst)
    open(f"{out}/ok", "w").close()
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return classes


# ---------------------------------------------------------------- inputs

def query_session():
    """The query_mix session: from each family, the queries at evenly spaced
    ranks of the family's recorded cost (SESSION queries in all). Set and
    order are the same for every seed, which changes only the data: with
    queries costing 0.1-11 s and a JVM warming up as it goes, a seed-drawn
    sample moved the median and the tail by 20-80% from seed to seed, and a
    seeded order by 13-37%."""
    with open(f"{HERE}/queries.json") as f:
        cat = json.load(f)
    picks = []
    for fam in sorted({q["family"] for q in cat.values()}):
        names = sorted((q["cost_s"], n) for n, q in cat.items() if q["family"] == fam)
        k = max(1, round(len(names) * SESSION / len(cat)))
        picks += [names[int((i + 0.5) * len(names) / k)][1] for i in range(k)]
    return picks


def prepare(workload, seed, work):
    """Write the workload's inputs under ``work``; returns what the checks need."""
    if workload == "query_mix":
        gen.harness_tables(seed, f"{work}/sf")
        gen.harness_tables(seed, f"{work}/check", gen.SF_ROWS_SMALL)
        sample = query_session()
        with open(f"{work}/queries.txt", "w") as f:
            f.write("\n".join(sample) + "\n")
        os.makedirs(f"{work}/results")
        return sample
    if workload == "etl_cdc":
        expected = gen.etl_batches(seed, f"{work}/in", ETL_BATCHES)
        with open(f"{work}/batches.txt", "w") as f:
            f.write("".join(f"{work}/in/{e['dir']}\t{(i - 1) // gen.ETL_BLOCK}\n"
                            for i, e in enumerate(expected)))
        return expected
    ops = gen.store_ops(seed, work, STORE_BLOCKS)
    return ops


# ---------------------------------------------------------------- checks

def canon(df):
    """tools/oracle_check.py's result hash: columns by name, rows sorted,
    values stringified (dates normalized)."""
    import datetime
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return ""
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return ""
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp) and v == v.normalize():
            return v.date().isoformat()
        if isinstance(v, datetime.datetime) and v.time() == datetime.time():
            return v.date().isoformat()
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def check_query_mix(work, ops):
    """Names of the queries whose result differs from their DuckDB oracle
    (or, without an oracle, came back empty or missing)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/check/{t}.parquet')")
    with open(f"{work}/results/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = {}
    for name in sorted({o["name"] for o in ops}):
        files = glob.glob(f"{work}/results/{name}/*.parquet")
        if not files:
            bad[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            if got.empty:
                bad[name] = "empty result"
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error {e}"
            continue
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns) \
                or canon(got) != canon(want):
            bad[name] = f"mismatch ({len(got)} vs {len(want)} rows)"
    return bad


def check_etl(work, expected):
    """Per batch: committed summary == the model's weekly summary of that
    batch's source, and the watermark == the source's max last_update."""
    bad = {}
    with open(f"{work}/observed.jsonl") as f:
        for line in f:
            o = json.loads(line)
            e = expected[o["batch"]]
            if not o["ok"]:
                bad[o["batch"]] = "run threw"
            elif o["watermark_ms"] != e["watermark_day"] * 86400000:
                bad[o["batch"]] = f"watermark {o['watermark_ms']} != {e['watermark_day']} days"
            elif o["summary"] != e["summary"]:
                bad[o["batch"]] = f"summary differs ({len(o['summary'])} vs {len(e['summary'])} weeks)"
    return bad


def check_store(work, ops):
    """Every read returned the model's rows; the final table equals the
    model after the ops that ran; the mirror equals the source."""
    bad = {}
    final = None
    with open(f"{work}/observed.jsonl") as f:
        for line in f:
            o = json.loads(line)
            fp = [int(x) for x in o["fp"].split(",")] if o["fp"] else []
            if o["op"] < 0:
                final = o
                want = ops[o["executed"]]["state"]
                if fp != want:
                    bad["final"] = f"table {fp} != model {want}"
                if o["mirror_fp"] != o["fp"]:
                    bad["mirror"] = f"mirror {o['mirror_fp']} != source {o['fp']}"
                continue
            op = ops[o["op"] + 1]
            if not o["ok"]:
                bad[o["op"]] = "op threw"
            elif "expect" in op and fp != op["expect"]:
                bad[o["op"]] = f"{op['op']} returned {fp}, model {op['expect']}"
    if final is None:
        bad["final"] = "no final state recorded"
    return bad


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond)."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0, 0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def end_to_end(ops, setup_s, peak_rss_mb):
    """The end-to-end metrics every workload reports (BENCHMARK.json gates
    the steady ones). ``ops`` are the timed ops with a ``good`` flag; a
    failed op counts as infinitely slow and never as completed work. The
    etl_cdc backfill is reported on its own (backfill_s)."""
    timed = [o for o in ops if o["kind"] != "backfill"]
    lat = [o["ms"] / 1000.0 if o["good"] else float("inf") for o in timed]
    t, pct, beyond = tail(lat)
    m = {"ops_per_s": (sum(o["good"] for o in timed) / (sum(o["ms"] for o in timed) / 1000.0),
                       "1/s"),
         "latency_p50_s": (statistics.median(lat), "s"),
         "latency_tail_s": (t, "s"),
         "peak_rss_mb": (peak_rss_mb, "MB"),
         "setup_s": (setup_s, "s")}
    notes = {"latency_tail_s": f"p{pct:.1f}, {beyond} samples beyond, n={len(lat)}"}
    return m, notes


def workload_extras(workload, res):
    """The workload-specific end-to-end metrics (printed, not in the JSON)."""
    x, ops = res["extra"], res["ops"]
    out = {}
    if workload == "etl_cdc":
        out["backfill_s"] = (x["backfill_s"], "s")
        out["space_amp"] = (x["space_amp"], "ratio")
    if workload == "store_churn":
        for label, kinds in (("commit", {"merge", "apply_delta", "delete", "optimize", "vacuum"}),
                             ("read", {"read_keys", "read_range", "read_where"})):
            lat = [o["ms"] / 1000.0 for o in ops if o["kind"] in kinds]
            if lat:
                t, pct, beyond = tail(lat)
                out[f"{label}_p50_s"] = (statistics.median(lat), "s")
                out[f"{label}_tail_s"] = (t, f"s (p{pct:.1f}, {beyond} beyond, n={len(lat)})")
        out["mirror_lag_p50_s"] = (x["mirror_lag_p50_s"], f"s (n={int(x['mirror_lags'])})")
        out["space_amp"] = (x["space_amp"], "ratio")
    return out


def declared(kind):
    """Metric names BENCHMARK.json declares under ``kind``."""
    with open(f"{HERE}/../BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def per_layer(res):
    lay = res["layers"]
    return {n: (float(lay.get(n, 0.0)), u) for n, u in declared("per_layer")}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    t_begin = time.time()
    classes = build(root)
    cores, heap_g = pinned_env()
    log(f"[perfbench] pinned: local[{cores}] shuffle.partitions={cores} heap={heap_g}g "
        f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    work = f"{HERE}/.work/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t_setup = time.time()
        model = prepare(a.workload, a.seed, work)
        t_jvm = time.time()
        if a.workload == "query_mix":
            log(f"[perfbench] query_mix session ({len(model)} queries): "
                + ",".join(model))
        cmd = (["java", f"-Xmx{heap_g}g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dspark.local.dir={work}/spark-local",
                  f"-Dspark.sql.warehouse.dir={work}/warehouse"]
               + (["-Dspark.hadoop.fs.file.impl=graftbench.CountingLocalFs"] if a.trace else [])
               + ["-cp", f"{classes}:{SPARK_JARS}/*", "graftbench.PerfBench",
                  a.workload, work, str(cores), str(a.seconds), str(a.trace)])
        budget = JVM_DEADLINE_S - (time.time() - t_begin)
        with open(f"{work}/jvm.log", "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        res = None
        if os.path.exists(f"{work}/result.json"):
            with open(f"{work}/result.json") as f:
                res = json.load(f)
        if res is None or "error" in res:
            with open(f"{work}/jvm.log") as f:
                print(f.read()[-3000:], file=sys.stderr)
            fail(f"the workload JVM exited {proc.returncode} without a result"
                 if res is None else f"workload set-up failed: {res['error']}")
        t_check = time.time()
        setup_s = res["setup_end_ms"] / 1000.0 - t_setup
        ops = res["ops"]
        if a.workload == "query_mix":
            bad = check_query_mix(work, ops)
            names = set(bad)
        elif a.workload == "etl_cdc":
            bad = check_etl(work, model)
            names = {f"b{k}" for k in bad}
        else:
            bad = check_store(work, model)
            names = {f"op{k}" for k in bad if isinstance(k, int)}
        for k, v in sorted(bad.items(), key=str):
            log(f"[perfbench] CHECK FAILED {k}: {v}")
        for o in ops:
            o["good"] = o["ok"] and o["name"] not in names
        # a whole-table check (final state, mirror) fails the run's last op
        if bad and all(o["good"] for o in ops) and ops:
            ops[-1]["good"] = False
        n_failed = sum(not o["good"] for o in ops)
        correct = not bad
        e2e, notes = end_to_end(ops, setup_s, res["peak_rss_mb"])
        extras = workload_extras(a.workload, res)
        log(f"[perfbench] phases: generate {t_jvm - t_setup:.1f} s, jvm set-up "
            f"{res['setup_end_ms'] / 1000.0 - t_jvm:.1f} s, timed "
            f"{(res['timed_end_ms'] - res['setup_end_ms']) / 1000.0:.1f} s, jvm after "
            f"{t_check - res['timed_end_ms'] / 1000.0:.1f} s, checks {time.time() - t_check:.1f} s")
        log("[perfbench] op ms: " + " ".join(f"{o['name']}:{o['kind']}={o['ms']}" for o in ops))
        log(f"[perfbench] ops_attempted={len(ops)} ops_failed={n_failed}")
        for n, (v, u) in list(e2e.items()) + list(extras.items()):
            log(f"[perfbench] {n} = {v:.6g} {u}" + (f"  ({notes[n]})" if n in notes else ""))
        last = f"{HERE}/.out/last-{a.workload}.json"
        if a.trace:
            metrics = per_layer(res)
            if a.workload == "query_mix":
                wall = sum(o["ms"] for o in ops)
                for n in ("exec.driver_gap_ms", "ops.build_ms"):
                    log(f"[perfbench] {n} share of op wall = {metrics[n][0] / wall:.3f}")
            for n, (v, u) in metrics.items():
                log(f"[perfbench] {n} = {v:.6g} {u}")
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)
                log("[perfbench] tracing overhead (traced / last untraced, seed "
                    f"{base['seed']}): " + ", ".join(
                        f"{n}={e2e[n][0] / base[n]:.3f}" for n in e2e if base.get(n)))
            os.makedirs(f"{HERE}/.out/traces", exist_ok=True)
            spans = f"{HERE}/.out/traces/{a.workload}-{a.seed}.jsonl"
            shutil.copy(f"{work}/spans.jsonl", spans)
            log(f"[perfbench] spans: {os.path.relpath(spans, root)}")
        else:
            metrics = {n: e2e[n] for n, _ in declared("end_to_end")}
            with open(last, "w") as f:
                json.dump({"seed": a.seed, **{n: v for n, (v, _) in e2e.items()}}, f)
        out = {"correct": correct, "attempted": len(ops), "failed": n_failed,
               "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}
        print(json.dumps(out), flush=True)
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
