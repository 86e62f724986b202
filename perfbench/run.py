#!/usr/bin/env python3
"""Benchmark of the engine: the paper's snapshot job, the incremental
kafkalog fold and the headline query suite.

    python3 perfbench/run.py --workload ingest_snapshot --seed 1 --seconds 10 --trace 0

One command builds the harness (engine sources included) when they changed,
makes the seeded inputs, runs one workload (or `all`) in a single JVM,
checks the outputs against the generator's expected results (and, for the
query suite, against each query's DuckDB oracle), prints every metric by
name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of the named workload.
`--trace 1` runs the separate traced pass over every layer (all three
workloads, one repetition each) and reports the per-layer metrics.
`--size smoke` shrinks every input for the benchmark's own tests.
See README.md in this directory for the metric definitions.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["ingest_snapshot", "ingest_stream", "query_suite"]

# Input sizes. The stream backlog is admitted `max_offsets` records per
# micro-batch, so a full drain is a fixed number of batches (12 at full size).
SIZES = {
    "full": {"snapshot_records": 200_000, "stream_records": 60_000,
             "max_offsets": 5_000, "warm_batches": 2, "sf": 0.02},
    "smoke": {"snapshot_records": 3_000, "stream_records": 2_000,
              "max_offsets": 200, "warm_batches": 2, "sf": 0.002},
}
# The query-suite tables are fixed; the run seed only varies the ingest logs.
QUERY_SEED = 42
# Batches that must lie beyond the reported tail percentile of batch time.
TAIL_BEYOND = 10
# A run must end within three minutes; this leaves time for the gates.
JVM_TIMEOUT_S = 165

# The end-to-end metrics every workload reports. Cold (first-execution)
# times are not among them: one cold execution per JVM spread 16-24% from
# run to run here, too wide to bound a regression. The ingest and stream
# runs print theirs; the query suite's come from the traced run.
END_TO_END = {
    "setup_s": "s", "warm_s": "s", "records_per_s": "rec/s", "peak_rss_mb": "MB",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------
# build


def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]  # scala + resources
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)] + \
        [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the harness and the engine it measures; reuse the previous
    build when no source changed. Returns the runtime classpath and the
    engine build's JVM options."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine sources (../build.sbt, ../src/main/scala) are not here; "
            "run this from a full checkout of the repository")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench-build.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"], s["jvm_options"]
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(target, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "runSpec"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    cp_file = os.path.join(target, "classpath.txt")
    if r.returncode != 0 or not os.path.isfile(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (log: {log})", 1)
    with open(cp_file) as fh:
        cp = fh.read().strip()
    with open(os.path.join(target, "jvm-options.txt")) as fh:
        opts = [ln.strip() for ln in fh if ln.strip()]
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp, "jvm_options": opts}, fh)
    print(f"built harness in {time.time() - t0:.1f} s")
    return cp, opts


# --------------------------------------------------------------------------
# correctness gates (independent of the engine: they compare against what
# the generator built, or against DuckDB)


def read_snapshot(path):
    """The (id, msg) records of a JSON-lines snapshot directory."""
    pairs = []
    for name in sorted(os.listdir(path)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    o = json.loads(line)
                    pairs.append((int(o["id"]), o["msg"]))
    return pairs


def gate_snapshot(path, expected):
    """Line count and order-independent content hash equal the expected
    set. Returns None when it holds, else the reason."""
    try:
        pairs = read_snapshot(path)
    except (OSError, ValueError, KeyError, TypeError) as e:
        return f"unreadable snapshot: {e}"
    if len(pairs) != len(expected):
        return f"snapshot has {len(pairs)} lines, expected {len(expected)}"
    if gen.snapshot_digest(pairs) != gen.snapshot_digest(expected.items()):
        return "snapshot content differs from the expected latest-wins set"
    return None


def gate_changelog(path, expected, state_rows):
    """The changelog folded latest-wins equals the expected set, and the
    state store holds exactly one row per expected key."""
    latest = {}
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                o = json.loads(line)
                i, v = int(o["id"]), int(o["version"])
                if i not in latest or latest[i][0] < v:
                    latest[i] = (v, o["msg"])
    except (OSError, ValueError, KeyError, TypeError) as e:
        return f"unreadable changelog: {e}"
    pairs = [(i, m) for i, (_, m) in latest.items()]
    if len(pairs) != len(expected):
        return f"changelog folds to {len(pairs)} keys, expected {len(expected)}"
    if gen.snapshot_digest(pairs) != gen.snapshot_digest(expected.items()):
        return "folded changelog differs from the expected latest-wins set"
    if state_rows != len(expected):
        return f"state store holds {state_rows} rows, expected {len(expected)}"
    return None


def _frames_equal(got, exp):
    import numpy as np
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            a = pd.to_numeric(gv, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(ev, errors="coerce").to_numpy(dtype=float)
            # rounded aggregates may differ by the cross-engine summation
            # order only
            ok = np.isclose(a, b, rtol=1e-9, atol=1e-6) | (np.isnan(a) & np.isnan(b))
        else:
            ok = ((gv == ev) | (gv.isna() & ev.isna())).to_numpy()
            if not ok.all():
                ok = (gv.astype(str) == ev.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {gv[i]!r} vs oracle {ev[i]!r}"
    return None


def gate_queries(tables, results, oracle_file, names):
    """Each query's result equals its oracle SQL run by DuckDB over the same
    tables. Returns {query: reason} for every mismatch."""
    import duckdb
    import pyarrow.parquet as pq
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t)}')")
    bad = {}
    for n in names:
        try:
            got = pq.ParquetDataset(os.path.join(results, n)).read().to_pandas()
        except Exception as e:
            bad[n] = f"no result: {e}"
            continue
        if n not in oracle:
            bad[n] = "no oracle"
            continue
        try:
            exp = con.execute(oracle[n]).fetchdf()
        except Exception as e:
            bad[n] = f"oracle error: {e}"
            continue
        why = _frames_equal(got, exp)
        if why:
            bad[n] = why
    return bad


# --------------------------------------------------------------------------
# running


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail_percentile(n_batches):
    """The highest multiple-of-5 percentile with at least TAIL_BEYOND
    batches strictly beyond it."""
    p = 95
    while p > 50 and n_batches - -(-p * n_batches // 100) < TAIL_BEYOND:
        p -= 5
    return p


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 when undefined)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


class Run:
    """One benchmark run in its own directory, removed at the end."""

    def __init__(self, args, classpath, jvm_options):
        self.args = args
        self.cp = classpath
        self.jvm_options = jvm_options
        self.size = SIZES[args.size]
        self.cores = max(1, min(4, len(os.sched_getaffinity(0))))
        tag = f"{args.workload}-t{args.trace}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
        self.dir = os.path.join(HERE, "target", "runs", tag)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.gate_failures = []

    # ---- inputs

    def make_log(self):
        log = gen.make_log(self.args.seed, self.size["snapshot_records"])
        path = os.path.join(self.dir, "log")
        gen.write_kafka_parquet(log, path)
        return log, path

    def make_stream_logs(self):
        main = gen.make_log(self.args.seed + 1_000_003, self.size["stream_records"])
        warm = gen.make_log(self.args.seed + 2_000_003,
                            self.size["max_offsets"] * self.size["warm_batches"])
        mpath, wpath = os.path.join(self.dir, "kafkalog"), os.path.join(self.dir, "warmlog")
        seg_bytes = gen.write_kafkalog(main, mpath)
        gen.write_kafkalog(warm, wpath)
        return main, mpath, wpath, seg_bytes

    def make_tables(self):
        path = os.path.join(self.dir, "tables")
        gen.write_tables(path, QUERY_SEED, self.size["sf"])
        return path

    # ---- the JVM

    def jvm(self, mode, extra):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        result = os.path.join(self.dir, "result.json")
        # the engine build's options first: the later -Xmx wins. The whole
        # heap is touched at start, so that peak_rss_mb does not depend on
        # how many heap regions the collector happened to cycle through.
        cmd = [java] + self.jvm_options
        cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}",
                "-cp", self.cp, "perfbench.Main",
                "--mode", mode, "--rundir", self.dir, "--result", result,
                "--seconds", str(self.args.seconds), "--cores", str(self.cores)]
        for k, v in extra.items():
            cmd += [f"--{k}", str(v)]
        logpath = os.path.join(self.dir, "jvm.log")
        # Spark prefers these over spark.local.dir; keep scratch in the run dir
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        with open(logpath, "w") as fh:
            try:
                r = subprocess.run(cmd, cwd=self.dir, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
                code = r.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.isfile(result):
            with open(logpath, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise RuntimeError(f"benchmark JVM ended with {code}")
        with open(result) as fh:
            return json.load(fh)

    # ---- gates

    def gate(self, what, reason):
        if reason:
            self.gate_failures.append(f"{what}: {reason}")

    def gate_query_results(self, q, tables):
        bad = gate_queries(tables, q["results"], q["oracle"], q["queries"])
        for n, why in sorted(bad.items()):
            self.gate(f"query {n}", why)

    # ---- workloads

    def run(self):
        a = self.args
        if a.trace:
            return self.run_trace()
        if a.workload == "ingest_snapshot":
            log, path = self.make_log()
            r = self.jvm("ingest_snapshot", {"log": path})
            ing = r.get("ingest", {})
            if ing.get("snapshot"):
                self.gate("snapshot", gate_snapshot(ing["snapshot"], log["expected"]))
            else:
                self.gate("snapshot", "no snapshot written")
            walls = ing.get("walls_s") or [float("nan")]
            warm = statistics.median(walls)
            m = {"warm_s": warm, "records_per_s": len(log["value"]) / warm}
            named = {"ingest_cold_s": (ing.get("cold_s", float("nan")), "s"),
                     "ingest_wall_s": (warm, "s"),
                     "ingest_records_per_s": (m["records_per_s"], "rec/s"),
                     "ingest_reps": (len(walls), "count")}
            named.update({f"ingest rep {i}": (w, "s") for i, w in enumerate(walls)})
        elif a.workload == "ingest_stream":
            main, mpath, wpath, _ = self.make_stream_logs()
            r = self.jvm("ingest_stream", {"kafkalog": mpath, "warmlog": wpath,
                                           "max_offsets": self.size["max_offsets"]})
            st = r.get("stream", {})
            if "changelog" in st:
                self.gate("changelog", gate_changelog(st["changelog"], main["expected"],
                                                      st["state_rows"]))
            else:
                self.gate("changelog", "stream did not drain")
            batch = [b["trigger_ms"] for b in st.get("batches", [])] or [float("nan")]
            p = tail_percentile(len(batch))
            m = {"warm_s": statistics.median(batch) / 1e3,
                 "records_per_s": st.get("records", 0) / st.get("drain_s", float("nan"))}
            named = {"stream_cold_s": (st.get("cold_s", float("nan")), "s"),
                     "stream_records_per_s": (m["records_per_s"], "rec/s"),
                     "stream_batch_p50_ms": (statistics.median(batch), "ms"),
                     f"stream_batch_tail_ms (p{p})": (percentile(batch, p), "ms"),
                     "stream_batches": (len(batch), "count")}
        else:
            tables = self.make_tables()
            r = self.jvm("query_suite", {"tables": tables})
            q = r.get("query", {})
            if "results" in q:
                self.gate_query_results(q, tables)
            else:
                self.gate("queries", "suite did not run")
            warm = sum(statistics.median(v) for v in q.get("warm_s", {}).values() if v)
            m = {"warm_s": warm,
                 "records_per_s": q.get("rows_read_per_pass", 0) / warm if warm else 0.0}
            named = {"query_warm_s": (warm, "s")}
            passes = zip(*[v for v in q.get("warm_s", {}).values() if v])
            named.update({f"query warm pass {i}": (sum(p), "s") for i, p in enumerate(passes)})
            for n in q.get("queries", []):
                ws = q.get("warm_s", {}).get(n) or [float("nan")]
                named[f"{n} warm_s"] = (statistics.median(ws), "s")
        m["setup_s"] = statistics.median(r["setup_s"])
        m["peak_rss_mb"] = r["peak_rss_mb"]
        return self.finish(r, m, END_TO_END, named)

    def run_trace(self):
        log, lpath = self.make_log()
        main, mpath, wpath, seg_bytes = self.make_stream_logs()
        tables = self.make_tables()
        r = self.jvm("trace", {"log": lpath, "kafkalog": mpath, "warmlog": wpath,
                               "max_offsets": self.size["max_offsets"], "tables": tables})
        ing, st, q = r.get("ingest", {}), r.get("stream", {}), r.get("query", {})
        self.gate("snapshot", gate_snapshot(ing["snapshot"], log["expected"])
                  if ing.get("snapshot") else "no snapshot written")
        self.gate("changelog", gate_changelog(st["changelog"], main["expected"], st["state_rows"])
                  if "changelog" in st else "stream did not drain")
        if "results" in q:
            self.gate_query_results(q, tables)
        else:
            self.gate("queries", "suite did not run")
        for k, v in gen.log_counts(log).items():
            if ing.get(k) != v:
                self.gate(f"ingest.{k}", f"engine counted {ing.get(k)}, generator made {v}")

        mb = 1024.0 * 1024.0
        nan = float("nan")
        pre = ing.get("prefix_s", {})
        m, units = {}, {}

        def put(name, value, unit):
            m[name], units[name] = value, unit

        put("session.build_s", statistics.median(r["session_build_s"]), "s")
        put("session.first_query_s", statistics.median(r["session_first_query_s"]), "s")
        put("ingestjob.spark_jobs", ing.get("spark_jobs", nan), "count")
        put("ingestjob.overhead_s", ing.get("run_s", nan) - pre.get("sink", nan), "s")
        for k in ("scan", "parse", "dedup", "sink"):
            put(f"ingest.{k}_s", pre.get(k, nan), "s")
        for k in ("records_in", "records_corrupt", "keys_out"):
            put(f"ingest.{k}", ing.get(k, nan), "count")
        put("ingest.shuffle_write_mb", ing.get("shuffle_write_bytes", nan) / mb, "MB")
        put("ingest.spill_mb", ing.get("spill_bytes", nan) / mb, "MB")
        put("ingest.peak_exec_mem_mb", ing.get("peak_exec_mem_bytes", nan) / mb, "MB")
        put("ingest.executor_cpu_s", ing.get("executor_cpu_s", nan), "s")
        put("ingest.gc_s", ing.get("gc_s", nan), "s")
        put("ingest.snapshot_bytes", ing.get("snapshot_bytes", nan), "bytes")

        batches = st.get("batches", [])
        trig = [b["trigger_ms"] for b in batches] or [nan]
        put("kafkalog.read_amplification", st.get("input_bytes", nan) / seg_bytes, "ratio")
        put("kafkalog.latest_offset_ms",
            statistics.median([b["latest_offset_ms"] for b in batches] or [nan]), "ms")
        put("stream.add_batch_ms", statistics.median([b["add_batch_ms"] for b in batches] or [nan]), "ms")
        put("stream.commit_ms", statistics.median([b["commit_ms"] for b in batches] or [nan]), "ms")
        cum, xs = 0, []
        for b in batches:
            cum += b["rows"]
            xs.append(cum / 1e6)
        put("stream.batch_ms_slope", slope(xs, trig) if batches else nan, "ms/Mrec")
        put("stream.records_per_s", st.get("records", 0) / st.get("drain_s", nan), "rec/s")
        put("stream.batch_p50_ms", statistics.median(trig), "ms")
        put("stream.batch_tail_ms", percentile(trig, tail_percentile(len(trig))), "ms")
        put("stream.state_rows", st.get("state_rows", nan), "count")
        put("stream.state_mem_mb", st.get("state_mem_bytes", nan) / mb, "MB")
        put("stream.shuffle_write_mb", st.get("shuffle_write_bytes", nan) / mb, "MB")

        cold, warm = q.get("cold", {}), q.get("warm_s", {})
        detail = q.get("warm_detail", {})
        parts = whole = 0.0
        put("query.cold_s", sum(c.get("cold_s", nan) for c in cold.values()) if cold else nan, "s")
        for n in q.get("queries", []):
            c = cold.get(n, {})
            put(f"query.{n}.cold_s", c.get("cold_s", nan), "s")
            put(f"query.{n}.plan_s", c.get("plan_s", nan), "s")
            put(f"query.{n}.build_jobs", c.get("build_jobs", nan), "count")
            put(f"query.{n}.warm_s", (warm.get(n) or [nan])[-1], "s")
            put(f"query.{n}.shuffle_mb", detail.get(n, {}).get("shuffle_write_bytes", nan) / mb, "MB")
            put(f"query.{n}.spill_mb", detail.get(n, {}).get("spill_bytes", nan) / mb, "MB")
            parts += c.get("build_s", 0.0) + c.get("plan_s", 0.0) + c.get("execute_s", 0.0)
            whole += c.get("cold_s", 0.0)
        put("trace.ingest_overhead_s", ing.get("run_s", nan) - ing.get("untraced_s", nan), "s")
        put("trace.query_self_sum_frac", parts / whole if whole else nan, "ratio")
        # the spans, summed by name: calls, wall time and self time
        named = {}
        for sp in r.get("spans", []):
            n, wall, self_s = named.get(sp["name"], (0, 0.0, 0.0))
            named[sp["name"]] = (n + 1, wall + (sp["end_ms"] - sp["start_ms"]) / 1e3,
                                 self_s + sp["self_s"])
        print(f"spans of run {r['spans'][0]['run_id'] if r.get('spans') else '-'}"
              " (calls, wall s, self s):")
        for name, (n, wall, self_s) in named.items():
            print(f"  span {name:<48} {n:>4} {wall:>10.4f} {self_s:>10.4f}")
        return self.finish(r, m, units, {})

    def finish(self, r, metrics, units, named):
        errors = r.get("errors", [])
        attempted = max(1, int(r.get("attempted", 0)))
        failed = len(errors) + len(self.gate_failures)
        contended = bool(r.get("contended"))
        if self.args.trace:
            metrics["failed_frac"] = failed / attempted
            units["failed_frac"] = "ratio"
            metrics["box.busy_before"] = r.get("busy_before")
            metrics["box.busy_after"] = r.get("busy_after")
            metrics["box.contended"] = 1 if contended else 0
            for k in ("box.busy_before", "box.busy_after"):
                units[k] = "ratio"
            units["box.contended"] = "flag"
        print(f"workload {self.args.workload}  seed {self.args.seed}  trace {self.args.trace}"
              f"  cores {self.cores}")
        print(f"  box busy before {r.get('busy_before'):.4f}  after {r.get('busy_after'):.4f}"
              f"  contended {contended}")
        for name, (v, u) in named.items():
            print(f"  {name:<40} {v:>14.4f} {u}")
        for name in units:
            v = metrics.get(name)
            print(f"  {name:<40} {v if v is not None else float('nan'):>14.4f} {units[name]}")
        print(f"  failed {failed} of {attempted} operations (failed_frac {failed / attempted:.4f})")
        for e in errors + self.gate_failures:
            print(f"  FAILED {e}")
        out = {k: {"value": _num(metrics.get(k)), "unit": u} for k, u in units.items()}
        return {"correct": not self.gate_failures and not errors,
                "attempted": attempted, "failed": failed, "metrics": out}

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def _num(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    classpath, jvm_options = build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    lines = []
    for w in names:
        one = argparse.Namespace(**{**vars(args), "workload": w})
        run = Run(one, classpath, jvm_options)
        try:
            lines.append((w, run.run()))
        except RuntimeError as e:
            die(str(e), 1)
        finally:
            run.close()
    if len(lines) == 1:
        result = lines[0][1]
    else:
        for w, res in lines:
            print(json.dumps({"workload": w, **res}))
        result = {"correct": all(r["correct"] for _, r in lines),
                  "attempted": sum(r["attempted"] for _, r in lines),
                  "failed": sum(r["failed"] for _, r in lines),
                  "metrics": {f"{w}/{k}": v for w, r in lines for k, v in r["metrics"].items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
