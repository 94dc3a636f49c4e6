#!/usr/bin/env python3
"""graft benchmark: staged-loop analytics and the CDC pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(`perfbench/build.sbt`, sbt offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, runs one workload in one JVM at `local[nproc]`,
checks the outputs, prints one `metric <name> <value> <unit>` line per
metric, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. The full record of a run (stamps, every sample,
per-query and per-layer detail, correctness report) goes to
`.bench_build/results/<workload>-seed<n>-trace<t>.json`. See README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "harness.jsa")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Four of the ten fixed-point and memo queries: a fixed-point loop run as
# iterated jobs (pagerank), and the staging-heavy markov, duplicate
# clusters (cluster memo) and BPE training (BPE memo). A pass of all ten,
# with the cold pass before it, does not fit the benchmark's run budget.
STAGED = ("ft_item_pagerank ev_attribution_markov pipe_dup_clusters "
          "txt_bpe_train").split()
ONESHOT = ("q1_pricing_summary q3_shipping_priority q5_local_supplier "
           "q7_volume_shipping q9_profit_nation q13_custdist q18_big_orders "
           "q21_waiting_supplier q_window_topn q_salted_join pipe_dedup_report "
           "dedup_minhash txt_tfidf sim_topk_exact cdc_apply_snapshot cdc_scd2 "
           "cdc_snapshot_diff").split()

# Input sizes. `sf` is the analytics tables' scale factor. The CDC stream
# is built from `cdc_orders` orders and `cdc_lines` lineitem rows; the
# catch-up drains its backlog in `max_files`-file micro-batches of files
# of `backlog_file_rows` records. The first `warm_batches` of them are
# untimed; all but the last of those carry files of WARM_FILE_ROWS
# records, so the stream's slow first batches cost less, and the last
# one is full-size, so the timed batches start warm. The
# tail then lands its last `tail_files` x `tail_rows` records one file
# every `interval_ms`, and its first `tail_warm_files` files (the move
# from catch-up to the tail's steady state) are left out of the
# freshness percentiles. The CDC phases are sized here, not by
# --seconds, so the offered tail rate and its length never change.
SIZES = {
    "full": dict(sf=0.01, cdc_orders=9_800, cdc_lines=39_200,
                 backlog_file_rows=150, max_files=60, warm_batches=3,
                 tail_files=120, tail_warm_files=20, tail_rows=40, interval_ms=70,
                 warm_rows=2_000),
    # the self-test's short form
    "small": dict(sf=0.001, cdc_orders=4_000, cdc_lines=8_000,
                  backlog_file_rows=100, max_files=20, warm_batches=2,
                  tail_files=40, tail_warm_files=5, tail_rows=20, interval_ms=100,
                  warm_rows=500),
}
WARM_FILE_ROWS = 20
WORKLOADS = {
    "staged_loops": ("analytics", STAGED),
    "oneshot_sql": ("analytics", ONESHOT),
    "cdc_pipeline": ("cdc", None),
}
JVM_HEAP = "2g"
# the harness JVM's limit, counted after the build and input generation
RUN_TIMEOUT_S = 160

# every metric has (unit, how it is computed per workload kind); the
# README has the table of which layer each one belongs to
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "build_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "jobs": "count",
    "stages": "count", "tasks": "count", "exec_cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile the harness with the library's sources; returns the
    runtime classpath. Skipped when the sources are unchanged."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.server.forcestart=false", "-Xmx2g",
        # sbt's own state stays inside the checkout too
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt', 'global')}",
        f"-Dsbt.boot.directory={os.path.join(BUILD, 'sbt', 'boot')}"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=800)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    make_archive(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def make_archive(cp):
    """The harness JVM's class-data sharing archive: a training run (one
    session, one small read) records the classes it loads, and every later
    run maps them instead of loading and verifying them again (a cold
    session starts about 4 s sooner on a 4-core host)."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    data, out = os.path.join(train, "data"), os.path.join(train, "out")
    os.makedirs(out)
    stream = gen.cdc_stream(0, 100, 200)
    gen.write_files(stream, [range(len(stream["event_id"]))], data, "train")
    code = run_jvm(cp, ["archive", f"data={data}", f"out={out}", "seconds=0",
                        "trace=0", "run_id=archive"],
                   out, RUN_TIMEOUT_S, archive=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    shutil.rmtree(train, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        die("could not make the class-data archive")


# ---- inputs ------------------------------------------------------------

def make_cdc_inputs(seed, size, data):
    """Writes the backlog, the tail and the set-up's files; returns the
    stream and each landed file's record count."""
    s = SIZES[size]
    stream = gen.cdc_stream(seed, s["cdc_orders"], s["cdc_lines"])
    n = len(stream["event_id"])
    n_tail = s["tail_files"] * s["tail_rows"]
    bfiles, tfiles = gen.delivery_plan(
        n, n - n_tail, s["backlog_file_rows"], s["tail_files"],
        head_files=(s["warm_batches"] - 1) * s["max_files"], head_file_rows=WARM_FILE_ROWS)
    counts = {}
    for files, sub, prefix in [(bfiles, "landing", "backlog"), (tfiles, "staging", "tail")]:
        names = gen.write_files(stream, files, os.path.join(data, sub), prefix)
        counts.update({name: len(f) for name, f in zip(names, files)})
    warm = gen.cdc_stream(seed + 1_000_003, s["warm_rows"], s["warm_rows"] * 2)
    gen.write_files(warm, [range(len(warm["event_id"]))], os.path.join(data, "warm"), "warm")
    return stream, counts


# ---- correctness -------------------------------------------------------

def load_selfcheck():
    """The repository's DuckDB-oracle normaliser (scripts/selfcheck.py)."""
    path = os.path.join(ROOT, "scripts", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    try:
        sys.argv = [path]
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def oracle_answers(data, oracle, queries, threads=None):
    """Each query's DuckDB twin over the generated tables: {query:
    (columns, arrow schema, rows)}, or a problem string."""
    import duckdb
    con = duckdb.connect(config={"threads": threads} if threads else {})
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    answers = {}
    for q in queries:
        if q not in oracle:
            answers[q] = "no oracle SQL"
            continue
        try:
            want = con.sql(oracle[q]).df()
            cols = sorted(want.columns)
            # the result's arrow schema, for the type audit, without
            # running the query a second time
            schema = con.sql(f"SELECT * FROM ({oracle[q]}) LIMIT 0").arrow()
            answers[q] = (cols, schema, [tuple(r[c] for c in cols)
                                         for r in want.to_dict("records")])
        except Exception as e:
            answers[q] = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
    return answers


def compare_outputs(results, answers):
    """Each query's warm-up output against its oracle answer, compared the
    way scripts/selfcheck.py compares them. Returns {query: problem}."""
    import pyarrow.dataset as ds
    sc = load_selfcheck()
    problems = {}
    for q, answer in answers.items():
        if isinstance(answer, str):
            problems[q] = answer
            continue
        want_cols, want_arrow, want_rows = answer
        try:
            got_ds = ds.dataset(os.path.join(results, q))
            got = got_ds.to_table().to_pylist()
        except Exception as e:  # a missing output is a failed check
            problems[q] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        got_cols = sorted(got[0].keys()) if got else want_cols
        got_rows = [tuple(r[c] for c in got_cols) for r in got]
        drift = sc.type_drift(q, want_arrow, got_ds.schema)
        if drift:
            problems[q] = "type drift: " + "; ".join(drift)
        elif got_cols != want_cols:
            problems[q] = f"columns {got_cols} != {want_cols}"
        elif len(got_rows) != len(want_rows):
            problems[q] = f"rows {len(got_rows)} != {len(want_rows)}"
        elif sc.table_hash(got_rows) != sc.table_hash(want_rows):
            problems[q] = f"value hash mismatch ({len(got_rows)} rows)"
    return problems


def check_queries(data, results, queries):
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    return compare_outputs(results, oracle_answers(data, oracle, queries))


class OracleBeside(threading.Thread):
    """Computes the oracle answers while the harness JVM runs its untimed
    warm-up: it starts once the JVM has written `oracle_sql.json` (after
    set-up) and signals `oracle.done`, which the JVM waits for before
    its timed passes, so the two never overlap a measurement."""

    def __init__(self, data, out, queries):
        super().__init__(daemon=True)
        self.data, self.out, self.queries = data, out, queries
        self.answers = None
        self.stop = threading.Event()

    def run(self):
        path = os.path.join(self.out, "results", "oracle_sql.json")
        try:
            while not os.path.exists(path):
                if self.stop.wait(0.2):
                    return
            with open(path) as fh:
                oracle = json.load(fh)
            # two threads: the warm-up keeps most of the cores
            self.answers = oracle_answers(self.data, oracle, self.queries, threads=2)
        finally:
            open(os.path.join(self.out, "oracle.done"), "w").close()


def check_cdc(snapshot_dir, stream):
    """The final table against an independent latest-per-key fold over
    every generated record. Returns a list of problems (empty: equal)."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    want = gen.latest_per_key(stream)
    t = ds.dataset(snapshot_dir).to_table(
        columns=["user_id", "event_id", "ts", "value", "is_deleted"])
    ts_ms = t.column("ts").cast(pa.timestamp("ms")).cast(pa.int64()).to_numpy()
    got = {}
    for u, e, ts, v, d in zip(t.column("user_id").to_pylist(),
                              t.column("event_id").to_pylist(), ts_ms,
                              t.column("value").to_pylist(),
                              t.column("is_deleted").to_pylist()):
        if d:
            return [f"snapshot holds a tombstone for key {u}"]
        if u in got:
            return [f"key {u} appears twice"]
        got[u] = (e, int(ts), v)
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {min(extra)}")
    wrong = [k for k in want.keys() & got.keys() if want[k] != got[k]]
    if wrong:
        k = min(wrong)
        problems.append(f"{len(wrong)} keys differ, e.g. {k}: {got[k]} != {want[k]}")
    return problems


# ---- metrics -----------------------------------------------------------

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, float), q)) if len(xs) else float("nan")


def analytics_metrics(r, queries, traced):
    passes = r["passes"]
    q_ms = [p["queries"][q]["wall_ms"] for p in passes for q in queries
            if q in p["queries"]]
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "latency_p50_ms": pct(q_ms, 50),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    n = len(passes)
    detail = {"latency_samples": (len(q_ms), "count"),
              "timed_passes": (n, "count")}
    spark = r.get("spark", {})

    def tagged(pred, key):
        return sum(v[key] for t, v in spark.items() if t.startswith("pass/") and pred(t))

    def step_sum(step):
        return statistics.median(sum(p["queries"][q][step] for q in p["queries"])
                                 for p in passes)

    layer = {"build_ms": step_sum("build_ms"), "plan_ms": step_sum("plan_ms"),
             "exec_ms": step_sum("exec_ms")}
    for k in ["jobs", "stages", "tasks", "exec_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes"]:
        layer[k] = tagged(lambda t: True, k) / n
    for q in queries:
        times = [p["queries"][q] for p in passes if q in p["queries"]]
        if not times:
            continue
        for step in ["build_ms", "plan_ms", "exec_ms"] if traced else ["build_ms", "exec_ms"]:
            detail[f"{step}.{q}"] = (statistics.median(t[step] for t in times), "ms")
        if not traced:
            continue
        detail[f"jobs.{q}"] = (tagged(lambda t: t.startswith(f"pass/{q}|"), "jobs") / n, "count")
        detail[f"staging_jobs.{q}"] = (
            tagged(lambda t: t == f"pass/{q}|build", "jobs") / n, "count")
    return e2e, layer, detail


def backlog_levels(files):
    """Files landed but not yet committed, at each landing, in landing order."""
    commits = sorted(f["commit_ms"] if f["commit_ms"] is not None else float("inf")
                     for f in files)
    landed = sorted(f["landed_ms"] for f in files)
    return [sum(1 for l in landed if l <= t) - sum(1 for x in commits if x <= t)
            for t in landed]


def cdc_metrics(r, counts, size, traced):
    sz = SIZES[size]
    c, tail = r["catchup"], r["tail"]
    n_catch, warm = c["batches"], c["warm_batches"]
    progress = sorted(r["progress"], key=lambda p: p["batch"])
    phases = {"catchup": [p for p in progress if warm <= p["batch"] < n_catch],
              "tail": [p for p in progress if p["batch"] >= n_catch]}
    # wire records per micro-batch, from the files the source log gave it
    records = {}
    for name, b in r["file_batches"].items():
        records[b] = records.get(b, 0) + counts[name]
    timed = phases["catchup"]
    catchup_s = (c["end_ms"] - timed[0]["start_ms"]) / 1000
    catchup_records = sum(records.get(p["batch"], 0) for p in timed)
    files = sorted(tail["files"], key=lambda f: f["due_ms"])
    fresh = [f["commit_ms"] - f["due_ms"] for f in files[sz["tail_warm_files"]:]
             if f["commit_ms"] is not None]
    reads = r["reads"]
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "pass_s": catchup_s,
        "latency_p50_ms": pct(fresh, 50),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    levels = backlog_levels(files)
    half = len(levels) // 2
    offered = sz["tail_rows"] * 1000 / tail["interval_ms"]
    detail = {
        "catchup_rows_per_s": (catchup_records / catchup_s, "1/s"),
        "catchup_write_amp": (c["data_bytes"] / c["wire_bytes"], "ratio"),
        # the high percentiles are the highest with ten samples or more
        # beyond them: 100 measured files, ~45 point reads
        "tail_freshness_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "tail_freshness_p90_ms": (pct(fresh, 90), "ms"),
        "point_read_p50_ms": (pct([a + b for a, b in reads], 50), "ms"),
        "point_read_p75_ms": (pct([a + b for a, b in reads], 75), "ms"),
        "catchup.timed_batches": (len(timed), "count"),
        "catchup.timed_records": (catchup_records, "count"),
        "warmup_s": ((timed[0]["start_ms"] - progress[0]["start_ms"]) / 1000, "s"),
        "tail.files_landed": (len(files), "count"),
        "tail.batches": (len(phases["tail"]), "count"),
        "tail.offered_rows_per_s": (offered, "1/s"),
        "tail.offered_share_of_catchup": (offered * catchup_s / catchup_records, "ratio"),
        "latency_samples": (len(fresh), "count"),
        "gen.late_ms_max": (max((f["landed_ms"] - f["due_ms"] for f in files), default=0), "ms"),
        # the backlog's peak over the whole tail and over each half: a
        # sustainable rate levels off, so the second half is no higher
        "tail.backlog_files": (max(levels, default=0), "count"),
        "tail.backlog_files_first_half": (max(levels[:half], default=0), "count"),
        "tail.backlog_files_second_half": (max(levels[half:], default=0), "count"),
        "tail.interval_ms": (tail["interval_ms"], "ms"),
        "read.resolve_ms": (pct([a for a, _ in reads], 50), "ms"),
        "read.fetch_ms": (pct([b for _, b in reads], 50), "ms"),
        "read.count": (len(reads), "count"),
        "cdc.files_per_partition": (r["partitions"]["files"] / max(1, r["partitions"]["count"]), "count"),
        "cdc.data_bytes_written": (r["data_bytes_written"], "bytes"),
    }
    spark = r.get("spark", {})
    for phase, ps in phases.items():
        if not ps:
            continue
        sel = {p["batch"] for p in ps}
        d = lambda k: statistics.mean(p["duration_ms"].get(k, 0) for p in ps)
        offsets = statistics.mean(sum(p["duration_ms"].get(k, 0) for k in
                                      ["latestOffset", "getBatch", "walCommit", "commitOffsets"])
                                  for p in ps)
        sp = [spark.get(f"batch:{p['batch']}", {}) for p in ps]
        per = lambda k: statistics.mean(s.get(k, 0) for s in sp)
        merges = [ms for b, ms in r.get("merges", []) if b in sel]
        detail.update({
            f"cdc.{phase}.batches": (len(ps), "count"),
            f"cdc.{phase}.batch_ms": (d("triggerExecution"), "ms"),
            f"cdc.{phase}.add_batch_ms": (d("addBatch"), "ms"),
            f"cdc.{phase}.offsets_ms": (offsets, "ms"),
            f"cdc.{phase}.plan_ms": (d("queryPlanning"), "ms"),
            f"cdc.{phase}.rows_per_batch": (statistics.mean(records.get(p["batch"], 0)
                                                            for p in ps), "count"),
        })
        if traced:
            detail.update({
                f"cdc.{phase}.jobs_per_batch": (per("jobs"), "count"),
                f"cdc.{phase}.exec_cpu_ms_per_batch": (per("exec_cpu_ms"), "ms"),
                f"cdc.{phase}.shuffle_write_bytes_per_batch": (per("shuffle_write_bytes"), "bytes"),
                f"cdc.{phase}.target_merge_ms": (statistics.mean(merges), "ms"),
            })
    if r.get("decode"):
        detail["decode.rows_per_s"] = (r["decode"]["records"] / r["decode"]["wall_s"], "1/s")
    # per-layer, per micro-batch over the whole measured stream
    ps = phases["catchup"] + phases["tail"]
    sp = [spark.get(f"batch:{p['batch']}", {}) for p in ps]
    layer = {
        "build_ms": statistics.mean(p["duration_ms"].get("latestOffset", 0) +
                                    p["duration_ms"].get("getBatch", 0) for p in ps),
        "plan_ms": statistics.mean(p["duration_ms"].get("queryPlanning", 0) for p in ps),
        "exec_ms": statistics.mean(p["duration_ms"].get("addBatch", 0) for p in ps),
    }
    for k in ["jobs", "stages", "tasks", "exec_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes"]:
        layer[k] = statistics.mean(s.get(k, 0) for s in sp)
    return e2e, layer, detail


# ---- stamps ------------------------------------------------------------

def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(all, steal) CPU ticks of the host since boot; steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return sum(t), (t[7] if len(t) > 7 else 0)
    except (OSError, ValueError):
        return 0, 0


def commit_id(stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    # not a git checkout: identify the code by its source hash instead
    return "source-sha256:" + stamp


# ---- one run -----------------------------------------------------------

def cdc_args(size):
    sz = SIZES[size]
    return ["cdc", f"max_files={sz['max_files']}", f"warm_batches={sz['warm_batches']}",
            f"interval_ms={sz['interval_ms']}", f"n_keys={sz['cdc_orders']}"]


def run_jvm(cp, args, out, timeout, archive=f"-XX:SharedArchiveFile={ARCHIVE}"):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=tmp)
    # a fixed, pre-touched heap keeps GC sizing from drifting between runs
    # and makes peak RSS the whole heap plus what lives outside it, not
    # however many heap pages the collector happened to touch
    cmd = (["java", *opens, archive, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            "-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def run(workload, seed, seconds, trace, size="full", keep=False):
    """One benchmark run. Returns (result line dict, record dict). With
    `keep`, the run's inputs and outputs stay under record["run_dir"]."""
    kind, queries = WORKLOADS[workload]
    stamp = source_stamp()
    cp = build(stamp)
    sz = SIZES[size]
    t_start = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    stream = counts = None
    if kind == "analytics":
        gen.write_tables(seed, sz["sf"], data)
        args = ["analytics", f"queries={','.join(queries)}"]
    else:
        stream, counts = make_cdc_inputs(seed, size, data)
        args = cdc_args(size)
    gen_s = time.time() - t_start
    args += [f"data={data}", f"out={out}", f"seconds={seconds}",
             f"trace={trace}", f"run_id={workload}-{seed}-{trace}-{int(t_start)}",
             f"seed={seed}"]
    oracle = OracleBeside(data, out, queries) if kind == "analytics" else None
    if oracle:
        oracle.start()
    load_before, ticks_before = loadavg(), cpu_ticks()
    code = run_jvm(cp, args, out, RUN_TIMEOUT_S)
    load_after, ticks_after = loadavg(), cpu_ticks()
    all_ticks = ticks_after[0] - ticks_before[0]
    steal = (ticks_after[1] - ticks_before[1]) / all_ticks if all_ticks > 0 else 0.0
    if oracle:
        oracle.stop.set()
        oracle.join()
    res_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_file):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"harness JVM {'timed out' if code is None else f'exited {code}'}", 3)
    with open(res_file) as fh:
        r = json.load(fh)

    attempted, failed = r["attempted"], r["failed"]
    problems = {}
    c0 = time.time()
    if kind == "analytics":
        problems = compare_outputs(os.path.join(out, "results"), oracle.answers or
                                   {q: "oracle answers missing" for q in queries})
        attempted += len(queries)
        e2e, layer, detail = analytics_metrics(r, queries, trace)
        # the pass time under its per-workload name: staged_pass_s, ...
        detail[f"{workload.split('_')[0]}_pass_s"] = (e2e["pass_s"], "s")
    else:
        p = check_cdc(os.path.join(out, "cdc", "snapshot"), stream)
        if p:
            problems["cdc_snapshot"] = "; ".join(p)
        attempted += 1
        e2e, layer, detail = cdc_metrics(r, counts, size, trace)
    check_s = time.time() - c0
    failed += len(problems)
    correct = not problems and not r["errors"]

    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "size": size, "nproc": os.cpu_count(), "master": r["master"],
        "commit": commit_id(stamp), "loadavg_before": load_before,
        "loadavg_after": load_after, "steal_share": steal,
        "input_gen_s": gen_s, "check_s": check_s,
        "warmup_s": r["warmup_s"] if kind == "analytics" else detail["warmup_s"][0],
        "setup_samples_s": r["setup_s"],
        "end_to_end": e2e, "per_layer": layer if trace else {},
        "detail": {k: v for k, (v, _) in detail.items()},
        "units": {**END_TO_END, **PER_LAYER, **{k: u for k, (_, u) in detail.items()}},
        "failed_ops_ratio": failed / attempted, "attempted": attempted,
        "failed": failed, "errors": r["errors"], "check_problems": problems,
        "self_ms": r.get("self_ms", {}), "raw": r,
    }
    if trace:
        record["trace_overhead"] = tracing_overhead(workload, size, e2e)
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{workload}-seed{seed}-trace{trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.copy(os.path.join(out, "spans.jsonl"),
                    os.path.join(res_dir, f"{workload}-seed{seed}-spans.jsonl"))
    if keep:
        record["run_dir"] = run_dir
        record["stream"] = stream
    else:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = layer if trace else e2e
    units = PER_LAYER if trace else END_TO_END
    line = {"correct": correct, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    return line, record


def tracing_overhead(workload, size, traced_e2e):
    """Traced minus untraced end-to-end metrics, against the newest
    untraced record of the same workload and input size, if any."""
    base = None
    for path in sorted(glob.glob(os.path.join(BUILD, "results", f"{workload}-seed*-trace0.json")),
                       key=os.path.getmtime):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["size"] == size:
            base = rec
    if base is None:
        return None
    return {"baseline_seed": base["seed"],
            **{k: traced_e2e[k] - base["end_to_end"][k] for k in traced_e2e}}


def report(line, record):
    print(f"stamp nproc={record['nproc']} master={record['master']} "
          f"commit={record['commit']} loadavg_before={record['loadavg_before']} "
          f"loadavg_after={record['loadavg_after']} steal_share={record['steal_share']:.4f}")
    for k, v in record["end_to_end"].items():
        print(f"metric {k} {v} {END_TO_END[k]}")
    print(f"metric failed_ops_ratio {record['failed_ops_ratio']} ratio")
    for k, v in record["per_layer"].items():
        print(f"layer {k} {v} {PER_LAYER[k]}")
    for k, v in record["detail"].items():
        print(f"detail {k} {v} {record['units'][k]}")
    for k, v in (record.get("trace_overhead") or {}).items():
        if k != "baseline_seed":
            print(f"overhead {k} {v} {END_TO_END[k]}")
    for k, v in record["check_problems"].items():
        print(f"MISMATCH {k}: {v}")
    for e in record["errors"]:
        print(f"FAILED {e}")
    print(json.dumps(line))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("run from a graft checkout: src/main/scala is missing")
    line, record = run(a.workload, a.seed, a.seconds, a.trace)
    report(line, record)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
