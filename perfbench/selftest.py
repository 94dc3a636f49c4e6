#!/usr/bin/env python3
"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload once on the short input form (analytics tables at
sf0.001, a short CDC stream) and asserts that

* the result line has exactly the contract's keys, and every end-to-end
  (untraced) or per-layer (traced) metric with its unit;
* every metric the benchmark documents by name is present in the run
  record with its unit;
* the correctness checks fire: a corrupted query result and a corrupted
  CDC snapshot are both reported as mismatches.

Takes a few minutes on a 4-core host; exits non-zero on the first failure.
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

SEED = 5
SECONDS = 4

# the documented metric names and units, per workload kind
ANALYTICS_DETAIL = {"build_ms.{q}": "ms", "exec_ms.{q}": "ms"}
ANALYTICS_TRACED = {"plan_ms.{q}": "ms", "jobs.{q}": "count",
                    "staging_jobs.{q}": "count"}
CDC_DETAIL = {
    "catchup_rows_per_s": "1/s", "catchup_write_amp": "ratio",
    "tail_freshness_p50_ms": "ms", "tail_freshness_p90_ms": "ms",
    "point_read_p50_ms": "ms", "point_read_p75_ms": "ms",
    "gen.late_ms_max": "ms", "tail.backlog_files": "count",
    "tail.backlog_files_first_half": "count",
    "tail.backlog_files_second_half": "count",
    "tail.offered_rows_per_s": "1/s", "tail.offered_share_of_catchup": "ratio",
    "catchup.timed_batches": "count", "tail.batches": "count",
    "read.resolve_ms": "ms", "read.fetch_ms": "ms",
    "cdc.files_per_partition": "count", "cdc.data_bytes_written": "bytes",
}
CDC_TRACED = {"decode.rows_per_s": "1/s"}
for phase in ["catchup", "tail"]:
    CDC_TRACED.update({f"cdc.{phase}.{k}": u for k, u in [
        ("batch_ms", "ms"), ("add_batch_ms", "ms"), ("offsets_ms", "ms"),
        ("plan_ms", "ms"), ("jobs_per_batch", "count"),
        ("rows_per_batch", "count"), ("target_merge_ms", "ms"),
        ("exec_cpu_ms_per_batch", "ms"),
        ("shuffle_write_bytes_per_batch", "bytes")]})


def check(cond, msg):
    if not cond:
        print(f"SELFTEST FAIL: {msg}")
        sys.exit(1)


def check_line(line, trace):
    check(set(line) == {"correct", "attempted", "failed", "metrics"},
          f"result keys {sorted(line)}")
    check(line["correct"] is True and line["failed"] == 0, f"run not correct: {line}")
    check(isinstance(line["attempted"], int) and line["attempted"] >= 1, "attempted")
    want = bench.PER_LAYER if trace else bench.END_TO_END
    check(set(line["metrics"]) == set(want), f"metric names {sorted(line['metrics'])}")
    for k, u in want.items():
        m = line["metrics"][k]
        check(m["unit"] == u, f"{k} unit {m['unit']} != {u}")
        check(isinstance(m["value"], (int, float)), f"{k} value {m['value']}")


def check_record(rec, names):
    for k in bench.END_TO_END:
        check(k in rec["end_to_end"], f"end-to-end {k} missing from the record")
    check(rec["failed_ops_ratio"] == 0, "failed_ops_ratio")
    for k in ["nproc", "master", "commit", "loadavg_before", "loadavg_after", "steal_share"]:
        check(k in rec, f"stamp {k} missing")
    for k, u in names.items():
        check(k in rec["detail"], f"metric {k} missing")
        check(rec["units"][k] == u, f"{k} unit {rec['units'][k]} != {u}")


def per_query(names, queries):
    return {k.format(q=q): u for k, u in names.items() for q in queries}


def corrupt_query_output(rec, queries):
    """Shift one value of one query's warm-up result; the oracle check
    must report that query."""
    out = os.path.join(rec["run_dir"], "out", "results")
    data = os.path.join(rec["run_dir"], "data")
    check(bench.check_queries(data, out, queries) == {}, "clean outputs flagged")
    q = queries[0]
    path = next(os.path.join(out, q, f) for f in sorted(os.listdir(os.path.join(out, q)))
                if f.endswith(".parquet"))
    t = pq.read_table(path)
    i = next(i for i, f in enumerate(t.schema)
             if pa.types.is_floating(f.type) or pa.types.is_integer(f.type))
    col = t.column(i).to_pylist()
    col[0] = (col[0] or 0) + 1
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(col, t.schema.field(i).type)), path)
    problems = bench.check_queries(data, out, queries)
    check(q in problems, f"corrupted {q} not detected: {problems}")


def corrupt_snapshot(rec):
    """Drop one live row and bump one value; the fold check must report
    both."""
    snap = os.path.join(rec["run_dir"], "out", "cdc", "snapshot")
    check(bench.check_cdc(snap, rec["stream"]) == [], "clean snapshot flagged")
    path = next(os.path.join(snap, f) for f in sorted(os.listdir(snap)) if f.endswith(".parquet"))
    t = pq.read_table(path)
    vals = t.column("value").to_pylist()
    vals[1] += 0.5
    t = t.set_column(t.schema.get_field_index("value"), "value", pa.array(vals))
    pq.write_table(t.slice(1), path)
    problems = bench.check_cdc(snap, rec["stream"])
    check(any("missing" in p for p in problems), f"dropped row not detected: {problems}")
    check(any("differ" in p for p in problems), f"changed value not detected: {problems}")


def main():
    staged = bench.WORKLOADS["staged_loops"][1]
    oneshot = bench.WORKLOADS["oneshot_sql"][1]
    runs = [("staged_loops", 1, staged), ("oneshot_sql", 0, oneshot),
            ("cdc_pipeline", 0, None), ("cdc_pipeline", 1, None)]
    untraced = set()
    for workload, trace, queries in runs:
        print(f"selftest: {workload} trace={trace}", flush=True)
        line, rec = bench.run(workload, SEED, SECONDS, trace, size="small", keep=True)
        try:
            check_line(line, trace)
            if queries:
                names = per_query(ANALYTICS_DETAIL, queries)
                if trace:
                    names.update(per_query(ANALYTICS_TRACED, queries))
                names[f"{workload.split('_')[0]}_pass_s"] = "s"
                check_record(rec, names)
                corrupt_query_output(rec, queries)
            else:
                check_record(rec, {**CDC_DETAIL, **(CDC_TRACED if trace else {})})
                if not trace:
                    corrupt_snapshot(rec)
            if not trace:
                untraced.add(workload)
            elif workload in untraced:
                check(rec.get("trace_overhead") is not None, "tracing overhead missing")
            if trace:
                check(os.path.exists(os.path.join(
                    bench.BUILD, "results", f"{workload}-seed{SEED}-spans.jsonl")),
                    "spans not written")
        finally:
            shutil.rmtree(rec["run_dir"], ignore_errors=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
