#!/usr/bin/env python3
"""Benchmark runner for arconspark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the library and the harness from
source (cached in .bench_build/), generates the workload's inputs from the
seed, runs one JVM with the workload in a closed loop, checks every output
against its oracle, and prints one JSON result as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The full artifact (inputs, samples, stamps, spans) is written to
.bench_build/results/. Exits non-zero if any check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

# Workload shapes and where each number comes from (README: Workloads).
# A streaming workload's timed phase consumes a prefix of its staged
# files; `n_files` leaves room for a fast machine.
WORKLOADS = {
    "window_stream": {
        "kind": "stream",
        # sf0.1 `events`: 1,500 uniform users, 100,000 events over 30
        # days; w15's staging: 5 files of it, 1-day windows, 2-day delay,
        # stragglers at event_id % 97 (+1 file) and % 89 (+3 files)
        "gen": dict(n_files=60, rows_per_file=20000, n_keys=1500, mean_gap_s=25.92,
                    bump_mod=97, drop_mod=89),
        "window_s": 86400, "lateness_s": 172800,
        "warmup_files": 4, "block_files": 3, "state_partitions": 2, "restores": 5,
    },
    "index_state": {
        "kind": "stream",
        # value.rs: 10,000 rolling-counter rmw per epoch (= one file here);
        # hash_table.rs: 10,000 item keys, uniform and hot draws
        "gen": dict(n_files=60, rows_per_file=10000, n_items=10000),
        "warmup_files": 3, "block_files": 2, "state_partitions": 1, "restores": 3,
    },
    # sf0.1 `documents`: 5% planted near-duplicates
    "curation_batch": {"kind": "rows", "docs": 800, "near_dup_share": 0.05},
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


# ---- statistics -------------------------------------------------------------

def percentile(xs, q):
    """Linear-interpolated percentile (numpy's default) of a sample."""
    s = sorted(xs)
    if not s:
        return float("nan")
    h = (len(s) - 1) * q / 100.0
    lo = int(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


LADDER = [50.0, 90.0, 95.0, 99.0, 99.9]


def tail_percentile(n):
    """The highest percentile of the ladder that has at least ten of `n`
    samples beyond it, or None when even the median has fewer."""
    ok = [q for q in LADDER if n * (100.0 - q) / 100.0 >= 10.0 - 1e-9]
    return ok[-1] if ok else None


def latency_summary(name, xs):
    """Median, p90 and the highest well-sampled tail, with the count."""
    tail = tail_percentile(len(xs))
    out = {"samples": len(xs), "p50": percentile(xs, 50), "p90": percentile(xs, 90),
           "p90_has_10_beyond": len(xs) * 0.1 >= 10,
           "tail_percentile": tail,
           "tail_value": percentile(xs, tail) if tail is not None else None}
    tail_txt = (f"p{tail:g} = {out['tail_value']:.3f} ms is the highest percentile "
                f"with >= 10 samples beyond it" if tail is not None
                else "no percentile has >= 10 samples beyond it")
    line = (f"{name}: p50 = {out['p50']:.3f} ms, p90 = {out['p90']:.3f} ms "
            f"(n = {len(xs)} samples; {tail_txt})")
    return out, line


# ---- stamps -----------------------------------------------------------------

def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


# ---- inputs -----------------------------------------------------------------

def generate(workload, seed, data):
    cfg = WORKLOADS[workload]
    if workload == "window_stream":
        props = gen.window_stream(os.path.join(data, "stage"), seed, **cfg["gen"])
        return dict(props, window_s=cfg["window_s"], lateness_s=cfg["lateness_s"])
    if workload == "index_state":
        return gen.index_state(os.path.join(data, "stage"), os.path.join(data, "flush"),
                               seed, **cfg["gen"])
    return gen.table_dir(os.path.join(data, "tables"), seed, docs=cfg["docs"],
                         near_dup_share=cfg["near_dup_share"])


def jvm_params(workload):
    cfg = WORKLOADS[workload]
    if cfg["kind"] != "stream":
        return ""
    g = cfg["gen"]
    p = {"rows_per_file": g["rows_per_file"], "block_files": cfg["block_files"],
         "state_partitions": cfg["state_partitions"], "warmup_files": cfg["warmup_files"],
         "restores": cfg["restores"]}
    if workload == "window_stream":
        p.update(window_s=cfg["window_s"], lateness_s=cfg["lateness_s"])
    return ",".join(f"{k}={v}" for k, v in p.items())


# ---- spans ------------------------------------------------------------------

def self_times(spans):
    """Per-span self time (duration minus the union of its children's
    intervals, clipped to the span), summed by layer and by span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_layer, by_name = {}, {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        iv = sorted((max(a, c["start_ns"]), min(b, c["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for x, y in iv:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        self_ms = max(0, (b - a) - covered) / 1e6
        s["self_ms"] = self_ms
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + self_ms
        key = f'{s["layer"]}:{s["name"].split(" ")[0]}'
        by_name[key] = by_name.get(key, 0.0) + self_ms
    return by_layer, by_name


# ---- one run ----------------------------------------------------------------

def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args):
    spec = bench_spec()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    load0 = os.getloadavg()
    os.makedirs(BUILD_DIR, exist_ok=True)
    t_build = time.time()
    classes, src_hash = build.build(ROOT, BUILD_DIR, log=log)
    build_s = time.time() - t_build

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    rdir = os.path.join(BUILD_DIR, "runs", run_id)
    shutil.rmtree(rdir, ignore_errors=True)
    data, work = os.path.join(rdir, "data"), os.path.join(rdir, "work")
    for d in (data, work, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        t_gen = time.time()
        inputs = generate(args.workload, args.seed, data)
        gen_s = time.time() - t_gen
        log(f"inputs: {json.dumps(inputs)}")

        out_json = os.path.join(work, "result.json")
        cmd = (build.jvm_command(ROOT, classes, os.path.join(work, "tmp"))
               + ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--work", work, "--out", out_json,
                  "--params", jvm_params(args.workload) or "none=0"])
        t_jvm = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True)
        try:
            jvm_out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        jvm_s = time.time() - t_jvm
        if not os.path.exists(out_json):
            sys.stderr.write(jvm_out[-6000:])
            raise RuntimeError(f"benchmark JVM exited {proc.returncode} without a result")
        res = json.load(open(out_json))
        if proc.returncode != 0 or res["errors"]:
            sys.stderr.write(jvm_out[-6000:])

        # correctness
        t_chk = time.time()
        attempted, failed = int(res["attempted"]), int(res["failed"])
        failed_rows = {e.split(":")[0] for e in res["errors"]}
        verdicts = []
        params = WORKLOADS[args.workload]
        for c in res["checks"]:
            for name, ok, detail in checks.run_check(ROOT, c, params):
                verdicts.append({"check": name, "ok": ok, "detail": detail})
                if c["kind"] not in ("oracle_rows", "same_rows"):
                    attempted += 1
                if not ok and name not in failed_rows:
                    failed += 1
        if not res["checks"]:
            failed += 1
            verdicts.append({"check": "outputs", "ok": False, "detail": "no outputs to check"})
        check_s = time.time() - t_chk

        # metrics
        m = dict(res["metrics"])
        lat = {}
        for k, xs in res["samples"].items():
            summ, line = latency_summary(k, xs)
            lat[k] = summ
            log(line)
        if "batch_ms" in lat:
            m["batch_p50_ms"] = {"value": lat["batch_ms"]["p50"], "unit": "ms"}
            m["batch_p90_ms"] = {"value": lat["batch_ms"]["p90"], "unit": "ms"}
        layers = dict(res["per_layer"])
        if args.trace:
            traced = dict(res["traced_values"])
            if "batch_ms" in res["traced_samples"]:
                xs = res["traced_samples"]["batch_ms"]
                traced["batch_p50_ms"] = percentile(xs, 50)
                traced["batch_p90_ms"] = percentile(xs, 90)
            for k, v in traced.items():
                if k in m:
                    layers[f"trace.overhead.{k}"] = {"value": v - m[k]["value"],
                                                     "unit": m[k]["unit"]}
        by_layer, by_name = self_times(res["spans"]) if res["spans"] else ({}, {})
        layers["trace.spans"] = {"value": len(res["spans"]), "unit": "count"}

        error_rate = failed / attempted if attempted else 1.0
        load1 = os.getloadavg()
        stamp = {"nproc": nproc(), "master": res["info"]["master"],
                 "loadavg_start": load0, "loadavg_end": load1,
                 "git_commit": git_commit(), "source_hash": src_hash}
        log(f"stamp: nproc={stamp['nproc']} master={stamp['master']} "
            f"loadavg {load0[0]:.2f} -> {load1[0]:.2f} commit={stamp['git_commit']} "
            f"sources={src_hash}")
        log(f"phases: build {build_s:.1f} s, inputs {gen_s:.1f} s, jvm {jvm_s:.1f} s, "
            f"checks {check_s:.1f} s")
        log(f"jvm phases (s): session {res['info'].get('jvm_to_session_s')}, "
            + ", ".join(f"{k} {v:.1f}" for k, v in res["info"].get("phase_s", {}).items()))
        for v in verdicts:
            log(f"check {v['check']}: {'ok' if v['ok'] else 'FAILED'} ({v['detail']})")
        for e in res["errors"]:
            log(f"error: {e}")
        log(f"error_rate = {failed}/{attempted} = {error_rate:.4f}")

        want = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for w in want:
            got = (layers if args.trace else m).get(w["name"])
            value = got["value"] if got else (0.0 if args.trace else None)
            if value is None:
                failed += 1
                log(f"metric {w['name']} missing from the run")
                continue
            metrics[w["name"]] = {"value": value, "unit": w["unit"]}
        for k, v in metrics.items():
            log(f"{k} = {v['value']:.6g} {v['unit']}")
        if args.trace:
            for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
                log(f"self time {k}: {v:.1f} ms")

        artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "stamp": stamp, "inputs": inputs,
                    "metrics": m, "per_layer": layers, "latency": lat,
                    "samples": res["samples"],
                    "error_rate": error_rate, "attempted": attempted, "failed": failed,
                    "checks": verdicts, "errors": res["errors"],
                    "info": res["info"],
                    "self_ms_by_layer": by_layer, "self_ms_by_span": by_name,
                    "phases_s": {"build": build_s, "inputs": gen_s, "jvm": jvm_s,
                                 "checks": check_s}}
        rdir_out = os.path.join(BUILD_DIR, "results")
        os.makedirs(rdir_out, exist_ok=True)
        base = os.path.join(rdir_out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(base + ".json", "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
        if args.trace:
            with open(base + ".spans.json", "w") as fh:
                json.dump(res["spans"], fh)
        correct = failed == 0
        attempted = max(attempted, failed)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        shutil.rmtree(rdir, ignore_errors=True)


# ---- self-test --------------------------------------------------------------

def self_test():
    """The percentile rule, and that every checker fails on a planted wrong row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    failures = []

    def expect(cond, what):
        print(f"{'ok  ' if cond else 'FAIL'} {what}")
        if not cond:
            failures.append(what)

    expect(tail_percentile(100) == 90.0, "n=100: p90 is the reported tail")
    expect(tail_percentile(99) == 50.0, "n=99: p90 has <10 beyond, tail falls to p50")
    expect(tail_percentile(200) == 95.0, "n=200: tail is p95")
    expect(tail_percentile(1000) == 99.0, "n=1000: tail is p99")
    expect(tail_percentile(10000) == 99.9, "n=10000: tail is p99.9")
    expect(tail_percentile(19) is None, "n=19: no percentile has 10 beyond")
    xs = [float(i) for i in range(1, 101)]
    summ, line = latency_summary("batch_ms", xs)
    expect("n = 100 samples" in line and "p90" in line,
           "the latency line prints the sample count and the tail percentile")
    expect(abs(summ["p50"] - 50.5) < 1e-9 and abs(summ["p90"] - 90.1) < 1e-9,
           "percentiles interpolate linearly")
    expect(abs(percentile(xs, 50) - __import__("statistics").median(xs)) < 1e-9,
           "the median matches statistics.median")

    tmp = os.path.join(BUILD_DIR, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        # window replay: the replay itself as output passes; a planted row fails
        stage = os.path.join(tmp, "stage")
        g = dict(n_files=8, rows_per_file=400, n_keys=50, mean_gap_s=600.0,
                 bump_mod=7, drop_mod=11)
        p = {"window_s": 3600, "lateness_s": 7200}
        gen.window_stream(stage, 7, **g)
        con = duckdb.connect()
        rows = con.execute(checks.window_replay_sql(stage, 8, 3600, 7200)).fetch_arrow_table()
        ws = pa.compute.cast(pa.compute.multiply(rows["ws_us"], 1),
                             pa.timestamp("us", tz="UTC"))
        out = pa.table({"window_start": ws, "user_id": rows["user_id"], "n": rows["n"],
                        "sum_value_micros": rows["s"]})
        half = out.num_rows // 2

        def csv_batch(d, name, table, cols):
            os.makedirs(d, exist_ok=True)
            data = [table[c].to_pylist() for c in cols]
            with open(os.path.join(d, name), "w") as fh:
                fh.writelines(",".join(str(v) for v in r) + "\n" for r in zip(*data))

        csv_batch(os.path.join(tmp, "emitted"), "batch-3.csv", rows.slice(0, half),
                  ["ws_us", "user_id", "n", "s"])
        os.makedirs(os.path.join(tmp, "held"))
        pq.write_table(out.slice(half), os.path.join(tmp, "held", "part.parquet"))
        c = {"kind": "window_replay", "files": 8, "stage": stage,
             "emitted": os.path.join(tmp, "emitted"), "held": os.path.join(tmp, "held")}
        expect(all(ok for _, ok, _ in checks.run_check(ROOT, c, p)),
               "window replay accepts emitted + held = replay")
        wrong = out.slice(0, 1).set_column(2, "n", pa.array([out["n"][0].as_py() + 1]))
        pq.write_table(wrong, os.path.join(tmp, "held", "planted.parquet"))
        expect(not any(ok for _, ok, _ in checks.run_check(ROOT, c, p)),
               "window replay rejects a planted wrong row")

        # index compare
        cols = ["key", "ctr", "item", "x1"]
        t = pa.table({"key": pa.array([0, 0], pa.int64()), "ctr": pa.array([4, 4], pa.int64()),
                      "item": pa.array([1, 2], pa.int64()),
                      "x1": pa.array([100, 101], pa.int64())})
        os.makedirs(os.path.join(tmp, "local"))
        pq.write_table(t, os.path.join(tmp, "local", "part.parquet"))
        csv_batch(os.path.join(tmp, "tws"), "batch-9.csv", t, cols)
        c = {"kind": "index_compare", "local": os.path.join(tmp, "local"),
             "tws": os.path.join(tmp, "tws")}
        expect(all(ok for _, ok, _ in checks.run_check(ROOT, c, {})),
               "index compare accepts equal state")
        csv_batch(os.path.join(tmp, "tws"), "batch-10.csv", t.slice(0, 1), cols)
        expect(not any(ok for _, ok, _ in checks.run_check(ROOT, c, {})),
               "index compare rejects a planted duplicate row")

        # oracle rows through scripts/check.py
        tables = os.path.join(tmp, "tables")
        gen.table_dir(tables, 7, docs=300, near_dup_share=0.05)
        sql = "SELECT source, count(*) AS n, sum(n_chars) AS chars FROM documents GROUP BY 1"
        outd = os.path.join(tmp, "out")
        os.makedirs(os.path.join(outd, "q"))
        ans = duckdb.connect().execute(
            sql.replace("documents", f"read_parquet('{tables}/documents.parquet')")
        ).fetch_arrow_table()
        pq.write_table(ans, os.path.join(outd, "q", "part.parquet"))
        with open(os.path.join(outd, "oracle_sql.json"), "w") as fh:
            json.dump({"q": sql}, fh)
        c = {"kind": "oracle_rows", "data": tables, "out": outd, "rows": ["q"]}
        expect(all(ok for _, ok, _ in checks.run_check(ROOT, c, {})),
               "scripts/check.py accepts the oracle's own answer")
        bad = ans.slice(0, 1)
        pq.write_table(bad, os.path.join(outd, "q", "planted.parquet"))
        expect(not any(ok for _, ok, _ in checks.run_check(ROOT, c, {})),
               "scripts/check.py rejects a planted wrong row")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"self-test: {'PASS' if not failures else 'FAIL'}")
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")
    try:
        return run(args)
    except build.BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        return 2
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        sys.stderr.write(f"[perfbench] run failed: {type(e).__name__}: {e}\n")
        return 3


if __name__ == "__main__":
    sys.exit(main())
