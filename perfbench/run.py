#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine plus the benchmark
driver (perfbench/build.sbt) when sources changed, runs one workload in
its own JVM with a fresh run directory under .perfbench/, runs the
output checks (the DuckDB oracle checks for crawl-curate run here), and
prints the workload's own metrics followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer table and keeps the spans in .perfbench/traces/.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("scene-incremental", "crawl-curate")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
HEAP = "3g"


class BenchError(Exception):
    pass


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group (sbt starts a JVM of its own) and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_digest():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise BenchError("engine sources not found next to perfbench/")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    # copyResources puts the engine's DataSourceRegister services file
    # (the `graft-scene` / `graft-lake` short names) next to the classes
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "Compile / copyResources"],
                          BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        raise BenchError("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise BenchError("SPARK_HOME is not set")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j2.level=WARN"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", HERE, "--out", os.path.join(work, "result.json")]
    return cmd


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def bpe_train(texts, n):
    """Sequential BPE merge training over the word vocabulary: pair
    counts weighted by word frequency, argmax by (count desc, left,
    right), merge applied left to right before the next round."""
    freq = collections.Counter(w for t in texts for w in t.split())
    vocab = {w: list(w) for w in freq}
    merges = []
    for k in range(n):
        pairs = collections.Counter()
        for w, seq in vocab.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, l, r, c))
        for w, seq in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            vocab[w] = out
    return merges


def oracle_checks(check_dir, slow):
    """Compare each dumped output with its DuckDB oracle over the same
    seeded documents table: same columns, same row multiset. The q157
    oracle (one unrolled CTE block per merge round) takes ~10-20 s in
    DuckDB, so only the traced run (`slow`) runs it; every run checks
    q157's merges against an independent Python trainer run for the
    full number of merges the workload asked for."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    docs = os.path.join(check_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    results = []
    texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    got = pq.read_table(os.path.join(check_dir, "q157_bpe_train")).to_pylist()
    got = sorted((r["merge_rank"], r["pair_left"], r["pair_right"], r["pair_count"]) for r in got)
    with open(os.path.join(check_dir, "params.json")) as fh:
        want = bpe_train(texts, json.load(fh)["bpe_merges"])
    results.append(("q157 merges equal a reference BPE trainer", got == want,
                    f"{len(got)}/{len(want)} merges"))
    if not slow:
        oracles.pop("q157_bpe_train", None)
    for name, sql in sorted(oracles.items()):
        try:
            got = pq.read_table(os.path.join(check_dir, name))
            want = con.execute(sql).fetch_arrow_table()
            cols = sorted(got.column_names)
            ok = cols == sorted(want.column_names) and got.num_rows == want.num_rows
            if ok:
                def rows(t):
                    return sorted(tuple(canon(r[c]) for c in cols) for r in t.select(cols).to_pylist())
                ok = rows(got) == rows(want)
            results.append((f"{name} matches its DuckDB oracle", ok,
                            f"rows {got.num_rows}/{want.num_rows}"))
        except Exception as e:  # a failed check, reported and counted
            results.append((f"{name} matches its DuckDB oracle", False, str(e)[:300]))
    return results


def run(args):
    t_start = time.time()
    build()
    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{os.getpid()}-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        log_path = os.path.join(work, "jvm.log")
        t_jvm = time.time()
        with open(log_path, "wb") as log:
            code, _ = run_group(java_cmd(args, work), JVM_TIMEOUT_S, cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        if code != 0:
            with open(log_path, "rb") as fh:
                sys.stderr.write(fh.read().decode(errors="replace")[-6000:])
            raise BenchError(f"benchmark JVM exited with {code}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        t_checks = time.time()
        check_dir = os.path.join(work, "check")
        if os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
            for name, ok, detail in oracle_checks(check_dir, slow=bool(args.trace)):
                attempted += 1
                if not ok:
                    failed += 1
                    res["errors"].append(f"check failed: {name} ({detail})")
        if args.trace:
            traces = os.path.join(STATE, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "result.json.spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        metrics = res["metrics"]
        missing = [n for n, m in metrics.items() if not isinstance(m["value"], (int, float))]
        if missing:
            raise BenchError(f"no value for {', '.join(missing)}; errors: {res['errors']}")
        if not args.trace:
            # the engine-level error rate: failed operations and checks
            # over attempted ones (ok_rate is its complement)
            metrics["ok_rate"]["value"] = 1.0 - failed / attempted
            res["native"]["error_rate"]["value"] = failed / attempted
        for e in res["errors"]:
            print(f"error: {e}")
        print(f"workload {args.workload} seed {args.seed}: {res['cycles']} cycles, "
              f"samples {res['samples']}, set-up samples {res['setup_samples_s']}, "
              f"warm-up {res['warm_up_s']:.2f} s, measure {res['measure_s']:.2f} s, "
              f"checks {res['check_s']:.2f} s + {time.time() - t_checks:.2f} s, "
              f"jvm {res['jvm_s']:.2f}/{t_checks - t_jvm:.2f} s, total {time.time() - t_start:.2f} s")
        for name, m in list(res["native"].items()) + list(metrics.items()):
            print(f"  {name:48s} {m['value']:>14.6g} {m['unit']}")
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        run(args)
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)


if __name__ == "__main__":
    main()
