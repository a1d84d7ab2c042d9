#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <serve_read|serve_mixed|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline, the repository's flags);
later runs reuse the build while the sources are unchanged. Inputs come
from --seed; the program's answers are checked against DuckDB over the
raw parquet or against required properties. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

Environment: PERFBENCH_DATA (serving corpus, default the sf0.01 test
data), PERFBENCH_KEEP=1 keeps the run directory with the raw record.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402
import summarize  # noqa: E402

TESTDATA = "/root/testdata"
WORKLOADS = ("serve_read", "serve_mixed", "analytics")
# the analytics list: oracle-backed registry queries, by family
ANALYTICS = [
    "q_repeat2",                      # traversal
    "q_text_bm25",                    # search
    "q_embed_pairs",                  # embeddings
    "q_event_sessions",               # temporal
    "q_doc_decontam",                 # text
]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=/root/.sbt/repositories "
            "-Dsbt.offline=true -Xmx3g")
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if not d.split(os.sep)[-1] == "target" and f.endswith((".scala", ".sbt", ".properties")))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    data = os.environ.get("PERFBENCH_DATA", f"{TESTDATA}/sf0.01")
    tiny = f"{TESTDATA}/sf0.001"
    adata = f"{TESTDATA}/sf0.01"
    for d in (data, tiny, adata):
        if not os.path.exists(f"{d}/customer.parquet"):
            fail(f"test data not found at {d}")
    base = os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))
    run_dir = os.path.join(os.path.abspath(base), f"perfbench-run-{os.getpid()}")
    out, tmp = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    try:
        print(json.dumps(run(a, cp, data, tiny, adata, run_dir, out, tmp)))
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(run_dir, ignore_errors=True)


def run(a, cp, data, tiny, adata, run_dir, out, tmp):
    rng = random.Random(a.seed)
    nproc = os.cpu_count() or 1
    # serve_read: half as many clients as cores; with one per core the
    # run-to-run spread of both end-to-end metrics roughly doubled
    clients = nproc if a.workload == "serve_mixed" else max(1, nproc // 2)
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--tmp", tmp,
            "--clients", str(clients)]
    expected = {}
    if a.workload in ("serve_read", "serve_mixed"):
        con = gen.connect(data)
        corpus = gen.Corpus(con)
        mixed = a.workload == "serve_mixed"
        pool, round_size = gen.read_pool(rng, corpus, con, rounds=12, fresh=1 if mixed else 0)
        requests = {r["id"]: r for r in pool}
        expected = {r["id"]: check.expected(con, r) for r in pool
                    if r["kind"] != "fresh" and not (mixed and not check.stable(r))}
        write_jsonl(f"{run_dir}/requests.jsonl", pool)
        write_jsonl(f"{run_dir}/writes.jsonl", gen.writes(rng, corpus, 400))
        args += ["--data", data, "--requests", f"{run_dir}/requests.jsonl",
                 "--writes", f"{run_dir}/writes.jsonl",
                 "--round", str(round_size)]
        con.close()
    else:
        # a fixed list in a fixed order: which query pays a shared
        # artifact's build depends on the order
        args += ["--data", adata, "--tiny", tiny, "--queries", ",".join(ANALYTICS)]

    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", *JAVA_OPENS,
           "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main", *args]
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    res_path = f"{out}/result.json"
    if rc != 0 or not os.path.exists(res_path):
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(res_path) as f:
        res = json.load(f)
    with open(f"{out}/responses.json") as f:
        responses = json.load(f)

    # failed operations are counted in `failed`; `correct` speaks of the rest
    for e in res.get("errors", []):
        print(f"perfbench failed op: {e}", file=sys.stderr)
    # an aborted workload left partial outputs: there is nothing to check
    if res["aborted"]:
        problems = ["workload aborted"]
    elif a.workload in ("serve_read", "serve_mixed"):
        problems = check.responses(requests, expected, responses)
        if a.workload == "serve_mixed":
            problems += check.mixed(res["checks"]["mixed"], corpus.counts)
    else:
        problems = check.analytics(out, adata)
    for p in problems:
        print(f"perfbench check: {p}", file=sys.stderr)

    if a.trace:
        metrics = summarize.per_layer(out, res)
    else:
        metrics = summarize.end_to_end(res)
    return {"correct": not problems, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()
