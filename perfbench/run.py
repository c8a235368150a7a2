#!/usr/bin/env python3
"""Per-commit benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload search|batch \
        --seed N --seconds S --trace 0|1

It builds the engine and the harness from the checkout's sources (only
when they changed), derives the corpus (cached under .bench_build and
checked against its manifest), runs one workload in one JVM at
local[nproc], checks every op's answer, and prints a report followed by
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the run's spans are
written to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
# every run must end within this many seconds of its start
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# copies of the base corpus GenSf derives the benchmark corpus from
COPIES = 2
HEAP = "3g"
# units of the metrics printed but not gated
REPORTED_UNITS = {"ann_p50_ms": "ms", "text_p50_ms": "ms", "geomean_s": "s",
                  "fail_ratio": "ratio", "wall_s": "s"}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def tree_files(top):
    for d, dirs, files in os.walk(top):
        dirs.sort()
        for name in sorted(files):
            yield os.path.join(d, name)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [p for t in tops for p in tree_files(t)]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(sha256(p).encode())
    return h.hexdigest()


def classes_dir():
    return os.path.join(WORK, "target", "scala-2.13", "classes")


def build():
    """Compile engine + harness with the benchmark's own sbt build,
    unless the sources are unchanged since the last build."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes_dir()) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "compile"], HERE, out, BUILD_LIMIT_S)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_child(cmd, cwd, out, limit_s):
    """Run a child in its own process group; kill the group on timeout.
    Returns the exit code (or -9 after a timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(main, args, tmpdir):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = classes_dir() + os.pathsep + os.path.join(spark_home, "jars", "*")
    return (["java"] + opens + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def manifest(top):
    return {os.path.relpath(p, top): [os.path.getsize(p), sha256(p)]
            for p in tree_files(top) if not os.path.basename(p).startswith(".")}


def check_base():
    base = os.path.join(HERE, "data", "base")
    for line in open(os.path.join(HERE, "data", "base.sha256")):
        digest, name = line.split()
        if sha256(os.path.join(base, name)) != digest:
            die(f"base table {name} does not match data/base.sha256")
    return base


def corpus():
    """The derived corpus: GenSf over the committed base tables, cached
    and checked against the manifest written when it was derived."""
    base = check_base()
    out = os.path.join(WORK, f"corpus-c{COPIES}")
    man = out + ".manifest.json"
    if os.path.isdir(out) and os.path.exists(man):
        if json.load(open(man)) == manifest(out):
            return out
        print("perfbench: cached corpus differs from its manifest; re-deriving",
              file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    staging = out + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    tmp = os.path.join(WORK, "gen-tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(WORK, "gen.log")
    with open(log, "w") as f:
        rc = run_child(java_cmd("graft.GenSf", [base, staging, str(COPIES)], tmp),
                       ROOT, f, remaining())
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        die(f"corpus derivation failed (exit {rc}); see {log}", 3)
    # Spark's checksum side files are not part of the corpus
    for p in list(tree_files(staging)):
        if os.path.basename(p).startswith("."):
            os.remove(p)
    os.rename(staging, out)
    with open(man, "w") as f:
        json.dump(manifest(out), f, indent=0, sort_keys=True)
    return out


def remaining():
    return RUN_LIMIT_S - (time.monotonic() - START) if FIRST_DONE else \
        BUILD_LIMIT_S - (time.monotonic() - START)


FIRST_DONE = False


def write_reference(data, path):
    """The checks' own copy of the corpus rows, read with pyarrow so the
    harness never asks the engine for the answers it checks."""
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["doc_id", "lang", "text"]).to_pylist()
    embs = pq.read_table(os.path.join(data, "embeddings.parquet"),
                         columns=["vec_id", "label", "embedding"]).to_pylist()

    def clean(s):
        return s.replace("\t", " ").replace("\n", " ").replace("\r", " ")
    with open(path, "w", encoding="utf-8") as f:
        for r in docs:
            f.write(f"d\t{r['doc_id']}\t{clean(r['lang'])}\t{clean(r['text'])}\n")
        for r in embs:
            f.write(f"v\t{r['vec_id']}\t{r['label']}\t{','.join(repr(x) for x in r['embedding'])}\n")


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the checkout root")
    return json.load(open(path))


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    global FIRST_DONE, START
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from a checkout root")
    bench = spec()

    build()
    data = corpus()
    # building and deriving are one-off; the run's own limit starts here
    FIRST_DONE = True
    START = time.monotonic()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    reference = os.path.join(run_dir, "reference.tsv")
    write_reference(data, reference)
    spans = os.path.join(WORK, "traces", f"{tag}.jsonl")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corpus", data, "--work", run_dir, "--out", out,
            "--reference", reference,
            "--digests", os.path.join(HERE, "digests.json")]
    if a.trace:
        args += ["--spans", spans]
    log = os.path.join(WORK, f"{tag}.log")
    with open(log, "w") as f:
        rc = run_child(java_cmd("perfbench.Harness", args, os.path.join(run_dir, "tmp")),
                       ROOT, f, remaining())
    if rc != 0 or not os.path.exists(out):
        die(f"harness failed (exit {rc}); see {log}", 4)
    res = json.load(open(out))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)

    # ---- report
    e2e, layers = res["e2e"], res["layers"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"timed {fmt(res['wall_s'])} s  ops {res['ops']}")
    print("machine " + "  ".join(f"{k}={fmt(v)}" for k, v in sorted(res["machine"].items())))
    verdict = "PASS" if res["failed"] == 0 else "FAIL"
    print(f"correctness {verdict}: {res['attempted']} ops checked, {res['failed']} wrong, "
          f"fail_ratio {fmt(e2e['fail_ratio'])}")
    for msg in res["failures"]:
        print(f"  wrong: {msg}")
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:<34} {fmt(v):>14} {m['unit']}")
    if not a.trace:
        # measured every run but too noisy on a small shared machine to gate
        for k in sorted(set(e2e) - set(metrics)):
            print(f"  {k:<34} {fmt(e2e[k]):>14} {REPORTED_UNITS.get(k, '')} (reported, not gated)")
    if a.trace:
        plain = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(plain):
            base = json.load(open(plain))["e2e"]["ops_per_s"]
            print(f"tracing overhead: ops_per_s {fmt(e2e['ops_per_s'])} traced vs "
                  f"{fmt(base)} untraced ({fmt(100.0 * (1 - e2e['ops_per_s'] / base))}% slower)")
        else:
            print("tracing overhead: no untraced run of this workload and seed to compare with")
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
