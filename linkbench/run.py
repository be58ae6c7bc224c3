"""Link-graph engine benchmark.

    python3 linkbench/run.py --workload {ingest,kernels,store} --seed N \
        --seconds S --trace {0,1}

Builds the engine and the benchmark from source (see build.py), generates the
workload's input from the seed, runs warm-up cycles and then timed cycles
for S seconds in one Spark process at local[nproc], checks every output, and
prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json; with --trace 1 they are the per-layer
ones, and the spans go to linkbench/out/. Exits nonzero when a check fails.

    python3 linkbench/run.py --workload ingest --record 1,2,3

records the output digests of the given seeds into linkbench/expected.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("ingest", "kernels", "store")
RUN_LIMIT_S = 170
HEAP = "3g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="comma-separated seeds whose digests to record")
    a = ap.parse_args()

    started = time.monotonic()
    classes, spark_jars = build.build()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-{a.seed}-{'record' if a.record else a.trace}-{os.getpid()}"
    work = HERE / ".work" / tag
    outdir = HERE / "out"
    outdir.mkdir(exist_ok=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    result = outdir / f"{tag}.json"
    spans = outdir / f"{tag}-spans.json"
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Djava.awt.headless=true"] + ADD_OPENS +
           ["-cp", f"{classes}:{spark_jars}/*", "linkbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(result), "--spans", str(spans),
            "--cpus", str(cpus), "--expected", str(HERE / "expected.json")] +
           (["--record", a.record] if a.record else []))
    limit = None if a.record else max(30, RUN_LIMIT_S - (time.monotonic() - started))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"linkbench: run exceeded {limit:.0f} s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not result.is_file():
        sys.exit(f"linkbench: the benchmark process exited with {code} and wrote no result")
    r = json.loads(result.read_text())
    if a.record:
        record(r)
        sys.exit(code)

    print(f"linkbench {a.workload} seed={a.seed} trace={a.trace} sizes={r['sizes']}")
    for d in r["detail"]:
        v = "n/a" if d["value"] is None else f"{d['value']:.6g}"
        print(f"  {d['name']:<22} {v:>14} {d['unit']:<6} (n={d['samples']})")
    for f in r["failures"]:
        print(f"  FAILED cycle {f['cycle']} {f['op']}: {f['note']}")
    if a.trace:
        print(f"  spans: {spans.relative_to(HERE.parent)}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if code == 0 and r["correct"] else 1)


def record(r):
    path = HERE / "expected.json"
    exp = json.loads(path.read_text()) if path.is_file() else {}
    exp.setdefault(r["workload"], {}).setdefault(r["sizes"], {}).update(r["seeds"])
    path.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(r['seeds'])} seeds of {r['workload']} into {path.relative_to(HERE.parent)}")


if __name__ == "__main__":
    main()
