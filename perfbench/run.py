#!/usr/bin/env python3
"""End-to-end pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first call builds the engine plus the
harness (`perfbench/build.py`) and the seed-independent base data into
`.bench_build/`; later calls reuse both.

Workloads (each one in-process `GraftApp.run` calls on one warm
`local[4]` session, orchestrator parallelism 4, one closed-loop caller):

  incr_cron      the repo's own `tables_list` over sf0.1-shaped tables: a
                 seeded base load, then cycles of (drop one seeded delta as
                 new source part files, incremental run, run with nothing
                 new) for about `--seconds`
  corpus_curate  gsf1 documents (50 k, ~5% planted near-copies) in 16
                 seeded batches: one `--stream --dedup neardup` drain per
                 batch for about `--seconds`, then `--compact-ledger`, then
                 `--export-shards` with its verify
  bulk_copy      one full load of a 7-table catalog (six sf0.1-shaped
                 tables plus gsf1 lineitem, 6 M rows in 32 files) into an
                 empty parquet sink and state, repeated for about `--seconds`

With `--trace 0` the run reports the end-to-end metrics: `setup_s` is the
median over two fresh JVMs (a probe and the run's own) of the time from
process start to a ready session that finished one trivial job;
`step_p50_s` is the median wall time of the workload's unit of work (an
incremental run, a drain epoch, a full load); `files_per_step` the sink
files it adds; `out_bytes_per_in_byte` the sink bytes written per source
byte read. With `--trace 1` it runs a fixed step sequence twice, untraced
through `GraftApp.run` and traced through the layers' public functions
with timing decorators and Spark listeners, interleaved; it checks that
both give the same outputs and reports the per-layer metrics, including
the tracing overhead.

The last line of stdout is the result JSON; the lines before it restate
every figure with its unit and sample count.
"""
import argparse
import json
import os
import pathlib
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's own directory
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("incr_cron", "corpus_curate", "bulk_copy")
SETUP_SAMPLES = 2
HEAP = "3g"
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes: pathlib.Path, *args: str) -> list:
    tmp = build.BUILD / "tmp"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    return [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *opens,
            "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
            "perfbench.Main", *args]


def jvm_env() -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = "4"
    return env


def launch(cmd: list, log: pathlib.Path, timeout_s: float):
    """Run one JVM to its end. Returns (seconds from spawn to its ready line,
    stdout lines, exit code)."""
    (build.BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=build.BUILD / "tmp", env=jvm_env())
        timer = threading.Timer(timeout_s, p.kill)
        timer.start()
        ready, lines = None, []
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "PERFBENCH_READY":
                    ready = time.perf_counter() - t0
                lines.append(line.rstrip("\n"))
            rc = p.wait()
            print(f"perfbench: {cmd[-len(cmd) + cmd.index('perfbench.Main') + 1]} JVM ran "
                  f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    return ready, lines, rc


def fail(msg: str, log: pathlib.Path = None) -> None:
    if log and log.exists():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
    sys.exit(f"perfbench: {msg}")


def declared(trace: int) -> dict:
    spec = json.loads((build.CHECKOUT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def show(name: str, m: dict) -> str:
    return f"  {name:<34} {m['value']:>16.6g} {m['unit']:<6} n={m['n']}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    first = not (build.CLASSES / ".stamp").exists()
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    timeout = FIRST_RUN_TIMEOUT_S if first else RUN_TIMEOUT_S
    logs = build.BUILD / "logs"

    if a.self_test:
        log = logs / "selftest.log"
        _, lines, rc = launch(jvm(classes, "selftest", str(build.CHECKOUT), str(build.BUILD)),
                              log, FIRST_RUN_TIMEOUT_S)
        print("\n".join(l for l in lines if l.startswith(("FAIL", "SELFTEST"))))
        sys.exit(rc)

    want = declared(a.trace)
    setup = []
    if a.trace == 0:
        for i in range(SETUP_SAMPLES - 1):
            log = logs / f"probe{i}.log"
            ready, _, rc = launch(jvm(classes, "probe", str(build.BUILD)), log, RUN_TIMEOUT_S)
            if rc != 0 or ready is None:
                fail(f"set-up probe exited with {rc}", log)
            setup.append(ready)

    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    ready, lines, rc = launch(
        jvm(classes, "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(build.CHECKOUT), str(build.BUILD)), log, timeout)
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or ready is None or not results:
        fail(f"{a.workload} run exited with {rc}", log)
    res = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    metrics = res["metrics"]
    if a.trace == 0:
        setup.append(ready)
        metrics["setup_s"] = {"value": statistics.median(setup), "unit": "s", "n": len(setup)}
    got = {k: m["unit"] for k, m in metrics.items()}
    if got != want:
        fail(f"reported metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}")

    attempted, failed = res["attempted"], res["failed"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores=4 heap={HEAP}")
    print("metrics:")
    for k in sorted(metrics):
        print(show(k, metrics[k]))
    if res["report"]:
        print(f"{a.workload} figures:")
        for k, m in res["report"].items():
            print(show(k, m))
    print(show("failed_frac", {"value": failed / max(attempted, 1), "unit": "ratio",
                               "n": attempted}))
    for n in res["notes"]:
        print(n)
    for p in res["problems"]:
        print(f"PROBLEM {p}")
    print(json.dumps({
        "correct": res["correct"], "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in sorted(metrics.items())},
    }))


if __name__ == "__main__":
    main()
