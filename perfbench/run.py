#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the benchmark
from source (see build.py), runs the workload in a fresh JVM with a local
Spark session of `nproc` slots, checks every output, and prints one JSON
line last: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer ones
with `--trace 1` (including `traced.<metric>`, the traced run's own
end-to-end numbers; traced minus untraced is the tracing overhead).

Workloads (NOTES.md has the details):
  pg_stream        live Postgres 15 -> ReplicationSocketClient -> CdcPipeline
                   -> copy-on-write CurrentStateSink, open-loop TPC-B-like load
  corpus_curation  replicated documents kept deduplicated (IncrementalDedup)
                   and searchable (IncrementalIndex) sync after sync

Everything the run writes lives under `.bench_run/` in the checkout and is
removed at exit, as are the Postgres cluster and every process started.
"""
import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import pgfixture  # noqa: E402

WORKLOADS = ("pg_stream", "corpus_curation")
TXN_RATE = 300  # pg_stream transactions per second
LEAD_IN_S = 2  # pg_stream load before the measured window
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


class Jvm:
    """The process under test. Stdout lines are queued for the control
    protocol; stderr goes to a file shown when the run fails."""

    def __init__(self, cp, work, name, args):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.err_path = os.path.join(work, f"{name}.stderr")
        opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
        # fixed heap and young generation: resident memory then follows
        # what the program keeps, not the collector's resizing
        cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss8m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}"] + opts +
               ["-cp", cp, "graftbench.Main"] + args)
        self.err = open(self.err_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, start_new_session=True)
        self.lines = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()
        self.deadline = time.monotonic() + JVM_TIMEOUT_S

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, tag):
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, self.deadline - time.monotonic()))
            except queue.Empty:
                raise BenchError(f"timed out waiting for {tag}")
            if line is None:
                raise BenchError(f"process ended before {tag}: {self.tail()}")
            if line.startswith("GRAFTBENCH " + tag):
                return line

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def wait(self):
        try:
            return self.proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError("benchmark process timed out")

    def stop(self):
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self.reader.join(5)
        self.err.close()

    def tail(self):
        """Breadcrumbs and exception lines of the process's stderr."""
        self.err.flush()
        with open(self.err_path, errors="replace") as f:
            keep = [l for l in f if l.startswith("graftbench:") or
                    ("Exception" in l or "Error" in l) and not l.startswith("\t")]
        return "".join(keep[-40:])


def jvm_run(cp, work, name, args, drive=None):
    """Run one benchmark JVM to completion; return (exit code, report)."""
    sub = os.path.join(work, name)
    os.makedirs(sub, exist_ok=True)
    j = Jvm(cp, sub, name, args + ["--work", sub])
    try:
        try:
            if drive:
                drive(j)
            code = j.wait()
        except BenchError as e:
            raise BenchError(f"{e}\n{j.tail()}")
        path = os.path.join(sub, "jvm_result.json")
        if not os.path.exists(path):
            raise BenchError(f"{name} wrote no report (exit {code}): {j.tail()}")
        with open(path) as f:
            rep = json.load(f)
        if code != 0:
            sys.stderr.write(j.tail() + "\n")
        else:
            with open(j.err_path, errors="replace") as f:
                sys.stderr.writelines(l for l in f if l.startswith("graftbench:"))
        return code, rep
    finally:
        j.stop()


def run_pg_stream(cp, work, base_args, seed, seconds, name="pg_stream", load=True):
    cluster = pgfixture.Cluster(os.path.join(work, "pg"))
    # the cluster starts while the JVM starts its Spark session; the JVM
    # waits for PG_READY, and setup_s adds the two times
    started = {}

    def start_cluster():
        t0 = time.monotonic()
        try:
            cluster.start()
            started["s"] = time.monotonic() - t0
        except pgfixture.PgError as e:
            started["error"] = e

    starter = threading.Thread(target=start_cluster, daemon=True)
    try:
        starter.start()
        loadfile = os.path.join(work, f"{name}.loadgen")

        def drive(j):
            starter.join()
            if "error" in started:
                raise started["error"]
            j.send(f"PG_READY {started['s']!r}")
            if not load:
                return
            j.expect("READY")
            conns = max(1, min(4, os.cpu_count() or 1))
            pgfixture.run_load(cluster.port, seed, TXN_RATE, LEAD_IN_S + seconds,
                               conns, loadfile)
            nonce = 1000 + seed % 1_000_000_000
            pgfixture.write_fence(cluster.port, nonce)
            j.send(f"LOAD_DONE {nonce} {LEAD_IN_S * 10**9} {loadfile}")

        return jvm_run(cp, work, name, base_args + ["--pg-port", str(cluster.port)],
                       drive)
    finally:
        starter.join()
        cluster.stop()


def main():
    # a terminated run still stops its JVM and its cluster (the finally
    # blocks below run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    base = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace)]
    try:
        if a.workload == "pg_stream":
            code, rep = run_pg_stream(cp, work, base + ["--cpus", str(cpus)],
                                      a.seed, a.seconds)
            if a.trace and code == 0:
                # single-slot baseline beside the local[nproc] run: one
                # set-up, then the closed-loop backlog drain only; a
                # diagnostic of how the drain scales with slots
                one = base + ["--cpus", "1", "--setup-reps", "1", "--backlog-only", "1"]
                code1, rep1 = run_pg_stream(cp, work, one, a.seed, a.seconds,
                                            "single_slot", load=False)
                dn = rep["metrics"].get("drain_events_per_s", {}).get("value", 0)
                d1 = rep1["metrics"].get("drain_events_per_s", {}).get("value", 0)
                rep["metrics"]["diag.single_slot_drain_ratio"] = {
                    "value": dn / d1 if d1 else 0.0, "unit": "ratio"}
                rep["attempted"] += rep1["attempted"]
                rep["failed"] += rep1["failed"]
                rep["errors"] += rep1["errors"]
                code = code or code1
        else:
            # one set-up: it runs the bootstrap operator sync over the whole
            # corpus (about 24 s cold), and more would not fit the time a
            # full evaluation may take
            code, rep = jvm_run(cp, work, a.workload,
                                base + ["--cpus", str(cpus), "--setup-reps", "1"])
    except (BenchError, pgfixture.PgError) as e:
        print(f"{a.workload}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = rep["metrics"]
    metrics = {}
    missing = []
    if a.trace:
        for m in spec["per_layer"]:
            name = m["name"]
            src = got.get(name[len("traced."):]) if name.startswith("traced.") else got.get(name)
            metrics[name] = {"value": src["value"] if src else 0.0, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            src = got.get(m["name"])
            if src is None or not src["value"] > 0:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": src["value"], "unit": m["unit"]}
    for e in rep["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    if missing:
        print(f"metrics not measured: {', '.join(missing)}", file=sys.stderr)
    correct = code == 0 and rep["failed"] == 0 and not rep["errors"] and not missing
    print(json.dumps({"correct": correct, "attempted": max(1, rep["attempted"]),
                      "failed": rep["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
