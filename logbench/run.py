#!/usr/bin/env python3
"""Log-service benchmark: drives graft's log service as a client would.

    python3 logbench/run.py --workload produce|catchup|pubsub \
        --seed N --seconds S --trace 0|1

The server (SparkLog + LogService + GrpcLogServer + HttpLogServer) runs in
one JVM, the load generator in another; see logbench/README.md for the
workloads, metrics and checks. The last line of stdout is one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The exit code is 0 only when every output check passed and no operation
failed.
"""

import argparse
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("produce", "catchup", "pubsub")
# Set-ups per untraced run; set-up time is reported as their median.
SETUPS = 5
MAX_SETUPS = 50
# Pause between set-ups. The machine is shared and the speed of each of its
# CPUs changes from second to second; 100 fresh set-ups back to back took
# ~0.3 s and sampled one moment of it, so the median of a run jumped
# between ~2 and ~4 ms. Spaced out, they span a few seconds.
SETUP_GAP_S = 0.06
# Wall-clock budget of one run once the program is built.
BUDGET_S = 170
# Windows of the measured phase whose rates and medians each run prints
# beside its figures, so that drift within a run shows.
WINDOWS = 10
# Seconds of the untimed warm-up pass of the workload before the timed one.
WARM_S = 12
# Both JVMs compile with C1 only. Under the default tiered JIT the server
# keeps speeding up for its first ~30 s of load (produce; catchup was still
# speeding up after 30 s) as C2 compiles, and a run cannot afford that much
# warm-up; with C1 the JIT is done within the warm-up pass. See README.md
# for the figures.
JIT = ["-XX:TieredStopAtLevel=1"]

LOOPS = {
    "produce": "closed loop: 3 unary Produce clients + 1 ProduceStream client (8-record chunks), fresh log",
    "catchup": "closed loop, read-only: 1 gRPC ConsumeStream (48-record windows) + 1 HTTP /tail "
               "(512-record windows) + 2 unary Consume clients at uniform offsets, seeded 49152-record log in ~380 parts",
    "pubsub": "open loop: 2 unary Produce clients, Poisson arrivals at 20 rec/s in total, "
              "2 gRPC ConsumeStream tails from offset 0, fresh log",
}

# What each end-to-end slot measures on each workload, by the name the
# workload's users know it under.
NAMES = {
    "produce": {
        "unary_rps": "produce_rps", "stream_rps": "produce_stream_rps",
        "unary_p50_ms": "produce_p50_ms", "unary_p99_ms": "produce_p99_ms",
        "stream_p50_ms": "produce_stream_chunk_p50_ms", "stream_p99_ms": "produce_stream_chunk_p99_ms",
        "http_tail_rps": "readback_http_tail_rps",
    },
    "catchup": {
        "unary_rps": "read_rps", "stream_rps": "catchup_rps",
        "unary_p50_ms": "read_p50_ms", "unary_p99_ms": "read_p99_ms",
        "stream_p50_ms": "catchup_window_p50_ms", "stream_p99_ms": "catchup_window_p99_ms",
        "http_tail_rps": "http_tail_rps",
    },
    "pubsub": {
        "unary_rps": "produce_rps", "stream_rps": "deliver_rps",
        "unary_p50_ms": "produce_p50_ms", "unary_p99_ms": "produce_p99_ms",
        "stream_p50_ms": "deliver_p50_ms", "stream_p99_ms": "deliver_p99_ms",
        "http_tail_rps": "readback_http_tail_rps",
    },
}


class Failure(Exception):
    pass


class Proc:
    """A JVM spoken to one line at a time over stdin/stdout."""

    def __init__(self, cmd, log_path):
        self.name = Path(log_path).stem
        self.log = open(log_path, "w")
        # Spark's scratch space stays in the work directory, and the session
        # is always the single-JVM local one.
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_MASTER", "SPARK_LOCAL_DIRS")}
        env["SPARK_LOCAL_DIRS"] = str(build.OUT / "run" / "spark-local")
        self.p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def expect(self, word, deadline):
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise Failure(f"timed out waiting for {word}")
            if line is None:
                raise Failure(f"process exited with {self.p.wait()} before {word}")
            if line.startswith(word):
                return line.split()[1:]
            if line.startswith("ERROR"):
                raise Failure(line)

    def call(self, command, word, deadline):
        self.send(command)
        return self.expect(word, deadline)

    def finish(self, deadline):
        try:
            return self.p.wait(timeout=max(0.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise Failure("process did not exit in time")

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.log.close()


START = time.monotonic()


def progress(msg):
    print(f"[{time.monotonic() - START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """Machine-wide CPU time counters: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_load(before, after):
    """Shares of machine CPU time busy and stolen by the hypervisor."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_pct": 100 * (total - d[3] - d[4] - d[7]) / total, "steal_pct": 100 * d[7] / total}


def remove(*paths):
    """Deletes files and syncs. No log is deleted before the run's last
    measured phase is over, so freeing thousands of part files (and, on a
    file system mounted with `discard`, trimming their blocks) does not land
    inside one."""
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    os.sync()


def process_cpu_s(pid):
    """CPU time (user + system) a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def java(heap, classpath, main, *args):
    tmp = build.OUT / "run" / "tmp"
    return ["java"] + heap.split() + JIT + build.jvm_options(tmp) + ["-cp", classpath, main] + [str(a) for a in args]


def set_up(server, a, traced, tag, deadline):
    """One set-up; returns its time and the two ports. What earlier set-ups
    left dirty in the page cache is written back first, so that writeback
    does not land inside this one."""
    os.sync()
    setup_s, grpc_port, http_port = server.call(
        f"setup {a.workload} {a.seed} {int(traced)} {build.OUT / 'run' / f'log-{tag}'}", "READY", deadline)
    return float(setup_s), grpc_port, http_port


def warm_up(server, gen, a, deadline):
    """An untimed pass of the workload on a set-up of its own, so the timed
    pass does not pay class loading, first-job initialisation or the JIT's
    climb to compiled code. Returns its attempted and failed operations."""
    _, grpc_port, http_port = set_up(server, a, False, "warm", deadline)
    attempted, failed = gen.call(f"warm {WARM_S} {grpc_port} {http_port}", "WARMED", deadline)
    server.call("teardown", "DOWN", deadline)
    progress(f"warm-up pass done: {attempted} operations")
    return int(attempted), int(failed)


def run_round(server, gen, a, traced, setups, tag, deadline):
    """Set up `setups` times (more while they add up to under a second, so a
    cheap set-up still has a steady median), run the timed pass against the
    last set-up, dump the server."""
    work = build.OUT / "run"
    times = []
    while len(times) < setups or (setups > 1 and sum(times) < 1.0 and len(times) < MAX_SETUPS):
        if times:
            server.call("teardown", "DOWN", deadline)
            time.sleep(SETUP_GAP_S)
        setup_s, grpc_port, http_port = set_up(server, a, traced, f"{tag}-{len(times)}", deadline)
        times.append(setup_s)
    spread = statistics.quantiles(times, n=4) if len(times) > 1 else times
    progress(f"{tag}: {len(times)} set-ups took {sum(times):.3f} s; min, quartiles, max: "
             + " ".join(f"{x:.4f}" for x in [min(times)] + spread + [max(times)]))
    # Write back what set-up and earlier runs left dirty, so that writeback
    # does not land inside the measured phase.
    os.sync()
    server.call("begin", "BEGUN", deadline)
    out = work / f"gen-{tag}.json"
    gen.call(f"run {a.seconds} {grpc_port} {http_port} {out}", "STARTED", deadline)
    cpu_before, server_before = cpu_times(), process_cpu_s(server.p.pid)
    gen.expect("MEASURED", deadline)
    host = host_load(cpu_before, cpu_times())
    host["server_cpu_s"] = process_cpu_s(server.p.pid) - server_before
    progress(f"{tag} measured phase done")
    server.call("snapshot", "SNAPPED", deadline)
    gen.call("go", "DONE", deadline)
    progress(f"{tag} checks done")
    dump = work / f"server-{tag}.json"
    server.call(f"dump {dump}", "DUMPED", deadline)
    server.call("teardown", "DOWN", deadline)
    with open(out) as f, open(dump) as g:
        result = json.load(f)
        result["host"] = host
        result["setup_s"] = times
        return result, json.load(g), stats.read_spans(f"{dump}.spans.tsv")


# ----------------------------------------------------------------- metrics

def rate(group):
    """Records per second of one client group: its records over the time
    from the start of the pass to its last answer. On pubsub that is about
    the offered rate, and falls if acks or deliveries lag behind it."""
    return ratio(sum(group["records"]), max(group["done_s"], default=0.0))


def window_rates(group, bounds):
    return stats.window_rates(group["sent_s"], group["done_s"], group["records"], bounds)


def end_to_end(gen, dump, seconds):
    """The end-to-end figures; each pools the whole timed pass."""
    m = {"setup_s": stats.median(gen["setup_s"]), "server_peak_rss_mb": dump["peak_rss_mb"]}
    for kind in ("unary", "stream"):
        m[f"{kind}_rps"] = rate(gen[kind])
        m[f"{kind}_p50_ms"] = stats.percentile(gen[kind]["lat_ms"], 0.5)
        m[f"{kind}_p99_ms"] = stats.tail(gen[kind]["lat_ms"])[1]
    m["http_tail_rps"] = rate(gen["http"]) if "http" in gen else stats.median(gen["http_rps"])
    records = sum(sum(gen[k]["records"]) for k in ("unary", "stream", "http") if k in gen)
    m["server_cpu_ms_per_record"] = ratio(1000 * gen["host"]["server_cpu_s"], records)
    return m


def windowed(gen, seconds):
    """Slot -> its values in each of WINDOWS equal windows of the pass,
    printed beside the figures so that drift within a run shows."""
    bounds = stats.windows(seconds, WINDOWS)
    out = {}
    for kind in ("unary", "stream"):
        out[f"{kind}_rps"] = window_rates(gen[kind], bounds)
        out[f"{kind}_p50_ms"] = [
            stats.percentile(x, 0.5) for x in stats.by_window(gen[kind]["sent_s"], gen[kind]["lat_ms"], bounds)]
    out["http_tail_rps"] = window_rates(gen["http"], bounds) if "http" in gen else gen["http_rps"]
    return out


def thread_kind(name):
    if name.startswith("graft-tail-worker"):
        return "tail"
    return "grpc" if name.startswith("grpc") else "other"


def ratio(num, den):
    return num / den if den else 0.0


def disk_counters(gen, disk):
    """The log's on-disk layout after the run, as (value, base) pairs."""
    records = f"{disk['records']} records"
    return {
        "log.parts_per_1k_records": (ratio(1000 * disk["parts"], disk["records"]), f"{disk['parts']} parts / {records}"),
        "log.manifest_swaps_per_1k_records": (
            ratio(1000 * disk["manifest_swaps"], disk["records"]), f"{disk['manifest_swaps']} swaps / {records}"),
        "log.max_files_per_segment": (disk["max_files_per_segment"], "largest segment directory"),
        "log.disk_bytes_per_user_byte": (
            ratio(disk["disk_bytes"], gen["user_bytes"]), f"{disk['disk_bytes']} B / {gen['user_bytes']} B of payload"),
        "log.segments": (disk["segments"], "in the manifest"),
    }


def per_layer(workload, gen, dump, spans, overhead_pct):
    snap, disk = dump["snapshot"], dump["disk"]
    m = {}
    for method in ("Produce", "Consume", "ProduceStream"):
        g = snap["grpc"].get(f"log.v1.Log/{method}", {})
        m[f"grpc.{method}.calls"] = g.get("calls", 0)
        m[f"grpc.{method}.errors"] = g.get("errors", 0)
        m[f"grpc.{method}.server_p50_ms"] = g.get("p50_ms", 0.0)
        m[f"grpc.{method}.server_p99_ms"] = g.get("p99_ms", 0.0)

    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    # Client round trip (send to answer) minus the service span of the same
    # request: the gRPC stack and the wire. A produce is keyed by its
    # sequence number, a consume by its offset; keys seen twice on either
    # side are dropped.
    unary_span = "service.consume" if workload == "catchup" else "service.produce"
    server_side = [s for s in by_name[unary_span] if thread_kind(s.thread) == "grpc"]
    seen = Counter(s.req for s in server_side)
    dur = {s.req: s.dur / 1e6 for s in server_side if seen[s.req] == 1}
    u = gen["unary"]
    keys = Counter(u["keys"])
    m["grpc.transport_p50_ms"] = stats.median(
        [1000 * (d - s) - dur[k] for k, s, d in zip(u["keys"], u["sent_s"], u["done_s"])
         if keys[k] == 1 and k in dur])

    tail_route = snap["http"].get("/tail", {})
    m["http.tail.calls"] = tail_route.get("calls", 0)
    m["http.tail.server_p50_ms"] = tail_route.get("p50_ms", 0.0)

    self_ns = stats.self_times(spans)
    for name in ("produce", "consume", "consumeStream"):
        ss = by_name[f"service.{name}"]
        m[f"service.{name}.calls"] = len(ss)
        m[f"service.{name}.self_ms"] = stats.median([self_ns[s.id] / 1e6 for s in ss])
    stream_delivered = gen.get("grpc_stream_records", 0)
    m["service.consume_calls_per_delivered"] = ratio(
        sum(1 for s in by_name["service.consume"] if thread_kind(s.thread) == "tail"), stream_delivered)
    m["service.consumeStream.first_record_ms"] = stats.median(
        [(s.first - s.start) / 1e6 for s in by_name["service.consumeStream"] if s.first])

    appends = by_name["log.append"]
    intervals = [(s.start, s.end) for s in appends]
    m["log.append.calls"] = len(appends)
    m["log.append.records_per_call"] = ratio(sum(s.records for s in appends), len(appends))
    m["log.append.p50_ms"] = stats.percentile([s.dur / 1e6 for s in appends], 0.5)
    m["log.append.busy_ms"] = stats.union_length(intervals) / 1e6
    m["log.append.wait_ms"] = stats.overlap_wait(intervals) / 1e6
    reads = [s.dur / 1e6 for s in by_name["log.read"]]
    m["log.read.calls"] = len(reads)
    m["log.read.p50_ms"] = stats.percentile(reads, 0.5)
    m["log.read.p99_ms"] = stats.tail(reads)[1]
    m["log.read_calls_per_delivered"] = ratio(len(reads), stream_delivered + gen.get("unary_read_records", 0))

    m.update({k: v for k, (v, _) in disk_counters(gen, disk).items()})

    for k, v in snap["spark"].items():
        m[f"spark.{k}"] = v
    m["spark.jobs_per_http_tail"] = ratio(snap["spark"]["jobs"], m["http.tail.calls"])
    for k, v in snap["jvm"].items():
        m[f"jvm.{k}"] = v

    m["gen.late_p99_ms"] = stats.tail(gen.get("late_ms", []))[1]
    m["gen.backlog_max"] = gen.get("backlog_max", 0)
    m["gen.backlog_end"] = gen.get("backlog_end", 0)
    m["trace.overhead_pct"] = overhead_pct
    return m


def describe(name, gen, seconds):
    """The sample count behind a timing, and a slot's per-window values."""
    text = ""
    if name.endswith("_ms"):
        q, _, n = stats.tail(gen[name.split("_")[0]]["lat_ms"])
        text = f"p{100 * q:.4g} of n={n}" if name.endswith("_p99_ms") else f"p50 of n={n}"
    values = windowed(gen, seconds).get(name)
    if values:
        label = "read-backs" if name == "http_tail_rps" and "http" not in gen else "windows"
        text += f" {label}: " + " ".join(f"{v:.4g}" for v in values)
    return text


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    try:
        with open(ROOT / "BENCHMARK.json") as f:
            spec = json.load(f)
        classpath = build.build()
    except (OSError, build.BuildError) as e:
        print(f"logbench: cannot build: {e}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + BUDGET_S
    work = build.OUT / "run"
    remove(work)
    (work / "tmp").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    # The serial collector sizes the heap from the data live after each
    # collection, not from pause times as G1 does, so the server's peak RSS
    # follows what it holds (see README.md).
    server = Proc(java("-Xmx1g -XX:+UseSerialGC", classpath, "logbench.Server", work, cpus), work / "server.log")
    gen = None
    try:
        progress(f"server session up in {server.expect('SESSION', deadline)[0]} s")
        gen = Proc(java("-Xmx512m", classpath, "logbench.Gen", a.workload, a.seed), work / "gen.log")
        warm_attempted, warm_failed = warm_up(server, gen, a, deadline)
        rounds = [run_round(server, gen, a, False, 1 if a.trace else SETUPS, "plain", deadline)]
        if a.trace:
            rounds.append(run_round(server, gen, a, True, 1, "traced", deadline))
        for p in (gen, server):
            p.send("quit")
            if p.finish(deadline) != 0:
                raise Failure(f"{p.name} exited with {p.p.returncode}")
    except Failure as e:
        print(f"logbench: {e}; logs in {work.relative_to(ROOT)}", file=sys.stderr)
        return 1
    finally:
        for p in (gen, server):
            if p:
                p.stop()
        remove(*work.glob("log-*"))

    attempted = warm_attempted + sum(g["attempted"] for g, _, _ in rounds)
    failed = warm_failed + sum(g["failed"] + g["violation_count"] for g, _, _ in rounds)
    if warm_failed:
        print(f"FAILED {warm_failed} operations of the warm-up pass, see {(work / 'gen.log').relative_to(ROOT)}")
    for g, _, _ in rounds:
        for line in g["violations"] + g["errors"]:
            print(f"FAILED {line}")
    plain = end_to_end(*rounds[0][:2], a.seconds)

    print(f"workload {a.workload}, seed {a.seed}, {a.seconds} s measured, {cpus} cpus: {LOOPS[a.workload]}")
    print("flush policy: the program's own on both sides, no fsync, writes land in the OS page cache")
    for g, _, _ in rounds:
        print("host CPU during the measured phase: {busy_pct:.1f}% busy, {steal_pct:.1f}% stolen".format(**g["host"]))
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    for k, v in plain.items():
        alias = NAMES[a.workload].get(k, k)
        unit = units.get(k, "ms")  # the p99s, printed but not gated
        print(f"  {alias:32s} {v:14.4f} {unit:6s} [{k}] {describe(k, rounds[0][0], a.seconds)}")
    print(f"  {'ops_failed_ratio':32s} {ratio(failed, attempted):14.4f} {'':6s} {failed} failed / {attempted} attempted")
    print("box-independent counters:")
    for k, (v, base) in disk_counters(rounds[0][0], rounds[0][1]["disk"]).items():
        print(f"  {k:32s} {v:14.4f} {'':6s} {base}")

    if a.trace:
        traced = end_to_end(*rounds[1][:2], a.seconds)
        print("tracing overhead (traced vs untraced round of this run): " + ", ".join(
            f"{k} {100 * ratio(traced[k] - plain[k], plain[k]):+.1f}%" for k in plain
            if k not in ("setup_s", "server_peak_rss_mb")))
        layer = per_layer(a.workload, *rounds[1],
                          100 * ratio(traced["unary_p50_ms"] - plain["unary_p50_ms"], plain["unary_p50_ms"]))
        for k, v in layer.items():
            print(f"  {k:42s} {v:14.4f} {units.get(k, '')}")
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], plain

    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": values[x["name"]], "unit": x["unit"]} for x in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
