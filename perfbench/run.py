#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
against it and prints one JSON result line (the last line of stdout).

Usage (from the repository root):
  python3 perfbench/run.py --cores 2 --workload <name> --seed <n> \
      --seconds <s> --trace <0|1>

Workloads: steady_upsert_reads, burst_catchup, mqtt_queries (README.md).
With --trace 0 the result holds the end-to-end metrics; with --trace 1 the
per-layer metrics, measured in a separate traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import bench  # noqa: E402

WORKLOADS = ("steady_upsert_reads", "burst_catchup", "mqtt_queries")
# Offered load of steady_upsert_reads (README.md, "Offered load"):
# - 500 msgs/s, the top of the reference bridge's envelope of tens to hundreds
#   of msgs/s (BASELINE.md). A sweep found no backlog growth up to 30,000 msgs/s.
# - 1.5 reads/s, under half the ~3.5 reads/s that four closed-loop readers
#   complete alongside the 500 msgs/s ingest on local[2] (reader.capacity_per_s).
STEADY_RATE = 500
READ_RATE = 1.5
STEADY_WARM = 1000        # warm-up messages per set-up
STEADY_PREWARM_S = 10     # traffic and reads after set-up, before the window
STEADY_BACKLOG = 50000    # backlog of one catch-up after the window
STEADY_CATCHUPS = 3       # catch-ups per run; the catch-up rate is their median
BURST_WARM = 20000        # warm-up prefix through the CDC query
BURST_BACKLOG = 200000    # backlog published while the query is down
QUERY_EVENTS = 10000      # rows of the generated events table
SETUP_REPS = 3            # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(state_dir):
    """Compile the program and the harness with sbt (offline); cached by a
    hash of their sources. Returns the runtime classpath."""
    stamp_file = os.path.join(state_dir, "build.stamp")
    cp_file = os.path.join(state_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.monotonic()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    with open(os.path.join(state_dir, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"build failed (see {state_dir}/build.log)")
    log(f"built in {time.monotonic() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- one run -----------------------------------------------------------------

class Run:
    def __init__(self, args, cp, work):
        self.a, self.cp, self.work = args, cp, work
        self.gen = None
        self.replies = {}
        self.steal = 0.0

    def start_gen(self, count):
        self.gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), self.a.workload,
                                     str(self.a.seed), str(count)], stdin=subprocess.PIPE,
                                    stdout=subprocess.PIPE, text=True)
        line = self.gen.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError("generator did not start")
        return int(line[1])

    def gen_cmd(self, cmd):
        self.gen.stdin.write(cmd + "\n")
        self.gen.stdin.flush()
        reply = self.gen.stdout.readline().strip()
        parts = reply.split()
        kv = dict(p.split("=", 1) for p in parts[1:]) if parts and parts[0] == "OK" else {}
        return reply, kv

    def jvm(self, params):
        cpu0, t0 = cpu_times(), time.monotonic()
        try:
            return self._jvm(params)
        finally:
            self.steal = steal_frac(cpu0, cpu_times())
            log(f"harness ran {time.monotonic() - t0:.1f}s")

    def _jvm(self, params):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dderby.system.home=" + tmp, "-cp", self.cp, "perfbench.Harness",
                self.a.workload, self.work, f"trace={self.a.trace}", f"cores={self.a.cores}",
                f"setup_reps={SETUP_REPS}"]
        cmd += [f"{k}={v}" for k, v in params.items()]
        with open(os.path.join(self.work, "jvm.log"), "w") as err:
            p = subprocess.Popen(cmd, cwd=self.work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                 stderr=err, text=True)
            deadline = time.monotonic() + JVM_TIMEOUT_S
            try:
                for line in p.stdout:
                    line = line.strip()
                    if line.startswith("GEN "):
                        reply, kv = self.gen_cmd(line[4:])
                        if "phase" in kv:
                            self.replies[kv["phase"]] = kv
                        p.stdin.write(reply + "\n")
                        p.stdin.flush()
                    elif line == "DONE":
                        break
                    if time.monotonic() > deadline:
                        raise RuntimeError("harness timed out")
                p.wait(timeout=max(1, deadline - time.monotonic()))
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0:
            raise RuntimeError(f"harness failed with code {p.returncode} (see {self.work}/jvm.log)")
        with open(os.path.join(self.work, "jvm.json")) as f:
            return json.load(f)

    def stop_gen(self):
        if self.gen is not None:
            try:
                self.gen.stdin.write("QUIT\n")
                self.gen.stdin.flush()
            except OSError:
                pass
            try:
                self.gen.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()


def cpu_times():
    """The host's aggregate CPU counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(a, b):
    """Share of CPU time the hypervisor took away between two cpu_times()."""
    if not a or not b or len(a) < 8:
        return 0.0
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def user_bytes(msgs):
    return sum(len(t.encode()) + len(v) for t, v in msgs)


def slope(samples, t_lo, t_hi):
    """Least-squares slope (msgs/s) of retained messages over [t_lo, t_hi]."""
    pts = [(t / 1e9, r) for t, _, r in samples if t_lo <= t <= t_hi]
    if len(pts) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    den = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / den if den else 0.0


def common_layers(j, cores, wall_s):
    m = {}
    for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        v = j.get(f"phase.{k}", [])
        name = "trigger" if k == "triggerExecution" else k
        m[f"mb.{name}_ms_p50"] = bench.median(v) if v else 0.0
        if k == "triggerExecution":
            m["mb.trigger_ms_max"] = max(v) if v else 0.0
    m["mb.batches"] = j.get("mb.batches", 0)
    m["cdc.state_rows"] = j.get("cdc.state_rows", 0)
    m["cdc.state_mem_bytes"] = j.get("cdc.state_mem_bytes", 0)
    sc = j.get("cdc.state_commit_ms", [])
    m["cdc.state_commit_ms"] = sum(sc)
    for k in ("spark.jobs", "spark.tasks", "spark.shuffle_bytes", "spark.executor_run_s"):
        m[k] = j.get(k, 0)
    m["spark.busy_frac"] = j.get("spark.executor_run_s", 0) / (wall_s * cores) if wall_s else 0.0
    m["jvm.gc_s"] = j.get("jvm.gc_s", 0.0)
    plans = j.get("source.plans", [])
    data = [p for p in plans if p[2] > 0]
    m["source.plan_ms_p50"] = bench.median([p[0] / 1e6 for p in data]) if data else 0.0
    m["source.plan_ms_max"] = max(p[0] / 1e6 for p in data) if data else 0.0
    m["source.partitions_per_batch"] = sum(p[1] for p in data) / len(data) if data else 0.0
    m["source.rows_per_batch_p50"] = bench.median([p[2] for p in data]) if data else 0.0
    return m


def steady(r, a):
    rate = int(a.rate)
    pre = STEADY_WARM + rate * STEADY_PREWARM_S
    msgs = bench.steady_messages(a.seed, pre + rate * a.seconds + STEADY_BACKLOG * STEADY_CATCHUPS)
    measured, backlog = msgs[pre:pre + rate * a.seconds], msgs[pre + rate * a.seconds:]
    warm_d, prewarm_d = bench.delivered(msgs[:STEADY_WARM]), bench.delivered(msgs[STEADY_WARM:pre])
    rounds_d = [bench.delivered(backlog[i:i + STEADY_BACKLOG]) for i in range(0, len(backlog), STEADY_BACKLOG)]
    backlog_d = [m for d in rounds_d for m in d]
    measured_idx = [k for k, m in enumerate(measured) if m[0] not in bench.EXCLUDE]
    port = r.start_gen(len(msgs))
    try:
        j = r.jvm({"port": port, "rate": rate, "warm": STEADY_WARM, "prewarm": pre - STEADY_WARM,
                   "measured": len(measured), "read_rate": READ_RATE, "warm_delivered": len(warm_d),
                   "prewarm_delivered": len(prewarm_d), "measured_delivered": len(measured_idx),
                   "backlog": STEADY_BACKLOG, "backlog_delivered": ",".join(str(len(d)) for d in rounds_d),
                   "guard": 0 if a.unguarded_reads else 1})
        _, cap = r.gen_cmd(f"CAPACITY count={len(msgs)}")
    finally:
        r.stop_gen()
    g = r.replies["measure"]
    t0, period = int(g["t0"]), 1e9 / rate
    wd = len(warm_d) + len(prewarm_d)
    # position -> due time: positions past the warm-ups are the measured
    # messages that were not excluded, in send order
    due = [0] * wd + [t0 + int(k * period) for k in measured_idx]
    # the window's batches end by len(due); the catch-up's start from there
    window = [b for b in j["batches"] if b[2] <= len(due)]
    batches = [(b[1], b[2], b[4]) for b in window]
    lat = bench.commit_latencies_ms(batches, due, wd, len(due))
    end_ns = max([b[2] for b in batches] + [t0])
    misses = sum(1 for x in lat if x is None)
    lat = [x if x is not None else (end_ns - due[wd + i]) / 1e6 for i, x in enumerate(lat)]
    # a read's latency runs from its due time to its result, waits for the
    # lock included; failed reads are not retried, and are counted as
    # failures, not as latencies
    reads = j["reads"]
    read_lat = [(e - d) / 1e6 for d, b, s, e, ok in reads if ok]
    # a read that never returned counts as failed too
    failed_reads = j["reads_scheduled"] - len(read_lat)
    lost = len(due) - j["delivered"]
    problems = []
    if j["delivered"] != len(due):
        problems.append(f"delivered {j['delivered']} of {len(due)} messages")
    # catch-up rate: one backlog's size over the query's restart -> return of
    # the merge that commits its last message; the median of the catch-ups
    rates, last = [], len(due)
    for d, restart in zip(rounds_d, j["restart_ns"]):
        last += len(d)
        done = [b[4] for b in j["batches"] if b[2] >= last]
        if done:
            rates.append(len(d) / ((min(done) - restart) / 1e9))
    caught_up = len(rates) == len(rounds_d) and j["delivered_all"] == last
    if not caught_up:
        problems.append(f"catch-up committed {j['delivered_all'] - len(due)} of {len(backlog_d)} messages")
    catchup = bench.median(rates) if caught_up else 0.0
    expected = bench.last_values(warm_d + prewarm_d + [measured[k] for k in measured_idx] + backlog_d)
    bad = bench.check_state(expected, bench.read_tsv(os.path.join(r.work, "state.tsv")))
    if bad:
        problems.append(bad)
    # p90, not p99: latencies come in batches of ~250 messages, so p99 is set
    # by the worst one or two of the window's ~30 batches
    tail = bench.pctl(lat, 90)
    # the highest read percentile with ten samples beyond it
    rp = bench.tail_percentile(len(read_lat)) or 50.0
    report = {
        "commit_p50_ms": (bench.median(lat), "ms", len(lat)),
        "commit_p90_ms": (tail, "ms", len(lat)),
        "commit_p99_ms": (bench.pctl(lat, 99), "ms", len(lat)),
        "read_p50_ms": (bench.median(read_lat), "ms", len(read_lat)),
        f"read_p{rp:g}_ms": (bench.pctl(read_lat, rp), "ms", len(read_lat)),
        "read_mean_ms": (sum(read_lat) / len(read_lat) if read_lat else 0.0, "ms", len(read_lat)),
        "catchup_msgs_per_s": (catchup, "msg/s", len(rates)),
    }
    e2e = {
        "latency_p50_ms": bench.median(lat),
        "latency_tail_ms": tail,
        "read_mean_ms": report["read_mean_ms"][0],
        "throughput_per_s": catchup,
    }
    attempted = len(measured) + j["reads_scheduled"] + len(backlog)
    failed = max(lost, 0) + misses + failed_reads + (0 if caught_up else len(backlog_d))
    layers = {}
    if a.trace:
        entry = j["entry_ns"]
        hops = [(entry[p] - due[p]) / 1e3 for p in range(wd, min(len(entry), len(due)))]
        merges = [(b[4] - b[3]) / 1e6 for b in window if b[2] > wd]
        samples = j.get("broker.samples", [])
        layers.update(common_layers(j, a.cores, (end_ns - t0) / 1e9))
        layers.update({
            "gen.sent": int(g["sent"]), "gen.late_p99_ms": int(g["late_p99_ns"]) / 1e6,
            "gen.late_max_ms": int(g["late_max_ns"]) / 1e6,
            "gen.capacity_msgs_per_s": float(cap.get("msgs_per_s", 0)),
            "client.delivered": j["delivered"] - wd, "client.excluded": len(measured) - len(measured_idx),
            "client.hop_p50_us": bench.median(hops), "client.hop_p99_us": bench.pctl(hops, 99),
            "client.sink_ns_per_msg": j["client.publish_ns"] / max(1, j["delivered"]),
            "broker.retained_max": max((s[2] for s in samples), default=0),
            "broker.backlog_slope_msgs_per_s": slope(samples, t0, end_ns),
            "broker.lost": j["lost"],
            "sink.merge_ms_p50": bench.median(merges), "sink.merge_ms_max": max(merges),
            "sink.state_bytes": j["sink.state_bytes"],
            "sink.bytes_written_per_user_byte": j["sink.bytes_written"] / user_bytes([measured[k] for k in measured_idx]),
            "reader.ok": len(read_lat), "reader.failed": failed_reads,
            "reader.scan_ms_p50": bench.median([(e - s) / 1e6 for d, b, s, e, ok in reads if ok]),
            "reader.lock_wait_ms_p50": bench.median([(s - b) / 1e6 for d, b, s, e, ok in reads]),
            "sink.lock_wait_ms_p50": bench.median([(b[3] - b[5]) / 1e6 for b in window if b[2] > wd]),
            "reader.capacity_per_s": j["reader.capacity_per_s"],
        })
    return j, report, e2e, attempted, failed, problems, layers


def burst(r, a):
    msgs = bench.burst_messages(a.seed, BURST_WARM + BURST_BACKLOG)
    warm_d = bench.delivered(msgs[:BURST_WARM])
    backlog_d = bench.delivered(msgs[BURST_WARM:])
    port = r.start_gen(len(msgs))
    try:
        j = r.jvm({"port": port, "warm": BURST_WARM, "backlog": BURST_BACKLOG,
                   "warm_delivered": len(warm_d), "backlog_delivered": len(backlog_d)})
        _, cap = r.gen_cmd(f"CAPACITY count={BURST_BACKLOG}")
    finally:
        r.stop_gen()
    g = r.replies["backlog"]
    first = int(g["first"])
    frontdoor = BURST_BACKLOG / ((j["frontdoor_done_ns"] - first) / 1e9)
    d0, d1 = j["drain_start_ns"], j["drain_end_ns"]
    drain = BURST_BACKLOG / ((d1 - d0) / 1e9)
    # catch-up visibility: from the restart to the commit of the batch that
    # holds each backlog message
    wd, n = len(warm_d), len(warm_d) + len(backlog_d)
    batches = [(b[1], b[2], b[4]) for b in j["batches"]]
    lat = bench.commit_latencies_ms(batches, [d0] * n, wd, n)
    misses = sum(1 for x in lat if x is None)
    lat = [x if x is not None else (d1 - d0) / 1e6 for x in lat]
    problems = []
    arrival = warm_d + backlog_d
    sent, lost = len(msgs), j["lost"]
    excluded = len(msgs) - len(arrival)
    if sent != j["delivered"] + excluded + lost:
        problems.append(f"sent {sent} != delivered {j['delivered']} + excluded {excluded} + lost {lost}")
    actual = bench.read_tsv(os.path.join(r.work, "history_actual.tsv"))
    expected = bench.read_tsv(os.path.join(r.work, "history_expected.tsv"))
    for bad in (bench.check_rows(expected, actual, "history vs MqttPipeline.historyKept"),
                bench.check_rows([str(i) for i in bench.cdc_kept(arrival)], [x[0] for x in actual],
                                 "history vs the diff-only gate over the sent sequence")):
        if bad:
            problems.append(bad)
    report = {
        "frontdoor_msgs_per_s": (frontdoor, "msg/s", 1),
        "drain_msgs_per_s": (drain, "msg/s", 1),
        "generator_msgs_per_s": (float(cap.get("msgs_per_s", 0)), "msg/s", 1),
    }
    # no reader runs during the catch-up
    e2e = {"latency_p50_ms": bench.median(lat), "latency_tail_ms": bench.pctl(lat, 99),
           "read_mean_ms": 0.0, "throughput_per_s": drain}
    attempted = sent
    failed = misses + max(0, len(arrival) - j["delivered"])
    layers = {}
    if a.trace:
        entry = j["entry_ns"]
        t0 = int(g["t0"])
        hops = [(entry[p] - t0) / 1e3 for p in range(wd, min(len(entry), n))]
        samples = j.get("broker.samples", [])
        layers.update(common_layers(j, a.cores, (d1 - d0) / 1e9))
        layers.update({
            "gen.sent": int(g["sent"]), "gen.late_p99_ms": 0.0, "gen.late_max_ms": 0.0,
            "gen.capacity_msgs_per_s": float(cap.get("msgs_per_s", 0)),
            "client.delivered": j["delivered"], "client.excluded": excluded,
            "client.hop_p50_us": bench.median(hops), "client.hop_p99_us": bench.pctl(hops, 99),
            "client.sink_ns_per_msg": j["client.publish_ns"] / max(1, j["delivered"]),
            "broker.retained_max": j["broker.retained_max"],
            "broker.backlog_slope_msgs_per_s": slope(samples, first, j["frontdoor_done_ns"]),
            "broker.lost": lost,
            "cdc.kept_frac": j["history_rows"] / max(1, j["delivered"]),
        })
    return j, report, e2e, attempted, failed, problems, layers


def write_events(path, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq
    c = bench.events_table(seed, QUERY_EVENTS)
    t = pa.table({
        "event_id": pa.array(c["event_id"], pa.int64()),
        "ts": pa.array(c["ts_ns"], pa.timestamp("ns")),
        "user_id": pa.array(c["user_id"], pa.int64()),
        "event_type": pa.array(c["event_type"], pa.string()),
        "value": pa.array(c["value"], pa.float64()),
        "props": pa.array(c["props"], pa.string()),
    })
    pq.write_table(t, path, version="2.6")


def queries(r, a):
    import duckdb
    import pandas as pd
    data = os.path.join(r.work, "data")
    os.makedirs(data)
    write_events(os.path.join(data, "events.parquet"), a.seed)
    j = r.jvm({"data": data})
    times = {n: t for n, t in j["query_s"]}
    problems = list(j["errors"])
    with open(os.path.join(r.work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    failed = 0
    for name in sorted(times):
        try:
            bad = bench.frames_differ(pd.read_parquet(os.path.join(r.work, "q", name)),
                                      con.execute(oracles[name]).df())
        except Exception as e:  # a missing result or a failing oracle
            bad = f"{type(e).__name__}: {e}"
        if bad:
            failed += 1
            problems.append(f"{name}: {bad}")
    vals = list(times.values())
    total = sum(vals)
    # latency: every query; read: the batch forms only, without the
    # streaming file-replay forms (SparkEntry.eagerQueries)
    batch = [t for n, t in times.items() if n not in j["eager"]]
    # tail: the mean of the three slowest queries, steadier than any single
    # order statistic of 21
    tail = sum(sorted(vals)[-3:]) / 3
    report = {"queries_total_s": (total, "s", len(vals)), "query_p50_s": (bench.median(vals), "s", len(vals)),
              "query_p90_s": (bench.pctl(vals, 90), "s", len(vals)),
              "query_slowest3_mean_s": (tail, "s", 3),
              "batch_query_p50_s": (bench.median(batch), "s", len(batch)),
              "batch_query_mean_s": (sum(batch) / len(batch), "s", len(batch))}
    e2e = {"latency_p50_ms": bench.median(vals) * 1e3, "latency_tail_ms": tail * 1e3,
           "read_mean_ms": sum(batch) / len(batch) * 1e3, "throughput_per_s": len(vals) / total}
    layers = {}
    if a.trace:
        layers.update(common_layers(j, a.cores, j["wall_s"]))
        layers.update({f"q.{n}_s": t for n, t in times.items()})
    return j, report, e2e, len(vals), max(failed, len(j["errors"])), problems, layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--rate", type=float, default=STEADY_RATE,
                    help="offered msgs/s on steady_upsert_reads (by hand, for a saturation sweep)")
    ap.add_argument("--unguarded-reads", action="store_true",
                    help="steady_upsert_reads without the read/merge lock (by hand: shows the read race)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("the program's sources (build.sbt, src/main) are not next to the benchmark")
        return 2
    state = os.path.join(HERE, "work")
    os.makedirs(state, exist_ok=True)
    cp = build(state)
    work = os.path.join(state, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = Run(a, cp, work)
    fn = {"steady_upsert_reads": steady, "burst_catchup": burst, "mqtt_queries": queries}[a.workload]
    j, report, e2e, attempted, failed, problems, layers = fn(r, a)
    setups = j["setup_s"]
    e2e["setup_s"] = bench.median(setups)
    e2e["heap_peak_mb"] = max(j["heap_mb"])
    report["setup_s"] = (e2e["setup_s"], "s", len(setups))
    report["heap_peak_mb"] = (e2e["heap_peak_mb"], "MB", len(j["heap_mb"]))
    report["error_frac"] = (failed / attempted, "ratio", attempted)
    layers["host.steal_frac"] = r.steal
    log(f"host steal over the run: {r.steal:.3f}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for k, (v, unit, n) in report.items():
        print(f"{a.workload} {k} = {v:.6g} {unit} (n={n})")
    units = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms", "read_mean_ms": "ms",
             "throughput_per_s": "1/s", "heap_peak_mb": "MB"}
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    print(bench.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
