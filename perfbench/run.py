#!/usr/bin/env python3
"""Clickstream benchmark: one workload against the program built from
this checkout.

    python3 perfbench/run.py --workload <replay|live>
        --seed <n> --seconds <s> --trace <0|1> [--size full|small]

Run from the root of a checkout. The first run builds the program and the
harness with sbt (perfbench/jvm); later runs reuse the build. This process
is the load process: it starts the harness JVM (the system under test),
drives the gateway clients and the event writer from threads of its own,
checks every output against DuckDB or a recomputation, and prints one JSON
object as the last line of its output. See perfbench/README.md.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks    # noqa: E402
import duckdb    # noqa: E402
import fixtures  # noqa: E402

ROOT = os.path.abspath(os.path.join(HERE, ".."))
JVM_DIR = os.path.join(HERE, "jvm")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT_ROOT = os.path.join(ROOT, ".bench_out")

CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
QUERIES = ["q01_events_per_minute", "q02_latency_stats", "q03_rows_per_minute",
           "q04_freshness", "q05_pipeline_health", "q06_throughput_summary",
           "q07_top_pages", "q08_traffic_trend", "q09_geo_analysis",
           "q10_device_analytics", "q11_top_page_country", "q12_agg_rollup_status",
           "q13_recent_activity", "q14_minute_agg", "q15_5min_agg", "q16_hourly_agg",
           "q17_anomaly_batch"]

CLIENTS = 2  # closed-loop gateway readers on live
# Sizes per workload; `small` is the size of the benchmark's own tests.
SIZES = {
    "full": dict(replay_events=50_000, replay_warm_max_s=25.0, rate=400,
                 live_warm_s=10.0, fixture_events=20_000),
    "small": dict(replay_events=20_000, replay_warm_max_s=3.0, rate=100,
                  live_warm_s=3.0, fixture_events=5_000),
}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def _newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src"),
                os.path.join(ROOT, "project")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise BenchError("no program to benchmark: run from the root of a checkout")
    stamp = os.path.join(JVM_DIR, "target", "perfbench-classpath.txt")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > _newest_source():
        return open(stamp).read().strip()
    log("building the program and the harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export harness/Runtime/fullClasspath"],
                       cwd=JVM_DIR, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


# ----------------------------------------------------------------- harness

class Harness:
    """The harness JVM: the system under test."""

    def __init__(self, classpath, work, args):
        self.work = work
        self.log_path = os.path.join(work, "harness.log")
        self.err = open(self.log_path, "w")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # temp files stay in the work directory: the JVM ends by halt, so
        # Spark's exit hooks never remove what it left in the system tmpdir
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
               *JDK_OPENS,
               "-cp", classpath, "perfbench.Harness",
               *[f"{k}={v}" for k, v in args.items()]]
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, start_new_session=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, word, timeout):
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise BenchError(f"harness did not say {word} within {timeout:.0f} s")
            if line is None:
                raise BenchError(f"harness ended before {word}: {self.tail()}")
            if line.startswith(word):
                return line

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def result(self, timeout):
        self.expect("DONE", timeout)
        self.proc.wait(timeout=30)
        with open(os.path.join(self.work, "result.json")) as f:
            return json.load(f)

    def tail(self):
        self.err.flush()
        with open(self.log_path, errors="replace") as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        return " | ".join(lines[-6:])

    def close(self):
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self.err.close()


# ----------------------------------------------------------------- clients

class Readers:
    """Closed-loop dashboard clients. They take the entries Q1-Q17 in
    rounds, each round in an order drawn from the seed; each client takes
    the next entry as soon as its last response is read. The full result
    is always asked for."""

    def __init__(self, port, seed, clients):
        self.seed, self.clients = seed, clients
        self.records = []          # (client, entry, t_send, t_done, status, digest, bytes)
        self.bodies = {}           # digest -> (entry, body)
        self.lock = threading.Lock()
        self.rounds = 0
        self.conns = [http.client.HTTPConnection("127.0.0.1", port, timeout=150)
                      for _ in range(clients)]

    def _request(self, client, entry):
        conn = self.conns[client]
        t_send = time.time()
        conn.request("POST", f"/entries/{entry}?limit=100000000", body=b"")
        resp = conn.getresponse()
        body = resp.read()
        t_done = time.time()
        d = hashlib.sha256(body).hexdigest()
        with self.lock:
            self.records.append((client, entry, t_send, t_done, resp.status, d, len(body)))
            if d not in self.bodies:
                self.bodies[d] = (entry, body.decode("utf-8", "replace"))

    def _shuffled(self):
        order = list(QUERIES)
        random.Random(f"{self.seed}-{self.rounds}").shuffle(order)
        self.rounds += 1
        return order

    def run(self, seconds):
        """For `seconds`, each client takes the next entry of the seeded
        rounds; then each finishes the request in flight. A round may stop
        part-way."""
        t_end, order, lock, errors = time.monotonic() + seconds, [], threading.Lock(), []

        def next_entry():
            if time.monotonic() >= t_end:
                return None
            with lock:
                if not order:
                    order.extend(self._shuffled())
                return order.pop()

        def client(c):
            try:
                entry = next_entry()
                while entry is not None:
                    self._request(c, entry)
                    entry = next_entry()
            except Exception as e:  # a failed request fails the run, never silently
                errors.append(e)
        ts = [threading.Thread(target=client, args=(c,)) for c in range(self.clients)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        if errors:
            raise BenchError(f"reader failed: {errors[0]!r}")

    def close(self):
        for c in self.conns:
            c.close()


PAGES = [("/", .25), ("/search", .15), ("/product/42", .12), ("/cart", .10),
         ("/product/101", .08), ("/checkout", .08), ("/user/profile", .07),
         ("/product/205", .05), ("/help", .05), ("/about", .03), ("/contact", .02)]
COUNTRIES = [("US", .35), ("IN", .20), ("DE", .12), ("FR", .10), ("JP", .08),
             ("GB", .07), ("CA", .05), ("AU", .03)]
DEVICES = [("mobile", .60), ("desktop", .35), ("tablet", .05)]


class Writer(threading.Thread):
    """Open-loop event writer: `rate` events/s in ticks of `tick` s. Each
    event's `ts` is stamped when it is created; each tick's file appears
    in the inbox atomically (written under a hidden name, then renamed)."""

    def __init__(self, inbox, seed, rate, tick=0.1):
        super().__init__(daemon=True)
        self.rng = random.Random(f"writer-{seed}")
        self.inbox, self.seed, self.rate, self.tick = inbox, seed, rate, tick
        self.created = {}        # event_id -> (ts_ms, page, country)
        self.files = []          # (visible_at_ms, name)
        self.lateness_ms = []
        self.stop_flag = threading.Event()
        self.error = None
        self.last_ts = 0

    def _pick(self, table):
        x, acc = self.rng.random(), 0.0
        for v, w in table:
            acc += w
            if x < acc:
                return v
        return table[-1][0]

    def _event(self, eid, ts):
        page, country = self._pick(PAGES), self._pick(COUNTRIES)
        self.created[eid] = (ts, page, country)
        return json.dumps({"event_id": eid, "user_id": f"u{self.rng.randint(1, 5000):06d}",
                           "ts": ts, "page": page, "referrer": "/", "country": country,
                           "device": self._pick(DEVICES)})

    def _publish(self, j, lines):
        tmp = os.path.join(self.inbox, f".tick-{j:07d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        name = f"tick-{j:07d}.json"
        os.replace(tmp, os.path.join(self.inbox, name))
        self.files.append((int(time.time() * 1000), name))

    def run(self):
        try:
            per_tick = self.rate * self.tick
            t0 = time.monotonic()
            j, owed = 0, 0.0
            while not self.stop_flag.is_set():
                due = t0 + j * self.tick
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                self.lateness_ms.append((time.monotonic() - due) * 1000.0)
                owed += per_tick
                k = int(owed)
                owed -= k
                ts = int(time.time() * 1000)
                self.last_ts = ts
                self._publish(j, [self._event(f"e{self.seed}-{j}-{i}", ts) for i in range(k)])
                j += 1
        except Exception as e:
            self.error = e

    def finish(self):
        """Stop, then publish one marker event dated 75 s ahead: it moves
        the watermark past every window that holds a real event."""
        self.stop_flag.set()
        self.join()
        if self.error:
            raise BenchError(f"writer failed: {self.error!r}")
        marker = self.last_ts + 75_000
        self._publish(10 ** 6, [self._event(f"marker-{self.seed}", marker)])
        return marker


# --------------------------------------------------------------- metrics

def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo, hi = int(k), min(int(k) + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def med(values):
    return statistics.median(values) if values else 0.0


def closed_loop_qps(window):
    """Requests per second the closed-loop readers sustain on the mix
    Q1-Q17: clients over mean latency, every entry weighted alike (Little's
    law, with no think time). Counting the requests a fixed-length window
    completed would depend on which entries the seed puts in it and on the
    request still in flight when it ends."""
    per_entry = {}
    for r in window:
        per_entry.setdefault(r[1], []).append(r[3] - r[2])
    return CLIENTS / statistics.mean(statistics.mean(v) for v in per_entry.values())


def trigger_capacity(res, window):
    """Micro-batches per second of trigger execution, pooled over both
    streams' batches that started in the window: how many triggers a
    second the streams could run back to back. Rows per second would not
    do: once a trigger outlasts its interval the next batch holds that
    much more input, and the figure reads the writer's rate."""
    t0, t1 = window[0] * 1000, window[1] * 1000
    bs = [b for b in res["batches"]["raw"] + res["batches"]["agg"] if t0 <= b["start"] <= t1]
    busy_s = sum(b["trigger_ms"] for b in bs) / 1000.0
    return len(bs) / busy_s if busy_s else 0.0


def spine_layers(batches, usage, k, wall_s):
    """ClickPipeline spine: jobs, tasks and per-trigger phase medians."""
    data = [b for b in batches if b["rows"] > 0]
    stateful = [b for b in batches if b["state_rows"] > 0] or batches

    def phase(name):
        return med([b["durations"].get(name, 0) for b in batches])
    return {
        "spine.run_s": wall_s,
        "spine.jobs": usage["jobs"], "spine.tasks": usage["tasks"],
        "spine.task_s": usage["task_s"],
        "spine.util": usage["task_s"] / (wall_s * k) if wall_s else 0.0,
        "spine.shuffle_bytes": usage["shuffle_bytes"],
        "spine.batches": len(batches),
        "spine.rows_per_batch": med([b["rows"] for b in data]),
        "spine.state_rows": med([b["state_rows"] for b in stateful]),
        "spine.state_commit_ms": med([b["state_commit_ms"] for b in stateful]),
        "spine.latestOffset_ms": phase("latestOffset"),
        "spine.queryPlanning_ms": phase("queryPlanning"),
        "spine.addBatch_ms": phase("addBatch"),
        "spine.walCommit_ms": phase("walCommit"),
        "spine.commitOffsets_ms": phase("commitOffsets"),
        "spine.trigger_ms": med([b["trigger_ms"] for b in batches]),
    }


def sum_usage(us):
    out = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0, "wall_s": 0.0}
    for u in us:
        for key in out:
            out[key] += u[key]
    return out


def gateway_layers(records, requests):
    """Split each traced request into pre (sent -> first job), exec (first
    job -> last job) and post (last job -> response read). A request is
    matched to the job group of its entry that started first after it was
    sent."""
    by_entry = {}
    for r in requests:
        if r["jobs"] > 0:
            by_entry.setdefault(r["entry"], []).append(r)
    for rs in by_entry.values():
        rs.sort(key=lambda r: r["first_start"])
    pre, exe, post, jobs, tasks, task_s, per_q = [], [], [], [], [], [], {}
    used = set()
    for client, entry, t_send, t_done, _, _, nbytes in sorted(records, key=lambda r: r[2]):
        per_q.setdefault(entry, []).append((t_done - t_send) * 1000.0)
        send_ms, done_ms = t_send * 1000.0, t_done * 1000.0
        match = next((g for g in by_entry.get(entry, [])
                      if g["group"] not in used and send_ms - 5 <= g["first_start"] <= done_ms), None)
        if match is None:
            continue
        used.add(match["group"])
        pre.append(max(0.0, match["first_start"] - send_ms))
        exe.append(match["last_end"] - match["first_start"])
        post.append(max(0.0, done_ms - match["last_end"]))
        jobs.append(match["jobs"]); tasks.append(match["tasks"]); task_s.append(match["task_s"])
    out = {"gateway.pre_ms": med(pre), "gateway.exec_ms": med(exe), "gateway.post_ms": med(post),
           "gateway.jobs_per_req": statistics.mean(jobs) if jobs else 0.0,
           "gateway.tasks_per_req": statistics.mean(tasks) if tasks else 0.0,
           "gateway.task_s_per_req": statistics.mean(task_s) if task_s else 0.0,
           "gateway.resp_bytes": statistics.mean([r[6] for r in records]) if records else 0.0}
    for q in QUERIES:
        out[f"queries.{q[:3]}_ms"] = med(per_q.get(q, []))
    return out


def declared(kind):
    """The metrics BENCHMARK.json declares, as name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ------------------------------------------------------------- workloads

def freshness(writer, res, window, raw_dir):
    """Per event created in the window: end of the raw-sink micro-batch
    that landed it, minus its creation time."""
    ends = {b["batch"]: b["start"] + b["trigger_ms"] for b in res["batches"]["raw"]}
    files = [os.path.join(d, f) for d, _, fs in os.walk(raw_dir) for f in fs if f.endswith(".parquet")]
    con = duckdb.connect()
    rows = con.execute(f"""SELECT event_id, batch, epoch_ms(created_at) FROM
        read_parquet({files!r}, hive_partitioning=true)""").fetchall() if files else []
    t0, t1 = window[0] * 1000, window[1] * 1000
    fresh, stamp_gap = [], []
    for eid, batch, created_at in rows:
        ev = writer.created.get(eid)
        if ev is None or eid.startswith("marker") or not (t0 <= ev[0] <= t1):
            continue
        end = ends.get(int(batch))
        if end is None:
            continue
        fresh.append(end - ev[0])
        stamp_gap.append(end - created_at)
    return fresh, stamp_gap


def backlog_files(writer, res, ckpt_dir):
    """Median over raw micro-batches of the files visible in the inbox but
    not yet taken when the batch started (from the file source's log)."""
    taken = {}
    log_dir = os.path.join(ckpt_dir, "sources", "0")
    for f in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        if f.startswith("."):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                taken[os.path.basename(entry["path"])] = entry["batchId"]
    counts = []
    for b in res["batches"]["raw"]:
        visible = [name for at, name in writer.files if at <= b["start"]]
        counts.append(sum(1 for name in visible if taken.get(name, 1 << 60) >= b["batch"]))
    return med(counts)


def workload_live(h, sizes, seed, seconds, trace, fixtures_dir, work):
    port = int(h.expect("READY", 600).split()[1])
    setup_s = time.monotonic() - h.t_launch
    writer = Writer(os.path.join(work, "inbox"), seed, sizes["rate"])
    writer.start()
    readers = Readers(port, seed, CLIENTS)
    # a fixed warm-up: a reader round takes most of a run, and the
    # streams' trigger times settle within it
    w0 = time.monotonic()
    readers.run(sizes["live_warm_s"])
    warm_s = time.monotonic() - w0
    n_warm = len(readers.records)
    h.send("MARK")
    t0 = time.time()
    readers.run(seconds)
    t1 = time.time()
    h.send(f"STOP {writer.finish()}")
    res = h.result(180)
    readers.close()
    window = readers.records[n_warm:]
    lat = [(r[3] - r[2]) * 1000.0 for r in window]
    qps = closed_loop_qps(window)

    problems = []
    con = checks.oracle_connection(fixtures_dir)
    oracles = {q: checks.oracle_digest(con, res["oracle"][q]) for q in QUERIES}
    bad = [x for x in readers.records if x[4] != 200]
    if bad:
        problems.append(f"{len(bad)} requests failed, first {bad[0][1]} -> HTTP {bad[0][4]}")
    # Spark may order rows differently from one request to the next, so
    # bodies are first grouped by their sorted lines; each distinct group
    # is checked once
    seen = set()
    for entry, body in readers.bodies.values():
        key = (entry, hashlib.sha256("\n".join(sorted(body.splitlines())).encode()).hexdigest())
        if key not in seen:
            seen.add(key)
            problems += checks.check_json_response(entry, body, oracles[entry], con, work,
                                                  res["oracle"][entry])
    fresh, gap = freshness(writer, res, (t0, t1), os.path.join(work, "raw"))
    marker_ts = max(v[0] for v in writer.created.values())
    problems += checks.check_live(con, writer.created, os.path.join(work, "raw"),
                                  os.path.join(work, "agg"), marker_ts - checks.WATERMARK_MS)
    if not fresh:
        problems.append("live: no event of the window landed")
    metrics = {"setup_s": setup_s, "op_p50_ms": pct(fresh, 50),
               "ops_per_s": trigger_capacity(res, (t0, t1))}
    log("live: " + json.dumps({k: round(v, 2) for k, v in {
        "dash_qps": qps, "dash_p50_ms": pct(lat, 50), "dash_p95_ms": pct(lat, 95),
        "fresh_p50_ms": pct(fresh, 50), "fresh_p90_ms": pct(fresh, 90),
        "created_at_gap_p50_ms": pct(gap, 50),
        "raw_batches": len(res["batches"]["raw"])}.items()}))
    layers = {"warmup_s": warm_s, "load.lateness_ms": pct(writer.lateness_ms, 99),
              "spine.fresh_p90_ms": pct(fresh, 90), "spine.created_at_gap_ms": pct(gap, 50),
              "gateway.req_p50_ms": pct(lat, 50), "gateway.req_per_s": qps}
    if trace:
        L = res["layers"]
        bs = res["batches"]["raw"] + res["batches"]["agg"]
        busy = sum(b["trigger_ms"] for b in bs) / 1000.0
        layers.update(spine_layers(bs, sum_usage([L["raw_usage"], L["agg_usage"]]), CORES, busy))
        layers["spine.backlog_files"] = backlog_files(writer, res, os.path.join(work, "checkpoints", "raw"))
        layers.update(gateway_layers(window, L["requests"]))
        layers.update(jvm_layers(res))
        rel = L["release"]
        problems += checks.check_parquet_output(rel["entry"], rel["output"],
                                                checks.oracle_digest(con, res["oracle"][rel["entry"]]),
                                                con, res["oracle"][rel["entry"]])
        log(f"release: {rel['entry']} {rel['s']:.2f} s, {rel['jobs']} jobs, "
            f"{rel['pins_left']} pins left ({rel['pin_bytes']} bytes)")
        e = rel["entry"][:4]
        layers.update({f"release.{e}_s": rel["s"], f"release.{e}_jobs": rel["jobs"],
                       f"release.{e}_tasks": rel["tasks"], f"release.{e}_task_s": rel["task_s"],
                       f"release.{e}_util": rel["task_s"] / (rel["s"] * CORES),
                       f"release.{e}_shuffle_bytes": rel["shuffle_bytes"],
                       f"release.{e}_pins_left": rel["pins_left"]})
    attempted = len(readers.records) + len(writer.created)
    return metrics, layers, attempted, len(bad), problems


def jvm_layers(res):
    j = res.get("jvm") or {}
    return {"session.start_s": res["session_start_s"], "jvm.cpu_s": j.get("cpu_s", 0.0),
            "jvm.gc_ms": j.get("gc_ms", 0.0), "jvm.heap_peak_mb": j.get("heap_peak_mb", 0.0)}


def workload_replay(h, sizes, seed, seconds, trace, work):
    h.expect("READY", 600)
    setup_s = time.monotonic() - h.t_launch
    res = h.result(seconds + 240)
    ops = res["ops"]
    times = [o["s"] for o in ops]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    problems = checks.check_replay(con, res["staged"], res["output"])
    metrics = {"setup_s": setup_s, "op_p50_ms": pct(times, 50) * 1000.0,
               "ops_per_s": len(ops) / res["window_s"]}
    log(f"replay: ingest_events_per_s={res['events'] / med(times):.0f} ops={len(ops)}")
    layers = {"warmup_s": res["warmup_s"], "gen.stage_s": res["gen_stage_s"]}
    if trace:
        L = res["layers"]
        k = len(L["spine"])

        def per_op(kind):
            return {key: sum(u[key] for u in L[kind]) / k for key in L[kind][0]}
        sp = per_op("spine")
        layers.update(spine_layers(L["batches"], sp, CORES, med([o["phases"]["spine"] for o in ops])))
        layers["spine.batches"] = len(L["batches"]) / k
        layers["spine.backlog_files"] = L["staged_files"]
        layers.update({
            "rollup.run_s": med([o["phases"]["rollup"] for o in ops]), "rollup.jobs": per_op("rollup")["jobs"],
            "anomaly.run_s": med([o["phases"]["anomaly"] for o in ops]), "anomaly.jobs": per_op("anomaly")["jobs"],
            "store.write_s": med([o["phases"]["store"] for o in ops]), "store.jobs": per_op("store")["jobs"],
            "store.bytes": L["store_bytes"], "store.files": L["store_files"]})
        layers.update(jvm_layers(res))
    return metrics, layers, len(ops), 0, problems


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["replay", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    sizes = SIZES[a.size]

    try:
        classpath = build()
    except BenchError as e:
        log(str(e))
        return 2

    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fixtures_dir = None
    if a.workload == "live":
        fixtures_dir = os.path.join(WORK_ROOT, f"fixtures-{sizes['fixture_events']}-{a.seed}")
        if not os.path.isfile(os.path.join(fixtures_dir, "_DONE")):
            tmp = fixtures_dir + f".tmp{os.getpid()}"
            fixtures.write_fixtures(tmp, a.seed, sizes["fixture_events"])
            open(os.path.join(tmp, "_DONE"), "w").close()
            shutil.rmtree(fixtures_dir, ignore_errors=True)
            os.replace(tmp, fixtures_dir)

    args = {"workload": a.workload, "work": work, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": CORES,
            "warm_max_s": sizes["replay_warm_max_s"], "events": sizes["replay_events"]}
    if fixtures_dir:
        args["fixtures"] = fixtures_dir
    h = Harness(classpath, work, args)
    try:
        if a.workload == "replay":
            metrics, layers, attempted, failed, problems = workload_replay(
                h, sizes, a.seed, a.seconds, a.trace, work)
        else:
            metrics, layers, attempted, failed, problems = workload_live(
                h, sizes, a.seed, a.seconds, a.trace, fixtures_dir, work)
    except BenchError as e:
        log(f"{e}; harness log: {h.tail()}")
        return 3
    finally:
        h.close()
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if a.trace:
        os.makedirs(OUT_ROOT, exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(OUT_ROOT, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    # a layer the workload does not run reads 0
    units = declared("per_layer" if a.trace else "end_to_end")
    values = layers if a.trace else metrics
    unknown = set(values) - set(units)
    if unknown:
        raise BenchError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": not problems, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
