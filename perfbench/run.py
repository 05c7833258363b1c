#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <catalog|lambda_serve>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test     # fingerprint canonical-form checks

It builds the system and the benchmark from source (see build.py), runs
the workload, checks the outputs, prints every metric by name with its
unit and sample count, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (spans go to <build dir>/traces/). METRICS.md says what
each metric means on each workload. A failed output check exits 1.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
SETUP_ROUNDS = 3
# The `/` route's latency limit: the reference endpoint's ask timeout.
FULL_LIMIT_MS = 5000.0
# A generator later than this at its 99th percentile voids the run.
LATE_LIMIT_MS = 200.0

CATALOG = {"data": HERE / "data" / "sf0.01", "prints": HERE / "fingerprints.txt"}
SERVE = {"sensors": 8, "anomalous": 4, "anomaly_rate": 0.08, "rate": 100,
         "stress_rate": 20, "full_rate": 0.2, "refit_window": 2000, "refit_gap_ms": 60000,
         "tick_gap_ms": 5000, "backlog": 600, "warmup": 5}

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
              ("job_s", "s"), ("mem_mb", "MB")]


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """Sized from MemTotal the way the tier-1 test run sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(classes, run_dir, main, args):
    jars = build.spark_jars()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file: a run writes nothing outside the build directory
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={run_dir / 'local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir / 'hadoop'}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", f"{classes}:{jars}/*", main]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def java_env(run_dir):
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=str(run_dir / "local"))
    return env


class Proc:
    """A child process spoken to in lines; its stdout is read on a thread
    so every wait can time out."""

    def __init__(self, cmd, log, env=None):
        self.p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=log, text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def next_line(self, timeout):
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"no reply within {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError(f"process ended with code {self.p.wait()}")
        return line

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


class Host(Proc):
    def expect(self, event, timeout=120):
        while True:
            line = self.next_line(timeout)
            if line.startswith("@@ "):
                fields = line.split()[1:]
                if fields[0] != event:
                    raise RuntimeError(f"expected {event}, got {line}")
                return fields[1:]


class Gen(Proc):
    def call(self, timeout=120, **cmd):
        self.send(json.dumps(cmd))
        return json.loads(self.next_line(timeout))


def read_rows(path, conv):
    with open(path) as f:
        return [conv(l.split()) for l in f if l.strip()]


# ---------------------------------------------------------------- workloads

def run_catalog(ctx):
    host = ctx.host(data=CATALOG["data"], prints=CATALOG["prints"])
    host.expect("done", timeout=ctx.left())
    return {}


def run_serve(ctx):
    cfg = SERVE
    host = ctx.host(refit_window=cfg["refit_window"], refit_gap_ms=cfg["refit_gap_ms"],
                    tick_gap_ms=cfg["tick_gap_ms"], backlog=cfg["backlog"],
                    models=cfg["anomalous"])
    gen = ctx.gen()
    sensors = [f"sensor{i:02d}" for i in range(cfg["sensors"])]
    for rnd in range(1, SETUP_ROUNDS + 1):
        port = int(host.expect("ready", timeout=ctx.left())[1])
        sent = ctx.run_dir / f"sent{rnd}.txt"
        gen.call(cmd="round", port=port, sent=str(sent), seed=ctx.seed, tag=f"serve:{rnd}",
                 sensors=sensors, anomalous=sensors[:cfg["anomalous"]],
                 anomaly_rate=cfg["anomaly_rate"])
        gen.call(cmd="start", rate=cfg["rate"])
        host.expect("setup", timeout=ctx.left())
        if rnd < SETUP_ROUNDS:
            gen.call(cmd="close")
            host.send("next")
        else:
            held = gen.call(cmd="hold", offset=cfg["backlog"], timeout=ctx.left())
            host.send(f"next {held['sent']}")
    http = int(host.expect("live", timeout=ctx.left())[1])
    gen.call(cmd="start", rate=cfg["rate"])
    requests = ctx.run_dir / "requests.txt"
    live = gen.call(cmd="live", http=http, seconds=ctx.seconds, warmup=cfg["warmup"],
                    stress_rate=cfg["stress_rate"], full_rate=cfg["full_rate"],
                    sensors=sensors, requests=str(requests), timeout=ctx.left())
    stopped = gen.call(cmd="stop")
    host.send(f"stop {stopped['sent']} {sent}")
    host.expect("done", timeout=ctx.left())
    return {"late_ms": live["late_ms"], "start_ms": live["start_ms"], "end_ms": live["end_ms"],
            "sent": read_rows(sent, lambda f: (int(f[0]), float(f[1]))),
            "requests": read_rows(requests, lambda f: (f[0], float(f[1]), float(f[2]),
                                                       float(f[3]), int(f[4])))}


# ---------------------------------------------------------------- reduction

class Report:
    """Metrics by name, each with its unit and sample count."""

    def __init__(self):
        self.values = {}
        self.notes = []
        self.detail = []

    def put(self, name, value, unit, n=1, note=""):
        self.values[name] = (float(value), unit, n, note)

    def lat(self, name, xs, unit):
        """Median and highest supported tail of xs, as <name>_p50 and
        <name>_tail (0 when there are too few samples)."""
        self.put(f"{name}_p50", stats.median(xs) if xs else 0.0, unit, len(xs))
        p, v = stats.tail(xs)
        self.put(f"{name}_tail", v if p else 0.0, unit, len(xs),
                 f"p{p:g}" if p else "too few samples for a tail")


def med(xs):
    return stats.median(xs) if xs else 0.0


def group_medians(res, prefix, field, scale=1.0):
    """Median over the job groups starting with prefix of one counter."""
    return med([g[field] * scale for k, g in res.get("groups", {}).items()
                if k.startswith(prefix)])


# per-layer metrics summed from the scheduler's task metrics per job group
LAYER_COUNTERS = [
    ("operators.jobs", "jobs", "count", 1), ("operators.stages", "stages", "count", 1),
    ("operators.tasks", "tasks", "count", 1), ("operators.cpu_s", "cpu_ns", "s", 1e-9),
    ("operators.gc_s", "gc_ms", "s", 1e-3),
    ("operators.shuffle_bytes", "shuffle_bytes", "bytes", 1),
    ("operators.spill_bytes", "spill_bytes", "bytes", 1),
    ("sources.scan_bytes", "scan_bytes", "bytes", 1),
    ("sources.scan_rows", "scan_rows", "rows", 1)]


def reduce_catalog(res, rep, cores):
    samples = res["samples"]
    per_q = {}
    for s in samples:
        per_q.setdefault(s["query"], []).append(s)
    total = {q: med([x["build_ms"] + x["plan_ms"] + x["exec_ms"] for x in xs])
             for q, xs in per_q.items()}
    phase = {k: sum(med([x[f"{k}_ms"] for x in xs]) for xs in per_q.values()) / 1000.0
             for k in ("build", "plan", "exec")}
    for q in sorted(total, key=lambda q: -total[q]):
        xs = per_q[q]
        rep.detail.append(f"query {q:32s} {total[q]:9.1f} ms  build {med([x['build_ms'] for x in xs]):7.1f}"
                          f"  plan {med([x['plan_ms'] for x in xs]):7.1f}"
                          f"  exec {med([x['exec_ms'] for x in xs]):7.1f}  n={len(xs)}")
    rep.detail.append("setup rounds " + " ".join(f"{s:.2f}" for s in res["setup_s"]) + " s")
    rep.put("setup_s", med(res["setup_s"]), "s", len(res["setup_s"]), "untimed warm-up passes")
    rep.put("job_s", sum(total.values()) / 1000.0, "s", len(total), "catalog_s")
    rep.put("op_p50_ms", med(list(total.values())), "ms", len(total), "query_p50 of per-query medians")
    rep.put("op_tail_ms", max(total.values()), "ms", len(total),
            "slowest per-query median (too few queries for a percentile tail)")
    rep.put("mem_mb", res["mem_mb"], "MB", 1)

    rep.put("operators.build_s", phase["build"], "s", len(per_q))
    rep.put("operators.plan_s", phase["plan"], "s", len(per_q))
    rep.put("operators.exec_s", phase["exec"], "s", len(per_q))
    groups = res.get("groups", {})

    def layer(field, scale=1.0):
        by_q = {}
        for k, g in groups.items():
            if k.startswith("q:"):
                by_q.setdefault(k.split(":")[1], []).append(g[field] * scale)
        return sum(med(v) for v in by_q.values()), len(by_q)
    for name, field, unit, scale in LAYER_COUNTERS:
        v, n = layer(field, scale)
        rep.put(name, v, unit, n)
    cpu = rep.values["operators.cpu_s"][0]
    rep.put("operators.cpu_util", cpu / (phase["exec"] * cores) if phase["exec"] else 0.0,
            "ratio", len(per_q), "cpu / (exec x cores)")
    rep.put("core.memo_build_s", med(res["memo_build_s"]), "s", len(res["memo_build_s"]))
    rep.put("core.memo_bytes", res["memo_bytes"], "bytes", 1)
    rep.put("core.memo_entries", res["memo_entries"], "count", 1)
    traced = [p["s"] for p in res["pass_wall_s"] if p["traced"]]
    plain = [p["s"] for p in res["pass_wall_s"] if not p["traced"]]
    if traced and plain:
        rep.put("trace.overhead_pct", 100.0 * (med(traced) / med(plain) - 1.0), "%",
                len(traced) + len(plain), "traced vs untraced passes")
    failed = [s for s in samples if not s["ok"]]
    warm = res["warm_failures"]
    for s in failed[:5]:
        rep.notes.append(f"query {s['query']} pass {s['pass']}: {s['error']}")
    rep.notes += [f"warm-up: {w}" for w in warm[:5]]
    attempted = len(samples) + (SETUP_ROUNDS + res["warm_passes"]) * len(per_q)
    return attempted, len(failed) + len(warm), not failed and not warm


def stream_metrics(rep, res, stream, since, wall_s, name):
    until = since + wall_s * 1000.0
    bs = [b for b in res["batches"] if b["stream"] == stream and b["rows"] > 0
          and since <= b["start"] <= until]
    rep.lat(f"streaming.{name}_batch_ms", [b["duration_ms"] for b in bs], "ms")
    rep.put(f"streaming.{name}_busy", sum(b["duration_ms"] for b in bs) / 1000.0 / wall_s
            if wall_s > 0 else 0.0, "ratio", len(bs), "share of wall time in batches")
    return bs


def calls(res, name, phases=None):
    return [c for c in res["calls"] if c["name"] == name and (phases is None or c["phase"] in phases)]


def reduce_serve(res, rep, out, cores):
    since, until = out["start_ms"], out["end_ms"]
    live_sends = [(o, t) for o, t in out["sent"] if since <= t <= until]
    wall_s = (until - since) / 1000.0
    fresh, missing = stats.offset_latency(
        live_sends, [b for b in res["batches"] if b["stream"] == "analysis"])
    rep.put("op_p50_ms", med(fresh), "ms", len(fresh), "freshness_ms_p50")
    p, v = stats.tail(fresh)
    rep.put("op_tail_ms", v if p else 0.0, "ms", len(fresh),
            f"freshness_ms p{p:g}" if p else "too few samples")
    reqs = out["requests"]
    timed = [q for q in reqs if q[1] >= since]
    stress = [(e - d) for r, d, s, e, ok in timed if r == "/stress" and ok]
    full = [(e - d) for r, d, s, e, ok in timed if r == "/" and ok]
    rep.lat("serve.stress_ms", stress, "ms")
    rep.lat("serve.full_ms", full, "ms")
    durable, lost = stats.offset_latency(
        live_sends, [b for b in res["batches"] if b["stream"] == "history"])
    rep.put("job_s", med(durable) / 1000.0, "s", len(durable),
            "history freshness p50: send stamp to the end of the TxLog merge holding it")
    failed_req = sum(1 for r, d, s, e, ok in reqs
                     if not ok or (r == "/" and e - d > FULL_LIMIT_MS))
    rep.put("setup_s", med(res["setup_s"]), "s", len(res["setup_s"]))
    rep.put("mem_mb", res["mem_mb"], "MB", 1)
    ingest = stream_metrics(rep, res, "ingest", since, wall_s, "ingest")
    rep.put("streaming.ingest_rows_per_batch",
            med([b["rows"] for b in ingest]), "rows", len(ingest))
    rep.put("streaming.ingest_write_ms_p50",
            med([b["durations"].get("addBatch", 0) for b in ingest]), "ms", len(ingest))
    lag = [l for ph, _, l in res["lag"] if ph == "live"]
    p, v = stats.tail(lag)
    rep.put("sources.broker_lag_rows_tail", v if p else (max(lag) if lag else 0), "rows",
            len(lag), f"p{p:g}" if p else "max")
    rep.put("streaming.raw_files_end", res["raw_files_end"], "count", 1)
    p, v = stats.tail(out["late_ms"])
    rep.put("gen.late_ms_tail", v if p else 0.0, "ms", len(out["late_ms"]), f"p{p:g}" if p else "")
    an = stream_metrics(rep, res, "analysis", since, wall_s, "analysis")
    rep.put("streaming.analysis_state_rows", an[-1]["state_rows"] if an else 0, "rows", len(an))
    stream_metrics(rep, res, "history", since, wall_s, "history")
    ticks = [c for c in calls(res, "compact", ("live",)) if c["start"] >= since]
    tick_ms = [c["end"] - c["start"] for c in ticks]
    rep.put("streaming.compact_tick_ms_p50", med(tick_ms), "ms", len(tick_ms))
    rep.put("streaming.compact_tick_ms_max", max(tick_ms) if tick_ms else 0.0, "ms", len(tick_ms))
    rec = [c["end"] - c["start"] for c in calls(res, "full")]
    rep.lat("operators.recompute_ms", rec, "ms")
    rep.put("operators.recompute_jobs", group_medians(res, "full:", "jobs"), "count", len(rec))
    # the `/` handler is this workload's operator query
    for phase in ("build", "plan", "exec"):
        xs = [c["end"] - c["start"] for c in calls(res, f"full.{'execute' if phase == 'exec' else phase}")]
        rep.put(f"operators.{phase}_s", med(xs) / 1000.0, "s", len(xs), "the / handler")
    for name, field, unit, scale in LAYER_COUNTERS:
        rep.put(name, group_medians(res, "full:", field, scale), unit, len(rec), "the / handler")
    exec_s = rep.values["operators.exec_s"][0]
    rep.put("operators.cpu_util", rep.values["operators.cpu_s"][0] / (exec_s * cores)
            if exec_s else 0.0, "ratio", len(rec), "cpu / (exec x cores)")
    refits = calls(res, "refit")
    rep.put("ml.refit_ms_p50", med([c["end"] - c["start"] for c in refits]), "ms", len(refits))
    rep.put("ml.refit_jobs", group_medians(res, "refit:", "jobs"), "count", len(refits))
    rep.put("ml.refit_cpu_s", group_medians(res, "refit:", "cpu_ns", 1e-9), "s", len(refits))
    snap = res["snapshot_us"]
    rep.lat("serve.snapshot_us", snap, "us")
    if res.get("trace_hook_ms") is not None and wall_s > 0:
        rep.put("trace.overhead_pct", 100.0 * res["trace_hook_ms"] / 1000.0 / (wall_s * cores),
                "%", 1, "time in trace hooks / core time")
    chk = res["check"]
    for k in ("lost", "duplicates", "sensors_mismatched"):
        if chk[k]:
            rep.notes.append(f"entry log check: {k} = {chk[k]}")
    rep.notes += [f"background error: {e}" for e in res["errors"][:5]]
    if missing or lost:
        rep.notes.append(f"{len(missing)} readings in no analysis batch, {len(lost)} in no "
                         "history batch")
    if failed_req:
        rep.notes.append(f"{failed_req} requests failed or missed the {FULL_LIMIT_MS:.0f} ms limit")
    attempted = len(out["sent"]) + len(reqs)
    failed = (chk["lost"] + chk["duplicates"] + chk["sensors_mismatched"] + len(res["errors"])
              + len(missing) + len(lost) + failed_req)
    return attempted, failed, failed == 0


# ---------------------------------------------------------------- main

class Ctx:
    def __init__(self, a, classes, run_dir, deadline):
        self.workload, self.seed, self.seconds, self.trace = a.workload, a.seed, a.seconds, a.trace
        self.classes, self.run_dir, self.deadline = classes, run_dir, deadline
        self.procs = []
        self.result = run_dir / "result.json"
        self.spans = build.out_dir() / "traces" / f"{a.workload}-seed{a.seed}.json"

    def left(self):
        return max(1.0, self.deadline - time.monotonic())

    def host(self, **extra):
        args = dict(workload=self.workload, seed=self.seed, seconds=self.seconds,
                    trace=self.trace, out=self.result, run=self.run_dir,
                    setup_rounds=SETUP_ROUNDS, spans=self.spans, **extra)
        log = open(self.run_dir / "host.log", "w")
        h = Host(java_cmd(self.classes, self.run_dir, "graft.perfbench.Host", args), log,
                 java_env(self.run_dir))
        self.procs.append(h)
        return h

    def gen(self):
        g = Gen([sys.executable, str(HERE / "gen.py")], open(self.run_dir / "gen.log", "w"))
        self.procs.append(g)
        return g


def self_test():
    classes = build.build()
    run_dir = build.out_dir() / "selftest"
    run_dir.mkdir(parents=True, exist_ok=True)
    r = subprocess.run(java_cmd(classes, run_dir, "graft.perfbench.FingerprintSelfTest", {}),
                       cwd=ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    return r.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["catalog", "lambda_serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    started = time.monotonic()
    try:
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # 180 s per run; the first run in a checkout also builds
    deadline = time.monotonic() + 165.0
    run_dir = build.out_dir() / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ctx = Ctx(a, classes, run_dir, deadline)
    if a.trace:
        ctx.spans.parent.mkdir(parents=True, exist_ok=True)
    runner = {"catalog": run_catalog, "lambda_serve": run_serve}[a.workload]

    def terminate(signum, _frame):
        for p in ctx.procs:
            p.stop()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        out = runner(ctx)
        res = json.loads(ctx.result.read_text())
    except Exception as e:
        print(f"[perfbench] {a.workload} run failed: {e}", file=sys.stderr)
        for log in ("host.log", "gen.log"):
            p = run_dir / log
            if p.exists():
                tail = p.read_text(errors="replace").splitlines()[-40:]
                print(f"--- {log} (last lines)\n" + "\n".join(tail), file=sys.stderr)
        return 1
    finally:
        for p in ctx.procs:
            p.stop()
    shutil.rmtree(run_dir, ignore_errors=True)

    rep = Report()
    cores = res["cores"]
    if a.workload == "catalog":
        attempted, failed, correct = reduce_catalog(res, rep, cores)
    else:
        attempted, failed, correct = reduce_serve(res, rep, out, cores)
    late = rep.values.get("gen.late_ms_tail")
    if late and late[0] > LATE_LIMIT_MS:
        rep.notes.append(f"generator ran late ({late[0]:.0f} ms): run void")
        correct = False

    wanted = [n for n, _ in END_TO_END] if not a.trace else [n for n, _ in PER_LAYER]
    units = dict(END_TO_END + PER_LAYER)
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace} "
          f"cores {cores} wall {time.monotonic() - started:.1f} s")
    for name in sorted(rep.values):
        v, unit, n, note = rep.values[name]
        print(f"  {name:36s} {v:14.4f} {unit:7s} n={n:<7d} {note}")
    if a.trace:
        spans = json.loads(ctx.spans.read_text()) if ctx.spans.exists() else []
        print(f"self time by span ({len(spans)} spans in {ctx.spans}):")
        for name, ms in sorted(stats.self_times(spans).items(), key=lambda x: -x[1]):
            print(f"  {name:36s} {ms:14.1f} ms")
    for line in rep.detail:
        print(f"  {line}")
    for note in rep.notes:
        print(f"  ! {note}")
    metrics = {n: {"value": rep.values[n][0] if n in rep.values else 0.0, "unit": units[n]}
               for n in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


PER_LAYER = [
    ("operators.build_s", "s"), ("operators.plan_s", "s"), ("operators.exec_s", "s"),
    ("operators.jobs", "count"), ("operators.stages", "count"), ("operators.tasks", "count"),
    ("operators.cpu_s", "s"), ("operators.cpu_util", "ratio"), ("operators.gc_s", "s"),
    ("operators.shuffle_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
    ("sources.scan_bytes", "bytes"), ("sources.scan_rows", "rows"),
    ("core.memo_build_s", "s"), ("core.memo_bytes", "bytes"), ("core.memo_entries", "count"),
    ("sources.broker_lag_rows_tail", "rows"),
    ("streaming.ingest_batch_ms_p50", "ms"), ("streaming.ingest_batch_ms_tail", "ms"),
    ("streaming.ingest_rows_per_batch", "rows"), ("streaming.ingest_write_ms_p50", "ms"),
    ("streaming.ingest_busy", "ratio"),
    ("streaming.analysis_batch_ms_p50", "ms"), ("streaming.analysis_batch_ms_tail", "ms"),
    ("streaming.analysis_state_rows", "rows"), ("streaming.analysis_busy", "ratio"),
    ("streaming.history_batch_ms_p50", "ms"), ("streaming.history_batch_ms_tail", "ms"),
    ("streaming.history_busy", "ratio"),
    ("streaming.compact_tick_ms_p50", "ms"), ("streaming.compact_tick_ms_max", "ms"),
    ("streaming.raw_files_end", "count"),
    ("operators.recompute_ms_p50", "ms"), ("operators.recompute_ms_tail", "ms"),
    ("operators.recompute_jobs", "count"),
    ("ml.refit_ms_p50", "ms"), ("ml.refit_jobs", "count"), ("ml.refit_cpu_s", "s"),
    ("serve.snapshot_us_p50", "us"), ("serve.snapshot_us_tail", "us"),
    ("serve.stress_ms_p50", "ms"), ("serve.stress_ms_tail", "ms"),
    ("serve.full_ms_p50", "ms"), ("serve.full_ms_tail", "ms"),
    ("gen.late_ms_tail", "ms"), ("trace.overhead_pct", "%"),
]

if __name__ == "__main__":
    sys.exit(main())
