#!/usr/bin/env python3
"""Served-path benchmark: one seeded workload through the real HTTP server.

Run from the root of a checkout:

    python3 perfbench/run.py --workload explore_large --seed 1 --seconds 12 --trace 0

It starts ``perfbench/server_proc.py`` (the program's ``make_app`` +
``make_threaded_server`` on ``get_spark``) as its own process with
``SPARK_GRAFT_CPUS=nproc`` and ``SPARK_GRAFT_DRIVER_MEM=2g``, drives the
workload over HTTP for ``--seconds``, checks the answers, stops every
process it started and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the first half of the window
untraced and the second half with spans on, and reports the per-layer
metrics (``perfbench/README.md`` explains each one and how to read it).

All state (seeded corpora, the run's lake, logs) stays under
``perfbench/.state``. ``--record N`` rewrites the recorded
``explore_large`` digests for the default seed from the first N bodies.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
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

from workloads import (EXACT_PANELS, EXPLORE_SHAPES,  # noqa: E402
                       PANEL_KINDS, dashboard_pool, dashboard_refreshes,
                       explore_bodies, track_body)

STATE = os.path.join(HERE, ".state")
DIGESTS = os.path.join(HERE, "digests", "explore_large.json")

#: driver heap sized for a 15 GB host shared with other work; the
#: session default (48g) does not fit it
DRIVER_MEM = "2g"
#: users in the explore_large events_gen corpus (4 sessions each)
EXPLORE_USERS = 3_000
#: the seed whose explore_large answers are recorded in DIGESTS
DEFAULT_SEED = 1
#: ingest_mixed: open-loop /track rate. No source fixes it: it is this
#: benchmark's assumption, enough rows that every tick folds a batch
#: while the WAL's fsync per ack stays far from saturated
TRACK_RATE = 20.0
#: ingest_mixed: maintenance ticks per run, back to back from the window's
#: start. A count, not a time limit: with a limit, a slightly faster
#: machine fits a third tick in, and the reader stalls at the gate once
#: more. Two ticks take about as long as the reader's two refreshes
TICKS = 2
#: /track events sent during set-up (twice: one warm fold, then rows
#: left buffered), so the window's first tick has a batch to fold
WARM_TRACKS = 100

#: explore_large: a round of the seven shapes during which the hypervisor
#: stole more of the machine's CPU ticks than this measures the host, not
#: the program (in clean rounds the steal is 0-2%, in a neighbour's
#: burst 5-18% with latencies 20-60% higher); the run keeps sending
#: rounds until it has CLEAN_ROUNDS clean ones, up to 1.5 x --seconds
STEAL_MAX = 0.03
CLEAN_ROUNDS = 3

#: metrics BENCHMARK.json bounds: every workload has them, never 0
END_TO_END = {"setup_s": "s", "query_p50_s": "s", "query_per_s": "1/s",
              "rss_peak_mb": "MB", "heap_live_mb": "MB"}
#: end-to-end metrics printed by name on every run and reported with the
#: per-layer set, unbounded: query_p90_s keeps fewer than ten samples
#: beyond it in a run; the rest exist on one workload only (0 elsewhere)
WORKLOAD_E2E = {"query_p90_s": "s", "query_failed_frac": "ratio",
                "track_ack_p50_ms": "ms", "track_ack_p90_ms": "ms",
                "track_failed_frac": "ratio", "fold_p50_s": "s"}
#: per-layer metrics (traced run) -> (unit, the E2E metric it should move)
PER_LAYER = {
    "server.request_s": ("s", "query_p50_s"),
    "server.self_s": ("s", "query_p50_s"),
    "server.encode_s": ("s", "query_p50_s"),
    "server.wait_s": ("s", "query_p90_s"),
    "server.response_bytes": ("bytes", "query_p50_s"),
    "server.cache_hit_ratio": ("ratio", "query_per_s"),
    "server.rejected_429": ("count", "query_per_s"),
    "server.maintain_s": ("s", "fold_p50_s"),
    "api.parse_s": ("s", "query_p50_s"),
    "api.parse_calls": ("count", "query_p50_s"),
    "operators.build_s": ("s", "query_p50_s"),
    "operators.calls": ("count", "query_p50_s"),
    "session.exec_s": ("s", "query_p50_s"),
    "session.jobs_per_op": ("count", "query_p50_s"),
    "session.stages_per_op": ("count", "query_p50_s"),
    "session.tasks_per_op": ("count", "query_p90_s"),
    "session.failed_tasks": ("count", "query_failed_frac"),
    "session.worker_rss_peak_mb": ("MB", "rss_peak_mb"),
    "schema.load_s": ("s", "query_p90_s"),
    "schema.load_calls": ("count", "fold_p50_s"),
    "rollup.read_s": ("s", "query_p50_s"),
    "rollup.routed_frac": ("ratio", "query_p50_s"),
    "rollup.update_s": ("s", "fold_p50_s"),
    "userday.read_s": ("s", "query_p50_s"),
    "userday.routed_frac": ("ratio", "query_p50_s"),
    "userday.update_s": ("s", "fold_p50_s"),
    "wal.append_s": ("s", "track_ack_p50_ms"),
    "wal.rewrite_s": ("s", "track_ack_p90_ms"),
    "ingest.parse_s": ("s", "track_ack_p50_ms"),
    "ingest.flush_s": ("s", "fold_p50_s"),
    "ingest.compact_s": ("s", "fold_p50_s"),
    "ingest.write_amp": ("ratio", "fold_p50_s"),
    "ingest.space_amp": ("ratio", "rss_peak_mb"),
    "ingest.memtable_rows": ("rows", "rss_peak_mb"),
    "ingest.layout_routed_frac": ("ratio", "query_p50_s"),
    "bench.gen_late_p90_ms": ("ms", "track_ack_p90_ms"),
    "bench.read_gate_wait_s": ("s", "query_per_s"),
    "bench.trace_overhead_frac": ("ratio", "query_p50_s"),
    "bench.load1_start": ("load", "query_p90_s"),
    "bench.load1_end": ("load", "query_p90_s"),
    "bench.cpu_steal_frac": ("ratio", "query_p50_s"),
}


class BenchError(Exception):
    pass


# --------------------------------------------------------------- helpers

def call(port: int, method: str, path: str, body=None, rid: str = "",
         timeout: float = 170.0, info: dict | None = None) -> tuple[int, bytes]:
    """One request; ``info``, when given, receives ``gate_s``, the time
    the server held the request at its read gate."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        data = None if body is None else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"}
        if rid:
            headers["X-Bench-Rid"] = rid
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        if info is not None:
            info["gate_s"] = float(resp.getheader("X-Bench-Gate-Wait") or 0)
        return resp.status, resp.read()
    finally:
        conn.close()


def send(port: int, method: str, path: str, body=None, rid: str = "",
         info: dict | None = None):
    """``call`` for the load generator: a dropped connection is a
    failed operation (status 0), not the end of the run."""
    try:
        return call(port, method, path, body, rid=rid, info=info)
    except (OSError, http.client.HTTPException):
        return 0, b""


def admin(port: int, path: str, body=None) -> dict:
    st, out = call(port, "POST", path, body or {})
    if st != 200:
        raise BenchError(f"admin {path}: {st} {out[:2000].decode(errors='replace')}")
    return json.loads(out)


def digest(payload: bytes) -> str:
    """Order-insensitive digest of a columnar response: columns by
    name, rows sorted, floats to 6 decimals (summation order may move
    the last bits)."""
    import hashlib

    cols = sorted(json.loads(payload)["columns"], key=lambda c: c["name"])

    def norm(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        if isinstance(v, list):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    rows = sorted(zip(*[[norm(v) for v in c["data"]] for c in cols]))
    text = "|".join(c["name"] for c in cols) + "\n" + "\n".join(
        ",".join(r) for r in rows)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def pct(xs: list[float], q: int) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def parse_metrics(text: str) -> dict:
    out = {}
    for line in text.splitlines():
        if line and not line.startswith("#"):
            key, _, val = line.rpartition(" ")
            try:
                out[key] = float(val)
            except ValueError:
                pass
    return out


def metric_sum(m: dict, name: str, **labels) -> float:
    total = 0.0
    for key, v in m.items():
        if key == name or key.startswith(name + "{"):
            if all(f'{k}="{val}"' in key for k, val in labels.items()):
                total += v
    return total


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat:
    steal is time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_frac(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    return (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])


def scrape(port: int) -> dict:
    st, out = call(port, "GET", "/metrics")
    if st != 200:
        raise BenchError(f"/metrics answered {st}")
    return parse_metrics(out.decode())


class RssSampler(threading.Thread):
    """RSS of the server's process session, sampled every 0.1 s:
    ``peak`` is the peak of Python driver + JVM (the server process
    tree the issue names); ``worker_peak`` is the peak of the Python
    UDF workers, which Spark forks and reaps per demand."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak, self.done = sid, 0, threading.Event()
        self.peak_parts: dict = {}
        self.worker_peak = 0
        self.page = os.sysconf("SC_PAGE_SIZE")

    def members(self, zombies: bool = False) -> list[tuple[int, str, int]]:
        """(pid, command name, parent pid) of every process in the
        session; zombies (exited, not yet reaped) only when asked."""
        out = []
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        head, _, tail = f.read().rpartition(")")
                except OSError:
                    continue
                fields = tail.split()
                if int(fields[3]) == self.sid and (zombies or fields[0] != "Z"):
                    out.append((int(p), head.partition("(")[2],
                                int(fields[1])))
        return out

    def sample(self) -> None:
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        procs = self.members()
        java = {p for p, comm, _ in procs if comm == "java"}
        for p, comm, ppid in procs:
            if p in java and ppid in java:
                # the JVM's child between fork and exec (it launches the
                # Python workers) maps the parent's pages: not counted
                continue
            role = ("driver" if p == self.sid else
                    "jvm" if p in java else "workers")
            try:
                with open(f"/proc/{p}/statm") as f:
                    parts[role] += int(f.read().split()[1]) * self.page
            except OSError:
                pass
        total = parts["driver"] + parts["jvm"]
        if total > self.peak:
            self.peak, self.peak_parts = total, parts
        self.worker_peak = max(self.worker_peak, parts["workers"])

    def run(self) -> None:
        while not self.done.wait(0.1):
            self.sample()


# -------------------------------------------------------------- workloads

def run_explore(port: int, aport: int, seed: int, seconds: float,
                trace: bool) -> dict:
    """Whole rounds of the seven shapes until the phase's time is up:
    the last round runs to its end, so every shape is sampled equally
    and the median does not move with where the window cut a round.

    The untraced phase also runs until it has ``CLEAN_ROUNDS`` rounds
    during which the hypervisor stole at most ``STEAL_MAX`` of the CPU,
    or until 1.5 x its time is up; the latency metrics use the clean
    rounds when there are at least two."""
    bodies = explore_bodies(seed, 5_000)
    res, i, spent, rounds = [], 0, {}, []
    phases = [("untraced", seconds / 2), ("traced", seconds / 2)] if trace \
        else [("untraced", seconds)]
    for phase, dur in phases:
        if phase == "traced":
            admin(aport, "/trace", {"on": True})
        start = time.perf_counter()
        while True:
            now, clean = time.perf_counter(), sum(r["clean"] for r in rounds)
            if now - start >= dur and (phase == "traced" or clean >= CLEAN_ROUNDS
                                       or now - start >= 1.5 * dur):
                break
            r0, ticks0 = now, cpu_ticks()
            for shape in EXPLORE_SHAPES:
                _, path, body = bodies[i]
                rid = f"q{i}"
                t = time.perf_counter()
                st, out = send(port, "POST", path, body, rid=rid)
                res.append({"i": i, "kind": shape, "phase": phase, "rid": rid,
                            "status": st, "lat": time.perf_counter() - t,
                            "out": out, "round": len(rounds)})
                i += 1
            if phase == "untraced":
                steal = steal_frac(ticks0, cpu_ticks())
                rounds.append({"s": time.perf_counter() - r0, "steal": steal,
                               "clean": steal <= STEAL_MAX})
        spent[phase] = time.perf_counter() - start
    use = [r["clean"] for r in rounds]
    if sum(use) < 2:
        use = [True] * len(rounds)
    for q in res:
        q["used"] = q["phase"] == "untraced" and use[q["round"]]
    return {"queries": res, "tracks": [], "window": sum(spent.values()),
            "untraced_s": sum(r["s"] for r, u in zip(rounds, use) if u),
            "rounds": rounds}


def check_explore(port: int, seed: int, run: dict) -> list[str]:
    """Recorded digests (default seed) + a re-execution of every 10th
    answered body past the cache (all seeds)."""
    errs = []
    ok = [q for q in run["queries"] if q["status"] == 200]
    for q in ok:
        q["digest"] = digest(q["out"])
    rec = None
    if seed == DEFAULT_SEED and os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            rec = json.load(f)
        if rec["users"] != EXPLORE_USERS:
            raise BenchError("recorded digests are for another corpus size")
    checked = 0
    for q in ok:
        if rec is not None and q["i"] < len(rec["digests"]):
            checked += 1
            if rec["digests"][q["i"]] != q["digest"]:
                q["wrong"] = True
                errs.append(f"body {q['i']} ({q['kind']}): digest "
                            f"{q['digest']} != recorded {rec['digests'][q['i']]}")
    bodies = explore_bodies(seed, len(run["queries"]))
    for q in ok[::10][:4]:
        _, path, body = bodies[q["i"]]
        st, out = send(port, "POST", path + "?perfbench=recheck", body)
        if st != 200 or digest(out) != q["digest"]:
            q["wrong"] = True
            errs.append(f"body {q['i']} ({q['kind']}): re-run answered "
                        f"{st} with another digest")
    print(f"check: explore_large {checked} answers vs recorded digests, "
          f"{min(4, len(ok[::10]))} re-runs past the cache", flush=True)
    return errs


def run_ingest(port: int, aport: int, seed: int, seconds: float,
               trace: bool) -> dict:
    """The reader sends whole dashboard refreshes, one panel at a time,
    until ``seconds`` have passed and at least two refreshes are done
    (the last one runs to its end), so every panel kind is read equally
    often. The writer sends /track until the reader is done; the server
    runs ``TICKS`` maintenance ticks back to back meanwhile. With
    tracing, spans switch on at ``seconds``/2."""
    stream = dashboard_refreshes(seed)
    tr = random.Random(f"track:{seed}")
    queries, tracks = [], []
    reading = threading.Event()
    reading.set()
    t_start = time.perf_counter()

    def writer():
        i = 0
        while reading.is_set():
            body = track_body(tr)
            due = t_start + i / TRACK_RATE
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            if not reading.is_set():
                break
            sent = time.perf_counter()
            st, _ = send(port, "POST", "/api/v1/ingest/perfbench/track", body,
                         rid=f"t{i}")
            tracks.append({"status": st, "ack_ms": (time.perf_counter() - due) * 1e3,
                           "late_ms": (sent - due) * 1e3,
                           "bytes": len(json.dumps(body))})
            i += 1

    admin(aport, "/ticks", {"on": True, "count": TICKS})
    w = threading.Thread(target=writer)
    w.start()
    t_switch = t_start + seconds / 2 if trace else float("inf")
    timer = threading.Timer(seconds / 2, admin, (aport, "/trace", {"on": True}))
    if trace:
        timer.start()
    try:
        while (time.perf_counter() - t_start < seconds
               or len(queries) < 2 * len(PANEL_KINDS)):
            for _ in PANEL_KINDS:
                kind, path, body = next(stream)
                rid, info = f"q{len(queries)}", {}
                t = time.perf_counter()
                phase = "traced" if t >= t_switch else "untraced"
                st, _ = send(port, "POST", path, body, rid=rid, info=info)
                # time held at the read gate is the benchmark's stand-in
                # for isolation the program lacks: reported apart
                gate_s = info.get("gate_s", 0.0)
                queries.append({"kind": kind, "phase": phase, "rid": rid,
                                "status": st, "gate_s": gate_s,
                                "lat": time.perf_counter() - t - gate_s})
    finally:
        span = time.perf_counter() - t_start
        reading.clear()
        w.join()
        timer.cancel()
        if trace:
            timer.join()
    admin(aport, "/ticks", {"on": False})  # waits for an in-flight fold
    return {"queries": queries, "tracks": tracks, "window": span,
            "untraced_s": min(t_switch - t_start, span)}


def check_ingest(port: int, aport: int, seed: int, run: dict) -> list[str]:
    """No acked row lost or doubled (lake rows + memtable rows == seeded
    rows + acked tracks, ticks stopped), and every exact panel's most
    popular variant answered through its store == the raw path."""
    errs = []
    state = admin(aport, "/state")
    acked = sum(1 for t in run["tracks"] if t["status"] == 201)
    want = state["base_rows"] + state["warm_tracks"] + acked
    have = state["lake_rows"] + state["memtable_rows"]
    if have != want:
        errs.append(f"lake holds {state['lake_rows']} rows + memtable "
                    f"{state['memtable_rows']}; want {want} "
                    f"({state['base_rows']} seeded + {state['warm_tracks']} "
                    f"set-up + {acked} acked)")
    pool = dashboard_pool(seed)
    panels = [next((k, p, b) for k, p, b in pool if k == kind)
              for kind in EXACT_PANELS]  # each kind's most popular variant
    answers: dict = {}

    def ask(side: str, p: int, prefix: str, query: str, part: int,
            parts: int):
        for kind, path, body in panels[part::parts]:
            answers[kind, side] = send(p, "POST", prefix + path + query, body)

    # store-routed answers are quick: one thread; the raw twin, which
    # scans the lake for every panel, gets the other nproc - 1
    raw_threads = max(1, len(os.sched_getaffinity(0)) - 1)
    threads = [threading.Thread(target=ask, args=(
        "routed", port, "", "?perfbench=check", 0, 1))] + [
        threading.Thread(target=ask, args=("raw", aport, "/raw", "", part,
                                           raw_threads))
        for part in range(raw_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for kind, _, _ in panels:
        (st1, routed), (st2, raw) = answers[kind, "routed"], answers[kind, "raw"]
        if st1 != 200 or st2 != 200 or digest(routed) != digest(raw):
            errs.append(f"panel {kind}: routed {st1} vs raw {st2} answers differ")
    print(f"check: ingest_mixed lake {state['lake_rows']} + memtable "
          f"{state['memtable_rows']} rows = {state['base_rows']} seeded + "
          f"{state['warm_tracks']} set-up + {acked} acked; "
          f"{len(EXACT_PANELS)} exact panels vs raw path", flush=True)
    run["state"] = state
    return errs


# ---------------------------------------------------------------- metrics

def e2e(run: dict, setup_s: float, rss_mb: float, heap_mb: float,
        state: dict) -> dict:
    qs = [q for q in run["queries"] if q.get("used", q["phase"] == "untraced")]
    ok = [q for q in qs if q["status"] == 200 and not q.get("wrong")]
    good = [q["lat"] for q in ok]
    tracks = run["tracks"]
    acks = [t["ack_ms"] for t in tracks if t["status"] == 201]
    folds = [f["fold_s"] for f in state["folds"]]
    return {
        "setup_s": setup_s,
        "query_p50_s": pct(good, 50),
        "query_p90_s": pct(good, 90),
        "query_per_s": len(ok) / run["untraced_s"],
        "rss_peak_mb": rss_mb,
        "heap_live_mb": heap_mb,
        "query_failed_frac": (len(qs) - len(good)) / max(1, len(qs)),
        "track_ack_p50_ms": pct(acks, 50),
        "track_ack_p90_ms": pct(acks, 90),
        "track_failed_frac": (len(tracks) - len(acks)) / max(1, len(tracks)),
        "fold_p50_s": statistics.median(folds) if folds else 0.0,
    }


def per_layer(run: dict, state: dict, m0: dict, m1: dict, load: tuple,
              full: dict, worker_mb: float) -> dict:
    tr = state.get("trace") or {}
    selfs, req_s, jobs = tr.get("requests", {}), tr.get("request_s", {}), \
        tr.get("jobs", {})
    counts, durs = tr.get("counts", {}), tr.get("durations", {})
    traced = [q for q in run["queries"] if q["phase"] == "traced"
              and q["rid"] in req_s]
    untraced = [q["lat"] for q in run["queries"]
                if q["phase"] == "untraced" and q["status"] == 200]
    n = max(1, len(traced))

    def layer_mean(pred) -> float:
        return sum(sum(v for k, v in selfs.get(q["rid"], {}).items() if pred(k))
                   for q in traced) / n

    def job_mean(idx: int) -> float:
        return sum(jobs.get(q["rid"], (0,) * 6)[idx] for q in traced) / n

    def mean(xs) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    def delta(name, **labels) -> float:
        return metric_sum(m1, name, **labels) - metric_sum(m0, name, **labels)

    def frac(a: float, b: float) -> float:
        return a / (a + b) if a + b else 0.0

    hits = delta("optiprism_query_result_cache_total", outcome="hit")
    misses = delta("optiprism_query_result_cache_total", outcome="miss")
    folds = state["folds"]
    acked_bytes = sum(t["bytes"] for t in run["tracks"] if t["status"] == 201)
    late = [t["late_ms"] for t in run["tracks"]]
    cost = tr.get("span_cost_s", 0.0)
    spans = tr.get("spans_per_rid", {})
    overhead = [jobs[q["rid"]][5] + spans.get(q["rid"], 0) * cost
                for q in traced if q["rid"] in jobs]
    end = state.get("end_state", {})
    out = {
        "server.request_s": mean([req_s[q["rid"]] for q in traced]),
        "server.self_s": layer_mean(lambda k: k == "server.request"),
        "server.encode_s": layer_mean(lambda k: k == "server.encode"),
        "server.wait_s": mean([q["lat"] + q.get("gate_s", 0.0) - req_s[q["rid"]]
                               for q in traced]),
        "server.response_bytes": job_mean(4),
        "server.cache_hit_ratio": frac(hits, misses),
        "server.rejected_429": delta("optiprism_query_rejected_total"),
        "server.maintain_s": mean(durs.get("server.maintain", [])),
        "api.parse_s": layer_mean(lambda k: k.startswith("api.")),
        "api.parse_calls": counts.get("api", 0) / n,
        "operators.build_s": layer_mean(lambda k: k.startswith("operators.")),
        "operators.calls": counts.get("operators", 0) / n,
        "session.exec_s": layer_mean(lambda k: k == "session.exec"),
        "session.jobs_per_op": job_mean(0),
        "session.stages_per_op": job_mean(1),
        "session.tasks_per_op": job_mean(2),
        "session.failed_tasks": job_mean(3) * n,
        "session.worker_rss_peak_mb": worker_mb,
        "schema.load_s": layer_mean(lambda k: k.startswith("schema.")),
        "schema.load_calls": counts.get("schema", 0),
        "rollup.read_s": layer_mean(
            lambda k: k.startswith("rollup.") and k != "rollup.update"),
        "rollup.routed_frac": frac(
            delta("optiprism_query_rollup_routed_total", path="rollup")
            + delta("optiprism_query_rollup_routed_total", path="kmv"),
            delta("optiprism_query_rollup_routed_total", path="raw")),
        "rollup.update_s": mean(durs.get("rollup.update", [])),
        "userday.read_s": layer_mean(
            lambda k: k.startswith("userday.") and k != "userday.update"),
        "userday.routed_frac": frac(
            delta("optiprism_user_day_routed_total", path="store"),
            delta("optiprism_user_day_routed_total", path="raw")),
        "userday.update_s": mean(durs.get("userday.update", [])),
        "wal.append_s": mean(durs.get("wal.append", [])),
        "wal.rewrite_s": mean(durs.get("wal.rewrite", [])),
        "ingest.parse_s": mean(durs.get("ingest.parse", [])),
        "ingest.flush_s": mean(durs.get("ingest.flush", [])),
        "ingest.compact_s": mean(durs.get("ingest.compact", [])),
        "ingest.write_amp": (sum(f["lake_bytes_written"] for f in folds)
                             / acked_bytes if acked_bytes else 0.0),
        "ingest.space_amp": (end["owned_bytes"] / end["table_bytes"]
                             if end.get("table_bytes") else 0.0),
        "ingest.memtable_rows": (statistics.median(f["rows"] for f in folds)
                                 if folds else 0.0),
        "ingest.layout_routed_frac": frac(
            delta("optiprism_funnel_layout_routed_total", path="bucketed"),
            delta("optiprism_funnel_layout_routed_total", path="shuffle")),
        "bench.gen_late_p90_ms": pct(late, 90),
        "bench.read_gate_wait_s": (state["gate_wait_s"]
                                   / max(1, len(run["queries"]))),
        "bench.trace_overhead_frac": (
            mean(overhead) / statistics.median(untraced)
            if overhead and untraced else 0.0),
        "bench.load1_start": load[0],
        "bench.load1_end": load[1],
        "bench.cpu_steal_frac": load[2],
    }
    for k in WORKLOAD_E2E:
        out[k] = full[k]
    return out


# ------------------------------------------------------------------ main

def start_server(cfg: dict, log_path: str) -> tuple[subprocess.Popen, object]:
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               TMPDIR=os.path.join(cfg["work"], "tmp"),
               # the spark-submit launcher JVM: no perf-data file in /tmp
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData -Djava.io.tmpdir="
                                   + os.path.join(cfg["work"], "tmp"),
               PYSPARK_PYTHON=sys.executable,
               # Python workers import the program from the checkout
               PYTHONPATH=os.pathsep.join(
                   p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p))
    env.pop("SPARK_GRAFT_NO_PRIME", None)
    os.makedirs(os.path.join(cfg["work"], "tmp"), exist_ok=True)
    log = open(log_path, "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "server_proc.py"), json.dumps(cfg)],
        cwd=os.getcwd(), env=env, stdout=subprocess.PIPE, stderr=log,
        text=True, start_new_session=True)
    return proc, log


def wait_ready(proc: subprocess.Popen, timeout: float) -> dict:
    box: list = []

    def read():
        for line in proc.stdout:
            if line.startswith("READY "):
                box.append(json.loads(line[6:]))
                return

    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(timeout)
    if not box:
        raise BenchError("server process did not become ready")
    return box[0]


def become_subreaper() -> None:
    """Adopt the server's orphans (the JVM outlives the Python driver
    it was forked from), so this process can reap every one of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_server(proc: subprocess.Popen) -> None:
    """SIGTERM the server's process session (Python driver, JVM,
    workers), SIGKILL what is left after a 2 s grace, and wait until
    every process has ended and been reaped. The server holds nothing
    that must outlive the run."""
    sampler = RssSampler(proc.pid)
    for sig, grace in ((signal.SIGTERM, 2), (signal.SIGKILL, 30)):
        if not sampler.members(zombies=True):
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        deadline = time.time() + grace
        while time.time() < deadline:
            proc.poll()
            reap()
            if not sampler.members(zombies=True):
                break
            time.sleep(0.05)
    proc.wait(10)


def record(n: int) -> int:
    """Rewrite DIGESTS from the first ``n`` explore_large bodies."""
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": "explore_large", "seed": DEFAULT_SEED, "work": work,
           "corpus": os.path.join(STATE, "corpus"),
           "explore_users": EXPLORE_USERS}
    proc, log = start_server(cfg, os.path.join(STATE, "server.log"))
    try:
        ready = wait_ready(proc, 600)
        out = []
        for i, (_, path, body) in enumerate(explore_bodies(DEFAULT_SEED, n)):
            st, payload = call(ready["port"], "POST", path, body)
            if st != 200:
                raise BenchError(f"body {i} answered {st}")
            out.append(digest(payload))
        os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
        with open(DIGESTS, "w") as f:
            json.dump({"seed": DEFAULT_SEED, "users": EXPLORE_USERS,
                       "digests": out}, f, indent=0)
            f.write("\n")
    finally:
        stop_server(proc)
        log.close()
        shutil.rmtree(work, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("explore_large", "ingest_mixed"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("optiprism_spark", "server.py")):
        print("perfbench: run from the root of a sparkprism checkout "
              "(optiprism_spark/ not found)", file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    become_subreaper()
    if args.record:
        return record(args.record)
    if not args.workload:
        ap.error("--workload is required")

    t_main = time.perf_counter()
    load0 = os.getloadavg()[0]
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": args.workload, "seed": args.seed, "work": work,
           "corpus": os.path.join(STATE, "corpus"),
           "explore_users": EXPLORE_USERS, "warm_tracks": WARM_TRACKS,
           "spans_out": os.path.join(STATE, f"spans-{args.workload}.jsonl")}
    if args.workload == "ingest_mixed":
        from corpus import write_sf01_events

        cfg["sf01_dir"] = os.path.join(STATE, "corpus", f"sf01-{args.seed}")
        write_sf01_events(os.path.join(cfg["sf01_dir"], "events.parquet"),
                          args.seed)

    log_path = os.path.join(STATE, "server.log")
    t0 = time.perf_counter()
    proc, log = start_server(cfg, log_path)
    sampler = RssSampler(proc.pid)
    sampler.start()
    marks: dict = {}
    try:
        ready = wait_ready(proc, 600)
        marks["ready"] = time.perf_counter()
        port, aport = ready["port"], ready["admin_port"]
        m0 = scrape(port)
        setup_s = time.perf_counter() - t0 - ready["gen_s"]
        ticks0 = cpu_ticks()
        runner = run_explore if args.workload == "explore_large" else run_ingest
        run = runner(port, aport, args.seed, args.seconds, bool(args.trace))
        marks["window"] = time.perf_counter()
        steal = steal_frac(ticks0, cpu_ticks())
        heap_mb = admin(aport, "/heap")["used"] / 2**20
        m1 = scrape(port)
        state = admin(aport, "/state")
        marks["state"] = time.perf_counter()
        if args.trace:
            admin(aport, "/trace", {"on": False})
        if args.workload == "explore_large":
            errs = check_explore(port, args.seed, run)
        else:
            errs = check_ingest(port, aport, args.seed, run)
            state["end_state"] = run["state"]
        marks["checks"] = time.perf_counter()
    except (BenchError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        run = None
    finally:
        sampler.done.set()
        sampler.join()
        stop_server(proc)
        marks["stopped"] = time.perf_counter()
        log.close()
    if run is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        return 1
    shutil.rmtree(work, ignore_errors=True)
    load1 = os.getloadavg()[0]

    full = e2e(run, setup_s, sampler.peak / 2**20, heap_mb, state)
    attempted = len(run["queries"]) + len(run["tracks"])
    failed = (sum(1 for q in run["queries"]
                  if q["status"] != 200 or q.get("wrong"))
              + sum(1 for t in run["tracks"] if t["status"] != 201)
              + sum(1 for e in errs if e.startswith(("lake", "panel"))))
    for e in errs:
        print(f"check FAILED: {e}", flush=True)
    parts = [f"run: {args.workload} seed={args.seed}",
             f"window={run['window']:g}s", f"corpus_gen_s={ready['gen_s']:.1f}",
             f"queries={len(run['queries'])}", f"tracks={len(run['tracks'])}",
             f"folds={len(state['folds'])}",
             f"compacted={sum(f['compacted'] for f in state['folds'])}",
             "gated_s=" + ",".join(f"{f['gated_s']:.1f}" for f in state["folds"]),
             f"gate_waits={state['gate_waits']}"]
    if "rounds" in run:
        parts += [f"rounds_clean={sum(r['clean'] for r in run['rounds'])}"
                  f"/{len(run['rounds'])}",
                  "round_steal=" + ",".join(f"{r['steal']:.3f}"
                                            for r in run["rounds"])]
    parts += [f"load1={load0:.2f}->{load1:.2f}", f"steal={steal:.3f}",
              f"wall={time.perf_counter() - t_main:.1f}s",
              "at=" + ",".join(f"{k}:{v - t_main:.1f}" for k, v in marks.items()),
              "rss_at_peak_mb=" + ",".join(
                  f"{k}:{v / 2**20:.0f}" for k, v in sampler.peak_parts.items())]
    print(" ".join(parts))
    for k, unit in {**END_TO_END, **WORKLOAD_E2E}.items():
        print(f"e2e {k} = {full[k]:.6g} {unit}")
    by_kind: dict = {}
    for q in run["queries"]:
        by_kind.setdefault(q["kind"], []).append(q["lat"])
    print("kinds: " + " ".join(
        f"{k}={statistics.median(v):.3f}s/{len(v)}" for k, v in sorted(by_kind.items())))
    n_good = len([q for q in run["queries"] if q["status"] == 200
                  and q["phase"] == "untraced"])
    if n_good * 0.1 < 10:
        print(f"warning: only {n_good * 0.1:.0f} samples beyond query_p90_s")
    if args.trace:
        layers = per_layer(run, state, m0, m1, (load0, load1, steal), full,
                           sampler.worker_peak / 2**20)
        for k, v in layers.items():
            unit, moves = PER_LAYER.get(k, (WORKLOAD_E2E.get(k), k))
            print(f"layer {k} = {v:.6g} {unit}  -> {moves}")
        metrics = {k: {"value": v, "unit": PER_LAYER.get(k, (WORKLOAD_E2E.get(k),))[0]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": full[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not errs, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
