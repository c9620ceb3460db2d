"""Server process of the served-path benchmark.

Started by ``run.py`` with one JSON argument (the run config). It builds
the workload's server exactly as a deployment would (``get_spark`` with
its priming, the lake and stores, ``make_app`` + ``make_threaded_server``),
warms it, and prints one ``READY {...}`` line with the ports and the
seconds spent generating the seeded corpus (which ``setup_s`` excludes).

A second, admin server on another port drives what a client cannot:
the maintenance tick, tracing on/off, the JVM's live heap, the raw-path
twin app used by the output check (``/raw/...``) and state for the
checks. ``run.py`` stops the process group with signals when the run
ends. The main port serves the unmodified app behind a read gate
(``ReadGate``: queries wait while a maintenance tick swaps the table
and rewrites the stores); with tracing on it serves a wrapper that adds
a request id, a Spark job group and a ``server.request`` span around
that.
"""

from __future__ import annotations

import collections
import contextlib
import io
import json
import os
import random
import sys
import threading
import time


def wsgi_call(app, method: str, path: str, body=None, query: str = ""):
    data = b"" if body is None else json.dumps(body).encode()
    env = {"REQUEST_METHOD": method, "PATH_INFO": path, "QUERY_STRING": query,
           "CONTENT_LENGTH": str(len(data)), "wsgi.input": io.BytesIO(data)}
    status = []
    out = b"".join(app(env, lambda s, h, exc=None: status.append(s)))
    return int(status[0].split()[0]), out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class ReadGate:
    """Reader/writer gate between queries and the maintenance tick.

    The program has no coordination between reads and a fold: the
    compaction's DROP + RENAME table swap and the stores' in-place
    partition rewrites delete files that running queries read, which
    fail with FILE_NOT_EXIST. Queries hold the gate shared; the tick
    holds it alone from the table swap to the end of store
    maintenance, so no query sees the lake mid-fold. The tick is
    preferred: once it waits, new queries queue behind it. ``wait_s``
    sums the time queries spent waiting here."""

    def __init__(self):
        self._cv = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writer_waiting = False
        self.wait_s = 0.0
        self.waits = 0

    def enter(self) -> float:
        """Wait for a shared hold; returns the seconds waited."""
        with self._cv:
            t = time.perf_counter()
            while self._writer or self._writer_waiting:
                self._cv.wait()
            waited = time.perf_counter() - t
            self.wait_s += waited
            self.waits += waited > 0.001
            self._readers += 1
        return waited

    def leave(self) -> None:
        with self._cv:
            self._readers -= 1
            self._cv.notify_all()

    def hold(self) -> None:
        with self._cv:
            self._writer_waiting = True
            while self._writer or self._readers:
                self._cv.wait()
            self._writer_waiting, self._writer = False, True

    def release(self) -> None:
        with self._cv:
            self._writer = False
            self._cv.notify_all()


class SwapGatedSpark:
    """The SparkSession as the tick hands it to compaction: the swap's
    ``DROP TABLE`` of the served table first takes the read gate."""

    def __init__(self, spark, table: str, take_gate):
        self._spark, self._drop, self._take = spark, f"DROP TABLE {table}", take_gate

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def sql(self, text, *args, **kwargs):
        if text.strip() == self._drop:
            self._take()
        return self._spark.sql(text, *args, **kwargs)


class Bench:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.work = cfg["work"]
        self.workload = cfg["workload"]
        self.tracer = None
        self.tick_thread = None
        self.tick_stop = threading.Event()
        self.fold_lock = threading.Lock()
        self.folds: list[dict] = []
        self.request_jobs: dict = {}
        self.jobs_lock = threading.Lock()
        self.gate = ReadGate()
        self.gen_s = 0.0

    # ------------------------------------------------------------ set-up
    def build(self) -> None:
        from optiprism_spark.server import make_app
        from optiprism_spark.session import get_spark

        w = self.work
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.local.dir": os.path.join(w, "spark-local"),
            # the heap is sized and touched up front (-Xms = the driver
            # memory, pre-touched), so rss_peak_mb does not move with how
            # far G1 happened to grow the heap before a collection; what
            # the heap holds is measured apart (heap_live_mb)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(w, 'tmp')} -XX:-UsePerfData"
                f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        })
        log(f"get_spark {time.perf_counter() - t0:.1f}s")
        if self.workload == "explore_large":
            sf_dir = self._explore_corpus()
            self.app = make_app(self.spark, sf_dir)
            self.raw_app = self.app
            from workloads import explore_bodies

            warm = [(p, b) for _, p, b in explore_bodies(-1, 10)]
        else:
            self._build_lake()
            self._send_tracks(self.cfg["warm_tracks"], "warm-fold")
            from workloads import PANEL_KINDS, dashboard_pool

            first = {}
            for kind, p, b in dashboard_pool(-1):
                first.setdefault(kind, (p, b))
            warm = [first[k] for k in PANEL_KINDS]
        log(f"data + stores {time.perf_counter() - t0:.1f}s")
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            futures = [pool.submit(wsgi_call, self.gated_app, "POST", p, b)
                       for p, b in warm]
            if self.workload == "ingest_mixed":
                # one fold of the set-up rows pays the maintenance path's
                # first-time costs (Python workers, codegen) here
                warm_fold = pool.submit(self.fold)
            for (path, _), fut in zip(warm, futures):
                st, out = fut.result()
                if st != 200:
                    raise RuntimeError(
                        f"warm-up {path} answered {st}: {out[:300]}")
        if self.workload == "ingest_mixed":
            warm_fold.result()
            self.folds.clear()
            # acked rows buffered before the window: its first tick
            # has a batch to fold
            self._send_tracks(self.cfg["warm_tracks"], "first-tick")
            self.app.refresh_tables()  # drop warm-up cache entries
        log(f"warm-up done {time.perf_counter() - t0:.1f}s")

    def _send_tracks(self, n: int, stream: str) -> None:
        from workloads import track_body

        r = random.Random(f"track:{self.cfg['seed']}:{stream}")
        for _ in range(n):
            st, out = wsgi_call(self.app, "POST",
                                "/api/v1/ingest/perfbench/track", track_body(r))
            if st != 201:
                raise RuntimeError(f"set-up /track answered {st}: {out}")

    def _explore_corpus(self) -> str:
        """events_gen corpus for the seed, cached across runs."""
        from optiprism_spark.events_gen import generate_events

        users = self.cfg["explore_users"]
        d = os.path.join(self.cfg["corpus"],
                         f"explore-{self.cfg['seed']}-u{users}")
        path = os.path.join(d, "events.parquet")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t0 = time.perf_counter()
            import shutil

            shutil.rmtree(d, ignore_errors=True)
            (generate_events(self.spark, users, sessions_per_user=4,
                             seed=f"perfbench:{self.cfg['seed']}")
             .coalesce(4).write.parquet(path))
            self.gen_s = time.perf_counter() - t0
        return d

    def _build_lake(self) -> None:
        from optiprism_spark.ingest import write_events_bucketed
        from optiprism_spark.rollup import RollupSpec, RollupStore
        from optiprism_spark.schema import load_table
        from optiprism_spark.server import make_app
        from optiprism_spark.streaming.audience import KmvDayStore
        from optiprism_spark.userday import UserDayStore

        w, spark = self.work, self.spark
        sf_dir = self.cfg["sf01_dir"]
        ev = load_table(spark, sf_dir, "events")
        self.table = "perfbench_events"
        write_events_bucketed(ev, self.table)
        self.appends = os.path.join(w, "lake", "appends")
        os.makedirs(self.appends, exist_ok=True)
        self.lake = {"table_name": self.table, "appends_path": self.appends}
        rollup = RollupStore(os.path.join(w, "stores", "rollup"), RollupSpec())
        rollup.rebuild(spark, ev)
        userday = UserDayStore(os.path.join(w, "stores", "userday"))
        userday.rebuild(spark, ev)
        kmv = KmvDayStore(os.path.join(w, "stores", "kmv"))
        kmv.update(spark, ev)
        self.base_rows = self.spark.table(self.table).count()
        self.next_event_id = 10 ** 9
        self.app = make_app(spark, sf_dir, lake=self.lake,
                            wal_dir=os.path.join(w, "wal"),
                            rollup_store=rollup, user_day_store=userday,
                            kmv_store=kmv)
        # the output check's raw path: same lake, no stores, no cache
        self.raw_app = make_app(spark, sf_dir, lake=self.lake,
                                result_cache_ttl=None, admission_limit=None)

    # -------------------------------------------------------------- fold
    def fold(self) -> dict:
        """One maintenance tick: checkpoint -> durable append ->
        compaction -> commit -> App.maintain."""
        from optiprism_spark.ingest import (CompactionPolicy, geoip_enrich,
                                            tracked_to_events, ua_enrich)
        from optiprism_spark.server import _TRACK_SCHEMA
        from optiprism_spark.streaming.sessionize import append_events

        def span(name: str):
            # tracing may switch on mid-fold: look the tracer up per span
            tr = self.tracer
            if tr is None:
                return contextlib.nullcontext()
            tr.set_rid(f"tick-{len(self.folds)}")
            return tr.span(name)

        held = []

        def take_gate():
            if not held:
                self.gate.hold()
                held.append(time.perf_counter())

        with self.fold_lock:
            t0 = time.perf_counter()
            try:
                with span("server.tick"):
                    rows, _ = self.app.begin_checkpoint()
                    written, batch, compacted = 0, None, 0
                    if rows:
                        with span("ingest.flush"):
                            df = self.spark.createDataFrame(
                                rows, _TRACK_SCHEMA).coalesce(1)
                            batch = tracked_to_events(
                                geoip_enrich(ua_enrich(df)),
                                base_event_id=self.next_event_id).persist()
                            before = dir_bytes(self.appends)
                            append_events(batch, self.appends)
                            written += dir_bytes(self.appends) - before
                        with span("ingest.compact"):
                            # the program's default policy decides whether
                            # this tick compacts (L0 parts or bytes); its
                            # table swap takes the read gate
                            compacted = CompactionPolicy().maybe_compact(
                                SwapGatedSpark(self.spark, self.table,
                                               take_gate),
                                self.table, self.appends)
                        if compacted:
                            written += dir_bytes(self._table_dir())
                        self.next_event_id += len(rows)
                    # the commit drops the served plan; maintain rewrites
                    # store partitions in place
                    take_gate()
                    self.app.commit_checkpoint()
                    self.raw_app.refresh_tables()
                    if batch is not None:
                        self.app.maintain(new_events=batch, pid=1)
                        batch.unpersist()
            finally:
                if held:
                    self.gate.release()
            t1 = time.perf_counter()
            out = {"rows": len(rows), "fold_s": t1 - t0,
                   "gated_s": t1 - held[0],
                   "compacted": compacted > 0,
                   "lake_bytes_written": written}
            self.folds.append(out)
            return out

    def _table_dir(self) -> str:
        return os.path.join(self.work, "warehouse", self.table)

    def _tick_loop(self, count: int) -> None:
        """One maintenance thread runs ``count`` ticks back to back from
        the window's start, unless stopped first."""
        for _ in range(count):
            if self.tick_stop.is_set():
                return
            self.fold()

    # ------------------------------------------------------------ serve
    def gated_app(self, environ, start_response, tracer=None):
        """The app as the main port serves it: queries pass the read
        gate; ``/track`` and ``/metrics`` read no lake files and do not.
        The response carries the wait in ``X-Bench-Gate-Wait``; a traced
        request also records it as a ``bench.gate`` span."""
        path = environ.get("PATH_INFO", "")
        if path == "/metrics" or path.startswith("/api/v1/ingest/"):
            return self.app(environ, start_response)
        f = tracer.begin("bench.gate") if tracer is not None else None
        waited = self.gate.enter()
        if f is not None:
            tracer.end(f)

        def start(status, headers, exc_info=None):
            return start_response(
                status, headers + [("X-Bench-Gate-Wait", f"{waited:.6f}")],
                exc_info)

        try:
            return self.app(environ, start)
        finally:
            self.gate.leave()

    # ------------------------------------------------------------ tracing
    def traced_app(self, environ, start_response):
        tr, sc = self.tracer, self.spark.sparkContext
        if environ.get("PATH_INFO") == "/metrics":
            return self.gated_app(environ, start_response)
        rid = environ.get("HTTP_X_BENCH_RID", "")
        t_in = time.perf_counter()
        tr.set_rid(rid)
        sc.setJobGroup(rid, "perfbench")
        try:
            f = tr.begin("server.request")
            try:
                body = self.gated_app(environ, start_response, tr)
            finally:
                tr.end(f)
                inner = time.perf_counter() - f[4]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(rid) or []
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        with self.jobs_lock:
            self.request_jobs[rid] = (
                len(jobs), stages, tasks, failed, sum(len(b) for b in body),
                time.perf_counter() - t_in - inner)
        return body

    def set_trace(self, on: bool) -> None:
        from spans import Tracer, instrument

        if on and self.tracer is None:
            probe = Tracer()
            t = time.perf_counter()
            for _ in range(20_000):
                probe.end(probe.begin("probe"))
            self.span_cost_s = (time.perf_counter() - t) / 20_000
            tr = Tracer()
            instrument(tr)
            self.tracer = tr
            self.server.set_app(self.traced_app)
        elif not on and self.tracer is not None:
            self.server.set_app(self.gated_app)
            self.tracer.unpatch()

    def trace_summary(self) -> dict:
        tr = self.tracer
        if tr is None:
            return {}
        selfs = tr.self_times()
        req = {}
        for rid, d in selfs.items():
            if rid and not str(rid).startswith("tick-"):
                req[rid] = {k: round(v, 9) for k, v in d.items()}
        return {
            "requests": req,
            "request_s": {rid: t1 - t0 for _, _, rid, n, t0, t1 in tr.spans
                          if n == "server.request"},
            "jobs": self.request_jobs,
            "span_cost_s": self.span_cost_s,
            "spans_per_rid": dict(collections.Counter(s[2] for s in tr.spans)),
            "counts": dict(collections.Counter(
                s[3].split(".")[0] for s in tr.spans)),
            "durations": {n: tr.durations(n) for n in
                          ("wal.append", "wal.rewrite", "ingest.parse",
                           "ingest.flush", "ingest.compact", "server.maintain",
                           "rollup.update", "userday.update")},
        }

    # -------------------------------------------------------------- admin
    def admin_app(self, environ, start_response):
        path = environ.get("PATH_INFO", "")
        if path.startswith("/raw/"):
            environ["PATH_INFO"] = path[len("/raw"):]
            return self.raw_app(environ, start_response)
        n = int(environ.get("CONTENT_LENGTH") or 0)
        body = json.loads(environ["wsgi.input"].read(n) or b"{}") if n else {}
        try:
            out = self._admin(path, body)
            status = "200 OK"
        except Exception as e:  # reported to the client, which fails the run
            import traceback

            out = {"error": f"{type(e).__name__}: {e}",
                   "trace": traceback.format_exc()}
            status = "500 Internal Server Error"
        data = json.dumps(out).encode()
        start_response(status, [("Content-Type", "application/json"),
                                ("Content-Length", str(len(data)))])
        return [data]

    def _admin(self, path: str, body: dict) -> dict:
        if path == "/trace":
            self.set_trace(bool(body.get("on")))
            return {}
        if path == "/ticks":
            if body.get("on"):
                self.tick_stop.clear()
                self.gate.wait_s, self.gate.waits = 0.0, 0
                self.tick_thread = threading.Thread(
                    target=self._tick_loop, args=(int(body["count"]),),
                    daemon=True)
                self.tick_thread.start()
            elif self.tick_thread is not None:
                self.tick_stop.set()
                self.tick_thread.join()
                self.tick_thread = None
            return {}
        if path == "/heap":
            return self.heap_live()
        if path == "/state":
            return self.state()
        raise ValueError(f"unknown admin path {path}")

    def heap_live(self) -> dict:
        """JVM heap in use after full collections (``System.gc()``
        returns when one is done): what the driver retains, not how far
        the collector let garbage pile up. Collections repeat, half a
        second apart, until two readings agree within 1 MB (at most
        six): a collection lets Spark's ContextCleaner see broadcasts
        and shuffles no plan references any more and drop their blocks
        in the background, and the next one frees what they held."""
        import gc

        gc.collect()  # Python-side py4j handles pin their JVM objects
        jvm = self.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[int] = []
        for _ in range(6):
            jvm.java.lang.System.gc()
            readings.append(mx.getHeapMemoryUsage().getUsed())
            if len(readings) > 1 and abs(readings[-1] - readings[-2]) < 2**20:
                break
            time.sleep(0.5)
        log("heap after collections (MB): "
            + " ".join(f"{u / 2**20:.1f}" for u in readings))
        return {"used": readings[-1]}

    def state(self) -> dict:
        from optiprism_spark.ingest import events_snapshot

        out = {"folds": self.folds, "trace": self.trace_summary(),
               "gate_wait_s": self.gate.wait_s, "gate_waits": self.gate.waits}
        if self.tracer is not None:
            self.tracer.dump(self.cfg["spans_out"])
        if self.workload == "ingest_mixed":
            table_b = dir_bytes(self._table_dir())
            out.update({
                "base_rows": self.base_rows,
                "warm_tracks": 2 * self.cfg["warm_tracks"],
                "lake_rows": events_snapshot(self.spark, self.table,
                                             self.appends).count(),
                "memtable_rows": len(self.app.tracked),
                "table_bytes": table_b,
                "owned_bytes": (table_b + dir_bytes(self.appends)
                                + dir_bytes(os.path.join(self.work, "stores"))
                                + dir_bytes(os.path.join(self.work, "wal"))),
            })
        return out


def main() -> int:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, os.getcwd())  # the checkout root: optiprism_spark
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(cfg["work"], exist_ok=True)
    os.makedirs(os.path.join(cfg["work"], "tmp"), exist_ok=True)
    os.chdir(cfg["work"])
    bench = Bench(cfg)
    bench.build()
    from optiprism_spark.server import make_threaded_server

    srv = make_threaded_server(bench.gated_app)
    bench.server = srv
    admin = make_threaded_server(bench.admin_app)
    threading.Thread(target=admin.serve_forever, daemon=True).start()
    print("READY " + json.dumps({"port": srv.server_address[1],
                                 "admin_port": admin.server_address[1],
                                 "gen_s": bench.gen_s}), flush=True)
    srv.serve_forever()  # until run.py signals the process group
    return 0


if __name__ == "__main__":
    sys.exit(main())
