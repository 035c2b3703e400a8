"""Workload ``docker_logs``: the daemon as Docker uses it.

The daemon drains the spools of busy containers and serves ``docker
logs`` at the same time. All read traffic goes through
``LogDriverServer`` over its unix socket, with clients from
``connect_client``.

Set-up pre-ingests a seeded history of 48 Zipf-skewed containers over
three dates in one pull that writes at most ``FILE_ROWS`` rows per
parquet file, then compacts the heaviest container, so the warehouse
holds compacted, multi-file and single-file partitions. Two more
containers are started with ``start_logging(..., streaming=True)``.
``pulls.Puller`` loads a first burst into each of its two pull
warehouses and warms the cleaner.

During the run:

- the main thread is a closed loop of ``CYCLE``s. Each cycle runs a plog
  pull, a jsonl pull and a cleaner pass on the pull warehouses
  (``pulls.py``), with four ``ReadLogs`` requests between them. The requests
  go to the two busiest history containers: Since/Until windows at
  seeded positions and Tail=N. Every response is checked against the
  frame count and last line the generator predicts. Operations never
  overlap, so each runs beside the same background load;
- an open-loop writer appends lines at a fixed, low rate to the two
  streaming containers (far below what a trigger drains, so visibility
  measures the trigger path, not a backlog); a ``Follow: true`` client
  per container times each line from its due time to its arrival, and
  checks that every line arrives exactly once, in order, before a
  deadline.
"""

from __future__ import annotations

import json
import selectors
import struct
import threading
import time
from pathlib import Path

import probes
from gen import SECOND, ZIPF_S, Generator, rfc3339
from pulls import BURST_LINES, FORMATS, N_CONTAINERS, Puller
from spans import (hi, job_groups, kind_p50, p50, self_times, timing,
                   union_length)

N_HISTORY = 48                    # the specification: at least 48
HISTORY_LINES = 12_000
HISTORY_SPAN = 60 * 3600 * SECOND  # three dates
FILE_ROWS = 500                   # rows per parquet file of the history pull
# one cycle of request shapes: Tail=100 (the specification's measured
# request) and one decade above it, and Since/Until windows over as many
# lines at seeded positions, so both kinds return the same rows and
# differ in how they select them (streaming the frames costs about as
# much as the scan)
SHAPES = (("range", 100), ("tail", 100), ("range", 1000), ("tail", 1000))
# one cycle of the main thread: a pull of each format and a cleaner pass
# on the pull warehouses, with ReadLogs requests between them
CYCLE = ("plog", "read", "jsonl", "read", "clean", "read", "read")
# a cycle takes about this long on a 4-core host; the run does
# round(seconds / CYCLE_S) whole cycles, a fixed count, so every run does
# the same work and leaves the same tables whatever the host's speed
CYCLE_S = 14.0
FOLLOWED = 2
TICKS_PER_S = 2.0                 # per followed container
LINES_PER_TICK = 2
DEADLINE_S = 10.0                 # a followed line must arrive by then


def _post(socket_path: str, body: dict):
    from logsqlite_spark.server import connect_client

    conn = connect_client(socket_path)
    raw = json.dumps(body).encode()
    conn.request("POST", "/LogDriver.ReadLogs", body=raw,
                 headers={"Content-Length": str(len(raw))})
    return conn, conn.getresponse()


def _frames(buf: bytearray):
    """Pop complete length-prefixed frames off ``buf``."""
    from logsqlite_spark.sources.frames import decode_log_entry

    out = []
    pos = 0
    while len(buf) - pos >= 4:
        (n,) = struct.unpack_from(">I", buf, pos)
        if len(buf) - pos - 4 < n:
            break
        out.append(decode_log_entry(bytes(buf[pos + 4:pos + 4 + n])))
        pos += 4 + n
    del buf[:pos]
    return out


class _FollowStream:
    """A ``Follow: true`` ReadLogs request whose chunked response body is
    fed in as it arrives, so one thread can select over several."""

    def __init__(self, socket_path: str, cid: str):
        from logsqlite_spark.server import connect_client

        self.conn = connect_client(socket_path)
        raw = json.dumps({"Info": {"ContainerID": cid},
                          "Config": {"Follow": True, "Tail": 0}}).encode()
        self.conn.request("POST", "/LogDriver.ReadLogs", body=raw,
                          headers={"Content-Length": str(len(raw))})
        self.raw = bytearray()
        self.body = bytearray()
        self.headers = False
        self.done = False

    def feed(self, data: bytes) -> list:
        self.raw += data
        if not self.headers:
            end = self.raw.find(b"\r\n\r\n")
            if end < 0:
                return []
            if not self.raw.startswith(b"HTTP/1.1 200"):
                raise ValueError(bytes(self.raw[:end]).decode())
            del self.raw[:end + 4]
            self.headers = True
        while not self.done:
            eol = self.raw.find(b"\r\n")
            if eol < 0:
                break
            size = int(self.raw[:eol], 16)
            if size == 0:
                self.done = True
            elif len(self.raw) < eol + 2 + size + 2:
                break
            self.body += self.raw[eol + 2:eol + 2 + size]
            del self.raw[:eol + 2 + size + 2]
        return _frames(self.body)


class DockerLogsWorkload:
    def __init__(self, spark, seed: int, seconds: float, tracer, work: Path):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.failures: list[str] = []
        self.attempted = 0

    # -- set-up ------------------------------------------------------------

    def _build_history(self) -> None:
        from logsqlite_spark.streaming.ingest import ingest_spool_once

        gen = self.hist
        c = self.eng.config
        t0 = time.perf_counter()
        gen.write_burst(c.spool_dir, "plog", gen.split(HISTORY_LINES),
                        HISTORY_SPAN)
        res = ingest_spool_once(self.spark, c.spool_dir, c.logs_dir,
                                c.state_dir, max_records_per_file=FILE_ROWS)
        if res.get("rows") != HISTORY_LINES:
            self.failures.append(f"history pull committed {res.get('rows')}"
                                 f" of {HISTORY_LINES} lines")
        t1 = time.perf_counter()
        heaviest = max(gen.containers, key=lambda c: c.weight)
        self.eng.compact(heaviest.cid, min_files=2)
        self.phases = {"history_pull_s": t1 - t0,
                       "history_compact_s": time.perf_counter() - t1}

    def _start_streams(self) -> None:
        from logsqlite_spark.sources.spool import SpoolWriter

        self.follow_gen = Generator(self.seed * 1000 + 3, FOLLOWED, 0.0)
        self.follow_ids = [c.cid for c in self.follow_gen.containers]
        self.writers = {}
        self.sent: dict[str, list[float | None]] = {}
        for cid in self.follow_ids:
            self.writers[cid] = SpoolWriter(self.eng.config.spool_dir, cid)
            self.sent[cid] = []
            self.eng.start_logging(cid, options={
                "delete_when_stopped": "false"}, streaming=True)

    def _write_tick(self, cid: str, due: float | None) -> float:
        recs = self.follow_gen.records(cid, LINES_PER_TICK, SECOND)
        self.writers[cid].write_burst(r.entry() for r in recs)
        self.sent[cid].extend([due] * len(recs))
        return time.perf_counter()

    def _wait_committed(self, rows: int) -> None:
        """Until the streams have committed ``rows`` rows per followed
        container (the logs table carries them), for at most a minute."""
        from pyspark.sql import functions as F

        deadline = time.perf_counter() + 60.0
        while time.perf_counter() < deadline:
            got = {r["container_id"]: r["n"] for r in
                   self.eng.logs_df().filter(F.col("container_id").isin(
                       self.follow_ids)).groupBy("container_id")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}
            if all(got.get(c, 0) >= rows for c in self.follow_ids):
                return
            time.sleep(0.2)
        self.failures.append("streaming ingest did not commit the warm lines")

    # -- ReadLogs ------------------------------------------------------------

    def _request(self, k: int) -> dict:
        gen = self.hist
        # requests go in pairs (a range and a tail) to the two busiest
        # containers in turn: the compacted one, then one as the history
        # pull left it
        cid = self.by_rank[(k // 2) % 2]
        kind, size = SHAPES[k % len(SHAPES)]
        if kind == "range":
            since, until = gen.window(cid, size)
            cfg = {"Since": rfc3339(since), "Until": rfc3339(until)}
            tail = None
        else:
            since = until = None
            tail = size
            cfg = {"Since": "0001-01-01T00:00:00Z", "Tail": tail}
        cfg["Follow"] = False
        return {"kind": kind, "cid": cid,
                "want": gen.expect_read(cid, since, until, tail),
                "body": {"Info": {"ContainerID": cid}, "Config": cfg}}

    def _read(self, req_id: int) -> tuple[str, float, int, int]:
        """One ReadLogs round trip; returns (kind, seconds, frames, bytes)."""
        r = self._request(req_id)
        body = dict(r["body"])
        if self.tracer.enabled:
            body["BenchReq"] = req_id
        self.attempted += 1
        t0 = time.perf_counter()
        conn, resp = _post(self.sock, body)
        data = resp.read()
        dt = time.perf_counter() - t0
        conn.close()
        buf = bytearray(data)
        entries = _frames(buf)
        got = (len(entries), entries[-1].line.decode() if entries else None)
        if resp.status != 200 or buf or got != r["want"]:
            self.failures.append(
                f"ReadLogs {r['kind']} {r['cid']} {r['body']['Config']}: "
                f"status {resp.status}, got {got[0]} frames (last "
                f"{got[1]!r:.60}), want {r['want'][0]} (last "
                f"{r['want'][1]!r:.60})")
        return r["kind"], dt, len(entries), len(data)

    # -- Follow --------------------------------------------------------------

    def _follow(self, sinks: dict, stop: threading.Event) -> None:
        """One thread reads every Follow stream; each frame's line index
        and arrival time goes to its container's sink."""
        streams = {cid: _FollowStream(self.sock, cid) for cid in sinks}
        sel = selectors.DefaultSelector()
        for cid, fs in streams.items():
            sel.register(fs.conn.sock, selectors.EVENT_READ, cid)
        try:
            while not stop.is_set() and sel.get_map():
                for key, _ in sel.select(timeout=0.2):
                    cid = key.data
                    data = key.fileobj.recv(65536)
                    now = time.perf_counter()
                    fs = streams[cid]
                    for e in fs.feed(data):
                        n = int(e.line.split(b" n=", 1)[1].split(b" ", 1)[0])
                        sinks[cid].append((n, now))
                    if not data or fs.done:
                        sel.unregister(key.fileobj)
        finally:
            sel.close()
            for fs in streams.values():
                fs.conn.close()

    def _writer(self, stop: threading.Event, t0: float, lateness: list,
                write_s: list) -> None:
        """Open loop: tick k of container i is due at t0 + k / rate,
        whatever the program does meanwhile."""
        k = 0
        while not stop.is_set():
            due = t0 + k / TICKS_PER_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            for cid in self.follow_ids:
                w0 = time.perf_counter()
                done = self._write_tick(cid, due)
                lateness.append(w0 - due)
                write_s.append(done - w0)
            k += 1

    # -- run -------------------------------------------------------------------

    def run(self, session_s: float) -> dict:
        from logsqlite_spark.api import Engine
        from logsqlite_spark.config import EngineConfig

        t0 = time.perf_counter()
        self.eng = Engine(self.spark, EngineConfig(
            warehouse_dir=str(self.work / "wh")))
        self.hist = Generator(self.seed * 1000, N_HISTORY, ZIPF_S)
        self._build_history()
        self.by_rank = [h.cid for h in sorted(self.hist.containers,
                                              key=lambda h: -h.weight)]
        self.sock = str(self.work / "plugin.sock")
        self.srv = self.eng.serve_logdriver(self.sock)
        t1 = time.perf_counter()
        self._start_streams()
        for cid in self.follow_ids:
            self._write_tick(cid, None)
        self._wait_committed(LINES_PER_TICK)
        self.phases["streams_s"] = time.perf_counter() - t1
        w0 = time.perf_counter()
        self._read(0)  # the read path's first planning and codegen
        self.phases["warm_read_s"] = time.perf_counter() - w0
        w0 = time.perf_counter()
        puller = Puller(self.spark, self.seed, self.tracer, self.work)
        puller.warm()
        self.phases["warm_pulls_s"] = time.perf_counter() - w0
        setup_s = session_s + time.perf_counter() - t0

        probes.install(self.tracer)
        tr = self.tracer
        arrivals = {cid: [] for cid in self.follow_ids}
        lateness: list[float] = []
        write_s: list[float] = []
        stop_follow = threading.Event()
        stop_writer = threading.Event()
        follower = threading.Thread(target=self._follow, name="follow",
                                    args=(arrivals, stop_follow), daemon=True)
        follower.start()
        ops: dict[str, list] = {"range": [], "tail": [],
                                "plog": [], "jsonl": []}
        log: list[tuple] = []
        frames = nbytes = 0
        maint: list[float] = []
        t_start = time.perf_counter()
        writer = threading.Thread(target=self._writer, name="open-loop-writer",
                                  args=(stop_writer, t_start, lateness,
                                        write_s), daemon=True)
        writer.start()
        req = 0
        cycles = max(1, round(self.seconds / CYCLE_S))
        with tr.span("run"):
            for cycle in range(cycles):
                for task in CYCLE:
                    if task == "read":
                        with tr.span("client.read_logs", req=req):
                            kind, dt, n, b = self._read(req)
                        ops[kind].append(dt)
                        log.append((req % len(SHAPES), round(dt, 3), n))
                        frames += n
                        nbytes += b
                        req += 1
                    elif task == "clean":
                        maint.append(puller.clean(cycle))
                    else:
                        ops[task].append(puller.step(task, cycle))
            stop_writer.set()
            writer.join(timeout=30)
            run_wall = time.perf_counter() - t_start
        # every followed line must arrive, once and in order, by the deadline
        deadline = time.perf_counter() + DEADLINE_S
        want = {cid: len(self.sent[cid]) for cid in self.follow_ids}
        while time.perf_counter() < deadline and any(
                len(arrivals[c]) < want[c] for c in self.follow_ids):
            time.sleep(0.05)
        visible = self._check_follow(arrivals, want)
        progress = self._stream_progress()
        self.srv.stop()
        stop_follow.set()
        follower.join(timeout=30)
        self.eng.stop_all()
        live_bytes, live_rows = puller.finish()
        self.failures += puller.failures
        self.attempted += puller.attempted

        reads = {k: ops[k] for k in ("range", "tail")}
        pulls = {k: ops[k] for k in FORMATS}
        e2e = {
            "op_p50_s": kind_p50(ops),
            # no followed line arrived: _check_follow counted a failure
            "visible_p50_s": p50(visible) if visible else 0.0,
            "maintenance_pass_s": p50(maint),
            "bytes_per_line": live_bytes / live_rows,
            "setup_s": setup_s,
        }
        record = {
            "setup": {"session_s": session_s, **self.phases},
            "op": "one ReadLogs request over the unix socket (Since/Until "
                  "windows and Tail=N on the two busiest of 48 history "
                  f"containers), or one spool pull of {BURST_LINES} lines "
                  f"over {N_CONTAINERS} containers; visible: a followed "
                  "line's due time to its arrival at the client",
            "readlogs": {k: timing(v) for k, v in reads.items()},
            "ingest_pull": {k: timing(v) for k, v in pulls.items()},
            "ingest_plog_lines_per_s":
                BURST_LINES * len(pulls["plog"]) / sum(pulls["plog"]),
            "ingest_jsonl_lines_per_s":
                BURST_LINES * len(pulls["jsonl"]) / sum(pulls["jsonl"]),
            "follow_visibility": timing(visible),
            "maintenance": timing(maint),
            "readlogs_lines_per_s": frames / sum(reads["range"]
                                                 + reads["tail"]),
            "reads": log,
            "gen_lateness": timing(lateness),
            "gen_spool_write_s": puller.write_s,
            "spool_bytes_written": puller.spool_bytes,
            "followed_lines": want,
            "failures": self.failures[:20],
        }
        out = {"e2e": e2e, "record": record, "attempted": self.attempted,
               "failed": len(self.failures)}
        if tr.enabled:
            out["layers"], record["layers"] = self._layers(
                puller, req, 2 * cycles, frames, nbytes, progress, lateness,
                write_s, run_wall, len(maint))
        return out

    def _check_follow(self, arrivals: dict, want: dict) -> list[float]:
        visible = []
        for cid in self.follow_ids:
            self.attempted += 1
            got = [n for n, _ in arrivals[cid]]
            if got != list(range(want[cid])):
                self.failures.append(
                    f"follow {cid}: got {len(got)} lines, want {want[cid]} "
                    f"in order once each (first gap at "
                    f"{next((i for i, n in enumerate(got) if n != i), len(got))})")
            sent = self.sent[cid]
            for n, at in arrivals[cid]:
                if n < len(sent) and sent[n] is not None:
                    visible.append(at - sent[n])
        return visible

    def _stream_progress(self) -> list[dict]:
        out = []
        for cid, q in list(self.eng._queries.items()):
            self.attempted += 1
            if not q.isActive:
                exc = q.exception()
                self.failures.append(f"ingest stream of {cid} stopped: "
                                     f"{str(exc)[:300]}")
            for p in q.recentProgress:
                d = p if isinstance(p, dict) else json.loads(p.json)
                if d.get("numInputRows"):
                    out.append(d)
        return out

    # -- traced run ------------------------------------------------------------

    def _layers(self, puller, n_req, n_pulls, frames, nbytes, progress,
                lateness, write_s, run_wall, n_passes):
        tr = self.tracer
        st = self_times(tr.spans)
        groups = job_groups(self.spark.sparkContext, "pb:")
        rows = [v for k, v in groups.items() if k.startswith("pb:read:")]
        per_req = max(n_req, 1)

        def tot(key):
            return sum(r.get(key, 0.0) for r in rows)

        def mean_s(name, self_time=False, per=None):
            row = st.get(name)
            if not row:
                return 0.0
            return row["self_s" if self_time else "total_s"] / (per or row["n"])

        c = tr.counts
        root = next(s for s in tr.spans if s["name"] == "run")
        top = [(s["start"], s["end"]) for s in tr.spans
               if s["parent"] == root["id"]]
        mb = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        tables = [self.eng.table] + puller.tables()
        layers = puller.layers(groups, n_pulls)
        layers.update({
            "streaming.ingest.microbatch_ms": p50(mb) if mb else 0.0,
            "streaming.ingest.microbatches": len(mb),
            "table.adopt_staged_s": mean_s("table.adopt_staged"),
            "table.commit_append_s": mean_s("table.commit_append"),
            "table.commit_conflicts": c["table.commit_conflicts"],
            "table.live_files": sum(len(t.manifest()["files"])
                                    for t in tables),
            "table.manifest_bytes": sum(probes.manifest_bytes(t)
                                        for t in tables),
            "table.read_df_s": mean_s("table.read_df"),
            "table.read_df_files": c["table.read_df_files"]
                / max(c["table.read_df_calls"], 1),
            "table.gc_s": mean_s("table.gc"),
            "operators.retention.pass_s":
                mean_s("operators.retention", per=max(n_passes, 1)),
            "operators.retention.rows_dropped":
                c["operators.retention.rows_dropped"],
            "operators.compact.pass_s":
                mean_s("operators.compact", per=max(n_passes, 1)),
            "operators.compact.files_before":
                c["operators.compact.files_before"],
            "operators.compact.files_after": c["operators.compact.files_after"],
            "operators.compact.bytes_rewritten": sum(
                v.get("output_bytes", 0.0) for k, v in groups.items()
                if k.startswith("pb:compact:")),
            "api.read_logs_s": mean_s("api.read_logs"),
            "operators.read.jobs_per_request": tot("jobs") / per_req,
            "operators.read.stages_per_request": tot("stages") / per_req,
            "operators.read.tasks_per_request": tot("tasks") / per_req,
            "operators.read.run_ms": tot("run_ms") / per_req,
            "operators.read.cpu_ms": tot("cpu_ns") / 1e6 / per_req,
            "operators.read.rows_scanned_per_row_returned":
                tot("input_records") / max(frames, 1),
            "operators.wire.stream_s": mean_s("operators.wire.stream"),
            "operators.wire.bytes_per_request": nbytes / per_req,
            "server.overhead_s": mean_s("server.read_logs", self_time=True),
            "api.follow_tail.emits": c["api.follow_tail.emits"],
            "api.follow_tail.resyncs": c["api.follow_tail.resyncs"],
            "api.follow_tail.rows_per_emit": c["api.follow_tail.rows"]
                / max(c["api.follow_tail.emits"], 1),
            "gen.lateness_hi_s": hi(lateness)[0] if lateness else 0.0,
            "gen.spool_write_s": puller.write_s + sum(write_s),
            "bench.unattributed_s": run_wall - union_length(top),
        })
        return layers, {"self_times": st}
