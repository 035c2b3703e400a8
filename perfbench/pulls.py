"""The ingest side of the ``docker_logs`` workload: spool pulls and the
cleaner, closed loop.

Two warehouses of their own, one per spool format, each fed by 16
Zipf-skewed containers. A step writes one seeded burst to a spool
(untimed generator work) and drains it with a timed pull:
``Engine.ingest_once`` on the plog warehouse,
``ingest_spool_once(fmt="jsonl")`` on the jsonl one. A cleaner pass,
on one warehouse at a time, runs ``Engine.cleanup_all`` (a line cap
that drops rows of the two heaviest containers), then ``Engine.compact``
on those containers. Nothing reads these warehouses except the checks,
so the pulls' cost does not depend on the read traffic's tables.

Checks: every pull commits exactly the lines written; after every
cleaner pass and at the end, each container's live rows are the
contiguous seq range the generator's model predicts.

Where the sizes come from (METRICS.md has the full table):

- 16 containers: the workload specification (a skewed set of about 16
  containers);
- a burst is 10 000 lines, the reference's default ``max_lines_per_tx``
  (``LogConfig``; reference ``config.rs:175-182``), i.e. one reference
  transaction per pull;
- a burst covers one day of each container's clock, so two bursts per
  warehouse reach three dates;
- the line cap is below what the heaviest container holds at each pass
  on its warehouse, so every pass drops rows.
"""

from __future__ import annotations

import time
from pathlib import Path

from gen import SECOND, ZIPF_S, Generator
from spans import job_intervals, union_length

N_CONTAINERS = 16
BURST_LINES = 10_000
BURST_SPAN = 24 * 3600 * SECOND
CLEANED = 2                      # heaviest containers carry the line cap
LINE_CAP = 2_000
FORMATS = ("plog", "jsonl")


class Puller:
    def __init__(self, spark, seed: int, tracer, work: Path):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work = work
        self.failures: list[str] = []
        self.attempted = 0
        self.write_s = 0.0       # generator time writing bursts
        self.spool_bytes = 0
        self.sides: dict = {}

    # -- helpers ---------------------------------------------------------

    def _engine(self, name: str, gen: Generator):
        from logsqlite_spark.api import Engine
        from logsqlite_spark.config import EngineConfig

        eng = Engine(self.spark, EngineConfig(
            warehouse_dir=str(self.work / name)))
        for c in self._heavy(gen):
            eng.start_logging(c.cid, options={
                "cleanup_max_lines": str(LINE_CAP),
                "delete_when_stopped": "false"})
        return eng

    @staticmethod
    def _heavy(gen: Generator) -> list:
        return sorted(gen.containers, key=lambda c: -c.weight)[:CLEANED]

    def _pull(self, eng, fmt: str) -> dict:
        if fmt == "plog":
            return eng.ingest_once()
        from logsqlite_spark.streaming.ingest import ingest_spool_once

        c = eng.config
        return ingest_spool_once(self.spark, c.spool_dir, c.logs_dir,
                                 c.state_dir, fmt="jsonl")

    def _maintain(self, eng, gen: Generator) -> float:
        """Cleaner pass: retention, then compaction of the containers
        retention rewrote."""
        t0 = time.perf_counter()
        eng.cleanup_all()
        for c in self._heavy(gen):
            eng.compact(c.cid, min_files=2)
        dt = time.perf_counter() - t0
        for c in self._heavy(gen):
            if c.live > LINE_CAP:
                c.dropped = c.written - LINE_CAP
        return dt

    def _check_table(self, eng, gen: Generator, where: str) -> None:
        """Live rows per container == the model's contiguous seq range."""
        from pyspark.sql import functions as F

        self.attempted += 1
        got = {r["container_id"]: (r["n"], r["lo"], r["hi"]) for r in
               eng.logs_df().groupBy("container_id").agg(
                   F.count(F.lit(1)).alias("n"), F.min("seq").alias("lo"),
                   F.max("seq").alias("hi")).collect()}
        want = {c.cid: (c.live, c.dropped + 1, c.written)
                for c in gen.containers if c.written}
        if got != want:
            bad = sorted(k for k in set(got) | set(want)
                         if got.get(k) != want.get(k))
            self.failures.append(
                f"{where}: table rows differ for {len(bad)} containers, "
                f"e.g. {bad[0]}: got {got.get(bad[0])} want {want.get(bad[0])}")

    # -- set-up ------------------------------------------------------------

    def warm(self) -> None:
        """Set-up: one burst into each pull warehouse, which warms both
        pull paths, then a cleaner pass on the jsonl one, which warms
        retention. The first timed pass, on the plog warehouse, then
        finds partitions with more than one file to compact."""
        for i, fmt in enumerate(FORMATS):
            gen = Generator(self.seed * 1000 + 1 + i, N_CONTAINERS, ZIPF_S)
            eng = self._engine(fmt, gen)
            gen.write_burst(eng.config.spool_dir, fmt,
                            gen.split(BURST_LINES), BURST_SPAN)
            self._pull(eng, fmt)
            self.sides[fmt] = (eng, gen)
        self._maintain(*self.sides["jsonl"])
        self._check_table(*self.sides["jsonl"], "set-up")

    # -- timed operations ----------------------------------------------------

    def step(self, fmt: str, cycle: int) -> float:
        """Write one burst (untimed), then one timed pull; returns the
        pull's seconds."""
        tr = self.tracer
        eng, gen = self.sides[fmt]
        with tr.span("gen.spool_write"):
            w0 = time.perf_counter()
            self.spool_bytes += gen.write_burst(
                eng.config.spool_dir, fmt, gen.split(BURST_LINES), BURST_SPAN)
            self.write_s += time.perf_counter() - w0
        if tr.enabled:
            self._decode_probe(eng, fmt, cycle)
        self.attempted += 1
        req = f"{fmt}:{cycle}"
        with tr.span("ingest.pull", req=req, group=f"pb:pull:{req}"):
            t0 = time.perf_counter()
            res = self._pull(eng, fmt)
            dt = time.perf_counter() - t0
        if res.get("rows") != BURST_LINES or res.get("decode_errors") \
                or res.get("out_of_order_rows"):
            self.failures.append(
                f"pull {req}: committed {res.get('rows')} of "
                f"{BURST_LINES} lines, decode_errors="
                f"{res.get('decode_errors')}, out_of_order="
                f"{res.get('out_of_order_rows')}")
        return dt

    def clean(self, cycle: int) -> float:
        """One cleaner pass, on the two warehouses in turn; returns its
        seconds."""
        eng, gen = self.sides[FORMATS[cycle % 2]]
        with self.tracer.span("maintenance.pass", group=f"pb:maint:{cycle}"):
            dt = self._maintain(eng, gen)
        with self.tracer.span("check"):
            self._check_table(eng, gen, f"after pass {cycle}")
        return dt

    def finish(self) -> tuple[int, int]:
        """End checks; returns (live parquet bytes, live rows)."""
        live_bytes = live_rows = 0
        for fmt, (eng, gen) in self.sides.items():
            self._check_table(eng, gen, f"end ({fmt})")
            files = eng.table.manifest()["files"]
            live_bytes += sum((eng.table.dir / f).stat().st_size
                              for f in files)
            live_rows += sum(c.live for c in gen.containers)
            eng.stop_all()
        return live_bytes, live_rows

    # -- traced run ----------------------------------------------------------

    def _decode_probe(self, eng, fmt: str, cycle: int) -> None:
        """Decode-only pass over the burst just written (traced run only):
        the pull fuses decode into its write stage, so the sources layer
        is measured on its own under job group ``pb:decode:<fmt>:<cycle>``."""
        from pyspark.sql import functions as F

        from logsqlite_spark.sources.jsonl import read_jsonl_spool_batch
        from logsqlite_spark.sources.spool import read_spool_batch

        c = eng.config
        with self.tracer.span("sources.decode_probe",
                              group=f"pb:decode:{fmt}:{cycle}"):
            read = read_jsonl_spool_batch if fmt == "jsonl" \
                else read_spool_batch
            n = read(self.spark, c.spool_dir).agg(
                F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        self.tracer.count("sources.records_decoded", n)

    def layers(self, groups: dict, n_pulls: int) -> dict:
        """The sources and pull layers, per pull."""
        tr = self.tracer
        pull = [v for k, v in groups.items() if k.startswith("pb:pull:")]
        dec = [v for k, v in groups.items() if k.startswith("pb:decode:")]
        per_pull = max(n_pulls, 1)

        def tot(rows, key):
            return sum(r.get(key, 0.0) for r in rows)

        # driver time of a pull: its wall minus the time its jobs ran
        jobs = job_intervals(self.spark.sparkContext, "pb:pull:")
        offs = time.time() - time.perf_counter()
        driver = 0.0
        for s in tr.spans:
            if s["name"] == "ingest.pull":
                iv = [(max(a, s["start"] + offs), min(b, s["end"] + offs))
                      for a, b in jobs.get(f"pb:pull:{s['req']}", ())]
                driver += (s["end"] - s["start"]) - union_length(
                    [x for x in iv if x[1] > x[0]])
        return {
            "sources.decode_run_ms": tot(dec, "run_ms") / per_pull,
            "sources.decode_cpu_ms": tot(dec, "cpu_ns") / 1e6 / per_pull,
            "sources.spool_bytes_read": tot(pull, "input_bytes") / per_pull,
            "sources.records_decoded":
                tr.counts["sources.records_decoded"] / per_pull,
            "streaming.ingest.jobs_per_pull": tot(pull, "jobs") / per_pull,
            "streaming.ingest.stages_per_pull": tot(pull, "stages") / per_pull,
            "streaming.ingest.tasks_per_pull": tot(pull, "tasks") / per_pull,
            "streaming.ingest.write_run_ms": tot(pull, "run_ms") / per_pull,
            "streaming.ingest.shuffle_bytes_per_pull":
                (tot(pull, "shuffle_read_bytes")
                 + tot(pull, "shuffle_write_bytes")) / per_pull,
            "streaming.ingest.spill_bytes":
                tot(pull, "spill_mem_bytes") + tot(pull, "spill_disk_bytes"),
            "streaming.ingest.driver_s": driver / per_pull,
        }

    def tables(self) -> list:
        return [eng.table for eng, _ in self.sides.values()]
