"""Workload ``llm_suite``: the operator modules over a seeded star schema.

Set-up writes the ten tables of FIXTURES.md §2 from the seed
(``suite_data.py``) and runs one pass over ``QUERIES``, collecting each
result to the driver, then ``REFRESH_QUERY`` once. That pass pays
planning, codegen, JIT and the build of the persisted minhash bands. It
is checked against DuckDB: each query's ``oracle_sql()`` runs over the
same parquet files, and row count, columns and an order-insensitive
multiset (``tools/check_oracle.py``'s ``_multiset``) must match.

``QUERIES`` is the first query of each of the 14 operator modules in the
order of ``bench.BENCH_QUERIES`` (52 queries). A pass over all 52 took
35 s warm on a 4-core host, more than a whole run may take, so one
query stands for each module.

During the run:

- ``round(seconds / PASS_S)`` passes over ``QUERIES``, each in a seeded
  order; each query's rows must equal its set-up result (row count and
  multiset);
- after the window, one artifact refresh: the documents table is written
  again at a new path, so its fingerprint changes, and ``REFRESH_QUERY``
  rebuilds its persisted bands there and serves them. Its rows must
  equal the set-up result.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from pathlib import Path

import suite_data
from spans import job_groups, kind_p50, p50, self_times, timing, union_length

SUITE_SF = 0.001
# (operator module, query): the first query of each module in
# bench.BENCH_QUERIES order, frozen here
QUERIES = (
    ("parity_queries", "read_range"),
    ("tpch", "tpch_q1_pricing"),
    ("dedup", "dedup_exact_groups"),
    ("textstats", "text_quality"),
    ("contamination", "contamination_check"),
    ("analytics", "events_funnel"),
    ("sampling", "split_assign"),
    ("packing", "pack_sequences"),
    ("similarity", "ann_cosine_topk"),
    ("sketches", "events_value_quantiles"),
    ("clustering", "cluster_assign"),
    ("checks", "quality_checks_events"),
    ("lexstats", "token_zipf_slope"),
    ("anomaly", "events_value_psi"),
)
# the incremental near-dedup twin: history bands persist as an artifact
REFRESH_QUERY = "dedup_minhash_inc"
# the run does round(seconds / PASS_S) whole passes, a fixed count, so
# every run does the same work whatever the host's speed; a pass takes
# 7-9 s on a 4-core host, and one per 14 s of --seconds keeps a run under
# a minute
PASS_S = 14.0


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class LlmSuiteWorkload:
    def __init__(self, spark, seed: int, seconds: float, tracer, work: Path):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.failures: list[str] = []
        self.attempted = 0

    # -- queries -------------------------------------------------------------

    def _run_query(self, name: str, data: Path, tag: str):
        """Construct and collect one query; returns (columns, rows,
        construct seconds, collect seconds). In the traced run each half
        is a span with its own Spark job group."""
        tr = self.tracer
        module = self.module_of[name]
        with tr.span("suite.query", req=tag):
            t0 = time.perf_counter()
            with tr.span(f"operators.{module}.construct",
                         group=f"pb:c:{module}:{tag}"):
                df = self.fns[name](self.spark, str(data))
            t1 = time.perf_counter()
            with tr.span(f"operators.{module}.exec",
                         group=f"pb:x:{module}:{tag}"):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        return df.columns, rows, t1 - t0, t2 - t1

    def _attempt(self, name: str, data: Path, tag: str):
        """``_run_query``, with an error counted as a failure (None)."""
        try:
            return self._run_query(name, data, tag)
        except Exception as e:  # noqa: BLE001 — counted, not raised
            self.attempted += 1
            self.failures.append(f"{tag} {name}: {str(e)[:300]}")
            return None

    def _same(self, name: str, cols, rows, where: str) -> None:
        self.attempted += 1
        want_cols, want = self.expected.get(name, (None, (None, ())))
        if cols != want_cols or len(rows) != len(want[1]) \
                or self.multiset(rows, cols) != want[0]:
            self.failures.append(
                f"{where} {name}: {len(rows)} rows, columns {cols}; set-up "
                f"pass had {len(want[1])} rows, columns {want_cols}")

    def _oracle_check(self, data: Path) -> float:
        """The set-up results against DuckDB; returns its seconds."""
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect()
        for f in data.glob("*.parquet"):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM "
                        f"read_parquet('{f}')")
        for name, (cols, (ms, rows)) in self.expected.items():
            self.attempted += 1
            sql = self.oracles.get(name)
            if sql is None:
                self.failures.append(f"{name}: no DuckDB oracle")
                continue
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows) \
                    or ms != self.multiset(drows, dcols):
                self.failures.append(
                    f"set-up {name}: Spark {len(rows)} rows {sorted(cols)}, "
                    f"DuckDB {len(drows)} rows {sorted(dcols)}")
        con.close()
        return time.perf_counter() - t0

    # -- run -----------------------------------------------------------------

    def run(self, session_s: float) -> dict:
        sys.path.insert(0, str(Path(__file__).resolve().parent.parent
                               / "tools"))
        from check_oracle import _multiset

        from logsqlite_spark import registry

        self.multiset = _multiset
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()
        self.module_of = {q: m for m, q in QUERIES}
        self.module_of[REFRESH_QUERY] = "dedup"
        artifacts = self.work / "artifacts"
        artifacts.mkdir(parents=True)
        os.environ["SPARK_GRAFT_IVF_DIR"] = str(artifacts)
        tr = self.tracer

        t0 = time.perf_counter()
        data = self.work / "tables"
        rows = suite_data.write(self.seed, SUITE_SF, data)
        gen_s = time.perf_counter() - t0
        self.expected = {}
        for name in [q for _, q in QUERIES] + [REFRESH_QUERY]:
            res = self._attempt(name, data, "setup")
            if res is not None:
                cols, got = res[:2]
                self.expected[name] = (cols, (_multiset(got, cols), got))
        setup_s = session_s + time.perf_counter() - t0
        oracle_s = self._oracle_check(data)

        # round(seconds / PASS_S) whole passes, each in a seeded order
        rng = random.Random(self.seed)
        by_module: dict[str, list[float]] = {m: [] for m, _ in QUERIES}
        passes: list[float] = []
        done = 0
        t_start = time.perf_counter()
        with tr.span("run"):
            for _ in range(max(1, round(self.seconds / PASS_S))):
                p0 = time.perf_counter()
                for module, name in rng.sample(QUERIES, len(QUERIES)):
                    res = self._attempt(name, data, str(done))
                    if res is not None:
                        cols, got, c_s, x_s = res
                        by_module[module].append(c_s + x_s)
                        self._same(name, cols, got, f"query {done}")
                    done += 1
                passes.append(time.perf_counter() - p0)
            run_wall = time.perf_counter() - t_start

        # artifact refresh: the corpus at a new path gets new bands
        fresh = self.work / "refresh"
        fresh.mkdir()
        shutil.copyfile(data / "documents.parquet",
                        fresh / "documents.parquet")
        before = set(artifacts.iterdir())
        with tr.span("maintenance.pass"):
            m0 = time.perf_counter()
            res = self._attempt(REFRESH_QUERY, fresh, "refresh")
            refresh_s = time.perf_counter() - m0
        if res is not None:
            self._same(REFRESH_QUERY, *res[:2], "refresh")
        built = sum(_dir_bytes(p) for p in set(artifacts.iterdir()) - before)
        self.attempted += 1
        if not built:
            self.failures.append("refresh built no artifact")

        e2e = {
            "op_p50_s": kind_p50(by_module),
            "visible_p50_s": p50(passes),
            "maintenance_pass_s": refresh_s,
            "bytes_per_line": built / rows["documents"],
            "setup_s": setup_s,
        }
        record = {
            "setup": {"session_s": session_s, "tables_s": gen_s,
                      "setup_pass_s": setup_s - session_s - gen_s,
                      "oracle_check_s": oracle_s},
            "op": f"one query of the suite (construct + collect) over a "
                  f"seeded sf{SUITE_SF} star schema; visible: one pass "
                  f"over all {len(QUERIES)} queries (suite wall); "
                  f"maintenance: rebuild + serve of {REFRESH_QUERY}'s "
                  f"persisted bands",
            "table_rows": rows,
            "suite_wall": timing(passes),
            "query_s": {m: timing(v) for m, v in by_module.items()},
            "refresh_artifact_bytes": built,
            "failures": self.failures[:20],
        }
        out = {"e2e": e2e, "record": record, "attempted": self.attempted,
               "failed": len(self.failures)}
        if tr.enabled:
            out["layers"], record["layers"] = self._layers(run_wall)
        return out

    # -- traced run ----------------------------------------------------------

    def _layers(self, run_wall: float):
        tr = self.tracer
        st = self_times(tr.spans)
        groups = job_groups(self.spark.sparkContext, "pb:")
        layers = {}
        for module, _ in QUERIES:
            # figures of the timed queries only, per query call
            calls = {s["req"] for s in tr.spans
                     if s["name"] == f"operators.{module}.exec"
                     and s["req"] not in ("setup", "refresh")}
            n = max(len(calls), 1)

            def tot(kind, key, module=module, calls=calls):
                return sum(groups.get(f"pb:{kind}:{module}:{c}", {})
                           .get(key, 0.0) for c in calls)

            def secs(half, module=module, calls=calls):
                return sum(s["end"] - s["start"] for s in tr.spans
                           if s["name"] == f"operators.{module}.{half}"
                           and s["req"] in calls)

            layers.update({
                f"operators.{module}.construct_s": secs("construct") / n,
                f"operators.{module}.exec_s": secs("exec") / n,
                f"operators.{module}.jobs_at_construct": tot("c", "jobs") / n,
                f"operators.{module}.cpu_ms":
                    (tot("c", "cpu_ns") + tot("x", "cpu_ns")) / 1e6 / n,
                f"operators.{module}.shuffle_bytes": sum(
                    tot(k, f) for k in ("c", "x")
                    for f in ("shuffle_read_bytes", "shuffle_write_bytes")) / n,
            })
        root = next(s for s in tr.spans if s["name"] == "run")
        top = [(s["start"], s["end"]) for s in tr.spans
               if s["parent"] == root["id"]]
        layers["bench.unattributed_s"] = run_wall - union_length(top)
        return layers, {"self_times": st}
