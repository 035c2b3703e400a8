"""Seeded log generator: containers, bursts, and the rows they must yield.

The generator plays dockerd's side of the spool. It writes bursts through
the engine's public spool writers (``SpoolWriter`` for length-prefixed
protobuf, ``JsonlSpoolWriter`` for JSON lines) and keeps, without the
engine, a model of every row each container must hold: arrival order
(seq), ``ts_nanos`` and the canonical line (``\\n`` appended). From that
model it answers what a ReadLogs Since/Until/Tail request must return.

Input properties that the engine's cost depends on, and how they vary:

- container count and Zipf skew of lines per container (fixed per
  workload; the seed only permutes which container is heavy);
- line length (a long-tailed mixture, 24 B to 2 KiB);
- dates: every burst advances each container's clock, so a run spans at
  least three dates;
- about 1% late lines per container (a timestamp up to 30 s in the past,
  stored in arrival order);
- partial-line runs (2-4 pieces sharing a ``partial_meta.id``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from logsqlite_spark.sources.frames import LogEntry, PartialMeta
from logsqlite_spark.sources.jsonl import JsonlSpoolWriter
from logsqlite_spark.sources.spool import SpoolWriter

BASE_NANOS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z
SECOND = 1_000_000_000
ZIPF_S = 1.0  # lines per container ~ 1 / rank: the classic Zipf law
LATE_FRAC = 0.01     # lines stamped up to 30 s in the past (FIXTURES.md §1.1)
PARTIAL_FRAC = 0.02  # lines that start a partial-line run

_WORDS = ("GET POST PUT request handled upstream timeout retry cache miss hit "
          "user session token db query rows latency ok error warn info debug "
          "worker shard commit flush queue backlog connect closed reset").split()


def rfc3339(nanos: int) -> str:
    """Epoch nanos -> RFC3339 with all nine fraction digits."""
    from datetime import datetime, timezone

    secs, frac = divmod(nanos, SECOND)
    stamp = datetime.fromtimestamp(secs, tz=timezone.utc)
    return stamp.strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:09d}Z"


@dataclass
class Record:
    source: str
    time_nano: int
    line: str
    partial: bool = False
    meta: tuple | None = None  # (last, id, ordinal)

    def entry(self) -> LogEntry:
        pm = PartialMeta(*self.meta) if self.meta else None
        return LogEntry(source=self.source, time_nano=self.time_nano,
                        line=self.line.encode(), partial=self.partial,
                        partial_meta=pm)

    def json(self) -> dict:
        d = {"source": self.source, "time_nano": self.time_nano,
             "line": self.line, "partial": self.partial}
        if self.meta:
            d["partial_meta"] = dict(zip(("last", "id", "ordinal"), self.meta))
        return d


@dataclass
class Container:
    cid: str
    weight: float
    clock: int
    ts: list[int] = field(default_factory=list)      # stored ts, seq order
    lines: list[str] = field(default_factory=list)   # canonical lines
    dropped: int = 0  # rows below the live range (retention)

    @property
    def written(self) -> int:
        return len(self.ts)

    @property
    def live(self) -> int:
        return self.written - self.dropped


class Generator:
    """One seeded population of containers and their expected rows."""

    def __init__(self, seed: int, n_containers: int, zipf_s: float):
        self.rng = random.Random(seed)
        ranks = list(range(n_containers))
        self.rng.shuffle(ranks)
        self.containers = [
            # full 64-hex ids, as Docker sends them in Info.ContainerID
            Container(cid=f"{self.rng.getrandbits(256):064x}",
                      weight=1.0 / (r + 1) ** zipf_s,
                      clock=BASE_NANOS + self.rng.randrange(3600) * SECOND)
            for r in ranks]
        self.by_id = {c.cid: c for c in self.containers}
        self._writers: dict[tuple, object] = {}

    # -- sizes ---------------------------------------------------------------

    def split(self, total: int) -> dict[str, int]:
        """``total`` lines over the containers by Zipf weight (largest
        remainder, so the sum is exact and independent of the seed)."""
        wsum = sum(c.weight for c in self.containers)
        raw = [(total * c.weight / wsum, c.cid) for c in self.containers]
        out = {cid: int(x) for x, cid in raw}
        rest = total - sum(out.values())
        for _, cid in sorted(raw, key=lambda t: (int(t[0]) - t[0], t[1]))[:rest]:
            out[cid] += 1
        return out

    # -- records ---------------------------------------------------------------

    def _line(self, c: Container) -> str:
        r = self.rng.random()
        n = (self.rng.randint(24, 120) if r < 0.70 else
             self.rng.randint(120, 400) if r < 0.97 else
             self.rng.randint(400, 2048))
        head = f"{c.cid[:6]} n={c.written} "
        words = []
        size = len(head)
        while size < n:
            w = self.rng.choice(_WORDS)
            words.append(w)
            size += len(w) + 1
        return (head + " ".join(words))[:n]

    def records(self, cid: str, n: int, span_nanos: int) -> list[Record]:
        """``n`` records for one container covering ``span_nanos`` of its
        clock; updates the expected-row model."""
        c = self.by_id[cid]
        rng = self.rng
        mean_gap = max(1, span_nanos // max(n, 1))
        out: list[Record] = []
        pending = 0       # pieces left in the current partial run
        run_id = ""
        ordinal = 0
        while len(out) < n:
            # bursty arrivals: most lines land within the same second;
            # the mean step is mean_gap, so n lines cover span_nanos
            c.clock += (rng.randrange(1, 8 * mean_gap) if rng.random() < 0.25
                        else rng.randrange(1, 1000))
            ts = c.clock
            if rng.random() < LATE_FRAC:
                ts -= rng.randrange(1, 30) * SECOND
            if pending == 0 and n - len(out) >= 4 \
                    and rng.random() < PARTIAL_FRAC:
                pending = rng.randint(2, 4)
                run_id = f"{rng.getrandbits(32):08x}"
                ordinal = 0
            line = self._line(c)
            source = "stderr" if rng.random() < 0.1 else "stdout"
            if pending:
                ordinal += 1
                pending -= 1
                rec = Record(source, ts, line, partial=pending > 0,
                             meta=(pending == 0, run_id, ordinal))
            else:
                rec = Record(source, ts, line)
            out.append(rec)
            c.ts.append(ts)
            c.lines.append(line if line.endswith("\n") else line + "\n")
        return out

    def write_burst(self, spool_dir: str, fmt: str, sizes: dict[str, int],
                    span_nanos: int) -> int:
        """Write one spool file per container with lines; returns the
        bytes written."""
        import os

        total = 0
        for cid, n in sizes.items():
            if n <= 0:
                continue
            recs = self.records(cid, n, span_nanos)
            key = (spool_dir, fmt, cid)
            if key not in self._writers:
                cls = JsonlSpoolWriter if fmt == "jsonl" else SpoolWriter
                self._writers[key] = cls(spool_dir, cid)
            w = self._writers[key]
            path = w.write_burst(r.json() if fmt == "jsonl" else r.entry()
                                 for r in recs)
            total += os.path.getsize(path)
        return total

    # -- expectations ----------------------------------------------------------

    def expect_read(self, cid: str, since: int | None, until: int | None,
                    tail: int | None) -> tuple[int, str | None]:
        """(frame count, last line) a ReadLogs request must return."""
        c = self.by_id[cid]
        idx = range(c.dropped, c.written)
        if since is not None or until is not None:
            lo = since if since is not None else -1
            hi = until if until is not None else 1 << 63
            idx = [i for i in idx if lo <= c.ts[i] <= hi]
        else:
            idx = list(idx)
        if tail is not None and tail >= 1:
            idx = idx[-tail:]
        return len(idx), (c.lines[idx[-1]] if idx else None)

    def window(self, cid: str, lines: int) -> tuple[int, int]:
        """A Since/Until window over ``lines`` consecutive stored
        timestamps of ``cid`` at a seeded position, so the rows a request
        returns, and its cost, do not depend on where the seed puts it."""
        c = self.by_id[cid]
        srt = sorted(c.ts[c.dropped:])
        start = self.rng.randrange(len(srt) - lines + 1)
        return srt[start], srt[start + lines - 1]
