"""Timing wrappers the traced run installs around engine entry points.

Each wrapper records a span named after the layer it enters; the
``on_call`` hooks count work where it happens. Functions are patched on
the module or class that callers look them up on at call time, so the
engine's own code paths run through the wrappers unchanged.
"""

from __future__ import annotations


def install(tracer) -> None:
    if not tracer.enabled:
        return
    from logsqlite_spark import api, server, table
    from logsqlite_spark.operators import compact, read, retention, wire
    from logsqlite_spark.streaming import ingest

    def count_files(args, kw, _out) -> None:
        manifest = args[2] if len(args) > 2 else kw.get("manifest")
        if manifest is not None:
            tracer.count("table.read_df_files", len(manifest.get("files", ())))
        tracer.count("table.read_df_calls")

    def count_resync(_args, kw, _out) -> None:
        if kw.get("cursor") is not None:
            tracer.count("api.follow_tail.resyncs")

    def count_emit(_args, _kw, rows) -> None:
        tracer.count("api.follow_tail.emits")
        tracer.count("api.follow_tail.rows", len(rows))

    def count_retention(_args, _kw, out) -> None:
        tracer.count("operators.retention.rows_dropped",
                     out.get("deleted_rows", 0))
        tracer.count("table.commit_conflicts", 1 if out.get("conflict") else 0)

    def count_compact(_args, _kw, out) -> None:
        tracer.count("operators.compact.files_before", out["files_before"])
        tracer.count("operators.compact.files_after", out["files_after"])
        tracer.count("table.commit_conflicts", out["conflicts"])

    tracer.wrap(ingest, "ingest_spool_once", "streaming.ingest.pull")
    tracer.wrap(table.ManifestTable, "adopt_staged", "table.adopt_staged")
    tracer.wrap(table.ManifestTable, "commit_append", "table.commit_append")
    tracer.wrap(table.ManifestTable, "read_df", "table.read_df",
                on_call=count_files)
    tracer.wrap(table.ManifestTable, "gc", "table.gc")
    tracer.wrap(retention, "apply_retention", "operators.retention",
                on_call=count_retention)
    tracer.wrap(compact, "compact_container", "operators.compact",
                on_call=count_compact, group="pb:compact:")
    tracer.wrap(api.Engine, "read_logs", "api.read_logs")
    tracer.wrap(api.Engine, "follow_tail", "api.follow_tail", generator=True,
                on_call=count_emit)
    tracer.wrap(read, "read_logs", "operators.read", on_call=count_resync)
    tracer.wrap(wire, "stream_wire_frames", "operators.wire.stream",
                generator=True)

    orig = server._Handler.__dict__["_read_logs"]

    def handler(self, eng, body):
        """One ReadLogs request: a span tagged with the client's request
        id, with the request's Spark jobs under the job group
        ``pb:read:<id>`` (set on the handler's own thread)."""
        req = body.get("BenchReq")
        if req is None:  # Follow requests run for the whole phase
            return orig(self, eng, body)
        with tracer.span("server.read_logs", req=req, group=f"pb:read:{req}"):
            return orig(self, eng, body)

    server._Handler._read_logs = handler


def manifest_bytes(table) -> int:
    """Bytes of the current manifest head plus the chunks it lists."""
    head = table.head()
    gen = head.get("generation", 0)
    path = table.manifests / f"{gen:08d}.json"
    total = path.stat().st_size if path.exists() else 0
    for name in head.get("file_chunks", ()):
        p = table._chunks_dir() / name
        if p.exists():
            total += p.stat().st_size
    return total
