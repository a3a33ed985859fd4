"""The ``pipeline-ingest`` workload: wire files -> streaming landing -> dashboard.

Phases, in order:

1. Encode (untimed): events in event-time order are dealt into wire
   files of ``records`` rows by ``sources.sinks.write_keyed_wire``, keyed
   by file number.  Within each slice of ``slice_files`` consecutive
   files the seed decides which file gets which event.
2. Open loop: a release thread moves one wire file into the watched
   directory every ``period`` seconds, whether or not the stream keeps
   up, while ``json_wire_stream`` + ``land_parquet`` land them.  A file's
   event-to-queryable latency is the time its micro-batch's entry in the
   sink's ``_spark_metadata`` log was written (when readers can see the
   rows) minus the time the file was due.
3. Drain: every wire file is landed again from scratch, one file per
   micro-batch (``max_files_per_trigger=1``, ``availableNow``).
4. The landed tables must hold exactly the released rows, once each.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import spans

PKG = "severless_data_pipeline_aws_spark"
COLUMNS = "event_id, ts, user_id, event_type, value, props"
USERS = 150
DEADLINE_S = 60.0


def _log_entries(log_dir: str) -> list[tuple[str, list[str]]]:
    """(file name, JSON lines) of a streaming metadata log; temp and checksum files skipped."""
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            out.append((name, [ln for ln in f.read().splitlines()[1:] if ln.strip()]))
    return out


def source_batches(checkpoint: str) -> dict[str, int]:
    """Wire file name -> id of the micro-batch that read it (from the file source's log)."""
    out = {}
    for _, lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for line in lines:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def visible_times(land: str) -> dict[int, float]:
    """Batch id -> time its entry in the sink's ``_spark_metadata`` log was written."""
    meta = os.path.join(land, "_spark_metadata")
    return {int(name.split(".")[0]): os.stat(os.path.join(meta, name)).st_mtime for name, _ in _log_entries(meta)}


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Ingest:
    def __init__(self, bench, period: float, records: int, slice_files: int):
        self.b, self.period, self.records, self.slice_files = bench, period, records, slice_files
        self.n_files = max(2, round(bench.args.seconds / 2 / period))
        self.n_files += -self.n_files % slice_files
        w = bench.work
        self.src = os.path.join(w, "wire-src")
        self.wire = os.path.join(w, "wire")
        self.watched = os.path.join(w, "watched")
        self.dash = os.path.join(w, "dash")
        self.land = os.path.join(self.dash, "events.parquet")
        self.drain_land = os.path.join(w, "drain-land")
        self.stats: dict = {}

    def encode(self) -> None:
        """Write the events once as wire files, keyed by file number."""
        b = self.b
        rng = np.random.default_rng([b.args.seed, 1])
        n = self.n_files * self.records
        events = datagen.events_table(rng, n, USERS)
        per_slice = self.slice_files * self.records
        file_no = np.empty(n, np.int64)
        for lo in range(0, n, per_slice):
            deal = np.repeat(np.arange(self.slice_files), self.records)
            file_no[lo:lo + per_slice] = lo // self.records + rng.permutation(deal)
        os.makedirs(self.src)
        pq.write_table(events.append_column("wire_file", pa.array(file_no)), os.path.join(self.src, "events.parquet"))
        self.events_path = os.path.join(self.src, "events.parquet")

        sinks = importlib.import_module(f"{PKG}.sources.sinks")
        df = b.io.load_table(b.spark, self.src, "events")
        with b.tracer.span("sources.sinks.write_keyed_wire", op="encode") as sid:
            sinks.write_keyed_wire(df, self.wire, key="wire_file")
        sp = b.tracer.spans[sid[0]]
        self.stats["wire_write_s"] = sp["end"] - sp["start"]
        self.files = []
        for k in range(self.n_files):
            shard = os.path.join(self.wire, f"__shard={k}")
            parts = [p for p in os.listdir(shard) if p.startswith("part-")]
            if len(parts) != 1:  # the sink writes each key's records to one file
                raise RuntimeError(f"{shard}: expected one wire file, found {len(parts)}")
            self.files.append(os.path.join(shard, parts[0]))
        self.stats["wire_bytes"] = sum(os.path.getsize(f) for f in self.files)

    def _stream(self, land: str, checkpoint: str, max_files: int | None = None):
        pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")
        stream = pipeline.json_wire_stream(self.b.spark, self.watched, max_files_per_trigger=max_files)
        return pipeline.land_parquet(stream, land, checkpoint)

    def open_loop(self) -> None:
        """Release one file every ``period`` seconds while the stream lands them."""
        b, tr = self.b, self.b.tracer
        os.makedirs(self.watched)
        ckpt = os.path.join(b.work, "ckpt-open")
        query = self._stream(self.land, ckpt).start()
        due = [time.time() + self.period * (k + 1) for k in range(self.n_files)]
        released: list[float] = [0.0] * self.n_files
        names = [f"{k:05d}.json" for k in range(self.n_files)]

        def release() -> None:
            for k, path in enumerate(self.files):
                time.sleep(max(0.0, due[k] - time.time()))
                os.rename(path, os.path.join(self.watched, names[k]))
                released[k] = time.time()

        with tr.span("streaming.pipeline.open_loop", op="open-loop") as ol:
            thread = threading.Thread(target=release, name="wire-release")
            thread.start()
            thread.join()
            deadline = time.time() + DEADLINE_S
            while True:
                batch_of = source_batches(ckpt)
                visible = visible_times(self.land)
                done = [n for n in names if batch_of.get(n) in visible]
                if len(done) == len(names) or time.time() > deadline or query.exception() is not None:
                    break
                time.sleep(0.05)
            if len(done) == len(names):
                query.processAllAvailable()  # the last batch's progress is posted after its commit
        b.attempted += self.n_files
        prog = progress(query) if tr.enabled else []
        query.stop()
        missing = len(names) - len(done)
        if missing:
            b.failed += missing
            b.errors.append(f"open loop: {missing} of {len(names)} wire files not landed within {DEADLINE_S} s")
        lat = [visible[batch_of[n]] - due[k] for k, n in enumerate(names) if n in done]
        backlog = max(sum(1 for j in range(k + 1) if names[j] not in done or visible[batch_of[names[j]]] > released[k])
                      for k in range(self.n_files))
        self.stats.update(
            latencies=lat,
            release_lag_max_s=max(r - d for r, d in zip(released, due)),
            backlog_files_max=backlog,
            open_progress=prog,
        )
        for k, n in enumerate(names):
            tr.add(f"release:{n}", due[k], released[k], parent=ol[0], op="open-loop")
        for p in prog:
            start = _epoch(p["timestamp"])
            tr.add(f"batch:{p['batchId']}", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                   parent=ol[0], op="open-loop")

    def drain(self) -> None:
        """Land the whole backlog again, one file per micro-batch."""
        b = self.b
        query = self._stream(self.drain_land, os.path.join(b.work, "ckpt-drain"), max_files=1)
        with b.tracer.span("streaming.pipeline.drain", op="drain") as sid:
            query = query.trigger(availableNow=True).start()
            finished = query.awaitTermination(DEADLINE_S)
        b.attempted += 1
        if not finished or query.exception() is not None:
            query.stop()
            b.failed += 1
            b.errors.append(f"drain did not finish within {DEADLINE_S} s: {query.exception()}")
        prog = progress(query) if b.tracer.enabled else []
        for p in prog:
            start = _epoch(p["timestamp"])
            b.tracer.add(f"batch:{p['batchId']}", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                         parent=sid[0], op="drain")
        sp = b.tracer.spans[sid[0]]
        self.stats.update(drain_s=sp["end"] - sp["start"], drain_progress=prog)

    def check_landed(self) -> None:
        """Each landed table must hold exactly the released rows, once each."""
        import duckdb

        b = self.b
        con = duckdb.connect(config={"temp_directory": os.path.join(b.work, "duckdb"), "threads": 4})
        want = f"SELECT {COLUMNS} FROM read_parquet('{self.events_path}')"
        for land in (self.land, self.drain_land):
            got = f"SELECT {COLUMNS} FROM read_parquet('{land}/*.parquet')"
            b.attempted += 1
            try:
                diff, rows = con.execute(
                    f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
                    f"(SELECT count(*) FROM ({want} EXCEPT ALL {got})), (SELECT count(*) FROM ({got}))"
                ).fetchone()
            except duckdb.Error as exc:  # nothing landed
                diff, rows = repr(exc), 0
            if diff:
                b.failed += 1
                b.errors.append(f"{land}: {rows} rows landed, {diff} differ from the released rows")
        con.close()

    def dashboard_dir(self) -> str:
        """An sf directory whose ``events`` is the landed stream; other tables link to the generated ones."""
        for name in os.listdir(self.b.data):
            if name != "events.parquet":
                os.symlink(os.path.join(self.b.data, name), os.path.join(self.dash, name))
        return self.dash

    def summary(self) -> dict:
        lat = self.stats["latencies"] or [0.0]
        t_val, t_pct, t_n = spans.tail(lat)
        return {
            "event_to_queryable_p50_s": statistics.median(lat),
            "event_to_queryable_tail_s": t_val,
            "event_to_queryable_tail_pct": t_pct,
            "files": t_n,
            "records_per_file": self.records,
            "release_period_s": self.period,
            "release_lag_max_s": self.stats["release_lag_max_s"],
            "backlog_files_max": self.stats["backlog_files_max"],
            "drain_records_per_s": self.n_files * self.records / self.stats["drain_s"],
            "wire_write_s": self.stats["wire_write_s"],
        }

    def per_layer(self, layer: dict) -> None:
        s, summ = self.stats, self.summary()
        data = [p for p in s["open_progress"] if p["numInputRows"] > 0]
        drain = [p for p in s["drain_progress"] if p["numInputRows"] > 0]
        te = [p["durationMs"]["triggerExecution"] / 1000.0 for p in data]
        ab = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in data]
        files, size = 0, 0
        for name in os.listdir(self.land):
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(self.land, name))
        P = "streaming.pipeline."
        layer.update({
            "sources.sinks.wire_write_s": s["wire_write_s"],
            "sources.sinks.wire_bytes": s["wire_bytes"],
            P + "batches": len(data),
            P + "files_per_batch": self.n_files / len(data) if data else 0.0,
            P + "batch_p50_s": statistics.median(te) if te else 0.0,
            P + "overhead_s": statistics.median(t - a for t, a in zip(te, ab)) if te else 0.0,
            P + "add_batch_s": statistics.median(p["durationMs"].get("addBatch", 0) / 1000.0 for p in drain) if drain else 0.0,
            P + "backlog_files_max": s["backlog_files_max"],
            P + "input_rows": sum(p["numInputRows"] for p in data),
            P + "landed_files": files,
            P + "landed_bytes": size,
            P + "event_to_queryable_p50_s": summ["event_to_queryable_p50_s"],
            P + "event_to_queryable_tail_s": summ["event_to_queryable_tail_s"],
            P + "drain_records_per_s": summ["drain_records_per_s"],
        })
