"""``table_ops``: one client drives engine tables through the catalog,
table and streaming APIs, reads interleaved with writes.

The main table gets a seeded bulk load with a unique key ``k`` in
ascending order, which Spark slices into one file per core with disjoint
key ranges, so that a point filter prunes to one file.  Each round is
the same fixed mix in a seeded order: small row appends, point lookups
(scan + filter, ``plan_files``, read), a merge-on-read point delete, a
merge-on-read ``merge_into`` upsert and a copy-on-write range delete.
Before them, each round has a phase of waves through the streaming
upsert feed (``w_stream``), whose query is stopped before the table
operations.  In-process models check every lookup and the final states.
After the timed section, ``compact`` + ``expire_snapshots`` +
``remove_orphan_files`` run once and the state is checked again.
"""

from __future__ import annotations

import json
import os
import random
import time

from perfbench.harness import Run, log
from perfbench.trace import tree_files
from perfbench.w_stream import StreamFeed

N_BULK = 20_000
APPEND_ROWS = 20
UPSERT_ROWS = 10
# ~17 s on 4 cores: one round fills a run, and every kind but the two
# slowest mutations gets at least two samples for its median
ROUND = ("append",) * 3 + ("lookup",) * 5 + ("delete_mor",) * 2 + ("upsert_mor", "delete_cow")
# every fifth lookup asks for a key the table never held; a fixed share,
# not a seeded draw, keeps the lookup median on the hits
MISS_EVERY = 5
WAVES = 3
KINDS = tuple(sorted(set(ROUND)))
SCHEMA = {"k": "long", "v": "long", "pad": "string"}


class Model:
    """The rows the table must hold: key -> (v, pad)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.rows: dict[int, tuple[int, str]] = {}
        self.next_key = 0
        self.ingested_bytes = 0

    def fresh(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            self.next_key += self.rng.randint(1, 5)
            k = self.next_key
            out.append({"k": k, "v": self.rng.randrange(10**6), "pad": f"p{self.rng.getrandbits(48):012x}"})
        return out

    def apply(self, rows: list[dict]) -> None:
        for r in rows:
            self.rows[r["k"]] = (r["v"], r["pad"])
            self.ingested_bytes += 16 + len(r["pad"])

    def any_key(self) -> int:
        return self.rng.choice(list(self.rows))

    def expect(self, key: int) -> list[dict]:
        """What a point lookup of ``key`` must return now."""
        if key not in self.rows:
            return []
        v, pad = self.rows[key]
        return [{"k": key, "v": v, "pad": pad}]


def _df(spark, rows: list[dict]):
    import pyarrow as pa

    tbl = pa.table({
        "k": pa.array([r["k"] for r in rows], pa.int64()),
        "v": pa.array([r["v"] for r in rows], pa.int64()),
        "pad": pa.array([r["pad"] for r in rows], pa.string()),
    })
    return spark.createDataFrame(tbl.to_pandas())


def _live(entries: list[dict]) -> tuple[list[dict], list[dict]]:
    data = [e for e in entries if "path" in e]
    deletes = [e for e in entries if "path" not in e]
    return data, deletes


def run_table_ops(run: Run):
    """Run the workload; returns the traced run's per-layer folder."""
    from iceberg_ruby_spark.catalog import MemoryCatalog

    run.start_session()
    spark, tr = run.spark, run.tracer
    rng = random.Random(run.seed)
    model = Model(rng)
    cat = MemoryCatalog(os.path.join(run.run_dir, "warehouse"), namespace="bench", spark=spark)
    cat.create_namespace("bench")
    t0 = time.perf_counter()
    t = cat.create_table("bench.t", schema=SCHEMA)
    run.layer["catalog.create_table_ms"] = (time.perf_counter() - t0) * 1000.0
    feed = StreamFeed(run, cat, random.Random(run.seed + 1))

    bulk = model.fresh(N_BULK)
    t0 = time.perf_counter()
    t.append(_df(spark, bulk))
    model.apply(bulk)
    log(f"table_ops: bulk load {time.perf_counter() - t0:.1f}s")

    def append() -> None:
        rows = model.fresh(APPEND_ROWS)
        t.append(rows)
        model.apply(rows)

    # (key, rows read, rows the model held when the read returned)
    lookups: list[tuple[int, list[dict], list[dict]]] = []
    files_planned = run.detail["files_planned"] = []

    def lookup() -> None:
        miss = len(files_planned) % MISS_EVERY == MISS_EVERY - 1
        key = model.next_key + 1 if miss else model.any_key()
        with tr.span("table.plan_files"):
            scan = t.scan().filter(f"k = {key}")
            planned = scan.plan_files()
        with tr.span("table.read"):
            got = scan.to_a()
        lookups.append((key, got, model.expect(key)))
        files_planned.append(len(planned))

    def delete_mor() -> None:
        key = model.any_key()
        t.delete_where(f"k = {key}", mode="merge-on-read")
        model.rows.pop(key)

    def upsert_mor() -> None:
        keys = rng.sample(list(model.rows), UPSERT_ROWS - 3)
        rows = [
            {"k": k, "v": rng.randrange(10**6), "pad": f"u{rng.getrandbits(48):012x}"}
            for k in keys
        ] + model.fresh(3)
        t.merge_into(
            _df(spark, rows), on="k",
            when_matched_update={"v": "s.v", "pad": "s.pad"}, mode="merge-on-read",
        )
        model.apply(rows)

    def delete_cow() -> None:
        lo = model.any_key()
        hi = lo + 8
        t.delete_where(f"k >= {lo} AND k < {hi}", mode="copy-on-write")
        for k in [k for k in model.rows if lo <= k < hi]:
            model.rows.pop(k)

    ops = {"append": append, "lookup": lookup, "delete_mor": delete_mor,
           "upsert_mor": upsert_mor, "delete_cow": delete_cow}
    t0 = time.perf_counter()
    # warm-up: the first operation of each kind, untimed
    for kind in KINDS:
        run.guarded(f"warm {kind}", ops[kind])
    # the query keeps running from here into the first round's waves
    feed.query.processAllAvailable()
    feed.wave(timed=False)
    _check_lookups(run, lookups)
    run.sample_workers()
    log(f"table_ops: warm-up {time.perf_counter() - t0:.1f}s")

    loc = t.location
    before = tree_files(loc) if run.trace else {}
    ingest_at_start = model.ingested_bytes
    order = list(ROUND)
    load_ms: list[float] = []
    manifest_ms: list[float] = []

    def one_round(i: int) -> None:
        feed.resume()
        for _ in range(WAVES):
            feed.wave(timed=True)
        feed.pause()
        rng.shuffle(order)
        for n, kind in enumerate(order):
            run.timed(kind, ops[kind])
            _check_lookups(run, lookups)
            if run.trace and n % 3 == 2:
                # sampled between operations: catalog load as the
                # metadata log grows, and a full manifest read
                a = time.perf_counter()
                fresh = cat.load_table("bench.t")
                load_ms.append((time.perf_counter() - a) * 1000.0)
                a = time.perf_counter()
                fresh.ops.read_manifest(fresh.current_snapshot().manifest_list)
                manifest_ms.append((time.perf_counter() - a) * 1000.0)

    run.loop(one_round)
    feed.check_gold()
    log(f"table_ops: {len(run.ops)} operations in {run.detail['rounds']} rounds")

    t = t.refresh()
    entries = t._current_entries()
    data, deletes = _live(entries)
    total_bytes = sum(tree_files(loc).values())
    live_bytes = sum(os.path.getsize(e["path"]) for e in data)
    if run.trace:
        after = tree_files(loc)
        written = {p: s for p, s in after.items() if before.get(p) != s}
        meta_bytes = sum(tree_files(os.path.join(loc, "metadata")).values())
        run.layer.update({
            "io.bytes_written": float(sum(written.values())),
            "io.files_written": float(len(written)),
            "io.metadata_bytes": float(meta_bytes),
            "io.bytes_per_live_byte": total_bytes / max(1, live_bytes),
            "catalog.load_table_ms": _mean(load_ms),
            "manifests.read_ms": _mean(manifest_ms),
            "manifests.entries": float(len(entries)),
            "manifests.segments": float(_segments(t)),
            "table.delete_entries_live": float(len(deletes)),
            "table.files_planned_ratio": _mean(files_planned) / max(1, len(data)),
        })
        run.layer["io.write_amp"] = sum(written.values()) / max(
            1, model.ingested_bytes - ingest_at_start
        )
    run.detail["live_files"] = len(data)
    run.detail["bytes_per_live_byte"] = total_bytes / max(1, live_bytes)

    _check_state(run, "state after the timed section", t, model)
    # CoW rewrites leave unreferenced files until maintenance; a count of
    # 0 here would mean the orphan check below cannot see anything
    run.detail["orphans_before_maintenance"] = len(_orphans(t))
    a = time.perf_counter()
    ok = run.guarded("maintenance", lambda: _maintain(t))
    run.layer["table.maintain_s"] = time.perf_counter() - a
    if ok is not None:
        t = t.refresh()
        _check_state(run, "state after maintenance", t, model)
        orphans = _orphans(t)
        run.layer["io.orphan_files"] = float(len(orphans))
        run.check("orphan files", not orphans, f"{len(orphans)} unreferenced files remain")

    def layers(per_span) -> None:
        _table_layers(run, per_span)
        feed.layers(per_span)

    return layers


def _table_layers(run: Run, per_span) -> None:
    """table.* per-layer metrics from the spans of a traced run."""

    def jobs_per(kind: str) -> float:
        js = [per_span[o.span.span_id]["spark.jobs"] for o in run.ops if o.kind == kind and o.span]
        return _mean(js)

    run.layer.update({
        "table.append_ms": run.kind_p50("append"),
        "table.append_jobs": jobs_per("append"),
        "table.lookup_ms": run.kind_p50("lookup"),
        "table.delete_mor_ms": run.kind_p50("delete_mor"),
        "table.upsert_mor_ms": run.kind_p50("upsert_mor"),
        "table.delete_cow_ms": run.kind_p50("delete_cow"),
        "table.mutate_jobs": _mean([jobs_per(k) for k in ("delete_mor", "upsert_mor", "delete_cow")]),
    })
    for name in ("table.plan_files", "table.read"):
        ds = [s.dur_ms for s in run.tracer.spans if s.name == name]
        run.layer[name + "_ms"] = _mean(ds)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _segments(t) -> int:
    snap = t.current_snapshot()
    lst = snap.manifest_list
    path = lst if os.path.isabs(lst) else os.path.join(t.location, lst)
    if not path.endswith(".json"):
        return 0
    with open(path, encoding="utf-8") as fh:
        return len(json.load(fh).get("segments", []))


def _check_lookups(run: Run, lookups: list) -> None:
    while lookups:
        key, got, want = lookups.pop()
        run.check(f"lookup k={key}", got == want, f"got {got!r:.120} want {want!r:.120}")


def _check_state(run: Run, what: str, t, model: Model) -> None:
    rows = run.guarded(what, t.to_a)
    if rows is None:
        return
    got = {r["k"]: (r["v"], r["pad"]) for r in rows}
    run.check(
        what, len(rows) == len(got) and got == model.rows,
        f"{len(rows)} rows vs {len(model.rows)} in the model",
    )


def _maintain(t) -> bool:
    t.compact()
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files()
    return True


def _orphans(t) -> list[str]:
    """Data or delete files under the table that no live entry references."""
    live = set()
    for e in t._current_entries():
        for key in ("path", "delete-file"):
            if key in e:
                live.add(os.path.normpath(e[key]))
    meta = os.path.join(t.location, "metadata")
    out = []
    for p in tree_files(t.location):
        if p.startswith(meta) or not p.endswith((".parquet", ".puffin")):
            continue
        q = os.path.normpath(p)
        if q not in live and os.path.dirname(q) not in live:
            out.append(p)
    return out
