"""The streaming upsert feed of the ``table_ops`` workload.

A structured-streaming query reads the ``iceberg_table`` source on a
bronze table and writes the ``iceberg_table`` sink in ``upsert`` mode
(retractions through ``delete_column``) into a gold table keyed on ``k``.
A wave appends seeded keyed rows to bronze (updates, retractions and
inserts, at most one row per key) and then waits for
``processAllAvailable()``.  Its freshness is the time from the return of
the bronze commit to the return of ``processAllAvailable()``.  Gold is
compared with a last-write-wins model.

The query runs only during the feed's phase of a round and is stopped
before the table operations: while no data waits it polls the source
about every 10 ms, and each poll reloads the bronze metadata.  Measured
on 4 cores that polling costs 0.28 CPU-s/s and slows a small append by
~20%, so it must not run beside the table operations.  Stopping takes
milliseconds; a restart costs ~2.5 s, so a round starts with the waves
and only a round after the first restarts the query.
"""

from __future__ import annotations

import os
import random

from perfbench.harness import Run

N_KEYS = 1_000
WAVE_ROWS = 100
# shares of a wave: updates of live keys, retractions of live keys, the
# rest inserts of new keys
UPDATE_SHARE, RETRACT_SHARE = 0.6, 0.2


def wave_rows(rng: random.Random, live: dict[int, int], next_key: list[int]) -> list[dict]:
    n_upd, n_del = int(WAVE_ROWS * UPDATE_SHARE), int(WAVE_ROWS * RETRACT_SHARE)
    picked = rng.sample(list(live), n_upd + n_del)
    rows = [{"k": k, "v": rng.randrange(10**9), "op_del": False} for k in picked[:n_upd]]
    rows += [{"k": k, "v": 0, "op_del": True} for k in picked[n_upd:]]
    for _ in range(WAVE_ROWS - n_upd - n_del):
        next_key[0] += 1
        rows.append({"k": next_key[0], "v": rng.randrange(10**9), "op_del": False})
    rng.shuffle(rows)
    return rows


def apply_rows(model: dict[int, int], rows: list[dict]) -> None:
    for r in rows:
        if r["op_del"]:
            model.pop(r["k"], None)
        else:
            model[r["k"]] = r["v"]


class StreamFeed:
    """Bronze and gold tables, the query and the gold model.  The
    constructor starts the query and commits the initial keys to bronze;
    the query's first triggers (Python data source runners) and the
    initial batch then run on Spark's stream thread while the caller sets
    up other things."""

    def __init__(self, run: Run, cat, rng: random.Random):
        from iceberg_ruby_spark.streaming import register_stream_source

        self.run, self.rng = run, rng
        self.bronze = cat.create_table(
            "bench.bronze", schema={"k": "long", "v": "long", "op_del": "boolean"}
        )
        gold = cat.create_table("bench.gold", schema={"k": "long", "v": "long"})
        gold.update_schema().set_identifier_fields("k").commit()
        self.gold = gold.refresh()
        register_stream_source(run.spark)
        self.model: dict[int, int] = {}
        self.next_key = [0]
        self.batch_ms: list[float] = []
        self.query = None
        self.resume()
        initial = []
        for _ in range(N_KEYS):
            self.next_key[0] += self.rng.randint(1, 3)
            initial.append({"k": self.next_key[0], "v": self.rng.randrange(10**9), "op_del": False})
        self._commit(initial)

    def resume(self) -> None:
        """Start the query unless it runs; it resumes from its checkpoint."""
        if self.query is not None and self.query.isActive:
            return
        self.query = (
            self.run.spark.readStream.format("iceberg_table")
            .option("location", self.bronze.ops.location)
            .load()
            .writeStream.format("iceberg_table")
            .option("location", self.gold.ops.location)
            .option("mode", "upsert")
            .option("delete_column", "op_del")
            .option("checkpointLocation", os.path.join(self.run.run_dir, "checkpoint"))
            .start()
        )

    def pause(self) -> None:
        """Stop the query, so that it no longer polls the source."""
        exc = self.query.exception()
        self.run.check("stream query", exc is None, str(exc))
        self.query.stop()

    def _commit(self, rows: list[dict]) -> None:
        self.bronze.append(rows)
        apply_rows(self.model, rows)

    def wave(self, timed: bool) -> None:
        """One wave; timed, the commit and the freshness are two
        operations of the run."""
        rows = wave_rows(self.rng, self.model, self.next_key)
        if not timed:
            self._commit(rows)
            self.query.processAllAvailable()
            return
        self.run.timed("bronze_commit", lambda: self._commit(rows))
        self.run.timed("freshness", self.query.processAllAvailable)
        if self.run.trace:
            p = self.query.lastProgress or {}
            self.batch_ms.append((p.get("durationMs") or {}).get("triggerExecution", 0))

    def check_gold(self) -> None:
        gold = self.gold.refresh()
        rows = self.run.guarded("gold read", gold.to_a)
        if rows is not None:
            got = {r["k"]: r["v"] for r in rows}
            self.run.check(
                "gold vs last-write-wins model",
                len(got) == len(rows) and got == self.model,
                f"{len(rows)} rows vs {len(self.model)} in the model",
            )
        self.run.layer["streaming.eq_deletes_live"] = float(
            sum(1 for e in gold._current_entries() if e.get("content") == "equality-deletes")
        )

    def layers(self, per_span) -> None:
        """streaming.* per-layer metrics from the spans of a traced run."""
        run = self.run
        fresh = [o.span for o in run.ops if o.kind == "freshness" and o.span]
        n = max(1, len(fresh))
        run.layer.update({
            "streaming.freshness_p50_ms": run.kind_p50("freshness"),
            "streaming.bronze_commit_ms": run.kind_p50("bronze_commit"),
            "streaming.batch_ms": sum(self.batch_ms) / max(1, len(self.batch_ms)),
            "streaming.batch_jobs": sum(per_span[s.span_id]["spark.jobs"] for s in fresh) / n,
            "streaming.driver_ms": sum(per_span[s.span_id]["gap_ms"] for s in fresh) / n,
        })
