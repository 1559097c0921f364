"""The two workloads. Each provides the same hooks, which ``run.py`` calls:

* ``inputs(run)`` and ``warmup(run)``: the end of set-up, so part of
  ``setup_s``;
* ``check(run)``: untimed output checks that need a warm session;
* ``round(run, r)``: one timed round, returning ``{step: seconds}``, or
  None when the round failed; a run times at least ``min_rounds`` rounds;
* ``teardown(run)``: untimed checks after the rounds;
* ``layers(run)``: the workload's per-layer values.
"""

from __future__ import annotations

import os
import random
import time

from . import datagen
from .handlers import Recorder, delivery_problems, read_calls
from .metrics import FACES, STREAM_PHASES
from .oracle import OracleCache, digest, mismatch
from .tracing import median


class Drain:
    """Catch-up over a backlog: one bulk ``produce_df`` into a fresh log,
    then a ``strict`` and a ``by_key`` consumer group each drain it with
    ``run_once``."""

    name = "drain"
    steps = ("produce", "strict", "by_key")
    #: timed rounds per run, at least: a median of three shrugs off one
    #: round slowed by a burst of other load
    min_rounds = 3
    #: untimed rounds before them: the first drain of a fresh JVM runs
    #: about twice as long as the later ones
    check_rounds = 1
    #: messages in the timed backlog, and in the warm-up backlog
    BACKLOG = 40_000
    WARM = 2_000

    def __init__(self) -> None:
        self.ctx_order: list[str] = []
        self.files: list[int] = []
        self.calls: dict[str, list[int]] = {"strict": [], "by_key": []}
        self.handler_s: dict[str, list[float]] = {"strict": [], "by_key": []}
        self.pending = 0
        self.dead = 0
        self.stop_clean = 0
        self.stack_overflows = 0

    def inputs(self, run) -> None:
        from redix_stream_spark.streaming.log import MESSAGE_SCHEMA

        root = run.path("inputs")
        self.ids = datagen.write_backlog(run.seed, self.BACKLOG, f"{root}/backlog").column("id").to_pylist()
        self.warm_ids = (
            datagen.write_backlog(run.seed + 1, self.WARM, f"{root}/warm").column("id").to_pylist()
        )
        self.backlog = lambda: run.spark.read.schema(MESSAGE_SCHEMA).parquet(f"{root}/backlog")
        self.warm_backlog = lambda: run.spark.read.schema(MESSAGE_SCHEMA).parquet(f"{root}/warm")

    def _consumer(self, log, root: str, group: str, ordering: str, out_dir=None):
        from redix_stream_spark.streaming.consumer import Consumer

        return Consumer(log, Recorder(out_dir), root, group_name=group, ordering=ordering)

    def warmup(self, run) -> None:
        """A bulk append of the small warm-up backlog. The drains warm up in
        ``check``, which is untimed and outside set-up."""
        from redix_stream_spark.streaming.log import EventLog

        self.warm_log = EventLog(f"{run.path('warm')}/log")
        self.warm_log.produce_df(self.warm_backlog())

    def check(self, run) -> None:
        """Untimed rounds before the timed ones: they warm the JIT and the
        Python workers further than the set-up warm-up, and their
        deliveries are checked like every round's."""
        for c in range(self.check_rounds):
            self._round(run, f"check{c}", timed=False)

    def round(self, run, r: int) -> dict[str, float] | None:
        return self._round(run, r, timed=True)

    def _round(self, run, r, timed: bool) -> dict[str, float] | None:
        from redix_stream_spark.streaming.log import EventLog

        root = run.path(f"round{r}")
        log = EventLog(f"{root}/log")
        out = {}

        def do(name, fn):
            if timed:
                return run.step(name, f"drain.{name}", fn, out)
            return run.op(f"check {name}", lambda: fn() or True)

        if do("produce", lambda: log.produce_df(self.backlog())) is None:
            return None
        calls_dir = run.path(f"round{r}/calls")
        groups = {
            "strict": self._consumer(log, root, "strict", "strict"),
            "by_key": self._consumer(log, root, "by_key", "by_key", calls_dir),
        }
        for ctx, c in groups.items():
            self.ctx_order.append(ctx if timed else f"check.{ctx}")
            if do(ctx, lambda c=c: c.run_once(run.spark)) is None:
                return None
            calls = c.handler.calls if ctx == "strict" else read_calls(calls_dir)
            if timed:
                self.calls[ctx].append(len(calls))
                self.handler_s[ctx].append(sum(x[3] for x in calls) / 1e9)
            for p in delivery_problems(calls, self.ids, strict=ctx == "strict"):
                run.fail(f"round {r} {ctx}: {p}")
        if timed:
            self.files.append(sum(n.endswith(".parquet") for n in os.listdir(log.path)))
        self.last_groups = groups
        return out

    def _ack_state(self, run) -> None:
        """pending() and dead_letters() are empty and every message is
        acked, for both groups of the last round (Spark jobs, so checked
        once per run rather than every round)."""
        for ctx, c in self.last_groups.items():
            pending = c.pending(run.spark).count()
            dead = c.dead_letters(run.spark).count()
            acked = c.acked(run.spark).count()
            self.pending += pending
            self.dead += dead
            if pending or dead or acked != len(self.ids):
                run.fail(f"{ctx}: pending={pending} dead={dead} acked={acked}")

    def teardown(self, run) -> None:
        """A continuous ``run_forever`` consumer over the warm-up log, then
        ``stop_gracefully``: checks the stop path and whether the stream
        thread logs an error while stopping."""
        from redix_stream_spark.streaming.consumer import Consumer

        run.op("ack state", lambda: self._ack_state(run))
        c = self._consumer(self.warm_log, run.path("forever"), "forever", "strict")
        self.ctx_order.append("forever")

        def go():
            q = c.run_forever(run.spark, poll_seconds=0.5)
            deadline = time.monotonic() + 60
            while len(c.handler.calls) < len(self.warm_ids) and time.monotonic() < deadline:
                time.sleep(0.05)
            return Consumer.stop_gracefully(q)

        clean = run.op("run_forever+stop_gracefully", go)
        self.stop_clean = int(bool(clean))
        if clean is False:
            run.fail("stop_gracefully returned False")
        for p in delivery_problems(c.handler.calls, self.warm_ids, strict=True):
            run.fail(f"run_forever: {p}")
        self.stack_overflows = run.stderr_count("StackOverflowError")
        if self.stack_overflows:
            run.fail(f"the JVM logged StackOverflowError {self.stack_overflows} times")

    def _stream(self, run) -> dict[str, float]:
        """Per-round sums of the MetricsListener progress records, by
        consumer mode. Query ids are mapped to modes by start order."""
        recs = run.listener_records(len(self.ctx_order))
        started = [r["id"] for r in recs if r["event"] == "started"]
        ctx_of = dict(zip(started, self.ctx_order))
        for r in recs:
            if r["event"] == "terminated" and r.get("exception"):
                run.fail(f"stream thread: {r['exception'][:200]}")
        rounds = max(1, len(self.files))
        out = {}
        for ctx in ("strict", "by_key"):
            progress = [r for r in recs if r["event"] == "progress" and ctx_of.get(r["id"]) == ctx]
            out[f"stream.{ctx}.batches"] = len(progress) / rounds
            for phase in STREAM_PHASES:
                total = sum(r["durationMs"].get(phase, 0) for r in progress)
                out[f"stream.{ctx}.{phase}_ms"] = total / rounds
        return out

    def layers(self, run) -> dict[str, float]:
        n = len(self.ids)
        steps = run.step_medians()
        out = self._stream(run)
        out.update(
            {
                "drain.produce_msgs_per_s": n / steps["produce"],
                "drain.strict_msgs_per_s": n / steps["strict"],
                "drain.by_key_msgs_per_s": n / steps["by_key"],
                "log.produce_df_s": steps["produce"],
                "log.files": median(self.files),
                "consumer.strict.run_once_s": steps["strict"],
                "consumer.by_key.run_once_s": steps["by_key"],
                "consumer.strict.handler_s": median(self.handler_s["strict"]),
                "consumer.by_key.handler_s": median(self.handler_s["by_key"]),
                "consumer.handler_calls_per_msg": (
                    (sum(self.calls["strict"]) + sum(self.calls["by_key"])) / (2 * n * len(self.files))
                ),
                "consumer.pending_rows": self.pending,
                "consumer.dead_letter_rows": self.dead,
                "consumer.stop_clean": self.stop_clean,
                "consumer.stop_stackoverflow": self.stack_overflows,
            }
        )
        return out


class Analytics:
    """A fixed set of batch faces over generated tables, each written to
    Spark's ``noop`` sink; the seed permutes the face order."""

    name = "analytics"
    steps = tuple(FACES)
    #: a face's time is its median (here the mean) over two passes; a third
    #: steadied nothing measurable in five runs, and a pass costs 12 s
    min_rounds = 2
    #: The tables are the same on every run, so every run's oracle check
    #: compares against the same expected results.
    DATA_SEED = 42

    def inputs(self, run) -> None:
        self.sf_dir = run.path("tables")
        datagen.write_tables(self.DATA_SEED, self.sf_dir)
        self.order = list(FACES)
        random.Random(run.seed).shuffle(self.order)

    def _noop(self, run, face: str) -> None:
        run.queries[face](run.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def warmup(self, run) -> None:
        self._noop(run, next(iter(FACES)))  # the same face whatever the seed

    def check(self, run) -> None:
        """Each face's result against its DuckDB ``oracle_sql`` on the same
        tables: untimed, and also the first run of every face."""
        from redix_stream_spark.catalog import TABLES

        cache = OracleCache(os.path.join(run.base, "oracle-cache.json"), self.sf_dir, list(TABLES))
        for face in self.order:

            def compare(face=face):
                got = digest(run.queries[face](run.spark, self.sf_dir).toPandas())
                return mismatch(got, cache.digest(run.oracles[face]))

            problem = run.op(f"oracle {face}", compare)
            if problem:
                run.fail(f"oracle {face}: {problem}")
        cache.close()

    def round(self, run, r: int) -> dict[str, float] | None:
        out = {}
        for face in self.order:
            if run.step(face, FACES[face], lambda face=face: self._noop(run, face), out) is None:
                return None
        return out

    def teardown(self, run) -> None:
        pass

    def layers(self, run) -> dict[str, float]:
        out = {f"face.{face}.s": s for face, s in run.step_medians().items()}
        out["analytics.total_s"] = run.values["raw.round_s"]
        out["analytics.geomean_s"] = run.values["raw.step_geomean_s"]
        return out


WORKLOADS = {"drain": Drain, "analytics": Analytics}
