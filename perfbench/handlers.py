"""The consumer handler the drain workload runs.

Each call does a fixed amount of hashing, then records the call: in memory
when it runs in the benchmark's own process (``strict``), or as one line in
a per-process file when it runs in executor Python workers (``by_key``). The records let
the benchmark check delivery: every id once, in order.

This module is pickled by value, so executor workers need not import it.
"""

from __future__ import annotations

import hashlib
import os
import time

#: sha256 rounds per message: the handler's fixed per-message work.
WORK = 8

#: One append-only descriptor per worker process and call log; the OS
#: closes it when the worker exits with the session.
_fds: dict[str, int] = {}


def _fd(out_dir: str) -> int:
    path = os.path.join(out_dir, f"{os.getpid()}.log")
    if path not in _fds:
        _fds[path] = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    return _fds[path]


class Recorder:
    """The handler: ``Recorder()`` records in memory, ``Recorder(dir)`` in
    per-process files under ``dir``."""

    def __init__(self, out_dir: str | None = None):
        self.out_dir = out_dir
        self.calls: list[tuple[int, str, str, int]] = []

    def __call__(self, msg_id: str, payload: dict) -> None:
        t0 = time.monotonic_ns()
        h = msg_id.encode()
        for _ in range(WORK):
            h = hashlib.sha256(h).digest()
        t1 = time.monotonic_ns()
        key = payload.get("key", "")
        if self.out_dir is None:
            self.calls.append((t1, key, msg_id, t1 - t0))
        else:
            os.write(_fd(self.out_dir), f"{t1} {key} {msg_id} {t1 - t0}\n".encode())
        return None  # auto-ack


def read_calls(out_dir: str) -> list[tuple[int, str, str, int]]:
    """All calls recorded under ``out_dir`` by executor-side recorders."""
    calls = []
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                t, key, msg_id, dt = line.split()
                calls.append((int(t), key, msg_id, int(dt)))
    return calls


def delivery_problems(
    calls: list[tuple[int, str, str, int]], expected_ids: list[str], strict: bool
) -> list[str]:
    """Lost, duplicated or out-of-order deliveries. ``expected_ids`` is the
    log in (ms, seq) order. Strict mode must deliver exactly that sequence;
    by_key mode must deliver each id once and keep order within each key."""
    calls = sorted(calls)
    got = [c[2] for c in calls]
    if strict:
        if got == expected_ids:
            return []
        return [f"strict delivery differs from log order ({len(got)} calls, {len(expected_ids)} ids)"]
    problems = []
    if len(got) != len(expected_ids) or set(got) != set(expected_ids):
        problems.append(f"{len(got)} calls for {len(expected_ids)} ids ({len(set(got))} distinct)")
    pos = {i: n for n, i in enumerate(expected_ids)}
    last: dict[str, int] = {}
    bad_keys = set()
    for _, key, msg_id, _ in calls:
        p = pos.get(msg_id, -1)
        if p <= last.get(key, -1):
            bad_keys.add(key)
        last[key] = p
    if bad_keys:
        problems.append(f"per-key order broken for {len(bad_keys)} keys")
    return problems
