"""Smoke test of the benchmark on a tiny catalog (sf0.001, 1-second phases).

    python3 perfbench/smoke.py

Checks that the span recorder loses nothing under many threads, that the
result digest agrees where check_correctness's comparison does, that each
client thread unpersists only its own intermediates, that every
workload, untraced and traced, emits every metric named in run.py with its
unit and passes every check, and that a wrong expected oracle digest makes
a run count failures. Exits 0 when all checks hold. Takes a few minutes:
each run still starts Spark and sets up three times.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import headline  # noqa: E402
import run  # noqa: E402


def _check_units(result: dict, units: dict[str, str], label: str) -> list[str]:
    errors = []
    metrics = result["metrics"]
    if set(metrics) != set(units):
        errors.append(f"{label}: metric names differ: {sorted(set(metrics) ^ set(units))}")
    for name, unit in units.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), float):
            errors.append(f"{label}: {name} reported as {m}")
    return errors


def _tracer_stress() -> list[str]:
    """More threads than cores record spans at once, with a short switch
    interval: no span, id or bookkeeping update may be lost."""
    import threading

    from spans import Tracer

    tracer, n_threads, n_spans = Tracer(), 4 * common.cpus(), 200
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work() -> None:
            for _ in range(n_spans):
                with tracer.span("outer", op=tracer.new_op()), tracer.span("inner"):
                    tracer.add_bookkeeping(1000.0)

        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    n = n_threads * n_spans
    errors = []
    if any(t.is_alive() for t in threads):
        errors.append("tracer stress: threads did not finish")
    if len(tracer.spans) != 2 * n or len({s["id"] for s in tracer.spans}) != 2 * n:
        errors.append(f"tracer stress: {len(tracer.spans)} spans, expected {2 * n}")
    # the recorder's own time adds seconds, a lost update would take 1000
    if round(tracer.bookkeeping_s / 1000) != n:
        errors.append(f"tracer stress: bookkeeping {tracer.bookkeeping_s:.0f}, expected {1000 * n}")
    if any(s["name"] == "inner" and s["op"] is None for s in tracer.spans):
        errors.append("tracer stress: an inner span lost its operation id")
    return errors


def _digest_checks() -> list[str]:
    """The query-result digest agrees where check_correctness's comparison
    agrees, and only there."""
    from decimal import Decimal

    d = common.rows_digest
    same = [
        (d(["b", "a"], [(1, 5), (2, -0.0)]), d(["a", "b"], [(0.0, 2), (5.0, 1)])),
        (d(["a"], [(Decimal("5.00"),)]), d(["a"], [(5,)])),
        (d(["a"], [(0.1 + 0.2,)]), d(["a"], [(0.3,)])),
    ]
    differ = [
        (d(["a"], [(2**53,)]), d(["a"], [(2**53 + 1,)])),
        (d(["a"], [(1,), (1,)]), d(["a"], [(1,)])),
        (d(["a"], [("1",)]), d(["a"], [(1,)])),
        (d(["a"], [(None,)]), d(["a"], [("None",)])),
    ]
    errors = [f"digest: equal results digest apart: {x} {y}" for x, y in same if x != y]
    errors += [f"digest: unequal results digest alike: {x}" for x, y in differ if x == y]
    return errors


def _client_persists() -> list[str]:
    """Each client thread takes back only the persists it registered."""
    import threading

    from headline import ClientPersists

    tracked, taken = ClientPersists(), {}

    def client(i: int) -> None:
        for k in range(50):
            tracked.append((i, k))
        taken[i] = tracked.take_mine()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    errors = [f"persists: client {i} took {v[:3]}..." for i, v in taken.items()
              if v != [(i, k) for k in range(50)]]
    if tracked:
        errors.append(f"persists: {len(tracked)} left after every client took its own")
    return errors


def main() -> int:
    sys.path.insert(0, common.ROOT)
    common.SF = 0.001
    errors: list[str] = _tracer_stress() + _digest_checks() + _client_persists()
    for workload in run.WORKLOADS:
        for trace in (False, True):
            res = run.run_workload(workload, seed=7, seconds=1, trace=trace)
            label = f"{workload} trace={int(trace)}"
            units = run.layer_units() if trace else run.E2E_UNITS
            errors += _check_units(res, units, label)
            if not res["correct"] or res["failed"]:
                errors.append(f"{label}: failed {res['context']['failures']}")
            print(f"{label}: {res['attempted']} ops, {res['failed']} failed", flush=True)

    # a wrong expected digest must show up as failed operations
    real = headline.expected_digests

    def wrong(data_dir, names, **kw):
        out = real(data_dir, names, **kw)
        out[names[0]] = "wrong"
        return out

    headline.expected_digests = wrong
    try:
        res = run.run_workload("headline_sf0.1", seed=7, seconds=1, trace=False)
    finally:
        headline.expected_digests = real
    if res["failed"] == 0 or res["correct"]:
        errors.append("a wrong expected digest did not count as a failure")
    print(f"wrong digest: {res['attempted']} ops, {res['failed']} failed", flush=True)

    for e in errors:
        print("SMOKE FAIL:", e)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
