#!/usr/bin/env python
"""Diff two BENCH_FULL.json files with noise context.

Usage: python tools/compare_bench.py OLD.json NEW.json [--top N]

Prints per-query deltas sorted by absolute regression, with each file's
host-steal and speed-canary readings so a "regression" caused by a noisy
window (canary inflated) isn't mistaken for an engine change. Queries only
in one file are listed separately (added/removed).

When both files carry per-query ``layers`` (``bench.py --trace``), it also
prints, for each of ``LAYER_KEYS``, every traced query's value before ->
after, largest change first, so a speed claim shows the layer it moved.
"""

from __future__ import annotations

import json
import sys


#: Layer counts and times diffed per query: plan-building Py4J commands and
#: seconds, Spark jobs, and classes Janino compiled in the traced run.
LAYER_KEYS = ("plans.build_py4j_calls", "plans.build_s", "spark.jobs", "codegen_classes")


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    return d


def _layer_value(rec: dict, key: str) -> float:
    """``key`` from one query's ``layers`` record: a ``metrics`` entry, or a
    field of the record itself (``codegen_classes``). Absent is 0, as
    perfbench reports a layer that did no work."""
    return rec.get("metrics", {}).get(key, rec.get(key, 0))


def _num(v: float, sign: str = "") -> str:
    return f"{v:{sign}.0f}" if v == int(v) else f"{v:{sign}.4g}"


def print_layer_diff(old: dict, new: dict, top: int) -> None:
    ol, nl = old.get("layers", {}), new.get("layers", {})
    shared = [n for n in nl if n in ol]
    if not shared:
        return
    for key in LAYER_KEYS:
        rows = [(n, _layer_value(ol[n], key), _layer_value(nl[n], key)) for n in shared]
        rows.sort(key=lambda r: (-abs(r[2] - r[1]), r[0]))
        moved = sum(a != b for _, a, b in rows)
        before, after = [r[1] for r in rows], [r[2] for r in rows]
        print(
            f"\n{key} over {len(rows)} traced queries: "
            f"{_num(sum(before))} -> {_num(sum(after))}, nonzero in "
            f"{sum(v > 0 for v in before)} -> {sum(v > 0 for v in after)}, changed in {moved}"
        )
        for n, a, b in rows[:top]:
            if a == b:
                break
            print(f"  {n}: {_num(a)} -> {_num(b)} ({_num(b - a, '+')})")


def main(argv: list[str] | None = None) -> None:
    argv = list(sys.argv[1:] if argv is None else argv)
    top = 20
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        del argv[i : i + 2]
    if len(argv) != 2:
        print(__doc__)
        sys.exit(2)
    args = argv
    old, new = load(args[0]), load(args[1])
    oq, nq = old.get("queries", {}), new.get("queries", {})
    print(
        f"old: total={old.get('value')}s n={len(oq)} "
        f"steal={old.get('host_steal_pct')}% canary={old.get('canary_ms')}"
    )
    print(
        f"new: total={new.get('value')}s n={len(nq)} "
        f"steal={new.get('host_steal_pct')}% canary={new.get('canary_ms')}"
    )
    c_old, c_new = old.get("canary_ms"), new.get("canary_ms")
    if c_old and c_new:
        ratio = (sum(c_new) / len(c_new)) / (sum(c_old) / len(c_old))
        if not 0.8 <= ratio <= 1.25:
            print(
                f"!! canary ratio {ratio:.2f} — machine speed differed between "
                "runs; treat per-query deltas as noise-dominated"
            )
    shared = sorted(
        (n for n in nq if n in oq), key=lambda n: -(nq[n] - oq[n])
    )
    print(f"\nworst regressions (of {len(shared)} shared):")
    for n in shared[:top]:
        d = nq[n] - oq[n]
        if d <= 0:
            break
        print(f"  {n}: {oq[n]:.2f}s -> {nq[n]:.2f}s (+{d:.2f})")
    print("\nbest improvements:")
    for n in reversed(shared[-top:]):
        d = nq[n] - oq[n]
        if d >= 0:
            break
        print(f"  {n}: {oq[n]:.2f}s -> {nq[n]:.2f}s ({d:.2f})")
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    if added:
        print(f"\nadded ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    print_layer_diff(old, new, top)


if __name__ == "__main__":
    main()
