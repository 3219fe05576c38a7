#!/usr/bin/env python
"""Per-gate deltas between two bench records: ``python bench_diff.py A B``.

A and B are raw ``bench.py`` output or ``BENCH_rNN.json`` files (their
``parsed`` field). A gate compares only when its plan fingerprint,
``cpus`` and ``sf`` match in both records; the subtotal sums those
gates' medians. Old records (one float per gate) never compare. A
comparable gate whose median delta lies strictly inside either
record's per-gate ``iqr`` prints ``noise`` instead of a signed share.
"""
import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    try:
        rec = json.loads(text)
    except json.JSONDecodeError:     # raw output: the last JSON line
        rec = json.loads([l for l in text.splitlines()
                          if l.startswith("{")][-1])
    return rec.get("parsed", rec)


def diff(a: dict, b: dict) -> tuple[list[tuple], float, float]:
    """(rows, subtotal_a, subtotal_b); a row is (gate, median_a,
    median_b, reason), the reason "" when the gate is comparable and
    "noise" when it is comparable but its delta is inside an IQR."""
    same_env = all(str(a.get(k)) == str(b.get(k)) for k in ("cpus", "sf"))
    qa, qb = a.get("queries", {}), b.get("queries", {})
    rows, sub_a, sub_b = [], 0.0, 0.0
    for name in {**qa, **qb}:
        ga, gb = (g if isinstance(g, dict) else {"median": g}
                  for g in (qa.get(name), qb.get(name)))
        fp = ga.get("fingerprint")
        why = ("missing" if name not in qa or name not in qb
               else "cpus/sf" if not same_env
               else "" if fp and fp == gb.get("fingerprint")
               else "fingerprint")
        if not why:
            sub_a, sub_b = sub_a + ga["median"], sub_b + gb["median"]
            spread = max(ga.get("iqr") or 0, gb.get("iqr") or 0)
            why = ("noise" if abs(gb["median"] - ga["median"]) < spread
                   else "")
        rows.append((name, ga["median"], gb["median"], why))
    return rows, sub_a, sub_b


def main(path_a: str, path_b: str) -> None:
    rows, sub_a, sub_b = diff(load(path_a), load(path_b))
    fmt = lambda v: "-" if v is None else f"{v:.3f}"
    for name, ma, mb, why in rows:
        note = (why if why == "noise"
                else f"not comparable ({why})" if why
                else f"{(mb - ma) / ma:+.1%}" if ma else "")
        print(f"{name:24s} {fmt(ma):>9} {fmt(mb):>9}  {note}")
    n_noise = sum(1 for r in rows if r[3] == "noise")
    n = n_noise + sum(1 for r in rows if not r[3])
    print(f"subtotal over {n} comparable gates (median s): "
          f"{sub_a:.3f} -> {sub_b:.3f}; {n_noise} of them noise")


if __name__ == "__main__":
    main(*sys.argv[1:3])
