"""Summarize the lockstep scaling ledgers on stdout.

Reads every session that `scripts/lockstep_pairs.py` appended to
`BENCH/lockstep_ledger_r*.jsonl` and prints, for each N-vs-4N variant
(e.g. local[2] vs local[8]), one table row per session ordered by corpus
size, then the verdict against the >= 0.8 scaling target: how many
sessions reach it on session-floor efficiency (`eff_min`), with every
session's `eff_min` and clean-cycle median listed beside it.

    python scripts/scaling_report.py      # from the repository root
"""

from __future__ import annotations

import argparse
import glob
import json
import os

LEDGERS = "BENCH/lockstep_ledger_r*.jsonl"
TARGET = 0.8


def load_sessions() -> list[dict]:
    sessions = []
    for path in sorted(glob.glob(LEDGERS)):
        with open(path) as f:
            for ln in f:
                s = json.loads(ln)
                s["ledger"] = os.path.basename(path)
                sessions.append(s)
    return sessions


def variant_of(s: dict) -> tuple[int, ...]:
    # a ledger record carries min_<cores> keys for its two legs
    return tuple(sorted(int(k[4:]) for k in s if k.startswith("min_")))


def fmt(v) -> str:
    return "—" if v is None else f"{v:.3f}"


def report(sessions: list[dict]) -> str:
    out = []
    for n, xn in sorted({variant_of(s) for s in sessions}):
        rows = sorted((s for s in sessions if variant_of(s) == (n, xn)),
                      key=lambda s: (s["docs"], s["ts"]))
        out += [
            f"## local[{n}] vs local[{xn}]", "",
            f"| ledger | docs | cycles | floor@{n} (s) "
            f"| floor@{xn} (s) | eff_min | eff_median | clean cycles "
            "| eff_clean_median |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for s in rows:
            out.append(
                f"| {s['ledger']} | {s['docs']:,} | {s['cycles']} "
                f"| {s[f'min_{n}']:.1f} | {s[f'min_{xn}']:.1f} "
                f"| {fmt(s['eff_min'])} | {fmt(s['eff_median'])} "
                f"| {s['clean_cycles']} | {fmt(s['eff_clean_median'])} |"
            )
        k = sum(s["eff_min"] >= TARGET for s in rows)
        out += [
            "",
            f"Verdict: {k} of {len(rows)} sessions ≥ {TARGET} on "
            "session-floor efficiency (eff_min "
            + ", ".join(fmt(s["eff_min"]) for s in rows)
            + "; clean medians "
            + ", ".join(fmt(s["eff_clean_median"]) for s in rows)
            + ").",
            "",
        ]
    return "\n".join(out)


def main() -> None:
    argparse.ArgumentParser(
        description=f"Print the lockstep scaling ledgers ({LEDGERS}) as "
        "tables and a verdict per variant. Run from the repository root.",
    ).parse_args()
    print(report(load_sessions()))


if __name__ == "__main__":
    main()
