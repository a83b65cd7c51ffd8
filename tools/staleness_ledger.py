"""Staleness ledger over the driver's CORRECTNESS_r*.json artifacts.

The external driver re-checks only the first 50 registered queries
per round (the driver window), so the registry rotates the window
each round: keys that would breach the staleness bound first, then
changed queries, then the queries whose newest external green row is
oldest. That policy lives in the
``_DRIVER_WINDOW`` comment in registry/__init__.py — this tool makes it
auditable: parse every recorded round, print each query's newest
external green row, and flag

- queries NEVER externally green (must be in the current window:
  first row now or never);
- queries whose newest green row is stale (displaced repeatedly);
- window slots spent on queries with a fresh green row (wasted
  re-checks, unless they are deliberate canaries or changed code).

A "green" row = rows+schema matched and the value hash matched when
an oracle existed (``err: no_oracle`` rows are the driver's weaker
rows-only check — counted separately, shown as ``rows-only``).

Usage: python tools/staleness_ledger.py [--repo-root PATH] [--plan]

``--plan`` prints the NEXT round's forced window: assuming every key
in the CURRENT window goes green this round, it lists the keys whose
staleness would breach the round−3 bound next round if left out
(they MUST occupy next-round slots), then fills the remainder
oldest-first — the zero-slack schedule the 150 = 50×3 capacity
invariant demands. Run it when rotating ``_DRIVER_WINDOW``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys


def load_rounds(root: str) -> dict[int, dict]:
    rounds = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)
    return rounds


def entry_status(v: dict) -> str:
    """'green' | 'rows-only' | 'red' for one driver record."""
    if v.get("err") == "no_oracle":
        return "rows-only" if v.get("spark_rows") is not None else "red"
    ok = (
        v.get("rows_match") is True
        and v.get("schema_match") is True
        and v.get("hash_match") is not False
        and not v.get("err")
    )
    return "green" if ok else "red"


def newest_green(rounds: dict[int, dict]) -> dict[str, tuple[int, str]]:
    """query -> (round, status) of its newest non-red external row.

    Hash-verified ``green`` rows are never masked by a later weaker
    ``rows-only`` row: if a query was ever value-verified, the ledger
    reports its newest GREEN round (a later no-oracle row proves less,
    not more); ``rows-only`` is reported only for queries that have
    never had a hash-verified row.
    """
    newest: dict[str, tuple[int, str]] = {}
    for rnd in sorted(rounds):
        for name, v in rounds[rnd].items():
            st = entry_status(v)
            if st == "red":
                continue
            if st == "rows-only" and newest.get(name, (0, ""))[1] == "green":
                continue
            newest[name] = (rnd, st)
    return newest


def plan_next_window(
    newest: dict[str, tuple[int, str]],
    queries: list[str],
    window: list[str],
    latest_round: int,
) -> tuple[list[str], list[str]]:
    """(forced, fill) for NEXT round's window, assuming the current
    window goes green in round ``latest_round + 1`` (the round the
    current window is staged for).

    forced = keys whose projected newest-green would be ≤ next_round−3
    when next round's window runs (breach if displaced again);
    fill = the remaining slots, oldest projected green first, then
    registry order for determinism.
    """
    this_round = latest_round + 1  # the round the current window runs in
    next_round = this_round + 1
    projected = {
        n: (this_round if n in window else newest.get(n, (None,))[0])
        for n in queries
    }
    cap = len(window)
    never = [n for n in queries if projected[n] is None]
    # the tripwire's breach condition: newest < current_round − 3 and
    # not in the current window — so next round's MUST-carry set is
    # exactly the keys whose projected newest would sit below that
    # bound when next round's window is staged
    forced = never + sorted(
        (n for n in queries if projected[n] is not None
         and projected[n] < next_round - 3),
        key=lambda n: (projected[n], n),
    )
    rest = sorted(
        (n for n in queries if n not in set(forced)),
        key=lambda n: (projected[n], n),
    )
    fill = rest[: max(0, cap - len(forced))]
    return forced, fill


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--repo-root",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    ap.add_argument("--plan", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, args.repo_root)
    from ecommerce_lakehouse_platform_spark import registry

    rounds = load_rounds(args.repo_root)
    if not rounds:
        print("no CORRECTNESS_r*.json artifacts found")
        return 1
    newest = newest_green(rounds)
    latest_round = max(rounds)
    window = list(registry._DRIVER_WINDOW)

    if args.plan:
        forced, fill = plan_next_window(
            newest, sorted(registry.QUERIES), window, latest_round
        )
        nxt = latest_round + 2
        print(
            f"planning the r{nxt} window ({len(window)} slots), assuming "
            f"the current window goes green in r{latest_round + 1}:"
        )
        print(f"\nFORCED ({len(forced)}) — breach the round-3 bound if "
              "displaced again:")
        for n in forced:
            rnd = newest.get(n, (None,))[0]
            print(f"  {n} (newest green: "
                  f"{'never' if rnd is None else f'r{rnd}'})")
        print(f"\nFILL ({len(fill)}) — oldest projected green first:")
        for n in fill:
            rnd = (latest_round + 1) if n in window else newest.get(n, (None,))[0]
            print(f"  {n} (projected newest green: r{rnd})")
        chosen = set(forced) | set(fill)
        edge = sorted(
            n
            for n in registry.QUERIES
            if n not in chosen
            and n not in window
            and newest.get(n, (None,))[0] == latest_round - 1
        )
        if edge:
            print(
                f"\nDEFERRAL PRESSURE ({len(edge)}) — at the bound edge, "
                f"FORCED the round after next:"
            )
            for n in edge:
                print(f"  {n}")
        over = len(forced) - len(window)
        if over > 0:
            print(f"\nVIOLATION — forced set exceeds the window by {over}: "
                  "some keys WILL breach; re-plan the current round too")
            return 2
        return 0

    by_round: dict[object, list[str]] = {}
    for name in sorted(registry.QUERIES):
        rnd = newest.get(name, (None, "never"))[0]
        by_round.setdefault(rnd, []).append(name)

    print(f"rounds recorded: {sorted(rounds)}; registry: "
          f"{len(registry.QUERIES)} queries; window: {len(window)}")
    for rnd in sorted(by_round, key=lambda r: (r is not None, r)):
        names = by_round[rnd]
        label = "NEVER GREEN" if rnd is None else f"newest green r{rnd}"
        print(f"\n{label} ({len(names)}):")
        for n in names:
            tag = " [in-window]" if n in window else ""
            weak = (
                " (rows-only)"
                if newest.get(n, (None, ""))[1] == "rows-only"
                else ""
            )
            print(f"  {n}{weak}{tag}")

    # invariant: a query with no external row must be in the window
    uncovered = [
        n for n in registry.QUERIES if n not in newest and n not in window
    ]
    if uncovered:
        print(f"\nVIOLATION — never-green and not in window: {uncovered}")
        return 2
    stale_cut = latest_round - 2
    stale_out = [
        n
        for n, (rnd, _) in newest.items()
        if n in registry.QUERIES and rnd < stale_cut and n not in window
    ]
    if stale_out:
        print(
            f"\nNOTE — newest green older than r{stale_cut} and not in the "
            f"window (displaced again): {sorted(stale_out)}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
