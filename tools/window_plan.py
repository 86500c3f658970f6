"""Propose the next round's driver-window ordering mechanically.

Every round the first ``WINDOW`` entries of ``__spark_entry__.
_PRIORITY`` decide which queries get a hard driver oracle row, and
``tools/rotation_check.py`` enforces two rules over that prefix:
changed/new queries must be inside it, and no query may go longer
than the capacity-derived staleness bound without a green. Rewriting
the ordering by hand each round is mechanical but error-prone (r8
shipped duplicate names whose later placements were silently dead),
so this tool derives the whole ordering from the same inputs the
checker reads:

1. changed/new queries (fingerprint mismatch vs the snapshot;
   never-green rows first) — MUST be in-window,
2. overdue-stale rows (last green would breach the bound at the next
   driver check) — MUST be in-window, oldest green first,
3. proactive fill — the next-oldest green rows, until the window is
   full,
4. tail — every remaining query, oldest green first, so a wider
   driver window (or next round's fill) always refreshes the stalest
   rows next.

Usage:
    python tools/window_plan.py           # human-readable plan
    python tools/window_plan.py --emit    # paste-ready _PRIORITY tuple

The output is a PROPOSAL to paste into ``__spark_entry__._PRIORITY``
(keep or edit the cohort comments); run ``tools/rotation_check.py``
after pasting — this tool derives from the same rules, but the
checker stays the enforcement point. Since r10, fingerprints include
the sources of reachable repo-defined Python helpers, so a shared-
helper edit promotes its callers mechanically (no hand promotion).
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from tools.rotation_check import (  # noqa: E402
    SNAP,
    WINDOW,
    fingerprints,
    last_greens,
    stale_bound,
)


def cohorts() -> tuple[list[str], list[str], list[str], list[str]]:
    """(never-green, changed-code, overdue, fresh) — PRE-truncation,
    so callers can detect a genuine over-commit (mandatory > WINDOW)
    that the truncated window proposal cannot express."""
    import json

    cur = fingerprints()
    snap = json.loads(SNAP.read_text()) if SNAP.exists() else {}
    last, latest = last_greens()
    bound = stale_bound(len(cur))

    def age_key(n: str) -> tuple[int, str]:
        return (last.get(n, -(10**9)), n)

    never = sorted(n for n in cur if n not in last)
    # oldest green first, not by name: when an edit to a shared helper
    # marks more than WINDOW rows changed, the changed rows that are
    # ALSO overdue must lead the cohort so the truncated window still
    # holds them
    changed = sorted(
        (n for n in cur if n in last and snap.get(n) != cur[n]),
        key=age_key,
    )
    # rotation_check's rule: overdue at the NEXT driver check
    # (round latest+1) means last green <= latest - bound. Rows one
    # round younger (== latest+1-bound) become mandatory the round
    # AFTER — they are the preferred proactive fill.
    overdue_cut = latest - bound

    rest = sorted(
        (n for n in cur if n not in never and n not in changed),
        key=age_key,
    )
    overdue = [n for n in rest if last[n] <= overdue_cut]
    fresh = [n for n in rest if last[n] > overdue_cut]
    return never, changed, overdue, fresh


def plan() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """([(name, cohort)] window, [(name, cohort)] tail)."""
    never, changed, overdue, fresh = cohorts()
    last, latest = last_greens()
    bound = stale_bound(len(fingerprints()))
    overdue_cut = latest - bound

    window: list[tuple[str, str]] = []
    for n in never:
        window.append((n, "never-green"))
    for n in changed:
        window.append((n, "changed-code"))
    for n in overdue:
        window.append((n, f"overdue (last green r{last[n]})"))
    window = window[:WINDOW]
    n_fill = WINDOW - len(window)
    for n in fresh[:max(0, n_fill)]:
        label = (
            "due-next"
            if last[n] == overdue_cut + 1
            else "stale fill"
        )
        window.append((n, f"{label} (last green r{last[n]})"))

    def age_key(n: str) -> tuple[int, str]:
        return (last.get(n, -(10**9)), n)

    # Tail = EVERY registered name not in the window (never/changed/
    # overdue/fresh alike), so an over-committed window can't silently
    # drop mandatory rows from the proposal — they surface at the
    # tail head, oldest-first, where next round's fill picks them up.
    in_window = {n for n, _ in window}
    tail = [
        (n, f"last green r{last[n]}" if n in last else "never-green")
        for n in never + changed + overdue + fresh
        if n not in in_window
    ]
    tail.sort(key=lambda t: age_key(t[0]))
    return window, tail


def main() -> int:
    window, tail = plan()
    cur = fingerprints()
    last, latest = last_greens()
    bound = stale_bound(len(cur))

    # Count mandatory rows PRE-truncation (the window proposal is
    # already capped at WINDOW, so counting its labels can never
    # detect an over-commit — r9 advice finding).
    never, changed, overdue, _fresh = cohorts()
    mandatory = len(never) + len(changed) + len(overdue)
    if mandatory > WINDOW:
        print(
            f"window-plan: OVER-COMMITTED — {mandatory} mandatory rows "
            f"for {WINDOW} slots; failed/changed rows must outrank "
            "stale ones and the remainder breaches the bound next "
            "round. Reduce churn or widen the window.",
            file=sys.stderr,
        )

    if "--emit" in sys.argv[1:]:
        print("_PRIORITY: tuple[str, ...] = (")
        print(
            f"    # ---- r{latest + 1} front window (first {WINDOW}; "
            "generated by tools/window_plan.py) ----"
        )
        cohort = None
        for n, c in window:
            label = c.split(" (")[0]
            if label != cohort:
                cohort = label
                print(f"    # {cohort}")
            print(f'    "{n}",')
        print("    # ---- tail: refresh pool, oldest green first ----")
        for n, _ in tail:
            print(f'    "{n}",')
        print(")")
        return 0

    print(
        f"window plan for round r{latest + 1} "
        f"({len(cur)} registered, bound {bound}, window {WINDOW}):"
    )
    for i, (n, c) in enumerate(window):
        print(f"  {i + 1:3d}. {n:40s} {c}")
    from collections import Counter

    ages = Counter(
        last[n] for n, _ in tail if n in last
    )
    print(f"tail: {len(tail)} rows; last-green histogram "
          + ", ".join(f"r{r}={k}" for r, k in sorted(ages.items())))
    # At the r(latest+2) check the artifacts run through r(latest+1),
    # so a tail row is overdue there iff last green <= latest+1-bound
    # (the old latest+2-bound cut counted the next cohort a full round
    # early — 43 "mandatory" rows where the true answer was 4).
    over_next = [
        n for n, _ in tail if last.get(n, -(10**9)) <= latest + 1 - bound
    ]
    print(
        f"tail rows that become MANDATORY at r{latest + 2}: "
        f"{len(over_next)}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
