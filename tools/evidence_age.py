"""Evidence-age ledger: for every registered query, the latest
CORRECTNESS_r*.json round that carries a row for it — the input to
the evidence-freshness rotation (the driver window pinned as
ROUND15_HEAD in plans/registry.py). Prints the histogram and the oldest-first
candidate list the next head pin should be built from.

Usage: python tools/evidence_age.py [--max-round N] [--limit K] [--check]
                                    [--stage [K]]
    --max-round N   only list queries whose latest evidence ≤ rN
    --limit K       cap the candidate list (default 60)
    --check         exit nonzero if any query was never driver-checked
                    or the oldest evidence is more than 6 rounds older
                    than the newest round on disk — the standing
                    rolling-freshness bound (round-10 verdict order
                    #5: preflight runs this so the staged-rotation
                    comment can never drift from the committed
                    artifacts)
    --stage [K]     print the NEXT rotation window (default 50 rows)
                    as a ready-to-paste ROUND*_HEAD tuple, computed
                    from the committed artifacts by the standing
                    rules (rounds 10-12): the main body is every row
                    whose evidence sits at the oldest round on disk,
                    in head-pin order (evidence age, then
                    registration order); the backfill tops the window
                    up from the next-oldest rounds with hash-GREENS
                    ONLY — a row whose latest evidence is
                    ``no_oracle`` (weak by design) is skipped and
                    rotates when its round becomes the oldest, so
                    weak rows re-certify on the same cadence without
                    ever displacing a hash re-certification. This
                    mechanizes what rounds 10-12 derived by hand. The
                    queue-jump rule (oracle or plan changed
                    mid-round → to the front) is folded in
                    mechanically too (round-12 session 2): when the
                    registry declares ``ROUND{N}_QUEUE_JUMPERS`` for
                    the round being pinned, those names go to the
                    FRONT of the window and the backfill shrinks to
                    keep the size — the author records what changed
                    as a constant next to the head pins instead of
                    editing the staged output by hand.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def latest_evidence() -> dict[str, int]:
    return {n: rnd for n, (rnd, _row) in latest_rows().items()}


def latest_rows() -> dict[str, tuple[int, dict]]:
    """name -> (latest round carrying a row for it, that row)."""
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path, encoding="utf-8") as f:
            for name, row in json.load(f).items():
                if name not in latest or rnd > latest[name][0]:
                    latest[name] = (rnd, row)
    return latest


def stage_window(
    names: list[str], rows: dict[str, tuple[int, dict]], size: int
) -> tuple[list[str], list[str], int]:
    """Compute the next rotation window by the standing rules.

    Returns (main_body, backfill, oldest_round). Main body: every
    registered query whose latest evidence is the oldest round on
    disk, head-pin order. Backfill: next-oldest hash-greens (latest
    row has ``hash_match`` truthy) until the window holds ``size``
    names; weak/no_oracle rows are skipped by backfill and rotate
    with their round's main body instead.
    """
    ages = {n: rows.get(n, (0, {}))[0] for n in names}
    cands = sorted(names, key=lambda n: (ages[n], names.index(n)))
    oldest = ages[cands[0]] if cands else 0
    main = [n for n in cands if ages[n] == oldest][:size]
    backfill: list[str] = []
    for n in cands:
        if len(main) + len(backfill) >= size:
            break
        if ages[n] == oldest:
            continue
        if rows.get(n, (0, {}))[1].get("hash_match"):
            backfill.append(n)
    return main, backfill, oldest


def stage_with_jumpers(
    names: list[str],
    rows: dict[str, tuple[int, dict]],
    size: int,
    jumpers: tuple[str, ...],
) -> tuple[list[str], list[str], list[str], int]:
    """:func:`stage_window` with the queue-jump rule folded in.

    Returns (jumpers, main_body, backfill, oldest_round): the
    declared jumpers lead the window in their declared order (their
    oracle or plan changed mid-round, so their next evidence must be
    fresh regardless of age), the rule-derived window follows with
    jumpers deduplicated out, and the tail is trimmed — backfill
    first, then main body — to keep the total at ``size``. Unknown
    jumper names raise (a typo here would silently certify nothing).
    """
    unknown = sorted(set(jumpers) - set(names))
    if unknown:
        raise ValueError(
            f"queue-jumpers not in the registry: {unknown}"
        )
    main_body, backfill, oldest = stage_window(names, rows, size)
    jump = list(dict.fromkeys(jumpers))
    main_body = [n for n in main_body if n not in jump]
    backfill = [n for n in backfill if n not in jump]
    while len(jump) + len(main_body) + len(backfill) > size:
        if backfill:
            backfill.pop()
        else:
            main_body.pop()
    return jump, main_body, backfill, oldest


def main(argv: list[str]) -> None:
    max_round = None
    limit = 60
    check = False
    stage: int | None = None
    args = list(argv)
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--max-round":
            i += 1
            max_round = int(args[i])
        elif a == "--limit":
            i += 1
            limit = int(args[i])
        elif a == "--check":
            check = True
        elif a == "--stage":
            stage = 50
            if i + 1 < len(args) and args[i + 1].isdigit():
                i += 1
                stage = int(args[i])
        else:
            sys.exit(f"unknown arg {a!r} — see module docstring")
        i += 1

    from security_master_spark.plans.registry import queries

    names = list(queries())
    rows = latest_rows()
    latest = {n: rnd for n, (rnd, _r) in rows.items()}
    ages = {n: latest.get(n, 0) for n in names}  # 0 = never checked

    if stage is not None:
        newest = max(latest.values(), default=0)
        # at round-N start the artifacts run through r(N-1), so the
        # window being pinned is ROUND N (e.g. artifacts through r11
        # -> ROUND12_HEAD, which is how round 12 derived its pin)
        from security_master_spark.plans import registry as _registry

        jumpers = tuple(
            getattr(_registry, f"ROUND{newest + 1}_QUEUE_JUMPERS", ())
        )
        jump, main_body, backfill, oldest = stage_with_jumpers(
            names, rows, stage, jumpers
        )
        total = len(jump) + len(main_body) + len(backfill)
        print(
            f"# NEXT rotation window ({total} rows = {len(jump)} "
            f"queue-jumpers + {len(main_body)} r{oldest:02d} main "
            f"body + {len(backfill)} hash-green backfill), computed "
            f"from the committed CORRECTNESS_r*.json (newest "
            f"r{newest:02d}) by tools/evidence_age.py --stage."
        )
        print(f"ROUND{newest + 1}_HEAD: tuple[str, ...] = (")
        if jump:
            print(f"    # (0) queue-jumpers: oracle/plan changed in "
                  f"round {newest + 1 - 1} after their last evidence "
                  f"(registry.ROUND{newest + 1}_QUEUE_JUMPERS)")
            for n in jump:
                print(f'    "{n}",')
        print(f"    # (1) the {len(main_body)} r{oldest:02d}-evidence "
              f"rows, age order")
        for n in main_body:
            print(f'    "{n}",')
        if backfill:
            print(f"    # (2) backfill: the {len(backfill)} oldest "
                  f"hash-greens (weak/no_oracle rows skipped — they "
                  f"rotate with their round's main body)")
            for n in backfill:
                print(f'    "{n}",')
        print(")")
        return

    hist = Counter(ages.values())
    print("latest-evidence histogram (0 = never driver-checked):")
    for rnd in sorted(hist):
        print(f"  r{rnd:02d}: {hist[rnd]}")

    # oldest first, then registration order (the head-pin ordering)
    cands = sorted(names, key=lambda n: (ages[n], names.index(n)))
    if max_round is not None:
        cands = [n for n in cands if ages[n] <= max_round]
    print(f"\noldest-evidence candidates (first {limit}):")
    for n in cands[:limit]:
        print(f"  r{ages[n]:02d} {n}")

    if check:
        never = sorted(n for n in names if ages[n] == 0)
        newest = max(latest.values(), default=0)
        oldest = min(ages.values(), default=0)
        bound = newest - 6
        if never:
            sys.exit(
                f"EVIDENCE CHECK FAILED: never driver-checked: {never}"
            )
        if oldest < bound:
            stale = sorted(n for n in names if ages[n] < bound)
            sys.exit(
                f"EVIDENCE CHECK FAILED: oldest evidence r{oldest:02d} "
                f"is more than 6 rounds behind r{newest:02d} "
                f"(bound r{bound:02d}); stale: {stale[:20]}"
                + (" …" if len(stale) > 20 else "")
            )
        print(
            f"evidence check ok: oldest r{oldest:02d} within 6 rounds "
            f"of newest r{newest:02d}"
        )


if __name__ == "__main__":
    main(sys.argv[1:])
