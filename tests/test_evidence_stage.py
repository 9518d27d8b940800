"""The rotation-window stager (tools/evidence_age.py --stage) must
reproduce the standing rules rounds 10-12 applied by hand:

- main body = every registered query whose latest evidence is the
  oldest round on disk, in head-pin order (evidence age, then
  registration order);
- backfill = next-oldest hash-GREENS only, topping the window up to
  its size — a row whose latest evidence is weak (``no_oracle``)
  never backfills and rotates with its own round's main body;
- declared queue-jumpers lead the window, and the tail is trimmed to
  keep its size.

No Spark session needed — the stager reads committed JSON and the
registry's name list.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "evidence_age", os.path.join(_REPO, "tools", "evidence_age.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("evidence_age", mod)
    spec.loader.exec_module(mod)
    return mod


def test_stage_window_follows_the_standing_rules():
    tool = _load_tool()
    from security_master_spark.plans.registry import queries

    names = list(queries())
    rows = tool.latest_rows()
    main, backfill, oldest = tool.stage_window(names, rows, 50)

    assert len(main) + len(backfill) == 50
    ages = {n: rows.get(n, (0, {}))[0] for n in names}
    # main body is EXACTLY the oldest-round set (when it fits)
    oldest_set = {n for n in names if ages[n] == oldest}
    if len(oldest_set) <= 50:
        assert set(main) == oldest_set
    # backfill: hash-greens only, none from the oldest round, and in
    # age-then-registration order
    for n in backfill:
        assert ages[n] > oldest
        assert rows[n][1].get("hash_match") is True
    keyed = [(ages[n], names.index(n)) for n in backfill]
    assert keyed == sorted(keyed)
    # no duplicates across the window
    assert len(set(main) | set(backfill)) == 50


def test_stage_with_jumpers_front_loads_and_trims():
    tool = _load_tool()
    from security_master_spark.plans.registry import queries

    names = list(queries())
    rows = tool.latest_rows()
    plain_main, plain_back, oldest = tool.stage_window(names, rows, 50)
    # pick one jumper already in the rule window and one outside it
    inside = plain_main[3]
    outside = next(
        n for n in names if n not in plain_main and n not in plain_back
    )
    jump, main, back, oldest2 = tool.stage_with_jumpers(
        names, rows, 50, (outside, inside)
    )
    assert oldest2 == oldest
    # declared order leads the window; no duplicates anywhere
    assert jump == [outside, inside]
    window = jump + main + back
    assert len(window) == 50
    assert len(set(window)) == 50
    assert inside not in main and inside not in back
    # the rule-derived part is the plain window minus jumpers, with
    # the TAIL trimmed (backfill first) to keep the size
    assert main == [n for n in plain_main if n not in (inside, outside)]
    survivors = [n for n in plain_back if n not in (inside, outside)]
    assert back == survivors[: len(back)]


def test_stage_with_jumpers_rejects_unknown_names():
    tool = _load_tool()
    from security_master_spark.plans.registry import queries

    rows = tool.latest_rows()
    try:
        tool.stage_with_jumpers(list(queries()), rows, 50, ("nope_q",))
    except ValueError as e:
        assert "nope_q" in str(e)
    else:
        raise AssertionError("unknown jumper did not raise")
