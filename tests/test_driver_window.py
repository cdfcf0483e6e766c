"""The driver's correctness record caps at the first 50 ``queries()``
entries (registry insertion order).  These tests pin the curated window so
a refactor can't silently push the LLM-pipeline families back out of
driver verification (the round-2 verdict's top finding).

No SparkSession needed — pure ordering checks.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_window_names_all_registered():
    q = entry_mod.queries()
    missing = [
        n
        for n in entry_mod._DRIVER_WINDOW
        if n not in q and n != "rpt_minimum_cost_suppliers_adapted"
    ]
    assert not missing, f"driver-window names not registered: {missing}"


def test_first_50_is_stratified():
    names = list(entry_mod.queries())[:50]
    # at least one representative per family must sit inside the window
    families = {
        "dedup": [n for n in names if n.startswith("dedup_")],
        "ann": [n for n in names if n.startswith(("ann_", "kmeans_"))],
        "sketch": [n for n in names if "hll" in n or "cms" in n],
        "streaming": [
            n for n in names if n.startswith("events_") or n == "user_state_scd"
        ],
        "retrieval_sampling": [n for n in names if n.startswith(("docs_", "doc_"))],
        "graph": [n for n in names if n == "parts_pagerank"],
        "tpch_classic": [n for n in names if n.startswith("tpch_q")],
        "relational": [n for n in names if n.startswith(("rpt_", "fct_", "dim_"))],
    }
    empty = [fam for fam, members in families.items() if not members]
    assert not empty, f"driver window lost family coverage: {empty}"


def test_first_50_all_have_oracles():
    q = list(entry_mod.queries())[:50]
    oracles = entry_mod.oracle_sql()
    missing = [n for n in q if n not in oracles and n not in entry_mod.NO_ORACLE]
    assert not missing, f"first-50 queries without oracle SQL: {missing}"


def test_no_duplicates_and_full_surface():
    names = list(entry_mod.queries())
    assert len(names) == len(set(names))
    assert len(names) >= 135  # full round-2 surface must never shrink


def test_window_is_exactly_fifty_and_deduped():
    w = entry_mod._DRIVER_WINDOW
    assert len(w) == entry_mod._WINDOW_SIZE
    assert len(set(w)) == len(w)


def test_typoed_window_name_fails_loudly(monkeypatch):
    """Round-7 verdict #4: the old list-comprehension filter dropped
    unresolvable names silently, so one misspelled entry burned a driver
    slot without any test noticing.  The derivation must raise instead."""
    import pytest

    monkeypatch.setattr(
        entry_mod, "_ANCHORS", entry_mod._ANCHORS + ("no_such_query_xyz",)
    )
    with pytest.raises(AssertionError, match="no_such_query_xyz"):
        entry_mod._derive_window()


def test_window_fill_is_never_witnessed_first():
    """The auto-derived fill (VERDICT r7 #1/#4) spends every non-anchor
    slot on queries with NO green driver row in any CORRECTNESS_r*.json —
    as long as enough never-witnessed queries exist to fill the window."""
    witnessed = entry_mod._witnessed()
    eligible = set(entry_mod._eligible())
    never = eligible - witnessed
    non_anchor = [
        n for n in entry_mod._DRIVER_WINDOW if n not in entry_mod._ANCHORS
    ]
    if len(never) >= len(non_anchor):
        leaked = [n for n in non_anchor if n in witnessed]
        assert not leaked, f"window wastes slots on already-witnessed: {leaked}"
    # priority entries that are still unwitnessed must lead the fill, in
    # order, up to window capacity (the rest spill to the next round)
    expected_heads = [n for n in entry_mod._PRIORITY if n in never][
        : len(non_anchor)
    ]
    assert non_anchor[: len(expected_heads)] == expected_heads


def test_ledger_close_trims_anchors_when_needed():
    """Round-9 (VERDICT r8 #1): when the never-witnessed set overflows the
    fill capacity left by the anchors, anchors trim from the tail (floor
    6) so EVERY never-witnessed query gets a window slot — no query may
    wait a round while the window re-confirms a long-witnessed anchor."""
    witnessed = entry_mod._witnessed()
    never = [n for n in entry_mod._eligible() if n not in witnessed]
    w = set(entry_mod._DRIVER_WINDOW)
    if len(never) <= entry_mod._WINDOW_SIZE - 6:
        spilled = [n for n in never if n not in w]
        assert not spilled, f"never-witnessed queries spilled: {spilled}"
    # the cross-round comparison core always survives the trim
    head = list(entry_mod._ANCHORS[:6])
    assert [a for a in head if a in w] == head


def test_trim_reclaims_slot_of_never_witnessed_anchor(monkeypatch):
    """Round-9 review: popping an anchor that is ITSELF never-witnessed
    frees no real capacity (it re-enters via fill), so the trim loop must
    recompute demand per pop — a stale pre-loop count stops early and
    spills the last never-witnessed fill name out of the window."""
    eligible = entry_mod._eligible()
    anchor = "parts_pagerank"
    assert anchor in entry_mod._ANCHORS
    others = [n for n in eligible if n not in entry_mod._ANCHORS][:43]
    never = set(others) | {anchor}
    monkeypatch.setattr(
        entry_mod,
        "_witnessed",
        lambda: frozenset(n for n in eligible if n not in never),
    )
    w = entry_mod._derive_window()
    assert len(w) == entry_mod._WINDOW_SIZE
    missing = [n for n in never if n not in w]
    assert not missing, f"never-witnessed spilled despite fitting: {missing}"


def _window_before_repair(monkeypatch) -> tuple[str, ...]:
    """The window ``_derive_window`` builds before its stratification
    repair pass: the anchors plus the oldest-first fill alone."""
    with monkeypatch.context() as m:
        m.setattr(entry_mod, "_repair_stratification", lambda w, *_: w)
        return entry_mod._derive_window()


def _assert_retires_oldest_first(latest, eligible, window, before_repair):
    newest = max(latest.values())

    def stale(n):
        return newest - latest.get(n, 0) >= entry_mod._STALE_AGE

    stale_in_window = sum(1 for n in window if stale(n))
    # nearly every non-anchor slot retires rotation debt while any exists
    total_stale = sum(1 for n in eligible if stale(n))
    expected = min(total_stale, entry_mod._WINDOW_SIZE - 6) - len(
        entry_mod._FAMILY_PREDICATES
    )
    assert stale_in_window >= expected, (
        f"only {stale_in_window} stale witnesses in the window "
        f"(expected >= {expected} of {total_stale} due)"
    )
    # and the stale slots taken are the OLDEST ones. The stratification
    # repair may swap in one rep per family the fill crowded out: the
    # oldest member of that family, which can be newer than the fill's
    # cut-off and even stale itself (its family's oldest witness is that
    # young). So the swapped-in names are the ones the pre-repair window
    # lacks; the rest of the stale names must be the oldest prefix of the
    # due list, which the repair keeps by evicting the youngest tail.
    swapped_in = set(window) - set(before_repair)
    assert len(swapped_in) <= len(entry_mod._FAMILY_PREDICATES), swapped_in
    window_stale_rounds = sorted(
        latest[n] for n in window if stale(n) and n not in swapped_in
    )
    due_rounds = sorted(latest[n] for n in eligible if stale(n))[
        : len(window_stale_rounds)
    ]
    assert window_stale_rounds == due_rounds


def test_rotation_retires_oldest_witnesses_first(monkeypatch):
    """Round-10 (VERDICT r9 #3): once the never-witnessed ledger is closed,
    spare slots must go to the queries whose last driver witness is oldest
    (rounds 2-3 debt), not re-confirm the registry prefix forever. The
    oldest-first order is checked on the window before the stratification
    repair pass; the names that pass swaps in are left out."""
    latest = entry_mod._witness_rounds()
    eligible = entry_mod._eligible()
    never = [n for n in eligible if n not in latest]
    if never:  # a fresh-query round: rotation yields to the ledger
        return
    before_repair = _window_before_repair(monkeypatch)
    _assert_retires_oldest_first(
        latest, eligible, entry_mod._DRIVER_WINDOW, before_repair
    )


def test_rotation_allows_stale_family_rep_newer_than_fill_cutoff(monkeypatch):
    """The same two checks on a fixed ledger, whatever CORRECTNESS_r*.json
    files exist: every query witnessed, far more stale names than slots,
    and every non-anchor ann/kmeans query stale at round 7 while the
    oldest-first fill stops at round 4, so the repair must swap in a stale
    ann/kmeans rep newer than the fill's cut-off."""
    eligible = entry_mod._eligible()
    ann = entry_mod._FAMILY_PREDICATES[1]
    latest = {}
    for i, n in enumerate(x for x in eligible if not ann(x)):
        latest[n] = 3 + i % 10  # rounds 3..12: 3..7 are stale at newest 12
    latest.update((n, 7) for n in eligible if ann(n))
    # anchors sit in every window, so their witness is always the newest
    latest.update((n, 12) for n in entry_mod._ANCHORS)
    monkeypatch.setattr(entry_mod, "_witness_rounds", lambda: latest)

    window = entry_mod._derive_window()
    before_repair = _window_before_repair(monkeypatch)
    _assert_retires_oldest_first(latest, eligible, window, before_repair)
    # the case this ledger exists for: the fill crowds ann/kmeans out, and
    # the rep the repair brings back is stale yet newer than the cut-off
    assert not any(ann(n) for n in before_repair)
    cutoff = max(
        latest[n] for n in before_repair if n not in entry_mod._ANCHORS
    )
    swapped_ann = [n for n in window if ann(n)]
    assert swapped_ann and all(cutoff < latest[n] <= 7 for n in swapped_ann)


def test_stratification_repair_never_strands_a_family(monkeypatch):
    """The rotation repair pass must restore any family the oldest-first
    fill crowded out, without evicting anchors or never-witnessed names."""
    latest = entry_mod._witness_rounds()
    if not latest:
        return
    w = entry_mod._derive_window()
    for pred in entry_mod._FAMILY_PREDICATES:
        assert any(pred(n) for n in w), "family lost despite repair pass"


def test_trim_floor_is_six_anchors(monkeypatch):
    """Synthetic overflow (nothing witnessed): the trim stops at 6 anchors
    and the window stays exactly _WINDOW_SIZE, deduped."""
    monkeypatch.setattr(entry_mod, "_witnessed", lambda: frozenset())
    w = entry_mod._derive_window()
    assert len(w) == entry_mod._WINDOW_SIZE
    assert len(set(w)) == len(w)
    kept = [a for a in entry_mod._ANCHORS if a in w]
    assert kept == list(entry_mod._ANCHORS[:6])
