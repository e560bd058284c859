"""Registry / driver-contract invariants.

The driver verifies the FIRST 50 queries in ``queries()`` dict order and
scores a missing oracle inside that window as an error (round-1
CORRECTNESS_r01.json) — so ordering and oracle coverage of the leading
slots are contract, not cosmetics.
"""

from __future__ import annotations

from splio_etl_aggregations_spark import register_all
from splio_etl_aggregations_spark.registry import DRIVER_ORDER, REGISTRY, all_queries

register_all()


def test_driver_order_is_complete_and_exact():
    assert sorted(DRIVER_ORDER) == sorted(REGISTRY), (
        "DRIVER_ORDER out of sync with the registry: "
        f"missing={sorted(set(REGISTRY) - set(DRIVER_ORDER))} "
        f"stale={sorted(set(DRIVER_ORDER) - set(REGISTRY))}"
    )
    assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER)), "duplicate names"
    assert list(all_queries()) == DRIVER_ORDER


def test_verified_window_is_fully_oracle_backed():
    """Every query in the driver's 50-slot verification window must carry
    an oracle — a missing one scores `err: no_oracle`, burning the slot."""
    window = DRIVER_ORDER[:50]
    missing = [n for n in window if REGISTRY[n].oracle is None]
    assert not missing, f"oracle-less queries inside the verified window: {missing}"


def test_rows_only_tail():
    """Operators without oracles must sit at the very end of the order."""
    names = list(all_queries())
    oracle_flags = [REGISTRY[n].oracle is not None for n in names]
    first_rows_only = oracle_flags.index(False)
    assert all(not f for f in oracle_flags[first_rows_only:]), (
        "rows-only operators interleaved before oracle-backed ones: "
        f"{[n for n, f in zip(names[first_rows_only:], oracle_flags[first_rows_only:]) if f]}"
    )


def test_driver_window_rotated():
    """The 50-slot verification window must hold ONLY operators never
    driver-sampled in any round BEFORE ``WINDOW_ROUND`` (VERDICT r4
    "Next round" #2): a window that re-verifies already-green IDs wastes
    the round and produces zero new coverage information.

    Lifecycle: at round-N start the builder rotates the window and bumps
    ``registry.WINDOW_ROUND`` to N; at round-N end the driver writes
    ``CORRECTNESS_r0N.json`` (whose keys ARE the window — allowed). If a
    CORRECTNESS file for a round LATER than ``WINDOW_ROUND`` exists, the
    rotation was forgotten and this test fails loudly.

    Deliberate re-samples (regression proofs for a fixed red) go in
    ``RESAMPLE_ALLOWLIST`` below with a one-line justification — never
    silently.
    """
    import json
    import pathlib
    import re

    from splio_etl_aggregations_spark.registry import WINDOW_ROUND

    # IDs intentionally re-sampled this round to prove a fix under the
    # real driver hash (empty => the whole window is new coverage).
    # Round 10: only 42 never-sampled oracle-backed IDs remain, so the
    # other 8 slots re-sample the IDs whose operator code was rerouted
    # onto a shared primitive after their last driver-green row, oldest
    # green row first — each old driver row is evidence for the retired
    # implementation.
    RESAMPLE_ALLOWLIST: set[str] = {
        # r1 row; its prefix-join verify now runs in shared _verified_pairs
        "dedup_near_jaccard",
        # r1 row; its prefix-join verify now runs in shared _verified_pairs
        "dedup_ngram_jaccard",
        # r1 row; its near-dup pair source now runs in _verified_pairs
        "dedup_connected_components",
        # r1 row; its CC pair source now runs in shared _verified_pairs
        "pipeline_clean_corpus",
        # r2 row; the shared ph60 MinHash-LSH front end (new plan) and
        # _verified_pairs replaced its xxhash64 signatures and inline verify
        "dedup_near_minhash",
        # r3 row; two_phase_scan replaced its inline prefix sum
        "corpus_pack_sequences",
        # r3 row; its containment verify now runs in shared _verified_pairs
        "dedup_containment",
        # r4 row; two_phase_scan replaced its inline running max
        "dq_monotonic_id_gap_check",
    }

    repo = pathlib.Path(__file__).resolve().parent.parent
    earlier: set[str] = set()
    rounds_seen = []
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        rounds_seen.append(rnd)
        if rnd < WINDOW_ROUND:
            earlier |= set(json.loads(f.read_text()))
    assert rounds_seen, "no committed CORRECTNESS files found — wrong repo root?"
    late = [r for r in rounds_seen if r > WINDOW_ROUND]
    assert not late, (
        f"CORRECTNESS file(s) for round(s) {late} exist but WINDOW_ROUND="
        f"{WINDOW_ROUND}: the verification window was not rotated for the "
        "new round. Rotate DRIVER_ORDER[:50] to never-sampled IDs and bump "
        "registry.WINDOW_ROUND."
    )

    window = set(DRIVER_ORDER[:50])
    stale = sorted(window & earlier - RESAMPLE_ALLOWLIST)
    assert not stale, (
        "verification window holds IDs already driver-green in an earlier "
        f"round (rotate DRIVER_ORDER or add to RESAMPLE_ALLOWLIST): {stale}"
    )


def test_docs_registry_totals_match_code():
    """README.md and SURVEY.md carry hand-maintained registry totals
    ("## The N queries" / "**N registered IDs**"); they drifted once in
    r5 (commit said 362 while the tree held 363). Pin them to the code
    (VERDICT r5 #8)."""
    import re

    from splio_etl_aggregations_spark.registry import REGISTRY

    n = len(REGISTRY)
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    readme = open("README.md").read()
    survey = open("SURVEY.md").read()
    m = re.search(r"## The (\d+) queries", readme)
    assert m and int(m.group(1)) == n, f"README header says {m and m.group(1)}, registry has {n}"
    m = re.search(r"(\d+) are registered: (\d+) hash-checked", readme)
    assert m and (int(m.group(1)), int(m.group(2))) == (n, n_oracle), (
        f"README counts {m and m.groups()}, code has ({n}, {n_oracle})"
    )
    m = re.search(r"\*\*(\d+) registered IDs\*\* in total", survey)
    assert m and int(m.group(1)) == n, f"SURVEY says {m and m.group(1)}, registry has {n}"
