"""Rotation-policy integrity. Through round 5 the driver-emission order was
a hand-maintained list whose head went stale (VERDICT r5 "wrong" #2: the r5
head was exactly the 50 queries the driver had just recorded). The order is
now COMPUTED from the committed CORRECTNESS_r*.json ledgers
(registry.driver_priority), so these tests pin the policy itself — against
ALL ledger files on disk, present and future — rather than a snapshot list.
"""

import json
import os

from realtime_datawarehouse_spark.plans import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledger_from_disk() -> dict[str, tuple[int, bool]]:
    """Independent mini-implementation of the ledger read (so the tests
    don't just compare registry code with itself)."""
    ledger: dict[str, tuple[int, bool]] = {}
    rounds = []
    for fn in os.listdir(REPO):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            rounds.append((int(fn[len("CORRECTNESS_r"):-len(".json")]), fn))
    for rnd, fn in sorted(rounds):
        with open(os.path.join(REPO, fn), encoding="utf-8") as f:
            for name, row in json.load(f).items():
                green = row.get("err") in (None, "no_oracle") and not any(
                    row.get(k) is False
                    for k in ("rows_match", "schema_match", "hash_match")
                )
                ledger[name] = (rnd, green)
    return ledger


def test_emission_covers_every_registered_query_exactly_once():
    qs = list(registry.get_queries())
    assert sorted(qs) == sorted(registry.QUERIES)
    assert len(qs) == len(set(qs))
    assert set(registry.get_oracles()) <= set(qs)


def test_never_recorded_queries_lead_all_recorded_ones():
    """Tier 0: a query with no driver CORRECTNESS row in ANY committed round
    file must be emitted before every query that has one — this is what
    closes the ledger gap at the driver's ~50-row budget rate, and it holds
    for all future round files without edits here."""
    ledger = _ledger_from_disk()
    order = list(registry.get_queries())
    pos = {n: i for i, n in enumerate(order)}
    never = [n for n in order if n not in ledger]
    recorded = [n for n in order if n in ledger]
    if never and recorded:
        assert max(pos[n] for n in never) < min(pos[n] for n in recorded)


def test_red_latest_record_precedes_all_green_ones():
    """Tier 1: a query whose LATEST driver record is not fully green is a
    re-record candidate and must precede every green query (e.g. r6's
    olap_anomaly_outliers re-record after the oracle dtype cast)."""
    ledger = _ledger_from_disk()
    order = list(registry.get_queries())
    pos = {n: i for i, n in enumerate(order)}
    red = [n for n in order if n in ledger and not ledger[n][1]]
    green = [n for n in order if n in ledger and ledger[n][1]]
    if red and green:
        assert max(pos[n] for n in red) < min(pos[n] for n in green)


def test_green_cohort_is_emitted_stalest_first():
    """Tier 2: among fully-green queries, emission order is non-decreasing
    in latest-record round — the staleness rotation that cycles every
    query's driver record on a ~(total/50)-round cadence."""
    ledger = _ledger_from_disk()
    rounds = [
        ledger[n][0]
        for n in registry.get_queries()
        if n in ledger and ledger[n][1]
    ]
    assert rounds == sorted(rounds)


def test_driver_priority_policy_on_synthetic_ledger(tmp_path):
    """Deterministic unit check of the sort itself on a fake repo root:
    never-recorded < red < green-stale < green-fresh, names tiebreak."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "b_green_old": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
        "e_red": {"rows_match": True, "schema_match": True,
                  "hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a_green_new": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
        "e_red": {"rows_match": True, "schema_match": True,
                  "hash_match": False, "err": None},
        "f_rows_only": {"rows_match": None, "schema_match": None,
                        "hash_match": None, "err": "no_oracle"},
        "g_errored": {"rows_match": None, "schema_match": None,
                      "hash_match": None, "err": "Exception: boom"},
    }))
    names = ["a_green_new", "b_green_old", "c_never", "d_never",
             "e_red", "f_rows_only", "g_errored"]
    got = registry.driver_priority(names, repo_root=str(tmp_path))
    assert got == [
        "c_never", "d_never",          # tier 0, alphabetical
        "e_red", "g_errored",          # tier 1 (latest red / errored)
        "b_green_old",                 # tier 2, r01 before r02
        "a_green_new", "f_rows_only",  # tier 2, r02 (no_oracle == green)
    ]


def test_ledger_reads_rounds_in_numeric_order(tmp_path):
    """r10 must supersede r09 (numeric, not lexicographic, round order)."""
    row_red = {"rows_match": True, "schema_match": True,
               "hash_match": False, "err": None}
    row_green = {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps({"q": row_red}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"q": row_green})
    )
    assert registry.record_ledger(str(tmp_path))["q"] == (10, True)


# Registered queries that do their real work while the query is BUILT
# (store replays, trainers, refresh loops) and return a local DataFrame:
# bench.py's timed noop save would measure a few local rows, so its
# comments keep them out of the head.
_EAGER_AT_BUILD = (
    "mix_split_incremental_eval",
    "ann_ivf_incremental_eval",
    "text_bpe_train_scale_eval",
    "pipeline_production_ingest_eval",
    "text_classifier_train_eval",
    "quality_refresh_eval",
    "bpe_vocab_refresh_eval",
    "pipeline_production_ingest_v3_eval",
    "pipeline_loop_consistency_eval",
)


def test_bench_head_is_registered_floored_and_lazy():
    """bench.BENCH_QUERIES: no duplicates, every name registered with a
    BENCH_FLOOR.json entry, and none of the eager-at-build queries."""
    import bench

    head = bench.BENCH_QUERIES
    assert len(set(head)) == len(head)
    assert set(head) <= set(registry.get_queries())
    with open(os.path.join(REPO, "BENCH_FLOOR.json"), encoding="utf-8") as f:
        floor = json.load(f)["queries"]
    assert [n for n in head if not floor.get(n)] == []
    assert set(_EAGER_AT_BUILD) <= set(registry.get_queries())
    assert set(head).isdisjoint(_EAGER_AT_BUILD)
