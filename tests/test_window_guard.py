"""Enforces the COVERAGE global-window table (VERDICT r6 ask #4's
"any NEW unpartitioned window must land in this table or be fixed"):
every registered query's executed plan is scanned for
windowspecdefinitions with an empty partition spec, and any query
outside the justified allowlist fails the build instead of shipping a
single-task sort hiding in plain sight."""

from __future__ import annotations

import importlib.util
import sys

import pytest


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "window_audit", "tools/window_audit.py"
    )
    sys.path.insert(0, ".")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: queries whose global-order windows are justified in COVERAGE.md's
#: r7 window-audit table (bounded frames: rule tables, bucket tables,
#: post-limit top-k, distinct-value domains, per-source tables).
#: Adding a name here REQUIRES adding the justification row there.
ALLOWED_GLOBAL_WINDOWS = {
    "doc_length_ks_test",
    "filter_funnel_report",
    "heaps_law_fit",
    "hybrid_rrf_search",
    # AUC's cumulative-negatives window runs over the ROUND(p, 6)
    # score histogram — bounded by the 1e6+1-value grid, never data
    "logreg_auc_roc",
    "mixture_epoch_schedule",
    "orders_key_skew",
    "parts_pareto_front",
    "retention_kaplan_meier",
    "retrieval_ndcg",
    "source_lang_chi2",
    # stump's cumulative window runs over the 50-char bucket table
    # (|value range|/50 rows), never data rows
    "stump_doc_length_split",
    # the bucket-prefix window runs over the per-quality histogram
    # (one row per distinct ROUND(quality) value), never data rows
    "token_budget_selection",
    "token_zipf_fit",
    "training_shuffle_topk",
}


@pytest.mark.slow
def test_no_unexplained_global_windows(spark, sf_dir):
    wa = _load_audit()
    from bootcamp_stackacademy_datalake_minio_airflow_spark import queries as q

    offenders: dict[str, list[str]] = {}
    for name, fn in q.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = wa.unpartitioned_windows(plan)
        if hits and name not in ALLOWED_GLOBAL_WINDOWS:
            offenders[name] = hits
    assert not offenders, (
        "unpartitioned Window outside the COVERAGE-justified allowlist "
        f"(fix it or justify it in COVERAGE.md): {offenders}"
    )
    # the allowlist must not rot: every allowed name still registers
    gone = ALLOWED_GLOBAL_WINDOWS - set(q.queries())
    assert not gone, f"allowlisted queries no longer registered: {gone}"
