"""The golden checks pass on right results and catch deliberately wrong ones.

No Spark here: the checks take plain values. Run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from collections import Counter

import pandas as pd
import pytest

from perfbench import checks, inputs

# --- census / job oracle ------------------------------------------------------------


def _meta(doc_ids, malformed):
    counts = inputs.expected_kind_type_counts(doc_ids, malformed)
    return {"kind_type_counts": sorted([k, t, n] for (k, t), n in counts.items())}


def test_oracle_matches_the_parser_on_malformed_pages():
    """The closed form (from render_entry tags) equals what the grammar
    parses, malformed pages included — so a wrong parse is what fails."""
    from slowspark import grammar

    doc_ids = range(3 * inputs.SEED_STRIDE, 3 * inputs.SEED_STRIDE + 400)
    bad = {d for d in doc_ids if inputs.is_malformed(d)}
    assert bad, "the sample must contain malformed pages"
    parsed = Counter()
    for d in doc_ids:
        for e in grammar.parse_entries(inputs.page_row(d, d in bad)["text"]):
            parsed[(e["entry_kind"], e["sql_type"])] += 1
    assert checks.check_kind_type_counts(dict(parsed), _meta(doc_ids, bad)) == []


def test_any_seed_gives_renderable_pages():
    """Every integer seed folds onto a slot whose doc-id range render_page
    can render (its page timestamp is BASE_TS + doc_id seconds)."""
    for seed in (-7, 0, 999, 123_456, 987_654_321, 2**63):
        assert 0 <= inputs.seed_slot(seed) < inputs.SEED_SLOTS
    top = (inputs.SEED_SLOTS - 1) * inputs.SEED_STRIDE
    assert inputs.page_row(top + inputs.SEED_STRIDE - 1, malformed=True)["text"]


def test_kind_type_check_catches_wrong_counts():
    meta = _meta(range(200), set())
    right = checks.oracle_counts(meta)
    assert checks.check_kind_type_counts(dict(right), meta) == []
    moved = dict(right)
    moved[("SqlStatement", "SELECT")] -= 1
    moved[("SqlStatement", "INSERT")] += 1
    assert checks.check_kind_type_counts(moved, meta)
    extra = dict(right) | {("ParseError", None): 1}
    assert checks.check_kind_type_counts(extra, meta)
    missing = {k: n for k, n in right.items() if k[0] != "AdminCommand"}
    assert checks.check_kind_type_counts(missing, meta)


# --- job ----------------------------------------------------------------------------


def _job_state():
    manifests = {
        "parsed": {"row_count": 10, "content_hash": 111},
        "sql_statements": {"row_count": 6, "content_hash": 222},
        "admin_commands": {"row_count": 1, "content_hash": 333},
        "invalid_statements": {"row_count": 2, "content_hash": 444},
        "parse_errors": {"row_count": 1, "content_hash": 555},
    }
    counts = {s: m["row_count"] for s, m in manifests.items()}
    hashes = {s: m["content_hash"] for s, m in manifests.items()}
    return manifests, counts, hashes


def test_job_check_passes_consistent_state():
    assert checks.check_job(*_job_state()) == []


def test_job_check_catches_lost_routed_rows():
    manifests, counts, hashes = _job_state()
    manifests["parse_errors"]["row_count"] = 0
    counts["parse_errors"] = 0
    assert any("routed rows" in p for p in checks.check_job(manifests, counts, hashes))


def test_job_check_catches_wrong_manifest_row_count():
    manifests, counts, hashes = _job_state()
    counts["admin_commands"] = 2
    assert any("admin_commands" in p for p in checks.check_job(manifests, counts, hashes))


def test_job_check_catches_resume_hash_change():
    manifests, counts, hashes = _job_state()
    hashes["parsed"] += 1
    assert any("resume parsed" in p for p in checks.check_job(manifests, counts, hashes))


# --- rollup ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rollup_expected(tmp_path_factory):
    out = tmp_path_factory.mktemp("rollup")
    inputs.gen_rollup(str(out), seed=5, n_rows=3000)
    return checks.rollup_expected(os.path.join(out, "entries"))


def _as_spark_output(expected):
    """The oracle frames in the shape the Spark outputs arrive in."""
    got = {k: v.copy() for k, v in expected.items()}
    h = got["hourly_rollup"]
    h["hour_start"] = pd.to_datetime(h.pop("hour") * 3600, unit="s")
    return got


def test_rollup_check_passes_oracle_shaped_output(rollup_expected):
    assert checks.check_rollup(_as_spark_output(rollup_expected), rollup_expected) == []


@pytest.mark.parametrize("corrupt", [
    lambda g: g["fingerprint_rollup"].loc.__setitem__(
        (0, "sum_query_time"), g["fingerprint_rollup"]["sum_query_time"][0] * (1 + 1e-6)),
    lambda g: g.__setitem__("sink_rollup", g["sink_rollup"].iloc[1:]),
    lambda g: g["top_k_slowest_per_fingerprint"].loc.__setitem__((0, "entry_id"), -1),
    lambda g: g["group_quantiles"].loc.__setitem__((0, "q95"), None),
    lambda g: g["hourly_rollup"].loc.__setitem__((0, "n"), 0),
    lambda g: g.pop("object_usage"),
], ids=["float", "lost-row", "wrong-id", "null", "count", "missing-output"])
def test_rollup_check_catches_wrong_output(rollup_expected, corrupt):
    got = _as_spark_output(rollup_expected)
    corrupt(got)
    assert checks.check_rollup(got, rollup_expected)


# --- graph ------------------------------------------------------------------------------


def _graph_out():
    return {
        "pagerank": pd.DataFrame({"node": ["a", "b", "c"], "rank": [0.5, 0.3, 0.2]}),
        "hits": pd.DataFrame({"node": ["a", "b", "c"], "hub": [0.6, 0.8, 0.0],
                              "authority": [0.0, 0.6, 0.8]}),
        "lpa": pd.DataFrame({"node": ["a", "b", "c"], "label": ["a", "a", "c"]}),
    }


def test_graph_checks_pass():
    out = _graph_out()
    assert checks.check_graph_invariants(out, {"a", "b", "c"}) == []
    assert checks.check_graph_paths_agree(out, _graph_out()) == []


def test_graph_check_catches_lost_pagerank_mass():
    out = _graph_out()
    out["pagerank"].loc[2, "rank"] = 0.19
    assert any("mass" in p for p in checks.check_graph_invariants(out, {"a", "b", "c"}))


def test_graph_check_catches_bad_labels_and_norms():
    out = _graph_out()
    out["lpa"].loc[1, "label"] = "z"
    out["hits"].loc[0, "hub"] = 0.5
    problems = checks.check_graph_invariants(out, {"a", "b", "c"})
    assert any("lpa" in p for p in problems) and any("hub" in p for p in problems)


def test_graph_check_catches_paths_disagreeing():
    other = _graph_out()
    other["pagerank"].loc[0, "rank"] += 1e-6
    assert checks.check_graph_paths_agree(_graph_out(), other)


# --- the benchmark refuses to run without the program ------------------------------------


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.dirname(__file__), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "census", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
