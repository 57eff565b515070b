"""Tests of the benchmark itself: input determinism and the output check.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts Spark and runs one short `extract` run (~40 s).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench import checks, compare, inputs, stages  # noqa: E402

# Two seeds must give the same corpus shape within these tolerances.
EXTRACT_SPANS_PER_DOC_TOL = 0.03
LONG_TOTAL_SPANS_TOL = 0.02


def _spans(specs):
    return [len(inputs.doc_spans(d, k)) for d, k in specs]


def test_same_seed_same_inputs():
    for make in (inputs.extract_specs, inputs.long_specs):
        a, b = make(7, 4), make(7, 4)
        assert a == b
        assert inputs.rows(a[:3]) == inputs.rows(b[:3])
    assert inputs.drop_specs(7, 2, 4) == inputs.drop_specs(7, 2, 4)


def test_seeds_differ_with_same_distribution():
    a, b = inputs.extract_specs(1, 4), inputs.extract_specs(2, 4)
    assert not {d for d, _ in a} & {d for d, _ in b}
    ma, mb = statistics.mean(_spans(a)), statistics.mean(_spans(b))
    assert abs(ma - mb) / ma < EXTRACT_SPANS_PER_DOC_TOL

    la, lb = inputs.long_specs(1, 4), inputs.long_specs(2, 4)
    assert not {d for d, _ in la} & {d for d, _ in lb}
    ta, tb = sum(_spans(la)), sum(_spans(lb))
    assert abs(ta - tb) / ta < LONG_TOTAL_SPANS_TOL
    sizes = _spans(la)
    assert 500 < min(sizes) and max(sizes) < 5800
    # partition 0 (the quarter) holds the largest document
    assert max(sizes) == max(sizes[: len(la) // 4])

    da, db = inputs.drop_specs(1, 0, 4), inputs.drop_specs(2, 0, 4)
    assert not ({d for f in da for d, _ in f} & {d for f in db for d, _ in f})


def test_canaries_are_the_golden_ids():
    ids = inputs.canary_ids()
    assert len(ids) == len(set(ids)) == 503


@pytest.fixture(scope="module")
def golden():
    return checks.load_goldens(inputs.GOLDENS, "pipeline")


def _check(records, ids, golden):
    return checks.check_records(records, ids, checks.PIPELINE_FIELDS, golden)


def test_golden_records_pass_their_own_check(golden):
    recs = [dict(r) for r in golden.values()]
    rep = _check(recs, list(golden), golden)
    assert not rep.failed and not rep.messages


@pytest.mark.parametrize("field", ["markdown_md5", "etree_md5", "n_items"])
def test_check_reports_a_corrupted_row(golden, field):
    recs = [dict(r) for r in golden.values()]
    recs[5][field] = 0 if field == "n_items" else "0" * 32
    rep = _check(recs, list(golden), golden)
    assert rep.failed == {recs[5]["doc_id"]}
    assert field in rep.messages[0]


def test_check_reports_a_corrupted_span_sequence(golden):
    recs = [dict(r) for r in golden.values()]
    i = next(i for i, r in enumerate(recs) if r["span_seq"])
    recs[i]["span_seq"] = recs[i]["span_seq"][:-1]
    rep = _check(recs, list(golden), golden)
    assert rep.failed == {recs[i]["doc_id"]}


def test_check_reports_lost_duplicated_and_unexpected_rows(golden):
    recs = [dict(r) for r in golden.values()]
    lost = recs.pop(10)["doc_id"]
    dup = recs[0]["doc_id"]
    recs.append(dict(recs[0]))
    recs.append({**recs[1], "doc_id": "not-an-input"})
    rep = _check(recs, list(golden), golden)
    assert rep.failed == {lost, dup, "not-an-input"}


def test_check_compares_with_single_process_reference():
    specs = inputs.extract_specs(3, 4)[:2]
    ref = stages.reference_records("pipeline", specs)
    recs = [dict(r) for r in ref.values()]
    ids = [d for d, _ in specs]
    assert not checks.check_records(recs, ids, checks.PIPELINE_FIELDS,
                                    None, ref).failed
    recs[1]["doctags_md5"] = "x"
    rep = checks.check_records(recs, ids, checks.PIPELINE_FIELDS, None, ref)
    assert rep.failed == {ids[1]}


def test_roundtrip_goldens_load_and_check():
    gold = checks.load_goldens(inputs.GOLDENS, "roundtrip")
    recs = [dict(r) for r in gold.values()]
    recs[0]["stable"] = not recs[0]["stable"]
    rep = checks.check_records(recs, list(gold), checks.ROUNDTRIP_FIELDS,
                               gold)
    assert rep.failed == {recs[0]["doc_id"]}


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 201)]
    t = stages.tail(xs)
    assert t["value"] == 190.0 and t["n"] == 200 and t["percentile"] == 95.0
    # below 100 samples no percentile from p90 up has ten beyond it
    for n in (5, 11, 99):
        assert stages.tail(xs[:n]) == {"value": float(n),
                                       "percentile": 100.0, "n": n}


def test_compare_rule():
    parent = [100.0 + i for i in range(10)]
    gain = compare.compare_metric(parent, [p + 20 for p in parent], 0.1,
                                  lower=False)
    assert gain["verdict"] == "GAIN" and gain["change_won"] == 10
    worse = compare.compare_metric(parent, [p * 0.8 for p in parent], 0.1,
                                   lower=False)
    assert worse["verdict"] == "WORSE"
    same = compare.compare_metric(parent, parent[::-1], 0.1, lower=False)
    assert same["verdict"] == "no regression"
    wide = [50.0, 150.0] * 5
    assert compare.compare_metric(wide, [v * 0.8 for v in wide], 0.1,
                                  lower=False)["verdict"] == "UNRESOLVED"


def test_command_exits_nonzero_on_a_corrupted_canary(
        monkeypatch, tmp_path, capsys):
    from perfbench import run

    real = stages.collect_records

    def corrupt_one(out, stage, seq_ids):
        recs = real(out, stage, seq_ids)
        canary = next(r for r in recs if r["doc_id"] == "doc-00000007")
        canary["markdown_md5"] = "0" * 32
        return recs

    monkeypatch.setattr(stages, "collect_records", corrupt_one)
    rc = run.main(["--workload", "extract", "--seed", "1", "--seconds", "1",
                   "--out", str(tmp_path)])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert last["correct"] is False and last["failed"] == 1
