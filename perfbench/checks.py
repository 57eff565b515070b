"""Output checks: golden canaries, single-process references, row accounting.

A record is one output row reduced to comparable fields: md5s of the four
pipeline exports, ``n_items`` and (for canaries) the span sequence, or
``reload_md5``/``stable`` for the doctags round trip. The check never
trusts the stage under test: canaries are compared with the committed
goldens, a sample of other documents with the same stage function run
single-process, and the set of output doc ids with the input ids.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Set

PIPELINE_FIELDS = (
    "markdown_md5", "doctags_md5", "html_full_md5", "etree_md5", "n_items",
)
ROUNDTRIP_FIELDS = ("reload_md5", "stable")


def md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def pipeline_record(out: dict) -> dict:
    """Record of one `pipeline.process_doc` output dict."""
    return {
        "doc_id": out["doc_id"],
        "markdown_md5": md5(out["markdown"]),
        "doctags_md5": md5(out["doctags"]),
        "html_full_md5": md5(out["html"]),
        "etree_md5": md5(out["etree"]),
        "n_items": int(out["n_items"]),
        "span_seq": [
            (int(s["order"]), s["kind"], s["text"], s["media_ref"])
            for s in out["span_seq"]
        ],
    }


def roundtrip_record(out: dict) -> dict:
    """Record of one `pipeline.roundtrip_doc` output dict."""
    return {
        "doc_id": out["doc_id"],
        "reload_md5": out["reload_md5"],
        "stable": bool(out["stable"]),
    }


def load_goldens(goldens_dir: str, stage: str) -> Dict[str, dict]:
    """doc_id -> golden record for the `pipeline` or `roundtrip` stage."""
    import pyarrow.parquet as pq

    if stage == "roundtrip":
        t = pq.read_table(
            os.path.join(goldens_dir, "pipeline_doctags_roundtrip.parquet")
        ).to_pylist()
        return {r["doc_id"]: roundtrip_record(r) for r in t}
    gold = {
        r["doc_id"]: {"doc_id": r["doc_id"], "span_seq": [],
                      **{f: r[f] for f in PIPELINE_FIELDS}}
        for r in pq.read_table(
            os.path.join(goldens_dir, "pipeline_exports.parquet")
        ).to_pylist()
    }
    seq = pq.read_table(
        os.path.join(goldens_dir, "pipeline_span_seq.parquet")
    ).to_pylist()
    for r in sorted(seq, key=lambda r: (r["doc_id"], r["ord"])):
        gold[r["doc_id"]]["span_seq"].append(
            (int(r["ord"]), r["kind"], r["text"], r["media_ref"])
        )
    return gold


@dataclass
class Report:
    """Failed doc ids with one message per failure."""

    failed: Set[str] = field(default_factory=set)
    messages: List[str] = field(default_factory=list)

    def fail(self, doc_id: str, msg: str) -> None:
        self.failed.add(doc_id)
        self.messages.append(f"{doc_id}: {msg}")

    def merge(self, other: "Report") -> None:
        self.failed |= other.failed
        self.messages.extend(other.messages)


def _diff(rec: dict, want: dict, fields: Iterable[str]) -> List[str]:
    return [
        f"{f} {rec.get(f)!r} != {want.get(f)!r}"
        for f in fields if rec.get(f) != want.get(f)
    ]


def check_records(
    records: List[dict],
    expected_ids: Iterable[str],
    fields: Iterable[str],
    golden: Optional[Dict[str, dict]] = None,
    reference: Optional[Dict[str, dict]] = None,
) -> Report:
    """Check stage output records.

    Every expected id must appear exactly once and no other id may
    appear; records whose id has a golden must match it on `fields` (and
    on `span_seq` when the record carries one); records whose id has a
    single-process reference must match it the same way.
    """
    rep = Report()
    fields = tuple(fields)
    expected = Counter(expected_ids)
    seen = Counter(r["doc_id"] for r in records)
    for d in expected:
        if seen[d] == 0:
            rep.fail(d, "lost: no output row")
        elif seen[d] > expected[d]:
            rep.fail(d, f"duplicated: {seen[d]} output rows")
    for d in seen:
        if d not in expected:
            rep.fail(d, "unexpected output row")
    for rec in records:
        d = rec["doc_id"]
        for name, want in (("golden", (golden or {}).get(d)),
                           ("reference", (reference or {}).get(d))):
            if want is None:
                continue
            diffs = _diff(rec, want, fields)
            if rec.get("span_seq") is not None and "span_seq" in want \
                    and rec["span_seq"] != want["span_seq"]:
                diffs.append("span_seq differs")
            for msg in diffs:
                rep.fail(d, f"{name} mismatch: {msg}")
    return rep
