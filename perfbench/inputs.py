"""Seeded benchmark inputs.

Every input is a pure function of the seed: ``fixtures.gen_spans`` is a
pure function of ``doc_id``, and the seed only picks the doc-id namespace
(``s<seed>-...``) and, for long documents, a small jitter in each
document's span target. The golden canaries are the fixed
doc ids covered by ``goldens/sf0.01`` and ride along in every run.
"""

from __future__ import annotations

import os
import random
from typing import Dict, Iterator, List, Tuple

import pandas as pd

from docling_core_spark.fixtures import gen_spans

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = os.path.join(REPO, "goldens", "sf0.01")

# One partition per core on a 4-core host; the corpus sizes below are per
# partition so that one full-corpus job keeps every core busy for ~1 s.
EXTRACT_DOCS_PER_PART = 320
LONG_DOCS_PER_PART = 2
LONG_SPANS = (560, 5600)  # ~20-200 gen_spans streams of ~28 spans
DROP_FILES = 4
DROP_DOCS_PER_FILE = 64

# A spec is (doc_id, min_spans): 0 = the plain gen_spans(doc_id) document;
# n > 0 = gen_spans streams of derived ids concatenated, in order, until
# the document holds at least n spans.
Spec = Tuple[str, int]


def canary_ids() -> List[str]:
    """The 503 doc ids whose outputs goldens/sf0.01 pins."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(GOLDENS, "pipeline_exports.parquet"), columns=["doc_id"]
    )
    return t.column("doc_id").to_pylist()


def doc_spans(doc_id: str, min_spans: int) -> List[Dict]:
    if min_spans == 0:
        return gen_spans(doc_id)
    out: List[Dict] = []
    j = 0
    while len(out) < min_spans:
        out.extend(gen_spans(f"{doc_id}.{j:03d}"))
        j += 1
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def extract_specs(seed: int, parts: int) -> List[Spec]:
    """~28-span synthetic documents, EXTRACT_DOCS_PER_PART per partition."""
    n = EXTRACT_DOCS_PER_PART * parts
    return [(f"s{seed}-{i:08d}", 0) for i in range(n)]


def long_specs(seed: int, parts: int) -> List[Spec]:
    """Long multi-section documents of ~20-200 concatenated streams.

    Span targets are stratified over LONG_SPANS with a seeded jitter of
    at most 50 spans, so every seed has nearly the same size mix and span
    total (a stream holds 6-121 spans, so a fixed stream count would
    not); the content changes with the seed. Sizes are dealt
    largest-first in snake order so partition p holds specs
    [p*LONG_DOCS_PER_PART, (p+1)*LONG_DOCS_PER_PART) with similar span
    totals; the first partition holds the largest document.
    """
    rng = random.Random(f"perfbench-long-{seed}")
    n = LONG_DOCS_PER_PART * parts
    lo, hi = LONG_SPANS
    sizes = sorted(
        (
            lo + round((hi - lo) * (j + 0.5) / n) + rng.randint(-50, 50)
            for j in range(n)
        ),
        reverse=True,
    )
    by_part: List[List[int]] = [[] for _ in range(parts)]
    for j, k in enumerate(sizes):
        rnd, pos = divmod(j, parts)
        by_part[pos if rnd % 2 == 0 else parts - 1 - pos].append(k)
    flat = [k for part in by_part for k in part]
    return [(f"s{seed}-long-{i:03d}", k) for i, k in enumerate(flat)]


def quarter(specs: List[Spec], parts: int) -> List[Spec]:
    """The first partition's share: the work one core gets at full scale."""
    return specs[: len(specs) // parts]


def drop_specs(seed: int, drop: int, files: int) -> List[List[Spec]]:
    """One ingest drop: `files` parquet files of DROP_DOCS_PER_FILE docs."""
    return [
        [
            (f"s{seed}-d{drop:04d}-{f}-{i:03d}", 0)
            for i in range(DROP_DOCS_PER_FILE)
        ]
        for f in range(files)
    ]


def split_files(specs: List[Spec], files: int) -> List[List[Spec]]:
    per = -(-len(specs) // files)
    return [specs[i: i + per] for i in range(0, len(specs), per)]


def rows(specs: List[Spec]) -> List[Dict]:
    return [{"doc_id": d, "spans": doc_spans(d, k)} for d, k in specs]


def spark_docs(spark, specs: List[Spec], parts: int):
    """Spark DataFrame of DOCS_SCHEMA rows, generated on the executors.

    Spec i lands in range partition i * parts // len(specs), so a spec
    list laid out partition-major keeps its layout.
    """
    from docling_core_spark import schema as S

    frozen = list(specs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                rows([frozen[int(i)] for i in pdf["id"]]),
                columns=["doc_id", "spans"],
            )

    return spark.range(0, len(frozen), numPartitions=parts).mapInPandas(
        gen, schema=S.DOCS_SCHEMA
    )


def arrow_schema():
    import pyarrow as pa

    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    return pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(span), nullable=False),
    ])


def write_parquet(specs: List[Spec], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows(specs), schema=arrow_schema()),
                   path)
