"""Corpus keyword/frequency operators: corpus-wide top n-grams,
per-document TF-IDF keyword extraction, and two bounded-state sketches
(Count-Min heavy hitters, KMV distinct counting).

All are classic training-data diagnostics (what boilerplate phrases
dominate the corpus? what is each document about? how many distinct
phrases are there when the exact table doesn't fit?) expressed as pure
DataFrame aggregations with DuckDB oracles built from the same
constants.

Cross-engine float discipline (tfidf score): the idf division is exact
IEEE ((N+1)/(df+1), identical left-to-right order in both engines), ln
is 1-ulp libm in both, and the result is rounded to 6dp BEFORE both
output and ordering, with a lexical term tie-break, so Spark and DuckDB
produce identical rows and identical top-k cuts.

Reference analog: none (docling-core has no corpus analytics) — this is
the SURVEY.md §2 training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import constants as C, materialize, read_spread
from .textstats import TOKENS_DUCK, TOKENS_SPARK, _h30_duck, _h30_spark

TOP_NGRAMS_N = 2       # bigrams
TOP_NGRAMS_K = 100     # corpus-wide top-k
TFIDF_TOPK = 5         # keywords per document


def _bigram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, gram) bigram rows. toks is projected ONCE —
    a tokenizer referenced inside the transform lambda would re-split
    the whole document per gram position."""
    n = TOP_NGRAMS_N
    docs = read_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"case when size(toks) >= {n} then"
                f" transform(sequence(1, size(toks) - {n - 1}),"
                f"   i -> concat_ws(' ', slice(toks, i, {n})))"
                f" else array() end"
            )
        ).alias("gram"),
    )


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 bigrams by occurrence count (doc frequency
    carried along), deterministic (count desc, gram asc) order.

    100 TB story: one map-side-combined groupBy on the uniform gram key
    (the only wide exchange — distinct-bigram cardinality, not corpus
    size), then a TakeOrdered top-k; the 100-row rank window runs on the
    already-cut result, never on the full aggregate."""
    grams = _bigram_rows(spark, sf_dir)
    agg = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    top = agg.orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    ).limit(TOP_NGRAMS_K)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("gram"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "gram",
        "n_occurrences",
        "n_docs",
    )


def _grams_select_duck() -> str:
    """The exploded (doc_id, gram) bigram SELECT — the DuckDB twin of
    _bigram_rows, shared by every oracle that consumes the gram stream
    so they cannot tokenize differently."""
    n = TOP_NGRAMS_N
    return f"""
            SELECT doc_id, unnest(
                CASE WHEN len(toks) >= {n} THEN
                    list_transform(range(1, len(toks) - {n - 2}),
                        i -> array_to_string(toks[i:i + {n - 1}], ' '))
                ELSE [] END) AS gram
            FROM (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents)"""


def sql_top_ngrams() -> str:
    return f"""
        WITH grams AS ({_grams_select_duck()}
        ),
        agg AS (
            SELECT gram,
                   COUNT(*)::BIGINT AS n_occurrences,
                   COUNT(DISTINCT doc_id)::BIGINT AS n_docs
            FROM grams GROUP BY gram
        )
        SELECT row_number() OVER (
                   ORDER BY n_occurrences DESC, gram ASC
               )::BIGINT AS rank,
               gram, n_occurrences, n_docs
        FROM agg
        ORDER BY n_occurrences DESC, gram ASC
        LIMIT {TOP_NGRAMS_K}
    """


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 keywords by TF-IDF (smoothed idf =
    ln((N+1)/(df+1)), score = tf * idf rounded to 6dp).

    100 TB story: term-frequency groupBy on (doc_id, term) — uniform
    composite key; document-frequency groupBy on term (map-side
    combined; vocabulary-sized, not corpus-sized); the df table joins
    back on term (sort-merge at prod vocab scale); the final top-k is a
    per-doc window on uniform doc_id."""
    docs = read_spread(spark, sf_dir, "documents")
    # N joins in lazily as a broadcast 1-row aggregate (mirrors the
    # oracle's CROSS JOIN n CTE) — no eager count() job at plan time
    n_tbl = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df_tbl = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )
    scored = tf.join(df_tbl, "term").crossJoin(
        F.broadcast(n_tbl)
    ).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr(
            "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6)"
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def sql_tfidf_topk() -> str:
    return f"""
        WITH terms AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*)::BIGINT AS tf
            FROM terms GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)),
                         6) AS score
            FROM tf JOIN df USING (term) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, term, tf, df, score,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term ASC
                   )::BIGINT AS rank
            FROM scored
        )
        SELECT doc_id, rank, term, tf, df, score
        FROM ranked WHERE rank <= {TFIDF_TOPK}
    """


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters
# ---------------------------------------------------------------------------

# CMS geometry: D independent universal-hash rows x W counters. At 100 TB
# the sketch is the point — the FULL gram-frequency table may not fit
# anywhere, but D*W counters always do (here 4 KiB of longs), and the
# estimate error is bounded by eps = e/W of the total stream mass with
# probability 1 - e^-D (Cormode & Muthukrishnan 2005). Hash params come
# from the engine's deterministic LCG so Spark and DuckDB build the
# IDENTICAL sketch and the gate verifies it bit-for-bit.
CMS_ROWS = 4
CMS_WIDTH = 1024


def _gen_cms_params() -> list[tuple[int, int]]:
    g = C._lcg(20250817)
    out = []
    for _ in range(CMS_ROWS):
        a = (next(g) % (C.H30_MOD - 1)) | 1  # odd, < 2^30
        b = next(g) % C.H30_MOD
        out.append((a, b))
    return out


CMS_PARAMS = _gen_cms_params()


def _cms_cell(row: int, h: str) -> str:
    """One row's cell index, same text in both dialects. The inner
    modulus MUST be the prime MINHASH_P: reducing mod 2^30 first and
    then mod 1024 (which divides 2^30) would make every row a function
    of h mod 1024 — all D rows perfectly correlated, min() over rows
    never reducing error. a*h + b < 2^60 stays inside BIGINT for both
    engines, and h >= 0 keeps both %'s nonnegative."""
    a, b = CMS_PARAMS[row]
    return f"((({a} * {h} + {b}) % {C.MINHASH_P}) % {CMS_WIDTH})"


def _cms_cells_array(h: str, duck: bool) -> str:
    """The D-struct (row, cell) array — ONE source for the sketch and
    probe sides so their cell math cannot drift."""
    if duck:
        inner = ", ".join(
            f"{{'row': {r}, 'cell': {_cms_cell(r, h)}}}"
            for r in range(CMS_ROWS)
        )
        return f"[{inner}]"
    inner = ", ".join(
        f"named_struct('row', {r}, 'cell', {_cms_cell(r, h)})"
        for r in range(CMS_ROWS)
    )
    return f"array({inner})"


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimates for the exact top-100
    bigrams, alongside their true counts — the overestimate column
    (always >= 0, the CMS one-sided error) demonstrates the sketch's
    bound on real data.

    100 TB story: the sketch build is ONE map-side-combined groupBy
    whose key space is fixed at D*W cells regardless of corpus size —
    this is the pass that still works when the exact gram table
    doesn't. The probe side (top-100 grams x D cells) is broadcast
    against the <= D*W-row sketch."""
    grams = _bigram_rows(spark, sf_dir)
    hashed = grams.select(F.expr(_h30_spark("gram")).alias("h"))
    cells = hashed.select(
        F.explode(F.expr(_cms_cells_array("h", duck=False))).alias("rc")
    ).select("rc.row", "rc.cell")
    sketch = cells.groupBy("row", "cell").agg(
        F.count("*").cast("bigint").alias("cnt")
    )

    probes = q_top_ngrams(spark, sf_dir).select(
        "rank", "gram", "n_occurrences",
        F.expr(_h30_spark("gram")).alias("h"),
    )
    probe_cells = probes.select(
        "rank", "gram", "n_occurrences",
        F.explode(F.expr(_cms_cells_array("h", duck=False))).alias("rc"),
    ).select("rank", "gram", "n_occurrences", "rc.row", "rc.cell")
    est = (
        F.broadcast(probe_cells)
        .join(sketch, ["row", "cell"])
        .groupBy("rank", "gram", "n_occurrences")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
    )
    return est.select(
        "rank", "gram",
        F.col("n_occurrences").alias("true_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_occurrences"))
        .cast("bigint").alias("overestimate"),
    )


def sql_cms_heavy_hitters() -> str:
    h = _h30_duck("gram")
    cells = _cms_cells_array(h, duck=True)
    return f"""
        WITH grams AS ({_grams_select_duck()}
        ),
        cells AS (
            SELECT unnest({cells}, recursive := true)
            FROM grams
        ),
        sketch AS (
            SELECT "row", cell, COUNT(*)::BIGINT AS cnt
            FROM cells GROUP BY "row", cell
        ),
        top AS ({sql_top_ngrams()}),
        probe_cells AS (
            SELECT rank, gram, n_occurrences,
                   unnest({cells}, recursive := true)
            FROM top
        )
        SELECT p.rank, p.gram,
               p.n_occurrences AS true_count,
               min(s.cnt)::BIGINT AS cms_estimate,
               (min(s.cnt) - p.n_occurrences)::BIGINT AS overestimate
        FROM probe_cells p JOIN sketch s USING ("row", cell)
        GROUP BY p.rank, p.gram, p.n_occurrences
    """


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch
# ---------------------------------------------------------------------------

# k minimum values: keep the K smallest distinct 30-bit gram hashes;
# estimate |distinct| as (K-1) * H30_MOD / h_K (Bar-Yossef et al. 2002).
# Like the CMS, the sketch is the 100 TB point: K longs of state
# estimate a distinct count no matter how large the stream, where the
# exact COUNT(DISTINCT) needs a vocabulary-sized shuffle.
KMV_K = 256


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report: exact distinct-bigram count next to the KMV
    estimate from the K smallest hashes, with the signed relative
    error. When the stream has fewer than K distinct values the sketch
    holds them all and the estimate is exact by construction.

    100 TB story: the estimate path is distinct-on-hash (uniform key,
    map-side combined) followed by a TakeOrdered bottom-K — K longs of
    driver state. The exact count (one more wide agg) rides along only
    as the report's ground truth."""
    grams = _bigram_rows(spark, sf_dir)
    hashes = grams.select(
        F.expr(_h30_spark("gram")).alias("h")
    ).distinct()
    bottom = hashes.orderBy(F.asc("h")).limit(KMV_K)
    sketch = bottom.agg(
        F.count("*").cast("bigint").alias("k_held"),
        F.max("h").cast("bigint").alias("h_k"),
    )
    exact = hashes.agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )
    est = (
        f"case when k_held < {KMV_K} then cast(k_held as double)"
        f" else ({KMV_K} - 1) * cast({C.H30_MOD} as double) / h_k end"
    )
    return sketch.crossJoin(F.broadcast(exact)).select(
        "exact_distinct",
        "k_held",
        F.expr(f"round({est}, 6)").alias("kmv_estimate"),
        F.expr(
            # empty stream (no bigrams at all): estimate is exactly 0
            # too, so define rel_error := 0 instead of dividing by 0
            "case when exact_distinct = 0 then 0.0 else"
            f" round(({est} - exact_distinct)"
            " / cast(exact_distinct as double), 6) end"
        ).alias("rel_error"),
    )


def sql_kmv_distinct() -> str:
    h = _h30_duck("gram")
    est = (
        f"CASE WHEN k_held < {KMV_K} THEN k_held::DOUBLE"
        f" ELSE ({KMV_K} - 1) * {C.H30_MOD}::DOUBLE / h_k END"
    )
    return f"""
        WITH grams AS ({_grams_select_duck()}
        ),
        hashes AS (
            SELECT DISTINCT {h} AS h FROM grams
        ),
        bottom AS (
            SELECT h FROM hashes ORDER BY h ASC LIMIT {KMV_K}
        ),
        sketch AS (
            SELECT COUNT(*)::BIGINT AS k_held, max(h)::BIGINT AS h_k
            FROM bottom
        ),
        exact AS (
            SELECT COUNT(*)::BIGINT AS exact_distinct FROM hashes
        )
        SELECT exact_distinct, k_held,
               round({est}, 6) AS kmv_estimate,
               CASE WHEN exact_distinct = 0 THEN 0.0 ELSE
                    round(({est} - exact_distinct)
                          / exact_distinct::DOUBLE, 6) END AS rel_error
        FROM sketch CROSS JOIN exact
    """


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5   # count floor: PMI is unstable on rare pairs
PMI_TOPK = 100


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations by pointwise mutual information
    PMI(a,b) = ln( p(ab) / (p(a) p(b)) ) with a count floor — the
    classic collocation detector (Church & Hanks 1990): high-PMI pairs
    are multiword units ("los angeles"), low/negative PMI at high count
    is boilerplate glue.

    Float discipline: the probability ratio is assembled as ONE double
    expression in identical left-to-right order in both dialects —
    (c_ab * N * N) / (M * c_a * c_b), all factors exact BIGINT counts,
    products in double (IEEE multiplication is order-deterministic),
    ln is 1-ulp libm in both engines (same contract as tfidf/lm_score),
    and the result is floored to micro-nats BEFORE ordering, with a
    lexical gram tie-break, so the top-k cut is identical.

    100 TB story: bigram and unigram counts are two map-side-combined
    groupBys on uniform term keys; the count floor cuts the bigram
    table BEFORE the two vocabulary-keyed joins; the corpus scalars
    (N, M) broadcast; the final cut is TakeOrdered, never a full sort.
    Reference analog: none (SURVEY.md §2.8)."""
    grams = _bigram_rows(spark, sf_dir)
    big = (
        grams.groupBy("gram")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    m_tot = big.agg(
        F.sum("c_ab").cast("bigint").alias("m_tot")
    )
    docs = read_spread(spark, sf_dir, "documents")
    uni = (
        docs.select(
            F.explode(F.expr(TOKENS_SPARK)).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n_tot = uni.agg(F.sum("c").cast("bigint").alias("n_tot"))
    cand = (
        big.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .withColumn("w1", F.expr("element_at(split(gram, ' '), 1)"))
        .withColumn("w2", F.expr("element_at(split(gram, ' '), 2)"))
        .join(uni.select(F.col("tok").alias("w1"),
                         F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("tok").alias("w2"),
                         F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(m_tot))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "gram",
            F.col("c_ab").alias("n_occurrences"),
            F.expr(
                "cast(floor(ln((cast(c_ab as double) * n_tot * n_tot)"
                " / (cast(m_tot as double) * c_a * c_b))"
                " * 1000000) as bigint)"
            ).alias("pmi_micro"),
        )
    )
    top = cand.orderBy(
        F.desc("pmi_micro"), F.asc("gram")
    ).limit(PMI_TOPK)
    w = Window.orderBy(F.desc("pmi_micro"), F.asc("gram"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "gram", "n_occurrences", "pmi_micro",
    )


def sql_pmi_pairs() -> str:
    return f"""
        WITH grams AS ({_grams_select_duck()}
        ),
        big AS (
            SELECT gram, COUNT(*)::BIGINT AS c_ab
            FROM grams GROUP BY gram
        ),
        m_tot AS (SELECT SUM(c_ab)::BIGINT AS m_tot FROM big),
        uni AS (
            SELECT tok, COUNT(*)::BIGINT AS c
            FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
            GROUP BY tok
        ),
        n_tot AS (SELECT SUM(c)::BIGINT AS n_tot FROM uni),
        cand AS (
            SELECT b.gram, b.c_ab AS n_occurrences,
                   floor(ln((b.c_ab::DOUBLE * n_tot * n_tot)
                            / (m_tot::DOUBLE * u1.c * u2.c))
                         * 1000000)::BIGINT AS pmi_micro
            FROM big b
            JOIN uni u1 ON u1.tok = str_split(b.gram, ' ')[1]
            JOIN uni u2 ON u2.tok = str_split(b.gram, ' ')[2]
            CROSS JOIN m_tot CROSS JOIN n_tot
            WHERE b.c_ab >= {PMI_MIN_COUNT}
        )
        SELECT row_number() OVER (
                   ORDER BY pmi_micro DESC, gram ASC
               )::BIGINT AS rank,
               gram, n_occurrences, pmi_micro
        FROM cand
        ORDER BY pmi_micro DESC, gram ASC
        LIMIT {PMI_TOPK}
    """


# ---------------------------------------------------------------------------
# Zipf fit
# ---------------------------------------------------------------------------

ZIPF_TOPK = 1000


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares Zipf fit over the top-1000 unigram
    frequencies: slope of ln(freq) on ln(rank) (Zipf's law predicts
    ~ -1; a corpus whose slope drifts far from it is template-heavy or
    tokenizer-broken — a standard corpus-health scalar, Zipf 1949).

    Float discipline: x = floor(ln(rank) * 1e6), y = floor(ln(freq)
    * 1e6) are exact BIGINTs, their sums/products aggregate exactly;
    the final slope assembles those exact integers in ONE identical
    double expression per dialect, rounded to 6dp.

    100 TB story: unigram counts are one map-side-combined groupBy;
    the top-1000 cut is TakeOrdered; the rank window and the fit run
    over 1000 rows. Output 1 row."""
    docs = read_spread(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    top = uni.orderBy(F.desc("freq"), F.asc("tok")).limit(ZIPF_TOPK)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    xy = top.select(
        F.expr(
            "cast(floor(ln(cast(row_number() over ("
            "order by freq desc, tok asc) as double)) * 1000000)"
            " as bigint)"
        ).alias("x"),
        F.expr(
            "cast(floor(ln(cast(freq as double)) * 1000000) as bigint)"
        ).alias("y"),
    )
    return xy.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
    ).select(
        "n_terms",
        F.expr(
            "round((cast(n_terms as double) * sxy"
            " - cast(sx as double) * sy)"
            " / (cast(n_terms as double) * sxx"
            "    - cast(sx as double) * sx) / 1.0, 6)"
        ).alias("zipf_slope"),
    )


def sql_zipf_fit() -> str:
    return f"""
        WITH uni AS (
            SELECT tok, COUNT(*)::BIGINT AS freq
            FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
            GROUP BY tok
        ),
        top AS (
            SELECT freq, tok FROM uni
            ORDER BY freq DESC, tok ASC LIMIT {ZIPF_TOPK}
        ),
        xy AS (
            SELECT floor(ln((row_number() OVER (
                       ORDER BY freq DESC, tok ASC))::DOUBLE)
                   * 1000000)::BIGINT AS x,
                   floor(ln(freq::DOUBLE) * 1000000)::BIGINT AS y
            FROM top
        ),
        s AS (
            SELECT COUNT(*)::BIGINT AS n_terms,
                   SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
                   SUM(x * y)::BIGINT AS sxy,
                   SUM(x * x)::BIGINT AS sxx
            FROM xy
        )
        SELECT n_terms,
               round((n_terms::DOUBLE * sxy - sx::DOUBLE * sy)
                     / (n_terms::DOUBLE * sxx - sx::DOUBLE * sx)
                     / 1.0, 6) AS zipf_slope
        FROM s
    """


# HyperLogLog over the same bigram stream: 2^HLL_P registers, each
# holding the max leading-zero rank of the non-register hash bits —
# the OTHER classic bounded-state distinct sketch next to KMV (Flajolet
# et al. 2007). Register state is exact integers, so the sketch merges
# associatively across partitions (max is order-free) and the estimate
# derives from exact integer register values in one double step.
HLL_P = 8
HLL_M = 1 << HLL_P           # 256 registers
_HLL_WBITS = 30 - HLL_P      # rank range: 1 .. _HLL_WBITS + 1


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report: exact distinct-bigram count next to the HLL
    estimate (with the standard small-range linear-counting
    correction), plus register-health columns. Pairs with
    kmv_distinct: same stream, the two standard sketches side by side.

    100 TB story: register assignment and rank are per-row integer
    expressions; the ONLY exchange is groupBy(register) max — a
    CONSTANT 256-key space with map-side combine (each partition emits
    <= 256 rows no matter how many grams it holds); the estimate folds
    256 exact integers. Σ2^-M integerises as Σ(1 << (W+1-M)) / 2^(W+1)
    so no float is ever summed across rows. The exact count rides
    along only as the report's ground truth."""
    w1 = _HLL_WBITS + 1
    grams = _bigram_rows(spark, sf_dir)
    regs = (
        grams.select(F.expr(_h30_spark("gram")).alias("h"))
        .select(
            F.expr(f"h % {HLL_M}").alias("reg"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .select(
            "reg",
            F.expr(
                f"case when w = 0 then {w1}"
                f" else cast({w1} - length(bin(w)) as int) end"
            ).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )
    full = (
        spark.range(HLL_M).select(F.col("id").alias("reg"))
        .join(regs, "reg", "left")
        .select(F.coalesce("mx", F.lit(0)).alias("m"))
    )
    folded = full.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {w1} - m)"))
        .cast("bigint").alias("s_scaled"),
        F.sum(F.expr("cast(m = 0 as bigint)")).cast("bigint")
        .alias("n_zero_regs"),
    )
    exact = (
        grams.select(F.expr(_h30_spark("gram")).alias("h"))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("exact_distinct"))
    )
    # D suffixes force DOUBLE literals: Spark parses bare decimal
    # literals as DECIMAL and the decimal-arithmetic alpha diverges
    # from DuckDB's double in the 6th decimal of the estimate
    alpha = f"(0.7213D / (1.0D + 1.079D / {HLL_M}.0D))"
    e_raw = (
        f"{alpha} * {HLL_M}.0D * {HLL_M}.0D"
        f" / (s_scaled / cast(shiftleft(cast(1 as bigint), {w1})"
        f" as double))"
    )
    est = (
        f"case when {e_raw} <= 2.5D * {HLL_M} and n_zero_regs > 0"
        f" then {HLL_M}.0D * ln({HLL_M}.0D / n_zero_regs)"
        f" else {e_raw} end"
    )
    return folded.crossJoin(F.broadcast(exact)).select(
        "exact_distinct",
        "n_zero_regs",
        F.expr(f"round({est}, 6)").alias("hll_estimate"),
        F.expr(
            "case when exact_distinct = 0 then 0.0 else"
            f" round(({est} - exact_distinct)"
            " / cast(exact_distinct as double), 6) end"
        ).alias("rel_error"),
    )


def sql_hll_distinct() -> str:
    h = _h30_duck("gram")
    w1 = _HLL_WBITS + 1
    alpha = f"(0.7213 / (1.0 + 1.079 / {HLL_M}.0))"
    e_raw = (
        f"{alpha} * {HLL_M}.0 * {HLL_M}.0"
        f" / (s_scaled / (1::BIGINT << {w1})::DOUBLE)"
    )
    est = (
        f"CASE WHEN {e_raw} <= 2.5 * {HLL_M} AND n_zero_regs > 0"
        f" THEN {HLL_M}.0 * ln({HLL_M}.0 / n_zero_regs)"
        f" ELSE {e_raw} END"
    )
    return f"""
        WITH grams AS ({_grams_select_duck()}
        ),
        hs AS (SELECT {h} AS h FROM grams),
        regs AS (
            SELECT h % {HLL_M} AS reg,
                   MAX(CASE WHEN h // {HLL_M} = 0 THEN {w1}
                       ELSE {w1} - length(bin((h // {HLL_M})::BIGINT))
                       END) AS mx
            FROM hs GROUP BY h % {HLL_M}
        ),
        allregs AS (
            SELECT r.reg, COALESCE(regs.mx, 0) AS m
            FROM range(0, {HLL_M}) AS r(reg)
            LEFT JOIN regs ON regs.reg = r.reg
        ),
        folded AS (
            SELECT SUM(1::BIGINT << ({w1} - m))::BIGINT AS s_scaled,
                   SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_zero_regs
            FROM allregs
        ),
        exact AS (
            SELECT COUNT(DISTINCT {h})::BIGINT AS exact_distinct
            FROM grams
        )
        SELECT exact_distinct, n_zero_regs,
               round({est}, 6) AS hll_estimate,
               CASE WHEN exact_distinct = 0 THEN 0.0 ELSE
                    round(({est} - exact_distinct)
                          / exact_distinct::DOUBLE, 6) END AS rel_error
        FROM folded CROSS JOIN exact
    """


# ---------------------------------------------------------------------------
# Distributed BPE merge learning (first iteration pair statistics)
# ---------------------------------------------------------------------------

BPE_TOPK = 64  # merge candidates reported per iteration


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed iteration of BPE tokenizer training (Sennrich et
    al. 2016): corpus word counts, then adjacent in-word symbol pairs
    (characters at iteration 1) weighted by word frequency, ranked by
    total count with a lexical tie-break — the top row IS the next
    merge. Production loops this exact groupBy K times with the symbol
    sequences re-segmented after each merge (the engine's vendored
    WordPiece vocab was trained by the same offline loop,
    tools/gen_vocab.py); the gate verifies the iteration itself.

    100 TB story: the corpus collapses to the WORD-count table first
    (one map-side-combined groupBy on the uniform word key — vocabulary
    cardinality, not corpus rows), so pair expansion and every later
    iteration run over the vocabulary, never the corpus; the pair
    rollup is a second map-side-combined groupBy onto the tiny
    symbol-pair key space, then TakeOrdered top-K. Hot words ("the")
    cost one vocabulary row each regardless of corpus frequency.
    Reference analog: none (SURVEY.md §2.8)."""
    docs = read_spread(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr(TOKENS_SPARK)).alias("word")
    ).where(F.col("word") != "")
    wc = words.groupBy("word").agg(
        F.count("*").cast("bigint").alias("wcount")
    )
    pairs = wc.where(F.expr("char_length(word) >= 2")).select(
        "word",
        "wcount",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1),"
                " i -> concat(substr(word, i, 1), ' ',"
                "             substr(word, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("wcount").cast("bigint").alias("pair_count"),
        F.countDistinct("word").cast("bigint").alias("n_word_types"),
    )
    top = agg.orderBy(F.desc("pair_count"), F.asc("pair")).limit(BPE_TOPK)
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "pair",
        "pair_count",
        "n_word_types",
    )


def sql_bpe_pair_counts() -> str:
    return f"""
        WITH words AS (
            SELECT unnest({TOKENS_DUCK}) AS word FROM documents
        ),
        wc AS (
            SELECT word, COUNT(*)::BIGINT AS wcount
            FROM words WHERE word != '' GROUP BY word
        ),
        p AS (
            SELECT word, wcount,
                   unnest(list_transform(range(1, length(word)),
                       i -> substr(word, i, 1) || ' '
                            || substr(word, i + 1, 1))) AS pair
            FROM wc WHERE length(word) >= 2
        ),
        agg AS (
            SELECT pair,
                   SUM(wcount)::BIGINT AS pair_count,
                   COUNT(DISTINCT word)::BIGINT AS n_word_types
            FROM p GROUP BY pair
        )
        SELECT row_number() OVER (
                   ORDER BY pair_count DESC, pair ASC
               )::BIGINT AS rank,
               pair, pair_count, n_word_types
        FROM agg
        ORDER BY pair_count DESC, pair ASC
        LIMIT {BPE_TOPK}
    """


# ---------------------------------------------------------------------------
# KMV cross-source overlap (sketch-based mirror detection)
# ---------------------------------------------------------------------------

# per-(source, salt) bottom-K cut fan-out (same two-level discipline as
# bm25's salted top-K: the K smallest of a set are contained in the
# union over salts of the per-salt K smallest)
KMV_OVL_SALTS = 16


def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-content overlap from bounded-state KMV sketches:
    per source, the K smallest distinct bigram hashes; per source pair,
    the standard KMV union/Jaccard estimator (Beyer et al., SIGMOD'07 —
    the theta-sketch set-operation trick): merge the two bottom-K sets,
    re-cut to the K smallest, and estimate J = |bottomK(A u B) n A n B|
    / min(K, |A u B held|). The exact hash-set Jaccard rides along as
    ground truth.

    This is the SKETCH twin of `source_overlap` (cluster-based mirror
    matrix): at 100 TB the exact arm's h-keyed self-join is a
    corpus-wide shuffle, while the sketch arm's state is K longs PER
    SOURCE no matter how many shingles each source carries — the
    per-source bottom-K is a salted two-level cut (K per (source,
    salt), then K over K x SALTS rows), so no partition ever holds a
    whole source's hash set. Sources are a small dimension: the pair
    expansion and the estimator run over <= sources^2 x K rows.

    Reference analog: none (SURVEY.md §2.8).
    """
    n = TOP_NGRAMS_N
    docs = read_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.expr(TOKENS_SPARK).alias("toks")
    )
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                f"case when size(toks) >= {n} then"
                f" transform(sequence(1, size(toks) - {n - 1}),"
                f"   i -> concat_ws(' ', slice(toks, i, {n})))"
                f" else array() end"
            )
        ).alias("gram"),
    )
    # the distinct (source, h) table fans into FOUR plan branches
    # (sketch arm, sizes, and both sides of the exact self-join);
    # materialize it, or the corpus-wide bigram explode + md5 hash is
    # recomputed per branch (the self-join alone evaluates it twice)
    sh = materialize(
        spark, ("kmv_src_h", sf_dir),
        lambda: grams.select(
            "source", F.expr(_h30_spark("gram")).alias("h")
        ).distinct(),
    )

    # --- sketch arm: salted two-level bottom-K per source -------------
    salted = sh.withColumn(
        "salt", F.expr(f"cast(h % {KMV_OVL_SALTS} as int)")
    )
    w1 = Window.partitionBy("source", "salt").orderBy(F.asc("h"))
    w2 = Window.partitionBy("source").orderBy(F.asc("h"))
    sk = (
        salted.withColumn("r1", F.row_number().over(w1))
        .where(f"r1 <= {KMV_K}")
        .withColumn("rnk", F.row_number().over(w2))
        .where(f"rnk <= {KMV_K}")
        .select("source", "h")
    )

    srcs = docs.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(F.broadcast(srcs.alias("b")))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
    )
    ua = (
        pairs.join(
            sk.withColumnRenamed("source", "source_a"), "source_a"
        ).select(
            "source_a", "source_b", "h",
            F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
        )
    )
    ub = (
        pairs.join(
            sk.withColumnRenamed("source", "source_b"), "source_b"
        ).select(
            "source_a", "source_b", "h",
            F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
        )
    )
    merged = (
        ua.unionByName(ub)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("source_a", "source_b").orderBy(F.asc("h"))
    bottom = merged.withColumn("rn", F.row_number().over(wu)).where(
        f"rn <= {KMV_K}"
    )
    est = bottom.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.sum(F.expr("in_a * in_b")).cast("bigint").alias("n_common"),
    )

    # --- exact arm (report ground truth; dropped at 100 TB) -----------
    sizes = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_h")
    )
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "h")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("exact_inter"))
    )
    exact = (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n_h", "na")), "source_a"
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("n_h", "nb")), "source_b"
        )
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.coalesce("exact_inter", F.lit(0)).cast("bigint").alias(
                "exact_inter"
            ),
            (F.col("na") + F.col("nb")
             - F.coalesce("exact_inter", F.lit(0))).cast("bigint").alias(
                "exact_union"
            ),
        )
    )
    return exact.join(est, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "exact_inter",
        "exact_union",
        F.expr(
            "case when exact_union = 0 then 0.0 else round("
            "cast(exact_inter as double) / cast(exact_union as double),"
            " 6) end"
        ).alias("exact_jaccard"),
        F.coalesce("k_used", F.lit(0)).cast("bigint").alias("k_used"),
        F.coalesce("n_common", F.lit(0)).cast("bigint").alias(
            "n_common_bottomk"
        ),
        F.expr(
            "case when coalesce(k_used, 0) = 0 then 0.0 else round("
            "cast(coalesce(n_common, 0) as double)"
            " / cast(k_used as double), 6) end"
        ).alias("kmv_jaccard"),
    )


def sql_kmv_source_overlap() -> str:
    n = TOP_NGRAMS_N
    h = _h30_duck("gram")
    return f"""
        WITH grams AS (
            SELECT source, unnest(
                CASE WHEN len(toks) >= {n} THEN
                    list_transform(range(1, len(toks) - {n - 2}),
                        i -> array_to_string(toks[i:i + {n - 1}], ' '))
                ELSE [] END) AS gram
            FROM (SELECT source, {TOKENS_DUCK} AS toks FROM documents)
        ),
        sh AS (
            SELECT DISTINCT source, {h} AS h FROM grams
        ),
        sk AS (
            SELECT source, h FROM (
                SELECT source, h, row_number() OVER (
                    PARTITION BY source ORDER BY h ASC
                ) AS rnk FROM sh
            ) WHERE rnk <= {KMV_K}
        ),
        srcs AS (SELECT DISTINCT source FROM documents),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b
            FROM srcs a JOIN srcs b ON a.source < b.source
        ),
        merged AS (
            SELECT source_a, source_b, h,
                   MAX(in_a) AS in_a, MAX(in_b) AS in_b
            FROM (
                SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
                FROM pairs p JOIN sk s ON s.source = p.source_a
                UNION ALL
                SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
                FROM pairs p JOIN sk s ON s.source = p.source_b
            ) GROUP BY source_a, source_b, h
        ),
        bottom AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY source_a, source_b ORDER BY h ASC
                ) AS rn FROM merged
            ) WHERE rn <= {KMV_K}
        ),
        est AS (
            SELECT source_a, source_b,
                   COUNT(*)::BIGINT AS k_used,
                   SUM(in_a * in_b)::BIGINT AS n_common
            FROM bottom GROUP BY source_a, source_b
        ),
        sizes AS (
            SELECT source, COUNT(*)::BIGINT AS n_h FROM sh GROUP BY source
        ),
        inter AS (
            SELECT x.source AS source_a, y.source AS source_b,
                   COUNT(*)::BIGINT AS exact_inter
            FROM sh x JOIN sh y
              ON x.h = y.h AND x.source < y.source
            GROUP BY x.source, y.source
        ),
        exact AS (
            SELECT p.source_a, p.source_b,
                   COALESCE(i.exact_inter, 0)::BIGINT AS exact_inter,
                   (sa.n_h + sb.n_h - COALESCE(i.exact_inter, 0))::BIGINT
                       AS exact_union
            FROM pairs p
            JOIN sizes sa ON sa.source = p.source_a
            JOIN sizes sb ON sb.source = p.source_b
            LEFT JOIN inter i
              ON i.source_a = p.source_a AND i.source_b = p.source_b
        )
        SELECT e.source_a, e.source_b, e.exact_inter, e.exact_union,
               CASE WHEN e.exact_union = 0 THEN 0.0 ELSE round(
                   e.exact_inter::DOUBLE / e.exact_union::DOUBLE, 6) END
                   AS exact_jaccard,
               COALESCE(s.k_used, 0)::BIGINT AS k_used,
               COALESCE(s.n_common, 0)::BIGINT AS n_common_bottomk,
               CASE WHEN COALESCE(s.k_used, 0) = 0 THEN 0.0 ELSE round(
                   COALESCE(s.n_common, 0)::DOUBLE / s.k_used::DOUBLE,
                   6) END AS kmv_jaccard
        FROM exact e
        LEFT JOIN est s
          ON s.source_a = e.source_a AND s.source_b = e.source_b
    """
