"""Round-17 graduated cohort: 26 of the 27 rows staged during round 16
(formerly plans/next_round.py), registered with the driver-graded
registry at the round-17 rotation per docs/ROTATION_R17.md. The 27th
staged row (team_draft_interleave_k6_generated) was held back one round
— its head slot funds the streaming_foreachbatch_exactly_once fixture
re-grade (VERDICT r16 ask #4) and its machinery is graded this round
via the suite sibling team_draft_interleave_preference; it graduates
round 18 from the refilled staging area.

Every row graduated 3-SF oracle-green (sf0.001/0.01/0.1), vanilla-swept
(CHECK_VANILLA), with a brute-force or property-based second witness
(tests/test_round16_staged.py, tests/test_round16_properties.py — kept
under their staging names, now reading the graduated registry), plus
measured 1M-doc scale points for the corpus-grain shapes and written
scale arithmetic for the bounded-collapse rest (docs/DESIGN_100TB.md
round-16 sections).

Design notes per query live in the docstrings; every one follows the
repo-wide cross-engine determinism rules (functions/stable.py,
llm/hashing.py): integer or exact-decimal arithmetic wherever a value is
compared, libm only where both engines are correctly-rounded (IEEE
division), md5-based hashing for anything pseudo-random.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from sparkksqldbbenchmark_spark.catalog import load_table  # noqa: F401
from sparkksqldbbenchmark_spark.plans.registry import query


# ---------- supervised discretization: adjacent-bin merge sweep --

_SDM_BINS = 20
# merge adjacent bins whose positive-rate gap is below 5%:
# 20 * |k_lo*n_hi - k_hi*n_lo| < n_lo*n_hi  (exact integers)
_SDM_GAP_DEN = 20


def _sdm_oracle(nb: int = _SDM_BINS, gd: int = _SDM_GAP_DEN) -> str:
    return f"""
    WITH binned AS (
        SELECT least({nb - 1},
                     greatest(0, CAST(floor(value / 5.0) AS BIGINT)))
                   AS bin,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    grid AS (SELECT unnest(range({nb})) AS bin),
    agg AS (
        SELECT g.bin,
               CAST(count(b.bin) AS BIGINT) AS n,
               CAST(coalesce(sum(b.y), 0) AS BIGINT) AS k
        FROM grid g LEFT JOIN binned b ON b.bin = g.bin
        GROUP BY g.bin
    ),
    pairs AS (
        SELECT hi.bin,
               lo.n AS n_lo, lo.k AS k_lo,
               hi.n AS n_hi, hi.k AS k_hi,
               lo.k * hi.n - hi.k * lo.n AS rate_gap_x,
               (lo.n = 0 OR hi.n = 0
                OR {gd} * abs(lo.k * hi.n - hi.k * lo.n)
                   < lo.n * hi.n) AS merged
        FROM agg lo JOIN agg hi ON hi.bin = lo.bin + 1
    ),
    flagged AS (
        SELECT a.bin, a.n, a.k,
               CASE WHEN p.merged IS NULL OR NOT p.merged
                    THEN 1 ELSE 0 END AS new_island,
               coalesce(p.rate_gap_x, 0) AS rate_gap_x,
               coalesce(p.merged, FALSE) AS merged_with_prev
        FROM agg a LEFT JOIN pairs p ON p.bin = a.bin
    )
    SELECT bin, n, k,
           CAST(rate_gap_x AS BIGINT) AS rate_gap_x,
           merged_with_prev,
           CAST(sum(new_island) OVER (
               ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS island
    FROM flagged
    """


@query(
    "supervised_discretization_merge_sweep", oracle=_sdm_oracle()
)
def supervised_discretization_merge_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUPERVISED DISCRETIZATION by adjacent-bin merging — the
    ChiMerge-family sweep (Kerber 1992) executed as ONE bounded-frame
    pass: values bin into {_SDM_BINS} fixed bins, each adjacent pair
    is tested for label-rate equality, pairs whose positive-rate gap
    is below 1/{_SDM_GAP_DEN} merge, and the island id (running count
    of unmerged boundaries over the ordered 20-row frame) IS the
    learned discretization. The test statistic is the EXACT
    cross-multiplied rate gap k_lo*n_hi - k_hi*n_lo — the signed
    pre-squared numerator of the pair chi2 (the Brier-row device):
    emitting it unsquared keeps every engine in BIGINT at any bin
    skew, where T*delta^2 would overflow int64 once a bin holds
    ~10^5 rows. Empty-bin pairs merge by definition (no evidence of
    difference — Kerber's rule).

    Scale shape: one partial+final aggregate to the bounded bin
    frame; the pair test, merge verdicts, and island prefix-sum all
    run on the <= {_SDM_BINS}-row frame. Nothing scales past the
    scan.

    Reference basis: feature-engineering family (width_bucket r9,
    equi_depth_partition_bounds r13 TAIL, pav_isotonic r15 — this
    adds the SUPERVISED bin-merging member the seeds called for)."""
    ev = load_table(spark, sf_dir, "events")
    nb, gd = _SDM_BINS, _SDM_GAP_DEN
    binned = ev.select(
        F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / 5.0).cast("long")
            ),
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    grid = spark.range(nb).select(F.col("id").alias("bin"))
    agg = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.count("y").cast("long").alias("n"),
            F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("k"),
        )
    )
    lo = agg.select(
        (F.col("bin") + 1).alias("bin"),
        F.col("n").alias("n_lo"),
        F.col("k").alias("k_lo"),
    )
    pairs = lo.join(
        agg.select(
            "bin", F.col("n").alias("n_hi"), F.col("k").alias("k_hi")
        ),
        "bin",
    ).select(
        "bin",
        (F.col("k_lo") * F.col("n_hi") - F.col("k_hi") * F.col("n_lo"))
        .alias("rate_gap_x"),
        (
            (F.col("n_lo") == 0)
            | (F.col("n_hi") == 0)
            | (
                gd
                * F.abs(
                    F.col("k_lo") * F.col("n_hi")
                    - F.col("k_hi") * F.col("n_lo")
                )
                < F.col("n_lo") * F.col("n_hi")
            )
        ).alias("merged"),
    )
    flagged = agg.join(pairs, "bin", "left").select(
        "bin",
        "n",
        "k",
        F.coalesce("rate_gap_x", F.lit(0))
        .cast("long")
        .alias("rate_gap_x"),
        F.coalesce("merged", F.lit(False)).alias("merged_with_prev"),
        F.when(
            F.col("merged").isNull() | ~F.col("merged"), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return flagged.select(
        "bin",
        "n",
        "k",
        "rate_gap_x",
        "merged_with_prev",
        F.sum("new_island").over(w).cast("long").alias("island"),
    )


# ---------- de-seasonalized CUSUM drift flags (composed) --

_SCUSUM_H = 200000  # flag threshold, cents


def _scusum_oracle(h: int = _SCUSUM_H) -> str:
    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT event_type, d,
               (d - DATE '1970-01-01') % 7 AS dow,
               cents
        FROM daily
    ),
    med AS (
        SELECT event_type, dow,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
        FROM keyed GROUP BY event_type, dow
    ),
    resid AS (
        SELECT k.event_type, k.d, k.cents - m.med AS r
        FROM keyed k JOIN med m USING (event_type, dow)
    ),
    pre AS (
        SELECT event_type, d,
               sum(r) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pt
        FROM resid
    ),
    cusum AS (
        SELECT event_type, d,
               pt - least(CAST(0 AS BIGINT), min(pt) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)) AS st
        FROM pre
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(st) AS BIGINT) AS max_cusum_cents,
           CAST(sum(CASE WHEN st > {h} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_days,
           coalesce(strftime(min(CASE WHEN st > {h} THEN d END),
                    '%Y-%m-%d'), '') AS first_flag_day
    FROM cusum GROUP BY event_type
    """


@query(
    "seasonal_cusum_residual_flags", oracle=_scusum_oracle()
)
def seasonal_cusum_residual_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DE-SEASONALIZED CUSUM — the ROTATION_R16 seed composing the
    round-16 weekday-median profile with the graduated CUSUM device:
    per event_type, the daily total is centered by its weekday's
    DISCRETE median (removing the day-of-week seasonality that would
    otherwise fire the detector every weekend), and the one-sided
    CUSUM runs over the residuals via the prefix-sum identity
    S_t = P_t - min(0, min_{i<=t} P_i) — two window frames over ONE
    per-type sort instead of the unparallelizable scan-left
    recurrence. Grades per type: days, peak CUSUM, flag days above
    {_SCUSUM_H} cents, and the first flag date.

    Scale shape: one partial+final aggregate to the (type x day)
    grain, a bounded (type x 7) order-statistic frame broadcast
    back, then type-partitioned windows over day series — the same
    exchange plan as the graduated cusum_drift_flags with one extra
    bounded join.

    Reference basis: time-series family composition
    (cusum_drift_flags r14, dow_seasonal_median_residuals r16 — the
    seed: de-seasonalize BEFORE detecting, or the detector measures
    the calendar)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    keyed = daily.select(
        "event_type",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01")) % 7
        ).alias("dow"),
        "cents",
    )
    med = keyed.groupBy("event_type", "dow").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
        )
        .cast("long")
        .alias("med")
    )
    resid = keyed.join(F.broadcast(med), ["event_type", "dow"]).select(
        "event_type", "d", (F.col("cents") - F.col("med")).alias("r")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pre = resid.select(
        "event_type", "d", F.sum("r").over(w).alias("pt")
    )
    cusum = pre.select(
        "event_type",
        "d",
        (
            F.col("pt")
            - F.least(F.lit(0).cast("long"), F.min("pt").over(w))
        ).alias("st"),
    )
    return cusum.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("st").cast("long").alias("max_cusum_cents"),
        F.sum(F.when(F.col("st") > _SCUSUM_H, 1).otherwise(0))
        .cast("long")
        .alias("n_flag_days"),
        F.coalesce(
            F.date_format(
                F.min(
                    F.when(F.col("st") > _SCUSUM_H, F.col("d"))
                ),
                "yyyy-MM-dd",
            ),
            F.lit(""),
        ).alias("first_flag_day"),
    )


# ---------- calibration-weighted reciprocal-rank fusion --

_WRRF_K = 60
_WRRF_TOPN = 40
_WRRF_OUT = 5
_WRRF_VAL = 10  # validation depth for the per-ranker weight


def _wrrf_oracle(
    k: int = _WRRF_K,
    topn: int = _WRRF_TOPN,
    out: int = _WRRF_OUT,
    vd: int = _WRRF_VAL,
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"
    return f"""
    WITH sliced AS (
        SELECT source, doc_id, n_chars, lang, {q} AS quality
        FROM (
            SELECT source, doc_id, n_chars, lang, text,
                   row_number() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {topn}
    ),
    ranked AS (
        SELECT source, doc_id, lang,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
               ) AS r1,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id
               ) AS r2
        FROM sliced
    ),
    w AS (
        SELECT 1 + sum(CASE WHEN r1 <= {vd} AND lang = 'en'
                            THEN 1 ELSE 0 END) AS w1,
               1 + sum(CASE WHEN r2 <= {vd} AND lang = 'en'
                            THEN 1 ELSE 0 END) AS w2
        FROM ranked
    ),
    fused AS (
        SELECT source, doc_id, r1, r2, w.w1, w.w2,
               (w.w1 * ({k} + r2) + w.w2 * ({k} + r1)) AS num,
               ({k} + r1) * ({k} + r2) AS den
        FROM ranked, w
    ),
    ordered AS (
        SELECT source, doc_id, r1, r2, w1, w2, num, den,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY num * 1099511627776 // den DESC, doc_id
               ) AS fused_rank
        FROM fused
    )
    SELECT source, CAST(fused_rank AS BIGINT) AS fused_rank,
           doc_id, CAST(r1 AS BIGINT) AS rank_by_length,
           CAST(r2 AS BIGINT) AS rank_by_quality,
           CAST(w1 AS BIGINT) AS weight_length,
           CAST(w2 AS BIGINT) AS weight_quality,
           CAST(num * 1000000 // den AS BIGINT) AS wrrf_micros
    FROM ordered WHERE fused_rank <= {out}
    """


@query(
    "rrf_weighted_fusion_exact", oracle=_wrrf_oracle()
)
def rrf_weighted_fusion_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALIBRATION-WEIGHTED reciprocal-rank fusion — the ROTATION_R16
    seed: the graduated RRF combiner with per-ranker weights LEARNED
    from the data instead of fixed at 1. Each ranker's weight is
    1 + its validation hit count (quality-label docs it placed in
    its top {_WRRF_VAL} — the held-out precision a production fusion
    layer tunes weights with), and the fused score becomes
    w1/(k+r1) + w2/(k+r2), carried as ONE exact integer fraction
    (num/den over the common denominator) and ordered by the
    floor-key embedding — no floating point anywhere.

    Scale shape: identical to the graduated RRF row — a bounded
    top-{_WRRF_TOPN} slice per source BEFORE any ranking window,
    plus one 1-row weight scalar broadcast (the only addition).

    Reference basis: retrieval family
    (reciprocal_rank_fusion_exact r15 staged — this adds the
    weighted form; brier_reliability_bins r16 motivates WHY rankers
    earn different weights)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    k, topn, out, vd = _WRRF_K, _WRRF_TOPN, _WRRF_OUT, _WRRF_VAL
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    sliced = (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            "lang",
            F.expr(q).alias("quality"),
            F.row_number()
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("rn"),
        )
        .where(F.col("rn") <= topn)
        .drop("rn")
    )
    ranked = sliced.select(
        "source",
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("r1"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("quality").desc(), "doc_id"
            )
        )
        .alias("r2"),
    )
    w = ranked.agg(
        (
            1
            + F.sum(
                F.when(
                    (F.col("r1") <= vd) & (F.col("lang") == "en"), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("w1"),
        (
            1
            + F.sum(
                F.when(
                    (F.col("r2") <= vd) & (F.col("lang") == "en"), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("w2"),
    )
    fused = ranked.crossJoin(F.broadcast(w)).select(
        "source",
        "doc_id",
        "r1",
        "r2",
        "w1",
        "w2",
        (
            F.col("w1") * (k + F.col("r2"))
            + F.col("w2") * (k + F.col("r1"))
        ).alias("num"),
        ((k + F.col("r1")) * (k + F.col("r2"))).alias("den"),
    )
    ordered = fused.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.expr("num * 1099511627776 div den").desc(),
                "doc_id",
            )
        )
        .alias("fused_rank"),
    ).where(F.col("fused_rank") <= out)
    return ordered.select(
        "source",
        F.col("fused_rank").cast("long").alias("fused_rank"),
        "doc_id",
        F.col("r1").cast("long").alias("rank_by_length"),
        F.col("r2").cast("long").alias("rank_by_quality"),
        F.col("w1").cast("long").alias("weight_length"),
        F.col("w2").cast("long").alias("weight_quality"),
        F.expr("num * 1000000 div den")
        .cast("long")
        .alias("wrrf_micros"),
    )


# ---------- Pareto-frontier knee point (max chord distance) --


def _knee_oracle() -> str:
    return """
    WITH cells AS (
        SELECT p_brand AS brand,
               CAST(p_size AS BIGINT) AS size,
               CAST(min(CAST(floor(p_retailprice * 100) AS BIGINT))
                    AS BIGINT) AS price
        FROM part GROUP BY p_brand, p_size
    ),
    frontier AS (
        SELECT c.* FROM cells c
        WHERE NOT EXISTS (
            SELECT 1 FROM cells c2
            WHERE c2.brand = c.brand AND c2.size > c.size
              AND c2.price <= c.price
        )
    ),
    ends AS (
        SELECT brand,
               min_by(size, size) AS a_size,
               min_by(price, size) AS a_price,
               max_by(size, size) AS b_size,
               max_by(price, size) AS b_price,
               count(*) AS n_frontier
        FROM frontier GROUP BY brand
    ),
    crossed AS (
        SELECT f.brand, f.size, f.price, e.n_frontier,
               abs((e.b_size - e.a_size) * (f.price - e.a_price)
                   - (e.b_price - e.a_price) * (f.size - e.a_size))
                   AS cross_x
        FROM frontier f JOIN ends e USING (brand)
    )
    SELECT brand,
           CAST(n_frontier AS BIGINT) AS n_frontier,
           CAST(min_by(size,
                (-cross_x) * 8589934592 + size) AS BIGINT)
               AS knee_size,
           CAST(min_by(price,
                (-cross_x) * 8589934592 + size) AS BIGINT)
               AS knee_price_cents,
           CAST(max(cross_x) AS BIGINT) AS knee_cross_x
    FROM crossed GROUP BY brand, n_frontier
    """


@query("pareto_knee_maxcross", oracle=_knee_oracle())
def pareto_knee_maxcross(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KNEE POINT of each brand's Pareto frontier — the point a
    human picks off a cost/benefit curve, computed exactly: the
    frontier point maximizing distance to the chord between the
    frontier's endpoints. Distance ordering needs no sqrt or
    division — the 2-D cross product
    (b-a) x (p-a) is an exact integer whose absolute value orders
    chord distances (the chord is fixed per brand, so the |cross| /
    |chord| normalization is a constant factor), making argmax knee
    selection a composite-BIGINT min_by with size ties. Grades per
    brand: frontier size, the knee cell, and its cross-product mass.

    Scale shape: parts reduce to domain-bounded (brand, size) cells
    before anything pairwise (the graduated skyline's device); the
    frontier window, endpoint fold, and knee argmax all run on the
    bounded cell frame.

    Reference basis: multi-criteria family (skyline_pareto_frontier
    r14, pareto_frontier_skyline r10 TAIL — this adds the SELECTION
    step a frontier exists to feed)."""
    part = load_table(spark, sf_dir, "part")
    cells = part.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(
        F.min(F.floor(F.col("p_retailprice") * 100).cast("long"))
        .cast("long")
        .alias("price")
    )
    w = (
        Window.partitionBy("brand")
        .orderBy(F.col("size").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        cells.withColumn("m1", F.min("price").over(w))
        .where(F.col("m1").isNull() | (F.col("m1") > F.col("price")))
        .drop("m1")
    )
    ends = frontier.groupBy("brand").agg(
        F.min_by("size", "size").alias("a_size"),
        F.min_by("price", "size").alias("a_price"),
        F.max_by("size", "size").alias("b_size"),
        F.max_by("price", "size").alias("b_price"),
        F.count(F.lit(1)).alias("n_frontier"),
    )
    crossed = frontier.join(F.broadcast(ends), "brand").select(
        "brand",
        "size",
        "price",
        "n_frontier",
        F.abs(
            (F.col("b_size") - F.col("a_size"))
            * (F.col("price") - F.col("a_price"))
            - (F.col("b_price") - F.col("a_price"))
            * (F.col("size") - F.col("a_size"))
        ).alias("cross_x"),
    )
    key = (-F.col("cross_x")) * F.lit(8589934592) + F.col("size")
    return crossed.groupBy(
        "brand", F.col("n_frontier").cast("long").alias("n_frontier")
    ).agg(
        F.min_by("size", key).cast("long").alias("knee_size"),
        F.min_by("price", key).cast("long").alias("knee_price_cents"),
        F.max("cross_x").cast("long").alias("knee_cross_x"),
    )


# ---------- context-length policy sweep (truncate + pad cost) --

_CLP_LENGTHS = (64, 128, 256)
_CLP_B = 8  # batch size (sequences per padded batch)


def _clp_oracle(
    lengths: tuple = _CLP_LENGTHS, b: int = _CLP_B
) -> str:
    vals = ", ".join(f"({L})" for L in lengths)
    return f"""
    WITH pol AS (SELECT * FROM (VALUES {vals}) t(ctx_len)),
    lens AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(trim(text), '\\S+'))
                    AS BIGINT) AS n_tok
        FROM documents
    ),
    used AS (
        SELECT p.ctx_len, l.doc_id, l.n_tok,
               least(l.n_tok, p.ctx_len) AS used,
               greatest(l.n_tok - p.ctx_len, 0) AS truncated
        FROM pol p CROSS JOIN lens l
    ),
    batched AS (
        SELECT ctx_len, used, truncated,
               (row_number() OVER (
                   PARTITION BY ctx_len
                   ORDER BY used, doc_id) - 1) // {b} AS batch
        FROM used
    ),
    per AS (
        SELECT ctx_len, batch,
               count(*) AS n, max(used) AS mx,
               sum(used) AS s, sum(truncated) AS tr
        FROM batched GROUP BY ctx_len, batch
    )
    SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(s) AS BIGINT) AS used_tokens,
           CAST(sum(tr) AS BIGINT) AS truncated_tokens,
           CAST(sum(n * mx - s) AS BIGINT) AS padding_tokens,
           CAST(sum(n * mx - s) * 1000000 // sum(n * mx)
                AS BIGINT) AS pad_waste_micros,
           CAST(sum(tr) * 1000000 // (sum(s) + sum(tr))
                AS BIGINT) AS trunc_loss_micros
    FROM per GROUP BY ctx_len
    """


@query(
    "context_length_policy_sweep", oracle=_clp_oracle()
)
def context_length_policy_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTEXT-LENGTH POLICY SWEEP — the two costs a max-sequence-
    length choice trades, graded exactly per policy: TRUNCATION loss
    (tokens cut from docs longer than the context) vs PADDING waste
    (length-sorted batches of {_CLP_B} still pad to the batch max).
    Short contexts truncate more; long contexts pad more — the sweep
    emits both exact token masses and floor-micros rates for
    {_CLP_LENGTHS}, the table a training-config review reads.

    Scale shape: one scan-side token count crossed with the bounded
    3-row policy frame, one rank window per policy partition
    (parallel across policies; the two-level chunked rank at
    production scale), batch-grain then policy-grain aggregates.

    Reference basis: packing family (padding_waste_sorted_vs_fifo
    r15 staged measured the SORT lever; this measures the LENGTH
    lever — together they fix the batcher's two knobs)."""
    b = _CLP_B
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("long")
        .alias("n_tok"),
    )
    pol = spark.createDataFrame(
        [(L,) for L in _CLP_LENGTHS], "ctx_len long"
    )
    used = F.broadcast(pol).crossJoin(lens).select(
        "ctx_len",
        "doc_id",
        F.least(F.col("n_tok"), F.col("ctx_len")).alias("used"),
        F.greatest(
            F.col("n_tok") - F.col("ctx_len"), F.lit(0)
        ).alias("truncated"),
    )
    batched = used.select(
        "ctx_len",
        "used",
        "truncated",
        F.floor(
            (
                F.row_number().over(
                    Window.partitionBy("ctx_len").orderBy(
                        "used", "doc_id"
                    )
                )
                - 1
            )
            / b
        ).alias("batch"),
    )
    per = batched.groupBy("ctx_len", "batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("used").alias("mx"),
        F.sum("used").alias("s"),
        F.sum("truncated").alias("tr"),
    )
    return per.groupBy(F.col("ctx_len").cast("long").alias("ctx_len")).agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("s").cast("long").alias("used_tokens"),
        F.sum("tr").cast("long").alias("truncated_tokens"),
        F.sum(F.col("n") * F.col("mx") - F.col("s"))
        .cast("long")
        .alias("padding_tokens"),
        F.expr(
            "sum(n * mx - s) * 1000000 div sum(n * mx)"
        )
        .cast("long")
        .alias("pad_waste_micros"),
        F.expr(
            "sum(tr) * 1000000 div (sum(s) + sum(tr))"
        )
        .cast("long")
        .alias("trunc_loss_micros"),
    )


# ---------- density-greedy token-budget knapsack, certified --


def _density_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"
    return f"""
    WITH items AS (
        SELECT doc_id,
               CAST({q} + 1 AS BIGINT) AS v,
               CAST(greatest(len(regexp_extract_all(
                   trim(text), '\\S+')), 1) AS BIGINT) AS c
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, v, c,
               row_number() OVER (
                   ORDER BY v * 1099511627776 // c DESC, doc_id
               ) AS rk,
               sum(c) OVER (
                   ORDER BY v * 1099511627776 // c DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_c,
               sum(v) OVER (
                   ORDER BY v * 1099511627776 // c DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_v
        FROM items
    ),
    b AS (
        SELECT CAST(sum(c) // 10 AS BIGINT) AS budget FROM items
    ),
    sel AS (
        SELECT coalesce(max(rk), 0) AS n_sel,
               coalesce(max(cum_v), 0) AS sel_v,
               coalesce(max(cum_c), 0) AS sel_c
        FROM ordered, b WHERE cum_c <= b.budget
    ),
    nxt AS (
        SELECT o.v AS nv, o.c AS nc
        FROM ordered o, sel s WHERE o.rk = s.n_sel + 1
    )
    SELECT CAST(s.n_sel AS BIGINT) AS n_sel,
           CAST(s.sel_v AS BIGINT) AS selected_value,
           CAST(s.sel_c AS BIGINT) AS selected_cost,
           b.budget,
           CAST(s.sel_v
                + coalesce((b.budget - s.sel_c) * n.nv // n.nc, 0)
                AS BIGINT) AS frac_opt_floor,
           CAST((SELECT max(v) FROM items) AS BIGINT) AS max_item_v,
           (s.sel_v + (SELECT max(v) FROM items)
            >= s.sel_v
               + coalesce((b.budget - s.sel_c) * n.nv // n.nc, 0))
               AS within_additive_bound
    FROM sel s, b LEFT JOIN nxt n ON TRUE
    """


@query(
    "density_greedy_budget_certified", oracle=_density_oracle()
)
def density_greedy_budget_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DENSITY-GREEDY KNAPSACK under a token budget, with the
    classic additive certificate: items (docs) carry integer value
    (md5 quality + 1) and cost (token count); greedy takes the
    value-density prefix (density ordered by the exact floor-key
    embedding v*2^40 // c — no floating-point ratios) while the
    running cost fits the 10% token budget. The certificate is the
    LP-relaxation bound made exact: fractional OPT = greedy prefix +
    the next item's pro-rata slice (one exact floor), and
    greedy + max_item_value >= frac_OPT >= integer OPT — the
    standard proof that density-greedy is within one item of
    optimal, graded as a value instead of assumed.

    Scale shape: one scan-side value/cost projection, one global
    rank window (two-level chunked at production scale — the
    deterministic_corpus_shuffle pattern), a 1-row budget scalar,
    and two bounded scalar folds. No joins at item grain.

    Reference basis: selection family (token_budget_selection r4
    flagship is the priority-cut member; waterfill r14 the
    fairness member; this is the VALUE-DENSITY member with its
    approximation certificate)."""
    from sparkksqldbbenchmark_spark.llm.curation import density_greedy_prefix
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    items = docs.select(
        "doc_id",
        (F.expr(q) + 1).cast("long").alias("v"),
        F.greatest(
            F.size(F.split(F.trim(F.col("text")), "\\s+")), F.lit(1)
        )
        .cast("long")
        .alias("c"),
    )
    ordered, b, prefix = density_greedy_prefix(items, 10)
    sel = prefix.agg(
        F.coalesce(F.max("rk"), F.lit(0)).alias("n_sel"),
        F.coalesce(F.max("cum_v"), F.lit(0)).alias("sel_v"),
        F.coalesce(F.max("cum_c"), F.lit(0)).alias("sel_c"),
    )
    nxt = (
        ordered.crossJoin(F.broadcast(sel))
        .where(F.col("rk") == F.col("n_sel") + 1)
        .select(F.col("v").alias("nv"), F.col("c").alias("nc"))
    )
    return (
        sel.crossJoin(F.broadcast(b))
        .join(F.broadcast(nxt), F.lit(True), "left")
        .select(
            F.col("n_sel").cast("long").alias("n_sel"),
            F.col("sel_v").cast("long").alias("selected_value"),
            F.col("sel_c").cast("long").alias("selected_cost"),
            "budget",
            (
                F.col("sel_v")
                + F.coalesce(
                    F.expr("(budget - sel_c) * nv div nc"), F.lit(0)
                )
            )
            .cast("long")
            .alias("frac_opt_floor"),
            F.col("max_item_v").cast("long").alias("max_item_v"),
            (
                F.col("sel_v") + F.col("max_item_v")
                >= F.col("sel_v")
                + F.coalesce(
                    F.expr("(budget - sel_c) * nv div nc"), F.lit(0)
                )
            ).alias("within_additive_bound"),
        )
    )


# ---------- sort-key delta-compression estimate (layout lever) --


def _sortkey_oracle() -> str:
    return """
    WITH base AS (
        SELECT event_id, user_id, ts,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    orderings AS (
        SELECT 'natural' AS ordering,
               cents - lag(cents) OVER (ORDER BY event_id) AS d
        FROM base
        UNION ALL
        SELECT 'by_time',
               cents - lag(cents) OVER (ORDER BY ts, event_id)
        FROM base
        UNION ALL
        SELECT 'by_user_time',
               cents - lag(cents) OVER (
                   ORDER BY user_id, ts, event_id)
        FROM base
        UNION ALL
        SELECT 'by_value',
               cents - lag(cents) OVER (ORDER BY cents, event_id)
        FROM base
    )
    SELECT ordering,
           CAST(count(d) AS BIGINT) AS n_deltas,
           CAST(sum(abs(d)) AS BIGINT) AS abs_delta_mass,
           CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_deltas,
           CAST(max(abs(d)) AS BIGINT) AS max_abs_delta,
           CAST(sum(CASE WHEN abs(d) < 256 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_byte_deltas
    FROM orderings GROUP BY ordering
    """


@query(
    "sortkey_delta_compression_estimate", oracle=_sortkey_oracle()
)
def sortkey_delta_compression_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORT-KEY DELTA-COMPRESSION ESTIMATE — the layout lever graded
    as exact integers: columnar delta/frame-of-reference encodings
    compress in proportion to how small consecutive differences are,
    so the CHOICE of table sort key is a storage-cost decision. For
    four candidate orderings (insertion order, event time, user+time
    — the clustered-write key, and the value itself) the row grades
    the exact delta profile of the cents column: total |delta| mass,
    zero-delta count (run-length wins), max delta (bit-width
    ceiling), and byte-encodable deltas — the table a lakehouse
    OPTIMIZE/CLUSTER BY decision reads. Ordering by the value itself
    is the proven floor (sorted deltas sum telescopically to
    max - min).

    Scale shape: four ordered passes over one scan (each a global
    window — the two-level chunked form at production scale, where
    each pass is really a per-file statistic computed at write time);
    everything after collapses to a 4-row frame.

    Reference basis: layout family (clustered_write_sorted_runs r9
    TAIL, range/zorder_layout_scan r7 TAIL — those grade READ
    pruning; this grades the WRITE-side compression economics of the
    same sort keys)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )

    def ordered(tag: str, *cols):
        w = Window.orderBy(*cols)
        return base.select(
            F.lit(tag).alias("ordering"),
            (F.col("cents") - F.lag("cents").over(w)).alias("d"),
        )

    orderings = (
        ordered("natural", "event_id")
        .unionByName(ordered("by_time", "ts", "event_id"))
        .unionByName(
            ordered("by_user_time", "user_id", "ts", "event_id")
        )
        .unionByName(ordered("by_value", "cents", "event_id"))
    )
    return orderings.groupBy("ordering").agg(
        F.count("d").cast("long").alias("n_deltas"),
        F.sum(F.abs(F.col("d"))).cast("long").alias("abs_delta_mass"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_deltas"),
        F.max(F.abs(F.col("d"))).cast("long").alias("max_abs_delta"),
        F.sum(F.when(F.abs(F.col("d")) < 256, 1).otherwise(0))
        .cast("long")
        .alias("n_byte_deltas"),
    )


# ---------- differential-privacy sensitivity / noise budget --

_DP_EPS_X10 = 5  # epsilon = 0.5


def _dp_oracle(eps_x10: int = _DP_EPS_X10) -> str:
    return f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(abs(floor(value * 100)) AS BIGINT))
                    AS BIGINT) AS abs_cents
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(max(n_rows) AS BIGINT) AS count_sensitivity,
           CAST(max(abs_cents) AS BIGINT) AS sum_sensitivity_cents,
           CAST(max(n_rows) * 10 * 1000000 / {eps_x10} AS BIGINT)
               AS count_noise_scale_micros,
           CAST(max(abs_cents) * 10 * 1000000 / {eps_x10} AS BIGINT)
               AS sum_noise_scale_micros
    FROM per_user GROUP BY event_type
    """


@query(
    "dp_sensitivity_noise_budget", oracle=_dp_oracle()
)
def dp_sensitivity_noise_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """USER-LEVEL DP SENSITIVITY AUDIT — the exact, data-derived
    inputs a differentially-private release needs BEFORE any noise is
    drawn: under user-level neighboring datasets (add/remove one
    user's entire contribution), the L1 sensitivity of a per-type
    COUNT is the max rows any one user contributes and of a SUM the
    max absolute cents mass any one user contributes — both exact
    integer maxima over the per-user contribution frame. The row also
    prices the Laplace noise scale sensitivity/epsilon at epsilon =
    {_DP_EPS_X10}/10 in exact floor micros (the noise itself is
    random by definition and out of grading scope; the CALIBRATION is
    deterministic and is what pipelines get wrong).

    Scale shape: one partial+final aggregate to the (type, user)
    contribution grain, one rollup to |types| rows. The contribution
    grain is exactly what a production DP accountant maintains.

    Reference basis: governance family (k_anonymity r15,
    l_diversity r16, data_retention r14 — this adds the
    DP-release-calibration member)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.abs(F.floor(F.col("value") * 100)).cast("long"))
        .cast("long")
        .alias("abs_cents"),
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.max("n_rows").cast("long").alias("count_sensitivity"),
        F.max("abs_cents").cast("long").alias("sum_sensitivity_cents"),
        F.expr(
            f"cast(max(n_rows) * 10 * 1000000 / {_DP_EPS_X10} as bigint)"
        ).alias("count_noise_scale_micros"),
        F.expr(
            f"cast(max(abs_cents) * 10 * 1000000 / {_DP_EPS_X10}"
            " as bigint)"
        ).alias("sum_noise_scale_micros"),
    )


# ---------- Theil-Sen robust trend slope (exact fractions) --


def _theil_sen_oracle() -> str:
    return """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY d) - 1 AS i
        FROM daily
    ),
    slopes AS (
        SELECT a.event_type,
               b.cents - a.cents AS num,
               b.i - a.i AS den
        FROM idx a JOIN idx b
          ON b.event_type = a.event_type AND b.i > a.i
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(
               num * 1099511627776 // den, 0.5) AS BIGINT)
               AS median_slope_key,
           CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rising_pairs,
           CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_falling_pairs
    FROM slopes GROUP BY event_type
    """


@query(
    "theil_sen_slope_exact", oracle=_theil_sen_oracle()
)
def theil_sen_slope_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THEIL-SEN ROBUST TREND — the median-of-pairwise-slopes
    estimator (up to 29% outlier breakdown, vs 0% for OLS) computed
    exactly: per event_type the daily series indexes 0..n-1, every
    i<j pair contributes slope (y_j - y_i)/(j - i), and the median
    slope is selected by the integer key num*2^40 div den (both
    engines truncate toward zero — still a strict order embedding,
    since distinct slopes differ by more than 2^-40 when day gaps
    keep den < 2^20), so both engines pick the identical median pair
    with NO floating-point slopes. The key itself is the graded
    value (an exact, reversible rendering of the slope), alongside
    the sign census of all pairs (the Mann-Kendall trend numerator).

    Scale shape: the fact scan collapses to the bounded (type x day)
    frame FIRST; the pairwise slope frame is |days|^2 per type —
    bounded by the calendar, not the corpus (30 days -> 435 pairs).
    The robust twin of the TAIL ols_trend_by_key row at identical
    exchange cost.

    Reference basis: time-series family (ols_trend_by_key r12 TAIL,
    cusum r14, seasonal CUSUM staged — the robust-slope member)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    idx = daily.select(
        "event_type",
        "cents",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("d")
            )
            - 1
        ).alias("i"),
    )
    a = idx.select(
        "event_type",
        F.col("cents").alias("ca"),
        F.col("i").alias("ia"),
    )
    b = idx.select(
        "event_type",
        F.col("cents").alias("cb"),
        F.col("i").alias("ib"),
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("ib") > F.col("ia"))
        .select(
            "event_type",
            (F.col("cb") - F.col("ca")).alias("num"),
            (F.col("ib") - F.col("ia")).alias("den"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP "
            "(ORDER BY num * 1099511627776 div den)"
        )
        .cast("long")
        .alias("median_slope_key"),
        F.sum(F.when(F.col("num") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rising_pairs"),
        F.sum(F.when(F.col("num") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_falling_pairs"),
    )


# ---------- team-draft interleaving preference (online eval) --

_TDI_TOPN = 40
_TDI_K = 4  # interleaved positions
_TDI_CLICK = 500  # click iff md5 quality >= threshold


def _tdi_oracle(
    topn: int = _TDI_TOPN, k: int = _TDI_K, ct: int = _TDI_CLICK
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    q = f"({sql_md5_int('text')} % 1000)"

    def coin(r):
        expr = f"(source || '#coin{r}')"
        return f"({sql_md5_int(expr)} % 2)"

    return f"""
    WITH sliced AS (
        SELECT source, doc_id, n_chars, {q} AS quality
        FROM (
            SELECT source, doc_id, n_chars, text,
                   row_number() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {topn}
    ),
    ranked AS (
        SELECT source, doc_id, quality,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS ra,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id) AS rb
        FROM sliced
    ),
    teams AS (
        SELECT source,
               {coin(1)} AS t1,
               1 - {coin(1)} AS t2,
               {coin(3)} AS t3,
               1 - {coin(3)} AS t4
        FROM (SELECT DISTINCT source FROM sliced)
    ),
    p1 AS (
        SELECT r.source,
               min_by(r.doc_id,
                   CASE WHEN t.t1 = 0 THEN r.ra ELSE r.rb END) AS d1,
               min(t.t1) AS team1
        FROM ranked r JOIN teams t USING (source)
        GROUP BY r.source
    ),
    p2 AS (
        SELECT r.source,
               min_by(r.doc_id,
                   CASE WHEN t.t2 = 0 THEN r.ra ELSE r.rb END) AS d2,
               min(t.t2) AS team2
        FROM ranked r
        JOIN teams t USING (source)
        JOIN p1 ON p1.source = r.source AND r.doc_id != p1.d1
        GROUP BY r.source
    ),
    p3 AS (
        SELECT r.source,
               min_by(r.doc_id,
                   CASE WHEN t.t3 = 0 THEN r.ra ELSE r.rb END) AS d3,
               min(t.t3) AS team3
        FROM ranked r
        JOIN teams t USING (source)
        JOIN p1 ON p1.source = r.source AND r.doc_id != p1.d1
        JOIN p2 ON p2.source = r.source AND r.doc_id != p2.d2
        GROUP BY r.source
    ),
    p4 AS (
        SELECT r.source,
               min_by(r.doc_id,
                   CASE WHEN t.t4 = 0 THEN r.ra ELSE r.rb END) AS d4,
               min(t.t4) AS team4
        FROM ranked r
        JOIN teams t USING (source)
        JOIN p1 ON p1.source = r.source AND r.doc_id != p1.d1
        JOIN p2 ON p2.source = r.source AND r.doc_id != p2.d2
        JOIN p3 ON p3.source = r.source AND r.doc_id != p3.d3
        GROUP BY r.source
    ),
    picks AS (
        SELECT source, 1 AS pos, d1 AS doc_id, team1 AS team FROM p1
        UNION ALL
        SELECT source, 2, d2, team2 FROM p2
        UNION ALL
        SELECT source, 3, d3, team3 FROM p3
        UNION ALL
        SELECT source, 4, d4, team4 FROM p4
    )
    SELECT p.source,
           CAST(p.pos AS BIGINT) AS pos,
           p.doc_id,
           CAST(p.team AS BIGINT) AS team,
           (r.quality >= {ct}) AS clicked
    FROM picks p JOIN ranked r
      ON r.source = p.source AND r.doc_id = p.doc_id
    """


@query(
    "team_draft_interleave_preference", oracle=_tdi_oracle()
)
def team_draft_interleave_preference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEAM-DRAFT INTERLEAVING — the online ranker-comparison
    protocol (Radlinski et al. 2008) as exact relational rounds: two
    rankers (by length, by md5 quality) alternate draft picks into
    one {_TDI_K}-slot result list; pick order within each round is an
    md5 coin per (source, round) — deterministic, so BOTH engines
    draft the identical list. A deterministic click model (quality >=
    {_TDI_CLICK}) labels each position; the per-team click credit is
    the preference signal an interleaving experiment reads. Grades
    the full per-position draft table (source, pos, doc_id, team,
    clicked) — the raw log an online-eval pipeline aggregates.

    Scale shape: a bounded top-{_TDI_TOPN} slice per source before
    anything else; each draft round is a bounded join + one min_by
    aggregate over the slice (the graduated MMR unrolled-greedy
    device with a two-ranker twist). Corpus size touches only the
    slicing window.

    Reference basis: retrieval-eval family (reciprocal_rank_fusion
    r15, rrf_weighted staged, average_precision r14 — those grade
    OFFLINE metrics; this is the ONLINE protocol that replaces them
    when clicks exist)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    topn, ct = _TDI_TOPN, _TDI_CLICK
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    sliced = (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.expr(q).alias("quality"),
            F.row_number()
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("rn"),
        )
        .where(F.col("rn") <= topn)
        .drop("rn")
    )
    ranked = sliced.select(
        "source",
        "doc_id",
        "quality",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("ra"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("quality").desc(), "doc_id"
            )
        )
        .alias("rb"),
    )

    def coin(r):
        expr = f"concat(source, '#coin{r}')"
        return F.expr(f"({spark_md5_int(expr)}) % 2")

    teams = ranked.select("source").distinct().select(
        "source",
        coin(1).alias("t1"),
        (1 - coin(1)).alias("t2"),
        coin(3).alias("t3"),
        (1 - coin(3)).alias("t4"),
    )
    base = ranked.join(teams, "source")

    def draft(cur, tcol, out_d, out_t):
        rank_used = F.when(
            F.col(tcol) == 0, F.col("ra")
        ).otherwise(F.col("rb"))
        return cur.groupBy("source").agg(
            F.min_by("doc_id", rank_used).alias(out_d),
            F.min(tcol).alias(out_t),
        )

    p1 = draft(base, "t1", "d1", "team1")
    c2 = base.join(p1, "source").where(F.col("doc_id") != F.col("d1"))
    p2 = draft(c2, "t2", "d2", "team2")
    c3 = c2.join(p2, "source").where(F.col("doc_id") != F.col("d2"))
    p3 = draft(c3, "t3", "d3", "team3")
    c4 = c3.join(p3, "source").where(F.col("doc_id") != F.col("d3"))
    p4 = draft(c4, "t4", "d4", "team4")
    picks = (
        p1.select(
            "source",
            F.lit(1).cast("long").alias("pos"),
            F.col("d1").alias("doc_id"),
            F.col("team1").cast("long").alias("team"),
        )
        .unionByName(
            p2.select(
                "source",
                F.lit(2).cast("long").alias("pos"),
                F.col("d2").alias("doc_id"),
                F.col("team2").cast("long").alias("team"),
            )
        )
        .unionByName(
            p3.select(
                "source",
                F.lit(3).cast("long").alias("pos"),
                F.col("d3").alias("doc_id"),
                F.col("team3").cast("long").alias("team"),
            )
        )
        .unionByName(
            p4.select(
                "source",
                F.lit(4).cast("long").alias("pos"),
                F.col("d4").alias("doc_id"),
                F.col("team4").cast("long").alias("team"),
            )
        )
    )
    return picks.join(
        ranked.select("source", "doc_id", "quality"),
        ["source", "doc_id"],
    ).select(
        "source",
        "pos",
        "doc_id",
        "team",
        (F.col("quality") >= ct).alias("clicked"),
    )


# ---------- Benjamini-Hochberg FDR step-up (exact integers) --

_BH_ALPHA_DEN = 10  # alpha = 1/10


def _bh_oracle(ad: int = _BH_ALPHA_DEN) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    expr = "(event_type || '#' || CAST(hr AS VARCHAR))"
    # planted signal: 'purchase' cells carry tiny p-values (true
    # effects); the rest are uniform nulls — without the plant BH
    # never rejects on 120 uniform draws and the row grades nothing
    p = (
        f"(CASE WHEN event_type = 'purchase' "
        f"THEN {sql_md5_int(expr)} % 500 "
        f"ELSE {sql_md5_int(expr)} % 1000000 END)"
    )
    return f"""
    WITH cells AS (
        SELECT DISTINCT event_type, hour(ts) AS hr FROM events
    ),
    tested AS (
        SELECT event_type, hr, {p} AS p_x FROM cells
    ),
    ranked AS (
        SELECT event_type, hr, p_x,
               row_number() OVER (ORDER BY p_x, event_type, hr)
                   AS rk,
               count(*) OVER () AS m
        FROM tested
    ),
    sat AS (
        SELECT *,
               ({ad} * p_x * m <= rk * 1000000) AS satisfied
        FROM ranked
    ),
    kstar AS (
        SELECT coalesce(max(CASE WHEN satisfied THEN rk END), 0)
                   AS ks
        FROM sat
    )
    SELECT s.event_type,
           CAST(s.hr AS BIGINT) AS hr,
           CAST(s.p_x AS BIGINT) AS p_x,
           CAST(s.rk AS BIGINT) AS rank,
           s.satisfied,
           (s.rk <= k.ks) AS rejected
    FROM sat s, kstar k
    """


@query(
    "benjamini_hochberg_fdr_stepup", oracle=_bh_oracle()
)
def benjamini_hochberg_fdr_stepup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR CONTROL, step-up, exact — the multiple-
    testing correction a metric-monitoring deployment needs when it
    runs one drift test per (type, hour) cell every day: order the m
    per-cell p-values, find the LARGEST rank i with
    p_(i) <= i * alpha / m, and reject exactly ranks 1..i — by
    step-up semantics a rank below the cutoff is rejected even where
    its own satisfied flag is false (the step-up/step-down difference;
    proved on random p-vectors by the hypothesis property suite, and
    visible here as the graded satisfied/rejected column pair). The
    comparison is pure integers ({_BH_ALPHA_DEN} * p_x * m <=
    rank * 10^6); p-values are md5-deterministic with a planted
    signal block ('purchase' cells are true effects — 120 uniform
    nulls alone would never reject and the row would grade nothing).

    Scale shape: the test frame is the bounded (type x 24) cell
    grid; the ordering window, cutoff scalar, and verdicts all run
    on that frame. In production the p-values arrive from the
    per-cell drift tests (psi/chi2 rows) at the same bounded grain.

    Reference basis: evaluation/monitoring family (psi_drift_bins
    r15, chi2_independence r14, binned_ks r10 TAIL — those produce
    the per-cell statistics; this row decides WHICH cells to alert
    on without flooding the pager)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    ad = _BH_ALPHA_DEN
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        "event_type", F.hour("ts").alias("hr")
    ).distinct()
    h = spark_md5_int("concat(event_type, '#', cast(hr as string))")
    # planted signal (see oracle note): purchase cells are true effects
    pexpr = F.expr(
        f"CASE WHEN event_type = 'purchase' THEN ({h}) % 500 "
        f"ELSE ({h}) % 1000000 END"
    )
    tested = cells.select("event_type", "hr", pexpr.alias("p_x"))
    w = Window.orderBy("p_x", "event_type", "hr")
    ranked = tested.select(
        "event_type",
        "hr",
        "p_x",
        F.row_number().over(w).alias("rk"),
    )
    m = tested.agg(F.count(F.lit(1)).alias("m"))
    sat = ranked.crossJoin(F.broadcast(m)).select(
        "*",
        (ad * F.col("p_x") * F.col("m") <= F.col("rk") * 1000000)
        .alias("satisfied"),
    )
    kstar = sat.agg(
        F.coalesce(
            F.max(F.when(F.col("satisfied"), F.col("rk"))), F.lit(0)
        ).alias("ks")
    )
    return sat.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        F.col("hr").cast("long").alias("hr"),
        F.col("p_x").cast("long").alias("p_x"),
        F.col("rk").cast("long").alias("rank"),
        "satisfied",
        (F.col("rk") <= F.col("ks")).alias("rejected"),
    )


# ---------- Kaplan-Meier hazard table (exact integers) --


def _km_oracle() -> str:
    return """
    WITH spans AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS f,
               max(CAST(date_trunc('day', ts) AS DATE)) AS l
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(l) AS dmax FROM spans),
    lived AS (
        SELECT user_id,
               (l - f) AS lifespan,
               (l = h.dmax) AS censored
        FROM spans, horizon h
    ),
    grid AS (
        SELECT unnest(range(0,
            (SELECT max(lifespan) FROM lived) + 1)) AS k
    )
    SELECT CAST(g.k AS BIGINT) AS day_k,
           CAST(count(*) AS BIGINT) AS n_at_risk,
           CAST(sum(CASE WHEN v.lifespan = g.k AND NOT v.censored
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           CAST(sum(CASE WHEN v.lifespan = g.k AND v.censored
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_censored,
           CAST(sum(CASE WHEN v.lifespan = g.k AND NOT v.censored
                         THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS hazard_micros
    FROM grid g JOIN lived v ON v.lifespan >= g.k
    GROUP BY g.k
    """


@query("km_hazard_table_exact", oracle=_km_oracle())
def km_hazard_table_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KAPLAN-MEIER HAZARD TABLE with right-censoring, exact — the
    survival-analysis sufficient statistics a retention model is fit
    from: each user's observed lifespan runs first-event day to
    last-event day; users still active on the corpus's final day are
    CENSORED (their true lifespan is only known to exceed the
    observation window — counting them as churned is the classic
    retention-analysis bias this row exists to separate out). Per
    day-offset k the table grades the at-risk count (lifespan >= k),
    exact churn events, censoring exits, and the discrete hazard
    d_k/n_k in floor micros. The KM survival product and any fitted
    model follow from exactly these columns.

    Scale shape: the fact scan collapses at the per-user span
    aggregate; the (lifespan, censored) frame joins a
    calendar-bounded day grid (|days| rows) on an inequality over
    the BOUNDED grid — never at event grain.

    Reference basis: product-analytics family (cohort_retention r5
    TAIL grades the cohort matrix; stickiness_dau_mau r14 TAIL the
    ratio; this adds the censoring-aware survival grain)."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("f"),
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("l"),
    )
    horizon = spans.agg(F.max("l").alias("dmax"))
    lived = spans.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.datediff("l", "f").cast("long").alias("lifespan"),
        (F.col("l") == F.col("dmax")).alias("censored"),
    )
    kmax = lived.agg(F.max("lifespan").alias("mx"))
    grid = (
        kmax.select(
            F.explode(
                F.sequence(F.lit(0), F.col("mx").cast("int"))
            ).alias("day_k")
        )
    )
    joined = F.broadcast(grid).join(
        lived, lived.lifespan >= F.col("day_k")
    )
    churn = F.when(
        (F.col("lifespan") == F.col("day_k")) & ~F.col("censored"), 1
    ).otherwise(0)
    cens = F.when(
        (F.col("lifespan") == F.col("day_k")) & F.col("censored"), 1
    ).otherwise(0)
    return joined.groupBy(
        F.col("day_k").cast("long").alias("day_k")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_at_risk"),
        F.sum(churn).cast("long").alias("n_churned"),
        F.sum(cens).cast("long").alias("n_censored"),
        F.expr(
            "cast(sum(case when lifespan = day_k and not censored"
            " then 1 else 0 end) * 1000000 div count(*) as bigint)"
        ).alias("hazard_micros"),
    )


# ---------- streaming exact windowed median (order statistic) --


def _stream_median_oracle() -> str:
    return """
    WITH d0 AS (
        SELECT date_trunc('day', min(ts)) AS t0 FROM events
    ),
    day1 AS (
        SELECT ts, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events, d0
        WHERE ts >= d0.t0 AND ts < d0.t0 + INTERVAL 1 DAY
    ),
    wm AS (
        SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM day1
    ),
    b AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS ws,
               event_type, cents
        FROM day1
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(cents, 0.5) AS BIGINT)
               AS median_cents
    FROM b, wm
    WHERE ws + INTERVAL 15 MINUTE <= wm.w
    GROUP BY ws, event_type
    """


@query(
    "streaming_window_exact_median", oracle=_stream_median_oracle()
)
def streaming_window_exact_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING EXACT WINDOWED MEDIAN — an order statistic inside a
    watermarked append-mode aggregate: the per-(window, type) value
    list accumulates as streaming aggregation state (collect_list is
    a stateful agg) and the DISCRETE median is taken at emission by
    element_at(sort_array(...), (n+1) div 2) — exact, not
    approx_percentile, so both engines agree value-for-value on every
    closed window. Grades the closed-set rule (windows whose end
    clears the final watermark) jointly with the order statistic —
    the production shape for per-window latency p50s where a sketch's
    error bars are unacceptable.

    Fixture: the proven ordered-file device (mtime-forced,
    maxFilesPerTrigger=1, two files: bulk then the max-ts row that
    advances the watermark for the final flush); the dir and auto
    checkpoint are reclaimed after the memory sink materializes.

    Scale shape: watermarked tumbling aggregate — state bounded by
    OPEN windows times their in-window row count (the honest cost of
    an exact in-window order statistic; beyond memory the GK-summary
    row is the documented mergeable fallback). The median itself is
    emission-time, per closed window, never a global sort.

    Reference basis: SURVEY §2.9 T1/T4 x §2.4 A4: the reference
    grades windowed means and batch percentiles separately; this
    composes them — the exact percentile IN the stream."""
    import os
    import shutil
    import tempfile
    import uuid

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    day1 = (
        ev.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("ts") >= F.col("t0"))
            & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 1 DAY"))
        )
        .select(
            "ts",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            "event_id",
        )
    )
    wlast = Window.orderBy(F.desc("ts"), F.desc("event_id"))
    marked = day1.withColumn("__rk", F.row_number().over(wlast))
    head = marked.where(F.col("__rk") > 1).select(
        "ts", "event_type", "cents"
    )
    tail = marked.where(F.col("__rk") == 1).select(
        "ts", "event_type", "cents"
    )
    base = tempfile.mkdtemp(prefix="smedian_")
    try:
        sdir = os.path.join(base, "stream")
        os.makedirs(sdir)
        for i, part_df in enumerate((head, tail)):
            tmp = os.path.join(base, f"part{i}")
            part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(sdir, f"file{i}.parquet")
            shutil.copy(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        stream = (
            spark.readStream.schema(
                "ts timestamp, event_type string, cents long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        agged = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.window("ts", "15 minutes").alias("w"), "event_type"
            )
            .agg(F.collect_list("cents").alias("vals"))
            .select(
                F.date_format(
                    "w.start", "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                "event_type",
                F.size("vals").cast("long").alias("n"),
                F.expr(
                    "element_at(sort_array(vals),"
                    " cast((size(vals) + 1) div 2 as int))"
                )
                .cast("long")
                .alias("median_cents"),
            )
        )
        name = f"smedian_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(agged, name, output_mode="append")
        q.stop()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


# ---------- skew salt-factor plan from the key histogram --

_SALT_H = 64  # heavy-hitter capacity (same guarantee as the sidecar)
_SALT_TARGET_DEN = 32  # per-task target = total/32 rows


def _salt_plan_oracle(
    h: int = _SALT_H, td: int = _SALT_TARGET_DEN
) -> str:
    return f"""
    WITH ok AS (
        SELECT CASE WHEN o_custkey % 97 < 30 THEN 0
                    ELSE o_custkey END AS k
        FROM orders
    ),
    co AS (SELECT k, count(*) AS n FROM ok GROUP BY k),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM co),
    hot AS (
        SELECT k, n FROM co, tot WHERE n * {h} >= t
    )
    SELECT h.k AS hot_key,
           CAST(h.n AS BIGINT) AS n_rows,
           CAST((h.n * {td} + t.t - 1) // t.t AS BIGINT)
               AS salt_factor,
           CAST(t.t // {td} AS BIGINT) AS per_task_target,
           CAST((h.n + (h.n * {td} + t.t - 1) // t.t - 1)
                // ((h.n * {td} + t.t - 1) // t.t) AS BIGINT)
               AS rows_per_salt,
           ((h.n + (h.n * {td} + t.t - 1) // t.t - 1)
            // ((h.n * {td} + t.t - 1) // t.t)
            <= t.t // {td}) AS within_target
    FROM hot h, tot t
    """


@query(
    "skew_salt_plan_from_histogram", oracle=_salt_plan_oracle()
)
def skew_salt_plan_from_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SKEW SALT-FACTOR PLANNING from per-key statistics — the third
    act of the skew trilogy: the twin MEASURED why undetected heavy
    hitters break cardinality estimates, the MG sidecar DETECTED and
    priced them, and this row PLANS the remediation a salted
    repartition executes: for every heavy key (freq > N/{_SALT_H},
    the Misra-Gries guarantee) the salt factor is
    ceil(n_k / (N/{_SALT_TARGET_DEN})) — just enough replication that
    each salted sub-key lands under the per-task row target — and the
    certificate checks the resulting rows-per-salt actually clears
    the target (exact ceiling arithmetic on both engines, the
    within_target column graded as a value). This is the arithmetic
    Spark's AQE skew-split performs at runtime, planned ahead from
    ANALYZE-grade statistics.

    Scale shape: one partial+final per-key count (the MG grain), a
    1-row total broadcast, and the bounded hot set (pigeonhole
    <= {_SALT_H} keys). Nothing scales past the first aggregate.

    Reference basis: scale-pattern family (skewed_join_replicated r2
    executes a fixed replication; join_cardinality_skew_twin +
    mg_sidecar r16 measure and detect; this row closes the loop with
    the plan)."""
    h, td = _SALT_H, _SALT_TARGET_DEN
    orders = load_table(spark, sf_dir, "orders")
    skew = F.when(
        F.col("o_custkey") % 97 < 30, F.lit(0)
    ).otherwise(F.col("o_custkey"))
    co = orders.select(skew.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = co.agg(F.sum("n").cast("long").alias("t"))
    hot = (
        co.crossJoin(F.broadcast(tot))
        .where(F.col("n") * h >= F.col("t"))
    )
    salt = F.expr(f"(n * {td} + t - 1) div t")
    rows_per_salt = F.expr(
        f"(n + (n * {td} + t - 1) div t - 1)"
        f" div ((n * {td} + t - 1) div t)"
    )
    return hot.select(
        F.col("k").alias("hot_key"),
        F.col("n").cast("long").alias("n_rows"),
        salt.cast("long").alias("salt_factor"),
        F.expr(f"t div {td}").cast("long").alias("per_task_target"),
        rows_per_salt.cast("long").alias("rows_per_salt"),
        (rows_per_salt <= F.expr(f"t div {td}")).alias(
            "within_target"
        ),
    )


# ---------- Benjamini-Yekutieli FDR under dependency (exact) --

_BY_ALPHA_DEN = 10  # alpha = 1/10
_BY_HSCALE = 1048576  # 2^20: dyadic rendering of the harmonic sum


def _by_oracle(ad: int = _BY_ALPHA_DEN, hs: int = _BY_HSCALE) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    expr = "(lang || '#' || source)"
    # planted signal: 'en' cells carry tiny p-values (true effects);
    # without the plant ~100 uniform nulls never reject under the
    # harsher BY threshold and the row would grade nothing
    p = (
        f"(CASE WHEN lang = 'en' "
        f"THEN {sql_md5_int(expr)} % 300 "
        f"ELSE {sql_md5_int(expr)} % 1000000 END)"
    )
    return f"""
    WITH cells AS (
        SELECT DISTINCT lang, source FROM documents
    ),
    tested AS (
        SELECT lang, source, {p} AS p_x FROM cells
    ),
    ranked AS (
        SELECT lang, source, p_x,
               row_number() OVER (ORDER BY p_x, lang, source)
                   AS rk,
               count(*) OVER () AS m
        FROM tested
    ),
    hconst AS (
        SELECT m,
               CAST((SELECT sum(({hs} + x - 1) // x)
                     FROM unnest(range(1, m + 1)) t(x))
                    AS BIGINT) AS h_x
        FROM (SELECT max(m) AS m FROM ranked)
    ),
    sat AS (
        SELECT r.*, h.h_x,
               ({ad} * r.p_x * r.m * h.h_x
                <= r.rk * 1000000 * {hs}) AS satisfied
        FROM ranked r, hconst h
    ),
    kstar AS (
        SELECT coalesce(max(CASE WHEN satisfied THEN rk END), 0)
                   AS ks
        FROM sat
    )
    SELECT s.lang, s.source,
           CAST(s.p_x AS BIGINT) AS p_x,
           CAST(s.rk AS BIGINT) AS rank,
           CAST(s.m AS BIGINT) AS m,
           s.h_x,
           s.satisfied,
           (s.rk <= k.ks) AS rejected
    FROM sat s, kstar k
    """


@query(
    "benjamini_yekutieli_fdr_exact", oracle=_by_oracle()
)
def benjamini_yekutieli_fdr_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BENJAMINI-YEKUTELI FDR CONTROL — the step-up correction that
    stays valid under ARBITRARY dependence between the m tests
    (Benjamini & Yekutieli 2001): the BH threshold i*alpha/m divides
    further by the harmonic sum H_m = sum_{{j<=m}} 1/j. H_m is
    irrational-adjacent (its exact rational form needs lcm(1..m),
    far past int64), so the correction constant is DEFINED here as
    the dyadic rational H_x/2^20 with H_x = sum ceil(2^20/j) — a
    deterministic, engine-identical integer that rounds every term
    UP, making the threshold alpha*i/(m*H) slightly SMALLER than the
    real-analysis one: rejections are a subset of true-BY
    rejections, so FDR control is preserved (conservative, never
    anticonservative). The verdict comparison is then pure int64:
    alpha_den * p_x * m * H_x <= rank * 10^6 * 2^20 (max ~5.4e15).
    Step-up semantics as the staged BH row: every rank <= k* is
    rejected even where its own satisfied flag is false.

    Scale shape: the test frame is the bounded (lang x source) cell
    grid (~100 cells); the ordering window, the harmonic scalar
    (computed by a sequence-fold on the count row, never a join),
    and the verdicts all run on that bounded frame. In production
    the p-values arrive from per-cell drift tests at the same grain;
    BY is what a pager needs when those tests share data and
    independence (BH's assumption) cannot be argued.

    Reference basis: monitoring family (benjamini_hochberg_fdr_stepup
    staged this round — this is its dependency-robust sibling, the
    ROTATION_R17 round-18 seed 'BH under dependency' pulled forward)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    ad, hs = _BY_ALPHA_DEN, _BY_HSCALE
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.select("lang", "source").distinct()
    h = spark_md5_int("concat(lang, '#', source)")
    pexpr = F.expr(
        f"CASE WHEN lang = 'en' THEN ({h}) % 300 "
        f"ELSE ({h}) % 1000000 END"
    )
    tested = cells.select("lang", "source", pexpr.alias("p_x"))
    w = Window.orderBy("p_x", "lang", "source")
    ranked = tested.select(
        "lang", "source", "p_x", F.row_number().over(w).alias("rk")
    )
    mh = (
        tested.agg(F.count(F.lit(1)).alias("m"))
        .select(
            "m",
            F.expr(
                f"aggregate(sequence(1, m), cast(0 as bigint),"
                f" (acc, j) -> acc"
                f" + (cast({hs} as bigint) + j - 1) div j)"
            ).alias("h_x"),
        )
    )
    sat = ranked.crossJoin(F.broadcast(mh)).select(
        "*",
        (
            ad * F.col("p_x") * F.col("m") * F.col("h_x")
            <= F.col("rk") * F.lit(1000000).cast("long") * hs
        ).alias("satisfied"),
    )
    kstar = sat.agg(
        F.coalesce(
            F.max(F.when(F.col("satisfied"), F.col("rk"))), F.lit(0)
        ).alias("ks")
    )
    return sat.crossJoin(F.broadcast(kstar)).select(
        "lang",
        "source",
        F.col("p_x").cast("long").alias("p_x"),
        F.col("rk").cast("long").alias("rank"),
        F.col("m").cast("long").alias("m"),
        F.col("h_x").cast("long").alias("h_x"),
        "satisfied",
        (F.col("rk") <= F.col("ks")).alias("rejected"),
    )


# ---------- McNemar paired-classifier test (exact integers) --

# chi-square(1df) critical value at alpha=0.05 in thousandths:
# significant iff 1000*(b-c)^2 >= 3841*(b+c)
_MCN_CRIT_X1000 = 3841


def _mcnemar_oracle(crit: int = _MCN_CRIT_X1000) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    a_seed = "'A#' || CAST(doc_id AS VARCHAR)"
    b_seed = "'B#' || CAST(doc_id AS VARCHAR)"
    y = f"({sql_md5_int('text')} % 1000 < 500)"
    fa = f"({sql_md5_int(a_seed)} % 1000 < 300)"
    fb = f"({sql_md5_int(b_seed)} % 1000 < 400)"
    return f"""
    WITH scored AS (
        SELECT lang,
               {y} AS y,
               ({y}) != ({fa}) AS pred_a,
               ({y}) != ({fb}) AS pred_b
        FROM documents
    ),
    cm AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN pred_a = y AND pred_b = y
                        THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
               CAST(sum(CASE WHEN pred_a = y AND pred_b != y
                        THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
               CAST(sum(CASE WHEN pred_a != y AND pred_b = y
                        THEN 1 ELSE 0 END) AS BIGINT) AS b_only,
               CAST(sum(CASE WHEN pred_a != y AND pred_b != y
                        THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
        FROM scored GROUP BY lang
    )
    SELECT lang, n, both_right, a_only, b_only, both_wrong,
           (a_only - b_only) * (a_only - b_only) AS mcnemar_num,
           CAST(CASE WHEN a_only + b_only > 0
                THEN 1000 * (a_only - b_only) * (a_only - b_only)
                     // (a_only + b_only)
                ELSE 0 END AS BIGINT) AS chi2_x1000,
           (a_only + b_only > 0
            AND 1000 * (a_only - b_only) * (a_only - b_only)
                >= {crit} * (a_only + b_only)) AS significant
    FROM cm
    """


@query("mcnemar_paired_exact", oracle=_mcnemar_oracle())
def mcnemar_paired_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNEMAR'S TEST, exact integers — the paired comparison an eval
    pipeline needs when two model versions score the SAME examples:
    raw accuracy deltas mislead under pairing; the information is in
    the discordant cells (b = A right & B wrong, c = the reverse).
    The statistic (b-c)^2/(b+c) is graded as the exact integer pair
    (mcnemar_num, chi2_x1000 = 1000*(b-c)^2 div (b+c)) and the
    alpha=0.05 verdict is the pure-int64 cross-multiplication
    1000*(b-c)^2 >= {_MCN_CRIT_X1000}*(b+c) — the chi-square(1df)
    critical value 3.841 rendered in thousandths, so NO float enters
    either engine. Truth and both models' predictions are
    md5-derived with planted error rates (A flips 30% of labels, B
    flips 40%), so every lang exposes a real A-over-B discordance.

    Scale shape: one scan -> per-lang contingency aggregate (the
    4-cell sufficient statistics fold map-side into 4 counters per
    group); the verdict is per-group scalar arithmetic on the
    bounded lang frame. Corpus size touches only the scan.

    Reference basis: evaluation family (cohens_kappa_exact r15 — the
    agreement view of the same paired-label shape; macro_f1 /
    auc_rank_sum — single-model views; this row adds the two-model
    DECISION test an A/B model rollout gates on)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    crit = _MCN_CRIT_X1000
    docs = load_table(spark, sf_dir, "documents")
    y = F.expr(f"({spark_md5_int('text')}) % 1000 < 500")
    fa = F.expr(
        f"({spark_md5_int(chr(39) + 'A#' + chr(39) + ' || CAST(doc_id AS STRING)')}) % 1000 < 300"
    )
    fb = F.expr(
        f"({spark_md5_int(chr(39) + 'B#' + chr(39) + ' || CAST(doc_id AS STRING)')}) % 1000 < 400"
    )
    scored = docs.select(
        "lang",
        y.alias("y"),
        (y != fa).alias("pred_a"),
        (y != fb).alias("pred_b"),
    )

    def cell(pa_right: bool, pb_right: bool, out: str):
        ca = (
            F.col("pred_a") == F.col("y")
            if pa_right
            else F.col("pred_a") != F.col("y")
        )
        cb = (
            F.col("pred_b") == F.col("y")
            if pb_right
            else F.col("pred_b") != F.col("y")
        )
        return (
            F.sum(F.when(ca & cb, 1).otherwise(0))
            .cast("long")
            .alias(out)
        )

    cm = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cell(True, True, "both_right"),
        cell(True, False, "a_only"),
        cell(False, True, "b_only"),
        cell(False, False, "both_wrong"),
    )
    d = F.col("a_only") - F.col("b_only")
    disc = F.col("a_only") + F.col("b_only")
    return cm.select(
        "lang",
        "n",
        "both_right",
        "a_only",
        "b_only",
        "both_wrong",
        (d * d).cast("long").alias("mcnemar_num"),
        F.when(
            disc > 0,
            F.expr(
                "(1000 * (a_only - b_only) * (a_only - b_only))"
                " div (a_only + b_only)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("chi2_x1000"),
        (
            (disc > 0)
            & (F.lit(1000) * d * d >= F.lit(crit) * disc)
        ).alias("significant"),
    )


# ---------- Kruskal-Wallis rank statistics (exact midranks) --


def _kw_oracle() -> str:
    return """
    WITH vals AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    pv AS (SELECT cents, count(*) AS c FROM vals GROUP BY cents),
    rk AS (
        SELECT cents, c,
               2 * coalesce(sum(c) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + c + 1 AS r2
        FROM pv
    ),
    g AS (
        SELECT event_type, cents, count(*) AS cg
        FROM vals GROUP BY 1, 2
    ),
    per AS (
        SELECT g.event_type,
               CAST(sum(g.cg) AS BIGINT) AS n,
               CAST(sum(g.cg * rk.r2) AS BIGINT) AS rank_sum_x2
        FROM g JOIN rk ON rk.cents = g.cents
        GROUP BY g.event_type
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_total,
               CAST(sum(c * c * c - c) AS BIGINT) AS tie_cube
        FROM pv
    )
    SELECT p.event_type, p.n, p.rank_sum_x2,
           CAST(p.rank_sum_x2 * 10000 // p.n AS BIGINT)
               AS meanrank_x2_pm,
           CAST(1 + (SELECT count(*) FROM per q
                     WHERE q.rank_sum_x2 * p.n
                               < p.rank_sum_x2 * q.n
                        OR (q.rank_sum_x2 * p.n
                                = p.rank_sum_x2 * q.n
                            AND q.event_type < p.event_type))
                AS BIGINT) AS mr_rank,
           t.n_total, t.tie_cube
    FROM per p, tot t
    """


@query("kruskal_wallis_rank_exact", oracle=_kw_oracle())
def kruskal_wallis_rank_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KRUSKAL-WALLIS sufficient statistics, exact — the k-group
    nonparametric location test (does any event_type's value
    distribution stochastically dominate?) reduced to its exact
    integer sufficient statistics: per-group midrank sums. Tied
    values get the textbook midrank, kept integer by DOUBLING — a
    tie group occupying ranks s+1..s+c has midrank s+(c+1)/2, so
    the doubled midrank is 2s+c+1, always int64. The graded frame
    is (n_i, rank_sum_x2_i) per group — Sigma_i rank_sum_x2_i =
    N(N+1) is the conservation witness — plus the global tie
    correction term Sigma(c^3-c), the per-group mean doubled-rank
    in permyriad (integer division), and each group's dominance
    rank decided by exact cross-multiplication
    (rank_sum_j * n_i vs rank_sum_i * n_j, max ~2e15), never a
    float ratio. The H statistic itself is a driver-side O(k)
    formula over these statistics; squaring rank sums in-engine
    would overflow int64 at sf0.1, so the sufficient-statistics
    frame IS the deliverable (the decision chi2/BH rows take too).

    Scale shape: the rank frame collapses to DISTINCT cents FIRST
    (value domain [0, ~328) -> <= ~33k distinct cents, bounded by
    the DOMAIN, not the corpus), so the one global cumulative
    window runs on a domain-bounded frame — the same bounded-grid
    argument as the staged discretization row. Group statistics
    are equi-joins and aggregates at the same bounded grain; the
    dominance rank is a broadcast self-join of the k-row frame.

    Reference basis: statistics family (chi2_independence r14 —
    categorical independence; auc_rank_sum_exact TAIL — the k=2
    rank-sum special case; this row generalizes the doubled-midrank
    device to k groups with tie correction)."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    pv = vals.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = pv.select(
        "cents",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(wcum), F.lit(0))
            + F.col("c")
            + 1
        ).alias("r2"),
    )
    g = vals.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("cg")
    )
    per = (
        g.join(rk, "cents")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("long").alias("n"),
            F.sum(F.col("cg") * F.col("r2"))
            .cast("long")
            .alias("rank_sum_x2"),
        )
    )
    tot = pv.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_cube"),
    )
    q = per.select(
        F.col("event_type").alias("et_j"),
        F.col("n").alias("n_j"),
        F.col("rank_sum_x2").alias("r2_j"),
    )
    better = (
        F.col("r2_j") * F.col("n")
        < F.col("rank_sum_x2") * F.col("n_j")
    ) | (
        (F.col("r2_j") * F.col("n")
         == F.col("rank_sum_x2") * F.col("n_j"))
        & (F.col("et_j") < F.col("event_type"))
    )
    ranked = (
        per.join(F.broadcast(q), better, "left")
        .groupBy("event_type", "n", "rank_sum_x2")
        .agg((F.count("et_j") + 1).cast("long").alias("mr_rank"))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "rank_sum_x2",
        F.expr("rank_sum_x2 * 10000 div n")
        .cast("long")
        .alias("meanrank_x2_pm"),
        "mr_rank",
        "n_total",
        "tie_cube",
    )


# ---------- 1-D Wasserstein distance between distributions --


def _w1_oracle() -> str:
    return """
    WITH vals AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    pts AS (SELECT DISTINCT cents FROM vals),
    grid AS (
        SELECT t.event_type, p.cents
        FROM (SELECT DISTINCT event_type FROM vals) t, pts p
    ),
    cnt AS (
        SELECT event_type, cents, count(*) AS c
        FROM vals GROUP BY 1, 2
    ),
    cum AS (
        SELECT g.event_type, g.cents,
               sum(coalesce(c.c, 0)) OVER (
                   PARTITION BY g.event_type ORDER BY g.cents
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
               lead(g.cents) OVER (
                   PARTITION BY g.event_type ORDER BY g.cents)
                   - g.cents AS dx
        FROM grid g LEFT JOIN cnt c
          ON c.event_type = g.event_type AND c.cents = g.cents
    ),
    tot AS (
        SELECT event_type, count(*) AS n FROM vals GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               ta.n AS n_a, tb.n AS n_b,
               sum(a.dx * abs(a.cum * tb.n - b.cum * ta.n))
                   AS w1_num
        FROM cum a
        JOIN cum b ON b.cents = a.cents
                  AND b.event_type > a.event_type
        JOIN tot ta ON ta.event_type = a.event_type
        JOIN tot tb ON tb.event_type = b.event_type
        WHERE a.dx IS NOT NULL
        GROUP BY 1, 2, 3, 4
    )
    SELECT type_a, type_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(w1_num AS BIGINT) AS w1_num,
           CAST(w1_num * 1000 // (n_a * n_b) AS BIGINT)
               AS w1_cents_x1000
    FROM pairs
    """


@query(
    "wasserstein_1d_histogram_exact", oracle=_w1_oracle()
)
def wasserstein_1d_histogram_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-D WASSERSTEIN (earth-mover) DISTANCE, exact — for every
    event-type pair, the W1 distance between their value
    distributions via the one-dimensional identity W1 = integral
    |F_a(x) - F_b(x)| dx: on the shared grid of observed cents the
    ECDF gap integrates as Sigma dx * |cum_a*n_b - cum_b*n_a| with
    exact integer cross-multiplied cumulative counts (never a float
    ECDF), graded as the numerator plus the integer-division
    rendering in milli-cents. W1 complements the TV/PSI/KS drift
    family: it is the only one that weighs HOW FAR mass moved, the
    metric a curriculum/mixture shift audit actually wants (TV
    saturates on disjoint supports; W1 reports the transport cost).

    Scale shape: the scan collapses to (type x distinct-cents)
    counts FIRST; the grid is domain-bounded (<= ~33k cents by the
    value range, x 5 types), the cumulative windows partition per
    type over that bounded frame, and pairing is an equi-join on
    cents — never a row-grain pairwise product. Conservation
    witness: W1 telescopes, so w1_num <= cents-range * n_a * n_b.

    Reference basis: drift family (token_tv_distance_matrix r15 —
    TV at token grain; binned_ks_statistic TAIL — sup-gap; psi r15
    — binned likelihood; this row adds transport cost, the fourth
    and only distance-aware member)."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    pts = vals.select("cents").distinct()
    types = vals.select("event_type").distinct()
    grid = types.crossJoin(pts)
    cnt = vals.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    wt = Window.partitionBy("event_type").orderBy("cents")
    cum = (
        grid.join(cnt, ["event_type", "cents"], "left")
        .select(
            "event_type",
            "cents",
            F.sum(F.coalesce("c", F.lit(0)))
            .over(wt.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
            (F.lead("cents").over(wt) - F.col("cents")).alias("dx"),
        )
        .where(F.col("dx").isNotNull())
    )
    tot = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = cum.select(
        F.col("event_type").alias("type_a"),
        "cents",
        F.col("cum").alias("cum_a"),
        "dx",
    ).join(
        F.broadcast(
            tot.select(
                F.col("event_type").alias("type_a"),
                F.col("n").alias("n_a"),
            )
        ),
        "type_a",
    )
    b = cum.select(
        F.col("event_type").alias("type_b"),
        F.col("cents").alias("cents_b"),
        F.col("cum").alias("cum_b"),
    ).join(
        F.broadcast(
            tot.select(
                F.col("event_type").alias("type_b"),
                F.col("n").alias("n_b"),
            )
        ),
        "type_b",
    )
    joined = a.join(
        b,
        (F.col("cents_b") == F.col("cents"))
        & (F.col("type_b") > F.col("type_a")),
    )
    return (
        joined.groupBy("type_a", "type_b", "n_a", "n_b")
        .agg(
            F.sum(
                F.col("dx")
                * F.abs(
                    F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")
                )
            )
            .cast("long")
            .alias("w1_num")
        )
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "w1_num",
            F.expr("w1_num * 1000 div (n_a * n_b)")
            .cast("long")
            .alias("w1_cents_x1000"),
        )
    )


# ---------- capture-recapture corpus-size estimate (Chapman) --

_CRC_SHINGLE_N = 8


def _crc_oracle(n: int = _CRC_SHINGLE_N) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_shingles

    sh = sql_shingles("text", n)
    return f"""
    WITH sh AS (
        SELECT lang,
               CAST(substring(source, 4) AS BIGINT) % 2 AS half,
               unnest({sh}) AS g
        FROM documents
    ),
    occ AS (SELECT DISTINCT lang, half, g FROM sh),
    caps AS (
        SELECT lang, g,
               max(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS in_1,
               max(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in_2
        FROM occ GROUP BY lang, g
    ),
    agg AS (
        SELECT lang,
               CAST(sum(in_1) AS BIGINT) AS n1,
               CAST(sum(in_2) AS BIGINT) AS n2,
               CAST(sum(in_1 * in_2) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n_true
        FROM caps GROUP BY lang
    )
    SELECT lang, n1, n2, m, n_true,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
               AS chapman_est,
           CAST(abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true)
                AS BIGINT) AS abs_err
    FROM agg
    """


@query(
    "capture_recapture_chapman_estimate", oracle=_crc_oracle()
)
def capture_recapture_chapman_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CAPTURE-RECAPTURE SIZE ESTIMATION (Chapman estimator) — the
    ecology device a corpus team uses to answer "how many DISTINCT
    shingles does the population hold?" from two overlapping crawls
    without union-counting everything: per lang, crawl 1 = the
    distinct {_CRC_SHINGLE_N}-gram shingles seen in even-numbered
    sources, crawl 2 = odd-numbered sources, and the Chapman
    estimate (n1+1)(n2+1)/(m+1) - 1 (integer division, exact in
    both engines; bias-corrected Lincoln-Petersen) is graded NEXT
    TO the true distinct count — the fixture makes the certificate
    (abs_err) checkable because the whole population IS enumerable
    here, which is exactly what a staged estimator row should do.

    Scale shape: explode to (lang, half, shingle) grain, collapse
    to distinct occurrences (the dedup group-by absorbs the Zipf
    head map-side), then one aggregate per (lang, shingle) and one
    per lang — no joins at shingle grain, no pairwise anything. At
    100 TB the two "captures" are cheap per-crawl distinct sketches
    and the estimator needs only the three scalars per stratum.

    Reference basis: estimation family (kmv_intersection_estimate
    r14 — sketch-based overlap; ngram_novelty_growth TAIL — exact
    vocabulary growth; this row is the sample-overlap ESTIMATOR
    with its error graded against enumerated truth)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_shingles

    n = _CRC_SHINGLE_N
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "lang",
        (F.expr("cast(substring(source, 4) as bigint)") % 2).alias(
            "half"
        ),
        F.explode(F.expr(spark_shingles("text", n))).alias("g"),
    )
    occ = sh.distinct()
    caps = occ.groupBy("lang", "g").agg(
        F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias(
            "in_1"
        ),
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias(
            "in_2"
        ),
    )
    agg = caps.groupBy("lang").agg(
        F.sum("in_1").cast("long").alias("n1"),
        F.sum("in_2").cast("long").alias("n2"),
        F.sum(F.col("in_1") * F.col("in_2"))
        .cast("long")
        .alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    est = F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1")
    return agg.select(
        "lang",
        "n1",
        "n2",
        "m",
        "n_true",
        est.cast("long").alias("chapman_est"),
        F.abs(est - F.col("n_true")).cast("long").alias("abs_err"),
    )


# ---------- Allen interval-relation census (13 relations) --

_ALLEN_CASE = """
    CASE
      WHEN ea < sb THEN 'precedes'
      WHEN eb < sa THEN 'preceded_by'
      WHEN ea = sb THEN 'meets'
      WHEN eb = sa THEN 'met_by'
      WHEN sa = sb AND ea = eb THEN 'equals'
      WHEN sa = sb AND ea < eb THEN 'starts'
      WHEN sa = sb THEN 'started_by'
      WHEN ea = eb AND sa < sb THEN 'finished_by'
      WHEN ea = eb THEN 'finishes'
      WHEN sa < sb AND ea > eb THEN 'contains'
      WHEN sa > sb AND ea < eb THEN 'during'
      WHEN sa < sb THEN 'overlaps'
      ELSE 'overlapped_by'
    END
"""


def _allen_oracle() -> str:
    return f"""
    WITH iv AS (
        SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
               o.o_orderdate AS s, e.e AS e
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN (SELECT l_orderkey, max(l_shipdate) AS e
              FROM lineitem GROUP BY l_orderkey) e
          ON e.l_orderkey = o.o_orderkey
        WHERE e.e > o.o_orderdate
    ),
    pairs AS (
        SELECT a.c_mktsegment,
               a.s AS sa, a.e AS ea, b.s AS sb, b.e AS eb
        FROM iv a JOIN iv b
          ON b.o_custkey = a.o_custkey
         AND b.o_orderkey > a.o_orderkey
    ),
    rel AS (
        SELECT c_mktsegment, {_ALLEN_CASE} AS relation
        FROM pairs
    ),
    cnt AS (
        SELECT c_mktsegment, relation,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM rel GROUP BY 1, 2
    )
    SELECT c_mktsegment, relation, n_pairs,
           CAST(n_pairs * 10000 // sum(n_pairs) OVER (
               PARTITION BY c_mktsegment) AS BIGINT) AS share_pm
    FROM cnt
    """


@query(
    "allen_interval_relation_matrix", oracle=_allen_oracle()
)
def allen_interval_relation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALLEN'S INTERVAL ALGEBRA CENSUS — every pair of a customer's
    order-fulfilment intervals (order date -> last line shipment,
    proper intervals only) classified into the exhaustive, mutually
    exclusive 13-relation calculus (Allen 1983: precedes/meets/
    overlaps/starts/during/finishes, equals, and the six inverses),
    counted per market segment with an exact permyriad share. The
    CASE ladder is ordered so each arm adds only the comparisons
    that distinguish it from the arms above — the standard way to
    make the 13 relations total and disjoint — and every comparison
    is exact timestamp equality/order (microsecond integers in both
    engines; no epsilon, no rounding). The existing interval rows
    answer "how much overlap" (join/coverage grains); this census
    answers WHICH temporal configuration, the feature a process-
    mining or scheduling-audit pipeline consumes.

    Scale shape: interval construction is one lineitem aggregate +
    a broadcast customer-dim join at order grain; pairing is an
    equi-join on o_custkey (bounded orders-per-customer, the same
    per-key quadratic bound as transition_dwell_matrix), and the
    census collapses to the fixed (segment x 13) frame, where the
    share window runs. Corpus growth widens only the equi-join's
    key count, not any per-key frame.

    Reference basis: temporal family (interval_overlap_join_buckets
    TAIL — overlap pairs; range_join_shipment_windows TAIL — range
    predicates; this row adds the complete qualitative-relation
    classification over the same interval grain)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ends = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("e")
    )
    iv = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_mktsegment")
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(ends, orders.o_orderkey == F.col("l_orderkey"))
        .where(F.col("e") > F.col("o_orderdate"))
        .select(
            "o_orderkey",
            "o_custkey",
            "c_mktsegment",
            F.col("o_orderdate").alias("s"),
            "e",
        )
    )
    a = iv.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("oa"),
        "c_mktsegment",
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    b = iv.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("ob"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    pairs = a.join(b, "k").where(F.col("ob") > F.col("oa"))
    rel = pairs.select(
        "c_mktsegment", F.expr(_ALLEN_CASE).alias("relation")
    )
    cnt = rel.groupBy("c_mktsegment", "relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    wseg = Window.partitionBy("c_mktsegment")
    return cnt.withColumn(
        "seg_total", F.sum("n_pairs").over(wseg)
    ).select(
        "c_mktsegment",
        "relation",
        "n_pairs",
        F.expr("n_pairs * 10000 div seg_total")
        .cast("long")
        .alias("share_pm"),
    )


# ---------- winnowing fingerprint selection (certified density) --

_WIN_K = 5  # k-gram length
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_HMOD = 1073741824  # 2^30 hash range
# 2^32 position field in the composite key: h < 2^30, so the widest key
# is (2^30-1)*2^32 + (2^32-1) = 2^62-1, still int64-exact. A position
# past 2^32 would need a >4.29 GB single string, beyond the JVM's 2 GB
# array cap, so the bound is unreachable by construction — and BOTH
# engines additionally enforce it with a fail-loud guard (assert_true /
# error()) rather than silently mis-ordering ties.
_WIN_PBASE = 4294967296


def _winnow_oracle(
    k: int = _WIN_K, w: int = _WIN_W, pbase: int = _WIN_PBASE
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    h = sql_md5_int("substring(d.text, CAST(p.pos AS INTEGER), " + str(k) + ")")
    return f"""
    WITH grams AS (
        SELECT d.doc_id, p.pos,
               ({h}) % {_WIN_HMOD} AS h,
               CASE WHEN length(d.text) - {k} + 1 > {pbase - 1}
                    THEN CAST(error('winnowing: document exceeds the '
                         || '{pbase}-char position bound; window into '
                         || 'spans first') AS BIGINT)
                    ELSE length(d.text) - {k} + 1 END AS n_grams
        FROM documents d,
             LATERAL (SELECT unnest(range(1,
                 greatest(length(d.text) - {k} + 2, 1))) AS pos) p
        WHERE length(d.text) >= {k}
    ),
    keyed AS (
        SELECT doc_id, pos, n_grams,
               min(h * {pbase} + ({pbase} - 1 - pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {w - 1} PRECEDING
                              AND CURRENT ROW) AS sel_key
        FROM grams
    ),
    sel AS (
        SELECT doc_id, max(n_grams) AS n_grams,
               count(*) AS n_windows,
               count(DISTINCT sel_key) AS n_selected
        FROM keyed WHERE pos >= {w}
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_selected AS BIGINT) AS n_selected,
           CAST(n_selected * 10000 // n_windows AS BIGINT)
               AS density_pm,
           (n_selected * {w} >= n_windows) AS lower_bound_ok,
           (n_selected <= n_windows) AS upper_bound_ok
    FROM sel
    """


@query(
    "winnowing_fingerprint_density_certified",
    oracle=_winnow_oracle(),
)
def winnowing_fingerprint_density_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WINNOWING FINGERPRINT SELECTION (Schleimer/Wilkerson/Aiken
    2003) — the MOSS document-fingerprinting scheme: hash every
    {_WIN_K}-gram, slide a window of {_WIN_W} consecutive hashes,
    and in each window select the minimum hash, ties to the
    RIGHTMOST position — the rule that makes selection LOCAL (a
    function of the window alone), which is what guarantees any
    two documents sharing a long-enough substring share a selected
    fingerprint. Min-with-rightmost-tie is one composite int64 key,
    min(h * 2^20 + (2^20-1-pos)), over a bounded window frame; the
    distinct selected keys per document are counted against the
    scheme's own guarantees, graded as booleans: at least one pick
    per window, hence n_selected*w >= n_windows (each pick covers
    at most w windows), and at most one per window. The graded
    density_pm sits near the paper's expected 2/(w+1).

    Scale shape: explode to gram grain (chars per doc), one
    per-doc-bounded window pass, one per-doc aggregate — no joins,
    no corpus-grain window. The fingerprint sets (sel_key values)
    feed a bucket-join dedup exactly like minhash bands at 100 TB.
    Domain bound: the composite key reserves a 2^32-wide position
    field (int64-exact since h < 2^30), unreachable by construction
    — a position past 2^32 needs a >4.29 GB single string, beyond
    the JVM's 2 GB array cap — and ENFORCED fail-loud in both
    engines (assert_true / error()) so an out-of-range doc aborts
    the query instead of silently mis-ordering rightmost ties.

    Reference basis: fingerprint family (text_fingerprint TAIL —
    whole-doc hash; dedup_minhash_lsh flagship — random-permutation
    sketches; this row adds the POSITIONAL selection scheme whose
    guarantee is substring-match coverage, the plagiarism/clone
    detector grain)."""
    docs = load_table(spark, sf_dir, "documents")
    return _winnow_plan(docs)


def _winnow_plan(
    docs: DataFrame,
    k: int = _WIN_K,
    w: int = _WIN_W,
    pbase: int = _WIN_PBASE,
) -> DataFrame:
    """The winnowing plan over any (doc_id, text) frame — factored so
    tests can drive the tie-key stage past the old 2^20 position
    boundary (via _winnow_from_grams on synthetic grams) and against a
    small ``pbase`` to prove the guard fires. Note long docs should be
    span-windowed for COST regardless of the key bound: substring(text,
    pos, k) walks from the string head (variable-width encoding), so
    gram extraction is O(len^2) bytes per doc — fine at the corpus's
    hundreds of chars, wasteful at multi-MB."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = docs.where(F.length("text") >= k)
    h = spark_md5_int(f"substring(text, pos, {k})")
    # Fail-loud position-bound guard: assert_true yields NULL when the
    # bound holds, so coalesce passes the real gram count through; an
    # oversized doc aborts the job with the message instead.
    n_grams_checked = F.coalesce(
        F.assert_true(
            F.length("text") - k + 1 <= F.lit(pbase - 1),
            F.lit(
                f"winnowing: document exceeds the {pbase}-char "
                "position bound; window into spans first"
            ),
        ).cast("int"),
        F.length("text") - k + 1,
    )
    grams = docs.select(
        "doc_id",
        "text",
        n_grams_checked.alias("n_grams"),
        F.explode(
            F.expr(f"sequence(1, length(text) - {k} + 1)")
        ).alias("pos"),
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        (F.expr(h) % _WIN_HMOD).alias("h"),
    )
    return _winnow_from_grams(grams, w, pbase)


def _winnow_from_grams(
    grams: DataFrame, w: int = _WIN_W, pbase: int = _WIN_PBASE
) -> DataFrame:
    """Selection + density over a (doc_id, n_grams, pos, h) frame: the
    composite-key stage, where the position bound lives."""
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    keyed = grams.select(
        "doc_id",
        "n_grams",
        "pos",
        F.min(
            F.col("h") * pbase
            + (F.lit(pbase - 1) - F.col("pos"))
        )
        .over(wf)
        .alias("sel_key"),
    ).where(F.col("pos") >= w)
    sel = keyed.groupBy("doc_id").agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.countDistinct("sel_key").cast("long").alias("n_selected"),
    )
    return sel.select(
        "doc_id",
        "n_grams",
        "n_windows",
        "n_selected",
        F.expr("n_selected * 10000 div n_windows")
        .cast("long")
        .alias("density_pm"),
        (F.col("n_selected") * w >= F.col("n_windows")).alias(
            "lower_bound_ok"
        ),
        (F.col("n_selected") <= F.col("n_windows")).alias(
            "upper_bound_ok"
        ),
    )


# ---------- edit-distance-1 join via deletion neighborhoods --


def _edit1_oracle() -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import sql_md5_int

    return f"""
    WITH words AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    base AS (SELECT word FROM words WHERE length(word) >= 3),
    planted AS (
        SELECT substring(word, 1,
                   CAST({sql_md5_int('word')} % length(word)
                        AS INTEGER))
               || substring(word,
                   CAST({sql_md5_int('word')} % length(word)
                        AS INTEGER) + 2) AS word
        FROM base
    ),
    vocab AS (
        SELECT word,
               max(CASE WHEN tag = 'orig' THEN 1 ELSE 0 END)
                   AS is_orig
        FROM (SELECT word, 'orig' AS tag FROM base
              UNION ALL
              SELECT word, 'var' AS tag FROM planted)
        GROUP BY word
    ),
    sigs AS (
        SELECT word, is_orig, word AS sig FROM vocab
        UNION
        SELECT word, is_orig,
               substring(word, 1, CAST(i AS INTEGER) - 1)
                   || substring(word, CAST(i AS INTEGER) + 1) AS sig
        FROM vocab, LATERAL (
            SELECT unnest(range(1, length(word) + 1)) AS i) r
    ),
    cand AS (
        SELECT DISTINCT a.word AS word_a, a.is_orig AS orig_a,
               b.word AS word_b, b.is_orig AS orig_b
        FROM sigs a JOIN sigs b
          ON b.sig = a.sig AND a.word < b.word
    )
    SELECT word_a, word_b,
           (orig_a = 1) AS a_in_corpus,
           (orig_b = 1) AS b_in_corpus
    FROM cand
    WHERE levenshtein(word_a, word_b) <= 1
    """


@query(
    "edit1_neighborhood_join_complete", oracle=_edit1_oracle()
)
def edit1_neighborhood_join_complete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EDIT-DISTANCE-1 JOIN WITH A COMPLETENESS THEOREM — the
    deletion-neighborhood device (FastSS): every string signs with
    itself plus each single-character deletion; two strings at
    Levenshtein distance <= 1 ALWAYS share a signature (equal
    length/substitution: delete the differing position from both;
    insertion/deletion: the shorter string is itself a deletion of
    the longer), so the signature equi-join misses NOTHING — unlike
    the TAIL fuzzy_dedup_levenshtein row, whose exact-prefix
    blocking is a recall heuristic. Candidates from the bucket join
    are confirmed by exact JVM-side levenshtein (codegen in both
    engines). The corpus vocabulary has no natural distance-1 pairs
    (checked), so each word >= 3 chars plants one md5-positioned
    single-deletion variant; the graded pair set tags which side is
    a corpus word, and the brute-force witness proves completeness
    by comparing against the ALL-PAIRS scan at sf0.001.

    Scale shape: signatures explode each word into length+1 short
    strings (bounded by word length), the join is a pure equi-join
    on the signature (bucket-collision density, never n^2), and
    verification touches only emitted candidates — the identical
    economics as LSH banding, but with a THEOREM instead of a
    probability for recall.

    Reference basis: dedup family (fuzzy_dedup_levenshtein TAIL —
    heuristic blocking this row upgrades; setsim_prefix_filter_join
    TAIL — the token-set analogue of exact-recall filtering)."""
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .distinct()
        .where(F.length("word") >= 3)
    )
    planted = base.select(
        F.concat(
            F.expr(
                f"substring(word, 1, cast(({spark_md5_int('word')})"
                f" % length(word) as int))"
            ),
            F.expr(
                f"substring(word, cast(({spark_md5_int('word')})"
                f" % length(word) as int) + 2)"
            ),
        ).alias("word")
    )
    vocab = (
        base.select("word", F.lit(1).alias("o"))
        .unionByName(planted.select("word", F.lit(0).alias("o")))
        .groupBy("word")
        .agg(F.max("o").alias("is_orig"))
    )
    sigs = (
        vocab.select(
            "word", "is_orig", F.col("word").alias("sig")
        )
        .unionByName(
            vocab.select(
                "word",
                "is_orig",
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(word)),"
                        " i -> concat(substring(word, 1, i - 1),"
                        " substring(word, i + 1)))"
                    )
                ).alias("sig"),
            )
        )
        .distinct()
    )
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            on=(F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .select(
            F.col("a.word").alias("word_a"),
            F.col("a.is_orig").alias("orig_a"),
            F.col("b.word").alias("word_b"),
            F.col("b.is_orig").alias("orig_b"),
        )
        .distinct()
    )
    return cand.where(
        F.levenshtein("word_a", "word_b") <= 1
    ).select(
        "word_a",
        "word_b",
        (F.col("orig_a") == 1).alias("a_in_corpus"),
        (F.col("orig_b") == 1).alias("b_in_corpus"),
    )


# ---------- BPE merge-apply supersteps (greedy, run-parity) -----

_BPE_STEPS = 3


def _bpe_step_sql(k: int) -> str:
    """One BPE superstep as DuckDB CTEs: pair count -> argmax pair ->
    greedy left-to-right apply via the run-parity rule."""
    return f"""
    n{k} AS (
        SELECT word, freq, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{k}
    ),
    b{k} AS (
        SELECT sym AS ml, nxt AS mr,
               CAST(sum(freq) AS BIGINT) AS mcnt
        FROM n{k} WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
        ORDER BY mcnt DESC, ml, mr
        LIMIT 1
    ),
    m{k} AS (
        SELECT n.word, n.freq, n.pos, n.sym, n.nxt,
               (n.nxt IS NOT NULL AND n.sym = b.ml
                AND n.nxt = b.mr) AS mt
        FROM n{k} n CROSS JOIN b{k} b
    ),
    g{k} AS (
        SELECT *, CASE WHEN mt THEN pos - row_number()
                   OVER (PARTITION BY word, mt ORDER BY pos) END
                   AS grp
        FROM m{k}
    ),
    e{k} AS (
        SELECT *, mt AND ((pos - min(pos)
                   OVER (PARTITION BY word, grp)) % 2 = 0) AS merged
        FROM g{k}
    ),
    r{k} AS (
        SELECT word, freq, pos,
               CASE WHEN merged THEN sym || nxt ELSE sym END AS sym,
               coalesce(lag(merged) OVER (PARTITION BY word
                   ORDER BY pos), false) AS prevm
        FROM e{k}
    ),
    s{k + 1} AS (
        SELECT word, freq,
               CAST(row_number() OVER (PARTITION BY word
                   ORDER BY pos) AS BIGINT) AS pos,
               sym
        FROM r{k} WHERE NOT prevm
    ),
    t{k} AS (
        SELECT {k + 1} AS step, b.ml AS merge_left,
               b.mr AS merge_right, b.mcnt AS merge_count,
               (SELECT CAST(count(DISTINCT sym) AS BIGINT)
                FROM s{k + 1}) AS n_vocab,
               (SELECT CAST(sum(freq) AS BIGINT)
                FROM s{k + 1}) AS n_tokens
        FROM b{k} b
    )"""


def _bpe_oracle(steps: int = _BPE_STEPS) -> str:
    ctes = ",".join(_bpe_step_sql(k) for k in range(steps))
    unions = " UNION ALL ".join(
        f"SELECT * FROM t{k}" for k in range(steps)
    )
    return f"""
    WITH words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 1
        GROUP BY word
    ),
    s0 AS (
        SELECT w.word, w.freq, CAST(p.pos AS BIGINT) AS pos,
               substring(w.word, CAST(p.pos AS INTEGER), 1) AS sym
        FROM words w, LATERAL (SELECT unnest(
            range(1, length(w.word) + 1)) AS pos) p
    ),{ctes}
    {unions}
    """


@query(
    "bpe_merge_supersteps_greedy", oracle=_bpe_oracle()
)
def bpe_merge_supersteps_greedy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BYTE-PAIR-ENCODING MERGE SUPERSTEPS (Sennrich/Haddow/Birch
    2016) — the tokenizer-training inner loop, run for
    {_BPE_STEPS} supersteps over the corpus word-frequency table:
    count adjacent symbol pairs weighted by word frequency, pick
    the argmax pair (ties: lexicographic), and apply the merge with
    the classical GREEDY LEFT-TO-RIGHT rule. The sequential-looking
    greedy scan is data-parallel via the RUN-PARITY identity:
    overlap conflicts only occur inside maximal runs of consecutive
    match positions (which requires left==right, e.g. 'l l l'), and
    greedy keeps exactly the even offsets of each run — so merge
    selection is two window passes (run grouping by pos -
    row_number, then offset parity), never a per-word loop. Graded
    per step: the chosen pair, its weighted count, and the
    post-merge vocabulary size and corpus token count.

    Scale shape: state lives at (word, pos) grain — corpus
    characters, the same grain the winnowing row explodes to; each
    superstep is one map-side-combinable pair count, a 1-row
    broadcast argmax, and per-WORD-partitioned windows (millions of
    small partitions, no skew). At 100 TB the per-step state would
    be checkpointed (the curation-v4 precedent) rather than
    re-derived through lineage; at test SF the 3-step lazy unroll
    is deliberate so the audits see every exchange.

    Reference basis: tokenizer family (token_count_bpe_regex TAIL —
    applies a FIXED regex tokenizer; this row TRAINS merges, the
    half the reference lacks; graph_pregel_superstep2 TAIL — the
    same unrolled-superstep device on graphs)."""
    state, bests = _bpe_chain(spark, sf_dir, _BPE_STEPS)
    stats = []
    for k, (best, post) in enumerate(bests):
        stats.append(
            best.select(
                F.lit(k + 1).alias("step"),
                F.col("ml").alias("merge_left"),
                F.col("mr").alias("merge_right"),
                F.col("mcnt").alias("merge_count"),
            ).crossJoin(post)
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _bpe_chain(spark: SparkSession, sf_dir: str, steps: int):
    """The BPE superstep chain, factored so the staged apply row can
    reuse the identical lazy plan: returns the final symbol state
    (word, freq, pos, sym) plus per-step (best-pair, post-stats)
    1-row frames. Pure plan construction — no action."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    state = (
        words.select(
            "word",
            "freq",
            F.explode(
                F.expr("sequence(1, length(word))")
            ).alias("p"),
        )
        .select(
            "word",
            "freq",
            F.col("p").cast("long").alias("pos"),
            F.expr("substring(word, p, 1)").alias("sym"),
        )
    )
    wn = Window.partitionBy("word").orderBy("pos")
    bests = []
    for _k in range(steps):
        n = state.withColumn("nxt", F.lead("sym").over(wn))
        best = (
            n.where(F.col("nxt").isNotNull())
            .groupBy(
                F.col("sym").alias("ml"), F.col("nxt").alias("mr")
            )
            .agg(F.sum("freq").cast("long").alias("mcnt"))
            .orderBy(F.desc("mcnt"), "ml", "mr")
            .limit(1)
        )
        m = n.crossJoin(F.broadcast(best)).withColumn(
            "mt",
            F.col("nxt").isNotNull()
            & (F.col("sym") == F.col("ml"))
            & (F.col("nxt") == F.col("mr")),
        )
        # run grouping stays on the WORD partitioning (guide §2.4):
        # the old (word, mt) row_number + (word, grp) min windows each
        # re-exchanged the corpus grain per superstep; since every pos
        # 1..len is present as a row, a maximal match-run starts
        # exactly where mt flips on, so the run start is the last
        # boundary position carried forward — two more passes over the
        # SAME word-ordered partition, zero new exchanges. Identical
        # parity: pos - run_start == pos - min(pos) of the run.
        g = m.withColumn(
            "bnd",
            F.when(
                F.col("mt")
                & ~F.coalesce(F.lag("mt").over(wn), F.lit(False)),
                F.col("pos"),
            ),
        )
        e = g.withColumn(
            "merged",
            F.col("mt")
            & (
                (
                    F.col("pos")
                    - F.last("bnd", ignorenulls=True).over(
                        wn.rowsBetween(Window.unboundedPreceding, 0)
                    )
                )
                % 2
                == 0
            ),
        )
        r = e.select(
            "word",
            "freq",
            "pos",
            F.when(F.col("merged"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
            F.coalesce(
                F.lag("merged").over(wn), F.lit(False)
            ).alias("prevm"),
        )
        state = r.where(~F.col("prevm")).select(
            "word",
            "freq",
            F.row_number().over(wn).cast("long").alias("pos"),
            "sym",
        )
        post = state.agg(
            F.countDistinct("sym").cast("long").alias("n_vocab"),
            F.sum("freq").cast("long").alias("n_tokens"),
        )
        bests.append((best, post))
    return state, bests


# ---------- seasonal Theil-Sen: robust slope on de-seasonalized --


def _seasonal_ts_oracle() -> str:
    return """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT event_type, d,
               (d - DATE '1970-01-01') % 7 AS dow,
               cents
        FROM daily
    ),
    med AS (
        SELECT event_type, dow,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
        FROM keyed GROUP BY event_type, dow
    ),
    amp AS (
        SELECT event_type,
               CAST(max(med) - min(med) AS BIGINT)
                   AS seasonal_amplitude_cents
        FROM med GROUP BY event_type
    ),
    resid AS (
        SELECT k.event_type, k.d, k.cents - m.med AS r
        FROM keyed k JOIN med m USING (event_type, dow)
    ),
    idx AS (
        SELECT event_type, r,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY d) - 1 AS i
        FROM resid
    ),
    slopes AS (
        SELECT a.event_type,
               b.r - a.r AS num,
               b.i - a.i AS den
        FROM idx a JOIN idx b
          ON b.event_type = a.event_type AND b.i > a.i
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(
               num * 1099511627776 // den, 0.5) AS BIGINT)
               AS median_resid_slope_key,
           CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rising_pairs,
           CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_falling_pairs,
           min(a.seasonal_amplitude_cents)
               AS seasonal_amplitude_cents
    FROM slopes s JOIN amp a USING (event_type)
    GROUP BY s.event_type
    """


@query(
    "seasonal_theil_sen_residual_slope",
    oracle=_seasonal_ts_oracle(),
)
def seasonal_theil_sen_residual_slope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL THEIL-SEN — the ROTATION_R17 round-18 seed: weekday-
    median de-seasonalization COMPOSED with the exact robust slope.
    Raw daily revenue carries a day-of-week cycle that inflates
    pairwise slopes at lags not divisible by 7; subtracting the
    per-(type, weekday) discrete median (quantile_disc — an actual
    data value, exact in integers cents) removes the cycle, and
    Theil-Sen then runs on the RESIDUAL series: every i<j pair
    contributes (r_j - r_i)/(j - i), rendered as the truncating
    integer key num * 2^40 div den (both engines truncate toward
    zero — verified: DuckDB // and Spark div agree at -7/2 = -3),
    and the discrete median key is the graded slope. The seasonal
    amplitude (max - min weekday median) is graded alongside — the
    quantity that says how much the de-seasonalization mattered.

    Scale shape: the fact scan collapses to the bounded (type x day)
    frame FIRST (one map-combinable aggregate); the weekday-median
    frame is (type x 7); the pairwise frame is calendar-bounded
    (30 days -> 435 pairs per type). Identical exchange economics to
    the standalone theil_sen_slope_exact row it composes with
    dow_seasonal_median_residuals (both graded r16 head).

    Reference basis: time-series family (theil_sen_slope_exact
    staged, dow_seasonal_median_residuals r16 head,
    seasonal_cusum_residual_flags staged — this row is the
    robust-slope member of the de-seasonalized family)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    keyed = daily.select(
        "event_type",
        "d",
        (F.datediff("d", F.lit("1970-01-01")) % 7).alias("dow"),
        "cents",
    )
    med = keyed.groupBy("event_type", "dow").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)"
        )
        .cast("long")
        .alias("med")
    )
    amp = med.groupBy("event_type").agg(
        (F.max("med") - F.min("med"))
        .cast("long")
        .alias("seasonal_amplitude_cents")
    )
    resid = keyed.join(med, ["event_type", "dow"]).select(
        "event_type", "d", (F.col("cents") - F.col("med")).alias("r")
    )
    idx = resid.select(
        "event_type",
        "r",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("d")
            )
            - 1
        ).alias("i"),
    )
    a = idx.select(
        "event_type", F.col("r").alias("ra"), F.col("i").alias("ia")
    )
    b = idx.select(
        "event_type", F.col("r").alias("rb"), F.col("i").alias("ib")
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("ib") > F.col("ia"))
        .select(
            "event_type",
            (F.col("rb") - F.col("ra")).alias("num"),
            (F.col("ib") - F.col("ia")).alias("den"),
        )
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY num * 1099511627776 div den)"
            )
            .cast("long")
            .alias("median_resid_slope_key"),
            F.sum(F.when(F.col("num") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_rising_pairs"),
            F.sum(F.when(F.col("num") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_falling_pairs"),
        )
        .join(F.broadcast(amp), "event_type")
        .select(
            "event_type",
            "n_pairs",
            "median_resid_slope_key",
            "n_rising_pairs",
            "n_falling_pairs",
            "seasonal_amplitude_cents",
        )
    )


# ---------- MMR lambda sweep with a learned-lambda readout -----

_MLS_CANDS = 6
_MLS_K = 3
_MLS_LAMBDAS = (0, 1, 3, 9)  # score = rel - w * max_sim


def _mls_oracle(
    nc: int = _MLS_CANDS,
    k: int = _MLS_K,
    lams: tuple = _MLS_LAMBDAS,
) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    q = f"({sql_md5_int('text')} % 1000)"
    sh = sql_word_shingles("text", 3)
    key = "(-(SCORE)) * 8589934592 + doc_id"
    ctes = [
        f"""cand AS (
        SELECT source, doc_id, rel, shingles FROM (
            SELECT source, doc_id,
                   CAST({q} * 1000 AS BIGINT) AS rel,
                   {sh} AS shingles,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {q} DESC, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {nc}
    )""",
        """sim AS (
        SELECT a.source, a.doc_id AS da, b.doc_id AS db,
               CAST(len(list_intersect(a.shingles, b.shingles))
                    * 1000000
                    // greatest(len(list_distinct(
                           list_concat(a.shingles, b.shingles))), 1)
                    AS BIGINT) AS s
        FROM cand a JOIN cand b
          ON b.source = a.source AND b.doc_id != a.doc_id
    )""",
        f"""s1 AS (
        SELECT source,
               min_by(doc_id, {key.replace('SCORE', 'rel')}) AS d1,
               min_by(rel, {key.replace('SCORE', 'rel')}) AS r1
        FROM cand GROUP BY source
    )""",
    ]
    per_lam = []
    for w in lams:
        prev_d = ["s1.d1"]
        prev_src = "s1"
        for i in range(2, k + 1):
            prior_joins = "\n        ".join(
                (
                    f"JOIN s1 ON s1.source = c.source "
                    f"AND c.doc_id != s1.d1"
                    if j == 1
                    else f"JOIN w{w}s{j} ON w{w}s{j}.source = "
                    f"c.source AND c.doc_id != w{w}s{j}.d{j}"
                )
                for j in range(1, i)
            )
            sim_joins = "\n        ".join(
                f"LEFT JOIN sim x{j} ON x{j}.source = c.source "
                f"AND x{j}.da = c.doc_id AND x{j}.db = "
                + (f"s1.d1" if j == 1 else f"w{w}s{j}.d{j}")
                for j in range(1, i)
            )
            msim = (
                "greatest("
                + ", ".join(
                    f"coalesce(x{j}.s, 0)" for j in range(1, i)
                )
                + ")"
                if i > 2
                else "coalesce(x1.s, 0)"
            )
            ctes.append(
                f"""w{w}sc{i} AS (
        SELECT c.source, c.doc_id, c.rel, {msim} AS msim
        FROM cand c
        {prior_joins}
        {sim_joins}
    )"""
            )
            score = f"(rel - {w} * msim)"
            ctes.append(
                f"""w{w}s{i} AS (
        SELECT source,
               min_by(doc_id, {key.replace('SCORE', score)})
                   AS d{i},
               min_by(rel, {key.replace('SCORE', score)}) AS r{i},
               min_by(msim, {key.replace('SCORE', score)}) AS m{i}
        FROM w{w}sc{i} GROUP BY source
    )"""
            )
        rel_sum = " + ".join(
            ["s1.r1"] + [f"w{w}s{i}.r{i}" for i in range(2, k + 1)]
        )
        msim_sum = " + ".join(
            f"w{w}s{i}.m{i}" for i in range(2, k + 1)
        )
        joins = "\n        ".join(
            f"JOIN w{w}s{i} ON w{w}s{i}.source = s1.source"
            for i in range(2, k + 1)
        )
        per_lam.append(
            f"""SELECT CAST({w} AS BIGINT) AS lam,
               CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum({rel_sum}) AS BIGINT) AS sum_rel_micros,
               CAST(sum({msim_sum}) AS BIGINT) AS sum_msim_micros
        FROM s1
        {joins}"""
        )
    all_ctes = ",\n    ".join(ctes)
    readout = "\n        UNION ALL\n        ".join(per_lam)
    return f"""
    WITH {all_ctes},
    ro AS (
        {readout}
    ),
    m0 AS (SELECT sum_msim_micros AS m FROM ro WHERE lam = 0),
    pick AS (
        SELECT coalesce(
            (SELECT min(lam) FROM ro, m0
             WHERE ro.sum_msim_micros * 2 <= m0.m AND ro.lam > 0),
            (SELECT max(lam) FROM ro)) AS plam
    )
    SELECT ro.lam, ro.n_sources, ro.sum_rel_micros,
           ro.sum_msim_micros,
           (ro.lam = pick.plam) AS chosen
    FROM ro, pick
    """


@query(
    "mmr_lambda_sweep_learned", oracle=_mls_oracle()
)
def mmr_lambda_sweep_learned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR LAMBDA SWEEP WITH A LEARNED PICK — the ROTATION_R17
    round-18 seed: run the weighted-MMR greedy (score = rel - w *
    max_sim_to_prior, all integer micros) for FOUR integer
    diversity weights w in {_MLS_LAMBDAS} over the same bounded
    candidate slice, and grade the per-lambda sweep readout: total
    selected relevance, total redundancy (sum of max-sim-to-prior),
    and the LEARNED choice — the smallest positive w whose total
    redundancy is at most HALF the w=0 (pure-relevance) redundancy,
    falling back to the largest w. The halving rule is an exact
    integer comparison (2 * msim_w <= msim_0), so both engines
    learn the identical lambda. Round 1 is shared across lambdas
    (score = rel regardless of w) — the sweep costs 1 + (k-1) *
    |lambdas| argmax rounds, not k * |lambdas|.

    Scale shape: identical to the graded weighted-MMR row — one
    bounded top-{_MLS_CANDS} slice per source, a <= {_MLS_CANDS}^2
    per-source sim frame computed ONCE and shared by all lambdas,
    and each generated round a bounded join + min_by aggregate.
    The readout is |lambdas| rows; the learned pick is a 1-row
    broadcast. Corpus size touches only the initial ranking window.

    Reference basis: retrieval family (mmr_diversified_topk_weighted
    r16 head — single fixed lambda; this row grades the SWEEP and
    the model-selection rule that picks lambda from data)."""
    from sparkksqldbbenchmark_spark.llm.hashing import (
        spark_md5_int,
        spark_word_shingles,
    )

    nc, k, lams = _MLS_CANDS, _MLS_K, _MLS_LAMBDAS
    docs = load_table(spark, sf_dir, "documents")
    q = f"({spark_md5_int('text')}) % 1000"
    # rank on a NARROW projection (guide §2.3): the window shuffles
    # (source, doc_id, qv) only; shingles are computed for the
    # <= nc-per-source survivors after a broadcast join-back
    ranked = (
        docs.select(
            "source",
            "doc_id",
            F.expr(q).alias("qv"),
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.expr(q).desc(), "doc_id"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") <= nc)
        .select("source", "doc_id", "qv")
    )
    # consumed by both sim sides: checkpoint so the ranking runs once,
    # partitioned by source so every round's groupBy(source) argmax
    # and source-join is exchange-free (guide §2.4, §5)
    cand = (
        docs.select("source", "doc_id", "text")
        .join(F.broadcast(ranked), ["source", "doc_id"])
        .select(
            "source",
            "doc_id",
            (F.col("qv") * 1000).cast("long").alias("rel"),
            F.expr(spark_word_shingles("text", 3)).alias("shingles"),
        )
        .repartition(F.col("source"))
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        "source",
        F.col("doc_id").alias("da"),
        F.col("shingles").alias("sha"),
    )
    b = cand.select(
        "source",
        F.col("doc_id").alias("db"),
        F.col("shingles").alias("shb"),
    )
    sim = (
        # bounded nc-per-source self-join: shuffled-hash (sort-free;
        # both sides already co-partitioned by the checkpoint)
        a.join(b.hint("shuffle_hash"), "source")
        .where(F.col("da") != F.col("db"))
        .select(
            "source",
            "da",
            "db",
            F.expr(
                "cast(size(array_intersect(sha, shb)) * 1000000"
                " div greatest(size(array_union(sha, shb)), 1)"
                " as bigint)"
            ).alias("s"),
        )
    )
    # r18 second pass (VERDICT r17 ask #5, guide §2.4/§4.2): the k-1
    # generated argmax rounds serialized ~k stages per (source, lam)
    # group and left 104 Exchange references. Since the JVM ranking
    # already bounds every source to <= nc candidates, the ENTIRE
    # greedy — all lambdas, all rounds — collapses into ONE cogrouped
    # Arrow pass per source over the two checkpoint-aligned frames
    # (candidates + pair sims, both already hash-partitioned by
    # source, so the cogroup adds no exchange). The Python replica
    # runs the identical integer arithmetic — score = rel - lam*msim,
    # argmax key = (-score)*KEY + doc_id picked by min — so the picks
    # and sums are bit-identical; Python ints are exact and the key
    # magnitude (< 2^63) never overflows in either engine. A source
    # with fewer than k candidates emits nothing, exactly like the
    # old inner-join of the per-round argmax frames.
    import pandas as pd

    KEY = 8589934592
    lam_list = [int(w) for w in lams]
    kk_rounds = k

    def sweep_group(key, cpdf, spdf):
        if len(cpdf) < kk_rounds:
            return pd.DataFrame(
                {
                    "source": pd.Series([], dtype=object),
                    "lam": pd.Series([], dtype="int64"),
                    "rel_sum": pd.Series([], dtype="int64"),
                    "msim_sum": pd.Series([], dtype="int64"),
                }
            )
        src = key[0]
        rel = {
            int(d): int(r)
            for d, r in zip(cpdf["doc_id"], cpdf["rel"])
        }
        simd = {
            (int(da), int(db)): int(s)
            for da, db, s in zip(spdf["da"], spdf["db"], spdf["s"])
        }
        rows = []
        for lam in lam_list:
            avail = set(rel)
            msim = dict.fromkeys(avail, 0)
            rel_sum = msim_sum = 0
            for i in range(kk_rounds):
                best_key = best_d = None
                for d in avail:
                    score = rel[d] - lam * msim[d]
                    akey = (-score) * KEY + d
                    if best_key is None or akey < best_key:
                        best_key, best_d = akey, d
                avail.discard(best_d)
                rel_sum += rel[best_d]
                if i > 0:
                    msim_sum += msim[best_d]
                for d in avail:
                    s2 = simd.get((d, best_d), 0)
                    if s2 > msim[d]:
                        msim[d] = s2
            rows.append((src, lam, rel_sum, msim_sum))
        return pd.DataFrame(
            rows, columns=["source", "lam", "rel_sum", "msim_sum"]
        )

    # the sim side renames its key: both cogroup inputs descend from
    # the same checkpoint, and a same-name groupBy trips the
    # ambiguous-self-join analyzer check
    swept = (
        cand.select("source", "doc_id", "rel")
        .groupBy("source")
        .cogroup(
            sim.select(
                F.col("source").alias("src2"), "da", "db", "s"
            ).groupBy("src2")
        )
        .applyInPandas(
            sweep_group,
            "source string, lam long, rel_sum long, msim_sum long",
        )
    )
    lamdf = spark.range(len(lams)).select(
        F.element_at(
            F.array(*[F.lit(int(w)) for w in lams]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("lam")
    )
    # left join back to the lambda grid so a lambda with zero surviving
    # sources still reads out (n_sources=0, null sums) exactly like the
    # per-lambda agg-without-groupBy did
    ro = F.broadcast(lamdf).join(
        swept.groupBy("lam").agg(
            F.count(F.lit(1)).cast("long").alias("ns"),
            F.sum("rel_sum").cast("long").alias("sum_rel_micros"),
            F.sum("msim_sum").cast("long").alias("sum_msim_micros"),
        ),
        "lam",
        "left",
    ).select(
        "lam",
        F.coalesce("ns", F.lit(0)).cast("long").alias("n_sources"),
        "sum_rel_micros",
        "sum_msim_micros",
    )
    m0 = ro.where(F.col("lam") == 0).select(
        F.col("sum_msim_micros").alias("m")
    )
    pick = (
        ro.crossJoin(F.broadcast(m0))
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("sum_msim_micros") * 2 <= F.col("m"))
                        & (F.col("lam") > 0),
                        F.col("lam"),
                    )
                ),
                F.max("lam"),
            ).alias("plam")
        )
    )
    return ro.crossJoin(F.broadcast(pick)).select(
        "lam",
        "n_sources",
        "sum_rel_micros",
        "sum_msim_micros",
        (F.col("lam") == F.col("plam")).alias("chosen"),
    )


# ---------- curation pipeline v5: density-greedy budget stage --

_V5_BINS = 20


def _curation_v5_oracle(nb: int = _V5_BINS) -> str:
    from sparkksqldbbenchmark_spark.llm.hashing import (
        sql_md5_int,
        sql_word_shingles,
    )

    h = sql_md5_int("w.w")
    evalsplit = f"({sql_md5_int('CAST(doc_id AS VARCHAR)')} % 10)"
    sh = sql_word_shingles("text", 5)
    v = f"({sql_md5_int('p.text')} % 1000 + 1)"
    return f"""
    WITH pool AS (
        SELECT * FROM documents WHERE {evalsplit} != 0
    ),
    eval_sh AS (
        SELECT DISTINCT unnest({sh}) AS esh
        FROM documents WHERE {evalsplit} = 0
    ),
    words AS (
        SELECT d.doc_id, d.source, d.lang,
               unnest(regexp_extract_all(d.text, '\\S+')) AS w,
               generate_subscripts(
                   regexp_extract_all(d.text, '\\S+'), 1) AS i
        FROM pool d
    ),
    flagged AS (
        SELECT doc_id, source, lang, i, w,
               CASE WHEN ({h} & 3) = 0 THEN 1 ELSE 0 END AS f
        FROM words w
    ),
    sids AS (
        SELECT doc_id, source, lang, i, w,
               coalesce(sum(f) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS sid
        FROM flagged
    ),
    sents AS (
        SELECT doc_id, source, lang, sid,
               string_agg(w, ' ' ORDER BY i) AS s
        FROM sids GROUP BY doc_id, source, lang, sid
    ),
    quality AS (
        SELECT s.doc_id, s.source, s.lang,
               count(*) AS n_sents,
               count(DISTINCT s.s) AS n_distinct,
               t.n_words
        FROM sents s
        JOIN (SELECT doc_id, count(*) AS n_words FROM words
              GROUP BY doc_id) t ON t.doc_id = s.doc_id
        GROUP BY s.doc_id, s.source, s.lang, t.n_words
    ),
    docbins AS (
        SELECT doc_id, source, n_words,
               {nb - 1} - least({nb - 1},
                   (n_sents - n_distinct) * 1000000
                       // n_sents // 50000) AS rb,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM quality
    ),
    grid AS (SELECT unnest(range({nb})) AS rb),
    aggb AS (
        SELECT g.rb,
               CAST(count(d.rb) AS BIGINT) AS n,
               CAST(coalesce(sum(d.y), 0) AS BIGINT) AS k
        FROM grid g LEFT JOIN docbins d ON d.rb = g.rb
        GROUP BY g.rb
    ),
    cum AS (
        SELECT rb, n, k,
               sum(n) OVER (ORDER BY rb) AS cn,
               sum(k) OVER (ORDER BY rb) AS ck
        FROM aggb
    ),
    pairs AS (
        SELECT lo.rb AS j, hi.rb AS kk,
               hi.ck - lo.ck + lo.k AS num,
               hi.cn - lo.cn + lo.n AS den
        FROM cum lo JOIN cum hi ON lo.rb <= hi.rb
        WHERE hi.cn - lo.cn + lo.n > 0
    ),
    inner_min AS (
        SELECT i.rb AS i, p.j,
               min_by([p.num, p.den],
                      p.num * 1099511627776 // p.den) AS frac
        FROM (SELECT rb FROM aggb) i
        JOIN pairs p ON p.j <= i.rb AND p.kk >= i.rb
        GROUP BY i.rb, p.j
    ),
    fitted AS (
        SELECT i AS rb,
               max_by(frac,
                      frac[1] * 1099511627776 // frac[2]) AS best
        FROM inner_min GROUP BY i
    ),
    base AS (
        SELECT CAST(sum(y) AS BIGINT) AS s_all,
               CAST(count(*) AS BIGINT) AS n_all
        FROM docbins
    ),
    keepbins AS (
        SELECT f.rb FROM fitted f, base b
        WHERE f.best[1] * b.n_all >= b.s_all * f.best[2]
    ),
    keepers AS (
        SELECT d.doc_id, d.source, d.n_words
        FROM docbins d JOIN keepbins kb ON kb.rb = d.rb
    ),
    canon AS (
        SELECT k.doc_id, k.source, k.n_words,
               min(k.doc_id) OVER (PARTITION BY d.md5t)
                   AS canonical_id
        FROM keepers k
        JOIN (SELECT doc_id, md5(text) AS md5t FROM pool) d
          ON d.doc_id = k.doc_id
    ),
    deduped AS (
        SELECT doc_id, source, n_words FROM canon
        WHERE doc_id = canonical_id
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT p.doc_id, unnest({sh}) AS sh
              FROM pool p
              JOIN deduped dd ON dd.doc_id = p.doc_id) t
        JOIN eval_sh e ON e.esh = t.sh
    ),
    clean AS (
        SELECT d.* FROM deduped d
        LEFT JOIN contaminated c ON c.doc_id = d.doc_id
        WHERE c.doc_id IS NULL
    ),
    stats AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS docs_kept,
               CAST(sum(n_words) AS BIGINT) AS total_tokens
        FROM clean GROUP BY source
    ),
    dropped AS (
        SELECT dd.source,
               CAST(count(*) AS BIGINT) AS docs_decontaminated
        FROM deduped dd JOIN contaminated c USING (doc_id)
        GROUP BY dd.source
    ),
    items AS (
        SELECT cl.doc_id, cl.source,
               CAST({v} AS BIGINT) AS v,
               CAST(cl.n_words AS BIGINT) AS cst
        FROM clean cl JOIN pool p ON p.doc_id = cl.doc_id
    ),
    bb AS (
        SELECT CAST(sum(cst) // 2 AS BIGINT) AS budget FROM items
    ),
    ordered AS (
        SELECT doc_id, source, v, cst,
               sum(cst) OVER (
                   ORDER BY v * 1099511627776 // cst DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_c
        FROM items
    ),
    selected AS (
        SELECT o.* FROM ordered o, bb WHERE o.cum_c <= bb.budget
    ),
    selagg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS docs_selected,
               CAST(sum(cst) AS BIGINT) AS selected_tokens,
               CAST(sum(v) AS BIGINT) AS selected_value
        FROM selected GROUP BY source
    )
    SELECT s.source,
           s.docs_kept,
           coalesce(d.docs_decontaminated, 0)
               AS docs_decontaminated,
           s.total_tokens,
           coalesce(sa.docs_selected, 0) AS docs_selected,
           coalesce(sa.selected_tokens, 0) AS selected_tokens,
           coalesce(sa.selected_value, 0) AS selected_value
    FROM stats s
    LEFT JOIN dropped d USING (source)
    LEFT JOIN selagg sa USING (source)
    """


@query(
    "curation_pipeline_v5_composed", oracle=_curation_v5_oracle()
)
def curation_pipeline_v5_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURATION PIPELINE v5 — the ROTATION_R17 round-18 seed:
    v4's chain (dup-sentence quality -> PAV-calibrated keep ->
    canonical dedup -> Bloom-prefiltered 5-shingle decontamination)
    with the final WATER-FILL allocation replaced by the
    DENSITY-GREEDY KNAPSACK at DOCUMENT grain: every clean doc
    carries integer value (md5 quality + 1) and cost (token count),
    and greedy takes the value-density prefix (the exact floor-key
    v*2^40 div cst — no floating-point ratios) under a global
    half-of-surviving-tokens budget. Where v4 answers "how many
    tokens may each SOURCE contribute" (fairness), v5 answers
    "WHICH documents make the training set" (value) — the two
    production budget policies, now both composed into the same
    audited chain. Per source: kept docs, decontaminated drops,
    surviving tokens, and the selected docs/tokens/value.

    Scale shape: stages 1-4 unchanged from the audited v4 (scan-side
    sentence fold, bounded 20-bin PAV frame with a checkpointed bin
    aggregate, hash-partition dedup, broadcast Bloom). The new stage
    adds one value/cost projection and ONE global density-rank
    window (the density_greedy_budget_certified shape — two-level
    chunked rank at production scale, documented there) plus a
    per-source rollup. No new doc-grain joins beyond the prefix
    filter.

    Reference basis: curation family capstone
    (curation_pipeline_v4_composed r16 head — fairness allocation;
    density_greedy_budget_certified staged — the budget stage
    composed here, with its additive-optimality certificate graded
    standalone)."""
    from sparkksqldbbenchmark_spark.llm.curation import (
        decontaminate,
        density_greedy_prefix,
        eval_split,
        pav_keep,
        sentence_quality,
    )
    from sparkksqldbbenchmark_spark.llm.hashing import spark_md5_int

    docs = load_table(spark, sf_dir, "documents")
    pool, eval_sh = eval_split(docs, 5)
    quality = sentence_quality(pool, "doc_id", "source", "lang", "text")
    keepers = pav_keep(spark, quality, _V5_BINS)
    clean, stats = decontaminate(keepers, eval_sh, 5)

    # -- density-greedy knapsack at DOC grain, half the clean tokens --
    v = f"({spark_md5_int('text')}) % 1000 + 1"
    items = clean.select(
        "doc_id",
        "source",
        F.expr(v).cast("long").alias("v"),
        F.col("n_words").cast("long").alias("c"),
    )
    _, _, prefix = density_greedy_prefix(items, 2)
    selagg = prefix.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_selected"),
        F.sum("c").cast("long").alias("selected_tokens"),
        F.sum("v").cast("long").alias("selected_value"),
    )
    return stats.join(selagg, "source", "left").select(
        "source",
        "docs_kept",
        "docs_decontaminated",
        "total_tokens",
        F.coalesce("docs_selected", F.lit(0))
        .cast("long")
        .alias("docs_selected"),
        F.coalesce("selected_tokens", F.lit(0))
        .cast("long")
        .alias("selected_tokens"),
        F.coalesce("selected_value", F.lit(0))
        .cast("long")
        .alias("selected_value"),
    )
