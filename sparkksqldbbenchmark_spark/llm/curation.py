"""Shared stages of the LLM-curation rows.

The composed curation pipelines (v2..v5) chain the same stages that the
standalone rows grade one at a time (Gopher repetition, canonical
dedup, Bloom pre-filter, PAV calibration, water-fill, density-greedy
budget). Each stage is built here once:

- ``eval_split``: md5-tenth eval split and its distinct word-shingle set.
- ``sentence_quality`` / ``gopher_keep``: per-doc sentence counts
  (``ns``, ``nd`` from llm/sentences.py) and the dup-sentence keep rule.
- ``canonical_dedup``: exact dedup, min doc_id per ``md5(text)``.
- ``bloom_flags``: Bloom build plus broadcast probe, per probe row.
- ``decontaminate``: canonical dedup, then Bloom-prefiltered exact
  containment against the eval shingles.
- ``pav_bin_frame`` / ``pav_fit`` / ``pav_keep``: isotonic fit over a
  bounded bin frame, and the calibrated keep policy built on it.
- ``waterfill``: max-min fair split of half the tokens across sources.
- ``density_greedy_prefix``: value-density prefix under a token budget.

Every stage is integer-exact against the rows' DuckDB oracles (md5
hashing from llm/hashing.py, floor-key fraction ordering, no
floating-point ratio is ever compared). The ``localCheckpoint(eager=
True)`` barriers sit where the rows measured them: each materializes a
frame read by several consumers so its lineage runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.llm.hashing import (
    spark_md5_int,
    spark_tokens,
    spark_word_shingles,
)
from sparkksqldbbenchmark_spark.llm.sentences import with_sentence_counts

# floor-key fraction embedding: for num/den with den < 2^20,
# num * 2^40 div den is a strict order embedding (distinct values differ
# by >= 1/(d*e) > 2^-40, so their keys differ by >= 1)
_KEY = 1099511627776


def eval_split(docs: DataFrame, width: int) -> tuple[DataFrame, DataFrame]:
    """(pool, eval_sh): the docs outside the md5 tenth that plays the
    eval split, and that tenth's distinct word-``width`` shingles
    (column ``esh``)."""
    evalsplit = F.expr(f"{spark_md5_int('cast(doc_id as string)')} % 10")
    pool = docs.where(evalsplit != 0)
    eval_sh = (
        docs.where(evalsplit == 0)
        .select(F.explode(F.expr(spark_word_shingles("text", width))).alias("esh"))
        .distinct()
    )
    # two consumers (Bloom build + exact-verify join) — materialize so
    # the eval-split shingle explode+distinct runs once
    return pool, eval_sh.localCheckpoint(eager=True)


def sentence_quality(docs: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus the token array ``toks``, its length ``n_words`` and
    its sentence counts ``ns`` / ``nd``, for every doc with at least one
    token. A word whose md5 & 3 == 0 closes its sentence (the
    planted-boundary convention); the counts are the O(n) Arrow-batched
    form of llm/sentences.py."""
    toks = docs.select(*cols, F.expr(spark_tokens("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    return with_sentence_counts(toks).select(
        *cols, "toks", F.size("toks").alias("n_words"), "ns", "nd"
    )


def gopher_keep(quality: DataFrame) -> DataFrame:
    """Gopher dup-sentence rule: keep docs whose duplicate-sentence
    fraction is below 30%."""
    return quality.where(
        (F.col("ns") - F.col("nd")) * 1000000 / F.col("ns") < 300000
    )


def canonical_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the min doc_id of every ``md5(text)`` group."""
    canon = docs.withColumn(
        "canonical_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    return canon.where(F.col("doc_id") == F.col("canonical_id"))


def bloom_flags(build: DataFrame, probe: DataFrame, key: str) -> DataFrame:
    """Bloom build plus probe. The one-column ``build`` frame's keys hash
    into a 4096-bit / 3-hash Bloom (md5 positions, 32-bit words
    bit_or-packed into an at most 128-row frame that broadcasts); every
    ``probe`` row probes the 3 bits of its ``key`` column. Returns the
    distinct probe rows with ``bloom_hit`` = 1 iff all 3 bits are set —
    always 1 for a key that is in ``build`` (FN = 0). The fixed, small m
    makes saturation (false positives) observable across scale factors."""
    m, k = 4096, 3

    def pos(col: str) -> str:
        h = spark_md5_int(f"concat(cast(j as string), '#', cast({col} as string))")
        return f"({h}) % {m}"

    j = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    (bkey,) = build.columns
    bloom = (
        build.select(bkey, j)
        .select(F.expr(pos(bkey)).alias("p"))
        .groupBy(F.expr("p DIV 32").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))")
            .cast("long")
            .alias("bits")
        )
    )
    cols = probe.columns
    hits = (
        probe.select(*cols, j)
        .select(*cols, F.expr(pos(key)).alias("p"))
        .join(F.broadcast(bloom), F.expr("word = p DIV 32"), "left")
        .select(
            *cols,
            F.when(
                F.col("bits").isNotNull()
                & (F.expr("bits & shiftleft(1L, cast(p % 32 as int))") != 0),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return hits.groupBy(*cols).agg(
        F.when(F.sum("hit") == k, 1).otherwise(0).alias("bloom_hit")
    )


def decontaminate(
    keepers: DataFrame, eval_sh: DataFrame, width: int
) -> tuple[DataFrame, DataFrame]:
    """Canonical dedup of ``keepers`` (doc_id, source, text, n_words),
    then decontamination against ``eval_sh`` (from ``eval_split``): the
    survivors' word-``width`` shingles probe the eval Bloom and only the
    flagged sliver runs the exact containment join — identical verdicts
    to the full exact join because FN = 0. Returns (clean, stats):
    the clean docs, and per source docs_kept, docs_decontaminated and
    total_tokens."""
    deduped = canonical_dedup(keepers.select("doc_id", "source", "text", "n_words"))
    # three consumers below (shingle probes, the anti-join, the
    # semi-join) — materialize so the md5 window and the keep stage run
    # once, not three times
    deduped = deduped.localCheckpoint(eager=True)
    train_sh = deduped.select(
        "doc_id", F.explode(F.expr(spark_word_shingles("text", width))).alias("sh")
    )
    flagged_sh = bloom_flags(eval_sh, train_sh, "sh").where(
        F.col("bloom_hit") == 1
    )
    contaminated = (
        flagged_sh.join(eval_sh.select(F.col("esh").alias("sh")), "sh")
        .select("doc_id")
        .distinct()
    )
    # two consumers (anti + semi) — the contaminated id set is tiny;
    # materialize so the shingle-probe subtree runs once
    contaminated = contaminated.localCheckpoint(eager=True)
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    dropped = (
        deduped.join(contaminated, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_decont"))
    )
    stats = (
        clean.groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
        )
        .join(dropped, "source", "left")
        .select(
            "source",
            "docs_kept",
            F.coalesce("docs_decont", F.lit(0))
            .cast("long")
            .alias("docs_decontaminated"),
            "total_tokens",
        )
    )
    return clean, stats


def pav_bin_frame(spark: SparkSession, binned: DataFrame, nb: int) -> DataFrame:
    """(bin, n, k) for every bin in [0, nb): the row count and the
    positive (y = 1) count of ``binned`` (bin, y) per bin."""
    grid = spark.range(nb).select(F.col("id").alias("bin"))
    return (
        grid.join(binned.select("bin", "y"), "bin", "left")
        .groupBy("bin")
        .agg(
            F.count("y").cast("long").alias("n"),
            F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("k"),
        )
    )


def pav_fit(aggb: DataFrame) -> DataFrame:
    """(bin, best): the isotonic fit of the positive rate over the bin
    frame ``aggb`` (bin, n, k), by the exact max-min identity
    fitted(i) = max_{j<=i} min_{k>=i} mean(y[j..k]) — equal to
    Pool-Adjacent-Violators. ``best`` is the fitted rate as the exact
    fraction struct<num, den>; fractions compare by floor key."""
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = aggb.select(
        "bin",
        "n",
        "k",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("k").over(wcum).alias("ck"),
    )
    lo = cum.select(
        F.col("bin").alias("j"),
        F.col("ck").alias("ck_lo"),
        F.col("cn").alias("cn_lo"),
        F.col("k").alias("k_lo"),
        F.col("n").alias("n_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("kk"),
        F.col("ck").alias("ck_hi"),
        F.col("cn").alias("cn_hi"),
    )
    pairs = (
        lo.join(hi, F.col("j") <= F.col("kk"))
        .select(
            "j",
            "kk",
            (F.col("ck_hi") - F.col("ck_lo") + F.col("k_lo")).alias("num"),
            (F.col("cn_hi") - F.col("cn_lo") + F.col("n_lo")).alias("den"),
        )
        .where(F.col("den") > 0)
    )
    ikey = F.floor((F.col("num") * F.lit(_KEY)) / F.col("den")).cast("long")
    inner = (
        aggb.select(F.col("bin").alias("i"))
        .join(pairs, (F.col("j") <= F.col("i")) & (F.col("kk") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min_by(F.struct("num", "den"), ikey).alias("frac"))
    )
    return (
        inner.groupBy("i")
        .agg(
            F.max_by(
                F.col("frac"),
                F.floor(
                    (F.col("frac.num") * F.lit(_KEY)) / F.col("frac.den")
                ).cast("long"),
            ).alias("best")
        )
        .select(F.col("i").alias("bin"), "best")
    )


def pav_keep(spark: SparkSession, quality: DataFrame, nb: int) -> DataFrame:
    """PAV-calibrated keep over ``sentence_quality`` rows (doc_id, source,
    lang, text, n_words, ns, nd). The dup-sentence ratio bins each doc into
    ``nb`` bins, reversed so less repetitive scores higher; y = English;
    a doc is kept iff its bin's fitted rate clears the corpus base rate
    (exact cross-multiplied integers). Returns (doc_id, source, text,
    n_words)."""
    docbins = quality.select(
        "doc_id",
        "source",
        "text",
        "n_words",
        (
            F.lit(nb - 1)
            - F.least(
                F.lit(nb - 1),
                F.expr("(ns - nd) * 1000000 div ns div 50000"),
            )
        ).alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # materialize the doc grain ONCE (reused AND expensive to recompute):
    # the sentence stats above are the most expensive per-row expression
    # in the pipeline, and docbins feeds both the bin frame and the keep
    # join
    docbins = docbins.localCheckpoint(eager=True)
    # the bin frame feeds five PAV subtrees (cum lo/hi, the i-frame, the
    # base rate) — checkpoint it so its lineage computes ONCE
    aggb = pav_bin_frame(spark, docbins, nb).localCheckpoint(eager=True)
    # base rate from the checkpointed bin frame, not the doc grain —
    # identical sums, one less recomputation
    base = aggb.agg(
        F.sum("k").cast("long").alias("s_all"),
        F.sum("n").cast("long").alias("n_all"),
    )
    keepbins = (
        pav_fit(aggb)
        .crossJoin(F.broadcast(base))
        .where(
            F.col("best.num") * F.col("n_all")
            >= F.col("s_all") * F.col("best.den")
        )
        .select("bin")
    )
    return docbins.join(F.broadcast(keepbins), "bin").select(
        "doc_id", "source", "text", "n_words"
    )


def waterfill(totals: DataFrame) -> DataFrame:
    """Water-filling allocation of half the total tokens over the
    per-source ``totals`` (source, total_tokens, any carried columns):
    every source fills to a common integer level, a source below the
    level is taken whole (saturated), and the remainder goes +1 to the
    lexicographically first unsaturated sources. Returns the totals'
    columns plus allocated_tokens, saturated and level. All algebra
    runs on the #sources-bounded frame."""
    w_rank = Window.orderBy("total_tokens", "source")
    ranked = totals.select(
        *totals.columns,
        F.row_number().over(w_rank).alias("rk"),
        F.sum("total_tokens")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pfx"),
    )
    glob = ranked.agg(
        (F.sum("total_tokens") / 2).cast("long").alias("budget"),
        F.count(F.lit(1)).alias("n"),
        F.max("total_tokens").alias("tmax"),
    )
    # largest feasible i*: prefix_i + T_i * (n - i) <= budget
    feas = (
        ranked.crossJoin(F.broadcast(glob))
        .where(
            F.col("pfx") + F.col("total_tokens") * (F.col("n") - F.col("rk"))
            <= F.col("budget")
        )
        .agg(
            F.coalesce(F.max("rk"), F.lit(0)).alias("i"),
            F.coalesce(F.max("pfx"), F.lit(0)).alias("pi"),
        )
    )
    level = glob.crossJoin(F.broadcast(feas)).select(
        F.when(
            F.col("n") > F.col("i"),
            F.floor((F.col("budget") - F.col("pi")) / (F.col("n") - F.col("i"))),
        )
        .otherwise(F.col("tmax"))
        .cast("long")
        .alias("lvl"),
        F.when(
            F.col("n") > F.col("i"),
            (F.col("budget") - F.col("pi")) % (F.col("n") - F.col("i")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rem"),
        F.col("i"),
    )
    out = ranked.crossJoin(F.broadcast(level))
    # rank the UNSATURATED subset by source name so the remainder's +1
    # lands on the lexicographically first ones
    unsat_rk = out.where(F.col("rk") > F.col("i")).select(
        "source",
        F.row_number().over(Window.orderBy("source")).alias("u2"),
    )
    return out.join(unsat_rk, "source", "left").select(
        *totals.columns,
        F.when(F.col("rk") <= F.col("i"), F.col("total_tokens"))
        .otherwise(
            F.col("lvl") + F.when(F.col("u2") <= F.col("rem"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated_tokens"),
        (F.col("rk") <= F.col("i")).alias("saturated"),
        F.col("lvl").alias("level"),
    )


def density_greedy_prefix(
    items: DataFrame, budget_div: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Density-greedy knapsack over ``items`` (doc_id, v, c, any carried
    columns) with integer value v and cost c. Returns (ordered, budget,
    prefix): the items along value density (floor key v*2^40 div c
    descending, then doc_id) with rank ``rk`` and running ``cum_c`` /
    ``cum_v``; the 1-row budget frame (budget = sum(c) / budget_div,
    max_item_v); and the greedy prefix of ordered whose running cost
    fits the budget."""
    w = Window.orderBy(F.expr(f"v * {_KEY} div c").desc(), "doc_id")
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    ordered = items.select(
        *items.columns,
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(frame).alias("cum_c"),
        F.sum("v").over(frame).alias("cum_v"),
    )
    budget = items.agg(
        (F.sum("c") / budget_div).cast("long").alias("budget"),
        F.max("v").alias("max_item_v"),
    )
    prefix = ordered.crossJoin(F.broadcast(budget)).where(
        F.col("cum_c") <= F.col("budget")
    )
    return ordered, budget, prefix
