"""Sampling primitives for training-data pipelines: deterministic
splits, stratified sampling, and mixture weighting.

Everything here is HASH-threshold based (`xxhash64(id, salt)` folded to
a unit interval) rather than `rand()`/`sampleBy`: the decision for a row
depends only on its id and the seed, so results are reproducible across
runs, partitionings, cluster sizes, and retries — the property a 100 TB
pipeline actually needs (a re-run after a lost executor must not change
the split). All narrow per-row projections: no shuffle, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _unit_hash(id_col: Column, seed: int) -> Column:
    """Deterministic uniform value in [0, 1) from a row id + seed."""
    return (
        F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(_BUCKETS))
        / F.lit(float(_BUCKETS))
    )


def deterministic_split(
    df: DataFrame, weights: dict[str, float], id_col: str = "doc_id",
    seed: int = 42, split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/val/test)
    by hash threshold. Disjoint and exhaustive by construction; a row's
    split never changes when the corpus grows (only the hash of ITS id
    matters)."""
    total = sum(weights.values())
    u = _unit_hash(F.col(id_col), seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(names[-1]) if expr is None
            else expr.otherwise(names[-1]))
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, id_col: str = "doc_id",
    default_fraction: float = 0.0, seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample web text,
    keep all code). ``fractions`` maps stratum value -> keep rate;
    unlisted strata get ``default_fraction``."""
    frac = None
    for value, f in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        frac = (F.when(cond, float(f)) if frac is None
                else frac.when(cond, float(f)))
    frac = (F.lit(float(default_fraction)) if frac is None
            else frac.otherwise(float(default_fraction)))
    return df.filter(_unit_hash(F.col(id_col), seed) < frac)


def mixture_weights(
    df: DataFrame, source_col: str, target_weights: dict,
    id_col: str = "doc_id", seed: int = 42,
) -> DataFrame:
    """Resample a multi-source corpus toward target mixture proportions
    by downsampling over-represented sources (never upsamples — emit
    epochs/repetition downstream for that).

    One count aggregate to learn current proportions, then a narrow
    deterministic filter; the counts job is metadata-sized."""
    total_w = sum(target_weights.values())
    counts = {
        r[0]: r[1]
        for r in df.groupBy(source_col).count().collect()
    }
    n_total = sum(counts.values())
    # keep-rate per source s: min over sources of achievable scale,
    # such that kept_s / kept_total == target share
    scale = min(
        counts[s] / (w / total_w)
        for s, w in target_weights.items() if s in counts and w > 0
    )
    fractions = {
        s: min(1.0, (w / total_w) * scale / counts[s])
        for s, w in target_weights.items() if s in counts
    }
    return stratified_sample(
        df, source_col, fractions, id_col, default_fraction=0.0, seed=seed
    )


def token_budget_sample(
    df: DataFrame, budgets: dict, source_col: str = "source",
    text_col: str = "text", id_col: str = "doc_id",
    token_col: str | None = None, seed: int = 42,
) -> DataFrame:
    """Sample each source down to a TOKEN budget — the unit training
    mixtures are actually specified in (a 30%-web/30%-code/40%-books
    recipe means tokens, not documents). ``budgets`` maps source value
    -> max tokens; sources not listed are dropped.

    One metadata-sized aggregate learns per-source token totals
    (``token_col`` if given, else ops/text.token_count's whitespace
    count computed on the fly); each source then keeps the
    deterministic hash-fraction ``budget / total`` of its documents —
    documents stay atomic, the kept token mass hits the budget in
    expectation with O(1/sqrt(n_docs)) relative concentration, and the
    per-row decision has the same retry/growth stability as every
    sampler here. A source whose budget exceeds its mass keeps
    everything (downsample-only; emit epochs downstream to upsample).
    """
    if token_col is None:
        from .text import token_count

        toks = token_count(df, text_col, id_col) \
            .select(id_col, F.col("n_tokens").alias("__nt"))
        work = df.join(toks, id_col)
        token_col_eff = "__nt"
    else:
        work = df
        token_col_eff = token_col
    totals = {
        r[0]: r[1]
        for r in work.groupBy(source_col)
        .agg(F.sum(token_col_eff).alias("t")).collect()
    }
    fractions = {
        s: min(1.0, float(b) / totals[s])
        for s, b in budgets.items() if s in totals and totals[s] > 0
    }
    out = stratified_sample(
        work, source_col, fractions, id_col,
        default_fraction=0.0, seed=seed,
    )
    return out.drop("__nt") if token_col is None else out
