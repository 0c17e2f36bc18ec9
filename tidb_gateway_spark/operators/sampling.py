"""Deterministic sampling / dataset splitting for training-data
pipelines.

``df.sample()`` is seed-dependent *per partitioning* — resplitting after
a repartition reassigns rows, which silently leaks eval data into train
at 100 TB where partitioning changes between runs.  Hash-based splits
are a pure function of the row key: stable across partitionings,
engines, and runs, and joinable back to provenance.

The hash is the first 4 md5 bytes of ``salt|key`` taken mod 10 000
(basis points) — recomputable in any engine (the q82/q83 oracles do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_md5(key: Column, salt: str) -> Column:
    """md5 hex digest of ``salt|key``: the one salted row-key hash."""
    return F.md5(F.concat(F.lit(salt + "|"), key.cast("string")))


def hex_int(h: Column, start: int, n: int) -> Column:
    """The ``n`` hex digits of ``h`` from 1-based ``start`` as a BIGINT."""
    return F.conv(F.substring(h, start, n), 16, 10).cast("bigint")


def hash_bps(key: Column, salt: str = "split") -> Column:
    """Deterministic basis-point bucket [0, 10000) from a row key."""
    return hex_int(salted_md5(key, salt), 1, 8) % 10_000


def ddb_hex_int(hexpr: str, start: int | str, n: int) -> str:
    """DuckDB twin of :func:`hex_int` (``start`` may be a SQL expression)."""
    return f"CAST(('0x' || substr({hexpr}, {start}, {n})) AS BIGINT)"


def ddb_salted_md5(key_sql: str, salt: str) -> str:
    """DuckDB twin of :func:`salted_md5`."""
    return f"md5('{salt}|' || CAST({key_sql} AS VARCHAR))"


def ddb_hash_bps(key_sql: str, salt: str = "split") -> str:
    """DuckDB twin of :func:`hash_bps`, parenthesized."""
    return f"({ddb_hex_int(ddb_salted_md5(key_sql, salt), 1, 8)} % 10000)"


def mixture_keep(key: Column, stratum: Column, rates_bps: dict[str, int],
                 salt: str = "mix") -> Column:
    """Boolean keep decision for mixture resampling:
    ``hash(key) % 10000 < rates_bps[stratum]`` — a pure row function, so
    re-running on any partitioning (or any engine) keeps exactly the
    same rows; no seed drift between pipeline runs.  Strata absent from
    ``rates_bps`` are kept in full (rate 10000).  The rate lookup is a
    literal MAP expression, fully codegen'd.

    Exposed separately from :func:`mixture_resample` so audit queries
    can aggregate the decision in the same scan that computes it
    (kept-vs-total per stratum without a second scan or a join).
    """
    pairs: list = []
    for k, v in rates_bps.items():
        pairs.extend([F.lit(k), F.lit(int(v))])
    rate = F.coalesce(
        F.create_map(*pairs)[stratum] if pairs else F.lit(None).cast("int"),
        F.lit(10_000),
    )
    return hash_bps(key, salt) < rate


def mixture_resample(df: DataFrame, key: str, stratum: str,
                     rates_bps: dict[str, int],
                     salt: str = "mix") -> DataFrame:
    """Deterministic mixture resampling: downsample each stratum (e.g.
    language or source domain) to its target rate in basis points —
    the domain-mixing step of a pre-training data recipe.

    At 100 TB this is a single filtered scan, no shuffle, no join; see
    :func:`mixture_keep` for the decision function.
    """
    return df.filter(mixture_keep(F.col(key), F.col(stratum), rates_bps, salt))


def hash_sample(df: DataFrame, key: str, bps: int, salt: str = "sample") -> DataFrame:
    """~bps/10000 deterministic sample by hashed key — uniform within
    every stratum by construction (hash is independent of any column),
    one pass, no sampleBy seed drift."""
    return df.filter(hash_bps(F.col(key), salt) < bps)


def k_per_stratum(df: DataFrame, key: str, stratum: str, k: int,
                  salt: str = "kps") -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hashed-key
    order — the deterministic replacement for per-group reservoir
    sampling in a balanced-subsample step (equal docs per language /
    source domain regardless of their corpus frequencies).

    One window shuffle keyed by the stratum; hash order makes the
    selection a pure function of (key, salt) — stable across
    partitionings, engines, and reruns, and each stratum's sample is
    uniform because the hash is independent of every column.  Adds
    ``_rn`` (1-based rank within stratum) for callers that want the
    selection order.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(stratum).orderBy(
        salted_md5(F.col(key), salt), F.col(key))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )


def temperature_rates_bps(counts: dict[str, int], T: float,
                          total_bps: int = 10_000) -> dict[str, int]:
    """Temperature-scaled mixture weights (the multilingual-sampling
    rule p_i ∝ n_i^(1/T)): convert observed stratum counts into
    per-stratum KEEP rates (basis points) such that the EXPECTED
    post-sample mixture follows the tempered distribution, scaled so
    the largest rate is ``total_bps`` (keep-everything for the most
    upweighted stratum, downsample the rest proportionally).

    T=1 reproduces the natural distribution (all rates equal); T→∞
    approaches uniform (rare strata upweighted).  Pure integer/driver
    math over a |strata|-sized dict — the rates then feed
    :func:`mixture_resample`'s single filtered scan, so the whole
    operator stays one pass at any corpus size.
    """
    if not counts:
        return {}
    tempered = {s: n ** (1.0 / T) for s, n in counts.items() if n > 0}
    # expected kept mass per stratum k_s = n_s * rate_s; want
    # k_s ∝ tempered_s  →  rate_s ∝ tempered_s / n_s, normalized so
    # max rate = total_bps.
    raw = {s: tempered[s] / counts[s] for s in tempered}
    mx = max(raw.values())
    # floor(x + 0.5), not round(): Python rounds half-even, SQL engines
    # half-away — the oracle recomputes these rates in SQL.
    import math

    return {
        s: max(1, int(math.floor(r / mx * total_bps + 0.5)))
        for s, r in raw.items()
    }
