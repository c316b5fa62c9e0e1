"""Operator registry plumbing.

Every operator from SURVEY.md §2b is a named ``Op``: a deterministic
PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs on
the same parquet tables. The driver compares the two by row-count +
schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded (ROUND_MONEY / ROUND_RATIO
  decimal places) on both sides so independent summation orders can't
  flip the hash;
- ties in any top-k / limit are broken by a unique key on both sides.
"""

from __future__ import annotations

import functools
import inspect
import os
import stat
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# Rounding conventions applied on BOTH the Spark and the oracle side.
ROUND_MONEY = 2  # currency-scale sums (values up to ~1e10)
ROUND_RATIO = 6  # averages, ratios, correlations, cosines

# Rendezvous (highest-random-weight) shard count, shared by
# extras.rendezvous_shard_plan and dedup.cross_shard_dup_rate. Lives
# here (not in extras) so dedup can interpolate it into its oracle SQL
# at module scope without an extras->dedup import cycle — the Spark
# plan and the DuckDB oracle must derive from the SAME constant or a
# change would silently diverge the two.
RDZV_SHARDS = 8


def exact_floor_div(num, den):
    """Exact integer floor-division of two non-negative integer-valued
    DECIMAL columns. ``F.floor(a / b)`` is NOT exact on decimals: Spark
    rounds the decimal quotient HALF_UP to the result scale (6) *before*
    the floor, so whenever the true fractional part is within 5e-7 of 1
    the floor lands one too high and diverges from an integer ``//``
    oracle. Subtracting the remainder first makes the divide exact:
    ``(a - a % b) / b`` is an integer, representable losslessly at any
    result scale."""
    from pyspark.sql import functions as F  # local import: keep module Spark-lazy

    a = num.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)")
    return ((a - F.pmod(a, b)) / b).cast("decimal(38,0)")


def ratio_round(num, den, scale: int = ROUND_RATIO):
    """Exact half-up rounding of ``num/den`` at ``scale`` for non-negative
    integer columns — engine-portable where round(double, s) is not:
    integer ratios land exactly on half-way ties (num*10^s*2 ≡ den), and
    DuckDB rounds the binary double while Spark rounds its shortest decimal
    repr, so the two flip on ties (see operators/timeseries.py).
    round_half_up(num/den @ s) == (2*10^s*num + den) div (2*den), computed
    in DECIMAL(38,0) so it cannot overflow at fact-table counts.
    Contract bound (property-tested): decimal-exact while the scaled
    integer num*10^s/den stays within double's 2^53 range (ratio <
    ~9e9 at scale 6); beyond that both engines land on the identical
    nearest double — still hash-portable, no longer exactly half-up."""
    p = 10**scale
    num_d = num.cast("decimal(38,0)")
    den_d = den.cast("decimal(38,0)")
    return (exact_floor_div(2 * p * num_d + den_d, 2 * den_d).cast("double") / p).cast("double")


def oracle_ratio_round(num_sql: str, den_sql: str, scale: int = ROUND_RATIO) -> str:
    """DuckDB twin of :func:`ratio_round` (HUGEINT integer division)."""
    p = 10**scale
    return (
        f"CAST((2*{p}*CAST({num_sql} AS HUGEINT) + CAST({den_sql} AS HUGEINT))"
        f" // (2*CAST({den_sql} AS HUGEINT)) AS DOUBLE) / {p}"
    )

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


def make_registrar(ops: dict[str, Op]):
    """Per-module decorator factory: ``@op("name", oracle=..., tags=...)``."""

    def op(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
        def deco(fn: QueryFn) -> QueryFn:
            if name in ops:
                raise ValueError(f"duplicate operator name {name!r}")
            ops[name] = Op(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
            return fn

        return deco

    return op


# Every @session_memo wrapper, in definition order (the memo tests
# enumerate it), and the entries whose fills are in progress, innermost
# last.
SESSION_MEMOS: list = []
_FILLING: list = []


@dataclass(eq=False)
class _MemoEntry:
    value: object = None
    cached: tuple = ()  # the frames the fill .cache()d
    deps: list = field(default_factory=list)  # the entries of the memos the fill called
    files: dict = field(default_factory=dict)  # path -> stamp of every table file the fill read


def _file_stamp(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a table file; for a table directory, the
    sorted ``(name, mtime_ns, size)`` of its entries. ``None`` when the
    path is not a local file or directory (a remote URI, a missing
    table)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_mtime_ns, st.st_size
        with os.scandir(path) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return None
    return tuple(sorted((n, s.st_mtime_ns, s.st_size) for n, s in stats))


def record_read(path: str) -> None:
    """Stamp a table file the memo fill in progress reads (a no-op
    outside a fill)."""
    if _FILLING:
        _FILLING[-1].files[path] = _file_stamp(path)


def session_memo(build):
    """Memoize a session artifact builder.

    ``build(spark, sf_dir, *params)`` returns ``(value, cached_frames)``;
    the memo returns ``value``, keyed on ``(spark, sf_dir, *params)``
    with defaults applied, so every consumer in a long-lived session
    resolves the SAME DataFrames and shares their cache fills (a fresh
    build would ``.cache()`` brand-new lineage objects whose fills are
    never reused). Each call first evicts entries of stopped sessions.

    An entry also answers for the table files its fill read through
    ``load_table``, directly or through the memos it called: a hit
    re-stamps them (one ``os.stat`` each, no job), and a changed stamp
    drops the entry, unpersists its cached frames and refills. The
    unpersist is what makes the refill fresh: Spark's CacheManager
    matches plans over the same path, so a left-behind entry would
    serve the old file's rows to the new frames. A file that cannot be
    stamped never matches, so its readers refill on every call.

    A hit re-arms the ``.cache()`` marks of the entry and, first, of
    every memo its fill called: an external
    ``spark.catalog.clearCache()`` (bench.py's isolated re-measure, a
    user resetting the session) unregisters the plans without the memo
    knowing, and every later action would otherwise recompute the full
    lineage (the LSH diamond re-ran its signature subtree per self-join
    side: 12.7s vs 1.1s at sf0.1). ``df.storageLevel`` is a pure
    CacheManager lookup (no job), and re-``cache()`` re-registers the
    identical plan so the next action refills it once; upstream marks
    go first so the downstream refill reads their caches.

    A fill records as its dependencies only the entries that hold cache
    marks, directly or through their own dependencies. An entry with
    neither (a table handle from ``load_table``) has nothing to re-arm,
    and recording it would tie every memo that reads a table to that
    handle; its files are recorded instead."""
    sig = inspect.signature(build)
    entries: dict = {}

    @functools.wraps(build)
    def memo(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        key = tuple(bound.arguments.values())
        _evict_stopped_sessions(entries)
        entry = entries.get(key)
        if entry is not None and _stale(entry):
            del entries[key]
            for f in entry.cached:
                f.unpersist()
            entry = None
        if entry is None:
            entry = _MemoEntry()
            _FILLING.append(entry)
            try:
                entry.value, entry.cached = build(*args, **kwargs)
            finally:
                _FILLING.pop()
            entries[key] = entry
        else:
            _rearm(entry)
        if _FILLING:
            outer = _FILLING[-1]
            outer.files.update(entry.files)
            if (entry.cached or entry.deps) and entry not in outer.deps:
                outer.deps.append(entry)
        return entry.value

    memo.entries = entries
    SESSION_MEMOS.append(memo)
    return memo


def _stale(entry: _MemoEntry) -> bool:
    return any(stamp is None or _file_stamp(path) != stamp for path, stamp in entry.files.items())


def _rearm(entry: _MemoEntry) -> None:
    for dep in entry.deps:
        _rearm(dep)
    for f in entry.cached:
        lvl = f.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            f.cache()


def _evict_stopped_sessions(entries: dict) -> None:
    """Drop memo entries keyed by a stopped SparkSession.

    Keys hold a STRONG reference to the session, so in a long-lived
    process that churns sessions each stopped session's entry would pin
    its JVM-backed DataFrames (including cache-marked subtrees)
    forever. The entries are few (one per session x sf_dir x params),
    the liveness probe is a pure driver-side attribute check (no job),
    and evicting on access cannot change behavior for live sessions —
    a dead session's frames are unusable anyway."""
    dead = []
    for key in entries:
        spark = key[0]
        try:
            stopped = spark.sparkContext._jsc is None
        except (AttributeError, NotImplementedError):
            # "Context API unavailable" is NOT "context stopped": a
            # Spark Connect session raises PySparkNotImplementedError
            # (a NotImplementedError subclass) on every sparkContext
            # access, and evicting it here would silently disable
            # memoization — every call would re-register fresh
            # .cache() frames without unpersisting the prior ones.
            # Fall back to the session's own is_stopped probe, in its
            # own try/except: a Connect is_stopped property that itself
            # raises (dropped client connection) must read as
            # stopped/unreachable, not escape and break the memo; and a
            # session with NO is_stopped at all has no liveness signal
            # left, so it is evicted like any dead context (otherwise a
            # raising-sparkContext-but-probe-less class would pin its
            # frames forever).
            try:
                probe = getattr(spark, "is_stopped", None)
                stopped = True if probe is None else bool(probe)
            except Exception:
                stopped = True  # raising probe == unreachable == dead
        except Exception:
            stopped = True  # confirmed-unreachable context == dead
        if stopped:
            dead.append(key)
    for key in dead:
        del entries[key]


def signed_ratio_round(num, den, scale: int = ROUND_RATIO):
    """Sign-split :func:`ratio_round`: exact half-away-from-zero rounding
    of ``num/den`` at ``scale`` for integer-valued DECIMAL columns where
    ``num`` may be negative (``den`` must be positive). Keeps the
    bit-for-bit rounding contract in ONE place — every op emitting a
    signed rational (pct change, OLS slope, signed means) must use this
    rather than re-rolling the formula."""
    from pyspark.sql import functions as F  # local import: keep module Spark-lazy

    p = 10**scale
    num_d = num.cast("decimal(38,0)")
    den_d = den.cast("decimal(38,0)")
    sign = F.when(num_d < 0, -1).otherwise(1)
    q = exact_floor_div(2 * p * F.abs(num_d) + den_d, 2 * den_d)
    return (sign * q).cast("double") / p


def oracle_signed_ratio_round(num_sql: str, den_sql: str, scale: int = ROUND_RATIO) -> str:
    """DuckDB twin of :func:`signed_ratio_round` (HUGEINT arithmetic)."""
    p = 10**scale
    return (
        f"CAST((CASE WHEN ({num_sql}) < 0 THEN -1 ELSE 1 END)"
        f" * ((2*{p}*abs(CAST({num_sql} AS HUGEINT)) + CAST({den_sql} AS HUGEINT))"
        f" // (2*CAST({den_sql} AS HUGEINT))) AS DOUBLE) / {p}"
    )


# Governance policy: the account-balance sensitivity band shared by the
# masking view and the privacy audits. ONE definition — if the $5000
# boundary or the band names change, every governance op moves together.
BALANCE_BAND_SQL = (
    "CASE WHEN c_acctbal < 0 THEN 'negative' "
    "WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END"
)


def balance_band():
    """Spark twin of :data:`BALANCE_BAND_SQL` (lazy: needs a session)."""
    from pyspark.sql import functions as F

    return (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
