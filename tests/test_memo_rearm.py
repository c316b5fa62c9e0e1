"""The ``@session_memo`` contract, checked on every decorated memo.

Session memos hand out the SAME DataFrames for (session, sf_dir,
params) so every consumer in a long-lived session shares one set of
cache fills. An external spark.catalog.clearCache() (bench.py's
isolated re-measure, a user resetting the session) unregisters those
plans from the CacheManager without the memo knowing; a memo hit must
re-register them — its own marks and those of every memo its fill
called — or each later action recomputes the full lineage (the LSH
diamond: 12.7s vs 1.1s at sf0.1). Stopped-session entries must be
evicted so they cannot pin JVM-backed frames forever.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_polars_ai_spark.sources.tables import _file_stamp


def _memos() -> list:
    from my_polars_ai_spark.operators import all_ops
    from my_polars_ai_spark.operators.base import SESSION_MEMOS

    all_ops()  # imports every operator module, registering its memos
    return list(SESSION_MEMOS)


def _memo_id(memo) -> str:
    return f"{memo.__module__.rsplit('.', 1)[-1]}.{memo.__name__}"


# memo -> the memos its fill calls, whose marks a hit must re-arm first
_UPSTREAM = {
    "dedup._triplet_sym": {"dedup._build_lsh_paired"},
    "classic_ml.qgd_train_artifacts": {"classic_ml._qgd_xy"},
}


# memo -> its params after (spark, sf_dir), for memos that take any
_PARAMS = {
    "tables._table_handle": lambda sf_dir: ("nation", _file_stamp(f"{sf_dir}/nation.parquet")),
}

# memos whose fill caches nothing: a table handle is a plain read
_UNMARKED = {"tables._table_handle"}


def _args(memo, spark, sf_dir) -> tuple:
    params = _PARAMS.get(_memo_id(memo))
    return (spark, sf_dir, *(params(sf_dir) if params else ()))


def _key(memo, spark, sf_dir) -> tuple:
    bound = inspect.signature(memo).bind(*_args(memo, spark, sf_dir))
    bound.apply_defaults()
    return tuple(bound.arguments.values())


def _is_registered(df) -> bool:
    lvl = df.storageLevel
    return bool(lvl.useMemory or lvl.useDisk)


def _all_cached(entry) -> list:
    return [*entry.cached, *(f for dep in entry.deps for f in _all_cached(dep))]


def _cache_entry_count(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _fingerprint(value) -> list:
    """Row count plus an order-insensitive hash sum of every frame."""
    frames = [value] if isinstance(value, DataFrame) else value
    return [
        df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns))).first()
        for df in frames
        if isinstance(df, DataFrame)
    ]


@pytest.mark.parametrize("memo", _memos(), ids=_memo_id)
def test_session_memo_contract(spark, sf_dir, memo):
    args = _args(memo, spark, sf_dir)
    key = _key(memo, spark, sf_dir)
    spark.catalog.clearCache()
    memo.entries.pop(key, None)

    # the fill registers its cache marks (and re-arms its upstream's)
    value = memo(*args)
    entry = memo.entries[key]
    if _memo_id(memo) in _UNMARKED:
        assert entry.cached == ()
    else:
        assert entry.cached and all(_is_registered(f) for f in _all_cached(entry))
    by_id = {_memo_id(m): m for m in _memos()}
    upstream = {by_id[n].entries[_key(by_id[n], spark, sf_dir)]
                for n in _UPSTREAM.get(_memo_id(memo), ())}
    assert set(entry.deps) == upstream

    # a hit returns the same object and does not grow the CacheManager
    n_cached = _cache_entry_count(spark)
    fingerprint = _fingerprint(value)
    for _ in range(3):
        assert memo(*args) is value
    assert _cache_entry_count(spark) == n_cached

    # clearCache() then a hit re-arms its own and its upstream marks
    if _memo_id(memo) not in _UNMARKED:
        spark.catalog.clearCache()
        assert not any(_is_registered(f) for f in _all_cached(entry))
        assert memo(*args) is value
        assert all(_is_registered(f) for f in _all_cached(entry))
        assert _fingerprint(value) == fingerprint

    # a dead-session entry is evicted on the next call; the live one stays
    dead = (_DeadSession(), *key[1:])
    memo.entries[dead] = None
    memo(*args)
    assert dead not in memo.entries and memo.entries[key] is entry


def test_qgd_memo_rearms_after_clearcache(spark, sf_dir):
    from my_polars_ai_spark.operators import classic_ml

    x, y = classic_ml._qgd_xy(spark, sf_dir)
    n_x = x.count()
    assert _is_registered(x) and _is_registered(y)

    spark.catalog.clearCache()
    assert not _is_registered(x) and not _is_registered(y)

    # an artifact-memo hit re-arms the _qgd_xy marks its fill depended
    # on, so even the trainer entry point self-heals
    classic_ml.qgd_train_artifacts(spark, sf_dir)
    assert _is_registered(x) and _is_registered(y)
    x2, y2 = classic_ml._qgd_xy(spark, sf_dir)
    assert x2 is x and y2 is y
    assert x.count() == n_x


class _DeadContext:
    _jsc = None


class _DeadSession:
    """Mimics a stopped classic SparkSession: sparkContext._jsc is None."""

    sparkContext = _DeadContext()


class _UnreachableSession:
    """Mimics a torn-down session whose context raises on access."""

    @property
    def sparkContext(self):
        raise RuntimeError("SparkContext stopped")


class _ConnectLikeSession:
    """Mimics a LIVE Spark Connect session: sparkContext access raises
    PySparkNotImplementedError (a NotImplementedError subclass), and
    liveness is exposed via ``is_stopped`` instead (r14 advice — the
    API being unavailable must not read as the session being dead)."""

    def __init__(self, stopped: bool = False):
        self.is_stopped = stopped

    @property
    def sparkContext(self):
        raise NotImplementedError("sparkContext is not implemented on Connect")


class _BrokenProbeSession:
    """Mimics a Connect session whose ``is_stopped`` property ITSELF
    raises (dropped client connection). The r15 advice case: the
    raising probe must read as stopped/unreachable, not escape the
    eviction pass and break every memo getter."""

    @property
    def sparkContext(self):
        raise NotImplementedError("sparkContext is not implemented on Connect")

    @property
    def is_stopped(self):
        raise RuntimeError("client connection lost")


class _ProbelessRaisingSession:
    """Mimics a session class whose sparkContext raises AttributeError
    and which exposes NO ``is_stopped`` at all: no liveness signal
    remains, so it must be evicted rather than assumed live forever
    (the r13 pin-forever leak the r15 advice flagged as quietly
    reintroduced for this class)."""

    @property
    def sparkContext(self):
        raise AttributeError("no sparkContext on this session class")


def test_evict_stopped_sessions_drops_dead_keys_keeps_live(spark):
    from my_polars_ai_spark.operators.base import _evict_stopped_sessions

    live_connect = _ConnectLikeSession(stopped=False)
    memo = {
        (spark, "/sf"): "live",
        (_DeadSession(), "/sf"): "dead",
        (_UnreachableSession(), "/sf", 64, 16): "unreachable",
        (live_connect, "/sf"): "live-connect",
        (_ConnectLikeSession(stopped=True), "/sf"): "stopped-connect",
        (_BrokenProbeSession(), "/sf"): "broken-probe",
        (_ProbelessRaisingSession(), "/sf"): "probe-less",
    }
    _evict_stopped_sessions(memo)
    assert list(memo.values()) == ["live", "live-connect"]
