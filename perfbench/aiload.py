"""The ``sparkai_session`` workload: scripted conversations with
``SparkAI`` over sf0.1 frames, one closed-loop caller.

An offline scripted model answers each question of :data:`POOL` with its
frozen code, so model time is zero and every call is counted. A round
splits the pool, by the seed, into blocks of :data:`BLOCK_SINGLE`
single-frame and one multi-frame question; each block is a fresh engine
with an empty code cache that asks its questions twice each in a seeded
order, so half the asks are code-cache hits. In every block one question
gets failing code first, so the engine's error-correction loop asks the
model again. The first pass asks every pool question once in a fresh
engine (cold session, empty code cache; three questions wrong first);
steady rounds follow until ``--seconds`` have passed, whole rounds only,
so every run asks every question equally often. A question's
latency is ``SparkAI.run`` plus the first action on its answer. Answers
are checked against DuckDB after the timed asks.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import statistics
import time
from dataclasses import dataclass

from spans import SparkCounters, Tracer, counts, percentile, self_times

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus", "sf0.1")
FRAMES = ("orders", "customer", "nation", "lineitem")
FAILED_PREFIX = "Unfortunately, I was not able to answer"


@dataclass(frozen=True)
class Question:
    text: str
    frames: tuple[str, ...]  # bound in order as df1..dfN (and df = df1)
    code: str
    oracle: str  # DuckDB SQL over the same parquet files
    rows: bool = False  # the answer is a DataFrame, compared row by row in order


# Frozen question pool. No question text is a substring of another: the
# scripted model finds the question by searching the prompt for it.
POOL = (
    Question(
        "How many orders have the status F?",
        ("orders",),
        'df.filter(F.col("o_orderstatus") == "F").count()',
        "SELECT count(*) FROM orders WHERE o_orderstatus = 'F'",
    ),
    Question(
        "What is the total price of all 1-URGENT orders?",
        ("orders",),
        'df.filter(F.col("o_orderpriority") == "1-URGENT").agg(F.sum("o_totalprice")).collect()[0][0]',
        "SELECT sum(o_totalprice) FROM orders WHERE o_orderpriority = '1-URGENT'",
    ),
    Question(
        "How many distinct customers placed an order?",
        ("orders",),
        'df.select("o_custkey").distinct().count()',
        "SELECT count(DISTINCT o_custkey) FROM orders",
    ),
    Question(
        "What is the largest total price of any order?",
        ("orders",),
        'df.agg(F.max("o_totalprice")).collect()[0][0]',
        "SELECT max(o_totalprice) FROM orders",
    ),
    Question(
        "How many customers does each nation key have?",
        ("customer",),
        'df.groupBy("c_nationkey").count().orderBy("c_nationkey")',
        "SELECT c_nationkey, count(*) AS count FROM customer GROUP BY 1 ORDER BY 1",
        rows=True,
    ),
    Question(
        "What is the average account balance per market segment?",
        ("customer",),
        'df.groupBy("c_mktsegment").agg(F.avg("c_acctbal").alias("avg_acctbal")).orderBy("c_mktsegment")',
        "SELECT c_mktsegment, avg(c_acctbal) AS avg_acctbal FROM customer GROUP BY 1 ORDER BY 1",
        rows=True,
    ),
    Question(
        "Which five customers have the highest account balance?",
        ("customer",),
        'df.orderBy(F.desc("c_acctbal"), "c_custkey").select("c_name", "c_acctbal").limit(5)',
        "SELECT c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5",
        rows=True,
    ),
    Question(
        "How many line items shipped in 1998?",
        ("lineitem",),
        'df.filter(F.year("l_shipdate") == 1998).count()',
        "SELECT count(*) FROM lineitem WHERE year(l_shipdate) = 1998",
    ),
    Question(
        "What is the average discount for each return flag?",
        ("lineitem",),
        'df.groupBy("l_returnflag").agg(F.avg("l_discount").alias("avg_discount")).orderBy("l_returnflag")',
        "SELECT l_returnflag, avg(l_discount) AS avg_discount FROM lineitem GROUP BY 1 ORDER BY 1",
        rows=True,
    ),
    Question(
        "How many orders did the customers of each nation place? Show the top five nations.",
        ("orders", "customer", "nation"),
        'df1.join(df2, df1.o_custkey == df2.c_custkey).join(df3, df2.c_nationkey == df3.n_nationkey)'
        '.groupBy("n_name").count().orderBy(F.desc("count"), "n_name").limit(5)',
        "SELECT n_name, count(*) AS count FROM orders JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY count DESC, n_name LIMIT 5",
        rows=True,
    ),
    Question(
        "Which market segment has the highest total order value?",
        ("orders", "customer"),
        'df1.join(df2, df1.o_custkey == df2.c_custkey).groupBy("c_mktsegment")'
        '.agg(F.sum("o_totalprice").alias("total")).orderBy(F.desc("total")).first()["c_mktsegment"]',
        "SELECT c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey"
        " GROUP BY 1 ORDER BY sum(o_totalprice) DESC LIMIT 1",
    ),
    Question(
        "How many customers have never placed an order?",
        ("customer", "orders"),
        'df1.join(df2, df1.c_custkey == df2.o_custkey, "left_anti").count()',
        "SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
    ),
)
# The scripted first draft of a wrong-first question: it names a column
# no frame has, so the sandboxed exec raises and the engine retries.
WRONG_CODE = 'df1.select("no_such_column").count()'
BLOCK_SINGLE, ASKS_PER_QUESTION, WRONG_FIRST_BLOCK = 3, 2, 1
WRONG_FIRST_PASS = (2, 1)  # (single-frame, multi-frame) questions

# Per-layer metrics of layers this workload does not call.
IDLE_LAYERS = ("sources.", "operators.", "plan.", "cache.")


def scripted_llm(questions, wrong_first):
    from my_polars_ai_spark.engine.llm import LLM

    class ScriptedLLM(LLM):
        """Offline model: replies to each question with its frozen code;
        a wrong-first question gets :data:`WRONG_CODE` on its first call."""

        def __init__(self):
            self.calls = 0
            self._replies = {q.text: ([WRONG_CODE] if q.text in wrong_first else []) + [q.code] for q in questions}

        @property
        def type(self) -> str:
            return "scripted"

        def predict(self, text: str) -> str:
            self.calls += 1
            for question, replies in self._replies.items():
                if question in text:
                    code = replies.pop(0) if len(replies) > 1 else replies[0]
                    return f"<startCode>\n{code}\n<endCode>"
            raise ValueError("the prompt names no scripted question")

    return ScriptedLLM()


def _span(tracer, name, group=None):
    return tracer.span(name, group) if tracer else contextlib.nullcontext()


@contextlib.contextmanager
def _engine_traced(tracer: Tracer, ai, llm, tag: dict):
    """Time the engine's layer calls: module-level functions it calls by
    name are swapped for traced wrappers (restored on exit), the engine's
    own cache, model and ``run_code`` are wrapped on the instances."""
    from my_polars_ai_spark.engine import core
    from my_polars_ai_spark.plans import guardrails

    swaps = [(core, "clean_code", "engine.sanitize"), (core, "build_environment", "engine.env"), (guardrails, "lint_plan", "engine.lint")]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in swaps]
    for mod, attr, name in swaps:
        setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
    run_code, cache_get, frame_metadata = ai.run_code, ai._cache.get, ai._frame_metadata

    def traced_run_code(*args, **kwargs):
        with tracer.span("engine.run_code", group=tag["tag"] + ":exec"):
            return run_code(*args, **kwargs)

    def traced_metadata(*args, **kwargs):
        # the limit(5) samples, from run on a miss and from every retry
        with tracer.span("engine.metadata", group=tag["tag"] + ":meta"):
            return frame_metadata(*args, **kwargs)

    def traced_get(*args, **kwargs):
        with tracer.span("engine.cache_get") as rec:
            code = cache_get(*args, **kwargs)
            rec["hit"] = code is not None
            return code

    ai.run_code = traced_run_code
    ai._frame_metadata = traced_metadata
    ai._cache.get = traced_get
    ai._cache.set = tracer.wrap("engine.cache_set", ai._cache.set)
    llm.generate_code = tracer.wrap("engine.llm", llm.generate_code)
    try:
        yield
    finally:
        for mod, attr, orig in originals:
            setattr(mod, attr, orig)


class SessionWorkload:
    sf_dir = SF_DIR

    @staticmethod
    def load_frames(spark, sf_dir: str) -> dict:
        from my_polars_ai_spark.sources.tables import load_table

        return {t: load_table(spark, sf_dir, t) for t in FRAMES}

    def run(self, ctx) -> dict:
        from pyspark.sql import DataFrame

        from my_polars_ai_spark.engine.core import SparkAI

        rng = random.Random(ctx.seed)
        tracer = Tracer(ctx.spark.sparkContext) if ctx.trace else None
        counters = SparkCounters(ctx.spark) if ctx.trace else None
        answers: list[tuple[Question, object]] = []

        def block(k: int, asks: list[Question], wrong_first: set[str], traced: bool) -> dict:
            llm = scripted_llm(set(asks), wrong_first)
            ai = SparkAI(llm=llm, cache_path=os.path.join(ctx.work, "cache", f"b{k}", "sparkai"))
            tr, tag = (tracer if traced else None), {"tag": ""}
            lat = []
            if traced:
                counters.drain()
                counters.skip_sql_executions()
            t0 = time.perf_counter()
            with _engine_traced(tracer, ai, llm, tag) if traced else contextlib.nullcontext():
                for i, q in enumerate(asks):
                    tag["tag"] = f"b{k}:{i}"
                    dfs = [ctx.frames[f] for f in q.frames]
                    t = time.perf_counter()
                    try:
                        with _span(tr, "ask"):
                            with _span(tr, "engine.run"):
                                answer = ai.run(dfs if len(dfs) > 1 else dfs[0], q.text)
                            with _span(tr, "engine.answer_action", f"b{k}:{i}:action"):
                                if isinstance(answer, DataFrame):
                                    answer = [tuple(r) for r in answer.collect()]
                    except Exception as exc:  # the check counts it as a failed ask
                        answer = exc
                    else:
                        lat.append(time.perf_counter() - t)
                    answers.append((q, answer))
            rec = {"wall_s": time.perf_counter() - t0, "traced": traced, "lat": lat, "llm_calls": llm.calls}
            if traced:
                rec.update(_block_layers(tracer.take(), counters, k, len(asks)))
            return rec

        singles = [q for q in POOL if len(q.frames) == 1]
        multis = [q for q in POOL if len(q.frames) > 1]

        def draw_round() -> list[tuple[list[Question], set[str]]]:
            s, m = rng.sample(singles, len(singles)), rng.sample(multis, len(multis))
            out = []
            for j, multi in enumerate(m):
                chosen = s[j * BLOCK_SINGLE : (j + 1) * BLOCK_SINGLE] + [multi]
                asks = chosen * ASKS_PER_QUESTION
                rng.shuffle(asks)
                out.append((asks, {q.text for q in rng.sample(chosen, WRONG_FIRST_BLOCK)}))
            return out

        # Every pool question once, a fixed mix of them scripted wrong
        # first, so that the seed changes only the order and which
        # questions of each kind retry.
        first_wrong = rng.sample(singles, WRONG_FIRST_PASS[0]) + rng.sample(multis, WRONG_FIRST_PASS[1])
        first = block(0, rng.sample(POOL, len(POOL)), {q.text for q in first_wrong}, ctx.trace)
        blocks: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < ctx.seconds:
            for asks, wrong in draw_round():
                # Traced runs alternate untraced and traced blocks, as the
                # ops workloads alternate passes (a round has 3 blocks).
                blocks.append(block(len(blocks) + 1, asks, wrong, ctx.trace and len(blocks) % 2 == 1))

        wrong_answers = _check(ctx, answers)
        plain = [b for b in blocks if not b["traced"]]
        samples = [x for b in plain for x in b["lat"]]
        steady_asks = sum(len(b["lat"]) for b in blocks)
        metrics = {
            "first_pass_s": first["wall_s"],
            "latency_p50_s": statistics.median(samples),
            "latency_p90_s": percentile(samples, 90),
            "throughput_per_s": len(samples) / sum(b["wall_s"] for b in plain),
            "engine.llm_calls_per_answer": sum(b["llm_calls"] for b in blocks) / steady_asks,
        }
        detail = {
            "steady_blocks": len(blocks),
            "latency_samples": len(samples),
            "llm_calls_per_answer": metrics["engine.llm_calls_per_answer"],
            "wrong": wrong_answers[:5],
        }
        if ctx.trace:
            traced = [b for b in blocks if b["traced"]]
            metrics.update(_layer_metrics(traced, plain))
        return {
            "attempted": len(answers),
            "failed": len(wrong_answers),
            "metrics": metrics,
            "detail": detail,
            "idle_layers": IDLE_LAYERS,
        }


def _block_layers(spans: list[dict], counters: SparkCounters, k: int, n_asks: int) -> dict:
    counters.drain()
    tags = [f"b{k}:{i}" for i in range(n_asks)]
    gets = [s for s in spans if s["name"] == "engine.cache_get"]
    asks = [s for s in spans if s["name"] == "ask"]
    return {
        "self_s": self_times(spans),
        "calls": counts(spans),
        "hits": sum(s["hit"] for s in gets),
        "retries": sum(1 for s in spans if s["name"] == "engine.llm" and (s["parent"] or {}).get("name") == "engine.run_code"),
        "metadata_jobs": counters.jobs([t + ":meta" for t in tags])["jobs"],
        "answer": counters.jobs([t + ":exec" for t in tags] + [t + ":action" for t in tags]),
        "broadcast_collect_s": counters.broadcast_collect_s(),
        "remainder": sum(s["self_s"] for s in asks) / sum(s["end"] - s["start"] for s in asks),
    }


ENGINE_TIMES = {
    "engine.metadata_s": "engine.metadata",  # the limit(5) samples
    "engine.llm_s": "engine.llm",
    "engine.cache_get_s": "engine.cache_get",
    "engine.cache_set_s": "engine.cache_set",
    "engine.sanitize_s": "engine.sanitize",
    "engine.env_s": "engine.env",
    "engine.exec_s": "engine.run_code",  # run_code's self time: the exec'd code
    "engine.lint_s": "engine.lint",
    "engine.answer_action_s": "engine.answer_action",
}


def _layer_metrics(traced: list[dict], plain: list[dict]) -> dict:
    """Per-block engine totals, median over the traced steady blocks."""

    def med(fn):
        return statistics.median(fn(b) for b in traced)

    out = {name: med(lambda b, s=span: b["self_s"].get(s, 0.0)) for name, span in ENGINE_TIMES.items()}
    out["engine.cache_lookups"] = med(lambda b: b["calls"].get("engine.cache_get", 0))
    out["engine.cache_hit_ratio"] = med(lambda b: b["hits"] / b["calls"]["engine.cache_get"])
    out["engine.retries"] = med(lambda b: b["retries"])
    out["engine.metadata_jobs"] = med(lambda b: b["metadata_jobs"])
    out["engine.jobs_per_answer"] = med(lambda b: b["answer"]["jobs"] / len(b["lat"]))
    for key in ("jobs",) + SparkCounters.STAGE_FIELDS:
        out[f"execute.{key}"] = med(lambda b, key=key: b["answer"][key])
    out["execute.s"] = out["engine.answer_action_s"]
    out["execute.broadcast_collect_s"] = med(lambda b: b["broadcast_collect_s"])
    out["trace.overhead_frac"] = (
        statistics.median(x for b in traced for x in b["lat"]) / statistics.median(x for b in plain for x in b["lat"]) - 1
    )
    out["trace.remainder_frac"] = med(lambda b: b["remainder"])
    return out


def _same(got, want) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        return isinstance(got, (int, float)) and want is not None and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)
    return got == want


def _check(ctx, answers) -> list[str]:
    """Each answer against its question's DuckDB result; the engine's
    "Unfortunately, ..." message counts as a failure. Returns issues."""
    import duckdb

    con = duckdb.connect()
    for t in FRAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")
    expected = {}
    issues = []
    for q, got in answers:
        if q.text not in expected:
            rows = con.execute(q.oracle).fetchall()
            expected[q.text] = rows if q.rows else rows[0][0]
        want = expected[q.text]
        if isinstance(got, str) and got.startswith(FAILED_PREFIX):
            ok = False
        elif q.rows:
            ok = isinstance(got, list) and len(got) == len(want) and all(
                len(g) == len(w) and all(_same(a, b) for a, b in zip(g, w)) for g, w in zip(got, want)
            )
        else:
            ok = _same(got, want)
        if not ok:
            issues.append(f"{q.text}: got {str(got)[:200]!r}, expected {str(want)[:200]!r}")
    con.close()
    return issues


WORKLOADS = {"sparkai_session": SessionWorkload()}
