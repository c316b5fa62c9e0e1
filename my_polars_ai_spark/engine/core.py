"""SparkAI — the conversational analytics engine.

The reference's orchestration pipeline (reference
polarsai/__init__.py:214-341 run(), 490-582 run_code()) rebuilt for
Spark: NL question + DataFrame(s) -> prompt with schema/sample metadata
-> LLM generates PySpark code -> AST-sanitized -> exec'd in a restricted
namespace (with an LLM error-correction retry loop) -> the value of the
last expression is the answer, optionally rewritten conversationally.

100 TB discipline (SURVEY.md §7 hard part #4): prompt metadata uses
``df.limit(5)`` for the sample and NEVER calls ``df.count()`` unless
``count_rows=True`` — a row count is a full-table action on Spark.

The sample is taken once per DataFrame object, not once per question:
``df.head()`` is free in Polars, but ``df.limit(5).toPandas()`` is a
Spark job, and a session asks many questions (plus error-correction
retries) about the same frames. The rendered metadata and the schema
string are memoized per frame object and per ``(enforce_privacy,
count_rows)`` in a weak-keyed map, so an entry lives exactly as long as
its frame and no user frame is pinned. A DataFrame object's analyzed
schema never changes, and ``sources.tables.load_table`` returns a new
handle when a table's files change, so a rewritten table is sampled
afresh.

``SparkAI.last_run`` is a :class:`RunRecord` of the latest ``run`` (or
direct ``run_code``): seconds per phase, whether the code cache hit,
metadata memo hits and misses, and the exception class of each retry.
"""

from __future__ import annotations

import ast
import io
import logging
import re
import threading
import time
import uuid
import weakref
from contextlib import contextmanager, redirect_stdout
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession

from my_polars_ai_spark.engine.cache import Cache
from my_polars_ai_spark.engine.charts import add_save_chart
from my_polars_ai_spark.engine.exceptions import LLMNotFoundError
from my_polars_ai_spark.engine.llm import LLM
from my_polars_ai_spark.engine.prompts import (
    CorrectErrorPrompt,
    CorrectMultipleDataFramesErrorPrompt,
    GeneratePySparkCodePrompt,
    GenerateResponsePrompt,
    MultipleDataFramesPrompt,
    Prompt,
)
from my_polars_ai_spark.engine.sandbox import build_environment, clean_code
from my_polars_ai_spark.engine.shortcuts import Shortcuts

_LOGGER = logging.getLogger("my_polars_ai_spark")

PHASES = ("metadata", "llm", "sanitize", "env", "exec", "lint", "conversational")


@dataclass
class RunRecord:
    """Where one ``SparkAI.run`` (or a direct ``run_code``) spent its time.

    ``phases`` maps each of :data:`PHASES` to seconds; ``cache_hit`` is
    ``None`` when the code cache is off or the record is a ``run_code``
    call's; ``metadata_hits``/``metadata_misses`` count frame-metadata
    memo lookups (a miss is one ``limit(5)`` job); ``retries`` holds the
    exception class name of each error-correction retry; ``error`` is
    the class name of the exception that ended a failed run."""

    phases: dict[str, float] = field(default_factory=lambda: dict.fromkeys(PHASES, 0.0))
    cache_hit: bool | None = None
    metadata_hits: int = 0
    metadata_misses: int = 0
    retries: list[str] = field(default_factory=list)
    error: str | None = None
    total_s: float = 0.0


class _FrameInfo:
    """What the prompt needs from one DataFrame object: its schema (one
    py4j round trip, then fixed for the object's life) and its rendered
    metadata per ``(enforce_privacy, count_rows)``."""

    __slots__ = ("schema", "fingerprint", "rendered")

    def __init__(self, df: DataFrame):
        self.schema = df.schema
        self.fingerprint = self.schema.simpleString()
        self.rendered: dict[tuple[bool, bool], tuple[str, str, str]] = {}


# Weak keys: an entry is dropped with its frame. PySpark DataFrames hash
# by identity, so two objects over the same plan are two entries.
_FRAMES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_FRAMES_LOCK = threading.Lock()


def _frame_info(df: DataFrame) -> _FrameInfo:
    with _FRAMES_LOCK:
        info = _FRAMES.get(df)
    if info is None:
        fresh = _FrameInfo(df)
        with _FRAMES_LOCK:
            info = _FRAMES.setdefault(df, fresh)
    return info


class SparkAI(Shortcuts):
    """NL -> PySpark analytics over one or more DataFrames."""

    _max_retries = 3

    def __init__(
        self,
        llm: LLM | None = None,
        conversational: bool = False,
        verbose: bool = False,
        save_charts: bool = False,
        enforce_privacy: bool = False,
        enable_cache: bool = True,
        cache_path: str = "cache/sparkai",
        count_rows: bool = False,
        custom_whitelisted_dependencies: tuple[str, ...] = (),
        non_default_prompts: dict[str, Prompt] | None = None,
    ):
        self._llm = llm
        self._is_conversational_answer = conversational
        self._verbose = verbose
        self._save_charts = save_charts
        self._enforce_privacy = enforce_privacy
        self._cache = Cache(cache_path) if enable_cache else None
        self._count_rows = count_rows
        self._extra_whitelist = tuple(custom_whitelisted_dependencies)
        self._prompt_overrides = non_default_prompts or {}
        self._logs: list[str] = []
        self.last_prompt_id: str | None = None
        self.last_code_generated: str | None = None
        self.last_code_executed: str | None = None
        self.last_run: RunRecord | None = None
        self._open: RunRecord | None = None
        if verbose:
            logging.basicConfig(level=logging.INFO)

    # -- metadata -----------------------------------------------------------

    def _frame_metadata(self, df: DataFrame) -> tuple[str, str, str]:
        """(head_text, num_rows, num_columns), memoized per frame object
        (module docstring); a miss runs :meth:`_sample`."""
        with self._phase("metadata"):
            info = _frame_info(df)
            key = (self._enforce_privacy, self._count_rows)
            rendered = info.rendered.get(key)
            if rendered is not None:
                self._rec.metadata_hits += 1
                return rendered
            self._rec.metadata_misses += 1
            return info.rendered.setdefault(key, self._sample(df, info.schema))

    def _sample(self, df: DataFrame, schema) -> tuple[str, str, str]:
        """The memo's fill: no full-table action unless count_rows=True.

        With enforce_privacy=True no cell values leave the cluster: the
        LLM sees only column names and types. (The reference accepted an
        anonymize_df flag but never used it — polarsai/__init__.py:220;
        implemented for real here.)
        """
        if self._enforce_privacy:
            head = "Columns (values withheld for privacy):\n" + "\n".join(
                f"  {f.name}: {f.dataType.simpleString()}" for f in schema.fields
            )
        else:
            head = df.limit(5).toPandas().to_string(index=False)
        num_rows = str(df.count()) if self._count_rows else "an unknown number of"
        return head, num_rows, str(len(schema.fields))

    @staticmethod
    def _schema_fingerprint(dfs: list[DataFrame]) -> str:
        return "|".join(_frame_info(d).fingerprint for d in dfs)

    def _render_frames(self, dfs: list[DataFrame]) -> str:
        parts = []
        for i, df in enumerate(dfs, start=1):
            head, num_rows, num_cols = self._frame_metadata(df)
            parts.append(f"Dataframe df{i}, with {num_rows} rows and {num_cols} columns.\nMetadata (first rows):\n{head}")
        return "\n\n".join(parts)

    def _frames_prompt(self, dfs: list[DataFrame], single: tuple, multiple: tuple, **fields):
        """The ``(override key, prompt class)`` prompt for ``dfs``:
        ``single`` with the one frame's head and shape, else
        ``multiple`` with every frame rendered. A user override of the
        key wins."""
        if len(dfs) == 1:
            key, prompt_cls = single
            head, num_rows, num_cols = self._frame_metadata(dfs[0])
            fields.update(df_head=head, num_rows=num_rows, num_columns=num_cols)
        else:
            key, prompt_cls = multiple
            fields["dataframes"] = self._render_frames(dfs)
        return self._prompt_overrides.get(key, prompt_cls(**fields, today_date=date.today()))

    # -- run record ----------------------------------------------------------

    @property
    def _rec(self) -> RunRecord:
        """The open record; outside ``run``/``run_code``, a throwaway one."""
        return self._open if self._open is not None else RunRecord()

    @contextmanager
    def _recording(self):
        """Open a fresh ``last_run`` unless one is open (``run`` calls
        ``run_code``, and the two share one record)."""
        if self._open is not None:
            yield self._open
            return
        self.last_run = self._open = rec = RunRecord()
        start = time.perf_counter()
        try:
            yield rec
        except Exception as exc:
            rec.error = type(exc).__name__
            raise
        finally:
            rec.total_s = time.perf_counter() - start
            self._open = None

    @contextmanager
    def _phase(self, name: str):
        rec, start = self._rec, time.perf_counter()
        try:
            yield
        finally:
            rec.phases[name] += time.perf_counter() - start

    @property
    def last_run_time(self) -> float | None:
        """Seconds the latest run took (``last_run.total_s``)."""
        return self.last_run.total_s if self.last_run else None

    # -- public API ----------------------------------------------------------

    def log(self, message: str) -> None:
        self._logs.append(message)
        if self._verbose:
            _LOGGER.info(message)

    @property
    def logs(self) -> list[str]:
        return list(self._logs)

    def clear_cache(self) -> None:
        if self._cache:
            self._cache.clear()

    def conversational_answer(self, question: str, answer: object) -> str:
        """Second LLM call rewriting the raw answer as prose (reference
        polarsai/__init__.py:197-212).

        With enforce_privacy=True the computed answer itself is a derived
        cell value and must not leave the cluster either — the LLM sees
        only its shape/type, never the value."""
        if self._enforce_privacy:
            answer = f"<a {type(answer).__name__} value, withheld for privacy>"
        prompt = self._prompt_overrides.get(
            "generate_response", GenerateResponsePrompt(question=question, answer=answer)
        )
        with self._phase("conversational"):
            return self._llm.ask(str(prompt))

    def run(
        self,
        data_frame: DataFrame | list[DataFrame],
        prompt: str,
        is_conversational_answer: bool | None = None,
        show_code: bool = False,
        use_error_correction_framework: bool = True,
    ):
        """The main NL -> answer pipeline. ``last_run`` records it."""
        if self._llm is None:
            raise LLMNotFoundError("SparkAI requires an llm; pass llm=... to the constructor")
        with self._recording() as rec:
            try:
                self.last_prompt_id = str(uuid.uuid4())
                dfs = data_frame if isinstance(data_frame, list) else [data_frame]
                self.log(f'Running SparkAI with {self._llm.type} LLM: "{prompt}"')

                with self._phase("metadata"):
                    fingerprint = self._schema_fingerprint(dfs)
                cached = self._cache.get(prompt, fingerprint) if self._cache else None
                if self._cache:
                    rec.cache_hit = cached is not None
                code = cached
                if code is None:
                    instruction = self._frames_prompt(
                        dfs,
                        ("generate_python_code", GeneratePySparkCodePrompt),
                        ("multiple_dataframes", MultipleDataFramesPrompt),
                        prompt=prompt,
                    )
                    with self._phase("llm"):
                        code = self._llm.generate_code(instruction, prompt)
                self.last_code_generated = code
                self.log(f"Code generated:\n{code}")
                if show_code:
                    from my_polars_ai_spark.engine.notebook import show_code_in_new_cell

                    if not show_code_in_new_cell(code):
                        print(code)

                answer = self.run_code(
                    code,
                    data_frame,
                    use_error_correction_framework=use_error_correction_framework,
                    prompt=prompt,
                )
                # run_code moves last_code_generated to each corrected draft, so
                # this caches the code that ran, never a draft that failed.
                if self._cache and self.last_code_generated != cached:
                    self._cache.set(prompt, self.last_code_generated, fingerprint)
                self.log(f"Answer: {answer}")
                if isinstance(answer, DataFrame):
                    from my_polars_ai_spark.plans.guardrails import lint_plan

                    with self._phase("lint"):
                        warnings = lint_plan(answer)
                    for warning in warnings:
                        self.log(f"Plan warning: {warning}")

                conversational = (
                    self._is_conversational_answer
                    if is_conversational_answer is None
                    else is_conversational_answer
                )
                if conversational and not isinstance(answer, DataFrame):
                    answer = self.conversational_answer(prompt, answer)
                    self.log(f"Conversational answer: {answer}")
            except Exception as exc:  # reference catch-all (polarsai/__init__.py:334-341)
                rec.error = type(exc).__name__
                return (
                    "Unfortunately, I was not able to answer your question, "
                    f"because of the following error:\n\n{exc}\n"
                )
        self.log(f"Executed in: {rec.total_s}s")
        return answer

    # -- execution -----------------------------------------------------------

    def run_code(
        self,
        code: str,
        data_frame: DataFrame | list[DataFrame],
        use_error_correction_framework: bool = True,
        prompt: str = "",
    ):
        """Execute (possibly generated) PySpark code in the sandbox and
        extract the result; on failure, ask the LLM to correct the code,
        up to _max_retries times. Each corrected draft becomes
        ``last_code_generated``, so after a success it is the code that ran.

        Exceptions from the *result-extraction eval* are retried too —
        on Spark, execution errors surface at action time, not exec time
        (SURVEY.md §7 hard part #2).
        """
        with self._recording() as rec:
            dfs = data_frame if isinstance(data_frame, list) else [data_frame]
            spark = dfs[0].sparkSession if dfs else SparkSession.getActiveSession()

            if self._save_charts and self.last_prompt_id:
                code = add_save_chart(code, self.last_prompt_id)

            bindings: dict[str, object] = {"df": dfs[0]}
            for i, d in enumerate(dfs, start=1):
                bindings[f"df{i}"] = d

            count = 0
            while True:
                try:
                    with self._phase("sanitize"):
                        cleaned = clean_code(code, self._extra_whitelist)
                    self.last_code_executed = cleaned
                    self.log(f"Code running:\n{cleaned}")
                    with self._phase("env"):
                        env = build_environment(spark, bindings, self._extra_whitelist)
                    with self._phase("exec"):
                        return self._execute_and_extract(cleaned, env)
                except Exception as exc:
                    count += 1
                    if not use_error_correction_framework or count >= self._max_retries:
                        raise
                    rec.retries.append(type(exc).__name__)
                    code = self.last_code_generated = self._retry_run_code(code, prompt, dfs, exc)

    _MAX_ERROR_CHARS = 4000

    def _format_error(self, exc: Exception) -> str:
        """The error text embedded in correction prompts. Spark exception
        messages can quote cell values (ANSI cast errors, UDF tracebacks),
        so with enforce_privacy=True only the exception class name is sent;
        otherwise the message is truncated to keep prompts bounded."""
        if self._enforce_privacy:
            return f"{type(exc).__name__} (message withheld for privacy)"
        text = str(exc)
        if len(text) > self._MAX_ERROR_CHARS:
            text = text[: self._MAX_ERROR_CHARS] + " ... [truncated]"
        return text

    def _retry_run_code(self, code: str, question: str, dfs: list[DataFrame], exc: Exception) -> str:
        """Build the error-correction prompt and regenerate (reference
        polarsai/__init__.py:452-488)."""
        self.log(f"Failed with error: {type(exc).__name__}. Retrying")
        err = self._format_error(exc)
        instruction = self._frames_prompt(
            dfs,
            ("correct_error", CorrectErrorPrompt),
            ("correct_multiple_dataframes_error", CorrectMultipleDataFramesErrorPrompt),
            code=code,
            error_returned=err,
            question=question,
        )
        with self._phase("llm"):
            return self._llm.generate_code(instruction, "")

    @staticmethod
    def _execute_and_extract(code: str, env: dict):
        """Run the code; return captured stdout when the code prints
        repeatedly, else the value of the last expression (print-unwrapped).
        Mirrors the reference's extraction rules (polarsai/__init__.py:556-582)
        except a DataFrame result stays a DataFrame object."""
        tree = ast.parse(code)
        multiple_prints = len(re.findall(r"\bprint\s*\(", code)) > 1

        captured = io.StringIO()
        if multiple_prints or not tree.body:
            with redirect_stdout(captured):
                exec(compile(tree, "<sparkai>", "exec"), env)
            return captured.getvalue().strip()

        last = tree.body[-1]
        head_tree = ast.Module(body=tree.body[:-1], type_ignores=[])
        with redirect_stdout(captured):
            exec(compile(head_tree, "<sparkai>", "exec"), env)
            if isinstance(last, ast.Expr):
                value = last.value
                # unwrap a trailing print(...) to its argument
                if (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id == "print"
                    and len(value.args) == 1
                ):
                    value = value.args[0]
                result = eval(compile(ast.Expression(body=value), "<sparkai>", "eval"), env)
            else:
                exec(compile(ast.Module(body=[last], type_ignores=[]), "<sparkai>", "exec"), env)
                result = None
        if result is None:
            out = captured.getvalue().strip()
            return out if out else None
        if isinstance(result, tuple):
            return ", ".join(str(x) for x in result)
        return result
