"""Engine tests — LLM-free via FakeLLM (the reference's test seam,
SURVEY.md §5), plus the reference's golden example fixtures (FIXTURES.md)
executed as deterministic PySpark snippets through run_code."""

from __future__ import annotations

import pytest

from my_polars_ai_spark.engine.cache import Cache
from my_polars_ai_spark.engine.charts import add_save_chart
from my_polars_ai_spark.engine.core import SparkAI
from my_polars_ai_spark.engine.exceptions import BadImportError, NoCodeFoundError
from my_polars_ai_spark.engine.llm import FakeLLM
from my_polars_ai_spark.engine.sandbox import clean_code
from my_polars_ai_spark.sources.readers import from_records


# -- code extraction ---------------------------------------------------------

def test_extract_code_fenced():
    llm = FakeLLM()
    assert llm._extract_code("text\n```python\nx = 1\n```\nmore") == "x = 1"


def test_extract_code_sentinels():
    llm = FakeLLM()
    assert llm._extract_code("<startCode>\ndf.count()\n<endCode>") == "df.count()"


def test_extract_code_bare():
    llm = FakeLLM()
    assert llm._extract_code("print('hi')") == "print('hi')"


def test_extract_code_invalid_raises():
    llm = FakeLLM()
    with pytest.raises(NoCodeFoundError):
        llm._extract_code("this is just prose, not code!@#")


# -- sandbox -----------------------------------------------------------------

def test_clean_code_strips_whitelisted_import():
    out = clean_code("import numpy as np\nx = 1")
    assert "import" not in out and "x = 1" in out


def test_clean_code_bad_import_raises():
    with pytest.raises(BadImportError):
        clean_code("import os\nos.system('ls')")


def test_clean_code_drops_df_overwrite():
    out = clean_code("df = 1\ndf2 = 2\nother = 3")
    assert "df = 1" not in out and "df2 = 2" not in out and "other = 3" in out


def test_clean_code_drops_spark_rebind():
    assert "spark" not in clean_code("spark = None\nx = 1")


@pytest.mark.parametrize(
    "code",
    [
        "spark.stop()",
        "df.write.parquet('/tmp/x')",
        "open('/etc/passwd')",
        "df.__class__",
        "exec('x')",
        "for df in [1, 2]:\n    pass",
        "with ctx() as spark:\n    pass",
    ],
)
def test_clean_code_forbidden(code):
    with pytest.raises(ValueError):
        clean_code(code)


def test_clean_code_keeps_subscript_targets_mentioning_protected_names():
    # the target merely *mentions* df — valid generated code, must survive
    out = clean_code("results = {}\nresults[df.columns[0]] = 1")
    assert "results[df.columns[0]] = 1" in out


def test_clean_code_drops_unpacked_protected_rebinds():
    out = clean_code("df, other = 1, 2\nkeep = 3")
    assert "df" not in out and "keep = 3" in out


def test_sandbox_getattr_cannot_reach_forbidden_attributes(spark, fruits):
    from my_polars_ai_spark.engine.sandbox import build_environment

    env = build_environment(spark, {"df": fruits})
    g = env["__builtins__"]["getattr"]
    for name in ("write", "stop", "__class__"):
        with pytest.raises(AttributeError):
            g(fruits, name)
    # ordinary attribute access still works
    assert g(fruits, "columns") == fruits.columns


def test_polish_code_preserves_backticks_inside_strings():
    llm = FakeLLM()
    body = "pattern = 'a`b'\nprint(pattern)"
    assert llm._extract_code(f"```python\n{body}\n```") == body


# -- run_code on golden fixtures --------------------------------------------

@pytest.fixture()
def fruits(spark):
    # reference examples/single_dataframe_example.py:4-9
    return from_records(
        spark,
        {
            "A": [1, 2, 3, 4, 5],
            "fruits": ["banana", "banana", "apple", "apple", "banana"],
            "B": [5, 4, 3, 2, 1],
            "cars": ["beetle", "audi", "beetle", "beetle", "beetle"],
        },
    )


@pytest.fixture()
def countries(spark):
    # reference examples/data/sample_dataframe.py:3-29 (subset)
    return from_records(
        spark,
        {
            "country": ["United States", "United Kingdom", "Japan", "China", "Canada"],
            "gdp": [19294482071552, 2891615567872, 4380756541440, 14631844184064, 1607402389504],
            "happiness_index": [6.94, 7.16, 5.87, 5.12, 7.23],
        },
    )


def test_run_code_scalar_sum(spark, fruits):
    # golden: sum(A) == 15 (reference examples/single_dataframe_example.py:13)
    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    result = ai.run_code("df.agg(F.sum('A')).collect()[0][0]", fruits)
    assert result == 15


def test_run_code_filter_sum(spark, countries):
    # golden shape: filtered gdp sum (reference examples/from_dataframe.py:13-15)
    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    code = "df.filter(F.col('country').isin('United States','Canada')).agg(F.sum('gdp')).collect()[0][0]"
    assert ai.run_code(code, countries) == 19294482071552 + 1607402389504


def test_run_code_join_argmax(spark):
    # golden: 'Olivia' (reference examples/with_multiple_dataframes.py:25-27)
    employees = from_records(
        spark,
        {
            "EmployeeID": [1, 2, 3, 4, 5],
            "Name": ["John", "Emma", "Liam", "Olivia", "William"],
            "Department": ["HR", "Sales", "IT", "Marketing", "Finance"],
        },
    )
    salaries = from_records(
        spark,
        {"EmployeeID": [1, 2, 3, 4, 5], "Salary": [5000, 6000, 4500, 7000, 5500]},
    )
    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    code = (
        "df1.join(df2, 'EmployeeID').orderBy(F.desc('Salary')).limit(1)"
        ".select('Name').collect()[0][0]"
    )
    assert ai.run_code(code, [employees, salaries]) == "Olivia"


def test_run_code_dataframe_result_stays_dataframe(spark, fruits):
    from pyspark.sql import DataFrame

    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    result = ai.run_code("df.groupBy('fruits').count()", fruits)
    assert isinstance(result, DataFrame)
    assert result.count() == 2


def test_run_code_multiple_prints_returns_stdout(spark, fruits):
    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    result = ai.run_code("print('a')\nprint('b')", fruits)
    assert result == "a\nb"


def test_run_code_print_unwrap(spark, fruits):
    ai = SparkAI(llm=FakeLLM(), enable_cache=False)
    assert ai.run_code("print(df.count())", fruits) == 5


def test_run_code_retry_loop_corrects(spark, fruits):
    # First response errors at runtime; the corrected second response works.
    llm = FakeLLM(queue=["df.agg(F.sum('NOPE')).collect()[0][0]", "df.agg(F.sum('A')).collect()[0][0]"])
    ai = SparkAI(llm=llm, enable_cache=False)
    bad_code = llm.predict("ignored")  # pop the first (bad) snippet
    assert ai.run_code(bad_code, fruits, prompt="sum of A") == 15
    assert llm.call_count == 2


def test_run_end_to_end_with_fake_llm(spark, fruits):
    llm = FakeLLM(output="<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>")
    ai = SparkAI(llm=llm, enable_cache=False)
    assert ai.run(fruits, "What is the sum of the A column?") == 15
    assert ai.last_code_generated is not None
    assert ai.last_prompt_id is not None


def test_run_catch_all_returns_apology(spark, fruits):
    llm = FakeLLM(output="<startCode>\nimport os\n<endCode>")
    ai = SparkAI(llm=llm, enable_cache=False)
    out = ai.run(fruits, "anything", use_error_correction_framework=False)
    assert isinstance(out, str) and "Unfortunately" in out


# -- cache -------------------------------------------------------------------

def test_cache_schema_aware(tmp_path):
    cache = Cache(str(tmp_path / "c"))
    cache.set("q", "code1", "schema_a")
    assert cache.get("q", "schema_a") == "code1"
    assert cache.get("q", "schema_b") is None  # reference bug fixed: schema in key
    cache.clear()
    assert cache.get("q", "schema_a") is None


def test_run_uses_cache(spark, fruits, tmp_path):
    llm = FakeLLM(output="<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>")
    ai = SparkAI(llm=llm, enable_cache=True, cache_path=str(tmp_path / "c"))
    assert ai.run(fruits, "sum of A?") == 15
    assert ai.run(fruits, "sum of A?") == 15
    assert llm.call_count == 1  # second run served from cache


def test_cache_stores_the_code_that_ran(spark, fruits, tmp_path):
    # the first draft fails and is corrected: the cache must hold the
    # correction, so the repeat is a hit that neither retries nor calls
    # the LLM; a run that fails every retry caches nothing
    bad = "df.agg(F.sum('NOPE')).collect()[0][0]"
    good = "df.agg(F.sum('A')).collect()[0][0]"
    llm = FakeLLM(queue=[bad, good])
    path = str(tmp_path / "c")
    ai = SparkAI(llm=llm, enable_cache=True, cache_path=path)
    assert ai.run(fruits, "sum of A?") == 15
    assert ai.run(fruits, "sum of A?") == 15
    assert llm.call_count == 2
    assert ai.last_run.cache_hit and ai.last_run.retries == []
    assert Cache(path).get("sum of A?", SparkAI._schema_fingerprint([fruits])) == good

    failing = SparkAI(llm=FakeLLM(output=bad), enable_cache=True, cache_path=path)
    assert failing.run(fruits, "sum of NOPE?").startswith("Unfortunately")
    assert len(failing.last_run.retries) == SparkAI._max_retries - 1
    assert failing.last_run.error == "AnalysisException"
    assert Cache(path).get("sum of NOPE?", SparkAI._schema_fingerprint([fruits])) is None


def test_last_run_record_on_miss_hit_and_retry(spark, fruits, tmp_path):
    from my_polars_ai_spark.engine.core import PHASES

    good = "df.agg(F.sum('A')).collect()[0][0]"
    llm = FakeLLM(queue=[good, "df.agg(F.sum('NOPE')).collect()[0][0]", good])
    ai = SparkAI(llm=llm, enable_cache=True, cache_path=str(tmp_path / "c"))
    assert ai.last_run is None and ai.last_run_time is None

    ai.run(fruits, "sum of A?")  # miss: one sample, one LLM call
    miss = ai.last_run
    assert set(miss.phases) == set(PHASES)
    assert (miss.cache_hit, miss.metadata_misses, miss.metadata_hits) == (False, 1, 0)
    assert miss.retries == [] and miss.error is None
    assert miss.phases["llm"] > 0 and miss.phases["exec"] > 0 and miss.phases["conversational"] == 0
    assert miss.total_s >= sum(miss.phases.values()) and ai.last_run_time == miss.total_s

    ai.run(fruits, "sum of A?")  # hit: no sample, no LLM call
    hit = ai.last_run
    assert hit is not miss
    assert (hit.cache_hit, hit.metadata_misses, hit.metadata_hits, hit.retries) == (True, 0, 0, [])
    assert hit.phases["llm"] == 0 and hit.phases["exec"] > 0

    ai.run(fruits, "sum of A again?")  # miss + retry: both reuse the sample
    retry = ai.last_run
    assert (retry.cache_hit, retry.metadata_misses, retry.metadata_hits) == (False, 0, 2)
    assert retry.retries == ["AnalysisException"] and retry.error is None
    assert llm.call_count == 3

    # a direct run_code call gets a record of its own
    assert ai.run_code(good, fruits) == 15
    assert ai.last_run is not retry and ai.last_run.cache_hit is None


# -- frame-metadata memo -----------------------------------------------------

def _write_table(tmp_path, name, table):
    import pyarrow.parquet as pq

    pq.write_table(table, str(tmp_path / f"{name}.parquet"))


def test_one_metadata_job_per_frame_across_engines(spark, tmp_path, jobs_started):
    # Code that starts no job of its own (df.columns; a column that fails
    # analysis), so every job counted is a metadata sample: a miss, a
    # retry and a multi-frame question, in two engines over the same
    # load_table handles, sample each of the two frames exactly once.
    import pyarrow as pa

    from my_polars_ai_spark.sources.tables import load_table

    _write_table(tmp_path, "region", pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}))
    _write_table(tmp_path, "nation", pa.table({"n_nationkey": [0], "n_name": ["KENYA"], "n_regionkey": [0]}))
    sf = str(tmp_path)
    region, nation = load_table(spark, sf, "region"), load_table(spark, sf, "nation")
    width, bad = "len(df1.columns)", "df1.select('no_such_column').columns"

    def session(k: int) -> None:
        llm = FakeLLM(queue=[width, bad, width, width])
        ai = SparkAI(llm=llm, cache_path=str(tmp_path / f"cache{k}" / "c"))
        frames = {t: load_table(spark, sf, t) for t in ("region", "nation")}
        assert frames["region"] is region and frames["nation"] is nation
        assert ai.run(frames["region"], "How wide is region?") == 2
        assert ai.run(frames["region"], "How wide is region, again?") == 2
        assert ai.last_run.retries == ["AnalysisException"]
        assert ai.run([frames["nation"], frames["region"]], "How wide is the first frame?") == 3
        assert llm.call_count == 4

    assert jobs_started(lambda: session(1)) == 2
    assert jobs_started(lambda: session(2)) == 0


def test_rewritten_table_prompt_shows_new_rows(spark, tmp_path):
    import pyarrow as pa

    from my_polars_ai_spark.sources.tables import load_table

    sf = str(tmp_path)
    _write_table(tmp_path, "region", pa.table({"r_regionkey": [0], "r_name": ["OLDROW"]}))
    llm = FakeLLM(output="df.count()")
    assert SparkAI(llm=llm, enable_cache=False).run(load_table(spark, sf, "region"), "How many rows?") == 1
    assert "OLDROW" in llm.last_prompt
    _write_table(tmp_path, "region", pa.table({"r_regionkey": [5, 6], "r_name": ["NEWROW", "NEWERROW"]}))
    assert SparkAI(llm=llm, enable_cache=False).run(load_table(spark, sf, "region"), "How many rows?") == 2
    assert "NEWROW" in llm.last_prompt and "OLDROW" not in llm.last_prompt


def test_privacy_engine_never_reuses_an_open_sample(spark, fruits):
    code = "<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>"
    open_llm, private_llm = FakeLLM(output=code), FakeLLM(output=code)
    assert SparkAI(llm=open_llm, enable_cache=False).run(fruits, "sum of A?") == 15
    assert "banana" in open_llm.last_prompt
    assert SparkAI(llm=private_llm, enforce_privacy=True, enable_cache=False).run(fruits, "sum of A?") == 15
    assert "fruits: string" in private_llm.last_prompt
    for value in ("banana", "apple", "beetle", "audi"):
        assert value not in private_llm.last_prompt


def test_metadata_memo_entry_dies_with_its_frame(spark):
    import gc
    import weakref

    from my_polars_ai_spark.engine import core

    gc.collect()  # drop earlier tests' dead frames, so the count below is this frame's
    df = from_records(spark, {"A": [1, 2]})
    llm = FakeLLM(output="df.count()")
    assert SparkAI(llm=llm, enable_cache=False).run(df, "How many rows?") == 2
    assert df in core._FRAMES
    before, ref = len(core._FRAMES), weakref.ref(df)
    del df
    gc.collect()
    assert ref() is None and len(core._FRAMES) == before - 1


# -- charts ------------------------------------------------------------------

def test_add_save_chart_injects_savefig(tmp_path):
    code = "plt.plot([1,2])\nplt.show()"
    out = add_save_chart(code, "pid", save_dir=str(tmp_path))
    assert "savefig" in out
    assert out.index("savefig") < out.index("show")


def test_add_save_chart_noop_without_show():
    code = "x = 1"
    assert add_save_chart(code, "pid") == "x = 1"


# -- shortcuts ---------------------------------------------------------------

def test_shortcut_rolling_prompt_interpolates_window(spark, fruits):
    # the reference left '{window}' literal in rolling prompts; ensure fixed
    captured = {}

    class SpyAI(SparkAI):
        def run(self, df, prompt, **kw):
            captured["prompt"] = prompt
            return None

    SpyAI(llm=FakeLLM()).rolling_mean(fruits, "A", 7)
    assert "7" in captured["prompt"] and "{window}" not in captured["prompt"]


# -- providers / optional deps ----------------------------------------------

def test_langchain_adapter_duck_typing():
    from my_polars_ai_spark.engine.llm import LangChainLLM

    class PredictStyle:
        def predict(self, text):
            return "<startCode>\nx = 1\nx\n<endCode>"

    class InvokeStyle:
        def invoke(self, text):
            class Out:
                content = "```python\ny = 2\n```"
            return Out()

    assert LangChainLLM(PredictStyle()).generate_code("inst", "q") == "x = 1\nx"
    assert LangChainLLM(InvokeStyle()).generate_code("inst", "q") == "y = 2"


def test_openai_provider_offline_roundtrip(spark, fruits):
    from my_polars_ai_spark.engine.providers import OpenAILLM

    seen = {}

    def transport(url, headers, payload):
        seen.update(url=url, headers=headers, payload=payload)
        return {"choices": [{"message": {"content": "<startCode>\ndf.count()\n<endCode>"}}]}

    llm = OpenAILLM(api_token="sk-test", model="m1", transport=transport)
    ai = SparkAI(llm=llm, enable_cache=False)
    assert ai.run(fruits, "how many rows?") == 5
    assert seen["url"] == "https://api.openai.com/v1/chat/completions"
    assert seen["headers"]["Authorization"] == "Bearer sk-test"
    assert seen["payload"]["model"] == "m1"
    assert "Today is" in seen["payload"]["messages"][0]["content"]


def test_openai_provider_requires_key(monkeypatch):
    from my_polars_ai_spark.engine.exceptions import APIKeyNotFoundError
    from my_polars_ai_spark.engine.providers import OpenAILLM

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(APIKeyNotFoundError):
        OpenAILLM()


def test_azure_provider_url_and_header():
    from my_polars_ai_spark.engine.providers import AzureOpenAILLM

    seen = {}

    def transport(url, headers, payload):
        seen.update(url=url, headers=headers)
        return {"choices": [{"message": {"content": "ok"}}]}

    llm = AzureOpenAILLM(
        api_token="az-test",
        api_base="https://myres.openai.azure.com",
        deployment_name="gpt4",
        api_version="2024-02-01",
        transport=transport,
    )
    assert llm.predict("hi") == "ok"
    assert seen["url"] == (
        "https://myres.openai.azure.com/openai/deployments/gpt4"
        "/chat/completions?api-version=2024-02-01"
    )
    assert seen["headers"]["api-key"] == "az-test"


def test_huggingface_providers():
    from my_polars_ai_spark.engine.providers import FalconLLM, StarcoderLLM

    def transport(url, headers, payload):
        assert payload["inputs"] == "hi"
        return [{"generated_text": f"from {url.rsplit('/', 1)[-1]}"}]

    sc = StarcoderLLM(api_token="hf-test", transport=transport)
    assert sc.predict("hi") == "from starcoder" and sc.type == "starcoder"
    fa = FalconLLM(api_token="hf-test", transport=transport)
    assert fa.predict("hi") == "from falcon-7b-instruct" and fa.type == "falcon"


def test_open_assistant_and_google_palm_providers(monkeypatch):
    from my_polars_ai_spark.engine.exceptions import APIKeyNotFoundError
    from my_polars_ai_spark.engine.providers import GooglePalmLLM, OpenAssistantLLM

    def hf_transport(url, headers, payload):
        assert payload["inputs"] == "hi"
        return [{"generated_text": f"from {url.rsplit('/', 1)[-1]}"}]

    oa = OpenAssistantLLM(api_token="hf-test", transport=hf_transport)
    assert oa.predict("hi") == "from oasst-sft-1-pythia-12b"
    assert oa.type == "open-assistant"

    seen = {}

    def palm_transport(url, headers, payload):
        seen["url"] = url
        assert payload["prompt"] == {"text": "hi"}
        assert payload["topK"] == 40
        # the key rides the auth header, and must never leak into the URL
        assert headers["x-goog-api-key"] == "g-test"
        return {"candidates": [{"output": "palm says hi"}]}

    gp = GooglePalmLLM(api_token="g-test", transport=palm_transport)
    assert gp.predict("hi") == "palm says hi" and gp.type == "google-palm"
    assert "models/text-bison-001:generateText" in seen["url"]
    assert "g-test" not in seen["url"]
    # reference BaseGoogle._validate parameter ranges
    with pytest.raises(ValueError):
        GooglePalmLLM(api_token="g", temperature=1.5)
    with pytest.raises(ValueError):
        GooglePalmLLM(api_token="g", top_k=0)
    monkeypatch.delenv("GOOGLE_PALM_API_KEY", raising=False)
    with pytest.raises(APIKeyNotFoundError):
        GooglePalmLLM(api_token=None)


def test_load_llm_factory_switch():
    from my_polars_ai_spark.engine.exceptions import BadImportError
    from my_polars_ai_spark.engine.providers import OpenAILLM, load_llm

    assert isinstance(load_llm("OpenAI", api_token="sk-x"), OpenAILLM)
    assert load_llm("Fake").type == "fake"

    class Duck:
        def predict(self, text):
            return "quack"

    assert load_llm("Custom", langchain_llm=Duck()).predict("x") == "quack"
    with pytest.raises(BadImportError):
        load_llm("NotAProvider")
    with pytest.raises(BadImportError):
        load_llm("LlamaCpp", model_path="/tmp/x.gguf")  # langchain absent here
    with pytest.raises(BadImportError):
        load_llm("GoogleVertexAI", model="text-bison")  # vertexai absent here


def test_import_optional_dependency():
    from my_polars_ai_spark.engine.optional_deps import import_optional_dependency

    assert import_optional_dependency("json") is not None
    assert import_optional_dependency("definitely_not_a_module", errors="ignore") is None
    with pytest.raises(ImportError):
        import_optional_dependency("definitely_not_a_module")
    with pytest.raises(ImportError):
        import_optional_dependency("pandas", min_version="999.0.0")


def test_enforce_privacy_hides_values(spark, fruits):
    llm = FakeLLM(output="<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>")
    ai = SparkAI(llm=llm, enforce_privacy=True, enable_cache=False)
    assert ai.run(fruits, "sum of A?") == 15
    # the prompt sent to the LLM must contain schema but no cell values
    assert "banana" not in llm.last_prompt and "beetle" not in llm.last_prompt
    assert "fruits: string" in llm.last_prompt


def test_enforce_privacy_redacts_conversational_and_retry_prompts(spark, fruits):
    # retry path: the correction prompt must not carry the raw error text
    # (Spark errors can quote cell values); conversational rewrite must not
    # carry the computed answer
    class RecordingLLM(FakeLLM):
        def predict(self, text):
            prompts.append(text)
            return super().predict(text)

    prompts = []
    bad = "<startCode>\nnonexistent_fn(df)\n<endCode>"
    good = "<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>"
    llm = RecordingLLM(queue=[bad, good, "the sum is some number"])
    ai = SparkAI(llm=llm, enforce_privacy=True, enable_cache=False, conversational=True)
    ai.run(fruits, "sum of A?")
    _, retry, rewrite = prompts
    assert "nonexistent_fn" in retry  # it is the correction prompt
    assert "withheld for privacy" in retry
    assert "is not defined" not in retry  # the NameError's message
    for cell in ("banana", "apple", "beetle", "audi"):
        assert cell not in retry
    assert rewrite.lstrip().startswith("Question: sum of A?")
    assert "withheld for privacy" in rewrite  # answer value redacted
    assert "15" not in rewrite


def test_last_prompt_is_the_conversational_rewrite(spark, fruits):
    # every prompt goes through LLM.ask, so after a conversational run
    # last_prompt is the rewrite prompt, the last one sent
    good = "<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>"
    for private in (False, True):
        llm = FakeLLM(queue=[good, "the sum is some number"])
        ai = SparkAI(llm=llm, enforce_privacy=private, enable_cache=False, conversational=True)
        ai.run(fruits, "sum of A?")
        assert llm.last_prompt.lstrip().startswith("Question: sum of A?")
        assert ("15" in llm.last_prompt) is not private
        assert ("withheld for privacy" in llm.last_prompt) is private


def test_retry_prompt_redacts_error_under_privacy(spark, fruits):
    llm = FakeLLM()
    ai = SparkAI(llm=llm, enforce_privacy=True, enable_cache=False)
    err = ai._format_error(ValueError("cannot cast 'secret-cell-value' to int"))
    assert "secret-cell-value" not in err and "ValueError" in err
    ai_open = SparkAI(llm=llm, enable_cache=False)
    assert "secret-cell-value" in ai_open._format_error(
        ValueError("cannot cast 'secret-cell-value' to int")
    )
    long = ai_open._format_error(ValueError("x" * 10000))
    assert len(long) < 5000 and long.endswith("[truncated]")


def test_default_prompt_contains_sample_values(spark, fruits):
    llm = FakeLLM(output="<startCode>\ndf.agg(F.sum('A')).collect()[0][0]\n<endCode>")
    ai = SparkAI(llm=llm, enable_cache=False)
    ai.run(fruits, "sum of A?")
    assert "banana" in llm.last_prompt
