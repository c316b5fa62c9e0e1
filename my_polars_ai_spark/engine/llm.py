"""LLM provider interface + deterministic FakeLLM for tests.

Parity with the reference's llm layer: code extraction from fenced /
sentinel-delimited responses, polishing, and syntax validation
(reference llm/base.py:41-104), plus the deterministic fake used as the
no-network test seam (reference llm/deprecated/fake.py:9-24).
"""

from __future__ import annotations

import ast
import re

from my_polars_ai_spark.engine.exceptions import MethodNotImplementedError, NoCodeFoundError
from my_polars_ai_spark.engine.prompts import Prompt


class LLM:
    """Provider-agnostic base: subclasses implement ``predict(text)``."""

    last_prompt: str | None = None

    @property
    def type(self) -> str:
        raise MethodNotImplementedError("type property must be overridden")

    def predict(self, text: str) -> str:
        raise MethodNotImplementedError("predict must be implemented by the provider")

    # -- code extraction ----------------------------------------------------

    @staticmethod
    def _polish_code(code: str) -> str:
        """Strip language tags and fence remnants from an extracted block.
        Only backtick runs at the payload edges are removed — backticks
        inside the body (e.g. in a string literal or regex) are program
        text and must survive."""
        code = re.sub(r"^\s*(python|py)\s*\n", "", code, flags=re.IGNORECASE)
        code = re.sub(r"^\s*`+|`+\s*$", "", code)
        return code.strip()

    @staticmethod
    def _is_python_code(code: str) -> bool:
        try:
            ast.parse(code)
            return True
        except SyntaxError:
            return False

    def _extract_code(self, response: str) -> str:
        """Pull the code payload out of an LLM response.

        Accepts <startCode>...<endCode> sentinels, ``` fences, or a bare
        code body. Raises NoCodeFoundError if nothing parses as Python.
        """
        code = response
        m = re.search(r"<startCode>(.*?)<endCode>", response, re.DOTALL)
        if m:
            code = m.group(1)
        elif "```" in response:
            blocks = response.split("```")
            if len(blocks) >= 3:
                code = blocks[1]
            else:
                raise NoCodeFoundError("unterminated code fence in LLM response")
        code = self._polish_code(code)
        if not self._is_python_code(code):
            raise NoCodeFoundError("LLM response did not contain valid Python code")
        return code

    def ask(self, text: str) -> str:
        """Call the provider, recording ``text`` as ``last_prompt``: the
        one entry point for every prompt the engine sends."""
        self.last_prompt = text
        return self.predict(text)

    def generate_code(self, instruction: Prompt | str, prompt: str) -> str:
        """Render the instruction, call the provider, extract the code."""
        return self._extract_code(self.ask(f"{instruction}\n{prompt}"))


class FakeLLM(LLM):
    """Deterministic offline LLM: returns a fixed response (the test seam;
    reference llm/deprecated/fake.py:9-24). ``queue`` lets a test script
    multiple successive responses (e.g. bad code, then the fix)."""

    def __init__(self, output: str = 'print("Hello world")', queue: list[str] | None = None):
        self._output = output
        self._queue = list(queue) if queue else []
        self.call_count = 0

    @property
    def type(self) -> str:
        return "fake"

    def predict(self, text: str) -> str:
        self.call_count += 1
        if self._queue:
            return self._queue.pop(0)
        return self._output


class LangChainLLM(LLM):
    """Adapter for any LangChain-style LLM object exposing ``predict`` or
    ``invoke`` (parity with the reference's langchain wrapper,
    llm/langchain_base.py:5-21 — which had a bug referencing an unbound
    name; fixed here by holding the wrapped object). Import-free: accepts
    any duck-typed object, so langchain itself is optional."""

    def __init__(self, langchain_llm):
        self._llm = langchain_llm

    @property
    def type(self) -> str:
        return f"langchain_{getattr(self._llm, '_llm_type', type(self._llm).__name__)}"

    def predict(self, text: str) -> str:
        if hasattr(self._llm, "predict"):
            return self._llm.predict(text)
        if hasattr(self._llm, "invoke"):
            out = self._llm.invoke(text)
            return getattr(out, "content", str(out))
        raise MethodNotImplementedError("wrapped LLM exposes neither predict nor invoke")


class CallableLLM(LLM):
    """Adapter wrapping any ``fn(prompt) -> str`` (an OpenAI-compatible
    client, a local model server, ...) as an engine LLM."""

    def __init__(self, fn, name: str = "callable"):
        self._fn = fn
        self._name = name

    @property
    def type(self) -> str:
        return self._name

    def predict(self, text: str) -> str:
        return self._fn(text)
