"""Engine error taxonomy (parity with reference helpers/exceptions.py:8-73)."""

from __future__ import annotations


class SparkAIError(Exception):
    """Base class for engine errors."""


class APIKeyNotFoundError(SparkAIError):
    """An LLM provider API key is required but missing."""


class LLMNotFoundError(SparkAIError):
    """No LLM was configured on the engine."""


class NoCodeFoundError(SparkAIError):
    """The LLM response contained no usable code."""


class MethodNotImplementedError(SparkAIError):
    """A provider method has not been implemented."""


class BadImportError(SparkAIError):
    """Generated code imported a library outside the whitelist."""

    def __init__(self, library_name: str):
        self.library_name = library_name
        super().__init__(f"Generated code attempted to import a non-whitelisted library: {library_name}")
