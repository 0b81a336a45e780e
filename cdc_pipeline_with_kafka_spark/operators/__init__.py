"""Operator library.  Submodules load on first access (PEP 562), so
importing one operator does not import all of them: the streaming
pipeline's window and alert operators do not pull in the pandas and
pyarrow that the pandas-UDF operators need."""

import importlib

__all__ = [
    "alerts",
    "classify",
    "curation",
    "dedup",
    "graph",
    "lm",
    "multimodal",
    "relational",
    "retrieval",
    "similarity",
    "sketch",
    "skew",
    "spans",
    "stats",
    "textstats",
    "tokenize",
    "trends",
    "windows",
]


def __getattr__(name: str):
    if name in __all__:
        return importlib.import_module(f"{__name__}.{name}")
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(__all__))
