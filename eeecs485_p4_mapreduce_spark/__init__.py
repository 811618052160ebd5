"""PySpark-native analytics engine with the capabilities of the reference
EECS 485 P4 MapReduce framework (see /root/reference, SURVEY.md).

Two layers:

- ``mrlite``: parity engine reproducing the reference's observable contract
  (directory-of-text-files in, external map/reduce executables, md5 key
  partitioning, sorted per-partition text output).  See SURVEY.md SS2/SS3.
- ``operators``/``functions``/``sources``/``streaming``: the idiomatic
  DataFrame/SQL analytics surface (joins, aggregations, windows, dedup,
  similarity search, text analysis, multimodal plumbing) designed for
  100 TB-scale execution on a real cluster.

Importing the package loads no third-party module: ``get_spark``,
``load_tables`` and ``register_views`` are resolved on first access
(PEP 562), so the mrlite manager and worker processes start on the
standard library alone.
"""

import importlib

__all__ = ["get_spark", "load_tables", "register_views"]
__version__ = "0.1.0"

#: public name -> the submodule that defines it
_LAZY = {
    "get_spark": "session",
    "load_tables": "catalog",
    "register_views": "catalog",
}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{_LAZY[name]}"), name)
