"""Central operator registry.

Every operator from SURVEY.md §2 registers here exactly once via the
``@query`` decorator: a callable ``(spark, sf_dir) -> DataFrame`` plus
(optionally) the DuckDB ANSI-SQL oracle string the driver hash-compares
against. ``__spark_entry__.py``, the pytest suite, and ``bench.py`` all
read from this single source of truth, so there is zero drift between
local tests and the driver contract.

Key order is part of the driver contract: the grading driver checks
only the FIRST 50 keys of ``queries()`` (the driver window). The order
is computed, never hand-edited (``driver_order``):

1. the four ``ANCHORS``, one drift canary per fixture family (scan,
   lineitem agg, events streaming window, documents dedup);
2. every other oracled key, OLDEST driver row first. A key's age is the
   highest N among the committed ``CORRECTNESS_rN.json`` files that
   list it; a key no file lists has age 0 (never checked), and so does
   a ``REWRITTEN`` key whose latest row predates its rewrite. Ties
   break on the qid;
3. the rows-only keys last (a ran-clean row carries no hash to check),
   by the same age-then-qid key.

So the window rotates by itself: each new CORRECTNESS file ages the
keys it checked past every key it did not, and new builds lead the
next window.
"""

from __future__ import annotations

import functools
import json
import pathlib
import re
from collections.abc import Callable, Collection, Mapping
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

#: Window slots 1-4: one drift canary per fixture family.
ANCHORS = ("a_scan_parquet", "d_agg_q1_pricing", "j_tumbling_1h", "l_dedup_exact")

#: qid -> round in which an already-checked operator was rewritten. The
#: key counts as never checked until a CORRECTNESS file of that round or
#: later lists it, so an entry expires by itself.
REWRITTEN = {
    "l_corpus_divergence": 15,
    "l_dup_ngram_rate": 15,
    "l_graph_triangles": 15,
    "l_topic_cooccur": 15,
}

_HISTORY_DIR = pathlib.Path(__file__).resolve().parent.parent


def driver_history(root: pathlib.Path = _HISTORY_DIR) -> dict[str, int]:
    """qid -> latest round N whose ``CORRECTNESS_rN.json`` under ``root``
    lists it. No files (e.g. an installed package) gives ``{}``."""
    latest: dict[str, int] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            for k in json.loads(p.read_text()):
                latest[k] = max(latest.get(k, 0), int(m.group(1)))
    return latest


def driver_order(
    qids: Collection[str], oracled: Collection[str], latest: Mapping[str, int]
) -> list[str]:
    """The driver-facing key order (module docstring) of ``qids``."""

    def age(q: str) -> int:
        n = latest.get(q, 0)
        return 0 if n < REWRITTEN.get(q, 0) else n

    rest = sorted(
        (q for q in qids if q not in ANCHORS),
        key=lambda q: (q not in oracled, age(q), q),
    )
    return [q for q in ANCHORS if q in qids] + rest


@functools.cache
def _order() -> tuple[str, ...]:
    _load_all()
    return tuple(driver_order(_QUERIES, _ORACLES, driver_history()))


def query(qid: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an operator. ``oracle=None`` marks it rows-only."""

    def deco(fn: QueryFn) -> QueryFn:
        if qid in _QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        _QUERIES[qid] = fn
        if oracle is not None:
            _ORACLES[qid] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so decorators run (idempotent)."""
    import sqlengine_spark.operators  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    return {k: _QUERIES[k] for k in _order()}


def all_oracles() -> dict[str, str]:
    return {k: _ORACLES[k] for k in _order() if k in _ORACLES}


def get_query(qid: str) -> QueryFn:
    _load_all()
    return _QUERIES[qid]


def get_oracle(qid: str) -> str | None:
    """The oracle SQL of ``qid`` (None for rows-only operators)."""
    _load_all()
    return _ORACLES.get(qid)
