"""Shared-intermediate materialization: build a DETERMINISTIC
expensive intermediate once per input snapshot, parquet it under a
content-derived key, and let every consumer read the materialized
table.

Why: a handful of intermediates are consumed by several registered
queries -- the ngram-Jaccard pair graph's connected components feed
`dedup_duplicate_clusters`, `dedup_cluster_representatives` AND
`split_leakage_safe`; the thresholded co-purchase graph's components
feed `graph_connected_components` AND `graph_modularity_score`.
Recomputing the iterative component propagation inside every consumer
multiplies the most expensive driver-probed loops in the repo
(VERDICT r9 items 3 and 6).  The production analogue is a
materialized intermediate table in the lakehouse: the dedup graph is
folded once per corpus snapshot, and clustering / representative
selection / leakage-safe splitting all read the component table.  At
100 TB this is not an optimization but the only sane shape -- nobody
re-runs connected components per downstream query.

Correctness preconditions (why a disk cache cannot change results):

- the builder must be deterministic in its inputs (min-label CC is:
  the component id is the minimum reachable node id, independent of
  iteration order or partitioning);
- the cache key includes the INPUT IDENTITY (path + mtime + size of
  every input file), an algorithm-version tag (bump it when the
  builder changes), and every parameter that shapes the output.

Atomicity under concurrent builders (pytest workers, bench + gate):
build into a per-writer tmp dir and ``os.rename`` into place -- a
reader never observes a partial table, and a losing builder deletes
its own tmp.  Same discipline as the txn-log commit primitive
(sources/txn_log.py).
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import tempfile
import threading
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from .sources.loaders import read_parquet


def _code_sig(fn: Callable) -> str:
    """Hash of the builder's SOURCE CODE (plus its enclosing module's
    source when resolvable), folded into every cache key: a logic edit
    to the builder -- or to module-level constants/helpers it closes
    over -- invalidates the on-disk table even if nobody remembered to
    bump the hand-written version tag (ADVICE r10: a stale tag would
    silently serve wrong components to pytest-only or bench runs that
    skip the oracle gate).  Module-level hashing is deliberately
    coarse: a comment edit rebuilds a cache table, which costs seconds;
    a missed invalidation costs silent wrong data."""
    parts = []
    try:
        parts.append(inspect.getsource(fn))
    except (OSError, TypeError):
        parts.append(getattr(fn, "__qualname__", repr(fn)))
    mod = inspect.getmodule(fn)
    if mod is not None:
        try:
            parts.append(inspect.getsource(mod))
        except (OSError, TypeError):
            pass
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:12]


def input_sig(*paths: str) -> str:
    """Identity of input files/dirs: path + mtime_ns + size.  A
    regenerated fixture (new mtime) invalidates the cache instead of
    silently serving stale components."""
    sigs = []
    for p in paths:
        st = os.stat(p)
        sigs.append(f"{os.path.abspath(p)}:{st.st_mtime_ns}:{st.st_size}")
    return "|".join(sigs)


def table_sig(sf_dir: str, table: str) -> str:
    return input_sig(os.path.join(sf_dir, f"{table}.parquet"))


def materialized(
    spark: SparkSession,
    tag: str,
    key_parts: Iterable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the materialized result of ``build()`` for this key,
    building it exactly once per (key_parts, builder-code) on this
    host.  The key folds in ``_code_sig(build)`` so editing the
    builder's logic (or its module) invalidates the cache without a
    manual tag bump (ADVICE r10); a callable key part folds in its
    own code the same way, for a builder that calls into another
    module."""
    parts = [_code_sig(p) if callable(p) else str(p) for p in key_parts]
    key = hashlib.md5(
        ":".join([*parts, _code_sig(build)]).encode()
    ).hexdigest()[:12]
    final = os.path.join(
        tempfile.gettempdir(), f"hqmdw_mat_{tag}_{key}"
    )
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}-{threading.get_ident()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            # Swallow the error ONLY when a concurrent builder
            # demonstrably won the race (final now exists --
            # deterministic builder => identical content, keep the
            # winner's table).  A rename that failed for any other
            # reason (EXDEV, permissions) must surface HERE, not as
            # an unrelated-looking read error on a missing path
            # (ADVICE r10).
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(final):
                raise
    return read_parquet(spark, final)
