"""Staged inputs and shared intermediates: the one place that decides
how a table derived from the fixtures is keyed, published under
``/tmp`` and reused.

Two kinds of derived table go through ``staged``:

- shared intermediates (``materialized``): a deterministic, expensive
  table several registered queries consume -- the ngram-Jaccard pair
  graph's connected components feed `dedup_duplicate_clusters`,
  `dedup_cluster_representatives` AND `split_leakage_safe`; the
  co-purchase pair table feeds the whole graph family.  Recomputing
  the iterative component propagation inside every consumer
  multiplies the most expensive driver-probed loops in the repo.  At
  100 TB this is not an optimization but the only sane shape --
  nobody re-runs connected components per downstream query;
- staged inputs: a fixture rewritten into the layout a query reads
  (CSV/JSONL/ORC/fixed-width copies, a partitioned or fragmented
  parquet, a file-stream drop box, a whole txn-log table).  The
  builder writes anything into the directory it is handed.

Rules (why a staged table cannot serve stale or partial data):

- key: the caller's key parts carry the INPUT IDENTITY
  (``input_sig``: path + mtime + size of every input data file) and
  every parameter that shapes the output; the key also folds the
  source code of the builder and of its module (``_code_sig``), so a
  logic edit rebuilds without a hand-bumped version tag;
- publish: the builder writes a per-build tmp dir (a fresh uuid, so no
  later build reuses a name a plan memo may still hold) that is
  renamed into place -- a reader never observes a partial table;
- race: a losing builder deletes its own tmp; a failed rename
  re-raises unless a concurrent winner's table exists.

The builder must be deterministic in its inputs (min-label CC is: the
component id is the minimum reachable node id, independent of
iteration order or partitioning), so whichever concurrent builder wins
publishes the same rows.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import tempfile
import uuid
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
    """Identity of input files/dirs: path + mtime_ns + size, and for a
    directory (a multi-part parquet) the relative name, size and
    mtime_ns of every data file under it -- a part rewritten in place
    leaves the directory's own stat unchanged.  A regenerated fixture
    invalidates the key instead of silently serving stale rows."""
    sigs = []
    for p in paths:
        st = os.stat(p)
        sigs.append(f"{os.path.abspath(p)}:{st.st_mtime_ns}:{st.st_size}")
        for root, _, files in sorted(os.walk(p)):
            for name in sorted(files):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(root, name)
                fst = os.stat(full)
                sigs.append(
                    f"{os.path.relpath(full, p)}:{fst.st_size}:"
                    f"{fst.st_mtime_ns}"
                )
    return "|".join(sigs)


def table_sig(sf_dir: str, table: str) -> str:
    return input_sig(os.path.join(sf_dir, f"{table}.parquet"))


def staged(
    tag: str, key_parts: Iterable, build_into: Callable[[str], None]
) -> str:
    """Path of the table ``build_into(tmp)`` writes for this key,
    building it at most once per (key_parts, builder code) on this
    host.  A callable key part folds in its own code the same way, for
    a builder that calls into another module."""
    parts = [_code_sig(p) if callable(p) else str(p) for p in key_parts]
    key = hashlib.md5(
        ":".join([*parts, _code_sig(build_into)]).encode()
    ).hexdigest()[:12]
    final = os.path.join(tempfile.gettempdir(), f"hqmdw_mat_{tag}_{key}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{uuid.uuid4().hex}"
        try:
            build_into(tmp)
            os.rename(tmp, final)
        except OSError:
            # Swallow the error ONLY when a concurrent builder
            # demonstrably won the race (final now exists --
            # deterministic builder => identical content, keep the
            # winner's table).  A rename that failed for any other
            # reason (EXDEV, permissions) must surface HERE, not as
            # an unrelated-looking read error on a missing path
            # (ADVICE r10).
            if not os.path.isdir(final):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def materialized(
    spark: SparkSession,
    tag: str,
    key_parts: Iterable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The parquet-staged result of ``build()`` for this key; the key
    folds ``build``'s code, so editing the builder's logic (or its
    module) invalidates the table without a manual tag bump."""
    return read_parquet(
        spark,
        staged(
            tag,
            [*key_parts, build],
            lambda tmp: build().write.parquet(tmp),
        ),
    )
