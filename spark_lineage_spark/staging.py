"""Staged state: session-staged values, fixture-derived directories and
per-process scratch, under one naming rule and one reaping rule.

- ``staged_frame(spark, key, build)``: a value built once per Spark
  application and key, then reused by later queries of that session
  (a checkpointed DataFrame, a staged warehouse table's DataFrame, a
  fitted model). At 100 TB this is the "write the index as a table
  once, read it from every job" pattern.
- ``fixture_dir(src, tag, build)``: ``sls_<tag>_<key>`` under the temp
  dir, derived from one fixture file and shared by every process. The
  key hashes the file's path, size and mtime, so a regenerated fixture
  gets a new directory. The name is the same in every process, and
  lineage reports of batch reads over the dir carry it.
- ``scratch_dir(tag)``, ``scratch_path(tag, name)`` and
  ``scratch_table(spark, tag, key)``: state owned by one process. Its
  name carries the owner's pid: ``sls_<tag>_<pid>_<rest>`` under the
  temp dir, ``sls_<tag>_<digest8>_<pid>`` for warehouse tables (table
  names appear in lineage reports, so they keep the shape reports have
  always shown).

Reaping: every scratch call first removes the entries, under the temp
dir and the session's warehouse dir, whose owner pid is dead. A live
pid is never reaped, and a pid that cannot be signalled (EPERM) counts
as alive. Entries whose name carries no pid (fixture copies, dirs of
older versions) are left alone. An owner's own entries stay until it
dies: some are read after the query that made them returns.

Consumption contract for staged values: a staged DataFrame must be
consumed (its actions run) within the query invocation that fetched
it. A caller must not hold it lazily across other queries: building
``STAGED_CACHE_CAP`` other keys of the same kind in the same
application unpersists it, and a later action then fails on released
``localCheckpoint`` blocks. Every in-repo caller follows this;
external callers get the same rule.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
from typing import Any, Callable, Optional
from urllib.parse import urlparse

from pyspark.sql import SparkSession

# Same-application entries kept per kind of staged value: a long-lived
# session sweeping many sf_dirs (scale probe, test runs over tmp
# fixture dirs) must not pin localCheckpoint blocks monotonically.
STAGED_CACHE_CAP = 4

# kind (the key's first element) -> {(applicationId, *key): value}
_STAGED: dict[str, dict[tuple, Any]] = {}

# Owner pid of a pid-scoped name (at most 9 digits, so os.kill never
# overflows a pid_t). The temp-dir tags are listed, so a fixture copy
# (sls_<tag>_<digest>) never parses; scratch_dir and scratch_path
# accept only these tags. An un-pidded mkdtemp dir of an older version
# parses only if its random part starts with digits and "_", and is
# then reaped only once no process has that number.
_TMP_OWNED = re.compile(
    r"sls_(?:arch|dpp|fixture|lineage_[a-z]+|pysink|roundtrip|stream)_(\d{1,9})_"
)
_TABLE_OWNED = re.compile(r"sls_\w+_[0-9a-f]{8}_(\d{1,9})$")


def evict_cache(cache: dict, app: str, keep_key: tuple) -> None:
    """Drop every other-application entry of ``cache``, then FIFO-evict
    same-application entries beyond STAGED_CACHE_CAP. Evicted values
    are unpersisted best-effort; dropping the reference also lets the
    ContextCleaner release checkpoint blocks on GC."""
    for k in [k for k in cache if k[0] != app]:
        _unpersist(cache.pop(k))
    same = [k for k in cache if k[0] == app and k != keep_key]
    while len(same) >= STAGED_CACHE_CAP:
        _unpersist(cache.pop(same.pop(0), None))


def _unpersist(value: Any) -> None:
    try:
        value.unpersist()
    except Exception:
        pass  # not a DataFrame, or its session is gone


def staged_frame(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s value, built once per (application, *key). ``key[0]``
    names the kind; the cap applies per kind."""
    app = spark.sparkContext.applicationId
    cache = _STAGED.setdefault(key[0], {})
    full = (app, *key)
    if full not in cache:
        evict_cache(cache, app, full)
        cache[full] = build()
    return cache[full]


def fixture_dir(src: str, tag: str, build: Callable[[str], None]) -> str:
    """``sls_<tag>_<key>`` under the temp dir, filled once by
    ``build(dir)``; the key hashes the source's path, size and mtime
    plus the tag. Concurrent processes each build into their own
    scratch dir, which gets a ``_DONE`` marker and is renamed into
    place atomically; a process that loses the race drops its copy."""
    st = os.stat(src)
    key = hashlib.md5(f"{src}:{st.st_size}:{st.st_mtime_ns}:{tag}".encode()).hexdigest()[:10]
    final = os.path.join(tempfile.gettempdir(), f"sls_{tag}_{key}")
    if not os.path.exists(os.path.join(final, "_DONE")):
        tmp = scratch_dir("fixture")
        try:
            build(tmp)
            open(os.path.join(tmp, "_DONE"), "w").close()
            try:
                os.rename(tmp, final)
            except OSError:
                pass  # lost the race; the winner's copy is complete
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def scratch_dir(tag: str) -> str:
    """A new empty directory ``sls_<tag>_<pid>_<random>`` under the temp dir."""
    return tempfile.mkdtemp(prefix=_owned_prefix(tag))


def scratch_path(tag: str, name: str) -> str:
    """The fixed path ``sls_<tag>_<pid>_<name>`` under the temp dir (not
    created): the same path on every call from this process, and never
    one that a concurrent process is reading."""
    return os.path.join(tempfile.gettempdir(), _owned_prefix(tag) + name)


def _owned_prefix(tag: str) -> str:
    prefix = f"sls_{tag}_{os.getpid()}_"
    if not _TMP_OWNED.match(prefix):
        raise ValueError(f"not a scratch tag: {tag!r}")
    _reap(SparkSession.getActiveSession())
    return prefix


def table_name(tag: str, key: str) -> str:
    """``sls_<tag>_<digest8 of key>_<pid>``: a warehouse table owned by
    this process, so concurrent processes staging the same fixture
    never share a location."""
    return f"sls_{tag}_{hashlib.md5(key.encode()).hexdigest()[:8]}_{os.getpid()}"


def scratch_table(spark: SparkSession, tag: str, key: str) -> str:
    """``table_name(tag, key)``, with any table or location left under
    that name dropped."""
    _reap(spark)
    name = table_name(tag, key)
    drop_table(spark, name)
    return name


def drop_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE plus its warehouse directory. The metastore is
    per-session while the warehouse dir persists on disk, so a table
    written by an earlier session is invisible to DROP TABLE yet still
    blocks CREATE with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = _warehouse(spark)
    if wh:
        _remove(os.path.join(wh, name.lower()))


def pid_alive(pid: int) -> bool:
    """Signal 0 checks existence without touching the process. EPERM
    (a pid of another user) and any other error count as alive: an
    entry is deleted only when its owner is provably gone."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True


def _warehouse(spark: Optional[SparkSession]) -> str:
    if spark is None:
        return ""
    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or ""


def _reap(spark: Optional[SparkSession]) -> None:
    """Remove entries of dead owners under the temp dir and, given a
    session, its warehouse dir."""
    for root, owned in ((tempfile.gettempdir(), _TMP_OWNED), (_warehouse(spark), _TABLE_OWNED)):
        try:
            names = os.listdir(root) if root else []
        except OSError:
            continue
        for name in names:
            m = owned.match(name)
            if m and int(m.group(1)) != os.getpid() and not pid_alive(int(m.group(1))):
                _remove(os.path.join(root, name))


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        try:
            os.unlink(path)
        except OSError:
            pass
