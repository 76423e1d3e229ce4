"""The one in-process cache: every build artifact a session reuses
across its queries — route results, PQ codebooks, BPE merge tables,
index directories, chunk directories, persisted frames — lives here.

An entry is keyed on (applicationId, family, sf_dir, fingerprint of
sf_dir, key): `family` names the artifact kind, `key` is whatever else
the artifact depends on (route name, knobs). The fingerprint
makes a mid-session rewrite of the data under sf_dir a miss, and the
first miss after a rewrite calls each superseded entry's `release`
(`unpersist` for frames, `rmtree` for scratch dirs) so stale artifacts
neither serve nor pin memory. Entries of stopped sessions are dropped
(their frames are unusable against the live session). An entry whose
sf_dir is None is not tied to a data directory; the code that rewrites
what it caches calls `invalidate` (invalidate-on-write).

`clear()` releases everything — the test/bench hook. The one on-disk
artifact layer is sources/formats.py::persistent_index_dir (manifests,
per-prefix locks, atomic publish), which the indexes and the trained PQ
codebooks persist through; only its in-process registry is here.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
from typing import Any, Callable

INDEX_CACHE_ENV = "SPARK_GRAFT_INDEX_CACHE"

# (app, family, sf_dir, fingerprint, key) -> (value, release or None)
_ENTRIES: dict[tuple, tuple[Any, Callable[[Any], None] | None]] = {}
_SCRATCH_DIRS: list[str] = []


def _sf_fingerprint(sf_dir: str) -> tuple:
    """Cheap content fingerprint of a data directory: sorted
    (relpath, mtime_ns, size) over its parquet files (one os.walk,
    no data read); for a single file, its own (".", mtime_ns, size).
    A file that vanishes between the walk and the stat (a concurrent
    overwrite-mode rewrite — exactly the scenario the fingerprint
    exists for) is skipped rather than crashing: the changed
    fingerprint then triggers the rebuild."""
    try:
        st = os.stat(sf_dir)
    except OSError:
        return ()
    if stat.S_ISREG(st.st_mode):
        return ((".", st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out.append(
                    (os.path.relpath(p, sf_dir), st.st_mtime_ns, st.st_size)
                )
    return tuple(sorted(out))


def _index_cache_root() -> str:
    """Root of the cross-session index cache (tests redirect it via
    the SPARK_GRAFT_INDEX_CACHE env var)."""
    return os.environ.get(INDEX_CACHE_ENV) or os.path.join(
        tempfile.gettempdir(), "spark_graft_index_cache"
    )


def track_dir(path: str) -> str:
    """Register `path` for removal at process exit; returns it."""
    _SCRATCH_DIRS.append(path)
    return path


def scratch_dir(prefix: str) -> str:
    """mkdtemp removed at process exit — long-lived machines otherwise
    accumulate one orphan per scratch-writing query per run."""
    return track_dir(tempfile.mkdtemp(prefix=prefix))


@atexit.register
def _remove_scratch_dirs() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def unpersist(df) -> None:
    df.unpersist()


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _live_app() -> str | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else sc.applicationId


def _forget_other_sessions(app: str) -> None:
    for k in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[k]


def _drop(keys: list[tuple], live: str | None) -> None:
    """Pop `keys`, releasing the live session's entries (a stopped
    session's frames cannot be unpersisted; its dirs go at exit)."""
    for k in keys:
        value, release = _ENTRIES.pop(k)
        if release is not None and k[0] == live:
            release(value)


def get_or_build(
    spark,
    family: str,
    sf_dir: str | None,
    key: Any,
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """The cached `build()` for (session, family, sf_dir, fingerprint,
    key), built on a miss. `valid(value)` re-checks a hit against
    state outside the process (catalog, files on disk); a failed check
    rebuilds without releasing."""
    app = spark.sparkContext.applicationId
    fp = None if sf_dir is None else _sf_fingerprint(sf_dir)
    full = (app, family, sf_dir, fp, key)
    hit = _ENTRIES.get(full)
    if hit is not None and (valid is None or valid(hit[0])):
        return hit[0]
    _forget_other_sessions(app)
    _drop([k for k in _ENTRIES if k[:3] == full[:3] and k[3] != fp], app)
    value = build()
    _ENTRIES[full] = (value, release)
    return value


def peek(spark, family: str, sf_dir: str | None, key: Any) -> Any:
    """The live entry get_or_build would serve, or None (no build)."""
    fp = None if sf_dir is None else _sf_fingerprint(sf_dir)
    hit = _ENTRIES.get(
        (spark.sparkContext.applicationId, family, sf_dir, fp, key)
    )
    return None if hit is None else hit[0]


def hold(spark, family: str, df):
    """Persist `df` as the session's one live frame of `family`,
    unpersisting the one it replaces first (a plan-equal frame shares
    its CacheManager entry, so releasing the old one after persisting
    the new would drop both). For a persisted frame that backs a lazily
    returned result and must outlive the call that made it."""
    app = spark.sparkContext.applicationId
    _forget_other_sessions(app)
    _drop([k for k in _ENTRIES if k[1] == family], app)
    df = df.persist()
    _ENTRIES[(app, family, None, None, None)] = (df, unpersist)
    return df


def invalidate(family: str, sf_dir: str | None = None, key: Any = None) -> None:
    """Release and drop the entries of `family`, narrowed to `sf_dir`
    and/or `key` when given (None matches any)."""
    _drop(
        [
            k
            for k in _ENTRIES
            if k[1] == family
            and (sf_dir is None or k[2] == sf_dir)
            and (key is None or k[4] == key)
        ],
        _live_app(),
    )


def clear() -> None:
    """Release and drop every entry — the test/bench hook."""
    _drop(list(_ENTRIES), _live_app())


def entries(family: str) -> list:
    """The cached values of `family`, every session — introspection."""
    return [v for k, (v, _) in _ENTRIES.items() if k[1] == family]
