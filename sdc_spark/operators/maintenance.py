"""One lifecycle for every persisted index: layout, side logs,
stage-then-replace, the maintenance lock and the compaction policy.

The four persisted indexes — LSH bands/grams and substring gram counts
(dedup.py), BM25 postings/stats (retrieval.py) and IVF cells
(similarity.py) — differ only in how their rows are derived and how
they are served. Everything else is shared and lives here:

- **Layout.** An index lives under ``{path_root}/{name}``, one
  subdirectory per table; ``_KINDS`` lists each kind's data and log
  subdirectories with their catalog tables (``{prefix}_{name}``) and
  ``_DEFAULT_ROOTS`` its default ``path_root``. Data tables are bucketed
  on their serve-join keys (``INDEX_BUCKETS`` buckets, sorted within
  each) so a screen or search reads the corpus side with no Exchange —
  only the incoming batch shuffles, which keeps per-batch work
  O(|batch|) at corpus scale. ``save_table`` repartitions on the keys
  before writing, so a write lays down ~one file per bucket instead of
  tasks x buckets. IVF is the exception: its cells are parquet
  partitioned by cell (static partition pruning), with no catalog table.
- **Appends** (``append_*``) write the batch's rows into the same tables
  under the same bucket spec; an index is never rewritten to grow.
- **Side logs.** ``delete_from_*`` is an O(|batch|) write to a small log
  beside the data (``append_log``): tombstoned ids for LSH, posting and
  IVF; negative gram counts, removed ids and the dead-gram set for
  substring. Serve paths anti-join the log after their index join. No
  join-strategy hint anywhere: a bulk expiry's log can be corpus-scale,
  so AQE picks.
- **Stage-then-replace.** ``compact_*`` reads the RAW parquet (on top of
  a bucketed scan Catalyst partially elides the equal-key repartition
  that bounds the output at one file per bucket), applies the logs,
  materializes the new content with lineage truncation, and only then
  drops the table, deletes the old files and rewrites them
  (``replace_table``) — a lineage-kept persist would recompute lost
  blocks from the deleted files. The logs are cleared afterwards
  (``clear_logs``). With no log pending, contents are bit-identical
  before and after. ``needs_compaction`` is the policy: file count per
  bucket (append decay) or log bytes against data bytes (tombstone
  decay).
- **Lock.** Appends, deletes and compactions hold ``index_lock`` on the
  index root. A compaction's stage-then-replace has a window: an append
  or a log write that lands after it read the raw files but before it
  rewrote them would be silently dropped — the lost-update race of any
  read-modify-write maintenance job. READERS never take the lock:
  serving plans see either the old file set or the new one (tables are
  re-registered after the staged content is fully written), so screens
  and searches keep running during maintenance. Those entry points take
  the lock through ``maintaining``, which also refuses a root that
  ``write_*`` never created instead of growing a second, partial index
  elsewhere.

The lock is an mkdir-based mutex (the one primitive that is atomic on
POSIX filesystems and HDFS alike). Scope, stated honestly: this guards
the common deployments (single maintenance host, or a shared POSIX/HDFS
filesystem where mkdir is atomic). On object stores without atomic
namespace ops (raw S3), ``mkdir`` is not a mutex — there, run
maintenance single-actor (one scheduled job per index, the usual
arrangement) or front it with a real coordination service; the locking
call sites make that swap a one-function change. Locks are reentrant per
(process, index) so a compaction that internally appends never
self-deadlocks; a crashed holder leaves the lock dir behind —
``break_index_lock`` clears it (break only when no maintenance job is
alive).
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
import threading
import time
from typing import NamedTuple

from sdc_spark.materialize import materialize as _materialize

_LOCK_DIRNAME = "_maintenance_lock"
# per-root in-process lock (threads of one session race each other too);
# the mkdir dir below excludes OTHER processes
_proc_locks: dict[str, threading.Lock] = {}
_proc_guard = threading.Lock()
_tls = threading.local()  # per-thread reentrancy depths


def _depths() -> dict:
    d = getattr(_tls, "depths", None)
    if d is None:
        d = _tls.depths = {}
    return d


def _lock_path(index_root: str) -> str:
    return os.path.join(index_root, _LOCK_DIRNAME)


@contextlib.contextmanager
def index_lock(index_lock_root: str, timeout: float = 300.0, poll: float = 0.05):
    """Acquire the maintenance mutex for one persisted index (its root
    directory, e.g. ``{path_root}/{name}``). Two layers: a per-root
    in-process ``threading.Lock`` (threads sharing one SparkSession race
    each other exactly like separate jobs do) and the on-disk mkdir dir
    (other processes). Reentrant per thread. Blocks up to ``timeout``
    seconds, then raises TimeoutError — maintenance jobs should fail
    loudly rather than queue unboundedly behind a stuck peer."""
    root = os.path.abspath(index_lock_root)
    depths = _depths()
    if depths.get(root, 0) > 0:  # reentrant within the thread
        depths[root] += 1
        try:
            yield
        finally:
            depths[root] -= 1
        return

    with _proc_guard:
        plock = _proc_locks.setdefault(root, threading.Lock())
    if not plock.acquire(timeout=timeout):
        raise TimeoutError(
            f"index_lock: in-process lock for {root} held past {timeout}s"
        )
    try:
        os.makedirs(root, exist_ok=True)
        lock = _lock_path(root)
        deadline = time.monotonic() + timeout
        while True:
            try:
                os.mkdir(lock)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"index_lock: {lock} held past {timeout}s — another "
                        "maintenance job is running (or crashed; see "
                        "break_index_lock)"
                    )
                time.sleep(poll)
        depths[root] = 1
        try:
            yield
        finally:
            depths[root] = 0
            with contextlib.suppress(OSError):
                os.rmdir(lock)
    finally:
        plock.release()


def break_index_lock(index_root: str) -> None:
    """Operational escape hatch: clear a lock left by a crashed
    maintenance job. Only safe when no maintenance job is alive."""
    with contextlib.suppress(OSError):
        os.rmdir(_lock_path(os.path.abspath(index_root)))


def run_concurrently(*thunks) -> None:
    """Run INDEPENDENT Spark write actions from concurrent driver
    threads (optimization guide §2.6 "overlap independent jobs"): the
    index lifecycle ops below write two tables per operation (LSH bands
    + grams; postings + stats) whose inputs share one already-
    materialized frame, so the second write has no dependency on the
    first — submitted sequentially, each write's commit/catalog latency
    and task tail leaves the executors idle; submitted concurrently,
    the second job's tasks back-fill them. Uses ``InheritableThread`` so
    job group/description thread-locals propagate (the documented
    PySpark way to run driver threads). Exceptions from any thunk are
    re-raised after all threads finish — partial completion is the same
    outcome a sequential failure leaves, and every caller's contract is
    idempotent-rebuild or lock-guarded maintenance."""
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def wrap(fn):
        def go() -> None:
            try:
                fn()
            except BaseException as e:  # noqa: BLE001  (re-raised below)
                errs.append(e)

        return go

    threads = [InheritableThread(target=wrap(t)) for t in thunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        # simultaneous failures must not vanish: chain the extras onto
        # the primary so the traceback shows every concurrent error
        head = errs[0]
        for extra in errs[1:]:
            tail = head
            while tail.__context__ is not None:
                tail = tail.__context__
            tail.__context__ = extra
        raise head


INDEX_BUCKETS = 16  # bucket count of every bucketed index table


class _Kind(NamedTuple):
    module: str  # the sdc_spark.operators module that derives and serves it
    data: dict  # data subdirectory -> catalog table prefix (None: no table)
    logs: dict  # delete-side log subdirectory -> catalog table prefix


# The first data subdirectory is the one ``write_*`` always creates.
_KINDS = {
    "posting": _Kind(
        "retrieval", {"postings": "postings", "stats": "lexstats"},
        {"tombstones": "lexdel"},
    ),
    "lsh": _Kind(
        "dedup", {"bands": "lsh_bands", "grams": "lsh_grams"},
        {"tombstones": "lsh_dels"},
    ),
    "ivf": _Kind(
        "similarity", {"cells": None, "centroids": None}, {"tombstones": None}
    ),
    "substring": _Kind(
        "dedup", {"grams": "sub_grams"},
        {"dels": "sub_dels", "dead": "sub_dead", "deldocs": "sub_deldocs"},
    ),
}

_DEFAULT_ROOTS = {
    "posting": "/tmp/sdc_spark_postidx",
    "lsh": "/tmp/sdc_spark_lshidx",
    "ivf": "/tmp/sdc_spark_ivfidx",
    "substring": "/tmp/sdc_spark_subidx",
}


def _kind_fn(kind: str, verb: str):
    """``{verb}_{kind}_index`` of the kind's module, looked up at call
    time (so wrappers installed on the module attribute are honored)."""
    if kind not in _KINDS:
        raise ValueError(f"unknown index kind {kind!r}")
    mod = importlib.import_module(f"sdc_spark.operators.{_KINDS[kind].module}")
    return getattr(mod, f"{verb}_{kind}_index")


def maintaining(kind: str, root: str):
    """Context manager for one append, delete or compaction of the
    ``kind`` index at ``root`` (``{path_root}/{name}``): holds
    ``index_lock`` on it and yields ``root``.

    Raises FileNotFoundError naming the root when ``write_*`` never
    created the index there: run against the wrong root, the operation
    would create a second, partial index and lock a different directory
    than its peers. The check is split around the lock. The root itself
    is checked when this is called, before any lock or directory is
    made (no compaction removes it), so a caller can fail fast before
    preparing its batch. The kind's first data subdirectory is checked
    only once the lock is held, because a compaction that holds the lock
    deletes and rewrites exactly that directory."""
    if not os.path.isdir(root):
        raise _missing(kind, root)
    return _locked(kind, root)


@contextlib.contextmanager
def _locked(kind: str, root: str):
    with index_lock(root):
        if not os.path.isdir(os.path.join(root, next(iter(_KINDS[kind].data)))):
            raise _missing(kind, root)
        yield root


def _missing(kind: str, root: str) -> FileNotFoundError:
    return FileNotFoundError(
        f"no {kind} index at {root!r} — write it first, or pass the "
        "path_root it was written with"
    )


def save_table(
    df, table: str, path: str | None = None, keys=(), mode: str = "overwrite"
) -> None:
    """Write ``df`` as catalog table ``table``. With ``keys`` the table is
    bucketed and sorted on them, and ``df`` is repartitioned on them
    first (~one file per bucket). ``path`` places the files of a table
    an overwrite creates; an append goes to the table's own location."""
    if keys:
        df = df.repartition(INDEX_BUCKETS, *keys)
    _writer(df, keys, mode, path).saveAsTable(table)


def _writer(df, keys, mode: str, path: str | None):
    w = df.write.mode(mode)
    if keys:
        w = w.bucketBy(INDEX_BUCKETS, *keys).sortBy(*keys)
    if mode == "overwrite" and path is not None:
        w = w.option("path", path)
    return w


def replace_table(spark, df, table: str, path: str, keys=()) -> None:
    """Stage-then-replace: materialize ``df`` (repartitioned on ``keys``)
    with lineage truncation, then drop ``table``, delete ``path`` and
    rewrite both from the staged blocks with the same bucket spec — so
    maintenance never changes the plan shape consumers rely on. ``df``
    must read the RAW parquet path (see the module docstring)."""
    staged = _materialize(
        df.repartition(INDEX_BUCKETS, *keys) if keys else df, truncate=True
    )
    _drop(spark, (table,), path)
    _writer(staged, keys, "overwrite", path).saveAsTable(table)


def read_log(spark, table: str):
    """A side-log table as a frame, or None when nothing is logged."""
    return spark.table(table) if spark.catalog.tableExists(table) else None


def unlogged(spark, ids, table: str):
    """The (doc) rows of ``ids`` not yet in the id log ``table``,
    materialized with lineage truncation: re-deleting a logged id is a
    no-op."""
    prior = read_log(spark, table)
    if prior is not None:
        ids = ids.join(prior, "doc", "left_anti")
    return _materialize(ids, truncate=True)


def append_log(spark, df, table: str, path: str) -> None:
    """Append ``df`` to side-log ``table``, creating it at ``path``."""
    mode = "append" if spark.catalog.tableExists(table) else "overwrite"
    save_table(df, table, path, mode=mode)


def _drop(spark, tables, path: str) -> None:
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(path, ignore_errors=True)


def clear_logs(spark, kind: str, path_root: str, name: str) -> None:
    """Drop every side log of one index (after compaction applied them)."""
    for sub, prefix in _KINDS[kind].logs.items():
        tables = [f"{prefix}_{name}"] if prefix else []
        _drop(spark, tables, f"{path_root}/{name}/{sub}")


def drop_index(spark, kind: str, path_root: str, name: str) -> None:
    """Drop one index's tables and delete its files (fresh rebuild)."""
    k = _KINDS[kind]
    tables = [f"{p}_{name}" for p in (*k.data.values(), *k.logs.values()) if p]
    _drop(spark, tables, f"{path_root}/{name}")


def takedown_documents(
    spark,
    removed_docs,
    indexes,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """One takedown request, every persisted index — the compliance
    primitive a long-lived corpus actually needs: a removal request
    names documents once, but the documents' derived state lives in
    FOUR index families (posting lists, LSH bands/grams, IVF cells,
    substring gram counts). This fans a single ``removed_docs`` frame
    across all of them, each as its family's tombstone delete
    (O(|batch|) writes everywhere; physical deletion amortizes into the
    per-index compactions), each under its own maintenance lock.

    ``removed_docs`` must carry ``id_col``; when a substring index is
    listed it must carry ``text_col`` too (that family stores no doc
    ids — removal is count subtraction over the removed text, see
    delete_from_substring_index). For IVF indexes the id column doubles
    as the vector id.

    ``indexes`` is a list of descriptors:
        {"kind": "posting",   "name": n, "path_root": ...}
        {"kind": "lsh",       "name": n, "path_root": ...}
        {"kind": "ivf",       "name": n, "path_root": ...}
        {"kind": "substring", "name": n, "path_root": ..., "min_len": k}
    path_root defaults to each family's default; unknown kinds raise
    BEFORE any delete runs (a compliance batch must be all-or-nothing
    in intent — partial fan-out by typo is the worst failure mode).

    The id frame is materialized once and shared by every delete, so
    the request's lineage (often a join against a takedown queue) runs
    one time, not once per index."""
    unknown = {d.get("kind") for d in indexes} - set(_KINDS)
    if unknown:
        raise ValueError(f"takedown_documents: unknown index kinds {unknown}")
    if any(d.get("kind") == "substring" for d in indexes):
        if text_col not in removed_docs.columns:
            raise ValueError(
                "takedown_documents: a substring index is listed but "
                f"removed_docs has no {text_col!r} column — that family "
                "removes by re-gramming the removed text"
            )
    docs = _materialize(removed_docs, truncate=True)
    ids = docs.select(id_col).distinct()

    for d in indexes:
        kind, name = d["kind"], d["name"]
        kw = {"path_root": d["path_root"]} if "path_root" in d else {}
        delete = _kind_fn(kind, "delete_from")
        if kind == "substring":
            if "min_len" in d:
                kw["min_len"] = d["min_len"]
            delete(spark, docs, text_col, id_col, name, **kw)
        elif kind == "posting":
            delete(spark, ids, name, id_col=id_col, **kw)
        else:
            delete(spark, ids, name, **kw)


def compact_indexes(spark, indexes, only_if_needed: bool = False):
    """Apply pending tombstones physically across every listed index
    (same descriptors as ``takedown_documents``) — the scheduled
    maintenance half of the LSM contract. Each compaction takes its own
    index lock; a failure in one index does not silently skip the rest
    (exceptions propagate after the loop, first error wins).

    ``only_if_needed=True`` consults ``needs_compaction`` per index
    (descriptors may carry ``n_buckets`` — an IVF index's cell count —
    ``max_files_per_bucket`` and ``max_log_fraction`` to tune the
    thresholds; defaults INDEX_BUCKETS / 4.0 / 0.05) and skips indexes
    under both the file-count and tombstone-pressure thresholds — the
    cheap idempotent form a maintenance cron calls hourly, paying
    rewrites only when the LSM decay warrants them."""
    first_err = None
    for d in indexes:
        kind, name = d["kind"], d["name"]
        kw = {"path_root": d["path_root"]} if "path_root" in d else {}
        if only_if_needed:
            root = d.get("path_root", _DEFAULT_ROOTS.get(kind, "/tmp"))
            if not needs_compaction(
                f"{root}/{name}",
                n_buckets=int(d.get("n_buckets", INDEX_BUCKETS)),
                max_files_per_bucket=float(d.get("max_files_per_bucket", 4.0)),
                max_log_fraction=float(d.get("max_log_fraction", 0.05)),
            ):
                continue
        try:
            _kind_fn(kind, "compact")(spark, name, **kw)
        except Exception as e:  # noqa: BLE001
            if first_err is None:
                first_err = e
    if first_err is not None:
        raise first_err


_LOG_DIRS = tuple(dict.fromkeys(sub for k in _KINDS.values() for sub in k.logs))


def index_file_stats(index_root: str) -> dict:
    """Physical-layout stats for one persisted index root: per-subdir
    parquet file count and bytes, split into DATA dirs (bands/grams/
    postings/cells/...) and delete-side LOG dirs. This is the input to
    the compaction decision — the two pressures that decay an LSM-ish
    index are file-count growth (every append adds ~one file per
    bucket: open/footer cost per scan) and tombstone growth (every
    serve pays the anti-join until the log is applied)."""
    import glob as _glob

    root = os.path.abspath(index_root)
    out: dict = {"data": {}, "logs": {}, "data_files": 0, "data_bytes": 0,
                 "log_bytes": 0}
    if not os.path.isdir(root):
        return out
    for sub in sorted(os.listdir(root)):
        if sub == _LOCK_DIRNAME:
            continue
        subp = os.path.join(root, sub)
        if not os.path.isdir(subp):
            continue
        files = _glob.glob(os.path.join(subp, "**", "*.parquet"), recursive=True)
        st = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
        if sub in _LOG_DIRS:
            out["logs"][sub] = st
            out["log_bytes"] += st["bytes"]
        else:
            out["data"][sub] = st
            out["data_files"] += st["files"]
            out["data_bytes"] += st["bytes"]
    return out


def needs_compaction(
    index_root: str,
    n_buckets: int = INDEX_BUCKETS,
    max_files_per_bucket: float = 4.0,
    max_log_fraction: float = 0.05,
) -> bool:
    """Compaction policy for one index root: True when any data subdir
    holds more than ``max_files_per_bucket`` files per bucket (append
    decay — each append adds ~one file per bucket, so this threshold is
    "~N appends since the last compaction"), or when the delete-log
    bytes exceed ``max_log_fraction`` of the data bytes (tombstone decay
    — the serve-side anti-join cost, and the staleness of physically
    retained deleted rows). Pure filesystem arithmetic; no Spark jobs."""
    st = index_file_stats(index_root)
    for sub in st["data"].values():
        if sub["files"] > max_files_per_bucket * n_buckets:
            return True
    if st["logs"] and st["data_bytes"] > 0:
        if st["log_bytes"] > max_log_fraction * st["data_bytes"]:
            return True
    return False
