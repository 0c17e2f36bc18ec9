"""Shared mtime-keyed derived-artifact store (.benchdata companions).

Every materialized companion in the engine — format exports (CSV/
JSONL/ORC), shredded JSON tables, hourly rollups, z-ordered and
day-partitioned copies, bucketed join tables, and the vector indexes
(LSH-bucketed, int8 codes, IVF, IVFADC; kind ``ann_index``) — follows
one contract:

* location: ``$SPARK_GRAFT_DERIVED_DIR/<kind>`` if the env var is set,
  else ``<repo>/.benchdata/<kind>`` (gitignored), subdirectory named
  by :func:`key` of the source path + build parameters;
* freshness: the artifact is fresh iff its ``_SUCCESS`` marker is at
  least as new as the source file — a rewritten fixture invalidates
  every companion derived from it;
* builds are ingest cost: queries measure the SERVING path, the build
  runs once per (fixture, parameters) like ANALYZE statistics.

Driver-side values derived from a fixture (probe vectors, centroids,
codebooks) follow the same freshness rule in memory: :func:`memo`
keeps one slot per (name, source) and recomputes once the source's
mtime changes.

This module is the single home of that contract (an r7 review found
five hand-rolled copies drifting — rollup.py treated the env var as a
parent directory while the others treated it as the root; the vector
indexes later grew a private root and env var of their own).
``build_atomic`` additionally makes MULTI-JOB builds crash-safe: Spark
writes ``_SUCCESS`` after the FIRST job, so a companion built by two
writes (e.g. the schema-evolution export's two file generations) must
build in a temp directory and rename into place, or a crash between
the jobs leaves a half-artifact that passes the freshness check
forever.

The LSM generation store (``lsm_*`` below) is the streaming indexes'
form of the same manifest: immutable base generations under
``base/gen-N``, the live append epoch under ``delta/epoch-E``, and
``{base_gen, delta_epoch}`` flipped together by one manifest replace
when a fold writes the next base.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")


def derived_root(kind: str) -> str:
    env = os.environ.get("SPARK_GRAFT_DERIVED_DIR")
    if env:
        return os.path.join(env, kind)
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    return os.path.join(repo, ".benchdata", kind)


def key(*parts) -> str:
    """Artifact name for build parameters ``parts``: the first 16 hex
    digits of md5 over their ``|``-joined ``str`` forms."""
    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:16]


def derived_path(kind: str, name: str) -> str:
    return os.path.join(derived_root(kind), name)


def source_mtime(src: str) -> float:
    """Freshness stamp of a source: its mtime, or for a directory
    source the newest file inside (a new part file invalidates)."""
    if os.path.isdir(src):
        return max(
            (os.path.getmtime(os.path.join(r, f))
             for r, _, fs in os.walk(src) for f in fs),
            default=os.path.getmtime(src),
        )
    return os.path.getmtime(src)


def is_fresh(path: str, src: str, marker: str = "_SUCCESS") -> bool:
    """Artifact at ``path`` is usable iff its marker is no older than
    ``src`` (directory sources: the newest file inside)."""
    m = os.path.join(path, marker)
    if not os.path.exists(m):
        return False
    return os.path.getmtime(m) >= source_mtime(src)


_memo: dict[tuple[str, str], tuple[float, object]] = {}


def memo(name: str, src: str, compute: Callable[[], T]) -> T:
    """``compute()``, cached while ``src``'s :func:`source_mtime` is
    unchanged.  One slot per (name, absolute source path): a rewritten
    source replaces the slot, so stale values never accumulate.  The
    key holds data only, never a session (``id(spark)`` can be reused
    after a session is collected)."""
    key = (name, os.path.abspath(src))
    stamp = source_mtime(key[1])
    hit = _memo.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = compute()
    _memo[key] = (stamp, value)
    return value


def build_atomic(path: str, build: Callable[[str], None]) -> None:
    """Run ``build(tmp_dir)`` then atomically rename into ``path``.

    Required whenever the build is more than ONE Spark write job: the
    first job's ``_SUCCESS`` would otherwise mark a half-built
    artifact fresh if the process dies before the last job commits.

    This is the LOCAL-FILESYSTEM fast path (directory rename is atomic
    on POSIX).  Companions that must switch over safely on an
    S3-class object store — where directory rename is copy+delete and
    non-atomic — use the manifest-pointer machinery below instead
    (``publish_generation`` / ``current_generation``).
    """
    tmp = path + ".build"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    build(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def _gen_name(seq: int) -> str:
    return f"gen-{seq:06d}"


# ---------------------------------------------------------------------
# Manifest-pointer switchover (r10 verdict directive 4): the
# object-store-safe form of "atomically replace a companion".
#
# Generations are IMMUTABLE directories under the companion root
# (gen-000001, gen-000002, …); one small MANIFEST.json names the
# current one.  Publishing writes the new generation IN FULL, then
# atomically replaces the manifest (write-temp + fsync + os.replace —
# a single-FILE atomic operation on every POSIX filesystem, and the
# single-key-PUT shape an object-store deployment maps it to).
# Readers resolve every access through the manifest, so a crash at ANY
# point mid-publish leaves them on the old complete generation; a
# half-written gen directory is garbage, never served.  Superseded
# generations are garbage-collected only AFTER the flip.

MANIFEST = "MANIFEST.json"


def read_manifest(root: str) -> dict | None:
    """Current manifest of a generation-managed companion, or None if
    the root has none (missing or legacy single-directory layout)."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None


def write_manifest(root: str, state: dict) -> None:
    """Atomically replace the companion's manifest with ``state``.

    os.replace of a same-directory file is atomic on POSIX; the fsync
    before it makes the content durable before the pointer flips, and
    the directory fsync after it makes the FLIP durable (a crash
    cannot resurrect the old pointer after a reader saw the new one).
    """
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, MANIFEST))
    dfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def publish_generation(root: str, build: Callable[[str], None]) -> str:
    """Build the NEXT immutable generation of a companion and flip the
    manifest to it; returns the new generation's directory.

    A crash before the ``write_manifest`` call leaves readers on the
    previous generation (the half-built gen-N directory is unreachable
    garbage, rebuilt/overwritten on the next publish); a crash after
    it only skips garbage collection.
    """
    cur = read_manifest(root)
    seq = (int(cur["seq"]) + 1) if cur else 1
    name = _gen_name(seq)
    gen = os.path.join(root, name)
    if os.path.exists(gen):  # leftovers of a crashed previous publish
        shutil.rmtree(gen)
    os.makedirs(root, exist_ok=True)
    build(gen)
    write_manifest(root, {"seq": seq, "generation": name})
    # lazy GC AFTER the flip: readers resolved through the manifest can
    # no longer reach the superseded generation
    for d in os.listdir(root):
        if d.startswith("gen-") and d != name:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return gen


def current_generation(root: str) -> str:
    """Directory readers should serve from: the manifest's current
    generation, or the root itself for legacy single-dir companions."""
    m = read_manifest(root)
    if m is None:
        return root
    return os.path.join(root, m["generation"])


# ---------------------------------------------------------------------
# LSM generation store: the manifest above applied to an index that
# keeps taking appends.  The manifest holds {base_gen, delta_epoch};
# appends land in the live delta epoch, and a fold writes base ∪ delta
# as the NEXT base generation IN FULL before one manifest replace flips
# both pointers.  A crash anywhere mid-fold leaves readers on the old
# base plus the whole delta pile (a complete, consistent index); a
# half-written next generation is not named by the manifest and so is
# unreachable.  Superseded directories are deleted only after the flip.


def _lsm_base(root: str, k: int) -> str:
    return os.path.join(root, "base", _gen_name(k))


def _lsm_epoch(root: str, e: int) -> str:
    return os.path.join(root, "delta", f"epoch-{e:06d}")


def lsm_init(root: str) -> None:
    """Start an empty store: no base generation, delta epoch 1."""
    write_manifest(root, {"base_gen": 0, "delta_epoch": 1})


def lsm_delta_root(root: str) -> str:
    """Directory the next append goes to: the live delta epoch."""
    return _lsm_epoch(root, read_manifest(root)["delta_epoch"])


def lsm_live_roots(root: str) -> list[str]:
    """Roots a reader serves from, resolved THROUGH the manifest: the
    current base generation (once a fold has run) plus the live delta
    epoch (once it has received appends), in that order."""
    st = read_manifest(root)
    roots = [_lsm_base(root, st["base_gen"])] if st["base_gen"] else []
    ep = _lsm_epoch(root, st["delta_epoch"])
    if os.path.exists(ep):
        roots.append(ep)
    return roots


def lsm_fold(root: str,
             write_next: Callable[[list[str], str], None]) -> None:
    """Fold the live roots into the next base generation:
    ``write_next(live_roots, next_gen_dir)`` writes it in full, then one
    manifest replace flips ``{base_gen, delta_epoch}``, and only then
    are the superseded base generation and delta epoch deleted."""
    st = read_manifest(root)
    k, e = st["base_gen"], st["delta_epoch"]
    write_next(lsm_live_roots(root), _lsm_base(root, k + 1))
    write_manifest(root, {"base_gen": k + 1, "delta_epoch": e + 1})
    if k:
        shutil.rmtree(_lsm_base(root, k), ignore_errors=True)
    shutil.rmtree(_lsm_epoch(root, e), ignore_errors=True)


def read_roots(spark, roots: list[str], schema: str | None = None):
    """Union of per-root parquet reads.  Spark's partition discovery
    rejects several partitioned roots in one read
    (CONFLICTING_DIRECTORY_STRUCTURES), so each root is read alone.
    An explicit ``schema`` also fixes partition-column types, which
    inference would otherwise guess per root."""
    from functools import reduce

    from pyspark.sql import DataFrame

    reader = spark.read if schema is None else spark.read.schema(schema)
    return reduce(DataFrame.unionByName,
                  [reader.parquet(r) for r in roots])
