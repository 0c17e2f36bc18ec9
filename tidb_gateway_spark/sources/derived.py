"""Shared derived-artifact store (.benchdata companions).

Every materialized companion in the engine — format exports (CSV/
JSONL/ORC), shredded JSON tables, hourly rollups, z-ordered and
day-partitioned copies, bucketed join tables, the vector indexes
(LSH-bucketed, int8 codes, IVF, IVFADC; kind ``ann_index``) and the
streaming indexes — goes through one call, :func:`companion`:

* location: ``$SPARK_GRAFT_DERIVED_DIR/<kind>`` if the env var is set,
  else ``<repo>/.benchdata/<kind>`` (gitignored), subdirectory named
  by :func:`key` of the build parameters;
* freshness: the companion is fresh iff its ``_SUCCESS`` marker is no
  older than the source (a directory source: its newest file) AND the
  marker holds the current :func:`fingerprint` of the builder — a
  rewritten fixture or a rewritten builder (its body, or any package
  function or module constant it reaches) rebuilds it, while a comment
  or docstring edit does not;
* builds are ingest cost: queries measure the SERVING path, the build
  runs once per (fixture, parameters, builder code) like ANALYZE
  statistics, under one lock per companion path;
* atomicity: by default the build writes a temp directory that is
  renamed into place (:func:`build_atomic`), and the marker is written
  last, so a crash anywhere leaves no companion that passes the
  freshness check.

Driver-side values derived from a fixture (probe vectors, centroids,
codebooks) follow the same mtime rule in memory: :func:`memo` keeps
one slot per (name, source) and recomputes once the source's mtime
changes.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import json
import os
import pathlib
import shutil
import threading
from collections.abc import Callable
from types import CodeType
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


MARKER = "_SUCCESS"


def is_fresh(path: str, src: str) -> bool:
    """The mtime half of the freshness rule: the marker of ``path`` is
    no older than ``src`` (directory sources: the newest file inside)."""
    m = os.path.join(path, MARKER)
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
    """Run ``build(tmp_dir)`` then rename it into ``path`` — atomic on
    a local POSIX filesystem.  On an object store, where directory
    rename is copy+delete, use :func:`publish_generation` instead."""
    tmp = path + ".build"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    build(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


_locks: dict[str, threading.Lock] = {}
_locks_guard = threading.Lock()


def companion(kind: str, src: str, parts: tuple,
              build: Callable[[str], None],
              place: Callable[[str, Callable[[str], None]], object]
              = build_atomic) -> str:
    """Path of the ``kind`` companion of ``src`` keyed by ``parts``,
    first running ``place(path, build)`` unless it is fresh (see the
    module docstring), then writing the marker last.  ``place`` is a
    temp dir renamed into place by default, :func:`publish_generation`
    for a manifest-pointer root (read it through
    :func:`current_generation`), or a build in place."""
    path = os.path.join(derived_root(kind), key(*parts))
    marker = pathlib.Path(path, MARKER)
    fp = fingerprint(build)
    with _locks_guard:
        lock = _locks.setdefault(path, threading.Lock())
    with lock:
        if not is_fresh(path, src) or marker.read_text() != fp:
            place(path, build)
            marker.write_text(fp)
    return path


# ---------------------------------------------------------------------
# Builder fingerprint: the AST (docstrings stripped, so comments and
# docs never count) of the top-level function enclosing ``build`` and
# of every package function, class or module constant it reaches,
# resolved statically through module-level and function-local imports.

_PACKAGE = __name__.split(".")[0]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
# keyed by id(): code objects compare equal by value, so a reloaded
# module whose builder reads a changed constant would hit the old slot
_fingerprints: dict[int, tuple[CodeType, str]] = {}
_modules: dict[tuple[str, int], tuple[dict, dict]] = {}


def fingerprint(fn: Callable) -> str:
    """md5 over the reached definitions of ``fn``, memoized per code
    object."""
    code = fn.__code__
    hit = _fingerprints.get(id(code))
    if hit is None or hit[0] is not code:
        seen: dict[tuple[str, str], str] = {}
        todo = [(fn.__module__, fn.__qualname__.split(".")[0])]
        while todo:
            mod, name = ref = todo.pop()
            if ref in seen:
                continue
            node = _module(mod)[0][name]
            seen[ref] = ast.dump(node)
            todo += _reached(mod, node)
        fp = hashlib.md5("\n".join(
            f"{m}.{n}={d}" for (m, n), d in sorted(seen.items())
        ).encode()).hexdigest()
        hit = _fingerprints[id(code)] = (code, fp)
    return hit[1]


def _module(mod: str) -> tuple[dict, dict]:
    """(top-level definitions by name, import aliases) of module
    ``mod``, parsed once per source file version."""
    origin = importlib.util.find_spec(mod).origin
    slot = (origin, os.stat(origin).st_mtime_ns)
    if slot not in _modules:
        with open(origin) as f:
            tree = ast.parse(f.read())
        for n in ast.walk(tree):
            body = getattr(n, "body", None)
            if (isinstance(n, (ast.Module, *_DEFS)) and body
                    and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                n.body = body[1:] or [ast.Pass()]
        defs: dict[str, ast.AST] = {}
        for n in tree.body:
            if isinstance(n, _DEFS):
                defs[n.name] = n
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                for t in getattr(n, "targets", None) or [n.target]:
                    for e in ast.walk(t):
                        if isinstance(e, ast.Name):
                            defs[e.id] = n
        _modules[slot] = (defs, _imports(
            n for n in tree.body if not isinstance(n, _DEFS)))
    return _modules[slot]


def _imports(stmts) -> dict[str, tuple[str, str | None]]:
    """alias -> (module, attribute or None) for the import statements
    in ``stmts``, nested blocks included."""
    out: dict[str, tuple[str, str | None]] = {}
    for s in stmts:
        for n in ast.walk(s):
            if isinstance(n, ast.Import):
                for a in n.names:
                    out[a.asname or a.name.split(".")[0]] = (
                        a.name if a.asname else a.name.split(".")[0], None)
            elif isinstance(n, ast.ImportFrom) and n.module:
                for a in n.names:
                    out[a.asname or a.name] = (n.module, a.name)
    return out


def _member(mod: str, attr: str | None):
    """``mod.attr`` as a definition ``(module, name)``, ``mod`` itself
    (attr None) or a submodule as ``(module, None)``, or None outside
    the package."""
    if mod.split(".")[0] != _PACKAGE:
        return None
    if attr is None:
        return (mod, None)
    defs, imports = _module(mod)
    if attr in defs:
        return (mod, attr)
    if attr in imports:
        return _member(*imports[attr])
    sub = f"{mod}.{attr}"
    return (sub, None) if importlib.util.find_spec(sub) else None


def _reached(mod: str, node: ast.AST) -> list[tuple[str, str]]:
    """Package definitions that names in ``node`` refer to."""
    defs, imports = _module(mod)
    scope = {**imports, **_imports([node])}

    def ref(e: ast.AST):
        if isinstance(e, ast.Name):
            if e.id in scope:
                return _member(*scope[e.id])
            return (mod, e.id) if e.id in defs else None
        if isinstance(e, ast.Attribute):
            base = ref(e.value)
            if base is not None and base[1] is None:
                return _member(base[0], e.attr)
        return None

    out = []
    for e in ast.walk(node):
        r = ref(e)
        if r is not None and r[1] is not None:
            out.append(r)
    return out


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
