"""Storage path adapter: one seam between the catalog/writer layer and the
filesystem, so table locations can be plain local paths, ``file://`` URIs, or
(on a real cluster) object-store URIs without any caller changing.

The reference splits the same concern into storage_local.go / storage_s3.go
behind one StorageInterface (storage.go); here the split is scheme-based:

- plain paths and ``file://`` URIs run on the local implementations below;
- ``s3://`` / ``s3a://`` URIs dispatch to the S3 backend (fs_s3.py, boto3 —
  the reference's storage_s3.go role);
- any other scheme (``gs://``, ``abfss://``) raises
  ``UnsupportedSchemeError`` from the *local-side* helpers only. Spark-side
  reads/writes (``spark.read.parquet(*files)`` etc.) pass paths through
  verbatim, so object-store locations flow to Hadoop's filesystem layer
  untouched — only driver-side maintenance (snapshot expiry, catalog JSON)
  needs a scheme-specific implementation, registered via
  ``register_backend``.

Every join uses ``/`` (URI and POSIX separator) — no ``os.sep`` assumptions.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import tempfile
import uuid
from collections.abc import Iterator

_LOCAL_SCHEMES = ("file://",)


class UnsupportedSchemeError(NotImplementedError):
    """A non-local URI reached a driver-side filesystem helper."""


def is_remote(path: str) -> bool:
    """True for URI schemes the local helpers cannot serve (s3a://, ...)."""
    if "://" not in path:
        return False
    return not path.startswith(_LOCAL_SCHEMES)


# scheme -> backend object (see fs_s3.S3Backend for the interface)
_BACKENDS: dict[str, object] = {}


def register_backend(scheme: str, backend) -> None:
    """Register (or override, e.g. with an injected test client) the backend
    serving ``<scheme>://`` URIs."""
    _BACKENDS[scheme] = backend


def _backend(path: str):
    """The remote backend serving this path, or None for local paths."""
    if "://" not in path:
        return None
    scheme = path.split("://", 1)[0]
    if scheme == "file":
        return None
    if scheme not in _BACKENDS and scheme in ("s3", "s3a"):
        from bemidb_spark.sources.fs_s3 import S3Backend

        backend = S3Backend()
        _BACKENDS.setdefault("s3", backend)
        _BACKENDS.setdefault("s3a", backend)
    return _BACKENDS.get(scheme)


def _local(path: str) -> str:
    """Strip a file:// scheme down to the OS path; reject remote schemes."""
    if path.startswith("file://"):
        return path[len("file://"):] or "/"
    if is_remote(path):
        raise UnsupportedSchemeError(
            f"driver-side fs helper got remote location {path!r}; "
            "wire an object-store implementation here (reference "
            "storage_s3.go role)"
        )
    return path


def join(base: str, *parts: str) -> str:
    """Join with '/' regardless of platform, preserving any URI scheme."""
    if "://" in base:
        scheme, rest = base.split("://", 1)
        return f"{scheme}://" + posixpath.join(rest or "/", *parts)
    return posixpath.join(base, *parts)


def basename(path: str) -> str:
    return posixpath.basename(path.rstrip("/"))


def fresh_name(prefix: str) -> str:
    return f"{prefix}-{uuid.uuid4().hex[:12]}"


def exists(path: str) -> bool:
    b = _backend(path)
    if b:
        return b.exists(path)
    return os.path.exists(_local(path))


def makedirs(path: str) -> None:
    b = _backend(path)
    if b:
        return b.makedirs(path)
    os.makedirs(_local(path), exist_ok=True)


def remove_tree(path: str) -> None:
    b = _backend(path)
    if b:
        return b.remove_tree(path)
    shutil.rmtree(_local(path), ignore_errors=True)


def remove_file(path: str) -> None:
    b = _backend(path)
    if b:
        return b.remove_file(path)
    os.remove(_local(path))


def mtime_ns(path: str) -> int:
    b = _backend(path)
    if b:
        return b.mtime_ns(path)
    try:
        return os.stat(_local(path)).st_mtime_ns
    except OSError:
        return 0


def walk_files(path: str) -> Iterator[str]:
    """Yield '/'-separated paths of all files under ``path``, relative to it."""
    b = _backend(path)
    if b:
        yield from b.walk_files(path)
        return
    root = _local(path)
    for r, _, fs in os.walk(root):
        for f in fs:
            rel = os.path.relpath(os.path.join(r, f), root)
            yield rel.replace(os.sep, "/")


def read_json(path: str) -> dict:
    b = _backend(path)
    if b:
        return b.read_json(path)
    with open(_local(path)) as fh:
        return json.load(fh)


def write_json_atomic(path: str, payload: dict) -> None:
    """Temp file + rename in the target directory — the atomic pointer swap.
    (On S3 a single PUT carries the same readers-see-old-or-new guarantee.)"""
    b = _backend(path)
    if b:
        return b.write_json_atomic(path, payload)
    target = _local(path)
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(target), prefix="_fswrite", suffix=".json"
    )
    with os.fdopen(fd, "w") as fh:
        json.dump(payload, fh, indent=1)
    os.replace(tmp, target)


def copy_file(src: str, dst: str) -> None:
    b = _backend(src)
    if b:
        return b.copy_file(src, dst)
    shutil.copyfile(_local(src), _local(dst))


def move_file(src: str, dst: str) -> None:
    """Atomic same-FS rename with cross-device fallback; overwrites dst.
    (S3: copy+delete — no rename primitive exists on an object store.)"""
    b = _backend(src)
    if b:
        return b.move_file(src, dst)
    s, d = _local(src), _local(dst)
    try:
        os.replace(s, d)
    except OSError:
        shutil.move(s, d)
