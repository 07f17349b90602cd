"""The storage seam: one small store interface over a local directory
or an object store, so the metadata plane is written once.

The reference reaches local and S3 tables through one object-store
layer (ref table/LanceCatalogFactory.java:148-176 maps the ``s3-*``
options onto Lance's store, applied at table/LanceCatalog.java:743-773,
and the same table code runs on both). Here ``store_for(path,
storage_options)`` resolves the location once and returns either

- the **local store**, built on ``os`` — it never imports fsspec, takes
  bare POSIX paths or ``file://``, and commits manifests with
  ``O_CREAT|O_EXCL``; or
- the **object store**, over an ``fsspec`` filesystem for ``s3://`` /
  ``s3a://`` / ``s3n://`` with the caller's mapped ``aws_*`` options —
  its ``create_exclusive`` is an S3 conditional PUT (``If-None-Match:
  *``), the same single-winner guarantee as ``O_EXCL``.

Any other scheme (``hdfs://``, ``gs://``, …) is refused with a
``ValueError`` naming it, instead of falling through to ``os`` calls.

A store offers ``ls`` (entry names), ``exists``, ``isdir``, ``open``,
``size``, ``age``, ``rm``, ``makedirs``, ``create_exclusive`` and
``writing``. Manifest listing/reads/commits (sources/fragments.py, the
binary chain in sources/lance_format.py), ``vacuum_dataset`` and
``describe_dataset`` (sources/maintenance.py) and the catalog/streaming
listings all run over it.

``writing`` is all-or-nothing on both stores: a dot-prefixed sibling
temp file ``os.replace``d onto the key locally, a worker-local scratch
file PUT to the key on an object store. The write half of the data plane
runs over it: every fragment producer (sources/writer.py, the
``format("lance")`` writer) is a task that writes ``data/<uuid>.<ext>``
through ``store.writing(key)``, and the driver commits one
``create_exclusive`` manifest. Bloom sidecars are read through ``open``.

The index plane (index.py, pq.py, hnsw.py) keeps one layout under
``_indexes/<column>/<kind>/`` on both stores: its metas, centroid and
codebook tables and per-cell HNSW files are written through ``writing``
and read through ``open``, by the driver or by the search tasks. The
read half of the data plane runs over it too: every Python-side fragment
read (the datasource's scan, the streaming source, the Lance decoder
scan) is ``reader.read_file``, which opens the fragment through
``store.open`` inside the task, with the same credentials. Without
fsspec installed, every remote call degrades to the same clear
``RemoteUnavailableError``.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_REMOTE_SCHEMES = ("s3://", "s3a://", "s3n://")
_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")


def is_remote(path: str) -> bool:
    return str(path).lower().startswith(_REMOTE_SCHEMES)


class RemoteUnavailableError(RuntimeError):
    def __init__(self, what: str = "this operation"):
        super().__init__(
            f"{what} on an S3 warehouse requires 'fsspec' + 's3fs' (pip "
            "install s3fs) for the emulated backend, or the native lance "
            "backend; neither is available"
        )


def _fsspec_kwargs(storage_options: dict | None) -> dict:
    """Map the reference-convention ``aws_*`` storage options
    (options.S3Options.to_storage_options) onto s3fs constructor kwargs.
    Unknown keys pass through untouched (test filesystems use them)."""
    o = dict(storage_options or {})
    kw: dict = {}
    client: dict = {}
    if "aws_access_key_id" in o:
        kw["key"] = o.pop("aws_access_key_id")
    if "aws_secret_access_key" in o:
        kw["secret"] = o.pop("aws_secret_access_key")
    if "aws_region" in o:
        client["region_name"] = o.pop("aws_region")
    if "aws_endpoint" in o:
        client["endpoint_url"] = o.pop("aws_endpoint")
    o.pop("virtual_hosted_style_request", None)  # s3fs default addressing
    if o.pop("allow_http", "false") == "true" and "endpoint_url" in client:
        client["use_ssl"] = False
    if client:
        kw["client_kwargs"] = client
    kw.update(o)
    return kw


def get_fs(path: str, storage_options: dict | None = None):
    """An fsspec filesystem for a remote path, or a clear error. All fs
    calls take FULL urls (s3fs strips the protocol itself)."""
    if not is_remote(path):
        raise ValueError(f"get_fs is for remote paths, got {path!r}")
    try:
        import fsspec
    except ImportError as e:
        raise RemoteUnavailableError(f"reading {path}") from e
    try:
        # fsspec.filesystem("s3") itself imports s3fs — wrap that too, or
        # an fsspec-without-s3fs install leaks a raw ImportError past the
        # promised clear refusal
        return fsspec.filesystem("s3", **_fsspec_kwargs(storage_options))
    except ImportError as e:
        raise RemoteUnavailableError(f"reading {path}") from e


def create_exclusive(fs, url: str, payload: bytes) -> None:
    """Atomic create-if-absent of one remote object — the primitive the
    single-winner commit protocol needs (the remote twin of the local
    ``O_CREAT|O_EXCL`` manifest write).

    Delegates to the filesystem's exclusive-write mode (``open(path,
    'xb')``): s3fs implements it with an S3 conditional PUT
    (``If-None-Match: *`` — S3's 2024 conditional-write API), so exactly
    one of N concurrent writers can create a given manifest key and the
    losers get ``FileExistsError`` (raised at close, when the PUT's
    precondition is evaluated). ``FileExistsError`` propagates to the
    caller's retry loop; a backend without exclusive-create support gets
    a clear refusal instead of a lost-update window."""
    try:
        f = fs.open(url, "xb")
    except FileExistsError:
        raise
    except (NotImplementedError, ValueError) as e:
        raise NotImplementedError(
            f"the filesystem backing {url} has no exclusive-create "
            "('xb' / If-None-Match) support — conditional commits are "
            "unavailable; upgrade s3fs or write through the native "
            "lance backend"
        ) from e
    with f:
        f.write(payload)


def local_path(path: str) -> str:
    """A bare POSIX path for a local location: ``file://`` is stripped;
    any other scheme (s3 included — it is not a local path) raises a
    ``ValueError`` naming it."""
    p = str(path)
    m = _SCHEME.match(p)
    if m is None:
        return p
    if m.group(1).lower() == "file":
        return p[len(m.group(0)):]
    raise ValueError(
        f"unsupported scheme {m.group(1)!r} in path {p!r}: this engine "
        "stores tables on a local path, file:// or s3:// (s3a://, s3n://)")


def absolute(path: str) -> str:
    """``path`` as a task must see it: an s3 url without its trailing
    slash, or an absolute local path (``file://`` stripped) — a Python
    worker need not share the driver's working directory."""
    if is_remote(path):
        return str(path).rstrip("/")
    return os.path.abspath(local_path(path))


class LocalStore:
    """A local directory tree, over ``os`` only."""

    is_local = True

    def ls(self, path: str) -> list[str]:
        try:
            return os.listdir(local_path(path))
        except (FileNotFoundError, NotADirectoryError):
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(local_path(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(local_path(path))

    def open(self, path: str, mode: str = "rb"):
        return open(local_path(path), mode)

    def size(self, path: str) -> "int | None":
        try:
            return os.path.getsize(local_path(path))
        except OSError:
            return None

    def age(self, path: str) -> "float | None":
        try:
            return time.time() - os.path.getmtime(local_path(path))
        except OSError:
            return None

    def rm(self, path: str, recursive: bool = False) -> None:
        p = local_path(path)
        if recursive and os.path.isdir(p):
            import shutil

            shutil.rmtree(p)
        else:
            os.remove(p)

    def makedirs(self, path: str) -> None:
        os.makedirs(local_path(path), exist_ok=True)

    def create_exclusive(self, path: str, payload: bytes) -> None:
        fd = os.open(local_path(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "wb") as fh:
            fh.write(payload)

    @contextmanager
    def writing(self, path: str):
        """Yield a dot-prefixed sibling temp file to write ``path``
        through, ``os.replace``d onto the key once the caller's block
        finishes without error: all-or-nothing like an object store's
        single PUT. A failed write removes the temp file and leaves the
        key as it was."""
        import uuid

        p = local_path(path)
        d, name = os.path.split(p)
        os.makedirs(d or ".", exist_ok=True)
        tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
        try:
            yield tmp
            os.replace(tmp, p)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise


class ObjectStore:
    """An fsspec filesystem (s3fs in production). Every call takes the
    full ``s3://`` url."""

    is_local = False

    def __init__(self, fs):
        self.fs = fs

    def ls(self, path: str) -> list[str]:
        # s3fs.ls returns bucket-relative or protocol-full paths depending
        # on version: keep only the base names
        try:
            entries = self.fs.ls(path, detail=False)
        except FileNotFoundError:
            return []
        return [str(e).rstrip("/").rsplit("/", 1)[-1] for e in entries]

    def exists(self, path: str) -> bool:
        return bool(self.fs.exists(path))

    def isdir(self, path: str) -> bool:
        return bool(self.fs.isdir(path))

    def open(self, path: str, mode: str = "rb"):
        return self.fs.open(path, mode)

    def _info(self, path: str) -> dict:
        try:
            return self.fs.info(path)
        except (OSError, KeyError, AttributeError):
            return {}

    def size(self, path: str) -> "int | None":
        s = self._info(path).get("size")
        return int(s) if s is not None else None

    def age(self, path: str) -> "float | None":
        """Seconds since the object was written, or None when the backend
        reports no timestamp: s3fs reports ``LastModified`` (a datetime),
        fsspec local/memory backends ``mtime`` (epoch float)."""
        import datetime

        info = self._info(path)
        ts = info.get("LastModified") or info.get("mtime") or info.get("created")
        if ts is None:
            return None
        if isinstance(ts, datetime.datetime):
            return (datetime.datetime.now(ts.tzinfo) - ts).total_seconds()
        try:
            return time.time() - float(ts)
        except (TypeError, ValueError):
            return None

    def rm(self, path: str, recursive: bool = False) -> None:
        self.fs.rm(path, recursive=recursive)

    def makedirs(self, path: str) -> None:
        mk = getattr(self.fs, "makedirs", None)
        if mk is not None:  # object stores have no dirs; local-backed fakes do
            mk(path, exist_ok=True)

    def create_exclusive(self, path: str, payload: bytes) -> None:
        create_exclusive(self.fs, path, payload)

    @contextmanager
    def writing(self, path: str):
        """Yield a worker-local scratch file; PUT it to ``path`` once the
        caller's block finishes without error."""
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=os.path.splitext(path)[1]) as tmp:
            yield tmp.name
            self.fs.put(tmp.name, path)


_LOCAL = LocalStore()


def store_for(path: str, storage_options: dict | None = None):
    """The store holding ``path``: an ``ObjectStore`` for s3 urls (with
    ``storage_options`` mapped onto the filesystem), else the local
    store — after refusing any scheme other than ``file://``."""
    if is_remote(path):
        return ObjectStore(get_fs(path, storage_options))
    local_path(path)
    return _LOCAL
