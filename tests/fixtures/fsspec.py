"""Fake ``fsspec`` for tests: an s3:// namespace backed by a local
directory, selected via ``endpoint_url='fake://<local-root>'`` in the
client kwargs (the same channel real credentials travel through, so the
product code path is identical to a real s3fs deployment — including the
driver->executor threading of the storage options).

Implements only the surface ``sources/fs.py`` consumes: ``filesystem()``,
``open``/``exists``/``isdir``/``ls`` taking full ``s3://`` URLs.
"""

from __future__ import annotations

import os

_SCHEMES = ("s3://", "s3a://", "s3n://")


class _FakeS3FS:
    def __init__(self, key=None, secret=None, client_kwargs=None, **kw):
        ep = (client_kwargs or {}).get("endpoint_url", "")
        if not str(ep).startswith("fake://"):
            raise ValueError(
                "fake fsspec needs client_kwargs.endpoint_url='fake://<root>' "
                f"(got {ep!r})"
            )
        self.root = str(ep)[len("fake://"):]

    def _local(self, path: str) -> str:
        p = str(path)
        for sch in _SCHEMES:
            if p.lower().startswith(sch):
                p = p[len(sch):]
                break
        return os.path.join(self.root, p)

    def open(self, path, mode="rb"):
        local = self._local(path)
        if "r" in mode and "+" not in mode:
            # audit trail for tests: which objects each process GETs —
            # index-probe boundedness asserts un-probed fragments are
            # never opened
            with open(os.path.join(self.root, "_get_keys.log"), "a") as fh:
                fh.write(f"{os.getpid()} {path}\n")
        if "x" in mode:
            # the exclusive-create mode s3fs backs with an S3
            # conditional PUT (If-None-Match: *) — here a real O_EXCL,
            # which has the same exactly-one-winner semantics
            os.makedirs(os.path.dirname(local), exist_ok=True)
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            return os.fdopen(fd, "wb")
        if "w" in mode or "a" in mode:
            os.makedirs(os.path.dirname(local), exist_ok=True)
        return open(local, mode)

    def makedirs(self, path, exist_ok=False):
        os.makedirs(self._local(path), exist_ok=exist_ok)

    def put(self, lpath, rpath):
        import shutil

        dest = self._local(rpath)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(lpath, dest)
        # audit trail for tests: which OS process PUT each object (the
        # executor-direct write contract asserts these are worker pids,
        # not the driver's)
        with open(os.path.join(self.root, "_put_pids.log"), "a") as fh:
            fh.write(f"{os.getpid()} {rpath}\n")

    def exists(self, path) -> bool:
        return os.path.exists(self._local(path))

    def info(self, path) -> dict:
        local = self._local(path)
        if not os.path.exists(local):
            raise FileNotFoundError(str(path))
        # "mtime" mirrors what fsspec local/memory filesystems report;
        # real s3fs reports "LastModified" (a datetime) — product code
        # (fs.ObjectStore.age) accepts either
        return {"name": str(path), "size": os.path.getsize(local),
                "type": "directory" if os.path.isdir(local) else "file",
                "mtime": os.path.getmtime(local)}

    def rm(self, path, recursive: bool = False) -> None:
        local = self._local(path)
        if os.path.isdir(local):
            if not recursive:
                raise IsADirectoryError(str(path))
            # s3fs rm(recursive=True) deletes every key under the prefix
            import shutil

            shutil.rmtree(local)
            return
        os.remove(local)

    def isdir(self, path) -> bool:
        return os.path.isdir(self._local(path))

    def ls(self, path, detail=False):
        base = self._local(path)
        if not os.path.isdir(base):
            raise FileNotFoundError(str(path))
        return [str(path).rstrip("/") + "/" + n for n in sorted(os.listdir(base))]


def filesystem(protocol, **kw):
    if protocol != "s3":
        raise ValueError(f"fake fsspec only provides 's3', got {protocol!r}")
    return _FakeS3FS(**kw)
