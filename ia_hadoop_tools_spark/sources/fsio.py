"""Filesystem abstraction for the ZipNum codec family.

The reference reads cluster blocks through Hadoop's FileSystem API
(cdx/HDFSBlockLoader.java:19-42 — positioned ``read(offset, buf)`` over any
``hdfs://``/``file://`` URI). This module is the PySpark-side equivalent:
every path the codec touches resolves through :func:`resolve` to a
``pyarrow.fs.FileSystem`` + in-filesystem path, so the SAME code serves
``/local/dir``, ``file://``, ``hdfs://namenode/…``, ``s3://bucket/…`` and
``gs://…`` (pyarrow bundles those filesystems; an explicit ``filesystem=``
argument accepts any other implementation, e.g. a ``SubTreeFileSystem`` in
tests or a ``PyFileSystem``-wrapped fsspec FS).

Executor-side use: pass the URI string into the task closure and resolve
INSIDE the worker (``FileSystem.from_uri`` is cheap and avoids assuming the
driver's FS object pickles); explicitly-passed filesystem objects are
pickled into the closure — pyarrow filesystems support that.

Atomic-commit note: ``rename`` is an atomic metadata move on local/HDFS —
the reference's TMP+rename protocol (jobs/CDXGenerator.java:123-136) relies
on exactly that. Object stores implement "rename" as copy+delete; the
TMP+rename protocol then degrades to at-least-once visibility, which is the
same contract Hadoop's S3A committers accept.
"""

from __future__ import annotations

import io
import posixpath
import re
from urllib.parse import urlparse

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def has_scheme(path: str) -> bool:
    return bool(_SCHEME_RE.match(path))


def resolve(path: str, filesystem=None):
    """Return ``(fs, fs_path)`` for a path or URI.

    With an explicit ``filesystem`` the path is used verbatim (minus any
    scheme pyarrow's from_uri would strip is the caller's concern). Without
    one, ``pyarrow.fs.FileSystem.from_uri`` picks local/HDFS/S3/GCS from the
    scheme; bare paths go to the local filesystem.
    """
    from pyarrow import fs as pafs

    if filesystem is not None:
        return filesystem, strip_scheme(path)
    if has_scheme(path):
        return pafs.FileSystem.from_uri(path)
    import os

    return pafs.LocalFileSystem(), os.path.abspath(path)


def strip_scheme(path: str) -> str:
    if not has_scheme(path):
        return path
    u = urlparse(path)
    # keep the netloc for object stores (bucket) — pyarrow fs paths are
    # "<bucket>/<key>"; local file:// URIs have an empty netloc
    return (u.netloc + u.path) if u.netloc else u.path


def join(dir_path: str, *names: str) -> str:
    """URI-aware path join (URIs always use '/')."""
    if has_scheme(dir_path):
        return posixpath.join(dir_path, *names)
    import os

    return os.path.join(dir_path, *names)


def read_range(path: str, offset: int, length: int, filesystem=None) -> bytes:
    """Positioned read — the HDFSBlockLoader.readBlock equivalent."""
    fs, p = resolve(path, filesystem)
    with fs.open_input_file(p) as fh:
        fh.seek(offset)
        return fh.read(length)


def read_range_chunks(
    path: str, offset: int, length: int, chunk_size: int, filesystem=None
):
    """:func:`read_range` as a stream of reads of at most ``chunk_size``
    bytes: one open and one seek, memory of one chunk however long the
    range. Raises ``EOFError`` where the file ends inside the range."""
    fs, p = resolve(path, filesystem)
    with fs.open_input_file(p) as fh:
        fh.seek(offset)
        while length > 0:
            data = fh.read(min(chunk_size, length))
            if not data:
                raise EOFError(f"{path}: range ends {length} bytes past EOF")
            length -= len(data)
            yield data


def open_write(path: str, filesystem=None):
    """Binary output stream (buffered)."""
    fs, p = resolve(path, filesystem)
    return fs.open_output_stream(p)


def open_write_text(path: str, filesystem=None):
    fs, p = resolve(path, filesystem)
    return io.TextIOWrapper(fs.open_output_stream(p), encoding="utf-8")


def open_read_text(path: str, filesystem=None):
    fs, p = resolve(path, filesystem)
    return io.TextIOWrapper(
        io.BufferedReader(fs.open_input_stream(p)), encoding="utf-8"
    )


def rename(src: str, dst: str, filesystem=None) -> None:
    """Atomic on local/HDFS; copy+delete on object stores (see module doc).

    src and dst must resolve to the SAME filesystem: ``fs.move`` executes
    on one fs, so rename('/tmp/x', 's3://b/y') would otherwise move the
    local file to a bogus local 'b/y' path — silently misplaced, never
    reaching S3. Cross-filesystem transfer is a copy job, not a rename.
    """
    fs, s = resolve(src, filesystem)
    dfs, d = resolve(dst, filesystem)
    if filesystem is None and type(fs) is not type(dfs):
        raise ValueError(
            f"rename: src {src!r} and dst {dst!r} resolve to different "
            f"filesystems ({type(fs).__name__} vs {type(dfs).__name__}) — "
            "a move cannot cross filesystems; copy explicitly instead"
        )
    fs.move(s, d)


def remove(path: str, filesystem=None) -> None:
    fs, p = resolve(path, filesystem)
    fs.delete_file(p)


def remove_dir(path: str, filesystem=None) -> None:
    """Delete a directory tree (retention pruning of versioned publishes)."""
    fs, p = resolve(path, filesystem)
    fs.delete_dir(p)


def exists(path: str, filesystem=None) -> bool:
    from pyarrow import fs as pafs

    fs, p = resolve(path, filesystem)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def makedirs(path: str, filesystem=None) -> None:
    fs, p = resolve(path, filesystem)
    fs.create_dir(p, recursive=True)


def listdir(path: str, filesystem=None) -> list[str]:
    """Basenames of the directory's immediate children (files only)."""
    from pyarrow import fs as pafs

    fs, p = resolve(path, filesystem)
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    return sorted(
        i.base_name for i in infos if i.type == pafs.FileType.File
    )


def spark_can_read(path: str) -> bool:
    """Whether Spark's own readers handle this URI scheme (Hadoop FS)."""
    if not has_scheme(path):
        return True
    scheme = path.split("://", 1)[0].lower()
    return scheme in {
        "file", "hdfs", "viewfs", "s3a", "s3n", "gs", "wasb", "wasbs",
        "abfs", "abfss", "o3fs", "oss",
    }
