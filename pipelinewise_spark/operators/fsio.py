"""Filesystem seam for table-metadata IO, built on ``pyarrow.fs``.

ManifestTable's data files are written/read by Spark through its own Hadoop
layer; everything else — version pointer, manifest JSON, file listing,
vacuum deletes — is small metadata IO that must work on local disk AND
object stores. ``pyarrow.fs.FileSystem.from_uri`` dispatches ``s3://``,
``hdfs://``, ``gs://`` (via GcsFileSystem) and plain paths to the right
implementation, so the manifest machinery has no ``os.walk``/``open``
dependence on a local filesystem.

Atomicity: the version pointer is the one write that must be all-or-nothing.
On a local filesystem that is tmp-file + POSIX rename; on object stores a
single PUT *is* an atomic replace, so the pointer is written directly
(the same contract Iceberg relies on for its version-hint file).
"""

from __future__ import annotations

import posixpath
import uuid
from typing import TYPE_CHECKING

from pyarrow import fs as pafs

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_WARNED_NONCAS = False

#: above this many paths in one read Spark lists them with a distributed
#: job, one task per path
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


class MetaFS:
    """Rooted filesystem view: all paths are POSIX-relative to ``root_uri``.

    ``uri(rel)`` returns the Spark-visible absolute form; internal pyarrow
    paths are kept separate because ``from_uri`` strips the scheme.
    """

    def __init__(self, root_uri: str):
        self.root_uri = root_uri.rstrip("/")
        if "://" in self.root_uri:
            self.fs, self.root = pafs.FileSystem.from_uri(self.root_uri)
        else:
            import os

            self.fs = pafs.LocalFileSystem()
            self.root = os.path.abspath(self.root_uri)

    # ------------------------------------------------------------- paths
    def _p(self, *rel: str) -> str:
        return posixpath.join(self.root, *rel) if rel else self.root

    def uri(self, *rel: str) -> str:
        """Spark-visible absolute path/URI for a root-relative path."""
        return posixpath.join(self.root_uri, *rel) if rel else self.root_uri

    def known_paths_conf(
        self, spark: SparkSession, n_paths: int
    ) -> dict[str, str]:
        """Conf (for ``session.scoped_conf``) under which Spark lists
        ``n_paths`` paths under this root, which the engine already
        knows, serially on the driver rather than with a distributed
        listing job. Local filesystem only: there a path costs one
        ``stat``, and serial listing beat the job at every count
        measured (33 files: 0.07 s vs 0.37 s; 4,096: 0.91 s vs 18.0 s on
        a 4-vCPU host), so no count is capped. Any other scheme keeps
        Spark's threshold: on an object store each path is a network
        round trip, which the parallel job can pay for."""
        if not isinstance(self.fs, pafs.LocalFileSystem):
            return {}
        if n_paths <= int(spark.conf.get(LISTING_THRESHOLD)):
            return {}
        return {LISTING_THRESHOLD: str(n_paths)}

    # ---------------------------------------------------------------- io
    def exists(self, *rel: str) -> bool:
        info = self.fs.get_file_info(self._p(*rel))
        return info.type != pafs.FileType.NotFound

    def read_text(self, *rel: str) -> str:
        with self.fs.open_input_stream(self._p(*rel)) as f:
            return f.read().decode("utf-8")

    def write_text_exclusive(self, data: str, *rel: str) -> None:
        """Create-exclusive write: raises ``FileExistsError`` if the target
        already exists. Local filesystem: ``O_CREAT|O_EXCL`` — atomic, so
        two racing writers allocating the same name can never overwrite
        each other. S3 with boto3 available: conditional PUT
        (``If-None-Match: *``) — the store-side CAS S3 has offered since
        2024, same atomicity as O_EXCL. Anything else degrades to an
        exists() probe + PUT, which is TOCTOU-racy — a ``RuntimeWarning``
        is emitted (once per process) so operators know the two-writer
        guarantees are weakened; callers keep a pointer re-check backstop.
        """
        path = self._p(*rel)
        if isinstance(self.fs, pafs.LocalFileSystem):
            import os

            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            with os.fdopen(fd, "wb") as f:
                f.write(data.encode("utf-8"))
            return
        if isinstance(self.fs, pafs.S3FileSystem) and self._s3_put_if_absent(
            path, data
        ):
            return
        global _WARNED_NONCAS
        if not _WARNED_NONCAS:
            import warnings

            warnings.warn(
                "MetaFS.write_text_exclusive on this filesystem has no "
                "store-side conditional PUT: exclusive creates degrade to "
                "a racy exists()+PUT. Concurrent-writer safety relies on "
                "the commit-lock ownership re-check only.",
                RuntimeWarning,
                stacklevel=2,
            )
            _WARNED_NONCAS = True
        if self.exists(*rel):
            raise FileExistsError(path)
        with self.fs.open_output_stream(path) as f:
            f.write(data.encode("utf-8"))

    def _s3_client_kwargs(self) -> dict | None:
        """boto3 client kwargs mirroring the S3 addressing baked into this
        MetaFS's own root URI — region, endpoint_override (MinIO/localstack),
        explicit credentials — so the conditional PUT targets the SAME
        store/account as every other pyarrow-side IO. A default
        ``boto3.client('s3')`` would silently aim the CAS object at real
        AWS when the rest of the metadata lives on an endpoint-overridden
        store, defeating the exclusivity guarantee. Returns None when the
        URI carries addressing options we cannot mirror (caller falls back
        to the warned probe+PUT path)."""
        from urllib.parse import parse_qsl, urlsplit

        q = dict(parse_qsl(urlsplit(self.root_uri).query))
        kwargs: dict = {}
        if q.get("region"):
            kwargs["region_name"] = q["region"]
        if q.get("endpoint_override"):
            ep = q["endpoint_override"]
            if "://" not in ep:
                ep = f"{q.get('scheme', 'https')}://{ep}"
            kwargs["endpoint_url"] = ep
        if q.get("access_key"):
            kwargs["aws_access_key_id"] = q["access_key"]
        if q.get("secret_key"):
            kwargs["aws_secret_access_key"] = q["secret_key"]
        if q.get("session_token"):
            kwargs["aws_session_token"] = q["session_token"]
        known = {
            "region", "endpoint_override", "scheme", "access_key",
            "secret_key", "session_token", "allow_bucket_creation",
            "allow_bucket_deletion",
        }
        if set(q) - known:
            # an addressing/auth option this mirror does not understand:
            # safer to degrade to probe+PUT than to CAS the wrong store
            return None
        return kwargs

    def _s3_put_if_absent(self, path: str, data: str) -> bool:
        """Atomic create-exclusive on S3 via boto3 conditional PUT
        (``If-None-Match: *``), addressed with the SAME region/endpoint/
        credentials as this MetaFS's pyarrow S3FileSystem (mirrored from
        the root URI's query options). Returns False when boto3 is
        unavailable, the URI carries unmirrorable options, or botocore
        predates conditional-PUT support (caller falls back to the racy
        probe+PUT and warns); raises FileExistsError when the object
        already exists (HTTP 412 PreconditionFailed)."""
        try:  # env-gated: boto3 is not a hard dependency
            import boto3
            import botocore.exceptions
        except ImportError:
            return False
        kwargs = self._s3_client_kwargs()
        if kwargs is None:
            return False
        bucket, _, key = path.partition("/")
        try:
            boto3.client("s3", **kwargs).put_object(
                Bucket=bucket,
                Key=key,
                Body=data.encode("utf-8"),
                IfNoneMatch="*",
            )
        except botocore.exceptions.ClientError as e:
            code = e.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "412"):
                raise FileExistsError(path) from None
            raise
        except botocore.exceptions.ParamValidationError:
            # botocore too old to know IfNoneMatch: no store-side CAS
            return False
        return True

    def write_text(self, data: str, *rel: str, atomic: bool = False) -> None:
        path = self._p(*rel)
        if atomic and isinstance(self.fs, pafs.LocalFileSystem):
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            with self.fs.open_output_stream(tmp) as f:
                f.write(data.encode("utf-8"))
            self.fs.move(tmp, path)  # POSIX rename: atomic on one fs
        else:
            # object stores: a PUT replaces the object atomically
            with self.fs.open_output_stream(path) as f:
                f.write(data.encode("utf-8"))

    def mkdirs(self, *rel: str) -> None:
        self.fs.create_dir(self._p(*rel), recursive=True)

    def delete(self, *rel: str) -> None:
        self.fs.delete_file(self._p(*rel))

    def delete_dir(self, *rel: str) -> None:
        """Recursively remove a subdirectory (no-op if absent)."""
        if self.exists(*rel):
            self.fs.delete_dir(self._p(*rel))

    def copy_file(self, rel: str, dest: "MetaFS", dest_rel: str) -> None:
        """Byte-copy one file into another rooted filesystem (streamed, so
        it works local→local, local→s3, s3→s3 — the clone/backup
        primitive). Parent dirs are created as needed."""
        parent = posixpath.dirname(dest_rel)
        if parent and isinstance(dest.fs, pafs.LocalFileSystem):
            dest.mkdirs(parent)
        with self.fs.open_input_stream(self._p(rel)) as src:
            with dest.fs.open_output_stream(dest._p(dest_rel)) as out:
                while True:
                    chunk = src.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)

    def file_size(self, *rel: str) -> int:
        """Size in bytes of one file (portable stat)."""
        return self.fs.get_file_info(self._p(*rel)).size

    # ------------------------------------------------------------ listing
    def listdir(self) -> list[str]:
        """Basenames of entries directly under the root ('' if missing)."""
        if not self.exists():
            return []
        sel = pafs.FileSelector(self.root, recursive=False,
                                allow_not_found=True)
        return [posixpath.basename(i.path) for i in self.fs.get_file_info(sel)]

    def walk_files(self, *rel: str) -> list[str]:
        """Root-relative POSIX paths of every file under a subdirectory."""
        base = self._p(*rel)
        sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
        return [
            posixpath.relpath(i.path, self.root)
            for i in self.fs.get_file_info(sel)
            if i.type == pafs.FileType.File
        ]
