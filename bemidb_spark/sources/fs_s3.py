"""S3 object-store backend for the fs path adapter.

The reference serves S3 table storage through storage_s3.go:83-105 (aws-sdk
list/get/put/delete behind its StorageInterface); this is the same role for
the driver-side maintenance helpers: catalog JSON, snapshot expiry, metadata
emission. Spark executors never call this module — ``s3a://`` locations pass
through to Hadoop's S3A filesystem verbatim (see fs.py docstring); only
driver-side bookkeeping needs a Python-side client.

The client is injectable (any object with the boto3 S3 client's
``put_object/get_object/head_object/list_objects_v2/delete_objects/
copy_object`` surface); the default is a lazily-created ``boto3.client("s3")``
so importing this module costs nothing when S3 is unused. Semantics notes,
matching object-store reality rather than POSIX:

- ``makedirs`` is a no-op (S3 has no directories);
- ``write_json_atomic`` is a single PUT — atomic by S3's own guarantee
  (a GET sees either the old or the new object, never a torn write);
- ``move_file`` is copy+delete (S3 has no rename) — callers that need an
  atomic pointer swap use the JSON-PUT path, same as the reference.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

_client = None


def _default_client():
    global _client
    if _client is None:
        import boto3

        _client = boto3.client("s3")
    return _client


def split_uri(path: str) -> tuple[str, str]:
    """``s3://bucket/some/key`` -> ("bucket", "some/key")."""
    rest = path.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


class S3Backend:
    """fs-adapter backend over an S3-compatible object store."""

    def __init__(self, client=None) -> None:
        self._injected = client

    @property
    def client(self):
        return self._injected or _default_client()

    # -- predicates
    def exists(self, path: str) -> bool:
        bucket, key = split_uri(path)
        try:
            self.client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception:  # noqa: BLE001 - includes botocore ClientError 404
            return bool(list(self._iter_keys(bucket, key.rstrip("/") + "/", 1)))

    # -- directory shims (no-ops on an object store)
    def makedirs(self, path: str) -> None:
        return None

    # -- listing
    def _iter_keys(
        self, bucket: str, prefix: str, limit: int | None = None
    ) -> Iterator[str]:
        token = None
        seen = 0
        while True:
            kwargs = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kwargs)
            for obj in resp.get("Contents", []):
                yield obj["Key"]
                seen += 1
                if limit is not None and seen >= limit:
                    return
            if not resp.get("IsTruncated"):
                return
            token = resp.get("NextContinuationToken")

    def walk_files(self, path: str) -> Iterator[str]:
        bucket, key = split_uri(path)
        prefix = key.rstrip("/") + "/"
        for k in self._iter_keys(bucket, prefix):
            yield k[len(prefix):]

    # -- mutation
    def remove_file(self, path: str) -> None:
        bucket, key = split_uri(path)
        self.client.delete_object(Bucket=bucket, Key=key)

    def remove_tree(self, path: str) -> None:
        bucket, key = split_uri(path)
        keys = list(self._iter_keys(bucket, key.rstrip("/") + "/"))
        # DeleteObjects caps at 1000 keys per call
        for i in range(0, len(keys), 1000):
            self.client.delete_objects(
                Bucket=bucket,
                Delete={"Objects": [{"Key": k} for k in keys[i : i + 1000]]},
            )

    def copy_file(self, src: str, dst: str) -> None:
        sb, sk = split_uri(src)
        db, dk = split_uri(dst)
        self.client.copy_object(
            Bucket=db, Key=dk, CopySource={"Bucket": sb, "Key": sk}
        )

    def move_file(self, src: str, dst: str) -> None:
        self.copy_file(src, dst)
        self.remove_file(src)

    # -- content
    def mtime_ns(self, path: str) -> int:
        bucket, key = split_uri(path)
        try:
            head = self.client.head_object(Bucket=bucket, Key=key)
        except Exception:  # noqa: BLE001
            return 0
        lm = head.get("LastModified")
        return int(lm.timestamp() * 1_000_000_000) if lm else 0

    def read_json(self, path: str) -> dict:
        bucket, key = split_uri(path)
        body = self.client.get_object(Bucket=bucket, Key=key)["Body"].read()
        return json.loads(body)

    def write_json_atomic(self, path: str, payload) -> None:
        bucket, key = split_uri(path)
        self.client.put_object(
            Bucket=bucket,
            Key=key,
            Body=json.dumps(payload, indent=1).encode("utf-8"),
            ContentType="application/json",
        )

    def write_bytes(self, path: str, data: bytes) -> None:
        bucket, key = split_uri(path)
        self.client.put_object(Bucket=bucket, Key=key, Body=data)

    def read_bytes(self, path: str) -> bytes:
        bucket, key = split_uri(path)
        return self.client.get_object(Bucket=bucket, Key=key)["Body"].read()
