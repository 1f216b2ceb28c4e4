"""S3 object-store backend: fs dispatch + catalog CRUD over an s3:// root.

Driven by an in-memory fake with the boto3 S3 client surface (the reference
tests its storage_s3.go against stubbed AWS clients the same way; no network
leaves this sandbox). Spark-side parquet IO over s3a:// goes through
Hadoop's S3A layer, not this module — so the coverage here is exactly the
driver-side surface: catalog JSON, listing, expiry, move.
"""

from __future__ import annotations

import datetime

import pytest

from bemidb_spark.sources import fs
from bemidb_spark.sources.catalog import Catalog
from bemidb_spark.sources.fs_s3 import S3Backend, split_uri


class FakeS3Client:
    """Minimal boto3-S3-client lookalike over an in-memory dict."""

    def __init__(self) -> None:
        self.objects: dict[tuple[str, str], bytes] = {}
        self.clock = 0

    def _now(self):
        self.clock += 1
        return datetime.datetime(2026, 1, 1) + datetime.timedelta(
            seconds=self.clock
        )

    def put_object(self, Bucket, Key, Body, **kw):
        body = Body if isinstance(Body, bytes) else Body.encode()
        self.objects[(Bucket, Key)] = body
        self.last_modified = {(Bucket, Key): self._now()}

    def get_object(self, Bucket, Key):
        if (Bucket, Key) not in self.objects:
            raise KeyError(Key)

        class _Body:
            def __init__(self, data):
                self._data = data

            def read(self):
                return self._data

        return {"Body": _Body(self.objects[(Bucket, Key)])}

    def head_object(self, Bucket, Key):
        if (Bucket, Key) not in self.objects:
            raise KeyError(Key)
        return {
            "ContentLength": len(self.objects[(Bucket, Key)]),
            "LastModified": self._now(),
        }

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
        keys = sorted(
            k for (b, k) in self.objects if b == Bucket and k.startswith(Prefix)
        )
        # exercise pagination: 2 keys per page
        start = int(ContinuationToken or 0)
        page = keys[start : start + 2]
        truncated = start + 2 < len(keys)
        resp = {"Contents": [{"Key": k} for k in page], "IsTruncated": truncated}
        if truncated:
            resp["NextContinuationToken"] = str(start + 2)
        return resp

    def delete_object(self, Bucket, Key):
        self.objects.pop((Bucket, Key), None)

    def delete_objects(self, Bucket, Delete):
        for obj in Delete["Objects"]:
            self.objects.pop((Bucket, obj["Key"]), None)

    def copy_object(self, Bucket, Key, CopySource):
        src = (CopySource["Bucket"], CopySource["Key"])
        self.objects[(Bucket, Key)] = self.objects[src]


@pytest.fixture()
def s3(monkeypatch):
    client = FakeS3Client()
    backend = S3Backend(client=client)
    monkeypatch.setitem(fs._BACKENDS, "s3", backend)
    monkeypatch.setitem(fs._BACKENDS, "s3a", backend)
    return client


def test_split_uri():
    assert split_uri("s3://bkt/a/b/c.json") == ("bkt", "a/b/c.json")
    assert split_uri("s3a://bkt/x") == ("bkt", "x")


def test_fs_dispatch_roundtrip(s3):
    path = "s3://bkt/wh/_catalog.json"
    assert not fs.exists(path)
    fs.write_json_atomic(path, {"v": 1})
    assert fs.exists(path)
    assert fs.read_json(path) == {"v": 1}
    assert fs.mtime_ns(path) > 0
    fs.remove_file(path)
    assert not fs.exists(path)


def test_walk_and_remove_tree_paginate(s3):
    for i in range(5):  # 5 keys -> 3 pages through the fake's 2-per-page
        fs.write_json_atomic(f"s3://bkt/data/t/part-{i}.json", {"i": i})
    rels = sorted(fs.walk_files("s3://bkt/data/t"))
    assert rels == [f"part-{i}.json" for i in range(5)]
    fs.remove_tree("s3://bkt/data/t")
    assert list(fs.walk_files("s3://bkt/data/t")) == []


def test_move_file_is_copy_delete(s3):
    fs.write_json_atomic("s3://bkt/a.json", {"x": 1})
    fs.move_file("s3://bkt/a.json", "s3://bkt/b/c.json")
    assert not fs.exists("s3://bkt/a.json")
    assert fs.read_json("s3://bkt/b/c.json") == {"x": 1}


def test_catalog_crud_over_s3_root(s3):
    """The whole catalog layer — commits, snapshots, views, drops — runs
    unchanged over an object-store root (reference storage_s3.go parity)."""
    cat = Catalog("s3://bkt/wh")
    assert cat.tables() == {}

    cols = [{"name": "id", "type": "bigint", "nullable": False}]
    loc1 = cat.new_location("s", "t")
    assert loc1.startswith("s3://bkt/wh/data/s/")
    f1 = fs.join(loc1, "part-0.parquet")
    fs._BACKENDS["s3"].write_bytes(f1, b"x")
    cat.commit_table("s", "t", [f1], columns=cols)
    assert cat.files("s", "t") == [f1]
    assert cat.location("s", "t").startswith("s3://bkt/wh/data/s/t")
    assert cat.columns("s", "t") == cols

    loc2 = cat.new_location("s", "t")
    f2 = fs.join(loc2, "part-0.parquet")
    fs._BACKENDS["s3"].write_bytes(f2, b"y")
    cat.commit_table("s", "t", [f2], removed=[f1])
    assert cat.files("s", "t") == [f2]
    assert [sn["files"] for sn in cat.snapshots("s", "t")] == [[f1]]
    assert fs.exists(f1)  # retained snapshot

    # catalog version advances across commits (plan-cache invalidation key)
    assert cat.version() > 0

    cat.put_view("s", "v", "SELECT 1")
    assert "s.v" in cat.views()

    assert cat.expire_snapshots("s", "t", keep=0) == 1
    assert not fs.exists(f1) and fs.exists(f2)
    cat.drop_table("s", "t")
    assert cat.tables() == {}
    assert not fs.exists(f2)


def test_unregistered_scheme_still_raises():
    with pytest.raises(fs.UnsupportedSchemeError):
        fs.read_json("gs://bkt/x.json")
