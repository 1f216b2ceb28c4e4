"""Iceberg v2 Avro manifests: manifest files + manifest lists.

The reference hand-writes these with goavro (storage_utils.go:162-370,
WriteManifestFile / WriteManifestListFile); here they're emitted through the
from-spec Avro writer in :mod:`avro_io`. Schemas are the Iceberg spec's
``manifest_entry`` / ``manifest_file`` records (Iceberg Table Spec,
"Manifests" / "Manifest Lists"), trimmed to the fields the reference itself
populates: identity ``field-id`` attributes included, per-column stats keyed
by the parquet footers' ``PARQUET:field_id`` (stamped by
``writer._with_field_ids``), bounds omitted (the reference serializes them
from DuckDB's stats; our readers prune via parquet row-group stats instead).

Per-file stats come from parquet FOOTERS only (pyarrow metadata read: a few
KB per file, no data pages touched) — the same place the reference gets them
(storage_utils.go ParquetFile.Stats). At 100 TB the footer scan is one
listing + one ranged read per file and runs at metadata speed, and each
commit only needs footers for the files it added.
"""

from __future__ import annotations

import os

from bemidb_spark.sources.avro_io import write_ocf


def _kv_array(name: str, key_id: int, value_id: int) -> dict:
    """The spec's map-as-array-of-(key,value)-records encoding for stats
    keyed by column field id (Avro map keys must be strings; these are ints).
    """
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "long", "field-id": value_id},
            ],
        },
    }


# data_file struct (spec field ids 100+); partition is the empty record for
# unpartitioned tables, exactly like the reference (storage_utils.go:213)
_DATA_FILE = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {
            "name": "column_sizes",
            "type": ["null", _kv_array("k117_v118", 117, 118)],
            "field-id": 108,
        },
        {
            "name": "value_counts",
            "type": ["null", _kv_array("k119_v120", 119, 120)],
            "field-id": 109,
        },
        {
            "name": "null_value_counts",
            "type": ["null", _kv_array("k121_v122", 121, 122)],
            "field-id": 110,
        },
        {"name": "sort_order_id", "type": ["null", "int"], "field-id": 140},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
        },
        {"name": "data_file", "type": _DATA_FILE, "field-id": 2},
    ],
}

_FIELD_SUMMARY = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "r508",
        "fields": [
            {"name": "contains_null", "type": "boolean", "field-id": 509},
            {
                "name": "contains_nan",
                "type": ["null", "boolean"],
                "field-id": 518,
            },
            {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
            {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
        ],
    },
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": ["null", _FIELD_SUMMARY],
            "field-id": 507,
        },
    ],
}

# manifest_entry.status (spec): 0 existing, 1 added, 2 deleted
STATUS_ADDED = 1


def data_file_stats(files: list[str]) -> list[dict]:
    """Footer-only stats for every listed parquet file.

    Returns spec-shaped ``data_file`` records (path-sorted for deterministic
    manifests). Stats maps are keyed by the footer's PARQUET:field_id; files
    written before field-id stamping fall back to ordinal-from-1, which is
    the same id scheme, so the keys stay consistent either way.
    """
    import pyarrow.parquet as pq

    entries = []
    for full in sorted(files):
        local = full[len("file://"):] if full.startswith("file://") else full
        meta = pq.read_metadata(local)
        arrow_schema = pq.read_schema(local)
        field_ids = []
        for i in range(len(arrow_schema.names)):
            md = arrow_schema.field(i).metadata or {}
            raw = md.get(b"PARQUET:field_id")
            field_ids.append(int(raw) if raw else i + 1)
        sizes = dict.fromkeys(field_ids, 0)
        values = dict.fromkeys(field_ids, 0)
        nulls = dict.fromkeys(field_ids, 0)
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(min(group.num_columns, len(field_ids))):
                col = group.column(ci)
                fid = field_ids[ci]
                sizes[fid] += col.total_compressed_size
                values[fid] += col.num_values
                if col.statistics is not None and col.statistics.has_null_count:
                    nulls[fid] += col.statistics.null_count
        entries.append(
            {
                "content": 0,
                "file_path": full,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": meta.num_rows,
                "file_size_in_bytes": os.stat(local).st_size,
                "column_sizes": [
                    {"key": k, "value": v} for k, v in sorted(sizes.items())
                ],
                "value_counts": [
                    {"key": k, "value": v} for k, v in sorted(values.items())
                ],
                "null_value_counts": [
                    {"key": k, "value": v} for k, v in sorted(nulls.items())
                ],
                "sort_order_id": 0,
            }
        )
    return entries


def write_manifest(
    path: str, data_files: list[str], snapshot_id: int, sequence_number: int
) -> tuple[int, int, int]:
    """Write one manifest Avro for a snapshot's listed data files.

    Returns (manifest byte length, file count, total record count).
    """
    files = data_file_stats(data_files)
    entries = [
        {
            "status": STATUS_ADDED,
            "snapshot_id": snapshot_id,
            "sequence_number": sequence_number,
            "file_sequence_number": sequence_number,
            "data_file": f,
        }
        for f in files
    ]
    length = write_ocf(
        path,
        MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={
            "format-version": "2",
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "content": "data",
        },
    )
    total_rows = sum(f["record_count"] for f in files)
    return length, len(files), total_rows


def write_manifest_list(
    path: str,
    manifest_path: str,
    manifest_length: int,
    snapshot_id: int,
    sequence_number: int,
    file_count: int,
    row_count: int,
) -> None:
    """Write the snapshot's manifest list (one manifest per snapshot here:
    every commit is a full replace, the reference's own shape)."""
    record = {
        "manifest_path": manifest_path,
        "manifest_length": manifest_length,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": sequence_number,
        "min_sequence_number": sequence_number,
        "added_snapshot_id": snapshot_id,
        "added_files_count": file_count,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": row_count,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": [],
    }
    write_ocf(
        path,
        MANIFEST_FILE_SCHEMA,
        [record],
        metadata={"format-version": "2"},
    )
