"""Checkpointed, idempotently-resumable batch runs (north_rule requirement).

Production design targets Iceberg: each bucket commit is an Iceberg
append/overwrite snapshot and the manifest is redundant with the table's own
snapshot log. This sandbox has no Iceberg runtime jar, so the same protocol
runs over plain parquet with an Iceberg-style JSON manifest we own:

    out_dir/
      _sanitize_manifest.json     # atomic (write-tmp + rename) commit record
      _staging/bucket=<k>/...     # ONE-pass bucketed copy of the input
      bucket=<k>/part-*.parquet   # one dir per doc_id hash bucket
      _lineage/bucket=<k>/...     # per-partition lineage rows per bucket

Protocol:
- bucket(doc) = pmod(xxhash64(doc_id), n_buckets) — stable under retries.
- The input is staged ONCE with ``partitionBy(bucket)`` (a single full
  scan + hash-partitioned write); each per-bucket job then reads only its
  own ``bucket=<k>`` directory — partition-pruned IO, never a rescan of
  the whole input. A filter on a *computed* xxhash64 column cannot push
  down, so without staging an n-bucket run is n full scans of a 100 TB
  table. On a real lakehouse the staging pass is free: declare
  ``bucket(n, doc_id)`` in the Iceberg partition spec and the per-bucket
  reads prune on the table's own partition metadata.
- A bucket is processed with overwrite semantics (re-running a
  half-written bucket is safe) and only then recorded in the manifest;
  the manifest rename is the commit point.
- Resume = skip buckets already in the manifest (the left-anti-join of
  SURVEY.md §2.3 J3, done driver-side on bucket ids since the manifest is
  tiny). Staging carries its own commit marker (same atomic-rename
  pattern) so a crash mid-staging restages while a crash mid-bucket
  reuses the staged copy.
- The manifest records a config fingerprint; resuming with a different
  config or bucket count refuses rather than mixing outputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..configs import settings_for
from .job import (
    explode_spans,
    lineage_metrics,
    reassemble_spans,
    salt_partitions,
    sanitize_exploded,
)

__all__ = ["CheckpointedRun", "run_checkpointed"]

MANIFEST_NAME = "_sanitize_manifest.json"
STAGING_DIR = "_staging"
STAGING_MARKER = "_staging_commit.json"


def _stage_bucketed(df: DataFrame, out_dir: str, n_buckets: int,
                    fingerprint: str) -> str:
    """One-pass bucketed staging write (the Iceberg ``bucket(n, doc_id)``
    partition-spec analog): every later per-bucket read prunes to its own
    ``bucket=<k>`` directory instead of rescanning the input. Committed via
    the same atomic tmp+rename marker pattern as the run manifest; a marker
    with matching (n_buckets, fingerprint) means the staged copy is
    complete and reusable across resume attempts."""
    staging = os.path.join(out_dir, STAGING_DIR)
    marker = os.path.join(staging, STAGING_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m["n_buckets"] == n_buckets and m["config_fingerprint"] == fingerprint:
            return staging
    (
        df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    fd, tmp = tempfile.mkstemp(dir=staging, prefix="._staging")
    with os.fdopen(fd, "w") as fh:
        json.dump({"n_buckets": n_buckets, "config_fingerprint": fingerprint}, fh)
    os.replace(tmp, marker)
    return staging


def _config_fingerprint(settings_obj) -> str:
    basis = {
        "tags": sorted(settings_obj.tags),
        "empty": sorted(settings_obj.empty),
        "separate": sorted(settings_obj.separate),
        "whitespace": sorted(settings_obj.whitespace),
        "attributes": {k: sorted(v) for k, v in sorted(settings_obj.attributes.items())},
        "keep_typographic_whitespace": settings_obj.keep_typographic_whitespace,
        "add_nofollow": bool(settings_obj.add_nofollow),
        "autolink": repr(settings_obj.autolink),
        "hooks": [
            getattr(f, "__qualname__", repr(f))
            for f in (
                *settings_obj.element_preprocessors,
                *settings_obj.element_postprocessors,
                settings_obj.sanitize_href,
                settings_obj.is_mergeable,
            )
        ],
    }
    return hashlib.sha256(json.dumps(basis, sort_keys=True).encode()).hexdigest()[:16]


@dataclass
class CheckpointedRun:
    out_dir: str
    n_buckets: int
    config_fingerprint: str
    done: list[int] = field(default_factory=list)
    on_error: str = "raise"

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST_NAME)

    @classmethod
    def load_or_create(cls, out_dir: str, n_buckets: int, fingerprint: str,
                       on_error: str = "raise"):
        path = os.path.join(out_dir, MANIFEST_NAME)
        if os.path.exists(path):
            with open(path) as fh:
                m = json.load(fh)
            if m["config_fingerprint"] != fingerprint:
                raise ValueError(
                    "Refusing to resume: manifest config fingerprint "
                    f"{m['config_fingerprint']} != current {fingerprint}"
                )
            if m["n_buckets"] != n_buckets:
                raise ValueError(
                    f"Refusing to resume: manifest n_buckets {m['n_buckets']}"
                    f" != requested {n_buckets}"
                )
            if m.get("on_error", "raise") != on_error:
                raise ValueError(
                    f"Refusing to resume: manifest on_error "
                    f"{m.get('on_error', 'raise')!r} != requested {on_error!r}"
                    " (would mix poison-row policies across buckets)"
                )
            return cls(out_dir, n_buckets, fingerprint, list(m["done"]),
                       on_error)
        os.makedirs(out_dir, exist_ok=True)
        return cls(out_dir, n_buckets, fingerprint, on_error=on_error)

    def commit_bucket(self, bucket: int) -> None:
        """Atomic manifest update AFTER the bucket's data is fully written:
        write to a temp file in the same directory, then rename (the POSIX
        atomic commit; on object stores this is an Iceberg snapshot commit
        instead)."""
        if bucket not in self.done:
            self.done.append(bucket)
        payload = {
            "n_buckets": self.n_buckets,
            "config_fingerprint": self.config_fingerprint,
            "done": sorted(self.done),
            "on_error": self.on_error,
        }
        fd, tmp = tempfile.mkstemp(dir=self.out_dir, prefix="._manifest")
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, self.manifest_path)


def run_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    settings=None,
    n_buckets: int = 8,
    salt_buckets: int | str = "auto",
    fail_after_bucket: int | None = None,
    table_format: str = "dirs",
    on_error: str = "raise",
    memoize: int = 0,
) -> CheckpointedRun:
    """Sanitize ``df`` into ``out_dir`` bucket-by-bucket with resume.

    ``table_format``: "dirs" writes one overwritable parquet dir per bucket;
    "iceberg-lite" appends each bucket as a snapshot of an
    :class:`IcebergLiteTable` (production: a real Iceberg append), keeping
    the resume manifest as the source of truth for which buckets committed.
    ``salt_buckets="auto"`` sizes each bucket's salted shuffle with
    :func:`~.job.salt_partitions` on that bucket's staged read: one Python
    task per core, more only when the bucket is larger than one
    ``maxPartitionBytes`` split per core. Pass an int to pin it.
    ``fail_after_bucket`` is a test hook: raise after committing that many
    buckets to simulate a mid-run crash.
    ``on_error`` != "raise" routes poison spans to an explicit quarantine
    table (``out_dir/_quarantine/bucket=<k>``, the exploded rows with their
    span_error flag) in addition to the keep/null output policy — lineage
    carries per-partition n_errors either way. The policy is recorded in
    the manifest; resuming under a different policy refuses.
    """
    settings_obj = settings_for(settings)
    fp = _config_fingerprint(settings_obj)
    run = CheckpointedRun.load_or_create(out_dir, n_buckets, fp, on_error)
    table = None
    if table_format == "iceberg-lite":
        from .iceberg_lite import IcebergLiteTable

        table = IcebergLiteTable(os.path.join(out_dir, "table"))

    todo = [b for b in range(n_buckets) if b not in run.done]
    staging = _stage_bucketed(df, out_dir, n_buckets, fp) if todo else None
    for k, bucket in enumerate(todo):
        bucket_path = os.path.join(staging, f"bucket={bucket}")
        if os.path.exists(bucket_path):
            # partition-pruned read: only this bucket's files are scanned
            part = spark.read.schema(df.schema).parquet(bucket_path)
        else:
            # hash bucket received no rows — still emit an (empty) committed
            # output dir so read_checkpointed's bucket=* glob stays uniform
            part = spark.createDataFrame([], df.schema)
        salt = salt_partitions(part) if salt_buckets == "auto" else salt_buckets
        clean = sanitize_exploded(explode_spans(part), settings_obj, salt,
                                  on_error=on_error, memoize=memoize)
        clean = clean.persist()
        result = reassemble_spans(clean, two_phase=True)
        if on_error != "raise":
            clean.filter(F.col("span_error")).select(
                "doc_id", "pos", "span"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "_quarantine", f"bucket={bucket}")
            )
        if table is not None:
            # idempotence on crash-between-commit-points: if a prior attempt
            # already snapshotted this bucket (table commit landed, resume
            # manifest didn't), skip the append rather than duplicating rows
            already = any(
                s.get("summary", {}).get("bucket") == bucket
                and s.get("summary", {}).get("config") == fp
                for s in table.snapshots()
            )
            if not already:
                table.append(result, summary={"bucket": bucket, "config": fp})
        else:
            result.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"bucket={bucket}")
            )
        lineage_metrics(clean).withColumn("bucket", F.lit(bucket)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "_lineage", f"bucket={bucket}"))
        clean.unpersist()
        run.commit_bucket(bucket)
        if fail_after_bucket is not None and k + 1 >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {bucket}")
    if staging is not None and len(run.done) == n_buckets:
        # every bucket committed: the staged copy is dead weight, drop it
        # (an Iceberg bucket partition spec has no copy to drop)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return run


def read_checkpointed(
    spark: SparkSession, out_dir: str, table_format: str = "dirs"
) -> DataFrame:
    if table_format == "iceberg-lite":
        from .iceberg_lite import IcebergLiteTable

        return IcebergLiteTable(os.path.join(out_dir, "table")).read(spark)
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))
