"""Tier 3: checkpoint/resume correctness — kill after k buckets, re-run,
output must be byte-equal to an uninterrupted run; config drift refused."""

from __future__ import annotations

import json
import os

import pytest

from html_sanitizer_spark.pipeline.checkpoint import (
    MANIFEST_NAME,
    read_checkpointed,
    run_checkpointed,
)
from html_sanitizer_spark.pipeline.synth import synth_spans_df


def _collect_sorted(df):
    return sorted(
        ((r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()),
    )


def test_resume_after_crash(spark, tmp_path):
    df = synth_spans_df(spark, 120, seed=5, mega_every=0).cache()

    full_dir = str(tmp_path / "full")
    run_checkpointed(spark, df, full_dir, n_buckets=4)
    want = _collect_sorted(read_checkpointed(spark, full_dir))

    crash_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, crash_dir, n_buckets=4, fail_after_bucket=2)
    manifest = json.load(open(os.path.join(crash_dir, MANIFEST_NAME)))
    assert len(manifest["done"]) == 2

    # resume: only remaining buckets run; output identical to one-shot
    run = run_checkpointed(spark, df, crash_dir, n_buckets=4)
    assert sorted(run.done) == [0, 1, 2, 3]
    got = _collect_sorted(read_checkpointed(spark, crash_dir))
    assert got == want
    df.unpersist()


def test_rerun_is_idempotent(spark, tmp_path):
    df = synth_spans_df(spark, 40, seed=9, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    before = _collect_sorted(read_checkpointed(spark, out))
    run2 = run_checkpointed(spark, df, out, n_buckets=2)  # no-op: all done
    assert sorted(run2.done) == [0, 1]
    assert _collect_sorted(read_checkpointed(spark, out)) == before


def test_config_drift_refused(spark, tmp_path):
    df = synth_spans_df(spark, 10, seed=2, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    with pytest.raises(ValueError, match="config fingerprint"):
        run_checkpointed(spark, df, out, settings="typographic", n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(spark, df, out, n_buckets=4)


def test_staging_partition_pruned_io(spark, tmp_path):
    """The 100TB property: the input is staged ONCE (bucketed write), and
    each per-bucket job reads only its own bucket=<k> files — never a
    rescan of the whole input (a filter on computed xxhash64 can't prune)."""
    df = synth_spans_df(spark, 80, seed=7, mega_every=0)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, out, n_buckets=4, fail_after_bucket=1)

    staging = os.path.join(out, "_staging")
    assert os.path.exists(os.path.join(staging, "_staging_commit.json"))
    # staged copy holds the full input exactly once
    assert spark.read.parquet(staging).count() == 80
    # a per-bucket read touches only that bucket's files (partition-pruned)
    part = spark.read.parquet(os.path.join(staging, "bucket=2"))
    files = part.inputFiles()
    assert files and all("bucket=2" in f for f in files), files

    # resume reuses the staged copy, completes, and drops the staging dir
    run = run_checkpointed(spark, df, out, n_buckets=4)
    assert sorted(run.done) == [0, 1, 2, 3]
    assert not os.path.exists(staging)
    assert read_checkpointed(spark, out).count() == 80


def test_lineage_written(spark, tmp_path):
    df = synth_spans_df(spark, 30, seed=4, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "bucket=*"))
    rows = lineage.collect()
    assert sum(r["n_spans"] for r in rows) >= 30
    assert {c for c in lineage.columns} >= {
        "part_id", "n_spans", "n_docs_approx", "text_bytes_out", "bucket"
    }


def test_quarantine_written_on_keep(spark, tmp_path, monkeypatch):
    """on_error='keep' routes poison spans to an explicit quarantine table
    per bucket and records the policy in the manifest (resume under a
    different policy refuses)."""
    from html_sanitizer_spark.functions import udfs
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    orig = udfs.sanitize

    def bomb(t, s):
        if "BOOM" in t:
            raise RuntimeError("poison document")
        return orig(t, s)

    monkeypatch.setattr(udfs, "sanitize", bomb)
    docs = [
        {"doc_id": f"d{i}", "spans": [
            {"kind": "text",
             "text": "<p>BOOM</p>" if i == 3 else f"<p>ok {i}</p>",
             "media_ref": "", "offset": 0},
        ]}
        for i in range(8)
    ]
    df = spark.createDataFrame(docs, schema=DOC_SCHEMA)
    out = str(tmp_path / "out")
    run = run_checkpointed(spark, df, out, n_buckets=2, on_error="keep")
    assert sorted(run.done) == [0, 1]

    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    qrows = q.collect()
    assert len(qrows) == 1 and "BOOM" in qrows[0]["span"]["text"]
    # keep policy: the raw span is still in the main output, flagged only
    # via quarantine/lineage
    main = read_checkpointed(spark, out)
    texts = {r["doc_id"]: r["spans"][0]["text"] for r in main.collect()}
    assert texts["d3"] == "<p>BOOM</p>"
    assert texts["d0"] == "<p>ok 0</p>"
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "bucket=*"))
    assert sum(r["n_errors"] for r in lineage.collect()) == 1
    # policy drift refused on resume
    with pytest.raises(ValueError, match="on_error"):
        run_checkpointed(spark, df, out, n_buckets=2, on_error="null")


def test_null_spans_stay_null_on_every_path(spark, tmp_path):
    """A doc whose spans is null comes back null, and an empty one empty,
    from every sanitize plan and from run_checkpointed — so with
    explode="auto" a doc's output no longer depends on the other docs."""
    from html_sanitizer_spark.pipeline.job import sanitize_spans
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    span = {"kind": "text", "text": "<b>x</b>", "media_ref": "", "offset": 0}
    df = spark.createDataFrame(
        [{"doc_id": "null", "spans": None}, {"doc_id": "empty", "spans": []},
         {"doc_id": "one", "spans": [span]},
         {"doc_id": "mega", "spans": [span] * 600}],
        schema=DOC_SCHEMA,
    )
    outs = [sanitize_spans(spark, df, explode=e, salt_buckets=2)
            for e in (True, False, "auto")]
    run_checkpointed(spark, df, str(tmp_path / "out"), n_buckets=2)
    outs.append(read_checkpointed(spark, str(tmp_path / "out")))
    for out in outs:
        rows = {r["doc_id"]: r["spans"] for r in out.collect()}
        assert rows["null"] is None
        assert rows["empty"] == []
        assert len(rows["mega"]) == 600
        assert rows["one"][0]["text"] == "<strong>x</strong>"


def _lineage_table(out):
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(
        f for b in sorted((out / "_lineage").glob("bucket=*"))
        for f in b.glob("*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files])


def test_lineage_schema_and_exact_docs(spark, tmp_path):
    """The driver-written lineage rows keep the schema Spark wrote before
    (so a run resumed across the change reads _lineage/bucket=* as one
    table); n_docs_approx is exact; partitions without rows write no row."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    df = synth_spans_df(spark, 40, seed=3, mega_every=0)
    out = tmp_path / "out"
    run_checkpointed(spark, df, str(out), n_buckets=2, salt_buckets=16)
    lineage = _lineage_table(out)
    want = [("part_id", "int32", False), ("n_spans", "int64", False),
            ("n_docs_approx", "int64", False), ("text_bytes_out", "int64", True),
            ("n_media_spans", "int64", True), ("n_errors", "int64", True),
            ("bucket", "int32", False)]
    for b in sorted((out / "_lineage").glob("bucket=*")):
        schema = pq.read_schema(next(b.glob("*.parquet")))
        assert [(f.name, str(f.type), f.nullable) for f in schema] == want
    rows = lineage.to_pylist()
    # 40 one-chunk docs over 2 x 16 partitions: some partitions are empty
    # and write no row; every row counts its docs exactly
    assert 0 < len(rows) < 32
    assert all(r["n_spans"] > 0 and r["n_docs_approx"] > 0 for r in rows)
    assert sum(r["n_docs_approx"] for r in rows) == 40
    assert sum(r["n_errors"] for r in rows) == 0

    # a bucket written by Spark with the same schema (as a run of the
    # previous code left it) reads together with the driver-written ones
    old_schema = T.StructType(
        [T.StructField(n, T.IntegerType() if t == "int32" else T.LongType(), nl)
         for n, t, nl in want])
    spark.createDataFrame([(0, 1, 1, 5, 0, 0, 7)], old_schema).write.parquet(
        str(out / "_lineage" / "bucket=7"))
    both = spark.read.parquet(str(out / "_lineage" / "bucket=*"))
    assert both.count() == len(rows) + 1
    assert dict(both.dtypes)["part_id"] == "int"
    assert dict(both.dtypes)["n_spans"] == "bigint"


def test_quarantine_positions_are_absolute(spark, tmp_path, monkeypatch):
    """Under keep and null the quarantine table holds one (doc_id, pos,
    span) row per poison span, pos absolute in the doc even when the
    span sits in a later 256-span chunk; lineage counts each once."""
    from html_sanitizer_spark.functions import udfs
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    orig = udfs.sanitize

    def bomb(t, s):
        if "BOOM" in t:
            raise RuntimeError("poison span")
        return orig(t, s)

    monkeypatch.setattr(udfs, "sanitize", bomb)
    poison = {7, 300, 599}
    mega = [{"kind": "text", "text": f"<i>BOOM {i}</i>" if i in poison
             else f"<b>{i}</b>", "media_ref": "", "offset": i}
            for i in range(600)]
    df = spark.createDataFrame(
        [{"doc_id": "mega", "spans": mega},
         {"doc_id": "small", "spans": [mega[7]]}], schema=DOC_SCHEMA)
    for policy in ("keep", "null"):
        out = tmp_path / policy
        run_checkpointed(spark, df, str(out), n_buckets=2, on_error=policy)
        q = spark.read.parquet(str(out / "_quarantine" / "bucket=*")).collect()
        assert sorted((r["doc_id"], r["pos"]) for r in q) == [
            ("mega", 7), ("mega", 300), ("mega", 599), ("small", 0)]
        for r in q:
            assert r["span"]["offset"] == (r["pos"] if r["doc_id"] == "mega" else 7)
            want = f"<i>BOOM {r['span']['offset']}</i>" if policy == "keep" else None
            assert r["span"]["text"] == want
        assert sum(_lineage_table(out).column("n_errors").to_pylist()) == 4


_RETRY_DRIVER = """
import json, os, sys
from pyspark import TaskContext
from html_sanitizer_spark.functions import udfs
from html_sanitizer_spark.pipeline.checkpoint import run_checkpointed
from html_sanitizer_spark.pipeline.session import get_spark
from html_sanitizer_spark.pipeline.synth import synth_spans_df

work = sys.argv[1]
marker = os.path.join(work, "crashed")
spark = get_spark("retry", parallelism=4, shuffle_partitions=4,
                  extra_conf={"spark.master": "local[4,2]"})
df = synth_spans_df(spark, 60, seed=8, mega_every=25).cache()
run_checkpointed(spark, df, os.path.join(work, "clean"), n_buckets=2)

orig = udfs.sanitize


def crash_once(t, s):
    # kill the Python worker mid-kernel on attempt 0 of one partition
    ctx = TaskContext.get()
    if (ctx.partitionId() == 0 and ctx.attemptNumber() == 0
            and not os.path.exists(marker)):
        open(marker, "w").close()
        os._exit(1)
    return orig(t, s)


udfs.sanitize = crash_once
sc = spark.sparkContext
sc.setJobGroup("crash", "run with one killed worker")
run_checkpointed(spark, df, os.path.join(work, "crash"), n_buckets=2)
failed = 0
for j in sc.statusTracker().getJobIdsForGroup("crash"):
    for sid in sc.statusTracker().getJobInfo(j).stageIds:
        info = sc.statusTracker().getStageInfo(sid)
        failed += info.numFailedTasks if info else 0
print("RESULT" + json.dumps({"failed_tasks": failed,
                             "crashed": os.path.exists(marker)}))
spark.stop()
"""


def _rows_and_lineage(out):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.concat_tables([pq.read_table(f)
                          for f in sorted(out.glob("bucket=*/*.parquet"))])
    rows = sorted(zip(t.column("doc_id").to_pylist(),
                      t.column("spans").to_pylist()), key=lambda r: r[0])
    lineage = sorted(tuple(r.values()) for r in _lineage_table(out).to_pylist())
    return rows, lineage


def test_killed_worker_retry_matches_clean_run(tmp_path):
    """A Python worker killed inside the sanitize kernel (os._exit on
    attempt 0 of one partition) under local[4,2] is retried, and the
    retried run's output rows and lineage rows equal a clean run's. (The
    killed attempt sends no accumulator update, so this does not tell a
    replace-by-partition merge from an additive one; test_lineage_metrics
    checks that with a second action on the same frame.)"""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_DRIVER, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-3000:])
    payload = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT")][-1][6:])
    assert payload["crashed"]
    assert payload["failed_tasks"] >= 1
    clean_rows, clean_lineage = _rows_and_lineage(tmp_path / "clean")
    crash_rows, crash_lineage = _rows_and_lineage(tmp_path / "crash")
    assert len(clean_rows) == 60
    assert crash_rows == clean_rows
    assert crash_lineage == clean_lineage
