"""Poison-document policy + automatic physical-plan selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from html_sanitizer_spark.functions import udfs
from html_sanitizer_spark.pipeline.job import sanitize_spans
from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA, synth_spans_df


@pytest.fixture
def poison(monkeypatch):
    orig = udfs.sanitize

    def bomb(t, s):
        if "BOOM" in t:
            raise RuntimeError("poison document")
        return orig(t, s)

    monkeypatch.setattr(udfs, "sanitize", bomb)
    yield


@pytest.fixture
def doc(spark):
    return spark.createDataFrame(
        [{"doc_id": "d", "spans": [
            {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "<p>BOOM</p>", "media_ref": "", "offset": 1},
        ]}],
        schema=DOC_SCHEMA,
    )


_PLANS = [
    {"explode": True, "salt_buckets": 2},
    {"explode": False, "nested_impl": "arrow"},
    {"explode": False, "nested_impl": "pandas"},
]
_PLAN_IDS = ["exploded", "nested-arrow", "nested-pandas"]


@pytest.mark.parametrize("plan", _PLANS, ids=_PLAN_IDS)
def test_on_error_keep(spark, poison, doc, plan):
    """keep-policy parity across every physical plan (VERDICT r03 #8: the
    nested plans honor the poison policy instead of rejecting it)."""
    spans = sanitize_spans(spark, doc, on_error="keep",
                           **plan).collect()[0]["spans"]
    assert [s["text"] for s in spans] == ["<p>ok</p>", "<p>BOOM</p>"]


@pytest.mark.parametrize("plan", _PLANS, ids=_PLAN_IDS)
def test_on_error_null(spark, poison, doc, plan):
    spans = sanitize_spans(spark, doc, on_error="null",
                           **plan).collect()[0]["spans"]
    assert [s["text"] for s in spans] == ["<p>ok</p>", None]


@pytest.mark.parametrize("plan", _PLANS[1:], ids=_PLAN_IDS[1:])
def test_on_error_raise_on_nested_plans(spark, poison, doc, plan):
    with pytest.raises(Exception):
        sanitize_spans(spark, doc, **plan).collect()


def test_on_error_raise_default(spark, poison, doc):
    with pytest.raises(Exception):
        sanitize_spans(spark, doc, salt_buckets=2).collect()


def test_on_error_rejects_bad_value():
    with pytest.raises(ValueError):
        udfs.make_span_array_udf(on_error="ignore")


def test_auto_plan_selection(spark):
    small = synth_spans_df(spark, 20, seed=1, mega_every=0)
    mega = synth_spans_df(spark, 20, seed=1, mega_every=10)
    # both plans must produce correct output; 'auto' picks per skew
    for df in (small, mega):
        out = sanitize_spans(spark, df, explode="auto")
        assert out.count() == 20


def _kernel_lineage(spark, docs, **kw):
    """(sanitized chunk rows, in-kernel lineage) of the chunked plan."""
    from html_sanitizer_spark.pipeline.job import (
        lineage_accumulator,
        sanitize_chunks,
    )

    acc = lineage_accumulator(spark)
    rows = sanitize_chunks(docs, None, salt_buckets=2, lineage=acc,
                           **kw).collect()
    return rows, acc.value


def test_on_error_flag_visible_in_lineage(spark, poison, doc):
    """Safe modes must not be silent: the chunk row carries the poison
    span's position in span_errors and the in-kernel lineage counts it."""
    rows, lineage = _kernel_lineage(spark, doc, on_error="keep")
    assert [r["span_errors"] for r in rows] == [[1]]
    assert rows[0]["spans"][1]["text"] == "<p>BOOM</p>"
    assert sum(v[4] for v in lineage.values()) == 1


def test_raise_mode_lineage_has_zero_errors(spark, doc):
    rows, lineage = _kernel_lineage(spark, doc)
    assert "span_errors" not in rows[0]
    assert sum(v[4] for v in lineage.values()) == 0
    assert sum(v[0] for v in lineage.values()) == 2


def test_auto_probe_is_bounded(spark):
    """explode='auto' must not full-scan the input: the probe plan is a
    GlobalLimit, and an explicit max_spans_hint skips the probe job."""
    from html_sanitizer_spark.pipeline import job as job_mod

    df = synth_spans_df(spark, 50, seed=3, mega_every=0)
    probe = (
        df.select(F.size("spans").alias("n"))
        .limit(job_mod._AUTO_PROBE_ROWS)
        .agg(F.max("n"))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "GlobalLimit" in plan or "CollectLimit" in plan, plan

    # hint path: no probe job runs (monkeypatch would raise if it did)
    orig = job_mod._probe_max_spans
    job_mod._probe_max_spans = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe ran despite hint")
    )
    try:
        out = sanitize_spans(spark, df, explode="auto", max_spans_hint=10_000)
        assert out.count() == 50
    finally:
        job_mod._probe_max_spans = orig


def test_nested_pandas_and_arrow_agree(spark):
    from html_sanitizer_spark.pipeline.job import sanitize_spans as ss

    df = synth_spans_df(spark, 80, seed=11, mega_every=0).cache()
    a = ss(spark, df, explode=False, nested_impl="arrow")
    p = ss(spark, df, explode=False, nested_impl="pandas")
    rows_a = {r["doc_id"]: r["spans"] for r in a.collect()}
    rows_p = {r["doc_id"]: r["spans"] for r in p.collect()}
    assert rows_a == rows_p
    df.unpersist()


def test_arrow_with_errors_counts_poison_per_doc(spark, poison, doc):
    """Nested quarantine visibility (VERDICT r03 #8): with_errors=True
    appends span_errors, the positions of each row's poison spans computed
    from the list offsets."""
    from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow

    clean_doc = spark.createDataFrame(
        [{"doc_id": "c", "spans": [
            {"kind": "text", "text": "<p>fine</p>", "media_ref": "",
             "offset": 0},
        ]}],
        schema=DOC_SCHEMA,
    )
    out = sanitize_spans_arrow(doc.union(clean_doc), on_error="keep",
                               with_errors=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["d"]["span_errors"] == [1]
    assert rows["c"]["span_errors"] == []
    assert [s["text"] for s in rows["d"]["spans"]] == [
        "<p>ok</p>", "<p>BOOM</p>"
    ]
    # with_errors under raise-policy is a contradiction: reject loudly
    with pytest.raises(ValueError, match="with_errors"):
        sanitize_spans_arrow(doc, with_errors=True)


def test_nested_plans_memoize_through_worker_cache(spark):
    """memoize on the nested plans routes through the shared bounded
    worker cache (same fingerprint machinery as the exploded path)."""
    df = spark.createDataFrame(
        [{"doc_id": str(i), "spans": [
            {"kind": "text", "text": "<b>same</b>", "media_ref": "",
             "offset": 0},
        ]} for i in range(12)],
        schema=DOC_SCHEMA,
    )
    for kwargs in ({"nested_impl": "arrow"}, {"nested_impl": "pandas"}):
        out = sanitize_spans(spark, df, explode=False, memoize=64, **kwargs)
        texts = {r["spans"][0]["text"] for r in out.collect()}
        assert texts == {"<strong>same</strong>"}


def test_auto_plan_with_knobs_honors_policy(spark, poison, doc):
    """explode='auto' + on_error: whichever physical plan the skew probe
    picks (nested, for this 2-span doc) must honor the poison policy —
    both plans implement it now (VERDICT r03 #8)."""
    spans = sanitize_spans(spark, doc, explode="auto", on_error="keep",
                           salt_buckets=2).collect()[0]["spans"]
    assert any("BOOM" in (s["text"] or "") for s in spans)


def test_null_span_element_preserved_on_all_paths(spark):
    """A null element inside a spans array must come back null — not a
    struct of null fields — on the arrow, pandas, and exploded paths alike
    (ADVICE r02)."""
    from html_sanitizer_spark.functions.udfs import (
        make_span_array_udf,
        sanitize_spans_arrow,
    )

    df = spark.createDataFrame(
        [{"doc_id": "d", "spans": [
            None,
            {"kind": "text", "text": "<b>x</b>", "media_ref": "", "offset": 1},
        ]}],
        schema=DOC_SCHEMA,
    )
    expected = [None, ("text", "<strong>x</strong>", "", 1)]

    def spans_of(out):
        row = out.collect()[0]["spans"]
        return [None if s is None else tuple(s) for s in row]

    assert spans_of(sanitize_spans_arrow(df)) == expected
    udf = make_span_array_udf()
    assert spans_of(df.select("doc_id", udf("spans").alias("spans"))) == expected
    assert spans_of(sanitize_spans(spark, df, explode=True,
                                   salt_buckets=2)) == expected


@pytest.mark.parametrize("spans", [
    [],                                                             # empty
    [{"kind": "text", "text": None, "media_ref": "", "offset": 0}],  # null text
    [{"kind": "text", "text": "", "media_ref": "", "offset": 0}],    # empty text
    [{"kind": "image", "text": "cap", "media_ref": "m://x", "offset": 0}],
], ids=["empty-array", "null-text", "empty-text", "media-only"])
def test_edge_span_arrays_agree_across_paths(spark, spans):
    """Arrow, pandas, and exploded paths must agree on degenerate span
    arrays (null/empty text, media-only, empty docs)."""
    from html_sanitizer_spark.functions.udfs import (
        make_span_array_udf,
        sanitize_spans_arrow,
    )

    df = spark.createDataFrame([{"doc_id": "d", "spans": spans}],
                               schema=DOC_SCHEMA)

    def spans_of(out):
        return [tuple(s) for s in out.collect()[0]["spans"]]

    arrow = spans_of(sanitize_spans_arrow(df))
    udf = make_span_array_udf()
    pandas_ = spans_of(df.select("doc_id", udf("spans").alias("spans")))
    exploded = spans_of(sanitize_spans(spark, df, explode=True,
                                       salt_buckets=2))
    assert arrow == pandas_ == exploded


def test_lineage_parity_exploded_vs_nested_arrow(spark, poison):
    """VERDICT r04 #7: under on_error='keep' with planted poison
    fragments, the chunked plan's in-kernel lineage must agree with the
    nested arrow plan's partition rollup (lineage_metrics_nested over
    with_errors=True output) on every corpus-level total — n_errors above
    all, plus span/media/byte accounting. Partition boundaries differ by
    plan, so parity is on the summed rollup."""
    from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow
    from html_sanitizer_spark.pipeline.job import lineage_metrics_nested

    docs = spark.createDataFrame(
        [
            {"doc_id": "a", "spans": [
                {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "<p>BOOM</p>", "media_ref": "", "offset": 1},
                {"kind": "image", "text": "", "media_ref": "m://1", "offset": 2},
            ]},
            {"doc_id": "b", "spans": [
                {"kind": "text", "text": "x BOOM y", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "<b>fine</b>", "media_ref": "", "offset": 1},
            ]},
            {"doc_id": "c", "spans": [
                {"kind": "video", "text": "", "media_ref": "m://2", "offset": 0},
            ]},
            # ADVICE r05 #1: empty and null spans arrays count as one span
            # each on both plans.
            {"doc_id": "d-empty", "spans": []},
            {"doc_id": "e-null", "spans": None},
        ],
        schema=DOC_SCHEMA,
    )
    keys = ("n_spans", "text_bytes_out", "n_media_spans", "n_errors")
    _, lineage = _kernel_lineage(spark, docs, on_error="keep")
    t_kernel = {k: sum(v[i] for v in lineage.values())
                for k, i in zip(keys, (0, 2, 3, 4))}
    nested = sanitize_spans_arrow(docs, None, on_error="keep",
                                  with_errors=True)
    rows = lineage_metrics_nested(nested).collect()
    t_nest = {k: sum(r[k] for r in rows) for k in keys}
    assert t_kernel == t_nest, (t_kernel, t_nest)
    assert t_kernel["n_errors"] == 2  # both planted BOOMs counted, once each
    assert t_kernel["n_media_spans"] == 2
    assert t_kernel["n_spans"] == 8  # 6 real + 1 empty-doc + 1 null-doc
    assert sum(v[1] for v in lineage.values()) == 5  # exact, 1-chunk docs
