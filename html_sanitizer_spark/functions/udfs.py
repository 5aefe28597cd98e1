"""Vectorized sanitize UDFs (the only JVM->Python hop in the pipeline).

Design (SURVEY.md §2.10, §4.1): the whole tree engine is fused into ONE
scalar pandas UDF so each row crosses the Arrow boundary exactly once.
Batches arrive as Arrow string arrays; the per-value work (parse, walk,
serialize) runs in a tight loop over the batch, amortizing settings/regex
setup which lives in module/executor scope. Per-row Python UDFs are never
used (north_rule requirement).

Shapes:
- ``arrow_span_kernel``   — the per-batch Arrow span-array kernel of both
  sanitize plans (whole docs, or the chunked plan's <=256-span rows):
  sanitizes text-kind spans inside the array, passes media spans through
  byte-identical, preserving order trivially. ``sanitize_spans_arrow``
  runs it over a frame with ``mapInArrow``.
- ``make_span_array_udf`` — the same over a pandas UDF (``nested_impl``).
- ``make_sanitize_udf``   — Series[str] -> Series[str], for plain string
  columns (streaming, SQL registration).
"""

from __future__ import annotations

import hashlib
import uuid

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..configs import settings_for
from ..engine.core import sanitize

__all__ = [
    "make_sanitize_udf",
    "make_span_array_udf",
    "arrow_span_kernel",
    "sanitize_spans_arrow",
    "SPAN_TYPE",
    "SPANS_TYPE",
]

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_TYPE)


def make_sanitize_udf(settings=None):
    """Scalar pandas UDF: sanitize a batch of HTML fragments.

    ``settings`` may be a Settings instance or a registered config name;
    it is captured in the closure and shipped once per executor (the
    broadcast-by-closure pattern, SURVEY.md §1.2). A fragment the engine
    cannot sanitize fails the task; the memo and the keep/null poison
    policies live on the span-array kernels.
    """
    settings_obj = settings_for(settings)

    @F.pandas_udf(T.StringType())
    def sanitize_batch(texts: pd.Series) -> pd.Series:
        # Executor-side: regexes compile lazily once per python worker.
        out = [None if t is None else sanitize(t, settings_obj) for t in texts]
        return pd.Series(out, dtype="object")

    return sanitize_batch


# per-python-worker memo store, keyed by a deterministic config fingerprint
_worker_memo: dict = {}
_WORKER_MEMO_MAX_CONFIGS = 8


def _settings_fingerprint(settings_obj, memoize: int, policy: str = "raise") -> str:
    """Content hash of (settings, memoize, error policy), computed once
    driver-side.

    Uses cloudpickle (the same serializer Spark ships the closure with), so
    lambdas/processor callables hash by code, not by memory address: equal
    configs collapse to one shared worker cache, different configs can never
    collide. The policy is part of the key because cached VALUES differ by
    policy ("keep" caches the original fragment for poison inputs, "null"
    caches None) — sharing one cache across policies would replay the wrong
    fallback. Falls back to a uuid (unique, unshared — always safe) for the
    rare unpicklable settings object."""
    try:
        from pyspark import cloudpickle

        payload = cloudpickle.dumps(
            (settings_obj.__getstate__(), memoize, policy)
        )
        return hashlib.sha256(payload).hexdigest()
    except Exception:
        return uuid.uuid4().hex


def _worker_cache(memo_key: str) -> dict:
    """Executor-side cache lookup with stale-config eviction: a long-lived
    reused worker that has seen many distinct configs drops old caches
    rather than accumulating them (ADVICE r02). Eviction is per-entry LRU
    (ADVICE r03): on overflow, only the least-recently-used config's cache
    is dropped — configs still actively in use on a mixed-config worker
    keep their warm caches instead of cold-restarting wholesale. Dicts
    preserve insertion order, so moving a key to the end on every hit makes
    the first key the LRU victim."""
    cache = _worker_memo.get(memo_key)
    if cache is None:
        if len(_worker_memo) >= _WORKER_MEMO_MAX_CONFIGS:
            _worker_memo.pop(next(iter(_worker_memo)))
        cache = _worker_memo[memo_key] = {}
    else:
        # refresh recency: re-insert at the end of the order
        _worker_memo.pop(memo_key)
        _worker_memo[memo_key] = cache
    return cache


def _make_text_kernel(settings_obj, memoize: int, on_error: str):
    """Per-fragment sanitize kernel shared by the span-array shapes
    (pandas UDF and Arrow kernel): one place implements the memo
    (per-worker bounded cache keyed by a deterministic config+policy
    fingerprint, ADVICE r02) and the poison policy (keep/null with an
    explicit error flag, never a silent pass-through). Returns
    (clean_text, err). Poison results ARE memoized — sanitize is pure, so
    a fragment that raised once raises every time; caching the fallback
    skips re-raising on repeats."""
    keep = on_error == "keep"
    memo_key = (
        _settings_fingerprint(settings_obj, memoize, on_error)
        if memoize > 0
        else None
    )

    def run(text: str):
        cache = _worker_cache(memo_key) if memo_key is not None else None
        if cache is not None:
            hit = cache.get(text)
            if hit is not None:
                return hit
        try:
            result = (sanitize(text, settings_obj), False)
        except Exception:
            if on_error == "raise":
                raise
            result = (text if keep else None, True)
        if cache is not None:
            if len(cache) >= memoize:
                cache.clear()  # cheap wholesale eviction (per-config cache)
            cache[text] = result
        return result

    return run


def make_span_array_udf(settings=None, memoize: int = 0, on_error: str = "raise"):
    """Scalar pandas UDF over the whole ``spans`` array column.

    Keeps documents intact (no explode, no reassembly shuffle): for each
    row, text-kind spans are sanitized in place, media spans pass through
    untouched, order is preserved by construction. Best plan when the doc
    size distribution is tame; the chunked+salted plan wins under
    mega-document skew.

    ``memoize``: per-worker bounded memo of fragment -> output. Real web
    corpora repeat boilerplate spans (nav bars, footers, templates) at
    enormous rates, and ``sanitize`` is pure, so this is a deterministic
    cache, not an approximation. Off by default so benchmarks measure the
    engine, not the corpus's redundancy.

    ``on_error``: poison-span policy, so one pathological fragment does
    not kill a 10^6-task job: "raise" (default) propagates; "keep" passes
    the fragment through unsanitized and "null" nulls its text, both
    flagged as errors, never a silent pass-through. Per-span error
    FLAGS need the arrow path (sanitize_spans_arrow with_errors=True) —
    this UDF's output type is the spans array alone.
    """
    if on_error not in ("raise", "keep", "null"):
        raise ValueError(f"on_error must be raise|keep|null, got {on_error!r}")
    settings_obj = settings_for(settings)
    kernel = _make_text_kernel(settings_obj, memoize, on_error)

    @F.pandas_udf(SPANS_TYPE)
    def sanitize_spans_batch(spans_col: pd.Series) -> pd.Series:
        def fix(spans):
            if spans is None:
                return None
            out = []
            for s in spans:
                if s is None:  # null span element: preserve, don't rebuild
                    out.append(None)
                    continue
                # Arrow hands array<struct> values to pandas as dicts (or
                # Rows); normalize access defensively.
                get = s.get if isinstance(s, dict) else lambda k, _s=s: _s[k]
                kind = get("kind")
                text = get("text")
                if kind == "text" and text is not None:
                    text = kernel(text)[0]
                out.append(
                    {
                        "kind": kind,
                        "text": text,
                        "media_ref": get("media_ref"),
                        "offset": get("offset"),
                    }
                )
            return out

        return pd.Series([fix(v) for v in spans_col], dtype="object")

    return sanitize_spans_batch


def arrow_span_kernel(
    schema, settings=None, memoize: int = 0, on_error: str = "raise",
    with_errors: bool = False,
):
    """The span-array kernel over pyarrow RecordBatches (SURVEY.md §2.10):
    the flattened struct children are rebuilt column-wise (only the
    ``text`` child is touched), skipping the per-row dict conversion the
    pandas span-array UDF pays. Same semantics as make_span_array_udf.

    Returns ``(fix, out_schema)``: ``fix`` maps one batch of a frame with
    Spark schema ``schema`` (a ``spans`` column among any others) to its
    sanitized batch of ``out_schema``. ``memoize``/``on_error`` as in
    make_span_array_udf. ``with_errors=True`` (requires a non-"raise"
    policy) appends ``span_errors`` array<int>: the 0-based positions of
    the row's poison spans (null for a null spans row).
    """
    import pyarrow as pa

    if on_error not in ("raise", "keep", "null"):
        raise ValueError(f"on_error must be raise|keep|null, got {on_error!r}")
    if with_errors and on_error == "raise":
        raise ValueError(
            "with_errors=True needs on_error='keep' or 'null' — under "
            "'raise' a poison span fails the job, so the error column "
            "would be constant empty"
        )
    kernel = _make_text_kernel(settings_for(settings), memoize, on_error)
    if with_errors:
        schema = T.StructType(schema.fields + [
            T.StructField("span_errors", T.ArrayType(T.IntegerType()))])

    def fix(batch):
        names = batch.schema.names
        idx = names.index("spans")
        lst = batch.column(idx)
        if isinstance(lst, pa.ChunkedArray):  # defensive; batches are flat
            lst = lst.combine_chunks()
        values = lst.values  # flattened StructArray (absolute offsets)
        new_text = []
        elem_err = []
        for k, t in zip(values.field("kind").to_pylist(),
                        values.field("text").to_pylist()):
            if k == "text" and t is not None:
                clean, err = kernel(t)
            else:
                clean, err = t, False
            new_text.append(clean)
            elem_err.append(err)
        # carry the element-level validity through the rebuild: without
        # the mask a null span element would come back as a non-null
        # struct of null fields (ADVICE r02), diverging from the input
        # and from the pandas path
        elem_mask = pa.compute.is_null(values) if values.null_count else None
        new_values = pa.StructArray.from_arrays(
            [
                values.field("kind"),
                pa.array(new_text, pa.string()),
                values.field("media_ref"),
                values.field("offset"),
            ],
            names=["kind", "text", "media_ref", "offset"],
            mask=elem_mask,
        )
        null_mask = lst.is_null() if lst.null_count else None
        new_list = pa.ListArray.from_arrays(lst.offsets, new_values,
                                            mask=null_mask)
        arrays = [
            new_list if i == idx else batch.column(i)
            for i in range(batch.num_columns)
        ]
        out_names = list(names)
        if with_errors:
            # row i owns flattened elements [offs[i], offs[i+1])
            offs = lst.offsets.to_pylist()
            valid = lst.is_valid().to_pylist()
            errs = [[j - offs[i] for j in range(offs[i], offs[i + 1])
                     if elem_err[j]] if valid[i] else None
                    for i in range(batch.num_rows)]
            arrays.append(pa.array(errs, pa.list_(pa.int32())))
            out_names.append("span_errors")
        return pa.RecordBatch.from_arrays(arrays, names=out_names)

    return fix, schema


def sanitize_spans_arrow(
    df, settings=None, memoize: int = 0, on_error: str = "raise",
    with_errors: bool = False,
):
    """Nested zero-extra-shuffle path: :func:`arrow_span_kernel` over
    ``df`` via ``mapInArrow``; measurably faster per batch than the
    pandas span-array UDF."""
    fix, schema = arrow_span_kernel(df.schema, settings, memoize, on_error,
                                    with_errors)
    return df.mapInArrow(lambda batches: map(fix, batches), schema)


def register_sql_functions(spark, settings=None, name: str = "sanitize_html"):
    """Expose the sanitizer to Spark SQL:

        register_sql_functions(spark)
        spark.sql("SELECT sanitize_html(html_col) FROM fragments")

    Registers the fused Arrow-batched sanitize UDF under ``name`` (one
    registration per config — pass a config name or Settings and a distinct
    ``name`` for additional variants)."""
    udf = make_sanitize_udf(settings)
    spark.udf.register(name, udf)
    return udf


# main-content extraction result: kept-block text + block accounting, so
# lineage can report extraction yield (blocks kept vs boilerplate dropped)
# without a second pass over the corpus.
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("main_text", T.StringType()),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("n_dropped", T.IntegerType()),
    ]
)


def make_extract_udf(max_link_density: float = 0.5, separator: str = "\n"):
    """Scalar pandas UDF: main-content extraction (boilerplate strip via
    DOM heuristics — engine/extract.py) over a batch of HTML fragments.
    Returns struct<main_text, n_kept, n_dropped>; null in, null out.
    Thresholds are captured in the closure (broadcast-by-closure, same
    pattern as make_sanitize_udf)."""
    from ..engine.extract import extract_main_blocks

    @F.pandas_udf(EXTRACT_RESULT_TYPE)
    def extract_batch(html: pd.Series) -> pd.DataFrame:
        texts: list = []
        kept_n: list = []
        drop_n: list = []
        for h in html:
            if h is None:
                texts.append(None)
                kept_n.append(None)
                drop_n.append(None)
                continue
            kept, dropped = extract_main_blocks(
                h, max_link_density=max_link_density
            )
            texts.append(separator.join(kept))
            kept_n.append(len(kept))
            drop_n.append(dropped)
        return pd.DataFrame(
            {"main_text": texts, "n_kept": kept_n, "n_dropped": drop_n}
        )

    return extract_batch
