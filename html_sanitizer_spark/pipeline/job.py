"""Core batch topology (SURVEY.md §3.4, north_rule plumbing).

Chunked path (default, skew-proof; sanitize_chunks + merge_chunks):

    read (doc_id, spans)
      -> slice spans map-side into           [no shuffle]
         (doc_id, _chunk, <=256 spans) rows
      -> repartition(P, doc_id, _chunk)      [SHUFFLE 1, the salt: P =
                                              salt_partitions(input); a
                                              mega-doc's chunks spread
                                              over all P tasks]
      -> arrow_span_kernel                   [the only Python hop: one
                                              mapInArrow kernel, which
                                              can also count lineage]
      -> groupBy(doc_id), chunk arrays       [SHUFFLE 2: one row per doc,
         flattened in _chunk order            span order restored]

Nested path (``explode=False``): the same Arrow kernel over whole docs (or
the span-array pandas UDF with ``nested_impl="pandas"``) with zero
shuffles. Wins when doc sizes are tame; loses when one doc has 10^6 spans
(whole doc on one core). ``explode="auto"`` picks by a bounded skew probe.
A null ``spans`` stays null and an empty one stays empty on every path.

Order contract (north_rule): output spans equal input spans in (kind,
media_ref, offset, order), with text-kind ``text`` sanitized — verified by
tests/test_spark_tier1.py via span-sequence equality.
"""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    arrow_span_kernel,
    make_span_array_udf,
    sanitize_spans_arrow,
)

__all__ = [
    "salt_partitions",
    "sanitize_spans",
    "sanitize_chunks",
    "merge_chunks",
    "lineage_accumulator",
    "extract_spans",
    "explode_spans",
    "reassemble_spans",
    "lineage_metrics_nested",
]

CHUNK_SPANS = 256  # spans per chunk row of the chunked plan


def explode_spans(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, pos, span); empty docs keep a null row."""
    return df.select("doc_id", F.posexplode_outer("spans").alias("pos", "span"))


def _has_exchange(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan already contains an Exchange."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if "Exchange" in node.nodeName():
            return True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def salt_partitions(df: DataFrame) -> int:
    """Partition count P for the salted (doc_id, _chunk) exchange over ``df``.

    Every Python task pays a fixed worker-side cost whatever its size
    (about 0.2 s of worker CPU per task on a 4-CPU host, mostly PySpark's
    per-task ``importlib.invalidate_caches()``), so the salted stage runs
    the fewest tasks that keep every core busy:
    P = max(defaultParallelism, ceil(input bytes / maxPartitionBytes)).
    The second term is the number of splits Spark's file scan makes once
    the input outgrows one split per core, so P grows with the input
    while a mega-document's <=256-span chunks still spread over all P
    tasks.

    Pure metadata, never a Spark job or an RDD conversion: the input
    bytes are the optimized plan's leaf statistics (file sizes after
    partition pruning). A frame that already shuffles, or has a leaf of
    unknown size, gets defaultParallelism.
    """
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    if _has_exchange(df):
        return dp
    conf = spark._jsparkSession.sessionState().conf()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = [leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size())]
    if any(s >= conf.defaultSizeInBytes() for s in sizes):
        return dp
    return max(dp, -(-sum(sizes) // conf.filesMaxPartitionBytes()))


class _ReplaceByKey(AccumulatorParam):
    """A later entry for a partition replaces the earlier one, so a
    retried or recomputed task reports its partition once."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, update):
        acc.update(update)
        return acc


def lineage_accumulator(spark: SparkSession):
    """Accumulator for the chunk kernel's lineage: part_id -> (n_spans,
    n_docs, text_bytes_out, n_media_spans, n_errors) per partition with
    rows."""
    return spark.sparkContext.accumulator({}, _ReplaceByKey())


def _counting(fix, lineage):
    """``mapInArrow`` function running the chunk kernel ``fix`` on every
    batch and adding the task's partition counters to ``lineage``.

    An empty or null spans row counts as one span; null span elements
    count toward n_spans only; text_bytes_out counts characters, as
    Spark's ``length`` (the rules of :func:`lineage_metrics_nested`).
    n_docs is exact: a row with ``_chunk`` 0 and fewer than CHUNK_SPANS
    spans is its doc's only row and counts once; the ids of the other
    rows go through a set, so the set holds only mega-doc ids.
    """

    def run(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        def total(arr):
            return pc.sum(arr).as_py() or 0

        n_spans = n_docs = chars = media = errors = 0
        shared = set()  # ids of docs with several chunk rows
        for batch in batches:
            out = fix(batch)
            col = out.column
            names = out.schema.names
            spans = col(names.index("spans"))
            lens = pc.fill_null(pc.list_value_length(spans), 0)
            elems = pc.list_flatten(spans)
            kind = pc.struct_field(elems, "kind")
            is_text = pc.equal(kind, "text")
            n_spans += total(pc.max_element_wise(lens, 1))
            chars += total(pc.utf8_length(
                pc.filter(pc.struct_field(elems, "text"), is_text)))
            media += total(pc.invert(is_text))
            if "span_errors" in names:
                errors += total(pc.list_value_length(
                    col(names.index("span_errors"))))
            only = pc.and_(pc.equal(col(names.index("_chunk")), 0),
                           pc.less(lens, CHUNK_SPANS))
            n_docs += total(only)
            shared.update(pc.filter(col(names.index("doc_id")),
                                    pc.invert(only)).to_pylist())
            yield out
        if n_spans:
            lineage.add({TaskContext.get().partitionId(): (
                n_spans, n_docs + len(shared), chars, media, errors)})

    return run


def sanitize_chunks(
    df: DataFrame, settings=None, salt_buckets: int | None = None, *,
    memoize: int = 0, on_error: str = "raise", lineage=None,
) -> DataFrame:
    """(doc_id, spans) -> sanitized (doc_id, _chunk, spans) chunk rows.

    Each doc's ``spans`` is sliced map-side into rows of at most
    CHUNK_SPANS spans numbered by ``_chunk`` (a long); an empty or null
    array is one row that keeps it as it is. ``salt_buckets`` repartitions
    the rows by (doc_id, _chunk), spreading a mega-document over every
    task. Under a non-"raise" policy the Arrow kernel adds each row's
    ``span_errors`` positions. With ``lineage`` (a
    :func:`lineage_accumulator`) each task also reports its partition's
    counters; a retried or recomputed task replaces its earlier entry.
    """
    last = F.greatest(F.size("spans") - 1, F.lit(0))  # size(null) is null/-1
    chunk = F.explode(F.sequence(F.lit(0).cast("long"),
                                 (last / F.lit(CHUNK_SPANS)).cast("long")))
    chunks = df.select("doc_id", chunk.alias("_chunk"), "spans").select(
        "doc_id", "_chunk",
        F.slice("spans", (F.col("_chunk") * CHUNK_SPANS + 1).cast("int"),
                CHUNK_SPANS).alias("spans"),
    )
    if salt_buckets:
        chunks = chunks.repartition(salt_buckets, "doc_id", "_chunk")
    fix, schema = arrow_span_kernel(chunks.schema, settings, memoize,
                                    on_error, with_errors=on_error != "raise")
    if lineage is None:
        return chunks.mapInArrow(lambda batches: map(fix, batches), schema)
    return chunks.mapInArrow(_counting(fix, lineage), schema)


def merge_chunks(chunks: DataFrame) -> DataFrame:
    """(doc_id, _chunk, spans) -> (doc_id, spans): one groupBy(doc_id)
    that flattens the chunk arrays in ``_chunk`` order. A null spans
    array (always a doc's only chunk) flattens to null."""
    ordered = F.array_sort(F.collect_list(F.struct("_chunk", "spans")))
    return chunks.groupBy("doc_id").agg(
        F.flatten(F.transform(ordered, lambda c: c["spans"])).alias("spans"))


def quarantine_spans(chunks: DataFrame) -> DataFrame:
    """(doc_id, pos, span) of every poison span in sanitized chunk rows,
    ``pos`` absolute in the doc, ``span`` as the keep/null policy left it."""
    hit = chunks.select("doc_id", "_chunk", "spans",
                        F.explode("span_errors").alias("i"))
    return hit.select(
        "doc_id",
        (F.col("_chunk") * CHUNK_SPANS + F.col("i")).cast("int").alias("pos"),
        F.element_at("spans", F.col("i") + 1).alias("span"),
    )


def reassemble_spans(
    clean: DataFrame, two_phase: bool = True, chunk_size: int = 256
) -> DataFrame:
    """(doc_id, pos, span) -> (doc_id, spans) with order restored by pos;
    the exploded frame of :func:`extract_spans`.

    Two-phase mode bounds per-group aggregation state under mega-document
    skew: spans first collect per (doc_id, chunk) where chunk = pos div
    ``chunk_size`` — a *contiguous* range, so a normal (< chunk_size spans)
    document pays exactly one group and zero extra structure, while a
    mega-document's chunks spread over the cluster and arrive pre-sorted;
    the final per-doc merge only orders whole chunks and flattens. This is
    strictly cheaper than hash-salted partials (which shred every doc into
    single-span chunks). collect_list skips null spans, so empty docs come
    back with an empty array rather than [null].

    When the incoming frame carries the ``_chunk`` salt of extract_spans,
    phase 1 groups on that exact attribute. Spark 4.1's EvalPythonExec
    drops outputPartitioning, so the Python UDF between salt and phase 1
    still costs a third exchange; the sanitize path avoids it by
    sanitizing whole chunk rows (:func:`sanitize_chunks`).
    """
    keyed = F.when(
        F.col("pos").isNotNull(),
        F.struct(F.col("pos").alias("pos"), F.col("span").alias("span")),
    )
    if two_phase:
        chunk_key = (
            F.col("_chunk")
            if "_chunk" in clean.columns
            else (F.col("pos").cast("long") / F.lit(chunk_size))
            .cast("long")
            .alias("_chunk")
        )
        partial = clean.groupBy("doc_id", chunk_key).agg(
            F.sort_array(F.collect_list(keyed)).alias("chunk_arr")
        )
        merged = partial.groupBy("doc_id").agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_chunk").alias("c"),
                                F.col("chunk_arr").alias("arr"),
                            )
                        )
                    ),
                    lambda kv: kv["arr"],
                )
            ).alias("keyed")
        )
    else:
        merged = clean.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(keyed)).alias("keyed")
        )
    return merged.select(
        "doc_id", F.transform("keyed", lambda kv: kv["span"]).alias("spans")
    )


_AUTO_PROBE_ROWS = 4096
_AUTO_EXPLODE_THRESHOLD = 512


def _probe_max_spans(df: DataFrame, n_rows: int = _AUTO_PROBE_ROWS) -> int:
    """Bounded skew probe for ``explode="auto"``: max span count over the
    first ``n_rows`` documents (a GlobalLimit — the scan stops after
    n_rows, never a full pass; VERDICT r01 #7). At 100 TB prefer passing
    ``max_spans_hint`` from table statistics or the previous run's lineage
    rollup instead of probing at all."""
    from ..functions.bounded import bounded_collect

    row = bounded_collect(
        df.select(F.size("spans").alias("n"))
        .limit(n_rows)
        .agg(F.max("n").alias("m")),
        1,
        "explode-auto skew probe",
    )
    return row[0]["m"] or 0


def sanitize_spans(
    spark: SparkSession,
    df: DataFrame,
    settings=None,
    explode: bool | str = True,
    salt_buckets: int | str | None = "auto",
    memoize: int = 0,
    on_error: str = "raise",
    max_spans_hint: int | None = None,
    nested_impl: str = "arrow",
) -> DataFrame:
    """End-to-end: sanitize every text-kind span of (doc_id, spans).

    ``explode=True`` runs the chunked plan (:func:`sanitize_chunks` then
    :func:`merge_chunks`); ``explode=False`` the nested plan.
    ``salt_buckets="auto"`` sizes the chunked plan's salted shuffle with
    :func:`salt_partitions`: one Python task per core, more only when the
    input is larger than one ``maxPartitionBytes`` split per core. Pass an
    int to pin it, or None to skip salting entirely.
    ``memoize``: per-worker output cache size for boilerplate-heavy
    corpora (see make_sanitize_udf).
    ``max_spans_hint``: known max span count per doc (table statistics /
    previous lineage); lets ``explode="auto"`` skip even the bounded probe.
    ``nested_impl``: "arrow" (mapInArrow, column-wise batch rebuild) or
    "pandas" (span-array pandas UDF) for the non-exploded plan."""
    if explode == "auto":
        # pick the physical plan by measured skew: if any document's span
        # count could monopolize a task, use the chunked+salted plan;
        # otherwise the nested single-kernel plan (no shuffles) wins.
        # on_error/memoize are honored on BOTH plans (VERDICT r03 #8), so
        # the knobs no longer force the choice.
        if max_spans_hint is None:
            max_spans_hint = _probe_max_spans(df)
        explode = max_spans_hint > _AUTO_EXPLODE_THRESHOLD
    if not explode:
        if nested_impl == "arrow":
            return sanitize_spans_arrow(df, settings, memoize=memoize,
                                        on_error=on_error)
        udf = make_span_array_udf(settings, memoize=memoize,
                                  on_error=on_error)
        return df.select("doc_id", udf("spans").alias("spans"))
    if salt_buckets == "auto":
        salt_buckets = salt_partitions(df)
    return merge_chunks(sanitize_chunks(df, settings, salt_buckets,
                                        memoize=memoize, on_error=on_error))


def extract_spans(
    spark: SparkSession,
    df: DataFrame,
    *,
    max_link_density: float = 0.5,
    salt_buckets: int | str | None = "auto",
    two_phase: bool = True,
) -> DataFrame:
    """Main-content extraction over interleaved (doc_id, spans) documents —
    the north rule's "main-content extraction pipeline" run on the SAME
    topology as the sanitize flagship: explode -> salted shuffle on
    (doc_id, pos div 256) into :func:`salt_partitions` tasks -> ONE Arrow-batched Python hop (engine/extract.py:
    boilerplate kill list + atomic-block link density) applied to
    text-kind spans only -> two-phase chunked reassembly. Media-kind
    spans pass through byte-identical and in position; the span order
    contract is sanitize_spans' exactly (kind, media_ref, offset, order
    preserved; text replaced by the extracted main content)."""
    from ..functions.udfs import make_extract_udf

    if salt_buckets == "auto":
        salt_buckets = salt_partitions(df)
    exploded = explode_spans(df)
    salted = False
    if salt_buckets:
        # chunk-aligned salt (r08): same key the reassembly groups on —
        # see reassemble_spans for why/limits
        exploded = exploded.withColumn(
            "_chunk", (F.col("pos").cast("long") / F.lit(256)).cast("long")
        ).repartition(salt_buckets, "doc_id", "_chunk")
        salted = True
    udf = make_extract_udf(max_link_density=max_link_density)
    applies = (F.col("span.kind") == F.lit("text")) & F.col(
        "span.text"
    ).isNotNull()
    new_text = F.when(
        applies, udf(F.col("span.text"))["main_text"]
    ).otherwise(F.col("span.text"))
    new_span = F.struct(
        F.col("span.kind").alias("kind"),
        new_text.alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    ex = exploded.select(
        "doc_id",
        "pos",
        *(["_chunk"] if salted else []),
        F.when(F.col("span").isNotNull(), new_span).alias("span"),
    )
    return reassemble_spans(ex, two_phase=two_phase)


def lineage_metrics_nested(clean: DataFrame) -> DataFrame:
    """Lineage rollup for the NESTED plan (VERDICT r04 #7), computed from
    the (doc_id, spans[, span_errors]) frame
    ``sanitize_spans_arrow(..., with_errors=True)`` returns. Same columns
    and counting rules as the chunked plan's in-kernel lineage
    (:func:`lineage_accumulator`): null span elements count toward
    n_spans but toward neither bytes nor media, and an empty/null spans
    array counts as ONE span (ADVICE r05 #1). All per-row work is map-side
    array expressions; the only shuffle is the per-partition groupBy."""
    has_err = "span_errors" in clean.columns
    spans = F.coalesce(F.col("spans"), F.array())
    row = clean.select(
        "doc_id",
        F.spark_partition_id().alias("part_id"),
        F.greatest(F.size(spans), F.lit(1)).alias("_n_spans"),
        F.aggregate(
            spans,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.coalesce(
                F.when(
                    (s["kind"] == F.lit("text")) & s["text"].isNotNull(),
                    F.length(s["text"]).cast("long"),
                ),
                F.lit(0).cast("long"),
            ),
        ).alias("_text_bytes"),
        F.size(
            F.filter(spans, lambda s: s.isNotNull() & (s["kind"] != F.lit("text")))
        ).alias("_n_media"),
        (
            F.greatest(F.size("span_errors"), F.lit(0))
            if has_err
            else F.lit(0)
        ).alias("_n_err"),
    )
    return row.groupBy("part_id").agg(
        F.sum("_n_spans").alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("n_docs_approx"),
        F.sum("_text_bytes").alias("text_bytes_out"),
        F.sum("_n_media").alias("n_media_spans"),
        F.sum("_n_err").alias("n_errors"),
    )
