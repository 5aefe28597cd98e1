"""The benchmark's workloads: input generation, the timed call, the gate.

Each workload drives one public entry point of the package with inputs
generated by ``pipeline.synth`` from the benchmark's seed. Sizes are fixed
here, not taken from the command line, so every run set of a workload
measures the same amount of work.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq

from . import gate


def _read_dir(path: Path, pattern: str = "*.parquet"):
    import pyarrow as pa

    files = sorted(path.glob(pattern))
    return pa.concat_tables([pq.read_table(f) for f in files])


def _content_hash(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row, sort_keys=True, default=str).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _exchanges(df) -> int:
    """Hash exchanges in a frame's physical plan, counted the way the
    plan-quality exchange-budget test counts them."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


class SpansWorkload:
    """Shared parts of the two sanitize workloads: (doc_id, spans) input
    plus the 76 default-config golden docs, span-sequence gate."""

    name = ""
    entry = ""
    n_docs = 0
    mega_every = 0
    text_repeat = 1
    sample_docs = 200
    output_glob = "*.parquet"
    # a CLI run makes one call per process
    calls = 1

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.input_dir = work / "input"
        self.out_dir = work / "output"
        self.inp: dict = {}

    def generate(self, spark) -> dict:
        from html_sanitizer_spark.pipeline.synth import (
            golden_spans_df, synth_spans_df)

        synth = synth_spans_df(
            spark, self.n_docs, seed=self.seed, mega_every=self.mega_every,
            text_repeat=self.text_repeat,
            partitions=spark.sparkContext.defaultParallelism)
        synth.unionByName(golden_spans_df(spark).coalesce(1)).write.mode(
            "overwrite").parquet(str(self.input_dir))
        self.inp = gate.docs_by_id(_read_dir(self.input_dir))
        spans = [s for v in self.inp.values() for s in (v or [])]
        return {
            "docs": len(self.inp),
            "spans": len(spans),
            "text_spans": self.text_spans(),
            "text_bytes": sum(len((s["text"] or "").encode()) for s in spans),
            "input_bytes": sum(f.stat().st_size
                               for f in self.input_dir.glob("*.parquet")),
            "content_hash": _content_hash(sorted(self.inp.items())),
        }

    @property
    def docs(self) -> int:
        return len(self.inp)

    def text_spans(self) -> int:
        return sum(1 for v in self.inp.values() for s in (v or [])
                   if s and s["kind"] == "text" and s["text"] is not None)

    def input_df(self, spark):
        return spark.read.parquet(str(self.input_dir))

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def mega_ids(self) -> set:
        if not self.mega_every:
            return set()
        return {f"doc{i:012d}" for i in range(
            self.mega_every - 1, self.n_docs, self.mega_every)}

    def gate(self, spark) -> dict:
        from html_sanitizer_spark.engine.core import sanitize
        from html_sanitizer_spark.engine.settings import Settings, get_settings
        from tests.golden_cases import CASES, CONFIGS

        out = gate.docs_by_id(_read_dir(self.out_dir, self.output_glob))
        bad = gate.span_invariants(self.inp, out)
        default = get_settings("default")
        synth_ids = {d for d in self.inp if d.startswith("doc")}
        sampled = gate.sample_ids({d: None for d in synth_ids}, self.seed,
                                  self.sample_docs, self.mega_ids())
        bad |= gate.text_mismatches(self.inp, out, sampled,
                                    lambda t: sanitize(t, default))
        in_input = [c for c in CASES if c.config == "default"]
        bad |= gate.golden_mismatches(gate.golden_text(out, in_input),
                                      in_input)
        # the other configs' golden pairs need their own Settings, so they
        # replay through the engine rather than through a Spark job each
        others = [c for c in CASES if c.config != "default"]
        engine_got = {c.case_id: sanitize(c.before, Settings(CONFIGS[c.config]))
                      for c in others}
        bad_others = gate.golden_mismatches(engine_got, others)
        return {
            "attempted": len(self.inp) + len(others),
            "failed": len(bad) + len(bad_others),
            "failed_ids": sorted(bad | bad_others)[:20],
            "text_checked_docs": len(sampled),
        }

    def sample_texts(self, n: int = 2000) -> list[str]:
        import random

        texts = [s["text"] for v in self.inp.values() for s in (v or [])
                 if s and s["kind"] == "text" and s["text"] is not None]
        rng = random.Random(self.seed)
        return rng.sample(texts, min(n, len(texts)))

    def plan_only(self, spark):
        """The same input through ``sanitize_spans`` with the plan the
        entry point would pick; returns (frame, hash-exchange count)."""
        from html_sanitizer_spark.pipeline.job import sanitize_spans

        df = sanitize_spans(spark, self.input_df(spark), explode="auto")
        return df, _exchanges(df)


class SkewCkpt(SpansWorkload):
    name = "skew_ckpt"
    entry = ("pipeline.checkpoint.run_checkpointed(spark, df, out, "
             "n_buckets=2)")
    n_docs = 2000
    mega_every = 1000
    text_repeat = 10
    n_buckets = 2
    output_glob = "bucket=*/*.parquet"

    def run(self, spark) -> None:
        from html_sanitizer_spark.pipeline.checkpoint import run_checkpointed

        run_checkpointed(spark, self.input_df(spark), str(self.out_dir),
                         n_buckets=self.n_buckets)

    def gate(self, spark) -> dict:
        result = super().gate(spark)
        with open(self.out_dir / "_sanitize_manifest.json") as fh:
            done = json.load(fh)["done"]
        if sorted(done) != list(range(self.n_buckets)):
            result["failed"] = result["attempted"]
        return result


class TameNested(SpansWorkload):
    name = "tame_nested"
    entry = ('pipeline.job.sanitize_spans(spark, df, explode="auto")'
             " written to parquet")
    n_docs = 20000

    def run(self, spark) -> None:
        from html_sanitizer_spark.pipeline.job import sanitize_spans

        sanitize_spans(spark, self.input_df(spark), explode="auto").write.mode(
            "overwrite").parquet(str(self.out_dir))


class DedupChain:
    name = "dedup_chain"
    entry = "queries.q_dedup_apply inside queries.dedup_verify_cache_scope()"
    # The chain runs ~50 Spark jobs whatever the size, so 400 docs cost
    # about what 1500 do; at this size the DuckDB oracle can check the
    # timed result itself (its recursive CTE grows much faster than the
    # chain: ~5 s at 400 docs, ~12 s at 800 on a 4-CPU host).
    n_docs = 400
    group_size = 5
    # The first three calls of a session are timed together. A call's
    # time falls over the first four calls (12.6, 7.4, 5.4, 4.7 s on a
    # 4-CPU host) before it stays flat near 4.3 s, so the timed region
    # holds this warm-up, the same in every run. Timing warm calls only
    # would need four untimed calls first, which doubles a run's cost; a
    # single first call is at the mercy of one host stall.
    calls = 3

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.sf_dir = work / "docs"
        self.last_row: dict | None = None

    def generate(self, spark) -> dict:
        from html_sanitizer_spark.pipeline.synth import synth_documents_df

        synth_documents_df(
            spark, self.n_docs, seed=self.seed, group_size=self.group_size,
            partitions=spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(str(self.sf_dir / "documents.parquet"))
        table = _read_dir(self.sf_dir / "documents.parquet").sort_by("doc_id")
        ids = table.column("doc_id").to_pylist()
        texts = table.column("text").to_pylist()
        return {
            "docs": len(ids),
            "spans": 0,
            "text_bytes": sum(len(t.encode()) for t in texts),
            "input_bytes": sum(
                f.stat().st_size
                for f in (self.sf_dir / "documents.parquet").glob("*.parquet")),
            "content_hash": _content_hash(zip(ids, texts)),
        }

    @property
    def docs(self) -> int:
        return self.n_docs

    def reset(self) -> None:
        self.last_row = None

    def run(self, spark) -> None:
        from html_sanitizer_spark.queries import (
            dedup_verify_cache_scope, q_dedup_apply)

        with dedup_verify_cache_scope():
            row = q_dedup_apply(spark, str(self.sf_dir)).collect()[0]
        self.last_row = row.asDict()

    def oracle(self) -> dict:
        """The registry's DuckDB oracle for dedup_apply over the input."""
        import duckdb

        from html_sanitizer_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.work / 'duckdb'}'")
            con.execute("SET threads=4")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.sf_dir / 'documents.parquet'}/*.parquet')")
            cur = con.execute(REGISTRY["dedup_apply"][1])
            names = [d[0] for d in cur.description]
            return dict(zip(names, cur.fetchone()))
        finally:
            con.close()

    def gate(self, spark) -> dict:
        errors = gate.dedup_invariants(self.last_row, self.n_docs,
                                       self.group_size)
        want = self.oracle()
        if self.last_row != want:
            errors.append(f"spark {self.last_row} != oracle {want}")
        return {"attempted": self.n_docs,
                "failed": self.n_docs if errors else 0,
                "errors": errors, "result": self.last_row}

    def counts(self, spark) -> dict:
        """Candidate and verified pair counts of the chain's LSH stages."""
        from pyspark.sql import functions as F

        from html_sanitizer_spark.queries import (
            dedup_verify_cache_scope, q_dedup_minhash_pairs, q_dedup_verified)

        cand = q_dedup_minhash_pairs(spark, str(self.sf_dir)).collect()[0][0]
        with dedup_verify_cache_scope():
            verified = q_dedup_verified(spark, str(self.sf_dir)).filter(
                F.col("is_dup") == 1).count()
        return {"candidate_pairs": cand, "verified_pairs": verified}


WORKLOADS = {w.name: w for w in (SkewCkpt, TameNested, DedupChain)}
