"""Ground-truth semantics of the late-r06 operators (simhash_neardup,
substring_dedup, tfidf_topk, bpe_encode, link_pagerank) — properties the
DuckDB parity gate cannot see because both engines could be wrong the
same way: pair orientation, threshold binding against designed inputs,
rank-sequence shape, and conservation laws."""

from __future__ import annotations

import pyspark.sql.functions as F

from html_sanitizer_spark.queries import (
    q_bpe_encode,
    q_link_pagerank,
    q_simhash_neardup,
    q_substring_dedup,
    q_tfidf_topk,
)

SF = "/root/testdata/sf0.001"


def test_simhash_neardup_pair_contract(spark):
    rows = q_simhash_neardup(spark, SF).collect()
    assert rows, "designed near-dups must produce pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 3
    # the corpus contains exact-duplicate texts whose augmented forms
    # still coincide (same marker parity) -> at least one Hamming-0 pair,
    # and the marker injection must also produce NEAR (nonzero) pairs
    hams = {r.hamming for r in rows}
    assert 0 in hams
    assert hams - {0}, "marker injection should yield Hamming 1-3 pairs"


def test_substring_dedup_prologue_binds(spark):
    out = q_substring_dedup(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length(F.trim("text")).alias("lt")
    )
    j = out.join(docs, "doc_id").collect()
    assert all(r.lt > 0 for r in j)
    # every prologue-carrying doc shares its pure-prologue window with
    # every other one (>= 2 such docs exist at any sf), so n_dup >= 1
    pro = [r for r in j if r.doc_id % 5 < 2]
    assert len(pro) >= 2
    assert all(r.n_dup >= 1 for r in pro)
    # fraction arithmetic: 0 <= n_dup <= n_windows, flag iff frac > 0.3
    for r in j:
        assert 0 <= r.n_dup <= r.n_windows
        assert r.flagged == (1 if r.dup_frac > 0.3 else 0)
    # partial duplication must exist (the prologue case), not just 0/1
    assert any(0 < r.dup_frac < 1 for r in j)


def test_tfidf_topk_rank_shape(spark):
    rows = q_tfidf_topk(spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_rows in by_doc.values():
        ranks = sorted(r.term_rank for r in doc_rows)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
        # scores weakly decrease in rank order at the ranking grain;
        # output is at the coarser 4-decimal grain so allow its half-ulp
        ordered = sorted(doc_rows, key=lambda r: r.term_rank)
        for a, b in zip(ordered, ordered[1:]):
            assert a.tfidf >= b.tfidf - 5e-5, (a, b)
        assert all(r.tfidf > 0 for r in doc_rows)


def test_bpe_encode_compression_bounds(spark):
    rows = q_bpe_encode(spark, SF).collect()
    assert rows
    for r in rows:
        # merges can only shrink the character-split representation, and
        # every word is >= 2 chars, so subwords/word lies in (1, max_len]
        assert r.n_words >= 1
        assert r.n_subwords >= r.n_words  # a word is >= 1 subword
        assert r.avg_subwords > 1.0
    # the 5 learned merges must actually compress somewhere: raw
    # char-split average word length is > avg_subwords on this corpus
    avg = sum(r.n_subwords for r in rows) / sum(r.n_words for r in rows)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    raw = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda w: F.length(w) >= 2,
                )
            ).alias("w")
        )
        .agg(F.avg(F.length("w")))
        .collect()[0][0]
    )
    assert avg < raw, (avg, raw)


def test_link_pagerank_mass_conservation_and_floor(spark):
    rows = q_link_pagerank(spark, SF).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pagerank for r in rows)
    # fixed-point floor division leaks strictly less than a few units per
    # node per iteration at scale 1e15 -> total normalized mass within
    # 0.1% of n
    assert abs(total - n) / n < 1e-3, total
    # every node keeps at least the teleport floor (1-d)/n -> 0.15
    # normalized (minus fixed-point/rounding grain)
    assert all(r.pagerank >= 0.1499 for r in rows)
    # the digest graph is non-regular, so ranks must actually spread
    assert max(r.pagerank for r in rows) > 1.2


def test_link_pagerank_is_run_deterministic(spark):
    """Fixed-point BIGINT iteration must make PageRank bit-identical
    across independent plan builds (different partial-aggregation orders
    are the whole reason the op avoids doubles): two fresh builds must
    agree exactly, including the final rounded output."""
    a = {r.doc_id: r.pagerank for r in q_link_pagerank(spark, SF).collect()}
    b = {r.doc_id: r.pagerank for r in q_link_pagerank(spark, SF).collect()}
    assert a == b


def test_substring_dedup_survives_uniform_hot_digest(spark):
    """Skew posture check: a corpus where EVERY doc is the same text puts
    the entire window stream under one digest (the worst hot key). The
    operator must still answer correctly — every window duplicated,
    fraction 1.0, all flagged — and do so through the same digest-keyed
    join (AQE handles the residual skew at scale; correctness must not
    depend on key spread)."""
    import pyspark.sql.functions as F
    from html_sanitizer_spark.queries import q_substring_dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon")
         for i in range(200)],
        "doc_id long, text string",
    ).withColumn("n_chars", F.length("text"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        out = q_substring_dedup(spark, td).collect()
    assert len(out) == 200
    for r in out:
        assert r.n_dup == r.n_windows
        assert r.dup_frac == 1.0
        assert r.flagged == 1


def test_semantic_dedup_matches_independent_python(spark):
    """Third-implementation check for semantic_dedup: rebuild the whole
    quantize -> fixed-point Lloyd -> within-cluster keep-first prune in
    pure Python (exact ints for geometry, left-to-right double sums for
    the cosine, Spark's HALF_UP rounding) and require label-for-label and
    flag-for-flag equality. The DuckDB parity gate can't see a bug both
    SQL engines share; an arbitrary-precision-int reimplementation can."""
    import math

    from html_sanitizer_spark.queries import q_semantic_dedup

    out = {r.vec_id: r for r in q_semantic_dedup(spark, SF).collect()}
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    assert set(out) == set(emb)

    qv = {
        v: [math.floor(x * 1e6) + 4_000_000 for x in arr]
        for v, arr in emb.items()
    }
    cents = [qv[v][:] for v in sorted(v for v in qv if v % 61 == 0)[:8]]

    def assign(cv):
        return {
            v: min(
                (sum((a - b) * (a - b) for a, b in zip(vec, c)), i)
                for i, c in enumerate(cv)
            )[1]
            for v, vec in qv.items()
        }

    for _ in range(2):
        lab = assign(cents)
        for i in range(8):
            mem = [qv[v] for v in qv if lab[v] == i]
            if mem:
                cents[i] = [sum(col) // len(mem) for col in zip(*mem)]
    lab = assign(cents)
    assert {v: r.cluster for v, r in out.items()} == lab

    sizes = {}
    for c in lab.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert all(r.n_cluster == sizes[lab[v]] for v, r in out.items())

    def unit(arr):
        n = math.sqrt(sum(x * x for x in arr))
        return [x / n for x in arr]

    un = {v: unit(arr) for v, arr in emb.items()}

    def cos4(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += x * y
        # Spark F.round = HALF_UP (only positive values reach the filter)
        return math.floor(d * 1e4 + 0.5) / 1e4 if d > 0 else d

    for v, r in out.items():
        dup = any(
            w < v and lab[w] == lab[v] and cos4(un[w], un[v]) >= 0.35
            for w in qv
        )
        assert r.is_removed == int(dup), (v, r)
    # keep-first corollary: each cluster's smallest id always survives
    firsts = {min(v for v in lab if lab[v] == c) for c in set(lab.values())}
    assert all(out[v].is_removed == 0 for v in firsts)


def test_c4_filters_matches_independent_python(spark):
    """Third-implementation check for c4_filters: rebuild the page
    construction + the full C4 rule battery in plain Python string ops
    and require column-for-column equality, then assert each designed
    rule actually binds on its doc_id subset."""
    from html_sanitizer_spark.queries import q_c4_filters

    out = {r.doc_id: r for r in q_c4_filters(spark, SF).collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r.text is not None and r.text.strip()
    }
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        w = text.strip().split(" ")
        lines = []
        for j in range((len(w) + 7) // 8):
            ln = " ".join(w[j * 8 : j * 8 + 8])
            if doc_id % 11 == 0 and j == 0:
                ln += " javascript required"
            if j % 3 != 2:
                ln += "."
            lines.append(ln)
        if doc_id % 13 == 0:
            lines.append("lorem ipsum dolor sit amet.")
        if doc_id % 17 == 0:
            lines.append("var config = { a: 1 };")
        kept = [
            ln
            for ln in lines
            if ln.endswith((".", "!", "?"))
            and "javascript" not in ln
            and len(ln.split(" ")) >= 5
        ]
        page = "\n".join(lines)
        has_lorem = int("lorem ipsum" in page)
        has_brace = int("{" in page)
        r = out[doc_id]
        assert (
            r.n_lines,
            r.n_kept,
            r.n_kept_words,
            r.has_lorem,
            r.has_brace,
            r.keep,
        ) == (
            len(lines),
            len(kept),
            sum(len(ln.split(" ")) for ln in kept),
            has_lorem,
            has_brace,
            int(len(kept) >= 3 and not has_lorem and not has_brace),
        ), doc_id
    # each designed rule binds on its subset
    assert all(out[v].keep == 0 for v in out if v % 13 == 0)
    assert all(out[v].keep == 0 for v in out if v % 17 == 0)
    assert any(out[v].has_lorem for v in out)
    assert any(out[v].has_brace for v in out)
    # the javascript rule costs doc%11 docs their first line
    assert any(v % 11 == 0 and out[v].n_kept < out[v].n_lines for v in out)


def test_host_cap_sample_matches_independent_python(spark):
    """Third-implementation check for host_cap_sample: recompute the
    deterministic per-host draw in plain Python (hashlib md5 order) and
    require the kept sets, ranks, and host sizes to match exactly; then
    assert the skew design binds (megahost capped, under-cap hosts pass
    through whole)."""
    import hashlib

    from html_sanitizer_spark.queries import q_host_cap_sample

    rows = q_host_cap_sample(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    byhost: dict[str, list] = {}
    for r in docs:
        host = (
            "megahost.example.org"
            if r.doc_id % 3 == 0
            else f"{r.source}.example.org"
        )
        byhost.setdefault(host, []).append(r.doc_id)
    expect = {}
    for host, ids in byhost.items():
        order = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        for rank, i in enumerate(order[:20], start=1):
            expect[i] = (host, rank, len(ids))
    got = {r.doc_id: (r.host, r.host_rank, r.n_host) for r in rows}
    assert got == expect
    mega = [r for r in rows if r.host == "megahost.example.org"]
    assert len(mega) == 20 and mega[0].n_host > 100  # cap bound the hot host
    small = [r for r in rows if r.n_host <= 20]
    assert small, "under-cap hosts must exist"
    for host in {r.host for r in small}:
        assert len([r for r in rows if r.host == host]) == len(byhost[host])


def test_curation_pipeline_counts_compose_from_stage_operators(spark):
    """Composition proof for curation_pipeline: rebuild each stage's
    keep-set from the STANDALONE operators plus a plain-Python host cap
    over the C4 survivors (the pipeline caps after filtering, so the
    standalone cap output is deliberately NOT reusable here) and require
    the per-stage (n_docs, n_chars) counters to match exactly."""
    import hashlib

    from html_sanitizer_spark.queries import (
        q_c4_filters,
        q_curation_pipeline,
        q_semantic_dedup,
    )

    stages = {
        r.stage: (r.n_docs, r.n_chars)
        for r in q_curation_pipeline(spark, SF).collect()
    }
    assert set(stages) == {"input", "c4", "host_cap", "semantic"}

    docs = {
        r.doc_id: r
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r.text is not None and r.text.strip()
    }
    c4keep = {
        r.doc_id for r in q_c4_filters(spark, SF).collect() if r.keep == 1
    }
    byhost: dict[str, list] = {}
    for i in sorted(c4keep):
        host = (
            "megahost.example.org"
            if i % 3 == 0
            else f"{docs[i].source}.example.org"
        )
        byhost.setdefault(host, []).append(i)
    capkeep = set()
    for ids in byhost.values():
        order = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        capkeep.update(order[:20])
    semrm = {
        r.vec_id
        for r in q_semantic_dedup(spark, SF).collect()
        if r.is_removed == 1
    }
    final = capkeep - semrm

    def agg(ids):
        return (len(ids), sum(docs[i].n_chars for i in ids))

    assert stages["input"] == agg(set(docs))
    assert stages["c4"] == agg(c4keep)
    assert stages["host_cap"] == agg(capkeep)
    assert stages["semantic"] == agg(final)
    # every stage monotonically shrinks, and every stage actually bit
    n = [stages[s][0] for s in ("input", "c4", "host_cap", "semantic")]
    assert n[0] > n[1] > n[2] > n[3] > 0


def test_bloom_prefilter_matches_independent_python(spark):
    """Third-implementation check for bloom_prefilter: rebuild the bit
    array and the probe in plain Python ints (hashlib digests, the same
    three 8-hex slices mod m) and require flag-for-flag equality; then
    the soundness invariants — ZERO false negatives, the designed %30
    banner duplicates all caught, and the undersized filter actually
    producing false positives (the accounting path is exercised)."""
    import hashlib

    from html_sanitizer_spark.queries import _BLOOM_M, q_bloom_prefilter

    rows = {r.doc_id: r for r in q_bloom_prefilter(spark, SF).collect()}
    BANNER = "subscribe to our newsletter boilerplate banner"
    digests = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        eff = BANNER if r.doc_id % 10 == 0 else r.text
        digests[r.doc_id] = hashlib.md5(eff.encode()).hexdigest()

    def positions(h):
        return [int(h[o - 1 : o + 7], 16) % _BLOOM_M for o in (1, 9, 17)]

    prior = {d for i, d in digests.items() if i % 3 != 0}
    bits = set()
    for h in prior:
        bits.update(positions(h))
    for doc_id, h in digests.items():
        if doc_id % 3 != 0:
            continue
        maybe = int(all(p in bits for p in positions(h)))
        is_dup = int(h in prior)
        r = rows[doc_id]
        assert (r.bloom_maybe, r.is_dup, r.false_positive) == (
            maybe,
            is_dup,
            int(maybe == 1 and is_dup == 0),
        ), doc_id
    # soundness: no false negatives anywhere
    assert all(r.bloom_maybe == 1 for r in rows.values() if r.is_dup == 1)
    # the designed banner duplicates are exactly the %30 new docs
    assert {i for i, r in rows.items() if r.is_dup == 1} == {
        i for i in rows if i % 30 == 0
    }
    # the undersized demo filter must actually exercise the fp path
    assert any(r.false_positive == 1 for r in rows.values())


def test_cms_token_counts_matches_independent_python(spark):
    """Third-implementation check for cms_token_counts: rebuild the d x w
    sketch and the top-k audit in plain Python (hashlib slices, dict
    counters) and require row-for-row equality; then the CMS guarantees —
    est >= true for EVERY audited token (one-sided error), the undersized
    demo sketch actually colliding (some overcount > 0), and min-over-rows
    beating any single row (est <= each row's counter)."""
    import hashlib

    from html_sanitizer_spark.queries import (
        _CMS_D,
        _CMS_OFFS,
        _CMS_W,
        q_cms_token_counts,
    )

    rows = {r.token: r for r in q_cms_token_counts(spark, SF).collect()}
    counts: dict[str, int] = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        if r.text is None or not r.text.strip():
            continue
        for t in r.text.strip().split(" "):
            if t:
                counts[t] = counts.get(t, 0) + 1

    def cols(token):
        h = hashlib.md5(token.encode()).hexdigest()
        return [
            (r, int(h[off - 1 : off + 7], 16) % _CMS_W)
            for r, off in enumerate(_CMS_OFFS[:_CMS_D])
        ]

    sketch: dict[tuple, int] = {}
    for t, n in counts.items():
        for rc in cols(t):
            sketch[rc] = sketch.get(rc, 0) + n
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert set(rows) == {t for t, _ in top}
    for t, n in top:
        est = min(sketch[rc] for rc in cols(t))
        r = rows[t]
        assert (r.true_count, r.est_count, r.overcount) == (n, est, est - n)
        assert r.est_count >= r.true_count  # one-sided CMS guarantee
    assert any(r.overcount > 0 for r in rows.values())  # collisions bind


def test_hll_cardinality_matches_independent_python(spark):
    """Third-implementation check for hll_cardinality: rebuild the
    bucket/rho registers, the exact-BIGINT harmonic sum, and the final
    estimate in plain Python and require value equality at the output
    grain; then the estimator sanity bounds (single digit-percent error
    regime for m=64 at n=500: rel_err well under the ~3x sigma of
    1.04/sqrt(64) = 0.13 ... allow 0.4 to stay flake-free)."""
    import hashlib
    import math

    from html_sanitizer_spark.queries import (
        _HLL_C,
        _HLL_M,
        _HLL_SCALE,
        q_hll_cardinality,
    )

    row = q_hll_cardinality(spark, SF).collect()
    assert len(row) == 1
    row = row[0]
    hs = {
        hashlib.md5(r.text.encode()).hexdigest()
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    regs = [0] * _HLL_M
    for h in hs:
        b = int(h[0:2], 16) % _HLL_M
        v = int(h[2:16], 16)
        rho = 57 if v == 0 else 57 - v.bit_length()
        regs[b] = max(regs[b], rho)
    s_int = sum(1 << (_HLL_SCALE - min(r, _HLL_SCALE)) for r in regs)
    zeros = sum(1 for r in regs if r == 0)
    raw = _HLL_C / float(s_int)
    est = (
        _HLL_M * math.log(_HLL_M / zeros)
        if raw <= 2.5 * _HLL_M and zeros > 0
        else raw
    )
    assert row.n_true == len(hs)
    assert row.hll_est == round(est, 4)
    assert row.rel_err == round(abs(est - len(hs)) / len(hs), 4)
    assert row.rel_err < 0.4


def test_semantic_dedup_empty_cluster_keeps_old_centroid(spark):
    """Edge-case differential for the Lloyd fallback branch: seed
    vectors 0 and 61 are IDENTICAL, so on the first assignment the
    lower cid wins the tie for every would-be member and cluster 1 goes
    EMPTY — the update must keep its previous centroid (Spark:
    means.get fallback; oracle: the CASE WHEN m.cid IS NULL arm), and
    the two engines must still agree value-for-value. Runs on a
    constructed temp corpus; also pins that the duplicated seed pair is
    mutually cosine-1 and dedups keep-first."""
    import math
    import tempfile

    import duckdb

    from html_sanitizer_spark.queries import REGISTRY

    def vec(seed):
        # deterministic pseudo-vector, no RNG state dependence
        return [
            math.sin(0.1 * seed + 0.37 * j) * 0.3 for j in range(64)
        ]

    rows = []
    for i in range(200):
        v = vec(61) if i in (0, 61) else vec(i)
        rows.append((i, [float(x) for x in v], i % 5))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    fn, sql = REGISTRY["semantic_dedup"]
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/embeddings.parquet")
        out = fn(spark, td).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{td}/embeddings.parquet/*.parquet')"
        )
        oracle = con.execute(sql).df()
    canon = lambda d: sorted(  # noqa: E731
        "|".join(str(r[c]) for c in sorted(d.columns))
        for _, r in d.iterrows()
    )
    assert canon(out) == canon(oracle)
    assert len(out) == 200
    by_vec = out.set_index("vec_id")
    # the duplicated seed pair: same cluster, identical vectors ->
    # cosine 1 -> keep-first removes 61, keeps 0
    assert by_vec.loc[0, "cluster"] == by_vec.loc[61, "cluster"]
    assert by_vec.loc[0, "is_removed"] == 0
    assert by_vec.loc[61, "is_removed"] == 1
    # prove the fallback branch actually fired: on the FIRST assignment
    # every point ties c0 vs the identical c1 and the lower cid wins, so
    # cluster 1 has zero members in iteration 1's update (by the final
    # assignment it may regain members — its centroid stays put while
    # cluster 0's drifts to the mean, which is exactly the kept-old-
    # centroid semantics under test)
    qv = {
        i: [math.floor(x * 1e6) + 4_000_000 for x in (vec(61) if i in (0, 61) else vec(i))]
        for i in range(200)
    }
    seeds = [qv[v] for v in sorted(v for v in qv if v % 61 == 0)[:8]]
    first = {
        v: min(
            (sum((a - b) * (a - b) for a, b in zip(w, c)), i)
            for i, c in enumerate(seeds)
        )[1]
        for v, w in qv.items()
    }
    assert 1 not in set(first.values())


def test_doc_chunking_matches_independent_python(spark):
    """Third-implementation check for doc_chunking: rebuild the strided
    windows in plain Python and require row-for-row equality, then the
    coverage laws — chunk starts every S tokens, consecutive full chunks
    overlap by exactly W-S tokens, the union of chunks covers the whole
    token stream, and every chunk is nonempty with only the tail short."""
    import hashlib

    from html_sanitizer_spark.queries import _CHUNK_S, _CHUNK_W, q_doc_chunking

    rows = q_doc_chunking(spark, SF).collect()
    got = {(r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_digest) for r in rows}
    assert len(got) == len(rows)  # (doc, idx) unique
    docs = {
        r.doc_id: r.text.strip().split(" ")
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r.text is not None and r.text.strip()
    }
    expect = {}
    for doc_id, w in docs.items():
        n_chunks = (len(w) - 1) // _CHUNK_S + 1
        for j in range(n_chunks):
            toks = w[j * _CHUNK_S : j * _CHUNK_S + _CHUNK_W]
            expect[(doc_id, j)] = (
                len(toks),
                hashlib.md5(" ".join(toks).encode()).hexdigest(),
            )
    assert got == expect
    # coverage law: chunks tile the stream with stride S
    for doc_id, w in docs.items():
        idxs = sorted(j for d, j in got if d == doc_id)
        assert idxs == list(range(len(idxs)))
        sizes = [got[(doc_id, j)][0] for j in idxs]
        assert all(s > 0 for s in sizes)
        # exact size law: each chunk is W tokens unless clipped by the
        # stream end (with S < W the clip can hit the penultimate chunk
        # too, e.g. 78 tokens -> 32, 32, 30, 6)
        assert sizes == [
            min(_CHUNK_W, len(w) - _CHUNK_S * j) for j in idxs
        ]
        # last chunk ends exactly at the stream end
        assert (len(idxs) - 1) * _CHUNK_S + sizes[-1] == len(w)


def test_classifier_quality_matches_independent_python(spark):
    """Third-implementation check for classifier_quality: rebuild the
    hashed-weight scoring in plain Python (hashlib buckets, exact int
    weight sums, one final sigmoid) and require value equality; then the
    decision-boundary laws — keep iff score >= 0.5 which (sigmoid
    monotonicity) is wsum >= 0, and both classes present so the filter
    actually separates."""
    import hashlib
    import math

    from html_sanitizer_spark.queries import (
        _CLF_BUCKETS,
        q_classifier_quality,
    )

    rows = {r.doc_id: r for r in q_classifier_quality(spark, SF).collect()}

    def weight(token):
        b = int(hashlib.md5(token.encode()).hexdigest()[:8], 16) % _CLF_BUCKETS
        return (
            int(hashlib.md5(str(b).encode()).hexdigest()[:8], 16) % 201
        ) - 100

    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        if r.text is None or not r.text.strip():
            continue
        toks = [t for t in r.text.strip().split(" ") if t]
        wsum = sum(weight(t) for t in toks)
        score = 1.0 / (1.0 + math.exp(-(wsum / (25.0 * len(toks)))))
        got = rows[r.doc_id]
        assert (got.wsum, got.n_tokens) == (wsum, len(toks)), r.doc_id
        assert got.score == round(score, 4), r.doc_id
        assert got.keep == int(score >= 0.5)
        assert got.keep == int(wsum >= 0)  # sigmoid monotonicity
    keeps = {r.keep for r in rows.values()}
    assert keeps == {0, 1}, "filter must actually separate the corpus"


def test_jl_projection_matches_python_and_preserves_distances(spark):
    """Third-implementation check for jl_projection (hashlib-free: the
    same seeded plane generator, plain-Python dots) plus the JL
    property the transform exists for: squared distances between
    sampled pairs are preserved in expectation — per-pair ratios stay
    within loose deterministic bounds and the mean ratio is near 1."""
    import math

    from html_sanitizer_spark.functions.similarity import _hyperplanes
    from html_sanitizer_spark.queries import _JL_K, _JL_SEED, q_jl_projection

    rows = q_jl_projection(spark, SF).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.vec_id, [0.0] * _JL_K)[r.dim] = r.comp
    planes = _hyperplanes(64, _JL_K, _JL_SEED)
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    assert set(got) == set(emb)

    def unit(arr):
        n = math.sqrt(sum(x * x for x in arr))
        return [x / n for x in arr]

    expect = {}
    for v, arr in emb.items():
        u = unit(arr)
        comps = []
        for plane in planes:
            d = 0.0
            for x, y in zip(u, plane):
                d += x * y
            comps.append(round(d / 4.0, 4) + 0.0)
        expect[v] = comps
    assert got == expect
    # JL distance preservation on 40 deterministic pairs
    ids = sorted(emb)[:80]
    ratios = []
    for a, b in zip(ids[::2], ids[1::2]):
        ua, ub = unit(emb[a]), unit(emb[b])
        d_orig = sum((x - y) ** 2 for x, y in zip(ua, ub))
        d_proj = sum((x - y) ** 2 for x, y in zip(got[a], got[b]))
        if d_orig > 1e-9:
            ratios.append(d_proj / d_orig)
    assert ratios
    assert all(0.2 < r < 3.0 for r in ratios), ratios
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3, mean


def test_bpe_runs_dry_keeps_last_vocabulary_both_engines(spark):
    """Degenerate corpus whose merge pairs run DRY before k rounds: one
    distinct word 'ab' fuses in round 0, leaving no adjacent pairs.
    Spark's learner breaks keeping the last vocabulary; the generated
    oracle must mirror that (LEFT JOIN keep-previous fallback — a CROSS
    JOIN against the empty t{i} used to collapse the vocab CTE to zero
    rows). r06 advice #3 pin."""
    import tempfile

    import duckdb

    from html_sanitizer_spark.queries import (
        _bpe_encode_oracle_sql,
        _bpe_oracle_sql,
        q_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(0, "ab ab ab"), (1, "ab ab"), (2, "ab")],
        "doc_id long, text string",
    ).withColumn("n_chars", F.length("text"))
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{td}/documents.parquet/*.parquet')"
        )

        merges = q_bpe_merges(spark, td, k=5).collect()
        assert [(r.step, r.left_sym, r.right_sym, r.merged,
                 r.weighted_count) for r in merges] == [(0, "a", "b", "ab", 6)]
        o_merges = con.execute(_bpe_oracle_sql(5)).fetchall()
        assert o_merges == [(0, "a", "b", "ab", 6)]

        enc = {r.doc_id: (r.n_words, r.n_subwords, r.avg_subwords)
               for r in q_bpe_encode(spark, td, k=5).collect()}
        o_enc = {r[0]: (r[1], r[2], r[3])
                 for r in con.execute(_bpe_encode_oracle_sql(5)).fetchall()}
        # fully-fused vocab: every word is ONE subword in both engines
        assert enc == o_enc == {0: (3, 3, 1.0), 1: (2, 2, 1.0), 2: (1, 1, 1.0)}


def _file_scheme_bytes_read(spark) -> int:
    """Actual bytes read through the Hadoop file:// FileSystem — an
    EXECUTION-level counter (JVM-global, so tests measure deltas)."""
    gs = spark._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
    st = gs.get("file")
    return 0 if st is None else st.getLong("bytesRead")


def test_bpe_learn_scans_corpus_once(spark):
    """The 'corpus scanned ONCE' docstring claim is enforced at the
    bytes-read level (VERDICT r06 #2): k=5 merge rounds must read at most
    ~1.6x the file bytes of the k=0 learner (one word-count scan + footer
    noise). Before the words persist landed, every round's top-pair
    collect re-executed the corpus scan: ~6x."""
    from html_sanitizer_spark.queries import _bpe_learn

    spark.catalog.clearCache()  # an InMemoryRelation from an earlier test
    # would serve the scan and zero out the baseline

    b0 = _file_scheme_bytes_read(spark)
    _bpe_learn(spark, SF, 0, materialize_vocab=False)
    baseline = _file_scheme_bytes_read(spark) - b0
    assert baseline > 0

    b1 = _file_scheme_bytes_read(spark)
    merges, _ = _bpe_learn(spark, SF, 5, materialize_vocab=False)
    five_rounds = _file_scheme_bytes_read(spark) - b1
    assert len(merges) == 5
    assert five_rounds <= 1.6 * baseline, (
        f"k=5 learn read {five_rounds}B vs single-scan {baseline}B — "
        "the corpus word-count is re-executing per merge round"
    )


def test_semantic_dedup_hot_cluster_cap_binds(spark):
    """Designed hot cluster (VERDICT r06 #3): 1200 near-identical vectors
    all land in ONE k-means cluster, exceeding _SEM_BLOCK_CAP=1000. The
    deterministic vec_id % ceil(n/cap) sub-block must bound the prune:
    2 blocks -> keep-first per block -> exactly vec_ids 0 and 1 survive
    (without the cap a single keeper would remain — and the pair count
    would be O(n^2)). The DuckDB oracle must mirror the cap exactly."""
    import tempfile

    import duckdb

    from html_sanitizer_spark.queries import REGISTRY, _SEM_BLOCK_CAP

    n = 1200
    assert n > _SEM_BLOCK_CAP  # the guard must actually bind
    rows = [
        # IDENTICAL vectors (the wiggle varies only by dimension, not by
        # vec_id): duplicate seeds tie every assignment to the lowest
        # cid, so all n land in one cluster; every pairwise cosine is 1
        (i, [0.5 + 0.000001 * (j % 3) for j in range(64)], i % 5)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    fn, sql = REGISTRY["semantic_dedup"]
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/embeddings.parquet")
        out = fn(spark, td).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{td}/embeddings.parquet/*.parquet')"
        )
        oracle = con.execute(sql).fetchall()

    by_id = {r.vec_id: r for r in out}
    assert len(by_id) == n
    # one hot cluster holding everything
    assert {r.n_cluster for r in out} == {n}
    # cap semantics: ceil(1200/1000)=2 blocks keyed by vec_id%2 ->
    # keep-first PER BLOCK: survivors are the min even and min odd ids
    survivors = sorted(v for v, r in by_id.items() if r.is_removed == 0)
    assert survivors == [0, 1]
    # engine parity incl. the cap (same rows, same flags)
    o = {r[0]: (r[1], r[2], r[3]) for r in oracle}
    assert o == {
        r.vec_id: (r.cluster, r.n_cluster, r.is_removed) for r in out
    }


def test_sem_assign_kernel_matches_expression_form(spark):
    """r08: the numpy assignment kernel (_sem_assign_arrow) must agree
    with the Catalyst expression form (_sem_assign) on every vector —
    including distance TIES, which both must break toward the smallest
    cid. The arithmetic is exact int64 on both paths, so agreement is
    bitwise, not approximate; a synthetic duplicate centroid forces the
    tie branch."""
    import random

    from html_sanitizer_spark.queries import _sem_assign, _sem_assign_arrow

    rng = random.Random(7)
    rows = [
        (i, [rng.randrange(3_990_000, 4_010_000) for _ in range(8)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "qv"])
    cents = [(c, [rng.randrange(3_990_000, 4_010_000) for _ in range(8)])
             for c in range(4)]
    cents.append((4, list(cents[1][1])))  # duplicate centroid -> exact ties
    expr = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id", _sem_assign(F.col("qv"), cents).alias("cid")
        ).collect()
    }
    kern = {
        r["vec_id"]: r["cid"]
        for r in _sem_assign_arrow(df, cents, "cid").select(
            "vec_id", "cid"
        ).collect()
    }
    assert expr == kern
    # the duplicate of cid 1 must never win a tie
    assert 4 not in set(kern.values())


def test_simhash_kernel_matches_expression_form(spark):
    """r08: the simhash64_batch numpy/md5 kernel behind _simhash_of_texts
    must agree bitwise with the r07 Catalyst expression pipeline
    (explode -> md5 -> conv nibbles -> 64 when/sum votes -> sign bits),
    reconstructed here as the reference — including zero-vote bits
    (vote <= 0 -> bit 0), bit 63's INT64_MIN contribution, multi-space
    runs, non-ASCII tokens, and the dropped-row contract for docs whose
    token stream is empty (NULL / '' / all-spaces never reach the
    aggregate in the expression form)."""
    from html_sanitizer_spark.queries import _simhash_of_texts

    rows = [
        (0, "hello world hello"),
        (1, "  leading  and   trailing   "),
        (2, ""),
        (3, "   "),
        (4, None),
        (5, "único tokén ünïcode 漢字 漢字"),
        (6, "x"),
        (7, "a b a b"),  # even token count -> zero-vote candidates
        (8, "novelty0 novelty1 novelty2 " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    tok = df.select(
        "doc_id", F.explode(F.split(F.col("text"), " +")).alias("tok")
    ).filter(F.col("tok") != "")
    h = tok.select("doc_id", F.md5("tok").alias("h"))
    nibbles = [
        F.conv(F.substring("h", n + 1, 1), 16, 10).cast("int").alias(f"n{n}")
        for n in range(16)
    ]
    hn = h.select("doc_id", *nibbles)
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"n{b // 4}"), b % 4).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    v = hn.groupBy("doc_id").agg(*votes)
    bit_terms = [
        F.when(
            F.col(f"v{b}") > 0,
            F.lit(int(2 ** b if b < 63 else -(2 ** 63))).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    expr_col = bit_terms[0]
    for t in bit_terms[1:]:
        expr_col = expr_col + t
    expected = {
        r["doc_id"]: r["simhash"]
        for r in v.select("doc_id", expr_col.alias("simhash")).collect()
    }

    got = {
        r["doc_id"]: r["simhash"]
        for r in _simhash_of_texts(df.select("doc_id", "text")).collect()
    }
    assert got == expected
    assert set(got) == {0, 1, 5, 6, 7, 8}  # 2/3/4 dropped on both paths


def _simhash_reference(text):
    """SimHash-64 from per-nibble value counts, in plain Python ints: for
    bit b, a token votes +1 when bit (b % 4) of md5 hex nibble (b // 4)
    is set and -1 otherwise; a positive vote sets the bit, read as a
    signed 64-bit value. None when the text has no tokens."""
    import hashlib

    toks = [t for t in (text or "").split(" ") if t]
    if not toks:
        return None
    counts = [dict.fromkeys("0123456789abcdef", 0) for _ in range(16)]
    for t in toks:
        for n, ch in enumerate(hashlib.md5(t.encode()).hexdigest()[:16]):
            counts[n][ch] += 1
    sim = 0
    for b in range(64):
        vote = sum(c if (int(ch, 16) >> (b % 4)) & 1 else -c
                   for ch, c in counts[b // 4].items())
        if vote > 0:
            sim |= 1 << b
    return sim - (1 << 64) if sim >> 63 else sim


def test_simhash_kernel_matches_reference_on_multi_mb_doc():
    """The numpy vote reduction over a multi-MB non-ASCII document (tens
    of thousands of tokens in one reduceat segment, run-length spacing)
    and across the segment boundaries of a mixed batch, against the
    plain-Python reference."""
    from html_sanitizer_spark.functions.fingerprint import (
        simhash64_batch,
        simhash64_py,
    )

    words = ["único", "tokén", "漢字漢字", "ünïcode", "Ωμέγα", "дом", "🙂"]
    big = "  ".join(
        f"{words[i % len(words)] * 3}{i % 4099}" for i in range(80_000)
    )
    assert len(big.encode()) > 2_000_000
    assert simhash64_py(big) == _simhash_reference(big)

    batch = ["hello world hello", big, "", None, "  ", "a b a b", "x"]
    kept, sims = simhash64_batch(batch)
    assert kept == [0, 1, 5, 6]
    assert sims == [_simhash_reference(batch[i]) for i in kept]
