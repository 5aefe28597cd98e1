"""Correctness gate: checks the program's outputs outside the timed region.

Every check returns the set of document ids it failed, so the run can
report ``failed / attempted`` over documents.
"""

from __future__ import annotations

import random
from typing import Callable

Docs = dict  # doc_id -> list of span dicts (kind, text, media_ref, offset)


def docs_by_id(table) -> Docs:
    """(doc_id, spans) Arrow table -> {doc_id: spans}."""
    return dict(zip(table.column("doc_id").to_pylist(),
                    table.column("spans").to_pylist()))


def span_invariants(inp: Docs, out: Docs) -> set:
    """Docs whose span sequence differs from the input in anything but the
    text of text-kind spans: doc missing or extra, span count, and per span
    the kind, media_ref, offset and (for media spans) the text."""
    bad = set(inp) ^ set(out)
    for doc_id, want in inp.items():
        got = out.get(doc_id)
        if got is None:
            continue
        want, got = want or [], got or []
        if len(want) != len(got):
            bad.add(doc_id)
            continue
        for a, b in zip(want, got):
            if (a is None) != (b is None):
                bad.add(doc_id)
                break
            if a is None:
                continue
            if (a["kind"], a["media_ref"], a["offset"]) != (
                    b["kind"], b["media_ref"], b["offset"]) or (
                    a["kind"] != "text" and a["text"] != b["text"]):
                bad.add(doc_id)
                break
    return bad


def text_mismatches(inp: Docs, out: Docs, doc_ids,
                    sanitize: Callable[[str], str]) -> set:
    """Docs among ``doc_ids`` whose text spans differ from ``sanitize``
    applied to the input text (a null text stays null)."""
    bad = set()
    for doc_id in doc_ids:
        got = out.get(doc_id)
        if got is None:
            bad.add(doc_id)
            continue
        for a, b in zip(inp[doc_id] or [], got or []):
            if a is None or b is None or a["kind"] != "text":
                continue
            want = None if a["text"] is None else sanitize(a["text"])
            if b["text"] != want:
                bad.add(doc_id)
                break
    return bad


def golden_text(out: Docs, cases) -> dict:
    """Sanitized text of each golden doc in ``out``. ``golden_spans_df``
    builds a golden doc as one text span between two media sentinels."""
    got = {}
    for case in cases:
        spans = out.get(case.case_id)
        if spans and len(spans) == 3 and spans[1] is not None:
            got[case.case_id] = spans[1]["text"]
    return got


def golden_mismatches(got: dict, cases) -> set:
    """Golden case ids whose text in ``got`` is not the golden answer."""
    bad = set()
    for case in cases:
        if case.case_id not in got:
            bad.add(case.case_id)
            continue
        text = got[case.case_id]
        want = case.before if case.after is None else case.after
        if case.strip:
            text, want = (text or "").strip(), want.strip()
        if text != want:
            bad.add(case.case_id)
    return bad


def sample_ids(inp: Docs, seed: int, n: int, must: set) -> list:
    """Seeded sample of ``n`` doc ids plus every id in ``must``."""
    ids = sorted(inp)
    rng = random.Random(seed)
    return sorted(set(rng.sample(ids, min(n, len(ids)))) | must)


def dedup_invariants(row: dict, n_docs: int, group_size: int) -> list[str]:
    """Aggregate checks on one q_dedup_apply result row."""
    errors = []
    if row["n_input"] != n_docs:
        errors.append(f"n_input {row['n_input']} != generated {n_docs}")
    if row["n_removed"] + row["n_survivors"] != row["n_input"]:
        errors.append("n_removed + n_survivors != n_input")
    if row["n_survivors"] * group_size < n_docs:
        errors.append(f"n_survivors {row['n_survivors']} < "
                      f"{n_docs} / {group_size}")
    return errors
