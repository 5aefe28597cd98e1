"""Single-process replay of text spans through the engine's public stages.

``engine.core.sanitize`` is timed whole; its parse, clean and serialize
stages are timed again through the public ``parse_fragment``,
``coarse_clean``/``strict_clean`` and ``serialize`` on the same spans. The
fixpoint walk is what remains.
"""

from __future__ import annotations

import re
import time
import unicodedata

_MARKUP = re.compile(r"[<>&]")


def replay(texts: list[str], rounds: int = 2) -> dict:
    """Engine metrics over ``texts`` (the fastest of ``rounds`` passes)."""
    from html_sanitizer_spark.engine.cleaner import coarse_clean, strict_clean
    from html_sanitizer_spark.engine.core import (
        normalize_overall_whitespace, sanitize)
    from html_sanitizer_spark.engine.parser import parse_fragment
    from html_sanitizer_spark.engine.serializer import serialize
    from html_sanitizer_spark.engine.settings import get_settings

    settings = get_settings("default")
    if not texts:
        return {"us_per_span": 0.0, "us_per_kb": 0.0, "parse_share": 0.0,
                "clean_share": 0.0, "serialize_share": 0.0,
                "tree_path_share": 0.0}
    normalized = [unicodedata.normalize("NFKC", t) for t in texts]
    tree = [normalize_overall_whitespace(t, settings)
            for t in normalized if _MARKUP.search(t)]
    total = parse = clean = ser = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        for t in texts:
            sanitize(t, settings)
        total = min(total, time.perf_counter() - t0)
        p = c = s = 0.0
        for t in tree:
            t0 = time.perf_counter()
            root = parse_fragment("<div>%s</div>" % t)
            t1 = time.perf_counter()
            coarse_clean(root, settings.tags)
            strict_clean(root, settings.tags)
            t2 = time.perf_counter()
            serialize(root)
            t3 = time.perf_counter()
            p, c, s = p + t1 - t0, c + t2 - t1, s + t3 - t2
        parse, clean, ser = min(parse, p), min(clean, c), min(ser, s)
    kb = sum(len(t.encode()) for t in texts) / 1024
    return {
        "us_per_span": total / len(texts) * 1e6,
        "us_per_kb": total / kb * 1e6 if kb else 0.0,
        "parse_share": parse / total,
        "clean_share": clean / total,
        "serialize_share": ser / total,
        "tree_path_share": len(tree) / len(texts),
    }
