"""Multi-executor-JVM golden replay.

The north_rule requires the job to run "via spark-submit --py-files on a
multi-executor cluster". `test_ship_path.py` proves the spark-submit
--py-files vehicle on local[N] threads; this test proves the OTHER half:
the same salted sanitize pipeline on `local-cluster[2,2,2048]` — two REAL
executor JVMs with their own heaps, block managers, and Python workers,
talking to the driver over RPC — with the package shipped to the
executors through `spark.submit.pyFiles` (executors do NOT inherit the
driver's sys.path, so a broken ship path fails loudly here with
ModuleNotFoundError in the executor, not a silent local fallback).

Runs in a subprocess because the suite's shared local[N] session and a
local-cluster session cannot coexist in one JVM/process (conftest gotcha).
The invariant asserted is the north rule's: span-sequence equality
(kind, text, media_ref, order) per document against the golden expected
output, media spans byte-identical and in position.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .golden_cases import CASES, expected

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import json, sys
from html_sanitizer_spark.pipeline.session import get_spark
from html_sanitizer_spark.pipeline.synth import golden_spans_df
from html_sanitizer_spark.pipeline.job import sanitize_spans

zip_path = sys.argv[1]
spark = get_spark("multi-exec-golden", executors=2,
                  extra_conf={"spark.submit.pyFiles": zip_path})
df = golden_spans_df(spark)
out = sanitize_spans(spark, df, salt_buckets=8)
rows = {r["doc_id"]: [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                      for s in r["spans"]]
        for r in out.collect()}
# block managers = driver + one per executor JVM; sampled AFTER the job
# (executors register asynchronously — a probe at session start sees 1)
n_bm = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
print("RESULT" + json.dumps({"n_block_managers": n_bm, "rows": rows}))
spark.stop()
"""


def test_golden_replay_on_two_executor_jvms(tmp_path):
    zip_path = str(tmp_path / "hss.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "build_pyfiles.py"),
         zip_path],
        check=True, capture_output=True,
    )
    r = subprocess.run(
        [sys.executable, "-c", _DRIVER, zip_path],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-3000:])
    payload = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT")][-1][6:]
    )
    assert payload["n_block_managers"] == 3  # driver + 2 executor JVMs

    rows = payload["rows"]
    want = {c.case_id: (c, expected(c)) for c in CASES if c.config == "default"}
    assert set(rows) == set(want)
    for doc_id, (case, want_text) in want.items():
        spans = rows[doc_id]
        assert [s[0] for s in spans] == ["image", "text", "video"], doc_id
        assert spans[0][2] == f"media://pre/{doc_id}" and spans[0][1] == ""
        assert spans[2][2] == f"media://post/{doc_id}" and spans[2][1] == "cap"
        assert [s[3] for s in spans] == [0, 1, 2], doc_id
        got = spans[1][1]
        if case.strip:
            got, want_text = got.strip(), want_text.strip()
        assert got == want_text, doc_id
