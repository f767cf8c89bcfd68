"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The check tests are fast and need no Spark. ``test_smoke_all_workloads``
runs every workload at a tiny size in fresh processes (a few minutes; the
first run in a checkout also builds the input pools).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402


def _labels(n: int = 20) -> pd.DataFrame:
    keep = [i % 4 != 0 for i in range(n)]
    return pd.DataFrame(
        {
            "clip_id": [f"c{i}" for i in range(n)],
            "expect_keep": keep,
            "expect_drop_rule": [None if k else "langid" for k in keep],
            "expect_transcript_scrubbed": [f"text {i}" if k else None for i, k in enumerate(keep)],
            "family": [None] * n,
        }
    )


def _qc_output(labels: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "clip_id": labels["clip_id"],
            "transcript": labels["expect_transcript_scrubbed"],
            "status": ["kept" if k else r for k, r in zip(labels["expect_keep"], labels["expect_drop_rule"])],
        }
    )


def test_qc_check_passes_on_oracle_output():
    labels = _labels()
    ck = checks.Checks()
    assert checks.check_qc(ck, _qc_output(labels), labels) == 1.0
    assert ck.failed == 0 and ck.attempted == 3


def test_qc_check_fails_on_one_flipped_keep():
    labels = _labels()
    out = _qc_output(labels)
    out.loc[0, "status"] = "kept"  # an oracle drop the engine kept
    ck = checks.Checks()
    assert checks.check_qc(ck, out, labels) < checks.MIN_KEEP_F1
    assert [f.split(":")[0] for f in ck.failures] == ["qc.keep_f1"]


def test_qc_check_fails_on_unscrubbed_transcript():
    labels = _labels()
    out = _qc_output(labels)
    out.loc[1, "transcript"] = "call +1 (415) 555-0133"
    ck = checks.Checks()
    checks.check_qc(ck, out, labels)
    assert [f.split(":")[0] for f in ck.failures] == ["qc.scrub"]


def _corpus():
    labels = _labels(12)
    labels["expect_keep"] = True
    # family c0 = {c0, c1, c2} (c2 an exact copy of c0), family c5 = {c5, c6}
    labels["family"] = ["c0", "c0", "c0", None, None, "c5", "c5"] + [None] * 5
    qc_out = pd.DataFrame({"clip_id": labels["clip_id"], "transcript": [f"t{i}" for i in range(12)], "status": "kept"})
    qc_out.loc[2, "transcript"] = "t0"
    final = qc_out[~qc_out["clip_id"].isin(["c1", "c2", "c6"])][["clip_id", "transcript"]]
    return labels, qc_out, final


def test_corpus_check_passes_when_each_family_collapses():
    labels, qc_out, final = _corpus()
    assert checks.dedup_truth(labels) == {"c1", "c2", "c6"}
    ck = checks.Checks()
    assert checks.check_corpus(ck, qc_out, final, labels) == 1.0
    assert ck.failed == 0


def test_corpus_check_fails_on_one_surviving_duplicate():
    labels, qc_out, final = _corpus()
    ck = checks.Checks()
    survivor = pd.concat([final, qc_out.loc[[2], ["clip_id", "transcript"]]])  # exact copy of c0
    assert checks.check_corpus(ck, qc_out, survivor, labels) < checks.MIN_DEDUP_F1
    assert sorted(f.split(":")[0] for f in ck.failures) == ["corpus.dedup_f1", "corpus.exact"]


def test_bare_directory_fails_without_result(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: the run must fail."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "qc_stream", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_smoke_all_workloads():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "all", "--seed", "1", "--seconds", "1", "--smoke"],
        capture_output=True, text=True, timeout=1800,
    )
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 0, res
    assert res["correct"]
    for name, r in res["all"].items():
        assert r["correct"] and r["failed"] == 0, name
