"""Output checks against independent references.

The QC outputs are read back with pyarrow, not Spark, and compared with
the ``oracle.label_frame`` labels computed when the pool was built; the
corpus build is compared with the planted duplicate truth. A failed check
counts as a failed operation and makes the run incorrect."""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
import pyarrow.dataset as ds

MIN_KEEP_F1 = 0.99   # the repository's engine-vs-oracle keep/drop gate
# The near-duplicate screen is approximate: it verifies Jaccard on shingles
# left after its hot-shingle filter, so it misses some planted edits whose
# full-shingle Jaccard clears the 0.7 threshold (dedup_f1 0.987-0.999 over
# ten seeds at this size). This floor flags a broken stage; the metric's
# bound in BENCHMARK.json flags a regression.
MIN_DEDUP_F1 = 0.95


class Checks:
    """Counts operations (timed jobs, micro-batches, output checks) and
    their failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    """A parquet directory (hive-partitioned when it has ``k=v`` dirs)."""
    hive = any("=" in d for d in os.listdir(path))
    dset = ds.dataset(path, format="parquet", partitioning="hive" if hive else None)
    return dset.to_table(columns=columns).to_pandas()


def read_qc(out_path: str) -> pd.DataFrame:
    return read_table(out_path, ["clip_id", "transcript", "status"])


def f1(predicted: set, truth: set) -> float:
    """F1 of a predicted positive set against the true one; 1.0 when both
    are empty (nothing to find, nothing wrongly found)."""
    if not predicted and not truth:
        return 1.0
    tp = len(predicted & truth)
    return 2 * tp / (len(predicted) + len(truth))


def check_qc(ck: Checks, out: pd.DataFrame, labels: pd.DataFrame, tag: str = "qc") -> float:
    """Every input row lands once; keep/drop F1 >= MIN_KEEP_F1; kept rows
    carry the oracle's scrubbed transcript. Returns keep_f1."""
    ids = out["clip_id"]
    ck.expect(
        f"{tag}.rows",
        len(ids) == len(labels) and set(ids) == set(labels["clip_id"]),
        f"{len(ids)} output rows for {len(labels)} input rows",
    )
    kept = set(ids[out["status"] == "kept"])
    score = f1(kept, set(labels.loc[labels["expect_keep"], "clip_id"]))
    ck.expect(f"{tag}.keep_f1", score >= MIN_KEEP_F1, f"keep_f1={score:.4f}")
    both = out[out["status"] == "kept"].merge(labels[labels["expect_keep"]], on="clip_id")
    bad = int((both["transcript"] != both["expect_transcript_scrubbed"]).sum())
    ck.expect(f"{tag}.scrub", bad == 0, f"{bad} kept rows differ from oracle.scrub_text")
    return score


def status_counts(out: pd.DataFrame) -> dict:
    return dict(Counter(out["status"]))


def dedup_truth(labels: pd.DataFrame) -> set:
    """Rows the corpus build should remove: every oracle-kept member of a
    planted family except the family's smallest surviving clip_id."""
    kept = labels[labels["expect_keep"] & labels["family"].notna()]
    keep_one = kept.groupby("family")["clip_id"].transform("min")
    return set(kept.loc[kept["clip_id"] != keep_one, "clip_id"])


def check_corpus(
    ck: Checks, qc_out: pd.DataFrame, final: pd.DataFrame, labels: pd.DataFrame
) -> float:
    """No exact-duplicate transcript survives; the rows removed after QC
    match the planted families (dedup_f1 >= MIN_DEDUP_F1). Returns dedup_f1."""
    dups = int(final["transcript"].duplicated().sum())
    ck.expect("corpus.exact", dups == 0, f"{dups} exact-duplicate transcripts survive")
    removed = set(qc_out.loc[qc_out["status"] == "kept", "clip_id"]) - set(final["clip_id"])
    score = f1(removed, dedup_truth(labels))
    ck.expect("corpus.dedup_f1", score >= MIN_DEDUP_F1, f"dedup_f1={score:.4f}")
    return score
