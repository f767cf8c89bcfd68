"""Seeded, cached inputs for the benchmark workloads.

Every workload reads a *pool*: a fixed set of parquet chunk files built
once per checkout, each with its oracle labels beside it. The oracle
(``kneaddata_spark.oracle.label_frame``) costs about 15 ms per clip, so
labelling on every run is unaffordable; a pool is built in parallel on the
first run and reused. A run's ``--seed`` then picks a seeded subset of the
pool's chunks: the same seed always gives the same input files, and
different seeds give different mixes of clips.

Pools:

- ``audio``: ``synth.gen_clip`` rows, the default mix (seven codecs with
  real FLAC, about 14% planted audio defects, about 75 KB of PCM per clip).
  Read by ``qc_audio`` and landed file by file by ``qc_stream``.
- ``text``: short 8 kHz ``pcm_s16le`` clips (about 8 KB) with long
  transcripts (60-200 tokens) and ``synth``'s text-defect and PII mix.
- ``corpus``: ``text`` rows where about a quarter are 1-3 token edits of
  an earlier row of the same chunk (planted near-duplicate families) and a
  few are exact copies. Families never cross a chunk, so every chunk
  subset carries its whole truth.

The program only ever receives the six input columns; labels and planted
truth stay in the benchmark's own files.
"""

from __future__ import annotations

import functools
import json
import multiprocessing
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kneaddata_spark import synth
from kneaddata_spark.models import train_langid, train_perplexity
from kneaddata_spark.oracle import label_frame
from kneaddata_spark.vocab import LANG_VOCAB, make_sentence

INPUT_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
LABEL_COLS = ["clip_id", "expect_keep", "expect_drop_rule", "expect_transcript_scrubbed"]
TEXT_SEED = 77_310_291  # Philox key of the text pools and the seeded chunk pick
ROW_GROUP_ROWS = 25     # several row groups per file, so a file can split
WARMUP_FILES = 8        # one scan task per file: boots a Python worker per core
WARMUP_ROWS = 25        # per warm-up file


@dataclass(frozen=True)
class PoolSpec:
    kind: str           # audio | text | corpus
    chunks: int
    chunk_rows: int
    near_share: float = 0.0
    exact_share: float = 0.0

    @property
    def name(self) -> str:
        return f"{self.kind}-{self.chunks}x{self.chunk_rows}-v1"


@dataclass
class Input:
    """A seed's selection from a pool."""

    chunk_ids: list[int]
    files: list[str]
    labels: pd.DataFrame
    shape: dict


def cache_root(work: str) -> str:
    return os.path.join(work, "cache")


@functools.lru_cache(maxsize=1)
def _models():
    return train_langid(), train_perplexity()


# ------------------------------------------------------------ text rows --


def _short_pcm(rng: np.random.Generator, n: int) -> np.ndarray:
    """Healthy tone + noise, the shape of synth.gen_clip's clean rows."""
    t = np.arange(n, dtype=np.float32) / 8000.0
    f0 = float(rng.uniform(80, 1200))
    pcm = 0.45 * np.sin(2 * np.pi * f0 * t) + 0.18 * np.sin(2 * np.pi * 2.7 * f0 * t)
    pcm += rng.normal(0, 0.02, size=n)
    return np.clip(pcm, -1.0, 1.0).astype(np.float32)


def _transcript(rng: np.random.Generator, lang: str) -> tuple[str, str]:
    """synth.gen_clip's text-defect and PII mix over 60-200 token sentences."""
    v = rng.uniform()
    if v < 0.02:
        return "", "empty"
    if v < 0.03:
        return "   ", "whitespace"
    if v < 0.06:
        tok = make_sentence(rng, lang, 1)
        return " ".join([tok] * int(rng.integers(8, 25))), "repeat"
    if v < 0.08:
        return "aaaaaaaaaaaaaaaaaaaaaa", "low_entropy"
    if v < 0.10:
        return "".join(rng.choice(list("qxzkvw#@!~")) for _ in range(60)), "gibberish"
    if v < 0.12:
        other = str(rng.choice([x for x in LANG_VOCAB if x != lang]))
        a = make_sentence(rng, lang, 40).split()
        b = make_sentence(rng, other, 40).split()
        return " ".join(x for pair in zip(a, b) for x in pair), "mixed_lang"
    text = make_sentence(rng, lang, int(rng.integers(60, 201)))
    if rng.uniform() < 0.08:
        return text + " " + synth.PII_SNIPPETS[int(rng.integers(0, len(synth.PII_SNIPPETS)))], "pii"
    return text, "none"


def _edit(rng: np.random.Generator, text: str, lang: str) -> str:
    """1-3 token substitutions, each to a different word of the same language."""
    toks = text.split()
    for pos in rng.choice(len(toks), size=int(rng.integers(1, 4)), replace=False):
        new = toks[pos]
        while new == toks[pos]:
            new = make_sentence(rng, lang, 1)
        toks[pos] = new
    return " ".join(toks)


def text_rows(spec: PoolSpec, chunk: int) -> tuple[pd.DataFrame, pd.Series]:
    """One chunk of text-pool rows plus its planted family truth (root
    clip_id for every member of a near- or exact-duplicate family, the
    root included; None elsewhere)."""
    rows, family, originals = [], [], []
    for j in range(spec.chunk_rows):
        i = chunk * spec.chunk_rows + j
        rng = np.random.default_rng(np.random.Philox(key=[TEXT_SEED, i]))
        lang = str(rng.choice(list(synth.LANG_P), p=list(synth.LANG_P.values())))
        dur_ms = int(rng.integers(400, 601))
        u = rng.uniform()
        fam = None
        if originals and u < spec.exact_share:
            root = originals[int(rng.integers(0, len(originals)))]
            text, fam = rows[root]["transcript"], root
        elif originals and u < spec.exact_share + spec.near_share:
            root = originals[int(rng.integers(0, len(originals)))]
            text, fam = _edit(rng, rows[root]["transcript"], rows[root]["_lang"]), root
        else:
            text, tdef = _transcript(rng, lang)
            if tdef == "none":
                originals.append(j)
        pcm = _short_pcm(rng, dur_ms * 8)
        rows.append(
            {
                "clip_id": f"t{i:09d}",
                "bytes": synth._encode(pcm, "pcm_s16le", rng, 8000),
                "sr_hz": 8000,
                "dur_ms": dur_ms,
                "codec": "pcm_s16le",
                "transcript": text,
                "_lang": lang if fam is None else rows[fam]["_lang"],
            }
        )
        family.append(fam)
    ids = [r["clip_id"] for r in rows]
    roots = {f for f in family if f is not None}
    truth = pd.Series(
        [ids[f] if f is not None else (ids[j] if j in roots else None) for j, f in enumerate(family)],
        index=ids,
        name="family",
    )
    pdf = pd.DataFrame(rows).drop(columns="_lang")
    return pdf, truth


# ---------------------------------------------------------------- pools --


def _chunk_paths(root: str, c: int) -> tuple[str, str, str]:
    return (
        os.path.join(root, "data", f"part-{c:04d}.parquet"),
        os.path.join(root, "labels", f"part-{c:04d}.parquet"),
        os.path.join(root, "stats", f"part-{c:04d}.json"),
    )


def _write_input(pdf: pd.DataFrame, path: str) -> None:
    pdf = pdf.astype({"sr_hz": "int32", "dur_ms": "int32"})
    table = pa.Table.from_pandas(pdf[INPUT_SCHEMA.names], schema=INPUT_SCHEMA, preserve_index=False)
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def build_chunk(spec: PoolSpec, root: str, c: int) -> None:
    """Generate, label and write one chunk (a pool worker's unit of work)."""
    data_p, label_p, stats_p = _chunk_paths(root, c)
    if spec.kind == "audio":
        pdf = synth.gen_clips_pdf(spec.chunk_rows, start=c * spec.chunk_rows)
        family = pd.Series([None] * len(pdf), index=pdf["clip_id"], name="family")
    else:
        pdf, family = text_rows(spec, c)
    labels = label_frame(pdf, *_models())[LABEL_COLS]
    labels["family"] = family.reindex(labels["clip_id"]).to_numpy()
    _write_input(pdf, data_p + ".tmp")
    pq.write_table(pa.Table.from_pandas(labels, preserve_index=False), label_p + ".tmp")
    stats = {
        "rows": len(pdf),
        "payload_bytes": int(pdf["bytes"].map(len).sum()),
        "transcript_chars": int(pdf["transcript"].str.len().sum()),
        "dup_rows": int((family.notna() & (family != family.index)).sum()),
        "file_bytes": os.path.getsize(data_p + ".tmp"),
    }
    with open(stats_p + ".tmp", "w") as f:
        json.dump(stats, f)
    for p in (data_p, label_p, stats_p):
        os.replace(p + ".tmp", p)


def ensure_pools(specs: list[PoolSpec], work: str, procs: int) -> None:
    """Build every missing pool, all chunks in one spawn-context process
    pool. A pool is complete once its READY marker exists."""
    todo = []
    for spec in specs:
        root = os.path.join(cache_root(work), spec.name)
        if os.path.exists(os.path.join(root, "READY")):
            continue
        for sub in ("data", "labels", "stats"):
            os.makedirs(os.path.join(root, sub), exist_ok=True)
        todo += [(spec, root, c) for c in range(spec.chunks) if not os.path.exists(_chunk_paths(root, c)[2])]
    if todo:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(procs) as pool:
            pool.starmap(build_chunk, todo, chunksize=1)
            pool.close()
            pool.join()
    for spec in specs:
        root = os.path.join(cache_root(work), spec.name)
        ready = os.path.join(root, "READY")
        if not os.path.exists(ready):
            warm = pq.read_table(_chunk_paths(root, 0)[0])
            os.makedirs(os.path.join(root, "warmup"), exist_ok=True)
            for k in range(WARMUP_FILES):
                pq.write_table(warm.slice(k * WARMUP_ROWS, WARMUP_ROWS), os.path.join(root, "warmup", f"part-{k}.parquet"))
            open(ready, "w").close()


def warmup_dir(spec: PoolSpec, work: str) -> str:
    """A small fixed slice of the pool, one file per scan task."""
    return os.path.join(cache_root(work), spec.name, "warmup")


def select(spec: PoolSpec, work: str, seed: int, n_chunks: int) -> Input:
    """The seed's input: ``n_chunks`` distinct chunks, in pool order."""
    if not 0 < n_chunks <= spec.chunks:
        raise ValueError(f"{spec.name}: cannot select {n_chunks} of {spec.chunks} chunks")
    root = os.path.join(cache_root(work), spec.name)
    rng = np.random.default_rng(np.random.Philox(key=[TEXT_SEED, seed]))
    ids = sorted(int(c) for c in rng.choice(spec.chunks, size=n_chunks, replace=False))
    paths = [_chunk_paths(root, c) for c in ids]
    labels = pd.concat([pd.read_parquet(p[1]) for p in paths], ignore_index=True)
    stats = []
    for p in paths:
        with open(p[2]) as f:
            stats.append(json.load(f))
    rows = sum(s["rows"] for s in stats)
    shape = {
        "rows": rows,
        "bytes": sum(s["file_bytes"] for s in stats),
        "mean_payload_bytes": round(sum(s["payload_bytes"] for s in stats) / rows, 1),
        "mean_transcript_chars": round(sum(s["transcript_chars"] for s in stats) / rows, 1),
        "dup_share": round(sum(s["dup_rows"] for s in stats) / rows, 4),
    }
    return Input(ids, [p[0] for p in paths], labels, shape)
