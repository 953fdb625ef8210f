"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. Generation runs before the timed
region, and each generator returns a description of what it wrote (item
count, bytes, duplicate and replay shares) for the run record.
"""

from __future__ import annotations

import io
import os
import wave
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The query-engine vocabulary the repository's text fixtures use, plus the
# stopwords and language markers the quality gate and lang_id score on.
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer join the a of and to in is it"
).split()


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _wav_bytes(samples: np.ndarray, fs: int) -> bytes:
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(fs)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def gen_audio(root: str, seed: int, n_clips: int, clip_s: float, fs: int) -> dict:
    """A WAV tree laid out like the repository's audiodb fixture: two
    subdbs (``normal``/``abnormal``) of 16-bit mono clips, plus
    ``meta/labels.csv`` (filepath relative to the root, subdb, anomaly)."""
    rng = np.random.default_rng(seed)
    n = int(round(clip_s * fs))
    t = np.arange(n) / fs
    rows = []
    for i in range(n_clips):
        abnormal = i % 4 == 3
        subdb = "abnormal" if abnormal else "normal"
        f0 = rng.uniform(200.0, 1200.0)
        x = 0.4 * np.sin(2 * np.pi * f0 * t + rng.uniform(0, 2 * np.pi))
        if abnormal:
            x += 0.2 * np.sin(2 * np.pi * 2.7 * f0 * t)
        x += 0.05 * rng.standard_normal(n)
        rel = f"{subdb}/clip_{i:05d}.wav"
        os.makedirs(os.path.join(root, subdb), exist_ok=True)
        with open(os.path.join(root, rel), "wb") as fh:
            fh.write(_wav_bytes(x, fs))
        rows.append(f"{rel},{subdb},{int(abnormal)}")
    os.makedirs(os.path.join(root, "meta"), exist_ok=True)
    csv = os.path.join(root, "meta", "labels.csv")
    with open(csv, "w") as fh:
        fh.write("filepath,subdb,anomaly\n" + "\n".join(rows) + "\n")
    wav_bytes = dir_bytes(root) - os.path.getsize(csv)
    return {
        "clips": n_clips,
        "clip_samples": n,
        "fs": fs,
        "bytes": wav_bytes,
        "abnormal_share": sum(i % 4 == 3 for i in range(n_clips)) / n_clips,
    }


def _doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words))


# Shares of generated documents by kind: fresh, exact duplicate of an
# earlier document, near-duplicate (one word changed), train document that
# copies an 8-word span of a test document, short document the quality
# gate drops.
DOC_KIND_SHARES = (0.70, 0.10, 0.10, 0.05, 0.05)


def gen_documents(path: str, seed: int, n_docs: int) -> dict:
    """A documents table shaped like the repository's ``documents`` fixture
    (doc_id, text, lang, source, n_chars) with documents of each kind in
    ``DOC_KIND_SHARES``; test documents are those with doc_id % 5 == 0."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    kinds = rng.choice(5, size=n_docs, p=DOC_KIND_SHARES)
    kinds[:10] = 0  # copies need earlier documents
    kinds[(kinds == 3) & (np.arange(n_docs) % 5 == 0)] = 0  # test docs overlap nothing
    for i in range(n_docs):
        k = kinds[i]
        if k == 1:
            texts.append(texts[int(rng.integers(0, i))])
        elif k == 2:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif k == 3:
            test_ids = [j for j in range(0, i, 5)]
            src = texts[test_ids[int(rng.integers(0, len(test_ids)))]].split()
            s = int(rng.integers(0, max(1, len(src) - 8)))
            texts.append(_doc_text(rng, int(rng.integers(10, 40))) + " " + " ".join(src[s:s + 8]))
        elif k == 4:
            texts.append(_doc_text(rng, int(rng.integers(2, 6))))
        else:
            texts.append(_doc_text(rng, int(rng.integers(20, 90))))
    langs = np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(table, path)
    return {
        "docs": n_docs,
        "bytes": os.path.getsize(path),
        # shares of the documents actually written as each kind
        "exact_dup_share": float(np.mean(kinds == 1)),
        "near_dup_share": float(np.mean(kinds == 2)),
        "test_overlap_share": float(np.mean(kinds == 3)),
        "short_share": float(np.mean(kinds == 4)),
    }


_T0 = datetime(2024, 1, 1)
FILE_SPAN_MIN = 90
REPLAY_SHARE = 0.05


def gen_document_drop(root: str, docs_path: str, seed: int, n_files: int) -> dict:
    """Cut the documents table at ``docs_path`` into a time-ordered drop of
    ``n_files`` parquet files with an arrival timestamp ``ts``: file k
    covers [k, k+1) x ``FILE_SPAN_MIN`` minutes, documents arrive in doc_id
    order, and a ``REPLAY_SHARE`` of each file's documents is re-sent in
    the next file (same doc_id, same ts)."""
    rng = np.random.default_rng(seed + 2)
    table = pq.read_table(docs_path)
    n = table.num_rows
    span_us = FILE_SPAN_MIN * 60 * 1_000_000
    t0_us = int((_T0 - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    os.makedirs(root, exist_ok=True)
    prev = None
    n_replay = 0
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        ts = t0_us + k * span_us + np.sort(rng.integers(0, span_us, part.num_rows))
        part = part.append_column("ts", pa.array(ts, pa.timestamp("us")))
        out = part
        if prev is not None:
            pick = rng.random(prev.num_rows) < REPLAY_SHARE
            n_replay += int(pick.sum())
            out = pa.concat_tables([part, prev.filter(pa.array(pick))])
        pq.write_table(out, os.path.join(root, f"part-{k:05d}.parquet"))
        prev = part
    return {"files": n_files, "docs_sent": n + n_replay, "replay_share": n_replay / (n + n_replay),
            "bytes": dir_bytes(root)}


def gen_tables(root: str, seed: int, n_rows: int, n_parts: int) -> dict:
    """A fact table shaped like TPC-H ``lineitem`` (dense ``l_orderkey``
    0..n_rows-1, part key, quantity, price, return flag) and a dimension
    table shaped like ``part`` (part key, brand, size), one parquet file
    each, for the Dataset facade actions."""
    rng = np.random.default_rng(seed + 3)
    os.makedirs(root, exist_ok=True)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.arange(n_rows, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_rows)),
            "l_quantity": pa.array(rng.integers(1, 51, n_rows).astype(np.int32)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_rows), 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)].tolist()),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
            "p_brand": pa.array([f"Brand#{1 + int(b)}" for b in rng.integers(0, 25, n_parts)]),
            "p_size": pa.array(rng.integers(1, 51, n_parts).astype(np.int32)),
        }
    )
    out = {}
    for name, t in (("lineitem", lineitem), ("part", part)):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, path)
        out[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return out
