"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), runs one
closed-loop unit of work per call of ``run_pass`` through the public
``dabstract_spark`` API, and checks what the passes produced against an
independent reference (``check``) outside the timed region.

Why these two (each runs layers the other leaves idle). At the ``full``
size both are many small Spark jobs (about 60 and 40 per pass on a 4-core
host), so per-job scheduling, py4j round trips and plan building weigh
as much as executor work; the traced run gives each layer's share.

- ``features``: dabstract's own job (folder scan, Arrow/pandas UDF WAV
  decode, framing, k-fold, a log-mel chain written to parquet by
  ``prepare_feat``, Normalizer fit/apply), with small Dataset facade
  actions on a fact table above the hot-table cache budget and on a
  dimension table within it before the job, and on the feature dataset
  after it. The only workload with Python UDF workers and feature writes.
- ``curation``: a document drop ingested through a stateful streaming
  dedup into a parquet sink (state store, checkpoint/WAL commits, small
  sink writes), then the LLM pre-training curation chain over the sink
  (hashing, shuffles, connected components, prefix sums; no Python
  workers).

One Spark cold start plus a cold first pass cost 30-45 s on a 4-core
host, which is what keeps the workload count at two: the interactive
actions and the streaming ingest ride inside these two instead of being
workloads of their own.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import threading
import time

import numpy as np

from perfbench import gen

SIZES = {
    "full": {
        "clips": 16, "clip_samples": 4096, "fs": 8000, "frame": 256, "bands": 40,
        "fact_rows": 200_000, "dim_rows": 2000,
        "docs": 400, "doc_files": 4,
    },
    "tiny": {
        "clips": 8, "clip_samples": 1024, "fs": 8000, "frame": 256, "bands": 16,
        "fact_rows": 20_000, "dim_rows": 500,
        "docs": 120, "doc_files": 2,
    },
}

# Generated replays arrive at most one file (90 minutes) after the
# original, so every replay meets its original's dedup state and the sink
# must equal the batch twin.
WATERMARK = "3 hours"


def rows_digest(rows) -> str:
    """Order-insensitive digest of a result set (tuples of plain values)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    name = ""
    # operations one pass attempts, for the attempted/failed counts
    OPS_PER_PASS = 1
    # nominal steady pass time in seconds on a 4-core host; sets how many
    # steady passes fit in --seconds
    PASS_S: float

    def __init__(self, workdir: str, seed: int, size: dict, tracer):
        self.workdir = workdir
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.inputs: dict = {}
        self.input_bytes = 1
        self.written_bytes = 0

    def generate(self) -> dict:
        raise NotImplementedError

    def on_session(self, spark) -> None:
        """Called after each session (re)start, outside any timing."""

    def run_pass(self, spark, i: int) -> tuple[int, list[tuple[str, float]]]:
        """One closed-loop unit of work. Returns (items done, per-operation
        (kind, latency in ms))."""
        raise NotImplementedError

    def check(self, spark) -> tuple[int, int]:
        """Compare the outputs kept by ``run_pass`` with the reference.
        Returns (operations checked, operations with a wrong output)."""
        raise NotImplementedError

    def layer_counts(self, spark) -> None:
        """Traced runs only: record per-layer output counts."""


# --------------------------------------------------------------------- #
# features
# --------------------------------------------------------------------- #
def _mel_matrix(n_bands: int, nfft: int, fs: float) -> np.ndarray:
    """HTK-style triangular mel filterbank (n_bands x nfft//2+1), written
    from the textbook construction for the reference recomputation."""
    def mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def hz(m):
        return 700.0 * (10 ** (m / 2595.0) - 1.0)

    pts = mel(0.0) + np.arange(n_bands + 2) / (n_bands + 1) * (mel(fs / 2.0) - mel(0.0))
    start, stop = hz(pts[:-2]), hz(pts[2:])
    sb = np.round(nfft / fs * start)
    eb = np.round(nfft / fs * stop)
    mb = np.append(sb[1:], eb[-2])
    fb = np.zeros((n_bands, nfft // 2 + 1))
    for m in range(n_bands):
        lo = int(mb[m] - sb[m] + 1)
        fb[m, int(sb[m]):int(sb[m]) + lo] = np.arange(1, lo + 1) / lo
        hi = int(eb[m] - sb[m] + 1) - lo + 1
        fb[m, int(mb[m]):int(mb[m]) + hi] = np.arange(hi, 0, -1) / hi
    return fb


def reference_logmel(wav_path: str, frame: int, n_bands: int, fs: int) -> np.ndarray:
    """NumPy recomputation of the feature chain for one clip: frames of
    ``frame`` samples, periodic Hamming window, power spectrum, mel bands,
    eps floor, 20*log10."""
    import wave

    with wave.open(wav_path, "rb") as w:
        x = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2") / 32768.0
    frames = x[: len(x) // frame * frame].reshape(-1, frame)
    win = 0.54 - 0.46 * np.cos(2 * np.pi * np.arange(frame) / frame)
    spec = np.abs(np.fft.rfft(frames * win, n=frame, axis=1)) ** 2
    mel = spec @ _mel_matrix(n_bands, frame, fs).T
    mel = np.where(mel == 0, np.finfo(float).eps, mel)
    return 20.0 * np.log10(mel)


class Features(Workload):
    """Folder scan + WAV decode + CSV labels, framing by ``add_split``,
    k-fold assignment, a log-mel chain materialised by ``prepare_feat``,
    a Normalizer fitted on fold-0 train and applied to every frame. Small
    facade actions, each ending in a small collect, run before the job on
    a ``lineitem``-shaped fact table above the hot-table cache budget
    (loaded by ``session.load_table``, so it scans parquet) and a
    ``part``-shaped dimension table within it (cached), and after the job
    on the feature dataset. Splitting them spreads the latency samples
    over the pass, so a few seconds of host contention do not land on
    every one of them. Action kinds run in a fixed order; the seed draws
    their parameters."""

    name = "features"
    TABLE_KINDS = ("fact_len_filter", "fact_slice_sum", "fact_summary_concat", "dim_unique")
    FEAT_KINDS = ("split_len", "xval_len")
    KINDS = TABLE_KINDS + FEAT_KINDS
    OPS_PER_PASS = 1 + len(KINDS)
    PASS_S = 9.5

    def generate(self):
        from dabstract_spark import session

        s = self.size
        self.root = os.path.join(self.workdir, "audiodb")
        self.tables = os.path.join(self.workdir, "tables")
        self.inputs = gen.gen_audio(self.root, self.seed, s["clips"], s["clip_samples"] / s["fs"], s["fs"])
        self.inputs["tables"] = gen.gen_tables(self.tables, self.seed, s["fact_rows"], s["dim_rows"])
        for t in self.inputs["tables"].values():
            t["vs_cache_budget"] = t["bytes"] / session._CACHE_MAX_BYTES
        self.inputs["action_kinds"] = list(self.KINDS)
        self.input_bytes = self.inputs["bytes"]
        self.fpc = s["clip_samples"] // s["frame"]
        self.n_frames = s["clips"] * self.fpc
        self.rng = np.random.default_rng(self.seed)
        self.answers: list[tuple] = []
        self.last = None
        return self.inputs

    def on_session(self, spark):
        self.last = None

    def run_pass(self, spark, i):
        from pyspark.sql import functions as F

        from dabstract_spark import core
        from dabstract_spark.dataset import Dataset
        from dabstract_spark.processing import (
            FFT, Filterbank, Logarithm, Normalizer, ProcessingChain, Windowing,
        )
        from dabstract_spark.session import load_table
        from dabstract_spark.sources import attach_csv_metadata, decode_wav, folder_dataset

        tr, s = self.tracer, self.size
        with tr.span("dataset.action_build", kind="load_table"):
            fact = Dataset(
                core.row_id_from_key(load_table(spark, self.tables, "lineitem"), "l_orderkey"),
                name="lineitem",
            )
            dim = Dataset(load_table(spark, self.tables, "part"), name="part")
        lat = self._actions({"fact": fact, "dim": dim}, self.TABLE_KINDS)
        with tr.span("sources.scan"):
            ds = folder_dataset(spark, self.root).reset_active_keys()
            ds = ds.add("relpath", F.concat_ws("/", F.col("subdb"), F.col("filename")))
            ds = attach_csv_metadata(ds, os.path.join(self.root, "meta", "labels.csv"), on=("relpath", "filepath"))
            ds = Dataset(tr.boundary(ds.full_df), name=ds.name)
        with tr.span("sources.decode"):
            ds = ds.add_map("data", decode_wav)
            ds = Dataset(tr.boundary(ds.full_df), name=ds.name)
        with tr.span("dataset.split"):
            frames = ds.add_split("data", s["frame"], drop_last_partial=True)
            frames = Dataset(tr.boundary(frames.full_df), name=ds.name)
        with tr.span("core.row_id"):
            keyed = core.with_row_id(
                frames.full_df, ["filepath", "chunk_id"], prefix_skip=len(self.root) + 1
            )
            # load_memory: the frames feed every later job (folds, features,
            # fit, apply, actions); without it each re-reads and re-decodes
            frames = Dataset(tr.boundary(keyed), name="frames").load_memory()
        with tr.span("dataset.xval"):
            frames = frames.set_xval("random_kfold", folds=4, seed=self.seed)
            train_ids = tr.boundary(frames.get_xval_set("train", 0).full_df.select(core.ROW_ID))
        info = {"fs": s["fs"], "n_samples": s["frame"]}
        with tr.span("processing.build"):
            chain = (
                ProcessingChain()
                .add(Windowing("hamming"))
                .add(FFT(type="real", format="power"))
                .add(Filterbank(n_bands=s["bands"], scale="mel", fs=s["fs"]))
                .add(Logarithm("base10"))
            )
            chain.expr("data", dict(info, dtype="array<double>"))
        # a fresh directory per pass: prepare_feat skips the write when the
        # target already holds _SUCCESS, which would make a pass a cache hit
        feat_dir = os.path.join(self.workdir, "feat", f"pass{i:05d}")
        with tr.span("dataset.prepare_feat"):
            feats = frames.prepare_feat(
                "data", "logmel", chain, new_key="feat", feat_base_dir=feat_dir, info=info
            )
        out_dir = os.path.join(feat_dir, "frames", "data", "logmel")
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            raise RuntimeError("prepare_feat wrote no features")
        written = gen.dir_bytes(out_dir)
        if written <= 0:
            raise RuntimeError("prepare_feat wrote an empty feature set")
        self.written_bytes += written
        tr.count("dataset.feat_bytes", written)
        with tr.span("processing.fit"):
            norm = ProcessingChain().add(Normalizer("standard"))
            train = feats.full_df.join(train_ids, core.ROW_ID, "left_semi")
            norm.fit(train, "feat")
        with tr.span("processing.feat"):
            normed = norm.process_df(feats.full_df.select(core.ROW_ID, "feat"), "feat", new_key="feat_n")
            normed.write.format("noop").mode("overwrite").save()
        lat += self._actions({"feat": feats}, self.FEAT_KINDS)
        if self.last is not None:
            self.last["frames"].full_df.unpersist()
        self.last = {
            "feat_dir": out_dir,
            "frames": frames,
            "train_ids": train_ids,
            "fitted": norm.stages[0].fitted,
        }
        return self.inputs["clips"], lat

    def _actions(self, ds, kinds):
        lat = []
        for kind in kinds:
            prm = self._params(kind)
            t0 = time.perf_counter()
            ans = self._act(ds, kind, prm)
            lat.append((kind, (time.perf_counter() - t0) * 1000.0))
            self.answers.append((kind, prm, ans))
        return lat

    def _params(self, kind):
        r, n, m = self.rng, self.n_frames, self.size["fact_rows"]
        if kind == "fact_len_filter":
            return {"q": int(r.integers(1, 51))}
        if kind == "fact_slice_sum":
            a = int(r.integers(0, m - 1000))
            return {"a": a, "b": a + int(r.integers(100, 1000))}
        if kind == "fact_summary_concat":
            return {"flags": [str(f) for f in r.choice(["A", "N", "R"], 2, replace=False)]}
        if kind == "split_len":
            return {"a": int(r.integers(0, n - 16)), "w": int(r.integers(3, 9))}
        if kind == "xval_len":
            return {"fold": int(r.integers(0, 4))}
        return {}  # dim_unique

    def _act(self, ds, kind, prm):
        from pyspark.sql import functions as F

        tr = self.tracer
        with tr.span("dataset.action_build", kind=kind):
            if kind == "fact_len_filter":
                d = ds["fact"].add_filter(F.col("l_quantity") <= prm["q"])
            elif kind == "fact_slice_sum":
                d = ds["fact"][prm["a"]:prm["b"]].df.agg(F.sum("l_quantity"))
            elif kind == "fact_summary_concat":
                a, b = prm["flags"]
                fact = ds["fact"]
                d = fact.add_select(F.col("l_returnflag") == a).concat(
                    fact.add_select(F.col("l_returnflag") == b)
                ).summary()
            elif kind == "dim_unique":
                d = ds["dim"].get_unique("p_brand")
            elif kind == "split_len":
                d = ds["feat"][prm["a"]:prm["a"] + 16].add_split("feat", prm["w"])
            else:  # xval_len
                d = ds["feat"].get_xval_set("test", prm["fold"])
        with tr.span("dataset.action_exec", kind=kind):
            if kind in ("fact_len_filter", "split_len", "xval_len"):
                return len(d)
            return [tuple(r) for r in d.collect()]

    def layer_counts(self, spark):
        from pyspark.sql import functions as F

        row = (
            self.last["frames"].full_df.select("filepath", "n_bytes").distinct()
            .select(F.count("filepath"), F.sum("n_bytes")).first()
        )
        self.tracer.count("sources.files", row[0])
        self.tracer.count("sources.bytes_read", row[1])

    def _check_features(self) -> bool:
        """The last pass's feature files against a NumPy recomputation on a
        seeded sample of clips, and the fitted Normalizer against NumPy
        statistics over every fold-0 train frame."""
        import pyarrow.parquet as pq

        s = self.size
        # row ids are dense in (filepath, chunk_id) order
        clips = sorted(
            os.path.join(self.root, sub, f)
            for sub in ("abnormal", "normal") if os.path.isdir(os.path.join(self.root, sub))
            for f in os.listdir(os.path.join(self.root, sub))
        )
        keymap = {r: (clips[r // self.fpc], r % self.fpc) for r in range(self.n_frames)}
        train = {r.row_id for r in self.last["train_ids"].collect()}
        got = pq.read_table(self.last["feat_dir"]).to_pydict()
        feats = dict(zip(got["row_id"], got["__feat"]))
        if sorted(feats) != sorted(keymap):
            return False
        ref = {
            fp: reference_logmel(fp, s["frame"], s["bands"], s["fs"])
            for fp in sorted({fp for fp, _ in keymap.values()})
        }
        rng = np.random.default_rng(self.seed)
        sample = set(rng.choice(sorted(ref), size=min(8, len(ref)), replace=False))
        ok = all(
            np.allclose(feats[rid], ref[fp][chunk], rtol=1e-7, atol=1e-9)
            for rid, (fp, chunk) in keymap.items()
            if fp in sample
        )
        tv = np.concatenate([ref[keymap[r][0]][keymap[r][1]] for r in sorted(train)])
        fitted = self.last["fitted"]
        ok = ok and math.isclose(fitted["mean"][0], tv.mean(), rel_tol=1e-7, abs_tol=1e-9)
        return ok and math.isclose(fitted["std"][0], tv.std(), rel_tol=1e-7)

    def _check_action(self, con, kind, p, ans) -> bool:
        fact = f"read_parquet('{self.tables}/lineitem.parquet')"
        dim = f"read_parquet('{self.tables}/part.parquet')"
        n = self.n_frames

        def q(sql):
            return [tuple(r) for r in con.execute(sql).fetchall()]

        if kind == "fact_len_filter":
            return ans == q(f"SELECT count(*) FROM {fact} WHERE l_quantity <= {p['q']}")[0][0]
        if kind == "fact_slice_sum":
            return ans == q(
                f"SELECT sum(l_quantity)::BIGINT FROM {fact} "
                f"WHERE l_orderkey >= {p['a']} AND l_orderkey < {p['b']}"
            )
        if kind == "fact_summary_concat":
            counts = dict(q(f"SELECT l_returnflag, count(*) FROM {fact} GROUP BY 1"))
            a, b = p["flags"]
            return ans == [(0, "lineitem", counts[a]), (1, "lineitem", counts[b])]
        if kind == "dim_unique":
            return ans == q(f"SELECT DISTINCT p_brand FROM {dim} ORDER BY 1")
        if kind == "split_len":
            return ans == 16 * -(-self.size["bands"] // p["w"])
        if kind == "xval_len":
            # random_kfold folds are balanced: every test fold holds N/4 frames
            return ans in (n // 4, -(-n // 4))
        return False

    def check(self, spark):
        import duckdb

        wrong = int(not self._check_features())
        if wrong:
            print("perfbench: features differ from the NumPy reference", file=sys.stderr)
        con = duckdb.connect()
        try:
            for kind, p, ans in self.answers:
                if not self._check_action(con, kind, p, ans):
                    wrong += 1
                    print(f"perfbench: wrong answer {kind} {p}: {ans!r:.200}", file=sys.stderr)
        finally:
            con.close()
        return 1 + len(self.answers), wrong


# --------------------------------------------------------------------- #
# curation
# --------------------------------------------------------------------- #
class _BatchListener:
    """Collects StreamingQueryListener progress events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.terminated = 0

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "run_id": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with outer.lock:
                    outer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated += 1

        self.listener = L()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            with self.lock:
                if self.terminated >= n:
                    return
            time.sleep(0.005)
        raise TimeoutError("streaming listener saw no termination event")


class Curation(Workload):
    """Stream a document drop one file per micro-batch through
    ``latest_dedup_stream`` (doc_id key, watermarked) into a parquet sink,
    then over the sink: quality/language gate, exact dedup, MinHash
    near-dup clusters with one canonical document per cluster, n-gram
    decontamination against the test split, deterministic training order,
    and 512-token packing into a per-window chunk manifest (the q221 ->
    q228 composition)."""

    name = "curation"
    PASS_S = 11.0

    def generate(self):
        s = self.size
        self.path = os.path.join(self.workdir, "documents.parquet")
        self.drop = os.path.join(self.workdir, "drop")
        self.inputs = gen.gen_documents(self.path, self.seed, s["docs"])
        self.inputs["drop"] = gen.gen_document_drop(self.drop, self.path, self.seed, s["doc_files"])
        self.input_bytes = self.inputs["drop"]["bytes"]
        self.digests: list[str] = []
        self.sinks: list[str] = []
        return self.inputs

    def on_session(self, spark):
        self.listener = _BatchListener()
        spark.streams.addListener(self.listener.listener)
        self.n_drains = 0

    def _ingest(self, spark, base):
        from dabstract_spark.streaming import latest_dedup_stream, run_to_parquet, stream_events

        tr = self.tracer
        with self.listener.lock:
            self.listener.progress.clear()
        with tr.span("streaming.drain") as span:
            src = stream_events(spark, self.drop, max_files_per_trigger=1)
            docs = run_to_parquet(
                latest_dedup_stream(src, key_cols=("doc_id",), watermark=WATERMARK),
                os.path.join(base, "bronze"), os.path.join(base, "ckpt"),
            )
        self.n_drains += 1
        self.listener.wait_terminated(self.n_drains)
        with self.listener.lock:
            prog = list(self.listener.progress)
        self.written_bytes += gen.dir_bytes(base)
        self.sinks.append(os.path.join(base, "bronze"))
        fed = [p for p in prog if p["rows"] > 0]
        if span is not None:
            span["job_groups"] = sorted({p["run_id"] for p in prog})
        if tr.enabled:
            d = [p["duration"] for p in fed]
            tr.count("streaming.batch_ms", np.mean([x.get("triggerExecution", 0) for x in d]))
            tr.count("streaming.add_batch_ms", np.mean([x.get("addBatch", 0) for x in d]))
            tr.count("streaming.plan_ms", np.mean([x.get("queryPlanning", 0) for x in d]))
            tr.count(
                "streaming.commit_ms",
                np.mean([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            )
            tr.count("streaming.state_rows", max(p["state_rows"] for p in prog))
            tr.count("streaming.state_mem_bytes", max(p["state_mem"] for p in prog))
            sink = os.path.join(base, "bronze")
            tr.count(
                "streaming.sink_files",
                sum(f.endswith(".parquet") for _, _, fs in os.walk(sink) for f in fs),
            )
            tr.count("streaming.sink_bytes", gen.dir_bytes(sink))
        return docs, [("batch", float(p["duration"].get("triggerExecution", 0))) for p in fed]

    def run_pass(self, spark, i):
        from pyspark.sql import functions as F

        from dabstract_spark.operators import dedup as dd
        from dabstract_spark.operators import text as tx
        from dabstract_spark.operators.packing import chunk_manifest, sequence_pack
        from dabstract_spark.operators.select import training_order

        tr = self.tracer
        docs, lat = self._ingest(spark, os.path.join(self.workdir, "sink", f"pass{i:05d}"))
        with tr.span("text.gate"):
            scored = docs.select(
                "doc_id", "source", "text",
                tx.quality_score("text").alias("quality"),
                tx.lang_id("text").alias("lang_pred"),
            )
            gated = tr.boundary(
                scored.filter((F.col("quality") >= 0.55) & (F.col("lang_pred") != "qy"))
            )
        with tr.span("dedup.exact"):
            surv = tr.boundary(dd.exact_dedup(gated, "doc_id", "text").localCheckpoint(eager=False))
        with tr.span("dedup.minhash"):
            clusters = tr.boundary(
                dd.minhash_dedup_clusters(surv, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64)
            )
            canon = clusters.join(surv.select("doc_id", "quality"), "doc_id").groupBy("cluster_id").agg(
                F.expr("max_by(doc_id, struct(quality, -doc_id)) AS doc_id")
            ).select("doc_id")
            train = tr.boundary(
                surv.join(canon, "doc_id", "left_semi")
                .filter(F.col("doc_id") % 5 != 0)
                .localCheckpoint(eager=False)
            )
        with tr.span("dedup.decontam"):
            test = docs.filter(F.col("doc_id") % 5 == 0)
            clean = dd.decontaminate(train, test, "doc_id", "text", k=5).select(
                "doc_id", F.size(tx.tokens("text")).cast("int").alias("n_tokens")
            )
            clean = tr.boundary(clean.localCheckpoint(eager=False))
        with tr.span("select.order"):
            ordered = tr.boundary(training_order(clean, "doc_id", seed=7).localCheckpoint(eager=False))
        with tr.span("packing.pack"):
            packed = sequence_pack(ordered, "pos", "n_tokens", capacity=512, block_size=64)
            out = chunk_manifest(packed, "doc_id", capacity=512).join(
                ordered.select("doc_id", "pos"), "doc_id"
            ).select("doc_id", "pos", "chunk", "seg_start", "seg_end")
            rows = out.collect()
        self.digests.append(rows_digest(rows))
        self.last = {
            "docs": docs, "gated": gated, "surv": surv, "clusters": clusters,
            "train": train, "clean": clean, "rows": rows,
        }
        return self.inputs["docs"], lat

    def layer_counts(self, spark):
        from pyspark.sql import functions as F

        L, tr = self.last, self.tracer
        n_docs, n_gated, n_surv = L["docs"].count(), L["gated"].count(), L["surv"].count()
        n_clusters = L["clusters"].select(F.countDistinct("cluster_id")).first()[0]
        n_train_all = L["surv"].filter(F.col("doc_id") % 5 != 0).count()
        n_train, n_clean = L["train"].count(), L["clean"].count()
        tokens = L["clean"].select(F.sum("n_tokens")).first()[0] or 0
        windows = 1 + max((r.chunk for r in L["rows"]), default=0)
        tr.count("text.keep_ratio", n_gated / max(n_docs, 1))
        tr.count("dedup.exact_removed", n_gated - n_surv)
        tr.count("dedup.clusters", n_clusters)
        tr.count("dedup.neardup_removed", n_train_all - n_train)
        tr.count("dedup.decontam_removed", n_train - n_clean)
        tr.count("packing.fill_ratio", tokens / (windows * 512))

    def check(self, spark):
        """Every pass's sink against its batch twin (``latest_event_dedup``
        by doc_id over every row the drop sent), and every pass's manifest
        against the q228 DuckDB oracle over the generated corpus."""
        import duckdb
        import pyarrow.parquet as pq

        from dabstract_spark.operators.events import latest_event_dedup
        from dabstract_spark.queries import oracle_sql

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            want = rows_digest(con.execute(oracle_sql()["q228_curate_pack_pipeline"]).fetchall())
        finally:
            con.close()
        sent = spark.read.parquet(self.drop)
        twin = rows_digest(
            tuple(r) for r in latest_event_dedup(sent, key_cols=("doc_id",), tiebreak_col="doc_id")
            .select("doc_id", "text").collect()
        )
        wrong = 0
        for sink, digest in zip(self.sinks, self.digests):
            got = pq.read_table(sink, columns=["doc_id", "text"]).to_pydict()
            if rows_digest(zip(got["doc_id"], got["text"])) != twin:
                print(f"perfbench: sink {sink} differs from its batch twin", file=sys.stderr)
                wrong += 1
            elif digest != want:
                print("perfbench: manifest differs from the q228 oracle", file=sys.stderr)
                wrong += 1
        return len(self.digests), wrong


WORKLOADS = {w.name: w for w in (Features, Curation)}
