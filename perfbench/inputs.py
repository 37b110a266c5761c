"""Benchmark inputs: a pinned conversation pool and seeded corpora.

The *pool* is a corpus that ``grisp_spark.kg.datagen`` generates once per
checkout from a fixed seed, together with the reference triples that
``grisp_spark.kg.oracle.run_oracle`` computes for it. It is cached under
``.perfbench/pool`` and its content digest is checked against
``PINNED_DIGEST`` on every run, so a change to ``datagen`` that alters
the inputs stops the benchmark instead of silently changing what it
measures.

A workload's corpus for ``--seed n`` is a seeded sample of the pool's
conversations, renamed and reshuffled. Every triple depends on one
conversation and the KB only, so the expected triples of the sample are
the pool's oracle triples for the chosen conversations, renamed the
same way: the slow pure-Python oracle runs once per checkout, not once
per seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

KB_TABLES = ("entities", "aliases", "label_stats")
TRIPLE_COLUMNS = ["conv_id", "turn_idx", "subj", "pred", "obj"]

POOL_SEED = 7
POOL_CONVS = 12_000  # with datagen's default 120-entity KB

# sha256 of the generated pool content (see content_digest). A change
# here is a change of the benchmark's inputs and belongs in a change
# of the benchmark, never in a change that claims a speed-up.
PINNED_DIGEST = "3082d1587a296eb0cf41c06c9e3bc251e0253fd3bd230b94aa49559bd130e5bd"

ORACLE_WORKERS = 4


def content_digest(frames: dict[str, pd.DataFrame]) -> str:
    """Order-sensitive sha256 over the row hashes and column names of
    each frame, independent of the parquet bytes that hold them."""
    h = hashlib.sha256()
    for name in sorted(frames):
        df = frames[name]
        h.update(name.encode())
        h.update(json.dumps(list(df.columns)).encode())
        flat = df.apply(lambda c: c.map(_cell) if c.dtype == object else c)
        h.update(pd.util.hash_pandas_object(flat, index=False).to_numpy().tobytes())
    return h.hexdigest()


def _cell(v):
    # list cells (context_vocab) come back from parquet as ndarrays
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr([str(x) for x in v])
    return v


def _triples_frame(triples) -> pd.DataFrame:
    df = pd.DataFrame(sorted(triples), columns=TRIPLE_COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["subj"] = df["subj"].astype("int64")
    return df


def _oracle_chunk(args) -> pd.DataFrame:
    conv, kb = args
    from grisp_spark.kg import oracle

    return _triples_frame(oracle.run_oracle(conv, kb)["triples"])


def _run_oracle(conv: pd.DataFrame, kb: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """oracle.run_oracle over conversation chunks in worker processes.
    Chunks split on conv_id, and the oracle's turn window never crosses
    a conversation, so the union of the chunk results is the result."""
    import multiprocessing

    ids = np.array(sorted(conv["conv_id"].unique()))
    parts = np.array_split(ids, ORACLE_WORKERS * 4)
    chunks = [(conv[conv["conv_id"].isin(set(p))], kb) for p in parts if len(p)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(ORACLE_WORKERS) as pool:
        out = pool.map(_oracle_chunk, chunks)
    return pd.concat(out, ignore_index=True)


def _generate_pool() -> tuple[dict[str, pd.DataFrame], pd.DataFrame]:
    from grisp_spark.kg import datagen

    kb = datagen.generate_kb(POOL_SEED)
    conv, _gold = datagen.generate_conversations(POOL_SEED, POOL_CONVS, kb)
    # Spark cannot read nanosecond parquet timestamps (as in
    # datagen.write_dataset)
    conv["ts"] = conv["ts"].astype("datetime64[us]")
    return kb, conv


class Pool:
    """A verified pool: KB frames, conversations and oracle triples."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, ".perfbench", "pool")
        self.kb: dict[str, pd.DataFrame] = {}
        self.conv: pd.DataFrame | None = None
        self.triples: pd.DataFrame | None = None

    def _path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def _frames(self) -> dict[str, pd.DataFrame]:
        return {**self.kb, "conversations": self.conv}

    def load(self) -> bool:
        """Reads the cached pool; True when it is present and its
        content matches the pinned digest and its manifest."""
        manifest = os.path.join(self.dir, "manifest.json")
        if not os.path.exists(manifest):
            return False
        with open(manifest) as f:
            want = json.load(f)
        self.kb = {t: pd.read_parquet(self._path(t)) for t in KB_TABLES}
        self.conv = pd.read_parquet(self._path("conversations"))
        self.triples = pd.read_parquet(self._path("oracle_triples"))
        return (
            content_digest(self._frames()) == want["pool"] == PINNED_DIGEST
            and content_digest({"triples": self.triples}) == want["oracle"]
        )

    def build(self) -> None:
        self.kb, self.conv = _generate_pool()
        got = content_digest(self._frames())
        if got != PINNED_DIGEST:
            raise RuntimeError(
                f"generated pool digest {got} differs from the pinned "
                f"{PINNED_DIGEST}: grisp_spark.kg.datagen no longer produces "
                "this benchmark's inputs. Re-pin PINNED_DIGEST in a change of "
                "the benchmark itself."
            )
        self.triples = _run_oracle(self.conv, self.kb)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        for t, df in self._frames().items():
            df.to_parquet(self._path(t), index=False)
        self.triples.to_parquet(self._path("oracle_triples"), index=False)
        with open(os.path.join(self.dir, "manifest.json"), "w") as f:
            json.dump(
                {"pool": got, "oracle": content_digest({"triples": self.triples})}, f
            )

    def ensure(self) -> "Pool":
        if not self.load():
            self.build()
            if not self.load():
                raise RuntimeError("pool cache does not verify after build")
        return self


class Corpus:
    """A seeded sample of a pool, written as a KGPipeline data dir."""

    def __init__(self, pool: Pool, workload: str, seed: int, n_convs: int, out_dir: str):
        if n_convs > len(pool.conv["conv_id"].unique()):
            raise ValueError(f"{workload}: the pool has fewer than {n_convs} convs")
        salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
        rng = np.random.default_rng([seed, salt])
        ids = np.array(sorted(pool.conv["conv_id"].unique()))
        chosen = rng.choice(ids, size=n_convs, replace=False)
        rename = {old: f"s{seed}-{i:06d}" for i, old in enumerate(chosen)}
        conv = pool.conv[pool.conv["conv_id"].isin(rename)].copy()
        conv["conv_id"] = conv["conv_id"].map(rename)
        order = rng.permutation(len(conv))
        self.conv = conv.iloc[order].reset_index(drop=True)
        trip = pool.triples[pool.triples["conv_id"].isin(rename)].copy()
        trip["conv_id"] = trip["conv_id"].map(rename)
        self.expected_triples = trip.reset_index(drop=True)
        self.n_turns = len(self.conv)
        self.dir = out_dir
        self.kb = pool.kb

    def write(self, n_files: int) -> str:
        """conversations.parquet as ``n_files`` part files (one input
        split each, like datagen.write_dataset's shards), the KB tables
        and the expected triples."""
        shutil.rmtree(self.dir, ignore_errors=True)
        conv_dir = os.path.join(self.dir, "conversations.parquet")
        os.makedirs(conv_dir)
        for i, part in enumerate(np.array_split(np.arange(len(self.conv)), n_files)):
            self.conv.iloc[part].to_parquet(
                os.path.join(conv_dir, f"part-{i:04d}.parquet"), index=False
            )
        for t, df in self.kb.items():
            df.to_parquet(os.path.join(self.dir, f"{t}.parquet"), index=False)
        self.expected_triples.to_parquet(
            os.path.join(self.dir, "expected_triples.parquet"), index=False
        )
        return self.dir
