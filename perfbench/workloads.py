"""The benchmark's workloads. Each runs a closed loop of passes from one
driver thread and checks every pass's output.

A pass returns the wall time a user would see and whether its output
was correct; under a Tracer it also records one span per call into a
grisp_spark module.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from grisp_spark.kg import linking
from grisp_spark.kg.pipeline import KGPipeline

import inputs
import tracing


def _hash_aggs(h):
    """(rows, sum of high 32 bits, sum of low 32 bits) of a 64-bit row
    hash: an order-insensitive multiset digest whose sums cannot
    overflow a long."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
    ]


def _triple_hash():
    return F.xxhash64(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("subj").cast("long"),
        F.col("pred").cast("string"),
        F.col("obj").cast("string"),
    )


def triple_digest(df: DataFrame) -> tuple[int, int, int]:
    r = df.agg(*_hash_aggs(_triple_hash())).collect()[0]
    return int(r["rows"]), int(r["hi"] or 0), int(r["lo"] or 0)


def tables_digest(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int, int]]:
    """table_digest of every table, in one Spark job."""
    parts = []
    for name, df in sorted(tables.items()):
        h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        parts.append(df.agg(*_hash_aggs(h)).select(F.lit(name).alias("t"), "*"))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return {
        r["t"]: (int(r["rows"]), int(r["hi"] or 0), int(r["lo"] or 0))
        for r in union.collect()
    }


def observed_digest(obs: Observation) -> tuple[int, int, int]:
    r = obs.get
    return int(r["rows"]), int(r["hi"] or 0), int(r["lo"] or 0)


def materialize_checked(df: DataFrame) -> tuple[int, int, int]:
    """Runs ``df`` into the noop sink; the triple digest rides the same
    job through ``observe``, so checking costs no second scan."""
    obs = Observation()
    df.observe(obs, *_hash_aggs(_triple_hash())).write.format("noop").mode(
        "overwrite"
    ).save()
    return observed_digest(obs)


class PassResult:
    def __init__(self, wall_s: float, ok: bool, detail: str = "", **extra):
        self.wall_s = wall_s
        self.ok = ok
        self.detail = detail
        self.extra = extra


class Workload:
    """Base: a seeded corpus sampled from the pool."""

    name = ""
    n_convs = 0
    min_warm_passes = 3

    def __init__(self, root: str, seed: int, partitions: int):
        self.root = root
        self.seed = seed
        self.partitions = partitions
        self.work = os.path.join(root, ".perfbench", "work", self.name)
        self.corpus: inputs.Corpus | None = None
        self.expected: tuple[int, int, int] | None = None

    # -- inputs (not part of setup_s: generation, not set-up) -------------
    def prepare(self) -> None:
        pool = inputs.Pool(self.root).ensure()
        shutil.rmtree(self.work, ignore_errors=True)
        self.corpus = inputs.Corpus(
            pool, self.name, self.seed, self.n_convs, os.path.join(self.work, "input")
        )
        self.corpus.write(n_files=2 * self.partitions)

    @property
    def n_turns(self) -> int:
        return self.corpus.n_turns

    def load(self, spark) -> None:
        """Reads the inputs (part of setup_s)."""
        d = self.corpus.dir
        self.conv = spark.read.parquet(os.path.join(d, "conversations.parquet"))
        self.kb = {
            t: spark.read.parquet(os.path.join(d, f"{t}.parquet"))
            for t in inputs.KB_TABLES
        }
        self.conv.count()

    def expect(self, spark) -> None:
        """Digest of the oracle's triples for this corpus."""
        self.expected = triple_digest(
            spark.read.parquet(os.path.join(self.corpus.dir, "expected_triples.parquet"))
        )

    def check(self, got: tuple[int, int, int]) -> tuple[bool, str]:
        if got == self.expected:
            return True, ""
        return False, f"triples digest {got} != oracle {self.expected}"

    def run_pass(self, spark, tracer, first: bool) -> PassResult:
        raise NotImplementedError

    @staticmethod
    def _span(tracer, name: str):
        return tracer.span(name) if tracer is not None else nullcontext()

    def layer_metrics(self, tracer, passes) -> dict[str, float]:
        raise NotImplementedError


class KgFused(Workload):
    """build_kb_broadcasts + link_and_extract into the noop sink."""

    name = "kg_fused"
    n_convs = 10_000

    def run_pass(self, spark, tracer, first: bool) -> PassResult:
        t0 = time.monotonic()
        with self._span(tracer, "kg.linking.build_kb_broadcasts"):
            bcs = linking.build_kb_broadcasts(spark, self.kb)
        with self._span(tracer, "kg.linking.link_and_extract"):
            got = materialize_checked(
                linking.link_and_extract(self.conv, *bcs, self.partitions)
            )
        wall = time.monotonic() - t0
        for bc in bcs:
            bc.destroy()
        ok, detail = self.check(got)
        return PassResult(wall, ok, detail, triples_out=got[0])

    def layer_metrics(self, tracer, passes) -> dict[str, float]:
        out = _span_metrics(tracer, "kg.linking.build_kb_broadcasts", ["s"])
        m = _span_metrics(
            tracer,
            "kg.linking.link_and_extract",
            ["s", "run_s", "cpu_s", "cpu_ratio", "gc_s", "shuffle_write_mb"],
        )
        m["kg.linking.link_and_extract.turns_in"] = float(self.n_turns)
        m["kg.linking.link_and_extract.triples_out"] = _median(
            p.extra["triples_out"] for p in passes if p.ok
        )
        return {**out, **m}


PIPELINE_STAGES = (
    "canonical_map",
    "linked_canonical",
    "triples",
    "label_stats_out",
    "edges",
    "adjacency",
    "entity_labels",
    "counters",
)
LOST_BUCKETS = (0, 1)


class KgStagedResume(Workload):
    """The staged, resumable KGPipeline. The first pass is a fresh
    run(resume=False) over the corpus, the job a one-shot submit pays.
    Every later pass starts from the state a crash while linking leaves
    (linked buckets 0-1 lost, no downstream stage started) and runs
    run(resume=True) with the gazetteer over the pipeline's broadcast
    limit, so the lost buckets are relinked by
    linking_shuffle.link_mentions_shuffle. Every pass's tables must
    equal the fresh run's, whose triples must equal the oracle's."""

    name = "kg_staged_resume"
    n_convs = 1_000
    n_buckets = 8
    # the fresh pass alone outlasts --seconds; a resume pass is per-job
    # overhead that varies by a fifth from run to run, so wall_s is the
    # median of two
    min_warm_passes = 2

    def _pipeline(self, spark, **kw) -> KGPipeline:
        return KGPipeline(
            spark,
            self.corpus.dir,
            os.path.join(self.work, "out"),
            n_buckets=self.n_buckets,
            n_partitions=self.partitions,
            **kw,
        )

    def _crash(self, pipe: KGPipeline) -> None:
        """The on-disk state a crash while linking bucket 1 leaves:
        bucket 0 written but not yet recorded, bucket 1 never written,
        and no downstream stage started."""
        lin = pipe.lineage.dir
        for b in LOST_BUCKETS:
            os.remove(os.path.join(lin, f"linked.{b}.json"))
        shutil.rmtree(os.path.join(pipe.out_dir, "linked", f"bucket={LOST_BUCKETS[-1]}"))
        for stage in PIPELINE_STAGES:
            for fn in (f"{stage}.-1.json", f"{stage}.done"):
                path = os.path.join(lin, fn)
                if os.path.exists(path):
                    os.remove(path)
            shutil.rmtree(os.path.join(pipe.out_dir, stage), ignore_errors=True)

    def run_pass(self, spark, tracer, first: bool) -> PassResult:
        return self._fresh(spark, tracer) if first else self._resume(spark, tracer)

    def _fresh(self, spark, tracer) -> PassResult:
        pipe = self._pipeline(spark)
        w0 = time.time()
        t0 = time.monotonic()
        with self._span(tracer, "kg.pipeline.run") as sp:
            res = pipe.run(resume=False)
        wall = time.monotonic() - t0
        lineage = _lineage_windows(pipe, since=w0)
        self.tables = tables_digest(res)
        ok, detail = self.check(triple_digest(res["triples"]))
        out_mb = _parquet_bytes(pipe.out_dir) / 1e6
        self._crash(pipe)
        return PassResult(wall, ok, detail, out_mb=out_mb, lineage=lineage, span=sp)

    def _resume(self, spark, tracer) -> PassResult:
        # broadcast_label_limit=0: the shuffle-join linking regime
        pipe = self._pipeline(spark, broadcast_label_limit=0)
        w0 = time.time()
        t0 = time.monotonic()
        with self._span(tracer, "kg.pipeline.run.resume") as sp:
            res = pipe.run(resume=True)
        wall = time.monotonic() - t0
        lineage = _lineage_windows(pipe, since=w0)
        after = tables_digest(res)
        ok, detail = True, ""
        relinked = sorted(w["bucket"] for w in lineage if w["stage"] == "linked")
        if after != self.tables:
            diff = sorted(k for k in after if after[k] != self.tables.get(k))
            ok, detail = False, f"tables changed by resume: {diff}"
        elif relinked != list(LOST_BUCKETS):
            ok, detail = False, f"resume relinked buckets {relinked}"
        self._crash(pipe)
        return PassResult(wall, ok, detail, lineage=lineage, span=sp)

    def layer_metrics(self, tracer, passes) -> dict[str, float]:
        fresh, resumes = passes[0], [p for p in passes[1:] if p.ok]
        m: dict[str, float] = {}
        if fresh.ok and fresh.extra["span"] is not None:
            m.update(_pipeline_stage_metrics(fresh.extra["span"], fresh.extra["lineage"]))
        rows = [
            _relink_metrics(p.extra["span"], p.extra["lineage"])
            for p in resumes
            if p.extra["span"] is not None
        ]
        if rows:
            m.update({k: _median(r[k] for r in rows) for k in rows[0]})
        if fresh.ok:
            m["kg.pipeline.run_s"] = fresh.wall_s
            m["kg.pipeline.out_mb"] = fresh.extra["out_mb"]
        m["kg.pipeline.resume_s"] = _median(
            p.wall_s for p in resumes if not p.extra["traced"]
        )
        return m


WORKLOADS = {w.name: w for w in (KgFused, KgStagedResume)}


# -- helpers ----------------------------------------------------------------


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _span_metrics(tracer, name: str, keys: list[str]) -> dict[str, float]:
    """Median over the traced passes of each key for the spans named
    ``name``: ``s`` is the span's wall time, the rest are stage totals."""
    spans = [sp for sp in tracer.spans if sp.name == name]
    rows = [{"s": sp.s, **tracing.stage_totals(sp.stages)} for sp in spans]
    return {f"{name}.{k}": _median(r[k] for r in rows) for k in keys}


def _parquet_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        if os.path.basename(d).startswith("_lineage"):
            continue
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")
        )
    return total


def _lineage_windows(pipe: KGPipeline, since: float) -> list[dict]:
    """Each lineage record written after ``since`` as a time window:
    the record is written when its stage or bucket ends, so its mtime
    is the end and ``wall_ms`` before it the start."""
    out = []
    for fn in os.listdir(pipe.lineage.dir):
        if not fn.endswith(".json") or fn == "config.json":
            continue
        path = os.path.join(pipe.lineage.dir, fn)
        end = os.stat(path).st_mtime
        if end < since:
            continue
        with open(path) as f:
            rec = json.load(f)
        out.append(
            {
                "stage": rec["stage"],
                "bucket": rec["bucket"],
                "rows_out": rec["rows_out"],
                "start": end - rec["wall_ms"] / 1000.0,
                "end": end,
            }
        )
    return out


def _relink_metrics(resume_span, windows: list[dict]) -> dict[str, float]:
    """The resumed run's relinked buckets: link_mentions_shuffle's work
    (with each bucket's count and read-back jobs) inside their lineage
    windows."""
    name = "kg.linking_shuffle.link_mentions_shuffle"
    relinked = [w for w in windows if w["stage"] == "linked"]
    stages = [
        s
        for s in resume_span.stages
        if s["start"] is not None
        and any(w["start"] <= s["start"] <= w["end"] for w in relinked)
    ]
    t = tracing.stage_totals(stages)
    return {
        f"{name}.s": sum(w["end"] - w["start"] for w in relinked),
        f"{name}.run_s": t["run_s"],
        f"{name}.cpu_s": t["cpu_s"],
        f"{name}.shuffle_read_mb": t["shuffle_read_mb"],
        f"{name}.spill_mb": t["spill_mb"],
        f"{name}.spans_out": float(sum(w["rows_out"] for w in relinked)),
        "kg.pipeline.stage_linked.buckets_recomputed": float(len(relinked)),
    }


def _pipeline_stage_metrics(run_span, windows: list[dict]) -> dict[str, float]:
    """Per-stage numbers of one KGPipeline.run: wall time and rows from
    the lineage sidecar, Spark stage metrics of the jobs whose stages
    ran inside each stage's window. stage_linked spans from the start
    of the run to the end of its last bucket, which takes in the KB
    broadcast build before the bucket loop."""
    m: dict[str, float] = {}
    linked = [w for w in windows if w["stage"] == "linked"]
    linked_end = max(w["end"] for w in linked)
    st_linked = [
        s for s in run_span.stages if s["start"] is not None and s["start"] <= linked_end
    ]
    tot = tracing.stage_totals(st_linked)
    m["kg.pipeline.stage_linked.s"] = linked_end - run_span.w0
    m["kg.pipeline.stage_linked.input_mb"] = tot["input_mb"]
    m["kg.pipeline.stage_linked.jobs"] = float(
        sum(1 for j in run_span.jobs if j["submitted"] <= linked_end)
    )
    for stage in PIPELINE_STAGES:
        w = next(x for x in windows if x["stage"] == stage)
        inside = [
            s
            for s in run_span.stages
            if s["start"] is not None and w["start"] <= s["start"] <= w["end"]
        ]
        t = tracing.stage_totals(inside)
        m[f"kg.pipeline.{stage}.s"] = w["end"] - w["start"]
        m[f"kg.pipeline.{stage}.rows_out"] = float(w["rows_out"])
        m[f"kg.pipeline.{stage}.shuffle_mb"] = t["shuffle_write_mb"]
    return m
