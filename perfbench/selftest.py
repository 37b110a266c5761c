"""Self-test of the benchmark's output checks: a corrupted output must be
counted as a failed pass.

    python3 perfbench/selftest.py

Runs each workload on a small corpus, once as is and once with its
output corrupted (one triple dropped, one triple's object changed, one
table row changed by the resume), and exits non-zero unless every clean
pass passes and every corrupted pass fails.
"""

from __future__ import annotations

import sys
from contextlib import contextmanager

import run  # sets sys.path; imports nothing from grisp_spark

SMALL_CONVS = 300


def _first_expected(wl):
    r = wl.corpus.expected_triples.iloc[0]
    return r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj


def _drop_one(row):
    from pyspark.sql import functions as F

    c, t, s, p, o = row
    hit = (
        (F.col("conv_id") == c) & (F.col("turn_idx") == t) & (F.col("subj") == s)
        & (F.col("pred") == p) & (F.col("obj") == o)
    )
    return lambda df: df.filter(~hit)


def _change_one(row):
    from pyspark.sql import functions as F

    c, t, s, p, o = row
    hit = (
        (F.col("conv_id") == c) & (F.col("turn_idx") == t) & (F.col("subj") == s)
        & (F.col("pred") == p) & (F.col("obj") == o)
    )
    return lambda df: df.withColumn(
        "obj", F.when(hit, F.lit("corrupted")).otherwise(F.col("obj"))
    )


@contextmanager
def _patched(obj, name, value):
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


def main() -> int:
    pinned = run._benchmark_json()["command"][2:]
    args = run._args(pinned + ["--workload", "selftest", "--seed", "1", "--seconds", "0"])
    cores, conf = run._configure(args)
    from grisp_spark.session import get_spark

    import workloads

    results: list[tuple[str, bool, bool]] = []  # (case, want_ok, got_ok)
    spark = get_spark("perfbench-selftest", cores=cores, extra_conf=conf)
    try:
        # -- kg_fused: one dropped triple, one changed triple ------------
        wl = workloads.KgFused(run.ROOT, 1, 4)
        wl.n_convs = SMALL_CONVS
        wl.prepare()
        wl.load(spark)
        wl.expect(spark)
        results.append(("kg_fused clean", True, wl.run_pass(spark, None, True).ok))
        real = workloads.linking.link_and_extract
        for case, corrupt in (
            ("kg_fused one triple dropped", _drop_one(_first_expected(wl))),
            ("kg_fused one triple changed", _change_one(_first_expected(wl))),
        ):
            with _patched(
                workloads.linking, "link_and_extract",
                lambda *a, corrupt=corrupt, **k: corrupt(real(*a, **k)),
            ):
                results.append((case, False, wl.run_pass(spark, None, False).ok))

        # -- kg_staged_resume: a triple dropped by the fresh run, a row
        # changed by the resume ------------------------------------------
        wl = workloads.KgStagedResume(run.ROOT, 1, 4)
        wl.n_convs = SMALL_CONVS
        wl.prepare()
        wl.load(spark)
        wl.expect(spark)
        results.append(("kg_staged_resume fresh clean", True, wl.run_pass(spark, None, True).ok))
        results.append(("kg_staged_resume resume clean", True, wl.run_pass(spark, None, False).ok))
        drop, change = _drop_one(_first_expected(wl)), _change_one(_first_expected(wl))

        class Corrupting(workloads.KGPipeline):
            def run(self, resume=True):
                res = super().run(resume)
                res["triples"] = (change if resume else drop)(res["triples"])
                return res

        with _patched(workloads, "KGPipeline", Corrupting):
            results.append(
                ("kg_staged_resume one triple dropped", False,
                 wl.run_pass(spark, None, True).ok)
            )
        # a clean fresh run again: the reference tables and crash state
        results.append(("kg_staged_resume fresh clean again", True, wl.run_pass(spark, None, True).ok))
        with _patched(workloads, "KGPipeline", Corrupting):
            results.append(
                ("kg_staged_resume one row changed by resume", False,
                 wl.run_pass(spark, None, False).ok)
            )
    finally:
        run._stop(spark)

    bad = [r for r in results if r[1] != r[2]]
    for case, want, got in results:
        print(f"{'ok  ' if want == got else 'FAIL'} {case}: pass ok={got}, expected {want}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
