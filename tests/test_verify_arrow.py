"""Exact verification is one Arrow pass: it must equal, column for column,
the JVM ``array_intersect`` formulas it replaced (kept here as the
reference), and the est gate must stay inside its envelope."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from minhashsketch_spark.config import PipelineConfig
from minhashsketch_spark.core.shingles import distinct_shingles
from minhashsketch_spark.operators.lsh import candidate_pairs
from minhashsketch_spark.operators.signatures import compute_signatures
from minhashsketch_spark.operators.verify import (
    est_prefilter_gate,
    minhash_estimate,
    verified_pairs,
)
from minhashsketch_spark.sources.corpus import corpus_dataframe

CFG = PipelineConfig(k=9, m=1, t=32, bands=8, rows=4, seed=7, threshold=0.7)

NON_ASCII = "grüße aus köln — naïve café 東京 ünïcödé straße " * 3
SPECIAL = [
    ("x-empty-1", ""),
    ("x-empty-2", ""),
    ("x-null", None),
    ("x-short", "abc"),          # shorter than k: empty shingle set
    ("x-short-2", "abcdefgh"),   # k - 1 bytes
    ("x-utf8-1", NON_ASCII),
    ("x-utf8-2", NON_ASCII + "ende"),
    ("x-utf8-3", "日本語のテキスト" * 4),
]


def _reference(pairs, sigs, docs, cfg, with_containment, est_gate):
    """The former verification: shingle-set table + JVM array_intersect."""
    k = cfg.k
    est = minhash_estimate(pairs, sigs, cfg)
    if est_gate is not None and est_gate > 0.0:
        est = est.filter(F.col("est_sim") >= F.lit(est_gate))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({"url": pdf["url"].values, "shingles": [
                distinct_shingles((t or "").encode("utf-8", "surrogatepass"), k)
                .view(np.int64) for t in pdf["text"].values]})

    sets = docs.select("url", "text").mapInPandas(
        gen, schema="url string, shingles array<bigint>")
    sh_a = sets.select(F.col("url").alias("url_a"), F.col("shingles").alias("sh_a"))
    sh_b = sets.select(F.col("url").alias("url_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (est.join(sh_a, "url_a").join(sh_b, "url_b")
           .withColumn("jaccard",
                       F.when(union > 0, inter.cast("double") / union.cast("double"))
                       .otherwise(F.lit(1.0)))
           .withColumn("is_dup", F.col("est_sim") >= F.lit(cfg.threshold)))
    cols = ["url_a", "url_b", "est_sim", "jaccard", "is_dup"]
    if with_containment:
        for side, col in (("a", "sh_a"), ("b", "sh_b")):
            out = out.withColumn(
                f"containment_{side}",
                F.when(F.size(col) > 0, inter.cast("double") / F.size(col).cast("double"))
                .otherwise(F.lit(1.0)))
        cols += ["containment_a", "containment_b"]
    return out.select(*cols)


@pytest.fixture(scope="module")
def fixture(spark):
    base, _ = corpus_dataframe(spark, n_docs=120, seed=13)
    docs = base.select("url", "text").unionByName(
        spark.createDataFrame(SPECIAL, "url string, text string")).localCheckpoint()
    sigs = compute_signatures(docs, CFG).localCheckpoint()
    # LSH candidates, plus all pairs among the special docs and a slice of
    # the corpus: low-est pairs exist, so the gated runs really prune
    urls = (docs.select("url").orderBy("url").limit(20)
            .unionByName(spark.createDataFrame([(u,) for u, _ in SPECIAL], "url string")))
    brute = (urls.withColumnRenamed("url", "url_a")
             .crossJoin(urls.withColumnRenamed("url", "url_b"))
             .filter(F.col("url_a") < F.col("url_b")))
    pairs = (candidate_pairs(sigs, CFG).unionByName(brute)
             .dropDuplicates(["url_a", "url_b"]).localCheckpoint())
    return docs, sigs, pairs


@pytest.mark.parametrize("with_containment", [False, True])
@pytest.mark.parametrize("gated", [False, True])
def test_verified_pairs_equal_jvm_reference(spark, fixture, gated, with_containment):
    docs, sigs, pairs = fixture
    gate = est_prefilter_gate(CFG) if gated else None
    got = verified_pairs(pairs, sigs, docs, CFG, checkpoint_sigs=False,
                         checkpoint_pairs=False, with_containment=with_containment,
                         est_gate=gate)
    want = _reference(pairs, sigs, docs, CFG, with_containment, gate)
    assert got.columns == want.columns
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert len(g) > 100 and g == w  # exact float equality, every column
    urls = {r[0] for r in g} | {r[1] for r in g}
    assert {"x-empty-1", "x-null", "x-short", "x-utf8-1"} <= urls
    # the fixture holds pairs the gate prunes (non-vacuous gated runs)
    assert gated == (len(g) < pairs.count())


def test_clamped_gate_is_the_ungated_plan(spark, fixture):
    """At small t the gate clamps to 0: no est_sim filter in the plan and
    the output equals est_gate=None."""
    docs, _, pairs = fixture
    cfg = PipelineConfig(k=9, m=1, t=8, bands=2, rows=4, seed=7, threshold=0.7)
    gate = est_prefilter_gate(cfg)
    assert gate == 0.0
    sigs = compute_signatures(docs, cfg).localCheckpoint()

    def est_filtered(g):
        # Catalyst folds the est_sim filter into the estimate's join
        # condition, so look for the estimate in any filter or condition
        plan = verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False,
                              checkpoint_pairs=False, est_gate=g
                              )._jdf.queryExecution().optimizedPlan().toString()
        return any("zip_with" in ln for ln in plan.splitlines()
                   if "Join" in ln or "Filter" in ln)

    assert est_filtered(0.3) and not est_filtered(None)
    assert not est_filtered(gate)
    gated = verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False,
                           checkpoint_pairs=False, est_gate=gate)
    ungated = verified_pairs(pairs, sigs, docs, cfg, checkpoint_sigs=False,
                             checkpoint_pairs=False)
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, ungated.collect()))


def test_gated_surfaces_emit_nothing_below_the_gate(spark, fixture, tmp_path):
    """verified_pairs, run_pipeline's verified stage and the cross-corpus
    pairs: no gated row carries an estimate below its gate."""
    from minhashsketch_spark.operators.cross_dedup import cross_corpus_dup_pairs
    from minhashsketch_spark.pipeline import run_pipeline

    docs, sigs, pairs = fixture
    gate = est_prefilter_gate(CFG)
    assert gate > 0.0
    half = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    surfaces = {
        "verified_pairs": verified_pairs(pairs, sigs, docs, CFG, checkpoint_sigs=False,
                                         checkpoint_pairs=False, est_gate=gate),
        "run_pipeline": run_pipeline(spark, docs, CFG, est_gate=gate,
                                     checkpoint_root=str(tmp_path / "ck"))["verified"],
        "cross_corpus": cross_corpus_dup_pairs(
            docs.filter(half), docs.filter(~half), CFG, est_gate=gate),
    }
    for name, df in surfaces.items():
        assert df.count() > 0, name
        assert df.filter(F.col("est_sim") < F.lit(gate)).count() == 0, name
