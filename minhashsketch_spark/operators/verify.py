"""Candidate verification: MinHash estimate (reference semantics) + exact
Jaccard.

* The **MinHash estimate** is the reference's estimator ``computeSim``
  (``/root/reference/src/Hash.cu:65-86``): per hash function, the match
  count between the two m-lists over t*m. With m == 1 this reduces to the
  fraction of equal signature components — computed entirely JVM-side with
  ``zip_with`` (equality only, so two's-complement storage is safe;
  SURVEY.md H1), keeping the hot path inside whole-stage codegen. Quirk Q2
  (UINT64_MAX padding matches itself) is preserved: two empty docs have
  all-UINT64_MAX signatures, which compare equal.
* **Exact Jaccard** (north_star: "exact Jaccard verification filters
  pairs") is ONE ``mapInArrow`` pass over the (est-gated) pair spine joined
  to both texts: it shingles zero-copy views of the UTF-8 buffers (the
  bytes the signature UDF shingles) and intersects the sorted sets in
  NumPy. Nothing is materialized between the estimate and the output: the
  job that writes the verified rows computes them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..core.shingles import distinct_shingles
from .signatures import utf8_views


# pair frames at or under this row count are broadcast into the attach
# joins (pairs are <<1% of the corpus by LSH design, so the signature and
# text frames stay UNSHUFFLED, guide §3.1/§8); above it the joins fall back
# to the shuffle plans. 1M pair rows ~ 60 MB framed.
BROADCAST_PAIR_LIMIT = 1_000_000
# under THIS count the b-side shuffle_hash hints are dropped too: the
# planner's own stats give the all-broadcast zero-Exchange plan, and a
# forced hash join would ADD two exchanges of pure scheduling latency
# (measured ~+0.5-1 s/query at sf0.1).
DIRECT_JOIN_PAIR_LIMIT = 50_000


def est_prefilter_gate(cfg: PipelineConfig) -> float:
    """Est_sim pre-gate for exact verification: ``threshold - 6 sigma``,
    sigma the t-sample binomial std of the estimator at p = threshold. An
    estimate is a mean of t Bernoulli(J) matches, so a pair with exact
    jaccard J >= threshold falls below the gate with probability <=
    exp(-72 threshold (1 - threshold)) (Hoeffding): a per-pair tail of
    2.7e-7 at the flagship threshold 0.7. is_dup rows (est_sim >=
    threshold) are never dropped. At t=128/thr=0.7 the gate is ~0.457 and
    kills the ~98% of LSH band collisions that are random shingle matches
    from a small vocabulary; at small t the margin widens (t=16 -> ~0.01;
    t=8 clamps to 0, i.e. no gate)."""
    import math

    sigma = math.sqrt(cfg.threshold * (1.0 - cfg.threshold) / cfg.t)
    return max(0.0, cfg.threshold - 6.0 * sigma)


def minhash_estimate(pairs: DataFrame, signatures: DataFrame, cfg: PipelineConfig,
                     broadcast_pairs: bool = False,
                     hash_join_b_side: bool = False) -> DataFrame:
    """(url_a, url_b) + signatures -> + est_sim (reference estimator).

    m == 1 only: positional zip_with equality IS the two-pointer match
    count when each list has one element. For m > 1 use
    ``minhash_estimate_m`` (positional equality would undercount — see
    src/Hash.cu:65-78, the pointers advance independently).

    ``broadcast_pairs``: the pair set is known-small (counted by the
    caller) — broadcast it so the signature table is never shuffled for
    the a-side attach, and hash-join (no sort) the b-side."""
    if cfg.m != 1:
        raise ValueError("minhash_estimate is the m==1 fast path; "
                         "use minhash_estimate_m for m > 1")
    sig_a = signatures.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    if broadcast_pairs:
        pairs = F.broadcast(pairs)
        if hash_join_b_side:
            sig_b = sig_b.hint("shuffle_hash")
    return (
        pairs.join(sig_a, "url_a").join(sig_b, "url_b")
        .withColumn(
            "matches",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
        # divide by the actual signature length, not cfg.t*cfg.m — immune to
        # a config/signature mismatch (they are asserted equal for m==1)
        .withColumn("est_sim", F.col("matches") / F.size("sig_a"))
        .drop("sig_a", "sig_b")
    )


def minhash_estimate_m(pairs: DataFrame, signatures: DataFrame,
                       cfg: PipelineConfig) -> DataFrame:
    """General-m reference estimator over candidate pairs: per function a
    two-pointer intersection of the two sorted bottom-m lists
    (``src/Hash.cu:65-86``, quirks Q2/Q6 preserved via core.compute_sim),
    summed over t, / (t*m). Pandas UDF over the (tiny) candidate pair set —
    candidates are <<1% of the corpus at scale, so Python here is off the
    hot path."""
    from ..core.sketch import compute_sim

    t, m = cfg.t, cfg.m
    sig_a = signatures.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sig_a, "url_a").join(sig_b, "url_b")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            est = [
                compute_sim(
                    np.asarray(sa, dtype=np.int64).view(np.uint64).reshape(t, m),
                    np.asarray(sb, dtype=np.int64).view(np.uint64).reshape(t, m))
                for sa, sb in zip(pdf["sig_a"].values, pdf["sig_b"].values)
            ]
            yield pd.DataFrame({"url_a": pdf["url_a"].values,
                                "url_b": pdf["url_b"].values,
                                "est_sim": np.asarray(est, dtype=np.float64)})

    return joined.select("url_a", "url_b", "sig_a", "sig_b").mapInPandas(
        gen, schema="url_a string, url_b string, est_sim double")


def pair_url_set(pairs: DataFrame, small: bool, url_col: str = "url") -> DataFrame:
    """The urls of a (materialized) pair frame as a left-semi build side:
    broadcast when ``small``, so the probed scan is never shuffled (a
    broadcast build side needs no distinct); else distinct."""
    urls = pairs.select(F.col("url_a").alias(url_col)).unionByName(
        pairs.select(F.col("url_b").alias(url_col)))
    return F.broadcast(urls) if small else urls.distinct()


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """num / den, 1.0 where den == 0 (IEEE division, as the JVM's)."""
    out = np.ones_like(num)
    np.divide(num, den, out=out, where=den > 0)
    return out


def _exact_scores(k: int, threshold: float, with_containment: bool):
    """The one Arrow pass, as (function, output DDL): (url_a, url_b,
    est_sim, text_a, text_b) -> (url_a, url_b, est_sim, jaccard, is_dup
    [, containment_a, containment_b]). Shingle sets are cached per batch
    by text: a doc repeated within one batch is shingled once."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = ["url_a string", "url_b string", "est_sim double",
           "jaccard double", "is_dup boolean"]
    if with_containment:
        out += ["containment_a double", "containment_b double"]
    names = [c.split()[0] for c in out]

    def shingled(col, cache: dict) -> Iterator[np.ndarray]:
        for view in utf8_views(col):
            key = view.tobytes()
            if key not in cache:
                cache[key] = distinct_shingles(view, k)
            yield cache[key]

    def gen(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            cache: dict[bytes, np.ndarray] = {}
            sets_a, sets_b = (list(shingled(batch.column(c), cache)) for c in (3, 4))
            size_a, size_b = (np.array([x.shape[0] for x in sets], dtype=np.float64)
                              for sets in (sets_a, sets_b))
            inter = np.array([np.intersect1d(a, b, assume_unique=True).shape[0]
                              for a, b in zip(sets_a, sets_b)], dtype=np.float64)
            arrays = batch.columns[:3] + [
                pa.array(_ratio(inter, size_a + size_b - inter)),
                pc.greater_equal(batch.column(2), pa.scalar(threshold))]
            if with_containment:
                arrays += [pa.array(_ratio(inter, size_a)),
                           pa.array(_ratio(inter, size_b))]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen, ", ".join(out)


def verified_pairs(pairs: DataFrame, signatures: DataFrame, docs: DataFrame,
                   cfg: PipelineConfig, url_col: str = "url",
                   text_col: str = "text",
                   checkpoint_sigs: bool = True,
                   with_containment: bool = False,
                   checkpoint_pairs: bool = True,
                   est_gate: float | None = None,
                   n_pairs: int | None = None) -> DataFrame:
    """Full verification: est_sim (reference estimator) + exact jaccard.

    Output: (url_a, url_b, est_sim, jaccard, is_dup) where is_dup applies
    ``cfg.threshold`` to the *reference estimator* — the semantics the
    recall metric is defined against (BASELINE.md).

    ``with_containment`` adds (containment_a, containment_b) =
    |A∩B|/|A|, |A∩B|/|B| — the ASYMMETRIC overlap: a short quote embedded
    in a long page has low jaccard but containment_a ~ 1. Costs nothing
    extra (the intersection is already computed); note LSH candidate
    generation targets RESEMBLANCE, so low-jaccard/high-containment pairs
    outside the candidate set are the substring operator's job
    (operators.substring), not this one's.

    ``checkpoint_sigs=False`` when the signature frame is already
    materialized (parquet/bucketed-table-backed, or checkpointed by the
    caller): localCheckpoint'ing e.g. a full index's signatures here would
    copy the whole index into executor storage. Likewise
    ``checkpoint_pairs=False`` for a parquet-backed candidate table.
    ``n_pairs``: the known row count of ``pairs`` (a stage manifest or an
    earlier count) — skips the count that sizes the joins.

    Join strategy (guide §3.1/§8): texts enter through a left-semi join to
    the pair urls, so only paired docs' texts can be shuffled. Under
    ``BROADCAST_PAIR_LIMIT`` pairs the url set, the pair spine and the
    gated estimate are BROADCAST, so docs, signatures and a-side texts are
    never shuffled; past ``DIRECT_JOIN_PAIR_LIMIT`` each b-side attach of
    a known-size spine hash-joins (shuffled once, never sorted). Above the
    broadcast limit every join falls back to the shuffle plans.

    ``est_gate``: optional est_sim pre-filter applied BEFORE the exact
    verification; pairs below it are dropped from the OUTPUT, so pass one
    only when every consumer filters on ``jaccard >= threshold`` or
    ``is_dup``. With ``est_prefilter_gate(cfg)`` no is_dup row is lost,
    and a pair with jaccard >= threshold only within the per-pair tail
    bound of ``est_prefilter_gate`` (<= 3e-7 at threshold 0.7). Callers
    that need sub-threshold rows (containment mining, estimator
    calibration) must leave it None.
    """
    # ``signatures`` is consumed twice (a-side, b-side): EAGER
    # localCheckpoint so its UDF runs exactly once — a lazy persist lets
    # the two join sides race to compute the same partitions
    if checkpoint_sigs:
        signatures = signatures.localCheckpoint()
    if checkpoint_pairs:
        pairs = pairs.localCheckpoint()
    if n_pairs is None:
        n_pairs = pairs.count()
    small = n_pairs <= BROADCAST_PAIR_LIMIT
    # tiny pair sets keep the planner's own zero-Exchange all-broadcast
    # plan: a forced hash join would only add exchanges (see gate comment)
    hash_b = small and n_pairs > DIRECT_JOIN_PAIR_LIMIT
    est = minhash_estimate(pairs, signatures, cfg, broadcast_pairs=small,
                           hash_join_b_side=hash_b)
    # a clamped/zero gate filters nothing — keep the ungated plan
    gated = est_gate is not None and est_gate > 0.0
    if gated:
        est = est.filter(F.col("est_sim") >= F.lit(est_gate))
    # only texts of paired docs enter the attaches
    needed = docs.join(pair_url_set(pairs, small, url_col), url_col, "left_semi")
    text_a = needed.select(F.col(url_col).alias("url_a"), F.col(text_col).alias("text_a"))
    text_b = needed.select(F.col(url_col).alias("url_b"), F.col(text_col).alias("text_b"))
    if small:
        est = F.broadcast(est)
        # the gated spine's size is unknown (counting it costs a job), so
        # its b-side attach is left to AQE's runtime sizes, not forced
        if hash_b and not gated:
            text_b = text_b.hint("shuffle_hash")
    gen, schema = _exact_scores(cfg.k, cfg.threshold, with_containment)
    return (est.join(text_a, "url_a").join(text_b, "url_b")
            .select("url_a", "url_b", "est_sim", "text_a", "text_b")
            .mapInArrow(gen, schema=schema))
