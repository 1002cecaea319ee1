"""Training-data curation: the composed end-to-end use case.

documents -> exact dedup -> near-dup dedup (MinHash+LSH+CC) -> quality +
language filters -> curated corpus + per-step accounting. Each step is an
existing operator; this module only composes them — the shape a 100 TB
training-data pipeline actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators.dedup_corpus import (
    exact_dedup_corpus,
    near_dedup_corpus,
    near_dedup_corpus_best,
)
from .operators.robots import filter_robots_disallowed
from .operators.text import detected_lang_expr, quality_score_expr
from .operators.verify import est_prefilter_gate
from .pipeline import _track_auto_root, input_fingerprint, run_pipeline
from .sources.io import StageStore


def curate(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
           min_quality: float = 20.0, langs: tuple[str, ...] = ("en",),
           checkpoint_root: str | None = None,
           url_col: str = "url", text_col: str = "text",
           with_accounting: bool = True, keeper: str = "min",
           benchmark: DataFrame | None = None,
           decontam_n: int = 13,
           robots: DataFrame | None = None) -> dict:
    """Returns {"curated": DataFrame, "accounting": dict of step -> rows}.

    ``robots``: optional (domain, robots_txt) frame — when given, a
    robots.txt compliance filter runs FIRST: it is the cheapest stage (a
    broadcast anti-join, no shuffle of the corpus) and disallowed pages
    must not survive as near-dup keepers, so everything downstream
    shrinks.

    ``benchmark``: optional evaluation-set frame (needs ``text_col``) —
    when given, a final GPT-3-style decontamination pass drops survivors
    sharing any ``decontam_n``-gram with it (operators.decontam). Last in
    the chain: it must see exactly the docs that would otherwise ship, and
    its cost scales with the SURVIVORS, not the raw crawl.

    ``keeper``: which member survives a near-dup cluster — "min" (the
    lexicographic-min url; deterministic and cheapest) or "best" (the
    highest-quality-score member via near_dedup_corpus_best; what a
    training pipeline usually wants). Keeper choice changes WHICH text
    survives, so it runs before the quality/language filters.

    Order matters at scale: exact dedup first (cheapest, biggest shrink on
    crawl data), near-dup second (most expensive — runs on the exact-
    deduped survivors), cheap per-row filters last (they don't reduce the
    near-dup work, but running them first would change which cluster
    member survives — keeper selection must see the full cluster).

    The exact-dedup output is checkpointed through the same StageStore as
    the pipeline stages: it has three downstream consumers (signatures,
    verification's text lookup, keeper anti-join) that must not each
    re-plan the dedup anti-join, and it makes the whole curation resumable
    per stage. Step row counts are Observations on jobs that run anyway,
    but for the one after_quality_lang count that ``with_accounting=False``
    skips (the counts are monitoring, not semantics).

    Stage keys fold an INPUT fingerprint in with the config hash: re-running
    against the same persistent checkpoint dir with a different --input must
    re-run the stages, not silently return the old corpus's output. An
    auto-created (None) checkpoint root is removed at interpreter exit.
    """
    if checkpoint_root is None:
        import tempfile

        checkpoint_root = tempfile.mkdtemp(prefix="mhs_curate_")
        _track_auto_root(checkpoint_root)
    stage_key = f"{cfg.config_hash()}-{input_fingerprint(docs)}"
    if robots is not None:
        # the checkpointed stages depend on the robots policy too: a
        # re-run with a different policy must re-run, not resume
        stage_key += f"-r{input_fingerprint(robots)}"
    store = StageStore(spark, checkpoint_root, stage_key)

    # a manifest written before the input counts rode the write lacks
    # them: that stage re-runs once rather than lose them from accounting
    if store.exists("exact_dedup") and "input" in store.manifest("exact_dedup")["metrics"]:
        exact = store.read("exact_dedup")
    else:
        # input / after_robots ride the dedup write into its manifest
        seen = {"input": Observation()}
        docs = docs.observe(seen["input"], F.count(F.lit(1)).alias("rows"))
        if robots is not None:
            seen["after_robots"] = Observation()
            docs = filter_robots_disallowed(docs, robots, url_col=url_col).observe(
                seen["after_robots"], F.count(F.lit(1)).alias("rows"))
        exact = store.write(
            "exact_dedup", exact_dedup_corpus(docs, id_col=url_col, text_col=text_col),
            metrics=lambda: {k: o.get["rows"] for k, o in seen.items()})
    exact_manifest = store.manifest("exact_dedup")
    accounting = {"after_exact_dedup": exact_manifest["rows"]}

    if keeper not in ("min", "best"):
        raise ValueError(f"keeper must be 'min' or 'best', got {keeper!r}")
    # curation consumes only clusters / is_dup from the pipeline, so the
    # 6-sigma est pre-gate is safe here and skips exact-verifying the ~98%
    # of LSH candidates that are random band collisions (verify.py)
    result = run_pipeline(spark, exact, cfg, checkpoint_root=checkpoint_root,
                          url_col=url_col, text_col=text_col,
                          stage_key=stage_key,
                          est_gate=est_prefilter_gate(cfg))
    if keeper == "best":
        near = near_dedup_corpus_best(exact, result["clusters"],
                                      quality_score_expr(text_col),
                                      url_col=url_col)
    else:
        near = near_dedup_corpus(exact, result["clusters"], url_col=url_col)

    # per-row filters apply INLINE on the survivors (pure Column
    # expressions): joining reduced (url, score) frames back would re-plan
    # the near-dedup anti-join once per join side — three corpus scans +
    # three anti-join shuffles at 100 TB for what is a narrow map
    keep = ((quality_score_expr(text_col) >= min_quality)
            & detected_lang_expr(text_col).isin(*langs))
    curated = near.filter(keep)
    if benchmark is not None:
        from .operators.decontam import decontaminate

        curated = decontaminate(curated, benchmark, n=decontam_n,
                                id_col=url_col, text_col=text_col,
                                bench_text_col=text_col)
    if with_accounting:
        accounting.update(exact_manifest["metrics"])
        # one count job; the near-dedup survivors are observed on its way
        survivors = Observation()
        accounting["after_quality_lang"] = near.observe(
            survivors, F.count(F.lit(1)).alias("rows")).filter(keep).count()
        accounting["after_near_dedup"] = survivors.get["rows"]
        if benchmark is not None:
            accounting["after_decontam"] = curated.count()
    return {"curated": curated, "accounting": accounting,
            "clusters": result["clusters"]}
