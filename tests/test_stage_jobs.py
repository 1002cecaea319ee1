"""Every pipeline stage costs its write job and nothing else: StageStore
manifests, curate accounting and the CC fast path submit no probe jobs."""

from pyspark.sql import functions as F

from minhashsketch_spark.config import PipelineConfig
from minhashsketch_spark.curate import curate
from minhashsketch_spark.operators.connected_components import connected_components
from minhashsketch_spark.pipeline import verified_stage
from minhashsketch_spark.sources.corpus import corpus_dataframe
from minhashsketch_spark.sources.io import StageStore, write_table

CFG = PipelineConfig(k=9, m=1, t=32, bands=8, rows=4, seed=7, threshold=0.7)


def _jobs(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn`` submits."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_store_write_costs_only_the_write(spark, tmp_path):
    docs, _ = corpus_dataframe(spark, n_docs=150, seed=21)
    df = (docs.repartition(4, "url")
          .select("url", F.length("text").alias("n_chars"), "lang"))
    plain = _jobs(spark, "plain-write",
                  lambda: write_table(df, str(tmp_path / "plain")))
    store = StageStore(spark, str(tmp_path / "store"), "h")
    staged = _jobs(spark, "stage-write", lambda: store.write(
        "s", df, metrics={"m": 1},
        extra_aggs={"n_en": F.sum((F.col("lang") == "en").cast("long"))}))
    assert plain >= 1 and staged <= plain
    m = store.manifest("s")
    assert m["rows"] == 150 == sum(m["partition_rows"])
    assert m["partitions"] == len(m["partition_rows"])
    n_en = docs.filter(F.col("lang") == "en").count()
    assert m["metrics"] == {"m": 1, "n_en": n_en}
    # read back with the writer's schema, same rows
    out = store.read("s")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_curate_accounting_is_one_count(spark, tmp_path):
    """with_accounting=True adds exactly the jobs of ONE count of the
    curated frame; input / after_near_dedup come from Observations. Both
    runs resume every stage from one checkpoint root: a fresh run's own
    job count varies by one with AQE's runtime re-planning."""
    docs, _ = corpus_dataframe(spark, n_docs=150, seed=21)
    kw = dict(min_quality=10.0, langs=("en", "unknown"),
              checkpoint_root=str(tmp_path / "ck"))
    curate(spark, docs, CFG, with_accounting=False, **kw)
    off = _jobs(spark, "acc-off", lambda: curate(
        spark, docs, CFG, with_accounting=False, **kw))
    res = {}
    on = _jobs(spark, "acc-on", lambda: res.update(curate(
        spark, docs, CFG, with_accounting=True, **kw)))
    one_count = _jobs(spark, "curated-count", lambda: res["curated"].count())
    assert on - off == one_count
    acc = res["accounting"]
    assert acc["input"] == 150
    assert acc["after_quality_lang"] == res["curated"].count()
    losers = res["clusters"].filter(F.col("url") != F.col("cluster_id")).count()
    assert acc["after_near_dedup"] == acc["after_exact_dedup"] - losers


def test_curate_observed_counts_equal_plain_counts(spark, tmp_path):
    """The Observations behind input / after_robots equal plain counts,
    also on a corpus with no exact duplicates (empty loser set)."""
    from minhashsketch_spark.operators.robots import filter_robots_disallowed

    docs, _ = corpus_dataframe(spark, n_docs=120, seed=21)
    docs = docs.dropDuplicates(["text"]).localCheckpoint()
    robots = spark.createDataFrame(
        [("site1.example", "User-agent: *\nDisallow: /page")],
        "domain string, robots_txt string")
    acc = curate(spark, docs, CFG, min_quality=10.0, langs=("en", "unknown"),
                 checkpoint_root=str(tmp_path / "ck"), robots=robots)["accounting"]
    n_robots = filter_robots_disallowed(docs, robots).count()
    assert acc["input"] == docs.count()
    assert acc["after_robots"] == n_robots == acc["after_exact_dedup"] < acc["input"]


def test_curate_reruns_exact_dedup_without_input_counts(spark, tmp_path):
    """An exact_dedup manifest without the observed input count (written
    before the count rode the write) re-runs that stage, so a resumed
    curate still reports ``input``."""
    import glob
    import json

    docs, _ = corpus_dataframe(spark, n_docs=120, seed=22)
    root = str(tmp_path / "ck")
    kw = dict(min_quality=10.0, langs=("en", "unknown"), checkpoint_root=root)
    first = curate(spark, docs, CFG, **kw)["accounting"]
    (path,) = glob.glob(f"{root}/*/exact_dedup.manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["metrics"] = {}
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert curate(spark, docs, CFG, **kw)["accounting"] == first
    with open(path) as f:
        assert json.load(f)["metrics"] == {"input": 120}


def test_gates_closer_than_1e6_get_distinct_stages():
    g = 0.45697222
    assert f"{g:.6f}" == f"{g + 1e-9:.6f}"  # the former key collided here
    assert verified_stage(g) != verified_stage(g + 1e-9)
    assert verified_stage(None) == verified_stage(0.0) == "verified"


def test_cc_zero_edges_is_empty_frame(spark):
    edges = spark.createDataFrame([], "url_a string, url_b string")
    out = connected_components(edges)
    assert out.schema.simpleString() == "struct<url:string,cluster_id:string>"
    assert out.count() == 0
    # and the fast path still clusters a small graph
    edges = spark.createDataFrame([("b", "c"), ("a", "b"), ("x", "y")],
                                  "url_a string, url_b string")
    got = {r["url"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
