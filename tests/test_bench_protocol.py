"""Measurement-protocol tests: the `layers` record of `bench.measure`,
job-group coverage of the thread-pooled queries it reads, and the
scale-probe's shared-melt cache reset."""

import pytest

import bench
from magmapandas_spark.relational import suite
from perfbench.layers import StatusReader

SF = "/root/testdata/sf0.001"
LAYER_KEYS = {"build_s", "exec_s", "plan_ms", "jobs_build", "jobs_exec",
              "stages", "cpu_s", "shuffle_mb", "spill_mb"}


# -- bench.measure -----------------------------------------------------

def test_measure_layers_schema(spark):
    reader = StatusReader(spark)
    qmap = suite.queries()
    got = {}
    for name in ("pricing_summary", "dedup_verified"):
        wall, layers = bench.measure(spark, reader, name, qmap[name], SF)
        assert set(layers) == LAYER_KEYS
        assert wall == pytest.approx(layers["build_s"] + layers["exec_s"],
                                     abs=1e-3)
        assert layers["jobs_exec"] > 0 and layers["stages"] > 0
        assert layers["plan_ms"] > 0
        got[name] = layers
    # pricing_summary builds lazily: its one construction job is the
    # parquet schema read; dedup_verified also checkpoints eagerly
    assert got["pricing_summary"]["jobs_build"] == 1
    assert got["dedup_verified"]["jobs_build"] > 0
    # a second run counts only its own jobs (a warm run may launch
    # fewer), and plan_ms is opt-out
    _, again = bench.measure(spark, reader, "dedup_verified",
                             qmap["dedup_verified"], SF, plan=False)
    assert set(again) == LAYER_KEYS - {"plan_ms"}
    assert 0 < again["jobs_build"] <= got["dedup_verified"]["jobs_build"]


class CountingReader:
    """A ``StatusReader`` stand-in that counts its calls."""

    def __init__(self):
        self.calls = {"drain": 0, "jobs_in_group": 0, "exec_totals": 0}

    def drain(self):
        self.calls["drain"] += 1

    def jobs_in_group(self, group):
        self.calls["jobs_in_group"] += 1
        return []

    def exec_totals(self, job_ids):
        self.calls["exec_totals"] += 1
        return {"stages": 0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0}


def test_measure_reads_counters_only_for_a_new_minimum(spark):
    """A sample no faster than the query's best so far reads no
    counter: its layers would be discarded."""
    reader = CountingReader()

    def tiny(spark, sf_dir):
        return spark.range(3)

    _, layers = bench.measure(spark, reader, "tiny", tiny, SF,
                              plan=False)
    assert set(layers) == LAYER_KEYS - {"plan_ms"}
    assert reader.calls == {"drain": 1, "jobs_in_group": 2,
                            "exec_totals": 1}
    slower, none = bench.measure(spark, reader, "tiny", tiny, SF,
                                 best=0.0)
    assert none is None and slower > 0
    assert reader.calls == {"drain": 1, "jobs_in_group": 2,
                            "exec_totals": 1}
    _, again = bench.measure(spark, reader, "tiny", tiny, SF, plan=False,
                             best=60.0)
    assert again is not None and reader.calls["drain"] == 2


@pytest.mark.parametrize("name", ["lsh_recall_eval",
                                  "minhash_xxhash_recall_bound",
                                  "er_golden_multipass"])
def test_thread_pooled_build_jobs_stay_in_group(spark, name):
    """These queries submit work from driver threads: every job their
    construction launches must carry the caller's job group, or a
    per-query record undercounts them."""
    sc = spark.sparkContext
    reader = StatusReader(spark)

    def probe(group: str) -> list[int]:
        sc.setJobGroup(group, "probe")
        spark.range(1).collect()
        reader.drain()
        return reader.jobs_in_group(group)

    first = max(probe(f"{name}-probe-before"))
    sc.setJobGroup(f"{name}-build-only", name)
    suite.queries()[name](spark, SF)
    last = min(probe(f"{name}-probe-after"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    built = reader.jobs_in_group(f"{name}-build-only")
    assert built and built == list(range(first + 1, last))


# -- suite.reset_melt_cache --------------------------------------------

def test_reset_melt_cache_drops_memo_and_rebuilds(spark):
    sf = "/root/testdata/sf0.001"
    gf1 = suite.synthetic_melt(spark, sf)
    gf2 = suite.synthetic_melt(spark, sf)
    assert gf1.df is gf2.df  # memoized
    assert (id(spark), sf) in suite._melt_cache
    suite.reset_melt_cache(spark, sf)
    assert (id(spark), sf) not in suite._melt_cache
    gf3 = suite.synthetic_melt(spark, sf)
    assert gf3.df is not gf1.df  # genuinely rebuilt
    # reset on a cold memo is a no-op, not an error
    suite.reset_melt_cache(spark, "/no/such/dir")
    # restore the shared cache for following tests
    gf3.df.count()
