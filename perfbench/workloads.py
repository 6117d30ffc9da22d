"""Workload definitions and the seeded choices the benchmark makes.

Each workload is a closed loop: one driver thread runs one query at a
time, and every query ends in a full-plan action. ``--seed`` sets only
the query order within each pass and, for ``stream_ingest``, how the
input rows are split into files. The tables themselves come from
:mod:`datagen` with a fixed data seed, so the stored output hashes
hold for every ``--seed``. Why each workload exists is recorded in
``BENCHMARK.json``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...] = ()
    ingests: tuple[str, ...] = ()
    # build the program's shared melt cache during set-up
    warm_melt: bool = False
    # start the Python worker pool during set-up (Arrow UDF workloads)
    python_workers: bool = False
    # timed passes per run (whatever --seconds says: the median of a
    # fixed count does not jump when a pass lands either side of the
    # limit). One is enough where the pass CPU repeats within 8% from run
    # to run; driver-side construction is still JIT-compiling through
    # the first passes, so one such pass moves 15% and the median of
    # two 7%. No more: 70 runs must fit in an hour on a loaded host.
    passes: int = 1

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries or self.ingests


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "geochem_models",
            queries=(
                "thermometer_putirka2008_15",
                "unit_conversions",
                "volatile_saturation_im",
                "kd_toplis_iteration",
            ),
            warm_melt=True,
            python_workers=True,
        ),
        Workload(
            "iterative_driver",
            queries=("pagerank", "kcore", "label_propagation"),
            passes=2,
        ),
        Workload(
            "stream_ingest",
            ingests=("hll", "histogram", "stats", "cms"),
        ),
    )
}


@dataclass(frozen=True)
class Ingest:
    """One ``streaming`` ingest of ``stream_ingest``: the public
    function, its extra arguments, and the input columns it reads."""

    function: str
    table: str
    columns: tuple[str, ...]
    kwargs: tuple[tuple[str, float], ...] = ()


# fixed histogram edges: value is exponential with mean 50, so [0, 100)
# holds most rows and the tail lands in the edge bins
HISTOGRAM = (("lo", 0.0), ("hi", 100.0), ("n_bins", 64))
INGESTS: dict[str, Ingest] = {
    "hll": Ingest("streaming_hll_ingest", "events",
                  ("event_type", "user_id")),
    "histogram": Ingest("streaming_histogram_ingest", "events",
                        ("event_type", "value"), HISTOGRAM),
    "stats": Ingest("streaming_stats_ingest", "lineitem",
                    ("l_orderkey", "l_quantity", "l_returnflag",
                     "l_shipdate")),
    "cms": Ingest("streaming_cms_ingest", "documents", ("doc_id", "text")),
}
STREAM_FILES = 2


def pass_order(items: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass: a fresh shuffle per pass, so no
    query always runs right after the same neighbour."""
    order = list(items)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def split_rows(n_rows: int, n_files: int, seed: int) -> list[np.ndarray]:
    """Seeded split of ``range(n_rows)`` into ``n_files`` non-empty
    sorted index sets of varying size: a seeded permutation cut at
    seeded points. Every row lands in exactly one file."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_rows)
    cuts = np.sort(rng.choice(np.arange(1, n_rows), n_files - 1,
                              replace=False))
    return [np.sort(part) for part in np.split(perm, cuts)]
