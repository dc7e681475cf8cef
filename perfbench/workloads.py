"""Workload definitions and the seeded query schedule.

Each workload is a fixed list of catalog queries run against the fixed
tables under ``perfbench/data/<sf>``. The seed permutes the query order
inside every warm pass and changes nothing else: not the query set, not
the tables, not the number of executions per query. The cold pass runs
in the listed order: first-touch costs (JIT, Python worker start) fall
on whichever query runs first, so a permuted cold pass would make
``cold_pass_s`` depend on the seed (about 20% on ``vectors``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, "data")
DEFAULT_SF = "sf0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "vectors",
            ("q_hyperplane_est",),
            "a random-hyperplane sketch: a mapInPandas kernel whose "
            "output is persisted, tracked and joined with itself, so the "
            "Python/Arrow boundary dominates and the re-execution reads "
            "the cache",
        ),
        Workload(
            "pairs_graph",
            ("q_kcore",),
            "an iterative k-core peel: a chain of exchanges and window "
            "rounds, a partial degree aggregate and many single-task "
            "stages, with no Python node",
        ),
    )
}


def data_dir(sf: str = DEFAULT_SF) -> str:
    """Directory of the fixed input tables at scale ``sf``."""
    return os.path.join(DATA_ROOT, sf)


class Schedule:
    """Query order: the listed order for the cold pass, then one seeded
    permutation of the workload's queries per warm pass."""

    def __init__(self, workload: Workload, seed: int):
        self.queries = workload.queries
        self._rng = random.Random(seed)

    def cold_pass(self) -> list[str]:
        return list(self.queries)

    def next_pass(self) -> list[str]:
        return self._rng.sample(self.queries, len(self.queries))
