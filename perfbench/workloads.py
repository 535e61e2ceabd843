"""The benchmark's workloads: which registry queries each one runs, and
the query order of every pass. Why each workload runs what it runs is in
BENCHMARK.json and README.md.

Each query is named with its registry family (the `graft.operators`
object that defines it), which splits `operators.build_s` by family.
A run makes one cold pass and a fixed number of warm passes over the
list; the count is chosen from `--seconds` and the workload's nominal
pass times on a 4-core box, so a run does the same work on every commit
and the warm-sample count, and with it the tail percentile, is the same
on every run.
"""
import random
from dataclasses import dataclass


MIN_WARM = 2


@dataclass(frozen=True)
class Workload:
    queries: tuple        # (registry name, family), cold-pass order
    cold_s: float         # nominal cold pass on 4 cores, hygiene included
    warm_s: float         # nominal warm pass on 4 cores, hygiene included

    @property
    def names(self):
        return [q for q, _ in self.queries]

    @property
    def families(self):
        return dict(self.queries)

    def warm_passes(self, seconds):
        """Warm passes that fit in `seconds` after the cold pass."""
        return max(MIN_WARM, int((seconds - self.cold_s) // self.warm_s))

    def pass_orders(self, seed, seconds):
        """Query order of the cold pass and of each warm pass.

        The cold pass runs in the listed order: its time is mostly the
        first query's JIT and class loading, so a permuted cold pass made
        `cold_s` depend on which query happened to come first. Each warm
        pass is a permutation drawn from the seed alone."""
        rng = random.Random(seed)
        orders = [list(self.names)]
        for _ in range(self.warm_passes(seconds)):
            order = list(self.names)
            rng.shuffle(order)
            orders.append(order)
        return orders


WORKLOADS = {
    "rdf_etl": Workload(
        queries=(("q244_sparql_modify", "rdf"), ("q219_sparql_union", "rdf"),
                 ("q22_fix_keyword", "scalar")),
        cold_s=14.4, warm_s=3.35),
    "fixpoint": Workload(
        queries=(("q204_sparql_path_plus", "rdf"), ("q230_sparql_grouped_path", "rdf"),
                 ("q47_transitive_path", "rdf")),
        cold_s=13.9, warm_s=4.0),
}
